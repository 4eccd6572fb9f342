"""The benchmark's workloads, driven through the program's public functions.

Each workload generates its inputs from the seed, sets up, runs passes of
ops through a ``Tracer`` (perfbench/run.py), and checks every op's output.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import re
import shutil
import statistics

import duckdb

from bench import _fixture_md5s
from pyspark.sql import functions as F

from hnarchive_spark.functions.render import render_page
from hnarchive_spark.plans.release import run_release
from hnarchive_spark.plans.registry import all_oracles, all_queries
from hnarchive_spark.sources.hn_api import MockTransport, fetch_items
from hnarchive_spark.sources.contamination_index import build_contamination_index
from hnarchive_spark.sources.items_store import ItemsStore
from hnarchive_spark.sources.minhash_index import build_minhash_index
from hnarchive_spark.streaming.index_maint import maintenance_stats
from hnarchive_spark.streaming.ingest import maintain_ingest
from hnarchive_spark.tables import load
from perfbench import gen
from tests.test_oracle_parity import _norm_rows  # the parity suite's normalisation


_FATES = ("ingest_unscored", "ingest_quality_rejected", "ingest_contaminated",
          "ingest_neardup", "ingest_merged", "ingest_skipped")


class _Workload:
    fetch_parallelism = 0
    extra_checks = 0

    def __init__(self, seed: int, work: str, nproc: int):
        self.seed = seed
        self.work = work
        self.nproc = nproc
        self.spark = None
        self.probed: dict[str, float] = {}  # per-layer numbers read from the workload's state
        self.probe_recs: dict[str, list[dict]] = {}  # probe_layers' op records, by layer

    def rebind(self, spark) -> None:
        self.spark = spark

    def probe_layers(self, tracer) -> list[str]:
        """Traced-run-only calls into layers the timed ops do not reach;
        returns the failed checks."""
        return []


class QueryWorkload(_Workload):
    """Passes over library queries at sf0.01 generated from the seed.

    ``SERVE`` are short queries whose time is mostly Spark execution and
    per-query fixed cost (q_bm25_indexed's index is built by the warm
    pass, inside ``setup_s``; the index layer is timed on its own by the
    two builds in ``probe_layers``).  ``PRELUDE`` are queries whose
    builders launch many eager jobs before the final plan exists.  Each
    query's first measured result is compared with its DuckDB oracle on
    the same generated tables."""

    SF = 0.01
    PASS_S = 7.0  # one pass, warm, on a 4-core box
    WARM_PASSES = 1
    # nine queries and three passes: 27 samples, so the median and the tail
    # percentile are each the middle run of one query, not the boundary
    # between two queries' latencies
    SERVE = ["q_flagship", "q_groupby_agg", "q_window_rank", "q_asof_join", "q_range_join",
             "q_children_sorted", "q_bm25_indexed", "q_url_dedup"]
    PRELUDE = ["q_pagerank"]

    def make_inputs(self) -> dict:
        self.data = os.path.join(self.work, "data")
        gen.write_fixtures(gen.fixture_tables(self.seed, self.SF), self.data)
        self.queries = all_queries()
        self.oracles = all_oracles()
        self.first: dict[str, dict] = {}
        self.ledger: dict = {}
        return _fixture_md5s(self.data)

    def setup(self, spark) -> None:
        self.spark = spark

    def run_pass(self, tracer, p: int) -> list[dict]:
        # a fixed order: a seeded order moved a run's median by ~10 %
        names = self.SERVE + self.PRELUDE
        recs = []
        for i, name in enumerate(names):
            def build(name=name):
                return self.queries[name](self.spark, self.data)

            def execute(df):
                return df.columns, [tuple(r) for r in df.collect()]

            rec = tracer.run("query", name, (p, i), build, execute)
            if "result" in rec:
                self.first.setdefault(name, rec)
            recs.append(rec)
        for r in recs:  # results are kept only for the check below
            if self.first.get(r["name"]) is not r:
                r.pop("result", None)
        return recs

    def discard_results(self) -> None:
        self.first.clear()

    GATE_BATCHES = 8

    def probe_layers(self, tracer) -> list[str]:
        """``tables.load`` on all ten tables, the two persisted indexes the
        ingest gate probes (contamination and MinHash), then the curation
        verbs over the generated documents: one micro-batch through a
        ``maintain_ingest`` closure with all four gates on (the shape of
        tools/ingest_gate_probe.py) and one ``run_release``.  A gate batch
        (~12 s) and a release (~9 s) are too slow to time as ops in a run
        of this length, so they are traced here for their job, stage and
        task counts, and checked: ledger rows == sum of fates, and the
        release manifest's conservation law."""
        spark = self.spark
        loads = [tracer.run("load", t, ("load", t), lambda t=t: load(spark, self.data, t),
                            lambda df: None) for t in gen.TABLES]

        root = os.path.join(self.work, "curation")
        docs = load(spark, self.data, "documents").select("doc_id", "text")
        ids = [r[0] for r in docs.select("doc_id").collect()]
        batches = gen.gate_batches(self.seed, ids, self.GATE_BATCHES)
        # a disjoint synthetic eval set, so the contamination gate probes a
        # real index without rejecting the corpus
        evals = spark.range(64).select(
            (F.col("id") + 1_000_000).alias("doc_id"),
            F.concat_ws(" ", *[F.concat(F.lit(f"evw{j}x"), F.col("id").cast("string"))
                               for j in range(12)]).alias("text"))
        seed_batch = docs.filter(F.col("doc_id").isin(batches[0]))
        builds = [
            tracer.run("index", "contamination_index", ("index", "ct"), lambda: evals,
                       lambda df: build_contamination_index(spark, df, os.path.join(root, "ct"))),
            tracer.run("index", "minhash_index", ("index", "mh"), lambda: seed_batch,
                       lambda df: build_minhash_index(spark, df, os.path.join(root, "mh"))),
        ]
        store = os.path.join(root, "store")
        maintain_ingest(store, minhash_index_path=os.path.join(root, "mh"))(seed_batch, batch_id=0)
        gate = maintain_ingest(
            store, quality_threshold_e4=1, contamination_index_path=os.path.join(root, "ct"),
            contamination_threshold_e4=0, minhash_index_path=os.path.join(root, "mh"),
            jaccard_threshold=0.8)
        batch = tracer.run("ingest", "gate_batch", ("ingest", 1),
                           lambda: docs.filter(F.col("doc_id").isin(batches[1])),
                           lambda df: gate(df, batch_id=1))
        release = tracer.run("release", "release", ("release", 0), lambda: None,
                             lambda _: run_release(spark, self.data, os.path.join(root, "release")))
        self.probe_recs = {"tables.load": loads, "index.build": builds,
                           "ingest.batch": [batch], "release": [release]}
        self.extra_checks += 6
        failures = [f"{r['name']}: {r['error']}" for r in builds + [batch, release] if "error" in r]
        ledger = maintenance_stats(store)
        self.probed["ingest.ledger_rows"] = ledger["ingest_rows"]
        self.probed["ingest.ledger_merged"] = ledger["ingest_merged"]
        self.ledger = ledger
        if ledger["ingest_rows"] != sum(ledger.get(k, 0) for k in _FATES):
            failures.append(f"check:ledger_conservation: {ledger}")
        man = release.get("result")
        if man is not None:
            fates = man["fates"]
            raw = next(s["docs"] for s in man["stages"] if s["name"] == "raw")
            if not (man["conservation_ok"] and min(fates.values()) >= 0
                    and sum(fates.values()) == raw == len(ids)
                    and fates["selected"] == man["selected_rows_written"]):
                failures.append(f"check:release_conservation: {fates}")
        return failures

    def check(self, spark) -> list[str]:
        """Mark each op whose output is wrong; return failed run-level checks."""
        con = duckdb.connect()
        for t in gen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data}/{t}.parquet')")
        for name, rec in self.first.items():
            res = con.execute(self.oracles[name])
            want = _norm_rows([d[0] for d in res.description], res.fetchall())
            got = _norm_rows(*rec.pop("result"))
            if got != want:
                rec["error"] = (f"result differs from its DuckDB oracle "
                                f"({len(got[1])} rows vs {len(want[1])})")
        return []

    def detail(self, recs: list[dict]) -> dict:
        def share(names):
            rs = [r for r in recs if r["name"] in names]
            return sum(r["build_s"] for r in rs) / max(1e-9, sum(r["wall_s"] for r in rs))

        walls = [r["wall_s"] for r in recs]
        dev = max(abs(r["build_s"] + r["exec_s"] - r["wall_s"]) / r["wall_s"] for r in recs)
        out = {
            "queries_per_s": len(walls) / sum(walls),
            "build_share_serve": share(self.SERVE),
            "build_share_prelude": share(self.PRELUDE),
            "max_phase_vs_wall_dev": dev,
        }
        if self.ledger:
            out["ingest_ledger"] = self.ledger
        return out


class ArchiveWorkload(_Workload):
    """The reference's own traffic over a seeded HN forest.

    Setup fetches and merges ids ``1..BULK`` in one catch-up commit.  Each
    tick then fetches the next 200 ids (the reference's commit period)
    through ``MockTransport`` and merges them, and renders one stored story.
    One render per commit is a guess: the reference renders on demand and
    gives no read rate.  Readers are assumed to open a thread in proportion
    to its comments, so the page is drawn by the seed with weight = comment
    count, among stored stories whose comments go ``PAGE_DEPTH`` levels
    deep.  That depth is the median
    depth of a commented story in the generated forest, weighted by comment
    count or not (perfbench/tests/test_perfbench_gen.py checks it).  It is
    held fixed because a page costs one Spark round per tree level: with
    free depths a run's median would depend on which depths the seed drew.
    Checks: every page shows exactly the generator's thread ids, and the
    store's count and ``latest_id`` match the generator."""

    THREADS = 800
    BULK = 2000
    COMMIT = 200
    PASS_S = 3.0  # one tick, warm, on a 4-core box: 7 ticks in 22 s
    # the first three ticks after the bulk commit are slower, on a 4-core box
    WARM_PASSES = 3
    PAGE_DEPTH = 5
    # The program's default of 100_000 ids per bucket buckets a 25M-item
    # store into 250 partitions, so a 200-id commit rewrites 1-2 of them.
    # This store holds 2000-4000 ids; 500 per bucket keeps that shape (a
    # commit rewrites 1-2 buckets of 4-8) instead of the whole store.
    BUCKET = 500
    RETRIEVED_AT = 1_800_000_000

    def make_inputs(self) -> dict:
        self.wire, self.threads = gen.hn_forest(self.seed, self.THREADS)
        self.max_id = max(self.wire)
        depth = gen.thread_depths(self.wire, self.threads)
        self.thread_end = {
            root: max(ids) for root, ids in self.threads.items()
            if self.wire[root]["type"] == "story" and depth[root] == self.PAGE_DEPTH
        }
        self.comments = {root: self.wire[root]["descendants"] for root in self.thread_end}
        self.fetch_parallelism = self.nproc
        self.extra_checks = 2
        self.next_id = self.BULK + 1
        self.pages: list[dict] = []
        payload = json.dumps(sorted(self.wire.items()), sort_keys=True).encode()
        return {"hn_forest": hashlib.md5(payload).hexdigest()}

    def _fetch(self, lo: int, hi: int):
        transport = MockTransport(items=self.wire, max_id=self.max_id)
        return fetch_items(self.spark, lo, hi, transport, parallelism=self.fetch_parallelism,
                           retrieved_at=self.RETRIEVED_AT)

    def setup(self, spark) -> None:
        self.spark = spark
        self.store_path = os.path.join(self.work, "store")
        shutil.rmtree(self.store_path, ignore_errors=True)
        self.store = ItemsStore(spark, self.store_path, bucket_size=self.BUCKET)
        self.store.merge_batch(self._fetch(1, self.BULK))

    def rebind(self, spark) -> None:
        self.spark = spark
        self.store = ItemsStore(spark, self.store_path)

    def run_pass(self, tracer, p: int) -> list[dict]:
        lo = self.next_id
        hi = min(self.max_id, lo + self.COMMIT - 1)
        if lo > self.max_id:
            raise RuntimeError(f"forest exhausted after {p} ticks; raise THREADS")
        self.next_id = hi + 1
        commit = tracer.run("commit", f"commit[{lo},{hi}]", p,
                            lambda: self._fetch(lo, hi), self.store.merge_batch)
        stored = sorted(r for r, end in self.thread_end.items() if end <= hi)
        root = random.Random(self.seed * 1000 + p).choices(
            stored, weights=[self.comments[r] for r in stored])[0]
        render = tracer.run("render", f"render[{root}]", p, self.store.read,
                            lambda items: render_page(items, root))
        page = render.pop("result", None)
        if page is not None:
            self.pages.append({"rec": render, "root": root,
                               "ids": sorted(int(x) for x in re.findall(r' id="(\d+)"', page))})
        commit.pop("result", None)
        return [commit, render]

    def discard_results(self) -> None:
        self.pages.clear()

    def check(self, spark) -> list[str]:
        for pg in self.pages:
            if pg["ids"] != self.threads[pg["root"]]:
                pg["rec"]["error"] = (f"page shows {len(pg['ids'])} ids, "
                                      f"thread has {len(self.threads[pg['root']])}")
        failures = []
        last = self.next_id - 1
        live = [i for i in range(1, last + 1) if self.wire[i] is not None]
        n = self.store.count()
        if n != len(live):
            failures.append(f"check:store_count: store holds {n} items, generator {len(live)}")
        latest = self.store.latest_id()
        if latest != live[-1]:
            failures.append(f"check:latest_id: store says {latest}, generator {live[-1]}")
        vdir = os.path.join(self.store_path, f"v{max(self.store.versions()):06d}")
        size = sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(vdir)
                   for f in fs if f.endswith(".parquet"))
        self.probed["items_store.bytes_per_item"] = size / max(1, n)
        return failures

    def detail(self, recs: list[dict]) -> dict:
        commits = [r["wall_s"] for r in recs if r["kind"] == "commit"]
        renders = [r["wall_s"] for r in recs if r["kind"] == "render"]
        return {
            "commit_p50_s": statistics.median(commits),
            "render_p50_s": statistics.median(renders),
            "backfill_ids_per_s": self.COMMIT * len(commits) / sum(commits),
        }


WORKLOADS = {"query": QueryWorkload, "archive": ArchiveWorkload}
