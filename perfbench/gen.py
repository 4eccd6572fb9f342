"""Seeded input generators for the benchmark.

Everything the program sees in a benchmark run comes from here, from one
integer seed: the ten fixture tables the query library reads, the Hacker
News forest the archive workload serves through ``MockTransport``, and the
split of the documents table into ingest-gate micro-batches.  The same
seed gives byte-identical payloads.

Fixture tables follow the schemas in FIXTURES.md §B (column names, Arrow
types, timestamp[us] without time zone) at a chosen scale factor; row
counts scale as TESTDATA.md lists them (lineitem = 6M x sf).

HN forest shape.  These rates are estimates of the public HN item stream
made for this benchmark; they are not fitted to the HN item dataset, and
no source for them is checked here:

* threads are stories (98 %), jobs (1 %, never commented) and polls (1 %,
  each with 3-5 pollopts);
* 60 % of stories get no comments (submissions that never reach the
  front page); a commented story, and every poll, gets Geometric(mean 5)
  top-level comments (at least one), and a comment at depth d >= 1 gets
  Poisson(1.6 * 0.6 ** (d - 1)) replies, so fan-out shrinks geometrically
  with depth; depth is capped at 8;
* thread start times are uniform over a 30-day window, each reply comes
  1-3600 s after its parent, and ids are assigned in time order, so a
  parent's id is always smaller than its children's and threads
  interleave in id space the way live HN traffic does;
* 2 % of ids are API nulls (never stored), 3 % of comments are deleted
  (no author, no text) and 2 % are dead.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "zh", "de", "fr", "es"]
_LANG_P = [0.42, 0.15, 0.14, 0.14, 0.15]
_US_PER_DAY = 86_400_000_000


def _rng(seed: int, stream: int) -> np.random.Generator:
    """One independent generator per table, so adding rows to one table
    never shifts another's values."""
    return np.random.default_rng([seed, stream])


def _days(rng, n, start: dt.date, end: dt.date) -> np.ndarray:
    span = (end - start).days
    base = (start - dt.date(1970, 1, 1)).days
    return (base + rng.integers(0, span + 1, n)) * _US_PER_DAY


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def fixture_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten library tables at scale factor ``sf``."""
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    r = _rng(seed, 1)
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(r, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(_SEGMENTS)[r.integers(0, 5, n_cust)],
    })

    r = _rng(seed, 2)
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(r, n_supp, -999.99, 9999.99),
    })

    r = _rng(seed, 3)
    keys = np.arange(n_part, dtype="int64")
    adj = np.array(_P_ADJ)[r.integers(0, len(_P_ADJ), n_part)]
    noun = np.array(_P_NOUN)[r.integers(0, len(_P_NOUN), n_part)]
    out["part"] = pa.table({
        "p_partkey": keys,
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(_P_TYPES)[r.integers(0, 6, n_part)],
        "p_size": r.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 1),
    })

    r = _rng(seed, 4)
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": r.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": _money(r, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _ts(_days(r, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1))),
        "o_orderpriority": np.array(_PRIORITIES)[r.integers(0, 5, n_ord)],
    })

    r = _rng(seed, 5)
    out["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, n_ord, n_line).astype("int64"),
        "l_partkey": r.integers(0, n_part, n_line).astype("int64"),
        "l_suppkey": r.integers(0, n_supp, n_line).astype("int64"),
        "l_linenumber": r.integers(1, 8, n_line).astype("int32"),
        "l_quantity": r.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(r, n_line, 900.0, 105_000.0),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
        "l_shipdate": _ts(_days(r, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4))),
    })

    r = _rng(seed, 6)
    t0 = (dt.date(2024, 1, 1) - dt.date(1970, 1, 1)).days * _US_PER_DAY
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts(t0 + np.sort(r.integers(0, 30 * _US_PER_DAY, n_ev))),
        "user_id": r.integers(0, n_users, n_ev).astype("int64"),
        "event_type": np.array(_EVENT_TYPES)[r.integers(0, 5, n_ev)],
        "value": _money(r, n_ev, 0.01, 500.0),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
    })

    out["documents"] = _documents(_rng(seed, 7), n_docs)

    r = _rng(seed, 8)
    vecs = r.standard_normal((n_vec, 64)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype="int64"),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": r.integers(0, 10, n_vec).astype("int32"),
    })
    return out


def _documents(r: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words documents of 10-99 words; 5 % are an earlier document
    with ' dup' appended, the near-duplicate load the dedup gates see."""
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and r.random() < 0.05:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            words = np.array(_WORDS)[r.integers(0, len(_WORDS), int(r.integers(10, 100)))]
            texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": np.array(_LANGS)[r.choice(len(_LANGS), n, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })


def write_fixtures(tables: dict[str, pa.Table], out_dir: str) -> None:
    """Write each table as ``<out_dir>/<name>.parquet`` (one snappy file,
    the layout ``tables.load`` reads)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")


# --------------------------------------------------------------------------
# Hacker News forest for the archive workload
# --------------------------------------------------------------------------

_T_BASE = 1_700_000_000
_MAX_DEPTH = 8


def hn_forest(seed: int, n_threads: int) -> tuple[dict[int, dict | None], dict[int, list[int]]]:
    """A seeded HN id space served by ``MockTransport``.

    Returns ``(wire, threads)``: ``wire`` maps every id in ``1..max`` to
    its API payload (``None`` for an API null) and ``threads`` maps each
    thread root id to the ids a rendered page of it must show (the root,
    every comment below it at any depth, and a poll's options)."""
    r = _rng(seed, 9)
    nodes: list[dict] = []  # time-ordered later; parents referenced by index

    def add(node, parent_idx):
        node["_parent"] = parent_idx
        nodes.append(node)
        return len(nodes) - 1

    for t in range(n_threads):
        start = int(r.integers(0, 30 * 86_400))
        kind = r.choice(["story", "poll", "job"], p=[0.98, 0.01, 0.01])
        root = add({"type": str(kind), "time": _T_BASE + start, "_thread": t}, None)
        if kind == "job" or (kind == "story" and r.random() < 0.6):
            continue
        if kind == "poll":
            for _ in range(int(r.integers(3, 6))):
                add({"type": "pollopt", "time": _T_BASE + start + 1, "_thread": t,
                     "_poll": root}, None)
        frontier = [(root, 0)]
        while frontier:
            idx, depth = frontier.pop()
            if depth >= _MAX_DEPTH:
                continue
            n_kids = r.geometric(0.2) if depth == 0 else r.poisson(1.6 * 0.6 ** (depth - 1))
            for _ in range(int(n_kids)):
                c = add({"type": "comment",
                         "time": nodes[idx]["time"] + int(r.integers(1, 3601)),
                         "_thread": t}, idx)
                frontier.append((c, depth + 1))

    # ids in time order (ties by creation order), with 2 % API-null gaps
    order = sorted(range(len(nodes)), key=lambda i: (nodes[i]["time"], i))
    ids: dict[int, int] = {}
    next_id = 1
    for i in order:
        while r.random() < 0.02:
            next_id += 1
        ids[i] = next_id
        next_id += 1
    wire: dict[int, dict | None] = {k: None for k in range(1, next_id)}
    threads: dict[int, list[int]] = {}
    roots = {}
    for i in order:
        n = nodes[i]
        iid = ids[i]
        w: dict = {"id": iid, "type": n["type"], "time": n["time"]}
        if n["_parent"] is not None:
            w["parent"] = ids[n["_parent"]]
        if "_poll" in n:
            w["poll"] = ids[n["_poll"]]
        u = r.random()
        if n["type"] == "comment" and u < 0.03:
            w["deleted"] = True
        else:
            w["by"] = f"user{int(r.integers(0, 500))}"
            words = np.array(_WORDS)[r.integers(0, len(_WORDS), int(r.integers(5, 40)))]
            if n["type"] in ("story", "poll", "job"):
                w["title"] = " ".join(words[:6])
                w["score"] = int(r.integers(1, 500))
                if n["type"] == "story" and r.random() < 0.7:
                    w["url"] = f"https://example{int(r.integers(0, 50))}.com/{iid}"
                else:
                    w["text"] = "<p>" + " ".join(words)
            else:
                w["text"] = " ".join(words) + "<p>" + " ".join(words[:3])
                if n["type"] == "pollopt":
                    w["score"] = int(r.integers(0, 200))
            if n["type"] == "comment" and u < 0.05:
                w["dead"] = True
        wire[iid] = w
        if n["_parent"] is None and "_poll" not in n:
            roots[n["_thread"]] = iid
            threads[iid] = [iid]
    for i in order:
        n = nodes[i]
        if n["_parent"] is not None or "_poll" in n:
            threads[roots[n["_thread"]]].append(ids[i])
    for root, members in threads.items():
        kids = sum(1 for m in members if wire[m]["type"] == "comment")
        if wire[root]["type"] in ("story", "poll"):
            wire[root]["descendants"] = kids
        members.sort()
    return wire, threads


def thread_depths(wire: dict[int, dict | None], threads: dict[int, list[int]]) -> dict[int, int]:
    """Each thread root's depth: how many comment levels go below it."""
    depth: dict[int, int] = {}
    for i in sorted(wire):  # parents precede children in id order
        w = wire[i]
        if w is not None:
            depth[i] = depth[w["parent"]] + 1 if "parent" in w else 0
    return {root: max(depth[i] for i in ids) for root, ids in threads.items()}


def gate_batches(seed: int, doc_ids: list[int], n_batches: int) -> list[list[int]]:
    """Seeded split of the documents into ``n_batches`` disjoint
    micro-batches of near-equal size (a shuffled deal, so each batch mixes
    near-duplicates with their originals)."""
    perm = _rng(seed, 10).permutation(np.asarray(doc_ids, dtype="int64"))
    return [sorted(int(x) for x in perm[b::n_batches]) for b in range(n_batches)]
