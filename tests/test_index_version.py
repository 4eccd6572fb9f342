"""The one version primitive (sources/index_version.py) on an index
family: a claim never lands on, or overwrites, a number a concurrent
builder holds; prune and heal never remove a live builder's version or
the published one; a failed compaction leaves the published version
current and its attempt healable."""

from __future__ import annotations

import json
import multiprocessing
import os
import time

from hnarchive_spark.sources.index_version import (
    claim_index_version,
    current_index_version,
    heal_torn_versions,
    index_root,
    prune_index_versions,
    torn_versions,
)

DEAD_PID = 2**22 + 999  # above the kernel's pid_max: never a live process


def _mark(vdir: str, pid: int) -> None:
    with open(os.path.join(vdir, "_BUILDING.json"), "w") as fh:
        json.dump({"pid": pid, "ts": time.time()}, fh)


def _tree(root: str) -> dict[str, bytes]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def _compacted_gram_index(spark, path: str) -> list:
    """A gram index built flat and compacted once (v1 published);
    returns its rows."""
    from conftest import SF_SMOKE

    from hnarchive_spark.sources.gram_index import build_gram_index, compact_gram_index
    from hnarchive_spark.tables import load

    build_gram_index(spark, load(spark, SF_SMOKE, "documents"), path, l=20)
    compact_gram_index(spark, path)
    assert current_index_version(path) == 1
    return _rows(spark, path)


def _rows(spark, path: str) -> list:
    return sorted(r["h"] for r in spark.read.parquet(index_root(path)).collect())


def test_compaction_skips_a_live_claim(spark, tmp_path):
    """A concurrent builder holds v2: the next compaction must claim v3
    and leave every byte of v2 alone."""
    from hnarchive_spark.sources.gram_index import compact_gram_index

    path = str(tmp_path / "grams")
    want = _compacted_gram_index(spark, path)
    held = os.path.join(path, "v2")
    os.makedirs(held)
    _mark(held, os.getpid())
    with open(os.path.join(held, "sentinel"), "w") as fh:
        fh.write("in-progress build")
    before = _tree(held)

    vdir = compact_gram_index(spark, path)
    assert vdir == os.path.join(path, "v3") and current_index_version(path) == 3
    assert _tree(held) == before
    assert _rows(spark, path) == want


def _claim_many(path: str, n: int, barrier) -> None:
    barrier.wait(timeout=60)
    for _ in range(n):
        claim_index_version(path)


def test_concurrent_claims_get_distinct_versions(tmp_path):
    """2 processes x 50 claims on one path: 100 distinct versions, each
    directory holding only its own claimer's marker."""
    path = str(tmp_path / "idx")
    ctx = multiprocessing.get_context("spawn")
    barrier = ctx.Barrier(2)
    procs = [ctx.Process(target=_claim_many, args=(path, 50, barrier)) for _ in range(2)]
    for p in procs:
        p.start()
    for p in procs:
        p.join(timeout=120)
    assert [p.is_alive() for p in procs] == [False, False]
    assert [p.exitcode for p in procs] == [0, 0]

    names = os.listdir(path)
    assert sorted(names) == sorted(f"v{v}" for v in range(1, 101))
    owners = []
    for name in names:
        vdir = os.path.join(path, name)
        assert os.listdir(vdir) == ["_BUILDING.json"]
        with open(os.path.join(vdir, "_BUILDING.json")) as fh:
            owners.append(json.load(fh)["pid"])
    assert sorted(owners.count(p.pid) for p in procs) == [50, 50]


def test_prune_keeps_a_live_index_builder(spark, tmp_path):
    """The one pruner spares a live builder's index version and removes
    it once the marker's pid is dead; the flat layout it superseded and
    the published version are handled as before."""
    path = str(tmp_path / "grams")
    want = _compacted_gram_index(spark, path)
    live = os.path.join(path, "v5")
    os.makedirs(live)
    _mark(live, os.getpid())

    removed = prune_index_versions(path)
    assert removed and all(os.path.basename(p).startswith("bucket=") for p in removed)
    assert os.path.isdir(live)

    _mark(live, DEAD_PID)
    assert prune_index_versions(path) == [live]
    assert not os.path.exists(live)
    assert _rows(spark, path) == want


def test_failed_compaction_stays_unpublished_and_heals(spark, tmp_path, monkeypatch):
    """A compaction whose write raises leaves the published version
    current and readable; its attempt is healable at once (the failing
    process is still alive) and heal removes nothing else."""
    import pytest
    from pyspark.sql.readwriter import DataFrameWriter

    from hnarchive_spark.sources.gram_index import compact_gram_index

    path = str(tmp_path / "grams")
    want = _compacted_gram_index(spark, path)

    def _boom(self, *args, **kwargs):
        raise RuntimeError("injected write failure")

    monkeypatch.setattr(DataFrameWriter, "parquet", _boom)
    with pytest.raises(RuntimeError, match="injected write failure"):
        compact_gram_index(spark, path)
    monkeypatch.undo()

    attempt = os.path.join(path, "v2")
    assert os.path.isdir(attempt)
    assert current_index_version(path) == 1 and _rows(spark, path) == want
    assert torn_versions(path) == [attempt]
    assert heal_torn_versions(path) == [attempt]
    assert not os.path.exists(attempt)
    assert current_index_version(path) == 1 and _rows(spark, path) == want


def test_heal_never_touches_the_published_version(spark, tmp_path):
    """A builder that died between the pointer swap and its marker
    removal leaves the PUBLISHED version marked with a dead pid: heal
    must leave it, while still healing a dead unpublished attempt."""
    path = str(tmp_path / "grams")
    want = _compacted_gram_index(spark, path)
    published = os.path.join(path, "v1")
    _mark(published, DEAD_PID)
    dead = os.path.join(path, "v2")
    os.makedirs(dead)
    _mark(dead, DEAD_PID)

    assert heal_torn_versions(path) == [dead]
    assert os.path.isdir(published) and current_index_version(path) == 1
    assert _rows(spark, path) == want
