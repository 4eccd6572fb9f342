"""The event-log parser agrees with Spark's status tracker.

The benchmark reads every per-op job, stage and task count and executor
metric from the event log.  Here the parser's counts are checked against
the status tracker, read right after each op, on a tiny query.  Needs a
SparkContext of its own (the event-log confs are static), so run it in its
own process: python -m pytest perfbench/tests -q
"""

from __future__ import annotations

from types import SimpleNamespace

import pytest
from pyspark import SparkContext
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from perfbench import eventlog
from perfbench.run import Tracer, _layer_metrics, op_events


def test_covered_ms_merges_overlaps():
    assert eventlog.covered_ms([]) == 0
    assert eventlog.covered_ms([[0, 10], [5, 20], [30, 35]]) == 25


def _tracker_counts(sc, group: str, seen: set[int]) -> tuple[int, int, int]:
    """(jobs, stages, tasks) of a job group from the status tracker; a stage
    is counted once, under the job that ran it, as the parser counts it."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the tracker is fed by the listener bus
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in sorted(jobs):
        for sid in st.getJobInfo(jid).stageIds:
            si = st.getStageInfo(sid)
            if si is None or sid in seen or si.numCompletedTasks + si.numFailedTasks == 0:
                continue  # skipped: its shuffle output was reused
            seen.add(sid)
            stages += 1
            tasks += si.numTasks
    return len(jobs), stages, tasks


def test_parser_counts_match_status_tracker(tmp_path):
    if SparkContext._active_spark_context is not None:
        pytest.skip("needs its own SparkContext: the event-log confs are static")
    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "3")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file://{log_dir}")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    try:
        sc = spark.sparkContext
        tracer = Tracer(spark, traced=True)

        def build():
            keys = spark.range(0, 1000, numPartitions=4).withColumn("k", F.col("id") % 7)
            keys.count()  # an eager job in the build phase, as builders do
            return keys.groupBy("k").agg(F.sum("id").alias("s")).join(
                spark.range(7).withColumnRenamed("id", "k"), "k")

        def broken_build():
            spark.range(10).count()
            raise ValueError("builder failed")

        recs, want, seen = [], [], set()
        for i in range(2):
            recs.append(tracer.run("query", "tiny", i, build, lambda df: df.collect()))
            want.append({ph: _tracker_counts(sc, g, seen) for ph, g in recs[-1]["groups"].items()})
        broken = tracer.run("query", "broken", 2, broken_build, lambda df: df.collect())
        broken_counts = _tracker_counts(sc, broken["groups"]["build"], seen)
    finally:
        spark.stop()

    events = eventlog.parse(eventlog.find_log(str(log_dir)))
    for rec, counts in zip(recs, want):
        assert "error" not in rec and len(rec["result"]) == 7
        for phase, group in rec["groups"].items():
            got = events[group]
            assert (got["jobs"], got["stages"], got["tasks"]) == counts[phase], phase
        assert counts["build"][0] >= 1
        assert counts["exec"][1] >= 2  # the aggregation shuffles
        ex = events[rec["groups"]["exec"]]
        assert ex["executor_run_ms"] > 0 and ex["shuffle_write_bytes"] > 0

    # an op whose build raises never enters its exec phase: it is recorded
    # with its error, its build job still counts, and the per-layer table
    # is still made
    assert broken["error"] == "ValueError: builder failed"
    assert set(broken["groups"]) == {"build"}
    got = op_events(events, broken, "build")
    assert (got["jobs"], got["stages"], got["tasks"]) == broken_counts and got["jobs"] >= 1
    assert op_events(events, broken, "exec") == {}
    wl = SimpleNamespace(probe_recs={}, probed={})
    layers = _layer_metrics(wl, recs + [broken], recs, events, 1.0, 2.0)
    assert layers["exec.jobs"] == pytest.approx(sum(events[r["groups"]["exec"]]["jobs"]
                                                    for r in recs) / 3)
    assert layers["plans.build_jobs"] > 0
