"""The repo benchmark: one workload per process, closed loop, one client.

    python3 perfbench/run.py --workload query --seed 1 --seconds 22 --trace 0

Run from the repository root.  Inputs come from ``--seed`` (perfbench/gen.py);
the program sees only the generated parquet tables or ``MockTransport``.
``--seconds`` fixes how many passes are timed, at each workload's nominal
pass time, so the same seed always times the same ops.  Spark runs
serially on ``local[nproc]``.  Every file the run writes stays under
``.perfbench/`` in the repository root.

Workloads (perfbench/workloads.py):

* ``query`` -- passes over a fixed query list.
  One op is one query: the builder call (``plans`` layer) then ``collect()``
  (Spark execution).
* ``archive`` -- ticks of the reference's traffic.  One op is one tick: a
  200-id ``fetch_items`` -> ``ItemsStore.merge_batch`` commit, then one
  ``render_page`` of a stored thread.

End-to-end metrics (``--trace 0``): ``setup_s`` (session start, inputs,
builds and the warm passes), ``ops_per_s``, ``op_p50_s``, ``op_tail_s`` (the
highest percentile with at least ten samples beyond it, never below p50)
and ``peak_rss_mb`` (driver JVM + Python high-water marks).

``--trace 1`` measures half the run untraced, restarts the session with
the Spark event log on, and measures the other half with every job tagged
by op and phase; it prints the per-layer metrics instead, read from the
event log.  The query workload's traced run also builds two persisted
indexes and calls the curation verbs (one ingest-gate micro-batch, one
release) once, for their times, counts and conservation checks.

Every op's output is checked (query results against the DuckDB oracle,
rendered pages and the store against the generator).  A failed or wrong op
counts in ``failed`` and is named in the output, never skipped.  The last
stdout line is the result JSON; the line before it is the run record.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
DRIVER_MEM = "2g"
# C1 only: a fresh driver JVM otherwise keeps getting faster for ~35 s as
# C2 compiles Catalyst and Spark's driver paths, and the pace of that varies
# run to run by +-15 % on a 4-core box; with C1 the ops are flat from the
# first pass, so a short run measures a steady state.  The heap grows on
# demand (no -Xms, no pre-touch), so peak_rss_mb sees the heap the ops use.
# The serial collector grows the heap from the free share left after each
# collection, where G1 grows it from GC time, so peak RSS follows what the
# program keeps and not the box's load (IQR/median of peak RSS on a 4-core
# box: 0.016-0.030 over 10 seeds serial, 0.10 and 0.21 over 5 archive seeds
# under G1); the young generation is fixed so that its size is not a policy
# decision either.  C1 alone reserves a 48 MB code cache, which Spark fills
# about 40 s into a run; the JVM then stops compiling until the sweeper frees
# room, and the ops of the next ~10 s run up to 2x slower (archive ticks 7-9
# on a 4-core box).  A run never fills 256 MB.
DRIVER_JVM_OPTS = ("-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=256m "
                   "-XX:+UseSerialGC -Xmn256m")

E2E = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "peak_rss_mb": "MB",
}
# Per-layer metrics (``--trace 1``): unit, the end-to-end metric a change
# to the layer should move, and the workload it should move it on.  Times
# are means per op (or per call) over the traced half of the run; job,
# stage and task counts and executor metrics are read per op from the
# Spark event log.  Layer-specific numbers read 0 on the workload that
# never calls the layer, which is the "no move predicted" side.
LAYER = {
    "session.start_s": ("s", "setup_s", "all"),
    "setup.build_s": ("s", "setup_s", "all"),  # inputs, index builds, bulk commit, warm pass
    # persisted-index builds (contamination and MinHash), traced in the
    # query workload's traced run
    "index.build_s": ("s", "setup_s", "query"),
    "index.build_jobs": ("count", "setup_s", "query"),
    "index.build_stages": ("count", "setup_s", "query"),
    "tables.load_jobs": ("count", "op_p50_s", "query"),  # per tables.load call, all 10 tables
    "plans.build_s": ("s", "ops_per_s", "query"),
    "plans.build_jobs": ("count", "ops_per_s", "query"),
    "plans.build_share": ("ratio", "ops_per_s", "query"),
    "exec.run_s": ("s", "op_p50_s", "all"),
    "exec.jobs": ("count", "op_p50_s", "all"),
    "exec.stages": ("count", "op_p50_s", "all"),
    "exec.tasks_per_stage": ("count", "op_tail_s", "all"),
    "exec.executor_run_ms": ("ms", "op_tail_s", "all"),
    "exec.executor_cpu_ms": ("ms", "op_tail_s", "all"),
    "exec.shuffle_read_bytes": ("bytes", "op_tail_s", "all"),
    "exec.shuffle_write_bytes": ("bytes", "op_tail_s", "all"),
    "exec.spill_bytes": ("bytes", "op_tail_s", "all"),
    "driver.no_job_s": ("s", "op_p50_s", "all"),
    "items_store.merge_jobs": ("count", "op_p50_s", "archive"),
    "items_store.merge_stages": ("count", "op_p50_s", "archive"),
    "items_store.bytes_per_item": ("bytes", "op_p50_s", "archive"),
    "render.page_jobs": ("count", "op_p50_s", "archive"),
    "render.page_stages": ("count", "op_p50_s", "archive"),
    # curation verbs, traced (not timed) in the query workload's traced run
    "ingest.batch_jobs": ("count", "none", "query"),
    "ingest.batch_stages": ("count", "none", "query"),
    "ingest.ledger_rows": ("count", "none", "query"),
    "ingest.ledger_merged": ("count", "none", "query"),
    "release.jobs": ("count", "none", "query"),
    "release.stages": ("count", "none", "query"),
    "release.tasks": ("count", "none", "query"),
    "tracing.overhead_share": ("ratio", "none", "all"),
}


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(work: str, nproc: int) -> dict[str, str]:
    """Process settings, made before the JVM starts: cores, memory, the
    program on the Python workers' import path, and every temporary
    directory (Python, JVM, Spark local dirs) inside ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    pypath = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p)
    settings = {
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": pypath,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf \"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} {DRIVER_JVM_OPTS}\" pyspark-shell"
        ),
    }
    os.environ.update(settings)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return settings


# --------------------------------------------------------------------------
# tracing: one job group per op phase
# --------------------------------------------------------------------------


class Tracer:
    """Times each op phase; when ``traced``, also tags the phase's Spark
    jobs with a job group (``rec["groups"][phase]``), under which the event
    log parser (perfbench/eventlog.py) files their jobs, stages and tasks.
    """

    def __init__(self, spark, traced: bool):
        self.sc = spark.sparkContext
        self.traced = traced
        self._seq = 0

    def run(self, kind: str, name: str, tick: int, build, execute) -> dict:
        """One op: ``build()`` (lazy plan construction, plus any eager
        prelude the program runs there), then ``execute(plan)``.  The
        record holds both phase walls, the whole wall and the result, or
        the error the op raised."""
        self._seq += 1
        rec = {"seq": self._seq, "kind": kind, "name": name, "tick": tick,
               "build_s": 0.0, "exec_s": 0.0}
        t0 = time.perf_counter()
        try:
            with self.phase(rec, "build"):
                plan = build()
            with self.phase(rec, "exec"):
                rec["result"] = execute(plan)
        except Exception as exc:  # an op failure is counted, not fatal
            rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
        rec["wall_s"] = time.perf_counter() - t0
        return rec

    @contextlib.contextmanager
    def phase(self, rec: dict, phase: str):
        group = f"pb-{rec['seq']}-{phase}"
        if self.traced:
            self.sc.setJobGroup(group, f"{rec['name']}:{phase}")
        t0 = time.perf_counter()
        try:
            yield
        finally:
            rec[f"{phase}_s"] = time.perf_counter() - t0
            if self.traced:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
                rec.setdefault("groups", {})[phase] = group


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------


def tail(values: list[float]) -> tuple[float, int]:
    """``(value, percentile)``: the highest whole percentile with at least
    ten samples beyond it (nearest rank), and never below the median."""
    s = sorted(values)
    n = len(s)
    pct = max(50, math.floor(100 * (1 - 10 / n)))
    return max(statistics.median(s), s[max(0, math.ceil(pct / 100 * n) - 1)]), pct


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def op_events(events: dict, rec: dict, phase: str | None = None) -> dict:
    """Event-log totals of one op's jobs: one phase, or both when ``phase``
    is None.  A phase the op never entered (its build raised) adds
    nothing."""
    groups = rec.get("groups", {})
    out: dict[str, float] = {}
    for ph in ([phase] if phase else list(groups)):
        for k, v in events.get(groups.get(ph), {}).items():
            if k != "job_spans_ms":
                out[k] = out.get(k, 0) + v
    return out


def peak_rss_mb(spark) -> float:
    """Driver JVM high-water RSS plus this Python process's."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


# --------------------------------------------------------------------------
# session lifecycle
# --------------------------------------------------------------------------


def start_session():
    from hnarchive_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()  # the session is usable, not just created
    return spark


def restart_with_eventlog(spark, log_dir: str):
    """Stop the session and start a new one in the same JVM with the event
    log on.  ``spark.eventLog.*`` are static confs, so they go in as JVM
    system properties, which a new SparkConf reads."""
    os.makedirs(log_dir, exist_ok=True)
    jsys = spark._jvm.java.lang.System
    for k, v in {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }.items():
        jsys.setProperty(k, v)
    spark.stop()
    return start_session()


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def shutdown(spark) -> None:
    """Stop Spark, then the JVM, and wait until the JVM and every process
    it started (the Python worker daemon) have exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    procs = _descendants(proc.pid) if proc is not None else []
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    for sig_after in (15.0, 5.0):  # let them exit, then kill and wait again
        deadline = time.monotonic() + sig_after
        while any(_alive(p) for p in procs) and time.monotonic() < deadline:
            time.sleep(0.05)
        for p in procs:
            if _alive(p):
                with contextlib.suppress(OSError):
                    os.kill(p, signal.SIGKILL)


# --------------------------------------------------------------------------
# the run
# --------------------------------------------------------------------------


def _loop(wl, tracer, seconds: float, first_pass: int) -> tuple[list[dict], int]:
    """Measure as many whole passes as fit in ``seconds`` at the workload's
    nominal pass time.  The pass count is fixed, not the wall: both sides of a
    comparison time the same ops.  Returns the op records and the next pass
    number."""
    n = max(1, int(seconds / wl.PASS_S))
    recs: list[dict] = []
    for p in range(first_pass, first_pass + n):
        recs += wl.run_pass(tracer, p)
    return recs, first_pass + n


def _ticks(recs: list[dict]) -> list[float]:
    """End-to-end op walls: the records of one tick (one query, or one
    archive commit plus its render) summed."""
    walls: dict = {}
    for r in recs:
        walls[r["tick"]] = walls.get(r["tick"], 0.0) + r["wall_s"]
    return list(walls.values())


def _layer_metrics(wl, recs: list[dict], untraced: list[dict], events: dict,
                   session_s: float, setup_s: float) -> dict[str, float]:
    from perfbench.eventlog import covered_ms

    def ev(r, key, phase="exec"):
        return op_events(events, r, phase).get(key, 0)

    exec_stages = sum(ev(r, "stages") for r in recs)
    commits = [r for r in recs if r["kind"] == "commit"]
    renders = [r for r in recs if r["kind"] == "render"]

    def per_name(rs):
        by: dict[str, list[float]] = {}
        for r in rs:  # queries by name; commits and renders by kind
            by.setdefault(r["name"] if r["kind"] == "query" else r["kind"], []).append(r["wall_s"])
        return {k: _mean(v) for k, v in by.items()}

    traced_by, untraced_by = per_name(recs), per_name(untraced)
    common = sorted(set(traced_by) & set(untraced_by))
    overhead = (sum(traced_by[k] for k in common) / sum(untraced_by[k] for k in common) - 1
                if common else 0.0)
    no_job = []
    for r in recs:
        spans = []
        for g in r.get("groups", {}).values():
            spans += events.get(g, {}).get("job_spans_ms", [])
        no_job.append(max(0.0, r["wall_s"] - covered_ms(spans) / 1000))
    probes = wl.probe_recs
    loads, builds = probes.get("tables.load", []), probes.get("index.build", [])
    batches, releases = probes.get("ingest.batch", []), probes.get("release", [])
    m = {
        "session.start_s": session_s,
        "setup.build_s": setup_s - session_s,
        "index.build_s": _mean(r["wall_s"] for r in builds),
        "index.build_jobs": _mean(ev(r, "jobs", None) for r in builds),
        "index.build_stages": _mean(ev(r, "stages", None) for r in builds),
        "tables.load_jobs": _mean(ev(r, "jobs", "build") for r in loads),
        "plans.build_s": _mean(r["build_s"] for r in recs),
        "plans.build_jobs": _mean(ev(r, "jobs", "build") for r in recs),
        "plans.build_share": sum(r["build_s"] for r in recs) / sum(r["wall_s"] for r in recs),
        "exec.run_s": _mean(r["exec_s"] for r in recs),
        "exec.jobs": _mean(ev(r, "jobs") for r in recs),
        "exec.stages": _mean(ev(r, "stages") for r in recs),
        "exec.tasks_per_stage": (sum(ev(r, "tasks") for r in recs) / exec_stages
                                 if exec_stages else 0.0),
        "driver.no_job_s": _mean(no_job),
        "items_store.merge_jobs": _mean(ev(r, "jobs") for r in commits),
        "items_store.merge_stages": _mean(ev(r, "stages") for r in commits),
        "render.page_jobs": _mean(ev(r, "jobs") for r in renders),
        "render.page_stages": _mean(ev(r, "stages") for r in renders),
        "ingest.batch_jobs": _mean(ev(r, "jobs", None) for r in batches),
        "ingest.batch_stages": _mean(ev(r, "stages", None) for r in batches),
        "release.jobs": _mean(ev(r, "jobs", None) for r in releases),
        "release.stages": _mean(ev(r, "stages", None) for r in releases),
        "release.tasks": _mean(ev(r, "tasks", None) for r in releases),
        "tracing.overhead_share": overhead,
    }
    # exec.gc_ms stays in the run record only: most runs see no collection
    # during a task, and a constant-zero time is not a usable metric
    for k in ("executor_run_ms", "executor_cpu_ms", "gc_ms", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes"):
        m[f"exec.{k}"] = _mean(ev(r, k) for r in recs)
    # numbers the workload reads from its own state; 0 where it has none
    m.update({k: wl.probed.get(k, 0.0) for k in LAYER if k not in m})
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    nproc = _nproc()
    work = os.path.join(WORK, "work")
    shutil.rmtree(work, ignore_errors=True)
    settings = configure_env(work, nproc)
    # fail before any output when the program is not beside the benchmark
    import pyspark

    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}")
    wl = workloads.WORKLOADS[args.workload](args.seed, work, nproc)

    t_setup = time.perf_counter()
    input_md5s = wl.make_inputs()
    t0 = time.perf_counter()
    spark = start_session()
    t1 = time.perf_counter()
    try:
        wl.setup(spark)
        t2 = time.perf_counter()
        for p in range(wl.WARM_PASSES):  # warm passes: untimed, unchecked
            wl.run_pass(Tracer(spark, traced=False), p)
        wl.discard_results()
        t3 = time.perf_counter()
        setup_s = t3 - t_setup
        session_s = t1 - t0
        setup_parts = {"inputs_s": t0 - t_setup, "session_s": session_s,
                       "builds_s": t2 - t1, "warm_s": t3 - t2}

        t_meas = time.perf_counter()
        if args.trace:
            untraced, p = _loop(wl, Tracer(spark, traced=False), args.seconds / 2, wl.WARM_PASSES)
            spark = restart_with_eventlog(spark, os.path.join(work, "eventlog"))
            wl.rebind(spark)
            wl.run_pass(Tracer(spark, traced=False), p)  # warm the new session
            tracer = Tracer(spark, traced=True)
            recs, _ = _loop(wl, tracer, args.seconds / 2, p + 1)
            measured = untraced + recs
            check_failures = wl.probe_layers(tracer)
        else:
            recs, _ = _loop(wl, Tracer(spark, traced=False), args.seconds, wl.WARM_PASSES)
            measured = recs
            check_failures = []
        measured_s = time.perf_counter() - t_meas
        check_failures += wl.check(spark)
        rss = peak_rss_mb(spark)
    finally:
        shutdown(spark)

    ticks = _ticks(measured)
    tail_v, tail_pct = tail(ticks)
    bad = [r for r in measured if r.get("error")]
    failures = [f"{r['name']}#{r['seq']}: {r['error']}" for r in bad] + check_failures
    attempted = len(ticks) + wl.extra_checks
    failed = len({r["tick"] for r in bad}) + len(check_failures)
    e2e = {
        "setup_s": setup_s,
        "ops_per_s": len(ticks) / sum(ticks),
        "op_p50_s": statistics.median(ticks),
        "op_tail_s": tail_v,
        "peak_rss_mb": rss,
    }
    if args.trace:
        from perfbench import eventlog

        events = eventlog.parse(eventlog.find_log(os.path.join(work, "eventlog")))
        layers = _layer_metrics(wl, recs, untraced, events, session_s, setup_s)
        metrics = {k: layers[k] for k in LAYER}
        units = {k: v[0] for k, v in LAYER.items()}
    else:
        layers = {}
        metrics, units = e2e, E2E

    detail = wl.detail(measured)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc,
        "spark_version": pyspark.__version__,
        "settings": {
            "SPARK_GRAFT_CPUS": settings["SPARK_GRAFT_CPUS"],
            "fetch_parallelism": wl.fetch_parallelism,
            "PYTHONPATH": settings["PYTHONPATH"],
            "driver_memory": DRIVER_MEM,
            "driver_jvm_opts": DRIVER_JVM_OPTS,
        },
        "input_md5s": input_md5s,
        "setup_parts": setup_parts,
        "measured_s": measured_s,
        "ops": len(ticks),
        "op_walls_s": ticks,
        "op_names": [r["name"] for r in measured],
        "op_tail_percentile": tail_pct,
        "failures": failures,
        "detail": detail,
        "e2e": e2e,
        "layers": layers,
    }
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    name = f"{args.workload}_seed{args.seed}_trace{args.trace}_{int(time.time())}.json"
    with open(os.path.join(WORK, "runs", name), "w") as fh:
        json.dump(record, fh, indent=1)

    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} nproc={nproc} "
          f"spark={pyspark.__version__} SPARK_GRAFT_CPUS={nproc} "
          f"fetch_parallelism={wl.fetch_parallelism} PYTHONPATH={settings['PYTHONPATH']}")
    for k, v in detail.items():
        print(f"  {k:<32} {v}")
    print(f"  {'error_rate':<32} {failed}/{attempted} = {failed / attempted:.4f}")
    for f in failures:
        print(f"  FAILED {f}")
    print(f"  {'op_tail_s percentile':<32} p{tail_pct} of {len(ticks)} ops")
    for k, v in metrics.items():
        moves = f"  (moves {LAYER[k][1]} on {LAYER[k][2]})" if args.trace else ""
        print(f"  {k:<32} {v:.6g} {units[k]}{moves}")
    print(json.dumps({"record": {k: record[k] for k in ("workload", "seed", "nproc", "spark_version",
                                                       "settings", "input_md5s")}}))
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
