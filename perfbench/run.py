#!/usr/bin/env python3
"""Closed-loop benchmark of the engine, driven from outside it.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

One client thread in one process on ``local[4]``. A run makes its
inputs from the seed (untimed), starts Spark and runs one untimed
warm-up pass over the workload's ops (``setup_s``), then runs timed
passes until their op time reaches ``--seconds``. Every op's output is
checked outside the timed interval. ``operators.cache.release_all()``
runs after every op, also untimed.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` turns on the
Spark event log, tags every timed call with a job group, alternates
traced and untraced passes, and prints the per-layer metrics; its spans
go to ``.perfbench_out/``. The last stdout line is the result JSON.

All state a run writes (fitcache store, Spark local dirs, warehouse,
staging, temp files) lives in a fresh directory under
``.perfbench_run/`` that is deleted at exit, so no run sees another's
state and the repo's own ``.fitcache/`` and ``spark-warehouse/`` are
never touched.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4
# Below the engine's 8g default: the benchmark box has 16 GB shared with
# other jobs, and the largest run here peaks under 2 GB of RSS.
DRIVER_MEMORY = "3g"


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("analyst_sf0.01", "ingest_upsert"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true",
                    help="tiny inputs (smoke test): sf0.001, 2 export files")
    return ap.parse_args(argv)


def _isolate(run_dir: str) -> None:
    """Point every piece of cross-run state at ``run_dir``. Must run
    before pyspark starts the JVM, which inherits this environment."""
    for sub in ("fitcache", "local", "tmp", "scratch"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ.update(
        SPARK_GRAFT_FITCACHE_DIR=os.path.join(run_dir, "fitcache"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        TMPDIR=os.path.join(run_dir, "tmp"),
        # Python workers (mapInPandas in ChatGPT ingest) import the engine
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    os.chdir(run_dir)  # spark-warehouse/ and metastore land here
    sys.path[:0] = [ROOT]
    from conversation_analysis_tools_spark import session

    # The engine puts local scratch and query staging on /dev/shm when
    # it is big enough; keep both inside the run directory instead.
    scratch = os.path.join(run_dir, "scratch")
    session._local_scratch = lambda: scratch


def _vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _stop() -> None:
    """Stop Spark, then the gateway JVM, and wait for it to exit.
    Does nothing when no JVM is running."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:  # hung JVM: kill it
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, all CPUs, seconds."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _files(d: str) -> int:
    return sum(len(fs) for _r, _d, fs in os.walk(d))


def run(args, run_dir: str, out_dir: str) -> dict:
    import numpy as np

    from analyst import Analyst
    from ingest import Ingest
    from tracing import Tracer, event_log_conf

    wl = Analyst() if args.workload.startswith("analyst") else Ingest()
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "seconds": args.seconds, "nproc": len(os.sched_getaffinity(0)),
              "cpus": CPUS, "loadavg_start": os.getloadavg()}
    steal0 = _steal_s()
    wl.prepare(ROOT, args.seed, run_dir, args.small)
    rng = np.random.default_rng(args.seed)
    fitcache_dir = os.environ["SPARK_GRAFT_FITCACHE_DIR"]
    log_dir = os.path.join(run_dir, "eventlog")
    extra = None
    if args.trace:
        os.makedirs(log_dir)
        extra = event_log_conf(log_dir)

    from conversation_analysis_tools_spark.operators.cache import release_all
    from conversation_analysis_tools_spark.session import get_spark

    tr = Tracer()
    failures: list[str] = []
    failed_checks: list[bool] = []
    attempted = 0

    def one_pass(p: int) -> float:
        """Run every op once; returns the pass's summed op time."""
        nonlocal attempted
        wl.begin_pass(spark, p)
        total = 0.0
        for key in wl.pass_ops(rng, warmup=p < 0):
            attempted += 1
            try:
                with tr.span("op", op=str(key), pass_=p) as s:
                    out = wl.op(spark, tr, key, p)
            except Exception as e:  # noqa: BLE001 -- counted, run goes on
                traceback.print_exc()
                failed_checks.append(True)
                failures.append(f"pass {p} op {key}: {type(e).__name__}: {str(e)[:300]}")
                s["failed"] = True
                release_all()
                continue
            total += s["end"] - s["start"]
            release_all()
            bad = wl.check(key, out, p)
            failed_checks.append(bool(bad))
            if bad:
                s["failed"] = True
                failures.extend(bad)
        bad = wl.end_pass(spark, p)
        if bad is not None:  # a whole-store check counts as one more attempt
            attempted += 1
            failed_checks.append(bool(bad))
            failures.extend(bad)
        return total

    t0 = time.time()
    with tr.span("session.start"):  # spans[0]
        spark = get_spark(master=f"local[{CPUS}]", extra_conf=extra)
    sc = spark.sparkContext
    one_pass(-1)  # warm-up: JVM and codegen warm, fitcache fits
    setup_s = time.time() - t0
    fits_setup = _files(fitcache_dir)

    # Timed passes. A traced run alternates untraced (even) and traced
    # (odd) passes and runs at least three. The first timed pass still
    # carries JIT warming, so the overhead compares each traced pass
    # with the untraced pass after it; further warming makes that an
    # upper estimate.
    pass_s: dict[int, float] = {}
    measured, p = 0.0, 0
    while True:
        tr.sc = sc if args.trace and p % 2 == 1 else None
        pass_s[p] = one_pass(p)
        measured += pass_s[p]
        p += 1
        if measured >= args.seconds and (not args.trace or p >= 3):
            break
    tr.sc = sc if args.trace else None
    if args.trace:
        wl.catalog_calls(spark, tr)
    tr.sc = None
    fits_timed = _files(fitcache_dir) - fits_setup
    peak_rss = _vm_hwm_mb(sc._jvm.java.lang.ProcessHandle.current().pid()) + _vm_hwm_mb("self")
    record.update(spark=spark.version,
                  java=sc._jvm.java.lang.System.getProperty("java.version"),
                  spark_local_dir=os.environ["SPARK_LOCAL_DIRS"],
                  spark_local_dir_conf=spark.conf.get("spark.local.dir", None))
    _stop()  # also flushes and closes the event log
    record["loadavg_end"] = os.getloadavg()
    record["cpu_steal_s"] = _steal_s() - steal0

    timed = sorted(pass_s)
    ops = [s for s in tr.spans
           if s["name"] == "op" and s["pass"] in timed and not s.get("failed")]
    lat = [s["end"] - s["start"] for s in ops]
    by_op: dict[str, list[float]] = {}
    for s in ops:
        by_op.setdefault(s["op"], []).append(s["end"] - s["start"])
    record["passes_s"] = [round(pass_s[q], 4) for q in timed]
    record["op_s"] = {k: round(statistics.median(v), 4) for k, v in by_op.items()}
    if not lat:
        raise RuntimeError("no timed op succeeded: " + "; ".join(failures[:3]))
    metrics = {
        "setup_s": (setup_s, "s"),
        "pass_s": (statistics.median(pass_s.values()), "s"),
        "op_p50_s": (statistics.median(lat), "s"),
    }
    record["samples"] = {"setup_s": 1, "pass_s": len(timed), "op_p50_s": len(lat)}
    record["peak_rss_mb"] = peak_rss
    n_failed = sum(failed_checks)
    record["fail_frac"] = n_failed / attempted
    record["failures"] = failures[:20]
    record["checked_by"] = wl.checked_by()
    if isinstance(wl, Ingest):
        record["msgs_per_s"] = wl.n_msgs * len(timed) / sum(pass_s.values())

    if args.trace:
        tr.attribute(log_dir)
        tr.self_times()
        traced = [q for q in timed if q % 2 == 1]
        untraced = [q for q in timed if q % 2 == 0]
        metrics = layer_metrics(tr, traced, wl)
        metrics["session.start_s"] = (tr.spans[0]["dur_s"], "s")
        metrics["fitcache.fits_setup"] = (fits_setup, "count")
        metrics["fitcache.fits_timed"] = (fits_timed, "count")
        metrics["session.peak_rss_mb"] = (peak_rss, "MB")
        metrics["trace.pass_s"] = (statistics.median(pass_s[q] for q in traced), "s")
        metrics["trace.overhead"] = (statistics.median(
            pass_s[q] / pass_s[q + 1] for q in traced if q + 1 in pass_s), "ratio")
        record["samples"] = {"traced_passes": len(traced), "untraced_passes": len(untraced)}
        tr.write(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"))

    with open(os.path.join(out_dir, f"record-{args.workload}-{args.seed}-{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print("record " + json.dumps(record))
    return {
        "correct": not failures,
        "attempted": attempted,
        "failed": n_failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def layer_metrics(tr, passes: list[int], wl) -> dict[str, tuple[float, str]]:
    """Per-pass layer totals from the spans, as medians over ``passes``."""

    def per_pass(names, key):
        return statistics.median(
            sum(s[key] for s in tr.spans if s["name"] in names and s["pass"] == p)
            for p in passes)

    ex = ("exec.collect",)
    build_s = per_pass(("queries.build",), "dur_s")
    collect_s = per_pass(ex, "dur_s")
    busy_s = per_pass(ex, "task_busy_ms") / 1000.0
    cat = [s for s in tr.spans if s["name"] == "catalog.table"]
    m = {
        "catalog.table_s": (statistics.median(s["dur_s"] for s in cat) if cat else 0.0, "s"),
        "catalog.table_jobs": (statistics.median(s["jobs"] for s in cat) if cat else 0, "count"),
        "queries.build_s": (build_s, "s"),
        "queries.build_jobs": (per_pass(("queries.build",), "jobs"), "count"),
        "queries.build_share": (build_s / (build_s + collect_s) if build_s else 0.0, "ratio"),
        "exec.collect_s": (collect_s, "s"),
        "exec.jobs": (per_pass(ex, "jobs"), "count"),
        "exec.stages": (per_pass(ex, "stages"), "count"),
        "exec.tasks": (per_pass(ex, "tasks"), "count"),
        "exec.shuffle_write_bytes": (per_pass(ex, "shuffle_write_bytes"), "bytes"),
        "exec.shuffle_read_bytes": (per_pass(ex, "shuffle_read_bytes"), "bytes"),
        "exec.spill_bytes": (per_pass(ex, "spill_bytes"), "bytes"),
        "exec.task_busy_s": (busy_s, "s"),
        "exec.core_util": (busy_s / (collect_s * CPUS) if collect_s else 0.0, "ratio"),
    }
    for plat in ("claude", "chatgpt"):
        durs = [s["dur_s"] for s in tr.spans
                if s["name"] == "sources.ingest" and s["pass"] in passes
                and s["op"].endswith(plat)]
        m[f"sources.ingest_s.{plat}"] = (statistics.median(durs) if durs else 0.0, "s")
    # on ingest the collects are the view queries' execution
    views = ("views.register", "views.query", "exec.collect") if wl.name == "ingest_upsert" else ()
    m.update({
        "sources.ingest_jobs": (per_pass(("sources.ingest",), "jobs"), "count"),
        "sources.upsert_s": (per_pass(("sources.upsert",), "dur_s"), "s"),
        "sources.upsert_jobs": (per_pass(("sources.upsert",), "jobs"), "count"),
        "views.query_s": (per_pass(("views.register", "views.query"), "dur_s"), "s"),
        "views.jobs": (per_pass(views, "jobs"), "count"),
        "views.input_bytes": (per_pass(views, "input_bytes"), "bytes"),
    })
    m["sources.write_amp"] = (0.0, "ratio")
    m["sources.store_files"] = (0, "count")
    for k, v in wl.extra_layers(passes).items():
        m[k] = (v, m[k][1])
    return m


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "conversation_analysis_tools_spark")) or \
            not os.path.isfile(os.path.join(ROOT, "tools", "gen_testdata.py")):
        print(f"perfbench: no engine source under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    _isolate(run_dir)
    try:
        result = run(args, run_dir, out_dir)
    finally:
        _stop()
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
