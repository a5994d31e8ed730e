"""Layered per-query profile: plan build, physical planning and collect,
each with its Spark jobs, stages, shuffle bytes and spill.

    python tools/profile.py [--trials N] [--plans DIR] [query ...]

Queries default to ``bench.HEADLINE``. The corpus is
``$SPARK_GRAFT_SF_DIR`` on ``local[$SPARK_GRAFT_CPUS]``, with
``bench.py``'s defaults. The method is ``bench.py``'s: one
``group_counts`` warm-up, then ``release_all()`` after every trial.

Every trial runs three spans through perfbench's ``Tracer``:

- ``build``: the query function's call, including its eager probe jobs
  (streaming queries drain their micro-batches here);
- ``plan``: forcing ``queryExecution().executedPlan()``;
- ``collect``.

The Spark event log goes to a temporary directory that is deleted at
exit. After ``spark.stop()`` the tracer attributes every job and stage
to a span, by job group or else by time window. The tool prints one
JSON line per query; the layered numbers come from the last trial:

- ``build_s``, ``build_jobs``, ``plan_s``, ``collect_s``;
- ``jobs``, ``stages``, ``tasks``, ``task_busy_s``,
  ``shuffle_write_bytes``, ``shuffle_read_bytes``, ``spill_bytes``,
  summed over all three spans;
- ``rows``, the length of the collected result;
- ``trial_walls``, the build-to-collect wall of every trial;
- ``decisions``, the adaptive-gate records (``decisions.capture()``)
  made during the last trial's build and collect, in call order,
  including those of streaming ``foreachBatch`` folds (the streaming
  drains wrap their folds with ``decisions.carried``).

A query that raises prints ``{"query", "error"}`` instead, and the tool
exits 1 after the others have run. ``--plans DIR`` writes each query's
``explain("formatted")``, taken after the last collect, to
``DIR/<query>.txt``.

A scenario sweep is ``tools/gen_testdata.py`` (``--sf``, ``--zipf-s``,
``--vocab``, ``--span-days``) into a directory, then this tool with
``SPARK_GRAFT_SF_DIR`` pointing at it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import traceback

if __name__ == "profile":
    # Scripts in tools/ run with this directory first on sys.path, so
    # cProfile's ``import profile`` (pyspark imports cProfile) finds
    # this file. Put the standard library module in its place: the
    # import returns whatever sys.modules holds once this file has run.
    import importlib.machinery
    import importlib.util

    _spec = importlib.machinery.PathFinder.find_spec(
        "profile", [os.path.dirname(os.__file__)])
    sys.modules["profile"] = _std = importlib.util.module_from_spec(_spec)
    _spec.loader.exec_module(_std)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: Per-span event-log sums reported for the whole trial.
TOTALS = ("jobs", "stages", "tasks", "shuffle_write_bytes",
          "shuffle_read_bytes", "spill_bytes")


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--trials", type=int, default=2)
    ap.add_argument("--plans", metavar="DIR",
                    help="write each query's formatted plan to DIR/<query>.txt")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args(argv)
    if args.trials < 1:
        ap.error("--trials must be >= 1")
    return args


def _explain(df) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def _run(spark, fn, sf_dir, name, trials, tr, plans_dir):
    """Run ``trials`` traced trials of one query; returns the last
    trial's span ids, row count and decision records, and every
    trial's wall."""
    from conversation_analysis_tools_spark.decisions import capture
    from conversation_analysis_tools_spark.operators.cache import release_all

    walls = []
    for t in range(trials):
        ids = {}
        try:
            with capture() as recs:
                with tr.span("build", op=name, pass_=t) as s:
                    df = fn(spark, sf_dir)
                ids["build"] = s["id"]
                with tr.span("plan", op=name, pass_=t) as s:
                    df._jdf.queryExecution().executedPlan()
                ids["plan"] = s["id"]
                with tr.span("collect", op=name, pass_=t) as s:
                    rows = len(df.collect())
                ids["collect"] = s["id"]
            walls.append(s["end"] - tr.spans[ids["build"]]["start"])
            if plans_dir and t == trials - 1:
                with open(os.path.join(plans_dir, f"{name}.txt"), "w") as f:
                    f.write(_explain(df))
        finally:
            release_all()
    return ids, rows, recs, walls


def _record(tr, name, ids, rows, recs, walls) -> dict:
    span = {k: tr.spans[i] for k, i in ids.items()}
    wall = {k: round(s["end"] - s["start"], 4) for k, s in span.items()}
    rec = {"query": name, "build_s": wall["build"], "build_jobs": span["build"]["jobs"],
           "plan_s": wall["plan"], "collect_s": wall["collect"]}
    for k in TOTALS:
        rec[k] = sum(s[k] for s in span.values())
    rec["task_busy_s"] = round(sum(s["task_busy_ms"] for s in span.values()) / 1000, 3)
    rec["rows"] = rows
    rec["trial_walls"] = [round(w, 4) for w in walls]
    rec["decisions"] = recs
    return rec


def main(argv=None) -> int:
    args = _parse(argv)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if args.plans:
        os.makedirs(args.plans, exist_ok=True)

    sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]
    import bench
    import __spark_entry__ as entrymod
    from conversation_analysis_tools_spark.session import get_spark
    from tracing import Tracer, event_log_conf

    qs = entrymod.queries()
    names = args.queries or bench.HEADLINE
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown queries: {' '.join(unknown)}", file=sys.stderr)
        return 2

    log_dir = tempfile.mkdtemp(prefix="cats-profile-")
    try:
        spark = get_spark(master=f"local[{cpus}]", extra_conf=event_log_conf(log_dir))
        tr = Tracer(spark.sparkContext)
        qs["group_counts"](spark, sf_dir).collect()  # JVM/codegen warm-up
        done, errors = {}, {}
        for name in names:
            try:
                done[name] = _run(spark, qs[name], sf_dir, name,
                                  args.trials, tr, args.plans)
            except Exception as e:  # noqa: BLE001 -- reported, sweep goes on
                traceback.print_exc()
                errors[name] = f"{type(e).__name__}: {str(e)[:300]}"
            print(f"profiled {name}", file=sys.stderr, flush=True)
        spark.stop()  # flushes and closes the event log
        tr.attribute(log_dir)
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)

    for name in names:
        rec = ({"query": name, "error": errors[name]} if name in errors
               else _record(tr, name, *done[name]))
        print(json.dumps(rec), flush=True)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
