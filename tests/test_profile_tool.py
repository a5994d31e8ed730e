"""Smoke test of tools/profile.py: it runs end to end in its own process
and emits one complete layered record per query."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from tests.conftest import SF_DIR

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUERIES = ["event_response_time", "nlp_duplicate_pairs"]
FIELDS = {
    "build_s", "build_jobs", "plan_s", "collect_s",
    "jobs", "stages", "tasks", "task_busy_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "rows", "trial_walls", "decisions",
}


def test_profile_tool_layered_records(spark, tmp_path):
    from conversation_analysis_tools_spark.operators.cache import release_all
    from conversation_analysis_tools_spark.queries import REGISTRY

    plans = tmp_path / "plans"
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=SF_DIR, SPARK_GRAFT_CPUS="2",
               SPARK_DRIVER_MEMORY="1g")
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "profile.py"),
         "--trials", "1", "--plans", str(plans), *QUERIES],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    recs = [json.loads(line) for line in out.stdout.splitlines()
            if line.startswith("{")]
    assert [r["query"] for r in recs] == QUERIES
    for rec in recs:
        name = rec["query"]
        assert FIELDS <= rec.keys(), (name, FIELDS - rec.keys())
        assert rec["jobs"] >= 1, rec
        assert 0 <= rec["build_jobs"] <= rec["jobs"], rec
        assert len(rec["trial_walls"]) == 1, rec
        assert isinstance(rec["decisions"], list), rec
        assert rec["rows"] == len(REGISTRY[name].fn(spark, SF_DIR).collect()), rec
        release_all()
        assert (plans / f"{name}.txt").read_text().strip(), name
    # nlp_duplicate_pairs pins route="exact"; its cosine runs the
    # pairwise_cosine strategy probe
    gates = {d["gate"]: d for d in recs[1]["decisions"]}
    assert gates["duplicate_pairs"]["choice"] == "exact", gates
    assert gates["duplicate_pairs"]["requested"] == "exact", gates
    assert gates["pairwise_cosine"]["choice"] in ("dense", "inverted"), gates


def test_tools_scripts_keep_stdlib_profile():
    """Scripts in tools/ run with tools/ first on sys.path, where
    ``import profile`` (cProfile, imported by pyspark) finds
    tools/profile.py; it must hand over the standard library module."""
    out = subprocess.run(
        [sys.executable, "-c", "import cProfile, profile; print(profile.Profile)"],
        cwd=os.path.join(ROOT, "tools"), capture_output=True, text=True, timeout=60,
    )
    assert out.returncode == 0, out.stderr
