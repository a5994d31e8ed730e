"""Workload ``analyst_sf0.01``: interactive registry queries on small data.

One op is a registry query function's call (plan build, including the
eager probe jobs it runs) plus ``collect()``. The seed draws the star
schema through ``tools/gen_testdata.py`` at sf0.01 and permutes the op
order of every pass. Every op's output is checked against the query's
DuckDB oracle.
"""

from __future__ import annotations

import contextlib
import importlib.util
import os
import sys
from unittest import mock

import numpy as np

from checks import oracle_fingerprints, spark_fingerprint

OPS = (
    "event_response_time", "join_workhorse", "time_bucketed_agg",
    "top_n_per_group", "word_frequency_top5", "session_windows_30m",
    "asof_last_signup", "retention_cohorts", "funnel_view_click_purchase",
    "timeseries_gapfill", "rolling_avg_daily", "cube_rollup_counts",
    "json_metadata_agg", "boolean_search", "substring_search",
    "snippet_highlight", "bm25_topk", "nlp_topic_search",
    "semantic_search_topk",
)


def generate(root: str, seed: int, sf: float, out: str) -> None:
    """``tools/gen_testdata.py`` at ``sf`` with its fixed rng seed
    replaced by ``seed``; its progress lines go to stderr."""
    spec = importlib.util.spec_from_file_location(
        "gen_testdata", os.path.join(root, "tools", "gen_testdata.py"))
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    rng = np.random.default_rng
    with mock.patch.object(np.random, "default_rng", lambda _seed: rng(seed)), \
            mock.patch.object(sys, "argv", ["gen", "--sf", str(sf), "--out", out]), \
            contextlib.redirect_stdout(sys.stderr):
        gen.main()


class Analyst:
    name = "analyst_sf0.01"
    sf = 0.01

    def prepare(self, root: str, seed: int, run_dir: str, small: bool) -> None:
        sf = 0.001 if small else self.sf
        self.data = os.path.join(run_dir, "data")
        generate(root, seed, sf, self.data)
        self.expected = oracle_fingerprints(self.data, list(OPS))
        self.warm: dict[str, tuple] = {}  # fingerprints of the warm-up pass
        import __spark_entry__ as entry

        self.fns = entry.queries()

    def pass_ops(self, rng, warmup: bool) -> list[str]:
        return [OPS[i] for i in rng.permutation(len(OPS))]

    def begin_pass(self, spark, p: int) -> None:
        pass

    def op(self, spark, tr, name: str, p: int):
        with tr.span("queries.build", op=name, pass_=p):
            df = self.fns[name](spark, self.data)
        with tr.span("exec.collect", op=name, pass_=p):
            rows = df.collect()
        return df.columns, rows

    def check(self, name: str, out, p: int) -> list[str]:
        """What differs from the oracle (or, without one, from the
        warm-up pass); empty when the output matches."""
        fp = spark_fingerprint(*out)
        if p < 0:
            self.warm[name] = fp
        want = self.expected.get(name, self.warm.get(name))
        if want is None:  # no oracle and the warm-up run raised
            return [f"{name}: no reference output"]
        if fp != want:
            return [f"{name}: got {fp[:2]} {fp[2][:8]}, want {want[:2]} {want[2][:8]}"]
        return []

    def end_pass(self, spark, p: int) -> None:
        return None  # no whole-pass check: every op is checked on its own

    def checked_by(self) -> dict[str, list[str]]:
        return {
            "oracle": sorted(n for n in OPS if n in self.expected),
            "determinism": sorted(n for n in OPS if n not in self.expected),
        }

    def catalog_calls(self, spark, tr) -> None:
        """Time ``catalog.table`` once per table, twice over."""
        from conversation_analysis_tools_spark import catalog

        for r in range(2):
            for t in catalog.TABLES:
                with tr.span("catalog.table", op=t, pass_=-2 - r):
                    catalog.table(spark, t, self.data)

    def extra_layers(self, passes: list[int]) -> dict[str, float]:
        return {}
