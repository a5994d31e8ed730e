"""Single-pass pipeline observability via ``DataFrame.observe``.

A 100 TB curation job needs per-gate funnel numbers (rows scanned,
rows dropped by the quality gate, rows deduped...) for every run. The
naive way is one ``count()`` per gate -- each a FULL extra pass over
the data. ``observe()`` attaches named aggregate metrics to a point in
the plan; Spark computes them AS A SIDE EFFECT of whatever action the
caller was already running, so the funnel costs zero extra scans.

Usage::

    obs = PipelineMetrics()
    docs   = obs.observed(docs, "scanned", F.count(F.lit(1)))
    kept   = obs.observed(quality_gate(docs), "post_quality",
                          F.count(F.lit(1)))
    result = kept.groupBy(...).agg(...)
    result.collect()                  # the one real action
    obs.get("scanned")                # {'count(1)': 5000}

Metrics surface after the action completes (driver-side only, tiny).
Batch only: ``Observation`` objects require a non-streaming Dataset
(Spark raises at plan build otherwise), so :meth:`observed` rejects
streams up front. Streaming plans use the string-name
``df.observe("point", ...)`` form instead, whose values arrive
per-micro-batch in ``StreamingQueryListener`` progress events -- same
metric expressions, different retrieval channel.
"""

from __future__ import annotations

import time

from pyspark.sql import Column, DataFrame, Observation

#: Seconds ``get`` waits for a point's values (they land just after its action).
GET_TIMEOUT_SEC = 30


class PipelineMetrics:
    """Registry of named :class:`Observation` points on one pipeline."""

    def __init__(self) -> None:
        self._obs: dict[str, Observation] = {}

    def observed(self, df: DataFrame, name: str, *metrics: Column) -> DataFrame:
        """Attach an observation point; returns the SAME rows
        (observe is a transparent wrapper node -- never changes the
        result, never forces a job)."""
        if df.isStreaming:
            raise ValueError(
                "Observation points are batch-only; on a stream use "
                'df.observe("name", ...) and read the values from '
                "StreamingQueryListener progress events"
            )
        if name in self._obs:
            raise ValueError(f"duplicate observation point {name!r}")
        ob = Observation(name)
        self._obs[name] = ob
        return df.observe(ob, *metrics)

    def get(self, name: str) -> dict:
        """Metric values for a point, once an action has run it.

        Raises ValueError after ``GET_TIMEOUT_SEC`` for a point no
        action ran (a pruned/unused branch never produces a value),
        where ``Observation.get`` would block forever."""
        ob = self._obs[name]
        deadline = time.monotonic() + GET_TIMEOUT_SEC
        while not ob._jo.future().isCompleted():
            if time.monotonic() > deadline:
                raise ValueError(f"observation point {name!r}: no action ran it")
            time.sleep(0.01)
        return ob.get

    def funnel(self) -> dict[str, dict]:
        """All observation points -> their metric dicts (call after
        the action)."""
        return {name: self.get(name) for name in self._obs}
