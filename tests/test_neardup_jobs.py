"""Spark jobs of the streaming near-dup fold (streaming/neardup.py):
one candidate relation, one verify and one admission collect per
micro-batch, then two writes."""

from __future__ import annotations

from pyspark.sql.streaming import StreamingQueryListener

from conversation_analysis_tools_spark.streaming import neardup as N
from tests.test_ingest import _jobs
from tests.test_neardup_stream import _stage

#: Jobs of a 3-batch drain of ``sample_docs`` as measured on this fold
#: (the fold with a store join, an exact-dup collapse and a batch
#: self-join ahead of its collect ran 94).
DRAIN_JOBS = 49


class _RunIds(StreamingQueryListener):
    def __init__(self):
        self.ids = []

    def onQueryStarted(self, event):
        self.ids.append(str(event.runId))

    def onQueryProgress(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def test_drain_job_count(spark, sample_docs, tmp_path, monkeypatch):
    """A stream's jobs run in the job group of its run id (Structured
    Streaming sets it on the query thread), so the drain's jobs are
    counted in that group; the run id comes from a listener on the
    stream's own session (``scoped_session`` clones one per stream).
    The caller's thread runs no job before it collects: the admitted
    store is read against its declared schema, not inferred."""
    runs = _RunIds()
    scoped = N.scoped_session

    def listened(s, n):
        session = scoped(s, n)
        session.streams.addListener(runs)
        return session

    monkeypatch.setattr(N, "scoped_session", listened)
    src = str(tmp_path / "src")
    _stage(spark, sample_docs, src, 3)
    out = []
    caller_jobs = _jobs(spark, lambda: out.append(N.stream_neardup_dedup(
        spark, src, str(tmp_path / "store"), threshold=0.5)))
    assert caller_jobs == 0
    assert sorted(r[0] for r in out[0].collect()) == [0, 1, 2, 3, 4]
    (run,) = runs.ids
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(run)
    assert len(jobs) <= DRAIN_JOBS
