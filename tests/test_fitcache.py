"""Train-once artifact cache: hit on identical corpus, miss when any
file changes (fitcache.py)."""

from __future__ import annotations

import os

from conversation_analysis_tools_spark.fitcache import cached_fit


def test_hit_miss_semantics(tmp_path):
    d = tmp_path / "corpus"
    d.mkdir()
    f = d / "part-0.parquet"
    f.write_bytes(b"abc")
    calls = []

    def fit():
        calls.append(1)
        return len(calls)

    assert cached_fit("op", (1,), str(d), fit) == 1
    assert cached_fit("op", (1,), str(d), fit) == 1  # hit
    assert cached_fit("op", (2,), str(d), fit) == 2  # params miss
    assert cached_fit("other", (1,), str(d), fit) == 3  # op miss
    f.write_bytes(b"abcd")  # content change -> size differs
    assert cached_fit("op", (1,), str(d), fit) == 4
    os.utime(f, ns=(1, 1))  # mtime change alone also misses
    assert cached_fit("op", (1,), str(d), fit) == 5
    assert cached_fit("op", (1,), str(d), fit) == 5


def test_disk_tier_cold_process_hit(tmp_path, monkeypatch):
    """A second 'process' (fresh in-memory cache) must load the
    artifact from the disk store instead of retraining."""
    import numpy as np

    import conversation_analysis_tools_spark.fitcache as fc

    monkeypatch.setenv("SPARK_GRAFT_FITCACHE_DIR", str(tmp_path / "store"))
    d = tmp_path / "corpus"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"abc")
    calls = []

    def fit():
        calls.append(1)
        return (np.arange(6, dtype="float32").reshape(2, 3), [0.5, 1.5], 2.0)

    first = cached_fit("ivf", (16,), str(d), fit)
    assert len(calls) == 1
    fc._CACHE.clear()  # simulate a cold process
    second = cached_fit("ivf", (16,), str(d), fit)
    assert len(calls) == 1  # served from disk, no retrain
    assert isinstance(second, tuple) and len(second) == 3
    assert isinstance(second[0], np.ndarray) and second[0].dtype == np.float32
    np.testing.assert_array_equal(first[0], second[0])
    assert second[1] == [0.5, 1.5] and second[2] == 2.0
    # corpus change invalidates the disk tier too
    (d / "part-0.parquet").write_bytes(b"abcd")
    fc._CACHE.clear()
    cached_fit("ivf", (16,), str(d), fit)
    assert len(calls) == 2


def test_disk_tier_unserializable_falls_back(tmp_path, monkeypatch):
    import conversation_analysis_tools_spark.fitcache as fc

    monkeypatch.setenv("SPARK_GRAFT_FITCACHE_DIR", str(tmp_path / "store"))
    d = tmp_path / "corpus"
    d.mkdir()

    class Weird:
        pass

    calls = []

    def fit():
        calls.append(1)
        return Weird()

    assert isinstance(cached_fit("w", (), str(d), fit), Weird)
    assert isinstance(cached_fit("w", (), str(d), fit), Weird)  # process hit
    assert len(calls) == 1
    fc._CACHE.clear()
    cached_fit("w", (), str(d), fit)  # cold: disk has nothing -> retrain
    assert len(calls) == 2


def test_disk_tier_corrupt_file_retrains(tmp_path, monkeypatch):
    import conversation_analysis_tools_spark.fitcache as fc

    monkeypatch.setenv("SPARK_GRAFT_FITCACHE_DIR", str(tmp_path / "store"))
    d = tmp_path / "corpus"
    d.mkdir()
    calls = []

    def fit():
        calls.append(1)
        return [1.0, 2.0]

    cached_fit("c", (), str(d), fit)
    store = tmp_path / "store"
    (files,) = [p for p in store.iterdir() if p.suffix == ".json"]
    files.write_text("{ not json")
    fc._CACHE.clear()
    assert cached_fit("c", (), str(d), fit) == [1.0, 2.0]
    assert len(calls) == 2


def test_disk_store_evicts_beyond_cap(tmp_path, monkeypatch):
    """Content-keyed files orphan on every corpus regeneration, so the
    disk tier must stay bounded: oldest entries evict past the cap."""
    import os

    from conversation_analysis_tools_spark import fitcache as fc

    monkeypatch.setenv("SPARK_GRAFT_FITCACHE_DIR", str(tmp_path / "fc"))
    monkeypatch.setattr(fc, "_DISK_STORE_MAX", 10)
    for i in range(14):
        fc._disk_store(repr(("k", i)), [float(i)])
        os.utime(fc._disk_path(repr(("k", i))), (i + 1, i + 1))  # strict age order
    files = [e for e in os.listdir(tmp_path / "fc") if e.endswith(".json")]
    assert len(files) <= 10
    # the newest entry survives and still loads
    assert fc._disk_load(repr(("k", 13))) == [13.0]
    # the oldest was evicted
    assert fc._disk_load(repr(("k", 0))) is None


def test_trainer_code_change_refits(tmp_path, monkeypatch):
    """An artifact stored by one version of the package's code is not
    served once the code digest differs: an edited trainer refits."""
    import conversation_analysis_tools_spark.fitcache as fc

    monkeypatch.setenv("SPARK_GRAFT_FITCACHE_DIR", str(tmp_path / "store"))
    d = tmp_path / "corpus"
    d.mkdir()
    calls = []

    def fit():
        calls.append(1)
        return [float(len(calls))]

    assert len(fc.code_digest()) == 64  # sha256 hex of the real sources
    monkeypatch.setattr(fc, "code_digest", lambda: "old")
    assert cached_fit("pq", (8,), str(d), fit) == [1.0]
    fc._CACHE.clear()
    monkeypatch.setattr(fc, "code_digest", lambda: "new")
    assert cached_fit("pq", (8,), str(d), fit) == [2.0]  # refit, not the disk entry
    fc._CACHE.clear()
    monkeypatch.setattr(fc, "code_digest", lambda: "old")
    assert cached_fit("pq", (8,), str(d), fit) == [1.0]  # old entry still on disk
