"""Audio/video container-operator anchors: RIFF and ISO-BMFF parse
edges, stereo downmix, the silence-trim aggregation, and the
synth/pack/parse roundtrips the driver oracles rely on."""

import struct

import pytest

from conversation_analysis_tools_spark.operators import audio as A


def test_wav_roundtrip_and_chunk_walk():
    samples = A.synth_pcm16(7, 300)
    content = A.wav_bytes(samples, sample_rate=8000)
    parsed = A.parse_wav(content)
    assert parsed is not None
    channels, rate, bits, data = parsed
    assert (channels, rate, bits) == (1, 8000, 16)
    assert list(struct.unpack("<300h", data)) == samples
    # chunk walk must skip unknown (odd-sized, word-padded) chunks
    # injected between fmt and data, as real encoders emit
    fmt_end = 12 + 8 + 16
    junk = struct.pack("<4sI", b"LIST", 5) + b"abcde" + b"\x00"  # padded
    assert A.parse_wav(content[:fmt_end] + junk + content[fmt_end:]) == parsed


def test_parse_rejects_non_wav_and_gates_codecs():
    assert A.parse_wav(b"") is None
    assert A.parse_wav(b"RIFFxxxxJUNK") is None
    assert A.parse_wav(b"not audio at all") is None
    # non-PCM codec tag: explicit NotImplementedError (no codec libs
    # in this environment), never a silent wrong parse
    bad = bytearray(A.wav_bytes(A.synth_pcm16(1, 10)))
    bad[20] = 2  # fmt tag -> ADPCM
    with pytest.raises(NotImplementedError):
        A.parse_wav(bytes(bad))


def test_metadata_drops_unparseable_rows(spark):
    media = spark.createDataFrame(
        [
            (1, A.wav_bytes(A.synth_pcm16(1, 800)), "audio/wav"),
            (2, b"not a wav", "application/octet-stream"),
        ],
        "media_id bigint, content binary, mime string",
    )
    rows = {r["media_id"]: r for r in A.audio_metadata(media).collect()}
    assert set(rows) == {1}
    assert rows[1]["n_samples"] == 800 and rows[1]["duration_ms"] == 100


def test_udf_runs_when_workers_cannot_import_package(tmp_path):
    """An application that puts the repo on its own sys.path and runs
    from another directory, with no PYTHONPATH: the Python workers cannot
    import the package, so the pandas UDF's helpers (audio_metadata's
    parse_wav) must reach them by value."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = f"""
import sys
sys.path.insert(0, {root!r})
from conversation_analysis_tools_spark.operators import audio as A
from conversation_analysis_tools_spark.session import get_spark
spark = get_spark(master="local[1]", shuffle_partitions=1)
media = spark.createDataFrame(
    [(1, A.wav_bytes(A.synth_pcm16(1, 800)), "audio/wav")],
    "media_id bigint, content binary, mime string",
)
print(tuple(A.audio_metadata(media).first()))
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    run = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    assert run.stdout.split()[-6:] == "(1, 1, 8000, 16, 800, 100)".split()


def test_energy_windows_stereo_downmix_and_ragged_tail(spark):
    # stereo: channel pair (s, s+2) -> floor mono (2s+2)//2 = s+1
    mono = A.synth_pcm16(3, 400)
    stereo = []
    for s in mono:
        stereo += [s, s + 2 if s + 2 <= 32760 else s]
    media = spark.createDataFrame(
        [(1, A.wav_bytes(stereo, sample_rate=8000, channels=2), "audio/wav")],
        "media_id bigint, content binary, mime string",
    )
    got = {
        r["win_idx"]: (r["energy"], r["zero_crossings"])
        for r in A.energy_windows(media, window_ms=25).collect()
    }
    win = 200
    expect = {}
    for i in range(len(mono) // win):  # ragged tail dropped
        seg = [
            (s + (s + 2 if s + 2 <= 32760 else s)) // 2
            for s in mono[i * win : (i + 1) * win]
        ]
        expect[i] = (
            sum(s**2 for s in seg),
            sum(1 for a, b in zip(seg, seg[1:]) if a * b < 0),
        )
    assert got == expect


def test_silence_trim_plan(spark):
    rows = [
        (1, 0, 200, 5),      # leading silence
        (1, 1, 200, 9000),
        (1, 2, 200, 8000),
        (1, 3, 200, 3),      # trailing silence
        (2, 0, 200, 1),      # fully silent: drops out
    ]
    en = spark.createDataFrame(rows, "media_id bigint, win_idx int, n int, energy bigint")
    got = {r["media_id"]: r for r in A.silence_trim_plan(en, threshold=100).collect()}
    assert set(got) == {1}
    assert (got[1]["first_active"], got[1]["last_active"], got[1]["active_windows"]) == (1, 2, 2)


def test_mp4_box_walk_v0_v1_and_rejects():
    import struct

    from conversation_analysis_tools_spark.operators import video as V

    meta = V.parse_mp4(V.synth_mp4(b"isom", 1000, 5000, 2))
    assert meta == {
        "major_brand": "isom", "timescale": 1000, "duration": 5000, "n_tracks": 2
    }
    # mvhd version 1 (64-bit creation/modification/duration)
    mvhd1 = V.mp4_box(
        b"mvhd",
        b"\x01\x00\x00\x00"
        + struct.pack(">QQIQ", 0, 0, 90000, 2**33)  # duration > 32 bits
        + b"\x00" * 76,
    )
    content = V.mp4_box(b"ftyp", b"mp42" + b"\x00" * 4 + b"mp42") + V.mp4_box(
        b"moov", mvhd1
    )
    meta1 = V.parse_mp4(content)
    assert meta1["timescale"] == 90000 and meta1["duration"] == 2**33
    # not BMFF / truncated / moov without mvhd -> None, never a throw
    assert V.parse_mp4(b"") is None
    assert V.parse_mp4(b"\x00\x00\x00\x08free") is None  # no ftyp first
    assert V.parse_mp4(V.mp4_box(b"ftyp", b"isom" * 3)[:10]) is None
    assert V.parse_mp4(V.mp4_box(b"ftyp", b"isom" * 3) + V.mp4_box(b"moov", b"")) is None


def test_video_metadata_drops_non_bmff(spark):
    from conversation_analysis_tools_spark.operators import video as V

    media = spark.createDataFrame(
        [(1, V.synth_mp4(b"isom", 600, 1234, 0), "video/mp4"), (2, b"junk", "x")],
        "media_id bigint, content binary, mime string",
    )
    rows = {r["media_id"]: r for r in V.video_metadata(media).collect()}
    assert set(rows) == {1}
    assert rows[1]["duration_ms"] == 2056 and rows[1]["n_tracks"] == 0


def test_malformed_containers_drop_not_throw():
    """Crash-class guards: corrupt-but-recognizable containers must
    behave like non-containers (None / row drop), never fail the job."""
    import struct

    from conversation_analysis_tools_spark.operators import video as V

    # WAV truncated mid-fmt (declares 16 fmt bytes, carries 4)
    trunc = (
        b"RIFF" + struct.pack("<I", 24) + b"WAVE"
        + struct.pack("<4sI", b"fmt ", 16) + b"\x01\x00\x02\x00"
    )
    assert A.parse_wav(trunc) is None
    # zeroed sample_rate / unsupported bit width: drop, no division
    zeroed = bytearray(A.wav_bytes(A.synth_pcm16(1, 10)))
    struct.pack_into("<I", zeroed, 24, 0)  # sample_rate = 0
    assert A.parse_wav(bytes(zeroed)) is None
    odd_bits = bytearray(A.wav_bytes(A.synth_pcm16(1, 10)))
    struct.pack_into("<H", odd_bits, 34, 12)  # bits = 12
    assert A.parse_wav(bytes(odd_bits)) is None
    # undersized mvhd boxes: empty body and 12-byte body
    for body in (b"", b"\x00" * 12):
        content = V.mp4_box(b"ftyp", b"isom" * 3) + V.mp4_box(
            b"moov", V.mp4_box(b"mvhd", body)
        )
        assert V.parse_mp4(content) is None
    # zeroed timescale: skip, never divide
    mvhd0 = V.mp4_box(
        b"mvhd", b"\x00\x00\x00\x00" + struct.pack(">IIII", 0, 0, 0, 99) + b"\x00" * 80
    )
    assert V.parse_mp4(
        V.mp4_box(b"ftyp", b"isom" * 3) + V.mp4_box(b"moov", mvhd0)
    ) is None


def test_energy_windows_drops_non_16bit(spark):
    """8-bit PCM parses as metadata but is dropped by the 16-bit
    energy featurizer instead of mis-decoding byte pairs."""
    import struct

    content = bytearray(A.wav_bytes(A.synth_pcm16(1, 400)))
    struct.pack_into("<H", content, 34, 8)  # bits = 8
    media = spark.createDataFrame(
        [(1, bytes(content), "audio/wav")],
        "media_id bigint, content binary, mime string",
    )
    assert A.audio_metadata(media).count() == 1  # still valid metadata
    assert A.energy_windows(media, window_ms=25).count() == 0


def test_empty_and_all_drop_batches(spark):
    """Empty media relations and batches where every row drops must
    yield empty typed results, not Arrow conversion errors."""
    from conversation_analysis_tools_spark.operators import video as V

    empty = spark.createDataFrame([], "media_id bigint, content binary, mime string")
    junk = spark.createDataFrame(
        [(1, b"junk", "x"), (2, b"more", "y")],
        "media_id bigint, content binary, mime string",
    )
    for media in (empty, junk):
        assert A.audio_metadata(media).count() == 0
        assert A.energy_windows(media).count() == 0
        assert V.video_metadata(media).count() == 0


def test_parsers_total_on_random_bytes():
    """Totality fuzz: arbitrary byte strings (including RIFF/BMFF-
    prefixed garbage) must parse to None/metadata or raise ONLY the
    documented codec NotImplementedError -- any other exception means
    one corrupt row can kill a whole Spark job."""
    import random

    from conversation_analysis_tools_spark.operators import video as V

    rng = random.Random(1234)
    prefixes = [
        b"", b"RIFF", b"RIFF\x00\x00\x00\x00WAVE", b"RIFF\xff\xff\xff\xffWAVE",
        b"\x00\x00\x00\x08ftyp", b"\x00\x00\x00\x10ftypisom",
        b"\xff\xff\xff\xffftyp", b"\x00\x00\x00\x01ftyp",
    ]
    for trial in range(300):
        body = bytes(rng.randrange(256) for _ in range(rng.randrange(0, 120)))
        payload = prefixes[trial % len(prefixes)] + body
        try:
            r = A.parse_wav(payload)
            assert r is None or isinstance(r, tuple)
        except NotImplementedError:
            pass  # the documented codec gate
        rv = V.parse_mp4(payload)
        assert rv is None or isinstance(rv, dict)


def test_synth_np_matches_scalar():
    # the vectorized synth must be value-identical to the scalar
    # recurrence the oracles re-derive
    from conversation_analysis_tools_spark.operators.audio import (
        synth_pcm16,
        synth_pcm16_np,
        wav_bytes,
    )

    for mid in (1, 7, 123):
        scalar = synth_pcm16(mid, 500)
        vec = synth_pcm16_np(mid, 500)
        assert list(vec) == scalar
        assert wav_bytes(vec) == wav_bytes(scalar)


def test_frv_container_fuzz_never_raises():
    # totality: random bytes must parse to None, never raise (same
    # contract as the WAV/BMFF fuzz in this file's family)
    import random

    from conversation_analysis_tools_spark.operators.video import (
        frv_bytes,
        parse_frv,
    )

    rng = random.Random(99)
    for _ in range(300):
        blob = bytes(rng.randrange(256) for _ in range(rng.randrange(0, 64)))
        parse_frv(blob)  # must not raise
        parse_frv(b"FRV1" + blob)
    # truncation anywhere inside a valid container -> None or a
    # shorter valid prefix, never an exception
    full = frv_bytes([b"abc", b"de", b"", b"fghi"])
    for cut in range(len(full)):
        parse_frv(full[:cut])


def test_frame_sample_stride_and_bytes(spark):
    from conversation_analysis_tools_spark.operators import video as V

    frames = [bytes([i] * (i + 1)) for i in range(7)]
    media = spark.createDataFrame(
        [(1, V.frv_bytes(frames), "video/x-frv"), (2, b"junk", "x")],
        "media_id bigint, content binary, mime string",
    )
    got = {
        r["frame_idx"]: bytes(r["frame"])
        for r in V.frame_sample(media, every_n=2).collect()
    }
    assert got == {0: frames[0], 2: frames[2], 4: frames[4], 6: frames[6]}


def test_energy_fingerprint_container_invariant(spark):
    # same PCM in a byte-different container (extra LIST chunk) must
    # fingerprint equal; a truncated clip of the same signal must not
    import struct

    from conversation_analysis_tools_spark.operators import audio as A

    base = A.wav_bytes(A.synth_pcm16(1, 1600))
    extra = struct.pack("<4sI4s", b"LIST", 10, b"INFO") + b"remux!"
    remux = base[:36] + extra + base[36:]
    remux = remux[:4] + struct.pack("<I", len(remux) - 8) + remux[8:]
    assert remux != base
    media = spark.createDataFrame(
        [
            (1, base, "audio/wav"),
            (2, remux, "audio/wav"),
            (3, A.wav_bytes(A.synth_pcm16(1, 1200)), "audio/wav"),
        ],
        "media_id bigint, content binary, mime string",
    )
    fps = {r["media_id"]: r["fp"] for r in A.energy_fingerprint(media).collect()}
    assert fps[1] == fps[2]
    assert fps[1] != fps[3]
    pairs = {(r["id1"], r["id2"]) for r in A.fingerprint_dup_pairs(
        A.energy_fingerprint(media)
    ).collect()}
    assert pairs == {(1, 2)}


def test_wav_bytes_rejects_out_of_range_samples():
    import pytest as _pytest

    from conversation_analysis_tools_spark.operators.audio import wav_bytes

    with _pytest.raises(ValueError):
        wav_bytes([0, 40000])
    with _pytest.raises(ValueError):
        wav_bytes([-40000])


def test_synth_np_no_overflow_at_large_k():
    # the vectorized recurrence reduces mod P term-by-term, so huge
    # sample indexes (past the naive k*k*31 int64 wrap at ~5.4e8)
    # still match the arbitrary-precision scalar recurrence
    from conversation_analysis_tools_spark.operators.audio import (
        _SIG_P,
        _SIG_SHIFT,
        synth_pcm16_np,
    )

    vec = synth_pcm16_np(3, 1)  # force import path
    for k in (600_000_000, 3_000_000_000):
        import numpy as np

        kk = np.arange(k, k + 4, dtype=np.int64) % _SIG_P
        got = ((kk * kk % _SIG_P) * 31 + kk * 7 + 3 * 13) % _SIG_P - _SIG_SHIFT
        want = [((i * i * 31 + i * 7 + 3 * 13) % _SIG_P) - _SIG_SHIFT
                for i in range(k, k + 4)]
        assert list(got) == want
