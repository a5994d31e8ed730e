"""Audio operators over binary waveform columns.

The reference treats media attachments as opaque blobs (metadata
only); this module is the task-brief multimodal extension for audio:
container parse, windowed feature extraction and a silence-trim plan,
each an Arrow-batched ``mapInPandas`` stage over a ``binary`` column
(one Python island per operator, never per-row UDFs). The container
image ships no audio codec libraries, so DECODE of compressed formats
is gated behind ``NotImplementedError``; uncompressed PCM16 WAV is
parsed for real -- pure byte math on the RIFF container, no library.

Scale posture: every stage here is map-only over the media table
(binary payloads stay inside Arrow record batches; nothing is
collected), and the per-window feature rows it emits are a bounded
linear expansion (duration / window). Aggregations over the feature
rows (the trim plan) are plain JVM-side groupBy on the media id --
one shuffle of KB-scale rows, combiner-friendly.

Determinism contract: the synthetic test signal is INTEGER-only
(``synth_pcm16``), so windowed sums of squares are exact int64s that
an external engine can re-derive from the same recurrence -- the
DuckDB oracles recompute them from scratch with generate_series
arithmetic while Spark goes through the actual WAV BYTES (pack ->
parse -> numpy), proving the byte path end-to-end.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Modulus of the integer pseudo-signal (largest prime < 2^16); the
#: recurrence stays inside int16 by construction.
_SIG_P = 65521
_SIG_SHIFT = 32760


def synth_pcm16(media_id: int, n_samples: int) -> list[int]:
    """Deterministic integer pseudo-signal: sample k of media m is
    ``((k*k*31 + k*7 + m*13) % 65521) - 32760`` -- integer-only (no
    transcendentals, so bit-identical in any engine), bounded to
    [-32760, 32760] which fits int16 exactly."""
    return [
        ((k * k * 31 + k * 7 + media_id * 13) % _SIG_P) - _SIG_SHIFT
        for k in range(n_samples)
    ]


def synth_pcm16_np(media_id: int, n_samples: int):
    """Vectorized ``synth_pcm16`` (same recurrence, same values --
    pinned by tests/test_audio.py): int64 numpy evaluation so corpus
    builders can synthesize huge corpora without a Python per-sample
    loop. Arithmetic is REDUCED MOD P
    term-by-term (k*k computed on residues), so intermediates stay
    under ~P^2*31 ~= 1.3e14 and the recurrence never hits int64 wrap
    -- a naive k*k*31 overflows silently past k ~= 5.4e8, which would
    diverge from the arbitrary-precision scalar path and every
    integer-recurrence oracle with no error raised."""
    import numpy as np

    k = np.arange(n_samples, dtype=np.int64) % _SIG_P
    return ((k * k % _SIG_P) * 31 + k * 7 + media_id * 13) % _SIG_P - _SIG_SHIFT


def wav_bytes(samples, sample_rate: int = 8000, channels: int = 1) -> bytes:
    """Minimal RIFF/WAVE container around little-endian PCM16 frames
    (fmt chunk 16 bytes, PCM tag 1) -- the layout every WAV reader
    accepts. ``samples`` is any int sequence (list or numpy array)
    within int16 range; the payload is little-endian either way.
    Out-of-range and non-integer samples raise (the full
    struct.pack('h') strictness this replaced): a bare int64
    np.asarray would silently WRAP 40000 to -25536 and silently
    TRUNCATE 0.7 to 0, emitting corrupt-but-valid WAV bytes that flow
    into fingerprints and oracles with no error at the source."""
    import numpy as np

    arr_in = np.asarray(samples)
    if len(arr_in) and not np.issubdtype(arr_in.dtype, np.integer):
        # full struct.pack('h') strictness: a float sample would be
        # silently truncated toward zero by an int64 cast
        raise TypeError(f"non-integer samples (dtype {arr_in.dtype})")
    arr = arr_in.astype(np.int64) if len(arr_in) else np.zeros(0, dtype=np.int64)
    if len(arr) and (arr.max(initial=0) > 32767 or arr.min(initial=0) < -32768):
        raise ValueError("sample out of int16 range")
    data = arr.astype("<i2").tobytes()
    byte_rate = sample_rate * channels * 2
    fmt = struct.pack(
        "<4sIHHIIHH", b"fmt ", 16, 1, channels, sample_rate, byte_rate, channels * 2, 16
    )
    hdr = struct.pack("<4sI4s", b"RIFF", 4 + len(fmt) + 8 + len(data), b"WAVE")
    return hdr + fmt + struct.pack("<4sI", b"data", len(data)) + data


def parse_wav(content: bytes) -> tuple[int, int, int, bytes] | None:
    """(channels, sample_rate, bits, pcm_bytes) from a RIFF/WAVE
    container, walking the chunk list (fmt may be padded or followed
    by LIST chunks in real files). None when the container is not a
    WAV; NotImplementedError for non-PCM codecs (compressed audio
    needs a decoder this container does not ship)."""
    if len(content) < 12 or content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        return None
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(content):
        cid, size = content[pos : pos + 4], struct.unpack("<I", content[pos + 4 : pos + 8])[0]
        body = content[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            if len(body) < 16:  # truncated mid-fmt: malformed, not a codec
                return None
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        return None
    tag, channels, sample_rate, _rate, _align, bits = fmt
    if tag != 1:
        raise NotImplementedError(
            f"compressed WAV codec tag {tag}: no audio decoder in this environment"
        )
    if channels < 1 or sample_rate < 1 or bits not in (8, 16, 24, 32):
        return None  # zeroed/garbage header fields: drop, never divide by them
    return channels, sample_rate, bits, data


def audio_metadata(
    media: DataFrame, id_col: str = "media_id", content_col: str = "content"
) -> DataFrame:
    """Per-media container metadata: one Arrow-batched mapInPandas
    stage, map-only. duration_ms is integer math (n_samples * 1000 //
    sample_rate) so external engines reproduce it exactly."""
    out_schema = (
        f"{id_col} bigint, channels int, sample_rate int, bits int, "
        "n_samples bigint, duration_ms bigint"
    )

    def batches(it):
        import pandas as pd

        for pdf in it:
            rows = []
            for mid, content in zip(pdf[id_col], pdf[content_col]):
                parsed = parse_wav(bytes(content))
                if parsed is None:
                    continue
                channels, rate, bits, data = parsed
                n = len(data) // (channels * bits // 8)
                rows.append((mid, channels, rate, bits, n, n * 1000 // rate))
            yield pd.DataFrame(
                rows,
                columns=[id_col, "channels", "sample_rate", "bits", "n_samples", "duration_ms"],
            )

    return media.mapInPandas(batches, out_schema)


def energy_windows(
    media: DataFrame,
    window_ms: int = 25,
    id_col: str = "media_id",
    content_col: str = "content",
) -> DataFrame:
    """Windowed audio features: PCM16 frames bucketed into
    ``window_ms`` windows; per full window (the ragged tail is
    dropped, same rule as any fixed-frame featurizer):

    * ``energy`` -- exact int64 sum of squares;
    * ``zero_crossings`` -- count of within-window adjacent sample
      pairs whose product is negative (the classic voiced/unvoiced
      and noisiness discriminator). Integer-exact by construction,
      so both features are externally re-derivable.

    One map-only mapInPandas stage; the per-window expansion is
    linear in duration."""
    out_schema = (
        f"{id_col} bigint, win_idx int, n int, energy bigint, zero_crossings int"
    )

    def batches(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            rows = []
            for mid, content in zip(pdf[id_col], pdf[content_col]):
                parsed = parse_wav(bytes(content))
                if parsed is None:
                    continue
                channels, rate, bits, data = parsed
                if bits != 16:
                    # 8/24/32-bit PCM needs width-specific decode;
                    # pairing their bytes as int16 would be silently
                    # wrong energies -- drop, same as unparseable rows
                    continue
                pcm = np.frombuffer(
                    data[: len(data) - len(data) % (2 * channels)], dtype="<i2"
                ).astype(np.int64)
                if channels > 1:  # average down to mono, floor division
                    pcm = pcm.reshape(-1, channels).sum(axis=1) // channels
                win = rate * window_ms // 1000
                n_full = len(pcm) // win if win else 0
                if not n_full:
                    continue
                w = pcm[: n_full * win].reshape(n_full, win)
                e = (w**2).sum(axis=1)
                zc = ((w[:, 1:] * w[:, :-1]) < 0).sum(axis=1)
                rows.extend(
                    (mid, i, win, int(e[i]), int(zc[i])) for i in range(n_full)
                )
            yield pd.DataFrame(
                rows, columns=[id_col, "win_idx", "n", "energy", "zero_crossings"]
            )

    return media.mapInPandas(batches, out_schema)


def silence_trim_plan(
    energies: DataFrame, threshold: int, id_col: str = "media_id"
) -> DataFrame:
    """Leading/trailing silence trim as window bounds: per media, the
    first and last window whose energy clears ``threshold`` (plus the
    count of active windows). Pure JVM-side aggregation over the
    feature rows -- one map-combined shuffle on the media id; media
    that never clear the threshold drop out (fully silent)."""
    active = energies.where(F.col("energy") >= F.lit(threshold))
    return active.groupBy(id_col).agg(
        F.min("win_idx").alias("first_active"),
        F.max("win_idx").alias("last_active"),
        F.count("*").alias("active_windows"),
    )


def energy_fingerprint(
    media: DataFrame,
    window_ms: int = 25,
    quant: int = 1,
    id_col: str = "media_id",
    content_col: str = "content",
) -> DataFrame:
    """Decode-grain audio fingerprint: md5 over the ordered sequence
    of (window index, energy // quant) pairs from ``energy_windows``.
    Two files fingerprint equal iff their DECODED PCM features match
    -- byte-different containers with identical audio (an extra LIST
    chunk, re-muxed metadata: the mirror/re-upload case) collide
    here while md5-of-file dedup misses them. ``quant`` coarsens
    energies for near-dup tolerance (1 = exact).

    Plan: the Arrow feature stage, then ONE map-combined groupBy on
    the media id -- fingerprint rows are (id, 32-hex) KB-scale, and
    the digest is md5 over a canonical string, so external engines
    reproduce it exactly (the cross-engine hash discipline every
    MinHash path here uses)."""
    feats = energy_windows(media, window_ms, id_col, content_col)
    # quantize with LONG integer division (`div`), never float `/`:
    # energies are exact int64s and the digest must be re-derivable by
    # an external engine bit-for-bit -- a double division rounds
    # before floor once energies pass 2^53 (long windows / high
    # rates), silently breaking the cross-engine hash discipline. At
    # the quant=1 default the energy passes through untouched.
    qe = F.col("energy") if quant == 1 else F.expr(f"energy div {int(quant)}")
    return (
        feats.select(id_col, "win_idx", qe.cast("bigint").alias("_qe"))
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list(F.struct("win_idx", "_qe"))).alias("_w"))
        .select(
            F.col(id_col),
            F.md5(
                F.concat_ws(
                    ",", F.transform(F.col("_w"), lambda x: F.concat_ws(
                        ":",
                        x["win_idx"].cast("string"),
                        x["_qe"].cast("string"),
                    ))
                ).cast("binary")
            ).alias("fp"),
        )
    )


def fingerprint_dup_pairs(
    fps: DataFrame, id_col: str = "media_id"
) -> DataFrame:
    """(id1, id2) pairs sharing a fingerprint: equi-join on the
    digest, id1 < id2 -- bucket sizes are dup-cluster sizes, never
    corpus-scale."""
    a = fps.select(F.col(id_col).alias("id1"), "fp")
    b = fps.select(F.col(id_col).alias("id2"), "fp")
    return a.join(b, "fp").where(F.col("id1") < F.col("id2")).select("id1", "id2")
