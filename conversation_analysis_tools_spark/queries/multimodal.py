"""Multimodal queries: metadata extraction over binary media columns.

The md5 digest is engine-portable, so even the pandas-UDF path gets a
real oracle: DuckDB recomputes n_bytes and the digest from the same
bytes; width/height come from the same md5-derived deterministic fake
(first two digest bytes), expressible in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from conversation_analysis_tools_spark.catalog import table as _catalog_table
from conversation_analysis_tools_spark.operators import multimodal as M
from conversation_analysis_tools_spark.queries.registry import register


@register(
    "multimodal_metadata",
    oracle="""
    SELECT doc_id AS media_id,
           'text/plain' AS mime,
           CAST(length(text) AS BIGINT) AS n_bytes,
           CAST(64 + CAST(strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1 AS INT) * 64
                   + CAST(strpos('0123456789abcdef', substr(md5(text), 2, 1)) - 1 AS INT) * 4
                AS INT) AS width,
           CAST(64 + CAST(strpos('0123456789abcdef', substr(md5(text), 3, 1)) - 1 AS INT) * 64
                   + CAST(strpos('0123456789abcdef', substr(md5(text), 4, 1)) - 1 AS INT) * 4
                AS INT) AS height,
           md5(text) AS content_digest
    FROM documents
    """,
)
def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column metadata extraction via mapInPandas (Arrow
    batches). The codec is the deterministic md5 fake (see
    operators/multimodal.decode_image) -- byte0*4+64 width,
    byte1*4+64 height -- which the oracle reproduces from hex digits
    (byte0 = 16*hex[0] + hex[1], so width = 64 + hex[0]*64 + hex[1]*4).
    """
    docs = _catalog_table(spark, "documents", sf_dir)
    media = M.docs_as_media(docs)
    return M.extract_metadata(media, fake=True)


@register(
    "multimodal_frame_plan",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(unnest(generate_series(0, octet_length(encode(text)) % 50, 10))
                AS INT) AS frame_idx
    FROM documents
    """,
)
def multimodal_frame_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plan shape (explode of per-media frame indexes);
    the real decoder is stubbed but the index math is deterministic
    (n_frames = byte_length %% 50 + 1, stride 10), so DuckDB can
    reproduce it with generate_series over octet_length."""
    docs = _catalog_table(spark, "documents", sf_dir)
    return M.frame_sample_plan(M.docs_as_media(docs))


@register(
    "image_phash_dedup",
    oracle="""
    SELECT * FROM (VALUES
        (CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(1 AS BIGINT)),
        (CAST(4 AS BIGINT), CAST(5 AS BIGINT), CAST(0 AS BIGINT))
    ) AS t(id1, id2, hamming)
    """,
)
def image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dup detection: decode -> 60-bit dHash
    (Arrow-batched mapInPandas, the only Python stage) -> 15-bit-block
    pigeonhole candidates -> exact hamming verify, all JVM-side
    (reuses the text-SimHash machinery; same bucket-join-linear scale
    shape -- never all-pairs).

    Fixed in-query corpus, so the oracle is literal and data-
    independent: two pixel-identical payloads (hamming 0), one
    single-bump edit (hamming 1 -- the tolerance a perceptual hash
    exists for), one heavier edit and two unrelated images that must
    NOT pair at max_hamming=3. Pixel decode is the deterministic
    locally-sensitive double (operators/multimodal.fake_pixels); the
    real path is PIL grayscale-resize behind the same import gate."""
    corpus = [
        (1, b"AAAA" + bytes([1, 2, 3, 4, 5, 6, 7, 8])),
        (2, b"AAAA" + bytes([1, 2, 3, 4, 5, 6, 7, 200])),  # near dup of 1
        (3, b"AAAA" + bytes([200, 201, 202, 203, 204, 205, 206, 207])),
        (4, b"BBBB" + bytes([1, 2, 3, 4, 5, 6, 7, 8])),
        (5, b"BBBB" + bytes([1, 2, 3, 4, 5, 6, 7, 8])),  # exact dup of 4
        (6, b"CCCC" + bytes([50] * 8)),
    ]
    media = spark.createDataFrame(
        [(i, c, "image/x-test") for i, c in corpus],
        "media_id bigint, content binary, mime string",
    )
    return M.image_neardup_pairs(media, max_hamming=3, fake=True)


#: Fixed audio corpus (media_id, sample_rate, n_samples): three mono
#: PCM16 WAVs with different rates/durations plus one shorter than a
#: single 25 ms window (must appear in metadata, drop from energies).
_AUDIO_CORPUS = [(1, 8000, 1600), (2, 8000, 1000), (3, 16000, 2400), (4, 8000, 120)]


def _audio_media(spark: SparkSession) -> DataFrame:
    from conversation_analysis_tools_spark.operators import audio as A

    rows = [
        (mid, A.wav_bytes(A.synth_pcm16(mid, n), sample_rate=sr), "audio/wav")
        for mid, sr, n in _AUDIO_CORPUS
    ]
    return spark.createDataFrame(rows, "media_id bigint, content binary, mime string")


@register(
    "audio_wav_metadata",
    oracle="""
    SELECT * FROM (VALUES
        (CAST(1 AS BIGINT), 1, 8000,  16, CAST(1600 AS BIGINT), CAST(200 AS BIGINT)),
        (CAST(2 AS BIGINT), 1, 8000,  16, CAST(1000 AS BIGINT), CAST(125 AS BIGINT)),
        (CAST(3 AS BIGINT), 1, 16000, 16, CAST(2400 AS BIGINT), CAST(150 AS BIGINT)),
        (CAST(4 AS BIGINT), 1, 8000,  16, CAST(120 AS BIGINT),  CAST(15 AS BIGINT))
    ) AS t(media_id, channels, sample_rate, bits, n_samples, duration_ms)
    """,
)
def audio_wav_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio container metadata over a binary column: a REAL RIFF/WAVE
    chunk-walk parse (operators/audio.parse_wav -- no codec library,
    pure byte math) in one Arrow-batched mapInPandas stage. The fixed
    in-query corpus makes the oracle a literal: the duration is
    integer math the parse must reproduce from the packed bytes."""
    from conversation_analysis_tools_spark.operators import audio as A

    return A.audio_metadata(_audio_media(spark))


@register(
    "audio_energy_windows",
    oracle="""
    WITH params(media_id, sr, n) AS (
        SELECT * FROM (VALUES (1, 8000, 1600), (2, 8000, 1000),
                              (3, 16000, 2400), (4, 8000, 120)) v
    ),
    idx AS (
        SELECT media_id,
               sr * 25 // 1000 AS win,
               n,
               unnest(generate_series(0, n - 1)) AS k
        FROM params
    ),
    samples AS (
        SELECT media_id, win, n, k,
               ((k*k*31 + k*7 + media_id*13) % 65521) - 32760 AS s
        FROM idx
    ),
    lagged AS (
        SELECT media_id, win, n, k, s,
               lag(s) OVER (PARTITION BY media_id ORDER BY k) AS ps
        FROM samples
    )
    SELECT CAST(media_id AS BIGINT) AS media_id,
           CAST(k // win AS INT) AS win_idx,
           CAST(win AS INT) AS n,
           CAST(SUM(s * s) AS BIGINT) AS energy,
           CAST(SUM(CASE WHEN k % win <> 0 AND s * ps < 0 THEN 1 ELSE 0 END)
                AS INT) AS zero_crossings
    FROM lagged
    WHERE k < (n // win) * win
    GROUP BY media_id, k // win, win
    """,
)
def audio_energy_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed audio features over binary WAV payloads: pack -> RIFF
    parse -> numpy int64 sum-of-squares + within-window zero-crossing
    count per 25 ms window in ONE map-only mapInPandas stage
    (operators/audio.energy_windows). The signal is the integer
    recurrence synth_pcm16, so DuckDB re-derives BOTH features EXACTLY
    from generate_series arithmetic (a lag window for the crossings) --
    a computed oracle that proves the whole byte path (struct pack,
    chunk walk, frombuffer, windowing, adjacent-pair sign logic)
    end-to-end, not a pinned literal. Media shorter than one full
    window drop out (id 4)."""
    from conversation_analysis_tools_spark.operators import audio as A

    return A.energy_windows(_audio_media(spark), window_ms=25)


@register(
    "video_mp4_metadata",
    oracle="""
    SELECT * FROM (VALUES
        (CAST(1 AS BIGINT), 'isom', 1000,  CAST(5000 AS BIGINT),  CAST(5000 AS BIGINT), 2),
        (CAST(2 AS BIGINT), 'mp42', 90000, CAST(63000 AS BIGINT), CAST(700 AS BIGINT),  1),
        (CAST(3 AS BIGINT), 'isom', 600,   CAST(1234 AS BIGINT),  CAST(2056 AS BIGINT), 0)
    ) AS t(media_id, major_brand, timescale, duration, duration_ms, n_tracks)
    """,
)
def video_mp4_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video container metadata over a binary column: a REAL ISO-BMFF
    box walk (operators/video.parse_mp4 -- ftyp brand, mvhd
    timescale/duration, trak count; pure byte math, no codec lib) in
    one Arrow-batched mapInPandas stage. The fixed in-query corpus
    (two brands, three timescales, a track-less container, one
    non-BMFF payload that must drop) makes the oracle literal;
    duration_ms = duration * 1000 // timescale is integer math the
    parse must reproduce from the packed bytes (row 3: 1234 * 1000 //
    600 = 2056, floor not round)."""
    from conversation_analysis_tools_spark.operators import video as V

    rows = [
        (1, V.synth_mp4(b"isom", 1000, 5000, 2), "video/mp4"),
        (2, V.synth_mp4(b"mp42", 90000, 63000, 1), "video/mp4"),
        (3, V.synth_mp4(b"isom", 600, 1234, 0), "video/mp4"),
        (4, b"certainly not a video container", "application/octet-stream"),
    ]
    media = spark.createDataFrame(
        rows, "media_id bigint, content binary, mime string"
    )
    return V.video_metadata(media)


@register(
    "audio_silence_trim",
    oracle="""
    WITH params(media_id, sr, n) AS (
        SELECT * FROM (VALUES (1, 8000, 1600), (2, 8000, 1000),
                              (3, 16000, 2400), (4, 8000, 120)) v
    ),
    idx AS (
        SELECT media_id,
               sr * 25 // 1000 AS win,
               n,
               unnest(generate_series(0, n - 1)) AS k
        FROM params
    ),
    energies AS (
        SELECT media_id,
               k // win AS win_idx,
               SUM((((k*k*31 + k*7 + media_id*13) % 65521) - 32760)
                 * (((k*k*31 + k*7 + media_id*13) % 65521) - 32760)) AS energy
        FROM idx
        WHERE k < (n // win) * win
        GROUP BY media_id, k // win
    )
    SELECT CAST(media_id AS BIGINT) AS media_id,
           CAST(MIN(win_idx) AS INT) AS first_active,
           CAST(MAX(win_idx) AS INT) AS last_active,
           CAST(COUNT(*) AS BIGINT) AS active_windows
    FROM energies
    WHERE energy >= 73000000000
    GROUP BY media_id
    """,
)
def audio_silence_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silence-trim bounds over the windowed features: first/last
    window clearing an energy threshold plus the active-window count,
    composed as energy_windows (Arrow-batched byte path) -> a plain
    JVM groupBy (operators/audio.silence_trim_plan). The threshold
    (7.3e10) sits inside the fixed corpus's actual per-window energy
    range (media 1 spans ~6.9-7.9e10 across its 8 windows), so several
    windows genuinely drop and the bounds are non-trivial; the oracle re-derives everything from the
    same integer recurrence."""
    from conversation_analysis_tools_spark.operators import audio as A

    return A.silence_trim_plan(
        A.energy_windows(_audio_media(spark), window_ms=25),
        threshold=73_000_000_000,
    )


@register(
    "streaming_audio_features",
    oracle="""
    WITH params(media_id, sr, n) AS (
        SELECT * FROM (VALUES (1, 8000, 1600), (2, 8000, 1000),
                              (3, 16000, 2400), (4, 8000, 120)) v
    ),
    idx AS (
        SELECT media_id,
               sr * 25 // 1000 AS win,
               n,
               unnest(generate_series(0, n - 1)) AS k
        FROM params
    ),
    samples AS (
        SELECT media_id, win, n, k,
               ((k*k*31 + k*7 + media_id*13) % 65521) - 32760 AS s
        FROM idx
    ),
    lagged AS (
        SELECT media_id, win, n, k, s,
               lag(s) OVER (PARTITION BY media_id ORDER BY k) AS ps
        FROM samples
    ),
    windows AS (
        SELECT media_id, k // win AS win_idx,
               SUM(s * s) AS energy,
               SUM(CASE WHEN k % win <> 0 AND s * ps < 0 THEN 1 ELSE 0 END) AS zc
        FROM lagged
        WHERE k < (n // win) * win
        GROUP BY media_id, k // win
    )
    SELECT CAST(media_id AS BIGINT) AS media_id,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(SUM(energy) AS BIGINT) AS total_energy,
           CAST(SUM(zc) AS BIGINT) AS total_crossings
    FROM windows
    GROUP BY media_id
    """,
)
def streaming_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming multimodal ingest: the fixed WAV corpus staged as
    parquet, consumed via a REAL readStream, pushed through the SAME
    Arrow-batched feature stage the batch path uses (mapInPandas is a
    stateless map on the stream), then a stateful per-media rollup
    (complete mode). The finite stream drains under availableNow, so
    the result equals the batch aggregation -- strict oracle from the
    integer recurrence. The shape a 100 TB ingest service runs:
    feature-extract on arrival, maintain rolling per-asset stats,
    payload bytes never enter the state store (only the KB-scale
    feature rows shuffle)."""
    import os

    from conversation_analysis_tools_spark.catalog import staging_dir
    from conversation_analysis_tools_spark.operators import audio as A
    from conversation_analysis_tools_spark.streaming.events import (
        drain,
        scoped_session,
    )

    d = staging_dir("stream_audio", sf_dir)
    marker = os.path.join(d, "_SUCCESS_audio")
    if not os.path.exists(marker):
        _audio_media(spark).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(d, "media.parquet")
        )
        open(marker, "w").close()
    s2 = scoped_session(spark, 8)
    src = s2.readStream.schema("media_id bigint, content binary, mime string").parquet(
        os.path.join(d, "media.parquet")
    )
    feats = A.energy_windows(src, window_ms=25)
    agg = feats.groupBy("media_id").agg(
        F.count("*").alias("n_windows"),
        F.sum("energy").alias("total_energy"),
        F.sum("zero_crossings").cast("bigint").alias("total_crossings"),
    )
    return drain(agg)


@register(
    "audio_manifest_metadata",
    oracle="""
    SELECT * FROM (VALUES
        (CAST(1 AS BIGINT), 1, 8000,  16, CAST(1600 AS BIGINT), CAST(200 AS BIGINT)),
        (CAST(2 AS BIGINT), 1, 8000,  16, CAST(1000 AS BIGINT), CAST(125 AS BIGINT)),
        (CAST(3 AS BIGINT), 1, 16000, 16, CAST(2400 AS BIGINT), CAST(150 AS BIGINT)),
        (CAST(4 AS BIGINT), 1, 8000,  16, CAST(120 AS BIGINT),  CAST(15 AS BIGINT))
    ) AS t(media_id, channels, sample_rate, bits, n_samples, duration_ms)
    """,
)
def audio_manifest_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pointer-based media layout, proven end-to-end: the fixed
    audio corpus is PACKED into packfiles + a (path, offset, length)
    manifest (operators/manifest.pack_media -- payload bytes move
    executor-side, atomic per-pack publish), then payloads are
    re-materialized via seek+read of exactly the manifest spans
    (read_media) and fed to the same RIFF chunk-walk parse as
    audio_wav_metadata. Matching that query's literal oracle
    certifies every byte survived the pack -> pointer -> partial-read
    round trip -- the layout a 100-TB media corpus needs when
    payloads are too large to inline in a parquet binary column
    (manifest rows stay KB-scale for relational work; payload bytes
    are fetched only for manifest rows that survive filtering, as
    ranged GETs at object-store scale)."""
    from conversation_analysis_tools_spark.operators import audio as A
    from conversation_analysis_tools_spark.operators import manifest as MF

    man = MF.pack_and_manifest(
        spark, _audio_media(spark), "audiopack2", sf_dir, n_packs=2
    )
    return A.audio_metadata(MF.read_media(man))


@register(
    "shard_media_roundtrip",
    oracle="""
    WITH params(media_id, sr, n) AS (
        SELECT * FROM (VALUES (1, 8000, 1600), (2, 8000, 1000),
                              (3, 16000, 2400), (4, 8000, 120)) v
    )
    SELECT CAST(strpos('0123456789abcdef',
                       substr(md5(CAST(media_id AS VARCHAR)), 1, 1)) - 1
                AS BIGINT) % 16 AS shard,
           CAST(media_id AS BIGINT) AS media_id,
           sr AS sample_rate,
           CAST(n AS BIGINT) AS n_samples,
           CAST(n * 1000 / sr AS BIGINT) AS duration_ms,
           TRUE AS text_doc_same_shard
    FROM params
    """,
)
def shard_media_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MULTIMODAL training-shard writer, certified end-to-end:
    write_multimodal_shards emits text parquet + packfiles + a
    shard-partitioned pointer manifest in one call, then this query
    reads the shard set BACK -- payloads re-materialized from exactly
    the manifest spans with ``verify='digest'`` (any byte that did
    not survive shard -> pointer -> partial read raises, it can never
    flow into a green row), parsed by the same RIFF chunk walk as
    audio_wav_metadata, and joined against the TEXT side to certify
    the owning doc landed in the SAME md5-bucket shard directory.
    The oracle recomputes shard assignment and audio metadata from
    the corpus definition alone, so a misrouted payload, a torn span,
    or a text/media shard-function drift each turn the row red."""
    from conversation_analysis_tools_spark.catalog import staging_dir
    from conversation_analysis_tools_spark.operators import audio as A
    from conversation_analysis_tools_spark.operators import manifest as MF
    from conversation_analysis_tools_spark.sources.sinks import (
        write_multimodal_shards,
    )

    media = _audio_media(spark).withColumn("doc_id", F.col("media_id"))
    docs = media.select(
        "doc_id", F.concat(F.lit("doc "), F.col("doc_id")).alias("text")
    )
    out = staging_dir("mmshards", sf_dir)
    # Memoized on a CONTENT fingerprint (row count + payload bytes +
    # payload crc32 sum + shard count): pack_media writes
    # attempt-unique packfile names, so an unconditional re-shard per
    # run would accumulate orphan packs forever; a definition change
    # wipes the staging dir and re-shards instead of silently serving
    # stale shards (the pack_and_manifest memo rule).
    import os
    import shutil

    r = media.agg(
        F.count("*").alias("n"),
        F.sum(F.length("content")).alias("b"),
        F.sum(F.crc32("content")).alias("c"),
    ).collect()[0]
    fp = f"{r['n']}:{r['b']}:{r['c']}:shards16"
    marker = os.path.join(out, "_SUCCESS_mmshards")
    fresh = os.path.exists(marker) and open(marker).read() == fp
    if not fresh:
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out, exist_ok=True)
        write_multimodal_shards(docs, media, out, n_shards=16)
        with open(marker, "w") as f:
            f.write(fp)

    man = spark.read.parquet(f"{out}/media_manifest")
    meta = A.audio_metadata(MF.read_media(man, verify="digest"))
    media_shards = man.select(
        "media_id", "doc_id", F.col("shard").cast("bigint").alias("shard")
    )
    text_shards = spark.read.parquet(f"{out}/text").select(
        F.col("doc_id").alias("_tdoc"), F.col("shard").cast("bigint").alias("_tshard")
    )
    return (
        meta.join(media_shards, "media_id")
        .join(text_shards, F.col("doc_id") == F.col("_tdoc"), "left")
        .select(
            "shard",
            "media_id",
            "sample_rate",
            "n_samples",
            "duration_ms",
            (F.col("_tshard") == F.col("shard")).alias("text_doc_same_shard"),
        )
    )


@register(
    "streaming_audio_manifest",
    oracle="""
    WITH params(media_id, sr, n) AS (
        SELECT * FROM (VALUES (1, 8000, 1600), (2, 8000, 1000),
                              (3, 16000, 2400), (4, 8000, 120)) v
    ),
    idx AS (
        SELECT media_id,
               sr * 25 // 1000 AS win,
               n,
               unnest(generate_series(0, n - 1)) AS k
        FROM params
    ),
    samples AS (
        SELECT media_id, win, n, k,
               ((k*k*31 + k*7 + media_id*13) % 65521) - 32760 AS s
        FROM idx
    ),
    lagged AS (
        SELECT media_id, win, n, k, s,
               lag(s) OVER (PARTITION BY media_id ORDER BY k) AS ps
        FROM samples
    ),
    windows AS (
        SELECT media_id, k // win AS win_idx,
               SUM(s * s) AS energy,
               SUM(CASE WHEN k % win <> 0 AND s * ps < 0 THEN 1 ELSE 0 END) AS zc
        FROM lagged
        WHERE k < (n // win) * win
        GROUP BY media_id, k // win
    )
    SELECT CAST(media_id AS BIGINT) AS media_id,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(SUM(energy) AS BIGINT) AS total_energy,
           CAST(SUM(zc) AS BIGINT) AS total_crossings
    FROM windows
    GROUP BY media_id
    """,
)
def streaming_audio_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest over the POINTER layout: a REAL readStream on
    the packed MANIFEST (KB-scale rows -- the stream carries pointers,
    not payloads), payload bytes fetched per micro-batch by the same
    seek+read Arrow stage the batch path uses (operators/manifest.
    read_media is a stateless map on the stream), then the windowed
    feature stage and a stateful per-media rollup in complete mode.
    Drained under availableNow, the result must equal the batch
    aggregation -- the SAME strict integer-recurrence oracle as
    streaming_audio_features, which certifies byte-exactness through
    pack -> manifest stream -> ranged read -> RIFF parse -> features.
    This is the 100-TB ingest-service shape when payloads are too
    large to inline: checkpointed progress and state track manifest
    rows; packfiles are immutable blobs fetched on demand."""
    import os

    from conversation_analysis_tools_spark.operators import audio as A
    from conversation_analysis_tools_spark.operators import manifest as MF
    from conversation_analysis_tools_spark.streaming.events import (
        drain,
        scoped_session,
    )

    # same memoized packfiles as audio_manifest_metadata
    man = MF.pack_and_manifest(
        spark, _audio_media(spark), "audiopack2", sf_dir, n_packs=2
    )
    man_dir = os.path.dirname(man.inputFiles()[0])
    s2 = scoped_session(spark, 8)
    src = s2.readStream.schema(
        "media_id bigint, mime string, path string, offset bigint,"
        " length bigint, payload_md5 string"
    ).parquet(man_dir)
    feats = A.energy_windows(MF.read_media(src), window_ms=25)
    agg = feats.groupBy("media_id").agg(
        F.count("*").alias("n_windows"),
        F.sum("energy").alias("total_energy"),
        F.sum("zero_crossings").cast("bigint").alias("total_crossings"),
    )
    return drain(agg)


#: Fixed raster corpus (media_id, width, height): two factor-4
#: divisible grids and one ragged (18x10 -> the right/bottom edges
#: drop, output 4x2 -- the fixed-grid pooling rule).
_RASTER_CORPUS = [(1, 32, 16), (2, 20, 12), (3, 18, 10)]


def _raster_media(spark: SparkSession) -> DataFrame:
    rows = [
        (mid, M.pgm_bytes(M.synth_gray_np(mid, w, h)), "image/x-portable-graymap")
        for mid, w, h in _RASTER_CORPUS
    ]
    return spark.createDataFrame(rows, "media_id bigint, content binary, mime string")


@register(
    "image_resize_pool",
    oracle="""
    WITH params(media_id, w, h) AS (
        SELECT * FROM (VALUES (1, 32, 16), (2, 20, 12), (3, 18, 10)) v
    ),
    dims AS (SELECT media_id, w, h, w // 4 AS ow, h // 4 AS oh FROM params),
    cells AS (
        SELECT media_id, ow, oh, gi.i, gj.j,
               SUM(((4*gi.i+gb.br)*31 + (4*gj.j+gc.bc)*7 + media_id*13) % 251)
                 // 16 AS p
        FROM dims,
             generate_series(0, 3) AS gi(i),
             generate_series(0, 7) AS gj(j),
             generate_series(0, 3) AS gb(br),
             generate_series(0, 3) AS gc(bc)
        WHERE gi.i < oh AND gj.j < ow
        GROUP BY media_id, ow, oh, gi.i, gj.j
    )
    SELECT CAST(media_id AS BIGINT) AS media_id,
           CAST(ow AS INT) AS width, CAST(oh AS INT) AS height,
           CAST(SUM(p) AS BIGINT) AS pixel_sum,
           CAST(SUM(p * (i*ow + j + 1)) AS BIGINT) AS pos_checksum
    FROM cells GROUP BY media_id, ow, oh
    """,
)
def image_resize_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize over a binary column, byte-path-proven: the
    fixed grayscale corpus is packed as binary PGM (pure byte math,
    no codec lib -- the raster analogue of the WAV path), block-mean
    downscaled 4x by operators/multimodal.resize_pool (integer mean,
    ragged edges dropped: media 3 is 18x10 -> 4x2), RE-ENCODED as
    PGM, then this query re-parses the RESIZED BYTES and emits
    integer-exact stats of the output grid (pixel sum + a
    position-weighted checksum that catches any pixel misplacement).
    The DuckDB oracle re-derives every pooled pixel from the synth
    recurrence with generate_series arithmetic, so a match certifies
    encode -> parse -> pool -> re-encode -> re-parse end-to-end.
    Both mapInPandas stages are map-only Arrow islands -- the brief's
    'resize' multimodal operator as a first-class citizen, not
    dhash-internal plumbing. sf_dir unused (fixed corpus)."""
    resized = M.resize_pool(_raster_media(spark), factor=4)

    def stats(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                parsed = M.parse_pgm(bytes(content))
                if parsed is None:
                    continue
                w, h, a = parsed
                a = a.astype(np.int64)
                i = np.arange(h)[:, None]
                j = np.arange(w)[None, :]
                rows.append(
                    (mid, w, h, int(a.sum()), int((a * (i * w + j + 1)).sum()))
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "width", "height", "pixel_sum", "pos_checksum"],
            )

    return resized.select("media_id", "content").mapInPandas(
        stats,
        "media_id bigint, width int, height int, pixel_sum bigint,"
        " pos_checksum bigint",
    )


#: Fixed frame-container corpus (media_id, n_frames); every frame is
#: an 8x4 PGM whose pixel (r, c) of frame f is
#: (r*31 + c*7 + media_id*13 + f*17) % 251.
_FRV_CORPUS = [(1, 7), (2, 3), (3, 10)]


def _frv_media(spark: SparkSession) -> DataFrame:
    import numpy as np

    from conversation_analysis_tools_spark.operators import video as V

    rows = []
    for mid, nf in _FRV_CORPUS:
        r = np.arange(4, dtype=np.int64)[:, None]
        c = np.arange(8, dtype=np.int64)[None, :]
        frames = [
            M.pgm_bytes(((r * 31 + c * 7 + mid * 13 + f * 17) % 251).astype("uint8"))
            for f in range(nf)
        ]
        rows.append((mid, V.frv_bytes(frames), "video/x-frv"))
    return spark.createDataFrame(rows, "media_id bigint, content binary, mime string")


@register(
    "video_frame_sample",
    oracle="""
    WITH params(media_id, nf) AS (SELECT * FROM (VALUES (1,7),(2,3),(3,10)) v),
    fr AS (
        SELECT media_id, gf.f FROM params, generate_series(0, 9) AS gf(f)
        WHERE gf.f < nf AND gf.f % 3 = 0
    ),
    cells AS (
        SELECT media_id, f, gr.r, gc.c,
               (gr.r*31 + gc.c*7 + media_id*13 + f*17) % 251 AS s
        FROM fr, generate_series(0, 3) AS gr(r), generate_series(0, 7) AS gc(c)
    )
    SELECT CAST(media_id AS BIGINT) AS media_id, CAST(f AS INT) AS frame_idx,
           CAST(SUM(s) AS BIGINT) AS pixel_sum,
           CAST(SUM(s * (r*8 + c + 1)) AS BIGINT) AS pos_checksum
    FROM cells GROUP BY media_id, f
    """,
)
def video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL frame sampling over a binary video column: the fixed
    corpus packs per-frame PGM rasters into a length-prefixed FRV1
    container (pure byte math -- raw-video interchange shape, no
    codec), operators/video.frame_sample walks the container and
    emits every 3rd frame as an exact byte slice, and this query
    re-parses each EMITTED FRAME's bytes into integer-exact stats.
    The DuckDB oracle re-derives every sampled frame's pixels from
    the recurrence, so a match certifies container walk, sampling
    stride, and frame byte slicing end-to-end (a misplaced length
    prefix or off-by-one stride shifts pos_checksum). Both stages are
    map-only Arrow islands; the expansion is bounded at
    frames/every_n rows per media. Upgrades multimodal's
    frame_sample_plan from a plan shape to a proven operator.
    sf_dir unused (fixed corpus)."""
    from conversation_analysis_tools_spark.operators import video as V

    sampled = V.frame_sample(_frv_media(spark), every_n=3)

    def stats(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            rows = []
            for mid, fidx, frame in zip(
                pdf["media_id"], pdf["frame_idx"], pdf["frame"]
            ):
                parsed = M.parse_pgm(bytes(frame))
                if parsed is None:
                    continue
                w, h, a = parsed
                a = a.astype(np.int64)
                i = np.arange(h)[:, None]
                j = np.arange(w)[None, :]
                rows.append(
                    (mid, fidx, int(a.sum()), int((a * (i * w + j + 1)).sum()))
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "frame_idx", "pixel_sum", "pos_checksum"]
            )

    return sampled.mapInPandas(
        stats,
        "media_id bigint, frame_idx int, pixel_sum bigint, pos_checksum bigint",
    )


#: Audio-dedup corpus: (media_id, signal_id, sample_rate, n_samples).
#: Media 4 carries media 1's SIGNAL in a byte-DIFFERENT container (an
#: extra LIST chunk before data): file-hash dedup misses it, the
#: decoded-feature fingerprint catches it. Media 3 is the same signal
#: truncated (different window count -> different fingerprint);
#: media 6 repeats signal 2 byte-identically.
_AFP_CORPUS = [
    (1, 1, 8000, 1600),
    (2, 2, 8000, 1600),
    (3, 1, 8000, 1200),
    (4, 1, 8000, 1600),  # LIST-chunk container variant of media 1
    (5, 5, 16000, 2400),
    (6, 2, 8000, 1600),
]


def _afp_media(spark: SparkSession) -> DataFrame:
    import struct as _struct

    from conversation_analysis_tools_spark.operators import audio as A

    rows = []
    for mid, sig, sr, n in _AFP_CORPUS:
        wav = A.wav_bytes(A.synth_pcm16(sig, n), sample_rate=sr)
        if mid == 4:
            # splice an INFO LIST chunk between fmt and data and fix
            # the RIFF size field -- decoded PCM identical, bytes not
            extra = _struct.pack("<4sI4s", b"LIST", 10, b"INFO") + b"remux!"
            wav = wav[:36] + extra + wav[36:]
            wav = wav[:4] + _struct.pack("<I", len(wav) - 8) + wav[8:]
        rows.append((mid, wav, "audio/wav"))
    return spark.createDataFrame(rows, "media_id bigint, content binary, mime string")


@register(
    "audio_dedup_fingerprint",
    oracle="""
    WITH params(media_id, sig, sr, n) AS (
        SELECT * FROM (VALUES (1, 1, 8000, 1600), (2, 2, 8000, 1600),
                              (3, 1, 8000, 1200), (4, 1, 8000, 1600),
                              (5, 5, 16000, 2400), (6, 2, 8000, 1600)) v
    ),
    idx AS (
        SELECT media_id, sig, sr * 25 // 1000 AS win, n,
               unnest(generate_series(0, n - 1)) AS k
        FROM params
    ),
    energies AS (
        SELECT media_id, k // win AS win_idx,
               SUM((((k*k*31 + k*7 + sig*13) % 65521) - 32760)
                 * (((k*k*31 + k*7 + sig*13) % 65521) - 32760)) AS energy
        FROM idx WHERE k < (n // win) * win
        GROUP BY media_id, k // win
    ),
    fps AS (
        SELECT media_id,
               md5(string_agg(win_idx || ':' || energy, ',' ORDER BY win_idx))
                   AS fp
        FROM energies GROUP BY media_id
    )
    SELECT CAST(a.media_id AS BIGINT) AS id1, CAST(b.media_id AS BIGINT) AS id2
    FROM fps a JOIN fps b ON a.fp = b.fp AND a.media_id < b.media_id
    """,
)
def audio_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup at the DECODED-FEATURE grain: audio fingerprints are md5
    over each clip's ordered window-energy sequence
    (operators/audio.energy_fingerprint), pairs share a fingerprint.
    The planted case is the one file-hash dedup cannot catch: media 4
    is media 1's exact audio re-muxed with an extra LIST chunk --
    byte-different container, identical PCM, so (1,4) pairs here and
    would NOT pair under md5(content). The truncated clip (media 3,
    same signal, fewer windows) correctly does NOT pair. Computed
    oracle: DuckDB re-derives every window energy from the integer
    recurrence and rebuilds the same canonical-string md5, while
    Spark goes through the actual spliced container bytes -- proving
    chunk-walk robustness AND the fingerprint discipline end-to-end.
    Plan: one Arrow feature stage, one map-combined groupBy, one
    KB-row digest equi-join. sf_dir unused (fixed corpus)."""
    from conversation_analysis_tools_spark.operators import audio as A

    fps = A.energy_fingerprint(_afp_media(spark), window_ms=25, quant=1)
    return A.fingerprint_dup_pairs(fps)


@register(
    "image_pgm_dhash_dedup",
    oracle="""
    SELECT * FROM (VALUES
        (CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(0 AS BIGINT)),
        (CAST(1 AS BIGINT), CAST(3 AS BIGINT), CAST(1 AS BIGINT)),
        (CAST(2 AS BIGINT), CAST(3 AS BIGINT), CAST(1 AS BIGINT))
    ) AS t(id1, id2, hamming)
    """,
)
def image_pgm_dhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dup over REAL pixels, no imaging library:
    binary PGM payloads decode through the pure-byte pgm_pixels path
    (parse -> integer block-mean pool to the 6x11 dhash grid -- decode
    AND resize with zero codec deps), then the standard dHash ->
    15-bit-block pigeonhole candidates -> exact hamming verify.

    The fixed corpus is authored AT the hash grid (6x11 rasters, so
    pooling is the identity and every bit is hand-derivable): images
    1/2 are byte-identical monotone gradients (every difference bit
    set -> hamming 0); image 3 bumps exactly ONE pixel past its right
    neighbor, flipping exactly ONE comparison (hamming 1 -- the edit
    tolerance a perceptual hash exists for); image 4 reverses the
    gradient (hamming 60) and image 5 alternates columns (hamming 30)
    -- both must NOT pair at max_hamming=3. The literal oracle is
    therefore fully hand-derived from the dHash definition, not
    pinned from a run. Upgrades image dedup to the same
    real-byte-path standard as the audio/video/raster families.
    sf_dir unused (fixed corpus)."""
    import numpy as np

    grad = np.array(
        [[(i * 20 + j * 10) for j in range(11)] for i in range(6)], dtype="uint8"
    )
    bumped = grad.copy()
    bumped[0, 0] = 255  # 255 > grad[0,1]=10: flips comparison (0,0)<(0,1)
    rows = [
        (1, M.pgm_bytes(grad)),
        (2, M.pgm_bytes(grad)),
        (3, M.pgm_bytes(bumped)),
        (4, M.pgm_bytes(200 - grad)),
        (5, M.pgm_bytes(np.tile(np.array([[0, 255]], dtype="uint8"), (6, 6))[:, :11])),
    ]
    media = spark.createDataFrame(
        [(i, c, "image/x-portable-graymap") for i, c in rows],
        "media_id bigint, content binary, mime string",
    )
    return M.image_neardup_pairs(media, max_hamming=3, fake=False)
