"""Infra/serving extension queries: COW table, streaming gates,
multimodal codecs, graph analytics, interchange round-trips, and
monitoring."""



from __future__ import annotations



import os

import tempfile

import uuid

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from spotify_tracks_etl_portfolio_spark.plans import register

from spotify_tracks_etl_portfolio_spark.sources.readers import read_parquet_table

from spotify_tracks_etl_portfolio_spark.streaming.pipeline import (
    pinned_stream_session,
)

from spotify_tracks_etl_portfolio_spark.operators import multimodal as _mm  # noqa: E402

from spotify_tracks_etl_portfolio_spark.operators import graph as _gr  # noqa: E402

from spotify_tracks_etl_portfolio_spark.plans._ext_shared import (  # noqa: E501
    _session_scratch,
    _utf8_bytes_sql,
)



_MM_WIDTH = 16



@register(
    "multimodal_decode_features",
    oracle=f"""
WITH d AS (
  SELECT doc_id,
         octet_length(encode(text)) AS n,
         COALESCE(CAST(list_sum({_utf8_bytes_sql('text')}) AS BIGINT), 0) AS s
  FROM documents
),
g AS (
  SELECT doc_id, n, s,
         GREATEST(1, CAST(ceil(n / {_MM_WIDTH}.0) AS INT)) AS h
  FROM d
)
SELECT doc_id AS id,
       CASE CAST(doc_id % 3 AS INT)
            WHEN 0 THEN 'png' WHEN 1 THEN 'bmp' ELSE 'ppm' END AS format,
       {_MM_WIDTH} AS width,
       h AS height,
       CASE WHEN CAST(doc_id % 3 AS INT) = 0 THEN 1 ELSE 3 END AS channels,
       CAST({_MM_WIDTH} * h AS BIGINT) AS n_pixels,
       CAST(s AS DOUBLE) / ({_MM_WIDTH} * h) AS mean_pixel
FROM g
""",
    description="Multimodal REAL decode path: text→real PNG/BMP/PPM binary "
    "media (pure-Python codecs, zlib PNG), decoded on executors via "
    "Arrow-batched mapInPandas into true width/height/channel statistics",
    tags=("extension", "multimodal"),
)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    media = _mm.attach_encoded_media(docs, "doc_id", "text", width=_MM_WIDTH)
    return _mm.decode_image_features(media, "doc_id")



@register(
    "multimodal_image_fingerprints",
    oracle=f"""
WITH fpd AS (
  SELECT doc_id, {_utf8_bytes_sql('text')} AS bs,
         octet_length(encode(text)) AS n
  FROM documents
),
fpg AS (
  SELECT doc_id, bs, n,
         GREATEST(1, CAST(ceil(n / {_MM_WIDTH}.0) AS BIGINT)) AS h
  FROM fpd
),
fpx AS (
  SELECT doc_id, h, i,
         CASE WHEN i < n THEN bs[CAST(i + 1 AS INT)] ELSE 0 END AS v,
         ((i // {_MM_WIDTH}) * {_mm.FP_BINS}) // h AS band
  FROM fpg, unnest(range(0, h * {_MM_WIDTH})) t(i)
),
fpo AS (
  SELECT doc_id, CAST(sum(v) AS DOUBLE) / (max(h) * {_MM_WIDTH}) AS overall
  FROM fpx GROUP BY doc_id
),
fpb AS (
  SELECT doc_id, band, CAST(sum(v) AS DOUBLE) / count(*) AS m
  FROM fpx GROUP BY doc_id, band
),
fpf AS (
  SELECT b.doc_id,
         CAST(sum(CASE WHEN b.m >= o.overall
                       THEN 1 << CAST(b.band AS INT) ELSE 0 END) AS BIGINT)
           AS fingerprint
  FROM fpb b JOIN fpo o USING (doc_id) GROUP BY b.doc_id
)
SELECT g.doc_id AS id, CAST(g.h AS INT) AS height, f.fingerprint
FROM fpg g JOIN fpf f ON g.doc_id = f.doc_id
""",
    description="Container-invariant perceptual image fingerprint over "
    "the REAL decode path — the image-dedup primitive: mixed PNG/BMP/"
    "PPM media decode on executors, the gray pixel stream folds into "
    f"{_mm.FP_BINS} horizontal bands, bit b set when band b's mean "
    "luminance >= the image mean (aHash-style row profile). The SAME "
    "picture fingerprints identically across container formats "
    "(replicated RGB collapses to gray), so re-encoded duplicates "
    "collide and exact-dedup hash-groupBy machinery extends to images. "
    "Hash-checked against an arithmetic oracle over the identical "
    "padded byte geometry; integer-exact sums make the bit decisions "
    "engine-independent",
    tags=("extension", "multimodal", "dedup"),
)
def multimodal_image_fingerprints(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    media = _mm.attach_encoded_media(docs, "doc_id", "text", width=_MM_WIDTH)
    return _mm.image_fingerprints(media, "doc_id")



@register(
    "multimodal_image_dedup_groups",
    oracle=f"""
WITH fpd AS (
  SELECT doc_id, {_utf8_bytes_sql('text')} AS bs,
         octet_length(encode(text)) AS n
  FROM documents
),
fpg AS (
  SELECT doc_id, bs, n,
         GREATEST(1, CAST(ceil(n / {_MM_WIDTH}.0) AS BIGINT)) AS h
  FROM fpd
),
fpx AS (
  SELECT doc_id, h, i,
         CASE WHEN i < n THEN bs[CAST(i + 1 AS INT)] ELSE 0 END AS v,
         ((i // {_MM_WIDTH}) * {_mm.FP_BINS}) // h AS band
  FROM fpg, unnest(range(0, h * {_MM_WIDTH})) t(i)
),
fpo AS (
  SELECT doc_id, CAST(sum(v) AS DOUBLE) / (max(h) * {_MM_WIDTH}) AS overall
  FROM fpx GROUP BY doc_id
),
fpb AS (
  SELECT doc_id, band, CAST(sum(v) AS DOUBLE) / count(*) AS m
  FROM fpx GROUP BY doc_id, band
),
fpf AS (
  SELECT b.doc_id,
         CAST(sum(CASE WHEN b.m >= o.overall
                       THEN 1 << CAST(b.band AS INT) ELSE 0 END) AS BIGINT)
           AS fingerprint
  FROM fpb b JOIN fpo o USING (doc_id) GROUP BY b.doc_id
)
SELECT fingerprint,
       min(doc_id) AS canonical_id,
       CAST(count(*) AS BIGINT) AS n_members
FROM fpf GROUP BY fingerprint
""",
    description="Image DEDUP GROUPS over the perceptual fingerprints — "
    "the payoff query of the multimodal fingerprint family: decode the "
    "mixed-container media, fingerprint, hash-groupBy the fingerprint; "
    "each group keeps its lowest-id canonical with the member count "
    "(re-encoded and visually-identical images collapse together, the "
    "exact-dedup shape applied to pictures). One decode pass + one "
    "shuffle on a 16-bit key at any corpus size",
    tags=("extension", "multimodal", "dedup"),
)
def multimodal_image_dedup_groups(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    media = _mm.attach_encoded_media(docs, "doc_id", "text", width=_MM_WIDTH)
    fps = _mm.image_fingerprints(media, "doc_id")
    return fps.groupBy("fingerprint").agg(
        F.min("id").alias("canonical_id"),
        F.count(F.lit(1)).alias("n_members"),
    )



_WAV_RATE = 8000



@register(
    "multimodal_audio_features",
    oracle=f"""
WITH d AS (
  SELECT doc_id,
         octet_length(encode(text)) AS n,
         COALESCE(CAST(list_sum({_utf8_bytes_sql('text')}) AS BIGINT), 0) AS s
  FROM documents
)
SELECT doc_id AS id,
       {_WAV_RATE} AS sample_rate,
       1 AS channels,
       CAST(n AS BIGINT) AS n_samples,
       CAST(n * 1000 // {_WAV_RATE} AS BIGINT) AS duration_ms,
       CASE WHEN n = 0 THEN 0.0 ELSE CAST(s AS DOUBLE) / n END AS mean_sample
FROM d
""",
    description="Multimodal AUDIO path, decode REAL end-to-end: each "
    "document's text bytes become the PCM samples of a genuine RIFF/WAVE "
    f"file ({_WAV_RATE} Hz 8-bit mono), executors parse the container "
    "back via the stdlib wave reader into true sample-rate/duration/"
    "amplitude statistics — hash-checked against an arithmetic oracle",
    tags=("extension", "multimodal"),
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    media = _mm.attach_encoded_audio(docs, "doc_id", "text", _WAV_RATE)
    return _mm.decode_audio_features(media, "doc_id")



@register(
    "multimodal_audio_fingerprints",
    oracle=f"""
WITH afd AS (
  SELECT doc_id, {_utf8_bytes_sql('text')} AS bs,
         octet_length(encode(text)) AS n
  FROM documents
),
afx AS (
  SELECT doc_id, n, i, bs[CAST(i + 1 AS INT)] AS v,
         (i * {_mm.FP_BINS}) // n AS band
  FROM afd, unnest(range(0, n)) t(i)
  WHERE n > 0
),
afo AS (
  SELECT doc_id, CAST(sum(v) AS DOUBLE) / max(n) AS overall
  FROM afx GROUP BY doc_id
),
afb AS (
  SELECT doc_id, band, CAST(sum(v) AS DOUBLE) / count(*) AS m
  FROM afx GROUP BY doc_id, band
),
aff AS (
  SELECT b.doc_id,
         CAST(sum(CASE WHEN b.m >= o.overall
                       THEN 1 << CAST(b.band AS INT) ELSE 0 END) AS BIGINT)
           AS fingerprint
  FROM afb b JOIN afo o USING (doc_id) GROUP BY b.doc_id
)
SELECT d.doc_id AS id, CAST(d.n AS BIGINT) AS n_samples,
       COALESCE(f.fingerprint, 0) AS fingerprint
FROM afd d LEFT JOIN aff f USING (doc_id)
""",
    description="Time-band energy fingerprint over the REAL WAV decode "
    "path — the audio-dedup twin of the image fingerprint: the 8-bit "
    f"PCM sample stream folds into {_mm.FP_BINS} consecutive time "
    "bands, bit b set when band b's mean amplitude >= the clip mean. "
    "Fixed 16-bit output for any clip length; hash-checked against the "
    "arithmetic oracle over the same byte stream; empty clips "
    "fingerprint 0 through the left join",
    tags=("extension", "multimodal", "dedup"),
)
def multimodal_audio_fingerprints(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    media = _mm.attach_encoded_audio(docs, "doc_id", "text", _WAV_RATE)
    return _mm.audio_fingerprints(media, "doc_id")



_Y4M_W, _Y4M_H, _Y4M_STRIDE = 8, 8, 2



@register(
    "multimodal_video_fingerprints",
    oracle=f"""
WITH vfd AS (
  SELECT doc_id, {_utf8_bytes_sql('text')} AS bs,
         octet_length(encode(text)) AS n
  FROM documents
),
vfg AS (
  SELECT doc_id, bs, n,
         GREATEST(1, CAST(ceil(n / {_Y4M_W * _Y4M_H}.0) AS BIGINT)) AS nf
  FROM vfd
),
vff AS (
  SELECT doc_id, nf, k,
         COALESCE(list_sum(list_slice(bs,
           CAST(k * {_Y4M_W * _Y4M_H} + 1 AS BIGINT),
           CAST((k + 1) * {_Y4M_W * _Y4M_H} AS BIGINT))), 0) AS fs
  FROM vfg, unnest(range(0, nf)) t(k)
),
vfo AS (
  SELECT doc_id,
         CAST(sum(fs) AS DOUBLE) / (max(nf) * {_Y4M_W * _Y4M_H}) AS overall
  FROM vff GROUP BY doc_id
),
vfp AS (
  SELECT f.doc_id,
         bit_or(CASE WHEN CAST(f.fs AS DOUBLE) / {_Y4M_W * _Y4M_H}
                          >= o.overall
                     THEN CAST(1 AS BIGINT) << CAST(f.k % 62 AS INT)
                     ELSE CAST(0 AS BIGINT) END) AS fingerprint
  FROM vff f JOIN vfo o USING (doc_id) GROUP BY f.doc_id
)
SELECT g.doc_id AS id, CAST(g.nf AS INT) AS n_frames,
       p.fingerprint
FROM vfg g JOIN vfp p USING (doc_id)
""",
    description="Per-frame luma-bit fingerprint over the REAL y4m "
    "decode — the video-dedup member of the fingerprint family: one "
    "bit per frame, set when the frame's mean luma >= the stream mean "
    "(temporal brightness profile; frame f folds onto bit f % 62 so "
    "any duration stays one BIGINT). Re-muxed copies of the same "
    "frames collide; hash-checked against the arithmetic oracle over "
    "the identical padded frame geometry",
    tags=("extension", "multimodal", "dedup"),
)
def multimodal_video_fingerprints(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    media = _mm.attach_encoded_video(docs, "doc_id", "text", _Y4M_W, _Y4M_H)
    return _mm.video_fingerprints(media, "doc_id")



@register(
    "multimodal_video_frame_sample",
    oracle=f"""
WITH d AS (
  SELECT doc_id,
         octet_length(encode(text)) AS n,
         {_utf8_bytes_sql('text')} AS bs
  FROM documents
),
g AS (
  SELECT doc_id, n, bs,
         GREATEST(1, CAST(ceil(n / {_Y4M_W * _Y4M_H}.0) AS BIGINT)) AS nf
  FROM d
)
SELECT doc_id AS id,
       nf AS n_frames,
       {_Y4M_W} AS width,
       {_Y4M_H} AS height,
       CAST(fi AS INT) AS frame_idx,
       CAST(COALESCE(list_sum(list_slice(bs, CAST(fi * {_Y4M_W * _Y4M_H} + 1 AS BIGINT),
                                         CAST((fi + 1) * {_Y4M_W * _Y4M_H} AS BIGINT))), 0)
            AS DOUBLE) / {_Y4M_W * _Y4M_H} AS mean_luma
FROM g, unnest(range(0, nf, {_Y4M_STRIDE})) t(fi)
""",
    description="Multimodal VIDEO path, frame sampling REAL end-to-end: "
    "each document's text bytes fill the luma planes of a genuine "
    f"multi-frame YUV4MPEG2 stream ({_Y4M_W}x{_Y4M_H} Cmono); executors "
    f"parse the container, keep every {_Y4M_STRIDE}nd frame (the 1→N "
    "explode shape of video training prep) and emit per-frame luma "
    "means — hash-checked against an arithmetic oracle over the same "
    "byte geometry",
    tags=("extension", "multimodal"),
)
def multimodal_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    media = _mm.attach_encoded_video(docs, "doc_id", "text", _Y4M_W, _Y4M_H)
    return _mm.sample_video_frames(media, "doc_id", stride=_Y4M_STRIDE)



@register(
    "multimodal_jpeg_roundtrip",
    oracle=f"""
WITH d AS (
  SELECT doc_id, octet_length(encode(text)) AS n FROM documents
),
g AS (
  SELECT doc_id, n,
         GREATEST(1, CAST(ceil(n / {_MM_WIDTH}.0) AS INT)) AS h1,
         GREATEST(1, CAST(ceil(n / ({_MM_WIDTH} * 3.0)) AS INT)) AS h3
  FROM d
)
SELECT doc_id AS id, 'gray' AS variant, {_MM_WIDTH} AS width,
       h1 AS height, 1 AS channels,
       CAST({_MM_WIDTH} * h1 AS BIGINT) AS n_pixels,
       CASE WHEN doc_id % 4 = 0 THEN 4 ELSE 0 END AS restart_interval,
       TRUE AS max_err_ok, TRUE AS mean_err_ok
FROM g
UNION ALL
SELECT doc_id AS id, 'rgb' AS variant, {_MM_WIDTH} AS width,
       h3 AS height, 3 AS channels,
       CAST({_MM_WIDTH} * h3 AS BIGINT) AS n_pixels,
       0 AS restart_interval,
       TRUE AS max_err_ok, TRUE AS mean_err_ok
FROM g
""",
    description="Baseline-JPEG decode behind the codec seam, verified "
    "end to end: each document is REALLY encoded as JFIF on executors "
    "(grayscale leg with DRI/RSTn restart markers on every 4th id, plus "
    "a 3-component YCbCr 4:4:4 RGB leg), decoded back through the same "
    "decode_image dispatch the fingerprint/dedup family uses (file-"
    "supplied DQT/DHT Huffman tables, numpy-batched IDCT), and checked "
    "against the original payload under the documented near-lossless "
    "error contract. Exact decoded geometry is byte-arithmetic (oracle-"
    "replayable); DCT-rounding fidelity collapses to deterministic "
    "boolean verdicts so the lossy codec still hash-checks. Single "
    "Arrow-batched mapInPandas projection — no shuffle, no collect; "
    "per-split parallel at 100 TB",
    tags=("extension", "multimodal"),
)
def multimodal_jpeg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    return _mm.jpeg_roundtrip_features(docs, "doc_id", "text", width=_MM_WIDTH)



@register(
    "multimodal_gif_frame_sample",
    oracle=f"""
WITH gf AS (
  SELECT doc_id, {_utf8_bytes_sql('text')} AS bs,
         octet_length(encode(text)) AS n
  FROM documents
),
gg AS (
  SELECT doc_id, bs, n,
         GREATEST(1, CAST(ceil(n / {_MM_WIDTH}.0) AS INT)) AS h
  FROM gf
),
gp AS (
  SELECT doc_id, h, h * {_MM_WIDTH} AS npx,
         list_concat(bs, list_transform(
           range(0, h * {_MM_WIDTH} - n), x -> CAST(0 AS BIGINT))) AS pb
  FROM gg
),
gfr AS (
  SELECT doc_id, h, npx, pb, CAST(t.fi AS INT) AS frame_idx,
         list_concat(list_slice(pb, CAST(t.fi % npx + 1 AS INT), npx),
                     list_slice(pb, 1, CAST(t.fi % npx AS INT))) AS rot
  FROM gp, unnest(range(0, 1 + doc_id % 3)) t(fi)
)
SELECT doc_id AS id, frame_idx,
       CAST(1 + doc_id % 3 AS INT) AS n_frames,
       {_MM_WIDTH} AS width, h AS height,
       CAST(list_sum(pb) AS DOUBLE) / npx AS mean_px,
       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), rot),
            (a, b) -> (a * {_mm._GIF_FP_MULT} + b) % {_mm._GIF_FP_MOD})
            AS BIGINT) AS frame_fp
FROM gfr
""",
    description="Animated-GIF frame sampling through a REAL LZW "
    "container (the palette/animation format next to y4m's raw "
    "frames): each document's text bytes become a genuine multi-frame "
    "GIF89a (1 + id % 3 frames, frame fi the byte plane rotated by "
    "fi, 'uncompressed-style' but fully valid LZW), decoded back "
    "through the complete variable-width LSB-first LZW decoder and "
    "the file's grayscale identity color table. Per frame: exact "
    "geometry, mean pixel, and an ORDER-SENSITIVE polynomial "
    "fingerprint of the decoded bytes — the oracle recomputes the "
    "rotation and hash from raw byte arithmetic, so one transposed "
    "or dropped pixel anywhere in the LZW pipeline hash-fails. "
    "Arrow-batched 1-to-N mapInPandas; no shuffle",
    tags=("extension", "multimodal"),
)
def multimodal_gif_frame_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    return _mm.gif_frame_features(docs, "doc_id", "text", width=_MM_WIDTH)



@register(
    "streaming_scd2_sync",
    oracle="""
WITH flags AS (
  SELECT c_custkey, c_mktsegment AS orig,
         c_custkey % 6 = 0 AS u1, c_custkey % 4 = 0 AS u2
  FROM customer
)
SELECT c_custkey, orig AS c_mktsegment,
       '2020-01-01' AS valid_from,
       CASE WHEN u1 THEN '2024-01-01'
            WHEN u2 THEN '2024-06-01' END AS valid_to,
       NOT (u1 OR u2) AS is_current
FROM flags
UNION ALL
SELECT c_custkey, 'SEG_B1', '2024-01-01',
       CASE WHEN u2 THEN '2024-06-01' END, NOT u2
FROM flags WHERE u1
UNION ALL
SELECT c_custkey, 'SEG_B2', '2024-06-01', NULL, true
FROM flags WHERE u2
""",
    description="Streaming SCD Type-2 under the CORRECTNESS gate: two "
    "ordered micro-batches of segment updates (every-6th customer at "
    "2024-01-01, then every-4th at 2024-06-01) flow through foreachBatch "
    "+ the batch scd2_apply operator against a versioned state dir "
    "(epoch-numbered overwrite → replay-idempotent), and the final "
    "dimension hash-matches the oracle's declarative enumeration of "
    "close/insert chains — a customer hit by both updates carries the "
    "full 3-version history. Updates must arrive in order (a real CDC "
    "feed keys on a sequence column); the staged files pin mtimes to "
    "guarantee it",
    tags=("streaming", "extension", "scd", "warehouse"),
)
@pinned_stream_session
def streaming_scd2_sync(spark: SparkSession, sf_dir: str) -> DataFrame:

    import glob as _glob

    from spotify_tracks_etl_portfolio_spark.operators.scd import scd2_apply

    c = read_parquet_table(spark, sf_dir, "customer")
    dim0 = c.select(
        "c_custkey",
        "c_mktsegment",
        F.lit("2020-01-01").alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    d = _session_scratch(spark, "scd2_sync")
    b1 = c.filter(F.col("c_custkey") % 6 == 0).select(
        "c_custkey",
        F.lit("SEG_B1").alias("c_mktsegment"),
        F.lit("2024-01-01").alias("update_ts"),
    )
    b2 = c.filter(F.col("c_custkey") % 4 == 0).select(
        "c_custkey",
        F.lit("SEG_B2").alias("c_mktsegment"),
        F.lit("2024-06-01").alias("update_ts"),
    )
    b1.coalesce(1).write.parquet(f"{d}/src/f1")
    b2.coalesce(1).write.parquet(f"{d}/src/f2")
    # the file source orders micro-batches by modification time: pin
    # mtimes so batch 1 provably precedes batch 2
    for i, sub in enumerate(("f1", "f2")):
        for p in _glob.glob(f"{d}/src/{sub}/*.parquet"):
            os.utime(p, (1_700_000_000 + 100 * i, 1_700_000_000 + 100 * i))

    stream = (
        spark.readStream.schema(
            "c_custkey long, c_mktsegment string, update_ts string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/src/*")
    )

    def process(batch: DataFrame, epoch_id: int) -> None:
        ts_val = batch.agg(F.max("update_ts")).first()[0]
        if ts_val is None:  # empty replayed batch
            return
        versions = sorted(_glob.glob(f"{d}/state_v*"))
        cur = spark.read.parquet(versions[-1]) if versions else dim0
        new = scd2_apply(
            cur,
            batch.select("c_custkey", "c_mktsegment"),
            key_cols=["c_custkey"],
            attr_cols=["c_mktsegment"],
            update_ts=F.lit(ts_val),
        )
        new.write.mode("overwrite").parquet(f"{d}/state_v{int(epoch_id):05d}")

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", f"{d}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    latest = sorted(_glob.glob(f"{d}/state_v*"))[-1]
    return spark.read.parquet(latest).select(
        "c_custkey", "c_mktsegment", "valid_from", "valid_to", "is_current"
    )



@register(
    "streaming_cow_upsert_sync",
    oracle="""
WITH latest AS (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY event_id DESC) AS rn
  FROM events
)
SELECT user_id, event_id AS last_event_id, value AS last_value
FROM latest WHERE rn = 1
""",
    description="Streaming EXACTLY-ONCE upsert sink into the COW table "
    "format (6th streaming gate): the events stream drains in "
    "micro-batches via availableNow, each batch compacts to its latest "
    "row per user and merge_latest-upserts into a manifest-committed "
    "table — latest-wins argmax makes out-of-order batches safe, the "
    "manifest-recorded stream_batch_id makes replayed batches no-ops "
    "(foreachBatch is at-least-once; the TABLE STATE is exactly-once). "
    "File-granular COW per batch: only files whose key range contains "
    "a batch key rewrite. Final state hash-checked against the "
    "arg-max-per-user SQL over the full event log.",
    tags=("extension", "streaming", "acid"),
)
@pinned_stream_session
def streaming_cow_upsert_sync(spark: SparkSession, sf_dir: str) -> DataFrame:

    from spotify_tracks_etl_portfolio_spark.sources import cowtable as _ct

    events = read_parquet_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "value"
    )
    d = _session_scratch(spark, "cow_sync")
    root = f"{d}/table"
    # seed: version 0 holds events from the first third of the log,
    # clustered on user_id so per-batch COW merges stay file-granular
    seed_latest = (
        events.filter(F.col("event_id") % 3 == 0)
        .groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("user_id", "event_id", "value"), F.col("event_id")
            ).alias("__r")
        )
        .select("__r.*")
    )
    _ct.create_table(spark, root, seed_latest, cluster_by="user_id")
    # the remaining two thirds arrive as ordered micro-batches
    for i in (1, 2):
        events.filter(F.col("event_id") % 3 == i).coalesce(1).write.parquet(
            f"{d}/src/f{i}"
        )
    import glob as _glob

    for i in (1, 2):
        for p in _glob.glob(f"{d}/src/f{i}/*.parquet"):
            os.utime(p, (1_700_000_000 + 100 * i,) * 2)

    stream = (
        spark.readStream.schema("user_id long, event_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/src/*")
    )

    def process(batch: DataFrame, epoch_id: int) -> None:
        compacted = (
            batch.groupBy("user_id")
            .agg(
                F.max_by(
                    F.struct("user_id", "event_id", "value"),
                    F.col("event_id"),
                ).alias("__r")
            )
            .select("__r.*")
        )
        _ct.merge_latest(
            spark, root, compacted, "user_id", ["event_id"],
            stream_batch_id=int(epoch_id),
        )

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", f"{d}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return _ct.read_table(spark, root).select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("value").alias("last_value"),
    )



@register(
    "jsonl_corpus_roundtrip",
    oracle="SELECT doc_id, text, lang, source, n_chars FROM documents",
    description="JSONL corpus interchange under the gate: the documents "
    "table exports to gzip'd JSON-Lines (write_jsonl: round-robin "
    "resharded, one object per line — the format training stacks and "
    "labeling tools ingest) and reads back with a strict schema "
    "(read_jsonl refuses inference: that's a full extra pass at "
    "100 TB), then hash-matches the original table byte-for-byte — "
    "proving JSON string escaping round-trips every document exactly",
    tags=("extension", "sources"),
)
def jsonl_corpus_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spotify_tracks_etl_portfolio_spark.sources.readers import read_jsonl
    from spotify_tracks_etl_portfolio_spark.sources.writers import write_jsonl

    schema = (
        "doc_id long, text string, lang string, source string, n_chars long"
    )
    docs = read_parquet_table(spark, sf_dir, "documents")
    d = _session_scratch(spark, "jsonl_rt")
    write_jsonl(docs, f"{d}/corpus", shards=2)
    # lazy read back from the session-scoped export — no .collect()
    return read_jsonl(spark, f"{d}/corpus", schema).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )



@register(
    "orc_corpus_roundtrip",
    oracle="SELECT doc_id, text, lang, source, n_chars FROM documents",
    description="ORC corpus interchange under the gate: the documents "
    "table exports to zstd ORC (write_orc: round-robin resharded — the "
    "columnar format Hive/Trino stacks ingest natively) and reads back "
    "with an explicit schema, then hash-matches the original table "
    "byte-for-byte — proving the second columnar interchange format "
    "round-trips exactly like parquet/JSONL",
    tags=("extension", "sources"),
)
def orc_corpus_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spotify_tracks_etl_portfolio_spark.sources.readers import read_orc
    from spotify_tracks_etl_portfolio_spark.sources.writers import write_orc

    schema = (
        "doc_id long, text string, lang string, source string, n_chars long"
    )
    docs = read_parquet_table(spark, sf_dir, "documents")
    d = _session_scratch(spark, "orc_rt")
    write_orc(docs, f"{d}/corpus", shards=2)
    return read_orc(spark, f"{d}/corpus", schema).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )



@register(
    "cowtable_merge_roundtrip",
    oracle="""
WITH upd AS (
  SELECT doc_id, CAST(-n_chars AS BIGINT) AS n_chars
  FROM documents WHERE doc_id % 50 = 0
),
ins AS (
  SELECT CAST(doc_id + 1000000 AS BIGINT) AS doc_id, CAST(-1 AS BIGINT) AS n_chars
  FROM documents WHERE doc_id % 50 = 0
),
base AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
  FROM documents WHERE doc_id % 97 <> 0 AND doc_id % 50 <> 0
)
SELECT doc_id, n_chars FROM base
UNION ALL SELECT doc_id, n_chars FROM upd
UNION ALL SELECT doc_id, n_chars FROM ins
""",
    description="ACID-style table lifecycle under the correctness gate "
    "(sources/cowtable.py — the round-3 'no merge table format' gap, "
    "filled with the env's means): CREATE a copy-on-write manifest "
    "table clustered on doc_id, DELETE the %97 keys, MERGE upserts for "
    "the %50 keys plus brand-new inserted keys, then snapshot-read the "
    "final version. Commits are O_EXCL-atomic manifests; DELETE/MERGE "
    "rewrite ONLY the files whose footer [min,max] actually contains "
    "an affected key (exact range-join pruning — file-granular at "
    "100 TB, never a table rewrite); untouched files carry over by "
    "reference. Time travel + conflict detection covered in "
    "tests/test_cowtable.py.",
    tags=("extension", "sources", "acid"),
)
def cowtable_merge_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spotify_tracks_etl_portfolio_spark.sources import cowtable as _ct

    docs = read_parquet_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("long").alias("n_chars")
    )
    root = os.path.join(
        _session_scratch(spark, "cowtable"), uuid.uuid4().hex
    )
    _ct.create_table(spark, root, docs, cluster_by="doc_id", n_files=8)
    _ct.delete_where(
        spark, root, "doc_id",
        docs.filter(F.col("doc_id") % 97 == 0).select("doc_id"),
    )
    upserts = docs.filter(F.col("doc_id") % 50 == 0).select(
        "doc_id", (-F.col("n_chars")).alias("n_chars")
    )
    inserts = docs.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.lit(-1).cast("long").alias("n_chars"),
    )
    _ct.merge_into(
        spark, root, upserts.unionByName(inserts), "doc_id"
    )
    return _ct.read_table(spark, root).select("doc_id", "n_chars")



@register(
    "cowtable_snapshot_diff",
    oracle="""
SELECT doc_id, 'removed' AS status FROM documents
WHERE doc_id % 97 = 0 AND doc_id % 50 <> 0
UNION ALL
SELECT doc_id, 'changed' FROM documents
WHERE doc_id % 50 = 0 AND n_chars <> 0
UNION ALL
SELECT CAST(doc_id + 1000000 AS BIGINT), 'added' FROM documents
WHERE doc_id % 50 = 0
""",
    description="Snapshot AUDIT over the COW table lifecycle: after the "
    "same delete+merge flow as cowtable_merge_roundtrip, diff version 0 "
    "against the latest — per key 'added'/'removed'/'changed' (deleted "
    "%97 keys read removed; %50 upserts read changed; brand-new keys "
    "read added; a deleted-then-reinserted key reads changed, which is "
    "the net truth). One full-outer join of two time-travel reads — "
    "the evidence a governance review wants, derived from manifests, "
    "not logs",
    tags=("extension", "sources", "acid", "governance"),
)
def cowtable_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spotify_tracks_etl_portfolio_spark.sources import cowtable as _ct

    docs = read_parquet_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("long").alias("n_chars")
    )
    root = os.path.join(
        _session_scratch(spark, "cow_diff"), uuid.uuid4().hex
    )
    _ct.create_table(spark, root, docs, cluster_by="doc_id", n_files=8)
    _ct.delete_where(
        spark, root, "doc_id",
        docs.filter(F.col("doc_id") % 97 == 0).select("doc_id"),
    )
    upserts = docs.filter(F.col("doc_id") % 50 == 0).select(
        "doc_id", (-F.col("n_chars")).alias("n_chars")
    )
    inserts = docs.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.lit(-1).cast("long").alias("n_chars"),
    )
    _ct.merge_into(spark, root, upserts.unionByName(inserts), "doc_id")
    return _ct.snapshot_diff(spark, root, "doc_id", 0)



@register(
    "cowtable_zorder_pruned_scan",
    oracle="""
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(l_partkey) AS BIGINT) AS sum_partkey
FROM lineitem
WHERE l_partkey BETWEEN 1 AND 200 AND l_suppkey BETWEEN 1 AND 10
GROUP BY l_returnflag
""",
    description="OPTIMIZE ZORDER lifecycle under the correctness gate "
    "(sources/cowtable.py: optimize_zorder/scan_pruned_multi): create a "
    "COW table from lineitem linearly clustered on l_orderkey, rewrite "
    "it Z-ordered on (l_partkey, l_suppkey) — Morton-interleaved bins, "
    "one range shuffle, old snapshot still time-travels — then answer a "
    "two-column box predicate through manifest-level multi-column "
    "footer pruning + residual filter. Layout changes cost, never the "
    "answer: the oracle is the plain predicate on the source table. "
    "The pruning-rate and both-dimension guarantees are pytest-pinned "
    "(tests/test_cowtable.py); linear clustering can prune only its "
    "one sort key — Z-order is what makes multi-dimension file skipping "
    "work at 100 TB",
    tags=("extension", "sources", "acid"),
)
def cowtable_zorder_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spotify_tracks_etl_portfolio_spark.sources import cowtable as _ct

    li = read_parquet_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_returnflag"
    )
    root = os.path.join(
        _session_scratch(spark, "cow_zorder"), uuid.uuid4().hex
    )
    _ct.create_table(spark, root, li, cluster_by="l_orderkey", n_files=8)
    _ct.optimize_zorder(spark, root, ["l_partkey", "l_suppkey"], n_files=8)
    pruned, _scanned, _total = _ct.scan_pruned_multi(
        spark, root, {"l_partkey": (1, 200), "l_suppkey": (1, 10)}
    )
    return pruned.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("l_partkey").cast("long").alias("sum_partkey"),
    )



@register(
    "cowtable_bloom_point_lookup",
    oracle="""
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events
FROM events WHERE user_id = 7
GROUP BY event_type
""",
    description="Bloom-index point lookup under the correctness gate "
    "(sources/cowtable.py: bloom_cols/scan_pruned_eq): create a COW "
    "table from events clustered on event_id with a per-file Bloom "
    "filter on the UNCLUSTERED user_id column (8192 bits / 5 hashes, "
    "~1% fp — a 2 KiB manifest entry per file), then answer an equality "
    "lookup scanning only bloom-positive files + residual filter. Sort "
    "order can't prune this shape (every file's user_id [min,max] spans "
    "the domain); the bloom has no false negatives so the oracle is the "
    "plain predicate. High-cardinality pruning rate, property "
    "inheritance through MERGE/COMPACT, and bloom-less fallback are "
    "pytest-pinned (tests/test_cowtable.py)",
    tags=("extension", "sources", "acid"),
)
def cowtable_bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spotify_tracks_etl_portfolio_spark.sources import cowtable as _ct

    ev = read_parquet_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    root = os.path.join(
        _session_scratch(spark, "cow_bloom"), uuid.uuid4().hex
    )
    _ct.create_table(
        spark, root, ev, cluster_by="event_id", n_files=8,
        bloom_cols=["user_id"],
    )
    hit, _scanned, _total = _ct.scan_pruned_eq(spark, root, "user_id", 7)
    return hit.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )



def _pagerank_oracle(iters: int = _gr.PAGERANK_ITERS) -> str:
    """Unrolled PageRank power iteration as a DuckDB CTE chain —
    replays operators/graph.py:pagerank step-for-step: every scalar op
    is a single IEEE double operation and every sum is a DECIMAL-exact
    fold of 12-dp-rounded contributions, so the trajectory is
    bit-identical."""
    dp = _gr.CONTRIB_DP
    ctes = [
        """tr AS (
  SELECT DISTINCT o_custkey * 2 AS cnode, l_suppkey * 2 + 1 AS snode
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
e AS (
  SELECT cnode AS src, snode AS dst FROM tr
  UNION ALL
  SELECT snode AS src, cnode AS dst FROM tr
),
deg AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY src),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg),
r0 AS (SELECT node, CAST(1 AS DOUBLE) / (SELECT n FROM nn) AS rank FROM deg)"""
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""c{i} AS (
  SELECT e.dst AS node,
         CAST(round(r.rank / d.deg, {dp}) AS DECIMAL(28,{dp})) AS c
  FROM e JOIN r{i - 1} r ON e.src = r.node JOIN deg d ON e.src = d.node
),
s{i} AS (SELECT node, sum(c) AS s FROM c{i} GROUP BY node),
r{i} AS (
  SELECT d.node,
         round((CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn)
               + CAST(0.85 AS DOUBLE)
               * coalesce(CAST(s.s AS DOUBLE), CAST(0 AS DOUBLE)), {dp}) AS rank
  FROM deg d LEFT JOIN s{i} s ON d.node = s.node
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS entity_type,
       CAST(node // 2 AS BIGINT) AS entity_key,
       rank AS pagerank
FROM r{iters}"""
    )



@register(
    "trade_graph_pagerank",
    oracle=_pagerank_oracle(),
    description="PageRank over the undirected customer–supplier trade "
    "graph (distinct orders⋈lineitem pairs, both edge directions), 3 "
    "unrolled power iterations. Determinism: each rank update is one "
    "IEEE division + multiply + add over a DECIMAL-exact sum of "
    "12-dp-rounded per-edge contributions, so the oracle's unrolled "
    "CTE chain matches bit-for-bit. Scale: one equi-join + one hash "
    "agg per iteration, rank state never leaves the cluster",
    tags=("extension", "graph"),
)
def trade_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_parquet_table(spark, sf_dir, "orders")
    lineitem = read_parquet_table(spark, sf_dir, "lineitem")
    edges = _gr.trade_graph_edges(orders, lineitem)
    ranks = _gr.pagerank(edges)
    return ranks.select(
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("entity_type"),
        F.expr("node div 2").cast("long").alias("entity_key"),
        F.col("rank").alias("pagerank"),
    )



@register(
    "corpus_drift_psi",
    oracle="""
WITH b AS (
  SELECT least(n_chars // 100, 9) AS bin, doc_id % 2 = 0 AS is_old
  FROM documents
),
a AS (
  SELECT bin,
         CAST(sum(CASE WHEN is_old THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
         CAST(sum(CASE WHEN is_old THEN 0 ELSE 1 END) AS BIGINT) AS n_new
  FROM b GROUP BY bin
),
t AS (
  SELECT CAST(sum(n_old) AS DOUBLE) AS t_old,
         CAST(sum(n_new) AS DOUBLE) AS t_new
  FROM a
),
q AS (
  SELECT bin, n_old, n_new,
         (n_old + 1) / (t_old + CAST(10 AS DOUBLE)) AS po,
         (n_new + 1) / (t_new + CAST(10 AS DOUBLE)) AS pn
  FROM a, t
),
z AS (
  SELECT bin, n_old, n_new, po, pn,
         round((pn - po) * ln(pn / po), 9) AS psi_term
  FROM q
)
SELECT bin, n_old, n_new,
       round(po, 6) AS p_old,
       round(pn, 6) AS p_new,
       psi_term,
       round(CAST(sum(CAST(psi_term AS DECIMAL(20,9))) OVER () AS DOUBLE), 6)
         AS total_psi
FROM z
""",
    description="Corpus drift detection between two snapshot halves "
    "(doc_id parity stands in for crawl generations): population "
    "stability index over fixed 100-char length bins with +1 Laplace "
    "smoothing. Per-bin PSI terms are 9-dp-rounded IEEE scalars; the "
    "whole-table total window runs over the ~10-row AGGREGATED bin "
    "table (sanctioned single-partition input). The drift gate a "
    "training pipeline runs before accepting a new crawl",
    tags=("extension", "curation"),
)
def corpus_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = read_parquet_table(spark, sf_dir, "documents")
    b = docs.select(
        F.least(F.expr("n_chars div 100"), F.lit(9)).cast("long").alias("bin"),
        (F.col("doc_id") % 2 == 0).alias("is_old"),
    )
    a = b.groupBy("bin").agg(
        F.sum(F.when(F.col("is_old"), 1).otherwise(0)).cast("long").alias("n_old"),
        F.sum(F.when(F.col("is_old"), 0).otherwise(1)).cast("long").alias("n_new"),
    )
    t = a.agg(
        F.sum("n_old").cast("double").alias("t_old"),
        F.sum("n_new").cast("double").alias("t_new"),
    )
    po = (F.col("n_old") + 1) / (F.col("t_old") + F.lit(10.0))
    pn = (F.col("n_new") + 1) / (F.col("t_new") + F.lit(10.0))
    z = a.crossJoin(F.broadcast(t)).select(
        "bin",
        "n_old",
        "n_new",
        po.alias("po"),
        pn.alias("pn"),
        F.round((pn - po) * F.log(pn / po), 9).alias("psi_term"),
    )
    return z.select(
        "bin",
        "n_old",
        "n_new",
        F.round(F.col("po"), 6).alias("p_old"),
        F.round(F.col("pn"), 6).alias("p_new"),
        "psi_term",
        F.round(
            F.sum(F.col("psi_term").cast("decimal(20,9)"))
            .over(Window.partitionBy())
            .cast("double"),
            6,
        ).alias("total_psi"),
    )



@register(
    "sessionize_events_batch",
    oracle=f"""
WITH se AS (
  SELECT user_id, event_id, value, epoch_us(ts) AS us FROM events
),
sg AS (
  SELECT *, CASE WHEN lag(us) OVER sw IS NULL
                   OR us - lag(us) OVER sw > {30 * 60 * 1_000_000}
            THEN 1 ELSE 0 END AS brk
  FROM se WINDOW sw AS (PARTITION BY user_id ORDER BY us, event_id)
),
ss AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM sg
)
SELECT user_id, CAST(sid AS BIGINT) AS session_idx,
       min(us) AS session_start_us,
       max(us) AS session_end_us,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(24,8))) AS DOUBLE) AS sum_value
FROM ss GROUP BY user_id, sid
""",
    description="Batch sessionization (30-min gap): lag-break + "
    "cumulative session id + per-session aggregate, ALL in one shuffle "
    "on user_id (both windows and the final group share the "
    "partitioning, so the exchange is reused). The batch twin of the "
    "stateful streaming sessionizer — includes each user's trailing "
    "session, which the stream correctly holds open. DECIMAL-exact "
    "value sums (order-insensitive)",
    tags=("extension", "analytics"),
)
def sessionize_events_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = read_parquet_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "value",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    sw = Window.partitionBy("user_id").orderBy("us", "event_id")
    brk = F.when(
        F.lag("us").over(sw).isNull()
        | ((F.col("us") - F.lag("us").over(sw)) > 30 * 60 * 1_000_000),
        1,
    ).otherwise(0)
    ss = ev.withColumn("brk", brk).withColumn(
        "sid", F.sum("brk").over(sw.rowsBetween(Window.unboundedPreceding, 0))
    )
    return ss.groupBy("user_id", "sid").agg(
        F.min("us").alias("session_start_us"),
        F.max("us").alias("session_end_us"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(24,8)"))
        .cast("double")
        .alias("sum_value"),
    ).select(
        "user_id",
        F.col("sid").cast("long").alias("session_idx"),
        "session_start_us",
        "session_end_us",
        "n_events",
        "sum_value",
    )



@register(
    "fuzzy_part_name_links",
    oracle="""
WITH names AS (
  SELECT p_name,
         string_split(p_name, ' ')[-1] AS noun,
         CAST(min(p_partkey) AS BIGINT) AS canon_id,
         CAST(count(*) AS BIGINT) AS n_parts
  FROM part GROUP BY p_name
)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist,
       a.canon_id AS canon_a, b.canon_id AS canon_b,
       a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
FROM names a JOIN names b
  ON a.noun = b.noun AND a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= 2
""",
    description="Record linkage (entity resolution) over part names: "
    "exact names collapse first (dedup groupBy — the linkage runs on "
    "DISTINCT entities, vocabulary-scaled, not row-scaled), then a "
    "BLOCKED fuzzy self-join — equi-join on the name's head noun, "
    "Levenshtein ≤ 2 within the block only — never an all-pairs "
    "distance matrix. The blocked-equi-join + verify shape is the same "
    "100 TB contract as the MinHash band join",
    tags=("extension", "dedup"),
)
def fuzzy_part_name_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = read_parquet_table(spark, sf_dir, "part")
    names = part.groupBy("p_name").agg(
        F.min("p_partkey").cast("long").alias("canon_id"),
        F.count(F.lit(1)).cast("long").alias("n_parts"),
    ).withColumn("noun", F.element_at(F.split("p_name", " "), -1))
    a = names.select(
        F.col("p_name").alias("name_a"),
        F.col("noun").alias("__noun"),
        F.col("canon_id").alias("canon_a"),
        F.col("n_parts").alias("n_parts_a"),
    )
    b = names.select(
        F.col("p_name").alias("name_b"),
        F.col("noun").alias("__noun"),
        F.col("canon_id").alias("canon_b"),
        F.col("n_parts").alias("n_parts_b"),
    )
    return (
        a.join(b, "__noun")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn(
            "edit_dist",
            F.levenshtein("name_a", "name_b").cast("long"),
        )
        .filter(F.col("edit_dist") <= 2)
        .select(
            "name_a",
            "name_b",
            "edit_dist",
            "canon_a",
            "canon_b",
            "n_parts_a",
            "n_parts_b",
        )
    )



@register(
    "bloom_semi_join_urgent_revenue",
    oracle="""
SELECT l_returnflag,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,8)))
            AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
GROUP BY l_returnflag
""",
    description="Bloom-filter semi-join reduction (explicit operator "
    "form of Spark's runtime-bloom AQE): a 2^18-bit Bloom of the "
    "selective build side (urgent orders) compiles to a ≤4096-row "
    "(word, mask) broadcast table; the lineitem probe drops non-"
    "matching rows BEFORE its shuffle via three broadcast bit lookups. "
    "Transparent by construction — no false negatives, the real join "
    "removes false positives — so the oracle is the plain join; the "
    "filter changes shuffle volume, never results",
    tags=("extension", "join"),
)
def bloom_semi_join_urgent_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spotify_tracks_etl_portfolio_spark.operators.joins import (
        bloom_build,
        bloom_probe,
    )

    orders = read_parquet_table(spark, sf_dir, "orders")
    lineitem = read_parquet_table(spark, sf_dir, "lineitem")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey"
    )
    bloom = bloom_build(urgent, "o_orderkey")
    survivors = bloom_probe(lineitem, "l_orderkey", bloom)
    return (
        survivors.join(
            urgent, F.col("l_orderkey") == F.col("o_orderkey")
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(24,8)"
                )
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )



@register(
    "streaming_type_quantiles_sync",
    # same oracle VERBATIM as the batch sketch query: micro-batch
    # boundaries cannot change a sum of counter cells
    oracle=None,  # bound below to analytics.TYPE_QUANTILES_ORACLE
    description="10th streaming gate — the per-group quantile sketch "
    "maintained over a REAL stream (the r10-verdict sketch "
    "follow-through, streaming half): each micro-batch writes its "
    "bounded PARTIAL (event_type, bin, count) cell table exactly-once "
    "(epoch-partition overwrite under foreachBatch's at-least-once "
    "replay); after the drain the cells SUM-merge and the SAME "
    "rank-selection as the batch twin (shared "
    "_type_quantiles_from_cells) yields per-type median/p99 — "
    "hash-checked against the batch sketch oracle VERBATIM, proving "
    "the mergeability contract end-to-end across real micro-batches. "
    "At 100 TB: per-trigger state is #groups × #bins cells, quantile "
    "monitoring reads cells only, never raw history. Registered via "
    "the pending-r12 gate; pytest-verified now",
    tags=("streaming", "sketch", "approx"),
)
@pinned_stream_session
def streaming_type_quantiles_sync(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from spotify_tracks_etl_portfolio_spark.plans.analytics import (
        QUANT_BIN,
        QUANT_SCALE,
        _type_quantiles_from_cells,
    )
    from spotify_tracks_etl_portfolio_spark.streaming import (
        read_events_stream,
    )
    from spotify_tracks_etl_portfolio_spark.streaming.pipeline import (
        streaming_histogram_cells,
    )

    d = tempfile.mkdtemp(prefix="quant_sync_")
    out = f"{d}/cells"
    try:
        in_dir = f"{d}/in"
        ev = read_parquet_table(spark, sf_dir, "events")
        # two appends → two part files → two REAL micro-batches under
        # availableNow (the merge has actual partials to merge)
        ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        stream = read_events_stream(spark, in_dir)
        q = (
            streaming_histogram_cells(
                stream,
                out,
                f"{d}/ckpt",
                "event_type",
                "value",
                QUANT_SCALE,
                QUANT_BIN,
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        merged = (
            spark.read.parquet(out)
            .groupBy("event_type", "b")
            .agg(F.sum("c").alias("c"))
        )
        rows = _type_quantiles_from_cells(merged).collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "event_type string, approx_median_value double, "
        "approx_p99_value double, n_values long",
    )



def _bind_streaming_quantiles_oracle() -> None:
    """Late-bind the gate's oracle to the batch twin's (import-order:
    analytics imports extensions' register helpers, so the constant
    can't be read at decoration time without a cycle)."""
    from spotify_tracks_etl_portfolio_spark.plans import QUERIES
    from spotify_tracks_etl_portfolio_spark.plans.analytics import (
        TYPE_QUANTILES_ORACLE,
    )

    spec = QUERIES.get("streaming_type_quantiles_sync")
    if spec is not None and spec.oracle is None:
        spec.oracle = TYPE_QUANTILES_ORACLE



_bind_streaming_quantiles_oracle()



@register(
    "cow_incremental_rollup",
    oracle="""
WITH final AS (
  SELECT doc_id, lang,
         CASE WHEN doc_id % 50 = 0 THEN -n_chars ELSE n_chars END AS n_chars
  FROM documents
  WHERE NOT (doc_id % 97 = 0 AND doc_id % 50 <> 0)
  UNION ALL
  SELECT doc_id + 1000000, lang, -1 FROM documents WHERE doc_id % 50 = 0
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM final GROUP BY lang
""",
    description="Incremental view maintenance over the COW table: a "
    "per-lang rollup materialized at v0 is advanced to the latest "
    "snapshot by scanning ONLY the data files the two manifests do not "
    "share (copy-on-write rewrites whole files, so the file-list "
    "symmetric difference IS the complete change set; rewritten-but-"
    "unchanged rows appear in both scans and cancel in the merge). "
    "R1 = R0 ⊎ agg(added) ⊖ agg(removed) — one group-merge whose cost "
    "scales with the DELTA, not the table; hash-checked equal to the "
    "full recompute of the final state",
    tags=("extension", "sources", "acid"),
)
def cow_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spotify_tracks_etl_portfolio_spark.sources import cowtable as _ct

    docs = read_parquet_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars")
    )
    root = os.path.join(_session_scratch(spark, "cow_ivm"), uuid.uuid4().hex)
    _ct.create_table(spark, root, docs, cluster_by="doc_id", n_files=8)
    # The "existing" materialized rollup over v0.
    r0 = (
        _ct.read_table(spark, root, 0)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .localCheckpoint(eager=True)
    )
    # Same delta flow as cowtable_snapshot_diff: delete %97, negate %50
    # via upsert, insert brand-new +1000000 keys.
    _ct.delete_where(
        spark,
        root,
        "doc_id",
        docs.filter(F.col("doc_id") % 97 == 0).select("doc_id"),
    )
    upserts = docs.filter(F.col("doc_id") % 50 == 0).select(
        "doc_id", "lang", (-F.col("n_chars")).alias("n_chars")
    )
    inserts = docs.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        "lang",
        F.lit(-1).cast("long").alias("n_chars"),
    )
    _ct.merge_into(spark, root, upserts.unionByName(inserts), "doc_id")
    added, removed = _ct.changed_file_scans(spark, root, 0)
    delta = added.select(
        "lang", F.lit(1).alias("__d"), F.col("n_chars").alias("__c")
    ).unionByName(
        removed.select(
            "lang", F.lit(-1).alias("__d"), (-F.col("n_chars")).alias("__c")
        )
    )
    merged = r0.select(
        "lang", F.col("n_docs").alias("__d"), F.col("sum_chars").alias("__c")
    ).unionByName(delta)
    return (
        merged.groupBy("lang")
        .agg(
            F.sum("__d").cast("long").alias("n_docs"),
            F.sum("__c").cast("long").alias("sum_chars"),
        )
        .filter(F.col("n_docs") > 0)
    )



#: Fixed time origin for regression features (2024-01-01 UTC, µs) —
#: a LITERAL, not a data-derived min, so x needs no first pass.
_TREND_ORIGIN_US = 1_704_067_200_000_000



@register(
    "event_value_trend_by_type",
    oracle=f"""
WITH f AS (
  SELECT event_type,
         round((epoch_us(ts) - {_TREND_ORIGIN_US}) / 3600000000.0, 6) AS x,
         value AS y
  FROM events WHERE value IS NOT NULL
),
s AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(x, 6) AS DECIMAL(24,6))) AS DOUBLE) AS sx,
         CAST(sum(CAST(round(y, 6) AS DECIMAL(24,6))) AS DOUBLE) AS sy,
         CAST(sum(CAST(round(x * x, 6) AS DECIMAL(24,6))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(round(x * y, 6) AS DECIMAL(24,6))) AS DOUBLE) AS sxy,
         CAST(sum(CAST(round(y * y, 6) AS DECIMAL(24,6))) AS DOUBLE) AS syy
  FROM f GROUP BY event_type
)
SELECT event_type, n,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
         AS intercept,
       CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) <= 0 THEN NULL
            ELSE round((n * sxy - sx * sy) * (n * sxy - sx * sy)
                       / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
       END AS r2
FROM s
""",
    description="Per-group OLS trend (closed-form simple linear "
    "regression of event value on time): one hash aggregation collects "
    "the five sufficient statistics as DECIMAL-exact sums of 6-dp-"
    "rounded IEEE products (order-insensitive under any partitioning), "
    "slope/intercept/r² are a handful of scalar IEEE ops on the "
    "aggregates — distributed ML-style analytics with zero extra "
    "passes and no solver",
    tags=("extension", "analytics"),
)
def event_value_trend_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_parquet_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    x = F.round(
        (F.unix_micros(F.col("ts").cast("timestamp")) - _TREND_ORIGIN_US)
        / F.lit(3.6e9),
        6,
    )
    y = F.col("value")

    def dsum(expr):
        return F.sum(F.round(expr, 6).cast("decimal(24,6)")).cast("double")

    s = ev.select("event_type", x.alias("x"), y.alias("y")).groupBy(
        "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("x")).alias("sx"),
        dsum(F.col("y")).alias("sy"),
        dsum(F.col("x") * F.col("x")).alias("sxx"),
        dsum(F.col("x") * F.col("y")).alias("sxy"),
        dsum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy, syy = F.col("sxx"), F.col("sxy"), F.col("syy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    denom = (n * sxx - sx * sx) * (n * syy - sy * sy)
    return s.select(
        "event_type",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
        F.when(denom <= 0, F.lit(None).cast("double"))
        .otherwise(
            F.round((n * sxy - sx * sy) * (n * sxy - sx * sy) / denom, 6)
        )
        .alias("r2"),
    )



@register(
    "daily_volume_anomalies",
    oracle="""
WITH d AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CAST(dayofweek(date_trunc('day', ts)) AS BIGINT) AS dow,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
s AS (
  SELECT dow,
         CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(n) AS BIGINT) AS sn,
         CAST(sum(n * n) AS BIGINT) AS snn
  FROM d GROUP BY dow
),
z AS (
  SELECT d.day, d.dow, d.n,
         sn / CAST(n_days AS DOUBLE) AS mu,
         sqrt(greatest(
           snn / CAST(n_days AS DOUBLE)
             - (sn / CAST(n_days AS DOUBLE)) * (sn / CAST(n_days AS DOUBLE)),
           1e-12)) AS sigma
  FROM d JOIN s USING (dow)
)
SELECT day, dow, n,
       round(mu, 6) AS dow_mean,
       round((n - mu) / sigma, 6) AS z_score,
       abs((n - mu) / sigma) > 2.0 AS is_anomaly
FROM z
""",
    description="Seasonal volume anomaly detection: daily event counts "
    "z-scored against their DAY-OF-WEEK mean/std (weekday seasonality "
    "removed, the monitor a pipeline runs on ingest volume). Integer-"
    "exact sufficient statistics (counts and squared counts are "
    "BIGINTs), then a handful of scalar IEEE ops — deterministic; the "
    "day table is aggregated (365 rows/year) so every downstream step "
    "is driver-trivial at any event scale",
    tags=("extension", "analytics", "dq"),
)
def daily_volume_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_parquet_table(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts").cast("timestamp")).alias("d")
    )
    d = ev.groupBy("d").agg(F.count(F.lit(1)).alias("n")).select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        # DuckDB dayofweek: Sunday=0; Spark dayofweek: Sunday=1
        (F.dayofweek("d") - 1).cast("long").alias("dow"),
        F.col("n"),
    )
    s = d.groupBy("dow").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("n").alias("sn"),
        F.sum(F.col("n") * F.col("n")).alias("snn"),
    )
    mu = F.col("sn") / F.col("n_days").cast("double")
    sigma = F.sqrt(
        F.greatest(
            F.col("snn") / F.col("n_days").cast("double") - mu * mu,
            F.lit(1e-12),
        )
    )
    z = (F.col("n") - mu) / sigma
    return (
        d.join(s, "dow")
        .select(
            "day",
            "dow",
            "n",
            F.round(mu, 6).alias("dow_mean"),
            F.round(z, 6).alias("z_score"),
            (F.abs(z) > 2.0).alias("is_anomaly"),
        )
    )



@register(
    "benford_totalprice_audit",
    oracle="""
WITH c AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders WHERE o_totalprice > 0
),
d AS (
  SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM c
),
a AS (
  SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY digit
),
t AS (SELECT CAST(sum(n) AS DOUBLE) AS tot FROM a),
z AS (
  SELECT digit, n,
         round(n / tot, 6) AS observed_share,
         round(ln(1.0 + 1.0 / digit) / ln(CAST(10 AS DOUBLE)), 9)
           AS expected_share,
         round((n - tot * (ln(1.0 + 1.0 / digit) / ln(CAST(10 AS DOUBLE))))
               * (n - tot * (ln(1.0 + 1.0 / digit) / ln(CAST(10 AS DOUBLE))))
               / (tot * (ln(1.0 + 1.0 / digit) / ln(CAST(10 AS DOUBLE)))), 6)
           AS chi2_term
  FROM a, t
)
SELECT digit, n, observed_share, expected_share, chi2_term,
       round(CAST(sum(CAST(chi2_term AS DECIMAL(24,6))) OVER () AS DOUBLE), 6)
         AS chi2_total
FROM z
""",
    description="Benford's-law audit of order totals (the fraud/"
    "synthetic-data smell test): first significant digit extracted "
    "INTEGER-exactly (cents → string → leading digit, identical "
    "formatting on both engines — no log10-of-double knife edges), "
    "per-digit χ² terms against log10(1+1/d), total χ² windowed over "
    "the 9-row aggregated digit table. One scan, one hash agg",
    tags=("extension", "dq"),
)
def benford_totalprice_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = read_parquet_table(spark, sf_dir, "orders")
    cents = (
        orders.filter(F.col("o_totalprice") > 0)
        .select(F.round(F.col("o_totalprice") * 100).cast("long").alias("c"))
    )
    a = (
        cents.select(
            F.substring(F.col("c").cast("string"), 1, 1)
            .cast("long")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    t = a.agg(F.sum("n").cast("double").alias("tot"))
    exp_share = F.round(
        F.log(1.0 + 1.0 / F.col("digit")) / F.log(F.lit(10.0)), 9
    )
    exp_n = F.col("tot") * (
        F.log(1.0 + 1.0 / F.col("digit")) / F.log(F.lit(10.0))
    )
    z = a.crossJoin(F.broadcast(t)).select(
        "digit",
        "n",
        F.round(F.col("n") / F.col("tot"), 6).alias("observed_share"),
        exp_share.alias("expected_share"),
        F.round((F.col("n") - exp_n) * (F.col("n") - exp_n) / exp_n, 6).alias(
            "chi2_term"
        ),
    )
    return z.select(
        "*",
        F.round(
            F.sum(F.col("chi2_term").cast("decimal(24,6)"))
            .over(Window.partitionBy())
            .cast("double"),
            6,
        ).alias("chi2_total"),
    )



@register(
    "sessionize_native_session_window",
    oracle=f"""
WITH se AS (
  SELECT user_id, event_id, value, epoch_us(ts) AS us FROM events
),
sg AS (
  SELECT *, CASE WHEN lag(us) OVER sw IS NULL
                   OR us - lag(us) OVER sw >= {30 * 60 * 1_000_000}
            THEN 1 ELSE 0 END AS brk
  FROM se WINDOW sw AS (PARTITION BY user_id ORDER BY us, event_id)
),
ss AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM sg
)
SELECT user_id,
       min(us) AS session_start_us,
       max(us) + {30 * 60 * 1_000_000} AS session_end_us,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(24,8))) AS DOUBLE) AS sum_value
FROM ss GROUP BY user_id, sid
""",
    description="Gap sessions via Spark's NATIVE session_window "
    "aggregation (the built-in the manual lag-break twin re-derives): "
    "one hash aggregation with session merge in the state machinery, "
    "no window functions at all. Native semantics differ from the "
    "manual twin on two points the oracle mirrors exactly: a gap of "
    "EXACTLY 30min starts a new session (>= vs >), and session_end = "
    "last event + gap (the watermark-eviction bound), not last event",
    tags=("extension", "analytics"),
)
def sessionize_native_session_window(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = read_parquet_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    return (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(24,8)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias(
                "session_start_us"
            ),
            F.unix_micros(F.col("session_window.end")).alias(
                "session_end_us"
            ),
            "n_events",
            "sum_value",
        )
    )



@register(
    "event_type_markov_transitions",
    oracle="""
WITH s AS (
  SELECT user_id, event_type, epoch_us(ts) AS us, event_id FROM events
),
p AS (
  SELECT event_type AS cur,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY us, event_id) AS nxt
  FROM s
),
c AS (
  SELECT cur, nxt, CAST(count(*) AS BIGINT) AS n
  FROM p WHERE nxt IS NOT NULL GROUP BY cur, nxt
),
t AS (SELECT cur, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY cur)
SELECT c.cur, c.nxt, c.n,
       round(c.n / CAST(t.tot AS DOUBLE), 6) AS p_transition
FROM c JOIN t USING (cur)
""",
    description="User-journey Markov chain: per-user consecutive event "
    "pairs (ONE shuffle on user_id for the lead window) reduce to the "
    "event-type transition matrix with row-normalized probabilities — "
    "the product-analytics operator behind flow/sankey views. States "
    "scale with the type vocabulary, not the event count",
    tags=("extension", "analytics"),
)
def event_type_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = read_parquet_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    pairs = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    c = pairs.groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("n"))
    t = c.groupBy("cur").agg(F.sum("n").alias("tot"))
    return c.join(t, "cur").select(
        "cur",
        "nxt",
        "n",
        F.round(F.col("n") / F.col("tot").cast("double"), 6).alias(
            "p_transition"
        ),
    )



@register(
    "trade_graph_degree_distribution",
    oracle="""
WITH tr AS (
  SELECT DISTINCT o_custkey * 2 AS cnode, l_suppkey * 2 + 1 AS snode
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
e AS (
  SELECT cnode AS src FROM tr UNION ALL SELECT snode FROM tr
),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS degree FROM e GROUP BY src)
SELECT CASE WHEN src % 2 = 0 THEN 'customer' ELSE 'supplier' END
         AS entity_type,
       degree,
       CAST(count(*) AS BIGINT) AS n_nodes
FROM deg GROUP BY 1, 2
""",
    description="Degree distribution of the customer–supplier trade "
    "graph per node type — the structural audit run before any "
    "iterative graph algorithm (skew in this table predicts hub "
    "hotspots in the PageRank shuffle). Two hash aggregations, "
    "integer-exact",
    tags=("extension", "graph"),
)
def trade_graph_degree_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from spotify_tracks_etl_portfolio_spark.operators.graph import (
        trade_graph_edges,
    )

    orders = read_parquet_table(spark, sf_dir, "orders")
    lineitem = read_parquet_table(spark, sf_dir, "lineitem")
    deg = (
        trade_graph_edges(orders, lineitem)
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return (
        deg.select(
            F.when(F.col("src") % 2 == 0, F.lit("customer"))
            .otherwise(F.lit("supplier"))
            .alias("entity_type"),
            "degree",
        )
        .groupBy("entity_type", "degree")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )


