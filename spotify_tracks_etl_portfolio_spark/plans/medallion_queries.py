"""Medallion parity queries — the reference's bronze→silver pipeline
re-expressed over the ``events`` table (SURVEY.md §2.2, §2.5, §3.2).

``events`` is the testdata analogue of ``spotify_tracks``: dedup key
``event_id`` ↔ ``track_id``, tie-break ``ts`` ↔ ``index``, imputed metric
``value`` ↔ the median-imputed audio features, clamp [0, 450] ↔ the
popularity/feature clamps (reference: dags/sql/de_spotify_silver.sql).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spotify_tracks_etl_portfolio_spark.operators.medallion import (
    dedup_first,
    impute_and_clamp,
)
from spotify_tracks_etl_portfolio_spark.operators.stats import (
    column_medians,
    compute_impute_stats,
)
from spotify_tracks_etl_portfolio_spark.plans import register
from spotify_tracks_etl_portfolio_spark.sources.readers import read_parquet_table
from spotify_tracks_etl_portfolio_spark.streaming.pipeline import (
    pinned_stream_session,
)

VALUE_CLAMP = (0.0, 450.0)


def silver_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship pipeline: two-phase stats → impute+clamp → window dedup."""
    events = read_parquet_table(spark, sf_dir, "events")
    medians = column_medians(events, ["value"], exact=True)
    silver = impute_and_clamp(events, medians=medians, clamps={"value": VALUE_CLAMP})
    silver = dedup_first(silver, "event_id", ["ts", "user_id"])
    return silver.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        "props",
        F.date_format("ts", "yyyy-MM-dd").alias("event_day"),
    )


register(
    "medallion_silver_events",
    oracle="""
WITH stats AS (SELECT median(value) AS med FROM events),
ranked AS (
  SELECT e.*, row_number() OVER (PARTITION BY event_id ORDER BY ts, user_id) AS rn
  FROM events e
)
SELECT event_id, user_id, event_type,
       least(greatest(coalesce(value, (SELECT med FROM stats)), 0.0), 450.0) AS value,
       props,
       strftime(ts, '%Y-%m-%d') AS event_day
FROM ranked
WHERE rn = 1
""",
    description="Full silver transform: stats-over-raw → COALESCE median impute "
    "→ LEAST/GREATEST clamp → ROW_NUMBER dedup (reference: dags/sql/de_spotify_silver.sql:7-44)",
    tags=("medallion", "flagship"),
)(silver_events)


@register(
    "dedup_window_events",
    oracle="""
SELECT event_id, user_id, event_type, value
FROM (
  SELECT e.*, row_number() OVER (PARTITION BY event_id ORDER BY ts, user_id) AS rn
  FROM events e
) WHERE rn = 1
""",
    description="W1: keep-first-per-key window dedup "
    "(reference: dags/sql/de_spotify_silver.sql:40-44)",
    tags=("medallion", "window"),
)
def dedup_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_parquet_table(spark, sf_dir, "events")
    return dedup_first(events, "event_id", ["ts", "user_id"]).select(
        "event_id", "user_id", "event_type", "value"
    )


@register(
    "impute_stats_events",
    oracle="""
SELECT (SELECT median(value) FROM events) AS median_value,
       (SELECT event_type FROM events
        WHERE event_type IS NOT NULL
        GROUP BY event_type
        ORDER BY count(*) DESC, event_type
        LIMIT 1) AS mode_event_type
""",
    description="A3/A4: the two-phase stats job — exact median + mode with the "
    "pandas tie-break (reference: dags/de_spotify_silver.py:56-69)",
    tags=("medallion", "stats"),
)
def impute_stats_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_parquet_table(spark, sf_dir, "events")
    stats = compute_impute_stats(events, ["value"], ["event_type"], exact=True)
    med, mode = stats["medians"]["value"], stats["modes"]["event_type"]
    return spark.createDataFrame(
        [(float(med), str(mode))], "median_value double, mode_event_type string"
    )


@register(
    "null_counts_events",
    oracle="""
SELECT CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_event_id,
       CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_ts,
       CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_user_id,
       CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_event_type,
       CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_value,
       CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_props
FROM events
""",
    description="A2: per-column null counts in one aggregation pass "
    "(reference: dags/de_spotify_to_bronze.py:127-137)",
    tags=("medallion", "dq"),
)
def null_counts_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_parquet_table(spark, sf_dir, "events")
    return events.agg(
        *[
            F.sum(F.col(c).isNull().cast("long")).alias(f"n_{c}")
            for c in events.columns
        ]
    )


@register(
    "metadata_enrichment_events",
    oracle="""
SELECT event_id,
       '2024-06-01T00:00:00' AS ingestion_timestamp,
       'PARQUET' AS source_identifier,
       'batch_' || strftime(TIMESTAMP '2024-06-01 00:00:00', '%Y%m%d_%H%M%S')
         AS batch_identifier
FROM events
""",
    description="S2/F3-F5: ingestion-provenance projection — pinned "
    "timestamp, source tag, batch_YYYYMMDD_HHMMSS id "
    "(reference: dags/de_spotify_to_bronze.py:63,92-97)",
    tags=("medallion",),
)
def metadata_enrichment_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spotify_tracks_etl_portfolio_spark.operators.medallion import (
        enrich_ingest_metadata,
    )

    events = read_parquet_table(spark, sf_dir, "events")
    pinned = F.to_timestamp(F.lit("2024-06-01 00:00:00"))
    enriched = enrich_ingest_metadata(
        events, source_identifier="PARQUET", ingestion_timestamp=pinned
    )
    return enriched.select(
        "event_id",
        F.date_format("ingestion_timestamp", "yyyy-MM-dd'T'HH:mm:ss").alias(
            "ingestion_timestamp"
        ),
        "source_identifier",
        "batch_identifier",
    )


@register(
    "dq_checks_events",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS row_count,
       CAST(count(event_id) - count(DISTINCT event_id) AS BIGINT) AS dup_event_ids,
       CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_values,
       CAST(sum(CASE WHEN value IS NOT NULL AND (value < 0.0 OR value > 450.0)
                THEN 1 ELSE 0 END) AS BIGINT) AS out_of_range_values
FROM events
""",
    description="A11-A15: the GX expectation families (row count, uniqueness, "
    "not-null, value-range) batched into ONE aggregation pass — the engine's "
    "operators/dq.py Suite compiled by hand (reference: GX suites at "
    "dags/de_spotify_to_bronze.py:230-361, dags/de_spotify_silver.py:82-218)",
    tags=("medallion", "dq"),
)
def dq_checks_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_parquet_table(spark, sf_dir, "events")
    bad_range = (
        F.col("value").isNotNull()
        & (~F.col("value").between(0.0, 450.0))
    )
    return events.agg(
        F.count(F.lit(1)).alias("row_count"),
        (F.count("event_id") - F.countDistinct("event_id")).alias("dup_event_ids"),
        F.sum(F.col("value").isNull().cast("long")).alias("null_values"),
        F.sum(bad_range.cast("long")).alias("out_of_range_values"),
    )


@register(
    "streaming_hourly_rollup_sync",
    oracle="""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
""",
    description="Structured Streaming under the CORRECTNESS gate: the "
    "watermarked tumbling-window rollup runs as a real stream "
    "(file-source readStream, micro-batches, streaming state store) "
    "driven to completion with trigger(availableNow) into a memory "
    "sink, then hash-checked against the SAME DuckDB oracle as the "
    "batch twin hourly_event_rollup — exactly-equal results because "
    "window sums merge DECIMAL-exact streaming state. Complete output "
    "mode emits every window at drain (append's watermark withholding "
    "is a liveness policy, not a correctness difference)",
    tags=("streaming", "analytics"),
)
@pinned_stream_session
def streaming_hourly_rollup_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spotify_tracks_etl_portfolio_spark.streaming import (
        drain_events_stream_to_table,
        streaming_hourly_rollup,
    )

    return drain_events_stream_to_table(
        spark, sf_dir, streaming_hourly_rollup, "complete", "hourly"
    )


SESSION_GAP_US = 30 * 60 * 1_000_000


@register(
    "streaming_sessionize_sync",
    oracle=f"""
WITH se AS (
  SELECT user_id, event_id, value, epoch_us(ts) AS us FROM events
),
sg AS (
  SELECT *, CASE WHEN lag(us) OVER sw IS NULL
                   OR us - lag(us) OVER sw > {SESSION_GAP_US}
            THEN 1 ELSE 0 END AS brk
  FROM se WINDOW sw AS (PARTITION BY user_id ORDER BY us, event_id)
),
ss AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM sg
),
sagg AS (
  SELECT user_id, sid,
         min(us) AS session_start_us,
         max(us) AS session_end_us,
         CAST(count(*) AS BIGINT) AS n_events,
         list_reduce(list(value ORDER BY us, event_id),
                     (a, b) -> a + b) AS sum_value
  FROM ss GROUP BY user_id, sid
),
slast AS (SELECT user_id, max(sid) AS max_sid FROM sagg GROUP BY user_id)
SELECT a.user_id, a.session_start_us, a.session_end_us,
       a.n_events, a.sum_value
FROM sagg a JOIN slast l
  ON a.user_id = l.user_id AND a.sid < l.max_sid
""",
    description="Custom stateful streaming (applyInPandasWithState "
    "sessionization) under the CORRECTNESS gate: the per-user O(1) "
    "session state runs as a real stream to completion; emitted CLOSED "
    "sessions are hash-checked against a declarative gap-session oracle "
    "(lag-break + cumulative session id) that excludes each user's "
    "trailing open session — the one the stateful operator correctly "
    "holds in state. Session sums compare bit-exactly because BOTH "
    "engines fold values in the same (ts, event_id) order: pandas "
    "running sum vs DuckDB ordered list_reduce",
    tags=("streaming", "stateful"),
)
@pinned_stream_session
def streaming_sessionize_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spotify_tracks_etl_portfolio_spark.streaming import (
        drain_events_stream_to_table,
    )
    from spotify_tracks_etl_portfolio_spark.streaming.stateful import (
        streaming_sessionize,
    )

    drained = drain_events_stream_to_table(
        spark,
        sf_dir,
        lambda stream: streaming_sessionize(stream, gap_minutes=30),
        "append",
        "sessions",
    )
    return drained.select(
        "user_id",
        F.unix_micros("session_start").alias("session_start_us"),
        F.unix_micros("session_end").alias("session_end_us"),
        "n_events",
        "sum_value",
    )


@register(
    "streaming_stream_stream_join_sync",
    oracle="""
SELECT c.event_id AS click_id,
       c.user_id,
       epoch_us(c.ts) AS click_ts_us,
       p.event_id AS purchase_id,
       epoch_us(p.ts) AS purchase_ts_us,
       p.value AS purchase_value
FROM events c
JOIN events p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts
 AND p.ts <= c.ts + INTERVAL 60 MINUTE
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
""",
    description="Watermarked stream-stream interval self-join under the "
    "CORRECTNESS gate: clicks matched to same-user purchases within a "
    "60-minute horizon run as a REAL stream (two watermarked sides, "
    "streaming join state, availableNow drain into a memory sink) and "
    "hash-match the batch interval-join oracle row-for-row — inner "
    "stream-stream matches emit exactly once, and the bounded "
    "event-time distance plus watermarks are what let Spark evict join "
    "state at 100 TB instead of buffering both streams forever",
    tags=("streaming", "join"),
)
@pinned_stream_session
def streaming_stream_stream_join_sync(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from spotify_tracks_etl_portfolio_spark.streaming import (
        drain_events_stream_to_table,
        streaming_click_purchase_join,
    )

    drained = drain_events_stream_to_table(
        spark,
        sf_dir,
        lambda stream: streaming_click_purchase_join(stream, horizon_minutes=60),
        "append",
        "ssjoin",
    )
    return drained.select(
        "click_id",
        "user_id",
        F.unix_micros("click_ts").alias("click_ts_us"),
        "purchase_id",
        F.unix_micros("purchase_ts").alias("purchase_ts_us"),
        "purchase_value",
    )
