"""Sinks: load modes and partition-aware writes (SURVEY.md §2.1 S3-S6).

The reference has two load modes (``reference: dags/de_spotify_to_bronze.py``):
``full`` = TRUNCATE + insert (:193-196) and ``batch`` = append (:198-200),
selected by config with a guard that a *scheduled* run may not be a full
load (:58-60). Spark mapping: ``overwrite`` / ``append`` save modes.

Scale posture: bronze is partitioned by ``batch_identifier`` — the
idiomatic replacement for the reference's B-tree indexes
(``reference: dags/sql/de_spotify_create_table.sql:31-33``): partition
pruning + parquet min/max row-group skipping serve the same access paths.
"""

from __future__ import annotations

from collections.abc import Sequence
from enum import Enum
from typing import Any

from pyspark.sql import DataFrame, Observation
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType


class LoadMode(str, Enum):
    FULL = "full"  # TRUNCATE + insert ≡ overwrite
    BATCH = "batch"  # append


class ScheduledFullLoadError(ValueError):
    """A scheduled run may not request a full load
    (reference: dags/de_spotify_to_bronze.py:58-60)."""


def resolve_load_mode(load_type: str, run_type: str = "manual") -> LoadMode:
    mode = LoadMode(load_type)
    if mode is LoadMode.FULL and run_type == "scheduled":
        raise ScheduledFullLoadError(
            "load_type='full' is not allowed for scheduled runs"
        )
    return mode


def write_table(
    df: DataFrame,
    path: str,
    mode: LoadMode = LoadMode.BATCH,
    partition_by: list[str] | None = None,
    sort_within_partitions: list[str] | None = None,
    observe: Sequence[Observation] = (),
) -> dict[str, Any]:
    """Write a table in the selected load mode and return the metrics of
    ``observe`` (empty when there are none).

    ``sort_within_partitions`` gives scan locality on a hot key (the
    analogue of the reference's ``idx_track_id``) without a global sort.

    ``observe`` are Observations attached (``DataFrame.observe``) to
    ``df`` or to a frame ``df`` derives from, that no earlier action ran.
    The reference validates loads by re-counting the table after insert
    (reference: dags/de_spotify_to_bronze.py:213-214 — a second full
    scan); observed aggregates are computed by the write job itself as
    the data streams to the sink — zero extra scans at any scale.
    """
    if sort_within_partitions:
        df = df.sortWithinPartitions(*sort_within_partitions)
    writer = df.write.mode("overwrite" if mode is LoadMode.FULL else "append")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    metrics: dict[str, Any] = {}
    for obs in observe:
        metrics.update(obs.get)
    return metrics


def written_schema(df: DataFrame, partition_by: list[str] | None = None) -> StructType:
    """The schema of ``df`` as ``write_table`` stores it: every field
    nullable, partition columns last in ``partition_by`` order. Reading a
    just-written table back with it skips Spark's footer-inference job,
    and partition values keep their written type (inference would read a
    digits-only string partition value back as a number)."""
    parts = partition_by or []
    fields = {f.name: f for f in df.schema.fields}
    order = [c for c in fields if c not in parts] + list(parts)
    return StructType(
        [StructField(c, _nullable(fields[c].dataType), True) for c in order]
    )


def _nullable(t: DataType) -> DataType:
    if isinstance(t, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType), True) for f in t.fields]
        )
    if isinstance(t, ArrayType):
        return ArrayType(_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


def compact_table(
    spark,
    src_path: str,
    dst_path: str,
    target_files: int,
    sort_within_partitions: list[str] | None = None,
) -> int:
    """Small-files compaction: rewrite a parquet directory into
    ``target_files`` files (the operational fix for streaming/append
    sinks that accumulate thousands of tiny files — at 100 TB the
    driver-side file listing and per-file open cost dominate reads
    long before data volume does).

    Uses ``coalesce`` (shuffle-free narrow merge of input splits), not
    ``repartition``: compaction should move bytes once, not hash them.
    ``sort_within_partitions`` re-sorts rows inside each output file
    for min/max row-group skipping on a hot key. Writes to ``dst_path``
    (never in-place — reading and overwriting the same parquet path in
    one job corrupts it). Returns the row count written.
    """
    def order(df):
        if sort_within_partitions:
            return df.sortWithinPartitions(*sort_within_partitions)
        return df

    return _compaction_rewrite(spark, src_path, dst_path, target_files, order)


def _compaction_rewrite(spark, src_path, dst_path, target_files, order) -> int:
    """Shared rewrite kernel for ``compact_table``/``optimize_table``:
    read → shuffle-free coalesce → caller's in-partition ordering →
    overwrite ``dst_path``; returns rows written. One implementation so
    the two maintenance entry points can't drift."""
    df = spark.read.parquet(src_path)
    out = order(df.coalesce(target_files))
    out.write.mode("overwrite").parquet(dst_path)
    return spark.read.parquet(dst_path).count()


def optimize_table(
    spark,
    src_path: str,
    dst_path: str,
    target_files: int,
    zorder_by: tuple[str, str] | None = None,
) -> int:
    """OPTIMIZE-style table maintenance: compaction plus optional
    Z-order clustering in one rewrite — the parquet-native analogue of
    a lakehouse ``OPTIMIZE ... ZORDER BY (a, b)``. With ``zorder_by``,
    rows are sorted by the Morton interleave of the two columns so
    row-group min/max stats stay tight for BOTH (multi-dimensional
    data skipping); without it this is plain ``compact_table``. One
    shuffle-free coalesce + an in-partition sort; returns rows written.
    """
    from spotify_tracks_etl_portfolio_spark.functions import morton_code

    def order(df):
        if zorder_by is not None:
            a, b = zorder_by
            return (
                df.withColumn("__z", morton_code(a, b))
                .sortWithinPartitions("__z")
                .drop("__z")
            )
        return df

    return _compaction_rewrite(spark, src_path, dst_path, target_files, order)


def refresh_rollup_partition(
    spark,
    fact_path: str,
    rollup_path: str,
    day: str,
    ts_col: str = "ts",
) -> None:
    """Incremental materialized-rollup refresh: recompute ONE day's
    aggregate partition from the fact table and overwrite ONLY that
    partition (dynamic partitionOverwriteMode) — the daily-refresh
    pattern that keeps a 100 TB rollup current by touching 1/Nth of it.
    The fact scan prunes to the day via the partition-able date
    predicate; every other rollup partition's files are untouched."""
    from pyspark.sql import functions as F

    facts = spark.read.parquet(fact_path)
    day_col = F.date_format(F.date_trunc("day", ts_col), "yyyy-MM-dd")
    one_day = facts.filter(day_col == day)
    rollup = one_day.groupBy(
        day_col.alias("day"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias(
            "sum_value"
        ),
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        rollup.write.mode("overwrite").partitionBy("day").parquet(rollup_path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: LoadMode = LoadMode.BATCH,
    properties: dict[str, str] | None = None,
    num_partitions: int | None = None,
    batchsize: int = 1000,
    save: bool = True,
):
    """Relational (JDBC) sink — direct parity with the reference's MySQL
    insert (reference: dags/de_spotify_to_bronze.py:206-210, pandas
    ``to_sql`` in 1000-row chunks): ``FULL`` ≡ overwrite (the TRUNCATE +
    insert mode, :193-196), ``BATCH`` ≡ append (:198-200).

    Scale posture: each partition opens one connection and streams its
    rows in ``batchsize`` batches; ``num_partitions`` coalesces first so
    a 1000-task stage doesn't open 1000 database connections — the
    parallelism knob IS the connection count. (The parquet/catalog path
    in ``write_table`` remains the analytics-grade sink; JDBC is for
    serving-database handoff like the reference's MySQL.)

    ``save=False`` returns the fully-configured writer without executing
    (the container ships no JDBC driver; tests assert the configuration
    seam).
    """
    if num_partitions is not None:
        df = df.coalesce(num_partitions)
    writer = (
        df.write.mode("overwrite" if mode is LoadMode.FULL else "append")
        .format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
        # overwrite must TRUNCATE (keep indexes/DDL), not DROP+recreate —
        # matches the reference's TRUNCATE TABLE semantics
        .option("truncate", "true")
    )
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    if save:
        writer.save()
        return None
    return writer


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: list[str],
    n_buckets: int,
    sort_by: list[str] | None = None,
    overwrite: bool = True,
) -> None:
    """Persist a managed table bucketed (hash-partitioned at WRITE time)
    on the join/aggregation key.

    This is the 100 TB co-location lever: two tables bucketed on the
    same key with the same bucket count join WITHOUT a shuffle — the
    SortMergeJoin reads bucket i of each side directly (verified in
    tests: zero Exchange nodes in the joined plan). Same effect for
    groupBy on the bucket key. At petabyte scale this converts every
    repeated fact-to-fact join from a full network shuffle into a local
    merge — the write-once cost is amortized over every downstream
    query. (Parquet path-based writes can't carry bucket metadata; this
    requires a catalog table, hence ``saveAsTable``.)
    """
    writer = (
        df.write.mode("overwrite" if overwrite else "append")
        .format("parquet")
        .bucketBy(n_buckets, *bucket_by)
    )
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.saveAsTable(table)


def write_jsonl(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    compression: str | None = "gzip",
    shards: int | None = None,
) -> None:
    """Export a corpus as JSON-Lines (the format training stacks and
    labeling tools ingest): one object per line, optionally gzip'd and
    re-sharded.

    ``shards`` uses ``repartition`` (round-robin, even shard sizes for
    downstream loaders) rather than ``coalesce`` (which skews shard
    sizes by collapsing neighbors). At 100 TB pick shards so each
    compressed file lands in the 100 MB–1 GB sweet spot."""
    w = df.repartition(shards) if shards else df
    writer = w.write.mode(mode)
    if compression:
        writer = writer.option("compression", compression)
    writer.json(path)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    compression: str = "zstd",
    shards: int | None = None,
) -> None:
    """Export as ORC (the columnar interchange Hive/Trino stacks read
    natively) — same round-robin resharding contract as ``write_jsonl``
    so downstream loaders see even shard sizes."""
    w = df.repartition(shards) if shards else df
    w.write.mode(mode).option("compression", compression).orc(path)
