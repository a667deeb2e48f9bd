"""Medallion pipeline orchestration (SURVEY.md §2.11, §3.1-3.2).

The reference's two Airflow DAGs become two plain functions composed of
engine operators; the XCom hand-offs degenerate to Python return values
carrying ONLY metrics/stats — never rows (the reference serializes the
entire dataset through XCom, ``reference: dags/de_spotify_to_bronze.py:103-107``,
its main scalability cliff).

``run_bronze_ingest``  ≈ DAG ``csv_to_mysql_etl``
(reference: dags/de_spotify_to_bronze.py:37-411):
config → extract CSV → enrich metadata → pre-load validation (soft) →
load (full|batch) → post-load DQ suite (soft) → load report.

``run_silver_transform`` ≈ DAG ``de_spotify_silver``
(reference: dags/de_spotify_silver.py:24-221):
stats over raw bronze → impute/clamp/dedup transform → DQ suite (HARD).

At pipeline sizes every Spark action pays Catalyst's full
analyze→optimize→plan pass plus its py4j traffic, so the two runs are
built to SIX actions, none of them a re-count:

- bronze (2): the write, carrying the pre-load checks (row count,
  key-column nulls) as an Observation; the DQ suite's one aggregation,
  whose row count is ``rows_loaded``;
- silver (4): the bronze schema read (parquet footer inference); the one
  stats pass (medians and modes); the write, carrying the bronze row
  count as an Observation on its input; the DQ suite's one aggregation,
  whose row count is ``rows_silver``.

A table read back right after its write gets the schema it was written
with, so no footer-inference job runs for it. Without a DQ suite the
row count falls back to one ``count()``.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from spotify_tracks_etl_portfolio_spark.operators.dq import Suite, ValidationReport
from spotify_tracks_etl_portfolio_spark.operators.medallion import (
    dedup_first,
    enrich_ingest_metadata,
    impute_and_clamp,
    nan_to_null,
)
from spotify_tracks_etl_portfolio_spark.operators.stats import compute_impute_stats
from spotify_tracks_etl_portfolio_spark.sources.readers import read_csv
from spotify_tracks_etl_portfolio_spark.sources.writers import (
    LoadMode,
    resolve_load_mode,
    write_table,
    written_schema,
)


@dataclass
class PipelineConfig:
    """The Airflow-Variable config surface
    (reference: dags/de_spotify_to_bronze.py:47-76)."""

    csv_path: str
    bronze_path: str
    silver_path: str
    load_type: str = "batch"
    run_type: str = "manual"
    source_identifier: str = "CSV"
    batch_identifier: str | None = None

    def resolved_batch_id(self) -> str:
        if self.batch_identifier:
            return self.batch_identifier
        now = datetime.now(timezone.utc)
        return f"batch_{now.strftime('%Y%m%d_%H%M%S')}"


@dataclass
class LoadReport:
    """The generate_load_report task's metrics dict
    (reference: dags/de_spotify_to_bronze.py:363-392)."""

    batch_identifier: str
    load_mode: str
    rows_extracted: int
    rows_loaded: int
    validation: dict[str, Any] = field(default_factory=dict)
    dq: dict[str, Any] = field(default_factory=dict)


def preload_checks(
    df: DataFrame, key_cols: list[str]
) -> tuple[DataFrame, Observation]:
    """Pre-load pandas-style checks (soft gate; reference:
    dags/de_spotify_to_bronze.py:113-159 — failures only warn, the abort
    is commented out at :177-180): the row count and key-column nulls as
    an Observation on ``df``, filled by the first action over the
    returned frame (the bronze write) — no pass of their own."""
    obs = Observation()
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("row_count"),
        *[
            F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{c}")
            for c in key_cols
        ],
    )
    return observed, obs


def preload_validation(
    metrics: dict[str, Any], dtypes: dict[str, str], key_cols: list[str]
) -> dict[str, Any]:
    """The pre-load validation dict from the observed ``preload_checks``."""
    result = {"row_count": metrics["row_count"], "dtypes": dtypes}
    for c in key_cols:
        result[f"nulls_{c}"] = metrics[f"nulls_{c}"]
    result["success"] = all(metrics[f"nulls_{c}"] == 0 for c in key_cols)
    return result


def _row_count(loaded: DataFrame, report: ValidationReport | None) -> int:
    """The DQ pass's row count; a ``count()`` only when no suite ran."""
    return report.row_count if report is not None else loaded.count()


def run_bronze_ingest(
    spark: SparkSession,
    config: PipelineConfig,
    csv_schema,
    key_cols: list[str],
    dq_suite: Suite | None = None,
    partition_by: list[str] | None = None,
) -> LoadReport:
    """CSV → validated, metadata-enriched bronze parquet."""
    mode = resolve_load_mode(config.load_type, config.run_type)
    batch_id = config.resolved_batch_id()
    partition_by = partition_by or ["batch_identifier"]

    raw = read_csv(spark, config.csv_path, schema=csv_schema)
    enriched = enrich_ingest_metadata(
        raw,
        source_identifier=config.source_identifier,
        batch_identifier=batch_id,
    )
    # observed BEFORE nan_to_null, so a NaN key is not a null key
    checked, preload = preload_checks(enriched, key_cols)
    cleaned = nan_to_null(checked)
    metrics = write_table(
        cleaned, config.bronze_path, mode=mode, partition_by=partition_by,
        observe=[preload],
    )
    validation = preload_validation(metrics, dict(enriched.dtypes), key_cols)

    # read back with the written schema: no footer-inference job
    loaded = spark.read.schema(written_schema(cleaned, partition_by)).parquet(
        config.bronze_path
    )
    dq_report: ValidationReport | None = None
    if dq_suite is not None:
        dq_report = dq_suite.run(loaded)  # soft gate on bronze (:357-361)

    return LoadReport(
        batch_identifier=batch_id,
        load_mode=mode.value,
        rows_extracted=validation["row_count"],
        rows_loaded=_row_count(loaded, dq_report),
        validation=validation,
        dq=dq_report.to_dict() if dq_report else {},
    )


def run_silver_transform(
    spark: SparkSession,
    config: PipelineConfig,
    dedup_key: str | list[str],
    dedup_order: list[str],
    median_cols: list[str],
    mode_cols: list[str],
    clamps: dict[str, tuple[float, float]],
    dq_suite: Suite | None = None,
) -> dict[str, Any]:
    """Bronze → silver with the reference's two-phase stats semantics and
    a HARD DQ gate (reference: dags/de_spotify_silver.py:213-216): the
    steps of ``silver_transform``, with the bronze row count observed
    on the silver write's input."""
    bronze = spark.read.parquet(config.bronze_path)
    stats = compute_impute_stats(bronze, median_cols, mode_cols)
    counted = Observation()
    imputed = impute_and_clamp(
        bronze.observe(counted, F.count(F.lit(1)).alias("rows_bronze")),
        stats["medians"],
        stats["modes"],
        clamps,
    )
    silver = dedup_first(imputed, dedup_key, dedup_order)
    metrics = write_table(
        silver, config.silver_path, mode=LoadMode.FULL, observe=[counted]
    )

    loaded = spark.read.schema(written_schema(silver)).parquet(config.silver_path)
    report = dq_suite.run(loaded) if dq_suite is not None else None
    result: dict[str, Any] = {
        "rows_bronze": metrics["rows_bronze"],
        "rows_silver": _row_count(loaded, report),
    }
    if report is not None:
        result["dq"] = report.to_dict()
        report.raise_on_failure()  # hard gate
    return result
