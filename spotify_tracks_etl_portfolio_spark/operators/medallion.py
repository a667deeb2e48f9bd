"""Medallion bronze→silver operators (SURVEY.md §2.2, §2.5, §3).

The reference's silver transform (``reference: dags/sql/de_spotify_silver.sql:7-44``)
is a single INSERT..SELECT: ROW_NUMBER dedup subquery + COALESCE
imputation + LEAST/GREATEST clamping, with stats injected as literals.
Here each piece is a named, composable DataFrame function, and
``silver_transform`` wires them in the reference's order.

Scale posture:
- Dedup is one window over ``partitionBy(key)`` — a single hash shuffle
  on the dedup key; at 100 TB, pre-partitioning/bucketing bronze by the
  key makes this shuffle-free. ``dropDuplicates`` is deliberately NOT
  used: which row survives would be nondeterministic (SURVEY.md §2.5 W1).
- Imputation/clamp are pure projections — no shuffle, fully codegen'd.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from spotify_tracks_etl_portfolio_spark.functions import clamp, quote_ident


def enrich_ingest_metadata(
    df: DataFrame,
    source_identifier: str = "CSV",
    batch_identifier: str | None = None,
    ingestion_timestamp: Column | None = None,
) -> DataFrame:
    """Append ingestion provenance (S2;
    reference: dags/de_spotify_to_bronze.py:92-97).

    The reference pins one wall-clock per task; here the timestamp is
    pinned once per call (pass a literal for reproducible runs). Batch id
    format ``batch_YYYYMMDD_HHMMSS`` per
    reference: dags/de_spotify_to_bronze.py:63.
    """
    ts = (
        ingestion_timestamp
        if ingestion_timestamp is not None
        else F.current_timestamp()
    )
    batch = (
        F.lit(batch_identifier)
        if batch_identifier is not None
        else F.concat(F.lit("batch_"), F.date_format(ts, "yyyyMMdd_HHmmss"))
    )
    return df.withColumns(
        {
            "ingestion_timestamp": ts,
            "source_identifier": F.lit(source_identifier),
            "batch_identifier": batch,
            "created_at": ts,
            "updated_at": ts,
        }
    )


def merge_with_audit_timestamps(
    existing: DataFrame,
    incoming: DataFrame,
    key: str | list[str],
    write_ts: Column | None = None,
) -> DataFrame:
    """Upsert with the reference's audit-timestamp trigger semantics
    (reference: dags/sql/de_spotify_create_table.sql:29-30 —
    ``created_at DEFAULT CURRENT_TIMESTAMP`` / ``updated_at ... ON
    UPDATE CURRENT_TIMESTAMP``) re-expressed for immutable tables, the
    deviation documented in SURVEY.md §1.2:

    - a key already present keeps its ORIGINAL ``created_at`` and gets
      ``updated_at`` = this write's pinned timestamp (the trigger's
      on-update behavior, applied at write time);
    - a new key gets ``created_at = updated_at`` = this write's
      timestamp (the insert default).

    The result is the full-refresh merge of ``existing`` and
    ``incoming`` (incoming wins per key). One shuffle on the key; at
    scale this is the foreachBatch/MERGE upsert shape with the audit
    columns made explicit rather than trigger-magic."""
    keys = [key] if isinstance(key, str) else key
    ts = write_ts if write_ts is not None else F.current_timestamp()
    prior = existing.select(
        *keys, F.col("created_at").alias("__orig_created_at")
    )
    merged = (
        incoming.join(prior, keys, "left")
        .withColumn(
            "created_at", F.coalesce(F.col("__orig_created_at"), ts)
        )
        .withColumn("updated_at", ts)
        .drop("__orig_created_at")
    )
    untouched = existing.join(incoming.select(*keys), keys, "left_anti")
    return untouched.unionByName(merged)


def dedup_first(df: DataFrame, key: str | list[str], order_by: list[str]) -> DataFrame:
    """Keep the first row per key, "first" = lowest ``order_by`` (W1;
    reference: dags/sql/de_spotify_silver.sql:40-44 — ROW_NUMBER
    PARTITION BY track_id ORDER BY `index`, keep rn=1)."""
    keys = [key] if isinstance(key, str) else key
    w = Window.partitionBy(*keys).orderBy(*[F.col(c) for c in order_by])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def impute_and_clamp(
    df: DataFrame,
    medians: dict[str, float] | None = None,
    modes: dict[str, object] | None = None,
    clamps: dict[str, tuple[float, float]] | None = None,
) -> DataFrame:
    """COALESCE imputation + LEAST/GREATEST clamping as one projection
    (P2-P4; reference: dags/sql/de_spotify_silver.sql:13-39).

    Stats arrive as plain Python scalars (the literal-injection
    semantics of the Jinja-templated reference SQL).
    """
    medians = medians or {}
    modes = modes or {}
    clamps = clamps or {}
    dtypes = dict(df.dtypes)
    exprs: dict[str, Column] = {}
    for c, med in medians.items():
        expr = F.coalesce(F.col(c), F.lit(med))
        if c in clamps:
            lo, hi = clamps[c]
            expr = clamp(expr, lo, hi)
        exprs[c] = expr.cast(dtypes[c])
    for c, mode_val in modes.items():
        exprs[c] = F.coalesce(exprs.get(c, F.col(c)), F.lit(mode_val))
    for c, (lo, hi) in clamps.items():
        if c not in medians:
            # a mode-imputed column is coalesced first, then clamped
            exprs[c] = clamp(exprs.get(c, F.col(c)), lo, hi).cast(dtypes[c])
    return df.withColumns(exprs) if exprs else df


def nan_to_null(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """NaN → NULL normalization before a sink (P6;
    reference: dags/de_spotify_to_bronze.py:189-190)."""
    target = cols or [c for c, t in df.dtypes if t in ("double", "float")]
    if not target:
        return df
    case = "CASE WHEN isnan({0}) THEN NULL ELSE {0} END"
    return df.withColumns({c: F.expr(case.format(quote_ident(c))) for c in target})


def silver_transform(
    bronze: DataFrame,
    dedup_key: str | list[str],
    dedup_order: list[str],
    median_cols: list[str],
    mode_cols: list[str],
    clamps: dict[str, tuple[float, float]],
    exact_stats: bool = True,
) -> DataFrame:
    """The full bronze→silver pipeline in the reference's two-phase order
    (SURVEY.md §3.2): stats over RAW bronze (duplicates included!) →
    impute/clamp projection → window dedup.

    The reference's SQL applies imputation in the same SELECT that
    filters ``rn = 1`` — projection before/after the dedup filter is
    semantically identical per-row, so operator order here only matters
    for the *stats input*, which must be pre-dedup.
    """
    from spotify_tracks_etl_portfolio_spark.operators.stats import compute_impute_stats

    stats = compute_impute_stats(bronze, median_cols, mode_cols, exact=exact_stats)
    imputed = impute_and_clamp(bronze, stats["medians"], stats["modes"], clamps)
    return dedup_first(imputed, dedup_key, dedup_order)


def propagate_deletes(
    tables: dict[str, DataFrame],
    delete_keys: DataFrame,
    key_col: str,
    tombstone_ts: Column | None = None,
) -> tuple[dict[str, DataFrame], DataFrame]:
    """Deletion propagation across a medallion lineage (the
    right-to-be-forgotten / takedown operator a governed training-data
    pipeline must run): every table keyed by ``key_col`` drops the
    requested keys via a broadcast anti-join, and a tombstone audit
    table records WHAT was deleted WHEN and from WHERE — the evidence
    a compliance review asks for, without retaining the payload.

    Scale posture: the deletion list is small by construction (a legal
    request, not a data stream) — broadcast anti-joins mean each table
    is one scan-and-rewrite with no shuffle; at 100 TB pair this with
    partition pruning on the key's partition column so only affected
    files rewrite. Returns ``(cleaned_tables, tombstones)``.
    """
    if not tables:
        raise ValueError(
            "propagate_deletes needs at least one table — the tombstone "
            "audit schema is derived from the tables' key column"
        )
    ts = tombstone_ts if tombstone_ts is not None else F.current_timestamp()
    keys = delete_keys.select(key_col).distinct()
    cleaned: dict[str, DataFrame] = {}
    tombstone_parts = []
    for name, df in tables.items():
        cleaned[name] = df.join(F.broadcast(keys), key_col, "left_anti")
        hit = df.join(F.broadcast(keys), key_col, "left_semi")
        tombstone_parts.append(
            hit.groupBy(key_col).agg(
                F.count(F.lit(1)).alias("n_rows_deleted")
            ).select(
                key_col,
                F.lit(name).alias("table_name"),
                "n_rows_deleted",
                ts.alias("deleted_at"),
            )
        )
    tombstones = tombstone_parts[0]
    for p in tombstone_parts[1:]:
        tombstones = tombstones.unionByName(p)
    return cleaned, tombstones
