"""Sources: scans over CSV / Parquet / JSON (SURVEY.md §2.1 S1, S7).

The reference's only source is a pandas CSV read with inferred types
(``reference: dags/de_spotify_to_bronze.py:90``); its table scans go
through MySQL (``reference: dags/de_spotify_silver.py:52-53`` pulls the
full table to the driver — an anti-pattern this engine replaces with
distributed scans that are never collected).

Scale posture: strict schemas by default (no inference job over 100 TB),
columnar Parquet scans so Catalyst gets predicate pushdown + column
pruning for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spotify_tracks_etl_portfolio_spark.functions import quote_ident
from spotify_tracks_etl_portfolio_spark.schemas import TESTDATA_SCHEMAS, TESTDATA_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    infer: bool = False,
    capture_corrupt: bool = False,
) -> DataFrame:
    """CSV scan (S1). Strict schema by default; ``infer=True`` mirrors the
    reference's pandas-style schema-on-read (one extra pass — never at scale).

    ``capture_corrupt=True`` adds a ``_corrupt_record`` column holding
    each malformed line verbatim (PERMISSIVE mode): at 100 TB a single
    bad row must neither kill the job (FAILFAST) nor vanish silently
    (DROPMALFORMED) — it lands in a quarantine column the DQ layer can
    count and route, the scale-grade version of the reference's pandas
    validation pass (reference: dags/de_spotify_to_bronze.py:139-150).
    """
    if capture_corrupt and schema is None:
        # Spark only materializes the corrupt-record column when it is
        # part of a USER-SUPPLIED schema; with inference the flag would
        # silently do nothing (malformed rows NULL-fill and flow on) —
        # the exact silent loss the flag exists to prevent.
        raise ValueError(
            "capture_corrupt=True requires an explicit schema: Spark "
            "drops the _corrupt_record column under schema inference "
            "(infer once on a sample, then pass the schema)"
        )
    reader = spark.read.option("header", "true")
    if schema is not None:
        if capture_corrupt:
            schema = T.StructType(
                [*schema.fields, T.StructField("_corrupt_record", T.StringType())]
            )
        reader = reader.schema(schema)
    elif infer:
        reader = reader.option("inferSchema", "true")
    if capture_corrupt:
        reader = reader.option("mode", "PERMISSIVE").option(
            "columnNameOfCorruptRecord", "_corrupt_record"
        )
    return reader.csv(path)


#: (path, mtime_ns, size) → the PROBED physical schema of that exact
#: file vintage. Metadata memo only — every query still scans the
#: parquet; this skips re-reading the footer to re-infer an identical
#: schema on every DataFrame construct (~0.13 s/table/call locally,
#: r14 optimization round; at scale the same footer round-trips are
#: object-store requests). The probe itself still runs, once per file
#: vintage: the key carries mtime+size, so regenerated testdata (the
#: ns→µs vintage change the runtime probing exists for) re-probes
#: instead of serving a stale schema.
_RAW_SCHEMA_MEMO: dict[tuple[str, int, int], T.StructType] = {}


def read_parquet_table(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Parquet scan of one testdata table.

    The declared schema (``TESTDATA_SCHEMAS``) both documents intent
    and normalizes physical types to the engine's declared types at scan
    time, keeping every downstream operator deterministic. Timestamp
    columns adapt to the data vintage: ns-precision INT64 (round-1
    testdata) is truncated to µs by exact integer division; native µs
    passes through untouched.
    """
    path = os.path.join(sf_dir, f"{table}.parquet")
    # The driver may hand us a session built without our factory; both
    # confs below are runtime-settable, so pin them here. UTC matters on
    # any non-UTC host: date_format/window outputs feed the DuckDB
    # oracle, whose timestamps are UTC-naive — a session in local time
    # would shift every formatted hour/day string.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        st = os.stat(path)
        key = (os.path.abspath(path), st.st_mtime_ns, st.st_size)
    except OSError:
        key = None
    raw = _RAW_SCHEMA_MEMO.get(key) if key is not None else None
    if raw is None:
        df = spark.read.parquet(path)
        if key is not None:
            _RAW_SCHEMA_MEMO[key] = df.schema
    else:
        # the memoized schema IS the probed schema of this exact file —
        # supplying it back reproduces the inferred relation verbatim
        # while skipping the footer read
        df = spark.read.schema(raw).parquet(path)
    target = TESTDATA_SCHEMAS.get(table)
    if target is not None:
        actual = dict(df.dtypes)
        cols = []
        for f in target.fields:
            src = df[f.name]
            if isinstance(f.dataType, T.TimestampType) and actual[f.name] == "bigint":
                # ns-precision INT64 read via nanosAsLong: exact integer
                # division to µs (truncation — same as DuckDB's ns→µs cast).
                src = F.timestamp_micros(F.expr(f"{quote_ident(f.name)} div 1000"))
            cols.append(src.cast(f.dataType).alias(f.name))
        df = df.select(*cols)
    return df


def read_parquet_memo(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan of a SESSION ARTIFACT (a directory written once per
    (session, sf_dir) root and then read on every serve construct),
    with the probed schema memoized per (path, mtime, size) exactly
    like ``read_parquet_table``: re-inferring an identical schema costs
    a footer read per construct (~0.14 s on the 1.1k-file codes
    artifact). A directory's mtime changes on any file add/remove/
    overwrite (rebuilds, appends), rotating the key and re-probing.
    No conf pinning and no schema normalization — behavior-identical
    to the bare ``spark.read.parquet`` it replaces."""
    try:
        st = os.stat(path)
        key = (os.path.abspath(path), st.st_mtime_ns, st.st_size)
    except OSError:
        return spark.read.parquet(path)
    raw = _RAW_SCHEMA_MEMO.get(key)
    if raw is None:
        df = spark.read.parquet(path)
        _RAW_SCHEMA_MEMO[key] = df.schema
        return df
    return spark.read.schema(raw).parquet(path)


def load_testdata(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR
) -> dict[str, DataFrame]:
    """Load every testdata table as a DataFrame dict."""
    return {t: read_parquet_table(spark, sf_dir, t) for t in TESTDATA_TABLES}


def register_testdata_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register all testdata tables as temp views for the SQL surface."""
    for name, df in load_testdata(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def read_jsonl(
    spark: SparkSession, path: str, schema: T.StructType | str
) -> DataFrame:
    """JSON-Lines scan with a MANDATORY explicit schema — JSONL is the
    interchange format of LLM training corpora (one document object per
    line), and schema inference over 100 TB of it costs a full extra
    pass, so this reader refuses to infer.

    Spark parallelizes JSONL by line-splitting each file, so a single
    huge shard still fans out across executors; compression should be
    splittable (or shards kept small) for that to hold.
    """
    return spark.read.schema(schema).json(path)


def read_orc(
    spark: SparkSession, path: str, schema: T.StructType | str | None = None
) -> DataFrame:
    """ORC scan (columnar interchange with Hive/Trino/Presto stacks).
    Like the parquet reader, an explicit schema skips inference and
    normalizes physical types; ORC gets the same vectorized reader +
    predicate pushdown treatment from Spark as parquet."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)
