"""Single source of truth for table schemas (SURVEY.md §1.3).

The reference declares its schema once in MySQL DDL
(``reference: dags/sql/de_spotify_create_table.sql:3-34``) and re-validates
the CSV side against it; here every table gets an explicit ``StructType``
and readers take strict schemas by default (schema-on-read inference is an
opt-in variant, mirroring ``reference: dags/de_spotify_to_bronze.py:90``).

Type mapping decisions (SURVEY.md §1.2):
- MySQL FLOAT → DoubleType (oracle/pandas parity; documents deviation).
- ``duration_ms`` INT → LongType (100 TB posture).
- AUTO_INCREMENT ``id`` has no Spark analogue — surrogate ids come from
  ``monotonically_increasing_id()`` (unique, not dense) and are excluded
  from value comparisons.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --------------------------------------------------------------------------
# Spotify medallion schema (reference: dags/sql/de_spotify_create_table.sql)
# --------------------------------------------------------------------------

#: Columns as they arrive from the CSV (no surrogate id, no metadata).
SPOTIFY_CSV_SCHEMA = T.StructType(
    [
        T.StructField("index", T.IntegerType(), False),
        T.StructField("track_id", T.StringType(), True),
        T.StructField("artists", T.StringType(), True),
        T.StructField("album_name", T.StringType(), True),
        T.StructField("track_name", T.StringType(), True),
        T.StructField("popularity", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("explicit", T.BooleanType(), True),
        T.StructField("danceability", T.DoubleType(), True),
        T.StructField("energy", T.DoubleType(), True),
        T.StructField("key", T.IntegerType(), True),
        T.StructField("loudness", T.DoubleType(), True),
        T.StructField("mode", T.IntegerType(), True),
        T.StructField("speechiness", T.DoubleType(), True),
        T.StructField("acousticness", T.DoubleType(), True),
        T.StructField("instrumentalness", T.DoubleType(), True),
        T.StructField("liveness", T.DoubleType(), True),
        T.StructField("valence", T.DoubleType(), True),
        T.StructField("tempo", T.DoubleType(), True),
        T.StructField("time_signature", T.IntegerType(), True),
        T.StructField("track_genre", T.StringType(), True),
    ]
)

#: Ingestion-provenance columns appended at extract time
#: (reference: dags/de_spotify_to_bronze.py:92-97).
INGEST_METADATA_FIELDS = [
    T.StructField("ingestion_timestamp", T.TimestampType(), False),
    T.StructField("source_identifier", T.StringType(), False),
    T.StructField("batch_identifier", T.StringType(), False),
    T.StructField("created_at", T.TimestampType(), False),
    T.StructField("updated_at", T.TimestampType(), False),
]

#: Bronze table = CSV columns + provenance (surrogate ``id`` added at write).
SPOTIFY_BRONZE_SCHEMA = T.StructType(
    [T.StructField("id", T.LongType(), False)]
    + list(SPOTIFY_CSV_SCHEMA.fields)
    + INGEST_METADATA_FIELDS
)

#: Numeric columns median-imputed by the silver transform
#: (reference: dags/sql/de_spotify_silver.sql:19-32; stats at
#: dags/de_spotify_silver.py:56-63).
SPOTIFY_MEDIAN_COLS = [
    "popularity",
    "duration_ms",
    "danceability",
    "energy",
    "loudness",
    "speechiness",
    "acousticness",
    "instrumentalness",
    "liveness",
    "valence",
    "tempo",
]

#: Categorical columns mode-imputed by the silver transform
#: (reference: dags/sql/de_spotify_silver.sql:16-18,34; stats at
#: dags/de_spotify_silver.py:64-69).
SPOTIFY_MODE_COLS = ["artists", "album_name", "track_name", "track_genre"]

#: Range clamps applied by the silver transform
#: (reference: dags/sql/de_spotify_silver.sql:19,22-23,27-31).
SPOTIFY_CLAMPS: dict[str, tuple[float, float]] = {
    "popularity": (0, 100),
    "danceability": (0.0, 1.0),
    "energy": (0.0, 1.0),
    "speechiness": (0.0, 1.0),
    "acousticness": (0.0, 1.0),
    "instrumentalness": (0.0, 1.0),
    "liveness": (0.0, 1.0),
    "valence": (0.0, 1.0),
}

# --------------------------------------------------------------------------
# Driver testdata tables (/root/testdata/sf*/; see TESTDATA.md, FIXTURES.md)
# --------------------------------------------------------------------------

TESTDATA_SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType(), True),
            T.StructField("r_name", T.StringType(), True),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType(), True),
            T.StructField("n_name", T.StringType(), True),
            T.StructField("n_regionkey", T.IntegerType(), True),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType(), True),
            T.StructField("c_name", T.StringType(), True),
            T.StructField("c_nationkey", T.IntegerType(), True),
            T.StructField("c_acctbal", T.DoubleType(), True),
            T.StructField("c_mktsegment", T.StringType(), True),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType(), True),
            T.StructField("s_name", T.StringType(), True),
            T.StructField("s_nationkey", T.IntegerType(), True),
            T.StructField("s_acctbal", T.DoubleType(), True),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType(), True),
            T.StructField("p_name", T.StringType(), True),
            T.StructField("p_brand", T.StringType(), True),
            T.StructField("p_type", T.StringType(), True),
            T.StructField("p_size", T.IntegerType(), True),
            T.StructField("p_retailprice", T.DoubleType(), True),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType(), True),
            T.StructField("o_custkey", T.LongType(), True),
            T.StructField("o_orderstatus", T.StringType(), True),
            T.StructField("o_totalprice", T.DoubleType(), True),
            T.StructField("o_orderdate", T.TimestampType(), True),
            T.StructField("o_orderpriority", T.StringType(), True),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType(), True),
            T.StructField("l_partkey", T.LongType(), True),
            T.StructField("l_suppkey", T.LongType(), True),
            T.StructField("l_linenumber", T.IntegerType(), True),
            T.StructField("l_quantity", T.DoubleType(), True),
            T.StructField("l_extendedprice", T.DoubleType(), True),
            T.StructField("l_discount", T.DoubleType(), True),
            T.StructField("l_tax", T.DoubleType(), True),
            T.StructField("l_returnflag", T.StringType(), True),
            T.StructField("l_linestatus", T.StringType(), True),
            T.StructField("l_shipdate", T.TimestampType(), True),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType(), True),
            T.StructField("ts", T.TimestampType(), True),
            T.StructField("user_id", T.LongType(), True),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
            T.StructField("props", T.StringType(), True),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("lang", T.StringType(), True),
            T.StructField("source", T.StringType(), True),
            T.StructField("n_chars", T.LongType(), True),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType(), True),
            T.StructField("embedding", T.ArrayType(T.FloatType()), True),
            T.StructField("label", T.IntegerType(), True),
        ]
    ),
}

TESTDATA_TABLES = list(TESTDATA_SCHEMAS)
