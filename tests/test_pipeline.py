"""End-to-end medallion pipeline on a dirty spotify-shaped CSV: the full
reference flow (CSV → bronze parquet → silver parquet) with every
operator observable (FIXTURES.md §3)."""

from __future__ import annotations

import pytest

from spotify_tracks_etl_portfolio_spark.operators.dq import (
    DataQualityError,
    Suite,
)
from spotify_tracks_etl_portfolio_spark.pipeline import (
    PipelineConfig,
    run_bronze_ingest,
    run_silver_transform,
)
from spotify_tracks_etl_portfolio_spark.schemas import SPOTIFY_CSV_SCHEMA
from spotify_tracks_etl_portfolio_spark.sources.writers import (
    ScheduledFullLoadError,
    resolve_load_mode,
)

CSV_HEADER = ",".join(f.name for f in SPOTIFY_CSV_SCHEMA.fields)
# index,track_id,artists,album_name,track_name,popularity,duration_ms,explicit,
# danceability,energy,key,loudness,mode,speechiness,acousticness,
# instrumentalness,liveness,valence,tempo,time_signature,track_genre
CSV_ROWS = [
    # duplicate track_id t1: index 0 wins; index 2 has popularity 150 (clamp)
    "0,t1,ArtistA,Alb1,Song1,50,200000,true,0.5,0.6,5,-7.0,1,0.05,0.1,0.0,0.2,0.7,120.0,4,pop",
    "2,t1,ArtistA,Alb1,Song1,150,200000,false,0.5,0.6,5,-7.0,1,0.05,0.1,0.0,0.2,0.7,120.0,4,pop",
    # null popularity (median impute) + null artists (mode impute)
    "1,t2,,Alb2,Song2,,180000,false,1.4,0.4,2,-9.0,0,0.03,0.2,0.1,0.1,0.5,95.0,4,rock",
    "3,t3,ArtistA,Alb3,Song3,70,210000,true,0.7,0.8,7,-5.0,1,0.04,0.05,0.0,0.3,0.9,128.0,4,pop",
    "4,t4,ArtistB,Alb4,Song4,30,240000,false,0.3,0.2,9,-12.0,0,0.06,0.5,0.2,0.4,0.3,80.0,3,rock",
]


@pytest.fixture(scope="module")
def config(tmp_path_factory):
    root = tmp_path_factory.mktemp("medallion")
    csv = root / "dataset.csv"
    csv.write_text(CSV_HEADER + "\n" + "\n".join(CSV_ROWS) + "\n")
    return PipelineConfig(
        csv_path=str(csv),
        bronze_path=str(root / "bronze"),
        silver_path=str(root / "silver"),
        load_type="full",
        batch_identifier="batch_20240101_000000",
    )


@pytest.fixture(scope="module")
def bronze_report(spark, config):
    return run_bronze_ingest(
        spark,
        config,
        csv_schema=SPOTIFY_CSV_SCHEMA,
        key_cols=["track_id", "track_name", "artists"],
        dq_suite=Suite(name="bronze", row_count_min=1, not_null=["track_id"]),
    )


def test_bronze_ingest(spark, config, bronze_report):
    r = bronze_report
    assert r.rows_extracted == 5 and r.rows_loaded == 5
    assert r.batch_identifier == "batch_20240101_000000"
    # soft gate: artists has a null but the load still happened
    assert r.validation["nulls_artists"] == 1
    bronze = spark.read.parquet(config.bronze_path)
    row = bronze.filter("track_id = 't3'").first()
    assert row["source_identifier"] == "CSV"
    assert row["batch_identifier"] == "batch_20240101_000000"
    assert r.dq["success"]


def test_silver_transform_end_to_end(spark, config, bronze_report):
    result = run_silver_transform(
        spark,
        config,
        dedup_key="track_id",
        dedup_order=["index"],
        median_cols=["popularity"],
        mode_cols=["artists"],
        clamps={"popularity": (0, 100), "danceability": (0.0, 1.0)},
        dq_suite=Suite(
            name="silver",
            unique=["track_id"],
            not_null=["track_id", "artists", "popularity"],
            between={"popularity": (0, 100), "danceability": (0.0, 1.0)},
        ),
    )
    assert result["rows_bronze"] == 5 and result["rows_silver"] == 4
    silver = {r["track_id"]: r for r in spark.read.parquet(config.silver_path).collect()}
    # dedup kept index 0 for t1 (lowest index; popularity 50, in range)
    assert silver["t1"]["index"] == 0 and silver["t1"]["popularity"] == 50
    # median over RAW bronze incl. dup: [50,150,70,30] → median 60 → t2 imputed
    assert silver["t2"]["popularity"] == 60
    # mode imputation: ArtistA (3 occurrences in raw bronze)
    assert silver["t2"]["artists"] == "ArtistA"
    # clamp: t2's danceability 1.4 → 1.0
    assert silver["t2"]["danceability"] == 1.0


def test_silver_hard_gate_raises(spark, config, bronze_report):
    with pytest.raises(DataQualityError):
        run_silver_transform(
            spark,
            config,
            dedup_key="track_id",
            dedup_order=["index"],
            median_cols=[],
            mode_cols=[],
            clamps={},
            # artists still has a null (no imputation) → not_null fails HARD
            dq_suite=Suite(name="strict", not_null=["artists"]),
        )


def test_reports_keep_their_keys_and_values(bronze_report):
    """The observed pre-load checks and the DQ pass's row count give the
    same report the separate count()/agg passes gave."""
    r = bronze_report
    assert r.load_mode == "full"
    assert r.validation == {
        "row_count": 5,
        "dtypes": {
            **{f.name: f.dataType.simpleString() for f in SPOTIFY_CSV_SCHEMA.fields},
            "ingestion_timestamp": "timestamp",
            "source_identifier": "string",
            "batch_identifier": "string",
            "created_at": "timestamp",
            "updated_at": "timestamp",
        },
        "nulls_track_id": 0,
        "nulls_track_name": 0,
        "nulls_artists": 1,
        "success": False,
    }
    assert [res["name"] for res in r.dq["results"]] == [
        "row_count_min", "not_null:track_id"
    ]


def test_preload_nan_key_is_not_a_null_key(spark, tmp_path):
    """Pre-load checks observe the enriched frame BEFORE nan_to_null: a
    NaN key is counted as present, then written as NULL."""
    from pyspark.sql import types as T

    csv = tmp_path / "nan.csv"
    csv.write_text("k,v\nNaN,1\n1.5,2\n,3\n")
    schema = T.StructType(
        [T.StructField("k", T.DoubleType()), T.StructField("v", T.LongType())]
    )
    config = PipelineConfig(
        csv_path=str(csv),
        bronze_path=str(tmp_path / "bronze"),
        silver_path="",
        load_type="full",
        batch_identifier="batch_nan",
    )
    r = run_bronze_ingest(spark, config, csv_schema=schema, key_cols=["k"])
    assert r.validation["row_count"] == 3 and r.validation["nulls_k"] == 1
    assert r.rows_loaded == 3  # no suite: the count() fallback
    bronze = spark.read.parquet(config.bronze_path)
    assert bronze.filter("k IS NULL").count() == 2


@pytest.mark.parametrize("partition_by", [None, ["p"], ["p", "q"]])
def test_written_schema_matches_parquet_inference(spark, tmp_path, partition_by):
    """The read-back schema the pipeline passes equals what Spark infers
    from the footers: all fields nullable, partition columns last."""
    from pyspark.sql import functions as F

    from spotify_tracks_etl_portfolio_spark.sources.writers import (
        LoadMode,
        write_table,
        written_schema,
    )

    df = spark.range(4).select(
        F.col("id"),  # non-nullable in the frame
        F.lit("batch_x").alias("p"),
        F.struct(F.col("id").alias("a"), F.lit(1.5).alias("b")).alias("st"),
        F.array(F.col("id")).alias("arr"),
        F.create_map(F.lit("k"), F.col("id")).alias("mp"),
        F.lit("q1").alias("q"),
        F.current_timestamp().alias("ts"),
    )
    assert not df.schema["id"].nullable
    path = str(tmp_path / "t")
    write_table(df, path, LoadMode.FULL, partition_by=partition_by)
    assert written_schema(df, partition_by) == spark.read.parquet(path).schema


def _actions(spark, group: str, run) -> int:
    """Spark actions ``run`` submits: root SQL executions under the job
    group, plus the group's jobs outside any SQL execution (schema
    inference)."""
    import json

    sc = spark.sparkContext
    jvm = sc._jvm
    scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(
        scala.__getattr__("MODULE$")
    )
    sql_store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        it = sql_store.executionsList().iterator()
        while it.hasNext():
            yield it.next()

    before = {e.executionId() for e in executions()}
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = {
        j["jobId"]
        for j in json.loads(
            mapper.writeValueAsString(sc._jsc.sc().statusStore().jobsList(None))
        )
        if j.get("jobGroup") == group
    }
    in_sql, roots = set(), 0
    for e in executions():
        if e.executionId() in before:
            continue
        e_jobs = {int(k) for k in json.loads(mapper.writeValueAsString(e.jobs()))}
        if e_jobs & jobs or e.description() == group:
            in_sql |= e_jobs
            roots += e.executionId() == e.rootExecutionId()
    return roots + len(jobs - in_sql)


def test_pipeline_action_count_pinned(spark, tmp_path):
    """Bronze is 2 actions (observed write, one DQ pass) and silver 4
    (bronze schema inference, one stats pass, observed write, one DQ
    pass): a re-introduced count() or read-back schema probe fails here."""
    from spotify_tracks_etl_portfolio_spark.spotify import spotify_bronze_suite

    csv = tmp_path / "dataset.csv"
    csv.write_text(CSV_HEADER + "\n" + "\n".join(CSV_ROWS) + "\n")
    config = PipelineConfig(
        csv_path=str(csv),
        bronze_path=str(tmp_path / "bronze"),
        silver_path=str(tmp_path / "silver"),
        load_type="full",
        batch_identifier="batch_20240101_000000",
    )
    out = {}
    bronze = _actions(spark, "pin_bronze", lambda: out.update(b=run_bronze_ingest(
        spark, config, csv_schema=SPOTIFY_CSV_SCHEMA,
        key_cols=["track_id", "track_name", "artists"],
        dq_suite=spotify_bronze_suite(),
    )))
    silver = _actions(spark, "pin_silver", lambda: out.update(s=run_silver_transform(
        spark, config, dedup_key="track_id", dedup_order=["index"],
        median_cols=["popularity", "danceability"],
        mode_cols=["artists", "explicit", "key"],
        clamps={"popularity": (0, 100)},
        dq_suite=Suite(name="s", unique=["track_id"], not_null=["track_id"]),
    )))
    assert (bronze, silver) == (2, 4)
    assert out["b"].rows_loaded == 5 and out["s"]["rows_silver"] == 4


def test_scheduled_full_load_rejected():
    with pytest.raises(ScheduledFullLoadError):
        resolve_load_mode("full", run_type="scheduled")
    assert resolve_load_mode("batch", run_type="scheduled").value == "batch"


class _RecordingWriter:
    """Stands in for DataFrameWriter: records the JDBC configuration
    (no JDBC driver ships in this container)."""

    def __init__(self):
        self.rec = {"options": {}}

    def mode(self, m):
        self.rec["mode"] = m
        return self

    def format(self, f):
        self.rec["format"] = f
        return self

    def option(self, k, v):
        self.rec["options"][k] = v
        return self

    def save(self):
        self.rec["saved"] = True


class _FakeDF:
    def __init__(self):
        self.writer = _RecordingWriter()
        self.coalesced = None

    @property
    def write(self):
        return self.writer

    def coalesce(self, n):
        self.coalesced = n
        return self


def test_write_jdbc_mode_mapping_and_options():
    """S3 JDBC parity (reference: dags/de_spotify_to_bronze.py:206-210):
    FULL → overwrite+truncate (the TRUNCATE+insert mode), BATCH →
    append; connection-count control via coalesce; chunked batches."""
    from spotify_tracks_etl_portfolio_spark.sources.writers import (
        LoadMode,
        write_jdbc,
    )

    df = _FakeDF()
    write_jdbc(
        df,
        url="jdbc:mysql://db:3306/spotify",
        table="spotify_tracks",
        mode=LoadMode.FULL,
        properties={"user": "etl"},
        num_partitions=4,
        batchsize=1000,
    )
    rec = df.writer.rec
    assert rec["mode"] == "overwrite"
    assert rec["format"] == "jdbc"
    assert rec["options"]["url"] == "jdbc:mysql://db:3306/spotify"
    assert rec["options"]["dbtable"] == "spotify_tracks"
    assert rec["options"]["batchsize"] == "1000"
    assert rec["options"]["truncate"] == "true"  # TRUNCATE, not DROP
    assert rec["options"]["user"] == "etl"
    assert df.coalesced == 4
    assert rec["saved"] is True

    df2 = _FakeDF()
    out = write_jdbc(
        df2, url="jdbc:x", table="t", mode=LoadMode.BATCH, save=False
    )
    assert df2.writer.rec["mode"] == "append"
    assert "saved" not in df2.writer.rec
    assert out is df2.writer


def test_write_jdbc_configures_real_dataframe_writer(spark):
    """save=False on a real DataFrame returns a configured
    DataFrameWriter without touching any database."""
    from pyspark.sql.readwriter import DataFrameWriter

    from spotify_tracks_etl_portfolio_spark.sources.writers import write_jdbc

    df = spark.range(3)
    w = write_jdbc(df, url="jdbc:derby:memory:t", table="t", save=False)
    assert isinstance(w, DataFrameWriter)


def test_compact_table_reduces_files(spark, tmp_path):
    from spotify_tracks_etl_portfolio_spark.sources.writers import compact_table

    src = str(tmp_path / "fragmented")
    spark.range(0, 1000).repartition(16).write.parquet(src)
    import glob

    assert len(glob.glob(f"{src}/part-*.parquet")) == 16
    dst = str(tmp_path / "compacted")
    n = compact_table(spark, src, dst, target_files=2)
    assert n == 1000
    assert len(glob.glob(f"{dst}/part-*.parquet")) == 2
    got = {r["id"] for r in spark.read.parquet(dst).collect()}
    assert got == set(range(1000))


def test_write_with_metrics_single_pass(spark, tmp_path):
    """Observation metrics ride the write job itself — row count and
    null counts come back from ``write_table`` without a second scan,
    and they match the written data exactly."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from spotify_tracks_etl_portfolio_spark.sources.writers import (
        LoadMode,
        write_table,
    )

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c"), (4, None)], "id long, name string"
    )
    dst = str(tmp_path / "observed")
    obs = Observation()
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("name").isNull().cast("long")).alias("nulls_name"),
    )
    m = write_table(observed, dst, LoadMode.FULL, observe=[obs])
    assert m == {"n_rows": 4, "nulls_name": 2}
    assert write_table(df, str(tmp_path / "plain"), LoadMode.FULL) == {}
    back = spark.read.parquet(dst)
    assert back.count() == 4
    assert back.filter(F.col("name").isNull()).count() == 2


def test_csv_corrupt_records_quarantined_not_dropped(spark, tmp_path):
    """PERMISSIVE ingestion: malformed rows land in _corrupt_record
    (quarantine-able by the DQ layer) instead of killing the job or
    silently vanishing."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from spotify_tracks_etl_portfolio_spark.sources.readers import read_csv

    csv = tmp_path / "dirty.csv"
    csv.write_text(
        "id,score\n"
        "1,10.5\n"
        "2,not_a_number\n"
        "3,30.0\n"
    )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    df = read_csv(spark, str(csv), schema=schema, capture_corrupt=True).cache()
    assert df.count() == 3  # nothing dropped
    bad = df.filter(F.col("_corrupt_record").isNotNull()).collect()
    assert len(bad) == 1 and "not_a_number" in bad[0]["_corrupt_record"]
    good = df.filter(F.col("_corrupt_record").isNull())
    assert {r["id"] for r in good.collect()} == {1, 3}
    df.unpersist()


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Schema evolution on append-only bronze: a later batch adds a
    column; mergeSchema reads reconcile old batches with nulls, and
    unionByName(allowMissingColumns) handles the same in-memory — the
    append-forever table contract at scale (columns may be ADDED, never
    silently retyped)."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, name string").write.parquet(
        f"{path}/batch=1"
    )
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, name string, score double"
    ).write.parquet(f"{path}/batch=2")

    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) >= {"id", "name", "score"}
    rows = {r["id"]: r["score"] for r in merged.collect()}
    assert rows[1] is None and rows[2] == 9.5

    old = spark.createDataFrame([(1, "a")], "id long, name string")
    new = spark.createDataFrame(
        [(2, "b", 9.5)], "id long, name string, score double"
    )
    u = old.unionByName(new, allowMissingColumns=True)
    got = {r["id"]: r["score"] for r in u.collect()}
    assert got[1] is None and got[2] == 9.5


def test_optimize_table_zorder_and_compact(spark, tmp_path):
    from pyspark.sql import functions as F

    from spotify_tracks_etl_portfolio_spark.sources.writers import optimize_table

    src = str(tmp_path / "opt_src")
    spark.range(4096).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    ).repartition(8).write.parquet(src)
    dst = str(tmp_path / "opt_dst")
    n = optimize_table(spark, src, dst, target_files=2, zorder_by=("x", "y"))
    assert n == 4096
    import glob

    assert len(glob.glob(f"{dst}/part-*.parquet")) == 2
    back = spark.read.parquet(dst)
    assert back.count() == 4096
    assert {tuple(r) for r in back.collect()} == {
        (i % 64, i // 64) for i in range(4096)
    }


def test_refresh_rollup_partition_touches_one_day(spark, sf_dir, tmp_path):
    """Incremental rollup refresh: rebuild one day's partition, leave
    the rest byte-identical; the refreshed day matches a from-scratch
    aggregation of the same day."""
    import glob

    from pyspark.sql import functions as F

    from spotify_tracks_etl_portfolio_spark.sources.readers import (
        read_parquet_table,
    )
    from spotify_tracks_etl_portfolio_spark.sources.writers import (
        refresh_rollup_partition,
    )

    events = read_parquet_table(spark, sf_dir, "events")
    fact_path = str(tmp_path / "facts")
    events.write.parquet(fact_path)
    rollup_path = str(tmp_path / "rollup")

    days = sorted(
        r["d"]
        for r in events.select(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("d")
        ).distinct().collect()
    )
    d0, d1 = days[0], days[1]
    refresh_rollup_partition(spark, fact_path, rollup_path, d0)
    refresh_rollup_partition(spark, fact_path, rollup_path, d1)
    files_before = set(glob.glob(f"{rollup_path}/day={d0}/*.parquet"))

    # refreshing d1 again must not touch d0's files
    refresh_rollup_partition(spark, fact_path, rollup_path, d1)
    assert set(glob.glob(f"{rollup_path}/day={d0}/*.parquet")) == files_before

    got = {
        (r["event_type"], r["n"])
        for r in spark.read.parquet(rollup_path)
        .filter(F.col("day") == d1)
        .collect()
    }
    want = {
        (r["event_type"], r["n"])
        for r in events.filter(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd") == d1
        )
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_jsonl_roundtrip_shards_and_compression(spark, tmp_path):
    from spotify_tracks_etl_portfolio_spark.sources.readers import read_jsonl
    from spotify_tracks_etl_portfolio_spark.sources.writers import write_jsonl

    df = spark.createDataFrame(
        [(1, 'line with "quotes" and \\ backslash', "en"),
         (2, "tab\tnewline\nunicode é", "de"),
         (3, "", "en")],
        "doc_id long, text string, lang string",
    )
    out = str(tmp_path / "jsonl")
    write_jsonl(df, out, shards=2)
    import glob

    parts = glob.glob(f"{out}/part-*.json.gz")
    assert len(parts) == 2  # round-robin resharded, gzip'd
    back = read_jsonl(spark, out, "doc_id long, text string, lang string")
    got = {r["doc_id"]: (r["text"], r["lang"]) for r in back.collect()}
    want = {r["doc_id"]: (r["text"], r["lang"]) for r in df.collect()}
    assert got == want  # escaping round-trips exactly


def test_read_csv_capture_corrupt_requires_schema(spark, tmp_path):
    """Round-6 review fix: Spark only materializes _corrupt_record when
    it is part of a user-supplied schema — under inference the flag
    silently did nothing (malformed rows NULL-fill and flow on), so the
    combination now raises instead."""
    import pytest

    from spotify_tracks_etl_portfolio_spark.sources.readers import read_csv

    p = tmp_path / "x.csv"
    p.write_text("a,b\n1,2\n")
    with pytest.raises(ValueError, match="explicit schema"):
        read_csv(spark, str(p), infer=True, capture_corrupt=True)


def test_read_parquet_table_schema_memo(spark, sf_dir, tmp_path):
    """r14: the probed physical schema is memoized per (path, mtime,
    size) so repeated constructs skip re-reading the footer. The memo
    must (a) reproduce the probed relation verbatim and (b) invalidate
    when the file changes vintage (the ns->us testdata-regeneration
    case the runtime probe exists for)."""
    import shutil

    from spotify_tracks_etl_portfolio_spark.sources import readers as R

    R._RAW_SCHEMA_MEMO.clear()
    a = R.read_parquet_table(spark, sf_dir, "events")  # probes
    assert len(R._RAW_SCHEMA_MEMO) == 1
    b = R.read_parquet_table(spark, sf_dir, "events")  # memo hit
    assert a.schema == b.schema
    assert sorted(map(tuple, a.limit(20).collect())) == sorted(
        map(tuple, b.limit(20).collect())
    )

    # a DIFFERENT file vintage at the same logical table name must
    # re-probe, not reuse: copy the µs-vintage table elsewhere, read it,
    # then overwrite with the ns-INT64 vintage (pandas/pyarrow writes
    # ns timestamps) — the reader's runtime probe must see the new raw
    # schema (bigint under nanosAsLong) and normalize it to the SAME
    # declared schema and values via the div-1000 path
    d = tmp_path / "sfx"
    d.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", d / "events.parquet")
    first = R.read_parquet_table(spark, str(d), "events")
    rows_first = sorted(map(tuple, first.collect()))
    raw_first = {
        k: v for k, v in R._RAW_SCHEMA_MEMO.items() if str(d) in k[0]
    }
    pdf = spark.read.parquet(f"{sf_dir}/events.parquet").toPandas()
    pdf.to_parquet(d / "events.parquet")  # pyarrow: TIMESTAMP(ns)
    second = R.read_parquet_table(spark, str(d), "events")
    raw_second = {
        k: v for k, v in R._RAW_SCHEMA_MEMO.items() if str(d) in k[0]
    }
    # the probe re-ran for the new vintage (new key, bigint raw ts)...
    assert set(raw_second) - set(raw_first), "memo key did not rotate"
    # ...and the normalized relation is identical in schema AND values
    assert second.schema == first.schema
    assert sorted(map(tuple, second.collect())) == rows_first
