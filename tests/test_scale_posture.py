"""Scale-posture proofs: the runtime behaviors the engine relies on at
100 TB, demonstrated on synthetic data with thresholds scaled down —
AQE skew-join splitting and shuffle-partition coalescing actually
engage under this engine's session configuration."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_aqe_splits_skewed_join(spark):
    """A hot key 100× larger than the advisory partition size gets
    split by AQE's skew-join rule (skew=true in the FINAL adaptive
    plan) — the no-manual-salting path for skewed equi-joins."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
    )
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        hot = spark.range(200_000).select(
            F.lit(7).alias("k"), F.col("id").alias("payload")
        )
        cold = spark.range(20_000).select(
            (F.col("id") % 100 + 100).alias("k"), F.col("id").alias("payload")
        )
        right = spark.range(200).select(
            (F.col("id") % 200).alias("k"), (F.col("id") * 2).alias("rv")
        )
        j = hot.union(cold).join(right, "k")
        assert len(j.collect()) == 220_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.unset(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
        )
        spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
        spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionFactor")


def test_salted_join_balances_hot_key_and_is_bit_identical(spark):
    """Skew-at-scale proof on an sf0.1-sized join (600k fact rows, ONE
    hot custkey holding 30% of them): with AQE and broadcast disabled —
    the worst case salting exists for — the plain shuffle join melts one
    reducer (its input share ≈ the hot key's 30%), while the salted
    twin spreads the hot key over 8 buckets and keeps every reducer's
    input bounded. Balance is measured from the actual per-reducer row
    counts (spark_partition_id of the join output = the task that
    consumed that shuffle partition), and the salted output is verified
    bit-identical to the unsalted join via an order-insensitive
    multiset hash."""
    from spotify_tracks_etl_portfolio_spark.operators.joins import salted_join

    n, hot_n = 600_000, 180_000
    fact = spark.range(n).select(
        F.when(F.col("id") < hot_n, F.lit(7))
        .otherwise(F.col("id") % 1000 + 100)
        .alias("custkey"),
        (F.col("id") * 13 % 997).alias("amount"),
    )
    dim = spark.range(1200).select(
        F.col("id").alias("c_custkey"),
        F.concat(F.lit("seg_"), F.col("id") % 5).alias("segment"),
    )

    confs = {
        "spark.sql.adaptive.enabled": "false",  # measure the static shuffle
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        # more reducers than salt buckets, so balance is measurable (the
        # session fixture's 4 would put the perfectly-balanced floor at
        # 25% per reducer)
        "spark.sql.shuffle.partitions": "32",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}

    def reducer_shares(df):
        counts = [
            r["count"]
            for r in df.withColumn("pid", F.spark_partition_id())
            .groupBy("pid")
            .count()
            .collect()
        ]
        return max(counts) / sum(counts)

    def multiset_hash(df):
        cols = sorted(df.columns)
        h = F.xxhash64(*cols)
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(h.cast("decimal(38,0)")).alias("s"),  # no ANSI overflow
            F.bit_xor(h).alias("x"),
        ).first()

    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        plain = fact.join(dim, fact.custkey == dim.c_custkey)
        salted = salted_join(fact, dim, "custkey", "c_custkey",
                             salt_from="amount", buckets=8)

        plain_share = reducer_shares(plain)
        salted_share = reducer_shares(salted)
        # unmitigated: the hot key's 30% of rows land on ONE reducer
        assert plain_share >= 0.29, plain_share
        # salted: hot key spread over 8 buckets → no melted task
        assert salted_share <= plain_share / 3, (plain_share, salted_share)
        assert salted_share <= 0.10, salted_share

        # the salt only reshapes the shuffle — results are identical
        assert multiset_hash(plain) == multiset_hash(salted)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_aqe_coalesces_small_shuffle_partitions(spark):
    """A tiny aggregation shuffled over 32 static partitions is read
    back as far fewer coalesced partitions — the mechanism that lets a
    statically over-partitioned plan right-size itself at runtime."""
    df = (
        spark.range(1_000)
        .select((F.col("id") % 7).alias("k"))
        .groupBy("k")
        .count()
    )
    # collect() drives THIS DataFrame's QueryExecution to its final
    # adaptive plan (count() would spawn a separate execution)
    assert len(df.collect()) == 7
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "coalesced" in plan


def test_zorder_layout_tightens_both_columns_rowgroup_ranges(spark, tmp_path):
    """Z-order vs single-column sort, measured on REAL parquet footer
    stats: sorting by morton_code(x, y) must keep per-row-group min/max
    ranges tight for BOTH columns, where a plain sort on x leaves y's
    ranges as wide as the table. This is the multi-dimensional
    data-skipping story: a scan filtered on y prunes row groups only if
    y's per-group ranges are narrow."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from spotify_tracks_etl_portfolio_spark.functions import morton_code

    n = 1 << 14
    grid = spark.range(n).select(
        (F.col("id") % 128).alias("x"),
        (F.col("id") / 128).cast("long").alias("y"),
    )

    def avg_rowgroup_range(path: str, col: str) -> float:
        import glob

        spans, rows = [], []
        for f in glob.glob(f"{path}/part-*.parquet"):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                idx = [g.column(i).path_in_schema for i in range(g.num_columns)].index(col)
                st = g.column(idx).statistics
                spans.append(st.max - st.min)
                rows.append(g.num_rows)
        return sum(s * r for s, r in zip(spans, rows)) / sum(rows)

    plain = str(tmp_path / "plain")
    (
        grid.repartition(1)
        .sortWithinPartitions("x")
        .write.option("parquet.block.size", 64 * 1024)
        .parquet(plain)
    )
    zordered = str(tmp_path / "zordered")
    (
        grid.withColumn("__z", morton_code("x", "y"))
        .repartition(1)
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.option("parquet.block.size", 64 * 1024)
        .parquet(zordered)
    )

    # x-sorted layout: x ranges tight but y ranges ~whole-table, so a
    # y-filtered scan prunes nothing. Z-order must (a) at least halve
    # the skipped dimension's ranges and (b) beat the single-sort layout
    # on its WORST dimension — the measure that decides whether a scan
    # filtered on either column can skip row groups.
    zx = avg_rowgroup_range(zordered, "x")
    zy = avg_rowgroup_range(zordered, "y")
    px = avg_rowgroup_range(plain, "x")
    py = avg_rowgroup_range(plain, "y")
    assert zy < py / 2, (zy, py)
    assert max(zx, zy) < 0.75 * max(px, py), (zx, zy, px, py)


def test_approx_sketches_within_error_bounds(spark, sf_dir):
    """Quantitative gate for the sketch query (since round 10 the
    engine-owned deterministic cells, hash-checked — see analytics.py):
    the 64-register HLL estimates must land within the sketch's
    theoretical band (~1.04/√64 ≈ 13%; the tiny-cardinality types
    estimate gets an absolute ±2 band — register collisions dominate
    when n ≪ m), and both histogram quantiles within one bin width
    (2^20 micro-units ≈ 1.05) of the exact values — the sketch path is
    a documented trade-off, not an unchecked answer."""
    from spotify_tracks_etl_portfolio_spark.plans import all_queries
    from spotify_tracks_etl_portfolio_spark.plans.analytics import (
        QUANT_BIN,
        QUANT_SCALE,
    )
    from pyspark.sql import functions as F

    approx = all_queries()["events_overview_approx"].fn(spark, sf_dir).first()
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    exact_users = ev.select("user_id").distinct().count()
    exact_types = ev.select("event_type").distinct().count()
    exact_median = ev.agg(F.percentile("value", 0.5)).first()[0]
    exact_p99 = ev.agg(F.percentile("value", 0.99)).first()[0]

    bin_w = QUANT_BIN / QUANT_SCALE
    assert abs(approx["approx_users"] - exact_users) <= 0.15 * exact_users
    assert abs(approx["approx_types"] - exact_types) <= 2
    assert abs(approx["approx_median_value"] - exact_median) <= bin_w
    assert abs(approx["approx_p99_value"] - exact_p99) <= bin_w
    assert approx["n_events"] == ev.count()
    # determinism: the sketch is zero-RNG — a second run is identical
    again = all_queries()["events_overview_approx"].fn(spark, sf_dir).first()
    assert again == approx


def test_grouped_quantile_sketch_within_error_bounds(spark, sf_dir):
    """The per-group histogram-quantile sketch (invoked directly on
    the operator): every event_type's
    median and p99 estimates land within one bin width of the exact
    per-group percentiles, and per-group counts are exact."""
    from spotify_tracks_etl_portfolio_spark.plans.analytics import (
        QUANT_BIN,
        QUANT_SCALE,
        event_type_value_quantiles_sketch,
    )
    from pyspark.sql import functions as F

    import math

    got = {
        r["event_type"]: r
        for r in event_type_value_quantiles_sketch(spark, sf_dir).collect()
    }
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    vals: dict[str, list[float]] = {}
    for r in ev.filter(F.col("value").isNotNull()).select(
        "event_type", "value"
    ).collect():
        vals.setdefault(r["event_type"], []).append(r["value"])
    assert set(got) == set(vals) and got
    bin_w = QUANT_BIN / QUANT_SCALE
    for t, xs in vals.items():
        xs.sort()
        n = len(xs)
        # the sketch's quantile DEFINITION is rank-based (value at rank
        # ceil(p·n)), so the exact baseline must be the same order
        # statistic — Spark's percentile() interpolates, which differs
        # from ANY rank-based answer by up to a whole inter-value gap
        # in a sparse tail, independent of the sketch's bin error
        exact_m = xs[math.floor((n + 1) / 2) - 1]
        exact_p = xs[math.floor((99 * n + 99) / 100) - 1]
        g = got[t]
        assert abs(g["approx_median_value"] - exact_m) <= bin_w, t
        assert abs(g["approx_p99_value"] - exact_p) <= bin_w, t
        assert g["n_values"] == n, t


def test_runtime_bloom_filter_prunes_fact_side_of_smj(spark, sf_dir):
    """When the dim side of a sort-merge join is selective, Spark's
    runtime-filter rule injects a bloom filter built from the dim keys
    as a pre-shuffle semi-filter on the FACT side — at 100 TB this
    drops most fact rows before the join exchange instead of shuffling
    them to die in the join. Broadcast is disabled to force the SMJ
    path (when the dim fits in memory a broadcast join subsumes this);
    thresholds are scaled down the same way the AQE tests do."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        o = (
            spark.read.parquet(f"{sf_dir}/orders.parquet")
            .filter(F.col("o_orderpriority") == "1-URGENT")
        )
        l = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        j = l.join(o, l.l_orderkey == o.o_orderkey).groupBy(
            "o_orderpriority"
        ).count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, plan[:2000]
        assert "might_contain" in plan, plan[:2000]
        # and the filter is applied on the fact (lineitem) side scan key
        assert "l_orderkey" in plan.split("might_contain")[1][:200]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_derived_state_partitions_floor_volume_cap(spark):
    """r14: streaming state partitions derive from source volume with
    the core count as the floor — locally identical to the old
    core-count pin (bench-neutral by construction), linear in bytes at
    scale, hard-capped for state-store file-count sanity."""
    from spotify_tracks_etl_portfolio_spark.streaming.pipeline import (
        STATE_PARTITION_CAP,
        STATE_SOURCE_BYTES_PER_PARTITION,
        derived_state_partitions,
    )

    cores = spark.sparkContext.defaultParallelism
    # tiny local drain: floor = cores (the old pin, unchanged bench)
    assert derived_state_partitions(spark, 2 * 1024 * 1024) == cores
    # day-scale source: grows linearly with volume past the floor
    big = 10_000 * STATE_SOURCE_BYTES_PER_PARTITION
    assert derived_state_partitions(spark, big) == max(cores, 10_000)
    # absurd volume: capped
    assert (
        derived_state_partitions(spark, 10**18) == STATE_PARTITION_CAP
    )
