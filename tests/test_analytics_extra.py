"""Exact distributed ranking (global_row_number / exact_ntile) and the
scale-safe event_value_deciles built on it.

The correctness claim is strong: the bucketed plan must be
BIT-IDENTICAL to the single-partition SQL forms (``row_number()`` /
``ntile()`` over an unpartitioned ordered window), for any boundary
choice, because bucketing is monotone and ties never cross buckets.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from spotify_tracks_etl_portfolio_spark.operators.stats import (
    exact_ntile,
    global_row_number,
)
from spotify_tracks_etl_portfolio_spark.plans import all_queries
from spotify_tracks_etl_portfolio_spark.sources.readers import (
    read_parquet_table,
)


def test_global_row_number_matches_window_row_number(spark, sf_dir):
    ev = read_parquet_table(spark, sf_dir, "events").select(
        "value", "event_id"
    )
    got = {
        r["event_id"]: r["rn"]
        for r in global_row_number(ev, ["value", "event_id"], "rn").collect()
    }
    w = Window.orderBy("value", "event_id")
    want = {
        r["event_id"]: r["rn"]
        for r in ev.select(
            "event_id", F.row_number().over(w).cast("long").alias("rn")
        ).collect()
    }
    assert got == want


def test_global_row_number_few_buckets_still_exact(spark, sf_dir):
    """Boundary quality only affects balance — correctness must hold
    even with a pathological 2-bucket split."""
    ev = read_parquet_table(spark, sf_dir, "events").select(
        "value", "event_id"
    )
    ranked = global_row_number(ev, ["value", "event_id"], "rn", buckets=2)
    rows = ranked.orderBy("rn").select("rn").collect()
    assert [r["rn"] for r in rows] == list(range(1, len(rows) + 1))


def test_global_row_number_heavy_ties_still_exact(spark):
    """Pathological skew: 90% of rows tie on the leading order column
    (all land in ONE bucket). Ranks must still be exact — the tie run
    sorts within its bucket by the tie-break column."""
    rows = [(5.0, i) for i in range(900)] + [
        (float(i % 7), 1000 + i) for i in range(100)
    ]
    df = spark.createDataFrame(rows, "value double, event_id long")
    got = {
        r["event_id"]: r["rn"]
        for r in global_row_number(
            df, ["value", "event_id"], "rn", buckets=8
        ).collect()
    }
    w = Window.orderBy("value", "event_id")
    want = {
        r["event_id"]: r["rn"]
        for r in df.select(
            "event_id", F.row_number().over(w).cast("long").alias("rn")
        ).collect()
    }
    assert got == want


def test_global_row_number_null_leading_keys_match_window(spark):
    """Round-6 review fix: NULL leading keys used to produce a NULL
    bucket (None crashed the offset sort); they now land in the bucket
    that sorts first, matching the window's ASC NULLS FIRST order
    exactly."""
    rows = [(None, i) for i in range(10)] + [
        (float(i), 100 + i) for i in range(90)
    ]
    df = spark.createDataFrame(rows, "value double, event_id long")
    got = {
        r["event_id"]: r["rn"]
        for r in global_row_number(
            df, ["value", "event_id"], "rn", buckets=8
        ).collect()
    }
    w = Window.orderBy("value", "event_id")
    want = {
        r["event_id"]: r["rn"]
        for r in df.select(
            "event_id", F.row_number().over(w).cast("long").alias("rn")
        ).collect()
    }
    assert got == want


def test_exact_ntile_matches_sql_ntile(spark, sf_dir):
    ev = read_parquet_table(spark, sf_dir, "events").select(
        "value", "event_id"
    )
    got = {
        r["event_id"]: r["tile"]
        for r in exact_ntile(ev, ["value", "event_id"], 7).collect()
    }
    w = Window.orderBy("value", "event_id")
    want = {
        r["event_id"]: r["tile"]
        for r in ev.select(
            "event_id", F.ntile(7).over(w).alias("tile")
        ).collect()
    }
    assert got == want


def test_exact_ntile_more_tiles_than_rows(spark):
    """q == 0 branch: with N < n_tiles, ntile assigns tile == rank."""
    df = spark.createDataFrame(
        [(3, "c"), (1, "a"), (2, "b")], ["k", "s"]
    )
    got = sorted(
        (r["k"], r["t"]) for r in exact_ntile(df, ["k"], 10, "t").collect()
    )
    assert got == [(1, 1), (2, 2), (3, 3)]


def test_event_value_deciles_equals_ntile_crosscheck(
    spark, sf_dir, driver_style_multisets
):
    """The registered bucketed plan against its oracle, DuckDB's literal
    ``ntile(10) OVER (ORDER BY value, event_id)``, under the driver's
    type-strict comparison."""
    spec = all_queries()["event_value_deciles"]
    sm, om = driver_style_multisets(spark, spec.fn, spec.oracle, sf_dir)
    assert sm == om


def test_build_artifact_once_single_publish_under_race(tmp_path):
    """N threads race a cold artifact build: exactly one copy is
    published at the root, losers' temp builds are swept, and a later
    call reuses without rebuilding (the r05 deterministic-artifact-root
    contract behind the BM25/trigram/IVF persisted indexes)."""
    import os
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from spotify_tracks_etl_portfolio_spark.plans.extensions import (
        _build_artifact_once,
    )

    root = str(tmp_path / "idx")
    barrier = threading.Barrier(4)
    builds = []

    def build(tmp: str) -> None:
        barrier.wait()  # all four build concurrently before any rename
        os.makedirs(os.path.join(tmp, "marker"))
        builds.append(tmp)

    with ThreadPoolExecutor(max_workers=4) as ex:
        list(ex.map(lambda _: _build_artifact_once(root, "marker", build), range(4)))

    assert len(builds) == 4  # every racer built (no marker existed yet)
    assert os.path.isdir(os.path.join(root, "marker"))
    # losers swept: nothing but the published root remains
    assert sorted(os.listdir(tmp_path)) == ["idx"]
    # reuse: a fifth call must not build again
    _build_artifact_once(root, "marker", build)
    assert len(builds) == 4


def test_build_artifact_once_reraises_genuine_rename_failure(
    tmp_path, monkeypatch
):
    """r05 advice fix: a rename failure with NO winner present (EXDEV,
    permissions) must re-raise — swallowing it published nothing and
    surfaced later as an unreadable index — and the tmp build must be
    swept either way."""
    import os

    import pytest

    from spotify_tracks_etl_portfolio_spark.plans.extensions import (
        _build_artifact_once,
    )

    root = str(tmp_path / "idx")

    def build(tmp: str) -> None:
        os.makedirs(os.path.join(tmp, "marker"))

    real_rename = os.rename

    def failing_rename(src, dst):
        raise OSError("cross-device link")

    monkeypatch.setattr(os, "rename", failing_rename)
    with pytest.raises(OSError, match="cross-device"):
        _build_artifact_once(root, "marker", build)
    monkeypatch.setattr(os, "rename", real_rename)
    # nothing published, no tmp leaked
    assert list(tmp_path.iterdir()) == []

    # but a lost RACE (winner's artifact present at rename time) stays
    # silent: simulate by publishing the winner inside the failing rename
    def racing_rename(src, dst):
        os.makedirs(os.path.join(root, "marker"))
        raise OSError("file exists")

    monkeypatch.setattr(os, "rename", racing_rename)
    _build_artifact_once(root, "marker", build)  # must NOT raise
    assert os.path.isdir(os.path.join(root, "marker"))


def test_build_artifact_once_sweeps_tmp_on_build_failure(tmp_path):
    """A failing build must propagate AND leave no half-built tmp tree
    behind (r05 advice fix)."""
    import os

    import pytest

    from spotify_tracks_etl_portfolio_spark.plans.extensions import (
        _build_artifact_once,
    )

    root = str(tmp_path / "idx")

    def build(tmp: str) -> None:
        os.makedirs(os.path.join(tmp, "partial"))
        raise RuntimeError("build exploded")

    with pytest.raises(RuntimeError, match="build exploded"):
        _build_artifact_once(root, "marker", build)
    assert list(tmp_path.iterdir()) == []


def test_grouped_prefix_sum_equals_single_window(spark, sf_dir):
    """The bucketed per-group prefix sum must be BIT-IDENTICAL to the
    single-window ``sum() OVER (PARTITION BY group ORDER BY ...)``
    exclusive form, including NULL-valued summands and few buckets."""
    from spotify_tracks_etl_portfolio_spark.functions import (
        rolling_hash,
        token_count,
    )
    from spotify_tracks_etl_portfolio_spark.operators.stats import (
        grouped_prefix_sum,
    )

    docs = read_parquet_table(spark, sf_dir, "documents")
    nt = token_count("text").cast("long")
    for buckets in (64, 3):
        got = {
            r["doc_id"]: r["pre"]
            for r in grouped_prefix_sum(
                docs,
                ["lang"],
                rolling_hash("text"),
                ["doc_id"],
                nt,
                "pre",
                buckets=buckets,
            ).collect()
        }
        w = (
            Window.partitionBy("lang")
            .orderBy(rolling_hash("text").asc(), F.col("doc_id").asc())
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        want = {
            r["doc_id"]: r["pre"]
            for r in docs.select(
                "doc_id",
                F.coalesce(F.sum(nt).over(w), F.lit(0).cast("long")).alias(
                    "pre"
                ),
            ).collect()
        }
        assert got == want, f"buckets={buckets}"


def test_prefix_sum_queries_never_single_task_per_stratum(spark, sf_dir):
    """Scale gate for the three packing/sharding queries: their heavy
    running-sum window must partition by (lang, range-bucket), never by
    lang alone — a bare PARTITION BY lang runs each language's whole
    token stream through one task (no WindowGroupLimit applies to a
    running sum), ~10 tasks at any cluster size."""
    from spotify_tracks_etl_portfolio_spark.plans import all_queries

    qs = all_queries()
    for name in (
        "token_budget_shards",
        "pack_training_sequences",
        "prepare_training_corpus",
    ):
        import re

        df = qs[name].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "__gps_b" in plan, f"{name}: no bucketed running-sum window"
        # windowspecdefinition prints partition columns first (bare
        # `lang#N,`), then ordering (`... ASC NULLS FIRST`): a spec
        # partitioned by lang whose next partition column is NOT the
        # range bucket is the funnel this gate exists to ban. (The
        # per-lang base-offset window orders globally BY lang — no
        # partition — so it never matches.)
        bad = re.findall(r"windowspecdefinition\(lang#\d+L?, (?!__gps_b#)\S+", plan)
        assert not bad, f"{name}: lang-partitioned window without bucket: {bad}"


def test_grouped_prefix_sum_null_group_and_global_base(spark):
    """Synthetic coverage the testdata can't give: a NULL group key
    (the NULL-safe join must keep its rows, matching the single
    window's NULL partition) and global_base=True (group-major global
    prefix: every earlier group's total + same-group earlier rows,
    groups ascending NULLS FIRST)."""
    from spotify_tracks_etl_portfolio_spark.operators.stats import (
        grouped_prefix_sum,
    )

    rows = [
        (None, 1, 100, 7),
        (None, 2, 5, 3),
        ("a", 3, 50, 10),
        ("a", 4, None, 2),  # NULL lead sorts first within its group
        ("b", 5, 60, 1),
    ]
    df = spark.createDataFrame(
        rows, "g string, id long, h long, v long"
    )
    for gb in (False, True):
        got = {
            r["id"]: r["pre"]
            for r in grouped_prefix_sum(
                df,
                ["g"],
                F.col("h"),
                ["id"],
                F.col("v"),
                "pre",
                buckets=4,
                global_base=gb,
            ).collect()
        }
        # reference computed by hand: per group, order (h NULLS FIRST,
        # id), exclusive running sum; global_base prepends the totals
        # of groups sorting earlier (None first)
        groups: dict = {}
        for g, i, h, v in rows:
            groups.setdefault(g, []).append((h is not None, h, i, v))
        want = {}
        gtotals = {
            g: sum(v for *_, v in lst) for g, lst in groups.items()
        }
        for g, lst in groups.items():
            base = (
                sum(
                    t
                    for g2, t in gtotals.items()
                    if (g2 is not None, g2) < (g is not None, g)
                )
                if gb
                else 0
            )
            running = base
            for *_, i, v in sorted(lst):
                want[i] = running
                running += v
        assert got == want, f"global_base={gb}: {got} != {want}"


def test_grouped_prefix_sum_out_of_range_lead_range_still_exact(spark):
    """A ``lead_range`` that fails to bound the data must stay exact
    (round-7 advice item): leads BELOW lo clamp monotonically into
    bucket 0 (unclamped, integer DIV's truncation toward zero folds
    (lo-width, lo) into bucket 0 out of order and (lo-2w, lo-w] onto
    the NULL sentinel -1), leads ABOVE hi collapse into one overflow
    bucket (round-8 advice item: unclamped, (lead-lo) DIV width past
    int32 raises under ANSI or wraps to a negative bucket colliding
    with the sentinel) — both merely imbalance sizes."""
    from spotify_tracks_etl_portfolio_spark.operators.stats import (
        grouped_prefix_sum,
    )

    rows = [
        ("a", 1, -250, 4),  # far below lo: would hit sentinel bucket -1
        ("a", 2, -30, 7),   # just below lo: would non-monotonically share 0
        ("a", 3, None, 2),  # NULL lead keeps the sentinel to itself
        ("a", 4, 10, 1),
        ("a", 5, 99, 3),
        ("a", 6, 5000, 9),  # above hi: spills past bucket buckets-1
        ("a", 9, 6 * 10**10, 8),  # (lead-lo) DIV width > int32: would
        #                           raise (ANSI) / wrap negative
        ("a", 10, 2**63 - 1, 2),  # long max: ultimate high-side lead
        ("b", 7, -1, 5),
        ("b", 8, 120, 6),
    ]
    df = spark.createDataFrame(rows, "g string, id long, h long, v long")
    got = {
        r["id"]: r["pre"]
        for r in grouped_prefix_sum(
            df,
            ["g"],
            F.col("h"),
            ["id"],
            F.col("v"),
            "pre",
            buckets=4,
            lead_range=(0, 100),  # deliberately does NOT bound h
        ).collect()
    }
    w = (
        Window.partitionBy("g")
        .orderBy(F.col("h").asc(), F.col("id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    want = {
        r["id"]: r["pre"]
        for r in df.select(
            "id",
            F.coalesce(F.sum("v").over(w), F.lit(0).cast("long")).alias(
                "pre"
            ),
        ).collect()
    }
    assert got == want


def test_grouped_prefix_sum_full_int64_lead_range_still_exact(spark):
    """Round-8 review finding: lead_range=(-2**63, 2**63-1) — the
    natural static declaration for a full-range signed hash lead —
    makes width·buckets exceed int64, so the hi cap must clamp to
    lo + (2**63-1) BEFORE any SQL subtraction (and min-long leads must
    pre-route below the lo floor), or (__gps_o - lo) overflows BIGINT:
    ANSI raise, or a wrapped negative that breaks bucket monotonicity.
    Also covers the min-long literal parse hazard (bare
    -9223372036854775808 is unary-minus on an out-of-range decimal)."""
    from spotify_tracks_etl_portfolio_spark.operators.stats import (
        grouped_prefix_sum,
    )

    rows = [
        ("a", 1, -(2**63), 4),       # min long
        ("a", 2, -(2**62), 7),
        ("a", 3, None, 2),
        ("a", 4, 0, 1),
        ("a", 5, 2**62, 3),
        ("a", 6, 2**63 - 1, 9),      # max long
        ("b", 7, -1, 5),
        ("b", 8, 2**61, 6),
    ]
    df = spark.createDataFrame(rows, "g string, id long, h long, v long")
    got = {
        r["id"]: r["pre"]
        for r in grouped_prefix_sum(
            df,
            ["g"],
            F.col("h"),
            ["id"],
            F.col("v"),
            "pre",
            buckets=4,
            lead_range=(-(2**63), 2**63 - 1),
        ).collect()
    }
    w = (
        Window.partitionBy("g")
        .orderBy(F.col("h").asc(), F.col("id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    want = {
        r["id"]: r["pre"]
        for r in df.select(
            "id",
            F.coalesce(F.sum("v").over(w), F.lit(0).cast("long")).alias(
                "pre"
            ),
        ).collect()
    }
    assert got == want


def test_grouped_prefix_sum_offset_cardinality_guard(spark):
    """Round-6 verdict item 7: a high-cardinality group key must raise
    instead of silently broadcasting an unbounded offset table."""
    import pytest

    from spotify_tracks_etl_portfolio_spark.operators.stats import (
        grouped_prefix_sum,
    )

    df = spark.range(200).select(
        F.col("id").cast("string").alias("g"),
        F.col("id"),
        (F.col("id") * 7 % 50).alias("h"),
        F.lit(1).alias("v"),
    )
    with pytest.raises(ValueError, match="max_offset_rows"):
        grouped_prefix_sum(
            df,
            ["g"],
            F.col("h"),
            ["id"],
            F.col("v"),
            "pre",
            buckets=4,
            max_offset_rows=100,
        )
    # the same call under the default cap is exact
    got = {
        r["id"]: r["pre"]
        for r in grouped_prefix_sum(
            df, ["g"], F.col("h"), ["id"], F.col("v"), "pre", buckets=4
        ).collect()
    }
    assert got == {i: 0 for i in range(200)}
