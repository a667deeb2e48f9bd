"""DQ suite semantics: one-pass expectation evaluation, soft/hard gates,
corrected value-range checks (SURVEY.md §5)."""

from __future__ import annotations

import pytest

from spotify_tracks_etl_portfolio_spark.operators.dq import (
    DataQualityError,
    Suite,
)

SCHEMA = "id long, name string, score double"
ROWS = [
    (1, "a", 0.5),
    (2, "b", 1.5),   # out of [0,1]
    (2, None, 0.7),  # dup id + null name
]


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(ROWS, SCHEMA)


def test_suite_detects_all_violations(df):
    suite = Suite(
        name="t",
        not_null=["name"],
        unique=["id"],
        between={"score": (0.0, 1.0)},
        column_types={"score": "double", "id": "bigint"},
        row_count_min=1,
    )
    report = suite.run(df)
    by_name = {r.name: r for r in report.results}
    assert not report.success
    assert not by_name["not_null:name"].success
    assert by_name["not_null:name"].observed == 1
    assert not by_name["unique:id"].success
    assert not by_name["between:score"].success
    assert by_name["between:score"].observed == 1
    assert by_name["column_type:score"].success
    assert by_name["row_count_min"].success


def test_hard_gate_raises(df):
    suite = Suite(name="t", unique=["id"])
    with pytest.raises(DataQualityError, match="unique:id"):
        suite.run(df).raise_on_failure()


def test_clean_data_passes(spark):
    clean = spark.createDataFrame([(1, "a", 0.5), (2, "b", 0.9)], SCHEMA)
    suite = Suite(
        name="t",
        not_null=["id", "name", "score"],
        unique=["id"],
        compound_unique=[["id", "name"]],
        between={"score": (0.0, 1.0)},
        min_value={"score": 0.0},
        row_count_equals=2,
    )
    report = suite.run(clean)
    assert report.success, [r.name for r in report.failures()]
    report.raise_on_failure()  # no-op


def test_nulls_dont_trip_range_checks(spark):
    df = spark.createDataFrame([(1, "a", None)], SCHEMA)
    report = Suite(name="t", between={"score": (0.0, 1.0)}).run(df)
    assert report.success


def test_validation_report_renders_markdown(spark):
    """Human-readable one-page artifact from ValidationReport — the
    engine's twin of the reference's rendered GX evidence
    (images/ss_silver_validation_gx.png). Failures lead the table."""
    suite = Suite(
        name="render_demo",
        not_null=["a"],
        between={"b": (0.0, 1.0)},
        row_count_min=1,
    )
    df = spark.createDataFrame(
        [(None, 0.5), ("x", 5.0)], "a string, b double"
    )
    report = suite.run(df)
    md = report.to_markdown()
    assert "# Validation report — `render_demo`" in md
    assert "**FAILED**" in md and "1/3 expectations met" in md
    # every expectation appears exactly once
    for name in ("not_null:a", "between:b", "row_count_min"):
        assert md.count(f"`{name}`") == 1
    # failures come before the passing row
    assert md.index("not_null:a") < md.index("row_count_min")
    assert md.index("between:b") < md.index("row_count_min")
    assert "❌ FAIL" in md and "✅ pass" in md

    ok = Suite(name="all_green", row_count_min=1).run(df)
    assert "**PASSED**" in ok.to_markdown()


def _old_compound_unique_success(df, cols):
    """The former grouped-pass form: any key group with more than one row."""
    from pyspark.sql import functions as F

    dups = (
        df.groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
        .limit(1)
        .count()
    )
    return dups == 0


@pytest.mark.parametrize(
    "rows",
    [
        [(1, None), (1, None)],  # same key, NULL part: duplicate
        [(1, None), (2, None)],
        [(None, None), (None, None)],  # all-NULL keys still collide
        [(1, "a"), (1, None), (None, "a")],
        [(1, "a"), (1, "a"), (1, "a"), (2, "b")],
    ],
)
def test_compound_unique_matches_grouped_form_on_null_keys(spark, rows):
    df = spark.createDataFrame(rows, "id long, name string")
    (res,) = Suite(name="t", compound_unique=[["id", "name"]]).run(df).results
    assert res.name == "compound_unique:id,name"
    assert res.success == _old_compound_unique_success(df, ["id", "name"])
    distinct = len(set(rows))
    assert res.observed == len(rows) - distinct  # surplus rows


def _old_counts(df, not_null, unique, between, min_value):
    """The former Column-API aggregation, on plain column names."""
    from pyspark.sql import functions as F

    aggs = [F.count(F.lit(1)).alias("n")]
    aggs += [F.sum(F.col(c).isNull().cast("long")) for c in not_null]
    aggs += [F.count(F.col(c)) - F.countDistinct(F.col(c)) for c in unique]
    aggs += [
        F.sum((~F.col(c).between(lo, hi) & F.col(c).isNotNull()).cast("long"))
        for c, (lo, hi) in between
    ]
    aggs += [
        F.sum(((F.col(c) < lo) & F.col(c).isNotNull()).cast("long"))
        for c, lo in min_value
    ]
    return [v or 0 for v in df.agg(*aggs).first()]


def test_dq_results_unchanged_for_odd_names_nan_and_bound_types(spark):
    nan = float("nan")
    rows = [
        (1, 0.5, 3, 2.5),
        (2, nan, 0, -1.0),  # NaN is out of any finite range
        (2, None, 7, None),
        (3, 1.0, 11, 9.99),
        (None, 1.5, -2, 10.0),
    ]
    odd = ["my id", "score`x", "int val", "f.v"]
    plain = ["a", "b", "c", "d"]
    df_odd = spark.createDataFrame(
        rows, ", ".join(f"`{c.replace('`', '``')}` {t}" for c, t in
                        zip(odd, ["long", "double", "int", "double"]))
    )
    df_plain = df_odd.toDF(*plain)

    def spec(names):
        a, b, c, d = names
        return dict(
            not_null=[a, b, d],
            unique=[a, c],
            between=[(b, (0, 1)), (c, (0.0, 10.0)), (d, (0, 9.99))],
            min_value=[(c, 0), (d, 0.5), (b, 0)],
        )

    odd_spec = spec(odd)
    suite = Suite(
        name="odd",
        not_null=odd_spec["not_null"],
        unique=odd_spec["unique"],
        between=dict(odd_spec["between"]),
        min_value=dict(odd_spec["min_value"]),
        row_count_equals=5,
    )
    report = suite.run(df_odd)
    expected = _old_counts(df_plain, **spec(plain))
    assert report.row_count == expected[0] == 5
    assert [r.observed for r in report.results] == expected
    assert [r.success for r in report.results] == [True] + [
        v == 0 for v in expected[1:]
    ]
    assert report.results[1].name == "not_null:my id"


def test_non_numeric_bound_is_rejected(spark):
    df = spark.createDataFrame([(1,)], "a long")
    with pytest.raises(TypeError, match="int or finite float"):
        Suite(name="t", min_value={"a": "0"}).run(df)
