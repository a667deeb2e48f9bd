"""Smoke + shape tests for every registered query at sf0.001.

The value-level gate is the DuckDB oracle (tools/check_oracle.py and the
driver's CORRECTNESS run); here we assert each query executes, returns a
stable schema, and satisfies cheap invariants.
"""

from __future__ import annotations

import pytest

from spotify_tracks_etl_portfolio_spark.plans import all_queries

SPECS = all_queries()


@pytest.mark.parametrize("name", sorted(SPECS))
def test_query_runs(spark, sf_dir, name):
    spec = SPECS[name]
    df = spec.fn(spark, sf_dir)
    rows = df.collect()
    assert df.columns, name
    assert rows is not None


def test_flagship_entry(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0


def test_registry_contract():
    import __spark_entry__ as e

    qs, os_ = e.queries(), e.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 20


def test_winsorized_null_robust(spark, tmp_path):
    """winsorized_event_values must agree with its DuckDB oracle even
    when events.value contains NULLs (ADVICE r2: Spark's non-nullable
    greatest(value, lit) would otherwise clamp NULLs to p01 and count
    them in the mean while the oracle drops them)."""
    import duckdb
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "event_id": range(100),
            "ts": pd.to_datetime("2024-01-01") + pd.to_timedelta(range(100), "h"),
            "user_id": [i % 7 for i in range(100)],
            "event_type": ["click"] * 100,
            "value": [float(i) if i % 5 else None for i in range(100)],
            "props": ["{}"] * 100,
        }
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    sf = tmp_path / "sfnull"
    sf.mkdir()
    pdf.to_parquet(sf / "events.parquet")

    spec = SPECS["winsorized_event_values"]
    got = spec.fn(spark, str(sf)).first().asDict()

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf}/events.parquet')"
    )
    cols = [d[0] for d in con.execute(spec.oracle).description]
    want = dict(zip(cols, con.execute(spec.oracle).fetchone()))
    assert got == pytest.approx(want), (got, want)


def test_queries_pin_utc_on_foreign_timezone_session(spark, sf_dir):
    """The driver hands queries a session IT built (no factory confs).
    On a non-UTC host every date_format/window string would shift
    against the UTC-naive DuckDB oracle — so the reader layer must pin
    the session timezone itself, same as nanosAsLong."""
    import duckdb

    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        df = SPECS["hourly_event_rollup"].fn(spark, sf_dir)
        # constructing the query re-pinned the session to UTC
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        got = df.orderBy("hour").first()["hour"]
        want = duckdb.sql(
            "SELECT strftime(date_trunc('hour', min(ts)), '%Y-%m-%d %H:%M:%S') "
            f"FROM '{sf_dir}/events.parquet'"
        ).fetchone()[0]
        assert got == want
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def _load_check_oracle_mod():
    import importlib.util
    import pathlib

    path = pathlib.Path(__file__).resolve().parents[1] / "tools" / "check_oracle.py"
    spec = importlib.util.spec_from_file_location("_check_oracle_mod", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _duck_con(sf):
    import os

    import duckdb

    from spotify_tracks_etl_portfolio_spark.schemas import TESTDATA_TABLES

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        path = os.path.join(sf, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS "
                f"SELECT * FROM read_parquet('{path}')"
            )
    return con


def _driver_style_multisets(spark, fn, oracle, sf, chk):
    """(spark_multiset, oracle_multiset) under the driver's type-strict
    normalization — DuckDB fetched through Arrow, exactly like the
    harness."""
    sdf = fn(spark, sf)
    s_cols = list(sdf.columns)
    s_rows = [tuple(r) for r in sdf.collect()]
    tbl = _duck_con(sf).execute(oracle).fetch_arrow_table()
    o_cols = list(tbl.column_names)
    o_rows = [tuple(d[c] for c in o_cols) for d in tbl.to_pylist()]
    assert sorted(s_cols) == sorted(o_cols)
    s_idx = [s_cols.index(c) for c in sorted(s_cols)]
    o_idx = [o_cols.index(c) for c in sorted(o_cols)]
    return (
        chk._multiset([[r[i] for i in s_idx] for r in s_rows]),
        chk._multiset([[r[i] for i in o_idx] for r in o_rows]),
    )


def test_decimal_contingency_variants_hash_match_duckdb(spark, sf_dir):
    """The dormant decimal-output contingency (round-6 verdict item 6,
    plans/decimal_contingency.py): each variant must hash-match DuckDB
    under the driver's type-strict comparison at the regular test
    scale. DECIMAL(24,8) crosses Arrow as decimal128(24,8) on both
    engines, so there is no decimal->double conversion for the oracle
    channel to double-round."""
    from spotify_tracks_etl_portfolio_spark.plans.decimal_contingency import (
        DECIMAL_VARIANTS,
    )

    chk = _load_check_oracle_mod()
    for name, (fn, oracle) in DECIMAL_VARIANTS.items():
        sm, om = _driver_style_multisets(spark, fn, oracle, sf_dir, chk)
        assert sm == om, name
        # the retyped sum columns really are Decimal-typed on both sides
        assert any(
            isinstance(v, tuple) and v[0] == "dec" for row in sm for v in row
        ), name


@pytest.mark.skipif(
    not __import__("os").path.isdir(
        __import__("os").path.join(
            __import__("os").path.dirname(__import__("os").path.dirname(
                __import__("os").path.abspath(__file__))),
            ".stress", "sf1",
        )
    ),
    reason="sf1 stress replica not generated (tools/make_stress_sf.py)",
)
def test_decimal_contingency_fixes_sf1_ulp_mismatch(spark):
    """At the sf1 stress scale the DOUBLE-typed registered form
    demonstrably mismatches DuckDB by 1-2 ulp (the decimal->double
    conversion artifact, ROUND5.md) — and the decimal-typed variant of
    the same query must hash-match exactly at that same scale. This is
    the evidence that the contingency actually fixes the exposure it
    exists for."""
    import os

    from spotify_tracks_etl_portfolio_spark.plans.decimal_contingency import (
        DECIMAL_VARIANTS,
    )

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sf1 = os.path.join(repo, ".stress", "sf1")
    chk = _load_check_oracle_mod()

    # the double-typed registered form shows the classified ulp artifact
    spec = SPECS["regional_revenue"]
    sm, om = _driver_style_multisets(spark, spec.fn, spec.oracle, sf1, chk)
    diffs = [(a, b) for a, b in zip(sm, om) if a != b]
    assert diffs, "sf1 no longer reproduces the ulp artifact"
    assert all(chk._only_ulp_floats(a, b) for a, b in diffs)

    # the decimal-typed variant hash-matches at the same scale
    fn, oracle = DECIMAL_VARIANTS["regional_revenue"]
    sm, om = _driver_style_multisets(spark, fn, oracle, sf1, chk)
    assert sm == om


def test_width_parametric_oracles_generalize_beyond_registered_widths(
    spark, sf_dir
):
    """Round-8 twins made the simhash/hyperplane oracles width-
    parametric. The claim 'any STATIC width replays exactly' must not
    silently hold only at the two registered widths (30/59, 8/16):
    pick third widths never used by any registered query and pin
    engine == DuckDB replay for both operator families."""
    import duckdb

    from spotify_tracks_etl_portfolio_spark.operators import dedup as dd
    from spotify_tracks_etl_portfolio_spark.operators import (
        similarity as sim,
    )
    from spotify_tracks_etl_portfolio_spark.plans import extensions as ext
    from spotify_tracks_etl_portfolio_spark.sources.readers import (
        read_parquet_table,
    )

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    # SimHash at bits=45 (spans both hash streams, unregistered width)
    docs = read_parquet_table(spark, sf_dir, "documents")
    got = {
        (r.doc_id, r.simhash)
        for r in dd.simhash(docs, "doc_id", "text", bits=45).collect()
    }
    want = {
        tuple(r)
        for r in con.execute(
            f"WITH {ext._SHINGLE_CTES},\n{ext._simhash_sql(bits=45)}\n"
            "SELECT doc_id, simhash FROM simh"
        ).fetchall()
    }
    assert got == want
    # Hyperplane LSH at rows=12 (unregistered band width)
    emb = read_parquet_table(spark, sf_dir, "embeddings")
    got_pairs = {
        (r.id_a, r.id_b, r.cosine)
        for r in sim.hyperplane_lsh_near_dup_pairs(
            emb, "vec_id", "embedding", ext.EMB_NEAR_DUP_THRESHOLD, rows=12
        ).collect()
    }
    want_pairs = {
        tuple(r)
        for r in con.execute(ext._hyperplane_lsh_oracle(rows=12)).fetchall()
    }
    assert got_pairs == want_pairs


def _rotation_under_fake_status(monkeypatch):
    """Only the first 50 registry entries get a correctness record each
    round, so ``all_queries()`` orders by urgency: failed row → rows-only row of a
    query that now has an oracle → never recorded (priority list first)
    → force re-record queue → stalest recorded round first, with the
    canonical registry order as the final tiebreak.

    Patches a synthetic recorded status and a one-name force queue, and
    returns the resulting order plus the expected head of it."""
    from spotify_tracks_etl_portfolio_spark import plans

    names = list(plans.all_queries())
    fresh = [
        n for n in plans._CANONICAL_ORDER
        if n not in plans._PRIORITY_UNRECORDED
    ]
    failed, upgraded, unlisted, forced, stale_a, stale_b, stale_c = fresh[:7]
    listed = plans._PRIORITY_UNRECORDED[3]
    fake = {n: (14, "pass") for n in names}
    fake[failed] = (13, "fail")
    fake[upgraded] = (12, "no_oracle")
    del fake[unlisted], fake[listed]
    fake[forced] = (14, "pass")  # newest row, yet ahead of every stale one
    # stale_a and stale_b tie on round: canonical order decides
    fake[stale_a] = (5, "pass")
    fake[stale_b] = (5, "pass")
    fake[stale_c] = (7, "pass")
    monkeypatch.setattr(plans, "_recorded_status", lambda: fake)
    monkeypatch.setattr(plans, "_FORCE_RERECORD", (forced,))

    head = [failed, upgraded, listed, unlisted, forced, stale_a, stale_b, stale_c]
    return list(plans.all_queries()), head


def test_rotation_unrecorded_before_force_queue(monkeypatch):
    """Failed, then upgraded, then never-recorded rows (priority list
    first) all precede the force re-record queue."""
    ordered, head = _rotation_under_fake_status(monkeypatch)
    assert ordered[:5] == head[:5]


def test_rotation_force_queue_before_stalest_round(monkeypatch):
    """A force-queued name with the newest recorded round still precedes
    every stale recorded row, which then follow stalest round first."""
    ordered, head = _rotation_under_fake_status(monkeypatch)
    assert ordered[4:8] == head[4:8]


def test_rotation_stalest_round_first_canonical_tiebreak(monkeypatch):
    """Stale rows sort by recorded round, ties by canonical order; every
    other name, including ones no longer force-queued, keeps canonical
    registry order after them."""
    from spotify_tracks_etl_portfolio_spark import plans

    ordered, head = _rotation_under_fake_status(monkeypatch)
    assert ordered[: len(head)] == head
    canon = set(plans._CANONICAL_ORDER)
    tail = [n for n in plans._CANONICAL_ORDER if n not in head] + [
        n for n in plans.QUERIES if n not in canon and n not in head
    ]
    assert ordered[len(head):] == tail


def test_registry_does_not_depend_on_artifacts(tmp_path):
    """A copy of the package with no ``CORRECTNESS_r*.json`` beside it,
    imported from a foreign cwd, registers exactly the same queries:
    recorded artifacts order the registry, they never gate it."""
    import json
    import os
    import shutil
    import subprocess
    import sys
    from pathlib import Path

    from spotify_tracks_etl_portfolio_spark import plans

    pkg = Path(plans.__file__).resolve().parents[1]
    shutil.copytree(
        pkg, tmp_path / pkg.name,
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    code = (
        "import json, sys; sys.path.insert(0, sys.argv[1]); "
        f"from {pkg.name}.plans import all_queries; "
        "print(json.dumps(sorted(all_queries())))"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", code, str(tmp_path)],
        cwd=tmp_path, env=env, capture_output=True, text=True, check=True,
    )
    assert set(json.loads(out.stdout.splitlines()[-1])) == set(
        plans.all_queries()
    )
