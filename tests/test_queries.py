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
