from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from spotify_tracks_etl_portfolio_spark.session import get_spark

#: Overridable like tools/dump_plans.py so the suite runs on machines
#: where the driver-generated testdata lives elsewhere.
SF_SMOKE = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


def _load_check_oracle_mod():
    import importlib.util

    path = Path(__file__).resolve().parents[1] / "tools" / "check_oracle.py"
    spec = importlib.util.spec_from_file_location("_check_oracle_mod", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _duck_con(sf):
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


@pytest.fixture(scope="session")
def driver_style_multisets():
    """``(spark, fn, oracle, sf) -> (spark_multiset, oracle_multiset)``
    under the driver's type-strict normalization — DuckDB fetched
    through Arrow, exactly like ``tools/check_oracle.py``."""
    chk = _load_check_oracle_mod()

    def multisets(spark, fn, oracle, sf):
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

    return multisets
