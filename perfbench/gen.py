"""Seeded input generators. The engine only ever sees the files written here.

``write_spotify_csv`` draws a Spotify-tracks-shaped CSV (the reference's 21
columns) with the dirty-data conditions the medallion flow exists to fix.
``write_tables`` draws the star schema plus the ``events``, ``documents``
and ``embeddings`` tables the registered queries read, with the shapes and
value ranges of the synthetic test tables described in ``TESTDATA.md``.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

_BASE62 = np.array(list("0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"))

#: Columns the silver transform clamps (mirrors ``schemas.SPOTIFY_CLAMPS``;
#: the generator pushes a share of each outside its range).
_UNIT_COLS = [
    "danceability", "energy", "speechiness", "acousticness",
    "instrumentalness", "liveness", "valence",
]


def _ids(rng: np.random.Generator, n: int, width: int = 22) -> np.ndarray:
    """``n`` random base62 strings of ``width`` characters."""
    chars = _BASE62[rng.integers(0, 62, size=(n, width))]
    return np.ascontiguousarray(chars).view(f"<U{width}").ravel()


def _with_nulls(rng, values: np.ndarray, frac: float) -> pa.Array:
    return pa.array(values, mask=rng.random(len(values)) < frac)


def _skewed_pick(rng, prefix: str, pool: int, n: int) -> np.ndarray:
    """Zipf-like draw from ``pool`` names, so each column has one clear mode."""
    w = 1.0 / np.arange(1, pool + 1) ** 1.1
    idx = rng.choice(pool, size=n, p=w / w.sum())
    return np.char.add(prefix, idx.astype(str))


def _unit_with_outliers(rng, n: int) -> np.ndarray:
    v = np.round(rng.random(n), 4)
    out = rng.random(n) < 0.01
    v[out] = np.round(rng.uniform(-0.3, 1.3, out.sum()), 4)
    # keep at least one value on each side of [0, 1]
    v[0], v[1] = -0.25, 1.25
    return v


def write_spotify_csv(path: str, n_rows: int, seed: int) -> dict:
    """Write the CSV and return what the medallion checks need: the row count
    and the number of distinct ``track_id`` values.

    About 20% of the rows repeat an earlier ``track_id`` under another
    ``index``; ``artists``, ``album_name``, ``track_name``, ``track_genre``
    and every median column carry nulls; every clamped column carries
    out-of-range values. ``track_id``, ``loudness`` range, ``tempo`` sign and
    the non-imputed columns stay inside the silver hard gate."""
    rng = np.random.default_rng(seed)
    n_unique = int(n_rows * 0.8)
    unique_ids = _ids(rng, n_unique)
    dup_ids = unique_ids[rng.integers(0, n_unique, n_rows - n_unique)]
    track_id = np.concatenate([unique_ids, dup_ids])[rng.permutation(n_rows)]

    popularity = rng.integers(0, 101, n_rows)
    out = rng.random(n_rows) < 0.01
    popularity[out] = rng.choice([-7, -1, 101, 120], out.sum())
    popularity[0], popularity[1] = -3, 117

    cols = {
        "index": pa.array(np.arange(n_rows, dtype=np.int32)),
        "track_id": pa.array(track_id),
        "artists": _with_nulls(rng, _skewed_pick(rng, "Artist ", 5000, n_rows), 0.01),
        "album_name": _with_nulls(rng, _skewed_pick(rng, "Album ", 20000, n_rows), 0.01),
        "track_name": _with_nulls(rng, _skewed_pick(rng, "Track ", 50000, n_rows), 0.01),
        "popularity": _with_nulls(rng, popularity.astype(np.int32), 0.01),
        "duration_ms": _with_nulls(rng, rng.integers(30_000, 600_000, n_rows), 0.01),
        "explicit": pa.array(rng.random(n_rows) < 0.1),
    }
    for c in ("danceability", "energy"):
        cols[c] = _with_nulls(rng, _unit_with_outliers(rng, n_rows), 0.01)
    cols["key"] = pa.array(rng.integers(0, 12, n_rows).astype(np.int32))
    cols["loudness"] = _with_nulls(rng, np.round(rng.uniform(-60.0, 0.0, n_rows), 3), 0.01)
    cols["mode"] = pa.array(rng.integers(0, 2, n_rows).astype(np.int32))
    for c in ("speechiness", "acousticness", "instrumentalness", "liveness", "valence"):
        cols[c] = _with_nulls(rng, _unit_with_outliers(rng, n_rows), 0.01)
    cols["tempo"] = _with_nulls(rng, np.round(rng.uniform(0.0, 250.0, n_rows), 3), 0.01)
    cols["time_signature"] = pa.array(
        rng.choice(np.array([1, 3, 4, 5], dtype=np.int32), n_rows, p=[0.02, 0.1, 0.85, 0.03])
    )
    cols["track_genre"] = _with_nulls(rng, _skewed_pick(rng, "genre_", 114, n_rows), 0.01)

    pacsv.write_csv(pa.table(cols), path)
    return {"rows": n_rows, "distinct_track_ids": int(len(np.unique(track_id)))}


_WORDS = np.array(
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the".split()
)
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "red", "small", "old", "new", "hot", "cold", "big"]
_NOUN = ["bolt", "gear", "anvil", "widget", "rod", "plate", "ring", "nut"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "de", "es", "fr", "zh"]


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: dt.date, span_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    off = rng.integers(0, span_days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + off, type=pa.timestamp("us"))


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _documents(rng, n: int) -> pa.Table:
    lengths = rng.integers(10, 100, n)
    words = _WORDS[rng.integers(0, len(_WORDS), lengths.sum())]
    cuts = np.cumsum(lengths)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    # 5% near-duplicates: another document's text plus one extra token
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS, n, p=[0.44, 0.14, 0.14, 0.14, 0.14])),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(size=(10, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    v = 0.15 * centers[labels] + rng.normal(scale=dim ** -0.5, size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    })


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write ``<table>.parquet`` for every table the registered queries read,
    sized like the ``TESTDATA.md`` tables at scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs, n_emb = int(50_000 * sf), max(500, int(20_000 * sf))

    part_idx = np.arange(n_part)
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(_REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust)),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(part_idx.astype(np.int64)),
            "p_name": pa.array(np.char.add(np.char.add(
                rng.choice(_ADJ, n_part), " "), rng.choice(_NOUN, n_part))),
            "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))),
            "p_type": pa.array(rng.choice(_PART_TYPES, n_part)),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (part_idx % 1000) * 0.1, 1)),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2404, n_ord),
            "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_ord)),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2498, n_line),
        }),
    }
    gaps = rng.exponential(30 * 86_400e6 / n_ev, n_ev).astype(np.int64)
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev)),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n_ev)),
        "value": pa.array(np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    tables["documents"] = _documents(rng, n_docs)
    tables["embeddings"] = _embeddings(rng, n_emb)

    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
