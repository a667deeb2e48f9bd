"""Scalar / array function layer (SURVEY.md §2.8) — pure Column expressions.

Everything here is built from ``pyspark.sql.functions`` so it stays inside
whole-stage codegen (no Python in the hot path). Functions that feed the
DuckDB oracle are written for *bit-deterministic* results:

- Big aggregations go through DECIMAL (exact, order-insensitive) and are
  cast to DOUBLE at the output — the same exact value converts to the
  same double on both engines, so the order Spark reduces partitions in
  cannot perturb the hash. Plain double sums would differ in the last
  ulps between engines/orders.
- Small fixed-length float reductions (e.g. 64-dim dot products) are
  rounded at the output instead.
- Known oracle-side hazard: DuckDB's direct decimal→double cast divides
  the int128 mantissa by 10^scale in binary and can land 1 ulp off the
  correctly-rounded double at whole-table magnitudes (≳2^53 scaled
  units), while Spark/Python convert correctly rounded. Where a single
  output aggregates the entire fact table, route the oracle through
  ``CAST(CAST(x AS VARCHAR) AS DOUBLE)`` — DuckDB's string→double parse
  IS correctly rounded (see lineitem_grouping_sets).
"""

from __future__ import annotations

import math
import os
import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# Decimal wide enough for sf-scale money sums; scale 6 keeps cents exact.
_DEC = "decimal(28,6)"


def quote_ident(name: str) -> str:
    """A column name as a backtick-quoted SQL identifier: spaces, dots and
    backticks (doubled) stay part of the one name."""
    return "`" + name.replace("`", "``") + "`"


def num_lit_sql(v) -> str | None:
    """Exact SQL literal text for an int or finite float, else None.
    String-cast form sidesteps parser edge cases (negative literals
    parse as unary minus on a DECIMAL, exponent forms); CAST of a
    round-trip ``repr`` is value-exact for every finite double."""
    if isinstance(v, bool):
        return None
    if isinstance(v, int):
        return f"CAST('{v}' AS BIGINT)"
    if isinstance(v, float) and math.isfinite(v):
        return f"CAST('{v!r}' AS DOUBLE)"
    return None


def clamp(col: Column | str, lo: float, hi: float) -> Column:
    """Range clamp ``LEAST(GREATEST(x, lo), hi)``
    (reference: dags/sql/de_spotify_silver.sql:19-31)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.least(F.greatest(c, F.lit(lo)), F.lit(hi))


def dsum(col: Column | str, alias: str | None = None) -> Column:
    """Order-insensitive exact sum of a money-like double column:
    cast→DECIMAL, sum exactly, cast back to DOUBLE."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.sum(c.cast(_DEC)).cast("double")
    return out.alias(alias) if alias else out


def davg(col: Column | str, alias: str | None = None) -> Column:
    """Deterministic mean: exact decimal sum → double, divided by count."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.sum(c.cast(_DEC)).cast("double") / F.count(c)
    return out.alias(alias) if alias else out


def bin_floor(col: Column | str, width: float, lo: float = 0.0) -> Column:
    """Histogram bin lower edge: ``lo + floor((x - lo)/width) * width``
    (dashboard binned aggregations, SURVEY.md §2.4 A10)."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.floor((c - F.lit(lo)) / F.lit(width)) * F.lit(width) + F.lit(lo)).cast(
        "double"
    )


# ---------------------------------------------------------------------------
# Vector functions over array<float|double> embeddings (similarity surface)
# ---------------------------------------------------------------------------


def vec_dot(a: Column | str, b: Column | str) -> Column:
    """Dot product via ``zip_with`` + ``aggregate`` — JVM-side, no UDF.

    Measured note (round 7): an unrolled fixed-dim form (64 explicit
    ``element_at`` multiply-adds) was prototyped and REVERTED — in the
    pair-verify join plans it ran on the interpreted expression path
    and lost 3-11× to this fold (BENCH_NOTES round 7); the specialized
    HOF fold is the fast exact formulation here."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    prods = F.zip_with(ca, cb, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def vec_norm(a: Column | str) -> Column:
    ca = F.col(a) if isinstance(a, str) else a
    sq = F.aggregate(
        ca, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    )
    return F.sqrt(sq)


#: Norm clamp for cosine denominators: an all-zero vector would divide
#: by 0 (NULL/NaN cosine + engine-dependent handling downstream); a
#: norm below this is replaced so zero vectors get cosine 0 — a defined,
#: engine-independent answer. No-op for any real vector (norm ≫ eps).
VEC_NORM_EPS = 1e-12


def vec_norm_safe(a: Column | str, eps: float = VEC_NORM_EPS) -> Column:
    """``vec_norm`` clamped away from zero — use in any cosine
    denominator so all-zero embeddings yield 0.0, not NaN."""
    return F.greatest(vec_norm(a), F.lit(eps))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    return vec_dot(a, b) / (vec_norm_safe(a) * vec_norm_safe(b))


# ---------------------------------------------------------------------------
# Text functions (text-analysis surface)
# ---------------------------------------------------------------------------

#: Large Mersenne-ish prime that keeps ``acc*31 + ch`` inside int64
#: (acc < 1e9+7 → acc*31+255 < 3.2e10 ≪ 2^63) so the rolling hash is
#: overflow-free on engines with checked 64-bit arithmetic.
FINGERPRINT_MOD = 1_000_000_007


def token_count(col: Column | str) -> Column:
    """Whitespace token count; empty/blank strings count 0."""
    c = F.col(col) if isinstance(col, str) else col
    trimmed = F.trim(c)
    return F.when(trimmed == "", F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def rolling_hash(
    col: Column | str, mult: int = 31, mod: int = FINGERPRINT_MOD
) -> Column:
    """Polynomial rolling hash of the characters (document fingerprint):
    ``h = (h*mult + ascii(ch)) mod `` — expressible identically in
    DuckDB via ``list_reduce`` for oracle parity. The defaults (31,
    1e9+7) are the FROZEN oracle-shared constants; alternate (mult,
    mod) pairs give independent ~30-bit hash streams (used to widen
    SimHash fingerprints past 30 bits)."""
    c = F.col(col) if isinstance(col, str) else col
    chars = F.split(c, "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * F.lit(mult) + F.ascii(ch)) % F.lit(mod),
    )


def morton_code(a: Column | str, b: Column | str, bits: int = 16) -> Column:
    """Z-order (Morton) interleave of two non-negative integer columns:
    bit i of ``a`` lands at position 2i, bit i of ``b`` at 2i+1.

    Sorting by the interleaved code clusters rows that are close in
    BOTH dimensions, so parquet row-group min/max stats stay tight for
    both columns at once — multi-dimensional data skipping from a
    one-dimensional sort, the standard layout trick for two-predicate
    scans at 100 TB (a plain sort on ``a`` leaves ``b``'s per-row-group
    ranges as wide as the whole table). Pure integer Column arithmetic,
    whole-stage-codegen friendly; values are masked to ``bits`` low
    bits first (rank/bucket wider domains before encoding).
    """
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    ca = ca.cast("long").bitwiseAND(F.lit((1 << bits) - 1))
    cb = cb.cast("long").bitwiseAND(F.lit((1 << bits) - 1))
    code = F.lit(0).cast("long")
    for i in range(bits):
        code = (
            code
            + (F.shiftright(ca, i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i)))
            + (F.shiftright(cb, i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i + 1)))
        )
    return code


#: Logical nodes that establish their own output partitioning: a frame
#: whose lineage contains one is NOT running on the scan's partitions,
#: so the small-scan rescue below passes it through untouched. (Also
#: the round-8 advice fix: calling ``.rdd`` on such a frame under AQE
#: materializes upstream query stages — real jobs — so the rescue must
#: never probe them.)
_OWNS_PARTITIONING = re.compile(
    # \w* suffixes (NOT \b): the logical node names come in families —
    # RepartitionByExpression, DeduplicateWithinWatermark,
    # FlatMapGroupsInPandas, FlatMapCoGroupsInPandas, MapGroups… — and
    # a trailing \b would match only the bare base name (round-8
    # review finding: RepartitionByExpression and the pandas group
    # nodes slipped through, so an explicitly hash-partitioned frame
    # could be re-repartitioned and an applyInPandas-bearing in-memory
    # frame could reach the .rdd probe). Rebalance (round-9 advice
    # item): ``df.hint("rebalance")`` plans a RebalancePartitions node —
    # AQE-managed layout the rescue must neither override (file
    # lineage) nor probe (no file lineage → .rdd would materialize
    # stages). Sort deliberately matches BOTH the global Sort (range
    # partitioning) and sortWithinPartitions (same node name,
    # global=false): the latter does not establish partitioning, but it
    # IS the caller's explicit per-partition layout — a round-robin
    # rescue would silently destroy the local order, so passing it
    # through untouched is the correct side of the trade (a missed
    # rescue costs speed at toy scale; a destroyed layout breaks
    # caller intent at any scale).
    r"^[\s:+\-]*(?:Repartition|Rebalance|Join|Aggregate|Window|Sort|"
    r"Deduplicate|Intersect|Except|GlobalLimit|CoGroup|MapGroups|"
    r"FlatMapGroups|FlatMapCoGroups)\w*",
    re.MULTILINE,
)

#: Spark's split-planning defaults (``spark.sql.files.*``), used when
#: the session leaves the confs unset.
_DEFAULT_MAX_PARTITION_BYTES = 128 * 1024 * 1024
_DEFAULT_OPEN_COST_BYTES = 4 * 1024 * 1024

_BYTE_SUFFIX = {
    "": 1,
    "b": 1,
    "k": 1024,
    "kb": 1024,
    "m": 1024**2,
    "mb": 1024**2,
    "g": 1024**3,
    "gb": 1024**3,
    "t": 1024**4,
    "tb": 1024**4,
    "p": 1024**5,
    "pb": 1024**5,
}


def _parse_bytes(value: str, default: int) -> int:
    """Parse a Spark byte-size conf value ('134217728', '134217728b',
    '128MB', …). An UNRECOGNIZED suffix returns ``default`` — treating
    it as bytes (round-8 review finding) would silently collapse the
    split estimate and skip rescues."""
    try:
        m = re.fullmatch(r"\s*(\d+)\s*([a-zA-Z]*)\s*", str(value))
        mult = _BYTE_SUFFIX.get(m.group(2).lower())
        if mult is None:
            return default
        return int(m.group(1)) * mult
    except (AttributeError, ValueError):
        return default


def scan_parallelism(df):
    """Round-robin repartition to the cluster's default parallelism —
    ONLY when the frame is running on an under-split SCAN (returns
    ``df`` untouched otherwise, so this is a NO-OP at production scale,
    where any real table scan yields at least cores-many splits).

    Why it exists (round 7): heavy per-row compute that sits between a
    scan and the first shuffle — pair-join cosine HOFs, LSH sketches,
    k-means assignment probes, shingle hashing — inherits the SCAN's
    partitioning. A small parquet file is one split (Spark packs files
    into ``maxPartitionBytes``-sized byte ranges), so at toy/stress
    scale that whole phase serializes into 1-2 tasks and the measured
    cost of the quadratic-ish operators is ~cores× inflated (semantic
    dedup at the 10× stress replica: 40 s serial vs ~2 s parallel,
    identical rows). The shuffle this inserts moves only the small
    frame that failed the check, and every consumer in this package
    applies it to per-row-deterministic work whose downstream
    aggregations are order-independent, so answers are bit-identical.

    HOW the check runs (round-8 verdict item 4 — the per-call
    ``df.rdd.getNumPartitions()`` plan→RDD probe cost a real constant
    at toy scale, ~0.1-1 s per call, and under AQE would launch jobs on
    shuffle-bearing lineage): pure driver-side metadata, no plan→RDD
    conversion, no jobs —

    1. Lineage that contains a partitioning-establishing node
       (repartition/join/aggregate/window/…) passes through untouched:
       it is not running on the scan's partitions, and probing it is
       exactly the AQE job-launch hazard the round-8 advice flagged.
    2. Local file scans estimate Spark's own split count from file
       sizes (the ``maxSplitBytes`` formula: greedy packing means the
       true count is never below ``ceil(totalBytes/maxSplitBytes)``,
       so the estimate only ever errs toward rescuing a small frame).
    3. When the byte estimate says "wide enough" but the scan has
       fewer FILES than cores, parquet footers refine it with the real
       row-group count — byte-range splits that contain no row-group
       start carry no rows, so a huge single-row-group file is
       effectively ONE task no matter how many splits it packs (a
       pathology the old probe, which counted empty splits as
       parallelism, silently missed). At real scale file count alone
       (≥ cores) skips this, so the no-op path reads no footers.
    4. Frames with no file lineage (in-memory test frames, JDBC) fall
       back to the old ``rdd.getNumPartitions()`` probe — safe there
       precisely because step 1 already bounced every shuffle-bearing
       plan."""
    spark = df.sparkSession
    want = spark.sparkContext.defaultParallelism
    # Fail CLOSED on plan-check failure (round-9 advice item): if the
    # analyzed-plan bounce itself throws we cannot prove the lineage is
    # shuffle-free, and falling through to the .rdd probe on a
    # shuffle-bearing plan is exactly the AQE stage-materialization
    # hazard the metadata rework removed — an unrescued small frame
    # costs toy-scale speed, a probed AQE plan launches real jobs.
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return df
    if _OWNS_PARTITIONING.search(plan):
        return df
    try:
        jfiles = df._jdf.inputFiles()
        # Scans with >= cores FILES can never need the rescue, and the
        # proof needs only the COUNT: total >= n*openCost in both
        # max_split branches forces est >= n >= want, and the row-group
        # refinement requires len < want — so the outcome is `return
        # df` regardless of sizes. Short-circuit on len() (ONE py4j
        # call) instead of transferring the file list: pyspark's
        # df.inputFiles() iterates the Java array one py4j round-trip
        # per element (~0.3 s for the 1.1k-file codes artifact, per
        # scan_parallelism call — r14 optimization round). This also
        # covers REMOTE many-file scans, which previously fell through
        # to the plan→RDD probe — a >=cores-file scan never needs the
        # rescue, and skipping the probe there is strictly safer.
        if len(jfiles) >= want:
            return df
        files = list(jfiles)
    except Exception:
        files = None
    if files:
        try:
            from urllib.parse import unquote, urlparse

            parsed = [urlparse(f) for f in files]
            if all(p.scheme in ("file", "") for p in parsed):
                paths = [unquote(p.path) for p in parsed]
                sizes = [os.path.getsize(p) for p in paths]
                conf = spark.conf
                open_cost = _parse_bytes(
                    conf.get(
                        "spark.sql.files.openCostInBytes",
                        str(_DEFAULT_OPEN_COST_BYTES),
                    ),
                    _DEFAULT_OPEN_COST_BYTES,
                )
                max_part = _parse_bytes(
                    conf.get(
                        "spark.sql.files.maxPartitionBytes",
                        str(_DEFAULT_MAX_PARTITION_BYTES),
                    ),
                    _DEFAULT_MAX_PARTITION_BYTES,
                )
                total = sum(sizes) + open_cost * len(sizes)
                max_split = min(
                    max_part, max(open_cost, total // max(want, 1))
                )
                est = max(1, -(-total // max(max_split, 1)))
                if est >= want and len(paths) < want:
                    row_groups = _parquet_row_groups(paths)
                    if row_groups is not None:
                        est = min(est, row_groups)
                return df.repartition(want) if est < want else df
        except OSError:
            pass  # files moved/remote-mounted oddly: fall through to probe
    # in-memory / non-local / unstat-able lineage: the old probe —
    # shuffle-bearing plans were already bounced above, so plan→RDD
    # here cannot materialize AQE stages
    if df.rdd.getNumPartitions() < want:
        return df.repartition(want)
    return df


def _parquet_row_groups(paths: list[str]) -> int | None:
    """Total row groups across local parquet files (footer reads only),
    or None when any file isn't readable parquet metadata."""
    try:
        import pyarrow.parquet as pq

        return sum(pq.ParquetFile(p).metadata.num_row_groups for p in paths)
    except Exception:
        return None
