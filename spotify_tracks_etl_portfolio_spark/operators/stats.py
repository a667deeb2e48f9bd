"""Imputation statistics — the two-phase stats job (SURVEY.md §3.2).

The reference computes 11 medians + 4 modes over the *raw* bronze table
(duplicates included) on the driver (``reference: dags/de_spotify_silver.py:49-70``)
and splices them into the silver SQL as literals
(``reference: dags/sql/de_spotify_silver.sql:1-3``). The engine keeps the
same two-phase order — stats first, then applied as literals — because a
fused single query that computed medians after dedup would silently
diverge from the reference's semantics.

Scale posture: the reference pulls the full table to pandas for this;
here the medians and the per-dtype modes are distributed aggregations
fetched together in ONE action (one Spark job set, one plan). Exact median is
the default for oracle parity; ``exact=False`` switches to
``percentile_approx`` for the 100 TB path (documented trade-off,
SURVEY.md §4.2).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spotify_tracks_etl_portfolio_spark.functions import num_lit_sql, quote_ident

#: ``percentile_approx`` accuracy of the approximate median
_MEDIAN_ACCURACY = 10000


def _median_frame(
    df: DataFrame, cols: list[str], exact: bool, accuracy: int
) -> DataFrame:
    """One-row frame holding the median of ``cols[i]`` as ``__med{i}``."""
    agg = "median({})" if exact else f"percentile_approx({{}}, 0.5, {int(accuracy)})"
    return df.selectExpr(
        *[f"{agg.format(quote_ident(c))} AS __med{i}" for i, c in enumerate(cols)]
    )


def _mode_frames(df: DataFrame, cols: list[str]) -> list[DataFrame]:
    """One one-row frame per distinct dtype among ``cols``, holding the
    mode of ``cols[i]`` as ``__mode{i}``.

    Each dtype group is unpivoted to (column index, value) rows and
    counted in ONE shuffle; the argmax per column is a ``min_by`` over
    ``struct(−cnt, val)`` restricted to that column's rows — highest
    count, ties to the smallest value IN THE COLUMN'S OWN TYPE ORDER (a
    shared cross-type unpivot would force a lossy common cast and a
    string tie-break, which orders ``10 < 9``)."""
    dtypes = dict(df.dtypes)
    by_type: dict[str, list[int]] = {}
    for i, c in enumerate(cols):
        by_type.setdefault(dtypes[c], []).append(i)

    frames = []
    for group in by_type.values():
        pairs = ", ".join(
            f"struct({i} AS k, {quote_ident(cols[i])} AS val)" for i in group
        )
        counted = (
            df.selectExpr(f"inline(array({pairs}))")
            .where("val IS NOT NULL")
            .groupBy("k", "val")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        frames.append(
            counted.selectExpr(
                *[
                    f"min_by(val, CASE WHEN k = {i} THEN struct(-cnt, val) END)"
                    f" AS __mode{i}"
                    for i in group
                ]
            )
        )
    return frames


def _stats(
    df: DataFrame,
    median_cols: list[str],
    mode_cols: list[str],
    exact: bool = True,
    accuracy: int = _MEDIAN_ACCURACY,
) -> tuple[dict[str, object], dict[str, object]]:
    """(medians, modes) from ONE action: the median aggregate and the
    per-dtype mode aggregates are one-row frames, cross-joined and
    fetched together."""
    frames = [_median_frame(df, median_cols, exact, accuracy)] if median_cols else []
    if mode_cols:
        frames.extend(_mode_frames(df, mode_cols))
    if not frames:
        return {}, {}
    row = reduce(DataFrame.crossJoin, frames).first()
    return (
        {c: row[f"__med{i}"] for i, c in enumerate(median_cols)},
        {c: row[f"__mode{i}"] for i, c in enumerate(mode_cols)},
    )


def column_medians(
    df: DataFrame,
    cols: list[str],
    exact: bool = True,
    accuracy: int = _MEDIAN_ACCURACY,
) -> dict[str, float]:
    """Median per column in ONE aggregation pass (the reference loops
    per-column in pandas, ``reference: dags/de_spotify_silver.py:56-63``)."""
    return _stats(df, cols, [], exact, accuracy)[0]


def column_modes(df: DataFrame, cols: list[str]) -> dict[str, object]:
    """Mode per column with the pandas tie-break, in ONE action.

    ``pandas.Series.mode()`` drops NaN, sorts tied values ascending and the
    reference takes ``.iloc[0]`` (``reference: dags/de_spotify_silver.py:64-69``)
    — so ties break to the smallest value.

    Scale shape: one shuffle per DISTINCT dtype among ``cols`` (the
    reference loops a pandas ``.mode()`` per column), so a wide
    all-numeric schema still runs O(1) aggregation passes; the
    per-dtype results are one-row frames cross-joined into one row.
    """
    return _stats(df, [], cols)[1]


def compute_impute_stats(
    df: DataFrame,
    median_cols: list[str],
    mode_cols: list[str],
    exact: bool = True,
) -> dict[str, dict[str, object]]:
    """The full stats job: ``{'medians': {...}, 'modes': {...}}`` — the
    engine's version of the XCom stats dict
    (``reference: dags/de_spotify_silver.py:70``), medians and modes
    fetched in ONE action."""
    medians, modes = _stats(df, median_cols, mode_cols, exact)
    return {"medians": medians, "modes": modes}


def global_row_number(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "rn",
    buckets: int = 64,
) -> DataFrame:
    """EXACT global row number over a total order WITHOUT ever moving the
    table to one partition (``Window.orderBy`` with no partitionBy is a
    single-partition stage — a straight OOM at 100 TB).

    Shape: (1) one tiny aggregation computes ``buckets-1`` approximate
    quantile boundaries of the leading order column (bounded driver
    state: <= 63 doubles); (2) every row is assigned its bucket by a
    broadcast-literal monotone CASE — all rows in bucket b sort before
    all rows in bucket b+1, so the assignment's *approximation* only
    affects balance, never correctness; (3) ``row_number`` runs inside
    each bucket (a partitioned window, ~N/buckets rows per partition);
    (4) exact per-bucket counts (a second tiny aggregation) become
    literal offsets added to the in-bucket rank. The global rank is
    exact for any boundary choice because the bucketing is monotone and
    ties stay inside one bucket (ranking below uses the full
    ``order_cols`` tie-break).

    This is the distributed-exact-rank primitive under
    ``exact_ntile`` / ``event_value_deciles``; the same shape scales to
    percentile/median-rank jobs. Largest stage at 100 TB: the hash
    exchange on bucket id — the same cost class as one groupBy shuffle.

    Skew caveat: every row TIED on the leading order column lands in
    one bucket (monotone bucketing cannot split a tie — splitting
    would need the tie-break column, whose boundaries percentile_approx
    of the leading column cannot see). For near-unique leading columns
    (values, timestamps, revenues) buckets stay balanced; a
    pathological distribution where one value dominates degrades to
    that value's run in a single partition — still bounded by the run
    length, never by the table (tested:
    ``test_global_row_number_heavy_ties_still_exact``).
    """
    ranked, _ = _bucketed_global_ranks(df, order_cols, out_col, buckets)
    return ranked


def _bucketed_global_ranks(
    df: DataFrame, order_cols: list[str], out_col: str, buckets: int
) -> tuple[DataFrame, int]:
    """Shared kernel for :func:`global_row_number` / :func:`exact_ntile`:
    returns (df + exact global rank column, exact total row count). The
    total comes free from the per-bucket offset pass — no extra scan."""
    bcol = order_cols[0]
    qs = [i / buckets for i in range(1, buckets)]
    row = df.agg(
        F.percentile_approx(bcol, qs, 2000).alias("bs"),
    ).first()
    bounds = sorted(set(row["bs"] or []))

    # The monotone bucket CASE and the per-bucket offset CASE below are
    # built as JVM-parsed SQL strings when the literals are plain
    # numerics (r14 optimization round): the Column loops cost one py4j
    # round-trip per operator — ~1 s of pure driver time per call at
    # buckets=64 (profiled: 3367 JVM calls on event_value_deciles'
    # construct) — while the parsed form is two calls. Arithmetic is
    # identical (same > / cast / sum chain, value-exact literals);
    # non-numeric leading columns keep the original Column loop.
    lits = [num_lit_sql(b) for b in bounds]
    if bounds and all(lits):
        bucket_body = F.expr(
            " + ".join(f"CAST((`{bcol}` > {lb}) AS INT)" for lb in lits)
        )
    else:
        bucket_body = F.lit(0)
        for b in bounds:
            bucket_body = bucket_body + (F.col(bcol) > F.lit(b)).cast("int")
    # NULL leading keys: (NULL > bound) is NULL, so without a guard the
    # bucket itself is NULL (None key crashed the offset sort below).
    # Spark's ASC default is NULLS FIRST, so NULLs get the bucket that
    # sorts before every boundary bucket — keeping the global rank
    # identical to the single-window row_number.
    bucket = F.when(F.col(bcol).isNull(), F.lit(-1)).otherwise(bucket_body)
    bucketed = df.withColumn("__bkt", bucket)

    counts = {
        r["__bkt"]: r["cnt"]
        for r in bucketed.groupBy("__bkt")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    offset = 0
    offsets: dict[int, int] = {}
    for bkt in sorted(counts):
        offsets[bkt] = offset
        offset += counts[bkt]

    if offsets:
        # one CASE, not a |buckets|-deep nested when-chain (exactly one
        # branch can match — __bkt is single-valued — so branch order
        # is irrelevant and the flattened CASE is value-identical)
        off_expr = F.expr(
            "CASE "
            + " ".join(
                f"WHEN __bkt = {bkt} THEN CAST('{off}' AS BIGINT)"
                for bkt, off in offsets.items()
            )
            + " ELSE CAST(0 AS BIGINT) END"
        )
    else:
        off_expr = F.lit(0)
    wb = Window.partitionBy("__bkt").orderBy(*order_cols)
    ranked = (
        bucketed.withColumn(
            out_col,
            (F.row_number().over(wb).cast("long") + off_expr.cast("long")),
        )
        .drop("__bkt")
    )
    return ranked, offset


def grouped_prefix_sum(
    df: DataFrame,
    group_cols: list[str],
    lead_order,
    tie_cols: list[str],
    val,
    out_col: str,
    buckets: int = 64,
    val_out: str | None = None,
    lead_range: tuple[int, int] | None = None,
    global_base: bool = False,
    max_offset_rows: int = 1_000_000,
) -> DataFrame:
    """EXCLUSIVE running sum of ``val`` per group, ordered by
    (``lead_order`` ASC, ``tie_cols`` ASC), without the
    one-task-per-group window: ``sum() OVER (PARTITION BY group ORDER
    BY …)`` is a full sequential pass of each group's rows through a
    single task — no WindowGroupLimit applies (there is no rank
    filter), so a 10-language corpus runs its entire token stream
    through 10 tasks. Same cure as :func:`global_row_number`: range-
    bucket on the leading order expression (global percentile
    boundaries — monotone bucketing keeps ties together, so
    concatenating buckets in order reproduces the exact per-group
    order), one small aggregation collects the per-(group, bucket)
    sums, the driver prefix-sums them into offsets (|groups|×|buckets|
    scalars — this helper is for LOW-CARDINALITY strata: languages,
    sources, shards), and each (group, bucket) window adds its offset.

    Returns a SLIM frame — (*group_cols, *tie_cols[, val_out],
    out_col) — materialized ONCE via localCheckpoint before the
    kernel's two passes: ``lead_order``/``val`` are typically
    expensive text expressions (content hash, token count), and
    leaving them as lineage would both re-scan the corpus per pass and
    let CollapseProject inline the hash into every downstream
    reference (measured 66 plan copies with percentile-boundary
    bucketing, a ~10× slowdown). The checkpoint holds only the few
    slim columns, never the text payload.

    Bucketing is EQUAL-WIDTH over the lead's value range — passed
    statically via ``lead_range`` when the caller knows it (a content
    hash's [0, mod) — zero extra jobs), else one cheap min/max pass
    over the checkpointed slim. Monotone by construction: ties share a
    bucket and concatenating buckets in order reproduces the exact
    per-group order, so exactness never depends on balance. A
    ``lead_range`` that fails to bound the data stays CORRECT (only
    balance suffers): leads below ``lo`` clamp to bucket 0 (integer
    DIV truncates toward zero, so unclamped negatives would fold into
    bucket 0 or collide with the NULL sentinel −1 and break the
    NULLS-FIRST order — round-6 advice item), leads above ``hi`` get
    buckets past ``buckets-1``, both monotone. The
    intended leads are content hashes — uniform over their range — so
    equal widths also give ~equal bucket sizes; a skewed non-hash lead
    would imbalance SIZES only. ``lead_order`` must be integral
    (hash-like) and ``val`` integral (the running total is BIGINT,
    exact) — the result is bit-identical to the single window
    (``test_grouped_prefix_sum_equals_single_window``).

    ``global_base=True`` adds each group's cross-group base (the total
    of every group sorting before it, groups ascending NULLS FIRST —
    Spark's ``Window.orderBy(group)`` order) to ``out_col``, turning it
    into the group-major GLOBAL exclusive prefix sum — the sequence-
    packing shape — computed from the same driver-side offset pass,
    zero extra jobs.

    ``max_offset_rows`` bounds the broadcast offset table
    (|groups|×|buckets| rows): misuse with a high-cardinality group
    key raises instead of silently building an unbounded broadcast."""
    slim = df.select(
        *group_cols,
        *tie_cols,
        lead_order.cast("long").alias("__gps_o"),
        val.cast("long").alias("__gps_v"),
    ).localCheckpoint(eager=False)

    if lead_range is not None:
        lo, hi = lead_range
    else:
        mm = slim.agg(
            F.min("__gps_o").alias("lo"), F.max("__gps_o").alias("hi")
        ).first()
        lo = mm["lo"] if mm["lo"] is not None else 0
        hi = mm["hi"] if mm["hi"] is not None else 0
    # width is Python-unbounded arithmetic; cap it at BIGINT max so the
    # SQL literal below is always valid (a full-int64 declared range
    # with buckets=1 would otherwise produce width = 2**64-1)
    width = min(max(1, (hi - lo) // buckets + 1), 2**63 - 1)
    # NULL lead values sort first under ASC — give them a bucket below
    # every real bucket (the _bucketed_global_ranks guard); DIV keeps
    # the arithmetic integral (no double rounding on wide longs). Both
    # out-of-declared-range sides pre-route BEFORE any SQL-side
    # subtraction (round-8 advice item, completed round 9): a lead far
    # above a mis-declared ``hi`` would make (__gps_o - lo) DIV width
    # exceed int32, raising under ANSI or wrapping to a negative bucket
    # that breaks monotone order / collides with the NULL sentinel —
    # collapsing every above-hi lead into one overflow bucket stays
    # EXACT because the final window orders by __gps_o within each
    # bucket. Symmetrically, EVERY below-lo lead pre-routes to bucket 0
    # (round-9 fix: the round-8 sentinel ``lo - (2**63-1)`` only caught
    # leads at int64 min, so a lead between that floor and lo more than
    # ~2^31·width below lo still overflowed the INT cast — fail-stop
    # under ANSI, silently mis-bucketed with ANSI off; property test
    # ``test_grouped_prefix_sum_exact_for_any_declared_range`` pins the
    # falsifying example lead=-(2**63)+1, buckets=1, lead_range=(-5,5)).
    # Collapsing below-lo leads into bucket 0 is exact for the same
    # ordering reason as the overflow bucket. The hi_cap ALSO bounds
    # the subtraction itself: a declared range spanning more than the
    # int64 range (lead_range=(-2**63, 2**63-1) is the natural
    # declaration for a full-range signed hash lead) makes hi_cap clamp
    # to lo + (2**63-1), so (__gps_o - lo) stays inside BIGINT for
    # every row that reaches it (all such rows have __gps_o >= lo). All
    # cap arithmetic is Python (unbounded) and every literal that
    # reaches SQL fits BIGINT. The CAST path therefore only ever sees
    # lo <= __gps_o < hi_cap: quotient in [0, buckets), no clamp needed.
    hi_cap = min(lo + width * buckets, lo + (2**63 - 1), 2**63 - 1)
    bucket = F.when(F.col("__gps_o").isNull(), F.lit(-1)).otherwise(
        F.when(F.col("__gps_o") >= F.lit(hi_cap), F.lit(buckets)).otherwise(
            F.when(F.col("__gps_o") < F.lit(lo), F.lit(0)).otherwise(
                # lo as a string-cast literal: a bare
                # -9223372036854775808 parses as unary-minus on an
                # out-of-range decimal in Spark SQL
                F.expr(
                    f"CAST((__gps_o - CAST('{lo}' AS BIGINT))"
                    f" DIV {width} AS INT)"
                )
            )
        )
    )
    d = slim.withColumn("__gps_b", bucket)

    # Per-(group, bucket) offsets stay IN the DAG (no driver collect):
    # the per-bucket sums are |groups|×|buckets| rows, so the offset
    # windows below are single-stage over a broadcast-sized frame.
    per_bucket = d.groupBy(*group_cols, "__gps_b").agg(
        F.sum("__gps_v").alias("__s")
    )
    # Cardinality guard (round-6 verdict item 7): this kernel is
    # documented for LOW-CARDINALITY strata; without the guard a
    # high-cardinality group key would silently become an unbounded
    # broadcast. The count is one cheap pass over the checkpointed
    # slim (which the final action needed materialized anyway); the
    # aggregation deliberately stays LAZY in the result plan so the
    # single-partition offset window provably sits above a
    # HashAggregate, not an opaque checkpoint scan
    # (test_no_registered_query_single_partitions_raw_input).
    n_off = per_bucket.count()
    if n_off > max_offset_rows:
        raise ValueError(
            f"grouped_prefix_sum: {n_off} (group, bucket) offset rows "
            f"exceed max_offset_rows={max_offset_rows} — this kernel "
            "broadcasts the offset table and is designed for "
            "low-cardinality strata (languages, sources, shards); "
            "for high-cardinality groups use a plain "
            "Window.partitionBy(group) running sum (groups are small "
            "by pigeonhole) or raise max_offset_rows deliberately"
        )
    if global_base:
        # global exclusive prefix over (group ASC NULLS FIRST, bucket
        # ASC): for a (group, bucket) row this is every earlier group's
        # total PLUS the same group's earlier buckets — the cross-group
        # base and the within-group offset in one tiny window
        w_off = Window.orderBy(
            *[F.asc(c) for c in group_cols], F.asc("__gps_b")
        ).rowsBetween(Window.unboundedPreceding, -1)
    else:
        w_off = (
            Window.partitionBy(*group_cols)
            .orderBy(F.asc("__gps_b"))
            .rowsBetween(Window.unboundedPreceding, -1)
        )
    offs = per_bucket.select(
        *group_cols,
        "__gps_b",
        F.coalesce(F.sum("__s").over(w_off), F.lit(0).cast("long")).alias(
            "__gps_off"
        ),
    )

    # NULL-safe equi-join (a NULL group key must keep its rows — the
    # single window it replaces treats NULL as an ordinary partition),
    # aliased because offs derives from d (self-join lineage)
    dl = d.alias("__gps_l")
    offs = offs.alias("__gps_r")
    cond = [
        F.col(f"__gps_l.{c}").eqNullSafe(F.col(f"__gps_r.{c}"))
        for c in group_cols
    ] + [F.col("__gps_l.__gps_b") == F.col("__gps_r.__gps_b")]
    joined = dl.join(F.broadcast(offs), cond).select(
        "__gps_l.*", F.col("__gps_r.__gps_off").alias("__gps_off")
    )
    w = (
        Window.partitionBy(*group_cols, "__gps_b")
        .orderBy(
            F.asc("__gps_o"), *[F.asc(c) for c in tie_cols]
        )
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = (
        joined.withColumn(
            out_col,
            (
                F.col("__gps_off")
                + F.coalesce(F.sum("__gps_v").over(w), F.lit(0).cast("long"))
            ).cast("long"),
        )
        .drop("__gps_o", "__gps_b", "__gps_off")
    )
    if val_out is None:
        return out.drop("__gps_v")
    return out.withColumnRenamed("__gps_v", val_out)


def exact_ntile(
    df: DataFrame,
    order_cols: list[str],
    n_tiles: int,
    out_col: str = "tile",
    buckets: int = 64,
) -> DataFrame:
    """EXACT ``ntile(n)`` semantics (first ``N mod n`` tiles get the
    extra row) built on :func:`global_row_number` — no single-partition
    window, bit-identical to the SQL ``ntile`` given a total order.
    ``N`` is already known exactly from the primitive's per-bucket
    counts, so the tile is a pure arithmetic projection of the rank."""
    ranked, n_rows = _bucketed_global_ranks(df, order_cols, "__grn", buckets)
    q, r = divmod(n_rows, n_tiles)
    rank = F.col("__grn")
    if q == 0:
        tile = rank
    else:
        head = r * (q + 1)
        tile = F.when(
            rank <= F.lit(head),
            F.floor((rank + F.lit(q)) / F.lit(q + 1)),
        ).otherwise(
            F.lit(r) + F.floor((rank - F.lit(head) + F.lit(q - 1)) / F.lit(q))
        )
    return ranked.withColumn(out_col, tile.cast("int")).drop("__grn")


def salted_count(
    df: DataFrame,
    key_cols: list[str],
    salt_from: str,
    out_col: str = "n",
    buckets: int = 16,
) -> DataFrame:
    """Two-stage skew-resistant count: stage 1 groups on
    (keys, hash(salt_from) mod buckets) so a hot key's rows spread over
    ``buckets`` reducers; stage 2 sums the partial counts per key.
    Bit-identical to a direct groupBy-count — the salt only reshapes the
    shuffle. (Spark's partial aggregation already absorbs most skew for
    COUNT; the two-stage form is the general pattern for aggregates
    whose partial state is wide — collect_set, exact distinct,
    percentile buffers — where one hot reducer OOMs at 100 TB.)

    The salt source is a deterministic hash of an existing column, not
    ``rand()``: retried/speculated tasks must salt a row identically or
    the partial counts double-count under task retry."""
    salted = df.withColumn(
        "__salt", F.pmod(F.xxhash64(salt_from), F.lit(buckets))
    )
    partial = salted.groupBy(*key_cols, "__salt").agg(
        F.count(F.lit(1)).alias("__partial")
    )
    return partial.groupBy(*key_cols).agg(F.sum("__partial").alias(out_col))
