"""Deduplication family for training-data pipelines (north star):
exact, n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.

All variants are built from DataFrame ops (explode → hash → group/join);
hashing is the engine's own overflow-free polynomial hash so every stage
has an exactly-equivalent DuckDB SQL form (generated from the SAME
constants in plans/extensions.py) — the LSH pipeline itself is
oracle-checkable, not just trusted.

Scale design (the point of each variant at 100 TB):
- exact: one shuffle on the text hash; group by ``xxhash64(text)``
  rather than the full text to keep shuffle rows narrow.
- n-gram Jaccard: explode shingles → self-join on shingle hash. The
  shingle join is the scale hazard (hot shingles fan out quadratically);
  mitigate by dropping ultra-common shingles (document-frequency cap),
  the standard trick — exposed as ``max_shingle_df``.
- MinHash+LSH: signatures are a fixed-width agg (no quadratic term);
  candidates only materialize for band collisions. Band join keys are
  ``(band_idx, band_signature)`` — a narrow shuffle.
- SimHash: fixed-width bit-vote agg; near-dup = Hamming ≤ k on int64
  (bit_count(xor)) — cheap verify, no second shingle pass.
- embedding cosine: brute-force pair filter locally; the scale path is
  the block/LSH variants in operators/similarity.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spotify_tracks_etl_portfolio_spark.functions import (
    FINGERPRINT_MOD,
    quote_ident,
    rolling_hash,
    scan_parallelism,
    str_lit_sql,
)
from spotify_tracks_etl_portfolio_spark.operators.text import tokens

# --------------------------------------------------------------------------
# Shared MinHash/SimHash constants — plans/extensions.py generates the
# DuckDB oracle SQL from these same values. Frozen; do not regenerate.
# --------------------------------------------------------------------------

SHINGLE_K = 3
NUM_MINHASHES = 12
LSH_BANDS = 4  # 4 bands × 3 rows
LSH_ROWS = NUM_MINHASHES // LSH_BANDS
#: (a, b) pairs for h_i(x) = (a_i * x + b_i) mod MINHASH_P; a < 2^20 and
#: x < 2^30 keep a*x+b < 2^50 — overflow-free on checked-arithmetic engines.
MINHASH_COEFFS: tuple[tuple[int, int], ...] = (
    (131071, 524287), (262139, 8191), (524287, 131071), (786431, 262139),
    (1000003, 999983), (917503, 700001), (655359, 350003), (999979, 131),
    (786433, 524287), (333667, 100003), (888887, 222221), (444443, 777767),
)
MINHASH_P = 2_147_483_647  # 2^31 − 1 (Mersenne prime)
SIMHASH_BITS = 30  # token hashes are < 2^30 (mod 1e9+7)
#: Second independent hash stream (mult 37, mod another <2^30 prime)
#: supplies fingerprint bits 30..58 when a caller widens past 30 bits;
#: 59 is the packing limit that keeps the fingerprint a positive long.
SIMHASH_MOD2 = 998_244_353
SIMHASH_MAX_BITS = 59
#: Shingle hash = polynomial combine of the k TOKEN hashes:
#: h = fold(th_i → (acc * SHINGLE_B + th_i) mod FINGERPRINT_MOD).
#: Hashing each token's characters ONCE per doc and combining per
#: shingle is ~10× less work than re-hashing every shingle string
#: char-by-char (each char participates in k shingles otherwise).
#: acc < 1e9+7 and B ≈ 2^20 keep acc*B + th < 2^51 — overflow-free.
SHINGLE_B = 1_000_003

#: InferFiltersFromGenerate turns explode(expensive_array_expr) into a
#: pushed-down ``size(expr) > 0`` filter whose alias gets substituted
#: with the FULL expression tree — the shingle-hash pipeline then
#: re-evaluates per row inside the filter (observed 10×). Our arrays are
#: never empty, so the inferred filter saves nothing. The driver may run
#: us on a session built without our factory, so pin the exclusion at
#: runtime (same pattern as sources/readers.py nanosAsLong).
_EXCLUDED_RULES = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"


def _tune_generate(df: DataFrame) -> DataFrame:
    """SESSION-WIDE side effect, by design: excludedRules is an
    optimizer conf read at planning time (lazily, after this returns),
    so a set/restore scope around plan CONSTRUCTION would be a no-op.
    The exclusion persists for the session; it is safe for unrelated
    queries (InferFiltersFromGenerate only ever adds a redundant
    ``size(e) > 0`` pre-filter; skipping it costs nothing when arrays
    are non-empty and saves re-evaluating expensive generator inputs
    when they are ours). Public entry points that hash text document
    this."""
    conf = df.sparkSession.conf
    current = conf.get("spark.sql.optimizer.excludedRules", None) or ""
    if _EXCLUDED_RULES not in current:
        conf.set(
            "spark.sql.optimizer.excludedRules",
            f"{current},{_EXCLUDED_RULES}" if current else _EXCLUDED_RULES,
        )
    return df


def _rolling_hash_sql(var: str) -> str:
    """SQL text of ``functions.rolling_hash`` at its frozen defaults
    (mult=31, mod=1e9+7): same aggregate/split/ascii ops on the same
    long-typed accumulator, L-suffixed literals replaying the exact
    type promotions of the Column form."""
    return (
        f"aggregate(split({var}, ''), 0L, "
        f"(acc, ch) -> (acc * 31L + ascii(ch)) % {FINGERPRINT_MOD}L)"
    )


def _tokens_sql(text_col: str) -> str:
    """SQL text of ``text.tokens``: whitespace tokens of trimmed text,
    empty text -> empty array."""
    col, ws = quote_ident(text_col), str_lit_sql(r"\s+")
    return (
        f"CASE WHEN trim({col}) = '' THEN "
        "CAST(array() AS ARRAY<STRING>) "
        f"ELSE split(trim({col}), {ws}) END"
    )


def shingle_hash_arrays(
    df: DataFrame, id_col: str, text_col: str, k: int = SHINGLE_K
) -> DataFrame:
    """(id, __hashes: array<long>) — one narrow row per doc, hashes
    deduped LOCALLY via ``array_distinct`` (the exploded+global-distinct
    form costs a full shuffle for the same result, since the id is part
    of every key). Signatures, set sizes, and the candidate verify all
    derive from this without touching the text again.

    Token hashes are materialized as their own projection (``__th``) so
    each token's characters are hashed exactly once; Catalyst keeps the
    projections separate (non-cheap exprs aren't duplicated by
    CollapseProject), and each shingle is then k multiply-adds.

    Note: excludes ``InferFiltersFromGenerate`` for the WHOLE session
    (see ``_tune_generate``)."""
    # The token-hash projection and the k-wide window fold are built as
    # JVM-parsed SQL strings (r14 optimization round): the Column/HOF
    # form paid one py4j round-trip per operator plus ~20 ms per
    # _create_lambda — ~0.3 s of pure driver time per call (measured;
    # the expr form is ~0.01 s). Arithmetic is identical: same
    # split/ascii/aggregate ops over the same long accumulators,
    # L-suffixed literals replaying the exact type promotions
    # (bit-identity pinned by test_shingle_hash_exprs_match_column_form
    # + the oracle).
    # scan_parallelism: tokenizing + hashing + the k-wide window fold
    # below all run map-side on df's partitioning — rescue the
    # unsplittable-small-file layout (no-op at real scale; per-row
    # deterministic work)
    th = _tune_generate(scan_parallelism(df)).select(
        id_col,
        F.expr(
            f"transform({_tokens_sql(text_col)}, t -> {_rolling_hash_sql('t')})"
        ).alias("__th"),
    )

    acc = "element_at(__th, CAST(i + 1 AS INT))"
    for j in range(1, k):
        acc = (
            f"((({acc}) * {SHINGLE_B}L + "
            f"element_at(__th, CAST(i + {j + 1} AS INT))) "
            f"% {FINGERPRINT_MOD}L)"
        )
    windows = f"transform(sequence(0, size(__th) - {k}), i -> {acc})"
    fold_all = (
        f"aggregate(__th, 0L, "
        f"(acc, x) -> (acc * {SHINGLE_B}L + x) % {FINGERPRINT_MOD}L)"
    )
    hashes = F.expr(
        f"CASE WHEN size(__th) >= {k} THEN array_distinct({windows}) "
        f"ELSE array({fold_all}) END"
    )
    return th.select(id_col, hashes.alias("__hashes"))


def exploded_shingle_hashes(
    df: DataFrame, id_col: str, text_col: str, k: int = SHINGLE_K
) -> DataFrame:
    """(id, shingle_hash) rows — the base for the Jaccard self-join.
    Hash = the engine's polynomial rolling hash (< 2^30); per-doc
    dedup happens in the array layer, so this explode needs no shuffle."""
    return shingle_hash_arrays(df, id_col, text_col, k).select(
        id_col, F.explode("__hashes").alias("h")
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup: keep the lowest id per identical content, with its
    copy count — one hash-groupBy on the text (one shuffle; at scale
    the key would be ``xxhash64(text)``, collision-checked)."""
    return (
        df.groupBy(text_col)
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
        .select(id_col, "n_copies")
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    k: int = SHINGLE_K,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """All-pairs n-gram Jaccard similarity ≥ threshold via shingle-hash
    self-join. ``max_shingle_df`` drops shingles appearing in more than
    that many docs (the quadratic-fanout guard for scale).

    Memory posture (round-6 verdict item 4 — a default-1g bare session
    must complete at sf1, where the candidate stream is ~50M rows):

    - every join side scales with the corpus, so the joins carry
      explicit ``merge`` hints: a bare session's STATIC size estimates
      (parquet stats × selectivity guesses, blind to the ~100× explode
      fanout) otherwise broadcast corpus-scaled sides, whose
      unspillable hash relations OOM small heaps. Sort-merge streams
      one ≤max_shingle_df key group at a time and spills.
    - per-doc set sizes are attached to the shingle rows BEFORE the
      self-join, so the (id_a, id_b) aggregation carries them along
      (min over a constant-per-pair column) and the quadratic candidate
      stream is shuffled exactly ONCE — the former join-sizes-after-agg
      tail re-shuffled and re-sorted it twice more.
    - the self-join input is repartitioned with an EXPLICIT partition
      count (the session's spark.sql.shuffle.partitions), which AQE
      must honor (REPARTITION_BY_NUM is never coalesced). Left to
      itself, AQE coalesces the narrow pre-join exchanges to its 64MB
      advisory size and then the join's ~40× output expansion plus the
      per-pair partial-agg hash state concentrates in a handful of fat
      tasks — measured OOM of a 1g/8-core session at sf1; at 200
      partitions the same work completes in the same session."""
    n_parts = int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    # repartition(id) puts ONE narrow exchange after the expensive text
    # hashing; ReuseExchange then shares the computed arrays across every
    # branch below (self-join sides + sizes) instead of re-hashing 3×.
    base = shingle_hash_arrays(df, id_col, text_col, k).repartition(F.col(id_col))
    sh = base.select(id_col, F.explode("__hashes").alias("h"))
    if max_shingle_df is not None:
        rare = (
            sh.groupBy("h")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_shingle_df)
            .select("h")
        )
        sh = sh.join(rare.hint("merge"), "h", "left_semi")
        # sizes must reflect the capped shingle set
        sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    else:
        # shuffle-free: |set| straight off the per-doc array
        sizes = base.select(id_col, F.size("__hashes").alias("n_sh"))

    # (id, h, n_sh): small join keyed on the doc id, then ONE pinned
    # exchange on h that both self-join sides reuse
    szd = sh.join(sizes.hint("merge"), id_col).repartition(n_parts, F.col("h"))
    a = szd.select(F.col(id_col).alias("id_a"), "h", F.col("n_sh").alias("na"))
    b = szd.select(F.col(id_col).alias("id_b"), "h", F.col("n_sh").alias("nb"))
    return (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("shared"),
            F.min("na").alias("na"),  # constant per id_a — min = the value
            F.min("nb").alias("nb"),
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("shared").cast("double")
                / (F.col("na") + F.col("nb") - F.col("shared")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _signature_cols() -> list[Column]:
    """mh_i = array_min(transform(hashes, h → (a_i·h + b_i) mod P)) —
    a pure projection over the hash array: computing signatures costs
    NO shuffle (vs. explode + groupBy, which shuffles every (id, h)).
    Parsed SQL exprs, not Column/HOF loops: 12 lambdas cost ~0.3 s of
    py4j driver time per call the expr form does not (r14; bit-identity
    pinned by test_shingle_hash_exprs_match_column_form)."""
    return [
        F.expr(
            f"array_min(transform(__hashes, "
            f"h -> (h * {a}L + {b}L) % {MINHASH_P}L))"
        ).alias(f"mh_{i}")
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    ]


def minhash_band_rows(signatures: DataFrame, id_col: str) -> DataFrame:
    """(id, band, sig) rows — the LSH blocking key. A pure projection +
    explode of the signature columns (4 rows/doc, no shuffle). One
    parsed expr instead of the nested struct/concat Column loop (r14:
    ~0.15 s of py4j driver time per call; same explode/named_struct/
    concat_ws ops, bit-identity pinned by the minhash equality test)."""
    structs = ", ".join(
        "named_struct('band', {bi}, 'sig', concat_ws('_', {cols}))".format(
            bi=bi,
            cols=", ".join(
                f"mh_{bi * LSH_ROWS + r}" for r in range(LSH_ROWS)
            ),
        )
        for bi in range(LSH_BANDS)
    )
    return signatures.select(
        id_col, F.expr(f"explode(array({structs}))").alias("bs")
    ).select(id_col, "bs.band", "bs.sig")


def minhash_lsh_candidates(signatures: DataFrame, id_col: str) -> DataFrame:
    """LSH banding: docs sharing any band signature become candidates.
    Bands explode to (band_idx, band_sig) rows; the self-join is an
    equi-join on those narrow keys."""
    bands = minhash_band_rows(signatures, id_col)
    a = bands.select(F.col(id_col).alias("id_a"), "band", "sig")
    b = bands.select(F.col(id_col).alias("id_b"), "band", "sig")
    return (
        a.join(b, ["band", "sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    k: int = SHINGLE_K,
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: signatures → band candidates →
    exact-Jaccard verification of CANDIDATES ONLY (never the all-pairs
    join — that's the entire point of LSH at scale: the exact verify
    touches |candidates| × shingles, not |docs|²)."""
    # One narrow exchange after the expensive text hashing → ReuseExchange
    # shares the arrays across signatures + both verify-join sides
    # (without it each branch re-hashes every document).
    base = shingle_hash_arrays(df, id_col, text_col, k).repartition(F.col(id_col))
    sigs = base.select(id_col, *_signature_cols())
    cands = minhash_lsh_candidates(sigs, id_col)

    # Verify by fetching each side's hash array and intersecting locally:
    # two equi-joins keyed on doc id (candidate side is tiny after LSH —
    # AQE broadcasts it), then set math as pure projections. No explode,
    # no re-shuffle of the shingle table.
    a = base.select(F.col(id_col).alias("id_a"), F.col("__hashes").alias("__ha"))
    b = base.select(F.col(id_col).alias("id_b"), F.col("__hashes").alias("__hb"))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("__shared", F.size(F.array_intersect("__ha", "__hb")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("__shared").cast("double")
                / (F.size("__ha") + F.size("__hb") - F.col("__shared")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def auto_simhash_bits(n_docs: int, max_hamming: int = 3) -> int:
    """Corpus-size-aware fingerprint width (round-6 verdict item: the
    toy default must not cliff for callers who never read the knob
    docs). Pigeonhole blocking buckets candidates on
    bits/(max_hamming+1)-bit chunks, so near-linear candidate growth
    needs the per-chunk bucket space 2^(bits/(k+1)) to keep pace with
    the corpus — i.e. bits ≈ (max_hamming+1)·⌈log₂ n⌉. Clamped to
    [SIMHASH_BITS, SIMHASH_MAX_BITS]: never narrower than the frozen
    30-bit oracle geometry, never past the positive-long packing
    limit (59 bits covers chunk spaces up to ~2¹⁴ at k=3 — ~10⁷ docs
    before buckets saturate again; past that, shard the corpus or
    lower max_hamming)."""
    import math

    want = (max_hamming + 1) * math.ceil(math.log2(max(n_docs, 2)))
    return max(SIMHASH_BITS, min(SIMHASH_MAX_BITS, want))


def simhash(
    df: DataFrame, id_col: str, text_col: str, bits: int | None = None
) -> DataFrame:
    """SimHash per doc: per-token polynomial hash → per-bit ±1 votes →
    sign bit-vector packed into a long. Token multiplicity counts
    (standard SimHash weighting by term frequency). Excludes
    ``InferFiltersFromGenerate`` for the whole session (see
    ``_tune_generate``).

    ``bits`` is the SCALE knob: pigeonhole blocking buckets candidates
    on bits/(k+1)-bit chunks, so the bucket space is 2^(bits/(k+1)) —
    256 buckets per chunk at 30 bits, which saturates around 10⁵ docs
    (measured at the 10× stress scale: candidate pairs grew 100× for
    10× docs, BENCH_NOTES round 5). Widening to 59 bits (a second
    independent rolling-hash stream supplies bits 30+) takes the chunk
    space to ~2¹⁵ and restores near-linear candidate growth. Note the
    semantics move with the width, as in standard SimHash practice:
    Hamming ≤ k over more bits is a sharper near-dup criterion.

    Default (``bits=None``): auto-derive the width from a corpus count
    (``auto_simhash_bits`` — one extra count job over the input) at its
    default blocking geometry (max_hamming=3). Fingerprints are only
    comparable at EQUAL widths (standard SimHash practice), so when
    combining bare ``simhash`` output with ``simhash_near_dup_pairs``
    at another ``max_hamming`` — whose auto width differs — pass the
    same explicit ``bits`` (or ``auto_simhash_bits(n, max_hamming)``)
    to both. Callers needing the frozen 30-bit oracle geometry pass
    ``bits=SIMHASH_BITS`` explicitly, as the registered queries do."""
    if bits is None:
        bits = auto_simhash_bits(df.count())
    if not 1 <= bits <= SIMHASH_MAX_BITS:
        raise ValueError(f"bits must be in [1, {SIMHASH_MAX_BITS}]")
    # scan_parallelism: the tokenize+hash explode and the per-bit vote
    # partial aggregation run map-side on df's partitioning (no-op at
    # real scale; votes are order-independent integer sums)
    tok = _tune_generate(scan_parallelism(df)).select(
        id_col, F.explode(tokens(text_col)).alias("__t")
    ).select(
        id_col,
        rolling_hash(F.col("__t")).alias("h"),
        *(
            [rolling_hash(F.col("__t"), 37, SIMHASH_MOD2).alias("h2")]
            if bits > SIMHASH_BITS
            else []
        ),
    )

    # Per-bit vote and fingerprint-reassembly expressions are built as
    # JVM-parsed SQL strings (r13 optimization round): the Column-API
    # form was one py4j round-trip per operator — ~1.0 s of pure driver
    # time per call at bits=59 (measured; the expr form is ~0.02 s).
    # Arithmetic is identical: same shiftright/&/CASE ops on the same
    # long-typed inputs, and the reassembly terms carry explicit L
    # suffixes so the sum is the same BIGINT the lit(1 << j) chain
    # produced (hash-identical at every width, frozen oracle included).
    # r14: all ``bits`` vote sums ride ONE struct-of-aggregates expr
    # instead of one F.expr + alias per bit (~120 py4j calls and a
    # 59-element _to_seq at bits=59; measured construct 0.27→0.15 s).
    # Values/schema are pinned identical by
    # test_simhash_expr_votes_match_column_api_reference; the only plan
    # delta is one extra Project over the aggregate (the struct-field
    # extraction), fused by whole-stage codegen — no new exchange.
    def bit_src(j: int) -> tuple[str, int]:
        return ("h", j) if j < SIMHASH_BITS else ("h2", j - SIMHASH_BITS)

    votes_sql = ", ".join(
        "sum(CASE WHEN (shiftright({src}, {off}) & 1) = 1 "
        "THEN 1 ELSE -1 END) AS v_{j}".format(
            src=bit_src(j)[0], off=bit_src(j)[1], j=j
        )
        for j in range(bits)
    )
    voted = tok.groupBy(id_col).agg(
        F.expr(f"struct({votes_sql})").alias("__vs")
    )
    sim = F.expr(
        " + ".join(
            f"(CASE WHEN __vs.v_{j} > 0 THEN {1 << j}L ELSE 0L END)"
            for j in range(bits)
        )
    )
    return voted.select(id_col, sim.cast("long").alias("simhash"))


def simhash_chunk_bounds(
    max_hamming: int, bits: int = SIMHASH_BITS
) -> list[tuple[int, int]]:
    """(start_bit, n_bits) for each of the max_hamming+1 pigeonhole
    chunks; lengths differ by at most one (30 bits / 4 chunks →
    8,8,7,7)."""
    n = max_hamming + 1
    base, rem = divmod(bits, n)
    bounds, start = [], 0
    for i in range(n):
        ln = base + (1 if i < rem else 0)
        bounds.append((start, ln))
        start += ln
    return bounds


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int,
    bits: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ k via pigeonhole
    chunk blocking — the 100 TB path, NOT an all-pairs filter.

    The 30-bit simhash splits into max_hamming+1 bit-chunks: a pair
    within Hamming ≤ k has ≤ k differing bits spread over k+1 chunks,
    so by pigeonhole at least one chunk matches EXACTLY. Candidates
    come from k+1 narrow equi-joins on (chunk_idx, chunk_value) —
    banding, same machinery as MinHash LSH — and are then verified with
    ``bit_count(xor) ≤ k``. Result set is identical to the brute-force
    filter (``simhash_all_pairs``, kept as the test-only cross-check),
    with recall 1.0 because the pigeonhole guarantee is exact, but the
    join never touches the |docs|² pair space.

    Candidate volume scales with bucket occupancy, 2^(bits/(k+1))
    buckets per chunk — the frozen 30-bit geometry saturates around
    10⁵ docs, so the DEFAULT (``bits=None``) auto-derives the width
    from a corpus count (``auto_simhash_bits`` with THIS call's
    ``max_hamming`` — the pigeonhole recall-1.0 guarantee holds at
    any width). Pass ``bits`` explicitly to pin a geometry, as the
    registered oracle query does with the frozen 30."""
    if bits is None:
        bits = auto_simhash_bits(df.count(), max_hamming)
    bounds = simhash_chunk_bounds(max_hamming, bits)

    def chunk_val(col: Column, j: int) -> Column:
        start, ln = bounds[j]
        return F.shiftright(col, start).bitwiseAND(F.lit((1 << ln) - 1))

    s = simhash(df, id_col, text_col, bits)
    chunks = F.array(
        *[
            F.struct(
                F.lit(i).alias("ck"),
                chunk_val(F.col("simhash"), i).alias("cv"),
            )
            for i in range(len(bounds))
        ]
    )
    blocks = s.select(
        id_col, "simhash", F.explode(chunks).alias("c")
    ).select(id_col, "simhash", F.col("c.ck").alias("ck"), F.col("c.cv").alias("cv"))
    a = blocks.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "ck", "cv"
    )
    b = blocks.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "ck", "cv"
    )
    # A pair matching on m chunks would surface m times; keep ONLY the
    # row from the FIRST matching chunk (no earlier chunk equal) — an
    # exactly-once guarantee from a per-row filter, saving the wide
    # distinct exchange over the whole candidate set.
    earlier_match = None
    for j in range(len(bounds)):
        cond = (F.col("ck") > j) & (
            chunk_val(F.col("sh_a"), j) == chunk_val(F.col("sh_b"), j)
        )
        earlier_match = cond if earlier_match is None else (earlier_match | cond)
    return (
        a.join(b, ["ck", "cv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(~earlier_match)
        .withColumn(
            "hamming",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_all_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int,
    bits: int | None = None,
) -> DataFrame:
    """Brute-force all-pairs Hamming filter — TEST-ONLY oracle baseline
    for ``simhash_near_dup_pairs`` (quadratic; never register as a
    query). ``bits=None`` auto-derives with the SAME formula and
    ``max_hamming`` as the blocked path, so default-vs-default
    comparisons always agree on geometry."""
    if bits is None:
        bits = auto_simhash_bits(df.count(), max_hamming)
    s = simhash(df, id_col, text_col, bits)
    a = s.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"))
    b = s.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "hamming",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def embedding_near_dup_pairs(
    df: DataFrame, id_col: str, vec_col: str, threshold: float
) -> DataFrame:
    """Embedding-cosine near-dup pairs (brute force) — TEST-ONLY oracle
    baseline for the scale path
    (``similarity.hyperplane_lsh_near_dup_pairs``); never registered as
    a query because the crossJoin is quadratic in the corpus. Norms are
    computed once per vector before the pair join — per pair only the
    dot remains."""
    from spotify_tracks_etl_portfolio_spark.functions import vec_dot, vec_norm_safe

    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        vec_norm_safe(vec_col).alias("na"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        vec_norm_safe(vec_col).alias("nb"),
    )
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine", F.round(vec_dot("va", "vb") / (F.col("na") * F.col("nb")), 6)
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def connected_components(
    edges: DataFrame,
    src: str,
    dst: str,
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over an undirected edge list by iterative
    min-label propagation: every node starts labeled with its own id;
    each round every node takes the min label among itself and its
    neighbors; fixpoint = each component labeled with its smallest
    node id. Returns ``(node, comp)``.

    This turns near-dup PAIRS into dedup GROUPS — the step that makes
    LSH output actionable (keep one canonical doc per component).

    Scale posture: one shuffle (join + groupBy on node) per round;
    rounds = graph diameter, and near-dup graphs are shallow (dup
    clusters are cliques or short chains), so 2–4 rounds in practice.
    ``localCheckpoint(eager=True)`` truncates the growing lineage each
    round — without it the plan doubles per iteration. For adversarial
    deep graphs (diameter > max_iter) the label path AUTO-SWITCHES to
    alternating large-star/small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond"), which converges in O(log n)
    rounds regardless of diameter — so the result is always minimal
    labels, never a truncated fixpoint.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = e.union(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    sym = sym.persist()
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for it in range(max_iter):
        nbr = sym.join(labels, sym["b"] == labels["node"]).select(
            sym["a"].alias("node"), F.col("comp")
        )
        # Convergence detection fused into the round (r13 optimization
        # round): each node's OLD label rides the union as a third
        # column (labels rows carry __old = comp; neighbor rows NULL),
        # so min(__old) recovers it in the SAME aggregation — the
        # changed set {node: new comp < old} is computed without the
        # former per-round labels⋈new_labels join+count job; the check
        # itself is an isEmpty() (take-1) over the checkpointed blocks.
        # Round 1 skips the check outright: any edge (a,b), a<b forces
        # node b's label to drop below b, so a graph with at least one
        # non-self-loop edge ALWAYS changes in round 1. Inputs already
        # at fixpoint (empty or self-loop-only edge lists) just run one
        # extra trivially-empty round — and in the degenerate
        # max_iter=1 + already-converged corner, fall through to the
        # star fallback, which returns the same (correct) labels via
        # the singleton restore below at the cost of a redundant star
        # pass. Same labels, same fixpoint as the joined formulation.
        new_labels = (
            labels.select(
                "node", "comp", F.col("comp").alias("__old")
            )
            .union(
                nbr.withColumn(
                    "__old",
                    F.lit(None).cast(labels.schema["comp"].dataType),
                )
            )
            .groupBy("node")
            .agg(
                F.min("comp").alias("comp"),
                F.min("__old").alias("__old"),
            )
            .localCheckpoint(eager=True)
        )
        labels = new_labels.select("node", "comp")
        if it > 0 and new_labels.filter(
            F.col("comp") < F.col("__old")
        ).isEmpty():
            break
    else:
        # no fixpoint within max_iter (diameter > max_iter): returning
        # the truncated labels would be silently non-minimal, so finish
        # the job with the diameter-independent star algorithm instead.
        comp, _ = star_connected_components(edges, src, dst)
        # star drops isolated/self-loop-only nodes; restore them from
        # the label universe as their own singleton components
        singletons = labels.select("node").join(
            comp.select("node"), "node", "left_anti"
        ).withColumn("comp", F.col("node"))
        sym.unpersist()
        return comp.union(singletons)
    sym.unpersist()
    return labels


def star_connected_components(
    edges: DataFrame, src: str, dst: str, max_iter: int = 50
) -> tuple[DataFrame, int]:
    """Connected components by alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — O(log n) rounds on ANY graph, including deep
    paths where min-label propagation needs diameter rounds.

    Each round is two narrow groupBy+join passes over the edge set:
    - large-star(u): every neighbor v > u re-points to
      m = min(N(u) ∪ {u});
    - small-star(u): every neighbor v ≤ u (plus u itself) re-points to
      m = min(N_small(u)).
    At fixpoint the edge set is a union of stars centered at each
    component's minimum node. Returns ``((node, comp), rounds)`` —
    rounds is exposed so tests can assert the O(log n) bound.
    """
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # large-star over symmetric neighborhoods
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("__mn"))
            .select("u", F.least("__mn", "u").alias("m"))
        )
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(
                F.greatest("v", "m").alias("u"), F.least("v", "m").alias("v")
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: key every edge on its larger endpoint
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(mins2, "u")
            .select(F.col("v").alias("x"), "m")
            .union(mins2.select(F.col("u").alias("x"), "m"))
            .filter(F.col("x") != F.col("m"))
            .select(
                F.greatest("x", "m").alias("u"), F.least("x", "m").alias("v")
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        converged = (
            small.exceptAll(e).union(e.exceptAll(small)).isEmpty()
        )
        e = small
        if converged:
            break
    # fixpoint edges are (node, component_min) stars; roots map to
    # themselves
    non_roots = e.select(F.col("u").alias("node"), F.col("v").alias("comp"))
    roots = (
        e.select(F.col("v").alias("node"))
        .distinct()
        .join(non_roots.select("node"), "node", "left_anti")
        .withColumn("comp", F.col("node"))
    )
    return non_roots.union(roots), rounds


def corpus_band_key() -> Column:
    """The single bucketable LSH blocking key: ``band|sig`` — injective
    (band is an int, sig never contains ``|``), so joining on ``bkey``
    is exactly the (band, sig) equi-join, expressed on ONE column so a
    persisted corpus band table can be BUCKETED on it and the serve
    join reads the corpus side with no exchange."""
    return F.concat_ws("|", F.col("band"), F.col("sig")).alias("bkey")


def corpus_minhash_artifacts(
    old_df: DataFrame, id_col: str, text_col: str, k: int = SHINGLE_K
) -> tuple[DataFrame, DataFrame]:
    """The two corpus-side MinHash serve artifacts, as DataFrames ready
    to persist (the nightly build of the cross-corpus near-dedup serve
    path): ``(bands, shingles)`` where ``bands`` is (id_old, bkey) —
    one row per (doc, band) — and ``shingles`` is (id_old, hashes) —
    the deduped shingle-hash array the exact-Jaccard verify reads.
    Persist both BUCKETED (bands on bkey, shingles on id_old) and every
    subsequent batch/micro-batch serve shuffles ONLY the batch side."""
    ob = shingle_hash_arrays(old_df, id_col, text_col, k)
    shingles = ob.select(
        F.col(id_col).alias("id_old"), F.col("__hashes").alias("hashes")
    )
    bands = minhash_band_rows(
        ob.select(id_col, *_signature_cols()), id_col
    ).select(F.col(id_col).alias("id_old"), corpus_band_key())
    return bands, shingles


def cross_corpus_near_dup_ids_served(
    new_df: DataFrame,
    corpus_bands: DataFrame,
    corpus_shingles: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    k: int = SHINGLE_K,
) -> DataFrame:
    """Ids of NEW-corpus docs that are near-dups (n-gram Jaccard ≥
    threshold) of ANY old-corpus doc, served from PRECOMPUTED corpus
    artifacts (:func:`corpus_minhash_artifacts`): ``corpus_bands``
    (id_old, bkey) and ``corpus_shingles`` (id_old, hashes).

    Scale shape (the point at 100 TB, where the corpus artifacts are
    nightly bucketed tables and new is one day's crawl): the new side
    reduces to band rows by pure projection, candidates come from a
    narrow bkey equi-join against the bucketed band table — never
    new×old, no corpus-side exchange — and the exact-Jaccard verify
    touches candidates only, fetching the corpus shingle array from
    the id_old-bucketed artifact (again no corpus-side exchange). The
    per-serve shuffles all scale with the BATCH, not the corpus —
    plan-gated by tests/test_plan_shapes.py::
    test_near_dedup_corpus_side_never_shuffles."""
    nb = shingle_hash_arrays(new_df, id_col, text_col, k).repartition(
        F.col(id_col)
    )
    nbands = minhash_band_rows(
        nb.select(id_col, *_signature_cols()), id_col
    ).select(F.col(id_col).alias("id_new"), corpus_band_key())
    cands = (
        nbands.join(corpus_bands, "bkey")
        .select("id_new", "id_old")
        .distinct()
    )
    a = nb.select(F.col(id_col).alias("id_new"), F.col("__hashes").alias("__ha"))
    b = corpus_shingles.select("id_old", F.col("hashes").alias("__hb"))
    return (
        cands.join(a, "id_new")
        .join(b, "id_old")
        .withColumn("__shared", F.size(F.array_intersect("__ha", "__hb")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("__shared").cast("double")
                / (F.size("__ha") + F.size("__hb") - F.col("__shared")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("id_new").alias(id_col))
        .distinct()
    )


def cross_corpus_near_dup_ids(
    new_df: DataFrame,
    old_df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    k: int = SHINGLE_K,
) -> DataFrame:
    """Ids of NEW-corpus docs that are near-dups (n-gram Jaccard ≥
    threshold) of ANY old-corpus doc — the near-dup twin of the exact
    fingerprint anti-join in incremental corpus dedup. Self-contained
    variant: derives the corpus band/shingle frames inline and
    delegates to :func:`cross_corpus_near_dup_ids_served` (identical
    math, identical rows); the registered queries serve the corpus
    side from the persisted bucketed artifacts instead."""
    bands, shingles = corpus_minhash_artifacts(old_df, id_col, text_col, k)
    return cross_corpus_near_dup_ids_served(
        new_df,
        bands.repartition(F.col("id_old")),
        shingles.repartition(F.col("id_old")),
        id_col,
        text_col,
        threshold,
        k,
    )


#: Tokens per passage for passage-level dedup. The synthetic corpus is
#: single-line, so fixed token blocks stand in for the newline splitter
#: a web corpus would use (C4/RefinedWeb line dedup); the operator shape
#: is identical either way: split → global first-occurrence window →
#: in-order reassembly.
PASSAGE_TOKENS = 16


def passage_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_tokens: int = PASSAGE_TOKENS,
) -> DataFrame:
    """Passage-level exact dedup with document reassembly (the C4-style
    line-dedup operator): split each doc into consecutive
    ``block_tokens``-token passages, keep only the globally FIRST
    occurrence of each distinct passage (lowest (id, position)), and
    rebuild each doc from its surviving passages in original order.

    Exactly two shuffles at any scale: one window partitioned by passage
    content (the dedup), one hash-agg by doc id (the reassembly) — no
    self-joins, no all-pairs anything. Docs whose every passage is a
    repeat disappear (same semantics as C4 dropping boilerplate-only
    pages).
    """
    from pyspark.sql import Window

    trimmed = F.trim(F.col(text_col))
    toks = F.when(trimmed == "", F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )
    nb = F.ceil(F.size(toks) / F.lit(block_tokens)).cast("int")
    blocks = F.when(
        nb >= 1,
        F.transform(
            F.sequence(F.lit(1), nb),
            lambda i: F.array_join(
                F.slice(toks, (i - F.lit(1)) * block_tokens + F.lit(1), block_tokens),
                " ",
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))

    # scan_parallelism (r13 optimization round): the block-build +
    # explode map phase inherits the scan's partitioning — rescue the
    # unsplittable-small-file layout (no-op at real scale; the window
    # + agg downstream are order-insensitive, answers bit-identical).
    # The ``totals`` projection below stays on the raw scan: it is one
    # cheap column expression per doc, not worth an exchange.
    ex = scan_parallelism(df).select(
        F.col(id_col), F.posexplode(blocks).alias("pos", "passage")
    )
    w = Window.partitionBy("passage").orderBy(
        F.col(id_col).asc(), F.col("pos").asc()
    )
    kept = (
        ex.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "passage"))),
                lambda s: s.passage,
            ),
            " ",
        ).alias("text_clean"),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
    )
    totals = df.select(F.col(id_col), nb.cast("long").alias("n_passages"))
    return rebuilt.join(totals, id_col).select(
        id_col, "text_clean", "n_passages", "n_kept"
    )


#: Window width (tokens) for exact-substring dedup. Any duplicated span
#: of >= this many tokens is detected EXACTLY (a length-L >= k duplicate
#: yields identical k-grams at every one of its L-k+1 offsets); shorter
#: repeats are invisible by design. 8 keeps the synthetic corpus
#: interesting; real pipelines use ~50 BPE tokens (Lee et al. 2021).
EXACT_SUBSTR_TOKENS = 8


def _stride1_kgrams(df: DataFrame, id_col: str, text_col: str, k: int):
    """(id, pos, kg): every overlapping k-token window of every doc,
    1-based start position, window re-joined with single spaces.
    Narrow (flatMap-shaped) — no shuffle beyond the small-scan rescue.
    Memory note: the window array is materialized per row before
    posexplode, a transient ~k× copy of the doc's text — row-local and
    bounded by the longest single doc, never by the corpus (at 100 TB
    the per-executor cost is max_doc_tokens · k · avg_token_len per
    concurrently-open row).

    scan_parallelism (r13 optimization round, guide §2.6/§6): the
    tokenize + window-build + explode is the heaviest map phase of
    every ExactSubstr consumer and it inherits the SCAN's partitioning
    — a single-file toy/stress corpus serialized the whole phase into
    1-2 tasks (measured: the bare explode over sf0.1 documents ran
    3.2 s on local[32]; ~0.3 s fanned out). Round-robin rescue only
    when input splits < cores — a NO-OP at production scale, and
    per-row-deterministic work feeding order-insensitive aggregations,
    so answers are bit-identical (same sanction as shingle_hash_arrays
    since r07)."""
    df = scan_parallelism(df)
    trimmed = F.trim(F.col(text_col))
    toks = F.when(trimmed == "", F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )
    n = F.size(toks)
    grams = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - F.lit(k) + F.lit(1)),
            lambda i: F.array_join(F.slice(toks, i, k), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return df.select(F.col(id_col), F.posexplode(grams).alias("pos0", "kg")).select(
        id_col, (F.col("pos0") + 1).alias("pos"), "kg"
    )


def exact_substring_dup_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = EXACT_SUBSTR_TOKENS,
    max_kgram_df: int | None = None,
) -> DataFrame:
    """Exact-substring duplicate spans (the ExactSubstr operator of Lee
    et al. 2021, "Deduplicating Training Data Makes Language Models
    Better"), re-expressed for a distributed engine: instead of a
    single-node suffix array, slide a stride-1 k-token window over every
    doc, keep the globally FIRST occurrence (lowest ``(id, pos)``) of
    each distinct window as canonical, flag every later occurrence, and
    merge flagged starts into maximal duplicated spans per doc.

    Guarantee: every duplicated span of >= k tokens is found exactly
    (each of its offsets contributes an identical k-gram whose first
    occurrence is elsewhere/earlier); nothing shorter than k is flagged.

    Returns ``(id, span_start, span_end, span_tokens)``, positions
    1-based inclusive over the whitespace token sequence.

    Scale shape (100 TB): the exploded relation is ~n_tokens rows — big
    but linear. The formulation (round-10 verdict item 4) is
    groupBy+join: ``min(struct(id, pos))`` + ``count`` per k-gram is a
    PARTIAL aggregation, so a corpus-wide boilerplate k-gram — the
    single-partition hot-key hazard of a ``Window.partitionBy(kg)``
    formulation — combines map-side and never materializes one giant
    partition, and the join back is AQE-skew-splittable. The
    duplicated-only filter (``__df > 1``) also shrinks the join's build
    side to just the k-grams that can flag anything. Two large shuffles
    (k-gram agg + per-doc island merge; the join reuses the k-gram
    partitioning). Measured premium (BENCH_NOTES round 10): ~2.2x over
    the window formulation at BOTH 1x and 10x — the cost is the second
    corpus explode + join-side pass, pure linear work that scales
    horizontally, bought against the window's hot-key straggler which
    does NOT. On real corpora the duplicated-only firsts side is small
    (10.5k of 225k k-grams at sf0.1) and AQE converts the join-back to
    a broadcast at runtime, sparing the second shuffle of the big side.
    At scale the shuffle key would be ``xxhash64(kg)`` (narrow rows,
    collision-checked); the literal string key here keeps the operator
    byte-exact against its SQL oracle.

    ``max_kgram_df``: the opt-in EXCLUSION knob (same contract as
    n-gram Jaccard's ``max_shingle_df``): k-grams occurring more than
    the cap are dropped from duplicate detection entirely —
    boilerplate that common is a filtering concern, not a dedup one
    (the C4 rationale). This CHANGES semantics above the cap, which is
    why it stays opt-in.
    """
    grams = _stride1_kgrams(df, id_col, text_col, k)
    firsts = grams.groupBy("kg").agg(
        F.min(F.struct(id_col, "pos")).alias("__first"),
        F.count(F.lit(1)).alias("__df"),
    )
    dup_only = F.col("__df") > 1
    keep = (
        dup_only
        if max_kgram_df is None
        else dup_only & (F.col("__df") <= max_kgram_df)
    )
    flagged = (
        grams.join(firsts.filter(keep), "kg")
        .filter(F.struct(id_col, "pos") != F.col("__first"))
        .select(id_col, "pos")
    )
    return _flagged_to_spans(flagged, id_col, k)


def _flagged_to_spans(flagged: DataFrame, id_col: str, k: int) -> DataFrame:
    """Merge flagged window-start positions ``(id, pos)`` into maximal
    spans per doc. Gaps-and-islands: spans all have width k, so starts
    p1 < p2 merge (overlap or touch) iff p2 - p1 <= k; a gap > k starts
    a new island. One per-doc window shuffle; the span agg reuses the
    doc partitioning (no further exchange)."""
    from pyspark.sql import Window

    w_doc = Window.partitionBy(id_col).orderBy("pos")
    islands = flagged.withColumn(
        "__brk",
        F.when(
            F.col("pos") - F.lag("pos").over(w_doc) <= F.lit(k), F.lit(0)
        ).otherwise(F.lit(1)),
    ).withColumn(
        "__island",
        F.sum("__brk").over(
            w_doc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        islands.groupBy(id_col, "__island")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + F.lit(k) - 1).cast("long").alias("span_end"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
    )


def cross_corpus_substring_spans(
    train: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    k: int = EXACT_SUBSTR_TOKENS,
) -> DataFrame:
    """Span-level benchmark decontamination: every >= k-token substring
    of a TRAIN doc that appears VERBATIM anywhere in the BENCH corpus,
    as maximal per-doc spans — the surgical complement to the
    whole-doc-flagging ``benchmark_decontamination`` (n-gram overlap
    counts): instead of dropping a contaminated doc, a pipeline can cut
    exactly the leaked spans and keep the rest.

    Returns ``(id, span_start, span_end, span_tokens)`` over train docs.

    Scale shape: the bench k-gram set is DISTINCT and broadcast (eval
    benchmarks are small by definition — if one ever isn't, drop the
    hint and it degrades to a shuffle semi-join); the train side streams
    through one left-semi join, so the only large shuffle is the per-doc
    island merge over flagged positions (output-sized, not corpus-sized).
    """
    bench_kg = F.broadcast(
        _stride1_kgrams(bench, id_col, text_col, k).select("kg").distinct()
    )
    flagged = (
        _stride1_kgrams(train, id_col, text_col, k)
        .join(bench_kg, "kg", "left_semi")
        .select(id_col, "pos")
    )
    return _flagged_to_spans(flagged, id_col, k)


def corpus_kgram_set(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    k: int = EXACT_SUBSTR_TOKENS,
) -> DataFrame:
    """DISTINCT k-gram set of a corpus — the persistable half of
    incremental ExactSubstr: build nightly, serve every new crawl batch
    (see :func:`incremental_substring_spans`). Membership is all a
    batch-vs-corpus span sweep needs (every corpus occurrence precedes
    the whole batch by definition, so first-occurrence ``(id, pos)``
    bookkeeping — which the within-corpus operator must track — drops
    out, and the artifact is one narrow column). One explode + one
    distinct (partial-agg, map-side combined); linear in corpus
    tokens, paid once per corpus version, not per batch."""
    return (
        _stride1_kgrams(corpus, id_col, text_col, k).select("kg").distinct()
    )


def incremental_substring_spans(
    batch: DataFrame,
    corpus_kgrams: DataFrame,
    id_col: str,
    text_col: str,
    k: int = EXACT_SUBSTR_TOKENS,
) -> DataFrame:
    """Incremental corpus-vs-corpus ExactSubstr: maximal >= k-token
    spans of NEW-BATCH docs that appear verbatim anywhere in an
    EXISTING corpus, served from the corpus's persisted distinct
    k-gram set (:func:`corpus_kgram_set`) — the span-level twin of
    ``incremental_dedup_documents`` (whole-doc exact) and
    ``near_dedup_new_vs_corpus`` (whole-doc MinHash): a daily crawl is
    swept against yesterday's corpus without ever re-exploding the
    corpus text.

    Returns ``(id, span_start, span_end, span_tokens)`` over batch docs
    — identical span semantics to :func:`cross_corpus_substring_spans`
    (which broadcasts a SMALL benchmark set; here the reference set is
    corpus-sized, so the semi-join is size-planned, never hinted).

    Scale shape (100 TB corpus, ~TB batch): per-batch cost is the batch
    explode (linear in BATCH tokens) + one semi-join against the stored
    k-gram column — the corpus side is a narrow single-column columnar
    scan of the artifact, not a re-tokenization of corpus text; the
    registered serve paths persist the artifact BUCKETED on ``kg``
    (``plans.extensions._corpus_kgram_bucketed`` →
    ``sources.catalog.create_bucketed_table``) so the semi-join plans
    with NO corpus-side exchange — only the batch side shuffles into
    the bucket layout (plan-gated: tests/test_plan_shapes.py::
    test_incremental_substring_corpus_side_never_shuffles). The only
    other shuffle is the per-doc island merge, sized by flagged batch
    positions (output-, not corpus-sized).
    """
    flagged = (
        _stride1_kgrams(batch, id_col, text_col, k)
        .join(corpus_kgrams.select("kg"), "kg", "left_semi")
        .select(id_col, "pos")
    )
    return _flagged_to_spans(flagged, id_col, k)


def exact_substring_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = EXACT_SUBSTR_TOKENS,
    max_kgram_df: int | None = None,
) -> DataFrame:
    """Rebuild each doc with its duplicated spans CUT (all but the
    globally-first occurrence of every >= k-token repeat removed — the
    destructive half of ExactSubstr). Docs reduced to zero tokens drop,
    like :func:`passage_dedup` dropping boilerplate-only pages.

    Returns ``(id, text_clean, n_tokens, kept_tokens)``.

    Plan: span detection as :func:`exact_substring_dup_spans`, spans
    collected per doc (bounded: <= n_tokens/k spans, in practice a
    handful), hash-joined back to the docs, and the cut is a JVM-side
    higher-order ``filter`` over token positions — no Python, no second
    explode of the corpus.
    """
    spans = exact_substring_dup_spans(df, id_col, text_col, k, max_kgram_df)
    return _cut_spans_rebuild(df, spans, id_col, text_col)


def _cut_spans_rebuild(
    df: DataFrame, spans: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Rebuild each doc of ``df`` with the token positions covered by
    ``spans`` (``(id, span_start, span_end, ...)``) removed — the
    shared destructive half of ExactSubstr (within-corpus and
    incremental variants). Spans collect per doc (bounded: one row per
    maximal span, <= n_tokens/k), hash-join back, and the cut is a
    JVM-side higher-order ``filter`` over token positions — no Python,
    no second explode. Docs cut to zero tokens drop."""
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    trimmed = F.trim(F.col(text_col))
    toks = F.when(trimmed == "", F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )
    joined = df.select(F.col(id_col), toks.alias("__toks")).join(
        per_doc, id_col, "left"
    )
    spans_arr = F.coalesce(
        F.col("__spans"),
        F.array().cast("array<struct<span_start:long,span_end:long>>"),
    )
    kept = F.filter(
        F.transform(
            F.col("__toks"), lambda t, i: F.struct(t.alias("t"), (i + 1).alias("p"))
        ),
        lambda s: ~F.exists(
            spans_arr,
            lambda sp: (s.p >= sp.span_start) & (s.p <= sp.span_end),
        ),
    )
    return (
        joined.select(
            F.col(id_col),
            F.size("__toks").cast("long").alias("n_tokens"),
            F.transform(kept, lambda s: s.t).alias("__kept"),
        )
        .withColumn("kept_tokens", F.size("__kept").cast("long"))
        .filter(F.col("kept_tokens") > 0)
        .select(
            id_col,
            F.array_join("__kept", " ").alias("text_clean"),
            "n_tokens",
            "kept_tokens",
        )
    )


def incremental_substring_dedup(
    batch: DataFrame,
    corpus_kgrams: DataFrame,
    id_col: str,
    text_col: str,
    k: int = EXACT_SUBSTR_TOKENS,
) -> DataFrame:
    """Destructive half of INCREMENTAL ExactSubstr: rebuild each
    new-batch doc with every >= k-token span that appears verbatim in
    the existing corpus CUT (the corpus copy is canonical — it was
    there first), serving the span sweep from the corpus's persisted
    distinct-k-gram set (:func:`corpus_kgram_set`). Batch docs that are
    entirely corpus-duplicated drop. This is the daily-crawl ingest
    shape: dedup today's crawl against the whole corpus at batch cost
    (see :func:`incremental_substring_spans` for the scale argument),
    then append only the novel text.

    Returns ``(id, text_clean, n_tokens, kept_tokens)`` over surviving
    batch docs."""
    spans = incremental_substring_spans(
        batch, corpus_kgrams, id_col, text_col, k
    )
    return _cut_spans_rebuild(batch, spans, id_col, text_col)
