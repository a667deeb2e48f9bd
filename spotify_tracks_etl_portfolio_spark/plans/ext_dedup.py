"""Dedup-family extension queries: exact/near/semantic dedup,
MinHash/SimHash/LSH, ExactSubstr spans and cuts, and decontamination."""



from __future__ import annotations



import os

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from spotify_tracks_etl_portfolio_spark.functions import rolling_hash, token_count

from spotify_tracks_etl_portfolio_spark.plans import register

from spotify_tracks_etl_portfolio_spark.sources.readers import (
    read_parquet_memo,
    read_parquet_table,
)

from spotify_tracks_etl_portfolio_spark.streaming.pipeline import (
    pinned_stream_session,
)

from spotify_tracks_etl_portfolio_spark.operators import dedup as _dd  # noqa: E402

from spotify_tracks_etl_portfolio_spark.operators import text as _tx  # noqa: E402

from spotify_tracks_etl_portfolio_spark.operators import similarity as _sim  # noqa: E402

from spotify_tracks_etl_portfolio_spark.plans._ext_shared import (  # noqa: E501
    JACCARD_THRESHOLD,
    _FP_SQL,
    _JACCARD_CTES,
    _QUALITY_EXPR,
    _SHINGLE_CTES,
    _XGRAM_CTES,
    _XS,
    _XSPAN_MERGE_CTES,
    _XSUBSTR_CTES,
    _artifact_root,
    _bucketed_table_name,
    _build_artifact_once,
    _kmeans_cent_ctes,
    _minhash_bands_sql,
    _minhash_sig_sql,
    _quality_ctes,
    _session_scratch,
    _sql_cos,
)



@register(
    "dedup_exact_documents",
    oracle="""
SELECT min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS n_copies
FROM documents
GROUP BY text
""",
    description="Exact dedup: hash-groupBy on content, keep lowest doc_id "
    "(one shuffle on the content hash; at scale group by xxhash64(text) "
    "instead of the full text)",
    tags=("extension", "dedup"),
)
def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    return _dd.exact_dedup(docs, "doc_id", "text")



@register(
    "document_fingerprints",
    oracle="""
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
                      list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
         (a, b) -> (a * 31 + b) % 1000000007
       ) AS fingerprint
FROM documents
""",
    description="Document fingerprint: polynomial rolling hash over the "
    "characters, overflow-free mod 1e9+7 (deterministic across engines)",
    tags=("extension", "text"),
)
def document_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spotify_tracks_etl_portfolio_spark.functions import scan_parallelism

    docs = read_parquet_table(spark, sf_dir, "documents")
    # scan_parallelism (r13 optimization round): the per-char rolling
    # hash is pure map-side work on the scan's partitioning — rescue
    # the unsplittable-small-file layout (no-op at real scale; the
    # fingerprint is per-row deterministic).
    return scan_parallelism(docs).select(
        "doc_id", rolling_hash("text").alias("fingerprint")
    )



#: Document-frequency cap on shingles entering the Jaccard self-join —
#: THE quadratic-fanout guard: a shingle shared by d docs contributes
#: d² candidate rows, so boilerplate shingles (headers, licenses)
#: dominate the join at scale. Shingles with df > cap are dropped from
#: BOTH the pair join and the per-doc set sizes (Spark and oracle
#: apply the same cap, so the query stays exactly checkable).
MAX_SHINGLE_DF = 100



#: Capped twin of _JACCARD_CTES: same shingle pipeline, but shingles
#: with document frequency > MAX_SHINGLE_DF are removed before sizes
#: and pairs — mirrors jaccard_pairs(max_shingle_df=...).
_JACCARD_CAPPED_CTES = f"""
{_SHINGLE_CTES},
rare AS (SELECT h FROM shh GROUP BY h HAVING count(*) <= {MAX_SHINGLE_DF}),
shc AS (SELECT s.doc_id, s.h FROM shh s JOIN rare r ON s.h = r.h),
csizes AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id),
cpairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
  FROM shc a JOIN shc b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
cjac AS (
  SELECT id_a, id_b,
         round(shared * 1.0 / (sa.n + sb.n - shared), 6) AS jaccard
  FROM cpairs
  JOIN csizes sa ON id_a = sa.doc_id
  JOIN csizes sb ON id_b = sb.doc_id
)
"""



@register(
    "ngram_jaccard_pairs",
    oracle=f"""
WITH {_JACCARD_CAPPED_CTES}
SELECT id_a, id_b, jaccard FROM cjac WHERE jaccard >= {JACCARD_THRESHOLD}
""",
    description="Near-dup dedup via n-gram (3-word shingle) Jaccard "
    "similarity: explode→hash→self-join with the document-frequency "
    f"fanout guard ENGAGED (max_shingle_df={MAX_SHINGLE_DF}; hot "
    "shingles are dropped via a left-semi join before the quadratic "
    "self-join — the oracle applies the identical cap)",
    tags=("extension", "dedup"),
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    return _dd.jaccard_pairs(
        docs, "doc_id", "text", JACCARD_THRESHOLD, max_shingle_df=MAX_SHINGLE_DF
    )



@register(
    "minhash_lsh_near_dups",
    oracle=f"""
WITH {_JACCARD_CTES},
{_minhash_sig_sql()},
{_minhash_bands_sql()},
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
)
SELECT c.id_a, c.id_b, j.jaccard
FROM cands c JOIN jac j ON c.id_a = j.id_a AND c.id_b = j.id_b
WHERE j.jaccard >= {JACCARD_THRESHOLD}
""",
    description=f"MinHash({_dd.NUM_MINHASHES})+LSH({_dd.LSH_BANDS}×{_dd.LSH_ROWS}) "
    "near-dup pipeline: signature agg → band-collision candidates → exact "
    "Jaccard verify of candidates only (the 100 TB path — no all-pairs join)",
    tags=("extension", "dedup", "lsh"),
)
def minhash_lsh_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    return _dd.minhash_near_dup_pairs(docs, "doc_id", "text", JACCARD_THRESHOLD)



def _simhash_sql(bits: int = _dd.SIMHASH_BITS) -> str:
    """Width-parametric SimHash replay. Bits 0..29 read the frozen
    (31, 1e9+7) rolling-hash stream; a width past 30 adds the second
    independent (37, 998244353) stream exactly as the engine does
    (``operators/dedup.py::simhash``, bits ≥ SIMHASH_BITS read ``h2``
    at offset j−30). ``bits`` is a static registration-time constant,
    so the per-bit expressions unroll into plain SQL the driver can
    replay — this is what makes the WIDE twin oracle-recordable while
    the n-dependent auto width is not."""

    def src(j: int) -> tuple[str, int]:
        if j < _dd.SIMHASH_BITS:
            return "h", j
        return "h2", j - _dd.SIMHASH_BITS

    votes = ", ".join(
        "sum(CASE WHEN ({0} >> {1}) & 1 = 1 THEN 1 ELSE -1 END) AS v_{2}".format(
            *src(j), j
        )
        for j in range(bits)
    )
    packed = " + ".join(
        f"(CASE WHEN v_{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for j in range(bits)
    )
    h2 = (
        f""",
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
                        list_transform(string_split(t, ''),
                                       c -> CAST(ascii(c) AS BIGINT))),
           (a, b) -> (a * 37 + b) % {_dd.SIMHASH_MOD2}) AS h2"""
        if bits > _dd.SIMHASH_BITS
        else ""
    )
    return f"""
tokh AS (
  SELECT doc_id,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
                        list_transform(string_split(t, ''),
                                       c -> CAST(ascii(c) AS BIGINT))),
           (a, b) -> (a * 31 + b) % 1000000007) AS h{h2}
  FROM (SELECT doc_id, unnest(w) AS t FROM toks)
),
votes AS (SELECT doc_id, {votes} FROM tokh GROUP BY doc_id),
simh AS (SELECT doc_id, {packed} AS simhash FROM votes)
"""



@register(
    "simhash_documents",
    oracle=f"""
WITH {_SHINGLE_CTES},
{_simhash_sql()}
SELECT doc_id, simhash FROM simh
""",
    description=f"{_dd.SIMHASH_BITS}-bit SimHash per document: per-token "
    "polynomial hash → per-bit ±1 votes → packed sign vector (one "
    "fixed-width agg; near-dup = Hamming ≤ k via bit_count(xor))",
    tags=("extension", "dedup"),
)
def simhash_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    # frozen 30-bit oracle geometry (bare callers get the auto width)
    return _dd.simhash(docs, "doc_id", "text", bits=_dd.SIMHASH_BITS)



@register(
    "simhash_near_dups",
    oracle=f"""
WITH {_SHINGLE_CTES},
{_simhash_sql()}
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM simh a JOIN simh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
""",
    description="SimHash near-dup pairs at Hamming ≤ 3 via pigeonhole "
    "chunk blocking: the 30-bit simhash splits into 4 bit-chunks, any "
    "pair within Hamming ≤ 3 matches at least one chunk exactly, so "
    "candidates come from narrow (chunk, value) equi-joins — identical "
    "result set to the all-pairs filter (recall 1.0 by pigeonhole), "
    "never touching the |docs|² pair space. NON-SCALE A/B CONTROL: "
    "this is the FROZEN TOY geometry, kept ONLY as the measured "
    "contrast against the registered SCALE plan (its 2^8 chunk buckets "
    "saturate past ~10^5 docs — 18.6x wall at 10x data, STRESS_r12, vs "
    "the wide twin's 5.0x). Never deploy this geometry at scale: use "
    "simhash_near_dups_wide; bare operator callers get the n-derived "
    "auto width, which leaves this geometry from ~10^5 docs up",
    tags=("extension", "dedup", "lsh", "toy-control"),
)
def simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    # frozen 30-bit oracle geometry (bare callers get the auto width)
    out = _dd.simhash_near_dup_pairs(
        docs, "doc_id", "text", max_hamming=3, bits=_dd.SIMHASH_BITS
    )
    return out.withColumn("hamming", F.col("hamming").cast("long"))



@register(
    "simhash_near_dups_wide",
    oracle=f"""
WITH {_SHINGLE_CTES},
{_simhash_sql(bits=_dd.SIMHASH_MAX_BITS)}
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM simh a JOIN simh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
""",
    description=f"SimHash near-dup pairs at the SCALE geometry: "
    f"{_dd.SIMHASH_MAX_BITS}-bit fingerprints (two independent rolling-"
    "hash streams) pigeonhole-blocked into 4 ~15-bit chunks — per-chunk "
    "bucket space ~2^15 vs the toy twin's 2^8, which is what keeps "
    "candidate growth near-linear past 10^5 docs (the toy geometry "
    "measured 18.4x wall / ~100x candidates at 10x data, BENCH_NOTES "
    "r5/r7). Same recall-1.0 pigeonhole guarantee; bits=59 is a static "
    "constant so the oracle unrolls and replays exactly",
    tags=("extension", "dedup", "lsh", "scale-twin"),
)
def simhash_near_dups_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    # frozen WIDE geometry: the registered scale plan (bare callers
    # get the n-derived auto width, which lands on these 59 bits from
    # ~10^5 docs up)
    out = _dd.simhash_near_dup_pairs(
        docs, "doc_id", "text", max_hamming=3, bits=_dd.SIMHASH_MAX_BITS
    )
    return out.withColumn("hamming", F.col("hamming").cast("long"))



EMB_NEAR_DUP_THRESHOLD = 0.4



#: Frozen geometry of the SPLIT-PATH semantic-dedup query: k=4 level-1
#: cells over the gate corpus leave every cell far past max_cell=32,
#: so the per-cell refinement level (the round-8 scale guard for
#: corpora beyond the SEMDEDUP_MAX_K clamp) is ACTIVE at sf0.01 and
#: therefore hash-gated, not just pytest-gated.
SPLIT_K1, SPLIT_ITERS, SPLIT_MAX_CELL, SPLIT_TARGET = 4, 2, 32, 16



def _semantic_split_oracle(
    k: int | str = SPLIT_K1,
    iters: int = SPLIT_ITERS,
    threshold: float = 0.9,
    max_cell: int = SPLIT_MAX_CELL,
    target: int = SPLIT_TARGET,
) -> str:
    """Replay of ``semantic_dedup`` INCLUDING its oversized-cell
    refinement: the level-1 unrolled k-means (``_kmeans_cent_ctes``,
    ``k="auto"`` replays ``auto_semdedup_k(n)`` as a scalar CTE), then
    — for cells past ``max_cell`` — a PER-CELL second Lloyd level
    whose CTEs are cell-parallel (seeds = the ⌈n_cell/target⌉
    smallest-id members via a per-cell row_number; assignment/means
    partition by cell), then the lower-id near-dup drop scoped to
    (cell, subcell). With NO oversized cell the split CTEs are empty
    and this reduces exactly to the unsplit semantics — which is why
    the MAIN recorded query also uses this oracle (round-8 review
    finding: the engine's default guard is armed, so an oracle without
    the split replay would diverge the moment a skewed cell crossed
    max_cell). Replayable because the per-cell sub-clustering is the
    SAME zero-RNG contract as the global one: 6-dp HALF_UP cosine
    assignment with smallest-subcell ties (numpy argmax picks the
    first max; SQL row_number orders sub ASC), 9-dp fixed-point
    integer mean sums (exact int64 on both engines), empty subcells
    keep their centroid. The engine side computes this in
    ``applyInPandas`` (``_subcluster_fn``) — cross-engine equality
    verified at sf0.001/0.01/0.1 before registration."""
    ctes = ["v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)"]
    if k == "auto":
        from spotify_tracks_etl_portfolio_spark.operators.similarity import (
            SEMDEDUP_MAX_K,
            SEMDEDUP_TARGET_CELL,
        )

        ctes.append(
            f"""kk AS MATERIALIZED (
  SELECT GREATEST(8, LEAST({SEMDEDUP_MAX_K},
    CAST(ceil(count(*) / {SEMDEDUP_TARGET_CELL}.0) AS BIGINT))) AS k
  FROM v
)"""
        )
        k = "SELECT k FROM kk"
    l1, _ = _kmeans_cent_ctes(k, iters)
    ctes.extend(l1)
    ctes.append("""cs AS MATERIALIZED (
  SELECT cell, count(*) AS n FROM final_asg GROUP BY cell
)""")
    ctes.append(f"""mem AS MATERIALIZED (
  SELECT f.vec_id, f.e, f.cell, cs.n
  FROM final_asg f JOIN cs USING (cell) WHERE cs.n > {max_cell}
)""")
    ctes.append(f"""sub0 AS MATERIALIZED (
  SELECT cell, rn - 1 AS sub, e AS c FROM (
    SELECT cell, e, n,
           row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS rn
    FROM mem)
  WHERE rn <= CAST(ceil(n / {target}.0) AS BIGINT)
)""")

    def sassign(cent: str, out: str) -> str:
        return f"""{out} AS MATERIALIZED (
  SELECT vec_id, cell, e, sub FROM (
    SELECT m.vec_id, m.cell, m.e, s.sub,
           row_number() OVER (PARTITION BY m.vec_id
                              ORDER BY {_sql_cos('m.e', 's.c')} DESC,
                                       s.sub ASC) AS rn
    FROM mem m JOIN {cent} s USING (cell)) WHERE rn = 1
)"""

    prev = "sub0"
    for t in range(1, iters + 1):
        ctes.append(sassign(prev, f"sasg{t}"))
        ctes.append(f"""smeans{t} AS MATERIALIZED (
  SELECT cell, sub, d,
         CAST(SUM(CAST(round(e[d] * 1000000000) AS BIGINT)) AS DOUBLE)
           / 1000000000.0 / count(*) AS m
  FROM sasg{t}, unnest(range(1, len(e) + 1)) AS t(d)
  GROUP BY cell, sub, d
)""")
        ctes.append(f"""scent{t} AS MATERIALIZED (
  SELECT p.cell, p.sub, coalesce(mm.c, p.c) AS c
  FROM {prev} p LEFT JOIN (
    SELECT cell, sub, list(m ORDER BY d) AS c FROM smeans{t}
    GROUP BY cell, sub
  ) mm USING (cell, sub)
)""")
        prev = f"scent{t}"
    ctes.append(sassign(prev, "sfinal"))
    ctes.append("""keyed AS MATERIALIZED (
  SELECT f.vec_id, f.e, f.cell, COALESCE(sf.sub, 0) AS subcell
  FROM final_asg f LEFT JOIN sfinal sf USING (vec_id)
)""")
    ctes.append(f"""dropped AS (
  SELECT DISTINCT a.vec_id
  FROM keyed a JOIN keyed b
    ON a.cell = b.cell AND a.subcell = b.subcell AND b.vec_id < a.vec_id
  WHERE {_sql_cos('a.e', 'b.e')} >= {threshold}
)""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT f.vec_id, CAST(f.cell AS BIGINT) AS cell,
       (d.vec_id IS NULL) AS is_kept
FROM keyed f LEFT JOIN dropped d USING (vec_id)
"""
    )



def _hyperplane_lsh_oracle(rows: int = _sim.HP_ROWS) -> str:
    """DuckDB replica of operators/similarity.py hyperplane LSH — planes
    regenerated from the SAME frozen constants; sign decisions via the
    same all-integer quantized dot product (exact on both engines
    regardless of reduction order). ``rows`` is the band width (the
    scale knob): plane count = HP_BANDS·rows, band = j // rows, bit
    position = j % rows — a static registration-time constant, so wide
    geometries replay exactly like the frozen 8-row one."""
    s = _sim
    n_planes = s.HP_BANDS * rows
    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
qv AS (
  SELECT vec_id, e,
         list_transform(e, x -> CAST(round(x * {s.HP_SCALE}) AS BIGINT)) AS q
  FROM v
),
planes AS (
  SELECT j, d,
         2 * ((j * {s.HP_A} + d * {s.HP_B} + {s.HP_C}) % {s.HP_M}) - {s.HP_M} AS w
  FROM range({n_planes}) pj(j), range({s.HP_DIM}) pd(d)
),
bits AS (
  SELECT vec_id, j, sum(q[d + 1] * w) >= 0 AS bit
  FROM qv, planes GROUP BY vec_id, j
),
bands AS (
  SELECT vec_id, j // {rows} AS band,
         sum(CASE WHEN bit THEN 1 << (j % {rows}) ELSE 0 END) AS sig
  FROM bits GROUP BY vec_id, j // {rows}
),
cands AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
)
SELECT c.id_a, c.id_b,
       round(list_dot_product(a.e, b.e) /
             (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))),
             6) AS cosine
FROM cands c JOIN v a ON c.id_a = a.vec_id JOIN v b ON c.id_b = b.vec_id
WHERE round(list_dot_product(a.e, b.e) /
            (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))),
            6) >= {EMB_NEAR_DUP_THRESHOLD}
"""



@register(
    "embedding_lsh_near_dups",
    oracle=_hyperplane_lsh_oracle(),
    description=f"Random-hyperplane LSH near-dup pairs: "
    f"{_sim.HP_PLANES} frozen sign-bit planes banded "
    f"{_sim.HP_BANDS}×{_sim.HP_ROWS}, band-collision candidates, exact "
    "cosine verify of candidates only — precision 1.0, recall "
    "probabilistic; the band equi-join never touches the |v|² pair "
    "space. This is the FROZEN TOY geometry (kept for recording "
    "continuity; its 2^8-bucket bands saturate past ~10^5 vectors) — "
    "the registered SCALE plan is the embedding_lsh_near_dups_wide "
    "twin, and bare operator callers get the n-derived auto width",
    tags=("extension", "dedup", "similarity", "lsh"),
)
def embedding_lsh_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_parquet_table(spark, sf_dir, "embeddings")
    # frozen 4×8 oracle geometry (bare callers get the auto width)
    return _sim.hyperplane_lsh_near_dup_pairs(
        emb, "vec_id", "embedding", EMB_NEAR_DUP_THRESHOLD, rows=_sim.HP_ROWS
    )



#: Band width of the registered WIDE hyperplane-LSH twin. 16 bits per
#: band → 2^16 buckets per band vs the frozen twin's 2^8: the toy
#: geometry's candidate set measured ~104× growth for 10× vectors
#: (saturated buckets, BENCH_NOTES r5) while rows=16 measured sublinear
#: (2.8× at sf1). Inside auto_hyperplane_rows' [8, 24] clamp and a
#: static constant, so the oracle replays it exactly.
HP_ROWS_WIDE = 16



@register(
    "embedding_lsh_near_dups_wide",
    oracle=_hyperplane_lsh_oracle(rows=HP_ROWS_WIDE),
    description=f"Random-hyperplane LSH near-dup pairs at the SCALE "
    f"geometry: {_sim.HP_BANDS}×{HP_ROWS_WIDE} sign-bit bands (2^16 "
    "buckets per band vs the toy twin's 2^8 — the width that keeps the "
    "band equi-join's candidate volume near-linear past 10^5 vectors; "
    "the toy width measured ~104x candidate growth at 10x data), exact "
    "cosine verify of candidates only. Precision 1.0; per-band recall "
    "for weaker pairs trades against bucket sparsity exactly as in "
    "standard LSH practice — exact twins still collide on every band",
    tags=("extension", "dedup", "similarity", "lsh", "scale-twin"),
)
def embedding_lsh_near_dups_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_parquet_table(spark, sf_dir, "embeddings")
    # frozen WIDE geometry: the registered scale plan (bare callers get
    # the n-derived auto width, which reaches 16 rows at ~10^5 vectors)
    return _sim.hyperplane_lsh_near_dup_pairs(
        emb, "vec_id", "embedding", EMB_NEAR_DUP_THRESHOLD, rows=HP_ROWS_WIDE
    )



@register(
    "near_dup_doc_clusters",
    oracle=f"""
WITH RECURSIVE {_JACCARD_CTES},
{_minhash_sig_sql()},
{_minhash_bands_sql()},
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
ndpairs AS (
  SELECT c.id_a, c.id_b
  FROM cands c JOIN jac j ON c.id_a = j.id_a AND c.id_b = j.id_b
  WHERE j.jaccard >= {JACCARD_THRESHOLD}
),
ccedges AS (
  SELECT id_a AS a, id_b AS b FROM ndpairs
  UNION ALL
  SELECT id_b AS a, id_a AS b FROM ndpairs
),
cc_nodes AS (SELECT DISTINCT a AS node FROM ccedges),
reach AS (
  SELECT node, node AS label FROM cc_nodes
  UNION
  SELECT e.b AS node, r.label FROM reach r JOIN ccedges e ON e.a = r.node
),
cccomp AS (SELECT node AS doc_id, min(label) AS cluster_id FROM reach GROUP BY node),
ccsizes AS (
  SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
  FROM cccomp GROUP BY cluster_id
)
SELECT c.doc_id, c.cluster_id,
       (c.doc_id = c.cluster_id) AS is_canonical,
       s.cluster_size
FROM cccomp c JOIN ccsizes s ON c.cluster_id = s.cluster_id
""",
    description="Near-dup pairs → dedup GROUPS: MinHash+LSH pairs fed "
    "through iterative min-label-propagation connected components "
    "(operators/dedup.py: connected_components) — cluster id = smallest "
    "doc_id in the component, is_canonical marks the one doc to keep. "
    "The DuckDB oracle recomputes the same components with a recursive "
    "CTE, so the iterative distributed algorithm is verified against a "
    "declarative fixpoint",
    tags=("extension", "dedup", "graph"),
)
def near_dup_doc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = read_parquet_table(spark, sf_dir, "documents")
    pairs = _dd.minhash_near_dup_pairs(docs, "doc_id", "text", JACCARD_THRESHOLD)
    comp = _dd.connected_components(pairs, "id_a", "id_b")
    w = Window.partitionBy("cluster_id")
    return (
        comp.select(
            F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id")
        )
        .withColumn("cluster_size", F.count(F.lit(1)).over(w).cast("long"))
        .withColumn("is_canonical", F.col("doc_id") == F.col("cluster_id"))
        .select("doc_id", "cluster_id", "is_canonical", "cluster_size")
    )



@register(
    "near_dup_quality_canonicals",
    oracle=f"""
WITH RECURSIVE {_JACCARD_CTES},
{_minhash_sig_sql()},
{_minhash_bands_sql()},
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
ndpairs AS (
  SELECT c.id_a, c.id_b
  FROM cands c JOIN jac j ON c.id_a = j.id_a AND c.id_b = j.id_b
  WHERE j.jaccard >= {JACCARD_THRESHOLD}
),
ccedges AS (
  SELECT id_a AS a, id_b AS b FROM ndpairs
  UNION ALL
  SELECT id_b AS a, id_a AS b FROM ndpairs
),
cc_nodes AS (SELECT DISTINCT a AS node FROM ccedges),
reach AS (
  SELECT node, node AS label FROM cc_nodes
  UNION
  SELECT e.b AS node, r.label FROM reach r JOIN ccedges e ON e.a = r.node
),
cccomp AS (SELECT node AS doc_id, min(label) AS cluster_id FROM reach GROUP BY node),
{_quality_ctes('documents').lstrip()},
q AS (SELECT doc_id, {_QUALITY_EXPR} AS quality_score FROM h),
cl AS (
  SELECT q.doc_id, COALESCE(c.cluster_id, q.doc_id) AS cluster_id,
         q.quality_score
  FROM q LEFT JOIN cccomp c USING (doc_id)
),
rk AS (
  SELECT *, row_number() OVER (PARTITION BY cluster_id
                               ORDER BY quality_score DESC, doc_id) AS rn
  FROM cl
)
SELECT doc_id, CAST(cluster_id AS BIGINT) AS cluster_id,
       (rn = 1) AS is_kept, quality_score
FROM rk
""",
    description="Quality-aware canonical selection over near-dup "
    "clusters — the curation policy layered on the dedup graph: within "
    "each MinHash-LSH connected component KEEP the HIGHEST-quality "
    "member (ties → smallest id) instead of the arbitrary min-id "
    "representative; unclustered docs are their own canonical. The "
    "quality argmax is a min_by over struct(-score, id) — one grouped "
    "aggregation, no per-cluster sort; the whole composition "
    "(banded LSH → exact-Jaccard verify → iterative connected "
    "components → quality formula → argmax) is oracle-checked "
    "end-to-end against a recursive-CTE fixpoint",
    tags=("extension", "dedup", "curation", "graph"),
)
def near_dup_quality_canonicals(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    pairs = _dd.minhash_near_dup_pairs(
        docs, "doc_id", "text", JACCARD_THRESHOLD
    )
    comp = _dd.connected_components(pairs, "id_a", "id_b")
    scored = _tx.add_quality(docs, "text", "quality_score").select(
        "doc_id", "quality_score"
    )
    clustered = (
        scored.join(comp, scored.doc_id == comp.node, "left")
        .select(
            "doc_id",
            F.coalesce("comp", "doc_id").alias("cluster_id"),
            "quality_score",
        )
    )
    best = clustered.groupBy("cluster_id").agg(
        F.min_by(
            "doc_id",
            F.struct(
                (-F.col("quality_score")).alias("nq"), F.col("doc_id")
            ),
        ).alias("__keep_id")
    )
    return clustered.join(best, "cluster_id").select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("__keep_id")).alias("is_kept"),
        "quality_score",
    )



@register(
    "benchmark_decontamination",
    oracle=f"""
WITH {_SHINGLE_CTES},
bench AS (SELECT DISTINCT h FROM shh WHERE doc_id % 10 = 0)
SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shared_shingles
FROM shh s JOIN bench b ON s.h = b.h
WHERE s.doc_id % 10 <> 0
GROUP BY s.doc_id
""",
    description="Benchmark decontamination (the eval-leakage gate every "
    "LLM training pipeline needs): training docs sharing any word "
    "n-gram with the benchmark set (doc_id % 10 = 0 stands in for the "
    "held-out benchmark) are flagged with their overlap count; the "
    "clean training set is the anti-join complement. Scale posture: the "
    "benchmark shingle set is tiny and broadcast; the training side "
    "streams through one equi-join on the shingle hash plus a narrow "
    "per-doc count — never a doc×doc comparison",
    tags=("extension", "curation", "dedup"),
)
def benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    sh = _dd.exploded_shingle_hashes(docs, "doc_id", "text")
    bench = (
        sh.filter(F.col("doc_id") % 10 == 0).select("h").distinct()
    )
    train = sh.filter(F.col("doc_id") % 10 != 0)
    return (
        train.join(F.broadcast(bench), "h")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
    )



@register(
    "incremental_dedup_documents",
    oracle=f"""
WITH fp AS (SELECT doc_id, {_FP_SQL} AS fingerprint FROM documents)
SELECT b.doc_id, b.fingerprint
FROM fp b
WHERE b.doc_id % 2 = 1
  AND NOT EXISTS (
    SELECT 1 FROM fp c
    WHERE c.doc_id % 2 = 0 AND c.fingerprint = b.fingerprint
  )
""",
    description="Incremental corpus dedup: an incoming batch (odd doc_ids "
    "stand in for 'new') anti-joins the existing corpus (even doc_ids) on "
    "the content fingerprint — only genuinely new content survives. The "
    "daily-ingest shape at 100 TB: the corpus side is a narrow "
    "(fingerprint-only) table, the anti join shuffles both sides once on "
    "the hash; with the corpus bucketed on fingerprint the shuffle "
    "disappears entirely",
    tags=("extension", "dedup", "curation"),
)
def incremental_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents").select(
        "doc_id", rolling_hash("text").alias("fingerprint")
    )
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    corpus = docs.filter(F.col("doc_id") % 2 == 0).select("fingerprint")
    return batch.join(corpus, "fingerprint", "left_anti").select(
        "doc_id", "fingerprint"
    )



@register(
    "semantic_dedup_embeddings",
    oracle=_semantic_split_oracle(
        k="auto",
        iters=3,
        threshold=0.9,
        max_cell=_sim.SEMDEDUP_SPLIT_CELL,
        target=_sim.SEMDEDUP_TARGET_CELL,
    ),
    description="SemDeDup-style semantic dedup (arXiv:2303.09540): "
    "deterministic k-means clusters the embedding space, then within "
    "each cluster every vector with a lower-id cosine>=0.9 neighbor is "
    "dropped — pairwise work scoped to cells (n²/k, the SemDeDup design "
    "point), exact Column-math verify, no RNG so re-runs drop the "
    "identical set. The RECORDED geometry is the scale-safe auto "
    "k = auto_semdedup_k(n) ∝ n (round-7 verdict item 1): cells stay "
    "~512 vectors, so the per-cell quadratic term stays ~n·512 as the "
    "corpus grows, and past 64 cells assignment routes through the "
    "two-level coarse-quantizer probe (~n·√k instead of n·k). Fully "
    "oracle-checked: the auto-k closed form replays as a scalar CTE "
    "and the zero-RNG pipeline (seeded Lloyd's, order-independent "
    "DECIMAL-mean update, 6-dp assignment, within-cell verify) as an "
    "unrolled DuckDB CTE chain — INCLUDING the round-8 oversized-cell "
    "guard (the oracle replays the per-cell refinement level, which "
    "reduces to the unsplit semantics whenever no cell exceeds "
    "SEMDEDUP_SPLIT_CELL, so engine and oracle agree under any skew). "
    "Extra pytest gates: planted duplicates "
    "drop, soundness vs global brute force. The k-means centroids are "
    "a PERSISTED model artifact (same pattern as the IVF index / PQ "
    "codebooks): the first call in a session trains and publishes "
    "them, later calls reuse — zero-RNG training means the artifact "
    "changes the cost, never the answer.",
    tags=("extension", "similarity", "dedup"),
)
def semantic_dedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_parquet_table(spark, sf_dir, "embeddings")
    # the auto-k geometry IS the recorded plan (k ∝ n, scale-safe);
    # one count derives k — the artifact key pins the derived geometry
    # alongside the data so a different (k, iters) could never serve a
    # stale model
    k = _sim.auto_semdedup_k(emb.count())
    root = _artifact_root(
        spark, "semdedup_cents", f"{os.path.realpath(sf_dir)}|k={k}|iters=3"
    )
    _build_artifact_once(
        root,
        "centroids",
        lambda tmp: _sim.kmeans_centroids(
            emb, "vec_id", "embedding", k=k, iters=3
        )
        .coalesce(1)
        .write.parquet(f"{tmp}/centroids"),
    )
    cents = read_parquet_memo(spark, f"{root}/centroids")
    return _sim.semantic_dedup(
        emb, "vec_id", "embedding", threshold=0.9, centroids=cents
    )



@register(
    "semantic_dedup_split_cells",
    oracle=_semantic_split_oracle(threshold=0.9),
    description="SemDeDup with the oversized-cell refinement ACTIVE "
    f"(round-8 scale guard): k={SPLIT_K1} level-1 cells leave every "
    f"cell past max_cell={SPLIT_MAX_CELL}, so each cell sub-clusters "
    f"into ⌈|cell|/{SPLIT_TARGET}⌉ subcells via the per-cell "
    "deterministic Lloyd (applyInPandas, one task per oversized cell) "
    "and the near-dup drop scopes to (cell, subcell). This is the "
    "guard that keeps the verify ~n·target_cell past the "
    "SEMDEDUP_MAX_K clamp (n ≳ 2M, where cells would otherwise grow "
    "unboundedly and the per-cell self-join would go quadratic: "
    "measured 4.0× at sf3 with forced engagement, BENCH_NOTES r8). "
    "Registered with deliberately small thresholds so the split path "
    "is exercised and HASH-CHECKED at the sf0.01 gate — the oracle "
    "replays the per-cell second Lloyd level as cell-parallel SQL "
    "(zero-RNG, HALF_UP rounding parity pinned by pytest).",
    tags=("extension", "similarity", "dedup", "scale-twin"),
)
def semantic_dedup_split_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_parquet_table(spark, sf_dir, "embeddings")
    return _sim.semantic_dedup(
        emb,
        "vec_id",
        "embedding",
        threshold=0.9,
        k=SPLIT_K1,
        iters=SPLIT_ITERS,
        max_cell=SPLIT_MAX_CELL,
        target_cell=SPLIT_TARGET,
    )



#: Cross-corpus semantic-dedup demo split: the first SEMX_NEW_MAX ids
#: are "today's crawl", the rest are the existing training corpus.
#: Threshold deliberately at the LSH near-dup level (0.4) so the gate
#: corpus produces true positives, exercising both flag values.
SEMX_NEW_MAX = 100



SEMX_THRESHOLD = 0.4



def _semantic_cross_corpus_oracle() -> str:
    """Replay of ``semantic_dedup_new_vs_corpus``: k-means trained on
    the CORPUS side only (auto-k from the corpus count as a scalar
    CTE), both sides assigned by the same 6-dp argmax, then a
    cell-scoped new×corpus cosine check — deterministic end-to-end,
    the same zero-RNG replay contract as the in-corpus SemDeDup."""
    from spotify_tracks_etl_portfolio_spark.operators.similarity import (
        SEMDEDUP_MAX_K,
        SEMDEDUP_TARGET_CELL,
    )

    ctes = [
        "v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)",
        f"corp AS (SELECT vec_id, e FROM v WHERE vec_id >= {SEMX_NEW_MAX})",
        f"newv AS (SELECT vec_id, e FROM v WHERE vec_id < {SEMX_NEW_MAX})",
        f"""kk AS MATERIALIZED (
  SELECT GREATEST(8, LEAST({SEMDEDUP_MAX_K},
    CAST(ceil(count(*) / {SEMDEDUP_TARGET_CELL}.0) AS BIGINT))) AS k
  FROM corp
)""",
    ]
    cent_ctes, final_cent = _kmeans_cent_ctes(
        "SELECT k FROM kk", 3, src="corp"
    )
    ctes.extend(cent_ctes)
    ctes.append(f"""new_asg AS MATERIALIZED (
  SELECT vec_id, e, cell FROM (
    SELECT n.vec_id, n.e, ct.cell,
           row_number() OVER (PARTITION BY n.vec_id
                              ORDER BY {_sql_cos('n.e', 'ct.c')} DESC,
                                       ct.cell ASC) AS rn
    FROM newv n, {final_cent} ct) WHERE rn = 1
)""")
    ctes.append(f"""dups AS (
  SELECT DISTINCT n.vec_id
  FROM new_asg n JOIN final_asg o ON n.cell = o.cell
  WHERE {_sql_cos('n.e', 'o.e')} >= {SEMX_THRESHOLD}
)""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT n.vec_id, CAST(n.cell AS BIGINT) AS cell,
       (d.vec_id IS NOT NULL) AS is_dup
FROM new_asg n LEFT JOIN dups d USING (vec_id)
"""
    )



@register(
    "semantic_dedup_new_vs_corpus",
    oracle=_semantic_cross_corpus_oracle(),
    description="Cross-corpus SEMANTIC dedup — the SemDeDup twin of "
    "the MinHash near_dedup_new_vs_corpus and the "
    "continuous-ingestion serving shape: flag every new-batch vector "
    "with a same-cell corpus vector at cosine ≥ "
    f"{SEMX_THRESHOLD}. Centroids train on the CORPUS only (auto-k "
    "from the corpus count; at 100 TB they are the persisted nightly "
    "model and the batch just assigns), both sides assign through the "
    "Arrow probe, and the verify is a cell-scoped new×corpus "
    "equi-join (~|new|·target_cell pairs under auto-k) — never "
    "|new|×|corpus|. Zero-RNG end-to-end, so the whole pipeline "
    "(corpus-trained Lloyd, dual assignment, cell-scoped verify) "
    "replays as one DuckDB CTE chain and the query is hash-checked.",
    tags=("extension", "similarity", "dedup"),
)
def semantic_dedup_new_vs_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_parquet_table(spark, sf_dir, "embeddings")
    new = emb.filter(F.col("vec_id") < SEMX_NEW_MAX)
    corpus = emb.filter(F.col("vec_id") >= SEMX_NEW_MAX)
    return _sim.semantic_dedup_new_vs_corpus(
        new, corpus, "vec_id", "embedding", threshold=SEMX_THRESHOLD
    )



@register(
    "semantic_dedup_new_vs_corpus_served",
    # the persisted model is zero-RNG, so the artifact changes the
    # COST, never the answer — same oracle as the per-call trainer,
    # the exact contract embedding_ivf_index_topk pins for the IVF
    # index (identical-answer proof via shared oracle + hash gate)
    oracle=_semantic_cross_corpus_oracle(),
    description="Cross-corpus semantic dedup SERVED from a persisted "
    "model artifact (round-9 verdict item 3): the corpus-trained "
    "k-means centroids are built ONCE per (session, sf_dir, geometry) "
    "and published as an on-disk artifact (the semdedup_cents / "
    "ivf_index pattern), then the batch query just loads them and "
    "assigns — the actual continuous-ingestion serving shape "
    "semantic_dedup_new_vs_corpus's docstring advertises (nightly "
    "model, per-batch assignment; training is NOT on the batch path). "
    "Zero-RNG training means the artifact changes the cost, never the "
    "answer: this query shares the per-call trainer's oracle verbatim "
    "and must produce the identical hash (artifact-reuse equality also "
    "pytest-pinned). The artifact key pins the derived auto-k geometry "
    "next to the data so a different (k, iters) can never serve a "
    "stale model.",
    tags=("extension", "similarity", "dedup", "artifact"),
)
def semantic_dedup_new_vs_corpus_served(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = read_parquet_table(spark, sf_dir, "embeddings")
    new = emb.filter(F.col("vec_id") < SEMX_NEW_MAX)
    corpus = emb.filter(F.col("vec_id") >= SEMX_NEW_MAX).localCheckpoint(
        eager=False
    )
    # auto-k derives from the CORPUS count (the cells must cover the
    # corpus, not the batch) — computed here so the artifact key pins
    # the derived geometry, the semdedup_cents convention
    k = _sim.auto_semdedup_k(corpus.count())
    root = _artifact_root(
        spark,
        "semx_cents",
        f"{os.path.realpath(sf_dir)}|new<{SEMX_NEW_MAX}|k={k}|iters=3",
    )
    _build_artifact_once(
        root,
        "centroids",
        lambda tmp: _sim.kmeans_centroids(
            corpus, "vec_id", "embedding", k=k, iters=3
        )
        .coalesce(1)
        .write.parquet(f"{tmp}/centroids"),
    )
    cents = read_parquet_memo(spark, f"{root}/centroids")
    return _sim.semantic_dedup_new_vs_corpus(
        new,
        corpus,
        "vec_id",
        "embedding",
        threshold=SEMX_THRESHOLD,
        centroids=cents,
    )



@register(
    "near_dup_keep_best_quality",
    oracle=f"""
WITH RECURSIVE {_JACCARD_CTES},
{_minhash_sig_sql()},
{_minhash_bands_sql()},
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
ndpairs AS (
  SELECT c.id_a, c.id_b
  FROM cands c JOIN jac j ON c.id_a = j.id_a AND c.id_b = j.id_b
  WHERE j.jaccard >= {JACCARD_THRESHOLD}
),
ccedges AS (
  SELECT id_a AS a, id_b AS b FROM ndpairs
  UNION ALL
  SELECT id_b AS a, id_a AS b FROM ndpairs
),
cc_nodes AS (SELECT DISTINCT a AS node FROM ccedges),
reach AS (
  SELECT node, node AS label FROM cc_nodes
  UNION
  SELECT e.b AS node, r.label FROM reach r JOIN ccedges e ON e.a = r.node
),
cccomp AS (SELECT node AS doc_id, min(label) AS cluster_id FROM reach GROUP BY node),
alldocs AS (
  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN cccomp c ON d.doc_id = c.doc_id
),
{_quality_ctes('documents')},
qq AS (SELECT doc_id, {_QUALITY_EXPR} AS q FROM h),
jj AS (
  SELECT a.cluster_id, a.doc_id, qq.q
  FROM alldocs a JOIN qq ON a.doc_id = qq.doc_id
),
rr AS (
  SELECT *, row_number() OVER (PARTITION BY cluster_id
                               ORDER BY q DESC, doc_id) AS rn,
         count(*) OVER (PARTITION BY cluster_id) AS csize
  FROM jj
)
SELECT cluster_id, doc_id AS kept_doc_id, q AS kept_quality,
       CAST(csize AS BIGINT) AS cluster_size
FROM rr WHERE rn = 1
""",
    description="Quality-aware canonical selection — the production "
    "dedup policy (keep the BEST copy, not the lowest id): MinHash+LSH "
    "near-dup pairs → connected components → per-cluster argmax of the "
    "quality score (ties to smaller doc_id); singleton docs are their "
    "own canonical via the left join. Composes three operator families "
    "in one Catalyst plan, and the whole composition — banding, "
    "clustering fixpoint, quality formula, argmax — is hash-checked "
    "against a single declarative oracle (recursive CTE + window)",
    tags=("extension", "dedup", "curation", "pipeline"),
)
def near_dup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = read_parquet_table(spark, sf_dir, "documents")
    pairs = _dd.minhash_near_dup_pairs(docs, "doc_id", "text", JACCARD_THRESHOLD)
    comp = _dd.connected_components(pairs, "id_a", "id_b")
    labeled = (
        _tx.add_quality(docs, "text", "q")
        .join(comp, F.col("doc_id") == comp.node, "left")
        .select(
            "doc_id",
            F.coalesce("comp", "doc_id").alias("cluster_id"),
            "q",
        )
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("q"), F.asc("doc_id"))
    return (
        labeled.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "cluster_size",
            F.count(F.lit(1)).over(Window.partitionBy("cluster_id")).cast("long"),
        )
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("kept_doc_id"),
            F.col("q").alias("kept_quality"),
            "cluster_size",
        )
    )



def _hyperplane_pairs_ctes() -> str:
    """Hyperplane-LSH candidate-pair CTE chain with e-prefixed names (no
    collisions with the MinHash block when both live in one WITH) —
    regenerated from the SAME frozen constants as operators/similarity."""
    s = _sim
    return f"""
ev AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
eqv AS (
  SELECT vec_id, e,
         list_transform(e, x -> CAST(round(x * {s.HP_SCALE}) AS BIGINT)) AS q
  FROM ev
),
eplanes AS (
  SELECT j, d,
         2 * ((j * {s.HP_A} + d * {s.HP_B} + {s.HP_C}) % {s.HP_M}) - {s.HP_M} AS w
  FROM range({s.HP_PLANES}) pj(j), range({s.HP_DIM}) pd(d)
),
ebits AS (
  SELECT vec_id, j, sum(q[d + 1] * w) >= 0 AS bit
  FROM eqv, eplanes GROUP BY vec_id, j
),
ebands AS (
  SELECT vec_id, j // {s.HP_ROWS} AS band,
         sum(CASE WHEN bit THEN 1 << (j % {s.HP_ROWS}) ELSE 0 END) AS sig
  FROM ebits GROUP BY vec_id, j // {s.HP_ROWS}
),
ecands AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM ebands a JOIN ebands b
    ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
),
epairs AS (
  SELECT c.id_a, c.id_b
  FROM ecands c JOIN ev a ON c.id_a = a.vec_id JOIN ev b ON c.id_b = b.vec_id
  WHERE round(list_dot_product(a.e, b.e) /
              (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))),
              6) >= {EMB_NEAR_DUP_THRESHOLD}
)"""



@register(
    "ensemble_near_dups",
    oracle=f"""
WITH {_JACCARD_CTES},
{_minhash_sig_sql()},
{_minhash_bands_sql()},
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
tpairs AS (
  SELECT c.id_a, c.id_b
  FROM cands c JOIN jac j ON c.id_a = j.id_a AND c.id_b = j.id_b
  WHERE j.jaccard >= {JACCARD_THRESHOLD}
),
{_hyperplane_pairs_ctes()},
unioned AS (
  SELECT id_a, id_b, 'text_minhash' AS signal FROM tpairs
  UNION ALL
  SELECT id_a, id_b, 'embedding_lsh' AS signal FROM epairs
)
SELECT id_a, id_b,
       array_to_string(list_sort(list_distinct(list(signal))), ',') AS signals,
       CAST(count(DISTINCT signal) AS BIGINT) AS n_signals
FROM unioned GROUP BY id_a, id_b
""",
    description="Ensemble near-dup detection — production pipelines "
    "union MULTIPLE dedup signals: MinHash-LSH over the text and "
    "hyperplane-LSH over the embedding (doc_id and vec_id share the id "
    "space) merge into one pair list with sorted signal provenance and "
    "agreement count. Both branches are the scale-safe banded paths; "
    "the union adds one narrow pair-keyed aggregation. The full "
    "two-modality composition is hash-checked against a single oracle",
    tags=("extension", "dedup", "similarity", "lsh", "pipeline"),
)
def ensemble_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    emb = read_parquet_table(spark, sf_dir, "embeddings")
    text_pairs = _dd.minhash_near_dup_pairs(
        docs, "doc_id", "text", JACCARD_THRESHOLD
    ).select("id_a", "id_b", F.lit("text_minhash").alias("signal"))
    emb_pairs = _sim.hyperplane_lsh_near_dup_pairs(
        emb, "vec_id", "embedding", EMB_NEAR_DUP_THRESHOLD, rows=_sim.HP_ROWS
    ).select("id_a", "id_b", F.lit("embedding_lsh").alias("signal"))
    return (
        text_pairs.unionByName(emb_pairs)
        .groupBy("id_a", "id_b")
        .agg(
            F.array_join(F.sort_array(F.collect_set("signal")), ",").alias(
                "signals"
            ),
            F.countDistinct("signal").alias("n_signals"),
        )
    )



_PB = _dd.PASSAGE_TOKENS



@register(
    "passage_dedup_documents",
    oracle=f"""
WITH tb AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(trim(text), '\\s+') END AS w
  FROM documents
),
blk AS (
  SELECT doc_id, i AS pos,
         array_to_string(w[((i-1)*{_PB}+1):(i*{_PB})], ' ') AS passage
  FROM tb, unnest(range(1, CAST(ceil(len(w) / {_PB}.0) AS BIGINT) + 1)) AS t(i)
),
keep AS (
  SELECT doc_id, pos, passage,
         row_number() OVER (PARTITION BY passage ORDER BY doc_id, pos) AS rn
  FROM blk
),
np AS (SELECT doc_id, CAST(ceil(len(w) / {_PB}.0) AS BIGINT) AS n_passages FROM tb)
SELECT k.doc_id,
       string_agg(k.passage, ' ' ORDER BY k.pos) AS text_clean,
       any_value(np.n_passages) AS n_passages,
       CAST(count(*) AS BIGINT) AS n_kept
FROM keep k JOIN np USING (doc_id)
WHERE k.rn = 1
GROUP BY k.doc_id
""",
    description=f"Passage-level exact dedup with reassembly (C4/"
    f"RefinedWeb line-dedup shape over {_PB}-token blocks): global "
    "first-occurrence window keyed on passage content, then in-order "
    "per-doc rebuild — exactly two shuffles (window on passage, agg on "
    "doc id) at any corpus size; boilerplate passages are dropped "
    "everywhere but their first occurrence, never via pairwise joins",
    tags=("extension", "dedup"),
)
def passage_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    return _dd.passage_dedup(docs, "doc_id", "text")



@register(
    "exact_substring_dup_spans",
    oracle=f"""
WITH {_XSUBSTR_CTES}
SELECT doc_id, span_start, span_end,
       span_end - span_start + 1 AS span_tokens
FROM spans
""",
    description=f"ExactSubstr span detection (Lee et al. 2021) without "
    f"the suffix array: stride-1 {_XS}-token windows, global "
    "first-occurrence kept canonical via a PARTIAL-AGG struct-min "
    "groupBy on window content + join back (the round-10 default — "
    "bit-identical to the window formulation it replaced, but a "
    "corpus-wide boilerplate k-gram combines map-side instead of "
    "landing on one window partition; plan-gated: no kg-keyed window, "
    "partial aggregation present), later occurrences merged per doc "
    "into maximal duplicated spans (gaps-and-islands). Every >= "
    "k-token duplicate is found exactly; two big shuffles total, both "
    "linear in corpus tokens — at 100 TB the shuffle key becomes "
    "xxhash64(kg); max_kgram_df stays the opt-in boilerplate "
    "EXCLUSION knob (C4 rationale), no longer a formulation switch",
    tags=("extension", "dedup"),
)
def exact_substring_dup_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    return _dd.exact_substring_dup_spans(docs, "doc_id", "text")



@register(
    "exact_substring_dedup_documents",
    oracle=f"""
WITH {_XSUBSTR_CTES},
tok AS (
  SELECT doc_id, i AS p, w[i] AS t, len(w) AS n
  FROM tb, unnest(range(1, len(w) + 1)) AS t2(i)
),
keep AS (
  SELECT tok.* FROM tok
  WHERE NOT EXISTS (
    SELECT 1 FROM spans sp
    WHERE sp.doc_id = tok.doc_id AND tok.p BETWEEN sp.span_start AND sp.span_end)
)
SELECT doc_id, string_agg(t, ' ' ORDER BY p) AS text_clean,
       CAST(any_value(n) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS kept_tokens
FROM keep GROUP BY doc_id
""",
    description="Destructive half of ExactSubstr: cut every duplicated "
    ">= k-token span (all but its globally-first occurrence) and "
    "rebuild the doc from surviving tokens; fully-duplicated docs drop. "
    "Spans collect per doc (bounded <= n_tokens/k) and the cut is a "
    "JVM-side higher-order filter over token positions — the corpus is "
    "never exploded a second time and no Python runs",
    tags=("extension", "dedup"),
)
def exact_substring_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    return _dd.exact_substring_dedup(docs, "doc_id", "text")



#: Shared by the fresh, served, and streaming decontamination queries —
#: all three compute the identical answer (static benchmark set; docs
#: never interact), differing only in artifact reuse / batch boundaries.
_DECONTAM_SPANS_ORACLE = f"""
WITH {_XGRAM_CTES},
flagged AS (
  SELECT doc_id, pos FROM g
  WHERE doc_id % 10 <> 0
    AND kg IN (SELECT DISTINCT kg FROM g WHERE doc_id % 10 = 0)
),{_XSPAN_MERGE_CTES}
SELECT doc_id, span_start, span_end,
       span_end - span_start + 1 AS span_tokens
FROM spans
"""



@register(
    "decontamination_overlap_spans",
    oracle=_DECONTAM_SPANS_ORACLE,
    description=f"Span-level benchmark decontamination: every >= "
    f"{_XS}-token substring of a training doc (doc_id % 10 != 0) that "
    "appears verbatim anywhere in the benchmark set (doc_id % 10 = 0), "
    "as maximal per-doc spans — the surgical complement to "
    "benchmark_decontamination's whole-doc n-gram overlap counts: cut "
    "exactly the leaked spans, keep the doc. Bench k-gram set is "
    "distinct + broadcast (benchmarks are small); the train side "
    "streams through one left-semi join; the only large shuffle is the "
    "output-sized per-doc island merge",
    tags=("extension", "curation", "dedup"),
)
def decontamination_overlap_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    return _dd.cross_corpus_substring_spans(
        docs.filter(F.col("doc_id") % 10 != 0),
        docs.filter(F.col("doc_id") % 10 == 0),
        "doc_id",
        "text",
    )



def _bench_kgram_artifact(spark: SparkSession, sf_dir: str):
    """Build-once the benchmark's distinct k-gram parquet and return
    its lazy DataFrame — shared by the served batch query and the
    streaming gate (one nightly artifact, two consumers)."""
    from spotify_tracks_etl_portfolio_spark.operators.dedup import (
        EXACT_SUBSTR_TOKENS,
        _stride1_kgrams,
    )

    docs = read_parquet_table(spark, sf_dir, "documents")
    root = _artifact_root(
        spark,
        "bench_kgrams",
        f"{os.path.realpath(sf_dir)}|k={EXACT_SUBSTR_TOKENS}",
    )
    _build_artifact_once(
        root,
        "kgrams",
        lambda tmp: _stride1_kgrams(
            docs.filter(F.col("doc_id") % 10 == 0),
            "doc_id",
            "text",
            EXACT_SUBSTR_TOKENS,
        )
        .select("kg")
        .distinct()
        .write.parquet(f"{tmp}/kgrams"),
    )
    return read_parquet_memo(spark, f"{root}/kgrams")



@register(
    "decontamination_overlap_spans_served",
    oracle=_DECONTAM_SPANS_ORACLE,
    description="SERVED span decontamination: the benchmark's distinct "
    "k-gram set is built ONCE per (session, sf_dir) as a persisted "
    "parquet artifact (the nightly shape — benchmark sets change "
    "rarely, crawls arrive daily) and every subsequent decontamination "
    "pass left-semi joins against the stored set instead of "
    "re-tokenizing the benchmark. Deterministic extraction ⇒ the "
    "artifact changes COST, never the answer — same oracle VERBATIM as "
    "decontamination_overlap_spans (the identical-answer contract "
    "embedding_ivf_index_topk pins for the IVF index); artifact reuse "
    "pytest-pinned",
    tags=("extension", "curation", "dedup"),
)
def decontamination_overlap_spans_served(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from spotify_tracks_etl_portfolio_spark.operators.dedup import (
        EXACT_SUBSTR_TOKENS,
        _flagged_to_spans,
        _stride1_kgrams,
    )

    docs = read_parquet_table(spark, sf_dir, "documents")
    bench_kg = F.broadcast(_bench_kgram_artifact(spark, sf_dir))
    flagged = (
        _stride1_kgrams(
            docs.filter(F.col("doc_id") % 10 != 0),
            "doc_id",
            "text",
            EXACT_SUBSTR_TOKENS,
        )
        .join(bench_kg, "kg", "left_semi")
        .select("doc_id", "pos")
    )
    return _flagged_to_spans(flagged, "doc_id", EXACT_SUBSTR_TOKENS)



#: Shared by the batch and streaming incremental-ExactSubstr gates —
#: both compute the identical answer (static corpus set; docs never
#: interact), differing only in batch boundaries / artifact transport.
_XS_NEW_VS_CORPUS_ORACLE = f"""
WITH {_XGRAM_CTES},
flagged AS (
  SELECT doc_id, pos FROM g
  WHERE doc_id % 2 = 1
    AND kg IN (SELECT DISTINCT kg FROM g WHERE doc_id % 2 = 0)
),{_XSPAN_MERGE_CTES}
SELECT doc_id, span_start, span_end,
       span_end - span_start + 1 AS span_tokens
FROM spans
"""



#: Bucket count for the persisted corpus k-gram table. 32 = the test
#: session's shuffle partitions, so the bucket layout never CAPS the
#: serve join's parallelism below what a shuffle would get (probed:
#: 8 buckets cost ~11% at 10x for exactly that reason —
#: BENCH_NOTES round 11); at 100 TB size the count so
#: each bucket file is ~an executor-memory partition.
_XS_KGRAM_BUCKETS = 32



def _corpus_kgram_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nightly corpus k-gram artifact, persisted as a BUCKETED
    catalog table on ``kg`` (``sources.catalog.create_bucketed_table``)
    and shared by all three incremental-ExactSubstr consumers (batch
    span sweep, destructive cut, streaming gate). Bucketing makes the
    serve-side semi-join read the corpus side with NO exchange: only
    the new-batch / micro-batch side shuffles into the bucket layout,
    so the corpus-sized shuffle on ``kg`` is paid ONCE at build time
    instead of on every serve — the claim operators/dedup.py's
    ``incremental_substring_spans`` docstring makes, now wired.
    Built once per (session, sf_dir, k): the deterministic table name
    doubles as the build-once marker. Plan-gated:
    tests/test_plan_shapes.py::
    test_incremental_substring_corpus_side_never_shuffles."""
    from spotify_tracks_etl_portfolio_spark.operators.dedup import (
        EXACT_SUBSTR_TOKENS,
        corpus_kgram_set,
    )
    from spotify_tracks_etl_portfolio_spark.sources.catalog import (
        create_bucketed_table,
    )

    key = f"{os.path.realpath(sf_dir)}|k={EXACT_SUBSTR_TOKENS}"
    table = _bucketed_table_name(spark, "corpus_kgrams", key)
    if not spark.catalog.tableExists(table):
        docs = read_parquet_table(spark, sf_dir, "documents")
        root = _artifact_root(spark, "corpus_kgrams_bucketed", key)
        create_bucketed_table(
            spark,
            table,
            corpus_kgram_set(
                docs.filter(F.col("doc_id") % 2 == 0), "doc_id", "text"
            ),
            "kg",
            _XS_KGRAM_BUCKETS,
            os.path.join(root, "kgrams"),
        )
    return spark.table(table)



#: Bucket count for the persisted corpus MinHash band + shingle tables —
#: sized like _XS_KGRAM_BUCKETS (match shuffle parallelism; 8 buckets
#: measurably capped the bucketed k-gram join's parallelism, probed in
#: BENCH_NOTES round 11). At 100 TB size so each
#: bucket file is ~an executor-memory partition.
_MH_BAND_BUCKETS = 32



def _corpus_minhash_bands_bucketed(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The nightly corpus MinHash serve artifacts, persisted as two
    BUCKETED catalog tables (``sources.catalog.create_bucketed_table``)
    and shared by both cross-corpus near-dedup consumers (batch
    ``near_dedup_new_vs_corpus``, streaming
    ``streaming_near_dedup_sync``): the band table (id_old, bkey)
    bucketed on ``bkey`` so the candidate equi-join reads the corpus
    side with NO exchange, and the shingle table (id_old, hashes)
    bucketed on ``id_old`` so the exact-Jaccard verify fetches corpus
    shingle arrays with NO exchange either — the corpus-sized shuffles
    are paid ONCE at build, never per serve; per-batch cost scales with
    the batch (the claim operators/dedup.py's
    ``cross_corpus_near_dup_ids_served`` docstring makes, wired here).
    The shingle computation is paid once: the shingle table is built
    first and the band table derives from the STORED hash arrays (the
    signature min-hash is a pure projection over them). Built once per
    (application, sf_dir, k): the app-scoped deterministic table name
    doubles as the build-once marker. Plan-gated:
    tests/test_plan_shapes.py::test_near_dedup_corpus_side_never_shuffles.
    """
    from spotify_tracks_etl_portfolio_spark.operators.dedup import (
        SHINGLE_K,
        _signature_cols,
        corpus_band_key,
        minhash_band_rows,
        shingle_hash_arrays,
    )
    from spotify_tracks_etl_portfolio_spark.sources.catalog import (
        create_bucketed_table,
    )

    key = f"{os.path.realpath(sf_dir)}|k={SHINGLE_K}|minhash"
    bands_table = _bucketed_table_name(spark, "corpus_mh_bands", key)
    sh_table = _bucketed_table_name(spark, "corpus_mh_shingles", key)
    if not (
        spark.catalog.tableExists(bands_table)
        and spark.catalog.tableExists(sh_table)
    ):
        docs = read_parquet_table(spark, sf_dir, "documents")
        old = docs.filter(F.col("doc_id") % 2 == 0)
        root = _artifact_root(spark, "corpus_mh_bucketed", key)
        shingles_df = shingle_hash_arrays(old, "doc_id", "text").select(
            F.col("doc_id").alias("id_old"),
            F.col("__hashes").alias("hashes"),
        )
        create_bucketed_table(
            spark,
            sh_table,
            shingles_df,
            "id_old",
            _MH_BAND_BUCKETS,
            os.path.join(root, "shingles"),
        )
        # derive bands from the STORED arrays — the text is shingled
        # exactly once per build
        stored = spark.table(sh_table).select(
            F.col("id_old").alias("doc_id"), F.col("hashes").alias("__hashes")
        )
        bands_df = minhash_band_rows(
            stored.select("doc_id", *_signature_cols()), "doc_id"
        ).select(F.col("doc_id").alias("id_old"), corpus_band_key())
        create_bucketed_table(
            spark,
            bands_table,
            bands_df,
            "bkey",
            _MH_BAND_BUCKETS,
            os.path.join(root, "bands"),
        )
    return spark.table(bands_table), spark.table(sh_table)



@register(
    "exact_substring_new_vs_corpus",
    oracle=_XS_NEW_VS_CORPUS_ORACLE,
    description=f"Incremental corpus-vs-corpus ExactSubstr (round-9 "
    f"verdict item): >= {_XS}-token spans of a NEW crawl batch (odd "
    "doc_ids) that appear verbatim in the EXISTING corpus (even "
    "doc_ids), served from the corpus's persisted DISTINCT k-gram "
    "parquet — built once per (session, sf_dir) via the "
    "bench_kgrams/ivf_index artifact pattern, then every batch sweep "
    "is one batch-side explode + one size-planned semi-join against "
    "the stored k-gram column, NEVER a re-explode of corpus text "
    "(the span-level twin of incremental_dedup_documents / "
    "near_dedup_new_vs_corpus). Membership suffices — corpus "
    "occurrences precede the whole batch, so the artifact needs no "
    "first-occurrence bookkeeping. Deterministic extraction ⇒ the "
    "artifact changes COST, never the answer; per-batch cost scales "
    "with the batch (probe evidence in .stress/), and the artifact is "
    "written BUCKETED on kg (_corpus_kgram_bucketed) so the semi-join "
    "plans with no corpus-side exchange — only the batch side "
    "shuffles (plan-gated)",
    tags=("extension", "dedup", "curation"),
)
def exact_substring_new_vs_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spotify_tracks_etl_portfolio_spark.operators.dedup import (
        incremental_substring_spans,
    )

    docs = read_parquet_table(spark, sf_dir, "documents")
    corpus_kg = _corpus_kgram_bucketed(spark, sf_dir)
    return incremental_substring_spans(
        docs.filter(F.col("doc_id") % 2 == 1), corpus_kg, "doc_id", "text"
    )



@register(
    "exact_substring_cut_new_vs_corpus",
    oracle=f"""
WITH {_XGRAM_CTES},
flagged AS (
  SELECT doc_id, pos FROM g
  WHERE doc_id % 2 = 1
    AND kg IN (SELECT DISTINCT kg FROM g WHERE doc_id % 2 = 0)
),{_XSPAN_MERGE_CTES},
tok AS (
  SELECT doc_id, i AS p, w[i] AS t, len(w) AS n
  FROM tb, unnest(range(1, len(w) + 1)) AS t2(i)
  WHERE doc_id % 2 = 1
),
keep AS (
  SELECT tok.* FROM tok
  WHERE NOT EXISTS (
    SELECT 1 FROM spans sp
    WHERE sp.doc_id = tok.doc_id AND tok.p BETWEEN sp.span_start AND sp.span_end)
)
SELECT doc_id, string_agg(t, ' ' ORDER BY p) AS text_clean,
       CAST(any_value(n) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS kept_tokens
FROM keep GROUP BY doc_id
""",
    description="Destructive half of incremental ExactSubstr (the "
    "daily-crawl ingest shape): rebuild each new-batch doc (odd "
    "doc_ids) with every >= 8-token span appearing verbatim in the "
    "existing corpus (even doc_ids) CUT — the corpus copy was there "
    "first, so it stays canonical; batch docs that are entirely "
    "corpus-duplicated drop, and only novel text would append. Serves "
    "the span sweep from the SAME persisted corpus k-gram artifact as "
    "exact_substring_new_vs_corpus (one nightly build, both "
    "consumers); the cut is the shared JVM-side higher-order position "
    "filter — batch-cost per ingest, corpus never re-exploded. "
    "Registered via the pending-r11 gate (the r10 window is budgeted "
    "to the stale cohort); pytest-verified now",
    tags=("extension", "dedup", "curation"),
)
def exact_substring_cut_new_vs_corpus(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from spotify_tracks_etl_portfolio_spark.operators.dedup import (
        incremental_substring_dedup,
    )

    docs = read_parquet_table(spark, sf_dir, "documents")
    corpus_kg = _corpus_kgram_bucketed(spark, sf_dir)
    return incremental_substring_dedup(
        docs.filter(F.col("doc_id") % 2 == 1), corpus_kg, "doc_id", "text"
    )



@register(
    "streaming_incremental_substring_sync",
    oracle=_XS_NEW_VS_CORPUS_ORACLE,
    description="9th streaming gate: the incoming-crawl stream (new "
    "batch = odd doc_ids, staged as TWO files → two real "
    "micro-batches) is swept per batch for >= 8-token substrings "
    "appearing verbatim in the PERSISTED CORPUS k-gram artifact (the "
    "same nightly artifact exact_substring_new_vs_corpus and the cut "
    "twin serve from — one build, batch + streaming consumers), spans "
    "to an epoch-partition-overwrite sink (replay-idempotent), then "
    "hash-checked against the SAME oracle as the batch twin. The "
    "reference set is CORPUS-sized, so unlike the benchmark-"
    "decontamination gate the per-batch semi-join carries no broadcast "
    "hint (size-planned; bucketed artifact at scale ⇒ only the "
    "micro-batch side shuffles per trigger). Batch boundaries provably "
    "can't change the result: a doc's spans depend only on its own "
    "text and the static corpus set. Registered via the pending-r11 "
    "gate (the r10 window is budgeted to the stale cohort); "
    "pytest-verified now",
    tags=("streaming", "extension", "dedup", "curation"),
)
@pinned_stream_session
def streaming_incremental_substring_sync(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from spotify_tracks_etl_portfolio_spark.operators.dedup import (
        EXACT_SUBSTR_TOKENS,
    )
    from spotify_tracks_etl_portfolio_spark.streaming.pipeline import (
        read_documents_stream,
        streaming_incremental_substring_spans,
    )

    docs = read_parquet_table(spark, sf_dir, "documents")
    corpus_kg = _corpus_kgram_bucketed(spark, sf_dir)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    d = _session_scratch(spark, "xs_incremental_sync")
    out = f"{d}/out"
    batch.filter(F.col("doc_id") % 4 == 1).coalesce(1).write.parquet(
        f"{d}/src/f1"
    )
    batch.filter(F.col("doc_id") % 4 == 3).coalesce(1).write.parquet(
        f"{d}/src/f2"
    )
    stream = read_documents_stream(spark, f"{d}/src/*")
    q = (
        streaming_incremental_substring_spans(
            stream, corpus_kg, out, f"{d}/ckpt", EXACT_SUBSTR_TOKENS
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        F.col("span_tokens").cast("long").alias("span_tokens"),
    )



@register(
    "streaming_decontamination_sync",
    oracle=_DECONTAM_SPANS_ORACLE,
    description="8th streaming gate: the incoming-doc stream (train "
    "docs staged as TWO files → two real micro-batches) is swept per "
    "batch for >= 8-token substrings appearing verbatim in the "
    "PERSISTED benchmark k-gram artifact (the same nightly artifact "
    "the served batch query reuses — one build, batch + streaming "
    "consumers), spans written to an epoch-partition-overwrite parquet "
    "sink (at-least-once replays rewrite their epoch, never "
    "duplicate) — then hash-checked against the SAME oracle as both "
    "batch twins. Batch boundaries provably can't change the result: "
    "a doc's spans depend only on its own text and the static "
    "benchmark set",
    tags=("streaming", "extension", "curation", "dedup"),
)
@pinned_stream_session
def streaming_decontamination_sync(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from spotify_tracks_etl_portfolio_spark.operators.dedup import (
        EXACT_SUBSTR_TOKENS,
    )
    from spotify_tracks_etl_portfolio_spark.streaming.pipeline import (
        read_documents_stream,
        streaming_decontamination_spans,
    )

    docs = read_parquet_table(spark, sf_dir, "documents")
    bench_kg = _bench_kgram_artifact(spark, sf_dir)
    train = docs.filter(F.col("doc_id") % 10 != 0)
    d = _session_scratch(spark, "decontam_sync")
    out = f"{d}/out"
    train.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        f"{d}/src/f1"
    )
    train.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        f"{d}/src/f2"
    )
    stream = read_documents_stream(spark, f"{d}/src/*")
    q = (
        streaming_decontamination_spans(
            stream, bench_kg, out, f"{d}/ckpt", EXACT_SUBSTR_TOKENS
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        F.col("span_tokens").cast("long").alias("span_tokens"),
    )



_NEAR_DEDUP_NEW_VS_CORPUS_ORACLE = f"""
WITH {_SHINGLE_CTES},
sizes AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY doc_id),
{_minhash_sig_sql()},
{_minhash_bands_sql()},
cands AS (
  SELECT DISTINCT a.doc_id AS id_new, b.doc_id AS id_old
  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
  WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
),
shared AS (
  SELECT c.id_new, c.id_old, count(*) AS shared
  FROM cands c
  JOIN shh n ON n.doc_id = c.id_new
  JOIN shh o ON o.doc_id = c.id_old AND o.h = n.h
  GROUP BY 1, 2
),
flagged AS (
  SELECT DISTINCT s.id_new
  FROM shared s
  JOIN sizes sa ON s.id_new = sa.doc_id
  JOIN sizes sb ON s.id_old = sb.doc_id
  WHERE round(s.shared * 1.0 / (sa.n + sb.n - s.shared), 6) >= {JACCARD_THRESHOLD}
)
SELECT d.doc_id FROM documents d
WHERE d.doc_id % 2 = 1
  AND d.doc_id NOT IN (SELECT id_new FROM flagged)
"""



@register(
    "near_dedup_new_vs_corpus",
    oracle=_NEAR_DEDUP_NEW_VS_CORPUS_ORACLE,
    description="Cross-corpus NEAR-dedup anti-join (the near-dup twin "
    "of incremental_dedup_documents, which is exact-only): new docs "
    "(odd ids stand in for today's crawl) MinHash-band-join against the "
    "existing corpus (even ids), candidates verify by exact Jaccard, "
    "flagged ids anti-join away. Never materializes new×old — bands "
    "narrow the join, verify touches candidates only; the old-corpus "
    "band AND shingle tables are precomputed BUCKETED catalog tables "
    "(_corpus_minhash_bands_bucketed: bands on bkey, shingles on "
    "id_old) so neither corpus-sized table shuffles at serve — only "
    "the batch side does (plan-gated: "
    "test_near_dedup_corpus_side_never_shuffles); deterministic "
    "artifacts change COST, never the answer",
    tags=("extension", "dedup", "lsh"),
)
def near_dedup_new_vs_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 2 == 1)
    bands, shingles = _corpus_minhash_bands_bucketed(spark, sf_dir)
    flagged = _dd.cross_corpus_near_dup_ids_served(
        new, bands, shingles, "doc_id", "text", JACCARD_THRESHOLD
    )
    return new.join(flagged, "doc_id", "left_anti").select("doc_id")



@register(
    "streaming_near_dedup_sync",
    oracle=_NEAR_DEDUP_NEW_VS_CORPUS_ORACLE,
    description="Streaming curation under the CORRECTNESS gate: the "
    "incoming-doc stream (odd ids, staged as TWO files → two real "
    "micro-batches) is near-dedup-checked per batch against the static "
    "corpus (even ids) via foreachBatch + the cross-corpus MinHash "
    "band/verify operator SERVED from the persisted bucketed corpus "
    "band + shingle tables (_corpus_minhash_bands_bucketed — shared "
    "with the batch twin; no corpus-side shuffle per micro-batch), "
    "survivors appended to a parquet sink — then hash-checked against "
    "the SAME DuckDB oracle as the batch twin "
    "near_dedup_new_vs_corpus. Batch boundaries provably can't change "
    "the result (new docs compare only against the corpus, never each "
    "other), and the gate proves it",
    tags=("streaming", "extension", "dedup"),
)
@pinned_stream_session
def streaming_near_dedup_sync(spark: SparkSession, sf_dir: str) -> DataFrame:

    from spotify_tracks_etl_portfolio_spark.streaming.pipeline import (
        read_documents_stream,
        streaming_near_dedup_new_docs,
    )

    docs = read_parquet_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 2 == 1)
    bands, shingles = _corpus_minhash_bands_bucketed(spark, sf_dir)

    d = _session_scratch(spark, "nd_sync")
    out = f"{d}/out"
    new.filter(F.col("doc_id") % 4 == 1).coalesce(1).write.parquet(f"{d}/src/f1")
    new.filter(F.col("doc_id") % 4 == 3).coalesce(1).write.parquet(f"{d}/src/f2")
    stream = read_documents_stream(spark, f"{d}/src/*")
    q = (
        streaming_near_dedup_new_docs(
            stream, bands, shingles, out, f"{d}/ckpt", JACCARD_THRESHOLD
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # lazy read from the session-scoped sink: the result never transits
    # the driver (epoch_id is the sink's idempotency partition column)
    return spark.read.parquet(out).select(F.col("doc_id").cast("long").alias("doc_id"))


