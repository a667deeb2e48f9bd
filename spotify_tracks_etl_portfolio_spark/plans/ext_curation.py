"""Curation-family extension queries: quality gating, splits, mixing,
sampling (temperature/DSIR/weighted), packing, and governance."""



from __future__ import annotations



from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from spotify_tracks_etl_portfolio_spark.functions import rolling_hash, token_count

from spotify_tracks_etl_portfolio_spark.plans import register

from spotify_tracks_etl_portfolio_spark.sources.readers import read_parquet_table

from spotify_tracks_etl_portfolio_spark.operators import dedup as _dd  # noqa: E402

from spotify_tracks_etl_portfolio_spark.operators import text as _tx  # noqa: E402

from spotify_tracks_etl_portfolio_spark.plans._ext_shared import (  # noqa: E501
    JACCARD_THRESHOLD,
    _FP_SQL,
    _JACCARD_CTES,
    _LANG_CASE,
    _LANG_CTES,
    _M,
    _QUALITY_EXPR,
    _SHINGLE_CTES,
    _TOKEN_HASH,
    _XSUBSTR_CTES,
    _dup_ngram_sql,
    _gopher_pass_sql,
    _gopher_sig_sql,
    _minhash_bands_sql,
    _minhash_sig_sql,
    _quality_ctes,
)



@register(
    "gdpr_delete_documents",
    oracle="""
SELECT doc_id, 'documents' AS table_name,
       CAST(1 AS BIGINT) AS n_rows_deleted,
       CAST((SELECT count(*) FROM documents) - count(*) OVER () AS BIGINT)
         AS n_rows_surviving
FROM documents WHERE doc_id % 97 = 0
""",
    description="Deletion propagation (right-to-be-forgotten / takedown "
    "gate): a deletion-request list anti-joins every keyed table in the "
    "lineage (broadcast — one scan-and-rewrite per table, no shuffle) "
    "and emits a tombstone audit of what was deleted where, WITHOUT "
    "retaining the payload; the surviving count proves the rewrite "
    "dropped exactly the requested keys",
    tags=("extension", "curation", "governance"),
)
def gdpr_delete_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spotify_tracks_etl_portfolio_spark.operators.medallion import (
        propagate_deletes,
    )

    docs = read_parquet_table(spark, sf_dir, "documents")
    requests = docs.filter(F.col("doc_id") % 97 == 0).select("doc_id")
    cleaned, tombstones = propagate_deletes(
        {"documents": docs}, requests, "doc_id", F.lit("2026-01-01")
    )
    surviving = cleaned["documents"].agg(
        F.count(F.lit(1)).alias("n_rows_surviving")
    )
    return tombstones.crossJoin(F.broadcast(surviving)).select(
        "doc_id", "table_name", "n_rows_deleted", "n_rows_surviving"
    )



CURATE_MIN_QUALITY = 0.5



@register(
    "curate_training_documents",
    oracle=f"""
WITH dedup AS (
  SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text
),
toks2 AS (
  SELECT doc_id, '' AS lang,
         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(trim(text), '\\s+') END AS w
  FROM dedup
),
{_LANG_CTES},
{_quality_ctes('dedup')}
SELECT b.doc_id,
       {_LANG_CASE} AS lang,
       h.n_tokens,
       {_QUALITY_EXPR} AS quality_score
FROM best b JOIN h ON b.doc_id = h.doc_id
WHERE ({_LANG_CASE}) <> 'und'
  AND {_QUALITY_EXPR} >= {CURATE_MIN_QUALITY}
  AND h.n_tokens BETWEEN 5 AND 5000
""",
    description="End-to-end training-set curation pipeline composed from "
    "the engine's operators: exact dedup (keep lowest id) → language ID "
    "(drop 'und') → quality gate (score ≥ 0.5) → token-count bounds — "
    "the whole chain is one Catalyst plan (dedup shuffle + pure "
    "projections), and the full composition is oracle-checked end-to-end",
    tags=("extension", "dedup", "text", "pipeline"),
)
def curate_training_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    deduped = docs.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    toks = token_count("text").cast("long")
    enriched = _tx.add_quality(
        _tx.add_lang_id(deduped, "text", "lang"), "text", "quality_score"
    )
    return (
        enriched.select(
            "doc_id",
            "lang",
            toks.alias("n_tokens"),
            "quality_score",
        )
        .filter(
            (F.col("lang") != "und")
            & (F.col("quality_score") >= CURATE_MIN_QUALITY)
            & F.col("n_tokens").between(5, 5000)
        )
    )



@register(
    "train_val_test_split",
    oracle=f"""
WITH fp AS (SELECT doc_id, {_FP_SQL} AS f FROM documents)
SELECT doc_id,
       f % 100 AS bucket,
       CASE WHEN f % 100 < 90 THEN 'train'
            WHEN f % 100 < 95 THEN 'val'
            ELSE 'test' END AS split
FROM fp
""",
    description="Deterministic 90/5/5 train/val/test assignment by CONTENT "
    "hash (rolling hash mod 100): reproducible on any cluster at any "
    "parallelism (no RNG, no partition dependence), and duplicate texts "
    "always land in the same split — the content-hash property that "
    "prevents train/test leakage through near-copies. Pure projection: "
    "zero shuffles at any scale",
    tags=("extension", "curation"),
)
def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    bucket = F.pmod(rolling_hash("text"), F.lit(100))
    return docs.select(
        "doc_id",
        bucket.cast("long").alias("bucket"),
        F.when(bucket < 90, "train")
        .when(bucket < 95, "val")
        .otherwise("test")
        .alias("split"),
    )



@register(
    "leakage_safe_split_documents",
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
cl AS (
  SELECT d.doc_id, CAST(COALESCE(c.cluster_id, d.doc_id) AS BIGINT) AS cluster_id
  FROM documents d LEFT JOIN cccomp c USING (doc_id)
),
fp AS (SELECT doc_id, {_FP_SQL} AS f FROM documents)
SELECT cl.doc_id, cl.cluster_id,
       fp.f % 100 AS bucket,
       CASE WHEN fp.f % 100 < 90 THEN 'train'
            WHEN fp.f % 100 < 95 THEN 'val'
            ELSE 'test' END AS split
FROM cl JOIN fp ON fp.doc_id = cl.cluster_id
""",
    description="Cluster-aware train/val/test split — closes the "
    "near-dup leakage hole the plain content-hash split leaves open: "
    "MinHash-LSH near-dup clusters (iterative connected components, "
    "same machinery as near_dup_doc_clusters) are assigned WHOLE to one "
    "split, keyed by the rolling hash of the cluster CANONICAL's text "
    "(min-id member), so a near-copy can never sit in train while its "
    "twin sits in test; singleton docs degrade to exactly the "
    "train_val_test_split assignment (pinned by test). Cost on top of "
    "the dedup graph: one doc_id-keyed equi-join to fetch canonical "
    "text — no new quadratic term at any scale",
    tags=("extension", "curation", "dedup", "graph"),
)
def leakage_safe_split_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    pairs = _dd.minhash_near_dup_pairs(docs, "doc_id", "text", JACCARD_THRESHOLD)
    comp = _dd.connected_components(pairs, "id_a", "id_b")
    clustered = (
        docs.select("doc_id")
        .join(comp, docs.doc_id == comp.node, "left")
        .select(
            "doc_id", F.coalesce("comp", "doc_id").cast("long").alias("cluster_id")
        )
    )
    canon = docs.select(
        F.col("doc_id").alias("cluster_id"),
        F.pmod(rolling_hash("text"), F.lit(100)).cast("long").alias("bucket"),
    )
    return clustered.join(canon, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "bucket",
        F.when(F.col("bucket") < 90, "train")
        .when(F.col("bucket") < 95, "val")
        .otherwise("test")
        .alias("split"),
    )



@register(
    "curate_training_corpus_v3",
    oracle=f"""
WITH canon AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY text
),
surv AS (
  SELECT d.doc_id, d.lang, d.text FROM documents d JOIN canon USING (doc_id)
),
{_gopher_sig_sql('surv')},
kept AS (
  SELECT s.doc_id, s.lang, s.text, g.n_words
  FROM surv s JOIN sig g USING (doc_id)
  WHERE {_gopher_pass_sql(stopword_min=1)}
),
c AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n,
         CAST(round(sqrt(count(*)) * 1000000) AS BIGINT) AS s
  FROM kept GROUP BY lang
),
t AS (SELECT CAST(SUM(n) AS BIGINT) AS total_n,
             CAST(SUM(s) AS BIGINT) AS total_s FROM c),
r AS (
  SELECT lang,
         LEAST(1000000, CAST(floor(
           ((CAST(floor((total_n + 1) / 2) AS BIGINT) * s)
            / (total_s * n)) * 1000000) AS BIGINT)) AS thr
  FROM c, t
),
h AS (
  SELECT doc_id, lang, n_words,
         ({_FP_SQL}) % 1000000 AS h,
         ({_FP_SQL}) % 100 AS b
  FROM kept
)
SELECT doc_id, lang, n_words,
       CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
            ELSE 'test' END AS split
FROM h JOIN r USING (lang) WHERE h < thr
""",
    description="Curation pipeline v3 — THIS round's operators "
    "composed end-to-end in one Catalyst plan (the published "
    "multilingual recipe shape): exact content dedup (min-doc_id "
    "canonical, one groupBy) → the FULL Gopher rule gate "
    "(gopher_rules, zero-shuffle integer-exact flags) → "
    "temperature-sampled language rebalancing over the SURVIVORS "
    "(α = 1/2, ⌈N/2⌉ budget, content-hash membership — low-resource "
    "languages upweighted) → content-hash 90/5/5 split. The stop-word "
    "rule runs at stopword_min=1 here (the synthetic vocabulary "
    "contains only 'the' of the 8 required words, so the published "
    "≥2 is degenerate-zero on this corpus; ≥1 keeps the rule active — "
    "382/500 differentiating — and production keeps the published "
    "default). Beyond the "
    "dedup groupBy the plan is row-local projections plus two "
    "sketch-sized aggregations (per-lang counts, 1-row totals "
    "broadcast); the gated corpus materializes once (slim "
    "localCheckpoint, the v2/grouped_prefix_sum pattern — it IS the "
    "persisted artifact of a real pipeline). Deterministic end-to-end "
    "(no RNG anywhere: the mix replays from the recipe alone). "
    "Registered via the pending-r12 gate; pytest-verified now",
    tags=("extension", "curation", "dedup", "quality", "sampling"),
)
def curate_training_corpus_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    import functools

    from spotify_tracks_etl_portfolio_spark.operators.text import (
        gopher_rules,
    )

    docs = read_parquet_table(spark, sf_dir, "documents")
    canon = docs.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    surv = docs.join(canon.select("doc_id"), "doc_id", "left_semi")
    rules = gopher_rules("text", stopword_min=1)
    gate = functools.reduce(
        lambda a, b: a & b,
        (v for k, v in rules.items() if k.startswith("flag_")),
    )
    kept = (
        surv.filter(gate)
        .select("doc_id", "lang", "text", rules["n_words"].alias("n_words"))
        .localCheckpoint(eager=False)
    )
    m = 1_000_000
    c = kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).select(
        "lang", "n", F.round(F.sqrt("n") * m).cast("long").alias("s")
    )
    t = c.agg(F.sum("n").alias("total_n"), F.sum("s").alias("total_s"))
    budget = F.floor((F.col("total_n") + 1) / 2).cast("long")
    rate = (budget * F.col("s")) / (F.col("total_s") * F.col("n"))
    thr = c.crossJoin(F.broadcast(t)).select(
        "lang",
        F.least(F.lit(m), F.floor(rate * m).cast("long")).alias("thr"),
    )
    fp = rolling_hash("text")
    h = kept.select(
        "doc_id",
        "lang",
        "n_words",
        (fp % m).alias("h"),
        (fp % 100).alias("b"),
    )
    return (
        h.join(F.broadcast(thr), "lang")
        .filter(F.col("h") < F.col("thr"))
        .select(
            "doc_id",
            "lang",
            "n_words",
            F.when(F.col("b") < 90, "train")
            .when(F.col("b") < 95, "val")
            .otherwise("test")
            .alias("split"),
        )
    )



STRATA_SAMPLE_N = 20



@register(
    "stratified_sample_by_lang",
    oracle=f"""
WITH sfp AS (SELECT doc_id, lang, {_FP_SQL} AS f FROM documents),
sr AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang ORDER BY f, doc_id) AS rn
  FROM sfp
)
SELECT doc_id, lang, CAST(rn AS BIGINT) AS sample_rank
FROM sr WHERE rn <= {STRATA_SAMPLE_N}
""",
    description=f"Stratified sampling: {STRATA_SAMPLE_N} docs per "
    "language, ordered by CONTENT hash (rolling fingerprint) with "
    "doc_id tie-break — a reproducible quota sample at any parallelism "
    "on any cluster (no RNG), the balanced-evaluation-set / "
    "data-ablation primitive. Per-group top-N window → WindowGroupLimit "
    "prunes each stratum map-side before the final rank",
    tags=("extension", "curation"),
)
def stratified_sample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spotify_tracks_etl_portfolio_spark.operators.similarity import (
        per_group_topk,
    )

    docs = read_parquet_table(spark, sf_dir, "documents")
    # two-stage bucketed bottom-k: ~10 langs over the corpus would
    # otherwise merge each stratum's survivors in one task
    ranked = per_group_topk(
        docs.withColumn("__h", rolling_hash("text")),
        "lang",
        "__h",
        "doc_id",
        STRATA_SAMPLE_N,
        "sample_rank",
        descending=False,
    )
    return ranked.select(
        "doc_id", "lang", F.col("sample_rank").cast("long").alias("sample_rank")
    )



@register(
    "source_mixing_weights",
    oracle="""
WITH stok AS (
  SELECT source,
         CAST(CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS nt
  FROM documents
),
sagg AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(nt) AS BIGINT) AS n_tokens
  FROM stok GROUP BY source
),
sshare AS (
  SELECT source, n_docs, n_tokens,
         round(n_tokens * 1.0 / sum(n_tokens) OVER (), 6) AS token_share,
         CAST(round(sqrt(n_tokens * 1.0 / sum(n_tokens) OVER ()), 6)
              AS DECIMAL(18, 6)) AS w6
  FROM sagg
)
SELECT source, n_docs, n_tokens, token_share,
       round(CAST(w6 AS DOUBLE) / CAST(sum(w6) OVER () AS DOUBLE), 6)
         AS mixing_weight
FROM sshare
""",
    description="Domain-mixing weights: per source, doc/token counts, "
    "token share, and a sqrt-scaled sampling weight (the standard "
    "temperature-mixing shape that up-weights small sources). "
    "Determinism: per-source sqrt is IEEE-exact from integer token "
    "counts; the normalization sums 6-dp DECIMALs exactly, so no "
    "float-summation-order dependence anywhere. One aggregation + one "
    "broadcast-size window over |sources| rows",
    tags=("extension", "curation"),
)
def source_mixing_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = read_parquet_table(spark, sf_dir, "documents")
    agg = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count("text").cast("long")).alias("n_tokens"),
    )
    wall = Window.partitionBy()
    share = F.col("n_tokens").cast("double") / F.sum("n_tokens").over(wall)
    with_w = agg.withColumn("token_share", F.round(share, 6)).withColumn(
        "w6", F.round(F.sqrt(share), 6).cast("decimal(18,6)")
    )
    return with_w.select(
        "source",
        "n_docs",
        "n_tokens",
        "token_share",
        F.round(
            F.col("w6").cast("double")
            / F.sum("w6").over(wall).cast("double"),
            6,
        ).alias("mixing_weight"),
    )



SHARD_TOKEN_BUDGET = 2000



@register(
    "token_budget_shards",
    oracle=f"""
WITH tb AS (
  SELECT doc_id, lang,
         CAST(CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS nt,
         {_FP_SQL} AS f
  FROM documents
),
csum AS (
  SELECT doc_id, lang, nt,
         sum(nt) OVER (PARTITION BY lang ORDER BY f, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM tb
)
SELECT doc_id, lang, nt AS n_tokens,
       CAST((cum - nt) // {SHARD_TOKEN_BUDGET} AS BIGINT) AS shard
FROM csum
""",
    description="Token-budget shard assignment (the corpus-packing "
    f"primitive for training): within each language, docs ordered by "
    "content hash accumulate token counts and spill into the next shard "
    f"every {SHARD_TOKEN_BUDGET} tokens — deterministic at any "
    "parallelism (content-hash order, integer cumulative sums, no RNG), "
    "so every re-run of the pipeline produces identical shard "
    "membership. The running sums go through the bucketed prefix-sum "
    "kernel (grouped_prefix_sum — range-bucketed on the content hash "
    "with per-(lang, bucket) offsets), so at 100 TB the cumulative "
    "pass parallelizes WITHIN each language too, not just across the "
    "handful of strata; integer-exact either way",
    tags=("extension", "curation"),
)
def token_budget_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spotify_tracks_etl_portfolio_spark.operators.stats import (
        grouped_prefix_sum,
    )

    docs = read_parquet_table(spark, sf_dir, "documents")
    nt = token_count("text").cast("long")
    pre = grouped_prefix_sum(
        docs,
        ["lang"],
        rolling_hash("text"),
        ["doc_id"],
        nt,
        "__cum_before",
        val_out="n_tokens",
        lead_range=(0, _M - 1),
    )
    return pre.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.floor(F.col("__cum_before") / SHARD_TOKEN_BUDGET)
        .cast("long")
        .alias("shard"),
    )



#: Model context length for sequence packing (tokens).
PACK_CONTEXT_LEN = 512



@register(
    "pack_training_sequences",
    oracle=f"""
WITH t AS (
  SELECT doc_id, lang,
         CAST(CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_tokens,
         {_FP_SQL} AS h
  FROM documents
),
base AS (
  SELECT lang,
         COALESCE(SUM(lt) OVER (ORDER BY lang
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS base
  FROM (SELECT lang, SUM(n_tokens) AS lt FROM t GROUP BY lang)
),
c AS (
  SELECT t.doc_id, t.n_tokens,
         b.base + COALESCE(SUM(t.n_tokens) OVER (
           PARTITION BY t.lang ORDER BY t.h, t.doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM t JOIN base b USING (lang)
)
SELECT doc_id, n_tokens,
       CAST(cum_before // {PACK_CONTEXT_LEN} AS BIGINT) AS seq_id,
       CAST(cum_before % {PACK_CONTEXT_LEN} AS BIGINT) AS seq_offset,
       CAST((cum_before + greatest(n_tokens, 1) - 1) // {PACK_CONTEXT_LEN}
            - cum_before // {PACK_CONTEXT_LEN} AS BIGINT) AS n_boundary_crossings
FROM c
""",
    description=f"GPT-style concatenative sequence packing: documents are "
    f"laid end-to-end in a deterministic global order (lang, then content "
    f"hash, then id — no RNG, so re-runs pack identically) and cut every "
    f"{PACK_CONTEXT_LEN} tokens; each doc gets its (seq_id, seq_offset) "
    f"plus how many context boundaries it spans. Scale shape: the global "
    f"prefix sum is bucketed per-(lang, hash-range) running sums "
    f"(grouped_prefix_sum, so the scan parallelizes WITHIN a stratum "
    f"too), with the cross-lang bases folded into the kernel's "
    f"driver-side offset pass — never a single-partition global window "
    f"and never one task per language. The shared polynomial content "
    f"hash orders both engines identically, same as token_budget_shards",
    tags=("extension", "curation"),
)
def pack_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spotify_tracks_etl_portfolio_spark.operators.stats import (
        grouped_prefix_sum,
    )

    docs = read_parquet_table(spark, sf_dir, "documents")
    nt = token_count("text").cast("long")
    # global_base folds the per-lang base offsets into the kernel's
    # driver-side offset pass (rows = #langs × #buckets scalars), so
    # the corpus text is scanned exactly once per call and the
    # group-major global prefix comes out directly
    pre = grouped_prefix_sum(
        docs,
        ["lang"],
        rolling_hash("text"),
        ["doc_id"],
        nt,
        "__cum_before",
        val_out="n_tokens",
        lead_range=(0, _M - 1),
        global_base=True,
    )
    cum_before = F.col("__cum_before")
    ntc = F.col("n_tokens")
    return (
        pre
        .select(
            "doc_id",
            "n_tokens",
            F.floor(cum_before / PACK_CONTEXT_LEN).cast("long").alias("seq_id"),
            (cum_before % PACK_CONTEXT_LEN).cast("long").alias("seq_offset"),
            (
                F.floor(
                    (cum_before + F.greatest(ntc, F.lit(1)) - 1)
                    / PACK_CONTEXT_LEN
                )
                - F.floor(cum_before / PACK_CONTEXT_LEN)
            ).cast("long").alias("n_boundary_crossings"),
        )
    )



@register(
    "prepare_training_corpus",
    oracle=f"""
WITH dedup AS (
  SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text
),
toks2 AS (
  SELECT doc_id, '' AS lang,
         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(trim(text), '\\s+') END AS w
  FROM dedup
),
{_LANG_CTES},
{_quality_ctes('dedup')},
curated AS (
  SELECT b.doc_id, {_LANG_CASE} AS lang, h.n_tokens
  FROM best b JOIN h ON b.doc_id = h.doc_id
  WHERE ({_LANG_CASE}) <> 'und'
    AND {_QUALITY_EXPR} >= {CURATE_MIN_QUALITY}
    AND h.n_tokens BETWEEN 5 AND 5000
),
{_SHINGLE_CTES},
pbench AS (SELECT DISTINCT h FROM shh WHERE doc_id % 10 = 0),
contaminated AS (
  SELECT DISTINCT s.doc_id FROM shh s JOIN pbench b ON s.h = b.h
  WHERE s.doc_id % 10 <> 0
),
clean AS (
  SELECT c.doc_id, c.lang, c.n_tokens, {_FP_SQL} AS hsh
  FROM curated c JOIN dedup d2 ON c.doc_id = d2.doc_id
  WHERE c.doc_id % 10 <> 0
    AND c.doc_id NOT IN (SELECT doc_id FROM contaminated)
),
pbase AS (
  SELECT lang,
         COALESCE(SUM(lt2) OVER (ORDER BY lang
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS base
  FROM (SELECT lang, SUM(n_tokens) AS lt2 FROM clean GROUP BY lang)
),
pc AS (
  SELECT c.doc_id, c.lang, c.n_tokens,
         b.base + COALESCE(SUM(c.n_tokens) OVER (
           PARTITION BY c.lang ORDER BY c.hsh, c.doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM clean c JOIN pbase b USING (lang)
)
SELECT doc_id, lang, n_tokens,
       CAST(cum_before // {PACK_CONTEXT_LEN} AS BIGINT) AS seq_id,
       CAST(cum_before % {PACK_CONTEXT_LEN} AS BIGINT) AS seq_offset
FROM pc
""",
    description="FLAGSHIP end-to-end training-corpus preparation in ONE "
    "registered call — the complete Spark-first prep chain a user of "
    "this engine runs before tokenizing: exact dedup (keep lowest id) "
    "→ language-ID (drop 'und') → quality gate (≥ 0.5) → token bounds "
    "→ benchmark decontamination (drop training docs sharing any word "
    "n-gram with the held-out set AND the benchmark docs themselves) → "
    "GPT-style deterministic sequence packing of the survivors "
    f"(lang/content-hash/id order, cut every {PACK_CONTEXT_LEN} "
    "tokens). Every stage reuses the individually-gated operator, and "
    "the COMPOSITION is hash-checked end-to-end. Scale: dedup shuffle "
    "+ shingle equi-joins + per-lang prefix-sum windows over a "
    "broadcast per-lang base — no stage sees unpartitioned raw data",
    tags=("extension", "pipeline", "dedup", "curation"),
)
def prepare_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    deduped = docs.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    nt = token_count("text").cast("long")
    curated = (
        _tx.add_quality(_tx.add_lang_id(deduped, "text", "lang"), "text", "q")
        .select(
            "doc_id",
            "text",
            "lang",
            nt.alias("n_tokens"),
            "q",
        )
        .filter(
            (F.col("lang") != "und")
            & (F.col("q") >= CURATE_MIN_QUALITY)
            & F.col("n_tokens").between(5, 5000)
        )
    )
    sh = _dd.exploded_shingle_hashes(docs, "doc_id", "text")
    bench = sh.filter(F.col("doc_id") % 10 == 0).select("h").distinct()
    contaminated = (
        sh.filter(F.col("doc_id") % 10 != 0)
        .join(F.broadcast(bench), "h")
        .select("doc_id")
        .distinct()
    )
    clean = (
        curated.filter(F.col("doc_id") % 10 != 0)
        .join(contaminated, "doc_id", "left_anti")
        .select("doc_id", "lang", "n_tokens", "text")
    )
    from spotify_tracks_etl_portfolio_spark.operators.stats import (
        grouped_prefix_sum,
    )

    # global_base folds the per-lang base offsets into the kernel's
    # driver-side offset pass; the curation pipeline is evaluated
    # exactly once (the kernel's slim checkpoint)
    pre = grouped_prefix_sum(
        clean,
        ["lang"],
        rolling_hash("text"),
        ["doc_id"],
        F.col("n_tokens"),
        "__cum_before",
        val_out="n_tokens",
        lead_range=(0, _M - 1),
        global_base=True,
    )
    cum_before = F.col("__cum_before")
    return (
        pre
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            F.floor(cum_before / PACK_CONTEXT_LEN).cast("long").alias(
                "seq_id"
            ),
            (cum_before % PACK_CONTEXT_LEN).cast("long").alias("seq_offset"),
        )
    )



@register(
    "source_quality_summary",
    oracle=f"""
WITH {_quality_ctes('documents')},
base AS (
  SELECT d.source, d.lang, d.text, h.doc_id,
         {_QUALITY_EXPR} AS q
  FROM documents d JOIN h ON d.doc_id = h.doc_id
),
dupes AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT text) AS BIGINT) AS n_unique_texts,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         round(CAST(SUM(CAST(q AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
           AS avg_quality
  FROM base GROUP BY source
)
SELECT source, n_docs, n_unique_texts, n_langs, avg_quality,
       round((n_docs - n_unique_texts) * 1.0 / n_docs, 6) AS dup_ratio
FROM dupes
""",
    description="Per-source corpus health card (the curation dashboard's "
    "triage view): doc count, exact-duplicate ratio, language diversity, "
    "and mean quality score per source — one hash aggregation composing "
    "the quality-score operator; quality means sum 6-dp DECIMALs "
    "(order-exact). At 100 TB this is the query that decides which "
    "source to drop or re-crawl",
    tags=("extension", "text", "curation", "card"),
)
def source_quality_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _tx.add_quality(
        read_parquet_table(spark, sf_dir, "documents"), "text", "__q"
    )
    q = F.col("__q")
    agg = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("text").alias("n_unique_texts"),
        F.countDistinct("lang").alias("n_langs"),
        F.round(
            F.sum(F.round(q, 6).cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_quality"),
    )
    return agg.withColumn(
        "dup_ratio",
        F.round(
            (F.col("n_docs") - F.col("n_unique_texts")).cast("double")
            / F.col("n_docs"),
            6,
        ),
    )



@register(
    "temperature_sampled_language_mix",
    oracle=f"""
WITH c AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n,
         CAST(round(sqrt(count(*)) * 1000000) AS BIGINT) AS s
  FROM documents GROUP BY lang
),
t AS (SELECT CAST(SUM(n) AS BIGINT) AS total_n,
             CAST(SUM(s) AS BIGINT) AS total_s FROM c),
r AS (
  SELECT lang,
         LEAST(1000000, CAST(floor(
           ((CAST(floor((total_n + 1) / 2) AS BIGINT) * s)
            / (total_s * n)) * 1000000) AS BIGINT)) AS thr
  FROM c, t
),
h AS (
  SELECT doc_id, lang, ({_FP_SQL}) % 1000000 AS h FROM documents
)
SELECT doc_id, lang FROM h JOIN r USING (lang) WHERE h < thr
""",
    description="Temperature-based data mixing (the multilingual "
    "training-recipe primitive: T5/mT5-style α-smoothed sampling that "
    "UP-weights low-resource strata): per-language keep rates ∝ "
    "n_lang^(α−1) with α = 1/2 frozen — chosen because √ is the one "
    "non-rational step IEEE guarantees correctly rounded on every "
    "engine, so unlike pow(x, 0.7) the whole mix replays bit-exactly "
    "in DuckDB. Math is integer-exact end-to-end: per-lang √n scales "
    "to micro-ints, their SUM is a BIGINT (no order-sensitive float "
    "accumulation), each rate = (budget·s)/(W·n) is ONE "
    "correctly-rounded division of exact ints (budget = ⌈N/2⌉ of the "
    "corpus), and membership is a content-hash threshold — "
    "deterministic, rerun-stable, no RNG, so a data mix is "
    "reproducible from the recipe alone. One groupBy + one broadcast "
    "join at any scale; at extreme N the BIGINT products upgrade to "
    "DECIMAL(38,0). Measured at the gate: en (218 docs) keeps ~35%, "
    "fr (64) keeps ~65% — the upweighting inversion the recipe "
    "exists for. Registered via the pending-r11 gate",
    tags=("extension", "curation", "sampling"),
)
def temperature_sampled_language_mix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    m = 1_000_000
    c = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).select(
        "lang",
        "n",
        F.round(F.sqrt("n") * m).cast("long").alias("s"),
    )
    t = c.agg(
        F.sum("n").alias("total_n"), F.sum("s").alias("total_s")
    )
    budget = F.floor((F.col("total_n") + 1) / 2).cast("long")
    rate = (budget * F.col("s")) / (F.col("total_s") * F.col("n"))
    r = c.crossJoin(F.broadcast(t)).select(
        "lang",
        F.least(
            F.lit(m), F.floor(rate * m).cast("long")
        ).alias("thr"),
    )
    h = docs.select(
        "doc_id", "lang", (rolling_hash("text") % m).alias("h")
    )
    return (
        h.join(F.broadcast(r), "lang")
        .filter(F.col("h") < F.col("thr"))
        .select("doc_id", "lang")
    )



#: Max duplicate-2gram fraction a doc may keep after the substring cut
#: (the Gopher dup-fraction gate of the v2 pipeline).
CURATE_MAX_DUP2 = 0.2



@register(
    "curate_training_corpus_v2",
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
),
cleaned AS (
  SELECT doc_id, string_agg(t, ' ' ORDER BY p) AS text,
         CAST(count(*) AS BIGINT) AS kept_tokens
  FROM keep GROUP BY doc_id
),
ctb AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(trim(text), '\\s+') END AS w
  FROM cleaned
),
rep AS (SELECT doc_id, {_dup_ngram_sql(2)} AS dup_2gram_frac FROM ctb),
qg AS (
  SELECT doc_id, len(w) AS n_tok,
         len(list_filter(w, t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS n_stop,
         length(text) AS n_chars,
         len(regexp_extract_all(text, '[.,!?;:]')) AS n_punct,
         len(regexp_extract_all(text, '[0-9]')) AS n_digit
  FROM ctb JOIN cleaned USING (doc_id)
),
qh AS (
  SELECT doc_id,
         CAST(n_tok AS BIGINT) AS n_tokens,
         round(n_stop * 1.0 / greatest(n_tok, 1), 6) AS stopword_ratio,
         round(n_punct * 1.0 / greatest(n_chars, 1), 6) AS punct_ratio,
         round(n_digit * 1.0 / greatest(n_chars, 1), 6) AS digit_ratio
  FROM qg
),
q AS (SELECT doc_id, {_QUALITY_EXPR} AS quality_score FROM qh),
fp2 AS (SELECT doc_id, {_FP_SQL} AS fv FROM cleaned)
SELECT c.doc_id, c.kept_tokens, q.quality_score, r.dup_2gram_frac,
       CASE WHEN fp2.fv % 100 < 90 THEN 'train'
            WHEN fp2.fv % 100 < 95 THEN 'val'
            ELSE 'test' END AS split
FROM cleaned c
JOIN q USING (doc_id) JOIN rep r USING (doc_id) JOIN fp2 USING (doc_id)
WHERE r.dup_2gram_frac <= {CURATE_MAX_DUP2}
  AND q.quality_score >= {CURATE_MIN_QUALITY}
""",
    description="V2 curation pipeline composing this round's operators "
    "end-to-end as ONE Catalyst plan: ExactSubstr cut (every >= 8-token "
    "cross-doc repeat removed, fully-duplicated docs drop) → Gopher "
    "duplicate-2gram gate (<= 0.2 on the CLEANED text) → quality gate "
    "(>= 0.5, same fixed formula as quality_score_documents, scored on "
    "the cleaned text) → content-hash 90/5/5 split of the cleaned text. "
    "Beyond the span detector's two linear shuffles everything is "
    "zero-shuffle row-local projection; the whole composition is "
    "hash-checked against a single oracle CTE chain reusing the "
    "ExactSubstr, repetition, quality, and split blocks",
    tags=("extension", "dedup", "text", "curation", "pipeline"),
)
def curate_training_corpus_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    # Slim localCheckpoint (the grouped_prefix_sum pattern): without it,
    # projection collapse INLINES the text_clean rebuild (the whole
    # span-join + higher-order position filter + array_join chain) into
    # EACH downstream expression — quality, dup-fraction, and the split
    # hash each re-derive the cleaned corpus (5 copies in the optimized
    # plan; measured 48.5 s vs ~3 s for the span detector alone at
    # sf0.1). Materializing the cleaned relation once is also what a
    # real pipeline does — the cleaned corpus IS a persisted artifact.
    cleaned = _dd.exact_substring_dedup(docs, "doc_id", "text").localCheckpoint(
        eager=False
    )
    bucket = F.pmod(rolling_hash("text_clean"), F.lit(100))
    scored = cleaned.select(
        "doc_id",
        "kept_tokens",
        _tx.quality_score("text_clean").alias("quality_score"),
        _tx.ngram_dup_fraction("text_clean", 2).alias("dup_2gram_frac"),
        bucket.alias("__b"),
    )
    return scored.filter(
        (F.col("dup_2gram_frac") <= CURATE_MAX_DUP2)
        & (F.col("quality_score") >= CURATE_MIN_QUALITY)
    ).select(
        "doc_id",
        "kept_tokens",
        "quality_score",
        "dup_2gram_frac",
        F.when(F.col("__b") < 90, "train")
        .when(F.col("__b") < 95, "val")
        .otherwise("test")
        .alias("split"),
    )



@register(
    "chunk_documents_sliding",
    oracle=f"""
WITH ch AS (
  SELECT doc_id,
         greatest(1, CAST(ceil((len(text) - {_tx.CHUNK_CHARS}) / {_tx.CHUNK_STRIDE}.0) AS BIGINT) + 1) AS n_chunks
  FROM documents
)
SELECT d.doc_id,
       i AS chunk_idx,
       substr(d.text, CAST((i-1)*{_tx.CHUNK_STRIDE} + 1 AS INT), {_tx.CHUNK_CHARS}) AS chunk,
       c.n_chunks
FROM documents d
JOIN ch c USING (doc_id), unnest(range(1, c.n_chunks + 1)) AS t(i)
""",
    description=f"Sliding-window chunking ({_tx.CHUNK_CHARS}-char chunks, "
    f"{_tx.CHUNK_STRIDE}-char stride ⇒ {_tx.CHUNK_CHARS - _tx.CHUNK_STRIDE}-char "
    "overlap) — the embedding/RAG prep operator: sequence → posexplode → "
    "substr is a pure generator projection with ZERO shuffles; chunk "
    "count is a deterministic function of text length so re-runs and "
    "retries produce identical chunk ids at any scale",
    tags=("extension", "text"),
)
def chunk_documents_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    return _tx.sliding_chunks(docs, "doc_id", "text")



@register(
    "weighted_sample_documents",
    oracle=f"""
WITH fp AS (
  SELECT doc_id, n_chars,
         {_TOKEN_HASH.format(t="text")} AS f
  FROM documents
),
k AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
         round(ln((((f * 31 + doc_id) % 1000000007) + 1)
                  / CAST(1000000008 AS DOUBLE)) / n_chars, 12) AS sample_key
  FROM fp
)
SELECT doc_id, weight, sample_key
FROM k
ORDER BY sample_key DESC, doc_id
LIMIT 50
""",
    description="Deterministic weighted sampling without replacement "
    "(Efraimidis–Spirakis A-ES): key = ln(u)/w with u a hash-derived "
    "uniform (document fingerprint ⊕ doc_id — no RNG, reruns bit-"
    "identical) and w = n_chars; top-50 keys win. ln is 12-dp-rounded "
    "for cross-engine parity; the top-k is TakeOrderedAndProject (per-"
    "partition heaps, no global sort) so the sample draw is one scan "
    "at any scale",
    tags=("extension", "curation"),
)
def weighted_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    u = (
        (rolling_hash("text") * 31 + F.col("doc_id")) % F.lit(1000000007) + 1
    ) / F.lit(1000000008.0)
    key = F.round(F.log(u) / F.col("n_chars"), 12)
    return (
        docs.select(
            "doc_id",
            F.col("n_chars").cast("long").alias("weight"),
            key.alias("sample_key"),
        )
        .orderBy(F.col("sample_key").desc(), "doc_id")
        .limit(50)
    )



#: DSIR feature-hash bucket count. Gate-scale sized (the synthetic
#: vocabulary is small); the DSIR paper uses 10k — at 100 TB raise it:
#: cost is one B-row broadcast recipe either way.
_DSIR_BUCKETS = 64



#: Resampled selection size (Gumbel top-k).
_DSIR_K = 100



def dsir_importance_scores(
    docs: DataFrame,
    is_target,
    buckets: int = _DSIR_BUCKETS,
    k: int = _DSIR_K,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR-style importance resampling (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): select
    the raw-corpus docs whose hashed-n-gram distribution looks most
    like a TARGET corpus — the standard targeted-data-selection step a
    100 TB pipeline runs between dedup and mixing.

    1. Features: every unigram and adjacent bigram hashes into one of
       ``buckets`` dimensions (the paper's hashed n-gram features; the
       same polynomial rolling hash the rest of the text family uses).
    2. Two bag-of-features unigram LMs from TWO corpus scans — the
       target side (rows matching ``is_target``) and the raw side (all
       rows) — each one tiny groupBy(dim) aggregate; add-1 smoothed.
    3. The per-bucket log-likelihood ratio λ_b = ln p(b) − ln q(b) is a
       ``buckets``-number BROADCAST RECIPE (collected bounded, rounded
       to 6 dp on the driver), so per-doc importance weights are a
       ZERO-SHUFFLE projection: log w(doc) = Σ_features λ_feature,
       folded as an exact DECIMAL sum (order-independent — no float
       accumulation anywhere).
    4. Resampling without replacement = Gumbel top-k: score =
       log w + G with G a hash-derived deterministic Gumbel
       (−ln(−ln u), u from the document fingerprint ⊕ id — the
       weighted_sample_documents machinery; no RNG, reruns and the
       DuckDB oracle replay bit-identically), TakeOrderedAndProject
       keeps the k winners.

    Scale shape: two feature-count aggregates (shuffle = B-bounded
    partials) + one pure-projection scoring pass + one top-k — the
    raw corpus is read twice and shuffled never."""
    b = buckets
    toks = _tx.tokens(text_col)
    uni = F.transform(toks, lambda t: rolling_hash(t) % b)
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(toks, (i + 1).cast("int")),
                F.element_at(toks, (i + 2).cast("int")),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    dims = F.concat(uni, F.transform(bigrams, lambda g: rolling_hash(g) % b))

    feats = docs.select(
        F.col(id_col), is_target.alias("__t"), F.explode(dims).alias("dim")
    )
    raw_counts = {
        r["dim"]: r["n"]
        for r in feats.groupBy("dim").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    tgt_counts = {
        r["dim"]: r["n"]
        for r in feats.filter(F.col("__t"))
        .groupBy("dim")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    import math
    from decimal import Decimal

    nr = sum(raw_counts.values())
    nt = sum(tgt_counts.values())
    lam = [
        Decimal(
            f"{round(math.log((tgt_counts.get(j, 0) + 1) / (nt + b)) - math.log((raw_counts.get(j, 0) + 1) / (nr + b)), 6):.6f}"
        )
        for j in range(b)
    ]
    lam_arr = F.array(*[F.lit(l).cast("decimal(18,6)") for l in lam])
    logw_dec = F.aggregate(
        dims,
        F.lit(Decimal(0)).cast("decimal(38,6)"),
        lambda acc, d: (
            acc + F.element_at(lam_arr, (d + 1).cast("int"))
        ).cast("decimal(38,6)"),
    )
    u = (
        (rolling_hash(text_col) * 31 + F.col(id_col)) % F.lit(1000000007) + 1
    ) / F.lit(1000000008.0)
    gum = F.round(-F.log(-F.log(u)), 6).cast("decimal(18,6)")
    return (
        docs.select(
            F.col(id_col),
            logw_dec.alias("__lw"),
            gum.alias("__g"),
        )
        .select(
            id_col,
            F.col("__lw").cast("double").alias("logw"),
            (F.col("__lw") + F.col("__g")).cast("double").alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )



def _dsir_oracle(b: int = _DSIR_BUCKETS, k: int = _DSIR_K) -> str:
    th_t = _TOKEN_HASH.format(t="t")
    th_text = _TOKEN_HASH.format(t="text")
    return f"""
WITH tk AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
  FROM documents WHERE trim(text) <> ''
),
feats AS (
  SELECT doc_id, ({th_t}) % {b} AS dim FROM (
    SELECT doc_id, unnest(w) AS t FROM tk
    UNION ALL
    SELECT doc_id,
           unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS t
    FROM tk WHERE len(w) >= 2
  )
),
raw AS (SELECT dim, count(*) AS cr FROM feats GROUP BY dim),
tgt AS (
  SELECT f.dim, count(*) AS ct
  FROM feats f JOIN documents d USING (doc_id)
  WHERE d.lang = 'en' GROUP BY f.dim
),
tot AS (
  SELECT (SELECT count(*) FROM feats) AS nr,
         (SELECT count(*) FROM feats f JOIN documents d USING (doc_id)
          WHERE d.lang = 'en') AS nt
),
lam AS (
  SELECT dims.dim,
         CAST(round(ln((coalesce(t.ct, 0) + 1.0) / (tot.nt + {b}))
                  - ln((coalesce(r.cr, 0) + 1.0) / (tot.nr + {b})), 6)
              AS DECIMAL(18,6)) AS lam
  FROM (SELECT unnest(range({b})) AS dim) dims
  LEFT JOIN raw r USING (dim)
  LEFT JOIN tgt t USING (dim), tot
),
lw AS (
  SELECT d.doc_id,
         coalesce(sum(l.lam), CAST(0 AS DECIMAL(18,6))) AS lw_dec
  FROM documents d
  LEFT JOIN feats f USING (doc_id)
  LEFT JOIN lam l ON f.dim = l.dim
  GROUP BY d.doc_id
),
g AS (
  SELECT doc_id,
         CAST(round(-ln(-ln(((({th_text} * 31 + doc_id) % 1000000007) + 1)
                            / CAST(1000000008 AS DOUBLE))), 6)
              AS DECIMAL(18,6)) AS gum
  FROM documents
)
SELECT lw.doc_id,
       CAST(lw.lw_dec AS DOUBLE) AS logw,
       CAST(lw.lw_dec + g.gum AS DOUBLE) AS score
FROM lw JOIN g ON lw.doc_id = g.doc_id
ORDER BY score DESC, lw.doc_id
LIMIT {k}
"""



@register(
    "dsir_resample_documents",
    oracle=_dsir_oracle(),
    description="DSIR-style importance resampling (Xie et al. 2023 — "
    "the targeted-data-selection step between dedup and mixing): "
    "hashed unigram+bigram features, add-1-smoothed target-vs-raw "
    f"bag-of-features LMs (target = lang='en'; {_DSIR_BUCKETS} "
    "buckets at gate scale, the paper's 10k is a knob), per-bucket "
    "log-ratios collected as a bounded 6-dp broadcast recipe, per-doc "
    "log-weights folded as ORDER-INDEPENDENT exact DECIMAL sums in a "
    "zero-shuffle projection, and Gumbel top-"
    f"{_DSIR_K} selection with hash-derived deterministic Gumbel "
    "noise (no RNG — the draw replays bit-identically in DuckDB). "
    "Two B-bounded feature aggregates + one projection + "
    "TakeOrderedAndProject: the raw corpus is read twice, shuffled "
    "never",
    tags=("extension", "curation"),
)
def dsir_resample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    return dsir_importance_scores(docs, F.col("lang") == "en")


