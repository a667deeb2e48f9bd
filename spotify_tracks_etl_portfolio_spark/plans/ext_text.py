"""Text-analysis extension queries: language ID, quality, Gopher rules,
n-gram stats, LM scoring/perplexity, BPE, sketches, and text search."""



from __future__ import annotations



import os

import tempfile

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from spotify_tracks_etl_portfolio_spark.functions import rolling_hash, token_count

from spotify_tracks_etl_portfolio_spark.plans import register

from spotify_tracks_etl_portfolio_spark.sources.readers import read_parquet_table

from spotify_tracks_etl_portfolio_spark.streaming.pipeline import (
    pinned_stream_session,
)

from spotify_tracks_etl_portfolio_spark.operators import text as _tx  # noqa: E402

# same answer ⇒ same oracle (import here to avoid a module-level cycle)
from spotify_tracks_etl_portfolio_spark.plans import QUERIES as _Q  # noqa: E402

from spotify_tracks_etl_portfolio_spark.plans.analytics import _bm25_oracle  # noqa: E402

from spotify_tracks_etl_portfolio_spark.plans._ext_shared import (  # noqa: E501
    _LANG_CASE,
    _LANG_CTES,
    _QUALITY_EXPR,
    _TOKEN_HASH,
    _artifact_root,
    _build_artifact_once,
    _dup_ngram_sql,
    _gopher_pass_sql,
    _gopher_sig_sql,
    _quality_ctes,
    _sql_cos,
)



@register(
    "text_stats_documents",
    oracle="""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(CASE WHEN trim(text) = '' THEN 0
                 ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_tokens,
       CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                 t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS BIGINT) AS n_stopwords
FROM documents
""",
    description="Text quality stats: char count, whitespace token count, "
    "stopword count — all JVM-side array ops, no UDF",
    tags=("extension", "text"),
)
def text_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    toks = F.split(F.trim("text"), r"\s+")
    stop = F.filter(toks, lambda t: t.isin("the", "a", "of", "and", "to"))
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        token_count("text").cast("long").alias("n_tokens"),
        F.when(F.trim("text") == "", F.lit(0))
        .otherwise(F.size(stop))
        .cast("long")
        .alias("n_stopwords"),
    )



@register(
    "lang_id_documents",
    oracle=f"""
WITH toks2 AS (
  SELECT doc_id, lang,
         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(trim(text), '\\s+') END AS w
  FROM documents
),
{_LANG_CTES}
SELECT doc_id, lang AS labeled_lang, {_LANG_CASE} AS predicted_lang FROM best
""",
    description="Heuristic language ID: marker-word hit argmax with fixed "
    "tie-break order; pure Column exprs (no UDF)",
    tags=("extension", "text"),
)
def lang_id_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    return _tx.add_lang_id(docs, "text", "predicted_lang").select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        "predicted_lang",
    )



@register(
    "quality_score_documents",
    oracle=f"""
WITH {_quality_ctes('documents')}
SELECT doc_id, n_tokens, stopword_ratio, punct_ratio, digit_ratio,
       {_QUALITY_EXPR} AS quality_score
FROM h
""",
    description="Document quality scoring: token/stopword/punct/digit "
    "signals combined by a fixed formula",
    tags=("extension", "text"),
)
def quality_score_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    feats = _tx.quality_features("text")
    return docs.select(
        "doc_id",
        feats["n_tokens"].alias("n_tokens"),
        feats["stopword_ratio"].alias("stopword_ratio"),
        feats["punct_ratio"].alias("punct_ratio"),
        feats["digit_ratio"].alias("digit_ratio"),
        _tx.quality_score("text").alias("quality_score"),
    )



@register(
    "bpe_token_counts",
    oracle=r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT)
         AS n_bpe_tokens
FROM documents
""",
    description="BPE-ish pre-tokenizer counts: letter runs, digit runs, "
    "single punctuation (regexp_count, JVM-side)",
    tags=("extension", "text"),
)
def bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", _tx.bpe_token_count("text").cast("long").alias("n_bpe_tokens")
    )



@register(
    "repetition_stats_documents",
    oracle="""
WITH dtoks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
  FROM documents WHERE trim(text) <> ''
),
dtf AS (
  SELECT doc_id, token, count(*) AS cnt FROM dtoks GROUP BY doc_id, token
),
dtop AS (
  SELECT doc_id, token, cnt,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY cnt DESC, token DESC) AS rn,
         CAST(sum(cnt) OVER (PARTITION BY doc_id) AS BIGINT) AS n_tokens,
         CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n_distinct_tokens
  FROM dtf
)
SELECT doc_id, n_tokens, n_distinct_tokens,
       token AS top_token,
       round(cnt * 1.0 / n_tokens, 6) AS top_token_ratio,
       round(n_distinct_tokens * 1.0 / n_tokens, 6) AS distinct_ratio
FROM dtop WHERE rn = 1
""",
    description="Repetition signals (Gopher-style quality rules): per "
    "doc, total/distinct token counts, the most frequent token and its "
    "frequency ratio (high top-token ratio or low distinct ratio = "
    "degenerate repetitive text → filter candidate). One explode + two "
    "hash aggregations; argmax is max(struct(cnt, token)) — no sort, "
    "deterministic tie to the lexicographically larger token",
    tags=("extension", "text", "curation"),
)
def repetition_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spotify_tracks_etl_portfolio_spark.operators.text import tokens

    docs = read_parquet_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens("text")).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("cnt"))
    stats = tf.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct_tokens"),
        F.max(F.struct("cnt", "token")).alias("__top"),
    )
    return stats.select(
        "doc_id",
        "n_tokens",
        "n_distinct_tokens",
        F.col("__top.token").alias("top_token"),
        F.round(
            F.col("__top.cnt").cast("double") / F.col("n_tokens"), 6
        ).alias("top_token_ratio"),
        F.round(
            F.col("n_distinct_tokens").cast("double") / F.col("n_tokens"), 6
        ).alias("distinct_ratio"),
    )



_GOPHER_PASS_SQL = _gopher_pass_sql()



_GOPHER_ORACLE = f"""
WITH {_gopher_sig_sql()}
SELECT doc_id,
       n_words,
       round(csum * 1.0 / greatest(n_words, 1), 6) AS mean_word_len,
       round(n_hash * 1.0 / greatest(n_words, 1), 6) AS hash_word_ratio,
       round(n_ellsym * 1.0 / greatest(n_words, 1), 6) AS ellipsis_word_ratio,
       round(n_bullet * 1.0 / greatest(n_lines, 1), 6) AS bullet_line_frac,
       round(n_ell * 1.0 / greatest(n_lines, 1), 6) AS ellipsis_line_frac,
       round(n_alpha * 1.0 / greatest(n_words, 1), 6) AS alpha_word_frac,
       n_stop AS n_required_stopwords,
       n_words BETWEEN 50 AND 100000 AS flag_word_count,
       n_words > 0 AND 3 * n_words <= csum AND csum <= 10 * n_words
         AS flag_mean_word_len,
       n_words > 0 AND 10 * n_hash <= n_words AND 10 * n_ellsym <= n_words
         AS flag_symbol_ratio,
       10 * n_bullet <= 9 * n_lines AS flag_bullet_lines,
       10 * n_ell <= 3 * n_lines AS flag_ellipsis_lines,
       n_words > 0 AND 5 * n_alpha >= 4 * n_words AS flag_alpha_words,
       n_stop >= 2 AS flag_stop_words,
       {_GOPHER_PASS_SQL} AS gopher_pass
FROM sig
"""



@register(
    "gopher_quality_gate_documents",
    oracle=_GOPHER_ORACLE,
    description="The FULL published Gopher quality-rule composition "
    "(Rae et al. 2021 A1.1; the r10-verdict item): word-count bounds, "
    "mean-word-length band, symbol/word ratio, bullet- and "
    "ellipsis-line fractions, alphabetic-word fraction, required "
    "stop-word presence — one zero-shuffle JVM projection "
    "(operators/text.py::gopher_rules) emitting each rule's signal, "
    "its boolean flag, and the composite gopher_pass gate. Every "
    "threshold evaluates as an integer cross-multiplication (never a "
    "float division), so boundary docs can't flip between engines; "
    "ratio columns are 6-dp display values. At 100 TB this is a pure "
    "map pass — no shuffle, no Python, rules read per-row state only",
    tags=("extension", "text", "curation", "quality"),
)
def gopher_quality_gate_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import functools

    from spotify_tracks_etl_portfolio_spark.operators.text import (
        gopher_rules,
    )

    docs = read_parquet_table(spark, sf_dir, "documents")
    r = gopher_rules("text")
    flags = [k for k in r if k.startswith("flag_")]
    gate = functools.reduce(lambda a, b: a & b, (r[k] for k in flags))
    return docs.select(
        "doc_id",
        *[r[k].alias(k) for k in r],
        gate.alias("gopher_pass"),
    )



@register(
    "ngram_repetition_documents",
    oracle=f"""
WITH tb AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(trim(text), '\\s+') END AS w
  FROM documents
)
SELECT doc_id,
       {_dup_ngram_sql(2)} AS dup_2gram_frac,
       {_dup_ngram_sql(3)} AS dup_3gram_frac,
       {_dup_ngram_sql(4)} AS dup_4gram_frac
FROM tb
""",
    description="Within-doc n-gram repetition fractions (the Gopher "
    "duplicate-2/3/4-gram rules): per doc, the fraction of word "
    "n-grams repeating an earlier n-gram of the SAME doc — the "
    "looping/boilerplate filter signal that complements "
    "repetition_stats' token-level ratios. Computed entirely inside "
    "the row with higher-order functions (sequence → slice → "
    "array_distinct): a pure zero-shuffle projection at any corpus "
    "size, the cheapest dedup-family signal because it never compares "
    "across rows",
    tags=("extension", "text", "curation"),
)
def ngram_repetition_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        _tx.ngram_dup_fraction("text", 2).alias("dup_2gram_frac"),
        _tx.ngram_dup_fraction("text", 3).alias("dup_3gram_frac"),
        _tx.ngram_dup_fraction("text", 4).alias("dup_4gram_frac"),
    )



@register(
    "top_bigrams",
    oracle="""
WITH bt AS (
  SELECT doc_id,
         string_split_regex(trim(text), '\\s+') AS w
  FROM documents WHERE trim(text) <> ''
),
bg AS (
  SELECT doc_id,
         unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS bigram
  FROM bt WHERE len(w) >= 2
),
bc AS (SELECT bigram, CAST(count(*) AS BIGINT) AS n FROM bg GROUP BY bigram)
SELECT bigram, n FROM bc
ORDER BY n DESC, bigram
LIMIT 50
""",
    description="Corpus-wide top-50 bigrams (vocabulary/merge-rule "
    "mining for BPE-style tokenizers): adjacent-token pairs built as a "
    "pure array transform (no self-join), one explode + one hash "
    "aggregation + TakeOrderedAndProject; count-desc with bigram "
    "tie-break for deterministic membership",
    tags=("extension", "text"),
)
def top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spotify_tracks_etl_portfolio_spark.operators.text import tokens

    docs = read_parquet_table(spark, sf_dir, "documents")
    toks = tokens("text")
    bigrams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - 2),
        lambda i: F.concat_ws(
            " ",
            F.element_at(toks, (i + 1).cast("int")),
            F.element_at(toks, (i + 2).cast("int")),
        ),
    )
    return (
        docs.filter(F.size(toks) >= 2)
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(50)
    )



@register(
    "token_length_histogram",
    oracle="""
WITH tl AS (
  SELECT CAST(CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS nt
  FROM documents
)
SELECT (nt // 10) * 10 AS bucket, CAST(count(*) AS BIGINT) AS n_docs
FROM tl GROUP BY 1
""",
    description="Document length distribution (curation dashboard "
    "staple): token counts bucketed by 10 — one projection + one tiny "
    "hash aggregation, the length-cutoff calibration view for quality "
    "filtering",
    tags=("extension", "text", "card"),
)
def token_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    nt = token_count("text").cast("long")
    return (
        docs.select((F.floor(nt / 10) * 10).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )



@register(
    "unigram_logprob_documents",
    oracle="""
WITH utoks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
  FROM documents WHERE trim(text) <> ''
),
utf AS (SELECT token, count(*) AS cnt FROM utoks GROUP BY token),
utot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n FROM utf),
ulp AS (
  SELECT token,
         CAST(round(ln(cnt / n), 9) AS DECIMAL(20, 9)) AS lp
  FROM utf, utot
)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(round(CAST(sum(l.lp) AS DOUBLE), 6) AS DOUBLE) AS total_logprob,
       round(CAST(sum(l.lp) AS DOUBLE) / count(*), 6) AS avg_logprob
FROM utoks t JOIN ulp l ON t.token = l.token
GROUP BY t.doc_id
""",
    description="Unigram LM log-probability per document (the "
    "CCNet-style perplexity proxy for quality filtering: low avg "
    "logprob = rare-token-heavy text): corpus token frequencies feed "
    "per-token logprobs, per-doc totals come from ONE broadcast join "
    "(the unigram table is small) + a hash aggregation. Determinism: "
    "each logprob is rounded to 9 dp and summed as DECIMAL — exact and "
    "order-insensitive regardless of partitioning — then divided once "
    "in DOUBLE at the output",
    tags=("extension", "text", "curation"),
)
def unigram_logprob_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spotify_tracks_etl_portfolio_spark.operators.text import tokens

    docs = read_parquet_table(spark, sf_dir, "documents")
    # (r13 optimization round: a scan_parallelism fan-out of this
    # explode was measured and REVERTED — the token explode is cheap
    # per row and feeds multiple consumers, so the extra round-robin
    # exchange cost more than the serial map phase it rescued:
    # 0.87 s → 1.3 s at sf0.1.)
    toks = docs.select("doc_id", F.explode(tokens("text")).alias("token"))
    tf = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = tf.agg(F.sum("cnt").cast("double").alias("n"))
    lp = (
        tf.crossJoin(F.broadcast(total))
        .select(
            "token",
            F.round(F.log(F.col("cnt") / F.col("n")), 9)
            .cast("decimal(20,9)")
            .alias("lp"),
        )
    )
    return (
        # no broadcast hint: lp is one row per DISTINCT token — a
        # vocabulary-scaled table at 100 TB; size-based planning
        # broadcasts it at small SF and shuffle-joins it at large.
        toks.join(lp, "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lp").alias("__dec_lp"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.round(F.col("__dec_lp").cast("double"), 6).alias("total_logprob"),
            F.round(
                F.col("__dec_lp").cast("double") / F.col("n_tokens"), 6
            ).alias("avg_logprob"),
        )
    )



#: Add-k smoothing constant for the bigram LM (k=0.5, Jeffreys prior).
BIGRAM_K = 0.5



#: Bigram add-k LM CTE chain (model counts → per-doc 9-dp DECIMAL
#: logprob sums) — shared by the per-doc scorer and the CCNet-style
#: perplexity bucketing.
_BIGRAM_LP_CTES = f"""btb AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
  FROM documents WHERE trim(text) <> ''
),
bpairs AS (
  SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
  FROM btb, unnest(range(1, len(w))) t(i)
  WHERE len(w) >= 2
),
bbc AS (SELECT w1, w2, count(*) AS cab FROM bpairs GROUP BY w1, w2),
buc AS (SELECT w1, count(*) AS ca FROM bpairs GROUP BY w1),
bv AS (
  SELECT CAST(count(DISTINCT t) AS DOUBLE) AS vv
  FROM (SELECT unnest(w) AS t FROM btb)
),
blp AS (
  SELECT p.doc_id,
         CAST(round(ln((bc.cab + {BIGRAM_K}) / (uc.ca + {BIGRAM_K} * v.vv)), 9)
              AS DECIMAL(20, 9)) AS l
  FROM bpairs p
  JOIN bbc bc ON p.w1 = bc.w1 AND p.w2 = bc.w2
  JOIN buc uc ON p.w1 = uc.w1, bv v
),
bagg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         sum(l) AS s
  FROM blp GROUP BY doc_id
)"""



@register(
    "bigram_logprob_documents",
    oracle=f"""
WITH {_BIGRAM_LP_CTES}
SELECT d.doc_id,
       COALESCE(a.n_bigrams, 0) AS n_bigrams,
       COALESCE(round(CAST(a.s AS DOUBLE) / a.n_bigrams, 6), 0.0)
         AS avg_logprob
FROM documents d LEFT JOIN bagg a USING (doc_id)
""",
    description="BIGRAM LM log-probability per document (the step past "
    "the unigram proxy toward CCNet's KenLM filter): corpus bigram and "
    "first-position unigram counts feed add-k-smoothed conditional "
    "logprobs P(w2|w1)=(c12+k)/(c1+kV); per-doc averages flag "
    "incoherent word SEQUENCES that unigram frequency cannot see "
    "(shuffled text scores like fluent text under a unigram LM). "
    "Scale shape: two hash aggregations for the model, one "
    "vocabulary-scaled equi-join for scoring (no broadcast hint — "
    "bigram tables grow with the corpus), per-doc 9-dp DECIMAL sums "
    "for order-insensitive determinism; docs with <2 tokens come back "
    "0/0.0 through the left join",
    tags=("extension", "text", "curation"),
)
def bigram_logprob_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spotify_tracks_etl_portfolio_spark.operators.text import tokens

    docs = read_parquet_table(spark, sf_dir, "documents")
    toks = tokens("text")
    # (r13 optimization round: a scan_parallelism fan-out of the pair
    # explode was measured and REVERTED — three consumers re-explode
    # the pairs, so the added round-robin exchange cost more than the
    # serial map phase it rescued: 2.05 s → 2.45 s at sf0.1.)
    # greatest(…, 0): slice() rejects negative lengths, and empty/1-token
    # docs would produce size-1 = -1 (verified crash) — they must yield
    # zero pairs instead.
    n_pairs = F.greatest(F.size(toks) - 1, F.lit(0))
    pairs = docs.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice(toks, 1, n_pairs),
                F.slice(toks, 2, n_pairs),
                lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    bc = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cab"))
    uc = pairs.groupBy("w1").agg(F.count(F.lit(1)).alias("ca"))
    v = docs.select(F.explode(toks).alias("t")).agg(
        F.countDistinct("t").cast("double").alias("vv")
    )
    lp = (
        pairs.join(bc, ["w1", "w2"])
        .join(uc, "w1")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            F.round(
                F.log(
                    (F.col("cab") + F.lit(BIGRAM_K))
                    / (F.col("ca") + F.lit(BIGRAM_K) * F.col("vv"))
                ),
                9,
            )
            .cast("decimal(20,9)")
            .alias("l"),
        )
    )
    agg = lp.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("l").alias("__s"),
    )
    return docs.select("doc_id").join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_bigrams", F.lit(0).cast("long")).alias("n_bigrams"),
        F.coalesce(
            F.round(F.col("__s").cast("double") / F.col("n_bigrams"), 6),
            F.lit(0.0),
        ).alias("avg_logprob"),
    )



#: Histogram-sketch bin width for perplexity bucketing, in micro-units
#: of avg_logprob (2^9 ≈ 0.0005 logprob units): a language's scores
#: concentrate in a few hundredths of a logprob unit, so tercile
#: thresholds need sub-millunit bins; even a several-unit global range
#: stays a few thousand cells per language — sketch-sized.
CCNET_BIN = 1 << 9



@register(
    "ccnet_perplexity_buckets",
    oracle=f"""
WITH {_BIGRAM_LP_CTES},
sc AS (
  SELECT d.doc_id, d.lang, a.n_bigrams,
         round(CAST(a.s AS DOUBLE) / a.n_bigrams, 6) AS avg_logprob
  FROM documents d JOIN bagg a USING (doc_id)
),
bins AS (
  SELECT doc_id, lang, n_bigrams, avg_logprob,
         CAST(floor(round(avg_logprob * 1000000) / {CCNET_BIN}.0) AS BIGINT) AS b
  FROM sc
),
lc AS (SELECT lang, b, CAST(count(*) AS BIGINT) AS c FROM bins GROUP BY lang, b),
lt AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n FROM lc GROUP BY lang),
lcum AS (
  SELECT lang, b,
         SUM(c) OVER (PARTITION BY lang ORDER BY b
                      ROWS UNBOUNDED PRECEDING) AS cum
  FROM lc
),
t33 AS (
  SELECT l.lang, min(b) AS b33 FROM lcum l JOIN lt USING (lang)
  WHERE cum >= CAST(floor((n + 2) / 3) AS BIGINT) GROUP BY l.lang
),
t66 AS (
  SELECT l.lang, min(b) AS b66 FROM lcum l JOIN lt USING (lang)
  WHERE cum >= CAST(floor((2 * n + 2) / 3) AS BIGINT) GROUP BY l.lang
)
SELECT doc_id, lang, n_bigrams, avg_logprob,
       CASE WHEN b <= b33 THEN 'tail' WHEN b <= b66 THEN 'middle'
            ELSE 'head' END AS ppl_bucket
FROM bins JOIN t33 USING (lang) JOIN t66 USING (lang)
""",
    description="CCNet-style per-language perplexity bucketing "
    "(Wenzek et al. 2020: score each doc with an LM, split every "
    "language into head/middle/tail terciles, train on head+middle): "
    "the add-k bigram LM scores each doc (shared model CTEs with "
    "bigram_logprob_documents; higher avg logprob = more fluent), "
    "per-language tercile THRESHOLDS come from the mergeable "
    "histogram-sketch cells (micro-int binned scores, per-(lang, bin) "
    "counts, integer rank selection — never a per-language sort of "
    "raw docs), and bucket assignment compares integer BINS, so no "
    "engine's float rounding can flip a boundary doc. Scale shape: "
    "the LM model is two hash aggs, scoring one vocabulary-scaled "
    "equi-join, thresholds run over #langs × #bins sketch rows, and "
    "the bucket join broadcasts #langs threshold rows. Docs with <2 "
    "tokens are unscoreable and excluded (CCNet drops them). "
    "Registered via the pending-r12 gate; pytest-verified now",
    tags=("extension", "text", "curation", "sketch"),
)
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = read_parquet_table(spark, sf_dir, "documents")
    scored = (
        bigram_logprob_documents(spark, sf_dir)
        .filter(F.col("n_bigrams") >= 1)
        .join(docs.select("doc_id", "lang"), "doc_id")
    )
    bins = scored.select(
        "doc_id",
        "lang",
        "n_bigrams",
        "avg_logprob",
        F.floor(
            F.round(F.col("avg_logprob") * F.lit(1_000_000))
            / F.lit(float(CCNET_BIN))
        )
        .cast("long")
        .alias("b"),
    )
    lc = bins.groupBy("lang", "b").agg(F.count(F.lit(1)).alias("c"))
    lt = lc.groupBy("lang").agg(F.sum("c").alias("n"))
    wcum = (
        Window.partitionBy("lang")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    lcum = lc.withColumn("cum", F.sum("c").over(wcum)).join(lt, "lang")

    def _thr(target, out: str) -> DataFrame:
        return (
            lcum.filter(F.col("cum") >= target)
            .groupBy("lang")
            .agg(F.min("b").alias(out))
        )

    t33 = _thr(F.floor((F.col("n") + 2) / 3).cast("long"), "b33")
    t66 = _thr(F.floor((F.lit(2) * F.col("n") + 2) / 3).cast("long"), "b66")
    return (
        bins.join(F.broadcast(t33), "lang")
        .join(F.broadcast(t66), "lang")
        .select(
            "doc_id",
            "lang",
            "n_bigrams",
            "avg_logprob",
            F.when(F.col("b") <= F.col("b33"), "tail")
            .when(F.col("b") <= F.col("b66"), "middle")
            .otherwise("head")
            .alias("ppl_bucket"),
        )
    )



def _bpe_round_ctes(num_merges: int) -> list[str]:
    """Shared CTE chain replaying the deterministic BPE training loop —
    the merge count is a compile-time constant, so the rounds unroll
    like the k-means oracles.  The only non-set-based step, the greedy
    left-to-right merge application, becomes set-based via run
    analysis: occurrences of pair (a,b) can only overlap when a = b
    (consecutive positions force syms[i+1] = b = a), and within each
    maximal run of consecutive occurrence positions greedy selection
    keeps exactly the odd-ranked ones — so ``row_number per run % 2 = 1``
    reproduces the engine's aggregate-HOF semantics exactly, for any
    corpus. MATERIALIZED CTEs stop DuckDB from inlining the word table
    3× per round (exponential plan blowup over 10 rounds).  Exposes
    ``top{r}`` (the merge table) and ``words{num_merges}`` (the final
    segmented vocabulary) to consumers."""
    ctes = [
        r"""w0 AS MATERIALIZED (
  SELECT w, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest(CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
               ELSE string_split_regex(trim(text), '\s+') END) AS w
        FROM documents)
  GROUP BY w
)""",
        "words0 AS MATERIALIZED "
        "(SELECT w, string_split(w, '') AS syms, freq FROM w0)",
    ]
    prev = "words0"
    for r in range(1, num_merges + 1):
        ctes.append(f"""top{r} AS MATERIALIZED (
  SELECT syms[i] AS a, syms[i + 1] AS b, CAST(sum(freq) AS BIGINT) AS n
  FROM {prev}, unnest(range(1, len(syms))) t(i)
  GROUP BY a, b
  ORDER BY n DESC, a ASC, b ASC LIMIT 1
)""")
        ctes.append(f"""keep{r} AS MATERIALIZED (
  SELECT w, i FROM (
    SELECT w, i, row_number() OVER (PARTITION BY w, grp ORDER BY i) AS rn
    FROM (SELECT o.w, o.i,
                 o.i - row_number() OVER (PARTITION BY o.w ORDER BY o.i) AS grp
          FROM (SELECT p.w, t.i
                FROM {prev} p, unnest(range(1, len(p.syms))) t(i), top{r} tp
                WHERE p.syms[t.i] = tp.a AND p.syms[t.i + 1] = tp.b) o))
  WHERE rn % 2 = 1
)""")
        ctes.append(f"""words{r} AS MATERIALIZED (
  SELECT q.w,
         list(CASE WHEN q.hit THEN q.s1 || q.s2 ELSE q.s1 END
              ORDER BY q.j) AS syms,
         any_value(q.freq) AS freq
  FROM (
    SELECT p.w, p.freq, t.j, p.syms[t.j] AS s1, p.syms[t.j + 1] AS s2,
           k.i IS NOT NULL AS hit, k2.i IS NOT NULL AS drop_
    FROM {prev} p
    CROSS JOIN unnest(range(1, len(p.syms) + 1)) t(j)
    LEFT JOIN keep{r} k ON k.w = p.w AND k.i = t.j
    LEFT JOIN keep{r} k2 ON k2.w = p.w AND k2.i = t.j - 1
  ) q
  WHERE NOT q.drop_
  GROUP BY q.w
)""")
        prev = f"words{r}"
    return ctes



def _bpe_merges_oracle(num_merges: int = 10) -> str:
    """Training oracle: the merge table (one row per unrolled round)."""
    ctes = _bpe_round_ctes(num_merges)
    union = "\nUNION ALL ".join(
        f"SELECT CAST({r - 1} AS INT) AS merge_rank, a AS \"left\", "
        f"b AS \"right\", n AS weighted_count FROM top{r}"
        for r in range(1, num_merges + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + union



def _bpe_segment_oracle(num_merges: int = 10) -> str:
    """Inference oracle: after the same unrolled rounds, every word's
    final symbol list is sitting in ``words{N}`` — per-document subword
    counts are a words-join away (empty documents keep 0/0 through the
    left join)."""
    ctes = _bpe_round_ctes(num_merges)
    ctes.append(r"""doc_words AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
  FROM documents WHERE trim(text) <> ''
)""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT d.doc_id,
       COALESCE(c.n_words, 0) AS n_words,
       COALESCE(c.n_bpe_tokens, 0) AS n_bpe_tokens
FROM documents d LEFT JOIN (
  SELECT dw.doc_id,
         CAST(count(*) AS BIGINT) AS n_words,
         CAST(sum(len(wf.syms)) AS BIGINT) AS n_bpe_tokens
  FROM doc_words dw JOIN words{num_merges} wf USING (w)
  GROUP BY dw.doc_id
) c USING (doc_id)
"""
    )



@register(
    "bpe_train_merges_documents",
    oracle=_bpe_merges_oracle(10),
    description="Distributed BPE tokenizer training (arXiv:1508.07909) — "
    "the tokenizer-learning step of an LLM data pipeline: corpus "
    "collapses to a weighted (word, freq) table once, then each merge "
    "round is one pair-count aggregation + a greedy left-to-right merge "
    "applied via a JVM-side aggregate HOF (no UDF); ties break "
    "lexicographically, no RNG. Driver holds only the learned merge "
    "table (num_merges rows, the k-means-centroid pattern). Fully "
    "oracle-checked: the zero-RNG loop unrolls into a DuckDB CTE chain "
    "whose greedy merge application is reproduced set-based by run "
    "analysis. Pytest additionally proves exact equality with a "
    "reference Python BPE on a planted corpus.",
    tags=("extension", "text", "iterative"),
)
def bpe_train_merges_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    merges = _tx.bpe_train_merges(docs, "text", num_merges=10)
    return spark.createDataFrame(
        merges, "merge_rank int, left string, right string, weighted_count long"
    )



def _unigram_round_ctes(r: int, dp_only: bool = False) -> list[str]:
    """One unigram hard-EM round as DuckDB CTEs: vocab-edge
    enumeration, the per-word Viterbi DP unrolled over positions
    1..UNIGRAM_WORD_CAP (best-per-position with the engine's exact
    (score DESC, piece-length DESC) total order), Viterbi piece counts,
    prune-by-disuse vocab update, and re-smoothed DECIMAL log-probs."""
    ml = _tx.UNIGRAM_PIECE_MAXLEN
    cap = _tx.UNIGRAM_WORD_CAP
    lp_prev = f"lp{r - 1}"
    ctes = [
        f"""edges{r} AS MATERIALIZED (
  SELECT w.w, t.i - 1 AS s, t.i - 1 + u.l AS e, CAST(u.l AS INT) AS plen,
         substring(w.w, t.i, u.l) AS piece, lp.lp
  FROM uwords w,
       unnest(range(1, len(w.w) + 1)) t(i),
       unnest(range(1, least({ml}, len(w.w) - t.i + 1) + 1)) u(l)
  JOIN {lp_prev} lp ON lp.piece = substring(w.w, t.i, u.l)
)""",
        f"""dp{r}_0 AS MATERIALIZED (
  SELECT w, CAST(0 AS DECIMAL(28,9)) AS score,
         CAST([] AS VARCHAR[]) AS pieces
  FROM uwords
)""",
    ]
    for k in range(1, cap + 1):
        branches = "\n      UNION ALL\n".join(
            f"""      SELECT d.w, CAST(d.score + e.lp AS DECIMAL(28,9)) AS score,
             list_append(d.pieces, e.piece) AS pieces, e.plen
      FROM dp{r}_{j} d
      JOIN edges{r} e ON e.w = d.w AND e.s = {j} AND e.e = {k}"""
            for j in range(max(0, k - ml), k)
        )
        ctes.append(
            f"""dp{r}_{k} AS MATERIALIZED (
  SELECT w, score, pieces FROM (
    SELECT x.w, x.score, x.pieces,
           row_number() OVER (
             PARTITION BY x.w ORDER BY x.score DESC, x.plen DESC
           ) AS rn
    FROM (
{branches}
    ) x
  ) WHERE rn = 1
)"""
        )
    fins = "\n  UNION ALL\n".join(
        f"  SELECT w, pieces FROM dp{r}_{k} WHERE len(w) = {k}"
        for k in range(1, cap + 1)
    )
    ctes.append(f"fin{r} AS MATERIALIZED (\n{fins}\n)")
    if dp_only:
        return ctes
    ctes.append(
        f"""counts{r} AS MATERIALIZED (
  SELECT p.piece, CAST(sum(w.freq) AS BIGINT) AS cnt
  FROM fin{r} f JOIN uwords w USING (w), unnest(f.pieces) p(piece)
  GROUP BY p.piece
)"""
    )
    ctes.append(
        f"""vocab{r} AS MATERIALIZED (
  SELECT v.piece, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS cnt
  FROM (SELECT piece FROM vocab0 WHERE len(piece) = 1) v
  LEFT JOIN counts{r} c USING (piece)
  UNION ALL
  SELECT piece, cnt FROM counts{r} WHERE len(piece) >= 2
)"""
    )
    ctes.append(
        f"""lp{r} AS MATERIALIZED (
  SELECT piece,
         CAST(round(ln((cnt + 1) / (
           (SELECT CAST(sum(cnt) AS DOUBLE) + count(*) FROM vocab{r})
         )), 9) AS DECIMAL(28,9)) AS lp
  FROM vocab{r}
)"""
    )
    return ctes


def _unigram_vocab_oracle_ctes() -> list[str]:
    """Trainer CTE chain (seed + UNIGRAM_EM_ROUNDS unrolled hard-EM
    rounds) — shared by the trainer and segmentation oracles."""
    ml = _tx.UNIGRAM_PIECE_MAXLEN
    cap = _tx.UNIGRAM_WORD_CAP
    t = _tx.UNIGRAM_EM_ROUNDS
    ctes = [
        rf"""uwords AS MATERIALIZED (
  SELECT w, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
        FROM documents WHERE trim(text) <> '')
  WHERE w <> '' AND len(w) <= {cap}
  GROUP BY w
)""",
        f"""subs AS MATERIALIZED (
  SELECT substring(w, t.i, u.l) AS piece, CAST(sum(freq) AS BIGINT) AS cnt
  FROM uwords,
       unnest(range(1, len(w) + 1)) t(i),
       unnest(range(1, least({ml}, len(w) - t.i + 1) + 1)) u(l)
  GROUP BY 1
)""",
        f"""vocab0 AS MATERIALIZED (
  SELECT piece, cnt FROM (
    SELECT piece, cnt FROM subs WHERE len(piece) >= 2
    ORDER BY cnt DESC, encode(piece) LIMIT {_tx.UNIGRAM_SEED_MULTI})
  UNION ALL
  SELECT piece, cnt FROM subs WHERE len(piece) = 1
)""",
        """lp0 AS MATERIALIZED (
  SELECT piece,
         CAST(round(ln((cnt + 1) / (
           (SELECT CAST(sum(cnt) AS DOUBLE) + count(*) FROM vocab0)
         )), 9) AS DECIMAL(28,9)) AS lp
  FROM vocab0
)""",
    ]
    for r in range(1, t + 1):
        ctes += _unigram_round_ctes(r)
    return ctes


def _unigram_vocab_oracle() -> str:
    """Full unigram-trainer replay: seed vocabulary from weighted
    substring counts (+ the whole alphabet), UNIGRAM_EM_ROUNDS unrolled
    hard-EM rounds, final (count DESC, UTF-8 bytes ASC) ranking."""
    t = _tx.UNIGRAM_EM_ROUNDS
    return (
        "WITH "
        + ",\n".join(_unigram_vocab_oracle_ctes())
        + f"""
SELECT CAST(row_number() OVER (
         ORDER BY v.cnt DESC, encode(v.piece)) - 1 AS INT) AS vocab_rank,
       v.piece, v.cnt, CAST(l.lp AS DOUBLE) AS logprob
FROM vocab{t} v JOIN lp{t} l USING (piece)
ORDER BY vocab_rank
LIMIT {_tx.UNIGRAM_VOCAB_SIZE}
"""
    )


@register(
    "unigram_train_vocab_documents",
    oracle=_unigram_vocab_oracle(),
    description="Unigram-LM (SentencePiece-style) tokenizer training "
    "(Kudo 2018, arXiv:1804.10959) — the missing twin of "
    "bpe_train_merges_documents, same zero-RNG oracle-replayable "
    "discipline: corpus collapses to a weighted word table once, the "
    "seed vocabulary is the top substring frequencies plus the whole "
    "alphabet, and each hard-EM round segments every DISTINCT word "
    "with its unique Viterbi path under add-1-smoothed 9-dp DECIMAL "
    "log-probs (a zero-shuffle JVM HOF projection — the model is "
    "bounded driver state like the BPE merge table) followed by one "
    "piece-count aggregation; multi-char pieces prune by disuse, "
    "single chars never drop so every word stays segmentable. Fully "
    "hash-checked: the oracle unrolls the Viterbi DP per position "
    "with the identical (score, piece-length) total order; pytest "
    "additionally proves exact equality with a reference Python "
    "trainer on a planted corpus.",
    tags=("extension", "text", "iterative"),
)
def unigram_train_vocab_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    rows = _tx.unigram_train_vocab(docs, "text")
    return spark.createDataFrame(
        rows, "vocab_rank int, piece string, cnt bigint, logprob double"
    )


def _unigram_segment_oracle() -> str:
    """Inference oracle: one more Viterbi DP round under the FINAL
    (untruncated) model lp{T}, then per-document word/piece/OOV counts
    — the bpe_segment pattern. Words longer than UNIGRAM_WORD_CAP were
    never trainable and count as OOV."""
    t = _tx.UNIGRAM_EM_ROUNDS
    cap = _tx.UNIGRAM_WORD_CAP
    ctes = _unigram_vocab_oracle_ctes()
    ctes += _unigram_round_ctes(t + 1, dp_only=True)
    ctes.append(
        rf"""doc_words AS MATERIALIZED (
  SELECT doc_id, w FROM (
    SELECT doc_id,
           unnest(string_split_regex(trim(text), '\s+')) AS w
    FROM documents WHERE trim(text) <> ''
  ) WHERE w <> ''
)"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT d.doc_id,
       CAST(COALESCE(c.n_words, 0) AS BIGINT) AS n_words,
       CAST(COALESCE(c.n_pieces, 0) AS BIGINT) AS n_pieces,
       CAST(COALESCE(c.n_oov, 0) AS BIGINT) AS n_oov
FROM documents d LEFT JOIN (
  SELECT dw.doc_id,
         CAST(count(*) AS BIGINT) AS n_words,
         CAST(sum(CASE WHEN len(dw.w) <= {cap}
                       THEN len(f.pieces) ELSE 0 END) AS BIGINT)
           AS n_pieces,
         CAST(sum(CASE WHEN len(dw.w) > {cap} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_oov
  FROM doc_words dw
  LEFT JOIN fin{t + 1} f ON f.w = dw.w
  GROUP BY dw.doc_id
) c USING (doc_id)
"""
    )


@register(
    "unigram_segment_documents",
    oracle=_unigram_segment_oracle(),
    description="Unigram-LM tokenizer INFERENCE — the serving half of "
    "unigram_train_vocab_documents (the bpe_segment_documents "
    "pattern): the trained untruncated model segments every DISTINCT "
    "in-cap word once with its Viterbi path (zero-shuffle literal-map "
    "HOF projection — no per-occurrence re-segmentation), documents "
    "then join the segmented vocabulary for per-doc word/piece/OOV "
    "counts; over-cap words were never trainable and count as OOV. "
    "Oracle replays one more unrolled DP round under the final "
    "log-probs.",
    tags=("extension", "text", "iterative"),
)
def unigram_segment_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    _, lp = _tx.unigram_train_model(docs, "text")
    return _tx.unigram_segment_counts(docs, "doc_id", "text", lp)


@register(
    "unigram_segment_documents_served",
    oracle=_unigram_segment_oracle(),
    description="Served-artifact twin of unigram_segment_documents "
    "(the bpe_segment_documents_served pattern): the trained "
    "untruncated unigram model persists once per (session, sf_dir, "
    "em_rounds) as a small parquet artifact — pieces, Viterbi counts, "
    "and EXACT 9-dp log-probs as strings so the DECIMAL model "
    "round-trips bit-identically — and segmentation passes load it "
    "instead of re-training (tokenizers change rarely; token "
    "accounting runs daily). Zero-RNG trainer ⇒ the oracle is "
    "VERBATIM the per-call query's; served==trained equality and "
    "artifact reuse are pytest-pinned.",
    tags=("extension", "text", "iterative"),
)
def unigram_segment_documents_served(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from decimal import Decimal

    docs = read_parquet_table(spark, sf_dir, "documents")
    root = _artifact_root(
        spark,
        "unigram_model",
        f"{os.path.realpath(sf_dir)}|em={_tx.UNIGRAM_EM_ROUNDS}",
    )

    def _build(tmp: str) -> None:
        vocab, lp = _tx.unigram_train_model(docs, "text")
        spark.createDataFrame(
            [(p, c, str(lp[p])) for p, c in sorted(vocab.items())],
            "piece string, cnt long, lp string",
        ).coalesce(1).write.parquet(f"{tmp}/model")

    _build_artifact_once(root, "model", _build)
    lp = {
        r["piece"]: Decimal(r["lp"])
        for r in spark.read.parquet(f"{root}/model").collect()
    }
    return _tx.unigram_segment_counts(docs, "doc_id", "text", lp)


def _classifier_oracle() -> str:
    d = _tx.CLASSIFIER_DIM
    mult = _tx.CLASSIFIER_WEIGHT_MULT
    add = _tx.CLASSIFIER_WEIGHT_ADD
    mod = _tx.CLASSIFIER_WEIGHT_MOD
    shift = _tx.CLASSIFIER_WEIGHT_SHIFT
    return rf"""
WITH ctoks AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(trim(text), '\s+') END AS w
  FROM documents
),
cz AS (
  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
         CAST(COALESCE(list_sum(list_transform(w, t ->
           ((list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(t, ''),
                              c -> CAST(ascii(c) AS BIGINT))),
             (a, b) -> (a * 31 + b) % 1000000007) % {d})
            * {mult} + {add}) % {mod} - {shift})), 0) AS BIGINT)
           AS margin_sum
  FROM ctoks
),
cm AS (
  SELECT doc_id, n_tokens, margin_sum,
         CASE WHEN n_tokens > 0
              THEN round(margin_sum / (n_tokens * {shift}.0), 9)
              ELSE 0.0 END AS margin
  FROM cz
)
SELECT doc_id, n_tokens, margin_sum, margin,
       round(1.0 / (1.0 + exp(-margin)), 6) AS score,
       n_tokens > 0 AND margin_sum >= 0 AS keep
FROM cm
"""


@register(
    "quality_classifier_documents",
    oracle=_classifier_oracle(),
    description="Classifier-based quality filtering — the third "
    "canonical LLM-pipeline filter family next to rule-based "
    "(gopher_quality_gate_documents) and perplexity-based "
    "(ccnet_perplexity_buckets): the inference path of a linear "
    "(fastText/logistic) document-quality classifier. Tokens feature-"
    "hash into a fixed-dimension bucket space (hashing trick), bucket "
    "weights (a frozen integer micro-unit table — the deterministic "
    "stand-in for trained weights) accumulate into an EXACT integer "
    "margin per doc via one nested JVM fold, and the keep decision is "
    "margin_sum >= 0 on the integer sum — no float threshold boundary; "
    "the logistic score is reported under the established round-6 "
    "discipline. Zero-shuffle single-scan projection; at 100 TB a real "
    "trained weight table broadcasts as a literal map without changing "
    "the plan.",
    tags=("extension", "text", "curation"),
)
def quality_classifier_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    return _tx.linear_quality_scores(docs, "doc_id", "text")


def _c4_gate_oracle() -> str:
    wrap = _tx.C4_LINE_WRAP
    badw = " OR ".join(
        f"contains(lower(page), '{w}')" for w in _tx.C4_BADWORD_STANDINS
    )
    return rf"""
WITH c4t AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(trim(text), '\s+') END AS w
  FROM documents
),
c4chunks AS (
  SELECT doc_id,
         CASE WHEN len(w) > 0 THEN
           list_transform(
             range(0, CAST(ceil(len(w) / {wrap}.0) AS INT)),
             i -> array_to_string(
               list_slice(w, CAST(i * {wrap} + 1 AS INT),
                          CAST(i * {wrap} + {wrap} AS INT)), ' '))
         ELSE CAST([] AS VARCHAR[]) END AS chunks
  FROM c4t
),
c4l AS (
  SELECT doc_id,
         list_transform(chunks, c ->
           CASE (list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(string_split(c, ''),
                                  ch -> CAST(ascii(ch) AS BIGINT))),
                 (a, b) -> (a * 31 + b) % 1000000007) % 5)
             WHEN 0 THEN c || '.'
             WHEN 1 THEN c || '!'
             WHEN 2 THEN c || '?'
             WHEN 3 THEN c
             ELSE c || ' javascript embed.'
           END) AS lines
  FROM c4chunks
),
c4page AS (
  SELECT doc_id,
         COALESCE(array_to_string(list_concat(list_concat(
           CASE WHEN doc_id % 17 = 0
                THEN ['lorem ipsum dolor sit amet consectetur elit.']
                ELSE CAST([] AS VARCHAR[]) END,
           CASE WHEN doc_id % 13 = 0
                THEN ['function() {{ var x = 1; }}']
                ELSE CAST([] AS VARCHAR[]) END),
           lines), chr(10)), '') AS page
  FROM c4l
),
c4k AS (
  SELECT doc_id, page,
         len(string_split(page, chr(10))) AS n_lines,
         COALESCE(array_to_string(
           list_filter(string_split(page, chr(10)), l ->
             (ends_with(trim(l), '.') OR ends_with(trim(l), '!')
              OR ends_with(trim(l), '?') OR ends_with(trim(l), '"'))
             AND len(string_split_regex(trim(l), '\s+')) >= {_tx.C4_MIN_LINE_WORDS}
             AND NOT contains(lower(trim(l)), 'javascript')),
           chr(10)), '') AS kept_text,
         len(list_filter(string_split(page, chr(10)), l ->
             (ends_with(trim(l), '.') OR ends_with(trim(l), '!')
              OR ends_with(trim(l), '?') OR ends_with(trim(l), '"'))
             AND len(string_split_regex(trim(l), '\s+')) >= {_tx.C4_MIN_LINE_WORDS}
             AND NOT contains(lower(trim(l)), 'javascript')))
           AS n_kept_lines
  FROM c4page
),
c4s AS (
  SELECT doc_id, n_lines, n_kept_lines,
         len(regexp_extract_all(kept_text, '[.!?]')) AS n_sentences,
         contains(lower(page), 'lorem ipsum') AS has_lorem,
         contains(page, '{{') AS has_brace,
         ({badw}) AS has_badword,
         CAST(len(kept_text) AS BIGINT) AS kept_chars
  FROM c4k
)
SELECT doc_id,
       CAST(n_lines AS INT) AS n_lines,
       CAST(n_kept_lines AS INT) AS n_kept_lines,
       CAST(n_sentences AS INT) AS n_sentences,
       has_lorem, has_brace, has_badword,
       NOT has_lorem AND NOT has_brace AND NOT has_badword
         AND n_sentences >= {_tx.C4_MIN_SENTENCES} AS page_ok,
       kept_chars
FROM c4s
"""


@register(
    "c4_line_gate_documents",
    oracle=_c4_gate_oracle(),
    description="C4-style rule-based cleaning (Raffel et al. 2020, "
    "§2.2) — the LINE-level complement of the document-level Gopher "
    "gate, completing the rule-based filter family: keep lines that "
    "end in terminal punctuation, carry >= 5 words, and don't mention "
    "javascript; drop pages under 3 retained sentences or containing "
    "lorem ipsum / a curly brace / a blocklist word (neutral "
    "stand-ins). The driver corpus is single-line word salad, so the "
    "gate chews on deterministic REAL multi-line pages synthesized "
    "from each document's own tokens (the attach_encoded_media "
    "pattern: line punctuation varies by the line's rolling hash — "
    "hitting every rule — and page defects plant on fixed id "
    "residues); the oracle replays synthesis AND gate from the same "
    "hash. C4's cross-page 3-sentence-span dedup is the separate "
    "passage_dedup_documents. Zero-shuffle single-scan JVM projection.",
    tags=("extension", "text", "curation"),
)
def c4_line_gate_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    pages = _tx.synthesize_pages(docs, "doc_id", "text")
    return _tx.c4_line_stats(pages, "doc_id", "page")



@register(
    "bpe_segment_documents",
    oracle=_bpe_segment_oracle(10),
    description="BPE tokenizer INFERENCE — the other half of the "
    "trainer: the 10 learned merges segment every document, emitting "
    "per-doc word and subword counts (the token accounting a training "
    "mix needs AFTER the tokenizer exists, vs the regex-approximation "
    "bpe_token_counts). Scale shape: merges apply once per DISTINCT "
    "word (the corpus vocabulary), documents then join the segmented "
    "vocab — no per-occurrence re-merging, no broadcast hint on the "
    "vocabulary (it scales with the corpus). Oracle reuses the unrolled "
    "training CTE chain: words10 already holds every word's final "
    "segmentation.",
    tags=("extension", "text", "iterative"),
)
def bpe_segment_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    merges = _tx.bpe_train_merges(docs, "text", num_merges=10)
    return _bpe_segment_counts(docs, merges)



def _bpe_segment_counts(docs: DataFrame, merges) -> DataFrame:
    """Per-doc (n_words, n_bpe_tokens) under a merge table — shared by
    the per-call-trained and artifact-served segmentation queries."""
    vocab = _tx.bpe_segment_words(docs, "text", merges)
    doc_words = docs.select(
        "doc_id", F.explode(_tx.tokens("text")).alias("__word")
    )
    counts = (
        doc_words.join(vocab, "__word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_subwords").alias("n_bpe_tokens"),
        )
    )
    return docs.select("doc_id").join(counts, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_words", F.lit(0).cast("long")).alias("n_words"),
        F.coalesce("n_bpe_tokens", F.lit(0).cast("long")).alias(
            "n_bpe_tokens"
        ),
    )



@register(
    "bpe_segment_documents_served",
    oracle=_bpe_segment_oracle(10),
    description="SERVED BPE segmentation: the trained merge table — the "
    "TOKENIZER, the one model artifact every later pipeline stage "
    "consumes — is persisted once per (session, sf_dir, num_merges) as "
    "a tiny parquet (10 rows) via the bench_kgrams/ivf_index "
    "_build_artifact_once pattern, and every subsequent segmentation "
    "pass loads it instead of re-running the 10-merge training loop "
    "over the corpus (the nightly shape: tokenizers change rarely, "
    "token accounting runs daily). Deterministic zero-RNG training ⇒ "
    "the artifact changes COST, never the answer — same oracle "
    "VERBATIM as bpe_segment_documents (the identical-answer contract "
    "of the IVF/semdedup/k-gram artifacts); served==trained equality "
    "and artifact reuse pytest-pinned. Registered via the pending-r11 "
    "gate (the r10 window is budgeted to the stale cohort)",
    tags=("extension", "text"),
)
def bpe_segment_documents_served(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    root = _artifact_root(
        spark, "bpe_merges", f"{os.path.realpath(sf_dir)}|m=10"
    )

    def _build(tmp: str) -> None:
        merges = _tx.bpe_train_merges(docs, "text", num_merges=10)
        spark.createDataFrame(
            [(r, a, b, n) for r, a, b, n in merges],
            "rank int, left string, right string, n long",
        ).coalesce(1).write.parquet(f"{tmp}/merges")

    _build_artifact_once(root, "merges", _build)
    merges = sorted(
        (int(r["rank"]), r["left"], r["right"], int(r["n"]))
        for r in spark.read.parquet(f"{root}/merges").collect()
    )
    return _bpe_segment_counts(docs, merges)



@register(
    "pii_scrub_documents",
    oracle=r"""
WITH base AS (
  SELECT doc_id,
         text || ' Contact: user' || doc_id ||
         '@example.com via https://example.org/u/' || doc_id ||
         ' from 10.' || (doc_id % 250) || '.0.1 ref 5551234' ||
         lpad(CAST(doc_id AS VARCHAR), 4, '0') AS t0
  FROM documents
),
s1 AS (SELECT doc_id,
              CAST(len(regexp_extract_all(t0, 'https?://[^\s]+')) AS BIGINT) AS n_url,
              regexp_replace(t0, 'https?://[^\s]+', '[URL]', 'g') AS t1 FROM base),
s2 AS (SELECT doc_id, n_url,
              CAST(len(regexp_extract_all(t1, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
              regexp_replace(t1, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g') AS t2 FROM s1),
s3 AS (SELECT doc_id, n_url, n_email,
              CAST(len(regexp_extract_all(t2, '\b\d{1,3}(\.\d{1,3}){3}\b')) AS BIGINT) AS n_ip,
              regexp_replace(t2, '\b\d{1,3}(\.\d{1,3}){3}\b', '[IP]', 'g') AS t3 FROM s2)
SELECT doc_id, n_url, n_email, n_ip,
       CAST(len(regexp_extract_all(t3, '\d{7,}')) AS BIGINT) AS n_number,
       regexp_replace(t3, '\d{7,}', '[NUMBER]', 'g') AS text_clean
FROM s3
""",
    description="Multi-category PII scrub (URL → email → IPv4 → long "
    "digit runs, typed mask tokens, per-category counts at each stage): "
    "a deterministic contact footer is appended to every document (the "
    "synthetic corpus carries no PII-shaped tokens) and scrubbed — one "
    "chained regexp projection, whole-stage codegen, no UDF",
    tags=("extension", "text"),
)
def pii_scrub_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    footered = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" Contact: user"), F.col("doc_id"),
            F.lit("@example.com via https://example.org/u/"), F.col("doc_id"),
            F.lit(" from 10."), F.col("doc_id") % 250,
            F.lit(".0.1 ref 5551234"),
            F.lpad(F.col("doc_id").cast("string"), 4, "0"),
        ).alias("t0"),
    )
    return _tx.pii_scrub(footered, "t0").select(
        "doc_id", "n_url", "n_email", "n_ip", "n_number", "text_clean"
    )



#: Frozen CMS geometry/hash constants (shared with the oracle).
CMS_W = 64



CMS_ROWS = ((31, 7), (131, 17), (1031, 29))



CMS_P = 1_000_000_007



def _cms_oracle() -> str:
    th = _TOKEN_HASH.format(t="t")
    # explicit {h} placeholder (same pattern as _TOKEN_HASH's {t}) so the
    # probe-side rewrite is a format() with a qualified column, never
    # string surgery on the rendered expression
    hash_tmpls = [
        f"(({a} * {{h}} + {b}) % {CMS_P}) % {CMS_W}" for a, b in CMS_ROWS
    ]
    cell_rows = "\n  UNION ALL\n  ".join(
        f"SELECT {r} AS r, {hash_tmpls[r].format(h='h')} AS bucket, 1 AS one FROM th"
        for r in range(len(CMS_ROWS))
    )
    est_joins = "\n  ".join(
        f"JOIN cells c{r} ON c{r}.r = {r} AND c{r}.bucket = {hash_tmpls[r].format(h='tp.h')}"
        for r in range(len(CMS_ROWS))
    )
    least_args = ", ".join(f"c{r}.cnt" for r in range(len(CMS_ROWS)))
    return f"""
WITH tk AS MATERIALIZED (
  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS t
  FROM documents WHERE trim(text) <> ''
),
th AS MATERIALIZED (SELECT t, {th} AS h FROM tk),
cells AS MATERIALIZED (
  SELECT r, bucket, CAST(count(*) AS BIGINT) AS cnt FROM (
  {cell_rows}
  ) GROUP BY r, bucket
),
tf AS MATERIALIZED (
  SELECT t AS token, any_value(h) AS h, CAST(count(*) AS BIGINT) AS true_count
  FROM th GROUP BY t
),
top AS (
  SELECT token, h, true_count FROM tf
  ORDER BY true_count DESC, token LIMIT 20
)
SELECT tp.token, tp.true_count,
       least({least_args}) AS cms_estimate,
       least({least_args}) - tp.true_count AS overestimate
FROM top tp
  {est_joins}
"""



@register(
    "cms_heavy_hitters_tokens",
    oracle=_cms_oracle(),
    description="Count-min sketch heavy-hitter audit over the document "
    "token stream: 3×64 counter matrix from frozen pairwise hashes of "
    "the token rolling hash — the sketch state is 192 mergeable cells "
    "regardless of vocabulary size (map-side combinable, the bounded-"
    "state frequency primitive at 100 TB). The top-20 true tokens join "
    "their CMS estimates; overestimate = estimate - truth is the "
    "audited collision error (provably ≥ 0). Deterministic end-to-end "
    "— no RNG, integer-exact",
    tags=("extension", "text", "sketch"),
)
def cms_heavy_hitters_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(_tx.tokens("text")).alias("t"))
    th = toks.select("t", rolling_hash("t").alias("h"))

    def bucket(r: int):
        a, b = CMS_ROWS[r]
        return ((F.lit(a) * F.col("h") + F.lit(b)) % CMS_P) % CMS_W

    cells = (
        th.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r).alias("r"), bucket(r).alias("bucket")
                        )
                        for r in range(len(CMS_ROWS))
                    ]
                )
            ).alias("rb")
        )
        .select("rb.r", "rb.bucket")
        .groupBy("r", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tf = th.groupBy("t").agg(
        F.first("h").alias("h"), F.count(F.lit(1)).alias("true_count")
    )
    top = (
        tf.orderBy(F.desc("true_count"), F.asc("t"))
        .limit(20)
        .select(F.col("t").alias("token"), "h", "true_count")
    )
    est = top
    for r in range(len(CMS_ROWS)):
        a, b = CMS_ROWS[r]
        cr = cells.filter(F.col("r") == r).select(
            F.col("bucket").alias(f"__b{r}"), F.col("cnt").alias(f"__c{r}")
        )
        est = est.withColumn(
            f"__b{r}", ((F.lit(a) * F.col("h") + F.lit(b)) % CMS_P) % CMS_W
        ).join(F.broadcast(cr), f"__b{r}")
    cms = F.least(*[F.col(f"__c{r}") for r in range(len(CMS_ROWS))])
    return est.select(
        "token",
        "true_count",
        cms.alias("cms_estimate"),
        (cms - F.col("true_count")).alias("overestimate"),
    )



@register(
    "streaming_cms_sync",
    oracle=f"""
WITH pos AS (
  SELECT t.r, ((user_id * t.a + t.b) % {CMS_P}) % {CMS_W} AS bucket
  FROM events, (VALUES {", ".join(f"({r}, {a}, {b})" for r, (a, b) in enumerate(CMS_ROWS))}) t(r, a, b)
)
SELECT CAST(r AS BIGINT) AS r, CAST(bucket AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS cnt
FROM pos GROUP BY r, bucket
""",
    description="Mergeable sketch over a REAL stream (7th streaming "
    "gate): a count-min sketch of user-id frequencies maintained "
    "across multiple micro-batches — each epoch writes its bounded "
    "partial cell table exactly-once (per-epoch partition overwrite "
    "under foreachBatch's at-least-once replay), the final sketch is "
    "the cell-wise sum of the partials. Hash-checked against the "
    "batch sketch over the full event log: counter addition is "
    "associative+commutative, so ANY micro-batch split yields the "
    "identical sketch — the mergeability contract, proven end-to-end",
    tags=("streaming", "sketch"),
)
@pinned_stream_session
def streaming_cms_sync(spark: SparkSession, sf_dir: str) -> DataFrame:

    import shutil
    import tempfile

    from spotify_tracks_etl_portfolio_spark.streaming import read_events_stream
    from spotify_tracks_etl_portfolio_spark.streaming.pipeline import (
        streaming_cms_cells,
    )

    d = tempfile.mkdtemp(prefix="cms_sync_")
    out = f"{d}/cells"
    try:
        in_dir = f"{d}/in"
        ev = read_parquet_table(spark, sf_dir, "events")
        # Two appends → two part files → two REAL micro-batches under
        # maxFilesPerTrigger=1 (the merge has actual partials to merge).
        ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        stream = read_events_stream(spark, in_dir)
        q = (
            streaming_cms_cells(
                stream, out, f"{d}/ckpt", rows=CMS_ROWS, width=CMS_W, mod=CMS_P
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        merged = (
            spark.read.parquet(out)
            .groupBy("r", "bucket")
            .agg(F.sum("cnt").cast("long").alias("cnt"))
            .select(
                F.col("r").cast("long").alias("r"),
                F.col("bucket").cast("long").alias("bucket"),
                "cnt",
            )
        )
        rows = merged.collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return spark.createDataFrame(rows, "r long, bucket long, cnt long")



@register(
    "source_lang_entropy",
    oracle="""
WITH c AS (
  SELECT source, lang, CAST(count(*) AS BIGINT) AS n
  FROM documents GROUP BY source, lang
),
t AS (SELECT source, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY source),
e AS (
  SELECT c.source, c.lang, c.n, t.tot,
         CAST(round(-(c.n / CAST(t.tot AS DOUBLE))
                    * ln(c.n / CAST(t.tot AS DOUBLE)), 9)
              AS DECIMAL(20,9)) AS term
  FROM c JOIN t USING (source)
)
SELECT source,
       CAST(max(tot) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_langs,
       round(CAST(sum(term) AS DOUBLE), 6) AS lang_entropy
FROM e GROUP BY source
""",
    description="Per-source language diversity (Shannon entropy of the "
    "lang distribution): the mixing-health signal a corpus curator "
    "tracks per provider. Each -p·ln(p) term is a 9-dp-rounded IEEE "
    "scalar summed as DECIMAL (order-insensitive); two hash "
    "aggregations over (source, lang) — group cardinality scales with "
    "the label vocabulary, not the corpus",
    tags=("extension", "curation", "dq"),
)
def source_lang_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    c = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    t = c.groupBy("source").agg(F.sum("n").alias("tot"))
    p = F.col("n") / F.col("tot").cast("double")
    e = c.join(t, "source").select(
        "source",
        "tot",
        F.round(-p * F.log(p), 9).cast("decimal(20,9)").alias("term"),
    )
    return e.groupBy("source").agg(
        F.max("tot").cast("long").alias("n_docs"),
        F.count(F.lit(1)).alias("n_langs"),
        F.round(F.sum("term").cast("double"), 6).alias("lang_entropy"),
    )



#: Reciprocal-rank-fusion constant (the standard k=60 from the RRF
#: paper) and list depths for the hybrid retrieval query.
RRF_K = 60



RRF_DEPTH = 20



RRF_TOPK = 10



RRF_QUERY_VEC = 0



def _hybrid_rrf_oracle() -> str:
    from spotify_tracks_etl_portfolio_spark.plans.analytics import _bm25_ctes

    return f"""
WITH {_bm25_ctes()},
brr AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY bm25 DESC, doc_id) AS bm25_rank
  FROM bm25_scores
  QUALIFY bm25_rank <= {RRF_DEPTH}
),
v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
qv AS (SELECT e FROM v WHERE vec_id = {RRF_QUERY_VEC}),
cr AS (
  SELECT v.vec_id AS doc_id, {_sql_cos('v.e', 'q.e')} AS cosine
  FROM v, qv q WHERE v.vec_id <> {RRF_QUERY_VEC}
),
crr AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY cosine DESC, doc_id) AS cos_rank
  FROM cr
  QUALIFY cos_rank <= {RRF_DEPTH}
),
fused AS (
  SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id,
         CAST(b.bm25_rank AS BIGINT) AS bm25_rank,
         CAST(c.cos_rank AS BIGINT) AS cos_rank,
         round(COALESCE(1.0 / ({RRF_K} + b.bm25_rank), CAST(0 AS DOUBLE))
               + COALESCE(1.0 / ({RRF_K} + c.cos_rank), CAST(0 AS DOUBLE)), 9)
           AS rrf_score
  FROM brr b FULL OUTER JOIN crr c USING (doc_id)
)
SELECT doc_id, bm25_rank, cos_rank, rrf_score,
       CAST(fused_rank AS BIGINT) AS fused_rank
FROM (
  SELECT *, row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS fused_rank
  FROM fused
) WHERE fused_rank <= {RRF_TOPK}
"""



@register(
    "hybrid_rrf_search",
    oracle=_hybrid_rrf_oracle(),
    description="Hybrid retrieval with reciprocal-rank fusion (the "
    "modern RAG serving shape): the BM25 lexical top-20 and the "
    "cosine vector top-20 (query-by-example on one embedding) fuse by "
    "RRF score = Σ 1/(60+rank); documents found by only one modality "
    "contribute one term. Both rank lists are TakeOrdered-style "
    "bounded sets, the fusion is a full outer join of two ≤20-row "
    "tables — list depth bounds every post-retrieval stage at any "
    "corpus size. IEEE-deterministic (ranks are integers; two "
    "divisions + one add per row, rounded)",
    tags=("extension", "search", "similarity"),
)
def hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from spotify_tracks_etl_portfolio_spark.functions import (
        vec_dot,
        vec_norm_safe,
    )
    from spotify_tracks_etl_portfolio_spark.plans.analytics import (
        bm25_search_documents,
    )

    bm25 = bm25_search_documents(spark, sf_dir)
    brr = bm25.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25"), F.asc("doc_id")))
        .cast("long")
        .alias("bm25_rank"),
    ).filter(F.col("bm25_rank") <= RRF_DEPTH)

    emb = read_parquet_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == RRF_QUERY_VEC).select(
        F.col("embedding").alias("__qv"),
        vec_norm_safe("embedding").alias("__qn"),
    )
    cr = (
        emb.filter(F.col("vec_id") != RRF_QUERY_VEC)
        .crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(
                vec_dot("embedding", "__qv")
                / (vec_norm_safe("embedding") * F.col("__qn")),
                6,
            ).alias("cosine"),
        )
    )
    # TakeOrderedAndProject bounds the corpus-scaled side to DEPTH rows
    # BEFORE the rank window — the global row_number then runs over 20
    # rows, never the corpus (the single-partition gate's contract).
    c20 = cr.orderBy(F.desc("cosine"), F.asc("doc_id")).limit(RRF_DEPTH)
    crr = c20.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("cosine"), F.asc("doc_id")))
        .cast("long")
        .alias("cos_rank"),
    )

    score = F.round(
        F.coalesce(1.0 / (F.lit(RRF_K) + F.col("bm25_rank")), F.lit(0.0))
        + F.coalesce(1.0 / (F.lit(RRF_K) + F.col("cos_rank")), F.lit(0.0)),
        9,
    )
    fused = brr.join(crr, "doc_id", "full_outer").select(
        "doc_id", "bm25_rank", "cos_rank", score.alias("rrf_score")
    )
    return (
        fused.withColumn(
            "fused_rank",
            F.row_number()
            .over(Window.orderBy(F.desc("rrf_score"), F.asc("doc_id")))
            .cast("long"),
        )
        .filter(F.col("fused_rank") <= RRF_TOPK)
    )



@register(
    "token_pmi_collocations",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
  FROM documents WHERE trim(text) <> ''
),
bg AS (
  SELECT w[i] AS t1, w[i + 1] AS t2
  FROM toks, unnest(range(1, len(w))) AS r(i)
),
bc AS (
  SELECT t1, t2, CAST(count(*) AS BIGINT) AS n_pair
  FROM bg GROUP BY t1, t2
),
uc AS (
  SELECT t, CAST(count(*) AS BIGINT) AS n_tok FROM (
    SELECT unnest(w) AS t FROM toks
  ) GROUP BY t
),
tot AS (
  SELECT CAST(sum(n_pair) AS DOUBLE) AS n_bi,
         (SELECT CAST(sum(n_tok) AS DOUBLE) FROM uc) AS n_uni
  FROM bc
)
SELECT t1, t2, n_pair,
       round(ln((n_pair / n_bi)
                / ((u1.n_tok / n_uni) * (u2.n_tok / n_uni))), 6) AS pmi
FROM bc JOIN uc u1 ON bc.t1 = u1.t JOIN uc u2 ON bc.t2 = u2.t, tot
WHERE n_pair >= 5
ORDER BY pmi DESC, t1, t2 LIMIT 25
""",
    description="Collocation mining by pointwise mutual information: "
    "adjacent-token pair counts vs unigram marginals, PMI = "
    "ln(p(ab)/(p(a)p(b))), support floor 5, top-25. The phrase-"
    "detection step of tokenizer/corpus preparation. Bigrams explode "
    "from the token array (zero extra scans), both count tables are "
    "vocabulary-scaled, the final top-k is TakeOrderedAndProject",
    tags=("extension", "text"),
)
def token_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    toks = docs.filter(F.trim("text") != "").select(
        F.split(F.trim("text"), r"\s+").alias("w")
    )
    bg = toks.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("w"), 1, F.greatest(F.size("w") - 1, F.lit(0))),
                F.slice(F.col("w"), 2, F.greatest(F.size("w") - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("t1"), b.alias("t2")),
            )
        ).alias("p")
    ).select("p.t1", "p.t2")
    bc = bg.groupBy("t1", "t2").agg(F.count(F.lit(1)).alias("n_pair"))
    uc = toks.select(F.explode("w").alias("t")).groupBy("t").agg(
        F.count(F.lit(1)).alias("n_tok")
    )
    tot = bc.agg(F.sum("n_pair").cast("double").alias("n_bi")).crossJoin(
        F.broadcast(uc.agg(F.sum("n_tok").cast("double").alias("n_uni")))
    )
    u1 = uc.select(F.col("t").alias("t1"), F.col("n_tok").alias("__u1"))
    u2 = uc.select(F.col("t").alias("t2"), F.col("n_tok").alias("__u2"))
    pmi = F.round(
        F.log(
            (F.col("n_pair") / F.col("n_bi"))
            / (
                (F.col("__u1") / F.col("n_uni"))
                * (F.col("__u2") / F.col("n_uni"))
            )
        ),
        6,
    )
    return (
        bc.filter(F.col("n_pair") >= 5)
        .join(u1, "t1")
        .join(u2, "t2")
        .crossJoin(F.broadcast(tot))
        .select("t1", "t2", "n_pair", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), "t1", "t2")
        .limit(25)
    )



#: Fixed search pattern for the trigram-accelerated LIKE query.
TRGM_PATTERN = "window stream"



@register(
    "trigram_like_search",
    oracle=f"""
SELECT doc_id, n_chars
FROM documents
WHERE text LIKE '%{TRGM_PATTERN}%'
""",
    description="Substring search served from a PERSISTED trigram index "
    "(the pg_trgm pattern, now a real on-disk artifact like the BM25 "
    "and IVF indexes): distinct (trigram, doc_id) postings partitioned "
    "by trigram hash bucket are built ONCE; a query prunes the "
    "postings scan to the pattern trigrams' buckets (PartitionFilters "
    "+ pushed trigram filter, plan-gated — the corpus is never "
    "re-tokenized at query time), keeps docs holding ALL pattern "
    "trigrams, and the final LIKE verifies candidates only (the heap "
    "recheck). Index recall is total (a true match contains every "
    "pattern trigram), so the oracle is the plain LIKE scan; the "
    "index changes the work, never the answer",
    tags=("extension", "text", "search"),
)
def trigram_like_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spotify_tracks_etl_portfolio_spark.operators.text import (
        build_trigram_index,
        trigram_index_candidates,
    )

    docs = read_parquet_table(spark, sf_dir, "documents")
    root = _artifact_root(spark, "trgm_index", os.path.realpath(sf_dir))
    _build_artifact_once(
        root,
        "postings",
        lambda tmp: build_trigram_index(docs, "doc_id", "text", tmp),
    )
    cands = trigram_index_candidates(spark, root, TRGM_PATTERN)
    return (
        docs.join(cands, "doc_id", "left_semi")
        .filter(F.col("text").contains(TRGM_PATTERN))
        .select("doc_id", "n_chars")
    )



@register(
    "bm25_index_search",
    oracle=None,  # set just below to the SAME oracle as the live query
    description="BM25 served from a PERSISTED inverted index (the "
    "search twin of the persisted IVF index): term postings partitioned "
    "by token bucket + doc lengths + 1-row corpus stats are on-disk "
    "artifacts; a query scans ONLY its terms' posting buckets "
    "(PartitionFilters + pushed token filter, plan-gated) — the corpus "
    "text is never re-tokenized at query time. Same oracle as "
    "bm25_search_documents: the index changes the cost, not the answer",
    tags=("extension", "text", "search"),
)
def bm25_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spotify_tracks_etl_portfolio_spark.operators.text import (
        bm25_query_index,
        build_text_index,
    )
    from spotify_tracks_etl_portfolio_spark.plans.analytics import (
        BM25_B,
        BM25_K1,
        BM25_TERMS,
    )

    root = _artifact_root(spark, "text_index", os.path.realpath(sf_dir))
    _build_artifact_once(
        root,
        "stats",
        lambda tmp: build_text_index(
            read_parquet_table(spark, sf_dir, "documents"),
            "doc_id",
            "text",
            tmp,
        ),
    )
    return bm25_query_index(spark, root, BM25_TERMS, BM25_K1, BM25_B, 20)



_Q["bm25_index_search"].oracle = _bm25_oracle()


def _bm25_incr_oracle() -> str:
    """Frozen-stats incremental BM25 replay: postings/tf/df/doc-lengths
    over the FULL corpus (base + the appended batch), but (N, avgdl)
    over the BASE only — exactly what the served index computes when
    the stats table is frozen at the last full build and postings were
    appended (operators/text.py::append_to_text_index)."""
    from spotify_tracks_etl_portfolio_spark.plans.analytics import (
        BM25_B,
        BM25_K1,
        BM25_TERMS,
    )

    terms = ", ".join(f"'{t}'" for t in BM25_TERMS)
    per_term = " + ".join(
        f"COALESCE(max(CASE WHEN token = '{t}' THEN ts END), 0.0)"
        for t in BM25_TERMS
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
  FROM documents WHERE trim(text) <> ''
),
dl AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl FROM toks GROUP BY doc_id),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl
  FROM dl WHERE doc_id % 10 != 7
),
tf AS (
  SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf
  FROM toks WHERE token IN ({terms}) GROUP BY doc_id, token
),
dfreq AS (
  SELECT token, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
  FROM toks WHERE token IN ({terms}) GROUP BY token
),
ts AS (
  SELECT tf.doc_id, tf.token,
         ln((s.n - d.df + 0.5) / (d.df + 0.5) + 1.0)
           * tf.tf * ({BM25_K1} + 1.0)
           / (tf.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl.dl / s.avgdl))
           AS ts
  FROM tf JOIN dfreq d USING (token) JOIN dl USING (doc_id) CROSS JOIN stats s
),
bm25_scores AS (
  SELECT doc_id, round({per_term}, 6) AS bm25
  FROM ts GROUP BY doc_id
)
SELECT doc_id, bm25 FROM bm25_scores
ORDER BY bm25 DESC, doc_id LIMIT 20
"""


@register(
    "bm25_index_search_incremental",
    oracle=_bm25_incr_oracle(),
    description="BM25 served from a persisted inverted index AFTER an "
    "incremental append (the text twin of embedding_ivfpq_append_topk, "
    "completing the build-once/serve-many maintenance arc): the base "
    "corpus (doc_id % 10 != 7) builds the index, today's batch (the "
    "rest) appends via append_to_text_index — batch-only tokenization, "
    "dynamic-partition postings append, doc_lengths append, version "
    "ledger shared with the IVFPQ index — and the query scores "
    "base+batch with per-term df computed LIVE from the grown posting "
    "lists while (N, avgdl) stay FROZEN at the base build (the "
    "production contract between nightly rebuilds: appended docs are "
    "immediately searchable; the rebuild refreshes normalization). "
    "The oracle replays exactly that frozen-stats math. Serve-side "
    "plan unchanged: bucket-pruned postings scan, never a corpus "
    "re-tokenize",
    tags=("extension", "text", "search"),
)
def bm25_index_search_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from spotify_tracks_etl_portfolio_spark.operators.text import (
        append_to_text_index,
        bm25_query_index,
        build_text_index,
    )
    from spotify_tracks_etl_portfolio_spark.plans.analytics import (
        BM25_B,
        BM25_K1,
        BM25_TERMS,
    )

    root = _artifact_root(
        spark, "text_index_incr", os.path.realpath(sf_dir)
    )

    def _build(tmp: str) -> None:
        docs = read_parquet_table(spark, sf_dir, "documents")
        build_text_index(
            docs.filter(F.col("doc_id") % 10 != 7), "doc_id", "text", tmp
        )
        append_to_text_index(
            docs.filter(F.col("doc_id") % 10 == 7), tmp, "doc_id", "text"
        )

    _build_artifact_once(root, "stats", _build)
    return bm25_query_index(spark, root, BM25_TERMS, BM25_K1, BM25_B, 20)


