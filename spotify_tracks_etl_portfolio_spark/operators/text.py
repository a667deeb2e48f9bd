"""Text-analysis operators for training-data pipelines (north star:
BASELINE.json; SURVEY.md §7 M4): language ID, quality scoring, token
counting, fingerprinting — all pure Column expressions (JVM-side,
codegen'd; no UDFs) so they run at 100 TB without Python in the loop.

Determinism contract: every function here has an exactly-equivalent
DuckDB SQL form (see plans/extensions.py) — fixed marker lists, fixed
regexes, fixed tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spotify_tracks_etl_portfolio_spark.functions import str_lit_sql
from spotify_tracks_etl_portfolio_spark.sources.readers import read_parquet_memo

# Fixed marker-word lists for the n-gram/stopword language heuristic.
# Order matters: ties break to the FIRST language in this list.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "is"),
    "de": ("der", "die", "und", "das", "ein", "ist"),
    "es": ("el", "la", "los", "las", "que", "es"),
    "fr": ("le", "la", "les", "des", "et", "est"),
    "zh": ("de5", "le5", "shi4", "zai4", "he2", "you3"),
}

#: BPE-ish pre-tokenization: letter runs, digit runs, single punctuation.
BPE_TOKEN_PATTERN = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"

#: Quality-scoring stopword set (shared with plans/extensions.py oracle).
QUALITY_STOPWORDS = ("the", "a", "of", "and", "to")


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of trimmed text; empty text → empty array."""
    c = F.col(col) if isinstance(col, str) else col
    trimmed = F.trim(c)
    return F.when(trimmed == "", F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )


def bpe_token_count(col: Column | str) -> Column:
    """Sub-word-ish token count via the BPE pre-tokenizer regex."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(BPE_TOKEN_PATTERN))


def lang_scores(col: Column | str) -> dict[str, Column]:
    """Marker-word hit count per language."""
    toks = tokens(col)

    def marker_filter(markers: tuple[str, ...]):
        # NB: a `lambda t, m=markers:` default would make the lambda
        # 2-ary and PySpark would bind the array INDEX to `m`.
        return lambda t: t.isin(*markers)

    return {
        lang: F.size(F.filter(toks, marker_filter(markers)))
        for lang, markers in LANG_MARKERS.items()
    }


def lang_id(col: Column | str) -> Column:
    """Heuristic language ID: argmax marker hits; ties break to the first
    language in LANG_MARKERS order; zero hits everywhere → 'und'."""
    scores = lang_scores(col)
    best = F.greatest(*scores.values())
    expr: Column = F.lit("und")
    # build the WHEN chain in reverse so the FIRST language wins ties
    for lang in reversed(list(scores)):
        expr = F.when(
            (scores[lang] == best) & (best > 0), F.lit(lang)
        ).otherwise(expr)
    return expr


def quality_features(col: Column | str) -> dict[str, Column]:
    """Deterministic quality signals: token count, mean token length,
    stopword ratio, punctuation ratio, digit ratio."""
    c = F.col(col) if isinstance(col, str) else col
    toks = tokens(c)
    n_tok = F.size(toks)
    n_chars = F.length(c)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*QUALITY_STOPWORDS)))
    n_punct = F.regexp_count(c, F.lit(r"[.,!?;:]"))
    n_digit = F.regexp_count(c, F.lit(r"[0-9]"))
    safe_tok = F.greatest(n_tok, F.lit(1))
    safe_chars = F.greatest(n_chars, F.lit(1))
    return {
        "n_tokens": n_tok.cast("long"),
        "mean_token_len": F.round(
            (n_chars - (n_tok - 1)).cast("double") / safe_tok, 6
        ),
        "stopword_ratio": F.round(n_stop.cast("double") / safe_tok, 6),
        "punct_ratio": F.round(n_punct.cast("double") / safe_chars, 6),
        "digit_ratio": F.round(n_digit.cast("double") / safe_chars, 6),
    }


#: The published Gopher rule-7 stop-word set (Rae et al. 2021, A1.1):
#: a doc must contain at least 2 of these to pass.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

#: Published Gopher word-count bounds (rule 1).
GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 50, 100_000


def gopher_rules(
    col: Column | str, stopword_min: int = 2
) -> dict[str, Column]:
    """The full published Gopher quality-rule set (Rae et al. 2021,
    appendix A1.1) as one ZERO-SHUFFLE projection: per-rule boolean
    flag columns plus the signal each rule reads, all higher-order
    Column expressions (sequence/filter/aggregate — JVM-side, codegen,
    no Python), so the gate costs one map pass at any corpus size.

    Rules (flags TRUE = keeps; the paper REMOVES docs strictly beyond
    each bound, so every flag keeps the boundary doc — <=, not <):
      1. word count in [50, 100000]
      2. mean word length in [3, 10] chars
      3. symbol-to-word ratio <= 0.1 for EACH of the hash symbol and
         the ellipsis, tested per symbol (round-11 advice: a combined
         sum could pass a doc that is 8% '#' + 8% '…' — the paper
         bounds each)
      4. <= 90% of lines start with a bullet (-, *, •)
      5. <= 30% of lines end with an ellipsis
      6. >= 80% of words contain an alphabetic character
      7. >= ``stopword_min`` (published default 2) of the 8 required
         stop words present — the knob exists because a corpus whose
         vocabulary lacks most of the English required set (e.g. the
         synthetic gate corpus, which contains only 'the') zeroes out
         under 2; production keeps the published value

    Determinism: every threshold is evaluated as an INTEGER
    cross-multiplication (``10*n_hash <= n_words``, never
    ``n_hash/n_words <= 0.1``), so no engine's division rounding can
    flip a boundary doc — the flags replay bit-exactly in DuckDB. The
    displayed ratio columns are round(·, 6) and for display only.
    """
    c = F.col(col) if isinstance(col, str) else col
    toks = tokens(c)
    w = F.size(toks).cast("long")
    # total chars across words (exact, no single-space assumption)
    csum = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    n_hash = F.regexp_count(c, F.lit(r"#")).cast("long")
    n_ellsym = (
        F.regexp_count(c, F.lit(r"\.\.\.")) + F.regexp_count(c, F.lit("…"))
    ).cast("long")
    lines = F.split(c, "\n")
    n_lines = F.size(lines).cast("long")
    n_bullet = F.size(
        F.filter(lines, lambda l: l.rlike(r"^\s*[-*•]"))
    ).cast("long")
    n_ell = F.size(
        F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)\s*$"))
    ).cast("long")
    n_alpha = F.size(
        F.filter(toks, lambda t: t.rlike("[A-Za-z]"))
    ).cast("long")
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(F.transform(toks, F.lower)),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    ).cast("long")
    safe_w = F.greatest(w, F.lit(1))
    safe_l = F.greatest(n_lines, F.lit(1))
    return {
        "n_words": w,
        "mean_word_len": F.round(csum.cast("double") / safe_w, 6),
        "hash_word_ratio": F.round(n_hash.cast("double") / safe_w, 6),
        "ellipsis_word_ratio": F.round(n_ellsym.cast("double") / safe_w, 6),
        "bullet_line_frac": F.round(n_bullet.cast("double") / safe_l, 6),
        "ellipsis_line_frac": F.round(n_ell.cast("double") / safe_l, 6),
        "alpha_word_frac": F.round(n_alpha.cast("double") / safe_w, 6),
        "n_required_stopwords": n_stop,
        "flag_word_count": (w >= GOPHER_MIN_WORDS)
        & (w <= GOPHER_MAX_WORDS),
        "flag_mean_word_len": (w > 0)
        & (F.lit(3) * w <= csum)
        & (csum <= F.lit(10) * w),
        "flag_symbol_ratio": (w > 0)
        & (F.lit(10) * n_hash <= w)
        & (F.lit(10) * n_ellsym <= w),
        "flag_bullet_lines": F.lit(10) * n_bullet <= F.lit(9) * n_lines,
        "flag_ellipsis_lines": F.lit(10) * n_ell <= F.lit(3) * n_lines,
        "flag_alpha_words": (w > 0) & (F.lit(5) * n_alpha >= F.lit(4) * w),
        "flag_stop_words": n_stop >= stopword_min,
    }


def quality_score(col: Column | str) -> Column:
    """Composite [0,1] quality score — a fixed, documented formula (the
    exact weights are a policy choice; determinism is the contract):
    penalize too-short/too-long docs, reward stopword presence, penalize
    digit/punct density."""
    f = quality_features(col)
    length_ok = F.when(
        (f["n_tokens"] >= 5) & (f["n_tokens"] <= 5000), F.lit(1.0)
    ).otherwise(F.lit(0.3))
    stop_ok = F.least(f["stopword_ratio"] * 4.0, F.lit(1.0))
    noise = F.least(
        (f["punct_ratio"] + f["digit_ratio"]) * 2.0, F.lit(1.0)
    )
    return F.round(
        length_ok * 0.5 + stop_ok * 0.3 + (F.lit(1.0) - noise) * 0.2, 6
    )


#: Linear quality-classifier geometry: feature-hash dimension and the
#: integer weight recipe. Weights are micro-units in [-1e6, 1e6]
#: derived per bucket by a fixed multiplicative-hash recipe — the
#: deterministic stand-in for a trained weight table (no trained
#: classifier ships in this container; the INFERENCE path — hashing
#: trick, weight lookup, margin accumulation, logistic link, threshold
#: gate — is the part that runs at corpus scale and is what this
#: operator implements for real).
CLASSIFIER_DIM = 1024
CLASSIFIER_WEIGHT_MULT = 2654435761
CLASSIFIER_WEIGHT_ADD = 104729
CLASSIFIER_WEIGHT_MOD = 2_000_001
CLASSIFIER_WEIGHT_SHIFT = 1_000_000


def classifier_token_weight(tok: Column) -> Column:
    """Integer (micro-unit) weight of one token: polynomial token hash
    → feature bucket (hashing trick, Weinberger et al. 2009) → fixed
    multiplicative-hash weight in [-1e6, 1e6]. Pure integer arithmetic
    end to end, so margin sums are EXACT and the keep decision has no
    float boundary."""
    from spotify_tracks_etl_portfolio_spark.functions import rolling_hash

    bucket = rolling_hash(tok) % CLASSIFIER_DIM
    return (
        bucket * F.lit(CLASSIFIER_WEIGHT_MULT) + F.lit(CLASSIFIER_WEIGHT_ADD)
    ) % F.lit(CLASSIFIER_WEIGHT_MOD) - F.lit(CLASSIFIER_WEIGHT_SHIFT)


def linear_quality_scores(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Classifier-based quality filtering — the third canonical filter
    family of an LLM data pipeline next to rule-based (``gopher_rules``)
    and perplexity-based (the CCNet chain): the inference path of a
    linear (fastText / logistic) document-quality classifier.

    Per document: hash every token into ``CLASSIFIER_DIM`` feature
    buckets, accumulate the bucket weights into an EXACT integer margin
    sum (one JVM fold, nested char-hash inside token fold — no UDF),
    normalize by token count, squash through the logistic link. The
    keep decision is ``margin_sum >= 0`` on the INTEGER sum — bit-exact
    on any engine, no float threshold boundary; ``margin``/``score``
    are the reported calibrated values (round-6/round-9, the
    established cross-engine float discipline).

    Scale shape: a zero-shuffle projection — no join, no aggregation,
    no driver state beyond the frozen weight recipe; at 100 TB this is
    one codegen'd pass over the corpus, embarrassingly parallel per
    split. A real trained weight table would broadcast as a literal
    map (the unigram-trainer pattern) without changing the plan."""
    toks = tokens(text_col)
    n = F.size(toks)
    z = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: acc + classifier_token_weight(t),
    )
    margin = F.when(n > 0, F.round(
        z.cast("double")
        / (n.cast("double") * F.lit(float(CLASSIFIER_WEIGHT_SHIFT))),
        9,
    )).otherwise(F.lit(0.0))
    score = F.round(
        F.lit(1.0) / (F.lit(1.0) + F.exp(-margin)), 6
    )
    return df.select(
        F.col(id_col),
        n.cast("long").alias("n_tokens"),
        z.alias("margin_sum"),
        margin.alias("margin"),
        score.alias("score"),
        ((n > 0) & (z >= 0)).alias("keep"),
    )


#: C4 (Raffel et al. 2020, §2.2) line/page rule constants. The
#: bad-word list is a NEUTRAL STAND-IN pair for the LDNOOBW blocklist
#: the paper uses (shipping the real list adds nothing to the engine;
#: the rule machinery — page-level word scan — is what runs at scale).
C4_MIN_LINE_WORDS = 5
C4_MIN_SENTENCES = 3
C4_TERMINALS = (".", "!", "?", '"')
C4_BADWORD_STANDINS = ("badword_a", "badword_b")
C4_LINE_WRAP = 7


def _c4_line_ok(line: Column) -> Column:
    """C4 line-retention rule: ends in terminal punctuation, has at
    least C4_MIN_LINE_WORDS words, and does not mention javascript."""
    t = F.trim(line)
    ends = F.lit(False)
    for suffix in C4_TERMINALS:
        ends = ends | F.endswith(t, F.lit(suffix))
    words = F.size(F.split(t, r"\s+"))
    no_js = ~F.contains(F.lower(t), F.lit("javascript"))
    return ends & (words >= C4_MIN_LINE_WORDS) & no_js


def c4_line_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """C4-style rule-based cleaning (Raffel et al. 2020, §2.2) — the
    LINE-level complement of the document-level ``gopher_rules`` gate:
    keep only lines that end in terminal punctuation, carry >= 5 words,
    and don't mention javascript; then drop whole pages with fewer than
    3 sentences in the retained text, or containing ``lorem ipsum``, a
    curly brace, or a blocklist word (neutral stand-ins here). The
    cross-page 3-sentence-span dedup step of C4 is the separate
    ``passage_dedup_documents`` operator.

    Pure zero-shuffle JVM projection (split/filter/HOFs — no UDF, no
    exchange): one codegen'd pass at 100 TB. Returns per page:
    (id, n_lines, n_kept_lines, n_sentences, has_lorem, has_brace,
    has_badword, page_ok, kept_chars)."""
    text = F.col(text_col)
    lines = F.split(text, "\n")
    kept = F.filter(lines, _c4_line_ok)
    kept_text = F.array_join(kept, "\n")
    n_sentences = F.regexp_count(kept_text, F.lit(r"[.!?]"))
    lower = F.lower(text)
    has_lorem = F.contains(lower, F.lit("lorem ipsum"))
    has_brace = F.contains(text, F.lit("{"))
    has_badword = F.lit(False)
    for w in C4_BADWORD_STANDINS:
        has_badword = has_badword | F.contains(lower, F.lit(w))
    page_ok = (
        ~has_lorem
        & ~has_brace
        & ~has_badword
        & (n_sentences >= C4_MIN_SENTENCES)
    )
    return df.select(
        F.col(id_col),
        F.size(lines).cast("int").alias("n_lines"),
        F.size(kept).cast("int").alias("n_kept_lines"),
        n_sentences.cast("int").alias("n_sentences"),
        has_lorem.alias("has_lorem"),
        has_brace.alias("has_brace"),
        has_badword.alias("has_badword"),
        page_ok.alias("page_ok"),
        F.length(kept_text).cast("long").alias("kept_chars"),
    )


def synthesize_pages(
    df: DataFrame, id_col: str, text_col: str, wrap: int = C4_LINE_WRAP
) -> DataFrame:
    """Deterministic REAL multi-line pages from single-line corpus text
    — the text twin of ``attach_encoded_media``'s synthesize-then-
    really-decode pattern (the driver corpus is single-line word salad,
    so the line gate needs genuine line structure to chew on): tokens
    re-wrap into ``wrap``-word lines, each line's terminal punctuation
    chosen by its own rolling hash (period / bang / question / none /
    a javascript mention — hitting every line rule), and page-level
    defect lines (lorem ipsum, a brace block) are planted on fixed id
    residues. Everything replays in SQL from the same hash."""
    from spotify_tracks_etl_portfolio_spark.functions import rolling_hash

    toks = tokens(text_col)
    n_chunks = F.ceil(F.size(toks) / F.lit(wrap)).cast("int")
    # guard the empty page: sequence(0, -1) would generate a DESCENDING
    # range, not an empty one
    chunks = F.when(
        n_chunks > 0,
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.array_join(
                F.slice(toks, i * wrap + 1, wrap), " "
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))

    def line_of(c: Column) -> Column:
        h = rolling_hash(c) % 5
        return (
            F.when(h == 0, F.concat(c, F.lit(".")))
            .when(h == 1, F.concat(c, F.lit("!")))
            .when(h == 2, F.concat(c, F.lit("?")))
            .when(h == 3, c)
            .otherwise(F.concat(c, F.lit(" javascript embed.")))
        )

    lines = F.transform(chunks, line_of)
    did = F.col(id_col)
    extras = F.concat(
        F.when(
            did % 17 == 0,
            F.array(F.lit("lorem ipsum dolor sit amet consectetur elit.")),
        ).otherwise(F.array().cast("array<string>")),
        F.when(
            did % 13 == 0,
            F.array(F.lit("function() { var x = 1; }")),
        ).otherwise(F.array().cast("array<string>")),
    )
    page = F.array_join(F.concat(extras, lines), "\n")
    return df.select(did, page.alias("page"))


def redact(
    df: DataFrame,
    col: str,
    pattern: str,
    replacement: str,
    out_col: str = "redacted",
    count_col: str = "n_redacted",
) -> DataFrame:
    """Regex redaction for corpus scrubbing (PII masking before a
    training corpus ships): replaces every match of ``pattern`` in
    ``col`` with ``replacement`` and counts the matches per row.

    Scale posture: two JVM-side regex Column expressions
    (``regexp_replace`` + ``regexp_count``) inside one whole-stage
    codegen projection — no UDF, no shuffle, streams at scan speed.
    Typical patterns: email addresses, phone numbers, credit-card-ish
    digit runs. The registered query instance masks numeric literals,
    the only PII-shaped tokens in the synthetic corpus.
    """
    return df.withColumns(
        {
            out_col: F.regexp_replace(F.col(col), pattern, replacement),
            count_col: F.regexp_count(
                F.col(col), F.lit(pattern)
            ).cast("long"),
        }
    )


#: Ordered PII scrub patterns — order matters (URLs may embed emails and
#: digits, emails embed dots, so broader containers replace first). Each
#: pattern stays inside the common Java-regex ∩ RE2 subset so the DuckDB
#: oracle can run the identical expressions.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("url", r"https?://[^\s]+", "[URL]"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ip", r"\b\d{1,3}(\.\d{1,3}){3}\b", "[IP]"),
    ("number", r"\d{7,}", "[NUMBER]"),
)


def pii_scrub(
    df: DataFrame, col: str, out_col: str = "text_clean"
) -> DataFrame:
    """Multi-category PII scrub (corpus-shipping hygiene): sequentially
    replace URLs → emails → IPv4s → long digit runs with typed mask
    tokens, counting each category at its stage (after broader
    containers are gone, so a URL's digits are never double-counted as
    a phone number).

    Scale posture: one whole-stage-codegen projection of chained
    ``regexp_replace``/``regexp_count`` Column expressions — no UDF, no
    shuffle, streams at scan speed."""
    cur = F.col(col)
    counts = {}
    for cat, pat, token in PII_PATTERNS:
        counts[f"n_{cat}"] = F.regexp_count(cur, F.lit(pat)).cast("long")
        cur = F.regexp_replace(cur, pat, token)
    return df.withColumns({**counts, out_col: cur})


#: Sliding-window chunking defaults (chars). Stride < size ⇒ adjacent
#: chunks overlap by (size − stride) chars, the standard RAG/embedding
#: prep so no sentence is ever split across a boundary without context.
CHUNK_CHARS = 200
CHUNK_STRIDE = 150


def sliding_chunks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    size: int = CHUNK_CHARS,
    stride: int = CHUNK_STRIDE,
) -> DataFrame:
    """Split each document into overlapping fixed-width char chunks —
    the embedding/RAG prep operator: (id, chunk_idx, chunk, n_chunks)
    rows, chunk_idx 1-based, n_chunks = max(1, ceil((len − size) /
    stride) + 1) so a short doc still yields exactly one chunk and the
    final chunk always reaches the end of the text.

    Pure projection + generator (sequence → posexplode → substr): no
    shuffle at all, parallelizes with the scan at any scale; chunk
    boundaries are deterministic functions of the text length, so the
    operator re-runs identically on retry.
    """
    n = F.greatest(
        F.lit(1),
        (F.ceil((F.length(F.col(text_col)) - F.lit(size)) / F.lit(stride)) + 1),
    ).cast("int")
    starts = F.transform(
        F.sequence(F.lit(1), n), lambda i: (i - 1) * stride + 1
    )
    ex = df.select(
        F.col(id_col),
        F.col(text_col).alias("__text"),
        n.cast("long").alias("n_chunks"),
        F.posexplode(starts).alias("pos", "start"),
    )
    return ex.select(
        id_col,
        (F.col("pos") + 1).cast("long").alias("chunk_idx"),
        F.col("__text").substr(F.col("start"), F.lit(size)).alias("chunk"),
        "n_chunks",
    )


#: Merge-batching knobs (round-10 verdict item 6): up to BPE_BATCH_M
#: merges learned per round (rounds ≈ merges/m when the corpus allows),
#: selected from the per-round top-BPE_BATCH_TOPK pair counts.
BPE_BATCH_M = 4
BPE_BATCH_TOPK = 200


def _select_merge_batch(
    rows: list[tuple[str, str, int]],
    uncollected_bound: int,
    take: int,
) -> list[tuple[str, str, int]]:
    """Greedy PREFIX of the sorted pair list that is provably the same
    set (in the same order, with the same counts) that strictly
    sequential BPE would pick — the batch acceptance rule:

    - ``rows`` is the (count desc, left asc, right asc)-sorted top of
      the pair-count table; ``uncollected_bound`` is the largest count
      any pair OUTSIDE the collected slice can have (the last collected
      count when the slice is full, else 0).
    - Accept the first pair unconditionally; accept each next pair
      ``(a, b, n)`` only while
      (1) PREFIX-DISJOINT: neither symbol appears in any accepted
          pair's ``{left, right, merged}`` — overlapping pairs stop the
          batch (never skip-and-continue: skipping would break the
          prefix property that every pair ranked above an accepted one
          is itself accepted and disjoint, which is what keeps later
          counts unchanged);
      (2) SPOILER-SAFE: for every accepted ``(aj, bj)`` with merged
          token ``mj``, ``max(A, B) + U < n`` where ``A`` bounds pairs
          ending in ``aj`` (each created pair ``(x, mj)`` arises from an
          ``(x, aj)`` occurrence), ``B`` bounds pairs starting with
          ``bj``, and ``U`` bounds PRE-EXISTING pairs touching a symbol
          already spelled ``mj`` — the one case the prefix rule alone
          cannot subsume: a created pair can ADD to an existing pair's
          count when the merged spelling collides with a live symbol.
          All three maxima are over the collected slice, floored at
          ``uncollected_bound``.

    Why this equals sequential BPE: applying a merge leaves the count
    of every symbol-disjoint pair unchanged (its adjacencies can't
    overlap a merge site), only DECREASES pairs touching the merged
    symbols (all ranked below the accepted prefix, and they can only
    fall), and CREATES pairs bounded by (2) strictly below the next
    accepted count — so at each sequential step the next accepted pair
    is still the argmax under (count desc, lex asc). Fuzzed against
    the sequential reference over adversarial tiny-alphabet corpora
    (maximal overlap pressure) in
    tests/test_dedup_text.py::test_bpe_batch_selection_fuzz_equals_sequential.
    """
    accepted: list[tuple[str, str, int]] = []
    forbidden: set[str] = set()
    for a, b, n in rows:
        if accepted:
            if a in forbidden or b in forbidden:
                break
            safe = True
            for aj, bj, _nj in accepted:
                mj = aj + bj
                cap_a = max(
                    [c for (x, y, c) in rows if y == aj]
                    + [uncollected_bound]
                )
                cap_b = max(
                    [c for (x, y, c) in rows if x == bj]
                    + [uncollected_bound]
                )
                cap_u = max(
                    [c for (x, y, c) in rows if x == mj or y == mj]
                    + [uncollected_bound]
                )
                if max(cap_a, cap_b) + cap_u >= n:
                    safe = False
                    break
            if not safe:
                break
        accepted.append((a, b, n))
        forbidden |= {a, b, a + b}
        if len(accepted) == take:
            break
    return accepted


def bpe_train_merges(
    df: DataFrame,
    text_col: str,
    num_merges: int = 10,
    batch_m: int = BPE_BATCH_M,
) -> list[tuple[int, str, str, int]]:
    """Distributed BPE tokenizer training (Sennrich et al. 2016,
    arXiv:1508.07909) — the tokenizer-learning step of an LLM data
    pipeline, expressed Spark-first:

    1. collapse the corpus to a (word, frequency) table — one shuffle;
       every later pass runs over unique words weighted by count, not
       raw text (the standard BPE corpus compression);
    2. per ROUND (round-10 verdict item 6): explode adjacent symbol
       pairs, one weighted count aggregation, collect the top
       ``BPE_BATCH_TOPK`` pairs, and accept up to ``batch_m`` merges
       via the exactness-preserving prefix-batch rule
       (:func:`_select_merge_batch` — pairwise-disjoint prefix of the
       sorted list with a spoiler guard, provably the merges strictly
       sequential BPE picks, ties lexicographic, no RNG). The accepted
       merges apply to every word's symbol array as ONE chained
       projection of greedy left-to-right ``aggregate`` HOFs
       (JVM-side, no UDF), so driver round-trips and corpus passes
       drop from ``merges`` to ``rounds ≈ merges/batch_m`` (measured:
       20 merges in 11 rounds at the sf0.01 gate; ``batch_m=1``
       recovers the old strictly-per-merge loop exactly);
    3. the driver holds only the learned merge table (num_merges rows —
       the same bounded-driver-state pattern as k-means centroids) plus
       the per-round top-K pair slice, and each round's word table is
       localCheckpoint'd so plans stay flat.

    Returns [(rank, left, right, weighted_count), ...] — identical to
    the strictly sequential trainer's output (reference-equality and
    fuzz tests pin this, overlap cases included).
    """
    words = (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            F.split(F.col("w"), "").alias("syms"),
            F.col("freq"),
        )
        .localCheckpoint(eager=True)
    )
    merges: list[tuple[int, str, str, int]] = []
    while len(merges) < num_merges:
        take = min(batch_m, num_merges - len(merges))
        top_k = max(BPE_BATCH_TOPK, 2 * take)
        pairs = words.select(
            F.posexplode(F.slice("syms", 1, F.size("syms") - 1)).alias(
                "i", "a"
            ),
            F.col("syms"),
            F.col("freq"),
        ).select(
            F.col("a"),
            F.element_at("syms", F.col("i") + 2).alias("b"),
            F.col("freq"),
        )
        top = (
            pairs.groupBy("a", "b")
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
            .limit(top_k)
            .collect()
        )
        rows = [
            (r["a"], r["b"], int(r["n"])) for r in top if r["n"] is not None
        ]
        if not rows:
            break
        uncollected = rows[-1][2] if len(rows) == top_k else 0
        accepted = _select_merge_batch(rows, uncollected, take)
        syms_out = F.col("syms")
        base = len(merges)
        for i, (a, b, n) in enumerate(accepted):
            merges.append((base + i, a, b, n))
            syms_out = apply_merge(syms_out, a, b)
        words = words.select(
            syms_out.alias("syms"), F.col("freq")
        ).localCheckpoint(eager=True)
    return merges


def apply_merge(syms: Column | str, a: str, b: str) -> Column:
    """Greedy left-to-right application of ONE BPE merge (a, b) to a
    symbol array: overlapping occurrences resolve leftmost-first
    (``aaa`` + merge ('a','a') → ``['aa','a']``), the classic BPE
    application order. JVM-side aggregate HOF, no UDF — shared by
    training (``bpe_train_merges``) and inference
    (``bpe_segment_words``)."""
    c = F.col(syms) if isinstance(syms, str) else syms
    merged = a + b
    return F.aggregate(
        c,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.try_element_at(acc, F.lit(-1)) == a) & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.lit(merged)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_segment_words(
    df: DataFrame,
    text_col: str,
    merges: list[tuple[int, str, str, int]],
) -> DataFrame:
    """BPE tokenizer INFERENCE — the other half of ``bpe_train_merges``:
    segment every document's words with a learned merge table.

    Shape for 100 TB: the corpus collapses to its DISTINCT words first
    (one shuffle), the merge chain (a bounded, driver-held table — the
    model) applies per unique word once, and documents join the
    resulting vocabulary (word → subword count) instead of re-running
    the merges per occurrence. The vocab join carries no broadcast
    hint: vocabulary scales with the corpus, size-based planning picks
    the strategy.

    Returns (``__word``, ``n_subwords``) — the segmented vocabulary.
    """
    words = (
        df.select(F.explode(tokens(text_col)).alias("__word"))
        .distinct()
    )
    syms = F.split(F.col("__word"), "")
    for _, a, b, _ in merges:
        syms = apply_merge(syms, a, b)
    return words.select("__word", F.size(syms).cast("long").alias("n_subwords"))


#: Unigram-LM (SentencePiece-style) tokenizer-training geometry. The
#: trainer is the deterministic hard-EM (Viterbi) variant of Kudo 2018
#: (arXiv:1804.10959): piece scores are 9-dp DECIMAL log-probs, each
#: word's segmentation is its unique Viterbi path (ties: longer last
#: piece wins — provably total, see unigram_train_vocab), and pruning
#: is by-disuse (a multi-char piece that wins no Viterbi slot drops
#: out; single chars never drop, so every word stays segmentable).
UNIGRAM_PIECE_MAXLEN = 4
UNIGRAM_SEED_MULTI = 200
UNIGRAM_VOCAB_SIZE = 128
UNIGRAM_EM_ROUNDS = 2
UNIGRAM_WORD_CAP = 16


def _unigram_lp_table(vocab: dict[str, int]) -> dict:
    """Add-1-smoothed 9-dp DECIMAL log-probs over the current vocab:
    lp(piece) = round(ln((cnt+1) / (total+|V|)), 9), half-up — the
    exact arithmetic DuckDB's ``round(ln(...), 9)`` performs, so
    Viterbi score sums replay bit-identically cross-engine."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    total = float(sum(vocab.values()) + len(vocab))
    q = Decimal("0.000000001")
    return {
        p: Decimal(repr(math.log((c + 1) / total))).quantize(
            q, rounding=ROUND_HALF_UP
        )
        for p, c in vocab.items()
    }


def _lp_map_expr(lp: dict):
    """The piece→logprob literal map as ONE JVM-parsed SQL ``map(...)``
    expression (r14 optimization round). ``F.create_map`` over
    ``F.lit`` pairs costs one py4j round-trip PER ELEMENT — ~2·|vocab|
    driver calls per build, and the trainer builds the map once per EM
    round plus once for serving (the same per-element construct cost
    class as the r13 SimHash/LSH expr rewrites). Values identical:
    fixed-point-formatted exact Decimal literals parse as DECIMAL and
    cast to the same DECIMAL(28,9) the lit/cast chain produced
    (``test_lp_map_expr_matches_create_map`` pins column equality);
    keys are ``str_lit_sql`` literals. Empty vocab keeps the old
    ``create_map()`` corner verbatim."""
    if not lp:
        return F.create_map()
    parts = []
    for piece, v in lp.items():
        # {:f} prints Decimal fixed-point (never scientific), so the
        # literal parses as an exact DECIMAL, not a double
        parts.append(str_lit_sql(piece))
        parts.append(f"CAST({v:f} AS DECIMAL(28,9))")
    return F.expr("map(" + ",".join(parts) + ")")


def _unigram_viterbi_pieces(lp: dict, maxlen: int = UNIGRAM_PIECE_MAXLEN):
    """Column expression: the Viterbi segmentation (array of pieces) of
    column ``w`` under the driver-held piece→logprob table ``lp``.

    Whole thing is JVM-side higher-order functions over a literal map —
    a pure zero-shuffle projection per distinct word (the 100 TB shape:
    the corpus collapsed to its word table once; the model is bounded
    driver state like the k-means centroids / BPE merge table). DP over
    positions 1..len(w); candidates are vocab pieces ending at each
    position; tie-break on equal DECIMAL score takes the LONGER piece.
    Totality: at one position, two candidates with equal length are the
    same substring, so (score, piece-length) orders candidates totally
    and the chosen path is unique — the same argument makes the oracle's
    ``row_number() OVER (ORDER BY score, plen DESC)`` deterministic."""
    lpmap = _lp_map_expr(lp)
    w = F.col("w")
    n = F.length(w)
    cand = F.filter(
        F.flatten(
            F.transform(
                F.sequence(F.lit(1), n),
                lambda i: F.transform(
                    F.sequence(
                        F.lit(1), F.least(F.lit(maxlen), n - i + 1)
                    ),
                    lambda l: F.struct(
                        (i - 1).alias("s"),
                        (i - 1 + l).alias("e"),
                        l.cast("int").alias("plen"),
                        F.substring(w, i, l).alias("piece"),
                        F.element_at(
                            lpmap, F.substring(w, i, l)
                        ).alias("lp"),
                    ),
                ),
            )
        ),
        lambda c: c["lp"].isNotNull(),
    )
    empty_pieces = F.array().cast("array<string>")
    init = F.array(
        F.struct(
            F.lit(0).cast("decimal(28,9)").alias("score"),
            empty_pieces.alias("pieces"),
            F.lit(0).cast("int").alias("plen"),
        )
    )
    sentinel = F.struct(
        F.lit(None).cast("decimal(28,9)").alias("score"),
        empty_pieces.alias("pieces"),
        F.lit(0).cast("int").alias("plen"),
    )

    def step(acc, k):
        def challenge(best, c):
            prev = F.element_at(acc, c["s"].cast("int") + 1)
            cs = (prev["score"] + c["lp"]).cast("decimal(28,9)")
            take = (
                best["score"].isNull()
                | (cs > best["score"])
                | ((cs == best["score"]) & (c["plen"] > best["plen"]))
            )
            cand_struct = F.struct(
                cs.alias("score"),
                F.concat(prev["pieces"], F.array(c["piece"])).alias(
                    "pieces"
                ),
                c["plen"].alias("plen"),
            )
            return F.when(take, cand_struct).otherwise(best)

        ending_here = F.filter(cand, lambda c: c["e"] == k)
        return F.concat(
            acc, F.array(F.aggregate(ending_here, sentinel, challenge))
        )

    acc = F.aggregate(F.sequence(F.lit(1), n), init, step)
    return F.element_at(acc, n + 1)["pieces"]


def unigram_train_model(
    df: DataFrame,
    text_col: str,
    seed_multi: int = UNIGRAM_SEED_MULTI,
    piece_maxlen: int = UNIGRAM_PIECE_MAXLEN,
    em_rounds: int = UNIGRAM_EM_ROUNDS,
    word_cap: int = UNIGRAM_WORD_CAP,
) -> tuple[dict[str, int], dict]:
    """Run the unigram hard-EM training loop and return the UNTRUNCATED
    final model ``(vocab counts, piece -> DECIMAL logprob)`` — what
    serving needs (truncating to the ranked top-K could drop a single
    char and break segmentability; the ranked view is
    :func:`unigram_train_vocab`).

    Distributed unigram-LM (SentencePiece-style) tokenizer training
    (Kudo 2018, arXiv:1804.10959) — the missing twin of
    :func:`bpe_train_merges`, same zero-RNG oracle-replayable
    discipline, expressed Spark-first:

    1. collapse the corpus to a weighted (word, freq) table — ONE
       shuffle; training words longer than ``word_cap`` chars are
       dropped (SentencePiece's max-piece/sentence caps play the same
       role; giant tokens are URL/noise at corpus scale);
    2. SEED the vocabulary with raw substring frequencies: every
       substring of length <= ``piece_maxlen``, counted with
       multiplicity and weighted by word freq — one aggregation; the
       top ``seed_multi`` multi-char pieces (ties by UTF-8 byte order,
       the collation DuckDB shares) plus ALL single chars;
    3. hard-EM rounds: the E-step segments every distinct word with its
       Viterbi path under the current add-1-smoothed DECIMAL log-probs
       (:func:`_unigram_viterbi_pieces` — a zero-shuffle JVM projection
       over the word table; no joins, no Python in the loop), then ONE
       piece-count aggregation; the M-step re-estimates log-probs from
       the Viterbi counts and prunes by disuse (multi-char pieces with
       zero count drop; single chars always survive, so segmentability
       is invariant);
    4. the final vocab ranks by (count desc, UTF-8 piece asc), truncated
       to ``vocab_size``.

    Driver state is bounded: the vocab table (<= seed_multi + alphabet
    rows) and per-round counts — the k-means-centroid pattern; the
    corpus-sized work is always a projection or a single aggregation.
    """
    words = (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .filter((F.col("w") != "") & (F.length("w") <= word_cap))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .localCheckpoint(eager=True)
    )
    w = F.col("w")
    n = F.length(w)
    sub_pieces = F.flatten(
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.transform(
                F.sequence(F.lit(1), F.least(F.lit(piece_maxlen), n - i + 1)),
                lambda l: F.substring(w, i, l),
            ),
        )
    )
    subs = (
        words.select(F.explode(sub_pieces).alias("piece"), "freq")
        .groupBy("piece")
        .agg(F.sum("freq").alias("cnt"))
    )
    # bounded collect (the sanctioned model-state pattern): top multis
    # by (count desc, UTF-8 bytes asc) + the whole alphabet, in ONE job
    # (r14 optimization round — the former two separate collects each
    # re-ran the substring explode + aggregation, because exchange
    # reuse only applies within one plan; the union shares the
    # exploded partial-agg exchange, so the corpus-scale pass runs
    # once and only the cheap final aggregation duplicates). The multi
    # branch keeps its TakeOrdered shape (no single-task sort).
    seed_rows = (
        subs.filter(F.length("piece") >= 2)
        .orderBy(F.desc("cnt"), F.asc(F.encode("piece", "UTF-8")))
        .limit(seed_multi)
        .unionByName(subs.filter(F.length("piece") == 1))
        .collect()
    )
    chars = [r for r in seed_rows if len(r["piece"]) == 1]
    multis = [r for r in seed_rows if len(r["piece"]) >= 2]
    char_set = {r["piece"] for r in chars}
    vocab: dict[str, int] = {r["piece"]: int(r["cnt"]) for r in chars}
    vocab.update({r["piece"]: int(r["cnt"]) for r in multis})

    for _ in range(em_rounds):
        lp = _unigram_lp_table(vocab)
        counts = (
            words.select(
                F.explode(
                    _unigram_viterbi_pieces(lp, piece_maxlen)
                ).alias("piece"),
                "freq",
            )
            .groupBy("piece")
            .agg(F.sum("freq").alias("cnt"))
            .collect()
        )
        got = {r["piece"]: int(r["cnt"]) for r in counts}
        vocab = {c: got.get(c, 0) for c in char_set}
        vocab.update(
            {p: c for p, c in got.items() if len(p) >= 2}
        )

    return vocab, _unigram_lp_table(vocab)


def unigram_train_vocab(
    df: DataFrame,
    text_col: str,
    seed_multi: int = UNIGRAM_SEED_MULTI,
    vocab_size: int = UNIGRAM_VOCAB_SIZE,
    piece_maxlen: int = UNIGRAM_PIECE_MAXLEN,
    em_rounds: int = UNIGRAM_EM_ROUNDS,
    word_cap: int = UNIGRAM_WORD_CAP,
) -> list[tuple[int, str, int, float]]:
    """Train (see :func:`unigram_train_model`) and rank the learned
    vocabulary by (count desc, UTF-8 piece asc), truncated to
    ``vocab_size``. Returns [(rank, piece, count, logprob), ...];
    logprob is the final smoothed 9-dp value as a double."""
    vocab, lp = unigram_train_model(
        df,
        text_col,
        seed_multi=seed_multi,
        piece_maxlen=piece_maxlen,
        em_rounds=em_rounds,
        word_cap=word_cap,
    )
    ranked = sorted(
        vocab.items(), key=lambda kv: (-kv[1], kv[0].encode("utf-8"))
    )[:vocab_size]
    return [
        (rank, piece, cnt, float(lp[piece]))
        for rank, (piece, cnt) in enumerate(ranked)
    ]


def unigram_segment_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    lp: dict,
    piece_maxlen: int = UNIGRAM_PIECE_MAXLEN,
    word_cap: int = UNIGRAM_WORD_CAP,
) -> DataFrame:
    """Unigram tokenizer INFERENCE — the serving half of
    :func:`unigram_train_model` (the bpe_segment_words pattern): each
    DISTINCT in-cap word is segmented ONCE with its Viterbi path under
    the trained model (zero-shuffle HOF projection — the model is a
    literal map, never a joined table), documents then join the
    segmented vocabulary. Words longer than ``word_cap`` were never
    trainable and count as OOV (their chars may be absent from the
    model, so no segmentation is claimed for them).

    Returns (id, n_words, n_pieces, n_oov) per input row — empty text
    keeps 0/0/0 through the left join."""
    doc_words = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("w")
    ).filter(F.col("w") != "")
    vocab_seg = (
        doc_words.select("w")
        .distinct()
        .filter(F.length("w") <= word_cap)
        .select(
            "w",
            F.size(
                _unigram_viterbi_pieces(lp, piece_maxlen)
            ).cast("long").alias("n_sub"),
        )
    )
    per_doc = (
        doc_words.join(vocab_seg, "w", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.coalesce(F.col("n_sub"), F.lit(0))).alias("n_pieces"),
            F.sum(
                F.when(F.col("n_sub").isNull(), 1).otherwise(0)
            ).cast("long").alias("n_oov"),
        )
    )
    return (
        df.select(F.col(id_col))
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_words", F.lit(0)).cast("long").alias("n_words"),
            F.coalesce("n_pieces", F.lit(0)).cast("long").alias("n_pieces"),
            F.coalesce("n_oov", F.lit(0)).cast("long").alias("n_oov"),
        )
    )


def add_lang_id(
    df: DataFrame, col: str = "text", out: str = "predicted_lang"
) -> DataFrame:
    """DataFrame-level language ID: identical semantics to
    ``lang_id(col)``, but tokens and the five marker scores materialize
    in their own projections, so the text is split ONCE per row instead
    of once per score reference. The Column form inlines the split ~55×
    (lambda-bearing HOFs are excluded from Spark's common-subexpression
    elimination; CollapseProject keeps these barriers because the
    intermediate expressions are non-cheap) — measured 2× wall at
    sf0.1, and the gap grows with text size.

    Caveat: a FILTER on the output column still gets pushed below the
    projections by PushDownPredicates, which re-inlines the expression
    into the filter condition — the materialization win applies to the
    projection/aggregation path, not to predicates (those evaluate the
    expression once per row inside the pushed filter regardless)."""

    # Marker scores and the argmax CASE are JVM-parsed SQL strings (r14
    # optimization round): the Column/HOF form paid ~20 ms per filter
    # lambda plus a py4j round-trip per operator — ~0.4 s of driver
    # time per call. Same size/filter/IN/greatest ops; the CASE's first
    # match replays the reversed when-chain's tie-break (first lang in
    # LANG_MARKERS wins). Bit-identity pinned by
    # test_add_lang_id_quality_exprs_match_column_form + the oracle.
    d = df.withColumn("__li_toks", tokens(col))
    for lang, markers in LANG_MARKERS.items():
        in_list = ", ".join(str_lit_sql(m) for m in markers)
        d = d.withColumn(
            f"__li_{lang}",
            F.expr(f"size(filter(__li_toks, t -> t IN ({in_list})))"),
        )
    langs = list(LANG_MARKERS)
    best_sql = "greatest(" + ", ".join(f"__li_{la}" for la in langs) + ")"
    case = (
        "CASE "
        + " ".join(
            f"WHEN __li_{la} = {best_sql} AND {best_sql} > 0 "
            f"THEN {str_lit_sql(la)}"
            for la in langs
        )
        + " ELSE 'und' END"
    )
    return d.withColumn(out, F.expr(case)).drop(
        "__li_toks", *[f"__li_{lang}" for lang in LANG_MARKERS]
    )


def add_quality(
    df: DataFrame, col: str = "text", out: str = "quality_score"
) -> DataFrame:
    """DataFrame-level quality score: identical formula to
    ``quality_score(col)``, with the token array and the four signals
    materialized once (same duplication rationale as ``add_lang_id``)."""
    c = F.col(col)
    d = df.withColumn("__q_toks", tokens(col))
    d = d.withColumn("__q_ntok", F.size(F.col("__q_toks")))
    # parsed expr, not a filter-HOF lambda (~20 ms of py4j per call —
    # same size/filter/IN ops, r14; pinned by the lang-id/quality
    # equality test)
    stop_list = ", ".join(str_lit_sql(s) for s in QUALITY_STOPWORDS)
    d = d.withColumn(
        "__q_nstop",
        F.expr(f"size(filter(__q_toks, t -> t IN ({stop_list})))"),
    )
    safe_tok = F.greatest(F.col("__q_ntok"), F.lit(1))
    safe_chars = F.greatest(F.length(c), F.lit(1))
    stopword_ratio = F.round(F.col("__q_nstop").cast("double") / safe_tok, 6)
    punct_ratio = F.round(
        F.regexp_count(c, F.lit(r"[.,!?;:]")).cast("double") / safe_chars, 6
    )
    digit_ratio = F.round(
        F.regexp_count(c, F.lit(r"[0-9]")).cast("double") / safe_chars, 6
    )
    length_ok = (F.col("__q_ntok") >= 5) & (F.col("__q_ntok") <= 5000)
    score = F.round(
        F.when(length_ok, F.lit(1.0)).otherwise(F.lit(0.3)) * 0.5
        + F.least(stopword_ratio * 4.0, F.lit(1.0)) * 0.3
        + (F.lit(1.0) - F.least((punct_ratio + digit_ratio) * 2.0, F.lit(1.0)))
        * 0.2,
        6,
    )
    return d.withColumn(out, score).drop("__q_toks", "__q_ntok", "__q_nstop")


#: Inverted-index layout: postings are partitioned by a hash bucket of
#: the token so a query's term set prunes to its buckets (the same
#: partition-pruned-serving idea as the persisted IVF index; raw
#: partitionBy(token) would explode directories at vocabulary scale).
TEXT_INDEX_BUCKETS = 16


def token_bucket(col: Column | str, n: int = TEXT_INDEX_BUCKETS) -> Column:
    """Deterministic token → partition bucket (rolling hash mod n —
    reproducible in plain Python for the query-side bucket list)."""
    from spotify_tracks_etl_portfolio_spark.functions import rolling_hash

    return rolling_hash(col) % n


def py_token_bucket(tok: str, n: int = TEXT_INDEX_BUCKETS) -> int:
    h = 0
    for ch in tok:
        h = (h * 31 + ord(ch)) % 1_000_000_007
    return h % n


def build_text_index(docs: DataFrame, id_col: str, text_col: str, root: str) -> None:
    """Persist an inverted text index: term postings ``(token, doc_id,
    tf)`` partitioned by token bucket, per-document lengths, and the
    1-row corpus stats — everything BM25 serving needs, so queries
    never re-tokenize the corpus. Build is two hash aggregations over
    one tokenization pass."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("token")
    )
    postings = (
        toks.groupBy("token", "doc_id")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
        .withColumn("bucket", token_bucket("token"))
    )
    postings.write.mode("error").partitionBy("bucket").parquet(
        f"{root}/postings"
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).cast("double").alias("dl"))
    dl.write.mode("error").parquet(f"{root}/doc_lengths")
    dl.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("dl").alias("avgdl"),
    ).write.mode("error").parquet(f"{root}/stats")


def append_to_text_index(
    new_docs: DataFrame, index_root: str, id_col: str, text_col: str
) -> int:
    """INCREMENTAL maintenance of a persisted inverted text index (the
    text twin of ``similarity.append_to_ivfpq_index``): tokenize ONLY
    the new batch, append its ``(token, doc_id, tf)`` postings into the
    existing token-bucket partition directories (dynamic-partition
    append — no existing file rewritten, concurrent readers keep a
    consistent view) and its rows into ``doc_lengths``; the 1-row
    corpus ``stats`` table (N, avgdl) stays FROZEN at the last full
    build — the production contract between nightly rebuilds: per-term
    df is computed live from the (now larger) posting lists at query
    time, so appended docs are immediately searchable and scored with
    base-corpus length normalization; the nightly rebuild refreshes
    the stats. Deterministic tokenization ⇒ the append changes COST,
    never which postings exist.

    Concurrency contract: SINGLE WRITER, same as the IVFPQ index (the
    version manifest is O_EXCL-claimed via the shared ledger —
    ``similarity._record_index_version`` — so a violated contract can
    mislabel rows-per-version but never lose a manifest).

    Scale shape: per-batch cost = one tokenization + two hash aggs over
    the BATCH + a batch-sized partitioned append. The corpus postings
    are never re-read, never re-tokenized, never re-shuffled. Returns
    the new version number."""
    from spotify_tracks_etl_portfolio_spark.operators.similarity import (
        _record_index_version,
    )

    toks = new_docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(text_col)).alias("token"),
    )
    postings = (
        toks.groupBy("token", "doc_id")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
        .withColumn("bucket", token_bucket("token"))
    )
    postings.persist()
    try:
        n_postings = postings.count()
        buckets = sorted(
            int(r["bucket"])
            for r in postings.select("bucket").distinct().collect()
        )
        postings.write.mode("append").partitionBy("bucket").parquet(
            f"{index_root}/postings"
        )
    finally:
        postings.unpersist()
    dl = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("double").alias("dl")
    )
    dl.write.mode("append").parquet(f"{index_root}/doc_lengths")
    return _record_index_version(
        index_root,
        {"type": "append", "postings": n_postings, "buckets": buckets},
    )


def bm25_query_index(
    spark, root: str, terms: tuple[str, ...], k1: float, b: float, topk: int
) -> DataFrame:
    """Serve a BM25 query from the persisted index: the postings scan
    prunes to the query terms' buckets (PartitionFilters) plus a pushed
    token filter — per query the engine reads |terms| posting lists and
    the doc-length table, never the corpus text. Scoring is identical
    to the self-contained operator (fixed-order per-term addition)."""
    buckets = sorted({py_token_bucket(t) for t in terms})
    postings = (
        read_parquet_memo(spark, f"{root}/postings")
        .filter(F.col("bucket").isin(buckets))
        .filter(F.col("token").isin(*terms))
    )
    dl = read_parquet_memo(spark, f"{root}/doc_lengths")
    stats = read_parquet_memo(spark, f"{root}/stats")
    dfreq = postings.groupBy("token").agg(
        F.countDistinct("doc_id").cast("double").alias("df")
    )
    idf = F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    ts = (
        postings.join(F.broadcast(dfreq), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "token",
            (
                idf
                * F.col("tf")
                * (k1 + 1.0)
                / (
                    F.col("tf")
                    + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
                )
            ).alias("ts"),
        )
    )
    per_term = [
        F.coalesce(F.max(F.when(F.col("token") == t, F.col("ts"))), F.lit(0.0))
        for t in terms
    ]
    score = per_term[0]
    for p in per_term[1:]:
        score = score + p
    return (
        ts.groupBy("doc_id")
        .agg(F.round(score, 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(topk)
    )


def char_trigrams(col: Column | str) -> Column:
    """Distinct character 3-grams of a string (the pg_trgm unit): all
    length-3 substrings, deduplicated. Used at INDEX BUILD time only —
    serving probes the persisted postings and never re-runs this."""
    c = F.col(col) if isinstance(col, str) else col
    # strings shorter than 3 chars have NO trigrams: without the guard,
    # sequence(1, len-2 ≤ 0) counts DOWN ([1, 0], Spark semantics) and
    # the whole short string would be emitted as a bogus 'trigram'
    return F.when(
        F.length(c) >= 3,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length(c) - 2),
                lambda i: c.substr(i, F.lit(3)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def build_trigram_index(
    docs: DataFrame, id_col: str, text_col: str, root: str
) -> None:
    """Persist the pg_trgm-style substring index: distinct ``(trigram,
    doc_id)`` postings partitioned by trigram hash bucket (same bucket
    scheme as the BM25 index, so a pattern's trigram set prunes the
    scan to its buckets). One tokenization pass at build time; queries
    never re-derive trigrams from the corpus."""
    postings = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(char_trigrams(text_col)).alias("tg"),
    ).withColumn("bucket", token_bucket("tg"))
    postings.write.mode("error").partitionBy("bucket").parquet(
        f"{root}/postings"
    )


def trigram_index_candidates(spark, root: str, pattern: str) -> DataFrame:
    """Candidate doc_ids for ``LIKE '%pattern%'`` from the persisted
    trigram index: prune the postings scan to the pattern trigrams'
    buckets (PartitionFilters) with the trigram predicate pushed to
    parquet, then keep docs holding EVERY pattern trigram. Recall is
    total (a true match contains every pattern trigram), so the caller
    only needs a candidates-only LIKE verify — the index changes the
    work, never the answer.

    Patterns shorter than 3 chars have no trigrams, so the index cannot
    narrow them — silently returning zero candidates would turn the
    caller's LIKE into a wrong empty answer. Raise instead; such a
    pattern needs a full scan, not this index."""
    if len(pattern) < 3:
        raise ValueError(
            "trigram index needs a pattern of >= 3 chars "
            f"(got {pattern!r}); use a full-scan LIKE for shorter patterns"
        )
    pattern_trgms = sorted({pattern[i : i + 3] for i in range(len(pattern) - 2)})
    buckets = sorted({py_token_bucket(t) for t in pattern_trgms})
    postings = (
        read_parquet_memo(spark, f"{root}/postings")
        .filter(F.col("bucket").isin(buckets))
        .filter(F.col("tg").isin(pattern_trgms))
    )
    return (
        postings.groupBy("doc_id")
        .agg(F.countDistinct("tg").alias("__hits"))
        .filter(F.col("__hits") == len(pattern_trgms))
        .select("doc_id")
    )


def ngram_dup_fraction(col: Column | str, n: int) -> Column:
    """Fraction of a doc's word n-grams that repeat an earlier n-gram
    of the SAME doc: ``1 - distinct/total`` (0.0 when the doc has no
    n-grams), rounded 6 dp — the Gopher repetition-rule family
    (duplicate 2/3/4-gram fraction) used to drop looping/boilerplate
    text before training. Computed entirely INSIDE the row with
    higher-order functions (sequence → slice → array_distinct): a pure
    projection, zero shuffles at any corpus size — the cheapest of all
    the dedup-family signals because it never compares across rows."""
    toks = tokens(col)
    cnt = F.size(toks) - F.lit(n) + F.lit(1)
    grams = F.when(
        cnt >= 1,
        F.transform(
            F.sequence(F.lit(1), cnt),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.when(
        F.size(grams) > 0,
        F.round(
            F.lit(1.0)
            - F.size(F.array_distinct(grams)) / F.size(grams).cast("double"),
            6,
        ),
    ).otherwise(F.lit(0.0))
