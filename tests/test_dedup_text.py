"""Planted-case tests for the dedup family and text operators: exact
dups, near-dups, and unrelated docs with known expected relationships."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spotify_tracks_etl_portfolio_spark.operators import dedup as dd
from spotify_tracks_etl_portfolio_spark.operators import text as tx

BASE = "the quick brown fox jumps over the lazy dog near the river bank today"
# one word changed; chosen so the pair also band-collides under the
# engine's FROZEN MinHash constants (band collision for a ~0.6-Jaccard
# pair is probabilistic per hash function — deterministic only because
# the coefficients are frozen; LSH guarantees recall 1.0 only for exact
# dups, which test separately via (0, 1))
NEAR = "the quick brown fox jumps over the lazy dog near the river cat today"
OTHER = "completely different words appear in this unrelated document about spark"

DOCS = [
    (0, BASE),
    (1, BASE),      # exact dup of 0
    (2, NEAR),      # near dup of 0/1 (1 word changed)
    (3, OTHER),
    (4, "tiny doc"),  # < k tokens
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(docs):
    out = {r["doc_id"]: r["n_copies"] for r in dd.exact_dedup(docs, "doc_id", "text").collect()}
    assert out[0] == 2  # doc 1 collapsed into doc 0
    assert 1 not in out
    assert out[3] == 1 and out[4] == 1


def test_jaccard_pairs_finds_planted_near_dup(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dd.jaccard_pairs(docs, "doc_id", "text", 0.5).collect()
    }
    assert pairs[(0, 1)] == 1.0  # exact dup
    assert 0.5 <= pairs[(0, 2)] < 1.0  # near dup
    assert (0, 3) not in pairs  # unrelated


def test_minhash_lsh_recalls_near_dups(docs):
    out = {
        (r["id_a"], r["id_b"])
        for r in dd.minhash_near_dup_pairs(docs, "doc_id", "text", 0.5).collect()
    }
    # exact dups share every band; the 1-word near-dup shares most shingles
    assert (0, 1) in out
    assert (0, 2) in out
    assert not any(3 in p or 4 in p for p in out)


def test_minhash_signature_shape(docs):
    sigs = dd.shingle_hash_arrays(docs, "doc_id", "text").select(
        "doc_id", *dd._signature_cols()
    )
    assert sigs.count() == 5
    assert len(sigs.columns) == 1 + dd.NUM_MINHASHES
    # identical docs → identical signatures
    rows = {r["doc_id"]: tuple(r[f"mh_{i}"] for i in range(dd.NUM_MINHASHES))
            for r in sigs.collect()}
    assert rows[0] == rows[1]
    assert rows[0] != rows[3]


def test_simhash_hamming_structure(docs):
    # frozen 30-bit geometry pinned: this asserts distances UNDER that
    # geometry (the r06 auto-width default would widen to 59 here)
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dd.simhash_near_dup_pairs(
            docs, "doc_id", "text", 30, bits=dd.SIMHASH_BITS
        ).collect()
    }
    assert pairs[(0, 1)] == 0  # identical
    assert pairs[(0, 2)] <= pairs[(0, 3)]  # near-dup closer than unrelated


def test_embedding_near_dup(spark):
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.99, 0.05, 0.0]),  # near dup of 0
            (2, [0.0, 1.0, 0.0]),    # orthogonal
        ],
        "vec_id long, embedding array<double>",
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in dd.embedding_near_dup_pairs(emb, "vec_id", "embedding", 0.9).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.99
    assert (0, 2) not in pairs


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [
            (0, "the cat and the dog of a to is house"),
            (1, "der hund und die katze ist ein haus"),
            (2, "xyz qqq zzz"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["lid"] for r in df.select("doc_id", tx.lang_id("text").alias("lid")).collect()}
    assert out[0] == "en" and out[1] == "de" and out[2] == "und"


def test_tokens_empty_string(spark):
    df = spark.createDataFrame([(0, ""), (1, "  "), (2, "a b")], "i long, text string")
    out = {r["i"]: r["n"] for r in df.select("i", F.size(tx.tokens("text")).alias("n")).collect()}
    assert out[0] == 0 and out[1] == 0 and out[2] == 2


def test_quality_score_bounds(docs):
    scores = [
        r["q"] for r in docs.select(tx.quality_score("text").alias("q")).collect()
    ]
    assert all(0.0 <= s <= 1.0 for s in scores)


def test_connected_components_chain_and_island(spark):
    """A 5-chain (needs several propagation rounds), a 2-island, and a
    triangle all collapse to min-id labels."""
    from spotify_tracks_etl_portfolio_spark.operators.dedup import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),      # chain 1-5
         (10, 11),                            # island
         (20, 21), (21, 22), (20, 22)],       # triangle
        "id_a long, id_b long",
    )
    got = {
        r["node"]: r["comp"]
        for r in connected_components(edges, "id_a", "id_b").collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20}


def test_simhash_chunk_bounds_cover_all_bits():
    for k in (1, 2, 3, 7, 29, 30):
        bounds = dd.simhash_chunk_bounds(k)
        assert len(bounds) == k + 1
        assert sum(ln for _, ln in bounds) == dd.SIMHASH_BITS
        pos = 0
        for start, ln in bounds:
            assert start == pos
            pos += ln


def test_simhash_expr_votes_match_column_api_reference(spark, sf_dir):
    """r13 optimization: the per-bit vote/reassembly expressions moved
    from the Column API to JVM-parsed SQL strings (a py4j-round-trip
    constant at wide widths). Pin the rewrite against the original
    Column-API chain — values AND schema must be identical at both the
    frozen 30-bit oracle geometry and the wide 59-bit one."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def reference(df, bits):
        from spotify_tracks_etl_portfolio_spark.functions import rolling_hash

        tok = dd.scan_parallelism(df).select(
            "doc_id", F.explode(tx.tokens("text")).alias("__t")
        ).select(
            "doc_id",
            rolling_hash(F.col("__t")).alias("h"),
            *(
                [rolling_hash(F.col("__t"), 37, dd.SIMHASH_MOD2).alias("h2")]
                if bits > dd.SIMHASH_BITS
                else []
            ),
        )

        def bit_at(j):
            src, off = (
                ("h", j) if j < dd.SIMHASH_BITS else ("h2", j - dd.SIMHASH_BITS)
            )
            return F.shiftright(F.col(src), off).bitwiseAND(F.lit(1))

        votes = [
            F.sum(F.when(bit_at(j) == 1, 1).otherwise(-1)).alias(f"v_{j}")
            for j in range(bits)
        ]
        voted = tok.groupBy("doc_id").agg(*votes)
        sim = None
        for j in range(bits):
            bit = F.when(F.col(f"v_{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
            sim = bit if sim is None else sim + bit
        return voted.select("doc_id", sim.cast("long").alias("simhash"))

    for bits in (dd.SIMHASH_BITS, 59):
        got = dd.simhash(docs, "doc_id", "text", bits)
        want = reference(docs, bits)
        assert got.schema == want.schema, bits
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        ), bits


def test_shingle_hash_exprs_match_column_form(spark, sf_dir):
    """r14 optimization: the shingle-hash window fold, minhash signature
    columns and band-row assembly moved from Column/HOF loops to
    JVM-parsed SQL strings (~0.4 s of py4j driver time per construct).
    Pin each rewrite against the original Column-API chain — values AND
    schema must be identical (same long arithmetic, same promotions)."""
    from spotify_tracks_etl_portfolio_spark.functions import rolling_hash

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    k = dd.SHINGLE_K

    def ref_hash_arrays(df):
        th = dd.scan_parallelism(df).select(
            "doc_id",
            F.transform(
                tx.tokens("text"), lambda t: rolling_hash(t)
            ).alias("__th"),
        )

        def window_hash(i):
            acc = F.element_at(F.col("__th"), (i + 1).cast("int"))
            for j in range(1, k):
                acc = (
                    acc * F.lit(dd.SHINGLE_B)
                    + F.element_at(F.col("__th"), (i + j + 1).cast("int"))
                ) % F.lit(dd.FINGERPRINT_MOD)
            return acc

        n = F.size("__th")
        windows = F.transform(F.sequence(F.lit(0), n - k), window_hash)
        # < k tokens: the whole token-hash array folds into one hash
        fold_all = F.aggregate(
            F.col("__th"),
            F.lit(0).cast("long"),
            lambda acc, x: (acc * F.lit(dd.SHINGLE_B) + x)
            % F.lit(dd.FINGERPRINT_MOD),
        )
        hashes = F.when(n >= k, F.array_distinct(windows)).otherwise(
            F.array(fold_all)
        )
        return th.select("doc_id", hashes.alias("__hashes"))

    def ref_signature_cols():
        return [
            F.array_min(
                F.transform(
                    F.col("__hashes"),
                    lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(dd.MINHASH_P),
                )
            ).alias(f"mh_{i}")
            for i, (a, b) in enumerate(dd.MINHASH_COEFFS)
        ]

    def ref_band_rows(signatures):
        return signatures.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(bi).alias("band"),
                            F.concat_ws(
                                "_",
                                *[
                                    F.col(f"mh_{bi * dd.LSH_ROWS + r}")
                                    for r in range(dd.LSH_ROWS)
                                ],
                            ).alias("sig"),
                        )
                        for bi in range(dd.LSH_BANDS)
                    ]
                )
            ).alias("bs"),
        ).select("doc_id", "bs.band", "bs.sig")

    want_h = ref_hash_arrays(docs)
    got_h = dd.shingle_hash_arrays(docs, "doc_id", "text")
    assert got_h.schema == want_h.schema
    assert sorted(map(tuple, got_h.collect())) == sorted(
        map(tuple, want_h.collect())
    )

    want_s = want_h.select("doc_id", *ref_signature_cols())
    got_s = got_h.select("doc_id", *dd._signature_cols())
    assert got_s.schema == want_s.schema
    assert sorted(map(tuple, got_s.collect())) == sorted(
        map(tuple, want_s.collect())
    )

    want_b = ref_band_rows(want_s)
    got_b = dd.minhash_band_rows(got_s, "doc_id")
    assert got_b.schema == want_b.schema
    assert sorted(map(tuple, got_b.collect())) == sorted(
        map(tuple, want_b.collect())
    )


def test_simhash_blocked_equals_all_pairs(spark, sf_dir):
    """Pigeonhole blocking is exact: the chunk-join candidates plus the
    Hamming verify reproduce the brute-force pair set bit-for-bit."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    blocked = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dd.simhash_near_dup_pairs(docs, "doc_id", "text", 3).collect()
    }
    brute = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dd.simhash_all_pairs(docs, "doc_id", "text", 3).collect()
    }
    assert blocked == brute


def test_simhash_wide_fingerprint_blocked_equals_all_pairs(spark, sf_dir):
    """The pigeonhole recall-1.0 guarantee must hold at ANY fingerprint
    width — the 59-bit widening is the scale knob for chunk-bucket
    saturation (round-5 stress finding: 30-bit chunk space saturates
    around 10⁵ docs, candidates grew 100× for 10× docs). Also pins
    that wider fingerprints are strictly MORE discriminating: Hamming
    ≤ k over more bits can only shrink the pair set on this corpus."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    blocked = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dd.simhash_near_dup_pairs(
            docs, "doc_id", "text", 3, bits=59
        ).collect()
    }
    brute = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dd.simhash_all_pairs(
            docs, "doc_id", "text", 3, bits=59
        ).collect()
    }
    assert blocked == brute
    narrow = dd.simhash_near_dup_pairs(
        docs, "doc_id", "text", 3, bits=dd.SIMHASH_BITS
    ).count()
    assert len(blocked) < narrow


def test_jaccard_max_shingle_df_drops_boilerplate_pairs(spark):
    """The fanout guard removes shingles shared by > cap docs: 10 docs
    related ONLY through a boilerplate header stop pairing once the
    header shingles are capped out."""
    boiler = "common header line always present"
    df = spark.createDataFrame(
        [(i, f"{boiler} unique{i} content{i} words{i}") for i in range(10)],
        "doc_id long, text string",
    )
    uncapped = dd.jaccard_pairs(df, "doc_id", "text", 0.1).count()
    capped = dd.jaccard_pairs(df, "doc_id", "text", 0.1, max_shingle_df=5).count()
    assert uncapped == 45  # all pairs, via the shared header shingles
    assert capped == 0


def test_star_components_path_graph_converges_logn(spark):
    """100-node path graph (diameter 99): label propagation needs 99
    rounds; alternating large-star/small-star must finish in O(log n)."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(99)], "id_a long, id_b long"
    )
    labels, rounds = dd.star_connected_components(edges, "id_a", "id_b")
    got = {r["node"]: r["comp"] for r in labels.collect()}
    assert got == {i: 0 for i in range(100)}
    assert rounds <= 15, rounds  # ~2·log2(100) ≈ 13


def test_star_components_matches_label_propagation(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long",
    )
    star = {
        r["node"]: r["comp"]
        for r in dd.star_connected_components(edges, "id_a", "id_b")[0].collect()
    }
    assert star == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                    10: 10, 11: 10,
                    20: 20, 21: 20, 22: 20}


def test_label_propagation_auto_falls_back_to_star(spark):
    """Deep path graph (diameter 99) with max_iter=5: label propagation
    cannot converge, so connected_components must auto-switch to the
    star algorithm and still return correct MINIMAL labels — with no
    warning (warnings are errors here)."""
    import warnings

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(99)], "id_a long, id_b long"
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        got = {
            r["node"]: r["comp"]
            for r in dd.connected_components(
                edges, "id_a", "id_b", max_iter=5
            ).collect()
        }
    assert got == {i: 0 for i in range(100)}


def test_label_propagation_fallback_keeps_singletons(spark):
    """The star fallback drops self-loop-only nodes; the auto-fallback
    must restore them as their own components (same node universe as
    the pure label path)."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(50)] + [(90, 90)], "id_a long, id_b long"
    )
    got = {
        r["node"]: r["comp"]
        for r in dd.connected_components(
            edges, "id_a", "id_b", max_iter=3
        ).collect()
    }
    assert got[90] == 90
    assert all(got[i] == 0 for i in range(51))


def test_operators_handle_empty_inputs(spark):
    """Degenerate-input sweep: every core operator must return an empty
    result on an empty table, never raise — at 100 TB a partition-
    pruned-to-nothing input or an empty daily batch is routine."""
    from spotify_tracks_etl_portfolio_spark.operators import similarity as sim
    from spotify_tracks_etl_portfolio_spark.operators.scd import scd2_apply

    docs = spark.createDataFrame([], "doc_id long, text string")
    assert dd.exact_dedup(docs, "doc_id", "text").count() == 0
    assert dd.jaccard_pairs(docs, "doc_id", "text", 0.5).count() == 0
    assert dd.minhash_near_dup_pairs(docs, "doc_id", "text", 0.5).count() == 0
    assert dd.simhash_near_dup_pairs(docs, "doc_id", "text", 3).count() == 0

    emb = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert sim.cosine_topk(emb, emb, "vec_id", "embedding", 5).count() == 0
    assert sim.hyperplane_lsh_near_dup_pairs(
        emb, "vec_id", "embedding", 0.4
    ).count() == 0

    edges = spark.createDataFrame([], "id_a long, id_b long")
    assert dd.connected_components(edges, "id_a", "id_b").count() == 0
    labels, rounds = dd.star_connected_components(edges, "id_a", "id_b")
    assert labels.count() == 0

    dim = spark.createDataFrame(
        [],
        "k long, attr string, valid_from string, valid_to string, is_current boolean",
    )
    ups = spark.createDataFrame([], "k long, attr string")
    assert scd2_apply(dim, ups, ["k"], ["attr"], F.lit("2024-01-01")).count() == 0


def test_passage_dedup_plants_and_reassembles(spark):
    # 20-token docs → passages of 16 + 4 tokens; doc 11 repeats doc 10's
    # first 16-token block exactly (then diverges), doc 12 is disjoint.
    block = " ".join(f"w{i}" for i in range(16))
    tail_a = "a1 a2 a3 a4"
    tail_b = "b1 b2 b3 b4"
    docs = spark.createDataFrame(
        [
            (10, f"{block} {tail_a}"),
            (11, f"{block} {tail_b}"),
            (12, "x1 x2 x3"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in dd.passage_dedup(docs, "doc_id", "text").collect()
    }
    # doc 10 keeps both passages; doc 11 loses the repeated block but
    # keeps its distinct tail; doc 12 (single short passage) survives
    assert out[10]["text_clean"] == f"{block} {tail_a}"
    assert out[10]["n_passages"] == 2 and out[10]["n_kept"] == 2
    assert out[11]["text_clean"] == tail_b
    assert out[11]["n_passages"] == 2 and out[11]["n_kept"] == 1
    assert out[12]["text_clean"] == "x1 x2 x3"
    assert out[12]["n_passages"] == 1 and out[12]["n_kept"] == 1


def test_passage_dedup_drops_all_repeat_doc(spark):
    # a doc that is exactly one already-seen passage disappears
    block = " ".join(f"w{i}" for i in range(16))
    docs = spark.createDataFrame(
        [(1, block), (2, block)], "doc_id long, text string"
    )
    out = dd.passage_dedup(docs, "doc_id", "text").collect()
    assert {r["doc_id"] for r in out} == {1}


def test_cross_corpus_near_dup_flags_planted_pair(spark):
    # old corpus holds BASE (id 0); new corpus holds an exact copy (1),
    # the near dup (3), and an unrelated doc (5)
    old = spark.createDataFrame([(0, BASE)], "doc_id long, text string")
    new = spark.createDataFrame(
        [(1, BASE), (3, NEAR), (5, OTHER)], "doc_id long, text string"
    )
    flagged = {
        r["doc_id"]
        for r in dd.cross_corpus_near_dup_ids(
            new, old, "doc_id", "text", 0.5
        ).collect()
    }
    assert 1 in flagged  # exact copy always recalled
    assert 3 in flagged  # near dup band-collides under frozen coeffs
    assert 5 not in flagged


def test_sliding_chunks_cover_and_overlap(spark):
    txt = "abcdefghij" * 50  # 500 chars → chunks at 1, 151, 301 
    df = spark.createDataFrame([(1, txt), (2, "short")], "doc_id long, text string")
    rows = tx.sliding_chunks(df, "doc_id", "text").collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
    assert [r["chunk_idx"] for r in c1] == [1, 2, 3]
    assert all(r["n_chunks"] == 3 for r in c1)
    assert c1[0]["chunk"] == txt[0:200]
    assert c1[1]["chunk"] == txt[150:350]
    assert c1[2]["chunk"] == txt[300:500]
    # overlap region agrees between neighbors
    assert c1[0]["chunk"][150:] == c1[1]["chunk"][:50]
    # short doc → exactly one whole-text chunk
    c2 = by_doc[2]
    assert len(c2) == 1 and c2[0]["chunk"] == "short" and c2[0]["n_chunks"] == 1


def test_pii_scrub_order_and_counts(spark):
    """URL replaced before email/digits so its contents are never
    double-counted; every category masks with its typed token and
    reports its stage count."""
    rows = spark.createDataFrame(
        [
            (1, "mail me at a.b+c@corp.io or see https://x.io/u/9?id=12345678"),
            (2, "server 192.168.0.1 called 5551234567 twice"),
            (3, "clean text with a short 123 number"),
        ],
        "id long, t string",
    )
    out = {r["id"]: r for r in dd_pii(rows).collect()}
    assert out[1]["text_clean"] == "mail me at [EMAIL] or see [URL]"
    assert (out[1]["n_url"], out[1]["n_email"], out[1]["n_number"]) == (1, 1, 0)
    assert out[2]["text_clean"] == "server [IP] called [NUMBER] twice"
    assert (out[2]["n_ip"], out[2]["n_number"]) == (1, 1)
    assert out[3]["text_clean"] == out[3]["t"]  # nothing PII-shaped
    assert (out[3]["n_url"], out[3]["n_email"], out[3]["n_ip"],
            out[3]["n_number"]) == (0, 0, 0, 0)


def dd_pii(df):
    from spotify_tracks_etl_portfolio_spark.operators.text import pii_scrub

    return pii_scrub(df, "t")


def test_orc_roundtrip_and_sharding(spark, tmp_path):
    from spotify_tracks_etl_portfolio_spark.sources.readers import read_orc
    from spotify_tracks_etl_portfolio_spark.sources.writers import write_orc

    df = spark.range(100).selectExpr("id", "concat('d', id) AS s")
    write_orc(df, str(tmp_path / "orc"), shards=3)
    import glob

    assert len(glob.glob(str(tmp_path / "orc" / "part-*.orc"))) == 3
    back = read_orc(spark, str(tmp_path / "orc"), "id long, s string")
    assert back.orderBy("id").collect() == df.orderBy("id").collect()


def test_pack_training_sequences_invariants(spark, sf_dir):
    """Concatenative packing geometry: offsets live inside the context
    window, boundary-crossing counts match each doc's token span, and
    consecutive docs in pack order tile the token line with no gaps."""
    from spotify_tracks_etl_portfolio_spark.plans import all_queries
    from spotify_tracks_etl_portfolio_spark.plans.extensions import (
        PACK_CONTEXT_LEN,
    )

    out = (
        all_queries()["pack_training_sequences"]
        .fn(spark, sf_dir)
        .collect()
    )
    assert len(out) > 0
    starts = []
    for r in out:
        assert 0 <= r["seq_offset"] < PACK_CONTEXT_LEN
        start = r["seq_id"] * PACK_CONTEXT_LEN + r["seq_offset"]
        end = start + max(r["n_tokens"], 1) - 1
        assert r["n_boundary_crossings"] == end // PACK_CONTEXT_LEN - r["seq_id"]
        starts.append((start, r["n_tokens"]))
    # docs tile the concatenated token line contiguously
    starts.sort()
    pos = 0
    for start, nt in starts:
        assert start == pos, (start, pos)
        pos += nt


def test_bpe_train_merges_matches_reference(spark):
    """Distributed BPE must learn EXACTLY the reference algorithm's merge
    sequence (Sennrich-style: weighted pair counts, lexicographic ties,
    greedy leftmost-first application) on a planted corpus."""
    from collections import Counter

    corpus = "low low low lower lower newest newest newest newest widest widest"
    df = spark.createDataFrame([(corpus,)], "text string")

    def ref_bpe(words, num):
        wf = Counter(words)
        syms = {w: list(w) for w in wf}
        merges = []
        for rank in range(num):
            pc = Counter()
            for w, f in wf.items():
                s = syms[w]
                for i in range(len(s) - 1):
                    pc[(s[i], s[i + 1])] += f
            if not pc:
                break
            (a, b), n = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            merges.append((rank, a, b, n))
            for w in syms:
                s, out, i = syms[w], [], 0
                while i < len(s):
                    if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(s[i])
                        i += 1
                syms[w] = out
        return merges

    want = ref_bpe(corpus.split(), 6)
    got = tx.bpe_train_merges(df, "text", num_merges=6)
    assert got == want
    # deterministic across re-runs (no RNG anywhere)
    assert tx.bpe_train_merges(df, "text", num_merges=6) == want


def _ref_bpe_counter(wf, num):
    """Pure-python strictly sequential Sennrich BPE over a word-freq
    Counter — the reference the batched trainer must equal."""
    from collections import Counter

    syms = {w: list(w) for w in wf}
    merges = []
    for rank in range(num):
        pc = Counter()
        for w, f in wf.items():
            s = syms[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += f
        if not pc:
            break
        (a, b), n = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append((rank, a, b, n))
        for w in syms:
            s, out, i = syms[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
    return merges


def test_bpe_batch_selection_fuzz_equals_sequential():
    """The batch acceptance rule (prefix-disjoint + spoiler guard,
    operators/text.py::_select_merge_batch) must reproduce strictly
    sequential BPE on adversarial corpora: tiny alphabets maximize
    overlapping pairs, spelling collisions ('a'+'a' → 'aa' colliding
    with pre-split 'aa' contexts), and count ties. Pure-python twin of
    the Spark round loop (same selection function, same greedy apply)
    so 400 corpora fuzz in milliseconds."""
    import random
    from collections import Counter

    rng = random.Random(20251012)
    for _trial in range(400):
        nw = rng.randint(3, 14)
        ws = [
            "".join(rng.choices("abcd", k=rng.randint(1, 6)))
            for _ in range(nw)
        ]
        wf = Counter({w: rng.randint(1, 9) for w in ws})
        nm = rng.randint(1, 12)
        want = _ref_bpe_counter(wf, nm)

        syms = {w: list(w) for w in wf}
        got = []
        while len(got) < nm:
            pc = Counter()
            for w, f in wf.items():
                s = syms[w]
                for i in range(len(s) - 1):
                    pc[(s[i], s[i + 1])] += f
            if not pc:
                break
            k = 50
            rows = [
                (a, b, n)
                for (a, b), n in sorted(
                    pc.items(), key=lambda kv: (-kv[1], kv[0])
                )[:k]
            ]
            unc = rows[-1][2] if len(rows) == k else 0
            accepted = tx._select_merge_batch(rows, unc, min(4, nm - len(got)))
            for a, b, n in accepted:
                got.append((len(got), a, b, n))
                for w in syms:
                    s, out, i = syms[w], [], 0
                    while i < len(s):
                        if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                            out.append(a + b)
                            i += 2
                        else:
                            out.append(s[i])
                            i += 1
                    syms[w] = out
        assert got == want, (dict(wf), nm, got, want)


def test_bpe_batched_rounds_and_overlap_stop(spark):
    """End-to-end Spark check of the batching behavior itself: on a
    corpus whose top pairs all chain through one symbol, every round
    accepts exactly one merge (overlap stops the batch) and the result
    equals batch_m=1; on the planted reference corpus the batch
    accepts >1 merge per round yet the merge table is identical."""
    # pairs: (b,c)=5 top, then (a,b)=3 and (c,d)=2 — (a,b) shares b
    # with the accepted (b,c), so round 1 must stop at one merge
    chain = "abc abc abc bcd bcd"
    df = spark.createDataFrame([(chain,)], "text string")
    batched = tx.bpe_train_merges(df, "text", num_merges=3)
    strict = tx.bpe_train_merges(df, "text", num_merges=3, batch_m=1)
    assert batched == strict
    assert batched[0][1:3] == ("b", "c")

    corpus = "low low low lower lower newest newest newest newest widest widest"
    df2 = spark.createDataFrame([(corpus,)], "text string")
    assert tx.bpe_train_merges(df2, "text", num_merges=6) == tx.bpe_train_merges(
        df2, "text", num_merges=6, batch_m=1
    )


def test_unigram_train_vocab_matches_reference(spark):
    """The distributed unigram-LM trainer must reproduce EXACTLY the
    reference hard-EM algorithm (Viterbi E-step under add-1-smoothed
    9-dp DECIMAL log-probs, longer-piece tie-break, prune-by-disuse,
    chars immortal) on a planted corpus — including the DECIMAL score
    arithmetic and the UTF-8-byte final ranking."""
    import math
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    docs = [
        (0, "banana bandana ban banana"),
        (1, "anna ban bandana nana"),
        (2, "a banana anna and a bandana"),
        (3, ""),
        (4, "band and bandana banana nan"),
    ]

    def ref(seed_multi, vocab_size, maxlen, rounds, cap):
        words: Counter = Counter()
        for _, t in docs:
            for w in t.split():
                if w and len(w) <= cap:
                    words[w] += 1
        subs: Counter = Counter()
        for w, f in words.items():
            for i in range(len(w)):
                for ln in range(1, min(maxlen, len(w) - i) + 1):
                    subs[w[i : i + ln]] += f
        multis = sorted(
            ((p, c) for p, c in subs.items() if len(p) >= 2),
            key=lambda kv: (-kv[1], kv[0].encode()),
        )[:seed_multi]
        chars = {p: c for p, c in subs.items() if len(p) == 1}
        vocab = dict(chars)
        vocab.update(dict(multis))
        q = Decimal("0.000000001")

        def lptab(v):
            tot = float(sum(v.values()) + len(v))
            return {
                p: Decimal(repr(math.log((c + 1) / tot))).quantize(
                    q, rounding=ROUND_HALF_UP
                )
                for p, c in v.items()
            }

        def viterbi(w, lp):
            best = [(Decimal(0), [], 0)]
            for k in range(1, len(w) + 1):
                cur = None
                for s in range(max(0, k - maxlen), k):
                    piece = w[s:k]
                    if piece not in lp:
                        continue
                    cs = best[s][0] + lp[piece]
                    plen = k - s
                    if (
                        cur is None
                        or cs > cur[0]
                        or (cs == cur[0] and plen > cur[2])
                    ):
                        cur = (cs, best[s][1] + [piece], plen)
                best.append(cur)
            return best[len(w)][1]

        for _ in range(rounds):
            lp = lptab(vocab)
            cnt: Counter = Counter()
            for w, f in words.items():
                for p in viterbi(w, lp):
                    cnt[p] += f
            vocab = {c: cnt.get(c, 0) for c in chars}
            vocab.update({p: c for p, c in cnt.items() if len(p) >= 2})
        lp = lptab(vocab)
        ranked = sorted(
            vocab.items(), key=lambda kv: (-kv[1], kv[0].encode())
        )[:vocab_size]
        return [
            (r, p, c, float(lp[p])) for r, (p, c) in enumerate(ranked)
        ]

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = tx.unigram_train_vocab(
        df, "text", seed_multi=20, vocab_size=30, em_rounds=2
    )
    want = ref(seed_multi=20, vocab_size=30, maxlen=4, rounds=2, cap=16)
    assert got == want
    # the learned vocab is subword-shaped, not degenerate chars-only
    assert any(len(p) >= 3 for _, p, c, _ in got if c > 0)
    # deterministic across re-runs (no RNG anywhere)
    assert (
        tx.unigram_train_vocab(
            df, "text", seed_multi=20, vocab_size=30, em_rounds=2
        )
        == want
    )


def test_lp_map_expr_matches_create_map(spark):
    """r14: the parsed-SQL map literal must be COLUMN-IDENTICAL to the
    retired ``create_map(lit, lit.cast(...))`` loop — same type, same
    lookups — including quote/backslash keys and a tiny logprob whose
    plain str() would print scientific notation (the {:f} formatting
    the expr relies on)."""
    from decimal import Decimal

    lp = {
        "ab": Decimal("-3.218875825"),
        "a'b": Decimal("-0.000000001"),
        'q"\\x': Decimal("-12.123456789"),
        "z": Decimal("0.000000000"),
    }
    old = F.create_map(
        *[
            x
            for piece, v in lp.items()
            for x in (F.lit(piece), F.lit(v).cast("decimal(28,9)"))
        ]
    )
    new = tx._lp_map_expr(lp)
    df = spark.createDataFrame(
        [(k,) for k in list(lp) + ["missing"]], "w string"
    ).select(
        F.element_at(old, F.col("w")).alias("o"),
        F.element_at(new, F.col("w")).alias("n"),
    )
    assert df.schema["o"].dataType == df.schema["n"].dataType
    rows = df.collect()
    assert all(r["o"] == r["n"] for r in rows)
    # empty vocab keeps the old corner verbatim
    assert repr(tx._lp_map_expr({})) == repr(F.create_map())


def test_unigram_segment_counts_matches_reference(spark):
    """Serving half: per-doc word/piece/OOV counts under the trained
    UNTRUNCATED model must match a reference segmentation — including
    an over-cap word (never trainable → OOV, not silently char-split)
    and an empty document (0/0/0 through the left join)."""
    import math
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    long_word = "x" * 20  # > UNIGRAM_WORD_CAP: OOV by contract
    docs = [
        (0, "banana bandana ban banana"),
        (1, f"anna {long_word} ban"),
        (2, ""),
        (3, "band and a nan"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    vocab, lp = tx.unigram_train_model(df, "text", seed_multi=20)
    got = {
        r["doc_id"]: (r["n_words"], r["n_pieces"], r["n_oov"])
        for r in tx.unigram_segment_counts(
            df, "doc_id", "text", lp
        ).collect()
    }

    def viterbi_len(w):
        maxlen = tx.UNIGRAM_PIECE_MAXLEN
        best = [(Decimal(0), 0, 0)]  # score, n_pieces, last_plen
        for k in range(1, len(w) + 1):
            cur = None
            for s in range(max(0, k - maxlen), k):
                piece = w[s:k]
                if piece not in lp:
                    continue
                cs = best[s][0] + lp[piece]
                plen = k - s
                if (
                    cur is None
                    or cs > cur[0]
                    or (cs == cur[0] and plen > cur[2])
                ):
                    cur = (cs, best[s][1] + 1, plen)
            best.append(cur)
        return best[len(w)][1]

    want = {}
    for doc_id, text in docs:
        ws = [w for w in text.split() if w]
        n_pieces = sum(
            viterbi_len(w) for w in ws if len(w) <= tx.UNIGRAM_WORD_CAP
        )
        n_oov = sum(1 for w in ws if len(w) > tx.UNIGRAM_WORD_CAP)
        want[doc_id] = (len(ws), n_pieces, n_oov)
    assert got == want
    assert got[1][2] == 1  # the planted over-cap word counted as OOV
    assert got[2] == (0, 0, 0)


def test_linear_quality_classifier_matches_reference(spark):
    """The classifier inference path must reproduce the reference
    integer arithmetic exactly — hash → bucket → micro-unit weight →
    integer margin — with the keep decision on the INTEGER sum (no
    float boundary), the empty doc neutral (margin 0, keep False), and
    the logistic score at the documented rounding."""
    import math

    docs = [
        (0, "alpha beta gamma alpha"),
        (1, ""),
        (2, "one"),
        (3, "a b c d e f g h i j"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            r["n_tokens"], r["margin_sum"], r["margin"], r["score"],
            r["keep"],
        )
        for r in tx.linear_quality_scores(df, "doc_id", "text").collect()
    }

    def weight(tok):
        h = 0
        for ch in tok:
            h = (h * 31 + ord(ch)) % 1_000_000_007
        b = h % tx.CLASSIFIER_DIM
        return (
            b * tx.CLASSIFIER_WEIGHT_MULT + tx.CLASSIFIER_WEIGHT_ADD
        ) % tx.CLASSIFIER_WEIGHT_MOD - tx.CLASSIFIER_WEIGHT_SHIFT

    for doc_id, text in docs:
        ws = [w for w in text.split() if w]
        z = sum(weight(w) for w in ws)
        n = len(ws)
        margin = round(z / (n * 1e6), 9) if n else 0.0
        score = round(1.0 / (1.0 + math.exp(-margin)), 6)
        keep = n > 0 and z >= 0
        assert got[doc_id] == (n, z, margin, score, keep), doc_id
    assert got[1] == (0, 0, 0.0, 0.5, False)  # empty doc: neutral, dropped


def test_c4_line_gate_rules_on_planted_pages(spark):
    """Each C4 rule verified on planted multi-line pages through the
    REAL gate (no synthesis): line retention (terminal punctuation,
    >=5 words, no javascript), page rejection (lorem ipsum, brace,
    blocklist stand-in, <3 sentences), and a clean page passing."""
    good = (
        "the first full sentence has enough words here.\n"
        "a second proper sentence also carries enough words!\n"
        "and a third one closes the page out properly?"
    )
    pages = [
        (0, good),
        (1, "no terminal punctuation on this long enough line\n" + good),
        (2, "too short.\n" + good),
        (3, "this line mentions javascript so it must go.\n" + good),
        (4, good + "\nlorem ipsum dolor sit amet consectetur elit."),
        (5, good + "\nfunction() { var x = 1; }"),
        (6, good + "\nthis page contains badword_a in running text."),
        (7, "only two sentences here which is too few.\nsecond one also fine and long enough!"),
        (8, ""),
    ]
    df = spark.createDataFrame(pages, "doc_id long, page string")
    got = {r["doc_id"]: r for r in tx.c4_line_stats(df, "doc_id", "page").collect()}

    assert got[0]["page_ok"] and got[0]["n_kept_lines"] == 3
    assert got[0]["n_sentences"] == 3
    # rule-violating EXTRA lines are dropped but the page survives
    for i in (1, 2, 3):
        assert got[i]["n_lines"] == 4 and got[i]["n_kept_lines"] == 3, i
        assert got[i]["page_ok"], i
    # page-level rejections keep their lines but fail the page
    assert got[4]["has_lorem"] and not got[4]["page_ok"]
    assert got[5]["has_brace"] and not got[5]["page_ok"]
    assert got[6]["has_badword"] and not got[6]["page_ok"]
    # the lorem line itself passes the LINE rules (ends with '.')
    assert got[4]["n_kept_lines"] == 4
    # under 3 sentences -> page dropped even though every line is kept
    assert got[7]["n_kept_lines"] == 2 and not got[7]["page_ok"]
    assert got[8]["n_kept_lines"] == 0 and not got[8]["page_ok"]
    assert got[8]["kept_chars"] == 0


def test_synthesize_pages_deterministic_and_multiline(spark):
    """The page synthesizer is deterministic and produces genuine line
    structure with every punctuation class present across the corpus."""
    docs = [
        (i, ("alpha beta gamma delta epsilon zeta eta " * 4).strip()
         + f" tail{i}")
        for i in (1, 13, 17, 221)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    a = {r["doc_id"]: r["page"] for r in tx.synthesize_pages(df, "doc_id", "text").collect()}
    b = {r["doc_id"]: r["page"] for r in tx.synthesize_pages(df, "doc_id", "text").collect()}
    assert a == b
    assert all("\n" in p for p in a.values())
    # planted page defects land on their id residues
    assert "lorem ipsum" in a[17] and "lorem ipsum" in a[221]
    assert "{" in a[13] and "{" in a[221]
    assert "lorem ipsum" not in a[1] and "{" not in a[1]


def test_bpe_segment_words_matches_reference_application(spark):
    """Inference: applying the learned merges must segment every word
    exactly like the reference greedy leftmost-first loop (overlap case
    included: 'aaa' + merge ('a','a') → ['aa','a'])."""
    corpus = "low low lower newest newest widest aaa"
    df = spark.createDataFrame([(corpus,)], "text string")
    merges = tx.bpe_train_merges(df, "text", num_merges=4) + [
        (4, "a", "a", 1)  # force the overlap case into the table
    ]

    def ref_apply(word):
        s = list(word)
        for _, a, b, _ in merges:
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            s = out
        return s

    got = {
        r["__word"]: r["n_subwords"]
        for r in tx.bpe_segment_words(df, "text", merges).collect()
    }
    want = {w: len(ref_apply(w)) for w in set(corpus.split())}
    assert got == want


def test_add_lang_id_add_quality_match_column_forms(spark, sf_dir):
    """The materialized DataFrame forms (add_lang_id / add_quality —
    tokens split once per row) must be BIT-IDENTICAL to the inline
    Column forms (lang_id / quality_score) on the real corpus: the
    r04 refactor swapped three recorded queries onto the add_* path
    claiming equivalence-by-construction; this pins it with evidence
    (round-4 advice)."""
    docs_df = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    col_form = docs_df.select(
        "doc_id",
        tx.lang_id("text").alias("predicted_lang"),
        tx.quality_score("text").alias("quality_score"),
    )
    df_form = tx.add_quality(tx.add_lang_id(docs_df)).select(
        "doc_id", "predicted_lang", "quality_score"
    )
    # exact equality both directions (quality_score is rounded to 6dp
    # inside both forms, so == is the right comparison, not approx)
    assert col_form.exceptAll(df_form).count() == 0
    assert df_form.exceptAll(col_form).count() == 0


def test_char_trigrams_short_strings_yield_empty(spark):
    """r05 advice fix: strings under 3 chars have NO trigrams — without
    the length guard, Spark's descending sequence(1, 0) emitted the
    whole short string as a bogus 'trigram' that polluted the persisted
    postings."""
    from spotify_tracks_etl_portfolio_spark.operators.text import char_trigrams

    df = spark.createDataFrame(
        [("",), ("a",), ("ab",), ("abc",), ("abcd",), ("aaaa",)], ["s"]
    )
    got = {
        r["s"]: sorted(r["tg"])
        for r in df.select("s", char_trigrams("s").alias("tg")).collect()
    }
    assert got[""] == []
    assert got["a"] == []
    assert got["ab"] == []
    assert got["abc"] == ["abc"]
    assert got["abcd"] == ["abc", "bcd"]
    assert got["aaaa"] == ["aaa"]  # deduped


def test_trigram_index_rejects_short_pattern(spark, tmp_path):
    """r05 advice fix: a pattern under 3 chars has no trigrams to probe;
    silently returning zero candidates would turn the caller's LIKE into
    a wrong empty answer, so the helper must refuse."""
    import pytest

    from spotify_tracks_etl_portfolio_spark.operators.text import (
        build_trigram_index,
        trigram_index_candidates,
    )

    docs = spark.createDataFrame([(1, "abcdef")], ["doc_id", "text"])
    root = str(tmp_path / "trgm")
    build_trigram_index(docs, "doc_id", "text", root)
    with pytest.raises(ValueError, match="full-scan"):
        trigram_index_candidates(spark, root, "ab")
    # 3-char boundary still serves
    got = trigram_index_candidates(spark, root, "cde").collect()
    assert [r["doc_id"] for r in got] == [1]


def test_auto_simhash_bits_formula():
    """Round-6 verdict item: width ∝ (max_hamming+1)·⌈log₂ n⌉, clamped
    to the frozen minimum and the long-packing maximum."""
    # small corpora keep the frozen oracle geometry
    assert dd.auto_simhash_bits(0) == dd.SIMHASH_BITS
    assert dd.auto_simhash_bits(100) == dd.SIMHASH_BITS
    # growth: 500 docs → 4·9 = 36; 50k → 4·16 = 64 → clamp 59
    assert dd.auto_simhash_bits(500) == 36
    assert dd.auto_simhash_bits(50_000) == dd.SIMHASH_MAX_BITS
    # monotone in n, for several max_hamming values
    for mh in (1, 3, 6):
        widths = [dd.auto_simhash_bits(n, mh) for n in
                  (1, 10, 100, 10_000, 10_000_000)]
        assert widths == sorted(widths)
        assert all(dd.SIMHASH_BITS <= w <= dd.SIMHASH_MAX_BITS
                   for w in widths)


def test_simhash_default_width_is_auto_and_exact(spark, sf_dir):
    """The bare default must (a) equal the explicitly-auto-derived
    width — no silent toy geometry — and (b) keep the pigeonhole
    exactness guarantee at that width (blocked == brute under the SAME
    derived geometry)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    bits = dd.auto_simhash_bits(n, 3)
    assert bits > dd.SIMHASH_BITS  # 500 docs already widen past 30
    auto = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dd.simhash_near_dup_pairs(docs, "doc_id", "text", 3).collect()
    }
    pinned = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dd.simhash_near_dup_pairs(
            docs, "doc_id", "text", 3, bits=bits
        ).collect()
    }
    assert auto == pinned
    brute = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dd.simhash_all_pairs(docs, "doc_id", "text", 3).collect()
    }
    assert auto == brute  # default-vs-default geometries agree, exactly


# ---------------------------------------------------------------------------
# ExactSubstr (Lee et al. 2021) — stride-1 window span detection + cut

_P = " ".join(f"p{i}" for i in range(12))   # 12-token planted phrase
_Q = " ".join(f"q{i}" for i in range(10))   # 10-token within-doc phrase
_S7 = " ".join(f"s{i}" for i in range(7))   # 7 tokens: below k=8, invisible

_XDOCS = [
    (10, f"a1 a2 a3 {_P} a4 a5"),        # first occurrence of P (pos 4..15)
    (11, f"b1 b2 {_P} b3 b4 b5 b6"),     # P again at pos 3..14
    (12, f"c1 c2 {_S7} c3"),             # 7-token repeat: below threshold
    (13, f"d1 {_S7} d2 d3"),
    (14, f"a1 a2 a3 {_P} a4 a5"),        # exact copy of doc 10: fully cut
    (15, f"{_Q} e1 {_Q}"),               # within-doc repeat (pos 12..21)
    (16, ""),                            # empty
    (17, "tiny"),                        # < k tokens
]


@pytest.fixture(scope="module")
def xdocs(spark):
    return spark.createDataFrame(_XDOCS, "doc_id long, text string")


def test_exact_substring_spans_planted(xdocs):
    assert dd.EXACT_SUBSTR_TOKENS == 8
    spans = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
        for r in dd.exact_substring_dup_spans(xdocs, "doc_id", "text").collect()
    }
    # doc 11: exactly the planted 12-token phrase, merged to one span
    assert (11, 3, 14, 12) in spans
    # doc 14: whole 17-token doc is a repeat of doc 10
    assert (14, 1, 17, 17) in spans
    # doc 15: SECOND occurrence of Q only (first is canonical)
    assert (15, 12, 21, 10) in spans
    # canonical copies and sub-k repeats never flag
    flagged_docs = {d for d, *_ in spans}
    assert flagged_docs == {11, 14, 15}


def test_exact_substring_spans_guarantee_at_exactly_k(spark):
    """A duplicate of EXACTLY k tokens is still found (boundary of the
    >= k guarantee) and yields a width-k span."""
    k = dd.EXACT_SUBSTR_TOKENS
    phrase = " ".join(f"z{i}" for i in range(k))
    df = spark.createDataFrame(
        [(0, f"u1 {phrase} u2"), (1, f"v1 v2 {phrase}")],
        "doc_id long, text string",
    )
    spans = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in dd.exact_substring_dup_spans(df, "doc_id", "text").collect()
    }
    assert spans == {(1, 3, 2 + k)}


def test_exact_substring_dedup_cuts_and_drops(xdocs):
    out = {
        r["doc_id"]: (r["text_clean"], r["n_tokens"], r["kept_tokens"])
        for r in dd.exact_substring_dedup(xdocs, "doc_id", "text").collect()
    }
    # doc 11 loses exactly the phrase, keeps its unique frame in order
    assert out[11] == ("b1 b2 b3 b4 b5 b6", 18, 6)
    # doc 14 (fully duplicated) drops; empty doc 16 drops
    assert 14 not in out and 16 not in out
    # canonical docs pass through byte-identical
    assert out[10] == (f"a1 a2 a3 {_P} a4 a5", 17, 17)
    assert out[15] == (f"{_Q} e1", 21, 11)
    assert out[17] == ("tiny", 1, 1)


def test_leakage_safe_split_cluster_atomic_and_singleton_compat(spark, sf_dir):
    """(1) Every near-dup cluster lands WHOLE in one split (the leakage
    guarantee); (2) singleton docs get exactly the plain content-hash
    train_val_test_split assignment (the two splits agree wherever no
    near-dup graph exists)."""
    from spotify_tracks_etl_portfolio_spark.plans import all_queries

    qs = all_queries()
    safe = qs["leakage_safe_split_documents"].fn(spark, sf_dir).collect()
    plain = {
        r["doc_id"]: r["split"]
        for r in qs["train_val_test_split"].fn(spark, sf_dir).collect()
    }
    by_cluster: dict[int, set] = {}
    sizes: dict[int, int] = {}
    for r in safe:
        by_cluster.setdefault(r["cluster_id"], set()).add(r["split"])
        sizes[r["cluster_id"]] = sizes.get(r["cluster_id"], 0) + 1
    assert all(len(s) == 1 for s in by_cluster.values())
    assert any(n > 1 for n in sizes.values())  # the corpus HAS clusters
    for r in safe:
        if sizes[r["cluster_id"]] == 1:
            assert r["split"] == plain[r["doc_id"]]


def test_leakage_safe_split_planted_near_dups_stay_together(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    from spotify_tracks_etl_portfolio_spark.operators.dedup import (
        connected_components, minhash_near_dup_pairs)
    # sanity: the planted near-dup trio (0,1,2) really is one component
    comp = connected_components(
        minhash_near_dup_pairs(docs, "doc_id", "text", 0.5), "id_a", "id_b"
    ).collect()
    assert {r["node"] for r in comp} == {0, 1, 2}
    assert len({r["comp"] for r in comp}) == 1


def test_cross_corpus_substring_spans_planted(spark):
    """A train doc embedding a benchmark phrase gets exactly that span;
    clean train docs and bench docs never appear; sub-k overlap is
    invisible."""
    k = dd.EXACT_SUBSTR_TOKENS
    leak = " ".join(f"L{i}" for i in range(k + 3))   # k+3 = 11 tokens
    short = " ".join(f"M{i}" for i in range(k - 1))  # k-1: below threshold
    bench = spark.createDataFrame(
        [(100, f"bh1 {leak} bh2"), (101, f"bh3 {short}")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, f"t1 t2 {leak} t3"),      # leak at pos 3..13
            (2, f"t4 {short} t5 t6"),     # only a sub-k overlap: clean
            (3, "entirely clean text with no benchmark overlap at all ok"),
        ],
        "doc_id long, text string",
    )
    spans = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
        for r in dd.cross_corpus_substring_spans(
            train, bench, "doc_id", "text"
        ).collect()
    }
    assert spans == {(1, 3, 13, 11)}


def test_incremental_substring_spans_matches_direct_cross_corpus(spark):
    """Incremental ExactSubstr (batch vs the corpus's persisted
    distinct-k-gram set) computes the identical spans as the direct
    cross-corpus sweep that re-tokenizes the corpus — the artifact
    changes cost, never the answer — and a batch doc fully inside the
    corpus is flagged end-to-end while a clean doc never appears."""
    k = dd.EXACT_SUBSTR_TOKENS
    shared = " ".join(f"S{i}" for i in range(k + 2))  # k+2 = 10 tokens
    corpus = spark.createDataFrame(
        [(0, f"c1 {shared} c2"), (2, "old corpus doc nothing shared here x")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (1, f"n1 n2 n3 {shared}"),   # shared at pos 4..13
            (3, f"{shared}"),            # whole doc duplicated: pos 1..10
            (5, "a genuinely new document with fresh content only here"),
        ],
        "doc_id long, text string",
    )
    kg = dd.corpus_kgram_set(corpus, "doc_id", "text")
    served = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
        for r in dd.incremental_substring_spans(
            batch, kg, "doc_id", "text"
        ).collect()
    }
    direct = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
        for r in dd.cross_corpus_substring_spans(
            batch, corpus, "doc_id", "text"
        ).collect()
    }
    assert served == direct == {(1, 4, 13, 10), (3, 1, 10, 10)}


def test_incremental_substring_dedup_cuts_corpus_spans(spark):
    """Destructive incremental ExactSubstr: a batch doc keeps its novel
    text and loses exactly the corpus-duplicated spans; a batch doc
    fully contained in the corpus drops; a novel doc passes through
    untouched. Matches cutting the spans of the non-destructive twin
    by construction (shared kernel)."""
    k = dd.EXACT_SUBSTR_TOKENS
    shared = " ".join(f"S{i}" for i in range(k))  # exactly k tokens
    corpus = spark.createDataFrame(
        [(0, f"c1 {shared} c2")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [
            (1, f"n1 n2 {shared} n3"),
            (3, shared),
            (5, "fresh words only in the batch here now ok"),
        ],
        "doc_id long, text string",
    )
    kg = dd.corpus_kgram_set(corpus, "doc_id", "text")
    out = {
        r["doc_id"]: (r["text_clean"], r["n_tokens"], r["kept_tokens"])
        for r in dd.incremental_substring_dedup(
            batch, kg, "doc_id", "text"
        ).collect()
    }
    assert out[1] == ("n1 n2 n3", k + 3, 3)
    assert 3 not in out  # fully corpus-duplicated batch doc drops
    assert out[5] == (
        "fresh words only in the batch here now ok", 9, 9
    )


def test_exact_substring_spans_planted_boilerplate_and_rare(spark):
    """Round-10 verdict item 4: the groupBy+join formulation (no skew
    cliff) on a corpus that mixes hot boilerplate with rare duplicates
    flags exactly every later occurrence; the cap knob (opt-in) drops
    only above-cap boilerplate (the semantics change, same contract as
    Jaccard's max_shingle_df)."""
    k = dd.EXACT_SUBSTR_TOKENS
    boiler = " ".join(f"B{i}" for i in range(k))  # in EVERY doc
    rare = " ".join(f"R{i}" for i in range(k))    # in two docs
    docs = spark.createDataFrame(
        [(i, f"u{i}a u{i}b {boiler} u{i}c") for i in range(6)]
        + [(10, f"w1 {rare} w2"), (11, f"w3 w4 {rare}")],
        "doc_id long, text string",
    )
    base = {
        tuple(r)
        for r in dd.exact_substring_dup_spans(docs, "doc_id", "text").collect()
    }
    # boilerplate first occurs in doc 0 at token 3, the rare phrase in
    # doc 10 at token 2: every later copy is one k-token span
    assert base == {(i, 3, k + 2, k) for i in (1, 2, 3, 4, 5, 11)}
    capped_high = {
        tuple(r)
        for r in dd.exact_substring_dup_spans(
            docs, "doc_id", "text", max_kgram_df=100
        ).collect()
    }
    assert capped_high == base
    capped_low = {
        tuple(r)
        for r in dd.exact_substring_dup_spans(
            docs, "doc_id", "text", max_kgram_df=3
        ).collect()
    }
    # boilerplate (df=6 > 3) vanishes; the rare pair (df=2) survives
    assert capped_low < base
    assert {r[0] for r in capped_low} == {11}


def test_ngram_dup_fraction_known_values(spark):
    """Hand-computable repetition fractions: a doc that is one phrase
    repeated has high duplicate-2gram fraction; an all-distinct doc has
    0; short/empty docs are 0 by definition."""
    df = spark.createDataFrame(
        [
            (0, "a b a b a b a b"),   # 2-grams: ab,ba,ab,ba,ab,ba,ab -> 7 total, 2 distinct
            (1, "w x y z"),           # all distinct
            (2, ""),                  # empty
            (3, "solo"),              # shorter than n
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["f2"], r["f3"])
        for r in df.select(
            "doc_id",
            tx.ngram_dup_fraction("text", 2).alias("f2"),
            tx.ngram_dup_fraction("text", 3).alias("f3"),
        ).collect()
    }
    assert out[0] == (round(1 - 2 / 7, 6), round(1 - 2 / 6, 6))
    assert out[1] == (0.0, 0.0)
    assert out[2] == (0.0, 0.0)
    assert out[3] == (0.0, 0.0)


def test_curate_v2_gates_and_composition(spark, sf_dir):
    """The v2 pipeline output satisfies every gate it claims, agrees
    with its components run separately, and drops the non-canonical
    copy of every exact duplicate (a full-doc repeat is cut to zero
    tokens by ExactSubstr)."""
    from spotify_tracks_etl_portfolio_spark.plans import all_queries

    qs = all_queries()
    out = qs["curate_training_corpus_v2"].fn(spark, sf_dir).collect()
    assert out
    assert all(r["dup_2gram_frac"] <= 0.2 for r in out)
    assert all(r["quality_score"] >= 0.5 for r in out)
    assert {r["split"] for r in out} <= {"train", "val", "test"}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cleaned = {
        r["doc_id"]: r["kept_tokens"]
        for r in dd.exact_substring_dedup(docs, "doc_id", "text").collect()
    }
    for r in out:
        assert cleaned[r["doc_id"]] == r["kept_tokens"]
    # exact-dup groups: at most one member (the canonical) can survive
    dup_groups = (
        docs.groupBy("text").agg(F.collect_list("doc_id").alias("ids"))
        .filter(F.size("ids") > 1).collect()
    )
    surviving = {r["doc_id"] for r in out}
    for g in dup_groups:  # none at this sf; holds wherever they exist
        assert len(set(g["ids"]) & surviving) <= 1
    # docs fully cut by ExactSubstr (whole-doc repeats) never surface
    assert surviving <= set(cleaned)


def test_temperature_mix_upweights_small_languages(spark, sf_dir):
    """The α=1/2 temperature mix (invoked directly on the operator):
    keep RATES are ∝ n^(−1/2), so every smaller language keeps a
    strictly higher fraction than every larger one; the total kept is
    within hash-uniformity noise of the ⌈N/2⌉ budget; and a rerun is
    identical (content-hash membership, no RNG)."""
    from spotify_tracks_etl_portfolio_spark.plans.extensions import (
        temperature_sampled_language_mix,
    )
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sizes = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    kept_rows = temperature_sampled_language_mix(spark, sf_dir).collect()
    kept = {}
    for r in kept_rows:
        kept[r["lang"]] = kept.get(r["lang"], 0) + 1
    fracs = {t: kept.get(t, 0) / n for t, n in sizes.items()}
    # strictly-smaller language ⇒ strictly-higher keep fraction, up to
    # the ±1/n granularity the integer hash threshold imposes
    for a, na in sizes.items():
        for b, nb in sizes.items():
            if na < nb * 0.8:  # clearly smaller
                assert fracs[a] > fracs[b] - 1 / min(na, nb), (a, b, fracs)
    n_total = sum(sizes.values())
    budget = (n_total + 1) // 2
    assert abs(len(kept_rows) - budget) <= 0.15 * budget
    again = temperature_sampled_language_mix(spark, sf_dir).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, kept_rows))


def test_gopher_rules_planted_docs(spark):
    """Each published Gopher rule fires on a doc planted to violate
    exactly it (and the clean doc passes all seven)."""
    from spotify_tracks_etl_portfolio_spark.operators.text import (
        GOPHER_STOPWORDS,
        gopher_rules,
    )
    from pyspark.sql import functions as F

    # a 60-word passing doc: normal words, 2+ required stopwords
    clean = ("the quick brown fox jumps over lazy dogs and cats " * 6).strip()
    # an ellipsis-line doc whose PER-SYMBOL ratio still passes: 14
    # words/line, 1 ellipsis/line -> 10 ellipses over 140 words (7%)
    ell_line = (
        "the of alpha beta gamma delta epsilon zeta "
        "eta theta iota kappa trails off..."
    )
    # rule violations, one per doc
    docs = [
        (0, clean),
        (1, "too short to pass the word count rule"),  # rule 1
        (2, " ".join(["supercalifragilisticexpialidocious"] * 60)),  # rule 2
        (3, " ".join(["the", "of"] + ["xxx#"] * 58)),  # rule 3: >10% '#'
        (4, "\n".join(["- bullet line the of"] * 10)),  # rule 4
        (5, "\n".join([ell_line] * 10)),  # rule 5: 100% ellipsis lines
        (6, " ".join(["the", "of"] + ["12345"] * 58)),  # rule 6
        (7, " ".join(["zzz"] * 60)),  # rule 7: no required stopwords
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    r = gopher_rules("text")
    out = {
        row["doc_id"]: row.asDict()
        for row in df.select(
            "doc_id", *[r[k].alias(k) for k in r]
        ).collect()
    }
    flags = [k for k in r if k.startswith("flag_")]
    assert all(out[0][k] for k in flags), out[0]
    assert not out[1]["flag_word_count"]
    assert not out[2]["flag_mean_word_len"]
    assert not out[3]["flag_symbol_ratio"]
    assert not out[4]["flag_bullet_lines"]
    assert not out[5]["flag_ellipsis_lines"]
    assert not out[6]["flag_alpha_words"]
    assert not out[7]["flag_stop_words"]
    # each planted doc violates ONLY its target rule (doc 2's
    # single-nonsense-word vocabulary necessarily also lacks the
    # required stop words — the one documented double violation)
    extra_bad = {2: {"flag_stop_words"}}
    for doc_id, bad in [(2, "flag_mean_word_len"), (3, "flag_symbol_ratio"),
                        (4, "flag_bullet_lines"), (5, "flag_ellipsis_lines"),
                        (6, "flag_alpha_words"), (7, "flag_stop_words")]:
        assert not out[doc_id][bad], (doc_id, bad, out[doc_id])
        others = [
            k for k in flags
            if k != bad and k not in extra_bad.get(doc_id, set())
        ]
        assert all(out[doc_id][k] for k in others), (doc_id, out[doc_id])


def test_trailing7d_sketch_merges_daily_cells(spark, sf_dir):
    """The trailing-7-day merged quantiles must equal the sketch of the
    UNION of the trailing days' raw values — cells merging by SUM is
    lossless for the histogram sketch."""
    from pyspark.sql import functions as F

    from spotify_tracks_etl_portfolio_spark.plans.analytics import (
        QUANT_BIN,
        QUANT_SCALE,
        trailing7d_type_quantiles_sketch,
    )

    out = {
        (r["day"], r["event_type"]): r
        for r in trailing7d_type_quantiles_sketch(spark, sf_dir).collect()
    }
    events = spark.read.parquet(f"{sf_dir}/events.parquet").filter(
        F.col("value").isNotNull()
    )
    # recompute one (day, type) cell from raw rows of the 7-day window
    import datetime

    (day, etype), row = sorted(out.items())[len(out) // 2]
    d1 = datetime.date.fromisoformat(day)
    d0 = d1 - datetime.timedelta(days=6)
    vals = sorted(
        r["value"]
        for r in events.filter(
            (F.to_date(F.date_trunc("day", "ts")) >= F.lit(d0))
            & (F.to_date(F.date_trunc("day", "ts")) <= F.lit(d1))
            & (F.col("event_type") == etype)
        ).collect()
    )
    assert row["n_values"] == len(vals)
    bins = sorted(int(round(v * QUANT_SCALE) // QUANT_BIN) for v in vals)
    med_bin = bins[(len(bins) + 1) // 2 - 1]
    expect_med = (med_bin * QUANT_BIN + QUANT_BIN // 2) / QUANT_SCALE
    assert row["approx_median_value"] == expect_med


def test_curate_corpus_v3_invariants(spark, sf_dir):
    """v3 pipeline invariants: every output doc is a dedup canonical
    that passes the (stopword_min=1) Gopher gate; smaller languages
    keep strictly higher fractions (the α=1/2 inversion); the split is
    ~90/5/5 by content hash; a rerun is identical (no RNG)."""
    import functools

    from pyspark.sql import functions as F

    from spotify_tracks_etl_portfolio_spark.operators.text import gopher_rules
    from spotify_tracks_etl_portfolio_spark.plans.extensions import (
        curate_training_corpus_v3,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = curate_training_corpus_v3(spark, sf_dir).collect()
    assert len(out) > 0
    out_ids = {r["doc_id"] for r in out}
    # gate membership: canonical + gopher(stopword_min=1)
    canon = {
        r["doc_id"]
        for r in docs.groupBy("text")
        .agg(F.min("doc_id").alias("doc_id"))
        .collect()
    }
    rules = gopher_rules("text", stopword_min=1)
    gate = functools.reduce(
        lambda a, b: a & b,
        (v for k, v in rules.items() if k.startswith("flag_")),
    )
    passing = {r["doc_id"] for r in docs.filter(gate).collect()}
    kept = canon & passing
    assert out_ids <= kept
    # α = 1/2 inversion over the gated corpus
    sizes = {}
    for r in (
        docs.filter(gate)
        .join(
            docs.groupBy("text").agg(F.min("doc_id").alias("doc_id")),
            "doc_id",
            "left_semi",
        )
        .groupBy("lang")
        .count()
        .collect()
    ):
        sizes[r["lang"]] = r["count"]
    kept_by_lang = {}
    for r in out:
        kept_by_lang[r["lang"]] = kept_by_lang.get(r["lang"], 0) + 1
    fracs = {t: kept_by_lang.get(t, 0) / n for t, n in sizes.items()}
    for a, na in sizes.items():
        for b, nb in sizes.items():
            if na < nb * 0.8:
                assert fracs[a] > fracs[b] - 1 / min(na, nb), (a, b, fracs)
    # split shape
    splits = {}
    for r in out:
        splits[r["split"]] = splits.get(r["split"], 0) + 1
    assert set(splits) <= {"train", "val", "test"}
    assert splits.get("train", 0) > splits.get("val", 0)
    assert splits.get("train", 0) > splits.get("test", 0)
    # determinism
    again = curate_training_corpus_v3(spark, sf_dir).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))


def test_ccnet_perplexity_buckets_shape(spark, sf_dir):
    """CCNet bucketing invariants: per language, every tail doc scores
    <= every middle doc <= every head doc (bins are monotone in the
    score), each bucket holds roughly a third (within bin
    granularity), and a rerun is identical."""
    from spotify_tracks_etl_portfolio_spark.plans.extensions import (
        ccnet_perplexity_buckets,
    )

    rows = ccnet_perplexity_buckets(spark, sf_dir).collect()
    assert rows
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rs in by_lang.items():
        scores = {"tail": [], "middle": [], "head": []}
        for r in rs:
            scores[r["ppl_bucket"]].append(r["avg_logprob"])
        assert scores["tail"] and scores["middle"] and scores["head"], lang
        assert max(scores["tail"]) <= min(scores["middle"]) + 1e-9, lang
        assert max(scores["middle"]) <= min(scores["head"]) + 1e-9, lang
        n = len(rs)
        for b in scores:
            # within bin-granularity of a tercile (coarse langs have
            # few bins, so allow a generous band)
            assert len(scores[b]) >= n // 6, (lang, b, len(scores[b]), n)
    again = ccnet_perplexity_buckets(spark, sf_dir).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, rows))


def test_dsir_planted_shift_oversamples_target_like_docs(spark):
    """DSIR importance resampling must up-weight raw docs whose hashed
    n-gram distribution matches the TARGET corpus: with a target of
    vocab-A docs, every target-like raw doc's log-weight must exceed
    every vocab-B doc's, the Gumbel top-k must oversample vocab-A
    docs vs their share of the raw corpus, and the draw must replay
    bit-identically (zero RNG)."""
    from spotify_tracks_etl_portfolio_spark.plans.extensions import (
        dsir_importance_scores,
    )

    vocab_a = "solar wind turbine battery storage inverter panel grid"
    vocab_b = "violin cello trumpet oboe sonata concerto legato tempo"
    rows = []
    # 8 target docs (vocab A, marked)
    for i in range(8):
        rows.append((i, vocab_a + f" sample {i}", True))
    # 12 target-LIKE raw docs (vocab A, unmarked) + 20 vocab-B docs
    for i in range(8, 20):
        rows.append((i, vocab_a + f" field report {i}", False))
    for i in range(20, 40):
        rows.append((i, vocab_b + f" program note {i}", False))
    docs = spark.createDataFrame(rows, "doc_id long, text string, tgt boolean")

    # k = all docs -> inspect every log-weight
    allscores = dsir_importance_scores(
        docs, F.col("tgt"), k=100
    ).collect()
    lw = {r["doc_id"]: r["logw"] for r in allscores}
    a_ids = set(range(20))
    b_ids = set(range(20, 40))
    assert min(lw[i] for i in a_ids) > max(lw[i] for i in b_ids)

    # k = 12: the selection must be dominated by vocab-A docs even
    # though they are only half the corpus
    picked = {
        r["doc_id"]
        for r in dsir_importance_scores(docs, F.col("tgt"), k=12).collect()
    }
    assert len(picked & a_ids) >= 10, picked

    # deterministic replay
    again = dsir_importance_scores(docs, F.col("tgt"), k=12).collect()
    assert sorted(map(tuple, again)) == sorted(
        map(tuple, dsir_importance_scores(docs, F.col("tgt"), k=12).collect())
    )


def test_text_index_append_frozen_stats_contract(spark, sf_dir, tmp_path):
    """append_to_text_index must (a) leave every base posting/doc-length
    row untouched, (b) add exactly the batch's postings (bit-identical
    to indexing the batch directly), (c) leave the 1-row stats table
    FROZEN at the base build, and (d) advance the shared version ledger
    with a type=append manifest."""
    import json

    from spotify_tracks_etl_portfolio_spark.operators.similarity import (
        ivfpq_index_version,
    )
    from spotify_tracks_etl_portfolio_spark.operators.text import (
        append_to_text_index,
        build_text_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = docs.filter(F.col("doc_id") % 10 != 7)
    batch = docs.filter(F.col("doc_id") % 10 == 7)
    root = str(tmp_path / "tidx")
    build_text_index(base, "doc_id", "text", root)
    p_before = {
        tuple(r) for r in spark.read.parquet(f"{root}/postings").collect()
    }
    dl_before = {
        tuple(r) for r in spark.read.parquet(f"{root}/doc_lengths").collect()
    }
    stats_before = spark.read.parquet(f"{root}/stats").collect()

    v = append_to_text_index(batch, root, "doc_id", "text")
    assert v == 1 and ivfpq_index_version(root) == 1

    p_after = {
        tuple(r) for r in spark.read.parquet(f"{root}/postings").collect()
    }
    dl_after = {
        tuple(r) for r in spark.read.parquet(f"{root}/doc_lengths").collect()
    }
    # (a) base rows a strict subset, untouched
    assert p_before <= p_after
    assert dl_before <= dl_after
    # (b) exactly the batch's postings appended
    broot = str(tmp_path / "tidx_batch_only")
    build_text_index(batch, "doc_id", "text", broot)
    p_batch = {
        tuple(r) for r in spark.read.parquet(f"{broot}/postings").collect()
    }
    assert p_after - p_before == p_batch
    # (c) stats frozen at the base build
    assert spark.read.parquet(f"{root}/stats").collect() == stats_before
    # (d) manifest recorded in the shared ledger
    with open(f"{root}/versions/v1.json") as fh:
        man = json.load(fh)
    assert man["type"] == "append" and man["postings"] == len(p_batch)
    assert man["buckets"] == sorted({t[-1] for t in p_batch})


def test_add_lang_id_quality_exprs_match_column_form(spark, sf_dir):
    """r14 optimization: add_lang_id's marker scores / argmax CASE and
    add_quality's stopword count moved from Column/HOF loops to
    JVM-parsed SQL strings. Pin against the original Column chains —
    values AND schema identical (same IN/greatest/when semantics,
    including the first-lang tie-break)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def ref_lang_id(df, col="text", out="predicted_lang"):
        def marker_filter(markers):
            return lambda t: t.isin(*markers)

        d = df.withColumn("__li_toks", tx.tokens(col))
        for lang, markers in tx.LANG_MARKERS.items():
            d = d.withColumn(
                f"__li_{lang}",
                F.size(F.filter(F.col("__li_toks"), marker_filter(markers))),
            )
        best = F.greatest(
            *[F.col(f"__li_{lang}") for lang in tx.LANG_MARKERS]
        )
        expr = F.lit("und")
        for lang in reversed(list(tx.LANG_MARKERS)):
            expr = F.when(
                (F.col(f"__li_{lang}") == best) & (best > 0), F.lit(lang)
            ).otherwise(expr)
        return d.withColumn(out, expr).drop(
            "__li_toks", *[f"__li_{lang}" for lang in tx.LANG_MARKERS]
        )

    def ref_quality(df, col="text", out="quality_score"):
        c = F.col(col)
        d = df.withColumn("__q_toks", tx.tokens(col))
        d = d.withColumn("__q_ntok", F.size(F.col("__q_toks")))
        d = d.withColumn(
            "__q_nstop",
            F.size(
                F.filter(
                    F.col("__q_toks"),
                    lambda t: t.isin(*tx.QUALITY_STOPWORDS),
                )
            ),
        )
        safe_tok = F.greatest(F.col("__q_ntok"), F.lit(1))
        safe_chars = F.greatest(F.length(c), F.lit(1))
        stopword_ratio = F.round(
            F.col("__q_nstop").cast("double") / safe_tok, 6
        )
        punct_ratio = F.round(
            F.regexp_count(c, F.lit(r"[.,!?;:]")).cast("double") / safe_chars,
            6,
        )
        digit_ratio = F.round(
            F.regexp_count(c, F.lit(r"[0-9]")).cast("double") / safe_chars, 6
        )
        length_ok = (F.col("__q_ntok") >= 5) & (F.col("__q_ntok") <= 5000)
        score = F.round(
            F.when(length_ok, F.lit(1.0)).otherwise(F.lit(0.3)) * 0.5
            + F.least(stopword_ratio * 4.0, F.lit(1.0)) * 0.3
            + (
                F.lit(1.0)
                - F.least((punct_ratio + digit_ratio) * 2.0, F.lit(1.0))
            )
            * 0.2,
            6,
        )
        return d.withColumn(out, score).drop(
            "__q_toks", "__q_ntok", "__q_nstop"
        )

    got_l = tx.add_lang_id(docs)
    want_l = ref_lang_id(docs)
    assert got_l.schema == want_l.schema
    assert sorted(map(tuple, got_l.collect())) == sorted(
        map(tuple, want_l.collect())
    )

    got_q = tx.add_quality(docs)
    want_q = ref_quality(docs)
    assert got_q.schema == want_q.schema
    assert sorted(map(tuple, got_q.collect())) == sorted(
        map(tuple, want_q.collect())
    )


@pytest.mark.parametrize("escaped", ["false", "true"])
def test_spliced_string_literals_exact_under_escaped_literals_conf(
    spark, monkeypatch, escaped
):
    """Strings spliced into parsed SQL (lang-id markers, stopwords, the
    unigram map keys, the tokenizer regex) must read back exactly under
    both values of ``spark.sql.parser.escapedStringLiterals``: checked
    against the Column forms, which never go through the parser, with
    quote, backslash and non-ASCII markers and tab/newline text."""
    from decimal import Decimal

    markers = {
        "en": ("it's", "the", "naïve"),
        "de": ("back\\slash", "und", "o''k"),
        "es": ("\\s+", "el", "año"),
    }
    stop = ("it's", "back\\slash", "naïve", "the", "\\")
    monkeypatch.setattr(tx, "LANG_MARKERS", markers)
    monkeypatch.setattr(tx, "QUALITY_STOPWORDS", stop)
    docs = spark.createDataFrame(
        [
            (0, "it's\tthe naïve\nplan it's"),
            (1, "back\\slash und\to''k \\ und"),
            (2, " \\s+\n\nel año  el\t"),
            (3, "s ss\\s plain words only"),
            (4, "\t\n "),
        ],
        "doc_id long, text string",
    )
    lp = {"it's": Decimal("-1.5"), "a\\b": Decimal("-2.25"), "ñ": Decimal("-3")}
    conf = "spark.sql.parser.escapedStringLiterals"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, escaped)
    try:
        got = docs.select(
            "doc_id",
            F.expr(dd._tokens_sql("text")).alias("toks"),
            F.element_at(tx._lp_map_expr(lp), F.lit("it's")).alias("lp1"),
            F.element_at(tx._lp_map_expr(lp), F.lit("a\\b")).alias("lp2"),
            F.element_at(tx._lp_map_expr(lp), F.lit("ñ")).alias("lp3"),
        )
        got = tx.add_quality(tx.add_lang_id(got.join(docs, "doc_id")))
        want = docs.select(
            "doc_id",
            tx.tokens("text").alias("toks"),
            F.lit(Decimal("-1.5")).cast("decimal(28,9)").alias("lp1"),
            F.lit(Decimal("-2.25")).cast("decimal(28,9)").alias("lp2"),
            F.lit(Decimal("-3")).cast("decimal(28,9)").alias("lp3"),
            "text",
            tx.lang_id("text").alias("predicted_lang"),
            tx.quality_score("text").alias("quality_score"),
        )
        got_rows = sorted(map(tuple, got.collect()))
        want_rows = sorted(map(tuple, want.collect()))
    finally:
        spark.conf.set(conf, prev)
    assert got_rows == want_rows
    # the fixture really exercises every marker family and a stopword
    langs = {r[-2] for r in got_rows}
    assert {"en", "de", "es", "und"} <= langs
