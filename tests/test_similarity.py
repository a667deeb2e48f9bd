"""Similarity-search tests: exact top-k ground truth on a constructed
corpus; IVF recall sanity on the real embeddings table."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spotify_tracks_etl_portfolio_spark.operators import similarity as sim
from spotify_tracks_etl_portfolio_spark.sources.readers import read_parquet_table


@pytest.fixture(scope="module")
def corpus(spark):
    # unit vectors at known angles from e1: cosines 1.0, ~0.995, ~0.707, 0
    return spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.995, 0.0999]),
            (2, [0.7071, 0.7071]),
            (3, [0.0, 1.0]),
        ],
        "vec_id long, embedding array<double>",
    )


def test_cosine_topk_exact_order(corpus):
    q = corpus.filter(F.col("vec_id") == 0)
    out = sim.cosine_topk(corpus, q, "vec_id", "embedding", k=3).collect()
    assert [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])] == [1, 2, 3]
    assert out[0]["cosine"] <= 1.0


def test_ivf_assign_partitions_corpus(corpus):
    centroids = corpus.filter(F.col("vec_id").isin(0, 3))
    assigned = {r["vec_id"]: r["cell"] for r in
                sim.ivf_assign(corpus, centroids, "vec_id", "embedding").collect()}
    assert assigned[1] == 0  # near e1
    assert assigned[3] == 3  # is its own centroid
    assert assigned[2] in (0, 3)  # equidistant → deterministic tie to 0
    assert assigned[2] == 0


def test_ivf_topk_recall_on_testdata(spark, sf_dir):
    """Recall floor for the registered query's exact configuration —
    since round 8 the DERIVED geometry k = auto_ivf_cells(n) ∝ √n,
    nprobe = auto_ivf_nprobe(k) ∝ √k (measured 0.94 at sf0.01 under
    k=23/nprobe=5, up from the toy 8/2's 0.86); the floor guards
    against the centroids or probe order silently degrading."""
    emb = read_parquet_table(spark, sf_dir, "embeddings")
    k = sim.auto_ivf_cells(emb.count())
    nprobe = sim.auto_ivf_nprobe(k)
    queries = emb.filter(F.col("vec_id") < 5)
    centroids = sim.kmeans_centroids(
        emb, "vec_id", "embedding", k=k, iters=3
    ).withColumnRenamed("cell", "vec_id")
    exact = sim.cosine_topk(emb, queries, "vec_id", "embedding", 5)
    approx = sim.ivf_topk(
        emb, queries, centroids, "vec_id", "embedding", 5, nprobe=nprobe
    )
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.6, recall


def test_ivfpq_recall_on_testdata(spark, sf_dir, tmp_path):
    """Recall@5 floor for the composed IVF×PQ serving path at the
    registered derived geometry (auto_ivf_cells / auto_ivf_nprobe /
    auto_pq_k): the composition loses recall two ways — a true
    neighbor's cell may not be probed (IVF) or it may miss the ADC
    shortlist (PQ distortion) — so the floor gates the PRODUCT of
    both effects against the exact brute force."""
    emb = read_parquet_table(spark, sf_dir, "embeddings")
    n = emb.count()
    ivf_k = sim.auto_ivf_cells(n)
    nprobe = sim.auto_ivf_nprobe(ivf_k)
    pq_k = sim.auto_pq_k(n)
    root = str(tmp_path / "ivfpq")
    sim.build_ivfpq_index(
        emb, "vec_id", "embedding", root, k_cells=ivf_k, pq_k=pq_k
    )
    from pyspark.sql import Window
    from spotify_tracks_etl_portfolio_spark.functions import vec_dot

    queries = emb.filter(F.col("vec_id") < 5)
    # exact inner-product top-5 (the same baseline the PQ-only recall
    # test uses — the re-rank stage scores by dot product)
    qs = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("ip"), F.asc("neighbor_id")
    )
    exact = (
        c.crossJoin(F.broadcast(qs))
        .filter("neighbor_id != query_id")
        .withColumn("ip", F.round(vec_dot("cv", "qv"), 6))
        .withColumn("rk", F.row_number().over(w))
        .filter("rk<=5")
    )
    approx = sim.ivfpq_query_index(
        spark, root, queries, emb, "vec_id", "embedding", 5, nprobe=nprobe
    )
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.6, recall


def test_ivfpq_filtered_query_prefilter_semantics(spark, sf_dir, tmp_path):
    """Filtered composed IVF×PQ (where=) has PRE-FILTER semantics:
    querying the full index with a predicate equals querying a second
    index whose CODES table was pre-filtered to the passing ids (same
    centroids, same codebooks) with no predicate — i.e. non-matching
    candidates never compete for the shortlist. Every reported
    neighbor passes the predicate."""
    import os
    import shutil

    emb = read_parquet_table(spark, sf_dir, "embeddings")
    root = str(tmp_path / "pq_full")
    sim.build_ivfpq_index(emb, "vec_id", "embedding", root, k_cells=8, pq_k=16)
    # second index: identical centroids/codebooks, codes pre-filtered
    root2 = str(tmp_path / "pq_filtered")
    os.makedirs(root2)
    shutil.copytree(f"{root}/centroids", f"{root2}/centroids")
    shutil.copytree(f"{root}/codebooks", f"{root2}/codebooks")
    spark.read.parquet(f"{root}/codes").filter(
        F.col("vec_id") % 3 == 0
    ).write.partitionBy("cell").parquet(f"{root2}/codes")

    queries = emb.filter(F.col("vec_id") < 5)
    filtered = sorted(
        map(
            tuple,
            sim.ivfpq_query_index(
                spark, root, queries, emb, "vec_id", "embedding", 5,
                nprobe=2, where=F.col("vec_id") % 3 == 0,
            ).collect(),
        )
    )
    expected = sorted(
        map(
            tuple,
            sim.ivfpq_query_index(
                spark, root2, queries, emb, "vec_id", "embedding", 5,
                nprobe=2,
            ).collect(),
        )
    )
    assert filtered == expected
    assert filtered and all(r[1] % 3 == 0 for r in filtered)


def test_kmeans_centroids_deterministic_and_improving(spark, sf_dir):
    from pyspark.sql import functions as F

    from spotify_tracks_etl_portfolio_spark.functions import vec_dot, vec_norm
    from spotify_tracks_etl_portfolio_spark.operators.similarity import (
        ivf_assign,
        kmeans_centroids,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cent = kmeans_centroids(emb, "vec_id", "embedding", k=8, iters=2)
    rows = cent.collect()
    assert len(rows) == 8
    assert all(len(r["embedding"]) == 64 for r in rows)
    # deterministic across runs
    again = kmeans_centroids(emb, "vec_id", "embedding", k=8, iters=2).collect()
    assert sorted(r["cell"] for r in rows) == sorted(r["cell"] for r in again)

    def inertia(centroids):
        c = centroids.withColumnRenamed("cell", "vec_id")
        a = ivf_assign(emb, c, "vec_id", "embedding")
        cv = c.select(
            F.col("vec_id").alias("cell"), F.col("embedding").alias("__c")
        )
        return (
            a.join(cv, "cell")
            .select(
                (
                    1
                    - vec_dot("embedding", "__c")
                    / (vec_norm("embedding") * vec_norm("__c"))
                ).alias("d")
            )
            .agg(F.sum("d"))
            .first()[0]
        )

    seed = kmeans_centroids(emb, "vec_id", "embedding", k=8, iters=0)
    trained = kmeans_centroids(emb, "vec_id", "embedding", k=8, iters=3)
    assert inertia(trained) < inertia(seed)  # Lloyd iterations improve fit


def test_ivf_recall_floor_off_registered_config(spark, sf_dir):
    """Recall robustness OFF the registered geometry: an arbitrary
    non-derived configuration (16 cells / 2 iters, nprobe=2) must still
    keep recall@5 ≥ 0.6 against the exact brute-force top-k — the
    operator's recall must not silently depend on the one registered
    (k, nprobe) pair. (The registered derived-geometry floor lives in
    test_ivf_topk_recall_on_testdata.)"""
    emb = read_parquet_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    cents = sim.kmeans_centroids(
        emb, "vec_id", "embedding", k=16, iters=2
    ).withColumnRenamed("cell", "vec_id")
    exact = sim.cosine_topk(emb, queries, "vec_id", "embedding", 5)
    approx = sim.ivf_topk(emb, queries, cents, "vec_id", "embedding", 5, nprobe=2)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.6, recall


def test_auto_ivf_and_pq_closed_forms():
    """The derived-geometry closed forms the recorded IVF/PQ oracles
    replay as scalar CTEs (round-8 verdict item): k = ⌈√n⌉ clamped,
    nprobe = ⌈√k⌉ clamped — monotone, floor-pinned at the frozen toy
    geometry, capped at the documented rails."""
    assert sim.auto_ivf_cells(0) == 8
    assert sim.auto_ivf_cells(64) == 8
    assert sim.auto_ivf_cells(500) == 23  # the sf0.01 gate geometry
    assert sim.auto_ivf_cells(2000) == 45
    # round-9 clamp raise: 10⁹ vectors now derive the true √n geometry
    # (the old 4096 clamp bound here — the linear-wall shape verdict
    # item 2 closed); the clamp binds at n = 65536² ≈ 4.3e9.
    assert sim.auto_ivf_cells(10**9) == 31623
    assert sim.auto_ivf_cells(10**10) == sim.IVF_MAX_CELLS
    assert sim.auto_ivf_nprobe(8) == 3
    assert sim.auto_ivf_nprobe(23) == 5  # the sf0.01 gate geometry
    assert sim.auto_ivf_nprobe(sim.IVF_MAX_CELLS) == sim.IVF_MAX_NPROBE
    assert sim.auto_pq_k(0) == sim.PQ_K
    assert sim.auto_pq_k(256) == sim.PQ_K
    assert sim.auto_pq_k(500) == 23  # the sf0.01 gate geometry
    assert sim.auto_pq_k(10**9) == sim.PQ_MAX_K
    ns = [10**i for i in range(1, 10)]
    ks = [sim.auto_ivf_cells(n) for n in ns]
    assert ks == sorted(ks)
    # the probed corpus fraction nprobe/k falls monotonically with n
    # once k is off the 8-cell floor clamp (below it, the fixed floor
    # makes tiny corpora probe proportionally more — by design)
    fr = [sim.auto_ivf_nprobe(k) / k for k in ks if k > 8]
    assert fr == sorted(fr, reverse=True)


def test_hyperplane_sketch_expr_matches_column_api_reference(spark, sf_dir):
    """r13 optimization: plane-sum aggregates and sign-bit packing moved
    from the Column API to JVM-parsed SQL strings (a py4j constant at
    the 64-plane wide geometry). Pin values AND schema against the
    original Column-API chain at the frozen 8-row oracle geometry and
    the wide 16-row one."""
    emb = read_parquet_table(spark, sf_dir, "embeddings")

    def reference(df, rows):
        quantized = F.transform(
            F.col("embedding"),
            lambda x: F.round(
                x.cast("double") * F.lit(float(sim.HP_SCALE))
            ).cast("long"),
        )
        exploded = sim.scan_parallelism(df).select(
            F.col("vec_id"), F.posexplode(quantized).alias("__d", "__q")
        )

        def weight(j):
            raw = (
                F.lit(j * sim.HP_A)
                + F.col("__d").cast("long") * F.lit(sim.HP_B)
                + F.lit(sim.HP_C)
            ) % F.lit(sim.HP_M)
            return raw * F.lit(2) - F.lit(sim.HP_M)

        dots = exploded.groupBy("vec_id").agg(
            *[
                F.sum(F.col("__q") * weight(j)).alias(f"__dot_{j}")
                for j in range(sim.HP_BANDS * rows)
            ]
        )

        def band_sig(bi):
            sig = F.lit(0)
            for r in range(rows):
                sig = sig + F.when(
                    F.col(f"__dot_{bi * rows + r}") >= 0, F.lit(1 << r)
                ).otherwise(F.lit(0))
            return sig.alias(f"band_{bi}")

        return dots.select(
            F.col("vec_id"), *[band_sig(bi) for bi in range(sim.HP_BANDS)]
        )

    for rows in (sim.HP_ROWS, 16):
        got = sim.hyperplane_sketch(emb, "vec_id", "embedding", rows=rows)
        want = reference(emb, rows)
        assert got.schema == want.schema, rows
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        ), rows


def test_hyperplane_lsh_vs_brute_force(spark, sf_dir):
    """The registered embedding near-dup path (hyperplane LSH) against
    its test-only brute-force baseline: every LSH pair must be a true
    pair with the identical exact cosine (precision 1.0 — the verify
    step guarantees it), and band recall must stay above the frozen
    configuration's analytic floor (4 bands × 8 rows ≈ 0.10 for pairs
    right AT the 0.4 threshold; measured 0.17 on driver testdata)."""
    from spotify_tracks_etl_portfolio_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )

    emb = read_parquet_table(spark, sf_dir, "embeddings")
    brute = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_near_dup_pairs(emb, "vec_id", "embedding", 0.4).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in sim.hyperplane_lsh_near_dup_pairs(
            emb, "vec_id", "embedding", 0.4, rows=sim.HP_ROWS
        ).collect()
    }
    assert set(lsh) <= set(brute)
    assert all(brute[p] == c for p, c in lsh.items())  # identical cosines
    assert len(lsh) / len(brute) >= 0.1


def test_hyperplane_lsh_wide_bands_keep_twin_recall_and_precision(
    spark, sf_dir
):
    """rows=16 is the band-width scale knob (round-5 stress finding:
    8-bit signatures saturate around 10⁵ vectors). Widening must keep
    (a) recall 1.0 for exact twins — identical vectors collide on every
    band at any width — and (b) precision 1.0 — the exact-cosine verify
    is width-independent."""
    from pyspark.sql import functions as F

    emb = read_parquet_table(spark, sf_dir, "embeddings")
    twins = emb.filter(F.col("vec_id") < 5).withColumn(
        "vec_id", F.col("vec_id") + 1_000_000
    )
    both = emb.unionByName(twins)
    pairs = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in sim.hyperplane_lsh_near_dup_pairs(
            both, "vec_id", "embedding", 0.999, rows=16
        ).collect()
    }
    for i in range(5):
        assert (i, i + 1_000_000) in pairs
    assert all(c >= 0.999 for c in pairs.values())


def test_zero_vector_gets_defined_cosine_not_nan(spark):
    """ADVICE fix: an all-zero embedding must produce cosine 0 (clamped
    denominator) and a defined probe assignment, not NaN."""
    import math

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 0.0]), (2, [0.9, 0.1])],
        "vec_id long, embedding array<double>",
    )
    q = emb.filter(F.col("vec_id") == 0)
    out = sim.cosine_topk(emb, q, "vec_id", "embedding", k=2).collect()
    cosines = {r["neighbor_id"]: r["cosine"] for r in out}
    assert cosines[1] == 0.0 and not math.isnan(cosines[1])
    # probe path: zero vector lands in a defined cell
    probe = sim.probe_cells_udf([(0, [1.0, 0.0]), (1, [0.0, 1.0])], nprobe=1)
    cells = emb.select("vec_id", probe(F.col("embedding")).alias("c")).collect()
    got = {r["vec_id"]: r["c"][0] for r in cells}
    assert got[1] == 0  # zero vector → similarity 0 to both → smallest cell


def test_semantic_dedup_drops_planted_duplicates(spark):
    """Planted near-copies collapse to the lowest id; distinct directions
    survive — and the result is identical across re-runs (no RNG)."""
    base = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.0, 0.0, 1.0, 0.0]),
        (3, [0.999, 0.01, 0.0, 0.0]),   # near-copy of 0
        (4, [0.0, 0.998, 0.02, 0.0]),   # near-copy of 1
        (5, [0.5, 0.5, 0.5, 0.5]),      # genuinely new direction
    ]
    emb = spark.createDataFrame(base, "vec_id long, embedding array<double>")
    out = {
        r["vec_id"]: r["is_kept"]
        for r in sim.semantic_dedup(emb, "vec_id", "embedding",
                                    threshold=0.95, k=3, iters=2).collect()
    }
    assert out[0] and out[1] and out[2] and out[5]
    assert not out[3] and not out[4]
    rerun = {
        r["vec_id"]: r["is_kept"]
        for r in sim.semantic_dedup(emb, "vec_id", "embedding",
                                    threshold=0.95, k=3, iters=2).collect()
    }
    assert rerun == out


def test_semantic_dedup_pretrained_centroids_equal_self_trained(
    spark, sf_dir
):
    """The persisted-model path (round-6 artifact): passing the
    kmeans_centroids output via ``centroids=`` must return exactly the
    self-trained result — training is zero-RNG, so a published model
    changes cost, never the answer."""
    emb = read_parquet_table(spark, sf_dir, "embeddings")
    self_trained = sorted(
        map(
            tuple,
            sim.semantic_dedup(
                emb, "vec_id", "embedding", threshold=0.9, k=8, iters=3
            ).collect(),
        )
    )
    cents = sim.kmeans_centroids(emb, "vec_id", "embedding", k=8, iters=3)
    pretrained = sorted(
        map(
            tuple,
            sim.semantic_dedup(
                emb, "vec_id", "embedding", threshold=0.9, centroids=cents
            ).collect(),
        )
    )
    assert pretrained == self_trained


def test_semantic_dedup_soundness_on_testdata(spark, sf_dir):
    """Soundness: every vector semantic_dedup drops must ALSO be a
    brute-force global near-dup of some lower-id vector (cluster scoping
    can only lose recall, never drop a non-duplicate)."""
    emb = read_parquet_table(spark, sf_dir, "embeddings")
    out = sim.semantic_dedup(emb, "vec_id", "embedding", threshold=0.9)
    dropped = {r["vec_id"] for r in out.filter(~F.col("is_kept")).collect()}

    from spotify_tracks_etl_portfolio_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )

    brute = embedding_near_dup_pairs(emb, "vec_id", "embedding", 0.9)
    has_lower = {r["id_b"] for r in brute.collect()}  # id_b > id_a pairs
    assert dropped <= has_lower, dropped - has_lower


def test_pq_topk_recall_floor_and_exact_rerank(spark, sf_dir):
    """PQ ADC shortlist + exact re-rank at the registered configuration
    (8×8-dim subspaces, 16-centroid codebooks, shortlist 100) must keep
    recall@5 ≥ 0.6 against the exact inner-product top-k (measured 0.92
    at sf0.001 / 0.94 at sf0.01 — on RANDOM synthetic embeddings, PQ's
    worst case), and every reported score must BE the exact dot product
    (the re-rank stage guarantees it)."""
    from pyspark.sql import Window
    from spotify_tracks_etl_portfolio_spark.functions import vec_dot

    emb = read_parquet_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    scored = (
        c.crossJoin(F.broadcast(qs))
        .filter("neighbor_id != query_id")
        .withColumn("ip", F.round(vec_dot("cv", "qv"), 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("ip"), F.asc("neighbor_id")
    )
    exact_rows = (
        scored.withColumn("rk", F.row_number().over(w)).filter("rk<=5").collect()
    )
    e = {(r["query_id"], r["neighbor_id"]) for r in exact_rows}
    ips = {(r["query_id"], r["neighbor_id"]): r["ip"] for r in exact_rows}
    approx = sim.pq_topk(emb, "vec_id", "embedding").collect()
    a = {(r["query_id"], r["neighbor_id"]) for r in approx}
    assert len(e & a) / len(e) >= 0.6
    # Scores of true-positive pairs equal the exact dot bit-for-bit.
    for r in approx:
        key = (r["query_id"], r["neighbor_id"])
        if key in ips:
            assert r["score"] == ips[key]


def test_pq_codes_bounded_and_deterministic(spark, sf_dir):
    """Every PQ code lies in [0, K); re-encoding yields the identical
    code table (zero-RNG training + assignment)."""
    emb = read_parquet_table(spark, sf_dir, "embeddings")
    books = sim.pq_train_codebooks(emb, "vec_id", "embedding")
    assert len(books) == sim.PQ_M
    assert all(len(b) == sim.PQ_K for b in books)
    codes = sim.pq_encode(emb, "vec_id", "embedding", books)
    cols = [c for c in codes.columns if c.startswith("code_")]
    assert len(cols) == sim.PQ_M
    agg = codes.agg(
        *[F.min(c).alias(f"mn_{c}") for c in cols],
        *[F.max(c).alias(f"mx_{c}") for c in cols],
    ).first()
    for c in cols:
        assert agg[f"mn_{c}"] >= 0
        assert agg[f"mx_{c}"] < sim.PQ_K
    again = sim.pq_encode(emb, "vec_id", "embedding", books)
    assert codes.exceptAll(again).count() == 0
    assert again.exceptAll(codes).count() == 0


def test_auto_hyperplane_rows_formula():
    """Round-6 verdict item: rows ≈ ⌈log₂ n⌉ clamped to
    [HP_ROWS, HP_MAX_ROWS]."""
    assert sim.auto_hyperplane_rows(0) == sim.HP_ROWS
    assert sim.auto_hyperplane_rows(256) == sim.HP_ROWS
    assert sim.auto_hyperplane_rows(500) == 9
    assert sim.auto_hyperplane_rows(100_000) == 17
    assert sim.auto_hyperplane_rows(10**9) == sim.HP_MAX_ROWS
    widths = [sim.auto_hyperplane_rows(n) for n in
              (1, 100, 10_000, 10**6, 10**9)]
    assert widths == sorted(widths)


def test_auto_semdedup_k_formula():
    """Round-6 verdict item: k ≈ ⌈n / target-cell⌉ clamped to
    [8, SEMDEDUP_MAX_K] keeps the n²/k pairwise term ~linear."""
    assert sim.auto_semdedup_k(0) == 8
    assert sim.auto_semdedup_k(500) == 8          # frozen at test scale
    assert sim.auto_semdedup_k(50_000) == 98      # the sf1 regime
    assert sim.auto_semdedup_k(10**8) == sim.SEMDEDUP_MAX_K
    ks = [sim.auto_semdedup_k(n) for n in (1, 10_000, 10**6, 10**8)]
    assert ks == sorted(ks)


def test_hyperplane_default_width_is_auto_with_full_guarantees(
    spark, sf_dir
):
    """Bare-default LSH must use the auto-derived width and keep the
    width-independent guarantees: precision 1.0 with identical exact
    cosines, and recall 1.0 for exact twins (which collide on every
    band at any width)."""
    from spotify_tracks_etl_portfolio_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )

    emb = read_parquet_table(spark, sf_dir, "embeddings")
    twins = emb.filter(F.col("vec_id") < 5).withColumn(
        "vec_id", F.col("vec_id") + 1_000_000
    )
    both = emb.unionByName(twins)
    rows = sim.auto_hyperplane_rows(both.count())
    assert rows > sim.HP_ROWS  # 505 vectors already widen past 8
    auto = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in sim.hyperplane_lsh_near_dup_pairs(
            both, "vec_id", "embedding", 0.4
        ).collect()
    }
    pinned = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in sim.hyperplane_lsh_near_dup_pairs(
            both, "vec_id", "embedding", 0.4, rows=rows
        ).collect()
    }
    assert auto == pinned
    for i in range(5):
        assert auto[(i, i + 1_000_000)] == 1.0  # twin recall at any width
    brute = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_near_dup_pairs(
            both, "vec_id", "embedding", 0.4
        ).collect()
    }
    assert set(auto) <= set(brute)
    assert all(brute[p] == c for p, c in auto.items())  # precision 1.0


def test_two_level_probe_agreement_determinism_twins(spark, sf_dir, monkeypatch):
    """Past FLAT_PROBE_MAX_K centroids the Arrow probe goes two-level
    (coarse quantizer over the centroids, ~2·√k dots per vector — what
    keeps k ∝ n SemDeDup assignment near-linear). Guarantees: (a) high
    agreement with the flat exact scan (0.926 measured at k=80 on the
    random synthetic embeddings — PQ/IVF's worst case; floor 0.85),
    (b) bit-deterministic across calls, (c) identical vectors always
    land in identical cells."""
    emb = read_parquet_table(spark, sf_dir, "embeddings")
    cents = sim.kmeans_centroids(emb, "vec_id", "embedding", k=80, iters=2)
    rows = [
        (int(r["cell"]), [float(x) for x in r["embedding"]])
        for r in cents.collect()
    ]
    assert len(rows) > sim.FLAT_PROBE_MAX_K

    def assign(probe):
        return {
            r["vec_id"]: r["c"][0]
            for r in emb.select(
                "vec_id", probe(F.col("embedding")).alias("c")
            ).collect()
        }

    monkeypatch.setattr(sim, "FLAT_PROBE_MAX_K", 10**9)
    exact = assign(sim.probe_cells_udf(rows, 1))
    monkeypatch.undo()
    two_level = assign(sim.probe_cells_udf(rows, 1))
    agreement = sum(1 for k in exact if exact[k] == two_level[k]) / len(exact)
    assert agreement >= 0.85, agreement
    assert assign(sim.probe_cells_udf(rows, 1)) == two_level  # deterministic
    # exact twins land identically (assignment is a pure function)
    twins = emb.filter(F.col("vec_id") < 5).withColumn(
        "vec_id", F.col("vec_id") + 1_000_000
    )
    both = {
        r["vec_id"]: r["c"][0]
        for r in emb.unionByName(twins)
        .select("vec_id", sim.probe_cells_udf(rows, 1)(F.col("embedding")).alias("c"))
        .collect()
    }
    for i in range(5):
        assert both[i] == both[i + 1_000_000]


def test_semantic_dedup_large_k_sound_and_deterministic(spark, sf_dir):
    """Auto-scale regime (k > FLAT_PROBE_MAX_K → two-level assignment):
    SemDeDup must stay deterministic across re-runs and SOUND — every
    dropped vector has a lower-id global brute-force near-dup (cluster
    scoping can only lose recall, never drop a non-duplicate),
    regardless of which cell the approximate assignment picked."""
    from spotify_tracks_etl_portfolio_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )

    emb = read_parquet_table(spark, sf_dir, "embeddings")
    out = {
        r["vec_id"]: (r["cell"], r["is_kept"])
        for r in sim.semantic_dedup(
            emb, "vec_id", "embedding", threshold=0.9, k=80, iters=2
        ).collect()
    }
    rerun = {
        r["vec_id"]: (r["cell"], r["is_kept"])
        for r in sim.semantic_dedup(
            emb, "vec_id", "embedding", threshold=0.9, k=80, iters=2
        ).collect()
    }
    assert rerun == out
    dropped = {k for k, (_, kept) in out.items() if not kept}
    brute = embedding_near_dup_pairs(emb, "vec_id", "embedding", 0.9)
    has_lower = {r["id_b"] for r in brute.collect()}
    assert dropped <= has_lower, dropped - has_lower


def test_kmeans_update_probes_before_the_explode(spark, sf_dir):
    """Plan gate for the k-means update step: the Arrow probe must be
    evaluated on the pre-explode rows (ArrowEvalPython BELOW the
    Generate). With both in one select, ExtractPythonUDFs planted the
    eval ABOVE the posexplode and the probe re-ran dim× per vector —
    a 27× slowdown on the update step measured at 60k×64, k=118."""
    emb = read_parquet_table(spark, sf_dir, "embeddings")
    rows = [(i, [float(j == i) for j in range(64)]) for i in range(4)]
    probe = sim.probe_cells_udf(rows, nprobe=1)
    plan = (
        sim._exploded_assignment(emb, probe, "embedding")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" in plan and "Generate" in plan
    # executed plans print top-down: the Generate consuming the probe's
    # output must sit above (before) the ArrowEvalPython that feeds it
    assert plan.index("Generate") < plan.index("ArrowEvalPython"), plan


def test_pq_joint_training_equals_per_subspace_kmeans(spark, sf_dir):
    """The joint one-pass trainer must reproduce the m independent
    per-subspace ``kmeans_centroids`` chains EXACTLY (the DuckDB oracle
    replays that chain, so any drift — seeds, tie order, mean
    summation — is a correctness break, not just a perf diff)."""
    emb = read_parquet_table(spark, sf_dir, "embeddings")
    joint = sim.pq_train_codebooks(emb, "vec_id", "embedding")
    for mi in range(sim.PQ_M):
        sub = emb.select(
            F.col("vec_id"),
            F.slice(
                "embedding", mi * sim.PQ_SUB_DIM + 1, sim.PQ_SUB_DIM
            ).alias("__sv"),
        )
        ref = sim.kmeans_centroids(
            sub, "vec_id", "__sv", k=sim.PQ_K, iters=sim.PQ_ITERS
        ).collect()
        want = sorted(
            (r["cell"], [float(x) for x in r["__sv"]]) for r in ref
        )
        assert sorted(joint[mi]) == want, f"subspace {mi} diverged"


def test_pq_encode_single_udf_matches_per_subspace_probe(
    spark, sf_dir, monkeypatch
):
    """The one-evaluation code UDF must emit the identical code table
    the per-subspace ``probe_cells_udf`` chain produces — at the flat
    geometry and past ``FLAT_PROBE_MAX_K`` (shrunk to 4, k=8), where
    each subspace's kernel is the two-level probe."""
    emb = read_parquet_table(spark, sf_dir, "embeddings")
    for flat_max, k in ((None, sim.PQ_K), (4, 8)):
        if flat_max is not None:
            monkeypatch.setattr(sim, "FLAT_PROBE_MAX_K", flat_max)
        books = sim.pq_train_codebooks(emb, "vec_id", "embedding", k=k)
        assert (k > sim.FLAT_PROBE_MAX_K) == (flat_max is not None)
        got = sim.pq_encode(emb, "vec_id", "embedding", books)
        ref = emb.select("vec_id", "embedding")
        for mi, book in enumerate(books):
            probe = sim.probe_cells_udf(book, nprobe=1)
            ref = ref.withColumn(
                f"code_{mi}",
                F.element_at(
                    probe(
                        F.slice(
                            "embedding",
                            mi * sim.PQ_SUB_DIM + 1,
                            sim.PQ_SUB_DIM,
                        )
                    ),
                    1,
                ),
            )
        ref = ref.drop("embedding")
        assert got.columns == ref.columns
        assert got.exceptAll(ref).count() == 0
        assert ref.exceptAll(got).count() == 0


def test_pq_literal_lut_matches_join_lut(spark, sf_dir):
    """The literal-array ADC projection must reproduce the broadcast-
    LUT-join formulation EXACTLY — same shortlist, same final rows.
    The join path here is the reference semantics the DuckDB oracle
    replays (round(dot,6)::DECIMAL(18,6) entries, DECIMAL-exact sum
    cast double)."""
    import functools
    import operator

    from pyspark.sql import Window
    from spotify_tracks_etl_portfolio_spark.functions import vec_dot

    emb = read_parquet_table(spark, sf_dir, "embeddings")
    books = sim.pq_train_codebooks(emb, "vec_id", "embedding")
    got = sim.pq_topk(emb, "vec_id", "embedding", books=books).collect()

    m, sub_dim = len(books), len(books[0][0][1])
    codes = sim.pq_encode(emb, "vec_id", "embedding", books).withColumnRenamed(
        "vec_id", "neighbor_id"
    )
    qs = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qv")
    )
    scored = codes
    for mi, book in enumerate(books):
        cb = spark.createDataFrame(
            [(c, v) for c, v in book], "cell long, __cv array<double>"
        )
        lut = qs.crossJoin(F.broadcast(cb)).select(
            "query_id",
            F.col("cell").alias(f"code_{mi}"),
            F.round(
                vec_dot(F.slice("__qv", mi * sub_dim + 1, sub_dim), "__cv"), 6
            )
            .cast("decimal(18,6)")
            .alias(f"__lv{mi}"),
        )
        on = [f"code_{mi}"] if mi == 0 else ["query_id", f"code_{mi}"]
        scored = scored.join(F.broadcast(lut), on)
    lv_sum = functools.reduce(
        operator.add, [F.col(f"__lv{mi}") for mi in range(m)]
    )
    w_adc = Window.partitionBy("query_id").orderBy(
        F.desc("__adc"), F.asc("neighbor_id")
    )
    cand = (
        scored.filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("__adc", F.round(lv_sum, 6).cast("double"))
        .withColumn("__crn", F.row_number().over(w_adc))
        .filter(F.col("__crn") <= sim.PQ_SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    nv = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("__nv")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    want = (
        cand.join(nv, "neighbor_id")
        .join(F.broadcast(qs), "query_id")
        .withColumn("score", F.round(vec_dot("__nv", "__qv"), 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            "query_id",
            "neighbor_id",
            "score",
            F.col("rank").cast("long").alias("rank"),
        )
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_pq_topk_join_lut_fallback_matches_literal(spark, sf_dir, monkeypatch):
    """Past PQ_LITERAL_LUT_MAX entries pq_topk must switch to the
    broadcast-join LUT (query vectors never collected to the driver)
    and produce the IDENTICAL result — same shortlist survivors, same
    final rows."""
    emb = read_parquet_table(spark, sf_dir, "embeddings")
    books = sim.pq_train_codebooks(emb, "vec_id", "embedding")
    literal = sim.pq_topk(emb, "vec_id", "embedding", books=books)
    monkeypatch.setattr(sim, "PQ_LITERAL_LUT_MAX", 0)
    fallback = sim.pq_topk(emb, "vec_id", "embedding", books=books)
    # the branch actually switched: the join formulation carries the
    # m per-subspace LUT joins the literal projection doesn't have
    lit_plan = literal._jdf.queryExecution().optimizedPlan().toString()
    fb_plan = fallback._jdf.queryExecution().optimizedPlan().toString()
    assert fb_plan.count("Join") > lit_plan.count("Join")
    # identical SCHEMA too — the literal path's folded constants must
    # not leak narrower types (query_id int vs bigint) into the result
    assert literal.schema == fallback.schema
    assert sorted(map(tuple, literal.collect())) == sorted(
        map(tuple, fallback.collect())
    )


def test_ivfpq_query_literal_adc_matches_join_lut(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The composed IVF×PQ serve's literal-array ADC (r13 optimization:
    zero LUT joins for driver-bounded query batches) must reproduce the
    broadcast-LUT-join formulation EXACTLY — same shortlist, same final
    rows, same schema. The join path is the reference semantics the
    DuckDB oracle replays."""
    emb = read_parquet_table(spark, sf_dir, "embeddings")
    root = str(tmp_path / "ivfpq_adc")
    sim.build_ivfpq_index(emb, "vec_id", "embedding", root, k_cells=8, pq_k=16)
    queries = emb.filter(F.col("vec_id") < 10)
    literal = sim.ivfpq_query_index(
        spark, root, queries, emb, "vec_id", "embedding", 5, nprobe=2
    )
    lit_plan = literal._jdf.queryExecution().optimizedPlan().toString()
    lit_rows = sorted(map(tuple, literal.collect()))
    monkeypatch.setattr(sim, "PQ_LITERAL_LUT_MAX", 0)
    joined = sim.ivfpq_query_index(
        spark, root, queries, emb, "vec_id", "embedding", 5, nprobe=2
    )
    # the branch actually switched: the join formulation carries the m
    # per-subspace LUT joins the literal projection doesn't have
    jn_plan = joined._jdf.queryExecution().optimizedPlan().toString()
    assert jn_plan.count("Join") > lit_plan.count("Join")
    assert literal.schema == joined.schema
    assert lit_rows == sorted(map(tuple, joined.collect()))


def test_pq_topk_pre_encoded_codes_match_inline(spark, sf_dir, tmp_path):
    """pq_topk(codes=...) — the persisted-index serving shape — must
    reproduce the inline-encode result exactly, including through a
    parquet round-trip of the code table; and codes without their books
    is a contract error."""
    import pytest

    emb = read_parquet_table(spark, sf_dir, "embeddings")
    books = sim.pq_train_codebooks(emb, "vec_id", "embedding")
    inline = sim.pq_topk(emb, "vec_id", "embedding", books=books)
    path = str(tmp_path / "codes")
    sim.pq_encode(emb, "vec_id", "embedding", books).write.parquet(path)
    codes = spark.read.parquet(path)
    served = sim.pq_topk(
        emb, "vec_id", "embedding", books=books, codes=codes
    )
    assert sorted(map(tuple, inline.collect())) == sorted(
        map(tuple, served.collect())
    )
    with pytest.raises(ValueError, match="books"):
        sim.pq_topk(emb, "vec_id", "embedding", codes=codes)


def test_joint_pq_update_probes_before_the_explode(spark, sf_dir):
    """Plan gate for the joint PQ Lloyd update (the trainer twin of
    test_kmeans_update_probes_before_the_explode): the grouped probe
    must evaluate on the pre-explode long-form rows — ArrowEvalPython
    BELOW the Generate — or the probe re-runs sub_dim× per row."""
    emb = read_parquet_table(spark, sf_dir, "embeddings")
    books = [
        [(c, [float(j == c) for j in range(sim.PQ_SUB_DIM)]) for c in range(4)]
        for _ in range(sim.PQ_M)
    ]
    long = sim._pq_long_form(
        emb, "vec_id", "embedding", sim.PQ_M, sim.PQ_SUB_DIM
    )
    plan = (
        sim._joint_lloyd_means(long, books)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" in plan and "Generate" in plan
    # the long-form build itself contains an explode; the Generate that
    # matters is the posexplode CONSUMING the probe output — it must
    # print above (before) the ArrowEvalPython feeding it
    assert plan.index("Generate") < plan.index("ArrowEvalPython"), plan


def test_pq_wide_k_training_routes_through_kmeans_chain(
    spark, sf_dir, monkeypatch
):
    """Past FLAT_PROBE_MAX_K the joint flat-GEMM trainer must step
    aside: training routes through the per-subspace kmeans_centroids
    chain so wide-k assignment keeps the module's two-level probe
    semantics. Pinned by shrinking the threshold and checking the
    result equals the reference chain under the same threshold."""
    emb = read_parquet_table(spark, sf_dir, "embeddings")
    monkeypatch.setattr(sim, "FLAT_PROBE_MAX_K", 4)
    got = sim.pq_train_codebooks(emb, "vec_id", "embedding", k=8)
    for mi in range(sim.PQ_M):
        sub = emb.select(
            F.col("vec_id"),
            F.slice(
                "embedding", mi * sim.PQ_SUB_DIM + 1, sim.PQ_SUB_DIM
            ).alias("__sv"),
        )
        ref = sim.kmeans_centroids(
            sub, "vec_id", "__sv", k=8, iters=sim.PQ_ITERS
        ).collect()
        want = sorted(
            (r["cell"], [float(x) for x in r["__sv"]]) for r in ref
        )
        assert sorted(got[mi]) == want, f"subspace {mi} diverged"


def test_per_group_topk_equals_single_stage_window(spark, sf_dir):
    """The two-stage rank (bucketed pre-top-k → exact global rank) must
    return the identical rows AND ranks as the single window it
    replaced, on real data where ties at the 6-dp cosine rounding
    actually occur."""
    from pyspark.sql import Window

    emb = read_parquet_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    got = sim.cosine_topk(emb, queries, "vec_id", "embedding", 5).collect()

    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qv")
    )
    from spotify_tracks_etl_portfolio_spark.functions import (
        vec_dot,
        vec_norm_safe,
    )

    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("__cv"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            F.round(
                vec_dot("__cv", "__qv")
                / (vec_norm_safe("__cv") * vec_norm_safe("__qv")),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    want = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            "query_id", "neighbor_id", "cosine", F.col("rank").cast("long")
        )
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_topk_heavy_sort_is_bucketed_not_one_task_per_query(spark, sf_dir):
    """Scale gate: the window that ranks the corpus-sized candidate
    stream must partition by (query_id, bucket) — a bare
    partitionBy(query_id) funnels the whole corpus×queries fanout into
    one task per query (10 tasks on a 1000-executor cluster), and AQE
    cannot split skewed window partitions. The final exact rank runs
    over the tiny survivor set only."""
    emb = read_parquet_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    df = sim.cosine_topk(emb, queries, "vec_id", "embedding", 5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    specs = [
        seg.split(")", 1)[0]
        for seg in plan.split("windowspecdefinition(")[1:]
    ]
    bucketed = [s for s in specs if "__tb" in s]
    assert bucketed, f"no bucketed window spec found: {specs}"
    # plans print top-down: the topmost (exact global rank) window runs
    # over the survivor set WITHOUT the bucket; the bucketed heavy sort
    # sits below it
    assert "__tb" not in specs[0], specs[0]


def test_per_group_topk_composite_tie_columns_total_comparator(spark):
    """Round-7 advice item: per_group_topk's exactness proof needs the
    (order, ties) comparator total per group. A synthetic frame with
    deliberately DUPLICATE (order, tie1) pairs plus a uniquifying
    second tie column must reproduce the single-window rank exactly —
    the tuple form of ``tie_col`` makes the comparator provably total."""
    from pyspark.sql import Window

    rows = [
        # (group, score, tie1, row_id) — tie1 repeats within a group at
        # equal scores, so (score, tie1) alone is NOT total
        ("g1", 9.0, 1, 100),
        ("g1", 9.0, 1, 101),
        ("g1", 9.0, 1, 102),
        ("g1", 5.0, 2, 103),
        ("g2", 7.0, 1, 200),
        ("g2", 7.0, 1, 201),
        ("g2", 3.0, 3, 202),
    ]
    df = spark.createDataFrame(
        rows, "g string, score double, tie1 int, row_id long"
    ).repartition(8)
    got = sim.per_group_topk(
        df, "g", "score", ("tie1", "row_id"), 2, "rnk"
    ).select("g", "score", "tie1", "row_id", "rnk")
    w = Window.partitionBy("g").orderBy(
        F.desc("score"), F.asc("tie1"), F.asc("row_id")
    )
    want = (
        df.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 2)
        .select("g", "score", "tie1", "row_id", "rnk")
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_pq_adc_literal_overflow_falls_back_to_join_lut(spark, monkeypatch):
    """Round-7 advice item: LUT magnitudes whose m-entry sum could wrap
    BIGINT must bounce the literal LUT to the DECIMAL-sum join scorer
    (exact at any magnitude) instead of silently wrapping. Elements of
    ~4.4e5 give per-subspace |dot| ≈ 4·(4.4e5)² ≈ 7.7e11 — inside
    DECIMAL(18,6) — and m=16 micro-int entries of ~7.7e17 sum past
    2^63 ≈ 9.22e18. Entries that large already fail
    ``_micro_int_exact``'s magnitude guard; the BIGINT-sum check behind
    it is pinned on patched entries bracketing 2^63."""
    m_sub, sub_dim = 16, 4
    n, dim = 40, m_sub * sub_dim
    rows = [
        (
            i,
            [
                4.4e5 * (1.0 if (i + d) % 2 else -1.0)
                + float((i * 7 + d * 3) % 13 - 6)
                for d in range(dim)
            ],
        )
        for i in range(n)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = sim.pq_train_codebooks(
        emb, "vec_id", "embedding", m=m_sub, sub_dim=sub_dim, k=8, iters=1
    )
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qv")
    )
    q_rows = sim._adc_query_batch(qs, books)
    assert q_rows is not None  # the gate passes: the LUT itself bounces
    assert sim._adc_micro_luts(books, q_rows) is None
    # so does a codebook whose cell ids are not 0..k-1
    shifted = [[(c + 1, v) for c, v in book] for book in books]
    assert sim._adc_micro_luts(shifted, q_rows) is None

    def entries(v):
        return lambda b, q: {
            (mi, qi, c): v
            for mi, book in enumerate(b)
            for qi in range(len(q))
            for c, _ in book
        }

    with monkeypatch.context() as mp:
        mp.setattr(sim, "_adc_micro_entries", entries(2**63 // m_sub))
        assert sim._adc_micro_luts(books, q_rows) is None
        mp.setattr(sim, "_adc_micro_entries", entries(2**63 // m_sub - 1))
        assert sim._adc_micro_luts(books, q_rows) is not None
    # end-to-end: pq_topk silently serves through the join scorer, and
    # the result matches the gate-forced join serve exactly
    got = sim.pq_topk(
        emb, "vec_id", "embedding", books=books, n_queries=3, topk=3
    )
    monkeypatch.setattr(sim, "PQ_LITERAL_LUT_MAX", 0)
    want = sim.pq_topk(
        emb, "vec_id", "embedding", books=books, n_queries=3, topk=3
    )
    n_joins = lambda df: (  # noqa: E731
        df._jdf.queryExecution().optimizedPlan().toString().count("Join")
    )
    assert n_joins(got) == n_joins(want)
    assert got.schema == want.schema
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_unprovable_lut_entry_bounces_to_join_scorer(
    spark, sf_dir, tmp_path, monkeypatch
):
    """One LUT entry ``_micro_int_exact`` cannot prove bounces the whole
    batch to the DECIMAL join scorer — for flat PQ and for IVF×PQ alike
    — and each serve returns the literal serve's rows and schema."""
    emb = read_parquet_table(spark, sf_dir, "embeddings")
    root = str(tmp_path / "ivfpq_bounce")
    sim.build_ivfpq_index(emb, "vec_id", "embedding", root, k_cells=8, pq_k=16)
    books = sim.load_pq_codebooks(spark, f"{root}/codebooks")
    queries = emb.filter(F.col("vec_id") < 10)
    serves = {
        "pq": lambda: sim.pq_topk(emb, "vec_id", "embedding", books=books),
        "ivfpq": lambda: sim.ivfpq_query_index(
            spark, root, queries, emb, "vec_id", "embedding", 5, nprobe=2
        ),
    }
    literal = {name: serve() for name, serve in serves.items()}
    # the first LUT entry both serves compute: query 0, subspace 0, cell 0
    q_rows = sim._adc_query_batch(
        queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("__qv"),
        ),
        books,
    )
    sub = q_rows[0][1][: len(books[0][0][1])]
    acc = 0.0
    for a, b in zip(sub, sorted(books[0])[0][1]):
        acc = acc + a * b
    exact = sim._micro_int_exact
    monkeypatch.setattr(
        sim, "_micro_int_exact", lambda x: None if x == acc else exact(x)
    )
    assert sim._adc_micro_luts(books, q_rows) is None
    n_joins = lambda df: (  # noqa: E731
        df._jdf.queryExecution().optimizedPlan().toString().count("Join")
    )
    for name, serve in serves.items():
        bounced = serve()
        # the plan carries the m per-subspace LUT joins
        assert n_joins(bounced) >= n_joins(literal[name]) + len(books), name
        assert bounced.schema == literal[name].schema, name
        assert sorted(map(tuple, bounced.collect())) == sorted(
            map(tuple, literal[name].collect())
        ), name


def test_pq_serve_warm_job_count_pinned(spark, sf_dir):
    """The warm serve (artifacts already built) of the two PQ queries
    runs no more Spark jobs than before the ADC collapse: 11 for
    ``embedding_pq_topk`` and 12 for ``embedding_ivfpq_topk`` in this
    session (local[4], 4 shuffle partitions; the same at sf0.001 and
    sf0.01). A re-added gate probe job fails here."""
    from spotify_tracks_etl_portfolio_spark.plans import all_queries

    sc = spark.sparkContext
    pinned = {"embedding_pq_topk": 11, "embedding_ivfpq_topk": 12}
    got = {}
    for name in pinned:
        for lap in ("cold", "warm"):
            group = f"pq_job_pin:{name}:{lap}"
            sc.setJobGroup(group, group)
            try:
                rows = all_queries()[name].fn(spark, sf_dir).collect()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            assert rows
        # job-start events reach the status store asynchronously
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        got[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert all(got[name] <= pinned[name] for name in pinned), got


def test_micro_int_exact_matches_spark_round_chain(spark):
    """r14: the driver-side micro-int replay must agree with Spark's
    own ``round(x,6)::DECIMAL(18,6)×1e6::BIGINT`` wherever it claims
    provability, and must REFUSE (None → join-scorer bounce) on values
    whose decimal rendering straddles a 6-dp HALF_UP tie (the JDK
    Double.toString ambiguity window the guard exists for)."""
    provable = [
        0.123456789,
        -0.987654321,
        1.0,
        -1.0,
        0.0,
        123.000001499,
        -3.0000004999,
        7.25e-7,
        1e-12,
        42.4242424242,
        -0.1,
        0.1 + 0.2,
        999999.999999123,
        -42.000000749999,
    ]
    # doubles within one ulp of a (k+½)·10⁻⁶ boundary: 6-dp HALF_UP of
    # their shortest rendering vs their exact expansion can differ
    ambiguous = [5e-07, 1.5e-06, 2.5e-06, -5e-07, -1.5e-06, 0.1234565]
    for x in ambiguous:
        assert sim._micro_int_exact(x) is None, x
    assert sim._micro_int_exact(float("inf")) is None
    assert sim._micro_int_exact(float("nan")) is None
    assert sim._micro_int_exact(2e9) is None  # magnitude guard
    got = {x: sim._micro_int_exact(x) for x in provable}
    assert all(v is not None for v in got.values())  # fast path taken
    rows = spark.createDataFrame(
        [(i, x) for i, x in enumerate(provable)], "i int, x double"
    ).select(
        "i",
        (F.round(F.col("x"), 6).cast("decimal(18,6)") * F.lit(1000000))
        .cast("long")
        .alias("micro"),
    ).collect()
    want = {provable[r["i"]]: r["micro"] for r in rows}
    assert got == want


def test_adc_micro_luts_driver_math_matches_spark_job(spark, sf_dir):
    """r14: on the real gate geometry (sf embeddings, trained books,
    the registered 10-query batch) the zero-job driver LUT entries must
    equal Spark's own ``round(vec_dot, 6)::DECIMAL(18,6)×1e6::BIGINT``
    EXACTLY — and the driver path must actually engage (no silent
    permanent bounce to the join scorer)."""
    from spotify_tracks_etl_portfolio_spark.functions import vec_dot

    emb = read_parquet_table(spark, sf_dir, "embeddings")
    books = sim.pq_train_codebooks(emb, "vec_id", "embedding")
    qs = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qv")
    )
    q_rows = sorted(
        (r["query_id"], [float(x) for x in r["__qv"]]) for r in qs.collect()
    )
    sub_dim = len(books[0][0][1])
    drv = sim._adc_micro_entries(books, q_rows)
    assert drv is not None, "gate data must take the zero-job path"
    spk = {
        (r["mi"], r["qi"], r["cell"]): r["micro"]
        for r in spark.createDataFrame(
            [
                (mi, qi, cell, qv[mi * sub_dim : (mi + 1) * sub_dim], cv)
                for mi, book in enumerate(books)
                for qi, (_, qv) in enumerate(q_rows)
                for cell, cv in book
            ],
            "mi int, qi int, cell int, qv array<double>, cv array<double>",
        )
        .select(
            "mi",
            "qi",
            "cell",
            (
                F.round(vec_dot("qv", "cv"), 6).cast("decimal(18,6)")
                * F.lit(1000000)
            )
            .cast("long")
            .alias("micro"),
        )
        .collect()
    }
    assert drv == spk


def test_kmeans_centroids_partitioning_invariant(spark, sf_dir):
    """Round-7 advice item: the Lloyd mean update sums 9-dp fixed-point
    BIGINTs (``_fixed_point_mean``; the DECIMAL(28,9) sum was the
    rejected slower variant), so the trained centroids are
    BIT-IDENTICAL regardless of
    how the corpus is partitioned — a float avg() depends on
    partial-sum order, and every equality pin (joint-vs-per-subspace,
    oracle replay) would silently ride on the test partitioning."""
    emb = read_parquet_table(spark, sf_dir, "embeddings")
    outs = []
    for parts in (1, 7, 32):
        cents = sim.kmeans_centroids(
            emb.repartition(parts), "vec_id", "embedding", k=8, iters=3
        ).collect()
        outs.append(
            sorted((r["cell"], tuple(r["embedding"])) for r in cents)
        )
    assert outs[0] == outs[1] == outs[2]


def test_scan_parallelism_semantics(spark, sf_dir):
    """scan_parallelism must repartition ONLY frames below the default
    parallelism (the unsplittable-small-file rescue) and pass wider
    frames through UNTOUCHED — the no-op contract that makes it safe to
    leave in production plans. And the semantic-dedup checkpoint it
    feeds must actually carry cluster-wide partitions at toy scale, so
    the pair verify can never serialize into the file count again."""
    from spotify_tracks_etl_portfolio_spark.functions import scan_parallelism

    want = spark.sparkContext.defaultParallelism
    emb = read_parquet_table(spark, sf_dir, "embeddings")
    assert emb.rdd.getNumPartitions() < want  # single-row-group testdata
    up = scan_parallelism(emb)
    assert up.rdd.getNumPartitions() == want
    assert sorted(r["vec_id"] for r in up.collect()) == sorted(
        r["vec_id"] for r in emb.collect()
    )
    wide = emb.repartition(want + 8)
    assert scan_parallelism(wide) is wide  # pass-through, no new plan


def test_scan_parallelism_is_metadata_only(spark, sf_dir):
    """Round-8 verdict item 4: the rescue decision is driver-side
    metadata arithmetic, never a per-call plan→RDD probe or a job.
    Contracts: (a) any partitioning-establishing lineage (explicit
    repartition — even a SMALL one — joins, aggregates) passes through
    untouched, because such frames aren't running on the scan's
    partitions and probing them under AQE launches real jobs (round-8
    advice item); (b) in-memory frames fall back to the probe and keep
    the old semantics; (c) a rescued scan's rows are bit-identical."""
    from spotify_tracks_etl_portfolio_spark.functions import (
        _parse_bytes,
        scan_parallelism,
    )

    want = spark.sparkContext.defaultParallelism
    emb = read_parquet_table(spark, sf_dir, "embeddings")
    # (a) frames that OWN their partitioning pass through — including
    # ones narrower than the cluster (the caller's explicit choice)
    two = emb.repartition(2)
    assert scan_parallelism(two) is two
    docs = read_parquet_table(spark, sf_dir, "documents")
    j = emb.join(docs, emb.vec_id == docs.doc_id)
    assert scan_parallelism(j) is j
    agg = emb.groupBy("vec_id").count()
    assert scan_parallelism(agg) is agg
    # (a, round-9 advice) AQE-managed and caller-local layouts pass
    # through: a rebalance hint plans RebalancePartitions (AQE decides
    # the layout — overriding it or probing it are both wrong), and
    # sortWithinPartitions is the caller's explicit per-partition order
    # (a round-robin rescue would silently destroy it)
    reb = emb.hint("rebalance")
    assert scan_parallelism(reb) is reb
    swp = emb.sortWithinPartitions("vec_id")
    assert scan_parallelism(swp) is swp
    # (b) in-memory lineage: probe fallback, old semantics
    mem = spark.createDataFrame([(i,) for i in range(4)], "a int")
    m = scan_parallelism(mem)
    if mem.rdd.getNumPartitions() < want:
        assert m.rdd.getNumPartitions() == want
    else:
        assert m is mem
    # byte-size conf parser accepts every Spark spelling
    assert _parse_bytes("134217728", 0) == 128 * 1024**2
    assert _parse_bytes("134217728b", 0) == 128 * 1024**2
    assert _parse_bytes("128MB", 0) == 128 * 1024**2
    assert _parse_bytes("4m", 0) == 4 * 1024**2
    assert _parse_bytes("garbage", 7) == 7


def test_scan_parallelism_row_group_refinement(spark, tmp_path):
    """A file big enough that byte-range math says 'wide enough' but
    holding ONE row group is effectively one task — the refinement must
    catch it (the old probe counted empty byte-range splits as
    parallelism and missed exactly this). Built by writing one parquet
    file with a huge row-group size and enough rows that its byte size
    clears want·openCost under a lowered openCostInBytes."""
    from spotify_tracks_etl_portfolio_spark.functions import (
        scan_parallelism,
    )

    want = spark.sparkContext.defaultParallelism
    p = str(tmp_path / "one_rg")
    spark.range(200_000).selectExpr(
        "id", "repeat(uuid(), 4) AS pad"
    ).coalesce(1).write.option("parquet.block.size", 1 << 30).parquet(p)
    df = spark.read.parquet(p)
    old = spark.conf.get("spark.sql.files.openCostInBytes", None)
    try:
        # make the byte estimate comfortably exceed `want` splits
        spark.conf.set("spark.sql.files.openCostInBytes", "1024")
        import pyarrow.parquet as pq
        import glob as _glob

        f = _glob.glob(f"{p}/*.parquet")[0]
        meta = pq.ParquetFile(f).metadata
        size = __import__("os").path.getsize(f)
        # the preconditions are part of the test: a silent no-op here
        # would leave the refinement path uncovered (round-8 review)
        assert meta.num_row_groups == 1, (
            f"fixture no longer single-row-group ({meta.num_row_groups}) "
            "— raise parquet.block.size or the row count"
        )
        assert size > want * 1024 * 2, (
            f"fixture too small ({size}B) for the byte estimate to "
            "read 'wide' — raise the row count"
        )
        out = scan_parallelism(df)
        assert out is not df, (
            "single-row-group file must be rescued even when the "
            f"byte estimate is wide (size={size})"
        )
        assert out.rdd.getNumPartitions() == want
    finally:
        if old is None:
            spark.conf.unset("spark.sql.files.openCostInBytes")
        else:
            spark.conf.set("spark.sql.files.openCostInBytes", old)


def test_semantic_dedup_oversized_cell_split(spark, sf_dir):
    """Round-8 scale guard: cells past ``max_cell`` refine with a
    second, per-cell deterministic clustering level and the near-dup
    scope becomes (cell, subcell). Contracts: (a) with no oversized
    cell, results are IDENTICAL to the unguarded run (the guard is a
    no-op at every recorded scale); (b) under forced splitting, every
    input id survives with a verdict, kept sets only GROW (finer scope
    ⇒ fewer pairs ⇒ dropped_split ⊆ dropped_unsplit), soundness holds
    (every dropped id has a lower-id ≥threshold neighbor in its CELL),
    exact twins are still dropped (identical vectors share a subcell
    deterministically), and the result is partition-invariant."""
    import numpy as np

    emb = read_parquet_table(spark, sf_dir, "embeddings")
    n = emb.count()
    # plant exact twins of the first five vectors at higher ids
    twins = emb.filter(F.col("vec_id") < 5).withColumn(
        "vec_id", F.col("vec_id") + 10_000_000
    )
    both = emb.unionByName(twins)

    base = sorted(
        map(
            tuple,
            sim.semantic_dedup(
                both, "vec_id", "embedding", threshold=0.9, k=4, iters=2,
                max_cell=None,
            ).collect(),
        )
    )
    # (a) guard engaged but nothing oversized → bit-identical result
    huge = sorted(
        map(
            tuple,
            sim.semantic_dedup(
                both, "vec_id", "embedding", threshold=0.9, k=4, iters=2,
                max_cell=10 * n,
            ).collect(),
        )
    )
    assert huge == base
    # (b) force splits: k=4 over ~n vectors with max_cell=32
    split = sim.semantic_dedup(
        both, "vec_id", "embedding", threshold=0.9, k=4, iters=2,
        max_cell=32, target_cell=16,
    ).collect()
    assert len(split) == len(base)
    dropped_split = {r["vec_id"] for r in split if not r["is_kept"]}
    dropped_base = {t[0] for t in base if not t[2]}
    assert dropped_split <= dropped_base
    for i in range(5):  # exact twins always collapse
        assert i + 10_000_000 in dropped_split
    # soundness against a local exact check WITHIN each cell
    vecs = {r["vec_id"]: np.array(r["embedding"]) for r in both.collect()}
    cell_of = {r["vec_id"]: r["cell"] for r in split}
    for d in dropped_split:
        vd = vecs[d]
        nd = max(np.sqrt(vd @ vd), 1e-12)
        found = False
        for j, vj in vecs.items():
            if j >= d or cell_of[j] != cell_of[d]:
                continue
            nj = max(np.sqrt(vj @ vj), 1e-12)
            if round(float(vd @ vj) / (nd * nj), 6) >= 0.9:
                found = True
                break
        assert found, f"{d} dropped without an in-cell lower-id near-dup"
    # partition invariance of the split path
    again = sim.semantic_dedup(
        both.repartition(7), "vec_id", "embedding", threshold=0.9, k=4,
        iters=2, max_cell=32, target_cell=16,
    ).collect()
    assert sorted(map(tuple, again)) == sorted(
        (r["vec_id"], r["cell"], r["is_kept"]) for r in split
    )


def test_np_round_half_away_matches_spark_round():
    """The per-cell sub-clustering rounds with HALF_UP (away from
    zero), matching F.round / DuckDB round — np.round's banker's
    rounding would diverge on exact .5 boundaries."""
    import numpy as np

    x = np.array([0.0000005, 0.0000015, -0.0000005, -0.0000015, 1.25e-6])
    got = sim._np_round_half_away(x, 6)
    assert got.tolist() == [1e-6, 2e-6, -1e-6, -2e-6, 1e-6]
    # banker's rounding would give [0.0, 2e-6, 0.0, -2e-6, ...]
    assert np.round(x, 6).tolist() != got.tolist()


def test_semantic_dedup_split_works_with_string_ids(spark):
    """Round-8 review finding: the split path's applyInPandas schema
    must carry the id column's ACTUAL type — semantic_dedup is generic
    over orderable ids, and a hardcoded long would fail (or corrupt)
    string document ids the moment a cell crossed max_cell."""
    rows = [(f"doc{i:03d}", [float(i % 7), 1.0, 0.5, 0.25]) for i in range(60)]
    # plant a twin of the smallest id at a later id
    rows.append(("doc999", rows[0][1]))
    df = spark.createDataFrame(rows, "doc_id string, embedding array<double>")
    out = sim.semantic_dedup(
        df, "doc_id", "embedding", threshold=0.999, k=2, iters=1,
        max_cell=8, target_cell=4,
    ).collect()
    assert {r["doc_id"] for r in out} == {r[0] for r in rows}
    verdict = {r["doc_id"]: r["is_kept"] for r in out}
    assert verdict["doc000"] and not verdict["doc999"]


def test_semantic_dedup_new_vs_corpus_precision_and_twin_recall(
    spark, sf_dir
):
    """Cross-corpus SemDeDup (round-8 operator): precision 1.0 — every
    flagged new vector has a TRUE corpus near-dup at the threshold
    (cell scoping can only lose recall, never flag a non-dup) — and
    recall 1.0 for exact twins, which share a cell deterministically.
    Re-runs flag the identical set (zero-RNG)."""
    import numpy as np

    emb = read_parquet_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 100)
    # new batch: first 5 vectors + exact twins of 3 CORPUS vectors
    twins = corpus.filter(F.col("vec_id") < 103).withColumn(
        "vec_id", F.col("vec_id") - 100 + 50
    )  # ids 50,51,52
    new = emb.filter(F.col("vec_id") < 5).unionByName(twins)
    out = {
        r["vec_id"]: r["is_dup"]
        for r in sim.semantic_dedup_new_vs_corpus(
            new, corpus, "vec_id", "embedding", threshold=0.4
        ).collect()
    }
    assert set(out) == {0, 1, 2, 3, 4, 50, 51, 52}
    for t in (50, 51, 52):  # exact twins always flagged
        assert out[t]
    # precision: every flagged id has a genuine corpus cosine >= 0.4
    cvecs = [np.array(r["embedding"]) for r in corpus.collect()]
    nvecs = {r["vec_id"]: np.array(r["embedding"]) for r in new.collect()}
    for vid, flagged in out.items():
        if not flagged:
            continue
        v = nvecs[vid]
        nv = max(np.sqrt(v @ v), 1e-12)
        best = max(
            round(float(v @ c) / (nv * max(np.sqrt(c @ c), 1e-12)), 6)
            for c in cvecs
        )
        assert best >= 0.4, (vid, best)
    # determinism
    again = {
        r["vec_id"]: r["is_dup"]
        for r in sim.semantic_dedup_new_vs_corpus(
            new, corpus, "vec_id", "embedding", threshold=0.4
        ).collect()
    }
    assert again == out


def test_ivf_filtered_query_equals_prefiltered_corpus(spark, sf_dir, tmp_path):
    """PRE-FILTER semantics pin: querying the persisted index with a
    metadata predicate is BIT-IDENTICAL to running the self-contained
    ivf_topk over the pre-filtered corpus under the SAME centroids —
    the filter changes which vectors compete, never the geometry — and
    every returned neighbor satisfies the predicate."""
    from spotify_tracks_etl_portfolio_spark.sources.readers import (
        read_parquet_table,
    )

    emb = read_parquet_table(spark, sf_dir, "embeddings")
    k = sim.auto_ivf_cells(emb.count())
    nprobe = sim.auto_ivf_nprobe(k)
    root = str(tmp_path / "ivf_idx")
    sim.build_ivf_index(emb, "vec_id", "embedding", root, k=k, iters=3)
    queries = emb.filter(F.col("vec_id") < 5)
    served = sim.ivf_query_index(
        spark, root, queries, "vec_id", "embedding", 5,
        nprobe=nprobe, where=F.col("vec_id") % 3 == 0,
    ).collect()
    assert served and all(r["neighbor_id"] % 3 == 0 for r in served)
    centroids = spark.read.parquet(f"{root}/centroids").withColumnRenamed(
        "cell", "vec_id"
    )
    direct = sim.ivf_topk(
        emb.filter(F.col("vec_id") % 3 == 0), queries, centroids,
        "vec_id", "embedding", 5, nprobe=nprobe,
    ).collect()
    key = lambda r: (r["query_id"], r["rank"])
    assert sorted(map(tuple, served)) == sorted(map(tuple, direct))


def test_ivfpq_append_frozen_encode_and_versioning(spark, sf_dir, tmp_path):
    """append_to_ivfpq_index must (a) leave every base code row
    untouched, (b) add exactly the batch's rows encoded/assigned with
    the FROZEN centroids+codebooks (bit-identical to encoding the
    batch directly against the stored models), and (c) bump the
    artifact version with a manifest per increment."""
    emb = read_parquet_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 10 != 7)
    batch = emb.filter(F.col("vec_id") % 10 == 7)
    n = base.count()
    ivf_k = sim.auto_ivf_cells(n)
    pq_k = sim.auto_pq_k(n)
    root = str(tmp_path / "ivfpq_incr")
    sim.build_ivfpq_index(
        base, "vec_id", "embedding", root, k_cells=ivf_k, pq_k=pq_k
    )
    assert sim.ivfpq_index_version(root) == 0
    before = {
        tuple(r) for r in spark.read.parquet(f"{root}/codes").collect()
    }
    v = sim.append_to_ivfpq_index(batch, root, "vec_id", "embedding")
    assert v == 1 and sim.ivfpq_index_version(root) == 1
    after = {
        tuple(r) for r in spark.read.parquet(f"{root}/codes").collect()
    }
    # (a) base rows are a strict subset, untouched
    assert before <= after
    added = after - before
    batch_ids = {r["vec_id"] for r in batch.select("vec_id").collect()}
    # (b) exactly the batch appended, frozen-model encoded
    cents = spark.read.parquet(f"{root}/centroids")
    cent_rows = [
        (int(r["cell"]), [float(x) for x in r["embedding"]])
        for r in cents.collect()
    ]
    books = sim.load_pq_codebooks(spark, f"{root}/codebooks")
    assign1 = sim.probe_cells_udf(cent_rows, nprobe=1)
    expect = sim.pq_encode(batch, "vec_id", "embedding", books).join(
        batch.select(
            "vec_id",
            F.element_at(assign1(F.col("embedding")), 1).alias("cell"),
        ),
        "vec_id",
    )
    # align column order with the partitioned read (cell goes last)
    cols = spark.read.parquet(f"{root}/codes").columns
    expect_rows = {tuple(r) for r in expect.select(*cols).collect()}
    assert added == expect_rows
    assert {t[0] for t in added} == batch_ids
    # (c) manifest content + a second increment bumps again
    import json

    with open(f"{root}/versions/v1.json") as fh:
        man = json.load(fh)
    assert man["rows"] == len(batch_ids)
    assert man["cells"] == sorted({t[cols.index("cell")] for t in added})
    v2 = sim.append_to_ivfpq_index(
        batch.limit(0), root, "vec_id", "embedding"
    )
    assert v2 == 2 and sim.ivfpq_index_version(root) == 2


def test_ivfpq_optimize_cells_compacts_without_changing_rows(
    spark, sf_dir, tmp_path
):
    """optimize_ivfpq_cells must (a) shrink the per-cell file count the
    append tail accumulated, (b) leave the code ROWS bit-identical —
    so any query against the index answers identically before and
    after, (c) record a type=optimize version manifest, and (d) leave
    cells at/below the file-count floor untouched."""
    import glob
    import json

    emb = read_parquet_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 10 != 7)
    rest = emb.filter(F.col("vec_id") % 10 == 7)
    n = base.count()
    root = str(tmp_path / "ivfpq_opt")
    sim.build_ivfpq_index(
        base, "vec_id", "embedding", root,
        k_cells=sim.auto_ivf_cells(n), pq_k=sim.auto_pq_k(n),
    )
    # three appends -> every touched cell gains >= 3 extra files
    sim.append_to_ivfpq_index(
        rest.filter(F.col("vec_id") % 3 == 0), root, "vec_id", "embedding"
    )
    sim.append_to_ivfpq_index(
        rest.filter(F.col("vec_id") % 3 == 1), root, "vec_id", "embedding"
    )
    sim.append_to_ivfpq_index(
        rest.filter(F.col("vec_id") % 3 == 2), root, "vec_id", "embedding"
    )
    assert sim.ivfpq_index_version(root) == 3

    def files_per_cell() -> dict[str, int]:
        return {
            d: len(glob.glob(f"{d}/*.parquet"))
            for d in glob.glob(f"{root}/codes/cell=*")
        }

    before_files = files_per_cell()
    assert any(v > 2 for v in before_files.values()), before_files
    before_rows = sorted(
        map(tuple, spark.read.parquet(f"{root}/codes").collect())
    )

    summary = sim.optimize_ivfpq_cells(spark, root)
    # (a) compacted cells got fewer files; total file count dropped
    assert summary["cells"], summary
    assert summary["files_after"] < summary["files_before"]
    after_files = files_per_cell()
    assert sum(after_files.values()) < sum(before_files.values())
    for d, n_before in before_files.items():
        cell = int(d.rsplit("=", 1)[1])
        if cell in summary["cells"]:
            assert after_files[d] < n_before
        else:
            # (d) cold cells untouched
            assert after_files[d] == n_before
    # (b) rows bit-identical
    after_rows = sorted(
        map(tuple, spark.read.parquet(f"{root}/codes").collect())
    )
    assert after_rows == before_rows
    # (c) versioned like an append, same ledger
    assert summary["version"] == 4
    assert sim.ivfpq_index_version(root) == 4
    with open(f"{root}/versions/v4.json") as fh:
        man = json.load(fh)
    assert man["type"] == "optimize"
    assert man["cells"] == summary["cells"]
    # idempotent: a second pass finds nothing above the floor with the
    # default target (cells are now 1-2 files) and records no version
    again = sim.optimize_ivfpq_cells(spark, root)
    assert not again["cells"] or again["files_after"] <= again["files_before"]


def test_ivfpq_recall_holds_under_appends(spark, sf_dir, tmp_path):
    """Quantify ANN recall drift as the appended fraction grows
    (round-12 verdict item 8): frozen centroids/codebooks mean appended
    vectors are quantized against models they never trained, so recall
    can only degrade with append volume. Grow the index from a 60%
    base through three appends (~23%/~45%/~67% of base) and assert
    recall@5 vs the exact brute force over the CURRENT corpus stays
    above the same 0.6 floor the build-time tests gate — the measured
    basis for the documented rebuild threshold on
    ``append_to_ivfpq_index`` (rebuild before appends exceed ~50% of
    base)."""
    from pyspark.sql import Window

    from spotify_tracks_etl_portfolio_spark.functions import vec_dot

    emb = read_parquet_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") < 300)
    batches = [
        emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        for lo, hi in ((300, 370), (370, 435), (435, 500))
    ]
    n = base.count()
    ivf_k = sim.auto_ivf_cells(n)
    nprobe = sim.auto_ivf_nprobe(ivf_k)
    pq_k = sim.auto_pq_k(n)
    root = str(tmp_path / "ivfpq_drift")
    sim.build_ivfpq_index(
        base, "vec_id", "embedding", root, k_cells=ivf_k, pq_k=pq_k
    )
    queries = emb.filter(F.col("vec_id") < 5)
    qs = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )

    def recall_at_5(corpus):
        c = corpus.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("cv"),
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("ip"), F.asc("neighbor_id")
        )
        exact = (
            c.crossJoin(F.broadcast(qs))
            .filter("neighbor_id != query_id")
            .withColumn("ip", F.round(vec_dot("cv", "qv"), 6))
            .withColumn("rk", F.row_number().over(w))
            .filter("rk<=5")
        )
        approx = sim.ivfpq_query_index(
            spark, root, queries, corpus, "vec_id", "embedding", 5,
            nprobe=nprobe,
        )
        e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
        a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
        return len(e & a) / len(e)

    corpus = base
    recalls = [recall_at_5(corpus)]
    for batch in batches:
        sim.append_to_ivfpq_index(batch, root, "vec_id", "embedding")
        corpus = corpus.unionByName(batch)
        recalls.append(recall_at_5(corpus))
    # floor at EVERY append stage, not just the end — a collapse right
    # after the first append would otherwise hide behind a recovery
    assert all(r >= 0.6 for r in recalls), recalls
    # drift bound: appends may cost recall but never a cliff — the
    # fully-grown index (67% appended) stays within 0.3 of the
    # fresh-build recall
    assert recalls[-1] >= recalls[0] - 0.3, recalls
