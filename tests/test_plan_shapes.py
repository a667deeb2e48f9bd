"""Plan-shape regression tests: every scale claim a query's description
makes is asserted against the actual physical plan, so a refactor that
silently loses a pushdown, a broadcast, or a top-k/rank-limit
optimization fails CI — not a 100 TB production run.

Plans are built at sf0.001 (plan shape is data-size independent here;
AQE runtime re-planning is exercised separately in
test_scale_posture.py).
"""

from __future__ import annotations

import pytest

from spotify_tracks_etl_portfolio_spark.plans import all_queries


def plan_of_df(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def plan_of(spark, name: str, sf_dir: str) -> str:
    return plan_of_df(all_queries()[name].fn(spark, sf_dir))


def test_q6_pushes_every_predicate_to_scan(spark, sf_dir):
    plan = plan_of(spark, "q6_forecast_revenue", sf_dir)
    assert plan.count("FileScan parquet") == 1
    # all three predicate families reach the parquet reader
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "l_shipdate" in pushed
    assert "l_discount" in pushed
    assert "l_quantity" in pushed
    # no join anywhere — filter + two-phase agg only
    assert "Join" not in plan


def test_topk_uses_take_ordered_not_global_sort(spark, sf_dir):
    plan = plan_of(spark, "top10_customers_by_revenue", sf_dir)
    assert "TakeOrderedAndProject" in plan
    # top-k must never be planned as a global range-partitioned sort
    assert "rangepartitioning" not in plan
    assert "BroadcastHashJoin" in plan


def test_per_group_topn_has_no_global_sort(spark, sf_dir):
    plan = plan_of(spark, "top3_customers_per_nation", sf_dir)
    # rank runs within hash partitions of the group key; a global sort
    # (range partitioning) would serialize the whole table
    assert "rangepartitioning" not in plan
    assert plan.count("BroadcastHashJoin") == 2
    # rank-limit pushdown prunes each group to its top rows before the
    # final window evaluation (Spark 3.5+ WindowGroupLimit)
    assert "WindowGroupLimit" in plan


def test_window_dedup_gets_rank_limit_pushdown(spark, sf_dir):
    plan = plan_of(spark, "dedup_window_events", sf_dir)
    # rn=1 dedup must engage WindowGroupLimit (partial before the
    # shuffle, final after) so each map task forwards one row per key
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan


def test_funnel_and_asof_never_plan_nested_loops(spark, sf_dir):
    for name in ("click_purchase_funnel", "asof_click_purchase"):
        plan = plan_of(spark, name, sf_dir)
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_global_windows_run_on_aggregated_input(spark, sf_dir):
    """cumulative/moving-average queries: the unpartitioned ordered
    window must sit above a hash aggregation (daily rollup), so the
    single-partition stage sees one row per day, not the fact table."""
    for name in ("cumulative_daily_revenue", "weekly_moving_avg_events"):
        plan = plan_of(spark, name, sf_dir)
        assert plan.count("FileScan parquet") == 1, name
        # partial+final agg pair below the window
        assert plan.count("HashAggregate") >= 2, name
        window_pos = plan.index("Window")
        agg_pos = plan.rindex("HashAggregate")
        assert window_pos < agg_pos, (
            f"{name}: window must consume the aggregate's output "
            "(appear above it in the plan tree)"
        )


def test_broadcast_hints_survive_in_snowflake_join(spark, sf_dir):
    plan = plan_of(spark, "regional_revenue", sf_dir)
    # at small SF every dimension (customer via SIZE-BASED planning,
    # nation/region via hard hints) broadcasts; the fact side joins
    # orders via shuffle — at most one non-broadcast join
    assert plan.count("BroadcastHashJoin") >= 3
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1


def test_sf_scaled_tables_have_no_hard_broadcast_hint(spark, sf_dir):
    """100 TB simulation (round-3 verdict item): with the
    auto-broadcast size gate closed (threshold=-1, i.e. 'every table is
    too big'), the only joins still planned as broadcast must come from
    hard hints — and hard hints are only allowed on fixed-cardinality
    dims (nation=25, region=5 rows at ANY scale) or provably-tiny
    derived aggregates. A leftover F.broadcast() on customer / part /
    supplier (~1.7B / 20B / 1B rows at 100 TB) is a driver OOM."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # top10: all three tables SF-scaled → zero broadcasts survive
        plan = plan_of(spark, "top10_customers_by_revenue", sf_dir)
        assert "BroadcastHashJoin" not in plan
        # snowflake: only the hinted nation+region broadcasts survive
        plan = plan_of(spark, "regional_revenue", sf_dir)
        assert plan.count("BroadcastHashJoin") == 2
        # Q5-asia variant: nation+region hints only
        plan = plan_of(spark, "q5_local_supplier_volume", sf_dir)
        assert plan.count("BroadcastHashJoin") == 2
        # part/supplier joins: no hint survives the closed gate
        for name in ("q14_promo_revenue_share", "q16_supplier_part_variety"):
            plan = plan_of(spark, name, sf_dir)
            assert "BroadcastHashJoin" not in plan, name
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


@pytest.mark.parametrize(
    "name",
    [
        "q1_pricing_summary",
        "hourly_event_rollup",
        "daily_active_users",
        "top50_tokens",
    ],
)
def test_single_pass_aggregations_scan_once(spark, sf_dir, name):
    plan = plan_of(spark, name, sf_dir)
    assert plan.count("FileScan parquet") == 1, name


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """Day-partitioned bronze (the engine's replacement for the
    reference's B-tree indexes): a day-filtered read must hit only that
    day's directory — PartitionFilters in the scan, pruned row count."""
    from spotify_tracks_etl_portfolio_spark.sources.readers import (
        read_parquet_table,
    )
    from spotify_tracks_etl_portfolio_spark.sources.writers import (
        LoadMode,
        write_table,
    )

    from pyspark.sql import functions as F

    ev = read_parquet_table(spark, sf_dir, "events").withColumn(
        "event_day", F.date_format("ts", "yyyy-MM-dd")
    )
    path = str(tmp_path / "events_by_day")
    write_table(ev, path, LoadMode.FULL, partition_by=["event_day"])

    back = spark.read.parquet(path)
    one_day = ev.select("event_day").first()["event_day"]
    q = back.filter(back.event_day == one_day)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "event_day" in pf
    # pruned read returns exactly the day's rows
    assert q.count() == ev.filter(ev.event_day == one_day).count()


def test_dynamic_partition_overwrite_replaces_only_touched_day(spark, tmp_path):
    """Incremental batch reload at scale: overwriting ONE day's
    partition must not truncate the others (partitionOverwriteMode=
    dynamic — the reference's TRUNCATE-vs-append dichotomy gets a third,
    per-partition mode Spark-side)."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "dyn")
    df = spark.createDataFrame(
        [(1, "2024-01-01"), (2, "2024-01-01"), (3, "2024-01-02")],
        "id long, day string",
    )
    df.write.mode("overwrite").partitionBy("day").parquet(path)

    old = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        fix = spark.createDataFrame([(30, "2024-01-02")], "id long, day string")
        fix.write.mode("overwrite").partitionBy("day").parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)

    back = spark.read.parquet(path)
    assert {r["id"] for r in back.filter(F.col("day") == "2024-01-01").collect()} == {1, 2}
    assert {r["id"] for r in back.filter(F.col("day") == "2024-01-02").collect()} == {30}


def test_lsh_pipelines_reuse_the_hashing_exchange(spark, sf_dir):
    """The shingle-hash arrays feed the signature agg AND both verify-
    join sides; the final adaptive plan must compute that exchange once
    and reuse it (ReusedExchange) — re-hashing every document 3× would
    triple the dominant cost at 100 TB."""
    df = all_queries()["minhash_lsh_near_dups"].fn(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert plan.count("ReusedExchange") >= 2


def test_simhash_near_dups_is_blocked_not_all_pairs(spark, sf_dir):
    """Pigeonhole chunk-blocking replaced the quadratic crossJoin: the
    executed plan must contain ONLY equi-joins — a CartesianProduct or
    BroadcastNestedLoopJoin here is the |docs|² scale-killer."""
    df = all_queries()["simhash_near_dups"].fn(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_wide_twin_same_plan_shape_more_buckets(spark, sf_dir):
    """The registered scale twin (bits=59) must keep the toy twin's
    blocked plan shape — only equi-joins, no pair-space scan — while
    widening the per-chunk bucket space from 2^8 to ~2^15 (the knob
    that keeps candidates near-linear at 10x data, BENCH_NOTES r5/r7).
    Results agree with the toy twin's guarantee: pairs == all-pairs
    brute force at the same width (pigeonhole recall 1.0)."""
    from spotify_tracks_etl_portfolio_spark.operators import dedup as dd
    from spotify_tracks_etl_portfolio_spark.sources.readers import (
        read_parquet_table,
    )

    df = all_queries()["simhash_near_dups_wide"].fn(spark, sf_dir)
    got = {(r.id_a, r.id_b, r.hamming) for r in df.collect()}
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    docs = read_parquet_table(spark, sf_dir, "documents")
    brute = {
        (r.id_a, r.id_b, r.hamming)
        for r in dd.simhash_all_pairs(
            docs, "doc_id", "text", 3, bits=dd.SIMHASH_MAX_BITS
        ).collect()
    }
    assert got == brute


def test_hyperplane_wide_twin_blocked_and_exact_verified(spark, sf_dir):
    """The registered scale twin (rows=16) keeps the LSH shape (band
    equi-join, no pair-space scan) and precision 1.0: every returned
    pair is in the exact brute-force cosine filter's result set with
    the identical cosine. (Exact-twin recall at rows=16 is pinned by
    test_hyperplane_lsh_wide_bands_keep_twin_recall_and_precision.)"""
    from spotify_tracks_etl_portfolio_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )
    from spotify_tracks_etl_portfolio_spark.plans import extensions as ext
    from spotify_tracks_etl_portfolio_spark.sources.readers import (
        read_parquet_table,
    )

    df = all_queries()["embedding_lsh_near_dups_wide"].fn(spark, sf_dir)
    got = {(r.id_a, r.id_b): r.cosine for r in df.collect()}
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    emb = read_parquet_table(spark, sf_dir, "embeddings")
    exact = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_near_dup_pairs(
            emb, "vec_id", "embedding", ext.EMB_NEAR_DUP_THRESHOLD
        ).collect()
    }
    assert set(got) <= set(exact)  # precision 1.0
    assert all(exact[p] == c for p, c in got.items())


def test_jaccard_fanout_guard_is_engaged(spark, sf_dir):
    """ngram_jaccard_pairs must run with the document-frequency cap: the
    hot-shingle drop shows up as a left-semi join against the rare-
    shingle set BEFORE the quadratic self-join."""
    plan = plan_of(spark, "ngram_jaccard_pairs", sf_dir)
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_no_registered_query_all_pairs_embedding_crossjoin(spark, sf_dir):
    """The registered embedding near-dup path is hyperplane LSH; a full
    corpus×corpus nested-loop join must never appear (the brute-force
    baseline lives only in tests). cosine_topk's broadcast of the tiny
    query set is the one sanctioned nested-loop shape."""
    df = all_queries()["embedding_lsh_near_dups"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


#: The ONLY registered queries allowed to plan a nested-loop join, each
#: because one side is deliberately tiny and broadcast — never a
#: corpus×corpus pair space.
SANCTIONED_NESTED_LOOP = {
    "embedding_cosine_topk": "query set (10 rows) broadcast against the corpus",
    "embedding_ivf_topk": "probe set broadcast against pruned cells",
    "significant_parts_by_revenue": "1-row global-total broadcast",
    "tfidf_top_terms": "1-row corpus-count broadcast",
    "bm25_search_documents": "1-row (N, avgdl) corpus-stats broadcast",
    "bm25_index_search": "the same 1-row (N, avgdl) corpus-stats broadcast, read from the index",
    "bm25_index_search_incremental": "the same 1-row frozen (N, avgdl) stats broadcast, read from the appended index",
    "gdpr_delete_documents": "1-row surviving-count broadcast onto the tombstone audit",
    "unigram_logprob_documents": "1-row token-total broadcast",
    "bigram_logprob_documents": "1-row vocab-size broadcast",
    "q22_rich_customers_without_orders": "1-row global-average broadcast",
    "user_recency_weighted_activity": "1-row max-timestamp broadcast",
    "q15_top_supplier": "1-row max-revenue broadcast",
    "trade_graph_pagerank": "1-row node-count broadcast onto the rank vector",
    "hybrid_rrf_search": "1-row query-vector broadcast onto the corpus scan",
    "benford_totalprice_audit": "1-row grand-total broadcast onto the 9-row digit table",
    "token_pmi_collocations": "1-row corpus-totals broadcast onto the vocabulary-scaled pair table",
    "corpus_drift_psi": "1-row snapshot-totals broadcast onto the ~10-row bin table",
    # round 10
    "events_overview_approx": "five 1-row sketch-cell aggregates "
    "(HLL estimates, histogram quantiles, count) cross-composed into "
    "the single output row",
    # round 11
    "temperature_sampled_language_mix": "1-row corpus-totals broadcast "
    "onto the per-language table (plans/extensions.py) — the standard "
    "scalar-denominator shape sanctioned a dozen times above",
    "curate_training_corpus_v3": "1-row corpus-totals broadcast onto "
    "the per-language table — the temperature_sampled_language_mix "
    "shape inside the composed pipeline",
    "ivfpq_cell_drift": "1-row (total_base, total_new) broadcast onto "
    "the #cells-sized occupancy table",
    "ccnet_perplexity_buckets": "the same 1-row vocab-size broadcast "
    "already sanctioned for bigram_logprob_documents — the composed "
    "scorer inherits it",
}


@pytest.fixture(scope="module")
def registry_plans(spark, sf_dir) -> dict[str, str]:
    """``{name: executed plan}`` of every registered query, planned once
    for the registry-wide invariants below."""
    return {name: plan_of(spark, name, sf_dir) for name in sorted(all_queries())}


def test_no_registered_query_plans_unsanctioned_nested_loop(registry_plans):
    """Global scale invariant: a CartesianProduct or
    BroadcastNestedLoopJoin in ANY registered query is a |n|² pair-space
    scan at 100 TB unless the build side is provably tiny — every
    occurrence must be on the sanctioned list with its justification."""
    offenders = {}
    for name, plan in registry_plans.items():
        if "CartesianProduct" in plan:
            offenders[name] = "CartesianProduct"
        elif "BroadcastNestedLoopJoin" in plan and name not in SANCTIONED_NESTED_LOOP:
            offenders[name] = "BroadcastNestedLoopJoin"
    assert not offenders, offenders


#: Node prefixes that sanction a single-partition exchange: the exchange
#: input is aggregated / rank-limited / literal-small, so the one-task
#: stage sees a bounded row count at ANY data scale.
_SINGLE_PARTITION_OK_BELOW = (
    "HashAggregate",
    "SortAggregate",
    "ObjectHashAggregate",
    "TakeOrderedAndProject",
    "WindowGroupLimit",
    "LocalTableScan",
    "ReusedExchange",
)


def _plan_nodes(plan: str) -> list[tuple[int, str]]:
    """(indent_depth, node_text) per line of a physical-plan string; a
    node's subtree is the following lines with strictly greater depth."""
    import re

    nodes = []
    for line in plan.splitlines():
        m = re.match(r"^([ :]*)(?:[+:]- )?(.*)$", line)
        nodes.append((len(m.group(1)), m.group(2)))
    return nodes


def test_no_registered_query_single_partitions_raw_input(registry_plans):
    """Global scale invariant (round-3 verdict item): an ``Exchange
    SinglePartition`` whose subtree has no aggregation / rank-limit /
    literal input moves the ENTIRE input to one task — the
    unpartitioned-window OOM at 100 TB.  Every single-partition exchange
    in every registered query must sit above bounded input."""
    offenders = {}
    for name, plan in registry_plans.items():
        if name.startswith("streaming_"):
            continue  # streams drain in their own gates; plans differ
        nodes = _plan_nodes(plan)
        for i, (d, txt) in enumerate(nodes):
            if "Exchange SinglePartition" not in txt:
                continue
            sub = []
            for d2, t2 in nodes[i + 1 :]:
                if d2 <= d:
                    break
                sub.append(t2)
            if not any(
                t2.startswith(ok)
                for t2 in sub
                for ok in _SINGLE_PARTITION_OK_BELOW
            ):
                offenders[name] = [s.split("[")[0].strip() for s in sub][:6]
    assert not offenders, (
        f"single-partition exchange over raw (unaggregated) input: {offenders}"
    )


def test_ivf_index_scan_prunes_to_probed_cell_partitions(
    spark, sf_dir, tmp_path
):
    """The persisted-IVF query must read ONLY the probed cells'
    directories of the cell-partitioned index. A single query vector
    probes nprobe=2 of the 8 cells, so the files the scan actually
    touches (input_file_name) must come from at most 2 cell partitions
    — file-level partition pruning, not row skipping. (The registered
    embedding_ivf_index_topk uses 10 queries whose probes cover all
    cells at this SF — correct, but pruning only shows with a narrow
    query set.)"""
    from pyspark.sql import functions as F

    from spotify_tracks_etl_portfolio_spark.operators import similarity as sim
    from spotify_tracks_etl_portfolio_spark.sources.readers import (
        read_parquet_table,
    )

    emb = read_parquet_table(spark, sf_dir, "embeddings")
    root = str(tmp_path / "idx")
    sim.build_ivf_index(emb, "vec_id", "embedding", root, k=8, iters=3)
    one_query = emb.filter(F.col("vec_id") == 0)
    df = sim.ivf_query_index(
        spark, root, one_query, "vec_id", "embedding", 5, nprobe=2
    )
    plan = plan_of_df(df)
    import re

    m = re.search(r"PartitionFilters: \[cell#\d+ IN \(([\d,]+)\)", plan)
    assert m, "index scan lost its partition filter:\n" + plan[:1500]
    probed = m.group(1).split(",")
    assert 0 < len(probed) <= 2, probed
    # and the result matches the self-contained path for that query
    cents = spark.read.parquet(f"{root}/centroids").withColumnRenamed(
        "cell", "vec_id"
    )
    want = sorted(
        map(
            tuple,
            sim.ivf_topk(
                emb, one_query, cents, "vec_id", "embedding", 5, nprobe=2
            ).collect(),
        )
    )
    got = sorted(map(tuple, df.collect()))
    assert got == want


def test_unigram_estep_single_aggregation_no_join(spark, sf_dir):
    """The unigram trainer's scale claim: each hard-EM E-step over the
    (checkpointed) word table is a zero-shuffle Viterbi HOF projection
    followed by ONE piece-count hash aggregation — no join anywhere
    (the model is a literal map, not a joined table), exactly one
    exchange, no window, no sort."""
    from spotify_tracks_etl_portfolio_spark.operators import text as tx
    from spotify_tracks_etl_portfolio_spark.operators.text import tokens
    from spotify_tracks_etl_portfolio_spark.sources.readers import (
        read_parquet_table,
    )
    from pyspark.sql import functions as F

    docs = read_parquet_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(tokens("text")).alias("w"))
        .filter((F.col("w") != "") & (F.length("w") <= tx.UNIGRAM_WORD_CAP))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .localCheckpoint(eager=True)
    )
    lp = tx._unigram_lp_table({"a": 3, "an": 2, "b": 1, "n": 2, "d": 1})
    counts = (
        words.select(
            F.explode(tx._unigram_viterbi_pieces(lp)).alias("piece"),
            "freq",
        )
        .groupBy("piece")
        .agg(F.sum("freq").alias("cnt"))
    )
    plan = plan_of_df(counts)
    assert "Join" not in plan
    assert plan.count("Exchange") == 1, plan
    assert "Window" not in plan
    assert "Sort" not in plan


def test_quality_classifier_zero_shuffle_projection(spark, sf_dir):
    """The linear quality classifier's scale claim: one scan, pure
    projection — no exchange, no join, no aggregation node (the margin
    fold is an expression, not a physical aggregate). Invoked directly
    on the operator."""
    from spotify_tracks_etl_portfolio_spark.operators import text as tx
    from spotify_tracks_etl_portfolio_spark.sources.readers import (
        read_parquet_table,
    )

    docs = read_parquet_table(spark, sf_dir, "documents")
    plan = plan_of_df(tx.linear_quality_scores(docs, "doc_id", "text"))
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "HashAggregate" not in plan
    assert plan.count("FileScan parquet") == 1


def test_c4_line_gate_zero_shuffle_projection(spark, sf_dir):
    """The C4 gate's scale claim: page synthesis + line filter + page
    verdicts compose into ONE scan and pure projections — no exchange,
    no join, no aggregate. Invoked directly on the operator."""
    from spotify_tracks_etl_portfolio_spark.operators import text as tx
    from spotify_tracks_etl_portfolio_spark.sources.readers import (
        read_parquet_table,
    )

    docs = read_parquet_table(spark, sf_dir, "documents")
    pages = tx.synthesize_pages(docs, "doc_id", "text")
    plan = plan_of_df(tx.c4_line_stats(pages, "doc_id", "page"))
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "HashAggregate" not in plan
    assert plan.count("FileScan parquet") == 1


def test_bpe_merge_artifact_served_equals_trained(spark, sf_dir):
    """The persisted BPE merge-table artifact serves segmentation
    identically to per-call training (zero-RNG trainer ⇒ the artifact
    changes cost, never the answer), and a second serve reuses the
    artifact without rebuilding."""
    import os as _os

    from spotify_tracks_etl_portfolio_spark.plans import extensions as ext
    from spotify_tracks_etl_portfolio_spark.plans.extensions import (
        _artifact_root,
    )

    served = ext.bpe_segment_documents_served(spark, sf_dir).collect()
    trained = ext.bpe_segment_documents(spark, sf_dir).collect()
    assert sorted(map(tuple, served)) == sorted(map(tuple, trained))
    root = _artifact_root(
        spark, "bpe_merges", f"{_os.path.realpath(sf_dir)}|m=10"
    )
    mpath = _os.path.join(root, "merges")
    assert _os.path.isdir(mpath)
    mtime = _os.path.getmtime(mpath)
    again = ext.bpe_segment_documents_served(spark, sf_dir).collect()
    assert _os.path.getmtime(mpath) == mtime, "merge artifact rebuilt"
    assert sorted(map(tuple, again)) == sorted(map(tuple, served))


def test_exact_substring_default_plan_has_no_kgram_keyed_window(
    spark, sf_dir
):
    """Round-10 verdict item 4: the registered ExactSubstr queries run
    the groupBy+join formulation — the executed plan must contain NO
    window partitioned on the k-gram content column (the old
    formulation's single-partition hot-key hazard: a corpus-wide
    boilerplate k-gram concentrates its whole occurrence list in one
    window partition; the partial-agg groupBy combines it map-side
    instead). The per-doc island-merge window remains, keyed on doc_id
    — assert on the partition KEY, not on Window nodes existing."""
    import re

    for qname in ("exact_substring_dup_spans", "exact_substring_dedup_documents"):
        plan = plan_of(spark, qname, sf_dir)
        wins = re.findall(r"windowspecdefinition\((\w+)#", plan)
        assert wins, f"{qname}: island merge window missing?"
        assert all(w == "doc_id" for w in wins), (qname, wins)
        # and the k-gram aggregation runs with a PARTIAL (map-side)
        # phase — the hot-key combine that replaces the window; the
        # struct-min forces SortAggregate, which still combines
        # map-side
        assert re.search(
            r"(Hash|Sort)Aggregate\(keys?=\[kg\S*\], "
            r"functions=\[partial_", plan
        ), qname


def test_ivfpq_index_scan_prunes_to_probed_cell_partitions(
    spark, sf_dir, tmp_path
):
    """The composed IVF×PQ query must read ONLY the probed cells'
    directories of the cell-partitioned CODES table (the same
    file-level pruning contract as the plain IVF index — the codes
    scan is the point of the composition: candidate rows cut by cell,
    bytes per row cut to m codes). A single query probing nprobe=2 of
    8 cells keeps a literal IN partition filter of ≤ 2 cells, and the
    result is a well-formed per-query top-5 that reproduces exactly on
    a second serve from the same artifact."""
    from pyspark.sql import functions as F

    from spotify_tracks_etl_portfolio_spark.operators import similarity as sim
    from spotify_tracks_etl_portfolio_spark.sources.readers import (
        read_parquet_table,
    )

    emb = read_parquet_table(spark, sf_dir, "embeddings")
    root = str(tmp_path / "ivfpq")
    sim.build_ivfpq_index(
        emb, "vec_id", "embedding", root, k_cells=8, pq_k=16
    )
    one_query = emb.filter(F.col("vec_id") == 0)
    df = sim.ivfpq_query_index(
        spark, root, one_query, emb, "vec_id", "embedding", 5, nprobe=2
    )
    plan = plan_of_df(df)
    import re

    m = re.search(r"PartitionFilters: \[cell#\d+ IN \(([\d,]+)\)", plan)
    assert m, "codes scan lost its partition filter:\n" + plan[:1500]
    probed = m.group(1).split(",")
    assert 0 < len(probed) <= 2, probed
    rows = df.collect()
    assert len(rows) == 5
    assert sorted(r["rank"] for r in rows) == [1, 2, 3, 4, 5]
    assert all(r["query_id"] == 0 and r["neighbor_id"] != 0 for r in rows)
    again = sim.ivfpq_query_index(
        spark, root, one_query, emb, "vec_id", "embedding", 5, nprobe=2
    ).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, rows))


def test_ivf_index_wide_probe_skips_literal_filter(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Round-9 guard for the raised IVF_MAX_CELLS: when the query set
    probes more distinct cells than IVF_PRUNE_LITERAL_MAX, the serving
    path must skip the literal IN (whose analysis/codegen cost is per
    literal and can now reach 65536 entries) and let the cell equi-join
    drop unprobed cells — with the IDENTICAL result. Forced here by
    zeroing the cap; the plan must carry no partition filter on cell."""
    from pyspark.sql import functions as F

    from spotify_tracks_etl_portfolio_spark.operators import similarity as sim
    from spotify_tracks_etl_portfolio_spark.sources.readers import (
        read_parquet_table,
    )

    emb = read_parquet_table(spark, sf_dir, "embeddings")
    root = str(tmp_path / "idx_wide")
    sim.build_ivf_index(emb, "vec_id", "embedding", root, k=8, iters=3)
    queries = emb.filter(F.col("vec_id") < 5)
    pruned = sorted(
        map(
            tuple,
            sim.ivf_query_index(
                spark, root, queries, "vec_id", "embedding", 5, nprobe=2
            ).collect(),
        )
    )
    monkeypatch.setattr(sim, "IVF_PRUNE_LITERAL_MAX", 0)
    df = sim.ivf_query_index(
        spark, root, queries, "vec_id", "embedding", 5, nprobe=2
    )
    plan = plan_of_df(df)
    import re

    assert not re.search(r"PartitionFilters: \[cell#\d+ IN", plan)
    assert sorted(map(tuple, df.collect())) == pruned


def test_ivfpq_index_wide_probe_skips_literal_filter(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The composed IVF×PQ serve inherits the raised-clamp guard: past
    IVF_PRUNE_LITERAL_MAX probed cells it must skip the literal IN on
    the codes scan and let the cell equi-join prune — identical
    answer. Forced by zeroing the cap (same recipe as the plain-IVF
    twin)."""
    from pyspark.sql import functions as F

    from spotify_tracks_etl_portfolio_spark.operators import similarity as sim
    from spotify_tracks_etl_portfolio_spark.sources.readers import (
        read_parquet_table,
    )

    emb = read_parquet_table(spark, sf_dir, "embeddings")
    root = str(tmp_path / "ivfpq_wide")
    sim.build_ivfpq_index(emb, "vec_id", "embedding", root, k_cells=8, pq_k=16)
    queries = emb.filter(F.col("vec_id") < 5)
    pruned = sorted(
        map(
            tuple,
            sim.ivfpq_query_index(
                spark, root, queries, emb, "vec_id", "embedding", 5, nprobe=2
            ).collect(),
        )
    )
    monkeypatch.setattr(sim, "IVF_PRUNE_LITERAL_MAX", 0)
    df = sim.ivfpq_query_index(
        spark, root, queries, emb, "vec_id", "embedding", 5, nprobe=2
    )
    plan = plan_of_df(df)
    import re

    assert not re.search(r"PartitionFilters: \[cell#\d+ IN", plan)
    assert sorted(map(tuple, df.collect())) == pruned


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    """Persisted bucketing must eliminate the join-time exchange on
    BOTH fact sides even when neither can broadcast (threshold=-1
    simulates two 100 TB fact tables): the only exchange left in the
    whole plan is the final small groupBy on order status."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(spark, "bucketed_orders_lineitem_revenue", sf_dir)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan
    assert plan.count("Bucketed: true") == 2
    assert plan.count("Exchange") == 1  # the post-join status groupBy only
    join_pos = plan.index("SortMergeJoin")
    assert "Exchange" not in plan[join_pos:], (
        "exchange below the bucketed join — co-location lost"
    )


def test_incremental_substring_corpus_side_never_shuffles(spark, sf_dir):
    """The incremental-ExactSubstr serve path must read the persisted
    corpus k-gram artifact bucket-aligned: with broadcast off (at
    100 TB neither side fits an executor), the semi-join plans as
    SortMergeJoin LeftSemi whose ONLY exchange is the new-batch side
    shuffling into the bucket layout — the corpus side scans
    ``Bucketed: true`` straight into the join, so the corpus-sized kg
    shuffle is paid once at artifact build, never per serve."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(spark, "exact_substring_new_vs_corpus", sf_dir)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan and "LeftSemi" in plan
    # the join is the plan's leaf-most operator: everything after the
    # SMJ line is its two input subtrees
    join_sub = plan[plan.index("SortMergeJoin"):]
    assert "Bucketed: true" in join_sub, "corpus k-gram scan not bucketed"
    # exactly ONE hash exchange below the semi-join — the batch side
    # shuffling into the bucket layout; a second would mean the corpus
    # k-gram table re-shuffled. (The r13 scan_parallelism rescue may
    # add a batch-side ROUND-ROBIN exchange at toy scale — a no-op at
    # production scale and never a corpus-side shuffle, so the
    # structural claim is pinned on hash exchanges.)
    import re as _re

    assert len(_re.findall(r"Exchange hashpartitioning", join_sub)) == 1, (
        "expected exactly the batch-side hash exchange below the "
        "semi-join:\n" + join_sub
    )
    assert "Exchange hashpartitioning(kg" in join_sub
    assert "Exchange rangepartitioning" not in join_sub


def test_near_dedup_corpus_side_never_shuffles(spark, sf_dir):
    """The cross-corpus MinHash near-dedup serve path must read BOTH
    persisted corpus artifacts bucket-aligned: with broadcast off (at
    100 TB neither side fits an executor), the candidate band join
    shuffles ONLY the new-batch side into the bkey bucket layout (one
    bkey exchange in the whole plan — a second would mean the corpus
    band table re-shuffled), and the exact-Jaccard verify fetches
    corpus shingle arrays from the id_old-bucketed table with only the
    candidate side exchanging (one id_old-leading exchange). Both
    corpus-sized shuffles are paid once at artifact build, never per
    serve/micro-batch."""
    import re

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(spark, "near_dedup_new_vs_corpus", sf_dir)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan
    # both corpus artifact scans read bucketed, straight into their joins
    assert plan.count("Bucketed: true") == 2, plan.count("Bucketed: true")
    # the band join: exactly ONE bkey exchange — the new-batch side
    assert len(re.findall(r"Exchange hashpartitioning\(bkey", plan)) == 1
    # the verify fetch: exactly ONE exchange led by id_old — the
    # candidate side; the corpus shingle side scans bucketed
    assert len(re.findall(r"Exchange hashpartitioning\(id_old#\d+L?, \d+\)", plan)) == 1


def test_dsir_scoring_is_projection_plus_topk(spark, sf_dir):
    """DSIR importance resampling's scale claim: once the B-bucket
    log-ratio recipe is collected (two bounded aggregates, paid before
    the plan under test), the SCORING pass over the raw corpus is a
    pure projection — the returned plan must contain no join, no
    aggregate exchange, and take its top-k via TakeOrderedAndProject,
    never a global range sort."""
    from pyspark.sql import functions as F

    from spotify_tracks_etl_portfolio_spark.plans.ext_curation import (
        dsir_importance_scores,
    )
    from spotify_tracks_etl_portfolio_spark.sources.readers import (
        read_parquet_table,
    )

    docs = read_parquet_table(spark, sf_dir, "documents")
    plan = plan_of_df(dsir_importance_scores(docs, F.col("lang") == "en"))
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan
    assert "Join" not in plan
    assert "Exchange hashpartitioning" not in plan
    assert plan.count("FileScan parquet") == 1


def test_event_value_deciles_never_single_partitions(spark, sf_dir):
    """The decile query computes EXACT ntile(10) without the
    single-partition global-sort window: ranks come from per-bucket
    row_number (hash-partitioned on the quantile bucket) plus literal
    offsets.  No stage may see the whole events table in one task."""
    plan = plan_of(spark, "event_value_deciles", sf_dir)
    assert "Exchange SinglePartition" not in plan
    assert "rangepartitioning" not in plan
    # the rank window is partitioned on the bucket column
    assert "Window" in plan


def test_stratified_sample_gets_rank_limit_pushdown(spark, sf_dir):
    """Per-stratum quota sampling must engage WindowGroupLimit so each
    map task forwards at most N rows per language before the shuffle —
    without it the window sorts every stratum in full."""
    plan = plan_of(spark, "stratified_sample_by_lang", sf_dir)
    assert "WindowGroupLimit" in plan
    assert "rangepartitioning" not in plan


def test_decontamination_broadcasts_benchmark_side(spark, sf_dir):
    """The benchmark shingle set is the small side by construction; the
    training-side scan must stream through a broadcast join, never
    shuffle on the shingle hash."""
    df = all_queries()["benchmark_decontamination"].fn(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "BroadcastHashJoin" in plan


def test_scatter_sample_pushes_filter_and_prunes_columns(spark, sf_dir):
    """The scatter-card sample is a pure pushed-down scan: 3-column
    ReadSchema, no shuffle anywhere in the plan."""
    plan = plan_of(spark, "scatter_value_user_sample", sf_dir)
    assert plan.count("FileScan parquet") == 1
    assert "Exchange" not in plan
    read_schema = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "event_id" in read_schema and "value" in read_schema
    assert "props" not in read_schema and "event_type" not in read_schema


def test_sql_surface_twin_matches_dataframe_api(spark, sf_dir):
    """BI/SQL surface (S10): the same query written as plain Spark SQL
    over registered temp views must return exactly the DataFrame API's
    rows — the engine's two front doors cannot drift."""
    from spotify_tracks_etl_portfolio_spark.sources.readers import (
        read_parquet_table,
    )

    for t in ("customer", "orders", "lineitem"):
        read_parquet_table(spark, sf_dir, t).createOrReplaceTempView(t)
    sql_rows = spark.sql(
        """
        SELECT c.c_custkey,
               c.c_name,
               CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount)
                             AS DECIMAL(24,8))) AS DOUBLE) AS revenue,
               count(DISTINCT o.o_orderkey) AS n_orders
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY c.c_custkey, c.c_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 10
        """
    ).collect()
    api_rows = (
        all_queries()["top10_customers_by_revenue"].fn(spark, sf_dir).collect()
    )
    assert [tuple(r) for r in sql_rows] == [tuple(r) for r in api_rows]


def test_passage_dedup_window_group_limit_and_two_shuffles(spark, sf_dir):
    """The first-occurrence window must engage partial+final
    WindowGroupLimit (map tasks forward one row per passage before the
    shuffle) and the whole pipeline must stay at two hash exchanges —
    the no-pairwise-join scale claim of C4-style passage dedup."""
    import re

    plan = plan_of(spark, "passage_dedup_documents", sf_dir)
    assert plan.count("WindowGroupLimit") == 2  # Partial + Final
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 2


def test_chunk_documents_is_shuffle_free_generator(spark, sf_dir):
    """Chunking must compile to scan → generate → project with NO
    exchange of any kind: it parallelizes with the scan at 100 TB."""
    plan = plan_of(spark, "chunk_documents_sliding", sf_dir)
    assert "Exchange" not in plan
    assert "Generate posexplode" in plan
    assert plan.count("FileScan parquet") == 1


def test_cross_corpus_near_dedup_only_equi_joins(spark, sf_dir):
    """The new×old candidate space must come from band equi-joins and
    id-keyed verify joins only — never a nested-loop pair scan."""
    plan = plan_of(spark, "near_dedup_new_vs_corpus", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q2_broadcasts_dims_and_avoids_self_join(spark, sf_dir):
    """Q2's correlated min resolves as ONE window over the derived
    partsupp — no second aggregation-join pass over it, no cartesian;
    supplier/nation/region/part dims all broadcast."""
    plan = plan_of(spark, "q2_min_cost_supplier", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # dims + part filter
    assert "SortMergeJoin" not in plan  # nothing big joins big
    assert "TakeOrderedAndProject" in plan  # top-100 never sorts fully


def test_pii_scrub_is_single_projection_no_shuffle(spark, sf_dir):
    """The chained regexp scrub must compile to scan → project with no
    exchange and no Python evaluation: it streams at scan speed."""
    plan = plan_of(spark, "pii_scrub_documents", sf_dir)
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    assert plan.count("FileScan parquet") == 1


def test_pack_sequences_partitions_by_lang_not_global(spark, sf_dir):
    """The scalable prefix-sum shape: the per-doc running sum must window
    over lang partitions (hashpartitioning on lang), with the lang-base
    join broadcast — NOT a single-partition global window over the
    data."""
    plan = plan_of(spark, "pack_training_sequences", sf_dir)
    assert "Exchange hashpartitioning(lang" in plan
    assert "BroadcastHashJoin" in plan
    # the only SinglePartition exchange allowed feeds the tiny per-lang
    # base table (#langs rows), never the documents scan
    import re

    singles = len(re.findall(r"Exchange SinglePartition", plan))
    assert singles <= 1, plan[:3000]


def test_sessionize_batch_single_shuffle(spark, sf_dir):
    """Both gap-detection windows and the session aggregation share the
    user_id partitioning: exactly ONE exchange in the whole plan."""
    import re

    plan = plan_of(spark, "sessionize_events_batch", sf_dir)
    assert len(re.findall(r"Exchange \w+partitioning", plan)) == 1
    assert "SinglePartition" not in plan


def test_hashed_vectors_zero_shuffle_projection(spark, sf_dir):
    """Feature hashing accumulates counts inside the row (HOFs): the
    plan is a pure scan+projection — no exchange of any kind."""
    plan = plan_of(spark, "hashed_token_vectors", sf_dir)
    assert "Exchange" not in plan


def test_ols_trend_single_aggregation_pass(spark, sf_dir):
    """All five sufficient statistics ride ONE hash aggregation (one
    shuffle on the group key); no second pass over events."""
    import re

    plan = plan_of(spark, "event_value_trend_by_type", sf_dir)
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert plan.count("FileScan parquet") == 1


def test_bloom_probe_filters_before_shuffle(spark, sf_dir):
    """The Bloom membership filter must sit BELOW the probe side's
    exchange: lineitem rows die before they are shuffled to the join.
    (The bloom lookups themselves are broadcast joins — no exchange of
    the probe side above the scan until the final aggregation.)"""
    plan = plan_of(spark, "bloom_semi_join_urgent_revenue", sf_dir)
    # the bit-test filter appears in the plan...
    assert "& 1) = 1" in plan.replace("\n", " ")
    # ...and the probe side reaches the real join via broadcast hash
    # joins only (bloom words + build side), never a probe-side sort.
    assert "SortMergeJoin" not in plan


def test_hashed_vectors_hof_computed_once(spark, sf_dir):
    """The tokenize+hash+fold expression must appear ONCE in the plan —
    per-column inlining would redo the whole fold 16× per row."""
    plan = plan_of(spark, "hashed_token_vectors", sf_dir)
    assert plan.count("aggregate(transform") == 1


def test_bm25_index_scan_prunes_buckets_and_pushes_token_filter(spark, sf_dir):
    """Serving BM25 from the persisted index must scan only the query
    terms' posting buckets (PartitionFilters on the bucket column) with
    the token predicate pushed to the parquet reader — never the whole
    postings table, never the corpus text."""
    plan = plan_of(spark, "bm25_index_search", sf_dir)
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "bucket" in pf
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "token" in pushed
    # the documents table itself is never scanned at query time
    assert "documents.parquet" not in plan


def test_trigram_index_prunes_buckets_no_query_time_tokenization(
    spark, sf_dir
):
    """Serving the substring search from the persisted trigram index
    must (a) prune the postings scan to the pattern trigrams' buckets
    with the trigram predicate pushed to parquet, (b) never re-derive
    trigrams from the corpus at query time (no explode/substr over
    documents — that work happened once at index build), and (c) touch
    the documents table exactly once, for the candidates-only LIKE
    verify."""
    plan = plan_of(spark, "trigram_like_search", sf_dir)
    # (a) some scan's PartitionFilters prune on the bucket column
    pfs = [seg.split("]", 1)[0] for seg in plan.split("PartitionFilters: [")[1:]]
    assert any("bucket" in pf for pf in pfs)
    assert "In(tg," in plan  # trigram set pushed to the postings reader
    # (b) no query-time trigram generation anywhere in the plan
    assert "Generate" not in plan
    assert "substr" not in plan
    assert "sequence(" not in plan
    # (c) documents scanned once — the LIKE verify — with the contains
    # predicate pushed
    assert plan.count("documents.parquet") == 1
    assert "StringContains(text" in plan


def test_persisted_index_artifacts_reused_across_calls(spark, sf_dir):
    """Round-5 advice fix: the BM25/trigram/IVF index roots are keyed
    deterministically by (session, sf_dir), so a SECOND invocation in
    the same session must serve from the existing artifact — same
    directory, no rebuild (marker mtime unchanged) — and return the
    identical result."""
    import os as _os

    from spotify_tracks_etl_portfolio_spark.operators import (
        similarity as sim,
    )
    from spotify_tracks_etl_portfolio_spark.plans.extensions import (
        _artifact_root,
    )
    from spotify_tracks_etl_portfolio_spark.sources.readers import (
        read_parquet_table,
    )

    n = read_parquet_table(spark, sf_dir, "embeddings").count()
    ivf_k = sim.auto_ivf_cells(n)
    pq_k = sim.auto_pq_k(n)
    cases = [
        ("bm25_index_search", "text_index", "stats", ""),
        # round-12: the incremental append twin (base build + one
        # frozen-stats append inside ONE _build_artifact_once closure —
        # the marker is the frozen base stats table)
        ("bm25_index_search_incremental", "text_index_incr", "stats", ""),
        ("trigram_like_search", "trgm_index", "postings", ""),
        # IVF/PQ artifact keys pin the round-8 DERIVED geometry
        # (auto_ivf_cells(n) / auto_pq_k(n) — the recorded plans)
        ("embedding_ivf_index_topk", "ivf_index", "centroids",
         f"|k={ivf_k}|iters=3"),
        ("embedding_pq_topk", "pq_index", "codes",
         f"|m=8|sub=8|k={pq_k}|iters=2"),
        # k-means model artifact: key pins the AUTO-derived geometry
        # (auto_semdedup_k(n) = 8 at test scale — the r07 recorded plan)
        ("semantic_dedup_embeddings", "semdedup_cents", "centroids",
         "|k=8|iters=3"),
        # round-9 verdict item 3: the persisted-model cross-corpus
        # semantic dedup (corpus-trained centroids served as an
        # artifact; corpus = vec_id >= SEMX_NEW_MAX)
        ("semantic_dedup_new_vs_corpus_served", "semx_cents",
         "centroids", "|SEMX|"),
        # round-9 continuation: the benchmark k-gram set of the served
        # span-decontamination path (key pins the window width)
        ("decontamination_overlap_spans_served", "bench_kgrams",
         "kgrams", "|k=8"),
        # round-10 verdict item 3 (r11: now a BUCKETED catalog table,
        # _corpus_kgram_bucketed — tableExists is the build-once
        # marker, the location dir below it must not be rewritten)
        ("exact_substring_new_vs_corpus", "corpus_kgrams_bucketed",
         "kgrams", "|k=8"),
        # round-10 verdict item 2: the composed IVF×PQ index (codes
        # partitioned by IVF cell; key pins both derived geometries)
        ("embedding_ivfpq_topk", "ivfpq_index", "codes",
         f"|kc={ivf_k}|iters=3|m=8|sub=8|kq={pq_k}|pqi=2"),
        # round-13: the persisted unigram tokenizer model (exact
        # DECIMAL log-probs round-trip as strings)
        ("unigram_segment_documents_served", "unigram_model", "model",
         "|em=2"),
    ]
    from spotify_tracks_etl_portfolio_spark.plans.extensions import (
        SEMX_NEW_MAX,
    )

    semx_k = sim.auto_semdedup_k(
        read_parquet_table(spark, sf_dir, "embeddings")
        .filter(f"vec_id >= {SEMX_NEW_MAX}")
        .count()
    )
    qs = all_queries()
    for qname, artifact, marker, keysuffix in cases:
        if keysuffix == "|SEMX|":
            keysuffix = f"|new<{SEMX_NEW_MAX}|k={semx_k}|iters=3"
        first = qs[qname].fn(spark, sf_dir).collect()
        root = _artifact_root(
            spark, artifact, _os.path.realpath(sf_dir) + keysuffix
        )
        mpath = _os.path.join(root, marker)
        assert _os.path.isdir(mpath), f"{qname}: artifact not published"
        mtime = _os.path.getmtime(mpath)
        again = qs[qname].fn(spark, sf_dir).collect()
        assert _os.path.getmtime(mpath) == mtime, f"{qname}: index rebuilt"
        assert sorted(map(tuple, again)) == sorted(map(tuple, first))
    # identical-answer contract (the IVF-index pattern, shared oracle):
    # the served query must equal the per-call trainer bit-for-bit
    served = qs["semantic_dedup_new_vs_corpus_served"].fn(
        spark, sf_dir
    ).collect()
    trained = qs["semantic_dedup_new_vs_corpus"].fn(spark, sf_dir).collect()
    assert sorted(map(tuple, served)) == sorted(map(tuple, trained))
    dserved = qs["decontamination_overlap_spans_served"].fn(
        spark, sf_dir
    ).collect()
    dfresh = qs["decontamination_overlap_spans"].fn(spark, sf_dir).collect()
    assert sorted(map(tuple, dserved)) == sorted(map(tuple, dfresh))
    if "unigram_segment_documents_served" in qs:
        userved = qs["unigram_segment_documents_served"].fn(
            spark, sf_dir
        ).collect()
        ufresh = qs["unigram_segment_documents"].fn(spark, sf_dir).collect()
        assert sorted(map(tuple, userved)) == sorted(map(tuple, ufresh))
