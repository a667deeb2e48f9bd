"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is timed as the MEDIAN OF 3 runs (after one whole-pipeline
warm query to absorb JVM/codegen startup).  Round 2 showed single-run
timings swing 30-40% on 2-3 s queries from JIT/GC jitter alone
(VERDICT.md round 2, "LSH bench regressions"), so n=1 cannot
distinguish a real plan regression from noise; the median of 3 can.

r14 ADDITIVE keys (existing keys unchanged): "queries_min" = per-query
min of the same 3 samples (bounds the quiet-host cost when one
contended lap inflates the median) and "calibration_end" = the canary
re-run AFTER the queries (late-run host drift is invisible to the
start-of-run canary alone).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spotify_tracks_etl_portfolio_spark.plans import all_queries
from spotify_tracks_etl_portfolio_spark.session import get_spark

# Headline set: flagship medallion + heaviest aggregation/join/window/
# extension queries — the ones whose plans matter at scale.
HEADLINE = [
    "medallion_silver_events",
    "q1_pricing_summary",
    "top10_customers_by_revenue",
    "regional_revenue",
    "user_session_windows",
    "hourly_event_rollup",
    "dedup_exact_documents",
    "document_fingerprints",
    "minhash_lsh_near_dups",
    "embedding_cosine_topk",
    "asof_click_purchase",
    "q6_forecast_revenue",
    "top3_customers_per_nation",
    "curate_training_documents",
    # heaviest round-2 additions, tracked before they regress
    "passage_dedup_documents",
    "near_dedup_new_vs_corpus",
    "streaming_sessionize_sync",
    # round-3 JVM-heavy additions (first recorded round = their baseline)
    "bm25_search_documents",
    "pack_training_sequences",
    # round-4: fixed/replanned this round — timing history starts here
    "embedding_random_projection",
    "embedding_diverse_sample",
    "event_value_deciles",
    "semantic_dedup_embeddings",
    "bigram_logprob_documents",
    "near_dup_quality_canonicals",
    # round-4 continuation: iterative graph + curation monitors
    "trade_graph_pagerank",
    "hashed_token_vectors",
    "sessionize_events_batch",
    # round-8: the registered SCALE geometries of the two formerly
    # frozen-toy near-dup plans (timing history starts this round)
    "simhash_near_dups_wide",
    "embedding_lsh_near_dups_wide",
    # round-9 continuation: ExactSubstr span detection — the heaviest
    # new dedup plan (stride-1 window explosion; since round 10 the
    # skew-safe groupBy+join default, ~2.2x the window twin by design —
    # BENCH_NOTES round 10); timing history starts r09,
    # REBASED at r10 with the formulation change (BASELINE_r10.json)
    "exact_substring_dup_spans",
    # round-10: the composed IVF×PQ serving path and the incremental
    # corpus-vs-corpus ExactSubstr serve (artifact built on first call
    # per session — bench times the SERVE side after the warm-up run;
    # timing history starts this round
    "embedding_ivfpq_topk",
    "exact_substring_new_vs_corpus",
    # round-11: the Gopher rule composition (zero-shuffle projection —
    # cheap, but it gates every curation pipeline, so its cost is
    # watched) and the windowed sketch-merge monitor; timing history
    # starts this round
    "gopher_quality_gate_documents",
    "trailing7d_type_quantiles_sketch",
    # round-13: the baseline-JPEG codec roundtrip (the multimodal
    # family's first headline entry — Arrow-batched encode+decode over
    # every document) and the unigram-LM tokenizer trainer (hard-EM
    # Viterbi HOF projection per round); both register at the r14 gate,
    # so the driver's r13 bench skips them (spec is None) — timing
    # history starts when they debut
    "multimodal_jpeg_roundtrip",
    "unigram_train_vocab_documents",
    "multimodal_gif_frame_sample",
]
# Round-9 verdict item 4: the FROZEN-TOY twins simhash_near_dups and
# embedding_lsh_near_dups are demoted from this list — both are
# demonstrated superlinear at 10× by design (STRESS_r08: 19.3×/7.1×;
# their registered scale geometries are the *_wide twins above), so
# keeping them in the headline total double-counted two drift-prone
# superlinear queries in the round-over-round number. They stay
# registered (CORRECTNESS/SWEEP) and stay in tools/stress_sweep.py as
# the A/B contrast against their wide twins.

#: Calibration canary (round-9 verdict item 5): a fixed-size, zero-IO,
#: whole-stage-codegen aggregation over spark.range with PINNED
#: parallelism — no query plan from the engine under test, so its time
#: moves only with the HOST (CPU contention, thermal state, JVM).
#: Cross-session bench absolutes on this host drift 1.2-1.6× on
#: identical code (BENCH_NOTES rounds 4-8); recording the canary
#: alongside lets tools/check_bench.py normalize the 2× rule by
#: host-speed ratio instead of failing on contention.
#: 4B rows ≈ 0.75s steady-state on a quiet 32-core host: big enough
#: that scheduling overhead is a rounding error (the 64M-row first cut
#: swung ±30% lap-to-lap from task dispatch + JIT tiers; 4B lands in a
#: ±15% band), small enough to stay under a second.
CANARY_ROWS = 4_000_000_000
CANARY_SLICES = 32
CANARY_WARM_LAPS = 2
CANARY_TIMED_LAPS = 5


def run_canary(spark) -> float:
    samples = []
    # untimed warm laps first: the canary must measure the HOST, not
    # the JIT tier of whoever ran before it (measured: a cold first lap
    # runs 3-6× the steady state and C2 keeps improving through lap 2)
    for i in range(CANARY_WARM_LAPS + CANARY_TIMED_LAPS):
        t0 = time.time()
        spark.range(0, CANARY_ROWS, 1, CANARY_SLICES).selectExpr(
            "sum(id % 7919) AS s", "count(*) AS c"
        ).write.format("noop").mode("overwrite").save()
        if i >= CANARY_WARM_LAPS:
            samples.append(time.time() - t0)
    return round(_median(samples), 3)

RUNS_PER_QUERY = 3


def _median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # Parse the scale factor BEFORE running anything: a dir that doesn't
    # end in sf<number> must not crash the final print after minutes of
    # benchmarking (the JSON contract needs a numeric sf; 0.0 = unknown).
    import re

    m = re.search(r"sf([0-9]*\.?[0-9]+)/?$", sf_dir)
    sf = float(m.group(1)) if m else 0.0
    spark = get_spark("bench")
    specs = all_queries()

    # warm-up: small query to absorb JVM + codegen startup cost
    specs["row_count_lineitem"].fn(spark, sf_dir).collect()

    calibration = run_canary(spark)

    timings: dict[str, float] = {}
    timings_min: dict[str, float] = {}
    for name in HEADLINE:
        spec = specs.get(name)
        if spec is None:
            continue
        # Decouple queries: a full JVM GC between queries stops heap
        # garbage from query N inflating query N+1's times (observed
        # 2-5x swings on late-list queries in otherwise idle runs —
        # r04 BENCH_NOTES).  Measured inside the sample window a GC
        # pause would be noise; between windows it's isolation.
        spark._jvm.System.gc()
        samples = []
        for _ in range(RUNS_PER_QUERY):
            t0 = time.time()
            df = spec.fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            samples.append(time.time() - t0)
        timings[name] = round(_median(samples), 3)
        timings_min[name] = round(min(samples), 3)

    # Noise-diagnosis additions (r14, ADDITIVE ONLY — the driver's
    # contract keys "queries"/"value"/"calibration" are untouched):
    # per-query MIN alongside the median (a median inflated by one
    # contended lap reads as a regression; the min bounds the query's
    # quiet-host cost within the same run), and a SECOND canary at
    # end-of-run (the single start-of-run canary is blind to late-run
    # host drift — r13 verdict: 19/35 'regressed' rows with
    # byte-identical plans). A regressed median with a flat min and/or
    # calibration_end >> calibration is host weather, not a plan
    # change.
    calibration_end = run_canary(spark)

    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "queries_min": timings_min,
                "calibration": calibration,
                "calibration_end": calibration_end,
                "sf": sf,
            }
        )
    )


if __name__ == "__main__":
    main()
