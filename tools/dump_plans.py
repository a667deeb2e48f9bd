"""Regenerate PLANS.md: the physical plan of every bench headline query
with its shuffle/scan/codegen profile — the at-scale story of each plan,
readable without running Spark.

Usage:
  python tools/dump_plans.py
      writes PLANS.md at the repo root
  python tools/dump_plans.py --out plans/rN <suffix> [name ...]
      writes `.explain("formatted")` of each query to
      plans/rN/<query>_<suffix>.txt (suffix e.g. "before" / "after";
      names default to the full bench HEADLINE list) — the before/after
      plan files an optimization write-up cites
Relative ``--out`` paths resolve against the repo root.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import HEADLINE  # noqa: E402
from spotify_tracks_etl_portfolio_spark.plans import all_queries  # noqa: E402
from spotify_tracks_etl_portfolio_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def profile(plan: str) -> str:
    n_scan = plan.count("FileScan parquet")
    n_ex = len(re.findall(r"Exchange (hash|range|Single)", plan))
    n_bc = plan.count("BroadcastExchange")
    n_bhj = plan.count("BroadcastHashJoin")
    n_smj = plan.count("SortMergeJoin")
    n_agg = plan.count("HashAggregate")
    pushed = len(re.findall(r"PushedFilters: \[[^\]]", plan))
    return (
        f"scans={n_scan} shuffles={n_ex} broadcasts={n_bc} "
        f"bhj={n_bhj} smj={n_smj} hashAggs={n_agg} pushedFilterScans={pushed}"
    )


#: Non-headline queries whose plan shape IS their scale argument —
#: documented alongside the headline so the blocked/guarded join
#: structure is reviewable without running Spark.
SCALE_PATH = [
    "ngram_jaccard_pairs",
    "benchmark_decontamination",
    "stratified_sample_by_lang",
    "daily_revenue_gapfill",
    "significant_parts_by_revenue",
    "q18_large_volume_customers",
    "q7_nation_trade_volume",
    "near_dup_keep_best_quality",
    "token_budget_shards",
    "q5_local_supplier_volume",
    "q21_waiting_suppliers",
    "lineitem_grouping_sets",
    "chunk_documents_sliding",
    "ordered_funnel_view_click_purchase",
    "winsorized_event_values",
    # round-8 scale guard: the oversized-cell SemDeDup refinement
    # engaged at gate scale (per-cell applyInPandas sub-clustering
    # feeding a (cell, subcell)-scoped verify join)
    "semantic_dedup_split_cells",
    # round-8 continuous-ingestion shape: corpus-trained centroids,
    # cell-scoped new×corpus verify — never |new|×|corpus|
    "semantic_dedup_new_vs_corpus",
    # round-9: the persisted-model serving twin (artifact-loaded
    # centroids; must show the same cell-scoped verify, no training)
    "semantic_dedup_new_vs_corpus_served",
    # round-9: the frozen-toy twins left bench.py's HEADLINE (verdict
    # item 4) but their plans stay documented as the A/B contrast
    # against the registered *_wide scale geometries
    "simhash_near_dups",
    "embedding_lsh_near_dups",
]


def dump_formatted(out_dir: str, suffix: str, names: list[str]) -> None:
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("plans")
    specs = all_queries()
    for name in names:
        spec = specs.get(name)
        if spec is None:
            print(f"skip {name}: not registered")
            continue
        df = spec.fn(spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path}")


def write_plans_md() -> None:
    spark = get_spark("plans")
    specs = all_queries()
    out = [
        "# PLANS — physical plans of the bench headline queries",
        "",
        f"Generated by `tools/dump_plans.py` against `{SF_DIR}` "
        "(regenerate after plan-shape changes; numbers in the profile "
        "line are static-plan counts — AQE may further coalesce/reuse "
        "at runtime).",
        "",
    ]

    def emit(name: str) -> None:
        spec = specs.get(name)
        if spec is None:
            return
        df = spec.fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        out.extend(
            [
                f"## {name}",
                "",
                spec.description,
                "",
                f"`{profile(plan)}`",
                "",
                "```",
                plan.strip()[:4000],
                "```",
                "",
            ]
        )

    for name in HEADLINE:
        emit(name)
    out += [
        "# Scale-path plans (non-headline)",
        "",
        "Blocked/guarded join structures — the plan shape is the scale "
        "argument (no CartesianProduct / BroadcastNestedLoopJoin "
        "anywhere; fanout guards visible as semi joins).",
        "",
    ]
    for name in [n for n in SCALE_PATH if n not in HEADLINE]:
        emit(name)
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", help="directory for per-query formatted plans")
    ap.add_argument("suffix", nargs="?", help="file suffix, with --out")
    ap.add_argument("names", nargs="*", help="queries (default: HEADLINE)")
    args = ap.parse_args()
    if args.out is None:
        if args.suffix is not None:
            ap.error("a suffix needs --out")
        write_plans_md()
    elif args.suffix is None:
        ap.error("--out needs a suffix")
    else:
        dump_formatted(
            os.path.join(REPO, args.out), args.suffix,
            args.names or list(HEADLINE),
        )


if __name__ == "__main__":
    main()
