#!/usr/bin/env python
"""Dump formatted physical plans (`explain("formatted")`).

Two modes:

- no arguments: the headline queries (``SHOW``) into PLANS.md — the
  plan-quality evidence (pushdown, broadcast, exchange counts) as a
  committed artifact rather than a claim. Re-run after any operator
  change: ``python scripts/dump_plans.py``
- ``--outdir DIR --suffix SUFFIX QUERY...``: one file per query,
  ``DIR/<query>_<SUFFIX>.txt``, for before/after plan evidence. Run
  once at the base revision (``--suffix before``) and once at the
  change (``--suffix after``); queries not registered at a revision
  are skipped, and env toggles are honored, so forced-distributed or
  artifacts-off dumps need only a distinct suffix. E.g.
  ``python scripts/dump_plans.py --outdir plans/r11 --suffix after
  pagerank_copurchase ivf_coarse_assignment``. Input:
  ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.001).
"""

from __future__ import annotations

import argparse
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from commercial_rfp_data_pipeline_spark.io import release_pinned
from commercial_rfp_data_pipeline_spark.registry import all_queries
from commercial_rfp_data_pipeline_spark.session import get_spark

SHOW = [
    ("rfp_clean_flagship", "filters fused + pushed to the scan"),
    ("pricing_summary_q1", "partial aggregation, decimal sums"),
    ("join_equi_broadcast", "dim broadcast, no fact shuffle"),
    ("revenue_topn_with_order", "TakeOrderedAndProject, no global sort"),
    ("minhash_lsh_candidates", "band-value equi-join on the pinned index"),
    ("ivf_topk_search", "broadcast centroids, probe join on cent_id"),
    ("hybrid_bm25_search", "df-capped candidates, embed behind the filter"),
    ("skew_zipf_distinct_salted", "two-phase salted distinct"),
    ("shipping_priority_q3", "semi broadcast + pushed dates + TakeOrdered"),
    ("span_dedup_c4", "partial->final agg on span key, no window"),
    ("min_cost_supplier_per_part", "correlated argmin as one min(struct) agg"),
    ("disjunctive_pushdown_q19", "per-side OR implications pushed to both scans"),
    ("fuzzy_name_pairs", "deletion-key equi-join, no quadratic scan"),
    ("numeric_correlation_matrix", "all 14 moments in one aggregate pass"),
    ("events_trailing_24h_features", "one window shuffle, running range frame"),
    ("zorder_key_interleave", "pure codegen interleave, no shuffle"),
    ("binary_hamming_rescore_topk", "pinned bit index, broadcast query bits, rescore joins by id"),
    ("sql_udf_scalar_surface", "SQL UDFs inlined to one codegen projection, no Python eval"),
    ("lateral_topn_per_nation", "LATERAL decorrelated to window + broadcast dim"),
    ("merge_apply_changeset", "one anti-join + union, no wide aggregation"),
    ("incremental_corpus_dedup", "one fp shuffle serves join and keep-first window"),
    ("events_variant_extract", "variant parse once, codegen path access, map-side agg"),
    ("knn_graph_edges", "grid cells via grouped Arrow exec, one global top-m window"),
    ("graph_ann_beam_topk", "broadcast beam joins, corpus never reshuffles"),
    ("kcore_copurchase", "per-round degree agg + two semi-joins on the shrinking edges"),
    ("crossmodal_retrieval_topk", "broadcast caption vectors, per-query top-k heaps only"),
    ("community_modularity", "pinned edges feed LPA rounds, degree agg, and intra count"),
    # round 7
    ("market_basket_lift_top20", "limit-first TakeOrdered, rank over 20 rows only"),
    ("decision_stump_train", "distributed prefix sums (_pid windows), no global window"),
    ("skyline_parts_price_size", "strict prefix-min rides the range-exchange cascade"),
    ("mmr_diversified_topk", "one Arrow grouped-map for the whole greedy, shortlist scans corpus once"),
    ("multimodal_phash_neardup", "band-bucket candidate join, CC on verified pairs only"),
    # round 8 second wave
    ("poisson_bootstrap_ci", "100x narrow weight map, partial agg per (segment, rep)"),
    ("bradley_terry_strengths", "MM rounds broadcast-joined on the models^2 pair table"),
    ("cuped_adjusted_ab_test", "one user groupBy, one-row theta broadcast back"),
    ("sequential_ab_monitoring", "one daily moment pass, cumulative via broadcast theta-join"),
    ("chi2_term_selection", "presence counts map-side, rank window partitioned by lang"),
]


def _plan(spark, df) -> str:
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    # strip volatile ids (paths are stable; codegen ids are not)
    return re.sub(r"\[codegen id : \d+\]", "[codegen]", plan)


def dump_plans_md(spark, queries) -> None:
    sf = "/root/testdata/sf0.001"
    out = [
        "# PLANS — formatted physical plans of headline queries",
        "",
        "Generated by `scripts/dump_plans.py` at sf0.001 (plan shape is",
        "SF-independent; AQE re-plans at runtime on real stats). What to",
        "look for per query is noted above each plan; the plan-shape",
        "assertions in `tests/test_plan_shapes.py` pin the load-bearing",
        "properties in CI.",
        "",
    ]
    for name, note in SHOW:
        plan = _plan(spark, queries[name](spark, sf))
        out.append(f"## {name}\n\n*{note}*\n\n```\n{plan.strip()}\n```\n")
        release_pinned()
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md with {len(SHOW)} plans")


def dump_plan_files(spark, queries, names, outdir, suffix) -> None:
    os.makedirs(outdir, exist_ok=True)
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    for name in names:
        if name not in queries:
            print(f"skip {name}: not registered at this revision")
            continue
        try:
            plan = _plan(spark, queries[name](spark, sf))
        except Exception as e:  # noqa: BLE001 — record, keep dumping
            plan = f"ERROR building plan: {e}"
        # strip the content-hash component of artifact paths so before/
        # after diffs show structure, not corpus-signature churn
        plan = re.sub(r"(artifact[s]?/[a-z0-9_]+-)[0-9a-f]{8,}", r"\1<key>", plan)
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan.strip() + "\n")
        print(f"wrote {path}")
        release_pinned()
        spark.catalog.clearCache()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--outdir", help="write one file per query here")
    ap.add_argument("--suffix", default="after")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()
    if bool(args.outdir) != bool(args.queries):
        ap.error("--outdir and a query list go together")
    spark = get_spark(app_name="plans")
    queries = all_queries()
    if args.outdir:
        dump_plan_files(spark, queries, args.queries, args.outdir, args.suffix)
    else:
        dump_plans_md(spark, queries)


if __name__ == "__main__":
    main()
