#!/usr/bin/env python
"""Regenerate docs/PLANS.md: the formatted physical plan of every headline
query plus a mechanical summary of the scale-relevant properties (pushed
filters, pruned read schema, join strategies, exchange count, codegen
spans).  Run after changing any plan-shaping code:

    python tools/dump_plans.py

With ``--out-dir`` it instead writes one ``<query>_<tag>.txt`` per query
(default: the bench.py headline slots) for a before/after evidence
trail, printing each plan's Exchange count:

    python tools/dump_plans.py --out-dir plans/r17 --tag before [key ...]
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mqtt_message_pump_spark.plans import ORACLES, QUERIES
from mqtt_message_pump_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

HEADLINE = [
    "q_pricing_summary",
    "q_region_revenue",
    "q_top_customers",
    "q_filter",
    "q_explode_map",
    "q_flatten_struct",
    "q_tumbling_window",
    "q_window_rank",
    "q_dedup_minhash",
    "q_minhash_pairs",
    "q_cosine_topk",
    "q_asof_join",
    "q_range_join",
    "q_media_meta",
    "q_cube",
    "q_running_sum",
    "q_sessionize",
    "q_disc_revenue",
    "q_ship_priority",
    "q_pivot",
    "q_grouping_sets",
    "q_sliding_window",
    "q_stratified_sample",
    "q_first_last",
    "q_time_rollup",
    "q_skew_join",
    "q_corpus_pipeline",
    "q_local_volume",
    # round-3 additions
    "q_order_priority",
    "q_volume_shipping",
    "q_cust_distribution",
    "q_promo_share",
    "q_small_qty_revenue",
    "q_returned_items",
    "q_top_supplier",
    "q_repetition_score",
    "q_pii_redact",
    "q_decontam",
    "q_tfidf_top",
    "q_c4_filter",
    "q_vector_quantize",
    "q_market_share",
    "q_bracket_predicates",
    "q_idle_customers",
    # round-4 additions: the scale twins that retire the last global sorts
    # from the headline story, plus the banded-SimHash candidate path
    "q_quantile_bucket",
    "q_pack_sequences",
    "q_simhash_pairs",
    "q_cross_dedup",
    "q_ngram_counts",
    "q_corpus_mix",
    "q_iqr_clip",
    "q_centroid_assign",
    "q_knn_label",
    "q_ewma_smooth",
    "q_latest_snapshot",
    "q_replacing_collapse",
    "q_dedup_keep_best",
    # round-10: the exact-dup pre-collapse twin (cost tracks distinct
    # content; SCALE.md SS10b)
    "q_dedup_groups_collapsed",
    # round-11: the auto-selected path (dup-ratio estimate picks
    # collapse vs direct; SCALE.md SS10b r11 note)
    "q_dedup_groups_auto",
    "q_bm25_top",
    "q_lm_score",
    "q_audio_energy",
    "q_quality_ecdf",
    "q_entropy_score",
    "q_bpe_pairs",
    "q_lexicon_hits",
    "q_embed_standardize",
    "q_train_split",
    "q_bigram_pmi",
    "q_waiting_orders",
    "q_window_funnel",
    "q_retention_cohort",
    "q_event_transitions",
    # round-4 fourth batch: adapted partsupp-free TPC-H + cleaning ops
    "q_min_cost_supplier",
    "q_profit_by_nation",
    "q_important_parts",
    "q_supplier_variety",
    "q_excess_suppliers",
    "q_boiler_strip",
    "q_name_matches",
    "q_weighted_sample",
    "q_hard_negatives",
    "q_scd2_intervals",
    "q_source_kl",
    "q_dq_report",
    "q_table_profile",
    "q_media_dedup",
    "q_cooccurrence",
    "q_ngram_containment",
    "q_attribution",
    "q_minhash_pairs_capped",
    "q_incremental_dedup",
    # round-5 additions: distributed exact ranking (no serial window),
    # product quantization (Arrow encode kernel + ADC search)
    "q_ntile",
    "q_global_rank",
    "q_pq_codes",
    "q_ann_pq",
    "q_ann_ivfpq",
]


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def summarize(plan: str) -> list[str]:
    out = []
    pushed = [
        line.strip()
        for line in plan.splitlines()
        if "PushedFilters" in line and "PushedFilters: []" not in line
    ]
    reads = [
        line.strip() for line in plan.splitlines() if "ReadSchema" in line
    ]
    # Count nodes from the detail headers only ("(5) Exchange"), not the
    # tree rendering, so each physical node is counted exactly once.
    joins = re.findall(
        r"\(\d+\)\s+(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
        r"BroadcastNestedLoopJoin|CartesianProduct)",
        plan,
    )
    exchanges = len(re.findall(r"\(\d+\)\s+Exchange", plan))
    codegen = len(
        set(re.findall(r"\[codegen id : (\d+)\]", plan))
    ) or len(re.findall(r"WholeStageCodegen", plan))
    if pushed:
        out.append(f"- pushed filters: {len(pushed)} scan(s) with predicates")
    for r in reads[:4]:
        out.append(f"- `{r[:110]}`")
    if joins:
        out.append(f"- joins: {', '.join(sorted(set(joins)))}")
    out.append(f"- exchanges: {exchanges}; whole-stage codegen spans: {codegen}")
    return out


def stats_of(plan: str) -> dict:
    joins = re.findall(
        r"\(\d+\)\s+(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
        r"BroadcastNestedLoopJoin|CartesianProduct)",
        plan,
    )
    return {
        "exchanges": len(re.findall(r"\(\d+\)\s+Exchange", plan)),
        "joins": sorted(set(joins)),
        "pushed": len(
            [
                line
                for line in plan.splitlines()
                if "PushedFilters" in line
                and "PushedFilters: []" not in line
            ]
        ),
        "expand": len(re.findall(r"\(\d+\)\s+Expand", plan)),
    }


_ABBREV = {
    "BroadcastHashJoin": "BHJ",
    "SortMergeJoin": "SMJ",
    "ShuffledHashJoin": "SHJ",
    "BroadcastNestedLoopJoin": "BNLJ",
    "CartesianProduct": "CP",
}


def dump_per_query(spark, out_dir: str, tag: str, keys: list[str]) -> None:
    """One ``explain("formatted")`` file per query under ``out_dir``."""
    if not keys:
        import bench

        keys = [k for k in bench.HEADLINE if k != "pump_batch"]
    os.makedirs(out_dir, exist_ok=True)
    for key in keys:
        plan = plan_of(QUERIES[key](spark, SF_DIR))
        path = os.path.join(out_dir, f"{key}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"{key}: {path} (Exchange x{plan.count('Exchange')})")


def main() -> None:
    ap = argparse.ArgumentParser(
        description="Dump headline physical plans: docs/PLANS.md, or one "
        "file per query with --out-dir (scale factor dir from "
        "SPARK_GRAFT_SF_DIR)."
    )
    ap.add_argument(
        "--out-dir",
        help="write <query>_<tag>.txt per query here instead of "
        "regenerating docs/PLANS.md",
    )
    ap.add_argument(
        "--tag", default="before", help="file-name tag (before/after)"
    )
    ap.add_argument(
        "keys", nargs="*", help="queries to dump with --out-dir"
    )
    args = ap.parse_args()
    if args.keys and not args.out_dir:
        ap.error("query keys need --out-dir")
    spark = get_spark(app_name="dump-plans")
    if args.out_dir:
        dump_per_query(spark, args.out_dir, args.tag, args.keys)
        return
    lines = [
        "# Physical plans (generated by tools/dump_plans.py -- do not edit)",
        "",
        f"Scale factor dir: `{SF_DIR}`.  Each section: scale-property summary,",
        "then the full `explain('formatted')` output.",
        "",
        "Note: plans are shown pre-execution (`AdaptiveSparkPlan",
        "isFinalPlan=false`), where Spark does not yet annotate codegen ids --",
        "'codegen spans: 0' means un-annotated, not interpreted; every",
        "Project/Filter/HashAggregate here compiles to whole-stage codegen at",
        "runtime.  Exchange/join counts are the scale-relevant signal.",
        "",
        "## At a glance",
        "",
        "Exchanges = shuffle/broadcast boundaries (fewer = less data motion);",
        "joins: BHJ=broadcast hash, SMJ=sort-merge, SHJ=shuffled hash,",
        "BNLJ=broadcast nested loop; pushed = scans with parquet predicate",
        "pushdown; Expand = grouping-sets/window fan-out nodes.",
        "",
        "| query | exchanges | joins | pushed scans | expands |",
        "|---|---|---|---|---|",
    ]
    sections: list[str] = []
    for key in HEADLINE:
        df = QUERIES[key](spark, SF_DIR)
        plan = plan_of(df)
        st = stats_of(plan)
        jn = ",".join(_ABBREV[j] for j in st["joins"]) or "—"
        lines.append(
            f"| {key} | {st['exchanges']} | {jn} | {st['pushed']} "
            f"| {st['expand']} |"
        )
        sections.append(f"## {key}")
        sections.append("")
        oracle = "oracle-checked" if key in ORACLES else "rows-only"
        sections.append(f"({oracle})")
        sections.append("")
        sections.extend(summarize(plan))
        sections.append("")
        sections.append("```")
        sections.append(plan.rstrip())
        sections.append("```")
        sections.append("")
    lines.append("")
    lines.extend(sections)
    os.makedirs("docs", exist_ok=True)
    with open("docs/PLANS.md", "w") as fh:
        fh.write("\n".join(lines))
    print(f"wrote docs/PLANS.md ({len(HEADLINE)} queries)")


if __name__ == "__main__":
    main()
