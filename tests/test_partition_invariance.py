"""Partition-invariance: results must not depend on parallelism.

The 100 TB correctness property the oracle comparison can't see directly:
a query whose answer changes with the partition count (double-sum ordering,
collect_list order, arbitrary first-seen rows) is broken at scale even if
it matches DuckDB single-threaded.  These tests re-run representative
queries under a different shuffle-partition count AND with the input
pre-split round-robin, asserting bit-identical normalized results.
"""

from __future__ import annotations

import pytest

from mqtt_message_pump_spark.plans import QUERIES

# One representative per determinism mechanism: decimal sums (pricing),
# sorted collect_list (string_agg), window tie-breaks (window_rank),
# iterative convergence (dedup_groups), end-to-end composition
# (corpus_pipeline); multi-stage LSH (minhash_pairs) is in CHECKPOINT_KEYS.
KEYS = [
    "q_pricing_summary",
    "q_string_agg",
    "q_window_rank",
    "q_corpus_pipeline",
    "q_label_centroid",  # int64 nano-unit sums must not drift
    "q_pack_sequences",  # global running sum must not depend on layout
    "q_doc_freq",  # distinct-then-count with top-k tie-break
    # round-3 additions
    "q_volume_shipping",  # multi-join decimal sums across 6 tables
    "q_small_qty_revenue",  # exact cross-multiplied threshold filter
    "q_returned_items",  # top-20 with revenue/custkey tie-break
    "q_top_supplier",  # argmax equality on exact decimal revenue
    "q_decontam",  # group-by-shingle composition
    # round-4 additions
    "q_simhash_pairs",  # banded LSH + in-bucket Hamming verify
    "q_cross_dedup",  # fingerprint-window argmin keep rule
    "q_corpus_mix",  # hash-draw vs broadcast per-source rates
    "q_token_budget",  # double shares from windowed integer sums
    "q_ewma_smooth",  # mapInPandas realigned-batch sequential fold per key
    # round-4 second/third batches
    "q_quality_ecdf",  # cumulative window over compacted distinct values
    "q_entropy_score",  # quantized-ln integer sums across two agg levels
    "q_embed_standardize",  # int64 micro-unit sums -> broadcast stats
    "q_waiting_orders",  # semi+anti correlated probes on one shuffle key
    "q_window_funnel",  # three conditional-MIN stages on user hash
    "q_event_transitions",  # user-partitioned LEAD with (ts, id) ties
    # round-4 fourth batch (adapted TPC-H Q2/Q9/Q20)
    "q_min_cost_supplier",  # double-min equality join per part window
    "q_profit_by_nation",  # 4-way star with decimal profit subtraction
    "q_excess_suppliers",  # integral-double share window + dual semi join
    "q_boiler_strip",  # idx-sorted struct reassembly after anti join
    "q_weighted_sample",  # per-source rank over hash/length priorities
    "q_scd2_intervals",  # change filter + interval close on one sort
    "q_source_kl",  # quantized-ln int sums through a checkpoint
    "q_name_matches",  # token-blocked candidate pairs + distance filter
    "q_dq_report",  # six unioned scan-aggs, anti-join FK probes
    "q_media_dedup",  # binary-hash group with min-id keeper
    "q_table_profile",  # multi-distinct Expand + stack unpivot
    "q_cooccurrence",  # distinct-compact self-join + broadcast supports
    "q_attribution",  # running conditional MAX with 1-PRECEDING frame
    "q_ngram_containment",  # candidate-pair array intersections
    "q_incremental_dedup",  # broadcast probe join + best-match rank
    # round-5 additions
    "q_ntile",  # distributed NTILE: rank must not depend on range splits
    "q_global_rank",  # distributed ROW_NUMBER, same mechanism
]


# Queries that checkpoint a subframe (``plans.registry.materialize_once``),
# compiled in a session clone that must carry the changed shuffle count.
# Fast tier; the sweep over KEYS is slow tier.
CHECKPOINT_KEYS = [
    "q_tfidf_top",  # per-doc argmax with score/term tie-break
    "q_minhash_pairs",  # multi-stage LSH
    "q_bigram_pmi",  # three corpus explodes + quantized-ln rank
]


def _normalized(df):
    cols = sorted(df.columns)
    rows = sorted(
        tuple(str(r[c]) for c in cols) for r in df.collect()
    )
    return rows


def _assert_invariant(key, spark, sf_dir):
    base = _normalized(QUERIES[key](spark, sf_dir))
    assert base
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        repartitioned = _normalized(QUERIES[key](spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)
    assert base == repartitioned, (
        f"{key}: result depends on shuffle partitioning"
    )


@pytest.mark.parametrize("key", KEYS)
def test_result_invariant_under_partitioning(key, spark, sf_dir):
    _assert_invariant(key, spark, sf_dir)


@pytest.mark.parametrize("key", CHECKPOINT_KEYS)
def test_checkpointed_result_invariant_under_partitioning(key, spark, sf_dir):
    _assert_invariant(key, spark, sf_dir)
