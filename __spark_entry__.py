"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

The real implementations live in the ``shopify_db_spark`` package;
this module only adapts them to the driver's interface.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from shopify_db_spark.plans import load_all  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    specs = load_all()
    return specs["q01_pricing_summary"].fn(spark, SMOKE_SF_DIR)


#: Queries surfaced FIRST in registration order so an order-sensitive
#: 50-query driver sampler reaches them; harmless if the sample is
#: uniform. COMPUTED, not curated (VERDICT r11 item 1): regenerate
#: with ``python scripts/rotation.py`` after the round's last plan
#: change. Order: current-round plan-affected queries (enforced by
#: tests/test_rotation_lint.py), the computed stale set oldest-
#: evidence-first, a FLOOR_K=10 freshness reserve of the globally
#: oldest-evidence queries (VERDICT r12 item 2 — reserved AHEAD of
#: any --must pins so pins can never starve the tail), then pins
#: and the remaining oldest-first tail. The header line below is
#: emitted by the generator and records how many pins were absorbed
#: into higher tiers. Entries past the 50-query sample are next
#: round's starting debt.
# computed by scripts/rotation.py (base 779855c60bab92204d3037de8f86b7c53a673dfc; 166 plan-affected this round; 166 stale; 0 freshness-floor; 0 pins, 0 absorbed)
_DRIVER_SAMPLE_HEAD = [
    "q20_invoice_pipeline",  # round-affected
    "q61_invoice_verify",  # round-affected
    "q62_upsert_merge",  # round-affected
    "q63_csv_roundtrip",  # round-affected
    "q64_json_ingest",  # round-affected
    "q65_json_shipping",  # round-affected
    "q66_json_variants",  # round-affected
    "q67_json_refunds",  # round-affected
    "q68_json_customers",  # round-affected
    "q21_exact_dedup",  # round-affected
    "q22_token_stats",  # round-affected
    "q23_quality_scores",  # round-affected
    "q24_lang_id",  # round-affected
    "q25_ngram_jaccard_pairs",  # round-affected
    "q26_minhash_lsh_pairs",  # round-affected
    "q27_simhash_pairs",  # round-affected
    "q28_winnow_fingerprints",  # round-affected
    "q29_bpe_token_counts",  # round-affected
    "q40_term_stats",  # round-affected
    "q47_corpus_prep",  # round-affected
    "q76_sparse_cosine_retrieval",  # round-affected
    "q84_prefix_filter_jaccard",  # round-affected
    "q86_count_min_sketch",  # round-affected
    "q103_lexical_rarity",  # round-affected
    "q110_bpe_merges",  # round-affected
    "q115_bpe_encode",  # round-affected
    "q130_hll_distinct",  # round-affected
    "q132_hll_overlap",  # round-affected
    "q134_source_keywords",  # round-affected
    "q139_length_quantile_sketch",  # round-affected
    "q145_tokenizer_fertility",  # round-affected
    "q156_budget_mixture",  # round-affected
    "q161_bm25_retrieval",  # round-affected
    "q50_dup_clusters",  # round-affected
    "q51_stratified_sample",  # round-affected
    "q52_length_deciles",  # round-affected
    "q53_contamination",  # round-affected
    "q54_window_chunks",  # round-affected
    "q55_repetition_stats",  # round-affected
    "q56_pii_scan",  # round-affected
    "q57_boilerplate_filter",  # round-affected
    "q58_sequence_packing",  # round-affected
    "q69_geo_heatmap",  # round-affected
    "q70_mixture_weights",  # round-affected
    "q71_shuffle_split",  # round-affected
    "q72_dup_spans",  # round-affected
    "q75_bloom_decontamination",  # round-affected
    "q80_weighted_sample",  # round-affected
    "q85_cross_source_dups",  # round-affected
    "q100_corpus_ship",  # round-affected
    "q123_snapshot_diff",  # round-affected
    "q124_source_drift",  # round-affected
    "q125_canonical_corpus",  # round-affected
    "q128_refresh_dedup",  # round-affected
    "q131_mixture_temperature",  # round-affected
    "q136_split_leakage",  # round-affected
    "q137_cluster_split",  # round-affected
    "q140_target_affinity",  # round-affected
    "q146_soft_dedup_weights",  # round-affected
    "q149_balanced_subsample",  # round-affected
]

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, with
    the rotation head registered first (the driver samples the
    first 50 in registration order)."""
    specs = load_all()
    ordered = {n: specs[n].fn for n in _DRIVER_SAMPLE_HEAD if n in specs}
    ordered.update(
        (n, s.fn) for n, s in specs.items() if n not in ordered
    )
    return ordered


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query; omitted entries (oracle=None)
    are non-SQL-expressible ops that get the weaker rows-only check."""
    return {
        name: spec.oracle
        for name, spec in load_all().items()
        if spec.oracle is not None
    }
