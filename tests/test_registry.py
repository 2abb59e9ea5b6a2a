"""Driver-ordering contract: the round driver records only the first
~50 ``queries()`` entries, so every SURVEY §2 family without a past
CORRECTNESS artifact row needs a representative among them."""

from __future__ import annotations

import json
from pathlib import Path

from mkpipe_extractor_clickhouse_spark import registry

REPO = Path(__file__).resolve().parent.parent


def _past_green() -> set[str]:
    green: set[str] = set()
    for path in sorted(REPO.glob("CORRECTNESS_r*.json")):
        data = json.loads(path.read_text())
        green.update(
            name
            for name, row in data.items()
            if row.get("hash_match") is True or row.get("err") == "no_oracle"
        )
    return green


def test_priority_families_in_first_50():
    """Every SURVEY §2 family with no green CORRECTNESS artifact row yet
    has a representative in the first 50 driver slots.

    Artifact-aware by design: once the driver has recorded a family's
    representative green, the slot requirement no longer applies to it.
    """
    first50 = set(list(registry.all_specs())[:50])
    green = _past_green()
    representatives = {
        "u3_intersect": "U3",
        "u4_except": "U4",
        "f1_string_funcs": "F1",
        "f8_casts": "F8",
        "d1_scalar_udf": "D1",
        "d3_python_udtf": "D3",
        "t2_tumbling_window": "T2",
        "t6_late_data_filter": "T6",
        "x1_incremental_replay": "S7/S8/S10/T7",
        "x3_custom_query_splice": "S3",
        "l1_exact_dedup": "L1",
        "l2_jaccard_neardup": "L2",
        "l3_topk_cosine": "L3",
        "l4_distributed_topk": "L4/O4",
        "l5_wordcount": "L5",
        "l6_tfidf": "L6",
        "l7_corpus_profile": "L7",
        "l8_lexicon_score": "L8",
        "l9_label_centroids": "L9",
    }
    missing = {
        fam
        for name, fam in representatives.items()
        if name not in green and name not in first50
    }
    assert not missing, f"§2 families without a driver slot: {missing}"


def test_queries_and_oracles_consistent():
    specs = registry.all_specs()
    q = registry.queries()
    o = registry.oracle_sql()
    assert list(q) == list(specs)
    assert set(o) <= set(q)
    for name, spec in specs.items():
        assert (spec.oracle is not None) == (name in o)


def test_oracle_type_normalization_applied():
    """oracle_sql() must serve the type-normalized oracle: DuckDB
    HUGEINT sums materialize as float64 under a pandas/Arrow driver
    while Spark emits int64 — the round-3 flag mechanism.  The cast
    map must cover the nine r3-flagged queries and the wrapped SQL
    must cast to the Spark-equivalent type."""
    from mkpipe_extractor_clickhouse_spark._oracle_casts import ORACLE_CASTS
    from mkpipe_extractor_clickhouse_spark.registry import oracle_sql

    flagged_int_cols = {
        "ch_kendall_tau": "n",
        "dq3_histogram_drift": "tvd_ppm",
        "ts6_cusum_alarms": "cusum_ndq",
        "g1_markov_stationary": "stationary_ppm",
        "g2_pagerank": "pagerank_ppm",
        "m5_histogram_neardup": "l1",
        "ch_ks_test": "d_num",
        "l52_bigram_lm_score": "mean_cond_prob_ppb",
        "x14_clickhouse_dialect_query": "purchases",
    }
    osql = oracle_sql()
    for name, col in flagged_int_cols.items():
        casts = dict(ORACLE_CASTS[name])
        assert casts[col] == "BIGINT", (name, col, casts)
        assert f'CAST("{col}" AS BIGINT)' in osql[name], name
