"""Registry-wide scale-contract gate against the committed plan baseline.

``tools/plan_audit.py`` sweeps all registry queries and writes
``PLAN_AUDIT.json``; these tests re-audit a representative cross-family
subset on every CI run and pin it to the committed baseline — a change
that adds a shuffle, drops a broadcast join, grows the Pandas-UDF stage
count, or introduces row-at-a-time Python / a cartesian product fails
here instead of on a 100 TB cluster. (The full registry sweep runs
per-round via the tool; the subset keeps the suite fast.)
"""

from __future__ import annotations

import json
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

# one or two per family: TPC-H joins, windows, streaming-table reads,
# dedup (LSH + pandas), ANN, text codegen, curation, SQL surface
AUDIT_SUBSET = [
    "q1_pricing_summary",
    "q8_market_share",
    "q17_small_qty_revenue",
    "window_top3_orders_per_customer",
    "session_windows_30m",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "knn_bruteforce_dot",
    "knn_ivf_probe",
    "knn_pq_adc",
    "gopher_quality_filter",
    "quality_linear_classifier",
    "dedup_strip_dup_chunks",
    "bpe_pair_merge_counts",
    "sql_recursive_order_chain",
    "chunk_documents_sliding",
    "top_event_transitions",
    "profile_table_stats",
    "event_rate_anomaly",
    "knn_hard_negatives",
    "multimodal_audio_energy",
    "session_entry_exit_paths",
    "customer_rfm_segments",
    "debounce_repeated_events",
]


@pytest.fixture(scope="module")
def baseline() -> dict:
    with open(os.path.join(REPO, "PLAN_AUDIT.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("name", AUDIT_SUBSET)
def test_plan_matches_committed_baseline(spark, sf_dir, name, baseline):
    from plan_audit import audit_one

    from polar_spark.queries import QUERIES

    # order-independence: earlier tests may leave tables persisted
    # (the dedup suite caches shingle tables), and a cached relation
    # changes the captured plan (InMemoryTableScan swallows exchanges) —
    # audit from a cache-free catalog so the baseline compare is
    # deterministic regardless of suite order (VERDICT r5 #3)
    spark.catalog.clearCache()
    rec = audit_one(QUERIES[name].fn(spark, sf_dir))
    old = baseline[name]
    assert not rec["python_eval"], f"{name}: row-at-a-time Python appeared"
    assert not rec["cartesian"], f"{name}: cartesian product appeared"
    assert rec["shuffles"] <= old["shuffles"], (
        f"{name}: shuffles {old['shuffles']}→{rec['shuffles']} — a new "
        "exchange is a new 100 TB network pass; justify and re-baseline"
    )
    if old["broadcast"]:
        assert rec["broadcast"], f"{name}: broadcast join lost"
    assert rec["arrow_eval"] <= old["arrow_eval"], (
        f"{name}: Pandas-UDF stages grew {old['arrow_eval']}→{rec['arrow_eval']}"
    )


def test_committed_baseline_has_no_violations(baseline):
    """The committed sweep itself must be violation-free: no registry
    query ships with row-Python or a cartesian product."""
    assert len(baseline) >= 100
    for name, rec in baseline.items():
        assert "error" not in rec, f"{name}: {rec}"
        assert not rec.get("python_eval"), f"{name} has BatchEvalPython"
        assert not rec.get("cartesian"), f"{name} has CartesianProduct"


def test_committed_baseline_covers_whole_registry(baseline):
    """Every registry query has an audit row and vice versa — a
    late-added query can never ship unaudited again (VERDICT r7 #3:
    hybrid_rrf_retrieval landed after the r7 audit regen and the gate
    couldn't see it)."""
    from polar_spark.queries import QUERIES

    assert set(baseline) == set(QUERIES), (
        f"audit/registry drift: missing={sorted(set(QUERIES) - set(baseline))} "
        f"stale={sorted(set(baseline) - set(QUERIES))}"
    )
