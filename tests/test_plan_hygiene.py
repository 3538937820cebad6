"""Global plan-hygiene gate over EVERY declared query (SURVEY.md §2 +
the training-data-pipeline extensions): systemic physical-plan
invariants that individual plan tests (test_plans.py) pin per-query.

Invariants (the brief's 100 TB discipline):

1. ``BatchEvalPython`` — row-at-a-time Python UDF — appears NOWHERE.
   All Python in this engine is Arrow-vectorized.
2. Non-broadcast ``CartesianProduct`` appears NOWHERE. (Broadcast
   nested-loop joins are allowed: every occurrence here is a bounded
   scalar/stat attach — a one-row or few-row aggregate crossJoined
   onto the stream — which shuffles nothing.)
3. Arrow-Python stages (``ArrowEvalPython``, ``MapInPandas``,
   ``FlatMapGroupsInPandas[WithState]``) appear ONLY in queries whose
   operator semantics genuinely need numpy/pandas (MinHash/SimHash
   sketch signatures, pairwise embedding scoring, PQ/IVF codebooks,
   multimodal byte decoding, Bloom-filter state). A JVM-expressible
   query growing a Python stage is a plan regression and fails here.

Caveat: eagerly materialized ``localCheckpoint()`` subtrees print as
``Scan ExistingRDD`` — their internal stages are invisible to explain,
so iterative operators (CC dedup, PageRank, k-core, BPE) are audited
at their building-block queries instead (e.g. ``dedup_minhash_lsh``
covers the sketch feeding ``dedup_clusters_lsh``).

The allowlists are SUPERSETS ("may use Arrow Python"), so moving an
operator to pure JVM never fails; only NEW Python surface does.
Discovery/refresh tool: the ``py`` column of ``tools/plan_audit.py``.
"""

from __future__ import annotations

import pytest

from ksql_query_tutorial_spark.plans.checks import formatted_plan

# Multi-minute sweep: excluded from the driver-facing default run
# (pytest.ini addopts); run with -m slow / -m "".
pytestmark = pytest.mark.slow

SF = "/root/testdata/sf0.001"

# Queries allowed to carry each Arrow-Python stage kind (discovered by
# the py column of tools/plan_audit.py; keep sorted). Everything else must be
# JVM-only at the visible plan level.
ARROW_EVAL_OK = {
    # MinHash / SimHash signatures: per-doc numpy broadcast over the
    # shingle-hash arrays (a k-wide JVM min-agg formulation measured
    # ~100x slower — dedup.py docstrings)
    "dedup_graph_degrees",
    "dedup_incremental",
    "dedup_minhash_eval",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_source_matrix",
    "dedup_shingle_sweep",
    "text_simhash_histogram",
    # embedding hyperplane signatures / quantized scoring
    "ann_ivf_topk",
    "ann_lsh_topk",
    "ann_pq_topk",
    "ann_recall_eval",
    "dedup_embedding_lsh",
    "embedding_threshold_sweep",
}

MAP_IN_PANDAS_OK = {
    # pairwise numpy scoring against a capped broadcast query matrix
    "similarity_topk",
    "similarity_topk_q8",
    "ann_pq_topk",
    "ann_recall_eval",
    # dim x dim Gram accumulation per partition
    "embedding_covariance",
    "embedding_pca_power",
    "embedding_pca_project",
    # multimodal byte decoding (stubbed codecs, real plumbing)
    "mm_frames",
    "mm_features",
    "mm_resize",
    "mm_audio_windows",
}

GROUPED_PANDAS_OK = {
    # per-bucket pairwise verification / packed Bloom probe state
    "decontaminate_bloom",
    "dedup_embedding",
    "dedup_embedding_lsh",
    "embedding_threshold_sweep",
}


@pytest.fixture(scope="module")
def all_plans(spark):
    import __spark_entry__ as em

    plans = {}
    for name, fn in em.queries().items():
        plans[name] = formatted_plan(fn(spark, SF))
        spark.catalog.clearCache()
    return plans


def test_no_row_at_a_time_python_anywhere(all_plans):
    offenders = [n for n, p in all_plans.items() if "BatchEvalPython" in p]
    assert not offenders, f"row-at-a-time Python UDF stages in: {offenders}"


def test_no_nonbroadcast_cartesian_anywhere(all_plans):
    offenders = [n for n, p in all_plans.items() if "CartesianProduct" in p]
    assert not offenders, f"non-broadcast cartesian joins in: {offenders}"


def test_global_windows_only_over_bounded_frames(spark):
    """VERDICT r9 #5: a ``Window`` with no partition spec moves ALL its
    input through one task — fine over a bounded frame (a grouped
    rollup's cells, a top-k limit), a serialization point at 100 TB
    over anything corpus-sized. Audit result (r10): every global-window
    site in the repo sits above an aggregate or limit; this gate keeps
    it that way structurally, for every declared query.

    The same walk over the same built plans also gates scans of
    Python-fed RDDs: driver-local rows enter a query only as
    ``session.local_frame`` local relations."""
    import __spark_entry__ as em

    from ksql_query_tutorial_spark.plans.checks import (
        python_rdd_scans,
        unbounded_global_windows,
    )

    bad, python_fed = {}, {}
    for name, fn in em.queries().items():
        df = fn(spark, SF)
        offenders = unbounded_global_windows(df)
        if offenders:
            bad[name] = offenders
        scans = python_rdd_scans(df)
        if scans:
            python_fed[name] = scans
        spark.catalog.clearCache()
    assert not bad, f"global windows over unbounded input: {bad}"
    assert not python_fed, f"scans of Python-fed RDDs: {python_fed}"


def test_arrow_python_only_where_semantics_need_it(all_plans):
    bad = {}
    for name, plan in all_plans.items():
        kinds = []
        if "ArrowEvalPython" in plan and name not in ARROW_EVAL_OK:
            kinds.append("ArrowEvalPython")
        if "MapInPandas" in plan and name not in MAP_IN_PANDAS_OK:
            kinds.append("MapInPandas")
        if "FlatMapGroupsInPandas" in plan and name not in (
            GROUPED_PANDAS_OK
        ):
            kinds.append("FlatMapGroupsInPandas")
        if kinds:
            bad[name] = kinds
    assert not bad, f"undeclared Arrow-Python stages: {bad}"
