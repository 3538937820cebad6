"""Every declared query vs its DuckDB oracle at sf0.001 (local mirror of
the driver's t2 correctness gate — SURVEY.md §5.2)."""

from __future__ import annotations

from pathlib import Path

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_ORACLE
from tests.oracle_utils import assert_matches_oracle

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


def test_every_query_has_an_oracle_or_is_declared_weak():
    """Coverage honesty gate (VERDICT r3 #7): every declared query must
    carry a full DuckDB value-hash oracle — exercised for ALL of them by
    test_query_matches_oracle below, whether or not they sit inside the
    driver's 50-entry window — except an EXACT allow-list of queries
    that are provably non-oracle-able, each of which must have its own
    dedicated in-repo verification test."""
    weak = set(QUERIES) - set(ORACLES)
    # ann_ivf_topk: recall < 1 by construction with driver-trained
    # centroids (proof in its docstring); verified instead by
    # tests/test_extensions.py::test_ivf_topk_structure_and_recall.
    # ann_pq_topk: PQ codes quantize the corpus side, so ranks/scores
    # are approximate by construction; verified by
    # tests/test_extensions.py::test_pq_topk_structure_and_recall.
    allowed_weak = {"ann_ivf_topk", "ann_pq_topk"}
    assert weak == allowed_weak, (
        f"oracle coverage drifted: unexpected weak={weak - allowed_weak}, "
        f"stale allow-list={allowed_weak - weak}"
    )


# Per-family oracle smoke that stays in the driver-facing FAST run
# (pytest.ini `-m "not slow"` — VERDICT r9 #2a: the full 238-oracle
# sweep alone exceeds the driver's verify window). One hash-verified
# representative per extension family + two tutorial anchors; the full
# sweep still runs under `-m slow` / `-m ""` and in the driver_sim.
FAST_ORACLE_SMOKE = {
    "q01_full_scan", "q17_player_stats",           # tutorial
    "supplier_sole_late", "profile_orders",        # retail/analytics
    "events_sessions",                             # events
    "text_quality_score",                          # text
    "dedup_minhash_lsh", "dedup_clusters",         # dedup + CC loop
    "graph_modularity",                            # graph iterative
    "corpus_bpe_merges", "corpus_dsir",            # corpus loops/stats
    "embedding_pca_power", "similarity_topk",      # embedding/matmul
    "asof_purchase_click", "rollup_events",        # asof/rollup
    "mm_features",                                 # multimodal
}


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(
            n,
            marks=() if n in FAST_ORACLE_SMOKE else (pytest.mark.slow,),
        )
        for n in sorted(ORACLES)
    ],
)
def test_query_matches_oracle(spark, name):
    assert name in QUERIES, f"oracle {name} has no query"
    df = QUERIES[name](spark, SF_ORACLE)
    assert_matches_oracle(df, ORACLES[name], SF_ORACLE, name)


def test_fast_oracle_smoke_names_exist():
    missing = FAST_ORACLE_SMOKE - set(ORACLES)
    assert not missing, f"stale FAST_ORACLE_SMOKE names: {missing}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


@pytest.mark.slow
def test_every_query_runs_at_tiniest_sf(spark):
    """Smoke: every declared query executes at sf0.001 (near-empty
    inputs — winnowing windows, LSH buckets, CC loops etc. must not
    crash on degenerate sizes)."""
    from ksql_query_tutorial_spark.extensions import EXTENSION_QUERIES
    from ksql_query_tutorial_spark.queries import TUTORIAL_QUERIES

    sf = "/root/testdata/sf0.001"
    for name, fn in {**TUTORIAL_QUERIES, **EXTENSION_QUERIES}.items():
        df = fn(spark, sf)
        assert df.count() >= 0, name
        assert df.columns, name



@pytest.fixture(scope="module")
def sf_nanos_events(tmp_path_factory):
    """The oracle tables with events.ts stored as parquet TIMESTAMP(NANOS),
    which load() rebuilds as a session-local TIMESTAMP."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ksql_query_tutorial_spark.tables import TABLES

    d = tmp_path_factory.mktemp("sf_nanos")
    for t in TABLES:
        src = Path(SF_ORACLE) / f"{t}.parquet"
        if t == "events":
            tb = pq.read_table(src)
            i = tb.schema.get_field_index("ts")
            pq.write_table(tb.set_column(i, "ts", tb["ts"].cast(pa.timestamp("ns"))),
                           d / f"{t}.parquet")
        else:
            (d / f"{t}.parquet").symlink_to(src)
    return str(d)


def test_window_query_matches_oracle_under_non_utc_session(spark, sf_nanos_events):
    """A driver's own session may carry any time zone: windows over a
    TIMESTAMP(NANOS) events.ts still render in UTC, the oracle's
    naive-UTC convention."""
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        df = QUERIES["q20_windowed_agg"](spark, sf_nanos_events)
        assert_matches_oracle(df, ORACLES["q20_windowed_agg"], sf_nanos_events,
                              "q20_windowed_agg")
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
