"""Physical-plan regression tests: the scale properties every query
must keep (pushdown, pruning, broadcast, partial agg, JVM-only)."""

from __future__ import annotations

import re
from types import SimpleNamespace

import pytest

from ksql_query_tutorial_spark import queries as Q
from ksql_query_tutorial_spark import tutorial
from ksql_query_tutorial_spark.extensions import (
    EXTENSION_QUERIES,
    corpus_bpe_merges,
    dedup_exact,
    text_quality,
    text_token_stats,
)
from ksql_query_tutorial_spark.ksql.engine import select_over
from ksql_query_tutorial_spark.plans import checks
from ksql_query_tutorial_spark.session import EngineSession, local_frame
from tests.conftest import SF_ORACLE


def test_equality_filter_pushed_to_scan(spark):
    df = Q.TUTORIAL_QUERIES["q05_eq_filter"](spark, SF_ORACLE)
    checks.assert_pushed_filter(df, "EqualTo(c_mktsegment,BUILDING)")


def test_conjunctive_filter_pushed_to_scan(spark):
    df = Q.TUTORIAL_QUERIES["q06_conj_filter"](spark, SF_ORACLE)
    checks.assert_pushed_filter(
        df, "EqualTo(l_returnflag,R)", "EqualTo(l_linestatus,F)"
    )


def test_projection_prunes_scan_columns(spark):
    df = Q.TUTORIAL_QUERIES["q02_projection"](spark, SF_ORACLE)
    checks.assert_scan_pruned_to(
        df, {"c_name", "c_mktsegment"}, {"c_name", "c_mktsegment"}
    )


def test_filter_under_aggregate_pushed(spark):
    # the filter written AFTER the read but BEFORE groupBy must reach the scan
    df = Q.TUTORIAL_QUERIES["q10_filtered_group_count"](spark, SF_ORACLE)
    checks.assert_pushed_filter(df, "EqualTo(event_type,purchase)")
    checks.assert_scan_pruned_to(
        df, {"event_id", "user_id", "event_type"}, {"event_id", "user_id", "event_type"}
    )


def test_bounded_dim_joins_broadcast(spark):
    checks.assert_broadcast_join(Q.TUTORIAL_QUERIES["q14_inner_join"](spark, SF_ORACLE))
    checks.assert_broadcast_join(Q.TUTORIAL_QUERIES["q15_left_join"](spark, SF_ORACLE))


def test_aggregations_are_partial_plus_final(spark):
    checks.assert_partial_aggregation(Q.TUTORIAL_QUERIES["q09_group_count"](spark, SF_ORACLE))
    checks.assert_partial_aggregation(Q.TUTORIAL_QUERIES["q18_multi_group"](spark, SF_ORACLE))


def test_tutorial_queries_have_no_python_stages(spark):
    for name, fn in Q.TUTORIAL_QUERIES.items():
        checks.assert_no_python(fn(spark, SF_ORACLE))


@pytest.mark.parametrize("construct, name, twin", [
    ("UCASE", "q03_ucase", r"\bupper\("),
    ("LATEST_BY_OFFSET", "q13_latest_by_offset", r"\bmax_by\("),
    ("COUNT_DISTINCT", "q12_count_distinct_ratio", r"\bcollect_set\("),
    ("EMIT CHANGES", "q01_full_scan", None),
    ("PARTITION BY user_id", "q19_csas_projection", None),
    ("WINDOW TUMBLING", "q20_windowed_agg", r"\bwindow#"),
    ("WINDOW HOPPING", "q29_hopping_window", r"\bwindow#"),
    ("WINDOW SESSION", "q30_session_window", r"\bsession_window#"),
])
def test_declared_queries_reach_each_dialect_rewrite(spark, construct, name, twin):
    """Each KSQL construct the dialect rewrites is used by a query of
    queries.sql, whose optimized plan holds the construct's Spark twin.
    EMIT CHANGES and PARTITION BY have none: the query plans the same
    with the construct deleted."""
    select = Q.SELECTS[name]
    assert construct in select
    frames = Q.frames(spark, SF_ORACLE, select)
    df = select_over(select, **frames)
    if twin:
        assert re.search(twin, df._jdf.queryExecution().optimizedPlan().toString())
    else:
        assert df.sameSemantics(select_over(select.replace(construct, ""), **frames))


@pytest.mark.parametrize("name", ["q12_count_distinct_ratio", "q17_player_stats"])
def test_count_distinct_aggregates_in_one_shuffle(spark, name):
    """COUNT_DISTINCT compiles to collect_set, one hash aggregation
    beside the others, where count(DISTINCT) plans a second shuffle."""
    df = Q.TUTORIAL_QUERIES[name](spark, SF_ORACLE)
    assert checks.count_physical_nodes(df, "Exchange") == 1
    assert checks.count_physical_nodes(df, "SortAggregate") == 0


def test_text_and_dedup_hot_paths_are_jvm_only(spark):
    for fn in (text_token_stats, text_quality, dedup_exact):
        checks.assert_no_python(fn(spark, SF_ORACLE))


def test_assert_no_python_sees_python_fed_rdd_scans(spark):
    """The list form of createDataFrame scans a Python-fed RDD, which
    assert_no_python must flag; an Arrow-backed local relation and a
    localCheckpoint of the Python-fed frame read no Python rows."""
    fed = spark.createDataFrame([(1,), (2,)], "x int")
    assert checks.python_rdd_scans(fed)
    with pytest.raises(AssertionError, match="Python-fed"):
        checks.assert_no_python(fed.groupBy("x").count())
    checks.assert_no_python(local_frame(spark, [(1,), (2,)], "x int"))
    checks.assert_no_python(fed.localCheckpoint())


PLAYER_STATS_SELECTS = ("SELECT * FROM player_stats EMIT CHANGES;",
                        "SELECT * FROM player_stats WHERE player_id = '1';")


def _ksql_tutorial_session(spark) -> EngineSession:
    """The tutorial's KSQL script, its match events, and one players
    upsert that re-keys an existing PRIMARY KEY."""
    eng = EngineSession(spark)
    eng.ksql(tutorial.SCRIPT.read_text())
    for r in tutorial.MATCH_EVENT_ROWS:
        eng.ksql(
            "INSERT INTO match_event (id, event_type, player_id, home) VALUES "
            f"('{r['id']}', '{r['event_type']}', '{r['player_id']}', "
            f"{str(r['home']).lower()});"
        )
    eng.ksql("INSERT INTO players (id, name, team, nationality) VALUES "
             "('1', 'Lionel Messi', 'Inter Miami', 'Argentinian');")
    return eng


def test_ksql_player_stats_selects_are_jvm_only(spark):
    """The push and pull SELECTs over the player_stats join CTAS read
    the players and match_event topic views as JVM local relations:
    no scan feeds rows from a Python worker."""
    eng = _ksql_tutorial_session(spark)
    for select in PLAYER_STATS_SELECTS:
        checks.assert_no_python(eng.ksql(select))


def test_ksql_player_stats_selects_shuffle_once(spark):
    """The players TABLE view is already its upsert state and
    COUNT_DISTINCT is one collect_set aggregation, so each player_stats
    SELECT shuffles once, for its GROUP BY, with no sort-based
    (two-level distinct) aggregation."""
    eng = _ksql_tutorial_session(spark)
    for select in PLAYER_STATS_SELECTS:
        df = eng.ksql(select)
        assert checks.count_physical_nodes(df, "Exchange") == 1, select
        assert checks.count_physical_nodes(df, "SortAggregate") == 0, select


def test_ksql_table_view_is_one_row_per_key_local_relation(spark):
    """After an upsert on an existing key, the players view is a bare
    local relation holding one row per PRIMARY KEY, the latest one: no
    shuffle re-derives the upsert state on read."""
    eng = _ksql_tutorial_session(spark)
    assert len(eng.topics["players"]) == 11
    df = eng.ksql("SELECT * FROM players;")
    assert checks.count_physical_nodes(df, "Exchange") == 0
    scans = [j for j in checks._plan_nodes(df) if j.nodeName() == "LocalTableScan"]
    assert [j.rows().size() for j in scans] == [10]
    rows = {r.id: (r.team, r["__offset"]) for r in df.collect()}
    assert len(rows) == 10 and rows["1"] == ("Inter Miami", 10)
    # a pull query on the PRIMARY KEY reads the same upsert state
    pulled = eng.ksql("SELECT * FROM players WHERE id = '1';").collect()
    assert [(r.team, r["__offset"]) for r in pulled] == [("Inter Miami", 10)]
    assert eng.ksql("SELECT * FROM players WHERE id = 'absent';").collect() == []


def _stub_node(name, *children):
    """A py4j physical-plan node stand-in with no partition spec."""
    def seq(xs):
        return SimpleNamespace(size=lambda: len(xs), apply=xs.__getitem__,
                               isEmpty=lambda: not xs)
    return SimpleNamespace(nodeName=lambda: name, children=lambda: seq(children),
                           partitionSpec=lambda: seq(()), simpleString=lambda _n: name)


def test_global_window_gate_sees_through_query_stages(spark):
    """An executed AQE plan wraps the whole query in a ResultQueryStage
    and puts each exchange under a ShuffleQueryStage leaf. The gate must
    descend both: it flags a global window over raw rows and passes one
    over a grouped aggregate. LocalLimit bounds rows only per partition,
    so a global window over it is flagged."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    by_k = Window.orderBy("k")
    raw = spark.range(1000).withColumnRenamed("id", "k") \
        .withColumn("r", F.row_number().over(by_k))
    agg = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count() \
        .withColumn("r", F.row_number().over(by_k))
    for df in (raw, agg):
        assert "ShuffleQueryStage" in checks.executed_plan(df)
    assert [s.split()[0] for s in checks.unbounded_global_windows(raw)] == ["Window"]
    assert checks.unbounded_global_windows(agg) == []

    tree = _stub_node("Window", _stub_node("LocalLimit", _stub_node("Scan parquet")))
    stub = SimpleNamespace(_jdf=SimpleNamespace(
        queryExecution=lambda: SimpleNamespace(executedPlan=lambda: tree)))
    assert checks.unbounded_global_windows(stub) == ["Window"]


def test_bpe_merges_rules_frame_is_jvm_only(spark):
    """The learned merge rules come back as an Arrow-backed local
    relation, not a scan of a Python-fed RDD."""
    checks.assert_no_python(corpus_bpe_merges(spark, SF_ORACLE))


def test_wholestage_codegen_active(spark):
    checks.assert_wholestage_codegen(Q.TUTORIAL_QUERIES["q18_multi_group"](spark, SF_ORACLE))
    checks.assert_wholestage_codegen(Q.TUTORIAL_QUERIES["q17_player_stats"](spark, SF_ORACLE))

def test_range_join_is_equality_not_nested_loop(spark):
    """The bucketized range join must plan as a shuffle/broadcast HASH
    or sort-merge join — a BroadcastNestedLoopJoin means the binning
    regressed to a theta join (O(n·m) at scale)."""
    from ksql_query_tutorial_spark.extensions import range_orders_90d
    from ksql_query_tutorial_spark.plans.checks import formatted_plan
    from tests.conftest import SF_ORACLE

    plan = formatted_plan(range_orders_90d(spark, SF_ORACLE))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan), plan


def test_asof_join_single_keyed_window(spark):
    """As-of join: window over the union, no join node at all (the
    range-join formulation would explode); exactly one window sort."""
    from ksql_query_tutorial_spark.extensions import asof_purchase_click
    from ksql_query_tutorial_spark.plans.checks import formatted_plan
    from tests.conftest import SF_ORACLE

    plan = formatted_plan(asof_purchase_click(spark, SF_ORACLE))
    assert "Window" in plan, plan
    for node in ("SortMergeJoin", "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert node not in plan, f"unexpected {node} in as-of plan:\n{plan}"


def test_rollup_scans_raw_table_once(spark):
    """Hypertable rollup: the day level re-aggregates hourly partials —
    the events parquet must appear in (at most) one scan subtree reused
    across both levels, never two independent full scans."""
    from ksql_query_tutorial_spark.extensions import rollup_events
    from ksql_query_tutorial_spark.plans.checks import executed_plan
    from tests.conftest import SF_ORACLE

    plan = executed_plan(rollup_events(spark, SF_ORACLE))
    import re

    scans = len(re.findall(r"FileScan parquet|Scan parquet", plan))
    reused = len(re.findall(r"ReusedExchange|TableCacheQueryStage", plan))
    assert scans <= 1 or reused >= 1, (
        f"rollup re-scans the raw table (scans={scans}, reused={reused}):\n{plan}"
    )


def test_ivf_assignment_is_arrow_batched(spark):
    """IVF centroid assignment must be an Arrow-batched Python stage
    (ArrowEvalPython / MapInPandas), never row-at-a-time BatchEvalPython."""
    from ksql_query_tutorial_spark.extensions import ann_ivf_topk
    from ksql_query_tutorial_spark.plans.checks import formatted_plan
    from tests.conftest import SF_ORACLE

    plan = formatted_plan(ann_ivf_topk(spark, SF_ORACLE))
    assert "BatchEvalPython" not in plan, plan


def test_kmv_has_no_window_sort(spark):
    """KMV sketch: the k-smallest must come from the two-level
    (group, partition) JVM merge, never a per-group row_number window
    (which sorts the full distinct vocabulary per group on a single
    reducer — VERDICT r4 #4). Pure JVM: no Python stage either."""
    from ksql_query_tutorial_spark.extensions import corpus_kmv_vocab
    from ksql_query_tutorial_spark.plans.checks import formatted_plan
    from tests.conftest import SF_ORACLE

    plan = formatted_plan(corpus_kmv_vocab(spark, SF_ORACLE))
    assert "Window" not in plan, plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan, plan


def test_multiway_join_broadcasts_bounded_dims(spark):
    """q23: nation/region must be broadcast (map-side), never shuffled."""
    from ksql_query_tutorial_spark.plans.checks import formatted_plan
    from tests.conftest import SF_ORACLE

    plan = formatted_plan(Q.TUTORIAL_QUERIES["q23_revenue_by_region"](spark, SF_ORACLE))
    import re

    assert len(re.findall(r"BroadcastHashJoin", plan)) >= 2, plan


def test_corpus_split_is_narrow_no_shuffle(spark):
    """Split assignment must stay a pure map over the scan: zero
    exchanges, scan pruned to the selected columns."""
    from ksql_query_tutorial_spark.extensions import corpus_split

    df = corpus_split(spark, SF_ORACLE)
    plan = checks.formatted_plan(df)
    assert "Exchange" not in plan, plan
    checks.assert_scan_pruned_to(
        df, {"doc_id", "lang"}, {"doc_id", "lang"}
    )


def test_corpus_shuffle_has_no_unpartitioned_data_window(spark):
    """The global rank must come from the two-level bucket scheme: the
    only window without partition keys is the one over the bounded
    per-bucket count table (at most n_buckets rows), never over row
    data. Detect by asserting every unpartitioned window sits above an
    aggregate (the counts), not above the raw scan."""
    import re

    from ksql_query_tutorial_spark.extensions import corpus_shuffle

    df = corpus_shuffle(spark, SF_ORACLE)
    plan = checks.formatted_plan(df)
    # the data-bearing rank window is partitioned by the bucket column
    assert re.search(r"row_number\(\).*windowspecdefinition\(__b", plan.replace("\n", " ")), plan


def test_text_quality_score_single_doc_keyed_shuffle(spark):
    """One exchange (the doc-keyed rollup reuses the explicit
    repartition), no Python stages — the portable char fold stays a
    JVM higher-order function."""
    from ksql_query_tutorial_spark.operators.text import with_quality_score
    from ksql_query_tutorial_spark.tables import load

    d = load(spark, SF_ORACLE, "documents")
    df = with_quality_score(d)
    plan = checks.formatted_plan(df)
    # count tree nodes, not the per-node detail headers
    assert plan.count("+- Exchange") == 1, plan
    checks.assert_no_python(df)
    assert "HashAggregate" in plan  # partial+final rollup


def test_pq_search_stage1_scans_codes_not_vectors(spark):
    """PQ top-k: the stage-1 scoring input carries (nid, codes) only —
    the full vectors enter the plan solely through the bounded
    candidate join (stage 2)."""
    from ksql_query_tutorial_spark.extensions import ann_pq_topk

    df = ann_pq_topk(spark, SF_ORACLE)
    plan = checks.formatted_plan(df)
    assert "MapInPandas" in plan  # Arrow-batched encode+score stages
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_events_props_stats_is_jvm_json_parse(spark):
    """The schemaless-JSON extraction must be ``from_json`` (JVM
    codegen), never a Python JSON loop, with partial+final aggregation
    around the group-by exchange."""
    from ksql_query_tutorial_spark.extensions import EXTENSION_QUERIES

    df = EXTENSION_QUERIES["events_props_stats"](spark, SF_ORACLE)
    checks.assert_no_python(df)
    checks.assert_partial_aggregation(df)
    plan = checks.formatted_plan(df)
    assert "from_json" in plan, plan


def test_events_retention_two_bounded_exchanges(spark):
    """Retention must shuffle full data at most once (user-keyed
    collect_set); the (cohort, offset) rollup exchange carries only
    post-partial-agg cells."""
    from ksql_query_tutorial_spark.extensions import EXTENSION_QUERIES

    df = EXTENSION_QUERIES["events_retention"](spark, SF_ORACLE)
    plan = checks.formatted_plan(df)
    assert plan.count("+- Exchange") <= 2, plan
    checks.assert_no_python(df)
    checks.assert_scan_pruned_to(
        df, {"user_id", "ts"}, {"user_id", "ts"}
    )


def test_cluster_assign_broadcasts_centroids_single_shuffle(spark):
    """The centroid side must be broadcast (bounded limit-k), candidates
    must collapse via partial max_by before the lone exchange, and the
    whole pipeline stays JVM-side."""
    from ksql_query_tutorial_spark.extensions import embedding_cluster_assign

    df = embedding_cluster_assign(spark, SF_ORACLE)
    plan = checks.formatted_plan(df)
    checks.assert_broadcast_join(df)
    checks.assert_no_python(df)
    # max_by over a struct ordering plans as SortAggregate; the partial
    # half must sit below the exchange so only one row per vector moves
    assert "partial_max_by" in plan, plan
    assert plan.count("Arguments: hashpartitioning") == 1, plan
    # centroid side must never range-shuffle the corpus
    assert "rangepartitioning" not in plan, plan


def test_events_anomaly_broadcasts_stats(spark):
    """The per-type stats side is |types| rows and must come back as a
    broadcast join; everything stays JVM-side with map-side partials."""
    from ksql_query_tutorial_spark.extensions import EXTENSION_QUERIES

    df = EXTENSION_QUERIES["events_anomaly"](spark, SF_ORACLE)
    checks.assert_broadcast_join(df)
    checks.assert_no_python(df)
    checks.assert_partial_aggregation(df)


def test_label_centroids_single_dim_bounded_exchange(spark):
    """The dim-fold must be a narrow posexplode; the lone exchange
    carries |labels × d| cells after partial aggregation."""
    from ksql_query_tutorial_spark.extensions import embedding_label_centroids

    df = embedding_label_centroids(spark, SF_ORACLE)
    plan = checks.formatted_plan(df)
    checks.assert_no_python(df)
    checks.assert_partial_aggregation(df)
    assert plan.count("Arguments: hashpartitioning") == 1, plan
    checks.assert_scan_pruned_to(
        df, {"label", "embedding"}, {"label", "embedding"}
    )


def test_text_entropy_two_grouped_aggregates(spark):
    """Char entropy is two grouped aggregates — (doc, char) counts then
    the doc-keyed fold — both with map-side partials, no Python."""
    from ksql_query_tutorial_spark.extensions import text_entropy

    df = text_entropy(spark, SF_ORACLE)
    plan = checks.formatted_plan(df)
    checks.assert_no_python(df)
    checks.assert_partial_aggregation(df)
    assert plan.count("Arguments: hashpartitioning") == 2, plan


def test_salted_agg_is_two_level_jvm(spark):
    """Salted aggregation must plan as two partial+final aggregate
    levels (≥4 HashAggregates) with no Python stages."""
    from ksql_query_tutorial_spark.extensions import EXTENSION_QUERIES

    df = EXTENSION_QUERIES["events_salted_agg"](spark, SF_ORACLE)
    plan = checks.formatted_plan(df)
    checks.assert_no_python(df)
    import re

    assert len(re.findall(r"HashAggregate", plan)) >= 4, plan


def test_audit_referential_uses_anti_joins_not_cartesian(spark):
    """Referential checks must be anti joins; domain filters must reach
    the scans."""

    df = EXTENSION_QUERIES["audit_referential"](spark, SF_ORACLE)
    plan = checks.formatted_plan(df)
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan, plan
    checks.assert_no_python(df)


def test_corpus_diff_is_single_id_keyed_join(spark):
    """Snapshot diff must be one id-keyed join (sort-merge or hash),
    never nested-loop, with both snapshot filters pushed to the scan
    and no Python stages."""
    from ksql_query_tutorial_spark.extensions import corpus_diff

    df = corpus_diff(spark, SF_ORACLE)
    plan = checks.formatted_plan(df)
    assert "FullOuter" in plan, plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan, plan
    checks.assert_no_python(df)


def test_cooccurrence_pair_generation_is_narrow(spark):
    """Pair generation must be the nested transform/slice explode —
    never a positions self-join (no join may appear below the first
    aggregate) and no Python stages."""
    import re

    from ksql_query_tutorial_spark.extensions import corpus_cooccurrence

    df = corpus_cooccurrence(spark, SF_ORACLE)
    plan = checks.formatted_plan(df)
    checks.assert_no_python(df)
    assert "CartesianProduct" not in plan, plan
    # the only joins are the two unigram-count equi-joins and the
    # 1-row totals broadcast; a positions self-join would add a third
    # equi-join keyed on doc_id (count tree nodes, not detail headers)
    tree = plan.split("(1) Scan")[0]
    equi = len(re.findall(r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", tree))
    assert equi <= 2, tree
    assert "Generate" in tree, tree
    # the totals row must reuse the pair/unigram aggregation exchanges,
    # not recompute them (ReusedExchange materializes under AQE)
    executed = checks.executed_plan(corpus_cooccurrence(spark, SF_ORACLE))
    assert len(re.findall(r"ReusedExchange", executed)) >= 2, executed


def test_moving_avg_single_window_exchange(spark):
    """All three window expressions share one partitionBy(user) spec:
    exactly one exchange, one Window operator stack, no Python."""
    from ksql_query_tutorial_spark.extensions import EXTENSION_QUERIES

    df = EXTENSION_QUERIES["events_moving_avg"](spark, SF_ORACLE)
    plan = checks.formatted_plan(df)
    checks.assert_no_python(df)
    assert plan.count("Arguments: hashpartitioning") == 1, plan


def test_r5_late_ops_stay_jvm_side(spark):
    """Plan floor for the r5-late analytic ops: no Python stages in any
    of them (hybrid's legs are HOF/JVM; everything else is pure
    expression + aggregate), and no cartesian products."""
    from ksql_query_tutorial_spark.plans.checks import (
        assert_no_python,
        executed_plan,
    )

    sf = "/root/testdata/sf0.001"
    for name in ("events_markov", "corpus_novelty", "corpus_mix_temperature",
                 "events_histogram", "customer_rfm", "hybrid_search"):
        df = EXTENSION_QUERIES[name](spark, sf)
        assert_no_python(df)
        plan = executed_plan(df).split("== Initial Plan ==")[0]
        assert "CartesianProduct" not in plan, (name, plan)


def test_markov_single_user_exchange(spark):
    """The lag window and nothing else touches raw events: exactly one
    hashpartitioning(user_id) exchange in the final plan."""
    import re

    from ksql_query_tutorial_spark.extensions import EXTENSION_QUERIES
    from ksql_query_tutorial_spark.plans.checks import executed_plan

    df = EXTENSION_QUERIES["events_markov"](spark, "/root/testdata/sf0.001")
    plan = executed_plan(df).split("== Initial Plan ==")[0]
    assert len(re.findall(r"hashpartitioning\(user_id", plan)) == 1, plan


def test_hll_sketch_is_jvm_partial_agg_no_window(spark):
    """events_hll_users: the register build must be a hashAggregate
    with map-side partials (max is algebraic), with no window, no
    sort, and no Python stage — the constant-state sketch shape."""
    from ksql_query_tutorial_spark.extensions import events_hll_users
    from ksql_query_tutorial_spark.plans.checks import (
        assert_no_python,
        assert_partial_aggregation,
        formatted_plan,
    )
    from tests.conftest import SF_ORACLE

    df = events_hll_users(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "Window" not in plan, plan
    assert_partial_aggregation(df)
    assert_no_python(df)


def test_top_customers_broadcasts_nation_and_windows_post_agg(spark):
    """orders_top_customers: the 25-row nation dim must broadcast, and
    BOTH rank windows must sit above the custkey revenue rollup (the
    window input is the per-customer aggregate, never raw orders)."""
    import re
    from ksql_query_tutorial_spark.plans.checks import formatted_plan
    from tests.conftest import SF_ORACLE

    plan = formatted_plan(EXTENSION_QUERIES["orders_top_customers"](spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan, plan
    assert len(re.findall(r"\bWindow\b", plan)) >= 2, plan
    # the orders scan feeds a partial-then-final aggregate before any
    # window: partial_sum markers prove map-side combine on revenue
    assert "partial_" in plan.lower() or "HashAggregate" in plan, plan


def test_pareto_window_input_is_customer_aggregate(spark):
    """orders_pareto: the cumulative window must consume the custkey
    rollup output; the 5-row region stats join back as a broadcast."""
    from ksql_query_tutorial_spark.plans.checks import formatted_plan
    from tests.conftest import SF_ORACLE

    plan = formatted_plan(EXTENSION_QUERIES["orders_pareto"](spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan, plan
    assert "Window" in plan, plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan, plan


def test_pricing_summary_pushes_filter_and_prunes_scan(spark):
    """lineitem_pricing_summary: the shipdate cutoff must reach the
    parquet scan as a pushed filter and the scan must read only the 7
    referenced columns — the TPC-H Q1 plan floor."""
    from ksql_query_tutorial_spark.plans.checks import (
        assert_no_python,
        assert_partial_aggregation,
        formatted_plan,
    )
    from tests.conftest import SF_ORACLE

    df = EXTENSION_QUERIES["lineitem_pricing_summary"](spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in plan, plan
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate",
    }, cols
    assert_partial_aggregation(df)
    assert_no_python(df)


def test_session_stats_single_user_exchange(spark):
    """events_sessions: the lag flag, the running session index, and
    the (user, session) collapse must reuse ONE user-keyed exchange."""
    import re

    from ksql_query_tutorial_spark.extensions import EXTENSION_QUERIES
    from ksql_query_tutorial_spark.plans.checks import formatted_plan
    from tests.conftest import SF_ORACLE

    plan = formatted_plan(EXTENSION_QUERIES["events_sessions"](spark, SF_ORACLE))
    # exchanges: one hashpartitioning on user_id for the windows +
    # (user, _sess) group, one for the final per-day rollup
    n_exchanges = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_exchanges <= 2, plan


def test_bpe_pair_argmax_is_take_ordered_no_global_sort(spark):
    """The BPE trainer's per-round argmax must compile to
    TakeOrderedAndProject over a partial+final pair-count aggregate —
    never a global Sort — and stay JVM-only (the zip_with pair explode
    is a codegen HOF, not Python)."""
    from pyspark.sql import functions as F

    from ksql_query_tutorial_spark.operators.corpus import (
        _bpe_pair_argmax, tokens,
    )
    from ksql_query_tutorial_spark.tables import load
    from tests.conftest import SF_ORACLE

    state = (
        load(spark, SF_ORACLE, "documents")
        .select(F.explode(tokens(F.col("text"))).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            "freq",
            F.concat(
                F.split("word", ""), F.array(F.lit("</w>"))
            ).alias("syms"),
        )
    )
    df = _bpe_pair_argmax(state)
    plan = checks.formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "\n   Sort " not in plan, plan  # no standalone global sort
    checks.assert_partial_aggregation(df)
    checks.assert_no_python(df)


def test_profile_no_expand_single_column_branches(spark):
    """profile_orders: one single-COLUMN aggregate branch per profiled
    column, NO Expand anywhere (r9: the former one-pass multi-distinct
    aggregate expanded every full-width row |cols|+1 times before the
    partial agg — measured 3.1× slower at sf0.1). Each branch's scan
    must be pruned to exactly its own column so the union's combined
    I/O equals the old single scan's."""
    import re
    from ksql_query_tutorial_spark.extensions.retail_q import PROFILE_COLUMNS
    from ksql_query_tutorial_spark.plans.checks import (
        assert_no_python,
        formatted_plan,
    )
    from tests.conftest import SF_ORACLE

    df = EXTENSION_QUERIES["profile_orders"](spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "Expand" not in plan, plan
    # one pruned scan per profiled column, each reading only that column
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
    assert n_scans == len(PROFILE_COLUMNS), plan
    read_schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    single_col = [s for s in read_schemas if s.count(":") == 1]
    assert len(single_col) == len(PROFILE_COLUMNS), read_schemas
    assert_no_python(df)


def test_decay_broadcasts_tmax_single_user_exchange(spark):
    """events_decay: the corpus-max timestamp is a broadcast 1-row
    aggregate; the only hash exchange is the user rollup; weights stay
    in codegen."""
    import re

    from ksql_query_tutorial_spark.extensions import EXTENSION_QUERIES
    from ksql_query_tutorial_spark.plans.checks import (
        assert_no_python,
        assert_partial_aggregation,
        formatted_plan,
    )
    from tests.conftest import SF_ORACLE

    df = EXTENSION_QUERIES["events_decay"](spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "BroadcastExchange" in plan, plan
    n_hash = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_hash <= 1, plan
    assert_partial_aggregation(df)
    assert_no_python(df)


def test_levenshtein_pairs_is_block_equijoin(spark):
    """dedup_levenshtein: candidates must come from an equality join on
    the block key — no cartesian/nested-loop — with the verify as a
    JVM levenshtein on bounded prefixes."""
    from ksql_query_tutorial_spark.extensions import dedup_levenshtein
    from ksql_query_tutorial_spark.plans.checks import (
        assert_no_python,
        formatted_plan,
    )
    from tests.conftest import SF_ORACLE

    df = dedup_levenshtein(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "levenshtein" in plan, plan
    assert_no_python(df)


def test_shipping_priority_q3_plan_floor(spark):
    """orders_shipping_priority: segment dim broadcast, date filters
    pushed to both fact scans, top-N via TakeOrderedAndProject (never a
    global sort)."""
    from ksql_query_tutorial_spark.plans.checks import (
        assert_broadcast_join,
        assert_no_python,
        assert_pushed_filter,
        formatted_plan,
    )
    from tests.conftest import SF_ORACLE

    df = EXTENSION_QUERIES["orders_shipping_priority"](spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "Sort " not in plan or "TakeOrderedAndProject" in plan
    assert_broadcast_join(df)
    assert_pushed_filter(df, "LessThan(o_orderdate", "GreaterThan(l_shipdate")
    assert_no_python(df)


def test_inverted_index_two_level_no_window(spark):
    """corpus_index: the posting sample must ride the two-level
    k-smallest merge (grouped aggregates, map-side partials) — no
    Window sort over full posting lists, no Python."""
    from ksql_query_tutorial_spark.extensions import corpus_index
    from ksql_query_tutorial_spark.plans.checks import (
        assert_no_python,
        assert_partial_aggregation,
        formatted_plan,
    )
    from tests.conftest import SF_ORACLE

    df = corpus_index(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "Window" not in plan, plan
    assert_partial_aggregation(df)
    assert_no_python(df)


def test_count_distribution_q13_plan_floor(spark):
    """orders_count_distribution: left join preserved (zero bucket),
    the histogram re-aggregate keyed on the tiny count domain, no
    cartesian, all JVM."""
    from ksql_query_tutorial_spark.plans.checks import (
        assert_no_python,
        assert_partial_aggregation,
        formatted_plan,
    )
    from tests.conftest import SF_ORACLE

    df = EXTENSION_QUERIES["orders_count_distribution"](spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "LeftOuter" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert_partial_aggregation(df)
    assert_no_python(df)


def test_revenue_delta_q6_scan_anchor(spark):
    """lineitem_revenue_delta: every predicate pushed to the scan, the
    scan pruned to the three referenced columns, one-row aggregate."""
    import re
    from ksql_query_tutorial_spark.plans.checks import (
        assert_no_python,
        assert_pushed_filter,
        formatted_plan,
    )
    from tests.conftest import SF_ORACLE

    df = EXTENSION_QUERIES["lineitem_revenue_delta"](spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert_pushed_filter(
        df,
        "GreaterThanOrEqual(l_shipdate",
        "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount",
        "LessThan(l_quantity",
    )
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"l_quantity", "l_extendedprice", "l_discount",
                    "l_shipdate"}, cols
    assert_no_python(df)


def test_corpus_drift_single_category_exchange(spark):
    """corpus_drift: one conditional-sum rollup on the category key —
    ONE scan, no per-split scans, no join; the totals window's
    single-task input is the |categories| rollup, never row data."""
    import re

    from ksql_query_tutorial_spark.extensions import corpus_drift
    from ksql_query_tutorial_spark.plans.checks import (
        assert_no_python,
        assert_partial_aggregation,
        formatted_plan,
    )
    from tests.conftest import SF_ORACLE

    df = corpus_drift(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "Join" not in plan, plan
    assert_partial_aggregation(df)
    assert_no_python(df)


def test_matryoshka_single_label_exchange_jvm(spark):
    """embedding_matryoshka: per-row JVM fold + one label-keyed rollup
    — no Python stage, no second scan."""
    import re

    from ksql_query_tutorial_spark.extensions import embedding_matryoshka
    from ksql_query_tutorial_spark.plans.checks import (
        assert_no_python,
        assert_partial_aggregation,
        formatted_plan,
    )
    from tests.conftest import SF_ORACLE

    df = embedding_matryoshka(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert_partial_aggregation(df)
    assert_no_python(df)


def test_tfidf_df_pass_has_no_second_doc_term_exchange(spark):
    """corpus_tfidf: the df table must come from the per-doc-distinct
    explode (one term-keyed exchange), not from re-executing the
    (doc, term) postings exchange — exactly 2 hash exchanges total."""
    import re

    from ksql_query_tutorial_spark.extensions import corpus_tfidf
    from ksql_query_tutorial_spark.plans.checks import formatted_plan
    from tests.conftest import SF_ORACLE

    plan = formatted_plan(corpus_tfidf(spark, SF_ORACLE))
    n = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n <= 2, plan


def test_winsorized_two_grouped_aggs_broadcast_bounds(spark):
    """orders_winsorized: group percentiles broadcast back (|groups|
    rows), both rollups partial-aggregated, no window/sort over fact
    rows, all JVM."""
    from ksql_query_tutorial_spark.plans.checks import (
        assert_broadcast_join,
        assert_no_python,
        assert_partial_aggregation,
        formatted_plan,
    )
    from tests.conftest import SF_ORACLE

    df = EXTENSION_QUERIES["orders_winsorized"](spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "Window" not in plan, plan
    assert_broadcast_join(df)
    assert_partial_aggregation(df)
    assert_no_python(df)


def test_k_anonymity_two_bounded_aggregates(spark):
    """privacy_k_anonymity: quasi-key rollup then a class-size-keyed
    re-aggregate (bounded domain) — no windows, no joins, all JVM."""
    from ksql_query_tutorial_spark.extensions import EXTENSION_QUERIES
    from ksql_query_tutorial_spark.plans.checks import (
        assert_no_python,
        assert_partial_aggregation,
        formatted_plan,
    )
    from tests.conftest import SF_ORACLE

    df = EXTENSION_QUERIES["privacy_k_anonymity"](spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "Window" not in plan and "Join" not in plan, plan
    assert_partial_aggregation(df)
    assert_no_python(df)


def test_seasonal_baseline_joins_bounded_hourly_table(spark):
    """events_seasonal_baseline: the self-join runs over the hourly
    rollup (|types × hours| rows), never over raw events — both join
    inputs must sit above aggregates; equality join only."""
    from ksql_query_tutorial_spark.extensions import EXTENSION_QUERIES
    from ksql_query_tutorial_spark.plans.checks import (
        assert_no_python,
        formatted_plan,
    )
    from tests.conftest import SF_ORACLE

    df = EXTENSION_QUERIES["events_seasonal_baseline"](spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert_no_python(df)


def test_multitouch_no_join_single_user_exchange(spark):
    """events_multitouch: per-type counts via RANGE windows on one
    user-keyed exchange — no conversion-to-touch join anywhere."""
    import re

    from ksql_query_tutorial_spark.extensions import EXTENSION_QUERIES
    from ksql_query_tutorial_spark.plans.checks import (
        assert_no_python,
        formatted_plan,
    )
    from tests.conftest import SF_ORACLE

    df = EXTENSION_QUERIES["events_multitouch"](spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "Join" not in plan, plan
    n_hash = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_hash <= 1, plan
    assert_no_python(df)


def test_incremental_rollup_merge_is_bounded(spark):
    """events_incremental_rollup: the merge re-aggregate consumes the
    two partial rollups (≤ 2·|keys| rows), both with map-side
    partials; cutoff filters pushed to both scans; all JVM."""
    from ksql_query_tutorial_spark.extensions import EXTENSION_QUERIES
    from ksql_query_tutorial_spark.plans.checks import (
        assert_no_python,
        assert_partial_aggregation,
        assert_pushed_filter,
        formatted_plan,
    )
    from tests.conftest import SF_ORACLE

    df = EXTENSION_QUERIES["events_incremental_rollup"](spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "Union" in plan, plan
    assert_pushed_filter(df, "LessThan(ts,", "GreaterThanOrEqual(ts,")
    assert_partial_aggregation(df)
    assert_no_python(df)


def test_correlations_and_ab_test_single_pass(spark):
    """lineitem_correlations / events_ab_test: one scan, one aggregate
    pipeline each, matrix/readout assembled from the single wide row;
    all JVM."""
    import re

    from ksql_query_tutorial_spark.extensions import events_ab_test
    from ksql_query_tutorial_spark.plans.checks import (
        assert_no_python,
        formatted_plan,
    )
    from tests.conftest import SF_ORACLE

    for fn in (EXTENSION_QUERIES["lineitem_correlations"], events_ab_test):
        df = fn(spark, SF_ORACLE)
        plan = formatted_plan(df)
        assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
        assert "Join" not in plan, plan
        assert_no_python(df)


def test_cohort_ltv_window_over_bounded_cells(spark):
    """orders_cohort_ltv: the cumulative window's input is the
    (cohort, offset) aggregate — calendar-bounded cells, never order
    rows — and the cohort tables ride broadcast joins."""
    import re
    from ksql_query_tutorial_spark.plans.checks import (
        assert_broadcast_join,
        assert_no_python,
        assert_partial_aggregation,
        formatted_plan,
    )
    from tests.conftest import SF_ORACLE

    df = EXTENSION_QUERIES["orders_cohort_ltv"](spark, SF_ORACLE)
    plan = formatted_plan(df)
    flat = plan.replace("\n", " ")
    # the ONLY window is partitioned by cohort_month over the
    # aggregated cells (Window node sits above the HashAggregate)
    m = re.search(r"windowspecdefinition\(cohort_month", flat)
    assert m, plan
    assert_broadcast_join(df)
    assert_partial_aggregation(df)
    assert_no_python(df)


def test_audio_windows_zero_shuffle_generator(spark):
    """mm_audio_windows: window fan-out is a sequence+explode
    generator fused into the scan stage — no Exchange anywhere except
    the final presentation sort, no Python."""
    import re

    from ksql_query_tutorial_spark.extensions import mm_audio_windows
    from ksql_query_tutorial_spark.plans.checks import (
        assert_no_python,
        formatted_plan,
    )
    from tests.conftest import SF_ORACLE

    df = mm_audio_windows(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "Generate explode" in plan or "Generate" in plan, plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 0, plan
    assert_no_python(df)


def test_returned_revenue_q10_plan_floor(spark):
    """orders_returned_revenue: return/date filters pushed, dims
    broadcast AFTER the per-customer rollup, TakeOrderedAndProject
    top-N, all JVM."""
    from ksql_query_tutorial_spark.plans.checks import (
        assert_broadcast_join,
        assert_no_python,
        assert_partial_aggregation,
        assert_pushed_filter,
        formatted_plan,
    )
    from tests.conftest import SF_ORACLE

    df = EXTENSION_QUERIES["orders_returned_revenue"](spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert_pushed_filter(
        df, "EqualTo(l_returnflag,R)", "GreaterThanOrEqual(o_orderdate"
    )
    assert_broadcast_join(df)
    assert_partial_aggregation(df)
    assert_no_python(df)


def test_large_volume_q18_plan_floor(spark):
    """orders_large_volume: the HAVING filter sits on the aggregate
    BEFORE the join-back, partial aggregation on the lineitem rollup,
    lineitem scan pruned to the two rollup columns, all JVM."""
    from ksql_query_tutorial_spark.plans.checks import (
        assert_no_python,
        assert_partial_aggregation,
        formatted_plan,
        read_schemas,
    )
    from tests.conftest import SF_ORACLE

    df = EXTENSION_QUERIES["orders_large_volume"](spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert_partial_aggregation(df)
    assert_no_python(df)
    # the lineitem scan reads only the rollup columns
    assert any(
        "l_orderkey" in s and "l_quantity" in s and "l_extendedprice" not in s
        for s in read_schemas(df)
    ), read_schemas(df)
    # HAVING: a filter on the aggregated column appears in the plan
    assert "total_qty" in plan and "Filter" in plan, plan


def test_gap_fill_plan_floor(spark):
    """events_gap_fill: executor-side spine generator (Generate
    explode), event-type filter pushed to the scan, windows keyed on
    user (no global single-partition window), all JVM."""
    import re

    from ksql_query_tutorial_spark.extensions import EXTENSION_QUERIES
    from ksql_query_tutorial_spark.plans.checks import (
        assert_no_python,
        assert_partial_aggregation,
        assert_pushed_filter,
        formatted_plan,
    )
    from tests.conftest import SF_ORACLE

    df = EXTENSION_QUERIES["events_gap_fill"](spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "Generate" in plan, plan
    assert_pushed_filter(df, "EqualTo(event_type,purchase)")
    assert_partial_aggregation(df)
    assert_no_python(df)
    # every window is user-keyed: no empty partitionBy specs
    assert not re.search(r"windowspecdefinition\(day", plan), plan


def test_backlog_plan_floor(spark):
    """orders_backlog: each order emits exactly TWO delta events via
    one explode of a 2-struct array (r7 — the former unionAll of two
    selects duplicated the orders⋈lineitem pipeline per branch; a
    per-day interval explosion would be a much wider Generate),
    partial aggregation on both rollups, the running-sum window keyed
    on priority, all JVM."""
    from ksql_query_tutorial_spark.plans.checks import (
        assert_no_python,
        assert_partial_aggregation,
        formatted_plan,
    )
    from tests.conftest import SF_ORACLE

    df = EXTENSION_QUERIES["orders_backlog"](spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "Union" not in plan, plan        # one pipeline, not two branches
    # exactly one Generate NODE — counted structurally over the plan
    # tree (ADVICE r7: formatter-rendering counts are version-fragile)
    from ksql_query_tutorial_spark.plans.checks import count_physical_nodes
    assert count_physical_nodes(df, "Generate") == 1, plan
    assert_partial_aggregation(df)
    assert_no_python(df)


def test_equidepth_plan_floor(spark):
    """orders_equidepth_bins: bounded-boundary broadcast join, pre-bin
    rollup with map-side partials, orders scan pruned to the two used
    columns, all JVM."""
    from ksql_query_tutorial_spark.plans.checks import (
        assert_broadcast_join,
        assert_no_python,
        assert_partial_aggregation,
        read_schemas,
    )
    from tests.conftest import SF_ORACLE

    df = EXTENSION_QUERIES["orders_equidepth_bins"](spark, SF_ORACLE)
    assert_broadcast_join(df)
    assert_partial_aggregation(df)
    assert_no_python(df)
    assert any(
        "o_totalprice" in s and "o_orderdate" not in s
        for s in read_schemas(df)
    ), read_schemas(df)


def test_spend_ranks_single_window_plan(spark):
    """customer_spend_ranks: all four rank functions share ONE keyed
    Window node (one sort), partial agg on the rollup, all JVM."""
    import re
    from ksql_query_tutorial_spark.plans.checks import (
        assert_no_python,
        assert_partial_aggregation,
        executed_plan,
    )
    from tests.conftest import SF_ORACLE

    df = EXTENSION_QUERIES["customer_spend_ranks"](spark, SF_ORACLE)
    # the AQE dump repeats the tree under "== Initial Plan ==" — count
    # Window nodes in the final plan section only
    plan = executed_plan(df).split("== Initial Plan ==")[0]
    assert len(re.findall(r"\bWindow\b", plan)) == 1, plan
    assert_partial_aggregation(df)
    assert_no_python(df)


def test_benford_window_over_bounded_rollup(spark):
    """audit_benford: the global share window runs over the 9-cell
    digit rollup (post-aggregate), never over raw orders; the scan is
    pruned to the value column."""
    from ksql_query_tutorial_spark.plans.checks import (
        assert_no_python,
        assert_partial_aggregation,
        formatted_plan,
        read_schemas,
    )
    from tests.conftest import SF_ORACLE

    df = EXTENSION_QUERIES["audit_benford"](spark, SF_ORACLE)
    plan = formatted_plan(df)
    # Window appears after the HashAggregate pair in the plan tree:
    # the aggregate is the window's child, so the digit rollup has
    # already collapsed the data when the share window runs.
    assert "Window" in plan and "HashAggregate" in plan, plan
    assert_partial_aggregation(df)
    assert_no_python(df)
    assert any(
        "o_totalprice" in s and "o_orderdate" not in s
        for s in read_schemas(df)
    ), read_schemas(df)


def test_pca_power_single_corpus_pass(spark):
    """embedding_pca_power: the corpus-scale work is ONE Arrow Gram
    pass (a single ArrowEvalPython/MapInPandas over the embeddings
    scan, checkpointed); the iteration plan is joins over <=4096-row
    checkpointed cells with no further embeddings scans."""
    from ksql_query_tutorial_spark.extensions import embedding_pca_power
    from ksql_query_tutorial_spark.plans.checks import formatted_plan
    from tests.conftest import SF_ORACLE

    df = embedding_pca_power(spark, SF_ORACLE)
    plan = formatted_plan(df)
    # the returned plan must not rescan the embeddings parquet: the
    # Gram pass ran once into the localCheckpoint
    assert "embeddings.parquet" not in plan, plan
    assert "MapInPandas" not in plan, plan
    assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan, plan
    # r9: the matvec joins broadcast the dimension-bounded v side
    # explicitly (a checkpointed frame has no size stats, so the
    # planner used to fall back to SortMergeJoin with two exchanges
    # per iteration)
    assert "SortMergeJoin" not in plan, plan


def test_pca_project_jvm_dot_product(spark):
    """embedding_pca_project: the corpus-side dot product is pure JVM
    higher-order functions over a broadcast one-row loadings array —
    no Python stage, no per-dimension row explosion (Generate) on the
    corpus side, exactly one embeddings scan."""
    import re

    from ksql_query_tutorial_spark.extensions import embedding_pca_project
    from ksql_query_tutorial_spark.plans.checks import formatted_plan
    from tests.conftest import SF_ORACLE

    df = embedding_pca_project(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "MapInPandas" not in plan and "EvalPython" not in plan, plan
    assert "Generate" not in plan, plan
    assert len(re.findall(r"embeddings\.parquet", plan)) <= 1, plan
    assert "BroadcastNestedLoopJoin" in plan or "Broadcast" in plan, plan


def test_ols_single_pass_plan(spark):
    """lineitem_elasticity: one scan, all five moments in a single
    partial+final aggregate, scan pruned to the three used columns,
    no joins or windows."""
    from ksql_query_tutorial_spark.extensions import lineitem_elasticity
    from ksql_query_tutorial_spark.plans.checks import (
        assert_no_python,
        assert_partial_aggregation,
        formatted_plan,
        read_schemas,
    )
    from tests.conftest import SF_ORACLE

    df = lineitem_elasticity(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "Join" not in plan and "Window" not in plan, plan
    assert_partial_aggregation(df)
    assert_no_python(df)
    assert any(
        "l_discount" in s and "l_quantity" in s and "l_extendedprice" not in s
        for s in read_schemas(df)
    ), read_schemas(df)


def test_lang_confusion_bounded_share_window(spark):
    """text_lang_confusion: one documents scan, confusion rollup with
    partial agg, share window over the bounded cell table, all JVM."""
    import re

    from ksql_query_tutorial_spark.extensions import text_lang_confusion
    from ksql_query_tutorial_spark.plans.checks import (
        assert_no_python,
        assert_partial_aggregation,
        formatted_plan,
    )
    from tests.conftest import SF_ORACLE

    df = text_lang_confusion(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert len(re.findall(r"documents\.parquet", plan)) == 1, plan
    assert_partial_aggregation(df)
    assert_no_python(df)


def test_zipf_topk_is_take_ordered_not_global_sort(spark):
    """corpus_zipf: the top-k cut is TakeOrderedAndProject (distributed
    partial top-k); the only window runs over the ≤ top_k-row result,
    and the whole plan is JVM."""
    from ksql_query_tutorial_spark.extensions import corpus_zipf
    from ksql_query_tutorial_spark.plans.checks import (
        assert_no_python,
        assert_partial_aggregation,
        formatted_plan,
    )
    from tests.conftest import SF_ORACLE

    df = corpus_zipf(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert_partial_aggregation(df)
    assert_no_python(df)


def test_supplier_top_revenue_no_fact_rescan(spark):
    """supplier_top_revenue: the date filter reaches the lineitem scan,
    the rollup has map-side partials, and the max-filter join does NOT
    rescan lineitem — Spark reuses/re-aggregates the supplier-level
    table, never the fact, and the dims ride broadcast."""
    import re
    from ksql_query_tutorial_spark.plans.checks import (
        assert_broadcast_join,
        assert_no_python,
        assert_partial_aggregation,
        assert_pushed_filter,
        formatted_plan,
    )
    from tests.conftest import SF_ORACLE

    df = EXTENSION_QUERIES["supplier_top_revenue"](spark, SF_ORACLE)
    assert_pushed_filter(df, "l_shipdate")
    assert_partial_aggregation(df)
    assert_broadcast_join(df)
    assert_no_python(df)
    plan = formatted_plan(df)
    assert len(re.findall(r"lineitem\.parquet", plan)) <= 2, plan


def test_customer_rich_inactive_anti_join_single_column_probe(spark):
    """customer_rich_inactive: the NOT EXISTS compiles to a LEFT ANTI
    join, the recency cutoff is pushed to the orders scan, and the
    probe carries only (o_custkey, o_orderdate)."""
    from ksql_query_tutorial_spark.plans.checks import (
        assert_no_python,
        assert_pushed_filter,
        formatted_plan,
        read_schemas,
    )
    from tests.conftest import SF_ORACLE

    df = EXTENSION_QUERIES["customer_rich_inactive"](spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "LeftAnti" in plan, plan
    assert_pushed_filter(df, "o_orderdate")
    assert any(
        "o_custkey" in s and "o_totalprice" not in s and "o_orderstatus" not in s
        for s in read_schemas(df)
    ), read_schemas(df)
    assert_no_python(df)


def test_part_promo_share_broadcast_and_pruned_part(spark):
    """part_promo_share: part broadcasts as a 2-column build side and
    the share computes inside one aggregate (no second exchange)."""
    from ksql_query_tutorial_spark.plans.checks import (
        assert_broadcast_join,
        assert_no_python,
        assert_partial_aggregation,
        read_schemas,
    )
    from tests.conftest import SF_ORACLE

    df = EXTENSION_QUERIES["part_promo_share"](spark, SF_ORACLE)
    assert_broadcast_join(df)
    assert_partial_aggregation(df)
    assert_no_python(df)
    assert any(
        "p_type" in s and "p_retailprice" not in s and "p_name" not in s
        for s in read_schemas(df)
    ), read_schemas(df)


def test_nation_trade_flows_one_fact_shuffle_pair(spark):
    """nation_trade_flows: both dimension paths broadcast; the only
    sort-merge/shuffle join is lineitem⋈orders on the order key; the
    date filter is pushed to the fact scan."""
    from ksql_query_tutorial_spark.plans.checks import (
        assert_broadcast_join,
        assert_no_python,
        assert_partial_aggregation,
        assert_pushed_filter,
        formatted_plan,
    )
    from tests.conftest import SF_ORACLE

    df = EXTENSION_QUERIES["nation_trade_flows"](spark, SF_ORACLE)
    assert_pushed_filter(df, "l_shipdate")
    assert_broadcast_join(df)
    assert_partial_aggregation(df)
    assert_no_python(df)
    plan = formatted_plan(df)
    n_bhj = plan.count("BroadcastHashJoin")
    assert n_bhj >= 2, plan


def test_part_band_revenue_pushes_disjunct_implications(spark):
    """part_band_revenue: the quantity envelope reaches the lineitem
    scan and the brand union reaches the part scan (per-side
    implications of the OR-of-ANDs), with the part build broadcast."""
    from ksql_query_tutorial_spark.plans.checks import (
        assert_broadcast_join,
        assert_no_python,
        assert_pushed_filter,
    )
    from tests.conftest import SF_ORACLE

    df = EXTENSION_QUERIES["part_band_revenue"](spark, SF_ORACLE)
    assert_pushed_filter(df, "l_quantity")
    assert_pushed_filter(df, "p_brand")
    assert_broadcast_join(df)
    assert_no_python(df)


def test_orders_priority_check_semi_join_pushed_window(spark):
    """orders_priority_check: the EXISTS compiles to a LEFT SEMI join,
    the quarter window is pushed to the orders scan, and the lineitem
    probe carries only (l_orderkey, l_shipdate)."""
    from ksql_query_tutorial_spark.plans.checks import (
        assert_no_python,
        assert_partial_aggregation,
        assert_pushed_filter,
        formatted_plan,
        read_schemas,
    )
    from tests.conftest import SF_ORACLE

    df = EXTENSION_QUERIES["orders_priority_check"](spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "LeftSemi" in plan, plan
    assert_pushed_filter(df, "o_orderdate")
    assert any(
        "l_orderkey" in s and "l_shipdate" in s and "l_quantity" not in s
        and "l_extendedprice" not in s
        for s in read_schemas(df)
    ), read_schemas(df)
    assert_partial_aggregation(df)
    assert_no_python(df)


def test_nation_local_volume_pushed_window_and_broadcasts(spark):
    """nation_local_volume: the year window reaches the orders scan,
    the region filter reaches the region scan, and the dimension paths
    broadcast."""
    from ksql_query_tutorial_spark.plans.checks import (
        assert_broadcast_join,
        assert_no_python,
        assert_partial_aggregation,
        assert_pushed_filter,
    )
    from tests.conftest import SF_ORACLE

    df = EXTENSION_QUERIES["nation_local_volume"](spark, SF_ORACLE)
    assert_pushed_filter(df, "o_orderdate")
    assert_pushed_filter(df, "r_name")
    assert_broadcast_join(df)
    assert_partial_aggregation(df)
    assert_no_python(df)


def test_nation_market_share_type_filter_cuts_fact(spark):
    """nation_market_share: the part-type filter is pushed to the part
    scan (cutting the fact through the broadcast join), the region
    restriction compiles to a semi join, and the share needs no second
    aggregate pass (exactly one aggregate pair in the plan)."""
    from ksql_query_tutorial_spark.plans.checks import (
        assert_broadcast_join,
        assert_no_python,
        assert_pushed_filter,
        formatted_plan,
    )
    from tests.conftest import SF_ORACLE

    df = EXTENSION_QUERIES["nation_market_share"](spark, SF_ORACLE)
    assert_pushed_filter(df, "p_type")
    assert_broadcast_join(df)
    plan = formatted_plan(df)
    assert "LeftSemi" in plan, plan
    assert "Window" not in plan, plan
    assert_no_python(df)


def test_supplier_profit_name_filter_pushdown(spark):
    """supplier_profit: the name-token StringContains is pushed to the
    part scan; both dimension paths broadcast; the lineitem⋈orders
    probe carries no unused fact columns."""
    from ksql_query_tutorial_spark.plans.checks import (
        assert_broadcast_join,
        assert_no_python,
        assert_partial_aggregation,
        assert_pushed_filter,
    )
    from tests.conftest import SF_ORACLE

    df = EXTENSION_QUERIES["supplier_profit"](spark, SF_ORACLE)
    assert_pushed_filter(df, "StringContains(p_name")
    assert_broadcast_join(df)
    assert_partial_aggregation(df)
    assert_no_python(df)


def test_orders_ship_lag_single_join_no_window(spark):
    """orders_ship_lag: the ship window is pushed to the lineitem
    scan; band and priority CASEs fold into one rollup (no Window
    operator, one join)."""
    from ksql_query_tutorial_spark.plans.checks import (
        assert_no_python,
        assert_partial_aggregation,
        assert_pushed_filter,
        formatted_plan,
    )
    from tests.conftest import SF_ORACLE

    df = EXTENSION_QUERIES["orders_ship_lag"](spark, SF_ORACLE)
    assert_pushed_filter(df, "l_shipdate")
    plan = formatted_plan(df)
    assert "Window" not in plan, plan
    assert_partial_aggregation(df)
    assert_no_python(df)


def test_part_small_lots_threshold_broadcast_no_window(spark):
    """part_small_lots: the brand filter is pushed to the part scan,
    the per-part threshold joins back broadcast, and no per-part
    Window sort appears."""
    from ksql_query_tutorial_spark.plans.checks import (
        assert_broadcast_join,
        assert_no_python,
        assert_pushed_filter,
        formatted_plan,
    )
    from tests.conftest import SF_ORACLE

    df = EXTENSION_QUERIES["part_small_lots"](spark, SF_ORACLE)
    assert_pushed_filter(df, "p_brand")
    assert_broadcast_join(df)
    plan = formatted_plan(df)
    assert "Window" not in plan, plan
    assert_no_python(df)


def test_supplier_sole_late_one_rollup_replaces_self_joins(spark):
    """supplier_sole_late: the EXISTS/NOT EXISTS pair is served by ONE
    per-order rollup whose collect_set carries the sole late supplier
    (r7 — no second fact branch at all, so no semi/anti join over the
    fact either): the joined fact appears once, the nation filter is
    pushed to the nation scan, and the supplier attach broadcasts."""
    from ksql_query_tutorial_spark.plans.checks import (
        assert_broadcast_join,
        assert_no_python,
        assert_pushed_filter,
        formatted_plan,
    )
    from tests.conftest import SF_ORACLE

    df = EXTENSION_QUERIES["supplier_sole_late"](spark, SF_ORACLE)
    assert_pushed_filter(df, "n_name")
    plan = formatted_plan(df)
    assert "LeftAnti" not in plan, plan
    assert "LeftSemi" not in plan, plan     # the second fact branch is gone
    # one lineitem scan: the fact pipeline is not duplicated
    # (structural node count — ADVICE r7 on formatter-fragile pins)
    from ksql_query_tutorial_spark.plans.checks import count_parquet_scans
    assert count_parquet_scans(df, "lineitem.parquet") == 1, plan
    assert_broadcast_join(df)
    assert_no_python(df)


def test_events_conversion_lag_single_window_exchange(spark):
    """events_conversion_lag: the funnel windows stack over ONE
    user-keyed partitioning (no join), and everything stays JVM-side."""
    from ksql_query_tutorial_spark.extensions import EXTENSION_QUERIES
    from ksql_query_tutorial_spark.plans.checks import (
        assert_no_python,
        assert_partial_aggregation,
        formatted_plan,
    )
    from tests.conftest import SF_ORACLE

    df = EXTENSION_QUERIES["events_conversion_lag"](spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "Join" not in plan, plan
    assert "Window" in plan, plan
    assert_partial_aggregation(df)
    assert_no_python(df)


def test_privacy_delete_impact_semi_joins_only(spark):
    """privacy_delete_impact: both cascade hops are LEFT SEMI joins
    (rows never widen), the tombstone set broadcasts, and the result
    is a bounded union of one-row aggregates."""
    from ksql_query_tutorial_spark.plans.checks import (
        assert_broadcast_join,
        assert_no_python,
        formatted_plan,
    )
    from tests.conftest import SF_ORACLE

    df = EXTENSION_QUERIES["privacy_delete_impact"](spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "LeftSemi" in plan, plan
    assert "Union" in plan, plan
    assert "LeftOuter" not in plan and "Inner" not in plan, plan
    assert_broadcast_join(df)
    assert_no_python(df)


def test_corpus_search_filters_before_rollup(spark):
    """corpus_search: the query-term filter prunes the exploded
    posting stream BEFORE the doc-keyed rollup (the isin appears under
    the generate, not after the aggregate), and the metadata join is a
    semi join."""
    from ksql_query_tutorial_spark.extensions import corpus_search
    from ksql_query_tutorial_spark.plans.checks import (
        assert_no_python,
        assert_partial_aggregation,
        formatted_plan,
    )
    from tests.conftest import SF_ORACLE

    df = corpus_search(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "LeftSemi" in plan, plan
    assert "term" in plan and "IN (" in plan.replace("IN(", "IN ("), plan
    assert_partial_aggregation(df)
    assert_no_python(df)


def test_embedding_kmeans_bounded_update_exchange(spark):
    """embedding_kmeans: both assignment passes are broadcast nested
    loops over the bounded centroid set (no corpus-vs-corpus join),
    and the centroid update collapses map-side to ≤ clusters·dims
    cells (partial aggregation present)."""
    from ksql_query_tutorial_spark.extensions import embedding_kmeans
    from ksql_query_tutorial_spark.plans.checks import (
        assert_partial_aggregation,
        formatted_plan,
    )
    from tests.conftest import SF_ORACLE

    df = embedding_kmeans(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert_partial_aggregation(df)


def test_events_hopping_window_no_spine_join(spark):
    """events_hopping_window: the window fan-out is a bounded explode
    from integer epoch arithmetic — no join against a window spine,
    one rollup, everything JVM-side."""
    from ksql_query_tutorial_spark.extensions import EXTENSION_QUERIES
    from ksql_query_tutorial_spark.plans.checks import (
        assert_no_python,
        assert_partial_aggregation,
        formatted_plan,
    )
    from tests.conftest import SF_ORACLE

    df = EXTENSION_QUERIES["events_hopping_window"](spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "Join" not in plan, plan
    assert "Generate" in plan, plan
    assert_partial_aggregation(df)
    assert_no_python(df)


def test_orders_key_skew_single_fact_exchange(spark):
    """orders_key_skew: one key-keyed exchange with map-side partials;
    the bucket rollup and total ride bounded tables; single scan."""
    from ksql_query_tutorial_spark.extensions import orders_key_skew
    from ksql_query_tutorial_spark.plans.checks import (
        assert_no_python,
        assert_partial_aggregation,
        formatted_plan,
    )
    from tests.conftest import SF_ORACLE

    df = orders_key_skew(spark, SF_ORACLE)
    plan = formatted_plan(df)
    from ksql_query_tutorial_spark.plans.checks import count_parquet_scans
    assert count_parquet_scans(df) <= 2, plan
    assert_partial_aggregation(df)
    assert_no_python(df)


def test_part_min_cost_supplier_no_window_no_rescan(spark):
    """part_min_cost_supplier: the correlated min is a bounded rollup
    over the (part, supplier) cells — no per-part window sort, the
    type filter pushed to the part scan, dims broadcast."""
    from ksql_query_tutorial_spark.plans.checks import (
        assert_broadcast_join,
        assert_no_python,
        assert_pushed_filter,
        formatted_plan,
    )
    from tests.conftest import SF_ORACLE

    df = EXTENSION_QUERIES["part_min_cost_supplier"](spark, SF_ORACLE)
    assert_pushed_filter(df, "p_type")
    assert_broadcast_join(df)
    plan = formatted_plan(df)
    assert "Window" not in plan, plan
    assert_no_python(df)


def test_supplier_part_counts_anti_join_blacklist(spark):
    """supplier_part_counts: the NOT IN blacklist compiles to a
    broadcast LEFT ANTI join; the type exclusion reaches the part
    scan."""
    from ksql_query_tutorial_spark.plans.checks import (
        assert_no_python,
        assert_pushed_filter,
        formatted_plan,
    )
    from tests.conftest import SF_ORACLE

    df = EXTENSION_QUERIES["supplier_part_counts"](spark, SF_ORACLE)
    assert_pushed_filter(df, "p_type")
    plan = formatted_plan(df)
    assert "LeftAnti" in plan, plan
    assert_no_python(df)


def test_text_readability_pure_scan(spark):
    """text_readability: per-row regexp counting — one scan, no
    shuffle beyond the final sort, no Python."""
    from ksql_query_tutorial_spark.extensions import text_readability
    from ksql_query_tutorial_spark.plans.checks import (
        assert_no_python,
        formatted_plan,
    )
    from tests.conftest import SF_ORACLE

    df = text_readability(spark, SF_ORACLE)
    plan = formatted_plan(df)
    from ksql_query_tutorial_spark.plans.checks import count_parquet_scans
    assert count_parquet_scans(df) <= 2, plan
    assert "Join" not in plan, plan
    assert_no_python(df)


def test_orders_reorder_intervals_single_window(spark):
    """orders_reorder_intervals: one customer-keyed window sort, then
    a bounded bucket rollup with partials."""
    from ksql_query_tutorial_spark.plans.checks import (
        assert_no_python,
        assert_partial_aggregation,
        formatted_plan,
    )
    from tests.conftest import SF_ORACLE

    df = EXTENSION_QUERIES["orders_reorder_intervals"](spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert plan.count("Window") <= 2, plan
    assert "Join" not in plan, plan
    assert_partial_aggregation(df)
    assert_no_python(df)


def test_events_tombstone_state_single_aggregate(spark):
    """events_tombstone_state: one key-keyed max_by aggregate (no
    per-key window sort), tombstone filter post-agg."""
    from ksql_query_tutorial_spark.extensions import EXTENSION_QUERIES
    from ksql_query_tutorial_spark.plans.checks import (
        assert_no_python,
        assert_partial_aggregation,
        formatted_plan,
    )
    from tests.conftest import SF_ORACLE

    df = EXTENSION_QUERIES["events_tombstone_state"](spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "Window" not in plan, plan
    # struct-valued max_by compiles to SortAggregate (not Hash), but
    # still as a partial+final pair around ONE exchange — assert the
    # pair regardless of aggregate strategy
    import re as _re

    n_aggs = len(_re.findall(r"(?:Hash|Sort|ObjectHash)Aggregate", plan))
    assert n_aggs >= 2, plan
    assert_no_python(df)


def test_supplier_dominant_parts_single_fact_pass(spark):
    """supplier_dominant_parts: the dominance test is a window over
    the bounded (part, supplier) rollup — lineitem is scanned ONCE,
    with the year window pushed to the scan."""
    from ksql_query_tutorial_spark.plans.checks import (
        assert_no_python,
        assert_pushed_filter,
        formatted_plan,
    )
    from tests.conftest import SF_ORACLE

    df = EXTENSION_QUERIES["supplier_dominant_parts"](spark, SF_ORACLE)
    assert_pushed_filter(df, "l_shipdate")
    plan = formatted_plan(df)
    import re as _re

    li_scans = len(_re.findall(r"FileScan parquet.*?lineitem\.parquet",
                               plan))
    assert li_scans <= 2, plan  # formatted plans list scans twice w/ AQE
    assert_no_python(df)


def test_lineitem_yoy_growth_bounded_window(spark):
    """lineitem_yoy_growth: one fact rollup; the lag window runs over
    the bounded (year, month) cells, never a fact self-join."""
    from ksql_query_tutorial_spark.plans.checks import (
        assert_no_python,
        assert_partial_aggregation,
        formatted_plan,
    )
    from tests.conftest import SF_ORACLE

    df = EXTENSION_QUERIES["lineitem_yoy_growth"](spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "Join" not in plan, plan
    assert_partial_aggregation(df)
    assert_no_python(df)


def test_nation_rank_movers_single_fact_pass(spark):
    """nation_rank_movers: the two years are conditional sums in ONE
    rollup — orders is scanned once with the window pushed."""
    from ksql_query_tutorial_spark.plans.checks import (
        assert_no_python,
        assert_pushed_filter,
        formatted_plan,
    )
    from tests.conftest import SF_ORACLE

    df = EXTENSION_QUERIES["nation_rank_movers"](spark, SF_ORACLE)
    assert_pushed_filter(df, "o_orderdate")
    plan = formatted_plan(df)
    import re as _re

    o_scans = len(_re.findall(r"FileScan parquet.*?orders\.parquet", plan))
    assert o_scans <= 2, plan
    assert_no_python(df)


def test_embedding_cos_histogram_cap_pushed(spark):
    """embedding_cos_histogram: the slice cap reaches both sides of
    the self-join as a pushed filter."""
    from ksql_query_tutorial_spark.extensions import embedding_cos_histogram
    from ksql_query_tutorial_spark.plans.checks import (
        assert_no_python,
        assert_pushed_filter,
    )
    from tests.conftest import SF_ORACLE

    df = embedding_cos_histogram(spark, SF_ORACLE)
    assert_pushed_filter(df, "LessThan(vec_id")
    assert_no_python(df)


def test_graph_triangles_no_wedge_shuffle(spark):
    """graph_triangles: the wedge volume must stay packed in per-edge
    adjacency arrays — the plan intersects arrays (array_intersect)
    and the exchange count stays bounded (the wedge-row rewrite these
    pins replaced shuffled Θ(Σoutdeg²) rows and regressed 5× at sf1)."""
    import re as _re

    from ksql_query_tutorial_spark.extensions import graph_triangles
    from ksql_query_tutorial_spark.plans.checks import (
        assert_no_python,
        formatted_plan,
    )
    from tests.conftest import SF_ORACLE

    # a previously-run triangle-family test leaves the edge frames
    # cached, and InMemoryRelation sections embed their own exchanges
    # in the formatted plan — clear so the count is cache-independent
    spark.catalog.clearCache()
    df = graph_triangles(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "array_intersect" in plan, plan
    n_exchanges = len(set(_re.findall(r"Exchange \((\d+)\)", plan)))
    # full lineage incl. co-purchase edge generation measures 15; the
    # pin is the packed-array path (array_intersect above) plus a
    # loose exchange ceiling that a wedge-row rewrite would blow
    assert n_exchanges <= 16, plan
    assert_no_python(df)


def test_audience_overlap_dedup_before_pair_join(spark):
    """events_audience_overlap: the user self-join runs over DISTINCT
    (type, user) cells — both join inputs aggregate before the join,
    so per-user fan-out is bounded by the type domain."""
    from ksql_query_tutorial_spark.extensions import EXTENSION_QUERIES
    from ksql_query_tutorial_spark.plans.checks import (
        assert_no_python,
        formatted_plan,
    )
    from tests.conftest import SF_ORACLE

    import re as _re

    df = EXTENSION_QUERIES["events_audience_overlap"](spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert _re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)",
                      plan), plan
    # the distinct aggregate (keys t, u) must exist upstream of the join
    aggs = set(_re.findall(r"HashAggregate \((\d+)\)", plan))
    assert len(aggs) >= 4, plan   # partial+final dedup, sizes, pair rollup
    assert_no_python(df)


def test_attribution_no_join_single_user_exchange(spark):
    """events_attribution: last-touch credit via a running max-struct
    window — ONE user-keyed exchange, no conversion-to-touch join (a
    join plan would shuffle |touches| x |conversions| candidates),
    minutes in pure JVM fixed-point arithmetic."""
    import re as _re

    from ksql_query_tutorial_spark.extensions import EXTENSION_QUERIES
    from ksql_query_tutorial_spark.plans.checks import (
        assert_no_python,
        formatted_plan,
    )
    from tests.conftest import SF_ORACLE

    df = EXTENSION_QUERIES["events_attribution"](spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "Join" not in plan, plan
    assert len(set(_re.findall(r"Exchange \((\d+)\)", plan))) <= 1, plan
    assert_no_python(df)


def test_asof_forward_join_single_keyed_window(spark):
    """asof_click_next_purchase: the forward as-of direction keeps the
    backward path's plan shape — union + ONE user-keyed window
    exchange, no row-vs-row join, no python."""
    import re as _re

    from ksql_query_tutorial_spark.extensions import asof_click_next_purchase
    from ksql_query_tutorial_spark.plans.checks import (
        assert_no_python,
        formatted_plan,
    )
    from tests.conftest import SF_ORACLE

    df = asof_click_next_purchase(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "Join" not in plan, plan
    assert len(set(_re.findall(r"Exchange \((\d+)\)", plan))) <= 1, plan
    assert "Window" in plan, plan
    assert_no_python(df)


def test_zorder_broadcasts_bounds_no_sort(spark):
    """layout_zorder: the only joins are broadcast nested-loop against
    the ONE-ROW global-bounds aggregate (a cross join with a scalar
    relation — bounded by construction); bucket assignment is
    arithmetic, so there is no range-partitioned sort anywhere and the
    final rollup is |n_files|-bounded."""
    import re as _re

    from ksql_query_tutorial_spark.extensions import layout_zorder
    from ksql_query_tutorial_spark.plans.checks import (
        assert_no_python,
        formatted_plan,
    )
    from tests.conftest import SF_ORACLE

    df = layout_zorder(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert_no_python(df)


def test_pagerank_iterations_truncate_lineage(spark):
    """graph_pagerank: every iteration reads localCheckpoint()ed
    inputs, so the FINAL plan's depth is one iteration — not five
    compounding join+agg rounds (unbounded lineage is the classic
    iterative-algorithm driver OOM at scale). The checkpoint scan
    must appear and the exchange count must stay that of a single
    join+agg round."""
    import re as _re

    from ksql_query_tutorial_spark.extensions import graph_pagerank
    from ksql_query_tutorial_spark.plans.checks import (
        assert_no_python,
        formatted_plan,
    )
    from tests.conftest import SF_ORACLE

    df = graph_pagerank(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "ExistingRDD" in plan, plan
    assert len(set(_re.findall(r"Exchange \((\d+)\)", plan))) <= 4, plan
    assert_no_python(df)


def test_dp_counts_bounded_segment_aggregate(spark):
    """privacy_dp_counts: one partial+final aggregate over the segment
    domain (bounded cells), noise seeded per-key JVM-side — no join,
    no window, no python."""
    import re as _re

    from ksql_query_tutorial_spark.extensions import privacy_dp_counts
    from ksql_query_tutorial_spark.plans.checks import (
        assert_no_python,
        assert_partial_aggregation,
        formatted_plan,
    )
    from tests.conftest import SF_ORACLE

    df = privacy_dp_counts(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "Join" not in plan, plan
    assert len(set(_re.findall(r"Exchange \((\d+)\)", plan))) <= 2, plan
    assert_partial_aggregation(df)
    assert_no_python(df)


def test_bench_force_action_consumes_projections(spark):
    """bench._force must not let Catalyst prune the query's projected
    expressions (VERDICT r6 #2: count() reduced projection-only
    queries to scan+count). Pins: (a) the checksum plan still contains
    the projection's expression (UPPER for q03); (b) the former
    count() action indeed pruned it — so if Spark ever starts pruning
    through xxhash64 too, this fails loudly rather than silently
    re-breaking the bench."""
    import bench
    from ksql_query_tutorial_spark.plans.checks import formatted_plan
    from ksql_query_tutorial_spark.queries import TUTORIAL_QUERIES
    from tests.conftest import SF_ORACLE

    from pyspark.sql import functions as F

    df = TUTORIAL_QUERIES["q03_ucase"](spark, SF_ORACLE)
    forced = df.select(
        F.sum(F.pmod(F.xxhash64(*df.columns), F.lit(2 ** 31))).alias("chk"),
        F.count(F.lit(1)).alias("n"),
    )
    assert "upper" in formatted_plan(forced).lower()
    counted = df.groupBy().count()
    assert "upper" not in formatted_plan(counted).lower()
    # and the public entry point actually executes it
    n = bench._force(df)
    assert n == 25


def test_repetition_no_inferred_generate_filter(spark):
    """with_repetition (r7 rewrite): exactly ONE tokenizer split and
    ONE transform lambda in the plan — the pre-r7 shape let an
    inferred explode filter re-inline the split+transform pipeline
    several times per row (measured 10.5s vs 1.0s at sf0.1)."""
    from ksql_query_tutorial_spark.extensions import text_repetition
    from ksql_query_tutorial_spark.plans.checks import formatted_plan
    from tests.conftest import SF_ORACLE

    plan = formatted_plan(text_repetition(spark, SF_ORACLE))
    assert plan.count("split(lower") == 1, plan
    assert "Join" not in plan, plan


def test_single_tokenizer_evaluation_pins(spark):
    """r7 expression-blowup fixes stay fixed: each of these plans
    evaluates the whitespace tokenizer exactly once per logical pass
    (they measured 3-10x slower when Catalyst re-inlined it)."""
    from ksql_query_tutorial_spark.extensions import (
        text_fingerprint,
        text_lang_id,
        text_quality,
        text_repetition,
    )
    from ksql_query_tutorial_spark.plans.checks import formatted_plan
    from tests.conftest import SF_ORACLE

    for fn in (text_fingerprint, text_quality, text_lang_id,
               text_repetition):
        plan = formatted_plan(fn(spark, SF_ORACLE))
        assert plan.count("split(lower") == 1, (fn.__name__, plan)


def test_char_entropy_no_quadratic_generate_carry(spark):
    """with_char_entropy explodes a char array — the pre-r7 shape
    carried the full text column through a sequence(1,length) Generate
    (O(L^2) bytes per doc, measured 5x slower)."""
    from ksql_query_tutorial_spark.extensions import text_entropy
    from ksql_query_tutorial_spark.plans.checks import formatted_plan
    from tests.conftest import SF_ORACLE

    plan = formatted_plan(text_entropy(spark, SF_ORACLE))
    assert "sequence(1" not in plan, plan
    assert "substring" not in plan, plan


def test_quantize_family_no_per_element_array_max(spark):
    """The SQ8 quantizers must carry max_abs as a zipped array
    (array_repeat, evaluated once per row) — CollapseProject inlines a
    once-referenced non-cheap alias into the consuming lambda, putting
    array_max INSIDE the per-element FLOOR body (O(d²)/row; measured
    12.7× at sf1, r8). The expr-dup string gate cannot catch this
    class (the count stays 1), so the lambda body is pinned here."""
    from ksql_query_tutorial_spark.extensions import (
        embedding_quantize,
        embedding_quantize_error,
    )
    from tests.conftest import SF_ORACLE

    for fn in (embedding_quantize, embedding_quantize_error):
        plan = (
            fn(spark, SF_ORACLE)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "array_repeat" in plan, (fn.__name__, plan)
        i = plan.find("FLOOR")
        assert i >= 0, (fn.__name__, plan)
        # the per-element FLOOR body (everything before the lambda's
        # argument list) must not re-evaluate the row max; the healthy
        # shape divides by the zipped `lambda y_*` element instead
        body = plan[i:plan.find(", lambda", i)]
        assert "array_max" not in body, (fn.__name__, body)
