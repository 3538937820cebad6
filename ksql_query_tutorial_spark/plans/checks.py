"""Physical-plan assertions: the 100 TB discipline, codified.

Each helper inspects ``explain``-level output so tests can pin the
properties that matter at scale — filters reaching the parquet scan,
column pruning, broadcast joins for bounded dims, partial aggregation,
and no Python in JVM-only pipelines. A plan regression (e.g. a filter
silently becoming post-scan) fails tests instead of surfacing as a 10×
slowdown at sf=real.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def executed_plan(df: DataFrame) -> str:
    """Plan AFTER an action, with AQE final decisions materialized.

    Must execute THIS DataFrame's plan (``count()`` would build a
    different QueryExecution and leave this one's AQE plan unfinalized).
    """
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def assert_pushed_filter(df: DataFrame, *fragments: str) -> None:
    """Every fragment must appear in a scan's PushedFilters list."""
    plan = formatted_plan(df)
    pushed = " ".join(re.findall(r"PushedFilters: \[([^\]]*)\]", plan))
    for frag in fragments:
        assert frag in pushed, f"filter {frag!r} not pushed; PushedFilters=[{pushed}]\n{plan}"


def read_schemas(df: DataFrame) -> list[str]:
    return re.findall(r"ReadSchema: struct<([^>]*)>", formatted_plan(df))


def assert_scan_pruned_to(df: DataFrame, table_cols: set[str],
                          allowed: set[str]) -> None:
    """The scan touching ``table_cols`` must read ONLY ``allowed``."""
    for schema in read_schemas(df):
        cols = {c.split(":")[0] for c in schema.split(",") if c}
        if cols & table_cols:
            extra = cols - allowed
            assert not extra, f"scan reads unpruned columns {extra} (schema {schema})"
            return
    raise AssertionError(f"no scan found for columns {table_cols}")


def assert_broadcast_join(df: DataFrame) -> None:
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, (
        f"expected a broadcast join:\n{plan}"
    )


def assert_partial_aggregation(df: DataFrame) -> None:
    """Partial (map-side) + final hash aggregation around the shuffle."""
    plan = formatted_plan(df)
    assert len(re.findall(r"HashAggregate", plan)) >= 2, (
        f"expected partial+final HashAggregate:\n{plan}"
    )


def assert_no_python(df: DataFrame | StreamingQuery) -> None:
    """No row-at-a-time or Arrow Python eval in the plan and no scan of
    a Python-fed RDD (JVM-only). A streaming query is checked on the
    executed plan of its last micro-batch, the one holding its state
    operators."""
    plan = formatted_plan(df) if isinstance(df, DataFrame) else _executed(df).toString()
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
        assert node not in plan, f"unexpected Python stage {node}:\n{plan}"
    scans = python_rdd_scans(df)
    assert not scans, f"scans of Python-fed RDDs {scans}:\n{plan}"


def assert_wholestage_codegen(df: DataFrame) -> None:
    """Codegen spans only materialize in the AQE FINAL plan, so this
    executes the query and inspects the executed plan (codegen stages
    print as ``*(n)`` prefixes)."""
    plan = executed_plan(df)
    assert "*(" in plan or "WholeStageCodegen" in plan, (
        f"no WholeStageCodegen spans in executed plan:\n{plan}"
    )


def _executed(df: DataFrame | StreamingQuery):
    """The executed physical plan of a DataFrame, or of a streaming
    query's last micro-batch."""
    if isinstance(df, DataFrame):
        return df._jdf.queryExecution().executedPlan()
    return df._jsq.streamingQuery().lastExecution().executedPlan()


def _plan_nodes(df: DataFrame | StreamingQuery):
    """Every node of the physical plan TREE, walked via py4j — robust
    to explain-formatter changes that break plan-string substring pins
    (ADVICE r7). Descends into AQE wrappers (``AdaptiveSparkPlan``, and
    the query stages of an executed plan) and ``InMemoryTableScan``
    cached relations, so persisted subtrees are visited once per cache
    definition, not per reference.
    """
    stack = [_executed(df)]
    while stack:
        jnode = stack.pop()
        yield jnode
        name = jnode.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(jnode.executedPlan())
        elif name.endswith("QueryStage"):
            stack.append(jnode.plan())
        elif name == "InMemoryTableScan":
            try:
                stack.append(jnode.relation().cachedPlan())
            except Exception:
                pass
        kids = jnode.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))


def count_physical_nodes(df: DataFrame, node_name: str) -> int:
    """Structurally count physical-plan nodes whose ``nodeName`` equals
    ``node_name`` ("Generate", "BroadcastHashJoin", ...)."""
    return sum(1 for j in _plan_nodes(df) if j.nodeName() == node_name)


def python_rdd_scans(df: DataFrame | StreamingQuery) -> list[str]:
    """Every ``Scan ExistingRDD`` leaf whose RDD lineage holds a
    ``PythonRDD``: the list form of ``createDataFrame`` plans one, and
    each scan of it starts a Python worker per partition. A
    ``localCheckpoint``ed frame's scan reads checkpointed JVM blocks
    and is not listed."""
    return [
        j.simpleString(200) for j in _plan_nodes(df)
        if j.nodeName() == "Scan ExistingRDD"
        and "PythonRDD" in j.rdd().toDebugString()
    ]


#: physical nodes that provably bound the row count flowing into any
#: operator above them: grouped aggregates emit |groups| rows (the
#: bounded-cells argument every global-window site relies on) and
#: global limit-family nodes emit <= k rows. ``LocalLimit`` is not one:
#: it bounds each partition, so the rows it passes grow with the
#: partition count.
_BOUNDING_NODES = (
    "HashAggregate", "ObjectHashAggregate", "SortAggregate",
    "TakeOrderedAndProject", "CollectLimit", "GlobalLimit",
)


def unbounded_global_windows(df: DataFrame) -> list[str]:
    """Return a description of every ``Window`` node with NO partition
    spec whose subtree contains no aggregate/limit node — i.e. a
    single-task global window over potentially CORPUS-SIZED input, the
    one WindowExec shape that serializes a 100 TB query (VERDICT r9
    #5). Global windows over grouped aggregates (bounded cells: bins,
    nations, blocks, top-k frames) are the deliberate, audited pattern
    and pass. Walks the tree via py4j (robust to formatter changes),
    descending into AQE wrappers, the query stages of an executed plan
    and cached relations.
    """
    offenders: list[str] = []

    def bounded_below(jnode) -> bool:
        name = jnode.nodeName()
        if any(name.startswith(b) for b in _BOUNDING_NODES):
            return True
        if name == "AdaptiveSparkPlan":
            return bounded_below(jnode.executedPlan())
        if name.endswith("QueryStage"):
            return bounded_below(jnode.plan())
        if name == "InMemoryTableScan":
            try:
                return bounded_below(jnode.relation().cachedPlan())
            except Exception:
                return False
        kids = jnode.children()
        # every input branch must be bounded for the window input to be
        for i in range(kids.size()):
            if not bounded_below(kids.apply(i)):
                return False
        return kids.size() > 0

    def walk(jnode) -> None:
        name = jnode.nodeName()
        if name == "AdaptiveSparkPlan":
            walk(jnode.executedPlan())
            return
        if name.endswith("QueryStage"):
            walk(jnode.plan())
            return
        if name == "InMemoryTableScan":
            try:
                walk(jnode.relation().cachedPlan())
            except Exception:
                pass
            return
        if name == "Window" and jnode.partitionSpec().isEmpty():
            if not bounded_below(jnode):
                offenders.append(jnode.simpleString(200))
        kids = jnode.children()
        for i in range(kids.size()):
            walk(kids.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return offenders


def count_parquet_scans(df: DataFrame, path_fragment: str | None = None) -> int:
    """Structurally count parquet scan LEAVES in the executed plan,
    optionally only those whose one-line description (which carries the
    file Location) contains ``path_fragment``. The node-walk twin of
    ``plan.count("FileScan")``-style substring pins (ADVICE r7);
    persisted subtrees count once per cache definition.
    """
    return sum(
        1 for j in _plan_nodes(df)
        if j.nodeName().startswith("Scan ")
        and (path_fragment is None or path_fragment in j.simpleString(300))
    )
