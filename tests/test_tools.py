"""The maintenance scripts under tools/ stay importable and keep working
on the session's SparkSession: no script starts Spark or parses argv at
import, the plan audit's per-query row holds its fields and its dumped
plan masks every run-specific id, and the bench timing loop the tools
share returns a query's row count."""

from __future__ import annotations

import importlib
import os
import re
import sys

import pytest
from pyspark.sql import SparkSession

from tests.conftest import SF_SMOKE

TOOLS_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
TOOLS = sorted(f[:-3] for f in os.listdir(TOOLS_DIR) if f.endswith(".py"))


class _UnreadableArgv(list):
    def _fail(self, *a):
        raise AssertionError("sys.argv read at import")

    __getitem__ = __iter__ = __len__ = __contains__ = _fail


@pytest.mark.parametrize("name", TOOLS)
def test_tool_imports_without_side_effects(monkeypatch, name):
    def no_spark(self):
        raise AssertionError("SparkSession started at import")

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", no_spark)
    monkeypatch.setattr(sys, "argv", _UnreadableArgv())
    monkeypatch.setattr(sys, "path", list(sys.path))
    monkeypatch.delitem(sys.modules, f"tools.{name}", raising=False)
    mod = importlib.import_module(f"tools.{name}")
    assert callable(mod.main)


def test_plan_audit_rows(spark):
    import __spark_entry__ as em
    from tools.plan_audit import audit

    qs = em.queries()
    q14 = audit(spark, qs["q14_inner_join"], SF_SMOKE)
    assert q14["exchanges"]["broadcast"] >= 1, q14["plan"]
    assert q14["scans"] == {"nation": 1, "region": 1}
    assert q14["stages"] == [] and q14["heavy"] == {} and q14["dup"] is None
    # the dumped plan carries no run-specific id, so two dumps diff clean
    assert "#N" in q14["plan"] and "plan_id=N" in q14["plan"], q14["plan"]
    assert not re.search(r"#\d|plan_id=\d", q14["plan"]), q14["plan"]

    q23 = audit(spark, qs["q23_revenue_by_region"], SF_SMOKE)
    assert set(q23["scans"]) == {"customer", "lineitem", "nation", "orders", "region"}
    assert set(q23["scans"].values()) == {1}
    assert q23["exchanges"]["broadcast"] >= 1 and q23["stages"] == []


def test_plan_audit_counts_a_wrapped_node_once(spark):
    """corpus_clean's lambda-filter Project runs outside whole-stage
    codegen, between two codegen stages, under an ``InputAdapter`` that
    canonicalizes as the Project itself; the plan scans documents once,
    so the audit finds no duplicated subtree in it."""
    import __spark_entry__ as em
    from tools.plan_audit import audit

    row = audit(spark, em.queries()["corpus_clean"], SF_SMOKE)
    assert row["scans"] == {"documents": 1}
    # a Project with no codegen star, under a starred one
    assert re.search(r"\* Project .*\n\s*\+- Project \(", row["plan"]), row["plan"]
    assert row["dup"] is None, row["dup"]


def test_plan_audit_masks_session_counters(spark):
    """The dumped plan also masks the ids a session counts up as it
    builds plans: the suffix PySpark gives a lambda's variable
    (``x_155``) and RDD ids (a local checkpoint's
    ``MapPartitionsRDD[12]``), so one query's plan dumps the same text
    however many plans were built before it."""
    import __spark_entry__ as em
    from tools.plan_audit import audit

    qs = em.queries()
    for name, masked in (("text_quality", "x_N#N"), ("embedding_assign_skew", "RDD[N]")):
        plan = audit(spark, qs[name], SF_SMOKE)["plan"]
        assert masked in plan, plan
        assert not re.search(r"\b[xyz]_\d+|RDD\[\d+\]", plan), plan
    assert audit(spark, qs["text_quality"], SF_SMOKE)["plan"] == audit(
        spark, qs["text_quality"], SF_SMOKE)["plan"]


def test_bench_time_query_returns_rows(spark):
    import __spark_entry__ as em
    from bench import time_query

    secs, rows = time_query(spark, em.queries()["q01_full_scan"], SF_SMOKE)
    assert rows == 5 and secs > 0
