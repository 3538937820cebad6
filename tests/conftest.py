"""Shared fixtures: one SparkSession per test session (local[*])."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from ksql_query_tutorial_spark.session import get_spark

    s = get_spark(app_name="ksql-tutorial-tests")
    yield s


def script_query(name: str, **frames):
    """The script query ``name`` (a CSAS/CTAS of any extension script
    registered by ``_registry.script``: ``retail.sql``, ``events.sql``,
    ``privacy.sql``, ``corpus.sql`` or ``text.sql``) compiled by
    ``select_over`` over hand-built frames, each bound to the table name
    the SELECT reads. The dialect rewrites ``TOKENS`` and the hash
    spellings (``ID_HASH``, ``AB_ARM``, ``TOKEN_HASH``, ``KMV_MIX``,
    ``HLL_HASH``) on the way, so a hash user's test runs the same Spark
    form as the catalog query."""
    from ksql_query_tutorial_spark.extensions._registry import SCRIPT_SELECTS
    from ksql_query_tutorial_spark.ksql.engine import select_over

    return select_over(SCRIPT_SELECTS[name], **frames)
