"""The extension catalog declares each query once: ``@query(oracle=...)``
registers the builder under its own function name, and a KSQL script
registers each ``CREATE ... AS SELECT`` under its collection name. Every
name carries its oracle under that same name, and a second declaration
of a name is refused."""

from __future__ import annotations

import json
from functools import partial
from pathlib import Path

import pytest

import __spark_entry__ as entrymod
from ksql_query_tutorial_spark.extensions import EXTENSION_ORACLES, EXTENSION_QUERIES
from ksql_query_tutorial_spark.extensions._registry import SCRIPT_SELECTS


def _is_script_query(name, build) -> bool:
    return isinstance(build, partial) and build.args == (SCRIPT_SELECTS.get(name),)


def test_every_query_is_registered_under_its_own_name():
    misnamed = {n: getattr(b, "__name__", b) for n, b in EXTENSION_QUERIES.items()
                if getattr(b, "__name__", None) != n and not _is_script_query(n, b)}
    assert not misnamed, misnamed


def test_every_oracle_names_a_registered_query():
    orphans = set(EXTENSION_ORACLES) - set(EXTENSION_QUERIES)
    assert not orphans, orphans


def test_second_declaration_of_a_name_is_refused():
    from ksql_query_tutorial_spark.extensions._registry import query

    def dedup_minhash_lsh(spark, sf_dir):
        raise AssertionError("never built")

    before = dict(EXTENSION_QUERIES), dict(EXTENSION_ORACLES)
    with pytest.raises(ValueError, match="dedup_minhash_lsh"):
        query(oracle="SELECT 1")(dedup_minhash_lsh)
    # the first declaration and its oracle are left in place
    assert (EXTENSION_QUERIES, EXTENSION_ORACLES) == before


# The 240 declared names and the driver's 50-slot window, as the catalog
# stood before the retail family moved into retail.sql; moving a query
# between a builder and a script (retail, events, privacy) changes
# neither.
CATALOG_PINS = Path(__file__).with_name("catalog_pins.json")


def test_script_queries_are_registered_once_with_oracles():
    """Every registered script's SELECTs are catalog builders that compile
    exactly that text, each under its own name and with an oracle."""
    script = {n for n, b in EXTENSION_QUERIES.items() if isinstance(b, partial)}
    assert script == set(SCRIPT_SELECTS), script ^ set(SCRIPT_SELECTS)
    assert all(_is_script_query(n, EXTENSION_QUERIES[n]) for n in script)
    assert set(SCRIPT_SELECTS) <= set(EXTENSION_ORACLES), set(SCRIPT_SELECTS) - set(EXTENSION_ORACLES)
    # no name is declared both in a script and by @query: the builders of
    # script names are the scripts' own compiled SELECTs, never functions
    assert not [n for n in SCRIPT_SELECTS if hasattr(EXTENSION_QUERIES[n], "__name__")]
    pins = json.loads(CATALOG_PINS.read_text())
    names = list(entrymod.queries())
    assert sorted(names) == pins["names"]
    assert names[:50] == pins["driver_window"]
