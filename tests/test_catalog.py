"""The extension catalog declares each query once: ``@query(oracle=...)``
registers the builder under its own function name, stores the oracle
under that same name, and refuses a second declaration of a name."""

from __future__ import annotations

import pytest

from ksql_query_tutorial_spark.extensions import EXTENSION_ORACLES, EXTENSION_QUERIES


def test_every_query_is_registered_under_its_own_name():
    misnamed = {n: b.__name__ for n, b in EXTENSION_QUERIES.items() if b.__name__ != n}
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
