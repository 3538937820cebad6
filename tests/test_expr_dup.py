"""Standing expression-duplication gate (VERDICT r7 #6).

The r7 perf pass found six genuine plan duplications by hand-running
an expression audit (now the ``heavy`` column of
``tools/plan_audit.py``) — an expensive per-row expression head
(regex tokenizer, HOF lambda, array intersect) evaluated more times
than intended because Catalyst inlined it into an inferred filter, a
second scan branch, or repeated Project uses. This gate makes that
audit regression-proof: every declared query's executed-plan string is
counted against ``tests/expr_dup_pins.json`` and FAILS when any heavy
head appears more often than its pinned count (new duplication);
counts up to ``FREE_LIMIT - 1`` are free noise (plan nodes reprint
expression trees), and counts BELOW a pin merely mean the plan
improved — refresh the pins with::

    python tools/plan_audit.py --write-pins

after any INTENTIONAL plan change (the pin file diff then documents
the decision in review).

Caveat (ADVICE r7 on string-pins generally): plan-string rendering is
Spark-version dependent — a version bump may require a pin refresh,
which is a one-command, review-visible operation, not a silent drift.
"""

from __future__ import annotations

import json
import os

import pytest

import __spark_entry__ as entrymod
from tools.plan_audit import FREE_LIMIT, PIN_SF, PINS_PATH, heavy_head_counts

# All-240-query sweep: excluded from the driver-facing default run
# (pytest.ini addopts); run with -m slow / -m "".
pytestmark = pytest.mark.slow

QUERIES = entrymod.queries()

with open(PINS_PATH) as _f:
    PINS: dict[str, dict[str, int]] = json.load(_f)


def test_pins_reference_real_queries():
    stale = set(PINS) - set(QUERIES)
    assert not stale, f"pins for unknown queries (stale file?): {stale}"


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_new_heavy_expression_duplication(spark, name):
    # count on a clean cache, as the pin refresh does: a relation cached
    # by an earlier query reprints its plan inside this one's
    spark.catalog.clearCache()
    pinned = PINS.get(name, {})
    over = {}
    for head, n in heavy_head_counts(QUERIES[name](spark, PIN_SF)).items():
        allowed = max(pinned.get(head, 0), FREE_LIMIT - 1)
        if n > allowed:
            over[head] = (n, allowed)
    assert not over, (
        f"{name}: heavy expression head(s) now appear more often than "
        f"pinned {over} — a plan duplication crept in (or, if the "
        f"change is an intentional trade, refresh the pins: "
        f"python tools/plan_audit.py --write-pins)"
    )
