"""One physical-plan audit over every declared query.

Builds each query's plan once and prints one row per query:

- ``py``: Python and cartesian stage kinds. ``BatchEvalPython`` (row-at-
  a-time UDF) and ``CartesianProduct`` are banned everywhere; Arrow
  stages are allowed only where an operator needs numpy; a
  ``BroadcastNestedLoopJoin`` is reported for audit. The invariants
  live in tests/test_plan_hygiene.py; this row is how to find them.
- ``scans``: parquet scans per table in the executed plan, so "reads 3
  tables" and "reads one table 3 times" look different (a subtree
  consumed twice without a persist re-executes per consumer).
- ``exch``: shuffle / broadcast / reused exchanges in the executed plan.
- ``heavy``: plan-string counts of costly per-row expression heads
  (regex tokenizer, HOF lambda, array intersect) at or above
  ``FREE_LIMIT``. tests/test_expr_dup.py fails any query whose count
  exceeds its pin in tests/expr_dup_pins.json.
- ``dup``: the largest costly subtree (exchange, Arrow stage or parquet
  scan) that appears twice outside a cached relation: a candidate for
  ``cache.pin`` or a single-pass restructure.

Usage:
    python tools/plan_audit.py [query ...]
    python tools/plan_audit.py --dump DIR [query ...]   # also write each
        formatted plan to DIR/<query>.txt, expression ids (``#123``) and
        plan ids (``plan_id=45``) masked, so ``diff -r`` of two dumps
        (say, before and after a change) shows only real plan changes
    python tools/plan_audit.py --write-pins   # refresh the pins after an
        INTENTIONAL plan change; the pin file diff documents it in review

Rows are built at ``$SPARK_GRAFT_SF_DIR`` (default sf0.001); pins always
at ``PIN_SF``.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ksql_query_tutorial_spark.plans.checks import (  # noqa: E402
    _plan_nodes,
    executed_plan,
    formatted_plan,
)

# WithState before its prefix, so a stateful stage reports only itself
STAGES = re.compile(
    r"BatchEvalPython|ArrowEvalPython|MapInPandas"
    r"|FlatMapGroupsInPandasWithState|FlatMapGroupsInPandas"
    r"|CartesianProduct|BroadcastNestedLoopJoin"
)
HEAVY_HEADS = [
    "split(lower",            # whitespace tokenizer
    "regexp_extract_all",     # BPE-ish tokenizer
    "lambdafunction",         # any HOF body
    "regexp_replace",
    "sentences(",
    "array_distinct",
    "array_intersect",
    "aggregate(",             # interpreted fold
]
# counts below this are free (normal expression reprints across plan
# nodes); at or above, the count must be pinned
FREE_LIMIT = 3
PIN_SF = "/root/testdata/sf0.001"
PINS_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests", "expr_dup_pins.json",
)
COST_MARKERS = ("Exchange", "ArrowEvalPython", "MapInPandas",
                "FlatMapGroupsInPandas", "Scan parquet")
MIN_NODES = 4
EXCHANGES = {"Exchange": "shuffle", "BroadcastExchange": "broadcast",
             "ReusedExchange": "reused"}


def heavy_head_counts(df) -> dict[str, int]:
    """Occurrences of each heavy head in the (not yet executed) plan string."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {h: plan.count(h) for h in HEAVY_HEADS}


def _subtree_sigs(jnode, out: Counter) -> int:
    """Count a canonicalized signature per subtree of >= MIN_NODES nodes
    (canonicalization normalizes expression ids, so two instances of
    one computation match). Cached relations and reused exchanges are
    leaves: reuse through them is the fix, not the bug. Returns the
    subtree's node count. An ``InputAdapter`` (the codegen boundary
    above a non-codegen node) canonicalizes as the node it wraps, so it
    is passed through as ``AdaptiveSparkPlan`` is, or that node would
    count twice."""
    name = jnode.nodeName()
    if name == "AdaptiveSparkPlan":
        return _subtree_sigs(jnode.executedPlan(), out)
    if name == "InputAdapter":
        return _subtree_sigs(jnode.child(), out)
    if name in ("InMemoryTableScan", "ReusedSubquery") or name.startswith(
            "ReusedExchange"):
        return 1
    kids = jnode.children()
    n = 1 + sum(_subtree_sigs(kids.apply(i), out) for i in range(kids.size()))
    if n >= MIN_NODES:
        out[jnode.canonicalized().toString()] += 1
    return n


def largest_dup_subtree(jplan) -> tuple[int, str] | None:
    """(multiplicity, node-name chain) of the largest costly subtree
    that appears at least twice, or None."""
    sigs: Counter = Counter()
    _subtree_sigs(jplan, sigs)
    dups = [s for s, c in sigs.items()
            if c >= 2 and any(m in s for m in COST_MARKERS)]
    if not dups:
        return None
    sig = max(dups, key=len)
    head = " <- ".join(ln.strip().lstrip("+-: ").split(" ", 1)[0]
                       for ln in sig.splitlines()[:8] if ln.strip())
    return sigs[sig], head


def audit(spark, build, sf_dir: str) -> dict:
    """Build one query's plan and return its audit row; the plan is
    executed last, so the scan and exchange counts see AQE's final
    decisions (reused exchanges, runtime broadcasts). ``plan`` is the
    formatted plan before execution, with the ids that change from run
    to run masked: expression ids ``#123`` read ``#N`` and exchange ids
    ``plan_id=45`` read ``plan_id=N``."""
    df = build(spark, sf_dir)
    heavy = heavy_head_counts(df)
    plan = re.sub(r"plan_id=\d+", "plan_id=N", re.sub(r"#\d+", "#N", formatted_plan(df)))
    dup = largest_dup_subtree(df._jdf.queryExecution().executedPlan())
    executed_plan(df)
    scans: Counter = Counter()
    exchanges = dict.fromkeys(EXCHANGES.values(), 0)
    for j in _plan_nodes(df):
        name = j.nodeName()
        if name in EXCHANGES:
            exchanges[EXCHANGES[name]] += 1
        elif name.startswith("Scan parquet"):
            m = re.search(r"/(\w+)\.parquet", j.simpleString(300))
            scans[m.group(1) if m else "?"] += 1
    spark.catalog.clearCache()
    return {
        "stages": sorted(set(STAGES.findall(plan))),
        "scans": dict(sorted(scans.items())),
        "exchanges": exchanges,
        "heavy": {h: c for h, c in heavy.items() if c >= FREE_LIMIT},
        "dup": dup,
        "plan": plan,
    }


def _fmt(row: dict) -> str:
    def kv(d):
        return ",".join(f"{k}:{v}" for k, v in d.items()) or "-"

    ex = row["exchanges"]
    dup = f"x{row['dup'][0]} {row['dup'][1][:120]}" if row["dup"] else "-"
    return (f"py={','.join(row['stages']) or '-'} scans={kv(row['scans'])} "
            f"exch={ex['shuffle']}s/{ex['broadcast']}b/{ex['reused']}r "
            f"heavy={kv(row['heavy'])} dup={dup}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("names", nargs="*", help="queries to audit (default: all)")
    ap.add_argument("--dump", metavar="DIR",
                    help="write each formatted plan to DIR/<query>.txt")
    ap.add_argument("--write-pins", action="store_true",
                    help=f"rewrite {os.path.basename(PINS_PATH)} at PIN_SF")
    args = ap.parse_args()

    from ksql_query_tutorial_spark.session import get_spark
    import __spark_entry__ as em

    qs = em.queries()
    names = sorted(qs) if args.write_pins or not args.names else args.names
    sf_dir = PIN_SF if args.write_pins else os.environ.get(
        "SPARK_GRAFT_SF_DIR", PIN_SF)
    spark = get_spark(app_name="plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    if args.dump:
        os.makedirs(args.dump, exist_ok=True)

    rows: dict[str, dict] = {}
    errors = []
    for name in names:
        try:
            rows[name] = row = audit(spark, qs[name], sf_dir)
        except Exception as e:  # noqa: BLE001 — report, keep sweeping
            errors.append(name)
            print(f"{name:32s} PLAN ERROR {type(e).__name__}: {str(e)[:120]}")
            continue
        print(f"{name:32s} {_fmt(row)}", flush=True)
        if args.dump:
            with open(os.path.join(args.dump, f"{name}.txt"), "w") as fh:
                fh.write(row["plan"])

    if args.write_pins:
        if errors:
            print(f"pins NOT written: plan errors in {errors}")
            return 1
        pins = {n: r["heavy"] for n, r in rows.items() if r["heavy"]}
        with open(PINS_PATH, "w") as f:
            json.dump(pins, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"wrote {len(pins)} pinned queries to {PINS_PATH}")

    by_stage = Counter(s for r in rows.values() for s in r["stages"])
    rescans = [n for n, r in rows.items() if max(r["scans"].values(), default=0) >= 3]
    print(f"\n{len(rows) + len(errors)} rows at {sf_dir}; errors: {errors or 'none'}")
    print(f"stage kinds: {dict(sorted(by_stage.items())) or 'none'}")
    print(f"same table scanned 3+ times: {len(rescans)} {rescans}")
    print(f"duplicated costly subtree: {sum(1 for r in rows.values() if r['dup'])}")
    print(f"heavy head >= {FREE_LIMIT}x: {sum(1 for r in rows.values() if r['heavy'])}")
    return 1 if errors else 0


if __name__ == "__main__":
    raise SystemExit(main())
