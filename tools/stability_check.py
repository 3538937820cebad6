"""Repeat-stability flake hunter for the strict correctness gate (r6).

The r6 corpus_heaps incident: a query can be hash-green in every
single-shot check yet flake under the driver, because BOTH engines
reorder float accumulation — Spark across partial-aggregate merges,
DuckDB across parallel morsel scheduling (load-dependent). This tool
hunts that class empirically, complementing the structural fixed-point
fixes (analytics.ols_regression):

- oracle mode: run every DuckDB oracle REPS times in one process and
  compare the normalized value hash across reps. Run two copies
  concurrently to provoke morsel rescheduling (that is how the heaps
  flake reproduced).
- spark mode: run every declared query REPS times in one engine
  session (``get_spark``) and compare hashes. Vary SPARK_GRAFT_CPUS /
  --shuffle-partitions across invocations to explore different merge
  orders.

Any name printed as UNSTABLE is a driver flake waiting to happen and
needs the fixed-point treatment. Usage:
    python tools/stability_check.py oracle [--reps 6]
    [SPARK_GRAFT_CPUS=16] python tools/stability_check.py spark \
        [--reps 3] [--shuffle-partitions 200]
Exit code 1 if anything is unstable.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.01"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["oracle", "spark"])
    ap.add_argument("--reps", type=int, default=None)
    ap.add_argument("--shuffle-partitions", default=None)
    args = ap.parse_args()

    import __spark_entry__ as em
    from tests.oracle_utils import normalize, value_hash

    unstable: list[str] = []
    if args.mode == "oracle":
        import duckdb

        from ksql_query_tutorial_spark.tables import TABLES

        reps = args.reps or 6
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS "
                f"SELECT * FROM read_parquet('{SF}/{t}.parquet')"
            )
        oracles = em.oracle_sql()
        for name in sorted(oracles):
            hashes = set()
            for _ in range(reps):
                try:
                    hashes.add(value_hash(normalize(con.execute(oracles[name]).df())))
                except Exception as e:  # noqa: BLE001 — report, keep hunting
                    hashes.add(f"ERR:{type(e).__name__}")
                    break
            if len(hashes) > 1:
                unstable.append(name)
                print("UNSTABLE:", name)
        print(f"checked {len(oracles)} oracles x {reps} reps;",
              "unstable:", unstable or "none")
    else:
        from ksql_query_tutorial_spark.session import get_spark

        reps = args.reps or 3
        spark = get_spark("stability", extra_conf={
            "spark.sql.shuffle.partitions": args.shuffle_partitions,
        } if args.shuffle_partitions else None)
        spark.sparkContext.setLogLevel("ERROR")
        qs = em.queries()
        for name in sorted(qs):
            hashes = set()
            for _ in range(reps):
                try:
                    hashes.add(
                        value_hash(normalize(qs[name](spark, SF).toPandas()))
                    )
                except Exception as e:  # noqa: BLE001
                    hashes.add(f"ERR:{type(e).__name__}")
                    break
            if len(hashes) > 1:
                unstable.append(name)
                print("UNSTABLE:", name)
        print(f"checked {len(qs)} queries x {reps} reps;",
              "unstable:", unstable or "none")
        spark.stop()
    return 1 if unstable else 0


if __name__ == "__main__":
    raise SystemExit(main())
