"""KSQL script runner — the engine's analog of the reference's CLI
session (`docker exec -it ksqldb-cli ksql http://ksqldb-server:8088`,
/root/reference/README.md:32).

Usage::

    python -m ksql_query_tutorial_spark.ksql.cli <script.sql> [--sf-dir DIR]
    cat statements.sql | python -m ksql_query_tutorial_spark.ksql.cli -

Runs every statement through the engine in order; SELECT results print
as tables, DDL prints an acknowledgement, SHOW prints its listing —
mirroring the tutorial's interactive transcript. With ``--sf-dir`` the
driver's parquet fixtures are pre-registered as collections so the
SURVEY §2.8 queries run directly.
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("script", help="KSQL script path, or - for stdin")
    ap.add_argument("--sf-dir", default=None,
                    help="register the parquet fixture tables from this dir")
    ap.add_argument("--cpus", default=None)
    args = ap.parse_args(argv)

    from pyspark.sql import DataFrame

    from ksql_query_tutorial_spark.ksql import dialect, engine
    from ksql_query_tutorial_spark.session import EngineSession, get_spark

    spark = get_spark(app_name="ksql-cli", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    sess = EngineSession(spark)
    if args.sf_dir:
        from ksql_query_tutorial_spark.tables import register_views

        register_views(spark, args.sf_dir)

    text = sys.stdin.read() if args.script == "-" else open(args.script).read()
    rc = 0
    for stmt in dialect.split_statements(text):
        head = " ".join(stmt.split()[:4])
        try:
            result = engine.execute(sess, stmt)
        except Exception as e:  # keep going, like the reference CLI
            print(f"ERROR in [{head} ...]: {e}", file=sys.stderr)
            rc = 1
            continue
        if isinstance(result, DataFrame):
            result.show(100, truncate=False)
        elif isinstance(result, (list, dict)):
            print(result)
        else:
            print(f"ok: {head} ...")
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
