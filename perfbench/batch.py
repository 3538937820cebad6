"""batch-iterative and batch-relational: frozen query lists over seeded
fixture tables.

Per query the timed region is input to complete result: the query
builder call (``construct``: the query and operator modules, including any
eager pins, checkpoints and collects they run) plus the action that
collects the whole result (``exec``). With tracing on, Catalyst's
planning is forced and timed on its own first (``plan``), and the job
group of each part gives its job, stage and task counters. Every result
is checked against the DuckDB oracle on the same parquet files.
"""

from __future__ import annotations

import math
import time

from perfbench.check import Oracle, value_hash
from perfbench.trace import SparkCounters, median, percentile

# Loop-heavy operators: eager pins, local checkpoints and driver-side
# collects between rounds, so construct time and job scheduling dominate.
# (graph_pagerank is left out: its MinHash-LSH candidate step missed a
# Jaccard-0.90 pair on one generated corpus in forty, so its exact
# oracle does not hold on every seed.)
ITERATIVE = [
    "dedup_clusters",
    "corpus_bpe_merges",
]

# Scan / filter / join / aggregate plans: Catalyst and codegen carry
# them and no iterative operator runs.
RELATIONAL = [
    "q01_full_scan",
    "q04_case_when",
    "q09_group_count",
    "q14_inner_join",
    "q17_player_stats",
    "q20_windowed_agg",
    "q23_revenue_by_region",
    "q28_cube",
    "orders_pareto",
    "customer_rfm",
    "supplier_profit",
]

LINEITEM_ROWS = 20_000
MIN_PASSES = 2
WARMUP_PASSES = 1


def _phases(df) -> dict[str, float]:
    """Catalyst phase durations (ms) from the query's tracker."""
    out = {}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


class BatchWorkload:
    def __init__(self, run, names: list[str]):
        self.run = run
        self.names = names
        self.oracle_hash: dict[str, str] = {}
        self.data_dir = run.path("tables")

    def setup(self) -> None:
        """Generate the tables; session start plus touching every table."""
        from ksql_query_tutorial_spark.tables import TABLES, load

        from perfbench import datagen

        run = self.run
        datagen.write_tables(self.data_dir, run.seed, LINEITEM_ROWS)
        run.set_up(lambda spark: [load(spark, self.data_dir, t).count() for t in TABLES])
        from __spark_entry__ import oracle_sql, queries

        self.queries = queries()
        oracles = oracle_sql()
        oracle = Oracle(self.data_dir, TABLES)
        try:
            self.oracle_hash = {n: oracle.hash(oracles[n]) for n in self.names}
        finally:
            oracle.close()
        self.counters = SparkCounters(run.spark)
        run.mark("oracle done")

    def one(self, name: str, tag: str, traced: bool) -> tuple[float, float] | None:
        """Run one query; returns (latency, wall) seconds or None if it
        failed. wall adds the cache release after the result is read."""
        from ksql_query_tutorial_spark import cache

        run, tr, spark = self.run, self.run.tracer, self.run.spark
        sc = spark.sparkContext
        run.attempted += 1
        phases = {}
        try:
            with tr.span("query", name):
                t0 = time.perf_counter()
                if traced:
                    sc.setJobGroup(f"{tag}:c", name)
                with tr.span("construct"):
                    df = self.queries[name](spark, self.data_dir)
                t1 = time.perf_counter()
                if traced:
                    sc.setJobGroup(f"{tag}:e", name)
                    with tr.span("plan"):
                        df._jdf.queryExecution().executedPlan()
                    tp = time.perf_counter()
                with tr.span("exec"):
                    pdf = df.toPandas()
                t2 = time.perf_counter()
                if traced:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    phases = _phases(df)
                    pinned = cache.pinned_count()
                with tr.span("cache.clear"):
                    spark.catalog.clearCache()
                    cache.release()
                t3 = time.perf_counter()
        except Exception as exc:  # a failed query is counted, not fatal
            run.fail(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
            return None
        if traced:
            c = self.counters.group(f"{tag}:c")
            e = self.counters.group(f"{tag}:e")
            tr.add("construct.s", t1 - t0)
            tr.add("construct.jobs", c["jobs"])
            tr.add("construct.stages", c["stages"])
            tr.add("plan.s", tp - t1)
            for k in ("analysis", "optimization", "planning"):
                tr.add(f"plan.{k}_ms", phases.get(k, 0.0))
            tr.add("exec.s", t2 - tp)
            for k, v in e.items():
                tr.add(f"exec.{k}", v)
            tr.add("cache.pinned", pinned)
            tr.add("cache.clear_s", t3 - t2)
        got = value_hash(pdf)
        if got != self.oracle_hash[name]:
            run.fail(f"{name}: result {got} != oracle {self.oracle_hash[name]}")
            return None
        return t2 - t0, t3 - t0

    def measure(self) -> None:
        run = self.run
        # warm-up passes are checked like the timed ones
        t0 = time.perf_counter()
        for w in range(WARMUP_PASSES):
            for name in self.names:
                self.one(name, f"warm{w}:{name}", traced=False)
        run.mark("warm-up done")
        # JIT and code generation keep speeding passes up for several
        # passes, so the timed pass count is fixed before timing starts:
        # a count that depended on the timed passes' own speed would make
        # faster runs report lower medians.
        warm = (time.perf_counter() - t0) / WARMUP_PASSES
        passes = max(MIN_PASSES, math.ceil(run.seconds / warm))
        lat: dict[str, list[float]] = {n: [] for n in self.names}
        wall: dict[str, list[float]] = {n: [] for n in self.names}
        traced_wall: dict[str, list[float]] = {n: [] for n in self.names}
        traced_passes = 0
        # With tracing on, passes run untraced, traced, traced, untraced
        # (repeating), so the same process measures the tracing overhead
        # and the passes' warm-up trend cancels out of it.
        for p in range(passes * (2 if run.trace else 1)):
            traced = run.trace and p % 4 in (1, 2)
            for name in self.names:
                r = self.one(name, f"p{p}:{name}", traced)
                if r is None:
                    continue
                if traced:
                    traced_wall[name].append(r[1])
                else:
                    lat[name].append(r[0])
                    wall[name].append(r[1])
            traced_passes += traced
            run.mark(f"pass {p + 1} done")
        samples = [x for xs in lat.values() for x in xs]
        run.samples = len(samples)
        run.set_e2e(
            wall_s=sum(median(xs) for xs in lat.values() if xs),
            p50_ms=1e3 * percentile(samples, 50),
            p90_ms=1e3 * percentile(samples, 90),
        )
        if run.trace:
            run.per_pass(traced_passes)
            untraced = sum(median(xs) for xs in wall.values() if xs)
            traced_sum = sum(median(xs) for xs in traced_wall.values() if xs)
            if untraced:
                run.layer("trace.overhead_frac", traced_sum / untraced - 1)
            run.cover_check(wall)


def batch_iterative(run) -> None:
    wl = BatchWorkload(run, ITERATIVE)
    wl.setup()
    wl.measure()


def batch_relational(run) -> None:
    wl = BatchWorkload(run, RELATIONAL)
    wl.setup()
    wl.measure()
