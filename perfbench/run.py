"""Benchmark entry point.

    python3 perfbench/run.py --workload batch-relational --seed 1 --seconds 8 --trace 0

Run from the repository root. Generates the workload's inputs from
``--seed`` under ``.perfbench_tmp/`` (removed on exit), runs the program
on ``local[nproc]`` with its own resource defaults, checks every result,
and prints as its last stdout line one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones, and writes the spans to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import sys
import tempfile
import time

ROOT = os.getcwd()
sys.path[:0] = [ROOT, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))]

from perfbench.trace import Tracer, median, peak_rss_mb  # noqa: E402

# name -> unit; every workload reports all of them
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "p50_ms": "ms",
    "p90_ms": "ms",
}

# name -> unit; a layer a workload never calls reports 0
PER_LAYER = {
    "mem.peak_rss_mb": "MB",
    "session.start_s": "s",
    "tables.touch_s": "s",
    "construct.s": "s",
    "construct.jobs": "count",
    "construct.stages": "count",
    "plan.s": "s",
    "plan.analysis_ms": "ms",
    "plan.optimization_ms": "ms",
    "plan.planning_ms": "ms",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.busy_frac": "ratio",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.input_bytes": "bytes",
    "exec.gc_s": "s",
    "cache.pinned": "count",
    "cache.clear_s": "s",
    "stream.batches": "count",
    "stream.trigger_ms": "ms",
    "stream.latest_offset_ms": "ms",
    "stream.get_batch_ms": "ms",
    "stream.query_planning_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms",
    "stream.state_rows": "rows",
    "stream.state_bytes": "bytes",
    "stream.state_commit_ms": "ms",
    "stream.rows_dropped_by_watermark": "rows",
    "stream.backlog_files_max": "count",
    "stream.gen_late_ms": "ms",
    "ksql.split_ms": "ms",
    "ksql.insert_ms": "ms",
    "ksql.topic_rows": "rows",
    "ksql.select_build_ms": "ms",
    "ksql.select_plan_ms": "ms",
    "ksql.select_exec_ms": "ms",
    "ksql.select_jobs": "count",
    "trace.overhead_frac": "ratio",
}

# counters the batch workloads sum over every traced pass; reported per pass
PER_PASS = [k for k in PER_LAYER if k.split(".")[0] in ("construct", "plan", "exec", "cache")]

COVER_TOLERANCE = 0.05
SETUPS = 3


class Run:
    """State of one benchmark run: inputs, Spark session, tracer, the
    operation tally and the metrics reported at the end."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.nproc = len(os.sched_getaffinity(0))
        base = os.path.join(ROOT, ".perfbench_tmp")
        os.makedirs(base, exist_ok=True)
        self.tmp = tempfile.mkdtemp(prefix=f"{workload}-", dir=base)
        self.tracer = Tracer(trace, os.path.basename(self.tmp))
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.samples = 0
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.notes: dict[str, object] = {}
        self.t0 = time.perf_counter()

    def path(self, name: str) -> str:
        p = os.path.join(self.tmp, name)
        os.makedirs(p, exist_ok=True)
        return p

    # ------------------------------------------------------------ spark
    def start_spark(self):
        from ksql_query_tutorial_spark.session import get_spark

        scratch = self.path("spark")
        self.spark = get_spark(
            "perfbench", cpus=self.nproc,
            extra_conf={
                "spark.local.dir": scratch,
                "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
                "spark.sql.streaming.numRecentProgressUpdates": "100000",
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.path('tmp')}",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop_spark(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop Spark, end the JVM and wait for it, remove the inputs."""
        from pyspark import SparkContext

        self.stop_spark()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()
        shutil.rmtree(self.tmp, ignore_errors=True)

    # ------------------------------------------------------------ tally
    def mark(self, phase: str) -> None:
        """Log a phase boundary to stderr with the seconds since start."""
        print(f"[{time.perf_counter() - self.t0:7.2f}s] {phase}", file=sys.stderr, flush=True)

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg)
        print(f"FAILED {msg}", file=sys.stderr, flush=True)

    def set_up(self, touch):
        """Start the session and call ``touch(spark)``, ``SETUPS`` times.

        ``setup_s`` is the median; the first start launches the JVM, so
        the median is a warm set-up. Returns the last ``touch`` result.
        """
        starts, touches = [], []
        for _ in range(SETUPS):
            self.stop_spark()
            t0 = time.perf_counter()
            with self.tracer.span("session"):
                self.start_spark()
            t1 = time.perf_counter()
            with self.tracer.span("tables"):
                out = touch(self.spark)
            starts.append(t1 - t0)
            touches.append(time.perf_counter() - t1)
        self.e2e["setup_s"] = median([a + b for a, b in zip(starts, touches)])
        self.layers["session.start_s"] = median(starts)
        self.layers["tables.touch_s"] = median(touches)
        self.mark("setup done")
        return out

    def set_e2e(self, **values: float) -> None:
        self.e2e.update(values)

    def layer(self, name: str, value: float) -> None:
        self.layers[name] = value

    def per_pass(self, passes: int) -> None:
        """Batch rollup: counters summed over traced passes, per pass."""
        c = self.tracer.counters
        for k in PER_PASS:
            if k in c:
                self.layers[k] = c[k] / max(passes, 1)
        if self.layers.get("exec.s"):
            self.layers["exec.busy_frac"] = (
                self.layers["exec.task_run_s"] / (self.layers["exec.s"] * self.nproc))

    def cover_check(self, untraced_wall: dict[str, list[float]]) -> None:
        """Do a query's traced child spans cover its untraced wall time?"""
        cover = self.tracer.child_cover("query")
        tot_c = tot_u = 0.0
        misses = []
        for name, walls in untraced_wall.items():
            if not walls or not cover.get(name):
                continue
            c, u = median(cover[name]), median(walls)
            tot_c += c
            tot_u += u
            if abs(c / u - 1) > COVER_TOLERANCE:
                misses.append(f"{name}={c / u:.3f}")
        self.notes["cover_ratio"] = round(tot_c / tot_u, 4) if tot_u else None
        self.notes["cover_outside_5pct"] = misses

    # ------------------------------------------------------------ result
    def provenance(self) -> dict:
        out = {"workload": self.workload, "seed": self.seed, "seconds": self.seconds,
               "nproc": self.nproc, "commit": _commit(), "source_digest": _source_digest()}
        if self.spark is not None:
            import pyspark

            out["spark"] = pyspark.__version__
            out["driver_heap_mb"] = round(
                self.spark._jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20)
        return out

    def result(self) -> dict:
        if self.trace:
            names = PER_LAYER
            values = {k: self.layers.get(k, 0.0) for k in names}
        else:
            names = END_TO_END
            values = self.e2e
        values = {k: float(values.get(k, math.nan)) for k in names}
        # a metric with no successful sample cannot be reported as a number
        finite = all(math.isfinite(v) for v in values.values())
        metrics = {k: {"value": v if math.isfinite(v) else 0.0, "unit": names[k]}
                   for k, v in values.items()}
        return {"correct": self.failed == 0 and finite, "attempted": self.attempted,
                "failed": self.failed, "metrics": metrics}


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def _commit() -> str | None:
    """HEAD's commit when run from a git checkout, else None."""
    git = os.path.join(ROOT, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        try:
            with open(os.path.join(git, ref)) as f:
                return f.read().strip()
        except FileNotFoundError:
            with open(os.path.join(git, "packed-refs")) as f:
                for line in f:
                    if line.rstrip().endswith(" " + ref):
                        return line.split()[0]
    except OSError:
        return None
    return None


def _source_digest() -> str:
    """sha256 over the program's Python sources, for checkouts without git."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "__spark_entry__.py")]
    for d, _, fs in sorted(os.walk(os.path.join(ROOT, "ksql_query_tutorial_spark"))):
        paths += [os.path.join(d, f) for f in sorted(fs) if f.endswith(".py")]
    for p in paths:
        with open(p, "rb") as f:
            h.update(os.path.relpath(p, ROOT).encode() + b"\0" + f.read())
    return h.hexdigest()[:16]


def workloads() -> dict:
    from perfbench.batch import batch_iterative, batch_relational
    from perfbench.ksql_session import ksql_session
    from perfbench.stream import stream_ctas

    return {
        "batch-iterative": batch_iterative,
        "batch-relational": batch_relational,
        "stream-ctas": stream_ctas,
        "ksql-session": ksql_session,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "ksql_query_tutorial_spark")):
        print("run from the repository root: ksql_query_tutorial_spark/ not found",
              file=sys.stderr)
        return 2
    table = workloads()
    if args.workload not in table:
        print(f"unknown workload {args.workload!r}; one of {sorted(table)}", file=sys.stderr)
        return 2
    # the program's own temp files (stream checkpoints) land in the run dir
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    os.environ["TMPDIR"] = run.path("tmp")
    tempfile.tempdir = None
    t0 = time.perf_counter()
    ticks0 = _cpu_ticks()
    try:
        table[args.workload](run)
        run.layers["mem.peak_rss_mb"] = peak_rss_mb(run.spark)
        prov = run.provenance()
        if run.trace:
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            spans = os.path.join(out, f"{args.workload}-seed{args.seed}-spans.jsonl")
            run.tracer.write(spans)
            prov["spans"] = os.path.relpath(spans, ROOT)
            prov["self_time_s"] = {k: round(v, 4) for k, v in run.tracer.self_times().items()}
    finally:
        run.shutdown()
    prov["run_s"] = round(time.perf_counter() - t0, 2)
    steal, total = (b - a for a, b in zip(ticks0, _cpu_ticks()))
    # share of CPU time the hypervisor gave to other guests during the run
    prov["host_steal_frac"] = round(steal / max(total, 1), 4)
    prov["samples"] = run.samples
    prov["error_rate"] = run.failed / max(run.attempted, 1)
    prov.update(run.notes)
    for name, (value, unit) in prov.pop("tutorial_metrics", {}).items():
        print(f"metric {name} {value:.4f} {unit}")
    print("provenance " + json.dumps(prov, sort_keys=True))
    res = run.result()
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
