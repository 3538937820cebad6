"""stream-ctas: the tutorial's three persistent queries over a seeded
match_event log.

The queries (``match_results`` CTAS, ``player_stats`` stream-table join
CTAS, and ``match_latest``, the latest row per match through
``upsert_table_stream``) start through ``start_persistent_query`` on one
``EngineSession`` and read the same file-source directory.

The queries first process one small file, so that start-up and
code generation are paid before timing. Phase 1, closed loop: a backlog
is moved into the source directory at once and drained by all three
queries; ``wall_s`` is the time until the slowest has caught up.
Phase 2, open loop: for ``--seconds`` the generator adds one event file
every ``1 / FILES_PER_S`` seconds whatever the queries do. A file's
latency runs from when it was due to the end of the trigger that made
it visible in the last of the three queries; files map to triggers
through cumulative ``numInputRows``.

At the end each query's sink state must equal its batch twin over the
same rows.
"""

from __future__ import annotations

import json
import os
import time
from datetime import datetime, timezone

import numpy as np

from perfbench import datagen
from perfbench.trace import median, percentile

N_PLAYERS = 500
N_MATCHES = 2_000
WARMUP_EVENTS = 100
BACKLOG_FILES = 24
BACKLOG_EVENTS_PER_FILE = 1_000
FILES_PER_TRIGGER = 10
# offered open-loop rate: 4 files of 25 events per second, far below what
# FILES_PER_TRIGGER files per trigger sustain
FILES_PER_S = 4.0
OPEN_EVENTS_PER_FILE = 25
DURATION_KEYS = {
    "latestOffset": "stream.latest_offset_ms",
    "getBatch": "stream.get_batch_ms",
    "queryPlanning": "stream.query_planning_ms",
    "addBatch": "stream.add_batch_ms",
    "walCommit": "stream.wal_commit_ms",
    "commitOffsets": "stream.commit_offsets_ms",
}


def _schema():
    from pyspark.sql import types as T

    from ksql_query_tutorial_spark import tutorial

    return T.StructType(tutorial.MATCH_EVENT_SCHEMA.fields + [
        T.StructField("created_ms", T.LongType(), True)])


class EventLog:
    """Writes event files into the source directory: each file is
    written beside it, stamped, then renamed in, so the file source
    never sees a partial file and orders files by creation."""

    def __init__(self, src: str, staging: str, rng: np.random.Generator):
        self.src, self.staging, self.rng = src, staging, rng
        self.rows_before: list[int] = []  # cumulative rows before each file
        self.rows = 0

    def stage(self, n: int, stamp: float) -> str:
        """Write the next file of ``n`` events beside the source; returns
        its name."""
        rows = datagen.match_events(self.rng, n, self.rows, N_PLAYERS, N_MATCHES)
        ms = int(stamp * 1000)
        for r in rows:
            r["created_ms"] = ms
        name = f"events-{len(self.rows_before):06d}.json"
        tmp = os.path.join(self.staging, name)
        with open(tmp, "w") as f:
            f.write("\n".join(json.dumps(r) for r in rows) + "\n")
        os.utime(tmp, (stamp, stamp))
        self.rows_before.append(self.rows)
        self.rows += n
        return name

    def publish(self, name: str) -> None:
        os.rename(os.path.join(self.staging, name), os.path.join(self.src, name))

    def write(self, n: int, stamp: float) -> None:
        self.publish(self.stage(n, stamp))


def _triggers(q) -> list[dict]:
    """Progress of every trigger that read data: wall-clock end (s),
    cumulative input rows after it, and the raw progress."""
    out, cum = [], 0
    for p in q.recentProgress:
        n = p.numInputRows
        if not n:
            continue
        cum += n
        start = datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
            tzinfo=timezone.utc).timestamp()
        d = p.durationMs
        out.append({"start": start, "end": start + d.get("triggerExecution", 0) / 1e3,
                    "cum": cum, "progress": p})
    return out


def _visible_at(trigs: list[dict], rows_through: int) -> float | None:
    for t in trigs:
        if t["cum"] >= rows_through:
            return t["end"]
    return None


def _sink_state(spark, name: str) -> dict:
    """Latest value per key of a memory sink fed in update mode."""
    state = {}
    for r in spark.table(name).collect():
        state[r.key] = json.loads(r.value)
    return state


def _batch_state(df, key: str) -> dict:
    from ksql_query_tutorial_spark.functions.serde import encode_kv

    return {r.key: json.loads(r.value) for r in encode_kv(df, [key]).collect()}


def stream_ctas(run) -> None:
    from ksql_query_tutorial_spark import tutorial
    from ksql_query_tutorial_spark.operators.upsert import latest_by_key
    from ksql_query_tutorial_spark.session import EngineSession
    from ksql_query_tutorial_spark.streaming.persistent import start_persistent_query
    from ksql_query_tutorial_spark.streaming.replay import stream_source
    from ksql_query_tutorial_spark.streaming.stateful import upsert_table_stream

    import pyarrow as pa
    import pyarrow.parquet as pq

    tr = run.tracer
    players_path = os.path.join(run.path("players"), "players.parquet")
    pq.write_table(pa.Table.from_pylist(datagen.players(N_PLAYERS)), players_path)

    def touch(spark):
        players = spark.read.parquet(players_path)
        players.count()
        return players

    players = run.set_up(touch)
    spark = run.spark

    schema = _schema()
    log = EventLog(run.path("source"), run.path("staging"), np.random.default_rng(run.seed))
    log.write(WARMUP_EVENTS, time.time() - 60)

    eng = EngineSession(spark)
    ckpt = run.path("checkpoints")

    def source():
        return stream_source(spark, log.src, schema, files_per_trigger=FILES_PER_TRIGGER)

    plans = {
        "match_results": (lambda: tutorial.match_results(source()), "id", None),
        "player_stats": (lambda: tutorial.player_stats(source(), players), "player_id", None),
        "match_latest": (lambda: upsert_table_stream(source(), ["id"], "offset"), "id", "update"),
    }
    queries = {}
    with tr.span("streaming.start"):
        for name, (build, key, mode) in plans.items():
            queries[name] = start_persistent_query(
                eng, name, build(), key_cols=[key], sink_format="memory",
                output_mode=mode, checkpoint_dir=os.path.join(ckpt, name))
        for q in queries.values():
            q.processAllAvailable()
    run.mark("queries started")

    base = time.time() - BACKLOG_FILES - 10
    staged = [log.stage(BACKLOG_EVENTS_PER_FILE, base + i) for i in range(BACKLOG_FILES)]
    first_open = len(log.rows_before)
    backlog_rows = BACKLOG_FILES * BACKLOG_EVENTS_PER_FILE
    with tr.span("streaming.drain"):
        t_start = time.perf_counter()
        for name in staged:
            log.publish(name)
        for q in queries.values():
            q.processAllAvailable()
        drain_s = time.perf_counter() - t_start
    run.mark("backlog drained")

    # open loop
    due: list[float] = []
    late: list[float] = []
    t_open = time.time()
    with tr.span("streaming.open_loop"):
        i = 0
        while True:
            t_due = t_open + i / FILES_PER_S
            if t_due - t_open >= run.seconds:
                break
            now = time.time()
            if t_due > now:
                time.sleep(t_due - now)
            stamp = time.time()
            log.write(OPEN_EVENTS_PER_FILE, stamp)
            due.append(t_due)
            late.append(stamp - t_due)
            i += 1
        for q in queries.values():
            q.processAllAvailable()
    run.mark("open loop done")

    trig = {name: _triggers(q) for name, q in queries.items()}
    for name, q in queries.items():
        eng.terminate(name)

    # latency per open-loop file; a file never made visible counts as failed
    lat_ms = []
    n_files = len(log.rows_before)
    ends_all = []
    for k in range(first_open, n_files):
        through = log.rows_before[k + 1] if k + 1 < n_files else log.rows
        ends = [_visible_at(t, through) for t in trig.values()]
        run.attempted += 1
        if any(e is None for e in ends):
            run.fail(f"event file {k} never visible in every query")
            continue
        ends_all.append(max(ends))
        lat_ms.append(1e3 * (max(ends) - due[k - first_open]))
    # backlog: files written but not yet visible in the slowest query
    # when each open-loop file was due
    backlog = [sum(1 for e in ends_all[:j] if e > t) for j, t in enumerate(due[:len(ends_all)])]

    # final state == batch twin over the same rows
    batch = spark.read.schema(schema).json(log.src)
    twins = {
        "match_results": _batch_state(tutorial.match_results(batch), "id"),
        "player_stats": _batch_state(tutorial.player_stats(batch, players), "player_id"),
        "match_latest": _batch_state(latest_by_key(batch, ["id"], "offset"), "id"),
    }
    for name, want in twins.items():
        run.attempted += 1
        got = _sink_state(spark, name)
        if got != want:
            bad = sum(1 for k in set(got) | set(want) if got.get(k) != want.get(k))
            run.fail(f"{name}: sink state differs from batch twin on {bad} keys")

    run.samples = len(lat_ms)
    run.set_e2e(wall_s=drain_s, p50_ms=percentile(lat_ms, 50), p90_ms=percentile(lat_ms, 90))
    run.notes["tutorial_metrics"] = {
        "drain_eps": [backlog_rows / drain_s, "events/s"],
        "e2e_p50_ms": [percentile(lat_ms, 50), "ms"],
        "e2e_p95_ms": [percentile(lat_ms, 95), "ms"],
        "offered_eps": [FILES_PER_S * OPEN_EVENTS_PER_FILE, "events/s"],
    }
    if run.trace:
        _rollup(run, trig, late, backlog)


def _rollup(run, trig: dict, late: list[float], backlog: list[int]) -> None:
    """Per-trigger medians from progress events, and trigger spans rebuilt
    from them (perf_counter clock)."""
    tr = run.tracer
    offset = time.perf_counter() - time.time()
    parts: dict[str, list[float]] = {k: [] for k in DURATION_KEYS.values()}
    total, commit = [], []
    batches = 0
    state_rows = state_bytes = dropped = 0
    for name, ts in trig.items():
        for t in ts:
            p = t["progress"]
            d = p.durationMs
            batches += 1
            total.append(d.get("triggerExecution", 0))
            sid = tr.record("trigger", t["start"] + offset, t["end"] + offset, label=name)
            cursor = t["start"] + offset
            for key, metric in DURATION_KEYS.items():
                ms = d.get(key, 0)
                parts[metric].append(ms)
                tr.record(metric.split(".")[1][:-3], cursor, cursor + ms / 1e3, parent=sid,
                          label=name)
                cursor += ms / 1e3
            ops = p.stateOperators or []
            commit.append(sum(o.commitTimeMs for o in ops))
            dropped += sum(o.numRowsDroppedByWatermark for o in ops)
        if ts:
            ops = ts[-1]["progress"].stateOperators or []
            state_rows += sum(o.numRowsTotal for o in ops)
            state_bytes += sum(o.memoryUsedBytes for o in ops)
    run.layer("stream.batches", batches)
    run.layer("stream.trigger_ms", median(total))
    for metric, xs in parts.items():
        run.layer(metric, median(xs))
    run.layer("stream.state_rows", state_rows)
    run.layer("stream.state_bytes", state_bytes)
    run.layer("stream.state_commit_ms", median(commit))
    run.layer("stream.rows_dropped_by_watermark", dropped)
    run.layer("stream.backlog_files_max", max(backlog, default=0))
    run.layer("stream.gen_late_ms", 1e3 * median(late))
    half = len(backlog) // 2
    # in-flight files at each due time; flat halves mean a sustainable rate
    run.notes["backlog_files_max_by_half"] = [max(backlog[:half], default=0),
                                              max(backlog[half:], default=0)]
