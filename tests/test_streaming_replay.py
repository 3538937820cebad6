"""Streaming-semantics replay suite (SURVEY.md §5.3): the tutorial's
exact scenario through real Structured Streaming micro-batches, asserted
against the README's golden outputs (/root/reference/README.md)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from ksql_query_tutorial_spark import tutorial
from ksql_query_tutorial_spark.functions.serde import encode_kv
from ksql_query_tutorial_spark.operators.upsert import latest_by_key
from ksql_query_tutorial_spark.streaming import replay as R

# Multi-minute sweep: excluded from the driver-facing default run
# (pytest.ini addopts); run with -m slow / -m "".
pytestmark = pytest.mark.slow


def players_df(spark):
    return spark.createDataFrame(
        [tuple(r.values()) for r in tutorial.PLAYERS_ROWS], tutorial.PLAYERS_SCHEMA
    )


# ------------------------------------------------------- TABLE semantics

def test_players_upsert_scan_matches_golden(spark):
    """TABLE full-scan golden (README.md:100-114) + upsert-on-rekey
    (README.md:92): an 11th record with id=1 must UPDATE, not append."""
    rows = [dict(r, offset=i) for i, r in enumerate(tutorial.PLAYERS_ROWS)]
    rows.append({"id": "1", "name": "Lionel Messi", "team": "Inter Miami",
                 "nationality": "Argentinian", "offset": 10})
    from pyspark.sql import types as T

    # copy: StructType.add mutates in place, and PLAYERS_SCHEMA is shared
    schema = T.StructType(
        list(tutorial.PLAYERS_SCHEMA.fields) + [T.StructField("offset", T.LongType())]
    )
    df = spark.createDataFrame([tuple(r[f.name] for f in schema.fields) for r in rows], schema)
    state = latest_by_key(df, ["id"], "offset").drop("offset")
    got = {r.id: (r.name, r.team) for r in state.collect()}
    assert len(got) == 10
    assert got["1"] == ("Lionel Messi", "Inter Miami")
    assert got["2"] == ("Cristiano Ronaldo", "Al-Nassr")


# -------------------------------------------- CTAS: match_results golden

def test_match_results_final_and_intermediate(spark):
    """Replay the 7-event insert sequence one micro-batch per event.

    Asserts (1) final state equals README.md:348-351; (2) the mid-replay
    checkpoint after event 4: match 1 home_goals=2 (README.md:249-253);
    (3) per-key emissions are monotone upserts."""
    q = R.replay(
        spark,
        tutorial.MATCH_EVENT_ROWS,
        tutorial.MATCH_EVENT_SCHEMA,
        tutorial.match_results,
        name="match_results",
        output_mode="update",
        with_batch_id=True,
    )
    emissions = q.emissions
    assert emissions, "no rows emitted"

    final: dict[str, tuple[int, int]] = {}
    seen_by_key: dict[str, list[tuple[int, int]]] = {}
    upto4: dict[str, tuple[int, int]] = {}
    for batch_id, row in emissions:
        final[row.id] = (row.home_goals, row.away_goals)
        seen_by_key.setdefault(row.id, []).append((row.home_goals, row.away_goals))
        if batch_id <= 3:
            upto4[row.id] = (row.home_goals, row.away_goals)

    # golden final state (README.md:348-351)
    assert final == {"1": (2, 1), "2": (1, 1)}
    # mid-replay checkpoint (README.md:249-253)
    assert upto4["1"] == (2, 1)
    # monotone per-key upserts (counts never decrease)
    for key, seq in seen_by_key.items():
        for (h1, a1), (h2, a2) in zip(seq, seq[1:]):
            assert h2 >= h1 and a2 >= a1, f"non-monotone emission for {key}"


# ------------------------------------- CTAS: player_stats (join + agg)

def test_player_stats_final_golden(spark):
    """Stream⋈table join + multi-aggregate replay; final state equals
    README.md:413-420 (Messi 3 goals / avg 1.5 / 1 assist; Ronaldo
    2 / 1.0 / 1)."""
    players = players_df(spark)
    q = R.replay(
        spark,
        tutorial.MATCH_EVENT_ROWS,
        tutorial.MATCH_EVENT_SCHEMA,
        lambda s: tutorial.player_stats(s, players),
        name="player_stats",
        output_mode="update",
        with_batch_id=True,
    )
    final = {}
    for _, row in q.emissions:
        final[row.player_id] = (row.name, row.goals, row.avg_goals, row.assists)
    assert final["1"] == ("Lionel Messi", 3, 1.5, 1)
    assert final["2"] == ("Cristiano Ronaldo", 2, 1.0, 1)
    assert set(final) == {"1", "2"}


def test_batch_equals_final_stream_state(spark):
    """Stream/batch unification (SURVEY.md §5.3): the same logical plan
    over the same rows gives identical results batch vs final stream."""
    players = players_df(spark)
    batch_events = spark.createDataFrame(
        [tuple(r.values()) for r in tutorial.MATCH_EVENT_ROWS], tutorial.MATCH_EVENT_SCHEMA
    )
    batch = {
        r.player_id: (r.name, r.goals, r.avg_goals, r.assists)
        for r in tutorial.player_stats(batch_events, players).collect()
    }
    q = R.replay(
        spark,
        tutorial.MATCH_EVENT_ROWS,
        tutorial.MATCH_EVENT_SCHEMA,
        lambda s: tutorial.player_stats(s, players),
        name="player_stats_b",
        output_mode="update",
        with_batch_id=True,
        chunk_size=3,
    )
    stream_final = {}
    for _, row in q.emissions:
        stream_final[row.player_id] = (row.name, row.goals, row.avg_goals, row.assists)
    assert stream_final == batch


# ----------------------------------------------------- sink record layout

def test_sink_key_value_layout_single_key(spark):
    """match_results sink: bare-string key, uppercase-field JSON value
    (README.md:339-351: `1:{"HOME_GOALS":2,"AWAY_GOALS":1}`)."""
    events = spark.createDataFrame(
        [tuple(r.values()) for r in tutorial.MATCH_EVENT_ROWS], tutorial.MATCH_EVENT_SCHEMA
    )
    kv = {r.key: r.value for r in encode_kv(tutorial.match_results(events), ["id"]).collect()}
    assert json.loads(kv["1"]) == {"HOME_GOALS": 2, "AWAY_GOALS": 1}
    assert json.loads(kv["2"]) == {"HOME_GOALS": 1, "AWAY_GOALS": 1}
    # field ORDER must follow column order (README.md:339-341)
    assert kv["1"] == '{"HOME_GOALS":2,"AWAY_GOALS":1}'


# ------------------------------------------ windowed agg with watermark

def test_windowed_agg_with_watermark_replay(spark):
    """§7.4 windows: tumbling 1-minute window + watermark through the
    streaming path equals the batch window aggregate."""
    rows = [
        {"ts": f"2024-01-01T00:{m:02d}:{s:02d}", "k": "a"}
        for m, s in [(0, 10), (0, 40), (1, 5), (1, 50), (2, 30), (3, 10)]
    ]
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("k", T.StringType(), True),
    ])

    def agg(df):
        return (
            df.withWatermark("ts", "1 minute")
            .groupBy(F.window("ts", "1 minute"), "k")
            .agg(F.count("*").alias("n"))
            .select(F.col("window.start").alias("ws"), "k", "n")
        )

    q = R.replay(spark, rows, schema, agg, name="win", output_mode="update",
                 with_batch_id=True, chunk_size=2)
    final = {}
    for _, row in q.emissions:
        final[(str(row.ws), row.k)] = row.n
    batch_df = spark.createDataFrame([(r["ts"], r["k"]) for r in rows], schema="ts string, k string") \
        .select(F.col("ts").cast("timestamp").alias("ts"), "k")
    batch = {
        (str(r.ws), r.k): r.n
        for r in batch_df.groupBy(F.window("ts", "1 minute"), "k")
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("ws"), "k", "n")
        .collect()
    }
    assert final == batch
    assert len(final) == 4


# ---------------------------------------------- streaming TABLE upsert

def test_upsert_table_stream_changelog(spark):
    """Streaming KTable (a JVM keyed aggregate): per-key state across
    micro-batches, emission only when a batch holds a key's new latest
    record, stale offsets suppressed (README.md:92)."""
    from pyspark.sql import types as T

    from ksql_query_tutorial_spark.streaming.stateful import upsert_table_stream

    schema = T.StructType([
        T.StructField("id", T.StringType()),
        T.StructField("team", T.StringType()),
        T.StructField("offset", T.LongType()),
    ])
    rows = [
        {"id": "1", "team": "Barcelona", "offset": 0},
        {"id": "2", "team": "Juventus", "offset": 1},
        {"id": "1", "team": "PSG", "offset": 2},        # update key 1
        {"id": "2", "team": "Juventus", "offset": 1},   # replay: same offset, re-emits (>=)
        {"id": "1", "team": "Barcelona", "offset": 1},  # STALE: offset 1 < 2, suppressed
    ]
    q = R.replay(
        spark, rows, schema,
        lambda s: upsert_table_stream(s, ["id"], "offset"),
        name="upsert_state", output_mode="update", with_batch_id=True,
    )
    emissions = [(b, r.id, r.team, r.offset) for b, r in q.emissions]
    # batch 0..1: inserts; batch 2: key 1 -> PSG; batch 3: no-op-ish
    # re-emit allowed (>= keeps replays idempotent-latest); batch 4: stale -> NOTHING
    assert (0, "1", "Barcelona", 0) in emissions
    assert (1, "2", "Juventus", 1) in emissions
    assert (2, "1", "PSG", 2) in emissions
    assert not any(b == 4 for b, *_ in emissions), "stale offset must be suppressed"
    # final state: key 1 is PSG (offset 2), key 2 Juventus
    final = {}
    for b, i, team, off in emissions:
        final[i] = (team, off)
    assert final == {"1": ("PSG", 2), "2": ("Juventus", 1)}


def test_players_upsert_via_stateful_stream_matches_golden(spark):
    """The tutorial's TABLE semantic through the TRUE streaming path
    (upsert_table_stream's keyed state): replay the 10 players + an 11th record
    re-keying id=1 (README.md:92); final per-key state must equal the
    batch max_by materialization and the README golden."""
    from pyspark.sql import types as T

    from ksql_query_tutorial_spark.streaming.stateful import upsert_table_stream

    rows = [dict(r, offset=i) for i, r in enumerate(tutorial.PLAYERS_ROWS)]
    rows.append({"id": "1", "name": "Lionel Messi", "team": "Inter Miami",
                 "nationality": "Argentinian", "offset": 10})
    schema = T.StructType(
        list(tutorial.PLAYERS_SCHEMA.fields) + [T.StructField("offset", T.LongType())]
    )
    q = R.replay(
        spark, rows, schema,
        lambda s: upsert_table_stream(s, ["id"], "offset"),
        name="players_state", output_mode="update", with_batch_id=True,
        chunk_size=3,  # multi-record batches: per-batch max must win
    )
    final: dict = {}
    for _b, r in q.emissions:
        final[r.id] = (r.name, r.team)
    assert len(final) == 10
    assert final["1"] == ("Lionel Messi", "Inter Miami")  # upserted
    assert final["2"] == ("Cristiano Ronaldo", "Al-Nassr")
    # batch materialization agrees (stream/batch unification)
    df = spark.createDataFrame(
        [tuple(r[f.name] for f in schema.fields) for r in rows], schema
    )
    batch = {r.id: (r.name, r.team)
             for r in latest_by_key(df, ["id"], "offset").collect()}
    assert final == batch


# ------------------------------------- batch operators run as streams

def test_value_histogram_streams_in_update_mode(spark):
    """One SQL text, batch and stream: the events_histogram SELECT of
    events.sql, compiled unchanged over a stream in update mode, ends in
    the state the batch compile returns (state bounded by |groups x
    bins|)."""
    from pyspark.sql import types as T

    from tests.conftest import script_query

    rows = [
        {"event_type": "a", "value": 1.0},
        {"event_type": "a", "value": 7.5},
        {"event_type": "b", "value": -3.0},
        {"event_type": "a", "value": 2.0},
        {"event_type": "b", "value": 12.0},
    ]
    schema = T.StructType([
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ])
    q = R.replay(
        spark, rows, schema,
        lambda s: script_query("events_histogram", events=s),
        name="histstream", output_mode="update", chunk_size=2,
    )
    final = {}
    for r in spark.table("histstream").collect():
        final[(r.group, r.bin)] = (r.n, r.min_v, r.max_v)   # last update wins
    batch_df = spark.createDataFrame(
        [(r["event_type"], r["value"]) for r in rows], schema
    )
    batch = {
        (r.group, r.bin): (r.n, r.min_v, r.max_v)
        for r in script_query("events_histogram", events=batch_df).collect()
    }
    assert final == batch
    assert len(batch) == 4


# ------------------------------------------------- observability (r8)

def _observe_ingest(df):
    """The ingest SLI set under metric set "ingest": input rows, rows
    with a NULL key ``k``, and the event-time span of ``ts``."""
    return df.observe(
        "ingest",
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.when(F.col("k").isNull(), 1).otherwise(0)).cast("long")
        .alias("null_keys"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
    )


def test_observe_metrics_and_progress_log(spark):
    """Inline ``observe`` SLI counters ride the real
    micro-batch replay — per-batch observed rows sum to the input,
    the planted null key is counted exactly once, event-time span is
    reported per batch, the ProgressLog listener captures every batch
    with its watermark — and the instrumented pipeline's sink output
    is IDENTICAL to the uninstrumented batch result (observe adds no
    semantic change and no extra aggregation pass)."""
    from pyspark.sql import types as T

    from ksql_query_tutorial_spark.streaming import replay as R
    from ksql_query_tutorial_spark.streaming.observe import ProgressLog

    rows = [
        {"k": "a", "ts": "2026-03-01 10:00:00", "v": 1},
        {"k": "b", "ts": "2026-03-01 10:01:00", "v": 2},
        {"k": None, "ts": "2026-03-01 10:02:00", "v": 3},
        {"k": "a", "ts": "2026-03-01 10:03:00", "v": 4},
    ]
    schema = T.StructType([
        T.StructField("k", T.StringType()),
        T.StructField("ts", T.StringType()),
        T.StructField("v", T.LongType()),
    ])

    def xform(src):
        inst = _observe_ingest(src.withColumn("ts", F.col("ts").cast("timestamp")))
        return (
            inst.withWatermark("ts", "1 minute")
            .groupBy("k")
            .agg(F.sum("v").alias("total"))
        )

    log = ProgressLog()
    spark.streams.addListener(log)
    try:
        q = R.replay(
            spark, rows, schema, xform, "obs_sink",
            output_mode="update", chunk_size=2,
        )
        q.awaitTermination(5)
        # listener events arrive asynchronously — poll until the full
        # replayed volume is visible before detaching
        import time

        deadline = time.time() + 15
        while time.time() < deadline:
            seen = sum(
                b["observed"]["ingest"]["rows"]
                for b in log.batches
                if b["observed"].get("ingest")
            )
            if seen >= 4:
                break
            time.sleep(0.2)
    finally:
        spark.streams.removeListener(log)

    observed = [
        b["observed"]["ingest"] for b in log.batches
        if b["observed"].get("ingest") and b["observed"]["ingest"]["rows"]
    ]
    assert sum(m["rows"] for m in observed) == 4
    assert sum(m["null_keys"] for m in observed) == 1
    for m in observed:
        assert m["min_ts"] is not None and m["max_ts"] >= m["min_ts"]
    data_batches = [b for b in log.batches if b["numInputRows"]]
    assert len(data_batches) >= 2  # chunk_size=2 over 4 rows
    assert all(b["watermark"] is not None for b in data_batches)

    # semantic transparency: final sink state == plain batch result
    sink = {
        (r["k"], r["total"])
        for r in spark.table("obs_sink").groupBy("k")
        .agg(F.max("total").alias("total")).collect()
    }
    assert sink == {("a", 5), ("b", 2), (None, 3)}


def test_idempotent_foreach_batch_exactly_once(spark, tmp_path):
    """streaming/sinks.py: a replayed (duplicate) batch id is a
    silent no-op — the write function runs once per id; through a real
    micro-batch run the sink directory holds each input row exactly
    once, and re-delivering every batch by hand afterwards changes
    nothing."""
    from pyspark.sql import types as T

    from ksql_query_tutorial_spark.streaming import replay as R
    from ksql_query_tutorial_spark.streaming.sinks import (
        idempotent_foreach_batch,
        write_batch_parquet,
    )

    calls: list[int] = []
    ledger = str(tmp_path / "ledger")
    out = str(tmp_path / "out")

    def counting_write(batch_df, batch_id):
        calls.append(batch_id)
        write_batch_parquet(out)(batch_df, batch_id)

    sink = idempotent_foreach_batch(counting_write, ledger)

    schema = T.StructType([T.StructField("v", T.LongType())])
    rows = [{"v": i} for i in range(4)]
    d = str(tmp_path / "src")
    R.write_chunks(d, rows, chunk_size=2)
    src = R.stream_source(spark, d, schema)
    q = (
        src.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)

    first_calls = sorted(calls)
    got = sorted(r["v"] for r in spark.read.parquet(out + "/batch=*").collect())
    assert got == [0, 1, 2, 3]
    assert len(first_calls) == len(set(first_calls))  # no double-write

    # simulate the at-least-once replay: re-deliver every batch
    replay_df = spark.createDataFrame([(99,)], "v long")
    for b in first_calls:
        sink(replay_df, b)
    assert sorted(calls) == first_calls  # write_fn NOT re-invoked
    got2 = sorted(r["v"] for r in spark.read.parquet(out + "/batch=*").collect())
    assert got2 == [0, 1, 2, 3]

    # a genuinely new batch id still writes
    sink(replay_df, max(first_calls) + 1000)
    assert 99 in {r["v"] for r in spark.read.parquet(out + "/batch=*").collect()}


def test_idempotent_marker_race_is_benign(spark, tmp_path):
    """VERDICT r8 #3: when two attempts race past the exists-check and
    both run the (batch-atomic) write, the loser of the O_EXCL marker
    create must treat FileExistsError as already-committed and return —
    not die and kill the restarted query."""
    import os

    from ksql_query_tutorial_spark.streaming.sinks import (
        idempotent_foreach_batch,
    )

    ledger = str(tmp_path / "ledger")
    calls: list[int] = []

    def write_and_steal_marker(batch_df, batch_id):
        calls.append(batch_id)
        # Simulate the racing zombie: it commits (write + marker)
        # between OUR exists-check and OUR marker create.
        fd = os.open(os.path.join(ledger, f"committed-{batch_id}"),
                     os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        os.close(fd)

    sink = idempotent_foreach_batch(write_and_steal_marker, ledger)
    df = spark.createDataFrame([(1,)], "v long")
    sink(df, 7)  # must NOT raise FileExistsError
    assert calls == [7]
    sink(df, 7)  # and the marker now short-circuits the replay
    assert calls == [7]


def test_idempotent_ledger_query_scoped(spark, tmp_path):
    """ADVICE r8 (medium): a ledger_dir shared by two queries must not
    cross-suppress batches — markers are keyed (query_id, batch_id)."""
    from ksql_query_tutorial_spark.streaming.sinks import (
        idempotent_foreach_batch,
    )

    ledger = str(tmp_path / "ledger")
    calls: list[tuple[str, int]] = []

    def mk(qid):
        def w(batch_df, batch_id):
            calls.append((qid, batch_id))
        return idempotent_foreach_batch(w, ledger, query_id=qid)

    a, b = mk("qa"), mk("qb")
    df = spark.createDataFrame([(1,)], "v long")
    a(df, 0)
    b(df, 0)   # same batch id, different query: MUST still write
    a(df, 0)   # replay within qa: no-op
    b(df, 1)
    assert calls == [("qa", 0), ("qb", 0), ("qb", 1)]


def test_write_batch_parquet_atomic_rename(spark, tmp_path):
    """ADVICE r8 (low): the batch writer stages into a hidden
    .inprogress temp dir and renames into place — readers never see a
    partial batch=<id> directory, and crashed-attempt leftovers are
    swept on replay."""
    import os

    from ksql_query_tutorial_spark.streaming.sinks import (
        write_batch_parquet,
    )

    out = str(tmp_path / "out")
    os.makedirs(out)
    # plant a crashed previous attempt's temp dir
    stale = os.path.join(out, ".batch=3.deadbeef.inprogress")
    os.makedirs(stale)
    w = write_batch_parquet(out)
    df = spark.createDataFrame([(1,), (2,)], "v long")
    w(df, 3)
    entries = set(os.listdir(out))
    assert "batch=3" in entries
    assert not any(e.endswith(".inprogress") for e in entries), entries
    got = sorted(r["v"] for r in spark.read.parquet(out + "/batch=3").collect())
    assert got == [1, 2]
    # replay over an existing committed-shape dir: replaced wholesale
    df2 = spark.createDataFrame([(9,)], "v long")
    w(df2, 3)
    got2 = [r["v"] for r in spark.read.parquet(out + "/batch=3").collect()]
    assert got2 == [9]
    # hidden temp dirs are invisible to Spark's file listing while staged
    df3 = spark.createDataFrame([(5,)], "v long")
    df3.write.parquet(os.path.join(out, ".batch=4.cafe.inprogress"))
    seen = {r["v"] for r in spark.read.parquet(out + "/batch=*").collect()}
    assert seen == {9}


def test_progress_log_bounded(spark):
    """ADVICE r8 (low): ProgressLog retention is bounded — a
    session-wide listener on a long-running query evicts oldest-first
    instead of growing driver memory forever."""
    from types import SimpleNamespace

    from ksql_query_tutorial_spark.streaming.observe import ProgressLog

    log = ProgressLog(max_batches=3)

    class P:  # minimal progress stand-in
        def __init__(self, i):
            self.id, self.batchId, self.numInputRows = f"id{i}", i, 1
            self.eventTime, self.observedMetrics = {}, {}
            self.durationMs, self.stateOperators = {}, []
            self.sources, self.sink = [], SimpleNamespace(description="sink")

    class E:
        def __init__(self, i):
            self.progress = P(i)

    for i in range(10):
        log.onQueryProgress(E(i))
    assert len(log.batches) == 3
    assert [b["batchId"] for b in log.batches] == [7, 8, 9]


# --------------------------------------- failure injection (VERDICT r8 #5)

def _run_eos_query(spark, src_dir, schema, sink, ckpt):
    from ksql_query_tutorial_spark.streaming import replay as R

    src = R.stream_source(spark, src_dir, schema)
    return (
        src.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .start()
    )


@pytest.mark.parametrize("crash_point", ["before_write", "after_write"])
def test_eos_sink_crash_restart_exactly_once(spark, tmp_path, crash_point):
    """Crash/restart mid-batch (VERDICT r8 #5): a planted failure kills
    the query either BEFORE the batch write starts or AFTER the write
    but BEFORE the commit marker. On restart from the same checkpoint,
    Spark redelivers the failed batch, and the sink must end exactly
    once: every input row present once, no committed batch written
    twice, no row lost."""
    import os

    from pyspark.sql import types as T

    from ksql_query_tutorial_spark.streaming import replay as R
    from ksql_query_tutorial_spark.streaming.sinks import (
        idempotent_foreach_batch,
        write_batch_parquet,
    )

    ledger = str(tmp_path / "ledger")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(out)
    writes: list[int] = []
    crashed = {"done": False}

    def flaky_write(batch_df, batch_id):
        if batch_id == 1 and not crashed["done"]:
            crashed["done"] = True
            if crash_point == "before_write":
                raise RuntimeError("injected crash before write")
            write_batch_parquet(out)(batch_df, batch_id)
            writes.append(batch_id)
            raise RuntimeError("injected crash after write, before marker")
        writes.append(batch_id)
        write_batch_parquet(out)(batch_df, batch_id)

    sink = idempotent_foreach_batch(flaky_write, ledger, query_id="eos")

    schema = T.StructType([T.StructField("v", T.LongType())])
    rows = [{"v": i} for i in range(6)]
    src_dir = str(tmp_path / "src")
    R.write_chunks(src_dir, rows, chunk_size=2)

    q = _run_eos_query(spark, src_dir, schema, sink, ckpt)
    with pytest.raises(Exception):
        q.processAllAvailable()  # the injected crash kills the query
    q.stop()

    # restart from the SAME checkpoint: Spark redelivers batch 1
    q2 = _run_eos_query(spark, src_dir, schema, sink, ckpt)
    q2.processAllAvailable()
    q2.stop()
    q2.awaitTermination(30)

    got = sorted(r["v"] for r in spark.read.parquet(out + "/batch=*").collect())
    assert got == [0, 1, 2, 3, 4, 5]  # exactly once, nothing lost
    # after_write: the replayed write overwrote the same directory (2
    # writes, 1 committed batch); before_write: written exactly once
    expected_writes = 2 if crash_point == "after_write" else 1
    assert writes.count(1) == expected_writes
    assert sorted(set(writes)) == [0, 1, 2]
    # ledger holds each batch exactly once, query-scoped
    markers = sorted(os.listdir(ledger))
    assert markers == ["committed-eos-0", "committed-eos-1", "committed-eos-2"]


def test_sli_monotonicity_across_batches(spark):
    """SLI monotonicity (VERDICT r8 #5): over an ordered replay, the
    per-batch max event time and the reported watermark are
    non-decreasing batch over batch, and per-batch rows always sum to
    the exact input volume — the invariants a monitoring agent alerts
    on."""
    from pyspark.sql import types as T

    from ksql_query_tutorial_spark.streaming import replay as R
    from ksql_query_tutorial_spark.streaming.observe import ProgressLog

    n = 12
    rows = [
        {"k": f"u{i % 3}", "ts": f"2026-03-01 10:{i:02d}:00", "v": i}
        for i in range(n)
    ]
    schema = T.StructType([
        T.StructField("k", T.StringType()),
        T.StructField("ts", T.StringType()),
        T.StructField("v", T.LongType()),
    ])

    def xform(src):
        inst = _observe_ingest(src.withColumn("ts", F.col("ts").cast("timestamp")))
        return (
            inst.withWatermark("ts", "1 minute")
            .groupBy("k").agg(F.sum("v").alias("total"))
        )

    log = ProgressLog()
    spark.streams.addListener(log)
    try:
        q = R.replay(spark, rows, schema, xform, "sli_sink",
                     output_mode="update", chunk_size=3)
        q.awaitTermination(5)
        import time

        deadline = time.time() + 15
        while time.time() < deadline:
            seen = sum(
                b["observed"]["ingest"]["rows"]
                for b in log.batches if b["observed"].get("ingest")
            )
            if seen >= n:
                break
            time.sleep(0.2)
    finally:
        spark.streams.removeListener(log)

    data = [
        b for b in log.batches
        if b["observed"].get("ingest") and b["observed"]["ingest"]["rows"]
    ]
    data.sort(key=lambda b: b["batchId"])
    assert sum(b["observed"]["ingest"]["rows"] for b in data) == n
    # max event time is non-decreasing over an ordered source
    maxes = [b["observed"]["ingest"]["max_ts"] for b in data]
    assert all(a <= b for a, b in zip(maxes, maxes[1:])), maxes
    # the engine's watermark never regresses
    wms = [b["watermark"] for b in data if b["watermark"] is not None]
    assert all(a <= b for a, b in zip(wms, wms[1:])), wms
    # and within every batch the event-time span is well-formed
    for b in data:
        m = b["observed"]["ingest"]
        assert m["min_ts"] <= m["max_ts"]
