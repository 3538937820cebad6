"""EngineSession: persistent queries (CTAS → memory sink), their
output-mode selection, telemetry, restart from a checkpoint and state
partition count, the checkpoint manager the session writes through,
the agreement of the tutorial's compiled streams with its KSQL views,
the emission rule of the streaming TABLE upsert and the replay
harness's temp-dir cleanup.
Each of these streams runs a JVM-only plan.
Collection DDL, TABLE upsert state and pull lookups are the KSQL
path's, tested in test_ksql_dialect.py and test_plans.py."""

from __future__ import annotations

import json
import os
import random
import re
import sys
import threading

import pytest
from pyspark.sql import functions as F

from ksql_query_tutorial_spark import tutorial
from ksql_query_tutorial_spark.functions.serde import encode_kv
from ksql_query_tutorial_spark.ksql import dialect
from ksql_query_tutorial_spark.ksql.engine import print_topic
from ksql_query_tutorial_spark.plans.checks import assert_no_python
from ksql_query_tutorial_spark.session import EngineSession, local_frame
from ksql_query_tutorial_spark.streaming import replay as R
from ksql_query_tutorial_spark.streaming.persistent import (
    default_output_mode,
    start_persistent_query,
)
from ksql_query_tutorial_spark.streaming.stateful import upsert_table_stream

SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"


def _state_partitions(q) -> set[int]:
    """The state partition counts a query's triggers reported."""
    return {op.numShufflePartitions for p in q.recentProgress for op in p.stateOperators}


def _declared(partitions: dict[str, int]) -> str:
    """tutorial.sql with each named CTAS declared at its given
    ``PARTITIONS`` instead of the reference's 1."""
    text = tutorial.SCRIPT.read_text()
    for name, n in partitions.items():
        text = re.sub(rf"(CREATE TABLE {name}\b.*?PARTITIONS = )1", rf"\g<1>{n}",
                      text, count=1, flags=re.S)
    return text


def _ctas(name: str, partitions: int) -> str:
    """The CTAS statement of ``name`` in tutorial.sql, at ``partitions``."""
    [stmt] = [s for s in dialect.split_statements(_declared({name: partitions}))
              if re.search(rf"CREATE TABLE {name}\b", s)]
    return stmt + ";"


@pytest.fixture
def eng(spark):
    """An EngineSession whose persistent queries are stopped after the
    test, also when it fails, so no query name stays taken."""
    session = EngineSession(spark)
    yield session
    for name in list(session.persistent_queries):
        session.terminate(name)


def _players(spark):
    return local_frame(
        spark, [tuple(r.values()) for r in tutorial.PLAYERS_ROWS],
        "id STRING, name STRING, team STRING, nationality STRING")


def test_output_mode_by_plan_shape(spark):
    events = spark.createDataFrame(
        [tuple(r.values()) for r in tutorial.MATCH_EVENT_ROWS], tutorial.MATCH_EVENT_SCHEMA
    )
    assert default_output_mode(tutorial.match_event_player(events)) == "append"
    assert default_output_mode(tutorial.match_results(events)) == "update"


def test_persistent_query_ctas_to_memory_sink(spark, tmp_path):
    """CTAS lifecycle: start, emits upserts with the reference's sink
    key/value layout, appears in SHOW QUERIES, terminates."""
    eng = EngineSession(spark)
    d = str(tmp_path / "events")
    R.write_chunks(d, tutorial.MATCH_EVENT_ROWS, chunk_size=1)
    src = R.stream_source(spark, d, tutorial.MATCH_EVENT_SCHEMA)
    q = start_persistent_query(
        eng, "match_results_pq", tutorial.match_results(src), key_cols=["id"],
        sink_format="memory", checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert eng.show_queries() == ["match_results_pq"]
    q.processAllAvailable()
    rows = spark.table("match_results_pq").collect()
    latest = {}
    for r in rows:  # memory sink in update mode appends each upsert
        latest[r.key] = r.value
    assert json.loads(latest["1"]) == {"HOME_GOALS": 2, "AWAY_GOALS": 1}
    assert json.loads(latest["2"]) == {"HOME_GOALS": 1, "AWAY_GOALS": 1}
    eng.terminate("match_results_pq")
    assert eng.show_queries() == []
    assert not q.isActive


def test_persistent_query_metrics(spark, tmp_path):
    """enable_metrics + query_metrics: a persistent query's per-batch
    input volume is captured by the session listener and sums to the
    replayed row count, as do the rows its source reports; each trigger
    records its layer timings, its source and sink, and its state
    operator's size (one state row per match id) and late-row drops
    (none: match_results has no watermark); metrics are scoped per
    query id; disabling detaches the listener."""
    eng = EngineSession(spark)
    log = eng.enable_metrics()
    assert eng.enable_metrics() is log  # idempotent
    try:
        d = str(tmp_path / "events")
        R.write_chunks(d, tutorial.MATCH_EVENT_ROWS, chunk_size=1)
        src = R.stream_source(spark, d, tutorial.MATCH_EVENT_SCHEMA)
        q = start_persistent_query(
            eng, "metrics_pq", tutorial.match_results(src), key_cols=["id"],
            sink_format="memory", checkpoint_dir=str(tmp_path / "ckpt"),
        )
        q.processAllAvailable()
        # Python listener events arrive asynchronously over the
        # callback socket — poll until the replayed volume lands
        import time

        deadline = time.time() + 15
        while time.time() < deadline:
            batches = eng.query_metrics("metrics_pq")
            if sum(b["numInputRows"] for b in batches) >= len(
                tutorial.MATCH_EVENT_ROWS
            ):
                break
            time.sleep(0.2)
        assert batches, "no progress captured"
        assert sum(b["numInputRows"] for b in batches) == len(
            tutorial.MATCH_EVENT_ROWS
        )
        assert all(b["id"] == str(q.id) for b in batches)
        assert all("addBatch" in b["durationMs"] for b in batches)
        [agg] = batches[-1]["stateOperators"]
        assert agg["numRowsTotal"] == len({r["id"] for r in tutorial.MATCH_EVENT_ROWS}) == 2
        # no collection declares metrics_pq: the reference's one partition
        assert agg["numShufflePartitions"] == 1
        assert all(
            op["numRowsDroppedByWatermark"] == 0
            for b in batches for op in b["stateOperators"]
        )
        sources = [s for b in batches for s in b["sources"]]
        assert len(sources) == len(batches)  # one source per trigger
        assert sum(s["numInputRows"] for s in sources) == len(tutorial.MATCH_EVENT_ROWS)
        assert all(s["description"].startswith("FileStreamSource") for s in sources)
        assert all(s["processedRowsPerSecond"] > 0 for s in sources if s["numInputRows"])
        assert all(b["sink"].startswith("MemorySink") for b in batches)
        with pytest.raises(KeyError):
            eng.query_metrics("no_such_query")
        eng.terminate("metrics_pq")
    finally:
        eng.disable_metrics()
    with pytest.raises(ValueError):
        eng.query_metrics("metrics_pq")


def test_persistent_query_restart_resumes_checkpoint(spark, tmp_path):
    """A persistent query stopped and started again on its checkpoint
    resumes where it stopped: batch ids continue past the last
    committed one, no chunk is read twice, and the sink ends in the
    state of the batch ``match_results`` over all rows. Complete mode,
    because Spark's memory sink refuses to recover in update mode; the
    restarted sink starts empty, so its rows come from restored state."""
    rng = random.Random(13)
    events = [
        {"offset": i, "id": str(rng.randrange(6)),
         "event_type": rng.choice(["GOAL", "ASSIST"]),
         "player_id": "1", "home": rng.random() < 0.5}
        for i in range(40)
    ]
    staging, src_dir = tmp_path / "staging", tmp_path / "events"
    R.write_chunks(str(staging), events, chunk_size=5)
    src_dir.mkdir()
    chunks = sorted(os.listdir(staging))
    eng = EngineSession(spark)
    batch_ids, rows_read = [], 0
    for feed in (chunks[:4], chunks[4:]):  # run, stop, restart
        for c in feed:
            os.rename(staging / c, src_dir / c)
        src = R.stream_source(spark, str(src_dir), tutorial.MATCH_EVENT_SCHEMA,
                              files_per_trigger=2)
        q = start_persistent_query(
            eng, "restart_pq", tutorial.match_results(src), key_cols=["id"],
            output_mode="complete", checkpoint_dir=str(tmp_path / "ckpt"),
        )
        q.processAllAvailable()
        progress = [p for p in q.recentProgress if p.numInputRows]
        batch_ids.append([p.batchId for p in progress])
        rows_read += sum(p.numInputRows for p in progress)
        eng.terminate("restart_pq")
    assert batch_ids == [[0, 1], [2, 3]]
    assert rows_read == len(events)
    sink = {r.key: r.value for r in spark.table("restart_pq").collect()}
    batch = spark.read.schema(tutorial.MATCH_EVENT_SCHEMA).json(str(src_dir))
    want = encode_kv(tutorial.match_results(batch), ["id"]).collect()
    assert sink == {r.key: r.value for r in want}


def test_persistent_query_state_partitions_follow_the_sink(spark, eng, tmp_path):
    """A persistent query's state runs at its sink collection's declared
    ``PARTITIONS``: the three hand-started tutorial queries, which no
    statement declares, run the ``Collection`` default, one partition,
    and the match_results CTAS declared with ``PARTITIONS = 2`` runs
    two. No start changes the session's shuffle partition count, so a
    batch aggregate planned afterwards still plans the core count."""
    cores = spark.conf.get(SHUFFLE_PARTITIONS)
    d = str(tmp_path / "events")
    R.write_chunks(d, tutorial.MATCH_EVENT_ROWS, chunk_size=4)
    players = _players(spark)
    plans = {
        "match_results": (tutorial.match_results, "id"),
        "player_stats": (lambda s: tutorial.player_stats(s, players), "player_id"),
        "match_latest": (lambda s: upsert_table_stream(s, ["id"], "offset"), "id"),
    }

    def run(name: str, ckpt: str) -> set[int]:
        build, key = plans[name]
        src = R.stream_source(spark, d, tutorial.MATCH_EVENT_SCHEMA)
        q = start_persistent_query(eng, name, build(src), key_cols=[key],
                                   checkpoint_dir=str(tmp_path / ckpt))
        assert spark.conf.get(SHUFFLE_PARTITIONS) == cores
        q.processAllAvailable()
        eng.terminate(name)
        return _state_partitions(q)

    assert {name: run(name, name) for name in plans} == {
        "match_results": {1}, "player_stats": {1}, "match_latest": {1}}
    eng.ksql(_declared({"match_results": 2}))
    assert eng.catalog["match_results"].partitions == 2
    assert run("match_results", "declared") == {2}
    agg = spark.range(64).groupBy((F.col("id") % 8).alias("k")).count()
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert re.findall(r"hashpartitioning\(.*, (\d+)\)", plan) == [cores], plan


def test_persistent_query_restart_keeps_its_checkpoint_partitions(spark, eng, tmp_path):
    """The state partition count is written into the checkpoint: a query
    first started at its collection's declared 2 and started again on
    its checkpoint after the collection is re-declared with 1 still
    runs 2, and ends in the state of the batch query over all rows."""
    rng = random.Random(20)
    events = [
        {"offset": i, "id": str(rng.randrange(6)),
         "event_type": rng.choice(["GOAL", "ASSIST"]),
         "player_id": "1", "home": rng.random() < 0.5}
        for i in range(40)
    ]
    staging, src_dir = tmp_path / "staging", tmp_path / "events"
    R.write_chunks(str(staging), events, chunk_size=5)
    src_dir.mkdir()
    chunks = sorted(os.listdir(staging))
    eng.ksql(_declared({"match_results": 2}))
    counts = []
    for feed, redeclare in ((chunks[:4], None), (chunks[4:], 1)):
        if redeclare:
            eng.ksql("DROP TABLE match_results;" + _ctas("match_results", redeclare))
            assert eng.catalog["match_results"].partitions == redeclare
        for c in feed:
            os.rename(staging / c, src_dir / c)
        src = R.stream_source(spark, str(src_dir), tutorial.MATCH_EVENT_SCHEMA)
        q = start_persistent_query(
            eng, "match_results", tutorial.match_results(src), key_cols=["id"],
            output_mode="complete", checkpoint_dir=str(tmp_path / "ckpt"),
        )
        q.processAllAvailable()
        counts.append(_state_partitions(q))
        eng.terminate("match_results")
    assert counts == [{2}, {2}]
    sink = {r.key: r.value for r in spark.table("match_results").collect()}
    batch = spark.read.schema(tutorial.MATCH_EVENT_SCHEMA).json(str(src_dir))
    want = encode_kv(tutorial.match_results(batch), ["id"]).collect()
    assert sink == {r.key: r.value for r in want}


def test_persistent_query_partitions_under_concurrent_starts(spark, eng, tmp_path):
    """Starts racing one another, while another query runs, each run at
    their own declared count and leave the running query's count as it
    was: with match_results running at its declared 2, six twins of it,
    declared at 1, 2 and 3 partitions, start at once on six threads (more
    than the cores) under a short switch interval. match_results then
    reads more input, still at 2, and the session's shuffle partition
    count reads as it did before the first start."""
    cores = spark.conf.get(SHUFFLE_PARTITIONS)
    staging, src_dir = tmp_path / "staging", tmp_path / "events"
    R.write_chunks(str(staging), tutorial.MATCH_EVENT_ROWS, chunk_size=4)
    src_dir.mkdir()
    chunks = sorted(os.listdir(staging))
    eng.ksql(_declared({"match_results": 2}))
    twins = {f"match_results_{i}": 1 + i % 3 for i in range(6)}
    for name, n in twins.items():
        eng.ksql(_ctas("match_results", n).replace("match_results", name))

    def start(name):
        src = R.stream_source(spark, str(src_dir), tutorial.MATCH_EVENT_SCHEMA)
        return start_persistent_query(eng, name, tutorial.match_results(src), key_cols=["id"],
                                      checkpoint_dir=str(tmp_path / f"ckpt_{name}"))

    os.rename(staging / chunks[0], src_dir / chunks[0])
    start("match_results").processAllAvailable()
    assert spark.conf.get(SHUFFLE_PARTITIONS) == cores
    threads = [threading.Thread(target=start, args=(name,)) for name in twins]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    for c in chunks[1:]:
        os.rename(staging / c, src_dir / c)
    counts = {}
    for name in ("match_results", *twins):
        q = eng.persistent_queries[name]
        q.processAllAvailable()
        counts[name] = _state_partitions(q)
    assert counts == {"match_results": {2}, **{n: {k} for n, k in twins.items()}}
    assert spark.conf.get(SHUFFLE_PARTITIONS) == cores


def test_checkpoint_manager_is_filesystem_based(spark, tmp_path):
    """The session writes streaming checkpoints through Hadoop
    FileSystem: the manager Spark resolves for a checkpoint directory is
    the FileSystem-based one, which forks no ``readlink`` per local
    exists/rename (``session.get_spark``)."""
    jvm = spark._jvm
    manager = (
        jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
        .create(jvm.org.apache.hadoop.fs.Path(str(tmp_path)),
                spark._jsparkSession.sessionState().newHadoopConf())
    )
    assert manager.getClass().getName() == (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )


def test_compiled_streams_equal_ksql_views(spark, tmp_path):
    """One plan, run as a view and as a stream: ``tutorial.match_results``
    and ``tutorial.player_stats``, started as persistent queries over a
    generated event log, run JVM-only micro-batches and end in the
    encoded state of the CTAS views of an engine that ran tutorial.sql
    and was sent the same events by INSERT. Player ids 11-13 name no
    player, so the stream-table join drops their events on both paths."""
    rng = random.Random(10)
    events = [
        {"offset": i, "id": str(rng.randrange(12)),
         "event_type": rng.choice(["GOAL", "ASSIST", "FOUL"]),
         "player_id": str(rng.randrange(1, 14)), "home": rng.random() < 0.5}
        for i in range(240)
    ]
    eng = EngineSession(spark)
    eng.ksql(tutorial.SCRIPT.read_text())
    for r in events:
        eng.ksql(
            "INSERT INTO match_event (id, event_type, player_id, home) VALUES "
            f"('{r['id']}', '{r['event_type']}', '{r['player_id']}', "
            f"{str(r['home']).lower()});"
        )

    d = str(tmp_path / "events")
    R.write_chunks(d, events, chunk_size=60)
    players = _players(spark)
    streams = {
        "match_results": (tutorial.match_results, "id"),
        "player_stats": (lambda s: tutorial.player_stats(s, players), "player_id"),
    }
    for name, (build, key) in streams.items():
        src = R.stream_source(spark, d, tutorial.MATCH_EVENT_SCHEMA, files_per_trigger=2)
        q = start_persistent_query(
            eng, f"{name}_compiled", build(src), key_cols=[key], sink_format="memory",
            checkpoint_dir=str(tmp_path / f"ckpt_{name}"),
        )
        q.processAllAvailable()
        assert_no_python(q)
        sink = {}
        for r in spark.table(f"{name}_compiled").collect():  # upserts, in order
            sink[r.key] = r.value
        view = {r.key: r.value for r in print_topic(eng, name).collect()}
        assert sink == view, name
        eng.terminate(f"{name}_compiled")
    # the last view is player_stats: one row per known player
    assert set(view) == {p["id"] for p in tutorial.PLAYERS_ROWS}
    assert {r["player_id"] for r in events} > set(view)


def test_upsert_table_stream_emission_rule(spark):
    """The streaming TABLE upsert emits a key in a micro-batch iff one of
    the batch's records becomes its latest (offset >= the stored one):
    inserts, updates and a same-offset replay emit; a stale record does
    not, even when another key of its batch advances. The plan is a JVM
    keyed aggregate, with no Python stage."""
    from pyspark.sql import types as T

    from ksql_query_tutorial_spark.streaming.stateful import upsert_table_stream

    schema = T.StructType([
        T.StructField("id", T.StringType()),
        T.StructField("team", T.StringType()),
        T.StructField("offset", T.LongType()),
    ])
    batches = [
        [("1", "Barcelona", 0), ("2", "Juventus", 1)],  # inserts
        [("1", "PSG", 2), ("2", "Juventus", 1)],        # update; replay of offset 1
        [("1", "Barcelona", 1), ("2", "Inter", 3)],     # 1 stale, 2 advances
        [("1", "Milan", 1), ("2", "Juventus", 1)],      # both stale
    ]
    rows = [dict(zip(schema.names, r)) for b in batches for r in b]
    q = R.replay(spark, rows, schema, lambda s: upsert_table_stream(s, ["id"], "offset"),
                 name="upsert_rule", with_batch_id=True, chunk_size=2)
    assert list(q.emissions[0][1].asDict()) == schema.names
    assert sorted((b, *r) for b, r in q.emissions) == [
        (0, "1", "Barcelona", 0), (0, "2", "Juventus", 1),
        (1, "1", "PSG", 2), (1, "2", "Juventus", 1),
        (2, "2", "Inter", 3),
    ]
    assert_no_python(q)


def test_replay_removes_its_temp_dirs(spark, tmp_path, monkeypatch):
    """The replay harness removes the chunk directory and the checkpoint
    it made once its query has stopped, on both sink paths."""
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    rows = tutorial.MATCH_EVENT_ROWS[:2]
    for with_batch_id in (False, True):
        q = R.replay(spark, rows, tutorial.MATCH_EVENT_SCHEMA, lambda s: s,
                     name="replay_tmp", output_mode="append",
                     chunk_size=2, with_batch_id=with_batch_id)
    assert spark.table("replay_tmp").count() == len(q.emissions) == 2
    assert list(tmp_path.iterdir()) == []
