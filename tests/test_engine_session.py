"""EngineSession: persistent queries (CTAS → memory sink) and their
output-mode selection and telemetry. Collection DDL, TABLE upsert state
and pull lookups are the KSQL path's, tested in test_ksql_dialect.py and
test_plans.py."""

from __future__ import annotations

import json


from ksql_query_tutorial_spark import tutorial
from ksql_query_tutorial_spark.session import EngineSession
from ksql_query_tutorial_spark.streaming import replay as R
from ksql_query_tutorial_spark.streaming.persistent import (
    default_output_mode,
    start_persistent_query,
)


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
    replayed row count; metrics are scoped per query id; disabling
    detaches the listener."""
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
        import pytest

        with pytest.raises(KeyError):
            eng.query_metrics("no_such_query")
        eng.terminate("metrics_pq")
    finally:
        eng.disable_metrics()
    import pytest

    with pytest.raises(ValueError):
        eng.query_metrics("metrics_pq")
