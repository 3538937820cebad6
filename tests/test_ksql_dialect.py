"""Run the reference tutorial's KSQL statements through the engine's
dialect front-end and assert the README's golden outputs.

Statement shapes mirror /root/reference/files/ksqldb-cli/all.sql and
README.md (cited per block); data is the FIXTURES.md §A scenario.
"""

from __future__ import annotations

import json
import os
import time
from pathlib import Path

import pytest

from ksql_query_tutorial_spark import tutorial
from ksql_query_tutorial_spark.ksql import dialect
from ksql_query_tutorial_spark.ksql.engine import print_topic, select_over
from ksql_query_tutorial_spark.session import EngineSession


# The tutorial's KSQL script (tutorial.sql): source DDL, player seed, the
# CSAS re-key and the two CTAS, in all.sql's order.
SCRIPT = dialect.split_statements(tutorial.SCRIPT.read_text())
# the script's CTAS by name; `eng` runs every other statement
CTAS = {c.name: stmt for stmt in SCRIPT
        if (c := dialect.parse_create(stmt)) and c.kind == "TABLE" and c.select}


@pytest.fixture()
def eng(spark):
    """SET, source DDL (all.sql:1, 20-43), the players seed (the
    reference seeds via MySQL CDC, init.sql:11-22) and the CSAS re-key
    (all.sql:45-51); no match events and no CTAS yet."""
    e = EngineSession(spark)
    for stmt in SCRIPT:
        if stmt not in CTAS.values():
            e.ksql(stmt)
    return e


def insert_events(e, rows):
    for r in rows:
        e.ksql(
            "INSERT INTO match_event (id, event_type, player_id, home) VALUES "
            f"('{r['id']}', '{r['event_type']}', '{r['player_id']}', {str(r['home']).lower()});"
        )


def test_table_scan_golden(eng):
    """SELECT * FROM players EMIT CHANGES (README.md:97, golden 100-114)."""
    df = eng.ksql("SELECT * FROM players EMIT CHANGES;")
    rows = {r.id: (r.name, r.team, r.nationality) for r in df.collect()}
    assert len(rows) == 10
    assert rows["1"] == ("Lionel Messi", "Paris Saint-Germain", "Argentinian")
    assert rows["10"] == ("Raheem Sterling", "Chelsea", "English")


def test_table_upsert_on_rekey(eng):
    """Upsert semantics (README.md:92): same PRIMARY KEY → update."""
    eng.ksql("INSERT INTO players (id, name, team, nationality) VALUES "
             "('1', 'Lionel Messi', 'Inter Miami', 'Argentinian');")
    rows = {r.id: r.team for r in eng.ksql("SELECT * FROM players;").collect()}
    assert len(rows) == 10 and rows["1"] == "Inter Miami"


def test_projection_ucase_case_filters(eng):
    """UCASE (README.md:128-133), CASE (136-148), WHERE (150-163)."""
    up = eng.ksql("SELECT id, UCASE(team) team FROM players EMIT CHANGES;")
    assert {r.team for r in up.collect() if r.id == "1"} == {"PARIS SAINT-GERMAIN"}
    case = eng.ksql("""
        SELECT id, name,
          CASE WHEN nationality = 'Portuguese' THEN 'POR' ELSE 'OTHER' END AS tag
        FROM players EMIT CHANGES;
    """)
    tags = {r.id: r.tag for r in case.collect()}
    assert tags["2"] == "POR" and tags["9"] == "POR" and tags["1"] == "OTHER"
    filt = eng.ksql(
        "SELECT name FROM players WHERE team = 'Paris Saint-Germain' "
        "AND nationality = 'Brazilian' EMIT CHANGES;")
    assert [r.name for r in filt.collect()] == ["Neymar Jr."]


def test_stream_filter_golden(eng):
    """WHERE event_type='ASSIST' on the stream (README.md:216-226)."""
    insert_events(eng, tutorial.MATCH_EVENT_ROWS[:2])
    df = eng.ksql("SELECT * FROM match_event WHERE event_type = 'ASSIST' EMIT CHANGES;")
    rows = df.collect()
    assert len(rows) == 1 and rows[0].player_id == "1" and rows[0].home is True


def assert_match_results_golden(e):
    """match_results goldens (README.md:308-327, sink layout 333-351)."""
    res = {r.id: (r.home_goals, r.away_goals)
           for r in e.ksql("SELECT * FROM match_results;").collect()}
    assert res == {"1": (2, 1), "2": (1, 1)}
    kv = {r.key: json.loads(r.value) for r in print_topic(e, "match_results").collect()}
    assert kv["1"] == {"HOME_GOALS": 2, "AWAY_GOALS": 1}   # README.md:348-351
    assert kv["2"] == {"HOME_GOALS": 1, "AWAY_GOALS": 1}


def assert_player_stats_golden(e):
    """player_stats goldens (README.md:413-420)."""
    stats = {r.player_id: (r.name, r.goals, r.avg_goals, r.assists)
             for r in e.ksql("SELECT * FROM player_stats;").collect()}
    assert stats["1"] == ("Lionel Messi", 3, 1.5, 1)
    assert stats["2"] == ("Cristiano Ronaldo", 2, 1.0, 1)


def test_match_results_ctas_golden(eng):
    """CTAS match_results (README.md:308-327) over events already in
    the topic."""
    insert_events(eng, tutorial.MATCH_EVENT_ROWS)
    eng.ksql(CTAS["match_results"])
    assert_match_results_golden(eng)


def test_player_stats_ctas_golden(eng):
    """player_stats CTAS with LATEST_BY_OFFSET, COUNT_DISTINCT, CAST
    (all.sql:129-160) over events already in the topic."""
    insert_events(eng, tutorial.MATCH_EVENT_ROWS)
    eng.ksql(CTAS["player_stats"])
    assert_player_stats_golden(eng)


def test_composite_key_sink_layout(eng):
    """README's grouped-by-3-columns variant → composite JSON key
    (README.md:454, 461-465)."""
    insert_events(eng, tutorial.MATCH_EVENT_ROWS)
    eng.ksql("""
        CREATE TABLE player_goals
        WITH (KAFKA_TOPIC = 'player_goals', VALUE_FORMAT = 'JSON', PARTITIONS = 1)
        AS SELECT p.id AS player_id, p.name AS name, p.nationality AS nationality,
             SUM(CASE WHEN m.event_type = 'GOAL' THEN 1 ELSE 0 END) AS goals
        FROM match_event_player m
        INNER JOIN players p ON m.player_id = p.id
        GROUP BY p.id, p.name, p.nationality EMIT CHANGES;
    """)
    keys = {r.key for r in print_topic(eng, "player_goals").collect()}
    assert '{"PLAYER_ID":"1","NAME":"Lionel Messi","NATIONALITY":"Argentinian"}' in keys


def test_admin_surface(eng):
    """SHOW TOPICS/STREAMS/TABLES/CONNECTORS (README.md:64-72, §2.7)."""
    assert "players" in eng.ksql("SHOW TOPICS;")
    assert "match_event" in eng.show_streams()
    assert "players" in eng.show_tables()
    eng.ksql("""
        CREATE SOURCE CONNECTOR players_source WITH (
          'connector.class' = 'io.confluent.connect.jdbc.JdbcSourceConnector',
          'connection.url' = 'jdbc:mysql://mysql:3306/football',
          'mode' = 'incrementing',
          'incrementing.column.name' = 'id'
        );
    """)
    assert "players_source" in eng.ksql("SHOW CONNECTORS;")


def test_tutorial_script_maintains_derived_collections(eng):
    """Derived collections declared before any event (as in all.sql)
    reflect every later insert: the same goldens as the CTAS tests."""
    eng.ksql(CTAS["match_results"])
    eng.ksql(CTAS["player_stats"])
    insert_events(eng, tutorial.MATCH_EVENT_ROWS)
    assert_match_results_golden(eng)
    assert_player_stats_golden(eng)


def test_dropped_ctas_stays_dropped_after_insert(spark, eng):
    """DROP TABLE removes a CTAS for good: a later insert into its
    source does not bring the view back, and the other derived
    collections keep resolving."""
    eng.ksql(CTAS["match_results"])
    eng.ksql(CTAS["player_stats"])
    eng.ksql("DROP TABLE match_results;")
    insert_events(eng, tutorial.MATCH_EVENT_ROWS[:1])
    assert "match_results" not in eng.catalog
    assert "match_results" not in {t.name for t in spark.catalog.listTables()}
    fields = eng.ksql("DESCRIBE player_stats;")
    assert any(line.startswith("PLAYER_ID | STRING") for line in fields)
    assert any(line.startswith("GOALS | BIGINT") for line in fields)


def test_rejected_insert_leaves_topic_writable(spark):
    """An INSERT the topic's view rejects (unknown column, too many
    values, a repeated column, a string in an INT column) raises and
    appends nothing, so the next valid INSERT into that topic
    succeeds."""
    eng = EngineSession(spark)
    eng.ksql("CREATE STREAM scorers (id VARCHAR KEY, goals INT) "
             "WITH (KAFKA_TOPIC='scorers', VALUE_FORMAT='JSON', PARTITIONS=1);")
    eng.ksql("INSERT INTO scorers (id, goals) VALUES ('1', 3);")
    with pytest.raises(ValueError, match="unknown column"):
        eng.ksql("INSERT INTO scorers (id, gols) VALUES ('2', 1);")
    with pytest.raises(ValueError, match="2 value"):
        eng.ksql("INSERT INTO scorers (id) VALUES ('2', 1);")
    with pytest.raises(ValueError, match="twice"):
        eng.ksql("INSERT INTO scorers (id, id) VALUES ('2', '3');")
    with pytest.raises(TypeError):
        eng.ksql("INSERT INTO scorers (id, goals) VALUES ('2', 'one');")
    assert len(eng.topics["scorers"]) == 1
    eng.ksql("INSERT INTO scorers (id, goals) VALUES ('2', 1);")
    rows = eng.ksql("SELECT id, goals, __offset FROM scorers;").collect()
    assert sorted(tuple(r) for r in rows) == [("1", 3, 0), ("2", 1, 1)]


def test_collections_bind_topic_fields_by_name(spark):
    """A collection may declare a subset of its topic's fields, or
    reorder them (README.md:90): each column binds to the field of its
    name, undeclared fields are dropped, and a field an INSERT into a
    narrower collection left out reads NULL in the wider ones. A value
    that does not fit its declared type still raises and registers
    nothing."""
    eng = EngineSession(spark)
    eng.ksql("CREATE STREAM kv_full (a VARCHAR, b INT) "
             "WITH (KAFKA_TOPIC='kv', VALUE_FORMAT='JSON');")
    eng.ksql("INSERT INTO kv_full (a, b) VALUES ('x', 1);")
    eng.ksql("CREATE STREAM kv_sub (a VARCHAR) "
             "WITH (KAFKA_TOPIC='kv', VALUE_FORMAT='JSON');")
    eng.ksql("CREATE STREAM kv_rev (b INT, a VARCHAR) "
             "WITH (KAFKA_TOPIC='kv', VALUE_FORMAT='JSON');")
    assert [tuple(r) for r in eng.ksql("SELECT * FROM kv_sub;").collect()] == [("x", 0)]
    assert [tuple(r) for r in eng.ksql("SELECT * FROM kv_rev;").collect()] == [(1, "x", 0)]

    eng.ksql("INSERT INTO kv_sub (a) VALUES ('y');")
    for name in ("kv_full", "kv_rev"):
        rows = eng.ksql(f"SELECT a, b, __offset FROM {name};").collect()
        assert sorted(tuple(r) for r in rows) == [("x", 1, 0), ("y", None, 1)], name

    with pytest.raises(TypeError):
        eng.ksql("CREATE STREAM kv_bad (a INT) WITH (KAFKA_TOPIC='kv', VALUE_FORMAT='JSON');")
    assert "kv_bad" not in eng.catalog
    assert "kv_bad" not in {t.name for t in spark.catalog.listTables()}


def test_print_topic_keys_resolve_or_raise(eng):
    """print_topic keys each record by its key column, found by exact
    name or a unique suffix match (player_stats groups by p.id and
    projects it as player_id). A key it cannot find raises instead of
    keying records by some other column."""
    insert_events(eng, tutorial.MATCH_EVENT_ROWS)
    eng.ksql(CTAS["player_stats"])
    kv = {r.key: json.loads(r.value) for r in print_topic(eng, "player_stats").collect()}
    assert kv["1"] == {"NAME": "Lionel Messi", "GOALS": 3, "AVG_GOALS": 1.5,
                       "ASSISTS": 1}
    eng.ksql("CREATE TABLE goals_by WITH (KAFKA_TOPIC='goals_by', VALUE_FORMAT='JSON') "
             "AS SELECT COUNT(*) AS n, player_id AS pid FROM match_event "
             "GROUP BY player_id EMIT CHANGES;")
    with pytest.raises(ValueError, match=r"'player_id'.*\['n', 'pid'\]"):
        print_topic(eng, "goals_by")


def test_timestamp_literal_ignores_python_process_zone(spark):
    """A TIMESTAMP literal is a wall-clock time in the session's zone
    (UTC here), whatever local zone the Python process runs in."""
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    saved = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        eng = EngineSession(spark)
        eng.ksql("CREATE STREAM stamped (ts TIMESTAMP, v INT) "
                 "WITH (KAFKA_TOPIC='stamped', VALUE_FORMAT='JSON', PARTITIONS=1);")
        eng.ksql("INSERT INTO stamped (ts, v) VALUES ('2024-01-01T00:00:00', 7);")
        rows = eng.ksql("SELECT CAST(ts AS STRING) AS ts, v FROM stamped;").collect()
    finally:
        if saved is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = saved
        time.tzset()
    assert [tuple(r) for r in rows] == [("2024-01-01 00:00:00", 7)]


# the reference tutorial, when checked out beside this repository
REFERENCE_ALL_SQL = (Path(__file__).resolve().parents[2]
                     / "reference" / "files" / "ksqldb-cli" / "all.sql")


@pytest.mark.skipif(not REFERENCE_ALL_SQL.exists(),
                    reason="reference tutorial script not present")
def test_verbatim_all_sql_runs_end_to_end(spark):
    """The reference's actual script (files/ksqldb-cli/all.sql) verbatim:
    14 of 15 statements execute (the 15th selects non-aggregated columns
    grouped only by p.id — ksqlDB 0.15 rejects it too, which is why the
    CTAS wraps them in LATEST_BY_OFFSET), the connector snapshot seeds
    players from the reference's MySQL init.sql, and player_stats ends
    with the correct aggregate state for all.sql's 4-insert sequence."""
    from ksql_query_tutorial_spark.ksql import dialect, engine

    sess = EngineSession(spark)
    text = REFERENCE_ALL_SQL.read_text()
    ok, failures = 0, []
    for s in dialect.split_statements(text):
        try:
            engine.execute(sess, s)
            ok += 1
        except Exception as e:
            failures.append(str(e))
    assert ok == 14 and len(failures) == 1
    assert "MISSING_AGGREGATION" in failures[0]

    got = {
        r.player_id: (r.player_name, r.goals, r.avg_goals, r.assists)
        for r in spark.table("player_stats").collect()
    }
    assert got == {
        "1": ("Lionel Messi", 1, 0.5, 2),
        "2": ("Cristiano Ronaldo", 1, 1.0, 0),
    }


def test_cli_runs_scripts(spark, tmp_path, capsys):
    """The CLI module executes a script, prints SELECT results, and
    propagates a nonzero exit code for failed statements."""
    from ksql_query_tutorial_spark.ksql.cli import main

    script = tmp_path / "s.sql"
    script.write_text(
        "CREATE STREAM ev (id VARCHAR KEY, v VARCHAR) "
        "WITH (KAFKA_TOPIC='ev', VALUE_FORMAT='JSON', PARTITIONS=1);\n"
        "INSERT INTO ev VALUES ('1', 'hello');\n"
        "SELECT * FROM ev EMIT CHANGES;\n"
    )
    rc = main([str(script), "--cpus", "4"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "hello" in out

    bad = tmp_path / "bad.sql"
    bad.write_text("SELECT definitely_not_a_column FROM nowhere;")
    assert main([str(bad), "--cpus", "4"]) == 1


def test_scalar_function_surface_extensions(eng):
    """ksqlDB function rewrites beyond the tutorial's UCASE/CASE:
    LEN, MASK (X/x/n/- masking), EARLIEST_BY_OFFSET, TOPK."""
    out = eng.ksql(
        "SELECT id, LEN(name) n, MASK(name) m FROM players EMIT CHANGES;"
    )
    rows = {r.id: r for r in out.collect()}
    assert rows["1"].n == len("Lionel Messi")
    assert rows["1"].m == "Xxxxxx-Xxxxx"       # 'Lionel Messi' masked
    early = eng.ksql(
        "SELECT nationality, EARLIEST_BY_OFFSET(name) first_seen "
        "FROM players GROUP BY nationality EMIT CHANGES;"
    )
    got = {r.nationality: r.first_seen for r in early.collect()}
    assert got["Portuguese"] == "Cristiano Ronaldo"   # offset 1 < offset 8
    topk = eng.ksql(
        "SELECT nationality, TOPK(name, 2) top2 FROM players "
        "GROUP BY nationality EMIT CHANGES;"
    )
    t = {r.nationality: list(r.top2) for r in topk.collect()}
    # two Portuguese players: lexicographically descending top-2
    assert t["Portuguese"] == sorted(t["Portuguese"], reverse=True)
    assert len(t["Portuguese"]) == 2


def test_windowed_aggregations_via_ksql_syntax(spark):
    """ksqlDB WINDOW TUMBLING / HOPPING / SESSION syntax end-to-end:
    the dialect rewrites to Spark window()/session_window() grouped on
    the collection's declared TIMESTAMP column, with WINDOWSTART /
    WINDOWEND pseudo-columns."""
    import pytest as _pytest

    from ksql_query_tutorial_spark.session import EngineSession

    eng = EngineSession(spark)
    eng.ksql("""
        CREATE STREAM clicks (ts TIMESTAMP, user_id BIGINT)
        WITH (KAFKA_TOPIC='clicks', VALUE_FORMAT='JSON', PARTITIONS=1,
              TIMESTAMP='ts');
    """)
    for t, u in [("2024-01-01 00:00:10", 1), ("2024-01-01 00:00:40", 2),
                 ("2024-01-01 00:01:10", 1), ("2024-01-01 00:03:30", 3)]:
        eng.ksql(
            f"INSERT INTO clicks (ts, user_id) VALUES ('{t}', {u});"
        )

    tum = eng.ksql("""
        SELECT WINDOWSTART ws, COUNT(*) n FROM clicks
        WINDOW TUMBLING (SIZE 1 MINUTES) GROUP BY 1 EMIT CHANGES;
    """)
    got = {str(r.ws): r.n for r in tum.collect()}
    assert got == {"2024-01-01 00:00:00": 2, "2024-01-01 00:01:00": 1,
                   "2024-01-01 00:03:00": 1}

    hop = eng.ksql("""
        SELECT WINDOWSTART ws, COUNT(*) n FROM clicks
        WINDOW HOPPING (SIZE 2 MINUTES, ADVANCE BY 1 MINUTES)
        GROUP BY 1 EMIT CHANGES;
    """)
    rows = {str(r.ws): r.n for r in hop.collect()}
    # the 00:00-02:00 hop covers the first three events
    assert rows["2024-01-01 00:00:00"] == 3

    sess = eng.ksql("""
        SELECT user_id, WINDOWSTART ws, WINDOWEND we, COUNT(*) n
        FROM clicks WINDOW SESSION (45 SECONDS)
        GROUP BY user_id EMIT CHANGES;
    """)
    per_user = {}
    for r in sess.collect():
        per_user.setdefault(r.user_id, []).append(r.n)
    # user 1's two events are 60s apart: > 45s gap -> two sessions
    assert sorted(per_user[1]) == [1, 1]
    assert per_user[2] == [1] and per_user[3] == [1]

    # a windowed query against a source with NO declared timestamp
    # fails with the actionable message, not a Spark analysis error
    eng.ksql("""
        CREATE STREAM nots (v BIGINT)
        WITH (KAFKA_TOPIC='nots', VALUE_FORMAT='JSON', PARTITIONS=1);
    """)
    with _pytest.raises(ValueError, match="TIMESTAMP"):
        eng.ksql("SELECT COUNT(*) c FROM nots WINDOW TUMBLING "
                 "(SIZE 1 MINUTES) GROUP BY v EMIT CHANGES;")


def test_windowed_ctas_prints_by_key(spark):
    """A windowed CTAS, declared with or without a WITH clause, is keyed
    as ksqlDB keys it: by its GROUP BY columns (a HAVING is no key),
    plus the window bounds the SELECT projects, so print_topic renders
    each window's record under them."""
    eng = EngineSession(spark)
    eng.ksql("CREATE STREAM taps (ts TIMESTAMP, k VARCHAR) "
             "WITH (KAFKA_TOPIC='taps', VALUE_FORMAT='JSON', TIMESTAMP='ts');")
    for t, k in [("00:00:10", "a"), ("00:00:40", "a"), ("00:01:10", "a"), ("00:00:20", "b")]:
        eng.ksql(f"INSERT INTO taps (ts, k) VALUES ('2024-01-01 {t}', '{k}');")

    eng.ksql("CREATE TABLE per_min_w WITH (KAFKA_TOPIC='per_min_w') AS "
             "SELECT k, WINDOWSTART AS ws, COUNT(*) AS n FROM taps "
             "WINDOW TUMBLING (SIZE 1 MINUTE) GROUP BY k EMIT CHANGES;")
    assert eng.catalog["per_min_w"].key_cols == ("k", "ws")
    kv = {(json.loads(r.key)["K"], json.loads(r.key)["WS"][11:19]): json.loads(r.value)
          for r in print_topic(eng, "per_min_w").collect()}
    assert kv == {("a", "00:00:00"): {"N": 2}, ("a", "00:01:00"): {"N": 1},
                  ("b", "00:00:00"): {"N": 1}}

    eng.ksql("CREATE TABLE per_min AS SELECT k, COUNT(*) AS n FROM taps "
             "WINDOW TUMBLING (SIZE 1 MINUTE) GROUP BY k;")
    assert eng.catalog["per_min"].key_cols == ("k",)
    assert sorted((r.key, r.value) for r in print_topic(eng, "per_min").collect()) == [
        ("a", '{"N":1}'), ("a", '{"N":2}'), ("b", '{"N":1}')]

    eng.ksql("CREATE TABLE busy_min AS SELECT k, COUNT(*) AS n FROM taps "
             "WINDOW TUMBLING (SIZE 1 MINUTE) GROUP BY k HAVING COUNT(*) > 1;")
    assert eng.catalog["busy_min"].key_cols == ("k",)
    assert [(r.key, r.value) for r in print_topic(eng, "busy_min").collect()] == [
        ("a", '{"N":2}')]


def test_ctas_keyed_by_computed_group_by(spark):
    """A GROUP BY expression with commas of its own is one key, named by
    the alias the SELECT projects it under; commas at the top level
    still separate keys."""
    eng = EngineSession(spark)
    eng.ksql("CREATE STREAM s (id VARCHAR, k VARCHAR) WITH (KAFKA_TOPIC='s', VALUE_FORMAT='JSON');")
    for i, k in [("a1", "x"), ("a2", "x"), ("b1", "y")]:
        eng.ksql(f"INSERT INTO s (id, k) VALUES ('{i}', '{k}');")
    eng.ksql("CREATE TABLE t WITH (KAFKA_TOPIC='t') AS SELECT SUBSTRING(id, 1, 1) AS head, "
             "COUNT(*) AS n FROM s GROUP BY SUBSTRING(id, 1, 1);")
    assert eng.catalog["t"].key_cols == ("head",)
    assert sorted((r.key, r.value) for r in print_topic(eng, "t").collect()) == [
        ("a", '{"N":2}'), ("b", '{"N":1}')]

    eng.ksql("CREATE TABLE t2 AS SELECT k, SUBSTRING(id, 1, 1) head, COUNT(*) AS n "
             "FROM s GROUP BY k, SUBSTRING(id,1,1);")
    assert eng.catalog["t2"].key_cols == ("k", "head")
    assert sorted((json.loads(r.key)["K"], json.loads(r.key)["HEAD"], r.value)
                  for r in print_topic(eng, "t2").collect()) == [
        ("x", "a", '{"N":2}'), ("y", "b", '{"N":1}')]


def test_within_join_via_ksql_syntax(spark):
    """ksqlDB `JOIN ... WITHIN n U ON ...`: rewritten to the explicit
    time-range join condition over both sides' declared TIMESTAMP
    columns — the condition select_over compiles over watermarked
    streams (test_streaming_windows.py)."""
    import pytest as _pytest

    from ksql_query_tutorial_spark.session import EngineSession

    eng = EngineSession(spark)
    for nm in ("impressions", "clicks2"):
        eng.ksql(f"""
            CREATE STREAM {nm} (ts TIMESTAMP, user_id BIGINT)
            WITH (KAFKA_TOPIC='{nm}', VALUE_FORMAT='JSON', PARTITIONS=1,
                  TIMESTAMP='ts');
        """)
    eng.ksql("INSERT INTO impressions (ts, user_id) VALUES ('2024-01-01 00:00:00', 1);")
    eng.ksql("INSERT INTO impressions (ts, user_id) VALUES ('2024-01-01 01:00:00', 2);")
    eng.ksql("INSERT INTO clicks2 (ts, user_id) VALUES ('2024-01-01 00:10:00', 1);")  # in window
    eng.ksql("INSERT INTO clicks2 (ts, user_id) VALUES ('2024-01-01 02:30:00', 2);")  # out (90 min)

    out = eng.ksql("""
        SELECT i.user_id, i.ts its, c.ts cts
        FROM impressions i JOIN clicks2 c WITHIN 30 MINUTES
        ON i.user_id = c.user_id EMIT CHANGES;
    """).collect()
    assert len(out) == 1 and out[0].user_id == 1

    # both sides need event time
    eng.ksql("""
        CREATE STREAM nots2 (user_id BIGINT)
        WITH (KAFKA_TOPIC='nots2', VALUE_FORMAT='JSON', PARTITIONS=1);
    """)
    with _pytest.raises(ValueError, match="BOTH"):
        eng.ksql("SELECT * FROM impressions i JOIN nots2 n WITHIN 1 HOURS "
                 "ON i.user_id = n.user_id EMIT CHANGES;")


def test_select_over_binds_frames_and_leaves_no_view(spark):
    """select_over binds a frame to its relation name; an unaliased
    relation still qualifies its columns, including the ``__offset``
    that LATEST_BY_OFFSET reads, and no view outlives the call."""
    events = spark.createDataFrame(
        [tuple(r.values()) for r in tutorial.MATCH_EVENT_ROWS], tutorial.MATCH_EVENT_SCHEMA
    ).withColumnRenamed("offset", "__offset")
    before = {t.name for t in spark.catalog.listTables()}
    latest = select_over(
        "SELECT match_event.id, LATEST_BY_OFFSET(match_event.player_id) AS player_id "
        "FROM match_event GROUP BY match_event.id EMIT CHANGES;",
        match_event=events)
    assert {(r.id, r.player_id) for r in latest.collect()} == {("1", "2"), ("2", "2")}
    assert {t.name for t in spark.catalog.listTables()} == before
    # a clause word after the FROM relation is never its alias
    rw = dialect.rewrite_functions
    assert "max_by(v, s.__offset)" in rw(
        "SELECT k, LATEST_BY_OFFSET(v) AS l FROM s CROSS JOIN t GROUP BY k")
    assert "max_by(v, s.__offset)" in rw(
        "SELECT LATEST_BY_OFFSET(v) AS l FROM s HAVING COUNT(*) > 1")


def test_ansi_passthrough_surface(eng):
    """The KSQL clauses that ARE Spark SQL already — HAVING, BETWEEN,
    LIKE, IN, CASE in WHERE — pass through the dialect unchanged and
    produce correct results (pinning the no-rewrite contract)."""
    hav = eng.ksql("""
        SELECT nationality, COUNT(*) n FROM players
        GROUP BY nationality HAVING COUNT(*) > 1 EMIT CHANGES;
    """).collect()
    assert all(r.n > 1 for r in hav) and len(hav) >= 1
    like = eng.ksql(
        "SELECT name FROM players WHERE name LIKE 'L%' EMIT CHANGES;"
    ).collect()
    assert {r.name for r in like} >= {"Lionel Messi"}
    inq = eng.ksql("""
        SELECT COUNT(*) n FROM players
        WHERE nationality IN ('Portuguese', 'Brazilian') EMIT CHANGES;
    """).collect()
    assert inq[0].n >= 3
    btw = eng.ksql(
        "SELECT COUNT(*) n FROM players WHERE id BETWEEN '1' AND '3' "
        "EMIT CHANGES;"
    ).collect()
    # VARCHAR ids compare lexicographically: '1', '10', '2', '3'
    assert btw[0].n == 4


def test_describe_and_explain(eng):
    """DESCRIBE lists fields with key markers; DESCRIBE EXTENDED adds
    the metadata block; EXPLAIN returns the engine's physical plan for
    a rewritten SELECT."""
    out = eng.ksql("DESCRIBE players;")
    assert any(line.startswith("ID | ") and "(key)" in line for line in out)
    assert any(line.startswith("NAME | STRING") for line in out)

    ext = eng.ksql("DESCRIBE EXTENDED players;")
    assert any(line.startswith("Type: TABLE") for line in ext)
    assert any(line.startswith("Value format:") for line in ext)
    assert any(line.startswith("ID | ") for line in ext)

    select = "SELECT UCASE(name) AS n FROM players;"
    plan = eng.ksql(f"EXPLAIN {select}")
    # players is a local relation holding its upsert state, and Catalyst
    # folds the projection into the scan: the plan is one scan, so the
    # UCASE rewrite is pinned on the rewritten text and the rows instead
    assert "== Physical Plan ==" in plan
    assert "Exchange" not in plan
    assert "upper(" in dialect.rewrite_functions(select)
    names = [r.n for r in eng.ksql(select).collect()]
    assert len(names) == 10 and "LIONEL MESSI" in names
    assert all(n == n.upper() for n in names)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        eng.ksql("DESCRIBE no_such_thing;")
    with _pytest.raises(ValueError):
        eng.ksql("EXPLAIN DROP TABLE players;")


def test_count_distinct_rewrite_scans_balanced_parentheses():
    """COUNT_DISTINCT(x) becomes one collect_set aggregation cast to
    BIGINT; the argument ends at its balanced closing parenthesis, so
    nested calls, arithmetic and a quoted ')' stay inside it."""
    rw = dialect.rewrite_functions
    assert rw("SELECT COUNT_DISTINCT(m.match_id) FROM m") == (
        "SELECT CAST(size(collect_set(m.match_id)) AS BIGINT) FROM m")
    assert rw("SELECT COUNT_DISTINCT(UCASE(m.match_id)) AS n FROM m") == (
        "SELECT CAST(size(collect_set(upper(m.match_id))) AS BIGINT) AS n FROM m")
    assert rw("SELECT count_distinct (LEN(id) + 1) * 2 FROM m") == (
        "SELECT CAST(size(collect_set(length(id) + 1)) AS BIGINT) * 2 FROM m")
    assert rw("SELECT COUNT_DISTINCT(concat(id, ')')), COUNT_DISTINCT(k) FROM m") == (
        "SELECT CAST(size(collect_set(concat(id, ')'))) AS BIGINT), "
        "CAST(size(collect_set(k)) AS BIGINT) FROM m")
    with pytest.raises(ValueError, match="unbalanced"):
        rw("SELECT COUNT_DISTINCT(f(x) FROM m")


def test_window_partition_by_stays_and_csas_rekey_is_extracted():
    """Only a PARTITION BY outside parentheses is a CSAS re-key: a
    window's PARTITION BY stays in its OVER (...), so a per-group rank
    stays per group, and a re-key like q19's in queries.sql is still
    pulled out as the sink key."""
    def no_ts(name):
        return None

    ranked = ("SELECT nation, row_number() OVER (PARTITION BY nation ORDER BY revenue DESC)"
              " AS rk FROM j")
    assert dialect.rewrite_select(ranked, no_ts) == (ranked, None)
    salted = ("SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY nation, "
              "pmod(xxhash64(k), 32) ORDER BY r) AS rk FROM j) WHERE rk <= 3")
    assert dialect.rewrite_select(salted, no_ts) == (salted, None)
    rekey = "SELECT * FROM events PARTITION BY user_id EMIT CHANGES"
    assert dialect.rewrite_select(rekey, no_ts) == ("SELECT * FROM events", "user_id")


def test_create_as_select_may_lead_with_with():
    """A CTAS query may open with WITH: the CTEs belong to the SELECT."""
    script = ("CREATE TABLE t AS\nWITH a AS (SELECT 1 AS x)\nSELECT x FROM a;\n"
              "CREATE STREAM s AS SELECT x FROM a;")
    assert dialect.create_selects(script) == {
        "t": "WITH a AS (SELECT 1 AS x)\nSELECT x FROM a", "s": "SELECT x FROM a"}


def test_create_that_does_not_parse_raises():
    """A CREATE the dialect cannot parse names itself in an error; it is
    never dropped from the script's SELECTs. A statement that is no
    CREATE at all still parses to None for the ksql session."""
    for bad in ("CREATE TABLE b AS (SELECT 1 AS x FROM t)",
                "CREATE OR REPLACE TABLE d AS SELECT 1 AS x FROM t"):
        script = f"CREATE TABLE a AS SELECT 1 AS x FROM t; {bad};"
        with pytest.raises(ValueError, match=bad.split(" AS ")[0]):
            dialect.create_selects(script)
    assert dialect.parse_create("SELECT 1 AS x FROM t") is None
    # every shipped script parses whole, with its statement count unchanged
    pkg = Path(dialect.__file__).parent.parent
    counts = {f: len(dialect.create_selects((pkg / f).read_text()))
              for f in ("tutorial.sql", "queries.sql", "extensions/retail.sql",
                        "extensions/events.sql", "extensions/privacy.sql")}
    assert counts == {"tutorial.sql": 3, "queries.sql": 30, "extensions/retail.sql": 46,
                      "extensions/events.sql": 36, "extensions/privacy.sql": 4}


def test_count_distinct_matches_spark_count_distinct(spark):
    """COUNT_DISTINCT over a nullable column, a nested call and a
    compound argument equals Spark's count(DISTINCT) over the same view:
    NULLs are not counted, and a group of only NULLs counts 0. A CTAS
    over a bare COUNT_DISTINCT keeps ksqlDB's BIGINT type."""
    e = EngineSession(spark)
    e.ksql("CREATE STREAM visits (id VARCHAR KEY, page VARCHAR, n INT) "
           "WITH (KAFKA_TOPIC = 'visits', VALUE_FORMAT = 'JSON', PARTITIONS = 1);")
    for vid, page, n in [("a", "x", 1), ("a", "X", 2), ("a", None, None),
                         ("a", "x", 1), ("b", None, 3), ("b", None, 3),
                         ("c", "y", None), ("c", "z", 4)]:
        p = "NULL" if page is None else f"'{page}'"
        v = "NULL" if n is None else n
        e.ksql(f"INSERT INTO visits (id, page, n) VALUES ('{vid}', {p}, {v});")

    def by_id(df):
        return {r[0]: tuple(r[1:]) for r in df.collect()}

    got = e.ksql("SELECT id, COUNT_DISTINCT(page) AS p, COUNT_DISTINCT(UCASE(page)) AS u, "
                 "COUNT_DISTINCT(n * 10 + LEN(page)) AS c FROM visits GROUP BY id;")
    want = spark.sql("SELECT id, count(DISTINCT page), count(DISTINCT upper(page)), "
                     "count(DISTINCT n * 10 + length(page)) FROM visits GROUP BY id")
    assert by_id(got) == by_id(want) == {"a": (2, 1, 2), "b": (0, 0, 0), "c": (2, 2, 1)}

    e.ksql("CREATE TABLE visit_pages WITH (KAFKA_TOPIC = 'visit_pages', "
           "VALUE_FORMAT = 'JSON', PARTITIONS = 1) AS "
           "SELECT id, COUNT_DISTINCT(page) AS pages FROM visits GROUP BY id;")
    assert "PAGES | BIGINT" in e.ksql("DESCRIBE visit_pages;")
    assert by_id(e.ksql("SELECT * FROM visit_pages;")) == {"a": (2,), "b": (0,), "c": (2,)}
