"""ksql-session: one closed-loop client on the KSQL front-end.

Set-up runs an ``all.sql``-shaped script through ``EngineSession.ksql``:
the players TABLE and match_event STREAM, seeded players, the
``match_event_player`` CSAS and the ``match_results`` and
``player_stats`` CTAS. The load is a seeded statement cycle: match_event
appends and players upserts on existing keys, then a push and a pull
SELECT on ``player_stats`` (the join CTAS) whose rows are collected. The engine re-registers every derived
view on each write, so writes and reads meet here.

``p50_ms``/``p90_ms`` are SELECT latencies, from the statement to its
collected rows; ``wall_s`` is the median time of one whole cycle. INSERT
latency is reported beside them and per layer: it is a few py4j round
trips, and on a shared 4-vCPU host its run-to-run spread (about a third
of its median) is too wide to gate on. At the end ``match_results`` and
``player_stats`` must equal a pure-Python computation from the
generated statements.
"""

from __future__ import annotations

import time
from collections import defaultdict

import numpy as np

from perfbench import datagen
from perfbench.trace import SparkCounters, median, percentile

N_PLAYERS = 10
N_MATCHES = 30
EVENTS_PER_CYCLE = 6
UPSERTS_PER_CYCLE = 1
WARMUP_CYCLES = 2
MIN_CYCLES = 2

DDL = """
SET 'auto.offset.reset' = 'earliest';
CREATE TABLE players (
  id VARCHAR PRIMARY KEY,
  name VARCHAR(50),
  team VARCHAR(50),
  nationality VARCHAR(50)
) WITH (KAFKA_TOPIC = 'players', VALUE_FORMAT = 'JSON', PARTITIONS = 1);
CREATE STREAM match_event (
  id VARCHAR KEY,
  event_type VARCHAR,
  player_id VARCHAR,
  home BOOLEAN
) WITH (KAFKA_TOPIC = 'match_event', VALUE_FORMAT = 'JSON', PARTITIONS = 1);
"""

DERIVED = """
CREATE STREAM match_event_player
WITH (KAFKA_TOPIC = 'match_event_player', VALUE_FORMAT = 'JSON', PARTITIONS = 1)
AS SELECT id AS match_id, event_type, player_id, __offset
FROM match_event PARTITION BY player_id;
CREATE TABLE match_results
WITH (KAFKA_TOPIC = 'match_results', VALUE_FORMAT = 'JSON', PARTITIONS = 1)
AS SELECT id,
     SUM(CASE WHEN event_type = 'GOAL' AND home THEN 1 ELSE 0 END) AS home_goals,
     SUM(CASE WHEN event_type = 'GOAL' AND NOT home THEN 1 ELSE 0 END) AS away_goals
FROM match_event GROUP BY id EMIT CHANGES;
CREATE TABLE player_stats
WITH (KAFKA_TOPIC = 'player_stats', VALUE_FORMAT = 'JSON', PARTITIONS = 1)
AS SELECT p.id AS player_id,
     LATEST_BY_OFFSET(p.name) AS name,
     SUM(CASE WHEN m.event_type = 'GOAL' THEN 1 ELSE 0 END) AS goals,
     CAST(SUM(CASE WHEN m.event_type = 'GOAL' THEN 1 ELSE 0 END) AS DOUBLE)
       / CAST(COUNT_DISTINCT(m.match_id) AS DOUBLE) AS avg_goals,
     SUM(CASE WHEN m.event_type = 'ASSIST' THEN 1 ELSE 0 END) AS assists
FROM match_event_player m
INNER JOIN players p ON m.player_id = p.id
GROUP BY p.id EMIT CHANGES;
"""


def _player_insert(p: dict) -> str:
    return ("INSERT INTO players (id, name, team, nationality) VALUES "
            f"('{p['id']}', '{p['name']}', '{p['team']}', '{p['nationality']}');")


def _event_insert(e: dict) -> str:
    return ("INSERT INTO match_event (id, event_type, player_id, home) VALUES "
            f"('{e['id']}', '{e['event_type']}', '{e['player_id']}', "
            f"{str(e['home']).lower()});")


class Expected:
    """Pure-Python twin of match_results and player_stats over the
    statements sent so far."""

    def __init__(self, players: list[dict]):
        self.names = {p["id"]: p["name"] for p in players}
        self.home = defaultdict(int)
        self.away = defaultdict(int)
        self.matches = set()
        self.goals = defaultdict(int)
        self.assists = defaultdict(int)
        self.player_matches = defaultdict(set)

    def event(self, e: dict) -> None:
        goal = e["event_type"] == "GOAL"
        self.matches.add(e["id"])
        self.home[e["id"]] += goal and e["home"]
        self.away[e["id"]] += goal and not e["home"]
        pid = e["player_id"]
        if pid in self.names:
            self.player_matches[pid].add(e["id"])
            self.goals[pid] += goal
            self.assists[pid] += e["event_type"] == "ASSIST"

    def match_results(self) -> dict:
        return {m: (self.home[m], self.away[m]) for m in self.matches}

    def player_stats(self) -> dict:
        return {
            p: (self.names[p], self.goals[p], self.goals[p] / len(ms), self.assists[p])
            for p, ms in self.player_matches.items()
        }


class Client:
    """Sends statements, times them, and tallies failures."""

    def __init__(self, run, eng):
        from ksql_query_tutorial_spark.ksql import dialect

        self.run, self.eng, self.split = run, eng, dialect.split_statements
        self.counters = SparkCounters(run.spark) if run.trace else None
        self.insert_s: list[float] = []
        self.select_s: list[float] = []
        self.n = 0

    def insert(self, stmt: str) -> None:
        tr = self.run.tracer
        self.run.attempted += 1
        try:
            with tr.span("statement", "insert"):
                t0 = time.perf_counter()
                if self.run.trace:
                    with tr.span("ksql.split"):
                        self.split(stmt)
                    tr.sample("ksql.split_ms", 1e3 * (time.perf_counter() - t0))
                    t0 = time.perf_counter()
                with tr.span("ksql.execute"):
                    self.eng.ksql(stmt)
                dt = time.perf_counter() - t0
        except Exception as exc:  # a failed statement is counted, not fatal
            self.run.fail(f"{stmt[:60]}: {type(exc).__name__}: {str(exc)[:200]}")
            return
        self.insert_s.append(dt)
        tr.sample("ksql.insert_ms", 1e3 * dt)

    def select(self, stmt: str):
        tr, sc = self.run.tracer, self.run.spark.sparkContext
        self.run.attempted += 1
        self.n += 1
        group = f"select:{self.n}"
        try:
            with tr.span("statement", "select"):
                t0 = time.perf_counter()
                if self.run.trace:
                    sc.setJobGroup(group, stmt[:60])
                with tr.span("ksql.execute"):
                    df = self.eng.ksql(stmt)
                t1 = time.perf_counter()
                if self.run.trace:
                    with tr.span("plan"):
                        df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                with tr.span("collect"):
                    rows = df.collect()
                t3 = time.perf_counter()
        except Exception as exc:  # a failed statement is counted, not fatal
            self.run.fail(f"{stmt[:60]}: {type(exc).__name__}: {str(exc)[:200]}")
            return None
        self.select_s.append(t3 - t0)
        if self.run.trace:
            sc.setLocalProperty("spark.jobGroup.id", None)
            tr.sample("ksql.select_build_ms", 1e3 * (t1 - t0))
            tr.sample("ksql.select_plan_ms", 1e3 * (t2 - t1))
            tr.sample("ksql.select_exec_ms", 1e3 * (t3 - t2))
            tr.sample("ksql.select_jobs", self.counters.group(group)["jobs"])
            it = df._jdf.queryExecution().tracker().phases().iterator()
            while it.hasNext():
                kv = it.next()
                tr.sample(f"plan.{kv._1()}_ms", float(kv._2().durationMs()))
        return rows


def _cycle(rng: np.random.Generator, players: list[dict], offset: int):
    """One statement cycle: (statement, match event or None) pairs."""
    for e in datagen.match_events(rng, EVENTS_PER_CYCLE, offset, N_PLAYERS, N_MATCHES):
        yield _event_insert(e), e
    for _ in range(UPSERTS_PER_CYCLE):
        p = dict(players[int(rng.integers(0, N_PLAYERS))])
        p["team"] = f"Team {int(rng.integers(0, 1000))}"
        yield _player_insert(p), None
    yield "SELECT * FROM player_stats EMIT CHANGES;", None
    pid = str(datagen.zipf_keys(rng, 1, N_PLAYERS, 1.1)[0])
    yield f"SELECT * FROM player_stats WHERE player_id = '{pid}';", None


def _send(client: Client, want: Expected, stmts, closed) -> bool:
    """Send one cycle's statements; False if the window closed first."""
    for stmt, event in stmts:
        if closed():
            return False
        if event is not None:
            want.event(event)
        (client.select if stmt.startswith("SELECT") else client.insert)(stmt)
    return True


def ksql_session(run) -> None:
    from ksql_query_tutorial_spark.session import EngineSession

    rng = np.random.default_rng(run.seed)
    players = datagen.players(N_PLAYERS)

    def touch(spark):
        eng = EngineSession(spark)
        eng.ksql(DDL)
        eng.ksql("\n".join(_player_insert(p) for p in players))
        eng.ksql(DERIVED)
        return eng

    eng = run.set_up(touch)

    client = Client(run, eng)
    want = Expected(players)
    cycles: list[float] = []
    offset = 0
    deadline = 0.0
    c = -WARMUP_CYCLES  # warm-up cycles are checked, not timed
    while True:
        if c == 0:
            client.insert_s.clear()
            client.select_s.clear()
            deadline = time.perf_counter() + run.seconds
        t0 = time.perf_counter()

        def closed():  # the window may close part-way through a cycle
            return c >= MIN_CYCLES and time.perf_counter() >= deadline

        if not _send(client, want, _cycle(rng, players, offset), closed):
            break
        offset += EVENTS_PER_CYCLE
        if c >= 0:
            cycles.append(time.perf_counter() - t0)
        c += 1

    ins = [1e3 * x for x in client.insert_s]
    sel = [1e3 * x for x in client.select_s]

    # final state == pure-Python twin
    res = client.select("SELECT * FROM match_results;")
    got = {r.id: (r.home_goals, r.away_goals) for r in res or []}
    if got != want.match_results():
        run.fail("match_results differs from the statements' expected state")
    res = client.select("SELECT * FROM player_stats;")
    got = {r.player_id: (r.name, r.goals, r.avg_goals, r.assists) for r in res or []}
    if got != want.player_stats():
        run.fail("player_stats differs from the statements' expected state")

    run.samples = len(sel)
    run.set_e2e(wall_s=median(cycles), p50_ms=percentile(sel, 50), p90_ms=percentile(sel, 90))
    run.notes["tutorial_metrics"] = {
        "insert_p50_ms": [percentile(ins, 50), "ms"],
        "insert_p95_ms": [percentile(ins, 95), "ms"],
        "select_p50_ms": [percentile(sel, 50), "ms"],
        "select_p90_ms": [percentile(sel, 90), "ms"],
    }
    if run.trace:
        for k, xs in run.tracer.samples.items():
            run.layer(k, median(xs))
        run.layer("ksql.topic_rows", sum(len(t) for t in eng.topics.values()))
