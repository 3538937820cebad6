"""The reference tutorial's scenario: its data, schemas and queries.

Fixture data from the reference tutorial (`README.md`, `files/mysql/init.sql`)
and the three derived collections of its KSQL script, ``tutorial.sql``
(shaped after `files/ksqldb-cli/all.sql`). The functions below compile
the script's CSAS/CTAS statements with ``ksql.engine.select_over``, so
the plan a KSQL view resolves to is the one that runs under
``spark.read`` (batch checks) and ``spark.readStream`` (persistent
queries, replay; SURVEY.md §5.3).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ksql_query_tutorial_spark.ksql import dialect
from ksql_query_tutorial_spark.ksql.engine import select_over

SCRIPT = Path(__file__).with_name("tutorial.sql")

# --------------------------------------------------------------- fixtures
# players table — files/mysql/init.sql:11-22; golden scan README.md:100-114
PLAYERS_ROWS = [
    {"id": "1", "name": "Lionel Messi", "team": "Paris Saint-Germain", "nationality": "Argentinian"},
    {"id": "2", "name": "Cristiano Ronaldo", "team": "Al-Nassr", "nationality": "Portuguese"},
    {"id": "3", "name": "Neymar Jr.", "team": "Paris Saint-Germain", "nationality": "Brazilian"},
    {"id": "4", "name": "Kevin De Bruyne", "team": "Manchester City", "nationality": "Belgian"},
    {"id": "5", "name": "Kylian Mbappe", "team": "Paris Saint-Germain", "nationality": "French"},
    {"id": "6", "name": "Robert Lewandowski", "team": "Barcelona", "nationality": "Polish"},
    {"id": "7", "name": "Sadio Mane", "team": "Bayern Munich", "nationality": "Senegalese"},
    {"id": "8", "name": "Virgil van Dijk", "team": "Liverpool", "nationality": "Dutch"},
    {"id": "9", "name": "Bernardo Silva", "team": "Manchester City", "nationality": "Portuguese"},
    {"id": "10", "name": "Raheem Sterling", "team": "Chelsea", "nationality": "English"},
]

PLAYERS_SCHEMA = T.StructType([
    T.StructField("id", T.StringType(), False),
    T.StructField("name", T.StringType(), True),
    T.StructField("team", T.StringType(), True),
    T.StructField("nationality", T.StringType(), True),
])

# match_event stream — the README's canonical insert order
# (README.md:190-191, 210-211, 242-245, 271-276; FIXTURES.md §A2).
# `offset` is the Kafka-offset analog driving LATEST_BY_OFFSET/upserts.
MATCH_EVENT_ROWS = [
    {"offset": 0, "id": "1", "event_type": "GOAL", "player_id": "1", "home": True},
    {"offset": 1, "id": "1", "event_type": "ASSIST", "player_id": "1", "home": True},
    {"offset": 2, "id": "1", "event_type": "GOAL", "player_id": "1", "home": True},
    {"offset": 3, "id": "1", "event_type": "GOAL", "player_id": "2", "home": False},
    {"offset": 4, "id": "2", "event_type": "GOAL", "player_id": "1", "home": True},
    {"offset": 5, "id": "2", "event_type": "ASSIST", "player_id": "2", "home": False},
    {"offset": 6, "id": "2", "event_type": "GOAL", "player_id": "2", "home": False},
]

MATCH_EVENT_SCHEMA = T.StructType([
    T.StructField("offset", T.LongType(), False),
    T.StructField("id", T.StringType(), True),
    T.StructField("event_type", T.StringType(), True),
    T.StructField("player_id", T.StringType(), True),
    T.StructField("home", T.BooleanType(), True),
])


# ---------------------------------------------------------------- queries
SELECTS = dialect.create_selects(SCRIPT.read_text())

# The reference schema's `offset` binds to `__offset`, the engine's
# offset pseudo-column that the script's LATEST_BY_OFFSET reads.

def match_event_player(match_event: DataFrame) -> DataFrame:
    """CSAS re-key (`all.sql:45-51`): (id AS match_id, event_type,
    player_id, __offset); PARTITION BY only selects the sink key."""
    return select_over(SELECTS["match_event_player"],
                       match_event=match_event.withColumnRenamed("offset", "__offset"))


def match_results(match_event: DataFrame) -> DataFrame:
    """match_results CTAS (`README.md:308-327`): per-match conditional
    goal sums. Golden final state: match 1 → (2,1), match 2 → (1,1)
    (`README.md:348-351`)."""
    return select_over(SELECTS["match_results"], match_event=match_event)


def player_stats(match_event: DataFrame, players: DataFrame) -> DataFrame:
    """player_stats CTAS (`all.sql:129-160`): stream⋈table join and
    per-player aggregate. Golden final state (`README.md:413-420`):
    Messi (goals 3, avg 1.5, assists 1); Ronaldo (goals 2, avg 1.0,
    assists 1)."""
    return select_over(SELECTS["player_stats"],
                       match_event_player=match_event_player(match_event), players=players)
