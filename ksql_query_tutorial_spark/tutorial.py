"""The reference tutorial's exact scenario as engine pipelines.

Fixture data and the three derived collections from
/root/reference (`README.md`, `files/ksqldb-cli/all.sql`), expressed as
plan-builders that work on BOTH batch and streaming DataFrames — the
same logical plan runs under ``spark.read`` (oracle checks) and
``spark.readStream`` (semantics replay, SURVEY.md §5.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

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


# ---------------------------------------------------------------- pipelines

def match_event_player(match_event: DataFrame) -> DataFrame:
    """CSAS re-key projection (`all.sql:45-51`): project (id AS match_id,
    event_type, player_id); the PARTITION BY player_id re-key survives
    only as sink key selection in Spark (§1.5)."""
    cols = [F.col("id").alias("match_id"), "event_type", "player_id"]
    # carry the offset pseudo-column through (ksqlDB's ROWOFFSET analog)
    # so downstream LATEST_BY_OFFSET aggregates stay offset-ordered
    if "offset" in match_event.columns:
        cols.append(F.col("offset"))
    return match_event.select(*cols)


def match_results(match_event: DataFrame) -> DataFrame:
    """match_results CTAS (`README.md:308-327`): per-match conditional
    goal sums. Golden final state: match 1 → (2,1), match 2 → (1,1)
    (`README.md:348-351`)."""
    is_goal = F.col("event_type") == "GOAL"
    return match_event.groupBy("id").agg(
        F.sum(F.when(is_goal & F.col("home"), 1).otherwise(0)).alias("home_goals"),
        F.sum(F.when(is_goal & ~F.col("home"), 1).otherwise(0)).alias("away_goals"),
    )


def player_stats(match_event: DataFrame, players: DataFrame) -> DataFrame:
    """player_stats CTAS (`all.sql:129-160`; README variant
    `README.md:423-454`): stream⋈table join + per-player aggregate.

    COUNT_DISTINCT(match_id) under streaming update mode is not
    supported by Spark (SURVEY.md §7.4.3); the Spark-first equivalent
    is ``size(collect_set(match_id))`` — exact keyed distinct-set
    state, bounded by matches-per-player. The same expression runs in
    batch, keeping batch == final-stream-state.

    Golden final state (`README.md:413-420`): Messi (goals 3, avg 1.5,
    assists 1); Ronaldo (goals 2, avg 1.0, assists 1).
    """
    mep = match_event_player(match_event)
    joined = mep.join(players, mep.player_id == players.id, "inner")
    goals = F.sum(F.when(F.col("event_type") == "GOAL", 1).otherwise(0))
    assists = F.sum(F.when(F.col("event_type") == "ASSIST", 1).otherwise(0))
    n_matches = F.size(F.collect_set("match_id"))
    return joined.groupBy("player_id").agg(
        F.max_by("name", "offset").alias("name"),  # LATEST_BY_OFFSET (all.sql:136)
        goals.alias("goals"),
        (goals.cast("double") / n_matches.cast("double")).alias("avg_goals"),
        assists.alias("assists"),
    )
