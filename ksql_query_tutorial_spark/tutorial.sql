-- The reference tutorial's KSQL script, assembled from its statements as
-- README.md and all.sql quote them (line refs below); it is not the
-- verbatim all.sql. The CSAS/CTAS below are the tutorial's one definition
-- of its derived collections: EngineSession runs them as views, and
-- tutorial.py compiles them over batch or streaming DataFrames.

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

-- players seed: tutorial.PLAYERS_ROWS (files/mysql/init.sql:11-22)
INSERT INTO players (id, name, team, nationality) VALUES ('1', 'Lionel Messi', 'Paris Saint-Germain', 'Argentinian');
INSERT INTO players (id, name, team, nationality) VALUES ('2', 'Cristiano Ronaldo', 'Al-Nassr', 'Portuguese');
INSERT INTO players (id, name, team, nationality) VALUES ('3', 'Neymar Jr.', 'Paris Saint-Germain', 'Brazilian');
INSERT INTO players (id, name, team, nationality) VALUES ('4', 'Kevin De Bruyne', 'Manchester City', 'Belgian');
INSERT INTO players (id, name, team, nationality) VALUES ('5', 'Kylian Mbappe', 'Paris Saint-Germain', 'French');
INSERT INTO players (id, name, team, nationality) VALUES ('6', 'Robert Lewandowski', 'Barcelona', 'Polish');
INSERT INTO players (id, name, team, nationality) VALUES ('7', 'Sadio Mane', 'Bayern Munich', 'Senegalese');
INSERT INTO players (id, name, team, nationality) VALUES ('8', 'Virgil van Dijk', 'Liverpool', 'Dutch');
INSERT INTO players (id, name, team, nationality) VALUES ('9', 'Bernardo Silva', 'Manchester City', 'Portuguese');
INSERT INTO players (id, name, team, nationality) VALUES ('10', 'Raheem Sterling', 'Chelsea', 'English');

-- CSAS re-key (all.sql:45-51)
CREATE STREAM match_event_player
WITH (KAFKA_TOPIC = 'match_event_player', VALUE_FORMAT = 'JSON', PARTITIONS = 1)
AS SELECT id AS match_id, event_type, player_id, __offset
FROM match_event PARTITION BY player_id;

-- CTAS match_results (README.md:308-327)
CREATE TABLE match_results
WITH (KAFKA_TOPIC = 'match_results', VALUE_FORMAT = 'JSON', PARTITIONS = 1)
AS SELECT id,
     SUM(CASE WHEN event_type = 'GOAL' AND home THEN 1 ELSE 0 END) AS home_goals,
     SUM(CASE WHEN event_type = 'GOAL' AND NOT home THEN 1 ELSE 0 END) AS away_goals
FROM match_event GROUP BY id EMIT CHANGES;

-- CTAS player_stats (all.sql:129-160)
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
