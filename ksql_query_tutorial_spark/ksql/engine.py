"""KSQL statement executor: run the reference tutorial's statements
against the engine.

Execution model: collections are registered temp views over in-memory
"topics" (ordered record lists with an ``__offset`` pseudo-column — the
stand-in for Kafka topics in this broker-less container). Each topic
view is an Arrow-backed local relation (``session.local_frame``): a
JVM ``LocalTableScan`` with exact size statistics, so scanning a topic
starts no Python worker and a join against a small topic is planned as
a broadcast up front. The relational semantics match the reference:

- a ``TABLE``'s view is its upsert state (latest record per PRIMARY
  KEY, `README.md:92`), computed on the driver when the view is
  registered, so the view holds one row per key and reading it needs
  no shuffle; a ``STREAM``'s view is every record.
- a collection's columns bind to its topic's record fields by name, so
  several collections may declare different subsets of one topic
  (`README.md:90`).
- ``INSERT INTO`` appends to the topic at the next offset (S6) and
  refreshes every collection declared over that topic. A statement a
  view rejects (unknown column, value count mismatch, a value of the
  wrong type) raises and leaves the topic unchanged.
- CSAS/CTAS register the rewritten SELECT as a SQL temp view (the
  Catalyst-native form of a derived collection) plus catalog metadata
  carrying the sink key columns. Spark stores the view's SQL text and
  resolves it against the current source views at read time, so a
  derived collection always reflects every write to its sources — the
  persistent-query contract (`README.md:205,310`) — with no work per
  INSERT. ``print_topic`` renders any collection in the sink wire
  layout (key/value JSON — the console-consumer S7 analog,
  `README.md:333-351`).
- push queries (``SELECT ... EMIT CHANGES``) return the current result
  state as a DataFrame. ``select_over`` compiles the same SELECT text
  over caller-supplied DataFrames, batch or streaming, so a persistent
  query (ksql_query_tutorial_spark.streaming) runs the plan the view
  resolves to: one plan, run as a batch or incrementally.

Statement coverage = the reference's surface: SET, CREATE SOURCE
CONNECTOR, CREATE TABLE/STREAM (source + AS SELECT), INSERT INTO,
SELECT, SHOW TOPICS/STREAMS/TABLES/CONNECTORS/QUERIES, DESCRIBE
[EXTENDED], EXPLAIN, TERMINATE, DROP.
"""

from __future__ import annotations

import re
from datetime import datetime
from typing import Any

from pyspark.sql import DataFrame

from ksql_query_tutorial_spark.functions.serde import encode_kv
from ksql_query_tutorial_spark.ksql import dialect
from ksql_query_tutorial_spark.session import Collection, local_frame


def execute(session, text: str) -> Any:
    """Execute one statement or a whole script; returns the last
    statement's result (DataFrame for SELECTs, metadata otherwise)."""
    result: Any = None
    for stmt in dialect.split_statements(text):
        result = _execute_one(session, stmt)
    return result


def _execute_one(session, stmt: str) -> Any:
    head = stmt.split(None, 2)[0].upper() if stmt.split() else ""
    if head == "SET":
        m = re.match(r"SET\s+'([^']+)'\s*=\s*'([^']*)'", stmt, re.I)
        if not m:
            raise ValueError(f"cannot parse SET: {stmt!r}")
        session.properties[m.group(1)] = m.group(2)
        return session.properties

    if re.match(r"CREATE\s+(SOURCE\s+|SINK\s+)?CONNECTOR", stmt, re.I):
        m = re.match(
            r"CREATE\s+(?:SOURCE|SINK)?\s*CONNECTOR\s+(?:IF\s+NOT\s+EXISTS\s+)?"
            r"[`\"]?(\w+)[`\"]?\s+WITH\s*\((.*)\)\s*$",
            stmt, re.I | re.S,
        )
        if not m:
            raise ValueError(f"cannot parse CREATE CONNECTOR: {stmt!r}")
        name, props = m.group(1), dialect.parse_with_props(m.group(2))
        session.connectors[name] = props
        # The incrementing-JDBC ingest adapter is sources.jdbc.
        # IncrementingIngest; without a database in this container the
        # connector's initial snapshot is simulated from the reference's
        # own MySQL seed (files/mysql/init.sql:11-22) when the tutorial's
        # football.players source is declared — the topic is auto-named
        # after the table (README.md:68), keys stringified per the
        # StringConverter (all.sql:15).
        whitelist = props.get("table.whitelist", "")
        if whitelist == "players" and "football" in props.get("connection.url", ""):
            from ksql_query_tutorial_spark.tutorial import PLAYERS_ROWS

            prefix = props.get("topic.prefix", "")
            topic = session.topics.setdefault(f"{prefix}{whitelist}", [])
            if not topic:
                topic.extend(dict(r, __offset=i) for i, r in enumerate(PLAYERS_ROWS))
        return {name: props}

    create = dialect.parse_create(stmt)
    if create:
        if create.select:
            return _create_as_select(session, create)
        return _create_source_collection(session, create)

    if re.match(r"INSERT\s+INTO", stmt, re.I):
        return _insert_into(session, stmt)

    if head == "SELECT":
        return session.spark.sql(_rewrite(session, stmt)[0])

    if head == "SHOW":
        return _show(session, stmt)

    if head == "DESCRIBE":
        return _describe(session, stmt)

    if head == "EXPLAIN":
        return _explain(session, stmt)

    if head == "TERMINATE":
        session.terminate(stmt.split()[1])
        return None

    if head == "DROP":
        m = re.match(r"DROP\s+(TABLE|STREAM)\s+(?:IF\s+EXISTS\s+)?(\w+)", stmt, re.I)
        if m:
            name = m.group(2).lower()
            session.catalog.pop(name, None)
            session.spark.catalog.dropTempView(name)
            return None

    raise ValueError(f"unsupported statement: {stmt[:80]!r}")


# ----------------------------------------------------------------- helpers

def _create_source_collection(session, create: dialect.Create) -> Collection:
    kind, name, props = create.kind, create.name, create.props
    cols, key_cols, _ = dialect.parse_column_defs(create.defs)
    topic = props.get("kafka_topic", name)
    coll = Collection(
        name=name, kind=kind, key_cols=tuple(key_cols),
        value_format=props.get("value_format", "JSON").upper(),
        partitions=int(props.get("partitions", Collection.partitions)), topic=topic,
        properties={**props, "columns": ",".join(f"{c}:{t}" for c, t in cols)},
    )
    view = _view(session, coll, session.topics.get(topic, []))
    session.topics.setdefault(topic, [])
    session.catalog[name] = coll
    view.createOrReplaceTempView(name)
    return coll


def _columns(coll: Collection) -> list[tuple[str, str]]:
    """The declared (name, spark type) columns, in DDL order."""
    return [tuple(c.split(":")) for c in coll.properties["columns"].split(",")]


def _view(session, coll: Collection, rows: list[dict]) -> DataFrame:
    """The collection's view over the topic records ``rows``; raises if
    a value does not fit its declared column type. Each declared column
    binds to the record field of the same name, so a collection may
    declare a subset of its topic's fields, in any order: a field the
    record lacks reads NULL and undeclared fields are dropped. A TABLE's
    view is its upsert state: the last record per PRIMARY KEY in topic
    order (the max-``__offset`` one), kept here on the driver, so the
    view is a bare local relation."""
    if coll.kind == "TABLE" and coll.key_cols:
        rows = list({tuple(r.get(c) for c in coll.key_cols): r for r in rows}.values())
    cols = _columns(coll)
    names = [c for c, _ in cols] + ["__offset"]
    schema = ", ".join(f"{c} {t}" for c, t in cols) + ", __offset BIGINT"
    return local_frame(session.spark,
                       [tuple(r.get(c) for c in names) for r in rows], schema)


def _refresh_views(session, topic: str, rows: list[dict]) -> None:
    """(Re)register the view of every source collection declared over
    ``topic``; raises, registering nothing, if any view rejects a value."""
    views = [(c.name, _view(session, c, rows)) for c in session.catalog.values()
             if c.topic == topic and "columns" in c.properties]
    for name, df in views:
        df.createOrReplaceTempView(name)


def _insert_into(session, stmt: str) -> None:
    m = re.match(
        r"INSERT\s+INTO\s+(\w+)\s*(?:\(([^)]*)\)\s*)?VALUES\s*\((.*)\)\s*$",
        stmt, re.I | re.S,
    )
    if not m:
        raise ValueError(f"cannot parse INSERT: {stmt!r}")
    name = m.group(1).lower()
    coll = session.catalog[name]
    types = dict(_columns(coll))
    # column list omitted (all.sql:53-54): values bind to the declared
    # columns in DDL order, key column included
    cols = ([c.strip().lower() for c in m.group(2).split(",")]
            if m.group(2) else list(types))
    values = _parse_values(m.group(3))
    unknown = [c for c in cols if c not in types]
    if unknown:
        raise ValueError(f"INSERT INTO {name}: unknown column(s) {unknown}; "
                         f"{name} declares {list(types)}")
    if len(set(cols)) != len(cols):
        raise ValueError(f"INSERT INTO {name}: a column is listed twice in {cols}")
    if len(values) != len(cols):
        raise ValueError(f"INSERT INTO {name}: {len(cols)} column(s) {cols} "
                         f"but {len(values)} value(s)")
    row = dict.fromkeys(types)
    for c, v in zip(cols, values):
        # TIMESTAMP literals arrive as ISO strings (ksqlDB's literal
        # form); the topic stores them as datetimes
        row[c] = (datetime.fromisoformat(v)
                  if types[c] == "TIMESTAMP" and isinstance(v, str) else v)
    topic = session.topics[coll.topic]
    row["__offset"] = len(topic)
    # the views are built first: a value one rejects leaves the topic
    # as it was, so later valid INSERTs still succeed
    _refresh_views(session, coll.topic, topic + [row])
    topic.append(row)


def _parse_values(s: str) -> list[Any]:
    out: list[Any] = []
    # '((?:[^']|'')*)' handles KSQL's doubled-quote escape ('N''Golo')
    pat = re.compile(r"'((?:[^']|'')*)'|(true|false)|(-?\d+\.\d+)|(-?\d+)|(NULL)", re.I)
    for m in pat.finditer(s):
        if m.group(1) is not None:
            out.append(m.group(1).replace("''", "'"))
        elif m.group(2) is not None:
            out.append(m.group(2).lower() == "true")
        elif m.group(3) is not None:
            out.append(float(m.group(3)))
        elif m.group(4) is not None:
            out.append(int(m.group(4)))
        else:
            out.append(None)
    return out


def _ts_prop(session, table: str) -> str | None:
    coll = session.catalog.get(table)
    return coll.properties.get("timestamp") if coll else None


def _rewrite(session, select: str) -> tuple[str, str | None]:
    """``dialect.rewrite_select`` against this session's catalog: each
    collection's event time is its declared ``WITH (TIMESTAMP='col')``."""
    return dialect.rewrite_select(select, lambda t: _ts_prop(session, t))


def _watermark_column(df: DataFrame) -> str | None:
    """The column ``withWatermark`` marks as the frame's event time."""
    return next((f.name for f in df.schema.fields
                 if "spark.watermarkDelayMs" in f.metadata), None)


def select_over(select: str, /, **frames: DataFrame) -> DataFrame:
    """Compile a KSQL SELECT over the given DataFrames, batch or
    streaming, each bound to the relation named by its (lowercase)
    keyword.

    The dialect rewrites the SELECT as for a view; ``PARTITION BY`` is
    dropped, since it only selects a sink key. Each relation becomes a
    ``spark.sql`` formatter placeholder, aliased to its own name when
    the SELECT gives it none, so qualified references (``name.col``,
    ``name.__offset``) still resolve; the formatter drops the views it
    registers once the plan is analyzed. A frame's event time is the
    column its watermark marks, the streaming form of ``WITH
    (TIMESTAMP='col')``, so ``WINDOW`` and ``JOIN ... WITHIN`` compile
    over watermarked streams with nothing else to declare.
    """
    sql, _ = dialect.rewrite_select(
        select, lambda t: _watermark_column(frames[t]) if t in frames else None)

    def bind(m: re.Match) -> str:
        keyword, name, alias = m.groups()
        if name.lower() not in frames:
            return m.group(0)
        return f"{keyword} {{{name.lower()}}} {alias or name.lower()}"

    sql = dialect.RELATION.sub(bind, sql.replace("{", "{{").replace("}", "}}"))
    return next(iter(frames.values())).sparkSession.sql(sql, **frames)


def _key_column(select: str, expr: str) -> str:
    """The column a GROUP BY expression keys its table by: a column's
    unqualified name (``p.id`` → ``id``, which ``print_topic`` resolves
    against the view), and a computed key's alias where the SELECT
    projects the same expression (``SUBSTRING(id, 1, 1) AS head`` →
    ``head``)."""
    items = re.match(r"\s*SELECT\s+(.*?)\s+FROM\s", select, re.I | re.S)
    if items and not re.fullmatch(r"[A-Za-z_][\w.]*", expr):
        norm = lambda e: re.sub(r"\s+", "", e).lower()  # noqa: E731
        for item in dialect.split_top_level(items.group(1)):
            m = re.match(r"(.+?)\s+(?:AS\s+)?([A-Za-z_]\w*)$", item, re.I | re.S)
            if m and norm(m.group(1)) == norm(expr):
                return m.group(2).lower()
    return expr.split(".")[-1].lower()


def _create_as_select(session, create: dialect.Create) -> Collection:
    kind, name, props = create.kind, create.name, create.props
    sql, partition_by = _rewrite(session, create.select)
    # A non-aggregated CSAS writes a real topic, so its records carry
    # their own offsets; downstream LATEST_BY_OFFSET over the derived
    # stream (all.sql:136-137 reads match_event_player) needs them.
    # At the reference's PARTITIONS=1 the sink offsets follow source
    # arrival order — propagate the source's __offset. (Single-relation
    # CSAS only: with a join the unqualified column would be ambiguous,
    # and the reference never joins in a CSAS.)
    if (kind == "STREAM"
            and not re.search(r"\bGROUP\s+BY\b", sql, re.I)
            and not re.search(r"\bJOIN\b", sql, re.I)
            and "__offset" not in sql):
        sql = re.sub(r"^(\s*SELECT\s+)(.*?)(\s+FROM\s)",
                     lambda m: m.group(1) + m.group(2) + ", __offset" + m.group(3),
                     sql, count=1, flags=re.I | re.S)
    session.spark.sql(f"CREATE OR REPLACE TEMP VIEW {name} AS {sql}")
    key_cols: tuple[str, ...]
    if partition_by:
        key_cols = (partition_by.split(".")[-1].lower(),)
    elif kind == "TABLE":
        # ksqlDB keys a table by its GROUP BY expressions, a windowed one
        # also by its window: the bounds the SELECT projects. Both are read
        # from the SELECT as written, since the rewrite puts
        # window(ts, ...) into GROUP BY.
        gb = re.search(r"\bGROUP\s+BY\s+(.+?)(?:\s+HAVING\b.*)?$",
                       dialect.strip_emit_changes(create.select), re.I | re.S)
        exprs = dialect.split_top_level(gb.group(1)) if gb else []
        key = [_key_column(create.select, e) for e in exprs]
        key += [(m.group(2) or m.group(1)).lower() for m in re.finditer(
            r"\bWINDOW(START|END)\b(?:\s+(?:AS\s+)?(?!FROM\b)(\w+))?", create.select, re.I)]
        key_cols = tuple(key)
    else:
        key_cols = ()
    coll = Collection(
        name=name, kind=kind, key_cols=key_cols,
        value_format=props.get("value_format", "JSON").upper(),
        partitions=int(props.get("partitions", Collection.partitions)),
        topic=props.get("kafka_topic", name),
        properties={**props, "query": sql},
    )
    session.catalog[name] = coll
    session.topics.setdefault(coll.topic, [])
    return coll


def _show(session, stmt: str) -> list[str]:
    what = stmt.split()[1].rstrip(";").upper()
    if what == "TOPICS":
        return sorted(session.topics)
    if what == "STREAMS":
        return session.show_streams()
    if what == "TABLES":
        return session.show_tables()
    if what == "CONNECTORS":
        return sorted(session.connectors)
    if what == "QUERIES":
        return session.show_queries()
    raise ValueError(f"unsupported SHOW: {stmt!r}")


def _describe(session, stmt: str) -> list[str]:
    """``DESCRIBE [EXTENDED] name;`` — the ksqlDB field/type listing
    (ksqlDB CLI's DESCRIBE output table), EXTENDED adding the
    collection metadata block (kind, key, format, topic, partitions,
    running queries against it)."""
    m = re.match(r"DESCRIBE\s+(EXTENDED\s+)?(\w+)\s*;?\s*$", stmt, re.I)
    if not m:
        raise ValueError(f"unsupported DESCRIBE: {stmt!r}")
    extended, name = bool(m.group(1)), m.group(2).lower()
    if name not in session.catalog:
        raise ValueError(f"unknown stream/table: {name}")
    coll = session.catalog[name]
    fields = [
        f"{f.name.upper()} | {f.dataType.simpleString().upper()}"
        + (" (key)" if f.name in coll.key_cols else "")
        for f in session.spark.table(name).schema.fields
    ]
    if not extended:
        return fields
    queries = [
        q for q in session.persistent_queries
        if q == name or q.endswith(name)
    ]
    meta = [
        f"Name: {coll.name.upper()}",
        f"Type: {coll.kind}",
        f"Key columns: {', '.join(c.upper() for c in coll.key_cols) or '-'}",
        f"Value format: {coll.value_format}",
        f"Kafka topic: {coll.topic or '-'} (partitions: {coll.partitions})",
        f"Queries that write from this {coll.kind}: "
        + (', '.join(queries) or '-'),
    ]
    return meta + fields


def _explain(session, stmt: str) -> str:
    """``EXPLAIN <select>;`` — the optimized/physical plan for a push
    or pull query (ksqlDB's EXPLAIN analog, rendered as Spark's
    formatted plan, which is this engine's execution plan)."""
    body = re.sub(r"^EXPLAIN\s+", "", stmt.strip(), flags=re.I)
    if not re.match(r"SELECT\b", body, re.I):
        raise ValueError(f"EXPLAIN expects a SELECT, got: {body[:60]!r}")
    df = session.spark.sql(_rewrite(session, body)[0])
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def print_topic(session, name: str) -> DataFrame:
    """Render a collection in the sink wire layout: (key, value) JSON —
    the console-consumer analog (`README.md:333-351`, `461-464`).

    Key columns resolve from the catalog: by exact name, or else by a
    unique suffix match against the view's columns (a grouped ``p.id``
    projected as ``player_id``). A key that neither resolves raises
    ``ValueError`` rather than keying records by another column.
    """
    coll = session.catalog[name]
    df = session.spark.table(name)
    columns = [c for c in df.columns if c != "__offset"]
    resolved = []
    for k in coll.key_cols:
        cand = [k] if k in columns else [
            c for c in columns if c.endswith(k) or k.endswith(c)]
        if len(cand) != 1:
            raise ValueError(f"{name}: cannot resolve key column {k!r} "
                             f"among the view's columns {columns}")
        resolved.append(cand[0])
    value_cols = [c for c in columns if c not in resolved]
    return encode_kv(df.select(*columns), resolved, value_cols)
