"""KSQL → Spark SQL dialect rewriting (text level).

Covers exactly the language surface the reference exercises
(/root/reference/files/ksqldb-cli/all.sql, README.md):

- ``EMIT CHANGES`` — push-query marker; stripped (continuous execution
  is the streaming layer's job, the relational semantics are identical).
- ``UCASE``/``LCASE`` → ``upper``/``lower`` (README.md:131).
- ``LATEST_BY_OFFSET(x)`` → ``max_by(x, __offset)`` over the engine's
  offset pseudo-column (all.sql:136-137).
- ``COUNT_DISTINCT(x)`` → ``CAST(size(collect_set(x)) AS BIGINT)``
  (all.sql:115,150): one aggregation, where ``count(DISTINCT x)``
  plans a two-level distinct aggregation, and one Spark supports under
  streaming update mode, so the same compiled ``player_stats`` runs as
  a batch view and as a stream (``engine.select_over``).
- ``TOKENS(x)`` → ``split(lower(trim(x)), TOKEN_SEP)``: the engine's
  whitespace tokenizer, the SQL twin of ``operators.text.tokens``, with
  the pattern taken from the same constant.
- The portable hashes of ``functions.hashes``, each its one Spark form:
  ``ID_HASH(x, m)`` (an id into [0, m)), ``AB_ARM(x)`` (a user's A/B
  arm), ``TOKEN_HASH(x)`` (the 62-bit string fold), ``KMV_MIX(h)`` (its
  finishing mix) and ``HLL_HASH(x)`` (the HyperLogLog hash of an
  integer item, folded into the ring first). Their DuckDB twins write
  the oracles, so a script query and its oracle hash alike.
- ``PARTITION BY col`` (CSAS re-key, all.sql:50) — extracted, not
  translated: in Spark it is sink key selection, not a plan node.

No general SQL parser: statements are split respecting quotes, classed
by leading keyword, and rewritten with targeted regexes. Everything
else IS Spark SQL already (the exercised KSQL surface is ANSI-ish).
"""

from __future__ import annotations

import re
from typing import NamedTuple

from ksql_query_tutorial_spark.functions import hashes
from ksql_query_tutorial_spark.operators.text import TOKEN_SEP

# KSQL type → Spark SQL type (SURVEY.md §1.4)
TYPE_MAP = {
    "VARCHAR": "STRING",
    "STRING": "STRING",
    "BOOLEAN": "BOOLEAN",
    "INT": "INT",
    "INTEGER": "INT",
    "BIGINT": "BIGINT",
    "DOUBLE": "DOUBLE",
    "TIMESTAMP": "TIMESTAMP",
}


def split_statements(text: str) -> list[str]:
    """Split a KSQL script into statements on ';', respecting single
    quotes; drops ``--`` comment lines."""
    lines = []
    for line in text.splitlines():
        stripped = line.strip()
        if stripped.startswith("--"):
            continue
        lines.append(line)
    text = "\n".join(lines)
    out, buf, in_q = [], [], False
    for ch in text:
        if ch == "'":
            in_q = not in_q
        if ch == ";" and not in_q:
            stmt = "".join(buf).strip()
            if stmt:
                out.append(stmt)
            buf = []
        else:
            buf.append(ch)
    tail = "".join(buf).strip()
    if tail:
        out.append(tail)
    return out


def strip_emit_changes(sql: str) -> str:
    return re.sub(r"\bEMIT\s+CHANGES\b", "", sql, flags=re.I).strip()


# A FROM or JOIN relation and its optional alias; a clause word after
# the name is never its alias. The one pattern for every rewrite that
# finds relations: LATEST_BY_OFFSET's offset, the WITHIN join sides and
# engine.select_over's frame bindings.
_CLAUSE_WORD = (r"(?:ON|USING|WHERE|GROUP|HAVING|ORDER|LIMIT|UNION|WINDOW|PARTITION"
                r"|EMIT|WITHIN|PIVOT|LATERAL|NATURAL|INNER|LEFT|RIGHT|FULL|CROSS|JOIN)\b")
_NAME_ALIAS = rf"\s+([A-Za-z_]\w*)(?:\s+(?:AS\s+)?(?!{_CLAUSE_WORD})([A-Za-z_]\w*))?"
RELATION = re.compile(rf"\b(FROM|JOIN){_NAME_ALIAS}", re.I)


def _from_relation(sql: str) -> re.Match | None:
    """The first FROM-clause relation: (keyword, name, alias)."""
    return next((m for m in RELATION.finditer(sql) if m.group(1).upper() == "FROM"), None)


def _from_alias(sql: str) -> str | None:
    """Alias (or name) of the first FROM-clause relation — the stream
    side in the reference's stream⋈table joins (ksqlDB puts the stream
    first). Its offsets drive LATEST_BY_OFFSET: the aggregation's input
    order follows stream arrival."""
    m = _from_relation(sql)
    return (m.group(3) or m.group(2)) if m else None


_COUNT_DISTINCT = re.compile(r"\bCOUNT_DISTINCT\s*\(", re.I)
_TOKENS = re.compile(r"\bTOKENS\s*\(", re.I)


def _depths(text: str, depth: int = 0):
    """``(index, char, depth)`` for each character of ``text`` outside
    single-quoted strings; ``depth`` is the parenthesis depth after the
    character, counted from ``depth``."""
    in_q = False
    for i, ch in enumerate(text):
        if ch == "'":
            in_q = not in_q
        elif not in_q:
            depth += {"(": 1, ")": -1}.get(ch, 0)
            yield i, ch, depth


def split_top_level(text: str) -> list[str]:
    """Split ``text`` at the commas outside parentheses and quoted
    strings: ``SUBSTRING(id, 1, 1), k`` → ``['SUBSTRING(id, 1, 1)', 'k']``."""
    cuts = [i for i, ch, depth in _depths(text) if ch == "," and depth == 0]
    return [text[a + 1:b].strip() for a, b in zip([-1] + cuts, cuts + [len(text)])]


def _rewrite_call(sql: str, call: re.Pattern, render) -> str:
    """Replace each ``NAME(arg)`` that ``call`` finds (the pattern ends
    at the opening parenthesis) with ``render(arg)``. The argument ends
    at the balanced closing parenthesis, quoted strings skipped, so it
    may itself call functions: ``COUNT_DISTINCT(f(x) + 1)``."""
    out, pos = [], 0
    while (m := call.search(sql, pos)):
        arg = sql[m.end():]
        end = next((i for i, _, depth in _depths(arg, 1) if depth == 0), None)
        if end is None:
            raise ValueError(f"unbalanced parentheses in {sql[m.start():][:60]!r}")
        out.append(f"{sql[pos:m.start()]}{render(arg[:end])}")
        pos = m.end() + end + 1
    return "".join(out) + sql[pos:]


# Spark SQL string literals unescape backslashes, so the pattern's are doubled.
_TOKEN_SEP_LITERAL = "'" + TOKEN_SEP.replace("\\", "\\\\") + "'"

# Each hash spelling and its Spark form, called with the spelling's
# arguments. No form's text holds a spelling, so the order is free and
# a nested call, KMV_MIX(TOKEN_HASH(x)), rewrites from either end.
HASH_SPELLINGS = {
    "ID_HASH": hashes.id_hash,
    "AB_ARM": hashes.ab_arm,
    "TOKEN_HASH": hashes.token_hash,
    "KMV_MIX": hashes.kmv_mix,
    "HLL_HASH": lambda x: hashes.hll_hash(hashes.hll_fold(x)),
}
_HASH_CALLS = {re.compile(rf"\b{name}\s*\(", re.I): form
               for name, form in HASH_SPELLINGS.items()}


def rewrite_functions(sql: str) -> str:
    sql = re.sub(r"\bUCASE\s*\(", "upper(", sql, flags=re.I)
    sql = re.sub(r"\bLCASE\s*\(", "lower(", sql, flags=re.I)
    alias = _from_alias(sql)
    offset_ref = f"{alias}.__offset" if alias else "__offset"
    sql = re.sub(r"\bLATEST_BY_OFFSET\s*\(\s*([^)]+?)\s*\)",
                 rf"max_by(\1, {offset_ref})", sql, flags=re.I)
    # COUNT_DISTINCT(x): beside other aggregates, count(DISTINCT x) plans
    # a two-level distinct aggregation over two extra shuffles;
    # collect_set is one object-hash aggregation with the rest. Both
    # skip NULLs, and the cast keeps ksqlDB's BIGINT type.
    sql = _rewrite_call(sql, _COUNT_DISTINCT,
                        lambda x: f"CAST(size(collect_set({x})) AS BIGINT)")
    sql = _rewrite_call(sql, _TOKENS,
                        lambda x: f"split(lower(trim({x})), {_TOKEN_SEP_LITERAL})")
    for call, form in _HASH_CALLS.items():
        sql = _rewrite_call(sql, call, lambda args, form=form: form(*split_top_level(args)))
    sql = re.sub(r"\bEARLIEST_BY_OFFSET\s*\(\s*([^)]+?)\s*\)",
                 rf"min_by(\1, {offset_ref})", sql, flags=re.I)
    sql = re.sub(r"\bLEN\s*\(", "length(", sql, flags=re.I)
    sql = re.sub(r"\bARRAYCONTAINS\s*\(", "array_contains(", sql, flags=re.I)
    # TOPK(col, k): ksqlDB's per-group top-k VALUES array. Spark twin:
    # gather, sort desc, slice k. (TOPKDISTINCT would add array_distinct
    # before the sort.)
    sql = re.sub(
        r"\bTOPK\s*\(\s*([^,()]+?)\s*,\s*(\d+)\s*\)",
        r"slice(sort_array(collect_list(\1), false), 1, \2)",
        sql, flags=re.I,
    )
    # MASK(col): ksqlDB data masking — uppercase→X, lowercase→x,
    # digit→n, every other char→'-' (ksqlDB 0.15 defaults). The three
    # mask outputs (X/x/n) are excluded from the final catch-all class,
    # so ordering is safe.
    sql = re.sub(
        r"\bMASK\s*\(\s*([^()]+?)\s*\)",
        r"regexp_replace(regexp_replace(regexp_replace(regexp_replace("
        r"\1, '[A-Z]', 'X'), '[a-z]', 'x'), '[0-9]', 'n'), '[^Xxn]', '-')",
        sql, flags=re.I,
    )
    return sql


_PARTITION_BY = re.compile(r"\bPARTITION\s+BY\s+([A-Za-z_][\w.]*)\s*", re.I)


def extract_partition_by(sql: str) -> tuple[str, str | None]:
    """Pull a trailing ``PARTITION BY col`` out of a CSAS select (the
    re-key is sink key selection in Spark, SURVEY.md §1.5). Only a
    clause outside parentheses is the re-key: a window's ``PARTITION
    BY`` sits inside its ``OVER (...)`` and stays."""
    for m in _PARTITION_BY.finditer(sql):
        depth = 0
        for _, _, depth in _depths(sql[: m.start()]):
            pass
        if depth == 0:
            return (sql[: m.start()] + sql[m.end():]).strip(), m.group(1)
    return sql, None


_WINDOW_CLAUSE = re.compile(
    r"\bWINDOW\s+(TUMBLING|HOPPING|SESSION)\s*\(([^)]*)\)", re.I
)


def _window_interval(args: str, key: str) -> str | None:
    m = re.search(rf"{key}\s+(\d+)\s+([A-Za-z]+)", args, re.I)
    return f"{m.group(1)} {m.group(2).lower()}" if m else None


def rewrite_window(sql: str, ts_col: str | None) -> str:
    """ksqlDB windowed aggregation → Spark window functions:

    - ``WINDOW TUMBLING (SIZE n U)``   → ``window(ts, 'n u')``
    - ``WINDOW HOPPING (SIZE n U, ADVANCE BY m U)``
                                       → ``window(ts, 'n u', 'm u')``
    - ``WINDOW SESSION (n U)`` / ``(SIZE n U)``
                                       → ``session_window(ts, 'n u')``

    The window expression is appended to GROUP BY, and the ksqlDB
    pseudo-columns ``WINDOWSTART``/``WINDOWEND`` rewrite to the Spark
    window struct fields. ``ts_col`` is the collection's declared
    event-time column (``WITH (TIMESTAMP='col')``, or the watermark
    column of a stream under ``engine.select_over``) — ksqlDB's implicit
    ROWTIME has no Spark analog for a re-playable batch view, so one is
    required for windowed queries.
    """
    m = _WINDOW_CLAUSE.search(sql)
    if not m:
        return sql
    if not ts_col:
        raise ValueError(
            "windowed query needs an event-time column: declare the source "
            "WITH (TIMESTAMP='<col>'), or give its stream a watermark"
        )
    wtype, args = m.group(1).upper(), m.group(2)
    size = _window_interval(args, r"SIZE") or _window_interval(args, r"^")
    if size is None:
        # SESSION commonly omits the SIZE keyword: WINDOW SESSION (30 SECONDS)
        m2 = re.match(r"\s*(\d+)\s+([A-Za-z]+)", args)
        size = f"{m2.group(1)} {m2.group(2).lower()}" if m2 else None
    if size is None:
        raise ValueError(f"cannot parse window size from {args!r}")
    if wtype == "TUMBLING":
        wexpr, wname = f"window({ts_col}, '{size}')", "window"
    elif wtype == "HOPPING":
        adv = _window_interval(args, r"ADVANCE\s+BY")
        if adv is None:
            raise ValueError("HOPPING window needs ADVANCE BY")
        wexpr, wname = f"window({ts_col}, '{size}', '{adv}')", "window"
    else:
        wexpr, wname = f"session_window({ts_col}, '{size}')", "session_window"
    sql = (sql[: m.start()] + " " + sql[m.end():])
    sql = re.sub(r"\bWINDOWSTART\b", f"{wname}.start", sql, flags=re.I)
    sql = re.sub(r"\bWINDOWEND\b", f"{wname}.end", sql, flags=re.I)
    gb = re.search(r"\bGROUP\s+BY\s+", sql, re.I)
    if not gb:
        raise ValueError("windowed query requires GROUP BY")
    return sql[: gb.end()] + wexpr + ", " + sql[gb.end():]


def rewrite_select(sql: str, ts_of) -> tuple[str, str | None]:
    """Full select rewrite: returns (spark_sql, partition_by_col).
    ``ts_of(collection_name)`` is a collection's event-time column or
    None: the FROM collection's drives a WINDOW clause, and each side's
    a ``JOIN ... WITHIN``."""
    sql = strip_emit_changes(sql)
    sql, part = extract_partition_by(sql)
    tbl = from_table(sql)
    sql = rewrite_window(sql, ts_of(tbl) if tbl else None)
    sql = rewrite_within(sql, ts_of)
    return rewrite_functions(sql), part


def from_table(sql: str) -> str | None:
    """The (first) FROM collection name, lowercased."""
    m = _from_relation(sql)
    return m.group(2).lower() if m else None


_COLDEF = re.compile(
    r"\s*(?P<name>[A-Za-z_]\w*)\s+(?P<type>[A-Za-z]+)(?:\s*\(\s*\d+\s*\))?"
    r"(?P<key>\s+PRIMARY\s+KEY|\s+KEY)?\s*$",
    re.I,
)


_CREATE = re.compile(
    r"CREATE\s+(TABLE|STREAM)\s+(?:IF\s+NOT\s+EXISTS\s+)?(\w+)\s*"
    r"(?:\((?P<defs>.*?)\)\s*)?(?:WITH\s*\((?P<props>.*?)\)\s*)?(?:AS\s+(?P<select>(?:WITH|SELECT)\b.*))?$",
    re.I | re.S,
)


class Create(NamedTuple):
    kind: str                # TABLE or STREAM
    name: str                # lowercased
    defs: str                # the column definitions of a source collection
    props: dict[str, str]    # the WITH properties
    select: str | None       # the query of a CSAS/CTAS: a SELECT, or WITH ... SELECT


def parse_create(stmt: str) -> Create | None:
    """``CREATE TABLE|STREAM name [(defs)] [WITH (props)] [AS SELECT ...]``
    → its parts; None for any other statement."""
    m = _CREATE.match(stmt)
    if not m:
        return None
    return Create(m.group(1).upper(), m.group(2).lower(), m.group("defs") or "",
                  parse_with_props(m.group("props") or ""), m.group("select"))


def create_selects(script: str) -> dict[str, str]:
    """The SELECT of each CSAS/CTAS in a KSQL script, by collection name. A
    statement that opens with CREATE but does not parse raises, so that no
    query of a script is dropped unseen."""
    out = {}
    for stmt in split_statements(script):
        c = parse_create(stmt)
        if c is None and re.match(r"CREATE\b", stmt, re.I):
            raise ValueError(f"cannot parse CREATE statement: {stmt[:80]!r}")
        if c and c.select:
            out[c.name] = c.select
    return out


def parse_column_defs(defs: str) -> tuple[list[tuple[str, str]], list[str], str]:
    """Parse ``(id VARCHAR PRIMARY KEY, name VARCHAR(50), home BOOLEAN)``
    → (columns [(name, spark_type)], key_cols, key_kind)."""
    cols: list[tuple[str, str]] = []
    key_cols: list[str] = []
    key_kind = ""
    for part in defs.split(","):
        m = _COLDEF.match(part)
        if not m:
            raise ValueError(f"cannot parse column definition: {part!r}")
        name = m.group("name").lower()
        ktype = m.group("type").upper()
        if ktype not in TYPE_MAP:
            raise ValueError(f"unsupported KSQL type {ktype!r} in {part!r}")
        cols.append((name, TYPE_MAP[ktype]))
        if m.group("key"):
            key_cols.append(name)
            key_kind = m.group("key").strip().upper()
    return cols, key_cols, key_kind


def parse_with_props(props: str) -> dict[str, str]:
    """Parse ``WITH (KAFKA_TOPIC = 'players', PARTITIONS = 1, ...)``.

    Keys may be bare identifiers (collection DDL) or quoted strings
    (connector DDL, ``'table.whitelist' = 'players'``, all.sql:3-18);
    values may be quoted strings, numbers, or bare booleans
    (``'schemas.enable' = false``, all.sql:17).
    """
    out: dict[str, str] = {}
    pat = r"(?:'([^']+)'|([A-Za-z_.]+))\s*=\s*(?:'([^']*)'|(\d+)|(true|false))"
    for m in re.finditer(pat, props, re.I):
        key = (m.group(1) or m.group(2)).lower()
        out[key] = next(g for g in (m.group(3), m.group(4), m.group(5)) if g is not None)
    return out


_WITHIN_CLAUSE = re.compile(
    rf"\bJOIN{_NAME_ALIAS}\s+WITHIN\s+(\d+)\s+([A-Za-z]+)\s+ON\b", re.I)


def rewrite_within(sql: str, ts_of) -> str:
    """ksqlDB windowed stream–stream join syntax → an explicit
    time-range join condition (SURVEY §2.4 / README.md:356-360):

    ``a JOIN b WITHIN n U ON a.k = b.k`` becomes the same equi-join
    with ``b.ts BETWEEN a.ts - INTERVAL n U AND a.ts + INTERVAL n U``
    appended. Under ``engine.select_over`` over watermarked streams the
    same compiled condition is the stream–stream join's state-eviction
    bound, so the batch view and the stream are one plan.
    ``ts_of(collection_name)`` resolves each side's event-time column
    (``WITH (TIMESTAMP='col')``, or a stream's watermark column); both
    sides must have one.
    """
    m = _WITHIN_CLAUSE.search(sql)
    if not m:
        return sql
    rtbl, ralias, n, unit = m.group(1), m.group(2), m.group(3), m.group(4)
    lm = _from_relation(sql)
    if not lm:
        raise ValueError("WITHIN join needs a FROM relation")
    ltbl, lalias = lm.group(2), lm.group(3)
    lts = ts_of(ltbl.lower())
    rts = ts_of(rtbl.lower())
    if not lts or not rts:
        raise ValueError(
            "WITHIN join needs event-time on BOTH sides: declare each "
            "source WITH (TIMESTAMP='<col>'), or give each stream a watermark"
        )
    lref = f"{lalias or ltbl}.{lts}"
    rref = f"{ralias or rtbl}.{rts}"
    iv = f"INTERVAL {n} {unit.upper()}"
    # drop the WITHIN clause, keep "JOIN <tbl> [alias] ON"
    repl = f"JOIN {rtbl}{' ' + ralias if ralias else ''} ON"
    sql = sql[: m.start()] + repl + sql[m.end():]
    # append the range bound to the ON condition (up to the next clause)
    end = re.search(r"\b(WHERE|GROUP\s+BY|PARTITION\s+BY|EMIT|$)",
                    sql[m.start():], re.I)
    ins = m.start() + (end.start() if end else len(sql) - m.start())
    bound = (f" AND {rref} >= {lref} - {iv}"
             f" AND {rref} <= {lref} + {iv} ")
    return sql[:ins] + bound + sql[ins:]
