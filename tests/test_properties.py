"""Property-based checks (SURVEY.md §5.3): stream/batch unification and
operator invariants over RANDOM inputs, not just the tutorial fixture.

Hypothesis drives the row generation; Spark jobs are slow, so examples
are capped tightly and deadlines disabled.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ksql_query_tutorial_spark.operators.upsert import latest_by_key
from ksql_query_tutorial_spark.streaming import replay as R
from tests.conftest import script_query

# Multi-minute sweep: excluded from the driver-facing default run
# (pytest.ini addopts); run with -m slow / -m "".
import pytest

pytestmark = pytest.mark.slow

EVENT = st.fixed_dictionaries(
    {
        "id": st.sampled_from(["1", "2", "3"]),
        "event_type": st.sampled_from(["GOAL", "ASSIST"]),
        "player_id": st.sampled_from(["1", "2", "3", "4"]),
        "home": st.booleans(),
    }
)

SCHEMA = T.StructType([
    T.StructField("offset", T.LongType(), False),
    T.StructField("id", T.StringType(), True),
    T.StructField("event_type", T.StringType(), True),
    T.StructField("player_id", T.StringType(), True),
    T.StructField("home", T.BooleanType(), True),
])


def with_offsets(rows):
    return [dict(r, offset=i) for i, r in enumerate(rows)]


def tombstone_state(spark, rows):
    """events_tombstone_state over the rows as an events stream: the
    offset is both event_id and __offset, and a GOAL is the tombstone
    ('error'). Returns {id: (event_type, offset)} of the live keys."""
    df = spark.createDataFrame(
        [tuple(r[f.name] for f in SCHEMA.fields) for r in rows], SCHEMA
    ).selectExpr(
        "CAST(id AS BIGINT) AS user_id", "offset AS event_id",
        "CASE WHEN event_type = 'GOAL' THEN 'error' ELSE event_type END AS event_type",
        "0.0D AS value", "offset AS __offset",
    )
    return {str(r.user_id): (r.event_type, r.event_id)
            for r in script_query("events_tombstone_state", events=df).collect()}


def agg_goals(df):
    is_goal = F.col("event_type") == "GOAL"
    return df.groupBy("id").agg(
        F.sum(F.when(is_goal & F.col("home"), 1).otherwise(0)).alias("home_goals"),
        F.sum(F.when(is_goal & ~F.col("home"), 1).otherwise(0)).alias("away_goals"),
        F.max_by("player_id", "offset").alias("latest_player"),
    )


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(EVENT, min_size=1, max_size=12))
def test_stream_final_state_equals_batch(spark, rows):
    """For ANY insert sequence, replaying through micro-batches yields
    the same final state as the batch plan — Spark's unification
    guarantee, which the whole dual-mode engine design leans on."""
    rows = with_offsets(rows)
    batch_df = spark.createDataFrame(
        [tuple(r[f.name] for f in SCHEMA.fields) for r in rows], SCHEMA
    )
    want = {r.id: (r.home_goals, r.away_goals, r.latest_player)
            for r in agg_goals(batch_df).collect()}
    q = R.replay(spark, rows, SCHEMA, agg_goals, name="prop",
                 output_mode="update", with_batch_id=True, chunk_size=4)
    got = {}
    for _, r in q.emissions:
        got[r.id] = (r.home_goals, r.away_goals, r.latest_player)
    assert got == want


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(EVENT, min_size=1, max_size=20))
def test_upsert_is_last_write_wins(spark, rows):
    """latest_by_key == the naive Python fold over the same sequence."""
    rows = with_offsets(rows)
    df = spark.createDataFrame(
        [tuple(r[f.name] for f in SCHEMA.fields) for r in rows], SCHEMA
    )
    state = latest_by_key(df, ["id"], "offset")
    got = {r.id: (r.event_type, r.player_id, r.home) for r in state.collect()}
    want = {}
    for r in rows:  # fold in offset order: last write wins
        want[r["id"]] = (r["event_type"], r["player_id"], r["home"])
    assert got == want


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.text(alphabet="ab ", min_size=0, max_size=30), min_size=1,
                max_size=15))
def test_exact_dedup_partitions_the_corpus(spark, texts):
    """exact_duplicates: keepers are distinct, counts sum to corpus
    size, and every duplicate group collapses to its min id."""
    from ksql_query_tutorial_spark.operators.dedup import exact_duplicates

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = exact_duplicates(df, "doc_id").collect()
    assert sum(r.dup_count for r in out) == len(texts)
    keepers = [r.keeper_id for r in out]
    assert len(keepers) == len(set(keepers))
    # group by normalized text in Python and compare keepers
    import re

    norm = {}
    for i, t in enumerate(texts):
        key = re.sub(r"\s+", " ", t.strip().lower())
        norm.setdefault(key, []).append(i)
    assert sorted(keepers) == sorted(min(v) for v in norm.values())

ASOF_LEFT = st.lists(
    st.tuples(st.sampled_from(["u", "v", "w"]), st.integers(0, 50)),
    min_size=1, max_size=12,
)
ASOF_RIGHT = st.lists(
    st.tuples(st.sampled_from(["u", "v", "w"]), st.integers(0, 50)),
    min_size=0, max_size=12,
)


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(left=ASOF_LEFT, right=ASOF_RIGHT)
def test_asof_join_matches_reference_semantics(spark, left, right):
    """asof_join == per-row argmax over eligible right rows, for random
    keys/timestamps including duplicate timestamps on both sides."""
    import datetime as dt

    from ksql_query_tutorial_spark.operators.asof import asof_join

    base = dt.datetime(2024, 1, 1)
    lrows = [(i, k, base + dt.timedelta(seconds=s)) for i, (k, s) in enumerate(left)]
    rrows = [(100 + i, k, base + dt.timedelta(seconds=s))
             for i, (k, s) in enumerate(right)]
    ldf = spark.createDataFrame(lrows, "lid long, k string, ts timestamp")
    rdf = spark.createDataFrame(rrows, "rid long, k string, ts timestamp")
    got = {
        r.lid: r.rid
        for r in asof_join(ldf, rdf, "ts", ["k"], order_col="rid").collect()
    }
    want = {}
    for lid, lk, lts in lrows:
        elig = [(rts, rid) for rid, rk, rts in rrows if rk == lk and rts <= lts]
        want[lid] = max(elig)[1] if elig else None
    assert got == want


RANGE_SIDE = st.lists(
    st.tuples(st.sampled_from(["u", "v"]), st.integers(0, 40)),
    min_size=0, max_size=10,
)


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(left=RANGE_SIDE, right=RANGE_SIDE)
def test_range_join_matches_reference_semantics(spark, left, right):
    """Bucketized range join == the naive quadratic reference, for random
    keys/points and a window that exercises bucket boundaries."""
    from ksql_query_tutorial_spark.operators.rangejoin import range_join

    lo, hi = -7.0, 3.0
    lrows = [(i, k, float(p)) for i, (k, p) in enumerate(left)]
    rrows = [(100 + i, k, float(p)) for i, (k, p) in enumerate(right)]
    ldf = spark.createDataFrame(lrows, "lid long, k string, p double") \
        if lrows else spark.createDataFrame([], "lid long, k string, p double")
    rdf = spark.createDataFrame(rrows, "rid long, k string, rp double") \
        if rrows else spark.createDataFrame([], "rid long, k string, rp double")

    got = {(r.lid, r.rid)
           for r in range_join(ldf, rdf, ["k"], "p", "rp", lo, hi).collect()}
    want = {(lid, rid)
            for lid, lk, lp in lrows
            for rid, rk, rp in rrows
            if rk == lk and lp + lo <= rp <= lp + hi}
    assert got == want


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.integers(min_value=0, max_value=10**12),
                min_size=1, max_size=60, unique=True))
def test_shuffle_positions_is_rank_of_portable_hash(spark, ids):
    """For ANY set of non-negative ids, shuffle_pos is exactly the
    0-based rank under (hashes.id_hash(id), id) — computed independently
    in Python here — and is a permutation of [0, n)."""
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {r["doc_id"]: r["shuffle_pos"]
           for r in script_query("corpus_shuffle", documents=df).collect()}
    key = lambda i: ((i % 1048573) * 2654435761 % 1000000, i)
    want = {i: rank for rank, i in enumerate(sorted(ids, key=key))}
    assert got == want


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.integers(min_value=0, max_value=10**12),
                min_size=1, max_size=60, unique=True))
def test_split_assign_matches_portable_hash_thresholds(spark, ids):
    df = spark.createDataFrame([(i, "en") for i in ids], "doc_id long, lang string")
    got = {r["doc_id"]: r["split"] for r in script_query("corpus_split", documents=df).collect()}
    for i in ids:
        u = (i % 1048573) * 2654435761 % 1000000
        want = "train" if u < 900000 else ("valid" if u < 950000 else "test")
        assert got[i] == want, (i, u)


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(
    st.tuples(st.integers(min_value=1, max_value=4),
              st.integers(min_value=0, max_value=20),
              st.sampled_from(["view", "click", "purchase", "error"])),
    min_size=1, max_size=40))
def test_funnel_matches_python_reference(spark, events):
    """Funnel semantics vs an independent per-user Python fold over
    ANY event sequence (including ties and out-of-order steps)."""
    from datetime import datetime, timedelta

    base = datetime(2026, 1, 1)
    rows = [(u, base + timedelta(seconds=s), t) for u, s, t in events]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    got = {r["user_id"]: (r["first_view"], r["first_click"], r["first_purchase"],
                          r["funnel_depth"])
           for r in script_query("events_funnel", events=df).collect()}
    users = {u for u, _, _ in events}
    for u in users:
        evs = [(base + timedelta(seconds=s), t) for uu, s, t in events if uu == u]
        fv = min((ts for ts, t in evs if t == "view"), default=None)
        fc = min((ts for ts, t in evs if t == "click" and fv and ts > fv), default=None)
        fp = min((ts for ts, t in evs if t == "purchase" and fc and ts > fc), default=None)
        depth = (fv is not None) + (fc is not None) + (fp is not None)
        assert got[u] == (fv, fc, fp, depth), (u, got[u], (fv, fc, fp, depth))


@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.text(alphabet="ab c", min_size=0, max_size=20),
                min_size=1, max_size=12))
def test_lm_score_counts_match_python_reference(spark, texts):
    """Exact integer fields of lm_score vs an independent Python bigram
    count over ANY tiny corpus (degenerate docs included)."""
    from collections import Counter

    from ksql_query_tutorial_spark.operators import corpus

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_bigrams"], r["sum_count"], r["min_count"])
           for r in corpus.lm_score(df).collect()}

    # mirror Spark split semantics: split(lower(trim(s)), '\s+') on an
    # empty/whitespace string yields [""] -> zero bigrams either way
    def bigrams(s):
        t = s.strip().lower().split() or [""]
        return [f"{a} {b}" for a, b in zip(t, t[1:])]

    cnt = Counter(b for t in texts for b in bigrams(t))
    for i, t in enumerate(texts):
        bs = bigrams(t)
        want = (len(bs), sum(cnt[b] for b in bs), min((cnt[b] for b in bs), default=None))
        assert got[i] == want, (i, t, got[i], want)


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),        # user
        st.integers(min_value=0, max_value=5000),     # ts minutes
        st.sampled_from(["view", "click", "purchase"]),
    ),
    min_size=1, max_size=20,
))
def test_session_paths_matches_python_reference(spark, events):
    """For ANY event stream, gap sessionization + path histogram equals
    a driver-side reference with the same (ts, event_id) ordering and
    strict-> gap rule (events_top_paths: a 480-minute gap, 8 steps)."""
    from datetime import datetime, timedelta

    t0 = datetime(2026, 1, 1)
    rows = [
        (u, t0 + timedelta(minutes=s), i, et)
        for i, (u, s, et) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    got = {
        r["path"]: (r["n_sessions"], r["n_users"])
        for r in script_query("events_top_paths", events=df).collect()
    }

    gap = 480 * 60
    sessions: list[tuple[int, list[str]]] = []
    by_user: dict[int, list] = {}
    for u, ts, eid, et in sorted(rows, key=lambda r: (r[0], r[1], r[2])):
        by_user.setdefault(u, []).append((ts, eid, et))
    for u, evs in by_user.items():
        cur: list[str] = []
        prev = None
        for ts, eid, et in evs:
            if prev is not None and (ts - prev).total_seconds() > gap:
                sessions.append((u, cur))
                cur = []
            cur.append(et)
            prev = ts
        sessions.append((u, cur))
    want: dict[str, list[int]] = {}
    for u, evs in sessions:
        p = ">".join(evs[:8])
        want.setdefault(p, []).append(u)
    want_hist = {
        p: (len(us), len(set(us))) for p, us in want.items()
    }
    assert got == want_hist


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(
    st.text(alphabet="ab ", min_size=0, max_size=30),
    min_size=1, max_size=15,
))
def test_cms_overshoot_nonnegative_on_random_docs(spark, texts):
    """CMS one-sided error holds for ANY corpus, even at a tiny width
    where everything collides; totals equal the exact token count."""
    from ksql_query_tutorial_spark.operators.corpus import cms_token_counts

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = cms_token_counts(df, depth=3, width=4).collect()
    assert all(r["overshoot"] >= 0 for r in out)
    toks = [w for t in texts for w in t.lower().strip().split() if w]
    # exact counts across rows must reconstruct the corpus token count
    assert sum(r["exact_count"] for r in out) == len(toks)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(EVENT, min_size=1, max_size=20))
def test_tombstone_changelog_matches_python_fold(spark, rows):
    """events_tombstone_state == the naive last-write-wins fold with
    tombstoned keys removed, for ANY insert sequence."""
    rows = with_offsets(rows)
    got = tombstone_state(spark, rows)
    state: dict = {}
    for r in rows:
        state[r["id"]] = r
    want = {
        k: (v["event_type"], v["offset"])
        for k, v in state.items()
        if v["event_type"] != "GOAL"
    }
    assert got == want


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(EVENT, min_size=1, max_size=16))
def test_stream_upsert_with_tombstone_filter_matches_batch(spark, rows):
    """The streaming KTable upsert's FINAL state, filtered by the
    tombstone predicate, equals the batch events_tombstone_state SELECT —
    the stream/batch parity of the full changelog semantics (delete half
    included)."""
    from ksql_query_tutorial_spark.streaming.stateful import (
        upsert_table_stream,
    )

    rows = with_offsets(rows)
    q = R.replay(
        spark, rows, SCHEMA,
        lambda df: upsert_table_stream(df, ["id"], "offset"),
        name="tomb", output_mode="update", with_batch_id=True, chunk_size=3,
    )
    final: dict = {}
    for _, r in q.emissions:
        if final.get(r.id, (None, -1))[1] <= r.offset:
            final[r.id] = (r.event_type, r.offset)
    got = {k: v for k, v in final.items() if v[0] != "GOAL"}
    assert got == tombstone_state(spark, rows)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.integers(min_value=0, max_value=30), min_size=1,
                max_size=40))
def test_hopping_window_conserves_fanout(spark, hours):
    """events_hopping_window: every event lands in exactly
    window/hop = 24/6 windows, so sum(n_events) == 4 * |events|."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.createDataFrame(
        [(i % 5, f"2024-01-0{1 + h // 24} {h % 24:02d}:00:00")
         for i, h in enumerate(hours)],
        "user_id long, d string",
    ).selectExpr("user_id", "cast(d as timestamp_ntz) as ts")
    out = script_query("events_hopping_window", events=df).collect()
    assert sum(r["n_events"] for r in out) == 4 * len(hours)
    assert all(r["n_users"] <= min(5, len(hours)) for r in out)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.integers(min_value=0, max_value=9), min_size=1,
                max_size=60))
def test_key_skew_report_conserves_rows_and_shares(spark, keys):
    """key_skew_report: n_rows partitions the input and shares sum
    to 1 (exactly, after the shared rounding)."""
    from ksql_query_tutorial_spark.operators.skew import key_skew_report

    df = spark.createDataFrame([(k,) for k in keys], "k int")
    out = key_skew_report(df, "k").collect()
    assert sum(r["n_rows"] for r in out) == len(keys)
    assert abs(sum(r["rows_share"] for r in out) - 1.0) < 1e-4
    # bucket must match the bit length of every count it aggregates
    assert all(r["freq_bucket"] >= 1 for r in out)


# ---------------------------------------------------- asof direction trio

ASOF_LEFT = st.lists(
    st.tuples(st.integers(1, 3), st.integers(0, 500)),
    min_size=1, max_size=12,
)
# unique right timestamps per key (pandas breaks equal-ts ties by frame
# order, this operator by order_col — identical only without ties)
ASOF_RIGHT = st.lists(
    st.tuples(st.integers(1, 3), st.integers(0, 500)),
    min_size=1, max_size=12,
    unique_by=lambda r: (r[0], r[1]),
)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(left=ASOF_LEFT, right=ASOF_RIGHT,
       direction=st.sampled_from(["backward", "forward", "nearest"]),
       tol=st.sampled_from([None, 60.0]))
def test_asof_directions_match_pandas_merge_asof(
    spark, left, right, direction, tol
):
    """asof_join == pandas.merge_asof for every direction and
    tolerance on random tie-free inputs."""
    import pandas as pd

    ldf = spark.createDataFrame(
        [(k, i, pd.Timestamp(2024, 1, 1).value // 1000 + t * 1_000_000)
         for i, (k, t) in enumerate(left)],
        "user long, lid long, us long",
    ).select("user", "lid", F.timestamp_micros("us").alias("ts"))
    rdf = spark.createDataFrame(
        [(k, 1000 + i, pd.Timestamp(2024, 1, 1).value // 1000 + t * 1_000_000)
         for i, (k, t) in enumerate(right)],
        "user long, rid long, us long",
    ).select("user", "rid", F.timestamp_micros("us").alias("ts"))

    from ksql_query_tutorial_spark.operators.asof import asof_join

    got = {
        (r["user"], r["lid"]): r["rid"]
        for r in asof_join(
            ldf, rdf, "ts", ["user"], order_col="rid",
            direction=direction, tolerance_seconds=tol,
        ).collect()
    }

    lp = pd.DataFrame(
        [(k, i, pd.Timestamp(2024, 1, 1) + pd.Timedelta(seconds=t))
         for i, (k, t) in enumerate(left)],
        columns=["user", "lid", "ts"],
    ).sort_values(["ts", "lid"]).reset_index(drop=True)
    rp = pd.DataFrame(
        [(k, 1000 + i, pd.Timestamp(2024, 1, 1) + pd.Timedelta(seconds=t))
         for i, (k, t) in enumerate(right)],
        columns=["user", "rid", "ts"],
    ).sort_values(["ts", "rid"]).reset_index(drop=True)
    kwargs = {} if tol is None else {"tolerance": pd.Timedelta(seconds=tol)}
    exp_df = pd.merge_asof(
        lp, rp, on="ts", by="user", direction=direction, **kwargs
    )
    exp = {
        (r.user, r.lid): (None if pd.isna(r.rid) else int(r.rid))
        for r in exp_df.itertuples()
    }
    assert got == exp


# ------------------------------------------------- triangle brute force

EDGES = st.lists(
    st.tuples(st.integers(1, 12), st.integers(1, 12)),
    min_size=0, max_size=30,
)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(edges=EDGES)
def test_triangle_counts_match_brute_force(spark, edges):
    """triangle_counts == itertools brute force on random graphs
    (self-loops and duplicate/reversed edges included in the input,
    normalized by _normalized_edges)."""
    from itertools import combinations

    from ksql_query_tutorial_spark.operators.graph import (
        _normalized_edges,
        triangle_counts,
    )

    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    expected: dict[int, int] = {}
    for x, y, z in combinations(sorted({v for e in und for v in e}), 3):
        if ((x, y) in und and (x, z) in und and (y, z) in und):
            for v in (x, y, z):
                expected[v] = expected.get(v, 0) + 1

    df = _normalized_edges(spark.createDataFrame(
        edges or [(1, 1)], "id_a long, id_b long"
    )).toDF("id_a", "id_b")
    got = {r["id"]: r["n_triangles"] for r in triangle_counts(df).collect()}
    assert got == expected


# --------------------------------------------------- CUSUM reflection

SERIES = st.lists(st.integers(0, 40), min_size=2, max_size=40)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(counts=SERIES)
def test_cusum_reflection_identity_random_series(spark, counts):
    """events_cusum's reflected-walk closed form == the direct
    max(0, S+y) recursion on random hourly series."""
    import math
    from datetime import datetime, timedelta

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    t0 = datetime(2024, 7, 1)
    rows, eid = [], 0
    for hh, c in enumerate(counts):
        for _ in range(c):
            eid += 1
            rows.append((eid, t0 + timedelta(hours=hh), eid, "x", 1.0))
    if not rows:
        return
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double",
    )
    r = script_query("events_cusum", events=df).collect()[0]
    obs = [c for c in counts if c > 0]      # absent hours don't score
    n = len(obs)
    mu = sum(obs) / n
    sigma = math.sqrt(max(sum(c * c for c in obs) / n - mu * mu, 0.0))
    s, smax, alarms = 0.0, 0.0, 0
    for c in obs:
        s = max(0.0, s + (c - mu - 0.5 * sigma))
        smax = max(smax, s)
        if s > 4.0 * sigma:
            alarms += 1
    assert r["n_hours"] == n
    assert r["max_cusum"] == round(smax, 6)
    assert r["n_alarm_hours"] == alarms


# -------------------------------------------- link-prediction brute force


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(edges=EDGES)
def test_link_prediction_match_brute_force(spark, edges):
    """link_prediction == adjacency-set brute force on random
    multigraphs (self-loops, duplicates, reversed orientations in the
    input, normalized by _normalized_edges): every 2-hop pair, with exact integer CN / RA / Jaccard
    scores and the is_edge flag."""
    from itertools import combinations

    from ksql_query_tutorial_spark.operators.graph import (
        _normalized_edges,
        link_prediction,
    )

    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    nbr: dict[int, set[int]] = {}
    for a, b in und:
        nbr.setdefault(a, set()).add(b)
        nbr.setdefault(b, set()).add(a)
    expected = {}
    for x, y in combinations(sorted(nbr), 2):
        common = nbr[x] & nbr[y]
        if not common:
            continue
        cn = len(common)
        expected[(x, y)] = (
            cn,
            sum(10**12 // len(nbr[z]) for z in common),
            (10**6 * cn) // (len(nbr[x]) + len(nbr[y]) - cn),
            (x, y) in und,
        )

    df = _normalized_edges(
        spark.createDataFrame(edges or [(1, 1)], "id_a long, id_b long")
    ).toDF("id_a", "id_b")
    got = {
        (r["id_a"], r["id_b"]): (
            r["common_neighbors"], r["ra_micro"], r["jaccard_micro"],
            r["is_edge"],
        )
        for r in link_prediction(df).collect()
    }
    assert got == expected
    spark.catalog.clearCache()
    from ksql_query_tutorial_spark import cache
    cache.release()


# ------------------------------------------------- r9 operator invariants

VEC = st.lists(
    st.floats(min_value=-4.0, max_value=4.0,
              allow_nan=False, allow_infinity=False),
    min_size=3, max_size=3,
)


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(VEC, min_size=4, max_size=10))
def test_silhouette_scores_are_bounded(spark, vecs):
    """silhouette: s = (b−a)/max(a,b) lies in [−1, 1] for ANY vector
    set, and cluster sizes sum to the corpus size."""
    from ksql_query_tutorial_spark.operators.similarity import silhouette

    # keep vectors non-zero (fixture guarantee in the real tables)
    rows = [(i, [x + 0.001 if all(abs(y) < 1e-9 for y in v) else x
                 for x in v])
            for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = silhouette(df, n_clusters=2).collect()
    assert sum(r["n_vectors"] for r in out) == len(rows)
    for r in out:
        assert -1.0 <= r["mean_sil"] <= 1.0
        assert r["mean_a"] >= 0.0 and r["mean_b"] >= 0.0


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.sampled_from(["a", "b", "c", "d"]),
                min_size=4, max_size=30))
def test_kn_matches_python_reference(spark, toks):
    """kn_bigram equals a from-scratch Python Kneser-Ney on any token
    stream; and per context, observed mass + backoff mass routed to
    UNSEEN continuations telescopes to exactly 1 (the full-vocabulary
    unit-mass identity — observed-only sums are < 1 by design)."""
    from collections import Counter

    from ksql_query_tutorial_spark.operators.corpus import kn_bigram

    df = spark.createDataFrame(
        [(0, " ".join(toks))], "doc_id long, text string"
    )
    out = kn_bigram(df, min_count=1).collect()
    big = Counter(zip(toks, toks[1:]))
    if not big:
        assert out == []
        return
    d = 0.75
    c1 = Counter(); fw = Counter(); bw = Counter()
    for (w1, w2), c in big.items():
        c1[w1] += c; fw[w1] += 1; bw[w2] += 1
    n_types = len(big)
    got = {(r["w1"], r["w2"]): r["p_kn"] for r in out}
    assert set(got) == set(big)
    for (w1, w2), c in big.items():
        ref = (max(c - d, 0.0) / c1[w1]
               + d * fw[w1] / c1[w1] * (bw[w2] / n_types))
        assert abs(got[(w1, w2)] - ref) < 1e-6, (w1, w2)
    # unit mass over the FULL vocabulary: observed terms + the backoff
    # weight times the continuation mass of unseen w2 == 1
    for w1 in c1:
        seen = sum(
            max(big[(w1, w2)] - d, 0.0) / c1[w1]
            + d * fw[w1] / c1[w1] * (bw[w2] / n_types)
            for w2 in {b for (a, b) in big if a == w1}
        )
        unseen_cont = 1.0 - sum(
            bw[w2] / n_types for w2 in {b for (a, b) in big if a == w1}
        )
        total = seen + d * fw[w1] / c1[w1] * unseen_cont
        assert abs(total - 1.0) < 1e-9, (w1, total)


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.tuples(st.integers(0, 3),
                          st.floats(1.0, 50.0, allow_nan=False)),
                min_size=8, max_size=24))
def test_did_is_shift_invariant(spark, pts):
    """events_did: adding a constant to every value changes neither
    the DiD estimate nor its SE (the estimator is a contrast). Period 1
    lands 20+ days after period 0, past the query's 2024-01-16 split."""
    from datetime import datetime, timedelta

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    base = datetime(2024, 1, 1)
    # ensure every (arm, period) cell has >= 2 points: plant 8 anchors
    anchor = [(u, p, 10.0 + u) for u in (0, 1) for p in (0, 1)] * 2
    data = anchor + [(u, i % 2, v) for i, (u, v) in enumerate(pts)]

    def mk(shift):
        rows = [
            (base + timedelta(days=20 * p + i % 3), i,
             u if u % 2 == 0 else u * 2 + 1,  # users 0/2.. arm0, odd arm1
             "purchase", v + shift)
            for i, (u, p, v) in enumerate(data)
        ]
        return spark.createDataFrame(
            rows,
            "ts timestamp, event_id long, user_id long,"
            " event_type string, value double",
        )

    r0 = script_query("events_did", events=mk(0.0)).collect()[0]
    r1 = script_query("events_did", events=mk(100.0)).collect()[0]
    assert abs(r0["did"] - r1["did"]) < 2e-5
    assert abs(r0["se"] - r1["se"]) < 2e-5


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.tuples(st.integers(1, 3), st.booleans()),
                min_size=1, max_size=40))
def test_wilson_lower_bound_dominated_by_rate(spark, lines):
    """supplier_on_time_wilson: 0 <= wilson_lb <= rate for every supplier, and
    the bound tightens toward the rate as n grows (checked by the
    planted high-n supplier)."""
    from datetime import datetime, timedelta

    d0 = datetime(2026, 1, 1)
    ot, lt = d0 + timedelta(days=5), d0 + timedelta(days=300)
    rows = [(i, s, ot if good else lt)
            for i, (s, good) in enumerate(lines)]
    orders = spark.createDataFrame(
        [(i, d0) for i in range(len(rows))],
        "o_orderkey long, o_orderdate timestamp",
    )
    li = spark.createDataFrame(
        rows, "l_orderkey long, l_suppkey long, l_shipdate timestamp"
    )
    supp = spark.createDataFrame(
        [(s, f"S{s}") for s in (1, 2, 3)],
        "s_suppkey long, s_name string",
    )
    out = script_query("supplier_on_time_wilson", orders=orders, lineitem=li,
                       supplier=supp).collect()
    for r in out:
        assert 0.0 <= r["wilson_lb"] <= r["rate"] + 1e-9, r


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(
    st.tuples(st.integers(min_value=0, max_value=9),
              st.integers(min_value=1, max_value=2000)),
    min_size=2, max_size=40))
def test_mann_whitney_matches_python_reference(spark, rows):
    """events_mann_whitney equals a brute-force pairwise U computed in
    Python over any event set covering both arms: exact integers
    (twice_u_a, tie groups) match exactly, z/effect within rounding."""
    import math as _m

    from hypothesis import assume

    # per-user micro-unit sums + the engine's arm hash, replicated
    sums: dict[int, int] = {}
    for u, cents in rows:
        sums[u] = sums.get(u, 0) + _m.floor(cents / 100.0 * 1e6 + 0.5)
    arm = {u: (u % 1048573) * 2654435761 % 2 for u in sums}
    a = sorted(m for u, m in sums.items() if arm[u] == 0)
    b = sorted(m for u, m in sums.items() if arm[u] == 1)
    assume(a and b)

    twice_u = sum(2 * sum(x > y for y in b) + sum(x == y for y in b)
                  for x in a)
    from collections import Counter

    groups = Counter(a) + Counter(b)
    tied = sum(1 for t in groups.values() if t > 1)
    tie_cubes = sum(t ** 3 - t for t in groups.values())
    na, nb = len(a), len(b)
    n = na + nb
    sigma2 = (na * nb / 12.0
              * ((n + 1) - tie_cubes / (n * (n - 1)))) if n > 1 else 0.0
    z = ((twice_u - na * nb) / (2.0 * _m.sqrt(sigma2))
         if sigma2 > 0 else 0.0)

    df = spark.createDataFrame(
        [(u, cents / 100.0) for u, cents in rows],
        "user_id long, value double",
    )
    r = script_query("events_mann_whitney", events=df).collect()[0]
    assert (r["n_a"], r["n_b"]) == (na, nb)
    assert r["twice_u_a"] == twice_u
    assert r["n_tied_groups"] == tied
    assert abs(r["z"] - z) < 2e-6
    assert abs(r["effect_r"] - (twice_u / (na * nb) - 1.0)) < 2e-6


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.integers(min_value=1, max_value=50),
                min_size=2, max_size=60))
def test_weibull_matches_python_reference(spark, lags):
    """lineitem_weibull_delay equals a from-scratch weighted OLS on the
    grouped median-rank plotting positions for any positive lag set
    with >= 2 distinct values."""
    import math as _m
    from collections import Counter
    from datetime import date, timedelta

    from hypothesis import assume

    assume(len(set(lags)) >= 2)
    cnt = Counter(lags)
    n = len(lags)
    cum = 0
    sw = sx = sy = sxx = syy = sxy = 0.0
    for v in sorted(cnt):
        c = cnt[v]
        cum += c
        x = _m.log(v)
        y = _m.log(-_m.log(1.0 - cum / (n + 1.0)))
        w = float(c)
        sw += w; sx += w * x; sy += w * y
        sxx += w * x * x; syy += w * y * y; sxy += w * x * y
    cov = sxy - sx * sy / sw
    varx = sxx - sx * sx / sw
    vary = syy - sy * sy / sw
    k = cov / varx
    lam = _m.exp(-((sy - k * sx) / sw) / k)

    d0 = date(2026, 1, 1)
    orders = spark.createDataFrame(
        [(i, d0) for i in range(len(lags))],
        "o_orderkey long, o_orderdate date",
    )
    li = spark.createDataFrame(
        [(i, d0 + timedelta(days=int(v))) for i, v in enumerate(lags)],
        "l_orderkey long, l_shipdate date",
    )
    r = script_query("lineitem_weibull_delay", orders=orders, lineitem=li).collect()[0]
    assert (r["n"], r["n_lags"]) == (n, len(cnt))
    assert abs(r["shape_k"] - k) < 2e-6
    assert abs(r["scale_lambda"] - lam) < max(2e-6, abs(lam) * 1e-5)
    if vary > 0:
        assert abs(r["r2"] - cov * cov / (varx * vary)) < 2e-6


_M31 = (1 << 31) - 1


def _py_portable_hash(tok: str) -> int:
    def fold(mult: int, init: int) -> int:
        h = init
        for ch in tok:
            h = (h * mult + ord(ch)) % _M31
        return h

    return fold(131, 7) + (fold(137, 11) << 31)


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(
    st.tuples(st.sampled_from(["en", "de"]),
              st.lists(st.sampled_from(["ga", "bu", "zo", "meu", "xq"]),
                       min_size=1, max_size=8)),
    min_size=1, max_size=8))
def test_dsir_matches_python_reference(spark, docs):
    """dsir_importance equals a from-scratch Python DSIR (portable
    Mersenne-31 fold reimplemented independently) on any tiny corpus."""
    import math as _m
    from collections import Counter

    from ksql_query_tutorial_spark.operators.corpus import dsir_importance

    D = 1024
    per_doc: list[Counter] = []
    tgt_c: Counter = Counter()
    raw_c: Counter = Counter()
    for lang, toks in docs:
        bc = Counter(_py_portable_hash(t) & (D - 1) for t in toks)
        per_doc.append(bc)
        raw_c.update(bc)
        if lang == "en":
            tgt_c.update(bc)
    t_tgt = sum(tgt_c.values())
    t_raw = sum(raw_c.values())

    rows = [(i, " ".join(toks), lang)
            for i, (lang, toks) in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r["doc_id"]: r for r in dsir_importance(df).collect()}
    assert set(out) == set(range(len(docs)))
    for i, bc in enumerate(per_doc):
        lw = sum(
            c * (_m.log(tgt_c[bkt] + 1) - _m.log(t_tgt + D)
                 - _m.log(raw_c[bkt] + 1) + _m.log(t_raw + D))
            for bkt, c in bc.items()
        )
        assert out[i]["n_toks"] == sum(bc.values())
        assert abs(out[i]["logw"] - lw) < 2e-6, i
