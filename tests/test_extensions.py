"""Property tests for the non-SQL-expressible extension operators
(the ones the driver can only rows-only check): MinHash-LSH, SimHash,
LSH-ANN, multimodal feature extraction."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from ksql_query_tutorial_spark.extensions import (
    ann_lsh_topk,
    dedup_minhash_lsh,
    dedup_ngram_jaccard,
    dedup_simhash,
    mm_features,
    similarity_topk,
)
from ksql_query_tutorial_spark.operators import dedup, multimodal
from ksql_query_tutorial_spark.tables import load
from tests.conftest import SF_ORACLE, SF_SMOKE, script_query

# Multi-minute sweep: excluded from the driver-facing default run
# (pytest.ini addopts); run with -m slow / -m "".
pytestmark = pytest.mark.slow


def test_minhash_lsh_is_high_recall_subset_of_exact(spark):
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup_ngram_jaccard(spark, SF_ORACLE).collect()
    }
    lsh = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup_minhash_lsh(spark, SF_ORACLE).collect()
    }
    # soundness: every LSH pair is a true pair with the exact jaccard
    assert set(lsh) <= set(exact)
    for k, v in lsh.items():
        assert v == exact[k]
    # recall: banding (b=32, r=4) at the planted-jaccard levels (>0.5)
    assert len(exact) > 0, "fixture should contain planted near-dups"
    recall = len(lsh) / len(exact)
    assert recall >= 0.8, f"LSH recall {recall:.2f} below expectation"


def test_simhash_banding_equals_brute_force(spark):
    d = load(spark, SF_ORACLE, "documents")
    banded = {
        (r.id_a, r.id_b, r.hamming) for r in dedup.simhash_pairs(d, "doc_id").collect()
    }
    # brute force: cross-join the 64-bit sketches, same hamming bound
    sim = dedup.simhash64(d, "doc_id")
    a, b = sim.alias("a"), sim.alias("b")
    brute = {
        (r.id_a, r.id_b, r.hamming)
        for r in a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .collect()
    }
    # pigeonhole banding must lose nothing within the distance bound
    assert banded == brute


def test_ann_structure_and_recall(spark):
    ann = ann_lsh_topk(spark, SF_ORACLE).collect()
    by_q: dict[int, list] = {}
    for r in ann:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        cosines = [r.cosine for r in rows]
        assert cosines == sorted(cosines, reverse=True)
    exact = similarity_topk(spark, SF_ORACLE).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = total = 0
    for q, rows in by_q.items():
        got = {r.neighbor_id for r in rows}
        hits += len(got & exact_sets.get(q, set()))
        total += len(exact_sets.get(q, set()))
    assert total > 0
    assert hits / total >= 0.2, f"ANN recall {hits}/{total} unexpectedly low"


def test_ann_lsh_declaration_runs_no_spark_action(spark, monkeypatch):
    """Building the ann_lsh_topk plan must not trigger a Spark action:
    corpus size comes from parquet footer statistics, not count()."""
    from pyspark.sql import DataFrame

    def _boom(self, *a, **k):
        raise AssertionError("Spark action during query declaration")

    for m in ("count", "collect", "toPandas", "toLocalIterator"):
        monkeypatch.setattr(DataFrame, m, _boom)
    df = ann_lsh_topk(spark, SF_ORACLE)
    assert df.columns == ["query_id", "neighbor_id", "rank", "cosine"]


def test_minhash_bands_must_divide_num_hashes(spark):
    d = load(spark, SF_ORACLE, "documents")
    with pytest.raises(ValueError, match="divisible"):
        dedup.minhash_lsh_pairs(d, "doc_id", num_hashes=100, bands=32)


def test_mm_features_match_payload_bytes(spark):
    feats = {r.media_id: r for r in mm_features(spark, SF_ORACLE).collect()}
    docs = {
        r.doc_id: r.text for r in load(spark, SF_ORACLE, "documents").collect()
    }
    assert set(feats) == set(docs)
    for i, txt in docs.items():
        payload = txt.encode("utf-8")
        f = feats[i]
        assert f.n_bytes == len(payload)
        assert abs(f.mean_byte - sum(payload) / len(payload)) < 1e-9
        assert f.byte_entropy is not None and 0 <= f.byte_entropy <= 8


def test_sample_frames_counts(spark):
    d = load(spark, SF_ORACLE, "documents")
    media = multimodal.media_from_documents(d)
    frames = multimodal.sample_frames(media, every_n_bytes=64, frame_bytes=16)
    got = {r.media_id: r.cnt for r in frames.groupBy("media_id").agg(F.count("*").alias("cnt")).collect()}
    want = {
        r.media_id: math.floor((r.n - 1) / 64) + 1
        for r in media.filter(F.col("media_type") == "video")
        .select("media_id", F.length("payload").alias("n"))
        .collect()
    }
    assert got == want


def test_duplicate_clusters_matches_transitive_closure(spark):
    """CC labels == min id over the transitively-connected component,
    checked against a driver-side union-find on the same pairs."""
    d = load(spark, SF_ORACLE, "documents")
    pairs = dedup.ngram_jaccard_pairs(d, "doc_id", threshold=0.5)
    got = {r.id: r.cluster_id for r in dedup.duplicate_clusters(pairs).collect()}

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    rows = pairs.collect()
    assert rows, "fixture should contain planted near-dups"
    for r in rows:
        ra, rb = find(r.id_a), find(r.id_b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}
    assert got == want


def test_keeper_assignment_covers_every_doc(spark):
    d = load(spark, SF_ORACLE, "documents")
    pairs = dedup.ngram_jaccard_pairs(d, "doc_id", threshold=0.5)
    ka = dedup.keeper_assignment(d, pairs, "doc_id")
    rows = ka.collect()
    assert len(rows) == d.count()
    by_id = {r.doc_id: r for r in rows}
    # keepers keep themselves; every keeper_id is itself a keeper
    for r in rows:
        assert r.is_keeper == (r.keeper_id == r.doc_id)
        assert by_id[r.keeper_id].is_keeper
        assert r.keeper_id <= r.doc_id


def test_ivf_topk_structure_and_recall(spark):
    from ksql_query_tutorial_spark.extensions import ann_ivf_topk

    e = load(spark, SF_ORACLE, "embeddings")
    ivf = ann_ivf_topk(spark, SF_ORACLE).collect()
    exact = similarity_topk(spark, SF_ORACLE).collect()
    # structure: ranks are 1..k' per query, cosine non-increasing
    from collections import defaultdict

    per_q = defaultdict(list)
    for r in sorted(ivf, key=lambda r: (r.query_id, r.rank)):
        per_q[r.query_id].append(r)
    for q, rs in per_q.items():
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        cosines = [r.cosine for r in rs]
        assert cosines == sorted(cosines, reverse=True)
        assert all(r.neighbor_id != q for r in rs)
    # recall: approximate, but must beat random-candidate floor by far
    ex = {(r.query_id, r.neighbor_id) for r in exact}
    ap = {(r.query_id, r.neighbor_id) for r in ivf}
    recall = len(ex & ap) / len(ex)
    assert recall >= 0.3, f"IVF recall {recall:.2f} suspiciously low"


def test_bpe_tokens_split_punctuation(spark):
    """text_token_stats' BPE-ish pieces: hello , world ! x2 (each
    punctuation mark its own piece, whitespace dropped)."""
    df = spark.createDataFrame([(1, "Hello, world! x2")], "doc_id long, text string")
    r = script_query("text_token_stats", documents=df).first()
    assert (r.n_tokens, r.n_bpe_tokens, r.n_chars_measured) == (3, 5, 16)


def test_embedding_lsh_is_subset_of_brute_force(spark):
    from ksql_query_tutorial_spark.extensions import (
        COSINE_THRESHOLD,
        dedup_embedding,
        dedup_embedding_lsh,
    )

    exact = {
        (r.id_a, r.id_b): r.cosine
        for r in dedup_embedding(spark, SF_ORACLE).collect()
    }
    lsh = {
        (r.id_a, r.id_b): r.cosine
        for r in dedup_embedding_lsh(spark, SF_ORACLE).collect()
    }
    assert set(lsh) <= set(exact)
    for k, v in lsh.items():
        assert abs(v - exact[k]) < 1e-6
    assert len(exact) > 0
    recall = len(lsh) / len(exact)
    # (k=8, L=4) + Hamming-1 probes at the fixture's planted-cosine
    # levels (~0.5 → per-bit agree ≈ 0.67, a hard LSH regime); the
    # bound is loose on purpose (recall is data-dependent)
    assert recall >= 0.4, f"LSH recall {recall:.2f} below expectation"


def test_embedding_block_pairs_match_numpy_brute_force(spark):
    """The block-partitioned matmul (no driver collect, no full-corpus
    broadcast) must emit every qualifying pair exactly once — diagonal
    and off-diagonal block pairs both covered."""
    import numpy as np

    rng = np.random.RandomState(7)
    vecs = rng.randn(40, 8).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    got = {(r.id_a, r.id_b): r.cosine
           for r in dedup.embedding_cosine_pairs(df, threshold=0.3, n_blocks=5).collect()}
    m = vecs.astype("float64")
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    s = m @ m.T
    want = {(i, j): round(float(s[i, j]), 6)
            for i in range(40) for j in range(i + 1, 40)
            if round(float(s[i, j]), 6) >= 0.3}
    assert got == want


def test_asof_join_null_payload_not_stitched(spark):
    """The matched (latest) right row's NULL payload columns must come
    through as NULL — not backfilled from an older right row (per-column
    last(ignorenulls) would stitch together a row that never existed)."""
    import datetime as dt

    from ksql_query_tutorial_spark.operators.asof import asof_join

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    left = spark.createDataFrame([(1, "u", t(30))], "lid long, k string, ts timestamp")
    right = spark.createDataFrame(
        [("old", 7, "u", t(10)), (None, 9, "u", t(20))],
        "tag string, val long, k string, ts timestamp",
    )
    row = asof_join(left, right, "ts", ["k"], order_col="val").collect()[0]
    assert row.val == 9
    assert row.tag is None, "NULL payload column backfilled from an older right row"


def test_asof_join_semantics(spark):
    import datetime as dt

    from ksql_query_tutorial_spark.operators.asof import asof_join

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    left = spark.createDataFrame(
        [(1, "u", t(10)), (2, "u", t(20)), (3, "u", t(5)), (4, "v", t(10))],
        "lid long, k string, ts timestamp",
    )
    right = spark.createDataFrame(
        [(100, "u", t(10)), (101, "u", t(10)), (102, "u", t(15)), (103, "w", t(1))],
        "rid long, k string, ts timestamp",
    )
    got = {
        r.lid: (r.rid)
        for r in asof_join(left, right, "ts", ["k"], order_col="rid").collect()
    }
    # lid=1 at t10: right rows at t10 qualify (inclusive); max rid wins -> 101
    # lid=2 at t20: latest right <= t20 is t15 -> 102
    # lid=3 at t5: no right row at/before -> None
    # lid=4 key v: no right rows for key -> None
    assert got == {1: 101, 2: 102, 3: None, 4: None}

    tol = asof_join(left, right, "ts", ["k"], order_col="rid",
                    tolerance_seconds=4)
    got_tol = {r.lid: r.rid for r in tol.collect()}
    # lid=2 at t20 matched t15: gap 5s > 4s tolerance -> nulled
    assert got_tol == {1: 101, 2: None, 3: None, 4: None}


def test_range_join_semantics(spark):
    from ksql_query_tutorial_spark.operators.rangejoin import range_join

    left = spark.createDataFrame(
        [(1, "u", 100.0), (2, "u", 50.0), (3, "v", 100.0)],
        "lid long, k string, p double",
    )
    right = spark.createDataFrame(
        # 95 in-window for lid=1 ([90,100]); 89 just outside (bucket hit,
        # range miss); 100 inclusive edge
        [(200, "u", 95.0), (201, "u", 89.0), (202, "u", 100.0), (203, "w", 95.0)],
        "rid long, k string, rp double",
    )
    inner = range_join(left, right, ["k"], "p", "rp", lower=-10.0, upper=0.0)
    got = {(r.lid, r.rid) for r in inner.collect()}
    assert got == {(1, 200), (1, 202)}


def test_hypertable_rollup_month_correct_despite_week_level(spark):
    """Weeks straddle month boundaries: month totals must come from the
    finest partials, not from week partials. Rows sit in the week of
    2024-01-29..2024-02-04, split across two months."""
    import datetime as dt

    from ksql_query_tutorial_spark.operators.rollup import hypertable_rollup

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    e = spark.createDataFrame(
        [("a", dt.datetime(2024, 1, 31, 5), 1.0),
         ("a", dt.datetime(2024, 2, 1, 7), 10.0),
         ("a", dt.datetime(2024, 2, 2, 9), 100.0)],
        "event_type string, ts timestamp, value double",
    )
    out = hypertable_rollup(e, "ts", ["event_type"], "value",
                            granularities=("hour", "day", "week", "month"))
    months = {r.bucket_start.month: (r.n, r.total_value)
              for r in out.filter("granularity = 'month'").collect()}
    assert months == {1: (1, 1.0), 2: (2, 110.0)}
    weeks = [(r.n, r.total_value) for r in out.filter("granularity = 'week'").collect()]
    assert weeks == [(3, 111.0)]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="straddle"):
        hypertable_rollup(e, "ts", ["event_type"], "value",
                          granularities=("week", "month"))
    with _pytest.raises(ValueError, match="finest-first"):
        hypertable_rollup(e, "ts", ["event_type"], "value",
                          granularities=("day", "hour"))


def test_hypertable_rollup_day_equals_hour_sum(spark):
    from ksql_query_tutorial_spark.operators.rollup import hypertable_rollup
    from ksql_query_tutorial_spark.tables import load

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    e = load(spark, SF_ORACLE, "events")
    out = hypertable_rollup(e, "ts", ["event_type"], "value",
                            granularities=("hour", "day")).collect()
    hours = [r for r in out if r.granularity == "hour"]
    days = [r for r in out if r.granularity == "day"]
    assert hours and days
    # day rows == re-aggregated hour rows, and totals conserve
    assert sum(r.n for r in days) == sum(r.n for r in hours) == e.count()
    got_day = {(r.bucket_start, r.event_type): r.n for r in days}
    from collections import defaultdict

    want_day = defaultdict(int)
    for r in hours:
        want_day[(r.bucket_start.replace(hour=0), r.event_type)] += r.n
    assert got_day == dict(want_day)


def test_resize_images_shape_contract(spark):
    d = load(spark, SF_ORACLE, "documents")
    media = multimodal.media_from_documents(d)
    resized = multimodal.resize_images(media, width=8, height=4)
    rows = resized.collect()
    n_images = media.filter(F.col("media_type") == "image").count()
    assert len(rows) == n_images and n_images > 0
    for r in rows:
        assert len(r.payload) == 8 * 4
        assert (r.width, r.height) == (8, 4)
    # deterministic: same input -> same bytes
    again = {r.media_id: bytes(r.payload) for r in resized.collect()}
    assert {r.media_id: bytes(r.payload) for r in rows} == again


def test_dedup_family_tolerates_null_and_empty_text(spark):
    """Nulls/empties must not crash or produce phantom pairs (ANSI mode
    makes sloppy expressions throw — pin the behavior)."""
    df = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta"),
            (1, "alpha beta gamma delta"),   # exact dup of 0
            (2, None),
            (3, ""),
            (4, "   "),
            (5, "one two"),                  # < 3 tokens: no shingles
        ],
        "doc_id long, text string",
    )
    exact = {r.keeper_id: r.dup_count for r in
             dedup.exact_duplicates(df, "doc_id").collect()}
    assert exact[0] == 2  # the planted dup pair
    jac = dedup.ngram_jaccard_pairs(df, "doc_id", threshold=0.5).collect()
    assert {(r.id_a, r.id_b) for r in jac} == {(0, 1)}
    lsh = dedup.minhash_lsh_pairs(df, "doc_id", threshold=0.5).collect()
    assert {(r.id_a, r.id_b) for r in lsh} <= {(0, 1)}
    sim = dedup.simhash_pairs(df, "doc_id", max_hamming=3).collect()
    assert (0, 1) in {(r.id_a, r.id_b) for r in sim}


def test_lsh_mega_cluster_emits_every_pair(spark):
    """A planted mega-cluster of identical docs lands every member in
    the same bucket of EVERY band; the banded joins still emit every
    cluster pair, and SimHash also pairs the near-identical filler."""
    mega = 30
    rows = [(i, "the quick brown fox jumps over the lazy dog again") for i in range(mega)]
    rows += [(100 + i, f"entirely unrelated document number {i} with its own words {i}")
             for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    expect_pairs = mega * (mega - 1) // 2

    assert dedup.minhash_lsh_pairs(df, "doc_id").count() == expect_pairs

    # The five filler docs differ only in a one-char number token. The
    # portable char fold is affine in a token's last char, so those
    # tokens hash to values a few low bits apart and the filler sketches
    # land within Hamming 3 of each other: all 10 filler pairs are
    # SimHash near-dups.
    cluster = {(a, b) for a in range(mega) for b in range(a + 1, mega)}
    filler = {(100 + a, 100 + b) for a in range(5) for b in range(a + 1, 5)}
    sim_pairs = {(r.id_a, r.id_b) for r in dedup.simhash_pairs(df, "doc_id").collect()}
    assert len(cluster) == expect_pairs
    assert sim_pairs == cluster | filler


def test_text_ops_tolerate_null_and_empty(spark):
    from ksql_query_tutorial_spark.operators import text as T_

    df = spark.createDataFrame(
        [(0, "hello world"), (1, None), (2, "")],
        "doc_id long, text string",
    )
    stats = {r.doc_id: r for r in script_query("text_token_stats", documents=df).collect()}
    assert stats[0].n_tokens == 2 and stats[0].n_bpe_tokens == 2
    # nulls propagate as nulls (not crashes), empties count zero-ish
    assert stats[1].n_tokens is None or stats[1].n_tokens == 0
    q = T_.with_quality(df).collect()
    assert len(q) == 3
    lang = {r.doc_id: r.lang_pred for r in T_.with_lang_id(df).collect()}
    assert lang[0] in {"en", "xx"}


def test_winnowing_guarantee_shared_run_shares_fingerprint(spark):
    """Winnowing property (SIGMOD'03): documents sharing a token run of
    length >= window + n - 1 share at least one fingerprint."""
    shared = "alpha beta gamma delta epsilon zeta"  # 6 tokens = 4 + 3 - 1
    df = spark.createDataFrame(
        [
            (0, f"intro words here {shared} tail one"),
            (1, f"totally different lead {shared} other ending words"),
            (2, "no overlap with anything else at all whatsoever"),
        ],
        "doc_id long, text string",
    )
    fps = script_query("text_winnowing", documents=df).collect()
    by_doc: dict[int, set] = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[0] & by_doc[1], "shared 6-token run must share a fingerprint"
    assert not (by_doc[2] & (by_doc[0] | by_doc[1]))


def test_incremental_dedup_flags_only_true_near_dups(spark):
    corpus_side = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "one two three four five six seven eight"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon zeta eta iota"),  # near-dup of 1
            (11, "completely different words entirely novel content here now"),
            (12, "one two three four five six seven eight"),        # exact dup of 2
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in dedup.incremental_minhash_dedup(
            new, corpus_side, "doc_id", threshold=0.5
        ).collect()
    }
    assert out[10].is_dup and out[10].dup_of == 1
    assert not out[11].is_dup and out[11].dup_of is None
    assert out[12].is_dup and out[12].dup_of == 2 and out[12].jaccard == 1.0
    assert len(out) == 3


def test_pii_redaction(spark):
    """Planted PII: counts, replacement order, and octet-range rejection
    must agree between Spark and the generated DuckDB oracle — and match
    hand-computed expectations (ADVICE r2: this behavior was previously
    unexercised because the fixture corpus contains no PII)."""
    import duckdb
    import pandas as pd

    from ksql_query_tutorial_spark.extensions import EXTENSION_ORACLES

    rows = [
        (1, "contact bob.smith+spam@example.co.uk or call 555-123-4567 now"),
        (2, "server at 192.168.0.1 and 10.0.0.255, not 256.1.2.3 or 1.2.3.999"),
        (3, "emails a@b.io c@d.org; phone 123.456.7890; version 10.20.30.40"),
        (4, "no pii here at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in script_query("text_pii", documents=df).collect()}

    assert (got[1].n_email, got[1].n_phone, got[1].n_ipv4) == (1, 1, 0)
    assert got[1].redacted == "contact [EMAIL] or call [PHONE] now"
    # octets > 255 are NOT addresses: 256.1.2.3 and 1.2.3.999 survive
    assert (got[2].n_email, got[2].n_phone, got[2].n_ipv4) == (0, 0, 2)
    assert got[2].redacted == "server at [IP] and [IP], not 256.1.2.3 or 1.2.3.999"
    # dotted-phone matches the phone family, not IP; an in-range quad is
    # an IP even when it is "really" a version string (documented)
    assert (got[3].n_email, got[3].n_phone, got[3].n_ipv4) == (2, 1, 1)
    assert got[3].redacted == "emails [EMAIL] [EMAIL]; phone [PHONE]; version [IP]"
    assert (got[4].n_email, got[4].n_phone, got[4].n_ipv4) == (0, 0, 0)
    assert not got[4].has_pii and got[4].redacted == rows[3][1]

    # cross-engine parity on the same planted rows
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = con.execute(EXTENSION_ORACLES["text_pii"]).df()
    for _, w in want.iterrows():
        g = got[w.doc_id]
        assert (g.n_email, g.n_phone, g.n_ipv4, g.has_pii, g.redacted) == (
            w.n_email, w.n_phone, w.n_ipv4, w.has_pii, w.redacted
        ), f"doc {w.doc_id}"


def test_incremental_dedup_fixture_recall_margin():
    """ADVICE r2: the dedup_incremental oracle hash-match relies on the
    banded MinHash surfacing EVERY true >=0.5-Jaccard pair on the
    fixture. At (128 hashes, 32 bands x 4 rows) a pair at exactly
    j=0.5 is only ~87% likely to collide under random permutations, so
    the oracle would be one fixture tweak away from flaky. Assert the
    fixture keeps a margin: every cross-side true pair has j >= 0.70,
    where the collision probability is 1-(1-0.7^4)^32 > 0.9998 (and the
    seeded permutations are deterministic, so today's recall-1 outcome
    is pinned by test_oracle's exact hash match)."""
    import duckdb

    from ksql_query_tutorial_spark.extensions import _SHINGLES, _TOKS

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_ORACLE}/documents.parquet')"
    )
    risky = con.execute(f"""
        WITH nd AS (SELECT doc_id, {_TOKS} AS toks FROM documents
                    WHERE doc_id % 10 = 7),
        od AS (SELECT doc_id, {_TOKS} AS toks FROM documents
               WHERE doc_id % 10 <> 7),
        shn AS (SELECT doc_id, {_SHINGLES} AS s FROM nd),
        sho AS (SELECT doc_id, {_SHINGLES} AS s FROM od),
        pn AS (SELECT doc_id, unnest(s) AS sh FROM shn),
        po AS (SELECT doc_id, unnest(s) AS sh FROM sho),
        inter AS (SELECT n.doc_id AS nid, o.doc_id AS cid, count(*) AS i
                  FROM pn n JOIN po o ON n.sh = o.sh GROUP BY 1, 2),
        j AS (SELECT nid, cid,
                     CAST(i AS DOUBLE) / (sn.n + so.n - i) AS jac
              FROM inter
              JOIN (SELECT doc_id, len(s) AS n FROM shn) sn ON nid = sn.doc_id
              JOIN (SELECT doc_id, len(s) AS n FROM sho) so ON cid = so.doc_id)
        SELECT nid, cid, jac FROM j WHERE jac >= 0.5 AND jac < 0.70
        ORDER BY jac
    """).fetchall()
    assert risky == [], (
        "fixture plants cross-side pairs in the LSH risky band "
        f"[0.5, 0.70) — oracle recall no longer guaranteed: {risky[:5]}"
    )


def test_quantize_embeddings_codes_and_scale(spark):
    rows = [(1, [1.0, -0.5, 0.25, 0.0]), (2, [0.0, 0.0, 0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    from ksql_query_tutorial_spark.operators import similarity as sim

    out = {r.id: r for r in sim.quantize_embeddings(df).collect()}
    # max_abs=1.0: codes = round-half-up(v*127)
    assert list(out[1].qvec) == [127, -63, 32, 0]   # -63.5 -> floor(-63.0)=-63
    assert abs(out[1].scale - 1.0 / 127) < 1e-9
    # zero vector quantizes to zeros, no div-by-zero
    assert list(out[2].qvec) == [0, 0, 0, 0]


def test_quantized_topk_close_to_float_topk(spark):
    """int8 ranks track float ranks: over the fixture, each query's
    quantized top-5 overlaps the exact float top-5 in >= 3 of 5 (int8
    on d=64 random vectors loses a little resolution, not the
    neighborhood), and output shape/determinism hold."""
    from ksql_query_tutorial_spark.operators import similarity as sim

    e = load(spark, SF_ORACLE, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    exact = sim.brute_force_topk(e, q, k=5).collect()
    quant = sim.quantized_topk(e, q, k=5).collect()
    by_q_exact, by_q_quant = {}, {}
    for r in exact:
        by_q_exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in quant:
        by_q_quant.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert set(by_q_quant) == set(by_q_exact)
    for qid in by_q_exact:
        assert len(by_q_quant[qid]) == 5
        assert len(by_q_quant[qid] & by_q_exact[qid]) >= 3, qid
    # determinism: a second run returns identical rows
    again = sim.quantized_topk(e, q, k=5).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, quant))

def test_query_collect_guard_raises_on_oversized_query_set(spark, monkeypatch):
    """Both broadcast-matrix searches hard-cap the driver-side query
    collect: past MAX_QUERY_ROWS they must raise (never silently OOM
    the driver), and the limit is pushed into the scan so the failed
    check reads cap+1 rows, not the full set."""
    from ksql_query_tutorial_spark.operators import similarity as sim

    monkeypatch.setattr(sim, "MAX_QUERY_ROWS", 4)
    e = load(spark, SF_ORACLE, "embeddings")
    q_big = e.filter(F.col("vec_id") < 10)   # 10 > 4
    q_ok = e.filter(F.col("vec_id") < 3)     # 3 <= 4
    with pytest.raises(ValueError, match="brute_force_topk.*MAX_QUERY_ROWS"):
        sim.brute_force_topk(e, q_big, k=2)
    with pytest.raises(ValueError, match="quantized_topk.*MAX_QUERY_ROWS"):
        sim.quantized_topk(e, q_big, k=2)
    # at or under the cap both run normally
    assert sim.brute_force_topk(e, q_ok, k=2).count() == 6
    assert sim.quantized_topk(e, q_ok, k=2).count() == 6


def test_pq_topk_structure_and_recall(spark):
    from ksql_query_tutorial_spark.extensions import ann_pq_topk, similarity_topk

    pq = ann_pq_topk(spark, SF_ORACLE).collect()
    exact = similarity_topk(spark, SF_ORACLE).collect()
    from collections import defaultdict

    per_q = defaultdict(list)
    for r in sorted(pq, key=lambda r: (r.query_id, r.rank)):
        per_q[r.query_id].append(r)
    assert set(per_q) == {r.query_id for r in exact}
    for q, rs in per_q.items():
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        scores = [r.cosine for r in rs]
        assert scores == sorted(scores, reverse=True)
        assert all(r.neighbor_id != q for r in rs)
    ex = {(r.query_id, r.neighbor_id) for r in exact}
    ap = {(r.query_id, r.neighbor_id) for r in pq}
    recall = len(ex & ap) / len(ex)
    assert recall >= 0.6, f"PQ recall {recall:.2f} suspiciously low"


def test_pq_codes_are_m_ints_in_ksub_range(spark):
    from ksql_query_tutorial_spark.operators import similarity
    from ksql_query_tutorial_spark.operators.similarity import as_double

    e = load(spark, SF_ORACLE, "embeddings")
    books = similarity.pq_codebooks(e, m=8, ksub=16)
    assert books.shape == (8, 16, 8)
    coded = similarity.pq_encode(
        e.selectExpr("vec_id as nid").withColumn(
            "cv", as_double(load(spark, SF_ORACLE, "embeddings").limit(0)["embedding"])
        ) if False else
        e.select(F.col("vec_id").alias("nid"), as_double(F.col("embedding")).alias("cv")),
        books,
    )
    rows = coded.select("codes").limit(50).collect()
    for r in rows:
        assert len(r["codes"]) == 8
        assert all(0 <= c < 16 for c in r["codes"])


def test_funnel_strictly_after_chaining(spark):
    """A purchase BEFORE the first view must not count; each step's
    first-completion must be strictly after the previous step's."""
    from datetime import datetime

    t = lambda s: datetime(2026, 1, 1, 0, 0, s)
    rows = [
        # user 1: full ordered funnel
        (1, t(1), "view"), (1, t(2), "click"), (1, t(3), "purchase"),
        # user 2: purchase precedes view -> depth 2 (view, click)
        (2, t(1), "purchase"), (2, t(2), "view"), (2, t(3), "click"),
        # user 3: click at the SAME instant as view -> strict > excludes it
        (3, t(1), "view"), (3, t(1), "click"),
        # user 4: no view at all -> depth 0
        (4, t(1), "click"), (4, t(2), "purchase"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    out = {r["user_id"]: r for r in script_query("events_funnel", events=df).collect()}
    assert out[1]["funnel_depth"] == 3
    assert out[2]["funnel_depth"] == 2
    assert out[2]["first_purchase"] is None
    assert out[3]["funnel_depth"] == 1 and out[3]["first_click"] is None
    assert out[4]["funnel_depth"] == 0 and out[4]["first_view"] is None


def test_props_stats_extracts_typed_k(spark):
    rows = [
        (1, "view", '{"k": 5}'),
        (2, "view", '{"k": 7}'),
        (1, "click", '{"k": 0}'),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, props string")
    out = {r["event_type"]: r for r in script_query("events_props_stats", events=df).collect()}
    assert out["view"]["n_events"] == 2
    assert out["view"]["n_users"] == 2
    assert out["view"]["sum_k"] == 12
    assert out["view"]["min_k"] == 5 and out["view"]["max_k"] == 7
    assert out["view"]["avg_k"] == 6.0
    assert out["click"]["n_users"] == 1 and out["click"]["sum_k"] == 0


def test_weekly_retention_cohorts_and_offsets(spark):
    from datetime import datetime

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # user 1: active week 0 and week 2; user 2: week 0 only (same cohort);
    # user 3: cohort one week later
    rows = [
        (1, datetime(2026, 1, 5, 10)),   # Mon wk0
        (1, datetime(2026, 1, 21, 9)),   # wk2
        (2, datetime(2026, 1, 7, 3)),    # wk0
        (3, datetime(2026, 1, 14, 12)),  # wk1 cohort
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {(r["cohort_week"], r["week_offset"]): r["n_users"]
           for r in script_query("events_retention", events=df).collect()}
    wk0 = datetime(2026, 1, 5)
    wk1 = datetime(2026, 1, 12)
    assert out[(wk0, 0)] == 2
    assert out[(wk0, 2)] == 1
    assert out[(wk1, 0)] == 1
    assert (wk0, 1) not in out


def test_cluster_assign_centroids_self_assign(spark):
    """Each centroid row must assign to itself with cosine 1.0; every
    row must land on exactly one cluster in [0, k)."""
    from ksql_query_tutorial_spark.extensions import (
        N_ASSIGN_CLUSTERS,
        embedding_cluster_assign,
    )

    out = embedding_cluster_assign(spark, SF_SMOKE).collect()
    by_id = {r["vec_id"]: r for r in out}
    for cid in range(N_ASSIGN_CLUSTERS):
        assert by_id[cid]["cluster_id"] == cid
        assert abs(by_id[cid]["cosine"] - 1.0) < 1e-9
    assert all(0 <= r["cluster_id"] < N_ASSIGN_CLUSTERS for r in out)
    assert len(out) == len(by_id)


def test_hourly_anomaly_flags_outlier_and_handles_single_hour(spark):
    from datetime import datetime

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    rows = []
    # type 'a': 9 quiet hours of 10 events + one 1000-event spike
    for h in range(9):
        rows += [(datetime(2026, 1, 1, h, m % 60), "a") for m in range(10)]
    rows += [(datetime(2026, 1, 1, 23, s % 60), "a") for s in range(1000)]
    # type 'b': a single hour — stddev undefined, must flag False
    rows += [(datetime(2026, 1, 1, 5, 1), "b")]
    df = spark.createDataFrame(rows, "ts timestamp, event_type string")
    out = script_query("events_anomaly", events=df).collect()
    spikes = [r for r in out if r["event_type"] == "a" and r["is_anomaly"]]
    assert len(spikes) == 1 and spikes[0]["n_events"] == 1000
    b = [r for r in out if r["event_type"] == "b"]
    assert len(b) == 1 and b[0]["is_anomaly"] is False and b[0]["z"] is None


def test_label_centroids_exact_means(spark):
    from ksql_query_tutorial_spark.operators.similarity import label_centroids

    rows = [
        (0, [1.0, 3.0]),
        (0, [3.0, 5.0]),
        (1, [2.0, 2.0]),
    ]
    df = spark.createDataFrame(rows, "label int, embedding array<float>")
    out = {(r["label"], r["dim"]): r for r in label_centroids(df).collect()}
    assert out[(0, 0)]["mean_val"] == 2.0 and out[(0, 1)]["mean_val"] == 4.0
    assert out[(0, 0)]["n_vectors"] == 2
    assert out[(1, 0)]["mean_val"] == 2.0 and out[(1, 1)]["n_vectors"] == 1


def test_char_entropy_known_values(spark):
    rows = [(1, "aaaa"), (2, "ab"), (3, ""), (4, "aabb")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in script_query("text_entropy", documents=df).collect()}
    assert out[1]["char_entropy"] == 0.0 and out[1]["n_unique_chars"] == 1
    assert out[2]["char_entropy"] == 1.0
    assert out[4]["char_entropy"] == 1.0 and out[4]["n_chars_counted"] == 4
    assert 3 not in out  # empty docs dropped


def test_salted_agg_equals_plain_aggregate(spark):
    e = load(spark, SF_ORACLE, "events").select("event_type", "value")
    got = {r["event_type"]: r for r in script_query("events_salted_agg", events=e).collect()}
    want = {
        r["event_type"]: r
        for r in e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("value"), 6).alias("sum_val"),
            F.round(F.sum("value") / F.count(F.lit(1)), 6).alias("avg_val"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for k in got:
        assert got[k]["n_rows"] == want[k]["n_rows"]
        assert abs(got[k]["sum_val"] - want[k]["sum_val"]) < 1e-6
        assert abs(got[k]["avg_val"] - want[k]["avg_val"]) < 1e-6


def test_audit_constraints_counts_planted_violations(spark):
    orders = spark.createDataFrame(
        [(1, 10, 100.0), (2, 11, None), (3, 99, 50.0)],
        "o_orderkey long, o_custkey long, o_totalprice double",
    )
    customer = spark.createDataFrame([(10,), (11,)], "c_custkey long")
    lineitem = spark.createDataFrame(
        [(1, 5.0), (2, -1.0), (7, 3.0)],
        "l_orderkey long, l_quantity double",
    )
    out = {r["check_name"]: r["n_violations"]
           for r in script_query("audit_referential", orders=orders, customer=customer,
                                 lineitem=lineitem).collect()}
    assert out == {
        "orders_orphan_custkey": 1,       # o_custkey 99
        "lineitem_orphan_orderkey": 1,    # l_orderkey 7
        "lineitem_nonpositive_qty": 1,    # -1.0
        "orders_null_totalprice": 1,      # order 2
    }


def test_snapshot_diff_classifies_all_transitions(spark):
    """corpus_diff: the old snapshot drops ids divisible by 7, the new
    one ids divisible by 5 and revises every 11th text, so ids 5, 1, 11
    and 7 take the four transitions and 35 is in neither."""
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in (1, 5, 7, 11, 35)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r["status"] for r in script_query("corpus_diff", documents=docs).collect()}
    assert out == {5: "removed", 1: "unchanged", 11: "changed", 7: "added"}


def test_cooccurrence_pmi_window_semantics(spark):
    """Forward-window pairs only (i < j <= i+window), PMI arithmetic
    pinned on a hand-computable corpus."""
    import math

    df = spark.createDataFrame([("x y x y",), ("x y",)], "text string")
    out = {(r["w1"], r["w2"]): r for r in
           script_query("corpus_cooccurrence", documents=df).collect()}
    # pairs with window=3: doc1 -> (x,y),(x,x),(x,y),(y,x),(y,y),(x,y);
    # doc2 -> (x,y); frequent (>=3): (x,y) with 4
    assert set(out) == {("x", "y")}
    r = out[("x", "y")]
    assert r["n_pair"] == 4
    # T_pairs=7, T_uni=6, c_x=3, c_y=3
    want = math.log2((4 / 7) / ((3 / 6) * (3 / 6)))
    assert abs(r["pmi"] - round(want, 6)) < 1e-9


def test_moving_stats_trailing_window_and_delta(spark):
    from datetime import datetime

    rows = [
        (1, datetime(2026, 1, 1, 0), 100, 10.0),
        (1, datetime(2026, 1, 1, 1), 101, 20.0),
        (1, datetime(2026, 1, 1, 2), 102, 60.0),
        (1, datetime(2026, 1, 1, 3), 103, 40.0),
        (2, datetime(2026, 1, 1, 0), 200, 5.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, value double"
    )
    out = {r["event_id"]: r for r in script_query("events_moving_avg", events=df).collect()}
    assert out[100]["moving_avg"] == 10.0 and out[100]["delta"] is None
    assert out[101]["moving_avg"] == 15.0 and out[101]["delta"] == 10.0
    assert out[102]["moving_avg"] == 30.0 and out[102]["delta"] == 40.0
    # trailing 3: (20+60+40)/3
    assert out[103]["moving_avg"] == 40.0 and out[103]["delta"] == -20.0
    assert out[200]["moving_avg"] == 5.0 and out[200]["delta"] is None


def test_session_paths_gap_and_order(spark):
    """Hand-built stream: the 480-minute gap splits sessions exactly at
    >gap, path order follows (ts, event_id), and a path keeps only a
    session's first 8 steps."""
    from datetime import datetime, timedelta

    t0 = datetime(2026, 1, 1, 0, 0, 0)
    m = timedelta(minutes=1)
    rows = [
        # user 1, session A: view -> click (equal ts: event_id breaks tie)
        (1, t0, 10, "view"),
        (1, t0, 11, "click"),
    ]
    rows += [(1, t0 + k * m, 11 + k, "purchase") for k in range(1, 8)]
    # exactly gap later: NOT a new session (strict >)
    rows.append((1, t0 + 487 * m, 19, "purchase"))
    rows += [
        # gap + 1us later: new session B
        (1, t0 + 967 * m + timedelta(microseconds=1), 20, "view"),
        # user 2: single-event session
        (2, t0, 30, "view"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    out = {r["path"]: r for r in script_query("events_top_paths", events=df).collect()}
    # session A truncated to 8 steps, but n_events counts all 10
    path_a = ">".join(["view", "click"] + ["purchase"] * 6)
    assert out[path_a]["n_sessions"] == 1
    assert out[path_a]["avg_events"] == 10.0
    assert out["view"]["n_sessions"] == 2  # user 1 session B + user 2
    assert out["view"]["n_users"] == 2
    assert set(out) == {path_a, "view"}


def test_session_paths_single_user_exchange(spark):
    """Sessionize + per-session gather share ONE user-keyed exchange:
    the (user, session) groupBy must reuse the window's partitioning
    (hash on user_id appears exactly once); everything stays JVM-side."""
    import re

    from ksql_query_tutorial_spark.plans.checks import (
        assert_no_python,
        executed_plan,
    )
    from ksql_query_tutorial_spark.tables import load

    e = load(spark, "/root/testdata/sf0.001", "events")
    df = script_query("events_top_paths", events=e)
    assert_no_python(df)
    plan = executed_plan(df).split("== Initial Plan ==")[0]
    assert len(re.findall(r"hashpartitioning\(user_id", plan)) == 1, plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_containment_short_inside_long(spark):
    """A quote fully contained in a much longer page: Jaccard is tiny
    (below any useful threshold) but containment is 1.0 with the
    direction pointing at the contained side."""
    from ksql_query_tutorial_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    quote = "alpha beta gamma delta epsilon"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(40))
    rows = [(1, quote), (2, filler + " " + quote + " " + filler)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    got = containment_pairs(df, "doc_id", threshold=0.9).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["id_a"], r["id_b"], r["direction"]) == (1, 2, "a_in_b")
    assert r["containment"] == 1.0
    # the symmetric op misses it at the same bar
    assert ngram_jaccard_pairs(df, "doc_id", threshold=0.5).count() == 0


def test_value_histogram_bins_and_negatives(spark):
    """floor-division binning: negatives land in the floor bin, bin_lo
    is the inclusive lower edge, counts cover every row."""
    rows = [("a", -0.1), ("a", 0.0), ("a", 4.99), ("a", 5.0), ("b", 12.5)]
    df = spark.createDataFrame(rows, "event_type string, value double")
    out = {(r["group"], r["bin"]): r for r in script_query("events_histogram", events=df).collect()}
    assert out[("a", -1)]["n"] == 1 and out[("a", -1)]["bin_lo"] == -5.0
    assert out[("a", 0)]["n"] == 2
    assert out[("a", 1)]["n"] == 1 and out[("a", 1)]["min_v"] == 5.0
    assert out[("b", 2)]["bin_lo"] == 10.0
    assert sum(r["n"] for r in out.values()) == len(rows)


def test_pagerank_matches_python_fixed_point_reference(spark):
    """Tiny star + path graph: the Spark ranks must equal a driver-side
    reimplementation of the SAME integer micro-unit recurrence, and the
    hub must outrank the leaves."""
    from ksql_query_tutorial_spark.operators.graph import (
        PR_SCALE,
        pagerank_fixed_point,
    )

    # star 1-{2,3,4} plus a tail 4-5
    pair_rows = [(1, 2), (1, 3), (1, 4), (4, 5)]
    pairs = spark.createDataFrame(pair_rows, "id_a long, id_b long")
    got = {r["id"]: r for r in pagerank_fixed_point(pairs, iterations=5).collect()}

    edges: dict[int, list[int]] = {}
    for a, b in pair_rows:
        edges.setdefault(a, []).append(b)
        edges.setdefault(b, []).append(a)
    n = len(edges)
    pr = {v: PR_SCALE // n for v in edges}
    base = (15 * (PR_SCALE // n)) // 100
    for _ in range(5):
        inc = {v: 0 for v in edges}
        for v, nbrs in edges.items():
            c = pr[v] // len(nbrs)
            for u in nbrs:
                inc[u] += c
        pr = {v: base + (85 * inc[v]) // 100 for v in edges}
    assert {v: got[v]["pr"] for v in edges} == pr
    assert got[1]["pr"] > got[2]["pr"]          # hub beats leaf
    assert got[2]["pr"] == got[3]["pr"]         # symmetric leaves tie
    # bounded leak: total mass within n·iters micro-units of scale
    assert PR_SCALE - sum(pr.values()) < n * 5 * 100


def test_pagerank_single_iteration_join_and_agg_only(spark):
    """Each iteration is one src-keyed join + one dst-keyed aggregate —
    no Python stages, no cartesian products in the final plan."""
    from ksql_query_tutorial_spark.operators.graph import pagerank_fixed_point
    from ksql_query_tutorial_spark.plans.checks import (
        assert_no_python,
        executed_plan,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "id_a long, id_b long"
    )
    df = pagerank_fixed_point(pairs, iterations=2)
    assert_no_python(df)
    plan = executed_plan(df).split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan


def test_covariance_stats_known_values(spark):
    """Hand-built 2-dim embeddings: exact integer sums and the known
    covariance matrix (dim0 variance 0.25, dim1 = -dim0 so cov = -var,
    in micro-unit^2)."""
    from ksql_query_tutorial_spark.operators.similarity import covariance_stats

    rows = [(1, [0.5, -0.5]), (2, [-0.5, 0.5]), (3, [0.5, -0.5]), (4, [-0.5, 0.5])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {(r["i"], r["j"]): r for r in covariance_stats(df).collect()}
    s = 10**6
    var = 0.25 * s * s
    assert out[(0, 0)]["n"] == 4 and out[(0, 0)]["s_i"] == 0
    assert out[(0, 0)]["cov"] == var          # Var(dim0) = 0.25
    assert out[(1, 1)]["cov"] == var
    assert out[(0, 1)]["cov"] == -var         # perfectly anti-correlated
    assert out[(0, 0)]["s_qq"] == 4 * (s // 2) ** 2
    # diagonal variance is never negative
    assert all(r["cov"] >= 0 for (i, j), r in out.items() if i == j)


def test_covariance_single_bounded_exchange(spark):
    """The only exchange carries the (i, j)-cell partials — grid-bounded
    regardless of corpus size; the Gram matmul stage is Arrow Python."""
    from ksql_query_tutorial_spark.operators.similarity import covariance_stats
    from ksql_query_tutorial_spark.plans.checks import executed_plan
    from ksql_query_tutorial_spark.tables import load

    e = load(spark, "/root/testdata/sf0.001", "embeddings")
    df = covariance_stats(e)
    plan = executed_plan(df).split("== Initial Plan ==")[0]
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert df.count() == 64 * 65 // 2


def test_label_outliers_flags_planted_outlier(spark):
    """A tight cluster plus one far vector (same label): only the far
    vector flags; a single-vector label has NULL stddev and flags
    false, never NULL."""
    from ksql_query_tutorial_spark.operators.similarity import label_outliers

    tight = [[1.0, 0.0], [0.99, 0.01], [1.01, -0.01], [1.0, 0.01],
             [0.98, 0.0], [1.02, 0.0]]
    rows = [(i, 0, v) for i, v in enumerate(tight)]
    rows.append((99, 0, [-5.0, 5.0]))      # planted outlier
    rows.append((100, 1, [0.5, 0.5]))      # lone label
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    out = {r["vec_id"]: r for r in label_outliers(df).collect()}
    assert out[99]["is_outlier"] is True
    assert all(not out[i]["is_outlier"] for i in range(len(tight)))
    assert out[100]["is_outlier"] is False and out[100]["z"] is None
    assert out[100]["dist"] == 0.0         # lone vector IS its centroid


def test_rfm_scores_order_and_inversion(spark):
    """Recency inverts (most recent buyer scores r=5); frequency and
    spend score monotonically; segment concatenates the three."""
    from datetime import date

    rows = []
    # customer k orders k times, spends 100*k per order, and last
    # ordered on day 30-k -> customer 1 is the FRESHEST but the
    # smallest/least frequent spender; customer 5 the inverse
    for k in range(1, 6):
        for j in range(k):
            rows.append((k, date(2024, 6, 30 - k), 100.0 * k))
    df = spark.createDataFrame(rows, "o_custkey long, o_orderdate date, o_totalprice double")
    out = {r["custkey"]: r for r in script_query("customer_rfm", orders=df).collect()}
    assert out[1]["recency_days"] == 0 and out[1]["r_score"] == 5
    assert out[5]["r_score"] == 1          # stalest buyer
    assert out[5]["f_score"] == 5 and out[1]["f_score"] == 1
    assert out[5]["m_score"] == 5 and out[1]["m_score"] == 1
    assert out[1]["segment"] == "511" and out[5]["segment"] == "155"
    # scores are monotone in the underlying metric
    fs = [out[k]["f_score"] for k in range(1, 6)]
    assert fs == sorted(fs)


def test_basket_lift_known_values(spark):
    """Three orders: {1,2}, {1,2}, {1,3}. Pair (1,2) in 2/3 orders,
    lift = (2·3)/(3·2) = 1.0; pair (1,3) appears once -> pruned (a pair
    needs 2 orders)."""
    rows = [(10, 1), (10, 2), (20, 1), (20, 2), (30, 1), (30, 3)]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    out = script_query("orders_basket", lineitem=li).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["item_a"], r["item_b"], r["n_orders_pair"]) == (1, 2, 2)
    assert r["n_a"] == 3 and r["n_b"] == 2
    assert r["lift"] == 1.0


def test_basket_plan_reuses_distinct_exchange(spark):
    """The basket self-join's two sides come from the SAME distinct
    (order, item) subtree: the second side must be a ReusedExchange,
    and the count-table joins broadcast — no sort-merge, no Python."""
    from ksql_query_tutorial_spark.plans.checks import (
        assert_no_python,
        executed_plan,
    )
    from ksql_query_tutorial_spark.tables import load

    li = load(spark, "/root/testdata/sf0.001", "lineitem")
    df = script_query("orders_basket", lineitem=li)
    assert_no_python(df)
    plan = executed_plan(df).split("== Initial Plan ==")[0]
    assert "ReusedExchange" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_transition_matrix_known_chain(spark):
    """a->b->a->b for user 1 and b->b for user 2: known counts and
    row-normalized probabilities; no cross-user transitions."""
    from datetime import datetime, timedelta

    t0 = datetime(2026, 1, 1)
    s = timedelta(seconds=1)
    rows = [
        (1, t0, 1, "a"), (1, t0 + s, 2, "b"),
        (1, t0 + 2 * s, 3, "a"), (1, t0 + 3 * s, 4, "b"),
        (2, t0, 5, "b"), (2, t0 + s, 6, "b"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    out = {(r.prev_type, r.next_type): r
           for r in script_query("events_markov", events=df).collect()}
    assert out[("a", "b")].n == 2 and out[("a", "b")].p == 1.0
    assert out[("b", "a")].n == 1 and out[("b", "a")].p == 0.5
    assert out[("b", "b")].n == 1 and out[("b", "b")].p == 0.5
    assert set(out) == {("a", "b"), ("b", "a"), ("b", "b")}


def test_hybrid_rrf_fusion_structure(spark):
    """RRF invariants on the fixture: ranks are 1..k per leg, a doc in
    BOTH legs outscores a doc appearing in one leg at equal-or-worse
    ranks, and every rrf equals the closed form of its ranks."""
    from ksql_query_tutorial_spark.extensions import HYBRID_C, hybrid_search
    from tests.conftest import SF_ORACLE

    rows = hybrid_search(spark, SF_ORACLE).collect()
    assert rows
    for r in rows:
        want = 0.0
        if r.lex_rank is not None:
            want += 1.0 / (HYBRID_C + r.lex_rank)
        if r.vec_rank is not None:
            want += 1.0 / (HYBRID_C + r.vec_rank)
        assert abs(r.rrf - round(want, 6)) < 1e-9
        assert r.lex_rank is not None or r.vec_rank is not None
    lex_ranks = sorted(r.lex_rank for r in rows if r.lex_rank is not None)
    assert lex_ranks == list(range(1, len(lex_ranks) + 1))
    vec_ranks = sorted(r.vec_rank for r in rows if r.vec_rank is not None)
    assert vec_ranks == list(range(1, len(vec_ranks) + 1))


def test_last_touch_attribution_semantics(spark):
    """Known stream: latest in-TTL touch wins; strictly-before (a touch
    at the SAME timestamp as the conversion does not count via the
    tiebreak frame only when it sorts after); out-of-TTL and
    touch-less conversions stay NULL-attributed."""
    from datetime import datetime, timedelta

    t0 = datetime(2026, 1, 1)
    m = timedelta(minutes=1)
    rows = [
        (1, t0, 10, "view"),
        (1, t0 + 5 * m, 11, "click"),           # latest touch
        (1, t0 + 10 * m, 12, "purchase"),       # -> click 11
        (2, t0, 20, "view"),
        (2, t0 + 1500 * m, 21, "purchase"),     # TTL 1440 -> unattributed
        (3, t0, 30, "purchase"),                # no touch at all
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    out = {r.conversion_id: r for r in script_query("events_attribution", events=df).collect()}
    assert out[12].touch_id == 11 and out[12].touch_type == "click"
    assert out[12].touch_ts == t0 + 5 * m
    assert out[12].mins_since_touch == 5.0
    assert out[21].touch_id is None and out[21].mins_since_touch is None
    assert out[30].touch_id is None
    assert len(out) == 3                        # every conversion present


def test_scd2_collapses_repeats_and_closes_versions(spark):
    """a,a,b,a for one user: three versions (a, b, a) with contiguous
    intervals, the last one open; version numbers are 1-based."""
    from datetime import datetime, timedelta

    t0 = datetime(2026, 1, 1)
    h = timedelta(hours=1)
    rows = [
        (1, t0, 1, "a"), (1, t0 + h, 2, "a"),
        (1, t0 + 2 * h, 3, "b"), (1, t0 + 3 * h, 4, "a"),
        (2, t0, 5, "x"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    out = {(r.key, r.version): r for r in script_query("events_scd2", events=df).collect()}
    assert [out[(1, v)].state for v in (1, 2, 3)] == ["a", "b", "a"]
    assert out[(1, 1)].valid_to == out[(1, 2)].valid_from  # contiguous
    assert out[(1, 3)].valid_to is None                    # current
    assert out[(1, 1)].n_changes_total == 3
    assert out[(2, 1)].state == "x" and out[(2, 1)].valid_to is None
    assert len(out) == 4


def test_active_users_rolling_window(spark):
    """Hand-built activity: user 1 active days 1 and 7, user 2 day 1
    only. DAU exact per day; WAU counts users active in the trailing 7
    days; stickiness = dau/wau."""
    from datetime import datetime

    def ts(d):
        return datetime(2026, 1, d, 12, 0, 0)

    rows = [(1, ts(1)), (2, ts(1)), (1, ts(7)), (1, ts(7))]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {str(r.day): r for r in script_query("events_active_users", events=df).collect()}
    assert out["2026-01-01"].dau == 2 and out["2026-01-01"].wau == 2
    # day 7 trailing 7-day window covers days 1-7: both users active
    assert out["2026-01-07"].dau == 1 and out["2026-01-07"].wau == 2
    assert out["2026-01-07"].stickiness == 0.5
    # day 2: no activity that day -> no DAU row; day 8 appears in the
    # fan-out only via wau, which the inner join then drops
    assert "2026-01-02" not in out and "2026-01-08" not in out


def test_hll_distinct_estimate_within_flajolet_bound(spark):
    """HLL (m=64) on synthetic cardinalities: the estimate must land
    within ~3 sigma of exact (sigma = 1.04/sqrt(64) = 13%) — the gate
    that caught the affine-hash lattice bias (+86% before the
    xor-shift rounds were added to the lane)."""
    df = spark.range(1, 20_001).select(
        (F.col("id") % 4).cast("string").alias("event_type"),
        F.col("id").alias("user_id"),
    )
    for r in script_query("events_hll_users", events=df).collect():
        assert abs(r.rel_err) < 0.40, (r.event_type, r.rel_err)
        assert r.n_exact == 5000


def test_hll_registers_are_duplicate_insensitive(spark):
    """max-register sketches never need a pre-distinct: replicating
    every item 7x must give the IDENTICAL estimate."""
    base = spark.range(1, 2_001).select(
        F.lit("g").alias("event_type"), F.col("id").alias("user_id")
    )
    dup = base.crossJoin(spark.range(7)).select("event_type", "user_id")
    one = script_query("events_hll_users", events=base).collect()[0]
    many = script_query("events_hll_users", events=dup).collect()[0]
    assert one.est_distinct == many.est_distinct
    assert one.n_exact == many.n_exact == 2000


def test_top_customers_salted_rank_matches_flat_rank(spark):
    """The hierarchical (salted) top-k must equal a single flat rank
    window — the survival property: every nation's overall top-n is in
    some salt bucket's local top-n."""
    from pyspark.sql import Window

    orders = load(spark, SF_ORACLE, "orders")
    customer = load(spark, SF_ORACLE, "customer")
    nation = load(spark, SF_ORACLE, "nation")
    got = {
        (r.nation, r.rank): r.custkey
        for r in script_query(
            "orders_top_customers", orders=orders, customer=customer, nation=nation
        ).collect()
    }
    rev = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.round(F.sum("o_totalprice"), 6).alias("revenue")
    )
    flat = (
        rev.join(
            customer.select(
                F.col("c_custkey").alias("custkey"), "c_nationkey"
            ),
            "custkey",
        )
        .join(
            nation.select(
                F.col("n_nationkey").alias("c_nationkey"),
                F.col("n_name").alias("nation"),
            ),
            "c_nationkey",
        )
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("nation").orderBy(
                    F.desc("revenue"), F.asc("custkey")
                )
            ),
        )
        .filter(F.col("rank") <= 3)
    )
    want = {(r.nation, r.rank): r.custkey for r in flat.collect()}
    assert got == want and len(got) > 0


def test_revenue_pareto_invariants(spark):
    """Top-decile share and the 80%-coverage count obey their
    definitional bounds on the fixture."""
    from ksql_query_tutorial_spark.extensions import EXTENSION_QUERIES

    rows = EXTENSION_QUERIES["orders_pareto"](spark, SF_ORACLE).collect()
    assert len(rows) > 0
    for r in rows:
        # a decile of customers carries at least a decile of revenue
        # (top-ranked first), at most everything
        assert 0.1 <= r.top_decile_share <= 1.0, r
        assert 1 <= r.n_for_80pct <= r.n_customers, r
        assert 0 < r.pct_for_80pct <= 1.0, r
        # concentration: covering 80% of revenue never needs more than
        # 80% of customers unless revenue is perfectly uniform
        assert r.pct_for_80pct <= 0.9, r


def test_session_stats_hand_built_sessions(spark):
    """User 1: events at 0s, 10s (one session, 2 events, 10s long) and
    at +2h (a 1-event bounce session). User 2: one event (bounce). Day
    rollup: 3 sessions, 2 users, bounce_rate 2/3."""
    from datetime import datetime

    def ts(h, m, s):
        return datetime(2026, 1, 1, h, m, s)

    rows = [
        (1, 1, ts(8, 0, 0)),
        (2, 1, ts(8, 0, 10)),
        (3, 1, ts(10, 30, 0)),
        (4, 2, ts(9, 0, 0)),
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    out = script_query("events_sessions", events=df).collect()
    assert len(out) == 1
    r = out[0]
    assert str(r.day) == "2026-01-01"
    assert r.n_sessions == 3 and r.n_users == 2
    assert r.avg_session_sec == round(10 / 3, 6)
    assert r.avg_events == round(4 / 3, 6)
    assert r.bounce_rate == round(2 / 3, 6)


def test_bpe_merges_match_python_reference(spark):
    """The learned merge SEQUENCE must equal the classic reference
    implementation (Sennrich et al. 2016) on a corpus exercising ties
    (lexicographic break) and overlap runs ('aaaa' with rule (a,a) ->
    greedy non-overlapping [aa, aa])."""
    from ksql_query_tutorial_spark.operators.corpus import bpe_merges

    rows = [
        ("low low low low low lower lower newest newest newest "
         "newest newest newest widest widest widest",),
        ("aaaa aaaa aaaa ab",),
    ]
    df = spark.createDataFrame(rows, "text string")
    got = [
        (r.left_sym, r.right_sym, r.pair_count)
        for r in sorted(bpe_merges(df, n_merges=8).collect(),
                        key=lambda r: r.rank)
    ]

    def ref(wf, n):
        words = {tuple(list(w) + ["</w>"]): f for w, f in wf}
        out = []
        for _ in range(n):
            counts = {}
            for syms, f in words.items():
                for i in range(len(syms) - 1):
                    p = (syms[i], syms[i + 1])
                    counts[p] = counts.get(p, 0) + f
            if not counts:
                break
            (a, b), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
            out.append((a, b, c))
            new = {}
            for syms, f in words.items():
                s, i, n_ = [], 0, len(syms)
                while i < n_:
                    if i < n_ - 1 and syms[i] == a and syms[i + 1] == b:
                        s.append(a + b)
                        i += 2
                    else:
                        s.append(syms[i])
                        i += 1
                new[tuple(s)] = new.get(tuple(s), 0) + f
            words = new
        return out

    wf = [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3),
          ("aaaa", 3), ("ab", 1)]
    assert got == ref(wf, 8)
    assert got[0] == ("a", "a", 9)  # the overlap-run merge leads


def test_bpe_merges_caps_pathological_word_length(spark):
    """A 20k-char single-token document must not hang the greedy
    rewrite fold (O(L²) per word type): the trainer truncates words
    to max_word_chars before symbolization, so the adversarial token
    contributes only its prefix — and the learned rules match the
    python reference run on the SAME truncated word-frequency table."""
    from ksql_query_tutorial_spark.operators.corpus import bpe_merges

    df = spark.createDataFrame(
        [("x" * 20_000,), ("ab ab ab",)], "text string"
    )
    got = [
        (r.left_sym, r.right_sym, r.pair_count)
        for r in sorted(
            bpe_merges(df, n_merges=2, max_word_chars=8).collect(),
            key=lambda r: r.rank,
        )
    ]
    # truncated table: {'xxxxxxxx': 1, 'ab': 3} -> (x,x) runs first
    # (7 adjacent pairs -> greedy non-overlap leaves 4 'xx' islands),
    # then (a,b) at 3.
    assert got == [("x", "x", 7), ("a", "b", 3)]


def test_bpe_merges_empty_corpus_returns_schema_only(spark):
    from ksql_query_tutorial_spark.operators.corpus import bpe_merges

    out = bpe_merges(
        spark.createDataFrame([], "text string"), n_merges=4
    )
    assert out.columns == ["rank", "left_sym", "right_sym", "pair_count"]
    assert out.count() == 0


def test_column_profile_counts_nulls_and_distincts(spark):
    """profile_orders: exact per-column rows/nulls/distincts and typed
    min-max rendering on a toy orders frame with planted NULLs."""
    import datetime as dt

    d = dt.datetime
    orders = spark.createDataFrame(
        [(1, 7, "O", 2.5, d(2024, 1, 2, 3, 4, 5), "1-URGENT"),
         (2, 7, "F", None, d(2024, 1, 1), "2-HIGH"),
         (3, 8, "O", 7.25, None, "1-URGENT"),
         (4, 9, "O", None, d(2024, 2, 1), None)],
        "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double,"
        " o_orderdate timestamp_ntz, o_orderpriority string",
    )
    rows = {r["column"]: r for r in script_query("profile_orders", orders=orders).collect()}
    assert rows["o_orderkey"]["n_rows"] == 4
    assert rows["o_orderkey"]["n_null"] == 0
    assert rows["o_orderkey"]["n_distinct"] == 4
    assert (rows["o_orderkey"]["min_value"], rows["o_orderkey"]["max_value"]) == ("1", "4")
    assert rows["o_custkey"]["n_distinct"] == 3
    assert rows["o_totalprice"]["n_null"] == 2
    assert rows["o_totalprice"]["n_distinct"] == 2
    assert rows["o_totalprice"]["min_value"] == "2.500000"
    assert rows["o_totalprice"]["max_value"] == "7.250000"
    assert rows["o_orderdate"]["n_null"] == 1
    assert rows["o_orderdate"]["min_value"] == "2024-01-01 00:00:00"
    assert rows["o_orderdate"]["max_value"] == "2024-02-01 00:00:00"
    assert rows["o_orderpriority"]["n_null"] == 1
    assert rows["o_orderpriority"]["n_distinct"] == 2
    assert (rows["o_orderstatus"]["min_value"], rows["o_orderstatus"]["max_value"]) == ("F", "O")


def test_decayed_engagement_halflife_weights(spark):
    """events_decay: an event exactly one half-life (7 days) before the
    corpus max weighs 0.5; the latest event weighs 1.0."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.createDataFrame(
        [
            (1, "2024-01-08 00:00:00", 10.0),
            (1, "2024-01-01 00:00:00", 4.0),
            (2, "2024-01-08 00:00:00", 6.0),
        ],
        "user_id long, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    out = {r["user_id"]: r for r in script_query("events_decay", events=df).collect()}
    # user 1: 10*1.0 + 4*0.5 = 12.0 ; user 2: 6*1.0
    assert out[1]["decayed_value"] == 12.0
    assert out[1]["n_events"] == 2
    assert out[2]["decayed_value"] == 6.0


def test_levenshtein_pairs_blocking_and_cap(spark):
    """levenshtein_pairs: same-block small-edit pairs surface with the
    right distance; cross-block edits are (by design) not candidates;
    the max_block valve drops a planted mega-block."""
    from ksql_query_tutorial_spark.operators.dedup import levenshtein_pairs

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),
        (2, base.replace("lazy", "hazy")),          # same block, dist 1
        (3, "zzz " + base),                         # different block
        (4, None),                                  # null text survives
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = levenshtein_pairs(df, max_block=32, max_dist=8).collect()
    assert [(r["id_a"], r["id_b"], r["edit_distance"]) for r in got] == [
        (1, 2, 1)
    ]

    mega = [(i, "constant prefix shared by every doc " + ("x" * (i % 3)))
            for i in range(10, 30)]
    df2 = spark.createDataFrame(mega, "doc_id long, text string")
    capped = levenshtein_pairs(df2, max_block=5)
    assert capped.count() == 0
    uncapped = levenshtein_pairs(df2, max_block=len(mega))
    assert uncapped.count() > 0


def test_inverted_index_postings_capped_and_sorted(spark):
    """corpus_index: postings are the 10 SMALLEST doc ids in sorted
    order regardless of partitioning; df counts docs, cf counts
    occurrences; df >= 2 prunes singletons."""
    docs = [(i, "alpha beta " + ("alpha " if i % 2 == 0 else "gamma "))
            for i in range(1, 41)] + [(41, "delta")]
    df = spark.createDataFrame(docs, "doc_id long, text string").repartition(8)
    out = {r["term"]: r for r in script_query("corpus_index", documents=df).collect()}
    assert out["alpha"]["df"] == 40
    assert out["alpha"]["cf"] == 60          # doubled in 20 even docs
    assert out["alpha"]["postings"] == "1,2,3,4,5,6,7,8,9,10"
    assert out["gamma"]["df"] == 20
    assert out["gamma"]["postings"] == "1,3,5,7,9,11,13,15,17,19"
    assert "beta" in out and out["beta"]["postings"] == "1,2,3,4,5,6,7,8,9,10"
    assert "delta" not in out


def test_k_anonymity_histogram_and_flags(spark):
    """privacy_k_anonymity on a toy customer table: class sizes,
    histogram counts, and the at-risk flag at the k = 5 threshold."""
    df = spark.createDataFrame(
        [(1, "A")] * 5 + [(2, "B")] * 4 + [(3, "C"), (4, "D")],
        "c_nationkey long, c_mktsegment string",
    )
    rows = {r["class_size"]: r for r in
            script_query("privacy_k_anonymity", customer=df).collect()}
    assert rows[1]["n_classes"] == 2 and rows[1]["n_rows"] == 2
    assert rows[1]["at_risk"] is True
    assert rows[4]["at_risk"] is True
    assert rows[5]["n_classes"] == 1 and rows[5]["at_risk"] is False


def test_seasonal_baseline_known_errors(spark):
    """events_seasonal_baseline (a 168-hour period) on a hand-built
    series: scored hours and MAE/bias match hand computation."""
    import datetime as dt

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    t0 = dt.datetime(2024, 1, 1, 0)
    rows = []
    # type 'a': hour 0 -> 2 events, hour 168 -> 3 events, hour 336 -> 1
    for h, n in [(0, 2), (168, 3), (336, 1)]:
        rows += [("a", t0 + dt.timedelta(hours=h))] * n
    df = spark.createDataFrame(rows, "event_type string, ts timestamp_ntz")
    out = script_query("events_seasonal_baseline", events=df).collect()
    assert len(out) == 1
    r = out[0]
    # scored: hour 168 (pred 2, actual 3, err +1), hour 336 (pred 3, actual 1, err -2)
    assert r["n_hours"] == 2
    assert r["mae"] == 1.5
    assert r["bias"] == -0.5


def test_label_propagation_clamps_votes_and_tiebreaks(spark):
    """label_propagation on a hand-built path graph: seeds stay
    clamped, majorities propagate, ties break to the smallest label,
    and components with no labeled node stay NULL."""
    from ksql_query_tutorial_spark.operators.graph import label_propagation

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6)], "id_a long, id_b long"
    )
    seeds = spark.createDataFrame(
        [(1, "en"), (2, None), (3, None), (4, "fr"), (5, None), (6, None)],
        "id long, seed_label string",
    )
    out = {r["id"]: r for r in
           label_propagation(pairs, seeds, iterations=3).collect()}
    assert out[1]["label"] == "en" and out[1]["is_seed"]
    assert out[4]["label"] == "fr" and out[4]["is_seed"]
    # node 2: round-2 tie {en, fr} -> 'en' (lexicographic); stays en
    assert out[2]["label"] == "en" and not out[2]["is_seed"]
    # node 3: round-2 tie {en, fr} -> 'en'
    assert out[3]["label"] == "en"
    # unlabeled component stays NULL
    assert out[5]["label"] is None and out[6]["label"] is None


def test_linear_attribution_credit_split_and_none_bucket(spark):
    """events_multitouch on a hand-built journey: equal split across
    in-TTL touches, strict same-instant exclusion, and the (none)
    bucket including conversions with NO preceding events at all."""
    import datetime as dt

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    t0 = dt.datetime(2024, 1, 1, 12)
    m = dt.timedelta(minutes=1)
    rows = [
        # user 1: click, view, view -> purchase: credit 1/3 + 2/3
        (1, "click", t0), (1, "view", t0 + m), (1, "view", t0 + 2 * m),
        (1, "purchase", t0 + 3 * m),
        # user 2: purchase with no history -> (none)
        (2, "purchase", t0),
        # user 3: touch AT the same instant as conversion -> excluded
        (3, "click", t0), (3, "purchase", t0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp_ntz"
    )
    out = {r["touch_type"]: r for r in script_query("events_multitouch", events=df).collect()}
    assert out["click"]["reached_conversions"] == 1
    assert abs(out["click"]["credit"] - 1 / 3) < 1e-6
    assert out["view"]["reached_conversions"] == 1
    assert abs(out["view"]["credit"] - 2 / 3) < 1e-6
    assert out["(none)"]["reached_conversions"] == 2


def test_column_correlations_known_values(spark):
    """lineitem_correlations: price = 2 x quantity gives corr exactly 1;
    an anti-correlated discount gives -1; all six pairs come back."""
    li = spark.createDataFrame(
        [(1.0, 2.0, 3.0, 1.0), (2.0, 4.0, 2.0, 1.0), (3.0, 6.0, 1.0, 2.0)],
        "l_quantity double, l_extendedprice double, l_discount double, l_tax double",
    )
    out = {(r["col_x"], r["col_y"]): r["corr"] for r in
           script_query("lineitem_correlations", lineitem=li).collect()}
    assert len(out) == 6
    assert out[("l_quantity", "l_extendedprice")] == 1.0
    assert out[("l_quantity", "l_discount")] == -1.0
    assert out[("l_extendedprice", "l_discount")] == -1.0


def test_ab_test_known_z_and_degenerate_guard(spark):
    """events_ab_test: hand-built arms with known rates produce
    the textbook two-proportion z; an all-converted corpus yields a
    NULL z (se = 0), never an error."""
    import math

    def ab_test(df):
        return script_query("events_ab_test", events=df)

    # arm = user_id % 2 (the portable hash reduces to parity).
    # arm0 users 2,4,6,8 (conv: 2,4) -> rate 0.5
    # arm1 users 1,3,5,7 (conv: 1)   -> rate 0.25
    rows = []
    for u in (2, 4, 6, 8, 1, 3, 5, 7):
        rows.append((u, "view"))
    for u in (2, 4, 1):
        rows.append((u, "purchase"))
    df = spark.createDataFrame(rows, "user_id long, event_type string")
    r = ab_test(df).collect()[0]
    assert (r["n_a"], r["n_b"]) == (4, 4)
    assert (r["rate_a"], r["rate_b"]) == (0.5, 0.25)
    p = 3 / 8
    z = (0.25 - 0.5) / math.sqrt(p * (1 - p) * (1 / 4 + 1 / 4))
    assert abs(r["z"] - z) < 1e-6

    all_conv = spark.createDataFrame(
        [(1, "purchase"), (2, "purchase")], "user_id long, event_type string"
    )
    r2 = ab_test(all_conv).collect()[0]
    assert r2["z"] is None and r2["lift"] == 0.0


def test_cohort_ltv_hand_built_curve(spark):
    """orders_cohort_ltv on a toy order log: offsets, actives, and the
    cumulative per-member revenue match hand computation."""
    import datetime as dt

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    d = dt.datetime
    rows = [
        # cohort Jan: customers 1, 2
        (1, d(2024, 1, 5), 10.0), (2, d(2024, 1, 20), 20.0),
        (1, d(2024, 2, 1), 30.0),                       # offset 1
        # cohort Feb: customer 3
        (3, d(2024, 2, 15), 40.0),
    ]
    df = spark.createDataFrame(
        rows, "o_custkey long, o_orderdate timestamp_ntz, o_totalprice double"
    )
    out = {(str(r["cohort_month"]), r["month_offset"]): r
           for r in script_query("orders_cohort_ltv", orders=df).collect()}
    jan0 = out[("2024-01-01", 0)]
    assert jan0["n_customers"] == 2 and jan0["revenue"] == 30.0
    assert jan0["cum_revenue_per_customer"] == 15.0
    jan1 = out[("2024-01-01", 1)]
    assert jan1["n_customers"] == 1 and jan1["revenue"] == 30.0
    assert jan1["cum_revenue_per_customer"] == 30.0   # (30+30)/2
    feb0 = out[("2024-02-01", 0)]
    assert feb0["cum_revenue_per_customer"] == 40.0


def test_audio_windows_boundaries_and_short_clip(spark):
    """audio_windows: window count, overlap boundaries, and the
    single-truncated-window short-clip rule on hand-built payloads."""
    from ksql_query_tutorial_spark.operators import multimodal

    # 40000 bytes -> 20000 samples -> windows at 0 and 8000 (idx 0, 1);
    # 2000 bytes -> 1000 samples -> one truncated window.
    docs = spark.createDataFrame(
        [(1, "x" * 40000), (4, "y" * 2000), (2, "not audio")],
        "doc_id long, text string",
    )
    m = multimodal.media_from_documents(docs)
    out = multimodal.audio_windows(m).collect()
    by_media = {}
    for r in out:
        by_media.setdefault(r["media_id"], []).append(r)
    assert sorted(by_media) == [1, 4]          # doc 2 % 3 == 2 -> video
    w1 = sorted(by_media[1], key=lambda r: r["window_idx"])
    assert [r["window_idx"] for r in w1] == [0, 1]
    assert (w1[0]["start_ms"], w1[0]["end_ms"]) == (0, 1000)
    assert (w1[1]["start_ms"], w1[1]["end_ms"]) == (500, 1500)
    assert w1[0]["n_samples_in_window"] == 16000
    assert w1[1]["n_samples_in_window"] == 12000   # 20000 - 8000
    w4 = by_media[4]
    assert len(w4) == 1 and w4[0]["n_samples_in_window"] == 1000


def test_large_volume_having_join_back(spark):
    """orders_large_volume on a toy order log: only orders over the
    threshold (250) survive, with the right rollup and customer detail."""
    import datetime as dt

    d = dt.datetime
    customer = spark.createDataFrame(
        [(1, "alice"), (2, "bob")], "c_custkey long, c_name string"
    )
    orders = spark.createDataFrame(
        [(10, 1, d(2024, 1, 1), 100.0), (11, 2, d(2024, 1, 2), 200.0)],
        "o_orderkey long, o_custkey long, o_orderdate timestamp_ntz,"
        " o_totalprice double",
    )
    lineitem = spark.createDataFrame(
        [(10, 130.0), (10, 125.0), (11, 200.0)],
        "l_orderkey long, l_quantity double",
    )
    out = script_query(
        "orders_large_volume", customer=customer, orders=orders, lineitem=lineitem
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r["orderkey"] == 10 and r["c_name"] == "alice"
    assert r["total_qty"] == 255.0


def test_gap_fill_hand_built_series(spark):
    """events_gap_fill: spine densifies missing days, forward fill
    carries the last observed value, leading gap stays NULL."""
    import datetime as dt

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    d = dt.datetime
    rows = [
        (1, d(2024, 1, 1, 9), "purchase", 10.0),
        (1, d(2024, 1, 1, 10), "purchase", 5.0),
        (1, d(2024, 1, 4, 9), "purchase", 7.0),   # 2-day gap before
        (1, d(2024, 1, 2, 9), "click", 99.0),     # filtered out
        (2, d(2024, 1, 2, 9), "purchase", 3.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp_ntz, event_type string, value double"
    )
    out = {(r["user_id"], str(r["day"])): r
           for r in script_query("events_gap_fill", events=df).collect()}
    assert len(out) == 5          # user 1: Jan 1-4 (4 days); user 2: 1 day
    a = out[(1, "2024-01-01")]
    assert (a["n_events"], a["observed"], a["filled_rev"]) == (2, 1, 15.0)
    g2 = out[(1, "2024-01-02")]
    assert (g2["n_events"], g2["observed"], g2["filled_rev"]) == (0, 0, 15.0)
    g3 = out[(1, "2024-01-03")]
    assert g3["filled_rev"] == 15.0 and g3["observed"] == 0
    b = out[(1, "2024-01-04")]
    assert (b["observed"], b["filled_rev"]) == (1, 7.0)
    assert out[(2, "2024-01-02")]["filled_rev"] == 3.0


def test_open_order_backlog_hand_built(spark):
    """orders_backlog: +1/-1 delta events reconstruct the open
    count; the day after the last shipment closes the order."""
    import datetime as dt

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    d = dt.datetime
    orders = spark.createDataFrame(
        [(1, d(2024, 1, 1), "P"), (2, d(2024, 1, 2), "P")],
        "o_orderkey long, o_orderdate timestamp_ntz, o_orderpriority string",
    )
    lineitem = spark.createDataFrame(
        [(1, d(2024, 1, 2)), (1, d(2024, 1, 3)), (2, d(2024, 1, 2))],
        "l_orderkey long, l_shipdate timestamp_ntz",
    )
    out = {str(r["day"]): (r["delta_net"], r["open_orders"])
           for r in script_query("orders_backlog", orders=orders, lineitem=lineitem).collect()}
    assert out == {
        "2024-01-01": (1, 1),   # order 1 opens
        "2024-01-02": (1, 2),   # order 2 opens
        "2024-01-03": (-1, 1),  # order 2 closed (last ship Jan 2)
        "2024-01-04": (-1, 0),  # order 1 closed (last ship Jan 3)
    }


def test_equidepth_bins_uniform_values(spark):
    """orders_equidepth_bins: one value per 5000-wide pre-bin over a
    uniform toy column makes the four bins exactly equal depth."""
    orders = spark.createDataFrame(
        [("P", 5000.0 * v + 2500.0) for v in range(1, 9)],
        "o_orderpriority string, o_totalprice double",
    )
    out = {r["bin"]: r for r in
           script_query("orders_equidepth_bins", orders=orders).collect()}
    assert sorted(out) == [0, 1, 2, 3]
    assert all(out[b]["n_orders"] == 2 for b in out)
    assert out[0]["min_price"] == 7500.0 and out[0]["max_price"] == 12500.0
    assert out[3]["min_price"] == 37500.0 and out[3]["max_price"] == 42500.0


def test_spend_ranks_tie_semantics(spark):
    """customer_spend_ranks: rank vs dense_rank across a spend tie,
    percent_rank/cume_dist textbook values on a 4-customer segment."""
    customer = spark.createDataFrame(
        [(i, "SEG") for i in (1, 2, 3, 4)],
        "c_custkey long, c_mktsegment string",
    )
    orders = spark.createDataFrame(
        [(1, 100.0), (2, 100.0), (3, 50.0), (4, 25.0)],
        "o_custkey long, o_totalprice double",
    )
    out = {r["custkey"]: r for r in
           script_query("customer_spend_ranks", customer=customer, orders=orders).collect()}
    # order key (spend DESC, custkey) is total: 1, 2 tie on spend
    assert (out[1]["rnk"], out[2]["rnk"]) == (1, 2)
    assert out[3]["rnk"] == 3 and out[3]["dense_rnk"] == 3
    assert out[1]["pct_rank"] == 0.0
    assert out[4]["pct_rank"] == 1.0 and out[4]["cume"] == 1.0
    assert out[2]["cume"] == 0.5


def test_benford_string_digit_extraction(spark):
    """audit_benford: leading digits from integer cents (9.99 -> 9,
    not a log10 float edge), non-positive rows excluded, shares sum
    to 1."""
    orders = spark.createDataFrame(
        [(9.99,), (1000.0,), (10.0,), (1.0,), (0.0,), (199.0,)],
        "o_totalprice double",
    )
    rows = script_query("audit_benford", orders=orders).collect()
    got = {r["digit"]: r["n"] for r in rows}
    assert got == {9: 1, 1: 4}        # 1000.0, 10.0, 1.0, 199.0 lead with 1
    shares = sum(r["observed_share"] for r in rows)
    assert abs(shares - 1.0) < 1e-9
    b1 = [r for r in rows if r["digit"] == 1][0]
    assert abs(b1["benford_share"] - 0.30103) < 1e-5


def test_pca_power_recovers_dominant_axis(spark):
    """pca_top_component: on a toy corpus whose variance is
    concentrated on axis 0 (large spectral gap), three power
    iterations recover the axis: |loading_0| ~ 1, unit norm,
    var_share ~ 1."""
    from ksql_query_tutorial_spark.operators.similarity import (
        pca_top_component,
    )

    rows = []
    for k in range(40):
        spread = (k - 20) / 10.0           # dominant axis 0
        wiggle = ((k * 7) % 5 - 2) / 100.0  # tiny axis-1 noise
        rows.append((k, [spread, wiggle, 0.0, 0.0]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["j"]: r for r in pca_top_component(df).collect()}
    assert sorted(out) == [0, 1, 2, 3]
    assert abs(abs(out[0]["loading"]) - 1.0) < 1e-3
    norm2 = sum(r["loading"] ** 2 for r in out.values())
    assert abs(norm2 - 1.0) < 1e-6
    assert out[0]["var_share"] > 0.99
    assert out[0]["eigenvalue"] > 0


def test_pca_project_matches_manual_dot(spark):
    """pca_project: the per-row projection equals the manual dot
    product with the fit's loadings, and projecting the dominant-axis
    toy spreads rows in axis-0 order."""
    from ksql_query_tutorial_spark.operators.similarity import (
        pca_project,
        pca_top_component,
    )

    rows = []
    for k in range(40):
        spread = (k - 20) / 10.0
        wiggle = ((k * 7) % 5 - 2) / 100.0
        rows.append((k, [spread, wiggle, 0.0, 0.0]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    loadings = {r["j"]: r["loading"]
                for r in pca_top_component(df).collect()}
    projs = {r["vec_id"]: r["proj"] for r in pca_project(df).collect()}
    assert len(projs) == 40
    for k, emb in [(0, rows[0][1]), (39, rows[39][1])]:
        manual = sum(x * loadings[i] for i, x in enumerate(emb))
        assert abs(projs[k] - round(manual, 6)) <= 1e-6
    # dominant axis ordering survives projection (up to global sign)
    ordered = [projs[k] for k in range(40)]
    assert ordered == sorted(ordered) or ordered == sorted(ordered, reverse=True)


def test_ols_textbook_line_and_degenerate_guard(spark):
    """ols_regression: exact fit on a noiseless line (slope/intercept/
    R²=1); zero-variance x yields NULL slope, not a crash."""
    from ksql_query_tutorial_spark.operators.analytics import ols_regression

    line = spark.createDataFrame(
        [("a", float(x), 2.0 * x + 1.0) for x in range(5)]
        + [("b", 3.0, 7.0), ("b", 3.0, 9.0)],   # x constant in group b
        "g string, x double, y double",
    )
    out = {r["g"]: r for r in
           ols_regression(line, "x", "y", "g").collect()}
    a = out["a"]
    assert abs(a["slope"] - 2.0) < 1e-9
    assert abs(a["intercept"] - 1.0) < 1e-9
    assert abs(a["r2"] - 1.0) < 1e-9
    b = out["b"]
    assert b["slope"] is None and b["r2"] is None


def test_lang_confusion_hand_built(spark):
    """lang_confusion: declared-vs-predicted cells, per-true-lang
    shares, unsupported language routes to 'xx'."""
    from ksql_query_tutorial_spark.operators.text import lang_confusion

    docs = spark.createDataFrame(
        [
            (1, "en", "the cat and the dog is in a house of to in"),
            (2, "en", "the dog is a pet and is of the to in"),
            (3, "de", "der hund und die katze ist nicht ein tier"),
            (4, "zh", "mao he gou zai fangzi li"),   # no marker words
        ],
        "doc_id long, lang string, text string",
    )
    out = {(r["lang_true"], r["lang_pred"]): r
           for r in lang_confusion(docs).collect()}
    assert out[("en", "en")]["n"] == 2
    assert out[("en", "en")]["share"] == 1.0
    assert out[("en", "en")]["correct"] == 1
    assert out[("de", "de")]["n"] == 1
    assert out[("zh", "xx")]["n"] == 1 and out[("zh", "xx")]["correct"] == 0


def test_zipf_fit_on_synthetic_power_law(spark):
    """zipf_fit: a corpus whose term counts follow freq = C/rank
    exactly fits slope -1 with R² = 1."""
    from ksql_query_tutorial_spark.operators.corpus import zipf_fit

    # term t_r appears floor(2^12 / 2^(r-1)) times: counts 4096, 2048,
    # 1024 ... exact powers so ln-space is perfectly linear in ln(2^k)
    # — but that's linear in rank EXPONENT, not rank. Instead build
    # freq = 720/rank for ranks 1..6 (720 divisible by each).
    words = []
    for r in range(1, 7):
        words += [f"w{r}"] * (720 // r)
    docs = spark.createDataFrame(
        [(1, " ".join(words))], "doc_id long, text string"
    )
    row = zipf_fit(docs, top_k=6).collect()[0]
    assert row["n"] == 6
    assert abs(row["slope"] + 1.0) < 1e-6
    assert abs(row["r2"] - 1.0) < 1e-6


def test_top_revenue_suppliers_tie_safe(spark):
    """supplier_top_revenue: every supplier at the max survives (ties
    kept), and the max is over the window-filtered revenue only."""
    sup = spark.createDataFrame(
        [(1, "Sup A"), (2, "Sup B"), (3, "Sup C")],
        "s_suppkey long, s_name string",
    )
    li = spark.createDataFrame(
        [
            # inside the window: suppliers 1 and 2 tie at 100.0
            (1, 100.0, 0.0, "1997-02-01"),
            (2, 50.0, 0.0, "1997-02-01"),
            (2, 50.0, 0.0, "1997-03-01"),
            (3, 30.0, 0.0, "1997-02-01"),
            # outside the window: would make supplier 3 the max
            (3, 500.0, 0.0, "1998-01-01"),
        ],
        "l_suppkey long, l_extendedprice double, l_discount double, d string",
    ).selectExpr(
        "l_suppkey", "l_extendedprice", "l_discount",
        "cast(d as timestamp) as l_shipdate",
    )
    rows = script_query("supplier_top_revenue", supplier=sup, lineitem=li).collect()
    assert [(r["suppkey"], r["total_revenue"]) for r in rows] == [
        (1, 100.0),
        (2, 100.0),
    ]


def test_rich_inactive_customers_threshold_and_anti(spark):
    """customer_rich_inactive: negative balances excluded from the
    threshold, recent-order placers excluded, stale orders ignored."""
    cust = spark.createDataFrame(
        [
            # positive-average = (100 + 300 + 200 + 250 + 260) / 5 = 222
            (1, "SEG_A", 100.0),   # below threshold -> dropped
            (2, "SEG_A", 300.0),   # above, no orders at all -> kept
            (3, "SEG_B", 200.0),   # below threshold -> dropped
            (4, "SEG_B", -500.0),  # negative: not in threshold
            (5, "SEG_B", 250.0),   # above but ordered RECENTLY -> dropped
            (6, "SEG_B", 260.0),   # above, only a STALE order -> kept
        ],
        "c_custkey long, c_mktsegment string, c_acctbal double",
    )
    orders = spark.createDataFrame(
        [(5, "1999-06-01"), (6, "1997-01-01")],
        "o_custkey long, d string",
    ).selectExpr("o_custkey", "cast(d as timestamp) as o_orderdate")
    rows = script_query("customer_rich_inactive", customer=cust, orders=orders).collect()
    assert [(r["segment"], r["n_customers"], r["total_acctbal"])
            for r in rows] == [("SEG_A", 1, 300.0), ("SEG_B", 1, 260.0)]


def test_promo_revenue_share_hand_built(spark):
    """part_promo_share: per-month promo share of discounted revenue."""
    part = spark.createDataFrame(
        [(1, "PROMO"), (2, "STANDARD")], "p_partkey long, p_type string"
    )
    li = spark.createDataFrame(
        [
            (1, 100.0, 0.0, "1997-01-05"),
            (2, 300.0, 0.0, "1997-01-20"),
            (2, 80.0, 0.5, "1997-02-01"),
        ],
        "l_partkey long, l_extendedprice double, l_discount double, d string",
    ).selectExpr(
        "l_partkey", "l_extendedprice", "l_discount",
        "cast(d as timestamp) as l_shipdate",
    )
    rows = script_query("part_promo_share", part=part, lineitem=li).collect()
    jan, feb = rows
    assert jan["promo_revenue"] == 100.0 and jan["total_revenue"] == 400.0
    assert jan["promo_pct"] == 25.0
    assert feb["promo_revenue"] == 0.0 and feb["total_revenue"] == 40.0
    assert feb["promo_pct"] == 0.0


def test_nation_trade_flows_routes_both_paths(spark):
    """nation_trade_flows: the supplier nation comes from the lineitem
    side, the customer nation from the orders side."""
    nation = spark.createDataFrame(
        [(10, "FRANCE"), (20, "GERMANY")], "n_nationkey long, n_name string"
    )
    sup = spark.createDataFrame([(1, 10)], "s_suppkey long, s_nationkey long")
    cust = spark.createDataFrame([(7, 20)], "c_custkey long, c_nationkey long")
    orders = spark.createDataFrame([(500, 7)], "o_orderkey long, o_custkey long")
    li = spark.createDataFrame(
        [(500, 1, 200.0, 0.1, "1996-06-15")],
        "l_orderkey long, l_suppkey long, l_extendedprice double, "
        "l_discount double, d string",
    ).selectExpr(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount",
        "cast(d as timestamp) as l_shipdate",
    )
    rows = script_query("nation_trade_flows", supplier=sup, customer=cust, orders=orders,
                        lineitem=li, nation=nation).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["supp_nation"], r["cust_nation"], r["ship_year"]) == (
        "FRANCE", "GERMANY", 1996,
    )
    assert r["revenue"] == 180.0 and r["n_items"] == 1


def test_disjunctive_band_revenue_band_isolation(spark):
    """part_band_revenue: a row counts only when BOTH its part band
    attributes and its own quantity fall in the same band."""
    part = spark.createDataFrame(
        [
            (1, "Brand#12", 5),    # band 1 part
            (2, "Brand#23", 20),   # band 2 part
            (3, "Brand#12", 40),   # band-1 brand, size outside -> never
        ],
        "p_partkey long, p_brand string, p_size int",
    )
    li = spark.createDataFrame(
        [
            (1, 10.0, 100.0, 0.0),   # qty in band-1 range -> counted
            (1, 30.0, 100.0, 0.0),   # qty outside band 1 -> dropped
            (2, 25.0, 50.0, 0.0),    # band 2 -> counted
            (3, 10.0, 70.0, 0.0),    # size mismatch -> dropped
        ],
        "l_partkey long, l_quantity double, l_extendedprice double, "
        "l_discount double",
    )
    rows = script_query("part_band_revenue", part=part, lineitem=li).collect()
    assert [(r["band"], r["revenue"], r["n_items"]) for r in rows] == [
        ("Brand#12", 100.0, 1),
        ("Brand#23", 50.0, 1),
    ]


def test_order_priority_check_exists_once(spark):
    """orders_priority_check: an order with TWO late lines counts once,
    on-time-only orders and out-of-window orders never count."""
    orders = spark.createDataFrame(
        [
            (1, "1-URGENT", "1997-01-10"),   # two late lines -> counts 1
            (2, "1-URGENT", "1997-02-01"),   # on-time only -> dropped
            (3, "5-LOW", "1996-12-31"),      # outside window -> dropped
            (4, "5-LOW", "1997-03-01"),      # one late line -> counts
        ],
        "o_orderkey long, o_orderpriority string, d string",
    ).selectExpr(
        "o_orderkey", "o_orderpriority", "cast(d as timestamp) as o_orderdate"
    )
    li = spark.createDataFrame(
        [
            (1, "1997-06-01"),  # late (>60d)
            (1, "1997-07-01"),  # late again (same order)
            (2, "1997-02-10"),  # on time
            (3, "1999-01-01"),  # late but order outside window
            (4, "1997-06-01"),  # late
        ],
        "l_orderkey long, d string",
    ).selectExpr("l_orderkey", "cast(d as timestamp) as l_shipdate")
    rows = script_query("orders_priority_check", orders=orders, lineitem=li).collect()
    assert [(r["priority"], r["order_count"]) for r in rows] == [
        ("1-URGENT", 1),
        ("5-LOW", 1),
    ]


def test_local_supplier_volume_same_nation_only(spark):
    """nation_local_volume: only lines whose supplier shares the
    customer's nation count, and only for the chosen region/window."""
    region = spark.createDataFrame(
        [(0, "ASIA"), (1, "EUROPE")], "r_regionkey long, r_name string"
    )
    nation = spark.createDataFrame(
        [(10, "JAPAN", 0), (20, "FRANCE", 1)],
        "n_nationkey long, n_name string, n_regionkey long",
    )
    cust = spark.createDataFrame(
        [(7, 10), (8, 20)], "c_custkey long, c_nationkey long"
    )
    sup = spark.createDataFrame(
        [(1, 10), (2, 20)], "s_suppkey long, s_nationkey long"
    )
    orders = spark.createDataFrame(
        [(100, 7, "1996-05-01"), (200, 8, "1996-06-01")],
        "o_orderkey long, o_custkey long, d string",
    ).selectExpr(
        "o_orderkey", "o_custkey", "cast(d as timestamp) as o_orderdate"
    )
    li = spark.createDataFrame(
        [
            (100, 1, 100.0, 0.0),  # JAPAN cust, JAPAN supp -> counted
            (100, 2, 50.0, 0.0),   # JAPAN cust, FRANCE supp -> dropped
            (200, 2, 70.0, 0.0),   # FRANCE cust (EUROPE region) -> dropped
        ],
        "l_orderkey long, l_suppkey long, l_extendedprice double, "
        "l_discount double",
    )
    rows = script_query("nation_local_volume", customer=cust, orders=orders, lineitem=li,
                        supplier=sup, nation=nation, region=region).collect()
    assert [(r["nation"], r["revenue"], r["n_items"]) for r in rows] == [
        ("JAPAN", 100.0, 1)
    ]


def test_national_market_share_inside_one_aggregate(spark):
    """nation_market_share: share = target/total within the year cell;
    off-region customers and off-type parts never contribute."""
    region = spark.createDataFrame(
        [(0, "ASIA"), (1, "EUROPE")], "r_regionkey long, r_name string"
    )
    nation = spark.createDataFrame(
        [(10, "NATION_7", 0), (11, "CHINA", 0), (20, "FRANCE", 1)],
        "n_nationkey long, n_name string, n_regionkey long",
    )
    cust = spark.createDataFrame(
        [(7, 10), (8, 20)], "c_custkey long, c_nationkey long"
    )
    sup = spark.createDataFrame(
        [(1, 10), (2, 11)], "s_suppkey long, s_nationkey long"
    )
    part = spark.createDataFrame(
        [(1, "PROMO"), (2, "STANDARD")], "p_partkey long, p_type string"
    )
    orders = spark.createDataFrame(
        [(100, 7, "1996-05-01"), (200, 8, "1996-06-01")],
        "o_orderkey long, o_custkey long, d string",
    ).selectExpr(
        "o_orderkey", "o_custkey", "cast(d as timestamp) as o_orderdate"
    )
    li = spark.createDataFrame(
        [
            (100, 1, 1, 300.0, 0.0),  # NATION_7 supp, PROMO -> target
            (100, 2, 1, 100.0, 0.0),  # CHINA supp, PROMO -> total only
            (100, 1, 2, 999.0, 0.0),  # STANDARD part -> dropped
            (200, 1, 1, 500.0, 0.0),  # EUROPE customer -> dropped
        ],
        "l_orderkey long, l_suppkey long, l_partkey long, "
        "l_extendedprice double, l_discount double",
    )
    rows = script_query("nation_market_share", customer=cust, orders=orders, lineitem=li,
                        supplier=sup, nation=nation, region=region, part=part).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["order_year"], r["target_revenue"], r["total_revenue"]) == (
        1996, 300.0, 400.0,
    )
    assert r["mkt_share"] == 0.75


def test_supplier_nation_profit_cost_proxy(spark):
    """supplier_profit: profit = discounted revenue minus the
    retail-price cost proxy; non-matching part names drop out."""
    nation = spark.createDataFrame(
        [(10, "JAPAN")], "n_nationkey long, n_name string"
    )
    sup = spark.createDataFrame([(1, 10)], "s_suppkey long, s_nationkey long")
    part = spark.createDataFrame(
        [(1, "red widget", 10.0), (2, "blue bolt", 99.0)],
        "p_partkey long, p_name string, p_retailprice double",
    )
    orders = spark.createDataFrame(
        [(100, "1996-05-01")], "o_orderkey long, d string"
    ).selectExpr("o_orderkey", "cast(d as timestamp) as o_orderdate")
    li = spark.createDataFrame(
        [
            # revenue 200*(1-0.1)=180, cost 0.6*10*2=12 -> profit 168
            (100, 1, 1, 200.0, 0.1, 2.0),
            (100, 1, 2, 500.0, 0.0, 1.0),  # name has no 'red' -> dropped
        ],
        "l_orderkey long, l_suppkey long, l_partkey long, "
        "l_extendedprice double, l_discount double, l_quantity double",
    )
    rows = script_query("supplier_profit", lineitem=li, orders=orders, supplier=sup,
                        nation=nation, part=part).collect()
    assert [(r["nation"], r["order_year"], r["profit"], r["n_items"])
            for r in rows] == [("JAPAN", 1996, 168.0, 1)]


def test_ship_lag_priority_band_routing(spark):
    """orders_ship_lag: lag bands split at the boundaries and the
    priority CASE routes urgent/high vs the rest."""
    orders = spark.createDataFrame(
        [
            (1, "1-URGENT", "1996-01-01"),
            (2, "3-MEDIUM", "1996-01-01"),
        ],
        "o_orderkey long, o_orderpriority string, d string",
    ).selectExpr(
        "o_orderkey", "o_orderpriority", "cast(d as timestamp) as o_orderdate"
    )
    li = spark.createDataFrame(
        [
            (1, "1996-01-31"),  # 30d -> band 1, high
            (1, "1996-03-31"),  # 90d -> band 2, high
            (2, "1996-04-01"),  # 91d -> band 3, low
        ],
        "l_orderkey long, d string",
    ).selectExpr("l_orderkey", "cast(d as timestamp) as l_shipdate")
    rows = script_query("orders_ship_lag", orders=orders, lineitem=li).collect()
    assert [
        (r["lag_band"], r["high_priority_lines"], r["low_priority_lines"])
        for r in rows
    ] == [
        ("1_under_30d", 1, 0),
        ("2_under_90d", 1, 0),
        ("3_over_90d", 0, 1),
    ]


def test_small_quantity_revenue_per_part_threshold(spark):
    """part_small_lots: the threshold is per PART (not global) and
    other brands never reach either pass."""
    part = spark.createDataFrame(
        [(1, "Brand#23"), (2, "Brand#23"), (3, "Brand#12")],
        "p_partkey long, p_brand string",
    )
    li = spark.createDataFrame(
        [
            # part 1: avg qty = 10; only qty<5 passes
            (1, 4.0, 52.0),    # below half-avg -> kept
            (1, 16.0, 999.0),  # above -> dropped
            # part 2: avg qty = 100; 40 < 50 passes
            (2, 40.0, 104.0),  # kept
            (2, 160.0, 999.0),
            # other brand: would pass its own threshold but filtered
            (3, 1.0, 999.0),
            (3, 100.0, 999.0),
        ],
        "l_partkey long, l_quantity double, l_extendedprice double",
    )
    rows = script_query("part_small_lots", part=part, lineitem=li).collect()
    assert len(rows) == 1
    assert rows[0]["weekly_revenue"] == 3.0  # (52+104)/52
    assert rows[0]["n_lines"] == 2


def test_sole_late_suppliers_quantifier_pair(spark):
    """supplier_sole_late: counts only multi-supplier orders where the
    supplier was the ONLY late shipper, once per order."""
    nation = spark.createDataFrame(
        [(10, "NATION_3"), (20, "OTHER")], "n_nationkey long, n_name string"
    )
    sup = spark.createDataFrame(
        [(1, 10, "SUP_1"), (2, 10, "SUP_2"), (3, 20, "SUP_3")],
        "s_suppkey long, s_nationkey long, s_name string",
    )
    orders = spark.createDataFrame(
        [(100, "1996-01-01"), (200, "1996-01-01"), (300, "1996-01-01"),
         (400, "1996-01-01")],
        "o_orderkey long, d string",
    ).selectExpr("o_orderkey", "cast(d as timestamp) as o_orderdate")
    li = spark.createDataFrame(
        [
            # order 100: SUP_1 late twice, SUP_3 on time -> counts ONCE
            (100, 1, "1996-06-01"),
            (100, 1, "1996-07-01"),
            (100, 3, "1996-01-15"),
            # order 200: SUP_1 and SUP_2 both late -> neither counts
            (200, 1, "1996-06-01"),
            (200, 2, "1996-06-01"),
            # order 300: SUP_1 late, single-supplier order -> dropped
            (300, 1, "1996-06-01"),
            # order 400: SUP_3 (other nation) sole late -> not reported
            (400, 3, "1996-06-01"),
            (400, 1, "1996-01-10"),
        ],
        "l_orderkey long, l_suppkey long, d string",
    ).selectExpr(
        "l_orderkey", "l_suppkey", "cast(d as timestamp) as l_shipdate"
    )
    rows = script_query("supplier_sole_late", lineitem=li, orders=orders, supplier=sup,
                        nation=nation).collect()
    assert [(r["s_name"], r["numwait"]) for r in rows] == [("SUP_1", 1)]


def test_conversion_lag_cohorts_and_exact_lag(spark):
    """events_conversion_lag: lag is first-view→first-purchase-after,
    purchase-before-view never counts, unconverted cohorts get NULL
    lag columns."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.createDataFrame(
        [
            # user 1: view Jan-1 00:00, purchase 90s later -> lag 90
            (1, "view", "2024-01-01 00:00:00"),
            (1, "purchase", "2024-01-01 00:01:30"),
            (1, "purchase", "2024-01-02 00:00:00"),  # later: ignored
            # user 2: purchase BEFORE the first view -> not converted
            (2, "purchase", "2024-01-01 05:00:00"),
            (2, "view", "2024-01-01 06:00:00"),
            # user 3: views on Jan-2, converts 60s later -> own cohort
            (3, "view", "2024-01-02 10:00:00"),
            (3, "purchase", "2024-01-02 10:01:00"),
            # user 4: never views -> not exposed, excluded entirely
            (4, "purchase", "2024-01-01 00:00:00"),
        ],
        "user_id long, event_type string, d string",
    ).selectExpr(
        "user_id", "event_type", "cast(d as timestamp_ntz) as ts"
    )
    rows = script_query("events_conversion_lag", events=df).collect()
    by_day = {str(r["cohort_day"]): r for r in rows}
    assert set(by_day) == {"2024-01-01", "2024-01-02"}
    jan1 = by_day["2024-01-01"]
    assert (jan1["n_exposed"], jan1["n_converted"]) == (2, 1)
    assert jan1["avg_lag_sec"] == 90.0 and jan1["max_lag_sec"] == 90.0
    jan2 = by_day["2024-01-02"]
    assert (jan2["n_exposed"], jan2["n_converted"]) == (1, 1)
    assert jan2["avg_lag_sec"] == 60.0


def test_conversion_lag_null_for_unconverted_cohort(spark):
    """events_conversion_lag: a cohort with zero conversions reports
    NULL average and max lag (never a divide-by-zero)."""
    df = spark.createDataFrame(
        [(1, "view", "2024-01-01 00:00:00")],
        "user_id long, event_type string, d string",
    ).selectExpr("user_id", "event_type", "cast(d as timestamp_ntz) as ts")
    rows = script_query("events_conversion_lag", events=df).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["n_exposed"], r["n_converted"]) == (1, 0)
    assert r["avg_lag_sec"] is None and r["max_lag_sec"] is None


def test_delete_impact_cascade_counts(spark):
    """privacy_delete_impact: the cascade touches exactly the
    tombstoned customers' orders and those orders' lines (every 50th
    customer key is tombstoned)."""
    cust = spark.createDataFrame(
        [(50,), (51,), (75,), (100,)], "c_custkey long"
    )
    orders = spark.createDataFrame(
        [
            (10, 50, 100.0),   # tombstoned (50 % 50 == 0)
            (11, 50, 50.0),    # tombstoned
            (12, 51, 70.0),    # survivor
            (13, 100, 30.0),   # tombstoned (100 % 50 == 0)
        ],
        "o_orderkey long, o_custkey long, o_totalprice double",
    )
    li = spark.createDataFrame(
        [
            (10, 5.0), (10, 6.0),  # cascade via order 10
            (12, 99.0),            # survivor's line
            (13, 7.0),             # cascade via order 13
        ],
        "l_orderkey long, l_extendedprice double",
    )
    rows = script_query("privacy_delete_impact", customer=cust, orders=orders,
                        lineitem=li).collect()
    assert [(r["entity"], r["n_rows"], r["erased_value"]) for r in rows] == [
        ("customer", 2, None),
        ("lineitem", 3, 18.0),
        ("orders", 3, 180.0),
    ]


def test_dedup_minhash_eval_recall_one_regime(spark):
    """dedup_minhash_eval: on the oracle fixture the LSH pair set
    equals the exact pair set — confusion counts show zero FP/FN."""
    from ksql_query_tutorial_spark.extensions import (
        EXTENSION_QUERIES,
        dedup_minhash_eval,
    )
    from tests.conftest import SF_ORACLE

    r = dedup_minhash_eval(spark, SF_ORACLE).collect()[0]
    n_exact = EXTENSION_QUERIES["dedup_ngram_jaccard"](
        spark, SF_ORACLE
    ).count()
    assert r["tp"] == n_exact and n_exact > 0
    assert r["fp"] == 0 and r["fn"] == 0
    assert r["prec"] == 1.0 and r["rec"] == 1.0


def test_boolean_search_requires_every_term(spark):
    """corpus_search: conjunctive semantics — repeated terms don't
    substitute for missing ones, case-insensitive match."""
    df = spark.createDataFrame(
        [
            (1, "Spark JOIN window magic", "en", "s1", 23),
            (2, "spark spark spark", "en", "s1", 17),      # missing terms
            (3, "window join and spark mix", "en", "s2", 25),
            (4, "nothing relevant", "en", "s2", 16),
        ],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    rows = script_query("corpus_search", documents=df).collect()
    assert [r["doc_id"] for r in rows] == [1, 3]


def test_kmeans_two_pass_converges_on_separated_clusters(spark):
    """embedding_kmeans: on two well-separated directions with the
    seed vectors one per cluster, the Lloyd update keeps every member
    home (n_moved = 0) and memberships match the geometry."""
    from ksql_query_tutorial_spark.operators.similarity import (
        kmeans_two_pass,
    )

    rows = []
    # ids 0,1 are the seeds: axis-x and axis-y directions
    for i in range(10):
        if i % 2 == 0:
            rows.append((i, [1.0, 0.01 * i, 0.0, 0.0]))
        else:
            rows.append((i, [0.0, 0.01 * i, 1.0, 0.0]))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    out = kmeans_two_pass(df, n_clusters=2).collect()
    assert [(r["cluster_id"], r["n_members"], r["n_moved"]) for r in out] == [
        (0, 5, 0),
        (1, 5, 0),
    ]
    assert all(r["avg_cos"] > 0.99 for r in out)


def test_kmeans_two_pass_update_moves_boundary_vector(spark):
    """embedding_kmeans: a vector seeded into the wrong cluster moves
    after the centroid update pulls its true cluster's mean toward it."""
    from ksql_query_tutorial_spark.operators.similarity import (
        kmeans_two_pass,
    )

    df = spark.createDataFrame(
        [
            # seeds: id 0 (x-axis), id 1 (diagonal leaning x)
            (0, [1.0, 0.0]),
            (1, [0.8, 0.6]),
            # y-cluster mass: closer to seed 1 than seed 0, and they
            # drag cluster 1's centroid toward the y axis
            (2, [0.1, 1.0]),
            (3, [0.0, 1.0]),
            (4, [0.05, 1.0]),
            # boundary vector: cosine to seed 0 beats seed 1 slightly,
            # but after the update cluster 1 sits near the y axis...
            (5, [0.9, 0.45]),
        ],
        "vec_id long, embedding array<float>",
    )
    out = {r["cluster_id"]: r for r in
           kmeans_two_pass(df, n_clusters=2).collect()}
    # total membership conserved, at least one vector moved
    assert sum(r["n_members"] for r in out.values()) == 6
    assert sum(r["n_moved"] for r in out.values()) >= 1


def test_hopping_window_counts_fanout_and_distinct(spark):
    """events_hopping_window: each event lands in exactly window/hop =
    24/6 = 4 windows; distinct users counted per window."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:30:00"),  # hop 0
            (1, "2024-01-01 06:30:00"),  # hop 1
            (2, "2024-01-01 06:45:00"),  # hop 1
        ],
        "user_id long, d string",
    ).selectExpr("user_id", "cast(d as timestamp_ntz) as ts")
    rows = script_query("events_hopping_window", events=df).collect()
    got = {str(r["window_start"]): (r["n_events"], r["n_users"])
           for r in rows}
    # windows are [start, start+24h); an event at hop h contributes to
    # starts h-3 .. h
    assert got["2023-12-31 06:00:00"] == (1, 1)   # only the 00:30 event
    assert got["2023-12-31 12:00:00"] == (3, 2)   # all three
    assert got["2024-01-01 00:00:00"] == (3, 2)
    assert got["2024-01-01 06:00:00"] == (2, 2)   # the two 06:xx events
    assert len(got) == 5


def test_key_skew_report_buckets_by_bit_length(spark):
    """orders_key_skew: counts bucket by bit length (1,2→bucket 2;
    4→bucket 3), shares sum to 1."""
    from ksql_query_tutorial_spark.operators.skew import key_skew_report

    # key a: 1 row (bucket 1), b,c: 2/3 rows (bucket 2), d: 4 rows
    rows = [("a",)] + [("b",)] * 2 + [("c",)] * 3 + [("d",)] * 4
    df = spark.createDataFrame(rows, "k string")
    out = {r["freq_bucket"]: (r["n_keys"], r["n_rows"], r["rows_share"])
           for r in key_skew_report(df, "k").collect()}
    assert out[1] == (1, 1, 0.1)
    assert out[2] == (2, 5, 0.5)
    assert out[3] == (1, 4, 0.4)
    assert len(out) == 3


def test_min_cost_supplier_tie_safe_and_scoped(spark):
    """part_min_cost_supplier: every supplier at the per-part minimum
    returns; off-region suppliers and off-type parts never appear."""
    region = spark.createDataFrame(
        [(0, "EUROPE"), (1, "ASIA")], "r_regionkey long, r_name string"
    )
    nation = spark.createDataFrame(
        [(10, "FRANCE", 0), (20, "JAPAN", 1)],
        "n_nationkey long, n_name string, n_regionkey long",
    )
    sup = spark.createDataFrame(
        [(1, 10, "S_EU_A"), (2, 10, "S_EU_B"), (3, 20, "S_AS")],
        "s_suppkey long, s_nationkey long, s_name string",
    )
    part = spark.createDataFrame(
        [(100, "LARGE"), (200, "SMALL")], "p_partkey long, p_type string"
    )
    li = spark.createDataFrame(
        [
            # part 100: S_EU_A and S_EU_B tie at unit price 10.0
            (100, 1, 100.0, 10.0),
            (100, 2, 50.0, 5.0),
            # S_AS offers cheaper but is off-region
            (100, 3, 10.0, 10.0),
            # off-type part: never appears
            (200, 1, 1.0, 1.0),
        ],
        "l_partkey long, l_suppkey long, l_extendedprice double, "
        "l_quantity double",
    )
    rows = script_query("part_min_cost_supplier", part=part, lineitem=li, supplier=sup,
                        nation=nation, region=region).collect()
    assert [(r["partkey"], r["s_name"], r["unit_price"]) for r in rows] == [
        (100, "S_EU_A", 10.0),
        (100, "S_EU_B", 10.0),
    ]


def test_supplier_part_relationship_blacklist_and_distinct(spark):
    """supplier_part_counts: repeated shipments count once, blacklisted
    (negative-balance) suppliers and the excluded type drop out."""
    part = spark.createDataFrame(
        [
            (1, "Brand#1", 5, "LARGE"),
            (2, "Brand#1", 15, "LARGE"),
            (3, "Brand#2", 5, "PROMO"),   # excluded type
        ],
        "p_partkey long, p_brand string, p_size int, p_type string",
    )
    sup = spark.createDataFrame(
        [(1, 10.0), (2, -5.0), (3, 0.0)],
        "s_suppkey long, s_acctbal double",
    )
    li = spark.createDataFrame(
        [
            (1, 1), (1, 1),  # duplicate shipment -> one relationship
            (1, 2),          # blacklisted supplier -> dropped
            (2, 3),          # other band
            (3, 1),          # excluded type -> dropped
        ],
        "l_partkey long, l_suppkey long",
    )
    rows = script_query("supplier_part_counts", part=part, lineitem=li, supplier=sup).collect()
    assert [(r["p_brand"], r["size_band"], r["n_suppliers"])
            for r in rows] == [
        ("Brand#1", 0, 1),
        ("Brand#1", 10, 1),
    ]


def test_ann_recall_eval_perfect_on_fixture(spark):
    """ann_recall_eval: recall is a rational of hits/k per query and 1.0
    when LSH reproduces the exact top-k; sanity-pin on the fixture."""
    from ksql_query_tutorial_spark.extensions import ann_recall_eval
    from tests.conftest import SF_ORACLE

    r = ann_recall_eval(spark, SF_ORACLE).collect()[0]
    assert r["n_queries"] == 10
    assert 0.0 <= r["min_recall"] <= r["avg_recall"] <= 1.0


def test_readability_hand_built(spark):
    """text_readability: word/sentence/syllable extraction and the
    Flesch formula on a known sentence."""
    df = spark.createDataFrame(
        [(1, "The cat sat. The dog ran!"), (2, "bcdfg")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in script_query("text_readability", documents=df).collect()}
    r1 = rows[1]
    assert (r1["n_words"], r1["n_sentences"]) == (6, 2)
    # vowel groups: e,a,a,e,o,a -> 6
    assert r1["n_syllables"] == 6
    expected = round(206.835 - 1.015 * (6 / 2) - 84.6 * (6 / 6), 4)
    assert r1["flesch"] == expected
    r2 = rows[2]  # no vowels, no punctuation: floors kick in
    assert (r2["n_words"], r2["n_sentences"], r2["n_syllables"]) == (1, 1, 1)


def test_reorder_intervals_gaps_and_buckets(spark):
    """orders_reorder_intervals: gaps are per-customer consecutive-day
    diffs; single-order customers contribute nothing."""
    orders = spark.createDataFrame(
        [
            (1, 100, "1996-01-01"),
            (2, 100, "1996-01-05"),   # gap 4  -> under 7
            (3, 100, "1996-02-20"),   # gap 46 -> under 90
            (4, 200, "1996-01-01"),   # single order, no gap
            (5, 300, "1996-01-01"),
            (6, 300, "1996-06-01"),   # gap 152 -> over 90
        ],
        "o_orderkey long, o_custkey long, d string",
    ).selectExpr(
        "o_orderkey", "o_custkey", "cast(d as timestamp) as o_orderdate"
    )
    rows = script_query("orders_reorder_intervals", orders=orders).collect()
    assert [(r["gap_bucket"], r["n_gaps"], r["avg_gap_days"])
            for r in rows] == [
        ("1_under_7d", 1, 4.0),
        ("3_under_90d", 1, 46.0),
        ("4_over_90d", 1, 152.0),
    ]


def test_apply_changelog_tombstone_deletes_key(spark):
    """events_tombstone_state: the latest record wins; a key whose
    latest record is a tombstone disappears; earlier tombstones are
    overridden by later upserts. event_id is the offset (__offset)."""
    df = spark.createDataFrame(
        [
            (1, 10, "view", 1.0),
            (1, 20, "error", 0.0),   # latest for user 1 -> deleted
            (2, 11, "error", 0.0),
            (2, 21, "click", 2.0),   # tombstone overridden -> kept
            (3, 12, "view", 3.0),    # plain upsert -> kept
        ],
        "user_id long, event_id long, event_type string, value double",
    ).withColumn("__offset", F.col("event_id"))
    rows = script_query("events_tombstone_state", events=df).collect()
    assert [(r["user_id"], r["event_id"], r["event_type"]) for r in rows] == [
        (2, 21, "click"),
        (3, 12, "view"),
    ]


def test_dp_noisy_counts_mechanism(spark):
    """privacy_dp_counts: the release is count + Laplace(1/eps) noise
    from the portable key hash — deterministic, bounded by the
    inverse-CDF tail, and scale-equivariant in epsilon."""
    import math

    from ksql_query_tutorial_spark.functions.hashes import M31

    df = spark.createDataFrame(
        [("SEG_A",)] * 3 + [("SEG_B",)] * 7, "c_mktsegment string"
    )
    out = {r["group_key"]: r
           for r in script_query("privacy_dp_counts", customer=df).collect()}
    assert out["SEG_A"]["n_true"] == 3 and out["SEG_B"]["n_true"] == 7

    def expected(key, n, eps=1.0):
        h0, h1 = 7, 11
        for ch in key:
            h0 = (h0 * 131 + ord(ch)) % M31
            h1 = (h1 * 137 + ord(ch)) % M31
        u = (((h0 + h1 * (1 << 31)) % 1_000_000) + 0.5) / 1_000_000
        c = u - 0.5
        noise = -(1.0 / eps) * math.copysign(1.0, c) * math.log(1 - 2 * abs(c))
        return round(n + noise, 4)

    assert out["SEG_A"]["n_released"] == expected("SEG_A", 3)
    assert out["SEG_B"]["n_released"] == expected("SEG_B", 7)


def test_dominant_part_suppliers_share_threshold(spark):
    """supplier_dominant_parts: strictly-greater-than-share wins;
    year window and token filter scope the cells."""
    part = spark.createDataFrame(
        [(1, "red widget"), (2, "blue bolt")], "p_partkey long, p_name string"
    )
    sup = spark.createDataFrame(
        [(1, "S1"), (2, "S2")], "s_suppkey long, s_name string"
    )
    li = spark.createDataFrame(
        [
            # part 1 in-year: S1 ships 60 of 100 -> dominant
            (1, 1, 60.0, "1996-05-01"),
            (1, 2, 40.0, "1996-06-01"),
            # out-of-year row would flip the shares if counted
            (1, 2, 500.0, "1995-05-01"),
            # wrong-token part: ignored entirely
            (2, 2, 100.0, "1996-05-01"),
        ],
        "l_partkey long, l_suppkey long, l_quantity double, d string",
    ).selectExpr(
        "l_partkey", "l_suppkey", "l_quantity",
        "cast(d as timestamp) as l_shipdate",
    )
    rows = script_query("supplier_dominant_parts", part=part, lineitem=li,
                        supplier=sup).collect()
    assert [(r["s_suppkey"], r["s_name"], r["n_dominated_parts"])
            for r in rows] == [(1, "S1", 1)]


def test_yoy_monthly_growth_comparable_periods_only(spark):
    """lineitem_yoy_growth: growth pairs only CONSECUTIVE years of the
    same month; gap years report NULL."""
    li = spark.createDataFrame(
        [
            (100.0, 0.0, "1996-03-15"),
            (150.0, 0.0, "1997-03-01"),   # 1997-03 vs 1996-03: +50%
            (999.0, 0.0, "1999-03-01"),   # gap year: NULL growth
            (80.0, 0.5, "1996-07-01"),    # lone month: NULL growth
        ],
        "l_extendedprice double, l_discount double, d string",
    ).selectExpr(
        "l_extendedprice", "l_discount", "cast(d as timestamp) as l_shipdate"
    )
    rows = {(r["ship_year"], r["ship_month"]): r
            for r in script_query("lineitem_yoy_growth", lineitem=li).collect()}
    assert rows[(1997, 3)]["prev_year_revenue"] == 100.0
    assert rows[(1997, 3)]["yoy_pct"] == 50.0
    assert rows[(1999, 3)]["prev_year_revenue"] is None
    assert rows[(1996, 7)]["yoy_pct"] is None


def test_nation_rank_movers_rank_change(spark):
    """nation_rank_movers: ranks computed among both-year nations,
    change = rank_a - rank_b (positive = climbed)."""
    nation = spark.createDataFrame(
        [(1, "ALPHA"), (2, "BETA")], "n_nationkey long, n_name string"
    )
    cust = spark.createDataFrame(
        [(10, 1), (20, 2)], "c_custkey long, c_nationkey long"
    )
    orders = spark.createDataFrame(
        [
            (1, 10, 100.0, "1996-05-01"),  # ALPHA leads year A
            (2, 20, 50.0, "1996-06-01"),
            (3, 10, 10.0, "1997-05-01"),   # BETA leads year B
            (4, 20, 90.0, "1997-06-01"),
        ],
        "o_orderkey long, o_custkey long, o_totalprice double, d string",
    ).selectExpr(
        "o_orderkey", "o_custkey", "o_totalprice",
        "cast(d as timestamp) as o_orderdate",
    )
    rows = script_query("nation_rank_movers", customer=cust, orders=orders,
                        nation=nation).collect()
    by = {r["nation"]: r for r in rows}
    assert (by["ALPHA"]["rank_a"], by["ALPHA"]["rank_b"]) == (1, 2)
    assert by["ALPHA"]["rank_change"] == -1
    assert (by["BETA"]["rank_a"], by["BETA"]["rank_b"]) == (2, 1)
    assert by["BETA"]["rank_change"] == 1


def test_pairwise_cosine_histogram_bins_and_cap(spark):
    """embedding_cos_histogram: pairs come only from the capped slice,
    bins are lower edges, shares sum to 1."""
    from ksql_query_tutorial_spark.operators.similarity import (
        pairwise_cosine_histogram,
    )

    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [1.0, 0.0]),    # cos(0,1)=1.0 -> bin 1.0
            (2, [0.0, 1.0]),    # cos(0,2)=cos(1,2)=0.0 -> bin 0.0
            (999, [1.0, 1.0]),  # beyond cap: excluded
        ],
        "vec_id long, embedding array<float>",
    )
    rows = pairwise_cosine_histogram(df, sample_cap=100).collect()
    got = {r["cos_bin"]: (r["n_pairs"], r["share"]) for r in rows}
    assert got[0.0][0] == 2 and got[1.0][0] == 1
    assert abs(sum(s for _, s in got.values()) - 1.0) < 1e-6


def test_slo_burn_down_cumulative_budget(spark):
    """events_slo_burn: burn_ratio is the CUMULATIVE error share over
    the target — a clean hour doesn't reset it."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.createDataFrame(
        [
            # hour 0: 2 errors of 10 events -> rate .2, burn 2.0
            *[("error", "2024-01-01 00:05:00")] * 2,
            *[("click", "2024-01-01 00:10:00")] * 8,
            # hour 1: clean 10 events -> cum 2/20 over 0.1 -> burn 1.0
            *[("view", "2024-01-01 01:00:00")] * 10,
        ],
        "event_type string, d string",
    ).selectExpr("event_type", "cast(d as timestamp_ntz) as ts")
    rows = script_query("events_slo_burn", events=df).collect()
    assert rows[0]["err_rate"] == 0.2 and rows[0]["burn_ratio"] == 2.0
    assert rows[1]["err_rate"] == 0.0 and rows[1]["burn_ratio"] == 1.0


def test_dedup_graph_degrees_matches_pair_volume(spark):
    """dedup_graph_degrees: total degree mass equals 2x the LSH pair
    count (every pair contributes two endpoints)."""
    from ksql_query_tutorial_spark.extensions import (
        EXTENSION_QUERIES,
        dedup_graph_degrees,
    )
    from tests.conftest import SF_ORACLE

    n_pairs = EXTENSION_QUERIES["dedup_minhash_lsh"](
        spark, SF_ORACLE
    ).count()
    rows = dedup_graph_degrees(spark, SF_ORACLE).collect()
    assert sum(r["n_rows"] for r in rows) == 2 * n_pairs and n_pairs > 0


def test_lead_time_scorecard_exact_moments(spark):
    """supplier_lead_time: integer-moment variance matches the
    closed-form sample stddev; single-line suppliers get NULL."""
    import math

    orders = spark.createDataFrame(
        [(1, "1996-01-01"), (2, "1996-01-01")],
        "o_orderkey long, d string",
    ).selectExpr("o_orderkey", "cast(d as timestamp) as o_orderdate")
    sup = spark.createDataFrame(
        [(1, "S1"), (2, "S2")], "s_suppkey long, s_name string"
    )
    li = spark.createDataFrame(
        [
            (1, 1, "1996-01-11"),  # lag 10
            (2, 1, "1996-01-31"),  # lag 30
            (1, 2, "1996-02-01"),  # single line -> NULL stddev
        ],
        "l_orderkey long, l_suppkey long, d string",
    ).selectExpr(
        "l_orderkey", "l_suppkey", "cast(d as timestamp) as l_shipdate"
    )
    rows = {r["s_suppkey"]: r
            for r in script_query("supplier_lead_time", orders=orders, lineitem=li,
                                  supplier=sup).collect()}
    assert rows[1]["avg_lag_days"] == 20.0
    assert rows[1]["stddev_lag_days"] == round(math.sqrt(200.0), 4)
    assert rows[2]["stddev_lag_days"] is None


def test_bot_flags_requires_sustained_rate(spark):
    """events_bot_flags: a single hot hour alone doesn't flag; the
    threshold AND the active-hours floor must both hold."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    rows = []
    # user 1: 25 events in ONE hour -> hot but not sustained
    rows += [(1, "2024-01-01 00:00:30")] * 25
    # user 2: 25 events/hour across two hours -> bot
    rows += [(2, "2024-01-01 00:00:30")] * 25
    rows += [(2, "2024-01-01 01:00:30")] * 25
    # user 3: slow and steady -> clean
    rows += [(3, "2024-01-01 00:00:30"), (3, "2024-01-01 05:00:30")]
    df = spark.createDataFrame(
        rows, "user_id long, d string"
    ).selectExpr("user_id", "cast(d as timestamp_ntz) as ts")
    out = {r["user_id"]: r
           for r in script_query("events_bot_flags", events=df).collect()}
    assert out[1]["is_bot"] is False and out[1]["peak_hourly_rate"] == 25
    assert out[2]["is_bot"] is True
    assert out[3]["is_bot"] is False and out[3]["avg_hourly_rate"] == 1.0


def test_revenue_concentration_hhi_bounds(spark):
    """nation_revenue_hhi: monopoly -> HHI 1; two equal customers ->
    HHI 0.5 with top_share 0.5."""
    nation = spark.createDataFrame(
        [(1, "MONO"), (2, "DUO")], "n_nationkey long, n_name string"
    )
    cust = spark.createDataFrame(
        [(10, 1), (20, 2), (21, 2)], "c_custkey long, c_nationkey long"
    )
    orders = spark.createDataFrame(
        [(10, 100.0), (20, 50.0), (21, 50.0)],
        "o_custkey long, o_totalprice double",
    )
    rows = {r["nation"]: r
            for r in script_query("nation_revenue_hhi", customer=cust, orders=orders,
                                  nation=nation).collect()}
    assert rows["MONO"]["hhi"] == 1.0 and rows["MONO"]["top_share"] == 1.0
    assert rows["DUO"]["hhi"] == 0.5 and rows["DUO"]["top_share"] == 0.5
    assert rows["DUO"]["n_customers"] == 2


def test_quality_yield_curve_monotone_and_exact(spark):
    """corpus_yield_curve: yields are monotone non-increasing in the
    threshold and exact on a hand-built score table."""
    from ksql_query_tutorial_spark.operators.corpus import (
        quality_yield_curve,
    )

    scored = spark.createDataFrame(
        [
            (1, -0.2, 10),
            (2, 0.0, 20),
            (3, 0.07, 30),
            (4, 0.5, 40),
        ],
        "doc_id long, quality_score double, n_distinct_tokens int",
    )
    rows = quality_yield_curve(
        scored, thresholds=(-0.1, 0.0, 0.1)
    ).collect()
    got = {r["threshold"]: (r["n_docs_kept"], r["tokens_kept"],
                            r["token_share"]) for r in rows}
    assert got[-0.1] == (3, 90, 0.9)
    assert got[0.0] == (3, 90, 0.9)
    assert got[0.1] == (1, 40, 0.4)
    kept = [got[t][0] for t in sorted(got)]
    assert kept == sorted(kept, reverse=True)


def test_heaps_fit_recovers_exact_power_law(spark):
    """corpus_heaps: on a corpus built so cumulative vocab is an exact
    power of cumulative tokens, OLS recovers beta with R^2 = 1."""
    from ksql_query_tutorial_spark.operators.corpus import heaps_fit

    # 100 docs, each with 10 tokens; doc i contributes exactly
    # 10 NEW tokens -> V(N) = N (beta = 1, a clean degenerate check)
    rows = [
        (i, " ".join(f"tok{i}_{j}" for j in range(10)))
        for i in range(100)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = heaps_fit(df, n_docs=100).collect()[0]
    assert r["slope"] == 1.0 and r["r2"] == 1.0


def test_behavior_entropy_uniform_and_point_mass(spark):
    """events_behavior_entropy: point mass -> 0; uniform over 4 types
    -> ln(4)."""
    import math

    rows = [(1, "click")] * 8
    rows += [(2, t) for t in ("a", "b", "c", "d") for _ in range(3)]
    df = spark.createDataFrame(rows, "user_id long, event_type string")
    out = {r["user_id"]: r for r in script_query("events_behavior_entropy", events=df).collect()}
    assert out[1]["entropy"] == 0.0 and out[1]["n_types"] == 1
    assert out[2]["entropy"] == round(math.log(4), 6)


def test_dedup_savings_report_mass_conservation(spark):
    """dedup_savings_report: docs partition across size cells and
    removable mass equals corpus size minus cluster count."""
    from ksql_query_tutorial_spark.extensions import (
        EXTENSION_QUERIES,
        dedup_savings_report,
    )
    from tests.conftest import SF_ORACLE

    labels = EXTENSION_QUERIES["dedup_clusters_lsh"](spark, SF_ORACLE)
    n_docs = labels.count()
    n_clusters = labels.select("keeper_id").distinct().count()
    rows = dedup_savings_report(spark, SF_ORACLE).collect()
    assert sum(r["n_docs"] for r in rows) == n_docs
    assert sum(r["n_clusters"] for r in rows) == n_clusters
    assert sum(r["n_removable"] for r in rows) == n_docs - n_clusters


def test_triangle_counts_planted_graph(spark):
    """triangle_counts: K4 gives every node C(3,2)=3 triangles; a
    pendant chain adds none; edge direction/duplication in the input
    is normalized away by _normalized_edges."""
    from ksql_query_tutorial_spark.operators.graph import (
        _normalized_edges,
        triangle_counts,
    )

    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    # duplicates + reversed orientation + a pendant path 4-5-6
    edges = k4 + [(b, a) for a, b in k4] + [(4, 5), (5, 6)]
    df = _normalized_edges(
        spark.createDataFrame(edges, "id_a long, id_b long")
    ).toDF("id_a", "id_b")
    out = {r["id"]: r["n_triangles"] for r in triangle_counts(df).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_counts_skew_star_has_none(spark):
    """triangle_counts: a star (maximal degree skew) has zero
    triangles and the degree-ordered orientation keeps the hub's
    out-degree at 0 — the wedge join generates nothing from it."""
    from ksql_query_tutorial_spark.operators.graph import triangle_counts

    star = [(0, i) for i in range(1, 40)]
    df = spark.createDataFrame(star, "id_a long, id_b long")
    assert triangle_counts(df).count() == 0


def test_l_diversity_point_mass_and_uniform(spark):
    """privacy_l_diversity: single sensitive value -> l=1, entropy_l=1,
    at risk; uniform over 4 values -> l=4, entropy_l=4."""
    customer = spark.createDataFrame(
        [(1, 10, "g1"), (2, 20, "g2")], "c_custkey long, c_nationkey long, c_mktsegment string"
    )
    rows = [(1, "x")] * 6
    rows += [(2, s) for s in ("a", "b", "c", "d") for _ in range(2)]
    orders = spark.createDataFrame(rows, "o_custkey long, o_orderpriority string")
    out = {r["c_mktsegment"]: r for r in
           script_query("privacy_l_diversity", orders=orders, customer=customer).collect()}
    assert out["g1"]["distinct_l"] == 1 and out["g1"]["at_risk"]
    assert out["g1"]["entropy_l"] == 1.0
    assert out["g2"]["distinct_l"] == 4 and not out["g2"]["at_risk"]
    assert out["g2"]["entropy_l"] == 4.0


def test_feature_hash_signature_exact_small_doc(spark):
    """corpus_feature_hash: recompute one tiny doc's signature in
    pure Python from hashes.token_hash semantics (256 slots)."""
    M = 2147483647

    def pth(tok: str) -> int:
        h0, h1 = 7, 11
        for ch in tok:
            h0 = (h0 * 131 + ord(ch)) % M
            h1 = (h1 * 137 + ord(ch)) % M
        return h0 + (h1 << 31)

    text = "to be or not to be"
    slots: dict[int, int] = {}
    for tok in set(text.split()):
        cnt = text.split().count(tok)
        h = pth(tok)
        b = h & 255
        sign = 1 if ((h >> 8) & 1) == 0 else -1
        slots[b] = slots.get(b, 0) + sign * cnt
    exp_nnz = sum(1 for v in slots.values() if v != 0)
    exp_l1 = sum(abs(v) for v in slots.values())
    exp_sq = sum(v * v for v in slots.values())
    exp_ck = sum(b * v for b, v in slots.items())

    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = script_query("corpus_feature_hash", documents=df).collect()[0]
    assert (r["nnz"], r["l1"], r["sum_sq"], r["checksum"]) == (
        exp_nnz, exp_l1, exp_sq, exp_ck,
    )


def test_session_concurrency_planted_overlap(spark):
    """events_concurrency: two overlapping sessions peak at 2; a
    lone later session peaks at 1; day rollup counts starts."""
    from datetime import datetime

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    rows = [
        # user 1: one session 00:00-00:10
        (1, datetime(2024, 1, 1, 0, 0, 0), 1),
        (2, datetime(2024, 1, 1, 0, 10, 0), 1),
        # user 2: one session at 00:05 (inside user 1's span)
        (3, datetime(2024, 1, 1, 0, 5, 0), 2),
        # user 2: a second session on day 2, alone
        (4, datetime(2024, 1, 2, 12, 0, 0), 2),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long"
    )
    out = {str(r["day"]): r for r in script_query("events_concurrency", events=df).collect()}
    assert out["2024-01-01"]["n_starts"] == 2
    assert out["2024-01-01"]["peak_concurrency"] == 2
    assert out["2024-01-02"]["n_starts"] == 1
    assert out["2024-01-02"]["peak_concurrency"] == 1


def test_session_concurrency_boundary_touch(spark):
    """events_concurrency: a session STARTING at the exact instant
    another ENDS counts both (inclusive ends — the -1 lands at
    end+1µs)."""
    from datetime import datetime

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    rows = [
        (1, datetime(2024, 3, 1, 9, 0, 0), 10),   # u10 session = [9:00]
        (2, datetime(2024, 3, 1, 9, 0, 0), 20),   # u20 starts same instant
        (3, datetime(2024, 3, 1, 9, 1, 0), 20),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long"
    )
    out = script_query("events_concurrency", events=df).collect()
    assert len(out) == 1 and out[0]["peak_concurrency"] == 2


def test_local_clustering_k4_and_path(spark):
    """local_clustering: K4 nodes have coef 1.0; a path's middle node
    has degree 2, zero triangles, coef 0; leaves (degree 1) excluded."""
    from ksql_query_tutorial_spark.operators.graph import local_clustering

    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    path = [(10, 11), (11, 12)]
    df = spark.createDataFrame(k4 + path, "id_a long, id_b long")
    out = {r["id"]: r for r in local_clustering(df).collect()}
    for v in (1, 2, 3, 4):
        assert out[v]["degree"] == 3 and out[v]["n_triangles"] == 3
        assert out[v]["clustering_coef"] == 1.0
    assert out[11]["degree"] == 2 and out[11]["clustering_coef"] == 0.0
    assert 10 not in out and 12 not in out


def test_dedup_source_matrix_mass_conservation(spark):
    """dedup_source_matrix: pair mass across matrix cells equals the
    LSH pair count, and is_cross matches the cell key."""
    from ksql_query_tutorial_spark.extensions import (
        EXTENSION_QUERIES,
        dedup_source_matrix,
    )
    from tests.conftest import SF_ORACLE

    n_pairs = EXTENSION_QUERIES["dedup_minhash_lsh"](
        spark, SF_ORACLE
    ).count()
    rows = dedup_source_matrix(spark, SF_ORACLE).collect()
    assert sum(r["n_pairs"] for r in rows) == n_pairs
    for r in rows:
        assert r["is_cross"] == (r["source_a"] != r["source_b"])


def test_time_weighted_value_sample_and_hold(spark):
    """events_twa: a value held 2x as long weighs 2x; the final reading
    (no holding interval) is excluded."""
    from datetime import datetime

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    rows = [
        (1, datetime(2024, 1, 1, 0, 0, 0), 1, "m", 10.0),
        (2, datetime(2024, 1, 1, 0, 1, 0), 1, "m", 30.0),
        (3, datetime(2024, 1, 1, 0, 3, 0), 1, "m", 99.0),  # last: excluded
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double",
    )
    out = script_query("events_twa", events=df).collect()
    assert len(out) == 1
    r = out[0]
    # (10*60 + 30*120) / 180
    assert r["twa_value"] == round((10 * 60 + 30 * 120) / 180.0, 6)
    assert r["total_dur_sec"] == 180.0 and r["n_intervals"] == 2


def test_reorder_survival_hand_computed_km(spark):
    """customer_survival: 3-customer cohort with censoring matches the
    hand-computed Kaplan-Meier table."""
    from datetime import datetime

    d = lambda x: datetime(2024, 1, 1 + x)
    orders = spark.createDataFrame(
        [
            (1, 100, d(0)), (2, 100, d(10)),          # A: gap 10 ev, 10 cens
            (3, 200, d(0)), (4, 200, d(20)),          # B: gap 20 ev, 0 cens
            (5, 300, d(0)),                           # C: 20 cens
        ],
        "o_orderkey long, o_custkey long, o_orderdate timestamp",
    )
    customer = spark.createDataFrame(
        [(100, "SEG"), (200, "SEG"), (300, "SEG")],
        "c_custkey long, c_mktsegment string",
    )
    rows = script_query("customer_survival", orders=orders, customer=customer).collect()
    assert [(r["gap_days"], r["n_at_risk"], r["n_events"], r["n_censored"],
             r["survival"]) for r in rows] == [
        (10, 4, 1, 1, 0.75),     # 5 at risk minus the 0-gap censor
        (20, 2, 1, 1, 0.375),    # 0.75 * (1 - 1/2)
    ]


def test_reorder_survival_exhausted_risk_set(spark):
    """customer_survival: when every remaining duration is an event at
    the last gap, survival hits exactly 0 (no ln(0) NULL leak)."""
    from datetime import datetime

    d = lambda x: datetime(2024, 1, 1 + x)
    # one customer, two orders, second order ON the corpus end date:
    # gap 5 is an event AND the censor gap is 0 -> at t=5 the remaining
    # risk set is exhausted by the event only if no censor... plant two
    # customers whose last orders land on the end date so the censored
    # gaps are 0 and every positive gap is an event.
    orders = spark.createDataFrame(
        [
            (1, 100, d(0)), (2, 100, d(5)),
            (3, 200, d(0)), (4, 200, d(5)),
        ],
        "o_orderkey long, o_custkey long, o_orderdate timestamp",
    )
    customer = spark.createDataFrame(
        [(100, "SEG"), (200, "SEG")],
        "c_custkey long, c_mktsegment string",
    )
    rows = script_query("customer_survival", orders=orders, customer=customer).collect()
    assert [(r["gap_days"], r["survival"]) for r in rows] == [(5, 0.0)]


def test_kcore_peels_pendants_keeps_cliques_and_cycles(spark):
    """kcore(k=2): pendant chains peel away; K4 and a 3-cycle survive
    with their in-core degrees."""
    from ksql_query_tutorial_spark.operators.graph import kcore

    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    chain = [(4, 50), (50, 51)]           # pendant path off the K4
    cycle = [(7, 8), (8, 9), (7, 9)]
    df = spark.createDataFrame(k4 + chain + cycle, "id_a long, id_b long")
    out = {r["id"]: r["degree"] for r in kcore(df, k=2, rounds=3).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3, 7: 2, 8: 2, 9: 2}


def test_kcore_cascading_peel_needs_rounds(spark):
    """kcore: a path hanging off a triangle peels one node per round
    from the far end — 3 rounds fully remove a 3-node tail."""
    from ksql_query_tutorial_spark.operators.graph import kcore

    tri = [(1, 2), (2, 3), (1, 3)]
    tail = [(3, 10), (10, 11), (11, 12)]
    df = spark.createDataFrame(tri + tail, "id_a long, id_b long")
    after1 = set(
        r["id"] for r in kcore(df, k=2, rounds=1).collect()
    )
    after3 = set(
        r["id"] for r in kcore(df, k=2, rounds=3).collect()
    )
    assert 12 not in after1 and 10 in after1      # only the end peeled
    assert after3 == {1, 2, 3}                    # tail fully gone


def test_cusum_drift_matches_direct_recursion(spark):
    """events_cusum: the reflected-walk closed form equals the direct
    S_t = max(0, S_{t-1} + y_t) recursion on a planted shifted
    series."""
    import math
    from datetime import datetime, timedelta

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    counts = [10] * 20 + [14] * 10           # sustained +4 shift
    rows, eid = [], 0
    t0 = datetime(2024, 5, 1)
    for hh, c in enumerate(counts):
        for _ in range(c):
            eid += 1
            rows.append((eid, t0 + timedelta(hours=hh), eid, "a", 1.0))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double",
    )
    out = script_query("events_cusum", events=df).collect()
    assert len(out) == 1
    r = out[0]

    n = len(counts)
    mu = sum(counts) / n
    sigma = math.sqrt(sum(c * c for c in counts) / n - mu * mu)
    s, smax, alarms, first = 0.0, 0.0, 0, None
    for hh, c in enumerate(counts):
        s = max(0.0, s + (c - mu - 0.5 * sigma))
        smax = max(smax, s)
        if s > 4.0 * sigma:
            alarms += 1
            first = first if first is not None else hh
    assert r["n_hours"] == n
    assert r["mu"] == round(mu, 6) and r["sigma"] == round(sigma, 6)
    assert r["max_cusum"] == round(smax, 6)
    assert r["n_alarm_hours"] == alarms and alarms > 0
    assert r["first_alarm_hour"] == t0 + timedelta(hours=first)


def generalization_ladder(frames, k):
    """Reference for the privacy_generalization SELECT: one
    (quasi tuple)-keyed aggregate per rung, each over its own frame,
    unioned. ``frames`` holds ``(level, label, df, quasi_cols)`` per
    rung; an empty ``quasi_cols`` rung is one global class."""
    outs = []
    for level, label, df, quasi in frames:
        grouped = df.groupBy(*quasi) if quasi else df.groupBy(F.lit(1))
        classes = grouped.agg(F.count(F.lit(1)).alias("__sz"))
        outs.append(
            classes.agg(
                F.count(F.lit(1)).cast("long").alias("n_classes"),
                F.min("__sz").cast("long").alias("min_class_size"),
                F.sum(F.when(F.col("__sz") < k, F.col("__sz")).otherwise(0))
                .cast("long").alias("n_at_risk_rows"),
            ).select(
                F.lit(level).cast("int").alias("level"),
                F.lit(label).alias("label"),
                "n_classes", "min_class_size", "n_at_risk_rows",
                (F.col("min_class_size") >= k).alias("k_ok"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out.orderBy("level")


def _ladder_frames(spark, customer_rows):
    """A customer table of (c_nationkey, c_mktsegment) rows and a
    nation table putting nations 1-2 in region 0 and nation 3 in
    region 1."""
    customer = spark.createDataFrame(customer_rows, "c_nationkey long, c_mktsegment string")
    nation = spark.createDataFrame([(1, 0), (2, 0), (3, 1)], "n_nationkey long, n_regionkey long")
    return customer, nation


def _per_rung_ladder(customer, nation):
    cr = customer.join(nation, customer["c_nationkey"] == nation["n_nationkey"], "left")
    return generalization_ladder(
        [
            (0, "nation+segment", cr, ["c_nationkey", "c_mktsegment"]),
            (1, "region+segment", cr, ["n_regionkey", "c_mktsegment"]),
            (2, "segment", cr, ["c_mktsegment"]),
            (3, "suppressed", cr, []),
        ],
        k=5,
    ).collect()


def test_generalization_ladder_monotone_repair(spark):
    """privacy_generalization: coarser rungs never have MORE at-risk
    rows; full suppression is always one k-ok class (given >= k
    rows)."""
    customer, nation = _ladder_frames(spark, [(1, "A")] * 2 + [(2, "A")] * 4 + [(3, "B")] * 7)
    out = script_query("privacy_generalization", customer=customer, nation=nation).collect()
    assert [r["level"] for r in out] == [0, 1, 2, 3]
    risk = [r["n_at_risk_rows"] for r in out]
    assert risk == [6, 0, 0, 0]           # nation 1:2 + nation 2:4 at risk at L0
    assert all(a >= b for a, b in zip(risk, risk[1:]))
    assert [r["k_ok"] for r in out] == [False, True, True, True]
    assert out[3]["n_classes"] == 1 and out[3]["min_class_size"] == 13


def test_generalization_one_pass_matches_per_rung(spark):
    """privacy_generalization (GROUPING SETS, one scan) emits the
    identical report to one aggregate per rung on the same frames —
    including the empty suppression rung."""
    customer, nation = _ladder_frames(spark, [(1, "A")] * 2 + [(2, "A")] * 4 + [(3, "B")] * 7)
    one_pass = script_query("privacy_generalization", customer=customer, nation=nation).collect()
    assert [tuple(r) for r in one_pass] == [tuple(r) for r in _per_rung_ladder(customer, nation)]


def test_generalization_one_pass_empty_input_matches_per_rung(spark):
    """On an EMPTY customer table GROUPING SETS emits no groups, so the
    rung report is left-joined onto the literal rung table — every rung
    still reports one row (n_classes=0, null min/risk/k_ok), exactly
    like the per-rung form's global agg over empty input."""
    customer, nation = _ladder_frames(spark, [])
    one_pass = script_query("privacy_generalization", customer=customer, nation=nation).collect()
    assert len(one_pass) == 4
    assert [tuple(r) for r in one_pass] == [tuple(r) for r in _per_rung_ladder(customer, nation)]
    for r in one_pass:
        assert r["n_classes"] == 0
        assert r["min_class_size"] is None and r["k_ok"] is None


def test_privacy_generalization_keeps_dangling_nationkey(spark, tmp_path):
    """ADVICE r6: a customer whose c_nationkey is absent from nation
    must not vanish from the rungs that ignore region — the nation
    join is LEFT, so the dangler lands in a null-region class on the
    region rung and counts normally everywhere else."""
    from ksql_query_tutorial_spark.extensions import EXTENSION_QUERIES

    d = str(tmp_path / "sf-dangling")
    spark.createDataFrame(
        [(1, 0, "SEG_A")] * 6 + [(2, 99, "SEG_A")],  # nationkey 99 dangles
        "c_custkey int, c_nationkey int, c_mktsegment string",
    ).write.parquet(f"{d}/customer.parquet")
    spark.createDataFrame(
        [(0, "HOMELAND", 0)], "n_nationkey int, n_name string, n_regionkey int"
    ).write.parquet(f"{d}/nation.parquet")

    out = {r["label"]: r for r in EXTENSION_QUERIES["privacy_generalization"](spark, d).collect()}
    # all 7 customers (incl. the dangler) reach every rung
    assert out["suppressed"]["min_class_size"] == 7
    assert out["segment"]["min_class_size"] == 7
    # nation rung: classes {0: 6, 99: 1}
    assert out["nation+segment"]["n_classes"] == 2
    assert out["nation+segment"]["min_class_size"] == 1
    # region rung: the dangler is its own null-region class
    assert out["region+segment"]["n_classes"] == 2
    assert out["region+segment"]["min_class_size"] == 1


def test_postings_multi_and_lsh_persist_registry(spark):
    """ADVICE r6: callers that cannot rely on a per-query clearCache
    reclaim the persisted intermediates through the ``cache.pin``
    registry: the multi-size posting pins its lead frame, LSH pins its
    shingle-set and bucket frames, and ``cache.release()`` unpersists
    all of them."""
    from ksql_query_tutorial_spark import cache
    from ksql_query_tutorial_spark.operators import dedup
    from ksql_query_tutorial_spark.tables import load
    from tests.conftest import SF_ORACLE

    d = load(spark, SF_ORACLE, "documents").limit(50)
    n0 = cache.pinned_count()
    multi = dedup.shingle_hash_postings_multi(d, "doc_id", "text", (2, 3))
    assert cache.pinned_count() - n0 == 1
    assert multi[2].count() > 0
    pairs = dedup.minhash_lsh_pairs_from_posting(multi[3], num_hashes=32, bands=8)
    pairs.count()
    assert cache.pinned_count() - n0 == 3
    pinned = cache._PINNED[n0:]
    assert all(fr.storageLevel.useMemory for fr in pinned)
    assert cache.release() >= 3
    assert cache.pinned_count() == 0
    for fr in pinned:
        assert not fr.storageLevel.useMemory


def test_power_analysis_known_variance(spark):
    """events_power_analysis: zero-variance metric needs n=0; a planted
    two-point metric matches 16*var/delta^2 by hand (delta = 5% of mu)."""
    import math

    rows = [("const", 5.0)] * 10 + [("ab", 1.0)] * 50 + [("ab", 3.0)] * 50
    df = spark.createDataFrame(rows, "event_type string, value double")
    out = {r["event_type"]: r for r in script_query("events_power_analysis", events=df).collect()}
    assert out["const"]["sigma"] == 0.0
    assert out["const"]["n_required_per_arm"] == 0
    mu, var = 2.0, 1.0                    # mean 2, var ((1-2)^2+(3-2)^2)/2
    delta = 0.05 * mu
    assert out["ab"]["mu"] == mu and out["ab"]["sigma"] == 1.0
    assert out["ab"]["n_required_per_arm"] == math.ceil(16 * var / delta**2)


def test_embedding_threshold_sweep_monotone(spark):
    """embedding_threshold_sweep: yields are non-increasing in the
    threshold and the base rung equals the full LSH pair count."""
    from ksql_query_tutorial_spark.extensions import (
        EXTENSION_QUERIES,
        SWEEP_THRESHOLDS,
        embedding_threshold_sweep,
    )
    from tests.conftest import SF_ORACLE

    base_pairs = EXTENSION_QUERIES["dedup_embedding_lsh"](
        spark, SF_ORACLE
    ).count()
    rows = embedding_threshold_sweep(spark, SF_ORACLE).collect()
    assert [r["threshold"] for r in rows] == sorted(SWEEP_THRESHOLDS)
    assert rows[0]["n_pairs"] == base_pairs
    for a, b in zip(rows, rows[1:]):
        assert a["n_pairs"] >= b["n_pairs"]
        assert a["n_vecs_affected"] >= b["n_vecs_affected"]


def test_asof_join_forward_and_nearest(spark):
    """asof_join directions: forward picks the earliest right at or
    after (equal ts inclusive, highest order_col on ties); nearest
    picks the closer side and ties go backward; tolerance applies in
    the match direction."""
    from datetime import datetime

    from ksql_query_tutorial_spark.operators.asof import asof_join

    t = lambda m: datetime(2024, 1, 1, 0, m)
    left = spark.createDataFrame(
        [(1, 10, t(10)), (1, 20, t(31))],
        "user long, lid long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (1, 100, t(10)),   # equal-ts match for lid 10
            (1, 101, t(10)),   # same ts, higher id -> wins ties
            (1, 102, t(30)),   # 1 min before lid 20
            (1, 103, t(33)),   # 2 min after lid 20
        ],
        "user long, rid long, ts timestamp",
    )

    fwd = {
        r["lid"]: r["rid"]
        for r in asof_join(
            left, right, "ts", ["user"], order_col="rid",
            direction="forward",
        ).collect()
    }
    assert fwd == {10: 101, 20: 103}      # inclusive equal-ts, tie->101

    near = {
        r["lid"]: r["rid"]
        for r in asof_join(
            left, right, "ts", ["user"], order_col="rid",
            direction="nearest",
        ).collect()
    }
    assert near == {10: 101, 20: 102}     # 1 min back beats 2 min fwd

    # forward tolerance of 60s: lid 20's next right is 120s away -> null
    fwd_tol = {
        r["lid"]: r["rid"]
        for r in asof_join(
            left, right, "ts", ["user"], order_col="rid",
            direction="forward", tolerance_seconds=60.0,
        ).collect()
    }
    assert fwd_tol == {10: 101, 20: None}

    # nearest with backward side out of tolerance flips to forward
    near_tol = {
        r["lid"]: r["rid"]
        for r in asof_join(
            left.filter(F.col("lid") == 20), right, "ts", ["user"],
            order_col="rid", direction="nearest",
            tolerance_seconds=30.0,
        ).collect()
    }
    assert near_tol == {20: None}         # both sides out of 30s


def test_asof_join_nearest_tie_prefers_backward(spark):
    from datetime import datetime

    from ksql_query_tutorial_spark.operators.asof import asof_join

    t = lambda m: datetime(2024, 1, 1, 0, m)
    left = spark.createDataFrame(
        [(1, 10, t(20))], "user long, lid long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(1, 100, t(15)), (1, 101, t(25))],
        "user long, rid long, ts timestamp",
    )
    out = asof_join(
        left, right, "ts", ["user"], order_col="rid",
        direction="nearest",
    ).collect()
    assert out[0]["rid"] == 100           # 5 min each way -> backward


def test_rolling_actives_window_math(spark):
    """events_rolling_actives: WAU unions the trailing 7 days' users;
    DAU is that day only; stickiness = DAU/WAU."""
    from datetime import datetime

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    d = lambda x, u: (datetime(2024, 1, 1 + x, 12), u)
    rows = [d(0, 1), d(0, 2), d(3, 2), d(3, 3), d(10, 9)]
    df = spark.createDataFrame(rows, "ts timestamp, user_id long")
    out = {str(r["day"]): r for r in script_query("events_rolling_actives", events=df).collect()}
    assert out["2024-01-01"]["dau"] == 2 and out["2024-01-01"]["wau"] == 2
    # day 4 sees users {1,2} from day 1 and {2,3} from day 4 -> 3
    assert out["2024-01-04"]["dau"] == 2 and out["2024-01-04"]["wau"] == 3
    assert out["2024-01-04"]["stickiness"] == round(2 / 3, 6)
    # day 11 is 10 days after day 1: only its own user remains
    assert out["2024-01-11"]["dau"] == 1 and out["2024-01-11"]["wau"] == 1


def test_t_closeness_skew_vs_uniform(spark):
    """privacy_t_closeness: a class mirroring the global distribution
    scores ~0; a point-mass class scores 1 - p_global(value) ...
    computed by hand on a planted 2-class corpus."""
    customer = spark.createDataFrame(
        [(1, 10, "g1"), (2, 20, "g2")], "c_custkey long, c_nationkey long, c_mktsegment string"
    )

    def t_closeness(rows):
        orders = spark.createDataFrame(rows, "o_custkey long, o_orderpriority string")
        return {r["c_mktsegment"]: r for r in
                script_query("privacy_t_closeness", orders=orders, customer=customer).collect()}

    # global: a appears 6 times, b 2 -> p=(0.75, 0.25)
    rows = [(1, "a")] * 3 + [(1, "b")] * 1      # g1 = 0.75/0.25
    rows += [(2, "a")] * 3 + [(2, "b")] * 1     # g2 identical
    out = t_closeness(rows)
    assert out["g1"]["tv_distance"] == 0.0 and not out["g1"]["at_risk"]

    rows2 = [(1, "a")] * 4 + [(2, "a")] * 1 + [(2, "b")] * 3
    # global: a=5/8, b=3/8; g1 point mass on a: TV = 0.5*(|1-5/8|+|0-3/8|)
    out2 = t_closeness(rows2)
    assert out2["g1"]["tv_distance"] == round(0.5 * (3 / 8 + 3 / 8), 6)
    assert out2["g1"]["at_risk"]


def test_code_signals_routes_code_from_prose(spark):
    """text_code_detect: a code-ish doc trips is_code on symbols AND
    keywords; plain prose does not; indented lines counted."""
    code = "def f(x):\n    return x + 1\nclass Foo:\n    pass\nimport os"
    prose = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [(1, code), (2, prose)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in script_query("text_code_detect", documents=df).collect()}
    assert out[1]["is_code"] and not out[2]["is_code"]
    assert out[1]["n_lines"] == 5 and out[1]["n_indented"] == 2
    assert out[1]["kw_hits"] >= 3
    assert out[2]["symbol_ratio"] == 0.0 and out[2]["kw_hits"] == 0


def test_centroid_drift_identical_halves_and_shift(spark):
    """centroid_drift: identical even/odd halves -> L2 0, cosine 1; a
    planted shifted half -> the exact L2 of the shift."""
    from ksql_query_tutorial_spark.operators.similarity import (
        centroid_drift,
    )

    v = [1.0] + [0.0] * 63
    w = [0.0, 1.0] + [0.0] * 62
    rows = [(0, v, "stable"), (1, v, "stable"),
            (2, v, "stable"), (3, v, "stable"),
            (10, v, "drift"), (11, w, "drift")]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    out = {r["label"]: r for r in centroid_drift(df).collect()}
    assert out["stable"]["centroid_l2"] == 0.0
    assert out["stable"]["centroid_cosine"] == 1.0
    assert out["stable"]["n_even"] == 2 and out["stable"]["n_odd"] == 2
    # drift: even centroid = v, odd centroid = w -> L2 = sqrt(2), cos 0
    assert out["drift"]["centroid_l2"] == round(2 ** 0.5, 6)
    assert out["drift"]["centroid_cosine"] == 0.0


def test_audience_overlap_hand_computed(spark):
    """events_audience_overlap: planted user sets give exact
    intersection and Jaccard; disjoint pairs are absent."""
    rows = [("a", u) for u in (1, 2, 3)] + [("b", u) for u in (2, 3, 4)]
    rows += [("c", 9)] + [("a", 1)]       # duplicate event, disjoint c
    df = spark.createDataFrame(rows, "event_type string, user_id long")
    out = script_query("events_audience_overlap", events=df).collect()
    assert len(out) == 1                  # only (a, b) share users
    r = out[0]
    assert (r["type_a"], r["type_b"]) == ("a", "b")
    assert (r["n_both"], r["n_a"], r["n_b"]) == (2, 3, 3)
    assert r["jaccard"] == 0.5            # |{2,3}| / |{1,2,3,4}|


def test_shingle_sweep_monotone_pair_yield(spark):
    """dedup_shingle_sweep: smaller shingles can only match MORE pairs
    at a fixed threshold on this fixture's near-dup corpus, and every
    rung's n=3 row equals the production pair generator's count."""
    from ksql_query_tutorial_spark.extensions import (
        EXTENSION_QUERIES,
        JACCARD_THRESHOLD,
        dedup_shingle_sweep,
    )
    from ksql_query_tutorial_spark.operators import dedup
    from ksql_query_tutorial_spark.tables import load
    from tests.conftest import SF_ORACLE

    rows = {r["shingle_n"]: r for r in
            dedup_shingle_sweep(spark, SF_ORACLE).collect()}
    assert sorted(rows) == [2, 3, 5]
    d = load(spark, SF_ORACLE, "documents")
    n3 = dedup.ngram_jaccard_pairs(
        d, "doc_id", n=3, threshold=JACCARD_THRESHOLD
    ).count()
    assert rows[3]["n_pairs"] == n3
    assert rows[2]["n_pairs"] >= rows[3]["n_pairs"] >= rows[5]["n_pairs"]


def test_multi_size_postings_match_single_size_builder(spark):
    """shingle_hash_postings_multi (one scan + tokenization for the
    whole sweep) emits the EXACT posting set of the per-size builder
    for every requested n, including n=1 (token posting)."""
    from ksql_query_tutorial_spark.operators import dedup
    from ksql_query_tutorial_spark.tables import load
    from tests.conftest import SF_ORACLE

    d = load(spark, SF_ORACLE, "documents").limit(200)
    multi = dedup.shingle_hash_postings_multi(d, "doc_id", "text", (1, 2, 3, 5))
    for n in (1, 2, 3, 5):
        single = dedup.shingle_hash_posting(d, "doc_id", "text", n)
        assert multi[n].exceptAll(single).count() == 0, f"extra rows at n={n}"
        assert single.exceptAll(multi[n]).count() == 0, f"missing rows at n={n}"


def test_seasonal_profile_hand_computed_cells(spark):
    """events_seasonal_profile: planted hours give the hand-computed
    additive fit per (dow, hod) cell and residual = observed - fitted."""
    from datetime import datetime, timedelta

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # 2024-01-01 is a Monday (Spark dayofweek: Mon=2)
    mon10_a = datetime(2024, 1, 1, 10)
    mon10_b = datetime(2024, 1, 8, 10)    # second Monday, same hour
    tue11 = datetime(2024, 1, 2, 11)
    rows = []
    eid = 0
    for t, c in ((mon10_a, 3), (mon10_b, 5), (tue11, 2)):
        for _ in range(c):
            eid += 1
            rows.append((eid, t + timedelta(minutes=eid % 50), eid, "x", 1.0))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double",
    )
    out = {(r["dow"], r["hod"]): r for r in
           script_query("events_seasonal_profile", events=df).collect()}
    g = (3 + 5 + 2) / 3                    # grand hourly mean
    d_mon, d_tue = (3 + 5) / 2, 2.0        # dow means
    h10, h11 = (3 + 5) / 2, 2.0            # hod means
    cell = out[(2, 10)]
    assert cell["n_hours"] == 2 and cell["mean_count"] == 4.0
    assert cell["fitted"] == round(d_mon + h10 - g, 6)
    assert cell["residual"] == round(4.0 - (d_mon + h10 - g), 6)
    cell2 = out[(3, 11)]
    assert cell2["fitted"] == round(d_tue + h11 - g, 6)
    for r in out.values():
        assert r["residual"] == round(r["mean_count"] - r["fitted"], 6)


def test_simhash_histogram_planted_near_dups(spark):
    """text_simhash_histogram: the fixture's planted near-dup families
    put mass at small Hamming distances while the random bulk sits
    near the 31-bit center; shares sum to 1."""
    from ksql_query_tutorial_spark.extensions import text_simhash_histogram
    from tests.conftest import SF_ORACLE

    rows = text_simhash_histogram(spark, SF_ORACLE).collect()
    assert abs(sum(r["pair_share"] for r in rows) - 1.0) < 1e-4
    near = sum(r["n_pairs"] for r in rows if r["hamming"] <= 3)
    assert near > 0                        # planted families exist
    # the distribution must separate: non-dup pairs spread well past
    # the banding radius (this corpus's shared template vocabulary
    # keeps the mode low — single digits — but the tail is wide)
    assert max(r["hamming"] for r in rows) > 15
    assert near < sum(r["n_pairs"] for r in rows) * 0.5


def test_corpus_fertility_hand_computed(spark):
    """corpus_fertility: exact integer sums give the hand-computed
    per-lang ratios (punctuation splits into extra BPE tokens)."""
    rows = [
        (1, "hello world", "en", "s", 11),
        (2, "a b, c", "en", "s", 6),        # "," is its own BPE token
        (3, "xx yy", "de", "s", 5),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long",
    )
    out = {r["lang"]: r for r in script_query("corpus_fertility", documents=df).collect()}
    # en: chars 11+6=17, bpe 2 + 4 ("a","b",",","c") = 6, words 2+3=5
    assert out["en"]["n_docs"] == 2
    assert out["en"]["chars_per_token"] == round(17 / 6, 6)
    assert out["en"]["tokens_per_word"] == round(6 / 5, 6)
    assert out["de"]["chars_per_token"] == round(5 / 2, 6)


def test_centroid_confusion_separable_labels(spark):
    """centroid_confusion: perfectly separable planted labels give a
    diagonal confusion matrix with row_share 1."""
    from ksql_query_tutorial_spark.operators.similarity import (
        centroid_confusion,
    )

    a = [1.0] + [0.0] * 63
    b = [0.0, 1.0] + [0.0] * 62
    rows = []
    for i in range(8):
        rows.append((2 * i, a, "A"))       # even -> centroid fit
        rows.append((2 * i + 1, a, "A"))   # odd -> test
        rows.append((100 + 2 * i, b, "B"))
        rows.append((101 + 2 * i, b, "B"))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    out = {(r["true_label"], r["pred_label"]): r
           for r in centroid_confusion(df).collect()}
    assert set(out) == {("A", "A"), ("B", "B")}
    assert all(r["row_share"] == 1.0 for r in out.values())


def test_token_savings_mass_conservation(spark):
    """dedup_token_savings: kept + removed token mass equals the
    corpus total and doc counts match the savings report."""
    from ksql_query_tutorial_spark.extensions import (
        EXTENSION_QUERIES,
        dedup_token_savings,
    )
    from tests.conftest import SF_ORACLE

    r = dedup_token_savings(spark, SF_ORACLE).collect()[0]
    labels = EXTENSION_QUERIES["dedup_clusters_lsh"](spark, SF_ORACLE)
    assert r["n_docs"] == labels.count()
    assert r["n_kept"] == labels.filter("is_keeper").count()
    assert 0 < r["tokens_kept"] <= r["n_tokens"]
    assert r["token_share_kept"] == round(
        r["tokens_kept"] / r["n_tokens"], 6
    )


def test_ab_srm_balanced_and_broken(spark):
    """events_ab_srm: an even planted split passes; a grossly skewed
    one flags; chi2 matches the hand computation."""
    def srm(df):
        return script_query("events_ab_srm", events=df)

    # find user ids for each arm under the production hash
    arm = lambda u: ((u % 1048573) * 2654435761) % 2
    a_ids = [u for u in range(1, 4000) if arm(u) == 0][:100]
    b_ids = [u for u in range(1, 4000) if arm(u) == 1][:100]

    even = spark.createDataFrame(
        [(u,) for u in a_ids + b_ids], "user_id long"
    )
    r = srm(even).collect()[0]
    assert (r["n_a"], r["n_b"]) == (100, 100)
    assert r["chi2"] == 0.0 and not r["srm_flag"]

    skewed = spark.createDataFrame(
        [(u,) for u in a_ids + b_ids[:50]], "user_id long"
    )
    r2 = srm(skewed).collect()[0]
    n, na, nb = 150, 100, 50
    chi2 = (na - n / 2) ** 2 / (n / 2) + (nb - n / 2) ** 2 / (n / 2)
    assert r2["chi2"] == round(chi2, 6) and r2["srm_flag"]


def test_new_vs_returning_first_day_logic(spark):
    """events_new_vs_returning: users count as new exactly on their
    first active day."""
    from datetime import datetime

    d = lambda x, u: (datetime(2024, 1, 1 + x, 9), u)
    rows = [d(0, 1), d(0, 2), d(1, 1), d(1, 3), d(2, 1), d(2, 2)]
    df = spark.createDataFrame(rows, "ts timestamp, user_id long")
    out = {str(r["day"]): r for r in
           script_query("events_new_vs_returning", events=df).collect()}
    assert (out["2024-01-01"]["n_new"], out["2024-01-01"]["n_returning"]) == (2, 0)
    assert (out["2024-01-02"]["n_new"], out["2024-01-02"]["n_returning"]) == (1, 1)
    assert (out["2024-01-03"]["n_new"], out["2024-01-03"]["n_returning"]) == (0, 2)


def test_single_source_counts_match_direct(spark):
    """supplier_single_source: the flagged part count equals the
    direct single-supplier part count and risk mass is positive."""
    from ksql_query_tutorial_spark.extensions import EXTENSION_QUERIES
    from ksql_query_tutorial_spark.tables import load
    from tests.conftest import SF_ORACLE

    li = load(spark, SF_ORACLE, "lineitem")
    direct = (
        li.select("l_partkey", "l_suppkey").distinct()
        .groupBy("l_partkey").count().filter("count = 1").count()
    )
    rows = EXTENSION_QUERIES["supplier_single_source"](spark, SF_ORACLE).collect()
    assert sum(r["n_single_source_parts"] for r in rows) == direct
    assert all(r["revenue_at_risk"] > 0 for r in rows)


def test_assortativity_star_is_negative_clique_positive(spark):
    """graph_assortativity formula check on planted graphs via the
    operator's own edge construction path is heavy; check the math on
    the underlying symmetrized-Pearson with a direct computation at
    the oracle sf instead: |r| <= 1 and matches a pandas recompute."""
    from ksql_query_tutorial_spark.extensions import graph_assortativity
    from ksql_query_tutorial_spark.tables import load
    from tests.conftest import SF_ORACLE

    r = graph_assortativity(spark, SF_ORACLE).collect()[0]
    assert r["n_edges"] > 0 and abs(r["assortativity"]) <= 1.0

    import pandas as pd

    li = load(spark, SF_ORACLE, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).distinct().toPandas()
    m = li.merge(li, on="l_orderkey")
    m = m[m.l_partkey_x < m.l_partkey_y]
    e = m[["l_partkey_x", "l_partkey_y"]].drop_duplicates()
    deg = pd.concat([e.l_partkey_x, e.l_partkey_y]).value_counts()
    x = pd.concat([e.l_partkey_x.map(deg), e.l_partkey_y.map(deg)])
    y = pd.concat([e.l_partkey_y.map(deg), e.l_partkey_x.map(deg)])
    n, sx, sxy, sxx = len(x), x.sum(), (x * y).sum(), (x * x).sum()
    exp = (n * sxy - sx * sx) / (n * sxx - sx * sx)
    assert r["assortativity"] == round(exp, 6)


def test_price_dispersion_constant_price_zero_cv(spark):
    """part_price_dispersion: constant unit price within a type gives
    CV exactly 0; mixed prices give the hand-computed CV."""
    import math

    li = spark.createDataFrame(
        [(1, 10.0, 1.0), (1, 20.0, 2.0),          # unit 10, 10
         (2, 10.0, 1.0), (2, 40.0, 2.0)],         # unit 10, 20
        "l_partkey long, l_extendedprice double, l_quantity double",
    )
    part = spark.createDataFrame(
        [(1, "FLAT"), (2, "MIXED")], "p_partkey long, p_type string"
    )
    out = {r["p_type"]: r for r in
           script_query("part_price_dispersion", lineitem=li, part=part).collect()}
    assert out["FLAT"]["cv"] == 0.0
    mu, var = 15.0, ((10 - 15) ** 2 + (20 - 15) ** 2) / 2
    assert out["MIXED"]["cv"] == round(math.sqrt(var) / mu, 6)


def test_length_drift_identical_halves_zero(spark):
    """corpus_length_drift: identical halves -> KS 0 / TV 0; a planted
    shifted half -> exact hand-computed gaps."""
    same = [(i, "x" * 100) for i in range(20)]
    df = spark.createDataFrame(same, "doc_id long, text string")
    r = script_query("corpus_length_drift", documents=df).collect()[0]
    assert r["ks_gap"] == 0.0 and r["tv_distance"] == 0.0

    # evens 100 chars (bin 1), odds 200 chars (bin 3): disjoint
    shifted = [(i, "x" * (100 if i % 2 == 0 else 200))
               for i in range(20)]
    df2 = spark.createDataFrame(shifted, "doc_id long, text string")
    r2 = script_query("corpus_length_drift", documents=df2).collect()[0]
    assert r2["ks_gap"] == 1.0 and r2["tv_distance"] == 1.0


# ------------------------------------------------ link prediction


def test_link_prediction_path_and_triangle(spark):
    """link_prediction: path 1-2-3 yields ONE non-edge candidate (1,3)
    with CN=1, RA=10^12 div deg(2)=2, neighbor-Jaccard 1 (both
    neighborhoods are exactly {2}); a triangle yields its three edges
    as candidates (every pair shares the third node) flagged
    is_edge=true with Jaccard 1/3."""
    from ksql_query_tutorial_spark.operators.graph import link_prediction

    path = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    rows = link_prediction(path).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["id_a"], r["id_b"]) == (1, 3)
    assert r["common_neighbors"] == 1
    assert r["ra_micro"] == 10**12 // 2
    assert r["jaccard_micro"] == 10**6
    assert r["is_edge"] is False

    tri = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3)], "id_a long, id_b long"
    )
    out = {(r["id_a"], r["id_b"]): r for r in link_prediction(tri).collect()}
    assert set(out) == {(1, 2), (1, 3), (2, 3)}
    for r in out.values():
        assert r["common_neighbors"] == 1
        assert r["ra_micro"] == 10**12 // 2
        assert r["jaccard_micro"] == 10**6 // 3
        assert r["is_edge"] is True


def test_link_prediction_star_scores_every_leaf_pair(spark):
    """A star's leaf pairs are all mediated by the hub: every one of
    the C(11, 2) leaf pairs is a 2-hop candidate."""
    from ksql_query_tutorial_spark.operators.graph import link_prediction

    star = spark.createDataFrame(
        [(0, i) for i in range(1, 12)], "id_a long, id_b long"
    )
    assert link_prediction(star).count() == 11 * 10 // 2


# ------------------------------------------------ daily ACF


def test_acf_alternating_and_gapfill(spark):
    """events_acf: a perfectly alternating daily series has ACF -1 at
    lag 1 and +1 at lag 2 (exact, from integer moments); a calendar
    gap fills as an explicit zero day (2 events, missing day, 2
    events -> lag-1 pairs (2,0),(0,2) -> ACF -1); zero-variance
    windows yield NULL, not NaN."""
    from datetime import datetime

    def acf_daily(df):
        return script_query("events_acf", events=df).collect()

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    alt = spark.createDataFrame(
        [(datetime(2026, 1, 1 + d, 12, 0, 0),)
         for d in range(8) for _ in range(1 if d % 2 == 0 else 2)],
        "ts timestamp",
    )
    out = {r["lag"]: r for r in acf_daily(alt)}
    assert out[1]["n_pairs"] == 7 and out[1]["acf"] == -1.0
    assert out[2]["n_pairs"] == 6 and out[2]["acf"] == 1.0

    gappy = spark.createDataFrame(
        [(datetime(2026, 1, 1, 9, 0, 0),), (datetime(2026, 1, 1, 10, 0, 0),),
         (datetime(2026, 1, 3, 9, 0, 0),), (datetime(2026, 1, 3, 10, 0, 0),)],
        "ts timestamp",
    )
    out = {r["lag"]: r for r in acf_daily(gappy)}
    assert out[1]["n_pairs"] == 2 and out[1]["acf"] == -1.0
    # lag 2 pairs only (2,2): zero variance -> NULL guard
    assert out[2]["n_pairs"] == 1 and out[2]["acf"] is None

    const = spark.createDataFrame(
        [(datetime(2026, 1, 1 + d, 12, 0, 0),) for d in range(5)],
        "ts timestamp",
    )
    for r in acf_daily(const):
        assert r["acf"] is None


def test_event_type_trend_exact_line_and_zero_days(spark):
    """event_type_trend: a type with exactly linear daily counts fits
    slope 1 / intercept 1 / r2 1; a type that fires only on day one
    still gets the full densified span (explicit zero days), fitting
    the exact textbook values slope -0.6, intercept 1.4, r2 0.6."""
    from datetime import datetime

    from ksql_query_tutorial_spark.operators.analytics import event_type_trend

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    rows = []
    for d in range(4):
        rows += [(datetime(2026, 2, 1 + d, 8, 0, 0), "a")] * (d + 1)
    rows += [(datetime(2026, 2, 1, 8, 0, 0), "b")] * 2
    df = spark.createDataFrame(rows, "ts timestamp, event_type string")
    out = {r["event_type"]: r for r in event_type_trend(df).collect()}
    assert out["a"]["n"] == 4 and out["a"]["slope"] == 1.0
    assert out["a"]["intercept"] == 1.0 and out["a"]["r2"] == 1.0
    assert out["b"]["n"] == 4 and out["b"]["slope"] == -0.6
    assert out["b"]["intercept"] == 1.4 and out["b"]["r2"] == 0.6


# ------------------------------------------------ modularity / CUPED


def test_community_modularity_two_cliques(spark):
    """community_modularity: two labeled triangles joined by one
    cross edge — textbook values (m=7, e_c=3, d_c=7 per side:
    q_term = 3/7 − (7/14)² ≈ 0.178571, Q ≈ 0.357143); an
    unlabeled-endpoint edge is excluded from the labeled subgraph."""
    from ksql_query_tutorial_spark.operators.graph import (
        community_modularity,
    )

    edges = [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4),
             (6, 7)]  # 7 is unlabeled -> edge (6,7) drops out
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    labels = spark.createDataFrame(
        [(1, "A"), (2, "A"), (3, "A"), (4, "B"), (5, "B"), (6, "B"),
         (7, None)],
        "id long, label string",
    )
    rows = {r["label"]: r
            for r in community_modularity(pairs, labels).collect()}
    assert set(rows) == {"A", "B"}
    for lab in ("A", "B"):
        r = rows[lab]
        assert r["n_nodes"] == 3
        assert r["internal_edges"] == 3
        assert r["degree_sum"] == 7
        assert r["q_term"] == 0.178571
        assert r["q_total"] == 0.357143


def test_cuped_textbook_adjustment(spark):
    """events_cuped: hand-built 4-user fixture with known moments —
    θ = 200/275, raw effect 6, CUPED effect 6 − θ·5 ≈ 2.363636,
    r² = 40000/43450 ≈ 0.920598 (arm hash: users 0,2 → A; 1,3 → B;
    span Jan 1–4 splits at Jan 2, so Jan 1 is the pre-period)."""
    from datetime import datetime

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    pre = {0: 10.0, 1: 10.0, 2: 20.0, 3: 30.0}
    post = {0: 20.0, 1: 25.0, 2: 30.0, 3: 37.0}
    rows = [(datetime(2026, 1, 1, 9), u, "purchase", v)
            for u, v in pre.items()]
    rows += [(datetime(2026, 1, 3, 9), u, "purchase", v)
             for u, v in post.items()]
    rows += [(datetime(2026, 1, 4, 9), 0, "click", 0.0)]  # sets dmax
    df = spark.createDataFrame(
        rows, "ts timestamp, user_id long, event_type string, value double"
    )
    r = script_query("events_cuped", events=df).collect()[0]
    assert (r["n_users"], r["n_a"], r["n_b"]) == (4, 2, 2)
    assert r["theta"] == round(200 / 275, 6)
    assert r["effect_raw"] == 6.0
    assert r["effect_cuped"] == 2.363636
    assert r["var_reduction"] == 0.920598


def test_quantization_error_known_vectors(spark):
    """quantization_error: a vector proportional to its own int8
    codes has cosine exactly 1.0; a known 3-dim vector matches the
    closed form computed from the integer folds."""
    import math

    from ksql_query_tutorial_spark.operators.similarity import (
        quantization_error,
    )

    df = spark.createDataFrame(
        [(1, [0.127, 0.0, -0.127]), (2, [1.0, -2.0, 4.0])],
        "vec_id long, embedding array<double>",
    )
    out = {r["id"]: r["q8_cosine"] for r in quantization_error(df).collect()}
    assert out[1] == 1.0
    q = [32, -63, 127]          # floor(v*127/4 + 0.5)
    vq = [10**6, -2 * 10**6, 4 * 10**6]
    dot = sum(a * b for a, b in zip(vq, q))
    expect = dot / (math.sqrt(sum(a * a for a in vq))
                    * math.sqrt(sum(b * b for b in q)))
    assert out[2] == round(expect, 6)


def test_entropy_rate_deterministic_and_uniform(spark):
    """events_entropy_rate: a deterministic chain (A->B->A->B...) has zero
    next-step entropy everywhere; a uniform 2-way branch has
    ln 2 ≈ 0.693147; the weighted total matches the algebraic form."""
    from datetime import datetime, timedelta

    def entropy_rate(df):
        return script_query("events_entropy_rate", events=df).collect()

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    t0 = datetime(2026, 4, 1, 8, 0, 0)
    rows = []
    # user 1: strict alternation A,B,A,B,... (deterministic)
    for i in range(9):
        rows.append((i, t0 + timedelta(minutes=i), 1, "A" if i % 2 == 0 else "B"))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    out = {r["prev_type"]: r for r in entropy_rate(df)}
    assert out["A"]["h_next"] == 0.0 and out["B"]["h_next"] == 0.0
    assert out["A"]["rate_total"] == 0.0

    # user 2: from A, next is B or C equally often (4 each)
    rows2 = []
    seq = ["A", "B", "A", "C"] * 4 + ["A"]
    for i, t in enumerate(seq):
        rows2.append((i, t0 + timedelta(minutes=i), 2, t))
    df2 = spark.createDataFrame(
        rows2, "event_id long, ts timestamp, user_id long, event_type string"
    )
    import math

    out2 = {r["prev_type"]: r for r in entropy_rate(df2)}
    assert out2["A"]["h_next"] == round(math.log(2), 6)
    assert out2["B"]["h_next"] == 0.0 and out2["C"]["h_next"] == 0.0
    n_a, n_b, n_c = 8, 4, 4
    expect_rate = (n_a * math.log(2)) / (n_a + n_b + n_c)
    assert out2["A"]["rate_total"] == round(expect_rate, 6)


def test_sprt_closed_form_walk(spark):
    """events_sprt: a hand-built stream whose walk is computed by hand
    at the query's p0 = 0.18, p1 = 0.22, alpha = beta = 0.05. Users 0,2
    hash to arm 0 and 1,3 to arm 1 (the repo's multiplicative
    bucketing). la = ln(0.22/0.18) ≈ 0.2007 per conversion, lb =
    ln(0.78/0.82) ≈ -0.0500 per non-conversion, band ±ln(19) ≈ ±2.944.
    Arm 0 gets 16 straight conversions: llr after n = n·la first
    crosses the upper bound at n = 15 (15·0.2007 = 3.010) → accept_h1
    at first_cross_n = 15. Arm 1 gets 3 non-conversions: llr = 3·lb ≈
    −0.150, never crosses → continue, first_cross_n = 0."""
    import math
    from datetime import datetime

    arm_of = lambda u: (u % 1048573) * 2654435761 % 2  # noqa: E731
    assert [arm_of(u) for u in (0, 1, 2, 3)] == [0, 1, 0, 1]
    la, lb = math.log(0.22 / 0.18), math.log((1.0 - 0.22) / (1.0 - 0.18))
    rows = []
    eid = 0
    for i in range(16):  # arm 0: all purchases
        rows.append((datetime(2026, 1, 1, 10, i), eid, 0 if i % 2 == 0 else 2,
                     "purchase"))
        eid += 1
    for i in range(3):  # arm 1: all clicks
        rows.append((datetime(2026, 1, 1, 11, i), eid, 1 if i % 2 == 0 else 3,
                     "click"))
        eid += 1
    df = spark.createDataFrame(
        rows, "ts timestamp, event_id long, user_id long, event_type string"
    )
    out = {r["arm"]: r for r in script_query("events_sprt", events=df).collect()}
    a0, a1 = out[0], out[1]
    assert (a0["n_events"], a0["n_conversions"]) == (16, 16)
    assert a0["decision"] == "accept_h1"
    assert a0["first_cross_n"] == 15
    assert a0["llr_final"] == round(16 * la + 0 * lb, 6)
    assert (a1["n_events"], a1["n_conversions"]) == (3, 0)
    assert a1["decision"] == "continue"
    assert a1["first_cross_n"] == 0
    assert a1["llr_final"] == round(0 * la + 3 * lb, 6)


def test_sprt_hierarchical_equals_global_window(spark):
    """events_sprt's hierarchical prefix sum must equal a plain global
    cumulative window: the same events split across hour blocks,
    crossing index invariant. 120 events of one arm over 8 hours, a
    conversion every 3rd, cross the upper bound at n = 85."""
    from datetime import datetime, timedelta

    base = datetime(2026, 1, 1, 0, 0)
    rows = [
        (base + timedelta(minutes=4 * i), i, 0,
         "purchase" if i % 3 == 0 else "view")
        for i in range(120)
    ]
    df = spark.createDataFrame(
        rows, "ts timestamp, event_id long, user_id long, event_type string"
    )
    got = {r["arm"]: r for r in script_query("events_sprt", events=df).collect()}[0]
    # replicate with a driver-side exact walk
    import math

    la, lb = math.log(0.22 / 0.18), math.log((1.0 - 0.22) / (1.0 - 0.18))
    up, lo = math.log((1.0 - 0.05) / 0.05), math.log(0.05 / (1.0 - 0.05))
    llr, first, dec = 0.0, 0, "continue"
    c = 0
    for n, (_, _, _, et) in enumerate(rows, start=1):
        c += et == "purchase"
        llr = c * la + (n - c) * lb
        if first == 0 and (llr >= up or llr <= lo):
            first, dec = n, "accept_h1" if llr >= up else "accept_h0"
    assert first > 0 and dec == "accept_h1"
    assert got["first_cross_n"] == first
    assert got["decision"] == dec
    assert got["llr_final"] == round(llr, 6)


def test_mad_anomalies_planted_spike(spark):
    """events_anomaly_mad: 9 calm days (counts 10 or 12) plus one 100-event
    spike — the spike is the only flagged day, and its robust z
    matches the hand-computed MAD form; a constant-volume type has
    MAD 0 and z defined as 0 (never NULL/inf)."""
    from datetime import datetime, timedelta

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    base = datetime(2026, 2, 1)
    rows = []
    counts = [10, 12, 10, 12, 10, 12, 10, 12, 10, 100]
    eid = 0
    for d, c in enumerate(counts):
        for _ in range(c):
            rows.append((base + timedelta(days=d, hours=1), eid, "click"))
            eid += 1
    for d in range(5):  # constant-volume type: MAD = 0
        for _ in range(7):
            rows.append((base + timedelta(days=d, hours=2), eid, "view"))
            eid += 1
    df = spark.createDataFrame(rows, "ts timestamp, event_id long, event_type string")
    out = script_query("events_anomaly_mad", events=df).collect()
    clicks = [r for r in out if r["event_type"] == "click"]
    flagged = [r for r in clicks if r["is_anomaly"]]
    # median of counts = 11, abs devs = [1]*9 + [89] -> MAD = 1
    assert len(flagged) == 1 and flagged[0]["n"] == 100
    assert flagged[0]["med"] == 11.0 and flagged[0]["mad"] == 1.0
    assert flagged[0]["robust_z"] == round(89 / 1.4826, 6)
    views = [r for r in out if r["event_type"] == "view"]
    assert all(r["mad"] == 0.0 and r["robust_z"] == 0.0
               and not r["is_anomaly"] for r in views)


def test_silhouette_separated_vs_overlapping(spark):
    """silhouette: two tight, orthogonal clusters score near 1; a
    vector exactly between the two centroids scores 0 (a == b)."""
    from ksql_query_tutorial_spark.operators.similarity import silhouette

    rows = [
        (0, [1.0, 0.0]), (1, [0.0, 1.0]),            # the 2 centroids
        (2, [10.0, 0.0]), (3, [8.0, 0.0]),           # cluster 0, cos 1
        (4, [0.0, 5.0]), (5, [0.0, 7.0]),            # cluster 1, cos 1
        (6, [3.0, 3.0]),                             # equidistant
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["cluster_id"]: r for r in silhouette(df, n_clusters=2).collect()}
    # cluster 0 members: ids 0,2,3 and the tie-broken id 6 (a == b ->
    # argmax ties to smaller cid) -> mean_a = 0.29... dominated by id 6
    assert set(out) == {0, 1}
    c1 = out[1]
    assert c1["n_vectors"] == 3  # ids 1, 4, 5
    assert c1["mean_a"] == 0.0 and c1["mean_sil"] == 1.0
    c0 = out[0]
    assert c0["n_vectors"] == 4
    # id 6: a = b = 1 - cos(45 deg) -> s = 0; others s = 1
    assert c0["mean_sil"] == 0.75


def test_sample_importance_uniform_target(spark):
    """sample_importance: two sources with a 3:1 token imbalance get
    weights 2/3·(total/tokens) -> 2/3 / (3/4) and 2/3·... computed by
    hand; equal-weight corpus has ess_ratio 1."""
    rows = [
        (0, "a b c", "big"), (1, "d e f", "big"), (2, "g h i", "big"),
        (3, "j k l", "small"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["source"]: r for r in script_query("sample_importance", documents=df).collect()}
    big, small = out["big"], out["small"]
    assert (big["n_docs"], big["n_tokens"]) == (3, 9)
    assert big["corpus_share"] == 0.75 and big["target_share"] == 0.5
    assert big["weight"] == round(0.5 / 0.75, 6)
    assert small["weight"] == round(0.5 / 0.25, 6)
    # ESS = (3·2/3 + 1·2)² / (3·(2/3)² + 1·2²) / 4 = 16/(16/3)/4
    assert big["ess_ratio"] == round(16.0 / (16.0 / 3.0) / 4.0, 6)
    assert big["ess_ratio"] == small["ess_ratio"]


def test_sample_importance_balanced_corpus_is_identity(spark):
    """A perfectly balanced corpus needs no reweighting: every weight
    is 1 and the ESS ratio is exactly 1."""
    rows = [(0, "a b", "x"), (1, "c d", "y")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = script_query("sample_importance", documents=df).collect()
    assert all(r["weight"] == 1.0 and r["ess_ratio"] == 1.0 for r in out)


def test_kn_bigram_closed_form(spark):
    """kn_bigram: a corpus built so every count is known. Docs:
    "a b" ×3, "c b" ×1, "a d" ×1 → bigrams: (a,b):3, (c,b):1, (a,d):1.
    c1(a)=4, N1+(a,·)=2; c1(c)=1, N1+(c,·)=1; N1+(·,b)=2, N1+(·,d)=1;
    |types|=3. p_kn(b|a) = (3-.75)/4 + .75·2/4·(2/3) = 0.8125;
    p_kn(d|a) = (1-.75)/4 + .75·2/4·(1/3) = 0.1875;
    p_kn(b|c) = (1-.75)/1 + .75·1/1·(2/3) = 0.75."""
    from ksql_query_tutorial_spark.operators.corpus import kn_bigram

    rows = [(0, "a b"), (1, "a b"), (2, "a b"), (3, "c b"), (4, "a d")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r["w1"], r["w2"]): r for r in
           kn_bigram(df, discount=0.75, min_count=1).collect()}
    assert out[("a", "b")]["c12"] == 3
    assert out[("a", "b")]["p_kn"] == 0.8125
    assert out[("a", "d")]["p_kn"] == 0.1875
    assert out[("c", "b")]["p_kn"] == 0.75
    # probabilities given each context sum to <= 1 (KN leaves no
    # leftover mass when every continuation is observed)
    assert out[("a", "b")]["p_kn"] + out[("a", "d")]["p_kn"] == 1.0


def test_did_textbook_effect(spark):
    """events_did: 2 users per arm, hand-built values on either side of
    the query's 2024-01-16 split. Arm A (users 0,2): pre mean 10, post
    mean 12 (trend +2). Arm B (users 1,3): pre mean 20, post mean 26
    (trend +6). DiD = 6 − 2 = 4."""
    from datetime import datetime

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    pre, post = datetime(2024, 1, 1, 9), datetime(2024, 1, 20, 9)
    rows = [
        (pre, 0, "purchase", 9.0), (pre, 2, "purchase", 11.0),
        (post, 0, "purchase", 11.0), (post, 2, "purchase", 13.0),
        (pre, 1, "purchase", 19.0), (pre, 3, "purchase", 21.0),
        (post, 1, "purchase", 25.0), (post, 3, "purchase", 27.0),
        (post, 0, "click", 999.0),  # other types excluded
    ]
    df = spark.createDataFrame(
        rows, "ts timestamp, user_id long, event_type string, value double"
    )
    r = script_query("events_did", events=df).collect()[0]
    assert (r["n_a_pre"], r["n_a_post"], r["n_b_pre"], r["n_b_post"]) == (
        2, 2, 2, 2)
    assert (r["mean_a_pre"], r["mean_a_post"]) == (10.0, 12.0)
    assert (r["mean_b_pre"], r["mean_b_post"]) == (20.0, 26.0)
    assert r["did"] == 4.0
    # each cell has variance 2 (dev ±1, n=2 -> s² = 2), se = sqrt(4·2/2)=2
    assert r["se"] == 2.0 and r["t"] == 2.0


def test_wilson_small_sample_ranking(spark):
    """supplier_on_time_wilson: a 2/2 supplier must rank BELOW a 96/100 one by
    the lower bound even though its raw rate is higher."""
    from datetime import datetime, timedelta

    d0 = datetime(2026, 1, 1)
    ot, lt = d0 + timedelta(days=10), d0 + timedelta(days=200)
    rows = [(i, 1, ot) for i in range(2)]                   # 2/2
    rows += [(100 + i, 2, ot if i < 96 else lt) for i in range(100)]
    orders = spark.createDataFrame(
        [(k, d0) for k, _, _ in rows],
        "o_orderkey long, o_orderdate timestamp",
    ).dropDuplicates()
    li = spark.createDataFrame(
        rows, "l_orderkey long, l_suppkey long, l_shipdate timestamp"
    )
    supp = spark.createDataFrame(
        [(1, "S1"), (2, "S2")], "s_suppkey long, s_name string"
    )
    out = {r["s_suppkey"]: r for r in
           script_query("supplier_on_time_wilson", orders=orders, lineitem=li,
                        supplier=supp).collect()}
    assert out[1]["rate"] == 1.0 and out[2]["rate"] == 0.96
    assert out[1]["wilson_lb"] < out[2]["wilson_lb"]
    # textbook value: Wilson lb for 2/2 at z=1.96 is ~0.342
    assert 0.29 < out[1]["wilson_lb"] < 0.40


def test_mann_whitney_hand_computed(spark):
    """events_mann_whitney: 3 users per arm (arm = user parity for
    small ids), per-user sums A = {1, 2, 3}, B = {2, 4, 5} (units).
    U_A = #(a>b) + ties/2 = 1 + 0.5 = 1.5 -> twice_u_a = 3; one tie
    group (value 2, t=2) -> tie_cubes = 6;
    sigma^2 = (9/12)(7 - 6/30) = 5.1; z = (1.5 - 4.5)/sqrt(5.1);
    effect_r = 2*1.5/9 - 1 = -2/3. User 0's sum is split over two
    events to pin the per-user rollup."""
    rows = [
        (0, 0.5), (0, 0.5),           # arm 0, m = 1.0
        (2, 2.0), (4, 3.0),           # arm 0
        (1, 2.0), (3, 4.0), (5, 5.0),  # arm 1
    ]
    df = spark.createDataFrame(rows, "user_id long, value double")
    r = script_query("events_mann_whitney", events=df).collect()[0]
    assert (r["n_a"], r["n_b"]) == (3, 3)
    assert r["twice_u_a"] == 3
    assert r["n_tied_groups"] == 1
    assert r["z"] == round(-3.0 / math.sqrt(5.1), 6)
    assert r["effect_r"] == round(-2.0 / 3.0, 6)


def test_mann_whitney_identical_distributions(spark):
    """All users share one value: every comparison ties, sigma = 0
    (the tie correction removes ALL variance), z defined as 0 and
    twice_u_a = 2 * (n_a*n_b/2) = n_a*n_b."""
    df = spark.createDataFrame(
        [(u, 7.0) for u in range(10)], "user_id long, value double"
    )
    r = script_query("events_mann_whitney", events=df).collect()[0]
    assert r["twice_u_a"] == r["n_a"] * r["n_b"]
    assert r["z"] == 0.0 and r["effect_r"] == 0.0


def test_dsir_separates_target_like_content(spark):
    """dsir_importance: target (en) docs repeat one token, others a
    different one. Target-token docs must score strictly higher per
    token; with EVERY doc in the target slice the target and raw
    distributions coincide and all weights are exactly 0."""
    from ksql_query_tutorial_spark.operators.corpus import dsir_importance

    rows = [
        (1, "alpha alpha alpha", "en"),
        (2, "alpha alpha", "en"),
        (3, "omega omega omega", "de"),
        (4, "omega alpha omega", "de"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r["doc_id"]: r for r in dsir_importance(df).collect()}
    assert out[1]["n_toks"] == 3 and out[4]["n_toks"] == 3
    assert out[1]["logw_per_tok"] > out[3]["logw_per_tok"]
    # at toy scale add-one smoothing over 1024 buckets pushes ALL
    # weights negative (target total ~5 tokens vs D=1024), so assert
    # the flag's consistency with logw, not its sign
    for r in out.values():
        assert r["selected"] == (r["logw"] > 0)
    # mixed doc 4 sits between the pure docs
    assert (out[3]["logw_per_tok"] < out[4]["logw_per_tok"]
            < out[1]["logw_per_tok"])

    all_en = df.withColumn("lang", F.lit("en"))
    for r in dsir_importance(all_en).collect():
        assert r["logw"] == 0.0 and not r["selected"]


def test_weibull_two_point_exact_fit(spark):
    """lineitem_weibull_delay: two distinct lags -> the weighted OLS runs
    through both plotting positions exactly (r2 = 1) and k/lambda
    match the hand-derived two-point closed form. Negative and zero
    lags must be excluded from n."""
    from datetime import date

    d0 = date(2026, 1, 1)
    orders = spark.createDataFrame(
        [(1, d0), (2, d0), (3, d0), (4, d0)],
        "o_orderkey long, o_orderdate date",
    )
    li = spark.createDataFrame(
        [
            (1, date(2026, 1, 2)),    # lag 1
            (2, date(2026, 1, 4)),    # lag 3
            (3, date(2026, 1, 1)),    # lag 0 -> excluded
            (4, date(2025, 12, 20)),  # negative -> excluded
        ],
        "l_orderkey long, l_shipdate date",
    )
    r = script_query("lineitem_weibull_delay", orders=orders, lineitem=li).collect()[0]
    assert (r["n"], r["n_lags"]) == (2, 2)
    x1, x2 = 0.0, math.log(3.0)
    y1 = math.log(-math.log(1.0 - 1.0 / 3.0))
    y2 = math.log(-math.log(1.0 - 2.0 / 3.0))
    k = (y2 - y1) / (x2 - x1)
    lam = math.exp(-((y1 + y2) / 2 - k * (x1 + x2) / 2) / k)
    assert r["shape_k"] == round(k, 6)
    assert r["scale_lambda"] == round(lam, 6)
    assert r["median_days"] == round(lam * math.log(2.0) ** (1 / k), 6)
    assert r["r2"] == 1.0
