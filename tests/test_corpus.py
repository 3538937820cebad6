"""Unit tests for the corpus-level pipeline operators
(ksql_query_tutorial_spark/operators/corpus.py) and the corpus queries of
extensions/corpus.sql, compiled over hand-built frames."""

from __future__ import annotations

from pyspark.sql import functions as F

from ksql_query_tutorial_spark.operators import corpus
from tests.conftest import SF_SMOKE, script_query


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")


def test_pack_sequences_is_exact_prefix_sum(spark):
    """The hierarchical (block) prefix sum must equal the naive global
    cumsum: begin_offset[i+1] == begin_offset[i] + n_tokens[i] in
    doc_id order, pack ids derived from it."""
    from ksql_query_tutorial_spark.tables import load

    d = load(spark, SF_SMOKE, "documents")
    out = script_query("pack_sequences", documents=d).orderBy("doc_id").collect()
    running = 0
    for r in out:
        assert r.begin_offset == running
        assert r.pack_id == running // 512
        assert r.pack_end == (running + max(r.n_tokens, 1) - 1) // 512
        assert r.straddles == (r.pack_end > r.pack_id)
        running += r.n_tokens


def test_pack_sequences_crosses_block_boundaries(spark):
    """Docs in different prefix-sum blocks still get a globally
    consistent offset (a block is 100,000 ids, so craft ids around it)."""
    block = 100_000
    rows = [
        (1, "a " * 300, "en", "s"),
        (block + 1, "b " * 300, "en", "s"),
        (2 * block + 7, "c", "en", "s"),
    ]
    out = {r.doc_id: r for r in script_query("pack_sequences", documents=_docs(spark, rows)).collect()}
    assert out[1].begin_offset == 0
    assert out[block + 1].begin_offset == 300
    assert out[2 * block + 7].begin_offset == 600
    assert out[1].straddles is False
    # doc 2 spans tokens [300, 600) -> 512-token packs 0..1
    assert out[block + 1].pack_id == 0
    assert out[block + 1].pack_end == 1
    assert out[block + 1].straddles is True
    assert out[2 * block + 7].pack_id == out[2 * block + 7].pack_end == 1


def test_decontaminate_flags_planted_overlap(spark):
    bench = _docs(spark, [(100, "alpha beta gamma delta epsilon", "en", "s")])
    train = _docs(spark, [
        (1, "alpha beta gamma delta zeta", "en", "s"),   # 2 shared shingles
        (2, "one two three four five six", "en", "s"),   # disjoint
        (3, "x y", "en", "s"),                           # too short: 0 shingles
    ])
    out = {r.doc_id: r for r in corpus.decontaminate(train, bench, min_hits=2).collect()}
    assert out[1].contaminated and out[1].n_contaminated == 2
    assert not out[2].contaminated and out[2].n_contaminated == 0
    assert out[3].n_shingles == 0 and not out[3].contaminated
    assert len(out) == 3  # zero-shingle docs retained


def test_boilerplate_stats_thresholds_on_doc_frequency(spark):
    rows = [(i, "legal boilerplate notice unique%d tail" % i, "en", "s")
            for i in range(4)]
    out = corpus.boilerplate_stats(_docs(spark, rows), min_docs=4).collect()
    by_id = {r.doc_id: r for r in out}
    # 'legal boilerplate notice' appears in all 4 docs -> boilerplate;
    # the unique%d shingles appear once each -> not
    for r in by_id.values():
        assert r.n_boilerplate == 1
        assert r.n_shingles == 3


def test_with_repetition_degenerate_doc(spark):
    rows = [(1, "a a a a", "en", "s"), (2, "w x y z", "en", "s")]
    out = {r.doc_id: r for r in corpus.with_repetition(_docs(spark, rows)).collect()}
    assert out[1].dup_word_frac == 0.75
    assert out[1].top_bigram_frac == 1.0   # every bigram is 'a a'
    assert out[2].dup_word_frac == 0.0
    assert abs(out[2].top_bigram_frac - 1 / 3) < 1e-6


def test_with_repetition_short_docs_have_no_bigrams(spark):
    """ADVICE r2: a doc with < 2 tokens has NO bigrams — the phantom
    null row from an outer explode must not count as one (it used to
    yield top_bigram_frac = 1.0; the DuckDB oracle says 0.0)."""
    rows = [(1, "solo", "en", "s"), (2, "two tokens", "en", "s")]
    out = {r.doc_id: r for r in corpus.with_repetition(_docs(spark, rows)).collect()}
    assert out[1].n_tokens == 1
    assert out[1].top_bigram_frac == 0.0
    assert out[2].top_bigram_frac == 1.0  # its single real bigram


def test_sample_stratified_rounds_rate_threshold(spark):
    """ADVICE r2: rate * 1e6 must ROUND, not truncate — 0.29 * 1e6 is
    289999.9999... in binary; a floor silently undershoots the rate.
    The script's rates (en 0.5, zh 0.25) are exact binary fractions, so
    the check compiles its SELECT with en's rate swapped for 0.29."""
    from ksql_query_tutorial_spark.extensions._registry import SCRIPT_SELECTS
    from ksql_query_tutorial_spark.ksql.engine import select_over

    select = SCRIPT_SELECTS["sample_stratified"]
    assert select.count("0.5D") == 1
    rows = [(i, "t", "en", "s") for i in range(50)]
    out = select_over(select.replace("0.5D", "0.29D"), documents=_docs(spark, rows))
    kept = {r.doc_id for r in out.collect()}
    want = {i for i in range(50)
            if (i % 1_048_573) * 2_654_435_761 % 1_000_000 < 290_000}
    assert kept == want


def test_sample_stratified_deterministic_and_rate_bound(spark):
    from ksql_query_tutorial_spark.tables import load

    d = load(spark, SF_SMOKE, "documents")
    ra = script_query("sample_stratified", documents=d).collect()
    rb = script_query("sample_stratified", documents=d).collect()
    assert sorted(r.doc_id for r in ra) == sorted(r.doc_id for r in rb)
    limits = {"en": 500_000, "zh": 250_000}
    for r in ra:
        assert r.u < limits.get(r.lang, 1_000_000)
    # the other strata are kept wholesale at rate 1.0
    n_other = d.filter(~F.col("lang").isin("en", "zh")).count()
    assert sum(1 for r in ra if r.lang not in limits) == n_other


def test_mix_budget_allocation_caps_at_available(spark):
    # 10 tokens per doc; src0 and src1 hold 20 tokens each, src2 holds 2,000
    rows = [(i, "t " * 10, "en", "src%d" % (i % 2)) for i in range(4)]
    rows += [(10 + i, "t " * 10, "en", "src2") for i in range(200)]
    out = script_query("mix_budget", documents=_docs(spark, rows))
    by_src = {r.source: r for r in out.collect()}
    assert by_src["src0"].weight == 2.0 and by_src["src1"].weight == 0.5
    assert by_src["src2"].weight == 1.0
    # 100,000 tokens over weights 2 + 0.5 + 1 = 3.5
    assert by_src["src0"].alloc_tokens == 57142
    assert by_src["src1"].alloc_tokens == 14285
    assert by_src["src2"].alloc_tokens == 28571
    # every source holds less than its allocation: all capped at 1
    for r in by_src.values():
        assert r.sample_frac == 1.0


def test_span_dedup_marks_repeated_spans_only(spark):
    """An 8-token span repeated in a later doc marks exactly its union
    of positions there; the first occurrence stays clean; intra-doc
    repetition of a span also counts."""
    span = "s1 s2 s3 s4 s5 s6 s7 s8"
    rows = [
        (1, f"{span} tail1 tail2", "en", "s"),          # first occurrence: clean
        (2, f"head1 head2 {span}", "en", "s"),          # 8 dup tokens
        (3, "u1 u2 u3 u4 u5 u6 u7 u8 u9", "en", "s"),   # unique: clean
        (4, f"{span} {span}", "en", "s"),               # intra+cross: all 16 dup
    ]
    out = {r.doc_id: r for r in
           corpus.span_dedup_stats(_docs(spark, rows), k=8).collect()}
    assert out[1].dup_tokens == 0 and out[1].kept_tokens == 10
    assert out[2].dup_tokens == 8 and out[2].kept_tokens == 2
    assert out[3].dup_tokens == 0
    assert out[4].dup_tokens == 16 and out[4].kept_tokens == 0
    assert out[4].dup_frac == 1.0


def test_span_dedup_overlapping_spans_union_not_sum(spark):
    """9 consecutive repeated tokens = two overlapping dup 8-spans;
    the union is 9 tokens, not 16."""
    nine = "r1 r2 r3 r4 r5 r6 r7 r8 r9"
    rows = [
        (1, nine, "en", "s"),
        (2, f"{nine} x1 x2", "en", "s"),
    ]
    out = {r.doc_id: r for r in
           corpus.span_dedup_stats(_docs(spark, rows), k=8).collect()}
    assert out[2].dup_tokens == 9 and out[2].kept_tokens == 2


def test_span_dedup_short_docs_have_no_spans(spark):
    rows = [(1, "a b c", "en", "s"), (2, "a b c", "en", "s")]
    out = {r.doc_id: r for r in
           corpus.span_dedup_stats(_docs(spark, rows), k=8).collect()}
    assert out[1].dup_tokens == 0 and out[2].dup_tokens == 0
    assert out[1].n_tokens == 3


def test_vocab_tf_and_df(spark):
    rows = [
        (1, "a a b", "en", "s"),
        (2, "a c", "en", "s"),
    ]
    out = {r.term: r for r in script_query("corpus_vocab", documents=_docs(spark, rows)).collect()}
    assert out["a"].tf_total == 3 and out["a"].df == 2
    assert out["b"].tf_total == 1 and out["b"].df == 1
    assert out["c"].df == 1
    # no df floor: a term in one document stays
    assert sorted(out) == ["a", "b", "c"]


def test_tf_idf_matches_sklearn_convention(spark):
    import math

    rows = [
        (1, "a a b", "en", "s"),
        (2, "a c", "en", "s"),
        (3, "c c c", "en", "s"),
    ]
    out = {(r.doc_id, r.term): r
           for r in script_query("corpus_tfidf", documents=_docs(spark, rows)).collect()}
    # N=3; term 'a': df=2 -> idf = ln(4/3)+1; doc1 tf=2
    exp = round(2 * (math.log(4.0 / 3.0) + 1.0), 6)
    assert abs(out[(1, "a")].tfidf - exp) < 1e-9
    assert out[(1, "a")].tf == 2 and out[(1, "a")].df == 2
    # term 'b' df=1 -> idf = ln(2)+1
    assert abs(out[(1, "b")].tfidf - round(math.log(2.0) + 1.0, 6)) < 1e-9
    # every (doc, distinct term) pair appears
    assert len(out) == 5


def test_bloom_decontaminate_no_false_negatives(spark):
    """Bloom flags are a SUPERSET of exact decontamination hits (no
    false negatives — the Bloom contract); with 2^20 bits and a tiny
    planted bench set, false positives are ~0 here so counts match the
    exact operator on planted overlap."""
    bench = _docs(spark, [(100, "alpha beta gamma delta epsilon zeta", "en", "s")])
    train = _docs(spark, [
        (1, "alpha beta gamma delta epsilon eta theta", "en", "s"),  # overlaps
        (2, "one two three four five six seven eight", "en", "s"),   # clean
        (3, "solo", "en", "s"),                                      # no shingles
    ])
    exact = {r.doc_id: r for r in corpus.decontaminate(train, bench).collect()}
    bloom = {r.doc_id: r for r in corpus.bloom_decontaminate(train, bench).collect()}
    assert set(bloom) == {1, 2, 3}
    for did in exact:
        assert bloom[did].n_flagged >= exact[did].n_contaminated, did
    assert bloom[1].contaminated
    # shared shingles: 'alpha beta gamma', 'beta gamma delta',
    # 'gamma delta epsilon'
    assert bloom[1].n_flagged == exact[1].n_contaminated == 3
    assert bloom[2].n_flagged == 0 and not bloom[2].contaminated
    assert bloom[3].n_shingles == 0 and not bloom[3].contaminated


def test_bloom_flags_only_the_overlapping_doc(spark):
    """The document sharing shingles with the bench is contaminated;
    an unrelated one is not."""
    bench = _docs(spark, [(100, "alpha beta gamma delta epsilon zeta", "en", "s")])
    train = _docs(spark, [
        (1, "alpha beta gamma delta epsilon eta", "en", "s"),
        (2, "unrelated words entirely different content here", "en", "s"),
    ])
    got = {r.doc_id: r.contaminated
           for r in corpus.bloom_decontaminate(train, bench).collect()}
    assert got == {1: True, 2: False}


def test_bloom_decontaminate_empty_bench_keeps_all_docs(spark):
    """An empty benchmark set must degrade to an all-zero filter — every
    training document comes back with n_flagged=0, exactly like the
    exact operator and the LEFT JOIN + COALESCE oracle (a missing filter
    row must NOT let the crossJoin drop the corpus)."""
    bench = _docs(spark, []).filter(F.lit(False))
    train = _docs(spark, [
        (1, "alpha beta gamma delta", "en", "s"),
        (2, "solo", "en", "s"),
    ])
    out = {r.doc_id: r for r in corpus.bloom_decontaminate(train, bench).collect()}
    assert set(out) == {1, 2}
    assert out[1].n_flagged == 0 and not out[1].contaminated
    assert out[2].n_shingles == 0 and not out[2].contaminated


def test_bloom_broadcast_payload_is_bitpacked_array(spark):
    """The broadcast artifact must be the bit-packed filter — ONE row of
    array<long> with exactly m_bits/64 words (16 KiB at 2^20) — never the
    unpacked position set; and it must set the advertised number of
    bits (k positions per distinct shingle, minus collisions)."""
    bench = _docs(spark, [(100, "alpha beta gamma delta epsilon zeta", "en", "s")])
    for m_bits in (1 << 16, 1 << 20):
        rows = corpus._bloom_bitset_for_test(
            bench, n=3, m_bits=m_bits, k_hashes=4
        ).collect()
        assert len(rows) == 1
        bits = rows[0].bits
        assert len(bits) == m_bits // 64
        popcount = sum(bin(w & ((1 << 64) - 1)).count("1") for w in bits)
        # 4 distinct 3-shingles x 4 hashes = 16 positions max
        assert 4 <= popcount <= 16


def test_kmv_estimate_accuracy_and_exact_branch(spark):
    """Groups under k distinct tokens report exactly; groups over k
    estimate within the ~1/sqrt(k-2) KMV error band."""
    import math

    # group 'big': 2000 distinct tokens across docs; 'small': 10
    rows = [(i, " ".join(f"tok{j}" for j in range(i * 100, (i + 1) * 100)),
             "en", "big") for i in range(20)]
    rows += [(100, "a b c d e f g h i j", "en", "small")]
    out = {r.group: r for r in
           script_query("corpus_kmv_vocab", documents=_docs(spark, rows)).collect()}
    assert out["small"].n_distinct_exact == 10
    assert out["small"].est_distinct == 10.0 and out["small"].kth_min is None
    big = out["big"]
    assert big.n_distinct_exact == 2000
    assert abs(big.rel_err) < 3.0 / math.sqrt(256 - 2)  # 3 sigma, k = 256


def test_split_assign_stable_under_corpus_growth(spark):
    """A document's split depends only on its id: assignment on a
    subset equals assignment on the full corpus (rand()/randomSplit
    break this), and the three splits partition the corpus at roughly
    the requested fractions."""
    full = spark.range(0, 2000).select(F.col("id").alias("doc_id"), F.lit("en").alias("lang"))
    sub = full.filter(F.col("doc_id") % 3 == 0)
    a = {r["doc_id"]: r["split"] for r in script_query("corpus_split", documents=full).collect()}
    b = {r["doc_id"]: r["split"] for r in script_query("corpus_split", documents=sub).collect()}
    assert all(a[k] == v for k, v in b.items())
    n = len(a)
    frac = {s: sum(1 for v in a.values() if v == s) / n
            for s in ("train", "valid", "test")}
    assert abs(frac["train"] - 0.9) < 0.05
    assert abs(frac["valid"] - 0.05) < 0.03
    assert abs(frac["test"] - 0.05) < 0.03
    assert set(a.values()) == {"train", "valid", "test"}


def test_shuffle_positions_exact_permutation_of_hash_order(spark):
    """shuffle_pos must be the exact 0-based rank under (u, id) — a
    permutation of [0, n) — over 1,500 ids spread across the query's
    1,000 hash buckets (the hierarchical rank is an implementation
    detail)."""
    df = spark.range(0, 1500).withColumnRenamed("id", "doc_id")
    out = script_query("corpus_shuffle", documents=df).collect()
    n = len(out)
    assert sorted(r["shuffle_pos"] for r in out) == list(range(n))
    by_order = sorted(out, key=lambda r: (r["u"], r["doc_id"]))
    assert [r["shuffle_pos"] for r in by_order] == list(range(n))
    assert len({r["u"] // 1000 for r in out}) > 500


def test_curate_stage_flags_on_planted_docs(spark):
    """One planted document per failure mode; the conjunction keeps
    exactly the clean one."""
    en = ("the cat and the dog is of to in that it sat on the mat "
          "with the hat and the bat near the flat")  # 10+ toks, stopwordy
    train_rows = [
        (1, en, "en", "s"),                        # clean -> kept
        (2, "der hund und die katze ist nicht ein der die das und", "de", "s"),
        (3, "alpha beta gamma", "en", "s"),        # too short + no stopwords
        (4, en, "en", "s"),                        # exact dup of 1 -> not keeper
        (14, "bench overlap shingle one two three four five six seven eight nine "
             "the a and is of to in that it", "en", "s"),  # contaminated
    ]
    bench_rows = [(50, "bench overlap shingle one two three four five six seven", "en", "s")]
    train = _docs(spark, train_rows)
    bench = _docs(spark, bench_rows)
    out = {r["doc_id"]: r for r in corpus.curate(train, bench).collect()}
    assert set(out) == {1, 2, 3, 4, 14}
    assert out[1]["kept"] and out[1]["is_keeper"]
    assert not out[2]["pass_lang"] and out[2]["lang_pred"] == "de"
    assert not out[3]["pass_quality"]
    assert out[4]["pass_lang"] and not out[4]["is_keeper"] and not out[4]["kept"]
    assert not out[14]["not_contaminated"] and not out[14]["kept"]
    # every planted id hashes under the 80% sample cut except none —
    # assert the flag is computed (deterministic), not assumed
    for r in out.values():
        assert r["sampled"] == (((r["doc_id"] % 1048573) * 2654435761) % 1000000 < 800000)


def test_lm_score_counts_exact_on_tiny_corpus(spark):
    """'a b' appears in docs 1+2 ('a b c' and 'a b') => C('a b')=2; doc
    3 has no bigrams. Integer fields exact, log fields consistent."""
    import math

    df = _docs(spark, [(1, "a b c", "en", "s"), (2, "a b", "en", "s"),
                       (3, "solo", "en", "s")])
    rows = {r["doc_id"]: r for r in corpus.lm_score(df).collect()}
    # bigrams: doc1 {'a b','b c'}, doc2 {'a b'}; counts: 'a b'->2, 'b c'->1; T=3
    assert rows[1]["n_bigrams"] == 2 and rows[1]["sum_count"] == 3
    assert rows[1]["min_count"] == 1
    assert rows[2]["n_bigrams"] == 1 and rows[2]["sum_count"] == 2
    assert rows[2]["min_count"] == 2
    assert rows[3]["n_bigrams"] == 0 and rows[3]["sum_count"] == 0
    assert rows[3]["min_count"] is None and rows[3]["lm_logprob"] is None
    expect = round((math.log(2) + math.log(1)) / 2, 6)
    assert abs(rows[1]["avg_log_count"] - expect) < 1e-9
    assert abs(rows[2]["lm_logprob"] - round(math.log(2) - math.log(3), 6)) < 1e-9


def test_chunk_spans_reconstructs_token_stream(spark):
    """Chunks tile the document exactly: concatenating chunk_text in
    chunk_id order (space-joined) reproduces the tokenized document,
    begin_tok steps by the 16-token budget, and every chunk but the
    last is full-size."""
    long_doc = " ".join(f"w{i}" for i in range(37))  # 16 + 16 + 5 tokens
    rows = [
        (1, long_doc, "en", "s"),
        (2, "a", "en", "s"),
        (3, "  x   y  ", "en", "s"),  # ragged whitespace
    ]
    out = (
        script_query("corpus_chunk", documents=_docs(spark, rows))
        .orderBy("doc_id", "chunk_id")
        .collect()
    )
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    expected = {1: long_doc, 2: "a", 3: "x y"}
    assert len(by_doc[1]) == 3
    for doc_id, chunks in by_doc.items():
        joined = " ".join(c.chunk_text for c in chunks)
        assert joined == expected[doc_id]
        n_total = sum(c.n_chunk_tokens for c in chunks)
        for i, c in enumerate(chunks):
            assert c.chunk_id == i
            assert c.begin_tok == i * 16
            if i < len(chunks) - 1:
                assert c.n_chunk_tokens == 16
            else:
                assert 1 <= c.n_chunk_tokens <= 16
        assert n_total == len(expected[doc_id].split())


def test_chunk_spans_plan_has_no_shuffle(spark):
    """corpus_chunk is a pure narrow map + generator: the physical plan
    must contain no Exchange and no Python evaluation."""
    from ksql_query_tutorial_spark.plans.checks import (
        assert_no_python,
        executed_plan,
    )
    from ksql_query_tutorial_spark.tables import load

    d = load(spark, SF_SMOKE, "documents")
    df = script_query("corpus_chunk", documents=d)
    plan = executed_plan(df)
    assert "Exchange" not in plan, plan
    assert_no_python(df)


def test_domain_cap_matches_plain_window_reference(spark):
    """The hierarchical two-level rank equals the naive
    row_number() OVER (PARTITION BY source ORDER BY u, id) reference,
    for every row, and no domain keeps more than the query's cap of 15
    rows (each fixture source has 25)."""
    from pyspark.sql import Window

    from ksql_query_tutorial_spark.functions.hashes import id_hash
    from ksql_query_tutorial_spark.tables import load

    d = load(spark, SF_SMOKE, "documents")
    ref_w = Window.partitionBy("source").orderBy(
        F.col("u").asc(), F.col("doc_id").asc()
    )
    ref = (
        d.select("doc_id", "source", F.expr(id_hash("doc_id", 1_000_000)).alias("u"))
        .withColumn("dom_rank", F.row_number().over(ref_w).cast("long"))
        .withColumn("kept", F.col("dom_rank") <= 15)
    )
    got = script_query("corpus_domain_cap", documents=d)
    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0
    over = got.filter("kept").groupBy("source").count().filter("count > 15")
    assert over.count() == 0
    assert got.filter("NOT kept").count() > 0


# ------------------------------------------------- Count-Min sketch

def test_cms_one_sided_error_and_wide_exactness(spark):
    """CMS invariants: estimate >= exact always (one-sided error), and
    a wide-enough grid (no collisions possible) estimates exactly."""
    from ksql_query_tutorial_spark.tables import load

    d = load(spark, SF_SMOKE, "documents")
    out = corpus.cms_token_counts(d, depth=4, width=1 << 20).collect()
    assert out, "fixture produced no tokens"
    assert all(r["overshoot"] >= 0 for r in out)
    # 2^20 cells for a few hundred distinct tokens: collisions in ALL
    # 4 rows are practically impossible -> min over rows is exact.
    assert all(r["est_count"] == r["exact_count"] for r in out)


def test_cms_tiny_grid_still_one_sided(spark):
    """Forcing collisions (width 8) must inflate estimates, never
    deflate them — and totals per row stay the full token count."""
    from ksql_query_tutorial_spark.tables import load

    d = load(spark, SF_SMOKE, "documents")
    out = corpus.cms_token_counts(d, depth=4, width=8).collect()
    assert all(r["overshoot"] >= 0 for r in out)
    assert any(r["overshoot"] > 0 for r in out), "width 8 must collide"


def test_cms_plan_bounded_and_jvm_only(spark):
    """Grid build + estimate join stay JVM-side; the grid side of the
    estimate join is broadcast (depth x width rows, never shuffled
    against the vocabulary)."""
    from ksql_query_tutorial_spark.plans.checks import (
        assert_broadcast_join,
        assert_no_python,
        assert_partial_aggregation,
    )
    from ksql_query_tutorial_spark.tables import load

    d = load(spark, SF_SMOKE, "documents")
    df = corpus.cms_token_counts(d, depth=4, width=8192)
    assert_no_python(df)
    assert_partial_aggregation(df)
    assert_broadcast_join(df)


# --------------------------------------------- novelty / temperature mix

def test_novelty_first_occurrence_semantics(spark):
    """doc 1 introduces everything (novelty 1), doc 2 repeats doc 1
    verbatim (novelty 0), doc 3 is half old / half new, a short doc
    has no shingles and scores 0/0."""
    rows = [
        (1, "a b c d e"),            # shingles: abc bcd cde (all novel)
        (2, "a b c d e"),            # same set, first seen in doc 1
        (3, "a b c x y z"),          # abc old; bcx cxy xyz novel
        (4, "hi"),                   # < 3 tokens: no shingles
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in corpus.novelty_scores(df).collect()}
    assert out[1]["novelty"] == 1.0 and out[1]["n_shingles"] == 3
    assert out[2]["novelty"] == 0.0 and out[2]["n_shingles"] == 3
    assert out[3]["n_shingles"] == 4 and out[3]["n_novel"] == 3
    assert out[3]["novelty"] == 0.75
    assert out[4]["n_shingles"] == 0 and out[4]["novelty"] == 0.0


def test_mix_temperature_limits(spark):
    """Equal token shares are a fixed point of the alpha = 0.3 rule
    (p_temp = p_raw, uniform, boost 1); a 3:1 split tempers to
    p^0.3 renormalized; on the fixture alpha < 1 upsamples the smallest
    source and downsamples the largest."""
    from ksql_query_tutorial_spark.tables import load

    even = [(i, "t t", "en", f"s{i % 3}") for i in range(6)]
    prop = script_query("corpus_mix_temperature", documents=_docs(spark, even)).collect()
    assert len(prop) == 3
    assert all(abs(r["p_temp"] - r["p_raw"]) <= 1e-6 for r in prop)
    assert all(abs(r["p_temp"] - 1.0 / 3) <= 1e-6 for r in prop)
    assert all(abs(r["boost"] - 1.0) <= 1e-6 for r in prop)
    skew = [(0, "t t t", "en", "big"), (1, "t", "en", "small")]
    got = {r["source"]: r for r in
           script_query("corpus_mix_temperature", documents=_docs(spark, skew)).collect()}
    norm = 0.75 ** 0.3 + 0.25 ** 0.3
    assert got["big"]["p_temp"] == round(0.75 ** 0.3 / norm, 6)
    assert got["small"]["p_temp"] == round(0.25 ** 0.3 / norm, 6)
    d = load(spark, SF_SMOKE, "documents")
    mid = script_query("corpus_mix_temperature", documents=d).collect()
    smallest = min(mid, key=lambda r: r["n_tokens"])
    largest = max(mid, key=lambda r: r["n_tokens"])
    assert smallest["boost"] > 1.0 > largest["boost"]


def test_clean_text_lines_and_controls(spark):
    """Control chars stripped, short lines dropped, whitespace
    collapsed; a doc whose every line is short cleans to empty."""
    rows = [
        (1, "keep this line here\nno\nalso keep these words\n\x07ding one two"),
        (2, "a b\nc"),
        (3, "tabs\t\tget  collapsed here fine"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in script_query("corpus_clean", documents=df).collect()}
    assert out[1].clean_text == (
        "keep this line here\nalso keep these words\nding one two"
    )
    assert out[1].n_lines_kept == 3 and out[1].n_lines_dropped == 1
    assert out[2].clean_text == "" and out[2].n_lines_kept == 0
    assert out[3].clean_text == "tabs get collapsed here fine"
    assert out[3].n_chars_after < out[3].n_chars_before


def test_clean_text_plan_no_shuffle(spark):
    from ksql_query_tutorial_spark.plans.checks import (
        assert_no_python,
        executed_plan,
    )
    from ksql_query_tutorial_spark.tables import load

    d = load(spark, SF_SMOKE, "documents")
    df = script_query("corpus_clean", documents=d)
    assert_no_python(df)
    plan = executed_plan(df).split("== Initial Plan ==")[0]
    assert "Exchange" not in plan, plan


def test_sample_weighted_bias_and_determinism(spark):
    """Weighted A-Res: sampling is retry-stable, the keys follow
    u^(1/w), and across the fixture heavier docs are over-represented
    relative to their population share."""
    from ksql_query_tutorial_spark.tables import load

    d = load(spark, SF_SMOKE, "documents")
    k = 200
    a = script_query("sample_weighted", documents=d).collect()
    b = script_query("sample_weighted", documents=d).collect()
    assert [r.doc_id for r in a] == [r.doc_id for r in b]   # retry-stable
    assert len(a) == k
    keys = [r.key for r in a]
    assert keys == sorted(keys, reverse=True)
    # heavier-than-median docs should exceed half the sample
    med = sorted(r.n_chars for r in d.collect())[d.count() // 2]
    heavy = sum(1 for r in a if r.weight > med)
    assert heavy > k // 2, (heavy, med)


def test_bpe_encode_applies_learned_rules_greedily(spark):
    """bpe_encode on a toy corpus: rule learning ties break
    lexicographically ((a,</w>) beats (a,a) at count 2), and the
    greedy fold rewrites every word of the vocabulary."""
    from ksql_query_tutorial_spark.operators.corpus import bpe_encode

    df = spark.createDataFrame(
        [(1, "aa aa"), (2, "ab")], "doc_id long, text string"
    )
    out = {r["word"]: r for r in bpe_encode(df, n_merges=1).collect()}
    assert out["aa"]["freq"] == 2
    assert out["aa"]["encoded"] == "a a</w>"
    assert out["aa"]["n_syms"] == 2
    assert out["ab"]["encoded"] == "a b </w>"
    assert out["ab"]["n_syms"] == 3


def test_bpe_encode_prefix_consistent_with_trainer(spark):
    """The encoder's implicit ruleset is a prefix of the trainer's:
    re-deriving pair counts from the encoder's round-k state is the
    trainer's round-k argmax, so symbol inventories must nest."""
    from ksql_query_tutorial_spark.operators.corpus import (
        bpe_encode,
        bpe_merges,
    )

    df = spark.createDataFrame(
        [(1, "low low low lower lower newest newest newest widest")],
        "doc_id long, text string",
    )
    rules = bpe_merges(df, n_merges=4).collect()
    enc = bpe_encode(df, n_merges=4).collect()
    merged_syms = {
        r.left_sym + r.right_sym for r in rules
    }
    produced = {s for r in enc for s in r.encoded.split(" ")}
    # every learned merge's output symbol either appears in the final
    # encoding or was consumed by a later merge built on top of it
    for m in merged_syms:
        assert any(m in p for p in produced), (m, produced)


def test_bpe_rule_regex_matches_reference_fold(spark):
    """_bpe_apply_rule (codegen regexp_replace rewrite) is exactly the
    greedy left-to-right non-overlapping array fold, including
    overlapping runs ('a a a' under (a,a) -> 'aa a'), regex
    metacharacters in symbols, Java quote edge cases (embedded \\E,
    $, backslash), and rules targeting the '</w>' terminator."""
    import pyspark.sql.functions as F

    from ksql_query_tutorial_spark.operators.corpus import _bpe_apply_rule

    def reference_fold(a: str, b: str):
        # the pre-r6 O(L^2) interpreted fold, kept as the oracle here
        return F.aggregate(
            F.col("syms"),
            F.array().cast("array<string>"),
            lambda acc, s: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(a))
                & (s == F.lit(b)),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1),
                    F.array(F.concat(F.element_at(acc, -1), s)),
                ),
            ).otherwise(F.concat(acc, F.array(s))),
        )

    cases = [
        (["a", "a", "a", "a", "</w>"], ("a", "a")),
        (["a", "a", "a", "</w>"], ("a", "a")),
        (["x", "a", "b", "a", "b", "</w>"], ("a", "b")),
        (["xa", "b", "c", "</w>"], ("a", "b")),   # no match inside "xa b"
        (["a", "b", "ab", "</w>"], ("a", "b")),
        (["$", "\\", "$", "</w>"], ("$", "\\")),
        ([".*", "+?", ".*", "+?", "</w>"], (".*", "+?")),
        (["\\E", "x", "\\E", "x", "</w>"], ("\\E", "x")),
        (["a", "b", "</w>"], ("b", "</w>")),
        (["ab", "ab", "</w>"], ("ab", "ab")),
        (["q", "</w>"], ("x", "y")),              # no-op rule
        # ADVICE r6: empty syms must stay [] (split('', ' ') would
        # yield [""]); unreachable from _bpe_words but the helper is
        # total now
        ([], ("a", "b")),
    ]
    df = spark.createDataFrame(
        [(i, syms) for i, (syms, _) in enumerate(cases)],
        "i int, syms array<string>",
    )
    for i, (syms, (a, b)) in enumerate(cases):
        sub = df.filter(F.col("i") == i)
        got = sub.select(_bpe_apply_rule(a, b).alias("o")).collect()[0][0]
        want = sub.select(reference_fold(a, b).alias("o")).collect()[0][0]
        assert got == want, (syms, (a, b), got, want)
