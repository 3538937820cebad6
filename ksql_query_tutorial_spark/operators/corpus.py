"""Corpus-level training-data pipeline operators.

The ops a 100 TB pretraining pipeline runs AFTER per-document scoring
(operators/text.py) and near-dup removal (operators/dedup.py) that a SQL
script does not carry: the pinned multi-consumer frames
(:func:`cms_token_counts`, :func:`dsir_importance`, :func:`lm_score`,
:func:`novelty_scores`, :func:`kn_bigram`), the OLS fits
(:func:`zipf_fit`, :func:`heaps_fit`), the BPE trainer and encoder
(:func:`bpe_merges`, :func:`bpe_encode`), and the shingle operators the
curation pipeline shares (:func:`decontaminate`,
:func:`bloom_decontaminate`, :func:`boilerplate_stats`,
:func:`with_repetition`, :func:`curate`). The portable hashes these use
are Spark SQL text from ``functions.hashes``, wrapped in ``F.expr``. The
other corpus queries, the hash samplers, splits and sketches among them,
are SQL in ``extensions/corpus.sql``.

Everything is JVM-side DataFrame ops (no Python UDFs); every shuffle
key includes the document id or a bounded domain, so nothing here
concentrates data by an unbounded hot key.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ksql_query_tutorial_spark import cache
from ksql_query_tutorial_spark.functions import hashes
from ksql_query_tutorial_spark.operators.dedup import (
    shingle_hash_posting,
    shingles_of,
)
from ksql_query_tutorial_spark.operators.text import tokens
from ksql_query_tutorial_spark.session import local_frame


def decontaminate(
    train: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_hits: int = 2,
) -> DataFrame:
    """Benchmark decontamination: for every training document, how many
    of its distinct ``n``-gram shingles also occur ANYWHERE in the
    benchmark set; ``contaminated`` flags docs with ≥ ``min_hits``.

    Plan shape: both sides explode to distinct (doc, shingle) postings;
    the benchmark side collapses to its distinct-shingle index (eval
    sets are tiny next to a training corpus, so Catalyst/AQE broadcasts
    it); a LEFT join + count keeps zero-hit documents in the output.

    Returns ``doc_id, n_shingles, n_contaminated, contamination_frac,
    contaminated`` for every training document.
    """
    t_post = (
        train.select(
            F.col(id_col).alias("doc_id"),
            tokens(F.col(text_col)).alias("__toks"),
        )
        .select(
            "doc_id",
            F.explode_outer(
                F.array_distinct(shingles_of(F.col("__toks"), n))
            ).alias("shingle"),
        )
    )
    bench_index = (
        bench.select(tokens(F.col(text_col)).alias("__toks"))
        .select(
            F.explode(F.array_distinct(shingles_of(F.col("__toks"), n))).alias("shingle")
        )
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    per_doc = (
        t_post.join(F.broadcast(bench_index), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count("shingle").alias("n_shingles"),
            F.count("__hit").alias("n_contaminated"),
        )
        .withColumn(
            "contamination_frac",
            F.round(
                F.col("n_contaminated").cast("double")
                / F.greatest(F.col("n_shingles"), F.lit(1)).cast("double"),
                6,
            ),
        )
        .withColumn("contaminated", F.col("n_contaminated") >= min_hits)
    )
    return per_doc.select(
        "doc_id", "n_shingles", "n_contaminated", "contamination_frac", "contaminated"
    )


def boilerplate_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_docs: int = 10,
) -> DataFrame:
    """Corpus-level boilerplate detection: a shingle occurring in
    ≥ ``min_docs`` DISTINCT documents is boilerplate (headers, nav
    bars, license blurbs — the cross-document repetition that survives
    per-document quality filters); report each document's share.

    Two shuffles, both well-keyed: (doc, shingle) postings groupBy
    shingle for document frequency (shingle keys are long-tailed; the
    distinct-per-doc explode caps any one doc's contribution at 1 per
    shingle), then groupBy doc for the per-document rollup.

    Returns ``doc_id, n_shingles, n_boilerplate, boilerplate_frac``.
    """
    post = df.select(
        F.col(id_col).alias("doc_id"),
        tokens(F.col(text_col)).alias("__toks"),
    ).select(
        "doc_id",
        F.explode_outer(F.array_distinct(shingles_of(F.col("__toks"), n))).alias(
            "shingle"
        ),
    )
    freq = (
        post.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_docs)
        .select("shingle", F.lit(1).alias("__bp"))
    )
    return (
        post.join(freq, "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count("shingle").alias("n_shingles"),
            F.count("__bp").alias("n_boilerplate"),
        )
        .withColumn(
            "boilerplate_frac",
            F.round(
                F.col("n_boilerplate").cast("double")
                / F.greatest(F.col("n_shingles"), F.lit(1)).cast("double"),
                6,
            ),
        )
        .select("doc_id", "n_shingles", "n_boilerplate", "boilerplate_frac")
    )


def with_repetition(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition signals per document:

    - ``dup_word_frac`` — 1 − distinct/total tokens (shuffle-free HOF);
    - ``top_bigram_frac`` — share of all bigram occurrences taken by
      the single most frequent bigram (explode + two doc-keyed
      aggregations; every shuffle key contains ``doc_id``, so skew is
      bounded by document length, not corpus size).

    High values ⇒ degenerate/templated text (Rae et al., Gopher
    appendix A): cut before tokenization, they are the cheapest
    quality win after URL filtering.

    Shape (r7): ONE corpus scan and tokenization — the per-doc scalar
    stats ride the bigram rows as grouping keys (constant per doc,
    two numeric columns of shuffle weight) instead of a second scan
    branch joined back. The explode is OUTER on purpose, and not only
    for the <2-token docs: a plain explode lets Catalyst infer a
    ``size(__bigrams) > 0 AND isnotnull(__bigrams)`` filter below the
    Generate, and pushing that predicate through the projection
    inlines the whole split+transform pipeline SEVERAL times per row
    — measured 10.5s vs ~1.1s at sf0.1 (the pre-r7 join shape paid
    exactly this). The null row a doc with <2 tokens emits is kept
    out of the counts by the conditional aggregates, so
    top_bigram_frac stays 0.0 for those docs as before.
    """
    base = df.select(
        F.col(id_col).alias("doc_id"),
        tokens(F.col(text_col)).alias("__toks"),
    ).select(
        "doc_id",
        F.size("__toks").cast("long").alias("n_tokens"),
        F.round(
            F.lit(1.0)
            - F.size(F.array_distinct("__toks")).cast("double")
            / F.greatest(F.size("__toks"), F.lit(1)).cast("double"),
            6,
        ).alias("dup_word_frac"),
        shingles_of(F.col("__toks"), 2).alias("__bigrams"),
    )
    rows = base.select(
        "doc_id", "n_tokens", "dup_word_frac",
        F.explode_outer("__bigrams").alias("bigram"),
    )
    counts = rows.groupBy(
        "doc_id", "n_tokens", "dup_word_frac", "bigram"
    ).agg(F.count(F.lit(1)).alias("c"))
    real = F.when(F.col("bigram").isNotNull(), F.col("c"))
    return (
        counts.groupBy("doc_id", "n_tokens", "dup_word_frac")
        .agg(
            F.max(real).alias("__top"),
            F.sum(F.coalesce(real, F.lit(0))).alias("__total"),
        )
        .select(
            "doc_id", "n_tokens", "dup_word_frac",
            F.round(
                F.coalesce(F.col("__top"), F.lit(0)).cast("double")
                / F.greatest(F.col("__total"), F.lit(1)).cast("double"),
                6,
            ).alias("top_bigram_frac"),
        )
    )


# range of the portable sampling hash (hashes.id_hash): u/1e6 is the
# uniform variate the sampling cut is compared to
_HASH_MOD = 1_000_000


def span_dedup_stats(
    df: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Duplicate-SPAN detection (the shingle approximation of
    suffix-array substring dedup, Lee et al. 2022 "Deduplicating
    Training Data Makes Language Models Better"): any ``k``-token span
    whose text occurred earlier in the corpus (earlier doc, or earlier
    position in the same doc) marks its tokens as duplicated; the
    covered-token count per document is the union of those (possibly
    overlapping) spans.

    Plan shape — two shuffles, both scale-safe:

    1. spans explode to ``(doc_id, pos, xxhash64(span))``, repartitioned
       on the span hash; first occurrence per span hash is a
       groupBy-min joined back on the hash. Measured r7 note: the
       explicit repartition was added to let ReusedExchange share one
       occ pipeline between the agg and the join, but self-join
       attribute deduplication re-aliases one branch and defeats the
       canonical-plan match (both branches still materialize — a
       known Catalyst limitation); it still measured 2.20s → 1.46s
       at sf0.1 (best-of-3) because the downstream agg and join run
       over the repartitioned width instead of the parquet split
       count, and it removes their ENSURE_REQUIREMENTS exchanges. The
       window-over-``__h`` single-pipeline alternative was considered
       and rejected: an unbounded min window puts every occurrence of
       one hot boilerplate span in ONE task, while the groupBy keeps
       map-side combine and AQE splits any residual hot join
       partition;
    2. interval union per document is a gaps-and-islands running max
       over ``Window.partitionBy(doc_id)`` — parallel across docs,
       ordered only within one document's duplicate spans.

    Returns one row per input document: ``doc_id, n_tokens,
    dup_tokens, kept_tokens, dup_frac`` (dup_tokens = size of the
    union of duplicated spans; kept = tokens surviving span removal).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    docs = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(tokens(F.col(text_col))).cast("int").alias("n_tokens"),
    )
    occ = (
        df.select(
            F.col(id_col).alias("doc_id"),
            tokens(F.col(text_col)).alias("__toks"),
        )
        .select(
            "doc_id",
            F.posexplode(shingles_of(F.col("__toks"), k)).alias("pos", "__sh"),
        )
        .select("doc_id", "pos", F.xxhash64("__sh").alias("__h"))
        .repartition(F.col("__h"))
    )
    firsts = occ.groupBy("__h").agg(
        F.min(F.struct("doc_id", "pos")).alias("__first")
    )
    dup = occ.join(firsts, "__h").filter(
        (F.col("doc_id") != F.col("__first.doc_id"))
        | (F.col("pos") != F.col("__first.pos"))
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + k).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    covered = dup.select(
        "doc_id",
        F.greatest(
            F.lit(0),
            (F.col("pos") + k) - F.greatest(F.coalesce(prev_end, F.col("pos")), F.col("pos")),
        ).alias("__new"),
    ).groupBy("doc_id").agg(F.sum("__new").cast("long").alias("dup_tokens"))
    return (
        docs.join(covered, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("long").alias("dup_tokens"),
            (F.col("n_tokens").cast("long")
             - F.coalesce(F.col("dup_tokens"), F.lit(0))).alias("kept_tokens"),
            F.round(
                F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("double")
                / F.greatest(F.col("n_tokens"), F.lit(1)).cast("double"),
                6,
            ).alias("dup_frac"),
        )
    )


def _bloom_shingle_hashes(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """``doc_id, h`` — one :func:`hashes.token_hash` per distinct
    n-shingle per document (null h for shingle-less docs, kept so every
    doc survives to the rollup)."""
    sh = df.select(
        F.col(id_col).alias("doc_id"),
        tokens(F.col(text_col)).alias("__toks"),
    ).select(
        "doc_id",
        F.explode_outer(
            F.array_distinct(shingles_of(F.col("__toks"), n))
        ).alias("sh"),
    )
    return sh.select(
        "doc_id",
        F.when(F.col("sh").isNotNull(), F.expr(hashes.token_hash("sh"))).alias("h"),
    )


def _bloom_bitset_for_test(
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    m_bits: int = 1 << 20,
    k_hashes: int = 4,
) -> DataFrame:
    """The broadcastable filter artifact alone — exactly ONE row of
    bit-packed ``array<long>`` (``m_bits/64`` words), zero-filled when
    the benchmark is empty. Split out so tests can pin the payload
    shape without running the train-side probe plan."""
    n_words = (m_bits + 63) // 64

    def build_bits(pdf: pd.DataFrame) -> pd.DataFrame:
        bits = np.zeros(n_words, dtype=np.uint64)
        pos = pdf["pos"].to_numpy(dtype=np.int64)
        np.bitwise_or.at(
            bits, pos >> 6, np.uint64(1) << (pos.astype(np.uint64) & np.uint64(63))
        )
        return pd.DataFrame({"bits": [bits.astype(np.int64)]})

    return (
        _bloom_shingle_hashes(bench, id_col, text_col, n)
        .filter(F.col("h").isNotNull())
        .select(
            F.explode(
                F.array(*map(F.expr, hashes.affine_positions("h", k_hashes, m_bits)))
            ).alias("pos")
        )
        .distinct()
        .withColumn("__g", F.lit(0))
        .groupBy("__g")
        .applyInPandas(lambda _key, pdf: build_bits(pdf), schema="bits array<long>")
        # An empty benchmark produces ZERO groups above (no filter row),
        # and a crossJoin against an empty side would drop every training
        # document. A global agg always emits exactly one row: OR-fold the
        # <=1 packed rows into a zero-filled array<long> init, so the
        # empty-bench case degrades to an all-zero filter (n_flagged=0
        # everywhere), matching decontaminate() and the oracle.
        .agg(
            F.aggregate(
                F.collect_list("bits"),
                F.array_repeat(F.lit(0).cast("long"), n_words),
                lambda acc, x: F.zip_with(acc, x, lambda a, b: a.bitwiseOR(b)),
            ).alias("bits")
        )
    )


def bloom_decontaminate(
    train: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    m_bits: int = 1 << 20,
    k_hashes: int = 4,
    min_hits: int = 2,
) -> DataFrame:
    """Bloom-filter decontamination — the constant-size-broadcast scale
    path for :func:`decontaminate`: the benchmark set is compressed to
    the SET OF SET BIT POSITIONS of a Bloom filter (``k_hashes``
    positions per distinct benchmark shingle, folded into ``m_bits``);
    a training shingle is flagged iff ALL its ``k_hashes`` positions
    are set. Classic Bloom semantics: no false negatives (every truly
    contaminated shingle flags), false positives at the standard
    ``(1-e^{-kn/m})^k`` rate — deterministic and reproduced exactly by
    the oracle, which computes the same positions.

    Plan shape: the bench side collapses to ≤ ``min(k·|shingles|,
    m_bits)`` distinct positions — bounded by ``m_bits`` (128 KiB of
    bit-packed state at 2^20) REGARDLESS of benchmark size, which is
    what a 100 TB pipeline broadcasts where :func:`decontaminate` would
    broadcast the full shingle index. The train side explodes each
    shingle to ``k_hashes`` position probes, broadcast-left-joins the
    position set (no shuffle of the corpus), and two doc-keyed
    aggregations roll up to per-document counts. (Here the broadcast
    is the position set itself; a production variant would bit-pack it
    into ``m/8`` bytes — the probe plan is identical.)

    Shingles hash with the Mersenne-31 char fold, so an independent SQL
    engine recomputes identical positions (the DuckDB oracle path).

    Returns ``doc_id, n_shingles, n_flagged, flag_frac, contaminated``
    for every training document.
    """
    # Bench side → ONE bit-packed filter row (array<long>, m_bits/64
    # entries — 16 KiB at 2^20 bits): all positions funnel through a
    # single-group applyInPandas, which is bounded by construction
    # (≤ min(k·|bench shingles|, m_bits) distinct positions). This IS
    # the artifact a 100 TB job broadcasts.
    bitset = _bloom_bitset_for_test(bench, id_col, text_col, n, m_bits, k_hashes)

    # Train side: project the k positions, cross-join the broadcast
    # filter row, and test bits with pure codegen arithmetic — no
    # explode, no probe join, no per-shingle aggregation; the ONLY
    # shuffle left is the final doc-keyed rollup. A null h (shingle-
    # less doc) gives null positions → null flag → counted as 0 below.
    probes = _bloom_shingle_hashes(train, id_col, text_col, n).select(
        "doc_id",
        "h",
        *[
            F.expr(p).alias(f"p{i}")
            for i, p in enumerate(hashes.affine_positions("h", k_hashes, m_bits))
        ],
    ).crossJoin(F.broadcast(bitset))
    flag = None
    for i in range(k_hashes):
        # element_at is 1-indexed; shift amounts must be expressions,
        # which the SQL form allows (the python wrapper takes only
        # literals)
        bit_i = F.expr(
            f"(shiftrightunsigned(element_at(bits, CAST(p{i} DIV 64 AS INT) + 1), "
            f"CAST(p{i} % 64 AS INT)) & 1) = 1"
        )
        flag = bit_i if flag is None else (flag & bit_i)
    per_doc = (
        probes.withColumn("__flag", flag)
        .groupBy("doc_id")
        .agg(
            F.count("h").alias("n_shingles"),
            F.count(F.when(F.col("__flag"), F.lit(1))).alias("n_flagged"),
        )
        .withColumn(
            "flag_frac",
            F.round(F.col("n_flagged").cast("double")
                    / F.greatest(F.col("n_shingles"), F.lit(1)).cast("double"), 6),
        )
        .withColumn("contaminated", F.col("n_flagged") >= min_hits)
    )
    return per_doc.select(
        "doc_id", "n_shingles", "n_flagged", "flag_frac", "contaminated"
    )


# curate() stage thresholds — integer arithmetic only, so every flag is
# bit-reproducible in any SQL engine (no float threshold boundaries).
CURATE_MIN_TOKENS = 10
CURATE_STOPWORD_PCT = 3      # stopwords must be >= 3% of tokens
CURATE_SAMPLE_CUT = 800_000  # keep u < 0.8e6 (80% deterministic sample)


def curate(
    train: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_hits: int = 2,
) -> DataFrame:
    """The end-to-end curation pipeline a pretraining corpus goes
    through, composed from this repo's per-stage operators into ONE
    DataFrame plan — language filter, heuristic quality filter, exact
    dedup keeper selection, benchmark decontamination, deterministic
    sampling — emitting every stage's verdict per document (flags, not
    a destructive filter, so the pipeline is auditable: each stage's
    yield is one groupBy away).

    Stage flags (all integer/string comparisons — no float thresholds):

    - ``pass_lang``   — marker-word language ID predicts 'en';
    - ``pass_quality``— ≥ ``CURATE_MIN_TOKENS`` tokens and stopwords ≥
      ``CURATE_STOPWORD_PCT``% of tokens (``100·stop ≥ pct·n`` exact);
    - ``is_keeper``   — min-id representative of its exact-content
      group (md5 of whitespace-normalized text);
    - ``not_contaminated`` — < ``min_hits`` distinct shingles shared
      with the benchmark set (:func:`decontaminate`);
    - ``sampled``     — portable hash < ``CURATE_SAMPLE_CUT``;
    - ``kept``        — conjunction of all five.

    Plan shape at 100 TB: the lang/quality/sample flags are narrow
    projections fused into the scan; dedup adds one shuffle on the
    content hash; decontamination adds the broadcast bench index plus
    its doc-keyed rollup; the final assembly joins on ``id`` (both
    sides already id-partitioned; the per-stage branches re-scan the
    pruned input rather than share a persisted copy — measured
    0.93×/0.95× sub-noise at sf0.1/sf1, not worth a corpus-sized
    cache, STRESS.md r7 scan-audit burn-down). No driver actions, no unbounded
    windows.
    """
    from ksql_query_tutorial_spark.operators.text import (
        STOPWORDS,
        _count_in,
        _stage_toks,
        normalized,
        tokens,
        with_lang_id,
    )

    # materialized tokens attribute (r7): the inline form re-split the
    # text once per reference in the quality conjunction (3×/row)
    t = F.col("__qtoks")
    flags = (
        with_lang_id(train, text_col)
        .transform(lambda f: _stage_toks(f, text_col, "__qtoks"))
        .select(
            F.col(id_col),
            F.col("lang_pred"),
            (F.col("lang_pred") == "en").alias("pass_lang"),
            (
                (F.size(t) >= CURATE_MIN_TOKENS)
                & (_count_in(t, STOPWORDS) * 100
                   >= CURATE_STOPWORD_PCT * F.size(t))
            ).alias("pass_quality"),
            (F.expr(hashes.id_hash(id_col, _HASH_MOD)) < CURATE_SAMPLE_CUT).alias("sampled"),
            F.md5(normalized(F.col(text_col))).alias("__h"),
        )
    )
    # keeper = min id per content-hash group, via a window min — ONE
    # shuffle on the hash (a groupBy + join-back costs the same shuffle
    # plus a join); group sizes are duplicate-cluster sizes, bounded.
    wk = Window.partitionBy("__h")
    decon = decontaminate(
        train, bench, id_col=id_col, text_col=text_col, min_hits=min_hits
    ).select(F.col("doc_id").alias(id_col), (~F.col("contaminated")).alias("not_contaminated"))
    out = (
        flags.withColumn("is_keeper", F.col(id_col) == F.min(id_col).over(wk))
        .join(decon, id_col)
        .withColumn(
            "kept",
            F.col("pass_lang")
            & F.col("pass_quality")
            & F.col("is_keeper")
            & F.col("not_contaminated")
            & F.col("sampled"),
        )
    )
    return out.select(
        id_col, "lang_pred", "pass_lang", "pass_quality", "is_keeper",
        "not_contaminated", "sampled", "kept",
    )


def lm_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-self n-gram LM scoring (the CCNet/KenLM-shaped quality
    signal, with the corpus itself as the LM): every document is scored
    by how common its bigrams are in the whole corpus — documents full
    of corpus-rare constructions (OCR noise, lorem-ipsum, hostile spam)
    sit in the low tail, boilerplate in the high tail. The real-world
    twin swaps the corpus bigram table for a pretrained LM's counts;
    the PLAN — posting, count, posting-vs-count join, doc rollup — is
    identical.

    Plan shape (word-count discipline, every stage map-side-combined):
    bigram posting (doc-keyed lead window, one shuffle) → global bigram
    counts (one shuffle, partial aggs absorb hot bigrams) → 1:1
    equi-join of posting to counts on the bigram hash → doc-keyed
    rollup. The count table is vocabulary²-bounded, not corpus-bounded;
    the scalar total rides a 1-row broadcast.

    Returns per document: ``n_bigrams, sum_count, min_count`` (exact
    integers) and ``avg_log_count, lm_logprob`` (rounded doubles;
    Scan shape (r7 measured-kept): the bigram posting is rebuilt per
    consumer instead of persisted — the persist variant measured
    1.13× at sf0.1 and 2.26× at sf1 (STRESS.md r7 scan-audit
    burn-down): the posting is corpus-sized, so caching it costs more
    than the pruned re-scan it saves, increasingly so with scale.

    ``lm_logprob = avg(ln(C(b)/T))``). Docs with < 2 tokens keep NULL
    floats and zero counts.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    pos_toks = (
        df.repartition(par, F.col(id_col))
        .select(
            F.col(id_col).alias("id"),
            F.posexplode(tokens(F.col(text_col))).alias("pos", "tok"),
        )
    )
    w = Window.partitionBy("id").orderBy("pos")
    posting = (
        pos_toks.select("id", "tok", F.lead("tok", 1).over(w).alias("t1"))
        .filter(F.col("t1").isNotNull())
        .select("id", F.xxhash64(F.concat_ws(" ", "tok", "t1")).alias("h"))
    )
    # persist the count table (vocabulary²-bounded — the SMALL side):
    # it feeds both the posting join and the scalar total, and without
    # the persist the whole posting pipeline re-executes to rebuild it.
    # The posting itself is NOT persisted by design: at corpus scale it
    # is ~16 bytes/token (bigger than the text); recomputing the narrow
    # tokenize+lead pipeline is the right trade.
    counts = cache.pin(
        posting.groupBy("h").agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = counts.groupBy().agg(F.sum("cnt").alias("t"))
    per_doc = (
        posting.join(counts, "h")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_bigrams"),
            F.sum("cnt").cast("long").alias("sum_count"),
            F.min("cnt").cast("long").alias("min_count"),
            F.avg(F.log("cnt")).alias("__avg_log"),
        )
    )
    out = (
        df.select(F.col(id_col).alias("id"))
        .join(per_doc, "id", "left")
        .crossJoin(F.broadcast(total))
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("sum_count", F.lit(0)).alias("sum_count"),
            "min_count",
            F.round("__avg_log", 6).alias("avg_log_count"),
            F.round(F.col("__avg_log") - F.log(F.col("t").cast("double")), 6)
            .alias("lm_logprob"),
        )
    )
    return out


def cms_token_counts(
    df: DataFrame,
    text_col: str = "text",
    depth: int = 4,
    width: int = 8192,
) -> DataFrame:
    """Count-Min sketch token frequencies — the mergeable bounded-state
    FREQUENCY sketch (Cormode & Muthukrishnan), completing the sketch
    triad next to KMV (cardinality, ``corpus_kmv_vocab``) and
    Bloom (membership, :func:`bloom_decontaminate`): ``depth × width``
    counters answer "how often does token t appear?" with one-sided
    error (estimate ≥ truth, overshoot ≤ εN w.h.p., ε = e/width)
    regardless of corpus size.

    Like the KMV query — and unlike ``count_min_sketch()``'s opaque binary
    — every step is deterministic integer arithmetic over the portable
    hash (positions reuse the Bloom row scheme), so an independent SQL
    engine reproduces the ESTIMATES bit-for-bit: an oracle-verifiable
    approximate sketch. ``exact_count`` rides along as the accuracy
    diagnostic; ``overshoot = est - exact`` is provably ≥ 0 (the CMS
    one-sided-error invariant, pinned by a unit test).

    Plan shape: token counts first (ONE full-data exchange, map-side
    partials collapse each task to its local vocabulary), then the
    ``depth × width``-bounded grid rollup and a grid join — both over
    vocabulary-sized inputs, never the raw token stream. At 100 TB the
    grid IS the artifact a pipeline ships (16k longs here); the
    per-token estimate join is the diagnostic read path.

    Returns ``tok, exact_count, est_count, overshoot`` per distinct
    token.
    """
    # persist: the vocabulary table is referenced by BOTH the grid
    # build and the estimate join; without it the full token explode
    # re-executes per reference (measured 3 scans -> 1 at sf3). The
    # cached state is vocabulary-sized — a few KB.
    tok_counts = cache.pin(
        df.select(F.explode(tokens(F.col(text_col))).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact_count"))
    )
    posed = tok_counts.withColumn(
        "__pos",
        F.array(*map(F.expr, hashes.affine_positions(hashes.token_hash("tok"), depth, width))),
    ).select(
        "tok",
        "exact_count",
        F.posexplode("__pos").alias("row", "pos"),
    )
    grid = posed.groupBy("row", "pos").agg(
        F.sum("exact_count").alias("cell")
    )
    est = (
        posed.join(F.broadcast(grid), ["row", "pos"])
        .groupBy("tok")
        .agg(
            F.max("exact_count").alias("exact_count"),
            F.min("cell").alias("est_count"),
        )
    )
    return est.select(
        "tok",
        "exact_count",
        "est_count",
        (F.col("est_count") - F.col("exact_count")).alias("overshoot"),
    )


def novelty_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per-document shingle NOVELTY: the fraction of a doc's distinct
    n-shingles whose corpus-wide first occurrence (min doc id) is this
    doc — the diversity/contribution signal dedup-ordered pipelines
    use to rank docs for keeping (a doc that only repeats earlier
    content scores 0; fresh content scores 1).

    Word-count-shaped: the distinct posting (id, h), a min-id aggregate
    keyed on the shingle hash, a join back on that hash (reusing the
    aggregate's partitioning — no extra exchange), and a doc-keyed
    rollup. No all-pairs anything; every exchange carries posting-sized
    rows with map-side partials.

    Returns ``doc_id, n_shingles, n_novel, novelty`` for EVERY doc
    (shingle-less docs score 0 over 0 shingles).
    """
    post = cache.pin(shingle_hash_posting(df, id_col, text_col, n))
    firsts = post.groupBy("h").agg(F.min("id").alias("first_id"))
    per = (
        post.join(firsts, "h")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("first_id") == F.col("id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(per.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
            F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
            F.round(
                F.coalesce("n_novel", F.lit(0)).cast("double")
                / F.greatest(F.coalesce("n_shingles", F.lit(0)), F.lit(1)),
                6,
            ).alias("novelty"),
        )
    )


def _bpe_pair_argmax(state: DataFrame) -> DataFrame:
    """One BPE round's pair-count + argmax over the vocabulary state
    (``freq, syms``): explode adjacent symbol pairs, partial-agg the
    counts, and take the single most frequent pair (ties broken
    lexicographically so the learned sequence is deterministic).
    The ``orderBy.limit(1)`` compiles to ``TakeOrderedAndProject`` —
    no global sort ever materializes (plan-pinned in
    tests/test_plans.py)."""
    return (
        state.select(
            "freq",
            F.explode(
                F.expr(
                    "zip_with(slice(syms, 1, size(syms) - 1), "
                    "slice(syms, 2, size(syms) - 1), "
                    "(a, b) -> struct(a AS l, b AS r))"
                )
            ).alias("pr"),
        )
        .groupBy("pr.l", "pr.r")
        .agg(F.sum("freq").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
        .limit(1)
    )


def _bpe_words(
    df: DataFrame, text_col: str, max_word_chars: int
) -> DataFrame:
    """Word-frequency rollup + initial symbolization shared by the BPE
    trainer and encoder — the ONLY corpus-sized pass either makes."""
    return (
        df.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .filter(F.length("word") > 0)
        .select(
            F.substring("word", 1, max_word_chars).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn(
            "syms",
            F.concat(F.split("word", ""), F.array(F.lit("</w>"))),
        )
    )


def _java_pattern_quote(s: str) -> str:
    """java.util.regex.Pattern.quote: literal-quote a symbol for use
    inside a Java regex (handles embedded ``\\E`` the same way)."""
    return "\\Q" + s.replace("\\E", "\\E\\\\E\\Q") + "\\E"


def _java_replacement_quote(s: str) -> str:
    """java.util.regex.Matcher.quoteReplacement: escape ``\\`` and
    ``$`` so the merged symbol is a literal replacement."""
    return s.replace("\\", "\\\\").replace("$", "\\$")


def _bpe_apply_rule(a: str, b: str):
    """Greedy left-to-right non-overlapping rewrite of one merge rule
    over the ``syms`` array (see bpe_merges docstring for the 'aaaa'
    semantics).

    Implemented as ONE codegen ``regexp_replace`` over the
    space-joined symbols: Java's replaceAll resumes AFTER each match,
    which IS the greedy non-overlapping fold ("a a a" under (a, a) →
    "aa a"), and the ``(^| )…(?= |$)`` boundaries pin whole symbols
    (symbols never contain whitespace — the tokenizer splits on
    ``\\s+``). Both rule symbols are Pattern.quote-d and the merged
    replacement Matcher.quoteReplacement-d, so regex metacharacters
    in real tokens are inert. The previous array-fold formulation
    (``F.aggregate`` copying its accumulator per element) was an
    interpreted CodegenFallback lambda costing O(L²) per word —
    A/B-measured 2.2× slower per round at sf0.1; equivalence on
    metacharacter-heavy and overlapping-run inputs is pinned by
    tests/test_corpus.py against the fold kept there as the
    reference implementation.

    Total on the empty array too (ADVICE r6): ``split('' , ' ')``
    yields ``[""]``, not ``[]``, so the empty case is short-circuited
    to keep parity with the array-fold reference — unreachable from
    ``_bpe_words`` (every word gets ≥2 symbols) but the helper should
    not lie if reused.
    """
    pat = (
        "(^| )" + _java_pattern_quote(a) + " " + _java_pattern_quote(b)
        + "(?= |$)"
    )
    repl = "$1" + _java_replacement_quote(a + b)
    return F.when(
        F.size("syms") == 0, F.col("syms")
    ).otherwise(
        F.split(
            F.regexp_replace(F.concat_ws(" ", F.col("syms")), pat, repl), " "
        )
    )


def _bpe_rounds(
    words: DataFrame, n_merges: int
) -> tuple[list[tuple], DataFrame]:
    """The merge loop shared by :func:`bpe_merges` and
    :func:`bpe_encode`: up to ``n_merges`` rounds of argmax pair →
    one-row driver collect → rule rewrite over the vocabulary state
    (``freq, syms`` plus any carried columns). Returns the learned
    ``(rank, left, right, count)`` rules and the final state.

    r9: rounds chain through LAZY localCheckpoint()s instead of
    persist(). A persist() keeps the previous round's full logical plan
    nested inside the new one, so by round k Catalyst re-analyzes a
    k-deep regexp chain per argmax — driver planning cost growing with
    the round number (guide §3.3/§7.3 plan-size trap); the checkpoint
    truncates each round's plan to a constant scan + one rewrite + the
    argmax. Blocks are vocabulary-bounded and freed by the
    ContextCleaner on GC (the lifecycle-sweep family contract).

    r10 (VERDICT r9 #3, guide §1.2 step 3): the ONLY corpus-sized pass —
    the word-frequency rollup — materializes EAGERLY here, under the
    session's AQE (coalescing/skew handling for the one shuffle whose
    volume scales with the corpus). The merge rounds then run with AQE
    OFF: each round's shuffle is an alphabet²-bounded pair aggregate
    where AQE has nothing to decide, but its per-exchange query-stage
    materialization turned every round into 2+ scheduler round-trips.
    Measured at sf0.1: 28 → 15 jobs for the 12-merge trainer,
    interleaved best-of-5 3.76s → 3.47s, identical learned sequence.
    The toggle is session-global, scoped to the loop and restored in a
    finally.
    """
    spark = words.sparkSession
    state = words.localCheckpoint()
    rules: list[tuple] = []
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for k in range(n_merges):
            top = _bpe_pair_argmax(state).collect()
            if not top:
                break
            a, b, cnt = top[0].l, top[0].r, top[0].cnt
            rules.append((k + 1, a, b, int(cnt)))
            state = state.withColumn("syms", _bpe_apply_rule(a, b)).localCheckpoint(
                eager=False
            )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
    return rules, state


def bpe_merges(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 12,
    max_word_chars: int = 256,
) -> DataFrame:
    """Learn the first ``n_merges`` BPE merge rules from the corpus
    (Sennrich et al. 2016: iterated most-frequent-adjacent-pair over
    the word-frequency table, words terminated with '</w>').

    Scale design — the trainer never touches corpus-sized data after
    round 0: the ONLY full-data pass is the word-frequency rollup
    (word-count plan, map-side partials); every merge round then runs
    over the VOCABULARY (|distinct words| rows, each holding its
    symbol array). Per round: one pair-explode + groupBy whose output
    is |distinct adjacent pairs| (alphabet²-bounded), an
    ``orderBy.limit(1)`` for the argmax (AQE collapses it to a
    TakeOrdered — no global sort materializes), a ONE-ROW driver
    collect (the same bounded-scalar pattern as the JDBC watermark),
    and a narrow JVM array fold applying the rule. State chains
    through lazy localCheckpoints (the pagerank pattern), so lineage,
    per-round PLANNING, and recompute all stay O(1) per round.

    The rewrite fold is greedy left-to-right non-overlapping (merge
    when the accumulator's last symbol is ``l`` and the current is
    ``r``) — for runs like 'aaaa' with rule (a,a) this yields
    [aa, aa], matching the reference implementation. Ties on pair
    count break lexicographically on (l, r), so the learned sequence
    is deterministic and engine-independent.

    Words are truncated to ``max_word_chars`` before symbolization
    (the standard BPE-trainer guard — cf. SentencePiece's
    max_sentencepiece_length / sentence-length caps): the greedy
    rewrite fold copies its accumulator per element, so cost is
    O(L²) per word type — bounded and trivial at L ≤ 256, a hang on
    an adversarial 200k-char single-token document. The oracle SQL
    applies the identical truncation, so the learned sequence stays
    hash-verified.

    Returns ``rank, left_sym, right_sym, pair_count`` — one row per
    learned merge, in learning order (may be fewer than ``n_merges``
    when the corpus runs dry).
    """
    schema = (
        "rank long, left_sym string, right_sym string, pair_count long"
    )
    words = _bpe_words(df, text_col, max_word_chars).select("freq", "syms")
    rules, _state = _bpe_rounds(words, n_merges)
    return local_frame(df.sparkSession, rules, schema)


def bpe_encode(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
    max_word_chars: int = 256,
) -> DataFrame:
    """Tokenize the corpus VOCABULARY with BPE merges learned from the
    same corpus — the encoder half of the tokenizer story
    (:func:`bpe_merges` is the trainer). Rules are applied
    sequentially in rank order with the identical greedy fold the
    trainer uses, so on the training vocabulary this reproduces the
    trainer's final symbolization exactly. BPE merge sequences are
    prefix-stable, so an ``n_merges`` smaller than the trainer's
    yields the trainer's first ``n_merges`` rules.

    Scale design matches the trainer (the loop is shared,
    :func:`_bpe_rounds`): one corpus-sized word-frequency rollup, then
    every round runs over |distinct words| rows chained through lazy
    localCheckpoints. The returned frame reads the final round's
    materialized checkpoint blocks; they are vocabulary-bounded and
    freed by the ContextCleaner on GC, the lifecycle-sweep contract.

    Durability caveat (ADVICE r9): localCheckpoint blocks are
    non-replicated and their lineage is truncated, so on a real cluster
    the RETURNED frame fails permanently if an executor holding its
    blocks dies before the caller consumes it (local mode: driver ==
    executor, no exposure). Callers that must survive executor loss
    should persist the result with replication or write it out; the
    lazy-checkpoint chain for loop-internal rounds is unaffected.

    Returns ``word, freq, n_syms, encoded`` (symbols space-joined,
    including the '</w>' terminator), ordered by word.
    """
    _rules, state = _bpe_rounds(_bpe_words(df, text_col, max_word_chars), n_merges)
    return state.select(
        "word",
        F.col("freq").cast("long").alias("freq"),
        F.size("syms").cast("int").alias("n_syms"),
        F.array_join("syms", " ").alias("encoded"),
    ).orderBy("word")


ZIPF_TOP_K = 500


def zipf_fit(
    df: DataFrame,
    text_col: str = "text",
    top_k: int = ZIPF_TOP_K,
) -> DataFrame:
    """Zipf-law fit over the token frequency distribution: OLS of
    ``ln(frequency)`` on ``ln(rank)`` for the top-k terms — slope near
    −1 is natural language; a flat or broken slope flags synthetic or
    boilerplate-heavy corpora in a curation dashboard.

    Scale design: term counts are the word-count plan (map-side
    partials absorb stopword mass before the one exchange); the top-k
    cut is a ``TakeOrderedAndProject`` (distributed partial top-k,
    never a global sort), and the rank window + regression run over
    that ≤ top_k-row table. The fit reuses
    :func:`analytics.ols_regression`'s closed form.
    """
    from ksql_query_tutorial_spark.operators.analytics import ols_regression

    counts = (
        df.select(F.explode(tokens(F.col(text_col))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    top = counts.orderBy(F.col("n").desc(), "term").limit(top_k)
    rank_w = Window.orderBy(F.col("n").desc(), "term")
    pts = top.select(
        F.lit("corpus").alias("scope"),
        F.log(F.row_number().over(rank_w).cast("double")).alias("x"),
        F.log(F.col("n").cast("double")).alias("y"),
    )
    return ols_regression(pts, x_col="x", y_col="y", group_col="scope")


YIELD_THRESHOLDS = (-0.1, -0.05, 0.0, 0.05, 0.1)


def quality_yield_curve(
    scored: DataFrame,
    thresholds: tuple = YIELD_THRESHOLDS,
    score_col: str = "quality_score",
    weight_col: str = "n_distinct_tokens",
) -> DataFrame:
    """Filter-calibration yield curve: for each candidate quality
    threshold, how many documents and how much token mass survive —
    the readout that picks the cutoff meeting a token budget (the
    decision the curation pipeline makes BEFORE running the filter).

    Scale design: the scored table fans out by the |thresholds|
    constant (a broadcast cross join — bounded multiplier, collapsed
    by map-side partials in the same stage), and one rollup per
    threshold finishes. Shares divide exact integer sums once per
    cell. Output is |thresholds| rows.

    Returns ``threshold, n_docs_kept, doc_share, tokens_kept,
    token_share`` (shares rounded 6) ordered by threshold.
    """
    spark = scored.sparkSession
    grid = local_frame(
        spark, [(float(t),) for t in thresholds], "threshold double"
    )
    keep = F.col(score_col) >= F.col("threshold")
    kept_doc = F.when(keep, 1).otherwise(0)
    kept_w = F.when(keep, F.col(weight_col)).otherwise(F.lit(0))
    return (
        scored.crossJoin(F.broadcast(grid))
        .groupBy("threshold")
        .agg(
            F.sum(kept_doc).cast("long").alias("n_docs_kept"),
            F.round(
                F.sum(kept_doc).cast("double") / F.count(F.lit(1)).cast(
                    "double"
                ),
                6,
            ).alias("doc_share"),
            F.sum(kept_w).cast("long").alias("tokens_kept"),
            F.round(
                F.sum(kept_w).cast("double")
                / F.sum(F.col(weight_col)).cast("double"),
                6,
            ).alias("token_share"),
        )
        .orderBy("threshold")
    )


HEAPS_BINS = 10


def heaps_fit(
    df: DataFrame,
    n_docs: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bins: int = HEAPS_BINS,
) -> DataFrame:
    """Heaps'-law fit: OLS of ``ln(vocabulary)`` on ``ln(tokens
    processed)`` over cumulative corpus prefixes — the companion to
    :func:`zipf_fit` (β well under 1 is natural language; β near 1
    flags a corpus whose vocabulary never saturates, e.g. serial
    numbers or noise).

    Scale design: prefixes are ``n_bins`` doc-id slices (``n_docs``
    comes from parquet footer statistics — no count job). New-vocab
    mass per slice is one term-keyed rollup (``min(doc_id)`` per term
    — the first-occurrence move novelty uses); token mass per slice
    is a narrow per-doc map. Both cumulate with windows over the
    ≤``n_bins`` cell table and the fit reuses
    :func:`analytics.ols_regression`'s closed form. The corpus is
    touched twice, shuffles carry vocabulary / n_bins cells only.
    """
    from ksql_query_tutorial_spark.operators.analytics import ols_regression

    n = max(int(n_docs), 1)

    def slice_of(col):
        return F.least(
            F.floor(col * n_bins / F.lit(float(n))).cast("int"),
            F.lit(n_bins - 1),
        )

    new_vocab = (
        df.select(
            F.col(id_col),
            F.explode(F.array_distinct(tokens(F.col(text_col)))).alias(
                "term"
            ),
        )
        .groupBy("term")
        .agg(F.min(id_col).alias("__first"))
        .groupBy(slice_of(F.col("__first")).alias("bin"))
        .agg(F.count(F.lit(1)).cast("long").alias("__new_vocab"))
    )
    token_mass = (
        df.select(
            slice_of(F.col(id_col)).alias("bin"),
            F.size(tokens(F.col(text_col))).cast("long").alias("__nt"),
        )
        .groupBy("bin")
        .agg(F.sum("__nt").alias("__tokens"))
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cells = (
        token_mass.join(new_vocab, "bin", "left_outer")
        .select(
            "bin",
            F.sum("__tokens").over(w).alias("__tok_cum"),
            F.sum(F.coalesce(F.col("__new_vocab"), F.lit(0)))
            .over(w)
            .alias("__voc_cum"),
        )
        .filter((F.col("__tok_cum") > 0) & (F.col("__voc_cum") > 0))
    )
    pts = cells.select(
        F.lit("corpus").alias("scope"),
        F.log(F.col("__tok_cum").cast("double")).alias("x"),
        F.log(F.col("__voc_cum").cast("double")).alias("y"),
    )
    return ols_regression(pts, x_col="x", y_col="y", group_col="scope")


def kn_bigram(
    df: DataFrame,
    discount: float = 0.75,
    min_count: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities over the corpus —
    the smoothing real n-gram LMs (KenLM) ship, where
    :func:`lm_score`'s raw relative frequencies break: KN discounts
    every observed bigram by a fixed ``discount`` and redistributes the
    held-out mass over CONTINUATION counts (in how many distinct left
    contexts does w2 appear), so "francisco" — frequent but only ever
    after "san" — stops looking like a good unigram fallback.

        p_kn(w2|w1) = max(c12 − D, 0)/c1 + D·N1+(w1,·)/c1 · p_cont(w2)
        p_cont(w2)  = N1+(·,w2) / |distinct bigrams|

    Every input to the formula is an exact integer count, so the
    derived doubles are engine-reproducible with no float-sum order
    concerns.

    Scale design: ONE tokenize+lead pass builds the bigram posting
    (never persisted — at corpus scale it outweighs the text; the
    lm_score trade); the vocabulary²-bounded count table IS pinned
    (cache registry) because four rollups consume it: left-context
    totals + fan-out, continuation counts, the distinct-bigram scalar,
    and the final projection. Everything downstream of the posting
    rollup is vocabulary-bounded, not corpus-bounded. ``min_count``
    trims the report to bigrams with support (stats still use full
    counts).

    Returns ``w1, w2, c12, p_kn`` (rounded 6) for bigrams with
    ``c12 >= min_count``.
    """
    # r10 (guide §2.4, VERDICT r9 #6): adjacent-pair generation used to
    # posexplode the token array and re-pair it with a lead window —
    # which cost a full id-keyed repartition PLUS a per-doc sort, only
    # to reconstruct adjacency the array already encodes. Zipping the
    # array against its own 1-shifted slice (the BPE trainer's pattern,
    # and literally the oracle's list_transform) emits the identical
    # bigram multiset with ZERO exchanges before the count rollup:
    # a size<2 array slices to [] and explodes to nothing, exactly the
    # lead filter's behavior. Measured at sf0.1: 15 → 14 jobs (the
    # repartition exchange and the per-doc window sort disappear from
    # the corpus-sized segment), interleaved best-of-4 2.70s → 2.32s
    # with the new side winning every paired rep; identical output.
    pairs = df.select(tokens(F.col(text_col)).alias("__t")).select(
        F.explode(
            F.expr(
                "zip_with(slice(__t, 1, size(__t) - 1), "
                "slice(__t, 2, size(__t) - 1), "
                "(a, b) -> struct(a AS w1, b AS w2))"
            )
        ).alias("__p")
    ).select("__p.w1", "__p.w2")
    big = cache.pin(
        pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    )
    left = big.groupBy("w1").agg(
        F.sum("c12").alias("c1"),
        F.count(F.lit(1)).alias("n1p_fw"),
    )
    cont = big.groupBy("w2").agg(F.count(F.lit(1)).alias("n1p_bw"))
    n_types = big.groupBy().agg(F.count(F.lit(1)).alias("n_types"))
    d = F.lit(float(discount))
    p_kn = (
        F.greatest(F.col("c12").cast("double") - d, F.lit(0.0))
        / F.col("c1").cast("double")
        + d * F.col("n1p_fw").cast("double") / F.col("c1").cast("double")
        * (F.col("n1p_bw").cast("double") / F.col("n_types").cast("double"))
    )
    return (
        big.filter(F.col("c12") >= min_count)
        .join(left, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(n_types))
        .select("w1", "w2", "c12", F.round(p_kn, 6).alias("p_kn"))
        .orderBy("w1", "w2")
    )


DSIR_BUCKETS = 1024  # power of two: hashed n-gram feature space


def dsir_importance(
    docs: DataFrame,
    target_lang: str = "en",
    n_buckets: int = DSIR_BUCKETS,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Data Selection with Importance Resampling (DSIR, Xie et al.
    2023): score every document by how much more likely its hashed
    bag-of-words is under a TARGET distribution (here: the corpus's
    ``target_lang`` slice, standing in for "looks like the domain we
    want") than under the RAW corpus distribution. The per-document
    log importance weight is ``Σ_f c_{d,f}·(ln p_tgt(f) − ln p_raw(f))``
    over hashed unigram features with add-one smoothing across the
    ``n_buckets`` feature space — the standard content-based
    pretraining-data selector, complementary to
    the ``sample_importance`` query (which rebalances SOURCES, blind to
    content).

    The length-normalized ``logw_per_tok`` is the selection signal
    (raw logw scales with document length); ``selected`` is the
    zero-threshold readout.

    Scale design: tokenize → per-(doc, term) counts → the interpreted
    portable char-fold runs once per DISTINCT TOKEN (a Heaps-law-
    bounded vocabulary frame), joined back onto the counts — AQE
    broadcasts the vocabulary side while it fits, degrading to a
    token-keyed shuffle join beyond that; measured at sf0.1 this beats
    folding per distinct (doc, token) pair 2.38s vs 2.75s best-of-3,
    and the gap widens with corpus size because |doc,token| grows
    linearly while |vocab| saturates. (Pinning the tokenized counts to
    avoid the vocabulary pass's second tokenize measured WORSE, 3.78s
    vs 2.92s — materializing the |doc,token|-row frame costs more than
    the narrow re-scan.) The hashed per-(doc, bucket) frame is pinned
    for its three consumers; the two corpus-level distributions are
    ≤ ``n_buckets``-row aggregates joined back as ONE broadcast of a
    1024-row log-ratio table → per-doc rollup. The only data-sized
    exchanges are doc/token-keyed; target/raw tables are constant-size
    at any corpus scale. Smoothed probabilities use exact BIGINT
    counts folded into ln at the last step (the counts-into-ln
    convention), doubles rounded 6.

    Returns ``doc_id, n_toks, logw, logw_per_tok, selected`` ordered
    by doc id.
    """
    if n_buckets & (n_buckets - 1):
        raise ValueError("n_buckets must be a power of two")
    tc = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            (F.col(lang_col) == target_lang).alias("__tgt"),
            F.explode(tokens(F.col(text_col))).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .groupBy("doc_id", "__tgt", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    # fold once per distinct token (vocabulary-bounded), not per
    # (doc, token) pair — see the measured A/B in the docstring.
    # r10 note: dropping this pre-aggregation and joining the RAW
    # token stream to the broadcast vocabulary (straight to a
    # (doc, bucket) rollup — one corpus exchange fewer on paper) was
    # implemented and interleave-measured: it LOST every paired rep
    # (best-of-4 2.72s → 3.93s at sf0.1) — probing the vocabulary hash
    # table and feeding the partial aggregate with the full 6M-token
    # stream costs more than the (doc, tok) pre-collapse saves. Kept.
    vocab = tc.select("tok").distinct().select(
        "tok",
        F.expr(f"{hashes.token_hash('tok')} & {n_buckets - 1}").alias("bucket"),
    )
    # pin the hashed per-(doc, bucket) frame: it has THREE consumers
    # (per-doc rollup, bucket distributions, totals) and rebuilding it
    # re-runs tokenize + vocabulary hash + join each time (the
    # expr-dup gate caught exactly that on first write)
    db = cache.pin(
        tc.join(vocab, "tok")
        .groupBy("doc_id", "__tgt", "bucket")
        .agg(F.sum("cnt").alias("c"))
    )
    dist = db.groupBy("bucket").agg(
        F.sum(F.when(F.col("__tgt"), F.col("c")).otherwise(F.lit(0)))
        .cast("long").alias("c_tgt"),
        F.sum("c").cast("long").alias("c_raw"),
    )
    totals = dist.agg(
        F.sum("c_tgt").cast("long").alias("t_tgt"),
        F.sum("c_raw").cast("long").alias("t_raw"),
    )
    ratio = (
        dist.crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            (
                F.log((F.col("c_tgt") + 1).cast("double"))
                - F.log((F.col("t_tgt") + n_buckets).cast("double"))
                - F.log((F.col("c_raw") + 1).cast("double"))
                + F.log((F.col("t_raw") + n_buckets).cast("double"))
            ).alias("lr"),
        )
    )
    per_doc = (
        db.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_toks"),
            F.sum(F.col("c").cast("double") * F.col("lr")).alias("__lw"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_toks",
        F.round(F.col("__lw"), 6).alias("logw"),
        F.round(F.col("__lw") / F.col("n_toks").cast("double"), 6)
        .alias("logw_per_tok"),
        (F.round(F.col("__lw"), 6) > 0).alias("selected"),
    ).orderBy("doc_id")
