"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Scale design (the whole point — these must survive 100 TB):

- **Exact** is a hash-groupBy: one shuffle on ``md5(normalized text)``,
  map-side combine, no text comparison.
- **n-gram Jaccard** builds an inverted index (shingle → doc) and
  generates candidate pairs by self-joining postings. The join shuffles
  on the shingle hash; ultra-frequent shingles are the skew hazard, so
  :func:`jaccard_pairs_from_posting` can drop postings longer than
  ``max_posting`` (a standard frequency-cut: a shingle shared by
  thousands of docs carries ~no similarity signal but produces O(n²)
  pairs). AQE skew-join covers the residual.
- **MinHash LSH** reduces pair generation to equality joins on band
  buckets: signature = k hash permutations (deterministic affine
  transforms of xxhash64), banded so that only likely-similar docs
  collide; candidates are then verified with exact Jaccard. Cost is
  O(docs·k) + O(collisions), never O(n²).
- **SimHash** computes a 64-bit sketch per doc with ONE shuffle
  (explode tokens → per-bit ±1 sums), then finds Hamming-≤d pairs by
  pigeonhole banding (d+1 chunks: any pair within distance d agrees on
  at least one chunk) — again equality joins, never O(n²).
- **Embedding cosine** has a brute-force baseline (exact, BLAS block
  matmul via Arrow ``mapInPandas``) and the LSH route in
  :mod:`ksql_query_tutorial_spark.operators.similarity` for scale.

Hot paths stay inside whole-stage codegen (``posexplode`` + ``lead``
windows, hash/bit built-ins); lambda HOFs (CodegenFallback, interpreted)
are avoided on per-shingle work — the one exception is SimHash's
oracle-reproducible :func:`hashes.token_hash`, run once per distinct
(doc, token) — and the only Python is Arrow-vectorized (the BLAS
matmul, the SimHash bit pack) — never per-row.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ksql_query_tutorial_spark import cache
from ksql_query_tutorial_spark.functions import hashes
from ksql_query_tutorial_spark.operators.text import tokens

def shingles_of(toks: Column, n: int = 3) -> Column:
    """n-token shingles from an ALREADY-MATERIALIZED tokens array
    attribute; shingle i = tokens[i..i+n-1] joined by a single space.
    Arrays with < n tokens get an empty shingle array.

    Pass a projected attribute (``df.select(tokens(...).alias("__toks"))``
    then ``shingles_of(F.col("__toks"))``), NOT an inline tokenizer
    expression: Catalyst inlines an inline expression into every
    element access inside the transform lambda, re-running the regex
    split O(n·shingles) times per row — measured 17× slower at sf0.1.
    CollapseProject will not merge the projections because the alias
    is non-cheap and multiply-referenced, so the attribute form
    evaluates the tokenizer exactly once per row.
    """
    body = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(" ", *[F.get(toks, i + j) for j in range(n)]),
    )
    # sequence(0, negative) would produce a DESCENDING range, so guard
    # short docs explicitly with an empty shingle set.
    return F.when(F.size(toks) >= n, body).otherwise(F.array().cast("array<string>"))


def exact_duplicates(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Exact dedup via hash-groupBy: one row per distinct content with
    the keeper id (min id) and the duplicate count.

    Returns columns: ``keeper_id``, ``dup_count``.
    """
    from ksql_query_tutorial_spark.operators.text import normalized

    return (
        df.select(F.col(id_col), F.md5(normalized(F.col(text_col))).alias("__h"))
        .groupBy("__h")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .select("keeper_id", "dup_count")
    )


def shingle_hash_posting(df: DataFrame, id_col: str, text_col: str,
                         n: int = 3) -> DataFrame:
    """Inverted index ``(id, h)``: distinct 64-bit shingle hashes per doc.

    Built with ``posexplode`` + ``lead`` windows rather than array HOFs:
    lambda HOFs are CodegenFallback (interpreted) and re-evaluate the
    regex ``split`` per element — measured ~9 ms/doc; this formulation
    splits each doc ONCE and stays inside whole-stage codegen end to end
    (~100× faster per doc).

    Exactly one shuffle (on ``id``, for the lead window); the dedup and
    any downstream ``groupBy("id")`` reuse that hash partitioning, so
    signatures/shingle-set aggregation add no further exchange. The
    explicit ``repartition`` decouples compute parallelism from the
    file layout (a small parquet arrives as one partition).
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    # one explicit shuffle on id; the lead window, the per-doc dedup, and
    # any downstream groupBy("id") all reuse this partitioning
    src = df.repartition(par, F.col(id_col))
    if n == 1:
        toks = src.select(
            F.col(id_col).alias("id"),
            F.explode(tokens(F.col(text_col))).alias("sh"),
        )
    else:
        pos_toks = src.select(
            F.col(id_col).alias("id"),
            F.posexplode(tokens(F.col(text_col))).alias("pos", "tok"),
        )
        w = Window.partitionBy("id").orderBy("pos")
        lead_cols = [F.lead("tok", j).over(w).alias(f"t{j}") for j in range(1, n)]
        toks = (
            pos_toks.select("id", "tok", *lead_cols)
            # split never yields null elements, so a null lead == past the end
            .filter(F.col(f"t{n-1}").isNotNull())
            .select("id", F.concat_ws(" ", "tok", *[f"t{j}" for j in range(1, n)]).alias("sh"))
        )
    # join/compare on the 64-bit hash, not the string: smaller shuffle
    # rows; corpus-level collision probability ~2^-64·|pairs| is vanishing.
    return toks.select("id", F.xxhash64("sh").alias("h")).dropDuplicates(["id", "h"])


def shingle_hash_postings_multi(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    ns: tuple[int, ...] = (2, 3, 5),
) -> dict[int, DataFrame]:
    """Postings for SEVERAL shingle sizes from ONE scan + tokenization.

    A sweep that calls :func:`shingle_hash_posting` per size re-reads
    and re-tokenizes the corpus per rung — at 100 TB that is
    ``len(ns)`` full-corpus scans and regex-split passes for work that
    differs only in how many lead tokens each shingle concatenates.
    This builds the ``(id, tok, t1..t{max(n)-1})`` lead frame once
    (same posexplode + lead-window plan as the single-size path, ONE
    id-keyed shuffle), persists it, and derives every rung's posting
    by concatenating its first ``n-1`` leads — byte-identical shingle
    strings, hence identical ``xxhash64`` postings, to the per-rung
    builder (pinned by the strict oracle and a parity test).

    Cache contract (ADVICE r6): the shared lead frame is pinned
    (:func:`cache.pin`) and CANNOT be unpersisted here — every returned
    posting reads it lazily. Long-lived sessions call
    :func:`cache.release` after consuming the
    postings; batch harnesses that ``spark.catalog.clearCache()``
    between queries (bench.py, the driver) need nothing.

    Returns ``{n: (id, h) posting}`` for each requested size.
    """
    ns_sorted = sorted(set(ns))
    if ns_sorted[0] < 1:
        raise ValueError(f"shingle sizes must be >= 1, got {ns}")
    nmax = ns_sorted[-1]
    par = df.sparkSession.sparkContext.defaultParallelism
    src = df.repartition(par, F.col(id_col))
    pos_toks = src.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "tok"),
    )
    w = Window.partitionBy("id").orderBy("pos")
    lead_cols = [
        F.lead("tok", j).over(w).alias(f"t{j}") for j in range(1, nmax)
    ]
    toks = cache.pin(pos_toks.select("id", "tok", *lead_cols))
    out: dict[int, DataFrame] = {}
    for n in ns_sorted:
        if n == 1:
            sh = toks.select("id", F.col("tok").alias("sh"))
        else:
            sh = toks.filter(F.col(f"t{n-1}").isNotNull()).select(
                "id",
                F.concat_ws(
                    " ", "tok", *[f"t{j}" for j in range(1, n)]
                ).alias("sh"),
            )
        out[n] = sh.select(
            "id", F.xxhash64("sh").alias("h")
        ).dropDuplicates(["id", "h"])
    return out


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram (shingle-set) Jaccard similarity pairs ≥ threshold.

    Candidate generation via the inverted index (shingle self-join),
    intersection counts from the join, union sizes from per-doc distinct
    shingle counts.

    Scale note (measured): exact all-pairs Jaccard is inherently
    quadratic in near-dup cluster size — on a 40k-doc corpus with 8-way
    duplication the shingle self-join emits ~30M candidate rows for
    156k true pairs. AllPairs/PPJoin prefix filtering was implemented
    and benchmarked: on this corpus's dense shingle-sharing graph it
    pruned almost nothing (25.7M of 30M candidates survived the prefix
    join) while adding two window shuffles, so it was removed. The
    sub-quadratic scale path is :func:`minhash_lsh_pairs` (5× faster at
    40k docs, identical verified output modulo LSH recall); this exact
    operator is the oracle-parity baseline.

    The raw posting is persisted here (r7, A/B-measured): composing
    with the sized-posting persist inside
    :func:`jaccard_pairs_from_posting`, the extra cache level measured
    1.07→0.70s at sf0.1 and 14.3→7.4s at sf1 (best-of-N, cleared
    caches between runs) — the tokenize + shingle + explode +
    dropDuplicates pipeline below the size window is pure compute, and
    caching it ahead of the window materialization is what the
    measurements reward. Same memory class as the LSH twin's
    ``sh_sets`` persist (a hash per distinct (doc, shingle)). Cache
    contract as in :func:`minhash_lsh_pairs_from_posting`.

    Returns: ``id_a``, ``id_b`` (id_a < id_b), ``jaccard`` (rounded 6).
    """
    post = cache.pin(shingle_hash_posting(df, id_col, text_col, n))
    return jaccard_pairs_from_posting(post, threshold)


def _posting_frequency_cut(post: DataFrame, max_posting: int) -> DataFrame:
    """Drop every posting row whose shingle hash appears in more than
    ``max_posting`` documents — the skew/quadratic-blowup relief valve
    of :func:`jaccard_pairs_from_posting`.

    Shape decision (r10, closing VERDICT r9 #4 / the r9 open item): the
    sketched alternative — aggregate the DISTINCT hot shingles
    (groupBy h + filter count > max_posting) and broadcast-ANTI-JOIN
    them off the posting, preserving the posting's id-partitioning for
    the n_sh window — was implemented and interleave-measured at sf0.1,
    twice: unpinned it re-executed the posting subtree per consumer
    (25 → 26 jobs, slower in 3/4 paired reps); with the posting pinned
    it was 25 → 31 jobs (pin materialization + 3 broadcast builds per
    sweep) and LOST every paired rep (best 5.95s vs 6.34s). The count
    window costs one h-keyed exchange+sort but streams the posting
    exactly once with no extra materialization — it stays.
    """
    return (
        post.withColumn(
            "__df", F.count(F.lit(1)).over(Window.partitionBy("h"))
        )
        .filter(F.col("__df") <= max_posting)
        .drop("__df")
    )


def jaccard_pairs_from_posting(
    post: DataFrame,
    threshold: float = 0.5,
    max_posting: int | None = None,
) -> DataFrame:
    """Exact Jaccard pairs from a prebuilt ``(id, h)`` posting — the
    candidate-generation + verification half of
    :func:`ngram_jaccard_pairs`, split out so sweeps that build
    several postings from ONE tokenization pass
    (:func:`shingle_hash_postings_multi`) reuse the identical plan.
    """
    pair = (
        _overlap_pairs(post, max_posting)
        .withColumn(
            "jaccard",
            F.round(F.col("inter").cast("double")
                    / (F.col("n_a") + F.col("n_b") - F.col("inter")).cast("double"), 6),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return pair.select("id_a", "id_b", "jaccard")


def _overlap_pairs(post: DataFrame, max_posting: int | None = None) -> DataFrame:
    """Every pair of docs sharing a shingle in the ``(id, h)`` posting,
    with its exact overlap: ``id_a < id_b, inter, n_a, n_b`` (shared
    shingles and each doc's set size). The candidate generation that
    Jaccard and containment share; each divides ``inter`` by its own
    normalizer."""
    if max_posting is not None:
        post = _posting_frequency_cut(post, max_posting)
    # carry each doc's shingle-set size on the posting rows (the window
    # reuses the posting's id-partitioning — no extra shuffle) so no
    # sizes-join is needed, and persist: the self-join reads the posting
    # twice. At cluster scale this persist is a few bytes/doc.
    post = cache.pin(
        post.withColumn(
            "n_sh", F.count(F.lit(1)).over(Window.partitionBy("id"))
        )
    )

    a, b = post.alias("a"), post.alias("b")
    return (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.first("a.n_sh").alias("n_a"),
            F.first("b.n_sh").alias("n_b"),
        )
    )


def _cap_bucket_width(buckets: DataFrame, max_bucket: int, *cols: str) -> DataFrame:
    """Mega-bucket relief valve for a blocking equality join (VERDICT
    r4 #6): drop every row of a bucket wider than ``max_bucket`` rows.

    A pathological corpus (boilerplate-heavy, constant fields) can put
    an unbounded fraction of documents into one block, turning a single
    join task quadratic. The cap bounds any bucket's join contribution
    at ``max_bucket²`` pairs — the same frequency-cut move as
    ``max_posting`` in :func:`jaccard_pairs_from_posting`.

    The width count is a window over the bucket key — O(width) rows
    through one task, never the O(width²) the join would do.
    """
    w = Window.partitionBy(*cols)
    return (
        buckets.withColumn("__bw", F.count(F.lit(1)).over(w))
        .filter(F.col("__bw") <= max_bucket)
        .drop("__bw")
    )


def _band_bucket_udf(num_hashes: int, bands: int):
    """Arrow UDF: per-doc distinct shingle hashes → one 64-bit bucket
    key per band. Mersenne fold, permutation mins, and the band mix in
    one vectorized pass; bucket = multiplicative mix of the band's
    ``rows`` mins seeded with the band index (collision-safe enough
    that exact verification absorbs any stray candidate). Joining on a
    long beats 32 md5-string columns: smaller shuffle rows and none of
    the wide-projection codegen compile cost. Deterministic — the same
    (num_hashes, bands) always yields the same buckets, so an index
    built yesterday stays joinable against a batch sketched today.
    """
    from pyspark.sql.functions import pandas_udf

    rows = num_hashes // bands
    # permutations over the Mersenne-31 ring: 2^31 ≫ shingle counts, so
    # collisions barely move the min-estimate
    m31 = hashes.M31
    a_vec, b_vec = hashes.affine_coeffs(np.arange(num_hashes, dtype=np.int64))

    @pandas_udf("array<long>")
    def _band_buckets(hs: pd.Series) -> pd.Series:
        out = []
        for h in hs:
            hv = np.asarray(h, dtype=np.int64) % m31  # == pmod: m31 > 0
            mins = ((a_vec[None, :] * hv[:, None] + b_vec[None, :]) % m31).min(axis=0)
            m = mins.astype(np.uint64).reshape(bands, rows)
            acc = np.arange(bands, dtype=np.uint64)
            for r in range(rows):
                acc = acc * np.uint64(0x9E3779B97F4A7C15) + m[:, r]
            out.append(acc.astype(np.int64))
        return pd.Series(out)

    return _band_buckets


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash + LSH near-dup pairs, verified with exact Jaccard.

    bands=32 × rows=4 over 128 hashes: detection prob at j=0.5 is
    1−(1−0.5⁴)³² ≈ 0.87, at j=0.7 ≈ 0.9998 — the standard S-curve for
    a 0.5 threshold with exact verification discarding false positives.

    Returns: ``id_a``, ``id_b``, ``jaccard`` (exact, rounded 6) — a
    subset of :func:`ngram_jaccard_pairs` with the same threshold
    (equal when LSH recall is 1 on the data).
    """
    post = shingle_hash_posting(df, id_col, text_col, n)
    return minhash_lsh_pairs_from_posting(
        post,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
    )


def minhash_lsh_pairs_from_posting(
    post: DataFrame,
    num_hashes: int = 128,
    bands: int = 32,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash + LSH pairs from a prebuilt ``(id, h)`` posting — the
    sketch + banding + verification half of :func:`minhash_lsh_pairs`,
    split out so evaluations that compare LSH against the exact pairs
    of the SAME posting (:func:`jaccard_pairs_from_posting`) tokenize
    the corpus once, not once per pair generator.

    Cache contract (ADVICE r6): the shingle-set and bucket frames are
    pinned (:func:`cache.pin`) and read lazily by the returned pairs
    frame, so they cannot be unpersisted here. Long-lived sessions call
    :func:`cache.release` after consuming; batch harnesses that
    clearCache between queries need nothing.
    """
    if num_hashes % bands != 0:
        # fail at plan-build time with a usable message, not as a numpy
        # reshape ValueError deep inside an executor
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands})"
        )
    rows = num_hashes // bands
    # ONE aggregation over the posting (reusing its id-partitioning — no
    # extra shuffle): the per-doc distinct-hash arrays feed BOTH the
    # band bucketing and the exact-Jaccard verification. Persist is a
    # few longs per doc — negligible even cluster-wide.
    sh_sets = cache.pin(post.groupBy("id").agg(F.collect_set("h").alias("sh")))

    _band_buckets = _band_bucket_udf(num_hashes, bands)

    # persist the (id, bucket) rows — two longs each: the banding
    # self-join reads both branches, and without the persist the Arrow
    # UDF computing signatures runs once PER BRANCH (measured ~2× the
    # whole sketch cost at 40k docs)
    buckets = cache.pin(
        sh_sets.select("id", F.explode(_band_buckets("sh")).alias("bucket"))
    )
    l, r = buckets.alias("l"), buckets.alias("r")
    candidates = (
        l.join(r, (F.col("l.bucket") == F.col("r.bucket")) & (F.col("l.id") < F.col("r.id")))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )
    # exact verification on CANDIDATES ONLY: join each side's distinct
    # shingle set and compute Jaccard pairwise (array_intersect) — cost
    # O(collisions · shingles), never the full inverted-index join.
    verified = (
        candidates.join(sh_sets.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh_sets.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.round(F.col("inter").cast("double")
                    / (F.size("sh_a") + F.size("sh_b") - F.col("inter")).cast("double"), 6),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select("id_a", "id_b", "jaccard")


def minhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
) -> tuple[DataFrame, DataFrame]:
    """Corpus-side MinHash-LSH index: ``(buckets, shingle_sets)``.

    ``buckets`` is ``(id, bucket)`` — one row per (doc, band);
    ``shingle_sets`` is ``(id, sh)`` with the per-doc distinct shingle
    hash array for exact verification. Both are plain DataFrames: at
    cluster scale you write them partitioned/bucketed by
    their join keys once and re-read them for every incoming batch —
    the sketch parameters are deterministic, so an index built in one
    job joins correctly against batches sketched in another.
    """
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands})"
        )
    sh_sets = (
        shingle_hash_posting(df, id_col, text_col, n)
        .groupBy("id")
        .agg(F.collect_set("h").alias("sh"))
    )
    buckets = sh_sets.select(
        "id", F.explode(_band_bucket_udf(num_hashes, bands)("sh")).alias("bucket")
    )
    return buckets, sh_sets


def incremental_minhash_dedup(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
    threshold: float = 0.5,
) -> DataFrame:
    """Ingest-time dedup: flag each NEW document that is a near-dup of
    the EXISTING corpus — the asymmetric join every incremental
    pipeline runs per batch, instead of re-deduplicating 100 TB from
    scratch.

    Candidates come from the band-bucket equi-join of the (small)
    batch side against the corpus index; survivors are verified with
    exact Jaccard over the shingle sets, so a flagged doc is a TRUE
    ≥-threshold near-dup of its ``dup_of``. The batch side's buckets
    are tiny (broadcastable); the corpus side is the pre-built index —
    nothing here scans corpus text again. ``dup_of`` is the smallest
    matching corpus id (deterministic under ties by construction).

    Recall calibration (matters for the exact-Jaccard oracle): with the
    default (128 hashes, 32 bands × 4 rows), a pair at Jaccard j
    collides in some band with probability 1−(1−j⁴)³², which is ~0.87
    at the j=0.5 threshold but >0.9998 at j≥0.70. The declared
    ``dedup_incremental`` query therefore only hash-matches an exact
    all-pairs oracle when the fixture plants no cross-side pair in the
    risky band [threshold, 0.70) —
    ``test_incremental_dedup_fixture_recall_margin`` pins that margin.

    Returns one row per NEW document: ``doc_id, dup_of, jaccard,
    is_dup`` (``dup_of``/``jaccard`` null for fresh content).
    """
    idx_buckets, idx_sh = minhash_index(
        corpus_df, id_col, text_col, n, num_hashes, bands
    )
    new_buckets, new_sh = minhash_index(
        new_df, id_col, text_col, n, num_hashes, bands
    )
    new_buckets = cache.pin(new_buckets)
    new_sh = cache.pin(new_sh)
    candidates = (
        new_buckets.alias("n")
        .join(idx_buckets.alias("c"), F.col("n.bucket") == F.col("c.bucket"))
        .select(F.col("n.id").alias("nid"), F.col("c.id").alias("cid"))
        .distinct()
    )
    verified = (
        candidates.join(new_sh.withColumnRenamed("id", "nid").withColumnRenamed("sh", "sh_n"), "nid")
        .join(idx_sh.withColumnRenamed("id", "cid").withColumnRenamed("sh", "sh_c"), "cid")
        .withColumn("inter", F.size(F.array_intersect("sh_n", "sh_c")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter").cast("double")
                / (F.size("sh_n") + F.size("sh_c") - F.col("inter")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    best = verified.groupBy("nid").agg(
        F.min("cid").alias("dup_of"),
        F.min_by("jaccard", "cid").alias("jaccard"),
    )
    return (
        new_df.select(F.col(id_col).alias("doc_id"))
        .join(best.withColumnRenamed("nid", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            "dup_of",
            "jaccard",
            F.col("dup_of").isNotNull().alias("is_dup"),
        )
    )


def simhash64(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """64-bit SimHash per document with one shuffle.

    Token posting (distinct token hashes per doc) → gather per-doc hash
    lists (``collect_list`` reuses the posting's id-partitioning — no
    extra exchange) → per-bit ±1 sums and the sign-bit pack as one
    (|tokens|, 64) numpy broadcast per doc in an Arrow-batched pandas
    UDF. (A 64-wide sum-aggregate is semantically identical but its
    generated codegen class costs seconds of JIT per session.) Weighted
    variant would weight by token frequency; this uses distinct-token
    presence (unweighted) for determinism.

    Tokens hash with :func:`hashes.token_hash` (62 informative bits,
    top 2 sketch bits 0) so an independent SQL engine can recompute the
    identical sketch — the DuckDB oracle path.

    Returns: ``id``, ``simhash`` (signed 64-bit long).
    """
    from pyspark.sql.functions import pandas_udf

    bit_idx = np.arange(64, dtype=np.uint64)

    @pandas_udf("long")
    def _sim(hs: pd.Series) -> pd.Series:
        out = np.empty(len(hs), dtype=np.int64)
        for i, h in enumerate(hs):
            hv = np.asarray(h, dtype=np.int64).astype(np.uint64)
            bits = (hv[:, None] >> bit_idx[None, :]) & np.uint64(1)  # (k, 64)
            # sum(±1) > 0  ⇔  2·ones > k
            majority = (2 * bits.sum(axis=0)) > len(hv)
            out[i] = (majority.astype(np.uint64) << bit_idx).sum(dtype=np.uint64).astype(np.int64)
        return pd.Series(out)

    par = df.sparkSession.sparkContext.defaultParallelism
    post = (
        df.repartition(par, F.col(id_col))
        .select(
            F.col(id_col).alias("id"),
            # dedup BEFORE hashing: the portable char fold is an
            # interpreted HOF, so run it once per distinct (doc,
            # token), not once per occurrence
            F.explode(
                F.array_distinct(tokens(F.col(text_col)))
            ).alias("tok"),
        )
        .select("id", F.expr(hashes.token_hash("tok")).alias("h"))
        .dropDuplicates(["id", "h"])
    )
    gathered = post.groupBy("id").agg(F.collect_list("h").alias("hs"))
    return gathered.select("id", _sim("hs").alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs with Hamming distance ≤ ``max_hamming``.

    Pigeonhole banding: split the 64-bit sketch into ``max_hamming+1``
    chunks; any pair within the distance bound agrees exactly on ≥1
    chunk, so equality joins on (chunk_index, chunk_value) generate all
    candidates; verify with ``bit_count(xor) ≤ d``.

    Returns: ``id_a``, ``id_b``, ``hamming``.
    """
    n_chunks = max_hamming + 1
    width = 64 // n_chunks
    # persist the sketch (two longs per doc): the banding self-join
    # reads it twice, and without the persist the whole posting +
    # gather + UDF pipeline executes once per side.
    sim = cache.pin(simhash64(df, id_col, text_col))
    chunks = sim.select(
        "id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("ci"),
                    F.shiftrightunsigned(F.col("simhash"), i * width)
                    .bitwiseAND(F.lit((1 << width) - 1)).alias("cv"),
                )
                for i in range(n_chunks)
            ])
        ).alias("c"),
    ).select("id", "simhash", F.col("c.ci").alias("ci"), F.col("c.cv").alias("cv"))
    l, r = chunks.alias("l"), chunks.alias("r")
    return (
        l.join(
            r,
            (F.col("l.ci") == F.col("r.ci"))
            & (F.col("l.cv") == F.col("r.cv"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))).alias("hamming"),
        )
        # filter BEFORE distinct: on clustered data the banding join
        # emits ~15× more candidate rows than surviving pairs, and the
        # bit_count filter is a register op while distinct is a shuffle.
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def embedding_cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_blocks: int | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs: cosine ≥ threshold.

    Brute-force baseline (exact): **block-partitioned matrix multiply**
    — NO driver-side collect and NO full-corpus broadcast. Each vector
    is hashed into one of ``B`` blocks; every unordered block pair
    ``(i ≤ j)`` becomes one ``applyInPandas`` group holding block i as
    side A and block j as side B, scored with a single BLAS matmul.
    Every vector pair lives in exactly one block-pair group, so no
    dedup is needed and only surviving pairs are emitted.

    Scale accounting: shuffle volume is O(n·B·d) (each row is
    replicated to its B block pairs), group memory is 2·(n/B)·d
    doubles, and compute is the inherent O(n²·d) flops of an exact
    all-pairs baseline. B trades shuffle volume against group size:
    B ≈ n·d·16 / executor_mem keeps blocks in memory at any corpus
    size — nothing ever concentrates on the driver. The sub-quadratic
    scale path is :func:`embedding_lsh_pairs` (same verify step,
    candidates from banding).

    (A ``zip_with``/``aggregate`` HOF formulation is CodegenFallback —
    interpreted per element; measured ~700× slower than BLAS here.)

    Returns: ``id_a``, ``id_b``, ``cosine`` (rounded 6).
    """
    spark = df.sparkSession
    src = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    if n_blocks is None:
        # smallest B whose B(B+1)/2 block-pair groups cover the
        # available parallelism
        par = spark.sparkContext.defaultParallelism
        n_blocks = 2
        while n_blocks * (n_blocks + 1) // 2 < par:
            n_blocks += 1
    B = int(n_blocks)
    thr = float(threshold)
    entry_t = "array<struct<bi:int,bj:int,side:int>>"

    v = src.withColumn("blk", F.pmod(F.xxhash64(F.col("id")), F.lit(B)).cast("int"))
    # a row in block b is side A of pairs (b, j≥b) — diagonal included —
    # and side B of pairs (i<b, b); sequence(0, b-1) would be DESCENDING
    # for b=0, so guard the empty case explicitly
    a_entries = F.transform(
        F.sequence(F.col("blk"), F.lit(B - 1)),
        lambda j: F.struct(
            F.col("blk").alias("bi"), j.cast("int").alias("bj"),
            F.lit(0).alias("side"),
        ),
    )
    b_entries = F.when(
        F.col("blk") > 0,
        F.transform(
            F.sequence(F.lit(0), F.col("blk") - 1),
            lambda i: F.struct(
                i.cast("int").alias("bi"), F.col("blk").alias("bj"),
                F.lit(1).alias("side"),
            ),
        ),
    ).otherwise(F.array().cast(entry_t))
    replicated = (
        v.select("id", "v", F.explode(F.concat(a_entries, b_entries)).alias("k"))
        .select("id", "v", F.col("k.bi").alias("bi"), F.col("k.bj").alias("bj"),
                F.col("k.side").alias("side"))
    )

    def score_block_pair(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        bi, bj = key
        empty = pd.DataFrame({"id_a": pd.Series([], dtype="int64"),
                              "id_b": pd.Series([], dtype="int64"),
                              "cosine": pd.Series([], dtype="float64")})
        a = pdf[pdf["side"] == 0]
        if a.empty:
            return empty
        ids_a = a["id"].to_numpy(dtype="int64")
        mat_a = np.stack(a["v"].to_numpy()).astype("float64")
        mat_a /= np.linalg.norm(mat_a, axis=1, keepdims=True)
        if bi == bj:
            scores = mat_a @ mat_a.T
            # loose cut (margin for float noise); the exact rounded-
            # threshold filter is applied JVM-side below
            keep = (scores >= thr - 1e-9) & (ids_a[:, None] < ids_a[None, :])
            ii, jj = np.nonzero(keep)
            return pd.DataFrame({"id_a": ids_a[ii], "id_b": ids_a[jj],
                                 "cosine": scores[ii, jj]})
        b = pdf[pdf["side"] == 1]
        if b.empty:
            return empty
        ids_b = b["id"].to_numpy(dtype="int64")
        mat_b = np.stack(b["v"].to_numpy()).astype("float64")
        mat_b /= np.linalg.norm(mat_b, axis=1, keepdims=True)
        scores = mat_a @ mat_b.T
        ii, jj = np.nonzero(scores >= thr - 1e-9)
        ia, ib = ids_a[ii], ids_b[jj]
        return pd.DataFrame({"id_a": np.minimum(ia, ib),
                             "id_b": np.maximum(ia, ib),
                             "cosine": scores[ii, jj]})

    out = replicated.groupBy("bi", "bj").applyInPandas(
        score_block_pair, schema="id_a long, id_b long, cosine double"
    )
    return (
        out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def duplicate_clusters(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components over near-dup pairs: ``(id, cluster_id)``
    where ``cluster_id`` is the component's minimum member id.

    Iterative min-label propagation: each round every node takes the min
    of its own label and its neighbors' labels; converges in
    O(component diameter) rounds — near-dup clusters are dense and
    shallow, so a handful. Each round is one join + one groupBy (two
    shuffles on id-sized rows), with an eager ``localCheckpoint`` to cut
    the lineage (an unchecked iterative plan re-executes every prior
    round per action and eventually breaks the optimizer). At extreme
    skew (one giant component) the large-star/small-star variant halves
    rounds; near-dup components don't get there.

    Input: any pair DataFrame with ``id_a``/``id_b`` columns
    (:func:`ngram_jaccard_pairs`, :func:`minhash_lsh_pairs`,
    :func:`simhash_pairs`, :func:`embedding_cosine_pairs`).
    """
    # materialize the pair pipeline ONCE before symmetrizing: a union of
    # two branches over the raw pairs plan would execute the (expensive)
    # candidate-generation subtree once per branch. EAGER here is load-
    # bearing: a lazy checkpoint referenced at several points of one
    # downstream job recomputes its subtree per reference (measured
    # +60% on the whole operator when edges/seed were made lazy).
    directed = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).localCheckpoint()
    edges = directed.union(
        directed.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()

    # seed each node with min(id, min neighbor) — the first propagation
    # round folded into initialization (every node appears as src in the
    # symmetrized edge set, so this groupBy covers all of them); eager,
    # because iteration 1 references it twice in a single job
    labels = (
        edges.groupBy("src").agg(F.min("dst").alias("mn"))
        .select(F.col("src").alias("id"), F.least("src", "mn").alias("label"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        # r9 optimization (guide §2.4): the step used to aggregate
        # neighbor minima by src and LEFT-JOIN them back onto the label
        # frame — an aggregate exchange plus a two-sided join exchange
        # per round. Instead, union the raw (dst, neighbor-label) rows
        # with the carried (id, label) state rows and fold both in ONE
        # id-keyed aggregate (min ignores the state rows' NULL nl; max
        # picks each node's unique previous label). Identical labels:
        # min over longs commutes and every node appears exactly once
        # in the state rows.
        neigh_rows = edges.join(labels, edges.dst == labels.id).select(
            F.col("src").alias("id"), F.col("label").alias("nl")
        )
        state_rows = labels.select("id", F.col("label").alias("prev"))
        # the step checkpoint is LAZY: the convergence count below is
        # the action that materializes it (one job per iteration, not
        # two), and the next iteration's double reference then reads
        # materialized blocks. The carried `changed` flag makes that
        # count a scan, not a join.
        stepped = (
            neigh_rows.unionByName(state_rows, allowMissingColumns=True)
            .groupBy("id")
            .agg(F.min("nl").alias("nl"), F.max("prev").alias("prev"))
            .select(
                "id",
                F.least(F.col("prev"), F.coalesce(F.col("nl"), F.col("prev"))).alias("label"),
                (F.coalesce(F.col("nl"), F.col("prev")) < F.col("prev")).alias("changed"),
            )
            .localCheckpoint(eager=False)
        )
        labels = stepped.select("id", "label")
        if stepped.filter("changed").count() == 0:
            break
    return labels.select("id", F.col("label").alias("cluster_id"))


def keeper_assignment(
    df: DataFrame, pairs: DataFrame, id_col: str
) -> DataFrame:
    """Per-document keeper id: the dedup decision a training pipeline
    actually applies — keep ``cluster min``, drop the rest.

    Documents in no near-dup cluster keep themselves. Returns
    ``(doc_id, keeper_id, is_keeper)`` for EVERY input document, so
    ``filter(is_keeper)`` is the deduplicated corpus.
    """
    comp = duplicate_clusters(pairs)
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(comp.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("keeper_id"),
        )
        .withColumn("is_keeper", F.col("keeper_id") == F.col("doc_id"))
    )


def embedding_lsh_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 8,
    n_tables: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Embedding near-dup pairs via multi-table random-hyperplane LSH —
    the sub-quadratic scale path for :func:`embedding_cosine_pairs`.

    Standard (k, L) LSH: ``n_tables`` independent hyperplane tables of
    ``n_planes`` sign bits each; candidates = vectors sharing a bucket
    in ANY table, plus Hamming-1 probes per table, probed from one side
    only; survivors are verified with exact cosine, so output pairs are
    a subset of the brute-force result with identical scores. Per
    Goemans-Williamson a pair at angle θ agrees per bit w.p. 1−θ/π;
    per-table hit ≈ p^k, union over L tables ≈ 1−(1−p^k)^L — k trades
    candidate volume for precision, L buys recall back.

    Verify per bucket: ship the d-dim vector into every bucket entry
    and score each (table, code) group with ONE BLAS matmul in
    ``applyInPandas`` — no candidate pair-join, no per-pair vector
    re-join. Shuffle is O(n·L·k'·d) (k' = 1 + Hamming-1 probes);
    compute is O(C·d) flops inside the group (C = colliding pairs).
    This suits dense collisions (low thresholds — at cosine 0.4 the
    per-bit agreement is only ~0.63, so banding prunes weakly and
    C ≈ n²·frac dominates any per-pair plan; measured 12.9s → ~2s at
    sf0.1 against a skinny (id, table, code) bucket join that re-joins
    both vectors per candidate pair).

    Group-size bound: a (table, code) group holds ~n/2**n_planes
    members plus ~n_planes× that in Hamming-1 arrivals, so n_planes
    must track log2(n) — occupancy-targeted sizing keeps group memory
    flat as the corpus grows, and is the degenerate-bucket control.

    Returns: ``id_a``, ``id_b``, ``cosine`` (rounded 6).
    """
    from ksql_query_tutorial_spark.operators import similarity

    par = df.sparkSession.sparkContext.defaultParallelism
    v = df.select(
        F.col(id_col).alias("id"), similarity.as_double(F.col(vec_col)).alias("v")
    ).repartition(par)
    coded = v
    for t in range(n_tables):
        planes = similarity.hyperplanes(dim, n_planes, seed=42 + t)
        coded = coded.withColumn(f"b{t}", similarity.bucket_code(F.col("v"), planes))
    thr = float(threshold)

    # one entry per (table, member code) [side 0] plus one per Hamming-1
    # neighbor code [side 1]; a pair is scored where a side-0/side-1
    # entry of one id meets the side-0 entry of a greater id in the same
    # (t, code) group. Probe codes are symmetric (Hamming-1 is), so
    # probing one side covers both directions, and the id ordering
    # picks one.
    entries = []
    for t in range(n_tables):
        entries.append(F.struct(
            F.lit(t).alias("t"), F.col(f"b{t}").alias("code"),
            F.lit(0).alias("side")))
        entries += [
            F.struct(F.lit(t).alias("t"),
                     F.col(f"b{t}").bitwiseXOR(F.lit(1 << i)).alias("code"),
                     F.lit(1).alias("side"))
            for i in range(n_planes)
        ]
    exploded = coded.select(
        "id", "v", F.explode(F.array(*entries)).alias("k")
    ).select("id", "v", F.col("k.t").alias("t"),
             F.col("k.code").alias("code"), F.col("k.side").alias("side"))

    def score_bucket(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": pd.Series([], dtype="int64"),
                              "id_b": pd.Series([], dtype="int64"),
                              "cosine": pd.Series([], dtype="float64")})
        build = pdf[pdf["side"] == 0]
        if build.empty or len(pdf) < 2:
            return empty
        ids_p = pdf["id"].to_numpy(dtype="int64")
        mat_p = np.stack(pdf["v"].to_numpy()).astype("float64")
        mat_p /= np.linalg.norm(mat_p, axis=1, keepdims=True)
        bsel = (pdf["side"] == 0).to_numpy()
        ids_b, mat_b = ids_p[bsel], mat_p[bsel]
        scores = mat_p @ mat_b.T
        # loose cut (float-noise margin); exact rounded-threshold
        # filter applied JVM-side below, as in the exact path
        keep = (scores >= thr - 1e-9) & (ids_p[:, None] < ids_b[None, :])
        ii, jj = np.nonzero(keep)
        return pd.DataFrame({"id_a": ids_p[ii], "id_b": ids_b[jj],
                             "cosine": scores[ii, jj]})

    scored = exploded.groupBy("t", "code").applyInPandas(
        score_bucket, schema="id_a long, id_b long, cosine double"
    )
    # a pair colliding in several tables/probes is emitted once;
    # scores agree to ~1 ulp, rounding to 6 decimals unifies them
    return (
        scored.dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Asymmetric shingle-CONTAINMENT near-dup pairs: ``|A∩B| /
    min(|A|, |B|) ≥ threshold`` over distinct n-shingle sets.

    Jaccard under-scores subset relationships — a paragraph quoted
    whole inside a 100× longer page has Jaccard ≈ 0.01 but containment
    ≈ 1.0 — so corpus pipelines dedup short-inside-long (quotes,
    mirrors with boilerplate, partial crawls) on containment, not
    Jaccard (Broder's original resemblance/containment split). Same
    inverted-index shape as :func:`ngram_jaccard_pairs` — candidate
    generation via the shingle self-join, one posting scan persisted,
    sizes carried on the posting rows by an id-window that reuses the
    posting's partitioning — only the normalizer differs: min-size
    instead of union. Output rows add ``direction`` ("a_in_b" when the
    smaller set is id_a's, "b_in_a" otherwise, ties → "a_in_b") so a
    keeper policy can drop the contained side. Quadratic in cluster
    size like every exact all-pairs op (the measured scale note on
    :func:`ngram_jaccard_pairs` applies); the LSH family remains the
    sub-quadratic path when symmetric similarity suffices.

    Returns ``id_a, id_b (id_a < id_b), containment (rounded 6),
    direction``.
    """
    post = shingle_hash_posting(df, id_col, text_col, n)
    return (
        _overlap_pairs(post)
        .withColumn(
            "containment",
            F.round(
                F.col("inter").cast("double")
                / F.least("n_a", "n_b").cast("double"),
                6,
            ),
        )
        .filter(F.col("containment") >= threshold)
        .withColumn(
            "direction",
            F.when(F.col("n_a") <= F.col("n_b"), F.lit("a_in_b")).otherwise(
                F.lit("b_in_a")
            ),
        )
        .select("id_a", "id_b", "containment", "direction")
    )


def levenshtein_pairs(
    df: DataFrame,
    max_block: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_chars: int = 12,
    prefix_chars: int = 64,
    max_dist: int = 8,
) -> DataFrame:
    """Edit-distance near-dup pairs via prefix blocking — the record-
    linkage classic (blocking + pairwise verify), complementing the
    set-based families: Levenshtein catches character-level edits
    (typos, OCR noise) that shingle Jaccard under-weights.

    Pipeline: normalize (lower, collapse whitespace) → block on the
    first ``block_chars`` chars → candidate pairs by equality self-join
    on the block key (id_a < id_b) → verify
    ``levenshtein(prefix_a, prefix_b) <= max_dist`` on the
    ``prefix_chars``-char normalized prefix.

    Scale design: the only shuffle is the equality join on the block
    key; verification cost is bounded at ``O(prefix_chars²)`` per
    candidate regardless of document length (the adversarial 200k-char
    doc costs the same as a tweet). ``max_block`` is the mega-bucket
    relief valve (see :func:`_cap_bucket_width`) for boilerplate
    corpora where one prefix block would go quadratic. Levenshtein is
    a JVM built-in — no Python in the loop.
    """
    norm = F.regexp_replace(
        F.lower(F.trim(F.col(text_col))), r"\s+", " "
    )
    keyed = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("__id"),
        F.substring(norm, 1, block_chars).alias("__block"),
        F.substring(norm, 1, prefix_chars).alias("__prefix"),
    ).filter(F.length("__block") > 0)
    keyed = _cap_bucket_width(keyed, max_block, "__block")

    a = keyed.alias("a")
    b = keyed.alias("b")
    dist = F.levenshtein(F.col("a.__prefix"), F.col("b.__prefix"))
    return (
        a.join(
            b,
            (F.col("a.__block") == F.col("b.__block"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            dist.cast("int").alias("edit_distance"),
        )
        .filter(F.col("edit_distance") <= max_dist)
        .orderBy("id_a", "id_b")
    )
