"""Similarity search over embedding columns (``array<float>``).

Two tiers, per the north-star brief:

- **Brute-force cosine top-k** — the exact baseline. The (small) query
  set is L2-normalized into a matrix and broadcast; each corpus
  partition scores its block with one BLAS matmul inside Arrow-batched
  ``mapInPandas`` and emits only its LOCAL top-k per query, so shuffle
  volume is ``partitions × queries × k`` rows, never ``corpus ×
  queries``. A single window ranks the survivors globally. (Scoring
  via ``zip_with``/``aggregate`` HOFs is CodegenFallback — interpreted
  per element — and loses to BLAS by orders of magnitude.)
- **LSH-bucketed ANN (random hyperplanes)** — the 100 TB path. A
  deterministic hyperplane matrix (seeded RNG, data-independent) maps
  each vector to a sign-bit bucket code (one vectorized matmul per
  Arrow batch); search joins queries to corpus rows by bucket (with
  optional multi-probe over Hamming-1 neighbor buckets), then ranks
  exactly within candidates. Pair generation is an equality join on
  the bucket code — never O(n²). An IVF analog would swap bucket codes
  for nearest-centroid ids; the plumbing is identical.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window
from pyspark.sql.functions import pandas_udf

from ksql_query_tutorial_spark import cache
from ksql_query_tutorial_spark.session import local_frame


def as_double(vec_col: Column) -> Column:
    """Cast array<float> → array<double> so Spark and any oracle agree
    on arithmetic precision."""
    return F.transform(vec_col, lambda x: x.cast("double"))


def l2_norm(vec: Column) -> Column:
    return F.sqrt(F.aggregate(vec, F.lit(0.0), lambda acc, x: acc + x * x))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0),
                       lambda acc, x: acc + x)


def rowwise_dot(a: Column, b: Column) -> Column:
    """Arrow-vectorized per-row dot product of two array columns.

    The HOF :func:`dot` is CodegenFallback (interpreted per element) —
    fine for bounded candidate sets, but on multi-million-row candidate
    verification it dominates the runtime; one einsum per Arrow batch
    is ~10-100× faster there."""

    @pandas_udf("double")
    def _dot(xs: pd.Series, ys: pd.Series) -> pd.Series:
        if xs.empty:
            return pd.Series([], dtype="float64")
        return pd.Series(np.einsum("ij,ij->i", _stack(xs), _stack(ys)))

    return _dot(a, b)


def _stack(series: pd.Series) -> np.ndarray:
    """(m, d) float64 matrix from an Arrow array-column batch."""
    return np.stack(series.to_numpy()).astype("float64")


# Hard ceiling on the query side of broadcast-matrix searches. The
# design contract is "bounded query set broadcast against an unbounded
# corpus"; 65,536 × d float64 is a few tens of MB — comfortably
# broadcastable — while an unguarded toPandas() of a corpus-sized query
# set would OOM the driver silently at 100 TB.
MAX_QUERY_ROWS = 65_536


def _bounded_query_pdf(queries: DataFrame, what: str) -> pd.DataFrame:
    """Driver-side collect of the query set, guarded by MAX_QUERY_ROWS:
    reads at most MAX_QUERY_ROWS+1 rows (the limit is pushed into the
    scan, so an oversized set costs one extra row, not a full collect)
    and raises instead of silently OOMing."""
    pdf = queries.limit(MAX_QUERY_ROWS + 1).toPandas()
    if len(pdf) > MAX_QUERY_ROWS:
        raise ValueError(
            f"{what}: query set exceeds MAX_QUERY_ROWS={MAX_QUERY_ROWS}; "
            "the broadcast-matrix design needs a bounded query side — "
            "split the query set, or use the LSH/IVF bucketed path for "
            "corpus-vs-corpus search."
        )
    return pdf


def _empty_topk(spark, score_col: str = "cosine") -> "DataFrame":
    """Typed empty top-k result: an empty corpus or query set is a
    routine input at scale (a partition filter matching nothing, a
    fresh index), and the broadcast-matrix operators short-circuit to
    this instead of np.stack-ing zero rows."""
    return local_frame(
        spark, [], f"query_id long, neighbor_id long, rank int, {score_col} double"
    )


def _normalize(mat: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    np.maximum(norms, np.finfo("float64").tiny, out=norms)
    return mat / norms


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    Map-side: one BLAS matmul per corpus block against the broadcast
    query matrix, keeping the local top-k per query (ties broken by
    neighbor id). One shuffle on query_id then ranks the ≤
    ``partitions·k`` survivors per query globally.

    Returns: ``query_id``, ``neighbor_id``, ``rank``, ``cosine``.
    """
    spark = corpus.sparkSession
    qpdf = _bounded_query_pdf(
        queries.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")),
        "brute_force_topk",
    )
    if qpdf.empty:
        return _empty_topk(spark)
    q_ids = qpdf["id"].to_numpy(dtype="int64")
    q_mat = _normalize(_stack(qpdf["v"]))
    bc = spark.sparkContext.broadcast((q_ids, q_mat))

    def local_topk(batches):
        b_qids, b_qmat = bc.value
        for batch in batches:
            if batch.empty:
                continue
            n_ids = batch["id"].to_numpy(dtype="int64")
            scores = _normalize(_stack(batch["v"])) @ b_qmat.T  # (m, q)
            frames = []
            for j, qid in enumerate(b_qids):
                col = scores[:, j]
                valid = n_ids != qid  # self-match excluded
                # top-k by (cosine desc, neighbor id asc): lexsort keys
                # are applied last-key-major
                order = np.lexsort((n_ids[valid], -col[valid]))[:k]
                frames.append(pd.DataFrame({
                    "query_id": qid,
                    "neighbor_id": n_ids[valid][order],
                    "cosine": col[valid][order],
                }))
            if frames:
                yield pd.concat(frames, ignore_index=True)

    par = spark.sparkContext.defaultParallelism
    scored = (
        corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .repartition(par)
        .mapInPandas(local_topk, schema="query_id long, neighbor_id long, cosine double")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine"))
    )


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic random-hyperplane matrix (data-independent)."""
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).tolist()


def bucket_code(vec_col: Column, planes: list[list[float]]) -> Column:
    """Sign-bit LSH bucket code column: bit i = (vec · plane_i) >= 0.

    One vectorized matmul per Arrow batch (a per-plane HOF dot is
    interpreted per element and dominated the ANN runtime)."""
    plane_mat = np.asarray(planes, dtype="float64")

    @pandas_udf("long")
    def _codes(v: pd.Series) -> pd.Series:
        if v.empty:
            return pd.Series([], dtype="int64")
        bits = (_stack(v) @ plane_mat.T) >= 0  # (m, planes)
        codes = np.zeros(len(bits), dtype="int64")
        for i in range(plane_mat.shape[0]):
            codes |= bits[:, i].astype("int64") << i
        return pd.Series(codes)

    return _codes(vec_col)


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: candidates = corpus rows sharing the query's
    LSH bucket or one of its Hamming-1 probe buckets, ranked by exact
    cosine within candidates.

    2^n_planes buckets; the probes buy recall back. The join
    is bucket-equality (shuffle on an 8-bit code → heavily skew-prone at
    tiny n_planes; size n_planes so buckets ≈ corpus/2^n stay fine-
    grained at scale). Candidate scoring uses the JVM HOF dot — the
    candidate set is bounded by bucket size × probes, so the interpreted
    cost stays negligible by construction.

    Returns: ``query_id``, ``neighbor_id``, ``rank``, ``cosine``.
    """
    planes = hyperplanes(dim, n_planes)
    par = corpus.sparkSession.sparkContext.defaultParallelism
    c = corpus.select(F.col(id_col).alias("nid"), as_double(F.col(vec_col)).alias("cv"))
    c = c.repartition(par).withColumn("cn", l2_norm(F.col("cv"))).withColumn(
        "bucket", bucket_code(F.col("cv"), planes)
    )
    q = queries.select(F.col(id_col).alias("qid"), as_double(F.col(vec_col)).alias("qv"))
    q = q.withColumn("qn", l2_norm(F.col("qv"))).withColumn(
        "qbucket", bucket_code(F.col("qv"), planes)
    )
    probes = F.array(
        F.col("qbucket"),
        *[F.col("qbucket").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)],
    )
    q = q.select("qid", "qv", "qn", F.explode(probes).alias("qbucket"))

    scored = (
        c.join(F.broadcast(q), (F.col("bucket") == F.col("qbucket")) & (F.col("qid") != F.col("nid")))
        .withColumn("cosine", dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("nid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("nid").alias("neighbor_id"),
            "rank",
            F.round("cosine", 6).alias("cosine"),
        )
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization (the faiss-SQ8
    layout): ``q_i = floor(v_i·127/max_abs(v) + 0.5)``, scale =
    ``max_abs/127`` — 4× less corpus memory/shuffle than float32, and
    the first storage tier every billion-vector ANN index reaches for.

    A pure narrow projection (no shuffle); the arithmetic is plain
    floor/abs/max over doubles, so any SQL engine reproduces the exact
    codes — round-half-up is spelled ``floor(x+0.5)`` because engines
    disagree on ``round()`` tie-breaking (Java half-up vs C half-even).

    Returns ``id, qvec (array<int>), scale`` — ``dequantized_i ≈
    qvec_i · scale``.

    Plan note (r8 fix): the max must ride as a zipped ARRAY, not a
    scalar attribute referenced inside the transform lambda —
    CollapseProject inlines a once-referenced non-cheap alias into the
    lambda body, re-running ``array_max(transform(v, abs))`` PER
    ELEMENT (O(d²) per row; quantization_error measured 12.7× for 10×
    rows at sf1 before the fix, 1.0× after). ``array_repeat`` evaluates
    its argument once per row, and ``zip_with`` hands each element its
    max as plain lambda input.
    """
    src = df.select(
        F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v")
    ).withColumn("__mxs", F.array_repeat(mx_over("v"), F.size("v")))
    return src.select(
        "id",
        F.zip_with(
            "v", "__mxs",
            lambda x, m: F.floor(x * 127.0 / m + 0.5).cast("int"),
        ).alias("qvec"),
        F.round(
            F.coalesce(F.get("__mxs", 0), F.lit(1e-30)) / 127.0, 9
        ).alias("scale"),
    )


def mx_over(v_name: str) -> Column:
    """max |x| of an array column, floored away from zero so an
    all-zero vector quantizes to zeros instead of dividing by zero."""
    return F.greatest(
        F.array_max(F.transform(F.col(v_name), lambda x: F.abs(x))),
        F.lit(1e-30),
    )


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact-over-int8 cosine top-k: :func:`brute_force_topk` run on
    the quantized codes. Per-vector symmetric scales cancel in cosine,
    so the score is ``dot(qa,qb)/(|qa|·|qb|)`` over integer codes —
    int8 dots up to d·127² stay exactly representable in float64, so
    the BLAS path and any integer-SQL oracle agree bit-for-bit (ranks
    AND scores are deterministic; ties break by neighbor id, and int
    scores tie far more often than floats — that determinism is what
    makes an approximate-representation search oracle-checkable).

    Corpus-side flow is identical to the float path: broadcast query
    code matrix, one BLAS matmul per block, local top-k, one window —
    but the UDF emits the EXACT integer dot and norm² (int64 matmul;
    d·127² ≪ 2^63), keeping a small safety margin past k, and the
    final score is one fixed JVM expression ``qdot/(sqrt(nsq_c)·
    sqrt(nsq_q))`` — the identical IEEE op sequence any SQL engine
    runs, so ranks and scores reproduce bit-for-bit (the float-BLAS
    score is used only to preselect, never to rank).

    Returns ``query_id, neighbor_id, rank, qcosine``.
    """
    qc = quantize_embeddings(corpus, id_col, vec_col)
    qq = quantize_embeddings(queries, id_col, vec_col)
    spark = corpus.sparkSession
    qpdf = _bounded_query_pdf(qq.select("id", "qvec"), "quantized_topk")
    if qpdf.empty:
        return _empty_topk(spark, "qcosine")
    q_ids = qpdf["id"].to_numpy(dtype="int64")
    q_mat = np.stack(qpdf["qvec"].to_numpy()).astype("int64")
    bc = spark.sparkContext.broadcast((q_ids, q_mat))
    margin = 8

    def local_topk(batches):
        b_qids, b_qmat = bc.value
        q_nsq = (b_qmat * b_qmat).sum(axis=1)
        for batch in batches:
            if batch.empty:
                continue
            n_ids = batch["id"].to_numpy(dtype="int64")
            mat = np.stack(batch["qvec"].to_numpy()).astype("int64")
            dots = mat @ b_qmat.T                        # exact int64
            nsq = (mat * mat).sum(axis=1)
            approx = dots / np.sqrt(np.maximum(nsq, 1))[:, None]
            frames = []
            for j, qid in enumerate(b_qids):
                valid = n_ids != qid
                order = np.lexsort((n_ids[valid], -approx[valid, j]))[: k + margin]
                frames.append(pd.DataFrame({
                    "query_id": qid,
                    "neighbor_id": n_ids[valid][order],
                    "qdot": dots[valid, j][order],
                    "nsq_c": nsq[valid][order],
                    "nsq_q": q_nsq[j],
                }))
            if frames:
                yield pd.concat(frames, ignore_index=True)

    par = spark.sparkContext.defaultParallelism
    scored = qc.select("id", "qvec").repartition(par).mapInPandas(
        local_topk,
        schema="query_id long, neighbor_id long, qdot long, nsq_c long, nsq_q long",
    )
    # the SAME expression shape the oracle uses: sqrt over greatest-
    # guarded doubles, then one division — bit-identical across engines
    qcos = F.col("qdot").cast("double") / (
        F.sqrt(F.greatest(F.col("nsq_c"), F.lit(1)).cast("double"))
        * F.sqrt(F.greatest(F.col("nsq_q"), F.lit(1)).cast("double"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qcosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("qcosine", qcos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank",
                F.round("qcosine", 6).alias("qcosine"))
    )


def spherical_kmeans_centroids(
    corpus: DataFrame,
    n_centroids: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 8,
    sample: int = 65536,
    seed: int = 42,
) -> np.ndarray:
    """Train IVF centroids: spherical k-means on a bounded driver-side
    sample (deterministic seed, deterministic ``limit`` sample).

    The sample bound is what makes this 100 TB-safe: training touches at
    most ``sample`` rows regardless of corpus size (IVF quality needs
    only a representative sample, not the corpus), and the loop is a few
    BLAS matmuls on a (sample, d) matrix. Returns an L2-normalized
    ``(k, d)`` centroid matrix.
    """
    pdf = corpus.select(F.col(vec_col).alias("v")).limit(sample).toPandas()
    if pdf.empty:
        return np.zeros((0, 0))
    x = _normalize(_stack(pdf["v"]))
    rng = np.random.RandomState(seed)
    k = min(n_centroids, len(x))
    cent = x[rng.choice(len(x), size=k, replace=False)]
    for _ in range(iters):
        assign = np.argmax(x @ cent.T, axis=1)           # (n,)
        sums = np.zeros_like(cent)
        np.add.at(sums, assign, x)
        counts = np.bincount(assign, minlength=k)
        empty = counts == 0
        sums[empty] = cent[empty]                        # keep dead centroids
        cent = _normalize(sums)
    return cent


def with_centroid_id(df: DataFrame, centroids: np.ndarray,
                     vec_col: str = "embedding",
                     out_col: str = "cid", nprobe: int = 1) -> DataFrame:
    """Assign each vector its ``nprobe`` nearest centroid ids (cosine).

    One broadcast of the (k, d) centroid matrix + one BLAS matmul per
    Arrow batch; with ``nprobe > 1`` the column is an array (explode for
    multi-probe search). Centroid count ~sqrt(corpus) keeps both the
    broadcast and the per-list candidate size bounded at scale.
    """
    bc = df.sparkSession.sparkContext.broadcast(centroids)

    @pandas_udf("array<int>")
    def _assign(v: pd.Series) -> pd.Series:
        if v.empty:
            return pd.Series([], dtype="object")
        scores = _normalize(_stack(v)) @ bc.value.T       # (m, k)
        p = min(nprobe, scores.shape[1])
        top = np.argpartition(-scores, p - 1, axis=1)[:, :p]
        # order probes best-first for each row
        row = np.arange(len(top))[:, None]
        top = top[row, np.argsort(-scores[row, top], axis=1)]
        return pd.Series(list(top.astype("int32")))

    return df.withColumn(out_col, _assign(F.col(vec_col)))


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """IVF approximate top-k: inverted-file ANN — the centroid analog of
    :func:`lsh_ann_topk` (same plumbing, nearest-centroid ids instead of
    sign-bit bucket codes).

    Index: every corpus vector is assigned its nearest centroid (one
    vectorized matmul pass). Search: each query probes its ``nprobe``
    nearest centroid lists (explode → equality join on centroid id) and
    ranks candidates by exact cosine. Candidates per query ≈
    ``nprobe · corpus / k_centroids`` — bounded and tunable, never
    O(n²). At cluster scale the corpus side would be written
    partitioned by ``cid`` so a probe prunes to its partitions.

    Returns: ``query_id``, ``neighbor_id``, ``rank``, ``cosine``.
    """
    cent = spherical_kmeans_centroids(corpus, n_centroids, id_col, vec_col)
    if cent.size == 0:
        return _empty_topk(corpus.sparkSession)
    par = corpus.sparkSession.sparkContext.defaultParallelism

    c = corpus.select(F.col(id_col).alias("nid"), as_double(F.col(vec_col)).alias("cv"))
    c = with_centroid_id(c.repartition(par), cent, "cv", "cid", nprobe=1)
    c = c.select("nid", "cv", F.element_at("cid", 1).alias("cid"),
                 l2_norm(F.col("cv")).alias("cn"))

    q = queries.select(F.col(id_col).alias("qid"), as_double(F.col(vec_col)).alias("qv"))
    q = with_centroid_id(q, cent, "qv", "qcids", nprobe=nprobe)
    q = q.select("qid", "qv", l2_norm(F.col("qv")).alias("qn"),
                 F.explode("qcids").alias("cid"))

    scored = (
        c.join(F.broadcast(q), "cid")
        .filter(F.col("qid") != F.col("nid"))
        .withColumn("cosine", dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("nid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("nid").alias("neighbor_id"),
            "rank",
            F.round("cosine", 6).alias("cosine"),
        )
    )


def pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    ksub: int = 16,
    vec_col: str = "embedding",
    iters: int = 8,
    sample: int = 65536,
    seed: int = 7,
) -> np.ndarray:
    """Train product-quantization codebooks: split the (normalized)
    vector into ``m`` subspaces and run Euclidean k-means with ``ksub``
    centroids in each, on a bounded driver-side sample (same 100 TB
    contract as :func:`spherical_kmeans_centroids` — training cost is
    capped by ``sample``, not corpus size).

    Returns a ``(m, ksub, d/m)`` float64 codebook tensor.
    """
    pdf = corpus.select(F.col(vec_col).alias("v")).limit(sample).toPandas()
    if pdf.empty:
        return np.zeros((m, 0, 0))
    x = _normalize(_stack(pdf["v"]))
    n, d = x.shape
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m} subspaces")
    dsub = d // m
    rng = np.random.RandomState(seed)
    books = np.empty((m, ksub, dsub))
    for j in range(m):
        xs = x[:, j * dsub:(j + 1) * dsub]
        k = min(ksub, n)
        cent = xs[rng.choice(n, size=k, replace=False)]
        for _ in range(iters):
            d2 = ((xs[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            sums = np.zeros_like(cent)
            np.add.at(sums, assign, xs)
            counts = np.bincount(assign, minlength=k)
            nonempty = counts > 0
            cent[nonempty] = sums[nonempty] / counts[nonempty, None]
        if k < ksub:  # degenerate tiny corpus: pad with repeats
            cent = np.vstack([cent, np.repeat(cent[:1], ksub - k, axis=0)])
        books[j] = cent
    return books


def pq_encode(df: DataFrame, books: np.ndarray,
              vec_col: str = "cv", out_col: str = "codes") -> DataFrame:
    """Encode each (normalized) vector as ``m`` centroid indices — the
    ``d/m``-bytes-per-vector representation that makes billion-scale
    rerank RAM-resident. One broadcast of the codebook tensor; argmin
    over each subspace is a vectorized ``(batch, ksub)`` distance
    computation per Arrow batch."""
    bc = df.sparkSession.sparkContext.broadcast(books)

    @pandas_udf("array<int>")
    def _enc(v: pd.Series) -> pd.Series:
        if v.empty:
            return pd.Series([], dtype="object")
        x = _normalize(_stack(v))
        books_ = bc.value
        m, ksub, dsub = books_.shape
        codes = np.empty((len(x), m), dtype="int32")
        for j in range(m):
            xs = x[:, j * dsub:(j + 1) * dsub]
            # ||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2; argmin drops ||x||^2
            d2 = -2.0 * (xs @ books_[j].T) + (books_[j] ** 2).sum(axis=1)[None, :]
            codes[:, j] = np.argmin(d2, axis=1)
        return pd.Series(list(codes))

    return df.withColumn(out_col, _enc(F.col(vec_col)))


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    ksub: int = 16,
    rerank: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization ANN top-k: PQ codes PRUNE, exact cosine
    RERANKS — the standard two-stage shape (Jégou et al., "Product
    Quantization for Nearest Neighbor Search"). Stage 1 scores every
    corpus code against each query with one table lookup per subspace
    (``approx_cos(q, x) = Σ_j lut[q, j, code_j]``) and keeps the top
    ``rerank·k`` candidates per query; stage 2 fetches only those
    candidates' real vectors (an equi-join on id, candidate-bounded)
    and ranks them by exact cosine.

    100 TB shape: the scan side of stage 1 is ``m`` ints per vector (8
    bytes at m=8 — 32× smaller than float32), the broadcast is
    ``queries × m × ksub`` doubles (query side bounded by
    MAX_QUERY_ROWS), per-partition local top-R keeps shuffle volume at
    ``partitions × queries × R`` rows, and stage 2 touches ``queries ×
    R`` full vectors total — the expensive float reads never scale
    with corpus size. Recall < 1 by construction (a true neighbor can
    be pruned in stage 1), so this is NOT oracle-reproducible:
    verified by the recall test against the exact brute force.
    """
    books = pq_codebooks(corpus, m=m, ksub=ksub, vec_col=vec_col)
    if books.size == 0:
        return _empty_topk(corpus.sparkSession)
    qpdf = _bounded_query_pdf(
        queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")),
        "pq_topk",
    )
    if qpdf.empty:
        return _empty_topk(corpus.sparkSession)
    qids = qpdf["qid"].to_numpy()
    qmat = _normalize(_stack(qpdf["qv"]))
    mm, ksub_, dsub = books.shape
    lut = np.empty((len(qids), mm, ksub_))
    for j in range(mm):
        lut[:, j, :] = qmat[:, j * dsub:(j + 1) * dsub] @ books[j].T

    spark = corpus.sparkSession
    n_cand = rerank * k
    bc = spark.sparkContext.broadcast((qids, lut, n_cand))
    coded = pq_encode(
        corpus.select(F.col(id_col).alias("nid"),
                      as_double(F.col(vec_col)).alias("cv")),
        books, "cv", "codes",
    ).select("nid", "codes")

    def local_topr(batches):
        qids_, lut_, r_ = bc.value
        nq = len(qids_)
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.stack(pdf["codes"].to_numpy())           # (b, m)
            # gather: scores[q, i] = sum_j lut[q, j, codes[i, j]]
            scores = lut_[:, np.arange(codes.shape[1])[None, :], codes].sum(axis=2)
            nids = pdf["nid"].to_numpy()
            keep = min(r_ + 1, scores.shape[1])
            top = np.argpartition(-scores, keep - 1, axis=1)[:, :keep]
            frames = []
            for qi in range(nq):
                frames.append(pd.DataFrame({
                    "query_id": qids_[qi],
                    "neighbor_id": nids[top[qi]],
                    "pq_score": scores[qi, top[qi]],
                }))
            yield pd.concat(frames, ignore_index=True)

    par = spark.sparkContext.defaultParallelism
    scored = coded.repartition(par).mapInPandas(
        local_topr, schema="query_id long, neighbor_id long, pq_score double"
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    wq = Window.partitionBy("query_id").orderBy(
        F.col("pq_score").desc(), F.col("neighbor_id").asc()
    )
    cand = (
        scored.withColumn("prank", F.row_number().over(wq))
        .filter(F.col("prank") <= n_cand)
        .select("query_id", "neighbor_id")
    )
    # stage 2: exact rerank over the bounded candidate list — fetch the
    # candidates' real vectors (equi-join on id) and the broadcast query
    # vectors, score with the brute-force cosine expression
    cvec = corpus.select(F.col(id_col).alias("neighbor_id"),
                         as_double(F.col(vec_col)).alias("cv"))
    qvec = local_frame(
        spark,
        [(int(q), [float(x) for x in v]) for q, v in
         zip(qpdf["qid"], qpdf["qv"])],
        "query_id long, qv array<double>",
    )
    exact = (
        cand.join(cvec, "neighbor_id")
        .join(F.broadcast(qvec), "query_id")
        .withColumn(
            "cosine",
            rowwise_dot(F.col("qv"), F.col("cv"))
            / (F.greatest(l2_norm(F.col("qv")), F.lit(1e-30))
               * F.greatest(l2_norm(F.col("cv")), F.lit(1e-30))),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank",
                F.round("cosine", 6).alias("cosine"))
    )


def _seed_centroids(
    corpus: DataFrame, n_clusters: int, id_col: str, vec_col: str
) -> tuple[DataFrame, DataFrame]:
    """The deterministic seed centroids shared by :func:`cluster_assign`,
    :func:`kmeans_two_pass` and :func:`silhouette`: the ``n_clusters``
    corpus rows with the smallest ids as ``cid, cv, cn`` (``cn`` the
    floored L2 norm), and the corpus as ``vec_id, v, vn``."""
    cent_rows = (
        corpus.select(id_col, vec_col)
        .orderBy(F.col(id_col).asc())
        .limit(n_clusters)
        .collect()
    )
    cent = local_frame(
        corpus.sparkSession,
        [(int(r[0]), [float(x) for x in r[1]]) for r in cent_rows],
        "cid long, cv array<double>",
    ).withColumn("cn", F.greatest(l2_norm(F.col("cv")), F.lit(1e-30)))
    v = corpus.select(
        F.col(id_col).alias("vec_id"),
        as_double(F.col(vec_col)).alias("v"),
    ).withColumn("vn", F.greatest(l2_norm(F.col("v")), F.lit(1e-30)))
    return cent, v


def cluster_assign(
    corpus: DataFrame,
    n_clusters: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic nearest-centroid cluster assignment: the corpus
    rows with the ``n_clusters`` smallest ids serve as fixed centroids
    (reproducible on any engine — no RNG, no training), and every
    vector joins its argmax-cosine centroid (ties → smaller centroid
    id).

    This is the oracle-exact twin of the learned pipeline
    (:func:`spherical_kmeans_centroids` + :func:`with_centroid_id`):
    identical plan shape, but fully SQL-expressible so the DuckDB gate
    can value-hash it.

    Scale design: centroid selection is a ``TakeOrderedAndProject``
    (per-partition top-k, merged once — no range-shuffle of the corpus)
    collecting exactly ``n_clusters`` rows, rebuilt as a local relation
    and broadcast (the same bounded-relation move as :func:`pq_topk`'s
    query matrix). The broadcast nested-loop join emits ``n_clusters``
    candidates per row *within the producing task*, and ``max_by``
    partial aggregation collapses them back to one row per vector
    before the single exchange, so shuffle volume equals the output
    size regardless of k.

    Returns ``vec_id, cluster_id, cosine`` (cosine to the winning
    centroid, rounded to 6).
    """
    cent, v = _seed_centroids(corpus, n_clusters, id_col, vec_col)
    scored = v.crossJoin(F.broadcast(cent)).withColumn(
        "cos", dot(F.col("v"), F.col("cv")) / (F.col("vn") * F.col("cn"))
    )
    best = scored.groupBy("vec_id").agg(
        # lexicographic max of (cos, -cid): highest cosine wins, exact
        # ties break to the smaller centroid id
        F.max_by(
            F.struct("cid", "cos"),
            F.struct(F.col("cos").alias("c"), (-F.col("cid")).alias("t")),
        ).alias("best")
    )
    return best.select(
        "vec_id",
        F.col("best.cid").alias("cluster_id"),
        F.round("best.cos", 6).alias("cosine"),
    )


def label_centroids(
    corpus: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label mean embedding in long format: one row per (label,
    dimension) with the mean component value — the class-centroid table
    a labeled-embedding audit (or a nearest-centroid classifier init)
    starts from.

    Long format is deliberate: it keeps the aggregate a plain
    ``avg`` over scalars (oracle-exact, partial+final), instead of an
    elementwise array aggregate the SQL gate couldn't hash. The
    ``posexplode`` is a narrow dim-fold (rows × d, no Python); partial
    aggregation collapses each map task to |labels × d| cells, so the
    lone exchange is dimension-bounded regardless of corpus size.

    Returns ``label, dim, mean_val, n_vectors``.
    """
    exploded = corpus.select(
        label_col, F.posexplode(as_double(F.col(vec_col))).alias("dim", "x")
    )
    return (
        exploded.groupBy(label_col, "dim")
        .agg(
            F.round(F.avg("x"), 6).alias("mean_val"),
            F.count(F.lit(1)).alias("n_vectors"),
        )
    )


COV_SCALE = 10**6


def covariance_stats(
    df: DataFrame,
    vec_col: str = "embedding",
    scale: int = COV_SCALE,
) -> DataFrame:
    """Exact embedding covariance statistics — the "fit" artifact for
    whitening/PCA over an embedding column, computed at corpus scale
    without a single float summation.

    Determinism design (same move as graph.pagerank_fixed_point):
    vectors are quantized to integer micro-units with the portable
    ``floor(x·scale + 0.5)`` round (the :func:`quantize_embeddings`
    convention), and every accumulated quantity — Σqᵢ, Σqᵢqⱼ, n — is
    an INT64 sum, which is exact and order-independent where float
    matmul partials are not. An independent SQL engine reproduces all
    of them bit-for-bit; the derived covariance (micro-unit², rounded
    6) is one fixed-shape double expression on top.

    Plan shape: Arrow-batched ``mapInPandas`` computes each batch's
    integer Gram partial ``QᵀQ`` with ONE numpy int64 matmul and emits
    only the d(d+1)/2 upper-triangle cells (plus the per-dim sums and
    count riding on each cell), so the single exchange carries
    ``tasks × 2080`` cells for d = 64 — corpus-size-independent — and
    one bounded groupBy finishes. No joins, no posting self-join, no
    per-element HOFs. Overflow bound: |q| ≤ scale·max|x|, so Σqᵢqⱼ <
    n·(scale·max|x|)² must stay < 2^63 — at scale 10^6 that is ~10^6
    unit-norm vectors per JOB; larger corpora drop scale to 10^4-10^5
    (variance resolution still ≫ float32 noise) or add an intermediate
    modular-partial merge.

    Returns ``i, j (i ≤ j), n, s_i, s_j, s_qq, cov`` where
    ``cov = s_qq/n − (s_i/n)(s_j/n)`` in micro-units².
    """
    def gram(batches):
        for pdf in batches:
            vecs = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            q = np.floor(vecs * scale + 0.5).astype(np.int64)
            n, d = q.shape
            s = q.T @ q
            sums = q.sum(axis=0)
            iu, ju = np.triu_indices(d)
            yield pd.DataFrame(
                {
                    "i": iu.astype(np.int32),
                    "j": ju.astype(np.int32),
                    "n_part": np.full(len(iu), n, dtype=np.int64),
                    "si_part": sums[iu],
                    "sj_part": sums[ju],
                    "sqq_part": s[iu, ju],
                }
            )

    cells = df.select(vec_col).mapInPandas(
        gram,
        schema="i int, j int, n_part long, si_part long, sj_part long, sqq_part long",
    )
    agg = cells.groupBy("i", "j").agg(
        F.sum("n_part").alias("n"),
        F.sum("si_part").alias("s_i"),
        F.sum("sj_part").alias("s_j"),
        F.sum("sqq_part").alias("s_qq"),
    )
    nn = F.col("n").cast("double")
    return agg.select(
        "i", "j", "n", "s_i", "s_j", "s_qq",
        F.round(
            F.col("s_qq").cast("double") / nn
            - (F.col("s_i").cast("double") / nn)
            * (F.col("s_j").cast("double") / nn),
            6,
        ).alias("cov"),
    )


def label_outliers(
    corpus: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    z_threshold: float = 2.0,
) -> DataFrame:
    """Embedding outlier flags: each vector's Euclidean distance to its
    label's centroid, z-scored against that label's own distance
    distribution — the "mislabeled / noisy embedding" pruning filter a
    training pipeline runs before fitting on labeled vectors (the
    vector-space twin of :func:`~ksql_query_tutorial_spark.operators.
    analytics.hourly_anomaly`).

    Plan shape: the centroid table is the :func:`label_centroids`
    aggregate (|labels × d| cells, broadcast), distances come from one
    (label, dim)-joined fold collapsing back to one row per vector
    (the only corpus-sized exchange), and the per-label mean/stddev of
    distances is |labels| rows broadcast again. A single-vector label
    has NULL stddev and flags false, never NULL.

    Returns ``vec_id, label, dist, z, is_outlier``.
    """
    exploded = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(label_col).alias("label"),
        F.posexplode(as_double(F.col(vec_col))).alias("dim", "x"),
    )
    centroids = exploded.groupBy("label", "dim").agg(
        F.avg("x").alias("c")
    )
    dists = (
        exploded.join(F.broadcast(centroids), ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(
            F.sqrt(F.sum((F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))))
            .alias("dist")
        )
    )
    stats = dists.groupBy("label").agg(
        F.avg("dist").alias("_mean"), F.stddev_samp("dist").alias("_std")
    )
    z = (F.col("dist") - F.col("_mean")) / F.col("_std")
    return (
        dists.join(F.broadcast(stats), "label")
        .select(
            "vec_id",
            "label",
            F.round("dist", 6).alias("dist"),
            F.round(z, 6).alias("z"),
            F.coalesce(F.abs(z) > F.lit(z_threshold), F.lit(False)).alias(
                "is_outlier"
            ),
        )
    )


def hybrid_search_rrf(
    docs: DataFrame,
    embeddings: DataFrame,
    query_terms: list[str],
    query_vec_id: int = 0,
    k: int = 20,
    c: int = 60,
) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion: a lexical TF-IDF
    top-k and an embedding-cosine top-k, fused as ``Σ 1/(c + rank)``
    (Cormack et al.'s RRF — the standard way modern search stacks
    combine BM25-ish and vector rankings without score calibration).

    Scale shape: each leg's top-k is a ``TakeOrderedAndProject``
    (distributed heap per partition, never a global sort); the only
    single-task windows run over the two ≤ k-row survivor lists to
    assign ranks, and the fusion is a full-outer join of those two
    bounded lists. The lexical postings touch only the query terms
    (pushed-down IN filter), and the query vector is one broadcast
    row. Deterministic throughout: ties break by id, and both legs'
    score expressions are the oracle-verified TF-IDF and cosine
    building blocks.

    Returns ``doc_id, lex_rank, vec_rank, rrf`` (ranks NULL on the
    leg that did not retrieve the doc; rrf rounded 6).
    """
    from ksql_query_tutorial_spark.operators.text import tokens

    postings = (
        docs.select(
            F.col("doc_id"), F.explode(tokens(F.col("text"))).alias("term")
        )
        .filter(F.col("term").isin(list(query_terms)))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dfreq = postings.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    n_docs = docs.groupBy().agg(F.count(F.lit(1)).alias("__n"))
    # Fixed-point lexical score: per-(doc, term) idf is quantized to
    # integer micro-units BEFORE the per-doc sum, so the aggregate is
    # a LONG sum — exact and order-independent. A double tf·idf sum
    # here is partial-aggregated in arbitrary partition order; two
    # docs within 1 ulp at the rank-k cutoff then flip membership
    # between runs (observed) and against the oracle.
    idf_q = F.floor(
        (
            F.log(
                (F.col("__n").cast("double") + F.lit(1.0))
                / (F.col("df").cast("double") + F.lit(1.0))
            )
            + F.lit(1.0)
        )
        * F.lit(1_000_000.0)
        + F.lit(0.5)
    ).cast("long")
    lex = (
        postings.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .groupBy("doc_id")
        .agg(F.sum(F.col("tf") * idf_q).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )
    w_lex = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    lex_top = lex.select(
        "doc_id", F.row_number().over(w_lex).alias("lex_rank")
    )

    qv = embeddings.filter(F.col("vec_id") == query_vec_id).select(
        as_double(F.col("embedding")).alias("qv")
    )
    scored = (
        embeddings.filter(F.col("vec_id") != query_vec_id)
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            (
                dot(as_double(F.col("embedding")), F.col("qv"))
                / (l2_norm(as_double(F.col("embedding"))) * l2_norm(F.col("qv")))
            ).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), F.col("vec_id").asc())
        .limit(k)
    )
    w_vec = Window.orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    vec_top = scored.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number().over(w_vec).alias("vec_rank"),
    )

    fused = lex_top.join(vec_top, "doc_id", "full_outer")
    leg = lambda r: F.coalesce(  # noqa: E731
        F.lit(1.0) / (F.lit(float(c)) + F.col(r).cast("double")), F.lit(0.0)
    )
    return fused.select(
        "doc_id",
        "lex_rank",
        "vec_rank",
        F.round(leg("lex_rank") + leg("vec_rank"), 6).alias("rrf"),
    )


def matryoshka_stats(
    df: DataFrame,
    half_dim: int = 32,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label energy retention of prefix-truncated embeddings — the
    Matryoshka-representation check (how much of each vector's squared
    norm the first ``half_dim`` dimensions keep) that decides whether
    the cheap truncated tier is usable for coarse ANN routing.

    Scale design: a narrow per-row JVM fold (sum of squares over the
    bounded embedding array — no Python, no shuffle) followed by one
    label-keyed rollup with map-side partials. Floats are cast to
    double before squaring so the fold is bit-portable across engines.

    Returns ``label, n_vecs, avg_keep, min_keep`` ordered by label,
    where ``keep`` = prefix energy / total energy per vector.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    full = F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x)
    half = F.aggregate(
        F.slice(v, 1, half_dim), F.lit(0.0), lambda a, x: a + x * x
    )
    keep = half / F.greatest(full, F.lit(1e-30))
    return (
        df.select(F.col(label_col).alias("label"), keep.alias("__keep"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.round(F.avg("__keep"), 6).alias("avg_keep"),
            F.round(F.min("__keep"), 6).alias("min_keep"),
        )
        .orderBy("label")
    )


PCA_POWER_ITERATIONS = 3


def pca_top_component(
    df: DataFrame,
    vec_col: str = "embedding",
    scale: int = COV_SCALE,
    iterations: int = PCA_POWER_ITERATIONS,
) -> DataFrame:
    """Dominant PCA component of the embedding column via power
    iteration over the exact integer covariance — iterative linear
    algebra that stays fully oracle-able.

    Builds on :func:`covariance_stats`: the covariance cells are
    order-independent int64 sums finished by one fixed-shape rounded
    double expression, so BOTH engines start the iteration from a
    bit-identical 64x64 matrix. The iteration itself
    (``v <- normalize(C v)`` from the uniform unit start, a fixed
    ``iterations`` count — the estimate's accuracy depends on the
    spectral gap, its PARITY does not) is plain bounded relational
    algebra: each step is a join + 64-way sum + a one-row norm cross
    join, macro-expandable to SQL CTEs the same way the BPE trainer
    unrolls its merge rounds.

    Scale design: the corpus is touched exactly once (the Arrow
    integer-Gram pass inside covariance_stats); everything after is
    arithmetic on ≤ d² = 4,096-row tables, localCheckpoint'd so the
    Gram pass never re-executes across iterations. Eigenvalue and
    trace are reported in unit² (micro-units² / scale²) with the
    explained-variance share.
    """
    cells = covariance_stats(df, vec_col=vec_col, scale=scale).localCheckpoint()
    c_full = cells.select("i", "j", "cov").unionAll(
        cells.filter(F.col("i") < F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "cov"
        )
    ).localCheckpoint()

    d = c_full.select(F.countDistinct("i")).collect()[0][0]  # bounded: dims
    # d == 0 (empty corpus) yields an empty v anyway; guard the start
    # literal so ANSI constant folding never sees 1/sqrt(0).
    start = 1.0 / float(d) ** 0.5 if d else 0.0
    v = c_full.select("i").distinct().select(
        F.col("i").alias("j"), F.lit(start).alias("v")
    )
    # r9: broadcast v explicitly in every matvec join — v is
    # dimension-bounded (≤ d rows at ANY corpus scale, the guide §3.1
    # "broadcast the side that fits" case), but as a checkpointed
    # ExistingRDD it has no size statistics, so the planner fell back
    # to a SortMergeJoin with two full exchanges per iteration
    # (plan-pinned in tests/test_plans.py).
    for _ in range(iterations):
        w = (
            c_full.join(F.broadcast(v), "j")
            .groupBy("i")
            .agg(F.sum(F.col("cov") * F.col("v")).alias("w"))
        )
        nrm = w.agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
        v = w.crossJoin(F.broadcast(nrm)).select(
            F.col("i").alias("j"), (F.col("w") / F.col("nrm")).alias("v")
        ).localCheckpoint(eager=False)

    w_final = (
        c_full.join(F.broadcast(v), "j")
        .groupBy("i")
        .agg(F.sum(F.col("cov") * F.col("v")).alias("w"))
    )
    lam = (
        w_final.join(F.broadcast(v), w_final.i == v.j)
        .agg(F.sum(F.col("v") * F.col("w")).alias("lam"))
    )
    trace = cells.filter(F.col("i") == F.col("j")).agg(
        F.sum("cov").alias("tr")
    )
    s2 = float(scale) * float(scale)
    return (
        v.crossJoin(F.broadcast(lam))
        .crossJoin(F.broadcast(trace))
        .select(
            "j",
            F.round("v", 6).alias("loading"),
            F.round(F.col("lam") / F.lit(s2), 6).alias("eigenvalue"),
            F.round(F.col("lam") / F.col("tr"), 6).alias("var_share"),
        )
        .orderBy("j")
    )


def pca_project(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = COV_SCALE,
    iterations: int = PCA_POWER_ITERATIONS,
) -> DataFrame:
    """Project every embedding onto the dominant PCA component — the
    apply step that turns :func:`pca_top_component`'s fit artifact
    into a per-row feature (1-D reduction / whitening first axis).

    Scale design: the fit side is the bounded power-iteration result
    (64 rows); it is collapsed to ONE array row with a bounded
    ``collect_list`` (sorted by dimension index, order-independent)
    and broadcast-cross-joined onto the corpus. The dot product runs
    JVM-side via ``zip_with`` + ``aggregate`` higher-order functions
    inside codegen — no Python stage, no 64x row explosion, no
    per-row join.
    """
    comp = pca_top_component(
        df, vec_col=vec_col, scale=scale, iterations=iterations
    )
    larr = comp.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("j", "loading"))),
            lambda s: s.loading,
        ).alias("__loadings")
    )
    proj = F.aggregate(
        F.zip_with(
            F.col(vec_col).cast("array<double>"),
            F.col("__loadings"),
            lambda x, l: x * l,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        df.select(id_col, vec_col)
        .crossJoin(F.broadcast(larr))
        .select(F.col(id_col), F.round(proj, 6).alias("proj"))
        .orderBy(id_col)
    )


def kmeans_two_pass(
    corpus: DataFrame,
    n_clusters: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = COV_SCALE,
) -> DataFrame:
    """One full Lloyd round of spherical k-means, oracle-exact: assign
    to the deterministic seed centroids (the ``n_clusters`` smallest
    ids, :func:`cluster_assign` semantics), recompute centroids as the
    member means, re-assign, and report per-cluster membership, mean
    cosine, and how many members the update moved — the minimal
    trainer a data-mixing pipeline iterates (the learned twin is
    :func:`spherical_kmeans_centroids`; this one is fully
    SQL-expressible so the DuckDB gate can value-hash the update
    step's arithmetic).

    Scale design: both assignment passes are broadcast nested loops
    over ≤``n_clusters`` centroid rows with ``max_by`` partials — the
    per-vector argmax never shuffles more than one row per vector.
    The centroid update quantizes member coordinates to ``scale``
    integers and sums EXACTLY per (cluster, dim) — the explode is
    collapsed map-side to ≤ clusters·dims partial cells, so the update
    exchange carries ~512 rows regardless of corpus size, and the
    single rounded division that finishes each coordinate is
    bit-portable. Mean cosines are averaged the same exact-integer
    way. Per-row float cosine itself is portable (same fold both
    engines, rounded 6dp — the cluster_assign precedent).

    Returns ``cluster_id, n_members, avg_cos, n_moved`` ordered by
    cluster id (clusters emptied by the update simply don't appear).
    """
    cent0, v = _seed_centroids(corpus, n_clusters, id_col, vec_col)

    def assign(vecs: DataFrame, cents: DataFrame) -> DataFrame:
        # passthrough columns (v, vn, and iteration-1's cid1 when
        # present) ride the per-vector group as first() — identical in
        # every candidate row, so no extra shuffle joins them back
        extras = [c for c in vecs.columns if c not in ("vec_id",)]
        scored = vecs.crossJoin(F.broadcast(cents)).withColumn(
            "cos", dot(F.col("v"), F.col("cv")) / (F.col("vn") * F.col("cn"))
        )
        return scored.groupBy("vec_id").agg(
            F.max_by(
                F.struct("cid", "cos"),
                F.struct(F.col("cos").alias("c"), (-F.col("cid")).alias("t")),
            ).alias("best"),
            *[F.first(c).alias(c) for c in extras],
        ).select(
            "vec_id", *extras,
            F.col("best.cid").alias("cid"),
            F.col("best.cos").alias("cos"),
        )

    # a1 feeds BOTH the centroid update and the re-assignment pass —
    # persist the corpus-sized assignment once (the standard Lloyd
    # iteration pattern; the LSH sketches do the same)
    a1 = cache.pin(assign(v, cent0))

    # centroid update: exact integer mean per (cluster, dim)
    qv = F.transform(
        F.col("v"),
        lambda x: F.floor(x * F.lit(float(scale)) + F.lit(0.5)).cast("long"),
    )
    cells = (
        a1.select(F.col("cid"), F.posexplode(qv).alias("dim", "q"))
        .groupBy("cid", "dim")
        .agg(
            F.sum("q").alias("s"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    coord = F.round(
        F.col("s").cast("double")
        / (F.col("n").cast("double") * F.lit(float(scale))),
        6,
    )
    cent1 = (
        cells.select("cid", "dim", coord.alias("x"))
        .groupBy("cid")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("dim", "x"))
                ),
                lambda s: s.getField("x"),
            ).alias("cv")
        )
        .withColumn("cn", F.greatest(l2_norm(F.col("cv")), F.lit(1e-30)))
    )

    moved = assign(
        a1.select("vec_id", "v", "vn", F.col("cid").alias("cid1")),
        cent1,
    )
    qcos = F.floor(
        F.col("cos") * F.lit(float(scale)) + F.lit(0.5)
    ).cast("long")
    return (
        moved.groupBy(F.col("cid").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.round(
                F.sum(qcos).cast("double")
                / (F.count(F.lit(1)).cast("double") * F.lit(float(scale))),
                6,
            ).alias("avg_cos"),
            F.sum(
                F.when(F.col("cid") != F.col("cid1"), 1).otherwise(0)
            ).cast("long").alias("n_moved"),
        )
        .orderBy("cluster_id")
    )


def pairwise_cosine_histogram(
    corpus: DataFrame,
    sample_cap: int = 200,
    bin_width: float = 0.1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Pairwise-cosine distribution over a fixed-size corpus slice —
    the calibration report that sizes ANN thresholds and LSH plane
    counts (where does the true-neighbor mass sit relative to the
    background?).

    Scale design: the slice is ``id < sample_cap`` (deterministic,
    pushed to the scan via min/max pruning — the same fixed-size-eval
    move as dedup_minhash_eval), so the all-pairs self-join is capped
    at sample_cap² rows at ANY corpus scale; cosines are per-row
    IEEE folds (portable), floored into ``bin_width`` bins with the
    floor taken on the ROUNDED cosine so bin edges are engine-stable.

    Returns ``cos_bin (lower edge, rounded 1), n_pairs, share
    (rounded 6)`` ordered by bin.
    """
    v = corpus.filter(F.col(id_col) < sample_cap).select(
        F.col(id_col).alias("id"),
        as_double(F.col(vec_col)).alias("v"),
    ).withColumn("vn", F.greatest(l2_norm(F.col("v")), F.lit(1e-30)))
    a = v.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"),
        F.col("vn").alias("na"),
    )
    b = v.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"),
        F.col("vn").alias("nb"),
    )
    pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    cos = F.round(
        dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
    )
    cos_bin = F.round(
        F.floor(cos / F.lit(bin_width)) * F.lit(bin_width), 1
    )
    binned = pairs.select(cos_bin.alias("cos_bin")).groupBy("cos_bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    total = binned.agg(F.sum("n_pairs").alias("__t"))
    return (
        binned.crossJoin(F.broadcast(total))
        .select(
            "cos_bin",
            "n_pairs",
            F.round(
                F.col("n_pairs").cast("double") / F.col("__t").cast("double"),
                6,
            ).alias("share"),
        )
        .orderBy("cos_bin")
    )


def centroid_drift(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    id_col: str = "vec_id",
    scale: int = COV_SCALE,
) -> DataFrame:
    """Split-half centroid stability per label — the embedding-space
    drift monitor: quantize vectors to integer micro-units, split each
    label's vectors into even/odd id halves, and compare the two
    half-centroids by L2 distance and cosine. Stable, well-sampled
    labels sit at distance ≈ 0 / cosine ≈ 1; a drifting or
    under-sampled label splits apart. (Run across snapshots instead of
    id parity by mapping the snapshot id into ``id_col``.)

    Determinism design: the covariance_stats move — per-dim sums are
    exact INT64 over ``floor(x·scale + 0.5)`` micro-units, so both
    engines derive the identical double centroids; the distance and
    cosine are fixed-shape expressions over the BOUNDED per-label
    64-dim cell table.

    Plan shape: posexplode → hash aggregate keyed (label, parity,
    dim). Map-side partials collapse every task to its bounded cell
    set before the exchange, so the shuffle carries |labels|·2·d
    cells per task, not corpus rows. One more bounded rollup per
    label finishes; no joins, no windows.

    Returns ``label, n_even, n_odd, centroid_l2, centroid_cosine``
    (rounded 6, original units) ordered by label.
    """
    q = F.floor(F.col("x") * scale + F.lit(0.5)).cast("long")
    cells = (
        df.select(
            F.col(label_col).alias("label"),
            F.pmod(F.col(id_col), F.lit(2)).cast("int").alias("par"),
            F.posexplode(F.col(vec_col)).alias("dim", "x"),
        )
        .select("label", "par", "dim", q.alias("q"))
        .groupBy("label", "dim")
        .agg(
            F.sum(F.when(F.col("par") == 0, F.col("q")).otherwise(0))
            .alias("s0"),
            F.sum(F.when(F.col("par") == 0, 1).otherwise(0)).alias("n0"),
            F.sum(F.when(F.col("par") == 1, F.col("q")).otherwise(0))
            .alias("s1"),
            F.sum(F.when(F.col("par") == 1, 1).otherwise(0)).alias("n1"),
        )
    )
    sc = float(scale)
    c0 = F.col("s0").cast("double") / (F.col("n0").cast("double") * sc)
    c1 = F.col("s1").cast("double") / (F.col("n1").cast("double") * sc)
    per_dim = cells.filter((F.col("n0") > 0) & (F.col("n1") > 0)).select(
        "label",
        "n0",
        "n1",
        c0.alias("c0"),
        c1.alias("c1"),
    )
    return (
        per_dim.groupBy("label")
        .agg(
            F.max("n0").cast("long").alias("n_even"),
            F.max("n1").cast("long").alias("n_odd"),
            F.sqrt(
                F.sum((F.col("c0") - F.col("c1")) * (F.col("c0") - F.col("c1")))
            ).alias("__l2"),
            (
                F.sum(F.col("c0") * F.col("c1"))
                / F.sqrt(
                    F.sum(F.col("c0") * F.col("c0"))
                    * F.sum(F.col("c1") * F.col("c1"))
                )
            ).alias("__cos"),
        )
        .select(
            "label",
            "n_even",
            "n_odd",
            F.round("__l2", 6).alias("centroid_l2"),
            F.round("__cos", 6).alias("centroid_cosine"),
        )
        .orderBy("label")
    )


def centroid_confusion(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    id_col: str = "vec_id",
    scale: int = COV_SCALE,
) -> DataFrame:
    """Nearest-centroid classification eval with a leakage-free parity
    split: per-label centroids fit on EVEN ids, ODD ids assigned to
    the nearest centroid by cosine, and the (true, predicted)
    confusion matrix reported — the quick "are these labels even
    separable in embedding space" readout before training anything.

    Determinism design: centroids come from exact INT64 micro-unit
    sums (the centroid_drift move) and are RE-QUANTIZED to micro-unit
    integers, test vectors are quantized the same way, so every dot
    product and norm is an exact integer in both engines — cosine
    argmax ties break to the smallest label. No float summation-order
    hazard anywhere (the similarity_topk_q8 discipline).

    Scale design: centroids are a broadcast |labels|·d table; the
    assignment is one narrow pass over test vectors with the argmax
    as min(struct(−cos, label)) per row; the confusion rollup is keyed
    on the bounded label² domain.

    Returns ``true_label, pred_label, n, row_share`` (rounded 6)
    ordered by (true, pred).
    """
    q = F.floor(F.col("x") * scale + F.lit(0.5)).cast("long")
    cents = (
        df.filter(F.pmod(F.col(id_col), F.lit(2)) == 0)
        .select(
            F.col(label_col).alias("clabel"),
            F.posexplode(F.col(vec_col)).alias("dim", "x"),
        )
        .select("clabel", "dim", q.alias("qv"))
        .groupBy("clabel", "dim")
        .agg(F.sum("qv").alias("s"), F.count(F.lit(1)).alias("n"))
        .select(
            "clabel",
            "dim",
            # centroid re-quantized to micro-units: exact in both engines
            F.floor(
                F.col("s").cast("double") / F.col("n").cast("double") + 0.5
            ).cast("long").alias("cq"),
        )
        .groupBy("clabel")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("dim", "cq"))
                ),
                lambda s: s["cq"],
            ).alias("cvec")
        )
    )
    test = df.filter(F.pmod(F.col(id_col), F.lit(2)) == 1).select(
        F.col(id_col).alias("vid"),
        F.col(label_col).alias("true_label"),
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(x * scale + F.lit(0.5)).cast("long"),
        ).alias("tq"),
    )
    dot = F.aggregate(
        F.zip_with("tq", "cvec", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    nrm = lambda c: F.aggregate(  # noqa: E731
        F.transform(c, lambda v: v * v),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    scored = (
        test.crossJoin(F.broadcast(cents))
        .select(
            "vid",
            "true_label",
            "clabel",
            (
                dot.cast("double")
                / F.sqrt(nrm(F.col("tq")).cast("double")
                         * nrm(F.col("cvec")).cast("double"))
            ).alias("cos"),
        )
    )
    best = (
        scored.groupBy("vid", "true_label")
        .agg(
            F.min(
                F.struct((-F.col("cos")).alias("nc"),
                         F.col("clabel").alias("lab"))
            ).alias("__b")
        )
        .select("vid", "true_label", F.col("__b.lab").alias("pred_label"))
    )
    conf = best.groupBy("true_label", "pred_label").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = conf.groupBy("true_label").agg(F.sum("n").alias("__t"))
    return (
        conf.join(F.broadcast(tot), "true_label")
        .select(
            "true_label",
            "pred_label",
            "n",
            F.round(
                F.col("n").cast("double") / F.col("__t").cast("double"), 6
            ).alias("row_share"),
        )
        .orderBy("true_label", "pred_label")
    )


def quantization_error(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector int8 quantization fidelity: the cosine between each
    original vector and its :func:`quantize_embeddings` codes — the
    acceptance gate run before flipping a billion-vector index to the
    SQ8 tier (a vector whose codes point somewhere else is a recall
    hole no index parameter will fix). Scale cancels in cosine, so the
    metric needs no dequantization.

    Determinism design (the similarity_topk_q8 move): the original is
    micro-quantized per ELEMENT (floor(v·1e6 + 0.5) — int64), the
    codes are int8 by construction, so dot and both norms are exact
    integer folds (order-independent; bounded by 127·10⁶·dim ≪ 2⁶³)
    and the cosine is one fixed-shape double expression any engine
    reproduces bit-for-bit.

    Scale design: a pure narrow projection — per-row array HOFs inside
    codegen, ZERO shuffles, output one row per vector.

    Returns ``id, q8_cosine`` (rounded 6), ordered by id.
    """
    src = df.select(
        F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v")
    ).withColumn("__mxs", F.array_repeat(mx_over("v"), F.size("v")))
    zero = F.lit(0).cast("long")
    # max rides as a zipped array, not a scalar alias: see
    # quantize_embeddings' plan note (per-element array_max inlining)
    withq = src.select(
        "id",
        F.zip_with(
            "v", "__mxs",
            lambda x, m: F.floor(x * 127.0 / m + 0.5).cast("long"),
        ).alias("__q"),
        F.transform(
            F.col("v"),
            lambda x: F.floor(x * 1e6 + F.lit(0.5)).cast("long"),
        ).alias("__vq"),
    )
    dot = F.aggregate(
        F.zip_with("__vq", "__q", lambda a, b: a * b), zero,
        lambda acc, x: acc + x,
    )
    nv = F.aggregate(
        F.transform("__vq", lambda x: x * x), zero, lambda acc, x: acc + x
    )
    nq = F.aggregate(
        F.transform("__q", lambda x: x * x), zero, lambda acc, x: acc + x
    )
    cos = dot.cast("double") / (
        F.sqrt(F.greatest(nv, F.lit(1)).cast("double"))
        * F.sqrt(F.greatest(nq, F.lit(1)).cast("double"))
    )
    return withq.select(
        "id", F.round(cos, 6).alias("q8_cosine")
    ).orderBy("id")


def silhouette(
    corpus: DataFrame,
    n_clusters: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cluster silhouette audit under the deterministic
    nearest-centroid assignment (:func:`cluster_assign`'s fixed
    centroids — the k smallest ids; zero RNG): for each vector,
    ``a`` = cosine distance to its own centroid, ``b`` = distance to
    the nearest OTHER centroid, ``s = (b-a)/max(a,b)`` — the standard
    separation score (simplified/centroid form, the O(n·k) variant
    production uses; the textbook O(n²) pairwise form is a
    scale-killer by construction). Clusters with mean ``s`` near 0
    overlap their neighbor — the "merge or re-train" signal an
    embedding-index health check alerts on.

    Scale design: same bounded plan as ``cluster_assign`` — k
    centroids collected once and broadcast; the nested-loop join's
    k-per-row fan-out collapses back to one k-element struct array per
    vector by map-side ``collect_list`` partials BEFORE the single
    exchange (k = cluster count, a constant — the array is
    size-bounded, never data-sized). Per-cluster means
    aggregate micro-unit integers (``floor(s·1e6 + 0.5)``): exact
    order-independent sums (decimal partials), so the oracle's
    parallel scan reproduces the hash bit-for-bit (the
    ``_ols_tail_sql`` precedent).

    Returns one row per cluster: ``cluster_id, n_vectors, mean_sil,
    mean_a, mean_b`` (means rounded 6).
    """
    cent, v = _seed_centroids(corpus, n_clusters, id_col, vec_col)
    scored = v.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "cid",
        (dot(F.col("v"), F.col("cv")) / (F.col("vn") * F.col("cn")))
        .alias("cos"),
    )
    # top-2 cosines per vector in one bounded pass: collect the k
    # (cos, -cid, cid) structs (k is the CLUSTER count — constant,
    # never data-sized) and sort descending, so [0] is the argmax with
    # ties to the smaller cid (the cluster_assign convention) and [1]
    # the nearest-other runner-up
    per_vec = scored.groupBy("vec_id").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("cos").alias("c"),
                    (-F.col("cid")).alias("t"),
                    F.col("cid").alias("cid"),
                )
            ),
            asc=False,
        ).alias("ranked")
    )
    a = F.lit(1.0) - F.col("ranked")[0]["c"]
    b = F.lit(1.0) - F.col("ranked")[1]["c"]
    s = F.when(
        F.greatest(a, b) > 0, (b - a) / F.greatest(a, b)
    ).otherwise(F.lit(0.0))
    q = lambda c: F.floor(c * F.lit(10**6) + F.lit(0.5)).cast("long")  # noqa: E731
    per_vec_q = per_vec.select(
        F.col("ranked")[0]["cid"].alias("cluster_id"),
        q(s).alias("__sq"),
        q(a).alias("__aq"),
        q(b).alias("__bq"),
    )
    n = F.col("n_vectors").cast("double")
    return (
        per_vec_q.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.sum("__sq").cast("double").alias("__ss"),
            F.sum("__aq").cast("double").alias("__sa"),
            F.sum("__bq").cast("double").alias("__sb"),
        )
        .select(
            "cluster_id",
            "n_vectors",
            F.round(F.col("__ss") / n / 1e6, 6).alias("mean_sil"),
            F.round(F.col("__sa") / n / 1e6, 6).alias("mean_a"),
            F.round(F.col("__sb") / n / 1e6, 6).alias("mean_b"),
        )
        .orderBy("cluster_id")
    )
