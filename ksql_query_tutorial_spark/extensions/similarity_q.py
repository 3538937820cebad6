"""Similarity / ANN / embedding extension queries (top-k, LSH/IVF/PQ, k-means, PCA, hybrid search, recall evals).

Split from the former extensions.py monolith (pure move; VERDICT r6 #3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ksql_query_tutorial_spark.operators import (
    similarity,
)
from ksql_query_tutorial_spark.session import local_frame
from ksql_query_tutorial_spark.tables import load

from ._registry import EXTENSION_ORACLES, query
from ._shared import *  # noqa: F401,F403 — shared constants/SQL fragments
from .dedup_q import dedup_embedding_lsh


# --------------------------------------------------------------- similarity

@query(oracle="""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        q AS (SELECT * FROM e WHERE vec_id < 10),
        s AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                     list_cosine_similarity(q.v, e.v) AS c,
                     row_number() OVER (PARTITION BY q.vec_id
                       ORDER BY list_cosine_similarity(q.v, e.v) DESC, e.vec_id) AS rank
              FROM q JOIN e ON q.vec_id != e.vec_id)
        SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, ROUND(c, 6) AS cosine
        FROM s WHERE rank <= 5 ORDER BY query_id, rank
    """)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    return similarity.brute_force_topk(e, queries, k=5)


def _ann_lsh_oracle_sql(n_rows: int = 500, dim: int = 64) -> str:
    """DuckDB replica of :func:`similarity.lsh_ann_topk` for the oracle
    fixture: the hyperplanes are DATA-INDEPENDENT seeded constants, so
    the whole pipeline — sign-bit bucket codes, Hamming-1 probe buckets,
    exact cosine ranking within candidates — is expressible as SQL with
    the plane vectors inlined as literals. ``n_rows`` must match the
    corpus size the driver runs the oracle at (sf0.01 → 500) so the
    plane count agrees with the footer-derived one in ann_lsh_topk."""
    import math

    from ksql_query_tutorial_spark.operators.similarity import hyperplanes

    n_planes = max(2, min(16, int(math.log2(max(n_rows, 32) / 16))))
    planes = hyperplanes(dim, n_planes, seed=42)

    def bucket(col: str) -> str:
        bits = [
            f"(CASE WHEN list_dot_product({col}, "
            f"[{', '.join(repr(x) for x in p)}]) >= 0 THEN {1 << i} ELSE 0 END)"
            for i, p in enumerate(planes)
        ]
        return "(" + " + ".join(bits) + ")"

    probes = ", ".join(f"xor(qbucket, {1 << i})" for i in range(n_planes))
    return f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        c AS (SELECT vec_id AS nid, v AS cv, {bucket('v')} AS bucket FROM e),
        q0 AS (SELECT vec_id AS qid, v AS qv, {bucket('v')} AS qbucket
               FROM e WHERE vec_id < 10),
        q AS (SELECT qid, qv, unnest([qbucket, {probes}]) AS pb FROM q0),
        s AS (SELECT q.qid, c.nid,
                     list_cosine_similarity(q.qv, c.cv) AS cos,
                     row_number() OVER (PARTITION BY q.qid
                       ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.nid)
                       AS rank
              FROM q JOIN c ON q.pb = c.bucket AND q.qid != c.nid)
        SELECT qid AS query_id, nid AS neighbor_id,
               CAST(rank AS INT) AS rank, ROUND(cos, 6) AS cosine
        FROM s WHERE rank <= 5 ORDER BY query_id, rank
    """


@query(oracle=_ann_lsh_oracle_sql())
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plane count scales with corpus size (≈ log2(n/16)) so buckets
    hold ~16 vectors at any sf — the knob that keeps candidate sets
    bounded at 100 TB while preserving recall at test scale. ``n`` comes
    from parquet FOOTER statistics, not a count() action: building this
    query triggers no Spark job (pinned by a unit test).
    """
    import math

    from ksql_query_tutorial_spark.tables import parquet_row_count

    e = load(spark, sf_dir, "embeddings")
    n = parquet_row_count(f"{sf_dir}/embeddings.parquet")
    n_planes = max(2, min(16, int(math.log2(max(n, 32) / 16))))
    queries = e.filter(F.col("vec_id") < 10)
    return similarity.lsh_ann_topk(e, queries, k=5, n_planes=n_planes)


@query()
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only check — recall < 1 by construction (nprobe=4 of 16
    trained centroid lists; measured ~0.9 on the fixture, so no exact
    oracle can hash-match), and the centroids are learned driver-side
    (k-means on a bounded sample), so unlike the seeded LSH planes they
    cannot be inlined into independent SQL. Quality is pinned by
    test_ivf_topk_structure_and_recall instead."""
    e = load(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    return similarity.ivf_topk(e, queries, k=5, n_centroids=16, nprobe=4)


# ------------------------------------------------- int8 quantized search

_QUANT = """
    v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
    m AS (SELECT vec_id, v,
                 GREATEST(list_max(list_transform(v, x -> abs(x))), 1e-30) AS mx
          FROM v),
    q AS (SELECT vec_id,
                 list_transform(v, x -> CAST(FLOOR(x * 127.0 / mx + 0.5) AS INT)) AS qvec,
                 ROUND(mx / 127.0, 9) AS scale
          FROM m)
"""


@query(oracle=f"""
    WITH {_QUANT}
    SELECT vec_id AS id, array_to_string(qvec, ',') AS qcsv, scale
    FROM q ORDER BY id
""")
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embeddings table
    (id, codes, scale) — the 4x-smaller storage tier for ANN at scale.
    The declared query serializes the code array to a CSV string: the
    driver's value-hash compares sorted scalar CSV, and engines
    disagree on array-literal formatting ("[1 2]" vs "[1, 2]")."""
    e = load(spark, sf_dir, "embeddings")
    return similarity.quantize_embeddings(e).select(
        "id", F.concat_ws(",", "qvec").alias("qcsv"), "scale"
    )


SIM_Q8_K = 5


@query(oracle=f"""
    WITH {_QUANT},
    n AS (SELECT vec_id, qvec,
                 CAST(list_sum(list_transform(qvec, x -> CAST(x * x AS BIGINT)))
                      AS BIGINT) AS nsq
          FROM q),
    qs AS (SELECT * FROM n WHERE vec_id < 10),
    sc AS (SELECT qs.vec_id AS query_id, c.vec_id AS neighbor_id,
                  CAST(list_sum(list_transform(range(1, len(c.qvec) + 1),
                       i -> CAST(c.qvec[i] * qs.qvec[i] AS BIGINT))) AS DOUBLE)
                  / (sqrt(CAST(GREATEST(c.nsq, 1) AS DOUBLE))
                     * sqrt(CAST(GREATEST(qs.nsq, 1) AS DOUBLE))) AS qcosine
           FROM n c, qs WHERE c.vec_id <> qs.vec_id),
    r AS (SELECT query_id, neighbor_id, qcosine,
                 row_number() OVER (PARTITION BY query_id
                     ORDER BY qcosine DESC, neighbor_id) AS rank
          FROM sc)
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
           ROUND(qcosine, 6) AS qcosine
    FROM r WHERE rank <= {SIM_Q8_K} ORDER BY query_id, rank
""")
def similarity_topk_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k over the int8-quantized codes: exact
    integer dots + a fixed-shape double expression make ranks AND
    scores bit-reproducible in any engine — an oracle-checkable search
    over an approximate representation."""
    e = load(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    return similarity.quantized_topk(e, queries, k=SIM_Q8_K)


@query()
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: corpus compressed to m=8 one-byte
    codes per vector (32x smaller than float32), asymmetric
    lookup-table scoring, local top-k per partition. Approximate by
    construction (codes quantize the corpus side) — rows-only driver
    check; recall vs the exact brute force is pinned by
    tests/test_extensions.py::test_pq_topk_structure_and_recall."""
    e = load(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    return similarity.pq_topk(e, queries, k=5)


# ------------------------------------------- event analytics / clustering

N_ASSIGN_CLUSTERS = 8


@query(oracle=f"""
    WITH c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
               FROM embeddings ORDER BY vec_id LIMIT {N_ASSIGN_CLUSTERS}),
    -- embedding::DOUBLE[] BEFORE the cosine: on raw FLOAT[] lists DuckDB
    -- computes (and ROUNDs) in float32, which both drifts from Spark's
    -- double arithmetic and CSV-prints differently (VERDICT r5 #3); the
    -- driver-green dedup_embedding / similarity_topk oracles set the
    -- pattern.
    s AS (SELECT e.vec_id, c.cid,
                 list_cosine_similarity(e.embedding::DOUBLE[], c.cv) AS cos
          FROM embeddings e CROSS JOIN c),
    r AS (SELECT vec_id, cid, cos,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY cos DESC, cid) AS rn
          FROM s)
    SELECT vec_id, CAST(cid AS BIGINT) AS cluster_id,
           round(cos, 6) AS cosine
    FROM r WHERE rn = 1 ORDER BY vec_id
""")
def embedding_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic nearest-centroid assignment (fixed centroids = the
    k smallest vec_ids): the oracle-exact twin of the learned IVF
    assignment path — same broadcast + argmax-cosine plan shape, zero
    RNG."""
    e = load(spark, sf_dir, "embeddings")
    return similarity.cluster_assign(e, n_clusters=N_ASSIGN_CLUSTERS)


@query(oracle="""
    WITH x AS (SELECT label,
                      generate_subscripts(embedding, 1) - 1 AS dim,
                      unnest(CAST(embedding AS DOUBLE[])) AS v
               FROM embeddings)
    SELECT label, CAST(dim AS INT) AS dim,
           round(avg(v), 6) AS mean_val,
           count(*) AS n_vectors
    FROM x GROUP BY 1, 2 ORDER BY 1, 2
""")
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding, long format (label, dim, mean_val,
    n_vectors) — class centroids for labeled-embedding audits."""
    e = load(spark, sf_dir, "embeddings")
    return similarity.label_centroids(e)


# ----------------------------------------------- embedding covariance

@query(oracle="""
    WITH q AS (SELECT vec_id,
                      generate_subscripts(embedding, 1) - 1 AS i,
                      CAST(floor(CAST(unnest(CAST(embedding AS DOUBLE[]))
                                      AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
                        AS qi
               FROM embeddings),
    cell AS (SELECT a.i AS i, b.i AS j,
                    CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(a.qi) AS BIGINT) AS s_i,
                    CAST(sum(b.qi) AS BIGINT) AS s_j,
                    CAST(sum(a.qi * b.qi) AS BIGINT) AS s_qq
             FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.i <= b.i
             GROUP BY 1, 2)
    SELECT i, j, n, s_i, s_j, s_qq,
           ROUND(CAST(s_qq AS DOUBLE) / CAST(n AS DOUBLE)
                 - (CAST(s_i AS DOUBLE) / CAST(n AS DOUBLE))
                 * (CAST(s_j AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS cov
    FROM cell ORDER BY i, j
""")
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer covariance statistics over the embedding column —
    the whitening/PCA fit artifact as order-independent int64 sums
    (one Arrow-batched integer Gram matmul per batch, one bounded
    exchange). See similarity.covariance_stats."""
    e = load(spark, sf_dir, "embeddings")
    return similarity.covariance_stats(e)


# ----------------------------------------------- embedding outliers

@query(oracle="""
    WITH x AS (SELECT vec_id, label,
                      generate_subscripts(embedding, 1) - 1 AS dim,
                      CAST(unnest(CAST(embedding AS DOUBLE[])) AS DOUBLE) AS v
               FROM embeddings),
    c AS (SELECT label, dim, avg(v) AS c FROM x GROUP BY 1, 2),
    d AS (SELECT vec_id, x.label,
                 sqrt(sum((v - c.c) * (v - c.c))) AS dist
          FROM x JOIN c ON x.label = c.label AND x.dim = c.dim
          GROUP BY 1, 2),
    s AS (SELECT label, avg(dist) AS m, stddev_samp(dist) AS sd
          FROM d GROUP BY 1)
    SELECT vec_id, d.label,
           ROUND(dist, 6) AS dist,
           ROUND((dist - s.m) / s.sd, 6) AS z,
           COALESCE(abs((dist - s.m) / s.sd) > 2.0, FALSE) AS is_outlier
    FROM d JOIN s ON d.label = s.label ORDER BY vec_id
""")
def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-to-label-centroid outlier flags over the embedding
    table — the labeled-embedding pruning filter. See
    similarity.label_outliers."""
    e = load(spark, sf_dir, "embeddings")
    return similarity.label_outliers(e)


# ----------------------------------------------- hybrid retrieval

HYBRID_TERMS = ("spark", "table", "join")


HYBRID_QVEC = 0


HYBRID_K = 20


HYBRID_C = 60


_HT = ", ".join(f"'{t}'" for t in HYBRID_TERMS)


@query(oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
    tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           FROM tok WHERE term IN ({_HT}) GROUP BY 1, 2),
    dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS c FROM documents),
    lex AS (SELECT doc_id,
                   sum(tf * CAST(floor(
                       (ln(((SELECT c FROM n) + 1.0) / (df + 1.0)) + 1.0)
                       * 1000000 + 0.5) AS BIGINT)) AS score
            FROM tf JOIN dfq USING (term) GROUP BY 1),
    lex_top AS (SELECT * FROM (
                    SELECT doc_id,
                           CAST(row_number() OVER
                                (ORDER BY score DESC, doc_id) AS INT)
                             AS lex_rank
                    FROM lex) WHERE lex_rank <= {HYBRID_K}),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    qv AS (SELECT v FROM e WHERE vec_id = {HYBRID_QVEC}),
    vec AS (SELECT vec_id,
                   list_cosine_similarity(v, (SELECT v FROM qv)) AS cos
            FROM e WHERE vec_id <> {HYBRID_QVEC}),
    vec_top AS (SELECT * FROM (
                    SELECT vec_id AS doc_id,
                           CAST(row_number() OVER
                                (ORDER BY cos DESC, vec_id) AS INT)
                             AS vec_rank
                    FROM vec) WHERE vec_rank <= {HYBRID_K})
    SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
           l.lex_rank, v.vec_rank,
           ROUND(COALESCE(1.0 / ({HYBRID_C} + l.lex_rank), 0)
                 + COALESCE(1.0 / ({HYBRID_C} + v.vec_rank), 0), 6) AS rrf
    FROM lex_top l FULL JOIN vec_top v ON l.doc_id = v.doc_id
    ORDER BY doc_id
""")
def hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: lexical TF-IDF top-k + embedding-cosine top-k
    fused by reciprocal rank (RRF) — both legs are TakeOrdered top-k,
    ranks assigned over the two bounded survivor lists only. See
    similarity.hybrid_search_rrf.

    Scan shape (r7 measured-kept): the lexical leg's tf/df/N branches
    re-scan documents with heavy pruning; persisting the table
    measured 1.01×/1.03× (sf0.1/sf1, STRESS.md r7) — flat, so the
    cache-free shape stays."""
    d = load(spark, sf_dir, "documents")
    e = load(spark, sf_dir, "embeddings")
    return similarity.hybrid_search_rrf(
        d, e, list(HYBRID_TERMS),
        query_vec_id=HYBRID_QVEC, k=HYBRID_K, c=HYBRID_C,
    )


MATRYOSHKA_HALF_DIM = 32


@query(oracle=f"""
    WITH v AS (SELECT label,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    r AS (SELECT label,
                 list_sum(list_transform(v[1:{MATRYOSHKA_HALF_DIM}],
                                         x -> x * x))
                   / GREATEST(list_sum(list_transform(v, x -> x * x)),
                              1e-30) AS keep
          FROM v)
    SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
           ROUND(avg(keep), 6) AS avg_keep,
           ROUND(min(keep), 6) AS min_keep
    FROM r GROUP BY label ORDER BY label
""")
def embedding_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label energy retention of 32-of-64-dim truncated embeddings
    (Matryoshka tiering check). See similarity.matryoshka_stats."""
    e = load(spark, sf_dir, "embeddings")
    return similarity.matryoshka_stats(e, half_dim=MATRYOSHKA_HALF_DIM)


def _pca_power_oracle_sql(iterations: int, scale: int = 10**6) -> str:
    """Macro-expand the power iteration into CTEs (the BPE-trainer
    unrolling move): v0 is the uniform unit vector; each round is a
    matvec + norm CTE pair over the mirrored covariance cells. Every CTE
    is MATERIALIZED: DuckDB inlines a CTE at each reference otherwise,
    recomputing the chain below each round."""
    its = []
    prev = "v0"
    for t in range(1, iterations + 1):
        its.append(
            f"w{t} AS MATERIALIZED (SELECT c.i AS j, sum(c.cov * v.v) AS w\n"
            f"          FROM cfull c JOIN {prev} v ON c.j = v.j GROUP BY 1),\n"
            f"n{t} AS MATERIALIZED (SELECT sqrt(sum(w * w)) AS nrm FROM w{t}),\n"
            f"v{t} AS MATERIALIZED (SELECT j, w / nrm AS v FROM w{t}, n{t})"
        )
        prev = f"v{t}"
    unrolled = ",\n    ".join(its)
    s2 = float(scale) * float(scale)
    return f"""
    WITH q AS MATERIALIZED (SELECT vec_id,
                      generate_subscripts(embedding, 1) - 1 AS i,
                      CAST(floor(CAST(unnest(CAST(embedding AS DOUBLE[]))
                                      AS DOUBLE) * {scale} + 0.5) AS BIGINT)
                        AS qi
               FROM embeddings),
    cell AS MATERIALIZED (SELECT a.i AS i, b.i AS j,
                    CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(a.qi) AS BIGINT) AS s_i,
                    CAST(sum(b.qi) AS BIGINT) AS s_j,
                    CAST(sum(a.qi * b.qi) AS BIGINT) AS s_qq
             FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.i <= b.i
             GROUP BY 1, 2),
    cov AS MATERIALIZED (SELECT i, j,
                   ROUND(CAST(s_qq AS DOUBLE) / CAST(n AS DOUBLE)
                         - (CAST(s_i AS DOUBLE) / CAST(n AS DOUBLE))
                         * (CAST(s_j AS DOUBLE) / CAST(n AS DOUBLE)), 6)
                     AS cov
            FROM cell),
    cfull AS MATERIALIZED (SELECT i, j, cov FROM cov
              UNION ALL
              SELECT j AS i, i AS j, cov FROM cov WHERE i < j),
    dims AS MATERIALIZED (SELECT CAST(count(DISTINCT i) AS DOUBLE) AS d FROM cfull),
    v0 AS MATERIALIZED (SELECT DISTINCT i AS j, 1.0 / sqrt(d) AS v FROM cfull, dims),
    {unrolled},
    wf AS MATERIALIZED (SELECT c.i AS j, sum(c.cov * v.v) AS w
           FROM cfull c JOIN {prev} v ON c.j = v.j GROUP BY 1),
    lam AS MATERIALIZED (SELECT sum(v.v * w.w) AS lam
            FROM {prev} v JOIN wf w ON v.j = w.j),
    tr AS MATERIALIZED (SELECT sum(cov) AS tr FROM cov WHERE i = j)
    SELECT v.j, ROUND(v.v, 6) AS loading,
           ROUND(lam / {s2}, 6) AS eigenvalue,
           ROUND(lam / tr, 6) AS var_share
    FROM {prev} v, lam, tr ORDER BY v.j
"""


@query(oracle=_pca_power_oracle_sql(similarity.PCA_POWER_ITERATIONS))
def embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant PCA component via power iteration over the exact
    integer covariance. See similarity.pca_top_component."""
    e = load(spark, sf_dir, "embeddings")
    return similarity.pca_top_component(e)


@query(oracle=f"""
    WITH loadings AS ({_pca_power_oracle_sql(similarity.PCA_POWER_ITERATIONS)}),
    e AS (SELECT vec_id,
                 generate_subscripts(embedding, 1) - 1 AS i,
                 CAST(unnest(CAST(embedding AS DOUBLE[])) AS DOUBLE) AS x
          FROM embeddings)
    SELECT e.vec_id, ROUND(sum(e.x * l.loading), 6) AS proj
    FROM e JOIN loadings l ON e.i = l.j
    GROUP BY 1 ORDER BY 1
""")
def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector projection onto the dominant PCA component (broadcast
    loadings, zip_with/aggregate dot product). See
    similarity.pca_project."""
    e = load(spark, sf_dir, "embeddings")
    return similarity.pca_project(e)


KMEANS_K = 8


@query(oracle=f"""
    WITH c0 AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
                ORDER BY vec_id LIMIT {KMEANS_K}),
    s1 AS (SELECT e.vec_id, e.embedding, c0.cid,
                  list_cosine_similarity(e.embedding, c0.cv) AS cos
           FROM embeddings e CROSS JOIN c0),
    a1 AS (SELECT vec_id, embedding, cid FROM (
               SELECT *, row_number() OVER (PARTITION BY vec_id
                         ORDER BY cos DESC, cid) AS rn FROM s1)
           WHERE rn = 1),
    q AS (SELECT cid,
                 generate_subscripts(embedding, 1) - 1 AS dim,
                 CAST(floor(CAST(unnest(CAST(embedding AS DOUBLE[]))
                                 AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
                   AS qv
          FROM a1),
    cell AS (SELECT cid, dim,
                    CAST(sum(qv) AS BIGINT) AS s,
                    CAST(count(*) AS BIGINT) AS n
             FROM q GROUP BY 1, 2),
    c1 AS (SELECT cid,
                  list(ROUND(CAST(s AS DOUBLE)
                             / (CAST(n AS DOUBLE) * 1000000), 6)
                       ORDER BY dim) AS cv
           FROM cell GROUP BY 1),
    s2 AS (SELECT a1.vec_id, a1.cid AS cid1, c1.cid,
                  list_cosine_similarity(
                      CAST(a1.embedding AS DOUBLE[]), c1.cv) AS cos
           FROM a1 CROSS JOIN c1),
    a2 AS (SELECT vec_id, cid1, cid, cos FROM (
               SELECT *, row_number() OVER (PARTITION BY vec_id
                         ORDER BY cos DESC, cid) AS rn FROM s2)
           WHERE rn = 1)
    SELECT cid AS cluster_id,
           CAST(count(*) AS BIGINT) AS n_members,
           ROUND(CAST(sum(CAST(floor(cos * 1000000 + 0.5) AS BIGINT))
                      AS DOUBLE)
                 / (CAST(count(*) AS DOUBLE) * 1000000), 6) AS avg_cos,
           CAST(sum(CASE WHEN cid <> cid1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_moved
    FROM a2 GROUP BY 1 ORDER BY 1
""")
def embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One oracle-exact Lloyd round of spherical k-means.
    See similarity.kmeans_two_pass."""
    from ksql_query_tutorial_spark.operators.similarity import (
        kmeans_two_pass,
    )

    return kmeans_two_pass(
        load(spark, sf_dir, "embeddings"), n_clusters=KMEANS_K
    )


@query(oracle=f"""
    WITH bf AS ({EXTENSION_ORACLES["similarity_topk"]}),
    lsh AS ({EXTENSION_ORACLES["ann_lsh_topk"]}),
    m AS (SELECT bf.query_id,
                 count(*) AS k,
                 count(lsh.neighbor_id) AS hits
          FROM bf LEFT JOIN lsh
            ON bf.query_id = lsh.query_id
           AND bf.neighbor_id = lsh.neighbor_id
          GROUP BY 1)
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           ROUND(avg(CAST(hits AS DOUBLE) / CAST(k AS DOUBLE)), 6)
             AS avg_recall,
           ROUND(min(CAST(hits AS DOUBLE) / CAST(k AS DOUBLE)), 6)
             AS min_recall
    FROM m
""")
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: recall@k of the hyperplane-LSH path
    against the exact brute-force top-k, computed end-to-end in Spark —
    the similarity-search twin of :func:`dedup_minhash_eval` (the
    "measure, don't guess" harness as a first-class query).

    Scale design: both sides are bounded (|queries|·k rows); the
    left join + per-query rollup is trivial. Per-query recall is an
    exact rational (hits/k); the average over the bounded query set is
    one double division, rounded.

    Scan shape (r7 measured-kept): embeddings is scanned once per leg
    because the eval deliberately compares two INDEPENDENT pipelines;
    sharing a persisted scan measured 1.05×/1.03× (sf0.1/sf1,
    STRESS.md r7 scan-audit burn-down) — no win, and coupling the
    legs would let a cache quirk mask a real recall difference.
    """
    bf = similarity_topk(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    lsh = (
        ann_lsh_topk(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .withColumn("__hit", F.lit(1))
    )
    per_q = (
        bf.join(lsh, ["query_id", "neighbor_id"], "left_outer")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("__k"),
            F.count("__hit").cast("long").alias("__hits"),
        )
        .select(
            "query_id",
            (
                F.col("__hits").cast("double") / F.col("__k").cast("double")
            ).alias("__recall"),
        )
    )
    return per_q.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.round(F.avg("__recall"), 6).alias("avg_recall"),
        F.round(F.min("__recall"), 6).alias("min_recall"),
    )


COS_HIST_CAP = 200


@query(oracle=f"""
    WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
               FROM embeddings WHERE vec_id < {COS_HIST_CAP}),
    pairs AS (
        SELECT ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos
        FROM v a JOIN v b ON a.id < b.id),
    binned AS (
        SELECT ROUND(floor(cos / 0.1) * 0.1, 1) AS cos_bin,
               CAST(count(*) AS BIGINT) AS n_pairs
        FROM pairs GROUP BY 1),
    t AS (SELECT sum(n_pairs) AS tot FROM binned)
    SELECT cos_bin, n_pairs,
           ROUND(CAST(n_pairs AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS share
    FROM binned, t ORDER BY cos_bin
""")
def embedding_cos_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise-cosine calibration histogram over a fixed slice.
    See similarity.pairwise_cosine_histogram."""
    from ksql_query_tutorial_spark.operators.similarity import (
        pairwise_cosine_histogram,
    )

    return pairwise_cosine_histogram(
        load(spark, sf_dir, "embeddings"), sample_cap=COS_HIST_CAP
    )


SWEEP_THRESHOLDS = (0.4, 0.5, 0.6, 0.7, 0.8)


@query(oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     ROUND(list_cosine_similarity(a.v, b.v), 6) AS cosine
              FROM e a JOIN e b ON a.vec_id < b.vec_id
              WHERE list_cosine_similarity(a.v, b.v)
                    >= {COSINE_THRESHOLD}),
    grid AS (SELECT unnest(CAST([{", ".join(str(t) for t in SWEEP_THRESHOLDS)}]
                 AS DOUBLE[])) AS threshold),
    hits AS (SELECT threshold, id_a, id_b FROM pairs CROSS JOIN grid
             WHERE cosine >= threshold),
    pt AS (SELECT threshold, CAST(count(*) AS BIGINT) AS n_pairs
           FROM hits GROUP BY 1),
    tv AS (SELECT threshold, CAST(count(*) AS BIGINT) AS n_vecs_affected
           FROM (SELECT DISTINCT threshold, vid
                 FROM (SELECT threshold, id_a AS vid FROM hits
                       UNION ALL SELECT threshold, id_b FROM hits))
           GROUP BY 1)
    SELECT grid.threshold,
           COALESCE(pt.n_pairs, 0) AS n_pairs,
           COALESCE(tv.n_vecs_affected, 0) AS n_vecs_affected
    FROM grid LEFT JOIN pt ON grid.threshold = pt.threshold
              LEFT JOIN tv ON grid.threshold = tv.threshold
    ORDER BY 1
""")
def embedding_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine-dedup threshold yield sweep: for each candidate
    threshold (all ≥ the LSH base threshold, so the verified pair set
    is complete for every rung), the surviving pair count and the
    number of distinct vectors touched — the calibration table read
    BEFORE committing a near-dup cosine cutoff, the embedding twin of
    corpus_yield_curve.

    Scale design: pairs come from the LSH-verified generator (never
    all-pairs); the sweep fans each pair out by a broadcast
    |thresholds| grid, and ONE (threshold)-keyed rollup over the
    exploded endpoints derives all three outputs (n_pairs = count/2,
    avg cosine, countDistinct endpoint) so the pair generation runs
    once, not once per aggregate branch (r8).
    """
    pairs = dedup_embedding_lsh(spark, sf_dir)
    grid = local_frame(
        spark, [(float(t),) for t in SWEEP_THRESHOLDS], "threshold double"
    )
    hits = pairs.crossJoin(F.broadcast(grid)).filter(
        F.col("cosine") >= F.col("threshold")
    )
    # ONE consumer of the LSH pair generation (r8): exploding both
    # endpoints doubles every (threshold, pair) row exactly once, so
    # n_pairs = count/2 and countDistinct(vid) is the touched-vector
    # count — the former two-branch shape (per-threshold pair rollup +
    # distinct-endpoint rollup) re-ran the Arrow bucket scoring per
    # branch
    per_t = (
        hits.select(
            "threshold", F.explode(F.array("id_a", "id_b")).alias("vid")
        )
        .groupBy("threshold")
        .agg(
            (F.count(F.lit(1)) / 2).cast("long").alias("n_pairs"),
            F.countDistinct("vid").cast("long").alias("n_vecs_affected"),
        )
    )
    return (
        grid.join(per_t, "threshold", "left")
        .select(
            "threshold",
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("n_vecs_affected", F.lit(0))
            .cast("long")
            .alias("n_vecs_affected"),
        )
        .orderBy("threshold")
    )


@query(oracle="""
    WITH q AS (SELECT label, vec_id % 2 AS par,
                      generate_subscripts(embedding, 1) - 1 AS dim,
                      CAST(floor(CAST(unnest(CAST(embedding AS DOUBLE[]))
                                      AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
                        AS qv
               FROM embeddings),
    cells AS (SELECT label, dim,
                     sum(CASE WHEN par = 0 THEN qv ELSE 0 END) AS s0,
                     sum(CASE WHEN par = 0 THEN 1 ELSE 0 END) AS n0,
                     sum(CASE WHEN par = 1 THEN qv ELSE 0 END) AS s1,
                     sum(CASE WHEN par = 1 THEN 1 ELSE 0 END) AS n1
              FROM q GROUP BY 1, 2),
    pd AS (SELECT label, n0, n1,
                  CAST(s0 AS DOUBLE) / (CAST(n0 AS DOUBLE) * 1000000.0)
                      AS c0,
                  CAST(s1 AS DOUBLE) / (CAST(n1 AS DOUBLE) * 1000000.0)
                      AS c1
           FROM cells WHERE n0 > 0 AND n1 > 0)
    SELECT label,
           CAST(max(n0) AS BIGINT) AS n_even,
           CAST(max(n1) AS BIGINT) AS n_odd,
           ROUND(sqrt(sum((c0 - c1) * (c0 - c1))), 6) AS centroid_l2,
           ROUND(sum(c0 * c1)
                 / sqrt(sum(c0 * c0) * sum(c1 * c1)), 6)
               AS centroid_cosine
    FROM pd GROUP BY 1 ORDER BY 1
""")
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-half centroid stability per label (even vs odd vec ids).
    See similarity.centroid_drift."""
    return similarity.centroid_drift(load(spark, sf_dir, "embeddings"))


@query(oracle="""
    WITH q AS (SELECT vec_id, label, vec_id % 2 AS par,
                      generate_subscripts(embedding, 1) - 1 AS dim,
                      CAST(floor(CAST(unnest(CAST(embedding AS DOUBLE[]))
                                      AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
                        AS qv
               FROM embeddings),
    cents AS (SELECT label AS clabel, dim,
                     CAST(floor(CAST(sum(qv) AS DOUBLE) / count(*) + 0.5)
                          AS BIGINT) AS cq
              FROM q WHERE par = 0 GROUP BY 1, 2),
    test AS (SELECT vec_id AS vid, label AS true_label, dim, qv
             FROM q WHERE par = 1),
    scored AS (SELECT vid, true_label, clabel,
                      CAST(sum(qv * cq) AS DOUBLE)
                      / sqrt(CAST(sum(qv * qv) AS DOUBLE)
                             * (SELECT CAST(sum(c2.cq * c2.cq) AS DOUBLE)
                                FROM cents c2
                                WHERE c2.clabel = cents.clabel)) AS cos
               FROM test JOIN cents ON test.dim = cents.dim
               GROUP BY vid, true_label, clabel),
    best AS (SELECT vid, true_label, clabel AS pred_label
             FROM scored
             QUALIFY row_number() OVER (PARTITION BY vid
                     ORDER BY cos DESC, clabel ASC) = 1),
    conf AS (SELECT true_label, pred_label,
                    CAST(count(*) AS BIGINT) AS n
             FROM best GROUP BY 1, 2),
    tot AS (SELECT true_label, sum(n) AS t FROM conf GROUP BY 1)
    SELECT conf.true_label, pred_label, n,
           ROUND(CAST(n AS DOUBLE) / CAST(t AS DOUBLE), 6) AS row_share
    FROM conf JOIN tot ON conf.true_label = tot.true_label
    ORDER BY 1, 2
""")
def embedding_centroid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid label separability eval (even-id centroids,
    odd-id assignments). See similarity.centroid_confusion."""
    return similarity.centroid_confusion(load(spark, sf_dir, "embeddings"))


@query(oracle=f"""
    WITH {_QUANT},
    w AS (SELECT m.vec_id,
                 list_transform(m.v,
                     x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)) AS vq,
                 q.qvec
          FROM m JOIN q USING (vec_id)),
    s AS (SELECT vec_id,
                 CAST(list_sum(list_transform(range(1, len(vq) + 1),
                      i -> CAST(vq[i] * qvec[i] AS BIGINT))) AS BIGINT)
                    AS dot,
                 CAST(list_sum(list_transform(vq,
                      x -> CAST(x * x AS BIGINT))) AS BIGINT) AS nv,
                 CAST(list_sum(list_transform(qvec,
                      x -> CAST(x * x AS BIGINT))) AS BIGINT) AS nq
          FROM w)
    SELECT vec_id AS id,
           ROUND(CAST(dot AS DOUBLE)
                 / (sqrt(CAST(GREATEST(nv, 1) AS DOUBLE))
                    * sqrt(CAST(GREATEST(nq, 1) AS DOUBLE))), 6)
             AS q8_cosine
    FROM s ORDER BY id
""")
def embedding_quantize_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 quantization fidelity audit: per-vector cosine between the
    original embedding and its SQ8 codes (scale cancels), exact
    integer folds. See similarity.quantization_error."""
    e = load(spark, sf_dir, "embeddings")
    return similarity.quantization_error(e)


@query(oracle=f"""
    WITH cc AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
                FROM embeddings ORDER BY vec_id LIMIT {{k}}),
    s AS (SELECT e.vec_id, cc.cid,
                 list_cosine_similarity(e.embedding::DOUBLE[], cc.cv) AS cos
          FROM embeddings e CROSS JOIN cc),
    r AS (SELECT vec_id, cid,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY cos DESC, cid) AS rn
          FROM s),
    a AS (SELECT cid FROM r WHERE rn = 1),
    c AS (SELECT cid, count(*) AS cnt FROM a GROUP BY 1),
    t AS (SELECT sum(cnt) AS total FROM c)
    SELECT CAST(length(bin(cnt)) AS INT) AS freq_bucket,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(cnt) AS BIGINT) AS n_rows,
           ROUND(CAST(sum(cnt) AS DOUBLE) / CAST(total AS DOUBLE), 6)
             AS rows_share
    FROM c, t
    GROUP BY 1, total ORDER BY 1
""".format(k=N_ASSIGN_CLUSTERS))
def embedding_assign_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-list balance audit: the bit-length-bucket skew report over
    nearest-centroid assignment volumes — unbalanced lists are the ANN
    tail-latency killer (one hot centroid's list dominates every probe
    that touches it), and this histogram is the rebalance/re-train
    trigger. Rides the oracle-exact cluster_assign argmax; same report
    shape as orders_key_skew/dedup_posting_skew.
    See skew.key_skew_report."""
    from ksql_query_tutorial_spark.operators.skew import key_skew_report

    e = load(spark, sf_dir, "embeddings")
    # eager localCheckpoint: key_skew_report consumes its input twice
    # (per-key counts AND the broadcast total), and the upstream here
    # is the broadcast-NLJ cosine argmax — the one expensive subtree
    # in this plan; the checkpointed frame is |vectors| narrow rows.
    # Measured 4.41s -> 1.99s at sf0.1 (same-window best-of-2).
    assign = similarity.cluster_assign(
        e, n_clusters=N_ASSIGN_CLUSTERS
    ).localCheckpoint()
    return key_skew_report(assign, "cluster_id")


# ---------------------------------------------------- silhouette (r9)

@query(oracle=f"""
    WITH c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
               FROM embeddings ORDER BY vec_id LIMIT {N_ASSIGN_CLUSTERS}),
    s AS (SELECT e.vec_id, c.cid,
                 list_cosine_similarity(e.embedding::DOUBLE[], c.cv) AS cos
          FROM embeddings e CROSS JOIN c),
    r AS (SELECT vec_id, cid, cos,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY cos DESC, cid) AS rn
          FROM s),
    pv AS (SELECT a.vec_id, a.cid AS cluster_id,
                  1.0 - a.cos AS a, 1.0 - b.cos AS b
           FROM r a JOIN r b ON a.vec_id = b.vec_id
           WHERE a.rn = 1 AND b.rn = 2),
    q AS (SELECT cluster_id,
                 CAST(floor((CASE WHEN greatest(a, b) > 0
                                  THEN (b - a) / greatest(a, b)
                                  ELSE 0.0 END) * 1000000.0 + 0.5)
                      AS BIGINT) AS sq,
                 CAST(floor(a * 1000000.0 + 0.5) AS BIGINT) AS aq,
                 CAST(floor(b * 1000000.0 + 0.5) AS BIGINT) AS bq
          FROM pv)
    SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_vectors,
           ROUND(CAST(sum(sq) AS DOUBLE) / count(*) / 1e6, 6) AS mean_sil,
           ROUND(CAST(sum(aq) AS DOUBLE) / count(*) / 1e6, 6) AS mean_a,
           ROUND(CAST(sum(bq) AS DOUBLE) / count(*) / 1e6, 6) AS mean_b
    FROM q GROUP BY 1 ORDER BY 1
""")
def embedding_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster silhouette audit (centroid form) under the
    deterministic k-smallest-ids assignment — the separation health
    check over the same fixed centroids as embedding_cluster_assign.
    See similarity.silhouette."""
    e = load(spark, sf_dir, "embeddings")
    return similarity.silhouette(e, n_clusters=N_ASSIGN_CLUSTERS)
