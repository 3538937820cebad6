"""Deduplication extension queries (exact, n-gram Jaccard, MinHash-LSH, SimHash, embedding, incremental, span, containment, Levenshtein, savings reports).

Split from the former extensions.py monolith (pure move; VERDICT r6 #3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ksql_query_tutorial_spark.functions import hashes
from ksql_query_tutorial_spark.operators import (
    corpus,
    dedup,
)
from ksql_query_tutorial_spark.operators.text import tokens
from ksql_query_tutorial_spark import cache
from ksql_query_tutorial_spark.tables import load

from ._registry import EXTENSION_ORACLES, query
from ._shared import *  # noqa: F401,F403 — shared constants/SQL fragments


# -------------------------------------------------------------------- dedup

@query(oracle="""
        SELECT min(doc_id) AS keeper_id, count(*) AS dup_count
        FROM documents
        GROUP BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
        ORDER BY keeper_id
    """)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return dedup.exact_duplicates(d, "doc_id")


@query(oracle=_JACCARD_PAIRS_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(d, "doc_id", threshold=JACCARD_THRESHOLD)


# MinHash-LSH equals the exact pairs on the fixture (recall-1 regime
# at 128 hashes / 32 bands; every pair carries the exact verified
# Jaccard) — same oracle, hash-compared
@query(oracle=_JACCARD_PAIRS_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-verified against the exact n-gram Jaccard oracle: at 128
    hashes × 32 bands the banding S-curve puts the fixture's planted
    near-dups (jaccard ≥ 0.5, noise < 0.1) deep in the recall-1 regime,
    and every emitted pair carries the exact verified Jaccard — so the
    output EQUALS dedup_ngram_jaccard on the fixture (verified at
    sf0.01 and sf0.1) and the same SQL oracle applies."""
    d = load(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(d, "doc_id", threshold=JACCARD_THRESHOLD)


@query(oracle=f"""
    WITH tok AS (SELECT DISTINCT doc_id, unnest({_TOKS}) AS tok FROM documents),
    hs AS (SELECT DISTINCT doc_id, {hashes.token_hash_sql('tok')} AS h FROM tok),
    bits AS (SELECT doc_id, r.b,
                    CASE WHEN 2 * SUM((h >> r.b) & 1) > COUNT(*) THEN 1 ELSE 0 END
                        AS bit
             FROM hs, (SELECT unnest(range(62)) AS b) r
             GROUP BY doc_id, r.b),
    sim AS (SELECT doc_id,
                   SUM(bit * (CAST(1 AS BIGINT) << b)) AS simhash
            FROM bits GROUP BY doc_id)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM sim a JOIN sim b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    ORDER BY id_a, id_b
""")
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs over the PORTABLE token hash (Mersenne-31
    char folds — reproducible in plain SQL), so the DuckDB oracle
    recomputes the identical sketches and verifies the banding against
    a brute-force Hamming join (the banding is also pinned by
    test_simhash_banding_equals_brute_force)."""
    d = load(spark, sf_dir, "documents")
    return dedup.simhash_pairs(d, "doc_id", max_hamming=3)


@query(oracle=f"""
        WITH RECURSIVE
        t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        sh AS (SELECT doc_id, {_SHINGLES} AS s FROM t),
        post AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
        sizes AS (SELECT doc_id, len(s) AS n FROM sh),
        inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
                  FROM post a JOIN post b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
        pairs AS (
          SELECT id_a, id_b
          FROM inter JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
          WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= {JACCARD_THRESHOLD}
        ),
        edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
        reach AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        ),
        comp AS (SELECT src AS id, least(src, min(dst)) AS keeper FROM reach GROUP BY src)
        SELECT d.doc_id,
               COALESCE(c.keeper, d.doc_id) AS keeper_id,
               COALESCE(c.keeper, d.doc_id) = d.doc_id AS is_keeper
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
        ORDER BY d.doc_id
    """)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over exact-Jaccard near-dup pairs → the
    per-document keeper decision. Oracle: recursive-CTE transitive
    closure (components are small, so closure is cheap at oracle sf)."""
    d = load(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(d, "doc_id", threshold=JACCARD_THRESHOLD)
    return dedup.keeper_assignment(d, pairs, "doc_id")


# LSH-fed clusters equal the exact-fed clusters on the fixture (pair
# recall 1), so the same recursive-CTE transitive-closure oracle applies
@query(oracle=EXTENSION_ORACLES["dedup_clusters"])
def dedup_clusters_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION composition for dedup clustering: connected
    components fed by MinHash-LSH pairs (sub-quadratic candidate
    generation) instead of the exact-Jaccard pair join. At the fixture's
    planted similarity levels LSH recall is 1 (verified at sf0.01 and
    sf0.1), so the clusters equal the exact-fed ones and the same
    recursive-CTE oracle applies; at 100 TB this is the only variant
    whose pair source scales."""
    d = load(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(d, "doc_id", threshold=JACCARD_THRESHOLD)
    return dedup.keeper_assignment(d, pairs, "doc_id")


@query(oracle=f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               ROUND(list_cosine_similarity(a.v, b.v), 6) AS cosine
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.v, b.v) >= {COSINE_THRESHOLD}
        ORDER BY id_a, id_b
    """)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    return dedup.embedding_cosine_pairs(e, threshold=COSINE_THRESHOLD)


# embedding-LSH at the oracle sf sits in the recall-1 regime (scaled
# plane count) and emits exact cosines — same oracle as the brute force
@query(oracle=EXTENSION_ORACLES["dedup_embedding"])
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-adaptive (k, L): plane count grows with corpus size (from
    parquet FOOTER stats — no count() action) so bucket occupancy stays
    constant; table count is fixed. At the oracle sf the config sits in
    the recall-1 regime of the S-curve (verified empirically: output ==
    dedup_embedding), so the exact-cosine oracle applies; every emitted
    pair always carries the exact cosine (subset guarantee at any sf)."""
    import math

    from ksql_query_tutorial_spark.tables import parquet_row_count

    e = load(spark, sf_dir, "embeddings")
    n = parquet_row_count(f"{sf_dir}/embeddings.parquet")
    # occupancy target ~32 rows/bucket — deliberately COARSE. At this
    # fixture's threshold (cosine 0.4) the per-bit agreement for a
    # true pair is only 1 - arccos(0.4)/pi ~ 0.63, so fine buckets
    # (more planes) destroy recall faster than they prune: recall-1 at
    # the oracle sf needs p^k per table to stay O(0.1). The candidate
    # density that coarse buckets imply is absorbed by scoring each
    # bucket with one BLAS matmul (no pair join) — see
    # embedding_lsh_pairs.
    n_planes = max(2, min(24, round(math.log2(max(n, 64) / 32))))
    return dedup.embedding_lsh_pairs(
        e, threshold=COSINE_THRESHOLD, n_planes=n_planes, n_tables=8
    )


# ------------------------------------------------- span dedup / vocab / tfidf

SPAN_K = 8


@query(oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    idx AS (SELECT doc_id, toks, unnest(range(1, len(toks) - {SPAN_K - 2})) AS i
            FROM t),
    occ AS (SELECT doc_id, i - 1 AS pos,
                   array_to_string(list_slice(toks, i, i + {SPAN_K - 1}), ' ') AS sh
            FROM idx),
    ranked AS (SELECT doc_id, pos,
                      row_number() OVER (PARTITION BY sh ORDER BY doc_id, pos) AS rn
               FROM occ),
    dup AS (SELECT doc_id, pos FROM ranked WHERE rn > 1),
    cov AS (SELECT DISTINCT doc_id, p FROM
            (SELECT doc_id, unnest(range(pos, pos + {SPAN_K})) AS p FROM dup)),
    agg AS (SELECT doc_id, count(*) AS dup_tokens FROM cov GROUP BY doc_id)
    SELECT t.doc_id, CAST(len(toks) AS INT) AS n_tokens,
           CAST(COALESCE(a.dup_tokens, 0) AS BIGINT) AS dup_tokens,
           CAST(len(toks) - COALESCE(a.dup_tokens, 0) AS BIGINT) AS kept_tokens,
           ROUND(CAST(COALESCE(a.dup_tokens, 0) AS DOUBLE)
                 / GREATEST(len(toks), 1), 6) AS dup_frac
    FROM t LEFT JOIN agg a USING (doc_id) ORDER BY doc_id
""")
def span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-span stats (shingle approximation of suffix-array
    substring dedup): per-doc union size of 8-token spans whose text
    occurred earlier in the corpus."""
    d = load(spark, sf_dir, "documents")
    return corpus.span_dedup_stats(d, k=SPAN_K)


# ------------------------------------------------------- incremental dedup

@query(oracle=f"""
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
          JOIN (SELECT doc_id, len(s) AS n FROM sho) so ON cid = so.doc_id
          WHERE CAST(i AS DOUBLE) / (sn.n + so.n - i) >= {JACCARD_THRESHOLD}),
    best AS (SELECT nid, min(cid) AS dup_of FROM j GROUP BY nid)
    SELECT d.doc_id,
           b.dup_of,
           ROUND(j.jac, 6) AS jaccard,
           b.dup_of IS NOT NULL AS is_dup
    FROM nd d
    LEFT JOIN best b ON d.doc_id = b.nid
    LEFT JOIN j ON j.nid = b.nid AND j.cid = b.dup_of
    ORDER BY d.doc_id
""")
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time dedup: docs with doc_id % 10 == 7 play the incoming
    batch, the rest the existing corpus index. LSH candidates verified
    with exact Jaccard; at the fixture's planted similarity levels LSH
    recall is 1, so the exact-Jaccard oracle applies."""
    d = load(spark, sf_dir, "documents")
    new = d.filter(F.col("doc_id") % 10 == 7)
    corpus_side = d.filter(F.col("doc_id") % 10 != 7)
    return dedup.incremental_minhash_dedup(
        new, corpus_side, "doc_id", threshold=JACCARD_THRESHOLD
    )


# ----------------------------------------------- containment dedup

CONTAINMENT_THRESHOLD = 0.6


@query(oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    sh AS (SELECT doc_id, {_SHINGLES} AS s FROM t),
    post AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
    sizes AS (SELECT doc_id, len(s) AS n FROM sh),
    inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
              FROM post a JOIN post b
                ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT id_a, id_b,
           ROUND(CAST(i AS DOUBLE) / CAST(least(sa.n, sb.n) AS DOUBLE), 6)
             AS containment,
           CASE WHEN sa.n <= sb.n THEN 'a_in_b' ELSE 'b_in_a' END AS direction
    FROM inter JOIN sizes sa ON id_a = sa.doc_id
               JOIN sizes sb ON id_b = sb.doc_id
    WHERE CAST(i AS DOUBLE) / CAST(least(sa.n, sb.n) AS DOUBLE)
          >= {CONTAINMENT_THRESHOLD}
    ORDER BY id_a, id_b
""")
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle-containment pairs (|A∩B| / min(|A|,|B|)) —
    the short-inside-long near-dup detector Jaccard under-scores
    (quotes, mirrors, partial crawls). Same inverted-index plan as
    dedup_ngram_jaccard; only the normalizer and the direction column
    differ. See dedup.containment_pairs."""
    from ksql_query_tutorial_spark.operators.dedup import containment_pairs

    d = load(spark, sf_dir, "documents")
    return containment_pairs(
        d, "doc_id", threshold=CONTAINMENT_THRESHOLD
    )


LEV_BLOCK_CHARS = 12


LEV_PREFIX_CHARS = 64


LEV_MAX_DIST = 8


# Mega-block relief valve ON by default: fixture block widths top out
# at 13 (sf0.1), so 32 never binds on the oracle fixtures, but it
# bounds any block's join contribution at 32² pairs on boilerplate-
# heavy corpora (the 10x-replicated sf1 stress fixture drove the
# uncapped join to a 55x scaling ratio). Mirrored in the oracle SQL.
LEV_MAX_BLOCK = 32


@query(oracle=f"""
    WITH n AS (SELECT doc_id,
                      regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')
                        AS nt
               FROM documents WHERE text IS NOT NULL),
    k0 AS (SELECT doc_id,
                  substr(nt, 1, {LEV_BLOCK_CHARS}) AS block,
                  substr(nt, 1, {LEV_PREFIX_CHARS}) AS prefix
           FROM n WHERE length(substr(nt, 1, {LEV_BLOCK_CHARS})) > 0),
    wide AS (SELECT block FROM k0 GROUP BY block
             HAVING count(*) <= {LEV_MAX_BLOCK}),
    k AS (SELECT k0.* FROM k0 JOIN wide USING (block))
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.prefix, b.prefix) AS INT) AS edit_distance
    FROM k a JOIN k b ON a.block = b.block AND a.doc_id < b.doc_id
    WHERE levenshtein(a.prefix, b.prefix) <= {LEV_MAX_DIST}
    ORDER BY id_a, id_b
""")
def dedup_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs via prefix blocking (record-linkage
    classic; catches character-level noise the set-based families
    under-weight). See dedup.levenshtein_pairs."""
    d = load(spark, sf_dir, "documents")
    return dedup.levenshtein_pairs(
        d,
        block_chars=LEV_BLOCK_CHARS,
        prefix_chars=LEV_PREFIX_CHARS,
        max_dist=LEV_MAX_DIST,
        max_block=LEV_MAX_BLOCK,
    )


EVAL_CAP_DOCS = 500


@query(oracle=f"""
    SELECT CAST(count(*) AS BIGINT) AS tp,
           CAST(0 AS BIGINT) AS fp,
           CAST(0 AS BIGINT) AS fn,
           1.0 AS prec,
           1.0 AS rec
    FROM ({_JACCARD_PAIRS_ORACLE.replace(
        "FROM documents",
        f"FROM (SELECT * FROM documents WHERE doc_id < {EVAL_CAP_DOCS})",
    )})
""")
def dedup_minhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH quality evaluation against the exact all-pairs
    Jaccard ground truth, computed end-to-end in Spark: a full outer
    join of the two pair sets yields the confusion counts (TP = both,
    FP = LSH only, FN = exact only) and precision/recall in one
    aggregate — the "measure, don't guess" harness for the dedup
    family, as a first-class query.

    Scale design: ground truth is inherently quadratic in near-dup
    cluster size, so the evaluation runs on a FIXED-SIZE slice
    (``doc_id < EVAL_CAP_DOCS`` — deterministic, pushed to the parquet
    scan via min/max pruning), giving constant eval cost at any corpus
    scale — the standard sampled-eval design; at the oracle sf the
    slice IS the whole corpus. The oracle asserts the recall-1 regime
    (TP = |exact pairs|, FP = FN = 0, precision = recall = 1): the LSH
    operator exact-verifies its candidates (precision 1 by
    construction) and the banding parameters put the fixture's
    near-dup range above the S-curve knee (recall 1, re-verified at
    sf1 in STRESS.md) — any recall loss or verification bug
    hash-mismatches here.
    """
    d = load(spark, sf_dir, "documents").filter(
        F.col("doc_id") < EVAL_CAP_DOCS
    )
    # ONE tokenization feeds both pair generators: the LSH side and the
    # exact ground truth consume the same persisted (id, h) posting —
    # per-generator builders would scan and regex-split the slice twice.
    post = cache.pin(dedup.shingle_hash_posting(d, "doc_id", "text", 3))
    lsh = (
        dedup.minhash_lsh_pairs_from_posting(
            post, threshold=JACCARD_THRESHOLD
        )
        .select("id_a", "id_b")
        .withColumn("__lsh", F.lit(1))
    )
    exact = (
        dedup.jaccard_pairs_from_posting(post, threshold=JACCARD_THRESHOLD)
        .select("id_a", "id_b")
        .withColumn("__exact", F.lit(1))
    )
    both = lsh.join(exact, ["id_a", "id_b"], "full_outer")
    tp = F.sum(
        F.when(F.col("__lsh").isNotNull() & F.col("__exact").isNotNull(), 1)
        .otherwise(0)
    ).cast("long")
    fp = F.sum(F.when(F.col("__exact").isNull(), 1).otherwise(0)).cast("long")
    fn = F.sum(F.when(F.col("__lsh").isNull(), 1).otherwise(0)).cast("long")
    return both.agg(
        tp.alias("tp"),
        fp.alias("fp"),
        fn.alias("fn"),
        F.round(tp.cast("double") / F.greatest(tp + fp, F.lit(1)), 6).alias(
            "prec"
        ),
        F.round(tp.cast("double") / F.greatest(tp + fn, F.lit(1)), 6).alias(
            "rec"
        ),
    )


@query(oracle=f"""
    WITH pairs AS ({_JACCARD_PAIRS_ORACLE}),
    ends AS (SELECT id_a AS node FROM pairs
             UNION ALL SELECT id_b FROM pairs),
    c AS (SELECT node, count(*) AS cnt FROM ends GROUP BY 1),
    t AS (SELECT sum(cnt) AS total FROM c)
    SELECT CAST(length(bin(cnt)) AS INT) AS freq_bucket,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(cnt) AS BIGINT) AS n_rows,
           ROUND(CAST(sum(cnt) AS DOUBLE) / CAST(total AS DOUBLE), 6)
             AS rows_share
    FROM c, t
    GROUP BY 1, total ORDER BY 1
""")
def dedup_graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the near-dup similarity graph: MinHash-LSH
    pairs (recall-1 regime) fed straight into the key-skew bit-length
    bucketing — an operator COMPOSITION (LSH pair generation →
    skew report) that sizes the connected-components workload before
    running it (a heavy tail predicts wide clusters).

    Scale design: the pair list is the LSH output (bucketed, never
    all-pairs); degrees are one key rollup over the 2|pairs| endpoint
    stream; the histogram rides key_skew_report's bounded buckets.
    The endpoint stream is an explode of [id_a, id_b], NOT a unionAll
    of two selects — a union duplicates the whole LSH pair plan per
    branch. Measured r7: 2.50s → 2.22s best-of-3 at sf0.1 (modest,
    because the LSH pipeline's persisted intermediates were already
    shared across the branches via InMemoryTableScan) and the plan
    halves (96 → 8 tokenizer occurrences); on an unpersisted pipeline
    the union form would re-execute everything twice.
    """
    from ksql_query_tutorial_spark.operators.skew import key_skew_report

    pairs = dedup_minhash_lsh(spark, sf_dir)
    ends = pairs.select(
        F.explode(F.array("id_a", "id_b")).alias("node")
    )
    return key_skew_report(ends, "node")


@query(oracle=f"""
    WITH labels AS ({EXTENSION_ORACLES["dedup_clusters_lsh"]}),
    sizes AS (SELECT keeper_id, CAST(count(*) AS BIGINT) AS size
              FROM labels GROUP BY 1)
    SELECT size AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(size * count(*) AS BIGINT) AS n_docs,
           CAST((size - 1) * count(*) AS BIGINT) AS n_removable
    FROM sizes GROUP BY 1 ORDER BY 1
""")
def dedup_savings_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup yield accounting: the cluster-size histogram of the
    LSH-fed connected components and the removable-document mass per
    size — the capacity-planning readout (how much of the corpus
    dedup will actually delete, and whether the mass sits in pairs or
    mega-clusters). Another operator composition: clusters →
    histogram, all bounded after the cluster labeling.

    Scale design: rides dedup_clusters_lsh (banded candidate
    generation, O(diameter) label propagation); the per-cluster size
    rollup and the per-size histogram are two bounded aggregates.
    ``removable = (size − 1) · n_clusters`` per cell; singleton
    clusters report the untouched mass.
    """
    labels = dedup_clusters_lsh(spark, sf_dir)
    sizes = labels.groupBy("keeper_id").agg(
        F.count(F.lit(1)).cast("long").alias("__size")
    )
    return (
        sizes.groupBy(F.col("__size").alias("cluster_size"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).cast("long").alias(
                "n_docs"
            ),
            ((F.col("cluster_size") - 1) * F.col("n_clusters"))
            .cast("long")
            .alias("n_removable"),
        )
        .orderBy("cluster_size")
    )


@query(oracle=f"""
    WITH pairs AS ({_JACCARD_PAIRS_ORACLE}),
    j AS (SELECT least(da.source, db.source) AS source_a,
                 greatest(da.source, db.source) AS source_b,
                 pairs.jaccard
          FROM pairs
          JOIN documents da ON pairs.id_a = da.doc_id
          JOIN documents db ON pairs.id_b = db.doc_id)
    SELECT source_a, source_b,
           CAST(count(*) AS BIGINT) AS n_pairs,
           ROUND(avg(jaccard), 6) AS avg_jaccard,
           source_a <> source_b AS is_cross
    FROM j GROUP BY 1, 2 ORDER BY 1, 2
""")
def dedup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-dup flow matrix: MinHash-LSH pairs (recall-1
    regime) joined to each endpoint's source, rolled up per unordered
    source pair — the curation diagnostic that says WHERE duplication
    comes from (mirror sites, cross-source syndication) before
    deciding which source to keep. An operator composition: LSH pair
    generation → two doc-keyed dimension joins → a bounded
    |sources|² rollup.

    Scale design: the pair list is the LSH output (bucketed, never
    all-pairs); the two source lookups are doc-keyed equi-joins
    against a two-column projection of documents; the final aggregate
    is keyed on the bounded source-pair domain.
    """
    pairs = dedup_minhash_lsh(spark, sf_dir)
    src = load(spark, sf_dir, "documents").select(
        F.col("doc_id"), F.col("source")
    )
    sa = src.select(
        F.col("doc_id").alias("id_a"), F.col("source").alias("__sa")
    )
    sb = src.select(
        F.col("doc_id").alias("id_b"), F.col("source").alias("__sb")
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .groupBy(
            F.least("__sa", "__sb").alias("source_a"),
            F.greatest("__sa", "__sb").alias("source_b"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.round(F.avg("jaccard"), 6).alias("avg_jaccard"),
        )
        .withColumn("is_cross", F.col("source_a") != F.col("source_b"))
        .orderBy("source_a", "source_b")
    )


SHINGLE_SWEEP_NS = (2, 3, 5)


# the frequency cut is MANDATORY here: the n=2 rung's posting lists on
# a duplicated corpus explode quadratically without it (the sf1 sweep
# run timed out before the cut; with it the rung prunes the
# vocabulary-shared shingles that carry no near-dup signal anyway)
SHINGLE_SWEEP_MAX_POSTING = 64


def _shingles_sql(n: int) -> str:
    """DuckDB n-gram shingle expression for arbitrary n (the _SHINGLES
    twin generalized)."""
    concat = "||' '||".join(f"toks[i+{k}]" if k else "toks[i]"
                            for k in range(n))
    return (
        f"list_distinct(CASE WHEN len(toks) >= {n} THEN "
        f"list_transform(range(1, len(toks)-{n}+2), i -> {concat}) "
        "ELSE [] END)"
    )


def _jaccard_rung_sql(n: int) -> str:
    return f"""
        SELECT CAST({n} AS INT) AS shingle_n,
               CAST(count(*) AS BIGINT) AS n_pairs,
               COALESCE(ROUND(avg(jaccard), 6), 0.0) AS avg_jaccard,
               (SELECT CAST(count(DISTINCT i) AS BIGINT)
                FROM (SELECT id_a AS i FROM pairs{n}
                      UNION ALL SELECT id_b FROM pairs{n})) AS n_docs
        FROM pairs{n}"""


def _shingle_sweep_oracle() -> str:
    ctes = ["t AS (SELECT doc_id, " + _TOKS + " AS toks FROM documents)"]
    for n in SHINGLE_SWEEP_NS:
        ctes.append(f"""
    sh{n} AS (SELECT doc_id, {_shingles_sql(n)} AS s FROM t),
    postraw{n} AS (SELECT doc_id, unnest(s) AS shingle FROM sh{n}),
    post{n} AS (SELECT doc_id, shingle FROM postraw{n}
                QUALIFY count(*) OVER (PARTITION BY shingle)
                        <= {SHINGLE_SWEEP_MAX_POSTING}),
    sizes{n} AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
                 FROM post{n} GROUP BY 1),
    inter{n} AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                        count(*) AS i
                 FROM post{n} a JOIN post{n} b
                   ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                 GROUP BY 1, 2),
    pairs{n} AS (SELECT id_a, id_b,
                        ROUND(CAST(i AS DOUBLE)
                              / CAST(sa.n + sb.n - i AS DOUBLE), 6)
                            AS jaccard
                 FROM inter{n}
                 JOIN sizes{n} sa ON id_a = sa.doc_id
                 JOIN sizes{n} sb ON id_b = sb.doc_id
                 WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE)
                       >= {JACCARD_THRESHOLD})""")
    rungs = " UNION ALL ".join(_jaccard_rung_sql(n) for n in SHINGLE_SWEEP_NS)
    return ("WITH " + ",".join(ctes)
            + f" SELECT * FROM ({rungs}) ORDER BY shingle_n")


@query(oracle=_shingle_sweep_oracle())
def dedup_shingle_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-size sensitivity sweep for exact-Jaccard dedup: the
    pair yield, docs touched, and mean similarity at n-gram sizes
    2/5 vs the production 3 under the SAME threshold and the SAME
    frequency cut — the calibration table read before fixing a
    shingle size (small n over-matches on shared vocabulary, large n
    under-matches short documents; this shows where THIS corpus
    sits). Each rung is the production inverted-index pair generator
    with max_posting applied, so the sweep measures exactly what the
    pipeline would run.

    Scale design: ONE corpus scan + tokenization for the whole sweep
    (shingle_hash_postings_multi builds every rung's posting from a
    shared persisted token-lead frame — per-rung builders would
    re-read and re-split the corpus len(ns) times); then one pair
    generation per rung (a small fixed constant), each the bucketed
    ngram_jaccard_pairs plan — inverted-index candidates, the
    max_posting frequency cut (shingles shared by more than
    SHINGLE_SWEEP_MAX_POSTING docs carry no near-dup signal and
    explode the n=2 rung's self-join without it), exact verify on
    candidates only; per-rung reductions are single bounded rows.
    """
    d = load(spark, sf_dir, "documents")
    posts = dedup.shingle_hash_postings_multi(
        d, "doc_id", "text", SHINGLE_SWEEP_NS
    )
    outs = []
    for n in SHINGLE_SWEEP_NS:
        pairs = dedup.jaccard_pairs_from_posting(
            posts[n], threshold=JACCARD_THRESHOLD,
            max_posting=SHINGLE_SWEEP_MAX_POSTING,
        )
        # ONE consumer of the rung's pair join (r8): exploding both
        # endpoints doubles every pair exactly once, so n_pairs =
        # count/2 and avg(jaccard) is unchanged — the former
        # two-branch shape (pairs.agg ⨯ ends.agg) executed the
        # inverted-index self-join twice per rung
        ex = pairs.select(
            F.explode(F.array("id_a", "id_b")).alias("i"), "jaccard"
        )
        outs.append(
            ex.agg(
                (F.count(F.lit(1)) / 2).cast("long").alias("n_pairs"),
                F.round(F.avg("jaccard"), 6).alias("avg_jaccard"),
                F.countDistinct("i").cast("long").alias("n_docs"),
            )
            .select(
                F.lit(n).cast("int").alias("shingle_n"),
                "n_pairs",
                F.coalesce("avg_jaccard", F.lit(0.0)).alias("avg_jaccard"),
                "n_docs",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out.orderBy("shingle_n")


@query(oracle=f"""
    WITH labels AS ({EXTENSION_ORACLES["dedup_clusters_lsh"]}),
    toks AS (SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS tok
             FROM documents)
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN is_keeper THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           CAST(sum(tok) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN is_keeper THEN tok ELSE 0 END) AS BIGINT)
               AS tokens_kept,
           ROUND(CAST(sum(CASE WHEN is_keeper THEN tok ELSE 0 END)
                      AS DOUBLE)
                 / CAST(sum(tok) AS DOUBLE), 6) AS token_share_kept
    FROM labels JOIN toks USING (doc_id)
""")
def dedup_token_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-mass ROI of near-dup removal: total corpus tokens vs the
    tokens surviving keeper-only dedup — the number a TRAINING budget
    actually cares about (dedup_savings_report counts documents; long
    duplicates cost more than short ones). Operator composition: LSH
    connected components → keeper flags → one doc-keyed token join →
    a single-row reduction.

    Scale design: rides dedup_clusters_lsh (banded candidates,
    O(diameter) labeling); the token counts are one narrow codegen
    projection joined doc-keyed; the output is ONE row.
    """
    labels = dedup_clusters_lsh(spark, sf_dir)
    toks = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("long").alias("__tok"),
    )
    j = labels.join(toks, "doc_id")
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("is_keeper").cast("long")).cast("long").alias("n_kept"),
        F.sum("__tok").cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("is_keeper"), F.col("__tok")).otherwise(0))
        .cast("long")
        .alias("tokens_kept"),
    ).select(
        "n_docs",
        "n_kept",
        "n_tokens",
        "tokens_kept",
        F.round(
            F.col("tokens_kept").cast("double")
            / F.col("n_tokens").cast("double"),
            6,
        ).alias("token_share_kept"),
    )


@query(oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    sh AS (SELECT doc_id, {_SHINGLES} AS s FROM t),
    post AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
    c AS (SELECT shingle, count(*) AS cnt FROM post GROUP BY 1),
    tot AS (SELECT sum(cnt) AS total FROM c)
    SELECT CAST(length(bin(cnt)) AS INT) AS freq_bucket,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(cnt) AS BIGINT) AS n_rows,
           ROUND(CAST(sum(cnt) AS DOUBLE) / CAST(total AS DOUBLE), 6)
             AS rows_share
    FROM c, tot
    GROUP BY 1, total ORDER BY 1
""")
def dedup_posting_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-frequency skew of the shingle posting list — the
    capacity-planning read-out for EVERY banded/inverted-index dedup
    path in this family: a posting key of frequency f contributes
    C(f, 2) candidate pairs, so the high buckets of this histogram ARE
    the quadratic risk that ``max_posting`` / ``_cap_bucket_width``
    exist to cut (the same bit-length-bucket report as
    orders_key_skew, pointed at the join key that actually melts
    dedup jobs at 100 TB). One tokenizer pass staged as a projected
    attribute (the shingles_of contract), one shingle-keyed count with
    map-side partials, a ≤64-row bucket rollup.
    See skew.key_skew_report."""
    from ksql_query_tutorial_spark.operators.skew import key_skew_report

    d = load(spark, sf_dir, "documents")
    post = d.select(
        F.col("doc_id"), tokens(F.col("text")).alias("__toks")
    ).select(
        "doc_id",
        F.explode(F.array_distinct(dedup.shingles_of(F.col("__toks"))))
        .alias("shingle"),
    )
    return key_skew_report(post, "shingle")
