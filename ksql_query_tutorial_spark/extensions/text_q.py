"""Text-analysis extension queries: token counts, quality, language ID,
PII scrubbing, entropy, readability, code detection and fingerprints.

Six are Spark SQL in the KSQL dialect, one ``CREATE TABLE`` each in
``text.sql``, compiled like the tutorial's ``queries.sql``; ``ORACLES``
holds the DuckDB oracle of each. The rest keep Python builders: their
operators share the staged-tokens, stopword, language-marker and shingle
code of ``operators.text`` and ``operators.dedup`` with the curation and
dedup families, or hash tokens with the portable hashes of
``functions.hashes``.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ksql_query_tutorial_spark.functions import hashes
from ksql_query_tutorial_spark.operators import (
    corpus,
    dedup,
    text,
)
from ksql_query_tutorial_spark.tables import load

from ._registry import EXTENSION_ORACLES, query, script
from ._shared import *  # noqa: F401,F403 — shared constants/SQL fragments

ORACLES = {
    "text_token_stats": r"""
        SELECT doc_id,
               CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS INT) AS n_tokens,
               CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]')) AS INT)
                 AS n_bpe_tokens,
               CAST(length(text) AS INT) AS n_chars_measured
        FROM documents ORDER BY doc_id
    """,
    "text_pii": (
        r"SELECT doc_id, CAST(len(regexp_extract_all(text, "
        r"'[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS INT) AS n_email, "
        r"CAST(len(regexp_extract_all(text, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS INT) AS "
        r"n_phone, CAST(len(regexp_extract_all(text, "
        r"'\b(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\b')) "
        r"AS INT) AS n_ipv4, (len(regexp_extract_all(text, "
        r"'[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) + len(regexp_extract_all(text, "
        r"'\b\d{3}[-.]\d{3}[-.]\d{4}\b')) + len(regexp_extract_all(text, "
        r"'\b(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\b'))) "
        r"> 0 AS has_pii, regexp_replace(regexp_replace(regexp_replace(text, "
        r"'[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '[EMAIL]', 'g'), "
        r"'\b\d{3}[-.]\d{3}[-.]\d{4}\b', '[PHONE]', 'g'), "
        r"'\b(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\b', "
        r"'[IP]', 'g') AS redacted FROM documents ORDER BY doc_id"
    ),
    "text_entropy": """
    WITH i AS (SELECT doc_id, text,
                      unnest(range(1, length(text) + 1)) AS i
               FROM documents WHERE length(text) > 0),
    ch AS (SELECT doc_id, substring(text, CAST(i AS INT), 1) AS ch FROM i),
    c AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY 1, 2)
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_chars_counted,
           count(*) AS n_unique_chars,
           round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 6)
             AS char_entropy
    FROM c GROUP BY doc_id ORDER BY doc_id
""",
    "text_readability": r"""
    SELECT doc_id,
           CAST(greatest(len(regexp_split_to_array(lower(trim(text)), '\s+')), 1) AS INT) AS n_words,
           CAST(greatest(len(regexp_extract_all(text, '[.!?]')), 1) AS INT)
             AS n_sentences,
           CAST(greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')),
                         1) AS INT) AS n_syllables,
           ROUND(206.835
                 - 1.015 * (CAST(greatest(len(regexp_split_to_array(lower(trim(text)), '\s+')), 1) AS DOUBLE)
                            / CAST(greatest(len(regexp_extract_all(text,
                                   '[.!?]')), 1) AS DOUBLE))
                 - 84.6 * (CAST(greatest(len(regexp_extract_all(lower(text),
                                '[aeiouy]+')), 1) AS DOUBLE)
                           / CAST(greatest(len(regexp_split_to_array(lower(trim(text)), '\s+')), 1) AS DOUBLE)), 4)
             AS flesch
    FROM documents ORDER BY doc_id
""",
    "text_code_detect": r"""
    WITH sig AS (
        SELECT doc_id,
               CAST(len(string_split(text, chr(10))) AS INT) AS n_lines,
               CAST(len(regexp_extract_all(text, '(?m)^[ \t]'))
                    AS INT) AS n_indented,
               len(regexp_extract_all(text, '[{}();=<>\[\]]'))
                   AS n_sym,
               CAST(len(regexp_extract_all(lower(text),
                   '\b(def|class|function|return|import|var|let|const|void|public|static|if|else|for|while|lambda|struct|enum)\b'))
                   AS INT) AS kw_hits,
               CAST(len(regexp_extract_all(text,
                   '\b[a-z]+[A-Z][a-zA-Z]*\b')) AS INT) AS camel_hits,
               greatest(length(text), 1) AS nc
        FROM documents)
    SELECT doc_id, n_lines, n_indented,
           ROUND(CAST(n_sym AS DOUBLE) / nc, 6) AS symbol_ratio,
           kw_hits, camel_hits,
           (ROUND(CAST(n_sym AS DOUBLE) / nc, 6) >= 0.05
            OR kw_hits >= 3) AS is_code
    FROM sig ORDER BY doc_id
""",
    "text_winnowing": r"""
        WITH t AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks FROM documents),
        pos AS (
          SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i
          FROM t WHERE len(toks) >= 3
        ),
        sh AS (
          SELECT doc_id, i AS pos,
                 md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS h
          FROM pos
        ),
        win AS (
          SELECT doc_id,
                 min(h) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
                 count(*) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS cnt
          FROM sh
        )
        SELECT DISTINCT doc_id, fp FROM win WHERE cnt = 4
        ORDER BY doc_id, fp
    """,
}

script(Path(__file__).with_name("text.sql"), ORACLES)


# --------------------------------------------------------------------- text

@query(oracle=f"""
        WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
        SELECT doc_id,
               CAST(len(toks) AS INT) AS n_tokens,
               ROUND(CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
                     / CAST(greatest(len(toks), 1) AS DOUBLE), 6) AS avg_token_len,
               ROUND(CAST(len(list_filter(toks, t -> t IN ('the','a','and','is','of','to','in','that','it'))) AS DOUBLE)
                     / CAST(greatest(len(toks), 1) AS DOUBLE), 6) AS stopword_ratio,
               ROUND(CAST(length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')) AS DOUBLE)
                     / CAST(greatest(length(text), 1) AS DOUBLE), 6) AS alpha_ratio
        FROM t ORDER BY doc_id
    """)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return text.with_quality(d).select(
        "doc_id", "n_tokens", "avg_token_len", "stopword_ratio", "alpha_ratio"
    )


@query(oracle=f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        s AS (SELECT doc_id,
               CAST(len(list_filter(toks, t -> t IN ('der','die','das','und','ist','nicht','ein'))) AS INT) AS score_de,
               CAST(len(list_filter(toks, t -> t IN ('the','a','and','is','of','to','in'))) AS INT) AS score_en,
               CAST(len(list_filter(toks, t -> t IN ('el','la','los','y','es','de','un'))) AS INT) AS score_es,
               CAST(len(list_filter(toks, t -> t IN ('le','la','les','et','est','un','une'))) AS INT) AS score_fr
              FROM t)
        SELECT doc_id, score_de, score_en, score_es, score_fr,
               CASE
                 WHEN score_de >= score_en AND score_de >= score_es AND score_de >= score_fr AND score_de > 0 THEN 'de'
                 WHEN score_en >= score_es AND score_en >= score_fr AND score_en > 0 THEN 'en'
                 WHEN score_es >= score_fr AND score_es > 0 THEN 'es'
                 WHEN score_fr > 0 THEN 'fr'
                 ELSE 'xx'
               END AS lang_pred
        FROM s ORDER BY doc_id
    """)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return text.with_lang_id(d).select(
        "doc_id", "score_de", "score_en", "score_es", "score_fr", "lang_pred"
    )


@query(oracle=f"""
        WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
        SELECT doc_id,
               md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint,
               list_min(list_transform({_SHINGLES}, s -> md5(s))) AS shingle_fingerprint
        FROM t ORDER BY doc_id
    """)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return text.with_fingerprint(d).select("doc_id", "fingerprint", "shingle_fingerprint")


@query(oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    bg AS (SELECT doc_id,
                  CASE WHEN len(toks) >= 2 THEN
                      list_transform(range(1, len(toks)),
                                     i -> toks[i] || ' ' || toks[i + 1])
                  ELSE [] END AS b
           FROM t),
    pos AS (SELECT doc_id, unnest(b) AS bigram FROM bg),
    cnt AS (SELECT doc_id, bigram, count(*) AS c FROM pos GROUP BY 1, 2),
    agg AS (SELECT doc_id, max(c) AS top, sum(c) AS total FROM cnt GROUP BY 1)
    SELECT t.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
           ROUND(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE)
                 / GREATEST(len(toks), 1), 6) AS dup_word_frac,
           ROUND(CAST(COALESCE(a.top, 0) AS DOUBLE)
                 / GREATEST(COALESCE(a.total, 0), 1), 6) AS top_bigram_frac
    FROM t LEFT JOIN agg a USING (doc_id) ORDER BY doc_id
""")
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return corpus.with_repetition(d)


@query(oracle=f"""
    WITH tok AS (SELECT DISTINCT doc_id, unnest({_TOKS}) AS tok FROM documents),
    w AS (SELECT doc_id,
                 {hashes.qs_weight_sql(hashes.token_hash_sql('tok'), text.QS_DIM, text.QS_WMOD)}
                     AS w
          FROM tok),
    per AS (SELECT doc_id, CAST(count(*) AS INT) AS n_distinct_tokens,
                   CAST(COALESCE(sum(w), 0) AS BIGINT) AS qs_raw
            FROM w GROUP BY doc_id)
    SELECT doc_id, n_distinct_tokens, qs_raw,
           ROUND(CAST(qs_raw AS DOUBLE)
                 / (1000.0 * CAST(GREATEST(n_distinct_tokens, 1) AS DOUBLE)),
                 6) AS quality_score,
           qs_raw > 0 AS qs_pass
    FROM per ORDER BY doc_id
""")
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-feature linear quality scoring (fastText-shaped) over the
    portable token hash, so the oracle recomputes identical integer
    sums."""
    d = load(spark, sf_dir, "documents")
    return text.with_quality_score(d)


@query(oracle=f"""
    WITH pred AS ({{LANG_ID_SQL}}),
    cells AS (
        SELECT d.lang AS lang_true, p.lang_pred,
               CAST(count(*) AS BIGINT) AS n
        FROM documents d JOIN pred p ON d.doc_id = p.doc_id
        GROUP BY 1, 2)
    SELECT lang_true, lang_pred, n,
           ROUND(CAST(n AS DOUBLE)
                 / sum(n) OVER (PARTITION BY lang_true), 6) AS share,
           CAST(lang_true = lang_pred AS INTEGER) AS correct
    FROM cells ORDER BY lang_true, lang_pred
""".replace("{LANG_ID_SQL}", EXTENSION_ORACLES["text_lang_id"]))
def text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix vs the declared lang column.
    See text.lang_confusion."""
    d = load(spark, sf_dir, "documents")
    return text.lang_confusion(d)


SIMHASH_HIST_CAP = 256


@query(oracle=f"""
    WITH tok AS (SELECT DISTINCT doc_id, unnest({_TOKS}) AS tok
                 FROM documents WHERE doc_id < {SIMHASH_HIST_CAP}),
    hs AS (SELECT DISTINCT doc_id, {hashes.token_hash_sql('tok')} AS h FROM tok),
    bits AS (SELECT doc_id, r.b,
                    CASE WHEN 2 * SUM((h >> r.b) & 1) > COUNT(*)
                         THEN 1 ELSE 0 END AS bit
             FROM hs, (SELECT unnest(range(62)) AS b) r
             GROUP BY doc_id, r.b),
    sim AS (SELECT doc_id,
                   SUM(bit * (CAST(1 AS BIGINT) << b)) AS simhash
            FROM bits GROUP BY doc_id),
    pairs AS (SELECT bit_count(xor(a.simhash, b.simhash)) AS hamming
              FROM sim a JOIN sim b ON a.doc_id < b.doc_id),
    binned AS (SELECT hamming, CAST(count(*) AS BIGINT) AS n_pairs
               FROM pairs GROUP BY 1),
    t AS (SELECT sum(n_pairs) AS tot FROM binned)
    SELECT CAST(hamming AS INT) AS hamming, n_pairs,
           ROUND(CAST(n_pairs AS DOUBLE) / CAST(tot AS DOUBLE), 6)
               AS pair_share
    FROM binned, t ORDER BY 1
""")
def text_simhash_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-distance calibration histogram over a fixed
    doc-id slice: the distance distribution that tells you where to
    put the banding radius BEFORE running simhash dedup (near-dups
    pile up at small distances, the random-pair bulk sits near 31 of
    62 bits) — the simhash twin of embedding_cos_histogram and
    dedup_shingle_sweep in the calibration family.

    Scale design: the all-pairs distance matrix is quadratic by
    definition, so it runs over a FIXED id slice (the cos_histogram
    precedent: the cap is pushed into the scan, pairs ≤ CAP²/2
    regardless of corpus size); sketches come from the one-shuffle
    portable simhash. Production banding never materializes this —
    it's the calibration readout only.
    """
    from pyspark.sql.functions import bit_count

    d = load(spark, sf_dir, "documents").filter(
        F.col("doc_id") < SIMHASH_HIST_CAP
    )
    sk = dedup.simhash64(d, "doc_id")
    a = sk.select(F.col("id").alias("ia"), F.col("simhash").alias("sa"))
    b = sk.select(F.col("id").alias("ib"), F.col("simhash").alias("sb"))
    pairs = a.join(b, F.col("ia") < F.col("ib")).select(
        bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).alias("hamming")
    )
    binned = pairs.groupBy("hamming").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    total = binned.agg(F.sum("n_pairs").alias("__tot"))
    return (
        binned.crossJoin(F.broadcast(total))
        .select(
            F.col("hamming").cast("int").alias("hamming"),
            "n_pairs",
            F.round(
                F.col("n_pairs").cast("double") / F.col("__tot").cast("double"),
                6,
            ).alias("pair_share"),
        )
        .orderBy("hamming")
    )
