"""Constants, SQL fragments, and helpers shared by more than one
extension-family module (split from the former extensions.py monolith —
pure move, VERDICT r6 #3). ``__all__`` includes the underscore names so
the family modules and tests can star-import them."""

from __future__ import annotations

__all__ = [
    'BLOOM_K',
    'COSINE_THRESHOLD',
    'JACCARD_THRESHOLD',
    '_JACCARD_PAIRS_ORACLE',
    '_SHINGLES',
    '_TOKS',
    '_ols_tail_sql',
]


JACCARD_THRESHOLD = 0.5


COSINE_THRESHOLD = 0.4


# DuckDB shingle expression shared by the jaccard + fingerprint oracles:
# tokens = whitespace-split of lower(trim(text)); 3-gram shingles.
_TOKS = "regexp_split_to_array(lower(trim(text)), '\\s+')"


_SHINGLES = (
    "list_distinct(CASE WHEN len(toks) >= 3 THEN "
    "list_transform(range(1, len(toks)-1), i -> toks[i]||' '||toks[i+1]||' '||toks[i+2]) "
    "ELSE [] END)"
)


_JACCARD_PAIRS_ORACLE = f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    sh AS (SELECT doc_id, {_SHINGLES} AS s FROM t),
    post AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
    sizes AS (SELECT doc_id, len(s) AS n FROM sh),
    inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
              FROM post a JOIN post b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT id_a, id_b,
           ROUND(CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE), 6) AS jaccard
    FROM inter JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
    WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= {JACCARD_THRESHOLD}
    ORDER BY id_a, id_b
"""


BLOOM_K = 4


def _ols_tail_sql(group_out: str) -> str:
    """DuckDB twin of analytics.ols_regression's fixed-point closed
    form, appended after a ``pts(g, x, y)`` CTE. Inputs quantize to
    integer micro-units (floor(v·1e6 + 0.5)) and the five moments sum
    EXACTLY (BIGINT per-row products, HUGEINT accumulation — the int128
    mirror of Spark's decimal(38,0) partials), so the sums are
    order-independent under DuckDB's parallel morsel scheduling; the
    closed form then runs over the same doubles with the same
    expression tree as the Spark side, making slope/intercept/r2
    bit-reproducible (the r6 corpus_heaps ±0.0 residue flake)."""
    return f"""
    q AS (SELECT g, CAST(floor(x * 1000000.0 + 0.5) AS BIGINT) AS xq,
                 CAST(floor(y * 1000000.0 + 0.5) AS BIGINT) AS yq
          FROM pts),
    m AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(xq) AS DOUBLE) AS sx,
                 CAST(sum(yq) AS DOUBLE) AS sy,
                 CAST(sum(xq * yq) AS DOUBLE) AS sxy,
                 CAST(sum(xq * xq) AS DOUBLE) AS sxx,
                 CAST(sum(yq * yq) AS DOUBLE) AS syy
          FROM q GROUP BY g)
    SELECT g AS {group_out}, n,
           ROUND(CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0
                      THEN (CAST(n AS DOUBLE) * sxy - sx * sy)
                           / (CAST(n AS DOUBLE) * sxx - sx * sx)
                 END, 6) AS slope,
           ROUND(CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0
                      THEN (sy - ((CAST(n AS DOUBLE) * sxy - sx * sy)
                                  / (CAST(n AS DOUBLE) * sxx - sx * sx))
                                 * sx)
                           / (CAST(n AS DOUBLE) * 1000000.0)
                 END, 6) AS intercept,
           ROUND(CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0
                       AND CAST(n AS DOUBLE) * syy - sy * sy > 0
                      THEN (CAST(n AS DOUBLE) * sxy - sx * sy)
                           * (CAST(n AS DOUBLE) * sxy - sx * sy)
                           / ((CAST(n AS DOUBLE) * sxx - sx * sx)
                              * (CAST(n AS DOUBLE) * syy - sy * sy))
                 END, 6) AS r2
    FROM m ORDER BY {group_out}
    """
