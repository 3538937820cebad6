"""Text-analysis operators for large-scale training-data pipelines.

All hot paths are JVM-side (``pyspark.sql.functions`` incl. array HOFs) —
no Python UDFs — so they stay inside whole-stage codegen and scale
linearly with input splits. What stays here is what other families
share: the whitespace tokenizer :func:`tokens` (``TOKENS(x)`` in the KSQL
dialect), the staged-tokens quality signals (:func:`with_quality`,
``STOPWORDS``), language ID (:func:`with_lang_id`,
:func:`lang_confusion`), fingerprints (:func:`with_fingerprint`) and the
hashed-feature quality score (:func:`with_quality_score`). The per-document
text queries without such a need are SQL, in ``extensions/text.sql``.

These extend the reference surface (the tutorial has no text ops) per the
north-star brief (BASELINE.json).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ksql_query_tutorial_spark.functions import hashes

# Marker-word profiles for the n-gram/stopword language-ID heuristic.
# Deterministic and intentionally simple: score(lang) = # tokens in the
# lang's marker set; prediction = argmax with lexicographic tie-break.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein"),
    "en": ("the", "a", "and", "is", "of", "to", "in"),
    "es": ("el", "la", "los", "y", "es", "de", "un"),
    "fr": ("le", "la", "les", "et", "est", "un", "une"),
}

STOPWORDS = ("the", "a", "and", "is", "of", "to", "in", "that", "it")


# The whitespace tokenizer's separator; ``TOKENS(x)`` in the KSQL
# dialect splits on the same pattern.
TOKEN_SEP = r"\s+"


def tokens(col: Column) -> Column:
    """Whitespace tokenization (lowercased)."""
    return F.split(F.lower(F.trim(col)), TOKEN_SEP)


def _count_in(toks: Column, words: tuple[str, ...]) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def _stage_toks(df: DataFrame, text_col: str, name: str = "__toks") -> DataFrame:
    """Stage the materialized tokens array as a temp attribute.

    The projected-attribute form (r7) keeps the regex split evaluated
    once per row instead of once per consuming expression; the staging
    column is dropped before returning. ADVICE r7: a caller frame that
    already carries the staging name would be silently overwritten and
    deleted — refuse instead of corrupting it.
    """
    if name in df.columns:
        raise ValueError(
            f"input already has a {name!r} column — the text operators "
            f"stage a temporary tokens attribute under that name; "
            f"rename the input column"
        )
    return df.withColumn(name, tokens(F.col(text_col)))


def with_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality-scoring signals: length, mean token length, stopword
    ratio, punctuation ratio, alpha ratio. Documents failing cheap
    heuristics get filtered before any expensive (model-based) scoring.

    The tokens array is materialized as a projected attribute (r7):
    the inline form re-ran the regex split once per consuming
    expression — four times per row across the three token-derived
    columns (see the shingles_of docstring for the CollapseProject
    boundary argument).
    """
    n_tok = F.size(F.col("__toks"))
    n_chars = F.length(F.col(text_col))
    return (
        _stage_toks(df, text_col)
        .withColumn("n_tokens", n_tok)
        .withColumn(
            "avg_token_len",
            F.round((F.length(F.regexp_replace(F.col(text_col), r"\s+", ""))).cast("double")
                    / F.greatest(n_tok, F.lit(1)).cast("double"), 6),
        )
        .withColumn(
            "stopword_ratio",
            F.round(_count_in(F.col("__toks"), STOPWORDS).cast("double")
                    / F.greatest(n_tok, F.lit(1)).cast("double"), 6),
        )
        .withColumn(
            "alpha_ratio",
            F.round(
                (n_chars - F.length(F.regexp_replace(F.col(text_col), r"[a-zA-Z]", "")))
                .cast("double") / F.greatest(n_chars, F.lit(1)).cast("double"), 6),
        )
        .drop("__toks")
    )


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: marker-word counts per language profile,
    argmax with deterministic lexicographic tie-break ('xx' when all
    scores are zero). One pass, no shuffle.
    """
    # materialized tokens attribute (r7): the inline form re-split the
    # text once per language profile — 4 tokenizations per row
    scored = _stage_toks(df, text_col)
    for lang, words in sorted(LANG_MARKERS.items()):
        scored = scored.withColumn(
            f"score_{lang}", _count_in(F.col("__toks"), words)
        )
    best = F.lit("xx")
    best_score = F.lit(0)
    # forward lexicographic order with strict `>`: the first language
    # reaching the running max wins, i.e. lex-smallest argmax on ties
    for lang in sorted(LANG_MARKERS):
        s = F.col(f"score_{lang}")
        best = F.when(s > best_score, F.lit(lang)).otherwise(best)
        best_score = F.when(s > best_score, s).otherwise(best_score)
    return scored.withColumn("lang_pred", best).drop("__toks")


def normalized(col: Column) -> Column:
    """Canonical text form for fingerprinting: lowercase, trim, collapse
    whitespace."""
    return F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact-content fingerprint: md5 of the normalized text (for exact
    dedup joins), plus a shingle fingerprint: the minimum md5 over 3-token
    shingles (a 1-hash MinHash — a cheap rolling-hash-style document
    sketch usable for near-dup blocking).

    The tokens array is materialized as a projected attribute so the
    regex split runs once per row; an inline tokenizer expression
    re-evaluates the split inside the size guard and the
    transform (3 splits/row — measured 3.6s vs 1.1s at sf0.1 once the
    bench checksum action stopped letting Catalyst prune it).
    """
    from ksql_query_tutorial_spark.operators.dedup import shingles_of

    return (
        _stage_toks(df, text_col)
        .withColumn("fingerprint", F.md5(normalized(F.col(text_col))))
        .withColumn(
            "shingle_fingerprint",
            F.array_min(
                F.transform(shingles_of(F.col("__toks"), 3), F.md5)
            ),
        )
        .drop("__toks")
    )


# hashed-feature linear scorer: feature dim and weight modulus
# (weights land in [-1000, 1000]; hashes.qs_weight)
QS_DIM = 4096
QS_WMOD = 2001


def with_quality_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = QS_DIM,
) -> DataFrame:
    """fastText-shaped quality scoring: distinct tokens → hashed feature
    buckets → a linear layer of deterministic pseudo-weights →
    per-document mean. The real-world twin swaps the pseudo-weight
    formula for a broadcast learned weight vector — the PLAN is
    identical (hash, map through a dim-bounded table, doc-keyed sum),
    which is what matters at 100 TB: one explode + one doc-keyed
    rollup shuffle, weights never leave the executors, no model server
    in the loop.

    Weights are integers in [-1000, 1000] (``(bucket · Knuth) mod 2001
    - 1000``), so the per-doc sum is EXACT integer arithmetic —
    bit-reproducible by any SQL engine; only the final normalized score
    divides (rounded to 6 dp, the repo-wide oracle convention).

    Tokens hash with :func:`hashes.token_hash` (oracle-matched).

    Returns ``id_col, n_distinct_tokens, qs_raw, quality_score,
    qs_pass`` (pass ⇔ positive raw score).
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    toks = df.repartition(par, F.col(id_col)).select(
        F.col(id_col),
        F.explode_outer(F.array_distinct(tokens(F.col(text_col)))).alias("tok"),
    )
    weight = F.expr(hashes.qs_weight(hashes.token_hash("tok"), dim, QS_WMOD))
    per_doc = (
        toks.withColumn("__w", weight)
        .groupBy(id_col)
        .agg(
            F.count("tok").cast("int").alias("n_distinct_tokens"),
            F.coalesce(F.sum("__w"), F.lit(0)).cast("long").alias("qs_raw"),
        )
    )
    return (
        per_doc.withColumn(
            "quality_score",
            F.round(
                F.col("qs_raw").cast("double")
                / (1000.0 * F.greatest(F.col("n_distinct_tokens"), F.lit(1)).cast("double")),
                6,
            ),
        )
        .withColumn("qs_pass", F.col("qs_raw") > 0)
    )


def lang_confusion(
    df: DataFrame,
    lang_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Language-ID confusion matrix: the heuristic predictor
    (:func:`with_lang_id`) scored against the declared language
    column — the calibration report that tells a curation pipeline
    which language pairs its cheap classifier confuses (and that
    unsupported languages land in 'xx', not in a wrong bucket).

    Scale design: the predictor is one JVM pass; the confusion rollup
    is ≤ |langs|² cells with map-side partials, and the per-true-lang
    share window runs over that bounded cell table.
    """
    pred = with_lang_id(df, text_col)
    cells = pred.groupBy(
        F.col(lang_col).alias("lang_true"), "lang_pred"
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    w = Window.partitionBy("lang_true")
    return cells.select(
        "lang_true",
        "lang_pred",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(w), 6).alias(
            "share"
        ),
        (F.col("lang_true") == F.col("lang_pred")).cast("int").alias(
            "correct"
        ),
    ).orderBy("lang_true", "lang_pred")


