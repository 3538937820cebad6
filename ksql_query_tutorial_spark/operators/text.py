"""Text-analysis operators for large-scale training-data pipelines.

All hot paths are JVM-side (``pyspark.sql.functions`` incl. array HOFs) —
no Python UDFs — so they stay inside whole-stage codegen and scale
linearly with input splits: tokenization, quality scoring, language ID,
and fingerprinting are each a single narrow (shuffle-free) projection
over the ``documents`` table.

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


def tokens(col: Column) -> Column:
    """Whitespace tokenization (lowercased). BPE-ish splitting is the
    regex in :func:`bpe_ish_tokens`; this is the cheap default."""
    return F.split(F.lower(F.trim(col)), r"\s+")


def bpe_ish_tokens(col: Column) -> Column:
    """BPE-flavored tokenization: alphanumeric runs as word pieces plus
    each punctuation mark as its own token, whitespace dropped.

    One ``regexp_extract_all`` — whole-stage codegen (no lambda HOF),
    and the pattern avoids lookarounds so RE2-based engines (DuckDB
    oracle) tokenize identically."""
    return F.regexp_extract_all(F.lower(col), F.lit(r"[a-z0-9]+|[^a-z0-9\s]"), 0)


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


def with_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token & char counts: the unit economics of a training corpus.

    ``n_tokens`` = whitespace tokens; ``n_bpe_tokens`` = BPE-ish word
    pieces (:func:`bpe_ish_tokens`) — the closer proxy for LLM token
    budgets."""
    t = tokens(F.col(text_col))
    return (
        df.withColumn("n_tokens", F.size(t))
        .withColumn("n_bpe_tokens", F.size(bpe_ish_tokens(F.col(text_col))))
        .withColumn("n_chars_measured", F.length(F.col(text_col)))
    )


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


def winnowing_fingerprints(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", n: int = 3,
                           window: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): the distinct set of per-window
    minimum shingle hashes, sliding a ``window`` over the doc's n-gram
    sequence.

    Guarantee: two documents sharing a run of ≥ ``window + n − 1``
    tokens share at least one fingerprint — a position-robust sketch
    between one-hash-per-doc (:func:`with_fingerprint`) and the full
    shingle set (dedup posting).

    Spark-first: posexplode + lead window for shingles (codegen, one
    shuffle on the doc id), a second frame on the SAME partitioning for
    the sliding min (no extra exchange). md5 (not xxhash64) so an
    engine-independent oracle computes identical values.

    Returns: ``(doc_id, fp)`` distinct rows.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    src = df.repartition(par, F.col(id_col))
    pos_toks = src.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "tok"),
    )
    w_lead = Window.partitionBy("doc_id").orderBy("pos")
    lead_cols = [F.lead("tok", j).over(w_lead).alias(f"t{j}") for j in range(1, n)]
    sh = (
        pos_toks.select("doc_id", "pos", "tok", *lead_cols)
        .filter(F.col(f"t{n-1}").isNotNull())
        .select(
            "doc_id", "pos",
            F.md5(F.concat_ws(" ", "tok", *[f"t{j}" for j in range(1, n)])).alias("h"),
        )
    )
    frame = (
        Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(Window.currentRow, window - 1)
    )
    win = sh.select(
        "doc_id",
        F.min("h").over(frame).alias("fp"),
        F.count(F.lit(1)).over(frame).alias("cnt"),
    )
    return win.filter(F.col("cnt") == window).select("doc_id", "fp").distinct()


# PII patterns chosen for CROSS-ENGINE regex parity: no lookarounds, no
# backrefs, no \w-class ambiguity — the same pattern string compiles to
# the same language under java.util.regex (Spark) and RE2 (DuckDB,
# which rejects lookarounds outright). Order matters and is fixed:
# email first (an address can embed digit runs), then phone, then IPv4.
# The IPv4 octet alternation rejects values > 255, so dotted quads like
# "1.2.3.999" (version strings, malformed addresses) are NOT redacted.
_OCTET = r"(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}", "[EMAIL]"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "[PHONE]"),
    ("ipv4", rf"\b{_OCTET}\.{_OCTET}\.{_OCTET}\.{_OCTET}\b", "[IP]"),
)


def with_pii_redaction(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII detection + redaction: per-category match counts and the
    text with every match replaced by its placeholder — the scrub every
    training corpus runs before anything else sees the data.

    Pure JVM ``regexp_extract_all`` / ``regexp_replace`` projections —
    no shuffle, no Python, whole-stage codegen; at 100 TB this runs at
    scan speed. Counts are taken on the ORIGINAL text per category
    (order-independent); the redaction applies the categories in the
    fixed ``PII_PATTERNS`` order so overlapping matches resolve
    deterministically and identically in any engine.

    Adds ``n_email, n_phone, n_ipv4, has_pii, redacted``.
    """
    out = df
    for name, pat, _ in PII_PATTERNS:
        out = out.withColumn(
            f"n_{name}",
            F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0))).cast("int"),
        )
    red = F.col(text_col)
    for _, pat, repl in PII_PATTERNS:
        red = F.regexp_replace(red, pat, repl)
    return out.withColumn(
        "has_pii",
        sum(F.col(f"n_{name}") for name, _, _ in PII_PATTERNS) > 0,
    ).withColumn("redacted", red)


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
    weight = hashes.qs_weight(hashes.token_hash(F.col("tok")), dim, QS_WMOD)
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


def with_char_entropy(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Character-level Shannon entropy per document — the gibberish /
    binary-noise quality signal (low entropy = repeated filler, high
    entropy = encrypted/binary junk; natural text sits in a band).

    Uses the identity ``H = log2(n) - (1/n)·Σ c·log2(c)`` over the
    per-character counts so the whole computation is two grouped
    aggregates: (doc, char) counts — partial-agg'd map-side, shuffle
    bounded by |docs| × |alphabet| — then a doc-keyed fold. The char
    fold explodes ``split(text, '')`` (one single-char array element
    per character, pure JVM). The former shape exploded
    ``sequence(1, length)`` and carried the FULL text column through
    the Generate for the substring — every character row materialized
    the whole document, O(L²) bytes per doc (measured 3.7s vs 0.6s at
    sf0.1 once the bench checksum action stopped pruning it).

    Empty documents carry no characters and are dropped (matching the
    SQL oracle's empty ``range``) — by the explicit length filter:
    ``split('', '')`` is ``[""]`` (one empty-string element; show()
    deceptively renders it ``[]``), so without the filter an empty doc
    would emit one phantom character row.

    Returns ``id_col, n_chars_counted, n_unique_chars, char_entropy``.
    """
    chars = df.filter(F.length(F.col(text_col)) > 0).select(
        id_col,
        F.explode(F.split(F.col(text_col), "")).alias("ch"),
    )
    counts = chars.groupBy(id_col, "ch").agg(F.count(F.lit(1)).alias("c"))
    return (
        counts.groupBy(id_col)
        .agg(
            F.sum("c").alias("n_chars_counted"),
            F.count(F.lit(1)).alias("n_unique_chars"),
            F.round(
                F.log2(F.sum("c"))
                - F.sum(F.col("c") * F.log2("c")) / F.sum("c"),
                6,
            ).alias("char_entropy"),
        )
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


def with_readability(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Flesch-style readability per document: word count (whitespace
    tokens), sentence count (terminal punctuation, floor 1), a
    vowel-group syllable proxy, and the classic
    ``206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)``
    reading-ease score — the cheap fluency feature quality filters
    combine with stopword/entropy signals.

    Scale design: pure per-row regexp counting in codegen — no
    shuffle, no Python; the score arithmetic is per-row IEEE, so both
    engines produce identical 4dp values.
    """
    toks = tokens(F.col(text_col))
    n_words = F.greatest(F.size(toks), F.lit(1))
    n_sents = F.greatest(
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(r"[.!?]"), 0)),
        F.lit(1),
    )
    n_syll = F.greatest(
        F.size(
            F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit(r"[aeiouy]+"), 0
            )
        ),
        F.lit(1),
    )
    score = (
        F.lit(206.835)
        - F.lit(1.015) * (n_words.cast("double") / n_sents.cast("double"))
        - F.lit(84.6) * (n_syll.cast("double") / n_words.cast("double"))
    )
    return df.select(
        "doc_id",
        n_words.cast("int").alias("n_words"),
        n_sents.cast("int").alias("n_sentences"),
        n_syll.cast("int").alias("n_syllables"),
        F.round(score, 4).alias("flesch"),
    ).orderBy("doc_id")


CODE_SYMBOL_RE = r"[{}();=<>\[\]]"
CODE_KEYWORD_RE = (
    r"\b(def|class|function|return|import|var|let|const|void|"
    r"public|static|if|else|for|while|lambda|struct|enum)\b"
)
CODE_CAMEL_RE = r"\b[a-z]+[A-Z][a-zA-Z]*\b"
CODE_SYMBOL_RATIO_MIN = 0.05
CODE_KEYWORD_MIN = 3


def code_signals(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Code-vs-prose detection signals — the filter every LLM text
    pipeline runs to route source code away from (or into) the prose
    mixture: structural-symbol density, indented-line share, language
    keyword hits, camelCase identifier hits, and the combined
    ``is_code`` verdict (symbol-dense OR keyword-heavy).

    Everything is codegen JVM regexp arithmetic over one projection —
    no shuffle, no Python, no UDFs (the text.py discipline); the
    patterns are RE2-compatible so the DuckDB oracle evaluates the
    identical expressions.

    Returns ``doc_id, n_lines, n_indented, symbol_ratio, kw_hits,
    camel_hits, is_code`` (ratio rounded 6) ordered by doc id.
    """
    n_chars = F.length(text_col)
    n_lines = F.size(F.split(F.col(text_col), "\n", -1))
    n_indent = F.size(
        F.regexp_extract_all(
            F.col(text_col), F.lit(r"(?m)^[ \t]"), F.lit(0)
        )
    )
    n_sym = F.size(
        F.regexp_extract_all(F.col(text_col), F.lit(CODE_SYMBOL_RE), F.lit(0))
    )
    kw = F.size(
        F.regexp_extract_all(
            F.lower(F.col(text_col)), F.lit(CODE_KEYWORD_RE), F.lit(0)
        )
    )
    camel = F.size(
        F.regexp_extract_all(F.col(text_col), F.lit(CODE_CAMEL_RE), F.lit(0))
    )
    sym_ratio = F.round(
        n_sym.cast("double") / F.greatest(n_chars, F.lit(1)).cast("double"),
        6,
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        n_lines.cast("int").alias("n_lines"),
        n_indent.cast("int").alias("n_indented"),
        sym_ratio.alias("symbol_ratio"),
        kw.cast("int").alias("kw_hits"),
        camel.cast("int").alias("camel_hits"),
        (
            (sym_ratio >= CODE_SYMBOL_RATIO_MIN)
            | (kw >= CODE_KEYWORD_MIN)
        ).alias("is_code"),
    ).orderBy("doc_id")
