-- Per-document text analysis over the documents fixture (doc_id, text,
-- lang, source, n_chars): token counts, PII scrubbing, character entropy,
-- readability, code detection and winnowing fingerprints, declared once
-- each as Spark SQL in the KSQL dialect. text_q.py registers each with its
-- DuckDB oracle; queries.compiled builds it, as for retail.sql, with
-- ksql.engine.select_over over the fixture tables it names. TOKENS(x) is
-- the engine's whitespace tokenizer (lowercased, trimmed, split on runs of
-- whitespace), the twin of operators.text.tokens. Every regex stays inside
-- the common subset of java.util.regex and RE2 (no lookarounds, no
-- backreferences), so the oracle's DuckDB reproduces each match; patterns
-- are raw literals, r'...', and regexp_extract_all names group 0 (the
-- whole match). Every table is named after FROM or JOIN, and comments
-- stand on their own lines.

-- Token and character counts, the unit economics of a training corpus:
-- whitespace tokens, BPE-ish word pieces (alphanumeric runs plus each
-- punctuation mark, whitespace dropped: the closer proxy for an LLM token
-- budget) and characters. One narrow projection, no shuffle.
CREATE TABLE text_token_stats AS
SELECT doc_id,
  size(TOKENS(text)) AS n_tokens,
  size(regexp_extract_all(lower(text), r'[a-z0-9]+|[^a-z0-9\s]', 0)) AS n_bpe_tokens,
  length(text) AS n_chars_measured
FROM documents;

-- PII detection and redaction: per-category match counts and the text
-- with every match replaced by its placeholder, the scrub every training
-- corpus runs before anything else reads it. Counts are taken on the
-- original text per category; the redaction applies the categories in a
-- fixed order (email, since an address can embed digit runs, then phone,
-- then IPv4), so overlapping matches resolve the same way in any engine.
-- The IPv4 octet alternation rejects values over 255, so dotted quads such
-- as 1.2.3.999 stay. Pure per-row projections at scan speed. The fixture
-- corpus holds no PII; tests plant it.
CREATE TABLE text_pii AS
WITH c AS (
  SELECT doc_id, text,
    size(regexp_extract_all(text, r'[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', 0))
      AS n_email,
    size(regexp_extract_all(text, r'\b\d{3}[-.]\d{3}[-.]\d{4}\b', 0)) AS n_phone,
    size(regexp_extract_all(text,
      r'\b(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\b',
      0)) AS n_ipv4
  FROM documents)
SELECT doc_id, n_email, n_phone, n_ipv4, n_email + n_phone + n_ipv4 > 0 AS has_pii,
  regexp_replace(regexp_replace(regexp_replace(text,
    r'[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '[EMAIL]'),
    r'\b\d{3}[-.]\d{3}[-.]\d{4}\b', '[PHONE]'),
    r'\b(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\b',
    '[IP]') AS redacted
FROM c;

-- Character-level Shannon entropy per document, the gibberish and
-- binary-noise signal (low: repeated filler; high: encrypted or binary
-- junk). H = log2(n) - (1/n) sum c log2(c) over per-character counts, so
-- the whole computation is two grouped aggregates with map-side partials:
-- (doc, char) counts, then a doc-keyed fold. The characters come from
-- exploding split(text, ''), one element per character; exploding a
-- sequence(1, length) and taking substrings instead carried the whole
-- text through the generator for every character, O(L^2) bytes per
-- document (3.7 s against 0.6 s at sf0.1). split('', '') is one empty
-- element, so the length filter drops empty documents, as the oracle's
-- empty range does.
CREATE TABLE text_entropy AS
WITH counts AS (
  SELECT doc_id, ch, count(1) AS c
  FROM (SELECT doc_id, explode(split(text, '')) AS ch FROM documents WHERE length(text) > 0)
  GROUP BY doc_id, ch)
SELECT doc_id, sum(c) AS n_chars_counted, count(1) AS n_unique_chars,
  round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 6) AS char_entropy
FROM counts GROUP BY doc_id;

-- Flesch reading ease per document: whitespace words, sentences
-- (terminal punctuation, floor 1), a vowel-group syllable proxy (floor 1)
-- and 206.835 - 1.015 (words / sentences) - 84.6 (syllables / words), the
-- cheap fluency feature quality filters combine with stopword and entropy
-- signals. Per-row regex counting in one projection, no shuffle before
-- the final sort; the arithmetic is per-row IEEE, so both engines give
-- the same 4-decimal score.
CREATE TABLE text_readability AS
SELECT doc_id,
  greatest(size(TOKENS(text)), 1) AS n_words,
  greatest(size(regexp_extract_all(text, r'[.!?]', 0)), 1) AS n_sentences,
  greatest(size(regexp_extract_all(lower(text), r'[aeiouy]+', 0)), 1) AS n_syllables,
  round(206.835D
    - 1.015D * (CAST(greatest(size(TOKENS(text)), 1) AS DOUBLE)
                / CAST(greatest(size(regexp_extract_all(text, r'[.!?]', 0)), 1) AS DOUBLE))
    - 84.6D * (CAST(greatest(size(regexp_extract_all(lower(text), r'[aeiouy]+', 0)), 1) AS DOUBLE)
               / CAST(greatest(size(TOKENS(text)), 1) AS DOUBLE)), 4) AS flesch
FROM documents ORDER BY doc_id;

-- Code-versus-prose signals, the filter that routes source code away from
-- (or into) the prose mixture: lines, indented lines, structural-symbol
-- density, language-keyword hits and camelCase identifiers, and the
-- verdict is_code (symbol ratio at least 0.05, or at least 3 keywords).
-- Regex arithmetic over one projection, no shuffle before the final sort.
CREATE TABLE text_code_detect AS
SELECT doc_id,
  size(split(text, '\n')) AS n_lines,
  size(regexp_extract_all(text, r'(?m)^[ \t]', 0)) AS n_indented,
  round(CAST(size(regexp_extract_all(text, r'[{}();=<>\[\]]', 0)) AS DOUBLE)
        / CAST(greatest(length(text), 1) AS DOUBLE), 6) AS symbol_ratio,
  size(regexp_extract_all(lower(text),
    r'\b(def|class|function|return|import|var|let|const|void|public|static|if|else|for|while|lambda|struct|enum)\b',
    0)) AS kw_hits,
  size(regexp_extract_all(text, r'\b[a-z]+[A-Z][a-zA-Z]*\b', 0)) AS camel_hits,
  round(CAST(size(regexp_extract_all(text, r'[{}();=<>\[\]]', 0)) AS DOUBLE)
        / CAST(greatest(length(text), 1) AS DOUBLE), 6) >= 0.05D
    OR size(regexp_extract_all(lower(text),
      r'\b(def|class|function|return|import|var|let|const|void|public|static|if|else|for|while|lambda|struct|enum)\b',
      0)) >= 3 AS is_code
FROM documents ORDER BY doc_id;

-- Winnowing fingerprints (Schleimer, Wilkerson and Aiken, SIGMOD 2003;
-- the MOSS algorithm): the distinct minima of the md5 hashes of a
-- document's 3-token shingles over each sliding window of 4 shingles. Two
-- documents sharing a run of at least 4 + 3 - 1 = 6 tokens share a
-- fingerprint: a position-robust sketch between one hash per document and
-- the full shingle set. The documents are repartitioned by id before the
-- explode, so the one shuffle moves document rows, not token rows; the
-- lead window and the sliding-minimum frame then run on that partitioning
-- with no further exchange. md5, not xxhash64, so the oracle computes the
-- same values.
CREATE TABLE text_winnowing AS
WITH pos_toks AS (
  SELECT doc_id, posexplode(TOKENS(text)) AS (pos, tok)
  FROM (SELECT /*+ REPARTITION(doc_id) */ doc_id, text FROM documents)),
sh AS (
  SELECT doc_id, pos, md5(concat_ws(' ', tok, t1, t2)) AS h
  FROM (SELECT doc_id, pos, tok,
          lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS t1,
          lead(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS t2
        FROM pos_toks)
  WHERE t2 IS NOT NULL),
win AS (
  SELECT doc_id,
    min(h) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
    count(1) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
      AS cnt
  FROM sh)
SELECT DISTINCT doc_id, fp FROM win WHERE cnt = 4;
