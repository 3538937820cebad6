-- Corpus-level planning and audit queries over the documents fixture
-- (doc_id, text, lang, source, n_chars): sequence packing and chunking,
-- mixture budgets and weights, vocabulary, TF-IDF, heavy hitters,
-- co-occurrence, cleaning, the inverted index and search, snapshot diffs,
-- the corpus dashboards and the hash samplers, splits and sketches,
-- declared once each as Spark SQL in the KSQL dialect. ID_HASH(doc_id,
-- m), TOKEN_HASH(tok) and KMV_MIX(h) are the dialect's spellings of the
-- portable hashes of functions.hashes, whose DuckDB twins the oracles
-- use. corpus_q.py registers each with its DuckDB oracle;
-- queries.compiled builds it, as for retail.sql, with
-- ksql.engine.select_over over the fixture tables it names. TOKENS(x) is
-- the engine's whitespace tokenizer, the twin of operators.text.tokens.
-- Every shuffle key is the document id, a term or a bounded domain
-- (source, lang, bin), so no exchange concentrates data on an unbounded
-- hot key. Physical choices are written into the text: BROADCAST hints on
-- one-row and per-source build sides, and the tokens array projected
-- before any lambda reads it. Literals are the query parameters (budgets,
-- weights, thresholds, k); the oracles state the same values. D-suffixed
-- literals are DOUBLE, as the arithmetic they enter. Every table is named
-- after FROM or JOIN, and comments stand on their own lines.

-- GPT-style sequence packing: every document's tokens laid end to end in
-- doc_id order and cut into 512-token context windows (a document may
-- straddle a cut). The running token offset is a hierarchical prefix sum,
-- not one global window, which would serialize the corpus through one
-- task: an exclusive running sum within blocks of 100,000 ids (parallel
-- across blocks), block totals (corpus rows / 100,000 of them), an
-- exclusive running sum over that small block table, and a broadcast of
-- the block offsets back onto the documents. pack_id and pack_end are the
-- first and last windows a document touches.
CREATE TABLE pack_sequences AS
WITH base AS (
  SELECT doc_id, CAST(size(TOKENS(text)) AS BIGINT) AS n_tokens,
    CAST(doc_id / 100000 AS BIGINT) AS __blk
  FROM documents),
intra AS (
  SELECT *, coalesce(sum(n_tokens) OVER (PARTITION BY __blk ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS __local
  FROM base),
blk_offsets AS (
  SELECT __blk, coalesce(sum(__blk_total) OVER (ORDER BY __blk
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS __blk_off
  FROM (SELECT __blk, sum(n_tokens) AS __blk_total FROM base GROUP BY __blk)),
packed AS (
  SELECT /*+ BROADCAST(blk_offsets) */ doc_id, n_tokens, __blk_off + __local AS begin_offset
  FROM intra JOIN blk_offsets USING (__blk)),
spans AS (
  SELECT doc_id, n_tokens, begin_offset, CAST(begin_offset / 512 AS BIGINT) AS pack_id,
    CAST((begin_offset + greatest(n_tokens, 1) - 1) / 512 AS BIGINT) AS pack_end
  FROM packed)
SELECT doc_id, n_tokens, begin_offset, pack_id, pack_end, pack_end > pack_id AS straddles
FROM spans;

-- Mixture planning: per-source token accounting under the weights src0
-- 2.0, src1 0.5 and 1.0 for every other source, the source's share of a
-- 100,000-token budget, and the sampling fraction that realizes it,
-- capped at 1 (a source cannot give more than it has). One bounded
-- per-source aggregate; the weight total is an OVER () window over that
-- |sources|-row rollup, in one task, so the corpus is read once.
CREATE TABLE mix_budget AS
WITH per_source AS (
  SELECT source, count(1) AS n_docs, sum(__t) AS n_tokens,
    round(CASE source WHEN 'src0' THEN 2.0D WHEN 'src1' THEN 0.5D ELSE 1.0D END, 6) AS weight
  FROM (SELECT source, CAST(size(TOKENS(text)) AS BIGINT) AS __t FROM documents)
  GROUP BY source),
alloc AS (
  SELECT *, CAST(floor(100000.0D * weight / sum(weight) OVER ()) AS BIGINT) AS alloc_tokens
  FROM per_source)
SELECT source, n_docs, n_tokens, weight, alloc_tokens,
  round(least(1.0D, CAST(alloc_tokens AS DOUBLE) / CAST(greatest(n_tokens, 1) AS DOUBLE)), 6)
    AS sample_frac
FROM alloc;

-- Corpus vocabulary: per distinct token, the collection frequency and the
-- document frequency. Each is one term-keyed exchange whose map-side
-- partial aggregate absorbs hot stopwords (the word-count plan), and the
-- per-document array_distinct caps a document's df contribution at 1.
CREATE TABLE corpus_vocab AS
WITH tf AS (
  SELECT term, count(1) AS tf_total
  FROM (SELECT explode(TOKENS(text)) AS term FROM documents) GROUP BY term),
dfreq AS (
  SELECT term, count(1) AS df
  FROM (SELECT explode(array_distinct(TOKENS(text))) AS term FROM documents) GROUP BY term)
SELECT term, tf_total, df FROM tf JOIN dfreq USING (term);

-- Per-(document, distinct term) TF-IDF with the smoothed IDF
-- ln((N + 1) / (df + 1)) + 1 (scikit-learn's convention). The document
-- frequencies are their own per-document-distinct explode (the vocab
-- plan), joined back onto the postings: deriving them from the postings
-- would run the (doc, term) exchange twice, since Spark does not reuse
-- that stage across two consumers. N rides in as a broadcast one-row
-- cross join, so there is no driver-side count. Persisting the input
-- measured 0.92x at both sf0.1 and sf1, within noise, and would be a
-- corpus-sized cache.
CREATE TABLE corpus_tfidf AS
WITH postings AS (
  SELECT doc_id, term, count(1) AS tf
  FROM (SELECT doc_id, explode(TOKENS(text)) AS term FROM documents) GROUP BY doc_id, term),
dfreq AS (
  SELECT term, count(1) AS df
  FROM (SELECT explode(array_distinct(TOKENS(text))) AS term FROM documents) GROUP BY term),
n_docs AS (SELECT count(1) AS __n FROM documents)
SELECT /*+ BROADCAST(n_docs) */ doc_id, term, tf, df,
  round(CAST(tf AS DOUBLE)
        * (ln((CAST(__n AS DOUBLE) + 1.0D) / (CAST(df AS DOUBLE) + 1.0D)) + 1.0D), 6) AS tfidf
FROM postings JOIN dfreq USING (term) CROSS JOIN n_docs;

-- Exact top 5 terms per source, ties to the smaller term: per-source
-- vocabulary skew is the first sign of a contaminated or templated slice
-- of a mixture. One (source, term) aggregate whose partials absorb hot
-- terms map-side, then a per-source top-k window over one row per
-- (source, distinct term), bounded by the vocabulary, not the corpus.
CREATE TABLE corpus_heavy_hitters AS
WITH counts AS (
  SELECT `group`, term, count(1) AS cnt
  FROM (SELECT source AS `group`, explode(TOKENS(text)) AS term FROM documents)
  GROUP BY `group`, term)
SELECT `group`, term, cnt, rank
FROM (SELECT *, row_number() OVER (PARTITION BY `group` ORDER BY cnt DESC, term ASC) AS rank
      FROM counts)
WHERE rank <= 5;

-- Context-window chunking: each document's tokens cut into consecutive
-- 16-token chunks (the per-document inverse of pack_sequences, as RAG,
-- SFT and embedding pipelines chunk). The last chunk may be short, and a
-- document always gives at least one chunk, since the tokenizer never
-- returns an empty array. A projection and one generator over a sequence
-- of chunk ids: no shuffle, no window, and each chunk stays in its
-- document's partition.
CREATE TABLE corpus_chunk AS
WITH base AS (
  SELECT doc_id, TOKENS(text) AS __toks, size(TOKENS(text)) AS __n FROM documents),
chunks AS (
  SELECT doc_id, __toks, __n,
    explode(sequence(0, CAST(ceil(__n / 16.0D) AS INT) - 1)) AS chunk_id
  FROM base)
SELECT doc_id, chunk_id, chunk_id * 16 AS begin_tok,
  least(16, __n - chunk_id * 16) AS n_chunk_tokens,
  array_join(slice(__toks, chunk_id * 16 + 1, 16), ' ') AS chunk_text
FROM chunks;

-- Snapshot diff between two deterministic views of the documents (old:
-- ids not divisible by 7; new: ids not divisible by 5, with every 11th
-- document's text revised): each document classified added, removed,
-- changed or unchanged by md5 fingerprint. One id-keyed full outer join,
-- co-partitioned on the id; no text moves.
CREATE TABLE corpus_diff AS
WITH o AS (
  SELECT doc_id AS __id, md5(text) AS old_fp FROM documents WHERE doc_id % 7 <> 0),
n AS (
  SELECT doc_id AS __id,
    md5(CASE WHEN doc_id % 11 = 0 THEN concat(text, ' [rev2]') ELSE text END) AS new_fp
  FROM documents WHERE doc_id % 5 <> 0)
SELECT __id AS doc_id,
  CASE WHEN old_fp IS NULL THEN 'added' WHEN new_fp IS NULL THEN 'removed'
       WHEN old_fp = new_fp THEN 'unchanged' ELSE 'changed' END AS status,
  old_fp, new_fp
FROM o FULL OUTER JOIN n USING (__id);

-- Word co-occurrence with pointwise mutual information, the count
-- pipeline under word2vec- and GloVe-style embeddings: ordered pairs (w1
-- at i, w2 at j) with i < j <= i + 3, pruned to at least 3 occurrences,
-- PMI = log2((c12 / T_pairs) / ((c1 / T_uni) (c2 / T_uni))). Pairs come
-- from a nested transform over each token array (slice is 1-based, so the
-- window after 0-based i starts at i + 2), never a positions self-join,
-- which would shuffle the corpus again. The pair and unigram counts are
-- the only full-data exchanges; the prune runs before the PMI joins, and
-- the two totals ride in as a broadcast row that reuses those exchanges.
CREATE TABLE corpus_cooccurrence AS
WITH t AS (SELECT TOKENS(text) AS toks FROM documents),
pair_counts AS (
  SELECT w1, w2, count(1) AS n_pair
  FROM (SELECT p.w1, p.w2
        FROM (SELECT explode(flatten(transform(toks, (x, i) -> transform(slice(toks, i + 2, 3),
                y -> struct(x AS w1, y AS w2))))) AS p
              FROM t))
  GROUP BY w1, w2),
uni AS (SELECT w, count(1) AS cu FROM (SELECT explode(toks) AS w FROM t) GROUP BY w),
totals AS (
  SELECT tp, tu
  FROM (SELECT sum(n_pair) AS tp FROM pair_counts) CROSS JOIN (SELECT sum(cu) AS tu FROM uni))
SELECT /*+ BROADCAST(totals) */ w1, w2, n_pair,
  round(log2((n_pair / tp) / ((c1 / tu) * (c2 / tu))), 6) AS pmi
FROM (SELECT * FROM pair_counts WHERE n_pair >= 3)
JOIN (SELECT w AS w1, cu AS c1 FROM uni) USING (w1)
JOIN (SELECT w AS w2, cu AS c2 FROM uni) USING (w2)
CROSS JOIN totals;

-- One-row corpus dashboard: document, source and language counts, token
-- volume and the exact-duplicate ratio, the header of every dataset card.
-- The bounded source and lang domains count through COUNT_DISTINCT
-- (collect_set, one object-hash aggregate); the one count(DISTINCT) on
-- the text's md5 plans a single-distinct aggregate, so the plan has no
-- Expand whose group order could vary from run to run.
CREATE TABLE corpus_summary AS
SELECT count(1) AS n_docs, COUNT_DISTINCT(source) AS n_sources, COUNT_DISTINCT(lang) AS n_langs,
  sum(__chars) AS total_chars, sum(__toks) AS total_tokens, round(avg(__toks), 6) AS avg_tokens,
  round(1 - count(DISTINCT __fp) / count(1), 6) AS exact_dup_ratio
FROM (SELECT lang, source, length(text) AS __chars, size(TOKENS(text)) AS __toks,
        md5(text) AS __fp
      FROM documents);

-- Temperature-scaled mixture weights (the mT5 and XLM-R multilingual
-- rule): each source's sampling probability is its token share raised to
-- alpha = 0.3 and renormalized, so small sources are upsampled (alpha 1
-- is proportional, alpha 0 uniform); boost = p_temp / p_raw is the factor
-- a sampler applies. mix_budget is the explicit-weights planner; this one
-- derives the weights from the corpus. One bounded per-source aggregate;
-- the token total and the weight sum are OVER () windows over that
-- |sources|-row rollup, in one task, so the corpus is read once.
CREATE TABLE corpus_mix_temperature AS
WITH per_source AS (
  SELECT source, count(1) AS n_docs, sum(__t) AS n_tokens
  FROM (SELECT source, CAST(size(TOKENS(text)) AS BIGINT) AS __t FROM documents)
  GROUP BY source),
shares AS (
  SELECT source, n_docs, n_tokens,
    CAST(n_tokens AS DOUBLE) / CAST(greatest(sum(n_tokens) OVER (), 1) AS DOUBLE) AS p_raw
  FROM per_source),
scaled AS (SELECT *, power(p_raw, 0.3D) AS __w FROM shares),
tempered AS (
  SELECT source, n_docs, n_tokens, p_raw, __w / sum(__w) OVER () AS p_temp FROM scaled)
SELECT source, n_docs, n_tokens, round(p_raw, 6) AS p_raw, round(p_temp, 6) AS p_temp,
  round(p_temp / p_raw, 6) AS boost
FROM tempered;

-- C4-style text repair, the transform beside corpus_curate's flags:
-- strip control characters, split into lines, drop lines of fewer than 3
-- words (navigation and boilerplate fragments), rejoin, and collapse runs
-- of spaces and tabs. Each stage is projected once and read by the next,
-- so the control-character strip and the line filter run once per row.
-- Narrow projections only, no shuffle.
CREATE TABLE corpus_clean AS
WITH l AS (
  SELECT doc_id, text, split(regexp_replace(text, r'[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', ''), '\n')
    AS lines
  FROM documents),
k AS (
  SELECT doc_id, text, lines,
    filter(lines, ln -> size(filter(split(trim(ln), r'[ \t]+'), w -> w != '')) >= 3) AS kept
  FROM l),
c AS (
  SELECT doc_id, text, lines, kept,
    trim(regexp_replace(array_join(kept, '\n'), r'[ \t]+', ' ')) AS clean_text
  FROM k)
SELECT doc_id, clean_text, size(kept) AS n_lines_kept,
  size(lines) - size(kept) AS n_lines_dropped,
  length(text) AS n_chars_before, length(clean_text) AS n_chars_after
FROM c;

-- Materialized inverted index, the lexical-retrieval artifact a search
-- or RAG pipeline keeps beside its embedding index: per term with df >= 2,
-- its document frequency, collection frequency and its 10 smallest doc
-- ids, sorted and comma-joined. The posting sample is a two-level
-- k-smallest merge: level 1 keys on (term, spark_partition_id()), so no
-- task holds a stopword's whole posting list, and level 2 merges the
-- bounded per-partition lists. A plain collect_list and slice would
-- buffer every hot term's full list in one task.
CREATE TABLE corpus_index AS
WITH posting AS (
  SELECT term, __id, spark_partition_id() AS __pid
  FROM (SELECT doc_id AS __id, explode(array_distinct(TOKENS(text))) AS term FROM documents)),
lvl1 AS (
  SELECT term, __pid, slice(sort_array(collect_list(__id)), 1, 10) AS __ids, count(1) AS __df
  FROM posting GROUP BY term, __pid),
merged AS (
  SELECT term, array_join(slice(sort_array(flatten(collect_list(__ids))), 1, 10), ',')
    AS postings, sum(__df) AS df
  FROM lvl1 GROUP BY term),
cf AS (
  SELECT term, count(1) AS cf
  FROM (SELECT explode(TOKENS(text)) AS term FROM documents) GROUP BY term)
SELECT term, df, cf, postings
FROM merged JOIN cf USING (term)
WHERE df >= 2
ORDER BY term;

-- Conjunctive retrieval, the query-time twin of corpus_index: documents
-- holding every one of the terms spark, join and window. The posting
-- stream is filtered to the query terms before any shuffle, so the
-- doc-keyed "every term hit" rollup exchanges at most 3 rows per matching
-- document (posting-list intersection as a count, never a chain of
-- per-term joins), and the metadata join back is a semi join on the id.
CREATE TABLE corpus_search AS
WITH hits AS (
  SELECT doc_id
  FROM (SELECT doc_id, count(DISTINCT term) AS __n
        FROM (SELECT doc_id, explode(array_distinct(TOKENS(text))) AS term FROM documents)
        WHERE term IN ('spark', 'join', 'window')
        GROUP BY doc_id)
  WHERE __n = 3)
SELECT doc_id, lang, source, n_chars
FROM documents LEFT SEMI JOIN hits USING (doc_id)
ORDER BY doc_id;

-- Tokenizer fertility per language: characters per BPE-ish token and
-- BPE-ish tokens per whitespace word (the text_token_stats signals), the
-- readout that tells whether a tokenizer, or a language's share of the
-- mixture, burns context budget; per language because fertility gaps are
-- the classic multilingual-tokenizer failure. One narrow projection and
-- one lang-keyed rollup of exact integer sums with map-side partials.
CREATE TABLE corpus_fertility AS
WITH agg AS (
  SELECT lang, count(1) AS n_docs, sum(n_chars_measured) AS __chars, sum(n_bpe_tokens) AS __bpe,
    sum(n_tokens) AS __words
  FROM (SELECT lang, size(TOKENS(text)) AS n_tokens,
          size(regexp_extract_all(lower(text), r'[a-z0-9]+|[^a-z0-9\s]', 0)) AS n_bpe_tokens,
          length(text) AS n_chars_measured
        FROM documents)
  GROUP BY lang)
SELECT lang, n_docs,
  round(CAST(__chars AS DOUBLE) / CAST(greatest(__bpe, 1) AS DOUBLE), 6) AS chars_per_token,
  round(CAST(__bpe AS DOUBLE) / CAST(greatest(__words, 1) AS DOUBLE), 6) AS tokens_per_word
FROM agg ORDER BY lang;

-- Split-half document-length drift: lengths binned by 64 characters, the
-- even-id and odd-id histograms, and the KS-style largest CDF gap and the
-- total-variation distance between them (the text twin of
-- embedding_centroid_drift). A stable corpus scores about 0 on both;
-- truncation bugs or a new source's length profile move them. The
-- histograms are exact integer counts over a bounded bin domain and the
-- CDFs running sums over ordered bins, so both engines agree. One narrow
-- projection, a bin-keyed rollup with partials, and windows over the
-- bounded bins with the one-row totals broadcast.
CREATE TABLE corpus_length_drift AS
WITH cells AS (
  SELECT bin, sum(CASE WHEN par = 0 THEN 1 ELSE 0 END) AS c0,
    sum(CASE WHEN par = 1 THEN 1 ELSE 0 END) AS c1
  FROM (SELECT CAST(pmod(doc_id, 2) AS INT) AS par, floor(length(text) / 64) AS bin
        FROM documents)
  GROUP BY bin),
tot AS (SELECT sum(c0) AS t0, sum(c1) AS t1 FROM cells),
staged AS (
  SELECT /*+ BROADCAST(tot) */ *,
    CAST(sum(c0) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      / CAST(t0 AS DOUBLE) AS __f0,
    CAST(sum(c1) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      / CAST(t1 AS DOUBLE) AS __f1
  FROM cells CROSS JOIN tot)
SELECT sum(c0) AS n_even, sum(c1) AS n_odd, round(max(abs(__f0 - __f1)), 6) AS ks_gap,
  round(sum(abs(CAST(c0 AS DOUBLE) / CAST(t0 AS DOUBLE)
                 - CAST(c1 AS DOUBLE) / CAST(t1 AS DOUBLE))) * 0.5D, 6) AS tv_distance
FROM staged;

-- Importance weights for domain rebalancing toward the uniform mixture
-- over the observed sources, w = target_share / corpus_share (token
-- shares): the reweight-at-loss alternative to mix_budget's sample and
-- discard. The Kish effective-sample-size ratio (sum w)^2 / sum w^2 / n,
-- the same on every row, is the variance cost of the re-tilt; since w is
-- constant within a source it needs only the per-source sums n_s w_s and
-- n_s w_s^2. One partially aggregated rollup to |sources| rows; the
-- totals are windows over that small table, in one partition, so the
-- corpus is read once.
CREATE TABLE sample_importance AS
WITH per_source AS (
  SELECT source, count(1) AS n_docs, sum(__t) AS n_tokens
  FROM (SELECT source, CAST(size(TOKENS(text)) AS BIGINT) AS __t FROM documents)
  GROUP BY source),
shares AS (
  SELECT source, n_docs, n_tokens,
    CAST(n_tokens AS DOUBLE) / CAST(sum(n_tokens) OVER () AS DOUBLE) AS corpus_share,
    1.0D / CAST(count(1) OVER () AS DOUBLE) AS target_share
  FROM per_source),
weighted AS (
  SELECT *, target_share / corpus_share AS weight, CAST(n_docs AS DOUBLE) AS __nd FROM shares),
kish AS (
  SELECT *, sum(__nd * weight) OVER () AS __sw, sum(__nd * weight * weight) OVER () AS __sw2,
    sum(__nd) OVER () AS __n
  FROM weighted)
SELECT source, n_docs, n_tokens,
  round(corpus_share, 6) AS corpus_share, round(target_share, 6) AS target_share,
  round(weight, 6) AS weight, round(__nd * weight, 6) AS expected_mass,
  round(__sw * __sw / __sw2 / __n, 6) AS ess_ratio
FROM kish
ORDER BY source;

-- Deterministic per-language downsampling (en 0.5, zh 0.25, every other
-- language 1.0): keep a document iff ID_HASH(doc_id, 10^6) < rate * 10^6,
-- u / 10^6 being the uniform variate, exposed as the audit column u. A
-- narrow filter with no shuffle and no rand(): a re-run or a retried task
-- draws the same sample. The cut is rounded, not truncated: 0.29 * 10^6
-- is 289999.99... in binary floating point, and a bare cast would floor it
-- below the rate.
CREATE TABLE sample_stratified AS
SELECT doc_id, lang, source, u
FROM (SELECT *, ID_HASH(doc_id, 1000000) AS u FROM documents)
WHERE u < CAST(round(CASE WHEN lang = 'zh' THEN 0.25D WHEN lang = 'en' THEN 0.5D ELSE 1.0D END
                     * 1000000) AS BIGINT);

-- Per-source distinct-token estimate from a KMV sketch (the k = 256
-- smallest values of the mixed token hash), the mergeable bounded-state
-- sketch a 100 TB pipeline runs where an exact count(DISTINCT) would
-- shuffle the vocabulary; relative error about 1 / sqrt(k - 2). Plain
-- integer and double arithmetic over a deterministic hash, so DuckDB
-- reproduces the estimate bit for bit; the exact count and rel_err are the
-- accuracy witnesses. The tokens are deduplicated per document before the
-- hash fold runs on them. Distinct (source, hash) is one shuffle with a
-- map-side partial dedup, then a two-level k-smallest merge, never a
-- per-source sort of the whole vocabulary: level 1 keys on (source,
-- spark_partition_id()), and each of those cells keeps the k smallest of
-- its vocabulary / P rows (the global k smallest are among them) and its
-- count; level 2 merges k * P candidates per source. The estimate is (k -
-- 1) * 2^62 / kth_min when the source has k distinct hashes, else the
-- exact count (get is NULL past the end).
CREATE TABLE corpus_kmv_vocab AS
WITH hs AS (
  SELECT DISTINCT `group`, KMV_MIX(TOKEN_HASH(tok)) AS h
  FROM (SELECT source AS `group`, explode(array_distinct(TOKENS(text))) AS tok FROM documents)),
cells AS (
  SELECT `group`, __pid, slice(sort_array(collect_list(h)), 1, 256) AS __ks, count(1) AS __cnt
  FROM (SELECT `group`, h, spark_partition_id() AS __pid FROM hs)
  GROUP BY `group`, __pid),
per_group AS (
  SELECT `group`, sum(__cnt) AS n_distinct_exact,
    get(sort_array(flatten(collect_list(__ks))), 255) AS kth_min
  FROM cells GROUP BY `group`),
est AS (
  SELECT *, round(CASE WHEN kth_min IS NOT NULL
      THEN 255.0D * 4.611686018427388E18D / CAST(kth_min AS DOUBLE)
      ELSE CAST(n_distinct_exact AS DOUBLE) END, 6) AS est_distinct
  FROM per_group)
SELECT `group`, n_distinct_exact, kth_min, est_distinct,
  round((est_distinct - CAST(n_distinct_exact AS DOUBLE))
        / CAST(greatest(n_distinct_exact, 1) AS DOUBLE), 6) AS rel_err
FROM est;

-- Deterministic train / valid / test split (0.9 / 0.05 / 0.05): the split
-- is a pure function of the id through ID_HASH thresholds, so it is stable
-- under re-runs, retries, re-ingestion and corpus growth (a new document
-- never moves an old one), which rand() and randomSplit cannot promise. A
-- narrow projection over the scan, with no exchange; a downstream write
-- partitioned by split needs none beyond the writer's own.
CREATE TABLE corpus_split AS
SELECT doc_id, lang, u,
  CASE WHEN u < 900000 THEN 'train' WHEN u < 950000 THEN 'valid' ELSE 'test' END AS split
FROM (SELECT doc_id, lang, ID_HASH(doc_id, 1000000) AS u FROM documents);

-- Deterministic global shuffle: each document's exact 0-based position in
-- (ID_HASH, doc_id) order, the reproducible "shuffle once before
-- training". A row_number() over the whole corpus would run in one task;
-- this is the hierarchical two-level rank of pack_sequences instead:
-- range buckets of 1,000 hash values (1,000 buckets, so bucket order is
-- global order), per-bucket counts, an exclusive running sum over that
-- 1,000-row table, broadcast back, and the position is the bucket offset
-- plus the row number within the bucket, where each window task sees
-- about N / 1,000 rows.
CREATE TABLE corpus_shuffle AS
WITH keyed AS (
  SELECT doc_id, u, CAST((u - pmod(u, 1000)) / 1000 AS INT) AS __b
  FROM (SELECT doc_id, ID_HASH(doc_id, 1000000) AS u FROM documents)),
offsets AS (
  SELECT __b, coalesce(sum(__n) OVER (ORDER BY __b
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS __off
  FROM (SELECT __b, count(1) AS __n FROM keyed GROUP BY __b))
SELECT /*+ BROADCAST(offsets) */ doc_id, u,
  CAST(__off + row_number() OVER (PARTITION BY __b ORDER BY u, doc_id) - 1 AS BIGINT) AS shuffle_pos
FROM keyed JOIN offsets USING (__b);

-- C4 / RefinedWeb-style per-source capping: keep at most 15 documents per
-- source, chosen by the deterministic priority (ID_HASH, doc_id), so the
-- keeper set is a pure function of the input. A row_number() per source
-- would run a mega-source through one task; this is corpus_shuffle's
-- two-level rank per source: 100 hash sub-buckets of 10,000 values (bucket
-- order is priority order within the source), per-(source, bucket)
-- counts, an exclusive running sum per source over that table of at most
-- |sources| * 100 rows, broadcast back, and the rank is the offset plus
-- the row number within (source, bucket). Every row is kept with its flag.
CREATE TABLE corpus_domain_cap AS
WITH keyed AS (
  SELECT doc_id, source, u, CAST((u - pmod(u, 10000)) / 10000 AS INT) AS __b
  FROM (SELECT doc_id, source, ID_HASH(doc_id, 1000000) AS u FROM documents)),
offsets AS (
  SELECT source, __b, coalesce(sum(__n) OVER (PARTITION BY source ORDER BY __b
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS __off
  FROM (SELECT source, __b, count(1) AS __n FROM keyed GROUP BY source, __b)),
ranked AS (
  SELECT /*+ BROADCAST(offsets) */ doc_id, source, u,
    CAST(__off + row_number() OVER (PARTITION BY source, __b ORDER BY u, doc_id) AS BIGINT)
      AS dom_rank
  FROM keyed JOIN offsets USING (source, __b))
SELECT doc_id, source, u, dom_rank, dom_rank <= 15 AS kept FROM ranked;

-- Deterministic weighted sampling without replacement (Efraimidis-
-- Spirakis A-Res) with weight n_chars: each document draws u = ID_HASH /
-- 10^6 and keeps the key u^(1 / w); the 200 largest keys are the sample,
-- each document's inclusion probability proportional to its weight, so
-- long documents are drawn more often (sample_stratified's rates are
-- fixed per stratum). The variate comes from the id hash, not rand(), so
-- the sample is retry-stable and the oracle recomputes the same keys; u =
-- 0 gives key 0. A narrow map into a distributed top-k: no global sort,
-- no shuffle beyond the survivors.
CREATE TABLE sample_weighted AS
SELECT doc_id, round(CAST(n_chars AS DOUBLE), 6) AS weight,
  round(CAST(ID_HASH(doc_id, 1000000) AS DOUBLE) / 1000000.0D, 6) AS u,
  round(pow(CAST(ID_HASH(doc_id, 1000000) AS DOUBLE) / 1000000.0D,
            1.0D / CAST(n_chars AS DOUBLE)), 12) AS key
FROM documents
ORDER BY key DESC, doc_id
LIMIT 200;

-- Per-language drift between the train and valid splits of corpus_split:
-- the Laplace-smoothed KL contribution and total-variation term of each
-- language (sum them for the divergences), the dataset-card check that
-- the hash split did not skew languages. One language-keyed exchange of
-- conditional sums over the split, with map-side partials and no join of
-- per-split tables; the totals and the language count are OVER () windows
-- over that |languages|-row rollup, in one task, so the corpus is read
-- once (a separate totals aggregate would scan it again).
CREATE TABLE corpus_drift AS
WITH counts AS (
  SELECT lang, CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
    CAST(sum(CASE WHEN split = 'valid' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
  FROM (SELECT lang,
          CASE WHEN u < 900000 THEN 'train' WHEN u < 950000 THEN 'valid' ELSE 'test' END AS split
        FROM (SELECT lang, ID_HASH(doc_id, 1000000) AS u FROM documents))
  WHERE split IN ('train', 'valid')
  GROUP BY lang),
pq AS (
  SELECT lang, n_a, n_b,
    (n_a + 1.0D) / (sum(n_a) OVER () + count(1) OVER ()) AS p,
    (n_b + 1.0D) / (sum(n_b) OVER () + count(1) OVER ()) AS q
  FROM counts)
SELECT lang, n_a, n_b, round(p, 6) AS p, round(q, 6) AS q, round(p * ln(p / q), 6) AS kl_term,
  round(0.5D * abs(p - q), 6) AS tv_term
FROM pq ORDER BY lang;

-- Hashing-trick featurization (feature hashing, scikit-learn's
-- HashingVectorizer): every token lands in one of 256 signed slots, the
-- bucket the low 8 bits of TOKEN_HASH and the sign the next bit, and a
-- slot's value is the signed term-count sum: fixed-width bag-of-words
-- features with no vocabulary to build or broadcast. The output is each
-- document's signature of that vector, nnz (occupied slots after sign
-- cancellation), l1, sum_sq and the checksum sum(bucket * value), exact
-- integers that pin every hash, sign and count. Per-(doc, term) counts
-- first, so the interpreted char fold runs once per distinct pair, then
-- a per-(doc, bucket) signed sum and a per-doc rollup: every exchange is
-- doc-keyed with map-side partials.
CREATE TABLE corpus_feature_hash AS
WITH tc AS (
  SELECT doc_id, tok, CAST(count(1) AS BIGINT) AS cnt
  FROM (SELECT doc_id, explode(TOKENS(text)) AS tok FROM documents)
  WHERE tok != '' GROUP BY doc_id, tok),
slots AS (
  SELECT doc_id, bucket, sum(sval) AS val
  FROM (SELECT doc_id, TOKEN_HASH(tok) & 255 AS bucket,
          CASE WHEN (shiftright(TOKEN_HASH(tok), 8) & 1) = 0 THEN cnt ELSE -cnt END AS sval
        FROM tc)
  GROUP BY doc_id, bucket)
SELECT doc_id, CAST(sum(CAST(val != 0 AS BIGINT)) AS BIGINT) AS nnz,
  CAST(sum(abs(val)) AS BIGINT) AS l1, CAST(sum(val * val) AS BIGINT) AS sum_sq,
  CAST(sum(bucket * val) AS BIGINT) AS checksum
FROM slots GROUP BY doc_id ORDER BY doc_id;
