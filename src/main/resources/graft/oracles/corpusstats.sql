-- DuckDB oracle SQL for the 'corpusstats' query family, one '-- ::<key>' section
-- per oracle; loaded by graft.Oracles at registration ({{...}} = substitution,
-- see Oracles.scala scaladoc). Generated SQL stays in the family's Scala file.
-- ::tfidfKeywords
WITH toks AS (
  SELECT doc_id,
    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
  FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, tf.term, tf, df,
    round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS score
  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n)
SELECT doc_id, term, tf, df, score FROM scored
QUALIFY row_number() OVER (PARTITION BY doc_id
                           ORDER BY score DESC, term) <= 5

-- ::bpePairCounts
WITH toks AS (
  SELECT doc_id, regexp_extract_all(text,
    '''s|''t|''re|''ve|''m|''ll|''d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+')
    AS tk
  FROM documents),
pairs AS (
  SELECT tk[i] AS lhs, tk[i + 1] AS rhs
  FROM (SELECT tk, unnest(range(1, len(tk))) AS i FROM toks)
  WHERE NOT (regexp_matches(tk[i], '^\s+$')
          OR regexp_matches(tk[i + 1], '^\s+$')))
SELECT lhs, rhs, COUNT(*) AS n FROM pairs
GROUP BY lhs, rhs ORDER BY n DESC, lhs, rhs LIMIT 50

-- ::dupSpanFraction
WITH spans AS (
  SELECT doc_id, substr(text, i, 20) AS span
  FROM (SELECT doc_id, text,
          unnest(range(1, length(text) - 18, 16)) AS i
        FROM documents WHERE length(text) >= 20)),
spanct AS (SELECT span, COUNT(DISTINCT doc_id) AS nd
           FROM spans GROUP BY 1)
SELECT s.doc_id, COUNT(*) AS n_spans,
  COUNT(*) FILTER (WHERE c.nd > 1) AS n_dup_spans,
  CAST(COUNT(*) FILTER (WHERE c.nd > 1) AS DOUBLE) / COUNT(*)
    AS dup_frac
FROM spans s JOIN spanct c USING (span)
GROUP BY s.doc_id

-- ::heavyHitters
WITH toks AS (
  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
  FROM documents),
tc AS (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY 1),
n AS (SELECT COUNT(*) AS n FROM toks)
SELECT term, cnt FROM tc, n WHERE cnt * 101 > n

-- ::unigramLogprob
WITH toks AS (
  SELECT doc_id,
    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
  FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
g AS (SELECT *, SUM(tf) OVER (PARTITION BY term) AS cnt FROM tf),
n AS (SELECT SUM(tf) AS total FROM tf),
d AS (
  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
    SUM(tf * CAST(round(ln(CAST(total AS DOUBLE) / cnt), 6)
        AS DECIMAL(18,6))) AS sum_dec
  FROM g, n GROUP BY doc_id)
SELECT doc_id, n_tokens,
  CAST(sum_dec AS DOUBLE) AS sum_neglogp,
  CAST((2 * CAST(sum_dec * 1000000 AS BIGINT) + n_tokens) // (2 * n_tokens)
    AS DOUBLE) / 1e6 AS avg_neglogp
FROM d

-- ::klDrift
WITH c AS (
  SELECT source, lang, COUNT(*) AS c FROM documents GROUP BY 1, 2),
w AS (
  SELECT *,
    CAST(SUM(c) OVER (PARTITION BY source) AS BIGINT) AS ts,
    CAST(SUM(c) OVER (PARTITION BY lang) AS BIGINT) AS tl
  FROM c),
n AS (SELECT COUNT(*) AS n FROM documents)
SELECT source, MAX(ts) AS n_docs,
  CAST(SUM(CAST(round((CAST(c AS DOUBLE) / ts) *
    round(ln((CAST(c AS DOUBLE) / ts) / (CAST(tl AS DOUBLE) / n)), 6), 6)
    AS DECIMAL(18,6))) AS DOUBLE) AS kl
FROM w, n GROUP BY source

-- ::chiSquare
WITH c AS (
  SELECT source, lang, COUNT(*) AS c FROM documents GROUP BY 1, 2),
st AS (SELECT source, COUNT(*) AS ts FROM documents GROUP BY 1),
lt AS (SELECT lang, COUNT(*) AS tl FROM documents GROUP BY 1),
n AS (SELECT COUNT(*) AS n FROM documents),
cells AS (
  SELECT st.source, lt.lang, st.ts, lt.tl, COALESCE(c.c, 0) AS c
  FROM st CROSS JOIN lt
  LEFT JOIN c ON c.source = st.source AND c.lang = lt.lang),
terms AS (
  SELECT *,
    CAST(ts AS DOUBLE) * CAST(tl AS DOUBLE) / n AS e
  FROM cells, n)
SELECT MAX(n) AS n,
  COUNT(DISTINCT source) AS n_sources,
  COUNT(DISTINCT lang) AS n_langs,
  (COUNT(DISTINCT source) - 1) * (COUNT(DISTINCT lang) - 1) AS dof,
  CAST(SUM(CAST(round((CAST(c AS DOUBLE) - e) * (CAST(c AS DOUBLE) - e) / e, 6)
    AS DECIMAL(18,6))) AS DOUBLE) AS chi2
FROM terms

-- ::invertedIndex
WITH toks AS (
  SELECT doc_id,
    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
  FROM documents),
tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM toks GROUP BY 1, 2)
SELECT term, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS total_tf,
  array_to_string(
    list_transform(list_slice(list_sort(list(doc_id)), 1, 20),
                   x -> CAST(x AS VARCHAR)), ',') AS postings_head
FROM tf GROUP BY term HAVING COUNT(*) >= 50

-- ::tokenEntropy
WITH toks AS (
  SELECT doc_id,
    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
  FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
withn AS (
  SELECT doc_id, tf,
    CAST(SUM(tf) OVER (PARTITION BY doc_id) AS BIGINT) AS n_tokens
  FROM tf),
terms AS (
  SELECT doc_id, n_tokens,
    CAST(round(-(CAST(tf AS DOUBLE) / n_tokens) *
               ln(CAST(tf AS DOUBLE) / n_tokens), 6)
         AS DECIMAL(18,6)) AS h_term
  FROM withn)
SELECT doc_id, MAX(n_tokens) AS n_tokens, COUNT(*) AS n_distinct,
  CAST(SUM(h_term) AS DOUBLE) AS entropy
FROM terms GROUP BY doc_id

-- ::segmentDedup
WITH w AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
  FROM documents),
seg AS (
  SELECT doc_id, CAST(s AS INT) AS pos,
    array_to_string(toks[s*4+1 : s*4+4], ' ') AS segment
  FROM w, unnest(range(0, CAST(ceil(len(toks)/4.0) AS BIGINT))) t(s)),
boiler AS (
  SELECT segment FROM seg GROUP BY segment HAVING COUNT(*) >= 3),
reb AS (
  SELECT doc_id, CAST(COUNT(*) AS INT) AS n_kept,
    string_agg(segment, ' ' ORDER BY pos) AS cleaned
  FROM seg WHERE segment NOT IN (SELECT segment FROM boiler)
  GROUP BY doc_id)
SELECT w.doc_id,
  CAST(ceil(len(toks)/4.0) AS INT) AS n_segments,
  COALESCE(n_kept, 0) AS n_kept,
  CAST(ceil(len(toks)/4.0) AS INT) - COALESCE(n_kept, 0) AS n_dropped,
  COALESCE(cleaned, '') AS cleaned_text
FROM w LEFT JOIN reb USING (doc_id)

-- ::bm25TopK
WITH w AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
  FROM documents),
d AS (SELECT doc_id, len(toks) AS dl, toks FROM w),
hits AS (
  SELECT doc_id, dl, unnest(toks) AS term FROM d),
tf AS (
  SELECT doc_id, dl, term, COUNT(*) AS tf FROM hits
  WHERE term IN ('spark', 'join', 'window') GROUP BY 1, 2, 3),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM d),
scored AS (
  SELECT doc_id,
    round(ln(1.0 + (n_docs - df.df + 0.5) / (df.df + 0.5))
      * (tf.tf * 2.2)
      / (tf.tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6) AS s
  FROM tf JOIN df ON tf.term = df.term CROSS JOIN stats)
SELECT doc_id,
  CAST(SUM(CAST(s AS DECIMAL(18,6))) AS DOUBLE) AS score,
  CAST(COUNT(*) AS INT) AS n_terms_hit
FROM scored GROUP BY doc_id
ORDER BY score DESC, doc_id LIMIT 20

-- ::phraseSearch
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
  FROM documents),
hits AS (
  SELECT doc_id,
    len(list_filter(range(1, len(w)),
        i -> w[i] = 'table' AND w[i+1] = 'value')) AS n_occurrences
  FROM toks)
SELECT doc_id, CAST(n_occurrences AS BIGINT) AS n_occurrences
FROM hits WHERE n_occurrences > 0

-- ::rrfFusion
WITH w AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
  FROM documents),
d AS (SELECT doc_id, len(toks) AS dl, toks FROM w),
hits AS (SELECT doc_id, dl, unnest(toks) AS term FROM d),
tf AS (
  SELECT doc_id, dl, term, COUNT(*) AS tf FROM hits
  WHERE term IN ('spark', 'join', 'window') GROUP BY 1, 2, 3),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM d),
scored AS (
  SELECT doc_id,
    round(ln(1.0 + (n_docs - df.df + 0.5) / (df.df + 0.5))
      * (tf.tf * 2.2)
      / (tf.tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6) AS s
  FROM tf JOIN df ON tf.term = df.term CROSS JOIN stats),
bm AS (
  SELECT doc_id, CAST(SUM(CAST(s AS DECIMAL(18,6))) AS DOUBLE) AS score
  FROM scored GROUP BY doc_id),
r1 AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS r1
  FROM bm ORDER BY score DESC, doc_id LIMIT 100),
ph AS (
  SELECT doc_id,
    len(list_filter(range(1, len(toks)),
        i -> toks[i] = 'table' AND toks[i+1] = 'value')) AS n
  FROM w),
r2 AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY n DESC, doc_id) AS INT) AS r2
  FROM ph WHERE n > 0 ORDER BY n DESC, doc_id LIMIT 100)
SELECT doc_id, r1.r1, r2.r2,
  round(COALESCE(1.0 / (60 + r1.r1), 0.0)
      + COALESCE(1.0 / (60 + r2.r2), 0.0), 6) AS rrf
FROM r1 FULL OUTER JOIN r2 USING (doc_id)
ORDER BY rrf DESC, doc_id LIMIT 20

-- ::oovRate
WITH toks AS (
  SELECT doc_id,
    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
  FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS c FROM toks GROUP BY 1, 2),
vocab AS (
  SELECT term FROM (SELECT term, SUM(c) AS cnt FROM tf GROUP BY 1)
  ORDER BY cnt DESC, term LIMIT 1000)
SELECT doc_id,
  CAST(SUM(c) AS BIGINT) AS n_tokens,
  CAST(SUM(CASE WHEN v.term IS NULL THEN c ELSE 0 END) AS BIGINT) AS n_oov,
  CAST(SUM(CASE WHEN v.term IS NULL THEN c ELSE 0 END) * 1000000
    // SUM(c) AS BIGINT) AS oov_ppm
FROM tf LEFT JOIN vocab v USING (term)
GROUP BY doc_id

-- ::pmiPairs
WITH d AS (
  SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS tk
  FROM documents),
uni AS (SELECT unnest(tk) AS term FROM d),
uc AS (SELECT term, COUNT(*) AS c_term FROM uni GROUP BY 1),
pc AS (
  SELECT p[1] AS lhs, p[2] AS rhs, COUNT(*) AS c_ab
  FROM d, unnest(list_zip(tk[1:len(tk)-1], tk[2:len(tk)])) t(p)
  WHERE len(tk) >= 2 GROUP BY 1, 2),
ntok AS (SELECT CAST(SUM(c_term) AS BIGINT) AS n_tok FROM uc),
npair AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS n_pair FROM pc)
SELECT lhs, rhs, CAST(c_ab AS BIGINT) AS c_ab,
  CAST(l.c_term AS BIGINT) AS c_lhs, CAST(r.c_term AS BIGINT) AS c_rhs,
  round(ln((CAST(c_ab AS DOUBLE) * CAST(n_tok AS DOUBLE) * CAST(n_tok AS DOUBLE))
         / (CAST(n_pair AS DOUBLE) * CAST(l.c_term AS DOUBLE)
            * CAST(r.c_term AS DOUBLE))), 6) AS pmi
FROM pc
JOIN uc l ON l.term = pc.lhs
JOIN uc r ON r.term = pc.rhs
CROSS JOIN ntok CROSS JOIN npair
WHERE c_ab >= 5
ORDER BY pmi DESC, lhs, rhs LIMIT 20

-- ::sourceDatacard
WITH pre AS (
  SELECT source, lang, md5(text) AS h, COUNT(*) AS c,
    SUM(n_chars) AS chars
  FROM documents GROUP BY 1, 2, 3),
per AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS n_docs,
    CAST(SUM(chars) AS BIGINT) AS total_chars,
    CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
    CAST(SUM(c - 1) AS BIGINT) AS n_dup_docs
  FROM pre GROUP BY 1),
sl AS (SELECT source, lang, SUM(c) AS lc FROM pre GROUP BY 1, 2),
top AS (
  SELECT source, lang AS top_lang, lc AS top_c FROM (
    SELECT source, lang, lc,
      row_number() OVER (PARTITION BY source ORDER BY lc DESC, lang) AS rn
    FROM sl) WHERE rn = 1)
SELECT p.source, p.n_docs, p.total_chars, p.n_langs, t.top_lang,
  CAST(t.top_c * 1000000 // p.n_docs AS BIGINT) AS top_lang_ppm,
  CAST(p.n_dup_docs * 1000000 // p.n_docs AS BIGINT) AS dup_ppm
FROM per p JOIN top t USING (source)

-- ::importanceWeights
WITH toks AS (
  SELECT doc_id, lang,
    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
  FROM documents),
tf AS (
  SELECT doc_id, lang, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2, 3),
tot AS (
  SELECT CAST(SUM(tf) AS BIGINT) AS n_all,
    CAST(SUM(CASE WHEN lang = 'en' THEN tf ELSE 0 END) AS BIGINT) AS n_tgt,
    CAST(COUNT(DISTINCT term) AS BIGINT) AS v
  FROM tf),
scored AS (
  SELECT doc_id, lang, tf,
    CAST(round(ln(CAST(SUM(CASE WHEN lang = 'en' THEN tf ELSE 0 END)
          OVER (PARTITION BY term) + 1 AS DOUBLE) * (n_all + v)
        / (CAST(SUM(tf) OVER (PARTITION BY term) + 1 AS DOUBLE)
           * (n_tgt + v))), 6) AS DECIMAL(18,6)) AS r
  FROM tf CROSS JOIN tot)
SELECT doc_id, lang, CAST(SUM(tf) AS BIGINT) AS n_tokens,
  CAST(SUM(tf * r) AS DOUBLE) AS logweight
FROM scored GROUP BY doc_id, lang
ORDER BY logweight DESC, doc_id LIMIT 50

-- ::ksLengthDrift
WITH pl AS (
  SELECT source, n_chars, COUNT(*) AS c
  FROM documents GROUP BY 1, 2),
pla AS (
  SELECT n_chars, SUM(c) AS c_all,
    SUM(SUM(c)) OVER (ORDER BY n_chars
      ROWS UNBOUNDED PRECEDING) AS cum_all
  FROM pl GROUP BY n_chars),
tt AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_s FROM pl GROUP BY 1),
tot AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n_tot FROM tt),
grid AS (
  SELECT tt.source, a.n_chars, tt.n_s, a.cum_all,
    SUM(COALESCE(pl.c, 0)) OVER (PARTITION BY tt.source
      ORDER BY a.n_chars ROWS UNBOUNDED PRECEDING) AS cum_s
  FROM tt CROSS JOIN pla a
  LEFT JOIN pl ON pl.source = tt.source AND pl.n_chars = a.n_chars),
d AS (
  SELECT g.source, g.n_s, t.n_tot - g.n_s AS n_r,
    abs(g.cum_s * (t.n_tot - g.n_s)
      - (g.cum_all - g.cum_s) * g.n_s) AS d_num
  FROM grid g CROSS JOIN tot t)
SELECT source, n_s AS n_docs,
  CAST(MAX(d_num) * 1000000 // (n_s * n_r) AS BIGINT) AS ks_ppm
FROM d GROUP BY source, n_s, n_r

-- ::sourceJsDivergence
WITH tc AS (
  SELECT source, term, COUNT(*) AS c FROM (
    SELECT source,
      unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
    FROM documents) GROUP BY 1, 2),
totals AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM tc GROUP BY 1),
terms AS (SELECT DISTINCT term FROM tc),
grid AS (
  SELECT t.source, x.term, t.n, CAST(COALESCE(tc.c, 0) AS BIGINT) AS c
  FROM totals t CROSS JOIN terms x
  LEFT JOIN tc ON tc.source = t.source AND tc.term = x.term),
pr AS (
  SELECT a.source AS src_a, b.source AS src_b, a.n AS na, b.n AS nb,
    a.c AS ca, b.c AS cb
  FROM grid a JOIN grid b
    ON a.term = b.term AND a.source < b.source),
contrib AS (
  SELECT src_a, src_b, na, nb,
    CASE WHEN ca > 0 THEN ca *
      CAST(round(ln(CAST(2 * ca * nb AS DOUBLE)
        / CAST(ca * nb + cb * na AS DOUBLE)) * 1000000)
        AS BIGINT) ELSE 0 END AS ta,
    CASE WHEN cb > 0 THEN cb *
      CAST(round(ln(CAST(2 * cb * na AS DOUBLE)
        / CAST(ca * nb + cb * na AS DOUBLE)) * 1000000)
        AS BIGINT) ELSE 0 END AS tb
  FROM pr)
SELECT src_a, src_b,
  CAST(greatest(CAST(SUM(ta) AS BIGINT), 0) // (2 * na)
     + greatest(CAST(SUM(tb) AS BIGINT), 0) // (2 * nb) AS BIGINT)
    AS js_micro_nats
FROM contrib GROUP BY src_a, src_b, na, nb

-- ::zipfSlope
WITH tc AS (
  SELECT term, COUNT(*) AS cnt FROM (
    SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
    FROM documents) GROUP BY term),
ranked AS (
  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, term) AS rnk
  FROM tc QUALIFY rnk <= 1000),
pts AS (
  SELECT CAST(round(ln(CAST(rnk AS DOUBLE)) * 10000) AS BIGINT) AS x,
         CAST(round(ln(CAST(cnt AS DOUBLE)) * 10000) AS BIGINT) AS y
  FROM ranked),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
    CAST(SUM(x * y) AS BIGINT) AS sxy,
    CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM pts)
SELECT n_terms,
  round(CAST(CAST(n_terms AS HUGEINT) * sxy
        - CAST(sx AS HUGEINT) * sy AS DOUBLE) /
    CAST(n_terms * sxx - sx * sx AS DOUBLE), 6) AS slope,
  round(CAST(CAST(sy AS HUGEINT) * sxx
        - CAST(sx AS HUGEINT) * sxy AS DOUBLE) /
    CAST(n_terms * sxx - sx * sx AS DOUBLE) / 10000.0, 6) AS intercept_ln
FROM s

-- ::vocabCoverage
WITH tc AS (
  SELECT term, COUNT(*) AS cnt FROM (
    SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
    FROM documents) GROUP BY term),
ranked AS (
  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, term) AS rnk
  FROM tc),
fan AS (
  SELECT k.vocab_k, r.rnk, r.cnt
  FROM ranked r CROSS JOIN (VALUES (5), (10), (20), (50)) k(vocab_k))
SELECT vocab_k,
  CAST(SUM(CASE WHEN rnk <= vocab_k THEN 1 ELSE 0 END) AS BIGINT)
    AS n_terms_used,
  CAST(SUM(CASE WHEN rnk <= vocab_k THEN cnt ELSE 0 END) AS BIGINT)
    AS covered,
  CAST(SUM(CASE WHEN rnk <= vocab_k THEN cnt ELSE 0 END) * 1000000
    // SUM(cnt) AS BIGINT) AS coverage_ppm
FROM fan GROUP BY vocab_k

-- ::termBurstiness
WITH tf AS (
  SELECT doc_id, term, COUNT(*) AS c FROM (
    SELECT doc_id,
      unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
    FROM documents) GROUP BY doc_id, term)
SELECT term, CAST(SUM(c) AS BIGINT) AS cf,
  CAST(COUNT(*) AS BIGINT) AS df,
  CAST(SUM(c) * 1000000 // COUNT(*) AS BIGINT) AS burst_micro
FROM tf GROUP BY term
ORDER BY cf DESC, term LIMIT 20

-- ::sourceLangEntropy
WITH sl AS (
  SELECT source, lang, COUNT(*) AS c FROM documents GROUP BY 1, 2),
w AS (
  SELECT source, c,
    SUM(c) OVER (PARTITION BY source) AS n
  FROM sl),
t AS (
  SELECT source, n,
    c * CAST(round(ln(CAST(n AS DOUBLE) / c), 6) AS DECIMAL(18,6))
      AS term
  FROM w)
SELECT source, CAST(MAX(n) AS BIGINT) AS n_docs,
  CAST(COUNT(*) AS BIGINT) AS n_langs,
  round(CAST(SUM(term) AS DOUBLE) / MAX(n), 6) AS lang_entropy
FROM t GROUP BY source

-- ::tokenBudgetSelect
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
  FROM documents),
per AS (
  SELECT doc_id,
    SUM(('0x' || substr(md5('w:' ||
          (('0x' || substr(md5(tok), 1, 15))::BIGINT % 256)), 1, 15))::BIGINT
        % 1000001 - 500000) AS wsum
  FROM toks GROUP BY doc_id),
scored AS (
  SELECT d.doc_id, d.source,
    CAST(len(regexp_split_to_array(lower(trim(d.text)), '\s+')) AS BIGINT)
      AS n_tokens,
    CAST(per.wsum AS BIGINT) AS logit_u
  FROM documents d JOIN per USING (doc_id)),
budgets AS (
  SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens,
    CAST(SUM(n_tokens) * 3 // 10 AS BIGINT) AS budget_tokens
  FROM scored GROUP BY source),
cum AS (
  SELECT doc_id, source, n_tokens, logit_u,
    SUM(n_tokens) OVER (PARTITION BY source
      ORDER BY logit_u DESC, doc_id
      ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM scored),
sel AS (
  SELECT c.source, b.tot_tokens, b.budget_tokens, c.n_tokens,
    c.logit_u, (c.cum_tokens <= b.budget_tokens) AS selected
  FROM cum c JOIN budgets b USING (source))
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(CASE WHEN selected THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
  tot_tokens, budget_tokens,
  CAST(SUM(CASE WHEN selected THEN n_tokens ELSE 0 END) AS BIGINT)
    AS sel_tokens,
  CAST(SUM(CASE WHEN selected THEN n_tokens ELSE 0 END) * 1000000
    // tot_tokens AS BIGINT) AS sel_ppm,
  CAST(SUM(CASE WHEN selected THEN logit_u ELSE 0 END) AS BIGINT)
    AS sel_logit_u
FROM sel GROUP BY source, tot_tokens, budget_tokens

-- ::bigramLogprob
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
  FROM documents),
pairs AS (
  SELECT doc_id, tk[i] AS lhs, tk[i + 1] AS rhs
  FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM toks
        WHERE len(tk) >= 2)),
tf AS (SELECT doc_id, lhs, rhs, COUNT(*) AS tf FROM pairs GROUP BY 1, 2, 3),
g AS (
  SELECT *, SUM(tf) OVER (PARTITION BY lhs, rhs) AS c_ab,
    SUM(tf) OVER (PARTITION BY lhs) AS c_a
  FROM tf),
d AS (
  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
    SUM(tf * CAST(round(ln(CAST(c_a AS DOUBLE) / c_ab), 6)
        AS DECIMAL(18,6))) AS sum_dec
  FROM g GROUP BY doc_id)
SELECT doc_id, n_bigrams,
  CAST(sum_dec AS DOUBLE) AS sum_neglogp,
  round(CAST(sum_dec AS DOUBLE) / n_bigrams, 6) AS avg_neglogp
FROM d

-- ::surprisalMixture
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
  FROM documents),
pairs AS (
  SELECT doc_id, tk[i] AS lhs, tk[i + 1] AS rhs
  FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM toks
        WHERE len(tk) >= 2)),
tf AS (SELECT doc_id, lhs, rhs, COUNT(*) AS tf FROM pairs GROUP BY 1, 2, 3),
g AS (
  SELECT *, SUM(tf) OVER (PARTITION BY lhs, rhs) AS c_ab,
    SUM(tf) OVER (PARTITION BY lhs) AS c_a
  FROM tf),
d AS (
  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
    SUM(tf * CAST(round(ln(CAST(c_a AS DOUBLE) / c_ab), 6)
        AS DECIMAL(18,6))) AS sum_dec
  FROM g GROUP BY doc_id),
s AS (
  SELECT doc.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(d.n_bigrams) AS BIGINT) AS n_bigrams,
    CAST(round(CAST(SUM(d.sum_dec) AS DOUBLE)
      / CAST(SUM(d.n_bigrams) AS DOUBLE) * 1000000) AS BIGINT) AS mean_u
  FROM d JOIN documents doc USING (doc_id) GROUP BY doc.source),
m AS (SELECT MIN(mean_u) AS min_u FROM s),
e AS (SELECT s.*, mean_u - min_u AS excess_u FROM s, m),
tt AS (SELECT CAST(SUM(excess_u) AS BIGINT) AS sum_excess,
       COUNT(*) AS n_sources FROM e)
SELECT source, n_docs, n_bigrams, mean_u, excess_u,
  CAST(CASE WHEN sum_excess > 0
       THEN CAST(excess_u * 1000000 AS BIGINT) // sum_excess
       ELSE 1000000 // n_sources END AS BIGINT) AS weight_ppm
FROM e, tt

