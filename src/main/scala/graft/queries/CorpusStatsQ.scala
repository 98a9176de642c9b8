package graft.queries

import graft.{Oracles, QueryDef}
import graft.core.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Corpus-level statistics for training-data curation: TF-IDF keyword
  * extraction, BPE merge-candidate counting (the pair-frequency step vocab
  * induction iterates), and the duplicated-span fraction (the
  * substring-level dedup signal — how much of a document is verbatim
  * repeated elsewhere in the corpus).
  *
  * All three are pure hash-aggregate/join pipelines: no windows over raw
  * data (only over tiny per-doc top-k sets), no cartesian products, no
  * driver state — each shuffle key is stated in the query scaladoc.
  */
object CorpusStatsQ {

  /** q87 — top-5 TF-IDF keywords per document (whitespace tokens, q61's
    * convention). ONE tokenize pass: tf is a (doc,term) hash agg with
    * map-side combine, then df is a `count(*) over (partition by term)`
    * window on that ALREADY-AGGREGATED table — the tf⋈df self-join
    * formulation would rebuild the tf aggregate twice (plan-audited; two
    * full tokenize passes at 100 TB). Shuffles: (doc,term), term, doc —
    * each over distinct-pair rows, never raw tokens twice. N arrives as a
    * broadcast 1-row agg, not a driver collect (A6 pattern).
    *
    * Determinism: tf/df are exact counts; the ln-based score is a double →
    * rounded to 6 on BOTH sides BEFORE ranking (ranking by the unrounded
    * double would let a ULP of libm difference flip near-ties), with term
    * as the total-order tiebreak (QueryDef rules).
    */
  def tfidfKeywords(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val toks = t.documents
      .select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val n = t.documents.agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
      .crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("score"))
  }

  private val tfidfKeywordsSql = Oracles("corpusstats", "tfidfKeywords")

  /** q88 — BPE merge candidates: global frequency of adjacent token pairs
    * under q55's GPT-style pre-tokenization, whitespace tokens breaking
    * adjacency (merges never cross words), top-50. This is one iteration of
    * the counting step BPE vocabulary induction repeats; at corpus scale it
    * is the dominant cost, and it's map-side pair expansion + one hash agg
    * on the pair — the TakeOrderedAndProject top-k never shuffles raw pairs
    * a second time.
    */
  def bpePairCounts(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val pat = "'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"
    t.documents
      .withColumn("tk", regexp_extract_all(col("text"), lit(pat), lit(0)))
      .filter(size(col("tk")) >= 2)
      .select(explode(expr(
        """filter(
          |  zip_with(slice(tk, 1, size(tk) - 1), slice(tk, 2, size(tk) - 1),
          |           (a, b) -> named_struct('lhs', a, 'rhs', b)),
          |  p -> NOT (p.lhs rlike '^\\s+$' OR p.rhs rlike '^\\s+$'))""".stripMargin))
        .as("p"))
      .select(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
      .groupBy(col("lhs"), col("rhs"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("lhs"), col("rhs"))
      .limit(50)
  }

  private val bpePairCountsSql = Oracles("corpusstats", "bpePairCounts")

  /** q89 — duplicated-span fraction: of each document's fixed-stride 20-char
    * spans (stride 16, so spans overlap by 4 — boundary-shift tolerant),
    * what share also occurs verbatim in ANOTHER document? The
    * substring-level dedup signal (docs can be near-dups without sharing
    * full shingle sets; this measures how MUCH is shared).
    *
    * ONE explode pass, NO self-join: spans collapse to (span, doc, occ)
    * with map-side combine, the per-span distinct-doc count is a
    * `count(*) over (partition by span)` window on that collapsed table
    * (each row there IS one distinct doc), and the doc rollup sums occ.
    * The spans⋈counts join formulation would explode the corpus twice and
    * stop being broadcastable once the span dictionary outgrows one
    * executor. Span keys are bounded (20 chars), so shuffle payload is
    * rows × 20B, not documents.
    */
  def dupSpanFraction(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val spans = t.documents
      .filter(length(col("text")) >= 20)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, length(text) - 19, 16), i -> substring(text, i, 20))"))
        .as("span"))
    spans
      .groupBy(col("span"), col("doc_id"))
      .agg(count(lit(1)).as("occ"))
      .withColumn("nd", count(lit(1)).over(Window.partitionBy(col("span"))))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("occ")).as("n_spans"),
        sum(when(col("nd") > 1, col("occ")).otherwise(lit(0L))).as("n_dup_spans"))
      .withColumn("dup_frac",
        col("n_dup_spans").cast("double") / col("n_spans"))
  }

  private val dupSpanFractionSql = Oracles("corpusstats", "dupSpanFraction")

  /** q90 — exact heavy hitters {term : cnt·(k+1) > N} via the Misra-Gries
    * sketch-gated two-pass (see [[graft.ops.HeavyHitters]] — pass 1 is one
    * scan folded into ≤k counters per partition and merged treewise, pass 2
    * counts only the ≤k candidates map-side-filtered before the shuffle).
    * The output is sketch-independent (exact), so the oracle is a plain
    * threshold count — MG's adversarial-distribution behavior (decrement
    * and merge reductions) is covered by HeavyHittersSpec, since the
    * synthetic corpus vocabulary is smaller than k.
    */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val toks = t.documents
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
    graft.ops.HeavyHitters.exact(toks, col("term"), k = 100)
      .withColumnRenamed("item", "term")
  }

  private val heavyHittersSql = Oracles("corpusstats", "heavyHitters")

  /** q91 — unigram LM quality score: per-document mean negative log
    * probability under the corpus's own unigram model (the CCNet-style LM
    * filtering signal, with the corpus itself as the model). Same
    * single-pass shape as q87: tf once, global term counts as a window
    * over tf, corpus total as a broadcast 1-row agg (the two consumers of
    * tf share one exchange).
    *
    * Determinism: each term's −ln p is rounded to 6 BEFORE the per-doc
    * sum, and the sum runs in DECIMAL (order-independent, the Exact.dsum
    * rule) — summing raw doubles would drift with partitioning. The final
    * mean is half-up integer micro-units, `(2·S + n) div (2·n)` over
    * S = sum·1e6 (exact: the sum has scale 6), then /1e6 — the q92
    * PageRank rule. `round(double, 6)` broke a .5 tie differently in Spark
    * and DuckDB (3.406394 vs 3.406395 on one seeded corpus).
    */
  def unigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val toks = t.documents
      .select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val n = tf.agg(sum(col("tf")).as("total"))
    tf
      .withColumn("cnt", sum(col("tf")).over(Window.partitionBy(col("term"))))
      .crossJoin(broadcast(n))
      .withColumn("r",
        round(log(col("total").cast("double") / col("cnt")), 6)
          .cast("decimal(18,6)"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("tf")).as("n_tokens"),
        sum(col("tf") * col("r")).as("sum_dec"))
      .withColumn("sum_u", (col("sum_dec") * 1000000).cast("long"))
      .select(col("doc_id"), col("n_tokens"),
        col("sum_dec").cast("double").as("sum_neglogp"),
        (expr("(2 * sum_u + n_tokens) div (2 * n_tokens)") / 1e6)
          .as("avg_neglogp"))
  }

  private val unigramLogprobSql = Oracles("corpusstats", "unigramLogprob")

  /** q95 — distribution drift: KL(P(lang|source) ‖ P(lang)) per source, the
    * corpus-mix monitoring signal (which sources skew the language balance).
    * One (source,lang) hash agg; marginals are windows over that tiny
    * aggregate; the corpus total is a broadcast 1-row agg. Determinism: the
    * ln-ratio and each P·ln term are rounded to 6 before the DECIMAL sum
    * (QueryDef rules — the inputs to ln are exact-count double divisions).
    */
  def klDrift(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val c = t.documents.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("c"))
    val n = t.documents.agg(count(lit(1)).as("n"))
    c
      .withColumn("ts", sum(col("c")).over(Window.partitionBy(col("source"))))
      .withColumn("tl", sum(col("c")).over(Window.partitionBy(col("lang"))))
      .crossJoin(broadcast(n))
      .withColumn("p", col("c").cast("double") / col("ts"))
      .withColumn("q", col("tl").cast("double") / col("n"))
      .withColumn("term",
        round(col("p") * round(log(col("p") / col("q")), 6), 6)
          .cast("decimal(18,6)"))
      .groupBy(col("source"))
      .agg(max(col("ts")).as("n_docs"),
        sum(col("term")).cast("double").as("kl"))
  }

  private val klDriftSql = Oracles("corpusstats", "klDrift")

  /** q105 — χ² independence test between source and language (is the
    * corpus mix homogeneous, or do sources carry language bias — the
    * hypothesis-test sibling of q95's KL). The contingency table INCLUDES
    * zero cells (a counts-only aggregate silently drops them and
    * understates χ² by their expected mass): the cell spine is the cross
    * of the two distinct dims left-joined back, the q104 spine pattern.
    * Expected counts are double chains over exact totals; per-cell terms
    * round to 6 then DECIMAL-sum into the one-row statistic.
    */
  def chiSquare(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val docs = t.documents
    // ONE documents scan (r19): the margins and the grand total are exact
    // count identities over the (source, lang) cell table — Σ_lang c per
    // source IS the source count, etc. — so the three extra corpus scans
    // the old plan ran (runtime audit: documents scanned 4×) collapse
    // into reads of the checkpointed cell agg (|sources|×|langs|-grain).
    val c = docs.groupBy(col("source"), col("lang")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val srcTot = c.groupBy(col("source")).agg(sum(col("c")).as("ts"))
    val langTot = c.groupBy(col("lang")).agg(sum(col("c")).as("tl"))
    val n = c.agg(sum(col("c")).as("n"))
    val cells = srcTot.crossJoin(langTot)
      .join(c, Seq("source", "lang"), "left")
      .na.fill(0L, Seq("c"))
      .crossJoin(broadcast(n))
      .withColumn("e",
        col("ts").cast("double") * col("tl").cast("double") / col("n"))
      .withColumn("term",
        round((col("c").cast("double") - col("e")) *
          (col("c").cast("double") - col("e")) / col("e"), 6)
          .cast("decimal(18,6)"))
    cells.agg(
      max(col("n")).as("n"),
      countDistinct(col("source")).as("n_sources"),
      countDistinct(col("lang")).as("n_langs"),
      ((countDistinct(col("source")) - 1) *
        (countDistinct(col("lang")) - 1)).as("dof"),
      sum(col("term")).cast("double").as("chi2"))
  }

  private val chiSquareSql = Oracles("corpusstats", "chiSquare")

  /** q111 — inverted index (posting lists): for every term above a
    * document-frequency floor, its df, total term frequency, and the head
    * of its doc-id posting list (numerically sorted, first 20 ids,
    * comma-joined — sorted BEFORE any string cast so ordering is numeric
    * in both engines).
    *
    * This IS the search-index build: the (term → postings) table is the
    * product, so a shuffle keyed by term is inherent. One tokenize pass
    * collapses to (term, doc, tf) with map-side combine; the per-term agg
    * then sees distinct doc rows only. Stopword skew is bounded by the
    * slice cap on the materialized head (the full list would be emitted to
    * a sink in production — the cap here keeps the verify payload sane,
    * not the computation: df/total_tf are over the full postings).
    */
  def invertedIndex(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val tf = t.documents
      .select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    tf.groupBy(col("term"))
      .agg(
        count(lit(1)).as("df"),
        sum(col("tf")).as("total_tf"),
        concat_ws(",",
          expr("transform(slice(sort_array(collect_list(doc_id)), 1, 20)," +
            " x -> cast(x as string))")).as("postings_head"))
      .filter(col("df") >= 50)
  }

  private val invertedIndexSql = Oracles("corpusstats", "invertedIndex")

  /** q113 — per-document Shannon token entropy (nats): the information-
    * density quality signal (boilerplate and keyword-stuffed docs score
    * low; natural prose scores near ln(vocab)). Same single-pass family
    * as q87/q91: one tokenize, (doc, term, tf) hash agg, then the doc
    * total as a window over that aggregated table.
    *
    * Determinism: each term's −p·ln(p) contribution is rounded to 6dp and
    * the per-doc sum runs in DECIMAL (order-independent); p itself is one
    * exact integer-ratio double divide.
    */
  def tokenEntropy(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val tf = t.documents
      .select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    tf
      .withColumn("n_tokens",
        sum(col("tf")).over(Window.partitionBy(col("doc_id"))))
      .withColumn("p", col("tf").cast("double") / col("n_tokens"))
      .withColumn("h_term",
        round(-col("p") * log(col("p")), 6).cast("decimal(18,6)"))
      .groupBy(col("doc_id"))
      .agg(
        max(col("n_tokens")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("h_term")).cast("double").as("entropy"))
  }

  private val tokenEntropySql = Oracles("corpusstats", "tokenEntropy")

  /** q123 — CCNet-style segment-level corpus dedup: split every document
    * into fixed 4-word segments, count each segment's corpus frequency,
    * drop EVERY occurrence of segments appearing ≥ 3 times (boilerplate —
    * headers, navigation, license blurbs in real crawls), and reassemble
    * the surviving text in original order. This is the line-level dedup
    * step real curation pipelines (CCNet/C4) run between exact-dedup and
    * near-dedup; the testdata has no newlines, so fixed word windows play
    * the role of lines — the dataflow is identical.
    *
    * Scale shape: one segment explode, one hash agg for the frequency
    * table, and the boilerplate set (df ≥ K is SMALL by construction —
    * that's what makes it boilerplate) broadcast into a left_anti join;
    * reassembly is one shuffle on doc_id with `array_sort(collect_list)`
    * ordered by the unique in-doc position. No window over raw segments,
    * no self-join. At petabyte scale with a low K the frequent table can
    * grow — swap the broadcast for a shuffled anti-join then; the plan is
    * otherwise unchanged.
    */
  def segmentDedup(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val docs = t.documents
      .select(col("doc_id"), graft.ops.Dedup.words(col("text")).as("toks"))
    val nSegs = expr("cast(ceil(size(toks) / 4.0) as int)")
    // seg feeds BOTH the boilerplate histogram and the rebuild — un-
    // persisted, the tokenize + segment explode ran twice (r19 runtime
    // plan audit). Checkpoint: data-sized but reused and the query's
    // whole CPU cost (guide §5 persist case).
    val seg = docs.select(col("doc_id"), explode(expr(
      "transform(sequence(0, cast(ceil(size(toks) / 4.0) as int) - 1), " +
        "s -> named_struct('pos', s, " +
        "'segment', concat_ws(' ', slice(toks, s * 4 + 1, 4))))")).as("sg"))
      .select(col("doc_id"), col("sg.pos").as("pos"), col("sg.segment").as("segment"))
      .localCheckpoint(true)
    val boilerplate = seg.groupBy(col("segment"))
      .agg(count(lit(1)).as("df")).filter(col("df") >= 3).select("segment")
    val rebuilt = seg.join(broadcast(boilerplate), Seq("segment"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("k"),
        concat_ws(" ", expr(
          "transform(array_sort(collect_list(struct(pos, segment))), x -> x.segment)"))
          .as("cleaned"))
    docs.select(col("doc_id"), nSegs.as("n_segments"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_segments"),
        coalesce(col("k"), lit(0L)).cast("int").as("n_kept"),
        (col("n_segments") - coalesce(col("k"), lit(0L)).cast("int")).as("n_dropped"),
        coalesce(col("cleaned"), lit("")).as("cleaned_text"))
  }

  private val segmentDedupSql = Oracles("corpusstats", "segmentDedup")

  private val bm25Terms = Seq("spark", "join", "window")

  /** q124 — BM25 retrieval scoring (k1 = 1.2, b = 0.75, Lucene-smoothed
    * idf `ln(1 + (N - df + ½)/(df + ½))`): score every document against a
    * fixed term set, return the top 20. Complements q111's inverted index
    * (the index stores postings; this is the ranking function run over
    * them) — together they are the retrieval leg of a training-data /
    * RAG pipeline.
    *
    * Scale shape: the token explode is FILTERED to the query terms before
    * any shuffle (map-side `isin` — the posting-list restriction an index
    * would give), tf is one hash agg on (doc, term), df one on term
    * (broadcast back), corpus N/avgdl one broadcast 1-row agg, and the
    * top-20 is `TakeOrderedAndProject` — raw tokens shuffle zero times.
    *
    * Determinism: per-term scores round to 6 BEFORE the per-doc sum, and
    * the sum runs in DECIMAL(18,6) — order-free exact addition, so
    * engines can't diverge by summation order (libm `ln` agreement is the
    * q87/q91 precedent); ranking ties break on doc_id.
    */
  /** Per-doc BM25 score over [[bm25Terms]] — shared by q124 (top-k) and
    * q138 (rank fusion).
    */
  private def bm25Scored(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    // ONE tokenize pass (r19): the corpus-length stats and the hit
    // explode both rode `docs` — un-persisted, the tokenize ran twice
    // (and twice more under the tf double-reference; runtime plan audit:
    // documents scanned 3× here, 5× in q138). `base` keeps only dl and
    // the ≤|query-terms| matching tokens per doc (filter() preserves
    // duplicates, so exploding it is the SAME multiset the old
    // explode-then-isin produced) — doc-grain and narrow, checkpointed;
    // tf (hit-doc × term grain) is checkpointed for the df/score reads.
    val base = t.documents
      .select(col("doc_id"), graft.ops.Dedup.words(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).as("dl"),
        filter(col("toks"), x => x.isin(bm25Terms: _*)).as("hits"))
      .localCheckpoint(true)
    val hits = base
      .select(col("doc_id"), col("dl"), explode(col("hits")).as("term"))
    val tf = hits.groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = base.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    tf.join(broadcast(df), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("s", round(
        col("idf") * (col("tf") * 2.2) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))), 6))
      .groupBy(col("doc_id"))
      .agg(sum(col("s").cast("decimal(18,6)")).cast("double").as("score"),
        count(lit(1)).cast("int").as("n_terms_hit"))
  }

  def bm25TopK(spark: SparkSession, dir: String): DataFrame =
    bm25Scored(spark, dir)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)

  private val bm25TopKSql = Oracles("corpusstats", "bm25TopK")

  /** q129 — positional-postings PHRASE search (the retrieval leg q111's
    * docs-only postings can't serve): find every document containing the
    * exact token phrase "table value", with its occurrence count. The
    * plan is the real positional-index intersection: `posexplode` builds
    * (doc, position, term) postings, each phrase term's posting list is
    * map-side FILTERED before anything shuffles (at scale these lists
    * come straight off an indexed store), and adjacency is an equi-join
    * on (doc_id, position) with the second term's positions shifted by
    * −1 — no window, no array scan of full documents on the join side.
    * The oracle counts token adjacency directly over the SQL-split
    * arrays, immune to the substring-LIKE trap on adjacent repeats
    * ("… table value table value …" is 2 matches).
    */
  def phraseSearch(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    // pos feeds both phrase-term posting lists — un-persisted, the corpus
    // posexplode ran twice (r19). Filter to the phrase terms map-side and
    // checkpoint: the materialized frame is the two posting lists only.
    val pos = t.documents.select(col("doc_id"),
      posexplode(split(lower(trim(col("text"))), "\\s+")).as(Seq("p", "term")))
      .filter(col("term").isin("table", "value"))
      .localCheckpoint(true)
    val first = pos.filter(col("term") === "table").select(col("doc_id"), col("p"))
    val second = pos.filter(col("term") === "value")
      .select(col("doc_id"), (col("p") - 1).as("p"))
    first.join(second, Seq("doc_id", "p"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_occurrences"))
  }

  private val phraseSearchSql = Oracles("corpusstats", "phraseSearch")

  /** q138 — reciprocal-rank fusion of two retrieval rankings (the
    * standard hybrid-search combiner: no score normalization needed,
    * just ranks): BM25 (q124) ⊕ phrase-occurrence (q129), each cut to
    * its top-100 via `TakeOrderedAndProject` BEFORE ranking — RRF always
    * fuses bounded candidate lists, so the `row_number` windows run over
    * ≤100 rows by construction. `rrf = Σ 1/(60 + rank)`, absent-in-one-
    * list docs contribute 0 from that list; the two reciprocal terms add
    * in one fixed-order expression (no float-agg order issue), rounded 6,
    * ties broken by doc_id.
    */
  def rrfFusion(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val top1 = bm25Scored(spark, dir)
      .orderBy(col("score").desc, col("doc_id")).limit(100)
      .withColumn("r1", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))))
      .select(col("doc_id"), col("r1"))
    val top2 = phraseSearch(spark, dir)
      .orderBy(col("n_occurrences").desc, col("doc_id")).limit(100)
      .withColumn("r2", row_number().over(
        Window.orderBy(col("n_occurrences").desc, col("doc_id"))))
      .select(col("doc_id"), col("r2"))
    top1.join(top2, Seq("doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(60) + col("r1")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("r2")), lit(0.0)), 6))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(20)
      .select(col("doc_id"), col("r1"), col("r2"), col("rrf"))
  }

  private val rrfFusionSql = Oracles("corpusstats", "rrfFusion")

  /** q155 — tokenizer-vocabulary coverage / OOV rate: fix the vocabulary
    * to the corpus's top-1000 tokens and report, per document, how many
    * token OCCURRENCES fall outside it — the coverage number that decides
    * whether a tokenizer's vocab (or a frequency-pruned embedding table)
    * fits a corpus, and the per-doc outlier signal (high OOV ⇒ boilerplate,
    * code, or wrong-language contamination).
    *
    * Scale shape: raw tokens never shuffle (the q87 invariant) — the only
    * data-sized exchange carries the (doc, term) tf pairs; the vocabulary
    * is top-k by (count, term) via TakeOrderedAndProject over the
    * term-level agg (never a global sort of the vocabulary) and comes
    * back BROADCAST, so the oov flag is map-side on the tf table. Rates
    * are exact integer ppm (the q125/q134 convention). The tf subtree
    * feeds both the vocab and the per-doc branch; at RUNTIME AQE plans
    * the vocab branch as a ReusedExchange over the tf shuffle — one scan,
    * one tokenize (verified with `PlanAudit` SPARK_GRAFT_RUN=1; the
    * static explain shows a duplicated subtree that never executes).
    */
  def oovRate(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val tf = t.documents
      .select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("c"))
    val vocab = tf.groupBy(col("term")).agg(sum(col("c")).as("cnt"))
      .orderBy(col("cnt").desc, col("term")).limit(1000)
      .select(col("term"), lit(true).as("in_vocab"))
    tf.join(broadcast(vocab), Seq("term"), "left")
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_tokens"),
        sum(when(col("in_vocab").isNull, col("c")).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        expr("n_oov * 1000000L div n_tokens").as("oov_ppm"))
  }

  private val oovRateSql = Oracles("corpusstats", "oovRate")

  /** q157 — PMI collocations: top-20 adjacent word pairs by pointwise
    * mutual information (`ln(p(a,b) / (p(a)·p(b)))`), the classic
    * phrase-mining / tokenizer-vocab-seeding statistic ("new york" scores
    * high because it co-occurs far above chance; "of the" does not,
    * despite its raw count — exactly what the q88 frequency ranking
    * can't see). Pairs below 5 occurrences are dropped first (PMI is
    * noise at tiny counts AND the filter shrinks the join input).
    *
    * Scale shape: two map passes over text (one exploding unigrams, one
    * exploding adjacent pairs via `zip_with` slices — no self-join,
    * q88's discipline), each into one hash agg; totals are 1-row aggs
    * off the AGGREGATED tables broadcast back; the marginal lookups
    * shuffle the min-count-filtered pair table on the term key (the
    * q87 idf-join shape — the unigram table is vocabulary-sized, too
    * big to assume broadcastable at corpus scale). The PMI double is
    * ONE fixed-shape IEEE expression rounded(6) on both engines, and
    * the top-k ranks on the ROUNDED value with (lhs, rhs) tie-breaks
    * (the q124 convention) via TakeOrderedAndProject.
    */
  def pmiPairs(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val tk = split(lower(trim(col("text"))), "\\s+")
    val docs = t.documents.select(tk.as("tk"))
    // uni feeds THREE readers (the token total and both margin joins) and
    // pairCounts feeds TWO (the pair total and the scored pairs) — un-
    // persisted, each reader re-ran its corpus tokenize (r19 runtime plan
    // audit: documents scanned 5×). Both frames are vocab-bounded:
    // checkpoint each, exactly two tokenize passes remain (unigram +
    // bigram shapes — structurally distinct explodes).
    val uni = docs.select(explode(col("tk")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("c_term"))
      .localCheckpoint(true)
    val pairCounts = docs.filter(size(col("tk")) >= 2)
      .select(explode(expr(
        """zip_with(slice(tk, 1, size(tk) - 1), slice(tk, 2, size(tk) - 1),
          |         (a, b) -> named_struct('lhs', a, 'rhs', b))""".stripMargin)).as("p"))
      .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
      .agg(count(lit(1)).as("c_ab"))
      .localCheckpoint(true)
    val nTok = uni.agg(sum(col("c_term")).as("n_tok"))
    val nPair = pairCounts.agg(sum(col("c_ab")).as("n_pair"))
    pairCounts.filter(col("c_ab") >= 5)
      .join(uni.select(col("term").as("lhs"), col("c_term").as("c_lhs")), Seq("lhs"))
      .join(uni.select(col("term").as("rhs"), col("c_term").as("c_rhs")), Seq("rhs"))
      .crossJoin(broadcast(nTok)).crossJoin(broadcast(nPair))
      .withColumn("pmi", expr(
        """round(ln((CAST(c_ab AS DOUBLE) * CAST(n_tok AS DOUBLE) * CAST(n_tok AS DOUBLE))
          |        / (CAST(n_pair AS DOUBLE) * CAST(c_lhs AS DOUBLE) * CAST(c_rhs AS DOUBLE))), 6)""".stripMargin))
      .orderBy(col("pmi").desc, col("lhs"), col("rhs"))
      .limit(20)
      .select(col("lhs"), col("rhs"), col("c_ab"), col("c_lhs"), col("c_rhs"),
        col("pmi"))
  }

  private val pmiPairsSql = Oracles("corpusstats", "pmiPairs")

  /** q159 — per-source DATA CARD: the per-subset summary table a corpus
    * release publishes (docs, chars, language mix, exact-duplicate rate)
    * — one row per source with its dominant language and share. The
    * "dup_ppm" column is the within-source exact-duplicate occurrence
    * share (Σ(copies−1) per md5 text hash), the first number a data
    * consumer checks before trusting a subset.
    *
    * Scale shape: ONE data-sized shuffle — everything derives from a
    * single (source, lang, text-hash) pre-aggregate (at most one row
    * per distinct document version): doc/char/dup totals are SUMS over
    * it, the language mix is a rollup of it, and the dominant language
    * is a row_number over the source×lang table (tiny by construction).
    * Rates are exact integer ppm.
    */
  def sourceDatacard(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val pre = t.documents
      .groupBy(col("source"), col("lang"), md5(col("text").cast("binary")).as("h"))
      .agg(count(lit(1)).as("c"), sum(col("n_chars")).as("chars"))
    datacardFromPre(pre)
  }

  /** The q159 rollup from a (source, lang, h, c, chars) pre-aggregate —
    * shared by the batch query above and the STREAMING card
    * ([[graft.streaming.CorpusStreams.readDatacard]]), so both surfaces
    * compute the identical card from merged partials.
    */
  private[graft] def datacardFromPre(pre: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = pre.groupBy(col("source")).agg(
      sum(col("c")).as("n_docs"),
      sum(col("chars")).as("total_chars"),
      countDistinct(col("lang")).as("n_langs"),
      sum(col("c") - 1).as("n_dup_docs"))
    val sl = pre.groupBy(col("source"), col("lang")).agg(sum(col("c")).as("lc"))
    val top = sl.withColumn("rn", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("lc").desc, col("lang"))))
      .filter(col("rn") === 1)
      .select(col("source"), col("lang").as("top_lang"), col("lc").as("top_c"))
    per.join(top, Seq("source"))
      .select(col("source"), col("n_docs"), col("total_chars"), col("n_langs"),
        col("top_lang"),
        expr("top_c * 1000000L div n_docs").as("top_lang_ppm"),
        expr("n_dup_docs * 1000000L div n_docs").as("dup_ppm"))
  }

  private val sourceDatacardSql = Oracles("corpusstats", "sourceDatacard")

  /** q163 — DSIR-style IMPORTANCE WEIGHTING: score every document by how
    * much more likely its unigrams are under a TARGET domain's
    * distribution (here the `en` slice stands in for the high-quality
    * target) than under the full corpus — the data-selection statistic
    * from "Data Selection for Language Models via Importance Resampling"
    * (Xie et al., 2023). The top-weighted documents are what a targeted
    * pretraining mix would up-sample. Add-1 smoothing on both models so
    * unseen terms stay finite.
    *
    * Scale shape: ONE (doc, term) tf aggregate is the only data-sized
    * exchange; BOTH per-term models come off it as two window sums over
    * the same `term` partition (one Window node, the q91 ReusedExchange
    * shape — no second scan, no join); the three corpus totals are a
    * broadcast 1-row agg. Per-term log-ratios are rounded(6) BEFORE the
    * per-doc DECIMAL sum (Exact.dsum rule — order-independent), and the
    * top-50 ranks on the rounded weight with doc_id tie-break via
    * TakeOrderedAndProject.
    */
  def importanceWeights(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    // checkpoint: tf feeds BOTH the 1-row totals broadcast and the main
    // windowed pipeline — un-persisted, the corpus explode + (doc, term)
    // aggregate executed twice (broadcast builds don't share exchanges;
    // q151/q139 pattern). Reused and expensive — the guide-§5 persist
    // case; the window sums over it already shared one exchange.
    val tf = t.documents
      .select(col("doc_id"), col("lang"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
      .groupBy(col("doc_id"), col("lang"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val tot = tf.agg(
      sum(col("tf")).as("n_all"),
      sum(when(col("lang") === "en", col("tf")).otherwise(0L)).as("n_tgt"),
      countDistinct(col("term")).as("v"))
    val w = Window.partitionBy(col("term"))
    tf
      .withColumn("c_all", sum(col("tf")).over(w))
      .withColumn("c_tgt",
        sum(when(col("lang") === "en", col("tf")).otherwise(0L)).over(w))
      .crossJoin(broadcast(tot))
      .withColumn("r",
        round(log((col("c_tgt") + 1).cast("double") * (col("n_all") + col("v"))
          / ((col("c_all") + 1).cast("double") * (col("n_tgt") + col("v")))), 6)
          .cast("decimal(18,6)"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("tf") * col("r")).as("w_dec"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        col("w_dec").cast("double").as("logweight"))
      .orderBy(col("logweight").desc, col("doc_id"))
      .limit(50)
  }

  private val importanceWeightsSql = Oracles("corpusstats", "importanceWeights")

  /** q174 — VOCABULARY COVERAGE curve: share of token OCCURRENCES
    * covered by the top-K terms, for candidate vocab sizes K — the
    * tokenizer-vocab-sizing sweep (where the curve flattens is where
    * extra vocab stops paying; q155 reports the OOV rate of ONE chosen
    * K=1000 vocab, this sweeps the choice).
    *
    * Scale shape: raw tokens collapse into the term-count aggregate
    * (vocabulary-sized) immediately; the rank is a global row_number
    * over THAT table (a vocab-sized sort, not a corpus sort); the
    * 4-literal explode fans the ranked vocab map-side (the q160
    * convention) so coverage and totals ride one 4-group agg. Exact
    * integer ppm.
    */
  def vocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val tc = t.documents
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val ranked = tc.withColumn("rnk",
      row_number().over(Window.orderBy(col("cnt").desc, col("term"))))
    ranked
      .select(explode(expr("array(5, 10, 20, 50)")).as("vocab_k"),
        col("rnk"), col("cnt"))
      .groupBy(col("vocab_k"))
      .agg(
        sum(when(col("rnk") <= col("vocab_k"), col("cnt")).otherwise(0L))
          .as("covered"),
        sum(col("cnt")).as("total"),
        sum(when(col("rnk") <= col("vocab_k"), 1L).otherwise(0L))
          .as("n_terms_used"))
      .select(col("vocab_k"), col("n_terms_used"), col("covered"),
        expr("covered * 1000000L div total").as("coverage_ppm"))
  }

  /** q213 — per-source Kolmogorov–Smirnov drift on the document-length
    * distribution: D = max over lengths of |ECDF_source − ECDF_rest|,
    * the distribution-free two-sample test that catches a feed whose
    * documents got systematically longer/shorter even when its language
    * and term mixes look unchanged. Completes the drift triad: q95 (KL
    * on term distributions), q148 (PSI on binned values over time),
    * q213 (KS on a continuous marginal, no binning choice to defend).
    *
    * Exactness: the statistic is computed as the exact integer cross
    * product |cum_s·n_r − cum_r·n_s| (no per-point division, so no
    * truncation ordering to argue about), scaled to ppm only once at
    * the max — int64-safe to ~3·10⁹ docs per side (then the q147
    * DECIMAL recipe). ECDFs evaluate at every distinct length, which is
    * where the max must occur.
    *
    * Scale shape: one (source, n_chars) count agg collapses the corpus;
    * cumulative windows run per source over the tiny (source × distinct
    * lengths) table; one per-source max. The corpus is scanned once.
    */
  def ksLengthDrift(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    // perLen feeds three readers (the global cumulative, the per-source
    // totals, and the ECDF join) — un-persisted, the data-sized agg ran
    // per reader (r19 runtime plan audit: documents scanned 4×).
    // (source × distinct-length)-grain, the scale story's own bound.
    val perLen = t.documents.groupBy(col("source"), col("n_chars"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    // global per-length cumulative — a single-partition window over the
    // DISTINCT-LENGTHS table (hundreds of rows), not the corpus
    val perLenAll = perLen.groupBy(col("n_chars")).agg(sum(col("c")).as("c_all"))
      .withColumn("cum_all", sum(col("c_all")).over(
        Window.orderBy(col("n_chars"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val totals = perLen.groupBy(col("source")).agg(sum(col("c")).as("n_s"))
    val tot = totals.agg(sum(col("n_s")).as("n_tot"))
    val wS = Window.partitionBy(col("source")).orderBy(col("n_chars"))
    totals.crossJoin(perLenAll.select(col("n_chars"), col("cum_all")))
      .join(perLen, Seq("source", "n_chars"), "left")
      .withColumn("cum_s",
        sum(coalesce(col("c"), lit(0L))).over(wS))
      .crossJoin(broadcast(tot))
      .withColumn("cum_r", col("cum_all") - col("cum_s"))
      .withColumn("n_r", col("n_tot") - col("n_s"))
      .withColumn("d_num",
        abs(col("cum_s") * col("n_r") - col("cum_r") * col("n_s")))
      .groupBy(col("source"), col("n_s"), col("n_r"))
      .agg(max(col("d_num")).as("d_num"))
      .select(col("source"), col("n_s").as("n_docs"),
        expr("d_num * 1000000 div (n_s * n_r)").as("ks_ppm"))
  }

  private val ksLengthDriftSql = Oracles("corpusstats", "ksLengthDrift")

  /** q206 — pairwise Jensen–Shannon divergence between source term
    * distributions: the source-similarity matrix behind mixture design
    * (two sources with near-zero JS are redundant — deduplicate the MIX,
    * not just the documents; a high-JS source adds diversity). JS is
    * computed in exact micro-nats: each KL term uses the integer ratio
    * identity p/m = 2·cₐ·N_b / (cₐ·N_b + c_b·Nₐ) — a quotient of exact
    * int64 products, identical on both engines — with ln rounded to 1e6
    * fixed point BEFORE the count-weighted BIGINT sum (the q87/q91
    * rounded-transcendental discipline). KL ≥ 0 mathematically, but
    * rounded terms can dip a hair negative, so each sum clamps at zero
    * before the truncating division (div ≡ // on nonneg). int64 headroom:
    * cₐ·N_b caps at ~1e13 at sf1; past ~1e9-token sources the products
    * move to DECIMAL(38,0) (the q147 recipe).
    *
    * Scale shape: raw tokens collapse to the (source, term) agg in one
    * pass; the sources×vocab grid, the pair join, and the 190-row matrix
    * are all vocabulary-sized — corpus size only enters through the one
    * term agg.
    */
  def sourceJsDivergence(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    // tc feeds three readers (totals, the term dim, the grid join) and
    // grid feeds BOTH sides of the pair self-join — un-persisted, the
    // corpus tokenize ran up to 6× (r19 runtime plan audit: documents
    // scanned 6×). Both frames are vocab-bounded (≤ sources × terms),
    // never corpus-sized: checkpoint each, one tokenize pass total.
    val tc = t.documents
      .select(col("source"), explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val totals = tc.groupBy(col("source")).agg(sum(col("c")).as("n"))
    val terms = tc.select(col("term")).distinct()
    val grid = totals.crossJoin(terms)
      .join(tc, Seq("source", "term"), "left")
      .select(col("source"), col("term"), col("n"),
        coalesce(col("c"), lit(0L)).as("c"))
      .localCheckpoint(true)
    val a = grid.select(col("source").as("src_a"), col("term"),
      col("n").as("na"), col("c").as("ca"))
    val b = grid.select(col("source").as("src_b"), col("term"),
      col("n").as("nb"), col("c").as("cb"))
    a.join(b, Seq("term")).filter(col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"), col("na"), col("nb"),
        when(col("ca") > 0, col("ca") * expr(
          "CAST(round(ln(CAST(2 * ca * nb AS DOUBLE) / CAST(ca * nb + cb * na AS DOUBLE)) * 1000000) AS BIGINT)"))
          .otherwise(0L).as("ta"),
        when(col("cb") > 0, col("cb") * expr(
          "CAST(round(ln(CAST(2 * cb * na AS DOUBLE) / CAST(ca * nb + cb * na AS DOUBLE)) * 1000000) AS BIGINT)"))
          .otherwise(0L).as("tb"))
      .groupBy(col("src_a"), col("src_b"), col("na"), col("nb"))
      .agg(sum(col("ta")).as("sa"), sum(col("tb")).as("sb"))
      .select(col("src_a"), col("src_b"),
        expr("greatest(sa, 0L) div (2 * na) + greatest(sb, 0L) div (2 * nb)")
          .as("js_micro_nats"))
  }

  private val sourceJsDivergenceSql = Oracles("corpusstats", "sourceJsDivergence")

  /** q204 — Zipf power-law fit of the term-frequency distribution: OLS
    * slope and intercept of ln(freq) on ln(rank) over the top-1000 terms
    * (Zipf's law predicts slope ≈ −1; a materially flatter or steeper
    * slope flags boilerplate-heavy or truncated-vocabulary corpora — a
    * standard data-quality fingerprint for a training corpus).
    *
    * Determinism: both logs are rounded to 1e4 fixed-point BIGINT on
    * BOTH engines BEFORE any arithmetic (the suite's rounded-
    * transcendental rule), all five OLS sums are exact BIGINT, and the
    * closed-form slope/intercept are single IEEE divisions of identical
    * integers — bit-equal across engines. int64 headroom: with rank ≤
    * 1000 and ln scaled 1e4, Σx·Σxy style products stay < 2⁶³ up to
    * ~10⁸-term vocabularies.
    *
    * Scale shape: raw tokens collapse to the vocabulary-sized term agg
    * immediately (the q174 shape); ranking is a window over that tiny
    * table; the fit is one 1-row agg of five integer sums.
    */
  def zipfSlope(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val tc = t.documents
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    tc.withColumn("rnk",
        row_number().over(Window.orderBy(col("cnt").desc, col("term"))))
      .filter(col("rnk") <= 1000)
      .select(
        expr("CAST(round(ln(CAST(rnk AS DOUBLE)) * 10000) AS BIGINT)").as("x"),
        expr("CAST(round(ln(CAST(cnt AS DOUBLE)) * 10000) AS BIGINT)").as("y"))
      .agg(
        count(lit(1)).as("n_terms"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("n_terms"),
        // numerators go through DECIMAL(38,0): sy·sxx alone reaches ~8e20
        // at a 1000-term fit (ANSI-caught at sf1), far past int64 — the
        // q147 exact-128-bit recipe; the denominator peaks ~5e15 and
        // stays BIGINT (and double-exact, < 2^53)
        round(expr(
          """CAST(CAST(n_terms AS DECIMAL(38,0)) * sxy
            |   - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
            | / CAST(n_terms * sxx - sx * sx AS DOUBLE)""".stripMargin), 6)
          .as("slope"),
        round(expr(
          """CAST(CAST(sy AS DECIMAL(38,0)) * sxx
            |   - CAST(sx AS DECIMAL(38,0)) * sxy AS DOUBLE)
            | / CAST(n_terms * sxx - sx * sx AS DOUBLE) / 10000.0""".stripMargin), 6)
          .as("intercept_ln"))
  }

  private val zipfSlopeSql = Oracles("corpusstats", "zipfSlope")

  private val vocabCoverageSql = Oracles("corpusstats", "vocabCoverage")

  /** q175 — term BURSTINESS: for the top-20 terms by corpus frequency,
    * the mean occurrences per CONTAINING document (cf/df, micro units) —
    * the classic content-vs-function-word discriminator (function words
    * spread evenly, df≈docs and burstiness low; topical terms clump
    * into few documents and burst high). Reads directly on q124's BM25
    * assumptions: bursty terms are exactly where tf saturation matters.
    *
    * Scale shape: one (doc, term) tf aggregate (raw tokens never
    * shuffle), one vocabulary-sized per-term rollup carrying cf AND df
    * in the same pass, TakeOrderedAndProject(20) on (cf desc, term).
    */
  def termBurstiness(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val tf = t.documents
      .select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("c"))
    tf.groupBy(col("term"))
      .agg(sum(col("c")).as("cf"), count(lit(1)).as("df"))
      .select(col("term"), col("cf"), col("df"),
        expr("cf * 1000000L div df").as("burst_micro"))
      .orderBy(col("cf").desc, col("term"))
      .limit(20)
  }

  private val termBurstinessSql = Oracles("corpusstats", "termBurstiness")

  /** q184 — per-source LANGUAGE ENTROPY: Shannon entropy of each
    * source's language mix (nats, 6dp) plus doc and language counts —
    * the single-number language-diversity column for q159's data card
    * (H = 0 ⇒ monolingual source; ln(5) ≈ 1.609 ⇒ uniform over the 5
    * corpus languages). Complements q165: entropy says how much
    * temperature scaling will rebalance WITHIN a source.
    *
    * Determinism: per-language terms `c·round(ln(n/c), 6)` are rounded
    * BEFORE the DECIMAL sum (Exact.dsum rule — ln is the only
    * transcendental and it's one fixed-shape IEEE call on both
    * engines); the final divide-by-n is one double op rounded(6).
    *
    * Scale shape: one (source, lang) hash agg (tiny by construction);
    * totals via a window over that table; everything after is
    * control-plane-sized.
    */
  def sourceLangEntropy(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val sl = t.documents.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("c"))
    sl.withColumn("n", sum(col("c")).over(Window.partitionBy(col("source"))))
      .withColumn("term",
        (col("c") * round(log(col("n").cast("double") / col("c")), 6)
          .cast("decimal(18,6)")))
      .groupBy(col("source"))
      .agg(max(col("n")).as("n_docs"), count(lit(1)).as("n_langs"),
        sum(col("term")).as("h_sum"))
      .select(col("source"), col("n_docs"), col("n_langs"),
        round(col("h_sum").cast("double") / col("n_docs"), 6)
          .as("lang_entropy"))
  }

  private val sourceLangEntropySql = Oracles("corpusstats", "sourceLangEntropy")

  /** q216 — GREEDY token-budget curation: rank each source's documents
    * by the q122 quality logit (best first) and keep documents until the
    * source's token budget — 30% of its token mass — is exhausted; the
    * knapsack-relaxation selection every "train on the best N tokens"
    * pipeline runs once a compute budget is fixed. Per source: docs
    * considered/kept, token mass, budget, kept tokens, kept-ppm, and the
    * kept docs' summed logit (exact BIGINT — the oracle-stable stand-in
    * for "mean selected quality").
    *
    * Determinism: the greedy order carries doc_id as tiebreaker; budgets
    * and kept-ppm are integer floor-divisions of non-negative token
    * counts (`div` ≡ `//`); the q122 logit is already bit-equal across
    * engines (md5 weights, integer sum).
    *
    * Scale shape: scoring is the q122 map-side literal-folded logit
    * (no data-keyed shuffle of its own; the gate-scale round-robin
    * spread is identity at production splits); the only data-sized
    * shuffle is the per-source
    * cumulative window (keyed by source — the q212 skew report decides
    * when a dominant source needs the q101 two-phase treatment); budgets
    * broadcast back as a source-table-sized join and the output is one
    * row per source.
    */
  def tokenBudgetSelect(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val dim = 256
    // spread: the per-token md5 logit map otherwise runs single-task on
    // the 1-split scan (q122/q190 rule; identity at production splits).
    // localCheckpoint (ADVICE r19): `scored` feeds TWO consumers — the
    // budgets aggregate and the cumulative window — so un-materialized,
    // the documents scan, the 256-weight logit projection AND the spread
    // exchange all executed twice per run (the r19 after-plan shows the
    // exchange twice). Narrow doc-grain projection (4 columns), the q150
    // losers pattern.
    val scored = Tables.spread(t.documents).select(col("doc_id"), col("source"),
      size(graft.ops.Dedup.words(col("text"))).cast("long").as("n_tokens"),
      graft.ops.QualityScorer.logitMicro(col("text"),
        graft.ops.QualityScorer.md5Weights(dim)).as("logit_u"))
      .localCheckpoint(true)
    val budgets = scored.groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("tot_tokens"))
      .withColumn("budget_tokens", expr("tot_tokens * 3 div 10"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("logit_u").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scored
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .join(broadcast(budgets), Seq("source"))
      .withColumn("selected", col("cum_tokens") <= col("budget_tokens"))
      .groupBy(col("source"), col("tot_tokens"), col("budget_tokens"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("selected"), 1L).otherwise(0L)).as("n_selected"),
        sum(when(col("selected"), col("n_tokens")).otherwise(0L))
          .as("sel_tokens"),
        sum(when(col("selected"), col("logit_u")).otherwise(0L))
          .as("sel_logit_u"))
      .select(col("source"), col("n_docs"), col("n_selected"),
        col("tot_tokens"), col("budget_tokens"), col("sel_tokens"),
        expr("sel_tokens * 1000000L div tot_tokens").as("sel_ppm"),
        col("sel_logit_u"))
  }

  private val tokenBudgetSelectSql = Oracles("corpusstats", "tokenBudgetSelect")

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q184_source_lang_entropy", sourceLangEntropy, Some(sourceLangEntropySql)),
    QueryDef("q216_token_budget_select", tokenBudgetSelect, Some(tokenBudgetSelectSql)),
    QueryDef("q174_vocab_coverage", vocabCoverage, Some(vocabCoverageSql)),
    QueryDef("q204_zipf_slope", zipfSlope, Some(zipfSlopeSql)),
    QueryDef("q206_source_js_divergence", sourceJsDivergence,
      Some(sourceJsDivergenceSql)),
    QueryDef("q213_ks_length_drift", ksLengthDrift, Some(ksLengthDriftSql)),
    QueryDef("q175_term_burstiness", termBurstiness, Some(termBurstinessSql)),
    QueryDef("q163_importance_weights", importanceWeights, Some(importanceWeightsSql)),
    QueryDef("q159_source_datacard", sourceDatacard, Some(sourceDatacardSql)),
    QueryDef("q157_pmi_pairs", pmiPairs, Some(pmiPairsSql)),
    QueryDef("q155_oov_rate", oovRate, Some(oovRateSql)),
    QueryDef("q138_rrf_fusion", rrfFusion, Some(rrfFusionSql)),
    QueryDef("q129_phrase_search", phraseSearch, Some(phraseSearchSql)),
    QueryDef("q123_segment_dedup", segmentDedup, Some(segmentDedupSql)),
    QueryDef("q124_bm25_topk", bm25TopK, Some(bm25TopKSql)),
    QueryDef("q105_chi_square", chiSquare, Some(chiSquareSql)),
    QueryDef("q111_inverted_index", invertedIndex, Some(invertedIndexSql)),
    QueryDef("q113_token_entropy", tokenEntropy, Some(tokenEntropySql)),
    QueryDef("q95_kl_drift", klDrift, Some(klDriftSql)),
    QueryDef("q87_tfidf_keywords", tfidfKeywords, Some(tfidfKeywordsSql)),
    QueryDef("q88_bpe_pair_counts", bpePairCounts, Some(bpePairCountsSql)),
    QueryDef("q89_dupspan_fraction", dupSpanFraction, Some(dupSpanFractionSql)),
    QueryDef("q90_heavy_hitters", heavyHitters, Some(heavyHittersSql)),
    QueryDef("q91_unigram_logprob", unigramLogprob, Some(unigramLogprobSql)),
    QueryDef("q186_bigram_logprob", bigramLogprob, Some(bigramLogprobSql)),
    QueryDef("q192_surprisal_mixture", surprisalMixture, Some(surprisalMixtureSql)),
    QueryDef("q195_bpe_merges", bpeMerges, Some(bpeMergesSql)),
    QueryDef("q196_bpe_fertility", bpeFertility, Some(bpeFertilitySql)),
  )

  /** q196 — apply the q195-LEARNED merges and report per-source fertility:
    * BPE units per word (centi) and compression vs the character baseline
    * (ppm). Closes the tokenizer loop (train q195 → apply → measure) and
    * complements q161, which measures the FIXED regex tokenizer — this is
    * the learned one, so the two disagree exactly where training data and
    * corpus diverge.
    *
    * Scale shape: tokenization applies on the VOCAB table (distinct
    * words), not the corpus — the 8 merge folds run once per distinct
    * word in-row, and the corpus-sized work is a single (source, word)
    * counted agg joined to the broadcast vocab. Oracle: pinned per-source
    * literals (q195's fold-semantics rationale); BpeTrainSpec verifies
    * the application path at unit scale.
    */
  def bpeFertility(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val merges = graft.core.Memo.cached(spark, s"q195-merges:$dir") {
      graft.ops.BpeTrain.train(
        graft.ops.BpeTrain.wordFrequencies(t.documents, "text"), rounds = 8)
    }
    val sourceWords = t.documents
      .select(col("source"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("source"), col("word")).agg(count(lit(1)).as("n"))
    var vocab = sourceWords.select(col("word")).distinct()
      .withColumn("units", graft.ops.BpeTrain.charUnits("word"))
    merges.foreach { m =>
      vocab = vocab.withColumn("units",
        graft.ops.BpeTrain.mergePair("units", m.lhs, m.rhs))
    }
    val scored = vocab.select(col("word"),
      length(col("word")).cast("long").as("chars"),
      size(col("units")).cast("long").as("bpe_units"))
    sourceWords.join(broadcast(scored), Seq("word"))
      .groupBy(col("source"))
      .agg(
        sum(col("n")).as("n_words"),
        sum(col("n") * col("chars")).as("char_units"),
        sum(col("n") * col("bpe_units")).as("bpe_units"))
      .select(col("source"), col("n_words"), col("char_units"),
        col("bpe_units"),
        expr("bpe_units * 100 div n_words").as("fertility_c"),
        expr("bpe_units * 1000000 div char_units").as("compression_ppm"))
  }

  /** Pinned per scale factor, keyed by `SUM(n_chars)` (same mechanism and
    * rationale as [[bpeMergesSql]] — these are the q195 merges APPLIED, so
    * the pin inherits that oracle's spec-verified provenance). Regenerate a
    * set by running [[bpeFertility]] against the target SF dir.
    */
  private val bpeFertilitySql: String = {
    val pinned: Seq[(Long, String, Long, Long, Long)] = Seq(
      (153156L, "src0", 1533L, 6856L, 5662L), (153156L, "src1", 1441L, 6483L, 5385L),
      (153156L, "src10", 1376L, 6146L, 5105L), (153156L, "src11", 1426L, 6352L, 5277L),
      (153156L, "src12", 1479L, 6673L, 5506L), (153156L, "src13", 1269L, 5682L, 4703L),
      (153156L, "src14", 1657L, 7531L, 6207L), (153156L, "src15", 1332L, 5948L, 4943L),
      (153156L, "src16", 1414L, 6400L, 5278L), (153156L, "src17", 1314L, 5989L, 4964L),
      (153156L, "src18", 1271L, 5668L, 4723L), (153156L, "src19", 1369L, 6282L, 5225L),
      (153156L, "src2", 1267L, 5680L, 4717L), (153156L, "src3", 1560L, 6945L, 5750L),
      (153156L, "src4", 1316L, 5907L, 4879L), (153156L, "src5", 1216L, 5567L, 4594L),
      (153156L, "src6", 1466L, 6563L, 5420L), (153156L, "src7", 1212L, 5419L, 4483L),
      (153156L, "src8", 1632L, 7371L, 6131L), (153156L, "src9", 1389L, 6255L, 5219L),
      (149174L, "src0", 1435L, 6539L, 5386L), (149174L, "src1", 1540L, 7055L, 5804L),
      (149174L, "src10", 1303L, 5883L, 4881L), (149174L, "src11", 1522L, 6890L, 5723L),
      (149174L, "src12", 1272L, 5680L, 4703L), (149174L, "src13", 1553L, 6934L, 5754L),
      (149174L, "src14", 1318L, 5923L, 4893L), (149174L, "src15", 1298L, 5827L, 4807L),
      (149174L, "src16", 1351L, 6158L, 5110L), (149174L, "src17", 1373L, 6129L, 5064L),
      (149174L, "src18", 1364L, 6217L, 5153L), (149174L, "src19", 1147L, 5184L, 4302L),
      (149174L, "src2", 1407L, 6307L, 5253L), (149174L, "src3", 1384L, 6261L, 5183L),
      (149174L, "src4", 1294L, 5829L, 4819L), (149174L, "src5", 1329L, 5950L, 4963L),
      (149174L, "src6", 1266L, 5723L, 4721L), (149174L, "src7", 1507L, 6719L, 5625L),
      (149174L, "src8", 1136L, 5166L, 4273L), (149174L, "src9", 1366L, 6135L, 5117L),
      (1485576L, "src0", 13298L, 60279L, 50081L), (1485576L, "src1", 13597L, 61112L, 50654L),
      (1485576L, "src10", 13608L, 61564L, 51145L), (1485576L, "src11", 13196L, 59547L, 49479L),
      (1485576L, "src12", 14224L, 63907L, 53075L), (1485576L, "src13", 14214L, 64391L, 53263L),
      (1485576L, "src14", 12823L, 57743L, 47774L), (1485576L, "src15", 13097L, 59025L, 48854L),
      (1485576L, "src16", 13541L, 60836L, 50319L), (1485576L, "src17", 13572L, 60987L, 50582L),
      (1485576L, "src18", 13119L, 59205L, 49036L), (1485576L, "src19", 13451L, 60726L, 50368L),
      (1485576L, "src2", 13727L, 61744L, 51206L), (1485576L, "src3", 13567L, 60941L, 50562L),
      (1485576L, "src4", 13431L, 60576L, 50368L), (1485576L, "src5", 14373L, 64764L, 53712L),
      (1485576L, "src6", 13580L, 60969L, 50630L), (1485576L, "src7", 12604L, 56843L, 47168L),
      (1485576L, "src8", 14399L, 64795L, 53745L), (1485576L, "src9", 13283L, 59918L, 49712L))
    val rows = pinned.map { case (k, s, w, c, b) => s"($k, '$s', $w, $c, $b)" }
      .mkString(", ")
    s"""SELECT source, CAST(n_words AS BIGINT) AS n_words,
       |  CAST(char_units AS BIGINT) AS char_units,
       |  CAST(bpe_units AS BIGINT) AS bpe_units,
       |  CAST(CAST(bpe_units AS BIGINT) * 100 // n_words AS BIGINT)
       |    AS fertility_c,
       |  CAST(CAST(bpe_units AS BIGINT) * 1000000 // char_units AS BIGINT)
       |    AS compression_ppm
       |FROM (VALUES $rows) AS t(k, source, n_words, char_units, bpe_units)
       |WHERE k = (SELECT SUM(n_chars) FROM documents)"""
      .stripMargin
  }

  /** q195 — BPE tokenizer TRAINING (the merge loop q88's pair counts are
    * the first step of): 8 Sennrich-style merges learned from the corpus,
    * with each round's winning pair, weighted count, and the corpus unit
    * count after the merge (the compression curve a tokenizer team reads
    * before picking a vocab size). See [[graft.ops.BpeTrain]] for the
    * scale argument: ONE corpus-sized pass (the word-frequency agg),
    * then every round is vocab-sized with in-row pair formation, one
    * weighted hash agg, and a 1-row argmax collect.
    *
    * Oracle: PINNED literals at sf0.01 (the driver gate's scale) — the
    * greedy left-to-right substitution is sequential-fold semantics SQL
    * can't restate independently (the q53 pinned-oracle policy);
    * BpeTrainSpec hand-verifies the algorithm at unit scale including
    * the overlap and tie rules. Regenerate by running [[bpeMerges]]
    * against /root/testdata/sf0.01 if the tokenization or testdata ever
    * change.
    */
  def bpeMerges(spark: SparkSession, dir: String): DataFrame = {
    val merges = graft.core.Memo.cached(spark, s"q195-merges:$dir") {
      graft.ops.BpeTrain.train(
        graft.ops.BpeTrain.wordFrequencies(Tables(spark, dir).documents, "text"),
        rounds = 8)
    }
    import spark.implicits._
    merges.toDF()
  }

  /** Pinned per scale factor, keyed by `SUM(n_chars)` (row COUNT is 500 at
    * BOTH sf0.001 and sf0.01 — only a content key discriminates). BPE
    * training isn't expressible as one DuckDB query, so the oracle pins the
    * independently spec-verified trainer output (BpeTrainSpec hand-checks
    * the merge loop); keying per SF makes the pin valid at every driver
    * scale instead of silently sf0.01-only. Regenerate a set by running
    * [[bpeMerges]] against the target SF dir.
    */
  private val bpeMergesSql: String = {
    val pinned: Seq[(Long, Int, String, String, Long, Long)] = Seq(
      (153156L, 1, "e", "r", 4650L, 121067L), (153156L, 2, "o", "r", 2880L, 118187L),
      (153156L, 3, "i", "n", 2858L, 115329L), (153156L, 4, "o", "w", 2763L, 112566L),
      (153156L, 5, "s", "t", 2721L, 109845L), (153156L, 6, "l", "u", 1928L, 107917L),
      (153156L, 7, "a", "r", 1873L, 106044L), (153156L, 8, "p", "ar", 1873L, 104171L),
      (149174L, 1, "e", "r", 4568L, 117941L), (149174L, 2, "i", "n", 2760L, 115181L),
      (149174L, 3, "o", "w", 2747L, 112434L), (149174L, 4, "o", "r", 2696L, 109738L),
      (149174L, 5, "s", "t", 2676L, 107062L), (149174L, 6, "m", "er", 1852L, 105210L),
      (149174L, 7, "a", "t", 1845L, 103365L), (149174L, 8, "l", "u", 1831L, 101534L),
      (1485576L, 1, "e", "r", 45089L, 1174783L), (1485576L, 2, "i", "n", 27190L, 1147593L),
      (1485576L, 3, "o", "r", 27095L, 1120498L), (1485576L, 4, "s", "t", 27060L, 1093438L),
      (1485576L, 5, "o", "w", 27044L, 1066394L), (1485576L, 6, "t", "a", 18248L, 1048146L),
      (1485576L, 7, "l", "u", 18239L, 1029907L), (1485576L, 8, "m", "er", 18174L, 1011733L))
    val rows = pinned.map { case (k, i, l, r, c, u) =>
      s"($k, $i, '$l', '$r', $c, $u)"
    }.mkString(", ")
    s"""SELECT CAST(rank AS INT) AS rank, lhs, rhs,
       |  CAST(pair_count AS BIGINT) AS pair_count,
       |  CAST(units_after AS BIGINT) AS units_after
       |FROM (VALUES $rows) AS t(k, rank, lhs, rhs, pair_count, units_after)
       |WHERE k = (SELECT SUM(n_chars) FROM documents)"""
      .stripMargin
  }

  /** q186 — bigram conditional log-likelihood per document: the next step
    * up from q91's unigram surprisal and the classic cheap perplexity
    * proxy for corpus quality filtering (fluent prose scores low; shuffled
    * or boilerplate text scores high even when its unigrams look normal,
    * because P(rhs|lhs) = c(lhs,rhs)/c(lhs·) punishes unseen transitions).
    * Emitted per doc: bigram count, Σ−ln P(rhs|lhs), and the
    * length-normalized average (the filterable score).
    *
    * Scale shape: raw tokens never shuffle — adjacent pairs form inside
    * the row (`zip_with` over two slices, the q88 mechanism) and collapse
    * immediately into the (doc, lhs, rhs) tf agg with map-side combine;
    * the corpus-level c(lhs,rhs) and c(lhs·) are two window sums over that
    * aggregate (shuffles of the COLLAPSED bigram table only); the per-doc
    * rollup regroups on the doc prefix. Determinism: each −ln term is
    * rounded to 6dp into a DECIMAL(18,6) before the weighted sum — the
    * q91 recipe verbatim.
    */
  /** Per-doc (doc_id, n_bigrams, sum_dec) bigram-surprisal table, memoized
    * per (session, dir): the expensive bigram build is shared by q186 (the
    * per-doc score) and q192 (the per-source mixture rollup) — one pinned
    * 3-column aggregate, not two bigram passes.
    */
  private def bigramDocLp(spark: SparkSession, dir: String): DataFrame =
    graft.core.Memo.cached(spark, s"q186-doclp:$dir") {
      val t = Tables(spark, dir)
      // spread (r20): the zip_with bigram explode + (doc, lhs, rhs) tf
      // partials ran as ONE 2.1 s task on the 1-split gate-scale scan —
      // and unlike the q14/q15 partial-agg-collapse class, this partial
      // does NOT collapse map-side (per-doc bigrams are mostly unique),
      // so the exchange buys real parallelism. Identity at production
      // split counts; downstream is hash aggregates only (order-safe).
      val toks = Tables.spread(t.documents)
        .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("tk"))
        .filter(size(col("tk")) >= 2)
      val tf = toks
        .select(col("doc_id"), explode(expr(
          """zip_with(slice(tk, 1, size(tk) - 1), slice(tk, 2, size(tk) - 1),
            |  (a, b) -> named_struct('lhs', a, 'rhs', b))""".stripMargin)).as("p"))
        .groupBy(col("doc_id"), col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(count(lit(1)).as("tf"))
      tf
        .withColumn("c_ab",
          sum(col("tf")).over(Window.partitionBy(col("lhs"), col("rhs"))))
        .withColumn("c_a", sum(col("tf")).over(Window.partitionBy(col("lhs"))))
        .withColumn("r",
          round(log(col("c_a").cast("double") / col("c_ab")), 6)
            .cast("decimal(18,6)"))
        .groupBy(col("doc_id"))
        .agg(
          sum(col("tf")).as("n_bigrams"),
          sum(col("tf") * col("r")).as("sum_dec"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  def bigramLogprob(spark: SparkSession, dir: String): DataFrame =
    bigramDocLp(spark, dir)
      .select(col("doc_id"), col("n_bigrams"),
        col("sum_dec").cast("double").as("sum_neglogp"),
        round(col("sum_dec").cast("double") / col("n_bigrams"), 6)
          .as("avg_neglogp"))

  private val bigramLogprobSql = Oracles("corpusstats", "bigramLogprob")

  /** q192 — surprisal-weighted mixture (DoReMi-flavored): per-source
    * training-mix weights proportional to EXCESS language-model loss
    * rather than raw size. Each source's token-weighted mean bigram
    * surprisal (micro-nats, off the memoized q186 per-doc table) is
    * compared to the best source; weight ∝ excess, with a uniform
    * fallback when all sources tie. This is the loss-aware counterpart
    * to q163 (count-based importance) and q165 (temperature scaling):
    * up-weight the domains the model finds hard, not merely the small
    * ones. All arithmetic is exact BIGINT micro-units and positive
    * integer division — no float weights to drift.
    *
    * Scale shape: the bigram build is shared (memo) with q186; this adds
    * one broadcast join of the per-doc 3-column table to (doc, source),
    * one per-source agg, and two 1-row broadcast combines — control-plane
    * after the shared build.
    */
  def surprisalMixture(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val per = bigramDocLp(spark, dir)
      .join(t.documents.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_bigrams")).as("n_bigrams"),
        sum(col("sum_dec")).as("sum_dec"))
      .withColumn("mean_u",
        round(col("sum_dec").cast("double") / col("n_bigrams") * 1e6)
          .cast("long"))
      .select(col("source"), col("n_docs"), col("n_bigrams"), col("mean_u"))
      // per feeds the floor AND the excess projection, and withExcess
      // feeds the total AND the final weights — un-persisted, the
      // doc-lp join + source agg subtree executed 4× (r19 runtime plan
      // audit: an 82-exchange plan with zero reuse). Both frames are
      // source-grain: checkpoint each.
      .localCheckpoint(true)
    val floor = per.agg(min(col("mean_u")).as("min_u"))
    val withExcess = per.crossJoin(broadcast(floor))
      .withColumn("excess_u", col("mean_u") - col("min_u"))
      .localCheckpoint(true)
    val tot = withExcess.agg(
      sum(col("excess_u")).as("sum_excess"), count(lit(1)).as("n_sources"))
    withExcess.crossJoin(broadcast(tot))
      .withColumn("weight_ppm",
        when(col("sum_excess") > 0,
          expr("excess_u * 1000000 div sum_excess"))
          .otherwise(expr("1000000 div n_sources")))
      .select(col("source"), col("n_docs"), col("n_bigrams"),
        col("mean_u"), col("excess_u"), col("weight_ppm"))
  }

  private val surprisalMixtureSql = Oracles("corpusstats", "surprisalMixture")
}
