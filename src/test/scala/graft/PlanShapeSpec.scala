package graft

/** Plan-shape regressions for the round-4 single-pass rewrites: these
  * queries were specifically shaped to scan/tokenize ONCE and avoid
  * self-joins (PLANS_r4.md) — a future edit reintroducing a join or a
  * second scan should fail here, not in a 100-TB bill.
  */
class PlanShapeSpec extends SparkTestBase {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q89 dupspan: one parquet scan, no join") {
    val p = plan("q89_dupspan_fraction")
    assert(p.sliding("Scan parquet".length).count(_ == "Scan parquet") == 1, p)
    assert(!p.contains("Join"), s"q89 must not self-join:\n$p")
  }

  test("q87 tfidf: no join except the broadcast 1-row corpus count") {
    val p = plan("q87_tfidf_keywords")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    // the only join is the nested-loop cross of the broadcast single-row agg
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  /** The media-family contract: Tables.spread round-robins the 1-split
    * testdata scan across cores before the codec work (no-op at production
    * split counts); the only legal exchange is that ONE spread — a keyed
    * shuffle or join of the synthesized media would be a real regression.
    * Spark prints the exchange as CamelCase RoundRobinPartitioning, so the
    * count is case-insensitive (a double-spread regression must fail).
    */
  private def assertMapOnlyModuloSpread(q: String): Unit = {
    val p = plan(q)
    assert(!p.contains("hashpartitioning") && !p.contains("Join"),
      s"$q must not shuffle on a key:\n$p")
    assert(p.toLowerCase.sliding("roundrobin".length).count(_ == "roundrobin") <= 1,
      s"$q spreads at most once:\n$p")
  }

  test("q84 video meta: map-only modulo the guarded input spread") {
    assertMapOnlyModuloSpread("q84_video_meta")
  }

  test("q236/q237 inter codecs: map-only modulo the guarded input spread") {
    // the whole encode→decode round trip runs inside one mapPartitions
    // pass per doc (the q84 contract, on the inter family)
    assertMapOnlyModuloSpread("q236_h264_inter_probes")
    assertMapOnlyModuloSpread("q237_h264_cavlc_ref_inter")
  }

  test("q88 pair counts: raw pairs shuffle exactly once before top-k") {
    val p = plan("q88_bpe_pair_counts")
    assert(!p.contains("Join"), p)
    assert(p.contains("TakeOrderedAndProject"), s"top-50 must not global-sort:\n$p")
  }

  test("q86 scd2: both windows share one user_id exchange") {
    val p = plan("q86_scd2_history")
    val exchanges = p.sliding("Exchange".length).count(_ == "Exchange")
    // one hashpartitioning exchange (AQE may add a final coalesce read, no 2nd shuffle)
    assert(p.sliding("hashpartitioning".length).count(_ == "hashpartitioning") <= 2,
      s"scd2 must not re-shuffle between windows:\n$p")
    assert(!p.contains("Join"), p)
    assert(exchanges >= 1, p)
  }

  test("q15 discount effect: two-level agg, no distinct Expand") {
    // countDistinct mixed with decimal sums Expands every row ×2; the
    // two-level rewrite must keep the plan Expand-free (round-5 fix)
    val p = plan("q15_discount_effect")
    assert(!p.contains("Expand"), s"q15 must not re-grow an Expand:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("q118 pivot: pinned value list — single hash agg, no pivot-values collect job") {
    // A missing value list would run a driver-side distinct collect BEFORE
    // planning; with it pinned, pivot lowers to conditional aggregates in
    // one pass. No sort anywhere (hash agg + hash join only).
    val p = plan("q118_pivot_matrix")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("q119 unpivot: map-side Expand, no join, no extra shuffle") {
    val p = plan("q119_unpivot_measures")
    assert(p.contains("Expand"), s"unpivot must plan as Expand:\n$p")
    assert(!p.contains("Join"), s"unpivot must not rewrite to a union/join:\n$p")
    // Expand → partial agg → ONE exchange on the 4-group key
    assert(p.sliding("hashpartitioning".length).count(_ == "hashpartitioning") <= 1,
      s"q119 should shuffle once on the measure key:\n$p")
  }

  test("q153 funnel: one scan, one stack, no join, no window") {
    val p = plan("q153_filter_funnel")
    assert(p.sliding("Scan parquet".length).count(_ == "Scan parquet") == 1, p)
    assert(!p.contains("Join") && !p.contains("Window"), s"q153 stays scan+agg:\n$p")
    assert(p.contains("Generate"), s"funnel rows come from a map-side stack:\n$p")
  }

  test("q154 kmeans: final assignment is map-side — no join in the returned plan") {
    // centroids are literal arrays folded into the projection; a regression
    // to a centroid join would put a Join between the checkpoint scan and
    // the argmin projection
    val p = plan("q154_kmeans_embed")
    assert(!p.contains("Join"), s"assignment must stay join-free:\n$p")
    assert(!p.contains("Exchange"), s"assignment is map-only over the checkpoint:\n$p")
  }

  test("q158 context fit: literal explode fan-out, no join") {
    val p = plan("q158_context_fit")
    assert(!p.contains("Join"), s"the length spine must not become a join:\n$p")
    assert(p.contains("Generate"), s"spine fan-out is a map-side explode:\n$p")
    assert(p.sliding("Scan parquet".length).count(_ == "Scan parquet") == 1, p)
  }

  test("q159 data card: no sort-merge join; windows only over the tiny source×lang table") {
    val p = plan("q159_source_datacard")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("Window"), p)
  }

  test("q77 capped LSH: one sig shuffle into bucket-local scoring — no join, no pair shuffle") {
    // The bucket-local formulation: ONE hash exchange of (sig, id, vec,
    // norm) on the signature, then mapPartitions scores every in-bucket
    // pair in its own task (PLANS_r9: a join-based scoring either
    // broadcast-collects the candidate set to the driver or shuffles
    // pairs widened by the vectors — both measured super-linear at 26×).
    // A regression to ANY join (signature self-join or id-keyed cosine
    // joins) or a second exchange re-introduces a pair-set shuffle.
    val p = plan("q77_lsh_neardup")
    assert(p.contains("MapPartitions"),
      s"q77 must score buckets in-task:\n$p")
    assert(!p.contains("Join"), s"q77 must not join:\n$p")
    // once the memoized pair build has executed, the cached AQE subtree
    // prints BOTH "Final Plan" and "Initial Plan" sections — count the
    // exchange within the final section only (fall back to the whole
    // string pre-execution, when there is a single tree)
    val scope = p.indexOf("== Initial Plan ==") match {
      case -1 => p
      case i => p.substring(0, i)
    }
    assert(scope.sliding("hashpartitioning".length)
      .count(_ == "hashpartitioning") == 1,
      s"q77 shuffles exactly once (the sig exchange):\n$p")
  }

  test("q160/q161: literal fan-out sweeps stay join-free (one scan, one agg)") {
    Seq("q160_threshold_sweep", "q161_token_fertility").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Join"), s"$q must not join:\n$p")
      assert(p.sliding("Scan parquet".length).count(_ == "Scan parquet") == 1,
        s"$q must scan once:\n$p")
    }
  }

  test("q163 importance weights: both unigram models share one term exchange, no self-join") {
    // the target and corpus models are two window sums over the same term
    // partition — a regression to a tf self-join would recompute the
    // tokenize subtree (the q87/q89 round-4 lesson). Spark stacks them as
    // two adjacent Window nodes over ONE exchange (CollapseWindow doesn't
    // merge here); the scale invariant is the single term shuffle, not the
    // node count.
    val p = plan("q163_importance_weights")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    val winCount = p.sliding("Window".length).count(_ == "Window")
    assert(winCount <= 2, s"q163 must not grow extra window passes:\n$p")
    // static plans double-print the shared tf subtree (the totals branch);
    // at runtime AQE plans it as a ReusedExchange over the tf shuffle —
    // verified with PlanAudit SPARK_GRAFT_RUN=1 (PLANS_r6.md). Two prints
    // are the share; THREE would be a real third shuffle.
    assert(p.sliding("hashpartitioning(term".length)
      .count(_ == "hashpartitioning(term") <= 2,
      s"q163 must not grow a third term exchange:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-50 must not global-sort:\n$p")
  }

  test("q164 chunking: map-only modulo the guarded input spread") {
    // same contract as q84: the only legal exchange is Tables.spread's
    // round-robin of the 1-split testdata scan (identity at production
    // split counts); keyed shuffles and joins stay forbidden
    val p = plan("q164_doc_chunks")
    assert(!p.contains("hashpartitioning") && !p.contains("Join"),
      s"q164 must not shuffle on a key:\n$p")
    // case-insensitive: the plan prints CamelCase RoundRobinPartitioning
    assert(p.toLowerCase.sliding("roundrobin".length).count(_ == "roundrobin") <= 1,
      s"q164 spreads at most once:\n$p")
  }

  test("q171 quant error: single scan into the label agg, no join") {
    val p = plan("q171_quant_error")
    assert(!p.contains("Join"), p)
    assert(p.sliding("Scan parquet".length).count(_ == "Scan parquet") == 1,
      s"q171 must scan embeddings once:\n$p")
  }

  test("q180 boilerplate prefixes: raw text stays map-side; one prefix agg") {
    val p = plan("q180_boilerplate_prefixes")
    assert(!p.contains("Join"), p)
    assert(p.sliding("Scan parquet".length).count(_ == "Scan parquet") == 1, p)
  }

  test("q185 hard negatives: broadcast probes + bounded topk agg, no window") {
    // the whole point of topk_structs is that the scored probes×corpus set
    // never shuffles: the reduction must be an ObjectHashAggregate pair,
    // NOT a Window (which would shuffle every scored row), and the corpus
    // side must not shuffle before the join
    val p = plan("q185_hard_negatives")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("ObjectHashAggregate"), s"bounded topk agg missing:\n$p")
    assert(!p.contains("Window"), s"q185 must not fall back to a window:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q187 gopher repetition: one scan, in-task gram counting, no join") {
    val p = plan("q187_gopher_repetition")
    assert(!p.contains("Join"), p)
    assert(p.sliding("Scan parquet".length).count(_ == "Scan parquet") == 1,
      s"q187 must form both gram sizes in one scan:\n$p")
    // round 11: per-doc max-repetition counting is a mapPartitions pass —
    // a regression to the exploded (doc, gram) groupBy re-shuffles the
    // whole corpus (measured 15.2 → 3.7 s at 100×)
    assert(p.contains("MapPartitions"),
      s"q187 must count grams in-task, not via a corpus shuffle:\n$p")
  }

  test("q189 norm audit: map-side norms, subquery median, no vector shuffle") {
    val p = plan("q189_embedding_norm_audit")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    // norms reduce to (vec_id, label, norm_u) before any exchange: the
    // exchanged row must not carry the 64-float vector
    assert(!p.contains("Window"), p)
  }

  test("q218 dp release: one agg, mechanism is a map-side projection") {
    val p = plan("q218_dp_release")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"the noise mechanism must not add joins or windows:\n$p")
    assert(p.contains("HashAggregate"), p)
  }

  test("q216 budget select: broadcast budgets, one source-keyed window, no merge join") {
    val p = plan("q216_token_budget_select")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"),
      s"budgets must come back as a broadcast join:\n$p")
    assert(p.contains("Window"), p)
  }

  test("filters and column pruning push through Tables.spread into the scan") {
    // the guarded fact-table spread must not cost Catalyst anything: the
    // predicate has to reach the parquet scan (PushedFilters) and the scan
    // schema has to stay pruned to the consumed columns, with the
    // round-robin exchange moving only the pruned projection
    import org.apache.spark.sql.functions.col
    val p = graft.core.Tables.spread(graft.core.Tables(spark, sf).lineitem)
      .filter(col("l_quantity") > 30).select("l_orderkey", "l_quantity")
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("GreaterThan(l_quantity"),
      s"filter must reach the scan below the spread:\n$p")
    assert(!p.contains("l_comment") && !p.contains("l_extendedprice"),
      s"scan must stay pruned to the consumed columns:\n$p")
  }

  test("q231/q232 stream parity: log reduction is one agg over one log scan — no join, no window") {
    // The returned frame is the IN-PLAN reduction of the batch_id update
    // log the AvailableNow drain wrote (StreamParityQ): one parquet scan
    // of the log, one max_by group-agg, ONE exchange on the group key.
    // A regression to a window ("latest per key via row_number") would
    // shuffle + sort every logged emission; a join against the live keys
    // would re-read the log. The drain itself is audited separately
    // (PLANS_r9.md); this pins the reduction shape.
    Seq("q231_stream_upsert_parity", "q232_stream_hourly_parity").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Join") && !p.contains("Window"),
        s"$q log reduction must stay a single agg:\n$p")
      assert(p.sliding("Scan parquet".length).count(_ == "Scan parquet") == 1,
        s"$q must scan the update log once:\n$p")
      assert(p.sliding("hashpartitioning".length)
        .count(_ == "hashpartitioning") <= 1,
        s"$q reduction shuffles once on its group key:\n$p")
    }
  }
}
