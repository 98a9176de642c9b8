package graft.core

import graft.{SparkEntry, SparkTestBase}

/** Cache-loss chaos for the Memo layer's multi-reader chains (VERDICT r17
  * item 5, generalizing RankingSpec's mid-query block eviction): the
  * dedup family memoizes two expensive artifacts — q37's candidate-pair
  * set and q76's connected components — and LATER registered queries
  * (q76 reads the pairs, q136 reads the components) consume them through
  * the retained memo entry. On a real cluster an executor loss drops the
  * cached BLOCKS while the memo (driver-side) keeps handing out the same
  * lazy DataFrame — so a consumer arriving after the loss recomputes
  * through the retained lineage. This spec simulates total block loss
  * between each reader and asserts every reader still matches the
  * no-chaos truth row-for-row.
  */
class MemoEvictionChaosSpec extends SparkTestBase {

  // the memo chain under chaos: q37 builds `q37-pairs`, q76 consumes it
  // and builds `q76-components`, q136 consumes the components
  private val chain = Seq(
    "q37_minhash_pairs", "q76_neardup_components", "q136_quality_survivor")

  // compare on non-floating columns only (ADVICE r18): a different
  // partial-aggregation merge order across the two end-to-end recomputes
  // could flip a last-ulp digit of a double and flake the string compare;
  // the chain's keys/counts/integer-micro logits are the identity anyway
  private def canon(name: String): Seq[String] = {
    val df = SparkEntry.queries(name)(spark, sf)
    val stable = df.schema.fields.filterNot(f =>
      f.dataType == org.apache.spark.sql.types.DoubleType ||
        f.dataType == org.apache.spark.sql.types.FloatType).map(_.name)
    df.select(stable.map(org.apache.spark.sql.functions.col).toSeq: _*)
      .collect().map(_.toString).sorted.toSeq
  }

  test("dedup memo chain survives total cached-block loss between readers") {
    try {
      // truth: cold builds, fresh memos
      Memo.release(spark)
      val want = chain.map(n => n -> canon(n)).toMap

      // chaos: fresh memos again; after each reader materializes, drop
      // EVERY cached block before the next reader.
      //
      // SCOPE: the links recover by different paths, and that split is
      // the engine's actual durability design. The plain-persist links
      // (q37's pairs, the band-pairs layer) recompute through raw lineage.
      // q76's components cannot: label propagation localCheckpoints its
      // rounds (lineage deliberately truncated; a localCheckpoint block is
      // not recomputable, by Spark contract), so serving the converged
      // labels straight from those blocks fails here with
      // CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND. Their durability is the scratch
      // parquet round trip in `DedupQ.neardupComponents`: late readers
      // scan the file, which block loss does not touch. What this test
      // pins: the memo layer serves correct rows to late readers after
      // total block loss, through whichever recovery path each link owns.
      Memo.release(spark)
      val got = chain.map { n =>
        val r = canon(n)
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        n -> r
      }.toMap

      chain.foreach { n =>
        assert(got(n).length == want(n).length,
          s"$n lost/gained rows after block eviction: " +
            s"${got(n).length} vs ${want(n).length}")
        assert(got(n) == want(n),
          s"$n diverged from the no-chaos truth after block eviction")
      }
    } finally {
      // later suites must not inherit evicted-but-retained memo entries
      Memo.release(spark)
    }
  }
}
