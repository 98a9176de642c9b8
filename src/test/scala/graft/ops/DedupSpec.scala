package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class DedupSpec extends SparkTestBase {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),   // near-dup of 1
    (3L, "spark engines shuffle data between executors at scale"),
    (4L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 1
    (5L, "completely different content about databases and storage")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical content and keeps min id") {
    val out = Dedup.exact(docs, "doc_id", "text").collect()
    assert(out.length == 4) // 1&4 merge
    val dup = out.find(_.getAs[Long]("n_copies") == 2).get
    assert(dup.getAs[Long]("keep_id") == 1L)
  }

  test("hash60 is deterministic and non-negative") {
    val h = docs.select(Dedup.hash60(col("text")).as("h")).collect().map(_.getLong(0))
    assert(h.forall(_ >= 0))
    val h2 = docs.select(Dedup.hash60(col("text")).as("h")).collect().map(_.getLong(0))
    assert(h.sameElements(h2))
  }

  test("minhash LSH surfaces exact and near duplicates as candidate pairs") {
    val withWords = docs.select(col("doc_id"), Dedup.words(col("text")).as("w"))
      .filter(size(col("w")) >= 3)
    val shingled = withWords.select(col("doc_id"),
      explode(Dedup.wordShingles("w", 3)).as("shingle"))
    val sigs = Dedup.minhashSignatures(shingled, "doc_id", "shingle", 8)
    val bands = Dedup.lshBands(sigs, "doc_id", 8, 2)
    val pairs = Dedup.candidatePairs(bands, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)), "exact dup must collide in every band")
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L)),
      "near-dup should collide in at least one band")
    assert(!pairs.contains((3L, 5L)), "unrelated docs must not pair")
  }

  test("incremental pairs ∪ prior-run pairs reproduce the full-corpus run") {
    // 9 docs: near-dup families straddling the prior/new split, plus
    // singletons. Split: even ids = prior snapshot, odd ids = new batch.
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "the quick brown fox jumps over the lazy dog"),
      (4L, "spark engines shuffle data between executors at scale"),
      (5L, "spark engines shuffle data between executors at scale"),
      (6L, "completely different content about databases and storage"),
      (7L, "training corpora need dedup before tokenization and packing"),
      (8L, "training corpora need dedup before tokenization and packing"),
      (9L, "yet another singleton document with unique words only")
    ).toDF("doc_id", "text")
    val prior = corpus.filter($"doc_id" % 2 === 0)
    val fresh = corpus.filter($"doc_id" % 2 === 1)
    def bands(df: org.apache.spark.sql.DataFrame) =
      Dedup.bandFingerprints(df, "doc_id", "text", numHashes = 8, rowsPerBand = 2)

    // store round trip: write the prior snapshot's fingerprints, read back
    val storePath = graft.core.Scratch.dir("fpstore-spec") + "/bands"
    Dedup.writeFingerprintStore(bands(prior), storePath)
    val store = Dedup.readFingerprintStore(spark, storePath)
    assert(store.count() == bands(prior).count(), "store must round-trip all fingerprints")

    val full = Dedup.candidatePairs(bands(corpus), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val priorRun = Dedup.candidatePairs(store, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val incr = Dedup.incrementalPairs(bands(fresh), store, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    assert(incr.forall(p => p._1 % 2 == 1 || p._2 % 2 == 1),
      s"incremental must never re-pair two prior docs: $incr")
    assert((priorRun & incr).isEmpty, "prior-run and incremental pair sets are disjoint")
    assert(priorRun ++ incr == full,
      s"identity broken: prior=$priorRun incr=$incr full=$full")
    assert(incr.contains((1L, 3L)) && (incr.contains((4L, 5L)) || incr.contains((7L, 8L))),
      s"expected new-new and new-prior exact-dup pairs in $incr")
  }

  test("bucketed pre-aggregated store joins without a store-side shuffle") {
    // the scale path incrementalPairs' scaladoc documents: store =
    // one row per bucket (combined band:key, sorted ids), bucketed on
    // that key — the join reads the store with NO exchange; only the
    // new batch aggregates/shuffles. Pair results must equal the
    // union-formulation incrementalPairs.
    // restore the shared session's own value (or unset), never a literal:
    // a literal would pin the threshold for every later suite
    val prevThreshold = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val corpus = Seq(
        (1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "the quick brown fox jumps over the lazy cat"),
        (3L, "the quick brown fox jumps over the lazy dog"),
        (4L, "spark engines shuffle data between executors at scale"),
        (5L, "spark engines shuffle data between executors at scale"),
        (6L, "completely different content about databases and storage")
      ).toDF("doc_id", "text")
      val prior = corpus.filter($"doc_id" % 2 === 0)
      val fresh = corpus.filter($"doc_id" % 2 === 1)
      def bands(df: org.apache.spark.sql.DataFrame) =
        Dedup.bandFingerprints(df, "doc_id", "text", 8, 2)
          .select(concat_ws(":", col("band"), col("band_key")).as("bk"), col("doc_id"))
      bands(prior)
        .groupBy(col("bk")).agg(sort_array(collect_set(col("doc_id"))).as("pids"))
        .write.bucketBy(8, "bk").sortBy("bk")
        .mode("overwrite").saveAsTable("fp_store_b")

      val newAgg = bands(fresh)
        .groupBy(col("bk")).agg(sort_array(collect_set(col("doc_id"))).as("nids"))
      val joined = newAgg.join(spark.table("fp_store_b"), Seq("bk"), "left")
        .withColumn("pids", coalesce(col("pids"), array().cast("array<long>")))
        .filter(size(col("nids")) + size(col("pids")) >= 2)
        .select(explode(expr(
          "concat(" +
            "flatten(transform(nids, (a, i) -> " +
              "transform(slice(nids, i + 2, size(nids) - i - 1), b -> " +
              "named_struct('doc_a', a, 'doc_b', b)))), " +
            "flatten(transform(nids, a -> transform(pids, b -> " +
              "named_struct('doc_a', least(a, b), 'doc_b', greatest(a, b)))))" +
          ")")).as("p"))
        .select(col("p.doc_a"), col("p.doc_b")).distinct()

      val plan = joined.queryExecution.executedPlan.toString
      // the store BRANCH must be Sort → Filter → bucketed FileScan with no
      // Exchange in between (the batch side legitimately shuffles to align
      // with the 8 buckets)
      assert(plan.contains("Bucketed: true"), s"store scan must be bucketed:\n$plan")
      val storeBranch =
        """Sort \[bk#\d+ ASC NULLS FIRST\], false, 0\s*\n\s*(:  )?\+- Filter[^\n]*\n\s*(:  )?\+- FileScan parquet[^\n]*fp_store_b""".r
      assert(storeBranch.findFirstIn(plan).isDefined,
        s"store branch must read bucketed with no exchange above the scan:\n$plan")

      val viaJoin = joined.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val viaUnion = Dedup.incrementalPairs(
        Dedup.bandFingerprints(fresh, "doc_id", "text", 8, 2),
        Dedup.bandFingerprints(prior, "doc_id", "text", 8, 2), "doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(viaJoin == viaUnion, s"join formulation diverged: $viaJoin vs $viaUnion")
    } finally {
      spark.sql("DROP TABLE IF EXISTS fp_store_b")
      prevThreshold match {
        case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    }
  }

  test("incremental pairs respect the total-bucket-size cap") {
    // 6 exact copies share every band bucket; with the cap at 4 the
    // combined bucket (2 prior + 4 new = 6 > 4) must expand NO pairs.
    val copies = (1L to 6L).map(i => (i, "same same same words every time"))
      .toDF("doc_id", "text")
    def bands(df: org.apache.spark.sql.DataFrame) =
      Dedup.bandFingerprints(df, "doc_id", "text", numHashes = 8, rowsPerBand = 2)
    val incr = Dedup.incrementalPairs(
      bands(copies.filter($"doc_id" > 2)), bands(copies.filter($"doc_id" <= 2)),
      "doc_id", maxBucketSize = 4)
    assert(incr.count() == 0, "over-cap combined buckets must be dropped")
    val uncapped = Dedup.incrementalPairs(
      bands(copies.filter($"doc_id" > 2)), bands(copies.filter($"doc_id" <= 2)),
      "doc_id")
    // all pairs except the prior-prior (1,2): C(6,2) - 1 = 14
    assert(uncapped.count() == 14, "uncapped: every pair touching a new id")
  }

  test("one-pass priorAndIncrementalPairs ≡ candidatePairs(prior) ∪ incrementalPairs") {
    // the q120 merged form must reproduce the two-pass composition
    // exactly, INCLUDING both cap bars: with the cap at 4, the straddle
    // corpus (2 prior + 4 new exact copies) keeps its prior-prior pair
    // (|pids| = 2 ≤ 4) while dropping every incremental pair (combined
    // 6 > 4) — the asymmetry that distinguishes the two filters.
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "the quick brown fox jumps over the lazy dog"),
      (4L, "spark engines shuffle data between executors at scale"),
      (5L, "spark engines shuffle data between executors at scale"),
      (6L, "completely different content about databases and storage"),
      (7L, "training corpora need dedup before tokenization and packing"),
      (8L, "training corpora need dedup before tokenization and packing"),
      (9L, "yet another singleton document with unique words only")
    ).toDF("doc_id", "text")
    def bands(df: org.apache.spark.sql.DataFrame) =
      Dedup.bandFingerprints(df, "doc_id", "text", numHashes = 8, rowsPerBand = 2)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val priorB = bands(corpus.filter($"doc_id" % 2 === 0))
    val freshB = bands(corpus.filter($"doc_id" % 2 === 1))
    val twoPass = pairSet(Dedup.candidatePairs(priorB, "doc_id")) ++
      pairSet(Dedup.incrementalPairs(freshB, priorB, "doc_id"))
    val onePass = pairSet(Dedup.priorAndIncrementalPairs(freshB, priorB, "doc_id"))
    assert(onePass == twoPass, s"one-pass=$onePass two-pass=$twoPass")
    assert(onePass.nonEmpty, "the spec corpus must actually produce pairs")

    val copies = (1L to 6L).map(i => (i, "same same same words every time"))
      .toDF("doc_id", "text")
    val cNew = bands(copies.filter($"doc_id" > 2))
    val cPrior = bands(copies.filter($"doc_id" <= 2))
    val capped = pairSet(
      Dedup.priorAndIncrementalPairs(cNew, cPrior, "doc_id", maxBucketSize = 4))
    assert(capped == Set((1L, 2L)),
      s"cap=4 keeps the prior-prior pair, drops every combined-over-cap pair: $capped")
  }

  test("straddled buckets are detected, not silent") {
    // same shape as the cap test: 2 prior + 4 new copies share every band
    // bucket. With cap=4 the prior run KEPT each bucket (2 ≤ 4) but the
    // combined run drops it (6 > 4) — exactly the condition under which
    // `full ≡ prior ∪ incremental` breaks. straddledBuckets must surface
    // every such bucket; with the default cap (no straddle) it is empty.
    val copies = (1L to 6L).map(i => (i, "same same same words every time"))
      .toDF("doc_id", "text")
    def bands(df: org.apache.spark.sql.DataFrame) =
      Dedup.bandFingerprints(df, "doc_id", "text", numHashes = 8, rowsPerBand = 2)
    val newB = bands(copies.filter($"doc_id" > 2))
    val priorB = bands(copies.filter($"doc_id" <= 2))
    val straddled = Dedup.straddledBuckets(newB, priorB, "doc_id", maxBucketSize = 4)
      .collect()
    assert(straddled.nonEmpty, "over-cap growth must be reported")
    assert(straddled.forall { r =>
      r.getAs[Long]("n_prior") <= 4 &&
        r.getAs[Long]("n_new") + r.getAs[Long]("n_prior") > 4
    }, s"every reported bucket must actually straddle: ${straddled.toSeq}")
    assert(Dedup.straddledBuckets(newB, priorB, "doc_id").count() == 0,
      "no straddle under the default cap")
  }

  test("connected components merge transitive near-dup chains") {
    import spark.implicits._
    // chain 1-2-3 must collapse into ONE component even though (1,3) is not
    // a pair; {7,8} is a separate component
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("doc_a", "doc_b")
    val rows = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.length == 5, s"one row per vertex, got ${rows.toSeq}")
    assert(rows.toSet == Set(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
  }

  test("jaccard is exact on distinct word sets") {
    val d = docs.select(col("doc_id"), array_distinct(Dedup.words(col("text"))).as("wd"))
    val a = d.select(col("doc_id").as("ida"), col("wd").as("wa"))
    val b = d.select(col("doc_id").as("idb"), col("wd").as("wb"))
    val j = a.crossJoin(b).filter(col("ida") === 1 && col("idb") === 4)
      .select(Dedup.jaccard(col("wa"), col("wb"))).head().getDouble(0)
    assert(j == 1.0)
  }

  test("simhash: identical docs get identical signatures, near-dups small hamming") {
    val tokens = docs.select(col("doc_id"),
      explode(array_distinct(Dedup.words(col("text")))).as("tok"))
    val sigs = Dedup.simhash(tokens, "doc_id", "tok")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(4L))
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sigs(1L), sigs(2L)) < hamming(sigs(1L), sigs(3L)),
      "near-dup should be closer in hamming space than unrelated doc")
  }
}
