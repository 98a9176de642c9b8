package graft.core

import graft.SparkTestBase
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

/** [[Tables.readMaybeLegacyNanos]]' per-session footer-schema memo: the
  * first touch of a path infers (one job), later touches supply the schema
  * (no job) and plan and return exactly what a plain read does; a rewrite
  * re-infers; sessions never share entries; the legacy nanos conf is
  * re-applied on a hit.
  */
class TablesSchemaMemoSpec extends SparkTestBase {

  private val Marker = "tables-schema-memo-spec-marker"
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** Jobs started while `body` ran. A marker job runs after it; listener
    * events arrive in order, so once the marker's start is seen every
    * earlier job's start has been counted.
    */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val seen = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.put(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      val a = body
      sc.setJobDescription(Marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      var n = 0
      var d = seen.poll(60, TimeUnit.SECONDS)
      while (d != Marker) {
        assert(d != null, "the marker job's start was never delivered")
        n += 1
        d = seen.poll(60, TimeUnit.SECONDS)
      }
      (a, n)
    } finally sc.removeSparkListener(listener)
  }

  private def normalizedPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString
      .replaceAll("#\\d+L?", "#")
      .replaceAll("plan_id=\\d+", "plan_id=")

  test("the second Tables read of a table fires no job; the first infers once") {
    val s = spark.newSession()
    val (_, first) = jobsDuring(Tables(s, sf).lineitem)
    assert(first == 1, s"first touch should run one schema-inference job, ran $first")
    val (_, second) = jobsDuring(Tables(s, sf).lineitem)
    assert(second == 0, s"a memoized read must not run a job, ran $second")
  }

  test("a memoized read has the plain read's schema, column order, rows and plan") {
    val s = spark.newSession()
    val t = Tables(s, sf)
    t.lineitem; t.orders; t.documents; t.embeddings // fill the memo
    for (name <- Seq("lineitem", "orders", "documents", "embeddings")) {
      val memo = Tables.readMaybeLegacyNanos(s, s"$sf/$name.parquet")
      val plain = s.read.parquet(s"$sf/$name.parquet")
      assert(memo.schema == plain.schema, s"$name schema")
      assert(memo.columns.toSeq == plain.columns.toSeq, s"$name column order")
      assert(memo.collect().toSeq == plain.collect().toSeq, s"$name rows")
    }
    assert(t.events.schema == Tables.canonicalizeEventsTs(
      s.read.parquet(s"$sf/events.parquet")).schema)
    def agg(li: org.apache.spark.sql.DataFrame, o: org.apache.spark.sql.DataFrame) =
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_quantity") > 10)
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("l_extendedprice")).as("rev"), count(lit(1)).as("n"))
    val memoAgg = agg(t.lineitem, t.orders)
    val plainAgg = agg(s.read.parquet(s"$sf/lineitem.parquet"),
      s.read.parquet(s"$sf/orders.parquet"))
    assert(normalizedPlan(memoAgg) == normalizedPlan(plainAgg))
    assert(memoAgg.orderBy("o_orderpriority").collect().toSeq ==
      plainAgg.orderBy("o_orderpriority").collect().toSeq)
  }

  test("a path rewritten with a different schema is re-inferred") {
    val s = spark.newSession()
    import s.implicits._
    val path = Scratch.dir("graft-schema-memo") + "/t.parquet"
    Seq((1, "a")).toDF("x", "y").write.mode("overwrite").parquet(path)
    assert(Tables.readMaybeLegacyNanos(s, path).columns.toSeq == Seq("x", "y"))
    val (_, hitJobs) = jobsDuring(Tables.readMaybeLegacyNanos(s, path))
    assert(hitJobs == 0)
    Seq((2L, 3.0, "b")).toDF("z", "w", "x").write.mode("overwrite").parquet(path)
    val reread = Tables.readMaybeLegacyNanos(s, path)
    assert(reread.columns.toSeq == Seq("z", "w", "x"))
    assert(reread.schema("z").dataType == LongType)
    assert(reread.collect().toSeq.map(_.getLong(0)) == Seq(2L))
  }

  test("a missing path fails as a plain read does, and is not memoized") {
    val s = spark.newSession()
    import s.implicits._
    val path = Scratch.dir("graft-schema-memo-missing") + "/later.parquet"
    val plain = intercept[Exception](s.read.parquet(path))
    for (_ <- 1 to 2) {
      val e = intercept[Exception](Tables.readMaybeLegacyNanos(s, path))
      assert(e.getClass == plain.getClass && e.getMessage == plain.getMessage)
    }
    Seq(7L).toDF("v").write.parquet(path)
    assert(Tables.readMaybeLegacyNanos(s, path).collect().toSeq.map(_.getLong(0)) == Seq(7L))
  }

  test("four threads touching one table first all get one schema from one inference") {
    val s = spark.newSession()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val (schemas, jobs) = jobsDuring {
        Await.result(Future.sequence(
          (1 to 4).map(_ => Future(Tables(s, sf).orders.schema))), Duration(120, "s"))
      }
      assert(schemas.distinct.size == 1)
      assert(schemas.head == s.read.parquet(s"$sf/orders.parquet").schema)
      assert(jobs == 1, s"concurrent first touches must share one inference, ran $jobs")
    } finally pool.shutdown()
  }

  test("a new session does not share memo entries") {
    val a = spark.newSession()
    Tables(a, sf).part
    assert(jobsDuring(Tables(a, sf).part)._2 == 0)
    val b: SparkSession = a.newSession()
    assert(jobsDuring(Tables(b, sf).part)._2 == 1,
      "a fresh session must infer on its own first touch")
  }

  test("legacy TIMESTAMP(NANOS): the first touch sets the conf, a hit sets it again") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val s = spark.newSession()
    val file = Scratch.dir("graft-schema-memo-nanos") + "/events.parquet"
    val schema = MessageTypeParser.parseMessageType(
      "message e { required int64 id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter.builder(new Path(file)).withType(schema)
      .withConf(s.sparkContext.hadoopConfiguration).build()
    try {
      val g = new SimpleGroupFactory(schema)
      w.write(g.newGroup().append("id", 1L).append("ts", 5000L))
    } finally w.close()

    s.conf.unset(NanosAsLong)
    val first = Tables.readMaybeLegacyNanos(s, file)
    assert(s.conf.getOption(NanosAsLong).contains("true"), "the first touch must set the conf")
    assert(first.schema("ts").dataType == LongType)
    // a later session state without the conf: the memo hit must set it
    // again, or the supplied LongType column fails at scan time
    s.conf.unset(NanosAsLong)
    val (hit, jobs) = jobsDuring(Tables.readMaybeLegacyNanos(s, file))
    assert(jobs == 0, s"the unset-conf entry is memoized, ran $jobs jobs")
    assert(s.conf.getOption(NanosAsLong).contains("true"), "a hit must set the conf again")
    assert(hit.schema == first.schema)
    assert(hit.collect().toSeq.map(r => (r.getLong(0), r.getLong(1))) == Seq((1L, 5000L)))
    s.conf.unset(NanosAsLong)
  }
}
