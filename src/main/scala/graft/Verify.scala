package graft
import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Queries are dumped with bounded parallelism (4 concurrent Spark jobs —
  * each writes its own directory, the scheduler interleaves stages), which
  * roughly halves wall time over the serial loop for this many small
  * queries.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [queryName...]")
    val (sfDir, outDir) = (args(0), args(1))
    // optional trailing names restrict the dump (dev loop; the driver always
    // passes exactly two args and gets the full set)
    val only = args.drop(2).toSet
    val spark = graft.core.LocalSession()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()

    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    // A query that throws must surface as a RED row in the driver's
    // correctness file, never as a silently-missing one (round 6 lost 26
    // regressions to exactly that hole): record the failure, and leave a
    // sentinel result dir containing only _FAILED so the driver's parquet
    // read of it errors loudly instead of skipping the query.
    val failures = new java.util.concurrent.ConcurrentHashMap[String, String]()
    var attempted = 0
    val dumps = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) =>
      attempted += 1
      Future {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
          System.err.println(s"[verify] $name FAILED: $msg")
          failures.put(name, msg)
          val dir = new java.io.File(s"$outDir/$name")
          deleteRecursively(dir) // no stale/partial parquet from this or a prior run
          dir.mkdirs()
          Files.writeString(Paths.get(s"$outDir/$name/_FAILED"), msg)
        }
      }
    }
    Await.result(Future.sequence(dumps), Duration.Inf)
    pool.shutdown()

    // Self-check: every selected query either dumped parquet or was recorded
    // as a failure — a query that did neither would be invisible to the
    // driver, which is the exact failure mode this guards against. Count only
    // THIS run's query names: stale dirs from a prior run in a reused outDir
    // must not be able to satisfy the guard.
    val attemptedNames = SparkEntry.queries.keySet
      .filter(n => only.isEmpty || only(n))
    val dumped = attemptedNames.count { n =>
      val d = new java.io.File(s"$outDir/$n")
      d.isDirectory && !new java.io.File(d, "_FAILED").exists()
    }
    require(dumped + failures.size >= attempted,
      s"verify accounting hole: $dumped dumped + ${failures.size} failed < $attempted attempted")
    System.err.println(
      s"[verify] $attempted queries: ${attempted - failures.size} ok, ${failures.size} failed")

    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    // Machine-readable failure roster beside the dumps (always written, even
    // when empty, so "no errors.json" can never be confused with "no errors").
    import scala.jdk.CollectionConverters._
    val errJson = failures.asScala.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)

    // deliberately exit 0 even with failures: the per-query _FAILED sentinel
    // + errors.json carry the signal; a nonzero exit would risk the driver
    // discarding the healthy queries' dumps along with the broken ones
    spark.stop()
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(): Unit
  }
}
