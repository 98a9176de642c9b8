package graft.pipeline

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.util.Using

/** Control-plane analog of the reference's Glue WORKFLOW
  * (`cloudformation/06_glueworkflow.yml`): a start trigger kicks the first
  * job, then CONDITIONAL triggers fire each downstream job only when its
  * predecessor reaches SUCCEEDED (`:40-46,52-60,66-74` — one predicate per
  * edge of the ingest→transform→quality→metrics chain), plus the per-job
  * retry semantics Glue layers on top (job MaxRetries): a failing stage
  * re-runs up to `maxRetries` times before the workflow marks it FAILED
  * and SKIPS every transitively dependent stage — exactly what a chained
  * SUCCEEDED-predicate does to the rest of the DAG.
  *
  * Deliberately control-plane: stages are driver-side thunks (typically
  * closing over Spark writes); the scheduler itself never touches data.
  * Stages run in dependency (topological) order, deterministically by
  * declaration order among ready stages. Unknown dependencies and cycles
  * fail fast at submission, not mid-run.
  */
object Workflow {

  /** One node of the DAG. `action` is the job body; any thrown exception
    * counts as a failed attempt.
    */
  final case class StageDef(
      name: String,
      dependsOn: Seq[String] = Nil,
      maxRetries: Int = 0)(val action: () => Unit) {
    private[Workflow] def runOnce(): Option[Throwable] =
      try { action(); None } catch { case e: Exception => Some(e) }
  }

  /** Terminal state of one stage in one workflow run. `attempts` counts
    * executions (1 + retries used); a SKIPPED stage has 0. `wallMs` is the
    * wall time of all attempts.
    */
  final case class StageRun(
      stage: String,
      state: String, // SUCCEEDED | FAILED | SKIPPED
      attempts: Int,
      error: Option[String],
      wallMs: Long)

  /** Run the DAG; returns one [[StageRun]] per stage in execution order
    * (skipped stages appear where they would have run). Optionally writes
    * the ledger as JSON to `ledgerPath` — the S8 manifest convention, so
    * an operator can see which stage consumed the retry budget and the
    * wall time.
    */
  def run(stages: Seq[StageDef], ledgerPath: Option[String] = None): Seq[StageRun] = {
    val byName = stages.map(s => s.name -> s).toMap
    require(byName.size == stages.size, "duplicate stage names")
    stages.foreach(s => s.dependsOn.foreach(d => require(byName.contains(d),
      s"stage '${s.name}' depends on unknown stage '$d'")))

    // Kahn topological order, declaration order among ready stages; a
    // non-empty remainder means a cycle — reject before running anything.
    val order = mutable.ArrayBuffer.empty[StageDef]
    val done = mutable.Set.empty[String]
    val remaining = mutable.ArrayBuffer(stages: _*)
    var progressed = true
    while (remaining.nonEmpty && progressed) {
      progressed = false
      remaining.filter(_.dependsOn.forall(done)).headOption.foreach { s =>
        order += s; done += s.name; remaining -= s; progressed = true
      }
    }
    require(remaining.isEmpty,
      s"dependency cycle among: ${remaining.map(_.name).mkString(", ")}")

    val states = mutable.Map.empty[String, String]
    val ledger = order.map { s =>
      if (!s.dependsOn.forall(d => states(d) == "SUCCEEDED")) {
        states(s.name) = "SKIPPED"
        StageRun(s.name, "SKIPPED", 0, None, 0L)
      } else {
        val t0 = System.nanoTime()
        var attempt = 0
        var err: Option[Throwable] = None
        var succeeded = false
        while (!succeeded && attempt <= s.maxRetries) {
          attempt += 1
          err = s.runOnce()
          succeeded = err.isEmpty
        }
        val state = if (succeeded) "SUCCEEDED" else "FAILED"
        states(s.name) = state
        StageRun(s.name, state, attempt, err.map(_.toString), (System.nanoTime() - t0) / 1000000)
      }
    }.toSeq

    ledgerPath.foreach { p =>
      def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      val json = ledger.map(r =>
        s"""{"stage":${q(r.stage)},"state":"${r.state}","attempts":${r.attempts}""" +
          s""","wall_ms":${r.wallMs}""" +
          r.error.map(e => s""","error":${q(e.take(500))}""").getOrElse("") + "}")
        .mkString("[", ",", "]")
      val conf = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
        .fold(new Configuration())(_.sparkContext.hadoopConfiguration)
      writeText(p, json, conf)
    }
    ledger
  }

  /** Write `text` through the path's own Hadoop FileSystem: `java.nio` reads
    * a `file:/…` path as a relative directory under the working directory. */
  private[pipeline] def writeText(path: String, text: String, conf: Configuration): Unit = {
    val p = new Path(path)
    Using.resource(p.getFileSystem(conf).create(p, true))(_.write(text.getBytes(UTF_8)))
  }
}
