package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

/** [[Workflow]] contract: conditional SUCCEEDED triggers, retry budget,
  * transitive skip, cycle/unknown-dep rejection, ledger JSON.
  */
class WorkflowSpec extends AnyFunSuite {
  import Workflow._

  test("chained stages run in dependency order; retries absorb transient failures") {
    val log = collection.mutable.ArrayBuffer.empty[String]
    var flaky = 0
    val ledger = Workflow.run(Seq(
      StageDef("ingest")(() => log += "ingest"),
      StageDef("transform", Seq("ingest"), maxRetries = 2)(() => {
        flaky += 1
        if (flaky < 3) sys.error(s"transient $flaky")
        log += "transform"
      }),
      StageDef("quality", Seq("transform"))(() => log += "quality"),
      StageDef("metrics", Seq("quality"))(() => log += "metrics")))
    assert(log.toSeq == Seq("ingest", "transform", "quality", "metrics"))
    assert(ledger.map(r => (r.stage, r.state, r.attempts)) == Seq(
      ("ingest", "SUCCEEDED", 1), ("transform", "SUCCEEDED", 3),
      ("quality", "SUCCEEDED", 1), ("metrics", "SUCCEEDED", 1)))
  }

  test("exhausted retries fail the stage and SKIP transitive dependents only") {
    val log = collection.mutable.ArrayBuffer.empty[String]
    val ledger = Workflow.run(Seq(
      StageDef("ingest")(() => log += "ingest"),
      StageDef("transform", Seq("ingest"), maxRetries = 1)(() => sys.error("boom")),
      StageDef("quality", Seq("transform"))(() => log += "quality"),
      StageDef("metrics", Seq("quality"))(() => log += "metrics"),
      StageDef("side_report", Seq("ingest"))(() => log += "side_report")))
    assert(log.toSeq == Seq("ingest", "side_report"),
      "independent branch still runs; dependents of the failure do not")
    val byStage = ledger.map(r => r.stage -> r).toMap
    assert(byStage("transform").state == "FAILED" && byStage("transform").attempts == 2)
    assert(byStage("transform").error.exists(_.contains("boom")))
    assert(byStage("quality").state == "SKIPPED" && byStage("quality").attempts == 0)
    assert(byStage("metrics").state == "SKIPPED")
    assert(byStage("side_report").state == "SUCCEEDED")
  }

  test("cycles and unknown dependencies are rejected before anything runs") {
    var ran = false
    intercept[IllegalArgumentException] {
      Workflow.run(Seq(
        StageDef("a", Seq("b"))(() => ran = true),
        StageDef("b", Seq("a"))(() => ran = true)))
    }
    intercept[IllegalArgumentException] {
      Workflow.run(Seq(StageDef("a", Seq("ghost"))(() => ran = true)))
    }
    assert(!ran, "validation failures must not execute any stage")
  }

  test("ledger JSON records states and attempts") {
    val p = graft.core.Scratch.dir("graft-wf") + "/ledger.json"
    Workflow.run(Seq(
      StageDef("ok")(() => ()),
      StageDef("bad", Seq("ok"))(() => sys.error("x\"y")),
      StageDef("after", Seq("bad"))(() => ())), ledgerPath = Some(p))
    val json = java.nio.file.Files.readString(java.nio.file.Paths.get(p))
    assert(json.contains("\"stage\":\"ok\",\"state\":\"SUCCEEDED\",\"attempts\":1"))
    assert(json.contains("\"state\":\"FAILED\"") && json.contains("x\\\"y"))
    assert(json.contains("\"stage\":\"after\",\"state\":\"SKIPPED\",\"attempts\":0"))
  }

  test("the ledger records each stage's wall ms") {
    val p = graft.core.Scratch.dir("graft-wf") + "/ledger.json"
    val ledger = Workflow.run(Seq(
      StageDef("slow")(() => Thread.sleep(50)),
      StageDef("bad", Seq("slow"))(() => sys.error("x")),
      StageDef("after", Seq("bad"))(() => ())), ledgerPath = Some(p))
    val ms = ledger.map(r => r.stage -> r.wallMs).toMap
    assert(ms("slow") >= 50 && ms("after") == 0)
    val json = java.nio.file.Files.readString(java.nio.file.Paths.get(p))
    assert(json.contains("\"stage\":\"slow\",\"state\":\"SUCCEEDED\",\"attempts\":1," +
      "\"wall_ms\":" + ms("slow")))
    assert(json.contains("\"stage\":\"after\",\"state\":\"SKIPPED\",\"attempts\":0," +
      "\"wall_ms\":0"))
  }

  test("a file: URI ledger path lands at that path") {
    val d = java.nio.file.Paths.get(graft.core.Scratch.dir("graft-wf"))
    Workflow.run(Seq(StageDef("ok")(() => ())),
      ledgerPath = Some(d.toUri.toString + "sub/ledger.json"))
    val json = java.nio.file.Files.readString(d.resolve("sub/ledger.json"))
    assert(json.contains("\"stage\":\"ok\",\"state\":\"SUCCEEDED\""))
  }
}
