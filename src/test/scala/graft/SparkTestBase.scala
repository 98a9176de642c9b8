package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites, built by [[graft.core.LocalSession]]
  * — the settings `graft.Bench` is graded under — at four cores
  * (getOrCreate → one JVM-wide session; Test / fork := true keeps it
  * isolated from sbt).
  */
trait SparkTestBase extends AnyFunSuite {
  @transient lazy val spark: SparkSession = {
    val s = graft.core.LocalSession(cores = 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  lazy val sf: String = "/root/testdata/sf0.001"
}
