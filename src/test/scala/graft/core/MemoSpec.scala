package graft.core

import graft.SparkTestBase
import org.apache.spark.storage.StorageLevel

/** [[Memo.release]] contract: family-scoped unpersist + rebuild-on-next-
  * access, non-Dataset artifacts kept, never-built holders not forced.
  */
class MemoSpec extends SparkTestBase {
  import spark.implicits._

  test("release unpersists cached datasets (incl. tuple members) and forces rebuild") {
    var builds = 0
    def build() = {
      builds += 1
      Seq(1, 2, 3).toDF("x").persist(StorageLevel.MEMORY_AND_DISK)
    }
    val df1 = Memo.cached(spark, "memospec-a") { build() }
    val (t1, t2) = Memo.cached(spark, "memospec-tup") { (build(), build()) }
    df1.count(); t1.count(); t2.count()
    assert(builds == 3)
    assert(df1.storageLevel != StorageLevel.NONE, "cached frame is persisted")

    Memo.release(spark, "memospec-")
    assert(df1.storageLevel == StorageLevel.NONE, "release must unpersist")
    assert(t1.storageLevel == StorageLevel.NONE && t2.storageLevel == StorageLevel.NONE,
      "release must walk tuple members")
    Memo.cached(spark, "memospec-a") { build() }.count()
    assert(builds == 4, "released key must rebuild on next access")
  }

  test("release keeps non-dataset artifacts and scopes by prefix") {
    var pathBuilds = 0
    def path() = { pathBuilds += 1; "/tmp/memospec-scratch" }
    assert(Memo.cached(spark, "memospec-path") { path() } == "/tmp/memospec-scratch")
    var otherBuilds = 0
    val other = Memo.cached(spark, "otherfam-df") {
      otherBuilds += 1
      Seq(1).toDF("x").persist(StorageLevel.MEMORY_AND_DISK)
    }
    other.count()
    // a holder whose build threw was never built: release must drop it
    // without forcing it, or the build's failure rethrows from release
    intercept[IllegalStateException] {
      Memo.cached[String](spark, "memospec-broken") {
        throw new IllegalStateException("build failed")
      }
    }

    Memo.release(spark, "memospec-")
    assert(other.storageLevel != StorageLevel.NONE,
      "prefix-scoped release must not touch other families")
    Memo.cached(spark, "memospec-path") { path() }
    assert(pathBuilds == 1, "path artifacts survive release — no file rewrite")

    Memo.release(spark) // full release for the other family
    assert(other.storageLevel == StorageLevel.NONE)
    assert(otherBuilds == 1)
  }
}
