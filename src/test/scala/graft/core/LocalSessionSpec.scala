package graft.core

import graft.SparkTestBase

/** [[LocalSession]] is the one session definition. A JVM holds one
  * SparkContext, so `cores = 3` is checked on the builder's settings and the
  * live values on the shared suite session, which the same builder made at
  * four cores.
  */
class LocalSessionSpec extends SparkTestBase {

  private val aqePf = sys.env.getOrElse("SPARK_GRAFT_AQE_PF", "true")

  test("settings at cores = 3: local[3], 3 shuffle partitions, UTC, AQE, 64 MB, UI off") {
    val s = LocalSession.settings(cores = 3, localDir = None)
    assert(s("spark.master") == "local[3]")
    assert(s("spark.sql.shuffle.partitions") == "3")
    assert(s("spark.sql.session.timeZone") == "UTC")
    assert(s("spark.sql.adaptive.enabled") == "true")
    assert(s("spark.sql.adaptive.coalescePartitions.parallelismFirst") == aqePf)
    assert(s("spark.sql.autoBroadcastJoinThreshold").toLong == 64L * 1024 * 1024)
    assert(s("spark.ui.enabled") == "false")
    assert(!s.contains("spark.local.dir"))
    assert(LocalSession.settings(3, Some("/scratch/local"))("spark.local.dir") == "/scratch/local")
  }

  test("the shared session carries the builder's settings at cores = 4") {
    val conf = spark.sparkContext.getConf
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.sparkContext.defaultParallelism == 4)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.adaptive.coalescePartitions.parallelismFirst") == aqePf)
    assert(spark.sessionState.conf.autoBroadcastJoinThreshold == 64L * 1024 * 1024)
    assert(conf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
    val warehouse = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"))
    assert(warehouse.getName.startsWith("graft-warehouse"))
    // a second call joins the JVM's context instead of building another
    assert(LocalSession(cores = 4).sparkContext eq spark.sparkContext)
  }
}
