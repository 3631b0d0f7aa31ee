package graft

import org.apache.spark.SparkContext

/** The shared test session is built by GraftSession.local(4) and carries
  * the conf every entry point runs with. Reads only the session that
  * already exists: the test JVM never starts a second SparkContext. */
class GraftSessionSpec extends SparkSpecBase {

  test("the test session carries GraftSession's conf at local[4]") {
    assert(spark.sparkContext.master === "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") === "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") === "4096")
  }

  test("local() returns the running session instead of building one") {
    val context = spark.sparkContext
    assert(GraftSession.local() eq spark)
    assert(GraftSession.local(8) eq spark)
    assert(SparkContext.getOrCreate() eq context)
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
  }
}
