// scratch determinism harness (not part of the library)
package graft

import java.util.concurrent.{Executors, TimeUnit}

/** Stress queries for run-to-run determinism inside one dirty JVM session.
  *
  * Two modes:
  *  - `sbt 'runMain graft.DetCheck <name> <sfDir> [runs]'` — one query,
  *    repeated under storage-memory churn, changed shuffle-partition
  *    settings, and CONCURRENT jobs on other threads (the driver's verify
  *    pass is single-threaded, but task threads interleave under local[32]).
  *  - `sbt 'runMain graft.DetCheck --suite <sfDir> [passes] [outDir]'` —
  *    the COMPLETE query suite executed `passes` times (default 2) in one
  *    session, each pass using Verify's exact parquet-roundtrip hashing, and
  *    the per-pass hash maps diffed. This is the only harness that can see
  *    suite-order session state (catalog/temp-view/conf residue from query
  *    k leaking into query k+1), which single-query isolation runs never
  *    exercise.
  *
  * Both run on 32 task threads whatever the host, so that tasks interleave.
  * Fails loudly (exit 1) on any drift. */
object DetCheck {
  private val usage =
    """usage: DetCheck <queryName> [sfDir] [runs]
      |       DetCheck --suite [sfDir] [passes] [outDir]""".stripMargin

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { System.err.println(usage); sys.exit(2) }
    if (args(0) == "--suite") suiteMode(args.drop(1)) else singleMode(args)
  }

  /** Full-suite double-run: hash every query per pass exactly the way
    * Verify does (write parquet, read back, canonical hash) so a drift here
    * is directly comparable to hashes.json, then diff the passes. */
  private def suiteMode(rest: Array[String]): Unit = {
    val sfDir = if (rest.length > 0) rest(0) else "/root/testdata/sf0.01"
    val passes = if (rest.length > 1) rest(1).toInt else 2
    val outDir = if (rest.length > 2) rest(2) else "/tmp/detcheck_suite"
    val spark = GraftSession.local(32)
    val perPass = Array.fill(passes)(
      scala.collection.mutable.TreeMap.empty[String, String])
    for (p <- 0 until passes) {
      for ((name, fn) <- SparkEntry.queries) {
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          perPass(p)(name) =
            ResultHash.hash(spark.read.parquet(s"$outDir/$name").collect())
        } catch { case e: Throwable =>
          perPass(p)(name) = s"ERROR:${e.getClass.getSimpleName}"
          System.err.println(s"[detcheck] pass=${p + 1} $name failed: " +
            e.getMessage)
        }
        spark.catalog.clearCache()
      }
      println(s"DETCHECK suite pass=${p + 1}/$passes done " +
        s"(${perPass(p).size} queries)")
    }
    val names = perPass.iterator.flatMap(_.keys).toSeq.distinct.sorted
    var bad = 0
    names.foreach { n =>
      val hs = perPass.map(_.getOrElse(n, "ABSENT")).toSeq
      if (hs.distinct.size != 1) {
        bad += 1
        println(s"DETCHECK SUITE-DRIFT $n: " +
          hs.map(_.take(16)).mkString(" vs "))
      }
    }
    println(s"DETCHECK suite total=${names.size} drifted=$bad")
    spark.stop()
    if (bad > 0) sys.exit(1)
  }

  private def singleMode(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val runs = if (args.length > 2) args(2).toInt else 20
    val spark = GraftSession.local(32)
    val fn = SparkEntry.queries.getOrElse(name, {
      System.err.println(s"unknown query '$name'\n$usage"); sys.exit(2)
    })
    val pool = Executors.newFixedThreadPool(4)
    @volatile var stopNoise = false
    // background churn: shuffles + caches competing for storage/exec memory
    (1 to 3).foreach { t =>
      pool.submit(new Runnable {
        override def run(): Unit = while (!stopNoise) {
          try {
            val d = spark.range(0, 400000)
              .selectExpr("id", s"repeat('n$t', 48) AS pad", "id % 97 AS k")
            val c = d.cache(); c.count()
            c.groupBy("k").count().count()
            c.unpersist(blocking = false)
          } catch { case _: Throwable => () }
        }
      })
    }
    var ref: String = null
    var bad = 0
    val parts = Iterator.continually(Seq("32", "7", "32", "13", "32")).flatten
    for (i <- 1 to runs) {
      spark.conf.set("spark.sql.shuffle.partitions", parts.next())
      val rows = fn(spark, sfDir).collect()
      val h = ResultHash.hash(rows)
      if (ref == null) ref = h
      val ok = h == ref
      if (!ok) bad += 1
      println(s"DETCHECK $name run=$i rows=${rows.length} hash=${h.take(16)} " +
        (if (ok) "OK" else "MISMATCH"))
      spark.catalog.clearCache()
    }
    stopNoise = true
    pool.shutdownNow(); pool.awaitTermination(10, TimeUnit.SECONDS)
    println(s"DETCHECK $name total=$runs mismatches=$bad")
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
