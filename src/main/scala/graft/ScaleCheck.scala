package graft

/**
 * Cap-fire scaling harness: runs every [[graft.queries.InflationProbes]]
 * family on ×1 / ×4 / ×16 exact-copy inflated corpora and prints one
 * `SCALE {...}` JSON line per (family, factor) — wall seconds plus the
 * probe's cap-fire counters. The evidence this produces (caps bind at
 * ×16, post-cap fan-in bounded, wall-time sub-quadratic in the factor)
 * is recorded in BASELINE.md §4.
 *
 * Usage: sbt 'runMain graft.ScaleCheck [sfDir] [factors] [familyFilter]'
 *        (defaults: /root/testdata/sf0.01, 1,4,16, all families)
 */
object ScaleCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val factors = args.lift(1).getOrElse("1,4,16")
      .split(",").map(_.trim.toInt).toSeq
    val filter = args.lift(2).getOrElse("")
    val spark = GraftSession.local()
    // untimed JIT/codegen warmup at factor 1
    graft.queries.InflationProbes.families(spark, sfDir, 1)
      .filter(_._1.contains(filter)).foreach { case (_, run) => run() }
    for (k <- factors) {
      for ((name, run) <- graft.queries.InflationProbes
          .families(spark, sfDir, k).filter(_._1.contains(filter))) {
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val stats = run()
        val secs = (System.nanoTime() - t0) / 1e9
        val kv = stats.toSeq.sortBy(_._1)
          .map { case (s, v) => s""""$s":$v""" }.mkString(",")
        // Locale.ROOT: a comma-decimal default locale would render 1,23
        // and break the JSON this line exists to provide
        val secsStr = String.format(java.util.Locale.ROOT, "%.2f",
          Double.box(secs))
        println(s"""SCALE {"family":"$name","factor":$k,""" +
          s""""secs":$secsStr,$kv}""")
      }
    }
    spark.stop()
  }
}
