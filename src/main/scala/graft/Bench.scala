package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** Bench's command line. With no flags: the whole suite, three passes. */
case class BenchArgs(only: Option[Seq[String]] = None, runs: Int = 3,
    plansDir: Option[String] = None, fds: Boolean = false)

object BenchArgs {
  val usage: String =
    """usage: Bench [--only q1,q2] [--runs N] [--plans DIR] [--fds]
      |  --only q1,q2  warm and time only these queries, printing each pass
      |  --runs N      N timed passes (default 3) cycling through three orders
      |  --plans DIR   then write each AQE-final explain("formatted") to
      |                DIR/<query>.txt
      |  --fds         report each query's open-fd growth over its passes and
      |                the open-fd targets at the end""".stripMargin

  /** The parsed flags, or an error message ending in the usage text. */
  def parse(args: Seq[String]): Either[String, BenchArgs] = {
    def names(v: String) = v.split(",").map(_.trim).filter(_.nonEmpty).distinct
    @annotation.tailrec
    def go(rest: List[String], acc: BenchArgs): Either[String, BenchArgs] =
      rest match {
        case Nil => Right(acc)
        case "--only" :: v :: tail if names(v).nonEmpty =>
          go(tail, acc.copy(only = Some(names(v).toSeq)))
        case "--runs" :: v :: tail if v.toIntOption.exists(_ >= 1) =>
          go(tail, acc.copy(runs = v.toInt))
        case "--plans" :: v :: tail => go(tail, acc.copy(plansDir = Some(v)))
        case "--fds" :: tail => go(tail, acc.copy(fds = true))
        case _ => Left(s"bad argument: ${rest.take(2).mkString(" ")}\n$usage")
      }
    go(args.toList, BenchArgs())
  }
}

object Bench {
  /** Each query's fastest passing time over the passes of (elapsed,
    * succeeded), and the queries that failed in every pass: a failed
    * pass's time-to-failure is not a timing, so it never enters a min or
    * the total. */
  def fold(passes: Seq[Map[String, (Double, Boolean)]])
      : (Map[String, Double], Seq[String]) = {
    val names = passes.headOption.toSeq.flatMap(_.keys)
    val best = names.flatMap { name =>
      val good = passes.flatMap(_.get(name)).collect { case (t, true) => t }
      good.minOption.map(name -> _)
    }.toMap
    (best, names.filterNot(best.contains).sorted)
  }

  // Locale.ROOT: a comma-decimal default locale would render 1,234 and
  // break the JSON the result lines exist to provide
  private def f3(v: Double) = String.format(java.util.Locale.ROOT, "%.3f",
    Double.box(v))

  /** The compact result line: `prefix` (the line's opening fields), the
    * count of failed queries always, then as many failed names (at most
    * half the room) and query times (slowest first) as keep the line
    * within `budget` characters, with the names and times left out
    * counted. */
  def compactLine(prefix: String, results: Map[String, Double],
      failed: Seq[String], budget: Int): String = {
    // room left after the prefix and the fixed fields' brackets and counts
    var room = budget - prefix.length - 120
    // the entries that fit within `limit`, in order, and the values of
    // the ones left out
    def fit(entries: Seq[(String, Double)],
        limit: Int): (Seq[String], Seq[Double]) = {
      var used = 0
      val (kept, left) = entries.partition { case (e, _) =>
        val ok = used + e.length + 1 <= limit
        if (ok) used += e.length + 1
        ok
      }
      room -= used
      (kept.map(_._1), left.map(_._2))
    }
    val (names, leftFailed) = fit(failed.map(n => s"\"$n\"" -> 0.0), room / 2)
    val (times, left) = fit(results.toSeq.sortBy(-_._2)
      .map { case (k, v) => s"\"$k\":${f3(v)}" -> v }, room)
    prefix + s""","failed_count":${failed.size},"failed":[""" +
      names.mkString(",") + s"""],"omitted_failed":${leftFailed.size},""" +
      s""""queries":{${times.mkString(",")}},"omitted_fastest":${left.size},""" +
      s""""omitted_sec":${f3(left.sum)}}"""
  }

  /** Open file descriptors of this JVM, by target path (Linux procfs). */
  private def openFds: Seq[String] =
    Option(new java.io.File("/proc/self/fd").listFiles()).toSeq.flatten
      .flatMap { f =>
        try Some(java.nio.file.Files.readSymbolicLink(f.toPath).toString)
        catch { case _: Exception => None }
      }

  def main(args: Array[String]): Unit = {
    val opts = BenchArgs.parse(args.toSeq) match {
      case Right(o) => o
      case Left(err) => System.err.println(err); sys.exit(2)
    }
    val selected = opts.only.fold(SparkEntry.queries.toSeq) { names =>
      val unknown = names.filterNot(SparkEntry.queries.contains)
      if (unknown.nonEmpty) {
        System.err.println(s"unknown query: ${unknown.mkString(",")}")
        sys.exit(2)
      }
      names.map(n => n -> SparkEntry.queries(n))
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    // Untimed warmup at the smallest SF: JIT, whole-stage codegen, parquet
    // reader and streaming machinery all pay first-use costs that would
    // otherwise land on whichever queries happen to run first.
    val warmDir =
      if (new java.io.File("/root/testdata/sf0.001").isDirectory)
        "/root/testdata/sf0.001" else sfDir
    // One-time target-SF CDC fixture writes belong to setup, not queries.
    // A fixture that cannot be built fails the run here, by name, instead
    // of as a slow or failed query later.
    try graft.queries.Fixtures.prepareAll(spark, sfDir)
    catch { case e: Exception =>
      e.printStackTrace()
      spark.stop()
      // last, so the fixture's name survives a capture of the output tail
      System.out.flush(); System.err.flush()
      System.err.println(e.getMessage)
      sys.exit(1)
    }
    // Warm EVERY query shape at the smallest SF: whole-stage codegen and
    // JIT are per-plan-shape, so a partial warmup leaves whichever unwarmed
    // query runs first paying multi-second compilation inside its timing.
    selected.foreach { case (_, fn) =>
      try fn(spark, warmDir).count()
      catch { case _: Throwable => () }
    }
    spark.catalog.clearCache()
    // Warm the OS page cache for the target-SF inputs (base tables AND the
    // generated CDC fixtures) so first-touch disk reads don't land on
    // whichever query reads each file first.
    def warmRead(f: java.io.File): Unit =
      if (f.isDirectory) {
        val fs = f.listFiles(); if (fs != null) fs.foreach(warmRead)
      } else {
        val in = java.nio.file.Files.newInputStream(f.toPath)
        val buf = new Array[Byte](1 << 20)
        try while (in.read(buf) >= 0) () finally in.close()
      }
    new java.io.File(sfDir).listFiles(f => f.getName.endsWith(".parquet"))
      .foreach(warmRead)
    val sfName = new java.io.File(sfDir).getName
    Option(new java.io.File(Artifacts.Root).listFiles()).toSeq.flatten
      .map(new java.io.File(_, sfName)).filter(_.isDirectory).foreach(warmRead)
    // fixture generation wrote ~1 GB; flush the writeback queue so the
    // kernel doesn't steal I/O from the timed section
    try Runtime.getRuntime.exec(Array("sync")).waitFor()
    catch { case _: Exception => () }
    spark.catalog.clearCache()
    // HOST-HEAT CALIBRATION (VERDICT r10 Next #1): time graph_pagerank —
    // pinned quiet band 1.16-1.57 s on this host generation (BASELINE
    // §3d) — immediately before pass 1 and immediately after pass 3,
    // and record both in the output JSON. A reading well above the band
    // says the run was hot (neighbor-tenant load), making >25% per-query
    // deltas mechanically discountable from the artifact itself instead
    // of post-hoc single-query timings. MIN OF 4 back-to-back runs (bench
    // semantics: caches cleared each run, JIT warm): a single shot after
    // 300+ other queries pays page-cache/JIT-code-cache re-warm that the
    // pinned quiet band (taken from settled single-query runs) never sees —
    // measured 2.4 s single-shot vs 1.2-1.6 settled on a provably cool
    // run — so the settling repetition is what makes the reading
    // band-comparable. ~8 s per calibration point, twice per bench.
    def calibrate(): Double = {
      val runs = (1 to 4).flatMap { _ =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val ok = try {
          SparkEntry.queries("graph_pagerank")(spark, sfDir).count(); true
        } catch { case _: Throwable => false }
        // a FAILED run must not contribute a sample: its fast
        // time-to-failure would read as a provably-cool host exactly
        // when the calibration measured nothing
        if (ok) Some((System.nanoTime() - t0) / 1e9) else None
      }
      spark.catalog.clearCache()
      // all-failed → -1.0: loudly out-of-band, never mistaken for quiet
      if (runs.nonEmpty) runs.min else -1.0
    }
    // Per-PASS calibration (VERDICT r11 Next #2): one point before pass 1
    // and one immediately after EVERY pass, so a hot stretch is localized
    // to the pass it bracketed — the artifact itself shows which pass's
    // samples to discount, instead of one start/end pair averaging over
    // three passes. The per-query min across passes already discards a
    // single hot pass's inflation; these points certify WHICH pass that
    // was. ~8 s per point, 4 points. A focused run over a few queries
    // (--only) is not a suite reading and skips calibration.
    val calibrated = opts.only.isEmpty
    val calPoints = scala.collection.mutable.ArrayBuffer.empty[Double]
    if (calibrated) calPoints += calibrate()
    // --fds: open-descriptor growth of each query run, per pass
    val fdGrowth = scala.collection.mutable.Map.empty[String, Vector[Int]]
      .withDefaultValue(Vector.empty)
    // Three timed passes, min per query: the shared host shows rotating
    // multi-second stalls (a query steady-stating at 1.6 s can record 19 s
    // in one pass while vmstat sits idle). The min of two independent
    // passes reports the reproducible cost of the PLAN, which is what this
    // benchmark measures — noise inflation is not plan cost.
    // (elapsed, succeeded) per query: a pass that THREW must not win the
    // min with its fast time-to-failure and mask the error
    def timedPass(pass: Int,
        order: Seq[(String, (SparkSession, String) => DataFrame)])
        : Map[String, (Double, Boolean)] = order.map {
      case (name, fn) =>
        val fds0 = if (opts.fds) openFds.size else 0
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
          catch { case _: Throwable => false }
        val t = (System.nanoTime() - t0) / 1e9
        // intra-query caches must not shift cost (or memory) onto later
        // queries
        spark.catalog.clearCache()
        if (opts.fds) fdGrowth(name) :+= openFds.size - fds0
        if (!calibrated)
          println(s"TIME $name pass$pass ${f3(t)} s" +
            (if (ok) "" else " FAILED"))
        name -> ((t, ok))
    }.toMap
    // Passes 2 and 3 run in REVERSE and half-ROTATED order: a stall induced
    // by a neighboring query (GC pressure, page-cache eviction, host noise
    // with a period) hits the same victim when the order repeats, surviving
    // the min. Three decorrelated orders make a query's min robust even
    // when the host stalls during two of the passes; more passes (--runs)
    // cycle through the same three.
    val rotated = selected.drop(selected.size / 2) ++
      selected.take(selected.size / 2)
    val orders = Seq(selected, selected.reverse, rotated)
    val passes = (0 until opts.runs).map { p =>
      val r = timedPass(p + 1, orders(p % orders.size))
      if (calibrated) calPoints += calibrate()
      r
    }
    // --plans: one more run per query after timing, so the recorded plan
    // is the AQE-final one
    opts.plansDir.foreach { dir =>
      new java.io.File(dir).mkdirs()
      selected.foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          df.collect()
          val path = java.nio.file.Paths.get(dir, s"$name.txt")
          java.nio.file.Files.writeString(path,
            df.queryExecution.explainString(FormattedMode))
          println(s"PLAN_WRITTEN=$path")
        } catch { case e: Throwable =>
          System.err.println(s"[bench] plan of $name failed: ${e.getMessage}")
        }
        spark.catalog.clearCache()
      }
    }
    if (opts.fds) {
      fdGrowth.toSeq.sortBy(-_._2.sum).foreach { case (name, ds) =>
        println(f"FDS ${ds.sum}%+6d  $name%-40s per pass: ${ds.mkString(" ")}")
      }
      // collect unreachable streams first: what stays open is held
      System.gc()
      val open = openFds
      println(s"FDS open now: ${open.size}; by target:")
      // a file by its first three path components (classpath jars sit
      // one per directory), anything else by kind (socket, pipe, ...)
      open.groupBy(t =>
          if (t.startsWith("/")) t.split('/').take(4).mkString("/")
          else t.takeWhile(_ != ':'))
        .toSeq.sortBy(-_._2.size).take(30).foreach { case (k, v) =>
          println(f"${v.size}%6d  $k")
        }
    }
    val (results, failed) = fold(passes)
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failedField = s""""failed_count":${failed.size},""" +
      failed.map(n => s"\"$n\"").mkString(""""failed":[""", ",", "]")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // The quiet band is pinned for sf0.1 on this host generation
    // (BASELINE §3d); at any other SF the raw calibration seconds are
    // still recorded but no band is claimed — a band the readings cannot
    // legitimately be compared against would read as false certification.
    val bandField =
      if (sfName == "sf0.1") ""","calibration_band":[1.16,1.57]""" else ""
    val calFields =
      if (!calibrated) ""
      else s""","calibration_start_s":${f3(calPoints.head)},""" +
        s""""calibration_end_s":${f3(calPoints.last)},""" +
        s""""calibration_points_s":[${calPoints.map(f3).mkString(",")}]""" +
        bandField
    // Full-precision record (complete, for log readers that keep all output).
    println(s"""{"metric":"total","value":$total,"unit":"sec"$calFields,"queries":$qs,$failedField,"sf":"$sfDir"}""")
    // The harness that records this run keeps only the LAST ~2000 chars of
    // output and parses the JSON line found there; with 80 queries the
    // full-precision line is ~3200 chars and never fits, so the recorded
    // artifact loses the totals. Emit a final compact line guaranteed to fit:
    // ms-precision values, slowest queries first, truncated (with an explicit
    // omitted count/sum) once the line would outgrow the capture window.
    val compact = compactLine(
      s"""{"metric":"total","value":${f3(total)},"unit":"sec"$calFields,"sf":"$sfDir"""",
      results, failed,
      budget = 1700) // capture window minus sbt's epilogue
    // spark.stop BEFORE the compact line: shutdown hooks (executor cleanup,
    // temp-dir removal) log to stdout/stderr, and the recording harness only
    // keeps the last ~2000 chars — round 3's artifact was evicted by a
    // shutdown stack-trace storm. Printed last, the line survives any noise.
    try spark.stop() catch { case _: Throwable => () }
    System.out.flush(); System.err.flush()
    println(compact)
    System.out.flush()
  }
}
