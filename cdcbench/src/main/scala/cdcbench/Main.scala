package cdcbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Entry point: one workload, one seed, one measured run.
  *
  * {{{
  * cdcbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *               [--root <dir>]
  * }}}
  *
  * Prints a host record line, then, as the last line, the result:
  * `{"correct", "attempted", "failed", "metrics"}` with every end-to-end
  * metric (`--trace 0`) or every per-layer metric (`--trace 1`). A set-up
  * error aborts the run without a result line. */
object Main {

  /** End-to-end metrics: name -> unit. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "items_per_s" -> "1/s",
    "op_ms_p50" -> "ms")

  /** Per-layer metrics of the traced run: name -> unit. A layer a workload
    * does not run reports 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "source.plan.chunks_ms" -> "ms",
    "source.plan.chunks" -> "count",
    "source.snapshot.partition_ms_p50" -> "ms",
    "source.snapshot.partition_ms_p90" -> "ms",
    "source.snapshot.partition_ms_max" -> "ms",
    "source.snapshot.rows" -> "rows",
    "source.snapshot.decode_rows_per_s" -> "rows/s",
    "source.snapshot.overlay_ms" -> "ms",
    "source.snapshot.local1_rows_per_s" -> "rows/s",
    "dialect.log_lines_ms_first" -> "ms",
    "dialect.log_lines_ms_last" -> "ms",
    "dialect.offsets_between_ms" -> "ms",
    "source.log.reader_ms" -> "ms",
    "source.log.rows" -> "rows",
    "stream.latest_offset_ms" -> "ms",
    "stream.query_planning_ms" -> "ms",
    "stream.add_batch_ms" -> "ms",
    "stream.wal_commit_ms" -> "ms",
    "stream.commit_offsets_ms" -> "ms",
    "stream.pending_offsets" -> "events",
    "state.rows_total" -> "rows",
    "state.commit_ms" -> "ms",
    "state.memory_bytes" -> "bytes",
    "sink.merge_ms" -> "ms",
    "sink.bytes_written_per_event" -> "bytes",
    "sink.buckets_rewritten" -> "count",
    "sink.state_bytes" -> "bytes",
    "spark.planning_ms" -> "ms",
    "spark.codegen_compile_ms" -> "ms",
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.scheduler_delay_ms" -> "ms",
    "spark.executor_run_ms" -> "ms",
    "spark.executor_cpu_ms" -> "ms",
    "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "spark.gc_ms" -> "ms",
    "peak_heap_mb" -> "MB",
    "trace.overhead_pct" -> "%")

  /** Independent set-ups per run; `setup_s` is their median. */
  val SetupRepeats = 3

  final case class Opts(workload: String, seed: Long, seconds: Int,
      trace: Boolean, root: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val o = Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1: $t")
      },
      m.getOrElse("root", ".bench_build/data"))
    require(o.seconds >= 1, s"--seconds must be >= 1: ${o.seconds}")
    o
  }

  def session(master: String, scratch: String, partitions: Int): SparkSession = {
    val s = SparkSession.builder().master(master).appName("cdcbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Largest heap occupancy left after a collection, sampled every 20 ms:
    * the live heap the run needed, not the garbage it made. */
  final class HeapSampler extends Thread("cdcbench-heap") {
    setDaemon(true)
    @volatile private var peak = 0L
    @volatile private var running = true
    private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    private def sample(): Unit = {
      val afterGc = pools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
      peak = math.max(peak, afterGc)
    }
    override def run(): Unit = while (running) { sample(); Thread.sleep(20) }
    def stopMb(): Double = {
      running = false; sample()
      if (peak == 0L) // no collection happened: fall back to the heap in use
        pools.map(_.getUsage.getUsed).sum / 1048576.0
      else peak / 1048576.0
    }
  }

  def main(args: Array[String]): Unit = {
    val code =
      try { run(parse(args)); 0 }
      catch {
        case e: Throwable =>
          System.err.println(s"cdcbench: aborted: $e")
          e.printStackTrace()
          2
      }
    System.out.flush()
    sys.exit(code)
  }

  def run(o: Opts): Unit = {
    val w = Workloads.byName(o.workload)
    val nproc = Runtime.getRuntime.availableProcessors()
    // Spark gets half the processors. The rest keep the driver thread, GC
    // and JIT off its task threads; on a shared host that halves the
    // run-to-run spread, where all of them let neighbours' load decide
    // every stage's slowest task
    val cores = math.max(1, nproc / 2)
    val master = s"local[$cores]"
    val root = Paths.get(o.root, s"${o.workload}-${o.seed}").toAbsolutePath
    graft.QueryUtil.deleteRecursively(root.toFile)
    Files.createDirectories(root)
    val heap = new HeapSampler
    heap.start()
    var spark = session(master, root.toString, cores)
    // where the run's wall time goes, from JVM start: the budget for all
    // runs is tight, and most of a run is not its measurement
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    def sinceStart(): Double = (System.currentTimeMillis() - jvmStart) / 1000.0
    val wall = scala.collection.mutable.LinkedHashMap("session" -> sinceStart())
    val spans = new Spans(enabled = false)
    val ctx = Ctx(spark, o.seed, o.seconds, spans, None)

    // set-up, several times over: setup_s is the median, and equal
    // digests show the same seed gave the same files
    val dirs = (0 until SetupRepeats).map(i => root.resolve(s"db$i").toString)
    val setupS = dirs.map(d => Workloads.timeMs(w.setup(ctx, d)) / 1000)
    val digests = dirs.map(Gen.digest).distinct
    require(digests.size == 1, s"set-up is not deterministic: ${digests.mkString(", ")}")

    // a traced run measures two phases, each a quarter of --seconds (and
    // at least MinOps operations), so that with its probes it ends within
    // about three minutes
    val phase = if (o.trace) ctx.copy(seconds = math.max(1, o.seconds / 4)) else ctx
    wall("setups") = sinceStart()
    val plain = w.measure(phase, dirs(0), root.resolve("work0").toString)
    wall("measured") = sinceStart()
    val peakMb = heap.stopMb()
    var result = plain
    var notes = plain.notes
    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) {
        val values = Map(
          "setup_s" -> Stats.median(setupS),
          "items_per_s" -> plain.itemsPerS,
          "op_ms_p50" -> Stats.percentile(plain.opMs, 50))
        EndToEnd.map { case (n, u) => (n, values(n), u) }
      } else {
        // untraced, then traced on the second set-up; each phase warms up
        // first, so the JVM warming up over the run reads as little
        // tracing cost as it can
        val traceSpans = new Spans(enabled = true)
        val counters = SparkCounters.install(spark)
        val traced = w.measure(phase.copy(spans = traceSpans, counters = Some(counters)),
          dirs(1), root.resolve("work1").toString)
        SparkCounters.uninstall(spark, counters)
        val phases = Seq(plain, traced)
        result = plain.copy(attempted = phases.map(_.attempted).sum,
          failed = phases.map(_.failed).sum, correct = phases.forall(_.correct))
        var layers = traced.layers + ("peak_heap_mb" -> peakMb)
        if (w == SnapshotLoad) {
          spark.stop()
          spark = session("local[1]", root.toString, 1)
          layers += "source.snapshot.local1_rows_per_s" ->
            SnapshotLoad.local1RowsPerS(spark, dirs(2))
        }
        val p50s = phases.map(m => Stats.percentile(m.opMs, 50))
        notes += "phase_op_ms_p50" -> p50s
        layers += "trace.overhead_pct" -> (p50s(1) - p50s(0)) / p50s(0) * 100
        traceSpans.write(Paths.get(o.root).toAbsolutePath.getParent
          .resolve("trace").resolve(s"${o.workload}-${o.seed}.jsonl").toFile)
        System.err.println("cdcbench: self time per span (ms): " +
          Json.value(traceSpans.selfMs))
        PerLayer.map { case (n, u) => (n, layers.getOrElse(n, 0.0), u) }
      }
    spark.stop()
    graft.QueryUtil.deleteRecursively(root.toFile)
    wall("stopped") = sinceStart()

    println(Json.obj(Seq("host" -> Map(
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
      "trace" -> o.trace, "nproc" -> nproc, "master" -> master,
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jdk" -> System.getProperty("java.version"),
      "spark" -> org.apache.spark.SPARK_VERSION,
      "setup_s_each" -> setupS, "wall_s_since_jvm_start" -> wall.toMap,
      "notes" -> notes))))
    println(Json.obj(Seq(
      "correct" -> result.correct,
      "attempted" -> result.attempted,
      "failed" -> result.failed,
      "metrics" -> metrics.map { case (n, v, u) =>
        n -> Map("value" -> v, "unit" -> u) }.toMap)))
  }
}
