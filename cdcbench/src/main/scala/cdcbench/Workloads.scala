package cdcbench

import graft.cdc.{ChangeRecord, FileCdcDatabase, StreamMaterialize, UpsertSink}
import graft.cdc.dialect.FileCdcDialect
import graft.cdc.source._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** What one workload run needs: the session, the seed, the run length and
  * the instruments (disabled outside the traced phase). */
final case class Ctx(spark: SparkSession, seed: Long,
    seconds: Int, spans: Spans, counters: Option[SparkCounters]) {
  def traced: Boolean = counters.isDefined
}

/** One measured phase. `opMs` are the per-operation latencies whose p50
  * is reported; `itemsPerS` is the phase's throughput. */
final case class Measured(attempted: Long, failed: Long, correct: Boolean,
    itemsPerS: Double, opMs: Seq[Double],
    layers: Map[String, Double], notes: Map[String, Any])

trait Workload {
  def name: String
  /** Build this workload's inputs under `dir`. Same seed, same files. */
  def setup(c: Ctx, dir: String): Unit
  /** Run the workload on the inputs under `dir` for `c.seconds`. */
  def measure(c: Ctx, dir: String, work: String): Measured
}

object Workloads {
  /** The workloads `BENCHMARK.json` declares. */
  val all: Seq[Workload] = Seq(SnapshotLoad, AggCatchup)
  /** Run by hand only: too noisy and too slow for the declared set. */
  val extra: Seq[Workload] = Seq(ReplicaTail)
  def byName(n: String): Workload = (all ++ extra).find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$n' (have: ${(all ++ extra).map(_.name).mkString(", ")})"))

  def cdcOptions(dir: String): Map[String, String] =
    Map("path" -> dir, "table" -> Gen.Table)

  def config(dir: String): CdcSourceConfig =
    CdcSourceConfig.fromOptions(new CaseInsensitiveStringMap(cdcOptions(dir).asJava))

  def msSince(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Run `body` once and return its wall time in ms. */
  def timeMs(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; msSince(t0)
  }

  /** Checksum of a DataFrame holding the payload columns, computed by
    * Spark with the generator's row hash. */
  def checksumOf(df: DataFrame): Gen.Checksum = {
    val h = udf((id: Long, grp: Int, amount: Long, tag: String) =>
      Gen.rowHash(id, grp, amount, tag))
    val r = df.select(h(Gen.PayloadCols.map(col): _*).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h").bitwiseAND(0xFFFFFFFFL)), lit(0L)),
        coalesce(bit_xor(col("h")), lit(0L)))
      .collect()(0)
    Gen.Checksum(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  private val LogOffset = """"logOffset"\s*:\s*(-?\d+)""".r

  def logOffset(json: String): Long =
    if (json == null) -1L
    else LogOffset.findFirstMatchIn(json).map(_.group(1).toLong).getOrElse(-1L)

  /** A finished trigger as the streaming progress reports it. */
  final case class TriggerInfo(batchId: Long, from: Long, to: Long,
      triggerMs: Double, endMs: Long, p: StreamingQueryProgress)

  /** The finished triggers of `q`. The first has no start offset; every
    * stream here starts at offset 0 (`earliest` or specific-offset 0). */
  def triggers(q: StreamingQuery): Seq[TriggerInfo] =
    q.recentProgress.toSeq.filter(_.sources.nonEmpty).map { p =>
      val s = p.sources(0)
      val ms = p.durationMs.getOrDefault("triggerExecution", 0L).toDouble
      TriggerInfo(p.batchId, math.max(0L, logOffset(s.startOffset)), logOffset(s.endOffset),
        ms, java.time.Instant.parse(p.timestamp).toEpochMilli + ms.toLong, p)
    }.sortBy(_.batchId)

  /** Medians of the progress `durationMs` split and of the source's
    * pending-offset metric over `ts`. */
  def streamLayers(ts: Seq[TriggerInfo]): Map[String, Double] = {
    def med(f: TriggerInfo => Double): Double =
      if (ts.isEmpty) 0.0 else Stats.median(ts.map(f))
    def dur(k: String)(t: TriggerInfo): Double =
      t.p.durationMs.getOrDefault(k, 0L).toDouble
    Map(
      "stream.latest_offset_ms" -> med(dur("latestOffset")),
      "stream.query_planning_ms" -> med(dur("queryPlanning")),
      "stream.add_batch_ms" -> med(dur("addBatch")),
      "stream.wal_commit_ms" -> med(dur("walCommit")),
      "stream.commit_offsets_ms" -> med(dur("commitOffsets")),
      "stream.pending_offsets" -> med(t => Option(t.p.sources(0).metrics)
        .flatMap(m => Option(m.get("pendingOffsets"))).map(_.toDouble)
        .getOrElse(0.0)))
  }

  /** Timed operations a run needs at least, so that its p50 has
    * [[Stats.MinBeyond]] samples beyond it: a run goes on past
    * `--seconds` until it has them. */
  val MinOps: Int = Stats.minSamples(50)
  /** How many times `--seconds` a run may go on for its MinOps. */
  val MaxStretch = 5

  /** A per-layer percentile, or 0 when the run has too few samples for
    * it: a layer figure the sample does not support is left out rather
    * than allowed to abort the run. */
  def layerPercentile(xs: Seq[Double], p: Double): Double =
    if (xs.size >= Stats.minSamples(p)) Stats.percentile(xs, p)
    else {
      System.err.println(s"cdcbench: p$p of ${xs.size} samples not reported")
      0.0
    }

  /** (path -> size) of an `UpsertSink` replica's parquet files. */
  def sinkFiles(sink: String): Map[String, Long] = {
    val root = Paths.get(sink)
    if (!Files.isDirectory(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .filterNot(p => root.relativize(p).iterator().asScala.exists(_.toString.startsWith(".")))
        .map(p => root.relativize(p).toString -> Files.size(p)).toMap
      finally s.close()
    }
  }

  /** Wait for `done` while the query runs, for at most `timeoutMs`. */
  def await(q: StreamingQuery, timeoutMs: Long)(done: => Boolean): Boolean = {
    val end = System.nanoTime() + timeoutMs * 1000000L
    while (!done && q.isActive && System.nanoTime() < end)
      Thread.sleep(5)
    done
  }
}

import Workloads._

/** Batch `initial` read: chunk planning, snapshot decode and the W2 log
  * backfill merge, written in full to the `noop` sink. */
object SnapshotLoad extends Workload {
  val name = "snapshot_load"
  val Rows = 100000
  val Changes = 20000
  /** Untimed reads after the correctness read, to warm the read path. */
  val WarmupReads = 3

  private def log(seed: Long) = Gen.changeLog(seed, Rows, Changes, Gen.Uniform)

  def setup(c: Ctx, dir: String): Unit =
    Gen.writeDb(c.spark, dir, c.seed, Rows, log(c.seed), Changes)

  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("graft-cdc").options(cdcOptions(dir))
      .option("scan.startup.mode", "initial").load()

  def measure(c: Ctx, dir: String, work: String): Measured = {
    val truth = log(c.seed).stateAt(Changes)
    // Each read sees the log files with a new modification time, as a
    // live table's log would have: the source may reuse a W2 overlay only
    // while the files are unchanged, so every read pays the backfill scan
    val logFiles = FileCdcDatabase.dataFiles(dir, Gen.Table, "log").map(Paths.get(_))
    val mtime0 = logFiles.map(Files.getLastModifiedTime(_).toMillis).max
    var touches = 0L
    def read(): DataFrame = {
      touches += 1
      logFiles.foreach(Files.setLastModifiedTime(_,
        FileTime.fromMillis(mtime0 + touches * 1000)))
      SnapshotLoad.read(c.spark, dir)
    }
    // untimed: the correctness gate, which also warms the read path
    val got = checksumOf(read().select(Gen.PayloadCols.map(col): _*))
    (1 to WarmupReads).foreach(_ =>
      read().write.format("noop").mode("overwrite").save())
    val times = mutable.ArrayBuffer.empty[Double]
    var attempted = 0L; var failed = 0L
    val before = c.counters.map(_.snapshot())
    val begin = System.nanoTime()
    val deadline = begin + c.seconds * 1000000000L
    val hardDeadline = begin + MaxStretch * c.seconds * 1000000000L
    while (System.nanoTime() < deadline ||
        (times.size < MinOps && System.nanoTime() < hardDeadline)) {
      attempted += 1
      val obs = Observation(s"read$attempted")
      try {
        val t0 = System.nanoTime()
        val n = c.spans("snapshot_load.read", s"read-$attempted") {
          read().observe(obs, count(lit(1)).as("n"))
            .write.format("noop").mode("overwrite").save()
          obs.get("n").asInstanceOf[Long]
        }
        val ms = msSince(t0)
        if (n == truth.rows) times += ms else failed += 1
      } catch { case NonFatal(e) => failed += 1; warn(e) }
    }
    val layers = c.counters.map { k =>
      SparkCounters.drain(c.spark)
      SparkCounters.perOp(before.get, k.snapshot(), times.size) ++ probes(c, dir)
    }.getOrElse(Map.empty)
    // the median read's rate: a read stalled by the host's other load
    // moves it no more than any other read
    val rowsPerS = if (times.isEmpty) 0.0 else truth.rows / (Stats.median(times.toSeq) / 1000)
    Measured(attempted, failed, got == truth, rowsPerS, times.toSeq, layers, Map("expected_rows" -> truth.rows, "read_ms" -> times.toSeq))
  }

  /** Traced only: the bench's own calls into the source's layers. */
  private def probes(c: Ctx, dir: String): Map[String, Double] = {
    val cfg = config(dir)
    val chunkMs = (1 to 5).map(i =>
      timeMs(c.spans("source.plan", s"plan-$i")(CdcPlanner.chunks(cfg, Gen.Table))))
    val nChunks = CdcPlanner.chunks(cfg, Gen.Table).size
    val high = cfg.maxOffsetAll
    val parts = CdcPlanner.snapshotPartitions(cfg, Gen.Table, high, "")
      .collect { case p: SnapshotChunkPartition => p }
    // whole rounds over every partition until the p90 has 100 samples
    val partMs = mutable.ArrayBuffer.empty[Double]
    var partRows = 0L
    var round = 0
    while (partMs.size < Stats.minSamples(90)) {
      round += 1
      parts.foreach { p =>
        var n = 0L
        partMs += timeMs(c.spans("source.snapshot", s"round-$round") {
          val r = new SnapshotChunkReader(p)
          try while (r.next()) n += 1 finally r.close()
        })
        if (round == 1) partRows += n
      }
    }
    val meta = FileCdcDialect.tableMeta(dir, Gen.Table)
    val decode = (1 to 3).map { i =>
      val codec = new JsonRowCodec(meta.schema)
      var n = 0L
      val ms = timeMs(c.spans("source.snapshot", s"decode-$i") {
        FileCdcDialect.snapshotLines(dir, Gen.Table, Gen.Pk, None, None)
          .foreach { l => codec.decode(l); n += 1 }
      })
      n / (ms / 1000)
    }
    val overlay = (1 to 3).map { i =>
      val codec = new JsonRowCodec(ChangeRecord.envelopeSchema(meta.schema))
      timeMs(c.spans("dialect", s"overlay-$i") {
        FileCdcDialect.logLines(dir, Gen.Table, 0L, high).foreach(codec.decode)
      })
    }
    Map(
      "source.plan.chunks_ms" -> Stats.median(chunkMs),
      "source.plan.chunks" -> nChunks.toDouble,
      "source.snapshot.partition_ms_p50" -> Stats.percentile(partMs.toSeq, 50),
      "source.snapshot.partition_ms_p90" -> Stats.percentile(partMs.toSeq, 90),
      "source.snapshot.partition_ms_max" -> partMs.max,
      "source.snapshot.rows" -> partRows.toDouble,
      "source.snapshot.decode_rows_per_s" -> Stats.median(decode),
      "source.snapshot.overlay_ms" -> Stats.median(overlay))
  }

  /** Rows per second of one full read on a `local[1]` session: the
    * single-thread reference for parallel-scaling claims. */
  def local1RowsPerS(spark: SparkSession, dir: String): Double = {
    read(spark, dir).write.format("noop").mode("overwrite").save()
    Stats.median((1 to 3).map { _ =>
      val obs = Observation()
      val ms = timeMs(read(spark, dir).observe(obs, count(lit(1)).as("n"))
        .write.format("noop").mode("overwrite").save())
      obs.get("n").asInstanceOf[Long] / (ms / 1000)
    })
  }

  private def warn(e: Throwable): Unit =
    System.err.println(s"cdcbench: $name operation failed: $e")
}

/** `earliest` streaming replays of a log, capped per trigger, into the
  * retract aggregate `StreamMaterialize.retractAgg` (SUM/COUNT per group).
  * A run repeats whole replays of the same log, each from a fresh
  * checkpoint, so every run times the same trigger ranges however fast
  * the host is. */
object AggCatchup extends Workload {
  val name = "agg_catchup"
  val Rows = 20000
  val PerTrigger = 2000
  /** 24 triggers a replay: the first carries the query's start-up, and
    * the other 23 give one replay enough for a p50. */
  val Events = 24 * PerTrigger
  /** Events of the untimed warm-up replay before the timed ones. */
  val WarmupEvents = 5 * PerTrigger
  /** How long one replay may take before it counts as failed. */
  val ReplayTimeoutMs = 120000L

  private def log(seed: Long) = Gen.changeLog(seed, Rows, Events, Gen.Uniform)

  def setup(c: Ctx, dir: String): Unit =
    Gen.writeDb(c.spark, dir, c.seed, Rows, log(c.seed), Events)

  /** One replay: its triggers, its failure if any, and whether the newest
    * aggregate per group equals `truth` at the end of the log. */
  final case class Replay(triggers: Seq[TriggerInfo], failure: Option[Throwable],
      correct: Boolean) {
    /** The first trigger carries the query's start-up; the rest are timed. */
    def timed: Seq[TriggerInfo] = triggers.drop(1)
  }

  /** Replay the log from `earliest` up to `bound` (the head when absent)
    * into `retractAgg`, to completion. */
  def replay(c: Ctx, dir: String, checkpoint: String, bound: Option[Long],
      truth: Map[Int, (Long, Long)]): Replay = {
    val stream = c.spark.readStream.format("graft-cdc").options(cdcOptions(dir))
      .option("scan.startup.mode", "earliest")
      .option("scan.stream.max-events-per-trigger", PerTrigger.toString)
    val bounded = bound.fold(stream)(b =>
      stream.option(CdcSourceConfig.BoundedOffsetKey, b.toString)).load()
    // per batch: (group, count, total, version) rows the aggregate emitted
    val out = new java.util.concurrent.ConcurrentHashMap[Long, Array[(Int, Long, java.math.BigDecimal, Long)]]()
    val q = StreamMaterialize.retractAgg(bounded, "grp", "amount")
      .writeStream.outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: DataFrame, id: Long) =>
        c.spans("state.trigger", s"trigger-$id") {
          out.put(id, b.collect().map(r =>
            (r.getString(0).toInt, r.getLong(1), r.getDecimal(2), r.getLong(3))))
        }
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    val finished =
      try q.awaitTermination(ReplayTimeoutMs)
      catch { case NonFatal(_) => true }
    val failure = q.exception.orElse(
      if (finished) None else Some(new RuntimeException(
        s"$name: replay did not finish within $ReplayTimeoutMs ms")))
    q.stop()
    val all = triggers(q)
    val state = mutable.Map.empty[Int, (Long, java.math.BigDecimal, Long)]
    all.foreach { t =>
      Option(out.get(t.batchId)).getOrElse(Array.empty).foreach {
        case (g, n, tot, v) =>
          if (state.get(g).forall(_._3 < v)) state(g) = (n, tot, v)
      }
    }
    val end = bound.getOrElse(Events.toLong)
    val correct = failure.isEmpty && all.lastOption.exists(_.to == end) &&
      state.keySet == truth.keySet &&
      truth.forall { case (g, (n, s)) =>
        state(g)._1 == n && state(g)._2.compareTo(java.math.BigDecimal.valueOf(s)) == 0
      }
    Replay(all, failure, correct)
  }

  def measure(c: Ctx, dir: String, work: String): Measured = {
    val spark = c.spark
    val l = log(c.seed)
    val truth = l.groupDeltasAt(Events)
    // untimed: a short replay warms the stream path up
    val warm = replay(c, dir, s"$work/warmup", Some(WarmupEvents.toLong),
      l.groupDeltasAt(WarmupEvents))
    val before = c.counters.map(_.snapshot())
    val replays = mutable.ArrayBuffer.empty[Replay]
    val begin = System.nanoTime()
    val deadline = begin + c.seconds * 1000000000L
    val hardDeadline = begin + MaxStretch * c.seconds * 1000000000L
    // whole replays only: another starts while at least half of one still
    // fits in the run's time, or while the run has fewer than MinOps timed
    // triggers
    var lastNs = 0L
    while (System.nanoTime() + lastNs / 2 < deadline ||
        (replays.map(_.timed.size).sum < MinOps && System.nanoTime() < hardDeadline)) {
      val t0 = System.nanoTime()
      replays += replay(c, dir, s"$work/checkpoint-${replays.size}", None, truth)
      lastNs = System.nanoTime() - t0
    }
    val elapsedMs = msSince(begin)
    val all = replays.flatMap(_.triggers).toSeq
    val timed = replays.flatMap(_.timed).toSeq
    val correct = warm.correct && replays.forall(_.correct)
    // a replay that failed or ended wrong fails each of its triggers
    val attempted = replays.map(r => r.triggers.size + r.failure.size).sum.toLong
    val failed = replays.filterNot(_.correct)
      .map(r => r.triggers.size + r.failure.size).sum.toLong
    val ranges = replays.head.triggers.map(t => (t.from, t.to))
    val (layers, sinkCorrect) = c.counters.map { k =>
      SparkCounters.drain(spark)
      val (sink, ok) = sinkProbes(c, dir, work, ranges, l)
      (SparkCounters.perOp(before.get, k.snapshot(), all.size) ++
        streamLayers(timed) ++ stateLayers(all) ++ probes(c, dir, replays.head.triggers) ++
        sink, ok)
    }.getOrElse((Map.empty[String, Double], true))
    val ok = correct && sinkCorrect
    val good = replays.filter(_.correct).flatMap(_.timed)
    // the median trigger's rate, as for snapshot_load
    val eventsPerS = if (good.isEmpty) 0.0
      else Stats.median(good.map(t => (t.to - t.from) / (t.triggerMs / 1000)).toSeq)
    Measured(attempted, if (sinkCorrect) failed else attempted, ok,
      eventsPerS, good.map(_.triggerMs).toSeq, layers,
      Map("replays" -> replays.size, "triggers" -> all.size,
        "trigger_ms" -> all.map(_.triggerMs),
        "log_events" -> Events, "elapsed_ms" -> elapsedMs))
  }

  private def stateLayers(ts: Seq[TriggerInfo]): Map[String, Double] = {
    val ops = ts.flatMap(_.p.stateOperators.headOption)
    if (ops.isEmpty) Map.empty
    else Map(
      "state.rows_total" -> ops.last.numRowsTotal.toDouble,
      "state.commit_ms" -> Stats.median(ops.map(_.commitTimeMs.toDouble)),
      "state.memory_bytes" -> ops.last.memoryUsedBytes.toDouble)
  }

  /** Traced only: replay the trigger ranges through the dialect and the
    * log reader on this thread. */
  private def probes(c: Ctx, dir: String, ts: Seq[TriggerInfo]): Map[String, Double] = {
    val decile = math.max(1, ts.size / 10)
    def logLinesMs(rs: Seq[TriggerInfo]): Double = Stats.median(rs.map { t =>
      timeMs(c.spans("dialect", s"trigger-${t.batchId}") {
        FileCdcDialect.logLines(dir, Gen.Table, t.from, t.to).foreach(_ => ())
      })
    })
    val head = FileCdcDialect.tableMeta(dir, Gen.Table).maxOffset
    val offsetsMs = Stats.median(ts.map { t =>
      timeMs(c.spans("dialect", s"trigger-${t.batchId}") {
        FileCdcDialect.offsetsBetween(dir, Seq(Gen.Table), t.from, head, PerTrigger)
      })
    })
    val schema = FileCdcDialect.tableMeta(dir, Gen.Table).schema
    val ddl = CdcTable.fullSchema(schema).toDDL
    val sample = ts.zipWithIndex.collect { case (t, i) if i % decile == 0 => t }
    var rows = 0L
    val readerMs = Stats.median(sample.map { t =>
      timeMs(c.spans("source.log", s"trigger-${t.batchId}") {
        val r = new LogRangeReader(LogRangePartition("file", dir, Gen.Table,
          t.from, t.to, "all", ddl))
        try while (r.next()) rows += 1 finally r.close()
      })
    })
    Map(
      "dialect.log_lines_ms_first" -> logLinesMs(ts.take(decile)),
      "dialect.log_lines_ms_last" -> logLinesMs(ts.takeRight(decile)),
      "dialect.offsets_between_ms" -> offsetsMs,
      "source.log.reader_ms" -> readerMs,
      "source.log.rows" -> rows.toDouble / math.max(1, sample.size))
  }

  /** Merges the sink probe times: few, because one takes seconds on a
    * slow host; their median is reported, not a percentile. */
  val SinkMerges = 9

  /** Traced only: the sink layer. A replica of the table's snapshot takes
    * the changelog of the first [[SinkMerges]] trigger ranges, one batch
    * read and one timed `UpsertSink.mergeInto` per range, as a stream into
    * the sink would. Returns the sink metrics and whether the replica ends
    * equal to the ground truth. */
  private def sinkProbes(c: Ctx, dir: String, work: String,
      ranges: Seq[(Long, Long)], l: Gen.Log): (Map[String, Double], Boolean) = {
    val spark = c.spark
    val sink = s"$work/replica"
    def read(mode: String, from: Long, to: Long): DataFrame =
      spark.read.format("graft-cdc").options(cdcOptions(dir))
        .option("scan.startup.mode", mode)
        .option(CdcSourceConfig.SpecificOffsetKey, from.toString)
        .option(CdcSourceConfig.BoundedOffsetKey, to.toString).load()
    UpsertSink.mergeInto(spark, read("initial", 0L, 0L), Seq(Gen.Pk), sink)
    val merged = ranges.take(SinkMerges).map { case (from, to) =>
      val batch = read("specific-offset", from, to)
      val pre = sinkFiles(sink)
      val ms = timeMs(c.spans("sink", s"merge-$to")(
        UpsertSink.mergeInto(spark, batch, Seq(Gen.Pk), sink)))
      val post = sinkFiles(sink)
      val added = post.filter { case (f, _) => !pre.contains(f) }
      val buckets = (pre.keySet ++ post.keySet)
        .filter(f => pre.get(f) != post.get(f)).map(_.takeWhile(_ != '/'))
      (ms, added.values.sum, buckets.size, post.values.sum, to - from)
    }
    val end = ranges.take(SinkMerges).lastOption.fold(0L)(_._2)
    val ok = checksumOf(UpsertSink.readState(spark, sink)) == l.stateAt(end)
    (Map(
      "sink.merge_ms" -> Stats.median(merged.map(_._1)),
      "sink.bytes_written_per_event" ->
        merged.map(_._2).sum.toDouble / math.max(1L, merged.map(_._5).sum),
      "sink.buckets_rewritten" -> Stats.median(merged.map(_._3.toDouble)),
      "sink.state_bytes" -> merged.lastOption.map(_._4.toDouble).getOrElse(0.0)), ok)
  }
}

/** Open loop: the replica of `UpsertSink` starts from the table's
  * snapshot; then a generator publishes pre-generated log files on a
  * wall-clock schedule while a default-trigger stream merges them in. */
object ReplicaTail extends Workload {
  val name = "replica_tail"
  val Rows = 5000
  val EventsPerS = 100
  val PublishEveryMs = 50
  val ZipfExponent = 1.1
  /** Published before freshness is measured, to warm the stream up. */
  val WarmupMs = 1000L
  /** A publish this late behind its schedule fails its events. */
  val LateMs = 250L
  private val perFile = EventsPerS * PublishEveryMs / 1000

  // enough for a run that goes on as long as MaxStretch allows
  private def events(seconds: Int) =
    (EventsPerS * (MaxStretch * seconds + WarmupMs / 1000)).toInt
  private def log(seed: Long, seconds: Int) =
    Gen.changeLog(seed, Rows, events(seconds), Gen.Zipf(ZipfExponent))

  private def pendingDir(dir: String) = s"$dir.pending"
  private def replicaDir(dir: String) = s"$dir.replica"

  /** The database with the table and an empty log, the tail as pending
    * log files, and the table's `initial` snapshot merged into a fresh
    * replica. */
  def setup(c: Ctx, dir: String): Unit = {
    val l = log(c.seed, c.seconds)
    Gen.writeDb(c.spark, dir, c.seed, Rows, l, 0)
    Files.createDirectories(Paths.get(pendingDir(dir)))
    Gen.writePending(c.spark, pendingDir(dir), l, 0, perFile)
    UpsertSink.mergeInto(c.spark, c.spark.read.format("graft-cdc")
      .options(cdcOptions(dir)).option("scan.startup.mode", "initial").load(),
      Seq(Gen.Pk), replicaDir(dir))
  }

  private val MaxOffset = """"maxOffset"\s*:\s*\d+""".r

  /** Make a pending file part of the log, then move the log head: the
    * rename is atomic, and so is the metadata swap. */
  private def publish(dir: String, file: java.nio.file.Path, head: Long): Unit = {
    val logDir = Paths.get(dir, Gen.Table, "log")
    Files.move(file, logDir.resolve(file.getFileName), StandardCopyOption.ATOMIC_MOVE)
    val meta = Paths.get(dir, Gen.Table, "meta.json")
    val tmp = Paths.get(dir, Gen.Table, ".meta.json.tmp")
    val text = Files.readString(meta, StandardCharsets.UTF_8)
    Files.writeString(tmp, MaxOffset.replaceFirstIn(text, s""""maxOffset":$head"""),
      StandardCharsets.UTF_8)
    Files.move(tmp, meta, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  def measure(c: Ctx, dir: String, work: String): Measured = {
    val spark = c.spark
    val sink = replicaDir(dir)
    val mergeMs = new java.util.concurrent.ConcurrentHashMap[Long, Double]()
    // traced only: (bytes written, buckets rewritten, bytes in the sink)
    val written = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Int, Long)]()
    // the replica holds the snapshot, the state at offset 0: the stream
    // follows the log from there. A `latest` start would race the
    // generator: it takes the head at whatever moment the stream starts
    val q = spark.readStream.format("graft-cdc").options(cdcOptions(dir))
      .option("scan.startup.mode", "specific-offset")
      .option("scan.startup.specific-offset", "0").load()
      .writeStream
      .option("checkpointLocation", s"$work/checkpoint")
      .foreachBatch { (b: DataFrame, id: Long) =>
        val pre = if (c.traced) sinkFiles(sink) else Map.empty[String, Long]
        val t0 = System.nanoTime()
        c.spans("sink", s"trigger-$id")(UpsertSink.mergeInto(spark, b, Seq(Gen.Pk), sink))
        mergeMs.put(id, msSince(t0))
        if (c.traced) {
          val post = sinkFiles(sink)
          val added = post.filter { case (f, _) => !pre.contains(f) }
          val buckets = (pre.keySet ++ post.keySet)
            .filter(f => pre.get(f) != post.get(f)).map(_.takeWhile(_ != '/'))
          written.put(id, (added.values.sum, buckets.size, post.values.sum))
        }
        ()
      }
      .start()
    def committed: Long = triggers(q).lastOption.map(_.to).getOrElse(0L)
    val files = Gen.listFiles(Paths.get(pendingDir(dir)))
      .filter(_.getFileName.toString.endsWith(".json"))
    val publishes = mutable.ArrayBuffer.empty[Stats.Publish]
    var lateMax = 0L; var lateEvents = 0L
    val start = System.currentTimeMillis() + 100
    val measureFrom = start + WarmupMs
    val stop = measureFrom + c.seconds * 1000L
    val hardStop = measureFrom + MaxStretch * c.seconds * 1000L
    var before: Option[Map[String, Double]] = None
    var firstTimed = Long.MaxValue
    def dueAt(k: Int) = start + k.toLong * PublishEveryMs
    // the traced phase's merge p50 needs MinOps triggers; freshness is
    // per event and has thousands of samples either way
    def enough = !c.traced || triggers(q).count(_.batchId >= firstTimed) >= MinOps
    var k = 0
    while (k < files.size && q.isActive &&
        (dueAt(k) < stop || (dueAt(k) < hardStop && !enough))) {
      val due = dueAt(k)
      if (due >= measureFrom && before.isEmpty) {
        before = Some(c.counters.map(_.snapshot()).getOrElse(Map.empty))
        firstTimed = triggers(q).lastOption.map(_.batchId + 1).getOrElse(0L)
      }
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      val head = (k + 1).toLong * perFile
      publish(dir, files(k), head)
      val now = System.currentTimeMillis()
      if (due >= measureFrom) publishes += Stats.Publish(k.toLong * perFile, head, due)
      lateMax = math.max(lateMax, now - due)
      if (now - due > LateMs) lateEvents += perFile
      k += 1
    }
    val head = k.toLong * perFile
    val backlog = head - committed
    val caughtUp = await(q, 60000L)(committed >= head)
    val failure = q.exception
    q.stop()
    val all = triggers(q)
    val timed = all.filter(_.batchId >= firstTimed)
    val fresh = Stats.freshness(publishes.toSeq, all.map(t => Stats.Commit(t.to, t.endMs)))
    val truth = log(c.seed, c.seconds).stateAt(head)
    val got = checksumOf(UpsertSink.readState(spark, sink))
    val correct = caughtUp && failure.isEmpty && got == truth
    val attempted = head + all.size + failure.size
    val merges = timed.flatMap(t => Option(mergeMs.get(t.batchId)))
    val layers = c.counters.map { kc =>
      SparkCounters.drain(spark)
      val w = timed.flatMap(t => Option(written.get(t.batchId)).map(t -> _))
      SparkCounters.perOp(before.getOrElse(kc.snapshot()), kc.snapshot(), timed.size) ++
        streamLayers(timed) ++ Map(
          "sink.merge_ms" -> (if (merges.isEmpty) 0.0 else Stats.median(merges)),
          "sink.bytes_written_per_event" ->
            w.map(_._2._1).sum.toDouble / math.max(1L, w.map(x => x._1.to - x._1.from).sum),
          "sink.buckets_rewritten" -> Stats.median(w.map(_._2._2.toDouble)),
          "sink.state_bytes" -> w.lastOption.map(_._2._3.toDouble).getOrElse(0.0))
    }.getOrElse(Map.empty)
    // committed events per second from the first measured publish to the
    // commit of the last one: the offered rate while the replica keeps up,
    // less when it falls behind
    val measured = publishes.map(p => p.toOffset - p.fromOffset).sum
    val lastCommitMs = all.find(_.to >= head).map(_.endMs).getOrElse(System.currentTimeMillis())
    Measured(attempted,
      if (correct) lateEvents + failure.size else attempted, correct,
      measured / ((lastCommitMs - measureFrom) / 1000.0), fresh, layers,
      Map("published_events" -> head, "triggers" -> all.size,
        "tail_backlog_events" -> backlog, "tail_generator_late_ms_max" -> lateMax,
        "tail_freshness_ms_p90" -> (if (fresh.size >= Stats.minSamples(90))
          Stats.percentile(fresh, 90) else "too few samples"),
        "generator_valid" -> (lateEvents == 0), "merge_ms" -> merges))
  }
}
