package cdcbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}
import scala.collection.mutable

/** Spans around the benchmark's own calls into each layer. A span holds
  * its name, start, end, parent and the id of the trigger or query it
  * belongs to. Spans stay in memory until [[write]]. Disabled, a span is
  * just its body. */
final class Spans(val enabled: Boolean) {
  final case class Span(id: Int, name: String, parent: Int, op: String,
      startNs: Long, endNs: Long)

  private val done = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  def apply[A](name: String, op: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.get().headOption.getOrElse(0)
      stack.set(id :: stack.get())
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get().tail)
        synchronized { done += Span(id, name, parent, op, t0, t1) }
      }
    }

  /** Per span name: total time minus the time its direct child spans
    * cover, in ms. */
  def selfMs: Map[String, Double] = synchronized {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    done.foreach(s => if (s.parent != 0) childNs(s.parent) += s.endNs - s.startNs)
    done.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.endNs - s.startNs - childNs(s.id)).sum / 1e6
    }
  }

  def write(file: java.io.File): Unit = synchronized {
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try done.sortBy(_.startNs).foreach { s =>
      w.println(Json.obj(Seq("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "op" -> s.op, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs)))
    } finally w.close()
  }
}

/** Engine-side counters read through Spark's public listener APIs: jobs,
  * stages and task metrics from a SparkListener, planning phases from a
  * QueryExecutionListener, and whole-stage codegen compile time. */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  private val jobs = new AtomicLong
  private val stages = new AtomicLong
  private val tasks = new AtomicLong
  private val runMs = new AtomicLong
  private val cpuNs = new AtomicLong
  private val shuffleWriteBytes = new AtomicLong
  private val spillBytes = new AtomicLong
  private val gcMs = new AtomicLong
  private val schedulerDelayMs = new AtomicLong
  private val planningMs = new DoubleAdder

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      gcMs.addAndGet(m.jvmGCTime)
      // the Spark UI's definition: wall time of the task not spent running,
      // deserializing or serializing its result
      val info = e.taskInfo
      if (info != null && info.finishTime > 0)
        schedulerDelayMs.addAndGet(math.max(0L, info.duration -
          m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit =
    planningMs.add(qe.tracker.phases.values.map(_.durationMs).sum.toDouble)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  /** Counter values now; subtract two snapshots for an interval. */
  def snapshot(): Map[String, Double] = Map(
    "spark.jobs" -> jobs.get.toDouble,
    "spark.stages" -> stages.get.toDouble,
    "spark.tasks" -> tasks.get.toDouble,
    "spark.scheduler_delay_ms" -> schedulerDelayMs.get.toDouble,
    "spark.executor_run_ms" -> runMs.get.toDouble,
    "spark.executor_cpu_ms" -> cpuNs.get / 1e6,
    "spark.shuffle_write_bytes" -> shuffleWriteBytes.get.toDouble,
    "spark.spill_bytes" -> spillBytes.get.toDouble,
    "spark.gc_ms" -> gcMs.get.toDouble,
    "spark.planning_ms" -> planningMs.sum(),
    // CodeGenerator.compileTime accumulates nanoseconds
    "spark.codegen_compile_ms" -> CodeGenerator.compileTime / 1e6)
}

object SparkCounters {
  def install(spark: SparkSession): SparkCounters = {
    val c = new SparkCounters
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    c
  }

  def uninstall(spark: SparkSession, c: SparkCounters): Unit = {
    spark.sparkContext.removeSparkListener(c)
    spark.listenerManager.unregister(c)
  }

  /** Let the listener bus deliver every event posted so far. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.CdcbenchBridge.drainListeners(spark.sparkContext)

  /** `after - before`, divided by `ops`. */
  def perOp(before: Map[String, Double], after: Map[String, Double],
      ops: Long): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before(k)) / math.max(1L, ops) }
}
