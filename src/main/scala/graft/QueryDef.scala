package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** One verifiable operator/query: the Spark implementation plus (when
  * SQL-expressible) the equivalent DuckDB oracle SQL over the same parquet
  * tables. Column names/aliases MUST match between the two. */
case class QueryDef(
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** The money-math contract shared by every TPC-H-shaped query: float sums
  * go through DECIMAL(18,2) (exact, order-insensitive) on BOTH the Spark
  * and oracle side, or hashes drift. One definition — a precision change
  * here reaches the whole suite. */
object MoneyMath {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.lit
  import org.apache.spark.sql.types.DecimalType
  def dec(c: Column): Column = c.cast(DecimalType(18, 2))
  val one: Column = lit(1).cast(DecimalType(18, 2))
  val dzero: Column = lit(0).cast(DecimalType(18, 2))
  def ts(s: String): Column = lit(java.sql.Timestamp.valueOf(s))
}

object QueryUtil {
  /** Run `df` to the end (`Trigger.AvailableNow`) into a memory sink and
    * return the drained rows. `table` resolves the sink's plan at once, so
    * the rows stay reachable for exactly as long as the caller holds the
    * result; the sink's temp view is dropped on every path, a failed
    * stream included, so the catalog never pins a drained result for the
    * session's lifetime (a 3-pass benchmark over the streaming queries
    * would otherwise accumulate three driver-resident copies per query). */
  def drain(df: Dataset[_], mode: String = "append"): DataFrame = {
    val s = df.sparkSession
    val name = s"drain_${System.nanoTime()}"
    try {
      df.writeStream.format("memory").queryName(name).outputMode(mode)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      s.table(name)
    } finally s.catalog.dropTempView(name)
  }

  /** Scope `spark.sql.shuffle.partitions` around a stateful-streaming
    * query: every state-store instance (one per shuffle partition per
    * stateful operator) pays load/commit overhead each micro-batch, so the
    * partition count should follow state VOLUME. Streaming state here is
    * O(keys-in-flight), far below the batch-join sizing the session default
    * targets; at cluster scale the same knob scales it back up. The
    * previous value is always restored — batch queries are unaffected. */
  def withShufflePartitions[A](s: SparkSession, n: Int)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, n.toString)
    try body finally s.conf.set(key, prev)
  }

  /** Write a CORPUS-FRACTION write-once artifact (pair table, cluster
    * assignment, PQ code table) hash-partitioned on `key`: such a table
    * must never funnel through one task — at test SF `parts` small files
    * are noise, at 100 TB the partitioned write is the difference between
    * a write and a single-task bottleneck, and the hash layout is the one
    * the artifact's consumers re-key on anyway. Small MODEL artifacts
    * (codebooks, BPE rules, K query vectors) stay single-file by design.
    * Production sizes `parts` to data volume; consumers must be row-order
    * insensitive (all artifact consumers here aggregate by min/sum/count).
    */
  def writeArtifact(df: DataFrame, key: String, path: String,
      parts: Int = 8): Unit =
    df.repartition(parts, org.apache.spark.sql.functions.col(key))
      .write.mode("overwrite").parquet(path)

  /** Remove a PER-RUN scratch dir (e.g. a streaming query's nanoTime-keyed
    * state store) once its contents are materialized — per-run dirs that
    * outlive their query are unbounded disk growth across Verify/Bench
    * cycles. Never use on the published [[Artifacts]]. */
  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) {
      val fs = f.listFiles()
      if (fs != null) fs.foreach(deleteRecursively)
    }
    f.delete()
  }
}

object Tables {
  import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
  import org.apache.spark.sql.types.{LongType, TimestampType}

  /** Normalize the events `ts` column to session TimestampType whatever the
    * file's physical encoding: legacy TIMESTAMP(NANOS) files surface as
    * LongType under spark.sql.legacy.parquet.nanosAsLong and take the
    * nano→micro `div` path (`div` keeps the arithmetic in long — a double
    * roundtrip would lose precision above 2^53 ns); native timestamp[us]
    * files surface as TimestampType or TIMESTAMP_NTZ and cast through
    * (value-preserving — every session pins spark.sql.session.timeZone=UTC). */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts",
        timestamp_micros(expr("ts div 1000")))
      case TimestampType => df
      case _ => df.withColumn("ts", col("ts").cast(TimestampType))
    }

  /** Load one of the driver-generated tables from an sf directory. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    if (name == "events") normalizeEventTs(df) else df
  }

  /** The events table as a file stream: the batch reader supplies the
    * file's OWN schema (readStream needs one up front), then the same
    * type-adaptive `ts` normalization as the batch loader. */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = spark.read.parquet(s"$sfDir/events.parquet").schema
    normalizeEventTs(spark.readStream.schema(raw)
      .option("pathGlobFilter", "events.parquet").parquet(sfDir))
  }
}
