package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.spark.sql.{DataFrame, Row}

/** `QueryUtil.drain`: a stream run to the end into a memory sink returns
  * the batch result, and leaves no temp view and no running query behind,
  * whether the stream succeeds or fails. */
class QueryUtilSpec extends SparkSpecBase {
  import spark.implicits._

  /** A file stream over `rows`, written as JSON into a fresh temp dir, and
    * the same rows as a batch DataFrame. */
  private def input(rows: Seq[(Long, String)]): (DataFrame, DataFrame) = {
    val dir = tmpDir("drain-in")
    val batch = rows.toDF("id", "g")
    batch.write.mode("overwrite").json(dir)
    (spark.readStream.schema(batch.schema).json(dir),
      spark.read.schema(batch.schema).json(dir))
  }

  private val rows = (1L to 20L).map(i => (i, s"g${i % 3}"))

  private def tables(): Set[String] =
    spark.catalog.listTables().collect().map(_.name).toSet

  /** Runs `body`, then asserts it left no new temp view or active query. */
  private def leavesNothing[A](body: => A): A = {
    val before = tables()
    try body
    finally {
      assert(tables() === before, "a temp view outlived the drain")
      assert(spark.streams.active.isEmpty, "a query outlived the drain")
    }
  }

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  test("append, update and complete drains equal the batch result") {
    val (stream, batch) = input(rows)
    def perGroup(df: DataFrame) =
      df.groupBy(col("g")).agg(count(lit(1)).as("n"), sum(col("id")).as("s"))
    leavesNothing {
      assert(sorted(QueryUtil.drain(stream.filter(col("id") % 2 === 0))) ===
        sorted(batch.filter(col("id") % 2 === 0)))
      assert(sorted(QueryUtil.drain(perGroup(stream), "update")) ===
        sorted(perGroup(batch)))
      assert(sorted(QueryUtil.drain(perGroup(stream), "complete")) ===
        sorted(perGroup(batch)))
    }
  }

  test("a failing stream makes drain throw its cause and leaves nothing") {
    val (stream, _) = input(rows)
    val failing = stream.select(col("id")).as[Long].map { id =>
      if (id == 7L) throw new IllegalStateException(s"drain-spec boom at $id")
      id
    }
    val e = leavesNothing(intercept[StreamingQueryException](QueryUtil.drain(failing)))
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.size > 1, "the stream's failure has no cause")
    assert(chain.exists(t => String.valueOf(t.getMessage).contains("drain-spec boom at 7")),
      chain.map(_.toString).mkString("\n"))
  }
}
