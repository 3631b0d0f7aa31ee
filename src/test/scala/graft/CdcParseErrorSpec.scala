package graft

import org.apache.spark.sql.functions._

/** scan.parse.error-policy (the reference's Debezium errors.tolerance):
  * fail (default) stops on an undecodable log line with the line in the
  * error; skip drops exactly the garbage and the merged state matches the
  * clean database. */
class CdcParseErrorSpec extends SparkSpecBase {
  import spark.implicits._

  private def writeDb(dir: String, corrupt: Boolean): Unit = {
    import java.nio.file.{Files, Paths, StandardOpenOption}
    val snap = (1L to 50L).map(i => (i, s"v$i")).toDF("id", "v")
    val env = graft.cdc.ChangelogGen.changes(snap,
      graft.cdc.ChangelogGen.Spec(pk = "id", measure = "id", table = "t"))
    // measure == pk is fine for this test: updates double nothing visible,
    // but inserts/deletes still mutate the key set
    graft.cdc.FileCdcDatabase.write(spark, dir, "t", "graft", "id",
      snapshot = snap, changes = env, force = true)
    if (corrupt) {
      val logFile = Paths.get(
        graft.cdc.FileCdcDatabase.dataFiles(dir, "t", "log").head)
      val lines = Files.readAllLines(logFile)
      lines.add(lines.size / 2, """{"truncated": [1,""")
      lines.add(0, """{"wellformed":"but not an envelope"}""")
      Files.write(logFile, lines, StandardOpenOption.TRUNCATE_EXISTING)
    }
  }

  private def read(dir: String, policy: Option[String]) = {
    val r = spark.read.format("graft-cdc")
      .option("path", dir).option("table", "t")
      .option("scan.startup.mode", "initial")
      .option("scan.incremental.snapshot.chunk.size", "10")
    policy.fold(r)(p => r.option("scan.parse.error-policy", p))
      .load().select(col("id"), col("v"))
  }

  test("default policy fails loudly on a garbage log line") {
    val dir = tmpDir("parse-fail")
    writeDb(dir, corrupt = true)
    val e = intercept[org.apache.spark.SparkException] {
      read(dir, None).collect()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else t.getMessage +: chain(t.getCause)
    assert(chain(e).exists(m => m != null &&
      m.contains("scan.parse.error-policy=fail")), chain(e).mkString(" | "))
  }

  test("skip policy drops exactly the garbage; state matches clean db") {
    val clean = tmpDir("parse-clean"); val dirty = tmpDir("parse-dirty")
    writeDb(clean, corrupt = false)
    writeDb(dirty, corrupt = true)
    val want = read(clean, None).collect().map(_.toString).sorted
    val got = read(dirty, Some("skip")).collect().map(_.toString).sorted
    assert(got.sameElements(want),
      s"want ${want.length} rows, got ${got.length}")
  }

  test("non-integral __offset surfaces under fail policy (not coerced to 0)") {
    // regression: the Jackson fallback used .asLong(), which coerces a
    // string/null/object __offset to 0 — the 'off > from' range filter then
    // silently dropped the line even under fail. A non-integral offset must
    // flow through to the decode step where the policy decides.
    import java.nio.file.{Files, Paths, StandardOpenOption}
    val dir = tmpDir("parse-offstr")
    writeDb(dir, corrupt = false)
    val logFile = Paths.get(
      graft.cdc.FileCdcDatabase.dataFiles(dir, "t", "log").head)
    val lines = Files.readAllLines(logFile)
    val i = lines.size / 2
    lines.set(i, lines.get(i).replaceFirst(
      "\"__offset\"\\s*:\\s*\\d+", "\"__offset\":\"not-a-number\""))
    assert(lines.get(i).contains("\"not-a-number\""), lines.get(i))
    Files.write(logFile, lines, StandardOpenOption.TRUNCATE_EXISTING)
    val e = intercept[org.apache.spark.SparkException] {
      read(dir, None).collect()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else t.getMessage +: chain(t.getCause)
    assert(chain(e).exists(m => m != null &&
      m.contains("scan.parse.error-policy=fail")), chain(e).mkString(" | "))
    // and skip still converges to the clean state minus that one event
    val got = read(dir, Some("skip")).collect()
    assert(got.nonEmpty)
  }

  test("a malformed log line fails only the reads whose window holds it") {
    // the log is offset-sorted; a line without an offset belongs by
    // position: a range reads it when it lies after the last line with
    // offset <= from and before the first line with offset > to
    import java.nio.file.{Files, Paths, StandardOpenOption}
    val clean = tmpDir("parse-window-clean"); val dir = tmpDir("parse-window")
    writeDb(clean, corrupt = false); writeDb(dir, corrupt = false)
    val logFile = Paths.get(
      graft.cdc.FileCdcDatabase.dataFiles(dir, "t", "log").head)
    val lines = Files.readAllLines(logFile)
    val offs = (0 until lines.size).map(i => graft.cdc.FileCdcDatabase
      .quickLongField(lines.get(i), graft.cdc.ChangeRecord.OffsetCol))
    val at = lines.size / 2 // garbage goes right after the line at `at`
    lines.add(at + 1, """{"truncated": [1,""")
    Files.write(logFile, lines, StandardOpenOption.TRUNCATE_EXISTING)

    def fromOffset(d: String, off: Long) = spark.read.format("graft-cdc")
      .option("path", d).option("table", "t")
      .option("scan.startup.mode", "specific-offset")
      .option("scan.startup.specific-offset", off.toString)
      .load().select(col("__offset"), col("__op"), col("id"), col("v"))
      .collect().map(_.toString).sorted
    def failsOnPolicy(body: => Any): Unit = {
      val e = intercept[Exception](body)
      def chain(t: Throwable): Seq[String] =
        if (t == null) Seq.empty else t.getMessage +: chain(t.getCause)
      assert(chain(e).exists(m => m != null &&
        m.contains("scan.parse.error-policy=fail")), chain(e).mkString(" | "))
    }
    // a batch read that starts past the line no longer reads it
    val past = offs(at + 2)
    assert(fromOffset(dir, past).sameElements(fromOffset(clean, past)))
    // one that starts before it still fails
    failsOnPolicy(fromOffset(dir, offs(at - 2)))

    // a stream fails in the first batch whose range reaches the line — the
    // batch ending at or past the offset just before it
    val perTrigger = 3
    val failing = (0 until offs.size by perTrigger)
      .indexWhere(i => offs(math.min(i + perTrigger, offs.size) - 1) >= offs(at))
    assert(failing > 0)
    val done = scala.collection.mutable.ArrayBuffer.empty[Long]
    failsOnPolicy {
      val q = spark.readStream.format("graft-cdc")
        .option("path", dir).option("table", "t")
        .option("scan.startup.mode", "earliest")
        .option("scan.stream.max-events-per-trigger", perTrigger.toString)
        .load()
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          batch.collect()
          done.synchronized(done += id)
          ()
        }
        .option("checkpointLocation", tmpDir("parse-window-ckpt"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    assert(done.toSeq === (0L until failing.toLong))
  }

  test("policy is validated at scan start") {
    val dir = tmpDir("parse-bad")
    writeDb(dir, corrupt = false)
    val e = intercept[Exception] {
      read(dir, Some("ignore")).collect()
    }
    assert(e.getMessage.contains("fail|skip"), e.getMessage)
  }

  test("cdcdb_corrupt: a rebuild after a torn build (no _DONE) leaves " +
    "exactly two unparseable log lines") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    import graft.queries.CdcSurfaceQueries.prepareCorrupt
    val sf = tmpDir("corrupt-sf")
    (1L to 300L).map(i => (i, i * 1.5)).toDF("o_orderkey", "o_totalprice")
      .write.parquet(s"$sf/orders.parquet")
    val dir = prepareCorrupt(spark, sf)
    def unparseable(): Int = {
      val log = graft.cdc.FileCdcDatabase.dataFiles(dir, "orders", "log").head
      Files.readAllLines(Paths.get(log)).asScala
        .count(!_.contains(s"\"${graft.cdc.ChangeRecord.OffsetCol}\":"))
    }
    try {
      assert(unparseable() === 2)
      Files.delete(Paths.get(dir, "_DONE"))
      assert(prepareCorrupt(spark, sf) === dir)
      assert(Files.exists(Paths.get(dir, "_DONE")))
      assert(unparseable() === 2)
    } finally QueryUtil.deleteRecursively(new java.io.File(dir))
  }
}
