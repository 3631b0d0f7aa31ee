package graft.cdc.source

import graft.SparkSpecBase
import graft.cdc.ChangeRecord._
import graft.cdc.FileCdcDatabase
import graft.cdc.dialect.{FileCdcDialect, JdbcCdcDatabase}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.{DataFrame, Row}

import scala.jdk.CollectionConverters._

/** [[CdcPlanner.snapshotPartitions]] sizes the snapshot phase to the
  * cluster: n = min(#chunks, max-partitions, max(P, ceil(estBytes /
  * maxPartitionBytes))), runs of consecutive chunks that tile every planned
  * chunk in order. The shared test session is `local[4]`, so P = 4 unless
  * `spark.sql.leafNodeDefaultParallelism` says otherwise. */
class SnapshotPartitionSizingSpec extends SparkSpecBase {

  import spark.implicits._

  private val payload = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  private val Rows = 200L

  private def snapshotDf: DataFrame =
    (1L to Rows).map(i => (i, s"v$i")).toDF("id", "v")

  private def changesDf: DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(Seq(
      Row(1L, "u", 10L, "graft", "t", Row(5L, "v5"), Row(5L, "w5")),
      Row(2L, "d", 20L, "graft", "t", Row(9L, "v9"), null))),
    envelopeSchema(payload))

  private lazy val fileDir: String = {
    val d = tmpDir("sizing-file")
    FileCdcDatabase.write(spark, d, "t", "graft", "id", snapshotDf, changesDf,
      snapshotPartitions = 2, force = true)
    d
  }

  private def cfg(dir: String, opts: (String, String)*): CdcSourceConfig =
    CdcSourceConfig.fromOptions(new CaseInsensitiveStringMap((Map(
      "path" -> dir, "table" -> "t", "scan.startup.mode" -> "initial",
      // 200 rows in chunks of 10: 20 chunks
      "scan.incremental.snapshot.chunk.size" -> "10") ++ opts).asJava))

  private def plan(c: CdcSourceConfig,
      bounds: CdcKeyBounds = CdcKeyBounds(None, None))
      : Seq[SnapshotChunkPartition] =
    CdcPlanner.snapshotPartitions(c, "t", c.maxOffsetAll, "", bounds)
      .collect { case p: SnapshotChunkPartition => p }

  /** The partitions tile every chunk in order, in runs that differ in
    * length by at most one. */
  private def assertTiles(parts: Seq[SnapshotChunkPartition],
      c: CdcSourceConfig): Unit = {
    assert(parts.flatMap(_.ranges) ===
      CdcPlanner.chunks(c, "t").map(r => (r.lo, r.hi)))
    assert(parts.map(_.chunkId) === parts.indices)
    val sizes = parts.map(_.ranges.size)
    assert(sizes.max - sizes.min <= 1, sizes)
  }

  test("a small table plans P partitions that tile every chunk in order") {
    val c = cfg(fileDir)
    assert(CdcPlanner.chunks(c, "t").size === 20)
    val p = spark.sparkContext.defaultParallelism
    assert(p === 4, "the test session is local[4]")
    val parts = plan(c)
    assert(parts.size === p)
    assertTiles(parts, c)
  }

  test("spark.sql.leafNodeDefaultParallelism sets P") {
    val c = cfg(fileDir)
    withConf("spark.sql.leafNodeDefaultParallelism" -> "64") {
      val parts = plan(c)
      assert(parts.size === 20, "one chunk per partition")
      assert(parts.forall(_.ranges.size == 1))
      assertTiles(parts, c)
    }
    withConf("spark.sql.leafNodeDefaultParallelism" -> "1") {
      val parts = plan(c)
      assert(parts.size === 1)
      assertTiles(parts, c)
    }
  }

  test("a small maxPartitionBytes raises n to ceil(estBytes / max)") {
    val c = cfg(fileDir)
    val est = FileCdcDialect.avgRowSizeBytes(fileDir, "t").get *
      FileCdcDialect.tableMeta(fileDir, "t").rowCount
    // about 7 partitions' worth of bytes: more than P = 4, fewer than the
    // 20 chunks
    val max = est / 7
    val want = math.ceil(est.toDouble / max).toInt
    assert(want > 4 && want < 20, s"est=$est max=$max")
    withConf("spark.sql.files.maxPartitionBytes" -> max.toString) {
      val parts = plan(c)
      assert(parts.size === want)
      assertTiles(parts, c)
    }
  }

  test("a dialect without a row-size estimate keeps one chunk per partition") {
    val dir = tmpDir("sizing-jdbc")
    JdbcCdcDatabase.write(spark, dir, "t", "graft", "id", snapshotDf,
      changesDf, force = true)
    val c = cfg(dir, "dialect" -> "jdbc")
    assert(c.dialect.avgRowSizeBytes(dir, "t").isEmpty)
    val parts = plan(c)
    assert(parts.size === CdcPlanner.chunks(c, "t").size)
    assert(parts.size > 4)
    assert(parts.forall(_.ranges.size == 1))
    assertTiles(parts, c)
  }

  test("scan.snapshot.max-partitions still caps n") {
    val c = cfg(fileDir, "scan.snapshot.max-partitions" -> "3")
    assert(plan(c).size === 3)
    withConf("spark.sql.leafNodeDefaultParallelism" -> "64") {
      val parts = plan(c)
      assert(parts.size === 3)
      assertTiles(parts, c)
    }
  }

  test("a point lookup plans one partition") {
    val c = cfg(fileDir)
    val parts = plan(c, CdcKeyBounds(Some(117L), Some(117L)))
    assert(parts.size === 1)
    assert(parts.head.ranges.size === 1)
    // and a range keeps only its overlapping chunks, at most P partitions
    val ranged = plan(c, CdcKeyBounds(Some(41L), Some(160L)))
    assert(ranged.size === 4)
    val keys = ranged.flatMap(_.ranges)
    assert(keys.head._1.forall(_ <= 41L) && keys.last._2.forall(_ > 160L))
    assert(keys.size < 20)
  }
}
