package graft.cdc.source

import graft.SparkSpecBase
import graft.cdc.ChangeRecord._
import graft.cdc.FileCdcDatabase
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The chunk-key index of [[SnapshotOverlay]]: applying a chunk range's
  * entries found by binary search must equal the naive full scan over every
  * entry in log order — the same surviving rows, in the same per-partition
  * order. Seeds are printed; GRAFT_PROP_SEED replays another one. */
class OverlayIndexSpec extends SparkSpecBase {

  private val seed: Long =
    sys.env.get("GRAFT_PROP_SEED").map(_.toLong).getOrElse(20261017L)

  private type ByKey = mutable.LinkedHashMap[Long, (Long, InternalRow)]

  private def inRange(lo: Option[Long], hi: Option[Long])(k: Long): Boolean =
    lo.forall(k >= _) && hi.forall(k < _)

  /** The reference: every entry, in log order, filtered by chunk key. */
  private def naiveApply(ov: SnapshotOverlay, byKey: ByKey,
      lo: Option[Long], hi: Option[Long]): Unit =
    (0 until ov.size).filter(i => inRange(lo, hi)(ov.ckVal(i)))
      .foreach(ov.applyEntry(byKey, _))

  private def render(byKey: ByKey): Seq[(Long, Long, Any)] =
    byKey.toSeq.map { case (k, (off, img)) => (k, off, img.getLong(0)) }

  test("indexed range apply equals the naive full scan (generated overlays)") {
    println(s"OverlayIndexSpec: seed=$seed")
    val bound = Gen.frequency(1 -> Gen.const(None),
      4 -> Gen.choose(-5L, 45L).map(Some(_)))
    val overlay: Gen[(Seq[(Long, Long, Option[Long])], Long)] = for {
      n <- Gen.choose(0, 60)
      // pk, chunk key (few distinct values: ties), offset or delete
      es <- Gen.listOfN(n, Gen.zip(Gen.choose(0L, 30L), Gen.choose(0L, 40L),
        Gen.option(Gen.choose(1L, 100L))))
      trunc <- Gen.frequency(3 -> Gen.const(0L), 1 -> Gen.choose(1L, 100L))
    } yield (es, trunc)
    (0 until 500).foreach { k =>
      val s = seed * 31L + k
      val ((es, trunc), lo, hi) = Gen.zip(overlay, bound, bound)
        .pureApply(Gen.Parameters.default, Seed(s))
      val m = mutable.LinkedHashMap[Long, OverlayEntry]()
      es.foreach { case (pk, ck, off) =>
        m(pk) = OverlayEntry(ck, off.map(o => (o, new GenericInternalRow(
          Array[Any](pk * 1000 + o)))))
      }
      val ov = SnapshotOverlay(m, trunc)
      assert(ov.indicesInRange(lo, hi).toSeq ===
        (0 until ov.size).filter(i => inRange(lo, hi)(ov.ckVal(i))),
        s"seed $s")
      // the snapshot side: rows of a few keys, some also in the overlay
      def start: ByKey = mutable.LinkedHashMap((0L to 30L by 3L).map(pk =>
        pk -> (0L, new GenericInternalRow(Array[Any](-pk)): InternalRow)): _*)
      val indexed = start; ov.applyRange(indexed, lo, hi)
      val naive = start; naiveApply(ov, naive, lo, hi)
      assert(render(indexed) === render(naive), s"seed $s")
    }
  }

  private val payload = StructType(Seq(StructField("id", LongType),
    StructField("k2", LongType), StructField("v", StringType)))

  /** 120 rows; k2 reverses the id order (a key-stable chunk-key override);
    * updates, deletes and inserts spread over the key space, an optional
    * TRUNCATE in the middle of the log, and optional DDL records (they
    * carry no chunk key, so the routing sends them to every span). */
  private def writeTable(dir: String, truncate: Boolean,
      ddl: Boolean = false): Unit = {
    val snap = spark.createDataFrame(spark.sparkContext.parallelize(
      (1L to 120L).map(i => Row(i, 1000L - i, s"v$i"))), payload)
    def img(i: Long, v: String) = Row(i, 1000L - i, v)
    def ddlRow(off: Long) = Row(off, "ddl", off, "graft", "t", null, null,
      "COMMENT ON TABLE t IS 'x'", payload.toDDL)
    val events = (1L to 120L by 7L).map(i =>
      Row(i, "u", i, "graft", "t", img(i, s"v$i"), img(i, s"u$i"), null,
        null)) ++
      (if (ddl) Seq(ddlRow(150L)) else Nil) ++
      (3L to 120L by 11L).map(i =>
        Row(200L + i, "d", i, "graft", "t", img(i, s"v$i"), null, null,
          null)) ++
      (121L to 130L).map(i =>
        Row(400L + i, "c", i, "graft", "t", null, img(i, s"n$i"), null,
          null)) ++
      (if (truncate) Seq(Row(600L, "t", 600L, "graft", "t", null, null,
        null, null))
      else Nil) ++
      (if (ddl) Seq(ddlRow(610L)) else Nil) ++
      (131L to 136L).map(i =>
        Row(500L + i, "c", i, "graft", "t", null, img(i, s"m$i"), null,
          null))
    val env = StructType(envelopeSchema(payload).fields ++ Seq(
      StructField(DdlCol, StringType), StructField(SchemaDdlCol, StringType)))
    FileCdcDatabase.write(spark, dir, "t", "graft", "id", snap,
      spark.createDataFrame(spark.sparkContext.parallelize(events), env),
      snapshotPartitions = 3, force = true)
  }

  /** A generated log over the same 120-row snapshot, from `seed`: updates,
    * deletes and inserts of fresh keys over the live key set, a TRUNCATE
    * (which empties it) at a random point in half the logs, and DDL
    * records at random points. Returns the ids live at the log's end. */
  private def writeGenerated(dir: String, seed: Long): Set[Long] = {
    val rnd = new scala.util.Random(seed)
    val snap = spark.createDataFrame(spark.sparkContext.parallelize(
      (1L to 120L).map(i => Row(i, 1000L - i, s"v$i"))), payload)
    def img(i: Long, v: String) = Row(i, 1000L - i, v)
    val live = mutable.LinkedHashMap((1L to 120L).map(i => i -> s"v$i"): _*)
    var nextKey = 121L
    val n = 150
    val truncAt = if (rnd.nextBoolean()) rnd.nextInt(n) + 1 else -1
    val events = (1 to n).map(_.toLong).map { off =>
      val r = rnd.nextInt(100)
      if (off == truncAt) {
        live.clear()
        Row(off, "t", off, "graft", "t", null, null, null, null)
      } else if (r < 5)
        Row(off, "ddl", off, "graft", "t", null, null,
          "COMMENT ON TABLE t IS 'x'", payload.toDDL)
      else if (live.isEmpty || r < 25) {
        val k = nextKey; nextKey += 1
        live(k) = s"n$off"
        Row(off, "c", off, "graft", "t", null, img(k, s"n$off"), null, null)
      } else {
        val k = live.keys.drop(rnd.nextInt(live.size)).head
        val before = img(k, live(k))
        if (r < 45) {
          live.remove(k)
          Row(off, "d", off, "graft", "t", before, null, null, null)
        } else {
          live(k) = s"u$off"
          Row(off, "u", off, "graft", "t", before, img(k, s"u$off"), null,
            null)
        }
      }
    }
    val env = StructType(envelopeSchema(payload).fields ++ Seq(
      StructField(DdlCol, StringType), StructField(SchemaDdlCol, StringType)))
    FileCdcDatabase.write(spark, dir, "t", "graft", "id", snap,
      spark.createDataFrame(spark.sparkContext.parallelize(events), env),
      snapshotPartitions = 3, force = true)
    live.keySet.toSet
  }

  /** The naive full-scan merge of one partition: every snapshot line and
    * every log line of (0, high] decoded, one unfiltered overlay, and each
    * range's entries found by scanning them all. */
  private def naiveMerge(p: SnapshotChunkPartition): Seq[InternalRow] = {
    val dec = new EnvelopeDecoder(p.dialect, p.path, p.table, p.schemaDdl,
      p.chunkKey, p.parsePolicy, p.serverTimeZone, p.maskSpec)
    val m = mutable.LinkedHashMap[Long, OverlayEntry]()
    var trunc = 0L
    dec.logLinesInRange(0L, p.high).foreach { line =>
      dec.decodeEnvelopeSafe(line).foreach { env =>
        if (env.op == ExternalOp.Truncate) trunc = math.max(trunc, env.offset)
        else if (env.op != ExternalOp.SchemaChange)
          m(env.key) = OverlayEntry(env.chunkKeyVal,
            if (env.op == ExternalOp.Delete) None
            else Some((env.offset, env.after)))
      }
    }
    val ov = SnapshotOverlay(m, trunc)
    val snapshot = dec.dialect.snapshotLines(p.path, dec.meta, dec.chunkKey,
      None, None).map(dec.codec.decode).toVector
    p.ranges.flatMap { case (lo, hi) =>
      val byKey: ByKey = mutable.LinkedHashMap.empty
      if (trunc == 0L) snapshot.foreach { row =>
        val ck = CdcPlanner.toLongKey(row.get(dec.ckIdx, dec.ckType))
        if (inRange(lo, hi)(ck))
          byKey(CdcPlanner.toLongKey(row.get(dec.pkIdx, dec.pkType))) =
            (0L, row)
      }
      naiveApply(ov, byKey, lo, hi)
      byKey.valuesIterator.map { case (off, img) =>
        dec.emit(img, EnvelopeDecoder.Insert, off, 0L) }.toList
    }
  }

  test("snapshot reader: indexed merge emits the naive merge's rows, in order") {
    val plain = tmpDir("ovl-index"); writeTable(plain, truncate = false)
    val trunc = tmpDir("ovl-index-trunc"); writeTable(trunc, truncate = true)
    val ddl = tmpDir("ovl-index-ddl")
    writeTable(ddl, truncate = false, ddl = true)
    val generated = (0 until 4).map { k =>
      val s = seed * 17L + k
      val d = tmpDir(s"ovl-index-gen-$k")
      (s"generated seed $s", d, writeGenerated(d, s))
    }
    println(s"OverlayIndexSpec: generated log seeds ${generated.map(_._1).mkString(", ")}")
    val base = Map("table" -> "t", "scan.startup.mode" -> "initial",
      "scan.incremental.snapshot.chunk.size" -> "10")
    val none = CdcKeyBounds(None, None)
    val cases = Seq(
      ("grouped", plain, Map.empty[String, String], none),
      ("chunk-key override", plain,
        Map("scan.incremental.snapshot.chunk-key.column" -> "k2"), none),
      ("truncate", trunc, Map.empty[String, String], none),
      ("ddl", ddl, Map.empty[String, String], none),
      // pushed-down key bounds: only the overlapping chunks are planned
      ("filter pushdown", plain, Map.empty[String, String],
        CdcKeyBounds(Some(25L), Some(85L)))) ++
      generated.map { case (name, d, _) =>
        (name, d, Map.empty[String, String], none) }
    val liveAtEnd = generated.map { case (_, d, live) => d -> live }.toMap
    // how the chunks group: capped to 4 partitions of 3 ranges each, the
    // default (one partition per slot of the local[4] session), and P = 1
    // (every chunk in one partition)
    val sizings = Seq(
      ("cap 4", Map("scan.snapshot.max-partitions" -> "4"),
        Seq.empty[(String, String)]),
      ("default", Map.empty[String, String], Seq.empty[(String, String)]),
      ("P=1", Map.empty[String, String],
        Seq("spark.sql.leafNodeDefaultParallelism" -> "1")))
    val origCap = SnapshotOverlayCache.MaxEntries
    try {
      for ((name, dir, opts, bounds) <- cases;
           (sizing, sizeOpts, confs) <- sizings; cap <- Seq(origCap, 1)) {
        val label = s"$name $sizing cap=$cap"
        // cap 1: every partition takes the full-scan prefiltered build
        SnapshotOverlayCache.MaxEntries = cap
        SnapshotOverlayCache.clear()
        val cfg = CdcSourceConfig.fromOptions(new CaseInsensitiveStringMap(
          (base ++ opts ++ sizeOpts + ("path" -> dir)).asJava))
        val parts = withConf(confs: _*) {
          CdcPlanner.snapshotPartitions(cfg, "t", cfg.maxOffsetAll, "", bounds)
            .collect { case p: SnapshotChunkPartition => p }
        }
        assert(parts.exists(_.ranges.size > 1), label)
        if (sizing == "P=1") assert(parts.size === 1, label)
        // the partitions tile the planned chunks, in order
        assert(parts.flatMap(_.ranges) === CdcPlanner.chunks(cfg, "t")
          .filter(c => bounds.overlaps(c.lo, c.hi)).map(c => (c.lo, c.hi)),
          label)
        val ids = mutable.ArrayBuffer.empty[Long]
        parts.foreach { p =>
          val r = new SnapshotChunkReader(p)
          val got = mutable.ArrayBuffer.empty[InternalRow]
          try while (r.next()) got += r.get()
          finally r.close()
          // each partition's rows are its chunks' naive merges, concatenated
          assert(got.toSeq === naiveMerge(p), s"$label partition ${p.chunkId}")
          ids ++= got.map(_.getLong(0))
        }
        assert(ids.size === ids.distinct.size, label)
        if (bounds != none) {
          // every surviving id inside the bounds, and not the whole table
          val deleted = (3L to 120L by 11L).toSet
          assert((25L until 85L).filterNot(deleted).toSet.subsetOf(ids.toSet),
            label)
          assert(ids.size < 120 - 11 + 10 + 6, label)
        } else if (dir == trunc) assert(ids.size === 6, label)
        else if (liveAtEnd.contains(dir))
          assert(ids.toSet === liveAtEnd(dir), label)
        else assert(ids.size === 120 - 11 + 10 + 6, label)
      }
    } finally {
      SnapshotOverlayCache.MaxEntries = origCap
      SnapshotOverlayCache.clear()
    }
  }
}
