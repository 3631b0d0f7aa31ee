package graft.cdc

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{DecimalType, StringType, StructType}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}

/**
 * Streaming changelog materialization — the stateful half of the engine's
 * cdc-sql layer (SURVEY §7.1): Flink keeps retract-aggregate state inside
 * its operators; Spark's analogue is an explicit keyed state operator.
 *
 * [[upserts]] turns a *streaming* emitted changelog (`__op` rows) into a
 * per-key upsert stream via `flatMapGroupsWithState` (Update mode): state =
 * newest (offset, image) per key; each batch emits the key's new current
 * image, or a delete marker. [[UpsertSink.mergeInto]] is the `foreachBatch`
 * MERGE helper that keeps a parquet "table" equal to the materialized state.
 *
 * State is O(keys) with one row image each — the same asymptotics as the
 * host-engine aggregate state the reference relies on; at 100 TB key
 * cardinality this state shards across executors by the groupBy key and
 * lives in the state store (RocksDB in production configs).
 *
 * The payload travels JSON-encoded through the state machinery so the
 * operator works for any schema (a typed `Dataset[T]` variant is a
 * specialization, not a different code path).
 */
object StreamMaterialize {

  import ChangeRecord._

  /** (key, offset, op, image-json). Public: Catalyst's generated
    * (de)serializers must reach the class. */
  case class Ev(k: String, off: Long, op: String, img: String)
  /** Upsert output: op ∈ {+U, -D} applied at `off`; img null on delete. */
  case class Upsert(k: String, off: Long, op: String, img: String)
  case class KeyState(off: Long, op: String, img: String)

  /** Streaming changelog → per-key upsert stream (Update output mode). */
  def upserts(emitted: DataFrame, keyCols: Seq[String]): DataFrame = {
    val spark = emitted.sparkSession
    import spark.implicits._
    val payload = emitted.schema.fieldNames.filterNot(MetaCols.contains).toSeq
    val evs = emitted
      .filter(col(OpCol) =!= RowKind.UpdateBefore)
      .select(
        // unambiguous composite key: concat_ws would collide ("a b","c") with
        // ("a","b c") and silently drops NULL components — JSON does neither
        to_json(struct(keyCols.map(col): _*)).as("k"),
        col(OffsetCol).as("off"),
        col(OpCol).as("op"),
        to_json(struct(payload.map(col): _*)).as("img"))
      .as[Ev]

    evs.groupByKey(_.k)
      .flatMapGroupsWithState[KeyState, Upsert](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[Ev], state: GroupState[KeyState]) =>
          val newest = rows.maxBy(_.off)
          val cur = state.getOption
          if (cur.exists(_.off >= newest.off)) Iterator.empty
          else {
            val op =
              if (newest.op == RowKind.Delete) RowKind.Delete
              else RowKind.UpdateAfter
            val img = if (op == RowKind.Delete) null else newest.img
            state.update(KeyState(newest.off, op, img))
            Iterator.single(Upsert(key, newest.off, op, img))
          }
      }
      .toDF()
  }

  /** The changelog sign of a row kind, shared by the versioned operators:
    * `+I`/`+U` add (+1), `-U`/`-D` retract (−1). The operators require a
    * retract stream (`changelog.mode=all`); anything but the four row
    * kinds — a raw external op code, say — throws, naming `operator`. An
    * upsert stream (a lone `+U`, no `-U`) carries only valid kinds, so it
    * is NOT detected: its updates add without retracting the old image. */
  private def sign(op: String, operator: String): Int = op match {
    case RowKind.Insert | RowKind.UpdateAfter => 1
    case RowKind.UpdateBefore | RowKind.Delete => -1
    case other => throw new IllegalArgumentException(
      s"$operator requires a retract (changelog.mode=all) stream with ops " +
        s"+I/+U/-U/-D, got '$other'; an upsert stream is not detected")
  }

  /** The keyed-state skeleton of the versioned operators. Each micro-batch
    * folds a group's rows into its state (`zero` for a new group) with
    * `step`, which gets the group's next version (`ver` of the state + 1)
    * and returns the new state and the one row to emit. So the output holds
    * one row per touched group per batch, and the row with the newest
    * `ver` of a group is its current value ([[latest]]). With `NoTimeout`
    * and no initial state Spark calls the function only for groups that
    * have rows in the batch. */
  private def versioned[E, S: Encoder, O: Encoder](evs: Dataset[E])(
      key: E => String, zero: S)(ver: S => Long)(
      step: (String, S, Iterator[E], Long) => (S, O)): DataFrame =
    evs.groupByKey(key)(Encoders.STRING)
      .flatMapGroupsWithState[S, O](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (g: String, rows: Iterator[E], state: GroupState[S]) =>
          val st = state.getOption.getOrElse(zero)
          val (next, out) = step(g, st, rows, ver(st) + 1)
          state.update(next)
          Iterator.single(out)
      }
      .toDF()

  /** The current value per group of a versioned operator's drained
    * output: `g` ++ `cols` of the group's row with the newest `ver`. */
  private[graft] def latest(versions: DataFrame, cols: String*): DataFrame =
    versions.groupBy(col("g"))
      .agg(max_by(struct(cols.map(col): _*), col("ver")).as("v"))
      .select(col("g") +: cols.map(c => col(s"v.$c").as(c)): _*)

  /** (group, op, measure) event for the retract aggregate. */
  case class AggEv(g: String, op: String, m: java.math.BigDecimal)
  case class AggState(cnt: Long, total: java.math.BigDecimal, ver: Long)
  case class AggOut(g: String, cnt: Long, total: java.math.BigDecimal,
      ver: Long)

  private val Zero = new java.math.BigDecimal("0.00")

  /** (g, op, DECIMAL(18,2) measure) events of a retract operator. */
  private def aggEvents(emitted: DataFrame, groupCol: String,
      measureCol: String): Dataset[AggEv] = {
    val spark = emitted.sparkSession
    import spark.implicits._
    emitted.select(
        col(groupCol).cast(StringType).as("g"),
        col(OpCol).as("op"),
        col(measureCol).cast(DecimalType(18, 2)).as("m"))
      .as[AggEv]
  }

  /** Streaming changelog → incrementally maintained per-group COUNT/SUM
    * with retractions — the Flink retract-aggregate re-expressed as keyed
    * state: `+I`/`+U` add the row's measure, `-U`/`-D` subtract it, so an
    * update nets (new − old) and a delete removes its row without ever
    * rescanning history. State per group is three scalars; each batch
    * emits the group's new running totals with a monotone version, so the
    * newest version per group IS the current aggregate (Update output
    * mode). Measures ride exact DECIMAL(18,2) — additions commute, the
    * result is independent of event partitioning and batch slicing. The
    * input must be a retract stream (see [[sign]]). */
  def retractAgg(emitted: DataFrame, groupCol: String,
      measureCol: String): DataFrame = {
    val spark = emitted.sparkSession
    import spark.implicits._
    versioned(aggEvents(emitted, groupCol, measureCol))(
        _.g, AggState(0L, Zero, 0L))(_.ver) { (g, st, rows, ver) =>
      var cnt = st.cnt
      var tot = st.total
      rows.foreach { e =>
        val m = if (e.m == null) Zero else e.m
        if (sign(e.op, "retractAgg") > 0) { cnt += 1; tot = tot.add(m) }
        else { cnt -= 1; tot = tot.subtract(m) }
      }
      (AggState(cnt, tot, ver), AggOut(g, cnt, tot, ver))
    }
  }

  /** The multiset step of [[retractMinMax]] and [[retractQuantile]]: each
    * row moves the net count of its measure's `valueKey` by the row's
    * sign, dropping a count that reaches zero; NULL measures are skipped. */
  private def netCounts[K](counts: Map[K, Long], rows: Iterator[AggEv],
      operator: String)(valueKey: java.math.BigDecimal => K): Map[K, Long] =
    rows.foldLeft(counts) { (acc, e) =>
      val d = sign(e.op, operator)
      if (e.m == null) acc
      else {
        val k = valueKey(e.m)
        val c = acc.getOrElse(k, 0L) + d
        if (c == 0L) acc.removed(k) else acc.updated(k, c)
      }
    }

  case class MmState(counts: Map[String, Long], ver: Long)
  case class MmOut(g: String, n: Long, min_m: java.math.BigDecimal,
      max_m: java.math.BigDecimal, ver: Long)

  /** Streaming changelog → incrementally maintained per-group MIN/MAX with
    * retractions. COUNT/SUM retract with two scalars ([[retractAgg]]), but
    * MIN/MAX cannot: deleting the current minimum needs the runner-up, so
    * (as in Flink's retractable min/max accumulators) state keeps the live
    * VALUE MULTISET per group — a value→net-count map, O(distinct measure
    * values per group), sharded across executors by the group key. `+I/+U`
    * increment a value's count, `-U/-D` decrement; counts may go NEGATIVE
    * (a stream consumed from mid-log retracts values whose insert predates
    * the start offset — delta semantics, exactly like [[retractAgg]]'s
    * count), and extremes are computed over the net-POSITIVE values only,
    * so on a complete (startup=initial) stream they are the table's true
    * MIN/MAX while on a partial stream they are the extremes of the net
    * additions. NULL measures are ignored, mirroring SQL MIN/MAX. Each
    * batch emits the group's new extremes with a monotone version. Map keys
    * are the DECIMAL(18,2) plain strings (scale-fixed, so string identity
    * == numeric identity); extremes compare numerically. */
  def retractMinMax(emitted: DataFrame, groupCol: String,
      measureCol: String): DataFrame = {
    val spark = emitted.sparkSession
    import spark.implicits._
    versioned(aggEvents(emitted, groupCol, measureCol))(
        _.g, MmState(Map.empty, 0L))(_.ver) { (g, st, rows, ver) =>
      val counts = netCounts(st.counts, rows, "retractMinMax")(_.toPlainString)
      val live = counts.collect { case (k, c) if c > 0L =>
        new java.math.BigDecimal(k)
      }.toSeq
      def ext(cmp: Int): java.math.BigDecimal =
        if (live.isEmpty) null
        else live.reduce((a, b) => if (a.compareTo(b) * cmp <= 0) a else b)
      (MmState(counts, ver),
        MmOut(g, counts.valuesIterator.sum, ext(1), ext(-1), ver))
    }
  }

  case class QbState(counts: Map[Long, Long], ver: Long)
  case class QbOut(g: String, n_net: Long, p50_est: java.lang.Double,
      p95_est: java.lang.Double, p99_est: java.lang.Double, ver: Long)

  /** Streaming changelog → incrementally maintained RETRACTABLE quantile
    * estimates per group, over an equi-width histogram of the measure in
    * cents (`binWidthCents` per bin). Unlike KMV ([[kmvSketch]]),
    * histogram counts retract exactly: `+I/+U` increment a bin, `-U/-D`
    * decrement, and (as with [[retractMinMax]]) counts may go negative on
    * a mid-log start — quantiles are computed over the net-POSITIVE bins
    * only. Estimate q = lower cent bound of the first bin whose
    * cumulative net count reaches rank ⌈n·q⌉, all in integer arithmetic;
    * state is O(live bins) per group. This is the streaming twin of the
    * batch `sketch_quantile_bins` histogram (same merge-by-adding-counts
    * algebra, plus retraction). */
  def retractQuantile(emitted: DataFrame, groupCol: String,
      measureCol: String, binWidthCents: Long): DataFrame = {
    val spark = emitted.sparkSession
    import spark.implicits._
    versioned(aggEvents(emitted, groupCol, measureCol))(
        _.g, QbState(Map.empty, 0L))(_.ver) { (g, st, rows, ver) =>
      val counts = netCounts(st.counts, rows, "retractQuantile") { m =>
        Math.floorDiv(m.movePointRight(2).longValueExact(), binWidthCents)
      }
      val pos = counts.toSeq.filter(_._2 > 0L).sortBy(_._1)
      val npos = pos.iterator.map(_._2).sum
      def est(p: Long): java.lang.Double =
        if (npos == 0L) null
        else {
          val rank = (npos * p + 99L) / 100L
          var cum = 0L
          val hit = pos.find { case (_, c) => cum += c; cum >= rank }
          hit.map { case (bin, _) =>
            Double.box(bin * binWidthCents / 100.0d)
          }.orNull
        }
      (QbState(counts, ver),
        QbOut(g, npos, est(50L), est(95L), est(99L), ver))
    }
  }

  case class KmvEv(g: String, op: String, h: Long)
  case class KmvState(mins: Seq[Long], ver: Long)
  case class KmvOut(g: String, kth: java.lang.Long, ver: Long)

  /** Streaming changelog → incrementally maintained KMV distinct-count
    * sketch per group: state is the k smallest 60-bit hashes of the key
    * column seen so far (`+I/+U` only — KMV, like every sketch in the
    * theta/HLL family, is insert-only: retracting a minimum would need the
    * evicted runner-ups, i.e. the full value set the sketch exists to
    * avoid). K-minima sets merge exactly (keep the k smallest of the
    * union), so the maintained sketch equals the batch sketch over the
    * same inserts regardless of micro-batch boundaries — which is what the
    * oracle asserts. State is O(k) per group; each batch emits the current
    * k-th minimum (null until k distinct hashes arrive) with a monotone
    * version. */
  def kmvSketch(emitted: DataFrame, groupCol: String, keyCol: String,
      k: Int): DataFrame = {
    val spark = emitted.sparkSession
    import spark.implicits._
    val evs = emitted.select(
        col(groupCol).cast(StringType).as("g"),
        col(OpCol).as("op"),
        graft.functions.TextFunctions.md5Long(
          col(keyCol).cast(StringType)).as("h"))
      .as[KmvEv]
    versioned(evs)(_.g, KmvState(Seq.empty, 0L))(_.ver) {
      (g, st, rows, ver) =>
        // insert-only: retractions are checked, then skipped
        val fresh = rows.filter(e => sign(e.op, "kmvSketch") > 0).map(_.h)
        val mins = (st.mins ++ fresh).distinct.sorted.take(k)
        val kth: java.lang.Long =
          if (mins.size >= k) Long.box(mins(k - 1)) else null
        (KmvState(mins, ver), KmvOut(g, kth, ver))
    }
  }

  /** Decode an upsert stream's image JSON back into payload columns
    * (delete markers drop out — they carry no image). */
  def decodeUpserts(ups: DataFrame, payload: StructType): DataFrame =
    ups.filter(col("op") =!= RowKind.Delete)
      .select(col("off").as(OffsetCol), from_json(col("img"), payload).as("p"))
      .select(col(OffsetCol) +:
        payload.fieldNames.toSeq.map(f => col(s"p.$f").as(f)): _*)
}

/**
 * `foreachBatch` upsert sink: maintains a parquet "table" equal to the
 * materialized state of the changelog consumed so far. The stored state
 * keeps each key's `__offset`, so the merge is a keyed newest-wins
 * reduction and replayed micro-batches are idempotent — the exactly-once
 * story for non-transactional sinks (the reference's e2e tests assert sink
 * contents the same way, MySqlE2eITCase.java:89-133).
 *
 * Scale: state is hash-bucketed into `path/bkt=<hash(pk) % N>` directories
 * and a batch rewrites ONLY the buckets its keys touch — per-trigger I/O is
 * O(touched state), not O(total state), and the bucket count is the knob
 * that bounds rewrite amplification at large key cardinality (a production
 * deployment would swap this directory protocol for a transactional table
 * format's MERGE, which has the same partition-level replace shape).
 *
 * Crash safety: the merged buckets are written to a dot-prefixed staging
 * directory (invisible to parquet readers), then committed per bucket as
 * move-live-aside → move-staged-in → drop-aside. A crash at any point
 * leaves either the old or the new bucket recoverable: [[recover]] runs at
 * the start of every merge and restores an orphaned aside (crash between
 * the two moves) or drops it (crash after the second move); checkpoint
 * replay of the interrupted batch then converges every bucket, because the
 * merge is an idempotent newest-wins reduction.
 */
object UpsertSink {

  import ChangeRecord._

  /** Bucket partition column / directory prefix (`bkt=<i>`). Deliberately
    * not `__`-prefixed: Spark's file index skips `_`/`.`-prefixed paths, so
    * an underscore name would hide the state from `spark.read.parquet`. */
  private val BucketCol = "bkt"
  private def asidePrefix = ".old-bkt-"

  /** Merge one micro-batch of emitted changelog rows into `path`.
    * Stored layout: `path/bkt=<i>/part-*.parquet` with schema
    * payload columns ++ `__offset` (+ the `bkt` partition column when read
    * through the root). */
  def mergeInto(spark: SparkSession, batch: DataFrame, keyCols: Seq[String],
      path: String, numBuckets: Int = 32): Unit = {
    require(numBuckets > 0, s"numBuckets must be positive: $numBuckets")
    val payload = batch.schema.fieldNames.filterNot(MetaCols.contains).toSeq
    require(!payload.contains(BucketCol) && !keyCols.contains(BucketCol),
      s"payload must not use the reserved bucket column name '$BucketCol'")
    val root = new java.io.File(path)
    root.mkdirs()
    recover(root)
    // the bucket count is a property of the stored state, not of the call:
    // a later merge with a different numBuckets would re-hash incoming keys
    // into buckets the stored rows never land in (stranded/resurrected
    // keys). First write pins the count; later merges reuse the pinned one.
    val buckets = pinnedBuckets(root, numBuckets)
    val bucketOf = pmod(hash(keyCols.map(col): _*), lit(buckets))
    // deliberately NOT persisted: the touched-bucket stat below and the
    // staged write are two actions over the same batch, but the stat's
    // plan prunes to the key columns only (the bucket is a pure function
    // of the keys), so the "duplicate" execution is a narrow Δ-sized scan.
    // A persist() here was measured in r13 and reverted: it materializes
    // the FULL payload to the block store just to save that pruned scan
    // (cdc_upsert_sink_merge 1.56→1.71 s, cdc_stream_dedup_clusters
    // 5.03→5.90 s warm-min at sf0.1).
    val incoming = batch
      .select((payload.map(col) :+ col(OpCol) :+ col(OffsetCol)): _*)
      .withColumn(BucketCol, bucketOf)
    // ≤ numBuckets values — a driver-side planning stat, same pattern as
    // Spark's own JDBC columnPartition
    val touched = incoming.select(col(BucketCol)).distinct()
      .collect().map(_.getInt(0)).sorted
    if (touched.isEmpty) return
    val liveDirs = touched.map(bucketDir(root, _)).filter(_.isDirectory)
    val existing =
      if (liveDirs.isEmpty) None
      else Some(spark.read.parquet(liveDirs.map(_.getPath): _*)
        .withColumn(OpCol, lit(RowKind.Insert))
        .select((payload.map(col) :+ col(OpCol) :+ col(OffsetCol)): _*)
        // recomputed, not stored: bkt is a pure function of the key
        .withColumn(BucketCol, bucketOf))
    val combined = existing.map(_.unionByName(incoming)).getOrElse(incoming)
    // newest image per key; deletes drop the key
    val merged = Materialize
      .newest(combined, keyCols :+ BucketCol, OffsetCol +: payload)
      .filter(col(s"__v.$OpCol") =!= RowKind.Delete)
      .select(col(BucketCol) +:
        (payload :+ OffsetCol).map(c => col(s"__v.$c").as(c)): _*)
    val staging = new java.io.File(root, ".staging")
    deleteRecursively(staging)
    merged.repartition(touched.length, col(BucketCol))
      .write.mode("overwrite").partitionBy(BucketCol).parquet(staging.getPath)
    touched.foreach { b =>
      val live = bucketDir(root, b)
      val aside = new java.io.File(root, s"$asidePrefix$b")
      val staged = new java.io.File(staging, s"$BucketCol=$b")
      if (live.isDirectory)
        java.nio.file.Files.move(live.toPath, aside.toPath)
      // a bucket whose keys were all deleted has no staged dir — it simply
      // stays absent
      if (staged.isDirectory)
        java.nio.file.Files.move(staged.toPath, live.toPath)
      deleteRecursively(aside)
    }
    deleteRecursively(staging)
    // all state deleted: leave a schema-only bucket so the root stays
    // readable (rare; only when every key in the table is gone)
    if (listBuckets(root).isEmpty)
      merged.drop(BucketCol).limit(0).coalesce(1)
        .write.parquet(bucketDir(root, touched.head).getPath)
  }

  /** Read the materialized state (payload ++ `__offset`), dropping the
    * bucket partition column. */
  def readState(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).drop(BucketCol)

  /** Re-bucket the stored state to `newBuckets` — the maintenance pass for
    * a table whose key cardinality outgrew its pinned bucket count (too
    * few buckets = every merge rewrites megarows; a fresh pin can't fix a
    * LIVE table because stored rows would sit in buckets incoming keys
    * never hash to). Builds the complete new layout (buckets + pin +
    * readiness marker) in a sibling staging dir, then swaps whole
    * directories: root → aside, staged → root, drop aside. A crash at any
    * point is repaired by [[recover]], which every merge runs first:
    * missing root + READY staging → finish the swap; root present →
    * discard leftovers. Readers never see a half-bucketed root. */
  def rebucket(spark: SparkSession, path: String, keyCols: Seq[String],
      newBuckets: Int): Unit = {
    require(newBuckets > 0, s"newBuckets must be positive: $newBuckets")
    val root = new java.io.File(path)
    require(root.isDirectory, s"no upsert-sink state at $path")
    recover(root)
    val staging = new java.io.File(path + RebucketStagingSuffix)
    val aside = new java.io.File(path + RebucketAsideSuffix)
    deleteRecursively(staging); deleteRecursively(aside)
    val bucketOf = pmod(hash(keyCols.map(col): _*), lit(newBuckets))
    readState(spark, path)
      .withColumn(BucketCol, bucketOf)
      .repartition(newBuckets, col(BucketCol))
      .write.partitionBy(BucketCol).parquet(staging.getPath)
    java.nio.file.Files.write(
      new java.io.File(staging, "_graft_buckets").toPath,
      newBuckets.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // readiness marker LAST: recovery only ever installs a complete stage
    java.nio.file.Files.write(
      new java.io.File(staging, RebucketReady).toPath, Array.empty[Byte])
    java.nio.file.Files.move(root.toPath, aside.toPath)
    java.nio.file.Files.move(staging.toPath, root.toPath)
    deleteRecursively(aside)
    new java.io.File(root, RebucketReady).delete()
  }

  private val RebucketStagingSuffix = ".rebucket-staging"
  private val RebucketAsideSuffix = ".rebucket-aside"
  private val RebucketReady = "_REBUCKET_READY"

  /** Crash repair for an interrupted [[rebucket]]: the swap is two renames,
    * so either the old root or a READY staging dir exists at every instant.
    * Root present → any leftovers are pre-swap (discard both). Root absent
    * with a READY staging → the crash hit between the renames: finish the
    * swap. (An aside dir with no root and no READY staging cannot occur —
    * the staging is completed, marker included, before the first rename.) */
  private def recoverRebucket(root: java.io.File): Unit = {
    val staging = new java.io.File(root.getPath + RebucketStagingSuffix)
    val aside = new java.io.File(root.getPath + RebucketAsideSuffix)
    if (root.isDirectory && listBuckets(root).nonEmpty) {
      deleteRecursively(staging); deleteRecursively(aside)
      // a crash between the staging->root rename and the final cleanup
      // leaves the READY marker inside the live root; parquet readers
      // ignore underscore files, but a stale readiness flag must not
      // linger in live state
      new java.io.File(root, RebucketReady).delete()
    } else if (new java.io.File(staging, RebucketReady).isFile) {
      deleteRecursively(root)
      java.nio.file.Files.move(staging.toPath, root.toPath)
      deleteRecursively(aside)
      new java.io.File(root, RebucketReady).delete()
    }
  }

  private def bucketDir(root: java.io.File, b: Int) =
    new java.io.File(root, s"$BucketCol=$b")

  /** Pin the bucket count on first write (`_graft_buckets` — the leading
    * underscore hides it from Spark's file index) and reuse the pinned
    * value on every later merge, ignoring the caller's argument. */
  private def pinnedBuckets(root: java.io.File, requested: Int): Int = {
    val f = new java.io.File(root, "_graft_buckets")
    if (f.isFile) {
      val pinned = new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8).trim.toInt
      require(pinned > 0, s"corrupt bucket pin in $f: $pinned")
      pinned
    } else {
      // temp + atomic move: a crash mid-write must not leave a partial pin
      // that breaks every later merge (same discipline as the staged
      // bucket commits)
      val tmp = new java.io.File(root, "._graft_buckets.tmp")
      java.nio.file.Files.write(tmp.toPath, requested.toString.getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      java.nio.file.Files.move(tmp.toPath, f.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      requested
    }
  }

  private def listBuckets(root: java.io.File): Seq[java.io.File] = {
    val fs = root.listFiles()
    if (fs == null) Seq.empty
    else fs.toSeq.filter(f => f.isDirectory && f.getName.startsWith(s"$BucketCol="))
  }

  /** Repair after a crash mid-commit: an aside dir with no live bucket means
    * the crash hit between the two moves — restore it; with a live bucket,
    * after the second move — drop it. Stale staging is always discarded
    * (the replayed batch rewrites it). */
  private def recover(root: java.io.File): Unit = {
    recoverRebucket(root)
    val fs = root.listFiles()
    if (fs == null) return
    fs.filter(f => f.isDirectory && f.getName.startsWith(asidePrefix))
      .foreach { aside =>
        val b = aside.getName.stripPrefix(asidePrefix)
        val live = new java.io.File(root, s"$BucketCol=$b")
        if (live.isDirectory) deleteRecursively(aside)
        else java.nio.file.Files.move(aside.toPath, live.toPath)
      }
    deleteRecursively(new java.io.File(root, ".staging"))
  }

  private def deleteRecursively(f: java.io.File): Unit =
    graft.QueryUtil.deleteRecursively(f) // one shared definition
}
