package graft.queries

import graft.Tables
import graft.functions.TextFunctions._
import graft.operators.Pairs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The MEASURED leg of the suite's cap licenses. DETERMINISM.md records
 * honestly that every fan-in cap (the df-capped truth index, winnow's
 * fingerprint cap, the ngram df cap, the salted skew join, the streaming
 * [[DedupQueries.StreamBucketCap]]) binds NOTHING at sf0.01/sf0.1 — pure
 * corpus-scale insurance argued by design. Each probe here builds one
 * cap-carrying family's pipeline on a ×k EXACT-COPY inflated corpus
 * (every key's frequency scales exactly ×k, so the caps measurably
 * fire), executes it, and returns counters proving:
 *
 *   (a) the cap FIRED (`capped_keys` / `hot_buckets` > 0 at ×16);
 *   (b) post-cap per-key fan-in stayed bounded (`kept_max_df` ≤ cap);
 *   (c) with `graft.ScaleCheck` timing each probe across factors,
 *       wall-time grows sub-quadratically in k while the EXCLUDED
 *       quadratic mass (`sq_mass` over capped keys) explodes.
 *
 * Probes reuse the registry queries' own devices
 * ([[DedupQueries.cappedShingleIndex]], [[DedupQueries.bucketStep]],
 * the winnow/ngram/salt shapes) so the measurement is of the shipped
 * code paths, not a reimplementation. Results → BASELINE.md §4.
 */
object InflationProbes {

  /** ×k exact-copy inflation, id stride 10⁸ — THE definition of the
    * [[DedupQueries.InflateK]] convention: `dedup_inflated_df_cap`'s
    * Spark side calls this, its oracle re-encodes it in SQL (the usual
    * cross-engine mirror), and every probe below inflates with it. */
  private[graft] def inflate(d: DataFrame, k: Int, idCol: String)
      : DataFrame = {
    val rest = d.columns.filterNot(_ == idCol).map(col).toSeq
    d.select(col(idCol) +: rest :+
        explode(sequence(lit(0L), lit(k - 1L))).as("__i"): _*)
      .select((col(idCol) + col("__i") * 100000000L).as(idCol) +: rest: _*)
  }

  private def docs(s: SparkSession, dir: String, k: Int): DataFrame =
    inflate(Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("text")),
      k, "doc_id")

  /** df-capped TRUTH index (TruthDfCap=64) — `dedup_lsh_recall` /
    * `dedup_scurve_validation`'s exact-Jaccard side. */
  private def lshTruth(s: SparkSession, dir: String, k: Int)
      : Map[String, Long] = {
    val shEx = docs(s, dir, k).select(col("doc_id"),
      explode(shingleHashes(col("text"), 3)).as("h"))
    val dfreq = shEx.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .agg(max(col("df")).as("mx"), count(lit(1)).as("nk"),
        sum(when(col("df") > DedupQueries.TruthDfCap, 1L).otherwise(0L))
          .as("capped"),
        sum(when(col("df") > DedupQueries.TruthDfCap,
          col("df") * col("df")).otherwise(0L)).as("excluded_sq"))
      .collect()(0)
    val kept = DedupQueries.cappedShingleIndex(shEx,
      DedupQueries.TruthDfCap)
    val pairs = Pairs.withinKey(kept, Seq("h"), "doc_id")
      .groupBy(col("a.doc_id"), col("b.doc_id")).agg(count(lit(1)))
      .count()
    Map("n_keys" -> dfreq.getLong(1), "max_df" -> dfreq.getLong(0),
      "capped_keys" -> dfreq.getLong(2),
      "excluded_sq_mass" -> dfreq.getLong(3), "n_pairs" -> pairs)
  }

  /** Winnowing fingerprint index, fp-df cap [[DedupQueries.WinnowFpCap]]
    * — `dedup_winnow_pairs` (extraction shared via
    * [[DedupQueries.winnowFpsOf]]; `dedup_inflated_winnow_cap` is this
    * family's oracle-checked df census). */
  private def winnow(s: SparkSession, dir: String, k: Int)
      : Map[String, Long] = {
    val cap = DedupQueries.WinnowFpCap
    val fps = DedupQueries.winnowFpsOf(docs(s, dir, k))
    val dfreq = fps.groupBy(col("fp")).agg(count(lit(1)).as("dfc"))
    val stats = dfreq.agg(max(col("dfc")).as("mx"),
        sum(when(col("dfc") > cap, 1L).otherwise(0L)).as("capped"))
      .collect()(0)
    val b = fps.join(dfreq.filter(col("dfc") <= cap).select(col("fp")), "fp")
    val pairs = Pairs.withinKey(b, Seq("fp"), "doc_id")
      .groupBy(col("a.doc_id"), col("b.doc_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2).count()
    Map("max_df" -> stats.getLong(0), "capped_keys" -> stats.getLong(1),
      "n_pairs" -> pairs)
  }

  /** df-capped n-gram Jaccard (cap 100 per (lang, source, shingle)) —
    * `dedup_ngram_jaccard_capped`. */
  private def ngramCapped(s: SparkSession, dir: String, k: Int)
      : Map[String, Long] = {
    val cap = 100
    val tok = docs(s, dir, k).select(col("doc_id"), col("lang"),
      col("source"), explode(shingleHashes(col("text"), 4)).as("h"))
    val dfreq = tok.groupBy(col("lang"), col("source"), col("h"))
      .agg(count(lit(1)).as("df"))
    val stats = dfreq.agg(max(col("df")).as("mx"),
        sum(when(col("df") > cap, 1L).otherwise(0L)).as("capped"))
      .collect()(0)
    val kept = tok.join(dfreq.filter(col("df") <= cap),
      Seq("lang", "source", "h"))
    val pairs = Pairs.withinKey(kept, Seq("lang", "source", "h"), "doc_id")
      .groupBy(col("a.doc_id"), col("b.doc_id")).agg(count(lit(1)))
      .count()
    Map("max_df" -> stats.getLong(0), "capped_keys" -> stats.getLong(1),
      "n_pairs" -> pairs)
  }

  /** Salted skew join (8 salts) — `q_salted_skew_join`'s shape with the
    * FACT side inflated ×k on unchanged join keys, so every orderkey's
    * fan-in amplifies ×k and the salt split is what keeps any single
    * reducer key bounded. */
  private def saltedSkew(s: SparkSession, dir: String, k: Int)
      : Map[String, Long] = {
    val salts = 8
    // deterministic row id: (l_orderkey, l_linenumber) is lineitem's
    // natural PK (linenumber ≤ 7), so orderkey·8+linenumber is unique and
    // stays below inflate's 10⁸ stride at every test SF — unlike
    // monotonically_increasing_id, the salt assignment is then a pure
    // function of the ROW, not of the scan's partition layout, so the
    // BASELINE §4 fan-in numbers reproduce run-to-run
    // loud contract (not just a comment): uniqueness of the inflated id
    // needs the base rid under inflate's 10⁸ stride — true through sf1
    // (orderkey ≤ 6M); a bigger SF fails here instead of silently
    // colliding copies onto one rid/salt
    // rid uniqueness needs BOTH bounds: the stride (orderkey·8+linenumber
    // < 10⁸, true through sf1) AND 0 ≤ linenumber < 8 — without the
    // latter, a non-TPC-H-conforming linenumber ≥ 8 would silently
    // collide rids ACROSS orderkeys while the stride check still passes
    val ridGuard = coalesce(assert_true(
      col("l_orderkey") * 8L + col("l_linenumber") < 100000000L
        && col("l_linenumber") >= 0L && col("l_linenumber") < 8L,
      lit("saltedSkew: __rid uniqueness broken — orderkey*8+linenumber " +
        "must stay under inflate's 10^8 stride AND linenumber must be " +
        "in [0,8); widen the stride or rekey")).cast("long"),
      lit(0L))
    val li = inflate(Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"),
          (col("l_orderkey") * 8L + col("l_linenumber") + ridGuard)
            .as("__rid")),
        k, "__rid")
      .withColumn("salt", pmod(hash(col("__rid")), lit(salts)))
    val fan = li.groupBy(col("l_orderkey")).agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).collect()(0).getLong(0)
    val fanSalted = li.groupBy(col("l_orderkey"), col("salt"))
      .agg(count(lit(1)).as("n")).agg(max(col("n")))
      .collect()(0).getLong(0)
    val ord = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"))
      .withColumn("salt", explode(array((0 until salts).map(lit(_)): _*)))
    val out = li.join(ord, col("l_orderkey") === col("o_orderkey")
        && li("salt") === ord("salt"))
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n_items"))
      .count()
    Map("max_key_fanin" -> fan, "max_salted_fanin" -> fanSalted,
      "n_groups" -> out)
  }

  /** Streaming LSH ingest through [[DedupQueries.bucketStep]] with a
    * BINDING bucket cap (32 — the sf0.01 corpus' hottest bucket reaches
    * 48 arrivals at ×16, so saturation genuinely triggers) — the
    * [[DedupQueries.StreamBucketCap]] semantics where the data makes
    * them fire: exact copies multiply every band bucket's insert stream
    * ×k. */
  private def streamIngest(s: SparkSession, dir: String, k: Int)
      : Map[String, Long] = {
    import graft.cdc.ChangeRecord._
    import s.implicits._
    val cap = 32L
    val base = inflate(Tables.load(s, dir, "documents"), k, "doc_id")
    val sf = new java.io.File(dir).getName
    val replay = graft.Artifacts.dir("scalecheck_replay", s"${sf}_x$k")
    def img = struct(base.schema.fieldNames.toSeq.map(col): _*)
    val ins = base.select((lit(1L) + col("doc_id")).as(OffsetCol),
      lit(ExternalOp.Create).as(OpCol), (lit(1L) + col("doc_id")).as(TsCol),
      lit("graft").as(DbCol), lit("documents").as(TableCol),
      lit(null).cast(base.schema).as(BeforeCol), img.as(AfterCol))
    graft.cdc.FileCdcDatabase.write(s, replay, "documents", "graft",
      "doc_id", snapshot = base.limit(0), changes = ins)
    val n = base.count()
    val name = s"scale_ingest_${k}_${System.nanoTime()}"
    try graft.QueryUtil.withShufflePartitions(s, 4) {
      import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, Trigger}
      val evts = s.readStream.format("graft-cdc")
        .option("path", replay).option("table", "documents")
        .option("scan.startup.mode", "earliest")
        .option("changelog.mode", "all")
        .option("scan.stream.max-events-per-trigger",
          math.max(64L, n / 3).toString)
        .load()
        .filter(col(OpCol).isin(RowKind.Insert, RowKind.Delete))
        .select(col("doc_id"), col(OffsetCol).as("off"),
          col(OpCol).as("op"),
          minHashSignature(shingleHashes(col("text"), 3), 16).as("sig"))
        .select(posexplode(bandKeys(col("sig"), 4, 4))
          .as(Seq("band", "key")),
          col("doc_id"), col("off"), col("op"), col("sig"))
        .as[DedupQueries.BandEvt]
      val q = evts.groupByKey(e => (e.band, e.key))
        .flatMapGroupsWithState[DedupQueries.BucketState,
          DedupQueries.BucketEvt](
          OutputMode.Append(), GroupStateTimeout.NoTimeout())(
          DedupQueries.bucketStep(cap))
        .filter(_.op == "p").toDF()
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val pairs = graft.QueryUtil.detachMemorySink(s, name).count()
      // batch-side bucket census: arrivals each bucket SAW vs the cap
      val buckets = base.select(col("doc_id"),
          minHashSignature(shingleHashes(col("text"), 3), 16).as("sig"))
        .select(posexplode(bandKeys(col("sig"), 4, 4))
          .as(Seq("band", "key")))
        .groupBy(col("band"), col("key")).agg(count(lit(1)).as("arr"))
        .agg(max(col("arr")).as("mx"),
          sum(when(col("arr") > cap, 1L).otherwise(0L)).as("hot"))
        .collect()(0)
      Map("n_pairs" -> pairs, "max_bucket_arrivals" -> buckets.getLong(0),
        "hot_buckets" -> buckets.getLong(1), "cap" -> cap,
        "stored_bound" -> math.min(cap, buckets.getLong(0)))
    } finally graft.QueryUtil.deleteRecursively(new java.io.File(replay))
  }

  /** Two-stage streaming winnow ingest ([[DedupQueries.digestStep]] →
    * [[DedupQueries.winnowBucketStep]] at the DEFAULT [[DedupQueries
    * .WinnowFpCap]]) on a ×k exact-copy inflated insert stream — the §4
    * pipeline-ORDER lesson measured AT INGEST TIME: stage 1's
    * exact-dedup state absorbs ALL the inflation (admitted survivors =
    * the distinct-text corpus at every k, since every copy family's
    * first arrival is its block-0 base doc), so stage-2 bucket state,
    * per-event work and the emitted pair surface are k-INVARIANT while
    * the raw event stream grows ×k. The counters prove it: survivors /
    * stream_pairs / mirror_pairs / max_bucket_arrivals must not move
    * with k, and stream_pairs must equal the batch arrival-rank mirror
    * on the survivor corpus. */
  private def streamWinnow(s: SparkSession, dir: String, k: Int)
      : Map[String, Long] = {
    import graft.cdc.ChangeRecord._
    import s.implicits._
    val cap = DedupQueries.WinnowFpCap.toLong
    val base = inflate(Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text")), k, "doc_id")
    val sf = new java.io.File(dir).getName
    val replay = graft.Artifacts.dir("scalecheck_winnow", s"${sf}_x$k")
    def img = struct(base.schema.fieldNames.toSeq.map(col): _*)
    val ins = base.select((lit(1L) + col("doc_id")).as(OffsetCol),
      lit(ExternalOp.Create).as(OpCol), (lit(1L) + col("doc_id")).as(TsCol),
      lit("graft").as(DbCol), lit("documents").as(TableCol),
      lit(null).cast(base.schema).as(BeforeCol), img.as(AfterCol))
    graft.cdc.FileCdcDatabase.write(s, replay, "documents", "graft",
      "doc_id", snapshot = base.limit(0), changes = ins)
    val n = base.count()
    val name = s"scale_winnow_${k}_${System.nanoTime()}"
    try graft.QueryUtil.withShufflePartitions(s, 2) {
      import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, Trigger}
      val evts = s.readStream.format("graft-cdc")
        .option("path", replay).option("table", "documents")
        .option("scan.startup.mode", "earliest")
        .option("changelog.mode", "all")
        .option("scan.stream.max-events-per-trigger",
          math.max(64L, n / 2).toString)
        .load()
        .filter(col(OpCol).isin(RowKind.Insert, RowKind.Delete))
        .select(md5(col("text")).as("digest"), col("doc_id"),
          col(OffsetCol).as("off"), col(OpCol).as("op"),
          coalesce(winnowedFps(col("text"), 4, 8).getField("fps"),
            array().cast("array<bigint>")).as("fps"))
        .as[DedupQueries.WinnowDocEvt]
      val admitted = evts.groupByKey(_.digest)
        .flatMapGroupsWithState[DedupQueries.DigestState,
          DedupQueries.WinnowDocEvt](
          OutputMode.Append(), GroupStateTimeout.NoTimeout())(
          DedupQueries.digestStep)
      val pairEvts = admitted.flatMap(e => e.fps.map(fp =>
          DedupQueries.WinnowFpEvt(fp, e.doc_id, e.off, e.op)))
        .groupByKey(_.fp)
        .flatMapGroupsWithState[DedupQueries.WinnowBucketState,
          DedupQueries.WinnowPairEvt](
          OutputMode.Append(), GroupStateTimeout.NoTimeout())(
          DedupQueries.winnowBucketStep(cap))
      val q = pairEvts.toDF()
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val sunk = graft.QueryUtil.detachMemorySink(s, name).cache()
      val emitted = sunk.count()
      val streamPairs = sunk.groupBy(col("id_a"), col("id_b"))
        .agg(count(lit(1)).as("ns")).filter(col("ns") >= 2).count()
      sunk.unpersist()
      // batch mirror on the survivor corpus (first arrival per text =
      // the block-0 base doc = min doc_id over the copy family)
      val surv = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"), col("text"))
      val fps = DedupQueries.winnowFpsOf(surv)
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy(col("fp")).orderBy(col("doc_id"))
      val idx = fps.withColumn("rk", row_number().over(win))
        .filter(col("rk") <= cap).select(col("doc_id"), col("fp")).cache()
      val mirrorPairs = idx.as("x").join(idx.as("y"),
          col("x.fp") === col("y.fp")
            && col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id"), col("y.doc_id"))
        .agg(count(lit(1)).as("ns")).filter(col("ns") >= 2).count()
      val buckets = fps.groupBy(col("fp")).agg(count(lit(1)).as("arr"))
        .agg(max(col("arr")).as("mx"),
          sum(when(col("arr") > cap, 1L).otherwise(0L)).as("hot"))
        .collect()(0)
      idx.unpersist()
      Map("n_events" -> n, "survivors" -> surv.count(),
        "emitted_cooc" -> emitted, "stream_pairs" -> streamPairs,
        "mirror_pairs" -> mirrorPairs,
        "max_bucket_arrivals" -> buckets.getLong(0),
        "hot_buckets" -> buckets.getLong(1), "cap" -> cap)
    } finally graft.QueryUtil.deleteRecursively(new java.io.File(replay))
  }

  /** Watermarked stream-stream LEFT OUTER interval join
    * (`q_stream_left_outer_join`'s exact shape) on a ×k
    * DISJOINT-POPULATION inflated event stream: each copy strides BOTH
    * user_id and event_id, so per-key join state and the match surface
    * grow LINEARLY in k — which is the claim a watermarked outer join
    * makes at scale (state = rows inside the watermark window, output =
    * matches + watermark-flushed unmatched). Sharing user ids across
    * copies would instead square the per-user match surface — a
    * different pipeline's problem, not this operator's. Counters prove
    * output linearity (`n_out`/`matched`/`unmatched_flushed` all scale
    * ×k exactly on exact copies); ScaleCheck's wall clock gives the
    * slope. */
  private def streamOuterJoin(s: SparkSession, dir: String, k: Int)
      : Map[String, Long] = {
    val base = Tables.load(s, dir, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("event_type"))
    val infl = base.select(col("event_id"), col("user_id"), col("ts"),
        col("event_type"),
        explode(sequence(lit(0L), lit(k - 1L))).as("__i"))
      .select((col("event_id") + col("__i") * 1000000000000L)
          .as("event_id"),
        (col("user_id") + col("__i") * 100000000L).as("user_id"),
        col("ts"), col("event_type"))
    val sf = new java.io.File(dir).getName
    val replay = graft.Artifacts.dir("scalecheck_outer", s"${sf}_x$k")
    try {
      infl.write.mode("overwrite").parquet(s"$replay/events.parquet")
      val n = s.read.parquet(s"$replay/events.parquet").count()
      graft.QueryUtil.withShufflePartitions(s, 2) {
        import org.apache.spark.sql.streaming.Trigger
        import org.apache.spark.sql.types.LongType
        val name = s"scale_outer_${k}_${System.nanoTime()}"
        // stream the written DIRECTORY directly: Tables.eventsStream's
        // pathGlobFilter matches the sf dirs' single-file layout, not a
        // Spark-written events.parquet/part-*.parquet directory
        val raw = s.read.parquet(s"$replay/events.parquet").schema
        def es = Tables.normalizeEventTs(
          s.readStream.schema(raw).parquet(s"$replay/events.parquet"))
        val clicks = es.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
            col("event_id").as("click_id"))
          .withWatermark("c_ts", "1 hour")
        val purchases = es.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("p_ts"),
            col("event_id").as("purchase_id"))
          .withWatermark("p_ts", "1 hour")
        val q = purchases.join(clicks,
            col("user_id") === col("c_user") &&
              col("c_ts").cast(LongType) >= col("p_ts").cast(LongType)
                - 600 &&
              col("c_ts").cast(LongType) <= col("p_ts").cast(LongType),
            "leftOuter")
          .select(col("user_id"), col("purchase_id"), col("click_id"))
          .writeStream.format("memory").queryName(name)
          .outputMode("append")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        val sunk = graft.QueryUtil.detachMemorySink(s, name).cache()
        val out = sunk.count()
        val matched = sunk.filter(col("click_id").isNotNull).count()
        sunk.unpersist()
        Map("n_events" -> n, "n_out" -> out, "matched" -> matched,
          "unmatched_flushed" -> (out - matched))
      }
    } finally graft.QueryUtil.deleteRecursively(new java.io.File(replay))
  }

  /** Iterative graph engine ([[graft.operators.PageRank.runAdjacency]],
    * 5 rounds, the `graph_pagerank` configuration) on a ×k DISJOINT-COPY
    * inflated trade graph: node ids stride per copy (even stride keeps
    * the bipartite parity convention), so the inflated graph is k
    * independent components and each round's join+aggregate mass grows
    * LINEARLY in k with a FIXED round count — the claim every iterative
    * graph query (pagerank, label propagation, BFS, coreness) rides.
    * `rank_sum` certifies the ×k copies computed the same fixed point
    * (exactly k× the base sum); ScaleCheck's wall clock gives the
    * slope. */
  private def graphIter(s: SparkSession, dir: String, k: Int)
      : Map[String, Long] = {
    import org.apache.spark.sql.types.LongType
    val pairs0 = AdvancedQueries.tradePairs(s, dir)
    val pairs = pairs0.select(col("c"), col("p"),
        explode(sequence(lit(0L), lit(k - 1L))).as("__i"))
      .select((col("c") + col("__i") * 200000000L).as("c"),
        (col("p") + col("__i") * 200000000L).as("p"))
    val adj = pairs
      .groupBy(col("c").as("src")).agg(collect_list(col("p")).as("dsts"))
      .union(pairs
        .groupBy(col("p").as("src"))
        .agg(collect_list(col("c")).as("dsts")))
      .withColumn("outdeg", size(col("dsts")).cast(LongType))
      .repartition(col("src")).cache()
    val nodes = adj.select(col("src").as("node"))
    val nEdges = adj.agg(sum(col("outdeg"))).collect()(0).getLong(0)
    val ranks = graft.operators.PageRank.runAdjacency(adj, nodes, 5,
      barrierEvery = 5, cutFinal = true)
    val row = ranks.agg(count(lit(1)).as("n"), sum(col("rank")).as("s"))
      .collect()(0)
    adj.unpersist()
    Map("n_nodes" -> row.getLong(0), "n_edges" -> nEdges,
      "rank_sum" -> row.getLong(1))
  }

  /** All probes, lazily — graft.ScaleCheck times each thunk. */
  def families(s: SparkSession, dir: String, k: Int)
      : Seq[(String, () => Map[String, Long])] = Seq(
    "lsh_truth_dfcap" -> (() => lshTruth(s, dir, k)),
    "winnow_fpcap" -> (() => winnow(s, dir, k)),
    "ngram_dfcap" -> (() => ngramCapped(s, dir, k)),
    "salted_skew" -> (() => saltedSkew(s, dir, k)),
    "stream_ingest_bucketcap" -> (() => streamIngest(s, dir, k)),
    "stream_winnow_orderlesson" -> (() => streamWinnow(s, dir, k)),
    "stream_outer_join" -> (() => streamOuterJoin(s, dir, k)),
    "graph_iter" -> (() => graphIter(s, dir, k)))
}
