package graft.cdc

/**
 * Snapshot chunk splitting — the reference's partitioning math
 * (MySqlChunkSplitter.java). Chunks become Spark `InputPartition`s, so
 * snapshot parallelism scales with the cluster exactly as the reference's
 * chunks round-robin across readers (mysql-cdc.md:439-456).
 */
object ChunkSplitter {

  /** Half-open PK range [lo, hi); None bound = unbounded (first/last chunk).
    * Mirrors ChunkRange in flink-cdc-base/.../splitter/ChunkRange.java. */
  case class ChunkRange(id: Int, lo: Option[Long], hi: Option[Long]) {
    def contains(k: Long): Boolean =
      lo.forall(k >= _) && hi.forall(k < _)
  }

  /** Even-distribution bounds, reference defaults
    * (MySqlSourceOptions.java:207-231). */
  val DistributionFactorUpper = 1000.0
  val DistributionFactorLower = 0.05
  /** Default rows per chunk (MySqlSourceOptions.java:104-109). */
  val DefaultChunkSize = 8096

  /** Row budget for a BYTE-sized chunk target: `targetBytes / avgRowBytes`,
    * floored at 1 row and capped at Int.MaxValue (Mongo derives its
    * chunk.size.mb row budget from collStats avgObjSize the same way,
    * MongoDBSourceOptions.java:130-137). */
  def rowBudgetForBytes(targetBytes: Long, avgRowBytes: Long): Int = {
    require(targetBytes > 0, s"chunk byte target must be > 0: $targetBytes")
    require(avgRowBytes > 0, s"avg row size must be > 0: $avgRowBytes")
    math.min(math.max(1L, targetBytes / avgRowBytes), Int.MaxValue.toLong)
      .toInt
  }

  /** (max-min+1)/rowCount — MySqlChunkSplitter.calculateDistributionFactor
    * (MySqlChunkSplitter.java:397-420). */
  def distributionFactor(min: Long, max: Long, rowCount: Long): Double =
    if (rowCount == 0) Double.MaxValue
    else (max - min + 1).toDouble / rowCount.toDouble

  /** Whether the arithmetic even split applies
    * (MySqlChunkSplitter.java:385-395 limits this to integral key types;
    * the caller guarantees an integral PK here). Bounds are configurable as
    * in the reference (`chunk-key.even-distribution.factor.{upper,lower}-
    * bound`, MySqlSourceOptions.java:207-231). */
  def isEvenlyDistributed(min: Long, max: Long, rowCount: Long,
      upper: Double = DistributionFactorUpper,
      lower: Double = DistributionFactorLower): Boolean = {
    val f = distributionFactor(min, max, rowCount)
    f >= lower && f <= upper
  }

  /** Dynamic chunk size for the even split: scale the row-count chunk size
    * by the key-space density (MySqlChunkSplitter.getDynamicChunkSize,
    * MySqlChunkSplitter.java:354-383). */
  def dynamicChunkStep(min: Long, max: Long, rowCount: Long, chunkSize: Int): Long =
    math.max(math.round(distributionFactor(min, max, rowCount) * chunkSize), 1L)

  /**
   * Arithmetic even split: tumble [min, min+step, …) — no per-chunk queries
   * (MySqlChunkSplitter.splitEvenlySizedChunks, MySqlChunkSplitter.java:267-301).
   * First chunk is left-unbounded and last right-unbounded, matching the
   * reference's null bounds, so rows outside the observed [min,max] (e.g.
   * inserted while splitting) still land in a chunk.
   */
  def splitEvenlySizedChunks(min: Long, max: Long, rowCount: Long,
      chunkSize: Int): Seq[ChunkRange] = {
    val step = dynamicChunkStep(min, max, rowCount, chunkSize)
    fromCuts(Iterator.iterate(min + step)(_ + step)
      .takeWhile(b => b <= max && b > min) // overflow guard: stop on wrap
      .toSeq)
  }

  /**
   * Uneven (sparse-key) split: walk the sorted key stream and cut every
   * `chunkSize` rows — the file-dialect analogue of the reference's
   * per-chunk `SELECT MAX(pk) … LIMIT chunkSize` walk
   * (MySqlChunkSplitter.splitOneUnevenlySizedChunk, :159-193/303-324; SQL in
   * StatementUtils.java:99-130). A JDBC dialect would push this back as SQL.
   */
  def splitUnevenlySizedChunks(sortedKeys: Iterator[Long],
      chunkSize: Int): Seq[ChunkRange] =
    fromCuts(sortedKeys.zipWithIndex
      .collect { case (k, i) if i > 0 && i % chunkSize == 0 => k }
      .toSeq.distinct)

  /**
   * Uneven split driven by the store itself: repeatedly ask the dialect for
   * the max of the next `chunkSize` keys past the cursor — the reference's
   * actual JDBC walk (MySqlChunkSplitter.splitUnevenlySizedChunks /
   * splitOneUnevenlySizedChunk, MySqlChunkSplitter.java:159-193/303-324;
   * SQL in StatementUtils.java:99-130, built here by
   * [[graft.cdc.dialect.JdbcChunkStatements.selectNextChunkMax]]). O(chunks)
   * point queries on the driver, never a full key scan — the shape that
   * survives a 10^9-row sparse-key table.
   *
   * `nextChunkMax(lowerInclusive)` = max of the `chunkSize` smallest keys ≥
   * lowerInclusive; None when no keys remain.
   */
  def splitUnevenlyByQuery(min: Long, max: Long, chunkSize: Int,
      nextChunkMax: Long => Option[Long]): Seq[ChunkRange] = {
    val cuts = Seq.newBuilder[Long]
    var cursor = min
    var prev = Long.MinValue
    var done = false
    while (!done) {
      nextChunkMax(cursor) match {
        // the cut key m is the group's max and belongs to the range BELOW
        // the cut (ranges are half-open at the top), so the next group
        // starts at m+1 — restarting at m inclusive would re-count the cut
        // key and shrink every chunk by one (and never advance for
        // chunkSize 1)
        case Some(m) if m < max && m > prev =>
          cuts += m + 1; prev = m; cursor = m + 1
        case _ => done = true
      }
    }
    fromCuts(cuts.result())
  }

  /** Reference sampling defaults (flink-connector-mongodb-cdc/.../splitters/
    * SampleBucketSplitStrategy.java:70-72). */
  val SamplingThreshold = 102400
  val SamplingRate = 0.05

  /**
   * Sample-quantile split — the reference's MongoDB `$sample`+`$bucketAuto`
   * strategy (SampleBucketSplitStrategy.java:67-168) re-expressed for any
   * dialect that can cheaply sample keys but not walk them in order: cut the
   * sorted sample at even quantiles into `numChunks` buckets, then unbound
   * the first/last so unsampled extremes (and rows inserted while splitting)
   * still land in a chunk. At 100 TB this is the strategy for huge tables
   * with non-arithmetic key spaces: O(sample) driver work, no per-chunk
   * queries.
   */
  def splitSampledChunks(sampledKeys: Seq[Long], numChunks: Int): Seq[ChunkRange] = {
    val sorted = sampledKeys.sorted
    if (sorted.isEmpty || numChunks <= 1) Seq(ChunkRange(0, None, None))
    else {
      val n = sorted.size
      fromCuts((1 until numChunks)
        .map(i => sorted((i.toLong * n / numChunks).toInt.min(n - 1)))
        .distinct)
    }
  }

  /** How many keys to sample for [[splitSampledChunks]]
    * (SampleBucketSplitStrategy.java:89-97). */
  def sampleSize(rowCount: Long): Int =
    if (rowCount < SamplingThreshold) rowCount.toInt
    else math.floor(rowCount * SamplingRate).toInt

  /** Chunks from store-provided boundary keys — the `splitVector` strategy
    * (flink-connector-mongodb-cdc/.../splitters/SplitVectorSplitStrategy
    * .java:60-95: the server's splitVector command computes the split keys;
    * the splitter only assembles ranges). Boundaries are deduped/sorted and
    * the extremes unbounded, so rows outside the observed key span still
    * land in a chunk. */
  def splitByProvidedBoundaries(boundaries: Seq[Long]): Seq[ChunkRange] =
    fromCuts(boundaries.distinct.sorted)

  /** Chunks from a sharded cluster's pre-existing range metadata — the
    * sharded strategy (ShardedSplitStrategy.java:58-94 reads config.chunks
    * and emits one split per cluster chunk). The internal bounds become the
    * cuts; extremes are unbounded for full coverage even if the metadata
    * misses the key-space edges. */
  def splitFromShardRanges(
      ranges: Seq[(Option[Long], Option[Long])]): Seq[ChunkRange] =
    fromCuts(ranges.flatMap { case (lo, hi) => lo.toSeq ++ hi.toSeq }
      .distinct.sorted)

  /** Mongo-style strategy selection (MongoDBChunkSplitter.java:30-46):
    * a sharded collection splits by its cluster chunk ranges; an unsharded
    * one by server-computed splitVector boundaries when the store permits;
    * else by sample quantiles. Arguments are by-name so only the chosen
    * strategy touches the store. */
  def splitMongoStyle(
      shardRanges: => Option[Seq[(Option[Long], Option[Long])]],
      splitVectorBoundaries: => Option[Seq[Long]],
      sampledKeys: => Seq[Long],
      numChunks: Int): Seq[ChunkRange] =
    shardRanges.map(splitFromShardRanges)
      .orElse(splitVectorBoundaries.map(splitByProvidedBoundaries))
      .getOrElse(splitSampledChunks(sampledKeys, numChunks))

  /** TiKV region split (C7): a TiDB table's rows live in region key-ranges
    * over the encoded row-id space; each parallel reader takes one range
    * (flink-connector-tidb-cdc/.../table/utils/TableKeyRangeUtils.java,
    * task assignment TiKVRichParallelSourceFunction.java:118-129). Region
    * start keys inside the table's row-id span become the chunk cuts;
    * boundaries outside the span are dropped (regions can pre-split wider
    * than the data), extremes unbounded. */
  def splitByRegionBoundaries(regionStarts: Seq[Long], minId: Long,
      maxId: Long): Seq[ChunkRange] =
    fromCuts(regionStarts.filter(k => k > minId && k <= maxId)
      .distinct.sorted)

  /** Ranges from ascending cut keys: (-∞, c0), [c0, c1) … [cn, ∞). */
  private def fromCuts(cuts: Seq[Long]): Seq[ChunkRange] =
    if (cuts.isEmpty) Seq(ChunkRange(0, None, None))
    else {
      val first = ChunkRange(0, None, Some(cuts.head))
      val mids = cuts.sliding(2).zipWithIndex.collect {
        case (Seq(a, b), i) => ChunkRange(i + 1, Some(a), Some(b))
      }.toSeq
      (first +: mids) :+ ChunkRange(cuts.size, Some(cuts.last), None)
    }

  /** Full strategy dispatch as in MySqlChunkSplitter.splitTableIntoChunks. */
  def split(min: Long, max: Long, rowCount: Long, chunkSize: Int,
      sortedKeys: () => Iterator[Long],
      factorUpper: Double = DistributionFactorUpper,
      factorLower: Double = DistributionFactorLower): Seq[ChunkRange] =
    if (isEvenlyDistributed(min, max, rowCount, factorUpper, factorLower))
      splitEvenlySizedChunks(min, max, rowCount, chunkSize)
    else
      splitUnevenlySizedChunks(sortedKeys(), chunkSize)
}
