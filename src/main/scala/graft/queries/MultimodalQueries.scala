package graft.queries

import graft.functions.TextFunctions.hamming
import graft.operators.Pairs
import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Opaque media payload: raw bytes + typed metadata, the schema shape for
  * image/audio/video columns at 100 TB (payload stays binary; Parquet/
  * columnar pruning skips it unless the decode stage is in the plan). */
case class MediaBlob(doc_id: Long, fmt: String, content: Array[Byte])

/** Decoded per-asset features (what a real codec would produce). */
case class MediaFeatures(doc_id: Long, n_bytes: Long, width: Long,
    height: Long, n_frames: Long, checksum: String)

/** A resized asset: output dims + transformed payload summary. */
case class MediaResized(doc_id: Long, out_w: Long, out_h: Long,
    out_chars: Long, out_checksum: String)

/** One analysis window of an audio-like payload (frame DSP output). */
case class MediaWindow(doc_id: Long, window_id: Long, n_samples: Long,
    energy: Long, peak: Long)

/**
 * ===== STUB CODEC =====
 * The container has no image/audio libraries, so the decode step is a
 * deterministic fake: features are pure arithmetic over the byte payload.
 * The Spark-side plumbing around it is real — typed `Dataset[MediaBlob]`,
 * partition-wise batched iteration (the batch shape a vectorized decoder
 * wants), explicit output schema — so swapping in a real codec changes
 * ONLY the body of [[decodeBatch]].
 */
object FakeCodec {
  val BatchSize = 32

  /** Batched "decode": one call per batch, as a GPU/native codec would be
    * driven. Deterministic stand-in arithmetic (STUB — see object docs). */
  def decodeBatch(batch: Seq[MediaBlob]): Seq[MediaFeatures] = batch.map { b =>
    val n = b.content.length.toLong
    val md = java.security.MessageDigest.getInstance("MD5")
    val checksum = md.digest(b.content).map("%02x".format(_)).mkString
    MediaFeatures(
      doc_id = b.doc_id,
      n_bytes = n,
      width = n % 64 + 16,
      height = (n * 31) % 48 + 16,
      n_frames = n % 7 + 1,
      checksum = checksum)
  }

  /** Windowed "audio" analysis: 256-sample windows on a 128 stride, per
    * window the energy (sum of unsigned sample values) and peak — the
    * frame-feature shape an audio DSP stage produces (STUB arithmetic;
    * window/stride/batch mechanics are the real part). Exact integers, so
    * the oracle reproduces values bit-for-bit from the same bytes. */
  def audioWindowBatch(batch: Seq[MediaBlob]): Seq[MediaWindow] =
    batch.flatMap { b =>
      val n = b.content.length
      (0 until n by 128).map { start =>
        val len = math.min(256, n - start)
        var energy = 0L; var peak = 0L; var i = start
        while (i < start + len) {
          val v = (b.content(i) & 0xff).toLong
          energy += v; if (v > peak) peak = v
          i += 1
        }
        MediaWindow(b.doc_id, start / 128L, len.toLong, energy, peak)
      }
    }

  /** 63-bit DCT perceptual hash: the payload "decodes" to a 16×16 pixel
    * block (byte-stripe sums — the only STUB part; a real image decoder
    * hands a rescaled luma block to the same entry point), then
    * [[graft.functions.PhashDct]] runs the REAL algorithm — separable
    * integer DCT-II, 8×8 low-frequency block, mean-threshold bits — on
    * fixed-point literal coefficients shared bit-for-bit with the
    * oracle. */
  def phashBatch(batch: Seq[MediaBlob]): Seq[(Long, Long)] = batch.map { b =>
    (b.doc_id, graft.functions.PhashDct.phash(b.content))
  }

  /** Per-frame "energy": the payload cut into n_frames contiguous stripes
    * (frame f = code points [f·n/nf, (f+1)·n/nf), integer bounds), each
    * reduced to its code-point sum — the per-frame luminance/feature
    * scalar a real video decoder would hand the scene-cut stage (STUB
    * arithmetic; the frame segmentation, batch shape and exact-integer
    * output are the real part). Units are Unicode CODE POINTS, not bytes
    * — same convention as [[resizeBatch]] — so the oracle's char-indexed
    * `ascii(substr(...))` mirrors the stripes exactly even for multi-byte
    * text. */
  def frameEnergyBatch(batch: Seq[MediaBlob]): Seq[(Long, Long, Long)] =
    batch.flatMap { b =>
      val cps = new String(b.content,
        java.nio.charset.StandardCharsets.UTF_8).codePoints().toArray
      val n = cps.length.toLong
      val nf = (n % 7 + 1).toInt
      (0 until nf).map { f =>
        val lo = (f * n / nf).toInt
        val hi = ((f + 1) * n / nf).toInt
        var e = 0L; var i = lo
        while (i < hi) { e += cps(i).toLong; i += 1 }
        (b.doc_id, f.toLong, e)
      }
    }

  /** Batched "resize" to half resolution: the stand-in transform crops the
    * payload to out_w×out_h units (STUB — a real codec rescales pixels;
    * the batch shape, dim arithmetic and output contract are the real
    * part). Units are Unicode codepoints so the oracle's `substr` mirrors
    * the crop exactly. */
  def resizeBatch(batch: Seq[MediaBlob]): Seq[MediaResized] = batch.map { b =>
    val n = b.content.length.toLong
    val outW = math.max((n % 64 + 16) / 2, 1L)
    val outH = math.max(((n * 31) % 48 + 16) / 2, 1L)
    val s = new String(b.content, java.nio.charset.StandardCharsets.UTF_8)
    val total = s.codePointCount(0, s.length)
    val keep = math.min(total.toLong, outW * outH).toInt
    val resized = s.substring(0, s.offsetByCodePoints(0, keep))
    val md = java.security.MessageDigest.getInstance("MD5")
    val checksum = md.digest(
      resized.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    MediaResized(b.doc_id, outW, outH, keep.toLong, checksum)
  }
}

/**
 * Multimodal-column operators: binary payload + metadata → per-partition
 * batched decode → feature table → frame sampling / resize planning.
 * Shuffle-free map pipeline end-to-end (the presentation sort is the only
 * exchange); at scale the decode stage is the compute bottleneck and
 * parallelizes per input split.
 *
 * Unit conventions of the stub codec vs its oracles: `resizeBatch` and
 * `frameEnergyBatch` work in Unicode CODE POINTS (oracle: char-indexed
 * `substr`, exact for any text); `audioWindowBatch` and `phashBatch` work
 * in raw BYTES — the natural framing for audio samples / pixel data —
 * whose `ascii(substr)` oracles coincide only on the all-ASCII synthetic
 * corpus (a real deployment feeds genuine binary payloads, where the
 * oracle side would read the same bytes).
 */
object MultimodalQueries {

  /** Near-dup hamming radius on the 63-bit DCT signature. 7 = the
    * classic perceptual-dedup operating point (near-dups land at
    * small-but-nonzero distance); the 8×8-bit banding below is
    * pigeonhole-lossless exactly up to this radius. */
  private val PhashRadius = 7

  /** Verified pHash near-dup pairs (id_a < id_b, hamming ≤
    * [[PhashRadius]]) over the media column: batched 63-bit DCT
    * signatures ([[graft.functions.PhashDct]]), 8×8-bit band-bucket
    * candidates (pigeonhole-lossless for the radius: ham ≤ 7 over 8
    * disjoint bands leaves at least one band untouched), hamming check
    * on candidates only. The radius is 7 — a real DCT pHash puts
    * perceptual near-dups at SMALL-BUT-NONZERO distance (an appended
    * word moves 4-7 of 63 bits; classic image pHash dedup thresholds
    * ~7-10 of 64), unlike exact copies at 0. Shared by the pair query
    * and the cluster stage. */
  private def phashPairs(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val blobs = Tables.load(s, dir, "documents")
      .select(col("doc_id"), lit("fake/v1").as("fmt"),
        encode(col("text"), "UTF-8").as("content"))
      .as[MediaBlob]
    val sigs = blobs
      .mapPartitions(_.grouped(FakeCodec.BatchSize)
        .flatMap(b => FakeCodec.phashBatch(b.toSeq)))
      .toDF("doc_id", "sig")
      .cache()
    // sig bits live in positions 0..62, so sig ≥ 0 and the arithmetic
    // shift needs no unsigned handling; band 7 carries 7 live bits
    val bandVals = array((0 until 8).map { i =>
      shiftright(col("sig"), i * 8).bitwiseAND(lit(255L))
    }: _*)
    val banded = sigs.select(col("doc_id"), col("sig"),
      posexplode(bandVals).as(Seq("band", "bv")))
    Pairs.withinKey(banded, Seq("band", "bv"), "doc_id")
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.sig").as("sa"), col("b.sig").as("sb"))
      .distinct()
      .withColumn("ham", hamming(col("sa"), col("sb")))
      .filter(col("ham") <= PhashRadius)
  }

  /** The pHash signature oracle prefix (`sig` CTE shared by the pair and
    * cluster oracles): the EXACT DuckDB mirror of
    * [[graft.functions.PhashDct]] — same byte-stripe 16×16 pixel decode
    * (`ascii(substr)` ≡ unsigned byte on the all-ASCII corpus), same
    * 128-integer fixed-point DCT literal (rendered from the one Scala
    * table), same separable row/column passes, same cross-multiplied
    * 63-bit mean threshold. All-integer arithmetic → bit-identical
    * signatures. */
  private val sqlPhashSigCtes =
    s"""base AS (
      |  SELECT doc_id, text,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS n
      |  FROM documents),
      |ctab AS (SELECT ${graft.functions.PhashDct.sqlCoeffLiteral} AS dct),
      |px AS (
      |  SELECT doc_id, list_transform(range(0, 256), j -> coalesce(list_sum(
      |    list_transform(range(CAST(j+1 AS INTEGER), CAST(n+1 AS INTEGER), 256),
      |      i -> ascii(substr(text, CAST(i AS INTEGER), 1)))), 0)) AS p
      |  FROM base),
      |rowd AS (
      |  SELECT doc_id, list_transform(range(0, 128), t ->
      |    list_sum(list_transform(range(0, 16), y ->
      |      dct[CAST((t % 8) * 16 + y + 1 AS INTEGER)]
      |        * p[CAST((t // 8) * 16 + y + 1 AS INTEGER)]))) AS r
      |  FROM px, ctab),
      |fcoef AS (
      |  SELECT doc_id, list_transform(range(0, 64), t ->
      |    list_sum(list_transform(range(0, 16), x ->
      |      dct[CAST((t // 8) * 16 + x + 1 AS INTEGER)]
      |        * r[CAST(x * 8 + (t % 8) + 1 AS INTEGER)]))) AS f
      |  FROM rowd, ctab),
      |sig AS (
      |  SELECT doc_id, CAST(list_sum(list_transform(range(1, 64), k ->
      |    CASE WHEN f[CAST(k + 1 AS INTEGER)] * 63 > s
      |      THEN (CAST(1 AS BIGINT) << CAST(k - 1 AS INTEGER)) ELSE 0 END))
      |    AS BIGINT) AS sig
      |  FROM (SELECT doc_id, f, list_sum(list_slice(f, 2, 64)) AS s
      |        FROM fcoef))""".stripMargin

  def defs: Map[String, QueryDef] = Map(

    // Decode/feature-extract over binary media columns via mapPartitions.
    "mm_decode_features" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val blobs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), lit("fake/v1").as("fmt"),
            encode(col("text"), "UTF-8").as("content"))
          .as[MediaBlob]
        blobs
          .mapPartitions(_.grouped(FakeCodec.BatchSize)
            .flatMap(b => FakeCodec.decodeBatch(b.toSeq)))
          .toDF()
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
             |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             |  CAST(octet_length(encode(text)) % 64 + 16 AS BIGINT) AS width,
             |  CAST((octet_length(encode(text)) * 31) % 48 + 16 AS BIGINT) AS height,
             |  CAST(octet_length(encode(text)) % 7 + 1 AS BIGINT) AS n_frames,
             |  md5(text) AS checksum
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Frame sampling + resize planning over the decoded feature table:
    // every 2nd frame, half-resolution output dims (floor, min 1).
    "mm_frame_sample" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val blobs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), lit("fake/v1").as("fmt"),
            encode(col("text"), "UTF-8").as("content"))
          .as[MediaBlob]
        val feats = blobs
          .mapPartitions(_.grouped(FakeCodec.BatchSize)
            .flatMap(b => FakeCodec.decodeBatch(b.toSeq)))
          .toDF()
        feats
          .select(col("doc_id"),
            explode(sequence(lit(0L), col("n_frames") - 1, lit(2L)))
              .as("frame_id"),
            greatest(floor(col("width") / 2), lit(1L)).cast(LongType)
              .as("out_w"),
            greatest(floor(col("height") / 2), lit(1L)).cast(LongType)
              .as("out_h"))
          .orderBy(col("doc_id"), col("frame_id"))
      },
      Some("""SELECT doc_id, frame_id, out_w, out_h FROM (
             |  SELECT doc_id,
             |    unnest(range(0, CAST(octet_length(encode(text)) % 7 + 1 AS BIGINT), 2)) AS frame_id,
             |    CAST(greatest((octet_length(encode(text)) % 64 + 16) // 2, 1) AS BIGINT) AS out_w,
             |    CAST(greatest(((octet_length(encode(text)) * 31) % 48 + 16) // 2, 1) AS BIGINT) AS out_h
             |  FROM documents)
             |ORDER BY doc_id, frame_id""".stripMargin)),

    // Windowed audio-style analysis over the binary payload: 256-sample
    // windows, 128 stride, per-window energy/peak via the batched codec —
    // map + per-row window fan-out, shuffle-free; the shape a streaming
    // ASR/audio-feature pre-pass runs over a 100 TB audio column. The
    // corpus bytes are ASCII, so the oracle recomputes sample values with
    // ascii(substr(...)) exactly.
    "mm_audio_windows" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val blobs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), lit("fake/v1").as("fmt"),
            encode(col("text"), "UTF-8").as("content"))
          .as[MediaBlob]
        blobs
          .mapPartitions(_.grouped(FakeCodec.BatchSize)
            .flatMap(b => FakeCodec.audioWindowBatch(b.toSeq)))
          .toDF()
          .orderBy(col("doc_id"), col("window_id"))
      },
      Some("""WITH base AS (
             |  SELECT doc_id, text,
             |    CAST(octet_length(encode(text)) AS BIGINT) AS n
             |  FROM documents),
             |w AS (
             |  SELECT doc_id, text, n, unnest(range(0, n, 128)) AS start
             |  FROM base),
             |samp AS (
             |  SELECT doc_id, start // 128 AS window_id,
             |    least(256, n - start) AS n_samples,
             |    list_transform(
             |      range(CAST(start + 1 AS INTEGER),
             |            CAST(start + least(256, n - start) + 1 AS INTEGER)),
             |      i -> ascii(substr(text, i, 1))) AS vs
             |  FROM w)
             |SELECT doc_id, CAST(window_id AS BIGINT) AS window_id,
             |  CAST(n_samples AS BIGINT) AS n_samples,
             |  CAST(list_sum(vs) AS BIGINT) AS energy,
             |  CAST(list_max(vs) AS BIGINT) AS peak
             |FROM samp ORDER BY doc_id, window_id""".stripMargin)),

    // Half-resolution resize over the binary payload (batched stub codec:
    // codepoint crop to out_w×out_h stands in for pixel rescaling; the
    // oracle reproduces the crop with substr + md5 over the same units).
    "mm_resize" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val blobs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), lit("fake/v1").as("fmt"),
            encode(col("text"), "UTF-8").as("content"))
          .as[MediaBlob]
        blobs
          .mapPartitions(_.grouped(FakeCodec.BatchSize)
            .flatMap(b => FakeCodec.resizeBatch(b.toSeq)))
          .toDF()
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, out_w, out_h,
             |  CAST(length(substr(text, 1, CAST(out_w * out_h AS INTEGER))) AS BIGINT) AS out_chars,
             |  md5(substr(text, 1, CAST(out_w * out_h AS INTEGER))) AS out_checksum
             |FROM (
             |  SELECT doc_id, text,
             |    CAST(greatest((octet_length(encode(text)) % 64 + 16) // 2, 1) AS BIGINT) AS out_w,
             |    CAST(greatest(((octet_length(encode(text)) * 31) % 48 + 16) // 2, 1) AS BIGINT) AS out_h
             |  FROM documents)
             |ORDER BY doc_id""".stripMargin)),

    // ASPECT-RATIO BUCKETING — the batch-formation statistic of a vision
    // training pipeline: images group into batches by aspect-ratio bucket
    // (padding inside a bucket is bounded by the bucket's spread, so the
    // histogram below IS the padding/throughput plan). Ratio compared in
    // exact integer cross-multiplication (w·4 vs h·{3,4,5,...} — no float
    // division at bucket boundaries): portrait (4w < 3h), square-ish
    // (3h ≤ 4w ≤ 5h), landscape (4w > 5h), each with count, total output
    // pixels, and max pixels (the bucket's padded cost ceiling). Pure map
    // over the codec output into a 3-row map-side-combined rollup.
    "mm_ar_buckets" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val blobs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), lit("fake/v1").as("fmt"),
            encode(col("text"), "UTF-8").as("content"))
          .as[MediaBlob]
        val dims = blobs
          .mapPartitions(_.grouped(FakeCodec.BatchSize)
            .flatMap(b => FakeCodec.resizeBatch(b.toSeq)))
          .toDF()
        val bucket = when(col("out_w") * 4 < col("out_h") * 3, "portrait")
          .when(col("out_w") * 4 > col("out_h") * 5, "landscape")
          .otherwise("squareish")
        dims.select(bucket.as("bucket"),
            (col("out_w") * col("out_h")).as("px"))
          .groupBy(col("bucket")).agg(
            count(lit(1)).as("n_images"),
            sum(col("px")).as("total_px"),
            max(col("px")).as("max_px"))
          .orderBy(col("bucket"))
      },
      Some("""WITH dims AS (
             |  SELECT
             |    CAST(greatest((octet_length(encode(text)) % 64 + 16) // 2, 1) AS BIGINT) AS out_w,
             |    CAST(greatest(((octet_length(encode(text)) * 31) % 48 + 16) // 2, 1) AS BIGINT) AS out_h
             |  FROM documents)
             |SELECT CASE WHEN out_w * 4 < out_h * 3 THEN 'portrait'
             |            WHEN out_w * 4 > out_h * 5 THEN 'landscape'
             |            ELSE 'squareish' END AS bucket,
             |  CAST(COUNT(*) AS BIGINT) AS n_images,
             |  CAST(SUM(out_w * out_h) AS BIGINT) AS total_px,
             |  CAST(MAX(out_w * out_h) AS BIGINT) AS max_px
             |FROM dims GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // PERCEPTUAL-HASH NEAR-DUP over the binary media column — image dedup
    // without ever joining on pixels: the batched codec emits the REAL
    // 63-bit DCT pHash per asset (integer-exact 8×8 DCT-II low-frequency
    // block on fixed-point literal coefficients — PhashDct), then
    // candidates come from 8×8-bit BAND buckets (hamming ≤ 7 over 8
    // disjoint bands pigeonholes at least one equal band, so banding
    // loses nothing at the radius) and only candidates pay the hamming
    // check. Scale shape: signature is a map over the scan; the band
    // join never materializes non-colliding pairs. At 10⁹+ assets 8-bit
    // buckets saturate — the scale path is a wider signature (256-bit
    // pHash from a 32×32 block) with proportionally wider bands, same
    // plan shape. The oracle brute-forces the same pair set from
    // bit-identical signatures.
    "mm_phash_neardup" -> QueryDef(
      (s, dir) => phashPairs(s, dir)
        .select(col("id_a"), col("id_b"),
          col("ham").cast(LongType).as("ham"))
        .orderBy(col("id_a"), col("id_b")),
      Some(s"""WITH $sqlPhashSigCtes
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS ham
             |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
             |WHERE bit_count(xor(a.sig, b.sig)) <= $PhashRadius
             |ORDER BY id_a, id_b""".stripMargin)),

    // PERCEPTUAL-HASH DEDUP CLUSTERS — the closure + canonical-election
    // stage on top of the pair device: near-duplication by perceptual
    // hash is no more transitive than by text (A≈B, B≈C, A̸≈C), so the
    // keep-one-copy decision needs connected components before electing
    // the representative (min doc_id). This completes the image-dedup
    // pipeline end-to-end: signature map → banded candidates → verified
    // pairs → star-contraction closure → per-cluster election. Output:
    // one row per non-singleton cluster (id = canonical member, size,
    // member checksum) — any mis-clustering or mis-election breaks it.
    // Scale shape: same as the text-side CC (O(log² n) rounds, two
    // exchanges per round over pair-table-sized state); payloads and
    // signatures never enter the closure.
    "mm_phash_clusters" -> QueryDef(
      (s, dir) => {
        // the closure is a deterministic function of the corpus, so it is
        // a write-once artifact, versioned by the signature definition
        // (v2 = the 63-bit DCT pHash; v1 was the stripe-threshold stub)
        val out = graft.Artifacts.once("phash_clusters", version = 2, dir) { stage =>
          val pairs = phashPairs(s, dir).select(col("id_a"), col("id_b"))
          graft.QueryUtil.writeArtifact(graft.operators.ConnectedComponents
            .components(pairs, "id_a", "id_b"),
            "id", s"$stage/clusters")
        }
        s.read.parquet(s"$out/clusters")
          .groupBy(col("component").as("cluster_id"))
          .agg(count(lit(1)).as("n_members"),
            sum(col("id")).as("member_checksum"))
          .orderBy(col("cluster_id"))
      },
      Some(s"""WITH RECURSIVE $sqlPhashSigCtes,
             |pairs AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
             |  WHERE bit_count(xor(a.sig, b.sig)) <= $PhashRadius),
             |edges AS (
             |  SELECT id_a AS u, id_b AS v FROM pairs
             |  UNION SELECT id_b AS u, id_a AS v FROM pairs),
             |reach(id, r) AS (
             |  SELECT u AS id, u AS r FROM edges
             |  UNION
             |  SELECT reach.id, e.v FROM reach JOIN edges e ON e.u = reach.r),
             |clusters AS (
             |  SELECT id, MIN(r) AS cid FROM reach GROUP BY id)
             |SELECT cid AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members,
             |  CAST(SUM(id) AS BIGINT) AS member_checksum
             |FROM clusters GROUP BY cid ORDER BY cluster_id""".stripMargin)),

    // VIDEO SCENE-CUT DETECTION: the frame-delta stage of a video
    // pipeline — the batched codec emits one exact-integer energy scalar
    // per frame stripe, then consecutive-frame deltas (one doc-partitioned
    // lag window) flag a cut wherever |Δe|·n_frames > Σe (the delta
    // exceeds the doc's mean frame energy — integer cross-multiplied, no
    // division). Per-doc rollup: frames, cuts, peak delta. This is how
    // keyframe extraction and shot-boundary sampling pick which frames a
    // vision encoder actually sees. Scale shape: codec map + ONE window
    // shuffle on doc_id (frames-per-doc is bounded, parallelizes
    // doc-ways) + map-side-combined rollup; payloads never shuffle.
    "mm_scene_cuts" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val blobs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), lit("fake/v1").as("fmt"),
            encode(col("text"), "UTF-8").as("content"))
          .as[MediaBlob]
        val frames = blobs
          .mapPartitions(_.grouped(FakeCodec.BatchSize)
            .flatMap(b => FakeCodec.frameEnergyBatch(b.toSeq)))
          .toDF("doc_id", "frame_id", "energy")
        val byDoc = Window.partitionBy(col("doc_id"))
          .orderBy(col("frame_id"))
        frames
          .withColumn("de", col("energy") - lag(col("energy"), 1).over(byDoc))
          .withColumn("total",
            sum(col("energy")).over(Window.partitionBy(col("doc_id"))))
          .withColumn("nf",
            count(lit(1)).over(Window.partitionBy(col("doc_id"))))
          .groupBy(col("doc_id")).agg(
            max(col("nf")).as("n_frames"),
            sum(when(abs(col("de")) * col("nf") > col("total"), 1L)
              .otherwise(0L)).as("n_cuts"),
            max(abs(col("de"))).as("max_delta"),
            max(col("total")).as("total_energy"))
          .orderBy(col("doc_id"))
      },
      // char (code-point) units throughout, matching the codec
      Some("""WITH base AS (
             |  SELECT doc_id, text,
             |    CAST(length(text) AS BIGINT) AS n,
             |    CAST(length(text) % 7 + 1 AS BIGINT) AS nf
             |  FROM documents),
             |fr AS (
             |  SELECT doc_id, nf, fid,
             |    coalesce(CAST(list_sum(list_transform(
             |      range(CAST(fid * n // nf + 1 AS INTEGER),
             |            CAST((fid + 1) * n // nf + 1 AS INTEGER)),
             |      i -> ascii(substr(text, i, 1)))) AS BIGINT), 0) AS e
             |  FROM (SELECT doc_id, n, nf, text, unnest(range(0, nf)) AS fid
             |        FROM base)),
             |d AS (
             |  SELECT doc_id, nf, e,
             |    e - lag(e) OVER (PARTITION BY doc_id ORDER BY fid) AS de,
             |    CAST(SUM(e) OVER (PARTITION BY doc_id) AS BIGINT) AS total
             |  FROM fr)
             |SELECT doc_id, CAST(MAX(nf) AS BIGINT) AS n_frames,
             |  CAST(SUM(CASE WHEN abs(de) * nf > total THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_cuts,
             |  CAST(MAX(abs(de)) AS BIGINT) AS max_delta,
             |  CAST(MAX(total) AS BIGINT) AS total_energy
             |FROM d GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // VOICE-ACTIVITY SEGMENTATION (VAD): the silence-trimming stage of a
    // speech pipeline — the codec's 256/128 analysis windows (the same
    // DSP stage mm_audio_windows verifies) are flagged voiced where mean
    // sample value clears 96 (energy > 96·n_samples, integer
    // cross-multiplied), then maximal voiced runs become segments via the
    // gaps-and-islands device (window_id minus voiced row_number — both
    // ride the SAME doc-partitioned sort). Per doc: windows, voiced
    // count, segment count, longest segment — what decides which spans a
    // speech encoder transcribes and which are dropped as silence.
    // Scale shape: codec map + one doc-partitioned window (bounded
    // windows-per-doc, parallelizes doc-ways) + map-side-combined
    // rollups; payloads never shuffle.
    "mm_audio_vad" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val blobs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), lit("fake/v1").as("fmt"),
            encode(col("text"), "UTF-8").as("content"))
          .as[MediaBlob]
        val wins = blobs
          .mapPartitions(_.grouped(FakeCodec.BatchSize)
            .flatMap(b => FakeCodec.audioWindowBatch(b.toSeq)))
          .toDF()
          .withColumn("voiced", col("energy") > col("n_samples") * 96L)
        val byDoc = Window.partitionBy(col("doc_id"))
          .orderBy(col("window_id"))
        val islands = wins.filter(col("voiced"))
          .withColumn("isl", col("window_id") -
            row_number().over(byDoc).cast(LongType))
          .groupBy(col("doc_id"), col("isl"))
          .agg(count(lit(1)).as("run"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_segments"), max(col("run")).as("longest"),
            sum(col("run")).as("n_voiced"))
        wins.groupBy(col("doc_id")).agg(count(lit(1)).as("n_windows"))
          .join(islands, Seq("doc_id"), "left")
          .selectExpr("doc_id", "n_windows",
            "coalesce(n_voiced, CAST(0 AS BIGINT)) AS n_voiced",
            "coalesce(n_segments, CAST(0 AS BIGINT)) AS n_segments",
            "coalesce(longest, CAST(0 AS BIGINT)) AS longest_segment")
          .orderBy(col("doc_id"))
      },
      Some("""WITH base AS (
             |  SELECT doc_id, text,
             |    CAST(octet_length(encode(text)) AS BIGINT) AS n
             |  FROM documents),
             |w AS (
             |  SELECT doc_id, unnest(range(0, n, 128)) AS start, n, text
             |  FROM base),
             |samp AS (
             |  SELECT doc_id, start // 128 AS wid,
             |    least(256, n - start) AS n_samples,
             |    CAST(list_sum(list_transform(
             |      range(CAST(start + 1 AS INTEGER),
             |            CAST(start + least(256, n - start) + 1 AS INTEGER)),
             |      i -> ascii(substr(text, i, 1)))) AS BIGINT) AS energy
             |  FROM w),
             |voiced AS (
             |  SELECT doc_id, wid,
             |    wid - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY wid)
             |      AS isl
             |  FROM samp WHERE energy > n_samples * 96),
             |runs AS (
             |  SELECT doc_id, isl, count(*) AS run
             |  FROM voiced GROUP BY doc_id, isl),
             |segs AS (
             |  SELECT doc_id, count(*) AS n_segments,
             |    CAST(MAX(run) AS BIGINT) AS longest,
             |    CAST(SUM(run) AS BIGINT) AS n_voiced
             |  FROM runs GROUP BY doc_id),
             |tot AS (SELECT doc_id, count(*) AS n_windows FROM samp
             |        GROUP BY doc_id)
             |SELECT t.doc_id, t.n_windows,
             |  coalesce(s.n_voiced, 0) AS n_voiced,
             |  coalesce(s.n_segments, 0) AS n_segments,
             |  coalesce(s.longest, 0) AS longest_segment
             |FROM tot t LEFT JOIN segs s ON t.doc_id = s.doc_id
             |ORDER BY t.doc_id""".stripMargin)),

    // BITRATE AUDIT — the storage-planning sheet per bitrate band: each
    // asset's bits-per-frame (payload bits over the codec's frame count,
    // exact integer division) buckets into 64-bit-wide bands, and the
    // band rollup carries asset counts, total payload bytes and the
    // band's observed bpf range. The read: which bitrate bands hold the
    // bytes (re-encode the top band first), and whether a feed is
    // emitting pathological outliers (a lone max_bpf far above its
    // band's min). Decode is the batched stub codec (real plumbing,
    // fake arithmetic — see FakeCodec); everything downstream is a
    // map-side-combined rollup, so the audit costs one decode pass at
    // any corpus size.
    "mm_bitrate_audit" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val blobs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), lit("fake/v1").as("fmt"),
            encode(col("text"), "UTF-8").as("content"))
          .as[MediaBlob]
        val feats = blobs
          .mapPartitions(_.grouped(FakeCodec.BatchSize)
            .flatMap(b => FakeCodec.decodeBatch(b.toSeq)))
          .toDF()
        feats
          .withColumn("bpf", expr("(n_bytes * 8) div n_frames"))
          .withColumn("bucket", expr("bpf div 64"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_assets"),
            sum(col("n_bytes")).as("total_bytes"),
            min(col("bpf")).as("min_bpf"),
            max(col("bpf")).as("max_bpf"))
          .orderBy(col("bucket"))
      },
      Some("""WITH f AS (
             |  SELECT
             |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             |    CAST((octet_length(encode(text)) * 8)
             |      // (octet_length(encode(text)) % 7 + 1) AS BIGINT)
             |      AS bpf
             |  FROM documents)
             |SELECT bpf // 64 AS bucket,
             |  count(*) AS n_assets,
             |  CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
             |  min(bpf) AS min_bpf, max(bpf) AS max_bpf
             |FROM f GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // A/V SYNC DRIFT — the container-health audit a video-ingest pipeline
    // runs before trusting timestamps: every sampled video frame (stub
    // codec's frame track, spread over the asset's sample clock) is
    // matched to the nearest PRIOR audio analysis window (the 128-stride
    // track mm_audio_windows emits) and the per-asset worst/total drift
    // reported — a drifting container corrupts any later audio-visual
    // alignment stage. The frame↔window match is the AS-OF join,
    // composed the scalable way (tag, union, one carry-forward window
    // pass over the per-asset timeline — q_asof_join's device, never a
    // range-join pair explosion); the oracle uses DuckDB's native ASOF
    // JOIN. 100 TB: both tracks are in-row fan-outs of the decode pass,
    // the timeline shuffles once on doc_id, and the report is a
    // per-asset rollup.
    "mm_av_sync_drift" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val feats = Tables.load(s, dir, "documents")
          .select(col("doc_id"), lit("fake/v1").as("fmt"),
            encode(col("text"), "UTF-8").as("content"))
          .as[MediaBlob]
          .mapPartitions(_.grouped(FakeCodec.BatchSize)
            .flatMap(b => FakeCodec.decodeBatch(b.toSeq)))
          .toDF()
        val frames = feats
          .select(col("doc_id"), col("n_bytes"), col("n_frames"),
            explode(sequence(lit(0L), col("n_frames") - 1, lit(2L)))
              .as("frame_id"))
          .select(col("doc_id"), col("frame_id"),
            (col("frame_id") * expr("n_bytes div n_frames")).as("ts"))
        val wins = feats
          .select(col("doc_id"),
            explode(sequence(lit(0L), col("n_bytes") - 1, lit(128L)))
              .as("ts"))
        // tag + union + carry-forward: kind 0 (window) sorts before kind
        // 1 (frame) at equal ts, so a window ON the frame instant matches
        val timeline = wins
          .select(col("doc_id"), col("ts"), lit(0).as("kind"),
            col("ts").as("ts_a"), lit(null).cast(LongType).as("frame_id"))
          .unionByName(frames
            .select(col("doc_id"), col("ts"), lit(1).as("kind"),
              lit(null).cast(LongType).as("ts_a"), col("frame_id")))
        val wCarry = Window.partitionBy(col("doc_id"))
          .orderBy(col("ts"), col("kind"))
          .rowsBetween(Window.unboundedPreceding, 0)
        timeline
          .withColumn("last_a",
            last(col("ts_a"), ignoreNulls = true).over(wCarry))
          .filter(col("kind") === 1)
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_frames_sampled"),
            max(col("ts") - col("last_a")).as("max_drift"),
            sum(col("ts") - col("last_a")).as("sum_drift"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH base AS (
             |  SELECT doc_id,
             |    CAST(octet_length(encode(text)) AS BIGINT) AS n
             |  FROM documents),
             |fr AS (
             |  SELECT doc_id, frame_id,
             |    frame_id * (n // (n % 7 + 1)) AS ts_f
             |  FROM (SELECT doc_id, n,
             |          unnest(range(0, n % 7 + 1, 2)) AS frame_id
             |        FROM base)),
             |aw AS (
             |  SELECT doc_id, unnest(range(0, n, 128)) AS ts_a FROM base),
             |m AS (
             |  SELECT fr.doc_id, fr.ts_f, aw.ts_a
             |  FROM fr ASOF JOIN aw
             |    ON fr.doc_id = aw.doc_id AND fr.ts_f >= aw.ts_a)
             |SELECT doc_id,
             |  CAST(count(*) AS BIGINT) AS n_frames_sampled,
             |  CAST(MAX(ts_f - ts_a) AS BIGINT) AS max_drift,
             |  CAST(SUM(ts_f - ts_a) AS BIGINT) AS sum_drift
             |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin))
  )
}
