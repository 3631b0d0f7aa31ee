package graft.queries

import graft.functions.TextFunctions._
import graft.operators.Pairs
import graft.{QueryDef, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Deduplication operators over `documents` / `embeddings` — the corpus-
 * cleaning stage of a training-data pipeline. Scale design notes:
 *
 *  - Exact dedup is one hash-groupBy (single shuffle on a 60-bit key).
 *  - MinHash+LSH is the 100 TB path for near-dup: signatures are a pure map,
 *    the band explosion multiplies rows by #bands (4×), and the only shuffle
 *    is the band-key self-join whose buckets are tiny by construction —
 *    never an O(n²) cross product. Candidate pairs then get exact Jaccard
 *    verification.
 *  - SimHash (60-bit sig) joins on (lang, band, 15-bit band value) — the
 *    same banding pattern as LSH, 32,768 buckets per band.
 *  - Embedding near-dup blocks on the cluster label (stand-in for a coarse
 *    quantizer cell), keeping the pair count linear in cluster size.
 *
 * All thresholds are calibrated to the synthetic corpus (it plants ~25
 * pairs with word-3-gram Jaccard ≈ 1.0; max same-label cosine ≈ 0.55).
 */
object DedupQueries {

  import org.apache.spark.sql.{Column, DataFrame, SparkSession}

  /** SimHash signature width: the word-hash entropy both engines share
    * (60-bit md5 prefix — HashUtil.md5Long60 / sqlMd5Long). */
  val SimHashBits = 60
  /** Band count for simhash LSH blocking: 4 bands of 15 bits → 2^15 =
    * 32,768 buckets per band; Hamming ≤ 3 ⇒ ≥ 1 band agrees (pigeonhole). */
  val SimHashBands = 4

  /** Verified MinHash-LSH duplicate pairs (id_a < id_b, jac ≥ 0.5) over
    * the documents table — [[minhashCandidatesOf]]'s candidates verified
    * by exact shingle Jaccard; shared with the clustering step. */
  private def minhashPairs(s: SparkSession, dir: String): DataFrame =
    minhashPairsOf(Tables.load(s, dir, "documents"))

  /** Near-dup cluster assignments (id, component) for the documents
    * table: MinHash-LSH verified pairs closed by star-contraction CC.
    * The closure is deterministic, so the assignment is a write-once
    * artifact: six queries (cluster table, filtered corpus, funnel,
    * downweighted sample, keep-best, quality-by-size) previously each
    * re-ran the identical ~1.5 s pairs + O(log² n)-round closure. This is
    * also the production shape: dedup clusters are computed once per
    * corpus snapshot and every downstream consumer reads the assignment
    * table. Bump the version when the pair generation or the closure
    * changes shape. */
  private def docClusters(s: SparkSession, dir: String): DataFrame = {
    val out = graft.Artifacts.once("doc_clusters", version = 1, dir) { stage =>
      graft.QueryUtil.writeArtifact(graft.operators.ConnectedComponents
        .components(minhashPairs(s, dir), "id_a", "id_b"),
        "id", s"$stage/clusters")
    }
    s.read.parquet(s"$out/clusters")
  }

  /** Semantic near-dup cluster assignments (vec_id, cluster_id) over the
    * embeddings table: label-blocked cosine pairs closed by
    * star-contraction CC. A write-once artifact, instead of re-paying ~5
    * eager closure rounds of job fixed cost per execution. Bump the
    * version when the cosine-pair generation or the closure changes
    * shape. */
  private def semanticClusters(s: SparkSession, dir: String): DataFrame = {
    val out = graft.Artifacts.once("semantic_clusters", version = 1, dir) { stage =>
      graft.QueryUtil.writeArtifact(graft.operators.ConnectedComponents
        .components(cosinePairs(s, dir), "id_a", "id_b")
        .select(col("id").as("vec_id"), col("component").as("cluster_id")),
        "vec_id", s"$stage/clusters")
    }
    s.read.parquet(s"$out/clusters")
  }

  /** Band-fold modulus for the band-config SWEEP: 2^55, because its
    * widest layout folds 8 signature entries and the default 2^60 would
    * let acc·31 overflow int64 in both engines mid-fold (see
    * TextFunctions.bandKeys). Sweep keys only ever join sweep keys, so
    * the distinct key space from the production 4×4 index is harmless. */
  private val SweepM = 36028797018963968L

  /** Document-frequency cap for the exact-Jaccard TRUTH passes
    * (lsh_recall / band_sweep): a shingle posted by more than this many
    * documents is boilerplate and leaves the truth's Jaccard space
    * entirely — both the intersection counts and the per-doc sizes —
    * bounding the truth self-join's per-key fan-in the same way
    * dedup_winnow_pairs caps its fingerprint index. The truth is a
    * calibration sample; the cap is mirrored verbatim in the oracle CTE
    * so both engines measure recall on the identical capped space. */
  private[graft] val TruthDfCap = 64

  /** Document-frequency cap for the winnowed-fingerprint index — shared
    * by `dedup_winnow_pairs`, the ×16 inflated census
    * (`dedup_inflated_winnow_cap`) and the composed exact→winnow
    * pipeline (`dedup_pipeline_exact_winnow`): a fingerprint posted by
    * more than this many documents is boilerplate and is dropped before
    * the bucket self-join, bounding per-key fan-in. */
  private[graft] val WinnowFpCap = 8

  /** Per-band-bucket member cap for the STREAMING LSH ingest state
    * ([[BucketState]] in `cdc_stream_lsh_ingest` and
    * `cdc_stream_dedup_clusters` stage 1) — the streaming analogue of
    * [[TruthDfCap]]. Without it, one hot band key (boilerplate text,
    * near-empty docs) accumulates O(corpus) ids in a single keyed-state
    * entry and emits O(bucket) pairs per arriving doc — unbounded state
    * AND unbounded per-event work. The cap is an ARRIVAL-RANK df-cap:
    * only the first `cap` documents ever INSERTED into a bucket are
    * indexed there; once `cap` insertions have been seen the bucket is
    * hot and later arrivals neither pair through it nor join it
    * (saturation is permanent — deletes free state but never re-open a
    * hot bucket, so the semantics are a pure function of the insert
    * order, mirrorable in SQL as `ROW_NUMBER() OVER (PARTITION BY band,
    * key ORDER BY doc_id) <= cap` since replay offsets arrive in doc_id
    * order). A pair missed in one hot bucket still surfaces through any
    * of the doc's other 3 bands — identical to how the batch df-cap
    * drops only boilerplate-keyed candidates. Both queries' oracle CTEs
    * mirror the EFFECTIVE cap ([[streamBucketCap]], so a sys-prop
    * override can never desynchronize engine and oracle); the default
    * is sized to bind NOTHING at sf0.01/sf0.1 (StreamBucketCapSpec
    * proves saturation semantics with a forced tiny cap, and asserts
    * the default never binds on the fixture). */
  private[graft] val StreamBucketCap = 4096

  /** Deterministic corpus-inflation factor for the cap-fire evidence
    * (`dedup_inflated_df_cap` + the ScaleCheck harness): each document
    * appears [[InflateK]] times under distinct ids (stride 10⁸), so
    * every key's df scales exactly ×K and the caps measurably bind. */
  private[graft] val InflateK = 16

  /** Spec-overridable effective cap (see [[StreamBucketCap]]). */
  private def streamBucketCap: Long =
    sys.props.getOrElse("graft.dedup.streamBucketCap",
      StreamBucketCap.toString).toLong

  /** df-capped inverted shingle index: keeps only postings whose key
    * appears in ≤ cap documents. The df aggregate combines map-side, so
    * a corpus-scale hot key costs one partial row per input partition —
    * never a fan-in — and the surviving index joins against itself with
    * per-key fan-in ≤ cap (PlanSpec pins both properties). */
  private[graft] def cappedShingleIndex(shEx: DataFrame,
      cap: Int): DataFrame =
    shEx.join(
      shEx.groupBy(col("h")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= cap).select(col("h")), "h")

  /** The lsh queries' doc sample: a deterministic quarter of the ids
    * (the oracle's `md5(CAST(id AS VARCHAR)) < '4'`). */
  private def sampled(c: Column): Column = md5(c.cast(StringType)) < lit("4")

  /** Band-bucket candidate pairs (id_a < id_b) of `ex(doc_id, band, key)`
    * that touch the sample. The gate runs before the dedup exchange (r13,
    * guide §2.3): the predicate is per pair, so the ~56% of pairs touching
    * no sampled doc are dropped before they are shuffled, not after. */
  private def sampledCands(ex: DataFrame): DataFrame =
    Pairs.withinKey(ex, Seq("band", "key"), "doc_id")
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .filter(sampled(col("id_a")) || sampled(col("id_b")))
      .dropDuplicates("id_a", "id_b")

  /** The lsh queries' exact truth: pairs (id_a < id_b) touching the sample
    * whose 3-shingle Jaccard over the df-capped index of `sigs(doc_id, sh)`
    * is ≥ 0.5. The cap (TruthDfCap, mirrored in the oracle) drops
    * boilerplate shingles from BOTH sides of the Jaccard, so a key's
    * posting list stays bounded at corpus scale. Shingle sets are
    * distinct, so |A∩B| is a countDistinct over the index and
    * |A∪B| = |A|+|B|-|A∩B|: the arrays are never joined to the pairs.
    *
    * Shared-shingle triples come from one evaluation of the capped index,
    * not a kept⋈kept probe that re-evaluated it once per side (r13, guide
    * §2.4): each key's posting list and its sampled sublist are collected
    * (a second collect_list over a codegen'd per-row predicate, since
    * collect_list drops nulls), and each sampled member s is paired with
    * every partner d ≠ s. `array_remove(ds, s)` is the codegen form of
    * `filter(ds, y -> y != s)`, whose lambda is interpreted per element
    * (r13 §2a). After least/greatest this is the sampled-a ⋈ any-b join,
    * and countDistinct(h) absorbs its both-sampled double emission. */
  private def sampledTruth(sigs: DataFrame): DataFrame = {
    val kept = cappedShingleIndex(
      sigs.select(col("doc_id"), explode(col("sh")).as("h")), TruthDfCap)
    val sizes = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    kept
      .groupBy(col("h")).agg(collect_list(col("doc_id")).as("ds"),
        collect_list(when(sampled(col("doc_id")), col("doc_id"))).as("ss"))
      .select(col("h"), explode(col("ss")).as("s"), col("ds"))
      .select(col("h"), col("s"),
        explode(array_remove(col("ds"), col("s"))).as("d"))
      .select(col("h"), least(col("s"), col("d")).as("id_a"),
        greatest(col("s"), col("d")).as("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(countDistinct(col("h")).as("i"))
      .join(sizes.select(col("doc_id").as("id_a"), col("n").as("na")),
        "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("n").as("nb")),
        "id_b")
      .filter(round(col("i").cast(DoubleType)
        / (col("na") + col("nb") - col("i")), 6) >= 0.5d)
      .select(col("id_a"), col("id_b"))
  }

  /** The candidate-generation half of the LSH index: `sigs` is the cached
    * signature table, `cands` the deduped candidate pairs. */
  private case class LshIndex(sigs: DataFrame, cands: DataFrame)

  /** LSH candidate generation over any (doc_id, text) relation — ONE
    * definition of the calibration constants (3-shingles, 16 hashes,
    * 4×4 bands) serving the verified-pair pipeline AND the
    * estimator-calibration query. `probeFilter` switches from the
    * symmetric self-join to the ASYMMETRIC incremental probe: only band
    * buckets containing a probe-side (new) document generate candidates,
    * so candidate cost scales with the ingest batch, not the corpus.
    * `keepSig` additionally retains the raw 16-slot signature in the
    * cached table (the calibration query needs it; the pairs path caches
    * the narrower (doc_id, sh, bands) projection). */
  private def minhashCandidatesOf(d: DataFrame,
      probeFilter: Option[org.apache.spark.sql.Column] = None,
      keepSig: Boolean = false): LshIndex = {
    val sigs = d.select(col("doc_id"),
        shingleHashes(col("text"), 3).as("sh"))
      .withColumn("sig", minHashSignature(col("sh"), 16))
      .withColumn("bands", bandKeys(col("sig"), 4, 4))
      .select((Seq("doc_id", "sh") ++ (if (keepSig) Seq("sig") else Nil)
        ++ Seq("bands")).map(col): _*)
      .cache()
    val exploded = sigs.select(col("doc_id"),
      posexplode(col("bands")).as(Seq("band", "key")))
    val cands = probeFilter match {
      case None =>
        Pairs.withinKey(exploded, Seq("band", "key"), "doc_id")
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
          .dropDuplicates("id_a", "id_b")
      case Some(isNew) =>
        exploded.filter(isNew).as("a")
          .join(exploded.as("b"),
            col("a.band") === col("b.band") && col("a.key") === col("b.key")
              && col("a.doc_id") =!= col("b.doc_id"))
          .select(least(col("a.doc_id"), col("b.doc_id")).as("id_a"),
            greatest(col("a.doc_id"), col("b.doc_id")).as("id_b"))
          .dropDuplicates("id_a", "id_b")
    }
    LshIndex(sigs, cands)
  }

  private def minhashPairsOf(d: DataFrame,
      probeFilter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val ix = minhashCandidatesOf(d, probeFilter)
    val sets = ix.sigs.select(col("doc_id"), col("sh"))
    ix.cands
      .join(sets.select(col("doc_id").as("id_a"), col("sh").as("sh_a")),
        "id_a")
      .join(sets.select(col("doc_id").as("id_b"), col("sh").as("sh_b")),
        "id_b")
      .withColumn("jac", round(jaccard(col("sh_a"), col("sh_b")), 6))
      .filter(col("jac") >= 0.5d)
      .select(col("id_a"), col("id_b"), col("jac"))
  }

  /** Norm-hoisted label-blocked cosine pairs over embeddings — shared by
    * the pairs query and the semantic-clusters closure (one threshold, one
    * blocking key for both). */
  private def cosinePairs(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding"),
        norm(col("embedding")).as("nrm"))
      .cache()
    Pairs.withinKey(e, Seq("label"), "vec_id")
      .withColumn("cos", round(
        dot(col("a.embedding"), col("b.embedding"))
          / (col("a.nrm") * col("b.nrm")), 6))
      .filter(col("cos") >= 0.4d)
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        col("cos"))
  }

  /** The oracle CTE chain ending in `pairs(id_a, id_b, jac)` — the SQL twin
    * of [[minhashPairs]]. */
  private def minhashPairsCte: String = minhashPairsCteOver("documents")

  /** [[minhashPairsCte]] with the corpus taken from an arbitrary SQL
    * relation (must expose doc_id and text). */
  private def minhashPairsCteOver(relation: String): String = {
    val sh = sqlShingleHashes("text", 3)
    val sig = sqlMinHashSignature("sh", 16)
    val bands = sqlBandKeys("sig", 4, 4)
    val bandRows = (1 to 4)
      .map(i => s"SELECT doc_id, sh, $i AS band, bands[$i] AS key FROM sigs")
      .mkString("\n    UNION ALL ")
    s"""docs AS (SELECT doc_id, $sh AS sh FROM $relation),
       |sigs AS (SELECT doc_id, sh, $bands AS bands
       |         FROM (SELECT doc_id, sh, $sig AS sig FROM docs)),
       |brows AS ($bandRows),
       |cands AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM brows a JOIN brows b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       |pairs AS (
       |  SELECT id_a, id_b, jac FROM (
       |    SELECT c.id_a, c.id_b,
       |      round(${sqlJaccard("da.sh", "db.sh")}, 6) AS jac
       |    FROM cands c
       |    JOIN docs da ON da.doc_id = c.id_a
       |    JOIN docs db ON db.doc_id = c.id_b)
       |  WHERE jac >= 0.5)""".stripMargin
  }

  /** Winnowed-fingerprint postings (doc_id, fp) over any (doc_id, text)
    * relation — the native [[winnowedFps]] extraction `dedup_winnow_pairs`
    * introduced, factored so the inflated census and the composed
    * exact→winnow pipeline measure the SAME shipped device. */
  private[graft] def winnowFpsOf(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
      explode(winnowedFps(col("text"), 4, 8).getField("fps")).as("fp"))

  /** Candidate pairs sharing ≥ 2 surviving fingerprints, fp df-capped at
    * [[WinnowFpCap]] — the full `dedup_winnow_pairs` pipeline over an
    * arbitrary (doc_id, text) relation. Unordered; callers sort. */
  private[graft] def winnowPairsOf(d: DataFrame): DataFrame = {
    val fps = winnowFpsOf(d)
    val capped = fps.groupBy(col("fp"))
      .agg(count(lit(1)).as("dfc")).filter(col("dfc") <= WinnowFpCap)
      .select(col("fp"))
    // the fp df cap bounds each posting list at WinnowFpCap; a b⋈b
    // self-join would re-run the winnowedFps extraction (the expensive
    // per-document text pass) once per side
    Pairs.withinCappedKey(fps.join(capped, "fp"), Seq("fp"), "doc_id",
        out = ("doc_a", "doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
  }

  /** Oracle CTE chain ending in `fps(doc_id, fp)` — the SQL twin of
    * [[winnowFpsOf]] over `relation`. */
  private def winnowFpsCteOver(relation: String): String = {
    val hs = s"list_transform(${sqlShingles(sqlWords("text"), 4)}, " +
      s"s -> ${sqlMd5Long("s")})"
    s"""h AS (
       |  SELECT doc_id, hs, len(hs) AS n, greatest(len(hs)-7, 1) AS m
       |  FROM (SELECT doc_id, $hs AS hs FROM $relation)),
       |sel AS (
       |  SELECT doc_id,
       |    CASE WHEN n >= 1 THEN list_distinct(list_transform(
       |      range(0, m), i -> list_min(hs[i+1:i+8]))) END AS fp
       |  FROM h),
       |fps AS (SELECT doc_id, unnest(fp) AS fp FROM sel)""".stripMargin
  }

  /** Oracle CTE chain ending in `wpairs(doc_a, doc_b, n_shared)` — the
    * SQL twin of [[winnowPairsOf]] over `relation`. */
  private def winnowPairsCteOver(relation: String): String =
    s"""${winnowFpsCteOver(relation)},
       |capped AS (
       |  SELECT fp FROM fps GROUP BY fp HAVING count(*) <= $WinnowFpCap),
       |b AS (SELECT f.doc_id, f.fp FROM fps f
       |      JOIN capped c ON f.fp = c.fp),
       |wpairs AS (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |    CAST(count(*) AS BIGINT) AS n_shared
       |  FROM b x JOIN b y ON x.fp = y.fp AND x.doc_id < y.doc_id
       |  GROUP BY x.doc_id, y.doc_id
       |  HAVING count(*) >= 2)""".stripMargin

  /** Oracle CTE `corpus(doc_id, text)` — the SQL twin of
    * [[InflationProbes.inflate]] at ×[[InflateK]] over documents. */
  private def inflatedCorpusCte: String =
    s"""corpus AS (
       |  SELECT doc_id + 100000000 * i.i AS doc_id, text
       |  FROM documents, (SELECT unnest(range(0, $InflateK)) AS i) i)"""
      .stripMargin

  /** Changelog spec for the documents corpus: inserted rows are COPIES
    * (pk + 1e9, same text) — exact duplicates the dedup stage must catch. */
  private val docsSpec = graft.cdc.ChangelogGen.Spec(pk = "doc_id",
    measure = "n_chars", table = "documents")

  // ------------------------------------------------- streaming LSH ingest
  /** One exploded (band-bucket, document) event of the ingest stream. */
  case class BandEvt(band: Int, key: Long, doc_id: Long, off: Long,
      op: String, sig: Seq[Long])
  /** Live docs of one LSH band bucket (ids ∥ sigs, arrival order).
    * `arrivals` counts every insert EVER routed to the bucket — the
    * [[StreamBucketCap]] saturation counter: ids/sigs only ever hold
    * docs whose arrival rank was ≤ cap, so state is bounded at cap
    * entries per bucket regardless of corpus size. */
  case class BucketState(ids: Seq[Long], sigs: Seq[Seq[Long]],
      arrivals: Long)
  /** A detected candidate pair: id_a arrived before id_b; est = matching
    * signature positions / 16 (exact k/16 doubles on both engines). */
  case class LshPair(id_a: Long, id_b: Long, est: Double)
  /** One stage-1 emission of the online LSH bucket state: op "p" = a
    * candidate pair (id_a arrived before id_b; m = matching signature
    * positions of 16), op "d" = a retired document (id_a; id_b/m
    * unused). Tombstones are emitted from band 0 only — every document
    * explodes into all 4 bands, so exactly one group owns the
    * retirement. */
  case class BucketEvt(op: String, id_a: Long, id_b: Long, m: Int)

  /** THE canonical stage-1 fold of the streaming LSH ingest — shared by
    * `cdc_stream_lsh_ingest`, `cdc_stream_dedup_clusters` and the
    * ScaleCheck inflation harness, so the [[StreamBucketCap]] semantics
    * exist exactly once: deletes retire a doc from its bucket (and emit
    * one band-0 tombstone); an insert whose bucket has seen fewer than
    * `cap` insertions pairs against the live members (m ≥ 8 of 16
    * matching positions emits) and joins the bucket; past `cap` the
    * bucket is hot and the arrival neither pairs nor stores. */
  private[graft] def bucketStep(cap: Long)(
      key: (Int, Long), rows: Iterator[BandEvt],
      state: org.apache.spark.sql.streaming.GroupState[BucketState])
      : Iterator[BucketEvt] = {
    import graft.cdc.ChangeRecord.RowKind
    var st = state.getOption.getOrElse(BucketState(Nil, Nil, 0L))
    val out = Seq.newBuilder[BucketEvt]
    // offset order = arrival order (offsets are unique)
    rows.toSeq.sortBy(_.off).foreach { e =>
      if (e.op == RowKind.Delete) {
        val i = st.ids.indexOf(e.doc_id)
        if (i >= 0) st = BucketState(
          st.ids.patch(i, Nil, 1), st.sigs.patch(i, Nil, 1), st.arrivals)
        if (e.band == 0) out += BucketEvt("d", e.doc_id, -1L, 0)
      } else {
        // NO-REINSERT PRECONDITION — enforced on EVERY insert event, cap
        // or not: each doc_id is inserted into a bucket at most once over
        // the stream's lifetime (the replay fixtures mint fresh ids for
        // re-posted content). A re-inserted id would consume a SECOND
        // arrival slot and re-pair, while the oracle's ROW_NUMBER mirror
        // ranks each (band, key, doc_id) once — a silent engine/oracle
        // divergence. Checked BEFORE the arrivals-cap branch so a
        // re-insert arriving after bucket saturation still fails loudly
        // instead of vanishing into the hot-bucket drop path; a
        // delete-then-reinsert cannot be detected without an unbounded
        // tombstone set, so that case stays a documented contract.
        require(!st.ids.contains(e.doc_id),
          s"bucketStep: re-insert of live doc_id=${e.doc_id} into bucket " +
            s"$key violates the no-reinsert precondition (oracle mirror " +
            "ranks each doc once)")
        if (st.arrivals < cap) {
          st.ids.zip(st.sigs).foreach { case (id, sg) =>
            val m = sg.iterator.zip(e.sig.iterator)
              .count { case (x, y) => x == y }
            if (m >= 8) out += BucketEvt("p", id, e.doc_id, m)
          }
          st = BucketState(st.ids :+ e.doc_id, st.sigs :+ e.sig,
            st.arrivals + 1L)
        } else {
          // hot bucket (StreamBucketCap): neither pair nor store
          st = BucketState(st.ids, st.sigs, st.arrivals + 1L)
        }
      }
    }
    state.update(st)
    out.result().iterator
  }

  // ---- Streaming winnow ingest (cdc_stream_winnow_ingest) ----

  /** One changelog document event entering the streaming winnow pipeline:
    * digest = md5(text) (the exact-dedup state key), fps = the doc's
    * winnowed fingerprints (computed BEFORE stage 1 so both the admit
    * and the retire path carry them). */
  case class WinnowDocEvt(digest: String, doc_id: Long, off: Long,
      op: String, fps: Seq[Long])
  /** Per-digest exact-dedup state: the LIVE survivor of this exact text
    * (live=false ⇒ the survivor was deleted and the digest is open for
    * re-admission). */
  case class DigestState(survivor: Long, live: Boolean)
  /** One fingerprint-bucket event (stage 2 input). */
  case class WinnowFpEvt(fp: Long, doc_id: Long, off: Long, op: String)
  /** Winnow bucket state: live member ids + lifetime insert-arrival
    * count (the [[WinnowFpCap]]-capped analogue of [[BucketState]];
    * no signatures — winnow pairing is pure co-occurrence). */
  case class WinnowBucketState(ids: Seq[Long], arrivals: Long)
  /** A shared-fingerprint co-occurrence emission: id_a arrived before
    * id_b; the batch post-pass counts these per pair (n_shared ≥ 2). */
  case class WinnowPairEvt(id_a: Long, id_b: Long)

  /** STAGE 1 of the streaming winnow ingest — per-digest EXACT-dedup
    * keyed state, applying the §4 pipeline-ORDER lesson
    * (`dedup_pipeline_exact_winnow`) at ingest time: exact copies must
    * die BEFORE fingerprint indexing, or every copy family floods its
    * fingerprint buckets. State is the LIVE survivor per md5(text):
    * the first arrival admits and becomes survivor; later identical
    * texts are suppressed (never reach the winnow index); deleting the
    * survivor retires it downstream AND re-opens the digest, so
    * re-posted content after a genuine removal is admitted as the new
    * survivor. Deletes of never-admitted duplicates are no-ops. Within
    * an insert-only prefix this is exactly digest → min-arrival doc. */
  private[graft] def digestStep(
      key: String, rows: Iterator[WinnowDocEvt],
      state: org.apache.spark.sql.streaming.GroupState[DigestState])
      : Iterator[WinnowDocEvt] = {
    import graft.cdc.ChangeRecord.RowKind
    var st = state.getOption
    val out = Seq.newBuilder[WinnowDocEvt]
    rows.toSeq.sortBy(_.off).foreach { e =>
      if (e.op == RowKind.Delete) {
        st match {
          case Some(s) if s.live && s.survivor == e.doc_id =>
            out += e
            st = Some(DigestState(e.doc_id, live = false))
          case _ => () // delete of a suppressed duplicate: nothing admitted
        }
      } else st match {
        case Some(s) if s.live => () // exact duplicate of a live survivor
        case _ =>
          st = Some(DigestState(e.doc_id, live = true))
          out += e
      }
    }
    st.foreach(state.update)
    out.result().iterator
  }

  /** STAGE 2 of the streaming winnow ingest — per-fingerprint bucket
    * state over exact-dedup SURVIVORS, with [[WinnowFpCap]] (the batch
    * index's df-cap) as the bucket's arrival-rank state cap: only the
    * first `cap` survivors ever inserted into a bucket are indexed
    * there; later arrivals neither pair through it nor join it
    * (saturation permanent, as in [[bucketStep]] — the SQL mirror is
    * ROW_NUMBER by arrival ≤ cap). An arriving survivor emits one
    * co-occurrence against every live member; deletes retire the doc
    * from the bucket without freeing its arrival slot. */
  private[graft] def winnowBucketStep(cap: Long)(
      key: Long, rows: Iterator[WinnowFpEvt],
      state: org.apache.spark.sql.streaming.GroupState[WinnowBucketState])
      : Iterator[WinnowPairEvt] = {
    import graft.cdc.ChangeRecord.RowKind
    var st = state.getOption.getOrElse(WinnowBucketState(Nil, 0L))
    val out = Seq.newBuilder[WinnowPairEvt]
    rows.toSeq.sortBy(_.off).foreach { e =>
      if (e.op == RowKind.Delete) {
        val i = st.ids.indexOf(e.doc_id)
        if (i >= 0) st = WinnowBucketState(st.ids.patch(i, Nil, 1),
          st.arrivals)
      } else {
        // same loud no-reinsert precondition as bucketStep, enforced on
        // every insert (stage 1 admits each doc_id at most once, and
        // fps-per-doc are distinct, so a violation is an upstream bug)
        require(!st.ids.contains(e.doc_id),
          s"winnowBucketStep: re-insert of live doc_id=${e.doc_id} into " +
            s"bucket $key violates the no-reinsert precondition")
        if (st.arrivals < cap) {
          st.ids.foreach(id => out += WinnowPairEvt(id, e.doc_id))
          st = WinnowBucketState(st.ids :+ e.doc_id, st.arrivals + 1L)
        } else {
          // hot bucket: neither pair nor store
          st = WinnowBucketState(st.ids, st.arrivals + 1L)
        }
      }
    }
    state.update(st)
    out.result().iterator
  }

  /** Spec-overridable effective streaming winnow bucket cap — defaults
    * to the batch index's [[WinnowFpCap]]: the df-cap IS the bucket
    * state cap, so the streaming index holds at most cap ids per
    * fingerprint by construction. The oracle mirrors the EFFECTIVE cap
    * (arrival-rank ≤ cap), and StreamWinnowCapSpec proves both the
    * forced-tiny-cap saturation semantics and the no-bind license (the
    * fixture's hottest fingerprint df ≤ 6 < 8, so pinned hashes are
    * cap-free — cap-fire evidence lives in the ×16 inflation family,
    * BASELINE §4). */
  private def streamWinnowCap: Long =
    sys.props.getOrElse("graft.dedup.streamWinnowCap",
      WinnowFpCap.toString).toLong

  /** Replay-log fixture: an EMPTY snapshot and the corpus itself arriving
    * through the log in three offset phases —
    *   1 + doc_id          every base document inserted,
    *   2·10⁹ + doc_id      docs with doc_id % 13 == 3 DELETED,
    *   4·10⁹ + doc_id      copies (doc_id + 10⁹) of docs with
    *                       doc_id % 100 == 1 inserted (dup injections).
    * Unlike [[docsSpec]]'s standard changelog (inserts before deletes),
    * the copies arrive AFTER the deletes, so ingest-time dedup state must
    * have retired deleted docs for the late pairs to be right. */
  private[queries] def prepareDocsReplay(s: SparkSession, sfDir: String): String = {
    import graft.cdc.ChangeRecord._
    val dir = graft.Artifacts.dir("cdcdb_docs_replay", sfDir)
    val base = Tables.load(s, sfDir, "documents")
    def img(over: Map[String, org.apache.spark.sql.Column]) =
      struct(base.schema.fieldNames.toSeq
        .map(c => over.getOrElse(c, col(c)).as(c)): _*)
    val nullImg = lit(null).cast(base.schema)
    def env(off: org.apache.spark.sql.Column, op: String,
        before: org.apache.spark.sql.Column,
        after: org.apache.spark.sql.Column)(d: org.apache.spark.sql.DataFrame) =
      d.select(off.as(OffsetCol), lit(op).as(OpCol), off.as(TsCol),
        lit("graft").as(DbCol), lit("documents").as(TableCol),
        before.as(BeforeCol), after.as(AfterCol))
    val ins = env(lit(1L) + col("doc_id"), ExternalOp.Create,
      nullImg, img(Map.empty))(base)
    val dels = env(lit(2000000000L) + col("doc_id"), ExternalOp.Delete,
      img(Map.empty), nullImg)(base.filter(col("doc_id") % 13 === 3))
    val copies = env(lit(4000000000L) + col("doc_id"), ExternalOp.Create,
      nullImg, img(Map("doc_id" -> (col("doc_id") + 1000000000L))))(
      base.filter(col("doc_id") % 100 === 1))
    graft.cdc.FileCdcDatabase.write(s, dir, "documents", "graft", "doc_id",
      snapshot = base.limit(0),
      changes = ins.unionByName(dels).unionByName(copies))
    dir
  }

  /** Idempotently materialize the documents CDC database for this SF. */
  private[queries] def prepareDocs(s: SparkSession, sfDir: String): String = {
    val dir = graft.Artifacts.dir("cdcdb_docs", sfDir)
    val base = Tables.load(s, sfDir, "documents")
    graft.cdc.FileCdcDatabase.write(s, dir, "documents", "graft",
      docsSpec.pk, snapshot = base,
      changes = graft.cdc.ChangelogGen.changes(base, docsSpec),
      snapshotPartitions = 8)
    dir
  }

  def defs: Map[String, QueryDef] = Map(

    // Byte-based chunk sizing on a WIDE table (Mongo's chunk.size.mb,
    // MongoDBSourceOptions.java:130-137): the snapshot row budget derives
    // from the dialect's metadata-only avg-row-size estimate, so the
    // kilobyte-wide documents rows get proportionally fewer rows per
    // chunk than a numeric table would — and the chunk/watermark merge
    // over those byte-sized chunks must reproduce the exact post-change
    // corpus, text payload included (md5 proves the wide column survived
    // the merge byte-for-byte).
    "cdc_chunk_size_mb" -> QueryDef(
      (s, dir0) => {
        val dir = prepareDocs(s, dir0)
        s.read.format("graft-cdc")
          .option("path", dir).option("table", "documents")
          .option("scan.startup.mode", "initial")
          .option("scan.incremental.snapshot.chunk.size.mb", "1")
          .load()
          .select(col("doc_id"), col("lang"), col("n_chars"),
            md5(col("text")).as("text_md5"))
          .orderBy(col("doc_id"))
      },
      Some {
        val state = graft.cdc.ChangelogGen.oracleFinalStateSql(docsSpec,
          Seq("doc_id", "lang", "n_chars", "text"), "documents")
        s"""SELECT doc_id, lang, n_chars, md5(text) AS text_md5
           |FROM ($state) ORDER BY doc_id""".stripMargin
      }),

    // LEAKAGE-FREE SPLIT ASSIGNMENT — train/val/test splitting that moves
    // each near-dup CLUSTER as a unit: hashing doc_ids independently
    // leaks near-duplicate content across splits (the classic eval
    // contamination bug — a val document whose twin sits in train), so
    // the split key is the CLUSTER id (singletons = their own id). Split
    // by the suite's reproducible md5-threshold device: h(cluster) % 10
    // → 0-7 train, 8 val, 9 test. The report carries per-split doc /
    // cluster / char counts plus the VERIFIED invariant: the number of
    // clusters straddling more than one split (must be 0 — the oracle
    // recomputes it from its own recursive closure, so a clustering or
    // hashing divergence surfaces as a nonzero count or a count
    // mismatch). Scale shape: reuses the stored cluster artifact; one
    // broadcast-sized join + a ≤3-row rollup on top of a pure-map hash.
    "sample_leakage_split" -> QueryDef(
      (s, dir) => {
        val clusters = docClusters(s, dir)
          .select(col("id").as("doc_id"), col("component").as("cid"))
        val withC = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("n_chars"))
          .join(broadcast(clusters), Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_chars"),
            coalesce(col("cid"), col("doc_id")).as("cluster_id"))
        val h = md5Long(concat(lit("lsp:"), col("cluster_id"))) % 10L
        val split = when(h <= 7, "train").when(h === 8, "val")
          .otherwise("test")
        val tagged = withC.withColumn("split", split)
        val leaky = tagged.groupBy(col("cluster_id"))
          .agg(countDistinct(col("split")).as("nsp"))
          .filter(col("nsp") > 1).agg(count(lit(1)).as("leaky"))
        tagged.groupBy(col("split")).agg(
            count(lit(1)).as("n_docs"),
            countDistinct(col("cluster_id")).as("n_clusters"),
            sum(col("n_chars")).as("n_chars_total"))
          .crossJoin(broadcast(leaky))
          .select(col("split"), col("n_docs"), col("n_clusters"),
            col("n_chars_total"), col("leaky").as("leaky_clusters"))
          .orderBy(col("split"))
      },
      Some {
        val h = s"(${sqlMd5Long("concat('lsp:', cluster_id)")} % 10)"
        s"""WITH RECURSIVE $minhashPairsCte,
           |edges AS (
           |  SELECT id_a AS u, id_b AS v FROM pairs
           |  UNION SELECT id_b AS u, id_a AS v FROM pairs),
           |reach(id, r) AS (
           |  SELECT u AS id, u AS r FROM edges
           |  UNION
           |  SELECT reach.id, e.v FROM reach JOIN edges e ON e.u = reach.r),
           |clusters AS (
           |  SELECT id AS doc_id, MIN(r) AS cid FROM reach GROUP BY id),
           |withc AS (
           |  SELECT d.doc_id, d.n_chars,
           |    coalesce(c.cid, d.doc_id) AS cluster_id
           |  FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id),
           |tagged AS (
           |  SELECT doc_id, n_chars, cluster_id,
           |    CASE WHEN $h <= 7 THEN 'train'
           |         WHEN $h = 8 THEN 'val' ELSE 'test' END AS split
           |  FROM withc),
           |leaky AS (
           |  SELECT CAST(COUNT(*) AS BIGINT) AS leaky_clusters FROM (
           |    SELECT cluster_id FROM tagged
           |    GROUP BY cluster_id HAVING COUNT(DISTINCT split) > 1))
           |SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |  CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
           |  CAST(SUM(n_chars) AS BIGINT) AS n_chars_total,
           |  (SELECT leaky_clusters FROM leaky) AS leaky_clusters
           |FROM tagged GROUP BY split ORDER BY split""".stripMargin
      }),

    // CDC → dedup composition, the pipeline the north star describes end
    // to end: the documents corpus arrives as a CDC changelog (inserts are
    // byte-identical COPIES under new ids, deletes retire docs), the
    // source materializes current state via the chunk/watermark merge, and
    // the LSH near-dup stage runs directly on that state — every inserted
    // copy must surface as a jac=1.0 pair with its surviving source, on
    // top of the corpus's planted near-dups. The oracle recomputes the
    // post-change corpus relationally and closes the same pair set.
    "cdc_dedup_pipeline" -> QueryDef(
      (s, dir0) => {
        val dir = prepareDocs(s, dir0)
        val current = s.read.format("graft-cdc")
          .option("path", dir).option("table", "documents")
          .option("scan.startup.mode", "initial")
          .option("scan.incremental.snapshot.chunk.size", "1000")
          .load()
          .select(col("doc_id"), col("text"))
        minhashPairsOf(current).orderBy(col("id_a"), col("id_b"))
      },
      Some {
        val fstate = graft.cdc.ChangelogGen.oracleFinalStateSql(
          docsSpec, Seq("doc_id", "text"), "documents")
        s"""WITH ${minhashPairsCteOver(s"($fstate)")}
           |SELECT id_a, id_b, jac FROM pairs
           |ORDER BY id_a, id_b""".stripMargin
      }),

    // INGEST-TIME streaming near-dup: the corpus arrives as a rate-limited
    // CDC stream (replay fixture: all inserts, then deletes, then late
    // duplicate injections) and LSH state is maintained ONLINE — keyed
    // state per band bucket holds the live docs' minhash signatures; each
    // arriving doc probes its 4 buckets, emits (earlier, later, est) pairs
    // with est = matching sig positions / 16 ≥ 0.5, and joins the bucket;
    // deletes retire docs from their buckets. This is dedup-at-ingest for
    // a continuously-growing corpus: per-doc cost is O(bucket), state is
    // O(live docs × bands), and NO batch job over the accumulated corpus
    // ever reruns. Pairs involving a doc deleted before the partner
    // arrived must NOT emit — the oracle encodes exactly that (copies
    // arrive after deletes, so deleted sources pair with nothing late).
    "cdc_stream_lsh_ingest" -> QueryDef(
      (s, dir0) => graft.QueryUtil.withShufflePartitions(s, 4) {
        import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
        import graft.cdc.ChangeRecord._
        import s.implicits._
        val dir = prepareDocsReplay(s, dir0)
        val nBase = Tables.load(s, dir0, "documents").count()
        val evts = s.readStream.format("graft-cdc")
          .option("path", dir).option("table", "documents")
          .option("scan.startup.mode", "earliest")
          .option("changelog.mode", "all")
          // several micro-batches so bucket state genuinely persists
          // across triggers (phase boundaries land mid-batch either way)
          .option("scan.stream.max-events-per-trigger",
            math.max(64L, nBase / 3).toString)
          .load()
          .filter(col(OpCol).isin(RowKind.Insert, RowKind.Delete))
          .select(col("doc_id"), col(OffsetCol).as("off"), col(OpCol).as("op"),
            minHashSignature(shingleHashes(col("text"), 3), 16).as("sig"))
          .select(posexplode(bandKeys(col("sig"), 4, 4)).as(Seq("band", "key")),
            col("doc_id"), col("off"), col("op"), col("sig"))
          .as[BandEvt]
        val pairs = evts.groupByKey(e => (e.band, e.key))
          .flatMapGroupsWithState[BucketState, BucketEvt](
            OutputMode.Append(), GroupStateTimeout.NoTimeout())(
            bucketStep(streamBucketCap))
          .filter(_.op == "p")
          .map(b => LshPair(b.id_a, b.id_b, b.m.toDouble / 16.0d))
        // the same pair surfaces in up to 4 band buckets (identical est)
        graft.QueryUtil.drain(pairs).dropDuplicates("id_a", "id_b")
          .orderBy(col("id_a"), col("id_b"))
      },
      Some {
        val sh = sqlShingleHashes("text", 3)
        val sig = sqlMinHashSignature("sh", 16)
        val bands = sqlBandKeys("sig", 4, 4)
        val bandRows = (1 to 4)
          .map(i => s"SELECT doc_id, sig, $i AS band, bands[$i] AS key FROM sigs")
          .mkString("\n    UNION ALL ")
        s"""WITH corpus AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + 1000000000, text FROM documents
           |  WHERE doc_id % 100 = 1),
           |docs AS (SELECT doc_id, $sh AS sh FROM corpus),
           |sigs AS (SELECT doc_id, sig, $bands AS bands
           |         FROM (SELECT doc_id, $sig AS sig FROM docs)),
           |brows AS ($bandRows),
           |-- StreamBucketCap mirror: replay offsets arrive in doc_id
           |-- order, so insertion rank per band bucket = ROW_NUMBER by
           |-- doc_id; only the first $streamBucketCap docs inserted into
           |-- a bucket are indexed there (cap does not bind at test SFs)
           |branks AS (
           |  SELECT doc_id, band, key,
           |    ROW_NUMBER() OVER (PARTITION BY band, key
           |                       ORDER BY doc_id) AS rk
           |  FROM brows),
           |cands AS (
           |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM branks a JOIN branks b
           |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
           |  WHERE a.rk <= $streamBucketCap AND b.rk <= $streamBucketCap),
           |est AS (
           |  SELECT c.id_a, c.id_b,
           |    CAST(len(list_filter(range(1, 17),
           |      i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / 16.0 AS est
           |  FROM cands c
           |  JOIN sigs sa ON sa.doc_id = c.id_a
           |  JOIN sigs sb ON sb.doc_id = c.id_b)
           |SELECT id_a, id_b, est FROM est
           |WHERE est >= 0.5
           |  -- a doc deleted in phase 2 is gone before any phase-3 copy
           |  -- arrives: base-source × copy pairs with a deleted source
           |  -- never form (base × base pairs all formed in phase 1)
           |  AND NOT (id_b >= 1000000000 AND id_a < 1000000000
           |           AND id_a % 13 = 3)
           |ORDER BY id_a, id_b""".stripMargin
      }),

    // INGEST-TIME streaming WINNOW dedup — the streaming twin of the
    // winnowing index (the fingerprint scheme with the ≥ w+k−1 match-
    // detection GUARANTEE), composed with the §4 pipeline-ORDER lesson
    // the batch side proved (dedup_pipeline_exact_winnow /
    // PipelineOrderSpec): stage 1 is per-digest EXACT-dedup keyed state
    // (first arrival survives; identical text never reaches the index;
    // a deleted survivor re-opens its digest), stage 2 is per-
    // fingerprint bucket state over the survivors with the batch
    // df-cap (WinnowFpCap) as the bucket's arrival-rank state cap —
    // two chained flatMapGroupsWithState stages in ONE streaming query.
    // Replay semantics the oracle encodes: every phase-3 exact copy of
    // a LIVE source is suppressed by stage 1 (the order lesson, now at
    // ingest time); a copy of a DELETED source is re-admitted and pairs
    // only against docs still live in its buckets; the cap is mirrored
    // as ROW_NUMBER ≤ cap (replay offsets arrive in doc_id order) and
    // binds nothing at test SFs — StreamWinnowCapSpec proves the
    // saturation semantics with a forced tiny cap plus the no-bind
    // license. Scale shape: state is O(live
    // digests) + O(buckets × cap), per-event work O(fps × cap); no
    // batch job over the accumulated corpus ever reruns.
    "cdc_stream_winnow_ingest" -> QueryDef(
      (s, dir0) => graft.QueryUtil.withShufflePartitions(s, 2) {
        import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
        import graft.cdc.ChangeRecord._
        import s.implicits._
        val dir = prepareDocsReplay(s, dir0)
        val nBase = Tables.load(s, dir0, "documents").count()
        val evts = s.readStream.format("graft-cdc")
          .option("path", dir).option("table", "documents")
          .option("scan.startup.mode", "earliest")
          .option("changelog.mode", "all")
          // several micro-batches so digest AND bucket state genuinely
          // persist across triggers (nBase/2 -> 3 triggers: phase
          // boundaries land mid-batch, late copies arrive with both
          // stages' state restored; each extra trigger costs ~0.8 s of
          // pure per-batch machinery x 2 stateful stages - BASELINE 3)
          .option("scan.stream.max-events-per-trigger",
            math.max(64L, nBase / 2).toString)
          .load()
          .filter(col(OpCol).isin(RowKind.Insert, RowKind.Delete))
          .select(md5(col("text")).as("digest"), col("doc_id"),
            col(OffsetCol).as("off"), col(OpCol).as("op"),
            coalesce(winnowedFps(col("text"), 4, 8).getField("fps"),
              array().cast("array<bigint>")).as("fps"))
          .as[WinnowDocEvt]
        val admitted = evts.groupByKey(_.digest)
          .flatMapGroupsWithState[DigestState, WinnowDocEvt](
            OutputMode.Append(), GroupStateTimeout.NoTimeout())(digestStep)
        val fpEvts = admitted.flatMap(e =>
          e.fps.map(fp => WinnowFpEvt(fp, e.doc_id, e.off, e.op)))
        val pairs = fpEvts.groupByKey(_.fp)
          .flatMapGroupsWithState[WinnowBucketState, WinnowPairEvt](
            OutputMode.Append(), GroupStateTimeout.NoTimeout())(
            winnowBucketStep(streamWinnowCap))
        // one emission per shared surviving bucket → the match count
        graft.QueryUtil.drain(pairs)
          .groupBy(col("id_a"), col("id_b"))
          .agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= 2)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some {
        s"""WITH surv AS (
           |  SELECT text, min(doc_id) AS sdoc FROM documents
           |  GROUP BY text),
           |-- stage-1 mirror: admitted docs = base survivors (first
           |-- arrival per digest) + the first copy of each text whose
           |-- base survivor was deleted in phase 2 (digest re-opened);
           |-- copies of live sources are suppressed — the order lesson
           |adm AS (
           |  SELECT sdoc AS doc_id, text FROM surv
           |  UNION ALL
           |  SELECT min(d.doc_id) + 1000000000 AS doc_id, d.text
           |  FROM documents d JOIN surv s ON d.text = s.text
           |  WHERE d.doc_id % 100 = 1 AND s.sdoc % 13 = 3
           |  GROUP BY d.text),
           |${winnowFpsCteOver("adm")},
           |-- stage-2 mirror: arrival rank per bucket (replay offsets
           |-- arrive in doc_id order: base phase then copy phase, both
           |-- ascending, and copy ids = source + 10^9 keep that order)
           |ranked AS (
           |  SELECT doc_id, fp,
           |    ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rk
           |  FROM fps),
           |idx AS (SELECT doc_id, fp FROM ranked WHERE rk <= $streamWinnowCap)
           |SELECT x.doc_id AS id_a, y.doc_id AS id_b,
           |  CAST(count(*) AS BIGINT) AS n_shared
           |FROM idx x JOIN idx y ON x.fp = y.fp AND x.doc_id < y.doc_id
           |-- a phase-2-deleted base doc is retired from its buckets
           |-- before any phase-3 copy arrives: no cross-phase pair forms
           |WHERE NOT (y.doc_id >= 1000000000 AND x.doc_id < 1000000000
           |           AND x.doc_id % 13 = 3)
           |GROUP BY x.doc_id, y.doc_id
           |HAVING count(*) >= 2
           |ORDER BY id_a, id_b""".stripMargin
      }),

    // STREAMING DUPLICATE CLUSTERING — the last leg of the end-to-end
    // streaming dedup pipeline: cdc_stream_lsh_ingest detects pairs at
    // ingest; THIS query maintains the cluster-id assignment (doc →
    // min id of its near-dup component) INCREMENTALLY as those pairs and
    // document retirements stream in, so every batch consumer reads the
    // same closure dedup_cluster_cc computes — without ever rerunning a
    // corpus-scale job. Design: a per-band-bucket union-find cannot span
    // buckets (components connect THROUGH shared docs across buckets),
    // and pure pair-union state cannot handle deletes (removing a bridge
    // doc SPLITS a cluster — decremental connectivity needs the edges).
    // So the maintenance is foreachBatch-incremental, the Spark-first
    // MERGE shape: per micro-batch, connectivity is recomputed ONLY over
    // the touched clusters' retained edge sets plus the batch's new
    // pairs — work ∝ Δ × duplicate-cluster size, never corpus — and the
    // assignment upserts/deletes land through the bucketed UpsertSink
    // merge (pruned bucket rewrites, the same sink the changelog
    // materializer ships). Edge state is cluster-tagged so an affected
    // cluster's edges pull by tag (a cid-bucketed table prunes this read
    // at 100 TB); docs whose last surviving edge disappears fall out of
    // the assignment (a delete upsert), exactly matching the batch
    // closure's members-of-≥2-doc-clusters surface. End-of-stream state
    // must hash-match the relational closure over the post-change corpus
    // — the oracle replays the same changelog's final state through the
    // same band/est pair semantics and a recursive-CTE closure.
    "cdc_stream_dedup_clusters" -> QueryDef(
      (s, dir0) => graft.QueryUtil.withShufflePartitions(s, 4) {
        import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
        import graft.cdc.ChangeRecord._
        import s.implicits._
        val dir = prepareDocsReplay(s, dir0)
        val out = graft.Artifacts.dir("stream_clusters",
          System.nanoTime().toString)
        val nBase = Tables.load(s, dir0, "documents").count()
        val evts = s.readStream.format("graft-cdc")
          .option("path", dir).option("table", "documents")
          .option("scan.startup.mode", "earliest")
          .option("changelog.mode", "all")
          // several micro-batches: cluster growth, merges and splits must
          // genuinely cross trigger boundaries
          .option("scan.stream.max-events-per-trigger",
            math.max(64L, nBase / 3).toString)
          .load()
          .filter(col(OpCol).isin(RowKind.Insert, RowKind.Delete))
          .select(col("doc_id"), col(OffsetCol).as("off"), col(OpCol).as("op"),
            minHashSignature(shingleHashes(col("text"), 3), 16).as("sig"))
          .select(posexplode(bandKeys(col("sig"), 4, 4)).as(Seq("band", "key")),
            col("doc_id"), col("off"), col("op"), col("sig"))
          .as[BandEvt]
        // stage 1 — the same online LSH bucket state as
        // cdc_stream_lsh_ingest, emitting verified pairs PLUS retirement
        // tombstones (from band 0 only: one tombstone per delete)
        val pairEvts = evts.groupByKey(e => (e.band, e.key))
          .flatMapGroupsWithState[BucketState, BucketEvt](
            OutputMode.Append(), GroupStateTimeout.NoTimeout())(
            bucketStep(streamBucketCap))
        // stage 2 — incremental closure maintenance. Two pieces of state:
        // `edges`, the retained cluster-tagged live edge set (LSH-sparse,
        // the same object the batch pipeline materializes; lineage-cut
        // per batch), and the UpsertSink assignment store — which doubles
        // as the doc → cluster LOOKUP (bucketed by doc_id: the per-batch
        // touched-doc probe is a pruned point read at scale, and the
        // end-of-stream result reads the store, so the merge path is what
        // the oracle checks). The per-batch closure is SIZE-GATED runtime
        // adaptivity: the recompute region is Δ-bounded (touched clusters
        // only), so the steady-state small delta repairs on the driver
        // with a union-find over the collected region — a bounded collect
        // on the same planning-stat budget as mergeInto's touched-bucket
        // scan — while a region past the gate falls back to the
        // distributed star contraction. Both paths emit identical min-id
        // components.
        var edges = Seq.empty[(Long, Long, Long)].toDF("cid", "a", "b")
        // overridable so the spec can force the distributed branch and
        // prove both closure paths agree (FallbackEquivalenceSpec)
        val repairGate = sys.props.getOrElse("graft.dedup.repairGate",
          "100000").toInt
        val q = pairEvts.toDF()
          .writeStream
          .foreachBatch { (batch0: DataFrame, bid: Long) =>
            val evs = batch0.collect() // Δ-sized: this batch's events
            if (evs.nonEmpty) {
              val delIds = evs.filter(_.getString(0) == "d")
                .map(_.getLong(1)).toSet
              val newPairsArr = evs.filter(_.getString(0) == "p")
                .map(r => (r.getLong(1), r.getLong(2))).distinct
              val touched = (newPairsArr.flatMap(p => Seq(p._1, p._2)) ++
                delIds).distinct.toSeq
              // clusters touched by this batch — a Δ-sized point probe of
              // the bucketed assignment store — PLUS those clusters'
              // retained edges, pulled in the SAME Spark job (r13, guide
              // §2.4: the steady-state batch was paying two driver-issued
              // jobs where one suffices). Correct because every stored
              // cluster id also tags ≥1 retained edge: assignment rows and
              // edge retags are written from the same repair with the same
              // find()-root ids, and members whose last edge disappears are
              // deleted from the store in that same batch — so the distinct
              // cids of the pulled edges ARE the probe's cluster set. (The
              // old two-job shape relied on the same invariant: members of
              // an edgeless stored cluster could never reach `gone`.)
              val probeCids =
                if (new java.io.File(out).isDirectory)
                  Some(graft.cdc.UpsertSink.readState(s, out)
                    .filter(col("doc_id").isInCollection(touched))
                    .select(col("cluster_id").as("cid")).distinct())
                else None
              // the recompute region: affected clusters' retained edges +
              // the batch's new pairs, minus anything touching a retired
              // doc (a retired doc's cluster is always affected, so
              // unaffected edges cannot touch it)
              val pulledTagged = probeCids match {
                case Some(p) => edges.join(broadcast(p), Seq("cid"))
                  .select(col("cid"), col("a"), col("b"))
                  .limit(repairGate).collect()
                  .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
                case None => Array.empty[(Long, Long, Long)]
              }
              val pulledArr = pulledTagged.map(t => (t._2, t._3))
              // past the gate the pull is truncated and so is its cid set —
              // the (rare) distributed fallback re-probes the store for the
              // complete affected set before re-pulling distributedly
              val affectedIds: Seq[Long] =
                if (pulledTagged.length < repairGate)
                  pulledTagged.map(_._1).distinct.toSeq
                else probeCids match {
                  // gate hit with no store yet (only when the gate is
                  // forced to 0 to exercise the fallback): nothing stored,
                  // nothing affected
                  case None => Seq.empty[Long]
                  case Some(p) => p.collect().map(_.getLong(0)).toSeq
                }
              val affected = affectedIds.toDF("cid")
              val (retagged, upsBase) =
                if (pulledArr.length < repairGate) {
                  // driver union-find repair — the steady-state path
                  val sub = (pulledArr ++ newPairsArr)
                    .filter(e => !delIds(e._1) && !delIds(e._2)).distinct
                  val parent =
                    scala.collection.mutable.Map.empty[Long, Long]
                  def find(x: Long): Long = {
                    var r = x
                    while (parent.getOrElse(r, r) != r) r = parent(r)
                    var c = x
                    while (parent.getOrElse(c, c) != c) {
                      val n = parent(c); parent(c) = r; c = n
                    }
                    r
                  }
                  sub.foreach { case (a, b) =>
                    val (ra, rb) = (find(a), find(b))
                    if (ra != rb) parent(math.max(ra, rb)) =
                      math.min(ra, rb)
                  }
                  val members = sub.flatMap(e => Seq(e._1, e._2)).distinct
                  val newAssign = members.map(d => (d, find(d)))
                  // members whose last surviving edge disappeared (incl.
                  // retired docs) get a DELETE — the assignment surface
                  // is exactly "docs in ≥2-doc clusters"
                  val oldMembers = pulledArr.flatMap(e => Seq(e._1, e._2))
                  val gone = ((oldMembers ++ delIds).distinct.toSet --
                    members).toSeq
                  (sub.map { case (a, b) => (find(a), a, b) }.toSeq
                      .toDF("cid", "a", "b"),
                    newAssign.map { case (d, c) => (d, c,
                        graft.cdc.ChangeRecord.RowKind.Insert) }.toSeq
                      .++(gone.map(d => (d, 0L,
                        graft.cdc.ChangeRecord.RowKind.Delete)))
                      .toDF("doc_id", "cluster_id",
                        graft.cdc.ChangeRecord.OpCol))
                } else {
                  // distributed fallback: the region outgrew the gate —
                  // star-contract it as DataFrames end to end
                  val delsDf = delIds.toSeq.toDF("d")
                  val sub = edges.join(broadcast(affected), Seq("cid"))
                    .select(col("a"), col("b"))
                    .unionByName(
                      newPairsArr.toSeq.toDF("a", "b"))
                    .join(delsDf.select(col("d").as("a")), Seq("a"),
                      "left_anti")
                    .join(delsDf.select(col("d").as("b")), Seq("b"),
                      "left_anti")
                  val cc = graft.operators.ConnectedComponents
                    .components(sub, "a", "b")
                  val newAssign = cc.select(col("id").as("doc_id"),
                    col("component").as("cluster_id"))
                  val oldMembers = (if (new java.io.File(out).isDirectory)
                      graft.cdc.UpsertSink.readState(s, out)
                        .select(col("doc_id"), col("cluster_id"))
                    else Seq.empty[(Long, Long)].toDF("doc_id",
                      "cluster_id"))
                    .join(broadcast(affected
                        .select(col("cid").as("cluster_id"))),
                      Seq("cluster_id"))
                    .select(col("doc_id"))
                  val gone = oldMembers
                    .unionByName(delIds.toSeq.toDF("doc_id")).distinct()
                    .join(newAssign.select(col("doc_id")), Seq("doc_id"),
                      "left_anti")
                  (sub.join(cc.select(col("id").as("a"),
                        col("component").as("cid")), "a")
                      .select(col("cid"), col("a"), col("b")),
                    newAssign.withColumn(graft.cdc.ChangeRecord.OpCol,
                        lit(graft.cdc.ChangeRecord.RowKind.Insert))
                      .unionByName(gone
                        .withColumn("cluster_id", lit(0L))
                        .withColumn(graft.cdc.ChangeRecord.OpCol,
                          lit(graft.cdc.ChangeRecord.RowKind.Delete))))
                }
              val prevEdges = edges
              edges = prevEdges
                .join(broadcast(affected), Seq("cid"), "left_anti")
                .unionByName(retagged).localCheckpoint(true)
              prevEdges.unpersist()
              graft.cdc.UpsertSink.mergeInto(s,
                upsBase.withColumn(graft.cdc.ChangeRecord.OffsetCol,
                  lit(bid)),
                Seq("doc_id"), out, numBuckets = 4)
            }
            ()
          }
          .trigger(Trigger.AvailableNow()).start()
        // materialize the final assignment BEFORE deleting the per-run
        // state dir — readState is a lazy parquet scan, and the
        // nanoTime-keyed dir would otherwise leak one orphaned bucketed
        // store per run (unbounded disk growth across Verify/Bench);
        // the finally covers the failure paths too (a failed stream or
        // checkpoint must not orphan the dir either)
        try {
          q.awaitTermination()
          graft.cdc.UpsertSink.readState(s, out)
            .select(col("doc_id"), col("cluster_id"))
            .orderBy(col("doc_id"))
            .localCheckpoint(true)
        } finally graft.QueryUtil.deleteRecursively(new java.io.File(out))
      },
      Some {
        val sh = sqlShingleHashes("text", 3)
        val sig = sqlMinHashSignature("sh", 16)
        val bands = sqlBandKeys("sig", 4, 4)
        val bandRows = (1 to 4)
          .map(i => s"SELECT doc_id, alive, $i AS band, bands[$i] AS key FROM sigs")
          .mkString("\n    UNION ALL ")
        // final corpus state of the replay log: base docs minus the
        // phase-2 deletes (%13==3), plus the phase-3 copies (%100==1,
        // id+1e9 — a copy outlives its deleted source). Pairs between two
        // docs both alive at end-of-stream ALWAYS formed at ingest
        // (copies arrive last, deletes precede them), so the stream's
        // surviving pair set equals the est-pairs over this state.
        s"""WITH RECURSIVE corpus AS (
           |  SELECT doc_id, text, (doc_id % 13 <> 3) AS alive
           |  FROM documents
           |  UNION ALL
           |  SELECT doc_id + 1000000000 AS doc_id, text, TRUE AS alive
           |  FROM documents WHERE doc_id % 100 = 1),
           |docs AS MATERIALIZED (
           |  SELECT doc_id, alive, $sh AS sh FROM corpus),
           |sigs AS MATERIALIZED (
           |  SELECT doc_id, alive, sig, $bands AS bands
           |  FROM (SELECT doc_id, alive, $sig AS sig FROM docs)),
           |brows AS MATERIALIZED ($bandRows),
           |-- StreamBucketCap mirror: insertion rank per band bucket is
           |-- computed over ALL inserts (deleted docs occupied arrival
           |-- slots at ingest), pairs form among alive rank-<=cap docs
           |branks AS (
           |  SELECT doc_id, alive, band, key,
           |    ROW_NUMBER() OVER (PARTITION BY band, key
           |                       ORDER BY doc_id) AS rk
           |  FROM brows),
           |cands AS MATERIALIZED (
           |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM branks a JOIN branks b
           |    ON a.band = b.band AND a.key = b.key
           |    AND a.doc_id < b.doc_id
           |  WHERE a.alive AND b.alive
           |    AND a.rk <= $streamBucketCap AND b.rk <= $streamBucketCap),
           |p AS MATERIALIZED (
           |  SELECT id_a, id_b FROM (
           |    SELECT c.id_a, c.id_b,
           |      CAST(len(list_filter(range(1, 17),
           |        i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / 16.0 AS est
           |    FROM cands c
           |    JOIN sigs sa ON sa.doc_id = c.id_a
           |    JOIN sigs sb ON sb.doc_id = c.id_b)
           |  WHERE est >= 0.5),
           |edges AS MATERIALIZED (
           |  SELECT id_a AS u, id_b AS v FROM p
           |  UNION SELECT id_b AS u, id_a AS v FROM p),
           |reach(id, r) AS (
           |  SELECT u AS id, u AS r FROM edges
           |  UNION
           |  SELECT reach.id, e.v FROM reach JOIN edges e ON e.u = reach.r)
           |SELECT id AS doc_id, CAST(MIN(r) AS BIGINT) AS cluster_id
           |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin
      }),

    // Exact dedup: normalize → hash → keep the smallest doc_id per hash.
    // (The corpus has no exact dups, so survivors == all docs — the oracle
    // still exercises the keep-first-by-key semantics.)
    "dedup_exact" -> QueryDef(
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        d.groupBy(md5(lower(trim(col("text")))).as("text_hash"))
          .agg(min(col("doc_id")).as("keep_id"),
            count(lit(1)).as("n_copies"))
          .select(col("keep_id"), col("n_copies"))
          .orderBy(col("keep_id"))
      },
      Some("""SELECT min(doc_id) AS keep_id, count(*) AS n_copies
             |FROM documents GROUP BY md5(lower(trim(text)))
             |ORDER BY keep_id""".stripMargin)),

    // MinHash + LSH near-dup: 16-hash signature over word-3-shingles,
    // 4 bands × 4 rows → band-key self-join → exact-Jaccard verify ≥ 0.5.
    // The signature table is materialized (cache) before the self-join:
    // without the barrier, Catalyst inlines the bands→sig→shingles alias
    // chain under the Generate and recomputes the MinHash per exploded row
    // (measured 40× slowdown); at corpus scale this table is written to
    // storage between the two phases for the same reason.
    "dedup_minhash_lsh" -> QueryDef(
      (s, dir) => minhashPairs(s, dir).orderBy(col("id_a"), col("id_b")),
      Some(s"""WITH $minhashPairsCte
              |SELECT id_a, id_b, jac FROM pairs
              |ORDER BY id_a, id_b""".stripMargin)),

    // MINHASH ESTIMATOR CALIBRATION: for every LSH candidate pair (band
    // buckets BEFORE Jaccard verification — the false positives are the
    // point), the sketch-side similarity estimate (matching signature
    // positions / 16) against the exact shingle Jaccard. This is the
    // measurement that justifies the index parameters: the estimate's
    // spread at the 0.5 decision boundary tells you whether 16 hashes and
    // 4×4 bands are enough before a 100 TB dedup commits to them. Scale
    // shape: identical to the LSH pipeline itself (signature table cached
    // once, equi-join on band buckets, per-pair work bounded by the 16-slot
    // signature and the pair's own shingle sets) — the calibration is free
    // relative to the dedup it audits. Integers everywhere except the two
    // 6-dp-rounded ratio columns.
    "dedup_minhash_estimate" -> QueryDef(
      (s, dir) => {
        val ix = minhashCandidatesOf(Tables.load(s, dir, "documents"),
          keepSig = true)
        val side = ix.sigs.select(col("doc_id"), col("sh"), col("sig"))
        ix.cands
          .join(side.select(col("doc_id").as("id_a"), col("sh").as("sh_a"),
            col("sig").as("sig_a")), "id_a")
          .join(side.select(col("doc_id").as("id_b"), col("sh").as("sh_b"),
            col("sig").as("sig_b")), "id_b")
          .withColumn("est_matches", aggregate(
            zip_with(col("sig_a"), col("sig_b"),
              (x, y) => when(x === y, 1L).otherwise(0L)),
            lit(0L), (acc, x) => acc + x))
          .withColumn("est_jac",
            round(col("est_matches").cast(DoubleType) / 16.0d, 6))
          .withColumn("true_jac", round(jaccard(col("sh_a"), col("sh_b")), 6))
          .select(col("id_a"), col("id_b"), col("est_matches"),
            col("est_jac"), col("true_jac"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some {
        val sh = sqlShingleHashes("text", 3)
        val sig = sqlMinHashSignature("sh", 16)
        val bands = sqlBandKeys("sig", 4, 4)
        val bandRows = (1 to 4)
          .map(i => s"SELECT doc_id, $i AS band, bands[$i] AS key FROM sigs")
          .mkString("\n    UNION ALL ")
        val est = "list_sum(list_transform(range(1, 17), " +
          "i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END))"
        s"""WITH docs AS (SELECT doc_id, $sh AS sh FROM documents),
           |sigs AS (SELECT doc_id, sh, sig, $bands AS bands
           |         FROM (SELECT doc_id, sh, $sig AS sig FROM docs)),
           |brows AS ($bandRows),
           |cands AS (
           |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM brows a JOIN brows b
           |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
           |SELECT c.id_a, c.id_b,
           |  CAST($est AS BIGINT) AS est_matches,
           |  round(CAST($est AS DOUBLE) / 16.0, 6) AS est_jac,
           |  round(${sqlJaccard("sa.sh", "sb.sh")}, 6) AS true_jac
           |FROM cands c
           |JOIN sigs sa ON sa.doc_id = c.id_a
           |JOIN sigs sb ON sb.doc_id = c.id_b
           |ORDER BY c.id_a, c.id_b""".stripMargin
      }),

    // B-BIT MINWISE HASHING (Li & König) — the storage-compression step
    // after MinHash: keep only the lowest b=4 bits of each of the 16
    // signature slots (4x smaller sketches; at 100 TB the sketch table is
    // the thing you store and ship, so bits-per-slot is real money). The
    // collision floor is corrected exactly: a non-matching slot agrees by
    // chance 2^-b of the time, so E[m/k] = J + (1−J)/2^b and
    // Ĵ = (m/k − 2^-b)/(1 − 2^-b) = (m−1)/15 at b=4, k=16 — clamped at 0,
    // reported beside the full-width estimate and the exact Jaccard so
    // the compression's calibration cost is measured, not assumed. Same
    // scale shape as the estimator-calibration query (cached signature
    // table, banded candidates, per-pair work bounded by the sketch).
    "dedup_bbit_minwise" -> QueryDef(
      (s, dir) => {
        val ix = minhashCandidatesOf(Tables.load(s, dir, "documents"),
          keepSig = true)
        val side = ix.sigs.select(col("doc_id"), col("sh"), col("sig"))
        val matchesOf = (mask: Long) => aggregate(
          zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x.bitwiseAND(lit(mask)) ===
              y.bitwiseAND(lit(mask)), 1L).otherwise(0L)),
          lit(0L), (acc, x) => acc + x)
        ix.cands
          .join(side.select(col("doc_id").as("id_a"), col("sh").as("sh_a"),
            col("sig").as("sig_a")), "id_a")
          .join(side.select(col("doc_id").as("id_b"), col("sh").as("sh_b"),
            col("sig").as("sig_b")), "id_b")
          .withColumn("m_full", matchesOf(-1L))
          .withColumn("m_b4", matchesOf(15L))
          .withColumn("est_full",
            round(col("m_full").cast(DoubleType) / 16.0d, 6))
          .withColumn("est_b4", round(
            greatest(col("m_b4") - 1L, lit(0L)).cast(DoubleType) / 15.0d, 6))
          .withColumn("true_jac", round(jaccard(col("sh_a"), col("sh_b")), 6))
          .select(col("id_a"), col("id_b"), col("m_full"), col("m_b4"),
            col("est_full"), col("est_b4"), col("true_jac"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some {
        val sh = sqlShingleHashes("text", 3)
        val sig = sqlMinHashSignature("sh", 16)
        val bands = sqlBandKeys("sig", 4, 4)
        val bandRows = (1 to 4)
          .map(i => s"SELECT doc_id, $i AS band, bands[$i] AS key FROM sigs")
          .mkString("\n    UNION ALL ")
        def matches(mask: String) = "list_sum(list_transform(range(1, 17), " +
          s"i -> CASE WHEN (sa.sig[i] & $mask) = (sb.sig[i] & $mask) " +
          "THEN 1 ELSE 0 END))"
        s"""WITH docs AS (SELECT doc_id, $sh AS sh FROM documents),
           |sigs AS (SELECT doc_id, sh, sig, $bands AS bands
           |         FROM (SELECT doc_id, sh, $sig AS sig FROM docs)),
           |brows AS ($bandRows),
           |cands AS (
           |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM brows a JOIN brows b
           |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
           |SELECT id_a, id_b, m_full, m_b4,
           |  round(CAST(m_full AS DOUBLE) / 16.0, 6) AS est_full,
           |  round(CAST(greatest(m_b4 - 1, 0) AS DOUBLE) / 15.0, 6) AS est_b4,
           |  true_jac
           |FROM (
           |  SELECT c.id_a, c.id_b,
           |    CAST(${matches("-1")} AS BIGINT) AS m_full,
           |    CAST(${matches("15")} AS BIGINT) AS m_b4,
           |    round(${sqlJaccard("sa.sh", "sb.sh")}, 6) AS true_jac
           |  FROM cands c
           |  JOIN sigs sa ON sa.doc_id = c.id_a
           |  JOIN sigs sb ON sb.doc_id = c.id_b)
           |ORDER BY id_a, id_b""".stripMargin
      }),

    // CROSS-SOURCE NEAR-DUP MATRIX: the contamination map between corpus
    // sources — which (source, source) pairs share near-duplicate
    // documents, and how strongly. Drives source-level curation decisions
    // (drop a mirrored crawl, dedup one source against another). Scale
    // shape: the verified near-dup PAIR table (tiny relative to the
    // corpus) broadcasts onto two source lookups; the aggregate is
    // |sources|² rows. max(jac) is order-independent, so no float-sum
    // drift rides the matrix.
    "dedup_cross_source" -> QueryDef(
      (s, dir) => {
        val src = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("source"))
        minhashPairs(s, dir)
          .join(src.select(col("doc_id").as("id_a"),
            col("source").as("sa")), "id_a")
          .join(src.select(col("doc_id").as("id_b"),
            col("source").as("sb")), "id_b")
          .select(least(col("sa"), col("sb")).as("source_a"),
            greatest(col("sa"), col("sb")).as("source_b"), col("jac"))
          .groupBy(col("source_a"), col("source_b"))
          .agg(count(lit(1)).as("n_pairs"), max(col("jac")).as("max_jac"))
          .orderBy(col("source_a"), col("source_b"))
      },
      Some(s"""WITH $minhashPairsCte
              |SELECT least(da.source, db.source) AS source_a,
              |       greatest(da.source, db.source) AS source_b,
              |       CAST(COUNT(*) AS BIGINT) AS n_pairs,
              |       MAX(jac) AS max_jac
              |FROM pairs p
              |JOIN documents da ON p.id_a = da.doc_id
              |JOIN documents db ON p.id_b = db.doc_id
              |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // LSH RECALL measurement — the quality gate for the banded index (the
    // dedup twin of ann_ivf_recall). SAMPLING CONTRACT: ground truth is
    // exact Jaccard ≥ 0.5 restricted to pairs TOUCHING a deterministic
    // 1/4 doc sample (md5(doc_id) < '4'); candidates are the raw band
    // buckets BEFORE Jaccard verification, restricted the same way.
    // recall = |cand ∩ truth| / |truth| over the sampled pair universe —
    // the same statistical gate as the full closure, but the exact-truth
    // side is an ASYMMETRIC inverted-index join (sampled docs probe the
    // full shingle index), so its cost is ∝ sample size, never the
    // corpus-squared all-shared-pairs shape. One row.
    "dedup_lsh_recall" -> QueryDef(
      (s, dir) => {
        val sigs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), shingleHashes(col("text"), 3).as("sh"))
          .withColumn("bands", bandKeys(minHashSignature(col("sh"), 16), 4, 4))
          .cache()
        val cands = sampledCands(sigs.select(col("doc_id"),
          posexplode(col("bands")).as(Seq("band", "key"))))
        val truth = sampledTruth(sigs)
        truth.withColumn("t", lit(1))
          .join(cands.withColumn("c", lit(1)), Seq("id_a", "id_b"), "full")
          .agg(sum(col("t")).cast(LongType).as("n_truth"),
            sum(col("c")).cast(LongType).as("n_candidates"),
            sum(when(col("t").isNotNull && col("c").isNotNull, 1))
              .cast(LongType).as("n_hit"))
          .select(col("n_truth"), col("n_candidates"), col("n_hit"),
            when(col("n_truth") === 0, 1.0d)
              .otherwise(round(col("n_hit").cast(DoubleType)
                / col("n_truth"), 6)).as("recall"))
      },
      Some(s"""WITH $minhashPairsCte,
              |sh_ex AS (SELECT doc_id, unnest(sh) AS h FROM docs),
              |kept AS MATERIALIZED (
              |  SELECT doc_id, h FROM sh_ex WHERE h IN (
              |    SELECT h FROM sh_ex GROUP BY h
              |    HAVING count(*) <= $TruthDfCap)),
              |sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY 1),
              |inter AS (
              |  SELECT LEAST(a.doc_id, b.doc_id) AS id_a,
              |    GREATEST(a.doc_id, b.doc_id) AS id_b,
              |    COUNT(DISTINCT a.h) AS i
              |  FROM kept a JOIN kept b
              |    ON a.h = b.h AND a.doc_id <> b.doc_id
              |  WHERE md5(CAST(a.doc_id AS VARCHAR)) < '4'
              |  GROUP BY 1, 2),
              |truth AS (
              |  SELECT i.id_a, i.id_b
              |  FROM inter i
              |  JOIN sizes sa ON sa.doc_id = i.id_a
              |  JOIN sizes sb ON sb.doc_id = i.id_b
              |  WHERE round(CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i), 6)
              |    >= 0.5),
              |cands_s AS (
              |  SELECT id_a, id_b FROM cands
              |  WHERE md5(CAST(id_a AS VARCHAR)) < '4'
              |     OR md5(CAST(id_b AS VARCHAR)) < '4'),
              |m AS (
              |  SELECT
              |    CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth,
              |    CAST((SELECT COUNT(*) FROM cands_s) AS BIGINT)
              |      AS n_candidates,
              |    CAST((SELECT COUNT(*) FROM truth t JOIN cands_s c
              |          ON t.id_a = c.id_a AND t.id_b = c.id_b) AS BIGINT)
              |      AS n_hit)
              |SELECT n_truth, n_candidates, n_hit,
              |  CASE WHEN n_truth = 0 THEN 1.0
              |       ELSE round(CAST(n_hit AS DOUBLE) / n_truth, 6) END
              |    AS recall
              |FROM m""".stripMargin)),

    // LSH BAND-CONFIGURATION SWEEP — the (b, r) tuning table behind
    // dedup_lsh_recall's single accept gate: from ONE 16-hash signature
    // pass, three band layouts (2×8 strict, 4×4 production, 8×2 loose)
    // each generate their sampled candidate set, measured against the
    // SAME exact-Jaccard truth. The output is the measured s-curve
    // trade: more bands → more candidates AND more recall; the sweep
    // picks the cheapest layout that clears the recall floor BEFORE a
    // corpus-scale run commits to one. Same sampling contract as
    // lsh_recall (truth and candidates both restricted to pairs touching
    // the deterministic 1/4 doc sample, truth probed asymmetrically), so
    // the expensive truth side is paid ONCE for all three configs.
    "dedup_lsh_band_sweep" -> QueryDef(
      (s, dir) => {
        val sigs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), shingleHashes(col("text"), 3).as("sh"))
          .withColumn("sig", minHashSignature(col("sh"), 16))
          .cache()
        val truth = graft.operators.IterBarrier.cut(sampledTruth(sigs), 1,
          reliableEvery = 0)
        val rows = Seq((2, 8), (4, 4), (8, 2)).map { case (b, r) =>
          val ex = sigs.select(col("doc_id"),
            posexplode(bandKeys(col("sig"), b, r, SweepM))
              .as(Seq("band", "key")))
          val cands = sampledCands(ex)
          truth.withColumn("t", lit(1))
            .join(cands.withColumn("c", lit(1)), Seq("id_a", "id_b"), "full")
            .agg(sum(col("t")).cast(LongType).as("n_truth"),
              sum(col("c")).cast(LongType).as("n_candidates"),
              sum(when(col("t").isNotNull && col("c").isNotNull, 1))
                .cast(LongType).as("n_hit"))
            .select(lit(b.toLong).as("bands"),
              lit(r.toLong).as("rows_per_band"),
              col("n_truth"), col("n_candidates"), col("n_hit"),
              when(col("n_truth") === 0, 1.0d)
                .otherwise(round(col("n_hit").cast(DoubleType)
                  / col("n_truth"), 6)).as("recall"))
        }
        rows.reduce(_.unionByName(_)).orderBy(col("bands"))
      },
      Some {
        val sh = sqlShingleHashes("text", 3)
        val sig = sqlMinHashSignature("sh", 16)
        def candsCte(name: String, b: Int, r: Int): String = {
          val bands = sqlBandKeys("sig", b, r, SweepM)
          val bandRows = (1 to b)
            .map(i => s"SELECT doc_id, $i AS band, bands[$i] AS key " +
              s"FROM (SELECT doc_id, $bands AS bands FROM sigs)")
            .mkString("\n    UNION ALL ")
          s"""${name}_rows AS ($bandRows),
             |$name AS (
             |  SELECT id_a, id_b FROM (
             |    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |    FROM ${name}_rows a JOIN ${name}_rows b
             |      ON a.band = b.band AND a.key = b.key
             |      AND a.doc_id < b.doc_id)
             |  WHERE md5(CAST(id_a AS VARCHAR)) < '4'
             |     OR md5(CAST(id_b AS VARCHAR)) < '4')""".stripMargin
        }
        def point(name: String, b: Int, r: Int): String =
          s"""  SELECT CAST($b AS BIGINT) AS bands,
             |    CAST($r AS BIGINT) AS rows_per_band,
             |    CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth,
             |    CAST((SELECT COUNT(*) FROM $name) AS BIGINT)
             |      AS n_candidates,
             |    CAST((SELECT COUNT(*) FROM truth t JOIN $name c
             |          ON t.id_a = c.id_a AND t.id_b = c.id_b) AS BIGINT)
             |      AS n_hit""".stripMargin
        s"""WITH docs AS (SELECT doc_id, $sh AS sh FROM documents),
           |sigs AS MATERIALIZED (
           |  SELECT doc_id, $sig AS sig FROM docs),
           |sh_ex AS (SELECT doc_id, unnest(sh) AS h FROM docs),
           |kept AS MATERIALIZED (
           |  SELECT doc_id, h FROM sh_ex WHERE h IN (
           |    SELECT h FROM sh_ex GROUP BY h
           |    HAVING count(*) <= $TruthDfCap)),
           |sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY 1),
           |inter AS (
           |  SELECT LEAST(a.doc_id, b.doc_id) AS id_a,
           |    GREATEST(a.doc_id, b.doc_id) AS id_b,
           |    COUNT(DISTINCT a.h) AS i
           |  FROM kept a JOIN kept b
           |    ON a.h = b.h AND a.doc_id <> b.doc_id
           |  WHERE md5(CAST(a.doc_id AS VARCHAR)) < '4'
           |  GROUP BY 1, 2),
           |truth AS MATERIALIZED (
           |  SELECT i.id_a, i.id_b
           |  FROM inter i
           |  JOIN sizes sa ON sa.doc_id = i.id_a
           |  JOIN sizes sb ON sb.doc_id = i.id_b
           |  WHERE round(CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i), 6)
           |    >= 0.5),
           |${candsCte("c28", 2, 8)},
           |${candsCte("c44", 4, 4)},
           |${candsCte("c82", 8, 2)}
           |SELECT bands, rows_per_band, n_truth, n_candidates, n_hit,
           |  CASE WHEN n_truth = 0 THEN 1.0
           |       ELSE round(CAST(n_hit AS DOUBLE) / n_truth, 6) END
           |    AS recall
           |FROM (
           |${Seq(("c28", 2, 8), ("c44", 4, 4), ("c82", 8, 2))
             .map { case (n, b, r) => point(n, b, r) }
             .mkString("\n  UNION ALL\n")}
           |) ORDER BY bands""".stripMargin
      }),

    // ASYMMETRIC CONTAINMENT dedup — the quote/subset detector Jaccard
    // misses: a short document wholly contained in a long one has low
    // Jaccard (union is dominated by the long side) but containment
    // |A∩B| / min(|A|,|B|) ≈ 1. Same df-capped inverted-index shape as
    // dedup_ngram_jaccard_capped (per-key fan-in ≤ cap — hot-shingle-skew
    // safe), intersection counted from the index, sizes joined after —
    // arrays never touch the pair join.
    "dedup_containment" -> QueryDef(
      (s, dir) => {
        val cap = 100
        val d = Tables.load(s, dir, "documents")
        val docs = d.select(col("doc_id"), col("lang"), col("source"),
          shingleHashes(col("text"), 4).as("sh"))
          .cache()
        val tok = docs.select(col("doc_id"), col("lang"), col("source"),
          explode(col("sh")).as("h"))
        val dfreq = tok.groupBy(col("lang"), col("source"), col("h"))
          .agg(count(lit(1)).as("df"))
        val kept = tok.join(dfreq.filter(col("df") <= cap),
          Seq("lang", "source", "h"))
        val sizes = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        // pair counts from ONE capped-index evaluation, as in
        // dedup_ngram_jaccard_capped
        val inter = Pairs.withinCappedKey(kept, Seq("lang", "source", "h"),
            "doc_id")
          .groupBy(col("id_a"), col("id_b"))
          .agg(count(lit(1)).as("ni"))
        inter
          .join(sizes.select(col("doc_id").as("id_a"), col("n").as("na")),
            "id_a")
          .join(sizes.select(col("doc_id").as("id_b"), col("n").as("nb")),
            "id_b")
          .withColumn("cont", round(col("ni").cast(DoubleType) /
            least(col("na"), col("nb")).cast(DoubleType), 6))
          .filter(col("cont") >= 0.8d)
          .select(col("id_a"), col("id_b"), col("cont"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some {
        val sh = sqlShingleHashes("text", 4)
        s"""WITH docs AS (SELECT doc_id, lang, source, $sh AS sh FROM documents),
           |tok AS (SELECT doc_id, lang, source, unnest(sh) AS h FROM docs),
           |dfreq AS (SELECT lang, source, h, count(*) AS df FROM tok
           |          GROUP BY 1, 2, 3),
           |kept AS (SELECT t.doc_id, t.lang, t.source, t.h FROM tok t
           |         JOIN dfreq f ON t.lang = f.lang AND t.source = f.source
           |           AND t.h = f.h WHERE f.df <= 100),
           |sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY 1),
           |inter AS (
           |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ni
           |  FROM kept a JOIN kept b
           |    ON a.lang = b.lang AND a.source = b.source AND a.h = b.h
           |    AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2)
           |SELECT id_a, id_b,
           |  round(CAST(ni AS DOUBLE) / LEAST(sa.n, sb.n), 6) AS cont
           |FROM inter
           |JOIN sizes sa ON sa.doc_id = id_a
           |JOIN sizes sb ON sb.doc_id = id_b
           |WHERE round(CAST(ni AS DOUBLE) / LEAST(sa.n, sb.n), 6) >= 0.8
           |ORDER BY id_a, id_b""".stripMargin
      }),

    // Duplicate CLUSTERS: the transitive closure of the verified LSH pairs
    // via distributed star-contraction connected components
    // (graft.operators.ConnectedComponents — O(log² n) rounds, two
    // shuffles per round, diameter-independent). Pairs alone cannot drive
    // "keep one copy per group": near-duplication is not transitive, so
    // groups must be closed before electing a canonical representative
    // (here: cluster_id = min doc_id; the keep-set is doc_id ==
    // cluster_id). The oracle closes the same pair set with a recursive
    // CTE.
    "dedup_cluster_cc" -> QueryDef(
      (s, dir) => {
        docClusters(s, dir)
          .select(col("id").as("doc_id"), col("component").as("cluster_id"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE $minhashPairsCte,
              |edges AS (
              |  SELECT id_a AS u, id_b AS v FROM pairs
              |  UNION SELECT id_b AS u, id_a AS v FROM pairs),
              |reach(id, r) AS (
              |  SELECT u AS id, u AS r FROM edges
              |  UNION
              |  SELECT reach.id, e.v FROM reach JOIN edges e ON e.u = reach.r)
              |SELECT id AS doc_id, MIN(r) AS cluster_id
              |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin)),

    // CLUSTER SOURCE PURITY — the provenance read on the near-dup
    // closure: per multi-member cluster, how many sources its members
    // span and what share the dominant source holds. Pure clusters
    // (share = 10⁶) are ordinary intra-feed duplication; MIXED clusters
    // are the finding — the same text arriving through several feeds,
    // which is what inflates a naive per-source mixture weight (and the
    // cross-source matrix only shows pairwise). Reads the write-once
    // cluster artifact; everything after is a cluster-keyed rollup plus
    // one window over the (cluster, source) table — bounded by
    // duplicates, never corpus-sized.
    "dedup_cluster_purity" -> QueryDef(
      (s, dir) => {
        val clusters = docClusters(s, dir)
          .select(col("id").as("doc_id"), col("component").as("cluster_id"))
        val src = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("source"))
        val cs = clusters.join(src, "doc_id")
          .groupBy(col("cluster_id"), col("source"))
          .agg(count(lit(1)).as("cnt"))
        val W = org.apache.spark.sql.expressions.Window
        val w = W.partitionBy(col("cluster_id"))
          .orderBy(col("cnt").desc, col("source"))
        cs.withColumn("rk", row_number().over(w))
          .withColumn("n_docs",
            sum(col("cnt")).over(W.partitionBy(col("cluster_id"))))
          .withColumn("n_sources", count(lit(1))
            .over(W.partitionBy(col("cluster_id"))))
          .filter(col("rk") === 1 && col("n_docs") >= 2)
          .select(col("cluster_id"), col("n_docs"), col("n_sources"),
            col("source").as("top_source"),
            expr("(cnt * 1000000) div n_docs").as("top_share_ppm"))
          .orderBy(col("cluster_id"))
      },
      Some(s"""WITH RECURSIVE $minhashPairsCte,
              |edges AS (
              |  SELECT id_a AS u, id_b AS v FROM pairs
              |  UNION SELECT id_b AS u, id_a AS v FROM pairs),
              |reach(id, r) AS (
              |  SELECT u AS id, u AS r FROM edges
              |  UNION
              |  SELECT reach.id, e.v FROM reach JOIN edges e ON e.u = reach.r),
              |clusters AS (
              |  SELECT id AS doc_id, MIN(r) AS cluster_id
              |  FROM reach GROUP BY id),
              |cs AS (
              |  SELECT c.cluster_id, d.source, count(*) AS cnt
              |  FROM clusters c JOIN documents d USING (doc_id)
              |  GROUP BY 1, 2)
              |SELECT cluster_id, n_docs, n_sources,
              |  source AS top_source,
              |  CAST((cnt * 1000000) // n_docs AS BIGINT) AS top_share_ppm
              |FROM (
              |  SELECT cluster_id, source, cnt,
              |    row_number() OVER (PARTITION BY cluster_id
              |      ORDER BY cnt DESC, source) AS rk,
              |    CAST(SUM(cnt) OVER (PARTITION BY cluster_id) AS BIGINT)
              |      AS n_docs,
              |    CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
              |      AS n_sources
              |  FROM cs)
              |WHERE rk = 1 AND n_docs >= 2
              |ORDER BY cluster_id""".stripMargin)),

    // FOLD-LEAKAGE AUDIT — the cross-validation twin of the train/test
    // leakage split: near-duplicate documents landing in DIFFERENT
    // k-folds make every fold's validation optimistic (the model saw
    // the duplicate in training). Composes two verified pieces — the
    // write-once near-dup closure and sample_kfold_assign's md5-mod
    // fold (SAME hash string, so the audit measures the exact split the
    // k-fold query ships) — into a per-cluster distinct-fold census:
    // n_folds = 1 is containment, ≥ 2 is leakage mass, reported as a
    // ≤5-row histogram. Work after the artifact read is bounded by
    // duplicates, never the corpus.
    "dedup_fold_leakage" -> QueryDef(
      (s, dir) => {
        val fold = pmod(md5Long(concat(lit("fold:"),
          col("doc_id").cast(StringType))), lit(5L))
        val cl = docClusters(s, dir)
          .select(col("id").as("doc_id"), col("component"))
        val per = cl.withColumn("fold", fold)
          .groupBy(col("component"))
          .agg(countDistinct(col("fold")).as("n_folds"),
            count(lit(1)).as("n_docs"))
          .filter(col("n_docs") >= 2)
        per.groupBy(col("n_folds"))
          .agg(count(lit(1)).as("n_clusters"),
            sum(col("n_docs")).as("n_docs"))
          .orderBy(col("n_folds"))
      },
      Some {
        val h = graft.functions.TextFunctions
          .sqlMd5Long("concat('fold:', CAST(doc_id AS VARCHAR))")
        s"""WITH RECURSIVE $minhashPairsCte,
           |edges AS (
           |  SELECT id_a AS u, id_b AS v FROM pairs
           |  UNION SELECT id_b AS u, id_a AS v FROM pairs),
           |reach(id, r) AS (
           |  SELECT u AS id, u AS r FROM edges
           |  UNION
           |  SELECT reach.id, e.v FROM reach JOIN edges e ON e.u = reach.r),
           |clusters AS (
           |  SELECT id AS doc_id, MIN(r) AS component FROM reach GROUP BY id),
           |per AS (
           |  SELECT component,
           |    CAST(count(DISTINCT $h % 5) AS BIGINT) AS n_folds,
           |    count(*) AS n_docs
           |  FROM clusters GROUP BY component
           |  HAVING count(*) >= 2)
           |SELECT n_folds, count(*) AS n_clusters,
           |  CAST(SUM(n_docs) AS BIGINT) AS n_docs
           |FROM per GROUP BY n_folds ORDER BY n_folds""".stripMargin
      }),

    // INCREMENTAL near-dup: a new ingest batch (here docs with
    // doc_id % 5 == 4, ~20%) checked against the whole corpus without
    // re-pairing the corpus against itself — only band buckets containing
    // a NEW document generate candidates, so candidate cost scales with
    // the BATCH, not the corpus. This is how dedup runs in production:
    // the full self-join happens once, every later ingest uses this
    // asymmetric probe. Output = exactly the pairs of the full self-join
    // that involve at least one new doc (the oracle states it that way).
    "dedup_incremental_pairs" -> QueryDef(
      (s, dir) => minhashPairsOf(Tables.load(s, dir, "documents"),
          probeFilter = Some(col("doc_id") % 5 === 4))
        .orderBy(col("id_a"), col("id_b")),
      Some(s"""WITH $minhashPairsCte
              |SELECT id_a, id_b, jac FROM pairs
              |WHERE id_a % 5 = 4 OR id_b % 5 = 4
              |ORDER BY id_a, id_b""".stripMargin)),

    // End-to-end dedup output: the corpus with non-canonical duplicate-
    // cluster members removed (keep = min doc_id per cluster, singletons
    // untouched) — what a training-data pipeline actually writes out. The
    // removal set is a broadcast-sized anti-join side at any corpus scale
    // (it is bounded by the number of duplicates, not documents).
    "dedup_filtered_corpus" -> QueryDef(
      (s, dir) => {
        val clusters = docClusters(s, dir)
        val drop = clusters.filter(col("id") =!= col("component"))
          .select(col("id").as("doc_id"))
        Tables.load(s, dir, "documents")
          .join(broadcast(drop), Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("lang"), col("source"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE $minhashPairsCte,
              |edges AS (
              |  SELECT id_a AS u, id_b AS v FROM pairs
              |  UNION SELECT id_b AS u, id_a AS v FROM pairs),
              |reach(id, r) AS (
              |  SELECT u AS id, u AS r FROM edges
              |  UNION
              |  SELECT reach.id, e.v FROM reach JOIN edges e ON e.u = reach.r),
              |clusters AS (
              |  SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id)
              |SELECT doc_id, lang, source FROM documents
              |WHERE doc_id NOT IN (
              |  SELECT doc_id FROM clusters WHERE doc_id <> cluster_id)
              |ORDER BY doc_id""".stripMargin)),

    // CORPUS FILTER FUNNEL — the attrition report of an end-to-end
    // cleaning run: every document is attributed to its FIRST failing
    // stage (near-dup removal → repetition filter → length floor → kept)
    // and the funnel reports docs and characters lost per stage — the
    // accounting a data team reads before signing off a corpus release.
    // Composes the verified pieces: CC-closed near-dup clusters (drop
    // non-canonical members; the drop set is bounded by duplicates, so it
    // broadcasts), the Gopher repetition rule and the length floor (pure
    // integer maps), then one ≤4-row aggregate.
    "corpus_filter_funnel" -> QueryDef(
      (s, dir) => {
        val clusters = docClusters(s, dir)
        val drop = clusters.filter(col("id") =!= col("component"))
          .select(col("id").as("doc_id"), lit(1L).as("dropped"))
        val d = Tables.load(s, dir, "documents")
          .join(broadcast(drop), Seq("doc_id"), "left")
        val ws = words(col("text"))
        val n = size(ws).cast(LongType)
        val nd = size(array_distinct(ws)).cast(LongType)
        val topc = topElementCount(ws)
        val repKeep = ((n - nd) * 10 <= n * 7) && (topc * 10 <= n * 3)
        val stage = when(col("dropped").isNotNull, "near_dup")
          .when(!repKeep, "repetitive")
          .when(n < 50, "too_short")
          .otherwise("kept")
        d.select(stage.as("stage"), col("n_chars"))
          .groupBy(col("stage")).agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("n_chars_total"))
          .orderBy(col("stage"))
      },
      Some {
        val ws = sqlWords("text")
        val n = s"CAST(len($ws) AS BIGINT)"
        val nd = s"CAST(len(list_distinct($ws)) AS BIGINT)"
        val topc = s"CAST(list_max(list_transform(list_distinct($ws), " +
          s"x -> len(list_filter($ws, w -> w = x)))) AS BIGINT)"
        s"""WITH RECURSIVE $minhashPairsCte,
           |edges AS (
           |  SELECT id_a AS u, id_b AS v FROM pairs
           |  UNION SELECT id_b AS u, id_a AS v FROM pairs),
           |reach(id, r) AS (
           |  SELECT u AS id, u AS r FROM edges
           |  UNION
           |  SELECT reach.id, e.v FROM reach JOIN edges e ON e.u = reach.r),
           |clusters AS (
           |  SELECT id AS doc_id, MIN(r) AS cid FROM reach GROUP BY id),
           |dropped AS (SELECT doc_id FROM clusters WHERE doc_id <> cid),
           |st AS (
           |  SELECT CASE
           |      WHEN doc_id IN (SELECT doc_id FROM dropped) THEN 'near_dup'
           |      WHEN NOT (((n - nd) * 10 <= n * 7)
           |        AND (topc * 10 <= n * 3)) THEN 'repetitive'
           |      WHEN n < 50 THEN 'too_short'
           |      ELSE 'kept' END AS stage,
           |    n_chars
           |  FROM (SELECT doc_id, n_chars, $n AS n, $nd AS nd, $topc AS topc
           |        FROM documents))
           |SELECT stage, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(n_chars) AS BIGINT) AS n_chars_total
           |FROM st GROUP BY stage ORDER BY stage""".stripMargin
      }),

    // FILTER OVERLAP MATRIX — the funnel's companion read, answering the
    // question the funnel's first-fail attribution HIDES: how much do the
    // filters agree? Each filter (near-dup, repetition, length floor) is
    // evaluated INDEPENDENTLY per document, and one row reports the
    // marginals, every pairwise intersection, the triple, and the union —
    // the numbers that decide filter ORDER (run the cheap filter first
    // only if it subsumes the expensive one) and reveal redundant stages.
    // Same verified pieces as the funnel: broadcast CC drop set, Gopher
    // repetition rule, length floor — flags are a pure map, the report is
    // ONE scalar aggregate; the corpus is scanned once.
    "corpus_filter_overlap" -> QueryDef(
      (s, dir) => {
        val clusters = docClusters(s, dir)
        val drop = clusters.filter(col("id") =!= col("component"))
          .select(col("id").as("doc_id"), lit(1L).as("dropped"))
        val d = Tables.load(s, dir, "documents")
          .join(broadcast(drop), Seq("doc_id"), "left")
        val ws = words(col("text"))
        val n = size(ws).cast(LongType)
        val nd = size(array_distinct(ws)).cast(LongType)
        val topc = topElementCount(ws)
        val repKeep = ((n - nd) * 10 <= n * 7) && (topc * 10 <= n * 3)
        d.select(
            when(col("dropped").isNotNull, 1L).otherwise(0L).as("f_dup"),
            when(!repKeep, 1L).otherwise(0L).as("f_rep"),
            when(n < 50, 1L).otherwise(0L).as("f_short"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("f_dup")).as("near_dup"),
            sum(col("f_rep")).as("repetitive"),
            sum(col("f_short")).as("too_short"),
            sum(col("f_dup") * col("f_rep")).as("dup_and_rep"),
            sum(col("f_dup") * col("f_short")).as("dup_and_short"),
            sum(col("f_rep") * col("f_short")).as("rep_and_short"),
            sum(col("f_dup") * col("f_rep") * col("f_short"))
              .as("all_three"),
            sum(greatest(col("f_dup"), col("f_rep"), col("f_short")))
              .as("any_dropped"))
      },
      Some {
        val ws = sqlWords("text")
        val n = s"CAST(len($ws) AS BIGINT)"
        val nd = s"CAST(len(list_distinct($ws)) AS BIGINT)"
        val topc = s"CAST(list_max(list_transform(list_distinct($ws), " +
          s"x -> len(list_filter($ws, w -> w = x)))) AS BIGINT)"
        s"""WITH RECURSIVE $minhashPairsCte,
           |edges AS (
           |  SELECT id_a AS u, id_b AS v FROM pairs
           |  UNION SELECT id_b AS u, id_a AS v FROM pairs),
           |reach(id, r) AS (
           |  SELECT u AS id, u AS r FROM edges
           |  UNION
           |  SELECT reach.id, e.v FROM reach JOIN edges e ON e.u = reach.r),
           |clusters AS (
           |  SELECT id AS doc_id, MIN(r) AS cid FROM reach GROUP BY id),
           |dropped AS (SELECT doc_id FROM clusters WHERE doc_id <> cid),
           |fl AS (
           |  SELECT
           |    CASE WHEN doc_id IN (SELECT doc_id FROM dropped)
           |      THEN 1 ELSE 0 END AS f_dup,
           |    CASE WHEN NOT (((n - nd) * 10 <= n * 7)
           |      AND (topc * 10 <= n * 3)) THEN 1 ELSE 0 END AS f_rep,
           |    CASE WHEN n < 50 THEN 1 ELSE 0 END AS f_short
           |  FROM (SELECT doc_id, $n AS n, $nd AS nd, $topc AS topc
           |        FROM documents))
           |SELECT CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(SUM(f_dup) AS BIGINT) AS near_dup,
           |  CAST(SUM(f_rep) AS BIGINT) AS repetitive,
           |  CAST(SUM(f_short) AS BIGINT) AS too_short,
           |  CAST(SUM(f_dup * f_rep) AS BIGINT) AS dup_and_rep,
           |  CAST(SUM(f_dup * f_short) AS BIGINT) AS dup_and_short,
           |  CAST(SUM(f_rep * f_short) AS BIGINT) AS rep_and_short,
           |  CAST(SUM(f_dup * f_rep * f_short) AS BIGINT) AS all_three,
           |  CAST(SUM(GREATEST(f_dup, f_rep, f_short)) AS BIGINT)
           |    AS any_dropped
           |FROM fl""".stripMargin
      }),

    // DUPLICATION INFLATION BY SOURCE — the dup-rate dashboard statistic
    // that decides which crawls/sources get deduped first: per source the
    // doc count, the distinct-content count, and the inflation ratio.
    // Content identity is the md5 of the text, so the distinct-count
    // shuffle carries 32-byte digests, never the documents themselves —
    // the difference between a metadata-sized and a corpus-sized exchange
    // at 100 TB.
    "dedup_inflation_by_source" -> QueryDef(
      (s, dir) => Tables.load(s, dir, "documents")
        .select(col("source"), md5(col("text")).as("h"))
        .groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("h")).as("n_distinct"))
        .select(col("source"), col("n_docs"), col("n_distinct"),
          round(col("n_docs").cast(DoubleType) /
            col("n_distinct").cast(DoubleType), 6).as("inflation"))
        .orderBy(col("source")),
      Some("""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct,
             |  round(CAST(count(*) AS DOUBLE) /
             |    CAST(count(DISTINCT md5(text)) AS DOUBLE), 6) AS inflation
             |FROM documents GROUP BY source
             |ORDER BY source""".stripMargin)),

    // ×16 INFLATED-CORPUS DF-CAP AUDIT — the empirical leg of the df-cap
    // license. Every cap in the suite (TruthDfCap, winnow's fp cap, the
    // ngram cap, StreamBucketCap) binds NOTHING at test SFs, so until now
    // the "a hot key's quadratic join mass is exactly what the cap
    // removes" claim was design argument only. This query measures it ON
    // A CORPUS WHERE THE CAP FIRES: the [[InflateK]]=16 exact-copy
    // inflation multiplies every shingle's df by 16, pushing real
    // boilerplate shingles past TruthDfCap. Output: per power-of-two
    // df band — key count, posting count, Σdf² (the per-key self-join
    // fan-in mass an UNCAPPED truth pass would pay) and how many of the
    // band's keys the cap excludes. The top bands' sq_mass concentrated
    // in capped keys is the quadratic work the cap provably removes;
    // ScaleCheck times the same families end-to-end (BASELINE.md §4).
    // Scale shape: the ×16 generator is a pure flat-map (no join), df is
    // one map-side-combined aggregate, the report is ≤ ~20 band rows.
    "dedup_inflated_df_cap" -> QueryDef(
      (s, dir) => {
        val corpus = InflationProbes.inflate(
          Tables.load(s, dir, "documents").select(col("doc_id"),
            col("text")), InflateK, "doc_id")
        val tok = corpus.select(col("doc_id"),
          explode(shingleHashes(col("text"), 3)).as("h"))
        val dfreq = tok.groupBy(col("h")).agg(count(lit(1)).as("df"))
        dfreq
          .withColumn("df_band", expr("CAST(bit_count(" +
            PipelineQueries.smearExpr("df") + ") AS BIGINT)"))
          .groupBy(col("df_band"))
          .agg(count(lit(1)).as("n_keys"),
            sum(col("df")).as("n_postings"),
            // int64-exact while per-key df < ~3e9 (df² < 2^63) — beyond
            // that a census would band df itself; DuckDB sums the same
            // int64 products in HUGEINT and casts back, so both engines
            // agree exactly within the documented bound
            sum(col("df") * col("df")).as("sq_mass"),
            sum(when(col("df") > TruthDfCap, 1L).otherwise(0L))
              .as("capped_keys"))
          .orderBy(col("df_band"))
      },
      Some {
        val sh = sqlShingleHashes("text", 3)
        val band = s"CAST(bit_count(${PipelineQueries.smearExpr("df")}) " +
          "AS BIGINT)"
        s"""WITH $inflatedCorpusCte,
           |tok AS (
           |  SELECT doc_id, unnest(sh) AS h
           |  FROM (SELECT doc_id, $sh AS sh FROM corpus)),
           |dfreq AS (
           |  SELECT h, CAST(count(*) AS BIGINT) AS df FROM tok GROUP BY h)
           |SELECT $band AS df_band,
           |  CAST(count(*) AS BIGINT) AS n_keys,
           |  CAST(sum(df) AS BIGINT) AS n_postings,
           |  CAST(sum(df * df) AS BIGINT) AS sq_mass,
           |  CAST(sum(CASE WHEN df > $TruthDfCap THEN 1 ELSE 0 END)
           |    AS BIGINT) AS capped_keys
           |FROM dfreq GROUP BY df_band ORDER BY df_band""".stripMargin
      }),

    // ×16 INFLATED WINNOW-FP CENSUS — the SECOND oracle-checked leg of
    // the cap-fire evidence (VERDICT r10 Next #5): dedup_inflated_df_cap
    // pins the truth-index family; this pins dedup_winnow_pairs' cap.
    // Exact-copy inflation multiplies every winnowed fingerprint's df
    // ×16 (copies share text, so they winnow to identical fp sets),
    // pushing thousands of genuine fps past WinnowFpCap=8 (ScaleCheck
    // ×16 measured 5,018 capped — BASELINE §4 row 2). Output: per
    // power-of-two df band — key count, postings, Σdf² (the quadratic
    // self-join mass an uncapped index would pay), capped keys. Scale
    // shape: the inflation is a pure flat-map, the winnow extraction is
    // the shipped native expression run per inflated doc, df is one
    // map-side-combined aggregate, the report is ≤ ~16 band rows.
    "dedup_inflated_winnow_cap" -> QueryDef(
      (s, dir) => {
        val corpus = InflationProbes.inflate(
          Tables.load(s, dir, "documents").select(col("doc_id"),
            col("text")), InflateK, "doc_id")
        val dfreq = winnowFpsOf(corpus)
          .groupBy(col("fp")).agg(count(lit(1)).as("df"))
        dfreq
          .withColumn("df_band", expr("CAST(bit_count(" +
            PipelineQueries.smearExpr("df") + ") AS BIGINT)"))
          .groupBy(col("df_band"))
          .agg(count(lit(1)).as("n_keys"),
            sum(col("df")).as("n_postings"),
            sum(col("df") * col("df")).as("sq_mass"),
            sum(when(col("df") > WinnowFpCap, 1L).otherwise(0L))
              .as("capped_keys"))
          .orderBy(col("df_band"))
      },
      Some {
        val band = s"CAST(bit_count(${PipelineQueries.smearExpr("df")}) " +
          "AS BIGINT)"
        s"""WITH $inflatedCorpusCte,
           |${winnowFpsCteOver("corpus")},
           |dfreq AS (
           |  SELECT fp, CAST(count(*) AS BIGINT) AS df
           |  FROM fps GROUP BY fp)
           |SELECT $band AS df_band,
           |  CAST(count(*) AS BIGINT) AS n_keys,
           |  CAST(sum(df) AS BIGINT) AS n_postings,
           |  CAST(sum(df * df) AS BIGINT) AS sq_mass,
           |  CAST(sum(CASE WHEN df > $WinnowFpCap THEN 1 ELSE 0 END)
           |    AS BIGINT) AS capped_keys
           |FROM dfreq GROUP BY df_band ORDER BY df_band""".stripMargin
      }),

    // EXACT-DEDUP → WINNOW, COMPOSED — the BASELINE §4 pipeline-order
    // lesson as an oracle-checked query (VERDICT r10 Next #6). The ×16
    // winnow measurement showed that if exact copies reach the
    // fingerprint index, every shared fp's df inflates past the cap and
    // post-cap pairs collapse to zero — so the production order is
    // exact-hash dedup FIRST, near-dup detection on the survivors. This
    // query runs that composition on the ×16 inflated corpus: stage 1
    // keeps the smallest doc_id per md5(text) (one min_by aggregate —
    // the shuffle carries one digest-keyed row per distinct text, not
    // the corpus), stage 2 is the SAME winnowPairsOf device on the
    // survivors. The order itself is what the oracle pins: skipping
    // stage 1 would leave every fp at df ≥ 16 > cap and emit ZERO pairs,
    // hash-diverging loudly.
    "dedup_pipeline_exact_winnow" -> QueryDef(
      (s, dir) => {
        val corpus = InflationProbes.inflate(
          Tables.load(s, dir, "documents").select(col("doc_id"),
            col("text")), InflateK, "doc_id")
        val survivors = corpus
          .groupBy(md5(col("text")).as("h"))
          .agg(min_by(struct(col("doc_id"), col("text")), col("doc_id"))
            .as("k"))
          .select(col("k.doc_id").as("doc_id"), col("k.text").as("text"))
        winnowPairsOf(survivors).orderBy(col("doc_a"), col("doc_b"))
      },
      Some(s"""WITH $inflatedCorpusCte,
              |surv_ids AS (
              |  SELECT min(doc_id) AS doc_id
              |  FROM corpus GROUP BY md5(text)),
              |survivors AS (
              |  SELECT c.doc_id, c.text
              |  FROM corpus c JOIN surv_ids s ON c.doc_id = s.doc_id),
              |${winnowPairsCteOver("survivors")}
              |SELECT doc_a, doc_b, n_shared FROM wpairs
              |ORDER BY doc_a, doc_b""".stripMargin)),

    // CLUSTER-DOWNWEIGHTED SAMPLING — dedup as soft reweighting instead of
    // hard removal: each near-dup cluster of size k keeps each member with
    // probability 1/k (so every cluster contributes ~1 expected doc and
    // repeated content stops dominating the token mix — the "count-based
    // downweighting" alternative to dropping duplicates outright).
    // Selection is the suite's reproducible md5-threshold device compared
    // in exact integer cross-multiplication (h·k < 10^6 ⇔ h/10^6 < 1/k),
    // so singletons (k=1) always pass and the keep-set is partition- and
    // order-independent. Scale shape: CC closes clusters in O(log² n)
    // rounds; the size rollup and its join back are keyed on cluster_id
    // (one shuffle each); the keep decision is a pure map.
    "sample_cluster_downweight" -> QueryDef(
      (s, dir) => {
        val clusters = docClusters(s, dir)
          .select(col("id").as("doc_id"), col("component").as("cid"))
        val withC = Tables.load(s, dir, "documents").select(col("doc_id"))
          .join(clusters, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("cid"), col("doc_id")).as("cluster_id"))
        val sizes = withC.groupBy(col("cluster_id"))
          .agg(count(lit(1)).as("cluster_size"))
        val h = md5Long(concat(lit("cdw:"), col("doc_id"))) % 1000000L
        withC.join(sizes, "cluster_id")
          .filter(h * col("cluster_size") < 1000000L)
          .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
          .orderBy(col("doc_id"))
      },
      Some {
        val h = s"(${sqlMd5Long("concat('cdw:', doc_id)")} % 1000000)"
        s"""WITH RECURSIVE $minhashPairsCte,
           |edges AS (
           |  SELECT id_a AS u, id_b AS v FROM pairs
           |  UNION SELECT id_b AS u, id_a AS v FROM pairs),
           |reach(id, r) AS (
           |  SELECT u AS id, u AS r FROM edges
           |  UNION
           |  SELECT reach.id, e.v FROM reach JOIN edges e ON e.u = reach.r),
           |clusters AS (
           |  SELECT id AS doc_id, MIN(r) AS cid FROM reach GROUP BY id),
           |withc AS (
           |  SELECT d.doc_id, coalesce(c.cid, d.doc_id) AS cluster_id
           |  FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id),
           |sizes AS (
           |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
           |  FROM withc GROUP BY cluster_id)
           |SELECT w.doc_id, w.cluster_id, s.cluster_size
           |FROM withc w JOIN sizes s ON w.cluster_id = s.cluster_id
           |WHERE $h * s.cluster_size < 1000000
           |ORDER BY w.doc_id""".stripMargin
      }),

    // Quality-aware canonical selection: within each duplicate cluster keep
    // the LONGEST member (n_chars, ties → smaller doc_id) instead of the
    // smallest id — the "keep the most complete copy" policy real pipelines
    // use when near-dups are partial/truncated versions of one another.
    // Cluster closure reuses the CC operator; the election is one max_by
    // aggregate per cluster (clusters are broadcast-small by construction).
    "dedup_keep_best" -> QueryDef(
      (s, dir) => {
        val clusters = docClusters(s, dir)
          .select(col("id").as("doc_id"), col("component").as("cluster_id"))
        val d = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("n_chars"))
        clusters.join(d, "doc_id")
          .groupBy(col("cluster_id"))
          .agg(count(lit(1)).as("n_members"),
            max_by(struct(col("doc_id"), col("n_chars")),
              struct(col("n_chars"), (-col("doc_id")).as("nd"))).as("k"))
          .select(col("cluster_id"), col("n_members"),
            col("k.doc_id").as("keep_id"), col("k.n_chars").as("keep_chars"))
          .orderBy(col("cluster_id"))
      },
      Some(s"""WITH RECURSIVE $minhashPairsCte,
              |edges AS (
              |  SELECT id_a AS u, id_b AS v FROM pairs
              |  UNION SELECT id_b AS u, id_a AS v FROM pairs),
              |reach(id, r) AS (
              |  SELECT u AS id, u AS r FROM edges
              |  UNION
              |  SELECT reach.id, e.v FROM reach JOIN edges e ON e.u = reach.r),
              |clusters AS (
              |  SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id),
              |ranked AS (
              |  SELECT c.cluster_id, c.doc_id, d.n_chars,
              |    ROW_NUMBER() OVER (PARTITION BY c.cluster_id
              |      ORDER BY d.n_chars DESC, c.doc_id) AS rn,
              |    COUNT(*) OVER (PARTITION BY c.cluster_id) AS n_members
              |  FROM clusters c JOIN documents d ON c.doc_id = d.doc_id)
              |SELECT cluster_id, n_members, doc_id AS keep_id,
              |  n_chars AS keep_chars
              |FROM ranked WHERE rn = 1 ORDER BY cluster_id""".stripMargin)),

    // SimHash near-dup: 60-bit signature over word hashes; pairs within the
    // same language at Hamming distance ≤ 3 (the Charikar/Manku near-dup
    // setup — 64-bit sig, 4 bands, k=3; 60 here because both engines hash
    // words to the same 60-bit md5 prefix, so the top 4 of 64 signature
    // bits would be constant-zero). Candidate generation is LSH-banded,
    // not all-pairs: split the signature into 4 bands of 15 bits — by
    // pigeonhole, two signatures at Hamming ≤ 3 differ in at most 3 bands,
    // so they AGREE on at least one. The self-join key is
    // (lang, band index, band value): per-key candidate counts are bounded
    // by bucket population — 2^15 = 32,768 buckets per band — instead of
    // language population (a language block is ~the whole corpus at scale
    // → O(n²); band buckets are not). The pigeonhole argument makes
    // banding lossless, so the output is identical to the all-pairs join
    // the DuckDB oracle runs.
    "dedup_simhash" -> QueryDef(
      (s, dir) => {
        val bits = SimHashBits; val bandCount = SimHashBands
        val bandBits = bits / bandCount
        val d = Tables.load(s, dir, "documents")
        val sigs = d.select(col("doc_id"), col("lang"),
          simHashText(col("text"), bits).as("sig"))
          .cache()
        val bandVals = array((0 until bandCount).map { i =>
          shiftright(col("sig"), i * bandBits)
            .bitwiseAND(lit((1 << bandBits) - 1))
        }: _*)
        val banded = sigs.select(col("doc_id"), col("lang"), col("sig"),
          posexplode(bandVals).as(Seq("band", "bv")))
        Pairs.withinKey(banded, Seq("lang", "band", "bv"), "doc_id")
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
            col("a.sig").as("sa"), col("b.sig").as("sb"))
          .distinct() // a pair agreeing on several bands appears once
          .withColumn("ham", hamming(col("sa"), col("sb")))
          .filter(col("ham") <= 3)
          .select(col("id_a"), col("id_b"), col("ham").cast(LongType).as("ham"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some {
        val hashes = s"list_transform(${sqlWords("text")}, w -> ${sqlMd5Long("w")})"
        val sig = sqlSimHash("hashes", SimHashBits)
        s"""WITH sigs AS (
           |  SELECT doc_id, lang, $sig AS sig
           |  FROM (SELECT doc_id, lang, $hashes AS hashes FROM documents))
           |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS ham
           |FROM sigs a JOIN sigs b
           |  ON a.lang = b.lang AND a.doc_id < b.doc_id
           |WHERE bit_count(xor(a.sig, b.sig)) <= 3
           |ORDER BY id_a, id_b""".stripMargin
      }),

    // word-4-gram Jaccard near-dup with (lang, source) blocking, computed as a
    // sparse similarity join: explode distinct shingles, equi-join on
    // (block, shingle), count intersections, |∪| = |a|+|b|-|∩|. All codegen
    // joins/aggregates — no per-pair array work — and pairs sharing nothing
    // never materialize, which is what survives at corpus scale.
    "dedup_ngram_jaccard" -> QueryDef(
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val docs = d.select(col("doc_id"), col("lang"), col("source"),
          shingleHashes(col("text"), 4).as("sh"))
          .cache()
        val sizes = docs.select(col("doc_id"), size(col("sh")).as("n"))
        val tok = docs.select(col("doc_id"), col("lang"), col("source"),
          explode(col("sh")).as("h"))
        val inter = Pairs.withinKey(tok, Seq("lang", "source", "h"), "doc_id")
          .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
          .agg(count(lit(1)).as("ni"))
        inter
          .join(sizes.select(col("doc_id").as("id_a"), col("n").as("na")),
            "id_a")
          .join(sizes.select(col("doc_id").as("id_b"), col("n").as("nb")),
            "id_b")
          .withColumn("jac", round(col("ni").cast(DoubleType) /
            (col("na") + col("nb") - col("ni")).cast(DoubleType), 6))
          .filter(col("jac") >= 0.3d)
          .select(col("id_a"), col("id_b"), col("jac"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some {
        val sh = sqlShingleHashes("text", 4)
        s"""WITH docs AS (SELECT doc_id, lang, source, $sh AS sh FROM documents),
           |sizes AS (SELECT doc_id, len(sh) AS n FROM docs),
           |tok AS (SELECT doc_id, lang, source, unnest(sh) AS h FROM docs),
           |inter AS (
           |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ni
           |  FROM tok a JOIN tok b
           |    ON a.lang = b.lang AND a.source = b.source AND a.h = b.h
           |    AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2)
           |SELECT id_a, id_b, jac FROM (
           |  SELECT id_a, id_b,
           |    round(CAST(ni AS DOUBLE) / CAST(na.n + nb.n - ni AS DOUBLE), 6) AS jac
           |  FROM inter
           |  JOIN sizes na ON na.doc_id = id_a
           |  JOIN sizes nb ON nb.doc_id = id_b)
           |WHERE jac >= 0.3 ORDER BY id_a, id_b""".stripMargin
      }),

    // Doc-frequency-capped n-gram Jaccard — the 100 TB shape of the sparse
    // similarity join. The uncapped inverted index skews on hot shingles:
    // a shingle appearing in d docs of a block contributes d² join rows, so
    // boilerplate n-grams turn one reducer key into the whole corpus.
    // Contract here (exactly mirrored in the oracle): Jaccard is computed
    // over the CAPPED shingle sets — shingles with block doc-frequency >
    // cap are excluded from both the intersection and the set sizes (the
    // stopword-removal analogue for shingles). Per-key join fan-in is then
    // ≤ cap by construction.
    "dedup_ngram_jaccard_capped" -> QueryDef(
      (s, dir) => {
        val cap = 100
        val d = Tables.load(s, dir, "documents")
        val docs = d.select(col("doc_id"), col("lang"), col("source"),
          shingleHashes(col("text"), 4).as("sh"))
          .cache()
        val tok = docs.select(col("doc_id"), col("lang"), col("source"),
          explode(col("sh")).as("h"))
        val dfreq = tok.groupBy(col("lang"), col("source"), col("h"))
          .agg(count(lit(1)).as("df"))
        val kept = tok.join(dfreq.filter(col("df") <= cap),
          Seq("lang", "source", "h"))
        val sizes = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        // shared-shingle pair counts from ONE capped-index evaluation
        // (guide §2.4; the df cap bounds each posting list at `cap`), not
        // the kept⋈kept self-join that evaluates the subtree once per side
        val inter = Pairs.withinCappedKey(kept, Seq("lang", "source", "h"),
            "doc_id")
          .groupBy(col("id_a"), col("id_b"))
          .agg(count(lit(1)).as("ni"))
        inter
          .join(sizes.select(col("doc_id").as("id_a"), col("n").as("na")),
            "id_a")
          .join(sizes.select(col("doc_id").as("id_b"), col("n").as("nb")),
            "id_b")
          .withColumn("jac", round(col("ni").cast(DoubleType) /
            (col("na") + col("nb") - col("ni")).cast(DoubleType), 6))
          .filter(col("jac") >= 0.3d)
          .select(col("id_a"), col("id_b"), col("jac"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some {
        val sh = sqlShingleHashes("text", 4)
        s"""WITH docs AS (SELECT doc_id, lang, source, $sh AS sh FROM documents),
           |tok AS (SELECT doc_id, lang, source, unnest(sh) AS h FROM docs),
           |dfreq AS (SELECT lang, source, h, count(*) AS df FROM tok
           |          GROUP BY 1, 2, 3),
           |kept AS (SELECT t.doc_id, t.lang, t.source, t.h FROM tok t
           |         JOIN dfreq f ON t.lang = f.lang AND t.source = f.source
           |           AND t.h = f.h WHERE f.df <= 100),
           |sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY 1),
           |inter AS (
           |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ni
           |  FROM kept a JOIN kept b
           |    ON a.lang = b.lang AND a.source = b.source AND a.h = b.h
           |    AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2)
           |SELECT id_a, id_b, jac FROM (
           |  SELECT id_a, id_b,
           |    round(CAST(ni AS DOUBLE) / CAST(na.n + nb.n - ni AS DOUBLE), 6) AS jac
           |  FROM inter
           |  JOIN sizes na ON na.doc_id = id_a
           |  JOIN sizes nb ON nb.doc_id = id_b)
           |WHERE jac >= 0.3 ORDER BY id_a, id_b""".stripMargin
      }),

    // Embedding-cosine near-dup blocked by cluster label (coarse-quantizer
    // stand-in); sequential-fold double cosine is bit-identical in DuckDB.
    "dedup_embedding_cosine" -> QueryDef(
      // norms precomputed per vector (cached) instead of per pair — same
      // sequential fold as the oracle's sqrt(dot(a,a)), just hoisted;
      // pair generation shared with dedup_semantic_clusters
      (s, dir) => cosinePairs(s, dir).orderBy(col("id_a"), col("id_b")),
      Some(s"""SELECT id_a, id_b, cos FROM (
              |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              |    ${sqlCosine("a.embedding", "b.embedding", 64)} AS cos
              |  FROM embeddings a JOIN embeddings b
              |    ON a.label = b.label AND a.vec_id < b.vec_id)
              |WHERE cos >= 0.4 ORDER BY id_a, id_b""".stripMargin)),

    // COSINE-THRESHOLD CALIBRATION SWEEP — the read that PICKS the
    // semantic-dedup threshold the other embedding queries hard-code:
    // every label-blocked pair's cosine (ppm), bucketed into tenths, with
    // the cumulative pair count at-or-above each bucket — the
    // pairs-vs-threshold curve a pipeline owner reads before committing
    // to a cut (too low floods the closure, too high misses near-dups).
    // Exact: the fold-cosine is bit-identical cross-engine, ppm is one
    // shared round, the bucket is truncating integer division (same
    // toward-zero semantics in both engines — negative cosines land in
    // bucket 0±). 100 TB: pair generation is the SAME blocked self-join
    // as the dedup pipeline (never all-pairs); the histogram is a
    // ≤21-row rollup and the cumulative window runs over those ≤21 rows
    // only (bounded by construction, not by data).
    "dedup_cosine_threshold_sweep" -> QueryDef(
      (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
          .select(col("vec_id"), col("label"), col("embedding"),
            norm(col("embedding")).as("nrm"))
          .cache()
        val hist = Pairs.withinKey(e, Seq("label"), "vec_id")
          .select(round(dot(col("a.embedding"), col("b.embedding"))
              / (col("a.nrm") * col("b.nrm")) * 1e6d, 0).cast(LongType)
            .as("cos_ppm"))
          .selectExpr("cos_ppm div 100000 AS bucket")
          .groupBy(col("bucket")).agg(count(lit(1)).as("n_pairs"))
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("bucket").desc)
          .rowsBetween(Long.MinValue, 0)
        hist.withColumn("cum_pairs_ge", sum(col("n_pairs")).over(w))
          .orderBy(col("bucket"))
      },
      Some(s"""WITH p AS (
              |  SELECT CAST(round(
              |      ${sqlCosine("a.embedding", "b.embedding", 64)}
              |        * 1000000, 0) AS BIGINT) AS cos_ppm
              |  FROM embeddings a JOIN embeddings b
              |    ON a.label = b.label AND a.vec_id < b.vec_id),
              |h AS (
              |  SELECT cos_ppm // 100000 AS bucket, count(*) AS n
              |  FROM p GROUP BY 1)
              |SELECT CAST(bucket AS BIGINT) AS bucket,
              |  CAST(n AS BIGINT) AS n_pairs,
              |  CAST(SUM(n) OVER (ORDER BY bucket DESC
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              |    AS BIGINT) AS cum_pairs_ge
              |FROM h ORDER BY bucket""".stripMargin)),

    // Semantic duplicate CLUSTERS: the embedding-cosine pairs closed into
    // groups with the same star-contraction operator the textual pipeline
    // uses — near-duplication by meaning is no more transitive than by
    // text, so semantic dedup ALSO needs the closure before electing
    // canonicals. Demonstrates the clustering operator composing over a
    // second, unrelated pair source.
    "dedup_semantic_clusters" -> QueryDef(
      (s, dir) => semanticClusters(s, dir).orderBy(col("vec_id")),
      Some(s"""WITH RECURSIVE cpairs AS (
              |  SELECT id_a, id_b FROM (
              |    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              |      ${sqlCosine("a.embedding", "b.embedding", 64)} AS cos
              |    FROM embeddings a JOIN embeddings b
              |      ON a.label = b.label AND a.vec_id < b.vec_id)
              |  WHERE cos >= 0.4),
              |edges AS (
              |  SELECT id_a AS u, id_b AS v FROM cpairs
              |  UNION SELECT id_b AS u, id_a AS v FROM cpairs),
              |reach(id, r) AS (
              |  SELECT u AS id, u AS r FROM edges
              |  UNION
              |  SELECT reach.id, e.v FROM reach JOIN edges e ON e.u = reach.r)
              |SELECT id AS vec_id, MIN(r) AS cluster_id
              |FROM reach GROUP BY id ORDER BY vec_id""".stripMargin)),

    // Embedding-cosine near-dup blocked by a REAL coarse quantizer: every
    // vector is assigned to its nearest centroid (the IVF cell map — one
    // broadcast pass, one row per vector shuffled), and candidate pairs
    // only form inside a cell. This is the label-blocked variant's 100 TB
    // story made executable: the blocking key comes from the data's own
    // geometry, not a given column, and cell granularity (centroid count)
    // is the knob bounding per-block pair counts. Assignment is
    // deterministic (ties → smaller centroid label) so the oracle mirrors
    // it exactly.
    "dedup_embedding_cosine_ivf" -> QueryDef(
      (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
          .select(col("vec_id"), col("label"), col("embedding"),
            norm(col("embedding")).as("nrm"))
        val seedIds = e.groupBy(col("label").as("c_label"))
          .agg(min(col("vec_id")).as("seed_id"))
        val cents = seedIds.join(e, col("seed_id") === col("vec_id"))
          .select(col("c_label"), col("embedding").as("cv"),
            col("nrm").as("cn"))
        val assigned = e.crossJoin(broadcast(cents))
          .withColumn("ccos", cosineHoisted(col("cv"), col("embedding"),
            col("cn"), col("nrm")))
          .groupBy(col("vec_id"))
          .agg(max_by(struct(col("c_label"), col("embedding"), col("nrm")),
            struct(col("ccos"), (-col("c_label")).as("nl"))).as("v"))
          .select(col("vec_id"), col("v.embedding").as("embedding"),
            col("v.nrm").as("nrm"), col("v.c_label").as("cell"))
          .cache()
        Pairs.withinKey(assigned, Seq("cell"), "vec_id")
          .withColumn("cos", round(
            dot(col("a.embedding"), col("b.embedding"))
              / (col("a.nrm") * col("b.nrm")), 6))
          .filter(col("cos") >= 0.4d)
          .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
            col("cos"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""WITH cents AS (
              |  SELECT e.label AS c_label, e.embedding AS cv FROM embeddings e
              |  JOIN (SELECT label, min(vec_id) AS seed_id FROM embeddings
              |        GROUP BY label) s ON e.vec_id = s.seed_id),
              |assigned AS (
              |  SELECT vec_id, embedding, cell FROM (
              |    SELECT e.vec_id, e.embedding, c.c_label AS cell,
              |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
              |        ${sqlCosine("c.cv", "e.embedding", 64)} DESC, c.c_label) AS crank
              |    FROM embeddings e, cents c) WHERE crank = 1)
              |SELECT id_a, id_b, cos FROM (
              |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              |    ${sqlCosine("a.embedding", "b.embedding", 64)} AS cos
              |  FROM assigned a JOIN assigned b
              |    ON a.cell = b.cell AND a.vec_id < b.vec_id)
              |WHERE cos >= 0.4 ORDER BY id_a, id_b""".stripMargin)),

    // EXACT-SUBSTRING dedup (Lee et al. 2021, "Deduplicating Training Data
    // Makes Language Models Better"): a document is span-duplicated if any
    // of its word-10-gram spans already occurs in an earlier document
    // (first occurrence wins, by doc_id). The suffix-array of the paper
    // becomes a distributed span-hash inverted index: one explode + one
    // min-combine groupBy — min(doc_id) per span is map-side combinable,
    // and hot spans (the duplicated ones) collapse to one row per span at
    // the combiner, so repeated boilerplate does NOT skew the shuffle.
    // Output: per-doc span stats + the keep decision of the span filter.
    "dedup_substring_spans" -> QueryDef(
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val withH = d.select(col("doc_id"),
            shingleHashes(col("text"), 10).as("hs"))
          .withColumn("n_spans", size(col("hs")).cast(LongType))
        val ex = withH.select(col("doc_id"), explode(col("hs")).as("h"))
        val idx = ex.groupBy(col("h")).agg(min(col("doc_id")).as("first_doc"))
        val dup = ex.join(idx, "h")
          .groupBy(col("doc_id"))
          .agg(count(when(col("first_doc") < col("doc_id"), 1)).as("n_dup"))
        withH.join(dup, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_spans"),
            coalesce(col("n_dup"), lit(0L)).as("n_dup_spans"),
            round(when(col("n_spans") === 0, lit(0.0d))
              .otherwise(coalesce(col("n_dup"), lit(0L)).cast(DoubleType) /
                col("n_spans").cast(DoubleType)), 6).as("dup_span_frac"),
            (coalesce(col("n_dup"), lit(0L)) === 0).as("keep"))
          .orderBy(col("doc_id"))
      },
      Some {
        val hs = sqlShingleHashes("text", 10)
        s"""WITH withh AS (
           |  SELECT doc_id, hs, CAST(len(hs) AS BIGINT) AS n_spans
           |  FROM (SELECT doc_id, $hs AS hs FROM documents)),
           |ex AS (SELECT doc_id, unnest(hs) AS h FROM withh),
           |idx AS (SELECT h, min(doc_id) AS first_doc FROM ex GROUP BY h),
           |dup AS (
           |  SELECT ex.doc_id,
           |    count(CASE WHEN idx.first_doc < ex.doc_id THEN 1 END) AS n_dup
           |  FROM ex JOIN idx USING (h) GROUP BY ex.doc_id)
           |SELECT w.doc_id, w.n_spans,
           |  coalesce(d.n_dup, CAST(0 AS BIGINT)) AS n_dup_spans,
           |  round(CASE WHEN w.n_spans = 0 THEN 0.0
           |    ELSE CAST(coalesce(d.n_dup, CAST(0 AS BIGINT)) AS DOUBLE)
           |         / CAST(w.n_spans AS DOUBLE) END, 6) AS dup_span_frac,
           |  coalesce(d.n_dup, CAST(0 AS BIGINT)) = 0 AS keep
           |FROM withh w LEFT JOIN dup d ON w.doc_id = d.doc_id
           |ORDER BY w.doc_id""".stripMargin
      }),

    // WINNOWED-FINGERPRINT CANDIDATE PAIRS — the cross-document leg of
    // text_winnowing: bucket-join documents on their SPARSE winnowed
    // fingerprint sets (min-in-window selection over word-4-gram hashes,
    // w=8) and report pairs sharing ≥ 2 fingerprints. The scale argument
    // vs dedup_substring_spans' all-shingle index: winnowing posts ~n/w
    // fingerprints per document instead of n shingles — an 8× smaller
    // posting table carrying the SAME detection guarantee (any shared
    // run of ≥ w+k−1 words contributes a shared fingerprint). Hot
    // fingerprints (boilerplate) are df-capped at 8 docs before the
    // bucket self-join, so bucket fan-out is bounded and the join stays
    // posting-shaped — never corpus².
    "dedup_winnow_pairs" -> QueryDef(
      // native WinnowedFps (see text_winnowing): the HOF winnow
      // re-evaluates the positional hash tree per window — measured
      // 340 s at sf0.1; the native expression computes it once per doc.
      (s, dir) => winnowPairsOf(Tables.load(s, dir, "documents"))
        .orderBy(col("doc_a"), col("doc_b")),
      Some(s"""WITH ${winnowPairsCteOver("documents")}
              |SELECT doc_a, doc_b, n_shared FROM wpairs
              |ORDER BY doc_a, doc_b""".stripMargin)),

    // TRIANGLE COUNT of the near-duplicate graph (edges = verified
    // MinHash-LSH pairs) — the cluster-cliquishness diagnostic that tells
    // apart chain-shaped duplicate clusters (transitive-closure artifacts)
    // from genuine clique families. DEGREE-ORDERED node-iterator: orient
    // each edge low→high by (degree, id), enumerate wedges from each
    // source's oriented adjacency (out-degree is O(√m)-bounded under this
    // orientation — the classic O(m^1.5) guarantee), and close each wedge
    // with a hash join back on the undirected pair set. The near-dup graph
    // is LSH-sparse by construction, so every side of every join is
    // edge-shaped — no corpus² anywhere. One row: edges / oriented wedges
    // / triangles.
    "graph_triangles" -> QueryDef(
      (s, dir) => {
        val p = minhashPairs(s, dir).select(col("id_a"), col("id_b")).cache()
        val deg = p.select(explode(array(col("id_a"), col("id_b"))).as("v"))
          .groupBy(col("v")).agg(count(lit(1)).as("dg"))
        val e = p
          .join(deg.select(col("v").as("id_a"), col("dg").as("da")), "id_a")
          .join(deg.select(col("v").as("id_b"), col("dg").as("db")), "id_b")
          .select(
            when(col("da") <= col("db"), col("id_a")).otherwise(col("id_b"))
              .as("src"),
            when(col("da") <= col("db"), col("id_b")).otherwise(col("id_a"))
              .as("dst"))
          .cache()
        val wedges = e.as("x").join(e.as("y"),
            col("x.src") === col("y.src") && col("x.dst") < col("y.dst"))
          .select(col("x.dst").as("b"), col("y.dst").as("c"))
        val tri = wedges
          .join(p, col("b") === col("id_a") && col("c") === col("id_b"))
        p.agg(count(lit(1)).as("n_edges"))
          .crossJoin(wedges.agg(count(lit(1)).as("n_wedges")))
          .crossJoin(tri.agg(count(lit(1)).as("n_triangles")))
      },
      Some {
        s"""WITH $minhashPairsCte,
           |p AS (SELECT id_a, id_b FROM pairs),
           |deg AS (
           |  SELECT v, count(*) AS dg FROM (
           |    SELECT id_a AS v FROM p UNION ALL SELECT id_b FROM p)
           |  GROUP BY v),
           |e AS (
           |  SELECT CASE WHEN da.dg <= db.dg THEN p.id_a ELSE p.id_b END
           |           AS src,
           |         CASE WHEN da.dg <= db.dg THEN p.id_b ELSE p.id_a END
           |           AS dst
           |  FROM p JOIN deg da ON da.v = p.id_a
           |         JOIN deg db ON db.v = p.id_b),
           |w AS (
           |  SELECT x.dst AS b, y.dst AS c
           |  FROM e x JOIN e y ON x.src = y.src AND x.dst < y.dst),
           |t AS (
           |  SELECT 1 FROM w JOIN p ON w.b = p.id_a AND w.c = p.id_b)
           |SELECT (SELECT count(*) FROM p) AS n_edges,
           |       (SELECT count(*) FROM w) AS n_wedges,
           |       (SELECT count(*) FROM t) AS n_triangles""".stripMargin
      }),

    // PER-NODE LOCAL CLUSTERING COEFFICIENT of the near-duplicate graph —
    // graph_triangles' per-node companion: cc(v) = 2·tri(v) / (deg(v)·
    // (deg(v)−1)) tells WHICH duplicate clusters are cliques (true
    // re-posts: every copy pairs with every copy) vs chains (transitive
    // artifacts a threshold tweak would split). Same degree-ordered
    // oriented wedge stream as the global count (O(m^1.5) bound; every
    // join side edge-shaped), plus one explode-and-count rollup of each
    // triangle's three corners — the rollup is triangle-sized, never
    // corpus-sized. cc in exact ppm (integer div); deg ≥ 2 nodes only
    // (cc undefined below that).
    "graph_local_clustering" -> QueryDef(
      (s, dir) => {
        val p = minhashPairs(s, dir).select(col("id_a"), col("id_b"))
          .cache()
        val deg = p.select(explode(array(col("id_a"), col("id_b")))
            .as("v"))
          .groupBy(col("v")).agg(count(lit(1)).as("dg"))
        val e = p
          .join(deg.select(col("v").as("id_a"), col("dg").as("da")),
            "id_a")
          .join(deg.select(col("v").as("id_b"), col("dg").as("db")),
            "id_b")
          .select(
            when(col("da") <= col("db"), col("id_a")).otherwise(col("id_b"))
              .as("src"),
            when(col("da") <= col("db"), col("id_b")).otherwise(col("id_a"))
              .as("dst"))
          .cache()
        val wedges = e.as("x").join(e.as("y"),
            col("x.src") === col("y.src") && col("x.dst") < col("y.dst"))
          .select(col("x.src").as("a"), col("x.dst").as("b"),
            col("y.dst").as("c"))
        val triNodes = wedges
          .join(p, col("b") === col("id_a") && col("c") === col("id_b"))
          .select(explode(array(col("a"), col("b"), col("c"))).as("v"))
          .groupBy(col("v")).agg(count(lit(1)).as("tri"))
        deg.filter(col("dg") >= 2)
          .join(triNodes, Seq("v"), "left")
          .select(col("v").as("id"), col("dg").as("deg"),
            coalesce(col("tri"), lit(0L)).as("n_tri"))
          .withColumn("cc_ppm",
            expr("(n_tri * 2000000) div (deg * (deg - 1))"))
          .orderBy(col("id"))
      },
      Some {
        s"""WITH $minhashPairsCte,
           |p AS (SELECT id_a, id_b FROM pairs),
           |deg AS (
           |  SELECT v, count(*) AS dg FROM (
           |    SELECT id_a AS v FROM p UNION ALL SELECT id_b FROM p)
           |  GROUP BY v),
           |e AS (
           |  SELECT CASE WHEN da.dg <= db.dg THEN p.id_a ELSE p.id_b END
           |           AS src,
           |         CASE WHEN da.dg <= db.dg THEN p.id_b ELSE p.id_a END
           |           AS dst
           |  FROM p JOIN deg da ON da.v = p.id_a
           |         JOIN deg db ON db.v = p.id_b),
           |w AS (
           |  SELECT x.src AS a, x.dst AS b, y.dst AS c
           |  FROM e x JOIN e y ON x.src = y.src AND x.dst < y.dst),
           |t AS (
           |  SELECT w.a, w.b, w.c
           |  FROM w JOIN p ON w.b = p.id_a AND w.c = p.id_b),
           |tr AS (
           |  SELECT v, count(*) AS tri FROM (
           |    SELECT a AS v FROM t UNION ALL SELECT b FROM t
           |    UNION ALL SELECT c FROM t)
           |  GROUP BY v)
           |SELECT CAST(d.v AS BIGINT) AS id, CAST(d.dg AS BIGINT) AS deg,
           |  CAST(COALESCE(tr.tri, 0) AS BIGINT) AS n_tri,
           |  CAST((COALESCE(tr.tri, 0) * 2000000)
           |    // (d.dg * (d.dg - 1)) AS BIGINT) AS cc_ppm
           |FROM deg d LEFT JOIN tr ON tr.v = d.v
           |WHERE d.dg >= 2
           |ORDER BY id""".stripMargin
      }),

    // EDGE TRIANGLE-SUPPORT (k-TRUSS) HISTOGRAM — the edge-centric
    // companion to the node-centric clustering coefficient above: per
    // near-dup edge, how many triangles contain it (the k-truss support
    // that separates load-bearing clique edges from support-0 bridge
    // edges a transitive closure glued in — exactly the edges a
    // threshold tweak would cut). Same degree-ordered oriented wedge
    // stream; each found triangle contributes its three unordered edges
    // to a triangle-sized rollup, then one left join back onto the pair
    // set catches the support-0 edges. Histogram rows, all integers.
    "graph_truss_support" -> QueryDef(
      (s, dir) => {
        val p = minhashPairs(s, dir).select(col("id_a"), col("id_b"))
          .cache()
        val deg = p.select(explode(array(col("id_a"), col("id_b")))
            .as("v"))
          .groupBy(col("v")).agg(count(lit(1)).as("dg"))
        val e = p
          .join(deg.select(col("v").as("id_a"), col("dg").as("da")),
            "id_a")
          .join(deg.select(col("v").as("id_b"), col("dg").as("db")),
            "id_b")
          .select(
            when(col("da") <= col("db"), col("id_a")).otherwise(col("id_b"))
              .as("src"),
            when(col("da") <= col("db"), col("id_b")).otherwise(col("id_a"))
              .as("dst"))
          .cache()
        val tri = e.as("x").join(e.as("y"),
            col("x.src") === col("y.src") && col("x.dst") < col("y.dst"))
          .select(col("x.src").as("a"), col("x.dst").as("b"),
            col("y.dst").as("c"))
          .join(p, col("b") === col("id_a") && col("c") === col("id_b"))
          .select(col("a"), col("b"), col("c"))
        val edgeSupport = tri.select(
            explode(array(
              struct(least(col("a"), col("b")).as("u"),
                greatest(col("a"), col("b")).as("v")),
              struct(least(col("a"), col("c")).as("u"),
                greatest(col("a"), col("c")).as("v")),
              struct(least(col("b"), col("c")).as("u"),
                greatest(col("b"), col("c")).as("v")))).as("ed"))
          .select(col("ed.u").as("id_a"), col("ed.v").as("id_b"))
          .groupBy(col("id_a"), col("id_b"))
          .agg(count(lit(1)).as("support"))
        p.join(edgeSupport, Seq("id_a", "id_b"), "left")
          .select(coalesce(col("support"), lit(0L)).as("support"))
          .groupBy(col("support")).agg(count(lit(1)).as("n_edges"))
          .orderBy(col("support"))
      },
      Some {
        s"""WITH $minhashPairsCte,
           |p AS (SELECT id_a, id_b FROM pairs),
           |deg AS (
           |  SELECT v, count(*) AS dg FROM (
           |    SELECT id_a AS v FROM p UNION ALL SELECT id_b FROM p)
           |  GROUP BY v),
           |e AS (
           |  SELECT CASE WHEN da.dg <= db.dg THEN p.id_a ELSE p.id_b END
           |           AS src,
           |         CASE WHEN da.dg <= db.dg THEN p.id_b ELSE p.id_a END
           |           AS dst
           |  FROM p JOIN deg da ON da.v = p.id_a
           |         JOIN deg db ON db.v = p.id_b),
           |t AS (
           |  SELECT x.src AS a, x.dst AS b, y.dst AS c
           |  FROM e x JOIN e y ON x.src = y.src AND x.dst < y.dst
           |  JOIN p ON x.dst = p.id_a AND y.dst = p.id_b),
           |es AS (
           |  SELECT u AS id_a, v AS id_b, count(*) AS support FROM (
           |    SELECT LEAST(a, b) AS u, GREATEST(a, b) AS v FROM t
           |    UNION ALL SELECT LEAST(a, c), GREATEST(a, c) FROM t
           |    UNION ALL SELECT LEAST(b, c), GREATEST(b, c) FROM t)
           |  GROUP BY 1, 2)
           |SELECT CAST(COALESCE(es.support, 0) AS BIGINT) AS support,
           |  CAST(count(*) AS BIGINT) AS n_edges
           |FROM p LEFT JOIN es
           |  ON es.id_a = p.id_a AND es.id_b = p.id_b
           |GROUP BY 1 ORDER BY support""".stripMargin
      }),

    // SHINGLE DOCUMENT-FREQUENCY HISTOGRAM — the capacity-planning audit
    // behind every df-cap in this file (winnow_pairs, the truth passes):
    // how many distinct 3-shingles live at each power-of-two df band,
    // and how many postings they carry. The heavy tail this surfaces is
    // the exact quantity that decides a df-cap value at corpus scale —
    // a band of million-df boilerplate shingles carrying half the
    // postings means the uncapped self-join is quadratic in the hottest
    // key. Two map-side-combined aggregates (per-shingle df, then the
    // ≤64-row band rollup); the bit-length band comes from the suite's
    // iterative smear + bit_count device — identical integer ops in
    // both engines, no log2 anywhere.
    "dedup_shingle_df_hist" -> QueryDef(
      (s, dir) => {
        val shEx = Tables.load(s, dir, "documents")
          .select(explode(shingleHashes(col("text"), 3)).as("h"))
        shEx.groupBy(col("h")).agg(count(lit(1)).as("df"))
          .withColumn("df_band",
            expr(s"CAST(bit_count(${PipelineQueries.smearExpr("df")}) " +
              "AS BIGINT)"))
          .groupBy(col("df_band"))
          .agg(count(lit(1)).as("n_shingles"), sum(col("df"))
            .as("n_postings"))
          .orderBy(col("df_band"))
      },
      Some {
        val sh = sqlShingleHashes("text", 3)
        s"""WITH fps AS (
           |  SELECT unnest(sh) AS h
           |  FROM (SELECT $sh AS sh FROM documents)),
           |df AS (SELECT h, count(*) AS df FROM fps GROUP BY h)
           |SELECT CAST(bit_count(${PipelineQueries.smearExpr("df")})
           |    AS BIGINT) AS df_band,
           |  CAST(count(*) AS BIGINT) AS n_shingles,
           |  CAST(sum(df) AS BIGINT) AS n_postings
           |FROM df GROUP BY df_band ORDER BY df_band""".stripMargin
      }),

    // LSH S-CURVE VALIDATION — the planner calibration behind the band
    // sweep: for the production 4-band × 4-row index, the observed
    // band-collision rate per exact-Jaccard decile against the theory
    // curve p(s) = 1 − (1 − s⁴)⁴ evaluated at the bin midpoint. The pair
    // DOMAIN comes from the df-capped shared-shingle index (anchor-side
    // ¼ sample) so it is independent of the bands being audited —
    // selection through the index under test would read 100% everywhere.
    // Exact Jaccard bins by integer arithmetic on the full shingle sets;
    // the theory value is a per-bin CONSTANT built from the identical
    // multiply/divide tree in both engines (no pow, no float sums — the
    // only data-dependent float is the final observed-rate division).
    "dedup_scurve_validation" -> QueryDef(
      (s, dir) => {
        val idx = minhashCandidatesOf(Tables.load(s, dir, "documents"))
        val kept = cappedShingleIndex(
          idx.sigs.select(col("doc_id"), explode(col("sh")).as("h")),
          TruthDfCap)
        // pair domain from ONE capped-index evaluation (guide §2.4; the df
        // cap bounds each posting list at TruthDfCap); the md5 gate keys
        // on the smaller id as the old a-side pre-join filter did, and
        // distinct() absorbs multiplicity
        val dom = Pairs.withinCappedKey(kept, Seq("h"), "doc_id",
            gate = Some(sampled(_)))
          .distinct()
        val j = dom
          .join(idx.sigs.select(col("doc_id").as("id_a"),
            col("sh").as("sha")), "id_a")
          .join(idx.sigs.select(col("doc_id").as("id_b"),
            col("sh").as("shb")), "id_b")
          .withColumn("i",
            size(array_intersect(col("sha"), col("shb"))).cast(LongType))
          .withColumn("u",
            size(array_union(col("sha"), col("shb"))).cast(LongType))
          .withColumn("sim_bin", least(lit(9L), expr("(i * 10) div u")))
        val f = j
          .join(idx.cands.withColumn("coll", lit(1L)),
            Seq("id_a", "id_b"), "left")
          .groupBy(col("sim_bin"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(coalesce(col("coll"), lit(0L))).as("n_collided"))
        val sm = (col("sim_bin").cast(DoubleType) + lit(0.5d)) / lit(10.0d)
        val s4 = (sm * sm) * (sm * sm)
        val q = lit(1.0d) - s4
        f.select(col("sim_bin"), col("n_pairs"), col("n_collided"),
            round(col("n_collided").cast(DoubleType) /
              col("n_pairs").cast(DoubleType), 6).as("obs_rate"),
            round(lit(1.0d) - ((q * q) * (q * q)), 6).as("theory_mid"))
          .orderBy(col("sim_bin"))
      },
      Some {
        s"""WITH $minhashPairsCte,
           |sh_ex AS (SELECT doc_id, unnest(sh) AS h FROM docs),
           |kept AS MATERIALIZED (
           |  SELECT doc_id, h FROM sh_ex WHERE h IN (
           |    SELECT h FROM sh_ex GROUP BY h
           |    HAVING count(*) <= $TruthDfCap)),
           |dom AS (
           |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM kept a JOIN kept b
           |    ON a.h = b.h AND a.doc_id < b.doc_id
           |  WHERE md5(CAST(a.doc_id AS VARCHAR)) < '4'),
           |jd AS (
           |  SELECT d.id_a, d.id_b,
           |    LEAST(9, (CAST(len(list_intersect(da.sh, db.sh)) AS BIGINT)
           |      * 10) // CAST(len(list_distinct(list_concat(da.sh, db.sh)))
           |      AS BIGINT)) AS sim_bin
           |  FROM dom d JOIN docs da ON da.doc_id = d.id_a
           |             JOIN docs db ON db.doc_id = d.id_b),
           |f AS (
           |  SELECT jd.sim_bin, count(*) AS n_pairs,
           |    SUM(CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END)
           |      AS n_collided
           |  FROM jd LEFT JOIN cands c
           |    ON c.id_a = jd.id_a AND c.id_b = jd.id_b
           |  GROUP BY jd.sim_bin)
           |SELECT CAST(sim_bin AS BIGINT) AS sim_bin,
           |  CAST(n_pairs AS BIGINT) AS n_pairs,
           |  CAST(n_collided AS BIGINT) AS n_collided,
           |  round(CAST(n_collided AS DOUBLE) / CAST(n_pairs AS DOUBLE), 6)
           |    AS obs_rate,
           |  round(1.0 - ((q * q) * (q * q)), 6) AS theory_mid
           |FROM (
           |  SELECT *, 1.0 - ((sm * sm) * (sm * sm)) AS q FROM (
           |    SELECT *, (CAST(sim_bin AS DOUBLE) + 0.5) / 10.0 AS sm
           |    FROM f))
           |ORDER BY sim_bin""".stripMargin
      }),

    // DUPLICATION TREND BY INGEST DECILE: per tenth of the corpus in
    // arrival order, how many documents are near-duplicates of an EARLIER
    // document (the later member id_b of each verified MinHash pair) —
    // the drift monitor telling a crawl pipeline whether incoming data is
    // getting more derivative over time (rising tail = the crawler is
    // re-reading the web faster than the web grows, time to tighten seeds
    // or dedup earlier). Scale shape: the banded/verified LSH pair pass is
    // shared with `dedup_minhash_lsh` (no new corpus-scale work); the
    // per-decile rollup is a 10-row aggregate under a broadcast 1-row
    // corpus bound; the dup-doc set is pair-table-scale, never
    // corpus-scale.
    "dedup_rate_by_decile" -> QueryDef(
      (s, dir) => {
        val d = Tables.load(s, dir, "documents").select(col("doc_id"))
        val mx = d.agg((max(col("doc_id")) + 1).as("n_docs"))
        val dups = minhashPairs(s, dir)
          .select(col("id_b").as("doc_id")).distinct()
        val byDec = d.crossJoin(broadcast(mx))
          .select(col("doc_id"), expr("(doc_id * 10) div n_docs").as("decile"))
        val tot = byDec.groupBy(col("decile"))
          .agg(count(lit(1)).as("n_docs"))
        val dup = byDec.join(dups, "doc_id").groupBy(col("decile"))
          .agg(count(lit(1)).as("n_dups"))
        tot.join(dup, Seq("decile"), "left")
          .select(col("decile"), col("n_docs"),
            coalesce(col("n_dups"), lit(0L)).as("n_dups"),
            round(coalesce(col("n_dups"), lit(0L)).cast("double") /
              col("n_docs").cast("double"), 6).as("dup_rate"))
          .orderBy(col("decile"))
      },
      Some(s"""WITH $minhashPairsCte,
              |mx AS (SELECT max(doc_id) + 1 AS n_docs FROM documents),
              |dups AS (SELECT DISTINCT id_b AS doc_id FROM pairs),
              |bydec AS (
              |  SELECT d.doc_id, (d.doc_id * 10) // m.n_docs AS decile
              |  FROM documents d, mx m),
              |tot AS (SELECT decile, count(*) AS n_docs
              |        FROM bydec GROUP BY decile),
              |dup AS (SELECT decile, count(*) AS n_dups
              |        FROM bydec JOIN dups USING (doc_id) GROUP BY decile)
              |SELECT t.decile, CAST(t.n_docs AS BIGINT) AS n_docs,
              |  CAST(coalesce(d.n_dups, 0) AS BIGINT) AS n_dups,
              |  round(CAST(coalesce(d.n_dups, 0) AS DOUBLE) /
              |    CAST(t.n_docs AS DOUBLE), 6) AS dup_rate
              |FROM tot t LEFT JOIN dup d ON t.decile = d.decile
              |ORDER BY t.decile""".stripMargin)),

    // QUALITY × DUPLICATION CROSS-SIGNAL AUDIT: mean quality score per
    // duplicate-cluster-size bucket (1 = unique, 2, 3, 4+ = heavily
    // copied) — the measurement behind "are duplicated documents also
    // low-quality?", which decides whether dedup and quality filtering are
    // redundant or complementary on a corpus (if dup clusters skew
    // low-quality, dedup-first saves the quality model's compute; if not,
    // both passes pay for themselves). Determinism: the quality score is
    // the shared text_quality_score formula (single-division doubles,
    // 6 dp); the per-bucket mean divides an exact DECIMAL(18,6) sum by an
    // exact count — order-insensitive, so any partitioning agrees with the
    // oracle. Scale shape: pairs + CC closure are the shared LSH devices;
    // cluster sizes are a pair-table-scale aggregate broadcast back; the
    // corpus contributes one pure-map score pass and a ≤4-row rollup.
    "dedup_quality_by_clustersize" -> QueryDef(
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val comp = docClusters(s, dir)
          .select(col("id").as("doc_id"), col("component").as("cid"))
        val sizes = comp.groupBy(col("cid")).agg(count(lit(1)).as("csize"))
        val scored = d.select(col("doc_id"),
          qualityScore(col("text")).as("quality"))
        scored
          .join(comp, Seq("doc_id"), "left")
          .join(broadcast(sizes), Seq("cid"), "left")
          .select(col("quality"),
            least(coalesce(col("csize"), lit(1L)), lit(4L))
              .as("size_bucket"))
          .groupBy(col("size_bucket")).agg(
            count(lit(1)).as("n_docs"),
            sum(col("quality").cast(DecimalType(18, 6)))
              .cast(DoubleType).as("sum_quality"))
          .withColumn("mean_quality",
            round(col("sum_quality") / col("n_docs").cast(DoubleType), 6))
          .orderBy(col("size_bucket"))
      },
      Some {
        s"""WITH RECURSIVE $minhashPairsCte,
           |edges AS (
           |  SELECT id_a AS u, id_b AS v FROM pairs
           |  UNION SELECT id_b AS u, id_a AS v FROM pairs),
           |reach(id, r) AS (
           |  SELECT u AS id, u AS r FROM edges
           |  UNION
           |  SELECT reach.id, e.v FROM reach JOIN edges e ON e.u = reach.r),
           |comp AS (SELECT id AS doc_id, MIN(r) AS cid
           |         FROM reach GROUP BY id),
           |sizes AS (SELECT cid, count(*) AS csize FROM comp GROUP BY cid),
           |scored AS (
           |  SELECT d.doc_id,
           |    ${sqlQualityScore("text")} AS quality,
           |    least(coalesce(sz.csize, 1), 4) AS size_bucket
           |  FROM documents d
           |  LEFT JOIN comp c ON d.doc_id = c.doc_id
           |  LEFT JOIN sizes sz ON c.cid = sz.cid)
           |SELECT size_bucket, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(CAST(quality AS DECIMAL(18,6))) AS DOUBLE)
           |    AS sum_quality,
           |  round(CAST(sum(CAST(quality AS DECIMAL(18,6))) AS DOUBLE)
           |    / CAST(count(*) AS DOUBLE), 6) AS mean_quality
           |FROM scored GROUP BY size_bucket ORDER BY size_bucket""".stripMargin
      })
  )
}
