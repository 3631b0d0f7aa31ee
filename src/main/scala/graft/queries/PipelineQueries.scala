package graft.queries

import graft.functions.TextFunctions.quantizeInt8
import graft.queries.SimilarityQueries.Dim
import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Training-data pipeline operators beyond dedup/ANN: deterministic
 * stratified sampling, TF-IDF relevance scoring over an inverted index,
 * and embedding quantization. All are map/agg shapes whose only shuffles
 * are the aggregations they genuinely need; every score that crosses the
 * oracle hash goes through exact integers, exact decimals, or
 * correctly-rounded double ops evaluated in the same order on both
 * engines.
 */
object PipelineQueries {

  import org.apache.spark.sql.SparkSession

  /** ITERATIVE bit-smear (x |= x>>1; x |= x>>2; … x |= x>>32) unrolled to
    * one expression by textual doubling — each shift applies to the
    * ACCUMULATED value (the non-iterative `w|w>>1|w>>2|…` undercounts:
    * shifting the original leaves gaps). After the smear,
    * `bit_count` = bit_length, so 55 − bit_count is the HLL ρ of a 54-bit
    * suffix. Same string runs on Spark and DuckDB. */
  private[graft] def smearExpr(v: String): String =
    Seq(1, 2, 4, 8, 16, 32).foldLeft(v)((e, k) => s"($e | (($e) >> $k))")

  /** One xy2d Hilbert round over columns (x, y, d) at bit value `S`
    * (order 16, N = 65536): returns (x', y', d') as PORTABLE SQL — plain
    * CASE + integer arithmetic, the quadrant term (3·rx)⊕ry written
    * arithmetically as 3rx + ry − 2rx·ry so no engine-specific XOR is
    * needed. Used verbatim by the Spark selectExpr chain AND the DuckDB
    * oracle; HilbertSpec pins the algorithm independently. */
  private[graft] def hilbertRound(S: Long): (String, String, String) = {
    val N = 1L << 16
    val rx = s"(CASE WHEN (x & $S) > 0 THEN 1 ELSE 0 END)"
    val ry = s"(CASE WHEN (y & $S) > 0 THEN 1 ELSE 0 END)"
    val xN = s"CASE WHEN $ry = 1 THEN x WHEN $rx = 1 THEN ${N - 1} - y " +
      "ELSE y END"
    val yN = s"CASE WHEN $ry = 1 THEN y WHEN $rx = 1 THEN ${N - 1} - x " +
      "ELSE x END"
    // CAST first: s² up to 2³⁰ is INT-ranged but ×3 overflows 32-bit —
    // promote before the quadrant multiply (both engines)
    val dN = s"d + CAST(${S * S} AS BIGINT) * " +
      s"(3 * $rx + $ry - 2 * $rx * $ry)"
    (xN, yN, dN)
  }

  /** Idempotently materialize narrow BUCKETED copies of lineitem/orders
    * (16 buckets on the join key) for this SF and register them in the
    * session catalog. Files persist under `.scratch`; a fresh session
    * re-registers the existing layout with CREATE TABLE … CLUSTERED BY,
    * so the one-time write cost never recurs. */
  private[queries] def prepareBucketed(s: SparkSession,
      sfDir: String): (String, String) = {
    val sf = new java.io.File(sfDir).getName.replace('.', '_')
    val root = graft.Artifacts.dir("bucketed", sfDir)
    def ensure(source: String, cols: Seq[String], key: String): String = {
      val name = s"${source}_bkt_$sf"
      if (!s.catalog.tableExists(name)) {
        val loc = s"$root/$source"
        val done = new java.io.File(s"$loc/_BUCKETED")
        if (done.isFile) {
          // data exists from an earlier session — re-register the layout
          val schema = Tables.load(s, sfDir, source)
            .select(cols.map(col): _*).schema.toDDL
          s.sql(s"""CREATE TABLE $name ($schema) USING PARQUET
                   |CLUSTERED BY ($key) INTO 16 BUCKETS
                   |LOCATION '$loc'""".stripMargin)
        } else {
          // overwrite: a crash after a partial data write but before the
          // marker must not strand the path in an unrecoverable
          // already-exists state on the next attempt
          Tables.load(s, sfDir, source).select(cols.map(col): _*)
            .write.format("parquet").mode("overwrite").bucketBy(16, key)
            .option("path", loc).saveAsTable(name)
          done.createNewFile()
        }
      }
      name
    }
    (ensure("lineitem", Seq("l_orderkey", "l_returnflag"), "l_orderkey"),
      ensure("orders", Seq("o_orderkey", "o_orderstatus"), "o_orderkey"))
  }

  def defs: Map[String, QueryDef] = Map(

    // Co-located (bucketed) join — the shuffle-ELIMINATION pattern for
    // repeated fact-fact joins: both sides pre-bucketed on the join key
    // into the same bucket count, so the SortMergeJoin consumes the
    // scans' bucket partitioning directly and the plan has NO exchange
    // under the join (PlanSpec asserts it). At 100 TB this turns the
    // dominant recurring shuffle of a pipeline into a one-time layout
    // cost. The merge hint pins SMJ so the contract holds at every SF
    // (a broadcast would also be shuffle-free, but wouldn't exercise the
    // bucketing).
    "q_bucketed_colocated_join" -> QueryDef(
      (s, dir) => {
        val (liT, ordT) = prepareBucketed(s, dir)
        s.table(liT)
          .join(s.table(ordT).hint("merge"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderstatus"), col("l_returnflag"))
          .agg(count(lit(1)).as("n_items"))
          .orderBy(col("o_orderstatus"), col("l_returnflag"))
      },
      Some("""SELECT o_orderstatus, l_returnflag, COUNT(*) AS n_items
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY o_orderstatus, l_returnflag
             |ORDER BY o_orderstatus, l_returnflag""".stripMargin)),

    // Deterministic stratified (per-language) sampling: hash-threshold
    // Bernoulli with md5 over a seeded key — the standard reproducible
    // downsampling step of corpus building. Rates are per-stratum (en 50%,
    // rest 25%) via a lexicographic threshold on the hex prefix: md5 hex
    // is uniform, engine-portable, and independent of partitioning, so the
    // SAMPLE SET (not just its size) is reproducible anywhere — which is
    // what makes pipeline reruns diffable at 100 TB. Pure map, no shuffle
    // before the presentation sort.
    "sample_stratified" -> QueryDef(
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val bucket = substring(
          md5(concat(lit("graft-sample|"), col("doc_id").cast(StringType))),
          1, 8)
        val thresh = when(col("lang") === "en", lit("80000000"))
          .otherwise(lit("40000000"))
        d.select(col("doc_id"), col("lang"), bucket.as("bucket"))
          .filter(col("bucket") < thresh)
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, lang, bucket FROM (
             |  SELECT doc_id, lang,
             |    substr(md5('graft-sample|' || CAST(doc_id AS VARCHAR)), 1, 8)
             |      AS bucket,
             |    CASE WHEN lang = 'en' THEN '80000000' ELSE '40000000' END
             |      AS thresh
             |  FROM documents)
             |WHERE bucket < thresh ORDER BY doc_id""".stripMargin)),

    // Fixed-SIZE deterministic sample per stratum (the reservoir-sampling
    // contract, reproducibly): rank documents inside each language by the
    // md5 of a seeded key and keep the k smallest — a uniform random
    // k-subset under the random-oracle view of md5, yet the SAME subset on
    // any engine, any partitioning, any run. One shuffle (the per-stratum
    // rank); k rows per stratum leave the shuffle.
    "sample_reservoir_k" -> QueryDef(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val k = 25
        val d = Tables.load(s, dir, "documents")
        val rk = substring(
          md5(concat(lit("graft-res|"), col("doc_id").cast(StringType))),
          1, 16)
        d.select(col("doc_id"), col("lang"), rk.as("rk"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("lang")).orderBy(col("rk"), col("doc_id"))))
          .filter(col("rn") <= k)
          .select(col("doc_id"), col("lang"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, lang FROM (
             |  SELECT doc_id, lang, ROW_NUMBER() OVER (
             |    PARTITION BY lang
             |    ORDER BY substr(md5('graft-res|' || CAST(doc_id AS VARCHAR)), 1, 16),
             |      doc_id) AS rn
             |  FROM documents)
             |WHERE rn <= 25 ORDER BY doc_id""".stripMargin)),

    // TF-IDF top-k retrieval over an inverted index: tokenize → per-(doc,
    // term) counts → document frequencies → score a fixed query term set
    // with a BM25-style rational idf ((N - df + 0.5)/(df + 0.5) — division
    // only: correctly-rounded double ops are bit-identical across engines,
    // unlike ln). Per-term scores sum through DECIMAL(18,6) so the
    // addition is exact and order-free. The inverted index shuffles once
    // on (doc, term); the query-side df table is broadcast-sized (|terms|
    // rows) at any corpus size.
    "text_tfidf_topk" -> QueryDef(
      (s, dir) => {
        val terms = Seq("spark", "merge", "window")
        val d = Tables.load(s, dir, "documents")
        val toks = d.select(col("doc_id"),
            explode(split(col("text"), " ")).as("term"))
          .filter(length(col("term")) > 0)
        val tf = toks.groupBy(col("doc_id"), col("term"))
          .agg(count(lit(1)).as("tf"))
        val dfreq = tf.filter(col("term").isin(terms: _*))
          .groupBy(col("term")).agg(count(lit(1)).as("df"))
        val n = d.agg(count(lit(1)).as("n"))
        tf.filter(col("term").isin(terms: _*))
          .join(broadcast(dfreq), "term")
          .crossJoin(broadcast(n))
          .withColumn("s",
            (col("tf").cast(DoubleType) *
              ((col("n") - col("df") + lit(0.5d)) /
                (col("df") + lit(0.5d))))
              .cast(DecimalType(18, 6)))
          .groupBy(col("doc_id"))
          .agg(sum(col("s")).cast(DoubleType).as("score"))
          .orderBy(col("score").desc, col("doc_id"))
          .limit(10)
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
             |  FROM documents),
             |tf AS (
             |  SELECT doc_id, term, count(*) AS tf FROM toks
             |  WHERE len(term) > 0 GROUP BY 1, 2),
             |dfreq AS (
             |  SELECT term, count(*) AS df FROM tf
             |  WHERE term IN ('spark', 'merge', 'window') GROUP BY 1),
             |n AS (SELECT count(*) AS n FROM documents)
             |SELECT doc_id, CAST(SUM(s) AS DOUBLE) AS score FROM (
             |  SELECT doc_id,
             |    CAST(CAST(tf AS DOUBLE) *
             |      ((n.n - df + 0.5) / (df + 0.5)) AS DECIMAL(18,6)) AS s
             |  FROM tf JOIN dfreq USING (term), n
             |  WHERE term IN ('spark', 'merge', 'window'))
             |GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 10""".stripMargin)),

    // PSEUDO-RELEVANCE-FEEDBACK QUERY EXPANSION (RM3-lite) — the classic
    // second-pass retrieval trick: run BM25 for the original terms, take
    // the top-5 feedback documents, mine their 3 strongest co-occurring
    // terms (by summed tf; stopwords, short tokens and the originals
    // excluded), and re-score the corpus with the expanded 6-term query.
    // Expansion terms are DATA-DEPENDENT and stay entirely inside the
    // plan (a term DataFrame unioned from literals + the mined top-3 —
    // no driver round-trip), so the operator composes into pipelines.
    // Uniform term weights (full RM3 interpolation weights need model
    // probabilities; the uniform variant is the standard baseline).
    // Scale: ONE tokenize pass feeds tf/dl/df; the feedback pool is
    // 5-docs-sized; both scoring passes touch only query-term postings;
    // every top-k is a TakeOrdered.
    "retrieval_prf_expansion" -> QueryDef(
      (s, dir) => {
        val terms0 = Seq("spark", "merge", "window")
        val d = Tables.load(s, dir, "documents")
        val toks = d.select(col("doc_id"),
            explode(split(col("text"), " ")).as("term"))
          .filter(length(col("term")) > 0)
        // EAGER cut, not a lazy cache: tf is referenced by five subplans
        // of ONE action (df0, both scoring passes, the feedback miner,
        // dl) — lazy-cache branches race the cold cache and re-tokenize
        // per branch (measured 4.6 s; 2.3 s with the barrier)
        val tf = graft.operators.IterBarrier.cut(
          toks.groupBy(col("doc_id"), col("term"))
            .agg(count(lit(1)).as("tf")), 1, reliableEvery = 0)
        val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
          .cache()
        val n = d.agg(count(lit(1)).as("n"))
        val tot = dl.agg(sum(col("dl")).as("tot"))
        val tfD = col("tf").cast(DoubleType)
        val avgdl = col("tot").cast(DoubleType) / col("n").cast(DoubleType)
        val idf = (col("n") - col("df") + lit(0.5d)) / (col("df") + lit(0.5d))
        val norm = tfD * lit(2.2d) /
          (tfD + lit(1.2d) * (lit(0.25d) +
            lit(0.75d) * (col("dl").cast(DoubleType) / avgdl)))
        def bm25(queryTerms: org.apache.spark.sql.DataFrame) = {
          val dfreq = tf.join(queryTerms, "term")
            .groupBy(col("term")).agg(count(lit(1)).as("df"))
          tf.join(queryTerms, "term")
            .join(broadcast(dfreq), "term")
            .join(dl, "doc_id")
            .crossJoin(broadcast(n))
            .crossJoin(broadcast(tot))
            .withColumn("s", (idf * norm).cast(DecimalType(18, 6)))
            .groupBy(col("doc_id"))
            .agg(sum(col("s")).cast(DoubleType).as("score"))
        }
        val lit0 = s.createDataFrame(terms0.map(Tuple1(_)))
          .toDF("term")
        val top5 = bm25(lit0)
          .orderBy(col("score").desc, col("doc_id")).limit(5)
          .select(col("doc_id"))
        val mined = tf.join(top5, "doc_id")
          .filter(length(col("term")) > 3
            && !col("term").isin(terms0: _*)
            && !col("term").isin(
              graft.functions.TextFunctions.qualityStopwords: _*))
          .groupBy(col("term")).agg(sum(col("tf")).as("tfsum"))
          .orderBy(col("tfsum").desc, col("term")).limit(3)
          .select(col("term"))
        val expanded = lit0.union(mined)
        bm25(expanded)
          .orderBy(col("score").desc, col("doc_id"))
          .limit(10)
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
             |  FROM documents),
             |tf AS (
             |  SELECT doc_id, term, count(*) AS tf FROM toks
             |  WHERE len(term) > 0 GROUP BY 1, 2),
             |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
             |       FROM tf GROUP BY 1),
             |n AS (SELECT count(*) AS n FROM documents),
             |tot AS (SELECT CAST(SUM(dl) AS BIGINT) AS tot FROM dl),
             |q0(term) AS (VALUES ('spark'), ('merge'), ('window')),
             |df0 AS (
             |  SELECT term, count(*) AS df FROM tf JOIN q0 USING (term)
             |  GROUP BY 1),
             |s0 AS (
             |  SELECT tf.doc_id, CAST(SUM(
             |    CAST(((n.n - df + 0.5) / (df + 0.5)) *
             |      (CAST(tf AS DOUBLE) * 2.2 /
             |       (CAST(tf AS DOUBLE) + 1.2 * (0.25 +
             |        0.75 * (CAST(dl.dl AS DOUBLE) /
             |                (CAST(tot.tot AS DOUBLE) / CAST(n.n AS DOUBLE))))))
             |      AS DECIMAL(18,6))) AS DOUBLE) AS score
             |  FROM tf JOIN q0 USING (term) JOIN df0 USING (term)
             |    JOIN dl USING (doc_id), n, tot
             |  GROUP BY tf.doc_id),
             |top5 AS (
             |  SELECT doc_id FROM s0
             |  ORDER BY score DESC, doc_id LIMIT 5),
             |mined AS (
             |  SELECT term FROM (
             |    SELECT tf.term, CAST(SUM(tf.tf) AS BIGINT) AS tfsum
             |    FROM tf JOIN top5 USING (doc_id)
             |    WHERE len(tf.term) > 3
             |      AND tf.term NOT IN ('spark', 'merge', 'window')
             |      AND tf.term NOT IN ('the', 'a', 'of', 'to', 'and')
             |    GROUP BY tf.term
             |    ORDER BY tfsum DESC, tf.term LIMIT 3)),
             |qe(term) AS (SELECT term FROM q0 UNION ALL
             |             SELECT term FROM mined),
             |dfe AS (
             |  SELECT term, count(*) AS df FROM tf JOIN qe USING (term)
             |  GROUP BY 1)
             |SELECT tf.doc_id, CAST(SUM(
             |  CAST(((n.n - df + 0.5) / (df + 0.5)) *
             |    (CAST(tf AS DOUBLE) * 2.2 /
             |     (CAST(tf AS DOUBLE) + 1.2 * (0.25 +
             |      0.75 * (CAST(dl.dl AS DOUBLE) /
             |              (CAST(tot.tot AS DOUBLE) / CAST(n.n AS DOUBLE))))))
             |    AS DECIMAL(18,6))) AS DOUBLE) AS score
             |FROM tf JOIN qe USING (term) JOIN dfe USING (term)
             |  JOIN dl USING (doc_id), n, tot
             |GROUP BY tf.doc_id
             |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin)),

    // BM25 top-k retrieval — text_tfidf_topk plus the two terms that make
    // BM25 the production lexical ranker: tf SATURATION (k1 = 1.2 caps a
    // term's contribution, so keyword stuffing stops paying) and document
    // LENGTH NORMALIZATION (b = 0.75 discounts matches in long documents
    // against the corpus mean length). Same rational idf as tfidf
    // ((N−df+0.5)/(df+0.5) — division-only; correctly-rounded double ops
    // are bit-identical across engines, unlike ln); the norm factor is
    // likewise pure divisions of exact integers, the per-term scores sum
    // through DECIMAL(18,6) so addition is exact and order-free. Scale
    // shape: doc lengths and the inverted index come from ONE tokenize
    // pass shuffled once on (doc, term); df and avgdl are broadcast-sized
    // scalars/tables at any corpus size; only query-term postings ever
    // join.
    "retrieval_bm25_topk" -> QueryDef(
      (s, dir) => {
        val terms = Seq("spark", "merge", "window")
        val d = Tables.load(s, dir, "documents")
        val toks = d.select(col("doc_id"),
            explode(split(col("text"), " ")).as("term"))
          .filter(length(col("term")) > 0)
        val tf = toks.groupBy(col("doc_id"), col("term"))
          .agg(count(lit(1)).as("tf"))
        val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
        val dfreq = tf.filter(col("term").isin(terms: _*))
          .groupBy(col("term")).agg(count(lit(1)).as("df"))
        val n = d.agg(count(lit(1)).as("n"))
        val tot = toks.agg(count(lit(1)).as("tot"))
        val tfD = col("tf").cast(DoubleType)
        val avgdl = col("tot").cast(DoubleType) / col("n").cast(DoubleType)
        val idf = (col("n") - col("df") + lit(0.5d)) / (col("df") + lit(0.5d))
        val norm = tfD * lit(2.2d) /
          (tfD + lit(1.2d) * (lit(0.25d) +
            lit(0.75d) * (col("dl").cast(DoubleType) / avgdl)))
        tf.filter(col("term").isin(terms: _*))
          .join(broadcast(dfreq), "term")
          .join(dl, "doc_id")
          .crossJoin(broadcast(n))
          .crossJoin(broadcast(tot))
          .withColumn("s", (idf * norm).cast(DecimalType(18, 6)))
          .groupBy(col("doc_id"))
          .agg(sum(col("s")).cast(DoubleType).as("score"))
          .orderBy(col("score").desc, col("doc_id"))
          .limit(10)
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
             |  FROM documents),
             |toksf AS (SELECT doc_id, term FROM toks WHERE len(term) > 0),
             |tf AS (
             |  SELECT doc_id, term, count(*) AS tf FROM toksf
             |  GROUP BY 1, 2),
             |dl AS (SELECT doc_id, count(*) AS dl FROM toksf GROUP BY 1),
             |dfreq AS (
             |  SELECT term, count(*) AS df FROM tf
             |  WHERE term IN ('spark', 'merge', 'window') GROUP BY 1),
             |n AS (SELECT count(*) AS n FROM documents),
             |tot AS (SELECT count(*) AS tot FROM toksf)
             |SELECT doc_id, CAST(SUM(s) AS DOUBLE) AS score FROM (
             |  SELECT tf.doc_id,
             |    CAST(((n.n - df + 0.5) / (df + 0.5)) *
             |      (CAST(tf AS DOUBLE) * 2.2 /
             |       (CAST(tf AS DOUBLE) + 1.2 * (0.25 +
             |        0.75 * (CAST(dl.dl AS DOUBLE) /
             |                (CAST(tot.tot AS DOUBLE) / CAST(n.n AS DOUBLE))))))
             |      AS DECIMAL(18,6)) AS s
             |  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id), n, tot
             |  WHERE term IN ('spark', 'merge', 'window'))
             |GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 10""".stripMargin)),

    // RANKER AGREEMENT (Kendall tau) — when two lexical rankers disagree
    // on a corpus, WHERE they disagree is the tuning signal: per query
    // set, BM25's and plain tf-idf's top-10 lists are intersected and
    // every document pair in the intersection is counted concordant or
    // discordant by rank-difference sign; tau rides exact integers
    // ((C−D)·10⁶ div (C+D)). Both scores come from ONE tokenize/tf pass
    // (they share tf, df, dl and the corpus scalars — BM25 is tf-idf
    // plus saturation and length norm), queries are a 4-row literal
    // table joined onto the postings, and the pair stage is a self-join
    // of ≤10-row-per-query lists — never corpus-sized. The production
    // read: tau ≈ 1 means the cheap ranker suffices; low tau names the
    // queries needing the expensive one.
    "retrieval_rank_correlation" -> QueryDef(
      (s, dir) => {
        val qsets: Seq[(Long, Seq[String])] = Seq(
          1L -> Seq("spark", "merge", "window"),
          2L -> Seq("join", "batch"),
          3L -> Seq("table", "key"),
          4L -> Seq("stream", "vector"))
        val d = Tables.load(s, dir, "documents")
        val toks = d.select(col("doc_id"),
            explode(split(col("text"), " ")).as("term"))
          .filter(length(col("term")) > 0)
        val qt = s.createDataFrame(
          qsets.flatMap { case (q, ts) => ts.map(t => (q, t)) })
          .toDF("qid", "term")
        // one (doc, term) aggregate feeds BOTH rankers; the eager cut
        // stops the five consumers below re-tokenizing the corpus (the
        // PRF lesson)
        val tf = graft.operators.IterBarrier.cut(
          toks.groupBy(col("doc_id"), col("term"))
            .agg(count(lit(1)).as("tf")), 1, reliableEvery = 0)
        val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
        val dfreq = tf.join(broadcast(qt), "term")
          .groupBy(col("qid"), col("term")).agg(count(lit(1)).as("df"))
        val n = d.agg(count(lit(1)).as("n"))
        val tot = tf.agg(sum(col("tf")).as("tot"))
        val tfD = col("tf").cast(DoubleType)
        val avgdl = col("tot").cast(DoubleType) / col("n").cast(DoubleType)
        val idf = (col("n") - col("df") + lit(0.5d)) / (col("df") + lit(0.5d))
        val norm = tfD * lit(2.2d) /
          (tfD + lit(1.2d) * (lit(0.25d) +
            lit(0.75d) * (col("dl").cast(DoubleType) / avgdl)))
        val scored = tf.join(broadcast(qt), "term")
          .join(broadcast(dfreq), Seq("qid", "term"))
          .join(dl, "doc_id")
          .crossJoin(broadcast(n))
          .crossJoin(broadcast(tot))
          .withColumn("sb", (idf * norm).cast(DecimalType(18, 6)))
          .withColumn("st", (tfD * idf).cast(DecimalType(18, 6)))
          .groupBy(col("qid"), col("doc_id"))
          .agg(sum(col("sb")).cast(DoubleType).as("bm25"),
            sum(col("st")).cast(DoubleType).as("tfidf"))
        def top10(score: String) = scored
          .withColumn("r", row_number().over(Window.partitionBy(col("qid"))
            .orderBy(col(score).desc, col("doc_id"))))
          .filter(col("r") <= 10)
          .select(col("qid"), col("doc_id"), col("r").as(s"r_$score"))
        val both = top10("bm25").join(top10("tfidf"), Seq("qid", "doc_id"))
        val a = both.select(col("qid"), col("doc_id").as("d1"),
          col("r_bm25").as("b1"), col("r_tfidf").as("t1"))
        val b = both.select(col("qid").as("qid2"), col("doc_id").as("d2"),
          col("r_bm25").as("b2"), col("r_tfidf").as("t2"))
        val pairs = a.join(b,
          col("qid") === col("qid2") && col("d1") < col("d2"))
        val agg = pairs.groupBy(col("qid")).agg(
          sum(when((col("b1") - col("b2")) * (col("t1") - col("t2")) > 0, 1L)
            .otherwise(0L)).as("n_conc"),
          sum(when((col("b1") - col("b2")) * (col("t1") - col("t2")) < 0, 1L)
            .otherwise(0L)).as("n_disc"))
        // report every query set, zeros where the two top-10s are
        // disjoint — a vanished row would hide exactly the queries whose
        // rankers disagree most
        qt.select(col("qid")).distinct()
          .join(both.groupBy(col("qid")).agg(count(lit(1)).as("n_common")),
            Seq("qid"), "left")
          .join(agg, Seq("qid"), "left")
          .select(col("qid"), coalesce(col("n_common"), lit(0L)).as("n_common"),
            coalesce(col("n_conc"), lit(0L)).as("n_conc"),
            coalesce(col("n_disc"), lit(0L)).as("n_disc"),
            // |C−D| divides, the sign applies after: Spark's `div`
            // truncates toward zero while DuckDB's `//` floors, so a
            // negative numerator would round differently across engines
            expr("CASE WHEN coalesce(n_conc, 0) + coalesce(n_disc, 0) = 0 " +
              "THEN 0 ELSE (CASE WHEN n_conc >= n_disc THEN 1 ELSE -1 END) " +
              "* ((abs(coalesce(n_conc, 0) - coalesce(n_disc, 0)) " +
              "* 1000000) div (coalesce(n_conc, 0) + coalesce(n_disc, 0))) " +
              "END").as("tau_ppm"))
          .orderBy(col("qid"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
             |  FROM documents),
             |tf AS MATERIALIZED (
             |  SELECT doc_id, term, count(*) AS tf FROM toks
             |  WHERE len(term) > 0 GROUP BY 1, 2),
             |qt(qid, term) AS (VALUES
             |  (1, 'spark'), (1, 'merge'), (1, 'window'),
             |  (2, 'join'), (2, 'batch'),
             |  (3, 'table'), (3, 'key'),
             |  (4, 'stream'), (4, 'vector')),
             |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
             |       FROM tf GROUP BY 1),
             |dfreq AS (
             |  SELECT qid, term, count(*) AS df
             |  FROM tf JOIN qt USING (term) GROUP BY 1, 2),
             |n AS (SELECT count(*) AS n FROM documents),
             |tot AS (SELECT CAST(SUM(tf) AS BIGINT) AS tot FROM tf),
             |scored AS MATERIALIZED (
             |  SELECT qid, doc_id,
             |    CAST(SUM(CAST(((n.n - df + 0.5) / (df + 0.5)) *
             |      (CAST(tf AS DOUBLE) * 2.2 /
             |       (CAST(tf AS DOUBLE) + 1.2 * (0.25 +
             |        0.75 * (CAST(dl.dl AS DOUBLE) /
             |                (CAST(tot.tot AS DOUBLE) / CAST(n.n AS DOUBLE))))))
             |      AS DECIMAL(18,6))) AS DOUBLE) AS bm25,
             |    CAST(SUM(CAST(CAST(tf AS DOUBLE) *
             |      ((n.n - df + 0.5) / (df + 0.5))
             |      AS DECIMAL(18,6))) AS DOUBLE) AS tfidf
             |  FROM tf JOIN qt USING (term) JOIN dfreq USING (qid, term)
             |    JOIN dl USING (doc_id), n, tot
             |  GROUP BY 1, 2),
             |tb AS (
             |  SELECT qid, doc_id, r_bm25 FROM (
             |    SELECT qid, doc_id, row_number() OVER (PARTITION BY qid
             |      ORDER BY bm25 DESC, doc_id) AS r_bm25 FROM scored)
             |  WHERE r_bm25 <= 10),
             |tt AS (
             |  SELECT qid, doc_id, r_tfidf FROM (
             |    SELECT qid, doc_id, row_number() OVER (PARTITION BY qid
             |      ORDER BY tfidf DESC, doc_id) AS r_tfidf FROM scored)
             |  WHERE r_tfidf <= 10),
             |isec AS MATERIALIZED (
             |  SELECT qid, doc_id, r_bm25, r_tfidf
             |  FROM tb JOIN tt USING (qid, doc_id)),
             |pr AS (
             |  SELECT a.qid,
             |    CAST(SUM(CASE WHEN (a.r_bm25 - b.r_bm25) *
             |      (a.r_tfidf - b.r_tfidf) > 0 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_conc,
             |    CAST(SUM(CASE WHEN (a.r_bm25 - b.r_bm25) *
             |      (a.r_tfidf - b.r_tfidf) < 0 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_disc
             |  FROM isec a JOIN isec b
             |    ON a.qid = b.qid AND a.doc_id < b.doc_id
             |  GROUP BY a.qid)
             |SELECT CAST(q.qid AS BIGINT) AS qid,
             |  coalesce(c.n_common, CAST(0 AS BIGINT)) AS n_common,
             |  coalesce(pr.n_conc, CAST(0 AS BIGINT)) AS n_conc,
             |  coalesce(pr.n_disc, CAST(0 AS BIGINT)) AS n_disc,
             |  CAST(CASE WHEN coalesce(pr.n_conc, 0) + coalesce(pr.n_disc, 0)
             |      = 0 THEN 0
             |    ELSE (CASE WHEN pr.n_conc >= pr.n_disc THEN 1 ELSE -1 END)
             |      * ((abs(coalesce(pr.n_conc, 0) - coalesce(pr.n_disc, 0))
             |      * 1000000) // (coalesce(pr.n_conc, 0)
             |      + coalesce(pr.n_disc, 0))) END AS BIGINT) AS tau_ppm
             |FROM (SELECT DISTINCT qid FROM qt) q
             |LEFT JOIN (SELECT qid, CAST(count(*) AS BIGINT) AS n_common
             |           FROM isec GROUP BY qid) c USING (qid)
             |LEFT JOIN pr USING (qid)
             |ORDER BY q.qid""".stripMargin)),

    // Salted skew join — the 100 TB pattern for a shuffle join whose key
    // distribution is skewed (one hot orderkey would otherwise pin its
    // entire fan-in on one reducer): the fact side salts each row into one
    // of 8 sub-keys by hash, the dimension side replicates once per salt,
    // and the join key becomes (key, salt) — per-reducer fan-in drops 8×
    // at the cost of an 8× dim replication (cheap: dims are the small
    // side). Result is provably identical to the unsalted join; the oracle
    // IS the unsalted join.
    "q_salted_skew_join" -> QueryDef(
      (s, dir) => {
        val salts = 8
        val li = Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
          .withColumn("salt", pmod(hash(col("l_orderkey")), lit(salts)))
        val ord = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"))
          .withColumn("salt",
            explode(array((0 until salts).map(lit(_)): _*)))
        li.join(ord,
            col("l_orderkey") === col("o_orderkey")
              && li("salt") === ord("salt"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_items"),
            // exact-decimal factors multiplied exactly (the double product
            // would tie-break differently across engines at CAST time)
            sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
              (lit(1).cast(DecimalType(18, 2)) -
                col("l_discount").cast(DecimalType(18, 2))))
              .cast(DoubleType).as("revenue"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS n_items,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
             |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
             |    AS DOUBLE) AS revenue
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // Z-order (Morton) layout key — the multi-dimensional clustering step
    // of a write path: interleaving the bits of (customer, order-date)
    // makes rows close in BOTH dimensions close in the sort order, so
    // either predicate prunes file ranges after a z-sorted write. The
    // z-value is exact integer bit-math (21 bits per dimension → 42-bit
    // key), generated once and shared verbatim with the SQL oracle. Pure
    // map + the final range-partitioned sort a layout write needs anyway.
    "layout_zorder" -> QueryDef(
      (s, dir) => {
        val o = Tables.load(s, dir, "orders")
        val a = col("o_custkey").cast(LongType)
        val b = datediff(col("o_orderdate"), lit("1970-01-01"))
          .cast(LongType)
        // the native expression behind graft_zvalue(a, b, 21) in SQL
        val z = graft.functions.GraftExtensions.zvalue(a, b, 21)
        o.select(col("o_orderkey"), z.as("z"))
          .orderBy(col("z"), col("o_orderkey"))
      },
      Some {
        val zExpr = (0 until 21).map(i =>
          s"(((a >> $i) & 1) << ${2 * i}) | (((b >> $i) & 1) << ${2 * i + 1})")
          .mkString(" | ")
        s"""SELECT o_orderkey, ($zExpr) AS z FROM (
           |  SELECT o_orderkey, CAST(o_custkey AS BIGINT) AS a,
           |    CAST(datediff('day', DATE '1970-01-01', o_orderdate)
           |      AS BIGINT) AS b
           |  FROM orders)
           |ORDER BY z, o_orderkey""".stripMargin
      }),

    // LAYOUT PRUNING BENEFIT — the audit that justifies paying for a
    // layout rewrite at all: the same 2-D filter box (a customer band ×
    // a date band) against 256-row pages under three physical orders —
    // natural (o_orderkey), single-column (custkey), and Z-order — and
    // per layout how many pages the box TOUCHES. touch_ppm is what a
    // min/max-zone-map scan would read: the single-column sort wins its
    // own dimension and loses the other; Z-order bounds both — this
    // 3-row sheet is the quantified reason the writer queries emit
    // Z/Hilbert keys. Exact: 15-bit dimension masks keep the interleaved
    // key + orderkey tiebreak inside one BIGINT; ranks come from the
    // SequencePacking distributed prefix-sum (range-partitioned, never a
    // single-task global window); pages and ppm are integer arithmetic.
    // 100 TB: three range exchanges of the fact table (exactly what the
    // writer being audited would do) and ≤3 tiny rollups.
    "layout_pruning_benefit" -> QueryDef(
      (s, dir) => {
        val base = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"),
            expr("CAST(o_custkey AS BIGINT) & 32767").as("x"),
            expr("CAST(datediff(o_orderdate, DATE '1970-01-01') " +
              "AS BIGINT) & 32767").as("y"))
          .withColumn("hit",
            (col("x").between(1000, 1999) &&
              col("y").between(9500, 9865)).cast(LongType))
          .withColumn("one", lit(1L))
        val zBits = (0 until 15).map(i =>
          s"(((x >> $i) & 1) << ${2 * i}) | (((y >> $i) & 1) << ${2 * i + 1})")
          .mkString(" | ")
        def audit(name: String, keyExpr: String) = {
          val keyed = base.withColumn("k", expr(keyExpr))
          // 8 range partitions: the audit table is orders-sized; at
          // cluster scale the caller sizes this to the writer's target
          // file count (the very layout being audited)
          graft.operators.SequencePacking
            .runningSum(keyed, "k", "one", "rk", Some(8))
            .selectExpr("hit", "(rk - 1) div 256 AS page")
            .groupBy(col("page")).agg(max(col("hit")).as("touched"),
              sum(col("hit")).as("n_hit"), count(lit(1)).as("n_rows"))
            .agg(sum(col("n_rows")).as("n_rows"),
              sum(col("n_hit")).as("n_rows_matched"),
              count(lit(1)).as("n_pages"),
              sum(col("touched")).as("n_pages_touched"))
            .selectExpr(s"'$name' AS layout", "n_rows", "n_rows_matched",
              "n_pages", "n_pages_touched",
              "(n_pages_touched * 1000000) div n_pages AS touch_ppm")
        }
        audit("natural", "o_orderkey")
          .unionByName(
            audit("custkey", "(x << 33) | o_orderkey"))
          .unionByName(
            audit("zorder", s"(($zBits) << 33) | o_orderkey"))
          .orderBy(col("layout"))
      },
      Some {
        val zBits = (0 until 15).map(i =>
          s"(((x >> $i) & 1) << ${2 * i}) | (((y >> $i) & 1) << ${2 * i + 1})")
          .mkString(" | ")
        def audit(name: String, keyExpr: String) =
          s"""  SELECT '$name' AS layout, n_rows, n_rows_matched, n_pages,
             |    n_pages_touched,
             |    (n_pages_touched * 1000000) // n_pages AS touch_ppm
             |  FROM (
             |    SELECT CAST(SUM(n_rows) AS BIGINT) AS n_rows,
             |      CAST(SUM(n_hit) AS BIGINT) AS n_rows_matched,
             |      CAST(count(*) AS BIGINT) AS n_pages,
             |      CAST(SUM(touched) AS BIGINT) AS n_pages_touched
             |    FROM (
             |      SELECT (rk - 1) // 256 AS page, MAX(hit) AS touched,
             |        SUM(hit) AS n_hit, count(*) AS n_rows
             |      FROM (SELECT hit,
             |              ROW_NUMBER() OVER (ORDER BY $keyExpr) AS rk
             |            FROM base)
             |      GROUP BY 1))""".stripMargin
        s"""WITH base AS MATERIALIZED (
           |  SELECT o_orderkey, x, y,
           |    CAST(x BETWEEN 1000 AND 1999
           |      AND y BETWEEN 9500 AND 9865 AS BIGINT) AS hit
           |  FROM (
           |    SELECT o_orderkey,
           |      CAST(o_custkey AS BIGINT) & 32767 AS x,
           |      CAST(datediff('day', DATE '1970-01-01', o_orderdate)
           |        AS BIGINT) & 32767 AS y
           |    FROM orders))
           |SELECT layout, n_rows, n_rows_matched, n_pages,
           |  n_pages_touched, touch_ppm FROM (
           |${Seq(
              audit("natural", "o_orderkey"),
              audit("custkey", "(x << 33) | o_orderkey"),
              audit("zorder", s"(($zBits) << 33) | o_orderkey"))
              .mkString("\n  UNION ALL\n")}
           |) ORDER BY layout""".stripMargin
      }),

    // HILBERT-curve layout key — the locality-better sibling of Z-order
    // (adjacent Hilbert indices are always adjacent cells, no Z-shape
    // jumps → fewer files touched by a 2-D range predicate). The standard
    // xy2d walk is 16 unrolled rounds of integer CASE arithmetic; one
    // generator emits the identical round expression for BOTH engines
    // (pure CASE + * / & — no engine-specific operators), and
    // HilbertSpec independently pins the algorithm against an imperative
    // reference, so a shared-text bug cannot slip through. Scale: a pure
    // narrow projection — codegen'd, no shuffle until the final sort a
    // writer would replace with repartitionByRange.
    "layout_hilbert" -> QueryDef(
      (s, dir) => {
        val o = Tables.load(s, dir, "orders")
        var df = o.select(col("o_orderkey"),
          expr("CAST(o_custkey AS BIGINT) & 65535").as("x"),
          expr("CAST(datediff(o_orderdate, DATE '1970-01-01') AS BIGINT)" +
            " & 65535").as("y"),
          lit(0L).as("d"))
        for (k <- 15 to 0 by -1) {
          val (xN, yN, dN) = hilbertRound(1L << k)
          df = df.selectExpr("o_orderkey", s"$dN AS d", s"$xN AS x",
            s"$yN AS y")
        }
        df.select(col("o_orderkey"), col("d").as("h"))
          .orderBy(col("h"), col("o_orderkey"))
      },
      Some {
        val base = """SELECT o_orderkey,
                     |    CAST(o_custkey AS BIGINT) & 65535 AS x,
                     |    CAST(datediff('day', DATE '1970-01-01',
                     |      o_orderdate) AS BIGINT) & 65535 AS y,
                     |    CAST(0 AS BIGINT) AS d FROM orders""".stripMargin
        val rounds = (15 to 0 by -1).foldLeft(s"($base)") { (prev, k) =>
          val (xN, yN, dN) = hilbertRound(1L << k)
          s"(SELECT o_orderkey, $dN AS d, $xN AS x, $yN AS y FROM $prev)"
        }
        s"""SELECT o_orderkey, d AS h FROM $rounds
           |ORDER BY h, o_orderkey""".stripMargin
      }),

    // Sequence packing: documents assigned to fixed-budget bins by
    // cumulative length in doc_id order — the "pack documents into
    // training sequences" step. The total-order cumulative sum runs as
    // range-partitioned per-partition windows plus a driver-side prefix
    // pass (operators/SequencePacking.scala), NOT a global
    // Window.orderBy — the naive global window is a single task at any
    // scale. Result is partition-count-independent; the oracle is the
    // same cumsum as one SQL window.
    "pack_sequences" -> QueryDef(
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("n_chars"))
        graft.operators.SequencePacking
          .packBins(d, "doc_id", "n_chars", budget = 4096L)
          .select(col("doc_id"), col("n_chars"), col("bin"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, n_chars,
             |  CAST((cum - n_chars) // 4096 AS BIGINT) AS bin
             |FROM (
             |  SELECT doc_id, n_chars,
             |    SUM(n_chars) OVER (ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             |  FROM documents)
             |ORDER BY doc_id""".stripMargin)),

    // PACKING EFFICIENCY REPORT — the accounting that decides whether the
    // packer's budget is right: bins from pack_sequences bucketed by fill
    // ratio (fill·10 div budget, capped at 10 — a doc that STARTS in a bin
    // belongs to it wholly, so oversized docs overflow their bin), with
    // bins, docs, and characters per fill decile. A left-skewed histogram
    // means wasted padding (budget too big); mass at the cap means
    // truncation pressure (budget too small). Scale shape: the same
    // range-partition + driver-prefix cumsum as the packer itself (never a
    // single-task global window), then a per-bin rollup and an ≤11-row
    // histogram.
    "pack_efficiency_report" -> QueryDef(
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("n_chars"))
        val fills = graft.operators.SequencePacking
          .packBins(d, "doc_id", "n_chars", budget = 4096L)
          .groupBy(col("bin")).agg(
            count(lit(1)).as("n_docs"), sum(col("n_chars")).as("fill"))
        fills
          .select(col("n_docs"), col("fill"),
            least(expr("fill * 10 div 4096"), lit(10L)).as("decile"))
          .groupBy(col("decile")).agg(
            count(lit(1)).as("n_bins"),
            sum(col("n_docs")).as("n_docs"),
            sum(col("fill")).as("n_chars"))
          .orderBy(col("decile"))
      },
      Some("""WITH packed AS (
             |  SELECT doc_id, n_chars,
             |    CAST((cum - n_chars) // 4096 AS BIGINT) AS bin
             |  FROM (
             |    SELECT doc_id, n_chars,
             |      SUM(n_chars) OVER (ORDER BY doc_id
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             |    FROM documents)),
             |fills AS (
             |  SELECT bin, count(*) AS n_docs,
             |    CAST(SUM(n_chars) AS BIGINT) AS fill
             |  FROM packed GROUP BY bin)
             |SELECT least(fill * 10 // 4096, 10) AS decile,
             |  CAST(count(*) AS BIGINT) AS n_bins,
             |  CAST(SUM(n_docs) AS BIGINT) AS n_docs,
             |  CAST(SUM(fill) AS BIGINT) AS n_chars
             |FROM fills GROUP BY 1 ORDER BY decile""".stripMargin)),

    // BALANCED SHARD ASSIGNMENT — the export-writer step: documents dealt
    // to a fixed shard count by size-sorted round-robin (largest docs
    // spread first — the greedy LPT heuristic in its deterministic dealt
    // form), so output files stay within a tight size band for downstream
    // trainers. The global size rank is packBins with UNIT weight and
    // budget 1 (bin ≡ rank) — the same range-partition + driver-prefix
    // device, so there is NO single-task global window at any scale; the
    // sort key folds (n_chars desc, doc_id) into one long so the range
    // exchange has a total order. Per-shard rollup is ≤shards rows.
    "pack_balanced_shards" -> QueryDef(
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("n_chars"))
          .withColumn("one", lit(1L))
          .withColumn("key",
            col("doc_id") - col("n_chars") * 10000000000L)
        graft.operators.SequencePacking
          .packBins(d, "key", "one", budget = 1L)
          .withColumn("shard", col("bin") % 16L)
          .groupBy(col("shard")).agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            max(col("n_chars")).as("max_chars"),
            min(col("n_chars")).as("min_chars"))
          .orderBy(col("shard"))
      },
      Some("""WITH r AS (
             |  SELECT doc_id, n_chars,
             |    ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) - 1 AS rk
             |  FROM documents)
             |SELECT CAST(rk % 16 AS BIGINT) AS shard,
             |  CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(max(n_chars) AS BIGINT) AS max_chars,
             |  CAST(min(n_chars) AS BIGINT) AS min_chars
             |FROM r GROUP BY 1 ORDER BY shard""".stripMargin)),

    // Symmetric int8 scalar quantization of the embedding column — the
    // compression step before an ANN index ships to serving. One global
    // scale (max |x|, an exact float max) broadcast to a pure map;
    // quantized values are exact integers (floor(x*127/scale + 0.5) —
    // floor, not round, so half-up tie behavior is engine-identical).
    // Output is exploded to (vec_id, dim, q) scalars.
    "vec_quantize_int8" -> QueryDef(
      (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
        val scale = e.select(explode(col("embedding")).as("x"))
          .agg(max(abs(col("x"))).cast(DoubleType).as("scale"))
        e.select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "x")))
          .crossJoin(broadcast(scale))
          .select(col("vec_id"), col("i").cast(LongType).as("i"),
            quantizeInt8(col("x"), col("scale")).as("q"))
          .orderBy(col("vec_id"), col("i"))
      },
      Some("""WITH scale AS (
             |  SELECT CAST(MAX(list_aggregate(list_transform(embedding,
             |    x -> abs(x)), 'max')) AS DOUBLE) AS scale
             |  FROM embeddings)
             |SELECT vec_id, i, CAST(FLOOR(CAST(embedding[i + 1] AS DOUBLE)
             |    * 127.0 / scale + 0.5) AS BIGINT) AS q
             |FROM embeddings, (SELECT unnest(range(0, 64)) AS i) r, scale
             |WHERE i < len(embedding)
             |ORDER BY vec_id, i""".stripMargin)),

    // PER-DIMENSION EMBEDDING STATISTICS — the normalization/whitening
    // pass every embedding pipeline runs before indexing or training: per
    // dimension the count, Σq and the exact variance NUMERATOR
    // n·Σq² − (Σq)² (variance scaled by n² — no division, stays BIGINT;
    // consumers divide once at the end). Values ride the suite's shared
    // int8 quantization (global max-abs scale, the vec_quantize_int8
    // contract) so every term is integer-exact and order-independent.
    // Scale shape: scalar scale broadcast onto the scan, posexplode → ONE
    // map-side-combined aggregate, Dim rows out regardless of corpus size
    // (at ≥10^9 vectors the Σq² products promote to DECIMAL — same note
    // as the sampling cross-multiplications).
    "embed_dim_stats" -> QueryDef(
      (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
        val scale = e.select(explode(col("embedding")).as("x"))
          .agg(max(abs(col("x"))).cast(DoubleType).as("scale"))
        val q = quantizeInt8(col("x"), col("scale"))
        e.select(posexplode(col("embedding")).as(Seq("i", "x")))
          .crossJoin(broadcast(scale))
          .select(col("i").cast(LongType).as("i"), q.as("q"))
          .groupBy(col("i")).agg(
            count(lit(1)).as("n"),
            sum(col("q")).as("sum_q"),
            sum(col("q") * col("q")).as("sum_q2"))
          .select(col("i"), col("n"), col("sum_q"),
            (col("n") * col("sum_q2") - col("sum_q") * col("sum_q"))
              .as("var_num"))
          .orderBy(col("i"))
      },
      Some("""WITH scale AS (
             |  SELECT CAST(MAX(list_aggregate(list_transform(embedding,
             |    x -> abs(x)), 'max')) AS DOUBLE) AS scale
             |  FROM embeddings),
             |q AS (
             |  SELECT i, CAST(FLOOR(CAST(embedding[i + 1] AS DOUBLE)
             |      * 127.0 / scale + 0.5) AS BIGINT) AS q
             |  FROM embeddings, (SELECT unnest(range(0, 64)) AS i) r, scale
             |  WHERE i < len(embedding)),
             |st AS (
             |  SELECT i, CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(q) AS BIGINT) AS sum_q,
             |    CAST(sum(q * q) AS BIGINT) AS sum_q2
             |  FROM q GROUP BY i)
             |SELECT i, n, sum_q, n * sum_q2 - sum_q * sum_q AS var_num
             |FROM st ORDER BY i""".stripMargin)),

    // EMBEDDING COVARIANCE MATRIX (upper triangle) — the full whitening /
    // decorrelation pre-pass that embed_dim_stats' per-dimension variances
    // are the diagonal of: per (i ≤ j) the exact covariance NUMERATOR
    // n·Σq_i·q_j − Σq_i·Σq_j in the suite's shared int8 domain (scaled by
    // n² — no division, stays BIGINT; at ≥10^9 vectors the triple product
    // promotes to DECIMAL, same note as the sampling cross-multiplies).
    // What a PCA/whitening stage consumes and what detects redundant or
    // anti-correlated dimensions before index compression. Scale shape:
    // each vector expands IN-ROW to its Dim·(Dim+1)/2 upper-triangle
    // products (one explode — no self-join of the corpus), which
    // map-side-combine to 2080 rows regardless of corpus size; the Dim-row
    // sums table broadcasts back onto them twice.
    "embed_covariance" -> QueryDef(
      (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
        val scale = e.select(
          max(array_max(transform(col("embedding"), x => abs(x))))
            .cast(DoubleType).as("scale"))
        val qv = e.crossJoin(broadcast(scale))
          .select(transform(col("embedding"),
            x => quantizeInt8(x, col("scale"))).as("q8"))
        // per-vector upper-triangle products as a FLAT long array (no 4M
        // struct allocations); the (pos → i, j) tri-index is a 2080-row
        // broadcast lookup built ONCE from the same enumeration order
        val triIdx = s.range(1).select(posexplode(expr(
            s"""flatten(transform(sequence(0, ${Dim - 1}), i ->
              |  transform(sequence(i, ${Dim - 1}), j -> named_struct(
              |    'i', CAST(i AS BIGINT), 'j', CAST(j AS BIGINT)))))"""
              .stripMargin)).as(Seq("pos", "t")))
          .select(col("pos"), col("t.i").as("i"), col("t.j").as("j"))
        // REVERTED r13 experiment: fusing the dimension sums into the
        // product explode (one quantization pass + an eager 2144-row
        // checkpoint instead of two passes) measured 1.49 → 1.75/1.79 s
        // across two full-bench runs — the checkpoint job costs more
        // than the saved (small) second pass; the 2080-per-vector
        // product explode dominates either way.
        val prods = qv.select(posexplode(expr(
            s"""flatten(transform(sequence(0, ${Dim - 1}), i ->
              |  transform(sequence(i, ${Dim - 1}), j ->
              |    element_at(q8, i + 1) * element_at(q8, j + 1))))"""
              .stripMargin)).as(Seq("pos", "p")))
          .groupBy(col("pos")).agg(
            count(lit(1)).as("n"), sum(col("p")).as("s_ij"))
          .join(broadcast(triIdx), "pos")
        val sums = qv.select(posexplode(col("q8")).as(Seq("d", "q")))
          .groupBy(col("d").cast(LongType).as("d"))
          .agg(sum(col("q")).as("s"))
        prods
          .join(broadcast(sums.select(col("d").as("i"), col("s").as("s_i"))),
            "i")
          .join(broadcast(sums.select(col("d").as("j"), col("s").as("s_j"))),
            "j")
          .select(col("i"), col("j"), col("n"), col("s_ij"),
            (col("n") * col("s_ij") - col("s_i") * col("s_j"))
              .as("cov_num"))
          .orderBy(col("i"), col("j"))
      },
      Some(s"""WITH scale AS (
             |  SELECT CAST(MAX(list_aggregate(list_transform(embedding,
             |    x -> abs(x)), 'max')) AS DOUBLE) AS scale
             |  FROM embeddings),
             |qv AS (
             |  SELECT list_transform(embedding,
             |    x -> CAST(FLOOR(CAST(x AS DOUBLE) * 127.0 / scale + 0.5)
             |      AS BIGINT)) AS q8
             |  FROM embeddings, scale),
             |dims AS (SELECT unnest(range(0, $Dim)) AS d),
             |sums AS (
             |  SELECT d, CAST(sum(q8[d + 1]) AS BIGINT) AS s
             |  FROM qv, dims GROUP BY d),
             |prods AS (
             |  SELECT d1.d AS i, d2.d AS j,
             |    CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(q8[d1.d + 1] * q8[d2.d + 1]) AS BIGINT) AS s_ij
             |  FROM qv, dims d1, dims d2 WHERE d2.d >= d1.d
             |  GROUP BY 1, 2)
             |SELECT p.i, p.j, p.n, p.s_ij,
             |  p.n * p.s_ij - si.s * sj.s AS cov_num
             |FROM prods p JOIN sums si ON si.d = p.i
             |             JOIN sums sj ON sj.d = p.j
             |ORDER BY p.i, p.j""".stripMargin)),

    // KMV (k-minimum-values) distinct-count sketch — the mergeable-sketch
    // family (theta/HLL) in a deterministic, cross-engine-exact form:
    // per group, the k=8 smallest DISTINCT 60-bit hashes of the value; the
    // k-th smallest estimates the distinct count as (k-1)·2^60/kth. The
    // sketch is computed by a native bounded-buffer aggregate
    // ([[graft.functions.KMinimaAgg]]): the aggregation buffer never holds
    // more than k values at ANY point of the partial/merge tree — map-side
    // partial aggregation ships ≤ k longs per group per partition, and no
    // stage ever materializes a group's full distinct set (the thing a
    // sketch exists to avoid). The estimate is one double division of
    // exact integers; the exact distinct count (the full shuffle the
    // sketch avoids) rides along to show the error.
    "sketch_kmv_distinct" -> QueryDef(
      (s, dir) => {
        import graft.functions.SketchAggregates.kMinima
        import graft.functions.TextFunctions.md5Long
        val e = Tables.load(s, dir, "events")
        val k = 8
        val hashed = e.select(col("event_type"),
          md5Long(col("user_id").cast(StringType)).as("h"))
        val sketch = hashed.groupBy(col("event_type"))
          .agg(kMinima(col("h"), k).as("mins"))
          .select(col("event_type"),
            when(size(col("mins")) >= k, element_at(col("mins"), k)).as("kth"))
        val exact = hashed.distinct().groupBy(col("event_type"))
          .agg(count(lit(1)).as("exact_distinct"))
        exact.join(sketch, Seq("event_type"), "left")
          .select(col("event_type"), col("exact_distinct"),
            when(col("kth").isNull, col("exact_distinct").cast(DoubleType))
              .otherwise(round(lit((k - 1).toDouble) * lit(1152921504606846976.0d) /
                col("kth").cast(DoubleType), 4)).as("est_distinct"))
          .orderBy(col("event_type"))
      },
      Some {
        import graft.functions.TextFunctions.sqlMd5Long
        val h = sqlMd5Long("CAST(user_id AS VARCHAR)")
        s"""WITH hashed AS (
           |  SELECT DISTINCT event_type, $h AS h FROM events),
           |kth AS (
           |  SELECT event_type, h AS kth FROM (
           |    SELECT event_type, h,
           |      ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
           |    FROM hashed) WHERE rn = 8),
           |exact AS (
           |  SELECT event_type, COUNT(*) AS exact_distinct
           |  FROM hashed GROUP BY event_type)
           |SELECT e.event_type, e.exact_distinct,
           |  CASE WHEN k.kth IS NULL THEN CAST(e.exact_distinct AS DOUBLE)
           |    ELSE round(7.0 * 1152921504606846976.0 / CAST(k.kth AS DOUBLE), 4)
           |  END AS est_distinct
           |FROM exact e LEFT JOIN kth k ON e.event_type = k.event_type
           |ORDER BY e.event_type""".stripMargin
      }),

    // Sketch MERGEABILITY made explicit — the property that lets 100 TB
    // pipelines pre-aggregate per shard/day and combine later WITHOUT
    // rescanning: per-event_type KMV sketches (5 tiny rows, exactly what
    // sketch_kmv_distinct persists) merge by re-taking the k smallest of
    // the union into a corpus-wide distinct-user estimate. The merge step
    // touches 5 sketch rows — the events table is scanned once to build
    // the per-group sketches, never again for the global answer. Exact
    // global distinct rides along to show the error.
    "sketch_kmv_merge" -> QueryDef(
      (s, dir) => {
        import graft.functions.SketchAggregates.kMinima
        import graft.functions.TextFunctions.md5Long
        val e = Tables.load(s, dir, "events")
        val k = 8
        val hashed = e.select(col("event_type"),
          md5Long(col("user_id").cast(StringType)).as("h"))
        val perType = hashed.groupBy(col("event_type"))
          .agg(kMinima(col("h"), k).as("mins"))
        // merge phase: 5 sketch rows in, one global sketch out
        val merged = perType
          .select(explode(col("mins")).as("h"))
          .agg(kMinima(col("h"), k).as("mins"))
          .select(when(size(col("mins")) >= k, element_at(col("mins"), k))
            .as("kth"))
        val exact = hashed.select(col("h")).distinct()
          .agg(count(lit(1)).as("exact_distinct"))
        exact.crossJoin(merged)
          .select(col("exact_distinct"),
            when(col("kth").isNull, col("exact_distinct").cast(DoubleType))
              .otherwise(round(lit((k - 1).toDouble) *
                lit(1152921504606846976.0d) / col("kth").cast(DoubleType), 4))
              .as("est_distinct"))
      },
      Some {
        import graft.functions.TextFunctions.sqlMd5Long
        val h = sqlMd5Long("CAST(user_id AS VARCHAR)")
        s"""WITH hashed AS (
           |  SELECT DISTINCT event_type, $h AS h FROM events),
           |pertype AS (
           |  SELECT event_type, h FROM (
           |    SELECT event_type, h,
           |      ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
           |    FROM hashed) WHERE rn <= 8),
           |merged AS (
           |  SELECT h AS kth FROM (
           |    SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn
           |    FROM (SELECT DISTINCT h FROM pertype)) WHERE rn = 8),
           |exact AS (
           |  SELECT COUNT(DISTINCT h) AS exact_distinct FROM hashed)
           |SELECT e.exact_distinct,
           |  CASE WHEN m.kth IS NULL THEN CAST(e.exact_distinct AS DOUBLE)
           |    ELSE round(7.0 * 1152921504606846976.0 / CAST(m.kth AS DOUBLE), 4)
           |  END AS est_distinct
           |FROM exact e LEFT JOIN merged m ON TRUE""".stripMargin
      }),

    // Equi-width binned quantile sketch — the mergeable-histogram answer
    // to percentiles at 100 TB (exact percentiles need a full sort; the
    // histogram needs one tiny agg per group and merges by adding
    // counts). Values are fixed to cents (floor(v·100+0.5) — exact on
    // both engines), bins are 128 equal spans of the per-group range, and
    // THETA-SKETCH SET OPERATIONS — the piece KMV union (above) leaves
    // out: intersection and difference cardinality estimates between two
    // sets from their sketches ALONE (the 100 TB use: "how many users
    // overlap between two corpus snapshots" answered from two k-row
    // sketch tables, never rescanning either corpus). Theta semantics:
    // with θ = min(θ_A, θ_B) (each θ = the set's k-th smallest 60-bit
    // hash; 2^60 when |set| < k), each sketch retains EVERY member hash
    // below θ, so the sub-θ slices are exact uniform samples and
    // |slice| · 2^60 / θ estimates each region of the Venn diagram.
    // Everything to the final division is integer array algebra on two
    // k-element sketches; exact counts ride along to show the error.
    "sketch_theta_setops" -> QueryDef(
      (s, dir) => {
        import graft.functions.SketchAggregates.kMinima
        import graft.functions.TextFunctions.md5Long
        val k = 16
        val space = 1152921504606846976.0d // 2^60
        // set universe: (user, day) activity keys — click-days vs
        // purchase-days overlap on the ~third of user-days holding both,
        // so all three Venn regions are non-trivial at sketch resolution
        val e = Tables.load(s, dir, "events")
          .filter(col("event_type").isin("click", "purchase"))
          .select(col("event_type"),
            md5Long(concat(col("user_id").cast(StringType), lit(":"),
              expr("CAST(ts AS LONG) div 86400").cast(StringType)))
              .as("h"))
        def sketchOf(t: String, as: String) =
          e.filter(col("event_type") === t)
            .agg(kMinima(col("h"), k).as(as))
        val both = sketchOf("click", "ma").crossJoin(sketchOf("purchase", "mb"))
          .withColumn("theta", least(
            when(size(col("ma")) >= k, element_at(col("ma"), k))
              .otherwise(lit(1152921504606846976L)),
            when(size(col("mb")) >= k, element_at(col("mb"), k))
              .otherwise(lit(1152921504606846976L))))
          .withColumn("sa", filter(col("ma"), h => h < col("theta")))
          .withColumn("sb", filter(col("mb"), h => h < col("theta")))
        val ua = e.filter(col("event_type") === "click")
          .select(col("h")).distinct()
        val ub = e.filter(col("event_type") === "purchase")
          .select(col("h")).distinct()
        val exact = ua.withColumn("a", lit(1))
          .join(ub.withColumn("b", lit(1)), Seq("h"), "full")
          .agg(count(lit(1)).as("exact_union"),
            sum(when(col("a").isNotNull && col("b").isNotNull, 1L)
              .otherwise(0L)).as("exact_inter"),
            sum(when(col("a").isNotNull && col("b").isNull, 1L)
              .otherwise(0L)).as("exact_a_only"))
        exact.crossJoin(both)
          .select(col("exact_union"), col("exact_inter"),
            col("exact_a_only"),
            round(size(array_union(col("sa"), col("sb")))
              .cast(DoubleType) * space / col("theta").cast(DoubleType), 4)
              .as("est_union"),
            round(size(array_intersect(col("sa"), col("sb")))
              .cast(DoubleType) * space / col("theta").cast(DoubleType), 4)
              .as("est_inter"),
            round(size(array_except(col("sa"), col("sb")))
              .cast(DoubleType) * space / col("theta").cast(DoubleType), 4)
              .as("est_a_only"))
      },
      Some {
        import graft.functions.TextFunctions.sqlMd5Long
        val h = sqlMd5Long("concat(CAST(user_id AS VARCHAR), ':', " +
          "CAST(CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS VARCHAR))")
        s"""WITH hashed AS (
           |  SELECT DISTINCT event_type, $h AS h FROM events
           |  WHERE event_type IN ('click', 'purchase')),
           |ranked AS (
           |  SELECT event_type, h,
           |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
           |  FROM hashed),
           |thetas AS (
           |  SELECT
           |    LEAST(
           |      COALESCE(MAX(CASE WHEN event_type = 'click' AND rn = 16
           |        THEN h END), 1152921504606846976),
           |      COALESCE(MAX(CASE WHEN event_type = 'purchase' AND rn = 16
           |        THEN h END), 1152921504606846976)) AS theta
           |  FROM ranked),
           |sa AS (SELECT h FROM ranked, thetas
           |       WHERE event_type = 'click' AND rn <= 16 AND h < theta),
           |sb AS (SELECT h FROM ranked, thetas
           |       WHERE event_type = 'purchase' AND rn <= 16 AND h < theta),
           |est AS (
           |  SELECT
           |    CAST((SELECT COUNT(*) FROM (SELECT h FROM sa UNION
           |      SELECT h FROM sb)) AS BIGINT) AS n_union,
           |    CAST((SELECT COUNT(*) FROM sa JOIN sb USING (h)) AS BIGINT)
           |      AS n_inter,
           |    CAST((SELECT COUNT(*) FROM sa WHERE h NOT IN
           |      (SELECT h FROM sb)) AS BIGINT) AS n_a_only),
           |exact AS (
           |  SELECT
           |    CAST(COUNT(*) AS BIGINT) AS exact_union,
           |    CAST(SUM(CASE WHEN a IS NOT NULL AND b IS NOT NULL
           |      THEN 1 ELSE 0 END) AS BIGINT) AS exact_inter,
           |    CAST(SUM(CASE WHEN a IS NOT NULL AND b IS NULL
           |      THEN 1 ELSE 0 END) AS BIGINT) AS exact_a_only
           |  FROM (
           |    SELECT COALESCE(x.h, y.h) AS h, x.a, y.b FROM
           |      (SELECT h, 1 AS a FROM hashed
           |       WHERE event_type = 'click') x
           |    FULL JOIN
           |      (SELECT h, 1 AS b FROM hashed
           |       WHERE event_type = 'purchase') y
           |    ON x.h = y.h))
           |SELECT exact_union, exact_inter, exact_a_only,
           |  round(CAST(n_union AS DOUBLE) * 1152921504606846976.0
           |    / CAST(theta AS DOUBLE), 4) AS est_union,
           |  round(CAST(n_inter AS DOUBLE) * 1152921504606846976.0
           |    / CAST(theta AS DOUBLE), 4) AS est_inter,
           |  round(CAST(n_a_only AS DOUBLE) * 1152921504606846976.0
           |    / CAST(theta AS DOUBLE), 4) AS est_a_only
           |FROM exact, est, thetas""".stripMargin
      }),

    // HORVITZ–THOMPSON ESTIMATION under dyadic PPS sampling — the
    // estimator audit for every weighted-sample consumer above: documents
    // enter a Poisson sample with inclusion probability π_i = 2^{-b_i}
    // where the band b_i widens as the byte weight shrinks (heavy docs
    // near-certain, light docs 1-in-32), decided by comparing the doc's
    // 60-bit hash against 2^{60-b} — DYADIC π makes the HT total
    // Σ v_i · 2^{b_i} EXACT integer arithmetic end to end (the classic
    // float-summation drift in HT implementations never starts), and the
    // design stays mergeable: shards sample independently and the
    // estimator just adds. One scan, one scalar aggregate; the only float
    // is the final relative-error render.
    "sample_horvitz_thompson" -> QueryDef(
      (s, dir) => {
        import graft.functions.TextFunctions.{md5Long, words}
        val sampled = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("n_chars"),
            size(words(col("text"))).cast(LongType).as("v"),
            md5Long(concat(lit("ht:"), col("doc_id").cast(StringType)))
              .as("u"))
          .withColumn("b",
            when(col("n_chars") >= 2048, 1)
              .when(col("n_chars") >= 1024, 2)
              .when(col("n_chars") >= 512, 3)
              .when(col("n_chars") >= 256, 4)
              .otherwise(5))
          .withColumn("keep",
            col("u") < expr("shiftright(1152921504606846976L, b)"))
        sampled.agg(
            sum(col("v")).as("true_total"),
            sum(when(col("keep"),
              col("v") * expr("shiftleft(CAST(1 AS BIGINT), b)"))
              .otherwise(0L)).as("ht_estimate"),
            sum(when(col("keep"), 1L).otherwise(0L)).as("n_sampled"))
          .select(col("true_total"), col("ht_estimate"), col("n_sampled"),
            round((col("ht_estimate") - col("true_total"))
              .cast(DoubleType) / col("true_total").cast(DoubleType), 6)
              .as("rel_err"))
      },
      Some {
        import graft.functions.TextFunctions.{sqlMd5Long, sqlWords}
        val u = sqlMd5Long("concat('ht:', CAST(doc_id AS VARCHAR))")
        s"""WITH d AS (
           |  SELECT doc_id, n_chars,
           |    CAST(len(${sqlWords("text")}) AS BIGINT) AS v,
           |    $u AS u,
           |    CASE WHEN n_chars >= 2048 THEN 1
           |         WHEN n_chars >= 1024 THEN 2
           |         WHEN n_chars >= 512 THEN 3
           |         WHEN n_chars >= 256 THEN 4
           |         ELSE 5 END AS b
           |  FROM documents),
           |agg AS (
           |  SELECT CAST(SUM(v) AS BIGINT) AS true_total,
           |    CAST(SUM(CASE WHEN u < (1152921504606846976 >> b)
           |      THEN v * (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT)
           |      AS ht_estimate,
           |    CAST(SUM(CASE WHEN u < (1152921504606846976 >> b)
           |      THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
           |  FROM d)
           |SELECT true_total, ht_estimate, n_sampled,
           |  round(CAST(ht_estimate - true_total AS DOUBLE)
           |    / CAST(true_total AS DOUBLE), 6) AS rel_err
           |FROM agg""".stripMargin
      }),

    // A/B ASSIGNMENT + SAMPLE-RATIO-MISMATCH AUDIT — the experiment-
    // platform primitive: users split into two arms by a salted hash
    // (deterministic, stateless, re-derivable by every consumer), then
    // the two pre-experiment balance checks every assignment must pass
    // before its readout is trusted: SRM (arm-size imbalance, in ppm of
    // total) and covariate balance (total-variation distance between the
    // arms' event-type mixes, exact rational ppm — |cA·NB − cB·NA| sums,
    // integers end to end). One scan feeding map-side-combined per-type
    // counters + one distinct-user aggregate; nothing corpus-scale
    // shuffles twice. The suite's no-transcendental device: TV instead
    // of a chi-square p-value.
    "sample_ab_srm_audit" -> QueryDef(
      (s, dir) => {
        import graft.functions.TextFunctions.md5Long
        val e = Tables.load(s, dir, "events")
          .withColumn("arm",
            (md5Long(concat(lit("ab:"), col("user_id").cast(StringType)))
              % 2L).cast(IntegerType))
        val users = e.select(col("user_id"), col("arm")).distinct()
          .groupBy()
          .agg(sum(when(col("arm") === 0, 1L).otherwise(0L))
            .as("n_users_a"),
            sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_users_b"))
        val byType = e.groupBy(col("event_type")).agg(
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("ca"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("cb"),
          sum(when(col("arm") === 0, col("value").cast(DecimalType(18, 2)))
            .otherwise(graft.MoneyMath.dzero)).as("va"),
          sum(when(col("arm") === 1, col("value").cast(DecimalType(18, 2)))
            .otherwise(graft.MoneyMath.dzero)).as("vb"))
        // the balance algebra needs the arm totals BEFORE the TV sum —
        // rather than re-aggregating byType twice (each pass re-reading
        // the corpus), the BOUNDED per-type frame (≤ #event_types rows)
        // collapses to ONE array row and the dependent totals/TV ride
        // array folds. TV cross-products widen to DECIMAL(38,0): ca·nb
        // overflows int64 past ~3e9 events/arm — Spark would wrap
        // silently while DuckDB sums in HUGEINT, so both engines carry
        // the products exact (decimal38 holds ~1e15 events/arm)
        // each fold is NULL on an EMPTY per-type frame — SQL SUM-over-
        // zero-rows semantics, matching the oracle's SUM → NULL on an
        // empty events table (the old two-aggregate form had this for
        // free; the array fold's seed would otherwise turn it into 0)
        def fold(e: String) = s"CASE WHEN size(rows) = 0 THEN NULL " +
          s"ELSE $e END"
        val balance = byType
          .agg(collect_list(struct(col("ca"), col("cb"), col("va"),
            col("vb"))).as("rows"))
          .select(col("rows"),
            expr(fold("aggregate(rows, 0L, (a, x) -> a + x.ca)"))
              .as("n_events_a"),
            expr(fold("aggregate(rows, 0L, (a, x) -> a + x.cb)"))
              .as("n_events_b"),
            expr(fold("CAST(aggregate(rows, CAST(0 AS DECIMAL(38,2)), " +
              "(a, x) -> a + x.va) AS DOUBLE)")).as("sum_value_a"),
            expr(fold("CAST(aggregate(rows, CAST(0 AS DECIMAL(38,2)), " +
              "(a, x) -> a + x.vb) AS DOUBLE)")).as("sum_value_b"))
          .withColumn("tvnum",
            expr(fold("aggregate(rows, CAST(0 AS DECIMAL(38,0)), " +
              "(a, x) -> a + abs(CAST(x.ca AS DECIMAL(38,0)) * " +
              "n_events_b - CAST(x.cb AS DECIMAL(38,0)) * " +
              "n_events_a))")))
          .drop("rows")
        users.crossJoin(balance)
          .select(col("n_users_a"), col("n_users_b"),
            expr("abs(n_users_a - n_users_b) * 1000000 " +
              "div (n_users_a + n_users_b)").as("srm_ppm"),
            col("n_events_a"), col("n_events_b"),
            col("sum_value_a"), col("sum_value_b"),
            expr("CAST(tvnum * 1000000 div (2 * " +
              "CAST(n_events_a AS DECIMAL(38,0)) * n_events_b) AS BIGINT)")
              .as("type_tv_ppm"))
      },
      Some {
        import graft.functions.TextFunctions.sqlMd5Long
        val arm = s"${sqlMd5Long("concat('ab:', CAST(user_id AS VARCHAR))")} % 2"
        s"""WITH e AS (
           |  SELECT user_id, event_type, value, $arm AS arm FROM events),
           |u AS (
           |  SELECT
           |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_users_a,
           |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_users_b
           |  FROM (SELECT DISTINCT user_id, arm FROM e)),
           |bt AS (
           |  SELECT event_type,
           |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS ca,
           |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS cb,
           |    SUM(CASE WHEN arm = 0 THEN CAST(value AS DECIMAL(18,2))
           |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS va,
           |    SUM(CASE WHEN arm = 1 THEN CAST(value AS DECIMAL(18,2))
           |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS vb
           |  FROM e GROUP BY event_type),
           |tot AS (
           |  SELECT CAST(SUM(ca) AS BIGINT) AS n_events_a,
           |    CAST(SUM(cb) AS BIGINT) AS n_events_b,
           |    CAST(SUM(va) AS DOUBLE) AS sum_value_a,
           |    CAST(SUM(vb) AS DOUBLE) AS sum_value_b
           |  FROM bt),
           |tv AS (
           |  SELECT SUM(abs(CAST(ca AS HUGEINT) * t.n_events_b
           |    - CAST(cb AS HUGEINT) * t.n_events_a)) AS tvnum
           |  FROM bt, tot t)
           |SELECT n_users_a, n_users_b,
           |  CAST(abs(n_users_a - n_users_b) * 1000000
           |    // (n_users_a + n_users_b) AS BIGINT) AS srm_ppm,
           |  n_events_a, n_events_b, sum_value_a, sum_value_b,
           |  CAST(tvnum * 1000000
           |    // (2 * CAST(n_events_a AS HUGEINT) * n_events_b)
           |    AS BIGINT) AS type_tv_ppm
           |FROM u, tot, tv""".stripMargin
      }),

    // every step to the final /100.0 render is integer arithmetic
    // (`div`), so the estimate is bit-deterministic. Quantile q = the
    // lower bound of the first bin whose cumulative count reaches
    // rank ⌈n·q⌉. The 128-row-per-group histogram is the only state — a
    // second pass over the data never happens.
    "sketch_quantile_bins" -> QueryDef(
      (s, dir) => {
        val b = 128
        val li = Tables.load(s, dir, "lineitem")
          .select(col("l_returnflag").as("g"),
            floor(col("l_extendedprice") * 100.0d + 0.5d).cast(LongType)
              .as("vc"))
        val stats = li.groupBy(col("g"))
          .agg(min(col("vc")).as("minc"), max(col("vc")).as("maxc"),
            count(lit(1)).as("n"))
        val binned = li.join(broadcast(stats), "g")
          .select(col("g"), col("minc"), col("maxc"), col("n"),
            expr(s"(vc - minc) * $b div (maxc - minc + 1)").as("bin"))
          .groupBy(col("g"), col("minc"), col("maxc"), col("n"), col("bin"))
          .agg(count(lit(1)).as("cnt"))
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("g")).orderBy(col("bin"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = binned.withColumn("cum", sum(col("cnt")).over(w))
        def rank(p: Int) = expr(s"(n * $p + 99) div 100")
        def est(p: Int) = (col("minc") +
          expr(s"q$p * (maxc - minc + 1) div $b")).cast(DoubleType) / 100.0d
        cum.groupBy(col("g"), col("minc"), col("maxc"), col("n"))
          .agg(min(when(col("cum") >= rank(50), col("bin"))).as("q50"),
            min(when(col("cum") >= rank(95), col("bin"))).as("q95"),
            min(when(col("cum") >= rank(99), col("bin"))).as("q99"))
          .select(col("g").as("l_returnflag"), col("n"),
            est(50).as("p50_est"), est(95).as("p95_est"),
            est(99).as("p99_est"))
          .orderBy(col("l_returnflag"))
      },
      Some("""WITH cents AS (
             |  SELECT l_returnflag AS g,
             |    CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS vc
             |  FROM lineitem),
             |stats AS (
             |  SELECT g, MIN(vc) AS minc, MAX(vc) AS maxc, COUNT(*) AS n
             |  FROM cents GROUP BY g),
             |binned AS (
             |  SELECT c.g, s.minc, s.maxc, s.n,
             |    (c.vc - s.minc) * 128 // (s.maxc - s.minc + 1) AS bin,
             |    COUNT(*) AS cnt
             |  FROM cents c JOIN stats s ON c.g = s.g
             |  GROUP BY c.g, s.minc, s.maxc, s.n,
             |    (c.vc - s.minc) * 128 // (s.maxc - s.minc + 1)),
             |cum AS (
             |  SELECT g, minc, maxc, n, bin, SUM(cnt) OVER (
             |    PARTITION BY g ORDER BY bin
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             |  FROM binned),
             |qs AS (
             |  SELECT g, minc, maxc, n,
             |    MIN(CASE WHEN cum >= (n * 50 + 99) // 100 THEN bin END) AS q50,
             |    MIN(CASE WHEN cum >= (n * 95 + 99) // 100 THEN bin END) AS q95,
             |    MIN(CASE WHEN cum >= (n * 99 + 99) // 100 THEN bin END) AS q99
             |  FROM cum GROUP BY g, minc, maxc, n)
             |SELECT g AS l_returnflag, n,
             |  CAST(minc + q50 * (maxc - minc + 1) // 128 AS DOUBLE) / 100.0 AS p50_est,
             |  CAST(minc + q95 * (maxc - minc + 1) // 128 AS DOUBLE) / 100.0 AS p95_est,
             |  CAST(minc + q99 * (maxc - minc + 1) // 128 AS DOUBLE) / 100.0 AS p99_est
             |FROM qs ORDER BY l_returnflag""".stripMargin)),

    // Deterministic train/val/test split (90/5/5): assignment is a pure
    // function of the document key (md5 mod 100 thresholds), so it is
    // reproducible across runs, independent of partitioning, and needs no
    // join or global state — late-arriving shards of a 100 TB corpus get
    // the same split as the first pass. Output = per-(lang, split) corpus
    // stats; the per-doc column is the operator, the rollup keeps the
    // result auditable.
    "sample_split_assign" -> QueryDef(
      (s, dir) => {
        import graft.functions.TextFunctions.md5Long
        val d = Tables.load(s, dir, "documents")
        val bucket = pmod(md5Long(concat(lit("split:"),
          col("doc_id").cast(StringType))), lit(100L))
        d.select(col("lang"), col("n_chars"),
            when(bucket < 90, "train").when(bucket < 95, "val")
              .otherwise("test").as("split"))
          .groupBy(col("lang"), col("split"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("n_chars_total"))
          .orderBy(col("lang"), col("split"))
      },
      Some {
        import graft.functions.TextFunctions.sqlMd5Long
        val h = sqlMd5Long("concat('split:', CAST(doc_id AS VARCHAR))")
        s"""SELECT lang,
           |  CASE WHEN $h % 100 < 90 THEN 'train'
           |       WHEN $h % 100 < 95 THEN 'val'
           |       ELSE 'test' END AS split,
           |  COUNT(*) AS n_docs,
           |  CAST(SUM(n_chars) AS BIGINT) AS n_chars_total
           |FROM documents GROUP BY 1, 2 ORDER BY lang, split""".stripMargin
      }),

    // Deterministic STRATIFIED K-FOLD assignment (k = 5) — the
    // cross-validation twin of the 90/5/5 split: fold membership is a
    // pure function of the document key (md5 mod 5), so folds are
    // reproducible, partition-independent, and a late-arriving shard of
    // a 100 TB corpus folds identically. The audit rollup reports each
    // (lang, fold) cell's share of its language in ppm — the balance
    // check that catches a biased key hash BEFORE five training runs
    // are spent on skewed folds; the share window runs over the
    // ≤ langs×5-row rollup, never the corpus.
    "sample_kfold_assign" -> QueryDef(
      (s, dir) => {
        import graft.functions.TextFunctions.md5Long
        val d = Tables.load(s, dir, "documents")
        val fold = pmod(md5Long(concat(lit("fold:"),
          col("doc_id").cast(StringType))), lit(5L))
        val cells = d.select(col("lang"), col("n_chars"), fold.as("fold"))
          .groupBy(col("lang"), col("fold"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("n_chars_total"))
        cells
          .withColumn("lang_total",
            sum(col("n_docs")).over(Window.partitionBy(col("lang"))))
          .select(col("lang"), col("fold"), col("n_docs"),
            col("n_chars_total"),
            expr("(n_docs * 1000000) div lang_total").as("share_ppm"))
          .orderBy(col("lang"), col("fold"))
      },
      Some {
        import graft.functions.TextFunctions.sqlMd5Long
        val h = sqlMd5Long("concat('fold:', CAST(doc_id AS VARCHAR))")
        s"""WITH cells AS (
           |  SELECT lang, $h % 5 AS fold,
           |    COUNT(*) AS n_docs,
           |    CAST(SUM(n_chars) AS BIGINT) AS n_chars_total
           |  FROM documents GROUP BY 1, 2)
           |SELECT lang, fold, n_docs, n_chars_total,
           |  CAST((n_docs * 1000000) // (SUM(n_docs) OVER (
           |    PARTITION BY lang)) AS BIGINT) AS share_ppm
           |FROM cells ORDER BY lang, fold""".stripMargin
      }),

    // QUANTILE-SKETCH MERGE LAW, verified end-to-end (the histogram twin
    // of sketch_hll_merge): per-shard equi-width histograms over SHARED
    // global bounds, merged by per-bin count ADDITION, against the
    // histogram built directly over the union — then the p50/p95/p99
    // estimates read off the merged sketch. Count addition is what lets
    // 1000 executors histogram independently and union in one tiny
    // reduce; the merge_exact flag breaks if bin boundaries ever drift
    // per shard (the classic mergeable-sketch bug). Shuffle cost: ≤128
    // rows per shard after map-side combine — never the values.
    "sketch_quantile_merge" -> QueryDef(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val b = 128
        val li = Tables.load(s, dir, "lineitem")
          .select(floor(col("l_extendedprice") * 100.0d + 0.5d)
            .cast(LongType).as("vc"),
            (col("l_suppkey") % 8).as("shard"))
        val stats = li.agg(min(col("vc")).as("minc"),
          max(col("vc")).as("maxc"), count(lit(1)).as("n"))
        val binned = li.crossJoin(broadcast(stats))
          .select(col("shard"), col("minc"), col("maxc"), col("n"),
            expr(s"(vc - minc) * $b div (maxc - minc + 1)").as("bin"))
        val merged = binned
          .groupBy(col("shard"), col("bin")).agg(count(lit(1)).as("cnt"))
          .groupBy(col("bin")).agg(sum(col("cnt")).as("mcnt"))
        val direct = binned
          .groupBy(col("bin")).agg(count(lit(1)).as("dcnt"))
        val agree = merged.join(direct, Seq("bin"), "full_outer")
          .agg((sum(abs(coalesce(col("mcnt"), lit(0L))
            - coalesce(col("dcnt"), lit(0L)))) === 0L).as("merge_exact"))
        val w = Window.orderBy(col("bin"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        def rank(p: Int) = expr(s"(n * $p + 99) div 100")
        def est(p: Int) = (col("minc") +
          expr(s"q$p * (maxc - minc + 1) div $b")).cast(DoubleType) / 100.0d
        merged.crossJoin(broadcast(stats))
          .withColumn("cum", sum(col("mcnt")).over(w))
          .groupBy(col("minc"), col("maxc"), col("n"))
          .agg(min(when(col("cum") >= rank(50), col("bin"))).as("q50"),
            min(when(col("cum") >= rank(95), col("bin"))).as("q95"),
            min(when(col("cum") >= rank(99), col("bin"))).as("q99"))
          .crossJoin(agree)
          .select(col("n"), est(50).as("p50_est"), est(95).as("p95_est"),
            est(99).as("p99_est"), col("merge_exact"))
      },
      Some("""WITH cents AS (
             |  SELECT CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT)
             |      AS vc,
             |    l_suppkey % 8 AS shard
             |  FROM lineitem),
             |stats AS (
             |  SELECT MIN(vc) AS minc, MAX(vc) AS maxc, COUNT(*) AS n
             |  FROM cents),
             |binned AS (
             |  SELECT shard, (vc - minc) * 128 // (maxc - minc + 1) AS bin
             |  FROM cents, stats),
             |merged AS (
             |  SELECT bin, CAST(SUM(cnt) AS BIGINT) AS mcnt FROM (
             |    SELECT shard, bin, COUNT(*) AS cnt
             |    FROM binned GROUP BY shard, bin)
             |  GROUP BY bin),
             |direct AS (SELECT bin, COUNT(*) AS dcnt
             |           FROM binned GROUP BY bin),
             |agree AS (
             |  SELECT CAST(SUM(ABS(coalesce(m.mcnt, 0)
             |    - coalesce(d.dcnt, 0))) AS BIGINT) = 0 AS merge_exact
             |  FROM merged m FULL OUTER JOIN direct d USING (bin)),
             |cum AS (
             |  SELECT bin, SUM(mcnt) OVER (ORDER BY bin
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             |  FROM merged),
             |qs AS (
             |  SELECT minc, maxc, n,
             |    MIN(CASE WHEN cum >= (n * 50 + 99) // 100 THEN bin END) AS q50,
             |    MIN(CASE WHEN cum >= (n * 95 + 99) // 100 THEN bin END) AS q95,
             |    MIN(CASE WHEN cum >= (n * 99 + 99) // 100 THEN bin END) AS q99
             |  FROM cum, stats GROUP BY minc, maxc, n)
             |SELECT CAST(n AS BIGINT) AS n,
             |  CAST(minc + q50 * (maxc - minc + 1) // 128 AS DOUBLE) / 100.0
             |    AS p50_est,
             |  CAST(minc + q95 * (maxc - minc + 1) // 128 AS DOUBLE) / 100.0
             |    AS p95_est,
             |  CAST(minc + q99 * (maxc - minc + 1) // 128 AS DOUBLE) / 100.0
             |    AS p99_est,
             |  merge_exact
             |FROM qs, agree""".stripMargin)),

    // Sliding-window document chunking — the context-length splitter that
    // precedes tokenization/packing in a training pipeline: each document
    // becomes overlapping 32-token chunks on a 24-token stride (8-token
    // overlap carries context across boundaries). Pure map + explode: no
    // shuffle reaches the corpus except the presentation sort; chunk
    // identity is the 60-bit hash of the joined tokens, so downstream
    // chunk-level dedup composes directly.
    "chunk_documents" -> QueryDef(
      (s, dir) => {
        import graft.functions.TextFunctions.{md5Long, words}
        val d = Tables.load(s, dir, "documents")
        val (win, stride) = (32, 24)
        val ws = words(col("text"))
        d.select(col("doc_id"), ws.as("ws"))
          .withColumn("n", size(col("ws")))
          .filter(col("n") > 0)
          .select(col("doc_id"), col("ws"), col("n"),
            posexplode(sequence(lit(0), col("n") - 1, lit(stride)))
              .as(Seq("chunk_idx", "start_tok")))
          .select(col("doc_id"), col("chunk_idx").cast(LongType),
            col("start_tok").cast(LongType),
            least(lit(win), col("n") - col("start_tok")).cast(LongType)
              .as("n_tokens"),
            md5Long(concat_ws(" ", slice(col("ws"), col("start_tok") + 1, lit(win))))
              .as("chunk_hash"))
          .orderBy(col("doc_id"), col("chunk_idx"))
      },
      Some {
        import graft.functions.TextFunctions.{sqlMd5Long, sqlWords}
        val chunk = "array_to_string(ws[CAST(start_tok AS BIGINT)+1:CAST(start_tok AS BIGINT)+32], ' ')"
        s"""WITH toks AS (
           |  SELECT doc_id, ws, len(ws) AS n
           |  FROM (SELECT doc_id, ${sqlWords("text")} AS ws FROM documents)
           |  WHERE len(ws) > 0),
           |chunks AS (
           |  SELECT doc_id, ws, n,
           |    CAST(unnest(range(0, n, 24)) AS BIGINT) AS start_tok,
           |    CAST(unnest(range(0, len(range(0, n, 24)))) AS BIGINT) AS chunk_idx
           |  FROM toks)
           |SELECT doc_id, chunk_idx, start_tok,
           |  CAST(least(32, n - start_tok) AS BIGINT) AS n_tokens,
           |  ${sqlMd5Long(chunk)} AS chunk_hash
           |FROM chunks ORDER BY doc_id, chunk_idx""".stripMargin
      }),

    // CONTENT-DEFINED chunking (the Rabin/CDC idea at word granularity):
    // a word ENDS its chunk when its 60-bit hash ≡ 0 (mod 16), so chunk
    // boundaries are a function of local content — inserting a word early
    // in a document shifts only its own chunk, not every boundary after
    // it (the property fixed-stride chunking lacks, and the reason CDC
    // chunk-level dedup survives edits). Computed ENTIRELY inside each
    // row with array expressions (boundary positions → chunk slices →
    // per-chunk hash) + one explode: the corpus never shuffles except the
    // presentation sort — at 100 TB this is a map over the document scan.
    // Chunk identity is the hash of the joined words, so chunk-level
    // dedup composes downstream.
    "chunk_content_defined" -> QueryDef(
      (s, dir) => {
        import graft.functions.TextFunctions.{md5Long, words}
        // spread the few input splits (EXPLICIT-N round-robin — AQE
        // coalesces a keyed repartition's exchange back to ~1 partition
        // at this byte size), then CACHE the tokenized rows: `ws` is
        // referenced from inside per-element lambdas downstream, and
        // Catalyst's projection collapse would otherwise inline the
        // split() into every reference site — re-tokenizing the document
        // once per WORD (measured 3.8 s → 1.2 s at sf0.1). The cached
        // attribute makes every reference an array read.
        val d = Tables.load(s, dir, "documents")
          .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt)
        d.select(col("doc_id"), words(col("text")).as("ws"))
          .filter(size(col("ws")) > 0)
          .withColumn("n", size(col("ws")))
          .cache()
          // 0-based positions whose word closes a chunk
          .withColumn("bounds", filter(sequence(lit(0), col("n") - 1),
            i => md5Long(element_at(col("ws"), i + 1)) % 16 === 0))
          // chunk k spans [starts(k), ends(k)] inclusive
          .withColumn("starts", filter(
            concat(array(lit(0)), transform(col("bounds"), p => p + 1)),
            st => st < col("n")))
          .select(col("doc_id"), col("ws"), col("n"), col("bounds"),
            posexplode(col("starts")).as(Seq("chunk_id", "start_pos")))
          .withColumn("endp",
            when(col("chunk_id") < size(col("bounds")),
              element_at(col("bounds"), col("chunk_id") + 1))
              .otherwise(col("n") - 1))
          .select(col("doc_id"), col("chunk_id").cast(LongType),
            col("start_pos").cast(LongType),
            (col("endp") - col("start_pos") + 1).cast(LongType)
              .as("n_words"),
            md5Long(concat_ws(" ", slice(col("ws"), col("start_pos") + 1,
              col("endp") - col("start_pos") + 1))).as("chunk_hash"))
          .orderBy(col("doc_id"), col("chunk_id"))
      },
      Some {
        import graft.functions.TextFunctions.{sqlMd5Long, sqlWords}
        s"""WITH toks AS (
           |  SELECT doc_id, ws
           |  FROM (SELECT doc_id, ${sqlWords("text")} AS ws FROM documents)
           |  WHERE len(ws) > 0),
           |t AS (
           |  SELECT doc_id,
           |    CAST(unnest(range(0, len(ws))) AS BIGINT) AS pos,
           |    unnest(ws) AS w
           |  FROM toks),
           |c AS (
           |  SELECT doc_id, pos, w,
           |    CAST(COALESCE(SUM(CASE WHEN ${sqlMd5Long("w")} % 16 = 0
           |        THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id
           |        ORDER BY pos
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |      AS BIGINT) AS chunk_id
           |  FROM t)
           |SELECT doc_id, chunk_id, MIN(pos) AS start_pos,
           |  COUNT(*) AS n_words,
           |  ${sqlMd5Long("string_agg(w, ' ' ORDER BY pos)")} AS chunk_hash
           |FROM c GROUP BY doc_id, chunk_id
           |ORDER BY doc_id, chunk_id""".stripMargin
      }),

    // BLOOM FALSE-POSITIVE-RATE AUDIT — the measured calibration sheet
    // behind q_bloom_prune_join's cost argument: the same
    // Kirsch–Mitzenmacher double-hash construction (bit_i = h1 + i·h2
    // mod m, k = 3, m = 4096) built over the BUILDING-segment member
    // keys, probed with every non-member key; a probe whose k positions
    // are ALL set is a false positive. Expressed set-wise so both
    // engines compute it exactly: the filter IS the distinct member
    // position set, a probe counts its matching positions through one
    // equi-join (never a byte-array UDF on the oracle side; base hash
    // is the shared md5Long — same construction, auditable in SQL).
    // The read: measured fpr_ppm against bit density — if density drifts
    // past ~50% the pruning join's selectivity claim is void. One row;
    // every stage is key-bounded.
    "sketch_bloom_fpr" -> QueryDef(
      (s, dir) => {
        import graft.functions.TextFunctions.md5Long
        val m = 4096L
        val k = 3
        val c = Tables.load(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))
        def h1(key: org.apache.spark.sql.Column) =
          md5Long(concat(lit("bf1:"), key.cast(StringType)))
        def h2(key: org.apache.spark.sql.Column) =
          md5Long(concat(lit("bf2:"), key.cast(StringType)))
            .bitwiseOR(lit(1L))
        def posArr(key: org.apache.spark.sql.Column) = array(
          (0 until k).map(i => pmod(h1(key) + lit(i.toLong) * h2(key),
            lit(m))): _*)
        val members = c.filter(col("c_mktsegment") === "BUILDING")
        val bits = members
          .select(explode(posArr(col("c_custkey"))).as("pos")).distinct()
          .cache()
        val probes = c.filter(col("c_mktsegment") =!= "BUILDING")
          .select(col("c_custkey"),
            posexplode(posArr(col("c_custkey"))).as(Seq("i", "pos")))
        val fp = probes.join(bits, "pos")
          .groupBy(col("c_custkey")).agg(count(lit(1)).as("hits"))
          .filter(col("hits") === k)
        members.agg(count(lit(1)).as("n_members"))
          .crossJoin(broadcast(bits.agg(count(lit(1)).as("n_bits_set"))))
          .crossJoin(broadcast(c.filter(col("c_mktsegment") =!= "BUILDING")
            .agg(count(lit(1)).as("n_probes"))))
          .crossJoin(broadcast(fp.agg(count(lit(1)).as("n_false_pos"))))
          .selectExpr("n_members", "n_bits_set",
            s"(n_bits_set * 1000000) div $m AS density_ppm",
            "n_probes", "n_false_pos",
            "(n_false_pos * 1000000) div greatest(n_probes, 1) AS fpr_ppm")
      },
      Some {
        import graft.functions.TextFunctions.sqlMd5Long
        val m = 4096L
        def h1 = sqlMd5Long("concat('bf1:', CAST(c_custkey AS VARCHAR))")
        def h2 = "(" +
          sqlMd5Long("concat('bf2:', CAST(c_custkey AS VARCHAR))") + " | 1)"
        def pos(i: Int) = s"(($h1 + $i * $h2) % $m)"
        val posList = (0 until 3).map(pos).mkString("[", ", ", "]")
        s"""WITH members AS (
           |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
           |bits AS MATERIALIZED (
           |  SELECT DISTINCT unnest($posList) AS pos FROM members),
           |probes AS (
           |  SELECT c_custkey, unnest($posList) AS pos
           |  FROM customer WHERE c_mktsegment <> 'BUILDING'),
           |fp AS (
           |  SELECT p.c_custkey FROM probes p JOIN bits USING (pos)
           |  GROUP BY p.c_custkey HAVING count(*) = 3),
           |n AS (
           |  SELECT
           |    CAST((SELECT count(*) FROM members) AS BIGINT) AS n_members,
           |    CAST((SELECT count(*) FROM bits) AS BIGINT) AS n_bits_set,
           |    CAST((SELECT count(*) FROM customer
           |          WHERE c_mktsegment <> 'BUILDING') AS BIGINT)
           |      AS n_probes,
           |    CAST((SELECT count(*) FROM fp) AS BIGINT) AS n_false_pos)
           |SELECT n_members, n_bits_set,
           |  CAST((n_bits_set * 1000000) // $m AS BIGINT) AS density_ppm,
           |  n_probes, n_false_pos,
           |  CAST((n_false_pos * 1000000) // greatest(n_probes, 1)
           |    AS BIGINT) AS fpr_ppm
           |FROM n""".stripMargin
      }),

    // PADDING-WASTE AUDIT — the quantified case for length-aware
    // batching: if batches are cut from 512-char-wide length buckets,
    // every document pads only to its BUCKET's max, vs the global max a
    // naive uniform batcher pads to. Exact integer waste per bucket
    // (Σ bucket_max − len, and the same docs' share of global-max
    // padding) — the two columns' ratio IS the savings a dynamic batcher
    // buys. One map-side rollup per side; the global max is a 1-row
    // broadcast; never a sort.
    "pack_padding_waste" -> QueryDef(
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
          .select(col("n_chars"),
            expr("n_chars div 512").as("bucket"))
        val g = d.agg(max(col("n_chars")).as("gmax"))
        d.crossJoin(broadcast(g))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_docs"),
            max(col("n_chars")).as("bucket_max"),
            (max(col("n_chars")) * count(lit(1)) - sum(col("n_chars")))
              .as("waste_bucketed"),
            (max(col("gmax")) * count(lit(1)) - sum(col("n_chars")))
              .as("waste_global"))
          .orderBy(col("bucket"))
      },
      Some("""WITH g AS (SELECT max(n_chars) AS gmax FROM documents)
             |SELECT n_chars // 512 AS bucket,
             |  count(*) AS n_docs,
             |  CAST(max(n_chars) AS BIGINT) AS bucket_max,
             |  CAST(max(n_chars) * count(*) - SUM(n_chars) AS BIGINT)
             |    AS waste_bucketed,
             |  CAST(max(g.gmax) * count(*) - SUM(n_chars) AS BIGINT)
             |    AS waste_global
             |FROM documents, g
             |GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // Bloom-filter runtime pruning — the explicit form of Spark's injected
    // runtime filters: bits built over the dim side's join keys in ONE
    // small aggregate, shipped to the fact scan as a literal, non-candidate
    // rows dropped BEFORE the join. False positives are removed by the
    // exact semi-join that follows, so the bloom affects cost only: at
    // 100 TB the pruned fact side shrinks the shuffle/probe volume by the
    // join selectivity (~1/5 here) for a few hundred KB of bits.
    "q_bloom_prune_join" -> QueryDef(
      (s, dir) => {
        import graft.functions.BloomFunctions._
        val cust = Tables.load(s, dir, "customer")
          .filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey"))
        val bits = cust
          .agg(bloomAgg(col("c_custkey"), 1 << 17, 3).as("b"))
          .head().getAs[Array[Byte]](0)
        val pruned = Tables.load(s, dir, "orders")
          .filter(bloomMightContain(lit(bits), col("o_custkey"), 3))
        pruned.join(broadcast(cust),
            col("o_custkey") === col("c_custkey"), "left_semi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast(DecimalType(18, 2)))
              .cast(DoubleType).as("revenue"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS n_orders,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS revenue
             |FROM orders
             |WHERE o_custkey IN (SELECT c_custkey FROM customer
             |                    WHERE c_mktsegment = 'BUILDING')
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // HyperLogLog register sketch, integer-exact: 64 buckets over the
    // 60-bit md5 hash (low 6 bits = bucket, ρ = leading-zero rank of the
    // remaining 54 via ITERATIVE bit-smear + popcount — each shift applies
    // to the accumulated value, textually unrolled so both engines run the
    // identical expression; no transcendental boundary risk). The registers
    // ARE the mergeable sketch state: max per bucket commutes with any
    // partitioning, map-side combine reduces each partition to ≤ 64 rows,
    // and unioning corpora = pairwise MAX of two 64-row registers —
    // constant-size state at any scale.
    "sketch_hll_registers" -> QueryDef(
      (s, dir) => {
        import graft.functions.TextFunctions.md5Long
        Tables.load(s, dir, "events")
          .select(md5Long(col("user_id").cast(StringType)).as("h"))
          .select(expr("h & 63").as("bucket"), expr("h >> 6").as("w"))
          .select(col("bucket"),
            expr(s"55 - bit_count(${smearExpr("w")})").as("rho"))
          .groupBy(col("bucket"))
          .agg(max(col("rho")).cast(LongType).as("register"))
          .orderBy(col("bucket"))
      },
      Some {
        import graft.functions.TextFunctions.sqlMd5Long
        val h = sqlMd5Long("CAST(user_id AS VARCHAR)")
        s"""SELECT bucket, CAST(MAX(55 - bit_count(${smearExpr("w")})) AS BIGINT)
           |    AS register
           |FROM (SELECT h & 63 AS bucket, h >> 6 AS w
           |      FROM (SELECT $h AS h FROM events))
           |GROUP BY bucket ORDER BY bucket""".stripMargin
      }),

    // The HLL estimate from those registers, kept cross-engine exact: the
    // harmonic denominator is the INTEGER Σ 2^(55-ρ) (every term a power of
    // two ≤ 2^54 — exact BIGINT arithmetic, no float summation order
    // risk); the only float ops are one multiply chain and one division,
    // evaluated identically on both engines. Exact distinct rides along.
    "sketch_hll_estimate" -> QueryDef(
      (s, dir) => {
        import graft.functions.TextFunctions.md5Long
        val regs = Tables.load(s, dir, "events")
          .select(md5Long(col("user_id").cast(StringType)).as("h"),
            col("user_id"))
          .select(expr("h & 63").as("bucket"), expr("h >> 6").as("w"),
            col("user_id"))
          .select(col("bucket"),
            expr(s"55 - bit_count(${smearExpr("w")})").as("rho"),
            col("user_id"))
        val sketch = regs.groupBy(col("bucket"))
          .agg(max(col("rho")).as("register"))
          .agg(sum(expr("CAST(1 AS BIGINT) << (55 - register)")).as("denom"),
            count(lit(1)).as("n_buckets"))
        val exact = regs.agg(
          countDistinct(col("user_id")).as("exact_distinct"))
        // empty buckets contribute 2^55 each (ρ=0) — same estimator as
        // sketch_hll_per_group, unbiased when fewer than 64 buckets fill
        exact.crossJoin(sketch)
          .select(col("exact_distinct"), col("n_buckets"), col("denom"),
            round(lit(0.709) * lit(4096.0) * expr("POWER(2.0, 55)")
              / (col("denom") + (lit(64L) - col("n_buckets"))
                  * expr("CAST(1 AS BIGINT) << 55")).cast(DoubleType), 4)
              .as("est_distinct"))
      },
      Some {
        import graft.functions.TextFunctions.sqlMd5Long
        val h = sqlMd5Long("CAST(user_id AS VARCHAR)")
        s"""WITH rhos AS (
           |  SELECT bucket, 55 - bit_count(${smearExpr("w")}) AS rho, user_id
           |  FROM (SELECT h & 63 AS bucket, h >> 6 AS w, user_id
           |        FROM (SELECT $h AS h, user_id FROM events))),
           |sketch AS (
           |  SELECT CAST(SUM(CAST(1 AS BIGINT) << (55 - register)) AS BIGINT)
           |      AS denom,
           |    COUNT(*) AS n_buckets
           |  FROM (SELECT bucket, MAX(rho) AS register FROM rhos
           |        GROUP BY bucket)),
           |ex AS (SELECT COUNT(DISTINCT user_id) AS exact_distinct FROM rhos)
           |SELECT exact_distinct, n_buckets, denom,
           |  round(0.709 * 4096.0 * POWER(2.0, 55) /
           |    CAST(denom + (64 - n_buckets) * (CAST(1 AS BIGINT) << 55)
           |      AS DOUBLE), 4) AS est_distinct
           |FROM ex, sketch""".stripMargin
      }),

    // COUNT-MIN sketch, integer-exact: d=4 hash rows × w=256 buckets over
    // the event stream's user_id. The register table IS the mergeable
    // sketch state — per-bucket counts are plain sums, so map-side combine
    // reduces every partition to ≤ 1024 rows and unioning two corpora is
    // pairwise register addition; constant-size state at any scale. Point
    // estimates ride along: for a deterministic probe-key sample,
    // est = min over the 4 rows' buckets — the CM upper-bound guarantee
    // (est ≥ exact) over integer counts, no float anywhere.
    "sketch_countmin" -> QueryDef(
      (s, dir) => {
        import graft.functions.TextFunctions.md5Long
        def bucket(j: Int): org.apache.spark.sql.Column =
          md5Long(concat(lit(s"$j:"), col("user_id").cast(StringType)))
            .bitwiseAND(lit(255L))
        val e = Tables.load(s, dir, "events").select(col("user_id"))
        val regs = e.select(posexplode(
            array((0 until 4).map(bucket): _*)).as(Seq("j", "bucket")))
          .groupBy(col("j"), col("bucket"))
          .agg(count(lit(1)).as("c"))
        val probes = e.filter(col("user_id") % 53 === 11)
          .groupBy(col("user_id")).agg(count(lit(1)).as("exact_n"))
        probes.select(col("user_id"), col("exact_n"),
            posexplode(array((0 until 4).map(bucket): _*))
              .as(Seq("j", "bucket")))
          .join(regs, Seq("j", "bucket"))
          .groupBy(col("user_id"), col("exact_n"))
          .agg(min(col("c")).cast(LongType).as("est_n"))
          .orderBy(col("user_id"))
      },
      Some {
        import graft.functions.TextFunctions.sqlMd5Long
        def bucket(j: Int): String =
          s"(${sqlMd5Long(s"'$j:' || CAST(user_id AS VARCHAR)")} & 255)"
        val eb = (0 until 4).map(j =>
          s"SELECT user_id, $j AS j, ${bucket(j)} AS bucket FROM ev")
          .mkString("\n  UNION ALL ")
        s"""WITH ev AS (SELECT user_id FROM events),
           |eb AS ($eb),
           |regs AS (SELECT j, bucket, COUNT(*) AS c FROM eb GROUP BY 1, 2),
           |pr AS (SELECT user_id, COUNT(*) AS exact_n FROM ev
           |       WHERE user_id % 53 = 11 GROUP BY user_id),
           |pb AS (SELECT p.user_id, p.exact_n, e.j, e.bucket
           |       FROM pr p JOIN (SELECT DISTINCT user_id, j, bucket
           |                       FROM eb) e USING (user_id))
           |SELECT pb.user_id, pb.exact_n,
           |  CAST(MIN(r.c) AS BIGINT) AS est_n
           |FROM pb JOIN regs r ON r.j = pb.j AND r.bucket = pb.bucket
           |GROUP BY 1, 2 ORDER BY user_id""".stripMargin
      }),

    // AMS F₂ SKETCH — the second-frequency-moment estimator (Alon–
    // Matias–Szegedy '96): F₂ = Σ_w c(w)² is the self-join size of the
    // word table, the statistic a planner consults before choosing a
    // join strategy on a skewed key. Estimate = median of 4 means of 4
    // sketches, each sketch S_j = Σ_w ±c(w) with the sign drawn from an
    // md5 bit — deterministic, identically derivable in the oracle; the
    // exact F₂ sits beside it with the signed error. Scale shape: the
    // corpus collapses ONCE into the vocab-sized count table
    // (map-side-combined); all 16 sketches ride ONE posexplode over
    // that table into a 16-row aggregate — nothing downstream scales
    // with corpus size, and F₂'s products ride DECIMAL(38,0).
    "sketch_ams_f2" -> QueryDef(
      (s, dir) => {
        import graft.functions.TextFunctions.{md5Long, words}
        val dec = (c: org.apache.spark.sql.Column) =>
          c.cast(DecimalType(38, 0))
        val cnt = Tables.load(s, dir, "documents")
          .select(explode(words(col("text"))).as("w"))
          .filter(length(col("w")) > 0)
          .groupBy(col("w")).agg(count(lit(1)).as("c"))
          .cache()
        def sign(j: Int) =
          when(md5Long(concat(lit(s"ams$j:"), col("w")))
            .bitwiseAND(lit(1L)) === 1L, lit(1L)).otherwise(lit(-1L))
        val sketches = cnt.select(col("c"), posexplode(
            array((0 until 16).map(sign): _*)).as(Seq("j", "sgn")))
          .groupBy(col("j"))
          .agg(sum(col("sgn") * col("c")).as("s"))
          .select(col("j"), (dec(col("s")) * dec(col("s"))).as("s2"))
        // median of 4 means of 4, denominators cleared to stay integer:
        // with group sums G_g = Σ_{j∈g} S_j², the median of the four
        // means (G_g/4) is (G_(2) + G_(3)) / 8 — ONE integral division
        // of exact quantities, no cross-engine decimal-scale rules
        val gs = sketches.groupBy(expr("j div 4").as("g"))
          .agg(sum(col("s2")).as("gsum"))
        val est = gs.agg(expr(
          """CAST(aggregate(slice(array_sort(collect_list(gsum)), 2, 2),
            |  CAST(0 AS DECIMAL(38,0)), (a, x) -> a + x) div 8 AS BIGINT)
            |  AS est_f2""".stripMargin).as("est_f2"))
        val truth = cnt.agg(sum(dec(col("c")) * dec(col("c")))
          .cast(LongType).as("true_f2"))
        truth.crossJoin(broadcast(est))
          .selectExpr("true_f2", "est_f2",
            "((est_f2 - true_f2) * 1000000) div true_f2 AS err_ppm")
      },
      Some {
        import graft.functions.TextFunctions.{sqlMd5Long, sqlWords}
        def sign(j: Int) =
          s"CASE WHEN (${sqlMd5Long(s"'ams$j:' || w")} & 1) = 1 " +
            "THEN 1 ELSE -1 END"
        val sketchSelects = (0 until 16).map(j =>
          s"SELECT $j AS j, SUM(CAST(${sign(j)} AS HUGEINT) * c) AS s " +
            "FROM cnt").mkString("\n  UNION ALL ")
        s"""WITH cnt AS MATERIALIZED (
           |  SELECT w, count(*) AS c FROM (
           |    SELECT unnest(${sqlWords("text")}) AS w FROM documents)
           |  WHERE len(w) > 0 GROUP BY w),
           |sk AS ($sketchSelects),
           |gsums AS (
           |  SELECT j // 4 AS g, SUM(s * s) AS gsum
           |  FROM sk GROUP BY 1),
           |est AS (
           |  SELECT CAST((ms[2] + ms[3]) // 8 AS BIGINT) AS est_f2 FROM (
           |    SELECT list(gsum ORDER BY gsum) AS ms FROM gsums)),
           |tr AS (
           |  SELECT CAST(SUM(CAST(c AS HUGEINT) * c) AS BIGINT) AS true_f2
           |  FROM cnt)
           |SELECT true_f2, est_f2,
           |  CAST(((est_f2 - true_f2) * 1000000) // true_f2 AS BIGINT)
           |    AS err_ppm
           |FROM tr, est""".stripMargin
      }),

    // MISRA–GRIES HEAVY HITTERS — the frequent-items companion of the
    // count-min point estimate, run as candidate-then-verify: pass 1 is
    // ONE corpus scan through the mergeable ≤64-counter Misra–Gries
    // aggregate (PODS'12 merge — pointwise sum then subtract the 65th
    // largest), whose guarantee — every word with frequency > N/65
    // survives ANY row order and partitioning — makes the driver-held
    // candidate set a proven superset; pass 2 re-counts just the ≤64
    // candidates exactly (codegen'd InSet filter, map-side-combined
    // count) and applies the strict n·64 > N cut. Output is exact counts
    // — the sketch only prunes the unbounded vocabulary, so the result
    // is deterministic even though MG counter values are order-dependent.
    // Two corpus scans total, O(k) state per partition at any scale.
    "sketch_heavy_hitters" -> QueryDef(
      (s, dir) => {
        import graft.functions.TextFunctions.words
        import graft.functions.SketchAggregates.misraGries
        val hhK = 64
        val tok = Tables.load(s, dir, "documents")
          .select(explode(words(col("text"))).as("w"))
        val pass1 = tok.agg(misraGries(col("w"), hhK).as("cands"),
          count(lit(1)).as("n_tok")).head()
        val cands = pass1.getSeq[String](0)
        val nTok = pass1.getLong(1)
        tok.filter(col("w").isin(cands: _*))
          .groupBy(col("w")).agg(count(lit(1)).as("n"))
          .filter(col("n") * hhK > nTok)
          .select(col("w"), col("n"),
            expr(s"n * 1000000 div ${nTok}L").as("share_ppm"))
          .orderBy(col("n").desc, col("w"))
      },
      Some {
        import graft.functions.TextFunctions.sqlWords
        s"""WITH w AS (
           |  SELECT unnest(${sqlWords("text")}) AS w FROM documents),
           |n AS (SELECT count(*) AS n_tok FROM w),
           |c AS (SELECT w, count(*) AS n FROM w GROUP BY w)
           |SELECT c.w, CAST(c.n AS BIGINT) AS n,
           |  CAST(c.n * 1000000 // n.n_tok AS BIGINT) AS share_ppm
           |FROM c, n WHERE c.n * 64 > n.n_tok
           |ORDER BY n DESC, w""".stripMargin
      }),

    // The register sketch as a PER-GROUP aggregate: distinct users per
    // event_type estimated from 64 registers per group — the shuffle
    // carries ≤ 64 rows per group per partition (map-side max-combine),
    // never the distinct sets; empty buckets contribute 2^55 to the
    // harmonic denominator (ρ=0), so groups of any cardinality are
    // comparable. Exact distinct rides along showing the error.
    "sketch_hll_per_group" -> QueryDef(
      (s, dir) => {
        import graft.functions.TextFunctions.md5Long
        val e = Tables.load(s, dir, "events")
          .select(col("event_type"),
            md5Long(col("user_id").cast(StringType)).as("h"), col("user_id"))
          .select(col("event_type"), expr("h & 63").as("bucket"),
            expr(s"55 - bit_count(${smearExpr("(h >> 6)")})").as("rho"),
            col("user_id"))
        val sketch = e.groupBy(col("event_type"), col("bucket"))
          .agg(max(col("rho")).as("register"))
          .groupBy(col("event_type"))
          .agg((sum(expr("CAST(1 AS BIGINT) << (55 - register)"))
            + (lit(64L) - count(lit(1)))
              * expr("CAST(1 AS BIGINT) << 55")).as("denom"))
        val exact = e.groupBy(col("event_type"))
          .agg(countDistinct(col("user_id")).as("exact_distinct"))
        exact.join(sketch, Seq("event_type"))
          .select(col("event_type"), col("exact_distinct"), col("denom"),
            round(lit(0.709) * lit(4096.0) * expr("POWER(2.0, 55)")
              / col("denom").cast(DoubleType), 4).as("est_distinct"))
          .orderBy(col("event_type"))
      },
      Some {
        import graft.functions.TextFunctions.sqlMd5Long
        val h = sqlMd5Long("CAST(user_id AS VARCHAR)")
        s"""WITH rhos AS (
           |  SELECT event_type, h & 63 AS bucket,
           |    55 - bit_count(${smearExpr("(h >> 6)")}) AS rho, user_id
           |  FROM (SELECT event_type, $h AS h, user_id FROM events)),
           |sketch AS (
           |  SELECT event_type,
           |    CAST(SUM(CAST(1 AS BIGINT) << (55 - register))
           |      + (64 - COUNT(*)) * (CAST(1 AS BIGINT) << 55) AS BIGINT)
           |      AS denom
           |  FROM (SELECT event_type, bucket, MAX(rho) AS register
           |        FROM rhos GROUP BY event_type, bucket)
           |  GROUP BY event_type),
           |ex AS (
           |  SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct
           |  FROM rhos GROUP BY event_type)
           |SELECT ex.event_type, exact_distinct, denom,
           |  round(0.709 * 4096.0 * POWER(2.0, 55) / CAST(denom AS DOUBLE), 4)
           |    AS est_distinct
           |FROM ex JOIN sketch USING (event_type)
           |ORDER BY event_type""".stripMargin
      }),

    // HLL MERGE LAW, verified end-to-end: per-group register sketches
    // (event_type shards of the stream — at scale these are sketches built
    // INDEPENDENTLY per partition/day/source) merged by pairwise bucket
    // MAX, against the sketch built directly over the union. The merged
    // and direct registers must agree EXACTLY (max of per-group maxima =
    // global max — this algebraic identity is what makes HLL state
    // mergeable across 1000 executors without a global shuffle), so the
    // query emits both denominators, both estimates, the exact distinct,
    // and a merge_exact flag any register divergence breaks. Shuffle cost:
    // ≤ 64 rows per group after map-side max-combine — never the ids.
    "sketch_hll_merge" -> QueryDef(
      (s, dir) => {
        import graft.functions.TextFunctions.md5Long
        val rhos = Tables.load(s, dir, "events")
          .select(col("event_type"),
            md5Long(col("user_id").cast(StringType)).as("h"),
            col("user_id"))
          .select(col("event_type"), expr("h & 63").as("bucket"),
            expr(s"55 - bit_count(${smearExpr("(h >> 6)")})").as("rho"),
            col("user_id"))
        def denomOf(regs: org.apache.spark.sql.DataFrame) = regs
          .agg((sum(expr("CAST(1 AS BIGINT) << (55 - register)"))
            + (lit(64L) - count(lit(1)))
              * expr("CAST(1 AS BIGINT) << 55")).as("denom"))
        val merged = denomOf(
          rhos.groupBy(col("event_type"), col("bucket"))
            .agg(max(col("rho")).as("register"))
            .groupBy(col("bucket"))
            .agg(max(col("register")).as("register")))
          .select(col("denom").as("merged_denom"))
        val direct = denomOf(
          rhos.groupBy(col("bucket")).agg(max(col("rho")).as("register")))
          .select(col("denom").as("direct_denom"))
        val exact = rhos.agg(
          countDistinct(col("user_id")).as("exact_distinct"))
        def est(denom: org.apache.spark.sql.Column) =
          round(lit(0.709) * lit(4096.0) * expr("POWER(2.0, 55)")
            / denom.cast(DoubleType), 4)
        exact.crossJoin(merged).crossJoin(direct)
          .select(col("exact_distinct"), col("merged_denom"),
            col("direct_denom"),
            est(col("merged_denom")).as("merged_est"),
            est(col("direct_denom")).as("direct_est"),
            (col("merged_denom") === col("direct_denom")).as("merge_exact"))
      },
      Some {
        import graft.functions.TextFunctions.sqlMd5Long
        val h = sqlMd5Long("CAST(user_id AS VARCHAR)")
        val denom = "CAST(SUM(CAST(1 AS BIGINT) << (55 - register))" +
          " + (64 - COUNT(*)) * (CAST(1 AS BIGINT) << 55) AS BIGINT)"
        s"""WITH rhos AS (
           |  SELECT event_type, h & 63 AS bucket,
           |    55 - bit_count(${smearExpr("(h >> 6)")}) AS rho, user_id
           |  FROM (SELECT event_type, $h AS h, user_id FROM events)),
           |grp AS (SELECT event_type, bucket, MAX(rho) AS register
           |        FROM rhos GROUP BY event_type, bucket),
           |mregs AS (SELECT bucket, MAX(register) AS register
           |          FROM grp GROUP BY bucket),
           |dregs AS (SELECT bucket, MAX(rho) AS register
           |          FROM rhos GROUP BY bucket),
           |m AS (SELECT $denom AS merged_denom FROM mregs),
           |d AS (SELECT $denom AS direct_denom FROM dregs),
           |ex AS (SELECT COUNT(DISTINCT user_id) AS exact_distinct
           |       FROM rhos)
           |SELECT exact_distinct, merged_denom, direct_denom,
           |  round(0.709 * 4096.0 * POWER(2.0, 55)
           |    / CAST(merged_denom AS DOUBLE), 4) AS merged_est,
           |  round(0.709 * 4096.0 * POWER(2.0, 55)
           |    / CAST(direct_denom AS DOUBLE), 4) AS direct_est,
           |  (merged_denom = direct_denom) AS merge_exact
           |FROM ex, m, d""".stripMargin
      }),

    // Posting-list inverted index WITH POSITIONS — the retrieval-side
    // construction step (term → (doc, tf, first occurrence), plus document
    // frequency). One posexplode + one (term, doc) aggregate + a df join
    // co-partitioned on term — two shuffles total, both on the term key;
    // common-term postings dominate and stay together for the downstream
    // merge. df filter bounds the output to index-worthy terms.
    "text_inverted_index" -> QueryDef(
      (s, dir) => {
        import graft.functions.TextFunctions.words
        val minDf = 50
        val posting = Tables.load(s, dir, "documents")
          .select(col("doc_id"), words(col("text")).as("ws"))
          .filter(size(col("ws")) > 0)
          .select(col("doc_id"), posexplode(col("ws")).as(Seq("pos", "term")))
          .groupBy(col("term"), col("doc_id"))
          .agg(count(lit(1)).as("tf"),
            (min(col("pos")) + 1).cast(LongType).as("first_pos"))
        val df = posting.groupBy(col("term"))
          .agg(count(lit(1)).as("df"))
          .filter(col("df") >= minDf)
        posting.join(df, Seq("term"))
          .select(col("term"), col("doc_id"), col("tf"), col("first_pos"),
            col("df"))
          .orderBy(col("term"), col("doc_id"))
      },
      Some {
        import graft.functions.TextFunctions.sqlWords
        s"""WITH toks AS (
           |  SELECT doc_id, ws
           |  FROM (SELECT doc_id, ${sqlWords("text")} AS ws FROM documents)
           |  WHERE len(ws) > 0),
           |posting AS (
           |  SELECT term, doc_id, COUNT(*) AS tf,
           |    CAST(MIN(pos) AS BIGINT) AS first_pos
           |  FROM (SELECT doc_id, unnest(ws) AS term,
           |          CAST(unnest(range(1, len(ws) + 1)) AS BIGINT) AS pos
           |        FROM toks)
           |  GROUP BY term, doc_id),
           |df AS (
           |  SELECT term, COUNT(*) AS df FROM posting GROUP BY term)
           |SELECT p.term, p.doc_id, p.tf, p.first_pos, df.df
           |FROM posting p JOIN df USING (term)
           |WHERE df.df >= 50
           |ORDER BY p.term, p.doc_id""".stripMargin
      }),

    // Weight-proportional SYSTEMATIC sampling: documents in doc_id order,
    // one representative per `step` of cumulative token weight — heavy
    // regions contribute proportionally more samples, and the selection is
    // exact integer arithmetic (no transcendental keys to round). The
    // total-order cumsum is NOT a global single-task window: it rides
    // SequencePacking.packBins (range-partition + per-partition cumsum +
    // O(partitions) driver prefix pass), the same distributed prefix-sum
    // the packing operator uses.
    "sample_weighted_systematic" -> QueryDef(
      (s, dir) => {
        import graft.functions.TextFunctions.words
        val d = Tables.load(s, dir, "documents")
          .select(col("doc_id"), size(words(col("text"))).cast(LongType)
            .as("wt"))
        val total = d.agg(sum(col("wt"))).head().getLong(0)
        val step = math.max(1L, total / 40)
        graft.operators.SequencePacking.packBins(d, "doc_id", "wt", step)
          .groupBy(col("bin"))
          .agg(min(col("doc_id")).as("first_doc"),
            count(lit(1)).as("n_docs"),
            sum(col("wt")).as("bin_weight"))
          .orderBy(col("bin"))
      },
      Some {
        import graft.functions.TextFunctions.sqlWords
        s"""WITH w AS (
           |  SELECT doc_id, CAST(len(${sqlWords("text")}) AS BIGINT) AS wt
           |  FROM documents),
           |tot AS (
           |  SELECT GREATEST(1, CAST(SUM(wt) // 40 AS BIGINT)) AS step
           |  FROM w),
           |c AS (
           |  SELECT doc_id, wt,
           |    SUM(wt) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
           |      AS cum
           |  FROM w)
           |SELECT CAST((cum - wt) // step AS BIGINT) AS bin,
           |  MIN(doc_id) AS first_doc,
           |  COUNT(*) AS n_docs, CAST(SUM(wt) AS BIGINT) AS bin_weight
           |FROM c, tot
           |GROUP BY bin ORDER BY bin""".stripMargin
      })
  )
}
