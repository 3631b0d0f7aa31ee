package graft.queries

import graft.functions.TextFunctions._
import graft.operators.Pairs
import graft.{QueryDef, Tables}
// (source-similarity uses the DECIMAL(38,0) exact-moment device)
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Corpus-level statistics and privacy scrubbing — the remaining standard
 * passes of a training-data pipeline:
 *
 *  - PII REDACTION (emails / phone numbers / IPv4 scrubbed by regex, the
 *    C4/Dolma-style privacy pass) — pure map, codegen'd `regexp_replace`,
 *  - VOCABULARY building (term + document frequency, top-k) — one
 *    map-side-combined shuffle over the exploded scan,
 *  - RARE-WORD scoring (fraction of token occurrences whose corpus document
 *    frequency is below 10% of docs) — the OOV/quality signal; joined
 *    against the SMALL common set so the 100 TB side only streams,
 *  - SOURCE-OVERLAP estimation via KMV sketch algebra — per-source k-minima
 *    sketches (tiny) pairwise intersected to estimate cross-source shingle
 *    Jaccard without ever materializing a pair set over documents.
 *
 * All metrics are exact integers or single double divisions of exact
 * integers, so the DuckDB oracle reproduces them bit-for-bit.
 */
object CorpusQueries {

  /** Redaction patterns — RE2-safe (no backrefs/lookaround) so Java regex
    * (Spark) and RE2 (DuckDB) agree on every match boundary. */
  private val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhonePat = "\\+1 555 [0-9]+"
  private val IpPat = "10\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** Common-word document-frequency threshold: a word is COMMON when it
    * appears in ≥ 10% of documents (df·10 ≥ n_docs) — scale-free, so the
    * same rule discriminates at every SF. */
  private val CommonDfPct = 10

  /** Bootstrap replicate count for `corpus_bootstrap_stats`. */
  private val BootstrapB = 16
  /** Poisson(1) CDF ppm thresholds floor(P(X ≤ k)·10⁶), k = 0..7 — the
    * inverse-CDF table turning a uniform md5-ppm draw into a Poisson(1)
    * bootstrap weight (count of thresholds ≤ u; P(X > 7) < 10⁻⁵ truncates
    * at weight 8). Computed once DRIVER-side and interpolated into both
    * engines as the same literals — the single source of truth device
    * [[SimilarityQueries]] uses for its nDCG log-weights. */
  private val PoissonCdfPpm: Seq[Long] = {
    var term = math.exp(-1.0)
    var cdf = term
    (0 until 8).map { k =>
      val t = math.floor(cdf * 1e6).toLong
      term = term / (k + 1)
      cdf += term
      t
    }
  }

  /** One BPE training round as oracle CTEs: pair count over `d{k-1}`,
    * greedy argmax (count desc, lexico-min pair), literal-replace
    * application into `d{k}`. Shared by the training query (which reads
    * the `top$k` tables) and the application query (which reads `d3`). */
  private def bpeRoundCtes(k: Int): String =
    s"""pc$k AS (
       |  SELECT pair, count(*) AS cnt FROM (
       |    SELECT unnest(list_transform(range(1, len(ws)),
       |      i -> ws[i] || ' ' || ws[i + 1])) AS pair
       |    FROM d${k - 1} WHERE len(ws) >= 2)
       |  GROUP BY pair),
       |top$k AS (SELECT pair, cnt FROM pc$k
       |          ORDER BY cnt DESC, pair LIMIT 1),
       |d$k AS (
       |  SELECT doc_id, string_split(trim(
       |    replace('  ' || array_to_string(ws, '  ') || '  ',
       |      '  ' || replace(pair, ' ', '  '),
       |      '  ' || replace(pair, ' ', '_'))), '  ') AS ws
       |  FROM d${k - 1}, top$k)""".stripMargin

  /** Vocabulary size for coverage measurement (`text_vocab_coverage`) —
    * the synthetic corpus has a tiny closed vocabulary, so a small V keeps
    * the covered/uncovered split non-degenerate at every SF; a production
    * run would set 32k–256k. */
  private val VocabTopV = 24

  /** PMI collocation mining: pairs below the count floor are dropped (the
    * standard correction for PMI's low-frequency bias — a hapax pair
    * otherwise scores arbitrarily high), and the report is top-k. */
  private val PmiMinCount = 8
  private val PmiTopK = 24

  /** Trained BPE artifact — 3 greedy merge rounds over the corpus, each
    * round one pure-map replace + one map-side-combined pair count with a
    * 1-row broadcast argmax, lineage cut per round (the graph_bfs device).
    * Training is deterministic (count-desc, lexico-min tiebreak), so the
    * rules AND the re-tokenized corpus are write-once artifacts:
    * `rules` = (merge_round, pair, cnt); `d3` = (doc_id, ws) after all
    * rounds — exactly what a real trainer materializes between
    * iterations, now shared by the merge report, the application stats
    * and the per-language compression rollup instead of each re-running
    * the identical training loop. Bump the version when the BPE loop or
    * its constants change shape. */
  private def bpeArtifact(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    import graft.functions.TextFunctions.words
    graft.Artifacts.once("bpe", version = 1, dir) { stage =>
      var docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), words(col("text")).as("ws"))
      var rules: org.apache.spark.sql.DataFrame = null
      for (r <- 1 to 3) {
        val top = graft.operators.IterBarrier.cut(
          docs.filter(size(col("ws")) >= 2)
            .select(explode(expr("transform(sequence(1, size(ws) - 1), " +
              "i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))"))
              .as("pair"))
            .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
            .agg(min_by(struct(col("pair"), col("cnt")),
              struct((-col("cnt")).as("nc"), col("pair"))).as("t"))
            .select(col("t.pair").as("pair"), col("t.cnt").as("cnt")),
          r, reliableEvery = 0)
        val row = top.select(lit(r.toLong).as("merge_round"),
          col("pair"), col("cnt"))
        rules = if (rules == null) row else rules.union(row)
        docs = graft.operators.IterBarrier.cut(
          docs.crossJoin(broadcast(top.select(col("pair"))))
            .selectExpr("doc_id",
            "split(trim(replace(concat('  ', array_join(ws, '  '), '  '), " +
              "concat('  ', replace(pair, ' ', '  ')), " +
              "concat('  ', replace(pair, ' ', '_')))), '  ') AS ws"),
          r, reliableEvery = 0)
      }
      rules.coalesce(1).write.mode("overwrite").parquet(s"$stage/rules")
      docs.write.mode("overwrite").parquet(s"$stage/d3")
    }
  }

  def defs: Map[String, QueryDef] = Map(

    // LEXICAL CONCENTRATION per source — Simpson's index over the word
    // distribution (the probability two random token draws are the same
    // type) plus the type-token ratio: the one-number "is this source
    // repetitive boilerplate or diverse prose" screen, read next to the
    // Zipf histogram before setting mixture weights. Exact counts; the
    // n(n-1) products ride DECIMAL(38,0) (a 100 TB source's top word can
    // clear int64 when squared); the two reported indices are single
    // double divisions of exact integers. Scale shape: ONE map-side-
    // combined (source, word) count, then a second combine to
    // |sources| rows — the corpus is scanned once, nothing is sorted.
    "corpus_simpson_diversity" -> QueryDef(
      (s, dir) => {
        val dec38 = (c: org.apache.spark.sql.Column) =>
          c.cast(DecimalType(38, 0))
        val d = Tables.load(s, dir, "documents")
        val counts = d
          .select(col("source"), explode(words(col("text"))).as("w"))
          .groupBy(col("source"), col("w"))
          .agg(count(lit(1)).as("n"))
        counts.groupBy(col("source"))
          .agg(sum(col("n")).as("n_tokens"),
            count(lit(1)).as("n_types"),
            sum(dec38(col("n")) * (dec38(col("n")) - 1)).as("num"))
          .select(col("source"), col("n_tokens"), col("n_types"),
            round(col("num").cast(DoubleType) /
              (col("n_tokens").cast(DoubleType) *
                (col("n_tokens") - 1).cast(DoubleType)), 9)
              .as("simpson_idx"),
            round(col("n_types").cast(DoubleType) /
              col("n_tokens").cast(DoubleType), 6).as("ttr"))
          .orderBy(col("source"))
      },
      Some {
        val ws = sqlWords("text")
        s"""WITH c AS (
           |  SELECT source, w, count(*) AS n FROM (
           |    SELECT source, unnest($ws) AS w FROM documents)
           |  GROUP BY source, w),
           |agg AS (
           |  SELECT source, CAST(SUM(n) AS BIGINT) AS n_tokens,
           |    count(*) AS n_types,
           |    SUM(CAST(n AS DECIMAL(38,0))
           |      * (CAST(n AS DECIMAL(38,0)) - 1)) AS num
           |  FROM c GROUP BY source)
           |SELECT source, n_tokens, n_types,
           |  round(CAST(num AS DOUBLE) / (CAST(n_tokens AS DOUBLE)
           |    * CAST(n_tokens - 1 AS DOUBLE)), 9) AS simpson_idx,
           |  round(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
           |    AS ttr
           |FROM agg ORDER BY source""".stripMargin
      }),

    // CHI-SQUARED TERM–SOURCE ASSOCIATION — the feature-selection read
    // next to PMI: which words are over/under-represented in a source
    // relative to the rest of the corpus, scored by the 2×2 presence
    // chi-square. Rates are ppm-QUANTIZED first (p1 = df_in·10⁶ div n_s,
    // p2 = df_out·10⁶ div n_o, pooled p̄ likewise), so the χ² form
    // (p1−p2)²·n_s·n_o / (p̄(10⁶−p̄)·N) cancels the 10¹² exactly and
    // every product stays a bounded DECIMAL(38,0) at ANY corpus size
    // (≤10³¹ at N=10⁹ docs); the single double division at the end
    // follows the corpus_simpson_diversity precedent. Scale shape: one
    // distinct-word explode feeds two map-side-combined aggregates
    // sharing the word key (one co-partitioned shuffle to join them),
    // source sizes broadcast, TakeOrdered for the top 20. Observed
    // (word, source) pairs only — a term's conspicuous ABSENCE from a
    // source is the complement row of the same table.
    "corpus_chi2_terms" -> QueryDef(
      (s, dir) => {
        val dec38 = (c: org.apache.spark.sql.Column) =>
          c.cast(DecimalType(38, 0))
        val d = Tables.load(s, dir, "documents")
        val pres = d.select(col("source"),
          explode(array_distinct(words(col("text")))).as("w"))
        val bySrc = pres.groupBy(col("w"), col("source"))
          .agg(count(lit(1)).as("a"))
        val tot = pres.groupBy(col("w")).agg(count(lit(1)).as("df"))
          .filter(col("df") >= 5)
        val srcN = d.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
        val nAll = d.count()
        bySrc.join(tot, "w").join(broadcast(srcN), "source")
          .withColumn("n_o", lit(nAll) - col("n_s"))
          .withColumn("p1", expr("a * 1000000 div n_s"))
          .withColumn("p2",
            expr("(df - a) * 1000000 div greatest(n_o, 1)"))
          .withColumn("pbar", expr(s"df * 1000000 div ${nAll}L"))
          .withColumn("num",
            dec38(col("p1") - col("p2")) * dec38(col("p1") - col("p2"))
              * dec38(col("n_s")) * dec38(col("n_o")))
          .withColumn("den", greatest(
            dec38(col("pbar")) * dec38(lit(1000000L) - col("pbar"))
              * dec38(lit(nAll)), dec38(lit(1L))))
          .select(col("w"), col("source"),
            col("a").as("df_in"), col("df").as("df_all"),
            col("n_s").as("n_src"),
            round(col("num").cast(DoubleType) /
              col("den").cast(DoubleType), 6).as("chi2"))
          .orderBy(col("chi2").desc, col("w"), col("source"))
          .limit(20)
      },
      Some {
        val ws = sqlWords("text")
        s"""WITH pres AS (
           |  SELECT source, unnest(list_distinct($ws)) AS w
           |  FROM documents),
           |bysrc AS (
           |  SELECT w, source, count(*) AS a FROM pres GROUP BY w, source),
           |tot AS (
           |  SELECT w, count(*) AS df FROM pres GROUP BY w
           |  HAVING count(*) >= 5),
           |srcn AS (
           |  SELECT source, count(*) AS n_s FROM documents GROUP BY source),
           |nall AS (SELECT count(*) AS n FROM documents),
           |q AS (
           |  SELECT b.w, b.source, b.a, t.df, s.n_s,
           |    (n.n - s.n_s) AS n_o, n.n AS n,
           |    CAST(b.a * 1000000 // s.n_s AS BIGINT) AS p1,
           |    CAST((t.df - b.a) * 1000000
           |      // greatest(n.n - s.n_s, 1) AS BIGINT) AS p2,
           |    CAST(t.df * 1000000 // n.n AS BIGINT) AS pbar
           |  FROM bysrc b JOIN tot t ON b.w = t.w
           |  JOIN srcn s ON b.source = s.source, nall n)
           |SELECT w, source, CAST(a AS BIGINT) AS df_in,
           |  CAST(df AS BIGINT) AS df_all, CAST(n_s AS BIGINT) AS n_src,
           |  round(CAST(CAST(p1 - p2 AS DECIMAL(38,0)) * (p1 - p2)
           |      * n_s * n_o AS DOUBLE)
           |    / CAST(greatest(CAST(pbar AS DECIMAL(38,0))
           |      * (1000000 - pbar) * n, 1) AS DOUBLE), 6) AS chi2
           |FROM q ORDER BY chi2 DESC, w, source LIMIT 20""".stripMargin
      }),

    // TEXTRANK KEYWORD EXTRACTION — nodes are the corpus top-200 words,
    // edges are adjacent-word co-occurrences canonicalized undirected,
    // and 5 rounds of exact-integer PageRank (identical arithmetic to
    // operators.PageRank: floor(rank·85/(100·outdeg)) messages,
    // Scale·15/100 base) score centrality; top-20 keywords out. Scale
    // shape: the corpus-sized work is distributed (one map-side word
    // count bounds the vocab; bigrams filter through a codegen'd InSet —
    // no join — and dedup vocab²-bounded), after which the graph is AT
    // MOST 200 nodes / 19,900 undirected pairs BY CONSTRUCTION at any
    // corpus size, so the walk itself is driver-held dense state — the
    // same bounded-state license as the 64-dim power-iteration vector.
    // Graphs without a construction bound use operators.PageRank
    // (one exchange per round) instead — see graph_pagerank.
    "text_textrank_keywords" -> QueryDef(
      (s, dir) => {
        import graft.functions.TextFunctions.{words => tw}
        val d = Tables.load(s, dir, "documents")
        // ONE tokenize pass feeds both the vocab count and the adjacency
        // pairs (eager barrier — the two consumers are separate actions
        // and would otherwise each re-tokenize the corpus); adjacent
        // pairs come straight off the word array (zip of the two
        // shifted slices), not via concat-then-resplit bigram strings
        val docs = graft.operators.IterBarrier.cut(
          d.select(tw(col("text")).as("ws")), 1, reliableEvery = 0)
        val vocab = docs.select(explode(col("ws")).as("word"))
          .groupBy(col("word")).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("word")).limit(200)
          .select(col("word")).collect().map(_.getString(0))
        val pairs = docs
          .select(explode(arrays_zip(
            slice(col("ws"), lit(1), size(col("ws")) - 1),
            slice(col("ws"), lit(2), size(col("ws")) - 1))).as("p"))
          .select(col("p").getField("0").as("a"),
            col("p").getField("1").as("b"))
          .filter(col("a") =!= col("b") &&
            col("a").isin(vocab.toSeq: _*) &&
            col("b").isin(vocab.toSeq: _*))
          .select(least(col("a"), col("b")).as("x"),
            greatest(col("a"), col("b")).as("y"))
          .distinct()
          .collect().map(r => (r.getString(0), r.getString(1)))
        // driver-held walk: adjacency over ≤200 words, both directions
        val adj = scala.collection.mutable.Map.empty[String,
          scala.collection.mutable.ArrayBuffer[String]]
        pairs.foreach { case (x, y) =>
          adj.getOrElseUpdate(x,
            scala.collection.mutable.ArrayBuffer.empty) += y
          adj.getOrElseUpdate(y,
            scala.collection.mutable.ArrayBuffer.empty) += x
        }
        val scale = graft.operators.PageRank.Scale
        val base = scale * 15 / 100
        var rank: Map[String, Long] = adj.keysIterator.map(_ -> scale).toMap
        for (_ <- 1 to 5) {
          val msgs = scala.collection.mutable.Map.empty[String, Long]
          adj.foreach { case (src, dsts) =>
            val c = rank(src) * 85 / (100 * dsts.size)
            dsts.foreach(t => msgs.update(t, msgs.getOrElse(t, 0L) + c))
          }
          rank = adj.keysIterator
            .map(n => n -> (base + msgs.getOrElse(n, 0L))).toMap
        }
        val top20 = rank.toSeq.sortBy { case (w, r) => (-r, w) }.take(20)
        s.createDataFrame(top20).toDF("word", "rank")
      },
      Some {
        val ws = sqlWords("text")
        def iter(prev: String, k: Int): String =
          s"""r$k AS (
             |  SELECT n.node,
             |    CAST(150000000 + COALESCE(s.m, 0) AS BIGINT) AS rank
             |  FROM nodes n LEFT JOIN (
             |    SELECT e.dst AS node,
             |      SUM((r.rank * 85) // (100 * deg.d)) AS m
             |    FROM $prev r
             |    JOIN e ON r.node = e.src
             |    JOIN deg ON deg.src = e.src
             |    GROUP BY e.dst) s USING (node))""".stripMargin
        s"""WITH vocab AS (
           |  SELECT word FROM (
           |    SELECT word, count(*) AS n FROM (
           |      SELECT unnest($ws) AS word FROM documents)
           |    GROUP BY word ORDER BY n DESC, word LIMIT 200)),
           |bg AS (
           |  SELECT s[1] AS a, s[2] AS b FROM (
           |    SELECT string_split(unnest(
           |      ${graft.functions.TextFunctions.sqlShingles(ws, 2)}), ' ')
           |      AS s
           |    FROM documents)),
           |p AS (
           |  SELECT DISTINCT least(a, b) AS x, greatest(a, b) AS y
           |  FROM bg
           |  WHERE a <> b AND a IN (SELECT word FROM vocab)
           |    AND b IN (SELECT word FROM vocab)),
           |ew AS (
           |  SELECT x AS s, y AS t FROM p
           |  UNION ALL SELECT y AS s, x AS t FROM p),
           |e AS (
           |  SELECT CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT)
           |           AS src,
           |         CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT)
           |           AS dst
           |  FROM ew),
           |nodes AS (SELECT DISTINCT src AS node FROM e),
           |deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
           |r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS rank
           |       FROM nodes),
           |${(1 to 5).map(k => iter(s"r${k - 1}", k)).mkString(",\n")},
           |wordmap AS (
           |  SELECT DISTINCT s AS word,
           |    CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) AS node
           |  FROM ew)
           |SELECT w.word, r.rank FROM r5 r JOIN wordmap w USING (node)
           |ORDER BY r.rank DESC, w.word LIMIT 20""".stripMargin
      }),

    // WORD BURSTINESS (Church–Gale adaptation) — for the corpus's top-20
    // words: once a word appears in a document, how likely is it to
    // repeat? repeat_ppm = (total − df)/total (fraction of occurrences
    // that are within-doc repeats) and adapt_ppm = df₂/df (fraction of
    // containing docs where it appears ≥ 2×) — the signal separating
    // topical content words (bursty) from function words (evenly
    // spread), read before trusting df-based weighting. Exact integers.
    // Scale shape: ONE map-side-combined (doc, word) count, a second
    // combine to the vocab table, top-20 by TakeOrdered — the corpus is
    // scanned once, nothing sorted.
    "corpus_burstiness" -> QueryDef(
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val dw = d
          .select(col("doc_id"), explode(words(col("text"))).as("w"))
          .groupBy(col("doc_id"), col("w"))
          .agg(count(lit(1)).as("c"))
        dw.groupBy(col("w"))
          .agg(sum(col("c")).as("total"), count(lit(1)).as("df"),
            sum(when(col("c") >= 2, 1L).otherwise(0L)).as("df2"))
          .selectExpr("w", "total", "df", "df2",
            "((total - df) * 1000000) div total AS repeat_ppm",
            "(df2 * 1000000) div df AS adapt_ppm")
          .orderBy(col("total").desc, col("w"))
          .limit(20)
      },
      Some {
        val ws = sqlWords("text")
        s"""WITH dw AS (
           |  SELECT doc_id, w, count(*) AS c FROM (
           |    SELECT doc_id, unnest($ws) AS w FROM documents)
           |  GROUP BY doc_id, w),
           |v AS (
           |  SELECT w, CAST(SUM(c) AS BIGINT) AS total,
           |    count(*) AS df,
           |    CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS df2
           |  FROM dw GROUP BY w)
           |SELECT w, total, df, df2,
           |  ((total - df) * 1000000) // total AS repeat_ppm,
           |  (df2 * 1000000) // df AS adapt_ppm
           |FROM v ORDER BY total DESC, w LIMIT 20""".stripMargin
      }),

    // POISSON BOOTSTRAP over a corpus statistic — the uncertainty read
    // behind "is this release's mean doc length actually different, or is
    // it sampling noise?": 16 bootstrap replicates of the mean n_chars,
    // each document carrying a deterministic Poisson(1) weight per
    // replicate (the online-bootstrap standard — one pass, no resampled
    // copies of the corpus). Weights come from the suite's reproducible
    // md5-ppm device pushed through the Poisson(1) inverse CDF, whose ppm
    // thresholds are computed ONCE driver-side ([[PoissonCdfPpm]]) and
    // interpolated into both engines as identical literals — no exp() or
    // factorial evaluates in either plan. Scale shape: a ×16 generator
    // explode on a pure map (NO shuffle of the corpus — the only exchange
    // is the 16-row combined aggregate); the replicate spread across the
    // 16 output rows IS the confidence interval.
    "corpus_bootstrap_stats" -> QueryDef(
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val u = md5Long(concat(lit("boot:"), col("doc_id"), lit(":"),
          col("b"))) % 1000000L
        val w = PoissonCdfPpm.map(t => when(u >= t, 1L).otherwise(0L))
          .reduce(_ + _)
        d.select(col("doc_id"), col("n_chars"),
            explode(sequence(lit(0), lit(BootstrapB - 1))).as("b"))
          .select(col("b"), w.as("w"), col("n_chars"))
          .groupBy(col("b"))
          .agg(sum(col("w")).as("n_eff"),
            sum(col("w") * col("n_chars")).as("sum_wchars"))
          .select(col("b").cast(LongType).as("b"), col("n_eff"),
            col("sum_wchars"),
            // greatest(...,1): a zero-weight replicate must yield 0, not
            // a NULL-vs-error divergence between the engines
            expr("sum_wchars div greatest(n_eff, 1)").as("mean_chars"))
          .orderBy(col("b"))
      },
      Some {
        val u = sqlMd5Long("concat('boot:', doc_id, ':', b)") + " % 1000000"
        val w = PoissonCdfPpm
          .map(t => s"(CASE WHEN u >= $t THEN 1 ELSE 0 END)")
          .mkString(" + ")
        s"""WITH rep AS (
           |  SELECT doc_id, n_chars, b
           |  FROM documents,
           |    (SELECT unnest(range(0, $BootstrapB)) AS b) r),
           |uw AS (
           |  SELECT b, n_chars, $w AS w
           |  FROM (SELECT b, n_chars, $u AS u FROM rep))
           |SELECT CAST(b AS BIGINT) AS b,
           |  CAST(SUM(w) AS BIGINT) AS n_eff,
           |  CAST(SUM(w * n_chars) AS BIGINT) AS sum_wchars,
           |  CAST(CAST(SUM(w * n_chars) AS BIGINT)
           |    // greatest(CAST(SUM(w) AS BIGINT), 1) AS BIGINT) AS mean_chars
           |FROM uw GROUP BY b ORDER BY b""".stripMargin
      }),

    // PII redaction: the corpus text carries deterministic contact blocks
    // (derived from doc_id on both engines — the synthetic documents table
    // contains no organic PII to scrub), and the operator counts + redacts
    // emails, +1-555 phone numbers and 10.x.x.x IPs. Shape: a pure map —
    // three codegen'd regexp passes over the scan, no shuffle but the
    // presentation sort; at 100 TB this is scan-bound.
    "text_pii_redact" -> QueryDef(
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val pii = concat(
          col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" contact user"), col("doc_id"), lit("@example.com ok")))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            concat(lit(" call +1 555 0"), col("doc_id"), lit(" now")))
            .otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            concat(lit(" from 10."), col("doc_id") % 256, lit(".0."),
              col("doc_id") % 100, lit(" end")))
            .otherwise(lit("")))
        val redacted = regexp_replace(
          regexp_replace(
            regexp_replace(pii, EmailPat, "<EMAIL>"),
            PhonePat, "<PHONE>"),
          IpPat, "<IP>")
        d.select(
            col("doc_id"),
            regexp_count(pii, lit(EmailPat)).cast(LongType).as("n_emails"),
            regexp_count(pii, lit(PhonePat)).cast(LongType).as("n_phones"),
            regexp_count(pii, lit(IpPat)).cast(LongType).as("n_ips"),
            length(redacted).cast(LongType).as("redacted_len"),
            md5Long(redacted).as("redacted_h"))
          .orderBy(col("doc_id"))
      },
      Some {
        val pii = "concat(text," +
          " CASE WHEN doc_id % 3 = 0 THEN concat(' contact user', doc_id," +
          " '@example.com ok') ELSE '' END," +
          " CASE WHEN doc_id % 5 = 0 THEN concat(' call +1 555 0', doc_id," +
          " ' now') ELSE '' END," +
          " CASE WHEN doc_id % 7 = 0 THEN concat(' from 10.', doc_id % 256," +
          " '.0.', doc_id % 100, ' end') ELSE '' END)"
        val red = s"regexp_replace(regexp_replace(regexp_replace(pii, " +
          s"'$EmailPat', '<EMAIL>', 'g'), '$PhonePat', '<PHONE>', 'g'), " +
          s"'$IpPat', '<IP>', 'g')"
        s"""SELECT doc_id,
           |  CAST(len(regexp_extract_all(pii, '$EmailPat')) AS BIGINT) AS n_emails,
           |  CAST(len(regexp_extract_all(pii, '$PhonePat')) AS BIGINT) AS n_phones,
           |  CAST(len(regexp_extract_all(pii, '$IpPat')) AS BIGINT) AS n_ips,
           |  CAST(length(red) AS BIGINT) AS redacted_len,
           |  ${sqlMd5Long("red")} AS redacted_h
           |FROM (SELECT doc_id, pii, $red AS red
           |      FROM (SELECT doc_id, $pii AS pii FROM documents))
           |ORDER BY doc_id""".stripMargin
      }),

    // Vocabulary building: term frequency + document frequency, top 100 by
    // tf (ties broken by word). One shuffle on the word key with map-side
    // combine — the classic wordcount whose combiner keeps the shuffle
    // proportional to |vocab|·partitions, not corpus tokens; df via a
    // per-doc-distinct explode of the same scan.
    "text_vocab_topk" -> QueryDef(
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val tok = d.select(col("doc_id"), explode(words(col("text"))).as("w"))
        val tf = tok.groupBy(col("w")).agg(count(lit(1)).as("tf"))
        val df = d.select(explode(array_distinct(words(col("text")))).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("df"))
        tf.join(df, "w")
          .orderBy(col("tf").desc, col("w"))
          .limit(100)
      },
      Some {
        val ws = sqlWords("text")
        s"""SELECT w, tf, df FROM (
           |  SELECT w, count(*) AS tf FROM (
           |    SELECT unnest($ws) AS w FROM documents) GROUP BY w) tf
           |JOIN (
           |  SELECT w, count(*) AS df FROM (
           |    SELECT DISTINCT doc_id, unnest(list_distinct($ws)) AS w
           |    FROM documents) GROUP BY w) df USING (w)
           |ORDER BY tf DESC, w LIMIT 100""".stripMargin
      }),

    // Rare-word fraction: per document, the share of token occurrences
    // whose corpus df is BELOW 10% of documents — the OOV/noise signal a
    // quality filter thresholds on. Computed against the COMMON set (small
    // by construction: ≤ 10·|vocab hot set|), broadcast back onto the
    // exploded scan; n_rare = n_words − n_common, so the (unbounded) rare
    // vocabulary itself is never shuffled or collected.
    "text_rare_word_frac" -> QueryDef(
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val nDocs = d.agg(count(lit(1)).as("n_docs"))
        val common = d
          .select(explode(array_distinct(words(col("text")))).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("df"))
          .crossJoin(broadcast(nDocs))
          .filter(col("df") * CommonDfPct >= col("n_docs"))
          .select(col("w"))
        val tok = d.select(col("doc_id"),
          size(words(col("text"))).cast(LongType).as("n_words"),
          explode(words(col("text"))).as("w"))
        val nCommon = tok.join(broadcast(common), "w")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_common"))
        d.select(col("doc_id"),
            size(words(col("text"))).cast(LongType).as("n_words"))
          .join(nCommon, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_words"),
            (col("n_words") - coalesce(col("n_common"), lit(0L)))
              .as("n_rare"))
          .withColumn("rare_frac",
            round(col("n_rare").cast(DoubleType) /
              col("n_words").cast(DoubleType), 6))
          .orderBy(col("doc_id"))
      },
      Some {
        val ws = sqlWords("text")
        s"""WITH nd AS (SELECT count(*) AS n_docs FROM documents),
           |common AS (
           |  SELECT w FROM (
           |    SELECT w, count(*) AS df FROM (
           |      SELECT DISTINCT doc_id, unnest(list_distinct($ws)) AS w
           |      FROM documents) GROUP BY w), nd
           |  WHERE df * $CommonDfPct >= n_docs),
           |tok AS (
           |  SELECT doc_id, CAST(len($ws) AS BIGINT) AS n_words,
           |         unnest($ws) AS w
           |  FROM documents),
           |nc AS (
           |  SELECT doc_id, count(*) AS n_common
           |  FROM tok JOIN common USING (w) GROUP BY doc_id),
           |base AS (
           |  SELECT doc_id, CAST(len($ws) AS BIGINT) AS n_words
           |  FROM documents)
           |SELECT base.doc_id, base.n_words,
           |  base.n_words - coalesce(nc.n_common, 0) AS n_rare,
           |  round(CAST(base.n_words - coalesce(nc.n_common, 0) AS DOUBLE)
           |        / CAST(base.n_words AS DOUBLE), 6) AS rare_frac
           |FROM base LEFT JOIN nc ON base.doc_id = nc.doc_id
           |ORDER BY base.doc_id""".stripMargin
      }),

    // Corpus length histogram — the length-distribution report every
    // corpus card carries: documents bucketed by the highest power of two
    // ≤ word count, with per-bucket doc/token totals. The bucket is pure
    // integer bit-smearing (no log2 — engines disagree on the last ulp of
    // transcendental folds, and floor() at an exact power boundary would
    // flip on it); one map-side-combined aggregate over ≤ 64 buckets
    // regardless of corpus size.
    "text_length_histogram" -> QueryDef(
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val n = size(words(col("text"))).cast(LongType)
        // smear the top bit downward, then keep the top bit:
        // x = n|n>>1|n>>2|...; bucket = x - (x >> 1)
        val smear = "n_words | (n_words >> 1) | (n_words >> 2) | " +
          "(n_words >> 4) | (n_words >> 8) | (n_words >> 16) | (n_words >> 32)"
        d.select(n.as("n_words"))
          .withColumn("bucket",
            expr(s"(($smear) - (($smear) >> 1))"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("n_tokens"),
            min(col("n_words")).as("min_words"),
            max(col("n_words")).as("max_words"))
          .orderBy(col("bucket"))
      },
      Some {
        val n = s"CAST(len(${sqlWords("text")}) AS BIGINT)"
        val smear = "n_words | (n_words >> 1) | (n_words >> 2) | " +
          "(n_words >> 4) | (n_words >> 8) | (n_words >> 16) | (n_words >> 32)"
        s"""SELECT bucket, count(*) AS n_docs,
           |  CAST(SUM(n_words) AS BIGINT) AS n_tokens,
           |  MIN(n_words) AS min_words, MAX(n_words) AS max_words
           |FROM (
           |  SELECT n_words, (($smear) - (($smear) >> 1)) AS bucket
           |  FROM (SELECT $n AS n_words FROM documents))
           |GROUP BY bucket ORDER BY bucket""".stripMargin
      }),

    // HYBRID retrieval — the lexical+semantic fusion every RAG/training
    // retrieval stack runs: candidates scored by 0.5·cosine(embedding) +
    // 0.5·word-3-gram Jaccard, top-5 per query. Cross-MODAL join: the text
    // table and the embedding table meet on doc_id = vec_id (docs without
    // embeddings drop out — a real condition of multimodal corpora). Query
    // side broadcasts; one window shuffle ranks. Both score components are
    // already cross-engine exact (rounded fold cosine, rational Jaccard).
    "retrieval_hybrid_topk" -> QueryDef(
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
          .select(col("doc_id"), shingleHashes(col("text"), 3).as("sh"))
        val e = Tables.load(s, dir, "embeddings")
          .select(col("vec_id").as("doc_id"), col("embedding"),
            norm(col("embedding")).as("nrm"))
        val corpus = d.join(e, "doc_id")
        val q = corpus.filter(col("doc_id") < 4)
          .select(col("doc_id").as("query_id"), col("sh").as("qsh"),
            col("embedding").as("qv"), col("nrm").as("qn"))
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("score").desc, col("doc_id"))
        corpus.join(broadcast(q), col("doc_id") =!= col("query_id"))
          .withColumn("score", round(
            lit(0.5d) * cosineHoisted(col("qv"), col("embedding"),
              col("qn"), col("nrm")) +
            lit(0.5d) * jaccard(col("qsh"), col("sh")), 6))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .select(col("query_id"), col("rank").cast(LongType).as("rank"),
            col("doc_id"), col("score"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some {
        val sh = sqlShingleHashes("text", 3)
        val cos = sqlCosine("q.qv", "c.embedding", 64)
        val jac = sqlJaccard("q.qsh", "c.sh")
        s"""WITH corpus AS (
           |  SELECT d.doc_id, $sh AS sh, e.embedding
           |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
           |q AS (
           |  SELECT doc_id AS query_id, sh AS qsh, embedding AS qv
           |  FROM corpus WHERE doc_id < 4),
           |scored AS (
           |  SELECT q.query_id, c.doc_id,
           |    round(0.5 * $cos + 0.5 * $jac, 6) AS score
           |  FROM corpus c, q WHERE c.doc_id <> q.query_id)
           |SELECT query_id, rank, doc_id, score FROM (
           |  SELECT query_id, doc_id, score,
           |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
           |      ORDER BY score DESC, doc_id) AS BIGINT) AS rank
           |  FROM scored)
           |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
      }),

    // RECIPROCAL-RANK FUSION — the OTHER standard hybrid-retrieval
    // combiner: instead of blending raw scores (retrieval_hybrid_topk),
    // each ranker contributes 1/(60+rank) and the fused list re-ranks on
    // the sum — scale-free, so a ranker with inflated score magnitudes
    // cannot dominate (why RRF is the default fusion in production search
    // stacks). Rankers here: dense cosine and lexical 3-gram Jaccard.
    // Scale shape: both rank windows share ONE query_id partitioning (a
    // single shuffle, two in-partition sorts), the fused re-rank reuses
    // it, and ranks are integers so the reciprocal sum is bit-identical
    // cross-engine.
    "retrieval_rrf_topk" -> QueryDef(
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
          .select(col("doc_id"), shingleHashes(col("text"), 3).as("sh"))
        val e = Tables.load(s, dir, "embeddings")
          .select(col("vec_id").as("doc_id"), col("embedding"),
            norm(col("embedding")).as("nrm"))
        val corpus = d.join(e, "doc_id")
        val q = corpus.filter(col("doc_id") < 4)
          .select(col("doc_id").as("query_id"), col("sh").as("qsh"),
            col("embedding").as("qv"), col("nrm").as("qn"))
        val wCos = Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("doc_id"))
        val wJac = Window.partitionBy(col("query_id"))
          .orderBy(col("jac").desc, col("doc_id"))
        val wRrf = Window.partitionBy(col("query_id"))
          .orderBy(col("rrf").desc, col("doc_id"))
        corpus.join(broadcast(q), col("doc_id") =!= col("query_id"))
          .withColumn("cos", cosineHoisted(col("qv"), col("embedding"),
            col("qn"), col("nrm")))
          .withColumn("jac", round(jaccard(col("qsh"), col("sh")), 6))
          .withColumn("r_cos", row_number().over(wCos).cast(LongType))
          .withColumn("r_jac", row_number().over(wJac).cast(LongType))
          .withColumn("rrf",
            lit(1.0d) / (lit(60.0d) + col("r_cos").cast(DoubleType))
              + lit(1.0d) / (lit(60.0d) + col("r_jac").cast(DoubleType)))
          .withColumn("rank", row_number().over(wRrf).cast(LongType))
          .filter(col("rank") <= 5)
          .select(col("query_id"), col("rank"), col("doc_id"),
            col("r_cos"), col("r_jac"), round(col("rrf"), 6).as("rrf"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some {
        val sh = sqlShingleHashes("text", 3)
        val cos = sqlCosine("q.qv", "c.embedding", 64)
        val jac = s"round(${sqlJaccard("q.qsh", "c.sh")}, 6)"
        s"""WITH corpus AS (
           |  SELECT d.doc_id, $sh AS sh, e.embedding
           |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
           |q AS (
           |  SELECT doc_id AS query_id, sh AS qsh, embedding AS qv
           |  FROM corpus WHERE doc_id < 4),
           |ranked AS (
           |  SELECT query_id, doc_id,
           |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
           |      ORDER BY cos DESC, doc_id) AS BIGINT) AS r_cos,
           |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
           |      ORDER BY jac DESC, doc_id) AS BIGINT) AS r_jac
           |  FROM (
           |    SELECT q.query_id, c.doc_id, $cos AS cos, $jac AS jac
           |    FROM corpus c, q WHERE c.doc_id <> q.query_id)),
           |fused AS (
           |  SELECT query_id, doc_id, r_cos, r_jac,
           |    1.0 / (60.0 + r_cos) + 1.0 / (60.0 + r_jac) AS rrf
           |  FROM ranked)
           |SELECT query_id, rank, doc_id, r_cos, r_jac,
           |  round(rrf, 6) AS rrf
           |FROM (
           |  SELECT query_id, doc_id, r_cos, r_jac, rrf,
           |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
           |      ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank
           |  FROM fused)
           |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
      }),

    // Cross-source overlap via KMV sketch ALGEBRA: per source, the k=16
    // smallest word-4-gram hashes via the bounded-buffer k-minima
    // aggregate ([[graft.functions.KMinimaAgg]] — ≤ k longs per source per
    // partition on the shuffle, no stage holds a source's full distinct
    // set); pairwise, the union's k smallest values give est_jaccard =
    // |both ∩ union_k| / |union_k| (Beyer et al. 2007). The pair
    // computation touches only 20 sketch rows — the document table is
    // read ONCE no matter how many source pairs exist, which is the
    // entire point at 100 TB. The exact Jaccard (one inverted-index
    // self-join the sketch exists to avoid) rides along to show the error.
    "sketch_source_overlap" -> QueryDef(
      (s, dir) => {
        import graft.functions.SketchAggregates.kMinima
        val k = 16
        val d = Tables.load(s, dir, "documents")
        val sh = d.select(col("source"),
            explode(shingleHashes(col("text"), 4)).as("h"))
        val sk = sh.groupBy(col("source"))
          .agg(kMinima(col("h"), k).as("mins"))
        val a = sk.select(col("source").as("s1"), col("mins").as("m1"))
        val b = sk.select(col("source").as("s2"), col("mins").as("m2"))
        val u = slice(array_sort(array_union(col("m1"), col("m2"))), 1, k)
        val kk = least(lit(k), size(u)).cast(LongType)
        val inter = size(filter(u, x =>
          array_contains(col("m1"), x) && array_contains(col("m2"), x)))
          .cast(LongType)
        val est = a.crossJoin(b).filter(col("s1") < col("s2"))
          .select(col("s1"), col("s2"),
            round(inter.cast(DoubleType) / kk.cast(DoubleType), 6)
              .as("est_jaccard"))
        // exact check: distinct (source, h) self-join — the expensive path
        val dh = sh.distinct()
        val sizes = dh.groupBy(col("source")).agg(count(lit(1)).as("n"))
        val xs = dh.toDF("s1", "h").join(dh.toDF("s2", "h"), "h")
          .filter(col("s1") < col("s2"))
          .groupBy(col("s1"), col("s2")).agg(count(lit(1)).as("n_inter"))
        est
          .join(xs, Seq("s1", "s2"), "left")
          .join(sizes.toDF("s1", "n1"), "s1")
          .join(sizes.toDF("s2", "n2"), "s2")
          .select(col("s1"), col("s2"), col("est_jaccard"),
            round(coalesce(col("n_inter"), lit(0L)).cast(DoubleType) /
              (col("n1") + col("n2") - coalesce(col("n_inter"), lit(0L)))
                .cast(DoubleType), 6).as("exact_jaccard"))
          .orderBy(col("s1"), col("s2"))
      },
      Some {
        val hs = sqlShingleHashes("text", 4)
        s"""WITH sh AS (
           |  SELECT DISTINCT source, unnest(hs) AS h
           |  FROM (SELECT source, $hs AS hs FROM documents)),
           |ranked AS (
           |  SELECT source, h,
           |    row_number() OVER (PARTITION BY source ORDER BY h) AS rn
           |  FROM sh),
           |sk AS (
           |  SELECT source, list(h ORDER BY h) AS mins
           |  FROM ranked WHERE rn <= 16 GROUP BY source),
           |pairs AS (
           |  SELECT a.source AS s1, b.source AS s2, a.mins AS m1, b.mins AS m2
           |  FROM sk a JOIN sk b ON a.source < b.source),
           |est AS (
           |  SELECT s1, s2,
           |    round(CAST(len(list_filter(u, x -> list_contains(m1, x)
           |            AND list_contains(m2, x))) AS DOUBLE)
           |      / CAST(least(16, len(u)) AS DOUBLE), 6) AS est_jaccard
           |  FROM (SELECT s1, s2, m1, m2,
           |          list_sort(list_distinct(list_concat(m1, m2)))[:16] AS u
           |        FROM pairs)),
           |sizes AS (SELECT source, count(*) AS n FROM sh GROUP BY source),
           |xs AS (
           |  SELECT a.source AS s1, b.source AS s2, count(*) AS n_inter
           |  FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
           |  GROUP BY a.source, b.source)
           |SELECT est.s1, est.s2, est.est_jaccard,
           |  round(CAST(coalesce(xs.n_inter, 0) AS DOUBLE)
           |    / CAST(n1.n + n2.n - coalesce(xs.n_inter, 0) AS DOUBLE), 6)
           |    AS exact_jaccard
           |FROM est
           |LEFT JOIN xs ON est.s1 = xs.s1 AND est.s2 = xs.s2
           |JOIN sizes n1 ON est.s1 = n1.source
           |JOIN sizes n2 ON est.s2 = n2.source
           |ORDER BY est.s1, est.s2""".stripMargin
      }),

    // BPE merge-candidate counting — the inner statistic of tokenizer
    // training: frequency of every adjacent character pair within words
    // (the first merge iteration of byte-pair encoding picks the top
    // pair). Bounded fan-out (len(w)−1 pairs per word), one
    // map-side-combined count shuffle over a small pair vocabulary,
    // total-order top-30. Both engines slice by code point.
    "text_bpe_pairs" -> QueryDef(
      (s, dir) => {
        import graft.functions.TextFunctions.words
        Tables.load(s, dir, "documents")
          .select(explode(words(col("text"))).as("w"))
          .filter(length(col("w")) >= 2)
          .select(explode(expr(
            "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
            .as("pair"))
          .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("pair"))
          .limit(30)
      },
      Some {
        import graft.functions.TextFunctions.sqlWords
        s"""WITH ws AS (
           |  SELECT unnest(${sqlWords("text")}) AS w FROM documents),
           |prs AS (
           |  SELECT unnest(list_transform(range(1, length(w)),
           |    i -> substring(w, i, 2))) AS pair
           |  FROM ws WHERE length(w) >= 2)
           |SELECT pair, COUNT(*) AS cnt FROM prs
           |GROUP BY pair ORDER BY cnt DESC, pair LIMIT 30""".stripMargin
      }),

    // BPE MERGE-RULE TRAINING, word-level: three greedy rounds of "count
    // all adjacent token pairs → pick the most frequent (ties: lexico-min)
    // → merge every left-to-right non-overlapping occurrence corpus-wide"
    // — the induction loop of byte-pair / unigram tokenizer training, here
    // over whitespace-pretokenized units so the learned units are common
    // phrases. The MERGE APPLICATION is a single literal string replace
    // per document against a double-space token encoding ('  a  b' →
    // '  a_b'): literal replace is left-to-right non-overlapping in both
    // engines — exactly BPE's application order — and the leading
    // separator regenerates so back-to-back occurrences all merge.
    // Per round the corpus side is ONE pure map (replace) + ONE
    // map-side-combined pair count; the argmax is a 1-row broadcast. An
    // eager barrier cuts the two-branch lineage per round (same device as
    // graph_bfs_layers); at 100 TB each round's re-tokenized corpus is
    // exactly what a real trainer materializes between iterations.
    "text_bpe_merge" -> QueryDef(
      (s, dir) => s.read.parquet(s"${bpeArtifact(s, dir)}/rules")
        .select(col("merge_round"),
          expr("replace(pair, ' ', '_')").as("merged"),
          col("cnt").as("n_occ"))
        .orderBy(col("merge_round")),
      Some {
        s"""WITH d0 AS (
           |  SELECT doc_id, ${sqlWords("text")} AS ws FROM documents),
           |${(1 to 3).map(bpeRoundCtes).mkString(",\n")}
           |SELECT merge_round, merged, n_occ FROM (
           |  SELECT CAST(1 AS BIGINT) AS merge_round,
           |    replace(pair, ' ', '_') AS merged, cnt AS n_occ FROM top1
           |  UNION ALL SELECT 2, replace(pair, ' ', '_'), cnt FROM top2
           |  UNION ALL SELECT 3, replace(pair, ' ', '_'), cnt FROM top3)
           |ORDER BY merge_round""".stripMargin
      }),

    // BPE MERGE APPLICATION — the tokenize step that follows training:
    // the three learned merge rules applied to every document, reporting
    // per-doc token counts before/after (the statistic that prices a
    // tokenizer change in sequence-length terms). Training and
    // application share one loop body (same argmax, same literal-replace
    // semantics), so the learned rules here are BY CONSTRUCTION the ones
    // `text_bpe_merge` reports; per round the corpus pays one pure map +
    // one map-side-combined pair count, and the rule is a 1-row
    // broadcast. The final count join is doc_id-keyed.
    "text_bpe_apply" -> QueryDef(
      (s, dir) => {
        import graft.functions.TextFunctions.words
        val d0 = Tables.load(s, dir, "documents")
          .select(col("doc_id"), words(col("text")).as("ws"))
        val d3 = s.read.parquet(s"${bpeArtifact(s, dir)}/d3")
        d0.select(col("doc_id"), size(col("ws")).cast(LongType)
            .as("n_tokens"))
          .join(d3.select(col("doc_id"),
            size(col("ws")).cast(LongType).as("n_after")), "doc_id")
          .select(col("doc_id"), col("n_tokens"), col("n_after"),
            (col("n_tokens") - col("n_after")).as("n_merged"))
          .orderBy(col("doc_id"))
      },
      Some {
        s"""WITH d0 AS (
           |  SELECT doc_id, ${sqlWords("text")} AS ws FROM documents),
           |${(1 to 3).map(bpeRoundCtes).mkString(",\n")}
           |SELECT a.doc_id, CAST(len(a.ws) AS BIGINT) AS n_tokens,
           |  CAST(len(b.ws) AS BIGINT) AS n_after,
           |  CAST(len(a.ws) - len(b.ws) AS BIGINT) AS n_merged
           |FROM d0 a JOIN d3 b ON a.doc_id = b.doc_id
           |ORDER BY a.doc_id""".stripMargin
      }),

    // CORPUS-DUPLICATED N-GRAM AUDIT — the memorization / boilerplate
    // surface at corpus level: 8-gram (word) fingerprints appearing in
    // ≥3 DISTINCT documents, ranked by spread. This is the report that
    // finds license headers, navigation chrome and copy-pasta that
    // per-document repetition metrics cannot see (each copy is clean in
    // isolation), and the memorization-risk audit before training
    // (n-grams shared by many documents are the ones a model parrots).
    // Scale shape: the per-doc DISTINCT fingerprints make n_docs a plain
    // COUNT — ONE map-side-combined aggregate over (hash, doc) digest
    // pairs; the corpus text never shuffles, and the output is top-20
    // regardless of corpus size.
    "corpus_duplicate_ngrams" -> QueryDef(
      (s, dir) => {
        val sh = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            explode(shingleHashes(col("text"), 8)).as("h"))
        sh.groupBy(col("h")).agg(
            count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
          .filter(col("n_docs") >= 3)
          .orderBy(col("n_docs").desc, col("h"))
          .limit(20)
          .select(col("h").as("ngram_hash"), col("n_docs"),
            col("first_doc"))
          .orderBy(col("n_docs").desc, col("ngram_hash"))
      },
      Some {
        val hs = sqlShingleHashes("text", 8)
        s"""WITH sh AS (
           |  SELECT doc_id, unnest(hs) AS h
           |  FROM (SELECT doc_id, $hs AS hs FROM documents)),
           |spread AS (
           |  SELECT h AS ngram_hash, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |    CAST(MIN(doc_id) AS BIGINT) AS first_doc
           |  FROM sh GROUP BY h HAVING COUNT(*) >= 3)
           |SELECT ngram_hash, n_docs, first_doc FROM spread
           |ORDER BY n_docs DESC, ngram_hash LIMIT 20""".stripMargin
      }),

    // TOKENIZER COMPRESSION BY LANGUAGE — the per-language fertility-style
    // report that decides whether a tokenizer serves every language
    // fairly: tokens-per-word and chars-per-token after the trained BPE
    // merges, per lang (a language the merges never fire on pays full
    // length — the cross-lingual tokenizer-equity statistic). Reads the
    // stored BPE artifact (rules trained once per corpus); the rollup is
    // one map-side-combined aggregate to |langs| rows; ratios are single
    // divisions of exact integer sums.
    "text_bpe_compression" -> QueryDef(
      (s, dir) => {
        import graft.functions.TextFunctions.words
        val d = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"),
            size(words(col("text"))).cast(LongType).as("n_words"))
        val d3 = s.read.parquet(s"${bpeArtifact(s, dir)}/d3")
          .select(col("doc_id"), size(col("ws")).cast(LongType).as("n_tok"))
        d.join(d3, "doc_id")
          .groupBy(col("lang")).agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_words")).as("n_words"),
            sum(col("n_tok")).as("n_tokens"),
            sum(col("n_chars")).as("n_chars"))
          .select(col("lang"), col("n_docs"), col("n_words"),
            col("n_tokens"),
            round(col("n_tokens").cast(DoubleType) /
              col("n_words").cast(DoubleType), 6).as("tokens_per_word"),
            round(col("n_chars").cast(DoubleType) /
              col("n_tokens").cast(DoubleType), 6).as("chars_per_token"))
          .orderBy(col("lang"))
      },
      Some {
        s"""WITH d0 AS (
           |  SELECT doc_id, ${sqlWords("text")} AS ws FROM documents),
           |${(1 to 3).map(bpeRoundCtes).mkString(",\n")},
           |j AS (
           |  SELECT d.lang, d.n_chars,
           |    len(a.ws) AS n_words, len(b.ws) AS n_tok
           |  FROM documents d
           |  JOIN d0 a ON a.doc_id = d.doc_id
           |  JOIN d3 b ON b.doc_id = d.doc_id)
           |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |  CAST(SUM(n_words) AS BIGINT) AS n_words,
           |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           |  round(CAST(SUM(n_tok) AS DOUBLE) / CAST(SUM(n_words) AS DOUBLE), 6)
           |    AS tokens_per_word,
           |  round(CAST(SUM(n_chars) AS DOUBLE) / CAST(SUM(n_tok) AS DOUBLE), 6)
           |    AS chars_per_token
           |FROM j GROUP BY lang ORDER BY lang""".stripMargin
      }),

    // KNESER-NEY BIGRAM STATISTICS: the two count tables an interpolated-KN
    // language model (the classic data-side LM pass) is built from — raw
    // bigram counts, and the RIGHT-CONTINUATION count of the second word
    // (how many DISTINCT left contexts it follows; KN's lower-order
    // distribution uses this instead of unigram frequency). Scale shape:
    // one map-side-combined count over the exploded bigram stream; the
    // continuation table derives from the (vocab²-bounded) distinct-bigram
    // table, not the corpus; top-k via TakeOrdered, never a global sort.
    "corpus_bigram_kn" -> QueryDef(
      (s, dir) => {
        // The corpus arrives as ONE input split locally, and tokenization
        // is the dominant cost — spread it with an EXPLICIT-N round-robin
        // repartition (a keyed repartition's exchange is AQE-coalesced
        // right back to ~1 partition at this byte size; an explicit count
        // is pinned), so the split+shingle map runs on every core. The
        // shingled rows are cached — the count and the continuation
        // rollup both read them, and caching stores the ARRAYS so
        // projection collapse can't inline the tokenizer into the
        // per-element lambdas (the O(words²) re-split trap).
        val np = s.conf.get("spark.sql.shuffle.partitions").toInt
        val bgs = Tables.load(s, dir, "documents").repartition(np)
          .select(words(col("text")).as("ws"))
          .select(explode(shingles(col("ws"), 2)).as("bg"))
          .cache()
        val cnt = bgs.groupBy(col("bg")).agg(count(lit(1)).as("n"))
        val cont = cnt
          .select(split(col("bg"), " ").getItem(1).as("w2"))
          .groupBy(col("w2")).agg(count(lit(1)).as("r_cont"))
        cnt.orderBy(col("n").desc, col("bg")).limit(40)
          .withColumn("w2", split(col("bg"), " ").getItem(1))
          .join(cont, "w2")
          .select(col("bg"), col("n"), col("r_cont"))
          .orderBy(col("n").desc, col("bg"))
      },
      Some(s"""WITH w AS (
             |  SELECT ${sqlWords("text")} AS ws FROM documents),
             |bg AS (
             |  SELECT unnest(${sqlShingles("ws", 2)}) AS bg FROM w),
             |cnt AS (SELECT bg, count(*) AS n FROM bg GROUP BY bg),
             |cont AS (
             |  SELECT string_split(bg, ' ')[2] AS w2, count(*) AS r_cont
             |  FROM cnt GROUP BY 1),
             |top AS (SELECT bg, n FROM cnt ORDER BY n DESC, bg LIMIT 40)
             |SELECT t.bg, CAST(t.n AS BIGINT) AS n,
             |       CAST(c.r_cont AS BIGINT) AS r_cont
             |FROM top t JOIN cont c ON string_split(t.bg, ' ')[2] = c.w2
             |ORDER BY n DESC, bg""".stripMargin)),

    // OOV-BIGRAM RATE: per-document fraction of word bigrams never seen in
    // a trusted REFERENCE sub-corpus (source 'src0' stands in for the
    // Wikipedia-grade reference) — the integer-exact stand-in for LM
    // perplexity filtering (a doc whose bigrams the reference LM has never
    // seen is exactly the doc a KN bigram model assigns its backoff mass).
    // Scale shape: the reference's DISTINCT bigram table is corpus-scale,
    // so membership is an equi-JOIN on the bigram (shuffle ∝ corpus
    // bigrams, map-side pre-shrunk by nothing — but never a broadcast of
    // an unbounded set and never per-pair array work); the per-doc rollup
    // is one map-side-combined aggregate.
    "text_oov_bigram_rate" -> QueryDef(
      (s, dir) => {
        // explicit-N round-robin spread: tokenization dominates and the
        // corpus arrives as one input split locally (see corpus_bigram_kn)
        val np = s.conf.get("spark.sql.shuffle.partitions").toInt
        val d = Tables.load(s, dir, "documents")
        val bg = d.repartition(np)
          .select(col("doc_id"), col("source"),
            explode(shingles(words(col("text")), 2)).as("bg"))
          .cache()
        val ref = bg.filter(col("source") === "src0")
          .select(col("bg")).distinct()
        val st = bg
          .join(ref.withColumn("seen", lit(1L)), Seq("bg"), "left")
          .groupBy(col("doc_id")).agg(
            count(lit(1)).as("n_bigrams"),
            sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_oov"))
        d.select(col("doc_id")).join(st, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
            coalesce(col("n_oov"), lit(0L)).as("n_oov"),
            when(coalesce(col("n_bigrams"), lit(0L)) > 0,
              round(coalesce(col("n_oov"), lit(0L)).cast(DoubleType) /
                col("n_bigrams").cast(DoubleType), 6)).as("oov_rate"))
          .orderBy(col("doc_id"))
      },
      Some {
        val ws = sqlWords("text")
        s"""WITH bg AS (
           |  SELECT doc_id, source, unnest(${sqlShingles(ws, 2)}) AS bg
           |  FROM documents),
           |ref AS (SELECT DISTINCT bg FROM bg WHERE source = 'src0'),
           |st AS (
           |  SELECT b.doc_id, count(*) AS n_bigrams,
           |    sum(CASE WHEN r.bg IS NULL THEN 1 ELSE 0 END) AS n_oov
           |  FROM bg b LEFT JOIN ref r ON b.bg = r.bg
           |  GROUP BY b.doc_id)
           |SELECT d.doc_id,
           |  CAST(coalesce(st.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           |  CAST(coalesce(st.n_oov, 0) AS BIGINT) AS n_oov,
           |  CASE WHEN coalesce(st.n_bigrams, 0) > 0 THEN
           |    round(CAST(st.n_oov AS DOUBLE) / CAST(st.n_bigrams AS DOUBLE), 6)
           |  END AS oov_rate
           |FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id
           |ORDER BY d.doc_id""".stripMargin
      }),

    // TOKENIZER-VOCAB COVERAGE: per source, the fraction of token
    // occurrences covered by the corpus-wide top-V vocabulary — the
    // go/no-go statistic run after every tokenizer/vocab build (a source
    // whose coverage is low will fragment into byte-fallback tokens).
    // Scale shape: the vocab build is one map-side-combined word count and
    // a TakeOrdered top-V (never a global sort); the V-row vocab
    // BROADCASTS back onto the exploded scan; per-source rollup is a
    // ≤sources-row aggregate. The token stream is cached — the count and
    // the coverage pass both read it, and caching stores the exploded
    // tokens so projection collapse can't re-run the tokenizer.
    "text_vocab_coverage" -> QueryDef(
      (s, dir) => {
        val np = s.conf.get("spark.sql.shuffle.partitions").toInt
        val tok = Tables.load(s, dir, "documents").repartition(np)
          .select(col("source"), explode(words(col("text"))).as("w"))
          .cache()
        val vocab = tok.groupBy(col("w")).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("w")).limit(VocabTopV)
          .select(col("w"))
        tok.join(broadcast(vocab.withColumn("in_v", lit(1L))),
            Seq("w"), "left")
          .groupBy(col("source")).agg(
            count(lit(1)).as("n_tokens"),
            sum(coalesce(col("in_v"), lit(0L))).as("n_covered"))
          .select(col("source"), col("n_tokens"), col("n_covered"),
            round(col("n_covered").cast(DoubleType) /
              col("n_tokens").cast(DoubleType), 6).as("coverage"))
          .orderBy(col("source"))
      },
      Some {
        val ws = sqlWords("text")
        s"""WITH tok AS (
           |  SELECT source, unnest($ws) AS w FROM documents),
           |vocab AS (
           |  SELECT w FROM (
           |    SELECT w, count(*) AS n FROM tok GROUP BY w
           |    ORDER BY n DESC, w LIMIT $VocabTopV)),
           |st AS (
           |  SELECT t.source, count(*) AS n_tokens,
           |    sum(CASE WHEN v.w IS NULL THEN 0 ELSE 1 END) AS n_covered
           |  FROM tok t LEFT JOIN vocab v ON t.w = v.w
           |  GROUP BY t.source)
           |SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
           |  CAST(n_covered AS BIGINT) AS n_covered,
           |  round(CAST(n_covered AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
           |    AS coverage
           |FROM st ORDER BY source""".stripMargin
      }),

    // ZIPF HISTOGRAM: the corpus frequency-spectrum audit — word types
    // bucketed by power-of-two frequency (bucket = floor(log2 n), computed
    // EXACTLY as the bit length of the count, `length(bin(n)) - 1`, so no
    // float log rides the bucket boundary). The resulting ~log2(corpus)
    // rows are what a Zipf / frequency-mass plot is drawn from, and the
    // go-to sanity check after any tokenizer change (a broken tokenizer
    // collapses the head or explodes the singleton tail). Scale shape: one
    // map-side-combined word count, then a ≤64-row rollup — the 100 TB
    // scan contributes counts only.
    "text_zipf_histogram" -> QueryDef(
      (s, dir) => {
        val np = s.conf.get("spark.sql.shuffle.partitions").toInt
        val cnt = Tables.load(s, dir, "documents").repartition(np)
          .select(explode(words(col("text"))).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("n"))
        cnt.select(col("w"), col("n"),
            (length(bin(col("n"))) - 1).cast(LongType).as("bucket"))
          .groupBy(col("bucket")).agg(
            count(lit(1)).as("n_types"),
            sum(col("n")).as("n_tokens"),
            min(col("w")).as("first_word"))
          .orderBy(col("bucket"))
      },
      Some(s"""WITH tok AS (
             |  SELECT unnest(${sqlWords("text")}) AS w FROM documents),
             |cnt AS (SELECT w, count(*) AS n FROM tok GROUP BY w)
             |SELECT CAST(length(bin(n)) - 1 AS BIGINT) AS bucket,
             |  CAST(count(*) AS BIGINT) AS n_types,
             |  CAST(sum(n) AS BIGINT) AS n_tokens,
             |  min(w) AS first_word
             |FROM cnt GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // BIGRAM-SURPRISAL FILTER: the integer-exact stand-in for LM-perplexity
    // filtering that needs NO reference sub-corpus — each bigram occurrence
    // costs floor(log2 c(w1·)) − floor(log2 c(w1w2)) bits (the bit-length
    // difference of two exact counts, i.e. ⌈−log2 p̂(w2|w1)⌉ up to rounding),
    // and a document is kept while its mean surprisal stays under 4 bits.
    // Low-probability word sequences (garbled text, wrong-language spans)
    // cost many bits exactly as they would under a real bigram LM, but the
    // decision stays bit-reproducible. Scale shape: both count tables
    // derive from ONE cached bigram explode (map-side-combined); membership
    // is equi-JOINs on the bigram / first word (vocab-scale sides, never
    // broadcast, never per-pair array work); the keep decision is integer
    // cross-multiplication in a per-doc rollup.
    "text_surprisal_filter" -> QueryDef(
      (s, dir) => {
        val np = s.conf.get("spark.sql.shuffle.partitions").toInt
        val d = Tables.load(s, dir, "documents")
        val bg = d.repartition(np)
          .select(col("doc_id"),
            explode(shingles(words(col("text")), 2)).as("bg"))
          .cache()
        val bgc = bg.groupBy(col("bg")).agg(count(lit(1)).as("n_bg"))
        val w1c = bgc
          .withColumn("w1", split(col("bg"), " ").getItem(0))
          .groupBy(col("w1")).agg(sum(col("n_bg")).as("n_w1"))
        val st = bg.join(bgc, "bg")
          .withColumn("w1", split(col("bg"), " ").getItem(0))
          .join(w1c, "w1")
          .withColumn("bits",
            (length(bin(col("n_w1"))) - length(bin(col("n_bg"))))
              .cast(LongType))
          .groupBy(col("doc_id")).agg(
            count(lit(1)).as("n_bigrams"),
            sum(col("bits")).as("sum_bits"))
        d.select(col("doc_id")).join(st, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
            coalesce(col("sum_bits"), lit(0L)).as("sum_bits"),
            when(coalesce(col("n_bigrams"), lit(0L)) > 0,
              round(col("sum_bits").cast(DoubleType) /
                col("n_bigrams").cast(DoubleType), 6)).as("avg_bits"),
            (coalesce(col("n_bigrams"), lit(0L)) === 0L ||
              coalesce(col("sum_bits"), lit(0L)) <=
                coalesce(col("n_bigrams"), lit(0L)) * 4L).as("keep"))
          .orderBy(col("doc_id"))
      },
      Some {
        val ws = sqlWords("text")
        s"""WITH bg AS (
           |  SELECT doc_id, unnest(${sqlShingles(ws, 2)}) AS bg
           |  FROM documents),
           |bgc AS (SELECT bg, count(*) AS n_bg FROM bg GROUP BY bg),
           |w1c AS (
           |  SELECT string_split(bg, ' ')[1] AS w1,
           |         CAST(sum(n_bg) AS BIGINT) AS n_w1
           |  FROM bgc GROUP BY 1),
           |st AS (
           |  SELECT b.doc_id, count(*) AS n_bigrams,
           |    sum(length(bin(w.n_w1)) - length(bin(c.n_bg))) AS sum_bits
           |  FROM bg b JOIN bgc c ON b.bg = c.bg
           |  JOIN w1c w ON string_split(b.bg, ' ')[1] = w.w1
           |  GROUP BY b.doc_id)
           |SELECT d.doc_id,
           |  CAST(coalesce(st.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           |  CAST(coalesce(st.sum_bits, 0) AS BIGINT) AS sum_bits,
           |  CASE WHEN coalesce(st.n_bigrams, 0) > 0 THEN
           |    round(CAST(st.sum_bits AS DOUBLE)
           |          / CAST(st.n_bigrams AS DOUBLE), 6) END AS avg_bits,
           |  (coalesce(st.n_bigrams, 0) = 0 OR
           |   coalesce(st.sum_bits, 0) <= coalesce(st.n_bigrams, 0) * 4)
           |    AS keep
           |FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id
           |ORDER BY d.doc_id""".stripMargin
      }),

    // HEAPS'-LAW GROWTH CURVE: vocabulary size as a function of corpus
    // position — per ingest decile (by doc_id), the tokens it contributes,
    // the word types FIRST seen in it, and the cumulative vocabulary. The
    // flattening of cum_types against n_tokens is the Heaps exponent a
    // crawl pipeline watches to decide whether more data still buys new
    // vocabulary. Scale shape: first-occurrence is a map-side-combined
    // min(doc_id) per word; the decile bucket is integer arithmetic
    // against a broadcast 1-row corpus bound; the cumulative window runs
    // over TEN rows (never the corpus).
    "corpus_heaps_curve" -> QueryDef(
      (s, dir) => {
        val np = s.conf.get("spark.sql.shuffle.partitions").toInt
        val d = Tables.load(s, dir, "documents")
        val mx = d.agg((max(col("doc_id")) + 1L).as("n_docs"))
        val tok = d.repartition(np)
          .select(col("doc_id"), explode(words(col("text"))).as("w"))
          .cache()
        val decTok = tok.crossJoin(broadcast(mx))
          .select(expr("(doc_id * 10) div n_docs").as("decile"))
          .groupBy(col("decile")).agg(count(lit(1)).as("n_tokens"))
        val decNew = tok.groupBy(col("w"))
          .agg(min(col("doc_id")).as("first_doc"))
          .crossJoin(broadcast(mx))
          .select(expr("(first_doc * 10) div n_docs").as("decile"))
          .groupBy(col("decile")).agg(count(lit(1)).as("new_types"))
        val wCum = Window.orderBy(col("decile"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        decTok.join(decNew, Seq("decile"), "left")
          .select(col("decile"), col("n_tokens"),
            coalesce(col("new_types"), lit(0L)).as("new_types"))
          .withColumn("cum_types", sum(col("new_types")).over(wCum))
          .orderBy(col("decile"))
      },
      Some {
        val ws = sqlWords("text")
        s"""WITH mx AS (
           |  SELECT max(doc_id) + 1 AS n_docs FROM documents),
           |tok AS (
           |  SELECT doc_id, unnest($ws) AS w FROM documents),
           |dtok AS (
           |  SELECT (doc_id * 10) // n_docs AS decile,
           |         count(*) AS n_tokens
           |  FROM tok, mx GROUP BY 1),
           |dnew AS (
           |  SELECT (first_doc * 10) // n_docs AS decile,
           |         count(*) AS new_types
           |  FROM (SELECT w, min(doc_id) AS first_doc FROM tok GROUP BY w),
           |       mx
           |  GROUP BY 1)
           |SELECT t.decile, CAST(t.n_tokens AS BIGINT) AS n_tokens,
           |  CAST(coalesce(n.new_types, 0) AS BIGINT) AS new_types,
           |  CAST(SUM(coalesce(n.new_types, 0)) OVER (
           |    ORDER BY t.decile ROWS BETWEEN UNBOUNDED PRECEDING
           |    AND CURRENT ROW) AS BIGINT) AS cum_types
           |FROM dtok t LEFT JOIN dnew n ON t.decile = n.decile
           |ORDER BY t.decile""".stripMargin
      }),

    // PMI COLLOCATIONS: the top word pairs by pointwise mutual information
    // — the association-mining pass behind phrase/tokenizer-merge candidate
    // lists and multi-word-expression detection. Reported as LIFT (the PMI
    // ratio before the log — same ranking, no transcendental):
    // lift = p(w1w2)/(p(w1)·p(w2)) = (c12·N·N)/(B·c1·c2) with N = total
    // unigram occurrences, B = total bigram occurrences. All five inputs
    // are exact integers; the score is one double expression evaluated in
    // the SAME association order on both engines (products and a single
    // division are deterministic IEEE), rounded to 6 dp with a lexical
    // tie-break. A count floor (c12 ≥ 8) applies the standard PMI
    // correction for its low-frequency bias. Scale shape: unigram and
    // bigram counts are two map-side-combined aggregates over ONE cached
    // token explode; the candidate set after the floor is vocab²-bounded
    // (tiny), joined against the |vocab|-row unigram table — the corpus
    // never appears in the scoring join. Top-k via TakeOrdered, no global
    // sort.
    "corpus_pmi_topk" -> QueryDef(
      // pinned partitions + an eager cut of the ≤top-k result INSIDE the
      // pin: the tokenize pass, both explode-aggregates and the two count
      // joins otherwise run lazily at the session partition count when
      // the caller first acts — the same fixed-cost device as MMR/PRF
      (s, dir) => graft.QueryUtil.withShufflePartitions(s, 8) {
        val np = s.conf.get("spark.sql.shuffle.partitions").toInt
        val d = Tables.load(s, dir, "documents").repartition(np)
          .select(col("doc_id"), words(col("text")).as("ws"))
          .cache()
        val uni = d.select(explode(col("ws")).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("c"))
        val bg = d.select(explode(shingles(col("ws"), 2)).as("bg"))
          .groupBy(col("bg")).agg(count(lit(1)).as("c12"))
        val totals = uni.agg(sum(col("c")).as("n_u"))
          .crossJoin(bg.agg(sum(col("c12")).as("n_b")))
        val cand = bg.filter(col("c12") >= PmiMinCount)
          .withColumn("w1", split(col("bg"), " ").getItem(0))
          .withColumn("w2", split(col("bg"), " ").getItem(1))
        val top = cand
          .join(uni.select(col("w").as("w1"), col("c").as("c1")), "w1")
          .join(uni.select(col("w").as("w2"), col("c").as("c2")), "w2")
          .crossJoin(broadcast(totals))
          .select(col("bg").as("bigram"), col("c12"), col("c1"), col("c2"),
            round((col("c12").cast(DoubleType) * col("n_u").cast(DoubleType) *
                col("n_u").cast(DoubleType)) /
              (col("n_b").cast(DoubleType) * col("c1").cast(DoubleType) *
                col("c2").cast(DoubleType)), 6).as("lift"))
          .orderBy(col("lift").desc, col("bigram"))
          .limit(PmiTopK)
        graft.operators.IterBarrier.cut(top, 1, reliableEvery = 0)
          .orderBy(col("lift").desc, col("bigram"))
      },
      Some {
        val ws = sqlWords("text")
        s"""WITH docs AS (SELECT doc_id, $ws AS ws FROM documents),
           |uni AS (
           |  SELECT w, count(*) AS c FROM (
           |    SELECT unnest(ws) AS w FROM docs) GROUP BY w),
           |bg AS (
           |  SELECT bg, count(*) AS c12 FROM (
           |    SELECT unnest(${sqlShingles("ws", 2)}) AS bg FROM docs)
           |  GROUP BY bg),
           |tot AS (
           |  SELECT (SELECT CAST(sum(c) AS BIGINT) FROM uni) AS n_u,
           |         (SELECT CAST(sum(c12) AS BIGINT) FROM bg) AS n_b)
           |SELECT bg AS bigram, CAST(c12 AS BIGINT) AS c12,
           |  CAST(c1 AS BIGINT) AS c1, CAST(c2 AS BIGINT) AS c2, lift
           |FROM (
           |  SELECT bg.bg, bg.c12, u1.c AS c1, u2.c AS c2,
           |    round((CAST(bg.c12 AS DOUBLE) * CAST(t.n_u AS DOUBLE) *
           |        CAST(t.n_u AS DOUBLE)) /
           |      (CAST(t.n_b AS DOUBLE) * CAST(u1.c AS DOUBLE) *
           |        CAST(u2.c AS DOUBLE)), 6) AS lift
           |  FROM bg
           |  JOIN uni u1 ON u1.w = string_split(bg.bg, ' ')[1]
           |  JOIN uni u2 ON u2.w = string_split(bg.bg, ' ')[2]
           |  CROSS JOIN tot t
           |  WHERE bg.c12 >= $PmiMinCount)
           |ORDER BY lift DESC, bigram LIMIT $PmiTopK""".stripMargin
      }),

    // SOURCE-SIMILARITY MATRIX — pairwise cosine of the per-source word
    // COUNT vectors: the data-mixing read for "which sources are
    // textually alike" (near-duplicate feeds get merged or downweighted
    // before mixture design; it also sanity-checks source labels after
    // an ingest refactor). Exact signed squared cosine in ppm (the
    // centroid-similarity device — no sqrt, DECIMAL(38,0) products, one
    // integral division). Scale shape: ONE tokenize pass collapses to
    // the (source, word) count table (map-side-combined); the pair stage
    // is a word-keyed self-join whose per-word fan-out is bounded by
    // |sources|² — posting-shaped, never corpus²; norms are a
    // |sources|-row aggregate joined back.
    "corpus_source_similarity" -> QueryDef(
      (s, dir) => {
        val dec = (c: org.apache.spark.sql.Column) =>
          c.cast(DecimalType(38, 0))
        val cnt = Tables.load(s, dir, "documents")
          .select(col("source"), explode(words(col("text"))).as("w"))
          .filter(length(col("w")) > 0)
          .groupBy(col("source"), col("w"))
          .agg(count(lit(1)).as("c"))
          .cache()
        val norms = cnt.groupBy(col("source"))
          .agg(sum(dec(col("c")) * dec(col("c"))).as("n2"))
        val dots = Pairs.withinKey(cnt, Seq("w"), "source")
          .groupBy(col("a.source").as("src_a"),
            col("b.source").as("src_b"))
          .agg(sum(dec(col("a.c")) * dec(col("b.c"))).as("d"))
        dots
          .join(norms.select(col("source").as("src_a"),
            col("n2").as("naa")), "src_a")
          .join(norms.select(col("source").as("src_b"),
            col("n2").as("nbb")), "src_b")
          .select(col("src_a"), col("src_b"),
            (col("d") * col("d") * dec(lit(1000000L))).as("numer"),
            (col("naa") * col("nbb")).as("denom"))
          .selectExpr("src_a", "src_b",
            "CAST(numer div denom AS BIGINT) AS cos2_ppm")
          .orderBy(col("src_a"), col("src_b"))
      },
      Some(s"""WITH cnt AS MATERIALIZED (
             |  SELECT source, w, count(*) AS c FROM (
             |    SELECT source, unnest(${sqlWords("text")}) AS w
             |    FROM documents)
             |  WHERE len(w) > 0 GROUP BY 1, 2),
             |norms AS (
             |  SELECT source,
             |    SUM(CAST(c AS HUGEINT) * c) AS n2
             |  FROM cnt GROUP BY source),
             |dots AS (
             |  SELECT a.source AS src_a, b.source AS src_b,
             |    SUM(CAST(a.c AS HUGEINT) * b.c) AS d
             |  FROM cnt a JOIN cnt b
             |    ON a.w = b.w AND a.source < b.source
             |  GROUP BY 1, 2)
             |SELECT src_a, src_b,
             |  CAST((d * d * 1000000) // (na.n2 * nb.n2) AS BIGINT)
             |    AS cos2_ppm
             |FROM dots
             |JOIN norms na ON na.source = dots.src_a
             |JOIN norms nb ON nb.source = dots.src_b
             |ORDER BY src_a, src_b""".stripMargin)),

    // TOTAL-VARIATION DRIFT — per source, the exact TV distance between
    // the source's unigram distribution and the whole corpus's: the
    // sharpest of the drift triptych (KS on score CDFs, IDF drift on
    // rank shifts, TV on raw distribution mass — TV bounds every
    // event-probability difference, so tvd_ppm = 120000 reads "an LM
    // sees up to 12% different token mass from this source"). The
    // absent-term mass needs NO source×vocab cross join:
    // Σ_{w∉src} c_w·ts = ts·(tot − Σ_{w∈src} c_w), so the whole metric
    // is one posting-shaped join (per-source counts against the corpus
    // count table, only the source's OWN vocabulary fans in) plus two
    // scalar aggregates. Cross-multiplied integer form |c_sw·tot −
    // c_w·ts| through DECIMAL(38,0), one integral division at the end —
    // exact at any corpus size.
    "corpus_tv_drift" -> QueryDef(
      (s, dir) => {
        val dec = (c: org.apache.spark.sql.Column) =>
          c.cast(DecimalType(38, 0))
        val cnt = Tables.load(s, dir, "documents")
          .select(col("source"), explode(words(col("text"))).as("w"))
          .filter(length(col("w")) > 0)
          .groupBy(col("source"), col("w"))
          .agg(count(lit(1)).as("c"))
          .cache()
        val ct = cnt.groupBy(col("w")).agg(sum(col("c")).as("cw"))
        val ts = cnt.groupBy(col("source")).agg(sum(col("c")).as("ts"))
        val tot = cnt.agg(sum(col("c")).as("tot"))
        cnt.join(ct, "w")
          .join(ts, "source")
          .crossJoin(broadcast(tot))
          .groupBy(col("source"))
          .agg(
            max(col("ts")).as("n_tokens"),
            count(lit(1)).as("vocab_size"),
            sum(abs(dec(col("c")) * dec(col("tot")) -
              dec(col("cw")) * dec(col("ts")))).as("a"),
            sum(dec(col("cw"))).as("pres"),
            max(dec(col("tot"))).as("totd"))
          .select(col("source"), col("n_tokens"), col("vocab_size"),
            (col("a") + dec(col("n_tokens")) * (col("totd") - col("pres")))
              .as("numer"),
            (dec(col("n_tokens")) * col("totd")).as("denom"))
          .selectExpr("source", "n_tokens", "vocab_size",
            "CAST((numer * 500000) div denom AS BIGINT) AS tvd_ppm")
          .orderBy(col("source"))
      },
      Some(s"""WITH cnt AS MATERIALIZED (
             |  SELECT source, w, count(*) AS c FROM (
             |    SELECT source, unnest(${sqlWords("text")}) AS w
             |    FROM documents)
             |  WHERE len(w) > 0 GROUP BY 1, 2),
             |ct AS (SELECT w, CAST(SUM(c) AS BIGINT) AS cw
             |       FROM cnt GROUP BY w),
             |ts AS (SELECT source, CAST(SUM(c) AS BIGINT) AS ts
             |       FROM cnt GROUP BY source),
             |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS tot FROM cnt)
             |SELECT source, n_tokens, vocab_size,
             |  CAST((numer * 500000) // denom AS BIGINT) AS tvd_ppm
             |FROM (
             |  SELECT cnt.source,
             |    max(ts.ts) AS n_tokens,
             |    CAST(count(*) AS BIGINT) AS vocab_size,
             |    SUM(abs(CAST(cnt.c AS HUGEINT) * tot.tot -
             |      CAST(ct.cw AS HUGEINT) * ts.ts))
             |      + CAST(max(ts.ts) AS HUGEINT) *
             |        (max(tot.tot) - SUM(CAST(ct.cw AS HUGEINT))) AS numer,
             |    CAST(max(ts.ts) AS HUGEINT) * max(tot.tot) AS denom
             |  FROM cnt JOIN ct USING (w) JOIN ts USING (source), tot
             |  GROUP BY cnt.source)
             |ORDER BY source""".stripMargin))
  )
}
