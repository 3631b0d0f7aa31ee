package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Data-governance operators — the audit/stewardship pass a training-data
 * pipeline runs before (and between) corpus releases: entity resolution
 * over dirty records, privacy risk audits, and dataset-version diffing.
 *
 * Scale discipline shared by all three: the corpus-sized side of every
 * query contributes exactly one hash-partitioned equi-join or one
 * map-side-combined aggregate; candidate generation is always BLOCKED
 * (bounded cells), never an all-pairs product, and per-entity resolution
 * windows partition by the entity key over block-bounded candidate sets.
 */
object GovernanceQueries {

  import graft.functions.TextFunctions.md5Long

  /** The blocked ER candidate stage shared by the match report and the
    * entity clustering: deterministic dirty copies of every customer name
    * (one md5-chosen character substituted with 'x'), blocked on the
    * last-4 suffix, scored by Levenshtein <= 1. Returns
    * (d_key, c_custkey, lev). */
  private def erCandidates(s: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) = {
    val c = Tables.load(s, dir, "customer")
    val p0 = (md5Long(concat(lit("er:"), col("c_custkey").cast(StringType)))
      % length(col("c_name"))).cast(IntegerType)
    val dirty = c.withColumn("p0", p0)
      .selectExpr("c_custkey AS d_key",
        "concat(substring(c_name, 1, p0), 'x', substring(c_name, p0+2)) AS name_d")
      .withColumn("blk", expr("right(name_d, 4)"))
    val clean = c.selectExpr("c_custkey", "c_name")
      .withColumn("blk", expr("right(c_name, 4)"))
    val cand = dirty.join(clean, "blk")
      .withColumn("lev", levenshtein(col("name_d"), col("c_name")))
      .filter(col("lev") <= 1)
      .select(col("d_key"), col("c_custkey"), col("lev"))
    (dirty, cand)
  }

  /** ER component assignments (id, component) over the parity-encoded
    * match-edge graph: [[erCandidates]] edges closed by star-contraction
    * CC. A write-once artifact, instead of re-paying ~5 eager
    * localCheckpoint rounds of job fixed cost on every execution. This is
    * also the production shape — entity clusters are resolved once per
    * registry snapshot and every stewardship consumer reads the
    * assignment table. Bump the version when the candidate generation or
    * the closure changes shape. */
  private def erClusters(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val out = graft.Artifacts.once("er_clusters", version = 1, dir) { stage =>
      val (_, cand) = erCandidates(s, dir)
      val edges = cand.selectExpr("c_custkey * 2 AS u",
        "d_key * 2 + 1 AS v")
      // the closure rounds are EAGER (per-round localCheckpoint), so the
      // partition pin is honored; the match-edge set is customers-sized,
      // and 32-task exchanges over it are pure scheduling fixed cost.
      // At cluster scale the caller sizes partitions to edge volume.
      val comp = graft.QueryUtil.withShufflePartitions(s, 4) {
        graft.operators.ConnectedComponents.components(edges, "u", "v")
      }
      graft.QueryUtil.writeArtifact(comp, "id", s"$stage/clusters")
    }
    s.read.parquet(s"$out/clusters")
  }

  /** Oracle mirror of [[erCandidates]] as CTEs `dirty` and `cand`. */
  private val erCandidatesSql: String = {
    val md5l = "CAST(concat('0x', substr(md5(concat('er:', " +
      "CAST(c_custkey AS VARCHAR))), 1, 15)) AS BIGINT)"
    s"""dirty AS (
       |  SELECT c_custkey AS d_key,
       |    concat(substr(c_name, 1, p0), 'x', substr(c_name, p0+2))
       |      AS name_d
       |  FROM (SELECT c_custkey, c_name,
       |          CAST($md5l % length(c_name) AS INT) AS p0
       |        FROM customer)),
       |cand AS (
       |  SELECT d.d_key, c.c_custkey,
       |    levenshtein(d.name_d, c.c_name) AS lev
       |  FROM dirty d JOIN customer c
       |    ON right(d.name_d, 4) = right(c.c_name, 4)
       |  WHERE levenshtein(d.name_d, c.c_name) <= 1)""".stripMargin
  }

  def defs: Map[String, QueryDef] = Map(

    // ENTITY RESOLUTION (record linkage): block -> candidate -> score ->
    // resolve. A deterministic "dirty" copy of every customer name (one
    // md5-chosen character substituted with 'x') is linked back against
    // the clean registry: blocking on the name's last-4 suffix bounds
    // candidates to one cell, Levenshtein <= 1 scores the survivors, and
    // per-dirty-record resolution takes the (distance, key)-min candidate.
    // The report is the linkage quality sheet: match rate, precision of
    // the resolved assignment, and the blocking-recall loss (corruptions
    // that hit the blocking suffix never meet their true record — the
    // classic blocked-ER recall tradeoff, quantified not hidden).
    // 100 TB shape: ONE equi-join on the block key (both sides hash
    // partition); cells are suffix-cardinality-bounded so no block
    // explodes; the resolve window partitions by dirty key over <=cell
    // candidates. An unblocked name x name product never exists.
    "er_blocked_match" -> QueryDef(
      (s, dir) => {
        val (dirty, cand) = erCandidates(s, dir)
        val rk = Window.partitionBy(col("d_key"))
          .orderBy(col("lev"), col("c_custkey"))
        val resolved = cand.withColumn("rk", row_number().over(rk))
          .filter(col("rk") === 1)
          .select(col("d_key"), col("c_custkey"), col("lev"))
        dirty.join(resolved, Seq("d_key"), "left")
          .agg(
            count(lit(1)).as("n_dirty"),
            sum(when(col("c_custkey").isNotNull, 1L).otherwise(0L))
              .as("n_matched"),
            sum(when(col("c_custkey") === col("d_key"), 1L).otherwise(0L))
              .as("n_correct"),
            sum(when(col("c_custkey").isNotNull &&
              col("c_custkey") =!= col("d_key"), 1L).otherwise(0L))
              .as("n_wrong"))
          .selectExpr("n_dirty", "n_matched", "n_correct", "n_wrong",
            "(n_correct * 1000000) div n_dirty AS recall_ppm",
            // greatest(...,1): an empty match set must yield 0, not a
            // NULL-vs-error divergence between the engines
            "(n_correct * 1000000) div greatest(n_matched, 1)" +
              " AS precision_ppm")
      },
      Some {
        s"""WITH $erCandidatesSql,
           |resolved AS (
           |  SELECT d_key, c_custkey, lev FROM (
           |    SELECT d_key, c_custkey, lev,
           |      ROW_NUMBER() OVER (PARTITION BY d_key
           |        ORDER BY lev, c_custkey) AS rk
           |    FROM cand) WHERE rk = 1),
           |j AS (SELECT d.d_key, r.c_custkey FROM dirty d
           |      LEFT JOIN resolved r USING (d_key))
           |SELECT n_dirty, n_matched, n_correct, n_wrong,
           |  (n_correct * 1000000) // n_dirty AS recall_ppm,
           |  (n_correct * 1000000) // greatest(n_matched, 1) AS precision_ppm
           |FROM (
           |  SELECT count(*) AS n_dirty,
           |    CAST(SUM(CASE WHEN c_custkey IS NOT NULL THEN 1 ELSE 0 END)
           |      AS BIGINT) AS n_matched,
           |    CAST(SUM(CASE WHEN c_custkey = d_key THEN 1 ELSE 0 END)
           |      AS BIGINT) AS n_correct,
           |    CAST(SUM(CASE WHEN c_custkey IS NOT NULL AND c_custkey <> d_key
           |      THEN 1 ELSE 0 END) AS BIGINT) AS n_wrong
           |  FROM j)""".stripMargin
      }),

    // K-ANONYMITY AUDIT — the privacy gate on a release: every
    // quasi-identifier cell (nation, market segment, $1000 account-balance
    // band) holding fewer than k=5 records is a re-identification risk and
    // is listed with its exposure. Banding is exact integer arithmetic on
    // cents (no float boundary: the same DECIMAL(18,2) money contract as
    // the TPC-H suite). 100 TB shape: ONE map-side-combined aggregate over
    // the scan into a cells-bounded table (|nations| x |segments| x
    // |bands| rows); the violation filter runs on the cell table. The
    // record side is never sorted or joined.
    // GENERALIZATION LADDER — the policy operator ABOVE k-anonymity:
    // which generalization level first makes the table safe to release?
    // Levels coarsen the QI set stepwise (L0 = the k-anonymity QI
    // below; L1 widens the balance band $1k → $5k; L2 generalizes
    // nation → region; L3 drops the segment, band → $10k), and each
    // level reports its cell count, smallest cell and the row mass that
    // would need suppression at k = 5. Scale shape: ONE corpus scan
    // builds the L0 cell cube; every coarser level re-aggregates the
    // CELL table (cells ≤ nations × segments × bands, never rows), the
    // nation→region map broadcasts. Bands live in a +1000-shifted
    // non-negative space so integer division agrees across engines
    // (Spark `div` truncates toward zero, DuckDB `//` floors).
    "privacy_generalization_ladder" -> QueryDef(
      (s, dir) => {
        val c = Tables.load(s, dir, "customer")
        val cents = (graft.MoneyMath.dec(col("c_acctbal")) * 100)
          .cast(LongType)
        val cells = c.withColumn("cents", cents)
          .selectExpr("c_nationkey", "c_mktsegment",
            "(cents + 100000000) div 100000 AS b1")
          .groupBy(col("c_nationkey"), col("c_mktsegment"), col("b1"))
          .agg(count(lit(1)).as("cnt"))
          .cache()
        val nat = Tables.load(s, dir, "nation")
          .select(col("n_nationkey").as("c_nationkey"),
            col("n_regionkey"))
        def report(g: org.apache.spark.sql.DataFrame,
            lvl: Int): org.apache.spark.sql.DataFrame = g
          .agg(count(lit(1)).as("n_cells"), min(col("cnt")).as("min_cell"),
            sum(when(col("cnt") < 5, col("cnt")).otherwise(0L))
              .as("n_suppressed"),
            sum(col("cnt")).as("n_rows"))
          .select(lit(lvl.toLong).as("lvl"), col("n_cells"),
            col("min_cell"), col("n_suppressed"),
            expr("n_suppressed * 1000000 div n_rows").as("suppress_ppm"))
        val l0 = report(cells.groupBy(col("c_nationkey"),
          col("c_mktsegment"), col("b1")).agg(sum(col("cnt")).as("cnt")), 0)
        val l1 = report(cells.groupBy(col("c_nationkey"),
            col("c_mktsegment"), expr("b1 div 5").as("b5"))
          .agg(sum(col("cnt")).as("cnt")), 1)
        val withReg = cells.join(broadcast(nat), "c_nationkey")
        val l2 = report(withReg.groupBy(col("n_regionkey"),
            col("c_mktsegment"), expr("b1 div 5").as("b5"))
          .agg(sum(col("cnt")).as("cnt")), 2)
        val l3 = report(withReg.groupBy(col("n_regionkey"),
            expr("b1 div 10").as("b10"))
          .agg(sum(col("cnt")).as("cnt")), 3)
        l0.unionByName(l1).unionByName(l2).unionByName(l3)
          .orderBy(col("lvl"))
      },
      Some("""WITH cells AS (
             |  SELECT c_nationkey, c_mktsegment,
             |    (CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
             |      + 100000000) // 100000 AS b1,
             |    count(*) AS cnt
             |  FROM customer GROUP BY 1, 2, 3),
             |l0 AS (
             |  SELECT 0 AS lvl, cnt FROM (
             |    SELECT SUM(cnt) AS cnt FROM cells
             |    GROUP BY c_nationkey, c_mktsegment, b1)),
             |l1 AS (
             |  SELECT 1 AS lvl, cnt FROM (
             |    SELECT SUM(cnt) AS cnt FROM cells
             |    GROUP BY c_nationkey, c_mktsegment, b1 // 5)),
             |l2 AS (
             |  SELECT 2 AS lvl, cnt FROM (
             |    SELECT SUM(cnt) AS cnt FROM cells c
             |    JOIN nation n ON n.n_nationkey = c.c_nationkey
             |    GROUP BY n.n_regionkey, c.c_mktsegment, c.b1 // 5)),
             |l3 AS (
             |  SELECT 3 AS lvl, cnt FROM (
             |    SELECT SUM(cnt) AS cnt FROM cells c
             |    JOIN nation n ON n.n_nationkey = c.c_nationkey
             |    GROUP BY n.n_regionkey, c.b1 // 10)),
             |u AS (
             |  SELECT * FROM l0 UNION ALL SELECT * FROM l1
             |  UNION ALL SELECT * FROM l2 UNION ALL SELECT * FROM l3)
             |SELECT CAST(lvl AS BIGINT) AS lvl,
             |  CAST(count(*) AS BIGINT) AS n_cells,
             |  CAST(min(cnt) AS BIGINT) AS min_cell,
             |  CAST(SUM(CASE WHEN cnt < 5 THEN cnt ELSE 0 END) AS BIGINT)
             |    AS n_suppressed,
             |  CAST(SUM(CASE WHEN cnt < 5 THEN cnt ELSE 0 END) * 1000000
             |    // SUM(cnt) AS BIGINT) AS suppress_ppm
             |FROM u GROUP BY lvl ORDER BY lvl""".stripMargin)),

    "privacy_k_anonymity" -> QueryDef(
      (s, dir) => {
        val c = Tables.load(s, dir, "customer")
        val cents = (graft.MoneyMath.dec(col("c_acctbal")) * 100)
          .cast(LongType)
        c.withColumn("bal_band", cents)
          .selectExpr("c_nationkey", "c_mktsegment",
            // floorDiv semantics for negative balances: SQL `div` truncates
            // toward zero, so shift cents up by 10^6 (far above the $-999
            // floor) before dividing — band edges stay at exact $1000s
            "((bal_band + 100000000) div 100000) - 1000 AS bal_band")
          .groupBy(col("c_nationkey"), col("c_mktsegment"), col("bal_band"))
          .agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") < 5)
          .orderBy(col("c_nationkey"), col("c_mktsegment"), col("bal_band"))
      },
      Some("""WITH cells AS (
             |  SELECT c_nationkey, c_mktsegment,
             |    ((CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
             |      + 100000000) // 100000) - 1000 AS bal_band,
             |    count(*) AS cnt
             |  FROM customer
             |  GROUP BY 1, 2, 3)
             |SELECT c_nationkey, c_mktsegment, bal_band, cnt
             |FROM cells WHERE cnt < 5
             |ORDER BY c_nationkey, c_mktsegment, bal_band""".stripMargin)),

    // DATASET-VERSION DIFF — the release-to-release changelog of a corpus:
    // v2 is derived deterministically from v1 (every 7th doc removed,
    // every remaining 5th revised, every 11th re-added under a new id),
    // and the diff classifies every id as added / removed / changed /
    // unchanged by DIGEST comparison, rolled up per source with the net
    // character delta. This is the audit a data team publishes with a
    // corpus release ("what moved since v1?"). 100 TB shape: both
    // versions meet in ONE full-outer hash join on the id; content
    // comparison is digest-vs-digest (16 bytes rides the shuffle, never
    // the text); the report is a map-side-combined |sources x 4|-row
    // rollup.
    "corpus_snapshot_diff" -> QueryDef(
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val v1 = d.selectExpr("doc_id", "source", "md5(text) AS dig",
          "length(text) AS len")
        val surviving = d.filter(col("doc_id") % 7 =!= 0)
        val revised = surviving.selectExpr("doc_id", "source",
          "CASE WHEN doc_id % 5 = 0 THEN concat(text, ' [rev2]') ELSE text END AS text")
        val added = d.filter(col("doc_id") % 11 === 0)
          .selectExpr("doc_id + 1000000000 AS doc_id", "source",
            "concat(text, ' [new]') AS text")
        val v2 = revised.union(added)
          .selectExpr("doc_id", "source", "md5(text) AS dig",
            "length(text) AS len")
        v1.select(col("doc_id"), col("source").as("src1"),
            col("dig").as("dig1"), col("len").as("len1"))
          .join(v2.select(col("doc_id"), col("source").as("src2"),
            col("dig").as("dig2"), col("len").as("len2")),
            Seq("doc_id"), "full_outer")
          .selectExpr("coalesce(src2, src1) AS source",
            """CASE WHEN dig1 IS NULL THEN 'added'
              |     WHEN dig2 IS NULL THEN 'removed'
              |     WHEN dig1 <> dig2 THEN 'changed'
              |     ELSE 'unchanged' END AS status""".stripMargin,
            "coalesce(len2, 0) - coalesce(len1, 0) AS delta")
          .groupBy(col("source"), col("status"))
          .agg(count(lit(1)).as("n"),
            sum(col("delta")).cast(LongType).as("chars_delta"))
          .orderBy(col("source"), col("status"))
      },
      Some("""WITH v1 AS (
             |  SELECT doc_id, source, md5(text) AS dig,
             |    CAST(length(text) AS BIGINT) AS len
             |  FROM documents),
             |v2 AS (
             |  SELECT doc_id, source, md5(
             |      CASE WHEN doc_id % 5 = 0 THEN concat(text, ' [rev2]')
             |           ELSE text END) AS dig,
             |    CAST(length(CASE WHEN doc_id % 5 = 0
             |      THEN concat(text, ' [rev2]') ELSE text END) AS BIGINT)
             |      AS len
             |  FROM documents WHERE doc_id % 7 <> 0
             |  UNION ALL
             |  SELECT doc_id + 1000000000 AS doc_id, source,
             |    md5(concat(text, ' [new]')) AS dig,
             |    CAST(length(concat(text, ' [new]')) AS BIGINT) AS len
             |  FROM documents WHERE doc_id % 11 = 0),
             |diff AS (
             |  SELECT coalesce(v2.source, v1.source) AS source,
             |    CASE WHEN v1.dig IS NULL THEN 'added'
             |         WHEN v2.dig IS NULL THEN 'removed'
             |         WHEN v1.dig <> v2.dig THEN 'changed'
             |         ELSE 'unchanged' END AS status,
             |    coalesce(v2.len, 0) - coalesce(v1.len, 0) AS delta
             |  FROM v1 FULL OUTER JOIN v2 USING (doc_id))
             |SELECT source, status, count(*) AS n,
             |  CAST(SUM(delta) AS BIGINT) AS chars_delta
             |FROM diff GROUP BY source, status
             |ORDER BY source, status""".stripMargin)),

    // L-DIVERSITY AUDIT — k-anonymity's stronger sibling: a
    // quasi-identifier cell (nation, market segment) can hold plenty of
    // records and STILL leak if they all share one sensitive value.
    // Sensitive attribute = the $1000 balance band; the full cell sheet
    // is emitted (size, distinct-band diversity, violation flag at l=3)
    // so the auditor sees the margin, not just the breaches. Same 100 TB
    // shape as the k-audit: one map-side-combined aggregate (the
    // distinct-count shuffles (cell, band) keys, never records) into a
    // cells-bounded table.
    "privacy_l_diversity" -> QueryDef(
      (s, dir) => {
        val c = Tables.load(s, dir, "customer")
        val cents = (graft.MoneyMath.dec(col("c_acctbal")) * 100)
          .cast(LongType)
        c.withColumn("bal_band", cents)
          .selectExpr("c_nationkey", "c_mktsegment",
            "((bal_band + 100000000) div 100000) - 1000 AS bal_band")
          .groupBy(col("c_nationkey"), col("c_mktsegment"))
          .agg(count(lit(1)).as("cnt"),
            countDistinct(col("bal_band")).as("l_div"))
          .withColumn("violates_l3", col("l_div") < 3)
          .orderBy(col("c_nationkey"), col("c_mktsegment"))
      },
      Some("""SELECT c_nationkey, c_mktsegment, count(*) AS cnt,
             |  CAST(count(DISTINCT
             |    ((CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
             |      + 100000000) // 100000) - 1000) AS BIGINT) AS l_div,
             |  CAST(count(DISTINCT
             |    ((CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
             |      + 100000000) // 100000) - 1000) AS BIGINT) < 3
             |    AS violates_l3
             |FROM customer
             |GROUP BY c_nationkey, c_mktsegment
             |ORDER BY c_nationkey, c_mktsegment""".stripMargin)),

    // FELLEGI–SUNTER AGREEMENT-PATTERN PROFILE — the evidence table of
    // probabilistic record linkage: over the blocked ER candidate pairs,
    // each pair's agreement vector (name distance level, nation agrees?,
    // segment agrees?) is tabulated against the match truth, yielding
    // per-pattern m (rate among true matches) and u (rate among false
    // candidates) in exact ppm — the m/u columns whose log-ratio IS the
    // Fellegi–Sunter weight (reported as rates, not logs: the ranking is
    // identical and stays cross-engine exact). This is the sheet a
    // linkage engineer reads to set match/possible/non-match thresholds.
    // 100 TB shape: reuses the blocked candidate pass (no new name×name
    // product); attribute lookups are two equi-joins against the
    // customer dim; the pattern table is ≤|2·2·2| rows with totals
    // broadcast back.
    "er_agreement_patterns" -> QueryDef(
      (s, dir) => {
        // WIDER net than er_blocked_match's resolve pass (last-3 blocks,
        // lev ≤ 2): the evidence table must SEE false candidates to
        // estimate u — the resolve pass's tight lev ≤ 1 cut admits
        // almost none by construction
        val (dirty, _) = erCandidates(s, dir)
        val c = Tables.load(s, dir, "customer")
        val clean = c.selectExpr("c_custkey", "c_name")
          .withColumn("blk3", expr("right(c_name, 3)"))
        val cand = dirty.withColumn("blk3", expr("right(name_d, 3)"))
          .join(clean, "blk3")
          .withColumn("lev", levenshtein(col("name_d"), col("c_name")))
          .filter(col("lev") <= 2)
          .select(col("d_key"), col("c_custkey"), col("lev"))
        val a = c.select(col("c_custkey").as("d_key"),
          col("c_nationkey").as("nat_a"), col("c_mktsegment").as("seg_a"))
        val b = c.select(col("c_custkey"),
          col("c_nationkey").as("nat_b"), col("c_mktsegment").as("seg_b"))
        val pat = cand.join(a, "d_key").join(b, "c_custkey")
          .select(col("lev").cast(LongType).as("name_lev"),
            (col("nat_a") === col("nat_b")).as("same_nation"),
            (col("seg_a") === col("seg_b")).as("same_segment"),
            when(col("d_key") === col("c_custkey"), 1L).otherwise(0L)
              .as("m"))
          .groupBy(col("name_lev"), col("same_nation"), col("same_segment"))
          .agg(count(lit(1)).as("n_pairs"), sum(col("m")).as("n_true"))
          // eager cut at ≤8 rows (r13, guide §2.4 — same device as the
          // er_fastss_join fold): `pat` feeds both the totals row and the
          // report; without the cut the blocked levenshtein join (the
          // query's whole cost) executes once per consumer
          .localCheckpoint(true)
        val tot = pat.agg(sum(col("n_true")).as("tot_true"),
          sum(col("n_pairs") - col("n_true")).as("tot_false"))
        pat.crossJoin(broadcast(tot))
          .selectExpr("name_lev", "same_nation", "same_segment",
            "n_pairs", "n_true",
            "(n_true * 1000000) div greatest(tot_true, 1) AS m_ppm",
            "((n_pairs - n_true) * 1000000) div greatest(tot_false, 1)" +
              " AS u_ppm")
          .orderBy(col("name_lev"), col("same_nation"), col("same_segment"))
      },
      Some {
        s"""WITH $erCandidatesSql,
           |cand2 AS (
           |  SELECT d.d_key, c.c_custkey,
           |    levenshtein(d.name_d, c.c_name) AS lev
           |  FROM dirty d JOIN customer c
           |    ON right(d.name_d, 3) = right(c.c_name, 3)
           |  WHERE levenshtein(d.name_d, c.c_name) <= 2),
           |pat AS (
           |  SELECT cand2.lev AS name_lev,
           |    a.c_nationkey = b.c_nationkey AS same_nation,
           |    a.c_mktsegment = b.c_mktsegment AS same_segment,
           |    count(*) AS n_pairs,
           |    CAST(SUM(CASE WHEN cand2.d_key = cand2.c_custkey
           |      THEN 1 ELSE 0 END) AS BIGINT) AS n_true
           |  FROM cand2
           |  JOIN customer a ON a.c_custkey = cand2.d_key
           |  JOIN customer b ON b.c_custkey = cand2.c_custkey
           |  GROUP BY 1, 2, 3),
           |tot AS (
           |  SELECT CAST(SUM(n_true) AS BIGINT) AS tot_true,
           |    CAST(SUM(n_pairs - n_true) AS BIGINT) AS tot_false
           |  FROM pat)
           |SELECT CAST(name_lev AS BIGINT) AS name_lev, same_nation,
           |  same_segment, CAST(n_pairs AS BIGINT) AS n_pairs, n_true,
           |  CAST((n_true * 1000000) // greatest(tot_true, 1) AS BIGINT)
           |    AS m_ppm,
           |  CAST(((n_pairs - n_true) * 1000000) // greatest(tot_false, 1)
           |    AS BIGINT) AS u_ppm
           |FROM pat, tot
           |ORDER BY name_lev, same_nation, same_segment""".stripMargin
      }),

    // FASTSS DELETION-NEIGHBORHOOD FUZZY JOIN — the EXACT-recall blocking
    // scheme for edit-distance-1 record linkage (Bocek et al. 2007):
    // two strings with lev ≤ 1 ALWAYS share a key in {s} ∪ {s minus one
    // char}, so joining on the ~|s|+1 deletion variants per side finds
    // every true pair — unlike er_blocked_match's last-4 suffix blocks,
    // which silently lose corruptions that hit the suffix (the recall
    // loss that report quantifies). Shared keys admit some lev-2 false
    // candidates; a levenshtein verify on the candidate set (bounded:
    // deletion keys are near-unique, fan-in is digit-neighborhood-sized)
    // keeps the final pairs exact. The report: candidate volume, verified
    // pairs, resolve precision and — the headline — recall 10⁶ vs the
    // true key. 100 TB shape: a ~20× key expansion on each side into ONE
    // equi-join (the classic space-for-exactness trade), distinct pairs
    // map-side combine, verify is a pure map on candidate rows.
    "er_fastss_join" -> QueryDef(
      (s, dir) => {
        val (dirty, _) = erCandidates(s, dir)
        // deletion keys built via expr: substring with COLUMN offsets
        val dKeys = dirty.select(col("d_key"), col("name_d"))
          .withColumn("k", explode(expr(
            """array_union(array(name_d), transform(
              |  sequence(0, length(name_d) - 1),
              |  i -> concat(substring(name_d, 1, i),
              |              substring(name_d, i + 2))))""".stripMargin)))
        val c = Tables.load(s, dir, "customer")
        val cKeys = c.select(col("c_custkey"), col("c_name"))
          .withColumn("k", explode(expr(
            """array_union(array(c_name), transform(
              |  sequence(0, length(c_name) - 1),
              |  i -> concat(substring(c_name, 1, i),
              |              substring(c_name, i + 2))))""".stripMargin)))
        // ONE pass carries the whole candidate set with its verify score
        // AND every report counter: the keys-join + distinct runs exactly
        // once, the resolver is one row_number window over it, and the
        // five counters fold into a single conditional-sum aggregate —
        // the previous shape ran three separate 1-row aggregates over a
        // cached copy and crossJoined them, paying three traversals plus
        // cache memory for a fixed-size report. The window ranks ALL
        // candidates by (lev, c_custkey); lev ≤ 1 rows sort before lev-2
        // rows, so `rk = 1 AND lev ≤ 1` is exactly the oracle's
        // best-verified match per d_key (a d_key whose best candidate
        // has lev ≥ 2 resolves to nothing, matching the oracle's empty
        // ver set for that key).
        val rk = Window.partitionBy(col("d_key"))
          .orderBy(col("lev"), col("c_custkey"))
        val scored = dKeys.join(cKeys, "k")
          .select(col("d_key"), col("name_d"), col("c_custkey"),
            col("c_name")).distinct()
          .withColumn("lev", levenshtein(col("name_d"), col("c_name")))
          .withColumn("rk", row_number().over(rk))
        val isVer = col("lev") <= 1
        val isTrue = col("c_custkey") === col("d_key")
        val isResolved = isVer && col("rk") === 1
        val nDirty = dirty.agg(count(lit(1)).as("n_dirty"))
        scored.agg(
            count(lit(1)).as("n_candidates"),
            sum(when(isVer, 1L).otherwise(0L)).as("n_verified"),
            sum(when(isVer && isTrue, 1L).otherwise(0L)).as("n_true_pairs"),
            sum(when(isResolved, 1L).otherwise(0L)).as("n_resolved"),
            sum(when(isResolved && isTrue, 1L).otherwise(0L))
              .as("n_correct"))
          .crossJoin(broadcast(nDirty))
          .selectExpr("n_dirty", "n_candidates", "n_verified", "n_resolved",
            "n_true_pairs", "n_correct",
            // the FastSS guarantee: every true pair is in the candidate
            // set — this is exactly 10^6 by construction
            "(n_true_pairs * 1000000) div n_dirty AS blocking_recall_ppm",
            // resolve accuracy is ambiguity-limited (lev-1 digit
            // neighbors tie with the true record)
            "(n_correct * 1000000) div n_dirty AS recall_ppm",
            "(n_correct * 1000000) div greatest(n_resolved, 1)" +
              " AS precision_ppm")
      },
      Some {
        def keys(name: String) =
          s"list_concat([$name], list_transform(range(0, length($name)), " +
            s"i -> substr($name, 1, i) || substr($name, i + 2)))"
        s"""WITH $erCandidatesSql,
           |dk AS (
           |  SELECT d_key, name_d, unnest(${keys("name_d")}) AS k
           |  FROM dirty),
           |ck AS (
           |  SELECT c_custkey, c_name, unnest(${keys("c_name")}) AS k
           |  FROM customer),
           |candf AS (
           |  SELECT DISTINCT d_key, name_d, c_custkey, c_name
           |  FROM dk JOIN ck USING (k)),
           |ver AS (
           |  SELECT d_key, c_custkey,
           |    levenshtein(name_d, c_name) AS lev
           |  FROM candf WHERE levenshtein(name_d, c_name) <= 1),
           |resolved AS (
           |  SELECT d_key, c_custkey FROM (
           |    SELECT d_key, c_custkey,
           |      ROW_NUMBER() OVER (PARTITION BY d_key
           |        ORDER BY lev, c_custkey) AS rk
           |    FROM ver) WHERE rk = 1),
           |agg AS (
           |  SELECT
           |    (SELECT count(*) FROM dirty) AS n_dirty,
           |    (SELECT count(*) FROM candf) AS n_candidates,
           |    (SELECT count(*) FROM ver) AS n_verified,
           |    (SELECT count(*) FROM resolved) AS n_resolved,
           |    (SELECT CAST(coalesce(SUM(CASE WHEN c_custkey = d_key
           |       THEN 1 ELSE 0 END), 0) AS BIGINT) FROM ver)
           |      AS n_true_pairs,
           |    (SELECT CAST(coalesce(SUM(CASE WHEN c_custkey = d_key
           |       THEN 1 ELSE 0 END), 0) AS BIGINT) FROM resolved)
           |      AS n_correct)
           |SELECT n_dirty, n_candidates, n_verified, n_resolved,
           |  n_true_pairs, n_correct,
           |  (n_true_pairs * 1000000) // n_dirty AS blocking_recall_ppm,
           |  (n_correct * 1000000) // n_dirty AS recall_ppm,
           |  (n_correct * 1000000) // greatest(n_resolved, 1) AS precision_ppm
           |FROM agg""".stripMargin
      }),

    // T-CLOSENESS — the third privacy gate after k-anonymity and
    // l-diversity: within each quasi-identifier group (nation, segment),
    // how far does the SENSITIVE-attribute distribution (balance in
    // $10k bands) sit from the global distribution? Categorical
    // t-closeness uses total variation distance; here it is EXACT ppm by
    // clearing both denominators: tvd = ½[Σ_{v∈G}|p_gv − p_v| +
    // (1 − Σ_{v∈G} p_v)] → (Σ|cnt_gv·N − cnt_v·N_g| + N_g·(N − Σcnt_v))
    // ·10⁶ div (2·N_g·N), where the second term accounts for global
    // bands ABSENT from the group (|0 − p_v| mass that an
    // observed-pairs-only join would silently drop). Products ride
    // DECIMAL(38,0). Scale: one (QI, band) aggregate over the table;
    // band-level global counts and group totals are broadcast-sized
    // joins; output is |QI groups| rows.
    "privacy_t_closeness" -> QueryDef(
      (s, dir) => {
        val dec = (c: org.apache.spark.sql.Column) =>
          c.cast(DecimalType(38, 0))
        val c = Tables.load(s, dir, "customer")
          .withColumn("band",
            expr("""((CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
                    | + 100000000) div 1000000) - 100""".stripMargin))
        val gv = c.groupBy(col("c_nationkey"), col("c_mktsegment"),
            col("band"))
          .agg(count(lit(1)).as("cnt_gv"))
        val v = gv.groupBy(col("band")).agg(sum(col("cnt_gv")).as("cnt_v"))
        val g = gv.groupBy(col("c_nationkey"), col("c_mktsegment"))
          .agg(sum(col("cnt_gv")).as("n_g"))
        val nTot = v.agg(sum(col("cnt_v")).as("n"))
        gv.join(v, "band")
          .join(g, Seq("c_nationkey", "c_mktsegment"))
          .crossJoin(broadcast(nTot))
          .groupBy(col("c_nationkey"), col("c_mktsegment"))
          .agg(max(col("n_g")).as("n_g"), max(col("n")).as("n"),
            sum(abs(dec(col("cnt_gv")) * dec(col("n"))
              - dec(col("cnt_v")) * dec(col("n_g")))).as("term1"),
            sum(col("cnt_v")).as("covered"))
          .select(col("c_nationkey"), col("c_mktsegment"), col("n_g"),
            ((col("term1") + dec(col("n_g")) * (dec(col("n"))
                - dec(col("covered")))) * dec(lit(1000000L))).as("numer"),
            (dec(lit(2L)) * dec(col("n_g")) * dec(col("n"))).as("denom"))
          .selectExpr("c_nationkey", "c_mktsegment", "n_g",
            "CAST(numer div denom AS BIGINT) AS tvd_ppm")
          .withColumn("violates_t02", col("tvd_ppm") > 200000L)
          .orderBy(col("c_nationkey"), col("c_mktsegment"))
      },
      Some("""WITH cells AS MATERIALIZED (
             |  SELECT c_nationkey, c_mktsegment,
             |    ((CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
             |      + 100000000) // 1000000) - 100 AS band,
             |    count(*) AS cnt_gv
             |  FROM customer GROUP BY 1, 2, 3),
             |v AS (SELECT band, CAST(SUM(cnt_gv) AS BIGINT) AS cnt_v
             |      FROM cells GROUP BY band),
             |g AS (SELECT c_nationkey, c_mktsegment,
             |        CAST(SUM(cnt_gv) AS BIGINT) AS n_g
             |      FROM cells GROUP BY 1, 2),
             |n AS (SELECT CAST(SUM(cnt_v) AS BIGINT) AS n FROM v),
             |t AS (
             |  SELECT cells.c_nationkey, cells.c_mktsegment,
             |    max(g.n_g) AS n_g, max(n.n) AS n,
             |    SUM(abs(CAST(cnt_gv AS HUGEINT) * n.n
             |      - CAST(cnt_v AS HUGEINT) * g.n_g)) AS term1,
             |    CAST(SUM(cnt_v) AS HUGEINT) AS covered
             |  FROM cells
             |  JOIN v USING (band)
             |  JOIN g ON g.c_nationkey = cells.c_nationkey
             |    AND g.c_mktsegment = cells.c_mktsegment, n
             |  GROUP BY 1, 2)
             |SELECT c_nationkey, c_mktsegment, CAST(n_g AS BIGINT) AS n_g,
             |  CAST((term1 + CAST(n_g AS HUGEINT) * (n - covered)) * 1000000
             |    // (2 * CAST(n_g AS HUGEINT) * n) AS BIGINT) AS tvd_ppm,
             |  CAST((term1 + CAST(n_g AS HUGEINT) * (n - covered)) * 1000000
             |    // (2 * CAST(n_g AS HUGEINT) * n) AS BIGINT) > 200000
             |    AS violates_t02
             |FROM t ORDER BY c_nationkey, c_mktsegment""".stripMargin)),

    // IDF DRIFT — the vocabulary-shift audit between two corpus releases
    // (the same v1 -> v2 derivation as corpus_snapshot_diff): per word,
    // document frequency in each version, ranked by absolute drift. The
    // signal a retrieval/embedding team checks before deciding whether
    // cached IDF tables and tokenizers survive a release. 100 TB shape:
    // each version contributes ONE map-side-combined per-word df count
    // over in-row DISTINCT word sets (never word occurrences); the two
    // |vocab|-sized tables meet in a full-outer hash join and the top-50
    // is a TakeOrdered, never a global sort.
    "corpus_idf_drift" -> QueryDef(
      (s, dir) => {
        import graft.functions.TextFunctions.words
        val d = Tables.load(s, dir, "documents")
        def dfCount(docs: org.apache.spark.sql.DataFrame) = docs
          .select(explode(array_distinct(words(col("text")))).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("df"))
        val df1 = dfCount(d)
        val v2 = d.filter(col("doc_id") % 7 =!= 0)
          .selectExpr(
            "CASE WHEN doc_id % 5 = 0 THEN concat(text, ' [rev2]') ELSE text END AS text")
          .union(d.filter(col("doc_id") % 11 === 0)
            .selectExpr("concat(text, ' [new]') AS text"))
        val df2 = dfCount(v2)
        df1.select(col("w"), col("df").as("df1"))
          .join(df2.select(col("w"), col("df").as("df2")), Seq("w"),
            "full_outer")
          .selectExpr("w", "coalesce(df1, 0) AS df1",
            "coalesce(df2, 0) AS df2",
            "coalesce(df2, 0) - coalesce(df1, 0) AS drift")
          .orderBy(abs(col("drift")).desc, col("w"))
          .limit(50)
      },
      Some {
        import graft.functions.TextFunctions.sqlWords
        val words1 = s"list_distinct(${sqlWords("text")})"
        s"""WITH v2docs AS (
           |  SELECT CASE WHEN doc_id % 5 = 0 THEN concat(text, ' [rev2]')
           |              ELSE text END AS text
           |  FROM documents WHERE doc_id % 7 <> 0
           |  UNION ALL
           |  SELECT concat(text, ' [new]') AS text
           |  FROM documents WHERE doc_id % 11 = 0),
           |df1 AS (
           |  SELECT w, count(*) AS df1 FROM (
           |    SELECT unnest($words1) AS w FROM documents) GROUP BY w),
           |df2 AS (
           |  SELECT w, count(*) AS df2 FROM (
           |    SELECT unnest($words1) AS w FROM v2docs) GROUP BY w)
           |SELECT w, CAST(coalesce(df1, 0) AS BIGINT) AS df1,
           |  CAST(coalesce(df2, 0) AS BIGINT) AS df2,
           |  CAST(coalesce(df2, 0) - coalesce(df1, 0) AS BIGINT) AS drift
           |FROM df1 FULL OUTER JOIN df2 USING (w)
           |ORDER BY abs(coalesce(df2, 0) - coalesce(df1, 0)) DESC, w
           |LIMIT 50""".stripMargin
      }),

    // KOLMOGOROV–SMIRNOV DRIFT between releases — the distribution-level
    // release gate the scalar IDF/snapshot diffs cannot give: per source,
    // the KS statistic between v1 and v2 quality-score distributions
    // (same v1 -> v2 derivation as corpus_snapshot_diff), reported as the
    // max ppm gap between the two CDFs and the score where it opens.
    // CDFs are ppm-quantized per side (cum·10^6 div n — exact integers at
    // any corpus size, no n1·n2 product to overflow), so the statistic is
    // the max |c1p − c2p| over the merged histogram. 100 TB shape: each
    // version pays ONE map-side-combined (source, score) histogram; the
    // merge is a vocabulary-of-scores-sized full-outer join; cumsums and
    // the argmax run per source over ppm-BOUNDED histogram rows.
    "corpus_ks_drift" -> QueryDef(
      (s, dir) => {
        import graft.functions.TextFunctions.{qualityStopwords, words}
        def scores(docs: org.apache.spark.sql.DataFrame) = {
          val ws = words(col("text"))
          val nStop = size(filter(ws,
            w => w.isInCollection(qualityStopwords))).cast(LongType)
          docs.select(col("source"),
              (nStop * 1000000L).as("num"),
              size(ws).cast(LongType).as("den"))
            .selectExpr("source", "num div den AS score")
            .groupBy(col("source"), col("score"))
            .agg(count(lit(1)).as("c"))
        }
        val d = Tables.load(s, dir, "documents")
        val h1 = scores(d)
        val v2 = d.filter(col("doc_id") % 7 =!= 0)
          .selectExpr("source",
            "CASE WHEN doc_id % 5 = 0 THEN concat(text, ' [rev2]') ELSE text END AS text")
          .union(d.filter(col("doc_id") % 11 === 0)
            .selectExpr("source", "concat(text, ' [new]') AS text"))
        val h2 = scores(v2)
        val merged = h1.select(col("source"), col("score"),
            col("c").as("c1"))
          .join(h2.select(col("source"), col("score"), col("c").as("c2")),
            Seq("source", "score"), "full_outer")
          .na.fill(0L, Seq("c1", "c2"))
        val wCum = Window.partitionBy(col("source")).orderBy(col("score"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wTot = Window.partitionBy(col("source"))
        val ann = merged
          .withColumn("cum1", sum(col("c1")).over(wCum))
          .withColumn("cum2", sum(col("c2")).over(wCum))
          .withColumn("n1", sum(col("c1")).over(wTot))
          .withColumn("n2", sum(col("c2")).over(wTot))
          .selectExpr("source", "score", "n1", "n2",
            "abs((cum1 * 1000000) div n1 - (cum2 * 1000000) div n2) AS gap")
          .cache()
        val ks = ann.groupBy(col("source"))
          .agg(max(col("gap")).as("ks_ppm"),
            max(col("n1")).as("n1"), max(col("n2")).as("n2"))
        ann.join(ks.select(col("source"), col("ks_ppm")),
            Seq("source"))
          .filter(col("gap") === col("ks_ppm"))
          .groupBy(col("source"))
          .agg(min(col("score")).as("at_score"))
          .join(ks, "source")
          .select(col("source"), col("n1"), col("n2"), col("ks_ppm"),
            col("at_score"))
          .orderBy(col("source"))
      },
      Some {
        import graft.functions.TextFunctions.sqlWords
        val ws = sqlWords("text")
        val nStop = s"CAST(len(list_filter($ws, w -> w IN " +
          graft.functions.TextFunctions.qualityStopwords
            .mkString("('", "','", "')") + ")) AS BIGINT)"
        s"""WITH v2docs AS (
           |  SELECT source,
           |    CASE WHEN doc_id % 5 = 0 THEN concat(text, ' [rev2]')
           |         ELSE text END AS text
           |  FROM documents WHERE doc_id % 7 <> 0
           |  UNION ALL
           |  SELECT source, concat(text, ' [new]') AS text
           |  FROM documents WHERE doc_id % 11 = 0),
           |h1 AS (
           |  SELECT source, ($nStop * 1000000) // CAST(len($ws) AS BIGINT)
           |      AS score, count(*) AS c
           |  FROM documents GROUP BY 1, 2),
           |h2 AS (
           |  SELECT source, ($nStop * 1000000) // CAST(len($ws) AS BIGINT)
           |      AS score, count(*) AS c
           |  FROM v2docs GROUP BY 1, 2),
           |m AS (
           |  SELECT source, score,
           |    coalesce(h1.c, 0) AS c1, coalesce(h2.c, 0) AS c2
           |  FROM h1 FULL OUTER JOIN h2 USING (source, score)),
           |ann AS (
           |  SELECT source, score,
           |    CAST(SUM(c1) OVER w AS BIGINT) AS cum1,
           |    CAST(SUM(c2) OVER w AS BIGINT) AS cum2,
           |    CAST(SUM(c1) OVER t AS BIGINT) AS n1,
           |    CAST(SUM(c2) OVER t AS BIGINT) AS n2
           |  FROM m
           |  WINDOW w AS (PARTITION BY source ORDER BY score
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           |  t AS (PARTITION BY source)),
           |g AS (
           |  SELECT source, score, n1, n2,
           |    abs((cum1 * 1000000) // n1 - (cum2 * 1000000) // n2) AS gap
           |  FROM ann),
           |ks AS (
           |  SELECT source, CAST(MAX(gap) AS BIGINT) AS ks_ppm,
           |    MAX(n1) AS n1, MAX(n2) AS n2
           |  FROM g GROUP BY source)
           |SELECT g.source, ks.n1, ks.n2, ks.ks_ppm,
           |  CAST(MIN(g.score) AS BIGINT) AS at_score
           |FROM g JOIN ks ON g.source = ks.source AND g.gap = ks.ks_ppm
           |GROUP BY g.source, ks.n1, ks.n2, ks.ks_ppm
           |ORDER BY g.source""".stripMargin
      }),

    // BLOCKING-STRATEGY AUDIT — the sheet a blocking key is CHOSEN on,
    // before the ER join ever runs: for each candidate strategy
    // (name-suffix length 2/3/4), the cell count, the worst cell, and
    // the total candidate-pair mass Σ sz·(sz−1)/2 the blocked self-join
    // would generate. Shorter suffixes = fewer, fatter cells = more
    // recall but quadratic-in-cell cost; the audit quantifies that
    // trade exactly (the ER queries' suffix-4 choice is the row with
    // pair_mass ≈ 0 here). All integer. 100 TB: the three strategies
    // ride ONE pass (an in-row 3-way unpivot into a map-side-combined
    // cell count), then a 3-row rollup; the audit never materializes a
    // single candidate pair.
    "gov_blocking_strategy_audit" -> QueryDef(
      (s, dir) => {
        Tables.load(s, dir, "customer")
          .select(expr("""stack(3,
            |  'suffix2', right(c_name, 2),
            |  'suffix3', right(c_name, 3),
            |  'suffix4', right(c_name, 4))""".stripMargin)
            .as(Seq("strategy", "blk")))
          .groupBy(col("strategy"), col("blk"))
          .agg(count(lit(1)).as("sz"))
          .groupBy(col("strategy"))
          .agg(count(lit(1)).as("n_cells"), max(col("sz")).as("max_cell"),
            sum(expr("(sz * (sz - 1)) div 2")).as("pair_mass"))
          .orderBy(col("strategy"))
      },
      Some("""WITH k AS (
             |  SELECT 'suffix2' AS strategy, right(c_name, 2) AS blk
             |  FROM customer
             |  UNION ALL
             |  SELECT 'suffix3', right(c_name, 3) FROM customer
             |  UNION ALL
             |  SELECT 'suffix4', right(c_name, 4) FROM customer),
             |cells AS (
             |  SELECT strategy, blk, count(*) AS sz
             |  FROM k GROUP BY 1, 2)
             |SELECT strategy, CAST(count(*) AS BIGINT) AS n_cells,
             |  CAST(MAX(sz) AS BIGINT) AS max_cell,
             |  CAST(SUM((sz * (sz - 1)) // 2) AS BIGINT) AS pair_mass
             |FROM cells GROUP BY strategy ORDER BY strategy""".stripMargin)),

    // ENTITY CLUSTERS — the transitive-closure step of entity resolution:
    // every candidate match edge (dirty mention <-> clean record, parity-
    // encoded node ids) is closed into connected components, and the
    // cluster-size histogram is the ER health sheet (size-2 = the normal
    // dirty+clean pair; larger = ambiguity chains where one corruption
    // bridges two real entities — exactly what a stewardship team samples
    // and reviews). 100 TB shape: the same blocked candidate stage (one
    // equi-join), then the O(log^2 n)-round star-contraction CC the dedup
    // clusters use — per round one exchange over the edge set, never an
    // all-pairs closure; the histogram is a <=|distinct sizes|-row rollup.
    "er_entity_clusters" -> QueryDef(
      (s, dir) => {
        erClusters(s, dir).groupBy(col("component"))
          .agg(count(lit(1)).as("sz"))
          .groupBy(col("sz").as("cluster_size"))
          .agg(count(lit(1)).as("n_clusters"),
            min(col("component")).as("min_component"))
          .orderBy(col("cluster_size"))
      },
      Some(s"""WITH RECURSIVE $erCandidatesSql,
              |edges AS (
              |  SELECT c_custkey * 2 AS u, d_key * 2 + 1 AS v FROM cand
              |  UNION
              |  SELECT d_key * 2 + 1 AS u, c_custkey * 2 AS v FROM cand),
              |reach(id, r) AS (
              |  SELECT u AS id, u AS r FROM edges
              |  UNION
              |  SELECT reach.id, e.v FROM reach JOIN edges e
              |    ON e.u = reach.r),
              |comp AS (
              |  SELECT id, MIN(r) AS component FROM reach GROUP BY id),
              |sizes AS (
              |  SELECT component, count(*) AS sz FROM comp
              |  GROUP BY component)
              |SELECT sz AS cluster_size, count(*) AS n_clusters,
              |  CAST(MIN(component) AS BIGINT) AS min_component
              |FROM sizes GROUP BY sz ORDER BY cluster_size""".stripMargin)),

    // ER CLUSTER SHAPE AUDIT — the merge-safety classification the size
    // histogram cannot give: a size-4 cluster is harmless if it is one
    // clean record with three dirty mentions (star_clean — merge them
    // all) but a stewardship incident if it holds two clean records
    // (tangle / star_dirty — a transitive merge would COLLAPSE DISTINCT
    // ENTITIES; these are exactly the clusters a reviewer must split by
    // hand). Parity encoding makes the census free: clean nodes are
    // even, dirty mentions odd, so per component two conditional sums
    // classify the shape. Reads the write-once ER closure; the rollup is
    // components-sized, never registry-sized.
    "er_cluster_shape_audit" -> QueryDef(
      (s, dir) => {
        erClusters(s, dir).groupBy(col("component"))
          .agg(sum(when(pmod(col("id"), lit(2)) === 0, 1L).otherwise(0L))
            .as("n_clean"),
            sum(when(pmod(col("id"), lit(2)) === 1, 1L).otherwise(0L))
              .as("n_dirty"))
          .withColumn("shape",
            when(col("n_clean") === 1 && col("n_dirty") === 1, "pair")
              .when(col("n_clean") === 1, "star_clean")
              .when(col("n_dirty") === 1, "star_dirty")
              .otherwise("tangle"))
          .groupBy(col("shape"))
          .agg(count(lit(1)).as("n_clusters"),
            sum(col("n_clean")).as("n_clean_records"),
            sum(col("n_dirty")).as("n_dirty_mentions"),
            max(col("n_clean") + col("n_dirty")).as("max_cluster"))
          .orderBy(col("shape"))
      },
      Some(s"""WITH RECURSIVE $erCandidatesSql,
              |edges AS (
              |  SELECT c_custkey * 2 AS u, d_key * 2 + 1 AS v FROM cand
              |  UNION
              |  SELECT d_key * 2 + 1 AS u, c_custkey * 2 AS v FROM cand),
              |reach(id, r) AS (
              |  SELECT u AS id, u AS r FROM edges
              |  UNION
              |  SELECT reach.id, e.v FROM reach JOIN edges e
              |    ON e.u = reach.r),
              |comp AS (
              |  SELECT id, MIN(r) AS component FROM reach GROUP BY id),
              |census AS (
              |  SELECT component,
              |    CAST(SUM(CASE WHEN id % 2 = 0 THEN 1 ELSE 0 END)
              |      AS BIGINT) AS n_clean,
              |    CAST(SUM(CASE WHEN id % 2 = 1 THEN 1 ELSE 0 END)
              |      AS BIGINT) AS n_dirty
              |  FROM comp GROUP BY component)
              |SELECT shape, count(*) AS n_clusters,
              |  CAST(SUM(n_clean) AS BIGINT) AS n_clean_records,
              |  CAST(SUM(n_dirty) AS BIGINT) AS n_dirty_mentions,
              |  CAST(MAX(n_clean + n_dirty) AS BIGINT) AS max_cluster
              |FROM (
              |  SELECT n_clean, n_dirty,
              |    CASE WHEN n_clean = 1 AND n_dirty = 1 THEN 'pair'
              |         WHEN n_clean = 1 THEN 'star_clean'
              |         WHEN n_dirty = 1 THEN 'star_dirty'
              |         ELSE 'tangle' END AS shape
              |  FROM census)
              |GROUP BY shape ORDER BY shape""".stripMargin))
  )
}
