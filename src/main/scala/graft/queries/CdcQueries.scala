package graft.queries

import graft.{QueryDef, Tables}
import graft.cdc._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * CDC capability queries — each runs a deterministic changelog (derived from
 * a base parquet table, see [[graft.cdc.ChangelogGen]]) through the engine's
 * real envelope → emit → materialize pipeline, and the oracle recomputes the
 * same final state in plain SQL. This mirrors the reference's ITCase pattern
 * of asserting sink-table contents after interleaved INSERT/UPDATE/DELETE
 * (MySqlConnectorITCase.java:214-310), with DuckDB standing in for the sink
 * assertion.
 */
object CdcQueries {

  import ChangeRecord._
  import CdcSourceQueries.{orderCols, ordersSpec}

  private val partCols = Seq("p_partkey", "p_name", "p_brand", "p_type",
    "p_size", "p_retailprice")
  private val custCols = Seq("c_custkey", "c_name", "c_nationkey",
    "c_acctbal", "c_mktsegment")

  private val partSpec = ChangelogGen.Spec(pk = "p_partkey",
    measure = "p_retailprice", table = "part")
  private val custSpec = ChangelogGen.Spec(pk = "c_custkey",
    measure = "c_acctbal", table = "customer")

  def defs: Map[String, QueryDef] = Map(

    // Full retract-mode pipeline: snapshot + changes → emit(ALL) →
    // materialize → current state of `orders` after all changes.
    "cdc_materialize_orders" -> QueryDef(
      (s, dir) => {
        val base = Tables.load(s, dir, "orders")
        val env = ChangelogGen.full(base, ordersSpec)
        Materialize.materialize(Materialize.emit(env, ChangelogAll),
          Seq(ordersSpec.pk))
          .orderBy(col("o_orderkey"))
      },
      Some(ChangelogGen.oracleFinalStateSql(ordersSpec, orderCols, "orders")
        + "\nORDER BY o_orderkey")),

    // Upsert-mode pipeline (MongoDB-style, no UPDATE_BEFORE —
    // MongoDBTableSource.java:132-138) on `customer`.
    "cdc_upsert_customer" -> QueryDef(
      (s, dir) => {
        val base = Tables.load(s, dir, "customer")
        val env = ChangelogGen.full(base, custSpec)
        Materialize.materialize(Materialize.emit(env, ChangelogUpsert),
          Seq(custSpec.pk))
          .orderBy(col("c_custkey"))
      },
      Some(ChangelogGen.oracleFinalStateSql(custSpec, custCols, "customer")
        + "\nORDER BY c_custkey")),

    // The reference's canonical ITCase query — aggregate over a changelog
    // (`SELECT name, SUM(weight) FROM src GROUP BY name`,
    // MySqlConnectorITCase.java:214-215) — materialize-then-aggregate.
    "cdc_agg_after_changes" -> QueryDef(
      (s, dir) => {
        val base = Tables.load(s, dir, "part")
        val env = ChangelogGen.full(base, partSpec)
        Materialize.materializeEnvelope(env, Seq(partSpec.pk))
          .groupBy(col("p_brand"))
          .agg(sum(col("p_retailprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_price"),
            count(lit(1)).as("n_parts"))
          .orderBy(col("p_brand"))
      },
      Some(s"""SELECT p_brand,
              |  CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
              |  COUNT(*) AS n_parts
              |FROM (${ChangelogGen.oracleFinalStateSql(partSpec, partCols, "part")})
              |GROUP BY p_brand ORDER BY p_brand""".stripMargin)),

    // SCD TYPE-2 HISTORY: the changelog materialized as a slowly-changing-
    // dimension table — one row per VERSION of each key, carrying
    // [valid_from, valid_to) offsets and an is_current flag. The other
    // classic CDC consumer besides current-state upsert: warehouses build
    // exactly this from Debezium streams to answer as-of queries. Shape:
    // the UPSERT changelog mode (no -U rows — an SCD2 build needs only
    // images and deletes, and a -U's offset duplicates its paired +U);
    // one pk-partitioned lead() window orders each key's images by offset
    // (valid_to = next event's offset; a -D closes the last version
    // without emitting one). Scale: one shuffle on pk; per-key version
    // chains are short, so the window parallelizes key-ways — never a
    // global sort.
    "cdc_scd2_history" -> QueryDef(
      (s, dir) => {
        val base = Tables.load(s, dir, "orders")
        val env = ChangelogGen.full(base, ordersSpec)
        val evs = Materialize.emit(env, ChangelogUpsert)
        val w = Window.partitionBy(col("o_orderkey")).orderBy(col(OffsetCol))
        evs.withColumn("valid_to", lead(col(OffsetCol), 1).over(w))
          .filter(col(OpCol) =!= RowKind.Delete)
          .select(col("o_orderkey"), col("o_totalprice"),
            col(OffsetCol).as("valid_from"), col("valid_to"),
            col("valid_to").isNull.as("is_current"))
          .orderBy(col("o_orderkey"), col("valid_from"))
      },
      Some {
        val sp = ordersSpec
        s"""WITH v AS (
           |  SELECT o_orderkey, o_totalprice, 0 AS valid_from,
           |    CASE WHEN o_orderkey % ${sp.updEvery} = ${sp.updSel}
           |           THEN ${sp.updBand} + o_orderkey
           |         WHEN o_orderkey % ${sp.delEvery} = ${sp.delSel}
           |           THEN ${sp.delBand} + o_orderkey
           |         ELSE NULL END AS valid_to
           |  FROM orders
           |  UNION ALL
           |  SELECT o_orderkey, o_totalprice * 2,
           |    ${sp.updBand} + o_orderkey,
           |    CASE WHEN o_orderkey % ${sp.delEvery} = ${sp.delSel}
           |         THEN ${sp.delBand} + o_orderkey END
           |  FROM orders WHERE o_orderkey % ${sp.updEvery} = ${sp.updSel}
           |  UNION ALL
           |  SELECT o_orderkey + ${sp.insertKeyOffset}, o_totalprice,
           |    ${sp.insBand} + o_orderkey, NULL
           |  FROM orders WHERE o_orderkey % ${sp.insEvery} = ${sp.insSel})
           |SELECT o_orderkey, o_totalprice,
           |  CAST(valid_from AS BIGINT) AS valid_from,
           |  CAST(valid_to AS BIGINT) AS valid_to,
           |  valid_to IS NULL AS is_current
           |FROM v ORDER BY o_orderkey, valid_from""".stripMargin
      }),

    // Emitted row-kind stream accounting: the retract stream must contain
    // exactly +I per snapshot/insert, -U/+U per update, -D per delete
    // (RowDataDebeziumDeserializeSchema.java:123-145 dispatch).
    "cdc_emit_counts" -> QueryDef(
      (s, dir) => {
        val base = Tables.load(s, dir, "orders")
        val env = ChangelogGen.full(base, ordersSpec)
        Materialize.emit(env, ChangelogAll)
          .groupBy(col(OpCol)).agg(count(lit(1)).as("n"))
          .orderBy(col(OpCol))
      },
      Some(s"""SELECT __op, n FROM (
              |  SELECT '+I' AS __op,
              |    (SELECT COUNT(*) FROM orders) + (SELECT COUNT(*) FROM orders WHERE o_orderkey % 100 = 1) AS n
              |  UNION ALL SELECT '+U', (SELECT COUNT(*) FROM orders WHERE o_orderkey % 10 = 7)
              |  UNION ALL SELECT '-U', (SELECT COUNT(*) FROM orders WHERE o_orderkey % 10 = 7)
              |  UNION ALL SELECT '-D', (SELECT COUNT(*) FROM orders WHERE o_orderkey % 13 = 3)
              |) ORDER BY __op""".stripMargin)),

    // Metadata ("virtual") columns — __db/__table/__ts_ms travel with every
    // emitted row (reference MySqlReadableMetadata.java:33-86; snapshot rows
    // have ts 0 per RecordUtils.java:117-148).
    "cdc_metadata_columns" -> QueryDef(
      (s, dir) => {
        val base = Tables.load(s, dir, "orders")
        val env = ChangelogGen.full(base, ordersSpec)
        Materialize.emit(env, ChangelogUpsert)
          .groupBy(col(DbCol), col(TableCol),
            (col(TsCol) === 0L).as("is_snapshot"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col(DbCol), col(TableCol), col("is_snapshot"))
      },
      Some("""SELECT __db, __table, is_snapshot, n FROM (
             |  SELECT 'graft' AS __db, 'orders' AS __table, TRUE AS is_snapshot,
             |    (SELECT COUNT(*) FROM orders) AS n
             |  UNION ALL
             |  SELECT 'graft', 'orders', FALSE,
             |    (SELECT COUNT(*) FROM orders WHERE o_orderkey % 100 = 1)
             |    + (SELECT COUNT(*) FROM orders WHERE o_orderkey % 10 = 7)
             |    + (SELECT COUNT(*) FROM orders WHERE o_orderkey % 13 = 3)
             |) ORDER BY __db, __table, is_snapshot""".stripMargin)),

    // TiDB-style prewrite/commit resolution (SURVEY §2.4 T7): a txn log
    // derived from `orders` — every row prewrites at start_ts=key*10;
    // key%7=3 rolls back, key%11=0 commits past the resolved frontier,
    // the rest commit at start_ts+5. Visible state = committed rows only,
    // resolved relationally (anti-join rollbacks, equi-join commits).
    "cdc_txn_log_resolution" -> QueryDef(
      (s, dir) => {
        val resolvedTs = 1000000000000L
        val orders = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        def nulls = Seq(lit(null).cast(LongType).as("o_custkey"),
          lit(null).cast(DoubleType).as("o_totalprice"))
        val pre = orders.select(
          lit(TxnLogResolver.Prewrite).as("kind"),
          col("o_orderkey").as("key"),
          (col("o_orderkey") * 10).as("start_ts"),
          lit(null).cast(LongType).as("commit_ts"),
          col("o_custkey"), col("o_totalprice"))
        val cm = orders.filter(col("o_orderkey") % 7 =!= 3)
          .select(Seq(lit(TxnLogResolver.Commit).as("kind"),
            col("o_orderkey").as("key"),
            (col("o_orderkey") * 10).as("start_ts"),
            when(col("o_orderkey") % 11 === 0, lit(10000000000000L))
              .otherwise(col("o_orderkey") * 10 + 5).as("commit_ts"))
            ++ nulls: _*)
        val rb = orders.filter(col("o_orderkey") % 7 === 3)
          .select(Seq(lit(TxnLogResolver.Rollback).as("kind"),
            col("o_orderkey").as("key"),
            (col("o_orderkey") * 10).as("start_ts"),
            lit(null).cast(LongType).as("commit_ts")) ++ nulls: _*)
        TxnLogResolver.resolve(pre.unionByName(cm).unionByName(rb), resolvedTs)
          .select(col("key").as("o_orderkey"), col("commit_ts"),
            col("o_custkey"), col("o_totalprice"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_orderkey*10+5 AS commit_ts, o_custkey, o_totalprice
             |FROM orders WHERE o_orderkey % 7 <> 3 AND o_orderkey % 11 <> 0
             |ORDER BY o_orderkey""".stripMargin))
  )
}
