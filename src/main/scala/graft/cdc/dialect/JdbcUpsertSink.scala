package graft.cdc.dialect

import graft.cdc.ChangeRecord._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Exactly-once JDBC sink for an emitted changelog: `foreachBatch` merges
 * each micro-batch into a live Derby table keyed on the primary key —
 * the engine-side counterpart of the reference ecosystem's JDBC sink
 * connectors, with the idempotent-upsert contract a non-transactional
 * two-phase sink needs (same guard the reference's e2e sink tests rely
 * on: replayed batches must converge, not duplicate).
 *
 * Per key the sink stores the newest image plus its `graft_offset`; every
 * write is offset-guarded (newest-offset-wins), so checkpoint replay of a
 * failed batch is a no-op for rows already applied. Deletes are
 * TOMBSTONES (`graft_deleted = true`), not physical removals — a physical
 * delete forgets its offset, and a replayed stale insert would then
 * resurrect the row; the tombstone keeps the guard. (Compact tombstones
 * below the checkpoint horizon out-of-band at scale.) The merge runs
 * EXECUTOR-SIDE per partition over pooled connections (guarded UPDATE +
 * NOT-EXISTS INSERT — semantically MERGE): rows never funnel through the
 * driver.
 *
 * Identifiers are deliberately unquoted (Derby normalizes to upper case)
 * so the table reads back through Spark's own JDBC source without
 * case gymnastics.
 */
object JdbcUpsertSink {

  private val OffCol = "graft_offset"
  private val DelCol = "graft_deleted"

  // Names from the DataFrame schema are interpolated unquoted into
  // CREATE/UPDATE/INSERT SQL (deliberately — see the class doc), so a
  // reserved word ('order', 'year') or a non-identifier character would
  // break the sink at runtime with an opaque Derby syntax error. Reject
  // them up front with an actionable message instead.
  private val IdentPattern = "^[A-Za-z][A-Za-z0-9_]*$".r
  private val Reserved: Set[String] = Set(
    "order", "group", "by", "select", "insert", "update", "delete", "from",
    "where", "having", "join", "inner", "outer", "left", "right", "on",
    "and", "or", "not", "null", "primary", "key", "constraint", "create",
    "drop", "alter", "index", "table", "view", "int", "integer", "char",
    "varchar", "date", "time", "timestamp", "year", "month", "day", "hour",
    "minute", "second", "user", "current", "default", "check", "unique",
    "foreign", "references", "column", "row", "rows", "fetch", "first",
    "next", "offset", "union", "intersect", "except", "case", "when",
    "then", "else", "end", "between", "like", "in", "exists", "distinct",
    "all", "any", "some", "cast", "desc", "asc", "values", "as", "set",
    "into", "count", "sum", "min", "max", "avg", "position", "no", "of",
    "to", "with", "for", "is", "at", "add", "begin", "close", "commit",
    "rollback", "grant", "revoke", "schema", "session_user", "system_user",
    // numeric/temporal type names and procedure words Derby also reserves
    "bigint", "smallint", "double", "float", "real", "numeric", "decimal",
    "dec", "boolean", "blob", "clob", "call", "using", "declare", "cursor",
    "function", "procedure", "current_date", "current_time",
    "current_timestamp", "current_user", "execute", "external", "get",
    "global", "identity", "immediate", "insensitive", "indicator", "open",
    "out", "output", "over", "prepare", "references", "restrict", "escape",
    "explain", "window", "where", "whenever", "work", "write", "xml")

  private def requireSafeIdent(kind: String, name: String): Unit =
    require(IdentPattern.matches(name) &&
      !Reserved.contains(name.toLowerCase(java.util.Locale.ROOT)),
      s"$kind '$name' cannot be used unquoted in SQL (must match " +
        "[A-Za-z][A-Za-z0-9_]* and not be a reserved word); rename it " +
        "before writing through the JDBC sink")

  /** Merge one micro-batch of emitted changelog rows into `table` of the
    * Derby database under `path`. Creates the table (payload columns +
    * `graft_offset`, PK on `keyCols`) on first use. */
  def mergeInto(batch: DataFrame, keyCols: Seq[String], path: String,
      table: String): Unit = {
    val payload = batch.schema.fieldNames.filterNot(MetaCols.contains).toSeq
    requireSafeIdent("table", table)
    payload.foreach(requireSafeIdent("column", _))
    val payloadFields = payload.map(n => batch.schema(n))
    ensureTable(path, table, payloadFields, keyCols)

    // newest event per key within the batch — one upsert/tombstone per key
    val newest = graft.cdc.Materialize
      .newest(batch, keyCols, OffsetCol +: payload)
      .select(col(s"__v.$OpCol").as("gop") +: col(s"__v.$OffsetCol").as("goff")
        +: payload.map(c => col(s"__v.$c").as(c)): _*)

    val nonKey = payload.filterNot(keyCols.contains)
    val keyCond = keyCols.map(k => s"$k = ?").mkString(" AND ")
    // every event — upsert OR tombstone — is the same guarded pair: the
    // UPDATE touches an existing row only when strictly newer; the INSERT
    // fires only when the key has never been seen
    val updateSql =
      s"UPDATE $table SET ${(nonKey ++ Seq(DelCol, OffCol)).map(c => s"$c = ?").mkString(", ")} " +
        s"WHERE $keyCond AND $OffCol < ?"
    val insertSql =
      s"INSERT INTO $table (${(payload ++ Seq(DelCol, OffCol)).mkString(", ")}) " +
        s"SELECT ${(payload ++ Seq(DelCol, OffCol)).map(_ => "?").mkString(", ")} " +
        s"FROM SYSIBM.SYSDUMMY1 " +
        s"WHERE NOT EXISTS (SELECT 1 FROM $table WHERE $keyCond)"

    val fieldTypes: Map[String, DataType] =
      payloadFields.map(f => f.name -> f.dataType).toMap
    newest.foreachPartition {
      (rows: Iterator[org.apache.spark.sql.Row]) =>
        if (rows.nonEmpty) {
          val c = JdbcCdcDialect.borrow(path)
          try {
            // one transaction per partition: per-statement autocommit would
            // force a log flush per row (10× slower), and partition
            // atomicity means a crash rolls back cleanly for replay
            c.setAutoCommit(false)
            val upd = c.prepareStatement(updateSql)
            val ins = c.prepareStatement(insertSql)
            rows.foreach { r =>
              val op = r.getString(0)
              val off = r.getLong(1)
              val tomb = op == RowKind.Delete
              def v(name: String): Any =
                if (tomb && !keyCols.contains(name)) null
                else r.get(2 + payload.indexOf(name))
              var p = 1
              nonKey.foreach { cn => setVal(upd, p, fieldTypes(cn), v(cn)); p += 1 }
              upd.setBoolean(p, tomb); p += 1
              upd.setLong(p, off); p += 1
              keyCols.foreach { k => setVal(upd, p, fieldTypes(k), v(k)); p += 1 }
              upd.setLong(p, off)
              upd.addBatch()
              var q = 1
              payload.foreach { cn => setVal(ins, q, fieldTypes(cn), v(cn)); q += 1 }
              ins.setBoolean(q, tomb); q += 1
              ins.setLong(q, off); q += 1
              keyCols.foreach { k => setVal(ins, q, fieldTypes(k), v(k)); q += 1 }
              ins.addBatch()
            }
            upd.executeBatch(); ins.executeBatch()
            c.commit()
            upd.close(); ins.close()
          } finally {
            try c.setAutoCommit(true)
            catch { case _: java.sql.SQLException => () }
            JdbcCdcDialect.giveBack(path, c)
          }
        }
    }
  }

  /** Read the sink table back as a DataFrame through Spark's JDBC source
    * (lower-cased column names). */
  def readBack(spark: org.apache.spark.sql.SparkSession, path: String,
      table: String): DataFrame = {
    val df = spark.read.format("jdbc")
      .option("url", s"jdbc:derby:$path/derbydb")
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      .option("dbtable", table)
      .load()
    df.toDF(df.columns.map(_.toLowerCase): _*)
      .filter(!col(DelCol)).drop(DelCol, OffCol)
  }

  private def ensureTable(path: String, table: String,
      payload: Seq[StructField], keyCols: Seq[String]): Unit = {
    val c = JdbcCdcDialect.borrow(path)
    try {
      val cols = payload.map(f => s"${f.name} ${derbyType(f.dataType)}")
        .mkString(", ")
      try c.createStatement().executeUpdate(
        s"CREATE TABLE $table ($cols, $DelCol BOOLEAN NOT NULL, " +
          s"$OffCol BIGINT NOT NULL, " +
          s"PRIMARY KEY (${keyCols.mkString(", ")}))")
      catch { case _: java.sql.SQLException => () } // exists
    } finally JdbcCdcDialect.giveBack(path, c)
  }

  private def derbyType(dt: DataType): String = DerbyTypes.ddl(dt)

  private def setVal(ps: java.sql.PreparedStatement, idx: Int, dt: DataType,
      v: Any): Unit = DerbyTypes.bind(ps, idx, dt, v)

}
