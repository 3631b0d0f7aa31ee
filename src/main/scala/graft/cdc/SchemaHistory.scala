package graft.cdc

import graft.cdc.dialect.{CdcDialect, FileCdcDialect}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Schema (DDL) history of a captured table — the Spark re-expression of the
 * reference's database-history machinery (SURVEY §1.4):
 * `FlinkDatabaseHistory` / `EmbeddedFlinkDatabaseHistory` keep every
 * Debezium `TableChange` in engine state so a restarted job re-derives the
 * current schema; `includeSchemaChanges` surfaces the events to users
 * (MySqlSourceBuilder.java:195, MySqlRecordEmitter.java:95-107).
 *
 * Here the history is the log itself: schema-change records travel as
 * `__op = "ddl"` lines carrying the statement and the full post-change
 * schema DDL. A running query's schema is fixed at analysis time (Spark
 * cannot mutate a live plan), so:
 *   - the *effective* schema at the log head widens the source schema at
 *     analysis/restart time (the reference's restart-time re-derivation),
 *   - pre-DDL rows decode added columns as NULL (null-safe converters),
 *   - DDL events are exposed as their own DataFrame, not mixed into the
 *     row stream.
 */
object SchemaHistory {

  case class DdlEvent(offset: Long, tsMs: Long, db: String, table: String,
      ddl: String, schemaDdl: String)

  private def opDdlMark = "\"" + ChangeRecord.OpCol + "\":\"" +
    ChangeRecord.ExternalOp.SchemaChange + "\""

  /** All schema-change events of `table`, offset-ascending. The dialect
    * finds the lines carrying the DDL op marker (a raw byte search in the
    * file dialect) and only those are parsed — DDL lines are rare in a real
    * log, and this runs on every analysis of a read. */
  def events(path: String, table: String,
      dialect: CdcDialect = FileCdcDialect): Seq[DdlEvent] =
    dialect.logLinesContaining(path, table, opDdlMark)
      .flatMap { l =>
        val n = FileCdcDatabase.mapper.readTree(l)
        for {
          ddl <- Option(n.get(ChangeRecord.DdlCol))
          schemaDdl <- Option(n.get(ChangeRecord.SchemaDdlCol))
        } yield DdlEvent(
          n.get(ChangeRecord.OffsetCol).asLong(),
          n.get(ChangeRecord.TsCol).asLong(),
          n.get(ChangeRecord.DbCol).asText(),
          n.get(ChangeRecord.TableCol).asText(),
          ddl.asText(), schemaDdl.asText())
      }
      .toSeq

  /** Effective payload schema of `table` as of `atOffset`: the snapshot-time
    * schema evolved by every DDL event at or below the offset. */
  def effectiveSchema(path: String, table: String, atOffset: Long,
      dialect: CdcDialect = FileCdcDialect): StructType = {
    val base = dialect.tableMeta(path, table).schemaDdl
    val ddl = events(path, table, dialect)
      .filter(_.offset <= atOffset)
      .lastOption.map(_.schemaDdl).getOrElse(base)
    StructType.fromDDL(ddl)
  }

  /** The schema-change event stream as a DataFrame (the user surface of the
    * reference's `includeSchemaChanges`). */
  def eventsDf(spark: SparkSession, path: String, table: String,
      dialect: CdcDialect = FileCdcDialect): DataFrame = {
    import spark.implicits._
    events(path, table, dialect)
      .map(e => (e.offset, e.tsMs, e.db, e.table, e.ddl, e.schemaDdl))
      .toDF(ChangeRecord.OffsetCol, ChangeRecord.TsCol, ChangeRecord.DbCol,
        ChangeRecord.TableCol, "ddl", "schema_ddl")
  }
}
