package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Changelog emission and materialization — the piece Flink's retract-stream
 * runtime gave the reference for free (SURVEY §0 consequence (d)).
 *
 * The reference's host engine consumes rows tagged with a RowKind
 * (RowDataDebeziumDeserializeSchema.java:118-146) and its aggregate operators
 * retract automatically. Spark SQL aggregates over plain rows, so the engine
 * exposes:
 *   1. [[emit]] — envelope → flat changelog rows (`__op` ∈ +I/-U/+U/-D),
 *      retract (ALL) or upsert mode (DebeziumChangelogMode.java:20-27);
 *   2. [[materialize]] — changelog rows → current table state, a single
 *      hash-aggregate by primary key (`max_by` keeps the newest image).
 *
 * Scale note: materialize is ONE shuffle on the PK with map-side partial
 * aggregation (max_by combines locally), no sort and no window — at 100 TB
 * this is the minimal-cost reduction; AQE handles skewed keys.
 */
object Materialize {

  import ChangeRecord._

  /**
   * Flatten an envelope stream into emitted changelog rows.
   * CREATE/READ → +I(after); DELETE → -D(before); UPDATE → -U(before) then
   * +U(after) in ALL mode, +U only in UPSERT mode — exactly the dispatch in
   * RowDataDebeziumDeserializeSchema.java:123-145.
   *
   * Emitted schema: payload columns ++ __op, __offset, __ts_ms, __db, __table.
   * Within one offset, -U orders before +U via a sub-step in the sort key.
   */
  def emit(envelope: DataFrame, mode: ChangelogMode = ChangelogAll): DataFrame = {
    val payload = envelope.schema(AfterCol).dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq

    def flatOf(df: DataFrame, img: String, kind: String) = {
      val cols = payload.map(c => col(s"$img.$c").as(c)) ++ Seq(
        lit(kind).as(OpCol), col(OffsetCol), col(TsCol), col(DbCol), col(TableCol))
      df.select(cols: _*)
    }
    val inserts = flatOf(
      envelope.filter(col(OpCol).isin(ExternalOp.Create, ExternalOp.Read)),
      AfterCol, RowKind.Insert)
    val deletes = flatOf(envelope.filter(col(OpCol) === ExternalOp.Delete),
      BeforeCol, RowKind.Delete)
    val updAfter = flatOf(envelope.filter(col(OpCol) === ExternalOp.Update),
      AfterCol, RowKind.UpdateAfter)

    val base = inserts.unionByName(deletes).unionByName(updAfter)
    mode match {
      case ChangelogUpsert => base
      case ChangelogAll =>
        base.unionByName(flatOf(
          envelope.filter(col(OpCol) === ExternalOp.Update),
          BeforeCol, RowKind.UpdateBefore))
    }
  }

  /**
   * Current-state view of an emitted changelog: newest non-delete image per
   * primary key. Equivalent to the reference's downstream Flink-SQL
   * materialization; implemented as a keyed `max_by` aggregate
   * (one shuffle, partial agg, no sort).
   *
   * `-U` rows are ignored (they carry a stale image by construction); ties on
   * offset are broken by preferring the row kind that sorts later
   * (+U > +I > -D never collide at one offset for one key in a valid log).
   */
  def materialize(emitted: DataFrame, keyCols: Seq[String]): DataFrame = {
    val payload = emitted.schema.fieldNames.filterNot(MetaCols.contains).toSeq
    newest(emitted, keyCols, payload)
      .filter(col(s"__v.$OpCol") =!= RowKind.Delete)
      .select(payload.map(c => col(s"__v.$c").as(c)): _*)
  }

  /** The newest-wins reduction of every materializer ([[materialize]],
    * [[UpsertSink.mergeInto]], `JdbcUpsertSink.mergeInto`): drop `-U` rows,
    * then keep per `keys` the row with the greatest `__offset`, as `keys`
    * ++ `__v` = struct(`__op`, `fields`…). A key whose newest row is a `-D`
    * keeps it; the caller drops it or stores a tombstone. */
  private[cdc] def newest(rows: DataFrame, keys: Seq[String],
      fields: Seq[String]): DataFrame =
    rows.filter(col(OpCol) =!= RowKind.UpdateBefore)
      .groupBy(keys.map(col): _*)
      .agg(max_by(struct((col(OpCol) +: fields.map(col)): _*),
        col(OffsetCol)).as("__v"))

  /** Envelope → current state in one call. */
  def materializeEnvelope(envelope: DataFrame, keyCols: Seq[String]): DataFrame =
    materialize(emit(envelope, ChangelogUpsert), keyCols)
}
