package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{BitwiseCount, BitwiseXor, Expression, ExpressionInfo, Literal, Multiply, Round, Sqrt}
import org.apache.spark.sql.catalyst.expressions.Divide

/**
 * SQL surface for the native sketching expressions — `spark.sql(...)` users
 * get the same codepaths as the Column API (SURVEY §2.6: the UDF/extension
 * boundary; the reference's equivalent is the per-connector factory SPI).
 * Register with a session builder's `withExtensions(new GraftExtensions)`,
 * `spark.sql.extensions=graft.functions.GraftExtensions` or `register(spark)`:
 *
 *   graft_shingle_hashes(text, k)   -> ARRAY<BIGINT>  60-bit shingle hashes
 *   graft_minhash(hashes, n)        -> ARRAY<BIGINT>  minhash signature
 *   graft_simhash(text, bits)       -> BIGINT         simhash
 *   graft_vec_dot(a, b)             -> DOUBLE         sequential-fold dot
 *   graft_hamming(a, b)             -> INT            popcount(a XOR b)
 *   graft_cosine(a, b)              -> DOUBLE         6-dp-rounded cosine
 *   graft_zvalue(a, b, bits)        -> BIGINT         Morton bit-interleave
 *   graft_k_minima(h, k)            -> ARRAY<BIGINT>  k smallest distinct
 *                                                     (aggregate, O(k) state)
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intLit(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal INT, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_shingle_hashes"),
      new ExpressionInfo(classOf[ShingleMd5Hashes].getName, "graft_shingle_hashes"),
      (args: Seq[Expression]) =>
        ShingleMd5Hashes(args.head, intLit(args(1), "graft_shingle_hashes"))))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashSig].getName, "graft_minhash"),
      (args: Seq[Expression]) =>
        MinHashSig(args.head, intLit(args(1), "graft_minhash"))))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHashText].getName, "graft_simhash"),
      (args: Seq[Expression]) =>
        SimHashText(args.head, intLit(args(1), "graft_simhash"))))
    ext.injectFunction((
      FunctionIdentifier("graft_vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "graft_vec_dot"),
      (args: Seq[Expression]) => VecDot(args.head, args(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_hamming"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "graft_hamming"),
      (args: Seq[Expression]) => GraftExtensions.hammingExpr(args)))
    ext.injectFunction((
      FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "graft_cosine"),
      (args: Seq[Expression]) => GraftExtensions.cosineExpr(args)))
    ext.injectFunction((
      FunctionIdentifier("graft_zvalue"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "graft_zvalue"),
      (args: Seq[Expression]) => GraftExtensions.zvalueExpr(args.head,
        args(1), intLit(args(2), "graft_zvalue"))))
    ext.injectFunction((
      FunctionIdentifier("graft_k_minima"),
      new ExpressionInfo(classOf[KMinimaAgg].getName, "graft_k_minima"),
      (args: Seq[Expression]) =>
        KMinimaAgg(args.head, intLit(args(1), "graft_k_minima"))))
    ext.injectFunction((
      FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(classOf[BloomAgg].getName, "graft_bloom_agg"),
      (args: Seq[Expression]) => BloomAgg(args.head,
        intLit(args(1), "graft_bloom_agg"),
        intLit(args(2), "graft_bloom_agg"))))
    ext.injectFunction((
      FunctionIdentifier("graft_bloom_contains"),
      new ExpressionInfo(classOf[BloomMightContain].getName,
        "graft_bloom_contains"),
      (args: Seq[Expression]) => BloomMightContain(args.head, args(1),
        intLit(args(2), "graft_bloom_contains"))))
  }
}

object GraftExtensions {
  /** Imperative registration on an existing session (tests, notebooks). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def add(name: String, builder: Seq[Expression] => Expression): Unit =
      reg.registerFunction(FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        builder)
    def intLit(e: Expression, fn: String): Int = e match {
      case Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"$fn expects a literal INT, got $other")
    }
    add("graft_shingle_hashes",
      args => ShingleMd5Hashes(args.head, intLit(args(1), "graft_shingle_hashes")))
    add("graft_minhash",
      args => MinHashSig(args.head, intLit(args(1), "graft_minhash")))
    add("graft_simhash",
      args => SimHashText(args.head, intLit(args(1), "graft_simhash")))
    add("graft_vec_dot", args => VecDot(args.head, args(1)))
    add("graft_hamming", hammingExpr)
    add("graft_cosine", cosineExpr)
    add("graft_zvalue", args =>
      zvalueExpr(args.head, args(1), intLit(args(2), "graft_zvalue")))
    add("graft_k_minima", args =>
      KMinimaAgg(args.head, intLit(args(1), "graft_k_minima")))
    add("graft_bloom_agg", args => BloomAgg(args.head,
      intLit(args(1), "graft_bloom_agg"),
      intLit(args(2), "graft_bloom_agg")))
    add("graft_bloom_contains", args => BloomMightContain(args.head,
      args(1), intLit(args(2), "graft_bloom_contains")))
  }

  /** popcount(a XOR b) — same composition as the Column-side hamming. */
  private[functions] def hammingExpr(args: Seq[Expression]): Expression =
    BitwiseCount(BitwiseXor(args.head, args(1)))

  /** round(dot/(|a|·|b|), 6) — same composition as the Column-side cosine
    * (one native fold per dot; determinism contract unchanged). */
  private[functions] def cosineExpr(args: Seq[Expression]): Expression = {
    val (a, b) = (args.head, args(1))
    Round(Divide(VecDot(a, b),
      Multiply(Sqrt(VecDot(a, a)), Sqrt(VecDot(b, b)))),
      Literal(6))
  }

  /** Morton (Z-order) interleave of the low `bits` of two BIGINTs — the
    * multi-dimensional clustering key behind `layout_zorder`. A fold of
    * codegen'd bit ops (exact integers, engine-portable). */
  private[functions] def zvalueExpr(a0: Expression, b0: Expression,
      bits: Int): Expression = {
    require(bits >= 1 && bits <= 31,
      s"graft_zvalue bits must be in [1, 31]: $bits")
    import org.apache.spark.sql.catalyst.expressions.{BitwiseAnd, BitwiseOr, Cast, ShiftLeft, ShiftRight}
    import org.apache.spark.sql.types.LongType
    val a = Cast(a0, LongType); val b = Cast(b0, LongType)
    def bit(e: Expression, i: Int, pos: Int): Expression =
      ShiftLeft(BitwiseAnd(ShiftRight(e, Literal(i)), Literal(1L)),
        Literal(pos))
    (0 until bits).foldLeft(Literal(0L): Expression) { (acc, i) =>
      BitwiseOr(acc, BitwiseOr(bit(a, i, 2 * i), bit(b, i, 2 * i + 1)))
    }
  }

  /** Column-side twin of [[zvalueExpr]]. */
  def zvalue(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
      bits: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(zvalueExpr(ColumnBridge.expression(a),
      ColumnBridge.expression(b), bits))
  }
}
