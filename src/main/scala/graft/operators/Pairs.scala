package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * All pairs of ids that share a key: the posting-list step of a set
 * similarity join ("Distributed Streaming Set Similarity Join", ICDE 2020),
 * and the candidate step of every blocked dedup operator. Both shapes emit
 * one row per (pair, shared key), so a pair sharing n keys appears n times;
 * callers count or dedupe.
 */
object Pairs {

  /** Self-join of `df` on equal `keys` (one or more): one row per
    * (a, b, shared key) with `a.id < b.id`, or with `a.id != b.id` when
    * `ordered` (each pair in both directions). The sides are aliased `a`
    * and `b`, so callers select `col("a.x")`, `col("b.x")`. The condition
    * is built left to right, key equalities in order and the id guard
    * last. Safe for unbounded keys: the join never holds a key's group in
    * one row. */
  def withinKey(df: DataFrame, keys: Seq[String], id: String,
      ordered: Boolean = false): DataFrame = {
    val guard =
      if (ordered) col(s"a.$id") =!= col(s"b.$id")
      else col(s"a.$id") < col(s"b.$id")
    val eq = keys.map(k => col(s"a.$k") === col(s"b.$k")).reduceLeft(_ && _)
    df.as("a").join(df.as("b"), eq && guard)
  }

  /** The `a.id < b.id` pairs of [[withinKey]] projected to ids, as columns
    * `out`, built without a self-join: each key's ids are collected into
    * one sorted array, each element is paired with the elements after it,
    * and the frame is evaluated once instead of once per join side.
    *
    * Same multiset as the self-join: over the sorted list the elements at
    * later positions than x's are exactly those >= x, so slicing after x's
    * position (`slice(ds, i + 2, ...)`: `posexplode` is 0-based, `slice`
    * 1-based) and keeping `y > x` drops only the equal ids, which `<`
    * drops too. Every step is a codegen expression; a higher-order
    * `filter` lambda would be interpreted per array element.
    *
    * `gate` keeps only the pairs whose smaller id passes it, applied to
    * each element before its partners are exploded.
    *
    * Precondition: the caller has df-capped every key. `collect_list`
    * holds a whole posting list in one row, so an uncapped hot key puts
    * the corpus in one row and its pairs in one task; use [[withinKey]]
    * for unbounded keys. */
  def withinCappedKey(postings: DataFrame, keys: Seq[String], id: String,
      out: (String, String) = ("id_a", "id_b"),
      gate: Option[Column => Column] = None): DataFrame = {
    val (lo, hi) = out
    val lows = postings.groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(col(id))).as("ds"))
      .select(col("ds"), posexplode(col("ds")).as(Seq("i", lo)))
    gate.fold(lows)(g => lows.filter(g(col(lo))))
      .select(col(lo),
        explode(slice(col("ds"), col("i") + lit(2), size(col("ds")))).as(hi))
      .filter(col(hi) > col(lo))
  }
}
