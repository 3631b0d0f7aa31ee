package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property test of the two pair shapes against a nested loop over the
  * generated postings: [[Pairs.withinCappedKey]] and [[Pairs.withinKey]]
  * projected to ids give the same multiset, `ordered` gives both
  * directions, and `gate` keeps exactly the pairs whose smaller id passes.
  * Postings have one or two key columns, duplicate ids inside a key,
  * singleton keys, no rows at all, and negative ids.
  *
  * Seeds are printed; set GRAFT_PROP_SEED to replay or explore another
  * one, GRAFT_PROP_CASES to change the number of posting tables. */
class PairsSpec extends SparkSpecBase {
  import PairsSpec._

  private val seed: Long =
    sys.env.get("GRAFT_PROP_SEED").map(_.toLong).getOrElse(20261018L)
  private val cases: Int =
    sys.env.get("GRAFT_PROP_CASES").map(_.toInt).getOrElse(12)

  /** Every generated table in one frame, each in its own k1 range. */
  private def postingsOfAllCases: Seq[Posting] = (1 to cases).flatMap { k =>
    postings.pureApply(Gen.Parameters.default, Seed(seed * 1000003L + k))
      .map(p => p.copy(k1 = k * 1000 + p.k1))
  }

  /** Multiset of id pairs, as sorted (pair, count) rows. */
  private def bag(ps: Seq[(Long, Long)]): Seq[((Long, Long), Int)] =
    ps.groupBy(identity).view.mapValues(_.size).toSeq.sorted

  /** Every row pair sharing the key (the rows' own key columns) whose ids
    * satisfy `keep`, as the nested loop sees it. */
  private def naive(ps: Seq[Posting], key: Posting => Any)(
      keep: (Long, Long) => Boolean): Seq[(Long, Long)] =
    for {
      x <- ps; y <- ps
      if key(x) == key(y) && keep(x.id, y.id)
    } yield (x.id, y.id)

  private val gate: Column => Column = c => c % 3 === 0
  private val gateNaive: Long => Boolean = _ % 3 == 0

  /** Each shape's pairs over `ps` against the nested loop's, all shapes
    * collected in one job. Returns the number of `<` pairs. */
  private def check(ps: Seq[Posting], keys: Seq[String],
      key: Posting => Any): Int = {
    val sp = spark
    import sp.implicits._
    val df = ps.toDF()
    val lt = naive(ps, key)(_ < _)
    // (shape, frame, its two id columns, the nested loop's pairs)
    val shapes = Seq(
      ("withinCappedKey", Pairs.withinCappedKey(df, keys, "id"),
        "id_a", "id_b", lt),
      ("withinCappedKey out", Pairs.withinCappedKey(df, keys, "id",
        out = ("lo", "hi")), "lo", "hi", lt),
      ("withinKey", Pairs.withinKey(df, keys, "id"), "a.id", "b.id", lt),
      ("withinKey ordered", Pairs.withinKey(df, keys, "id", ordered = true),
        "a.id", "b.id", naive(ps, key)(_ != _)),
      ("withinCappedKey gate", Pairs.withinCappedKey(df, keys, "id",
        gate = Some(gate)), "id_a", "id_b",
        naive(ps, key)((x, y) => x < y && gateNaive(x))))
    val got = shapes
      .map { case (what, d, a, b, _) => d.select(lit(what), col(a), col(b)) }
      .reduce(_.union(_)).collect()
      .groupBy(_.getString(0)).view
      .mapValues(_.map(r => (r.getLong(1), r.getLong(2))).toSeq)
    shapes.foreach { case (what, _, _, _, want) =>
      val g = got.getOrElse(what, Nil)
      if (bag(g) != bag(want))
        fail(s"seed $seed: $what: missing ${want.diff(g).distinct.take(5)}" +
          s", extra ${g.diff(want).distinct.take(5)}")
    }
    lt.size
  }

  for ((name, keys, key) <- Seq[(String, Seq[String], Posting => Any)](
      ("one key column", Seq("k1"), p => p.k1),
      ("two key columns", Seq("k1", "k2"), p => (p.k1, p.k2)))) {
    test(s"pair shapes equal the nested loop: $name") {
      println(s"PairsSpec $name: seed=$seed cases=$cases")
      val pairs = check(postingsOfAllCases, keys, key)
      println(s"PairsSpec $name: $pairs pairs over $cases tables")
      // the comparison must see pairs at all
      assert(pairs > cases)
      assert(check(Nil, keys, key) === 0)
    }
  }
}

object PairsSpec {
  case class Posting(k1: Int, k2: Int, id: Long)

  /** One key's postings: a singleton or up to eight ids drawn from a
    * small range around zero, so duplicates and negatives are common. */
  private def group(k1: Int, k2: Int): Gen[Seq[Posting]] =
    Gen.frequency(2 -> Gen.const(1), 5 -> Gen.choose(2, 8))
      .flatMap(n => Gen.listOfN(n, Gen.choose(-6L, 6L)))
      .map(_.map(Posting(k1, k2, _)))

  /** One to 40 keys. Key i is (i / 3, i % 3), so keys share k1 values
    * and only the pair (k1, k2) tells them apart. */
  val postings: Gen[Seq[Posting]] =
    Gen.choose(1, 40).flatMap { n =>
      Gen.sequence[Seq[Seq[Posting]], Seq[Posting]](
        (0 until n).map(i => group(i / 3, i % 3))).map(_.flatten)
    }
}
