package cdcbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("a percentile needs at least 10 samples beyond it") {
    assert(Stats.minSamples(90) == 100)
    assert(Stats.minSamples(50) == 20)
    assert(Stats.minSamples(99) == 1000)
    val xs99 = (1 to 99).map(_.toDouble)
    intercept[IllegalArgumentException](Stats.percentile(xs99, 90))
    assert(Stats.percentile(xs99 :+ 100.0, 90) == 90.0)
    intercept[IllegalArgumentException](Stats.percentile((1 to 19).map(_.toDouble), 50))
    assert(Stats.percentile((1 to 20).map(_.toDouble), 50) == 10.0)
  }

  test("percentile is nearest-rank and ignores input order") {
    val xs = scala.util.Random.shuffle((1 to 200).map(_.toDouble))
    assert(Stats.percentile(xs, 50) == 100.0)
    assert(Stats.percentile(xs, 90) == 180.0)
  }

  test("median of repeats") {
    assert(Stats.median(Seq(3.0)) == 3.0)
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    intercept[IllegalArgumentException](Stats.median(Nil))
  }

  test("freshness: commit time of the first trigger covering each event, minus its due time") {
    import Stats.{Commit, Publish}
    // three files of events (0,2], (2,4], (4,6]; the stream commits
    // offset 3 at t=1500 and offset 6 at t=2600, and never offset 7
    val publishes = Seq(Publish(0, 2, 1000), Publish(2, 4, 1100),
      Publish(4, 6, 1200), Publish(6, 7, 2500))
    val commits = Seq(Commit(6, 2600), Commit(3, 1500))
    assert(Stats.freshness(publishes, commits) ==
      Seq(500.0, 500.0, 400.0, 1500.0, 1400.0, 1400.0))
  }

  test("freshness of events committed by the trigger right after they are due") {
    import Stats.{Commit, Publish}
    val publishes = (0 until 10).map(k => Publish(k * 5L, k * 5L + 5, 100L * k))
    val commits = (0 until 10).map(k => Commit(k * 5L + 5, 100L * k + 30))
    assert(Stats.freshness(publishes, commits) == Seq.fill(50)(30.0))
  }
}
