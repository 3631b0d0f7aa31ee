package cdcbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

class GenSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]").appName("cdcbench-test")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()
  private lazy val tmp = Files.createTempDirectory("cdcbench-gen")

  override def afterAll(): Unit = {
    spark.stop()
    graft.QueryUtil.deleteRecursively(tmp.toFile)
  }

  private def sameLog(a: Gen.Log, b: Gen.Log): Boolean =
    a.op.sameElements(b.op) && a.key.sameElements(b.key) &&
      a.before.sameElements(b.before) && a.after.sameElements(b.after)

  test("the change log is a function of the seed") {
    for (dist <- Seq(Gen.Uniform, Gen.Zipf(1.1))) {
      assert(sameLog(Gen.changeLog(7, 500, 2000, dist), Gen.changeLog(7, 500, 2000, dist)))
      assert(!sameLog(Gen.changeLog(7, 500, 2000, dist), Gen.changeLog(8, 500, 2000, dist)))
    }
  }

  test("the log is consistent and has the 60/20/20 operation mix") {
    val log = Gen.changeLog(3, 1000, 20000, Gen.Uniform)
    // replay: every update and delete names a live key and carries the
    // version that key had; every insert names a fresh key
    val version = scala.collection.mutable.Map[Long, Long]() ++
      (0L until 1000L).map(_ -> 0L)
    (0 until log.size).foreach { i =>
      val k = log.key(i)
      log.op(i) match {
        case Gen.Insert =>
          assert(!version.contains(k) && log.before(i) == -1)
          version(k) = i + 1L
        case Gen.Update =>
          assert(version.get(k).contains(log.before(i)))
          version(k) = i + 1L
        case Gen.Delete =>
          assert(version.get(k).contains(log.before(i)) && log.after(i) == -1)
          version.remove(k)
      }
    }
    val counts = log.op.groupBy(identity).view.mapValues(_.length.toDouble / log.size).toMap
    assert(math.abs(counts(Gen.Update) - 0.6) < 0.02)
    assert(math.abs(counts(Gen.Insert) - 0.2) < 0.02)
    assert(math.abs(counts(Gen.Delete) - 0.2) < 0.02)
    // the ground truth is the same replay
    assert(log.stateAt(log.size) == Gen.checksum(version.iterator.map {
      case (k, v) => Gen.image(3, k, v)
    }))
  }

  test("Zipf update keys are skewed") {
    val log = Gen.changeLog(5, 5000, 20000, Gen.Zipf(1.1))
    val hits = log.key.indices.filter(log.op(_) == Gen.Update).groupBy(log.key(_))
      .values.map(_.size).toSeq.sorted.reverse
    // the hottest key gets far more than a uniform share
    assert(hits.head > 20 * hits.sum / hits.size)
  }

  test("group deltas net out each event's before and after image") {
    val log = Gen.changeLog(9, 300, 3000, Gen.Uniform)
    val d = log.groupDeltasAt(log.size)
    // net rows over all groups = inserts - deletes
    assert(d.values.map(_._1).sum ==
      log.op.count(_ == Gen.Insert) - log.op.count(_ == Gen.Delete))
    assert(log.groupDeltasAt(0).isEmpty)
  }

  test("same seed, same files; another seed, other files") {
    val log = Gen.changeLog(11, 400, 600, Gen.Uniform)
    Seq("a", "b").foreach(d =>
      Gen.writeDb(spark, tmp.resolve(d).toString, 11, 400, log, 600))
    Gen.writeDb(spark, tmp.resolve("c").toString, 12, 400,
      Gen.changeLog(12, 400, 600, Gen.Uniform), 600)
    val Seq(a, b, c) = Seq("a", "b", "c").map(d => Gen.digest(tmp.resolve(d).toString))
    assert(a == b)
    assert(a != c)
  }

  test("pending log files split the tail at whole events") {
    val log = Gen.changeLog(13, 100, 95, Gen.Zipf(1.1))
    val dir = tmp.resolve("pending")
    Files.createDirectories(dir)
    val files = Gen.writePending(spark, dir.toString, log, 0, 10)
    assert(files.map(f => (f._2, f._3)) ==
      (0 until 10).map(k => (k * 10L, math.min(95L, k * 10L + 10))))
    assert(files.map(f => Files.readAllLines(f._1).size).sum == 95)
  }
}
