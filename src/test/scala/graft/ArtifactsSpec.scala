package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The write-once publish protocol of [[Artifacts]]: staged builds,
  * atomic publish, and the sweeps of old versions and dead stagings.
  * Every target lives under `Artifacts.Root` with a name unique to this
  * run, and is deleted afterwards. */
class ArtifactsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val prefix = s"artifacts_spec_${System.nanoTime()}"
  private val sf = "/data/sfT"

  override def afterAll(): Unit =
    Option(new java.io.File(Artifacts.Root).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith(prefix))
      .foreach(QueryUtil.deleteRecursively)

  private def touch(p: Path, text: String = "x"): Path = {
    Files.createDirectories(p.getParent)
    Files.writeString(p, text)
  }

  private def names(dir: Path): Set[String] =
    Option(dir.toFile.list()).map(_.toSet).getOrElse(Set.empty)

  private def stagings(dir: Path): Set[String] =
    names(dir).filter(_.startsWith(".staging-"))

  private def done(p: Path) = Files.isRegularFile(p.resolve("_DONE"))

  /** Runs each body on its own thread and waits for all of them. */
  private def concurrently[A](bodies: Seq[() => A]): Seq[A] = {
    val pool = Executors.newFixedThreadPool(bodies.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(bodies.map(b => Future(b()))), 60.seconds)
    finally pool.shutdown()
  }

  test("two staged builds race to publish: one wins, the loser's staging " +
      "is dropped, the reader sees the winner's whole build") {
    val target = Paths.get(Artifacts.dir(s"${prefix}_race_v1", sf))
    // both builds finish before either publishes
    val bothBuilt = new CyclicBarrier(2)
    val won = concurrently(Seq("a", "b").map { who => () =>
      who -> Artifacts.publish(target, replace = false, done) { stage =>
        (1 to 3).foreach(i => touch(stage.resolve(s"part-$i"), who))
        touch(stage.resolve("_DONE"))
        bothBuilt.await(60, TimeUnit.SECONDS)
      }
    }).collect { case (who, true) => who }
    assert(won.size === 1)
    assert(names(target) === Set("part-1", "part-2", "part-3", "_DONE"))
    (1 to 3).foreach { i =>
      assert(Files.readString(target.resolve(s"part-$i")) === won.head)
    }
    assert(stagings(target.getParent).isEmpty)
  }

  test("a build that throws publishes nothing, and the next once rebuilds") {
    val name = s"${prefix}_fail"
    intercept[IllegalStateException] {
      Artifacts.once(name, 1, sf) { out =>
        touch(Paths.get(out, "half"))
        throw new IllegalStateException("build failed halfway")
      }
    }
    val target = Paths.get(Artifacts.dir(s"${name}_v1", sf))
    assert(!Files.exists(target))
    assert(stagings(target.getParent).isEmpty)
    var built = false
    val out = Artifacts.once(name, 1, sf) { out =>
      touch(Paths.get(out, "whole")); built = true
    }
    assert(built)
    assert(out === target.toString)
    assert(names(target) === Set("whole", "_DONE"))
  }

  test("a final dir without _DONE is rebuilt; one with it is kept") {
    val name = s"${prefix}_legacy"
    val target = Paths.get(Artifacts.dir(s"${name}_v1", sf))
    touch(target.resolve("stale"))
    Artifacts.once(name, 1, sf)(out => touch(Paths.get(out, "fresh")))
    assert(names(target) === Set("fresh", "_DONE"))
    Artifacts.once(name, 1, sf)(_ => fail("a published artifact was rebuilt"))
  }

  test("staging dirs of dead processes are swept, live ones kept") {
    val name = s"${prefix}_dead"
    val parent = Paths.get(Artifacts.dir(s"${name}_v1", sf)).getParent
    val child = new ProcessBuilder("true").start()
    assert(child.waitFor(60, TimeUnit.SECONDS))
    val dead = s".staging-${child.pid()}-1"
    val live = s".staging-${ProcessHandle.current().pid()}-0"
    Seq(dead, live).foreach(s => touch(parent.resolve(s).resolve("sfT/junk")))
    Artifacts.once(name, 1, sf)(out => touch(Paths.get(out, "f")))
    assert(stagings(parent) === Set(live))
  }

  test("a version bump removes every older version of that name only") {
    val name = s"${prefix}_x"
    val others = Seq(s"${name}y_v1", s"${name}_v1x", s"${name}_w")
    (Seq(s"${name}_v1", s"${name}_v2") ++ others).foreach { d =>
      touch(Paths.get(Artifacts.dir(d, sf), "f"))
    }
    Artifacts.once(name, 3, sf)(out => touch(Paths.get(out, "f")))
    val left = names(Paths.get(Artifacts.Root)).filter(_.startsWith(name))
    assert(left === (others :+ s"${name}_v3").toSet)
  }

  test("the unversioned dir of a build from before versioning is swept " +
    "as version 0") {
    val name = s"${prefix}_bare"
    val other = s"${name}x"
    Seq(name, other).foreach(d => touch(Paths.get(Artifacts.dir(d, sf), "f")))
    Artifacts.once(name, 1, sf)(out => touch(Paths.get(out, "f")))
    val left = names(Paths.get(Artifacts.Root)).filter(_.startsWith(name))
    assert(left === Set(other, s"${name}_v1"))
  }

  test("a build may call once for another target without deadlock") {
    val outer = s"${prefix}_outer"
    val inner = s"${prefix}_inner"
    val Seq(out) = concurrently(Seq(() =>
      Artifacts.once(outer, 1, sf) { out =>
        val in = Artifacts.once(inner, 1, sf)(o => touch(Paths.get(o, "i")))
        Files.copy(Paths.get(in, "i"), Paths.get(out, "i"))
      }))
    assert(names(Paths.get(out)) === Set("i", "_DONE"))
    assert(done(Paths.get(Artifacts.dir(s"${inner}_v1", sf))))
  }
}
