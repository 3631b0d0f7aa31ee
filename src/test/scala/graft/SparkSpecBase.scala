package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole forked test JVM: four cores
  * whatever the host, because specs size partitions against `local[4]`
  * (SnapshotPartitionSizingSpec, OverlayIndexSpec). */
object TestSpark {
  lazy val session: SparkSession = {
    val s = GraftSession.local(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.session

  /** Fails the suite that leaves a streaming query running: the session is
    * shared, so a leaked query would keep running through every later
    * suite. The leaked queries are stopped first, so only this suite fails. */
  override def afterAll(): Unit =
    try SparkSession.getDefaultSession.foreach { s =>
      val leaked = s.streams.active
      leaked.foreach(_.stop())
      if (leaked.nonEmpty) fail("streaming queries left running: " +
        leaked.map(q => Option(q.name).getOrElse(q.id.toString)).mkString(", "))
    } finally super.afterAll()

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Sets session confs for `body`, then restores the previous values. */
  def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
