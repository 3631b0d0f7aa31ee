package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated query names (local iteration)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = GraftSession.defaultCores
    val spark = GraftSession.local(cpus)
    new java.io.File(outDir).mkdirs()
    // per-query canonical result hash (rows sorted by string form) — lets a
    // later hash-mismatch be diagnosed post-hoc by diffing hashes.json
    // across re-runs without re-executing the whole suite
    val hashes = scala.collection.mutable.TreeMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        val back = spark.read.parquet(s"$outDir/$name")
        hashes(name) = ResultHash.hash(back.collect())
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // queries cache intermediates (LSH signature tables etc.) — drop them
      // between queries so a long verify pass doesn't accumulate executor
      // storage (same hygiene as Bench)
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/hashes.json"),
      hashes.map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}"))
    Files.writeString(Paths.get(s"$outDir/session_info.json"),
      "{" + q("spark.version") + ": " + q(spark.version) + ", " +
        q("cores") + ": " + q(cpus.toString) + ", " +
        q("spark.sql.shuffle.partitions") + ": " +
        q(spark.conf.get("spark.sql.shuffle.partitions")) + "}")
    spark.stop()
  }
}
