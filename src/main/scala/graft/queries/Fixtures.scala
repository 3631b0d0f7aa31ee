package graft.queries

import org.apache.spark.sql.SparkSession

/** One-time fixture materialization for the benchmark's untimed warmup.
  *
  * The CDC queries derive their fixtures (file changelog databases, the
  * Derby database, the bucketed tables, the quantized vectors and the
  * navigable graph) from the base parquet tables on first use; each is
  * built once per SF and kept. That build is one-time setup, not query
  * cost — building it here keeps it off whichever query happens to run
  * first in a timed pass.
  */
object Fixtures {
  private val all: Seq[(String, (SparkSession, String) => Any)] = Seq(
    "CdcSourceQueries.prepare" -> CdcSourceQueries.prepare,
    "CdcSourceQueries.prepareDdl" -> CdcSourceQueries.prepareDdl,
    "CdcSourceQueries.prepareJdbc" -> CdcSourceQueries.prepareJdbc,
    "CdcSourceQueries.prepareCustomer" -> CdcSourceQueries.prepareCustomer,
    "CdcSourceQueries.prepareTenant" -> CdcSourceQueries.prepareTenant,
    "CdcSurfaceQueries.prepareTrunc" -> CdcSurfaceQueries.prepareTrunc,
    "CdcSourceQueries.prepareTyped" -> CdcSourceQueries.prepareTyped,
    "CdcSourceQueries.prepareTz" -> CdcSourceQueries.prepareTz,
    "CdcSourceQueries.prepareMongo" -> CdcSourceQueries.prepareMongo,
    "CdcSourceQueries.prepareCharset" -> CdcSourceQueries.prepareCharset,
    "CdcSurfaceQueries.prepareSharded" -> CdcSurfaceQueries.prepareSharded,
    "CdcSurfaceQueries.prepareCorrupt" -> CdcSurfaceQueries.prepareCorrupt,
    "PipelineQueries.prepareBucketed" -> PipelineQueries.prepareBucketed,
    "DedupQueries.prepareDocs" -> DedupQueries.prepareDocs,
    "DedupQueries.prepareDocsReplay" -> DedupQueries.prepareDocsReplay,
    "SimilarityQueries.prepareVecsReplay" -> SimilarityQueries.prepareVecsReplay,
    "SimilarityQueries.prepareQvecs" -> SimilarityQueries.prepareQvecs,
    "SimilarityQueries.prepareNavGraph" -> SimilarityQueries.prepareNavGraph)

  /** Build every fixture for `sfDir`; the first that fails is named in
    * the exception it throws. */
  def prepareAll(spark: SparkSession, sfDir: String): Unit =
    all.foreach { case (name, prepare) =>
      try prepare(spark, sfDir)
      catch { case e: Exception =>
        throw new RuntimeException(s"fixture $name failed for $sfDir", e)
      }
    }
}
