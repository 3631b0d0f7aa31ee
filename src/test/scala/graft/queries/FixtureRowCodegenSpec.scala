package graft.queries

import graft.SparkSpecBase
import graft.queries.CdcSourceQueries.{CharsetSrcRow, MongoSrcRow, TypedSrcRow}

/** The CDC fixtures' wire rows must encode in generated code. A `private`
  * case class leaves janino unable to call its accessors, and Spark then
  * runs every plan that encodes it interpreted. Codegen-only mode with no
  * fallback turns that silent fallback into a failure. */
class FixtureRowCodegenSpec extends SparkSpecBase {
  test("fixture wire rows map through generated code only") {
    val sp = spark
    import sp.implicits._
    withConf("spark.sql.codegen.fallback" -> "false",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY") {
      val ks = Seq(1L, 2L, 3L).toDS()
      // collect() runs each row class's serializer and deserializer
      assert(ks.map(k => TypedSrcRow(k, "NEW", "AQ==", 4326, 7, k % 2))
        .collect().map(_.bal).toSeq === Seq(1L, 0L, 1L))
      assert(ks.map(k => CharsetSrcRow(k, "Y2Fm", "5pWw", k * 10))
        .collect().map(_.v).toSeq === Seq(10L, 20L, 30L))
      assert(ks.map(k => MongoSrcRow(k, f"$k%024x", s"$k.25", "AA==", -k))
        .collect().map(_.v).toSeq === Seq(-1L, -2L, -3L))
    }
  }
}
