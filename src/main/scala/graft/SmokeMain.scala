package graft
object SmokeMain {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val df = SparkEntry.entry(spark)
    println("SMOKE_ROWS=" + df.count())
    df.show(5)
    spark.stop()
  }
}
