package graft

/** Local stand-in for the driver's t1 smoke: runs SparkEntry.entry on
  * sf0.001 and prints the row count (driver checks rows > 0).
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    df.show(5, truncate = false)
    println(s"[smoke] entry rows=${df.count()}")
    spark.stop()
  }
}
