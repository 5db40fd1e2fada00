package graft

/** Smoke main: runs the flagship SparkEntry.entry in the session users run
  * ([[GraftSession.local]]) and prints its row count + first rows. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    println(s"entry rows=${df.count()}")
    df.show(5, truncate = false)
    spark.stop()
  }
}
