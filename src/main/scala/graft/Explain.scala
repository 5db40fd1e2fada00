package graft

/** Diagnostics main: time or explain a single SparkEntry query.
  * Usage: runMain graft.Explain <query> <sfDir> [explain|time] [reps]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val mode = if (args.length > 2) args(2) else "time"
    val reps = if (args.length > 3) args(3).toInt else 2
    // GraftSession: same extensions (AutoBarrierExplode, native functions)
    // the shipped sessions run with — explain what users actually execute.
    val spark = GraftSession.local()
    val fn = SparkEntry.queries(name)
    if (mode == "explain") {
      fn(spark, sfDir).explain("formatted")
    } else {
      (1 to reps).foreach { r =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        println(f"[explain] $name rep$r: ${(System.nanoTime() - t0) / 1e9}%.2fs rows=$n")
      }
    }
    spark.stop()
  }
}
