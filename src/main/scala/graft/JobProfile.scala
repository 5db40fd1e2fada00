package graft

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Diagnostics main: per-JOB wall breakdown of one bench entry — where a
  * multi-job operator (store build + ingest + serve, iterative solvers)
  * actually spends its time. Runs the entry once untimed (codegen warm-up,
  * the Bench protocol), then attaches a listener and re-runs it, printing
  * one line per scheduled job: duration, stage count, task count, and the
  * first line of the job's call site.
  *
  * Usage: runMain graft.JobProfile <query> [sfDir] [reps]
  */
object JobProfile {
  private case class JobRec(id: Int, var submitted: Long = 0L,
                            var finished: Long = 0L, var nStages: Int = 0,
                            var nTasks: Int = 0, var site: String = "")

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: runMain graft.JobProfile <query> [sfDir] [reps]")
      sys.exit(2)
    }
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 1
    val spark = GraftSession.local()
    val fn = SparkEntry.registry.benchFn(name).getOrElse(sys.error(s"unknown query: $name"))

    // warm-up: codegen + catalog, same as the bench protocol
    try Bench.materialize(fn(spark, "/root/testdata/sf0.001"))
    catch { case _: Throwable => () }
    spark.catalog.clearCache()
    Bench.materialize(fn(spark, sfDir)) // warm rep at the measured SF
    spark.catalog.clearCache()

    val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        val r = jobs.getOrElseUpdate(e.jobId, JobRec(e.jobId))
        r.submitted = e.time
        r.nStages = e.stageInfos.size
        r.nTasks = e.stageInfos.map(_.numTasks).sum
        r.site = Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(e.jobId).foreach(_.finished = e.time)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    (1 to reps).foreach { rep =>
      jobs.synchronized(jobs.clear())
      val t0 = System.nanoTime()
      Bench.materialize(fn(spark, sfDir))
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let the listener bus drain
      println(f"[profile] $name rep$rep wall=$wall%.3fs jobs=${jobs.size}")
      var covered = 0L
      jobs.values.foreach { j =>
        // a slow listener bus can leave finished=0 after the drain sleep —
        // label the job unfinished instead of printing a huge negative
        // duration (ADVICE r12)
        if (j.finished == 0L)
          println(f"[profile]   job=${j.id}%-4d   (listener not drained)  stages=${j.nStages}%-3d tasks=${j.nTasks}%-5d ${j.site}")
        else {
          val d = j.finished - j.submitted
          covered += math.max(0L, d)
          println(f"[profile]   job=${j.id}%-4d ${d}%6d ms  stages=${j.nStages}%-3d tasks=${j.nTasks}%-5d ${j.site}")
        }
      }
      println(f"[profile]   sum-of-jobs=${covered}ms (gaps = driver-side work)")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
