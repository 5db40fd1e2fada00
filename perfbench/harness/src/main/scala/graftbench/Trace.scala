package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark-layer counters for one measured region, fed by a [[SparkListener]].
  * Registered only in traced runs; untraced runs carry no listener. */
final class SparkTrace extends SparkListener {
  val jobs, stages, tasks, failedTasks = new AtomicLong
  val taskRunMs, taskCpuNs, schedDelayMs, gcMs = new AtomicLong
  val shuffleRead, shuffleWrite, spill, input = new AtomicLong
  private val jobStart = mutable.Map.empty[Int, Long]
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs.incrementAndGet(); jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => intervals += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (!e.taskInfo.successful) failedTasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs.addAndGet(m.executorRunTime)
      taskCpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      input.addAndGet(m.inputMetrics.bytesRead)
      val delay = e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime
      schedDelayMs.addAndGet(math.max(0L, delay))
    }
  }

  /** Union of the job intervals inside `[from, to]`, in ms. */
  def jobUnionMs(from: Long, to: Long): Long = synchronized {
    var total = 0L; var end = Long.MinValue
    intervals.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > end) { total += e - s; end = e }
        else if (e > end) { total += e - end; end = e }
      }
    total
  }

  def jobSumMs: Long = synchronized(intervals.map { case (s, e) => e - s }.sum)

  /** The `spark.*` per-layer metrics over the measured `regions` (epoch ms
    * intervals); driver time is the regions' wall outside every job. */
  def metrics(regions: Seq[(Long, Long)], leakedRdds: Long): Map[String, Double] = Map(
    "spark.jobs" -> jobs.get.toDouble,
    "spark.stages" -> stages.get.toDouble,
    "spark.tasks" -> tasks.get.toDouble,
    "spark.failed_tasks" -> failedTasks.get.toDouble,
    "spark.job_ms" -> jobSumMs.toDouble,
    "spark.driver_ms" -> regions.map { case (s, e) => e - s - jobUnionMs(s, e) }.sum.toDouble,
    "spark.task_run_ms" -> taskRunMs.get.toDouble,
    "spark.task_cpu_ms" -> taskCpuNs.get / 1e6,
    "spark.scheduler_delay_ms" -> schedDelayMs.get.toDouble,
    "spark.gc_ms" -> gcMs.get.toDouble,
    "spark.shuffle_read_bytes" -> shuffleRead.get.toDouble,
    "spark.shuffle_write_bytes" -> shuffleWrite.get.toDouble,
    "spark.spill_bytes" -> spill.get.toDouble,
    "spark.input_bytes" -> input.get.toDouble,
    "spark.leaked_rdds" -> leakedRdds.toDouble)
}

object Trace {
  def drain(spark: SparkSession): Unit = BenchBus.drain(spark.sparkContext)

  /** Persistent RDDs still registered after a call returned; then release
    * them (and the cache) so the next call starts clean. Runs outside every
    * timed region. */
  def countAndRelease(spark: SparkSession): Int = {
    val leaked = spark.sparkContext.getPersistentRDDs.values.toSeq
    spark.catalog.clearCache()
    leaked.foreach(_.unpersist(blocking = true))
    leaked.size
  }
}
