package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryListener}

import graft.streaming.{EventPipeline, StateTuning}

/** `stream_ref`: the reference topology (dedup on a 2 h watermark → per-user
  * rate limit → z-score alerts → memory sink) fed from a file source.
  *
  * Warm-up: the first `--warm-files` files land at once, untimed. Open
  * loop: one generator thread moves the next `--open-files` files into the
  * source on a fixed schedule (`--interval-ms`). Drain: `--drain-files`
  * more files land at once and are processed as fast as possible. Input
  * files carry mtimes in event-time order, because the file source takes
  * new files in mtime order. The checkpoint stays in `--work` for the
  * caller; the generator log and the alerts go to the raw result. */
final class StreamRef(cfg: Cfg) extends Workload {
  private val inputs: Seq[Path] =
    Files.list(cfg.input).iterator.asScala.filter(_.toString.endsWith(".parquet"))
      .toSeq.sortBy(_.getFileName.toString)
  private val nOpen = cfg.int("open-files")
  private val nDrain = cfg.int("drain-files")
  private val nWarm = cfg.int("warm-files")
  private val fpt = cfg("files-per-trigger")
  private val limit = cfg.int("rate-limit")
  private var stage: Path = _
  private val src = cfg.work.resolve("src")
  private val ckpt = cfg.work.resolve("ckpt")
  require(inputs.length == nWarm + nOpen + nDrain,
    s"expected ${nWarm + nOpen + nDrain} input files, found ${inputs.length}")

  /** Stage the input files into `warm/`, `open/` and `drain/`, keeping
    * their mtimes (the generator sets them in event-time order), then read
    * the staged table once. */
  def setup(spark: SparkSession, round: Int): Unit = {
    stage = cfg.work.resolve(s"stage-$round")
    val parts = Seq("warm" -> inputs.take(nWarm), "open" -> inputs.slice(nWarm, nWarm + nOpen),
      "drain" -> inputs.drop(nWarm + nOpen))
    parts.foreach { case (phase, files) =>
      val dir = Files.createDirectories(stage.resolve(phase))
      files.foreach(p => Files.copy(p, dir.resolve(p.getFileName),
        StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.COPY_ATTRIBUTES))
    }
    spark.read.schema(EventPipeline.eventSchema)
      .parquet(parts.map(p => stage.resolve(p._1).toString): _*).count()
  }

  private def start(spark: SparkSession): StreamingQuery = {
    import spark.implicits._
    val in = spark.readStream.schema(EventPipeline.eventSchema)
      .option("maxFilesPerTrigger", fpt).parquet(s"$src/*")
    val limited = EventPipeline
      .rateLimited(EventPipeline.deduped(in, "2 hours").as[EventPipeline.Event], limit = limit)
      .filter(_.admitted)
    val scored = EventPipeline.zscoreAlertStream(limited.map(a =>
      EventPipeline.Event(a.event_id, a.ts, a.user_id, a.event_type, a.value)))
    scored.toDF().writeStream.format("memory").queryName("alerts")
      .option("checkpointLocation", ckpt.toString)
      .outputMode(OutputMode.Append).start()
  }

  def run(spark: SparkSession, raw: mutable.Map[String, Any]): Unit = {
    StateTuning(statePartitions = 4, trackTotalRows = false)(spark)
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    // the source reads every directory under src/; a phase whose files must
    // appear together lands as one directory rename
    def land(phase: String): Unit =
      Files.move(stage.resolve(phase), src.resolve(phase), StandardCopyOption.ATOMIC_MOVE)

    val progress = mutable.ArrayBuffer.empty[String]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.name == "alerts") progress.synchronized(progress += e.progress.json)
    }
    Files.createDirectories(src)
    val q = start(spark)

    // warm-up, untimed: the first files land at once, so code generation,
    // JIT and the state stores' start-up are paid before the open loop
    land("warm")
    q.processAllAvailable()
    Main.phase("warm-up done")
    raw("warm_last_batch") = q.lastProgress.batchId
    val trace = new SparkTrace
    if (cfg.traced) {
      spark.streams.addListener(listener)
      spark.sparkContext.addSparkListener(trace)
    }
    val regionStart = System.currentTimeMillis()

    // open loop: the generator thread keeps the schedule; the query runs
    val interval = cfg.long("interval-ms")
    val t0 = System.currentTimeMillis() + 200
    val log = new Array[(String, Long, Long)](nOpen)
    val open = Files.createDirectories(src.resolve("open"))
    val gen = new Thread(() => {
      inputs.slice(nWarm, nWarm + nOpen).zipWithIndex.foreach { case (f, i) =>
        val due = t0 + i * interval
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        Files.move(stage.resolve("open").resolve(f.getFileName), open.resolve(f.getFileName),
          StandardCopyOption.ATOMIC_MOVE)
        log(i) = (f.getFileName.toString, due, System.currentTimeMillis())
      }
    }, "load-generator")
    val (drainS, work, jit) = Main.measured {
      gen.start(); gen.join()
      q.processAllAvailable()
      Main.phase("open loop done")

      // drain: a fixed backlog lands at once and is processed as fast as
      // possible, in a fixed number of batches of --files-per-trigger files
      val d0 = System.nanoTime()
      land("drain")
      q.processAllAvailable()
      (System.nanoTime() - d0) / 1e9
    }
    raw("drain_s") = drainS
    raw("work_cpu_s") = work / 1e9
    raw("jit_cpu_s") = jit / 1e9
    val regionEnd = System.currentTimeMillis()
    Main.phase("drain done")
    q.stop()
    if (q.exception.isDefined) throw q.exception.get

    // the query's own progress record, kept in every run for the checks
    raw("progress_all") = q.recentProgress.toSeq.map(p => Json.Raw(p.json))
    raw("alerts") = spark.table("alerts").select("event_id", "z").collect().toSeq
      .map(r => Map("event_id" -> r.getLong(0), "z" -> r.getDouble(1)))
    raw("generator") = log.toSeq.map { case (f, due, moved) =>
      Map("file" -> f, "due_ms" -> due, "moved_ms" -> moved) }
    raw("checkpoint") = ckpt.toString
    if (cfg.traced) {
      Trace.drain(spark)
      spark.streams.removeListener(listener)
      raw("progress") = progress.synchronized(progress.toSeq).map(Json.Raw)
      raw("spark") = trace.metrics(Seq((regionStart, regionEnd)),
        Trace.countAndRelease(spark).toLong)
    }
  }
}
