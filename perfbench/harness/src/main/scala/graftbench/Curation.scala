package graftbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.Tables
import graft.operators.{BitmapOps, Similarity, TextOps}

/** `corpus_curation`: passes of the training-data pipeline over a fixed
  * corpus (documents, embeddings, events in `--input`).
  *
  * A pass calls each curation entry through `SparkEntry.queries`, then runs
  * three persisted-store families through build → ingest → forget → serve
  * in fresh directories. The ingest split comes from `split.parquet`
  * (`kind`, `id`), which the caller draws from the run's seed; every family
  * is built so that its served result depends only on the final corpus,
  * never on the split. Passes repeat until `--seconds` have elapsed. */
final class Curation(cfg: Cfg) extends Workload {
  import Curation._

  private var ids: Map[String, Seq[Long]] = Map.empty
  private var embBuildDir: Path = _

  def setup(spark: SparkSession, round: Int): Unit = {
    val dir = cfg.input.toString
    ids = spark.read.parquet(cfg.input.resolve("split.parquet").toString).collect()
      .groupBy(_.getString(0)).map { case (k, rs) => k -> rs.map(_.getLong(1)).toSeq.sorted }
    Seq(Tables.documents(spark, dir), Tables.embeddings(spark, dir),
      Tables.events(spark, dir)).foreach(_.count())
    // the IVF family builds from a table directory of its own
    embBuildDir = Files.createDirectories(cfg.work.resolve(s"setup-$round/emb_build"))
    Tables.embeddings(spark, dir).filter(col("vec_id").isin(ids("vec_build"): _*))
      .write.mode("overwrite").parquet(embBuildDir.resolve("embeddings.parquet").toString)
  }

  private def idsDf(spark: SparkSession, kind: String, name: String): DataFrame = {
    import spark.implicits._
    ids(kind).toDF(name)
  }

  /** The store families: name, write steps (build, ingest, forget) and the
    * serve call. */
  private def families(spark: SparkSession): Seq[Family] = {
    val dir = cfg.input.toString
    val docs = Tables.documents(spark, dir)
    def docsOf(kind: String) = docs.join(idsDf(spark, kind, "doc_id"), "doc_id")
    val emb = Tables.embeddings(spark, dir)
    val events = Tables.events(spark, dir)
    def eventsOf(kind: String) = events.join(idsDf(spark, kind, "event_id"), "event_id")
    Seq(
      Family("ivf",
        Seq("build" -> (s => Similarity.writeIvfIndex(spark, embBuildDir.toString, s)),
          "ingest" -> (s => Similarity.ivfIngest(spark,
            emb.join(idsDf(spark, "vec_ingest", "vec_id"), "vec_id"), s)),
          "forget" -> (s => Similarity.ivfDelete(spark, idsDf(spark, "vec_forget", "vec_id"), s))),
        s => Similarity.ivfTopKFromIndex(spark, dir, s, nprobe = Int.MaxValue).collect()),
      Family("bitmap",
        Seq("build" -> (s => BitmapOps.bitmapStoreWrite(eventsOf("ev_build"), s, 0L)),
          "ingest" -> (s => BitmapOps.bitmapStoreWrite(eventsOf("ev_ingest"), s, 1L)),
          "forget" -> (s => BitmapOps.bitmapStoreForget(spark, s, ids("user_forget")))),
        s => BitmapOps.bitmapStoreServe(spark, s, 0L, Long.MaxValue / 86400000L).collect()),
      Family("bm25",
        Seq("build" -> (s => TextOps.writeBm25Store(docsOf("doc_build"), s)),
          "ingest" -> (s => TextOps.bm25Ingest(docsOf("doc_ingest"), s, 1L).collect()),
          "forget" -> (s => TextOps.bm25StoreForget(
            idsDf(spark, "doc_forget", "doc_id"), s, 1L).collect())),
        s => TextOps.bm25FromStore(spark, s).collect()))
  }

  def run(spark: SparkSession, raw: mutable.Map[String, Any]): Unit = {
    val dir = cfg.input.toString
    val trace = new SparkTrace
    val regions = mutable.ArrayBuffer.empty[(Long, Long)]
    var leaked = 0L
    // per pass: calls started, and the work and JIT CPU inside the calls
    var attempted = 0
    var workNs, jitInCallsNs = 0L
    // each call is timed alone; hashing, leak counting, release and the
    // listener-bus drains between calls stay outside every span
    def timed[A](f: => A): (A, Double, Long) = {
      Trace.drain(spark)
      attempted += 1
      val jobs0 = trace.jobs.get
      val start = System.currentTimeMillis()
      val ((out, ms), work, jit) = Main.measured {
        val t0 = System.nanoTime()
        val out = f
        (out, (System.nanoTime() - t0) / 1e6)
      }
      workNs += work
      jitInCallsNs += jit
      regions += ((start, System.currentTimeMillis()))
      Trace.drain(spark)
      (out, ms, trace.jobs.get - jobs0)
    }
    def release(): Unit = leaked += Trace.countAndRelease(spark)
    def onePass(pass: Int): Map[String, Any] = {
      attempted = 0
      workNs = 0L
      jitInCallsNs = 0L
      // an exception fails that call (and the rest of its store family),
      // is recorded, and the pass goes on
      val errors = mutable.ArrayBuffer.empty[String]
      def failed(name: String, e: Exception) = {
        errors += s"$name: $e"
        Map("error" -> e.toString)
      }
      val ops = Entries.map { name =>
        name -> (try {
          val (rows, ms, jobs) = timed(graft.SparkEntry.queries(name)(spark, dir).collect())
          Map("ms" -> ms, "jobs" -> jobs, "rows" -> rows.length, "hash" -> digest(rows))
        } catch { case e: Exception => failed(name, e) } finally release())
      }
      val stores = families(spark).map { f =>
        val storeDir = Files.createDirectories(cfg.work.resolve(s"stores/$pass/${f.name}")).toString
        f.name -> (try {
          val steps = f.write.map { case (step, w) =>
            val (_, ms, _) = try timed(w(storeDir)) finally release()
            step -> ms
          }
          val (rows, ms, _) = try timed(f.serve(storeDir)) finally release()
          Map("steps_ms" -> steps.toMap, "serve_ms" -> ms,
            "bytes" -> dirBytes(storeDir), "rows" -> rows.length, "hash" -> digest(rows))
        } catch { case e: Exception => failed(f.name, e) })
      }
      Map("ops" -> ops.toMap, "stores" -> stores.toMap,
        "attempted" -> attempted, "errors" -> errors.toSeq,
        "work_cpu_s" -> workNs / 1e9, "jit_cpu_s" -> jitInCallsNs / 1e9)
    }

    if (cfg.traced) spark.sparkContext.addSparkListener(trace)
    val deadline = System.nanoTime() + cfg.long("seconds") * 1000000000L
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    do passes += onePass(passes.length + 1)
    while (System.nanoTime() < deadline)
    raw("passes") = passes.toSeq
    if (cfg.traced) {
      Trace.drain(spark)
      raw("spark") = trace.metrics(regions.toSeq, leaked)
    }
  }
}

object Curation {
  final case class Family(name: String, write: Seq[(String, String => Any)],
                          serve: String => Array[Row])

  /** The curation entries a pass runs, in order. */
  val Entries: Seq[String] = Seq(
    "doc_dedup_exact", "doc_dedup_minhash", "doc_quality", "doc_curate",
    "doc_pack", "doc_token_budget", "emb_lsh_auto", "emb_d4")

  /** Order-free content hash: sorted row renderings, SHA-256. */
  def digest(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach { r =>
      md.update(r.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def dirBytes(dir: String): Long =
    Files.walk(java.nio.file.Paths.get(dir)).iterator.asScala
      .filter(p => Files.isRegularFile(p)).map(p => Files.size(p)).sum
}
