package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Cols.dayStr
import graft.operators.{BitmapOps, Dedup, Similarity, TextOps}
import graft.sources.Layout

/** Crash matrix for every store op that rewrites a live table or byte file.
  * Each case builds a store on the `crash:` file system ([[CrashFs]]),
  * records the mutations of one uninterrupted op, then re-runs the op on a
  * fresh copy once per fault: a crash at each mutation of an entry directly
  * under the store dir (the commit's own creates, renames and deletes) and
  * one during each data write (the first file created below each such
  * entry). After
  * each crash the store must serve exactly its pre-op or its post-op
  * answer, and re-running the op must converge to the uninterrupted one.
  * One more run serves the store from inside the op, between the two
  * renames of each swap (a concurrent reader): every such read must see the
  * pre- or post-op answer, and the op must still commit. */
class StoreCrashSpec extends SparkSuite {

  /** `serve` is what the store answers, as sorted rows. `idempotent` ops are
    * re-run after every crash; the others only from the pre-op state. */
  private case class Case(name: String, build: String => Unit, op: String => Unit,
                          serve: String => Seq[String], idempotent: Boolean = true)

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator.asScala.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    }

  private def local(dir: String): Path = Paths.get(new java.net.URI(dir).getPath)

  /** Serve from a throwaway copy: for stores whose only read also writes. */
  private def onCopy(read: String => DataFrame): String => Seq[String] = dir => {
    val copy = Files.createTempDirectory("graft-crash-serve").resolve("store")
    copyTree(local(dir), copy)
    try rows(read(s"crash://$copy")) finally SparkEntry.deleteDir(copy.getParent.toString)
  }

  private def docs = Tables.documents(spark, sf)
  private def docsWhere(mod: Int, rem: Int) = docs.filter(col("doc_id") % mod === rem)
  private def events = Tables.events(spark, sf)
  private def userIds(rem: Int): Seq[Long] =
    events.select(col("user_id")).distinct().filter(col("user_id") % 7 === rem)
      .collect().map(_.getLong(0)).toSeq

  private def cdcStore(d: String): Unit = {
    TextOps.writeCdcStore(docsWhere(2, 0), d)
    TextOps.cdcForget(docsWhere(4, 0), d)
  }
  private val cdcServe = onCopy(TextOps.cdcIngest(docs, _))

  private def bitmapServe(d: String) =
    rows(BitmapOps.bitmapStoreServe(spark, d, 0L, 1L << 40))

  private val cases = Seq(
    Case("ivfCompact",
      d => {
        val emb = Tables.embeddings(spark, sf)
        Similarity.writeIvfIndexFrom(emb, d, nQueries = 10, nlist = 8, lloydIters = 1)
        Similarity.ivfDelete(spark, emb.filter(col("vec_id") % 10 === 3).select("vec_id"), d)
      },
      d => Similarity.ivfCompact(spark, d),
      d => rows(Similarity.ivfTopKFromIndex(spark, sf, d, nprobe = Int.MaxValue))),
    Case("signatureStoreCompact",
      d => {
        Dedup.writeSignatureStore(docs, d)
        Dedup.signatureStoreForget(docsWhere(5, 0).select("doc_id"), d)
      },
      d => Dedup.signatureStoreCompact(spark, d),
      d => rows(Dedup.pairsFromStore(docs.select("doc_id"), d))),
    Case("bitmapStoreCompact",
      d => {
        BitmapOps.bitmapStoreWrite(events.filter(col("event_id") % 2 === 0), d, 0L)
        BitmapOps.bitmapStoreWrite(events.filter(col("event_id") % 2 === 1), d, 1L)
        BitmapOps.bitmapStoreForget(spark, d, userIds(3))
      },
      d => BitmapOps.bitmapStoreCompact(spark, d),
      bitmapServe),
    Case("bitmapStoreForget",
      d => {
        BitmapOps.bitmapStoreWrite(events, d, 0L)
        BitmapOps.bitmapStoreForget(spark, d, userIds(3))
      },
      d => BitmapOps.bitmapStoreForget(spark, d, userIds(4)),
      bitmapServe),
    Case("cdcForget", cdcStore, d => TextOps.cdcForget(docsWhere(4, 2), d), cdcServe),
    // resurrects half the tombstoned docs and adds unseen ones: the append
    // and the tombstone swap must commit together
    Case("cdcIngest", cdcStore,
      d => TextOps.cdcIngest(docs.filter(col("doc_id") % 8 === 0 || col("doc_id") % 4 === 1), d),
      cdcServe),
    Case("cdcCompact", cdcStore, d => TextOps.cdcCompact(spark, d), cdcServe),
    Case("bm25Compact",
      d => {
        TextOps.writeBm25Store(docsWhere(2, 0), d)
        TextOps.bm25Ingest(docsWhere(2, 1), d, 1L)
        TextOps.bm25StoreForget(docsWhere(5, 0).select("doc_id"), d, 1L)
      },
      d => TextOps.bm25Compact(spark, d),
      d => rows(TextOps.bm25FromStore(spark, d))),
    Case("compactPartitions",
      d => {
        val ev = events.withColumn("day", dayStr(col("ts")))
        val days = ev.select("day").distinct().orderBy("day").limit(2)
          .collect().map(_.getString(0))
        (0 until 3).foreach(i => ev.filter(col("day").isin(days: _*) && col("event_id") % 3 === i)
          .write.mode("append").partitionBy("day").parquet(d))
      },
      d => Layout.compactPartitions(spark, d),
      d => rows(Layout.readEventsRange(spark, d, "0000", "9999").select("event_id", "day"))),
    Case("bloom filter file",
      Dedup.writeBloomStore(docsWhere(2, 0), _),
      Dedup.bloomIngest(docsWhere(2, 1), _),
      onCopy(Dedup.bloomIngest(docs, _))),
    Case("counting Bloom filter file",
      Dedup.writeCountingBloomStore(docsWhere(2, 0), _),
      Dedup.countingBloomForget(docsWhere(4, 0), _),
      onCopy(Dedup.countingBloomIngest(docs, _)),
      idempotent = false))

  /** Run `op` on the store at `dir` with `hook` watching its mutations. */
  private def watched[T](dir: String, hook: (String, String) => Unit)(op: => T): T = {
    CrashFs.hooks.put(dir, hook)
    try op finally CrashFs.hooks.remove(dir)
  }

  private def crashMatrix(c: Case): Unit = {
    val root = Files.createTempDirectory("graft-crash")
    val pristine = root.resolve("pristine")
    c.build(s"crash://$pristine")
    val runs = new AtomicInteger()
    def fresh(): (String, String) = {
      val d = root.resolve(s"run${runs.incrementAndGet()}")
      copyTree(pristine, d)
      (s"crash://$d", d.toString)
    }
    def tableLevel(dir: String, p: String) = !p.stripPrefix(dir + "/").contains("/")
    // the entry directly under the store dir that a data file is created in
    def dataEntry(dir: String, op: String, p: String): Option[String] =
      if (op == "create" && !tableLevel(dir, p))
        Some(p.stripPrefix(dir + "/").takeWhile(_ != '/'))
      else None
    // fault runs are independent stores: six at a time keeps the suite short
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val pre = c.serve(fresh()._1)
      val (clean, cleanDir) = fresh()
      val log = ArrayBuffer.empty[(String, String)]
      watched(cleanDir, (op, p) => log.synchronized(log += ((op, p))))(c.op(clean))
      val post = c.serve(clean)
      val commits = log.count { case (_, p) => tableLevel(cleanDir, p) }
      assert(commits > 0, s"${c.name} issued no table-level mutation")
      // Left(k): the k-th table-level mutation; Right(e): the first data
      // file created below entry `e` (byte files have none)
      val faults = (0 until commits).map(Left(_)) ++
        log.flatMap { case (op, p) => dataEntry(cleanDir, op, p) }.distinct.map(Right(_))
      val faultRuns = faults.map { fault => Future {
        val (dir, localDir) = fresh()
        val seen = new AtomicInteger()
        val fired = new java.util.concurrent.atomic.AtomicBoolean()
        Try(watched(localDir, (op, p) =>
          if (fault.fold(k => tableLevel(localDir, p) && seen.getAndIncrement() == k,
                e => dataEntry(localDir, op, p).contains(e) && seen.getAndIncrement() == 0)) {
            fired.set(true)
            throw new CrashFs.Crash(s"$op $p")
          })(c.op(dir)))
        val at = fault.fold(k => s"table-level mutation $k", e => s"data write in $e")
        Try(c.serve(dir)) match {
          case _ if !fired.get => Seq(s"$at: fault not reached")
          case Failure(e) => Seq(s"$at: serve failed: $e")
          case Success(got) if got != pre && got != post =>
            Seq(s"$at: serves neither the pre-op nor the post-op answer")
          case Success(got) if c.idempotent || got == pre =>
            Try { c.op(dir); c.serve(dir) } match {
              case Success(again) if again == post => Nil
              case Success(_) => Seq(s"$at: re-run diverged from the uninterrupted op")
              case Failure(e) => Seq(s"$at: re-run failed: $e")
            }
          case _ => Nil
        }
      }}
      val reader = Future {
        val (dir, localDir) = fresh()
        val reads = ArrayBuffer.empty[Try[Seq[String]]]
        // the commit's second rename: `.X.tmp` to `X`, with `X` renamed away
        Try(watched(localDir, (op, p) =>
          if (op == "rename" && tableLevel(localDir, p) && p.endsWith(".tmp"))
            reads += Try(c.serve(dir)))(c.op(dir))) match {
          case Failure(e) => Seq(s"read between renames: op failed: $e")
          case Success(_) =>
            reads.toSeq.collect {
              case Failure(e) => s"read between renames failed: $e"
              case Success(got) if got != pre && got != post =>
                "read between renames serves neither the pre-op nor the post-op answer"
            } ++ (if (reads.isEmpty) Seq("read between renames: no swap reached")
                  else if (c.serve(dir) != post) Seq("after a read between renames: op serves other than post-op")
                  else Nil)
        }
      }
      val failures = (faultRuns :+ reader).flatMap(Await.result(_, 10.minutes))
      assert(failures.isEmpty, s"${c.name}:\n  " + failures.mkString("\n  "))
    } finally {
      pool.shutdown()
      SparkEntry.deleteDir(root.toString)
    }
  }

  test("first-touch ANN index: a build crashed in its data write is rebuilt whole by the next call") {
    val root = Files.createTempDirectory("graft-crash-ann")
    def index(at: Path) =
      SparkEntry.annIndex(spark, sf, "pq", Similarity.writePqIndex(_, _, _), s"crash://$at")
    def serve(idx: String) = rows(Similarity.pqTopKFromIndex(spark, sf, idx))
    try {
      val want = serve(index(root.resolve("clean")))
      val cut = root.resolve("cut")
      // the crash hits the write of the index's last table
      val fired = new java.util.concurrent.atomic.AtomicBoolean()
      val first = Try(watched(cut.toString, (op, p) =>
        if (op == "create" && p.contains("/codes.parquet/") && !fired.getAndSet(true))
          throw new CrashFs.Crash(s"$op $p"))(index(cut)))
      assert(fired.get && first.isFailure, "the build was not cut")
      assert(!graft.sources.StoreFiles.exists(spark,
        s"crash://$cut/graft-pq-${SparkEntry.embDataTag(spark, sf)}"),
        "a half-built index is visible")
      assert(serve(index(cut)) == want, "the next call serves other than an uninterrupted build")
    } finally SparkEntry.deleteDir(root.toString)
  }

  cases.foreach(c =>
    test(s"${c.name}: a crash or a read at any commit step sees pre- or post-op; a re-run converges") {
      crashMatrix(c)
    })
}
