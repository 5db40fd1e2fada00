package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{call_function, col, lit, timestamp_micros}

/** Typed loaders for the driver-generated parquet tables.
  *
  * Every operator goes through these so column pruning / predicate pushdown
  * reach the parquet scan (verified via `.explain` ReadSchema/PushedFilters).
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")

  /** [[lineitem]] with the [[documentsSpread]] under-split guard (r12):
    * the gate-SF table is one ~11 MB single-row-group file, so a heavy
    * probe/aggregation stage runs on ≤3 tasks (measured: 1.33 s of q7's
    * 1.6 s in one 3-task stage). OPT-IN per query — blanket application
    * regressed queries that read lineitem twice under different
    * projections (q17 0.85→1.15 s, q9 0.81→1.14 s: each projection is its
    * own exchange, no reuse), while single-pass shapes won (q1 0.95→0.53,
    * q7 1.60→1.20, q_topk_parts 1.10→0.86). Column pruning + filter
    * pushdown pass through the RepartitionByExpression; identity at
    * deployment scale (byte guard). */
  def lineitemSpread(s: SparkSession, d: String): DataFrame =
    spread(s, table(s, d, "lineitem"), s"$d/lineitem.parquet", "l_orderkey")
  /** `events.ts` has drifted across driver testdata regenerations:
    * TIMESTAMP(NANOS) (readable only as a nanosecond LONG under the legacy
    * conf) through r6, then plain `timestamp[us]` WITHOUT timezone (Spark:
    * TIMESTAMP_NTZ) from r7's regeneration. Normalize every variant to a
    * session-typed TIMESTAMP here, once, so downstream consumers
    * (`window()`, `unix_millis`, the typed `Event` encoder) never see the
    * drift. The session TZ is pinned to UTC (GraftSession), so the
    * NTZ→TIMESTAMP cast is value-preserving and agrees with DuckDB, which
    * reads the same file as a naive timestamp. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = table(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // TIMESTAMP(NANOS) parquet
        df.withColumn("ts", timestamp_micros(call_function("div", col("ts"), lit(1000L))))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df // already a session-typed timestamp table
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** [[documents]], guaranteed at least the session's parallelism of
    * partitions on the compute side (r12, guide §2.6/§6): a gate-SF corpus
    * lands as ONE small parquet file with one row group, so every
    * expensive per-row kernel downstream (shingle/minhash/BPE batteries)
    * runs as a single task while 31 cores idle — measured 1.17 s of
    * doc_ngram_jaccard's 1.9 s in one scan-side task. The spread is a HASH
    * repartition on the table's unique key (deterministic under retry, no
    * round-robin pre-sort of text rows) and fires ONLY when the backing
    * files are too small to split `defaultParallelism` ways — at
    * deployment scale (files ≫ cores·maxPartitionBytes) it is the
    * identity, so no production scan pays an extra text shuffle. */
  def documentsSpread(s: SparkSession, d: String): DataFrame =
    spread(s, documents(s, d), s"$d/documents.parquet", "doc_id")

  // (an embeddingsSpread twin was probed in r12 and measured NEUTRAL —
  // dim-64 kernels are arithmetic-light, the emb side's cost is join/agg
  // latency — so no such helper ships; see OPTIMIZATION_r12.md)

  /** r13: the spread is sized to the DATA, not the session — r12 fanned
    * every under-split table to `defaultParallelism`, and the driver's
    * 32-core bench showed that a 584 KB corpus split into 32 × 18 KB
    * explode/agg tasks can anti-scale catastrophically (doc_bpe_pairs
    * 9.3 s @32 vs 0.29 s @8 on the same host, PERF_r12). Partition count
    * now derives from bytes/`spark.graft.spread.targetBytesPerTask`
    * (default 64 KB — the ~73 KB/task operating point every measured r12
    * win ran at), capped at the session parallelism, so the fan-out never
    * exceeds what the data supports at ANY core count. Still the identity
    * at deployment scale (byte guard), still a deterministic hash
    * repartition on the table's unique key. */
  private def spread(s: SparkSession, df: DataFrame, path: String,
                     key: String): DataFrame = {
    val par = s.sparkContext.defaultParallelism
    val maxSplit = s.sessionState.conf.filesMaxPartitionBytes
    val bytes = dirBytes(s, path)
    if (bytes >= maxSplit * par) df
    else {
      val target = s.conf.getOption("spark.graft.spread.targetBytesPerTask")
        .map(_.toLong).getOrElse(64L * 1024)
      val n = math.min(par.toLong, math.max(1L, (bytes + target - 1) / target)).toInt
      if (n <= 1) df else df.repartition(n, col(key))
    }
  }

  // bytes under a table path, cached per (path, mtime) — one content
  // listing per table VERSION (ADVICE r12: a plain path key served stale
  // sizes for the JVM's lifetime if a session regenerated or grew a table
  // in place, mis-sizing every later spread). The per-call cost is one
  // StoreFiles.version stat — the same metadata the scan planner re-reads —
  // and a regeneration at the same path bumps the mtime, invalidating
  // naturally. The driver has in fact regenerated testdata mid-round
  // (r7, r13), so this is a live hazard, not a theoretical one.
  private val bytesCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), java.lang.Long]()
  private def dirBytes(s: SparkSession, path: String): Long =
    graft.sources.StoreFiles.version(s, path).fold(0L)(mtime =>
      bytesCache.computeIfAbsent((path, mtime),
        _ => {
          val hp = new org.apache.hadoop.fs.Path(path)
          hp.getFileSystem(s.sessionState.newHadoopConf()).getContentSummary(hp).getLength
        }).longValue)
}
