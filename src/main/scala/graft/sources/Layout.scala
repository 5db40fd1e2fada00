package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Cols.dayStr

/** Storage layout for the event history at scale: how the stream lands on
  * disk decides what every later query pays.
  *
  *  - Day-partitioned parquet: time-range queries prune whole directories
  *    (the dashboard reads "today", not 100 TB).
  *  - Bucketed tables on the join/aggregation key: co-located joins and
  *    aggregations skip the shuffle entirely (verified by LayoutSpec — the
  *    bucketed join plan contains no Exchange).
  */
object Layout {

  /** Land events day-partitioned (partition pruning for time windows). */
  def writeEventsPartitioned(events: DataFrame, path: String): Unit =
    events
      .withColumn("day", dayStr(col("ts")))
      .repartition(col("day")) // one writer wave per partition dir, no tiny files
      .write.mode(SaveMode.Overwrite)
      .partitionBy("day")
      .parquet(path)

  /** Save as a bucketed table on `key` (requires saveAsTable — bucket
    * metadata lives in the catalog). nBuckets should match downstream
    * parallelism at the target scale. */
  def writeBucketed(df: DataFrame, table: String, key: String, nBuckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(nBuckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** Read back a day range with partition pruning (a day whose swap a
    * crashed [[compactPartitions]] cut is read from its previous files). */
  def readEventsRange(spark: SparkSession, path: String,
                      fromDay: String, toDay: String): DataFrame =
    StoreFiles.partitioned(spark, path)
      .filter(col("day") >= fromDay && col("day") <= toDay)

  /** Z-ordered layout: interleave the bits of TWO rank-normalized columns
    * into one sort key, so files cluster on BOTH dimensions at once — a
    * range predicate on EITHER column prunes most files via parquet
    * min/max, where a plain sort serves only its leading column. The
    * normalization scalars (min/max per column) are a single broadcast row;
    * the z-value is pure integer bit arithmetic (codegen-friendly), and the
    * write is one range partition + in-partition sort — exactly the
    * Delta/Iceberg OPTIMIZE ZORDER shape, dependency-free. */
  def writeZOrdered(df: DataFrame, path: String, c1: String, c2: String,
                    nFiles: Int, bits: Int = 16): Unit =
    writeZOrdered(df, path, Seq(c1, c2), nFiles, bits, rowGroupBytes = None)

  /** N-column form: bits interleave round-robin across all columns (column
    * j contributes bit i at z-position i·n+j). `bits · cols.length` must
    * fit a long, so e.g. 3 columns × 16 bits or 4 × 12.
    * `rowGroupBytes` caps the parquet row-group size so min/max pruning
    * operates at sub-file granularity (a scan skips row GROUPS, not just
    * files — smaller groups = finer pruning, more footer overhead). */
  def writeZOrdered(df: DataFrame, path: String, cols: Seq[String],
                    nFiles: Int, bits: Int,
                    rowGroupBytes: Option[Long]): Unit = {
    require(bits * cols.length <= 62, s"z-value overflows a long: $bits×${cols.length}")
    val n = cols.length
    val boundExprs = cols.zipWithIndex.flatMap { case (c, j) => Seq(
      min(col(c)).cast("double").as(s"__z_min$j"),
      max(col(c)).cast("double").as(s"__z_max$j")) }
    val bounds = df.agg(boundExprs.head, boundExprs.tail: _*)
    val maxCode = (1L << bits) - 1
    def scaled(c: String, j: Int) =
      when(col(s"__z_max$j") === col(s"__z_min$j"), lit(0L)).otherwise(
        ((col(c).cast("double") - col(s"__z_min$j")) /
          (col(s"__z_max$j") - col(s"__z_min$j")) * maxCode).cast("long"))
    val z = (for { i <- 0 until bits; j <- 0 until n } yield
      shiftright(col(s"__z_s$j"), i).bitwiseAND(lit(1L)) * (1L << (i * n + j)))
      .reduce(_ + _)
    val withScaled = cols.zipWithIndex.foldLeft(df.crossJoin(broadcast(bounds))) {
      case (d, (c, j)) => d.withColumn(s"__z_s$j", scaled(c, j))
    }
    val writer = withScaled.withColumn("__z_value", z)
      .drop((0 until n).flatMap(j => Seq(s"__z_min$j", s"__z_max$j", s"__z_s$j")): _*)
      .repartitionByRange(nFiles, col("__z_value"))
      .sortWithinPartitions("__z_value")
      .drop("__z_value")
      .write.mode(SaveMode.Overwrite)
    rowGroupBytes.fold(writer)(b => writer.option("parquet.block.size", b))
      .parquet(path)
  }

  /** A26d: HILBERT-clustered write — the locality upgrade over [[writeZOrdered]]
    * for 2-D range scans (the clustering option Delta/Iceberg offer above
    * Z-order, public): consecutive Hilbert indices are always grid-adjacent,
    * so a file's rows cover a compact blob of the (c1, c2) plane with no
    * Z-shape diagonal jumps — tighter per-file min/max bounds on BOTH
    * columns, better row-group pruning for box predicates. Same scaling
    * contract as the Z writer (min/max-normalized to `bits`-bit grid
    * coordinates, one broadcast bounds row), the index computed by the
    * codegen'd [[graft.functions.HilbertIndexExpr]] kernel, then
    * range-partition + in-file sort on the index. */
  def writeHilbertOrdered(df: DataFrame, path: String, c1: String, c2: String,
                          nFiles: Int, bits: Int = 16): Unit = {
    require(bits >= 1 && bits <= 31, s"hilbert bits out of range: $bits")
    val bounds = df.agg(
      min(col(c1)).cast("double").as("__h_min0"),
      max(col(c1)).cast("double").as("__h_max0"),
      min(col(c2)).cast("double").as("__h_min1"),
      max(col(c2)).cast("double").as("__h_max1"))
    val maxCode = (1L << bits) - 1
    def scaled(c: String, j: Int) =
      when(col(s"__h_max$j") === col(s"__h_min$j"), lit(0L)).otherwise(
        ((col(c).cast("double") - col(s"__h_min$j")) /
          (col(s"__h_max$j") - col(s"__h_min$j")) * maxCode).cast("long"))
    df.crossJoin(broadcast(bounds))
      .withColumn("__h_value", graft.functions.SpatialFunctions.hilbertIndex(
        lit(bits), scaled(c1, 0), scaled(c2, 1)))
      .drop("__h_min0", "__h_max0", "__h_min1", "__h_max1")
      .repartitionByRange(nFiles, col("__h_value"))
      .sortWithinPartitions("__h_value")
      .drop("__h_value")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Per-row-group column statistics read straight from the parquet footers
    * — the min/max metadata a scan's row-group pruning actually consults
    * (LayoutSpec measures REAL pruning with this, not a file-span proxy).
    * Driver-side by design: footers are KB-sized and this is a layout
    * diagnostic, not a data path. Returns one row per (file, row-group,
    * requested column) for integer-typed columns. */
  def rowGroupStats(spark: SparkSession, path: String, cols: Seq[String])
      : Seq[RowGroupStat] = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf) // any Hadoop FS incl. partitioned dirs
    val it = fs.listFiles(root, true)
    val listed = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.Path]
    while (it.hasNext) listed += it.next().getPath
    val files = listed
      .filter(p => p.getName.endsWith(".parquet") && !p.getName.startsWith("_"))
      .toSeq
    files.sortBy(_.toString).flatMap { p =>
      val rd = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      try {
        rd.getFooter.getBlocks.asScala.toSeq.zipWithIndex.flatMap { case (b, i) =>
          b.getColumns.asScala
            .filter(cc => cols.contains(cc.getPath.toDotString))
            .flatMap { cc =>
              // all-null groups carry no min/max; non-numeric stats are
              // skipped rather than thrown on (integer-typed contract)
              Option(cc.getStatistics)
                .filter(st => st.hasNonNullValue)
                .collect { case st if
                    st.genericGetMin.isInstanceOf[Number] &&
                    st.genericGetMax.isInstanceOf[Number] =>
                  RowGroupStat(p.getName, i, cc.getPath.toDotString,
                    st.genericGetMin.asInstanceOf[Number].longValue(),
                    st.genericGetMax.asInstanceOf[Number].longValue(),
                    b.getRowCount)
                }
            }
        }
      } finally rd.close()
    }
  }

  case class RowGroupStat(file: String, rowGroup: Int, column: String,
                          min: Long, max: Long, rows: Long)

  /** Streaming sink with an in-loop maintenance pass — the answer to the
    * streaming small-file problem: every trigger appends one shard per
    * partition dir, so a 100 TB stream lands millions of kilobyte files
    * unless something compacts them. `foreachBatch` runs driver-side
    * BETWEEN micro-batches, so running compaction every `compactEvery`
    * batches is naturally serialized with the writes — no concurrent-writer
    * races, no external scheduler. (A table format makes the swap
    * transactional; this shows the mechanics on raw parquet dirs.) */
  def partitionedSinkWithCompaction(events: DataFrame, path: String,
                                    compactEvery: Int = 4,
                                    targetBytes: Long = 128L * 1024 * 1024)
  : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      batch.withColumn("day", dayStr(col("ts")))
        .write.mode(SaveMode.Append).partitionBy("day").parquet(path)
      if ((id + 1) % compactEvery == 0) {
        compactPartitions(batch.sparkSession, path, targetBytes); ()
      }
    }.start()

  /** Compact every `day=` partition dir to ~`targetBytes` files, each
    * swapped in through [[StoreFiles.replace]] (its hidden temp and `.old`
    * siblings are invisible to partition discovery). Returns dirs
    * compacted. */
  def compactPartitions(spark: SparkSession, path: String,
                        targetBytes: Long = 128L * 1024 * 1024): Int = {
    StoreFiles.settle(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    val dayDirs = root.getFileSystem(spark.sessionState.newHadoopConf())
      .listStatus(root)
      .filter(d => d.isDirectory && d.getPath.getName.startsWith("day="))
      .map(_.getPath.toString)
    dayDirs.foreach(d =>
      StoreFiles.replace(spark, d)(compact(spark, d, _, targetBytes)))
    dayDirs.length
  }

  /** Compact a directory of small parquet files into ~`targetBytes` files —
    * streaming sinks emit one shard per trigger per partition, and a 100 TB
    * table of kilobyte files destroys scan throughput (per-file open cost,
    * no row-group parallelism). Sizes come from the actual file listing, so
    * the output file count tracks data volume, not partition count.
    * Returns the number of output files. */
  def compact(spark: SparkSession, inPath: String, outPath: String,
              targetBytes: Long = 128L * 1024 * 1024): Int = {
    val df = spark.read.parquet(inPath)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(inPath), spark.sparkContext.hadoopConfiguration)
    val totalBytes = fs.listStatus(new org.apache.hadoop.fs.Path(inPath))
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    df.repartition(nOut).write.mode(SaveMode.Overwrite).parquet(outPath)
    nOut
  }
}
