package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.StructType

/** The one commit path for persisted stores: every probe of an optional
  * store table and every rewrite of a live one goes through here, on
  * Hadoop's `FileSystem`.
  *
  * [[replace]] writes the new table or byte file to a hidden temp sibling
  * (`.<name>.tmp`), then swaps by two renames: live to `.<name>.old`, temp
  * to live. Where a directory rename is atomic (HDFS, local disks) the live
  * data sits complete under one name at every instant, so a crash anywhere
  * leaves the previous or the next version, never neither. Between the two
  * renames the live name is absent: readers then read `.old` in place, and
  * the store's next rewrite keeps it live until its own swap commits.
  * Readers never rename, so a read cannot race a commit. Hidden names keep
  * Spark's partition discovery from reading a half-written sibling as data.
  *
  * On an object store (s3a://) a directory rename is a copy then a delete,
  * so a crash inside one can leave part of a table under the live name:
  * there this swap narrows the window but does not close it.
  *
  * Appends and dynamic-partition overwrites stay outside: they are
  * retry-idempotent by design. One writer per store, as before. */
object StoreFiles {

  private def resolve(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  private def sibling(p: Path, suffix: String): Path =
    new Path(p.getParent, s".${p.getName}.$suffix")

  /** Where the live version of `p` sits: `p`, or its `.old` sibling when a
    * swap was cut between its two renames. */
  private def live(fs: FileSystem, p: Path): Option[Path] =
    Some(p).filter(fs.exists).orElse(Some(sibling(p, "old")).filter(fs.exists))

  private def deleteIfExists(fs: FileSystem, p: Path): Unit =
    if (fs.exists(p)) fs.delete(p, true)

  /** Probe: does the (optional) table or file at `path` exist? */
  def exists(spark: SparkSession, path: String): Boolean = {
    val (fs, p) = resolve(spark, path)
    live(fs, p).isDefined
  }

  /** Read a live parquet table (`schema` pins the layout where inference
    * would fail, e.g. a partitioned table with no partitions yet). */
  def table(spark: SparkSession, path: String,
            schema: Option[StructType] = None): DataFrame = {
    val (fs, p) = resolve(spark, path)
    schema.fold(spark.read)(s => spark.read.schema(s))
      .parquet(live(fs, p).getOrElse(p).toString)
  }

  /** An optional table: `None` when it was never written. */
  def optional(spark: SparkSession, path: String): Option[DataFrame] = {
    val (fs, p) = resolve(spark, path)
    live(fs, p).map(at => spark.read.parquet(at.toString))
  }

  /** A table partitioned by one column, read by partition discovery under
    * `root`; a partition whose swap was cut between its renames is read
    * from its `.old` sibling, which discovery skips. */
  def partitioned(spark: SparkSession, root: String): DataFrame = {
    val (fs, r) = resolve(spark, root)
    val cut = fs.listStatus(r).map(_.getPath.getName)
      .collect { case n if n.startsWith(".") && n.endsWith(".old") =>
        n.stripPrefix(".").stripSuffix(".old") }
      .filter(n => !fs.exists(new Path(r, n)))
    cut.foldLeft(spark.read.parquet(root)) { (df, n) =>
      val Array(key, value) = n.split("=", 2)
      df.unionByName(spark.read.parquet(sibling(new Path(r, n), "old").toString)
        .withColumn(key, lit(unescapePathName(value)).cast(df.schema(key).dataType)))
    }
  }

  /** The table's version for a cache key: its modification time, `None`
    * when absent. A rewrite at the same path changes it (on a store whose
    * directories carry no modification time, such as s3a, it does not). */
  def version(spark: SparkSession, path: String): Option[Long] = {
    val (fs, p) = resolve(spark, path)
    live(fs, p).map(fs.getFileStatus(_).getModificationTime)
  }

  /** Writer side, before it lists the partitions it rewrites: roll back
    * every swap under `dir` that a crash cut between its two renames. */
  def settle(spark: SparkSession, dir: String): Unit = {
    val (fs, root) = resolve(spark, dir)
    fs.listStatus(root).map(_.getPath.getName)
      .collect { case n if n.startsWith(".") && n.endsWith(".old") =>
        new Path(root, n.stripPrefix(".").stripSuffix(".old")) }
      .filter(p => !fs.exists(p))
      .foreach(p => require(fs.rename(sibling(p, "old"), p),
        s"store swap: cannot roll ${sibling(p, "old")} back to $p"))
  }

  /** Rewrite the live table or file at `path`: `write` lands the complete
    * new version at the temp path it is given, then the swap commits it.
    * `write` may read the live version — it is untouched until the swap;
    * after a swap cut between its renames, that is `.old`, which stays
    * live until this swap commits. */
  def replace(spark: SparkSession, path: String)(write: String => Unit): Unit = {
    val (fs, p) = resolve(spark, path)
    val (tmp, old) = (sibling(p, "tmp"), sibling(p, "old"))
    val at = live(fs, p)
    deleteIfExists(fs, tmp) // a crashed attempt's partial write
    write(tmp.toString)
    if (at.contains(p)) {
      deleteIfExists(fs, old)
      // FileSystem.rename reports most failures by returning false
      require(fs.rename(p, old), s"store swap: rename $p -> $old failed; store untouched")
    }
    require(fs.rename(tmp, p), s"store swap: rename $tmp -> $p failed; previous data in $old")
    deleteIfExists(fs, old)
  }

  /** Remove a table (a cleared tombstone set). Swap leftovers go first, so
    * no later read or [[settle]] can bring a removed version back. */
  def remove(spark: SparkSession, path: String): Unit = {
    val (fs, p) = resolve(spark, path)
    deleteIfExists(fs, sibling(p, "old"))
    deleteIfExists(fs, sibling(p, "tmp"))
    deleteIfExists(fs, p)
  }

  /** Rewrite a raw byte file (a store with no rebuild source of its own). */
  def writeBytes(spark: SparkSession, path: String, bytes: Array[Byte]): Unit =
    replace(spark, path) { tmp =>
      val (fs, t) = resolve(spark, tmp)
      val out = fs.create(t, true)
      try out.write(bytes) finally out.close()
    }

  def readBytes(spark: SparkSession, path: String): Array[Byte] = {
    val (fs, p) = resolve(spark, path)
    val at = live(fs, p).getOrElse(p)
    val in = fs.open(at)
    try {
      val buf = new Array[Byte](fs.getFileStatus(at).getLen.toInt)
      in.readFully(0, buf)
      buf
    } finally in.close()
  }
}
