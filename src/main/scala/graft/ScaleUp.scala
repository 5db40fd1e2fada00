package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-up replication generator for SCALE REHEARSALS: writes an
  * N×-replicated copy of a testdata SF dir (default 10× ≈ sf1.0 from
  * sf0.1) so the bench can be driven at a data size the driver doesn't
  * ship. Keys shift per KEY DOMAIN, not per table: every column that
  * participates in a join (primary key and all its foreign-key references
  * — `o_custkey`/`user_id` with `c_custkey`, `l_orderkey` with
  * `o_orderkey`, …) shifts by the SAME domain stride (pow10 above the
  * domain's global max), so copy k of every fact joins copy k of its
  * dims and join integrity is exact across tables. Key cardinality
  * scales with the data (10× users, docs, vectors — not 10× rows on the
  * same keys, which would rehearse skew, not scale).
  *
  * Dims `region`/`nation` stay single-copy (they are constant-size in
  * TPC-H at any SF; nationkey/regionkey foreign keys are left unshifted
  * everywhere so they keep resolving). Timestamps are left as-is: a 10×
  * event table on the same horizon = 10× busier stream, the realistic
  * scale-up. Usage:
  *
  *   runMain graft.ScaleUp <srcDir> <dstDir> [copies] [replicate|distinct]
  */
object ScaleUp {

  /** (column, key domain) per table — all columns of one domain share a
    * stride so cross-table joins stay within a copy. nation/region keys
    * intentionally absent. */
  private val keyDomains: Map[String, Seq[(String, String)]] = Map(
    "customer"   -> Seq("c_custkey" -> "cust"),
    "supplier"   -> Seq("s_suppkey" -> "supp"),
    "part"       -> Seq("p_partkey" -> "part"),
    "orders"     -> Seq("o_orderkey" -> "order", "o_custkey" -> "cust"),
    "lineitem"   -> Seq("l_orderkey" -> "order", "l_partkey" -> "part",
                        "l_suppkey" -> "supp"),
    "events"     -> Seq("event_id" -> "event", "user_id" -> "cust"),
    "documents"  -> Seq("doc_id" -> "doc"),
    "embeddings" -> Seq("vec_id" -> "vec"),
    "region"     -> Seq.empty,
    "nation"     -> Seq.empty
  )

  private[graft] def strideFor(maxId: Long): Long =
    math.pow(10, math.ceil(math.log10(maxId + 2.0))).toLong

  /** `distinct` mode makes each copy's CONTENT distinct, not just its keys
    * — the realistic 10× corpus (mostly new content), vs `replicate`'s
    * adversarial one (every doc duplicated ×copies, the worst case for
    * pair-forming operators whose cost follows pair volume ~ dup²):
    * - documents: copy k ≥ 1 suffixes every token with "q&lt;k&gt;", so copies
    *   are textually disjoint while intra-copy gram/frequency structure is
    *   exactly preserved (token counts, doc lengths ±3 chars/token);
    * - embeddings: copy k ≥ 1 sign-flips a deterministic per-copy subset
    *   of dims — an ORTHOGONAL transform, so intra-copy geometry (norms,
    *   distances, neighbor sets) is exactly preserved while cross-copy
    *   vectors scatter into other orthants.
    * Copy 0 always stays pristine. */
  private def perturb(table: String, mode: String)(df: DataFrame): DataFrame =
    if (mode != "distinct") df
    else table match {
      case "documents" => df.withColumn("text",
        when(col("__copy") === 0 || col("text").isNull, col("text"))
          .otherwise(array_join(transform(split(col("text"), " "),
            t => concat(t, lit("q"), col("__copy"))), " ")))
      case "embeddings" => df.withColumn("embedding",
        when(col("__copy") === 0, col("embedding"))
          .otherwise(transform(col("embedding"), (v, i) =>
            when(pmod(xxhash64(col("__copy") * 1024 + i.cast("long")),
              lit(2L)) === 0, v).otherwise(-v))))
      case _ => df
    }

  private[graft] def replicate(df: DataFrame, cols: Seq[(String, Long)],
                               copies: Int, table: String = "",
                               mode: String = "replicate"): DataFrame = {
    if (cols.isEmpty) return df
    val copied = df.withColumn("__copy",
      explode(sequence(lit(0L), lit(copies - 1L))))
    val shifted = cols.foldLeft(copied) { case (d, (c, stride)) =>
      d.withColumn(c, col(c) + col("__copy") * stride)
    }
    perturb(table, mode)(shifted).drop("__copy")
  }

  private def load(spark: SparkSession, dir: String, table: String): DataFrame =
    // events is TIMESTAMP(NANOS) parquet — the typed loader converts to a
    // µs timestamp, which Tables.events passes through on read-back
    if (table == "events") Tables.events(spark, dir)
    else Tables.table(spark, dir, table)

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: ScaleUp <srcDir> <dstDir> [copies] [replicate|distinct]")
    val (src, dst) = (args(0), args(1))
    val copies = if (args.length > 2) args(2).toInt else 10
    val mode = if (args.length > 3) args(3) else "replicate"
    val spark = GraftSession.local()
    generate(spark, src, dst, copies, mode)
    spark.stop()
  }

  /** Callable form of the generator (Bench's standing scale section uses it
    * in-session so the 10× rehearsal shares the bench's warm JVM). */
  def generate(spark: SparkSession, src: String, dst: String,
               copies: Int, mode: String): Unit = {
    // pass 1: global max per key domain (driver holds one long per domain)
    val domainMax = keyDomains.toSeq
      .flatMap { case (table, cols) =>
        if (cols.isEmpty) Seq.empty
        else {
          val df = load(spark, src, table)
          val maxes = df.agg(max(col(cols.head._1).cast("long")),
            cols.tail.map { case (c, _) => max(col(c).cast("long")) }: _*).head()
          cols.zipWithIndex.map { case ((_, dom), i) =>
            require(!maxes.isNullAt(i),
              s"source table '$table' is empty in $src — nothing to scale")
            dom -> maxes.getLong(i)
          }
        }
      }
      .groupBy(_._1).map { case (dom, ms) => dom -> strideFor(ms.map(_._2).max) }
    println(s"[scaleup] domain strides: $domainMax")
    // pass 2: shift + write. The scaled FACT tables are repartitioned to
    // `copies` output files: the source SF dirs are single small parquet
    // files, and explode-within-one-task would write the N× table as ONE
    // file = one row group = ONE scan task — so every map-only operator
    // measured "N×" serial execution on 1 of 32 cores, a layout artifact,
    // not a scaling law (r10: doc_pii_scrub read 12.3× at 10× from this
    // alone). A real N× ingest arrives as ~N× the files; the rehearsal
    // should model that.
    keyDomains.foreach { case (table, cols) =>
      val in = load(spark, src, table)
      val out = replicate(in, cols.map { case (c, dom) => c -> domainMax(dom) },
        copies, table, mode)
      (if (cols.isEmpty) out else out.repartition(copies))
        .write.mode("overwrite").parquet(s"$dst/$table.parquet")
      println(s"[scaleup] $table: ${in.count()} -> ${spark.read.parquet(s"$dst/$table.parquet").count()} rows")
    }
  }
}
