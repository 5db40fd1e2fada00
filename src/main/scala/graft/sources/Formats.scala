package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Pins._

/** Batch file-format surface beyond parquet: schema-ENFORCED CSV and JSONL
  * readers with corrupt-record dead-lettering, and ORC as a lossless
  * columnar interchange format (datasource built into Spark — no external
  * module). The batch twin of the streaming Kafka facade's raw-JSON
  * dead-letter discipline (EventPipeline).
  *
  * Design rules at 100 TB:
  *   - NEVER `inferSchema` — inference is a full extra scan of the source
  *     just to guess types, and a guess that drifts per batch. The schema
  *     is declared once and enforced; rows that don't parse are DATA, not
  *     exceptions, and land in the dead-letter sink with their raw text.
  *   - PERMISSIVE + columnNameOfCorruptRecord: a malformed row nulls its
  *     typed columns and captures the raw line — FAILFAST would kill a
  *     100 TB job on one bad row, DROPMALFORMED silently loses data.
  *   - The parse materializes ONCE (localCheckpoint) before the good/dead
  *     split: Spark refuses to filter on only the corrupt column of a lazy
  *     CSV/JSON scan, and without it the split would parse the source
  *     twice anyway. */
object Formats {

  /** The declared event schema + the corrupt-record capture column. */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("_corrupt", StringType)))

  /** Schema-enforced CSV events reader (header expected, ISO timestamps).
    * A row with the wrong arity or an unparsable cell comes back with its
    * typed columns null and `_corrupt` holding the raw line. */
  def eventsCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(eventSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .csv(path)

  /** Schema-enforced JSON-lines events reader — same contract as
    * [[eventsCsv]]: malformed JSON or type-mismatched fields dead-letter,
    * they never throw. */
  def eventsJsonl(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(eventSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .json(path)

  /** Split a parsed frame into the typed good path and the raw dead-letter
    * path (both parquet, append — the retryable-ingest convention), from
    * ONE materialized parse. Returns (nGood, nDead). */
  def ingest(parsed: DataFrame, goodPath: String,
             deadPath: String): (Long, Long) = scope {
    val p = parsed.pin()
    val good = p.filter(col("_corrupt").isNull).drop("_corrupt")
    val dead = p.filter(col("_corrupt").isNotNull)
      .select(col("_corrupt").as("raw"))
    good.write.mode("append").parquet(goodPath)
    dead.write.mode("append").parquet(deadPath)
    (good.count(), dead.count())
  }
}
