package graft.streaming

import org.apache.spark.sql.SparkSession

/** State-store tuning for a deployed stream — the knobs the streaming bench
  * sets inline, as a reusable scoped facade. The RocksDB provider is always
  * set: every [[StepProcessor]] needs it (it also bounds heap and restores
  * fast). Rationale per knob:
  *
  *   - `statePartitions`: state-store COMMITS per trigger scale with
  *     partitions × stateful operators, pure overhead above the stream's
  *     key cardinality — size to keys, not to the batch shuffle default.
  *     Fixed at the first checkpoint for the life of the query.
  *   - `changelogCheckpointing`: commit ships the per-batch delta instead
  *     of re-snapshotting every store — the per-trigger latency knob.
  *   - `trackTotalRows`: RocksDB counts state rows (`numRowsTotal`) at a
  *     read per write.
  *
  * `withTuning` scopes the confs to a block and restores prior values, so
  * one session can run differently-tuned streams without leakage. */
final case class StateTuning(
    statePartitions: Int = 4,
    changelogCheckpointing: Boolean = true,
    trackTotalRows: Boolean = true) {

  private val Keys = Seq(
    "spark.sql.shuffle.partitions",
    "spark.sql.streaming.stateStore.providerClass",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
    "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows")

  /** Apply to the session; returns the prior values for [[restore]]. */
  def apply(spark: SparkSession): Map[String, Option[String]] = {
    val prior = Keys.map(k => k -> spark.conf.getOption(k)).toMap
    val Seq(partitions, provider, changelog, totalRows) = Keys
    spark.conf.set(partitions, statePartitions.toString)
    spark.conf.set(provider, StepProcessor.RocksDbProvider)
    spark.conf.set(changelog, changelogCheckpointing.toString)
    spark.conf.set(totalRows, trackTotalRows.toString)
    prior
  }

  def restore(spark: SparkSession, prior: Map[String, Option[String]]): Unit =
    prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }

  /** Run `f` with the tuning applied, restoring the session after. */
  def withTuning[A](spark: SparkSession)(f: => A): A = {
    val prior = apply(spark)
    try f finally restore(spark, prior)
  }
}
