package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session keeps the
  * test run fast). */
object SparkSuite {
  // GraftSession: tests run with the same extensions (AutoBarrierExplode,
  // native function registration) as every shipped session. The `crash:`
  // scheme is StoreCrashSpec's fault-injecting file system.
  lazy val spark: SparkSession = GraftSession.local(4,
    Map("spark.hadoop.fs.crash.impl" -> classOf[CrashFs].getName))
  val sf: String = "/root/testdata/sf0.001"
}

trait SparkSuite extends AnyFunSuite {
  def spark: SparkSession = SparkSuite.spark
  def sf: String = SparkSuite.sf
}
