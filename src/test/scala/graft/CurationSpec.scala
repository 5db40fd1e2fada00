package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The curation entries perfbench's `corpus_curation` pass calls, as a
  * caller sees them: what they leave behind and how many Spark jobs they
  * schedule. */
class CurationSpec extends SparkSuite {
  private val entries = Seq("doc_dedup_exact", "doc_dedup_minhash", "doc_quality",
    "doc_curate", "doc_pack", "doc_token_budget", "emb_lsh_auto", "emb_d4")

  private def cacheEmpty: Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  test("no Dataset cache outlives a curation call") {
    spark.catalog.clearCache()
    entries.foreach { name =>
      SparkEntry.queries(name)(spark, sf).collect()
      assert(cacheEmpty, s"$name left a Dataset cache")
    }
  }

  /** Spark jobs one collect of `name` schedules. */
  private def jobs(name: String): Int = {
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    TestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      SparkEntry.queries(name)(spark, sf).collect()
      TestBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    n.get
  }

  // the job budget of the two LSH entries: a change that adds a job to
  // either fails here; one that removes a job lowers the pin
  test("job counts of the LSH entries stay pinned") {
    val counts = Seq("emb_lsh_auto", "doc_dedup_minhash").map(e => e -> jobs(e)).toMap
    assert(counts == Map("emb_lsh_auto" -> 5, "doc_dedup_minhash" -> 3), s"$counts")
  }
}
