package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.functions.TextHashExpressions
import graft.functions.VectorFunctions.{dot, norm}
import graft.operators.{Dedup, Similarity}
import graft.plans.BlockPairs

/** The block-pair kernel against brute-force references written here: every
  * pair of the input scored by Spark's own expressions over a cross join,
  * then kept when it shares a block. Pair sets must be equal and scores
  * bit-equal. */
class BlockPairsSpec extends SparkSuite {
  import SparkSuite.spark.implicits._

  private def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)

  /** (id_a, id_b) → score bits; fails on a repeated pair. */
  private def pairs(df: DataFrame, score: String): Map[(Long, Long), Long] = {
    val rows = df.select(col("id_a"), col("id_b"), col(score)).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> bits(r.getDouble(2)))
    assert(rows.map(_._1).distinct.length == rows.length, "a pair was emitted twice")
    rows.toMap
  }

  /** Every pair a < b with its cosine by the self-join expression. */
  private def allCosines(embN: DataFrame, threshold: Double): DataFrame = {
    val a = embN.select(col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
    val b = embN.select(col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("s"))
      .filter(col("s") >= threshold)
  }

  /** Pairs of `scored` (id_a, id_b, s) whose rows share a band key. */
  private def sharingABand(scored: DataFrame, keys: DataFrame): Map[(Long, Long), Long] =
    scored
      .join(keys.select(col("id").as("id_a"), col("keys").as("ka")), "id_a")
      .join(keys.select(col("id").as("id_b"), col("keys").as("kb")), "id_b")
      .collect()
      .filter { r =>
        val (ka, kb) = (r.getAs[collection.Seq[Any]]("ka"), r.getAs[collection.Seq[Any]]("kb"))
        ka.indices.exists(i => ka(i) == kb(i))
      }
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> bits(r.getAs[Double]("s")))
      .toMap

  private def lshReference(embN: DataFrame, threshold: Double, b: Int, bands: Int) =
    sharingABand(allCosines(embN, threshold),
      Similarity.withBandSigs(embN, b, bands).select(col("vec_id").as("id"), col("bsigs").as("keys")))

  /** A random corpus with planted exact and scaled copies (they collide in
    * every band). */
  private def corpus(seed: Int, n: Int, dim: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val base = (0 until n).map(i => i.toLong -> Array.fill(dim)(rnd.nextGaussian()))
    val copies = base.take(10).map { case (i, v) => (1000L + i) -> v.clone() } ++
      base.slice(10, 20).map { case (i, v) => (2000L + i) -> v.map(_ * 2.0) }
    (base ++ copies).toDF("vec_id", "v").withColumn("nrm", norm(col("v")))
      .filter(col("nrm") > 0.0)
  }

  test("LSH pairs equal the brute-force reference in both band regimes, at the threshold too") {
    val embN = corpus(11, 200, 6).cache()
    try {
      // (bits, bands): single-word bands, then 2- and 3-word bands (> 60 bits)
      Seq((3, 5), (12, 4), (64, 3), (121, 2)).foreach { case (b, bands) =>
        val loose = lshReference(embN, -1.0, b, bands)
        assert(loose.size >= 10, s"bits=$b: too few colliding pairs (${loose.size})")
        assert(pairs(Similarity.lshPairsOf(embN, -1.0, b, bands), "cos_sim") == loose,
          s"bits=$b bands=$bands")
        // a threshold equal to one pair's cosine keeps that pair
        val at = java.lang.Double.longBitsToDouble(loose.values.toSeq.sorted.apply(loose.size / 2))
        val ref = lshReference(embN, at, b, bands)
        assert(ref.values.exists(_ == bits(at)))
        assert(pairs(Similarity.lshPairsOf(embN, at, b, bands), "cos_sim") == ref,
          s"bits=$b bands=$bands at $at")
      }
    } finally embN.unpersist()
  }

  test("label blocks: singleton, empty, null-key and ragged blocks yield the self-join's pairs") {
    val rows = Seq[(Option[Int], Long, Array[Double])](
      (Some(1), 1L, Array(1.0, 2.0, 3.0)),                                  // singleton
      (Some(2), 2L, Array(1.0, 0.0, 1.0)), (Some(2), 3L, Array(1.0, 0.1, 1.0)),
      (Some(2), 4L, Array(-1.0, 0.5, 0.2)), (Some(2), 5L, Array(1.0, 0.0, 1.0)),
      (None, 6L, Array(1.0, 1.0, 1.0)), (None, 7L, Array(1.0, 1.0, 1.0)),   // null key
      (Some(3), 8L, Array(1.0, 1.0, 1.0)), (Some(3), 9L, Array(1.0, 1.0, 1.0, 0.0)) // ragged
    )
    val emb = rows.toDF("label", "vec_id", "v").withColumn("nrm", norm(col("v")))
    def kernel(e: DataFrame, threshold: Double) =
      BlockPairs(e, Seq("label"), "vec_id", BlockPairs.Cosine("v", "nrm"), threshold, "cos_sim")
    Seq(-1.0, 0.5, 1.0).foreach { t =>
      val got = pairs(kernel(emb, t), "cos_sim")
      assert(got == selfJoin(emb, t), s"threshold $t")
      assert(got.keySet.forall { case (a, _) => a >= 2 && a <= 5 }, s"$got")
    }
    assert(pairs(kernel(emb, -1.0), "cos_sim").size == 6) // block 2 only
    assert(kernel(emb.filter(lit(false)), -1.0).count() == 0)
    // one block far past the kernel's initial buffers
    val rnd = new scala.util.Random(5)
    val big = (0 until 700).map(i => (Option(4), 100L + i, Array.fill(5)(rnd.nextGaussian())))
      .toDF("label", "vec_id", "v").withColumn("nrm", norm(col("v")))
    val bigPairs = pairs(kernel(big, 0.5), "cos_sim")
    assert(bigPairs.size > 1000 && bigPairs == selfJoin(big, 0.5), s"${bigPairs.size}")
    // the label passes through beside each pair
    assert(kernel(emb, -1.0).select("label").distinct().as[Int].collect().toSeq == Seq(2))
  }

  /** The label self-join's pairs at `threshold`, with their cosine bits. */
  private def selfJoin(e: DataFrame, threshold: Double): Map[(Long, Long), Long] = {
    val a = e.select(col("label"), col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
    val b = e.select(col("label"), col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, Seq("label")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("s"))
      .filter(col("s") >= threshold)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> bits(r.getDouble(2))).toMap
  }

  test("components: every paired row with the least id of its connected component") {
    // points on a circle in three labels: close neighbours chain into
    // components of two or more, the rest stay single
    val rnd = new scala.util.Random(3)
    val emb = (0 until 300).map { i =>
      val a = rnd.nextDouble() * 2 * math.Pi
      (i % 3, i.toLong, Array(math.cos(a), math.sin(a)))
    }.toDF("label", "vec_id", "v").withColumn("nrm", norm(col("v")))
    val threshold = math.cos(0.03)
    // reference: union-find over the self-join's pairs
    val up = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { val p = up.getOrElse(x, x); if (p == x) x else find(p) }
    selfJoin(emb, threshold).keys.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) up(math.max(ra, rb)) = math.min(ra, rb)
      up.getOrElseUpdate(a, a); up.getOrElseUpdate(b, b)
    }
    val ref = up.keys.map(x => x -> find(x)).toMap
    assert(ref.values.groupBy(identity).exists(_._2.size >= 3), "no component of three")
    val got = BlockPairs.components(emb, Seq("label"), "vec_id", BlockPairs.Cosine("v", "nrm"),
      threshold).select(col("label"), col("id"), col("root")).as[(Int, Long, Long)].collect()
    assert(got.map(r => r._2 -> r._3).toMap == ref)
    assert(got.length == ref.size)
    assert(got.forall { case (label, id, _) => id % 3 == label })
  }

  test("MinHash pairs equal the brute-force agreement reference") {
    val (numHashes, bands, rows) = (16, 4, 4)
    val sigs = Dedup.minhashSigs(Tables.documents(spark, sf), 3, numHashes)
      .filter(col("sig").isNotNull).cache()
    try {
      val keys = sigs.select(col("doc_id").as("id"),
        transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col("sig"), b * rows + 1, lit(rows)), b)).as("keys"))
      Seq(0.0, 0.5).foreach { t =>
        val a = sigs.select(col("doc_id").as("id_a"), col("sig").as("sa"))
        val b = sigs.select(col("doc_id").as("id_b"), col("sig").as("sb"))
        val scored = a.crossJoin(b).filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
            (TextHashExpressions.sigAgree(col("sa"), col("sb")).cast("double") / numHashes).as("s"))
          .filter(col("s") >= t)
        val ref = sharingABand(scored, keys)
        assert(ref.nonEmpty)
        assert(pairs(Dedup.minhashLsh(spark, sf, 3, numHashes, bands, t), "est_jaccard") == ref,
          s"threshold $t")
      }
    } finally sigs.unpersist()
  }

  test("LSH plans the kernel and no join") {
    val plan = Similarity.lshNeardupPairs(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("BlockPairs"), plan)
    // the signature kernel runs once per vector (no inferred filter re-runs it)
    assert("rhp_sign_array".r.findAllIn(plan).length == 1, plan)
    val rows: Array[Row] = Similarity.lshNeardupPairs(spark, sf).collect()
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
  }
}
