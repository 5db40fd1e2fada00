package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.functions.{VectorExpressions, VectorFunctions}
import graft.operators.Similarity

class SimilaritySpec extends SparkSuite {
  import SparkSuite.spark.implicits._

  test("native DotProductExpr matches the interpreted HOF form bit-for-bit") {
    val df = Tables.embeddings(spark, sf)
      .select(VectorFunctions.toDouble(col("embedding")).as("v"))
      .limit(200)
    val both = df.select(
      VectorFunctions.dot(col("v"), col("v")).as("native"),
      VectorFunctions.dotHof(col("v"), col("v")).as("hof")).collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft-sim").toString
    // orthogonal unit basis + a near-copy of e0
    def unit(i: Int): Array[Float] = Array.tabulate(8)(j => if (i == j) 1f else 0f)
    val near = Array.tabulate(8)(j => if (j == 0) 1f else if (j == 1) 0.1f else 0f)
    val vecs = Seq(
      (0L, unit(0), 0), (1L, unit(1), 1), (2L, unit(2), 2),
      (10L, near, 0), (11L, unit(1), 1), (12L, unit(3), 3))
      .toDF("vec_id", "embedding", "label")
    vecs.coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  test("cosineTopK ranks the near-copy first for its query") {
    val out = Similarity.cosineTopK(spark, dir, nQueries = 3, k = 2).collect()
      .groupBy(_.getAs[Long]("q_id"))
    // query 0 = e0: nearest corpus vec is 10 (cos ~0.995)
    val q0 = out(0L).sortBy(_.getAs[Long]("rank"))
    assert(q0.head.getAs[Long]("vec_id") == 10L)
    assert(q0.head.getAs[Double]("cos_sim") > 0.99)
    // query 1 = e1: corpus vec 11 is identical (cos = 1.0)
    val q1 = out(1L).sortBy(_.getAs[Long]("rank"))
    assert(q1.head.getAs[Long]("vec_id") == 11L)
    assert(q1.head.getAs[Double]("cos_sim") === 1.0)
  }

  test("range query: exactly the above-threshold set on the planted basis; IVF path is a subset closed by exhaustive probes") {
    // planted basis: query 0 (e0) matches only vec 10 (cos ≈ .995) at θ=.3;
    // query 1 (e1) matches only its identical copy 11 at cos exactly 1.0
    val brute = Similarity.rangeQuery(spark, dir, nQueries = 3).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("cos_sim")))
    assert(brute.map(t => (t._1, t._2)).toSet == Set((0L, 10L), (1L, 11L)))
    assert(brute.find(_._2 == 11L).get._3 == 1.0)
    // sf corpus: exhaustive probes ≡ brute (set-equal incl. scores);
    // default probes are a SUBSET (the measured recall trade)
    def key(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("cos_sim"))).toSet
    val b = key(Similarity.rangeQuery(spark, sf).collect())
    val ex = key(Similarity.rangeQueryIvfExhaustive(spark, sf).collect())
    val probed = key(Similarity.rangeQueryIvf(spark, sf).collect())
    assert(b.nonEmpty && ex == b)
    assert(probed.subsetOf(b), s"probed emitted a non-match")
    assert(probed.size >= b.size / 2, // the default probes catch most of it
      s"recall collapsed: ${probed.size}/${b.size}")
  }

  test("hamming exhaustive twin equals brute-force cosine top-k exactly") {
    val brute = Similarity.cosineTopK(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rank")) ->
        (r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"))).toMap
    val ham = Similarity.hammingTopKExhaustive(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rank")) ->
        (r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"))).toMap
    assert(ham.nonEmpty && ham == brute,
      "rerank over the whole corpus must reduce to brute force")
  }

  test("hamming default shortlist keeps high rank-1 recall on the sf corpus") {
    val brute1 = Similarity.cosineTopK(spark, sf).collect()
      .filter(_.getAs[Long]("rank") == 1L)
      .map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("vec_id")).toMap
    val ham1 = Similarity.hammingTopK(spark, sf).collect()
      .filter(_.getAs[Long]("rank") == 1L)
      .map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("vec_id")).toMap
    val hits = brute1.count { case (q, v) => ham1.get(q).contains(v) }
    assert(hits >= (brute1.size * 7) / 10,
      s"rank-1 recall ${hits}/${brute1.size} under the 128-bit default")
  }

  test("mmr at lambda=1 reproduces plain cosine top-k; lower lambda diversifies") {
    val plain = Similarity.cosineTopK(spark, sf).collect()
      .groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("vec_id")).toSeq }
    val mmr1 = Similarity.mmrTopK(spark, sf, lambda = 1.0).collect()
      .groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.sortBy(_.getAs[Long]("sel_rank")).map(_.getAs[Long]("vec_id")).toSeq }
    assert(mmr1.nonEmpty && mmr1 == plain,
      "lambda=1 removes the redundancy term entirely")
    // planted redundancy: two near-copies of the query direction + one
    // relevant-but-orthogonal candidate
    val d = Files.createTempDirectory("graft-mmr").toString
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray.padTo(8, 0f)
    Seq(
      (0L, v(1.0), 0),          // the query
      (10L, v(1.0, 0.05), 0),   // near-copy A of the query direction
      (11L, v(1.0, 0.06), 0),   // near-copy B — redundant given A
      (12L, v(0.6, 0.0, 0.8), 1)) // relevant, orthogonal to the copies
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val sel = Similarity.mmrTopK(spark, d, nQueries = 1, k = 3, lambda = 0.3)
      .collect().sortBy(_.getAs[Long]("sel_rank")).map(_.getAs[Long]("vec_id")).toSeq
    assert(sel == Seq(10L, 12L, 11L),
      s"greedy MMR must interleave the diverse candidate, got $sel")
    val plainSel = Similarity.mmrTopK(spark, d, nQueries = 1, k = 3, lambda = 1.0)
      .collect().sortBy(_.getAs[Long]("sel_rank")).map(_.getAs[Long]("vec_id")).toSeq
    assert(plainSel == Seq(10L, 11L, 12L))
  }

  test("mmr at intermediate lambda: scores AND selections match an independent greedy reference") {
    // non-trivial geometry (no orthogonal shortcuts): the redundancy-update
    // path must fire on several steps, and every emitted mmr_score is
    // checked against a from-scratch Scala implementation of Carbonell's
    // greedy recurrence — not just the selection order
    val d = Files.createTempDirectory("graft-mmr-ref").toString
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray.padTo(4, 0f)
    val vecs: Map[Long, Array[Float]] = Map(
      0L -> v(1.0, 0.2, 0.1),               // query 0
      1L -> v(0.1, 1.0, 0.3),               // query 1
      10L -> v(0.9, 0.3, 0.2),
      11L -> v(0.85, 0.35, 0.15),
      12L -> v(0.2, 0.9, 0.4),
      13L -> v(0.5, 0.5, 0.5),
      14L -> v(0.7, 0.1, 0.6),
      15L -> v(0.3, 0.8, 0.1))
    vecs.toSeq.sortBy(_._1).map { case (id, a) => (id, a, 0) }
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")

    def cos(a: Array[Float], b: Array[Float]): Double = {
      def dot(x: Array[Float], y: Array[Float]) =
        x.indices.map(j => x(j).toDouble * y(j).toDouble).sum
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    }
    // independent greedy MMR: top-`shortlist` relevance pool, then k rounds
    // of argmax(λ·cos − (1−λ)·red) with incremental red = max(red, cos(c, picked))
    def refMmr(qIds: Seq[Long], corpus: Seq[Long], k: Int, lambda: Double,
               shortlist: Int): Set[(Long, Long, Long, Double, Double)] =
      qIds.flatMap { q =>
        var pool = corpus.map(c => (c, cos(vecs(c), vecs(q))))
          .sortBy { case (id, s) => (-s, id) }.take(shortlist)
          .map { case (id, s) => (id, s, 0.0) } // (vec_id, cos_sim, red)
        (1 to k).flatMap { step =>
          if (pool.isEmpty) Nil else {
            val scored = pool.map { case (id, s, red) =>
              (id, s, lambda * s - (1 - lambda) * red) }
            val (pid, pcos, pscore) = scored.sortBy { case (id, _, m) => (-m, id) }.head
            pool = pool.filter(_._1 != pid).map { case (id, s, red) =>
              (id, s, math.max(red, cos(vecs(id), vecs(pid)))) }
            Seq((q, step.toLong, pid, pcos, pscore))
          }
        }
      }.toSet

    var anyFlip = false
    val rel = refMmr(Seq(0L, 1L), (10L to 15L), k = 4, lambda = 1.0, shortlist = 6)
    for (lambda <- Seq(0.3, 0.5, 0.7)) {
      val got = Similarity.mmrTopK(spark, d, nQueries = 2, k = 4,
        lambda = lambda, shortlist = 6).collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("sel_rank"),
          r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"),
          r.getAs[Double]("mmr_score"))).toSet
      val want = refMmr(Seq(0L, 1L), (10L to 15L), k = 4, lambda = lambda,
        shortlist = 6)
      assert(got.size == want.size, s"λ=$lambda: ${got.size} vs ${want.size} rows")
      // match on identity, then scores to 1e-9 (independent double paths)
      val gotByKey = got.map(t => (t._1, t._2) -> t).toMap
      want.foreach { case (q, step, id, c, m) =>
        val g = gotByKey((q, step))
        assert(g._3 == id, s"λ=$lambda q$q step$step: picked ${g._3}, want $id")
        assert(math.abs(g._4 - c) < 1e-9, s"λ=$lambda q$q step$step cos ${g._4} vs $c")
        assert(math.abs(g._5 - m) < 1e-9, s"λ=$lambda q$q step$step mmr ${g._5} vs $m")
      }
      if (want.map(t => (t._1, t._2, t._3)) != rel.map(t => (t._1, t._2, t._3)))
        anyFlip = true
    }
    // non-vacuous: the redundancy term must actually change a selection vs
    // pure relevance at SOME tested λ (measured: the flip happens at 0.3 —
    // positively-correlated fixtures need a strong diversity weight)
    assert(anyFlip, "fixture too easy: no tested λ reorders vs λ=1")
  }

  test("hardNegatives: nearest DIFFERENT-label vectors, same-label near-copy excluded") {
    // planted dir: query 0 (label 0, = e0) has corpus near-copy 10 with the
    // SAME label (cos ~0.995) — top-k would return it first; hard-negative
    // mining must skip it and return only other-label vectors
    val out = Similarity.hardNegatives(spark, dir, nQueries = 3, k = 2).collect()
    val q0 = out.filter(_.getAs[Long]("q_id") == 0L).sortBy(_.getAs[Long]("rank"))
    assert(q0.nonEmpty)
    assert(!q0.exists(_.getAs[Long]("vec_id") == 10L), "same-label near-copy leaked")
    assert(q0.forall(_.getAs[Int]("label") != 0))
  }

  test("embKeepList: near-dup vectors collapse to min-id canonicals; singletons keep themselves") {
    val out = Similarity.embKeepList(spark, dir, threshold = 0.9).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("canonical_id"), r.getAs[Boolean]("keep"))).toMap
    // planted near pairs: (0,10) and (1,11) -> canonicals 0 and 1
    assert(out(0L) == (0L, true) && out(10L) == (0L, false))
    assert(out(1L) == (1L, true) && out(11L) == (1L, false))
    // unpaired vectors are their own canonical
    assert(out(2L) == (2L, true) && out(12L) == (12L, true))
    assert(out.size == 6)
  }

  test("neardupPairs finds only the same-label near pair above threshold") {
    val pairs = Similarity.neardupPairs(spark, dir, threshold = 0.9).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    assert(pairs.toSet == Set((0L, 10L), (1L, 11L)))
  }

  test("sign-LSH near-dup: exact precision, finds planted high-cos pairs without labels") {
    import java.nio.file.Files
    val d = Files.createTempDirectory("graft-lsh").toString
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    def jitter(v: Array[Float], eps: Float): Array[Float] =
      v.map(a => a + eps * rnd.nextGaussian().toFloat)
    val base1 = vec()
    val base2 = vec()
    val rows = Seq(
      (0L, base1, 0), (1L, jitter(base1, 0.05f), 0),  // cos ≈ 0.999
      (2L, base2, 1), (3L, jitter(base2, 0.10f), 1)   // cos ≈ 0.995
    ) ++ (4L until 40L).map(i => (i, vec(), 2))
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val out = Similarity.lshNeardupPairs(spark, d, threshold = 0.9).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Double]("cos_sim")).toMap
    // recall: both planted near-identical pairs collide in some band
    assert(out.contains((0L, 1L)) && out.contains((2L, 3L)), s"planted pairs missing: ${out.keySet}")
    // precision: every emitted pair is exact-cosine verified
    assert(out.values.forall(_ >= 0.9))
    // independent gaussians never reach cos 0.9
    assert(out.keySet == Set((0L, 1L), (2L, 3L)), s"spurious pairs: ${out.keySet}")
  }

  test("plane-offset signatures equal slices of one long signature") {
    // the unbounded-band core relies on this: rhpSign(v, 4, 4b) must be
    // bits [4b, 4b+4) of rhpSign(v, 16) — bit-compatible with the old
    // single-word banding wherever offsets stay under 64
    val df = Tables.embeddings(spark, sf)
      .select(VectorFunctions.toDouble(col("embedding")).as("v")).limit(100)
    val checked = df.select(
      (VectorExpressions.rhpSign(col("v"), 16).as("whole") +:
        (0 until 4).map(b =>
          VectorExpressions.rhpSign(col("v"), 4, b * 4).as(s"b$b"))): _*)
      .collect()
    assert(checked.nonEmpty)
    checked.foreach { r =>
      val whole = r.getAs[Long]("whole")
      (0 until 4).foreach { b =>
        assert(r.getAs[Long](s"b$b") == ((whole >> (b * 4)) & 15L),
          s"band $b mismatch for sig $whole")
      }
    }
  }

  test("batched band-signature kernel is bit-equal to the per-band form") {
    // r12 optimization: rhp_sign_array(v, bits, bands) replaces the
    // array(rhpSign(b=0)…rhpSign(b=bands−1)) construction in every
    // single-word LSH path — element b must equal rhpSign(v, bits, b·bits)
    // bit-for-bit (same planes, same sign rule), and empty vectors must
    // yield NULL so the callers' bsigs(0).isNotNull filter keeps the same
    // rows the array-of-null-elements form kept
    val df = Tables.embeddings(spark, sf)
      .select(VectorFunctions.toDouble(col("embedding")).as("v")).limit(100)
    for ((bits, bands) <- Seq((5, 32), (24, 128), (60, 3))) {
      val checked = df.select(
        (VectorExpressions.rhpSignArray(col("v"), bits, bands).as("arr") +:
          (0 until bands).map(b =>
            VectorExpressions.rhpSign(col("v"), bits, b * bits).as(s"b$b"))): _*)
        .collect()
      assert(checked.nonEmpty)
      checked.foreach { r =>
        val arr = r.getAs[scala.collection.Seq[Long]]("arr")
        assert(arr.length == bands)
        (0 until bands).foreach { b =>
          assert(arr(b) == r.getAs[Long](s"b$b"),
            s"bits=$bits band $b: ${arr(b)} != ${r.getAs[Long](s"b$b")}")
        }
      }
    }
    import SparkSuite.spark.implicits._
    val empty = Seq(Array.empty[Double]).toDF("v")
      .select(VectorExpressions.rhpSignArray(col("v"), 8, 4).as("arr"))
      .collect()
    assert(empty.head.isNullAt(0), "empty vector must yield NULL")
  }

  test("adaptive LSH sizing pins occupancy and holds the recall bound") {
    import Similarity.lshAutoParams
    // band width tracks corpus size: 10x vectors -> +log2(10) ~ 3-4 bits
    val (bits2k, _) = lshAutoParams(2000, 0.85, 0.9, 64, 32)
    val (bits20k, _) = lshAutoParams(20000, 0.85, 0.9, 64, 32)
    val (bits1e9, bands1e9) = lshAutoParams(1000000000L, 0.85, 0.9, 64, 32)
    assert(bits2k == 5 && bits20k == 9, s"got $bits2k / $bits20k")
    assert(bits1e9 == 24 && bands1e9 == 32) // capped: recall degrades, cost doesn't
    // the uncapped band count satisfies the collision bound at the target
    val (bits, bands) = lshAutoParams(20000, 0.85, 0.9, 64, 64)
    val p = 1.0 - math.acos(0.85) / math.Pi
    val recall = 1.0 - math.pow(1.0 - math.pow(p, bits), bands)
    assert(recall >= 0.9, s"bound violated: $recall at ($bits, $bands)")
  }

  test("lsh recall instrumentation: closed form sane, cap floor visible, gate-SF measured recall holds") {
    import Similarity.{lshTheoreticalRecall, lshEmpiricalRecall}
    // hand-checked point: the sf0.1 scheme (bits 5, bands 22 at θ=0.4)
    // sits just above the 0.9 sizing target
    val r = lshTheoreticalRecall(0.4, 5, 22)
    assert(r > 0.90 && r < 0.905, s"got $r")
    assert(lshTheoreticalRecall(0.4, 5, 21) < r)   // monotone in bands
    // the 10x-scale capped scheme reports its degraded floor (~0.40),
    // not the target — no silent recall loss
    assert(lshTheoreticalRecall(0.4, 9, 32) < 0.5)
    // measured against the exact pair enumeration on the gate corpus:
    // the auto-sized scheme delivers (pairs above threshold beat the
    // at-threshold floor)
    val (nTrue, found, emp, _, _) = lshEmpiricalRecall(spark, sf, 0.4)
    assert(nTrue > 0 && found <= nTrue)
    assert(emp >= 0.85, s"empirical recall $emp ($found of $nTrue)")
  }

  test("adaptive LSH finds planted near-dup pairs with exact precision") {
    import java.nio.file.Files
    val d = Files.createTempDirectory("graft-lsh-auto").toString
    val rnd = new scala.util.Random(13)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    def jitter(v: Array[Float], eps: Float): Array[Float] =
      v.map(a => a + eps * rnd.nextGaussian().toFloat)
    val planted = (0 until 6).map(_ => vec())
    val rows = planted.zipWithIndex.flatMap { case (v, i) =>
      Seq((i * 2L, v, i), (i * 2L + 1L, jitter(v, 0.05f), i))
    } ++ (100L until 1000L).map(i => (i, vec(), 99))
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val out = Similarity.lshNeardupPairsAuto(spark, d).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Double]("cos_sim")).toMap
    val want = (0 until 6).map(i => (i * 2L, i * 2L + 1L)).toSet
    // recall target is 0.9 per pair; 6 planted pairs at cos≈0.999 (where
    // the per-band collision rate is far above the sizing threshold 0.85)
    // — all must be found
    assert(want.subsetOf(out.keySet), s"missing: ${want -- out.keySet}")
    // precision exact by construction; independent gaussians never hit 0.85
    assert(out.keySet == want, s"spurious: ${out.keySet -- want}")
  }

  test("pqTopK: finds planted near-neighbours through quantized scoring + exact re-rank") {
    // retrieval-shaped corpus: each query has 3 planted near-dups (cos≈0.99)
    // among 200 unrelated vectors — the regime ANN indexes exist for. (The
    // driver's synthetic embeddings have no neighbour structure: the cos gap
    // between rank-3 and rank-50 is ~0.02, below PQ quantization noise.)
    import java.nio.file.Files
    val d = Files.createTempDirectory("graft-pq").toString
    val rnd = new scala.util.Random(11)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val queries = (0L until 5L).map(q => q -> vec()).toMap
    val planted = for {
      q <- 0L until 5L; j <- 0 until 3
    } yield (100L + q * 10 + j, queries(q).map(a => a + 0.15f * rnd.nextGaussian().toFloat), q.toInt)
    val noise = (500L until 700L).map(i => (i, vec(), 9))
    val rows = queries.toSeq.map { case (q, v) => (q, v, q.toInt) } ++ planted ++ noise
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")

    val pq = Similarity.pqTopK(spark, d, nQueries = 5, k = 3).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    assert(pq.groupBy(_._1).forall(_._2.size == 3), "k results per query")
    val expected = (for { q <- 0L until 5L; j <- 0 until 3 } yield (q, 100L + q * 10 + j)).toSet
    val recall = (pq intersect expected).size.toDouble / expected.size
    assert(recall >= 0.8, s"PQ recall $recall (pq=$pq)")
  }

  test("persisted PQ index: pqTopKFromIndex returns exactly pqTopK's results") {
    import java.nio.file.Files
    val idx = Files.createTempDirectory("graft-pq-idx").toString
    // the real table: train + persist once, then query from the index only
    Similarity.writePqIndex(spark, sf, idx, nQueries = 10)
    val live = Similarity.pqTopK(spark, sf, nQueries = 10, k = 5).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"), r.getAs[Long]("rank")))
      .toSet
    val fromIndex = Similarity.pqTopKFromIndex(spark, sf, idx, nQueries = 10, k = 5)
      .collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"), r.getAs[Long]("rank")))
      .toSet
    assert(fromIndex == live,
      s"index query diverged: only-live=${live -- fromIndex} only-index=${fromIndex -- live}")
    // the persisted representation is the memory-bound one: m ints per vector
    val codes = spark.read.parquet(s"$idx/codes.parquet")
    assert(codes.columns.toSet == Set("vec_id", "sub", "code"))
  }

  test("persisted IVF index: ivfTopKFromIndex returns exactly ivfTopK's results") {
    import java.nio.file.Files
    val idx = Files.createTempDirectory("graft-ivf-idx").toString
    Similarity.writeIvfIndex(spark, sf, idx, nQueries = 10)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"), r.getAs[Long]("rank")))
      .toSet
    // the unspecified-nprobe default derives from the index's OWN measured
    // recall curve (recall.parquet, written at build; per-k rows — read
    // the query's k) — identical to the live run at that nprobe
    val derived = spark.read.parquet(s"$idx/recall.parquet")
      .filter(org.apache.spark.sql.functions.col("k") === 5).orderBy("nprobe")
      .collect().find(_.getAs[Double]("recall") >= 0.85)
      .map(_.getAs[Int]("nprobe")).getOrElse(8)
    val live = key(Similarity.ivfTopK(spark, sf, nQueries = 10, k = 5, nprobe = derived))
    val fromIndex = key(Similarity.ivfTopKFromIndex(spark, sf, idx, nQueries = 10, k = 5))
    assert(fromIndex == live,
      s"index query diverged: only-live=${live -- fromIndex} only-index=${fromIndex -- live}")
    // explicit override still wins over the derived default
    val explicit = key(Similarity.ivfTopKFromIndex(spark, sf, idx, nQueries = 10, k = 5, nprobe = 8))
    val liveAll = key(Similarity.ivfTopK(spark, sf, nQueries = 10, k = 5, nprobe = 8))
    assert(explicit == liveAll, "explicit nprobe override diverged")
  }

  test("ivfTopK multi-probe sweep: recall grows monotonically with nprobe, exhaustive = 1.0") {
    val brute = Similarity.cosineTopK(spark, sf, nQueries = 5, k = 3).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    val recalls = Seq(1, 2, 4, 8).map { np =>
      val ivf = Similarity.ivfTopK(spark, sf, nQueries = 5, k = 3, nprobe = np).collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
      np -> (ivf intersect brute).size.toDouble / brute.size
    }
    // monotone non-decreasing quality as probes widen; full probing is exact
    recalls.sliding(2).foreach { case Seq((np1, r1), (np2, r2)) =>
      assert(r2 >= r1 - 1e-9, s"recall fell from $r1 (nprobe=$np1) to $r2 (nprobe=$np2): $recalls")
    }
    assert(recalls.last._2 == 1.0, s"exhaustive probing must equal brute force: $recalls")
  }

  test("multi-probe cost model: defaultNprobe sizes probes that meet the recall target") {
    // defaultNprobe is monotone in the target and bounded by nlist
    assert(Similarity.defaultNprobe(8, 0.2) <= Similarity.defaultNprobe(8, 0.7))
    assert(Similarity.defaultNprobe(8, 0.7) <= Similarity.defaultNprobe(8, 0.95))
    assert(Similarity.defaultNprobe(8, 0.999) == 8)
    assert(Similarity.defaultNprobe(16, 0.0) == 2) // ceil(0.125 * 16)
    // the envelope is conservative: on the measurement setup itself
    // (nQueries=10, k=5, nlist=8) the delivered recall clears each target
    val brute = Similarity.cosineTopK(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    Seq(0.45, 0.7, 0.85).foreach { target =>
      val np = Similarity.defaultNprobe(8, target)
      val ivf = Similarity.ivfTopK(spark, sf, nprobe = np).collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
      val recall = (ivf intersect brute).size.toDouble / brute.size
      assert(recall >= target,
        s"target $target -> nprobe $np delivered recall $recall")
    }
  }

  test("ivfTopK returns k ranked neighbours per query (recall vs brute force on real data)") {
    val ivf = Similarity.ivfTopK(spark, sf, nQueries = 5, k = 3).collect()
    val bf = Similarity.cosineTopK(spark, sf, nQueries = 5, k = 3).collect()
    assert(ivf.length == 15)
    val ivfTop = ivf.filter(_.getAs[Long]("rank") == 1L)
      .map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("vec_id")).toMap
    val bfTop = bf.filter(_.getAs[Long]("rank") == 1L)
      .map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("vec_id")).toMap
    // probing 3/8 buckets should still recover most rank-1 neighbours
    val agree = ivfTop.count { case (q, v) => bfTop.get(q).contains(v) }
    assert(agree >= 3, s"IVF rank-1 recall too low: $agree/5")
  }

  test("ground truth: embKeepList equals the exhaustive all-pairs cosine clustering") {
    // recall 1.0 by construction: cluster members are positive SCALINGS of
    // one one-hot base vector (cos exactly 1.0 within a cluster, exactly
    // 0.0 across — distinct dims), sharing the generator label the
    // operator blocks on. The blocked pipeline must then reproduce the
    // exhaustive all-pairs union-find clustering exactly.
    import java.nio.file.Files
    val d = Files.createTempDirectory("graft-embgt").toString
    def oneHot(dim: Int, scale: Float): Array[Float] =
      Array.tabulate(64)(i => if (i == dim) scale else 0f)
    val rows = Seq(
      (1L, oneHot(0, 1f), 0), (2L, oneHot(0, 2f), 0), (3L, oneHot(0, 5f), 0),
      (10L, oneHot(1, 1f), 1), (11L, oneHot(1, 3f), 1),
      (20L, oneHot(2, 1f), 2), (21L, oneHot(3, 1f), 3) // singletons
    )
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    // driver-side exhaustive reference: all-pairs cosine >= 0.9, union-find
    val vecs = rows.map { case (id, v, _) => id -> v.map(_.toDouble) }.toMap
    val parent = scala.collection.mutable.Map(vecs.keys.map(i => i -> i).toSeq: _*)
    def find(x: Long): Long = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    for {
      a <- vecs.keys; b <- vecs.keys if a < b
      dot = vecs(a).zip(vecs(b)).map { case (x, y) => x * y }.sum
      na = math.sqrt(vecs(a).map(x => x * x).sum)
      nb = math.sqrt(vecs(b).map(x => x * x).sum)
      if dot / (na * nb) >= 0.9
    } parent(find(a)) = find(b)
    val expected = vecs.keys.map(id => id -> vecs.keys.filter(o => find(o) == find(id)).min).toMap
    val got = Similarity.embKeepList(spark, d).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("canonical_id"), r.getAs[Boolean]("keep")))).toMap
    assert(got.view.mapValues(_._1).toMap == expected,
      s"got=$got expected=$expected")
    got.foreach { case (id, (canon, keep)) => assert(keep == (id == canon)) }
    // sanity: the reference actually has multi-member clusters
    assert(expected.values.toSet.size == 4, s"construction drifted: $expected")
  }

  test("per-index recall curve: measured + persisted at build, monotone, exhaustive = 1.0, delivered recall clears the target") {
    import java.nio.file.Files
    val idx = Files.createTempDirectory("graft-ivf-recall").toString
    Similarity.writeIvfIndex(spark, sf, idx, nQueries = 10)
    val rows = spark.read.parquet(s"$idx/recall.parquet")
      .collect().map(r => (r.getAs[Int]("k"), r.getAs[Int]("nprobe"), r.getAs[Double]("recall")))
    // per-k curves from one corpus pass: every measured k gets a full
    // 1..nlist row set, each monotone in nprobe and exhaustive at nlist
    val byK = rows.groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    assert(byK.keySet == Set(1, 5, 10, 20), s"measured ks drifted: ${byK.keySet}")
    byK.foreach { case (k, curve) =>
      assert(curve.map(_._2).toSeq == (1 to 8), s"k=$k: one row per nprobe 1..nlist: ${curve.toSeq}")
      curve.sliding(2).foreach { case Array((_, _, r1), (_, _, r2)) =>
        assert(r2 >= r1 - 1e-12, s"k=$k: measured recall not monotone: ${curve.toSeq}")
      }
      assert(curve.last._3 == 1.0,
        s"k=$k: probing every bucket must capture every true neighbour: ${curve.toSeq}")
    }
    // the default query path probes the smallest nprobe clearing the target
    // on THIS curve — so its delivered recall on the measurement workload
    // (same sample, same k) must clear the target, by construction
    val brute = Similarity.cosineTopK(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    val served = Similarity.ivfTopKFromIndex(spark, sf, idx).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    val recall = (served intersect brute).size.toDouble / brute.size
    assert(recall >= 0.85, s"derived-nprobe recall $recall below the 0.85 target")
    // a k=20 query sizes probes from the k=20 rows of the same curve —
    // delivered recall clears the target at that k too, by construction
    val brute20 = Similarity.cosineTopK(spark, sf, k = 20).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    val served20 = Similarity.ivfTopKFromIndex(spark, sf, idx, k = 20).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    val recall20 = (served20 intersect brute20).size.toDouble / brute20.size
    assert(recall20 >= 0.85, s"k=20 derived-nprobe recall $recall20 below the 0.85 target")
  }

  test("IVF-PQ: finds planted near-neighbours through residual ADC + exact re-rank") {
    // same retrieval-shaped corpus as the PQ test: 3 planted near-dups per
    // query among 200 unrelated vectors
    import java.nio.file.Files
    val d = Files.createTempDirectory("graft-ivfpq").toString
    val rnd = new scala.util.Random(13)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val queries = (0L until 5L).map(q => q -> vec()).toMap
    val planted = for {
      q <- 0L until 5L; j <- 0 until 3
    } yield (100L + q * 10 + j, queries(q).map(a => a + 0.15f * rnd.nextGaussian().toFloat), q.toInt)
    val noise = (500L until 700L).map(i => (i, vec(), 9))
    val rows = queries.toSeq.map { case (q, v) => (q, v, q.toInt) } ++ planted ++ noise
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val got = Similarity.ivfPqTopK(spark, d, nQueries = 5, k = 3, nlist = 4, nprobe = 2)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    assert(got.groupBy(_._1).forall(_._2.size == 3), "k results per query")
    val expected = (for { q <- 0L until 5L; j <- 0 until 3 } yield (q, 100L + q * 10 + j)).toSet
    val recall = (got intersect expected).size.toDouble / expected.size
    assert(recall >= 0.8, s"IVF-PQ recall $recall (got=$got)")
  }

  test("IVF-PQ exhaustive: full probes + corpus-wide shortlist equals brute force bit-for-bit") {
    def key(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"),
        r.getAs[Long]("rank"), r.getAs[Double]("cos_sim"))).toSet
    val pq = key(Similarity.ivfPqTopK(spark, sf, nprobe = 8, rerank = 1 << 20).collect())
    val bf = key(Similarity.cosineTopK(spark, sf).collect())
    assert(pq == bf, s"only-ivfpq=${pq -- bf} only-brute=${bf -- pq}")
  }

  test("persisted IVF-PQ index rewritten in place with a new m serves like a fresh one") {
    // the PQ geometry and probe caches key on the index files' version, not
    // the path alone: a rewrite at the same directory must not serve stale m
    val idx = Files.createTempDirectory("graft-ivfpq-rewrite").toString
    val fresh = Files.createTempDirectory("graft-ivfpq-fresh").toString
    def serve(dir: String) =
      Similarity.ivfPqTopKFromIndex(spark, sf, dir, nQueries = 10, k = 5).collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"),
          r.getAs[Long]("rank"), r.getAs[Double]("cos_sim"))).toSet
    Similarity.writeIvfPqIndex(spark, sf, idx, nQueries = 10, m = 8)
    assert(serve(idx).nonEmpty)
    Similarity.writeIvfPqIndex(spark, sf, idx, nQueries = 10, m = 4)
    Similarity.writeIvfPqIndex(spark, sf, fresh, nQueries = 10, m = 4)
    assert(serve(idx) == serve(fresh))
  }

  test("persisted IVF-PQ index: query path matches live run; codes are m bytes per vector") {
    import java.nio.file.Files
    val idx = Files.createTempDirectory("graft-ivfpq-idx").toString
    Similarity.writeIvfPqIndex(spark, sf, idx, nQueries = 10)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"), r.getAs[Long]("rank")))
      .toSet
    val derived = spark.read.parquet(s"$idx/recall.parquet")
      .filter(org.apache.spark.sql.functions.col("k") === 5).orderBy("nprobe")
      .collect().find(_.getAs[Double]("recall") >= 0.85)
      .map(_.getAs[Int]("nprobe")).getOrElse(8)
    val live = key(Similarity.ivfPqTopK(spark, sf, nQueries = 10, k = 5, nprobe = derived))
    val fromIndex = key(Similarity.ivfPqTopKFromIndex(spark, sf, idx, nQueries = 10, k = 5))
    assert(fromIndex == live,
      s"index query diverged: only-live=${live -- fromIndex} only-index=${fromIndex -- live}")
    // serving table: one row per corpus vector, codes tinyint[m] — m BYTES
    val codes = spark.read.parquet(s"$idx/codes.parquet")
    assert(codes.columns.toSet == Set("bucket", "vec_id", "codes"))
    val el = codes.schema("codes").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
    assert(el == org.apache.spark.sql.types.ByteType, s"codes element type $el, want tinyint")
    assert(codes.filter(org.apache.spark.sql.functions.size(col("codes")) =!= 8).count() == 0,
      "every code array must be exactly m=8 bytes")
  }

  test("quantized IVF: exhaustive probes + corpus-wide shortlist equals brute force bit-for-bit") {
    // with every bucket probed and the shortlist cap above the corpus size,
    // the float re-rank must erase quantization entirely — values included
    def key(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"),
        r.getAs[Long]("rank"), r.getAs[Double]("cos_sim"))).toSet
    val q = key(Similarity.ivfQTopK(spark, sf, nprobe = 8, rerank = 1 << 20).collect())
    val bf = key(Similarity.cosineTopK(spark, sf).collect())
    assert(q == bf, s"only-quantized=${q -- bf} only-brute=${bf -- q}")
  }

  test("quantized IVF at default probes/shortlist: rank-1 recall vs brute force") {
    val q = Similarity.ivfQTopK(spark, sf, nQueries = 5, k = 3).collect()
    assert(q.length == 15)
    val qTop = q.filter(_.getAs[Long]("rank") == 1L)
      .map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("vec_id")).toMap
    val bfTop = Similarity.cosineTopK(spark, sf, nQueries = 5, k = 3).collect()
      .filter(_.getAs[Long]("rank") == 1L)
      .map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("vec_id")).toMap
    // int8 scoring only gates the shortlist; re-rank is exact — the same
    // 3/8-probe bar as the float IVF path must hold
    val agree = qTop.count { case (qid, v) => bfTop.get(qid).contains(v) }
    assert(agree >= 3, s"quantized rank-1 recall too low: $agree/5")
    // returned similarities are float-exact: every (q, vec) pair the float
    // IVF path also returns must carry an identical cos_sim
    val fSim = Similarity.ivfTopK(spark, sf, nQueries = 5, k = 3).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id")) -> r.getAs[Double]("cos_sim"))
      .toMap
    q.foreach { r =>
      fSim.get((r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).foreach { s =>
        assert(r.getAs[Double]("cos_sim") == s, "re-ranked cos_sim not float-exact")
      }
    }
  }

  test("persisted quantized IVF index: query path matches live run; codes table is int8") {
    import java.nio.file.Files
    val idx = Files.createTempDirectory("graft-ivfq-idx").toString
    Similarity.writeIvfQIndex(spark, sf, idx, nQueries = 10)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"), r.getAs[Long]("rank")))
      .toSet
    val derived = Similarity.defaultNprobe(8)
    val live = key(Similarity.ivfQTopK(spark, sf, nQueries = 10, k = 5, nprobe = derived))
    val fromIndex = key(Similarity.ivfQTopKFromIndex(spark, sf, idx, nQueries = 10, k = 5))
    assert(fromIndex == live,
      s"index query diverged: only-live=${live -- fromIndex} only-index=${fromIndex -- live}")
    // the serving table really is the compact one: int8 codes + one norm,
    // no float vectors
    val codes = spark.read.parquet(s"$idx/codes.parquet")
    assert(codes.columns.toSet == Set("bucket", "vec_id", "codes", "rnrm"))
    assert(codes.schema("codes").dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.ByteType),
      s"codes must persist as int8, got ${codes.schema("codes").dataType}")
  }

  test("embClusters recovers planted well-separated clusters; deterministic") {
    // the corpus `label` column is NOT geometric (same-label avg cos ≈ 0),
    // so purity is asserted on self-planted clusters: 4 orthogonal-ish
    // Gaussian centers, 10 jittered members each
    val d = Files.createTempDirectory("graft-km").toString
    val rnd = new scala.util.Random(13)
    val centers = Array.fill(4)(Array.fill(32)(rnd.nextGaussian().toFloat))
    val vecs = for {
      c <- centers.indices
      m <- 0 until 10
    } yield ((c * 10 + m).toLong,
      centers(c).map(a => a + 0.05f * rnd.nextGaussian().toFloat), c)
    vecs.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")

    val out = Similarity.embClusters(spark, d, k = 4, lloydIters = 4).cache()
    assert(out.count() == 40)
    val assign = out.collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster")).toMap
    // majority-vote purity over planted groups
    val purity = (0 until 4).map { c =>
      val members = (0 until 10).map(m => assign((c * 10 + m).toLong))
      members.groupBy(identity).values.map(_.size).max
    }.sum / 40.0
    assert(purity >= 0.9, s"cluster purity $purity < 0.9")
    // pure function of the data: a re-run assigns identically
    val again = Similarity.embClusters(spark, d, k = 4, lloydIters = 4)
    assert(out.join(again.withColumnRenamed("cluster", "c2"), "vec_id")
      .filter(col("cluster") =!= col("c2")).count() == 0)
  }

  test("kmeansParSeeds: one seed per planted group, deterministic, bounded candidates") {
    // same planted geometry as the embClusters spec: 4 well-separated
    // centers, 10 jittered members each — the k-means|| draw must land one
    // seed in each group (coverage is the whole point of d²-sampling)
    val d = Files.createTempDirectory("graft-kmpar").toString
    val rnd = new scala.util.Random(29)
    val centers = Array.fill(4)(Array.fill(32)(rnd.nextGaussian().toFloat))
    val vecs = for {
      c <- centers.indices
      m <- 0 until 10
    } yield ((c * 10 + m).toLong,
      centers(c).map(a => a + 0.05f * rnd.nextGaussian().toFloat), c)
    vecs.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    import graft.functions.VectorFunctions.{toDouble, norm => vnorm}
    val corpus = Tables.embeddings(spark, d)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .withColumn("nrm", vnorm(col("v")))
    val seeds = Similarity.kmeansParSeeds(corpus, k = 4, rounds = 3).cache()
    assert(seeds.count() == 4)
    val groups = seeds.collect().map(_.getAs[Long]("c_id") / 10).toSet
    assert(groups == Set(0L, 1L, 2L, 3L),
      s"seeds must cover all 4 planted groups, got $groups")
    // derandomized draw: a re-run returns the identical seed set
    val again = Similarity.kmeansParSeeds(corpus, k = 4, rounds = 3)
    assert(seeds.select("c_id").except(again.select("c_id")).count() == 0)
    assert(again.select("c_id").except(seeds.select("c_id")).count() == 0)
    // large-k clustering takes the k-means|| path end-to-end (k > the
    // farthest-point cap) and still covers the corpus deterministically
    val big = Similarity.embClusters(spark, d, k = 600, lloydIters = 1)
    assert(big.count() == 40)
  }

  test("ivfIngest: grown index covers the corpus exactly once; retries are no-ops") {
    import graft.functions.VectorFunctions.{toDouble, norm => vnorm}
    val idx = Files.createTempDirectory("graft-ingest").toString
    val emb = Tables.embeddings(spark, sf)
    val maxId = emb.agg(max(col("vec_id"))).head().getLong(0)
    val cut1 = maxId * 8 / 10
    val cut2 = maxId * 9 / 10
    Similarity.writeIvfIndexFrom(emb.filter(col("vec_id") < cut1), idx, 10, 8, 1)
    val base = spark.read.parquet(s"$idx/assignments.parquet").count()
    val in1 = Similarity.ivfIngest(spark,
      emb.filter(col("vec_id") >= cut1 && col("vec_id") < cut2), idx)
    val in2 = Similarity.ivfIngest(spark, emb.filter(col("vec_id") >= cut2), idx)
    assert(in1.count() > 0 && in2.count() > 0)
    // retry idempotence: re-submitting batch 1 appends nothing
    val retry = Similarity.ivfIngest(spark,
      emb.filter(col("vec_id") >= cut1 && col("vec_id") < cut2), idx)
    assert(retry.count() == 0)
    val asg = spark.read.parquet(s"$idx/assignments.parquet").cache()
    assert(asg.count() == base + in1.count() + in2.count())
    // coverage: every positive-norm corpus vector assigned EXACTLY once
    val corpusN = emb.filter(col("vec_id") >= 10)
      .select(col("vec_id"), vnorm(toDouble(col("embedding"))).as("n"))
      .filter(col("n") > 0.0).count()
    assert(asg.select("vec_id").distinct().count() == asg.count())
    assert(asg.count() == corpusN)
    // ingested buckets are real centroid ids
    val cids = spark.read.parquet(s"$idx/centroids.parquet")
      .select(col("c_id")).collect().map(_.getLong(0)).toSet
    assert(in1.collect().forall(r => cids.contains(r.getAs[Long]("bucket"))))
  }

  test("embPca: top component recovers the planted dominant direction; deterministic") {
    val d = Files.createTempDirectory("graft-pca").toString
    val rnd = new scala.util.Random(41)
    val dim = 32
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val u = unit(Array.fill(dim)(rnd.nextGaussian()))
    val w0 = Array.fill(dim)(rnd.nextGaussian())
    val uw = u.zip(w0).map { case (a, b) => a * b }.sum
    val w = unit(w0.zip(u).map { case (b, a) => b - uw * a }) // ⟂ u
    val coefs = (0 until 60).map(i => (i.toLong,
      10.0 * rnd.nextGaussian(), 1.0 * rnd.nextGaussian()))
    val vecs = coefs.map { case (id, a, b) =>
      (id, u.indices.map(i => (a * u(i) + b * w(i)).toFloat).toArray, 0) }
    vecs.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val out = Similarity.embPca(spark, d, outDim = 2).cache()
    val proj = out.collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Double](1).toArray).toMap
    assert(proj.size == 60 && proj.values.forall(_.length == 2))
    // the first projected coordinate must be (anti)collinear with the
    // planted dominant coefficient — |Pearson corr| > 0.99
    def corr(xs: Seq[Double], ys: Seq[Double]): Double = {
      val n = xs.length
      val mx = xs.sum / n; val my = ys.sum / n
      val cov = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum
      val sx = math.sqrt(xs.map(x => (x - mx) * (x - mx)).sum)
      val sy = math.sqrt(ys.map(y => (y - my) * (y - my)).sum)
      cov / (sx * sy)
    }
    val a = coefs.map(_._2)
    val p0 = coefs.map(c => proj(c._1)(0))
    val p1 = coefs.map(c => proj(c._1)(1))
    assert(math.abs(corr(a, p0)) > 0.99, s"corr ${corr(a, p0)}")
    // variance-ordered components: dim 0 carries the 10x-spread direction
    def variance(xs: Seq[Double]): Double = {
      val m = xs.sum / xs.length
      xs.map(x => (x - m) * (x - m)).sum / xs.length
    }
    assert(variance(p0) > 10 * variance(p1))
    // pure function of the data: bit-identical re-run
    val again = Similarity.embPca(spark, d, outDim = 2).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Double](1).toArray).toMap
    assert(proj.keys.forall(id => proj(id).sameElements(again(id))))
  }

  test("embClusters covers the corpus with at most k clusters on real data") {
    val out = Similarity.embClusters(spark, sf).cache()
    assert(out.count() == Tables.embeddings(spark, sf).count())
    assert(out.select("cluster").distinct().count() <= 10)
  }

  test("zero-norm vectors are excluded from cosine paths, never rank NaN-first") {
    val d = Files.createTempDirectory("graft-zero").toString
    val vecs = Seq(
      (0L, Array.fill(8)(1.0f), 0),           // query
      (1L, Array.fill(8)(0.9f), 0), (2L, Array.fill(8)(-1.0f), 1),
      (3L, Array.fill(8)(0.5f), 1),
      (4L, Array.fill(8)(0.0f), 1))           // the poison row
      .toDF("vec_id", "embedding", "label")
    vecs.write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val top = Similarity.cosineTopK(spark, d, nQueries = 1, k = 3).collect()
    assert(!top.exists(_.getAs[Long]("vec_id") == 4L), "zero vector must not rank")
    assert(top.forall(r => !r.getAs[Double]("cos_sim").isNaN))
    assert(top.head.getAs[Long]("vec_id") == 1L) // the true nearest, not NaN
    val pairs = Similarity.neardupPairs(spark, d, threshold = 0.0).collect()
    assert(!pairs.exists(r => r.getAs[Long]("id_a") == 4L || r.getAs[Long]("id_b") == 4L))
  }

  test("randomProject: JL distance preservation and determinism") {
    val src = Tables.embeddings(spark, sf).filter(col("vec_id") < 30)
    val orig = src.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val proj = Similarity.randomProjectOf(src, outDim = 32)
      .select("vec_id", "projected").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    assert(proj.values.forall(_.length == 32))
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val ids = orig.keys.toSeq.sorted
    val errs = for { a <- ids; b <- ids if a < b } yield {
      val o = d2(orig(a), orig(b)); val p = d2(proj(a), proj(b))
      (p - o) / o
    }
    // per-pair distortion ~N(0, sqrt(2/32)≈0.25); the estimator must be
    // nearly unbiased and individually bounded
    val mean = errs.sum / errs.length
    assert(math.abs(mean) < 0.15, s"biased projection: mean rel err $mean")
    assert(errs.map(math.abs).sum / errs.length < 0.3,
      s"mean |rel err| ${errs.map(math.abs).sum / errs.length}")
    assert(errs.forall(e => math.abs(e) < 1.35), s"worst ${errs.map(math.abs).max}")
    // same hash-derived matrix on every run: bit-identical re-projection
    val again = Similarity.randomProjectOf(src, outDim = 32)
      .select("vec_id", "projected").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    assert(ids.forall(id => again(id).sameElements(proj(id))))
    // a zero-length embedding projects to the zero vector, never nulls
    val z = Similarity.randomProjectOf(
      Seq((0L, Array.empty[Float], 0)).toDF("vec_id", "embedding", "label"), 8)
      .select("projected").head().getSeq[Double](0)
    assert(z.length == 8 && z.forall(_ == 0.0), s"degenerate projection $z")
  }

  test("quantizeInt8: codes in int8 range; reconstruction within half a step per dim") {
    val codes = Similarity.quantizeInt8(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("dim_idx")) -> r.getAs[Long]("code"))
      .toMap
    assert(codes.nonEmpty)
    assert(codes.values.forall(c => c >= -128 && c <= 127), "codes must fit int8")
    // reconstruct and bound the error by half a quantization step
    val orig = Tables.embeddings(spark, sf).select("vec_id", "embedding").collect()
      .flatMap(r => r.getSeq[Float](1).zipWithIndex.map { case (v, i) =>
        (r.getLong(0), i.toLong) -> v.toDouble })
      .toMap
    val byDim = orig.groupBy(_._1._2).view.mapValues(m =>
      (m.values.min, m.values.max)).toMap
    orig.foreach { case (k, v) =>
      val (lo, hi) = byDim(k._2)
      val rec = if (hi == lo) lo else lo + (codes(k) + 128.0) / 255.0 * (hi - lo)
      val step = if (hi == lo) 0.0 else (hi - lo) / 255.0
      assert(math.abs(rec - v) <= step / 2 + 1e-9,
        s"vec ${k._1} dim ${k._2}: |$rec - $v| > ${step / 2}")
    }
    // a constant dimension encodes 0 for every vector
    import SparkSuite.spark.implicits._
    val const = Similarity.quantizeInt8Of(
      Seq((0L, Array(1.0f, 2.0f)), (1L, Array(1.0f, 5.0f)))
        .toDF("vec_id", "embedding"))
    assert(const.filter(col("dim_idx") === 0).collect()
      .forall(_.getAs[Long]("code") == 0L), "constant dim must encode 0")
  }

  private lazy val mipsDir: String = {
    val d = Files.createTempDirectory("graft-mips").toString
    // query 0 = e0. Corpus: vec 10 is a LONG vector along e0 (ip 3.0,
    // cos 1.0), vec 11 is a short near-copy (ip 0.5, cos ~0.98),
    // vec 12 is orthogonal (ip 0), vec 13 is the ZERO vector (ip 0,
    // must stay a valid candidate — cosine would NaN it out)
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f), 0),
      (10L, Array(3f, 0f, 0f, 0f), 0),
      (11L, Array(0.49f, 0.1f, 0f, 0f), 0),
      (12L, Array(0f, 1f, 0f, 0f), 1),
      (13L, Array(0f, 0f, 0f, 0f), 2))
      .toDF("vec_id", "embedding", "label")
    vecs.coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  test("multi-word LSH bands (>60 bits) collide duplicates once, with exact precision") {
    // identical pair (0,1) must collide in every band at ANY width; the
    // orthogonal fillers can only pair if they agree on all 120 planes of
    // some band (impossible-by-construction to pass the 0.99 verify anyway)
    val vecs = Seq(0L -> Array.tabulate(8)(j => if (j == 0) 1.0 else 0.0),
      1L -> Array.tabulate(8)(j => if (j == 0) 1.0 else 0.0)) ++
      (2L to 7L).map(i => i -> Array.tabulate(8)(j => if (j == i) 1.0 else 0.0))
    val embN = vecs.toDF("vec_id", "v")
      .withColumn("nrm", VectorFunctions.norm(col("v")))
    val out = Similarity.lshPairsOf(embN, threshold = 0.99, bits = 120, bands = 2)
      .collect()
    // first-collision dedup holds for multi-word buckets: ONE row, not one
    // per colliding band
    assert(out.length == 1)
    assert(out.head.getAs[Long]("id_a") == 0L && out.head.getAs[Long]("id_b") == 1L)
    assert(out.head.getAs[Double]("cos_sim") == 1.0)
  }

  test("auto LSH sizing escapes the old 60-bit cap at extreme corpus sizes") {
    // occupancy 1 at n = 2^63-1 wants ceil(log2 n) = 63 bits — past the old
    // cap; the multi-word band key makes that legal
    val (bits, bands) = Similarity.lshAutoParams(Long.MaxValue, 0.85, 0.9, 1, 32)
    assert(bits == 63, s"bits=$bits")
    assert(bands >= 4 && bands <= 32)
  }

  test("semDedup: planted near-dup groups collapse to min-id canonicals across learned clusters") {
    val d = Files.createTempDirectory("graft-semdedup").toString
    // three well-separated direction groups; group 0 carries a duplicated
    // pair (20, 21) and a distinct member 22; groups 1/2 are all distinct
    def v(i: Int, jitter: Float = 0f): Array[Float] =
      Array.tabulate(8)(j => if (i == j) 1f else if (j == (i + 1) % 8) jitter else 0f)
    val vecs = Seq(
      (20L, v(0), 0), (21L, v(0, 0.01f), 0), (22L, v(0, 0.9f), 0),
      (30L, v(3), 1), (31L, v(3, 0.8f), 1),
      (40L, v(6), 2))
      .toDF("vec_id", "embedding", "label")
    vecs.coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val out = Similarity.semDedup(spark, d, k = 3, threshold = 0.99)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("canonical_id"), r.getAs[Boolean]("keep")))).toMap
    assert(out.size == 6)
    // the duplicated pair collapses to the min id; everything else survives
    assert(out(20L) == ((20L, true)))
    assert(out(21L) == ((20L, false)))
    Seq(22L, 30L, 31L, 40L).foreach(id => assert(out(id) == ((id, true)), s"vec $id"))
  }

  test("mipsTopK ranks by raw inner product (magnitude matters, zero vec kept)") {
    val out = Similarity.mipsTopK(spark, mipsDir, nQueries = 1, k = 4).collect()
      .sortBy(_.getAs[Long]("rank"))
    assert(out.map(_.getAs[Long]("vec_id")).toSeq == Seq(10L, 11L, 12L, 13L))
    assert(out.head.getAs[Double]("ip") == 3.0)
    // zero vector ranks last with ip 0 (ties broken by vec_id: 12 < 13)
    assert(out(3).getAs[Double]("ip") == 0.0)
  }

  test("mipsIvfTopK with every bucket probed reproduces mipsTopK bit-for-bit") {
    def key(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    val bf = key(Similarity.mipsTopK(spark, sf, nQueries = 5, k = 3).collect())
    val ivf = key(Similarity.mipsIvfTopK(spark, sf, nQueries = 5, k = 3,
      nlist = 8, nprobe = 8).collect())
    assert(bf == ivf)
  }

  test("knnGraph: planted geometry — near-copies are mutual top-1, no self edges") {
    val out = Similarity.knnGraph(spark, dir, k = 2).collect()
    assert(out.forall(r => r.getAs[Long]("q_id") != r.getAs[Long]("vec_id")),
      "self edge leaked")
    val byQ = out.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.values.forall(_.length <= 2))
    // 0 = e0 and 10 = near-e0: each other's top-1; 1 and 11 are identical
    def top1(q: Long) = byQ(q).minBy(_.getAs[Long]("rank")).getAs[Long]("vec_id")
    assert(top1(0L) == 10L && top1(10L) == 0L)
    assert(top1(1L) == 11L && top1(11L) == 1L)
    assert(byQ(1L).minBy(_.getAs[Long]("rank")).getAs[Double]("cos_sim") === 1.0)
  }

  test("knnGraphIvf with every bucket probed reproduces knnGraph bit-for-bit") {
    def key(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    val bf = key(Similarity.knnGraph(spark, sf, k = 3).collect())
    val ivf = key(Similarity.knnGraphIvfExhaustive(spark, sf, k = 3, nlist = 8).collect())
    assert(bf == ivf)
  }

  test("knnGraphIvf probed path: every vector still gets neighbors, subset-of-brute scores") {
    val probed = Similarity.knnGraphIvf(spark, dir, k = 2, nlist = 2, nprobe = 1).collect()
    // probing can shrink a neighborhood but never invents a pair or a score:
    // every probed edge must appear in the brute n² score set
    val brute = Similarity.knnGraphOf(
      graft.Tables.embeddings(spark, dir)
        .select(col("vec_id"),
          graft.functions.VectorFunctions.toDouble(col("embedding")).as("v"))
        .withColumn("nrm", graft.functions.VectorFunctions.norm(col("v")))
        .filter(col("nrm") > 0.0), k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(probed.nonEmpty)
    probed.foreach { r =>
      val e = (r.getLong(0), r.getLong(1))
      assert(brute.contains(e) && brute(e) == r.getDouble(3))
    }
  }

  // two well-separated direction groups, each a tight core + one outlier
  // pulled 0.8 off-axis — the planted geometry for density pruning
  private lazy val protoDir: String = {
    val d = Files.createTempDirectory("graft-proto").toString
    def v(i: Int, jitter: Float = 0f): Array[Float] =
      Array.tabulate(8)(j => if (i == j) 1f else if (j == (i + 1) % 8) jitter else 0f)
    Seq(
      (50L, v(0), 0), (51L, v(0, 0.2f), 0), (52L, v(0, -0.2f), 0), (53L, v(0, 0.8f), 0),
      (60L, v(4), 1), (61L, v(4, 0.2f), 1), (62L, v(4, -0.2f), 1), (63L, v(4, 0.8f), 1))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  test("embPrototypes prunes the cluster core, keeps the hard off-axis tail") {
    val out = Similarity.embPrototypes(spark, protoDir, k = 2, pruneFrac = 0.3)
      .collect()
    assert(out.length == 8)
    val byId = out.map(r => r.getAs[Long]("vec_id") -> r).toMap
    // planted groups land in one cluster each
    assert(Seq(50L, 51L, 52L, 53L).map(byId(_).getAs[Long]("cluster")).distinct.size == 1)
    assert(Seq(60L, 61L, 62L, 63L).map(byId(_).getAs[Long]("cluster")).distinct.size == 1)
    assert(byId(50L).getAs[Long]("cluster") != byId(60L).getAs[Long]("cluster"))
    // floor(4 · 0.3) = 1 pruned per cluster — and it is never the outlier:
    // the 0.8-off-axis member has the lowest centroid cosine in its cluster
    val pruned = out.filter(!_.getAs[Boolean]("keep")).map(_.getAs[Long]("vec_id")).toSet
    assert(pruned.size == 2, s"pruned=$pruned")
    assert(!pruned.contains(53L) && !pruned.contains(63L), "outlier pruned")
    assert(out.filter(_.getAs[Boolean]("keep")).length == 6)
    // outliers rank LAST (least prototypical) in their clusters
    assert(byId(53L).getAs[Long]("proto_rank") == 4L)
    assert(byId(63L).getAs[Long]("proto_rank") == 4L)
  }

  test("embPrototypes pruneFrac=0 is the identity keep-list") {
    val out = Similarity.embPrototypes(spark, protoDir, k = 2, pruneFrac = 0.0)
      .collect()
    assert(out.length == 8 && out.forall(_.getAs[Boolean]("keep")))
  }

  test("labelProp: two seeds spread their labels across their planted groups") {
    // protoDir ids: 50-53 along e0 (label 0), 60-63 along e4 (label 1);
    // seedMod=10 clamps exactly 50 and 60 — the groups are orthogonal, so
    // no cross-group edge can outvote a same-group neighborhood
    val out = Similarity.labelProp(spark, protoDir, k = 3, iters = 3,
      seedMod = 10, nlist = 2, nprobe = 2).collect()
    assert(out.length == 8)
    val byId = out.map(r => r.getAs[Long]("vec_id") ->
      (r.getAs[Int]("label_pred"), r.getAs[Boolean]("seed"))).toMap
    assert(byId(50L) == ((0, true)) && byId(60L) == ((1, true)))
    Seq(51L, 52L, 53L).foreach(id => assert(byId(id) == ((0, false)), s"vec $id"))
    Seq(61L, 62L, 63L).foreach(id => assert(byId(id) == ((1, false)), s"vec $id"))
  }

  test("labelProp covers the real corpus: every vector labeled, seeds clamped") {
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val out = Similarity.labelProp(spark, sf, k = 5, iters = 3).collect()
    assert(out.length == emb.size)
    // seeds keep their true label; with 10% seeds + 3 rounds over a k=5
    // graph the unlabeled remainder must be (near-)fully covered
    out.filter(_.getAs[Boolean]("seed")).foreach { r =>
      assert(r.getAs[Int]("label_pred") == emb(r.getAs[Long]("vec_id")))
    }
    val unlabeled = out.count(r => r.isNullAt(r.fieldIndex("label_pred")))
    assert(unlabeled == 0, s"$unlabeled vectors never reached by propagation")
  }

  test("embD4: semantic dup removed before clustering, survivors density-pruned") {
    val d = Files.createTempDirectory("graft-d4").toString
    def v(i: Int, jitter: Float = 0f): Array[Float] =
      Array.tabulate(8)(j => if (i == j) 1f else if (j == (i + 1) % 8) jitter else 0f)
    // cluster A: exact dup pair (50,51) + core 52 + outlier 53; cluster B:
    // four distinct members — core cosines (jitter 0.2 → 0.98) sit BELOW
    // the 0.99 dedup threshold, so only the exact pair collapses
    Seq(
      (50L, v(0), 0), (51L, v(0), 0), (52L, v(0, 0.2f), 0), (53L, v(0, 0.8f), 0),
      (60L, v(4), 1), (61L, v(4, 0.2f), 1), (62L, v(4, -0.2f), 1), (63L, v(4, 0.8f), 1))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val out = Similarity.embD4(spark, d, k = 2, dedupThreshold = 0.99,
      pruneFrac = 0.3).collect()
    // 51 (the non-canonical duplicate) never reaches the prototype stage
    assert(out.length == 7)
    assert(!out.exists(_.getAs[Long]("vec_id") == 51L))
    // cluster A has 3 survivors → floor(0.9) = 0 pruned; B has 4 → 1 pruned,
    // and the pruned member is a core vector, not the outlier
    val pruned = out.filter(!_.getAs[Boolean]("keep")).map(_.getAs[Long]("vec_id")).toSet
    assert(pruned.size == 1 && Set(60L, 61L, 62L).contains(pruned.head), s"pruned=$pruned")
  }

  test("mipsIvfTopK probed path keeps the augmented-space bucket order honest") {
    // on the planted corpus the big-ip vector must survive probing even at
    // nprobe = 1: the query's augmented affinity ranks its bucket first
    val out = Similarity.mipsIvfTopK(spark, mipsDir, nQueries = 1, k = 1,
      nlist = 2, nprobe = 1).collect()
    assert(out.length == 1 && out.head.getAs[Long]("vec_id") == 10L)
  }

  test("ivfDelete lifecycle: masked serve == fresh index on the filtered corpus") {
    import SparkSuite.spark.implicits._
    def v(i: Int, jitter: Float = 0f): Array[Float] =
      Array.tabulate(8)(j => if (i == j) 1f else if (j == (i + 1) % 8) jitter else 0f)
    val queries = Seq((0L, v(0), 0), (1L, v(3), 1))
    val corpus = Seq(
      (10L, v(0, 0.1f), 0), (11L, v(0, 0.5f), 0), (12L, v(0, 0.05f), 0),
      (13L, v(3, 0.1f), 1), (14L, v(3, 0.6f), 1), (15L, v(6), 2),
      (16L, v(6, 0.3f), 2), (17L, v(1, 0.2f), 0))
    def mkDir(rows: Seq[(Long, Array[Float], Int)]): String = {
      val d = java.nio.file.Files.createTempDirectory("graft-ivfdel-spec").toString
      rows.toDF("vec_id", "embedding", "label")
        .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
      d
    }
    val full = mkDir(queries ++ corpus)
    val filtered = mkDir(queries ++ corpus.filterNot(r => r._1 == 12L || r._1 == 13L))
    val idxFull = java.nio.file.Files.createTempDirectory("graft-ivfdel-ix").toString
    val idxFilt = java.nio.file.Files.createTempDirectory("graft-ivfdel-iy").toString
    Similarity.writeIvfIndex(spark, full, idxFull, nQueries = 10, nlist = 4)
    Similarity.writeIvfIndex(spark, filtered, idxFilt, nQueries = 10, nlist = 4)
    // delete 12 and 13 (plus 99, never indexed — must be ignored)
    val tombed = Similarity.ivfDelete(spark,
      Seq(12L, 13L, 99L).toDF("vec_id"), idxFull)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(tombed == Set(12L, 13L))
    // retried delete appends nothing
    assert(Similarity.ivfDelete(spark, Seq(12L, 13L).toDF("vec_id"), idxFull)
      .collect().isEmpty)
    def serve(dataDir: String, idxDir: String) =
      Similarity.ivfTopKFromIndex(spark, dataDir, idxDir, k = 3,
        nprobe = Int.MaxValue).collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rank"),
          r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"))).sorted.toSeq
    val masked = serve(full, idxFull)
    // exhaustive serving is clustering-invariant, so the masked index must
    // reproduce a freshly-built index on the corpus minus the deleted ids
    assert(masked == serve(filtered, idxFilt))
    assert(!masked.exists(t => t._3 == 12L || t._3 == 13L))
    // compact folds the mask in: identical serve, tombstones gone, 2 dropped
    assert(Similarity.ivfCompact(spark, idxFull) == 2L)
    assert(!new java.io.File(s"$idxFull/tombstones.parquet").exists())
    assert(serve(full, idxFull) == masked)
    // post-compact the id is really gone — re-ingest resurrects it
    Similarity.ivfIngest(spark,
      Seq((12L, v(0, 0.05f), 0)).toDF("vec_id", "embedding", "label"), idxFull)
    assert(serve(full, idxFull).exists(_._3 == 12L))
  }

  test("pageRankOf: 2-cycle splits mass evenly; star centers the hub") {
    import SparkSuite.spark.implicits._
    // two-node cycle: stationary distribution is exactly (1/2, 1/2)
    val cyc = Similarity.pageRankOf(
      Seq(1L, 2L).toDF("id"), Seq((1L, 2L), (2L, 1L)).toDF("src", "dst"))
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("pagerank"))
      .toMap
    assert(math.abs(cyc(1L) - 0.5) < 1e-9 && math.abs(cyc(2L) - 0.5) < 1e-9)
    // star: 2,3,4,5 -> 1 and 1 -> 2: hub ranks first (stationary 0.476 vs
    // 0.434), its out-neighbor second, the symmetric leaves 3/4/5 tie
    // exactly. The 1<->2 cycle makes ranks ALTERNATE with amplitude
    // ~0.85^t, so this adversarial graph needs iters well past the
    // default 10 to order correctly — 50 puts the residual at ~3e-4,
    // an order under the 0.041 stationary gap
    val star = Similarity.pageRankOf(
      (1L to 5L).toDF("id"),
      Seq((2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L), (1L, 2L)).toDF("src", "dst"),
      iters = 50)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("pagerank"))
      .toMap
    assert(star(1L) > star(2L) && star(2L) > star(3L))
    assert(star(3L) == star(4L) && star(4L) == star(5L))
    // mass conservation up to the per-step quantization slack
    assert(math.abs(star.values.sum - 1.0) < 1e-8, s"sum=${star.values.sum}")
  }

  test("pageRankOf: the 2-cycle case 50x in a row finishes under a timeout") {
    // a lazy per-round checkpoint racing the next round's broadcast once
    // deadlocked the scheduler here; every checkpoint is eager now
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val runs = Future((1 to 50).map { _ =>
      Similarity.pageRankOf(
        Seq(1L, 2L).toDF("id"), Seq((1L, 2L), (2L, 1L)).toDF("src", "dst"))
        .collect().map(_.getAs[Double]("pagerank")).toSeq
    })
    Await.result(runs, 10.minutes).foreach(r =>
      assert(r.forall(x => math.abs(x - 0.5) < 1e-9), r))
  }

  test("pageRankOf: dangling node redistributes, isolated node keeps teleport") {
    import SparkSuite.spark.implicits._
    // 1 -> 2, 2 dangles, 3 isolated: ranks must stay a distribution and
    // 2 (receiving) must outrank both 1 and 3 (teleport-only)
    val out = Similarity.pageRankOf(
      Seq(1L, 2L, 3L).toDF("id"), Seq((1L, 2L)).toDF("src", "dst"))
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("pagerank"))
      .toMap
    assert(math.abs(out.values.sum - 1.0) < 1e-8)
    assert(out(2L) > out(1L) && out(2L) > out(3L))
    assert(out(1L) == out(3L)) // neither has in-edges: identical base mass
  }

  test("pageRank on the real corpus: full coverage, a distribution, bit-stable") {
    val a = Similarity.pageRank(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("pagerank"))
    val n = Tables.embeddings(spark, sf).count()
    assert(a.length == n)
    assert(a.forall(_._2 > 0))
    assert(math.abs(a.map(_._2).sum - 1.0) < 1e-6)
    val b = Similarity.pageRank(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("pagerank"))
    assert(a.sortBy(_._1).toSeq == b.sortBy(_._1).toSeq)
  }

  test("drift: exact per-dim base/new means and delta on the 80% id cut") {
    val d = Files.createTempDirectory("graft-drift").toString
    // max id 9 -> cut 7: base = ids 0..7 (all [1,2]), new = 8..9
    val vecs = (0L to 7L).map(i => (i, Array(1f, 2f), 0)) ++
      Seq((8L, Array(2f, 0f), 0), (9L, Array(4f, 2f), 0))
    vecs.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val got = Similarity.drift(spark, d).collect()
      .map(r => r.getAs[Long]("dim_idx") ->
        (r.getAs[Long]("n_base"), r.getAs[Long]("n_new"),
          r.getAs[Double]("mean_base"), r.getAs[Double]("mean_new"),
          r.getAs[Double]("delta"))).toMap
    assert(got == Map(
      0L -> (8L, 2L, 1.0, 3.0, 2.0),
      1L -> (8L, 2L, 2.0, 1.0, -1.0)))
  }

  test("truncAudit: prefix tie flips rank-1, zero slices excluded, native width is the 1.0 control") {
    val d = Files.createTempDirectory("graft-trunc").toString
    // q0 = (1,0,0,1): full rank-1 is B (cos .949) but the width-2 slices of
    // A and B are IDENTICAL (1,0) -> tie breaks to min vec_id = A, so the
    // truncated ranking provably disagrees with full. q1's width-2 slice is
    // zero-norm -> drops out of that width's denominator. C's width-2
    // slice is zero-norm -> excluded from width-2 candidates.
    Seq(
      (0L, Array(1f, 0f, 0f, 1f), 0),  // query 0
      (1L, Array(0f, 0f, 1f, 1f), 0),  // query 1 (zero width-2 slice)
      (10L, Array(1f, 0f, 0f, 0f), 0), // A
      (11L, Array(1f, 0f, 0f, 2f), 0), // B — full-dim winner for q0
      (12L, Array(0f, 0f, 1f, 0f), 0)) // C — full-dim winner for q1
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val out = Similarity.truncAudit(spark, d, nQueries = 2, k = 1, widths = Seq(2))
      .collect().map(r => r.getAs[Long]("trunc_dim") ->
        ((r.getAs[Long]("n_q"), r.getAs[Double]("overlap_at_k"),
          r.getAs[Double]("rank1_match")))).toMap
    assert(out(2L) == ((1L, 0.0, 0.0)), s"width 2: $out")
    assert(out(4L) == ((2L, 1.0, 1.0)), s"native control: $out")
    // real corpus: overlap grows monotonically with width, control = 1.0
    val real = Similarity.truncAudit(spark, sf).collect()
      .map(r => r.getAs[Long]("trunc_dim") -> r.getAs[Double]("overlap_at_k"))
      .sortBy(_._1)
    assert(real.last._2 == 1.0, s"native width must be exact: $real")
    assert(real.map(_._2).sliding(2).forall(p => p(0) <= p(1) + 0.2),
      s"overlap should broadly grow with width: $real")
  }

  test("oodScore: matches a from-scratch diagonal-Mahalanobis reference; constant dims skipped; outlier ranks top") {
    val d = Files.createTempDirectory("graft-ood").toString
    // third dim CONSTANT (sigma = 0 -> must contribute nothing), planted
    // far outlier id 4
    val vecs: Seq[(Long, Array[Float])] = Seq(
      0L -> Array(0f, 0f, 7f), 1L -> Array(4f, 0f, 7f),
      2L -> Array(0f, 2f, 7f), 3L -> Array(4f, 2f, 7f),
      4L -> Array(20f, -6f, 7f))
    vecs.map { case (id, v) => (id, v, 0) }.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    // reference: exact decimal-free double math on the tiny fixture (the
    // operator's decimal quantization only suppresses order effects, which
    // a 5-vector fixture doesn't have beyond 1e-9 -- compare at 1e-6)
    val dims = 3
    val n = vecs.size.toDouble
    val mu = (0 until dims).map(j => vecs.map(_._2(j).toDouble).sum / n)
    val sg = (0 until dims).map { j =>
      val vr = vecs.map(v => v._2(j).toDouble * v._2(j)).sum / n - mu(j) * mu(j)
      if (vr > 0) math.sqrt(vr) else 0.0
    }
    val want = vecs.map { case (id, v) =>
      id -> (0 until dims).map { j =>
        if (sg(j) > 0) { val t = (v(j) - mu(j)) / sg(j); t * t } else 0.0
      }.sum
    }.toMap
    val got = Similarity.oodScore(spark, d).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("ood")).toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (id, w) =>
      assert(math.abs(got(id) - w) < 1e-6, s"vec $id: got ${got(id)}, want $w") }
    // the planted outlier carries the largest score by a wide margin
    assert(got(4L) == got.values.max && got(4L) > 2 * got.filterKeys(_ != 4L).values.max)
    // deterministic re-run
    val again = Similarity.oodScore(spark, d).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("ood")).toMap
    assert(again == got)
  }

  test("oodStore: merged batch moments are bit-equal to the single-pass fit; retries idempotent") {
    val d = Files.createTempDirectory("graft-oodstore-src").toString
    Seq(
      (0L, Array(0f, 0f, 7f), 0), (1L, Array(4f, 0f, 7f), 0),
      (2L, Array(0f, 2f, 7f), 0), (3L, Array(4f, 2f, 7f), 0),
      (4L, Array(20f, -6f, 7f), 0))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    def scores(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("ood")).toMap
    val direct = scores(Similarity.oodScore(spark, d))
    // three-way batch split (different from the gate's 80/20): the merge
    // algebra must not care how the corpus was sliced
    val store = Files.createTempDirectory("graft-oodstore").toString
    val emb = graft.Tables.embeddings(spark, d)
    Similarity.oodStoreWrite(emb.filter(col("vec_id") <= 1), store, 0L)
    Similarity.oodStoreWrite(col_between(emb, 2L, 3L), store, 1L)
    Similarity.oodStoreWrite(emb.filter(col("vec_id") === 4), store, 2L)
    assert(scores(Similarity.oodScoreFromStore(spark, d, store)) == direct,
      "store-served scores must be BIT-equal to the single-pass fit")
    // a replayed ingest overwrites its own partition — net once
    Similarity.oodStoreWrite(col_between(emb, 2L, 3L), store, 1L)
    assert(scores(Similarity.oodScoreFromStore(spark, d, store)) == direct,
      "replayed batch must not double-count")
  }

  private def col_between(df: org.apache.spark.sql.DataFrame, lo: Long, hi: Long) =
    df.filter(col("vec_id") >= lo && col("vec_id") <= hi)

  test("ivfBalance: totals reconcile with the assignments; planted skew read exactly") {
    // audit the standard sf index
    val idx = Files.createTempDirectory("graft-ivfbal").toString
    Similarity.writeIvfIndex(spark, sf, idx)
    val out = Similarity.ivfBalance(spark, idx).collect().head
    val asg = spark.read.parquet(s"$idx/assignments.parquet")
    assert(out.getAs[Long]("n_total") == asg.count())
    assert(out.getAs[Long]("n_buckets") ==
      asg.select("bucket").distinct().count())
    val maxB = asg.groupBy("bucket").count()
      .agg(org.apache.spark.sql.functions.max("count")).head.getLong(0)
    assert(out.getAs[Long]("max_bucket") == maxB)
    assert(out.getAs[Double]("skew") >= 1.0 - 1e-9)
    assert(out.getAs[Double]("max_share") > 0 && out.getAs[Double]("max_share") <= 1.0)
    // planted skew: a hand-written assignments table with a fat bucket
    val idx2 = Files.createTempDirectory("graft-ivfbal2").toString
    ((0L until 8L).map(i => (0L, i)) ++ Seq((1L, 8L), (2L, 9L)))
      .toDF("bucket", "vec_id")
      .write.mode("overwrite").parquet(s"$idx2/assignments.parquet")
    val p = Similarity.ivfBalance(spark, idx2).collect().head
    // 3 buckets, 10 vectors, max 8: skew = 8*3/10 = 2.4, share 0.8
    assert(p.getAs[Long]("n_buckets") == 3L && p.getAs[Long]("n_total") == 10L)
    assert(p.getAs[Long]("max_bucket") == 8L)
    assert(p.getAs[Double]("skew") == 2.4 && p.getAs[Double]("max_share") == 0.8)
  }

  test("triangles: a planted 3-clique reads degree 2 / one triangle / clustering 1; a mutual pair and an isolate read 0") {
    // cluster A (ids 1-3): near-parallel -> a 3-clique at k=2;
    // cluster B (ids 10-11): a mutual pair, each with one odd neighbor
    // that does not reciprocate; id 20: orthogonal isolate
    def vec(main: Int, tweak: Float): Array[Float] =
      Array.tabulate(4)(j =>
        if (j == main) 1f else if (j == 3) tweak else 0f)
    val d = Files.createTempDirectory("graft-tri").toString
    Seq(
      (1L, vec(0, 0.01f), 0), (2L, vec(0, 0.02f), 0), (3L, vec(0, 0.03f), 0),
      (10L, vec(1, 0.01f), 1), (11L, vec(1, 0.02f), 1),
      (20L, Array(0f, 0f, 1f, 0f), 2))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val got = Similarity.triangles(spark, d, k = 2).collect()
      .map(r => r.getAs[Long]("vec_id") -> r).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 10L, 11L, 20L))
    for (id <- Seq(1L, 2L, 3L)) {
      assert(got(id).getAs[Long]("degree") == 2L, s"id $id")
      assert(got(id).getAs[Long]("n_triangles") == 1L, s"id $id")
      assert(got(id).getAs[Double]("clustering") == 1.0, s"id $id")
    }
    for (id <- Seq(10L, 11L)) {
      assert(got(id).getAs[Long]("degree") == 1L, s"id $id")
      assert(got(id).getAs[Long]("n_triangles") == 0L, s"id $id")
      assert(got(id).isNullAt(got(id).fieldIndex("clustering")), s"id $id")
    }
    assert(got(20L).getAs[Long]("degree") == 0L)
    assert(got(20L).getAs[Long]("n_triangles") == 0L)
    // corpus invariants: triangle mass divides by 3, degree <= k,
    // coefficient in [0, 1]
    val corpus = Similarity.triangles(spark, sf).collect()
    assert(corpus.nonEmpty)
    assert(corpus.map(_.getAs[Long]("n_triangles")).sum % 3 == 0)
    corpus.foreach { r =>
      assert(r.getAs[Long]("degree") <= 5L)
      if (!r.isNullAt(r.fieldIndex("clustering"))) {
        val c = r.getAs[Double]("clustering")
        assert(c >= 0.0 && c <= 1.0)
      }
    }
    // exhaustive-probe IVF twin = brute, row for row (the C61 discipline:
    // full probes erase the blocking, gating the probed plumbing)
    def keyed(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      (r.getAs[Long]("vec_id"), r.getAs[Long]("degree"),
        r.getAs[Long]("n_triangles"),
        if (r.isNullAt(r.fieldIndex("clustering"))) None
        else Some(r.getAs[Double]("clustering")))).sortBy(_._1).toSeq
    val exh = Similarity.trianglesIvfExhaustive(spark, sf).collect()
    assert(keyed(exh) == keyed(corpus))
    // probed path: one row per vector, degree still k-bounded
    val ivf = Similarity.trianglesIvf(spark, sf).collect()
    assert(ivf.length == corpus.length)
    ivf.foreach(r => assert(r.getAs[Long]("degree") <= 5L))
  }

  test("recall-floor gates: report fields exact; undercut floor throws; gate entries clear") {
    import SparkSuite.spark.implicits._
    // synthetic known case: exact = {(1,10),(1,11),(2,10),(2,12)}, approx
    // misses (2,12) -> recall 0.75
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 12L)).toDF("q_id", "vec_id")
    val approx = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 99L)).toDF("q_id", "vec_id")
    val rep = Similarity.recallFloorReport(spark, "t", approx, exact, k = 2, floor = 0.7)
      .collect().head
    assert(rep.getAs[String]("path") == "t" && rep.getAs[Long]("n_true") == 4L &&
      rep.getAs[Long]("n_hit") == 3L && rep.getAs[Double]("recall") == 0.75 &&
      rep.getAs[Double]("floor") == 0.7)
    // a floor above delivered recall must throw (the gate-red path)
    intercept[IllegalArgumentException] {
      Similarity.recallFloorReport(spark, "t", approx, exact, k = 2, floor = 0.8).collect()
    }
    // empty exact set: recall defined as 1.0, never divides by zero
    val empty = Seq.empty[(Long, Long)].toDF("q_id", "vec_id")
    assert(Similarity.recallFloorReport(spark, "t", approx, empty, 2, 1.0)
      .collect().head.getAs[Double]("recall") == 1.0)
    // the four shipped gates clear their floors at spec SF (delivered
    // recall measured r10: ivf 0.64+, pq 0.52+, ivf_query = its own curve)
    assert(Similarity.ivfRecallGate(spark, sf).count() == 1)
    assert(Similarity.pqRecallGate(spark, sf).count() == 1)
    val ivfIdx = Files.createTempDirectory("spec-rg-ivf").toString
    Similarity.writeIvfIndex(spark, sf, ivfIdx)
    val r = Similarity.ivfQueryRecallGate(spark, sf, ivfIdx).collect().head
    // persisted-index path: delivered recall must EQUAL the index's own
    // curve value (same sample) -- >= floor is the gate, == is the physics
    assert(math.abs(r.getAs[Double]("recall") - (r.getAs[Double]("floor") + 1e-9)) < 1e-12)
    val pqIdx = Files.createTempDirectory("spec-rg-pq").toString
    Similarity.writePqIndex(spark, sf, pqIdx)
    assert(Similarity.pqQueryRecallGate(spark, sf, pqIdx).count() == 1)
  }

  test("knnLabelEval: planted clusters recover their labels; a planted impostor votes with its geometry") {
    import SparkSuite.spark.implicits._
    import org.apache.spark.sql.functions._
    // three orthogonal 6-vector clusters (tiny within-cluster jitter on a
    // distinct dim per member keeps vectors unique but firmly clustered),
    // plus ONE impostor: labeled 0 but placed inside cluster 1 — its 5
    // nearest are all label-1, so the vote must misclassify it
    def v(axis: Int, jitterDim: Int, eps: Float): Array[Float] = {
      val a = Array.fill(12)(0f); a(axis) = 1f; a(jitterDim) = eps; a
    }
    val rows = (for {
      cl <- 0 until 3
      i <- 0 until 6
    } yield ((cl * 100 + i).toLong, v(cl, 3 + cl * 3 + (i % 3), 0.01f * (i + 1)), cl)) :+
      ((999L, v(1, 4, 0.07f), 0)) // impostor: label 0, geometry cluster 1
    val d = Files.createTempDirectory("graft-knnle").toString
    rows.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val out = Similarity.knnLabelEval(spark, d).collect()
      .map(r => r.getAs[Long]("label") ->
        ((r.getAs[Long]("n_vectors"), r.getAs[Long]("n_correct"),
          r.getAs[Double]("accuracy")))).toMap
    // label 0: 6 true members correct + the impostor wrong -> 6/7
    assert(out(0L) == ((7L, 6L, 6.0 / 7.0)), s"${out(0L)}")
    // labels 1 and 2 fully recovered (the impostor can at most appear as a
    // NEIGHBOR of cluster-1 members — one stray label-0 vote never beats
    // the in-cluster majority at k=5)
    assert(out(1L) == ((6L, 6L, 1.0)) && out(2L) == ((6L, 6L, 1.0)))
    // corpus: accuracy well-formed, per-label counts reconcile
    val corpus = Similarity.knnLabelEval(spark, sf).collect()
    assert(corpus.nonEmpty)
    val total = corpus.map(_.getAs[Long]("n_vectors")).sum
    // denominator = NONZERO-NORM vectors (zero-norm rows have no cosine
    // neighborhood and are excluded by contract)
    val nVecs = Tables.embeddings(spark, sf)
      .filter(VectorFunctions.norm(
        VectorFunctions.toDouble(col("embedding"))) > 0.0).count()
    assert(total == nVecs, s"$total classified of $nVecs")
    corpus.foreach { r =>
      val acc = r.getAs[Double]("accuracy")
      assert(acc >= 0.0 && acc <= 1.0 &&
        acc == r.getAs[Long]("n_correct").toDouble / r.getAs[Long]("n_vectors"))
    }
  }

  test("lsh band curve: prefix-monotone, cap binds at 2^30, measured counts match the distribution-aware expectation, reconciles with the empirical-recall instrument") {
    import Similarity.{lshAutoParams, lshEmpiricalRecall}
    case class R(bits: Long, bands: Long, needed: Long, theory: Double,
                 nTrue: Long, found: Long, measured: Double,
                 expected: Double, sd: Double)
    val curve = Similarity.lshBandCurve(spark, sf).collect()
      .map(r => (r.getAs[Long]("sim_n"), r.getAs[Long]("max_bands")) ->
        R(r.getAs[Long]("bits"), r.getAs[Long]("bands"),
          r.getAs[Long]("bands_needed"), r.getAs[Double]("recall_theory"),
          r.getAs[Long]("n_true"), r.getAs[Long]("n_found"),
          r.getAs[Double]("recall_measured"),
          r.getAs[Double]("n_expected"), r.getAs[Double]("sd_expected"))).toMap
    val simNs = curve.keySet.map(_._1)
    assert(curve.size == simNs.size * 4, s"want a full cap sweep per scale, got ${curve.size}")
    assert(simNs.contains(1L << 20) && simNs.contains(1L << 30))
    val nTrue = curve.values.head.nTrue
    assert(nTrue > 0 && curve.values.forall(_.nTrue == nTrue))
    // prefix property: more allowed bands can only find MORE pairs
    for (n <- simNs; Seq(lo, hi) <- Seq(16L, 32L, 64L, 128L).sliding(2)) {
      assert(curve((n, lo)).found <= curve((n, hi)).found,
        s"recall not monotone in cap at sim_n=$n")
    }
    // the 2^30 scheme NEEDS far more than 128 bands — the cap binds; its
    // measured price on this corpus is a hit count consistent with the
    // (near-zero) expectation, i.e. the loose-threshold regime at 10^9
    // vectors is band-starved by five orders of magnitude
    assert(curve(((1L << 30), 16L)).needed > 10000L,
      s"expected bands_needed >> 128 at 2^30, got ${curve(((1L << 30), 16L)).needed}")
    // every row's measured hit count sits within noise of the per-pair
    // cosine-driven expectation (pairs share vectors, so collisions are
    // not independent — allow wide slack over the binomial sd)
    curve.foreach { case ((n, c), r) =>
      val tol = math.max(6.0 * r.sd, 6.0)
      assert(math.abs(r.found - r.expected) <= tol,
        f"sim_n=$n cap=$c: found ${r.found} vs expected ${r.expected}%.2f (sd ${r.sd}%.2f)")
    }
    // and the at-threshold theory is a FLOOR on the distribution-aware
    // expectation (pairs above threshold collide more often)
    curve.foreach { case ((n, c), r) =>
      assert(r.expected / r.nTrue >= r.theory - 1e-9,
        s"expected recall under at-threshold floor at sim_n=$n cap=$c")
    }
    // reconciliation: at the gate's own n and the production cap 32, the
    // curve's scheme IS lshAutoParams' choice and its found-pair count
    // matches the lshEmpiricalRecall instrument exactly (same planes,
    // counted through a different plan: band self-join vs first_hit prefix)
    val gateN = (simNs - (1L << 20) - (1L << 30)).head
    val (bitsP, bandsP) = lshAutoParams(gateN, 0.4, 0.9, 64, 32)
    val g32 = curve((gateN, 32L))
    assert(g32.bits == bitsP && g32.bands == bandsP,
      s"curve scheme (${g32.bits}, ${g32.bands}) != lshAutoParams ($bitsP, $bandsP)")
    val (nTrueE, foundE, _, _, _) = lshEmpiricalRecall(spark, sf, 0.4)
    assert(g32.nTrue == nTrueE && g32.found == foundE,
      s"curve (${g32.nTrue}, ${g32.found}) != empirical ($nTrueE, $foundE)")
  }

  // the corpus is repartitioned before the sums, so a float sum would follow
  // the input's file layout; the decimal-quantized sums must not
  test("lsh band curve: expectations are bit-equal whatever the file layout of the corpus") {
    def curveOf(files: Int): Seq[(Long, Long, Double, Double)] = {
      val d = Files.createTempDirectory("graft-lsh-curve").toString
      Tables.embeddings(spark, sf).repartition(files, col("vec_id")).sortWithinPartitions("vec_id")
        .write.parquet(s"$d/embeddings.parquet")
      Similarity.lshBandCurve(spark, d).collect().toSeq
        .map(r => (r.getAs[Long]("sim_n"), r.getAs[Long]("max_bands"),
          r.getAs[Double]("n_expected"), r.getAs[Double]("sd_expected")))
        .sortBy(r => (r._1, r._2))
    }
    val one = curveOf(1)
    assert(one.exists(_._3 > 0.0))
    assert(curveOf(5) == one)
  }

  test("centroid quality: bit-equal to an independent in-memory integer-median computation; top-5% flag exact") {
    val got = Similarity.centroidQuality(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Int]("label"), r.getAs[Long]("dist2q"),
          r.getAs[Boolean]("is_outlier")))).toMap
    // independent reference: micro-quantize, per-(label,dim) sorted
    // two-order-statistic median, exact integer distance, 5% rank flag
    val rows = Tables.embeddings(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("label"),
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray))
    assert(rows.nonEmpty && got.size == rows.length)
    val byLabel = rows.groupBy(_._2)
    val want = byLabel.iterator.flatMap { case (label, vs) =>
      val dim = vs.head._3.length
      val c2 = (0 until dim).map { d =>
        val xs = vs.map(v => math.round(v._3(d).toDouble * 1e6)).sorted
        val n = xs.length
        xs((n + 1) / 2 - 1) + xs((n + 2) / 2 - 1)
      }
      val dists = vs.map { case (id, _, emb) =>
        val dq = (0 until dim).map { d =>
          val t = 2L * math.round(emb(d).toDouble * 1e6) - c2(d)
          t * t
        }.sum
        (id, dq)
      }
      val ranked = dists.sortBy { case (id, dq) => (-dq, id) }
      val cut = math.ceil(dists.length * 0.05).toLong
      ranked.zipWithIndex.iterator.map { case ((id, dq), i) =>
        id -> ((label, dq, (i + 1) <= cut))
      }
    }.toMap
    assert(got == want)
  }

  test("mmr select: lambda=1 is top-k by centrality; default lambda matches an independent greedy; picks diversify a planted two-cluster corpus") {
    import SparkSuite.spark.implicits._
    // lambda=1: pure relevance ranking (no diversity penalty)
    val pure = Similarity.mmrSelect(spark, sf, k = 8, lambdaRel = 1.0)
      .orderBy("rank").collect().map(_.getAs[Long]("vec_id")).toSeq
    val rel = Similarity.mmrSelect(spark, sf, k = 8, lambdaRel = 1.0)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("rel")).toMap
    assert(pure == pure.sortBy(id => (-rel(id), id)),
      "lambda=1 ranks must be centrality order")
    // default lambda: FULL independent reimplementation (quantized
    // centroid, relevance, candidate head, signed-penalty greedy) must
    // reproduce the operator's selection order and scores exactly
    val k = 6
    val sel = Similarity.mmrSelect(spark, sf, k = k).orderBy("rank").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("rel"),
        r.getAs[Double]("score"))).toSeq
    val raw = Tables.embeddings(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getAs[scala.collection.Seq[Float]]("embedding")
          .toArray.map(_.toDouble)))
    val dim = raw.head._2.length
    val cent = (0 until dim).map { d =>
      raw.map(v => math.round(v._2(d) * 1e6)).sum.toDouble / (raw.length * 1e6)
    }.toArray
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val cn = math.sqrt(dot(cent, cent))
    val withRel = raw
      .map { case (id, v) => (id, v, math.sqrt(dot(v, v))) }
      .filter(_._3 > 0.0)
      .map { case (id, v, nm) => (id, v, nm, dot(v, cent) / (nm * cn)) }
    val head = withRel.sortBy { case (id, _, _, rel) => (-rel, id) }.take(6 * 16)
    val chosen = scala.collection.mutable.ArrayBuffer[(Long, Double, Double)]()
    val ids = scala.collection.mutable.HashSet.empty[Long]
    val ms = scala.collection.mutable.Map(head.map(c => c._1 -> -1.0).toSeq: _*)
    val lam = 0.7 // (1 - lam) must be the operator's exact double
    while (chosen.length < k) {
      val next = head.iterator.filterNot(c => ids(c._1)).maxBy { c =>
        val pen = if (chosen.isEmpty) 0.0 else ms(c._1)
        (lam * c._4 - (1 - lam) * pen, -c._1)
      }
      val pen = if (chosen.isEmpty) 0.0 else ms(next._1)
      chosen += ((next._1, next._4, lam * next._4 - (1 - lam) * pen))
      ids += next._1
      head.foreach { c =>
        if (!ids(c._1)) {
          val scos = dot(c._2, next._2) / (c._3 * next._3)
          if (scos > ms(c._1)) ms(c._1) = scos
        }
      }
    }
    assert(sel == chosen.toSeq,
      s"operator $sel != independent reference ${chosen.toSeq}")
    // planted: two tight clusters; k=2 at lambda=0.5 must take one from each
    val d = java.nio.file.Files.createTempDirectory("graft-mmr").toString
    val rnd = new scala.util.Random(7)
    def jitter(base: Array[Float]): Array[Float] =
      base.map(x => x + 0.01f * rnd.nextGaussian().toFloat)
    val a = Array.fill(8)(0f); a(0) = 1f
    val b = Array.fill(8)(0f); b(1) = 1f
    val rows = (0L until 10L).map(i => (i, jitter(a), 0)) ++
      (10L until 20L).map(i => (i, jitter(b), 1))
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val picks = Similarity.mmrSelect(spark, d, k = 2, lambdaRel = 0.5)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(picks.exists(_ < 10) && picks.exists(_ >= 10),
      s"expected one pick per cluster, got $picks")
  }
}
