package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Pins._
import graft.Tables
import graft.plans.BlockPairs
import graft.sources.StoreFiles
import graft.functions.VectorFunctions._

/** Embedding similarity search (C5–C7).
  *
  * Scale design: norms are computed once per row before any join (never per
  * pair); the small query side is broadcast so the corpus never shuffles;
  * top-k per query is a bounded window over (query × corpus) partitioned by
  * query. The IVF variant coarse-quantizes the corpus against broadcast
  * centroids and probes only the nearest buckets — the 100 TB path. */
object Similarity {

  /** Cosine is undefined for the zero vector — unguarded, 0/0 = NaN, which
    * Spark sorts ABOVE every real similarity (a zero vector would rank #1
    * for every query and pass every ≥ threshold filter). Zero-norm rows are
    * excluded from all cosine paths here. */
  private def withNorm(df: DataFrame): DataFrame =
    df.select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
      .filter(col("nrm") > 0.0)

  /** C5: brute-force cosine top-k — queries are vec_id < nQueries, corpus is
    * everything else. Broadcast the queries; one pass over the corpus. */
  def cosineTopK(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val emb = withNorm(Tables.embeddings(spark, dir))
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val corpus = emb.filter(col("vec_id") >= nQueries)
    val scored = corpus.crossJoin(broadcast(queries))
      .select(col("q_id"), col("vec_id"),
        (dot(col("v"), col("qv")) / (col("nrm") * col("qn"))).as("cos_sim"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long")).filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id"), col("rank"), col("cos_sim"))
  }

  /** C112: RANGE (radius) search — every corpus vector within a cosine
    * threshold of each query (the FAISS `range_search` shape, public —
    * the query-driven sibling of C6's corpus-pair mining: "give me ALL
    * matches above θ", the retrieval form dedup audits, policy screens,
    * and recall-oriented RAG use where a fixed k silently truncates).
    * Brute path: one broadcast-queries corpus scan, a filter instead of
    * a rank window — strictly cheaper than top-k (no sort at all). */
  def rangeQuery(spark: SparkSession, dir: String, nQueries: Int = 10,
                 threshold: Double = 0.3): DataFrame = {
    val emb = withNorm(Tables.embeddings(spark, dir))
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    emb.filter(col("vec_id") >= nQueries).crossJoin(broadcast(queries))
      .select(col("q_id"), col("vec_id"),
        (dot(col("v"), col("qv")) / (col("nrm") * col("qn"))).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** C112b: the IVF-served range search — probe the nearest buckets, score
    * candidates exactly, filter by θ (the scale path: candidates are the
    * probed fraction of the corpus, and there is no rank window at all).
    * Exhaustive probes (nprobe = nlist) provably recover the brute result
    * — the oracle twin; at default probes the miss set is exactly the
    * θ-matches living in unprobed buckets (the C7 recall trade). */
  def rangeQueryIvf(spark: SparkSession, dir: String, nQueries: Int = 10,
                    threshold: Double = 0.3, nlist: Int = 8,
                    nprobe: Int = 3, lloydIters: Int = 1): DataFrame = scope {
    val emb = withNorm(Tables.embeddings(spark, dir))
    val corpus = emb.filter(col("vec_id") >= nQueries)
    val (centroids, bucketed) = buildIvfIndex(corpus, nlist, lloydIters)
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val probeW = Window.partitionBy(col("q_id"))
      .orderBy(col("c_sim").desc, col("c_id"))
    val probes = queries.crossJoin(broadcast(centroids))
      .withColumn("c_sim", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rnk", row_number().over(probeW)).filter(col("rnk") <= nprobe)
      .select(col("q_id"), col("qv"), col("qn"), col("c_id").as("bucket"))
    bucketed.join(broadcast(probes), "bucket")
      .select(col("q_id"), col("vec_id"),
        (dot(col("v"), col("qv")) / (col("nrm") * col("qn"))).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** The exhaustive-probe twin: must equal [[rangeQuery]] exactly. */
  def rangeQueryIvfExhaustive(spark: SparkSession, dir: String,
                              nQueries: Int = 10,
                              threshold: Double = 0.3): DataFrame =
    rangeQueryIvf(spark, dir, nQueries, threshold, nlist = 8, nprobe = 8)

  /** C33: hard-negative mining for contrastive training — for each query
    * vector, the top-k nearest CORPUS vectors carrying a DIFFERENT label
    * (the highest-similarity wrong answers, the negatives that actually
    * teach). Same broadcast-queries + WindowGroupLimit shape as
    * [[cosineTopK]]; the label inequality is a residual on the scored pass,
    * so cost is identical to plain top-k. At 100 TB the IVF bucketed path
    * substitutes exactly as it does for top-k. */
  def hardNegatives(spark: SparkSession, dir: String, nQueries: Int = 10,
                    k: Int = 3): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), toDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
      .filter(col("nrm") > 0.0) // zero vector: cosine undefined (see withNorm)
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("v").as("qv"), col("nrm").as("qn"))
    val corpus = emb.filter(col("vec_id") >= nQueries)
    val scored = corpus.crossJoin(broadcast(queries))
      .filter(col("label") =!= col("q_label"))
      .select(col("q_id"), col("vec_id"), col("label"),
        (dot(col("v"), col("qv")) / (col("nrm") * col("qn"))).as("cos_sim"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long")).filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id"), col("label"), col("rank"), col("cos_sim"))
  }

  /** C6: near-duplicate embedding pairs above a cosine threshold, blocked by
    * label (the generator's cluster id) to stay sub-quadratic; exact within
    * blocks (the block-pair kernel, [[graft.plans.BlockPairs]], scores each
    * label's pairs in place) — which makes it the ORACLE-CHECKABLE BASELINE
    * of that kernel, not the scale
    * path: with a fixed label set, within-block pair volume grows with
    * (n/|labels|)², and the r6 10×-distinct rehearsal measured ~18× wall at
    * 10× data. Production near-dup mining at scale is [[lshNeardupPairsAuto]]
    * (occupancy-pinned — measured linear, 11× at 10×); keep this one for
    * exactness checks and label-blocked corpora whose label count grows
    * with n. */
  def neardupPairs(spark: SparkSession, dir: String, threshold: Double = 0.3): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), toDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
      .filter(col("nrm") > 0.0) // zero vector: cosine undefined (see withNorm)
    BlockPairs(emb, Seq("label"), "vec_id", BlockPairs.Cosine("v", "nrm"), threshold, "cos_sim")
  }

  /** C36: embedding keep-list — near-duplicate vectors collapsed to one
    * canonical per connected component of the cosine-threshold pair graph
    * (the embedding-side mirror of the document keep-list): reuses the
    * star-CC rounds, min-id canonical, singletons keep themselves. The
    * dedup decision a curation pipeline applies to redundant embeddings. */
  def embKeepList(spark: SparkSession, dir: String,
                  threshold: Double = 0.9): DataFrame = scope {
    val pairs = neardupPairs(spark, dir, threshold).select(col("id_a"), col("id_b"))
    val clusters = Dedup.clustersFromPairsStars(pairs)
    Tables.embeddings(spark, dir).select(col("vec_id"))
      .join(clusters.withColumnRenamed("id", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("cluster_id"), col("vec_id")).as("canonical_id"))
      .withColumn("keep", col("vec_id") === col("canonical_id"))
  }

  /** C6b: label-free embedding near-dup pairs via random-hyperplane
    * (sign) LSH — the scale path when no blocking key exists: a corpus
    * never ships with the generator's cluster labels. One compiled pass
    * computes a sign signature per vector ([[graft.functions.RhpSignExpr]];
    * deterministic hash-derived hyperplanes, zero coordination), banding
    * makes each (band, bucket) a block whose pairs are verified in place by
    * the block-pair kernel (as in MinHash-LSH dedup), with the exact
    * cosine — output precision is exact, recall is the
    * standard sign-LSH collision bound (1−θ/π per bit). Defaults (16
    * planes, 4-bit bands) target high-similarity near-dup mining; lower
    * thresholds want more bands of fewer bits. */
  def lshNeardupPairs(spark: SparkSession, dir: String, threshold: Double = 0.4,
                      numPlanes: Int = 16, bands: Int = 4): DataFrame = {
    require(numPlanes % bands == 0,
      s"bands=$bands must divide numPlanes=$numPlanes (trailing sign bits would be silently un-banded)")
    lshPairsOf(withNorm(Tables.embeddings(spark, dir)), threshold,
      bits = numPlanes / bands, bands = bands)
  }

  /** Band b's signature at `bits` planes. Up to 60 bits it is one long from
    * the plane-offset kernel; past 60 it becomes an ARRAY of ≤60-bit words
    * over consecutive plane offsets — a multi-word band key, joinable and
    * comparable exactly like the long (two vectors share the wide bucket
    * iff they agree on ALL bits·1 planes, i.e. on every word). Removes the
    * last hard cap in the LSH family: band width now grows with log2(n)
    * indefinitely instead of stopping at 2^60·occupancy vectors. */
  private[graft] def bandSig(bits: Int, b: Int): Column =
    if (bits <= 60) graft.functions.VectorExpressions.rhpSign(col("v"), bits, b * bits)
    else {
      val parts = (bits + 59) / 60
      array((0 until parts).map(j =>
        graft.functions.VectorExpressions.rhpSign(
          col("v"), math.min(60, bits - j * 60), b * bits + j * 60)): _*)
    }

  /** ALL band signatures as one column. Single-word regime (bits ≤ 60):
    * the batched [[graft.functions.RhpSignArrayExpr]] kernel — one compiled
    * loop per row instead of `bands` separate expression subtrees (the r12
    * band-curve finding: 128 per-band exprs in one Project blew the JIT
    * budget and ran 6× slower than the identical arithmetic in one loop).
    * Wide-band regime (bits > 60, corpora past ~2^60·occupancy): the
    * per-band multi-word construction, unchanged. Element b is bit-equal
    * to [[bandSig]](bits, b) in both regimes. */
  private[graft] def bandSigs(bits: Int, bands: Int): Column =
    if (bits <= 60)
      graft.functions.VectorExpressions.rhpSignArray(col("v"), bits, bands)
    else array((0 until bands).map(b => bandSig(bits, b)): _*)

  /** Rows that survive + their band signatures, signatures evaluated ONCE.
    * The historical `withColumn("bsigs", …).filter(bsigs(0).isNotNull)`
    * pattern was harmless per-band (the filter re-evaluated only band 0's
    * expression, 1/bands of the work) but fatal for the batched kernel:
    * filter and project are separate operators, so the ALL-bands loop ran
    * twice per row (measured: emb_lsh_band_curve 5.0 → 8.0 s on the first
    * kernel wiring). The kernel is NULL exactly for null/empty vectors, so
    * filtering on that cheap predicate FIRST keeps the identical row set
    * while the signature loop runs once, in the project.
    *
    * WIDE-BAND caveat (ADVICE r12): for bits > 60 the regimes are NOT
    * identical on null/empty-vector rows — the historical
    * `bsigs(0).isNotNull` filter never dropped them there (bsigs(0) is a
    * non-null ARRAY of null words), so they survived into occupancy
    * counts, grouped together on the null-word bucket; the vector-null
    * filter here drops them. PAIR output is unchanged (a row with no
    * vector has no cosine, so it never paired), but candidate-count
    * estimates over corpora containing null vectors differ — deliberately:
    * a row with no vector has no bucket, and counting it as occupancy was
    * the bug, not the fix. */
  private[graft] def withBandSigs(embN: DataFrame, bits: Int, bands: Int): DataFrame =
    embN.filter(col("v").isNotNull && size(col("v")) > 0)
      .withColumn("bsigs", bandSigs(bits, bands))

  /** Shared sign-LSH candidate+verify core. Band b's bucket is its OWN
    * `bits`-plane signature at plane offset b·bits — bit-identical to
    * slicing one long signature while the offsets stay under 64, but the
    * band count is unbounded (the planes are a global deterministic
    * sequence, not a 64-bit word).
    *
    * Candidates are verified inside their bucket by the block-pair kernel
    * ([[graft.plans.BlockPairs]]): the banded rows (id, vector, norm and
    * every band key) are hash-partitioned by (band, bucket) and each bucket
    * is held once, so a candidate pair never becomes a row. A pair that
    * collides in several bands is emitted only by its lowest (the
    * first-collision rule compares the two rows' earlier band keys), and
    * each emitted pair carries its exact cosine. Shuffle volume is
    * O(n·bands·(dim+bands)), one row per (vector, band), whatever the
    * buckets' occupancy; CPU is the candidate pairs' dot products. */
  private[graft] def lshPairsOf(embN: DataFrame, threshold: Double,
                                bits: Int, bands: Int): DataFrame = {
    // longs per band key: one up to 60 bits, else one per 60-bit word
    val words = (bits + 59) / 60
    val keys = if (words == 1) col("bsigs") else flatten(col("bsigs"))
    val banded = withBandSigs(embN, bits, bands)
      // _outer: a plain posexplode makes the optimizer infer a non-empty
      // filter on the signature and run its kernel again below (bsigs is
      // never null or empty here)
      .select(col("vec_id"), col("v"), col("nrm"), keys.as("keys"),
        posexplode_outer(col("bsigs")).as(Seq("band", "bucket")))
    BlockPairs(banded, Seq("band", "bucket"), "vec_id", BlockPairs.Cosine("v", "nrm"),
      threshold, "cos_sim", Some(BlockPairs.FirstCollision("band", "keys", words)))
      .select(col("id_a"), col("id_b"), col("cos_sim"))
  }

  /** C6c: SCALE-ADAPTIVE sign-LSH near-dup pairs — the r6 scale rehearsal's
    * lesson made a default: [[lshNeardupPairs]]' fixed 4-bit bands give 16
    * buckets FOREVER, so bucket occupancy grows with the corpus and
    * candidate pairs grow quadratically (measured 93× wall at 10× distinct
    * vectors). Here band width grows with the corpus — bits =
    * log2(n/`targetOccupancy`) — pinning expected bucket occupancy, so
    * candidates stay ~n·bands·occupancy (LINEAR in n); the band count then
    * comes from the standard collision bound to hold `targetRecall` at
    * `threshold`: bands = ln(1−recall)/ln(1−p^bits), p = 1−acos(θ)/π,
    * capped at `maxBands` (the cap is the honest LSH trade — at fixed
    * recall the band count must grow with bits; past the cap, recall
    * degrades by exactly the reported bound rather than cost exploding).
    * One count() scalar sizes the scheme; per-band signatures use the
    * plane-offset kernel, so total planes = bits·bands is NOT capped at
    * 64.
    *
    * THE CAP'S PRICE IS RECALL, NEVER PRECISION (every emitted pair is
    * exact-verified) — and it is a stated, measured number, not a hope:
    * holding recall R needs bands ≈ −ln(1−R)/p^bits, i.e. bands ∝
    * n^log2(1/p) under occupancy pinning — amplification cost is
    * inherently super-linear in n (n^0.28 at θ=0.85, n^0.66 at θ=0.4), so
    * a FIXED band budget must eventually trade recall. Measured envelope
    * at θ=0.4 (r11 sweep, empirical vs the exact pair enumeration): n=2k →
    * 22 bands uncapped, recall 0.90; n=20k needs 145 bands — capped at 32
    * the measured recall is 0.45 (theory floor 0.40). At the θ=0.85
    * production default the 32 cap holds target recall to n ≈ 1M vectors
    * (34 bands needed at 1M, 62 at 10M, 244 at 1B). Size a deployment with
    * [[lshAutoStats]] — the chosen scheme, candidate volume and
    * theoretical recall at the threshold — and [[lshEmpiricalRecall]], the
    * recall measured against the exact pair enumeration; raise `maxBands`
    * when the corpus and recall SLO warrant the linear-in-bands wall. */
  def lshNeardupPairsAuto(spark: SparkSession, dir: String,
                          threshold: Double = 0.85,
                          targetRecall: Double = 0.9,
                          targetOccupancy: Int = 64,
                          maxBands: Int = 32): DataFrame = {
    val embN = withNorm(Tables.embeddings(spark, dir))
    val n = math.max(1L, embN.count())
    val (bits, bands) = lshAutoParams(n, threshold, targetRecall,
      targetOccupancy, maxBands)
    lshPairsOf(embN, threshold, bits, bands)
  }

  /** Measured LSH-auto volumes — the direct evidence behind the "candidates
    * stay linear" sizing claim, runnable at any pair of scales (the
    * occupancy-pinning math predicts candidates ∝ n; this measures them):
    * (n, bits, bands, candidate pairs the buckets hold
    * = Σ_{band,bucket} c·(c−1)/2, and the verified output pairs at the
    * threshold). Output pairs are a property of the CORPUS (how many true
    * near-dups exist), not the scheme — if the corpus's cluster structure
    * makes true pairs grow super-linearly, no candidate generator can be
    * linear and stay correct; the candidate/output split makes the two
    * causes distinguishable in one record. */
  def lshAutoStats(spark: SparkSession, dir: String, threshold: Double = 0.85,
                   targetRecall: Double = 0.9, targetOccupancy: Int = 64,
                   maxBands: Int = 32): (Long, Int, Int, Long, Long, Double) = {
    val embN = withNorm(Tables.embeddings(spark, dir))
    val n = math.max(1L, embN.count())
    val (bits, bands) = lshAutoParams(n, threshold, targetRecall,
      targetOccupancy, maxBands)
    val candPairs = withBandSigs(embN, bits, bands)
      .select(posexplode(col("bsigs"))).toDF("band", "bucket")
      .groupBy("band", "bucket").agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(expr("c * (c - 1) div 2")), lit(0L))).head().getLong(0)
    val outPairs = lshPairsOf(embN, threshold, bits, bands).count()
    (n, bits, bands, candPairs, outPairs, lshTheoreticalRecall(threshold, bits, bands))
  }

  /** MEASURED recall of the auto-sized LSH scheme against the exact global
    * pair enumeration at the same threshold — the ground-truth companion
    * to [[lshAutoStats]]' volume record (theory says the cap costs recall;
    * this measures what it actually costs on THIS corpus, where most true
    * pairs sit well above the threshold and collide more often than the
    * floor suggests). O(n²·dim) — a gate-SF / rehearsal-SF instrument, not
    * a production operator; the block product mirrors [[neardupPairs]]
    * WITHOUT its label blocking (the LSH pairs are global). Returns
    * (true pairs, LSH-found true pairs, recall, bits, bands). */
  private[graft] def lshEmpiricalRecall(spark: SparkSession, dir: String,
                                        threshold: Double,
                                        targetRecall: Double = 0.9,
                                        targetOccupancy: Int = 64,
                                        maxBands: Int = 32): (Long, Long, Double, Int, Int) = scope {
    val embN = withNorm(Tables.embeddings(spark, dir))
    val n = math.max(1L, embN.count())
    val (bits, bands) = lshAutoParams(n, threshold, targetRecall,
      targetOccupancy, maxBands)
    val lsh = lshPairsOf(embN, threshold, bits, bands)
      .select(col("id_a"), col("id_b"))
    // the corpus lands as ONE parquet file at probe scales — without an
    // explicit repartition the nested-loop pair product runs as a single
    // task (measured: 20k vectors = 400M pair evals on one core, >15 min).
    // Repartition the STREAM side; the other side rides the broadcast.
    // (Whichever side Spark broadcasts, the streamed side now has
    // defaultParallelism tasks.)
    val par = spark.sparkContext.defaultParallelism
    val a = embN.repartition(par)
      .select(col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
    val b = embN.repartition(par)
      .select(col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    // materialize the exact enumeration ONCE: it feeds two counts (the
    // truth size and the semi-join hit count), and as a lazy plan the
    // O(n²·dim) pair product would run once per action (r12: measured 2×
    // the dominant cost of emb_lsh_recall). ≤ true-pair rows, ids only.
    val exact = a.join(b, col("id_a") < col("id_b"))
      .filter(dot(col("va"), col("vb")) / (col("na") * col("nb")) >= threshold)
      .select(col("id_a"), col("id_b")).pin()
    val nTrue = exact.count()
    val found = exact.join(lsh, Seq("id_a", "id_b"), "left_semi").count()
    (nTrue, found, if (nTrue == 0) 1.0 else found.toDouble / nTrue, bits, bands)
  }

  /** Theoretical at-threshold recall of a (bits, bands) sign-LSH scheme:
    * a pair at exactly `threshold` cosine collides in one band with
    * p^bits (p = 1 − acos(t)/π), so P(any band) = 1 − (1 − p^bits)^bands.
    * Pairs ABOVE the threshold do better — this is the floor the sizing
    * aims at, and the number the band CAP trades away once
    * `lshAutoParams` clamps (SURVEY §5: the cap's cost is stated recall,
    * never silent candidate loss — the probe prints it). */
  private[graft] def lshTheoreticalRecall(threshold: Double, bits: Int,
                                          bands: Int): Double = {
    val p = 1.0 - math.acos(threshold) / math.Pi
    1.0 - math.pow(1.0 - math.pow(p, bits), bands)
  }

  /** (bits, bands) for [[lshNeardupPairsAuto]] — pure sizing math, spec-
    * pinned: occupancy-pinning band width, collision-bound band count. */
  private[graft] def lshAutoParams(n: Long, threshold: Double,
                                   targetRecall: Double, targetOccupancy: Int,
                                   maxBands: Int): (Int, Int) = {
    // 240-bit ceiling = 4 signature words ([[bandSig]] splits past 60) —
    // occupancy stays pinned to ~2^244 vectors, i.e. effectively unbounded
    val bits = math.min(240, math.max(4, math.ceil(
      math.log(n.toDouble / targetOccupancy) / math.log(2.0)).toInt))
    val p = 1.0 - math.acos(threshold) / math.Pi
    val pBand = math.pow(p, bits)
    val bands = math.min(maxBands, math.max(4,
      math.ceil(math.log1p(-targetRecall) / math.log1p(-pBand)).toInt))
    (bits, bands)
  }

  /** C7b: product-quantization ANN — the memory-bound scale path: the
    * corpus is stored as m sub-codes (m bytes/vector at ksub≤256 instead of
    * dim·4), queries score codes by table lookup (asymmetric distance),
    * then the shortlist is re-ranked with the exact cosine.
    *
    * Spark shape: codebooks are learned per subspace with deterministic
    * hash-seeding + one Lloyd step (small broadcast both ways); encoding is
    * subvector-explode → broadcast-join → partial-agg argmin (map-side
    * combinable, no sort windows); scoring joins the exploded codes to the
    * broadcast query distance table and partial-aggregates the m lookups
    * per (query, vector); double WindowGroupLimit bounds the shuffle to
    * ≤shortlist rows per query per map task (same shape as [[cosineTopK]]).
    * Exact re-rank touches only shortlist·queries vectors. */
  def pqTopK(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5,
             m: Int = 8, ksub: Int = 16, shortlist: Int = 64): DataFrame = scope {
    val emb = pqNormalized(Tables.embeddings(spark, dir))
    val corpus = emb.filter(col("vec_id") >= nQueries)
    val (codebooks, codes) = buildPqIndex(corpus, m, ksub)
    pqQuery(emb.filter(col("vec_id") < nQueries), corpus, codebooks, codes.pin(),
      m, k, shortlist)
  }

  private def pqNormalized(emb: DataFrame): DataFrame =
    withNorm(emb).select(col("vec_id"), col("nrm"),
      transform(col("v"), x => x / col("nrm")).as("vn"), col("v"))

  /** Subvector width from the DATA (dim / m): the dimension is a property
    * of the embedding table, not a constant of the engine — a hardcoded
    * width would silently slice past the array end for other dims and
    * zero out half the subspaces. One LIMIT-1 job; empty frames fall back
    * to a degenerate width (their results are empty anyway). */
  private def dsubOf(df: DataFrame, m: Int): Int =
    df.select(size(col("vn")).as("d")).head(1).headOption.map { r =>
      val dim = r.getInt(0)
      require(dim % m == 0, s"m=$m must divide the embedding dim=$dim")
      dim / m
    }.getOrElse(1)

  /** (vec_id, sub, subv): the m subvectors of the normalized vector. */
  private def pqSubrows(df: DataFrame, m: Int, dsub: Int): DataFrame =
    df.select(col("vec_id"),
      posexplode(transform(sequence(lit(0), lit(m - 1)),
        s => slice(col("vn"), s * dsub + 1, lit(dsub)))))
      .toDF("vec_id", "sub", "subv")

  /** Train the PQ index over a normalized corpus: returns
    * (codebooks (sub, cid, cent), codes (vec_id, sub, code)). Pure
    * DataFrames, so the index persists as two parquet tables
    * ([[writePqIndex]]) — at 100 TB the corpus is encoded ONCE (the
    * expensive pass) and every query session reads m ints/vector. */
  private[graft] def buildPqIndex(corpus: DataFrame, m: Int = 8,
                                  ksub: Int = 16): (DataFrame, DataFrame) = scope {
    val dsub = dsubOf(corpus, m)
    val corpusSub = pqSubrows(corpus, m, dsub).pin()
    // deterministic seeding: ksub hash-ranked subvectors per subspace...
    val seedW = Window.partitionBy(col("sub"))
      .orderBy(md5(col("vec_id").cast("string").cast("binary")), col("vec_id"))
    val seeds = corpusSub
      .withColumn("cid", row_number().over(seedW) - 1)
      .filter(col("cid") < ksub)
      .select(col("sub"), col("cid"), col("subv").as("cent"))
    // ...then one Lloyd refinement: assign to nearest seed, recentre
    def assign(cents: DataFrame): DataFrame =
      corpusSub.join(broadcast(cents), Seq("sub"))
        .withColumn("sim", dot(col("subv"), col("cent")) -
          dot(col("cent"), col("cent")) / 2) // argmax <x,c> - |c|²/2 == argmin L2
        .groupBy("vec_id", "sub")
        .agg(max(struct(col("sim"), (-col("cid")).as("ncid"))).as("best"))
        .select(col("vec_id"), col("sub"), (-col("best.ncid")).cast("int").as("code"))
    val cents1 = assign(seeds)
      .join(corpusSub, Seq("vec_id", "sub"))
      .select(col("sub"), col("code"), posexplode(col("subv")))
      .groupBy("sub", "code", "pos").agg((sum(col("col")) / count(lit(1))).as("c"))
      .groupBy("sub", "code")
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
      .select(col("sub"), col("code").as("cid"), transform(col("pc"), e => e("c")).as("cent"))
    (cents1, assign(cents1)) // the PQ-encoded corpus: m ints/vector
  }

  /** ADC scoring + exact re-rank against a (codebooks, codes) index. */
  private def pqQuery(queries: DataFrame, corpus: DataFrame, codebooks: DataFrame,
                      codes: DataFrame, m: Int, k: Int, shortlist: Int): DataFrame = {
    val dsub = dsubOf(queries, m)
    // ADC: per-query distance table over (sub, cid) — m·ksub inner products
    val dtable = pqSubrows(queries, m, dsub).withColumnRenamed("vec_id", "q_id")
      .join(broadcast(codebooks), Seq("sub"))
      .select(col("q_id"), col("sub"), col("cid").as("code"),
        dot(col("subv"), col("cent")).as("d"))
    val approxW = Window.partitionBy(col("q_id")).orderBy(col("approx_sim").desc, col("vec_id"))
    val short = codes.join(broadcast(dtable), Seq("sub", "code"))
      .groupBy("q_id", "vec_id").agg(sum(col("d")).as("approx_sim"))
      .withColumn("arank", row_number().over(approxW)).filter(col("arank") <= shortlist)

    // exact re-rank of the shortlist
    val exactW = Window.partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("vec_id"))
    short.select(col("q_id"), col("vec_id"))
      .join(corpus.select(col("vec_id"), col("vn")), "vec_id")
      .join(broadcast(queries.select(col("vec_id").as("q_id"), col("vn").as("qn"))), "q_id")
      .select(col("q_id"), col("vec_id"), dot(col("vn"), col("qn")).as("cos_sim"))
      .withColumn("rank", row_number().over(exactW).cast("long")).filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id"), col("rank"), col("cos_sim"))
  }

  /** Train the PQ index once and persist it: `indexDir/codebooks.parquet`
    * (m·ksub rows — broadcast-sized by construction) and
    * `indexDir/codes.parquet` (m ints per corpus vector — the memory-bound
    * representation a 100 TB ANN deployment stores instead of raw floats). */
  def writePqIndex(spark: SparkSession, dir: String, indexDir: String,
                   nQueries: Int = 10, m: Int = 8, ksub: Int = 16): Unit = scope {
    val corpus = pqNormalized(Tables.embeddings(spark, dir))
      .filter(col("vec_id") >= nQueries)
    val (codebooks, codes) = buildPqIndex(corpus, m, ksub)
    codebooks.write.mode("overwrite").parquet(s"$indexDir/codebooks.parquet")
    codes.write.mode("overwrite").parquet(s"$indexDir/codes.parquet")
  }

  /** Query a persisted PQ index (encode-once, query-many): identical results
    * to [[pqTopK]] with the same parameters, but the corpus-wide training +
    * encoding passes never re-run — only the code-lookup scan and the
    * shortlist re-rank touch the cluster at query time. */
  def pqTopKFromIndex(spark: SparkSession, dir: String, indexDir: String,
                      nQueries: Int = 10, k: Int = 5, m: Int = 8,
                      shortlist: Int = 64): DataFrame = {
    val emb = pqNormalized(Tables.embeddings(spark, dir))
    pqQuery(emb.filter(col("vec_id") < nQueries),
      emb.filter(col("vec_id") >= nQueries),
      spark.read.parquet(s"$indexDir/codebooks.parquet"),
      spark.read.parquet(s"$indexDir/codes.parquet"),
      m, k, shortlist)
  }

  /** Multi-probe cost model for IVF (measured; SimilaritySpec "multi-probe
    * cost model", curve in SURVEY §5). Buckets are balanced in expectation,
    * so query cost ∝ nprobe/nlist — the probed fraction IS the scanned
    * fraction of the corpus. Recall is concave in that fraction; the
    * envelope below is the MINIMUM top-5 recall measured across
    * {sf0.001, sf0.01} × {nlist 8, 16} against brute force (marginal
    * recall per probe drops past f≈0.5 — the knee). The synthetic corpus is
    * nearly unclustered (worst case for IVF); real clustered corpora sit
    * well above this envelope, so the derived nprobe is a conservative
    * upper bound for the target. */
  private[graft] val measuredRecallEnvelope: Seq[(Double, Double)] = Seq(
    0.125 -> 0.20, 0.25 -> 0.48, 0.375 -> 0.62, 0.5 -> 0.72,
    0.625 -> 0.84, 0.75 -> 0.88, 0.875 -> 0.94, 1.0 -> 1.0)

  /** Smallest nprobe whose measured-envelope recall clears `targetRecall` —
    * how a caller should size probes instead of guessing: cost scales
    * linearly with the result, recall does not. */
  def defaultNprobe(nlist: Int, targetRecall: Double = 0.85): Int = {
    val f = measuredRecallEnvelope
      .collectFirst { case (frac, r) if r >= targetRecall => frac }
      .getOrElse(1.0)
    math.min(nlist, math.max(1, math.ceil(f * nlist).toInt))
  }

  /** Measure THIS index's recall@nprobe curve on the deterministic query
    * sample (the same vec_id < nQueries workload split every operator
    * uses) — the per-index replacement for the generic
    * [[measuredRecallEnvelope]], which was measured at nlist=8 and only
    * extrapolates. One corpus-scale pass, not nlist retrieval runs:
    * brute-force the sample's true top-kMax once, look up each true
    * neighbor's bucket, rank that bucket in its query's
    * centroid-similarity probe order; recall@(p, k) is the fraction of
    * true top-k neighbors whose bucket sits within the first p probes.
    * Exact for the sample: a true top-k member inside a probed bucket
    * always survives the exact scoring pass (fewer than k candidates can
    * outrank it).
    *
    * Measured at every k in `ks` from the SAME corpus pass (the brute
    * force ranks to kMax once; per-k curves are prefix slices of that
    * ranking) — recall@nprobe generally drops as k grows, so serving
    * queries at several k need per-k rows, not a k=5 extrapolation. The
    * curve carries one row per (nprobe, k); [[indexNprobe]] reads only
    * the queried k's rows. */
  private[graft] def measureRecallCurve(rawQueries: DataFrame, bucketed: DataFrame,
                                        centroids: DataFrame,
                                        ks: Seq[Int] = Seq(1, 5, 10, 20)): DataFrame = scope {
    require(ks.nonEmpty && ks.forall(_ > 0), s"ks must be positive: $ks")
    val spark = rawQueries.sparkSession
    import spark.implicits._
    val kMax = ks.max
    val queries = rawQueries
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val tw = Window.partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("vec_id"))
    val trueTop = bucketed.crossJoin(broadcast(queries))
      .select(col("q_id"), col("vec_id"), col("bucket"),
        (dot(col("v"), col("qv")) / (col("nrm") * col("qn"))).as("cos_sim"))
      .withColumn("rnk", row_number().over(tw)).filter(col("rnk") <= kMax)
      .select(col("q_id"), col("bucket"), col("rnk"))
    val bw = Window.partitionBy(col("q_id")).orderBy(col("c_sim").desc, col("c_id"))
    val bucketRank = queries.crossJoin(broadcast(centroids))
      .withColumn("c_sim", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .select(col("q_id"), col("c_id").as("bucket"),
        row_number().over(bw).as("brank"))
    val ranked = trueTop.join(bucketRank, Seq("q_id", "bucket"))
      .select(col("brank"), col("rnk")).pin() // kMax·|sample| rows; re-used per k below
    // a true neighbor at brute-force rank r contributes to every k >= r
    val perK = ranked.crossJoin(broadcast(ks.toDF("k")))
      .filter(col("rnk") <= col("k"))
    val totals = perK.groupBy("k").agg(count(lit(1)).as("total"))
    val nlist = centroids.count().toInt
    spark.range(1, nlist + 1).select(col("id").cast("int").as("nprobe"))
      .crossJoin(broadcast(ks.toDF("kk")))
      .join(perK, perK("k") === col("kk") && col("brank") <= col("nprobe"), "left")
      .groupBy(col("nprobe"), col("kk"))
      .agg(count(col("brank")).as("hits"))
      .join(totals, col("kk") === totals("k"))
      .select(col("nprobe"),
        (col("hits").cast("double") / col("total")).as("recall"),
        col("kk").as("k"))
  }

  // ---- delivered-recall floor gates (r10, VERDICT r9 #6) -----------------
  // The approximate top-k paths used to enter the correctness gate as bare
  // rows-only dumps; these wrappers make each entry CARRY A CHECKED BOUND:
  // delivered recall@k vs the exact brute-force twin is computed inside the
  // gate run and the query THROWS if it undercuts the floor — a recall
  // regression now turns the driver gate red instead of silently shipping.

  /** One-row report (path, k, n_true, n_hit, recall, floor) with a hard
    * `require(recall >= floor)`. Recall is exact containment of the exact
    * twin's (q_id, vec_id) result set in the approximate one — the standard
    * ANN retrieval metric, not a score comparison, so ties and float noise
    * can't flap the gate. */
  private[graft] def recallFloorReport(spark: SparkSession, path: String,
                                       approx: DataFrame, exact: DataFrame,
                                       k: Int, floor: Double): DataFrame = scope {
    import spark.implicits._
    val e = exact.select(col("q_id"), col("vec_id"))
    val nTrue = e.count()
    val nHit = e.join(approx.select(col("q_id"), col("vec_id")),
      Seq("q_id", "vec_id"), "left_semi").count()
    val recall = if (nTrue == 0) 1.0 else nHit.toDouble / nTrue
    require(recall >= floor,
      f"$path delivered recall@$k $recall%.4f (hit $nHit of $nTrue) " +
        f"undercuts its floor $floor%.4f — the index/probe machinery regressed")
    Seq((path, k.toLong, nTrue, nHit, recall, floor))
      .toDF("path", "k", "n_true", "n_hit", "recall", "floor")
  }

  /** In-train IVF path (emb_ivf_topk params: nlist=8, nprobe=3): floor is
    * the published sizing envelope at the probed fraction — delivering
    * below the envelope the operator's own `defaultNprobe` sizing promises
    * means assignment/probing broke, not that the corpus got unlucky (the
    * envelope is the measured MINIMUM across SFs and nlists). */
  def ivfRecallGate(spark: SparkSession, dir: String): DataFrame = scope {
    val floor = envelopeFloor(nprobe = 3, nlist = 8)
    recallFloorReport(spark, "emb_ivf_topk", ivfTopK(spark, dir),
      cosineTopK(spark, dir), k = 5, floor = floor)
  }

  /** Persisted-index IVF serving path: floor is THIS index's own measured
    * curve value at the (nprobe, k) the serving call actually uses —
    * measureRecallCurve is exact for the query sample, so delivered recall
    * below the curve means the serving path lost or misrouted a bucket. */
  def ivfQueryRecallGate(spark: SparkSession, dir: String,
                         indexDir: String): DataFrame = scope {
    val k = 5
    val nlist = spark.read.parquet(s"$indexDir/centroids.parquet").count().toInt
    val probes = indexNprobe(spark, indexDir, nlist, targetRecall = 0.85, k)
    val floor = indexCurveRecall(spark, indexDir, probes, k)
      .map(_ - 1e-9) // identical sample: equality expected, guard FP noise
      .getOrElse(envelopeFloor(probes, nlist))
    recallFloorReport(spark, "emb_ivf_query",
      ivfTopKFromIndex(spark, dir, indexDir),
      cosineTopK(spark, dir), k, floor)
  }

  /** PQ paths (m=8, ksub=16, shortlist=64): no per-index curve exists (the
    * PQ analog of nprobe is the shortlist), so the floor is the measured
    * minimum with margin — delivered recall@5 measured 0.52-0.68 across
    * sf0.001/0.01/0.1 (r10 probe; the synthetic corpus is near-random,
    * PQ's worst case — 8 sub-codes over 64 unclustered dims is heavy
    * quantization noise, and real clustered corpora sit well above).
    * 0.40 is far above broken-machinery recall (a scrambled ADC table or
    * lost shortlist scores ~shortlist/n ≈ 0.01-0.1) without flapping on
    * corpus regeneration. */
  val PqRecallFloor = 0.40

  def pqRecallGate(spark: SparkSession, dir: String): DataFrame = scope {
    recallFloorReport(spark, "emb_pq_topk", pqTopK(spark, dir),
      cosineTopK(spark, dir), k = 5, floor = PqRecallFloor)
  }

  def pqQueryRecallGate(spark: SparkSession, dir: String,
                        indexDir: String): DataFrame = scope {
    recallFloorReport(spark, "emb_pq_query",
      pqTopKFromIndex(spark, dir, indexDir),
      cosineTopK(spark, dir), k = 5, floor = PqRecallFloor)
  }

  /** C6b recall floor (VERDICT r10 #6): `emb_lsh_auto` is the production
    * near-dup default but until r11 carried only a planted-recovery spec,
    * no in-gate floor — a bucket-pairing or sizing regression would pass the
    * driver gate silently. This entry measures delivered PAIR recall
    * against the exact cosine enumeration at gate SF (the
    * lshEmpiricalRecall instrument, 500-2000 vectors → ≤2M exact pairs)
    * and THROWS under the floor, turning the driver gate red exactly like
    * the C7 family's emb_ivf_recall/emb_pq_recall.
    *
    * Floor discipline mirrors ivfQueryRecallGate: derived from the
    * scheme's OWN sizing promise, not a hand-picked constant — the
    * occupancy-pinned (bits, bands) target at-threshold recall
    * lshTheoreticalRecall(t, bits, bands) (0.911 at the gate's t=0.4),
    * ×0.85 margin because the theoretical number is the AT-threshold
    * worst case while the measured set includes pairs just above it
    * (delivered: 0.864 at sf0.001, 0.983 at sf0.01 — r11 probe). A broken
    * bucket pairing scores ~0; a mis-sized scheme undershoots the margin. */
  def lshRecallGate(spark: SparkSession, dir: String,
                    threshold: Double = 0.4): DataFrame = scope {
    import spark.implicits._
    val (nTrue, found, recall, bits, bands) =
      lshEmpiricalRecall(spark, dir, threshold)
    val floor = 0.85 * lshTheoreticalRecall(threshold, bits, bands)
    require(recall >= floor,
      f"emb_lsh_auto delivered pair recall $recall%.4f (hit $found of $nTrue " +
        f"true pairs at cos>=$threshold) undercuts its sizing floor $floor%.4f " +
        f"(bits=$bits bands=$bands) — the bucket pairing or sizing regressed")
    Seq(("emb_lsh_auto", threshold, nTrue, found, recall, floor,
        bits.toLong, bands.toLong))
      .toDF("path", "threshold", "n_true", "n_hit", "recall", "floor",
        "bits", "bands")
  }

  /** C6d (r12, the r11 verdict's open scale unknown): the `maxBands` cap's
    * measured recall cost, as a maxBands × corpus-size sweep — turning the
    * past-the-cap envelope from a formula bound into stated numbers.
    *
    * The instrument's lever: a pair's collision probability under a
    * (bits, bands) sign-LSH scheme depends ONLY on the pair's cosine and
    * the scheme — never on corpus size (n enters solely through
    * [[lshAutoParams]]' occupancy-pinned choice of bits). So the recall a
    * 10⁹-vector deployment would deliver is measurable on the gate corpus:
    * apply the AT-SCALE (bits, bands) to the gate corpus's exact true-pair
    * set and count collisions. What the simulation cannot import from the
    * real deployment is its cosine DISTRIBUTION above the threshold (a
    * corpus whose true pairs hug the threshold does worse than one whose
    * pairs sit high) — the per-radius honesty caveat phashRecallCurve
    * documents, carried here: the at-threshold theory column is the
    * distribution-free floor, the measured column is this corpus's read.
    *
    * For each simulated scale n ∈ {gate n, 2²⁰, 2³⁰} and cap ∈ {16, 32,
    * 64, 128}: bits from occupancy pinning at n, effective bands =
    * min(cap, bands needed for `targetRecall`), theoretical at-threshold
    * recall of that scheme, and measured recall over the exact enumeration.
    * Signatures are computed once per scale at the LARGEST effective band
    * count (per VECTOR, n·bits·bands planes — never per pair) and every
    * smaller cap reads as a prefix: first_hit ≤ bands(cap) ⟺ the capped
    * scheme finds the pair (the same prefix property lshPairsOf's
    * first-collision dedup rides). O(n²·dim) exact enumeration — a
    * gate/rehearsal instrument like [[lshEmpiricalRecall]], not a
    * production operator. */
  def lshBandCurve(spark: SparkSession, dir: String,
                   threshold: Double = 0.4,
                   targetRecall: Double = 0.9,
                   targetOccupancy: Int = 64,
                   caps: Seq[Int] = Seq(16, 32, 64, 128),
                   simScales: Seq[Long] = Seq(0L, 1L << 20, 1L << 30)): DataFrame = scope {
    import spark.implicits._
    val embN = withNorm(Tables.embeddings(spark, dir))
    val n = math.max(1L, embN.count())
    val par = spark.sparkContext.defaultParallelism
    val a = embN.repartition(par)
      .select(col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
    val b = embN
      .select(col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    val truePairs = a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos_sim",
        dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos_sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos_sim"))
      .pin() // ≤ true-pair rows (ids+cos); re-read per scale
    val rows = simScales.map(s => if (s == 0L) n else s).distinct.flatMap { simN =>
      val (bits, needed) = lshAutoParams(simN, threshold, targetRecall,
        targetOccupancy, Int.MaxValue)
      val capEff = caps.map(c => c -> math.min(c, needed))
      val bandsMax = capEff.map(_._2).max
      // the corpus lands as ONE parquet file at gate scales — repartition
      // so the n·bits·bands signature pass (the instrument's heaviest
      // per-row loop at the 2^30-simulated schemes) uses every core
      // instead of one scan task (same discipline as the pair product
      // above; the shuffle moves only the small corpus once)
      val sigs = withBandSigs(embN.repartition(par), bits, bandsMax)
        .select(col("vec_id"), col("bsigs"))
      // per-pair collision probability at the pair's ACTUAL cosine —
      // the distribution-aware expectation that adjudicates the measured
      // count (at 2^30-sized schemes the expected hit count on a gate
      // corpus is fractional; measured 0 must read as CONSISTENT, not
      // broken, and a bucket-pairing bug still shows as measured ≪ expected)
      val pBand = pow(
        lit(1.0) - acos(least(lit(1.0), greatest(lit(-1.0), col("cos_sim"))))
          / lit(math.Pi), lit(bits))
      val marked = truePairs
        .join(sigs.select(col("vec_id").as("id_a"), col("bsigs").as("sa")), "id_a")
        .join(sigs.select(col("vec_id").as("id_b"), col("bsigs").as("sb")), "id_b")
        .select(
          array_position(
            zip_with(col("sa"), col("sb"), (x, y) => x === y), true)
            .as("first_hit"),
          pBand.as("p_band"))
      // each pair's term is quantized to DECIMAL before the sum (the
      // pageRankOf discipline): an exact decimal sum is summation-order-free,
      // so the expectation does not depend on the partitioning
      def exactSum(term: Column): Column = coalesce(
        sum(term.cast(org.apache.spark.sql.types.DecimalType(28, 18))).cast("double"), lit(0.0))
      val aggRow = marked.agg(count(lit(1)).as("n_true"),
        capEff.flatMap { case (c, eff) =>
          val pHit = lit(1.0) - pow(lit(1.0) - col("p_band"), lit(eff))
          Seq(
            count(when(col("first_hit").between(1, eff), lit(1))).as(s"f_$c"),
            exactSum(pHit).as(s"e_$c"),
            exactSum(pHit * (lit(1.0) - pHit)).as(s"v_$c"))
        }: _*).head()
      val nTrue = aggRow.getAs[Long]("n_true")
      capEff.map { case (c, eff) =>
        val found = aggRow.getAs[Long](s"f_$c")
        (simN, bits.toLong, c.toLong, eff.toLong, needed.toLong,
          lshTheoreticalRecall(threshold, bits, eff),
          nTrue, found,
          if (nTrue == 0) 1.0 else found.toDouble / nTrue,
          aggRow.getAs[Double](s"e_$c"),
          math.sqrt(aggRow.getAs[Double](s"v_$c")))
      }
    }
    rows.toDF("sim_n", "bits", "max_bands", "bands", "bands_needed",
      "recall_theory", "n_true", "n_found", "recall_measured",
      "n_expected", "sd_expected")
  }

  /** Envelope recall at the probed fraction (conservative published floor). */
  private def envelopeFloor(nprobe: Int, nlist: Int): Double = {
    val f = nprobe.toDouble / nlist
    measuredRecallEnvelope.takeWhile(_._1 <= f + 1e-9).lastOption
      .map(_._2).getOrElse(measuredRecallEnvelope.head._2)
  }

  /** The persisted curve's recall at exactly (nprobe, k), if measured. */
  private def indexCurveRecall(spark: SparkSession, indexDir: String,
                               nprobe: Int, k: Int): Option[Double] =
    StoreFiles.optional(spark, s"$indexDir/recall.parquet")
      .filter(_.columns.contains("k"))
      .flatMap(_.filter(col("k") === k && col("nprobe") === nprobe)
        .collect().headOption.map(_.getAs[Double]("recall")))

  /** Per-JVM cache of the curve-derived probe decision, keyed by
    * (recall.parquet path, its version, targetRecall, k). The decision is
    * INDEX metadata — a serving session resolves it once per index
    * version, not with a recall.parquet read + collect on every query call
    * (that per-call overhead was ~3 extra Spark jobs per query, the bulk of
    * the r7 emb_ivf_query slowdown vs the fixed-nprobe r6 path). The
    * version ([[StoreFiles.version]], one stat per call) makes an index
    * rewritten at the same path re-resolve. */
  private val nprobeCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Option[Long], Double, Int), Int]()

  /** PQ geometry (m = number of sub-quantizers) per persisted index
    * version, keyed like [[nprobeCache]] on (codebooks path, version): r13,
    * the `codebooks.agg(max(sub)).head()` lookup was one full driver job
    * per SERVE call (~40 ms of pure latency at gate SF) re-proving a
    * constant of the index. */
  private val pqMCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Option[Long]), Integer]()
  private def indexPqM(spark: SparkSession, indexDir: String,
                       codebooks: DataFrame): Int = {
    val path = s"$indexDir/codebooks.parquet"
    pqMCache.computeIfAbsent((path, StoreFiles.version(spark, path)),
      _ => codebooks.agg(max(col("sub"))).head().getInt(0) + 1).intValue()
  }

  /** nprobe for a PERSISTED index at `targetRecall`: the smallest value
    * whose measured curve (`indexDir/recall.parquet`, written at build
    * time) clears the target AT THE QUERY'S k — the curve carries per-k
    * rows ([[measureRecallCurve]]); recall@nprobe drops as k grows, so a
    * k=5 row must not size probes for a k=50 query. Falls back to the
    * generic [[defaultNprobe]] envelope when no curve exists (indexes
    * persisted before measurement existed) or when no row was measured at
    * the query's k. */
  private def indexNprobe(spark: SparkSession, indexDir: String, nlist: => Int,
                          targetRecall: Double, k: Int): Int = {
    val path = s"$indexDir/recall.parquet"
    val version = StoreFiles.version(spark, path)
    nprobeCache.computeIfAbsent((path, version, targetRecall, k), _ =>
      if (version.isEmpty) defaultNprobe(nlist, targetRecall)
      else indexNprobeUncached(spark, path, nlist, targetRecall, k))
  }

  private def indexNprobeUncached(spark: SparkSession, path: String, nlist: Int,
                                  targetRecall: Double, k: Int): Int = {
    val curve = spark.read.parquet(path)
    if (!curve.columns.contains("k")) return defaultNprobe(nlist, targetRecall)
    val atK = curve.filter(col("k") === k)
      .orderBy("nprobe").collect() // ≤ nlist rows — bounded
    if (atK.isEmpty) return defaultNprobe(nlist, targetRecall)
    atK
      .find(_.getAs[Double]("recall") >= targetRecall)
      .map(_.getAs[Int]("nprobe"))
      .getOrElse(nlist)
  }

  /** C7: IVF-style ANN — deterministic coarse quantizer (first `nlist`
    * corpus vectors as centroids, broadcast), corpus bucketed by nearest
    * centroid, queries probe `nprobe` nearest buckets only. Size `nprobe`
    * with [[defaultNprobe]] from a recall target. */
  def ivfTopK(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5,
              nlist: Int = 8, nprobe: Int = 3, lloydIters: Int = 1): DataFrame = scope {
    val emb = withNorm(Tables.embeddings(spark, dir))
    val corpus = emb.filter(col("vec_id") >= nQueries)
    val (centroids, bucketed) = buildIvfIndex(corpus, nlist, lloydIters)
    ivfQuery(emb.filter(col("vec_id") < nQueries), bucketed, centroids, k, nprobe)
  }

  /** Train the IVF coarse quantizer and bucket the corpus: returns
    * (centroids (c_id, cv, cn), bucketed (bucket, vec_id, v, nrm)). */
  private[graft] def buildIvfIndex(corpus: DataFrame, nlist: Int,
                                   lloydIters: Int,
                                   seedsOpt: Option[DataFrame] = None): (DataFrame, DataFrame) = scope {
    // assignment of every corpus vector: MAP-ONLY in-row argmax against the
    // centroid table aggregated to one broadcast row (TopCosBucketsExpr).
    // The declarative form (crossJoin → n·k rows → per-vector max-struct
    // aggregate) exchanged a corpus×k row set per Lloyd pass — at the
    // auto-√n sizing regime that is an O(n^1.5)-row shuffle PER ITERATION;
    // the kernel keeps the n·k flops inside one compiled loop per row and
    // assignment costs zero exchanges. Bucket choice is bit-identical
    // (Double.compare ordering, ties to the smaller c_id).
    def assign(cents: DataFrame): DataFrame = {
      val centsRow = cents
        .agg(collect_list(struct(col("c_id"), col("cv"), col("cn"))).as("cents"))
      corpus.crossJoin(broadcast(centsRow))
        .select(graft.functions.VectorExpressions
            .topCosBuckets(col("v"), col("nrm"), col("cents"), 1)
            .getItem(0).as("bucket"),
          col("vec_id"), col("v"), col("nrm"))
    }

    // deterministic seeding (hash-spread sample), then Lloyd refinement:
    // new centroid = element-wise mean of the bucket's vectors (posexplode →
    // (bucket, dim) partial sums — one small shuffle per iteration)
    var centroids = seedsOpt.getOrElse(corpus
      .orderBy(md5(col("vec_id").cast("string").cast("binary"))).limit(nlist)
      .select(col("vec_id").as("c_id"), col("v").as("cv"), col("nrm").as("cn")))
    var iter = 0
    while (iter < lloydIters) {
      val means = assign(centroids)
        .select(col("bucket"), posexplode(col("v")))
        .groupBy("bucket", "pos")
        .agg((sum(col("col")) / count(lit(1))).as("m"))
        .groupBy("bucket")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("bucket").as("c_id"), transform(col("pm"), e => e("m")).as("cv"))
        .withColumn("cn", norm(col("cv")))
      // k-row table: truncate the per-iteration lineage (same pattern as
      // star-CC rounds) so iteration i never re-executes iterations 0..i-1
      centroids = means.pin(replacing = centroids)
      iter += 1
    }
    (centroids, assign(centroids))
  }

  /** C32: corpus clustering for curation — the IVF coarse quantizer
    * ([[buildIvfIndex]], Lloyd's k-means under cosine) exposed as a
    * first-class operator: every vector labeled with its cluster. The
    * heavy step per iteration is one broadcast-centroid pass + one
    * (bucket, dim) partial-agg shuffle of ≤ k·dims keys — no pairwise
    * work at any corpus size. Rows-only (Lloyd's is not SQL-expressible);
    * the spec checks recovery of the planted `label` structure. */
  def embClusters(spark: SparkSession, dir: String, k: Int = 10,
                  lloydIters: Int = 4): DataFrame = scope {
    // cached: the seeding sample + every Lloyd pass re-reads the corpus;
    // the returned assignment re-scans parquet once.
    val corpus = withNorm(Tables.embeddings(spark, dir)).cached()
    buildIvfIndex(corpus, k, lloydIters, Some(seedsFor(corpus, k)))._2
      .select(col("vec_id"), col("bucket").as("cluster"))
  }

  /** C120 (r12): per-label CENTROID-DISTANCE quality audit — the
    * embedding-space read on label hygiene a curation pipeline runs over
    * annotated/clustered corpora: a vector far from its own label's
    * center is the mislabeled/noisy candidate (the distance-based cousin
    * of emb_semdedup's too-close read). ALL-INTEGER arithmetic (the
    * qa_ks discipline — no float aggregate to drift between engines):
    * coordinates quantize to micro-units (round(x·10⁶) as BIGINT), the
    * per-dimension centroid is TWICE the median read off two explicit
    * order statistics (rows (n+1)÷2 and (n+2)÷2 of the sorted dimension
    * — the odd case reads one row twice, so c2 = 2·median exactly, no
    * interpolation arithmetic), and dist2q = Σ_dim (2·xᵢ − c2)² is an
    * exact BIGINT in 4·micro² units (≤ dim·(4·10⁶)² ≈ 10¹⁵ ≪ 2⁶³). The
    * outlier verdict is integer rank logic: top 5% (ceil) within label
    * by (dist2q desc, vec_id).
    *
    * Scale: one posexplode census (n·dim fixed-width rows), per-(label,
    * dim) sort windows whose partitions are corpus-height but
    * dimension-count-many (never one global window), a dim-sized
    * centroid table the census join co-shuffles against (AQE broadcasts
    * it while small), and a label-partitioned rank window over ≤n rows.
    * No driver collect, no pair product. */
  def centroidQuality(spark: SparkSession, dir: String,
                      outlierFrac: Double = 0.05): DataFrame = scope {
    import org.apache.spark.sql.expressions.Window
    // ONE materialized census: both the centroid pass and the distance
    // join read it — without the checkpoint Spark re-runs the parquet
    // scan + posexplode + quantization twice per call
    val x = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("d", "xf")))
      .select(col("vec_id"), col("label"), col("d"),
        round(col("xf").cast("double") * lit(1e6), 0).cast("long").as("xi")).pin()
    val wd = Window.partitionBy(col("label"), col("d")).orderBy(col("xi"))
    val cent = x
      .withColumn("rn", row_number().over(wd))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy(col("label"), col("d"))))
      .groupBy("label", "d")
      .agg((sum(when(col("rn") === expr("(n + 1) DIV 2"), col("xi"))
          .otherwise(lit(0L))) +
        sum(when(col("rn") === expr("(n + 2) DIV 2"), col("xi"))
          .otherwise(lit(0L)))).as("c2"))
    val dist = x.join(cent, Seq("label", "d"))
      .groupBy("vec_id", "label")
      .agg(sum((col("xi") * 2 - col("c2")) * (col("xi") * 2 - col("c2")))
        .cast("long").as("dist2q"))
    val w = Window.partitionBy(col("label"))
      .orderBy(col("dist2q").desc, col("vec_id"))
    val out = dist
      .withColumn("r", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("label"))))
      .select(col("vec_id"), col("label"), col("dist2q"),
        (col("r") <= ceil(col("n") * lit(outlierFrac))).as("is_outlier"))
      .pin() // ≤ n rows; the scope then frees the n·dim census
    out
  }

  /** C121 (r12): Maximal-Marginal-Relevance subset selection (Carbonell &
    * Goldstein, SIGIR 1998, public) — the representative-yet-diverse
    * pick a curation pipeline uses to choose k exemplars from a corpus
    * (eval-set seeding, few-shot pools, annotation batches): greedily
    * take argmax of λ·rel(v) − (1−λ)·max_{s∈selected} cos(v, s), where
    * relevance here is centrality (cosine to the corpus centroid — the
    * QUERY-FREE corpus-summarization form of MMR; [[mmrTopK]] (C86) is
    * the per-query re-ranking form, whose greedy rounds advance all
    * queries at once — here there is ONE selection over the corpus, so
    * the driver-solve shape wins). λ=1 degenerates to plain top-k by
    * centrality (spec-pinned); lower λ forces the picks apart.
    *
    * Scale (the farthestSeeds/PLANS driver-solve discipline): relevance
    * is one map-only pass (dot kernel against the broadcast centroid
    * literal), candidates are the top k·oversample by (rel desc, vec_id)
    * — ONE TakeOrdered job, never a corpus collect — and the greedy runs
    * driver-side on that bounded set (O(k²·oversample·dim) flops,
    * HashSet bookkeeping). The head bound is the standard production MMR
    * candidate-generation contract: score ≤ λ·rel, so only items whose
    * relevance reaches within (1−λ)/λ of the running best can ever win —
    * at the default λ the oversampled head covers them; the knob is the
    * recall lever and the PICKED set is always exact-greedy over the
    * candidates. Ties (score, then vec_id) are deterministic. */
  def mmrSelect(spark: SparkSession, dir: String, k: Int = 16,
                lambdaRel: Double = 0.7, oversample: Int = 16): DataFrame = {
    import spark.implicits._
    val embN = withNorm(Tables.embeddings(spark, dir))
    // corpus centroid over MICRO-QUANTIZED coordinates (the C120
    // discipline): per-dim sums are exact order-free BIGINTs, so the
    // centroid — and with it the candidate head and every tie — is
    // run-deterministic (a float avg() merges partials in shuffle-arrival
    // order and can drift an ulp between runs, flipping head boundaries)
    val centArr = embN
      .select(posexplode(col("v")).as(Seq("d", "x")))
      .groupBy("d").agg(
        sum(round(col("x") * lit(1e6), 0).cast("long")).as("sx"),
        count(lit(1)).as("n"))
      .orderBy("d").collect()
      .map(r => r.getAs[Long]("sx").toDouble / (r.getAs[Long]("n") * 1e6))
    if (centArr.isEmpty) // empty corpus
      return Seq.empty[(Int, Long, Double, Double)]
        .toDF("rank", "vec_id", "rel", "score")
    val cn = math.sqrt(centArr.map(x => x * x).sum)
    // centered corpus (all per-dim means 0): centrality is undefined —
    // rel reads 0 for every vector and the selection degrades to pure
    // diversity with deterministic id ties, never NaN ordering
    val relExpr =
      if (cn == 0.0) lit(0.0)
      else dot(col("v"), array(centArr.toIndexedSeq.map(lit(_)): _*)) /
        (col("nrm") * lit(cn))
    val cand = embN
      .withColumn("rel", relExpr)
      .orderBy(col("rel").desc, col("vec_id"))
      .limit(k * oversample)
      .select(col("vec_id"), col("v"), col("nrm"), col("rel")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2),
        r.getDouble(3)))
    def cos(a: Array[Double], na: Double, b: Array[Double], nb: Double): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s / (na * nb)
    }
    val chosen = scala.collection.mutable.ArrayBuffer[(Long, Double, Double)]()
    val chosenIds = scala.collection.mutable.HashSet.empty[Long]
    // maxSim(candidate -> closest already-chosen cosine), refreshed
    // incrementally: O(|cand|·dim) per pick, the inherent MMR cost. The
    // penalty is the SIGNED max cosine (the documented formula): an
    // anti-correlated candidate earns a diversity bonus, it is not
    // clamped to parity with an orthogonal one. The -1.0 sentinel is
    // never read (the first pick uses the empty-set 0 branch; the
    // refresh loop then touches every unchosen candidate).
    val maxSim = scala.collection.mutable.Map(
      cand.iterator.map(c => c._1 -> -1.0).toSeq: _*)
    while (chosen.length < math.min(k, cand.length)) {
      val next = cand.iterator.filterNot(c => chosenIds(c._1)).maxBy { c =>
        val pen = if (chosen.isEmpty) 0.0 else maxSim(c._1)
        (lambdaRel * c._4 - (1 - lambdaRel) * pen, -c._1)
      }
      val pen = if (chosen.isEmpty) 0.0 else maxSim(next._1)
      chosen += ((next._1, next._4, lambdaRel * next._4 - (1 - lambdaRel) * pen))
      chosenIds += next._1
      cand.foreach { c =>
        if (!chosenIds(c._1)) {
          val s = cos(c._2, c._3, next._2, next._3)
          if (s > maxSim(c._1)) maxSim(c._1) = s
        }
      }
    }
    chosen.zipWithIndex
      .map { case ((id, rel, score), i) => (i + 1, id, rel, score) }
      .toSeq.toDF("rank", "vec_id", "rel", "score")
  }

  /** Deterministic farthest-point seeding, k-means‖-style: ONE cluster pass
    * draws a hash-spread candidate sample (k·`oversample` vectors — bounded,
    * driver-safe), then the greedy k-center sweep runs driver-side on the
    * candidates: start from the hash-smallest, repeatedly take the candidate
    * whose best cosine to any chosen seed is LOWEST. For well-separated
    * groups whose members reach the sample this provably lands one seed per
    * group, where a bare hash-spread head can collide two seeds in one group
    * and merge clusters. Cost: one TakeOrdered job + O(k²·oversample·dim)
    * driver flops for the best-cos refresh (the inherent k-center work;
    * selection bookkeeping is HashSet-backed, so no quadratic id scans on
    * top) — not k sequential cluster-wide passes. Past k ≈ 10⁴, move to
    * k-means‖ oversampling rounds instead. */
  private[graft] def farthestSeeds(corpus: DataFrame, k: Int,
                                   oversample: Int = 16): DataFrame = {
    val spark = corpus.sparkSession
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("c_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cv",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)),
      org.apache.spark.sql.types.StructField("cn",
        org.apache.spark.sql.types.DoubleType)))
    def seedDf(rows: Seq[org.apache.spark.sql.Row]): DataFrame =
      spark.createDataFrame(rows.asJava, schema)
    val cand = corpus
      .orderBy(md5(col("vec_id").cast("string").cast("binary")))
      .limit(k * oversample)
      .select(col("vec_id"), col("v"), col("nrm")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
    if (cand.isEmpty) return seedDf(Seq.empty) // empty corpus -> no seeds
    def cos(a: (Long, Array[Double], Double), b: (Long, Array[Double], Double)): Double = {
      var s = 0.0; var i = 0
      while (i < a._2.length) { s += a._2(i) * b._2(i); i += 1 }
      s / (a._3 * b._3)
    }
    val chosen = scala.collection.mutable.ArrayBuffer(cand.head)
    val chosenIds = scala.collection.mutable.HashSet(cand.head._1)
    val best = scala.collection.mutable.Map( // candidate -> closest-seed cos
      cand.iterator.map(c => c._1 -> cos(c, cand.head)).toSeq: _*)
    while (chosen.length < math.min(k, cand.length)) {
      // O(1) membership probe — the selection sweep stays O(|cand|) per
      // round; the cos refresh below (O(|cand|·dim)) is the inherent
      // k-center cost and the true bound at k ≈ 10⁴
      val next = cand.iterator.filterNot(c => chosenIds(c._1))
        .minBy(c => (best(c._1), c._1))
      chosen += next
      chosenIds += next._1
      cand.foreach(c => best(c._1) = math.max(best(c._1), cos(c, next)))
    }
    seedDf(chosen.toSeq.map(c =>
      org.apache.spark.sql.Row(c._1, c._2.toSeq, c._3)))
  }

  /** Deterministic k-means‖ seeding (Bahmani et al. 2012, "Scalable
    * k-means++", public) — the large-k replacement for [[farthestSeeds]],
    * whose driver-side k-center sweep is O(k²·oversample·dim) flops and
    * stops being viable past k ≈ 10⁴ (the auto-√n nlist regime reaches
    * that at ~10⁸ vectors). k-means‖ replaces the k sequential choices
    * with `rounds` CORPUS-PARALLEL passes: each round samples every vector
    * independently with probability min(1, ℓ·d(v)/φ) — d(v) the cosine
    * dissimilarity to the current seed set, φ its corpus sum, ℓ =
    * `oversample`·k — so the candidate set grows by ~ℓ per round and the
    * whole draw is O(rounds) passes regardless of k.
    *
    * Derandomized exactly like the paper's implementation folklore: the
    * per-(vector, round) uniform comes from xxhash64, so re-runs (and any
    * partitioning) produce the identical seed set. The final reduction
    * weights each candidate by its corpus assignment count (one bounded
    * ≤|C|-key aggregate) and runs the deterministic WEIGHTED greedy
    * k-center sweep on the ≤ 1+ℓ·rounds candidates driver-side — the same
    * shape as [[farthestSeeds]] but over a candidate set sized by ℓ·rounds,
    * not by corpus hash order. Every corpus pass is the map-only
    * [[graft.functions.TopCosBucketsExpr]] assignment (zero exchanges
    * beyond the φ scalar and the weight aggregate). */
  private[graft] def kmeansParSeeds(corpus: DataFrame, k: Int,
                                    rounds: Int = 5,
                                    oversample: Int = 2): DataFrame = scope {
    val spark = corpus.sparkSession
    val ell = math.max(1, oversample * k)
    def centsRowOf(cents: DataFrame) =
      cents.agg(collect_list(struct(col("c_id"), col("cv"), col("cn"))).as("cents"))
    // deterministic first seed: hash-smallest vector (same rule as the
    // farthest-point sweep's candidate head)
    var seeds = corpus
      .orderBy(md5(col("vec_id").cast("string").cast("binary"))).limit(1)
      .select(col("vec_id").as("c_id"), col("v").as("cv"), col("nrm").as("cn")).pin()
    var r = 0
    while (r < rounds) {
      // d(v) = 1 − cos(v, nearest seed): nearest id via the map-only kernel,
      // sim recomputed through one broadcast join against the seed table
      val withCost = corpus.crossJoin(broadcast(centsRowOf(seeds)))
        .select(col("vec_id"), col("v"), col("nrm"),
          graft.functions.VectorExpressions
            .topCosBuckets(col("v"), col("nrm"), col("cents"), 1)
            .getItem(0).as("c_id"))
        .join(broadcast(seeds), "c_id")
        .select(col("vec_id"), col("v"), col("nrm"),
          (lit(1.0) - dot(col("v"), col("cv")) / (col("nrm") * col("cn")))
            .as("cost"))
      val phiRow = withCost.agg(sum(col("cost")).as("phi")).head()
      val phi = if (phiRow.isNullAt(0)) 0.0 else phiRow.getDouble(0)
      if (phi > 0.0) {
        // u(v, r) ∈ [0,1) from the top 53 hash bits — deterministic draw
        val u = shiftrightunsigned(
          xxhash64(col("vec_id"), lit(r)), 11).cast("double") / lit(9007199254740992.0)
        val drawn = withCost
          .filter(u < least(lit(1.0), lit(ell.toDouble) * col("cost") / lit(phi)))
          .select(col("vec_id").as("c_id"), col("v").as("cv"), col("nrm").as("cn"))
        seeds = seeds.unionByName(drawn).dropDuplicates("c_id").pin(replacing = seeds)
      }
      r += 1
    }
    // candidate weights: corpus points per nearest candidate (bounded keys)
    val weights = corpus.crossJoin(broadcast(centsRowOf(seeds)))
      .select(graft.functions.VectorExpressions
        .topCosBuckets(col("v"), col("nrm"), col("cents"), 1)
        .getItem(0).as("c_id"))
      .groupBy("c_id").agg(count(lit(1)).as("w"))
    val cand = seeds.join(weights, Seq("c_id"), "left")
      .select(col("c_id"), col("cv"), col("cn"), coalesce(col("w"), lit(0L)).as("w"))
      .collect()
      .map(row => (row.getLong(0), row.getSeq[Double](1).toArray,
        row.getDouble(2), row.getLong(3)))
    if (cand.isEmpty) return seeds.limit(0)
    // deterministic weighted greedy reduction to k: start from the
    // heaviest candidate (ties to smaller id), then repeatedly take the
    // candidate maximizing w·(1 − best cos to any chosen seed)
    def cos(a: Array[Double], an: Double, b: Array[Double], bn: Double): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s / (an * bn)
    }
    val first = cand.minBy(c => (-c._4, c._1))
    val chosen = scala.collection.mutable.ArrayBuffer(first)
    val chosenIds = scala.collection.mutable.HashSet(first._1)
    val best = scala.collection.mutable.Map(
      cand.iterator.map(c => c._1 -> cos(c._2, c._3, first._2, first._3)).toSeq: _*)
    while (chosen.length < math.min(k, cand.length)) {
      val next = cand.iterator.filterNot(c => chosenIds(c._1))
        .maxBy(c => (c._4 * (1.0 - best(c._1)), -c._1))
      chosen += next
      chosenIds += next._1
      cand.foreach(c => best(c._1) = math.max(best(c._1), cos(c._2, c._3, next._2, next._3)))
    }
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("c_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cv",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)),
      org.apache.spark.sql.types.StructField("cn",
        org.apache.spark.sql.types.DoubleType)))
    spark.createDataFrame(chosen.toSeq.map(c =>
      org.apache.spark.sql.Row(c._1, c._2.toSeq, c._3)).asJava, schema)
  }

  /** Seeding dispatch: the greedy k-center sweep ([[farthestSeeds]]) up to
    * `farthestCap` seeds — past that its O(k²·oversample·dim) driver cost
    * dominates and the corpus-parallel [[kmeansParSeeds]] takes over. Both
    * are deterministic, so the switch only moves WHICH deterministic seed
    * set a large-k build starts Lloyd from. */
  private[graft] def seedsFor(corpus: DataFrame, k: Int,
                              farthestCap: Int = 512): DataFrame =
    if (k <= farthestCap) farthestSeeds(corpus, k)
    else kmeansParSeeds(corpus, k)

  /** Probe + exact-score stage shared by [[ivfTopK]] and the persisted-index
    * path: each query scores only the vectors of its `nprobe` nearest
    * buckets. */
  private def ivfQuery(rawQueries: DataFrame, bucketed: DataFrame,
                       centroids: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val queries = rawQueries
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val probeW = Window.partitionBy(col("q_id")).orderBy(col("c_sim").desc, col("c_id"))
    val probes = queries.crossJoin(broadcast(centroids))
      .withColumn("c_sim", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rnk", row_number().over(probeW)).filter(col("rnk") <= nprobe)
      .select(col("q_id"), col("qv"), col("qn"), col("c_id").as("bucket"))

    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("vec_id"))
    bucketed.join(broadcast(probes), "bucket")
      .select(col("q_id"), col("vec_id"),
        (dot(col("v"), col("qv")) / (col("nrm") * col("qn"))).as("cos_sim"))
      .withColumn("rank", row_number().over(w).cast("long")).filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id"), col("rank"), col("cos_sim"))
  }

  /** Train the IVF index once and persist it: `indexDir/centroids.parquet`
    * (nlist rows, broadcast-sized) and `indexDir/assignments.parquet`
    * (2 longs per corpus vector — vectors stay in the embeddings table).
    * Encode-once / query-many: at 100 TB the training + assignment passes
    * run at ingest, not per query session. */
  def writeIvfIndex(spark: SparkSession, dir: String, indexDir: String,
                    nQueries: Int = 10, nlist: Int = 8, lloydIters: Int = 1): Unit =
    writeIvfIndexFrom(Tables.embeddings(spark, dir), indexDir,
      nQueries, nlist, lloydIters)

  /** [[writeIvfIndex]] over an explicit (raw-shaped) embedding table — the
    * form the ingest gate builds its base index from. */
  private[graft] def writeIvfIndexFrom(raw: DataFrame, indexDir: String,
                                       nQueries: Int, nlist: Int,
                                       lloydIters: Int): Unit = scope {
    val emb = withNorm(raw)
    // cache the corpus for the build (r12, the embClusters discipline —
    // seeding + each Lloyd pass + the final assignment re-read it; without
    // the cache the parquet scan + norm ran ~4× per build), and
    // materialize the final assignment ONCE: it feeds both the
    // assignments write and the recall-curve scoring pass below, which as
    // lazy plans each re-ran the whole assignment.
    val corpus = emb.filter(col("vec_id") >= nQueries).cached()
    val (centroids, bucketedLazy) = buildIvfIndex(corpus, nlist, lloydIters)
    val bucketed = bucketedLazy.pin()
    centroids.write.mode("overwrite").parquet(s"$indexDir/centroids.parquet")
    bucketed.select(col("bucket"), col("vec_id"))
      .write.mode("overwrite").parquet(s"$indexDir/assignments.parquet")
    // the index's own recall curve, measured at build time — a few cheap
    // sample queries against the freshly-bucketed corpus, persisted so
    // query sessions size nprobe from THIS index, not an extrapolation
    measureRecallCurve(emb.filter(col("vec_id") < nQueries), bucketed, centroids)
      .write.mode("overwrite").parquet(s"$indexDir/recall.parquet")
  }

  /** C71: corpus-growth ingest for the persisted IVF index — the daily
    * operation the encode-once story was missing: new vectors are assigned
    * against the STORED centroids (one map-only [[TopCosBucketsExpr]] pass,
    * bit-identical bucket choice to the build-time assignment) and APPENDED
    * to `assignments.parquet`, so every `*FromIndex` serving path sees the
    * grown corpus without re-clustering anything. Re-submitted vec_ids are
    * anti-joined out first (retry idempotence — the dead-letter/dup-spans
    * lesson; the anti-join is against ALL ids ever assigned, so a
    * tombstoned-but-uncompacted id can't be resurrected by ingest —
    * deletes are final until [[ivfCompact]]), and the batch is
    * materialized BEFORE the append so the read-own-writes window can't
    * double it. Per-ingest cost: O(batch)
    * kernel flops + one distinct-id scan of the assignment table (ids
    * only, never vectors).
    *
    * Centroids go stale as the distribution drifts — the trade every
    * streaming ANN system makes; rebuild cadence is a policy knob, and the
    * exhaustive-probe serving twin stays EXACT regardless (bucketing never
    * changes scores, only which buckets are probed — the gate proves the
    * grown index serves the full corpus bit-equal to brute force). */
  def ivfIngest(spark: SparkSession, batch: DataFrame,
                indexDir: String): DataFrame = scope {
    val centroids = spark.read.parquet(s"$indexDir/centroids.parquet")
    val centsRow = centroids
      .agg(collect_list(struct(col("c_id"), col("cv"), col("cn"))).as("cents"))
    val existing = StoreFiles.table(spark, s"$indexDir/assignments.parquet")
      .select(col("vec_id")).distinct()
    val assigned = withNorm(batch)
      .join(existing, Seq("vec_id"), "left_anti")
      .crossJoin(broadcast(centsRow))
      .select(graft.functions.VectorExpressions
          .topCosBuckets(col("v"), col("nrm"), col("cents"), 1)
          .getItem(0).as("bucket"),
        col("vec_id")).pin()
    assigned.write.mode("append").parquet(s"$indexDir/assignments.parquet")
    assigned
  }

  /** C74: deletions for the persisted IVF index — the retention/takedown
    * half of the C71 lifecycle (build → ingest → delete → compact):
    * deleted vec_ids append to `indexDir/tombstones.parquet` and every
    * serving read anti-joins them out ([[liveAssignments]]); the
    * assignment table itself is untouched, so a delete is O(ids), never a
    * corpus rewrite — the LSM-style mask-now-rewrite-later trade every
    * mutable ANN store makes. Idempotent: ids already tombstoned (or never
    * indexed) are dropped, so a retried delete appends nothing. Deletes
    * are final until [[ivfCompact]] folds them in — a pre-compact
    * re-ingest of a deleted id is a no-op by the ingest's own
    * already-indexed anti-join (documented there); post-compact the id is
    * genuinely gone and may be re-ingested. Returns the NEWLY tombstoned
    * ids. */
  def ivfDelete(spark: SparkSession, ids: DataFrame,
                indexDir: String): DataFrame = scope {
    val present = StoreFiles.table(spark, s"$indexDir/assignments.parquet")
      .select(col("vec_id")).distinct()
    val newTombs = ids.select(col("vec_id")).distinct()
      .join(present, Seq("vec_id"), "left_semi")
      .join(readTombstones(spark, indexDir), Seq("vec_id"), "left_anti")
      .pin() // materialize before the append (no read-own-writes)
    newTombs.write.mode("append").parquet(s"$indexDir/tombstones.parquet")
    newTombs
  }

  /** Fold tombstones into the assignment table: swap it to live rows only
    * ([[StoreFiles.replace]]) and clear the tombstone set — after this,
    * serving reads carry no anti-join and a formerly-deleted id may be
    * re-ingested. The live view is checkpointed because its count is read
    * after the swap. Returns the number of rows dropped. */
  def ivfCompact(spark: SparkSession, indexDir: String): Long = scope {
    val path = s"$indexDir/assignments.parquet"
    val before = StoreFiles.table(spark, path).count()
    val live = liveAssignments(spark, indexDir).pin()
    StoreFiles.replace(spark, path)(live.write.parquet(_))
    StoreFiles.remove(spark, s"$indexDir/tombstones.parquet")
    before - live.count()
  }

  /** The tombstone set, or an empty (vec_id) table when none was ever
    * written. */
  private def readTombstones(spark: SparkSession, indexDir: String): DataFrame =
    StoreFiles.optional(spark, s"$indexDir/tombstones.parquet")
      .fold(spark.range(0).select(col("id").as("vec_id")))(_.select(col("vec_id")))

  /** The serving view of the assignment table: tombstoned ids masked out.
    * The tombstone side is deletion-sized — Spark broadcasts the anti-join
    * build side while small, exactly the wanted shape. */
  private def liveAssignments(spark: SparkSession, indexDir: String): DataFrame =
    StoreFiles.table(spark, s"$indexDir/assignments.parquet")
      .join(readTombstones(spark, indexDir), Seq("vec_id"), "left_anti")

  /** Query a persisted IVF index: identical results to [[ivfTopK]] with the
    * same parameters. The assignment table joins back to the embeddings
    * table on vec_id (the corpus partitioning key) for the exact scoring
    * pass — only probed buckets are scored; tombstoned ids
    * ([[ivfDelete]]) are masked out of every serve.
    *
    * `nprobe` defaults to the index's OWN measured recall curve: pass ≤0
    * (the default) and the probe count is the smallest clearing
    * `targetRecall` on the `recall.parquet` written at build time
    * ([[measureRecallCurve]]) — nlist read from the index itself, so a
    * caller can't mis-size probes against an index built with a different
    * nlist. Pass an explicit positive nprobe to override.
    *
    * Bench note (r8): vs the pre-curve fixed nprobe=3, the curve picks 5-6
    * at sf0.1 — the measured curves show nprobe=3 only delivered 0.54-0.68
    * recall against the 0.85 target, so ~1.5-2× scoring work here is the
    * cost of actually MEETING the target, not a regression. The metadata
    * reads are cached per index ([[nprobeCache]]); only scoring scales. */
  def ivfTopKFromIndex(spark: SparkSession, dir: String, indexDir: String,
                       nQueries: Int = 10, k: Int = 5, nprobe: Int = 0,
                       targetRecall: Double = 0.85): DataFrame = {
    val centroids = spark.read.parquet(s"$indexDir/centroids.parquet")
    val probes =
      if (nprobe > 0) nprobe
      else indexNprobe(spark, indexDir, centroids.count().toInt, targetRecall, k)
    val emb = withNorm(Tables.embeddings(spark, dir))
    val bucketed = liveAssignments(spark, indexDir)
      .join(emb.filter(col("vec_id") >= nQueries), Seq("vec_id"))
      .select(col("bucket"), col("vec_id"), col("v"), col("nrm"))
    ivfQuery(emb.filter(col("vec_id") < nQueries), bucketed, centroids, k, probes)
  }

  // ---- IVF-PQ: coarse quantizer + product-quantized RESIDUALS, float
  // re-rank — the memory-bound probe stage of the public FAISS IVF-PQ
  // layout: the corpus-scale scan reads m sub-codes per vector, scored
  // per query by an asymmetric-distance table, and floats are touched
  // only for the shortlist.

  /** Residuals of the bucketed corpus against its own normalized bucket
    * centroid (vn − cb) — what the PQ codebooks encode. Encoding residuals
    * instead of raw vectors is the standard IVF-PQ refinement: residual
    * magnitudes are smaller than vector magnitudes, so the same codebook
    * budget quantizes them with less error. */
  private def ivfResiduals(bucketed: DataFrame, centroids: DataFrame): DataFrame =
    bucketed.join(broadcast(centroids), col("bucket") === col("c_id"))
      .select(col("bucket"), col("vec_id"),
        zip_with(transform(col("v"), x => x / col("nrm")),
          transform(col("cv"), c => c / col("cn")), (a, b) => a - b).as("vn"))

  /** Train the IVF-PQ index: IVF-bucket the corpus ([[buildIvfIndex]]),
    * PQ-train/encode the residuals ([[buildPqIndex]] — codebooks shared
    * across buckets, as FAISS shares one PQ across all inverted lists).
    * Returns (centroids, codebooks, codes) with codes
    * (bucket, vec_id, codes tinyint[m]) — m BYTES per corpus vector, the
    * densest serving representation here. */
  private[graft] def buildIvfPqIndex(corpus: DataFrame, nlist: Int, m: Int,
                                     ksub: Int, lloydIters: Int): (DataFrame, DataFrame, DataFrame) = scope {
    require(ksub <= 128, s"ksub=$ksub must fit a signed byte code (≤128)")
    val (centroids, bucketed) = buildIvfIndex(corpus, nlist, lloydIters)
    val resid = ivfResiduals(bucketed, centroids).pin()
    val (codebooks, codeRows) = buildPqIndex(resid, m, ksub)
    val codes = codeRows
      .groupBy("vec_id")
      .agg(array_sort(collect_list(struct(col("sub"), col("code")))).as("sc"))
      .select(col("vec_id"),
        transform(col("sc"), e => e("code").cast("tinyint")).as("codes"))
      .join(resid.select(col("bucket"), col("vec_id")), "vec_id")
      .select(col("bucket"), col("vec_id"), col("codes"))
    (centroids, codebooks, codes)
  }

  /** Probe + ADC-score + float-re-rank stage shared by [[ivfPqTopK]] and the
    * persisted-index path. Per query: the ADC distance table (m·ksub inner
    * products against the broadcast codebooks) rides the broadcast probe
    * side; the one corpus-scale pass explodes the PROBED buckets' code
    * arrays and partial-aggregates the m table lookups per (query, vector):
    * approx cos ≈ dot(qn̂, cb) + Σ_sub dtable[sub][code] (both vectors
    * normalized, so the dot IS the cosine). The top k·rerank shortlist is
    * re-scored exactly against the float corpus — returned cos_sim values
    * are exact; PQ error only affects which near-ties make the shortlist. */
  private def ivfPqQuery(rawQueries: DataFrame, codes: DataFrame,
                         codebooks: DataFrame, centroids: DataFrame,
                         corpusFloats: DataFrame, m: Int, k: Int, nprobe: Int,
                         rerank: Int): DataFrame = {
    val queries = rawQueries
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"),
        transform(col("v"), x => x / col("nrm")).as("vn"))
    // ADC table: per (q_id, sub, code), dot of the query's normalized
    // subvector with the residual centroid — broadcast-sized by construction
    val dsub = dsubOf(queries, m)
    val dtable = pqSubrows(queries.withColumnRenamed("q_id", "vec_id"), m, dsub)
      .withColumnRenamed("vec_id", "q_id")
      .join(broadcast(codebooks), Seq("sub"))
      .select(col("q_id"), col("sub"), col("cid").as("code"),
        dot(col("subv"), col("cent")).as("d"))
    val probeW = Window.partitionBy(col("q_id")).orderBy(col("c_sim").desc, col("c_id"))
    val probes = queries.crossJoin(broadcast(centroids))
      .withColumn("c_sim", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rnk", row_number().over(probeW)).filter(col("rnk") <= nprobe)
      .select(col("q_id"), col("qv"), col("qn"), col("c_sim").as("c_dot"),
        col("c_id").as("bucket"))
    // corpus-scale pass: probed code arrays explode to m lookup rows each;
    // the (q_id, vec_id) partial agg is map-side combinable
    val aw = Window.partitionBy(col("q_id")).orderBy(col("approx_sim").desc, col("vec_id"))
    val shortlist = codes.join(broadcast(probes), "bucket")
      .select(col("q_id"), col("vec_id"), col("qv"), col("qn"), col("c_dot"),
        posexplode(col("codes")).as(Seq("sub", "code")))
      .join(broadcast(dtable), Seq("q_id", "sub", "code"))
      .groupBy("q_id", "vec_id")
      .agg((any_value(col("c_dot")) + sum(col("d"))).as("approx_sim"),
        any_value(col("qv")).as("qv"), any_value(col("qn")).as("qn"))
      .withColumn("rnk", row_number().over(aw)).filter(col("rnk") <= k.toLong * rerank)
      .select(col("q_id"), col("vec_id"), col("qv"), col("qn"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("vec_id"))
    corpusFloats.join(broadcast(shortlist), "vec_id")
      .select(col("q_id"), col("vec_id"),
        (dot(col("v"), col("qv")) / (col("nrm") * col("qn"))).as("cos_sim"))
      .withColumn("rank", row_number().over(w).cast("long")).filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id"), col("rank"), col("cos_sim"))
  }

  /** IVF-PQ ANN end-to-end (train + encode + query in one call — the
    * benchable batch form; deployments persist via [[writeIvfPqIndex]]).
    * With nprobe = nlist and a shortlist covering the corpus the re-rank
    * IS brute force (the `emb_ivfpq_exhaustive` oracle twin). */
  def ivfPqTopK(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5,
                nlist: Int = 8, nprobe: Int = 3, m: Int = 8, ksub: Int = 16,
                rerank: Int = 4, lloydIters: Int = 1): DataFrame = scope {
    val emb = withNorm(Tables.embeddings(spark, dir))
    val corpus = emb.filter(col("vec_id") >= nQueries)
    val (centroids, codebooks, codes) = buildIvfPqIndex(corpus, nlist, m, ksub, lloydIters)
    ivfPqQuery(emb.filter(col("vec_id") < nQueries), codes, codebooks, centroids,
      corpus, m, k, nprobe, rerank)
  }

  /** Train + encode the IVF-PQ index once and persist it:
    * `centroids.parquet` (nlist rows), `codebooks.parquet` (m·ksub rows),
    * `codes.parquet` (bucket, vec_id, codes tinyint[m] — m bytes/vector,
    * the memory-bound serving table). Encode-once/query-many. */
  def writeIvfPqIndex(spark: SparkSession, dir: String, indexDir: String,
                      nQueries: Int = 10, nlist: Int = 8, m: Int = 8,
                      ksub: Int = 16, lloydIters: Int = 1): Unit = scope {
    val emb = withNorm(Tables.embeddings(spark, dir))
    val corpus = emb.filter(col("vec_id") >= nQueries)
    val (centroids, codebooks, codes) = buildIvfPqIndex(corpus, nlist, m, ksub, lloydIters)
    centroids.write.mode("overwrite").parquet(s"$indexDir/centroids.parquet")
    codebooks.write.mode("overwrite").parquet(s"$indexDir/codebooks.parquet")
    codes.write.mode("overwrite").parquet(s"$indexDir/codes.parquet")
    measureRecallCurve(emb.filter(col("vec_id") < nQueries),
      codes.select(col("bucket"), col("vec_id")).join(corpus, "vec_id"),
      centroids)
      .write.mode("overwrite").parquet(s"$indexDir/recall.parquet")
  }

  /** Query a persisted IVF-PQ index: float vectors are read only for the
    * queries and the re-rank shortlist; the corpus-scale scan is the m-byte
    * code table. `nprobe` ≤ 0 → the measured per-index curve / cost model,
    * as in [[ivfTopKFromIndex]]. `m` is read from the codebooks table (the
    * index's own geometry, not a caller guess). */
  def ivfPqTopKFromIndex(spark: SparkSession, dir: String, indexDir: String,
                         nQueries: Int = 10, k: Int = 5, nprobe: Int = 0,
                         rerank: Int = 4, targetRecall: Double = 0.85): DataFrame = {
    val centroids = spark.read.parquet(s"$indexDir/centroids.parquet")
    val codebooks = spark.read.parquet(s"$indexDir/codebooks.parquet")
    val m = indexPqM(spark, indexDir, codebooks)
    val probes =
      if (nprobe > 0) nprobe
      else indexNprobe(spark, indexDir, centroids.count().toInt, targetRecall, k)
    val codes = spark.read.parquet(s"$indexDir/codes.parquet")
    val emb = withNorm(Tables.embeddings(spark, dir))
    ivfPqQuery(emb.filter(col("vec_id") < nQueries), codes, codebooks, centroids,
      emb.filter(col("vec_id") >= nQueries), m, k, probes, rerank)
  }

  // ---- serving layout: the float corpus laid out so the shortlist re-rank
  // join becomes row-group SKIPS at the scan

  /** Write the re-rank float corpus in SERVING layout: sorted by vec_id in
    * bounded row groups. The quantized/PQ probe stages hand the re-rank a
    * k·rerank-bounded shortlist of vec_ids; over a layout like this the
    * shortlist lookup's pushed id predicate lets parquet footer min/max
    * skip every row group holding no shortlist id — the PLANS.md claim
    * that the broadcast re-rank join "can turn into row-group skips",
    * measured for real in LayoutSpec. `rowGroupBytes` trades pruning
    * granularity against footer overhead, exactly as in
    * [[graft.sources.Layout.writeZOrdered]]; `maxRecordsPerFile` (> 0)
    * additionally caps rows per FILE — parquet's writer only re-checks the
    * block budget every few hundred rows, so at TEST-scale corpora the
    * file cap is what actually yields pruning-grade granularity (at real
    * scale 128 MB groups hold ~400k vectors and the budget alone is
    * fine: a 50-id shortlist then survives in ≤50 of corpus/400k groups). */
  def writeFloatServingLayout(spark: SparkSession, dir: String, path: String,
                              nFiles: Int = 2,
                              rowGroupBytes: Long = 16 * 1024,
                              maxRecordsPerFile: Long = 0L): Unit = {
    val prev = spark.conf.getOption("spark.sql.files.maxRecordsPerFile")
    if (maxRecordsPerFile > 0)
      spark.conf.set("spark.sql.files.maxRecordsPerFile", maxRecordsPerFile)
    try
      Tables.embeddings(spark, dir)
        .repartitionByRange(nFiles, col("vec_id"))
        .sortWithinPartitions("vec_id")
        .write.mode("overwrite")
        .option("parquet.block.size", rowGroupBytes)
        .parquet(path)
    finally if (maxRecordsPerFile > 0) prev match {
      case Some(v) => spark.conf.set("spark.sql.files.maxRecordsPerFile", v)
      case None => spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    }
  }

  /** Shortlist float lookup against the serving layout: the bounded id set
    * goes down as a scan predicate. Raise
    * `spark.sql.parquet.pushdown.inFilterThreshold` to the shortlist bound
    * (k·rerank, a few hundred) so the In predicate reaches the footers as
    * or-of-equals — above the threshold Spark pushes only the washed-out
    * [min,max] envelope, which an ANN shortlist (ids scattered across the
    * corpus) never prunes with. */
  def shortlistFloats(spark: SparkSession, path: String,
                      ids: Seq[Long]): DataFrame =
    spark.read.parquet(path).filter(col("vec_id").isin(ids: _*))

  /** C39: random-projection dimensionality reduction (Achlioptas/JL):
    * project each embedding onto `outDim` pseudo-random Rademacher (±1)
    * directions, scaled 1/√outDim so squared distances are preserved in
    * expectation. The projection "matrix" is never materialized — entry
    * sign(i,j) derives from xxhash64(i·outDim+j), so every executor
    * computes the same matrix with zero coordination, the map stage is
    * embarrassingly parallel, and re-ingesting tomorrow's corpus projects
    * identically. The cheap front half of an ANN pipeline at 100 TB:
    * 64-d → 16-d cuts every downstream distance 4×. */
  def randomProject(spark: SparkSession, dir: String, outDim: Int = 16): DataFrame =
    randomProjectOf(Tables.embeddings(spark, dir), outDim)

  private[graft] def randomProjectOf(emb: DataFrame, outDim: Int): DataFrame = {
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    val v = toDouble(col("embedding"))
    val projected = array((0 until outDim).map { j =>
      aggregate(
        zip_with(v, sequence(lit(0), size(v) - 1), (x, i) =>
          x * when(pmod(xxhash64(i * outDim + j), lit(2)) === 0, lit(1.0)).otherwise(lit(-1.0))),
        lit(0.0), (acc, t) => acc + t) * scale
    }: _*)
    // a zero-length embedding projects to the zero vector — the unguarded
    // path yields all-nulls (sequence(0,-1) = [0,-1] pads zip_with with null)
    val zero = array(Seq.fill(outDim)(lit(0.0)): _*)
    emb.select(col("vec_id"),
      when(size(v) > 0, projected).otherwise(zero).as("projected"), col("label"))
  }

  /** C69: PCA over the embedding corpus — the classical Gram-matrix route
    * (the same decomposition Spark MLlib's RowMatrix uses, public): the
    * d×d covariance accumulates distributively, the tiny eigenproblem is
    * solved on the driver, and the projection is a map-only pass with the
    * components inlined as plan literals. Where [[randomProject]] (JL)
    * preserves distances obliviously, PCA picks the variance-optimal
    * subspace — the standard choice before IVF/PQ when a training pass is
    * affordable (FAISS's OPQ/PCA pre-transforms are this shape).
    *
    * Scale shape: per-dim means are one posexplode + ≤dim-key partial agg;
    * the centered Gram Σ(v−μ)(v−μ)ᵀ is a d²-key partial agg over the
    * in-row (i, j) pair fan-out — the shuffle ships ≤d² doubles per
    * partition no matter the corpus size. (Past ~10⁹ rows the d² row
    * fan-out itself is the cost; an accumulating per-partition pass would
    * replace it — documented, not needed at current scale.) The
    * eigensolve is cyclic Jacobi on the d×d matrix driver-side —
    * deterministic, microseconds at d = 64. Projection: r codegen'd
    * vec_dot columns against component literals; sign fixed so each
    * component's largest-|coordinate| entry is positive (eigenvector sign
    * is arbitrary — pinning it makes re-runs and engine ports bit-stable).
    * Output preserves `label` so downstream ANN specs can re-use planted
    * structure. */
  def embPca(spark: SparkSession, dir: String, outDim: Int = 8): DataFrame =
    embPcaOf(Tables.embeddings(spark, dir), outDim)

  private[graft] def embPcaOf(emb: DataFrame, outDim: Int): DataFrame = scope {
    val spark = emb.sparkSession
    val e = emb.select(col("vec_id"), toDouble(col("embedding")).as("v"),
      col("label")).filter(size(col("v")) > 0).cached()
    val muRows = e.select(posexplode(col("v")).as(Seq("i", "x")))
      .groupBy("i").agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
      .orderBy("i").collect()
    if (muRows.isEmpty)
      return e.select(col("vec_id"),
        col("v").as("projected"), col("label")).limit(0)
    val d = muRows.length
    val n = muRows.head.getAs[Long]("n").toDouble
    val mu = muRows.map(r => r.getAs[Double]("s") / n)
    val muLit = org.apache.spark.sql.functions.typedlit(mu.toSeq)
    // centered Gram: in-row pair fan-out, ≤d² shuffle keys
    val g = e
      .select(posexplode(col("v")).as(Seq("i", "xi")), col("v"))
      .select(col("i"),
        (col("xi") - element_at(muLit, col("i") + 1)).as("ci"),
        posexplode(col("v")).as(Seq("j", "xj")))
      .select(col("i"), col("j"),
        (col("ci") * (col("xj") - element_at(muLit, col("j") + 1))).as("p"))
      .groupBy("i", "j").agg(sum(col("p")).as("g"))
      .collect()
    val gram = Array.ofDim[Double](d, d)
    g.foreach(r => gram(r.getAs[Int]("i"))(r.getAs[Int]("j")) =
      r.getAs[Double]("g") / n)
    val (eigVals, eigVecs) = jacobiEigen(gram)
    val r = math.min(outDim, d)
    val order = eigVals.indices.sortBy(i => (-eigVals(i), i)).take(r)
    val comps = order.map { idx =>
      val w = eigVecs.map(_(idx))
      // deterministic sign: the largest-|entry| coordinate is positive
      val m = w.indices.maxBy(i => (math.abs(w(i)), -i))
      if (w(m) < 0) w.map(x => -x) else w
    }
    val proj = array(comps.map { w =>
      val wl = org.apache.spark.sql.functions.typedlit(w.toSeq)
      val bias = w.indices.iterator.map(i => w(i) * mu(i)).sum
      dot(col("v"), wl) - lit(bias)
    }: _*)
    e.select(col("vec_id"), proj.as("projected"), col("label"))
      .pin() // materialize before the cache is released
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix — returns
    * (eigenvalues, eigenvectors-as-columns). Deterministic sweep order,
    * converges quadratically; d ≤ a few hundred is driver-trivial. */
  private def jacobiEigen(a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 64 && off > 1e-12) {
      off = 0.0
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          off = math.max(off, math.abs(a(p)(q)))
          if (math.abs(a(p)(q)) > 1e-14) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
            // theta = 0 (equal diagonal) needs the full 45° rotation —
            // signum(0) = 0 would make the rotation a no-op and stall
            val t = if (theta == 0.0) 1.0
              else math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var i = 0
            while (i < d) {
              val aip = a(i)(p); val aiq = a(i)(q)
              a(i)(p) = c * aip - s * aiq
              a(i)(q) = s * aip + c * aiq
              i += 1
            }
            i = 0
            while (i < d) {
              val api = a(p)(i); val aqi = a(q)(i)
              a(p)(i) = c * api - s * aqi
              a(q)(i) = s * api + c * aqi
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = c * vip - s * viq
              v(i)(q) = s * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  /** C44: int8 linear quantization of the embedding corpus — the
    * storage/serving compression step before ANN (4× smaller vectors,
    * reconstruction `lo + (code+128)/255·(hi−lo)`). Per-dimension min/max
    * comes from one posexplode + partial agg on ≤dim keys (a bounded
    * shuffle regardless of corpus size — the same shape as emb_clusters'
    * centroid update); the encode itself is a map-side expression after an
    * AQE-broadcast join of the dim-stats table. Codes are exact integer
    * outputs of double arithmetic shared with the SQL oracle (round is
    * half-up on the always-positive scaled value in both engines).
    * Zero-width dims (constant value corpus-wide) encode 0. */
  def quantizeInt8(spark: SparkSession, dir: String): DataFrame =
    quantizeInt8Of(Tables.embeddings(spark, dir))

  private[graft] def quantizeInt8Of(emb: DataFrame): DataFrame = {
    val e = emb
      .select(col("vec_id"),
        posexplode(toDouble(col("embedding"))).as(Seq("dim_idx", "v")))
    val stats = e.groupBy("dim_idx").agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
    e.join(stats, "dim_idx")
      .withColumn("code",
        when(col("hi") === col("lo"), lit(0L))
          .otherwise((round((col("v") - col("lo")) / (col("hi") - col("lo")) * 255, 0)
            - 128).cast("long")))
      .select(col("vec_id"), col("dim_idx").cast("long").as("dim_idx"), col("code"))
  }

  // ---- C46: quantized IVF serving path (IVF + int8 codes, float re-rank) --

  /** Per-dim (lo, hi) of the corpus folded into one broadcastable row of two
    * arrays: posexplode + partial agg on ≤dim keys (the [[quantizeInt8Of]]
    * stats shuffle — bounded at any corpus size), then a dim-row fold. */
  private def dimStatsArrays(corpus: DataFrame): DataFrame =
    corpus.select(posexplode(col("v")).as(Seq("dim_idx", "x")))
      .groupBy("dim_idx").agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
      .groupBy()
      .agg(array_sort(collect_list(struct(col("dim_idx"), col("lo"), col("hi")))).as("s"))
      .select(transform(col("s"), e => e("lo")).as("lo"),
        transform(col("s"), e => e("hi")).as("hi"))

  /** Encode the IVF-bucketed corpus to int8 codes (same arithmetic as
    * [[quantizeInt8Of]], so the two operators agree code-for-code) plus the
    * reconstructed-vector norm the approximate cosine divides by. Map-only
    * after the 1-row dim-stats broadcast; float vectors do NOT survive into
    * the output — the serving table is (bucket, vec_id, codes, rnrm),
    * ~4× smaller than the float corpus. */
  private def encodeSq8(bucketed: DataFrame, statsArr: DataFrame): DataFrame = {
    val lh = zip_with(col("lo"), col("hi"), (l, h) => struct(l.as("lo"), h.as("hi")))
    bucketed.crossJoin(broadcast(statsArr))
      .withColumn("lh", lh)
      .withColumn("codes", zip_with(col("v"), col("lh"), (x, s) =>
        when(s("hi") === s("lo"), lit(0L))
          .otherwise(round((x - s("lo")) / (s("hi") - s("lo")) * 255, 0) - 128)
          .cast("tinyint")))
      .withColumn("rnrm", sqrt(aggregate(
        zip_with(col("codes"), col("lh"), (c, s) =>
          s("lo") + (c + lit(128.0)) / 255.0 * (s("hi") - s("lo"))),
        lit(0.0), (acc, r) => acc + r * r)))
      .select(col("bucket"), col("vec_id"), col("codes"), col("rnrm"))
  }

  /** Probe + quantized-score + float-re-rank stage shared by [[ivfQTopK]] and
    * the persisted-index path. The corpus-scale pass scores int8 CODES, never
    * float vectors: dot(q, reconstruct(codes)) folds to
    * `cq + Σ codes[d]·w[d]` with per-query constants
    * `w[d] = q[d]·(hi[d]−lo[d])/255` and
    * `cq = Σ q[d]·lo[d] + 128·Σ w[d]` attached to the broadcast probe side —
    * constant dims (hi = lo) contribute exactly through `cq`, no special
    * case. The top `k·rerank` shortlist per query (a few hundred rows) is
    * then re-scored EXACTLY against the float corpus via a broadcast join on
    * vec_id, so returned cos_sim values are exact and quantization error can
    * only affect which near-ties enter the shortlist. */
  private def ivfQQuery(rawQueries: DataFrame, codes: DataFrame,
                        centroids: DataFrame, statsArr: DataFrame,
                        corpusFloats: DataFrame, k: Int, nprobe: Int,
                        rerank: Int): DataFrame = {
    val queries = rawQueries
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
      .crossJoin(broadcast(statsArr))
      .withColumn("w", zip_with(col("qv"),
        zip_with(col("lo"), col("hi"), (l, h) => h - l), (q, d) => q * d / 255.0))
      .withColumn("cq",
        aggregate(zip_with(col("qv"), col("lo"), (q, l) => q * l),
          lit(0.0), (acc, x) => acc + x)
          + aggregate(col("w"), lit(0.0), (acc, x) => acc + x) * 128.0)
      .drop("lo", "hi")

    val probeW = Window.partitionBy(col("q_id")).orderBy(col("c_sim").desc, col("c_id"))
    val probes = queries.crossJoin(broadcast(centroids))
      .withColumn("c_sim", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rnk", row_number().over(probeW)).filter(col("rnk") <= nprobe)
      .select(col("q_id"), col("qv"), col("qn"), col("w"), col("cq"),
        col("c_id").as("bucket"))

    // the one corpus-scale pass: codes ⋈ broadcast probes. A reconstructed
    // norm of 0 would make approx NaN (NaN sorts above every real value in a
    // DESC window) — pin it to the bottom instead; re-rank never sees it.
    val aw = Window.partitionBy(col("q_id")).orderBy(col("approx_sim").desc, col("vec_id"))
    val shortlist = codes.join(broadcast(probes), "bucket")
      .select(col("q_id"), col("vec_id"), col("qv"), col("qn"),
        when(col("rnrm") > 0.0,
          (col("cq") + aggregate(
            zip_with(col("codes"), col("w"), (c, wd) => c * wd),
            lit(0.0), (acc, x) => acc + x)) / (col("qn") * col("rnrm")))
          .otherwise(lit(-2.0)).as("approx_sim"))
      .withColumn("rnk", row_number().over(aw)).filter(col("rnk") <= k.toLong * rerank)
      .select(col("q_id"), col("vec_id"), col("qv"), col("qn"))

    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("vec_id"))
    corpusFloats.join(broadcast(shortlist), "vec_id")
      .select(col("q_id"), col("vec_id"),
        (dot(col("v"), col("qv")) / (col("nrm") * col("qn"))).as("cos_sim"))
      .withColumn("rank", row_number().over(w).cast("long")).filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id"), col("rank"), col("cos_sim"))
  }

  /** C46: quantized ANN serving — the standard large-corpus layout (an
    * IVF coarse quantizer over int8-compressed vectors with a float
    * re-rank — the IVF+SQ8 shape of the public FAISS literature).
    * At 100 TB the probe stage streams the 4×-smaller codes table and the
    * float corpus is touched only for the per-query shortlist (broadcast
    * semi-join on vec_id → dynamic pruning can skip row groups), so serving
    * I/O is dominated by codes, not vectors. */
  def ivfQTopK(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5,
               nlist: Int = 8, nprobe: Int = 3, rerank: Int = 4,
               lloydIters: Int = 1): DataFrame = scope {
    val emb = withNorm(Tables.embeddings(spark, dir))
    val corpus = emb.filter(col("vec_id") >= nQueries)
    val (centroids, bucketed) = buildIvfIndex(corpus, nlist, lloydIters)
    val statsArr = dimStatsArrays(corpus)
    ivfQQuery(emb.filter(col("vec_id") < nQueries),
      encodeSq8(bucketed, statsArr), centroids, statsArr, corpus, k, nprobe, rerank)
  }

  /** Train + encode the quantized IVF index once and persist it:
    * `centroids.parquet` (nlist rows), `dimstats.parquet` (1 row of lo/hi
    * arrays), `codes.parquet` (bucket, vec_id, codes int8[], rnrm — the
    * compact serving table). Encode-once/query-many, like [[writeIvfIndex]],
    * but the query path no longer joins the full float corpus. */
  def writeIvfQIndex(spark: SparkSession, dir: String, indexDir: String,
                     nQueries: Int = 10, nlist: Int = 8, lloydIters: Int = 1): Unit = scope {
    val emb = withNorm(Tables.embeddings(spark, dir))
    val corpus = emb.filter(col("vec_id") >= nQueries)
    val (centroids, bucketed) = buildIvfIndex(corpus, nlist, lloydIters)
    val statsArr = dimStatsArrays(corpus)
    centroids.write.mode("overwrite").parquet(s"$indexDir/centroids.parquet")
    statsArr.write.mode("overwrite").parquet(s"$indexDir/dimstats.parquet")
    encodeSq8(bucketed, statsArr)
      .write.mode("overwrite").parquet(s"$indexDir/codes.parquet")
    measureRecallCurve(emb.filter(col("vec_id") < nQueries), bucketed, centroids)
      .write.mode("overwrite").parquet(s"$indexDir/recall.parquet")
  }

  /** Query a persisted quantized IVF index. Float vectors are read ONLY for
    * the queries and the re-rank shortlist; the corpus-scale scan is
    * `codes.parquet`. `nprobe` ≤ 0 → the index's measured recall curve at
    * `targetRecall`, as in [[ivfTopKFromIndex]]. */
  def ivfQTopKFromIndex(spark: SparkSession, dir: String, indexDir: String,
                        nQueries: Int = 10, k: Int = 5, nprobe: Int = 0,
                        rerank: Int = 4, targetRecall: Double = 0.85): DataFrame = {
    val centroids = spark.read.parquet(s"$indexDir/centroids.parquet")
    val probes =
      if (nprobe > 0) nprobe
      else indexNprobe(spark, indexDir, centroids.count().toInt, targetRecall, k)
    val statsArr = spark.read.parquet(s"$indexDir/dimstats.parquet")
    val codes = spark.read.parquet(s"$indexDir/codes.parquet")
    val emb = withNorm(Tables.embeddings(spark, dir))
    ivfQQuery(emb.filter(col("vec_id") < nQueries), codes, centroids, statsArr,
      emb.filter(col("vec_id") >= nQueries), k, probes, rerank)
  }

  /** C58: SemDeDup (Abbas et al. 2023, public) — semantic deduplication:
    * k-means-cluster the embedding corpus, find within-cluster cosine
    * near-duplicates, and collapse each duplicate group to one canonical
    * vector. [[embKeepList]] with LEARNED blocking instead of the
    * generator's labels — the real-corpus path, where no label column
    * exists and LSH's random planes would be the alternative.
    *
    * Scale: clustering cost is [[embClusters]]'s (broadcast-centroid passes,
    * no pairwise work); within-cluster pair volume is Σ (cluster size)² —
    * the paper's regime sizes k ∝ √n so expected cluster size stays
    * O(√n); a duplicate group never leaves its cluster, so the block-pair
    * kernel finds the groups inside each cluster (union-find over its
    * pairs) and no connected-components rounds run. Rows-only (Lloyd's is not SQL-expressible); the
    * spec plants duplicate groups across well-separated clusters and checks
    * collapse + canonical choice. */
  def semDedup(spark: SparkSession, dir: String, k: Int = 10,
               threshold: Double = 0.9, lloydIters: Int = 4): DataFrame = scope {
    semDedupOf(withNorm(Tables.embeddings(spark, dir)).cached(), k, threshold, lloydIters)
  }

  /** [[semDedup]] over an already-normed (and ideally cached) corpus — the
    * shared-read form [[embD4]] composes so the corpus parquet is scanned
    * once across the dedup AND re-cluster stages. */
  private[graft] def semDedupOf(corpus: DataFrame, k: Int,
                                threshold: Double, lloydIters: Int): DataFrame = {
    val assign = buildIvfIndex(corpus, k, lloydIters, Some(seedsFor(corpus, k)))._2
      .select(col("vec_id"), col("bucket").as("cluster"))
    // every duplicate pair lies inside one cluster, so its duplicate groups
    // (connected components) are found there too
    val groups = BlockPairs.components(corpus.join(assign, "vec_id"), Seq("cluster"),
      "vec_id", BlockPairs.Cosine("v", "nrm"), threshold)
    assign
      .join(groups.select(col("id").as("vec_id"), col("root")), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("root"), col("vec_id")).as("canonical_id"))
      .withColumn("keep", col("vec_id") === col("canonical_id"))
  }

  /** C56: brute-force maximum-inner-product top-k (MIPS) — the retrieval
    * primitive for un-normalized embedding families (recommendation scores,
    * reward-model logits) where magnitude carries signal and cosine's norm
    * division would erase it. Same broadcast-queries + WindowGroupLimit
    * shape as [[cosineTopK]]; zero vectors stay in the corpus (ip = 0 is a
    * valid, well-ordered score — no NaN hazard, unlike cosine).
    *
    * Scale path: MIPS reduces to cosine search by norm augmentation
    * (Bachrach et al., RecSys 2014): append sqrt(M² − |v|²) to each corpus
    * vector (M = max corpus norm) and 0 to each query — inner-product order
    * then equals cosine order in d+1 dims, so the IVF/PQ bucketed indexes
    * here serve MIPS unchanged on the augmented vectors. */
  def mipsTopK(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val corpus = emb.filter(col("vec_id") >= nQueries)
    val scored = corpus.crossJoin(broadcast(queries))
      .select(col("q_id"), col("vec_id"), dot(col("v"), col("qv")).as("ip"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("ip").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long")).filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id"), col("rank"), col("ip"))
  }

  /** C56b: MIPS through the bucketed IVF machinery via the norm-augmentation
    * reduction described on [[mipsTopK]] — the 100 TB path: corpus vectors
    * are augmented once (one extra dimension), k-means + probing run
    * unchanged on the augmented space, and the exact inner product on the
    * original vectors re-ranks the probed buckets. With nprobe = nlist the
    * result provably equals [[mipsTopK]] (every bucket probed, exact
    * re-score) — that twin is the oracle gate for this path. */
  def mipsIvfTopK(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5,
                  nlist: Int = 8, nprobe: Int = 3, lloydIters: Int = 1): DataFrame = scope {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), toDouble(col("embedding")).as("v0"))
      .withColumn("n0", norm(col("v0")))
    val rawCorpus = emb.filter(col("vec_id") >= nQueries)
    val maxNrm = rawCorpus.agg(max(col("n0")).as("mx"))
    // augmented corpus: |v̂| = M for every row, so cosine order in d+1 dims
    // IS inner-product order in d dims; greatest(…, 0) guards the max-norm
    // row's FP-negative radicand
    val corpus = rawCorpus.crossJoin(broadcast(maxNrm))
      .withColumn("v", concat(col("v0"),
        array(sqrt(greatest(col("mx") * col("mx") - col("n0") * col("n0"), lit(0.0))))))
      .withColumn("nrm", norm(col("v")))
      .filter(col("nrm") > 0.0)
      .select(col("vec_id"), col("v"), col("nrm"))
    val (centroids, bucketed) = buildIvfIndex(corpus, nlist, lloydIters)
    // queries augment with 0: their cosine affinity to augmented centroids
    // ranks buckets by expected inner product
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v0").as("q_raw"),
        concat(col("v0"), array(lit(0.0))).as("qv"))
      .withColumn("qn", norm(col("qv")))
      .filter(col("qn") > 0.0)
    val probeW = Window.partitionBy(col("q_id")).orderBy(col("c_sim").desc, col("c_id"))
    val probes = queries.crossJoin(broadcast(centroids))
      .withColumn("c_sim", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rnk", row_number().over(probeW)).filter(col("rnk") <= nprobe)
      .select(col("q_id"), col("q_raw"), col("c_id").as("bucket"))
    // exact re-score on the ORIGINAL coordinates (slice undoes the concat
    // bit-exactly), same operand order as mipsTopK — the exhaustive twin
    // (nprobe = nlist) reproduces it bit-for-bit
    val w = Window.partitionBy(col("q_id")).orderBy(col("ip").desc, col("vec_id"))
    bucketed.join(broadcast(probes), "bucket")
      .select(col("q_id"), col("vec_id"),
        dot(slice(col("v"), lit(1), size(col("q_raw"))), col("q_raw")).as("ip"))
      .withColumn("rank", row_number().over(w).cast("long")).filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id"), col("rank"), col("ip"))
  }

  /** C61: corpus k-NN graph — every vector's k nearest neighbors by cosine
    * (no query/corpus split: the corpus queries itself, self-edges
    * excluded). The primitive under graph-based curation — SemDeDup-style
    * pruning, SSL-prototype coverage scoring, label propagation — where the
    * per-vector neighborhood, not a handful of query answers, is the
    * product.
    *
    * This brute-force form is the ORACLE BASELINE, not the scale path: it
    * broadcasts the corpus against itself (n² scored pairs). Production is
    * [[knnGraphIvf]] — same output contract, bucketed candidate generation.
    */
  def knnGraph(spark: SparkSession, dir: String, k: Int = 5): DataFrame =
    knnGraphOf(withNorm(Tables.embeddings(spark, dir)), k)

  private[graft] def knnGraphOf(emb: DataFrame, k: Int): DataFrame = {
    val queries = emb
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = emb.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (dot(col("v"), col("qv")) / (col("nrm") * col("qn"))).as("cos_sim"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long")).filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id"), col("rank"), col("cos_sim"))
  }

  /** C118 (r10): k-NN LABEL-RECOVERY eval — "can the labels be read back
    * from the geometry": every vector is classified by the MAJORITY label
    * of its exact k nearest neighbors (leave-self-out), reported as
    * per-label (n_vectors, n_correct, accuracy). The standard
    * embedding-quality probe run before trusting a space for semantic
    * dedup, curation, or mixture balancing — a space whose labels can't
    * be recovered by its own neighborhoods won't support them. (Zero-norm
    * vectors are excluded — no cosine neighborhood exists for them.)
    *
    * Deterministic end-to-end, hence ORACLE-gated: neighbor ranking
    * breaks cosine ties by vec_id, the vote breaks count ties to the
    * SMALLEST label, and accuracy is one IEEE division of exact longs.
    *
    * Scale: this is the eval INSTRUMENT on the brute exact graph (the
    * oracle-able base, like emb_cosine_topk); at corpus scale the same
    * vote runs on [[knnGraphIvf]]'s blocked graph — the vote and the
    * accuracy fold are summary-sized either way (≤ labels² rows). */
  def knnLabelEval(spark: SparkSession, dir: String, k: Int = 5): DataFrame = scope {
    // every NONZERO-NORM vector is classified (zero-norm rows have no
    // cosine neighborhood — excluded from all cosine paths here, same as
    // the graph itself). Checkpointed: both the neighbor join and the
    // truth join read this 2-column projection.
    val labels = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label").cast("long").as("label")).pin()
    val votes = knnGraph(spark, dir, k)
      .join(labels.select(col("vec_id"), col("label").as("n_label")), "vec_id")
      .groupBy(col("q_id"), col("n_label"))
      .agg(count(lit(1)).as("nv"))
    val vw = Window.partitionBy(col("q_id")).orderBy(col("nv").desc, col("n_label"))
    val pred = votes.withColumn("vr", row_number().over(vw))
      .filter(col("vr") === 1)
      .select(col("q_id"), col("n_label").as("pred_label"))
    pred
      .join(labels.select(col("vec_id").as("q_id"), col("label").as("true_label")),
        "q_id")
      .groupBy(col("true_label").as("label"))
      .agg(count(lit(1)).as("n_vectors"),
        count(when(col("pred_label") === col("true_label"), lit(1)))
          .as("n_correct"))
      .withColumn("accuracy",
        col("n_correct").cast("double") / col("n_vectors").cast("double"))
  }

  /** C61b: the k-NN graph at scale — IVF-blocked candidate generation.
    * Unlike the query-serving paths ([[ivfTopK]] and kin), the probe side
    * here is the WHOLE corpus (n·nprobe rows), so it is NOT broadcast: the
    * probes↔buckets join is a plain key-partitioned shuffle join on the
    * bucket id — both sides scale out, no driver-sized collection anywhere.
    * Per-vector cost is nprobe bucket scans instead of the full corpus;
    * recall follows the same coarse-quantizer geometry the measured recall
    * curves characterize for the serving paths.
    *
    * With nprobe = nlist every vector probes every bucket and the exact
    * cosine re-score makes the output provably equal [[knnGraph]] — that
    * exhaustive twin ([[knnGraphIvfExhaustive]]) is this path's oracle
    * gate.
    *
    * `nlist = 0` (the default) AUTO-SIZES the bucket count to ⌈√n⌉
    * (clamped to [8, 65536]) with nprobe held constant: per-vector work is
    * then nprobe·n/√n, total O(n^1.5) — a FIXED nlist makes bucket size,
    * and therefore total work, quadratic (measured: 2.9 s → 44.6 s for
    * 2k → 20k vectors at nlist=8; the r8 auto-sizing is the fix). The
    * probed fraction shrinks as √n, the standard IVF regime: buckets
    * tighten as they multiply, so the nearest-nprobe geometry keeps
    * covering the true neighborhood for clustered data. */
  def knnGraphIvf(spark: SparkSession, dir: String, k: Int = 5,
                  nlist: Int = 0, nprobe: Int = 3, lloydIters: Int = 1): DataFrame = scope {
    val emb = withNorm(Tables.embeddings(spark, dir))
    val nl =
      if (nlist > 0) nlist
      else math.min(math.max(8, math.ceil(math.sqrt(emb.count().toDouble)).toInt), 65536)
    val np = math.min(nprobe, nl)
    val (centroids, bucketed) = buildIvfIndex(emb, nl, lloydIters)
    // probe selection is corpus-sized here (every vector is a query), so
    // the crossJoin→window form would shuffle n·nlist rows just to rank
    // probes — the in-row top-np kernel keeps it map-only (same ordering
    // semantics as row_number over (c_sim desc, c_id)); the explode emits
    // the n·np probe rows directly
    val centsRow = centroids
      .agg(collect_list(struct(col("c_id"), col("cv"), col("cn"))).as("cents"))
    val probes = emb
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
      .crossJoin(broadcast(centsRow))
      .select(col("q_id"), col("qv"), col("qn"),
        explode(graft.functions.VectorExpressions
          .topCosBuckets(col("qv"), col("qn"), col("cents"), np)).as("bucket"))
    // corpus-sized probe side: shuffle join on bucket (deliberately NOT
    // broadcast — contrast ivfQuery, whose probe side is a few queries)
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("vec_id"))
    bucketed.join(probes, "bucket")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (dot(col("v"), col("qv")) / (col("nrm") * col("qn"))).as("cos_sim"))
      .withColumn("rank", row_number().over(w).cast("long")).filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id"), col("rank"), col("cos_sim"))
  }

  /** Exhaustive-probe twin of [[knnGraphIvf]] — bit-equal to [[knnGraph]]
    * (every bucket probed, identical scoring operand order), giving the
    * bucketed graph path a hash-green oracle. */
  def knnGraphIvfExhaustive(spark: SparkSession, dir: String, k: Int = 5,
                            nlist: Int = 8, lloydIters: Int = 1): DataFrame =
    knnGraphIvf(spark, dir, k, nlist, nprobe = Int.MaxValue, lloydIters)

  /** C115: TRIANGLE census + local clustering coefficient over the MUTUAL
    * k-NN graph (Watts & Strogatz 1998 for the coefficient; the
    * node-iterator/wedge-closure counting scheme of Schank & Wagner 2005,
    * public — the graph-side curation read on an embedding corpus: dense
    * triangle neighborhoods are tight semantic clumps (dedup/diversity
    * targets, C58's blocking made visible), zero-triangle nodes are the
    * isolated tail). An edge exists iff BOTH endpoints rank each other in
    * their top-k (the mutual filter makes the graph canonically
    * undirected); per node: degree, triangle count, clustering
    * 2T/(d(d−1)).
    *
    * All counts are exact integers; the coefficient is ONE division of
    * exact longs — hash-exact. Scale: the graph comes from the C61
    * machinery (brute here as the oracle-able base; the IVF-blocked build
    * swaps in transparently for corpus scale); mutual filtering is a
    * self-join on the directed edge list (≤ n·k rows); wedges enumerate
    * a<b<c once via the canonical orientation — the join fans ≤ k per
    * side so wedges stay ≤ n·k², linear in n at fixed k — and close by
    * one key-partitioned semi-join against the edge list. Never an n²
    * pair pass. */
  def triangles(spark: SparkSession, dir: String, k: Int = 5): DataFrame = scope {
    val emb = withNorm(Tables.embeddings(spark, dir))
    trianglesFromKnn(emb, knnGraphOf(emb, k))
  }

  /** C115b: the census at corpus scale — the graph comes from the
    * IVF-blocked C61b build (O(n^1.5) under the auto-sized √n bucket
    * regime) instead of the brute n² base; everything downstream of the
    * edge list is identical. With nprobe = nlist the graph provably
    * equals the brute one, so the exhaustive twin shares C115's oracle —
    * gating the wedge/closure/rollup machinery over the probed plumbing. */
  def trianglesIvf(spark: SparkSession, dir: String, k: Int = 5,
                   nlist: Int = 0, nprobe: Int = 3,
                   lloydIters: Int = 1): DataFrame = scope {
    trianglesFromKnn(withNorm(Tables.embeddings(spark, dir)),
      knnGraphIvf(spark, dir, k, nlist, nprobe, lloydIters))
  }

  def trianglesIvfExhaustive(spark: SparkSession, dir: String,
                             k: Int = 5, nlist: Int = 8,
                             lloydIters: Int = 1): DataFrame = scope {
    trianglesFromKnn(withNorm(Tables.embeddings(spark, dir)),
      knnGraphIvfExhaustive(spark, dir, k, nlist, lloydIters))
  }

  private def trianglesFromKnn(emb: DataFrame, graph: DataFrame): DataFrame = scope {
    val knn = graph.select(col("q_id"), col("vec_id"))
    // mutual edges in canonical a<b orientation: (a,b) directed both ways
    val edges = knn.as("x")
      .join(knn.as("y"),
        col("x.q_id") === col("y.vec_id") && col("x.vec_id") === col("y.q_id"))
      .filter(col("x.q_id") < col("x.vec_id"))
      .select(col("x.q_id").as("a"), col("x.vec_id").as("b"))
      .pin() // wedges, closure, and degrees all read it
    val wedges = edges.as("e1")
      .join(edges.as("e2"), col("e1.b") === col("e2.a"))
      .select(col("e1.a").as("a"), col("e1.b").as("b"), col("e2.b").as("c"))
    val closing = edges
      .select(col("a").as("ca"), col("b").as("cc"))
    val tri = wedges
      .join(closing, col("a") === col("ca") && col("c") === col("cc"),
        "left_semi")
    val perNode = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("vec_id"))
      .groupBy("vec_id").agg(count(lit(1)).as("n_triangles"))
    val degrees = edges
      .select(explode(array(col("a"), col("b"))).as("vec_id"))
      .groupBy("vec_id").agg(count(lit(1)).as("degree"))
    emb.select(col("vec_id"))
      .join(degrees, Seq("vec_id"), "left")
      .join(perNode, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("degree"), lit(0L)).as("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .withColumn("clustering",
        when(col("degree") >= 2,
          (lit(2L) * col("n_triangles")).cast("double") /
            (col("degree") * (col("degree") - 1)).cast("double")))
  }

  /** C62: SSL-prototype density pruning (Sorscher et al. 2022, "Beyond
    * neural scaling laws", public): cluster the corpus (Lloyd under cosine,
    * [[farthestSeeds]] seeding), score every vector by cosine to its OWN
    * centroid (prototypicality — how "easy"/redundant the example is), and
    * in the abundant-data regime PRUNE the most prototypical `pruneFrac` of
    * each cluster, keeping the hard tail that actually moves the loss.
    *
    * Scale shape: the heavy work is the cluster build (broadcast-centroid
    * passes, no pairwise term); scoring is one broadcast join against the k
    * centroids; the per-cluster rank is a window partitioned by cluster —
    * with the k ∝ √n sizing regime partitions stay ~√n rows, never a
    * single-reducer global sort. The prune count is floor(n_c · pruneFrac)
    * per cluster, so pruneFrac = 0 is the identity and singleton clusters
    * always survive. */
  def embPrototypes(spark: SparkSession, dir: String, k: Int = 10,
                    pruneFrac: Double = 0.3, lloydIters: Int = 4): DataFrame = scope {
    val corpus = withNorm(Tables.embeddings(spark, dir)).cached()
    val (centroids, bucketed) =
      buildIvfIndex(corpus, k, lloydIters, Some(seedsFor(corpus, k)))
    prototypesOf(bucketed, centroids, pruneFrac)
  }

  private[graft] def prototypesOf(bucketed: DataFrame, centroids: DataFrame,
                                  pruneFrac: Double): DataFrame = {
    val scored = bucketed.join(broadcast(centroids), col("bucket") === col("c_id"))
      .select(col("vec_id"), col("bucket").as("cluster"),
        (dot(col("v"), col("cv")) / (col("nrm") * col("cn"))).as("proto_sim"))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("proto_sim").desc, col("vec_id"))
    // k-row count side: the per-cluster prune cutoff as a broadcast join,
    // not a second window aggregate over the corpus
    val counts = scored.groupBy("cluster").agg(count(lit(1)).as("c_n"))
    scored.withColumn("proto_rank", row_number().over(w).cast("long"))
      .join(broadcast(counts), "cluster")
      .withColumn("keep", col("proto_rank") > floor(col("c_n") * pruneFrac))
      .select(col("vec_id"), col("cluster"), col("proto_rank"),
        col("proto_sim"), col("keep"))
  }

  /** C62b: the D4 pipeline (Tirumala et al. 2023, public) — SemDeDup then
    * SSL-prototypes, composed: collapse semantic duplicate groups to their
    * canonical first ([[semDedup]]), then RE-cluster the deduplicated
    * survivors and density-prune them ([[prototypesOf]]). Re-clustering
    * after dedup matters: duplicate mass no longer drags centroids, so the
    * prototypicality scores rank genuine redundancy, not copy count. */
  def embD4(spark: SparkSession, dir: String, k: Int = 10,
            dedupThreshold: Double = 0.9, pruneFrac: Double = 0.3,
            lloydIters: Int = 4): DataFrame = scope {
    // ONE cached corpus read feeds both stages (the r8 candidate): the
    // dedup pass and the post-dedup re-cluster share the normed corpus;
    // the survivor set is just a filter over it
    val full = withNorm(Tables.embeddings(spark, dir)).cached()
    val survivors = semDedupOf(full, k, dedupThreshold, lloydIters)
      .filter(col("keep")).select(col("vec_id"))
    val corpus = full.join(survivors, "vec_id").cached()
    val (centroids, bucketed) =
      buildIvfIndex(corpus, k, lloydIters, Some(seedsFor(corpus, k)))
    prototypesOf(bucketed, centroids, pruneFrac)
  }

  /** C63: label propagation over the k-NN graph (Zhu & Ghahramani 2002,
    * public) — the semi-supervised scale path for spreading a small
    * hand-labeled seed set (quality tiers, topical domains) across a whole
    * embedding corpus: seeds (vec_id ≡ 0 mod `seedMod` here, standing in
    * for the "hand-labeled" subset) keep their labels clamped; every other
    * vector iteratively takes the cosine-weighted majority label of its k
    * nearest neighbors, flipping freely until the votes settle.
    *
    * Scale shape: the graph is built ONCE by the bucketed
    * [[knnGraphIvf]] (never all-pairs) and cached; each round is one
    * shuffle join of the n·k edge list against the n-row label frontier +
    * a two-level partial-agg argmax (sum weights per (node, label), then
    * max(struct) — no per-node sort). The frontier is localCheckpoint'd
    * per round, the same lineage-truncation discipline as the star-CC
    * rounds. Ties break toward the SMALLER label (max of negated id),
    * deterministic at any partitioning. */
  def labelProp(spark: SparkSession, dir: String, k: Int = 5, iters: Int = 3,
                seedMod: Long = 10, nlist: Int = 0, nprobe: Int = 3): DataFrame = scope {
    val edges = knnGraphIvf(spark, dir, k, nlist, nprobe)
      .select(col("q_id"), col("vec_id").as("nbr_id"), col("cos_sim")).cached()
    var labels = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        when(col("vec_id") % seedMod === 0, col("label")).as("lab"),
        (col("vec_id") % seedMod === 0).as("seed")).pin()
    var i = 0
    while (i < iters) {
      val votes = edges
        .join(labels.select(col("vec_id").as("nbr_id"), col("lab").as("nbr_lab")),
          "nbr_id")
        .filter(col("nbr_lab").isNotNull)
        .groupBy(col("q_id"), col("nbr_lab"))
        .agg(sum(col("cos_sim")).as("w"))
        .groupBy("q_id")
        .agg(max(struct(col("w"), (-col("nbr_lab")).as("neg_lab"))).as("best"))
        .select(col("q_id").as("vec_id"), (-col("best.neg_lab")).as("new_lab"))
      labels = labels.join(votes, Seq("vec_id"), "left")
        .select(col("vec_id"),
          when(col("seed"), col("lab"))
            .otherwise(coalesce(col("new_lab"), col("lab"))).as("lab"),
          col("seed")).pin(replacing = labels)
      i += 1
    }
    labels.select(col("vec_id"), col("lab").as("label_pred"), col("seed"))
  }

  // ---- PageRank centrality over the k-NN graph (C73) ---------------------

  /** Damped PageRank over an arbitrary (src, dst) edge list — the shared
    * core of [[pageRank]] (Page et al. 1999; the cosine-graph centrality
    * use is LexRank, Erkan & Radev 2004 — both public). Uniform
    * out-neighbor transition (w = 1/outdeg), teleport (1−d)/n, dangling
    * mass redistributed uniformly each step — the standard formulation, so
    * Σ ranks stays 1 up to quantization.
    *
    * DETERMINISTIC across runs and engines: ranks live as DECIMAL(28,12);
    * each edge contribution rank·w·d is one double product quantized back
    * to DECIMAL(28,12) BEFORE the per-dst sum (exact, summation-order-free
    * — shuffle fetch order can never wobble a double sum), and the
    * teleport+dangling base is the same double arithmetic on both sides of
    * a re-run. Bit-identical outputs, iteration for iteration.
    *
    * Scale shape: per iteration ONE shuffle join of the n·k edge list
    * against the n-row rank frontier + a dst-keyed partial-agg sum (the
    * label-prop discipline), dangling mass is a 1-row broadcast scalar,
    * and the frontier localCheckpoints every round (star-CC lineage
    * truncation). Nothing corpus-sized is ever collected or broadcast.
    *
    * r11 fixed-overhead shave (VERDICT r10 #7 — the 4.4 s sf0.1 base was
    * 10 sequential checkpointed jobs of mostly scheduling cost): (a) the
    * dangling set is tagged ONCE as a boolean column riding the rank
    * frontier, so the per-iteration mass agg is a filter+sum on the
    * checkpointed frontier instead of a semi-join against a second table.
    * Value-neutral BY CONSTRUCTION: the decimal quantization makes every
    * sum summation-order-free, so rank bytes are bit-identical iteration
    * for iteration (spec-pinned). */
  private[graft] def pageRankOf(nodes: DataFrame, edges: DataFrame,
                                iters: Int = 10,
                                damping: Double = 0.85): DataFrame = scope {
    val dec = org.apache.spark.sql.types.DecimalType(28, 12)
    val n = nodes.count()
    if (n == 0) return nodes.select(col("id").as("vec_id"),
      lit(0.0).as("pagerank"))
    val init = new java.math.BigDecimal(1.0 / n)
      .setScale(12, java.math.RoundingMode.HALF_UP)
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val e = edges.join(outdeg, "src")
      .select(col("src"), col("dst"), (lit(1.0) / col("outdeg")).as("w"))
      .cached()
    // dangling flag tagged once; rides the frontier thereafter
    var ranks = nodes
      .join(e.select(col("src").as("id"), lit(true).as("has_out")).distinct(),
        Seq("id"), "left")
      .select(col("id"), col("has_out").isNull.as("dang"),
        lit(init).cast(dec).as("r")).pin()
    var i = 0
    while (i < iters) {
      val dm = ranks.filter(col("dang"))
        .agg(coalesce(sum(col("r")), lit(0).cast(dec)).as("dm"))
      val contrib = e
        .join(ranks.select(col("id").as("src"), col("r")), "src")
        .select(col("dst"),
          (col("r").cast("double") * col("w") * lit(damping)).cast(dec).as("c"))
        .groupBy("dst").agg(sum(col("c")).as("cs"))
      val next = ranks
        .join(contrib.select(col("dst").as("id"), col("cs")), Seq("id"), "left")
        .crossJoin(broadcast(dm)) // single row: constant-size broadcast
        .select(col("id"), col("dang"),
          (lit((1.0 - damping) / n) +
            lit(damping) * col("dm").cast("double") / n +
            coalesce(col("cs"), lit(0).cast(dec)).cast("double"))
            .cast(dec).as("r"))
      // checkpoint every iteration: it truncates the lineage (star-CC
      // discipline), and an un-checkpointed frontier is consumed TWICE
      // next round (dm agg + contrib join), duplicating that round's join
      // subtree — r13 measured every iteration fastest
      // (OPTIMIZATION_r13.md). Eager, never lazy: a lazy checkpoint
      // materializing inside the next round's broadcast of the same
      // lineage deadlocks Spark 4.1's scheduler (RDD lock vs
      // RDDCheckpointData lock, taken in opposite orders).
      i += 1
      ranks = next.pin(replacing = ranks)
    }
    ranks.select(col("id").as("vec_id"), col("r").cast("double").as("pagerank"))
  }

  /** C73 gate entry: PageRank centrality of every corpus vector over the
    * cosine k-NN graph — the LexRank-style "how representative is this
    * document" curation signal (central docs anchor coverage, low-rank
    * periphery flags outliers/noise; the graph-centrality complement to
    * C62's distance-to-centroid prototypicality). Graph built ONCE by the
    * bucketed IVF path (never all-pairs), nodes = the full corpus (zero
    * vectors enter as dangling teleport targets, still well-defined). */
  def pageRank(spark: SparkSession, dir: String, k: Int = 5,
               iters: Int = 10): DataFrame = scope {
    val edges = knnGraphIvf(spark, dir, k)
      .select(col("q_id").as("src"), col("vec_id").as("dst"))
    val nodes = Tables.embeddings(spark, dir).select(col("vec_id").as("id"))
    pageRankOf(nodes, edges, iters)
      .select(col("vec_id"), round(col("pagerank"), 9).as("pagerank"))
  }

  /** C77: embedding distribution-drift monitor — "did the new batch of
    * vectors come from the same encoder/distribution?": per dimension,
    * the mean over the BASE corpus (vec_id ≤ the 80% id cut — the
    * doc_curate_incr split convention) vs the mean over the NEW tail,
    * with the per-dim delta. The standard day-2 check before trusting a
    * re-encoded or newly-ingested embedding batch (a systematic per-dim
    * shift = encoder version drift; this is the cheap exact complement
    * of a two-sample test). Exact cross-engine: every float quantizes to
    * DECIMAL(18,9) per term (the A42 bound — floats are ≤9 significant
    * digits, so the quantization is lossless on float inputs), sums are
    * order-free exact, and each mean/delta is a fixed IEEE op sequence.
    * Scale: ONE posexplode pass (n·dim rows) partial-aggregated
    * map-side into ≤dim groups — no joins, no per-vector state. */
  def drift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val cutRow = emb.agg(expr("max(vec_id) * 8 div 10")).head()
    if (cutRow.isNullAt(0)) // empty corpus: no base/new split to compare
      return Seq.empty[(Long, Long, Long, Double, Double, Double)]
        .toDF("dim_idx", "n_base", "n_new", "mean_base", "mean_new", "delta")
    val cut = cutRow.getLong(0)
    emb.select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim_idx", "v")))
      .select(col("dim_idx").cast("long").as("dim_idx"),
        (col("vec_id") <= cut).as("base"),
        // widen to DOUBLE before quantizing: a direct float→decimal cast
        // rounds the float's SHORTEST representation in some engines; the
        // double carries the full binary expansion, so both engines round
        // the same true value (the emb_quantize discipline)
        col("v").cast("double")
          .cast(org.apache.spark.sql.types.DecimalType(18, 9)).as("d"))
      .groupBy("dim_idx")
      .agg(count(when(col("base"), lit(1))).as("n_base"),
        count(when(!col("base"), lit(1))).as("n_new"),
        sum(when(col("base"), col("d"))).as("s_base"),
        sum(when(!col("base"), col("d"))).as("s_new"))
      .filter(col("n_base") > 0 && col("n_new") > 0)
      .withColumn("mean_base", expr("CAST(s_base AS DOUBLE) / CAST(n_base AS DOUBLE)"))
      .withColumn("mean_new", expr("CAST(s_new AS DOUBLE) / CAST(n_new AS DOUBLE)"))
      .select(col("dim_idx"), col("n_base"), col("n_new"),
        col("mean_base"), col("mean_new"),
        expr("mean_new - mean_base").as("delta"))
  }

  /** C89: truncated-serving audit (Matryoshka representation serving,
    * Kusupati et al. 2022, public — rank with a PREFIX of each embedding,
    * cutting scan bytes ∝ dim): for each truncation width, how much of
    * the full-dimension cosine top-k survives when both query and corpus
    * vectors are sliced to their first `w` coordinates — top-k overlap
    * and rank-1 agreement per width, the measurement a serving owner
    * reads before committing to a cheaper width. The full-dim reference
    * ranking rides the same scored pass (the native width is appended to
    * `widths`), so width = dim is a built-in control row (overlap 1.0 by
    * construction).
    *
    * Scale shape: ONE corpus scan fans out to |widths| sliced rows per
    * vector (in-row slice + norm — map-only); queries broadcast per
    * width; per-(width, query) top-k is the standard WindowGroupLimit
    * bound, so the shuffle carries ≤ widths·queries·k rows; overlap is a
    * join of two (widths·queries·k)-row tables. Output fractions are
    * integer-count ratios (one IEEE division per row) — oracle-portable.
    * Zero-norm SLICES are excluded per width (cos undefined), mirroring
    * the withNorm discipline; a query whose slice is zero-norm drops out
    * of that width's denominator `n_q`. */
  def truncAudit(spark: SparkSession, dir: String, nQueries: Int = 10,
                 k: Int = 5, widths: Seq[Int] = Seq(8, 16, 32)): DataFrame = scope {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .filter(col("v").isNotNull)
    val dim = size(col("v"))
    // distinct sorted widths, native width appended in-row (dim is a
    // per-row value — slice(v, 1, dim) = v, the reference ranking)
    val wArr = array_distinct(concat(
      array(widths.sorted.map(w => lit(w)): _*), array(dim)))
    def slicedSide(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), explode(wArr).as("trunc_dim"), col("v"))
      .select(col("vec_id"), col("trunc_dim"),
        slice(col("v"), lit(1), col("trunc_dim")).as("v"))
      .withColumn("nrm", graft.functions.VectorFunctions.norm(col("v")))
      .filter(col("nrm") > 0.0)
    val q = slicedSide(emb.filter(col("vec_id") < nQueries))
      .select(col("trunc_dim"), col("vec_id").as("q_id"),
        col("v").as("qv"), col("nrm").as("qn"))
    val c = slicedSide(emb.filter(col("vec_id") >= nQueries))
    val w = Window.partitionBy(col("trunc_dim"), col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    val ranked = c.join(broadcast(q), Seq("trunc_dim"))
      .select(col("trunc_dim"), col("q_id"), col("vec_id"),
        (dot(col("v"), col("qv")) / (col("nrm") * col("qn"))).as("cos_sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("trunc_dim"), col("q_id"), col("vec_id"), col("rank"))
      .pin() // ≤ widths·queries·k rows; read twice below
    val full = ranked
      .withColumn("max_w", max(col("trunc_dim")).over(
        Window.partitionBy(col("q_id"))))
      .filter(col("trunc_dim") === col("max_w"))
      .select(col("q_id"), col("vec_id"), col("rank").as("full_rank"))
    ranked.join(full, Seq("q_id", "vec_id"), "left")
      .groupBy("trunc_dim", "q_id")
      .agg(sum(when(col("full_rank").isNotNull, 1L).otherwise(0L)).as("n_match"),
        sum(when(col("rank") === 1 && col("full_rank") === 1, 1L)
          .otherwise(0L)).as("r1"))
      .groupBy("trunc_dim")
      .agg(count(lit(1)).as("n_q"), sum(col("n_match")).as("n_overlap"),
        sum(col("r1")).as("n_rank1"))
      .withColumn("overlap_at_k", col("n_overlap").cast("double")
        / (col("n_q") * k).cast("double"))
      .withColumn("rank1_match",
        col("n_rank1").cast("double") / col("n_q").cast("double"))
      .select(col("trunc_dim").cast("long").as("trunc_dim"), col("n_q"),
        col("overlap_at_k"), col("rank1_match"))
  }

  /** C90: out-of-distribution score per vector — diagonal Mahalanobis
    * distance to the corpus distribution (Lee et al. 2018's Mahalanobis
    * OOD detector, public, with the standard diagonal-covariance
    * simplification): ood = Σ_d ((x_d − μ_d)/σ_d)², the admission audit
    * that flags junk embeddings (wrong modality, corrupted rows, encoder
    * drift) before they enter an index or a training mix. Constant
    * dimensions (σ = 0) contribute zero — never a division artifact.
    *
    * Scale shape: per-dim stats are ONE ≤dim-key partial agg over the
    * posexploded corpus (the C69/C77 pattern) with the emb_quantize
    * decimal discipline — double-widened DECIMAL(18,9) sums, so μ and σ
    * are order-independent and bit-identical cross-engine; the ≤dim-row
    * result folds into the scoring pass as PLAN LITERALS (model-as-
    * constant, the C55/C57 discipline — no broadcast, no join), making
    * scoring map-only: one in-row indexed fold per vector, left-to-right
    * double accumulation mirrored by the oracle's list_reduce. */
  def oodScore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .filter(col("v").isNotNull)
    val stats = oodStatsOf(emb)
    if (stats.isEmpty)
      return Seq.empty[(Long, Double)].toDF("vec_id", "ood")
    emb.select(col("vec_id"), oodCol(col("v"), stats).as("ood"))
  }

  /** The frozen per-dim (μ, σ) model behind [[oodScore]] — ONE ≤dim-key
    * partial agg with decimal-exact sums, collected to ≤dim rows. Exposed
    * so the streaming admission gate can score new arrivals against a
    * BASE corpus's distribution ([[graft.streaming.EmbPipeline]]) with
    * scores identical to the batch operator by construction. */
  private[graft] def oodStatsOf(emb: DataFrame): Array[(Double, Double)] = {
    val dec9 = org.apache.spark.sql.types.DecimalType(18, 9)
    emb.select(posexplode(col("v")).as(Seq("i", "x")))
      .select(col("i"), col("x").cast(dec9).as("d"))
      .groupBy("i")
      .agg(count(lit(1)).as("n"), sum(col("d")).as("s"),
        sum(col("d") * col("d")).as("s2"))
      .withColumn("mu", expr("CAST(s AS DOUBLE) / CAST(n AS DOUBLE)"))
      .withColumn("vr", expr("CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) - mu * mu"))
      .withColumn("sg", expr("CASE WHEN vr > 0 THEN sqrt(vr) ELSE 0.0 END"))
      .orderBy("i").collect() // ≤ dim rows — the model, not the corpus
      .map(r => (r.getAs[Double]("mu"), r.getAs[Double]("sg")))
  }

  /** C96: IVF bucket-BALANCE audit — the probe-cost health check for any
    * persisted IVF-family index (the ANN sibling of B37's key-skew
    * census): per-bucket occupancy plus the summary a capacity planner
    * reads — bucket count, corpus size, max/mean skew (probe latency is
    * bounded by the fattest probed bucket, and a skewed coarse quantizer
    * silently turns nprobe=6 into a near-full scan), and the occupancy
    * share of the largest bucket. One partial-agg census over the
    * assignments table (never the vectors) + a single summary fold. */
  def ivfBalance(spark: SparkSession, indexDir: String): DataFrame = {
    val asg = spark.read.schema("bucket BIGINT, vec_id BIGINT")
      .parquet(s"$indexDir/assignments.parquet")
    asg.groupBy("bucket").agg(count(lit(1)).as("n_vecs"))
      .agg(count(lit(1)).as("n_buckets"), sum(col("n_vecs")).as("n_total"),
        max(col("n_vecs")).as("max_bucket"))
      .withColumn("skew", expr(
        "CAST(max_bucket * n_buckets AS DOUBLE) / CAST(n_total AS DOUBLE)"))
      .withColumn("max_share", expr(
        "CAST(max_bucket AS DOUBLE) / CAST(n_total AS DOUBLE)"))
      .filter(col("n_total") > 0)
  }

  /** C96 gate entry: build-or-reuse the standard n8 index on the sf dir,
    * audit it. Rows-only (Lloyd assignment isn't SQL-expressible); the
    * invariants (totals reconcile, skew ≥ 1) are spec-gated. */
  def ivfBalanceFor(spark: SparkSession, dir: String): DataFrame = scope {
    val idx = java.nio.file.Files.createTempDirectory("graft-ivf-bal").toString
    writeIvfIndex(spark, dir, idx)
    ivfBalance(spark, idx)
  }

  /** C90b: the OOD model STORE — encode-once/score-many for the admission
    * gate (the quality-model/BM25-store discipline): per-dim partial
    * moments (n, Σd, Σd²) persist per ingest batch under
    * `batch_id=<id>` partitions (retry-idempotent: a replayed batch
    * overwrites its own partition), and serving SUMS the partials — the
    * decimal sums are associative-exact, so a store built from any batch
    * split yields BIT-IDENTICAL (μ, σ) to a single-pass fit, proven by
    * the gate (store-served scores hash-equal emb_ood's oracle). The
    * store is ≤dim rows per batch — the artifact is model-sized, never
    * corpus-sized. */
  def oodStoreWrite(emb: DataFrame, storeDir: String, batchId: Long): Unit = {
    val dec9 = org.apache.spark.sql.types.DecimalType(18, 9)
    emb.select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .filter(col("v").isNotNull)
      .select(posexplode(col("v")).as(Seq("i", "x")))
      .select(col("i").cast("long").as("i"), col("x").cast(dec9).as("d"))
      .groupBy("i")
      .agg(count(lit(1)).as("n"),
        sum(col("d")).cast(org.apache.spark.sql.types.DecimalType(38, 9)).as("s"),
        sum(col("d") * col("d"))
          .cast(org.apache.spark.sql.types.DecimalType(38, 18)).as("s2"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$storeDir/stats.parquet/batch_id=$batchId")
  }

  private val oodStoreSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("i",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("n",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("s",
      org.apache.spark.sql.types.DecimalType(38, 9)),
    org.apache.spark.sql.types.StructField("s2",
      org.apache.spark.sql.types.DecimalType(38, 18))))

  /** (μ, σ) from the store's merged partials — same final expressions as
    * the direct fit, and the merged decimal sums are exactly the
    * single-pass sums, so the model is bit-identical by construction. */
  def oodStatsFromStore(spark: SparkSession, storeDir: String): Array[(Double, Double)] =
    spark.read.schema(oodStoreSchema).parquet(s"$storeDir/stats.parquet")
      .groupBy("i")
      .agg(sum(col("n")).as("n"), sum(col("s")).as("s"), sum(col("s2")).as("s2"))
      .withColumn("mu", expr("CAST(s AS DOUBLE) / CAST(n AS DOUBLE)"))
      .withColumn("vr", expr("CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) - mu * mu"))
      .withColumn("sg", expr("CASE WHEN vr > 0 THEN sqrt(vr) ELSE 0.0 END"))
      .orderBy("i").collect()
      .map(r => (r.getAs[Double]("mu"), r.getAs[Double]("sg")))

  /** Score a corpus against a persisted OOD store (no re-fit). */
  def oodScoreFromStore(spark: SparkSession, dir: String,
                        storeDir: String): DataFrame = {
    import spark.implicits._
    val stats = oodStatsFromStore(spark, storeDir)
    if (stats.isEmpty) return Seq.empty[(Long, Double)].toDF("vec_id", "ood")
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .filter(col("v").isNotNull)
      .select(col("vec_id"), oodCol(col("v"), stats).as("ood"))
  }

  /** C90b gate entry: 80/20 split by vec_id → base write + one ingest →
    * score the FULL corpus from the store alone. The merged moments are
    * bit-equal to the single-pass fit, so this must hash-match the same
    * oracle as `emb_ood` — the lifecycle proof. */
  def oodStore(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val store = java.nio.file.Files.createTempDirectory("graft-ood-store").toString
    val maxId = emb.agg(max(col("vec_id"))).head().getAs[java.lang.Long](0)
    val cut = if (maxId == null) 0L else maxId * 4 / 5
    oodStoreWrite(emb.filter(col("vec_id") <= cut), store, 0L)
    oodStoreWrite(emb.filter(col("vec_id") > cut), store, 1L)
    oodScoreFromStore(spark, dir, store)
  }

  /** The map-only OOD scoring column over an `array<double>` vector: the
    * (μ, σ) model inlines as PLAN LITERALS (model-as-constant). Per-term
    * DECIMAL(18,9) quantization (the C40/C68 scheme — the one
    * double→decimal cast width measured to round identically in both
    * engines; 12-digit casts disagreed in the last digit on 3/500 terms)
    * makes the per-vector sum order-independent; final 6 dp round. */
  private[graft] def oodCol(v: Column,
                            stats: Array[(Double, Double)]): Column = {
    val mu = array(stats.map(t => lit(t._1)): _*)
    val sg = array(stats.map(t => lit(t._2)): _*)
    val dec9s = org.apache.spark.sql.types.DecimalType(18, 9)
    round(aggregate(
      transform(v, (x, i) => {
        val m = try_element_at(mu, i + 1)
        val g = try_element_at(sg, i + 1)
        when(g > 0, (((x - m) / g) * ((x - m) / g)).cast(dec9s))
          .otherwise(lit(0.0).cast(dec9s))
      }), lit(0.0).cast(dec9s),
      // decimal + widens the type; cast back — exact at these magnitudes
      (acc, t) => (acc + t).cast(dec9s)).cast("double"), 6)
  }

  /** C85: binary sign-code search — Charikar (2002) random-hyperplane
    * codes as a SERVING structure, not just an LSH blocking key: every
    * vector compresses to `bits` sign bits (the deterministic global plane
    * sequence [[graft.functions.RhpSignExpr]] that the LSH family already
    * uses), candidate ranking is XOR + popcount over the packed words —
    * 16 bytes/vector at the 128-bit default instead of dim·8, the
    * classic 32× scan-footprint cut — and only the top-`rerank` Hamming
    * shortlist is re-scored with exact cosine.
    *
    * Scale shape: pass 1 reads the corpus ONCE, emitting (vec_id, words,
    * hamming) against the broadcast query codes — no vector ships; the
    * Hamming top-R per query is the same WindowGroupLimit bound as every
    * top-k here; pass 2 re-reads ONLY the shortlist vectors (a broadcast
    * semi-join of R·nQueries ids against the corpus — the "fetch" step a
    * deployed binary index does against the primary store). Exactness
    * recovers by construction as R → corpus size ([[hammingTopKExhaustive]]
    * is oracle-gated against brute force; the recall spec measures the
    * default R). */
  def hammingTopK(spark: SparkSession, dir: String, nQueries: Int = 10,
                  k: Int = 5, bits: Int = 128, rerank: Int = 50): DataFrame = {
    require(bits % 64 == 0, "bits must pack whole 64-bit words")
    val nWords = bits / 64
    val wordCols = (0 until nWords).map(i =>
      graft.functions.VectorExpressions.rhpSign(col("v"), 64, i * 64).as(s"w$i"))
    val coded = withNorm(Tables.embeddings(spark, dir))
      .select(col("vec_id") +: wordCols: _*)
    val qCodes = coded.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id") +:
        (0 until nWords).map(i => col(s"w$i").as(s"qw$i")): _*)
    val ham = (0 until nWords)
      .map(i => bit_count(col(s"w$i").bitwiseXOR(col(s"qw$i"))))
      .reduce(_ + _)
    val shortlist = coded.filter(col("vec_id") >= nQueries)
      .crossJoin(broadcast(qCodes))
      .select(col("q_id"), col("vec_id"), ham.cast("int").as("hamming"))
      .withColumn("hrank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("hamming"), col("vec_id"))))
      .filter(col("hrank") <= rerank)
      .select(col("q_id"), col("vec_id"), col("hamming"))
    // pass 2: fetch + exact rerank of the R-sized shortlist only
    val emb = withNorm(Tables.embeddings(spark, dir))
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("vec_id"))
    // broadcast the fetch list only when the shortlist is genuinely
    // R·nQueries-bounded: the exhaustive twin (rerank = Int.MaxValue) keeps
    // the whole corpus, and broadcasting a corpus-sized table is a driver
    // OOM at any real SF — let AQE pick the join there instead
    val fetch = if (rerank == Int.MaxValue) shortlist else broadcast(shortlist)
    emb.join(fetch, Seq("vec_id"))
      .join(broadcast(queries), Seq("q_id"))
      .select(col("q_id"), col("vec_id"), col("hamming"),
        (dot(col("v"), col("qv")) / (col("nrm") * col("qn"))).as("cos_sim"))
      .withColumn("rank", row_number().over(w).cast("long")).filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id"), col("rank"), col("cos_sim"), col("hamming"))
  }

  /** [[hammingTopK]] with the rerank shortlist widened to the whole corpus:
    * every candidate is exactly re-scored, so the result is brute-force
    * top-k by construction — the oracle-gated twin proving the binary-code
    * path's only loss is the declared Hamming shortlist cut. */
  def hammingTopKExhaustive(spark: SparkSession, dir: String, nQueries: Int = 10,
                            k: Int = 5): DataFrame =
    hammingTopK(spark, dir, nQueries, k, rerank = Int.MaxValue)
      .select(col("q_id"), col("vec_id"), col("rank"), col("cos_sim"))

  /** C86: Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    * 1998, public) — diversity-aware top-k: greedily pick the candidate
    * maximizing λ·sim(q,c) − (1−λ)·max_{s∈S} sim(c,s), so near-duplicate
    * results stop crowding the answer list (the retrieval-side mirror of
    * SemDeDup's training-side pruning).
    *
    * Scale shape: stage 1 is the standard scored pass + WindowGroupLimit
    * shortlist (top-`shortlist` per query — MMR over the full corpus is
    * quadratic and pointless: anything outside the relevance shortlist can
    * never be picked). The greedy loop then runs k SUMMARY-SIZED rounds
    * over the (nQueries·shortlist)-row table: each round one window argmax
    * picks the next item per query (all queries advance in the same
    * round — the loop count is k, not k·nQueries) and one broadcast join
    * against the nQueries picked rows updates each survivor's redundancy
    * incrementally (greatest(red, cos(c, picked)) — the standard O(k·N)
    * incremental MMR, never re-scanning S). localCheckpoint per round
    * keeps the loop's lineage flat (the star-CC discipline); the corpus
    * is read once, in stage 1. */
  def mmrTopK(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5,
              lambda: Double = 0.7, shortlist: Int = 50): DataFrame = scope {
    require(lambda >= 0 && lambda <= 1, "lambda must be in [0,1]")
    val emb = withNorm(Tables.embeddings(spark, dir))
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("vec_id"))
    var remaining = emb.filter(col("vec_id") >= nQueries)
      .crossJoin(broadcast(queries))
      .select(col("q_id"), col("vec_id"), col("v"), col("nrm"),
        (dot(col("v"), col("qv")) / (col("nrm") * col("qn"))).as("cos_sim"))
      .withColumn("srank", row_number().over(w)).filter(col("srank") <= shortlist)
      .drop("srank").withColumn("red", lit(0.0)).pin()
    val mmrW = Window.partitionBy(col("q_id"))
      .orderBy(col("mmr_score").desc, col("vec_id"))
    val picks = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (step <- 1 to k) {
      val scored = remaining.withColumn("mmr_score",
        lit(lambda) * col("cos_sim") - lit(1 - lambda) * col("red"))
      val pick = scored.withColumn("rn", row_number().over(mmrW))
        .filter(col("rn") === 1).drop("rn", "red")
        .withColumn("sel_rank", lit(step.toLong)).pin() // nQueries rows
      picks += pick.select(col("q_id"), col("sel_rank"), col("vec_id"),
        col("cos_sim"), col("mmr_score"))
      val pickedVecs = pick.select(col("q_id"), col("vec_id").as("p_id"),
        col("v").as("pv"), col("nrm").as("pn"))
      remaining = remaining
        .join(broadcast(pickedVecs), Seq("q_id"))
        .filter(col("vec_id") =!= col("p_id"))
        .withColumn("red", greatest(col("red"),
          dot(col("v"), col("pv")) / (col("nrm") * col("pn"))))
        .drop("p_id", "pv", "pn").pin(replacing = remaining)
    }
    picks.reduce(_ unionByName _)
  }
}
