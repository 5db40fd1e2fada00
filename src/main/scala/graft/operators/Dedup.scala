package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.sources.StoreFiles

/** Corpus deduplication (C1–C4).
  *
  * Scale design: exact dedup is one hash-shuffle on the content hash with
  * map-side partial aggregation (only the digest + representative id ship,
  * never the text twice). Near-dup (MinHash/SimHash) avoids the O(n²) pair
  * space by LSH banding: candidates meet only inside identical-band buckets,
  * found by a key-partitioned self-join or, for [[minhashLsh]], inside each
  * bucket by the block-pair kernel.
  *
  * MinHash/SimHash signatures are computed by the native kernels in
  * graft.functions.TextHashExpressions — one compiled pass per document,
  * map-only (no shuffle until the LSH banding), which is the 100 TB
  * shape: signature computation scales with input bytes, and the only
  * exchange carries one row per (document, band).
  *
  * Degenerate docs: the signature kernels yield NULL for zero-token
  * documents, and every LSH path filters them out before banding — empty
  * docs never collide into a shared bucket claiming similarity 1.0. */
object Dedup {

  /** C1: exact dedup — md5(text) groupBy, keep the smallest doc_id.
    * Null-text docs are excluded (same contract as curate): md5(NULL) is
    * NULL and groupBy treats NULLs as equal, which would declare every
    * unknown-content doc a copy of every other. */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("content_hash"))
      .groupBy("content_hash")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** C94: cross-source CONTENT-OVERLAP matrix — which sources share
    * n-gram content (syndication, mirror sites, licensing leaks,
    * benchmark bleed between "independent" corpora): for each unordered
    * source pair, how many DISTINCT word-k-grams appear in both, plus
    * the Jaccard over each pair's distinct-gram sets. Gram granularity,
    * not whole-document fingerprints: verbatim cross-source copying of
    * entire documents is rare, but shared passages/phrasing shows up
    * immediately at the gram level (measured: 6.6k of 16.2k grams cross
    * sources on this corpus — a whole-doc fp matrix is empty).
    *
    * Scale: one (gram-hash, source) distinct partial-agg (64-bit hashed
    * shingles — fixed-width, never strings); each gram then fans out to
    * the pairs WITHIN ITS OWN source set (an in-row combination explode
    * bounded by the catalog² — never a gram×gram join); per-source
    * distinct totals ride the same census. Output |sources|²-bounded. */
  def sourceOverlap(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val fpSrc = Tables.documentsSpread(spark, dir)
      .select(col("source"), explode(graft.functions.Barrier.noInline(
        graft.functions.TextHashExpressions.shingleHashes(col("text"), k))).as("fp"))
      .distinct() // one row per (gram, source)
      .localCheckpoint(true) // feeds totals + the pair fan-out
    val totals = fpSrc.groupBy("source").agg(count(lit(1)).as("n_fps"))
    val pairs = fpSrc.groupBy("fp")
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
      .filter(size(col("srcs")) >= 2)
      .select(explode(expr(
        """flatten(transform(srcs, (a, i) ->
          |  transform(slice(srcs, i + 2, size(srcs)), b -> struct(a, b))))"""
          .stripMargin)).as("p"))
      .groupBy(col("p.a").as("source_a"), col("p.b").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    pairs
      .join(totals.select(col("source").as("source_a"), col("n_fps").as("n_a")), "source_a")
      .join(totals.select(col("source").as("source_b"), col("n_fps").as("n_b")), "source_b")
      .withColumn("jaccard", col("n_shared").cast("double")
        / (col("n_a") + col("n_b") - col("n_shared")).cast("double"))
      .select(col("source_a"), col("source_b"), col("n_shared"),
        col("n_a"), col("n_b"), col("jaccard"))
  }

  /** MinHash signatures: doc_id → array of n per-family minima, computed by
    * the native [[graft.functions.MinHashSigExpr]] kernel in one compiled
    * pass per document — map-only, no shuffle (the earlier explode → n-way
    * min-aggregate form paid a full shuffle of one row per shingle).
    * Zero-shingle docs carry a NULL signature (callers filter them). */
  private[graft] def minhashSigs(docs: DataFrame, shingleK: Int, n: Int): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.TextHashExpressions.minhashSig(col("text"), shingleK, n).as("sig"))

  /** C2: MinHash + LSH near-dup pairs with verified signature similarity.
    * bands × rows = signature length; identical band hash → candidate.
    * Candidates are verified inside their (band, bucket) by the block-pair
    * kernel ([[graft.plans.BlockPairs]]): each banded row carries its
    * signature and every band's bucket, a pair sharing several bands is
    * emitted once (by its lowest), and `est_jaccard` is its signature
    * agreement. The signatures are computed once and shuffled once, one
    * row per (document, band). */
  def minhashLsh(spark: SparkSession, dir: String,
                 shingleK: Int = 3, numHashes: Int = 16, bands: Int = 4,
                 threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0,
      s"bands=$bands must divide numHashes=$numHashes (trailing hashes would be silently un-banded)")
    val banded = minhashSigs(Tables.documents(spark, dir), shingleK, numHashes)
      .filter(col("sig").isNotNull)
      .select(col("doc_id"), col("sig"), bandKeys(bands, numHashes / bands).as("keys"))
      .select(col("doc_id"), col("sig"), col("keys"), // _outer: see lshPairsOf
        posexplode_outer(col("keys")).as(Seq("band", "bucket")))
    graft.plans.BlockPairs(banded, Seq("band", "bucket"), "doc_id",
      graft.plans.BlockPairs.Agreement("sig", numHashes), threshold, "est_jaccard",
      Some(graft.plans.BlockPairs.FirstCollision("band", "keys")))
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
  }

  /** Incremental NEAR-dup — the nightly-ingest shape of [[minhashLsh]]: a
    * new batch (doc_id ≥ cut, same convention as [[dedupIncremental]]) is
    * checked against the existing corpus without ever re-pairing
    * existing×existing. Band buckets join existing←→batch only, plus the
    * batch's internal self-join — so the per-ingest cost is O(batch) band
    * rows probing the existing bucket table, not O(corpus²). The existing
    * side's (doc_id, band, bucket, sig) table is exactly the artifact a
    * deployment persists between ingests (the signature store), mirroring
    * the IVF/PQ encode-once pattern. Output: batch doc pairs with their
    * matched (existing or batch) counterpart at est_jaccard ≥ threshold. */
  def minhashLshIncremental(spark: SparkSession, dir: String,
                            shingleK: Int = 3, numHashes: Int = 16,
                            bands: Int = 4, threshold: Double = 0.5): DataFrame =
    minhashLshIncrementalOf(Tables.documents(spark, dir),
      shingleK, numHashes, bands, threshold)

  private[graft] def minhashLshIncrementalOf(docs: DataFrame, shingleK: Int = 3,
                                             numHashes: Int = 16, bands: Int = 4,
                                             threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0,
      s"bands=$bands must divide numHashes=$numHashes (trailing hashes would be silently un-banded)")
    val rows = numHashes / bands
    val cut = docs.agg(expr("max(doc_id) * 8 div 10").as("cut"))
    val sigs = minhashSigs(docs, shingleK, numHashes)
      .filter(col("sig").isNotNull)
      .crossJoin(broadcast(cut)).cache()
    val banded = sigs.select(col("doc_id"), col("cut"), posexplode(bandKeys(bands, rows)))
      .toDF("doc_id", "cut", "band", "bucket")
    val existingB = banded.filter(col("doc_id") < col("cut"))
      .select(col("doc_id"), col("band"), col("bucket"))
    val batchB = banded.filter(col("doc_id") >= col("cut"))
      .select(col("doc_id"), col("band"), col("bucket"))
    // batch probes existing buckets; batch-internal pairs via self-join of
    // the (small) batch band table — existing×existing never forms
    val crossCand = existingB.as("a").join(batchB.as("b"), Seq("band", "bucket"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
    val innerCand = batchB.as("a").join(batchB.as("b"), Seq("band", "bucket"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
    val cand = crossCand.unionByName(innerCand).distinct()
    cand
      .join(sigs.select(col("doc_id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigs.select(col("doc_id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .withColumn("est_jaccard",
        graft.functions.TextHashExpressions.sigAgree(col("sig_a"), col("sig_b"))
          .cast("double") / numHashes)
      .filter(col("est_jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
  }

  /** A signature's LSH bucket in every band: element b hashes the band's
    * `rows`-long minhash slice (seeded by b). */
  private def bandKeys(bands: Int, rows: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(slice(col("sig"), b * rows + 1, lit(rows)), b))

  /** Banded LSH keys for a signature table: one (doc_id, band, bucket) row
    * per band. */
  private def bandedOf(sigs: DataFrame, bands: Int, rows: Int): DataFrame =
    sigs.select(col("doc_id"), posexplode(bandKeys(bands, rows)))
      .toDF("doc_id", "band", "bucket")

  /** Persist the near-dup signature store: `storeDir/sigs.parquet`
    * (doc_id, sig) + `storeDir/bands.parquet` (doc_id, band, bucket) — the
    * between-ingest artifact [[minhashLshIncremental]] models. Signatures
    * are computed ONCE per document for the life of the corpus (the
    * encode-once pattern the ANN indexes use). */
  def writeSignatureStore(docs: DataFrame, storeDir: String,
                          shingleK: Int = 3, numHashes: Int = 16,
                          bands: Int = 4): Unit = {
    val spark = docs.sparkSession
    val sigs = minhashSigs(docs, shingleK, numHashes)
      .filter(col("sig").isNotNull).cache()
    try {
      sigs.write.mode("overwrite").parquet(s"$storeDir/sigs.parquet")
      bandedOf(sigs, bands, numHashes / bands)
        .write.mode("overwrite").parquet(s"$storeDir/bands.parquet")
      // LSH params ARE the store's identity: a mismatched ingest would hash
      // different slices and silently lose recall — persist + enforce
      import spark.implicits._
      Seq((shingleK, numHashes, bands)).toDF("shingle_k", "num_hashes", "bands")
        .write.mode("overwrite").parquet(s"$storeDir/params.parquet")
    } finally sigs.unpersist(blocking = false)
  }

  /** One ingest cycle against the persisted store: signature + band the NEW
    * batch only, pair it against the store's band table (plus the batch's
    * own self-join), verify candidates on signature agreement, and APPEND
    * the batch's signatures/bands so the next ingest sees this batch as
    * existing. Per-cycle cost is O(batch) signature work + band probes —
    * the store is never re-encoded. LSH parameters come from the store's
    * own `params.parquet` (a caller can't mis-band against it). Doc ids
    * already present in the store are skipped, so a retried batch neither
    * duplicates store rows nor emits self-pairs — its pairs were emitted by
    * the earlier attempt (at-most-once emission; callers needing exactly-
    * once land `verified` transactionally before re-running). Returns the
    * verified pairs. */
  def minhashLshIngest(newDocs: DataFrame, storeDir: String,
                       threshold: Double = 0.5): DataFrame = {
    val spark = newDocs.sparkSession
    val (numHashes, batchSigs, batchBands) = sigBandBatch(newDocs, storeDir)
    // pairing reads MASK tombstoned docs (C75); the admission anti-join in
    // sigBandBatch intentionally does not — deletes are final until compact
    val storeSigs = liveStoreSigs(spark, storeDir)
    val storeBands = liveStoreBands(spark, storeDir)
    val crossCand = storeBands.as("a").join(batchBands.as("b"), Seq("band", "bucket"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
    val innerCand = batchBands.as("a").join(batchBands.as("b"), Seq("band", "bucket"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
    val allSigs = storeSigs.unionByName(batchSigs)
    val verified = crossCand.unionByName(innerCand).distinct()
      .filter(col("id_a") =!= col("id_b"))
      .join(allSigs.select(col("doc_id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(allSigs.select(col("doc_id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .withColumn("est_jaccard",
        graft.functions.TextHashExpressions.sigAgree(col("sig_a"), col("sig_b"))
          .cast("double") / numHashes)
      .filter(col("est_jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
      .localCheckpoint(true) // materialize BEFORE the store grows below
    appendSigBands(storeDir, batchSigs, batchBands)
    verified
  }

  /** Signature + band a batch against the store's own LSH params, skipping
    * doc ids already present, both tables checkpointed so the store appends
    * can't race the lineage. Shared by [[minhashLshIngest]] and
    * [[ingestSignatures]]. Returns (numHashes, batchSigs, batchBands).
    *
    * localCheckpoint, NOT cache: the appends write into the very path the
    * anti-join reads, and Spark's recache-by-path would recompute a cached
    * batch as EMPTY mid-function (the first append makes the batch ids
    * "already present"); checkpointing truncates the lineage so the batch
    * is pinned before the store mutates. */
  private def sigBandBatch(newDocs: DataFrame,
                           storeDir: String): (Int, DataFrame, DataFrame) = {
    val spark = newDocs.sparkSession
    val p = spark.read.parquet(s"$storeDir/params.parquet").head()
    val (shingleK, numHashes, bands) =
      (p.getAs[Int]("shingle_k"), p.getAs[Int]("num_hashes"), p.getAs[Int]("bands"))
    require(numHashes % bands == 0,
      s"bands=$bands must divide numHashes=$numHashes (trailing hashes would be silently un-banded)")
    val storeSigs = StoreFiles.table(spark, s"$storeDir/sigs.parquet")
    val batchSigs = minhashSigs(newDocs, shingleK, numHashes)
      .filter(col("sig").isNotNull)
      .dropDuplicates("doc_id") // a doubly-staged batch row must not land twice
      .join(storeSigs.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    val batchBands = bandedOf(batchSigs, bands, numHashes / bands).localCheckpoint(true)
    (numHashes, batchSigs, batchBands)
  }

  /** bands BEFORE sigs: the retry admission check is the sigs anti-join,
    * so a crash between the two appends must leave the doc ABSENT from
    * sigs (retry re-ingests it; the candidate .distinct() absorbs the
    * duplicated band rows). The reverse order would leave docs present in
    * sigs but bandless — permanently invisible to candidate generation. */
  private def appendSigBands(storeDir: String, batchSigs: DataFrame,
                             batchBands: DataFrame): Unit = {
    batchBands.write.mode("append").parquet(s"$storeDir/bands.parquet")
    batchSigs.write.mode("append").parquet(s"$storeDir/sigs.parquet")
  }

  /** The MUTATION half of [[minhashLshIngest]] alone: append a batch's
    * signatures + band rows to the persisted store, emitting no pairs.
    * Idempotent per doc id (already-present ids are skipped), same
    * bands-before-sigs crash ordering. Callers that must survive a crash
    * BETWEEN this append and their own downstream commit marker pair via
    * [[pairsFromStore]], which reads the persisted store and therefore
    * returns the same pairs on a retry — whereas a combined
    * ingest-and-pair call returns ZERO pairs for a batch the crashed
    * attempt already appended (every doc skips the anti-join), silently
    * disabling near-dup detection on exactly the re-run path. */
  def ingestSignatures(newDocs: DataFrame, storeDir: String): Unit = {
    val (_, batchSigs, batchBands) = sigBandBatch(newDocs, storeDir)
    appendSigBands(storeDir, batchSigs, batchBands)
  }

  /** Verified near-dup pairs for `batchIds`, derived from the PERSISTED
    * signature store — the batch must already be ingested (via
    * [[ingestSignatures]] or [[minhashLshIngest]], this run or a crashed
    * earlier one; both are idempotent, so calling ingest again first is
    * always safe). Output orientation matches [[minhashLshIngest]]:
    * external pairs (id_a = existing, id_b = batch), batch-internal pairs
    * id_a < id_b. Cost: the batch's band rows (a semi-join on the store's
    * band table) probe the full band table once — O(batch · bands) probe
    * rows against bucketed candidates, never existing × existing. */
  def pairsFromStore(batchIds: DataFrame, storeDir: String,
                     threshold: Double = 0.5): DataFrame = {
    val spark = batchIds.sparkSession
    val numHashes =
      spark.read.parquet(s"$storeDir/params.parquet").head().getAs[Int]("num_hashes")
    val storeSigs = liveStoreSigs(spark, storeDir) // C75: forgotten docs masked
    val storeBands = liveStoreBands(spark, storeDir)
    val ids = batchIds.select(col("doc_id")).distinct()
    val batchBands = storeBands.join(ids, Seq("doc_id"), "left_semi")
    val cand = storeBands.as("a").join(batchBands.as("b"), Seq("band", "bucket"))
      .filter(col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
    // batch-internal matches surface in both orientations — canonicalize to
    // id_a < id_b; external pairs keep (existing, batch)
    val inBatch = ids.withColumnRenamed("doc_id", "id_a")
    val internal = cand.join(inBatch, Seq("id_a"), "left_semi")
      .filter(col("id_a") < col("id_b"))
    val external = cand.join(inBatch, Seq("id_a"), "left_anti")
    internal.unionByName(external).distinct()
      .join(storeSigs.select(col("doc_id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(storeSigs.select(col("doc_id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .withColumn("est_jaccard",
        graft.functions.TextHashExpressions.sigAgree(col("sig_a"), col("sig_b"))
          .cast("double") / numHashes)
      .filter(col("est_jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
  }

  // ---- Signature-store takedown (C75) -----------------------------------

  /** C75: takedown for the persisted near-dup signature store — the
    * retention half of the ingest lifecycle, the C74 tombstone design
    * applied to document state: forgotten doc_ids append to
    * `storeDir/tombstones.parquet` (O(ids), no store rewrite) and every
    * PAIRING read ([[minhashLshIngest]], [[pairsFromStore]]) masks them
    * out, so a forgotten doc immediately stops producing candidate pairs.
    * The ingest admission check stays on the RAW id set — deletes are
    * final until [[signatureStoreCompact]], so a pre-compact re-ingest of
    * a forgotten id is a no-op rather than a silent resurrection.
    * Idempotent: already-tombstoned / never-stored ids append nothing.
    * Returns the NEWLY tombstoned ids. */
  def signatureStoreForget(ids: DataFrame, storeDir: String): DataFrame = {
    val spark = ids.sparkSession
    val present = StoreFiles.table(spark, s"$storeDir/sigs.parquet")
      .select(col("doc_id"))
    val newTombs = ids.select(col("doc_id")).distinct()
      .join(present, Seq("doc_id"), "left_semi")
      .join(sigTombstones(spark, storeDir), Seq("doc_id"), "left_anti")
      .localCheckpoint(true) // materialize before the append
    newTombs.write.mode("append").parquet(s"$storeDir/tombstones.parquet")
    newTombs
  }

  /** Fold tombstones into the signature store: swap sigs + bands to live
    * rows ([[StoreFiles.replace]]) and clear the tombstone set — after this
    * a forgotten id may be re-ingested. Tombstones are removed LAST, so a
    * crash between the swaps leaves every read path (masked or not) still
    * correct on retry. Returns the number of documents dropped. */
  def signatureStoreCompact(spark: SparkSession, storeDir: String): Long = {
    val n = sigTombstones(spark, storeDir).count()
    if (n > 0) {
      StoreFiles.replace(spark, s"$storeDir/bands.parquet")(
        liveStoreBands(spark, storeDir).write.parquet(_))
      StoreFiles.replace(spark, s"$storeDir/sigs.parquet")(
        liveStoreSigs(spark, storeDir).write.parquet(_))
      StoreFiles.remove(spark, s"$storeDir/tombstones.parquet")
    }
    n
  }

  private def sigTombstones(spark: SparkSession, storeDir: String): DataFrame =
    StoreFiles.optional(spark, s"$storeDir/tombstones.parquet")
      .fold(spark.range(0).select(col("id").as("doc_id")))(_.select(col("doc_id")))

  private def liveStoreSigs(spark: SparkSession, storeDir: String): DataFrame =
    StoreFiles.table(spark, s"$storeDir/sigs.parquet")
      .join(sigTombstones(spark, storeDir), Seq("doc_id"), "left_anti")

  private def liveStoreBands(spark: SparkSession, storeDir: String): DataFrame =
    StoreFiles.table(spark, s"$storeDir/bands.parquet")
      .join(sigTombstones(spark, storeDir), Seq("doc_id"), "left_anti")

  /** SimHash per doc via the native [[graft.functions.SimHashExpr]] kernel —
    * map-only (the earlier explode → 64 sign-sum aggregates paid a
    * one-row-per-token shuffle). NULL for zero-token docs. */
  private[graft] def simhashes(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.TextHashExpressions.simhash64(col("text")).as("sh"))

  /** C3: SimHash near-dup pairs within hamming distance `maxDist`. */
  def simhashPairs(spark: SparkSession, dir: String, maxDist: Int = 3,
                   bucketCap: Int = 1000): DataFrame =
    simhashPairsFromSigs(
      simhashes(Tables.documents(spark, dir)).filter(col("sh").isNotNull),
      maxDist, bucketCap)

  /** SimHash LSH over precomputed (doc_id, sh) signatures.
    *
    * Primary blocking: 4×16-bit chunks — by pigeonhole any pair within
    * hamming ≤3 shares at least one chunk, so candidate generation is a
    * key-partitioned self-join, never all-pairs.
    *
    * Skew guard: a popular 16-bit chunk value (a common prefix/boilerplate
    * pattern, or an adversarial corpus) would make that bucket's self-join
    * quadratic. Buckets larger than `bucketCap` are re-blocked on a
    * SECONDARY key: the remaining 48 bits split into 4×12-bit sub-chunks —
    * again by pigeonhole (≤3 errors can't touch all 4 sub-chunks, since the
    * primary chunk matched exactly), a qualifying pair shares ≥1 sub-chunk,
    * so recall is preserved while the join key space within the hot bucket
    * fans out 4×2¹² ways. Worst case remaining: truly identical signatures,
    * where the pair OUTPUT itself is quadratic and no blocking can help.
    * Candidate bound: ≤ 4 buckets/doc primary + 16 (chunk,sub) keys/doc in
    * oversized buckets; exact hamming verification keeps output identical
    * for any cap. */
  private[graft] def simhashPairsFromSigs(sigs: DataFrame, maxDist: Int = 3,
                                          bucketCap: Int = 1000): DataFrame = {
    // the 4×16 blocking below guarantees recall only to hamming 3
    // (pigeonhole: 4 chunks tolerate 3 errors) — wider radii re-block on
    // maxDist+1-chunk granularity instead of silently losing pairs
    require(maxDist <= 15, s"radius $maxDist > 15: 16×4-bit blocking ceiling")
    if (maxDist > 3) return simhashPairsWide(sigs, maxDist)
    // cached: consumed by the bucket census AND the join branches — without
    // it each branch re-runs the scan + signature kernel. 4 fixed-width rows
    // per doc, spillable at scale.
    val chunked = sigs.select(col("doc_id"), col("sh"),
      posexplode(transform(sequence(lit(0), lit(3)),
        c => call_function("shiftright", col("sh"), c * 16).bitwiseAND(0xFFFFL))))
      .toDF("doc_id", "sh", "chunk", "bucket").cache()

    def pairsOn(df: DataFrame, keys: Seq[String]): DataFrame = {
      val a = df.select(keys.map(col) ++ Seq(col("doc_id").as("id_a"), col("sh").as("sh_a")): _*)
      val b = df.select(keys.map(col) ++ Seq(col("doc_id").as("id_b"), col("sh").as("sh_b")): _*)
      a.join(b, keys).filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), col("sh_a"), col("sh_b"))
    }

    // Census of OVER-CAP buckets only: a partial-aggregatable groupBy whose
    // output is bounded by the 4·2¹⁶ key space at ANY corpus size, so the
    // driver check and the broadcast below are scale-safe. The common
    // no-skew case short-circuits to the plain one-join plan — it no longer
    // pays the guard's join (which had doubled the operator's cost).
    val hot = chunked.groupBy("chunk", "bucket").agg(count(lit(1)).as("bn"))
      .filter(col("bn") > bucketCap)

    val candidates = if (hot.isEmpty) pairsOn(chunked, Seq("chunk", "bucket"))
    else {
      // hot-bucket membership rides a broadcast left join (bn null = small)
      val flagged = chunked.join(broadcast(hot), Seq("chunk", "bucket"), "left")
      val small = pairsOn(flagged.filter(col("bn").isNull), Seq("chunk", "bucket"))

      // oversized buckets: drop the matched 16-bit chunk out of sh, then
      // block on 4×12-bit sub-chunks of the remaining 48 bits. chunk==3
      // needs its own arm because a JVM shift of 64 is a shift of 0.
      val low = col("sh").bitwiseAND(
        call_function("shiftleft", lit(1L), col("chunk") * 16) - 1)
      val high = call_function("shiftleft",
        call_function("shiftrightunsigned", col("sh"), (col("chunk") + 1) * 16),
        col("chunk") * 16)
      val rem = when(col("chunk") === 3, col("sh").bitwiseAND(lit(0xFFFFFFFFFFFFL)))
        .otherwise(high.bitwiseOR(low))
      val large = pairsOn(
        flagged.filter(col("bn").isNotNull)
          .withColumn("rem", rem)
          .select(col("doc_id"), col("sh"), col("chunk"), col("bucket"),
            posexplode(transform(sequence(lit(0), lit(3)),
              j => call_function("shiftright", col("rem"), j * 12).bitwiseAND(0xFFFL))))
          .toDF("doc_id", "sh", "chunk", "bucket", "sub", "subbucket"),
        Seq("chunk", "bucket", "sub", "subbucket"))
      small.union(large)
    }

    candidates.distinct()
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long"))
      .filter(col("hamming") <= maxDist)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Radii 4–15: pigeonhole needs maxDist+1 blocks, so block on 8×8-bit
    * (≤7) or 16×4-bit (≤15) chunks. The per-chunk key space shrinks to
    * 2⁸/2⁴ values — buckets approach corpus/256 (or /16) and the join
    * tends toward all-pairs, so this is the small-corpus/diagnostic path;
    * production near-dup radii are ≤3 (the skew-guarded 4×16 path above).
    * Exact hamming verification keeps the OUTPUT correct for any radius;
    * what the wider blocking buys is candidate COMPLETENESS. */
  private def simhashPairsWide(sigs: DataFrame, maxDist: Int): DataFrame = {
    val chunks = if (maxDist <= 7) 8 else 16
    val width = 64 / chunks
    val mask = (1L << width) - 1
    val chunked = sigs.select(col("doc_id"), col("sh"),
      posexplode(transform(sequence(lit(0), lit(chunks - 1)),
        c => call_function("shiftright", col("sh"), c * width).bitwiseAND(lit(mask)))))
      .toDF("doc_id", "sh", "chunk", "bucket")
    val a = chunked.select(col("chunk"), col("bucket"),
      col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = chunked.select(col("chunk"), col("bucket"),
      col("doc_id").as("id_b"), col("sh").as("sh_b"))
    a.join(b, Seq("chunk", "bucket")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("sh_a"), col("sh_b")).distinct()
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long"))
      .filter(col("hamming") <= maxDist)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** C15: near-duplicate clusters — connected components over the LSH pair
    * graph via alternating large-star/small-star rounds (see
    * [[clustersFromPairsStars]]): O(log²) rounds in the component size, vs
    * O(diameter) for plain min-label propagation. */
  def neardupClusters(spark: SparkSession, dir: String,
                      maxIters: Int = 20, threshold: Double = 0.5): DataFrame =
    clustersFromPairsStars(minhashLsh(spark, dir, threshold = threshold)
      .select("id_a", "id_b"), maxIters)

  /** One star operation of the two-phase connected-components algorithm
    * (the standard MapReduce CC construction): for every node u with
    * m = min(Γ(u) ∪ {u}), large-star links u's LARGER neighbors to m
    * (shrinks tall structures by pointer-doubling-like jumps), small-star
    * links the smaller neighbors and u itself to m (flattens into stars).
    * Each operation is one groupBy(min) + one join — both partial-agg /
    * shuffle-on-key, no driver state. */
  private def star(e: DataFrame, large: Boolean): DataFrame = {
    val sym = e.select(col("src"), col("dst"))
      .union(e.select(col("dst").as("src"), col("src").as("dst")))
    val mins = sym.groupBy("src").agg(min(col("dst")).as("mn"))
      .select(col("src"), least(col("src"), col("mn")).as("m"))
    val nb =
      if (large) sym.filter(col("dst") > col("src"))
      else sym.filter(col("dst") < col("src"))
        .union(mins.select(col("src"), col("src").as("dst"))) // u links itself
    nb.join(mins, "src")
      .select(col("dst").as("src"), col("m").as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
  }

  /** Connected components via alternating large-star / small-star rounds —
    * converges in O(log² n) rounds regardless of component diameter (a
    * 1M-node chain needs ~20 rounds, not 1M), each round two shuffles.
    * Rounds end in `localCheckpoint` to truncate lineage. At convergence
    * the edge set is a star forest: every node points at its component
    * minimum. */
  private[graft] def clustersFromPairsStars(pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    var e = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .filter(col("src") =!= col("dst")).distinct().localCheckpoint()
    var eCount = e.count()
    var iters = 0
    var done = eCount == 0
    while (!done && iters < maxIters) {
      val next = star(star(e, large = true), large = false).localCheckpoint()
      val nextCount = next.count()
      // both sides are DISTINCT edge sets, so equal counts + one empty
      // one-sided difference ⟺ set equality: the count over the just-
      // materialized checkpoint is near-free and short-circuits the
      // exceptAll on every round where the edge set still shrank — only
      // candidate-converged rounds pay the set-difference job (the r3
      // symmetric exceptAll pair ran two of them every round).
      done = nextCount == eCount && next.exceptAll(e).isEmpty
      e = next
      eCount = nextCount
      iters += 1
    }
    e.select(col("src").as("id"), col("dst").as("label"))
      .union(e.select(col("dst").as("id"), col("dst").as("label"))) // roots
      .groupBy("id").agg(min(col("label")).as("cluster_id"))
  }

  /** Reference implementation: connected components via min-label
    * propagation — one shuffle join per round, O(component diameter) rounds.
    * Kept as the obviously-correct cross-check for
    * [[clustersFromPairsStars]] (spec compares them on random graphs); the
    * star algorithm is the shipped path. Each iteration ends in
    * `localCheckpoint`, truncating lineage so deep components don't grow
    * the plan tree. */
  private[graft] def clustersFromPairs(pairs: DataFrame, maxIters: Int = 10): DataFrame = {
    val edges = pairs
      .union(pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .toDF("src", "dst").cache()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")).localCheckpoint()
    var iters = 0
    var done = false
    while (!done && iters < maxIters) {
      val prop = edges.join(labels.withColumnRenamed("id", "dst_id"),
          col("dst") === col("dst_id"))
        .groupBy(col("src").as("id")).agg(min(col("label")).as("nbr_label"))
      val next = labels.join(prop, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"))
        .localCheckpoint()
      val changed = next.withColumnRenamed("label", "new_label")
        .join(labels, Seq("id"))
        .filter(col("new_label") =!= col("label")).count()
      labels = next
      done = changed == 0
      iters += 1
    }
    labels.withColumnRenamed("label", "cluster_id")
  }

  /** C16: the dedup keep-list — one canonical doc per near-dup cluster (the
    * cluster minimum), singleton docs keep themselves. */
  def keepList(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id")
    val clusters = neardupClusters(spark, dir)
    docs.join(clusters.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("canonical_id"))
      .withColumn("keep", col("doc_id") === col("canonical_id"))
  }

  /** C16b: canonical selection by QUALITY — [[keepList]] keeps the
    * min-doc_id representative; a curation pipeline keeps the BEST copy of
    * each near-dup cluster instead. The winner is argmax(quality, then min
    * doc_id) per cluster via one partial-aggregatable max(struct) — no
    * per-cluster sort. Singleton docs are their own canonical. Output one
    * row per doc: (doc_id, canonical_id, keep). */
  def keepListByQuality(spark: SparkSession, dir: String,
                        threshold: Double = 0.5): DataFrame = {
    val q = TextOps.quality(spark, dir).select(col("doc_id"), col("quality"))
    val clusters = neardupClusters(spark, dir, threshold = threshold)
      .withColumnRenamed("id", "doc_id")
    val member = q.join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"), col("quality"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster"))
    val winners = member.groupBy("cluster")
      .agg(max(struct(col("quality"), (-col("doc_id")).as("neg_id"))).as("best"))
      .select(col("cluster"), (-col("best.neg_id")).as("canonical_id"))
    member.join(winners, "cluster")
      .select(col("doc_id"), col("canonical_id"),
        (col("doc_id") === col("canonical_id")).as("keep"))
  }

  /** Incremental dedup — the corpus-growth path: a NEW batch of documents
    * (doc_id ≥ cut, the top 20% of the id range here) is admitted only where
    * its normalized fingerprint is absent from the EXISTING corpus, with
    * batch-internal first-writer-wins on top. The existing side ships only
    * distinct digests (≈16 bytes/doc) into a left-anti join on the digest
    * shuffle key — the growth step never re-reads existing text, which is
    * what makes nightly ingestion against a 100 TB corpus viable. The cut
    * is integer arithmetic (max·8 div 10) so both engines derive the exact
    * same split. */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame =
    dedupIncrementalOf(Tables.documents(spark, dir))

  private[graft] def dedupIncrementalOf(docs: DataFrame): DataFrame = {
    // null text excluded: a NULL fingerprint would glue all unknown-content
    // docs into one "duplicate" group at the final fp groupBy
    val fps = docs.filter(col("text").isNotNull).select(col("doc_id"),
      graft.functions.TextFunctions.fingerprint(col("text")).as("fp"))
    // single-row scalar: constant-size broadcast, policy-compliant
    val cut = fps.agg(expr("max(doc_id) * 8 div 10").as("cut"))
    val tagged = fps.crossJoin(broadcast(cut))
    val existing = tagged.filter(col("doc_id") < col("cut"))
      .select(col("fp").as("e_fp")).distinct()
    tagged.filter(col("doc_id") >= col("cut"))
      .select(col("doc_id"), col("fp"))
      .join(existing, col("fp") === col("e_fp"), "left_anti")
      .groupBy("fp").agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("fp"))
  }

  // ---- C113 Bloom membership store -----------------------------------------

  /** C113: BLOOM dedup store (Bloom 1970; Kirsch–Mitzenmacher double
    * hashing as shipped in Spark's own `util.sketch.BloomFilter`, public)
    * — the CONSTANT-SIZE alternative to C30's growing fingerprint list:
    * the crawl-frontier trade (URL-seen tests, ingest pre-screens) where
    * "have I seen this exact content" may answer yes wrongly at a stated
    * rate ε but the store must stay ~1.2 bytes/key at ANY corpus size and
    * the probe must stay map-only. Keys are xxhash64(md5(text)) longs
    * (the InjectRuntimeFilter keying, shared with C113b; r11 — the
    * earlier putString keying rode `stat.bloomFilter`, whose treeAggregate
    * ships a PRE-ALLOCATED filter as the zero value in every task
    * closure: the build-side twin of the probe-transport bug). The filter
    * is built by Spark's own `BloomFilterAggregate` (TypedImperativeAggregate
    * — partials allocate executor-side and bit-OR through the agg
    * exchange as data; order-free, byte-canonical under any partitioning)
    * and persists as a raw byte file with its parameters beside it. */
  // ---- raw-file store I/O (C113/C113b): the filter bytes stream between
  // the driver and the store path through Hadoop's FileSystem (hdfs://,
  // s3a://), NEVER through a single-row DataFrame — a local-relation write
  // ships the bytes as one task's binary (TaskSetManager warnings at MB
  // filters, an unworkable task at GB production geometry). Meta (sizing
  // params) stays a tiny parquet row beside it. The file IS the store, with
  // no rebuild source, so every rewrite swaps through
  // StoreFiles.writeBytes: a crash mid-write never leaves a truncated filter.
  private def readStoreBytes(spark: SparkSession, path: String): Array[Byte] = {
    val legacy = path.stripSuffix(".bin") + ".parquet"
    // r11 advice: the store format changed incompatibly in r11 (single-row
    // parquet + putString(md5) -> raw .bin + meta + putLong(xxhash64(md5)));
    // a stale directory must fail loudly, not with a raw missing-file error
    if (!StoreFiles.exists(spark, path) && StoreFiles.exists(spark, legacy))
      sys.error(s"filter store at $path predates the r11 bin+meta " +
        s"format (found legacy $legacy, whose putString keying is " +
        "incompatible with the current xxhash64 keying): rebuild the " +
        "store with writeBloomStore/writeCountingBloomStore")
    StoreFiles.readBytes(spark, path)
  }

  private def writeFilterMeta(spark: SparkSession, path: String,
                              expectedItems: Long, fpp: Double): Unit =
    spark.range(1)
      .select(lit(expectedItems).as("expected_items"), lit(fpp).as("fpp"))
      .coalesce(1).write.mode("overwrite").parquet(path)

  /** Distributed build over the md5→xxhash64 key column (the C113b keying,
    * now shared by both stores — the InjectRuntimeFilter discipline:
    * hashing is a plan expression, the aggregate folds bare longs).
    * Returns serialized bytes; an EMPTY input yields the empty filter of
    * the same geometry (byte-compatible with every later merge). */
  private def buildBloomBytes(keyed: DataFrame, expectedItems: Long,
                              fpp: Double): Array[Byte] = {
    val row = keyed
      .agg(graft.functions.TextHashExpressions
        .bloomAgg(col("h"), expectedItems, fpp).as("f"))
      .head()
    if (!row.isNullAt(0)) row.getAs[Array[Byte]]("f")
    else { // zero rows: the aggregate yields null — substitute the empty
      // filter at the EXACT geometry the aggregate would have used (same
      // unrounded numBits), so it merges with any later agg-built batch
      val bits = org.apache.spark.util.sketch.BloomFilter
        .optimalNumOfBits(expectedItems, fpp)
      val bos = new java.io.ByteArrayOutputStream()
      org.apache.spark.util.sketch.BloomFilter.create(expectedItems, bits)
        .writeTo(bos)
      bos.toByteArray
    }
  }

  private def bloomKeys(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("source"),
        xxhash64(md5(expr("encode(text, 'UTF-8')"))).as("h"))

  def writeBloomStore(docs: DataFrame, storeDir: String,
                      expectedItems: Long = 1L << 20,
                      fpp: Double = 0.01): Unit = {
    val spark = docs.sparkSession
    val bytes = buildBloomBytes(bloomKeys(docs), expectedItems, fpp)
    StoreFiles.writeBytes(spark, s"$storeDir/bloom.bin", bytes)
    writeFilterMeta(spark, s"$storeDir/bloom_meta.parquet", expectedItems, fpp)
  }

  /** C113: batch screen + fold-in — probe the batch against the stored
    * filter (map-only: the filter rides a BROADCAST variable into the
    * codegen'd `bloom_contains` kernel — one deserialize per executor,
    * task binaries carry only the handle; no join at all), report
    * per-source seen/novel counts (seen may over-count by ≤ ε — the
    * documented Bloom trade; novel is never wrong), then OR the batch's
    * own filter into the store so the next batch sees it. Per-ingest
    * cost: one batch scan + one KB-to-MB-sized store rewrite — ZERO reads
    * of prior corpus data, at any history length (the property the
    * hash-list store can't have). */
  def bloomIngest(batch: DataFrame, storeDir: String): DataFrame = {
    val spark = batch.sparkSession
    val meta = spark.read.parquet(s"$storeDir/bloom_meta.parquet").head()
    val bytes = readStoreBytes(spark, s"$storeDir/bloom.bin")
    val bfBcast = spark.sparkContext.broadcast(
      org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(bytes)))
    val keyed = bloomKeys(batch)
      .withColumn("seen",
        graft.functions.TextHashExpressions.bloomContains(col("h"), bfBcast))
      .localCheckpoint(true) // the report and the fold-in both consume it
    val out = keyed.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("seen"), lit(1))).as("n_seen"),
        count(when(!col("seen"), lit(1))).as("n_novel"))
      .withColumn("novelty",
        col("n_novel").cast("double") / col("n_docs").cast("double"))
    // fold the batch in: same (expected, fpp) ⇒ compatible bit arrays
    val batchBytes = buildBloomBytes(keyed,
      meta.getAs[Long]("expected_items"), meta.getAs[Double]("fpp"))
    val merged = org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bytes))
    merged.mergeInPlace(org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(batchBytes)))
    val bos = new java.io.ByteArrayOutputStream()
    merged.writeTo(bos)
    StoreFiles.writeBytes(spark, s"$storeDir/bloom.bin", bos.toByteArray)
    // r11 advice: a long-lived session ingesting many batches must not
    // accumulate MB-sized filter broadcasts and checkpoint blocks until
    // the GC-driven ContextCleaner runs — materialize the (per-source-
    // sized) report off the checkpoint, then free both eagerly
    val result = out.localCheckpoint(true)
    org.apache.spark.sql.GraftShims.unpersistCheckpoint(keyed)
    bfBcast.destroy()
    result
  }

  /** C117: ROUGE-L scoring of the C2 near-dup candidates (Lin 2004,
    * public — the eval-metric read on a dedup verdict: MinHash estimates
    * SET overlap, ROUGE-L's token-level longest common subsequence
    * measures how much of the text survives IN ORDER, separating true
    * rewrites/quotes from bag-of-words coincidences; the score every
    * summarization/leaderboard hygiene check quotes): per candidate pair,
    * P = LCS/|b|, R = LCS/|a|, F = 2PR/(P+R) over whitespace tokens
    * capped at `cap` per side (the documented truncation — O(cap²) per
    * pair bounds the DP regardless of document length).
    *
    * The LCS runs as the codegen `lcs_tokens` kernel (no UDF — the
    * naive SQL formulation is a quadratic self-join per pair; the DP is
    * exactly the §5.5 kernel-boundary rule), with `n_tokens_capped`
    * sharing its tokenization so the denominators count what the
    * numerator saw. P/R/F are single divisions of exact ints.
    *
    * Scale: pair volume is C2's banded candidate set (never all-pairs);
    * per-pair cost a fixed cap² DP inside WSCG; the text join is two
    * doc_id-keyed joins. */
  def rougePairs(spark: SparkSession, dir: String,
                 cap: Int = 256): DataFrame =
    rougeScoreOf(minhashLsh(spark, dir),
      Tables.documents(spark, dir), cap)

  /** C117b (r10): ROUGE-L served from the PERSISTED signature store —
    * candidates pair from the stored band table and verify on stored
    * signatures (zero shingling/minhash recomputation; the C71/C12c
    * serve-many discipline applied to the adjudication layer), then the
    * texts join by id for the LCS pass. Row-identical to [[rougePairs]]
    * when the store was written with the live defaults (spec-pinned) —
    * so re-adjudicating a corpus after a cap/threshold policy change
    * costs one text join + DP pass, never a re-shingle. Tombstoned docs
    * drop out via the store's live views. */
  def rougePairsFromStore(spark: SparkSession, dir: String, storeDir: String,
                          threshold: Double = 0.5, cap: Int = 256): DataFrame = {
    val numHashes = spark.read.parquet(s"$storeDir/params.parquet")
      .head().getAs[Int]("num_hashes")
    val sigs = liveStoreSigs(spark, storeDir)
    val bands = liveStoreBands(spark, storeDir)
    val cand = bands.as("a").join(bands.as("b"), Seq("band", "bucket"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    val pairs = cand
      .join(sigs.select(col("doc_id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigs.select(col("doc_id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .withColumn("est_jaccard",
        graft.functions.TextHashExpressions.sigAgree(col("sig_a"), col("sig_b"))
          .cast("double") / numHashes)
      .filter(col("est_jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
    rougeScoreOf(pairs, Tables.documents(spark, dir), cap)
  }

  /** The shared C117 scoring pass over any (id_a, id_b, est_jaccard)
    * candidate table: text join + capped two-row-DP LCS kernel + exact
    * P/R/F arithmetic. */
  private def rougeScoreOf(pairs: DataFrame, documents: DataFrame,
                           cap: Int): DataFrame = {
    import graft.functions.TextHashExpressions.{lcsTokens, nTokensCapped}
    val docs = documents
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
    pairs
      .join(docs.select(col("doc_id").as("id_a"), col("text").as("text_a")),
        "id_a")
      .join(docs.select(col("doc_id").as("id_b"), col("text").as("text_b")),
        "id_b")
      .withColumn("lcs",
        lcsTokens(col("text_a"), col("text_b"), cap).cast("long"))
      .withColumn("n_a", nTokensCapped(col("text_a"), cap).cast("long"))
      .withColumn("n_b", nTokensCapped(col("text_b"), cap).cast("long"))
      .filter(col("n_a") > 0 && col("n_b") > 0)
      .withColumn("rouge_r",
        col("lcs").cast("double") / col("n_a").cast("double"))
      .withColumn("rouge_p",
        col("lcs").cast("double") / col("n_b").cast("double"))
      .withColumn("rouge_l_f",
        when(col("lcs") > 0,
          lit(2.0) * col("rouge_p") * col("rouge_r") /
            (col("rouge_p") + col("rouge_r"))).otherwise(lit(0.0)))
      .select(col("id_a"), col("id_b"), col("est_jaccard"), col("lcs"),
        col("n_a"), col("n_b"), col("rouge_p"), col("rouge_r"),
        col("rouge_l_f"))
  }

  // ---- C113b counting-Bloom membership store (deletion-capable) -----------

  /** C113b: COUNTING Bloom store (Fan et al. 2000, public) — the takedown
    * answer to C113's documented limitation: a plain Bloom filter cannot
    * unlearn, so GDPR/DMCA removal forced a periodic rebuild from the
    * authoritative store; counters subtract instead. Same keying as C113
    * (md5(text) → xxhash64), same broadcast probe kernel discipline
    * (`cbf_contains` rides WSCG off a Broadcast variable, no join), same
    * store shape. The filter
    * REFCOUNTS: duplicate docs increment the same key's counters, one
    * forget decrements once, so a text stays "seen" until every holder is
    * forgotten — the multiset semantics a dedup screen over a corpus with
    * organic duplicates actually wants. Costs 4 bytes/counter vs 1 bit
    * (the published 32× price of deletability) — C113 stays the
    * append-only default. */
  def writeCountingBloomStore(docs: DataFrame, storeDir: String,
                              expectedItems: Long = 1L << 16,
                              fpp: Double = 0.01): Unit = {
    import graft.functions.CountingBloomFunctions._
    val spark = docs.sparkSession
    val (m, k) = graft.functions.CountingBloom.geometry(expectedItems, fpp)
    val bytes = bloomKeys(docs)
      .agg(cbfAgg(col("h"), m, k).as("f"))
      .head().getAs[Array[Byte]]("f")
    StoreFiles.writeBytes(spark, s"$storeDir/cbloom.bin", bytes)
    writeFilterMeta(spark, s"$storeDir/cbloom_meta.parquet", expectedItems, fpp)
  }

  /** C113b: batch screen + fold-in — C113's ingest with counter ADDITION
    * as the merge. Per-ingest cost: one batch scan + one store-sized
    * rewrite, zero reads of prior corpus data.
    *
    * REFCOUNT semantics, by design (ADVICE r9 adjudication): the screen
    * tests each row against the PRE-batch store only, so N copies of a
    * new text inside one batch all report `seen=false` (n_novel counts
    * each copy) while the fold-in increments the key's counters N times.
    * That is the multiset contract the store doc declares — every holder
    * must be forgotten before the key probes absent — and the novelty
    * report mirrors it: n_novel is "rows not yet held by the store", not
    * "distinct new texts". Callers wanting distinct-text novelty dedup
    * the batch by hash first (doc_dedup_exact) — composing the two
    * operators, not a second mode here. */
  def countingBloomIngest(batch: DataFrame, storeDir: String): DataFrame = {
    import graft.functions.CountingBloomFunctions._
    val spark = batch.sparkSession
    val bytes = readStoreBytes(spark, s"$storeDir/cbloom.bin")
    val old = graft.functions.CountingBloom.deserialize(bytes)
    // integrity check (r11 self-review — the meta must be load-bearing,
    // not provenance that can silently drift): the persisted sizing params
    // must re-derive the filter's actual geometry
    val meta = spark.read.parquet(s"$storeDir/cbloom_meta.parquet").head()
    val expect = graft.functions.CountingBloom.geometry(
      meta.getAs[Long]("expected_items"), meta.getAs[Double]("fpp"))
    require(expect == ((old.m, old.k)),
      s"cbloom store corrupt: meta ${meta.mkString(",")} derives geometry " +
        s"$expect but the filter is (${old.m}, ${old.k})")
    // broadcast a SEPARATE deserialization: `old` feeds the driver-side
    // fold-in arithmetic; the broadcast copy must stay immutable
    val cbfBcast = spark.sparkContext.broadcast(
      graft.functions.CountingBloom.deserialize(bytes))
    val keyed = bloomKeys(batch)
      .withColumn("seen", cbfContains(col("h"), cbfBcast))
      .localCheckpoint(true) // the report and the fold-in both consume it
    val out = keyed.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("seen"), lit(1))).as("n_seen"),
        count(when(!col("seen"), lit(1))).as("n_novel"))
      .withColumn("novelty",
        col("n_novel").cast("double") / col("n_docs").cast("double"))
    val batchBytes = keyed.agg(cbfAgg(col("h"), old.m, old.k).as("f"))
      .head().getAs[Array[Byte]]("f")
    StoreFiles.writeBytes(spark, s"$storeDir/cbloom.bin",
      graft.functions.CountingBloom.add(bytes, batchBytes))
    // free the filter broadcast + batch checkpoint eagerly (see bloomIngest)
    val result = out.localCheckpoint(true)
    org.apache.spark.sql.GraftShims.unpersistCheckpoint(keyed)
    cbfBcast.destroy()
    result
  }

  /** C113b: TAKEDOWN — subtract the batch's own filter from the store
    * (exact integer counter arithmetic: add-then-forget is BYTE-EQUAL to
    * never-added, spec-pinned), so forgotten keys probe absent while
    * every surviving key keeps its guarantee of no false negatives.
    * Callers pass docs from the authoritative store (the C30/C113
    * pairing) — subtracting a never-inserted key corrupts the filter,
    * the published caveat. Returns per-source forget counts. */
  def countingBloomForget(batch: DataFrame, storeDir: String): DataFrame = {
    import graft.functions.CountingBloomFunctions._
    val spark = batch.sparkSession
    val bytes = readStoreBytes(spark, s"$storeDir/cbloom.bin")
    val old = graft.functions.CountingBloom.deserialize(bytes)
    val keyed = bloomKeys(batch).localCheckpoint(true)
    val out = keyed.groupBy("source").agg(count(lit(1)).as("n_forgotten"))
    val batchBytes = keyed.agg(cbfAgg(col("h"), old.m, old.k).as("f"))
      .head().getAs[Array[Byte]]("f")
    StoreFiles.writeBytes(spark, s"$storeDir/cbloom.bin",
      graft.functions.CountingBloom.subtract(bytes, batchBytes))
    // free the batch checkpoint eagerly (see bloomIngest)
    val result = out.localCheckpoint(true)
    org.apache.spark.sql.GraftShims.unpersistCheckpoint(keyed)
    result
  }

  /** C4: exact word-n-gram Jaccard over ALL pairs sharing at least one
    * n-gram, via an inverted index (gram → doc) self-join — deterministic,
    * engine-agnostic semantics (SQL-oracle-gated). The intersection count is
    * a partial-aggregatable groupBy on (id_a, id_b); grams are hashed (one
    * 64-bit value per distinct shingle, never the strings) so the exchange
    * carries fixed-width rows.
    *
    * Scale note: pairs are generated per shared gram, so a gram appearing in
    * d docs contributes O(d²) candidate rows — fine while per-gram document
    * frequency is bounded (distinct k-shingles are near-unique in natural
    * text for k≥3). For corpora with massive boilerplate overlap, use
    * [[ngramJaccardLsh]], which verifies only MinHash-LSH candidates. */
  def ngramJaccard(spark: SparkSession, dir: String, k: Int = 3,
                   threshold: Double = 0.3): DataFrame = {
    // NOTE (r4, measured): carrying the set size through the inverted index
    // (kernel once, no size re-joins) was tried and REVERTED — on this
    // corpus the per-gram pair exchange dominates, and widening every
    // exchanged row by the size column cost ~8% at sf0.1; the second
    // (map-only) kernel pass on the small sizes branch is the cheaper side.
    val docs = Tables.documentsSpread(spark, dir)
    val inv = docs.select(col("doc_id"), explode(graft.functions.Barrier.noInline(
        graft.functions.TextHashExpressions.shingleHashes(col("text"), k))).as("g"))
    val sizes = docs.select(col("doc_id"),
      size(graft.functions.TextHashExpressions.shingleHashes(col("text"), k)).as("n"))
      .filter(col("n") > 0)
    // NOTE (r4, measured): a df≥2 gram prefilter (a gram held by one doc
    // can't pair) was tried and REVERTED — this corpus's small vocabulary
    // shares almost every gram, so the extra aggregation cost 15% instead
    // of saving; on natural text with near-unique shingles it would prune
    // most of the index. Same verdict as the r3 PPJoin prototype.
    val inter = inv.select(col("doc_id").as("id_a"), col("g"))
      .join(inv.select(col("doc_id").as("id_b"), col("g")), Seq("g"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("id_a"), col("n").as("n_a")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("n").as("n_b")), "id_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** C2m: MEASURED recall + estimator error for the MinHash-LSH near-dup
    * path — the text-side companion of the embedding probe
    * (`Similarity.lshEmpiricalRecall`; this session's discipline: a
    * recall trade must be a measured number, not a hope): C2's banded
    * output compared against C4's EXACT Jaccard enumeration over the
    * same shingle family at the same threshold. Reports true pairs,
    * found pairs, recall, and the MinHash estimator's mean absolute
    * error on the found pairs (each |est − true| quantized DECIMAL(18,9)
    * before the order-free sum — the mean is deterministic in any
    * partitioning). The exact enumeration is the C4 inverted-index
    * self-join — a gate-SF / rehearsal-SF instrument, not a production
    * operator (production runs C2/C31 alone; this measures what the
    * banding actually costs on THIS corpus).
    *
    * r11 (the emb_lsh_recall discipline applied text-side): the entry
    * THROWS when measured recall undercuts 0.85 × the banding scheme's
    * own at-threshold collision bound 1 − (1 − t^r)^b (r = hashes/bands
    * rows per band) — the worst-case promise for a pair at exactly the
    * threshold; pairs above do better (measured 1.0 on this corpus vs
    * the 0.19 floor at t=0.5, r=4, b=4 — the floor is deliberately the
    * SCHEME's number, catching broken band machinery, never flapping on
    * corpus regeneration). */
  def minhashRecall(spark: SparkSession, dir: String, shingleK: Int = 3,
                    numHashes: Int = 16, bands: Int = 4,
                    threshold: Double = 0.5): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 9)
    val truth = ngramJaccard(spark, dir, shingleK, threshold)
    val est = minhashLsh(spark, dir, shingleK, numHashes, bands, threshold)
    val r = numHashes / bands
    val floor = 0.85 *
      (1.0 - math.pow(1.0 - math.pow(threshold, r.toDouble), bands.toDouble))
    val out = truth.join(est, Seq("id_a", "id_b"), "left")
      .agg(count(lit(1)).as("true_pairs"),
        count(col("est_jaccard")).as("found_pairs"),
        sum(when(col("est_jaccard").isNotNull,
          abs(col("est_jaccard") - col("jaccard")).cast(dec))
          .otherwise(lit(0).cast(dec))).as("err_sum"))
      .withColumn("recall", when(col("true_pairs") > 0,
        col("found_pairs").cast("double") / col("true_pairs").cast("double")))
      .withColumn("est_mae", when(col("found_pairs") > 0,
        col("err_sum").cast("double") / col("found_pairs").cast("double")))
      .select(col("true_pairs"), col("found_pairs"),
        round(col("recall"), 6).as("recall"),
        round(col("est_mae"), 6).as("est_mae"),
        lit(floor).as("floor"))
      .localCheckpoint(true) // the floor check and the gate both read it
    val head = out.head()
    if (!head.isNullAt(head.fieldIndex("recall")))
      require(head.getAs[Double]("recall") >= floor,
        f"doc_dedup_minhash delivered recall ${head.getAs[Double]("recall")}%.4f " +
          f"undercuts the banding scheme's floor $floor%.4f " +
          "(hashes/bands machinery regressed)")
    out
  }

  /** C84: n-gram CONTAINMENT pairs — Broder's (1997) asymmetric companion
    * to resemblance/Jaccard: containment(A in B) = |A∩B| / |A|. Jaccard is
    * blind to the quote-inclusion case a curation pipeline most wants —
    * a short doc wholly embedded in a much longer one scores
    * |A|/(|A|+|B|−|A|) ≈ |A|/|B| ≈ 0 by Jaccard but 1.0 by containment.
    * Emits each unordered candidate pair once with BOTH directions
    * (cont_a = shared/|A|, cont_b = shared/|B|), filtered on the larger —
    * so the exchange is byte-identical to [[ngramJaccard]]'s (same
    * inverted index, same (id_a, id_b) partial-agg) and the same df/pair
    * budget analysis applies; corpora past the boilerplate knee route
    * through the LSH candidates exactly as [[ngramJaccardAuto]] does. */
  def ngramContainment(spark: SparkSession, dir: String, k: Int = 3,
                       threshold: Double = 0.5): DataFrame = {
    val docs = Tables.documentsSpread(spark, dir)
    val inv = docs.select(col("doc_id"), explode(graft.functions.Barrier.noInline(
        graft.functions.TextHashExpressions.shingleHashes(col("text"), k))).as("g"))
    val sizes = docs.select(col("doc_id"),
      size(graft.functions.TextHashExpressions.shingleHashes(col("text"), k)).as("n"))
      .filter(col("n") > 0)
    val inter = inv.select(col("doc_id").as("id_a"), col("g"))
      .join(inv.select(col("doc_id").as("id_b"), col("g")), Seq("g"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("id_a"), col("n").as("n_a")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("n").as("n_b")), "id_b")
      .withColumn("cont_a", col("inter").cast("double") / col("n_a"))
      .withColumn("cont_b", col("inter").cast("double") / col("n_b"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= threshold)
      .select(col("id_a"), col("id_b"), col("cont_a"), col("cont_b"))
  }

  /** Containment's boilerplate ESCAPE — candidates from a df-CAPPED
    * inverted index (grams held by 2..`dfCap` docs), then EXACT containment
    * verified on the candidates' full gram arrays.
    *
    * Why not the MinHash-LSH escape the Jaccard family uses
    * ([[ngramJaccardLsh]]): MinHash collision probability tracks
    * RESEMBLANCE, and the quote-inclusion pairs containment exists for
    * (short A embedded in long B) have Jaccard ≈ |A|/|B| ≈ 0 by
    * construction — LSH buckets would systematically miss exactly the
    * pairs this operator is asked to find. A df-cap instead bounds the
    * candidate volume at Σ_{df≤cap} df(df−1)/2 per gram (provably ≤
    * cap·(index size)/2) while keeping every pair that shares at least one
    * NON-boilerplate gram. The declared recall trade — a pair whose only
    * shared grams each appear in > `dfCap` documents is dropped — is the
    * standard hot-shingle-suppression discipline (the same cut MOSS makes
    * on over-common fingerprints), and it discards exactly the evidence
    * that stopped distinguishing documents anyway.
    *
    * Scale shape: gram census → semi-join keeps the rare slice of the
    * index; candidate pairs partial-agg to one row per (id_a, id_b); the
    * verify join ships each candidate's two gram ARRAYS once (bounded by
    * the budgeted candidate count, never per-gram quadratic) and the
    * containment is in-row array_intersect — exact values, identical to
    * [[ngramContainment]] on every surviving pair. */
  def ngramContainmentCapped(spark: SparkSession, dir: String, k: Int = 3,
                             threshold: Double = 0.5,
                             dfCap: Long = 1000): DataFrame = {
    val docs = Tables.documentsSpread(spark, dir)
    val withGrams = docs.select(col("doc_id"), graft.functions.Barrier.noInline(
        graft.functions.TextHashExpressions.shingleHashes(col("text"), k)).as("grams"))
      .filter(size(col("grams")) > 0)
    val inv = withGrams.select(col("doc_id"), explode(col("grams")).as("g"))
    // df ≥ 2: a single-doc gram can't pair; df ≤ cap: hot grams suppressed
    val rare = inv.groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= dfCap).select("g")
    val capped = inv.join(rare, Seq("g"))
    val cand = capped.select(col("doc_id").as("id_a"), col("g"))
      .join(capped.select(col("doc_id").as("id_b"), col("g")), Seq("g"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_rare_shared"))
      .select(col("id_a"), col("id_b"))
    cand
      .join(withGrams.select(col("doc_id").as("id_a"), col("grams").as("g_a")), "id_a")
      .join(withGrams.select(col("doc_id").as("id_b"), col("grams").as("g_b")), "id_b")
      .withColumn("inter", size(array_intersect(col("g_a"), col("g_b"))))
      .withColumn("cont_a", col("inter").cast("double") / size(col("g_a")))
      .withColumn("cont_b", col("inter").cast("double") / size(col("g_b")))
      .filter(greatest(col("cont_a"), col("cont_b")) >= threshold)
      .select(col("id_a"), col("id_b"), col("cont_a"), col("cont_b"))
  }

  /** The largest df cap whose TOTAL capped candidate volume
    * Σ_{2 ≤ df ≤ cap} df·(df−1)/2 · (grams at that df) fits `pairBudget` —
    * the knob [[ngramContainmentAuto]] turns when a corpus blows the
    * budget with every individual df modest (the r6 duplicated-corpus
    * mode, where a one-gram ceiling can't help). Derived from the df
    * HISTOGRAM (distinct df values — bounded by the most-duplicated
    * gram's count in the worst case, in practice a few hundred rows), so
    * the driver collect is summary-sized. Floored at 2: below that the
    * candidate set is empty and the operator would silently answer
    * nothing — at cap=2 the volume is exactly (grams in 2 docs), the
    * irreducible minimum for any containment evidence at all. */
  private[graft] def dfCapForBudget(docs: DataFrame, k: Int,
                                    pairBudget: Long, dfLimit: Long): Long = {
    val hist = docs.select(col("doc_id"), explode(graft.functions.Barrier.noInline(
        graft.functions.TextHashExpressions.shingleHashes(col("text"), k))).as("g"))
      .groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= dfLimit)
      .groupBy("df").agg(count(lit(1)).as("n_grams"))
      .orderBy("df")
      .collect().map(r => (r.getAs[Long]("df"), r.getAs[Long]("n_grams")))
    var cum = 0L
    var cap = 2L
    hist.foreach { case (df, n) =>
      cum += df * (df - 1) / 2 * n
      if (cum <= pairBudget || df == 2) cap = df
    }
    cap
  }

  /** C84-auto: [[ngramContainment]] with the boilerplate escape armed —
    * the same two-stat gate as [[ngramJaccardAuto]] (worst single-gram df
    * AND total pair volume), but routing to the df-capped exact-verify
    * path rather than MinHash-LSH (which cannot see low-Jaccard
    * containment pairs — see [[ngramContainmentCapped]]). In the capped
    * branch the cap is sized DOWN from `dfLimit` until the measured
    * candidate volume fits `pairBudget` ([[dfCapForBudget]]), so the
    * duplicated-corpus mode — every df modest, total volume dup² — is
    * bounded too, not just the hot-gram mode. */
  def ngramContainmentAuto(spark: SparkSession, dir: String, k: Int = 3,
                           threshold: Double = 0.5, dfLimit: Long = 1000,
                           pairBudget: Long = 20000000L): DataFrame = {
    val docs = Tables.documentsSpread(spark, dir)
    val (maxDf, totalPairs) = gramStats(docs, k)
    ngramPathFor(maxDf, dfLimit, totalPairs, pairBudget) match {
      case "lsh" =>
        val cap = dfCapForBudget(docs, k, pairBudget, dfLimit)
        ngramContainmentCapped(spark, dir, k, threshold, cap)
      case _ => ngramContainment(spark, dir, k, threshold)
    }
  }

  /** The gram document-frequency CEILING of a corpus — the one number that
    * decides between [[ngramJaccard]]'s exact inverted-index join (candidate
    * pairs per gram grow O(df²)) and the [[ngramJaccardLsh]] escape. One
    * explode + two partial-agg passes over 64-bit gram hashes (map-side
    * combinable, bounded by the distinct-gram count) — cheap next to either
    * join it gates. */
  private[graft] def maxGramDf(docs: DataFrame, k: Int = 3): Long =
    gramStats(docs, k)._1

  /** Gate statistics in ONE pass: (max gram df, Σ df·(df−1)/2 — the EXACT
    * pair-row count the inverted-index join would materialize). The r6
    * scale rehearsal showed why both matter: a 10×-duplicated corpus keeps
    * every per-gram df modest (max 250 ≪ the 1000 hot-gram limit) while
    * the TOTAL pair volume goes ×100 (138.7M rows, 201 s wall) — a
    * one-hot-gram ceiling can't see spread-out duplication. */
  private[graft] def gramStats(docs: DataFrame, k: Int = 3): (Long, Long) = {
    val r = docs.select(col("doc_id"), explode(graft.functions.Barrier.noInline(
        graft.functions.TextHashExpressions.shingleHashes(col("text"), k))).as("g"))
      .groupBy("g").agg(count(lit(1)).as("df"))
      .agg(coalesce(max(col("df")), lit(0L)).as("m"),
        coalesce(sum(expr("df * (df - 1) div 2")), lit(0L)).as("p"))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** Pure branch rule for [[ngramJaccardAuto]], exposed for the spec:
    * exact only while BOTH the worst single gram and the total pair
    * volume are inside budget. */
  private[graft] def ngramPathFor(maxDf: Long, dfLimit: Long,
                                  totalPairs: Long = 0L,
                                  pairBudget: Long = Long.MaxValue): String =
    if (maxDf > dfLimit || totalPairs > pairBudget) "lsh" else "exact"

  /** C4-auto: [[ngramJaccard]] with the boilerplate ESCAPE HATCH armed —
    * measure the corpus's gram-df ceiling first, then run the exact
    * inverted-index join only while its worst per-gram pair blow-up is
    * bounded, else fall back to [[ngramJaccardLsh]] (candidates O(n·bands),
    * recall the LSH collision bound instead of exact).
    *
    * `dfLimit` default from r6 measurements on this host (local[32],
    * 10k docs of 30-token unique filler, one hot gram planted in d docs —
    * the exact path's hot-gram term is exactly d(d−1)/2 pair rows):
    * d=1024 → 523,776 pair rows, 3.4 s (LSH 1.8 s); d=4096 → 8.39M,
    * 3.3 s (LSH 0.7 s — parallelism still hides the blow-up); d=8192 →
    * 33.6M, 12.0 s (LSH 0.7 s — past the knee, superlinear wall time).
    * The default caps the per-gram term at ≈0.5M rows (d=1000), well
    * inside the flat region; deployments with latency headroom can raise
    * it. At 1000 executors the knee moves out ~30× but the d² law — and
    * this guard — is unchanged.
    *
    * `pairBudget` guards the SECOND blow-up mode (r6 scale rehearsal): a
    * duplicated corpus keeps every df modest but multiplies TOTAL pair
    * volume by dup² — measured Σ df·(df−1)/2 of 138.7M rows (201 s) at
    * 10×-replicated sf0.1, vs 12.7M (16 s, honestly linear) at
    * 10×-distinct. The 20M default admits the linear-growth corpus and
    * routes the duplicated one to LSH (whose candidate count is
    * O(dup·groups), not O(dup²)); raise it with cluster headroom. */
  def ngramJaccardAuto(spark: SparkSession, dir: String, k: Int = 3,
                       threshold: Double = 0.3, dfLimit: Long = 1000,
                       pairBudget: Long = 20000000L): DataFrame = {
    val (maxDf, totalPairs) = gramStats(Tables.documentsSpread(spark, dir), k)
    ngramPathFor(maxDf, dfLimit, totalPairs, pairBudget) match {
      case "lsh" => ngramJaccardLsh(spark, dir, k, threshold)
      case _     => ngramJaccard(spark, dir, k, threshold)
    }
  }

  /** C20: winnowing fingerprint matches — MOSS-style local fingerprinting:
    * each doc's winnowed fingerprint set (native [[graft.functions.WinnowExpr]]
    * kernel, map-only) is inverted-indexed; pairs sharing ≥ `minShared`
    * fingerprints are plagiarism/boilerplate-overlap candidates. Guarantee:
    * any shared run of ≥ window+k−1 tokens produces ≥1 shared fingerprint,
    * so long verbatim overlaps can't be missed — unlike MinHash, which
    * estimates GLOBAL similarity and misses a long quote inside an
    * otherwise-different document. Same fixed-width-exchange shape as
    * [[ngramJaccard]] but ~1/window the index size. */
  def winnowPairs(spark: SparkSession, dir: String, k: Int = 3, window: Int = 4,
                  minShared: Int = 2): DataFrame = {
    val inv = Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), explode(graft.functions.Barrier.noInline(
        graft.functions.TextHashExpressions.winnowFps(col("text"), k, window))).as("fp"))
    inv.select(col("doc_id").as("id_a"), col("fp"))
      .join(inv.select(col("doc_id").as("id_b"), col("fp")), Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** C54: duplicated-SPAN detection — the substring-level dedup of
    * "Deduplicating Training Data Makes Language Models Better" (Lee et
    * al. 2022), which removes repeated PASSAGES (licenses, headers,
    * templates) that document-level near-dup can't see: a boilerplate
    * paragraph inside thousands of otherwise-distinct pages. Every token
    * position starts a k-token gram (stride 1 in token space, the paper's
    * shape), fingerprinted with md5; a gram appearing in ≥ `minDf`
    * distinct docs is a duplicated hit, and per doc, hits merge into
    * maximal [start, end) token spans (overlap or adjacency) — the text
    * to cut. GUARANTEE (why token stride 1, not char windows at a char
    * stride): any shared run of ≥ k tokens produces matching grams in
    * every doc containing it regardless of its position, so the merged
    * span is exactly the duplicated run — a char-stride variant only
    * matches copies aligned mod stride and silently misses the rest.
    * Returns every non-null doc with (n_tokens, n_spans, cut_tokens);
    * [[dupSpansCleanOf]] applies the cut.
    *
    * Scale: gram fingerprints are map-side expressions; the df count is
    * one partial-agg shuffle of fixed-width (fp, doc_id) rows — ~24 B per
    * token, never text (the paper's suffix array is replaced by the
    * hash-gram inverted index, the standard distributed re-expression).
    * The hot-gram set is boilerplate-sized, so the hit join broadcasts it
    * while small and degrades to a key-partitioned semi-join when it
    * isn't. Span merging windows over ONE doc's hits — per-doc
    * partitions, no corpus-scale sort. */
  def dupSpans(spark: SparkSession, dir: String, k: Int = 20,
               minDf: Int = 3): DataFrame =
    dupSpansOf(Tables.documentsSpread(spark, dir), k, minDf)

  private[graft] def dupSpansOf(docs0: DataFrame, k: Int,
                                minDf: Int): DataFrame = {
    val docs = docs0.filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
    val agg = spansOf(docs, k, minDf)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"), sum(col("e") - col("s")).as("cut_tokens"))
    docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("cut_tokens"), lit(0L)).as("cut_tokens"))
  }

  /** Token k-gram windows: (doc_id, pos, fp) — one row per token position
    * with at least k tokens remaining; fp = md5 of the space-joined gram. */
  private[graft] def gramWins(docs: DataFrame, k: Int): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= k)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), size(col("ws")) - k), i => i))
          .as("pos"),
        col("ws"))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        md5(concat_ws(" ", slice(col("ws"), col("pos") + 1, lit(k)))
          .cast("binary")).as("fp"))

  /** Hit positions → merged [s, e) spans (gaps-and-islands per doc). */
  private[graft] def mergeHits(hits: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val prevEnd = max(col("pos") + k)
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    hits
      .withColumn("ni", when(col("pos") > coalesce(prevEnd, lit(-1L)), 1L)
        .otherwise(0L))
      .withColumn("island",
        sum(col("ni")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "island")
      .agg(min(col("pos")).as("s"), (max(col("pos")) + k).as("e"))
      .select(col("doc_id"), col("s"), col("e"))
  }

  /** Merged duplicated token spans per doc: (doc_id, s, e), e exclusive. */
  private[graft] def spansOf(docs: DataFrame, k: Int, minDf: Int): DataFrame = {
    val wins = gramWins(docs, k)
    val hot = wins.groupBy("fp")
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= minDf).select("fp")
    mergeHits(wins.join(hot, "fp").select(col("doc_id"), col("pos")), k)
  }

  /** C54c: persist the duplicated-span GRAM STORE — per-batch gram
    * document-frequency partitions (`storeDir/dfs.parquet/batch_id=…`) +
    * `params.parquet` (k is the store's identity: grams of different k
    * never match, so a caller can't mis-probe). The initial corpus lands
    * as batch 0. Readers sum partitions (partial agg on the fp key);
    * partitions stay append-only — compaction, when partition count ever
    * matters, is the Layout.compaction story, not a correctness need. */
  def writeGramStore(docs: DataFrame, storeDir: String, k: Int = 20): Unit = {
    val spark = docs.sparkSession
    val live = docs.filter(col("text").isNotNull)
    gramWins(live, k)
      .groupBy("fp").agg(countDistinct(col("doc_id")).as("df"))
      .withColumn("batch_id", lit(0L))
      .write.partitionBy("batch_id").mode("overwrite")
      .parquet(s"$storeDir/dfs.parquet")
    // admitted doc ids, per batch: the store's df rows carry no doc ids, so
    // this is the ONLY record of which docs each df count came from — the
    // re-submission anti-join below depends on it
    live.select(col("doc_id")).distinct().withColumn("batch_id", lit(0L))
      .write.partitionBy("batch_id").mode("overwrite")
      .parquet(s"$storeDir/docs.parquet")
    import spark.implicits._
    Seq(k).toDF("k").write.mode("overwrite")
      .parquet(s"$storeDir/params.parquet")
  }

  /** C54c: one duplicated-span ingest cycle — the nightly-batch shape of
    * [[dupSpans]]: gram the NEW batch only, count combined df = store +
    * batch per gram (the store is read and partial-aggregated, never
    * re-grammed), emit the batch docs' spans against that combined
    * census, then land the batch's own (fp, df) rows as partition
    * `batch_id=<batchId>`. EQUALITY contract (spec-pinned): the result
    * is exactly full [[dupSpansOf]] over store∪batch restricted to batch
    * docs, because df(g) over the union IS storeDf(g) + batchDf(g) —
    * which requires the union's doc sets to be DISJOINT, so doc ids
    * already admitted under an earlier batch are anti-joined out of the
    * batch first (their spans were emitted at their own ingest; counting
    * their grams again would inflate df and over-cut, since the store's
    * df rows carry no doc ids to dedup against). Re-submitted docs are
    * skipped, the [[minhashLshIngest]] semantic.
    * Crash-retry: the spans output is materialized BEFORE the store
    * append, the read side excludes this `batchId`'s partitions (a
    * half-landed earlier attempt can't double-count or self-exclude),
    * the appends are dynamic overwrites of exactly those partitions, and
    * the doc-id partition — the admission marker — lands LAST, after the
    * df payload: a retried ingest (same batchId) reproduces identical
    * spans and leaves the store as if run once. */
  def dupSpansIncremental(batch: DataFrame, storeDir: String, batchId: Long,
                          minDf: Int = 3): DataFrame = {
    require(batchId > 0L, "batchId 0 is the initial writeGramStore corpus")
    val spark = batch.sparkSession
    val k = spark.read.parquet(s"$storeDir/params.parquet")
      .head().getAs[Int]("k")
    val storeDf = spark.read.parquet(s"$storeDir/dfs.parquet")
      .filter(col("batch_id") =!= batchId) // retry: ignore own partial land
      .groupBy("fp").agg(sum(col("df")).as("df_store"))
    val seen = spark.read.parquet(s"$storeDir/docs.parquet")
      .filter(col("batch_id") =!= batchId)
      .select("doc_id")
    // localCheckpoint, not cache: the docs.parquet append below writes into
    // the very path this anti-join reads (see sigBandBatch for the recache
    // failure mode) — pin the admitted batch before the store mutates
    val docs = batch.filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
      .join(seen, Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    val wins = gramWins(docs, k)
    val batchDf = wins.groupBy("fp")
      .agg(countDistinct(col("doc_id")).as("df"))
    val hot = batchDf.join(storeDf, Seq("fp"), "left")
      .filter(col("df") + coalesce(col("df_store"), lit(0L)) >= minDf)
      .select("fp")
    val spans = mergeHits(wins.join(hot, "fp").select(col("doc_id"), col("pos")), k)
    val agg = spans.groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"), sum(col("e") - col("s")).as("cut_tokens"))
    val out = docs
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("cut_tokens"), lit(0L)).as("cut_tokens"))
      .localCheckpoint(true) // materialize BEFORE the store mutates
    batchDf.withColumn("batch_id", lit(batchId))
      .write.partitionBy("batch_id").mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(s"$storeDir/dfs.parquet")
    docs.select(col("doc_id")).distinct().withColumn("batch_id", lit(batchId))
      .write.partitionBy("batch_id").mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(s"$storeDir/docs.parquet")
    out
  }

  /** C75b: takedown for the duplicated-span GRAM STORE — the subtraction
    * problem: the store's (fp, df) census carries no doc attribution, so a
    * forgotten document's gram contributions can only leave the counts by
    * RE-GRAMMING its content (a takedown request ships the content being
    * removed — the caller must pass the text as stored; the store cannot
    * verify it). The subtraction lands as a NEGATIVE-df correction
    * partition `batch_id = -forgetId`: readers already sum all partitions
    * ([[dupSpansIncremental]]'s store census), so corrections apply with
    * zero reader changes — the LSM correction-record pattern, and exact,
    * because the same text yields the identical gram set (net df 0 for
    * every (doc, gram) pair).
    *
    * Only docs actually ADMITTED (present in the store's doc ledger)
    * subtract, each at most once (a forget ledger partition
    * `forget_id=<forgetId>` anti-joins re-requests). Same crash-retry
    * discipline as ingest: read sides exclude this forgetId's own
    * partitions, writes are dynamic overwrites of exactly those
    * partitions, the ledger lands LAST. The admitted-doc ledger keeps the
    * forgotten id (re-submission stays blocked — the C74/C75 "deletes are
    * final" rule; a store rebuild is the re-admission path). Returns the
    * doc ids subtracted this call. */
  def gramStoreForget(forgotten: DataFrame, storeDir: String,
                      forgetId: Long): DataFrame = {
    require(forgetId > 0L, "forgetId must be positive (lands as batch_id = -forgetId)")
    val spark = forgotten.sparkSession
    val k = spark.read.parquet(s"$storeDir/params.parquet")
      .head().getAs[Int]("k")
    val admitted = spark.read.parquet(s"$storeDir/docs.parquet").select("doc_id")
    val alreadyForgot = gramForgetLedger(spark, storeDir)
      .filter(col("forget_id") =!= forgetId) // retry: ignore own partial land
      .select("doc_id")
    val docs = forgotten.filter(col("text").isNotNull)
      .select(col("doc_id"), col("text")).dropDuplicates("doc_id")
      .join(admitted, Seq("doc_id"), "left_semi")
      .join(alreadyForgot, Seq("doc_id"), "left_anti")
      .localCheckpoint(true) // pin before the store mutates
    gramWins(docs, k)
      .groupBy("fp").agg((-countDistinct(col("doc_id"))).as("df"))
      .withColumn("batch_id", lit(-forgetId))
      .write.partitionBy("batch_id").mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(s"$storeDir/dfs.parquet")
    val out = docs.select(col("doc_id")).localCheckpoint(true)
    out.withColumn("forget_id", lit(forgetId))
      .write.partitionBy("forget_id").mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(s"$storeDir/forgotten.parquet")
    out
  }

  private def gramForgetLedger(spark: SparkSession, storeDir: String): DataFrame =
    StoreFiles.optional(spark, s"$storeDir/forgotten.parquet").getOrElse(
      spark.range(0).select(col("id").as("doc_id"), col("id").as("forget_id")))

  /** C54b: apply the cut — each doc's non-duplicated token segments
    * stitched back together (an in-row fold over the doc's own sorted
    * spans; no corpus-scale work beyond [[spansOf]]). Docs with no spans
    * pass through verbatim; whitespace is canonicalized to single spaces
    * (the tokenizer's inverse). */
  private[graft] def dupSpansCleanOf(docs0: DataFrame, k: Int,
                                     minDf: Int): DataFrame = {
    val docs = docs0.filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
    val sp = spansOf(docs, k, minDf)
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("spans"))
    docs.withColumn("ws", split(col("text"), " "))
      .join(sp, Seq("doc_id"), "left")
      .withColumn("clean_text",
        when(col("spans").isNull, col("text")).otherwise(
          aggregate(col("spans"),
            struct(lit(0L).as("cur"), array().cast("array<string>").as("acc")),
            (st, s) => struct(
              s.getField("e").as("cur"),
              concat(st.getField("acc"),
                slice(col("ws"), (st.getField("cur") + 1).cast("int"),
                  (s.getField("s") - st.getField("cur")).cast("int")))
                .as("acc")),
            st => concat_ws(" ", concat(st.getField("acc"),
              slice(col("ws"), (st.getField("cur") + 1).cast("int"),
                (size(col("ws")) - st.getField("cur")).cast("int")))))))
      .select(col("doc_id"), col("clean_text"))
  }

  /** C22: benchmark-contamination check — the headline eval-hygiene pass of
    * a training-data pipeline: flag corpus documents sharing ≥ `minShared`
    * winnowing fingerprints with ANY benchmark document. The benchmark set
    * is small by definition, so its fingerprint index broadcasts; the corpus
    * side is one map-only fingerprint pass + a broadcast join + a partial
    * agg — no corpus-side shuffle of text, ever, at any corpus size.
    * Winnowing guarantee (same kernel as [[winnowPairs]]): any shared run of
    * ≥ window+k−1 tokens yields ≥1 shared fingerprint, so verbatim benchmark
    * quotes above that length cannot be missed. */
  def contaminationPairs(corpus: DataFrame, benchmark: DataFrame,
                         k: Int = 3, window: Int = 4, minShared: Int = 2): DataFrame = {
    // WinnowExpr already emits per-doc DISTINCT fingerprints (LinkedHashSet
    // in the kernel), so shared-fp counts are per-VALUE with no extra
    // in-row distinct pass and no corpus-wide distinct shuffle — the
    // corpus side stays map-only
    def fps(df: DataFrame, idCol: String) = df
      .select(col(idCol), explode(graft.functions.Barrier.noInline(
        graft.functions.TextHashExpressions.winnowFps(col("text"), k, window))).as("fp"))
    fps(corpus, "doc_id").join(broadcast(fps(benchmark, "bench_id")), Seq("fp"))
      .groupBy("doc_id", "bench_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** C22 over the documents table: every 20th doc plays the benchmark set,
    * the rest the corpus — deterministic, so the rows-only gate is stable. */
  def docContamination(spark: SparkSession, dir: String,
                       k: Int = 3, window: Int = 4, minShared: Int = 2): DataFrame = {
    val docs = Tables.documents(spark, dir)
    contaminationPairs(
      docs.filter(col("doc_id") % 20 =!= 0).select(col("doc_id"), col("text")),
      docs.filter(col("doc_id") % 20 === 0)
        .select(col("doc_id").as("bench_id"), col("text")),
      k, window, minShared)
  }

  /** C119 (r11, VERDICT r10 #8): DECONTAMINATION REPORT — the dataset-card
    * table a model release actually publishes (the Llama/GPT-3/Gopher
    * appendix shape): per benchmark SUITE, what fraction of the suite's
    * items were found in the training corpus and how much of the corpus
    * is implicated. C22 flags the pairs; this rolls them up against the
    * full suite dimension so UNTOUCHED suites report an explicit zero row
    * (the card must say "we checked X and found nothing", not omit X).
    *
    * Columns: n_bench_docs (suite size), n_bench_hit / bench_hit_frac
    * (items with ≥1 contaminated corpus doc — the number quoted as "N% of
    * benchmark X appears in our data"), n_corpus_flagged /
    * corpus_flagged_frac (distinct training docs implicated — the removal
    * cost of decontaminating), max_shared / mean_shared (fingerprint-
    * overlap severity among flagged pairs).
    *
    * Scale: the pair set is C22's broadcast-join output (benchmark-sized
    * × flagged docs, never corpus²); the rollup is two partial aggs keyed
    * by suite (≤ suites rows); the corpus total is a 1-row broadcast
    * scalar. Rows-only by inheritance (the winnowing kernel isn't SQL);
    * the spec plants verbatim quotes in one suite and asserts the exact
    * fractions plus the other suite's zero row. */
  def decontamReportOf(corpus: DataFrame, benchmark: DataFrame,
                       k: Int = 3, window: Int = 4,
                       minShared: Int = 2): DataFrame = {
    val pairs = contaminationPairs(
      corpus.select(col("doc_id"), col("text")),
      benchmark.select(col("bench_id"), col("text")), k, window, minShared)
      .join(benchmark.select(col("bench_id"), col("benchmark")), "bench_id")
    val hits = pairs.groupBy("benchmark")
      .agg(countDistinct(col("bench_id")).as("n_bench_hit"),
        countDistinct(col("doc_id")).as("n_corpus_flagged"),
        max(col("n_shared")).as("max_shared"),
        avg(col("n_shared")).as("mean_shared"))
    suiteRollup(benchmark, corpus, hits,
      Seq("max_shared" -> lit(0L), "mean_shared" -> lit(0.0)))
  }

  /** The shared dataset-card rollup of C119/C119b (r11 self-review: the
    * suites-join-hits + zero-row projection existed twice, so a fix to
    * the zero-row or fraction semantics could silently diverge the
    * winnowing and containment reports): full suite dimension left-joins
    * the hit aggregates, clean suites coalesce to explicit zeros, corpus
    * total rides a 1-row broadcast. `sev` names the severity columns
    * with their typed zero (counts LONG, scores DOUBLE). */
  private def suiteRollup(benchmark: DataFrame, corpus: DataFrame,
                          hits: DataFrame,
                          sev: Seq[(String, org.apache.spark.sql.Column)]): DataFrame = {
    val suites = benchmark.groupBy("benchmark")
      .agg(count(lit(1)).as("n_bench_docs"))
    // single-row scalar: constant-size broadcast, policy-compliant
    val corpusN = corpus.agg(count(lit(1)).as("n_corpus"))
    suites.join(hits, Seq("benchmark"), "left")
      .crossJoin(broadcast(corpusN))
      .select(Seq(col("benchmark"), col("n_bench_docs"),
        coalesce(col("n_bench_hit"), lit(0L)).as("n_bench_hit"),
        (coalesce(col("n_bench_hit"), lit(0L)).cast("double") /
          col("n_bench_docs").cast("double")).as("bench_hit_frac"),
        coalesce(col("n_corpus_flagged"), lit(0L)).as("n_corpus_flagged"),
        (coalesce(col("n_corpus_flagged"), lit(0L)).cast("double") /
          col("n_corpus").cast("double")).as("corpus_flagged_frac")) ++
        sev.map { case (n, zero) => coalesce(col(n), zero).as(n) }: _*)
  }

  /** C119 over the documents table: the C22 gate split (every 20th doc is
    * a benchmark item) with four deterministic suites — suite = (doc_id
    * div 20) mod 4, so suite membership survives any partitioning. */
  def decontamReport(spark: SparkSession, dir: String,
                     k: Int = 3, window: Int = 4,
                     minShared: Int = 2): DataFrame = {
    val docs = Tables.documents(spark, dir)
    decontamReportOf(
      docs.filter(col("doc_id") % 20 =!= 0).select(col("doc_id"), col("text")),
      docs.filter(col("doc_id") % 20 === 0)
        .select(col("doc_id").as("bench_id"),
          concat(lit("suite_"), expr("(doc_id div 20) % 4")).as("benchmark"),
          col("text")),
      k, window, minShared)
  }

  /** C119b (r11): EXACT decontamination report — the same dataset-card
    * rollup driven by the GPT-3/PaLM-style n-gram CONTAINMENT rule
    * instead of winnowing fingerprints: a benchmark item is contaminated
    * when ≥ τ of its k-gram set appears in some training doc
    * (containment(bench IN corpus doc) = shared / |bench grams| — the
    * C84 asymmetric normalizer, which is exactly what eval-leak hunting
    * wants: the SHORT benchmark item wholly quoted inside a long training
    * doc scores ~0 by Jaccard but 1.0 by containment). Fully
    * SQL-expressible (the C4 inverted-index family), so unlike C119's
    * winnowing form this report is ORACLE-HASH-GATED end to end: every
    * fraction is an exact division of longs, mean_containment quantizes
    * each pair score DECIMAL(18,9) before the order-free sum.
    *
    * Scale: bench grams are benchmark-sized (broadcast side of the
    * inverted join); the corpus side is the C4 gram explode (hashes,
    * never strings); the rollup is suite-keyed partial aggs. Corpora past
    * the boilerplate knee route candidates through LSH exactly as
    * ngramJaccardAuto does — at which point use C119 (winnowing). */
  /** C119c (r11): the decontamination ACTION — the cleaned-corpus
    * keep-list a release pipeline actually ships: every corpus doc NOT
    * flagged by the C119b containment rule, with its flag context
    * (n_bench_hits, worst containment) carried on the dropped complement
    * being derivable by anti-join. Returns (doc_id, source, n_chars) for
    * keepers — the C16 keep-list shape, so downstream packing/budgeting
    * compose unchanged. Oracle-hash-gated (pure SQL over the C119b pair
    * set). Scale: the flagged set is benchmark-bounded (≤ corpus docs
    * sharing ≥τ of some bench item), broadcast into a left-anti join —
    * the corpus is scanned once for grams, once for the verdict. */
  def decontamKeep(spark: SparkSession, dir: String, k: Int = 3,
                   tau: Double = 0.5): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val corpus = docs.filter(col("doc_id") % 20 =!= 0)
    val flagged = decontamPairs(spark, dir, k, tau)
      .select(col("doc_id")).distinct()
    corpus.join(flagged, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"), col("n_chars"))
  }

  /** The C119b (doc, bench, containment) pair set — shared by the report
    * and the keep-list so τ/k can never diverge between them. */
  private def decontamPairs(spark: SparkSession, dir: String, k: Int,
                            tau: Double): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val corpus = docs.filter(col("doc_id") % 20 =!= 0)
    val bench = docs.filter(col("doc_id") % 20 === 0)
      .select(col("doc_id").as("bench_id"), col("text"))
    def grams(df: DataFrame, idCol: String) = df
      .filter(col("text").isNotNull && trim(col("text")) =!= "")
      .select(col(idCol), explode(graft.functions.Barrier.noInline(
        graft.functions.TextHashExpressions.shingleHashes(col("text"), k))).as("g"))
    val benchGrams = grams(bench, "bench_id")
    val benchSizes = benchGrams.groupBy("bench_id")
      .agg(count(lit(1)).as("n_bench_grams"))
    grams(corpus, "doc_id")
      .join(broadcast(benchGrams), Seq("g"))
      .groupBy("doc_id", "bench_id").agg(count(lit(1)).as("shared"))
      .join(broadcast(benchSizes), "bench_id")
      .withColumn("containment",
        col("shared").cast("double") / col("n_bench_grams").cast("double"))
      .filter(col("containment") >= tau)
  }

  def decontamExact(spark: SparkSession, dir: String, k: Int = 3,
                    tau: Double = 0.5): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 9)
    val docs = Tables.documents(spark, dir)
    val corpus = docs.filter(col("doc_id") % 20 =!= 0)
    val bench = docs.filter(col("doc_id") % 20 === 0)
      .select(col("doc_id").as("bench_id"),
        concat(lit("suite_"), expr("(doc_id div 20) % 4")).as("benchmark"),
        col("text"))
    val pairs = decontamPairs(spark, dir, k, tau)
      .join(broadcast(bench.select(col("bench_id"), col("benchmark"))), "bench_id")
    val hits = pairs.groupBy("benchmark")
      .agg(countDistinct(col("bench_id")).as("n_bench_hit"),
        countDistinct(col("doc_id")).as("n_corpus_flagged"),
        max(col("containment")).as("max_containment"),
        (sum(col("containment").cast(dec)).cast("double") /
          count(lit(1)).cast("double")).as("mean_containment"))
    suiteRollup(bench, corpus, hits,
      Seq("max_containment" -> lit(0.0), "mean_containment" -> lit(0.0)))
  }

  /** Exact n-gram Jaccard verification over MinHash-LSH candidates only —
    * the 100 TB path when the corpus is too boilerplate-heavy for the
    * inverted-index join: candidate count is O(n·bands), never per-gram
    * quadratic. Semantics follow the candidate set (LSH recall), so this
    * variant is spec-verified rather than SQL-oracle-gated. */
  def ngramJaccardLsh(spark: SparkSession, dir: String, k: Int = 3,
                      threshold: Double = 0.3): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), graft.functions.TextHashExpressions.shingleHashes(col("text"), k).as("grams"))
    val cand = minhashLsh(spark, dir, k, 16, 4, 0.2).select("id_a", "id_b")
    val a = docs.select(col("doc_id").as("id_a"), col("grams").as("g_a"))
    val b = docs.select(col("doc_id").as("id_b"), col("grams").as("g_b"))
    cand.join(a, "id_a").join(b, "id_b")
      .withColumn("inter", size(array_intersect(col("g_a"), col("g_b"))))
      .withColumn("uni", size(array_union(col("g_a"), col("g_b"))))
      .withColumn("jaccard", col("inter").cast("double") / col("uni"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** C25: paragraph-level exact dedup (the CCNet/Pile preprocessing step):
    * segment every document into consecutive `segWords`-word spans (real
    * corpora split on newline; this corpus has none, so spans stand in for
    * paragraphs), drop each span whose exact content occurs in more than
    * `maxDocs` distinct documents, and stitch the survivors back together
    * in their original order. Documents whose every span is boilerplate
    * come back with empty text — downstream gates drop them.
    *
    * Scale: segmentation is a pure map over the split array (transform +
    * slice — no explode-then-window); the duplicate census aggregates
    * (span-hash → distinct-doc count) with map-side partials, shipping a
    * 64-bit digest per span, never the span text twice; only the
    * over-threshold hash set flows into the left-anti verdict join (tiny
    * for a mostly-unique corpus, and AQE broadcasts it when it is);
    * reassembly is one groupBy on doc_id with an in-row array_sort. No
    * corpus-wide window anywhere. At extreme corpus sizes widen the census
    * key to md5 if 64-bit birthday collisions become a concern. */
  def paraDedup(spark: SparkSession, dir: String,
                segWords: Int = 4, maxDocs: Long = 1): DataFrame =
    paraDedupOf(Tables.documentsSpread(spark, dir), segWords, maxDocs)

  private[graft] def paraDedupOf(docs: DataFrame, segWords: Int,
                                 maxDocs: Long): DataFrame = {
    // split once in its own projection: `ws` is referenced multiple times
    // (bound + lambda body), so CollapseProject won't inline the split back
    // into the lambda, where it would re-run per segment (O(len²)/doc)
    val segs = docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), expr(
        s"""transform(
           |  sequence(0L, (size(ws) - 1) div $segWords),
           |  i -> concat_ws(' ', slice(ws, cast(i * $segWords + 1 as int), $segWords)))
           |""".stripMargin).as("paras"))
      .select(col("doc_id"), posexplode(col("paras")).as(Seq("seg", "para")))
      .withColumn("ph", xxhash64(col("para")))
    val dupHashes = segs
      .groupBy("ph").agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") > maxDocs)
      .select("ph")
    val rebuilt = segs.join(dupHashes, Seq("ph"), "left_anti")
      .groupBy("doc_id")
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("seg"), col("para")))),
          x => x.getField("para"))).as("kept_text"),
        count(lit(1)).as("n_kept"))
    docs.select(col("doc_id")).join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("kept_text"), lit("")).as("kept_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }
}
