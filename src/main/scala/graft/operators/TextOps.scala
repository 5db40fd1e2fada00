package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Pins._
import graft.Tables
import graft.sources.StoreFiles
import graft.functions.Cols.boundedWindow
import graft.functions.TextFunctions._

/** Document-level text analysis (C8–C11): embarrassingly parallel map-side
  * column expressions — no shuffle at any scale. */
object TextOps {

  /** C8: token counts (whitespace + regex tokenizers). */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        wsTokens(col("text")).cast("long").as("ws_tokens"),
        regexTokens(col("text")).cast("long").as("re_tokens"))

  /** C9: quality scoring — length, stopword ratio, mean word length, score. */
  def quality(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .select(col("doc_id"),
        wsTokens(col("text")).cast("long").as("n_words"),
        stopwordRatio(col("text")).as("stop_ratio"),
        meanWordLen(col("text")).as("mean_word_len"),
        qualityScore(col("text")).as("quality"))

  /** C64: Gopher quality-rule battery (Rae et al. 2021 §A1.1, public) —
    * the published hand-tuned filters as one map-only pass, every rule a
    * codegen'd column expression over one split each of lines and words
    * (no UDF, no second scan): word count ∈ [50, 100k], mean word length
    * ∈ [3, 10], symbol-to-word ratio (# and …) < 0.1, ≤ 90% bullet lines,
    * ≤ 30% ellipsis-ended lines, > 80% words with an alphabetic char,
    * ≥ 2 stopword hits. Emits the measured ratios plus the combined
    * `keep`, so downstream curation can re-threshold without re-scanning.
    * Ratios are single int/int IEEE divisions — bit-identical to the
    * DuckDB oracle by construction (SURVEY §6). */
  def gopherRules(spark: SparkSession, dir: String): DataFrame = {
    val lines = split(col("text"), "\n")
    val words = split(col("text"), " ")
    val nWords = wsTokens(col("text")).cast("long")
    val bulletLines = size(filter(lines, l =>
      l.startsWith("- ") || l.startsWith("* ") || l.startsWith("• ")))
    val ellipsisLines = size(filter(lines, l => l.endsWith("...")))
    val alphaWords = size(filter(words, w => w.rlike("[A-Za-z]")))
    val symbols = regexp_count(col("text"), lit("#")) +
      regexp_count(col("text"), lit("\\.\\.\\."))
    Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), col("text"))
      .select(col("doc_id"),
        nWords.as("n_words"),
        meanWordLen(col("text")).as("mean_word_len"),
        (symbols.cast("double") / nWords).as("symbol_ratio"),
        (bulletLines.cast("double") / size(lines)).as("bullet_ratio"),
        (ellipsisLines.cast("double") / size(lines)).as("ellipsis_ratio"),
        (alphaWords.cast("double") / size(words)).as("alpha_ratio"),
        hitCount(col("text"), EnStopwords).cast("long").as("stop_hits"))
      .withColumn("keep",
        col("n_words").between(50, 100000) &&
          col("mean_word_len").between(3.0, 10.0) &&
          col("symbol_ratio") < 0.1 &&
          col("bullet_ratio") <= 0.9 &&
          col("ellipsis_ratio") <= 0.3 &&
          col("alpha_ratio") > 0.8 &&
          col("stop_hits") >= 2)
  }

  /** C65: C4-style line-level cleaning (Raffel et al. 2020 §2.2, public):
    * keep only lines that end in terminal punctuation (. ! ? ") AND have
    * ≥ 3 whitespace words AND don't mention "javascript"; then keep the
    * PAGE only if ≥ 3 lines survive and the page contains neither
    * "lorem ipsum" nor "{". Map-only like the Gopher battery — one
    * lines-split, every predicate a codegen'd column expression, and the
    * cleaned text is reassembled in-row (array_join), so the pass ships
    * curated text downstream without a second scan. */
  def c4Clean(spark: SparkSession, dir: String): DataFrame = {
    val lines = split(col("text"), "\n")
    val kept = filter(lines, l =>
      (l.endsWith(".") || l.endsWith("!") || l.endsWith("?") || l.endsWith("\"")) &&
        size(split(l, "\\s+")) >= 3 &&
        !lower(l).contains("javascript"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .select(col("doc_id"),
        size(lines).cast("long").as("n_lines"),
        size(kept).cast("long").as("n_kept_lines"),
        array_join(kept, "\n").as("clean_text"),
        // page-level drops test the ORIGINAL page, as published — a line
        // the line filter already removed still disqualifies its page
        (size(kept) >= 3 &&
          !lower(col("text")).contains("lorem ipsum") &&
          !col("text").contains("{")).as("keep"))
  }

  /** C67: FineWeb's three added quality filters (Penedo et al. 2024, "The
    * FineWeb Datasets", public — the filters their ablations added ON TOP
    * of the C4/Gopher batteries): drop a page when (1) the fraction of
    * lines ending in terminal punctuation (. ! ? ") is ≤ 0.12, (2) the
    * fraction of characters in duplicated lines is ≥ 0.1, or (3) the
    * fraction of lines shorter than 30 characters is ≥ 0.67. Emits the
    * three measured signals plus the combined `keep` so curation can
    * re-threshold without a second scan.
    *
    * Map-only like the sibling batteries: the two line ratios are
    * codegen'd expressions over one lines-split; the duplicated-line char
    * census rides the same native [[graft.functions.RepStats]] kernel the
    * Gopher repetition battery uses (identical definition: chars across
    * occurrences 2.. of each repeated line / total line chars). Ratios are
    * single int/int IEEE divisions — bit-identical to the DuckDB oracle. */
  def fineWebRules(spark: SparkSession, dir: String): DataFrame = {
    val lines = split(col("text"), "\n")
    val punctLines = size(filter(lines, l =>
      l.endsWith(".") || l.endsWith("!") || l.endsWith("?") || l.endsWith("\"")))
    val shortLines = size(filter(lines, l => length(l) < 30))
    def ratio(num: Column, den: Column): Column =
      when(den > 0, num.cast("double") / den).otherwise(lit(0.0))
    Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), col("text"))
      .select(col("doc_id"),
        size(lines).cast("long").as("n_lines"),
        ratio(punctLines, size(lines)).as("punct_line_ratio"),
        ratio(shortLines, size(lines)).as("short_line_frac"),
        graft.functions.TextHashExpressions.repStats(col("text")).as("rs"))
      .withColumn("dup_line_char_frac",
        when(col("rs.line_chars") > 0,
          coalesce(col("rs.line_dup"), lit(0L)).cast("double") / col("rs.line_chars"))
          .otherwise(lit(0.0)))
      .drop("rs")
      .withColumn("keep",
        col("punct_line_ratio") > 0.12 &&
          col("dup_line_char_frac") < 0.1 &&
          col("short_line_frac") < 0.67)
  }

  /** C66: Gopher REPETITION battery (Rae et al. 2021 §A1.1, public) — the
    * twelve published repetition signals per doc: duplicate line/paragraph
    * fractions (count- and char-based), top {2,3,4}-gram char fraction
    * (occurrences of the most frequent gram × its char length / doc
    * chars), and duplicate {5..10}-gram char fraction (chars across ALL
    * occurrences of grams appearing ≥ 2 times / doc chars; the published
    * simple-count form — overlaps not deduplicated).
    *
    * Shape at scale: one explode to (doc, line), one to (doc, para), ONE
    * combined explode to (doc, n, gram) for all nine gram sizes (9× token
    * fan-out — the algorithm's inherent cost), each reduced by
    * partial-agg'd groupBys keyed by doc — no windows, no self-joins; the
    * three per-doc summaries re-join on doc_id. Top-gram ties break by
    * (count, gram length, gram text) lexicographic max in BOTH engines.
    * `keep` applies the paper's thresholds. */
  def repFractions(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsSpread(spark, dir).select(col("doc_id"), col("text"))

    // all twelve signals are PER-DOC: no shuffle anywhere — one compiled
    // kernel pass per document ([[graft.functions.RepStats]]) computes the
    // line/para duplicate census and every per-n gram top/dup sum. The r8
    // first cut exploded 9 gram sizes to a (doc, n, gram) shuffle (22.6 s
    // at sf0.1); the HOF-fold rewrite was map-only but interpreted
    // (CodegenFallback, 9.9 s); the native kernel computes the identical
    // values inside whole-stage codegen.
    val staged = docs
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
        graft.functions.TextHashExpressions.repStats(col("text")).as("rs"))

    def frac(num: Column, den: Column): Column =
      when(den > 0, coalesce(num, lit(0L)).cast("double") / den).otherwise(lit(0.0))
    val out = staged
      .select((col("doc_id") +: col("n_chars") +: (Seq(
        frac(col("rs.line_total") - col("rs.line_uniq"), col("rs.line_total")).as("dup_line_frac"),
        frac(col("rs.line_dup"), col("rs.line_chars")).as("dup_line_char_frac"),
        frac(col("rs.para_total") - col("rs.para_uniq"), col("rs.para_total")).as("dup_para_frac"),
        frac(col("rs.para_dup"), col("rs.para_chars")).as("dup_para_char_frac")) ++
        Seq(2, 3, 4).map(n => frac(col(s"rs.top$n"), col("n_chars")).as(s"top${n}_char_frac")) ++
        Seq(5, 6, 7, 8, 9, 10).map(n => frac(col(s"rs.dup$n"), col("n_chars")).as(s"dup${n}_char_frac")))): _*)
    out.withColumn("keep",
      col("dup_line_frac") <= 0.30 && col("dup_para_frac") <= 0.30 &&
        col("dup_line_char_frac") <= 0.20 && col("dup_para_char_frac") <= 0.20 &&
        col("top2_char_frac") <= 0.20 && col("top3_char_frac") <= 0.18 &&
        col("top4_char_frac") <= 0.16 &&
        col("dup5_char_frac") <= 0.15 && col("dup6_char_frac") <= 0.14 &&
        col("dup7_char_frac") <= 0.13 && col("dup8_char_frac") <= 0.12 &&
        col("dup9_char_frac") <= 0.11 && col("dup10_char_frac") <= 0.10)
  }

  /** C10: heuristic language scoring via stopword dictionaries. */
  def langId(spark: SparkSession, dir: String): DataFrame =
    withLangPred(Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .drop("text")

  /** Adds the C10 stopword-hit columns and `lang_pred` to any frame with
    * a `text` column (shared by [[langId]] and [[langConfusion]]). */
  private def withLangPred(df: DataFrame): DataFrame = {
    val es = Seq("el", "la", "de", "que", "y", "en")
    val deW = Seq("der", "die", "das", "und", "ist", "ein")
    df.withColumn("en_hits", hitCount(col("text"), EnStopwords).cast("long"))
      .withColumn("es_hits", hitCount(col("text"), es).cast("long"))
      .withColumn("de_hits", hitCount(col("text"), deW).cast("long"))
      .withColumn("lang_pred",
        when(col("en_hits") >= col("es_hits") && col("en_hits") >= col("de_hits") &&
          col("en_hits") > 0, "en")
          .when(col("es_hits") >= col("de_hits") && col("es_hits") > 0, "es")
          .when(col("de_hits") > 0, "de")
          .otherwise("unknown"))
  }

  /** C80: language-label validation — the confusion matrix between the
    * dataset's declared `lang` column and the C10 heuristic's prediction
    * (label agreement is the standard first audit of an inherited
    * corpus: a hot off-diagonal cell means mislabeled docs or a drifted
    * labeling pipeline upstream). Pure derivation over [[langId]] plus
    * ONE ≤langs² partial agg; the share divides by the label's row count
    * (one IEEE division per cell). */
  def langConfusion(spark: SparkSession, dir: String): DataFrame = {
    val byLabel = Window.partitionBy("lang")
    withLangPred(Tables.documents(spark, dir).select(col("lang"), col("text")))
      .groupBy("lang", "lang_pred")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("label_share",
        col("n_docs").cast("double") /
          sum(col("n_docs")).over(byLabel).cast("double"))
  }

  /** C81: compression-ratio quality signal — DEFLATE length / raw UTF-8
    * length per doc, with the two-sided keep verdict (the RefinedWeb/
    * Gopher-family heuristic: boilerplate and template spam compress far
    * below prose — ratio < lo; binary junk and OCR noise barely compress
    * — ratio > hi). Map-only over one corpus scan; the kernel is a
    * codegen-resident custom Expression (no UDF), O(len)/O(1) per doc.
    * No SQL engine exposes deflate, so the gate entry is rows-only BY
    * DESIGN; the spec pins the orderings (repeat ≪ prose < noise), the
    * boundary semantics and re-run determinism. */
  def compressRatio(spark: SparkSession, dir: String, lo: Double = 0.1,
                    hi: Double = 1.0): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull && length(col("text")) > 0)
      .select(col("doc_id"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        graft.functions.TextHashExpressions.deflateLen(col("text"))
          .as("n_deflate"))
      .withColumn("ratio", expr(
        "CAST(n_deflate AS DOUBLE) / CAST(n_bytes AS DOUBLE)"))
      .withColumn("keep", col("ratio") >= lo && col("ratio") <= hi)

  /** C11: content fingerprint (md5 of whitespace-normalized lowercase text). */
  def fingerprintDocs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))

  /** Deterministic per-group sampling: k docs per source, ranked by a
    * content-independent hash of the id. Reproducible across runs,
    * partitionings and engines (unlike rand()) — the training-data way to
    * cut a fixed-size sample per shard/source at any scale. */
  def samplePerSource(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    // md5-of-id ordering: engine-portable (oracle-checkable), uniform-ish
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), col("lang"), col("n_chars"))
      .withColumn("sample_rank", row_number().over(w).cast("long"))
      .filter(col("sample_rank") <= k)
  }

  /** Column profiler over the events table: per-column null counts,
    * distinct estimates and ranges — the data-quality first pass. */
  def profileEvents(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    ev.agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("null_user_id"),
      sum(when(col("event_type").isNull, 1L).otherwise(0L)).as("null_event_type"),
      sum(when(col("value").isNull, 1L).otherwise(0L)).as("null_value"),
      countDistinct(col("user_id")).as("distinct_users"),
      countDistinct(col("event_type")).as("distinct_types"),
      min(col("value")).as("min_value"), max(col("value")).as("max_value"),
      min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
  }

  /** Corpus term frequencies: top-k most frequent tokens overall.
    * One explode + one agg; TakeOrdered for the top-k. */
  def termFrequencies(spark: SparkSession, dir: String, k: Int = 20): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("term"))
      .limit(k)

  // Shared gate expressions — policyFilter, deterministicSplit and the
  // composed curate gate must stay expression-identical (their oracles
  // assume it), so each lives in exactly one place.
  private[graft] def digitCountOf(text: org.apache.spark.sql.Column) =
    length(regexp_replace(text, "[^0-9]", "")).cast("long")
  private[graft] def digitRatioFrom(nDigits: org.apache.spark.sql.Column,
                                    nChars: org.apache.spark.sql.Column) =
    when(nChars > 0, nDigits.cast("double") / nChars).otherwise(lit(0.0))
  private[graft] def digitRatioOf(text: org.apache.spark.sql.Column,
                                  nChars: org.apache.spark.sql.Column) =
    digitRatioFrom(digitCountOf(text), nChars)
  private[graft] def maxTokenLenOf(text: org.apache.spark.sql.Column) =
    array_max(transform(split(text, "\\s+"), t => length(t))).cast("long")
  private[graft] def md5Bucket(id: org.apache.spark.sql.Column) =
    substring(md5(id.cast("string").cast("binary")), 1, 2)
  private[graft] def splitOf(id: org.apache.spark.sql.Column) =
    when(md5Bucket(id) < "cd", "train")
      .when(md5Bucket(id) < "e6", "val")
      .otherwise("test")

  /** Policy/keep filter — the final gate of a training-data pipeline:
    * cheap structural signals (digit density, pathological token length)
    * decide keep/drop with the reasons kept observable. Pure map stage,
    * character-class regexes only (identical semantics across engines). */
  def policyFilter(spark: SparkSession, dir: String,
                   maxDigitRatio: Double = 0.3, maxTokenLen: Int = 25): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("n_digits", digitCountOf(col("text")))
      .withColumn("digit_ratio", digitRatioFrom(col("n_digits"), col("n_chars")))
      .withColumn("max_token_len", maxTokenLenOf(col("text")))
      .withColumn("keep",
        col("digit_ratio") < maxDigitRatio && col("max_token_len") <= maxTokenLen)
      .drop("text")

  /** The end-to-end curation gate — what an LLM-data user actually runs to
    * turn a raw corpus into a training set: exact dedup (first writer wins
    * on the normalized fingerprint) → policy screen (digit ratio, token
    * length) → quality threshold → deterministic split for the survivors,
    * with the FIRST failing gate recorded per doc so drop reasons are
    * observable. One shuffle (the fingerprint groupBy-join); every other
    * gate is a map-side expression. All gates reuse the independently
    * oracle-gated building blocks, and the composition itself is
    * oracle-gated end-to-end. */
  def curate(spark: SparkSession, dir: String, minQuality: Double = 0.2,
             maxDigitRatio: Double = 0.3, maxTokenLen: Int = 25): DataFrame =
    curateImpl(spark, dir, ndKeep = None, minQuality, maxDigitRatio, maxTokenLen)

  /** [[curate]] with a NEAR-dup gate between the exact-dedup and policy
    * stages — the fuzzy analog a corpus owner chains after exact dedup: the
    * minhash-LSH keep-list by QUALITY ([[Dedup.keepListByQuality]]) drops
    * every near-dup cluster member except its best-quality copy, with its
    * own observable `neardup` drop reason. Among exact copies the quality
    * argmax tie-breaks to min doc_id, so the near-dup winner is always
    * consistent with the exact gate's canonical. Costs the LSH band
    * exchange + CC rounds on top of curate's one fingerprint shuffle —
    * which is why it's the opt-in variant, not the default (and the exact
    * path keeps its SQL oracle: minhash isn't DuckDB-expressible). */
  def curateNearDup(spark: SparkSession, dir: String, minQuality: Double = 0.2,
                    maxDigitRatio: Double = 0.3, maxTokenLen: Int = 25,
                    threshold: Double = 0.5): DataFrame = scope {
    val nd = graft.operators.Dedup.keepListByQuality(spark, dir, threshold)
      .select(col("doc_id"), col("keep").as("nd_keep"))
    curateImpl(spark, dir, ndKeep = Some(nd), minQuality, maxDigitRatio, maxTokenLen)
  }

  /** Write the CURATION store: the near-dup signature store
    * ([[Dedup.writeSignatureStore]]: sigs + bands + LSH params) plus the
    * exact-digest table `fps.parquet` (doc_id, fp) — together, everything
    * [[curateIncremental]] needs to admit a new batch against a corpus
    * without ever re-reading the corpus text. Digests are ~16 bytes/doc and
    * signatures numHashes longs/doc, so the store is O(corpus docs), not
    * O(corpus bytes) — the artifact a 100 TB owner keeps hot between
    * nightly ingests. */
  def writeCurateStore(docs: DataFrame, storeDir: String, shingleK: Int = 3,
                       numHashes: Int = 16, bands: Int = 4): Unit = scope {
    graft.operators.Dedup.writeSignatureStore(docs, storeDir, shingleK, numHashes, bands)
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .write.mode("overwrite").parquet(s"$storeDir/fps.parquet")
  }

  /** Incremental curate — the operation a corpus owner runs DAILY: gate a
    * NEW batch against the existing corpus represented only by its curation
    * store, emitting the same per-doc verdict schema as [[curate]]
    * (doc_id, keep, drop_reason, split) and appending the batch to the
    * store so the next ingest sees it. Gate chain, first failure recorded:
    *
    *  - `duplicate`: the doc's digest already exists in the store
    *    (dup-of-existing, a digest-only left-join — the batch never reads
    *    existing text), or a smaller batch doc id carries the same digest
    *    (batch-internal first-writer-wins, same rule as [[curate]]).
    *  - `neardup`: LSH-paired with an existing doc (the corpus copy always
    *    wins — it has already been trained on), or a batch-internal
    *    near-dup cluster loser (best quality wins, ties to min doc_id,
    *    matching [[curateNearDup]]). The batch's signatures land via ONE
    *    [[Dedup.ingestSignatures]] cycle and pairs are then derived from
    *    the PERSISTED store ([[Dedup.pairsFromStore]]), so per-ingest cost
    *    is O(batch) signatures + band probes — never O(corpus²) — and the
    *    pairs are crash-stable: a retry after a crash between the
    *    signature append and the digest marker below re-derives the SAME
    *    pairs from the store (in-flight ingest pairs would come back empty
    *    for the already-appended batch, waving every near-dup through).
    *  - `policy` / `quality` / split: the same map-side expressions as
    *    [[curate]].
    *
    * Batch doc ids already present in the store's digest table are treated
    * as retries and skipped (no verdict row — their verdicts were emitted
    * by the earlier attempt). ALL admitted batch docs are appended —
    * dropped ones too — so a future copy of even a rejected doc is still
    * recognized. The digest append lands LAST: it is the admission marker,
    * so a crash mid-ingest leaves the batch re-runnable (the signature
    * store's own append ordering makes its retry safe). */
  def curateIncremental(batch: DataFrame, storeDir: String,
                        minQuality: Double = 0.2, maxDigitRatio: Double = 0.3,
                        maxTokenLen: Int = 25, threshold: Double = 0.5): DataFrame = scope {
    val spark = batch.sparkSession
    val storeFps = spark.read.parquet(s"$storeDir/fps.parquet")
    // pin the admitted batch BEFORE the store mutates below (same
    // recache-by-path hazard minhashLshIngest documents)
    val docs = batch.select(col("doc_id"), col("text"))
      .filter(col("text").isNotNull)
      .dropDuplicates("doc_id")
      .withColumn("fp", fingerprint(col("text")))
      .join(storeFps.select(col("doc_id")), Seq("doc_id"), "left_anti").pin()
    // signature append first (idempotent per doc id), then pairs from the
    // PERSISTED store — identical on a clean run, and the only source that
    // still sees the batch's near-dups when a crashed earlier attempt
    // already appended its signatures
    graft.operators.Dedup
      .ingestSignatures(docs.select(col("doc_id"), col("text")), storeDir)
    val pairs = graft.operators.Dedup
      .pairsFromStore(docs.select(col("doc_id")), storeDir, threshold)
    val batchIds = docs.select(col("doc_id"))
    // pairs whose a-side is NOT a batch doc pair the batch doc against the
    // existing corpus: the b-side (always a batch doc) loses outright
    val extLosers = pairs
      .join(batchIds.withColumnRenamed("doc_id", "id_a"), Seq("id_a"), "left_anti")
      .select(col("id_b").as("doc_id")).distinct()
      .withColumn("ext_nd", lit(true))
    // batch-internal pairs cluster; each cluster keeps its best-quality copy
    val internal = pairs
      .join(batchIds.withColumnRenamed("doc_id", "id_a"), Seq("id_a"), "left_semi")
      .select(col("id_a"), col("id_b"))
    val clusters = graft.operators.Dedup.clustersFromPairsStars(internal)
      .withColumnRenamed("id", "doc_id")
    val member = docs.select(col("doc_id"), qualityScore(col("text")).as("q"))
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("cluster_id"), col("doc_id")))
    val winners = member.groupBy("cluster")
      .agg(max(struct(col("q"), (-col("doc_id")).as("neg_id"))).as("best"))
      .select(col("cluster"), (-col("best.neg_id")).as("nd_canonical"))
    val ndCanon = member.join(winners, "cluster")
      .select(col("doc_id"), col("nd_canonical"))
    val existingFp = storeFps.select(col("fp").as("e_fp")).distinct()
    val batchCanon = docs.groupBy("fp").agg(min(col("doc_id")).as("batch_keep_id"))
    val verdicts = docs
      .join(existingFp, col("fp") === col("e_fp"), "left")
      .join(batchCanon, "fp")
      .join(extLosers, Seq("doc_id"), "left")
      .join(ndCanon, Seq("doc_id"), "left")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("digit_ratio", digitRatioOf(col("text"), col("n_chars")))
      .withColumn("max_token_len", maxTokenLenOf(col("text")))
      .withColumn("quality", qualityScore(col("text")))
      .withColumn("drop_reason",
        when(col("e_fp").isNotNull || col("doc_id") =!= col("batch_keep_id"), "duplicate")
          .when(coalesce(col("ext_nd"), lit(false)) ||
            col("doc_id") =!= coalesce(col("nd_canonical"), col("doc_id")), "neardup")
          .when(!(col("digit_ratio") < maxDigitRatio &&
            col("max_token_len") <= maxTokenLen), "policy")
          .when(col("quality") < minQuality, "quality"))
      .withColumn("keep", col("drop_reason").isNull)
      .withColumn("split", when(col("keep"), splitOf(col("doc_id"))))
      .select(col("doc_id"), col("keep"), col("drop_reason"), col("split"))
      .pin() // materialize BEFORE the admission marker lands
    // digest append LAST: the admission marker commits this batch as done
    docs.select(col("doc_id"), col("fp"))
      .write.mode("append").parquet(s"$storeDir/fps.parquet")
    verdicts
  }

  private def curateImpl(spark: SparkSession, dir: String,
                         ndKeep: Option[DataFrame], minQuality: Double,
                         maxDigitRatio: Double, maxTokenLen: Int): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).filter(col("text").isNotNull)
    val fp = docs.withColumn("fp", fingerprint(col("text")))
    val canon = fp.groupBy("fp").agg(min(col("doc_id")).as("keep_id"))
    val base = fp.join(canon, "fp")
    // docs the near-dup list doesn't cover (zero-shingle, or gate disabled)
    // default to keep=true — absence of evidence is not a drop reason
    val gated = ndKeep.fold(base.withColumn("nd_keep", lit(true))) { nd =>
      base.join(nd, Seq("doc_id"), "left")
        .withColumn("nd_keep", coalesce(col("nd_keep"), lit(true)))
    }
    gated
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("digit_ratio", digitRatioOf(col("text"), col("n_chars")))
      .withColumn("max_token_len", maxTokenLenOf(col("text")))
      .withColumn("quality", qualityScore(col("text")))
      .withColumn("drop_reason",
        when(col("doc_id") =!= col("keep_id"), "duplicate")
          .when(!col("nd_keep"), "neardup")
          .when(!(col("digit_ratio") < maxDigitRatio &&
            col("max_token_len") <= maxTokenLen), "policy")
          .when(col("quality") < minQuality, "quality"))
      .withColumn("keep", col("drop_reason").isNull)
      .withColumn("split", when(col("keep"), splitOf(col("doc_id"))))
      .select(col("doc_id"), col("keep"), col("drop_reason"), col("split"))
  }

  /** [[curate]] with zero-cost pipeline observability: per-gate counters
    * ride the SAME pass via Spark's `observe` API (accumulator-backed — no
    * second scan of a 100 TB corpus to know how much each gate dropped).
    * After any action on the returned frame, `observation.get` yields
    * n_docs / n_kept / n_duplicate / n_policy / n_quality. */
  def curateObserved(spark: SparkSession, dir: String)
  : (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation("curate_gate")
    def reasonCount(r: String) =
      sum(when(col("drop_reason") === r, 1L).otherwise(0L)).as(s"n_$r")
    val out = curate(spark, dir).observe(obs,
      count(lit(1)).as("n_docs"),
      sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
      reasonCount("duplicate"), reasonCount("policy"), reasonCount("quality"))
    (out, obs)
  }

  /** Per-document token-distribution entropy — a repetition/quality signal
    * (boilerplate and generated spam have low entropy for their length).
    * Shannon entropy via the ln-decomposition H = ln n − (Σ c·ln c)/n so
    * both engines evaluate the identical float expression; reported at 6 dp
    * (ln is 1-ULP engine-dependent). One explode + two partial-agg
    * groupBys, map-side combinable. */
  def tokenEntropy(spark: SparkSession, dir: String): DataFrame =
    Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_tokens"),
        countDistinct(col("term")).as("n_distinct"),
        round(log(sum(col("c"))) - sum(col("c") * log(col("c"))) / sum(col("c")), 6)
          .as("entropy"))

  /** Deterministic stratified train/val/test split — the reproducible-split
    * primitive of a training-data pipeline: the split is a pure function of
    * the doc id (first md5 byte as a 0–255 bucket; hex chars compare
    * lexicographically, so thresholds are string compares portable across
    * engines), never rand(). Map-only + one partial-agg count per
    * (source, split); re-running on a grown corpus keeps every previously
    * assigned document in its split. Thresholds 'cd'/'e6' ≈ 80/10/10. */
  def deterministicSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"))
      .withColumn("split", splitOf(col("doc_id")))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc_id"))

  /** C48: data MIXTURE reweighting — the domain-balancing step of
    * pretraining prep: given a target share per source (uniform by
    * default), emit how many times each document appears in the mixed
    * corpus. `weight_s = (total_tokens · share) / source_tokens`; every doc
    * gets `floor(weight_s)` copies and the hash-ranked FIRST
    * `round(frac(weight_s) · n_docs_s)` docs of the source get one more —
    * deterministic (md5 rank, no rand()), hits the target doc-count
    * fraction exactly (±1 doc per source), and `weight < 1` degrades to
    * deterministic downsampling (keep the first `weight` fraction).
    *
    * Scale shape: token census = one bounded groupBy(source); the
    * source-wide hash rank is the two-level pattern (SIXTH instance) —
    * ranks refine through (source, first-md5-byte) buckets whose offsets
    * come from a cumsum over the ≤ sources·256-row summary, so no source
    * ever sorts in one partition; the per-source plan rides back on a
    * broadcast-sized join. */
  def mixture(spark: SparkSession, dir: String): DataFrame =
    mixtureOf(Tables.documents(spark, dir))

  /** `targetShares` overrides the uniform target: a map of source → share
    * of the mixed corpus's tokens (shares are taken as given, not
    * re-normalized; sources absent from a non-empty map get share 0 and
    * drop out entirely). Empty map = uniform across observed sources. */
  private[graft] def mixtureOf(docs: DataFrame,
                               targetShares: Map[String, Double] = Map.empty): DataFrame = {
    val toks = mixtureToks(docs)
    // per-source census + corpus totals: bounded by the source count
    val bySource = toks.groupBy("source")
      .agg(sum(col("n_tokens")).as("src_tokens"), count(lit(1)).as("src_docs"))
    val totals = bySource.groupBy()
      .agg(sum(col("src_tokens")).as("total_tokens"),
        count(lit(1)).as("n_sources"))
    // the per-source plan: copies-per-doc floor + how many docs get one more.
    // Both engines evaluate the identical double expression left-to-right.
    val plan = bySource.crossJoin(broadcast(totals))
      .withColumn("share",
        if (targetShares.isEmpty) lit(1.0) / col("n_sources")
        else coalesce(element_at(typedLit(targetShares), col("source")), lit(0.0)))
      .withColumn("weight",
        col("total_tokens").cast("double") * col("share") / col("src_tokens"))
      .withColumn("base_copies", floor(col("weight")))
      .withColumn("n_extra",
        round((col("weight") - floor(col("weight"))) * col("src_docs"), 0).cast("long"))
      .select(col("source"), col("base_copies"), col("n_extra"))
    applyMixturePlan(toks, plan)
  }

  private def mixtureToks(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        md5(col("doc_id").cast("string").cast("binary")).as("h"))

  /** Apply a per-source (base_copies, n_extra) plan: two-level rank by
    * (h, doc_id) — bucket = first md5 byte (hex compares lexicographically,
    * so bucket order refines the rank order) — then the extra-copy cut. */
  private def applyMixturePlan(toks: DataFrame, plan: DataFrame): DataFrame = {
    val bucketed = toks.withColumn("g", substring(col("h"), 1, 2))
    val offsets = bucketed.groupBy("source", "g").agg(count(lit(1)).as("sz"))
      .withColumn("offset", coalesce(sum(col("sz")).over(
        Window.partitionBy("source").orderBy("g")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("source"), col("g"), col("offset"))
    val inBucket = Window.partitionBy("source", "g").orderBy("h", "doc_id")
    bucketed.join(offsets, Seq("source", "g"))
      .withColumn("rnk", col("offset") + row_number().over(inBucket))
      .join(plan, "source") // AQE broadcasts the ≤|sources|-row plan
      .select(col("source"), col("doc_id"),
        (col("base_copies") + when(col("rnk") <= col("n_extra"), lit(1L))
          .otherwise(lit(0L))).cast("long").as("n_copies"))
  }

  def mixtureTemp(spark: SparkSession, dir: String): DataFrame =
    mixtureTempOf(Tables.documents(spark, dir))

  /** Temperature-sampled mixture (α = 0.5): target share per source
    * ∝ src_tokens^α — the multilingual-pretraining compromise between
    * natural proportions (α = 1, big sources drown small ones) and uniform
    * (α = 0, small sources over-repeated to mush). α is fixed at 0.5
    * because sqrt is IEEE-correctly-rounded in every engine — the share is
    * bit-reproducible where a general pow(x, α) is libm-dependent; the
    * per-source sqrt weights are quantized to 9 dp before the cross-source
    * sum so the denominator is summation-order-independent too.
    * Same plan/rank machinery as [[mixtureOf]] — one census pass, a
    * source-count-sized plan, no per-doc state. */
  private[graft] def mixtureTempOf(docs: DataFrame): DataFrame = {
    val toks = mixtureToks(docs)
    val bySource = toks.groupBy("source")
      .agg(sum(col("n_tokens")).as("src_tokens"), count(lit(1)).as("src_docs"))
      .withColumn("sqw", sqrt(col("src_tokens").cast("double"))
        .cast(org.apache.spark.sql.types.DecimalType(18, 9)))
    val totals = bySource.groupBy()
      .agg(sum(col("src_tokens")).as("total_tokens"), sum(col("sqw")).as("sum_sqw"))
    val plan = bySource.crossJoin(broadcast(totals))
      .withColumn("share", col("sqw").cast("double") / col("sum_sqw").cast("double"))
      .withColumn("weight",
        col("total_tokens").cast("double") * col("share") / col("src_tokens"))
      .withColumn("base_copies", floor(col("weight")))
      .withColumn("n_extra",
        round((col("weight") - floor(col("weight"))) * col("src_docs"), 0).cast("long"))
      .select(col("source"), col("base_copies"), col("n_extra"))
    applyMixturePlan(toks, plan)
  }

  /** Within-document n-gram repetition — the boilerplate/generated-spam
    * signal quality pipelines filter on (a doc whose 3-grams mostly repeat
    * is template output, whatever its entropy): duplicate fraction of
    * word n-grams computed entirely inside one row via array expressions —
    * map-only, no explode, no shuffle at any scale. */
  def repetitionNgrams(spark: SparkSession, dir: String, n: Int = 3): DataFrame =
    Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      // sequence(a, b) COUNTS DOWN when a > b — guard short docs explicitly
      .withColumn("grams",
        when(size(col("toks")) >= n,
          transform(sequence(lit(0), size(col("toks")) - n),
            i => concat_ws(" ", (0 until n).map(j => element_at(col("toks"), i + j + 1)): _*)))
          .otherwise(array()))
      .select(col("doc_id"),
        size(col("grams")).cast("long").as("n_grams"),
        size(array_distinct(col("grams"))).cast("long").as("n_distinct"))
      .withColumn("dup_ratio",
        when(col("n_grams") > 0,
          lit(1.0) - col("n_distinct").cast("double") / col("n_grams"))
          .otherwise(lit(0.0)))

  // character-class-only regexes: identical semantics in Java regex and
  // DuckDB's RE2, so the oracle evaluates the same matches
  private[graft] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"
  private[graft] val PhoneRe = "[0-9][0-9][0-9]-[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]"

  /** PII scrub — the privacy gate of a training-data pipeline: regex
    * redaction of emails / phone numbers, counts kept observable and the
    * SCRUBBED text fingerprinted (so the gate verifies the redacted content,
    * not just match counts). Pure map stage — no shuffle at any scale. */
  def piiScrub(spark: SparkSession, dir: String): DataFrame =
    piiScrubOf(Tables.documents(spark, dir))

  private[graft] def piiScrubOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"))
      .withColumn("n_emails",
        size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).cast("long"))
      .withColumn("n_phones",
        size(regexp_extract_all(col("text"), lit(PhoneRe), lit(0))).cast("long"))
      .withColumn("scrubbed",
        regexp_replace(regexp_replace(col("text"), EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>"))
      .select(col("doc_id"), col("n_emails"), col("n_phones"),
        md5(col("scrubbed").cast("binary")).as("scrubbed_fp"))

  /** Deterministic stratified sampling — per-stratum keep rates as a pure
    * function of the doc id (md5-bucket compare, like [[deterministicSplit]]):
    * the majority language is downsampled hard while minority languages keep
    * most rows — the rebalancing primitive of multilingual corpus prep.
    * Map-only filter, no shuffle; growing the corpus never resamples
    * previously kept rows. Hex thresholds: '40' ≈ 25%, 'cd' ≈ 80%. */
  def stratifiedSample(spark: SparkSession, dir: String,
                       majorityLang: String = "en",
                       majorityThreshold: String = "40",
                       minorityThreshold: String = "cd"): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), md5Bucket(col("doc_id")).as("b"))
      .filter(when(col("lang") === majorityLang, col("b") < majorityThreshold)
        .otherwise(col("b") < minorityThreshold))
      .select(col("doc_id"), col("lang"))

  /** BPE training's inner statistic: corpus-wide frequencies of ADJACENT
    * character pairs inside words — the count a byte-pair-encoding
    * vocabulary learner greedily merges on. Words explode once, pairs are
    * in-row array expressions (substring windows, no second explode until
    * the pair column itself), the count is one partial-agg shuffle of
    * ≤|alphabet|² keys, top-k via TakeOrdered. */
  def bpePairs(spark: SparkSession, dir: String, k: Int = 20): DataFrame =
    bpePairsOf(Tables.documentsSpread(spark, dir), k)

  private[graft] def bpePairsOf(docs: DataFrame, k: Int): DataFrame =
    docs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .select(explode(transform(sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy("pair")
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("pair"))
      .limit(k)

  /** Token-budget shard packing — chunk the corpus (in deterministic doc_id
    * order) into training shards of ~`budget` tokens each: shard(d) =
    * floor(prefix_tokens_before_d / budget). The global prefix sum is
    * computed WITHOUT a single-partition window over the corpus: docs are
    * range-bucketed on doc_id, per-bucket totals (corpus/bucketSize rows)
    * get a cumulative offset on the small summary table, and offsets join
    * back on the bucket key so the full-width window only ever sorts one
    * bucket. At 1000× the data only the summary table grows; raise
    * `bucketSize` (or add a third level) to keep it bounded. */
  def shardAssign(spark: SparkSession, dir: String, budget: Long = 5000,
                  bucketSize: Long = 64): DataFrame =
    shardAssignOf(Tables.documents(spark, dir), budget, bucketSize)

  private[graft] def shardAssignOf(docs: DataFrame, budget: Long,
                                   bucketSize: Long): DataFrame = {
    val toks = docs
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("bucket", expr(s"doc_id div $bucketSize"))
    // bucket summary: one row per bucketSize docs — the only unpartitioned
    // window, over a table 1/bucketSize the corpus size
    val offsets = toks.groupBy("bucket")
      .agg(sum(col("n_tokens")).as("bucket_tokens"))
      .withColumn("offset", coalesce(sum(col("bucket_tokens")).over(
        boundedWindow(col("bucket")) // ≤buckets summary
          .rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("bucket"), col("offset"))
    val inBucket = Window.partitionBy("bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks.join(offsets, "bucket") // co-partitioned on bucket; AQE broadcasts the small side
      .withColumn("cum", col("offset") + sum(col("n_tokens")).over(inBucket))
      .select(col("doc_id"), col("n_tokens"),
        expr(s"(cum - n_tokens) div $budget").as("shard"))
  }

  /** C45: sequence PACKING — the pretraining data-prep step after curation:
    * every document's tokens land contiguously in fixed-length training
    * sequences (GPT-style packing, no padding waste), docs straddling a
    * boundary SPLIT across adjacent sequences. Output one row per
    * (doc, sequence) span: `seq_id`, `seq_offset` (where in the sequence
    * this doc's chunk starts), `n_tokens` (chunk length) — exactly the
    * manifest a sharded tokenizer job consumes. The global token prefix
    * sum is the two-level pattern (bucket totals + within-bucket windows —
    * FIFTH instance; never a corpus-wide single-partition window) and the
    * span fan-out is an in-row `sequence()` explode: a doc spans
    * ceil(tokens/seqLen)+1 rows at most, so output is O(corpus tokens /
    * seqLen + docs). All-integer span arithmetic — engine-portable. */
  def pack(spark: SparkSession, dir: String, seqLen: Long = 512,
           bucketSize: Long = 64): DataFrame =
    packOf(Tables.documents(spark, dir), seqLen, bucketSize)

  private[graft] def packOf(docs: DataFrame, seqLen: Long,
                            bucketSize: Long): DataFrame =
    packOfFrom(docs, seqLen, bucketSize, base = 0L)

  /** [[packOf]] with the token stream starting at `base` instead of 0 —
    * the batch's first token lands exactly where the existing stream ends,
    * continuing a partially-filled trailing sequence. Identical plan shape;
    * `base` is a literal folded into the cumsum. */
  private[graft] def packOfFrom(docs: DataFrame, seqLen: Long,
                                bucketSize: Long, base: Long): DataFrame =
    packSpans(docs.filter(col("text").isNotNull)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("bucket", expr(s"doc_id div $bucketSize")), seqLen, base)

  /** The packing core over (doc_id, n_tokens, bucket) — text never enters:
    * callers that repeat or re-key documents ([[epochOf]]) pack pure token
    * counts. `bucket` must refine doc_id order (equal buckets ⇒ contiguous
    * id ranges) and stay summary-sized in count with bounded rows each.
    * `budget` cuts the PACKED STREAM to its leading ≤budget tokens by whole
    * rows (keep every row whose running total fits): the kept set is a
    * prefix of the stream, so the cut is one filter on the prefix sum the
    * pack computes anyway, and kept rows' spans are bit-identical to the
    * uncut pack's. */
  private def packSpans(toks: DataFrame, seqLen: Long, base: Long,
                        budget: Option[Long] = None): DataFrame = {
    val offsets = toks.groupBy("bucket")
      .agg(sum(col("n_tokens")).as("bucket_tokens"))
      .withColumn("offset", coalesce(sum(col("bucket_tokens")).over(
        boundedWindow(col("bucket")) // ≤buckets summary
          .rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("bucket"), col("offset"))
    val inBucket = Window.partitionBy("bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = toks.join(offsets, "bucket")
      .withColumn("cum", lit(base) + col("offset") + sum(col("n_tokens")).over(inBucket))
    budget.map(b => cum.filter(col("cum") <= b)).getOrElse(cum)
      .withColumn("strt", col("cum") - col("n_tokens"))
      // single-space split yields ≥1 token for any non-null text, so
      // strt ≤ cum−1 always — the sequence() bounds can never invert
      .withColumn("seq_id",
        explode(sequence(expr(s"strt div $seqLen"), expr(s"(cum - 1) div $seqLen"))))
      .select(col("doc_id"), col("seq_id"),
        greatest(col("strt") - col("seq_id") * seqLen, lit(0L)).as("seq_offset"),
        (least(col("cum") - 1, (col("seq_id") + 1) * seqLen - 1)
          - greatest(col("strt"), col("seq_id") * seqLen) + 1).as("n_tokens"))
  }

  /** Persist a pack manifest as a store for incremental growth: the spans
    * parquet plus `params.parquet` (seq_len, bucket_size). The next batch's
    * base offset is derived from the manifest itself (max span end — see
    * [[packIncremental]]), so there is no separate totals row that a crash
    * between two writes could leave stale. The packing params ARE the
    * store's identity — a batch packed with a different seqLen would derive
    * a wrong base offset from spans built with the store's — so, like the
    * LSH signature store, they persist with the store and are enforced on
    * every ingest. */
  def writePackStore(docs: DataFrame, storeDir: String, seqLen: Long = 512,
                     bucketSize: Long = 64): Unit = {
    import docs.sparkSession.implicits._
    packOf(docs, seqLen, bucketSize)
      .write.mode("overwrite").parquet(s"$storeDir/manifest.parquet")
    Seq((seqLen, bucketSize)).toDF("seq_len", "bucket_size")
      .write.mode("overwrite").parquet(s"$storeDir/params.parquet")
  }

  /** C47: INCREMENTAL packing — the corpus-growth form of [[pack]]: append
    * a new batch of documents to an existing sequence manifest. The batch's
    * tokens continue the packed stream exactly where it ends (the trailing
    * partially-filled sequence fills up first), so for append-only id
    * growth the result is bit-identical to re-packing the whole corpus —
    * without touching existing docs' text. Per-ingest cost: one 3-int-column
    * scan of the manifest for the base offset (max span end, a partial-agg
    * scalar), a doc_id anti-join that skips already-packed docs (re-submit
    * is a no-op — at-least-once callers are safe), and [[packOfFrom]] over
    * the batch alone. The returned spans are localCheckpoint'ed before the
    * manifest append, so callers read them without re-racing the store.
    * seqLen/bucketSize come from the store's own `params.parquet` — a
    * caller cannot mis-pack against it (a differing seqLen would compute
    * the base offset with the wrong stride and emit inconsistent spans). */
  def packIncremental(batch: DataFrame, storeDir: String): DataFrame = scope {
    val p = batch.sparkSession.read.parquet(s"$storeDir/params.parquet").head()
    val (seqLen, bucketSize) =
      (p.getAs[Long]("seq_len"), p.getAs[Long]("bucket_size"))
    val manifest = batch.sparkSession.read.parquet(s"$storeDir/manifest.parquet")
    val base = manifest
      .agg(coalesce(max(col("seq_id") * seqLen + col("seq_offset") + col("n_tokens")),
        lit(0L)))
      .head().getLong(0)
    val fresh = batch
      .join(manifest.select(col("doc_id")).distinct(), Seq("doc_id"), "left_anti")
    val spans = packOfFrom(fresh, seqLen, bucketSize, base).pin()
    spans.write.mode("append").parquet(s"$storeDir/manifest.parquet")
    spans
  }

  /** C49: epoch BUILD — the mixture plan composed with sequence packing
    * into the end-to-end pretraining manifest: every document appears
    * [[mixture]]-many times (`rep` = 1..n_copies) and the repeated stream
    * packs into fixed-length sequences exactly as [[pack]] would pack the
    * repeated corpus. The repeat NEVER ships text: mixture emits copy
    * counts, the repeat explodes an in-row `sequence(1, n_copies)`, and
    * the packing core runs on (key, n_tokens) alone — so an upsampled
    * source costs rows of two longs, not duplicated document bytes.
    * Keys: `pk = doc_id·K + (rep−1)` with `K = max(n_copies)+1` (a scalar),
    * so epoch order is (doc_id, rep); the prefix-sum buckets stay the
    * ORIGINAL doc-id buckets (bucket = doc_id div bucketSize — bucket count
    * is docs/bucketSize regardless of upsampling, each bounded by
    * bucketSize·K rows), keeping the two-level summary summary-sized. */
  def epoch(spark: SparkSession, dir: String, seqLen: Long = 512,
            bucketSize: Long = 64): DataFrame =
    epochOf(Tables.documents(spark, dir), seqLen, bucketSize)

  /** C52: epoch BUILD UNDER A TOKEN BUDGET — the call a pretraining run
    * actually makes: "exactly these domain shares, at most `budget`
    * tokens". [[mixtureOf]] sets per-doc copy counts (optionally toward
    * `targetShares`), the repeated stream is cut to the leading instances
    * whose running total fits the budget (whole (doc, rep) instances — a
    * budget never splits a document mid-stream), and the kept prefix packs
    * into sequences. Because the kept set is a PREFIX of the epoch stream,
    * the cut is one filter on the prefix sum the pack already computes
    * (zero extra passes), and every kept span is bit-identical to the
    * uncut [[epoch]]'s span for that instance — the equality the spec
    * pins. Same plan shape and scale properties as [[epoch]]. */
  def epochBudget(spark: SparkSession, dir: String, budget: Long = 20000,
                  seqLen: Long = 512, bucketSize: Long = 64,
                  targetShares: Map[String, Double] = Map.empty): DataFrame =
    epochOf(Tables.documents(spark, dir), seqLen, bucketSize,
      budget = Some(budget), targetShares = targetShares)

  private[graft] def epochOf(docs: DataFrame, seqLen: Long,
                             bucketSize: Long,
                             budget: Option[Long] = None,
                             targetShares: Map[String, Double] = Map.empty): DataFrame = {
    val mix = mixtureOf(docs, targetShares).filter(col("n_copies") >= 1L)
    val toks = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
    // scalar: the re-key stride (bounded driver action, one long)
    val k = mix.agg((coalesce(max(col("n_copies")), lit(0L)) + 1L).as("k"))
      .head().getLong(0)
    val repeated = mix.join(toks, "doc_id")
      .select(col("doc_id"), col("n_tokens"),
        explode(sequence(lit(1L), col("n_copies"))).as("rep"))
      .select((col("doc_id") * k + col("rep") - 1L).as("doc_id"),
        col("n_tokens"),
        // references the INPUT doc_id: buckets follow the original ids
        expr(s"doc_id div $bucketSize").as("bucket"))
    packSpans(repeated, seqLen, base = 0L, budget = budget)
      .select(expr(s"doc_id div $k").as("doc_id"),
        (col("doc_id") % k + 1L).as("rep"),
        col("seq_id"), col("seq_offset"), col("n_tokens"))
  }

  /** C51: overlapping token-window CHUNKING — the pre-embedding step of a
    * retrieval/embedding pipeline: each document yields windows of `size`
    * tokens starting every `stride` tokens (stride < size ⇒ overlap, the
    * standard recipe so no semantic boundary is lost to a hard cut), with
    * the chunk text materialized for the embedder. Entirely map-only: the
    * window starts are an in-row `sequence(0, (n−1) div stride)·stride`
    * explode and the text is an in-row array `slice` + join — no shuffle
    * at any corpus size, output O(tokens/stride). */
  def chunk(spark: SparkSession, dir: String, chunkSize: Int = 64,
            stride: Int = 32): DataFrame =
    chunkOf(Tables.documents(spark, dir), chunkSize, stride)

  private[graft] def chunkOf(docs: DataFrame, chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize > 0 && stride > 0, "chunkSize and stride must be positive")
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      // one start per stride while it still lands inside the doc
      .withColumn("chunk_id", explode(sequence(lit(0L), expr(s"(n - 1) div $stride"))))
      .select(col("doc_id"), col("chunk_id"),
        (col("chunk_id") * stride).as("tok_start"),
        least(lit(chunkSize.toLong), col("n") - col("chunk_id") * stride).as("n_tokens"),
        concat_ws(" ", slice(col("toks"),
          (col("chunk_id") * stride + 1).cast("int"), lit(chunkSize))).as("chunk_text"))
  }

  /** C50: SHUFFLED epoch — [[epoch]] with the (doc, rep) units packed in
    * hash-shuffled order instead of doc-id order. Packing by doc_id keeps
    * each source's documents contiguous, so consecutive training sequences
    * come from one domain — correlated batches. Here the pack order is
    * `md5(doc_id:rep)`, which both scatters sources across the stream and
    * separates the copies of an upsampled document (each rep hashes
    * independently). Same two-level prefix sum, bucketed by the first
    * `prefixLen` hex chars of the shuffle hash (16^prefixLen summary rows —
    * lengthen the prefix as the corpus grows, as with [[vocab]]); the
    * shuffle is deterministic, so the epoch is reproducible with no
    * rand(). */
  def epochShuffled(spark: SparkSession, dir: String, seqLen: Long = 512,
                    prefixLen: Int = 2): DataFrame =
    epochShuffledOf(Tables.documents(spark, dir), seqLen, prefixLen)

  private[graft] def epochShuffledOf(docs: DataFrame, seqLen: Long,
                                     prefixLen: Int): DataFrame = {
    val mix = mixtureOf(docs).filter(col("n_copies") >= 1L)
    val toks = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val units = mix.join(toks, "doc_id")
      .select(col("doc_id"), col("n_tokens"),
        explode(sequence(lit(1L), col("n_copies"))).as("rep"))
      .withColumn("h", md5(concat(col("doc_id").cast("string"), lit(":"),
        col("rep").cast("string")).cast("binary")))
      .withColumn("bucket", substring(col("h"), 1, prefixLen))
    val offsets = units.groupBy("bucket")
      .agg(sum(col("n_tokens")).as("bucket_tokens"))
      .withColumn("offset", coalesce(sum(col("bucket_tokens")).over(
        boundedWindow(col("bucket")) // ≤buckets summary
          .rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("bucket"), col("offset"))
    val inBucket = Window.partitionBy("bucket").orderBy("h", "doc_id", "rep")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    units.join(offsets, "bucket")
      .withColumn("cum", col("offset") + sum(col("n_tokens")).over(inBucket))
      .withColumn("strt", col("cum") - col("n_tokens"))
      .withColumn("seq_id",
        explode(sequence(expr(s"strt div $seqLen"), expr(s"(cum - 1) div $seqLen"))))
      .select(col("doc_id"), col("rep"), col("seq_id"),
        greatest(col("strt") - col("seq_id") * seqLen, lit(0L)).as("seq_offset"),
        (least(col("cum") - 1, (col("seq_id") + 1) * seqLen - 1)
          - greatest(col("strt"), col("seq_id") * seqLen) + 1).as("n_tokens"))
  }

  /** Vocabulary build — terms at or above `minCount` with DENSE ids in
    * global (count desc, term) order, the id assignment a tokenizer ships
    * with. Global ranking without a corpus-wide single-partition window:
    * the total order is refined into (count, term-prefix) groups — ordering
    * by group IS the global order — so the full vocabulary only ever sorts
    * within a group, and the group offsets come from one cumsum over the
    * group-size summary (≈ distinct-counts × alphabet rows). Lengthen the
    * prefix to subdivide further at larger vocabularies. */
  def vocab(spark: SparkSession, dir: String, minCount: Long = 5): DataFrame =
    vocabOf(Tables.documents(spark, dir), minCount)

  private[graft] def vocabOf(docs: DataFrame, minCount: Long): DataFrame = {
    val tc = docs.select(explode(split(col("text"), " ")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences") >= minCount)
      .withColumn("pfx", substring(col("term"), 1, 1))
    val offsets = tc.groupBy("n_occurrences", "pfx")
      .agg(count(lit(1)).as("sz"))
      .withColumn("offset", coalesce(sum(col("sz")).over(
        boundedWindow(col("n_occurrences").desc, col("pfx")) // count×prefix groups
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("n_occurrences").as("o_n"), col("pfx").as("o_p"), col("offset"))
    val inGroup = Window.partitionBy("n_occurrences", "pfx").orderBy("term")
    tc.join(offsets, tc("n_occurrences") === col("o_n") && tc("pfx") === col("o_p"))
      .select(col("term"), col("n_occurrences"),
        (col("offset") + row_number().over(inGroup)).as("vocab_id"))
  }

  /** Exact length-decile assignment — the "drop the bottom decile" curation
    * gate: every doc's exact rank by (n_chars, doc_id) and its decile
    * 0..9. Third application of the two-level global-order pattern
    * ([[shardAssign]], [[vocab]]): groups = (n_chars, doc_id range) refine
    * the total order, offsets come from the group-size summary cumsum, the
    * corpus sorts only within groups; the total count is a single-row
    * broadcast scalar. All-integer decile arithmetic, portable to the
    * oracle. */
  def lenDeciles(spark: SparkSession, dir: String, idBucket: Long = 64): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("n_chars"))
    val keyed = docs.withColumn("g_id", expr(s"doc_id div $idBucket"))
    val offsets = keyed.groupBy("n_chars", "g_id")
      .agg(count(lit(1)).as("sz"))
      .withColumn("offset", coalesce(sum(col("sz")).over(
        boundedWindow(col("n_chars"), col("g_id")) // length×bucket groups
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("n_chars"), col("g_id"), col("offset"))
    val inGroup = Window.partitionBy("n_chars", "g_id").orderBy("doc_id")
    val total = docs.agg(count(lit(1)).as("n_total"))
    keyed.join(offsets, Seq("n_chars", "g_id"))
      .crossJoin(broadcast(total)) // single row: constant-size broadcast
      .withColumn("rank", col("offset") + row_number().over(inGroup))
      .select(col("doc_id"), col("n_chars"), col("rank"),
        expr("(10 * (rank - 1)) div n_total").as("decile"))
  }

  /** Global token-budget selection — "keep the best documents until the
    * training budget is spent": rank the corpus by (quality desc, doc_id),
    * accumulate token counts in that order, and keep every document whose
    * running total still fits `budget`. Fourth application of the
    * two-level global-order pattern ([[shardAssign]], [[vocab]],
    * [[lenDeciles]]): groups = (quality, doc_id range) refine the total
    * order, group offsets come from one cumsum over the group-size summary,
    * and the corpus only ever sorts within a group — no corpus-wide
    * single-partition window. The quality score is the same deterministic
    * expression doc_quality gates on, so the oracle reproduces it bit-
    * for-bit. */
  def tokenBudget(spark: SparkSession, dir: String, budget: Long = 20000,
                  idBucket: Long = 64): DataFrame =
    tokenBudgetOf(Tables.documents(spark, dir), budget, idBucket)

  private[graft] def tokenBudgetOf(docs: DataFrame, budget: Long,
                                   idBucket: Long): DataFrame = {
    // null text is excluded up front (same contract as curate): a null
    // quality key would silently fall out of the offsets equi-join below
    val scored = docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        wsTokens(col("text")).cast("long").as("n_tokens"),
        qualityScore(col("text")).as("quality"))
      .withColumn("g_id", expr(s"doc_id div $idBucket"))
    val offsets = scored.groupBy("quality", "g_id")
      .agg(sum(col("n_tokens")).as("sz"))
      .withColumn("offset", coalesce(sum(col("sz")).over(
        boundedWindow(col("quality").desc, col("g_id")) // quality×bucket groups
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("quality"), col("g_id"), col("offset"))
    val inGroup = Window.partitionBy("quality", "g_id").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scored.join(offsets, Seq("quality", "g_id"))
      .withColumn("cum_tokens", col("offset") + sum(col("n_tokens")).over(inGroup))
      .select(col("doc_id"), col("n_tokens"), col("cum_tokens"),
        (col("cum_tokens") <= budget).as("kept"))
  }

  /** Corpus-wide top word bigrams — collocation mining (the n>1 companion
    * of [[vocab]]'s unigram counts and [[bpePairs]]' character pairs).
    * Bigram extraction is a pure map over the split array (transform +
    * indexed slice — no explode-then-window, no self-join on position);
    * the census is one partial-agg shuffle on the bigram, top-k via
    * TakeOrderedAndProject. */
  def topBigrams(spark: SparkSession, dir: String, k: Int = 20): DataFrame =
    Tables.documents(spark, dir)
      .select(split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(ws) - 2), i -> concat(ws[i], ' ', ws[i + 1]))"))
        .as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("bigram"))
      .limit(k)

  /** Per-source corpus report — the dataset-card numbers a corpus owner
    * publishes per provenance bucket: doc/token volume, mean quality
    * (decimal-summed → order-independent), language spread, and exact-dup
    * volume (docs minus distinct fingerprints). The count/sum aggregates
    * partial-agg down to ≤|sources| keys; the two EXACT distinct-counts
    * cost what exact distinct costs — an Expand (~2× map rows) whose
    * shuffle ships one row per distinct (source, lang) and (source,
    * fingerprint) pair, i.e. ~a 16-byte digest per unique doc, the same
    * freight as doc_dedup_exact. Swap in approx_count_distinct if a
    * dashboard refresh ever outweighs exactness. */
  def sourceStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(wsTokens(col("text")).cast("long")).as("total_tokens"),
        round(sum(qualityScore(col("text"))
            .cast(org.apache.spark.sql.types.DecimalType(18, 9))).cast("double")
          / count(lit(1)), 6).as("mean_quality"),
        countDistinct(col("lang")).as("n_langs"),
        (count(lit(1)) - countDistinct(fingerprint(col("text")))).as("n_dup_docs"))

  /** C116: LEXICAL DIVERSITY report per source — the three classic
    * vocabulary-richness statistics (Yule 1944 "The Statistical Study of
    * Literary Vocabulary"; Simpson 1949; plain type-token ratio, all
    * public — the dataset-card read beside C99's Zipf slope: template
    * farms and spam repeat a tiny vocabulary, so K spikes and TTR
    * collapses; Yule's K and Simpson's D are length-insensitive where
    * raw TTR is not, which is why both ship):
    *   TTR = V/N; Yule K = 10⁴·(Σn_t² − N)/N²;
    *   Simpson D = Σn_t(n_t−1)/(N(N−1)) — the repeat-probability.
    *
    * EVERYTHING is exact integer arithmetic — counts, squares, sums —
    * with one terminal IEEE division per statistic: no ln, no
    * quantization, hash-exact by construction (Σn² ≤ N² stays inside
    * DECIMAL(38,0) at any conceivable SF).
    *
    * Scale: one corpus scan → (source, term) census partial-agg; the
    * three statistics fold the census per source (≤ sources output
    * rows). */
  def lexicalDiversity(spark: SparkSession, dir: String): DataFrame = {
    val decI = org.apache.spark.sql.types.DecimalType(38, 0)
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("source", "term")
      .agg(count(lit(1)).as("n"))
      .groupBy("source")
      .agg(count(lit(1)).as("vocab"),
        sum(col("n")).as("n_tokens"),
        sum(col("n").cast(decI) * col("n").cast(decI)).cast(decI).as("s2"))
      .filter(col("n_tokens") >= 2)
      .select(col("source"), col("vocab"), col("n_tokens"),
        (col("vocab").cast("double") / col("n_tokens").cast("double"))
          .as("ttr"),
        ((lit(10000).cast(decI) *
          (col("s2") - col("n_tokens").cast(decI))).cast("double") /
          (col("n_tokens").cast(decI) * col("n_tokens").cast(decI))
            .cast("double")).as("yule_k"),
        ((col("s2") - col("n_tokens").cast(decI)).cast("double") /
          (col("n_tokens").cast(decI) *
            (col("n_tokens") - 1).cast(decI)).cast("double"))
          .as("simpson_d"))
  }

  /** Unigram-LM document scoring — the CCNet-style "perplexity" quality
    * signal without an external LM: train add-one-smoothed unigram
    * probabilities on the corpus itself, then score each document by its
    * mean per-token negative log-likelihood (low = typical of the corpus,
    * high = outlier/garbage — the tail a curation gate drops).
    *
    * Scale: term counts are one partial-agg shuffle on the term digest; the
    * score join re-uses that term partitioning (no broadcast hint — the
    * vocabulary grows with the corpus); the (n_total, n_vocab) normalizer
    * is a single broadcast row. Per-token −ln(p) is summed as
    * DECIMAL(18,9), so the aggregate is exact and order-independent —
    * bit-stable across partitionings AND engines (a 1-ULP libm divergence
    * dies in the 9-dp quantization). */
  def unigramLl(spark: SparkSession, dir: String): DataFrame =
    unigramLlOf(Tables.documents(spark, dir))

  private[graft] def unigramLlOf(docs: DataFrame): DataFrame = {
    val tokens = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val tf = tokens.groupBy("term").agg(count(lit(1)).as("n"))
    val totals = tf.agg(sum(col("n")).cast("double").as("n_total"),
      count(lit(1)).cast("double").as("n_vocab"))
    tokens.join(tf, "term")
      .crossJoin(broadcast(totals)) // single row: constant-size broadcast
      .withColumn("tok_nll", (-log((col("n") + 1) / (col("n_total") + col("n_vocab"))))
        .cast(org.apache.spark.sql.types.DecimalType(18, 9)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(col("tok_nll")).cast("double") / count(lit(1)), 6).as("nll"))
  }

  /** C68: bigram-LM document scoring — the word-order-aware extension of
    * [[unigramLl]] (the CCNet perplexity signal family): train add-one-
    * smoothed bigram probabilities on the corpus itself, score each doc by
    * its mean per-position −ln p(wᵢ | wᵢ₋₁) with
    * p(b|a) = (c(a,b)+1) / (c(a,·)+V). Where the unigram model is provably
    * blind to order (equal-multiset docs score identically — the C55 spec
    * pins this), the bigram model separates shuffled text from fluent text,
    * the usual next step before reaching for an external LM.
    *
    * Scale: the bigram census is one partial-agg shuffle keyed by the pair;
    * prefix counts c(a,·) derive from the CENSUS (summary-sized), never a
    * second corpus pass; the score join re-uses the pair partitioning (no
    * broadcast hint — the bigram vocabulary grows with the corpus); V is a
    * single broadcast row. Per-position −ln(p) summed as DECIMAL(18,9) —
    * exact, order-independent, engine-portable (1-ULP libm divergence dies
    * in the 9-dp quantization, the C40 scheme). Docs with fewer than two
    * tokens have no bigram positions and are absent by construction. */
  def bigramLl(spark: SparkSession, dir: String): DataFrame =
    bigramLlOf(Tables.documents(spark, dir))

  private[graft] def bigramLlOf(docs: DataFrame): DataFrame = {
    val pairs = docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(ws) - 2), i -> struct(ws[i] AS a, ws[i + 1] AS b))"))
        .as("p"))
      .select(col("doc_id"), col("p.a").as("a"), col("p.b").as("b"))
    val bc = pairs.groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
    val ac = bc.groupBy("a").agg(sum(col("n_ab")).as("n_a"))
    val vocab = docs.select(explode(split(col("text"), " ")).as("t"))
      .agg(countDistinct(col("t")).cast("double").as("n_vocab"))
    pairs.join(bc, Seq("a", "b")).join(ac, Seq("a"))
      .crossJoin(broadcast(vocab)) // single row: constant-size broadcast
      .withColumn("tok_nll", (-log((col("n_ab") + 1) / (col("n_a") + col("n_vocab"))))
        .cast(org.apache.spark.sql.types.DecimalType(18, 9)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("tok_nll")).cast("double") / count(lit(1)), 6).as("nll2"))
  }

  /** C107: HELD-OUT bigram negative log-likelihood — the proper LM-eval
    * loop C68 (which scores the training corpus itself) was missing: the
    * Laplace-smoothed bigram model fits on the md5 TRAIN split (the C23
    * derandomized 80% assignment) and scores only HELD-OUT docs, so
    * unseen words and unseen pairs genuinely occur and pay their smoothed
    * price — P(b|a) = (c(a,b)+1)/(c(a,·)+V) with c = 0 for anything the
    * train split never saw (LEFT joins + coalesce, V = train vocab).
    * This is the decider behind perplexity-filter thresholds and "did
    * more data actually improve the model" checks.
    *
    * Portability: identical tokenization/pair construction to C68; each
    * token NLL quantizes DECIMAL(18,9) before the order-free sum; the
    * per-doc mean is one IEEE division, 6-dp rounds. Scale: one corpus
    * scan feeds both splits; counts are pair-keyed partial aggs on the
    * TRAIN side only; scoring is two key joins against census-sized
    * tables; the vocab scalar broadcasts. */
  /** `splitHex`: the md5-prefix train/held boundary — "cd" (205/256) is the
    * 80/20 production default; the r10 gate also runs "b3" (179/256 ≈ 70/30)
    * so the Laplace V-scaling is oracle-pinned at TWO ratios (VERDICT r9
    * #7: a vocab-scope bug shifts every unseen-pair cell at one ratio but
    * not identically at the other, so the pair of gates discriminates it). */
  def heldoutPpl(spark: SparkSession, dir: String,
                 splitHex: String = "cd"): DataFrame = {
    val docs = Tables.documents(spark, dir).filter(col("text").isNotNull)
      .withColumn("h2", substring(
        md5(col("doc_id").cast("string").cast("binary")), 1, 2))
    val train = docs.filter(col("h2") < splitHex)
    val held = docs.filter(col("h2") >= splitHex)
    def pairsOf(d: DataFrame) = d
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(ws) - 2), i -> struct(ws[i] AS a, ws[i + 1] AS b))"))
        .as("p"))
      .select(col("doc_id"), col("p.a").as("a"), col("p.b").as("b"))
    val bc = pairsOf(train).groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
    val ac = bc.groupBy("a").agg(sum(col("n_ab")).as("n_a"))
    val vocab = train.select(explode(split(col("text"), " ")).as("t"))
      .agg(countDistinct(col("t")).cast("double").as("n_vocab"))
    pairsOf(held)
      .join(bc, Seq("a", "b"), "left")
      .join(ac, Seq("a"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("tok_nll", (-log(
        (coalesce(col("n_ab"), lit(0L)) + 1) /
          (coalesce(col("n_a"), lit(0L)) + col("n_vocab"))))
        .cast(org.apache.spark.sql.types.DecimalType(18, 9)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("tok_nll")).cast("double") / count(lit(1)), 6)
          .as("heldout_nll"))
  }

  /** C70: T5-style span-corruption manifest (Raffel et al. 2020 §3.1.4,
    * public — the denoising objective's mask layout): each token position
    * independently starts a `spanLen`-token mask span with probability
    * `startProb` (defaults 3 and 0.05 ⇒ expected corruption
    * 1−(1−.05)³ ≈ 14.3%, the paper's 15% regime); overlapping/adjacent
    * spans merge into maximal masked runs, and the output is the (doc,
    * span) manifest — start/end token offsets per masked span — that a
    * sentinel-inserting tokenizer consumes.
    *
    * DERANDOMIZED like every sampling decision here (doc_split, mixture,
    * DSIR's Gumbel draw): the per-position coin is
    * md5(doc_id:pos) < threshold — a plain lowercase-hex string compare,
    * portable across engines and reproducible on corpus growth (no
    * rand(), and tomorrow's re-run masks identical spans). Threshold
    * strings quantize startProb at 16⁻³ (three hex digits).
    *
    * Scale shape: the position fan-out is one in-row sequence() explode
    * (O(tokens) rows); span-start selection is map-only; the merge is a
    * gaps-and-islands window partitioned by doc_id — ONE doc-keyed
    * shuffle, within-partition linear. */
  def spanCorrupt(spark: SparkSession, dir: String, spanLen: Int = 3,
                  startProb: Double = 0.05): DataFrame = {
    require(spanLen >= 1, "spanLen must be >= 1")
    require(startProb > 0 && startProb < 1, "startProb must be in (0,1)")
    // three-hex-digit threshold: P(md5 < T) = round(startProb·4096)/4096
    val cut = math.max(1, math.round(startProb * 4096).toInt)
    val threshold = f"$cut%03x" // md5 hex < "00x..." compares on the prefix
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("p"))
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .select(col("doc_id"), col("n_tokens"),
        explode(sequence(lit(0L), col("n_tokens") - 1)).as("p"))
      .filter(substring(md5(concat(col("doc_id").cast("string"), lit(":"),
        col("p").cast("string")).cast("binary")), 1, 3) < threshold)
      .withColumn("e", least(col("p") + spanLen, col("n_tokens")))
      .withColumn("prev_e", max(col("e")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("is_new",
        when(col("prev_e").isNull || col("p") > col("prev_e"), 1L).otherwise(0L))
      .withColumn("island", sum(col("is_new")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("p")).as("start_pos"), max(col("e")).as("end_pos"),
        any_value(col("n_tokens")).as("n_tokens"))
      .select(col("doc_id"), (col("island") - 1).as("span_idx"),
        col("start_pos"), col("end_pos"),
        (col("end_pos") - col("start_pos")).as("n_masked"), col("n_tokens"))
  }

  /** CCNet-style perplexity bucketing: per LANGUAGE, rank documents by the
    * corpus-unigram-LM score ([[unigramLl]]) and cut head/middle/tail
    * terciles — the published curation scheme that keeps "head" (most
    * LM-typical) text and drops or down-samples the tail, applied per-lang
    * so high-resource languages don't set the bar for low-resource ones.
    *
    * Scale: a naive `ntile(n) OVER (PARTITION BY lang)` puts each language
    * in ONE reducer — languages are few and huge, the worst window shape at
    * 100 TB. Instead the exact per-lang rank comes from the same two-level
    * scheme as the mixture rank (level-1 buckets = a coarse
    * order-compatible quantization of nll; per-bucket offsets are a
    * summary-sized window; in-bucket row_number), and the ntile bucket is
    * then CLOSED-FORM from (rank, lang count) — first n%k buckets hold
    * ⌈n/k⌉ rows, exactly the SQL-standard ntile the oracle runs. */
  def pplBuckets(spark: SparkSession, dir: String, nBuckets: Int = 3): DataFrame =
    pplBucketsOf(Tables.documents(spark, dir), nBuckets)

  private[graft] def pplBucketsOf(docs: DataFrame, nBuckets: Int = 3): DataFrame = {
    val k = lit(nBuckets.toLong)
    val ll = unigramLlOf(docs).join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .withColumn("g", floor(col("nll") * 8).cast("long"))
    val counts = ll.groupBy("lang", "g").agg(count(lit(1)).as("sz"))
    val offsets = counts
      .withColumn("offset", coalesce(sum(col("sz")).over(
        Window.partitionBy("lang").orderBy("g")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("lang"), col("g"), col("offset"))
    val nRows = counts.groupBy("lang").agg(sum(col("sz")).as("n_rows"))
    val inBucket = Window.partitionBy("lang", "g").orderBy("nll", "doc_id")
    ll.join(offsets, Seq("lang", "g"))
      .withColumn("rnk", col("offset") + row_number().over(inBucket))
      .join(nRows, "lang") // AQE broadcasts the ≤|langs|-row count table
      // SQL-standard ntile from (rnk, n_rows): q = n/k, r = n%k; the first
      // r buckets hold q+1 rows. When q = 0 every row takes the first
      // branch, so the /q in the dead branch never misassigns. Double
      // division + floor is integer-exact below 2^52 rows per language.
      .withColumn("q", floor(col("n_rows").cast("double") / k).cast("long"))
      .withColumn("r", col("n_rows") - col("q") * k)
      .withColumn("cut", (col("q") + 1) * col("r"))
      .withColumn("bucket", when(col("rnk") <= col("cut"),
          floor((col("rnk") - 1).cast("double") / (col("q") + 1)).cast("long") + 1)
        .otherwise(col("r") +
          floor((col("rnk") - col("cut") - 1).cast("double") / col("q")).cast("long") + 1))
      .withColumn("tier", when(col("bucket") === 1, lit("head"))
        .when(col("bucket") === k, lit("tail")).otherwise(lit("middle")))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("nll"),
        col("bucket"), col("tier"))
  }

  /** TF-IDF top terms per document. Document frequencies are aggregated once
    * and joined back ON the shuffle key — no broadcast hint: the term→df
    * table grows with corpus vocabulary, which is NOT broadcast-sized at
    * 100 TB (AQE still picks a broadcast join when df is actually small).
    * ln() on identical double ratios keeps the oracle bit-compatible. */
  def tfidfTopTerms(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val tokens = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val tf = tokens.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tokens.groupBy("term").agg(countDistinct(col("doc_id")).as("df"))
    val n = Tables.documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        col("tf") * log(col("n_docs").cast("double") / col("df")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term"))
    // ln() differs by 1 ULP between JVM and C libm; report at 6 dp (ranking
    // itself is ULP-stable since equal (tf, df) pairs tie-break on term)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        round(col("tfidf"), 6).as("tfidf"), col("rank"))
  }

  // ---- BPE vocabulary training (C53) ------------------------------------

  /** Lineage/codegen guard for the merge loop: nested fold expressions are
    * re-planned from a materialized vocab table every this-many merges. */
  private val BpeCheckpointEvery = 8

  /** Split a word into single-character symbols (the BPE base alphabet). */
  private def charSyms(w: Column): Column =
    transform(sequence(lit(1), length(w)), i => w.substr(i, lit(1)))

  /** One BPE merge applied to a symbol array as a left fold: leftmost
    * non-overlapping occurrences of adjacent pair (a, b) become the merged
    * symbol a+b — exactly the reference algorithm's replacement scan. The
    * `get` probe returns NULL on the empty accumulator (never throws under
    * ANSI mode), which falls through to the append branch. */
  private def mergeOnce(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, x) =>
      when(get(acc, size(acc) - 1) === lit(a) && x === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** A SYMBOL-DISJOINT batch of merges applied in ONE left scan: no two
    * pairs in the batch share a left/right/produced string (the
    * [[disjointChunks]] / batch-selection invariant), so no merge can
    * create or destroy an occurrence of another — collapsing (a,b) never
    * changes adjacency of symbols it doesn't contain — and a single
    * leftmost fold over a (pair -> merged) literal map equals applying the
    * batch sequentially in any order. The map key joins last+next with a
    * space (symbols come from space-split words, so no symbol contains one);
    * try_element_at (not element_at) because a missing key must fall to
    * the append branch, not throw under ANSI. On the empty accumulator the
    * key is NULL and try_element_at yields NULL — append branch again. */
  private def mergeBatch(syms: Column, pairs: Seq[(String, String)]): Column = {
    val pairKey = map(pairs.flatMap { case (a, b) =>
      Seq(lit(a + "\u0000" + b), lit(a + b)) }: _*)
    aggregate(syms, array().cast("array<string>"), (acc, x) => {
      val merged = try_element_at(pairKey,
        concat(get(acc, size(acc) - 1), lit("\u0000"), x))
      when(merged.isNotNull,
        concat(slice(acc, lit(1), size(acc) - 1), array(merged)))
        .otherwise(concat(acc, array(x)))
    })
  }

  /** Greedy prefix chunking of a rank-ordered merge list into
    * symbol-disjoint batches: a merge joins the open chunk only while its
    * left, right, AND produced strings are all unseen in the chunk (as a
    * side or a production) — an interacting merge closes the chunk and
    * starts the next, so applying chunks in order, each via one
    * [[mergeBatch]] scan, reproduces sequential rank-order application
    * exactly. */
  private def disjointChunks(
      merges: Seq[(String, String)]): Seq[Seq[(String, String)]] = {
    val chunks = Seq.newBuilder[Seq[(String, String)]]
    var cur = Vector.empty[(String, String)]
    var used = Set.empty[String]
    for ((a, b) <- merges) {
      if (Seq(a, b, a + b).exists(used)) {
        chunks += cur; cur = Vector.empty; used = Set.empty
      }
      cur :+= ((a, b)); used ++= Seq(a, b, a + b)
    }
    if (cur.nonEmpty) chunks += cur
    chunks.result()
  }

  /** C53: BPE vocabulary TRAINING (the public byte-pair-encoding algorithm
    * of Sennrich et al. 2016): greedily merge the most frequent adjacent
    * symbol pair `nMerges` times, counting every adjacent occurrence
    * (overlaps included, as the reference `get_stats` does) weighted by
    * word frequency. Returns the learned merge table
    * (rank, left, right, pair_freq), deterministic via the
    * (freq desc, left, right) tie-break.
    *
    * Scale: the corpus is touched ONCE — a word-frequency groupBy whose
    * result is vocabulary-sized (the shuffle ships one row per distinct
    * word, the classical word-dict BPE trainer input). Every merge
    * iteration then runs on that cached vocab table: pair stats are an
    * in-row zip_with explode + one partial-agg shuffle of ≤|pairs| keys,
    * the arg-max is a 1-row TakeOrdered (the only driver traffic,
    * 1 row/iteration), and the merge itself is an in-row fold — no
    * corpus-scale work in the loop. The vocab table re-materializes every
    * [[BpeCheckpointEvery]] merges to bound lineage depth and fold
    * nesting. At 100 TB the vocab table is ~10⁸ rows × avg word length —
    * each iteration is one small-table pass, but the loop is DRIVER-
    * SEQUENTIAL IN nMerges (one job per merge): this exact-greedy form is
    * for reference-equality and small merge counts. Production merge
    * counts (30-50k) go through [[bpeTrainFast]], which batches
    * symbol-disjoint merges per pass (measured 12.8× the merges for 2.3×
    * the time at sf0.1). */
  def bpeTrain(spark: SparkSession, dir: String, nMerges: Int = 20,
               minFreq: Long = 2): DataFrame =
    bpeTrainOf(Tables.documents(spark, dir), nMerges, minFreq)

  private[graft] def bpeTrainOf(docs: DataFrame, nMerges: Int,
                                minFreq: Long): DataFrame = scope {
    val spark = docs.sparkSession
    var words = docs.filter(col("text").isNotNull)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(charSyms(col("w")).as("syms"), col("freq")).pin()
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var rank = 0
    var done = false
    while (rank < nMerges && !done) {
      val top = words.filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(zip_with(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1),
          (a, b) => struct(a.as("a"), b.as("b")))).as("p"))
        .select(col("freq"), col("p.a").as("a"), col("p.b").as("b"))
        .groupBy("a", "b").agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("a"), col("b"))
        .limit(1).collect()
      if (top.isEmpty || top(0).getAs[Long]("n") < minFreq) done = true
      else {
        val (a, b, n) =
          (top(0).getString(0), top(0).getString(1), top(0).getAs[Long]("n"))
        rank += 1
        merges += ((rank, a, b, n))
        words = words.withColumn("syms", mergeOnce(col("syms"), a, b))
        if (rank % BpeCheckpointEvery == 0) words = words.pin(replacing = words)
      }
    }
    import spark.implicits._
    merges.result().toDF("rank", "left", "right", "pair_freq")
  }

  /** C53 at production merge counts: BATCHED BPE training. Each iteration
    * takes the top `batchCap` pairs by the sequential order (freq desc,
    * left, right), keeps the maximal SYMBOL-DISJOINT PREFIX (selection
    * stops at the first candidate sharing a left/right/produced string
    * with an already-selected one — a suffix applied around a conflict
    * would reorder the greedy sequence), applies the whole batch in one
    * [[mergeBatch]] scan, and re-counts. Driver round-trips drop from
    * one-per-merge to one-per-batch: nMerges=30-50k becomes ~1-2k small
    * jobs instead of tens of thousands — the standard batched-BPE trick.
    *
    * Deviation contract vs [[bpeTrain]]: batch members after the first are
    * chosen from iteration-start counts, so a pair CREATED by an earlier
    * batch member (one containing its merged string) can in principle
    * outrank a later member that sequential greedy would have deferred —
    * batchCap=1 is bit-identical to sequential (spec-pinned), larger caps
    * are the documented approximation every production trainer makes.
    * `pair_freq` records the count at selection time. */
  def bpeTrainFast(spark: SparkSession, dir: String, nMerges: Int = 256,
                   minFreq: Long = 2, batchCap: Int = 32): DataFrame =
    bpeTrainBatchedOf(Tables.documents(spark, dir), nMerges, minFreq, batchCap)

  private[graft] def bpeTrainBatchedOf(docs: DataFrame, nMerges: Int,
                                       minFreq: Long, batchCap: Int): DataFrame = scope {
    require(batchCap >= 1, "batchCap must be >= 1")
    val spark = docs.sparkSession
    var words = docs.filter(col("text").isNotNull)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(charSyms(col("w")).as("syms"), col("freq")).pin()
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var rank = 0
    var done = false
    while (rank < nMerges && !done) {
      val want = math.min(batchCap, nMerges - rank)
      val cands = words.filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(zip_with(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1),
          (a, b) => struct(a.as("a"), b.as("b")))).as("p"))
        .select(col("freq"), col("p.a").as("a"), col("p.b").as("b"))
        .groupBy("a", "b").agg(sum(col("freq")).as("n"))
        .filter(col("n") >= minFreq)
        .orderBy(col("n").desc, col("a"), col("b"))
        .limit(want).collect() // ≤ batchCap rows — bounded driver traffic
      if (cands.isEmpty) done = true
      else {
        val batch = Vector.newBuilder[(String, String)]
        var used = Set.empty[String]
        var open = true
        for (r <- cands if open) {
          val (a, b) = (r.getString(0), r.getString(1))
          if (Seq(a, b, a + b).exists(used)) open = false // prefix cut
          else {
            rank += 1
            merges += ((rank, a, b, r.getAs[Long]("n")))
            batch += ((a, b)); used ++= Seq(a, b, a + b)
          }
        }
        words = words
          .withColumn("syms", mergeBatch(col("syms"), batch.result()))
          .pin(replacing = words) // one materialization per batch
      }
    }
    import spark.implicits._
    merges.result().toDF("rank", "left", "right", "pair_freq")
  }

  /** C53b: BPE ENCODING with a trained merge table — token counts per doc.
    * Applying the merges in learned rank order to each word reproduces the
    * greedy training segmentation (the reference encoder's definition).
    *
    * Scale: merges apply to the DISTINCT-word table (vocabulary-sized),
    * never to corpus tokens — encode the vocab once, then the corpus-scale
    * work is one explode + a join on the word key (vocab co-shuffles with
    * tokens; AQE broadcasts it while small) + a partial-agg count per doc.
    * Docs with no words (null/empty text) are absent from the output. */
  def bpeEncode(spark: SparkSession, dir: String, nMerges: Int = 20,
                minFreq: Long = 2): DataFrame = scope {
    val docs = Tables.documents(spark, dir)
    val ms = bpeTrainOf(docs, nMerges, minFreq).collect()
      .sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2))).toSeq
    bpeEncodeWith(docs, ms)
  }

  /** C53d: persist a trained merge table — the BPE artifact a training
    * run ships (the merges ARE the tokenizer; re-training per batch would
    * shift token boundaries mid-corpus, the same frozen-vocabulary
    * contract as [[writeUnigramStore]]). Rank order is the semantics, so
    * it persists explicitly. */
  def writeBpeStore(docs: DataFrame, storeDir: String, nMerges: Int = 20,
                    minFreq: Long = 2): Unit =
    bpeTrainOf(docs, nMerges, minFreq)
      .write.mode("overwrite").parquet(s"$storeDir/merges.parquet")

  /** C53d at production merge counts: persist the BATCHED trainer's merge
    * table (r12, VERDICT r11 #3 — the deployment answer to the trainer
    * sitting in the default bench protocol: train once with
    * [[bpeTrainFast]]'s batched exact-greedy, serve every later corpus
    * from the frozen table via [[bpeEncodeFromStore]], exactly as the
    * WordPiece/unigram families already ship). batchCap=1 degenerates to
    * [[writeBpeStore]]'s sequential table bit-for-bit (spec-pinned on the
    * trainer). */
  def writeBpeStoreFast(docs: DataFrame, storeDir: String,
                        nMerges: Int = 256, minFreq: Long = 2,
                        batchCap: Int = 32): Unit =
    bpeTrainBatchedOf(docs, nMerges, minFreq, batchCap)
      .write.mode("overwrite").parquet(s"$storeDir/merges.parquet")

  /** Encode any corpus with a persisted merge table: merges reload in
    * rank order, so store-served segmentation is bit-equal to the
    * training-time segmentation (same contract as C103c). */
  def bpeEncodeFromStore(spark: SparkSession, dir: String,
                         storeDir: String): DataFrame = scope {
    val ms = spark.read.parquet(s"$storeDir/merges.parquet").collect()
      .sortBy(_.getAs[Int]("rank"))
      .map(r => (r.getAs[String]("left"), r.getAs[String]("right"))).toSeq
    bpeEncodeWith(Tables.documents(spark, dir), ms)
  }

  private[graft] def bpeEncodeWith(docs: DataFrame,
                                   merges: Seq[(String, String)]): DataFrame = scope {
    var vocab = docs.filter(col("text").isNotNull)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0).distinct()
      .select(col("w"), charSyms(col("w")).as("syms"))
    // rank order preserved across chunks; within a chunk the merges are
    // symbol-disjoint, so one mergeBatch scan per chunk IS the sequential
    // application — a 256-merge table applies in ~dozens of scans, not 256
    disjointChunks(merges).zipWithIndex.foreach { case (chunk, i) =>
      vocab = vocab.withColumn("syms", mergeBatch(col("syms"), chunk))
      if ((i + 1) % BpeCheckpointEvery == 0) vocab = vocab.pin(replacing = vocab)
    }
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .join(vocab, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(size(col("syms"))).cast("long").as("n_bpe_tokens"))
  }

  // ---- C103 unigram-LM tokenizer (SentencePiece) --------------------------

  private val UniDec = org.apache.spark.sql.types.DecimalType(18, 9)

  /** Distinct-word census: (w, freq) — the tokenizer trainers' shared
    * input shape (one corpus scan, vocabulary-sized thereafter). */
  private def uniWordCensus(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))

  /** Laplace-smoothed quantized piece scores from usage counts: score =
    * ln((cnt + 1)/(total + |pieces|)) as DECIMAL(18,9) — smoothing keeps
    * never-used single chars (kept for coverage) finite, quantization
    * makes every DP comparison an exact decimal op. */
  private[graft] def uniScored(counts: DataFrame): DataFrame = {
    val tot = counts.agg(sum(col("cnt")).as("tot"), count(lit(1)).as("npc"))
    counts.crossJoin(broadcast(tot))
      .select(col("piece"), col("cnt"),
        log((col("cnt") + lit(1)).cast("double") /
          (col("tot") + col("npc")).cast("double")).cast(UniDec).as("sc"))
  }

  /** Viterbi-segment every census word under the CURRENT piece scores —
    * the hard-EM E-step, and the encoder's core. Occurrences come from an
    * in-row substring explode JOINED against the distributed pieces table
    * (vocab co-shuffles — no broadcast-literal vocab, no UDF); the DP and
    * its backtrack are in-row array folds over exact decimals, ties broken
    * (higher score, then longer last piece), so the segmentation is
    * deterministic in any engine/partitioning. Single-char pieces are
    * guaranteed in vocab, so every word segments. Adds columns:
    * pieces ARRAY<STRING>, ll DECIMAL (the word's Viterbi log-likelihood). */
  private[graft] def uniSegment(words: DataFrame, pieces: DataFrame,
                                maxPieceLen: Int): DataFrame = {
    val occ = words
      .select(col("w"), col("freq"), explode(expr(
        s"""flatten(transform(sequence(1, length(w)), i ->
           |  transform(sequence(i, least(i + ${maxPieceLen - 1}, length(w))), e ->
           |    named_struct('s', i - 1, 'e', e,
           |      'piece', substring(w, i, e - i + 1)))))""".stripMargin)).as("o"))
      .select(col("w"), col("freq"), col("o.s").as("s"), col("o.e").as("e"),
        col("o.piece").as("piece"))
      .join(pieces.select(col("piece"), col("sc")), "piece")
    val cands = occ.groupBy("w", "freq")
      .agg(sort_array(collect_list(
        struct(col("e"), col("s"), col("sc")))).as("cands"))
    // forward DP: best(i) = max over candidates ending at i of
    // best(start) + score; sentinel −10⁹ marks unreachable (never hit —
    // single chars cover every position). Tie rule: equal score prefers
    // the SMALLER back pointer (the longer last piece), fixed fold order
    // via the sorted candidate array.
    cands
      .withColumn("best", expr(
        """aggregate(sequence(1, length(w)),
          |  array(named_struct('sc', CAST(0 AS DECIMAL(28,9)), 'back', 0)),
          |  (acc, i) -> array_append(acc,
          |    aggregate(filter(cands, c -> c.e = i),
          |      named_struct('sc', CAST(-999999999 AS DECIMAL(28,9)),
          |                   'back', -1),
          |      (m, c) -> CASE WHEN
          |          element_at(acc, c.s + 1).sc + c.sc > m.sc
          |          OR (element_at(acc, c.s + 1).sc + c.sc = m.sc
          |              AND c.s < m.back)
          |        THEN named_struct(
          |          'sc', CAST(element_at(acc, c.s + 1).sc + c.sc
          |                     AS DECIMAL(28,9)),
          |          'back', c.s)
          |        ELSE m END)))""".stripMargin))
      .withColumn("cuts", expr(
        """aggregate(sequence(1, length(w)),
          |  named_struct('pos', length(w),
          |               'cuts', CAST(array() AS ARRAY<INT>)),
          |  (st, x) -> CASE WHEN st.pos > 0
          |    THEN named_struct(
          |      'pos', element_at(best, st.pos + 1).back,
          |      'cuts', array_append(st.cuts, st.pos))
          |    ELSE st END).cuts""".stripMargin))
      .withColumn("pieces", expr(
        """transform(reverse(cuts), e ->
          |  substring(w, element_at(best, e + 1).back + 1,
          |    e - element_at(best, e + 1).back))""".stripMargin))
      .withColumn("ll", expr("element_at(best, length(w) + 1).sc"))
      .select(col("w"), col("freq"), col("pieces"), col("ll"))
  }

  /** Candidate seed for training: every substring of length ≤ maxPieceLen
    * of every census word, frequency-weighted; the top `seedSize` by
    * (count desc, piece) PLUS every single character (coverage — a word
    * must always be segmentable). */
  private[graft] def uniSeed(words: DataFrame, maxPieceLen: Int,
                             seedSize: Int): DataFrame = scope {
    val subs = words.select(col("freq"), explode(expr(
      s"""flatten(transform(sequence(1, length(w)), i ->
         |  transform(sequence(i, least(i + ${maxPieceLen - 1}, length(w))), e ->
         |    substring(w, i, e - i + 1))))""".stripMargin)).as("piece"))
      .groupBy("piece").agg(sum(col("freq")).as("cnt"))
      .pin() // the top-k and the char branch share it
    // the substring census is CORPUS-VOCAB-scale: the cut must be a
    // bounded TakeOrdered (each partition keeps seedSize), never a global
    // rank window (single-reducer sort at 10⁹ candidates)
    val top = subs.orderBy(col("cnt").desc, col("piece")).limit(seedSize)
    val chars = subs.filter(length(col("piece")) === 1)
      .join(top, Seq("piece"), "left_anti")
    top.unionByName(chars.select(col("piece"), col("cnt")))
  }

  /** One hard-EM round: segment the census under the current scores,
    * re-count piece usage (frequency-weighted), prune to the vocab budget
    * (single chars always kept), re-score. Returns (pieces', totalLl)
    * where totalLl = Σ freq·ll under the INCOMING scores — the monotone
    * hard-EM objective the spec pins. */
  private[graft] def uniRound(words: DataFrame, pieces: DataFrame,
                              maxPieceLen: Int, vocabSize: Int)
      : (DataFrame, java.math.BigDecimal) = scope {
    val seg = uniSegment(words, pieces, maxPieceLen).pin()
    val ll = seg.agg(sum(col("ll") *
        col("freq").cast(org.apache.spark.sql.types.DecimalType(10, 0))))
      .head().getDecimal(0)
    val counts = seg.select(col("freq"), explode(col("pieces")).as("piece"))
      .groupBy("piece").agg(sum(col("freq")).as("cnt"))
    // coverage union: single chars that lost every Viterbi race re-enter
    // at count 0 (the Laplace smoothing keeps their score finite)
    val chars = pieces.filter(length(col("piece")) === 1)
      .select(col("piece")).join(counts, Seq("piece"), "left_anti")
      .select(col("piece"), lit(0L).as("cnt"))
    val all = counts.unionByName(chars)
    val w = boundedWindow(col("cnt").desc, col("piece")) // candidate-piece census
    val kept = all.withColumn("r", row_number().over(w))
      .filter(col("r") <= vocabSize || length(col("piece")) === 1)
      .select(col("piece"), col("cnt"))
    (uniScored(kept).pin(), ll)
  }

  /** C103: UNIGRAM-LM tokenizer training (Kudo, ACL 2018 — the
    * SentencePiece algorithm; the production tokenizer family beside
    * C53's BPE): seed a large candidate inventory from frequent
    * substrings, then alternate (E) Viterbi-segmenting the corpus under
    * the current piece scores with (V) re-estimating scores from usage and
    * pruning to the vocab budget. This engine runs the HARD-EM variant
    * (Viterbi counts, not marginal counts — deterministic, and each
    * E/M pair provably never decreases the joint objective until pruning;
    * the spec pins that monotonicity with pruning disabled). Deviation
    * from the reference implementation is documented: Kudo prunes by
    * held-out likelihood loss and mixes in marginal (forward-backward)
    * counts; the hard variant is the standard deterministic simplification
    * and keeps every comparison an exact decimal op cross-engine.
    *
    * Scale: the corpus is touched ONCE (the word census); every EM round
    * is census-sized — the substring explode is bounded by maxPieceLen ×
    * word length, occurrences join the DISTRIBUTED pieces table (vocab
    * co-shuffles; AQE broadcasts it while small — never a plan-literal
    * vocab, never a UDF), the DP is an in-row fold, and counts are one
    * piece-keyed partial agg. Driver traffic = one scalar (the objective)
    * per round. */
  def unigramTrain(spark: SparkSession, dir: String, vocabSize: Int = 512,
                   seedSize: Int = 2048, maxPieceLen: Int = 8,
                   rounds: Int = 3): DataFrame =
    unigramTrainOf(Tables.documents(spark, dir), vocabSize, seedSize,
      maxPieceLen, rounds)

  private[graft] def unigramTrainOf(docs: DataFrame, vocabSize: Int,
                                    seedSize: Int, maxPieceLen: Int,
                                    rounds: Int): DataFrame = scope {
    val words = uniWordCensus(docs).pin()
    var pieces = uniScored(uniSeed(words, maxPieceLen, seedSize)).pin()
    for (_ <- 1 to rounds) {
      val next = uniRound(words, pieces, maxPieceLen, vocabSize)._1
      pieces.unpin()
      pieces = next
    }
    val w = boundedWindow(col("cnt").desc, col("piece")) // candidate-piece census
    pieces
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col("rank"), col("piece"), col("cnt"),
        round(col("sc"), 6).cast("double").as("score"))
  }

  /** C103b: unigram ENCODING with a trained piece table — per-doc word
    * and piece counts plus the summed Viterbi log-likelihood (the
    * SentencePiece encoder's output shape). Same scale contract as
    * C53b: the DISTINCT-word table segments once, then the corpus-scale
    * work is one explode + a word-key join + a per-doc partial agg. */
  def unigramEncode(spark: SparkSession, dir: String, vocabSize: Int = 512,
                    seedSize: Int = 2048, maxPieceLen: Int = 8,
                    rounds: Int = 3): DataFrame = scope {
    val docs = Tables.documents(spark, dir)
    val pieces = unigramTrainOf(docs, vocabSize, seedSize, maxPieceLen, rounds)
      .select(col("piece"), col("score").cast(UniDec).as("sc"))
    unigramEncodeWith(docs, pieces, maxPieceLen)
  }

  /** C103c: persist a trained piece table — the tokenizer artifact every
    * training run ships (train once on the reference corpus, encode every
    * future batch with the FROZEN vocabulary; retraining per batch would
    * silently change token boundaries mid-corpus). Scores persist as the
    * exact DECIMAL(18,9) the DP compares, so store-served segmentation is
    * bit-equal to the training-time segmentation. */
  def writeUnigramStore(docs: DataFrame, storeDir: String,
                        vocabSize: Int = 512, seedSize: Int = 2048,
                        maxPieceLen: Int = 8, rounds: Int = 3): Unit =
    unigramTrainOf(docs, vocabSize, seedSize, maxPieceLen, rounds)
      .select(col("rank"), col("piece"), col("cnt"),
        col("score").cast(UniDec).as("sc"), lit(maxPieceLen).as("max_len"))
      .write.mode("overwrite").parquet(s"$storeDir/pieces.parquet")

  /** Encode any corpus with a persisted piece table: the C53b/C103b scale
    * contract (distinct words segment once, corpus work = explode + word
    * join + per-doc agg), the vocabulary frozen at store write. */
  def unigramEncodeFromStore(spark: SparkSession, dir: String,
                             storeDir: String): DataFrame = scope {
    val stored = spark.read.parquet(s"$storeDir/pieces.parquet")
    val maxLen = stored.agg(max(col("max_len"))).head().getInt(0)
    unigramEncodeWith(Tables.documents(spark, dir),
      stored.select(col("piece"), col("sc")), maxLen)
  }

  private[graft] def unigramEncodeWith(docs: DataFrame, pieces: DataFrame,
                                       maxPieceLen: Int): DataFrame = scope {
    val vocab = uniWordCensus(docs) // distinct corpus words, freq unused here
    val seg = uniSegment(vocab, pieces, maxPieceLen)
      .select(col("w"), size(col("pieces")).cast("long").as("n_pieces"),
        col("ll")).pin()
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .join(seg, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_pieces")).cast("long").as("n_uni_tokens"),
        round(sum(col("ll")), 6).cast("double").as("ll"))
  }

  // ---- C110 WordPiece tokenizer (Schuster & Nakajima / BERT) --------------

  /** WordPiece base symbols: first char plain, continuation chars
    * '##'-prefixed — the position-aware alphabet that distinguishes
    * "able" the word from "##able" the suffix. */
  private def wpSyms(w: Column): Column =
    transform(sequence(lit(1), length(w)), i =>
      when(i === lit(1), w.substr(i, lit(1)))
        .otherwise(concat(lit("##"), w.substr(i, lit(1)))))

  /** Merging a pair concatenates the pieces with the right side's
    * continuation marker stripped: (a, ##b) -> a##?b stays one piece
    * whose own marker is inherited from the LEFT side. */
  private def wpJoin(a: String, b: String): String =
    a + b.stripPrefix("##")

  /** One WordPiece merge as the leftmost non-overlapping fold (the
    * [[mergeOnce]] scan with the WordPiece join rule). */
  private def wpMergeOnce(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, x) =>
      when(get(acc, size(acc) - 1) === lit(a) && x === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(wpJoin(a, b)))))
        .otherwise(concat(acc, array(x))))

  /** C110: WORDPIECE vocabulary training (Schuster & Nakajima 2012; the
    * BERT tokenizer's trainer as published in the original paper and the
    * HuggingFace `tokenizers` reimplementation — the third production
    * subword family beside C53's BPE and C103's unigram-LM): greedily
    * merge the adjacent symbol pair maximizing the unigram-LM likelihood
    * GAIN, score(a,b) = freq(ab) / (freq(a)·freq(b)) — BPE picks the most
    * FREQUENT pair, WordPiece the most strongly BOUND one (the PMI-style
    * numerator/denominator trade), which is why BERT vocabularies keep
    * rare-but-cohesive affixes that frequency-greedy BPE drops.
    * Continuation symbols carry the '##' marker through training, so the
    * learned pieces are position-aware from the start.
    *
    * Determinism: counts are exact longs; the score compare is one IEEE
    * division of exact products (exactly representable through ~2^26-
    * scale symbol frequencies — far past any plausible VOCABULARY-table
    * magnitude at the gate SFs), ties break (left, right) lexicographic.
    * Returns (rank, left, right, pair_freq, score 6-dp).
    *
    * Scale: the C53 trainer contract — corpus touched ONCE for the
    * word-frequency census; each merge iteration re-censuses SYMBOLS and
    * pairs over the vocabulary-sized table (one zip_with explode + two
    * partial-agg shuffles + a broadcast-sized freq join), arg-max is a
    * 1-row TakeOrdered; driver-sequential in nMerges like bpeTrain (the
    * exact-greedy reference form; a batched variant would follow
    * bpeTrainFast's prefix-disjoint selection). */
  def wordpieceTrain(spark: SparkSession, dir: String, nMerges: Int = 32,
                     minFreq: Long = 2): DataFrame =
    wordpieceTrainOf(Tables.documents(spark, dir), nMerges, minFreq)

  private[graft] def wordpieceTrainOf(docs: DataFrame, nMerges: Int,
                                      minFreq: Long): DataFrame = scope {
    val spark = docs.sparkSession
    var words = docs.filter(col("text").isNotNull)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(wpSyms(col("w")).as("syms"), col("freq")).pin()
    val merges = Seq.newBuilder[(Int, String, String, Long, Double)]
    var rank = 0
    var done = false
    while (rank < nMerges && !done) {
      val symFreq = words
        .select(col("freq"), explode(col("syms")).as("s"))
        .groupBy("s").agg(sum(col("freq")).as("fs"))
      val top = words.filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(zip_with(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1),
          (a, b) => struct(a.as("a"), b.as("b")))).as("p"))
        .select(col("freq"), col("p.a").as("a"), col("p.b").as("b"))
        .groupBy("a", "b").agg(sum(col("freq")).as("n"))
        .filter(col("n") >= minFreq)
        .join(symFreq.select(col("s").as("a"), col("fs").as("fa")), "a")
        .join(symFreq.select(col("s").as("b"), col("fs").as("fb")), "b")
        .withColumn("score", col("n").cast("double") /
          (col("fa").cast("double") * col("fb").cast("double")))
        .orderBy(col("score").desc, col("a"), col("b"))
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val r = top(0)
        val (a, b) = (r.getAs[String]("a"), r.getAs[String]("b"))
        rank += 1
        merges += ((rank, a, b, r.getAs[Long]("n"), r.getAs[Double]("score")))
        words = words.withColumn("syms", wpMergeOnce(col("syms"), a, b))
        if (rank % BpeCheckpointEvery == 0) words = words.pin(replacing = words)
      }
    }
    import spark.implicits._
    merges.result().toDF("rank", "left", "right", "pair_freq", "score")
  }

  /** C110b: WordPiece ENCODING — greedy longest-match-first (the BERT
    * `WordpieceTokenizer` MaxMatch loop, public): walk the word taking
    * the LONGEST vocabulary piece at each position ('##'-prefixed off
    * the start); any unmatchable position makes the whole word [UNK]
    * (the published all-or-nothing rule), as does length > `maxWordLen`
    * (BERT's max_input_chars_per_word guard). Vocabulary = the training
    * alphabet + one piece per merge.
    *
    * Scale: the C53b/C103b contract — the DISTINCT-word table encodes
    * once via an in-row (start, end) substring explode JOINED against
    * the distributed vocab (no plan-literal vocab, no UDF); the greedy
    * walk is one in-row fold over the word's (s asc, e desc)-sorted
    * surviving candidates (the first candidate at each reached position
    * IS the longest match); corpus-scale work is one explode + word join
    * + per-doc partial agg. Output: (doc_id, n_words, n_wp_tokens,
    * n_unk_words) — UNK words count 1 token. */
  def wordpieceEncode(spark: SparkSession, dir: String, nMerges: Int = 32,
                      minFreq: Long = 2, maxWordLen: Int = 32): DataFrame = scope {
    val docs = Tables.documents(spark, dir)
    wordpieceEncodeWith(docs, wordpieceVocabOf(docs,
      wordpieceTrainOf(docs, nMerges, minFreq)), maxWordLen)
  }

  /** The encoder vocabulary implied by a merge table over a corpus: every
    * base symbol of the training census plus each merge's produced piece. */
  private[graft] def wordpieceVocabOf(docs: DataFrame,
                                      merges: DataFrame): DataFrame = {
    val alphabet = docs.filter(col("text").isNotNull)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .select(explode(wpSyms(col("w"))).as("piece")).distinct()
    val produced = merges.select(concat(col("left"),
      regexp_replace(col("right"), "^##", "")).as("piece")).distinct()
    alphabet.unionByName(produced).distinct()
  }

  private[graft] def wordpieceEncodeWith(docs: DataFrame, vocab: DataFrame,
                                         maxWordLen: Int): DataFrame = scope {
    val words = docs.filter(col("text").isNotNull)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0).distinct()
    val longWords = words.filter(length(col("w")) > maxWordLen)
      .select(col("w"), lit(1L).as("n_pieces"), lit(true).as("is_unk"))
    val cands = words.filter(length(col("w")) <= maxWordLen)
      .select(col("w"), explode(expr(
        """flatten(transform(sequence(1, length(w)), i ->
          |  transform(sequence(i, length(w)), e ->
          |    named_struct('s', i, 'e', e,
          |      'piece', CASE WHEN i = 1 THEN substring(w, 1, e)
          |        ELSE concat('##', substring(w, i, e - i + 1)) END))))"""
          .stripMargin)).as("o"))
      .select(col("w"), col("o.s").as("s"), col("o.e").as("e"),
        col("o.piece").as("piece"))
      .join(vocab, "piece")
    // greedy walk: candidates sorted (s asc, e desc) — the NEGATED end in
    // the sort struct gives e desc — so the first candidate seen at each
    // reached position is the longest match there
    val segShort = cands.groupBy("w")
      .agg(sort_array(collect_list(
        struct(col("s"), (-col("e")).as("ne")))).as("cs"))
      .withColumn("walk", expr(
        """aggregate(cs, named_struct('pos', 1, 'k', CAST(0 AS BIGINT)),
          |  (acc, c) -> IF(c.s = acc.pos,
          |    named_struct('pos', -c.ne + 1, 'k', acc.k + 1L), acc))"""
          .stripMargin))
      .select(col("w"),
        when(col("walk.pos") === length(col("w")) + 1, col("walk.k"))
          .otherwise(lit(1L)).as("n_pieces"),
        (col("walk.pos") =!= length(col("w")) + 1).as("is_unk"))
    // left join back over ALL distinct words: one with no surviving
    // candidate at all (alien alphabet) is [UNK] too, not silently absent
    val seg = words
      .join(segShort.unionByName(longWords), Seq("w"), "left")
      .select(col("w"),
        coalesce(col("n_pieces"), lit(1L)).as("n_pieces"),
        coalesce(col("is_unk"), lit(true)).as("is_unk")).pin()
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .join(seg, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_pieces")).cast("long").as("n_wp_tokens"),
        count(when(col("is_unk"), lit(1))).as("n_unk_words"))
  }

  /** C110c: persist the trained WordPiece vocabulary — the frozen-artifact
    * contract shared with C53d (BPE merges) and C103c (unigram pieces):
    * encode every future batch with the vocabulary trained once, never
    * retrain per batch. Persists the ENCODER's input (the piece table —
    * MaxMatch needs nothing else) plus maxWordLen. */
  def writeWordpieceStore(docs: DataFrame, storeDir: String,
                          nMerges: Int = 32, minFreq: Long = 2,
                          maxWordLen: Int = 32): Unit =
    wordpieceVocabOf(docs, wordpieceTrainOf(docs, nMerges, minFreq))
      .withColumn("max_word_len", lit(maxWordLen))
      .write.mode("overwrite").parquet(s"$storeDir/wp_vocab.parquet")

  /** Encode any corpus with a persisted WordPiece vocabulary — bit-equal
    * to the training-time encode when the store was trained on the same
    * corpus with the same parameters (spec-pinned). */
  def wordpieceEncodeFromStore(spark: SparkSession, dir: String,
                               storeDir: String): DataFrame = scope {
    val stored = spark.read.parquet(s"$storeDir/wp_vocab.parquet")
    val maxLen = stored.agg(max(col("max_word_len"))).head().getInt(0)
    wordpieceEncodeWith(Tables.documents(spark, dir),
      stored.select(col("piece")), maxLen)
  }

  // ---- C111 content-defined chunking (gear CDC, FastCDC lineage) ----------

  /** The C111 gear table lives with its kernel: [[graft.functions.GearTable]]. */

  /** C111: CONTENT-DEFINED CHUNKING (the gear rolling hash of Xia et al.'s
    * Ddelta/FastCDC line, public — the dedup-storage primitive rsync/LBFS
    * introduced with Rabin fingerprints): a chunk boundary falls where the
    * rolling hash of the content itself masks to zero, so INSERTING OR
    * DELETING bytes shifts boundaries only locally and duplicated content
    * re-aligns at the next content-defined cut — fixed-size blocking would
    * misalign every block after a one-byte edit. The byte-level dedup
    * companion to the token-level C54 dup-spans: near-identical documents
    * (crawl re-fetches, boilerplate-wrapped copies) share most chunks even
    * when no whole line repeats.
    *
    * The gear recurrence h ← (h<<1) + gear[c] has the property the whole
    * scheme rests on: the low k bits of h equal Σ_{j<k} gear[c_{i−j}]<<j
    * mod 2^k — terms shifted past bit k contribute nothing there and
    * addition carries only flow upward — so the boundary test
    * (h & (2^k−1)) = 0 is a PURE FUNCTION OF THE TRAILING k CHARACTERS
    * even though the kernel never resets h (the spec's independent
    * reference computes the explicit windowed sum and must agree).
    * Cuts select greedily: cut at the first candidate ≥ minLen past the
    * previous cut, force at maxLen — once two documents cut at the same
    * content position, every later cut coincides (same candidates, same
    * walk).
    *
    * mask = 2^k − 1 targets ~2^k expected chunk length between the hard
    * bounds. Emits one row per chunk: (doc_id, chunk_idx, start, len,
    * chunk_md5). Scale: MAP-ONLY over one corpus scan, O(1) per character
    * inside whole-stage codegen (the [[graft.functions.CdcCutsExpr]]
    * kernel — the declarative HOF form was measured ~100× slower and
    * became the 10×-rehearsal wall); the downstream dedup census shuffles
    * 16-byte hashes, never text. */
  def cdcChunks(spark: SparkSession, dir: String, maskBits: Int = 6,
                minLen: Int = 16, maxLen: Int = 256): DataFrame =
    cdcChunksOf(Tables.documents(spark, dir), maskBits, minLen, maxLen)

  private[graft] def cdcChunksOf(docs: DataFrame, maskBits: Int,
                                 minLen: Int, maxLen: Int): DataFrame = {
    // the chunk walk is the codegen'd cdc_cuts kernel (§5.5: the
    // declarative HOF form walked interpreted lambdas per CHARACTER and
    // was measured as the 10×-rehearsal wall — ~100× the kernel cost)
    docs.filter(col("text").isNotNull && length(col("text")) > 0)
      .withColumn("cuts", graft.functions.TextHashExpressions.cdcCuts(
        col("text"), maskBits, minLen, maxLen))
      .select(col("doc_id"), col("text"), posexplode(expr(
        """zip_with(cuts,
          |  concat(array(0), slice(cuts, 1, size(cuts) - 1)),
          |  (e, s) -> named_struct('start', s + 1, 'len', e - s))"""
          .stripMargin)).as(Seq("chunk_idx", "c")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("c.start").as("start"), col("c.len").as("len"),
        md5(expr("encode(substring(text, c.start, c.len), 'UTF-8')"))
          .as("chunk_md5"))
  }

  /** C111b: chunk-level dedup census per source — how many stored bytes a
    * content-defined chunk store saves on this corpus (the question CDC
    * exists to answer): total vs unique chunk bytes and the dedup ratio.
    * Unique = first owner wins by (doc_id, chunk_idx) — a chunk seen in
    * two sources bills its bytes to the first, so the per-source unique
    * sums add up to the corpus-level truth (no double counting).
    *
    * Scale: the census shuffles (hash, len) pairs — 16-byte keys, never
    * text; first-owner is one min-struct agg; the rollup is ≤ sources. */
  def cdcDedup(spark: SparkSession, dir: String, maskBits: Int = 6,
               minLen: Int = 16, maxLen: Int = 256): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val chunks = cdcChunksOf(docs, maskBits, minLen, maxLen)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
    val uniq = chunks.groupBy("chunk_md5")
      .agg(min(struct(col("doc_id"), col("chunk_idx"),
        col("len"), col("source"))).as("o"))
      .select(col("o.source").as("source"), col("o.len").as("len"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_unique_chunks"),
        sum(col("len")).cast("long").as("unique_bytes"))
    chunks.groupBy("source")
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("len")).cast("long").as("total_bytes"))
      .join(uniq, Seq("source"), "left")
      .select(col("source"), col("n_chunks"), col("total_bytes"),
        coalesce(col("n_unique_chunks"), lit(0L)).as("n_unique_chunks"),
        coalesce(col("unique_bytes"), lit(0L)).as("unique_bytes"),
        (lit(1.0) - coalesce(col("unique_bytes"), lit(0L)).cast("double") /
          col("total_bytes").cast("double")).as("dedup_ratio"))
  }

  /** C111d: the chunker's TUNING readout — per-source chunk-length profile
    * against the mask's 2^k target (is maskBits producing the sizes you
    * asked for, or is minLen/maxLen clipping doing the work?): count,
    * total/mean length, exact rank-selected p50/p95, and the FORCED-cut
    * rate (chunks that hit maxLen — a high rate means the mask almost
    * never fires on this content and the chunking has degraded toward
    * fixed-size blocking, losing the edit-locality property). Means are
    * one IEEE division of exact longs; percentiles are the A27 rank rule
    * ((len, doc_id, chunk_idx) order). */
  def cdcStats(spark: SparkSession, dir: String, maskBits: Int = 6,
               minLen: Int = 16, maxLen: Int = 256): DataFrame = scope {
    val docs = Tables.documents(spark, dir)
    val chunks = cdcChunksOf(docs, maskBits, minLen, maxLen)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .pin() // feeds the rank windows and the rollup
    val w = Window.partitionBy("source")
      .orderBy(col("len"), col("doc_id"), col("chunk_idx"))
    val nW = Window.partitionBy("source")
    val ranked = chunks.withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(nW))
    val pcts = ranked.groupBy("source")
      .agg(max(when(col("rn") === ceil(col("n") * 0.5).cast("long"),
          col("len"))).as("len_p50"),
        max(when(col("rn") === ceil(col("n") * 0.95).cast("long"),
          col("len"))).as("len_p95"))
    chunks.groupBy("source")
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("len")).cast("long").as("total_len"),
        count(when(col("len") === maxLen, lit(1))).as("n_forced"))
      .join(pcts, "source")
      .select(col("source"), col("n_chunks"), col("total_len"),
        (col("total_len").cast("double") / col("n_chunks").cast("double"))
          .as("mean_len"),
        col("len_p50"), col("len_p95"),
        (col("n_forced").cast("double") / col("n_chunks").cast("double"))
          .as("forced_rate"))
  }

  // ---- C111c persisted chunk store ----------------------------------------

  /** C111c: persist the corpus chunk-hash table — the store a CDC dedup
    * deployment actually keeps (16-byte hash + length per chunk; the
    * question every incoming crawl batch asks is "how many of these bytes
    * do I already hold"). Chunk parameters persist beside the hashes:
    * boundaries are a contract, and serving with different parameters
    * would silently mis-align every batch. */
  def writeCdcStore(docs: DataFrame, storeDir: String, maskBits: Int = 6,
                    minLen: Int = 16, maxLen: Int = 256): Unit = {
    cdcChunksOf(docs, maskBits, minLen, maxLen)
      .select(col("chunk_md5"), col("len")).distinct()
      .write.mode("overwrite").parquet(s"$storeDir/chunks.parquet")
    docs.sparkSession.range(1)
      .select(lit(maskBits).as("mask_bits"), lit(minLen).as("min_len"),
        lit(maxLen).as("max_len"))
      .write.mode("overwrite").parquet(s"$storeDir/params.parquet")
  }

  /** C111c: incremental batch-vs-store dedup accounting — chunk ONLY the
    * batch (the store's corpus is never re-read as text), anti-join its
    * hashes against the stored table, and report per-source how much is
    * genuinely new; then append the new hashes so the next batch sees
    * them. Output: (source, n_chunks, total_bytes, known_chunks,
    * known_bytes, new_bytes, novelty = new/total).
    *
    * Scale: batch-sized chunking (map-only kernel), one hash join of
    * 16-byte keys against the store (AQE broadcasts the smaller side),
    * a ≤sources rollup, and an append of only the new hashes. */
  def cdcIngest(batch: DataFrame, storeDir: String): DataFrame = scope {
    val spark = batch.sparkSession
    val p = spark.read.parquet(s"$storeDir/params.parquet").head()
    val chunks = cdcChunksOf(batch, p.getAs[Int]("mask_bits"),
        p.getAs[Int]("min_len"), p.getAs[Int]("max_len"))
      .join(batch.select(col("doc_id"), col("source")), "doc_id")
    // the LIVE view: stored hashes minus any standing takedown tombstones
    // (C111e) — tombstoned content correctly reads NOVEL (the store no
    // longer holds those bytes), and re-ingesting it RESURRECTS the chunk
    // (its hash re-appends below and leaves the tombstone, so the next
    // compaction cannot delete the re-added copy)
    val tomb = cdcTombstonesOf(spark, storeDir)
    // DISTINCT store keys (r11 self-review): a resurrection re-appends a
    // hash whose pre-forget rows are still physically present, so the raw
    // table can legitimately hold duplicates until the next compact — an
    // un-deduplicated join side would multiply `marked` rows and inflate
    // every byte count for that content
    val storedRaw = StoreFiles.table(spark, s"$storeDir/chunks.parquet")
      .select(col("chunk_md5")).distinct()
    val stored = tomb.fold(storedRaw)(t =>
        storedRaw.join(t.select("chunk_md5"), Seq("chunk_md5"), "left_anti"))
      .select(col("chunk_md5"), lit(true).as("known"))
    val marked = chunks.join(stored, Seq("chunk_md5"), "left")
      .withColumn("known", coalesce(col("known"), lit(false)))
      .pin() // the stats read and the append both consume it
    val out = marked.groupBy("source")
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("len")).cast("long").as("total_bytes"),
        count(when(col("known"), lit(1))).as("known_chunks"),
        sum(when(col("known"), col("len")).otherwise(lit(0)))
          .cast("long").as("known_bytes"))
      .withColumn("new_bytes", col("total_bytes") - col("known_bytes"))
      .withColumn("novelty",
        col("new_bytes").cast("double") / col("total_bytes").cast("double"))
    val added = marked.filter(!col("known"))
      .select(col("chunk_md5"), col("len")).distinct()
    def append(): Unit =
      added.write.mode("append").parquet(s"$storeDir/chunks.parquet")
    // with a standing tombstone the append and the resurrections commit as
    // ONE tombstone swap: every hash about to append is tombstoned first
    // (none is live, so the store serves the same), the append lands
    // masked, and the second swap unmasks new and re-added hashes together
    // — a crash in between serves the pre-batch store (tombstones are
    // takedown-sized — the rewrites are tiny)
    tomb.fold(append()) { t =>
      val hashes = added.select(col("chunk_md5"))
      StoreFiles.replace(spark, cdcTombPath(storeDir))(
        t.select(col("chunk_md5")).unionByName(hashes).distinct()
          .coalesce(1).write.parquet(_))
      append()
      StoreFiles.replace(spark, cdcTombPath(storeDir))(
        StoreFiles.table(spark, cdcTombPath(storeDir))
          .join(hashes, Seq("chunk_md5"), "left_anti")
          .coalesce(1).write.parquet(_))
    }
    out
  }

  // ---- C111e store lifecycle: takedown + compaction (A80g discipline) -----

  private def cdcTombPath(storeDir: String): String =
    s"$storeDir/tombstones.parquet"

  private def cdcTombstonesOf(spark: SparkSession,
                              storeDir: String): Option[DataFrame] =
    StoreFiles.optional(spark, cdcTombPath(storeDir))

  /** C111e: CONTENT TAKEDOWN for the chunk store — the DMCA/GDPR answer
    * for byte-level dedup state, mirroring A80g's mask-now-rewrite-later
    * lifecycle: the removed docs chunk under the STORED parameters
    * (boundaries are a contract) and their hashes land as a tombstone
    * table (takedown-sized write, never a store rewrite at forget time);
    * every subsequent ingest screens against the live view (stored ANTI
    * tombstone), so the store stops claiming those bytes IMMEDIATELY.
    * Semantics are content-holding, not refcounting (the deliberate
    * contrast with C113b's counting filter): a takedown clears the bytes
    * wholesale, and if an unrelated doc legitimately re-ingests the same
    * content later it reads novel once and resurrects the chunk —
    * under-claiming briefly, never over-claiming. Idempotent and
    * cumulative: new forgets union into the standing tombstone. Returns
    * per-source tombstoned-chunk counts. */
  def cdcForget(batch: DataFrame, storeDir: String): DataFrame = scope {
    val spark = batch.sparkSession
    val p = spark.read.parquet(s"$storeDir/params.parquet").head()
    val chunks = cdcChunksOf(batch, p.getAs[Int]("mask_bits"),
        p.getAs[Int]("min_len"), p.getAs[Int]("max_len"))
      .join(batch.select(col("doc_id"), col("source")), "doc_id")
      .pin() // the report and the tombstone both consume it
    val out = chunks.groupBy("source")
      .agg(countDistinct(col("chunk_md5")).as("n_chunks_tombstoned"))
    val newTomb = chunks.select(col("chunk_md5")).distinct()
    val merged = cdcTombstonesOf(spark, storeDir)
      .fold(newTomb)(t => t.select(col("chunk_md5")).unionByName(newTomb)
        .distinct())
    StoreFiles.replace(spark, cdcTombPath(storeDir))(
      merged.coalesce(1).write.parquet(_))
    out
  }

  /** C111e: fold standing tombstones into a rewritten store and clear
    * them — the A80g rewrite-later step, plus FILE compaction (every
    * ingest appends a file set; a long-lived store fragments into
    * thousands of small files whose listing cost rides every probe). The
    * rewritten table is the live view (distinct chunks ANTI tombstone),
    * coalesced; on a disjoint-content corpus it equals a store built
    * without the forgotten docs (spec-pinned as set equality). The
    * rewrite swaps in through [[StoreFiles.replace]] and the tombstone is
    * removed LAST: a failed or interrupted swap keeps the tombstones, so
    * taken-down content never reads "known" again. */
  def cdcCompact(spark: SparkSession, storeDir: String): Unit = {
    val tomb = cdcTombstonesOf(spark, storeDir)
    val raw = StoreFiles.table(spark, s"$storeDir/chunks.parquet")
      .select(col("chunk_md5"), col("len")).distinct()
    val live = tomb.fold(raw)(t =>
        raw.join(t.select("chunk_md5"), Seq("chunk_md5"), "left_anti"))
    StoreFiles.replace(spark, s"$storeDir/chunks.parquet")(
      live.coalesce(1).write.parquet(_))
    StoreFiles.remove(spark, cdcTombPath(storeDir))
  }

  // ---- BM25 retrieval (C72) ---------------------------------------------

  /** C72: Okapi BM25 top-k retrieval (Robertson & Walker / Sparck Jones —
    * the public probabilistic ranking function): for each query,
    * score(q, d) = Σ_{t ∈ q} idf(t) · tf(t,d)·(k1+1) /
    * (tf(t,d) + k1·(1−b + b·dl(d)/avgdl)) with
    * idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)). The retrieval primitive
    * under targeted curation and eval-set leak hunts — "which training
    * docs answer this benchmark question" is exactly a BM25 probe.
    *
    * Engine portability: each per-(term, doc) contribution quantizes to
    * DECIMAL(18,9) BEFORE the per-(query, doc) sum (the bigramLl/
    * decayCounts discipline) — the sum is exact and summation-order-free,
    * so ranking on it is identical in any engine; ln()'s 1-ULP libm skew
    * sits ~9 digits above the quantization step for these magnitudes.
    * Ties break on doc_id; the reported score rounds to 6 dp.
    *
    * Scale shape: the corpus is touched for one (doc, term) partial-agg
    * shuffle (tf — inherent); df/dl/avgdl derive from tf, never a second
    * scan. The query-term table joins df BROADCAST (queries are
    * user-sized), so candidate generation is MAP-ONLY over tf; candidate
    * scores re-use the doc_id partitioning for the per-(query, doc) sum
    * (grouping keys ⊇ join key ⇒ no extra exchange), and the final
    * per-query top-k is a rank-pushdown window (WindowGroupLimit: each
    * map partition keeps k) — no corpus-sized data ever crosses to a
    * per-query reducer. */
  private[graft] def bm25Of(docs: DataFrame, queries: DataFrame,
                            topK: Int = 10, k1: Double = 1.2,
                            b: Double = 0.75): DataFrame =
    bm25Core(bm25Tf(docs), queries, topK, k1, b)

  /** The (doc, term) postings table — built ONCE and localCheckpoint'd:
    * df, dl, avgdl, and the candidate pass are all derivations of it, and
    * without the materialization each branch would re-scan the corpus
    * (Spark plans no cross-branch common-subexpression reuse). One corpus
    * scan + one (doc, term) partial-agg shuffle total. */
  private def bm25Tf(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf")).pin()

  private def bm25Core(tf: DataFrame, queries: DataFrame,
                       topK: Int, k1: Double, b: Double): DataFrame = {
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val dl = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    // queries ⋈ df stays query-sized; broadcasting it makes candidate
    // generation a map-only pass over tf
    val qterms = broadcast(
      queries.join(dfreq, "term").crossJoin(broadcast(stats))
        .withColumn("idf",
          log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) /
            (col("df") + lit(0.5)))))
    val contrib = tf.join(qterms, "term")
      .join(dl, "doc_id")
      .withColumn("ts",
        (col("idf") * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) +
            lit(b) * col("dl") / col("avgdl"))))
          .cast(org.apache.spark.sql.types.DecimalType(18, 9)))
    val perDoc = contrib.groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_terms"), sum(col("ts")).as("s"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("s").desc, col("doc_id"))
    perDoc.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      // decimal-first round (the C97 half-boundary hardening)
      .select(col("query_id"), col("doc_id"), col("n_terms"),
        round(col("s"), 6).cast("double").as("score"), col("rank"))
  }

  /** C72 gate entry: BM25 with a DERIVED query pair so the check needs no
    * external query table — "common" = the 5 highest-occurrence corpus
    * terms (idf discounts them), "rare" = the 5 lowest-df terms seen in
    * ≥2 docs (idf rewards them). Both derive from exact integer counts
    * with full tie-breaks, so any engine builds the identical queries. */
  def bm25Search(spark: SparkSession, dir: String, topK: Int = 10): DataFrame =
    bm25Derived(bm25Tf(Tables.documents(spark, dir)), topK)

  private def bm25Derived(tf: DataFrame, topK: Int): DataFrame =
    bm25Core(tf, derivedQueries(tf), topK, 1.2, 0.75)

  /** The corpus-derived (query_id, term) pair shared by every retrieval
    * gate (C72 BM25, C97 QLM, C98 RRF): exact integer counts with full
    * tie-breaks, so any engine builds the identical queries. */
  private def derivedQueries(tf: DataFrame): DataFrame = {
    val occ = tf.groupBy("term")
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("occ"))
    val qCommon = occ.orderBy(col("occ").desc, col("term")).limit(5)
      .select(lit("common").as("query_id"), col("term"))
    val qRare = occ.filter(col("df") >= 2)
      .orderBy(col("df"), col("occ"), col("term")).limit(5)
      .select(lit("rare").as("query_id"), col("term"))
    qCommon.unionAll(qRare)
  }

  // ---- Persisted BM25 postings store (C76) ------------------------------

  /** C76: the PERSISTED form of C72 — tokenize-once / query-many, the
    * production retrieval shape: `storeDir/postings.parquet` holds
    * (doc_id, term, tf) in append-only `batch_id=N` partitions; df, dl,
    * avgdl, and the derived queries are all PURE SUMS of postings, so
    * every store operation is an additive partition land:
    *   - [[bm25Ingest]]: new docs' postings as partition `batchId` (docs
    *     already posted are anti-joined out — retry/idempotence);
    *   - [[bm25StoreForget]]: postings CARRY doc attribution (unlike the
    *     C75 gram census), so takedown needs NO content — the store's own
    *     summed rows for the ids, negated, land as `batch_id = −forgetId`
    *     and every reader's sum nets the doc to zero. Naturally
    *     idempotent: a second forget negates net-zero rows, landing
    *     nothing.
    *   - [[bm25Compact]]: fold all partitions to a net batch 0.
    * Readers sum partitions on the (doc, term) key (partial agg), then
    * run the identical scoring core — [[bm25FromStore]] is bit-equal to
    * [[bm25Search]] over the same corpus, which is exactly its gate. */
  def writeBm25Store(docs: DataFrame, storeDir: String): Unit =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .withColumn("batch_id", lit(0L))
      .write.partitionBy("batch_id").mode("overwrite")
      .parquet(s"$storeDir/postings.parquet")

  /** Net postings view: partitions summed on (doc_id, term), zero rows
    * (forgotten docs) dropped; checkpointed once — df/dl/avgdl/queries
    * and the candidate pass all derive from it (the bm25Tf discipline).
    * `excludeBatch` lets a mutation's read side ignore its own partly
    * landed partition (crash-retry). */
  private val bm25PostingsSchema = org.apache.spark.sql.types.StructType
    .fromDDL("doc_id BIGINT, term STRING, tf BIGINT, batch_id BIGINT")

  // explicit schema: a store whose corpus was empty has zero partitions,
  // where schema inference would fail; the declared schema also pins the
  // store layout against drift
  private def bm25Postings(spark: SparkSession, storeDir: String): DataFrame =
    StoreFiles.table(spark, s"$storeDir/postings.parquet", Some(bm25PostingsSchema))

  private def bm25StoreTf(spark: SparkSession, storeDir: String,
                          excludeBatch: Option[Long] = None): DataFrame = scope {
    val raw = bm25Postings(spark, storeDir)
    excludeBatch.fold(raw)(b => raw.filter(col("batch_id") =!= b))
      .groupBy("doc_id", "term").agg(sum(col("tf")).as("tf"))
      .filter(col("tf") =!= 0).pin()
  }

  /** Post a new batch's documents into the store (partition `batchId`).
    * Docs already net-posted are skipped — so a retried ingest lands the
    * identical partition (dynamic overwrite), and a forgotten-but-
    * uncompacted doc stays out (the C74/C75 "deletes are final" rule…
    * after [[bm25Compact]] its net rows are gone and it may return).
    * Returns the newly posted doc ids. */
  def bm25Ingest(docs: DataFrame, storeDir: String, batchId: Long): DataFrame = scope {
    require(batchId > 0L, "batchId 0 is the initial writeBm25Store corpus")
    val spark = docs.sparkSession
    // admission check on RAW partition presence, not the net view: a
    // forgotten doc nets to zero but its rows remain until compact, so a
    // re-submission stays blocked — the C74/C75 "deletes are final" rule
    val posted = bm25Postings(spark, storeDir)
      .filter(col("batch_id") =!= batchId)
      .select(col("doc_id")).distinct()
    val batch = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), col("text")).dropDuplicates("doc_id")
      .join(posted, Seq("doc_id"), "left_anti").pin() // pin before the store mutates
    batch
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .withColumn("batch_id", lit(batchId))
      .write.partitionBy("batch_id").mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(s"$storeDir/postings.parquet")
    batch.select(col("doc_id"))
  }

  /** Takedown: land the ids' net postings NEGATED as `batch_id =
    * −forgetId`. Content-free (postings are attributed), net-once under
    * retries and re-requests by construction. Returns the ids that had
    * live postings to remove. */
  def bm25StoreForget(ids: DataFrame, storeDir: String,
                      forgetId: Long): DataFrame = scope {
    require(forgetId > 0L, "forgetId lands as batch_id = -forgetId")
    val spark = ids.sparkSession
    val neg = bm25StoreTf(spark, storeDir, Some(-forgetId))
      .join(ids.select(col("doc_id")).distinct(), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("term"), (-col("tf")).as("tf")).pin()
    neg.withColumn("batch_id", lit(-forgetId))
      .write.partitionBy("batch_id").mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(s"$storeDir/postings.parquet")
    neg.select(col("doc_id")).distinct()
  }

  /** Fold every partition to a net batch 0 (dropping netted-out docs),
    * swapped in through [[StoreFiles.replace]]; after this, forgotten ids
    * may be re-ingested. Returns the number of net postings rows kept
    * (`net` is checkpointed, so the count reads no store file). */
  def bm25Compact(spark: SparkSession, storeDir: String): Long = scope {
    val net = bm25StoreTf(spark, storeDir)
    StoreFiles.replace(spark, s"$storeDir/postings.parquet")(
      net.withColumn("batch_id", lit(0L)).write.partitionBy("batch_id").parquet(_))
    net.count()
  }

  /** Serve the derived common/rare BM25 queries from the persisted store —
    * bit-equal to [[bm25Search]] over the same corpus (the gate). */
  def bm25FromStore(spark: SparkSession, storeDir: String,
                    topK: Int = 10): DataFrame =
    bm25Derived(bm25StoreTf(spark, storeDir), topK)

  // ---- Query-likelihood retrieval (C97) + RRF hybrid fusion (C98) --------

  /** C97: Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty,
    * SIGIR 2001, public — the language-modeling ranking that sits beside
    * Okapi BM25 in every IR toolkit, and the second voice RRF fusion
    * needs). Rank-equivalent sparse decomposition (their eq. 6):
    *   score(q, d) = Σ_{t ∈ q ∩ d} ln(1 + tf(t,d) / (μ·p(t|C)))
    *               + |q| · ln(μ / (dl(d) + μ))
    * with p(t|C) = occ(t) / |C| (corpus unigram probability) — only
    * MATCHING (term, doc) pairs contribute to the sum, and the
    * document-length prior folds in once per candidate, so candidate
    * generation has exactly BM25's sparse shape (docs sharing ≥1 query
    * term), never a dense query × corpus scoring pass.
    *
    * Engine portability (the C72 discipline): each matched-term
    * contribution and the length prior quantize to DECIMAL(18,9) BEFORE
    * the per-(query, doc) sum — order-free exact sums; the prior × |q|
    * product is exact decimal × integer; ranking on the exact decimal is
    * identical in any engine; ties break on doc_id; score rounds to 6 dp.
    *
    * Scale shape: reuses the C72 postings (one corpus scan + one
    * (doc, term) partial-agg shuffle); occ/dl derive from postings; the
    * query-term table joins occ BROADCAST, so candidates are map-only
    * over tf; the per-(query, doc) sum reuses the doc_id partitioning and
    * the final top-k is a rank-pushdown window (WindowGroupLimit). */
  def qlmSearch(spark: SparkSession, dir: String, topK: Int = 10,
                mu: Double = 300.0): DataFrame = scope {
    val tf = bm25Tf(Tables.documents(spark, dir))
    qlmCore(tf, derivedQueries(tf), topK, mu)
  }

  /** Explicit-queries form (the bm25Of twin) — spec surface. */
  private[graft] def qlmOf(docs: DataFrame, queries: DataFrame,
                           topK: Int = 10, mu: Double = 300.0): DataFrame =
    qlmCore(bm25Tf(docs), queries, topK, mu)

  private def qlmCore(tf: DataFrame, queries: DataFrame,
                      topK: Int, mu: Double): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 9)
    val occ = tf.groupBy("term").agg(sum(col("tf")).as("occ"))
    val dl = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val ctotal = dl.agg(sum(col("dl")).cast("double").as("c_tokens"))
    val qterms = broadcast(queries.join(occ, "term").crossJoin(broadcast(ctotal)))
    val contrib = tf.join(qterms, "term")
      .withColumn("ts",
        log(lit(1.0) + col("tf").cast("double") * col("c_tokens") /
          (lit(mu) * col("occ").cast("double"))).cast(dec))
    val nq = broadcast(queries.groupBy("query_id").agg(count(lit(1)).as("n_q")))
    val perDoc = contrib.groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_terms"), sum(col("ts")).as("s"))
      .join(dl, "doc_id").join(nq, "query_id")
      .withColumn("prior",
        log(lit(mu) / (col("dl").cast("double") + lit(mu))).cast(dec))
      // n_q as DECIMAL(10,0), not BIGINT: a long multiplier pushes the
      // product to precision 39 and Spark's precision-loss rule silently
      // drops to scale 8 (then the add to scale 7) — measured as a 1e-6
      // score skew vs the exact-arithmetic oracle at sf0.01
      .withColumn("sc", col("s") + col("prior") *
        col("n_q").cast(org.apache.spark.sql.types.DecimalType(10, 0)))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sc").desc, col("doc_id"))
    perDoc.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      // round the exact DECIMAL, then cast: rounding the double instead
      // hits engine-specific half-boundary behavior (measured: one sf0.01
      // row sat exactly on a 0.5e-6 tie)
      .select(col("query_id"), col("doc_id"), col("n_terms"),
        round(col("sc"), 6).cast("double").as("score"), col("rank"))
  }

  /** C98: reciprocal-rank-fusion hybrid retrieval (Cormack, Clarke &
    * Büttcher, SIGIR 2009, public — the standard way production search
    * merges rankings from systems whose scores aren't comparable):
    *   rrf(q, d) = Σ_{systems ranking d in their top-k} 1 / (κ + rank_s(d))
    * with the paper's κ = 60. Fused here over the two lexical voices the
    * engine already serves — C72 BM25 and C97 query-likelihood — on the
    * SAME derived queries; a doc both systems rank beats a doc only one
    * sees unless it holds a top slot. The building block for fusing any
    * retriever set (BM25 + ANN dense retrieval fuse through the identical
    * [[rrfOf]] kernel — ranks are the only interface).
    *
    * Portability: each 1/(κ+rank) quantizes to DECIMAL(18,9) (exact,
    * order-free 2-term sums); ties on the fused score break on doc_id;
    * score rounds to 6 dp.
    *
    * Scale shape: inputs are ALREADY per-query top-k tables (summary-
    * sized — k rows per query per system); the fusion is one union + one
    * (query, doc) partial agg + a rank-pushdown window over k·systems
    * rows per query. The corpus is touched only by the underlying
    * retrievers, which share one postings build here. */
  def hybridRrf(spark: SparkSession, dir: String, topK: Int = 10,
                kappa: Int = 60, mu: Double = 300.0): DataFrame = scope {
    val tf = bm25Tf(Tables.documents(spark, dir))
    val q = derivedQueries(tf)
    rrfOf(Seq(bm25Core(tf, q, topK, 1.2, 0.75), qlmCore(tf, q, topK, mu)),
      topK, kappa)
  }

  /** Generic RRF kernel: fuse any rankings carrying
    * (query_id, doc_id, rank) — dense ANN shortlists fuse the same way. */
  private[graft] def rrfOf(rankings: Seq[DataFrame], topK: Int = 10,
                           kappa: Int = 60): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 9)
    val all = rankings.map(_.select("query_id", "doc_id", "rank"))
      .reduce(_ unionByName _)
    val fused = all
      .withColumn("c", (lit(1.0) /
        (lit(kappa).cast("double") + col("rank").cast("double"))).cast(dec))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_systems"), sum(col("c")).as("s"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("s").desc, col("doc_id"))
    fused.withColumn("rrf_rank", row_number().over(w).cast("long"))
      .filter(col("rrf_rank") <= topK)
      .select(col("query_id"), col("doc_id"), col("n_systems"),
        round(col("s"), 6).cast("double").as("rrf_score"), col("rrf_rank"))
  }

  /** C101: Kendall τ-b agreement between two retrievers' top-k lists per
    * query (Kendall 1938; the top-k treatment follows Fagin, Kumar &
    * Sivakumar, "Comparing top k lists", SODA 2003, public — docs absent
    * from a list take the tied rank k+1, so the statistic is defined on
    * partially-overlapping lists). The monitoring view over a retrieval
    * stack: C98 fuses the BM25 and QLM voices; this measures how much
    * they actually AGREE — τ near 1 means the second system adds nothing,
    * τ near 0 means the fusion is doing real work, and a τ that moves
    * release-over-release is a ranking regression alarm.
    *   τ_b = (C − D) / √((n₀ − T_a)(n₀ − T_b)),
    * over the union's doc pairs: C/D = concordant/discordant, T = pairs
    * tied within a system (both docs absent from it), n₀ = |U|(|U|−1)/2.
    * All counts are exact integers; τ_b is one fixed IEEE tree over them
    * (casts exact below 2⁵³, sqrt/÷ correctly rounded) — hash-exact with
    * NO quantization needed. Gate pairing is BM25 vs QLM on the shared
    * derived queries; [[tauOf]] compares ANY two (query_id, doc_id, rank)
    * rankings — dense-vs-lexical agreement audits ride the same kernel.
    *
    * Scale: the inputs are already per-query top-k tables; the union
    * join and the per-query pair product run over ≤ 2k docs per query
    * (≤ k(2k−1) pair rows per query) — summary-sized at any corpus
    * size. The corpus is touched only by the underlying retrievers,
    * which share one postings build. */
  def rankTau(spark: SparkSession, dir: String, topK: Int = 10,
              mu: Double = 300.0): DataFrame = scope {
    val tf = bm25Tf(Tables.documents(spark, dir))
    val q = derivedQueries(tf)
    tauOf(bm25Core(tf, q, topK, 1.2, 0.75), qlmCore(tf, q, topK, mu), topK)
  }

  /** Generic τ-b kernel over two (query_id, doc_id, rank) rankings. */
  private[graft] def tauOf(a: DataFrame, b: DataFrame, topK: Int): DataFrame = scope {
    // the union table is summary-sized but sits on TOP of two full
    // retrieval plans — checkpoint so the pair self-join and the
    // per-query census don't each replay both retrievers
    val u = a.select(col("query_id"), col("doc_id"), col("rank").as("rank_a"))
      .join(b.select(col("query_id"), col("doc_id"), col("rank").as("rank_b")),
        Seq("query_id", "doc_id"), "full_outer")
      .withColumn("in_both",
        col("rank_a").isNotNull && col("rank_b").isNotNull)
      .withColumn("ra", coalesce(col("rank_a"), lit(topK + 1).cast("long")))
      .withColumn("rb", coalesce(col("rank_b"), lit(topK + 1).cast("long")))
      .select(col("query_id"), col("doc_id"), col("in_both"),
        col("ra"), col("rb")).pin()
    val census = u.groupBy("query_id").agg(
      count(lit(1)).as("n_union"),
      count(when(col("in_both"), lit(1))).as("overlap"))
    val p1 = u.select(col("query_id"), col("doc_id").as("d1"),
      col("ra").as("ra1"), col("rb").as("rb1"))
    val p2 = u.select(col("query_id"), col("doc_id").as("d2"),
      col("ra").as("ra2"), col("rb").as("rb2"))
    val pairs = p1.join(p2, Seq("query_id")).filter(col("d1") < col("d2"))
      .withColumn("tie_a", col("ra1") === col("ra2"))
      .withColumn("tie_b", col("rb1") === col("rb2"))
      .withColumn("conc", !col("tie_a") && !col("tie_b") &&
        ((col("ra1") < col("ra2")) === (col("rb1") < col("rb2"))))
      .withColumn("disc", !col("tie_a") && !col("tie_b") &&
        ((col("ra1") < col("ra2")) =!= (col("rb1") < col("rb2"))))
      .groupBy("query_id").agg(
        count(lit(1)).as("n_pairs"),
        count(when(col("conc"), lit(1))).as("concordant"),
        count(when(col("disc"), lit(1))).as("discordant"),
        count(when(col("tie_a"), lit(1))).as("ties_a"),
        count(when(col("tie_b"), lit(1))).as("ties_b"))
    census.join(pairs, Seq("query_id"), "left")
      // a 1-doc union has no pairs: τ undefined (NULL), counts zero
      .withColumn("n_pairs", coalesce(col("n_pairs"), lit(0L)))
      .withColumn("concordant", coalesce(col("concordant"), lit(0L)))
      .withColumn("discordant", coalesce(col("discordant"), lit(0L)))
      .withColumn("ties_a", coalesce(col("ties_a"), lit(0L)))
      .withColumn("ties_b", coalesce(col("ties_b"), lit(0L)))
      .withColumn("tau_b",
        when((col("n_pairs") - col("ties_a")) > 0 &&
             (col("n_pairs") - col("ties_b")) > 0,
          (col("concordant") - col("discordant")).cast("double") /
            sqrt(((col("n_pairs") - col("ties_a")) *
                  (col("n_pairs") - col("ties_b"))).cast("double"))))
      .select(col("query_id"), col("n_union"), col("overlap"),
        col("n_pairs"), col("concordant"), col("discordant"),
        col("ties_a"), col("ties_b"), col("tau_b"))
  }

  /** C102: weighted sampling WITHOUT replacement via deterministic
    * exponential keys (Efraimidis & Spirakis 2006, public — the one-pass
    * "A-ES" scheme behind every distributed weighted sampler): each doc
    * draws u ∈ (0,1) and competes with key u^(1/w); the top-k keys ARE a
    * weighted sample without replacement. Ranking on ln(u)/w (monotone in
    * u^(1/w), overflow-free) with w = n_chars — longer docs
    * proportionally likelier, the standard token-budget-weighted corpus
    * subsample. u derives from the md5 of (salt, doc_id) — the C23/C17
    * derandomized-hash discipline: no rand(), identical on re-run and
    * across engines — as the first 52 hash bits (+0.5, so u is never 0)
    * over 2⁵², an exact binary rational.
    *
    * Portability: u is exactly representable (52 bits), ln(u) quantizes
    * DECIMAL(18,9) (the C72 ln discipline), and the key is one exact
    * decimal→double conversion + one correctly-rounded division —
    * bit-identical cross-engine, so the raw key column is hash-exact.
    *
    * Scale: map-only scoring (the md5/ln tree is per-row arithmetic);
    * the global top-k plans as TakeOrderedAndProject (every map partition
    * keeps k before the single k·partitions merge — plan-spec-pinned) —
    * no corpus-sized sort, no driver collect. */
  def weightedSample(spark: SparkSession, dir: String, k: Int = 100,
                     salt: String = "ws1"): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 9)
    val scored = Tables.documents(spark, dir)
      .filter(col("n_chars") > 0) // zero-weight docs can never be sampled
      .select(col("doc_id"), col("n_chars").cast("long").as("weight"))
      .withColumn("h", conv(substring(md5(
        concat(lit(salt), lit(":"), col("doc_id").cast("string"))
          .cast("binary")), 1, 13), 16, 10).cast("long"))
      .withColumn("lnu", log((col("h").cast("double") + lit(0.5)) /
        lit(4503599627370496.0)).cast(dec)) // 2^52
      .withColumn("es_key", col("lnu").cast("double") /
        col("weight").cast("double"))
    // top-k via orderBy+limit (TakeOrderedAndProject: map-side top-k per
    // partition, driver merges k·partitions rows), NOT a global rank window
    // — the window form moved the whole scored corpus to one partition
    // before discarding all but k rows (the one genuinely corpus-sized
    // unpartitioned window the r10 sweep found). Ranks are then assigned
    // on the ≤k-row result; output is bit-identical (same order, same k).
    scored.orderBy(col("es_key").desc, col("doc_id")).limit(k)
      .withColumn("sample_rank", row_number().over(
        boundedWindow(col("es_key").desc, col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("weight"), col("es_key"), col("sample_rank"))
  }

  /** C78: corpus drift monitor — the text-side twin of C77 emb_drift,
    * run before admitting a new crawl snapshot: per source, the exact
    * mean token count and mean quality score over the 80% doc_id BASE
    * vs the NEW tail, with deltas (a shifted token-length or quality
    * distribution = changed extraction/boilerplate upstream — catch it
    * before it pollutes the training mix). Token counts are exact longs;
    * the quality double (the doc_quality expression verbatim) quantizes
    * DECIMAL(18,9) per doc before the order-free exact sum (A42), and
    * each mean/delta is one fixed IEEE division/subtraction — hash-exact.
    * ONE corpus scan partial-aggregated map-side into ≤sources groups;
    * null-text rows excluded (the curate contract). */
  /** C79: per-source duplicate-rate dashboard — "which source is
    * polluted?": the share of each source's docs whose normalized
    * fingerprint (the C11 md5) appears ≥2 times ANYWHERE in the corpus
    * (cross-source copies count for both sides — the curation question
    * is "is this doc redundant", not "who copied whom"). ONE fingerprint
    * shuffle; the per-doc dup flag is a count window on that
    * partitioning and the source rollup is a second summary-level
    * shuffle; the rate is one IEEE division of exact longs. */
  /** C109: FILTER-AGREEMENT matrix — pairwise agreement between the three
    * published keep batteries the engine carries (C64 Gopher, C65 C4,
    * C67 FineWeb): both-keep / only-one / both-drop counts, the Jaccard
    * of the kept sets, and raw agreement. The curation diagnostic behind
    * "is this filter doing any work the others don't" — a pair at
    * Jaccard ≈ 1 means one battery is redundant; a large only-X cell
    * says exactly where the batteries disagree and which docs to sample
    * for review. NULL keeps (unknown-content docs) read as drops on both
    * engines (coalesce false — the curate contract).
    *
    * Scale: the three batteries are each map-only (their contract); the
    * matrix is one doc_id join + ONE global agg (7 exact counts) feeding
    * three summary rows — ratios are IEEE divisions of exact longs. */
  def filterAgreement(spark: SparkSession, dir: String): DataFrame = scope {
    val g = gopherRules(spark, dir)
      .select(col("doc_id"), coalesce(col("keep"), lit(false)).as("kg"))
    val c = c4Clean(spark, dir)
      .select(col("doc_id"), coalesce(col("keep"), lit(false)).as("kc"))
    val f = fineWebRules(spark, dir)
      .select(col("doc_id"), coalesce(col("keep"), lit(false)).as("kf"))
    val s = g.join(c, "doc_id").join(f, "doc_id")
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("kg"), lit(1))).as("ng"),
        count(when(col("kc"), lit(1))).as("nc"),
        count(when(col("kf"), lit(1))).as("nf"),
        count(when(col("kg") && col("kc"), lit(1))).as("ngc"),
        count(when(col("kg") && col("kf"), lit(1))).as("ngf"),
        count(when(col("kc") && col("kf"), lit(1))).as("ncf"))
      .filter(col("n_docs") > 0)
      // one summary row, three projections — never three corpus scans
      .pin()
    def pair(a: String, b: String, na: String, nb: String, nab: String) =
      s.select(lit(a).as("filter_a"), lit(b).as("filter_b"), col("n_docs"),
        col(nab).as("both_keep"),
        (col(na) - col(nab)).as("only_a"),
        (col(nb) - col(nab)).as("only_b"))
        .withColumn("both_drop", col("n_docs") -
          (col("both_keep") + col("only_a") + col("only_b")))
        .withColumn("kept_jaccard",
          when((col("both_keep") + col("only_a") + col("only_b")) > 0,
            col("both_keep").cast("double") /
              (col("both_keep") + col("only_a") + col("only_b")).cast("double")))
        .withColumn("agreement",
          (col("both_keep") + col("both_drop")).cast("double") /
            col("n_docs").cast("double"))
    pair("gopher", "c4", "ng", "nc", "ngc")
      .unionByName(pair("gopher", "fineweb", "ng", "nf", "ngf"))
      .unionByName(pair("c4", "fineweb", "nc", "nf", "ncf"))
  }

  /** C108: TOKENIZER COMPARISON — the C53 BPE encoder and the C103
    * unigram encoder run on the SAME corpus, per-source fertility
    * (subword tokens per whitespace word) side by side with a winner
    * (lower fertility = fewer sequence positions per word = the cheaper
    * tokenizer for that source; ties prefer BPE, the simpler trainer).
    * The decision table a tokenizer bake-off actually produces — the
    * engine carries both real trainers, so the comparison is a join of
    * two encoders it already serves, not new machinery.
    *
    * Scale: both encoders are census-shaped (C53b/C103b contracts); the
    * comparison is a doc_id join of their per-doc outputs + a ≤sources
    * rollup; fertility = one IEEE division of exact token sums. */
  def tokCompare(spark: SparkSession, dir: String, nMerges: Int = 64,
                 vocabSize: Int = 512): DataFrame =
    tokCompareOf(Tables.documents(spark, dir),
      bpeEncode(spark, dir, nMerges = nMerges),
      unigramEncode(spark, dir, vocabSize = vocabSize))

  /** C108b: the bake-off fed from the two PERSISTED tokenizer stores —
    * zero training per call (round-11 candidate #4: doc_tok_compare's
    * 9.4 s bench cost was ~all re-training both tokenizers; the stores
    * make the comparison an encode-and-join). Both encoders are
    * bit-deterministic from their frozen artifacts, so the result equals
    * [[tokCompare]] exactly when the stores were trained with the same
    * parameters on the same corpus (spec-pinned). */
  def tokCompareFromStores(spark: SparkSession, dir: String,
                           bpeStore: String, uniStore: String): DataFrame =
    tokCompareOf(Tables.documents(spark, dir),
      bpeEncodeFromStore(spark, dir, bpeStore),
      unigramEncodeFromStore(spark, dir, uniStore))

  private[graft] def tokCompareOf(docs: DataFrame, bpeEnc: DataFrame,
                                  uniEnc: DataFrame): DataFrame = {
    val bpe = bpeEnc.select(col("doc_id"), col("n_words"), col("n_bpe_tokens"))
    val uni = uniEnc.select(col("doc_id"), col("n_uni_tokens"))
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"))
      .join(bpe, "doc_id").join(uni, "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).cast("long").as("n_words"),
        sum(col("n_bpe_tokens")).cast("long").as("bpe_tokens"),
        sum(col("n_uni_tokens")).cast("long").as("uni_tokens"))
      .withColumn("bpe_fertility",
        col("bpe_tokens").cast("double") / col("n_words").cast("double"))
      .withColumn("uni_fertility",
        col("uni_tokens").cast("double") / col("n_words").cast("double"))
      .withColumn("winner",
        when(col("bpe_fertility") <= col("uni_fertility"), lit("bpe"))
          .otherwise(lit("unigram")))
      .select(col("source"), col("n_docs"), col("n_words"),
        col("bpe_tokens"), col("uni_tokens"),
        round(col("bpe_fertility"), 6).as("bpe_fertility"),
        round(col("uni_fertility"), 6).as("uni_fertility"),
        col("winner"))
  }

  /** C106: PMI collocations (Church & Hanks 1990, public — pointwise
    * mutual information over a ±2 token window, the classic collocation
    * extractor beside C68's Dunning LLR: PMI surfaces "strongly bound"
    * pairs, LLR surfaces "reliably frequent" ones; corpus analysts read
    * both). Ordered skip-bigrams (gap ≤ 2) define the joint space:
    *   pmi(a,b) = ln( (n_ab/P) / ((n_a/N)·(n_b/N)) ),
    * P = pair positions, N = token positions; pairs under `minCount`
    * drop (PMI's low-frequency pathology — the documented filter), top-k
    * by the quantized score.
    *
    * Portability: counts are exact integers; pmi is one fixed IEEE tree
    * over them, quantized DECIMAL(18,9) so ranking is an exact decimal
    * compare ((a, b) tie-break), 6-dp decimal-first round.
    *
    * Scale: ONE corpus scan into token arrays (localCheckpoint'd — the
    * unigram census and the pair explode both derive from it); the pair
    * explode is in-row zip_with (2 rows per position), one (a, b)
    * partial-agg shuffle; scalars broadcast; the final cut is a bounded
    * TakeOrdered (never a global rank window over the pair census). */
  def pmiPairs(spark: SparkSession, dir: String, window: Int = 2,
               minCount: Long = 5, k: Int = 50): DataFrame = scope {
    require(window == 2, "the zip_with pair expansion is written for window 2")
    val dec = org.apache.spark.sql.types.DecimalType(18, 9)
    val toks = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(expr("filter(split(text, ' '), w -> length(w) > 0)").as("ts")).pin()
    val uni = toks.select(explode(col("ts")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n")).pin() // census feeds both scalars and two joins
    val nTok = broadcast(uni.agg(sum(col("n")).as("nt")))
    // P derives from array lengths — never a checkpoint of the
    // corpus-sized pair stream just to count it
    val nPair = broadcast(toks.agg(
      sum(greatest(lit(0), size(col("ts")) - 1) +
        greatest(lit(0), size(col("ts")) - 2)).cast("long").as("np")))
    val pairs = toks.select(explode(expr(
      """concat(
        |  zip_with(slice(ts, 1, greatest(0, size(ts) - 1)),
        |           slice(ts, 2, greatest(0, size(ts) - 1)),
        |           (x, y) -> named_struct('a', x, 'b', y)),
        |  zip_with(slice(ts, 1, greatest(0, size(ts) - 2)),
        |           slice(ts, 3, greatest(0, size(ts) - 2)),
        |           (x, y) -> named_struct('a', x, 'b', y)))""".stripMargin))
        .as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    val scored = pairs.groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minCount)
      .join(uni.select(col("tok").as("a"), col("n").as("n_a")), "a")
      .join(uni.select(col("tok").as("b"), col("n").as("n_b")), "b")
      .crossJoin(nTok).crossJoin(nPair)
      .withColumn("pmi_q", log(
        (col("n_ab").cast("double") * col("nt").cast("double") *
          col("nt").cast("double")) /
          (col("np").cast("double") * col("n_a").cast("double") *
            col("n_b").cast("double"))).cast(dec))
    scored.orderBy(col("pmi_q").desc, col("a"), col("b")).limit(k)
      .withColumn("rank", row_number().over(
        boundedWindow(col("pmi_q").desc, col("a"), col("b"))).cast("long")) // pair census
      .select(col("rank"), col("a"), col("b"), col("n_ab"),
        round(col("pmi_q"), 6).cast("double").as("pmi"))
  }

  /** C105: Flesch readability per doc (Flesch 1948 reading ease; Kincaid
    * et al. 1975 grade level — public formulas, the oldest text-quality
    * signals still in every curation stack beside the C9/C64 heuristics):
    *   ease = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words),
    *   grade = 0.39·(words/sentences) + 11.8·(syllables/words) − 15.59.
    * Sentences = non-overlapping [.!?]+ runs (min 1 — an unpunctuated doc
    * is one long sentence); syllables = vowel-group count per word, min 1
    * (the standard heuristic). Counts are exact integers computed by
    * identical regex semantics in both engines; the two formulas are one
    * fixed IEEE tree over them (constants parsed from the same literals),
    * 6-dp rounds. Map-only — no shuffle at all; null text excluded. */
  def readability(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        greatest(lit(1L),
          size(expr("regexp_extract_all(text, '[.!?]+', 0)")).cast("long"))
          .as("n_sentences"),
        wsTokens(col("text")).cast("long").as("n_words"),
        expr(
          """aggregate(split(text, '\\s+'), 0L, (acc, w) ->
            |  acc + CASE WHEN length(w) = 0 THEN 0L
            |    ELSE greatest(1L, CAST(size(
            |      regexp_extract_all(lower(w), '[aeiouy]+', 0)) AS BIGINT))
            |  END)""".stripMargin).as("n_syllables"))
      .filter(col("n_words") > 0)
      .withColumn("wps",
        col("n_words").cast("double") / col("n_sentences").cast("double"))
      .withColumn("spw",
        col("n_syllables").cast("double") / col("n_words").cast("double"))
      .select(col("doc_id"), col("n_sentences"), col("n_words"),
        col("n_syllables"),
        round(lit(206.835) - lit(1.015) * col("wps") - lit(84.6) * col("spw"),
          6).as("flesch_ease"),
        round(lit(0.39) * col("wps") + lit(11.8) * col("spw") - lit(15.59),
          6).as("fk_grade"))

  /** C104: exact Pearson correlation audit between per-doc metrics —
    * length (chars), whitespace tokens, and the C9 quality score: the
    * sanity panel behind any learned quality filter ("is the classifier
    * just measuring length?" — a |corr(quality, length)| near 1 means the
    * expensive signal is a ruler; the standard curation-bias audit).
    * corr = (Σxy/n − x̄ȳ)/√(var_x·var_y), computed the A85 way: per-doc
    * metrics quantize DECIMAL(18,9) (ints exact by construction), cross
    * terms are single IEEE products quantized DECIMAL(28,6), every
    * statistic one fixed IEEE tree over the exact sums — hash-exact;
    * zero-variance metrics read NULL on both engines. ONE corpus scan →
    * one 10-sum summary row → 3 output rows. */
  def metricCorr(spark: SparkSession, dir: String): DataFrame = scope {
    val dec = org.apache.spark.sql.types.DecimalType(18, 9)
    val dec2 = org.apache.spark.sql.types.DecimalType(28, 6)
    val d = Tables.documents(spark, dir).filter(col("text").isNotNull)
      .select(col("n_chars").cast("double").cast(dec).as("c"),
        wsTokens(col("text")).cast("double").cast(dec).as("t"),
        qualityScore(col("text")).cast(dec).as("q"))
      .withColumn("cd", col("c").cast("double"))
      .withColumn("td", col("t").cast("double"))
      .withColumn("qd", col("q").cast("double"))
    val s = d.agg(count(lit(1)).as("n"),
      sum(col("c")).as("s_c"), sum(col("t")).as("s_t"), sum(col("q")).as("s_q"),
      sum((col("cd") * col("cd")).cast(dec2)).as("s_cc"),
      sum((col("td") * col("td")).cast(dec2)).as("s_tt"),
      sum((col("qd") * col("qd")).cast(dec2)).as("s_qq"),
      sum((col("cd") * col("td")).cast(dec2)).as("s_ct"),
      sum((col("cd") * col("qd")).cast(dec2)).as("s_cq"),
      sum((col("td") * col("qd")).cast(dec2)).as("s_tq"))
      .filter(col("n") > 0)
      // one summary row feeding three projections — materialized so the
      // per-pair branches don't each replay the corpus scan
      .pin()
    def pair(name: String, sx: String, sy: String, sxx: String, syy: String,
             sxy: String) =
      s.select(lit(name).as("pair"), col("n"),
        expr(s"""CAST(n AS DOUBLE)""").as("nd"),
        col(sx).cast("double").as("sxd"), col(sy).cast("double").as("syd"),
        col(sxx).cast("double").as("sxxd"), col(syy).cast("double").as("syyd"),
        col(sxy).cast("double").as("sxyd"))
        .withColumn("mx", col("sxd") / col("nd"))
        .withColumn("my", col("syd") / col("nd"))
        .withColumn("vx", col("sxxd") / col("nd") - col("mx") * col("mx"))
        .withColumn("vy", col("syyd") / col("nd") - col("my") * col("my"))
        .withColumn("corr", when(col("vx") * col("vy") > lit(0.0),
          (col("sxyd") / col("nd") - col("mx") * col("my")) /
            sqrt(col("vx") * col("vy"))))
        .select(col("pair"), col("n"), round(col("corr"), 6).as("corr"))
    pair("chars_tokens", "s_c", "s_t", "s_cc", "s_tt", "s_ct")
      .unionByName(pair("chars_quality", "s_c", "s_q", "s_cc", "s_qq", "s_cq"))
      .unionByName(pair("tokens_quality", "s_t", "s_q", "s_tt", "s_qq", "s_tq"))
  }

  def dupRate(spark: SparkSession, dir: String): DataFrame = {
    val byFp = Window.partitionBy("fp")
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        fingerprint(col("text")).as("fp"))
      .withColumn("n_fp", count(lit(1)).over(byFp))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("n_fp") >= 2, lit(1))).as("n_dup_docs"))
      .withColumn("dup_rate", expr(
        "CAST(n_dup_docs AS DOUBLE) / CAST(n_docs AS DOUBLE)"))
  }

  def docDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dec = org.apache.spark.sql.types.DecimalType(18, 9)
    val docs = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        wsTokens(col("text")).cast("long").as("toks"),
        qualityScore(col("text")).cast(dec).as("q"))
    val cutRow = docs.agg(expr("max(doc_id) * 8 div 10")).head()
    if (cutRow.isNullAt(0)) // empty corpus: nothing to compare
      return Seq.empty[(String, Long, Long, Double, Double, Double, Double, Double, Double)]
        .toDF("source", "n_base", "n_new", "mean_toks_base", "mean_toks_new",
          "toks_delta", "mean_q_base", "mean_q_new", "q_delta")
    val cut = cutRow.getLong(0)
    docs.withColumn("base", col("doc_id") <= cut)
      .groupBy("source")
      .agg(count(when(col("base"), lit(1))).as("n_base"),
        count(when(!col("base"), lit(1))).as("n_new"),
        sum(when(col("base"), col("toks"))).as("t_base"),
        sum(when(!col("base"), col("toks"))).as("t_new"),
        sum(when(col("base"), col("q"))).as("q_base"),
        sum(when(!col("base"), col("q"))).as("q_new"))
      .filter(col("n_base") > 0 && col("n_new") > 0)
      .withColumn("mean_toks_base", expr("CAST(t_base AS DOUBLE) / CAST(n_base AS DOUBLE)"))
      .withColumn("mean_toks_new", expr("CAST(t_new AS DOUBLE) / CAST(n_new AS DOUBLE)"))
      .withColumn("mean_q_base", expr("CAST(q_base AS DOUBLE) / CAST(n_base AS DOUBLE)"))
      .withColumn("mean_q_new", expr("CAST(q_new AS DOUBLE) / CAST(n_new AS DOUBLE)"))
      .select(col("source"), col("n_base"), col("n_new"),
        col("mean_toks_base"), col("mean_toks_new"),
        expr("mean_toks_new - mean_toks_base").as("toks_delta"),
        col("mean_q_base"), col("mean_q_new"),
        expr("mean_q_new - mean_q_base").as("q_delta"))
  }

  /** C82: interpolated Kneser–Ney bigram LM scoring (Kneser & Ney 1995;
    * Chen & Goodman 1999 eq. 4.24, public — the smoothing KenLM ships and
    * CCNet's perplexity filter runs). Where [[bigramLl]]'s add-one
    * smoothing over-taxes frequent contexts, KN discounts every observed
    * bigram by a fixed d and backs off to CONTINUATION probability — how
    * many distinct contexts a word follows, not how often it occurs — the
    * published fix for the "San Francisco" problem (frequent-but-bound
    * words stop inflating their unigram backoff):
    *
    *   P(b|a) = (c(a,b) − d)/c(a,·) + d·N₁₊(a·)/c(a,·) · N₁₊(·b)/N₁₊(··)
    *
    * with d = 0.75 (the literature default; exactly representable in
    * binary, so both engines compute bit-identical doubles in identical
    * association order). Scoring the training corpus itself means every
    * scored pair is in the census (c(a,b) ≥ 1 > d) — P > 0 with no
    * unseen-event branch.
    *
    * Scale: ONE corpus-scale pair shuffle builds the census; every other
    * model table derives from the census (summary-sized): c(a,·) and
    * N₁₊(a·) in one groupBy("a") (census rows are distinct pairs, so
    * count(*) IS the continuation-type count), N₁₊(·b) by "b", N₁₊(··) a
    * single broadcast row. The score join re-uses the pair partitioning —
    * no broadcast hint, the bigram vocabulary grows with the corpus.
    * Per-position −ln P summed as DECIMAL(18,9) — exact, order-independent,
    * engine-portable (the C40/C68 quantization scheme). */
  def knLl(spark: SparkSession, dir: String): DataFrame =
    knLlOf(Tables.documents(spark, dir))

  private[graft] def knLlOf(docs: DataFrame): DataFrame = {
    val pairs = docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(ws) - 2), i -> struct(ws[i] AS a, ws[i + 1] AS b))"))
        .as("p"))
      .select(col("doc_id"), col("p.a").as("a"), col("p.b").as("b"))
    val census = pairs.groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
    // census rows are distinct (a,b): count(*) per a IS N1+(a·)
    val byA = census.groupBy("a")
      .agg(sum(col("n_ab")).as("n_a"), count(lit(1)).as("t_a"))
    val byB = census.groupBy("b").agg(count(lit(1)).as("r_b"))
    val total = census.agg(count(lit(1)).cast("double").as("t_all"))
    // the whole model folds onto the CENSUS (summary-sized — distinct
    // bigrams, not corpus positions): n_a/t_a/r_b lookups and the per-pair
    // score are census-side joins/arithmetic, so the corpus-scale pairs
    // table crosses exactly ONE join, on its (a, b) key. The r8 shape —
    // pairs→census→byA→byB — re-shuffled the corpus-sized stream on (a,b),
    // then (a), then (b): measured 16.8× at 10× vs ≤ linear expected.
    // Per-row double arithmetic is unchanged (same expression, same scalar
    // inputs), so tok_nll stays bit-identical to the oracle's.
    val model = census.join(byA, Seq("a")).join(byB, Seq("b"))
      .crossJoin(broadcast(total)) // single row: constant-size broadcast
      .withColumn("p_kn", expr(
        """(CAST(n_ab AS DOUBLE) - 0.75) / CAST(n_a AS DOUBLE)
          | + (0.75 * CAST(t_a AS DOUBLE) / CAST(n_a AS DOUBLE))
          |   * (CAST(r_b AS DOUBLE) / t_all)""".stripMargin))
      .withColumn("tok_nll", (-log(col("p_kn")))
        .cast(org.apache.spark.sql.types.DecimalType(18, 9)))
      .select(col("a"), col("b"), col("tok_nll"))
    pairs.join(model, Seq("a", "b"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("tok_nll")).cast("double") / count(lit(1)), 6).as("kn_nll"))
  }

  /** C83: tokenizer-fertility audit per (source, lang) — subword tokens
    * per whitespace word and chars per subword token, the standard
    * multilingual-tokenizer health metric (high fertility on a language ⇒
    * the vocabulary under-serves it, its documents cost more sequence
    * positions per word). Uses the repo's BPE-ish regex tokenizer
    * ([[graft.functions.TextFunctions.regexTokens]]) as the subword proxy,
    * same as C8.
    *
    * Scale: map-only per-doc counts, then one partial-agg shuffle on the
    * tiny (source, lang) key — group count is bounded by the catalog, not
    * the corpus. Ratios are computed FROM THE SUMS after aggregation
    * (exact integers through the shuffle; one double division per output
    * row), so the result is order-independent and engine-portable. */
  def fertility(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("source"), col("lang"),
        length(col("text")).cast("long").as("chars"),
        wsTokens(col("text")).cast("long").as("words"),
        regexTokens(col("text")).cast("long").as("toks"))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("words")).as("n_words"),
        sum(col("toks")).as("n_tokens"),
        sum(col("chars")).as("n_chars"))
      // degenerate groups (whitespace-only docs → 0 words / 0 tokens) yield
      // NULL ratios on BOTH engines (NULLIF in the oracle): Spark's
      // x/0 = Infinity vs DuckDB's ieee_floating_point_ops-dependent
      // division-by-zero would otherwise diverge on exactly those groups
      .withColumn("fertility", when(col("n_words") > 0,
        round(col("n_tokens").cast("double") / col("n_words").cast("double"), 6)))
      .withColumn("chars_per_token", when(col("n_tokens") > 0,
        round(col("n_chars").cast("double") / col("n_tokens").cast("double"), 6)))

  /** ONE-SCAN (doc_id, source, quality, keep) projection shared by the
    * calibration family (C87/C91/C92): the C9 score and the C64 verdict
    * are both map-only column expressions, so composing them as separate
    * operators joined on doc_id would read the corpus three times and
    * shuffle twice for nothing — here the whole scored/labeled input is
    * a single projection over one parquet scan, zero joins. Expressions
    * are verbatim C9/C64 (their oracles pin the values). */
  // `spread` parallelizes the scan-side battery for the one consumer whose
  // downstream is a single heavy fold (C87 AUC: measured 1.33 → 0.93 s with
  // it, while the window-pipeline consumers C91/C92 regressed under the
  // extra exchange — so it is opt-in per call site, not blanket)
  private def qualityWithVerdict(spark: SparkSession, dir: String,
                                 spread: Boolean = false): DataFrame = {
    val lines = split(col("text"), "\n")
    val words = split(col("text"), " ")
    val nWords = wsTokens(col("text")).cast("long")
    val bulletLines = size(filter(lines, l =>
      l.startsWith("- ") || l.startsWith("* ") || l.startsWith("• ")))
    val ellipsisLines = size(filter(lines, l => l.endsWith("...")))
    val alphaWords = size(filter(words, w => w.rlike("[A-Za-z]")))
    val symbols = regexp_count(col("text"), lit("#")) +
      regexp_count(col("text"), lit("\\.\\.\\."))
    (if (spread) Tables.documentsSpread(spark, dir)
     else Tables.documents(spark, dir))
      .select(col("doc_id"), col("source"),
        qualityScore(col("text")).as("quality"),
        (nWords.between(50, 100000) &&
          meanWordLen(col("text")).between(3.0, 10.0) &&
          (symbols.cast("double") / nWords) < 0.1 &&
          (bulletLines.cast("double") / size(lines)) <= 0.9 &&
          (ellipsisLines.cast("double") / size(lines)) <= 0.3 &&
          (alphaWords.cast("double") / size(words)) > 0.8 &&
          hitCount(col("text"), EnStopwords).cast("long") >= 2).as("keep"))
  }

  /** Exact Mann–Whitney ROC-AUC of a score against a boolean label, per
    * group — the calibration statistic for any learned or heuristic
    * quality signal (AUC = P[random positive outranks random negative],
    * ties counted half, the standard U-statistic form). Computed WITHOUT a
    * global sort: one corpus shuffle builds the per-(group, score) census;
    * the cumulative-negatives-below prefix is the repo's two-level pattern
    * (seventh instance — coarse order-compatible score buckets → summary-
    * sized offset window per group → in-bucket prefix window); the
    * numerator 2·Σ n_pos·cumNeg + Σ n_pos·n_neg accumulates as
    * DECIMAL(38,0) (exact integers through the shuffle, one IEEE division
    * per output row), so the result hash-matches any engine. Groups with a
    * single class yield NULL (AUC undefined), never a division artifact. */
  private[graft] def aucOf(df: DataFrame, group: Seq[String],
                           score: String, label: String): DataFrame = scope {
    val gcols = group.map(col)
    // the census is the sole corpus consumer; every later branch (bucket
    // offsets, the prefix join) derives from it — localCheckpoint so the
    // corpus is scanned ONCE, not once per derived branch (measured: 4
    // parquet scans without it)
    val census = df
      .groupBy((gcols :+ col(score)): _*)
      .agg(sum(when(col(label), 1L).otherwise(0L)).as("n_pos"),
        sum(when(col(label), 0L).otherwise(1L)).as("n_neg"))
      .withColumn("g", floor(col(score) * 1024).cast("long")).pin()
    val offsets = census.groupBy((gcols :+ col("g")): _*)
      .agg(sum(col("n_neg")).as("bneg"))
      .withColumn("offset", coalesce(sum(col("bneg")).over(
        Window.partitionBy(gcols: _*).orderBy(col("g"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select((gcols :+ col("g") :+ col("offset")): _*)
    val inBucket = Window.partitionBy((gcols :+ col("g")): _*)
      .orderBy(col(score)).rowsBetween(Window.unboundedPreceding, -1)
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    census.join(offsets, group :+ "g")
      .withColumn("cum_neg",
        col("offset") + coalesce(sum(col("n_neg")).over(inBucket), lit(0L)))
      .groupBy(gcols: _*)
      .agg(sum(col("n_pos")).as("n_pos"), sum(col("n_neg")).as("n_neg"),
        sum((col("n_pos") * col("cum_neg") * 2 + col("n_pos") * col("n_neg"))
          .cast(dec)).as("num2"))
      .withColumn("auc", when(col("n_pos") > 0 && col("n_neg") > 0,
        col("num2").cast("double") /
          (col("n_pos") * col("n_neg") * 2).cast("double")))
      .select((gcols :+ col("n_pos") :+ col("n_neg") :+ col("auc")): _*)
  }

  /** C95: per-document CONTENT NOVELTY — the fraction of a doc's distinct
    * word-k-grams that appear in NO other document (df = 1 in the corpus
    * census): the inverse-boilerplate signal that ranks docs by how much
    * genuinely unique content they contribute (a mixture/sampling weight,
    * and the triage view after C54/C93 have cut the shared spans — what's
    * LEFT that is this doc's own). Low novelty + not-a-duplicate = a doc
    * stitched from corpus-common phrasing; high novelty = unique content
    * worth keeping even under tight budgets.
    *
    * Scale: the C4 inverted-index shape WITHOUT the pair join — one
    * explode to (doc, gram-hash) distinct rows, a gram-keyed census
    * (map-side combinable), and one join back on the gram key carrying
    * only (hash, df) — fixed-width rows, no d² term anywhere (df counts,
    * never df² pairs). */
  def novelty(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val inv = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(graft.functions.Barrier.noInline(
        graft.functions.TextHashExpressions.shingleHashes(col("text"), k))).as("g"))
    val census = inv.groupBy("g").agg(count(lit(1)).as("df"))
    inv.join(census, Seq("g"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        col("n_novel").cast("double") / col("n_grams").cast("double"))
  }

  /** C93: per-source positional BOILERPLATE flags — the header/footer
    * census CCNet-style pipelines trim before dedup ever runs: a doc
    * whose first (or last) `k` words are shared by ≥ `minShare` of its
    * source (and ≥ 2 docs absolutely) is carrying source-template
    * chrome, not content — navigation bars, cookie banners, footers. The
    * C54 dup-span machinery sees these too, but positional detection is
    * per-SOURCE and per-POSITION, which is how trim decisions are made.
    *
    * Scale: one scan emits md5 PREFIX/SUFFIX digests (fixed-width join
    * keys, never the word strings); the (source, digest) censuses are
    * partial-aggregated summaries (bounded by distinct templates); the
    * verdict is two summary joins back onto the corpus keyed by digest —
    * AQE broadcasts them when small. Short docs take their whole text as
    * both prefix and suffix (min(k, words)). */
  def boilerplate(spark: SparkSession, dir: String, k: Int = 5,
                  minShare: Double = 0.2): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), col("source"),
        md5(concat_ws(" ", slice(col("w"), 1, k)).cast("binary")).as("pfx"),
        md5(concat_ws(" ", slice(col("w"),
          greatest(size(col("w")) - (k - 1), lit(1)), lit(k))).cast("binary")).as("sfx"))
    val nSrc = docs.groupBy("source").agg(count(lit(1)).as("n_src"))
    def census(c: String) = docs.groupBy("source", c)
      .agg(count(lit(1)).as(s"n_$c"))
    docs
      .join(census("pfx"), Seq("source", "pfx"))
      .join(census("sfx"), Seq("source", "sfx"))
      .join(nSrc, "source") // AQE broadcasts the ≤|sources|-row table
      .withColumn("boiler_prefix", col("n_pfx") >= 2 &&
        col("n_pfx").cast("double") / col("n_src").cast("double") >= minShare)
      .withColumn("boiler_suffix", col("n_sfx") >= 2 &&
        col("n_sfx").cast("double") / col("n_src").cast("double") >= minShare)
      .select(col("doc_id"), col("source"), col("n_pfx"), col("n_sfx"),
        col("boiler_prefix"), col("boiler_suffix"))
  }

  /** C93b: APPLY the positional-boilerplate verdicts — emit each doc's
    * trimmed text (drop the first/last `k` words when [[boilerplate]]
    * flags that end), the curation ACTION on top of the audit. A doc that
    * is all chrome (both ends flagged, ≤ 2k words) comes back empty —
    * downstream gates drop it, same contract as paraDedup. Trim is an
    * in-row slice + array_join on the flagged rows; the plan is C93's
    * plus one projection. */
  def boilerTrim(spark: SparkSession, dir: String, k: Int = 5,
                 minShare: Double = 0.2): DataFrame = {
    val flags = boilerplate(spark, dir, k, minShare)
      .select(col("doc_id"), col("boiler_prefix"), col("boiler_suffix"))
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .join(flags, "doc_id")
      .withColumn("n_w", size(col("w")))
      .withColumn("start", when(col("boiler_prefix"), lit(k + 1)).otherwise(lit(1)))
      .withColumn("stop", when(col("boiler_suffix"), col("n_w") - k).otherwise(col("n_w")))
      .withColumn("keep_len", greatest(col("stop") - col("start") + 1, lit(0)))
      .select(col("doc_id"),
        array_join(slice(col("w"), col("start"), col("keep_len")), " ").as("trimmed_text"),
        col("boiler_prefix"), col("boiler_suffix"),
        (col("n_w") - col("keep_len")).cast("long").as("n_words_removed"))
  }

  /** C92: exact per-source quality-score quantiles (p10/p50/p90, the
    * type-1 order statistic: the value at rank ⌈q·n⌉) — the numbers that
    * turn a global quality threshold into per-source thresholds (a fixed
    * cut keeps 90% of one source and 10% of another; thresholds are set
    * off these quantiles). A naive percentile() OVER (PARTITION BY
    * source) puts each source in one reducer — sources are few and huge,
    * the worst window shape at 100 TB; instead the exact rank comes from
    * the two-level pattern (eighth instance — coarse score buckets →
    * summary offset window per source → in-bucket row_number), and the
    * quantile is a conditional max over rank = ⌈q·n⌉. Ties order by
    * (quality, doc_id) — fully deterministic. */
  def qualityQuantiles(spark: SparkSession, dir: String): DataFrame = scope {
    val scored = qualityWithVerdict(spark, dir)
      .select(col("doc_id"), col("source"), col("quality"))
      .withColumn("g", floor(col("quality") * 1024).cast("long"))
    // ONE bucket census feeds both the offsets and the per-source totals
    // (checkpointed: without it each branch re-scans the corpus)
    val bucketCensus = scored.groupBy("source", "g")
      .agg(count(lit(1)).as("sz")).pin()
    val offsets = bucketCensus
      .withColumn("offset", coalesce(sum(col("sz")).over(
        Window.partitionBy("source").orderBy("g")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("source"), col("g"), col("offset"))
    val nRows = bucketCensus.groupBy("source").agg(sum(col("sz")).as("n"))
    val inBucket = Window.partitionBy("source", "g").orderBy("quality", "doc_id")
    scored.join(offsets, Seq("source", "g"))
      .withColumn("rnk", col("offset") + row_number().over(inBucket))
      .join(nRows, "source") // AQE broadcasts the ≤|sources|-row table
      .groupBy("source")
      .agg(max(col("n")).as("n_docs"),
        max(when(col("rnk") === ceil(col("n") * 0.1), col("quality"))).as("p10"),
        max(when(col("rnk") === ceil(col("n") * 0.5), col("quality"))).as("p50"),
        max(when(col("rnk") === ceil(col("n") * 0.9), col("quality"))).as("p90"))
  }

  /** C91: reliability diagram for a bounded score against a boolean
    * outcome — the calibration companion to [[qualityAuc]] (AUC measures
    * RANKING; this measures whether the score's VALUE means what it says):
    * scores bin into `nBins` equal-width cells on [0,1], each reporting
    * its doc count, decimal-exact mean score, and empirical positive rate
    * — a well-calibrated score has mean_score ≈ pos_rate per bin. One
    * map-only binning pass + one nBins-key partial agg; mean_score sums
    * DECIMAL(18,9)-quantized scores (order-independent), both ratios are
    * single IEEE divisions. Gated on the C9 quality score vs the C64
    * Gopher verdict (same pairing as C87). */
  def qualityCalibration(spark: SparkSession, dir: String,
                         nBins: Int = 10): DataFrame = {
    val dec9 = org.apache.spark.sql.types.DecimalType(18, 9)
    qualityWithVerdict(spark, dir)
      // score exactly 1.0 belongs to the top bin, not a phantom nBins-th
      .withColumn("bin", least(floor(col("quality") * nBins).cast("long"),
        lit(nBins - 1L)))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum(col("quality").cast(dec9)).as("s"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_pos"))
      .withColumn("mean_score",
        expr("CAST(s AS DOUBLE) / CAST(n AS DOUBLE)"))
      .withColumn("pos_rate",
        expr("CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)"))
      .select(col("bin"), col("n"), col("n_pos"), col("mean_score"),
        col("pos_rate"))
  }

  /** C88: vocabulary-coverage / OOV audit per source — the fixed-vocab
    * companion to the C83 fertility audit: what fraction of token
    * OCCURRENCES a top-`topV` corpus vocabulary covers, per source (a
    * source with a high OOV rate is the one a fixed tokenizer vocabulary
    * under-serves — the audit run before freezing V). Vocabulary = the
    * exact top-V terms by global count via [[vocabOf]]'s two-level total
    * order (count desc, then term — no global sort); the corpus-scale
    * token stream never joins the vocab directly: it first partial-aggs
    * to the (source, term) census (map-side combinable), the census joins
    * the V-row vocab (AQE broadcasts it), and coverage is one
    * integer-sums groupBy — ratios as single IEEE divisions per output
    * row, oracle-portable. */
  def vocabCoverage(spark: SparkSession, dir: String, topV: Long = 1000): DataFrame = scope {
    val docs = Tables.documents(spark, dir)
    // ONE corpus scan: the (source, term) census is checkpointed and the
    // GLOBAL term census derives from it by summing over sources — the
    // vocabOf route would re-explode the corpus once per derived branch
    // (measured 6 parquet scans; now the scan happens exactly once)
    val census = docs.filter(col("text").isNotNull)
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("cnt")).pin()
    val tc = census.groupBy("term").agg(sum(col("cnt")).as("n_occurrences"))
    // two-level exact top-V rank (the vocabOf scheme, census-side)
    val keyed = tc.withColumn("pfx", substring(col("term"), 1, 1))
    val offsets = keyed.groupBy("n_occurrences", "pfx")
      .agg(count(lit(1)).as("sz"))
      .withColumn("offset", coalesce(sum(col("sz")).over(
        boundedWindow(col("n_occurrences").desc, col("pfx")) // count×prefix groups
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("n_occurrences").as("o_n"), col("pfx").as("o_p"), col("offset"))
    val inGroup = Window.partitionBy("n_occurrences", "pfx").orderBy("term")
    val top = keyed
      .join(offsets, keyed("n_occurrences") === col("o_n") && keyed("pfx") === col("o_p"))
      .withColumn("vocab_id", col("offset") + row_number().over(inGroup))
      .filter(col("vocab_id") <= topV)
      .select(col("term"), lit(1L).as("in_v"))
    census
      .join(top, Seq("term"), "left")
      .groupBy("source")
      .agg(sum(col("cnt")).as("n_tokens"),
        sum(when(col("in_v").isNotNull, col("cnt")).otherwise(0L)).as("n_covered"),
        count(lit(1)).as("n_terms"),
        sum(when(col("in_v").isNull, 1L).otherwise(0L)).as("n_oov_terms"))
      .withColumn("coverage",
        col("n_covered").cast("double") / col("n_tokens").cast("double"))
      .withColumn("oov_rate", (col("n_tokens") - col("n_covered")).cast("double")
        / col("n_tokens").cast("double"))
  }

  /** C87: quality-signal calibration — per-source exact ROC-AUC of the
    * cheap C9 quality score against the C64 Gopher rule verdict: "does the
    * one-pass heuristic rank Gopher-pass documents above Gopher-fail
    * ones?", the audit a corpus owner runs before trusting a cheap score
    * to pre-filter what the expensive battery would have cut. Both inputs
    * are independently oracle-gated map passes; the AUC reduction is
    * [[aucOf]] (census + two-level prefix — no global sort at any scale). */
  def qualityAuc(spark: SparkSession, dir: String): DataFrame =
    aucOf(qualityWithVerdict(spark, dir, spread = true),
      Seq("source"), "quality", "keep")

  // ---- Corpus-law fits: Zipf (C99) and Heaps (C100) -----------------------

  /** C99: per-source Zipf-law fit — OLS of ln(freq) on ln(rank) over each
    * source's top-R terms (Zipf 1949; the corpus-health diagnostic: natural
    * language reads slope ≈ −1; templated/boilerplate sources flatten the
    * head, spam/generated text breaks the line — r² says how law-like the
    * source is before a human ever samples it). slope/intercept/r² from the
    * closed-form sums; terms ranked by (freq DESC, term) — fully
    * deterministic.
    *
    * Engine portability: ln(rank)/ln(freq) quantize to DECIMAL(18,9) (the
    * C72 ln discipline — libm's 1-ULP skew sits below the quantization
    * step); second-order terms are exact decimal products (DECIMAL(37,18),
    * inside both engines' 38-digit ceiling); all sums exact and
    * order-free; the fit statistics are one fixed IEEE expression tree
    * over the cast sums, identical cross-engine; 6 dp round.
    *
    * Scale: one corpus scan → (source, term) partial-agg census; the
    * rank window's `row_number ≤ R` filter is rank-pushdown
    * (WindowGroupLimit — each map partition keeps R per source before the
    * exchange), so the window never sorts a full vocabulary; the fit fold
    * is a ≤sources-key partial agg over R·sources rows. */
  def zipfFit(spark: SparkSession, dir: String, topR: Int = 500): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 9)
    val census = Tables.documents(spark, dir).filter(col("text").isNotNull)
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("freq"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("freq").desc, col("term"))
    val pts = census.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topR)
      .withColumn("x", log(col("rank").cast("double")).cast(dec))
      .withColumn("y", log(col("freq").cast("double")).cast(dec))
    val s = pts.groupBy("source").agg(
      count(lit(1)).as("n_terms"),
      sum(col("x")).as("sxq"), sum(col("y")).as("syq"),
      sum(col("x") * col("x")).as("sxxq"),
      sum(col("x") * col("y")).as("sxyq"),
      sum(col("y") * col("y")).as("syyq"))
    s.withColumn("nd", col("n_terms").cast("double"))
      .withColumn("sx", col("sxq").cast("double"))
      .withColumn("sy", col("syq").cast("double"))
      .withColumn("sxx", col("sxxq").cast("double"))
      .withColumn("sxy", col("sxyq").cast("double"))
      .withColumn("syy", col("syyq").cast("double"))
      .withColumn("num", col("nd") * col("sxy") - col("sx") * col("sy"))
      .withColumn("denx", col("nd") * col("sxx") - col("sx") * col("sx"))
      .withColumn("deny", col("nd") * col("syy") - col("sy") * col("sy"))
      .withColumn("slope", when(col("denx") =!= lit(0.0), col("num") / col("denx")))
      .withColumn("intercept", (col("sy") - col("slope") * col("sx")) / col("nd"))
      .withColumn("r2", when(col("denx") * col("deny") =!= lit(0.0),
        col("num") * col("num") / (col("denx") * col("deny"))))
      .select(col("source"), col("n_terms"),
        round(col("slope"), 6).as("slope"),
        round(col("intercept"), 6).as("intercept"),
        round(col("r2"), 6).as("r2"))
  }

  /** C100: Heaps-law vocabulary-growth curve — distinct-term count as the
    * corpus grows through 10 doc_id-range checkpoints (Heaps 1978: V(n) ≈
    * K·n^β; the capacity-planning series behind vocabulary sizing,
    * tokenizer budgets, and "is new data still contributing new content"
    * — a corpus whose curve has gone flat is re-crawling itself).
    * Vocabulary at a checkpoint needs no per-checkpoint distinct pass:
    * a term exists at checkpoint i iff its FIRST document id lands at or
    * before the cutoff, so the whole curve is a ≤10-bucket histogram over
    * the (term → min doc_id) census plus a prefix sum — one number per
    * checkpoint, all exact integers.
    *
    * Scale: reuses the C72 postings build (one corpus scan + one
    * (doc, term) partial-agg shuffle); the first-doc census is a
    * term-keyed partial agg; both histograms are ≤10-key folds and the
    * running sums range over ≤10 rows. Growing the corpus never
    * reshuffles old assignments — first-doc ids are immutable. */
  def heapsCurve(spark: SparkSession, dir: String): DataFrame = scope {
    val tf = bm25Tf(Tables.documents(spark, dir))
    val docTok = tf.groupBy("doc_id").agg(sum(col("tf")).as("n_tok"))
    val span = broadcast(docTok.agg(
      min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi")))
    def bucket(c: Column): Column = least(lit(9L), floor(
      (c - col("lo")).cast("double") * lit(10.0) /
        (col("hi") - col("lo") + lit(1L)).cast("double")).cast("long"))
    val vHist = tf.groupBy("term").agg(min(col("doc_id")).as("first_doc"))
      .crossJoin(span)
      .groupBy(bucket(col("first_doc")).as("b"))
      .agg(count(lit(1)).as("nv"))
    val dHist = docTok.crossJoin(span)
      .groupBy(bucket(col("doc_id")).as("b"))
      .agg(count(lit(1)).as("nd"), sum(col("n_tok")).as("nt"))
    val w = boundedWindow(col("b")) // 10 checkpoint buckets
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dHist.join(vHist, Seq("b"), "full")
      .na.fill(0L, Seq("nv", "nd", "nt"))
      .withColumn("checkpoint", col("b") + lit(1L))
      .withColumn("n_docs", sum(col("nd")).over(w))
      .withColumn("n_tokens", sum(col("nt")).over(w))
      .withColumn("vocab", sum(col("nv")).over(w))
      .select(col("checkpoint"), col("n_docs"), col("n_tokens"), col("vocab"))
  }
}
