package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Pins._
import graft.Tables

/** C12: multimodal columns — images/audio/video as opaque binary columns
  * with typed metadata, processed in partition-batched form.
  *
  * The IMAGE codec is REAL: payloads are genuine PNGs, decoded with the
  * JDK's `javax.imageio` and resized with `Graphics2D` ([[ImageCodec]]).
  * The AUDIO codec is REAL: payloads are genuine RIFF/PCM WAVs, decoded
  * with `javax.sound.sampled` and pooled to fixed-size amplitude envelopes
  * ([[AudioCodec]]). VIDEO is REAL over a declared container: payloads are
  * MJPEG-style GMJ1 streams (length-prefixed JPEG frames, [[VideoCodec]])
  * demuxed by length-prefix walk and decoded per-frame with the image
  * codec. All three JDK-only, all executor-side. The plumbing is what
  * matters at 100 TB: the schema contract, the binary-payload-stays-off-
  * the-driver rule, mapPartitions batch shape, partition sizing for
  * ~MB-scale rows, and column pruning on metadata without payload bytes. */
object Multimodal {

  case class Media(media_id: Long, kind: String, uri: String,
                   width: Int, height: Int, duration_ms: Long,
                   payload: Array[Byte])
  case class Frame(media_id: Long, frame_no: Int, payload: Array[Byte])
  case class Feature(media_id: Long, kind: String, embedding: Array[Float])

  /** Deterministic synthetic media table derived from the documents corpus.
    * Image rows carry a REAL PNG payload (encoded executor-side, dimensions
    * matching the row's metadata); audio rows a REAL 8 kHz PCM WAV whose
    * length matches the row's `duration_ms`; video rows a REAL GMJ1
    * container of `1 + n_chars/256` JPEG frames (capped at 12 so one
    * pathological document can't blow a row past the MB-scale envelope the
    * partition sizing assumes). Stands in for
    * `spark.read.format("binaryFile")` over an object store. */
  def mediaTable(spark: SparkSession, dir: String): Dataset[Media] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("n_chars"))
      .map { r =>
        val id = r.getAs[Long]("doc_id")
        // unknown-content docs (null text) still yield a media row — empty
        // payload bytes, same contract as curate's null-text gate
        val bytes = Option(r.getAs[String]("text")).getOrElse("").getBytes("UTF-8")
        val kind = (id % 3) match {
          case 0 => "image"; case 1 => "audio"; case _ => "video"
        }
        val width = 64 + (id % 8).toInt * 16
        val durationMs = r.getAs[Long]("n_chars") * 10
        val payload = kind match {
          case "image" => ImageCodec.synthPng(width, 64, id ^ bytes.length.toLong)
          // 8 samples/ms: WAV length == duration_ms. Capped at 2000 s of
          // audio so a pathologically long text row can't overflow the Int
          // sample count (the synthetic corpus is far below the cap).
          case "audio" => AudioCodec.synthWav(
            math.min(durationMs * 8, 16_000_000L).toInt, 8000f,
            id ^ bytes.length.toLong)
          case _ => VideoCodec.synthMjpeg(width, 64,
            math.min(1 + r.getAs[Long]("n_chars") / 256, 12L).toInt,
            id ^ bytes.length.toLong)
        }
        Media(id, kind, s"mem://media/$id", width = width,
          height = 64, duration_ms = durationMs, payload = payload)
      }
  }

  /** Decode + resize: partition-batched map keeping payloads distributed.
    * Images run the REAL image codec (ImageIO decode + bilinear resize to
    * w×h grayscale), audio the REAL WAV codec (PCM decode + amplitude
    * envelope of w*h bins), video the REAL demux (first frame decoded with
    * the image codec — the keyframe-thumbnail convention). Output schema:
    * (media_id, kind, pixels binary of exactly w*h bytes). */
  def decodeResize(media: Dataset[Media], w: Int, h: Int): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // batch shape: one decoded buffer per row, allocation reused per batch
      it.map { m =>
        val px = m.kind match {
          case "image" => ImageCodec.decodeResizeGray(m.payload, w, h)
          case "audio" => AudioCodec.decodeEnvelope(m.payload, w * h)
          case _       => ImageCodec.decodeResizeGray(VideoCodec.firstFrame(m.payload), w, h)
        }
        (m.media_id, m.kind, px)
      }
    }.toDF("media_id", "kind", "pixels")
  }

  /** Frame sampling for video payloads: demux the GMJ1 container and keep
    * every `stride`-th frame as a row carrying the whole JPEG. The
    * length-prefix walk never decodes pixels and never copies skipped
    * frames, and the explode stays executor-side — at 100 TB the sampler's
    * output is `1/stride` of the corpus, not a decoded blow-up of it. */
  def frameSample(media: Dataset[Media], stride: Int = 4): Dataset[Frame] = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "video").flatMap { m =>
      VideoCodec.frameOffsets(m.payload).zipWithIndex
        .filter { case (_, i) => i % stride == 0 }
        .map { case (at, i) => Frame(m.media_id, i, VideoCodec.frameAt(m.payload, at)) }
    }
  }

  /** Feature extractor: payload → fixed-dim embedding. Images pool REAL
    * decoded pixels (a dim×4 grayscale thumbnail), audio a REAL dim×4-bin
    * amplitude envelope, video the REAL demuxed first frame's thumbnail.
    * Signature/batching matches a real encoder (model loaded once per
    * partition, vectors out, payload dropped). */
  def extractFeatures(media: Dataset[Media], dim: Int = 16): Dataset[Feature] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // a real impl would load the model ONCE here per partition
      it.map { m =>
        val px = m.kind match {
          case "image" => ImageCodec.decodeResizeGray(m.payload, dim, 4)
          case "audio" => AudioCodec.decodeEnvelope(m.payload, dim * 4)
          case _       => ImageCodec.decodeResizeGray(VideoCodec.firstFrame(m.payload), dim, 4)
        }
        val vec = Array.tabulate(dim)(i => (px(i * 4) / 128.0f))
        Feature(m.media_id, m.kind, vec)
      }
    }
  }

  /** Metadata-only stats: must prune the payload column at the scan —
    * reading 100 TB of bytes to count widths is the canonical mistake. */
  def metaStats(media: Dataset[Media]): DataFrame =
    media.toDF()
      .select("kind", "width", "duration_ms")
      .groupBy("kind")
      .agg(count(lit(1)).as("n_media"),
        (sum(col("width")).cast("double") / count(lit(1))).as("avg_width"),
        sum(col("duration_ms")).as("total_duration_ms"))

  /** C12b: 64-bit pHash per visual row — images hash their own pixels,
    * videos their demuxed first frame (the keyframe convention). One
    * decode pass, payloads never leave the executor; the output is
    * (media_id, 8 bytes) — the corpus compresses ~10⁶× before any join. */
  def phashes(media: Dataset[Media]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.flatMap { m =>
        m.kind match {
          case "image" => Iterator((m.media_id, ImageCodec.phash(m.payload)))
          case "video" => Iterator((m.media_id,
            ImageCodec.phash(VideoCodec.firstFrame(m.payload))))
          case _ => Iterator.empty
        }
      }
    }.toDF("media_id", "phash")
  }

  /** C12b: perceptual near-duplicate IMAGE pairs — the visual twin of the
    * text dedup family (the LAION-style pipeline step: re-encoded /
    * rescaled copies of one picture collapse before training): pairs of
    * visual rows whose pHashes sit within `maxDist` Hamming bits.
    *
    * Candidate generation is EXACT, not probabilistic: the 64-bit hash
    * splits into 4 × 16-bit bands, and any pair within distance ≤ 3 has
    * at most 3 differing bits spread over 4 bands, so BY PIGEONHOLE at
    * least one band matches — the banded equi-join provably surfaces
    * every qualifying pair (this is blocking for the join plan, not an
    * LSH recall trade; hence the maxDist ≤ 3 guard). Verification is one
    * xor+bit_count per candidate.
    *
    * Scale: the hash table is 16 bytes/row (localCheckpoint'd so the
    * self-join's two branches don't re-decode the corpus); the band join
    * shuffles on (band, chunk) — near-dup clusters collide, unrelated
    * noise spreads over 4·2¹⁶ buckets. */
  def phashPairs(media: Dataset[Media], maxDist: Int = 3): DataFrame =
    pairsOfHashes(phashes(media).pin(), maxDist)

  /** The banded pairing kernel over any (media_id, phash) table — shared
    * by the decode-path [[phashPairs]], the store-served
    * [[phashPairsFromStore]], and the wide-radius [[phashPairsRadius]];
    * pigeonhole-exactness argument above generalizes: `nBands` bands of
    * 64/nBands bits are EXACT for maxDist ≤ nBands − 1 (maxDist flips
    * spread over nBands bands leave at least one band untouched).
    *
    * The radius/cost trade is explicit, not hidden: narrower chunks mean
    * more organic bucket collisions — at nBands = b the expected random
    * candidate volume is n²·b/2^(64/b+1), so 4 bands (2⁻⁴⁵/pair) is free,
    * 8 bands (2⁻⁸·8/2 per pair over buckets ≈ n²/64) is a deliberate
    * verification-pass cost, and 16 bands is effectively all-pairs —
    * hence the {4, 8} whitelist; r ≥ 8 wants multi-index Hamming schemes,
    * not deeper banding. */
  private[graft] def pairsOfHashes(h: DataFrame, maxDist: Int,
                                   nBands: Int = 4): DataFrame = {
    require(nBands == 4 || nBands == 8,
      s"banding supports 4 (r<=3) or 8 (r<=7) bands, got $nBands")
    require(maxDist >= 0 && maxDist < nBands,
      s"$nBands-band blocking is pigeonhole-exact only for maxDist <= ${nBands - 1}, got $maxDist")
    val cb = 64 / nBands
    val mask = (1L << cb) - 1
    val bands = h.select(col("media_id"), col("phash"), explode(expr(
      s"""transform(sequence(0, ${nBands - 1}), b ->
        |  named_struct('b', b, 'chunk', shiftright(phash, b * $cb) & ${mask}L))"""
        .stripMargin)).as("bd"))
      .select(col("media_id"), col("phash"),
        col("bd.b").as("b"), col("bd.chunk").as("chunk"))
    bands.as("x").join(bands.as("y"),
        col("x.b") === col("y.b") && col("x.chunk") === col("y.chunk") &&
          col("x.media_id") < col("y.media_id"))
      .select(col("x.media_id").as("id_a"), col("y.media_id").as("id_b"),
        col("x.phash").as("ha"), col("y.phash").as("hb"))
      .distinct() // a close pair can share several bands
      .withColumn("dist", expr("CAST(bit_count(ha ^ hb) AS BIGINT)"))
      .filter(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** C12d (r10): WIDE-RADIUS exact Hamming pairing over a hash table —
    * picks the smallest band scheme whose pigeonhole guarantee covers
    * `maxDist` (4 bands for r ≤ 3, 8 bands for r ≤ 7). Same exactness
    * contract as [[phashPairs]]: every qualifying pair is surfaced, every
    * surfaced pair is xor-verified. The r = 4..7 regime is where
    * re-encoded JPEGs at different quality settings land (dist-0/≤3
    * catches resizes and format swaps; quality-ladder variants drift a few
    * more bits) — the takedown/audit sweep a visual-dedup deployment runs
    * OFF the 16-byte/row hash store, never re-decoding a pixel. */
  def phashPairsRadius(h: DataFrame, maxDist: Int): DataFrame =
    pairsOfHashes(h, maxDist, nBands = if (maxDist <= 3) 4 else 8)

  /** C12d instrument: per-radius RECALL CURVE of the production 4-band
    * scheme against the brute Hamming enumeration — the C7d discipline
    * (measure the index's own curve, don't extrapolate) applied to the
    * visual family. For r ≤ 3 the curve must read 1.0 (the pigeonhole
    * guarantee, spec-pinned); beyond it the measured value quantifies
    * exactly what the default trades away at each radius, which is what
    * sizes the decision to run the 8-band sweep. Brute pair product over
    * the 16-byte/row hash table — an instrument for gate/rehearsal scales
    * (hashes, never pixels; 2000 rows = 2M cheap xors), not a production
    * default. */
  def phashRecallCurve(h: DataFrame, maxRadius: Int = 8): DataFrame = scope {
    val spark = h.sparkSession
    import spark.implicits._
    val par = spark.sparkContext.defaultParallelism
    val a = h.select(col("media_id").as("id_a"), col("phash").as("ha"))
      .repartition(par) // the hash table lands as one file at probe scales
    val b = h.select(col("media_id").as("id_b"), col("phash").as("hb"))
    val truePairs = a.join(b, col("id_a") < col("id_b"))
      .withColumn("dist", expr("CAST(bit_count(ha ^ hb) AS BIGINT)"))
      .filter(col("dist") <= maxRadius)
    // the 4-band CANDIDATE set regardless of distance (maxDist caps only
    // the verify filter; BANDING is what loses pairs, so candidate
    // membership is the thing measured)
    val bandsDf = h.select(col("media_id"), explode(expr(
      """transform(sequence(0, 3), b ->
        |  named_struct('b', b, 'chunk', shiftright(phash, b * 16) & 65535L))"""
        .stripMargin)).as("bd"))
      .select(col("media_id"), col("bd.b").as("b"), col("bd.chunk").as("chunk"))
    val cand = bandsDf.as("x").join(bandsDf.as("y"),
        col("x.b") === col("y.b") && col("x.chunk") === col("y.chunk") &&
          col("x.media_id") < col("y.media_id"))
      .select(col("x.media_id").as("id_a"), col("y.media_id").as("id_b"))
      .distinct()
      .withColumn("found", lit(true))
    val marked = truePairs.join(cand, Seq("id_a", "id_b"), "left")
      .select(col("dist"), coalesce(col("found"), lit(false)).as("found"))
      .pin() // ≤ true-pair rows; re-read per radius below
    spark.range(1, maxRadius + 1L).select(col("id").as("radius"))
      .join(marked, marked("dist") <= col("radius"), "left")
      .groupBy("radius")
      .agg(count(col("dist")).as("n_true"),
        count(when(col("found"), lit(1))).as("n_found"))
      .withColumn("recall",
        when(col("n_true") > 0,
          col("n_found").cast("double") / col("n_true").cast("double"))
          .otherwise(lit(1.0)))
      .orderBy("radius")
  }

  // ---- C12c: persisted pHash store ---------------------------------------

  /** C12c: persist the corpus pHash table — the hash a visual-dedup
    * deployment computes ONCE per corpus and serves pairs from thereafter
    * (the round-11 bench showed the pairing itself is cheap; ~all of
    * mm_phash_pairs' cost is the per-run PNG decode, which a store
    * amortizes to ingest time — the C71 index-lifecycle pattern applied
    * to the visual family). 16 bytes/row: a 10⁹-image corpus stores in
    * ~16 GB of parquet, re-pairable without touching a pixel. */
  def writePhashStore(media: Dataset[Media], storeDir: String): Unit =
    phashes(media).write.mode("overwrite").parquet(s"$storeDir/phashes.parquet")

  /** Ingest a new media batch into the store: decode + hash ONLY the
    * batch (append-only — the existing corpus is never re-decoded; new
    * ids are the caller's contract, same as C71's ingest). */
  def ingestPhashes(batch: Dataset[Media], storeDir: String): Unit =
    phashes(batch).write.mode("append").parquet(s"$storeDir/phashes.parquet")

  /** Serve near-duplicate pairs from the persisted hash table — zero
    * decodes, the same pigeonhole-exact banded pairing, so the result is
    * identical to [[phashPairs]] over the media the store ingested. */
  def phashPairsFromStore(spark: SparkSession, storeDir: String,
                          maxDist: Int = 3): DataFrame =
    pairsOfHashes(spark.read.parquet(s"$storeDir/phashes.parquet"), maxDist)
}
