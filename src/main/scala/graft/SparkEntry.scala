package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.operators._
import BenchForm._
import Scale10._

/** Driver contract — see SURVEY.md §2 (inventory) and §6 (oracle
  * strategy). [[registry]] holds one row per gate entry: its build, its
  * DuckDB oracle when its semantics are SQL-expressible, and its bench
  * form. Oracle column names match the build's; column types are aligned
  * too (Spark ints widened to long where DuckDB yields BIGINT,
  * decimal-exact sums cast to double on both sides). Adding an entry is one
  * row. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Analytics.q1Pricing(spark, "/root/testdata/sf0.001")

  /** Fingerprint of the embeddings table's files (path + sizes + mtimes) —
    * versions the on-disk ANN index so regenerated data invalidates it.
    * Listing goes through Hadoop's FileSystem (the SIM:468/862 discipline):
    * a java.io.File walk silently returns an EMPTY listing for hdfs:// or
    * s3a:// paths, so the tag would never change and a regenerated remote
    * table would be served from a stale index forever. */
  private[graft] def embDataTag(spark: SparkSession, dir: String): String = {
    val path = new org.apache.hadoop.fs.Path(s"$dir/embeddings.parquet")
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val files =
      if (fs.exists(path)) fs.listStatus(path).sortBy(_.getPath.getName)
      else Array.empty[org.apache.hadoop.fs.FileStatus]
    val sig = dir + files.map(f =>
      s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}").mkString(",")
    java.lang.Long.toHexString(
      sig.foldLeft(1125899906842597L)((h, c) => 31 * h + c))
  }

  /** C12d planting helpers: xor masks with exactly d bits. `spreadMasks`
    * places flips round-robin across the four 16-bit bands — the layout
    * that DEFEATS 4-band blocking at d ≥ 4 (every band touched) while
    * 8-band blocking still catches it; `concMasks` packs all d flips into
    * band 0, which any banding catches. Twins plant one provable-distance
    * pair per selected source row (d = media_id mod 7 or 8, +1). */
  private def spreadMasks(maxD: Int): Seq[Long] =
    (1 to maxD).map(dd => (0 until dd).map(i => 1L << ((i % 4) * 16 + i / 4))
      .reduce(_ | _))
  private def concMasks(maxD: Int): Seq[Long] =
    (1 to maxD).map(dd => (1L << dd) - 1)
  private def phashTwins(h: DataFrame, idOffset: Long,
                         masks: Seq[Long]): DataFrame = {
    import org.apache.spark.sql.functions._
    val n = masks.length
    h.filter(pmod(col("media_id"), lit(5)) === 1)
      .select((col("media_id") + idOffset).as("media_id"),
        col("phash").bitwiseXOR(element_at(array(masks.map(lit): _*),
          (pmod(col("media_id"), lit(n)) + 1).cast("int"))).as("phash"))
  }

  // Shared SQL fragments for the oracles (DuckDB 1.0 dialect), declared
  // before the rows that read them.

  // A98 oracle, built with the same expression builders as the Spark side
  // so the per-op quantization sequence is verbatim-identical
  private val pacfSql: String = {
    val ts = "[CAST(CAST(phi[j] AS DOUBLE) * CAST(r[k + 1 - j] AS DOUBLE) " +
      "AS DECIMAL(18,9)) for j in range(1, k + 1)]"
    val ssum = s"list_aggregate($ts, 'sum')"
    val alpha = s"CAST(r[k + 1] - $ssum AS DECIMAL(28,9))"
    val pkk = s"CAST(CAST($alpha AS DOUBLE) / " +
      "nullif(CAST(v AS DOUBLE), 0.0) AS DECIMAL(18,9))"
    val w = s"CAST(CAST($pkk AS DOUBLE) * CAST($pkk AS DOUBLE) AS DECIMAL(18,9))"
    val phiNew = s"[CAST(phi[j] - CAST(CAST($pkk AS DOUBLE) * " +
      "CAST(phi[k + 1 - j] AS DOUBLE) AS DECIMAL(18,9)) AS DECIMAL(18,9)) " +
      s"for j in range(1, k + 1)] || [$pkk]"
    val vNew = s"CAST(CAST(v AS DOUBLE) * CAST(CAST(" +
      s"CAST(1 AS DECIMAL(18,9)) - $w AS DECIMAL(18,9)) AS DOUBLE) " +
      "AS DECIMAL(18,9))"
    val v0 = "CAST(CAST(1 AS DECIMAL(18,9)) - CAST(CAST(r[1] AS DOUBLE) * " +
      "CAST(r[1] AS DOUBLE) AS DECIMAL(18,9)) AS DECIMAL(18,9))"
    s"""WITH RECURSIVE daily AS (
       |  SELECT event_type, epoch_ms(ts) // 86400000 AS day_idx, count(*) AS y
       |  FROM events GROUP BY 1, 2),
       |rng AS (
       |  SELECT event_type, min(day_idx) AS lo, max(day_idx) AS hi
       |  FROM daily GROUP BY 1 HAVING hi - lo + 1 >= 8),
       |dense AS (
       |  SELECT g.event_type,
       |    row_number() OVER (PARTITION BY g.event_type ORDER BY g.d) AS rn,
       |    CAST(coalesce(dl.y, 0) AS BIGINT) AS y, CAST(g.n AS BIGINT) AS n
       |  FROM (SELECT event_type, unnest(generate_series(lo, hi)) AS d,
       |          hi - lo + 1 AS n FROM rng) g
       |  LEFT JOIN daily dl
       |    ON dl.event_type = g.event_type AND dl.day_idx = g.d),
       |stats AS (
       |  SELECT event_type, max(n) AS n, sum(y) AS s FROM dense GROUP BY 1),
       |devs AS (
       |  SELECT d.event_type, d.rn,
       |    CAST(st.n * d.y - st.s AS DECIMAL(38,0)) AS dv
       |  FROM dense d JOIN stats st USING (event_type)),
       |dn AS (
       |  SELECT event_type, sum(dv * dv) AS den FROM devs GROUP BY 1),
       |nums AS (
       |  SELECT a.event_type, l.lag, sum(a.dv * b.dv) AS num
       |  FROM (SELECT event_type, unnest(generate_series(1, 7)) AS lag
       |        FROM dn) l
       |  JOIN devs a ON a.event_type = l.event_type
       |  JOIN devs b ON b.event_type = l.event_type AND b.rn = a.rn + l.lag
       |  GROUP BY 1, 2),
       |qr AS (
       |  SELECT m.event_type, max(s2.n) AS n_days,
       |    list(CAST(CAST(m.num AS DOUBLE) / CAST(d.den AS DOUBLE)
       |      AS DECIMAL(18,9)) ORDER BY m.lag) AS r
       |  FROM nums m JOIN dn d USING (event_type)
       |  JOIN stats s2 USING (event_type)
       |  WHERE d.den > 0 GROUP BY 1),
       |dl AS (
       |  SELECT event_type, n_days, r, 1 AS k,
       |    [r[1]] AS phi, [r[1]] AS pacf, $v0 AS v
       |  FROM qr
       |  UNION ALL
       |  SELECT event_type, n_days, r, k + 1,
       |    $phiNew,
       |    pacf || [$pkk],
       |    $vNew
       |  FROM dl WHERE k < 7)
       |SELECT d2.event_type, CAST(g.lag AS BIGINT) AS lag, d2.n_days,
       |  CAST(d2.pacf[CAST(g.lag AS INT)] AS DOUBLE) AS pacf
       |FROM (SELECT * FROM dl WHERE k = 7) d2, generate_series(1, 7) g(lag)"""
      .stripMargin
  }

  // A27/A96 shared oracle: exact rank-selected per-type quantiles
  private val quantilesExactSql =
    """SELECT event_type,
      |  max(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT) THEN value END) AS value_p50,
      |  max(CASE WHEN rn = CAST(ceil(n * 0.95) AS BIGINT) THEN value END) AS value_p95,
      |  max(n) AS n_events
      |FROM (SELECT event_type, value,
      |        row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
      |        count(*) OVER (PARTITION BY event_type) AS n
      |      FROM events) t
      |GROUP BY 1""".stripMargin

  // A89/A89c shared oracle: the plain exact per-type top-k ranking
  private val hhExactSql =
    """SELECT event_type, rank, user_id, c AS est, c AS lo FROM (
      |  SELECT event_type, user_id, count(*) AS c,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY count(*) DESC, user_id) AS rank
      |  FROM events GROUP BY 1, 2) t
      |WHERE rank <= 10""".stripMargin

  /** C107 oracle at a parameterized train/held md5-prefix boundary —
    * 'cd' = the 80/20 production default; 'b3' (179/256 ≈ 0.70) is the
    * r10 second-ratio fixture pinning the V-scaling of the Laplace
    * denominator (a wrong vocab scope shifts every unseen-pair cell at
    * one ratio but not the other). */
  private def heldoutPplSql(h: String): String =
    s"""WITH d AS (SELECT doc_id, text,
        |    substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS h2
        |  FROM documents WHERE text IS NOT NULL),
        |tr AS (SELECT doc_id, string_split(text, ' ') AS ws FROM d
        |       WHERE h2 < '$h'),
        |hd AS (SELECT doc_id, string_split(text, ' ') AS ws FROM d
        |       WHERE h2 >= '$h'),
        |tp AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)),
        |        i -> struct_pack(a := ws[i], b := ws[i + 1]))) AS pr
        |      FROM tr WHERE len(ws) >= 2),
        |tpp AS (SELECT struct_extract(pr, 'a') AS a,
        |         struct_extract(pr, 'b') AS b FROM tp),
        |bc AS (SELECT a, b, count(*) AS n_ab FROM tpp GROUP BY 1, 2),
        |ac AS (SELECT a, CAST(sum(n_ab) AS BIGINT) AS n_a FROM bc GROUP BY 1),
        |v AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS n_vocab FROM
        |       (SELECT unnest(string_split(text, ' ')) AS tok FROM d
        |        WHERE h2 < '$h')),
        |hp AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)),
        |        i -> struct_pack(a := ws[i], b := ws[i + 1]))) AS pr
        |      FROM hd WHERE len(ws) >= 2),
        |hpp AS (SELECT doc_id, struct_extract(pr, 'a') AS a,
        |         struct_extract(pr, 'b') AS b FROM hp),
        |s AS (SELECT hpp.doc_id,
        |        CAST(-ln((coalesce(bc.n_ab, 0) + 1)
        |          / (coalesce(ac.n_a, 0) + v.n_vocab)) AS DECIMAL(18,9))
        |          AS tok_nll
        |      FROM hpp LEFT JOIN bc USING (a, b) LEFT JOIN ac USING (a), v)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(CAST(sum(tok_nll) AS DOUBLE) / count(*), 6) AS heldout_nll
        |FROM s GROUP BY 1""".stripMargin

  private val rev = "CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)"
  private def dsum(c: String) = s"CAST(sum(CAST($c AS DECIMAL(18,4))) AS DOUBLE)"
  private val stop = "['the','a','an','and','of','to','in','is','it','for']"
  private def hits(dict: String) =
    s"CAST(len(list_filter(string_split(text, ' '), t -> list_contains($dict, t))) AS BIGINT)"
  private val dotCQ = "list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))"
  private def nrm(t: String) =
    s"sqrt(list_dot_product(CAST($t.embedding AS DOUBLE[]), CAST($t.embedding AS DOUBLE[])))"

  // C72/C76: per-term DECIMAL(18,9) quantization before the order-free sum
  private val bm25Sql =
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |             FROM documents WHERE text IS NOT NULL),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS occ
        |        FROM tf GROUP BY 1),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs,
        |        CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |qc AS (SELECT 'common' AS query_id, term FROM dfq
        |       ORDER BY occ DESC, term LIMIT 5),
        |qr AS (SELECT 'rare' AS query_id, term FROM dfq WHERE df >= 2
        |       ORDER BY df, occ, term LIMIT 5),
        |q AS (SELECT * FROM qc UNION ALL SELECT * FROM qr),
        |c AS (SELECT q.query_id, tf.doc_id,
        |        CAST(ln(1.0 + (n.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
        |          * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / n.avgdl))
        |         AS DECIMAL(18,9)) AS ts
        |      FROM q JOIN dfq USING (term) JOIN tf USING (term)
        |      JOIN dl ON tf.doc_id = dl.doc_id, n)
        |SELECT query_id, doc_id, count(*) AS n_terms,
        |  CAST(round(sum(ts), 6) AS DOUBLE) AS score,
        |  row_number() OVER (PARTITION BY query_id
        |    ORDER BY sum(ts) DESC, doc_id) AS rank
        |FROM c GROUP BY 1, 2 QUALIFY rank <= 10""".stripMargin

  // the shared retrieval CTE prefix: postings, df/occ census, doc lengths,
  // corpus totals, and the derived common/rare query pair (C72's contract)
  private val retrievalCtes =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |             FROM documents WHERE text IS NOT NULL),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
      |dfq AS (SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS occ
      |        FROM tf GROUP BY 1),
      |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
      |n AS (SELECT count(*) AS n_docs,
      |        CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
      |        CAST(sum(dl) AS DOUBLE) AS c_tokens FROM dl),
      |qc AS (SELECT 'common' AS query_id, term FROM dfq
      |       ORDER BY occ DESC, term LIMIT 5),
      |qr AS (SELECT 'rare' AS query_id, term FROM dfq WHERE df >= 2
      |       ORDER BY df, occ, term LIMIT 5),
      |q AS (SELECT * FROM qc UNION ALL SELECT * FROM qr),
      |nq AS (SELECT query_id, count(*) AS n_q FROM q GROUP BY 1)""".stripMargin

  // the QLM ranking body (rank-equivalent Dirichlet decomposition,
  // mu = 300): matched-term contributions + the per-candidate length prior,
  // both DECIMAL(18,9)-quantized before the exact sums
  private val qlmBody =
    """qlc AS (SELECT q.query_id, tf.doc_id,
      |        CAST(ln(1.0 + CAST(tf.tf AS DOUBLE) * n.c_tokens
      |                 / (300.0 * CAST(dfq.occ AS DOUBLE))) AS DECIMAL(18,9)) AS ts
      |      FROM q JOIN dfq USING (term) JOIN tf USING (term), n),
      |qls AS (SELECT query_id, doc_id, count(*) AS n_terms, sum(ts) AS s
      |        FROM qlc GROUP BY 1, 2),
      |qlr AS (SELECT qls.query_id, qls.doc_id, qls.n_terms,
      |        qls.s + CAST(ln(300.0 / (CAST(dl.dl AS DOUBLE) + 300.0))
      |                AS DECIMAL(18,9)) * nq.n_q AS sc
      |        FROM qls JOIN dl USING (doc_id) JOIN nq USING (query_id))""".stripMargin

  private val qlmSql =
    s"""$retrievalCtes,
       |$qlmBody
       |SELECT query_id, doc_id, n_terms,
       |  CAST(round(sc, 6) AS DOUBLE) AS score,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY sc DESC, doc_id) AS rank
       |FROM qlr QUALIFY rank <= 10""".stripMargin

  // RRF fusion of the BM25 and QLM top-10s: 1/(60+rank) quantized
  // DECIMAL(18,9), exact 2-term sums, ties on doc_id
  private val rrfSql =
    s"""$retrievalCtes,
       |$qlmBody,
       |bmc AS (SELECT q.query_id, tf.doc_id,
       |        CAST(ln(1.0 + (n.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
       |          * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / n.avgdl))
       |         AS DECIMAL(18,9)) AS ts
       |      FROM q JOIN dfq USING (term) JOIN tf USING (term)
       |      JOIN dl ON tf.doc_id = dl.doc_id, n),
       |bmr AS (SELECT query_id, doc_id,
       |        row_number() OVER (PARTITION BY query_id
       |          ORDER BY sum(ts) DESC, doc_id) AS rank
       |        FROM bmc GROUP BY 1, 2 QUALIFY rank <= 10),
       |qlk AS (SELECT query_id, doc_id,
       |        row_number() OVER (PARTITION BY query_id
       |          ORDER BY sc DESC, doc_id) AS rank
       |        FROM qlr QUALIFY rank <= 10),
       |u AS (SELECT query_id, doc_id, rank FROM bmr
       |      UNION ALL SELECT query_id, doc_id, rank FROM qlk),
       |f AS (SELECT query_id, doc_id, count(*) AS n_systems,
       |      sum(CAST(1.0 / (60.0 + CAST(rank AS DOUBLE)) AS DECIMAL(18,9))) AS s
       |      FROM u GROUP BY 1, 2)
       |SELECT query_id, doc_id, n_systems,
       |  CAST(round(s, 6) AS DOUBLE) AS rrf_score,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY s DESC, doc_id) AS rrf_rank
       |FROM f QUALIFY rrf_rank <= 10""".stripMargin

  // C101: Kendall τ-b between the BM25 and QLM top-10s (absent docs take
  // the tied rank k+1 = 11); all counts exact integers, τ one fixed IEEE
  // tree over them (casts exact, sqrt/÷ correctly rounded — no rounding)
  private val rankTauSql =
    s"""$retrievalCtes,
       |$qlmBody,
       |bmc AS (SELECT q.query_id, tf.doc_id,
       |        CAST(ln(1.0 + (n.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
       |          * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / n.avgdl))
       |         AS DECIMAL(18,9)) AS ts
       |      FROM q JOIN dfq USING (term) JOIN tf USING (term)
       |      JOIN dl ON tf.doc_id = dl.doc_id, n),
       |bmr AS (SELECT query_id, doc_id,
       |        row_number() OVER (PARTITION BY query_id
       |          ORDER BY sum(ts) DESC, doc_id) AS rank
       |        FROM bmc GROUP BY 1, 2 QUALIFY rank <= 10),
       |qlk AS (SELECT query_id, doc_id,
       |        row_number() OVER (PARTITION BY query_id
       |          ORDER BY sc DESC, doc_id) AS rank
       |        FROM qlr QUALIFY rank <= 10),
       |u AS (SELECT coalesce(b.query_id, k.query_id) AS query_id,
       |        coalesce(b.doc_id, k.doc_id) AS doc_id,
       |        b.rank IS NOT NULL AND k.rank IS NOT NULL AS in_both,
       |        coalesce(b.rank, 11) AS ra, coalesce(k.rank, 11) AS rb
       |      FROM bmr b FULL OUTER JOIN qlk k
       |        ON b.query_id = k.query_id AND b.doc_id = k.doc_id),
       |cen AS (SELECT query_id, count(*) AS n_union,
       |        count(*) FILTER (WHERE in_both) AS overlap
       |        FROM u GROUP BY 1),
       |p AS (SELECT a.query_id, a.ra AS ra1, a.rb AS rb1,
       |        b.ra AS ra2, b.rb AS rb2
       |      FROM u a JOIN u b
       |        ON a.query_id = b.query_id AND a.doc_id < b.doc_id),
       |agg AS (SELECT query_id, count(*) AS n_pairs,
       |        count(*) FILTER (WHERE ra1 <> ra2 AND rb1 <> rb2
       |          AND ((ra1 < ra2) = (rb1 < rb2))) AS concordant,
       |        count(*) FILTER (WHERE ra1 <> ra2 AND rb1 <> rb2
       |          AND ((ra1 < ra2) <> (rb1 < rb2))) AS discordant,
       |        count(*) FILTER (WHERE ra1 = ra2) AS ties_a,
       |        count(*) FILTER (WHERE rb1 = rb2) AS ties_b
       |        FROM p GROUP BY 1)
       |SELECT cen.query_id, cen.n_union, cen.overlap,
       |  coalesce(agg.n_pairs, 0) AS n_pairs,
       |  coalesce(agg.concordant, 0) AS concordant,
       |  coalesce(agg.discordant, 0) AS discordant,
       |  coalesce(agg.ties_a, 0) AS ties_a,
       |  coalesce(agg.ties_b, 0) AS ties_b,
       |  CASE WHEN (agg.n_pairs - agg.ties_a) > 0
       |        AND (agg.n_pairs - agg.ties_b) > 0 THEN
       |    CAST(agg.concordant - agg.discordant AS DOUBLE)
       |      / sqrt(CAST((agg.n_pairs - agg.ties_a)
       |                * (agg.n_pairs - agg.ties_b) AS DOUBLE)) END AS tau_b
       |FROM cen LEFT JOIN agg ON cen.query_id = agg.query_id""".stripMargin

  // brute-force cosine top-k — also the oracle for the exhaustive-probe IVF
  // path, which must reproduce it exactly
  private val bruteRangeSql =
    s"""SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
       |  $dotCQ / (${nrm("c")} * ${nrm("q")}) AS cos_sim
       |FROM embeddings c, embeddings q
       |WHERE q.vec_id < 10 AND c.vec_id >= 10
       |  AND $dotCQ / (${nrm("c")} * ${nrm("q")}) >= 0.3""".stripMargin

  private val bruteTopkSql =
    s"""SELECT q_id, vec_id, rank, cos_sim FROM (
       |  SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
       |    $dotCQ / (${nrm("c")} * ${nrm("q")}) AS cos_sim,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY $dotCQ / (${nrm("c")} * ${nrm("q")}) DESC, c.vec_id) AS rank
       |  FROM embeddings c, embeddings q WHERE q.vec_id < 10 AND c.vec_id >= 10) t
       |WHERE rank <= 5""".stripMargin

  // the delete-lifecycle oracle: brute force over the corpus MINUS the
  // tombstoned ids (vec_id % 10 = 3) — the masked exhaustive serve must
  // reproduce it exactly
  private val bruteTopkDeleteSql =
    s"""SELECT q_id, vec_id, rank, cos_sim FROM (
       |  SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
       |    $dotCQ / (${nrm("c")} * ${nrm("q")}) AS cos_sim,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY $dotCQ / (${nrm("c")} * ${nrm("q")}) DESC, c.vec_id) AS rank
       |  FROM embeddings c, embeddings q
       |  WHERE q.vec_id < 10 AND c.vec_id >= 10 AND c.vec_id % 10 != 3) t
       |WHERE rank <= 5""".stripMargin

  // brute-force inner-product top-k — no norm division, no zero-vector
  // filter (ip = 0 is well-ordered); also the oracle for the exhaustive
  // norm-augmented MIPS-IVF twin
  private val bruteMipsSql =
    s"""SELECT q_id, vec_id, rank, ip FROM (
       |  SELECT q.vec_id AS q_id, c.vec_id AS vec_id, $dotCQ AS ip,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY $dotCQ DESC, c.vec_id) AS rank
       |  FROM embeddings c, embeddings q WHERE q.vec_id < 10 AND c.vec_id >= 10) t
       |WHERE rank <= 5""".stripMargin

  // brute-force corpus k-NN graph (self-join, self-edges excluded, zero
  // vectors dropped from both sides as cosine is undefined for them) — also
  // the oracle for the exhaustive-probe IVF graph twin
  private val bruteKnnSql =
    s"""SELECT q_id, vec_id, rank, cos_sim FROM (
       |  SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
       |    $dotCQ / (${nrm("c")} * ${nrm("q")}) AS cos_sim,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY $dotCQ / (${nrm("c")} * ${nrm("q")}) DESC, c.vec_id) AS rank
       |  FROM embeddings c, embeddings q
       |  WHERE c.vec_id <> q.vec_id AND ${nrm("c")} > 0 AND ${nrm("q")} > 0) t
       |WHERE rank <= 5""".stripMargin

  private val trianglesSql =
    s"""WITH knn AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY $dotCQ / (${nrm("c")} * ${nrm("q")}) DESC,
         |          c.vec_id) AS rank
         |    FROM embeddings c, embeddings q
         |    WHERE c.vec_id <> q.vec_id
         |      AND ${nrm("c")} > 0 AND ${nrm("q")} > 0) t
         |  WHERE rank <= 5),
         |e AS (
         |  SELECT x.q_id AS a, x.vec_id AS b
         |  FROM knn x JOIN knn y ON x.q_id = y.vec_id AND x.vec_id = y.q_id
         |  WHERE x.q_id < x.vec_id),
         |tri AS (
         |  SELECT e1.a, e1.b, e2.b AS c
         |  FROM e e1 JOIN e e2 ON e1.b = e2.a
         |  WHERE EXISTS (SELECT 1 FROM e e3
         |                WHERE e3.a = e1.a AND e3.b = e2.b)),
         |pn AS (
         |  SELECT node AS vec_id, CAST(count(*) AS BIGINT) AS n_triangles
         |  FROM (SELECT unnest([a, b, c]) AS node FROM tri) GROUP BY 1),
         |deg AS (
         |  SELECT node AS vec_id, CAST(count(*) AS BIGINT) AS degree
         |  FROM (SELECT unnest([a, b]) AS node FROM e) GROUP BY 1)
         |SELECT n.vec_id,
         |  coalesce(d.degree, 0) AS degree,
         |  coalesce(p.n_triangles, 0) AS n_triangles,
         |  CASE WHEN coalesce(d.degree, 0) >= 2 THEN
         |    CAST(2 * coalesce(p.n_triangles, 0) AS DOUBLE)
         |      / CAST(coalesce(d.degree, 0) * (coalesce(d.degree, 0) - 1)
         |          AS DOUBLE)
         |  END AS clustering
         |FROM (SELECT vec_id FROM embeddings t
         |      WHERE ${nrm("t")} > 0) n
         |LEFT JOIN deg d USING (vec_id)
         |LEFT JOIN pn p USING (vec_id)""".stripMargin

  /** Every gate entry, once. The families are separate methods so that no
    * initializer nears the JVM's 64 KB method limit; lazy, so that the rows
    * read the SQL fragments above only after they are initialized. */
  lazy val registry: Registry = new Registry(
    eventEntries ++ analyticsEntries ++ documentEntries ++ embeddingEntries ++
      mediaEntries)

  /** Driver contract: each entry's build, by name. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.queries

  /** Driver contract: the DuckDB oracle of each entry that has one. */
  def oracleSql: Map[String, String] = registry.oracleSql

  // Serving forms. A store-backed entry's bench form times its SERVING
  // path: the store builds once per (store, sfDir) on first touch
  // (amortized exactly as a deployment amortizes it), and min-of-reps then
  // measures serving — the builds rebuild per call because correctness
  // must cover the write. The incremental and lifecycle entries (r13) time
  // the RECURRING operation a deployment repeats — score/ingest/delete a
  // fresh batch, then serve — and mutating ops run against a per-rep COPY
  // of the base store, so every rep writes real rows. Build-per-call
  // numbers are retained in OPTIMIZATION_r13.md.
  private val storeCache = scala.collection.concurrent.TrieMap.empty[String, String]
  private def cachedStore(key: String, build: String => Unit): String =
    storeCache.getOrElseUpdate(key, {
      val tmp = Files.createTempDirectory("graft-bench-store")
      build(tmp.toString); tmp.toString
    })

  /** The 80%-of-id-range cut the incremental entries split on, cached per
    * table dir — the lookup is one driver job re-proving a constant of the
    * dataset every rep otherwise. */
  private val cutCache = scala.collection.concurrent.TrieMap.empty[String, Long]
  private def cachedCut(key: String, df: => DataFrame, idCol: String): Long =
    cutCache.getOrElseUpdate(key,
      df.agg(org.apache.spark.sql.functions.expr(s"max($idCol) * 8 div 10"))
        .head().getLong(0))

  private val idsCache = scala.collection.concurrent.TrieMap.empty[String, Seq[Long]]
  private val rangeCache = scala.collection.concurrent.TrieMap.empty[String, (Long, Long)]

  /** Copy a store directory tree (for per-rep isolation of MUTATING store
    * ops): the op appends/tombstones into the copy, so every rep performs
    * the real mutation on identical input — min-of-reps can never select a
    * "steady-state" rep whose append writes zero rows (the doc_cdc_forget
    * critique, VERDICT r12 #8). Store dirs at bench SF are a few MB; the
    * copy is milliseconds of the timed rep and is declared in
    * OPTIMIZATION_r13.md. */
  private def copyDir(src: String, dst: String): Unit = {
    import scala.jdk.CollectionConverters._
    val s = Paths.get(src); val t = Paths.get(dst)
    Files.walk(s).iterator.asScala.foreach { p =>
      val q = t.resolve(s.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }
  private def deleteDir(dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    try Files.walk(Paths.get(dir)).iterator.asScala.toSeq.reverse
      .foreach(p => Files.deleteIfExists(p))
    catch { case _: Throwable => }
  }

  /** A. event-stream operators: the reference consumer's dedup, rate
    * limit, upsert and replay, and the wider event-history analytics. */
  private def eventEntries: Seq[Entry] = Seq(
    Entry("ev_dedup_first", (s, d) => EventOps.dedupFirst(s, d), timed.copy(core = 10),
      """SELECT user_id, event_type, day, event_id, ts_ms, value FROM (
        |  SELECT user_id, event_type, strftime(ts, '%Y-%m-%d') AS day,
        |         event_id, epoch_ms(ts) AS ts_ms, value,
        |         row_number() OVER (PARTITION BY user_id, event_type, strftime(ts, '%Y-%m-%d')
        |                            ORDER BY epoch_ms(ts), event_id) AS rn
        |  FROM events) t WHERE rn = 1""".stripMargin),
    Entry("ev_latest_by_key", (s, d) => EventOps.latestByKey(s, d), notTimed,
      """SELECT user_id, event_id, ts_ms, event_type, value FROM (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, event_type, value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
        |  FROM events) t WHERE rn = 1""".stripMargin),
    Entry("ev_rate_limit", (s, d) => EventOps.rateLimit(s, d), timed,
      """SELECT user_id, day, n_events, least(n_events, 5) AS n_allowed,
        |       greatest(n_events - 5, 0) AS n_dropped
        |FROM (SELECT user_id, strftime(ts, '%Y-%m-%d') AS day, count(*) AS n_events
        |      FROM events GROUP BY 1, 2) t""".stripMargin),
    Entry("ev_rate_filter", (s, d) => EventOps.rateFilter(s, d), notTimed,
      """SELECT event_id, user_id, day, seq_in_window FROM (
        |  SELECT event_id, user_id, strftime(ts, '%Y-%m-%d') AS day,
        |         row_number() OVER (PARTITION BY user_id, strftime(ts, '%Y-%m-%d')
        |                            ORDER BY epoch_ms(ts), event_id) AS seq_in_window
        |  FROM events) t WHERE seq_in_window <= 5""".stripMargin),
    Entry("ev_last_n", (s, d) => EventOps.lastN(s, d), notTimed,
      """SELECT event_id, epoch_ms(ts) AS ts_ms, user_id, event_type, value
        |FROM events ORDER BY epoch_ms(ts) DESC, event_id DESC LIMIT 50""".stripMargin),
    Entry("ev_last_n_lex", (s, d) => EventOps.lastNLex(s, d), notTimed,
      // byte-faithful replay ordering of websocket_server.py:55 (Redis keys
      // sorted as strings): "9" > "100"
      """SELECT event_id, CAST(event_id AS VARCHAR) AS id_str, epoch_ms(ts) AS ts_ms,
        |  user_id, event_type, value
        |FROM events ORDER BY id_str DESC LIMIT 50""".stripMargin),
    Entry("ev_counts_by_type", (s, d) => EventOps.countsByType(s, d), notTimed,
      s"""SELECT event_type, count(*) AS n_events, count(DISTINCT user_id) AS n_users,
         |  ${dsum("value")} AS sum_value, ${dsum("value")} / count(*) AS avg_value,
         |  min(value) AS min_value, max(value) AS max_value
         |FROM events GROUP BY event_type""".stripMargin),
    // A44: ORC interchange roundtrip — events written to ORC and read back
    // must aggregate identically to the parquet original (long, string,
    // double, and timestamp columns all cross the ORC writer+reader)
    Entry("ev_orc_roundtrip", (s, d) => {
      import org.apache.spark.sql.functions._
      val tmp = java.nio.file.Files.createTempDirectory("graft-orc")
      try {
        graft.Tables.events(s, d).write.mode("overwrite").orc(s"$tmp/events.orc")
        s.read.orc(s"$tmp/events.orc")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            countDistinct(col("user_id")).as("n_users"),
            graft.functions.Cols.dsum(col("value")).as("sum_value"),
            graft.functions.Cols.tsMs(max(col("ts"))).as("max_ts_ms"))
          .localCheckpoint(true)
      } finally {
        import scala.reflect.io.Directory
        new Directory(tmp.toFile).deleteRecursively()
      }
    }, timed,
      s"""SELECT event_type, count(*) AS n_events, count(DISTINCT user_id) AS n_users,
         |  ${dsum("value")} AS sum_value, epoch_ms(max(ts)) AS max_ts_ms
         |FROM events GROUP BY event_type""".stripMargin),
    Entry("ev_throughput", (s, d) => EventOps.throughput(s, d), notTimed,
      s"""SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n_events,
         |  count(DISTINCT user_id) AS n_users, ${dsum("value")} AS sum_value
         |FROM events GROUP BY 1""".stripMargin),
    // A45 hysteresis burst detection (exact order-statistic thresholds)
    Entry("ev_bursts", (s, d) => EventOps.bursts(s, d), timed,
      // A45: thresholds are exact per-type order statistics (longs), the
      // hysteresis state is a running last-definite-marker, episodes break
      // at cold windows or window gaps and must contain a hot window
      """WITH e AS (SELECT event_type, epoch_ms(ts) // 3600000 AS win FROM events),
        |wc AS (SELECT event_type, win, count(*) AS n FROM e GROUP BY 1, 2),
        |st AS (SELECT event_type, win, n,
        |         count(*) OVER (PARTITION BY event_type) AS cnt,
        |         row_number() OVER (PARTITION BY event_type ORDER BY n, win) AS rnk
        |       FROM wc),
        |hi AS (SELECT event_type, n AS hi FROM st
        |       WHERE rnk = CAST(ceil(cnt * 0.95) AS BIGINT)),
        |lo AS (SELECT event_type, n AS lo FROM st
        |       WHERE rnk = CAST(ceil(cnt * 0.75) AS BIGINT)),
        |mk AS (SELECT wc.event_type, wc.win, wc.n,
        |         CASE WHEN wc.n >= hi.hi THEN 1
        |              WHEN wc.n < lo.lo THEN 0 END AS marker
        |       FROM wc JOIN hi USING (event_type) JOIN lo USING (event_type)),
        |stt AS (SELECT *, coalesce(last_value(marker IGNORE NULLS) OVER (
        |          PARTITION BY event_type ORDER BY win
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS state
        |        FROM mk),
        |b AS (SELECT * FROM stt WHERE state = 1),
        |nb AS (SELECT *, CASE WHEN lag(win) OVER (PARTITION BY event_type ORDER BY win) IS NULL
        |         OR win != lag(win) OVER (PARTITION BY event_type ORDER BY win) + 1
        |         THEN 1 ELSE 0 END AS is_new FROM b),
        |ib AS (SELECT *, sum(is_new) OVER (PARTITION BY event_type ORDER BY win
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS burst_id
        |       FROM nb)
        |SELECT event_type, CAST(burst_id AS BIGINT) AS burst_id,
        |  min(win) * 3600000 AS start_ms, (max(win) + 1) * 3600000 AS end_ms,
        |  count(*) AS n_windows, max(n) AS peak, CAST(sum(n) AS BIGINT) AS total
        |FROM ib GROUP BY 1, 2 HAVING max(marker) = 1""".stripMargin),
    // A46 sliding-window distinct via HLL sketch unions (rows-only:
    // DuckDB's approx_distinct is a different sketch)
    Entry("ev_hll_sliding", (s, d) => Sketches.hllSliding(s, d), timed),
    // A47 seasonality heatmap (hour-of-day x day-of-week shares)
    Entry("ev_hourly_profile", (s, d) => EventOps.hourlyProfile(s, d), timed,
      // A47: Spark dayofweek is 1=Sunday..7; DuckDB's is 0=Sunday..6 — +1
      // aligns them. Shares are exact-long IEEE divisions, no rounding.
      """SELECT event_type, dayofweek(ts) + 1 AS dow, hour(ts) AS hod,
        |  count(*) AS n,
        |  CAST(count(*) AS DOUBLE) /
        |    CAST(sum(count(*)) OVER (PARTITION BY event_type) AS DOUBLE) AS share
        |FROM events GROUP BY 1, 2, 3""".stripMargin),
    // A48 exact DAU / trailing-7-day stickiness (the exact twin of A46)
    Entry("ev_stickiness", (s, d) => EventOps.stickiness(s, d), timed,
      // A48: the 7-way fan-out mirrors the Spark shape exactly; stickiness
      // is one DOUBLE/BIGINT division of exact longs. Inner join keeps only
      // corpus days (fan-out manufactures window-ends past the last day).
      """WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |fan AS (SELECT DISTINCT ud.day + CAST(g.i AS INTEGER) AS day, ud.user_id
        |        FROM ud, generate_series(0, 6) AS g(i)),
        |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1),
        |wau AS (SELECT day, count(*) AS wau FROM fan GROUP BY 1)
        |SELECT dau.day, dau.dau, wau.wau,
        |  CAST(dau.dau AS DOUBLE) / wau.wau AS stickiness
        |FROM dau JOIN wau USING (day)""".stripMargin),
    // A49 robust MAD anomaly alerts (rank-median center and spread)
    Entry("ev_mad_alert", (s, d) => EventOps.madAlert(s, d), timed,
      // A49: med and MAD are rank-selected order statistics (value at
      // ascending rank ceil(n/2), event_id tie-break — the ev_quantiles_exact
      // discipline), so both engines pick identical doubles and the 3*MAD
      // fence is pure IEEE arithmetic on them.
      """WITH med AS (
        |  SELECT event_type, max(CASE WHEN rn = CAST(ceil(n*0.5) AS BIGINT) THEN value END) AS med
        |  FROM (SELECT event_type, value, event_id,
        |          row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
        |          count(*) OVER (PARTITION BY event_type) AS n FROM events) t GROUP BY 1),
        |dev AS (SELECT e.event_id, e.user_id, e.event_type, e.value, m.med,
        |          abs(e.value - m.med) AS absdev
        |        FROM events e JOIN med m USING (event_type)),
        |mad AS (
        |  SELECT event_type, max(CASE WHEN rn = CAST(ceil(n*0.5) AS BIGINT) THEN absdev END) AS mad
        |  FROM (SELECT event_type, absdev, event_id,
        |          row_number() OVER (PARTITION BY event_type ORDER BY absdev, event_id) AS rn,
        |          count(*) OVER (PARTITION BY event_type) AS n FROM dev) t GROUP BY 1)
        |SELECT d.event_id, d.user_id, d.event_type, d.value, d.med, mad.mad AS mad
        |FROM dev d JOIN mad USING (event_type)
        |WHERE d.absdev > 3.0 * mad.mad""".stripMargin),
    // A50 Holt linear-trend volume forecast per type
    Entry("ev_forecast", (s, d) => EventOps.forecast(s, d), timed,
      // A50: the recursive CTE executes the identical IEEE op sequence as
      // the Spark fold (alpha=beta=0.5 exact binary fractions; the l_t
      // expression is duplicated inside b_t in BOTH engines), so level,
      // trend and the projections are hash-exact with no tolerance.
      """WITH RECURSIVE daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS y
        |  FROM events GROUP BY 1, 2),
        |seq AS (
        |  SELECT event_type, day, CAST(y AS DOUBLE) AS y,
        |         row_number() OVER (PARTITION BY event_type ORDER BY day) AS t,
        |         count(*) OVER (PARTITION BY event_type) AS n,
        |         max(day) OVER (PARTITION BY event_type) AS last_day
        |  FROM daily),
        |hw AS (
        |  SELECT s1.event_type, 2 AS t, s1.n, s1.last_day,
        |         s1.y AS l, s2.y - s1.y AS b
        |  FROM seq s1 JOIN seq s2 ON s1.event_type = s2.event_type
        |    AND s1.t = 1 AND s2.t = 2
        |  UNION ALL
        |  SELECT hw.event_type, hw.t + 1, hw.n, hw.last_day,
        |         0.5 * s.y + 0.5 * (hw.l + hw.b) AS l,
        |         0.5 * ((0.5 * s.y + 0.5 * (hw.l + hw.b)) - hw.l) + 0.5 * hw.b AS b
        |  FROM hw JOIN seq s ON s.event_type = hw.event_type AND s.t = hw.t + 1)
        |SELECT event_type, n AS n_days, last_day, l AS level, b AS trend,
        |       l + b AS forecast_1, l + 7.0 * b AS forecast_7
        |FROM hw WHERE t = n""".stripMargin),
    // A57 CUSUM level-shift changepoints over daily counts (all-integer)
    Entry("ev_cusum", (s, d) => EventOps.cusum(s, d), timed,
      // A57: every quantity is an exact long (median/MAD daily counts, the
      // two one-sided running sums, the 4*MAD fence) — the recursive CTE and
      // the Spark fold agree bit-for-bit with no IEEE arithmetic anywhere.
      // The base case (t=1) is the zero-state fold step spelled out.
      """WITH RECURSIVE daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS y
        |  FROM events GROUP BY 1, 2),
        |seq AS (
        |  SELECT event_type, day, y,
        |         row_number() OVER (PARTITION BY event_type ORDER BY day) AS t
        |  FROM daily),
        |med AS (
        |  SELECT event_type, max(CASE WHEN rn = CAST(ceil(n*0.5) AS BIGINT) THEN y END) AS med
        |  FROM (SELECT event_type, y,
        |          row_number() OVER (PARTITION BY event_type ORDER BY y, day) AS rn,
        |          count(*) OVER (PARTITION BY event_type) AS n FROM daily) t GROUP BY 1),
        |mad AS (
        |  SELECT event_type, greatest(1, max(CASE WHEN rn = CAST(ceil(n*0.5) AS BIGINT) THEN absdev END)) AS k
        |  FROM (SELECT d.event_type, abs(d.y - m.med) AS absdev,
        |          row_number() OVER (PARTITION BY d.event_type ORDER BY abs(d.y - m.med), d.day) AS rn,
        |          count(*) OVER (PARTITION BY d.event_type) AS n
        |        FROM daily d JOIN med m USING (event_type)) t GROUP BY 1),
        |par AS (SELECT m.event_type, m.med, d.k, 4 * d.k AS h
        |        FROM med m JOIN mad d USING (event_type)),
        |cu AS (
        |  SELECT s.event_type, s.t, s.day, s.y,
        |         greatest(0, s.y - p.med - p.k) AS sp_raw,
        |         greatest(0, p.med - p.k - s.y) AS sn_raw,
        |         CASE WHEN greatest(0, s.y - p.med - p.k) > p.h THEN 0
        |              ELSE greatest(0, s.y - p.med - p.k) END AS sp,
        |         CASE WHEN greatest(0, p.med - p.k - s.y) > p.h THEN 0
        |              ELSE greatest(0, p.med - p.k - s.y) END AS sn,
        |         p.med, p.k, p.h
        |  FROM seq s JOIN par p USING (event_type) WHERE s.t = 1
        |  UNION ALL
        |  SELECT s.event_type, s.t, s.day, s.y,
        |         greatest(0, cu.sp + (s.y - cu.med - cu.k)) AS sp_raw,
        |         greatest(0, cu.sn + (cu.med - cu.k - s.y)) AS sn_raw,
        |         CASE WHEN greatest(0, cu.sp + (s.y - cu.med - cu.k)) > cu.h THEN 0
        |              ELSE greatest(0, cu.sp + (s.y - cu.med - cu.k)) END AS sp,
        |         CASE WHEN greatest(0, cu.sn + (cu.med - cu.k - s.y)) > cu.h THEN 0
        |              ELSE greatest(0, cu.sn + (cu.med - cu.k - s.y)) END AS sn,
        |         cu.med, cu.k, cu.h
        |  FROM cu JOIN seq s ON s.event_type = cu.event_type AND s.t = cu.t + 1)
        |SELECT event_type, day, y, sp_raw AS s_pos, sn_raw AS s_neg,
        |       sp_raw > h AS alarm_up, sn_raw > h AS alarm_down
        |FROM cu""".stripMargin),
    // A58 last-touch conversion attribution by channel (+ direct bucket)
    Entry("ev_attribution", (s, d) => EventOps.attributionLastTouch(s, d), timed,
      // A58: the correlated LIMIT-1 subquery mirrors the running-last pick
      // (ts DESC, event_id DESC = the window's largest same-ms id); channel
      // sums are per-term DECIMAL(18,9) — order-independent exact.
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, value, epoch_ms(ts) AS ts_ms
        |  FROM events WHERE event_type IN ('purchase','click','view')),
        |conv AS (SELECT * FROM ev WHERE event_type = 'purchase'),
        |touch AS (SELECT * FROM ev WHERE event_type <> 'purchase'),
        |pick AS (
        |  SELECT c.event_id, c.value,
        |    (SELECT t.event_type FROM touch t WHERE t.user_id = c.user_id
        |       AND t.ts_ms <= c.ts_ms AND c.ts_ms - t.ts_ms <= 86400000
        |     ORDER BY t.ts_ms DESC, t.event_id DESC LIMIT 1) AS ch
        |  FROM conv c)
        |SELECT coalesce(ch, 'direct') AS channel, count(*) AS n_conv,
        |  CAST(sum(CAST(value AS DECIMAL(18,9))) AS DOUBLE) AS attr_value
        |FROM pick GROUP BY 1""".stripMargin),
    // A58b linear multi-touch attribution (equal split over in-window touches)
    Entry("ev_attribution_linear", (s, d) => EventOps.attributionLinear(s, d), timed,
      // A58b: the join enumerates exactly the pairs the two range frames
      // see (t in [c-T, c] <=> c in [t, t+T]); each credit term is the same
      // IEEE division quantized to DECIMAL(18,9), so the exact sums agree.
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, value, epoch_ms(ts) AS ts_ms
        |  FROM events WHERE event_type IN ('purchase','click','view')),
        |conv AS (SELECT * FROM ev WHERE event_type = 'purchase'),
        |touch AS (SELECT * FROM ev WHERE event_type <> 'purchase'),
        |nconv AS (
        |  SELECT c.user_id, c.ts_ms, c.value,
        |    (SELECT count(*) FROM touch t WHERE t.user_id = c.user_id
        |       AND t.ts_ms >= c.ts_ms - 86400000 AND t.ts_ms <= c.ts_ms) AS n
        |  FROM conv c),
        |cr AS (
        |  SELECT t.event_type AS channel, t.event_id AS tid,
        |         CAST(c.value / c.n AS DECIMAL(18,9)) AS credit
        |  FROM touch t JOIN nconv c ON c.user_id = t.user_id
        |    AND c.ts_ms >= t.ts_ms AND c.ts_ms - t.ts_ms <= 86400000)
        |SELECT channel, count(DISTINCT tid) AS n_credited,
        |  CAST(sum(credit) AS DOUBLE) AS attr_value
        |FROM cr GROUP BY 1""".stripMargin),
    // A59 SCD Type-2 versioned dimension from the signup change log
    Entry("ev_scd2", (s, d) => EventOps.scd2Build(s, d), notTimed,
      // A59: half-open validity intervals partition each user's timeline;
      // same-ms double-writes collapse to the largest event_id first.
      """WITH v AS (
        |  SELECT user_id, epoch_ms(ts) AS from_ms,
        |         max_by(value, event_id) AS dim_value
        |  FROM events WHERE event_type = 'signup' GROUP BY 1, 2)
        |SELECT user_id,
        |  row_number() OVER (PARTITION BY user_id ORDER BY from_ms) AS version_n,
        |  from_ms AS effective_from_ms,
        |  lead(from_ms) OVER (PARTITION BY user_id ORDER BY from_ms) AS effective_to_ms,
        |  dim_value
        |FROM v""".stripMargin),
    // A59b point-in-time enrichment (as-of union, never an interval join)
    Entry("ev_scd2_join", (s, d) => EventOps.scd2Join(s, d), timed,
      // A59b: the LEFT JOIN finds the unique interval containing each
      // purchase ts (intervals partition the timeline, so at most one row
      // matches) — semantically identical to the running-last pick.
      """WITH v AS (
        |  SELECT user_id, epoch_ms(ts) AS from_ms,
        |         max_by(value, event_id) AS dim_value
        |  FROM events WHERE event_type = 'signup' GROUP BY 1, 2),
        |scd AS (
        |  SELECT user_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY from_ms) AS version_n,
        |    from_ms,
        |    lead(from_ms) OVER (PARTITION BY user_id ORDER BY from_ms) AS to_ms,
        |    dim_value
        |  FROM v)
        |SELECT p.event_id, p.user_id, epoch_ms(p.ts) AS ts_ms, p.value,
        |       s.dim_value, s.version_n
        |FROM events p LEFT JOIN scd s ON s.user_id = p.user_id
        |  AND s.from_ms <= epoch_ms(p.ts)
        |  AND (s.to_ms IS NULL OR epoch_ms(p.ts) < s.to_ms)
        |WHERE p.event_type = 'purchase'""".stripMargin),
    // A60 RFM segmentation: exact quintile scores via two-level global rank
    Entry("ev_rfm", (s, d) => EventOps.rfm(s, d), timed,
      // A60: the naive global row_number reproduces the grouped two-level
      // rank (g_id = user_id div bucket is monotone in user_id, so group
      // order IS (metric, user_id) order); scores are all-integer.
      """WITH u AS (
        |  SELECT user_id, max(epoch_ms(ts)) AS last_ms, count(*) AS frequency,
        |    coalesce(sum(CASE WHEN event_type = 'purchase'
        |                      THEN CAST(value AS DECIMAL(18,9)) END),
        |             CAST(0 AS DECIMAL(18,9))) AS mon
        |  FROM events GROUP BY 1),
        |r AS (
        |  SELECT u.*,
        |    row_number() OVER (ORDER BY last_ms, user_id) AS r_rank,
        |    row_number() OVER (ORDER BY frequency, user_id) AS f_rank,
        |    row_number() OVER (ORDER BY mon, user_id) AS m_rank,
        |    count(*) OVER () AS n_users,
        |    max(last_ms) OVER () AS anchor_ms
        |  FROM u)
        |SELECT user_id, (anchor_ms - last_ms) // 86400000 AS recency_days,
        |  frequency, CAST(mon AS DOUBLE) AS monetary,
        |  1 + (5 * (r_rank - 1)) // n_users AS r_score,
        |  1 + (5 * (f_rank - 1)) // n_users AS f_score,
        |  1 + (5 * (m_rank - 1)) // n_users AS m_score,
        |  (1 + (5 * (r_rank - 1)) // n_users) * 100
        |    + (1 + (5 * (f_rank - 1)) // n_users) * 10
        |    + (1 + (5 * (m_rank - 1)) // n_users) AS rfm_cell
        |FROM r""".stripMargin),
    // A61 Kaplan-Meier churn survival over whole-day user lifetimes
    Entry("ev_survival", (s, d) => EventOps.survival(s, d), timed,
      // A61: the recursive CTE walks durations ascending computing the same
      // (rem, surv) state as the Spark fold — each step one IEEE divide and
      // one multiply of identical doubles, so survival is hash-exact.
      """WITH RECURSIVE u AS (
        |  SELECT user_id, min(epoch_ms(ts)) // 86400000 AS fd,
        |         max(epoch_ms(ts)) // 86400000 AS ld
        |  FROM events GROUP BY 1),
        |mx AS (SELECT max(ld) AS max_day, count(*) AS n_users FROM u),
        |g AS (
        |  SELECT ld - fd AS t, count(*) AS m,
        |         count(*) FILTER (WHERE ld < max_day) AS d
        |  FROM u, mx GROUP BY 1),
        |seq AS (SELECT t, m, d, row_number() OVER (ORDER BY t) AS rn FROM g),
        |km AS (
        |  SELECT s.rn, s.t, n_users AS n_risk, s.d, s.m,
        |         n_users - s.m AS rem,
        |         CAST(1.0 AS DOUBLE) * (CAST(1.0 AS DOUBLE)
        |           - CAST(s.d AS DOUBLE) / CAST(n_users AS DOUBLE)) AS surv
        |  FROM seq s, mx WHERE s.rn = 1
        |  UNION ALL
        |  SELECT s.rn, s.t, km.rem AS n_risk, s.d, s.m,
        |         km.rem - s.m AS rem,
        |         km.surv * (CAST(1.0 AS DOUBLE)
        |           - CAST(s.d AS DOUBLE) / CAST(km.rem AS DOUBLE)) AS surv
        |  FROM km JOIN seq s ON s.rn = km.rn + 1)
        |SELECT t AS duration_days, n_risk, d AS n_events,
        |       m - d AS n_censored, surv AS survival
        |FROM km""".stripMargin),
    // A62 hash-assigned A/B (A/A) experiment + two-proportion z readout
    Entry("ev_experiment", (s, d) => EventOps.experiment(s, d), timed,
      // A62: the CTE computes the identical IEEE sequence (rates, pooled p,
      // pooled SE, z) from the same exact 2x2 counts; md5 of "exp1:<id>"
      // hashes the same UTF-8 bytes in both engines.
      """WITH u AS (
        |  SELECT user_id,
        |    CASE WHEN count(*) FILTER (WHERE event_type = 'purchase') >= 14
        |         THEN 1 ELSE 0 END AS conv,
        |    CASE WHEN substring(md5('exp1:' || CAST(user_id AS VARCHAR)), 1, 2)
        |           < '80' THEN 'A' ELSE 'B' END AS variant
        |  FROM events GROUP BY user_id),
        |cells AS (
        |  SELECT count(*) FILTER (WHERE variant = 'A') AS n_a,
        |    count(*) FILTER (WHERE variant = 'A' AND conv = 1) AS conv_a,
        |    count(*) FILTER (WHERE variant = 'B') AS n_b,
        |    count(*) FILTER (WHERE variant = 'B' AND conv = 1) AS conv_b
        |  FROM u),
        |d AS (
        |  SELECT *, CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS rate_a,
        |    CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS rate_b,
        |    CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS p
        |  FROM cells),
        |s AS (
        |  SELECT *, sqrt(p * (CAST(1.0 AS DOUBLE) - p)
        |    * (CAST(1.0 AS DOUBLE) / CAST(n_a AS DOUBLE)
        |       + CAST(1.0 AS DOUBLE) / CAST(n_b AS DOUBLE))) AS se
        |  FROM d)
        |SELECT n_a, conv_a, n_b, conv_b, rate_a, rate_b,
        |  rate_b - rate_a AS lift, (rate_b - rate_a) / se AS z_stat,
        |  abs((rate_b - rate_a) / se) > CAST(1.96 AS DOUBLE) AS significant
        |FROM s WHERE n_a > 0 AND n_b > 0""".stripMargin),
    // A85 CUPED variance-reduced readout (pre-period covariate adjustment)
    Entry("ev_cuped", (s, d) => EventOps.cuped(s, d), timed,
      // A85: per-event DECIMAL(18,9) value quantization before the per-user
      // sums; per-user cross terms quantized DECIMAL(28,6); one fixed IEEE
      // tree over the exact sums for every statistic (mirrors the Spark side
      // term for term)
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ts_ms, value FROM events),
        |m AS (SELECT CAST(floor(CAST(min(ts_ms) + max(ts_ms) AS DOUBLE) / 2.0)
        |        AS BIGINT) AS mid FROM e),
        |u AS (SELECT user_id,
        |        sum(CASE WHEN ts_ms < mid THEN CAST(value AS DECIMAL(18,9))
        |            ELSE CAST(0 AS DECIMAL(18,9)) END) AS x,
        |        sum(CASE WHEN ts_ms >= mid THEN CAST(value AS DECIMAL(18,9))
        |            ELSE CAST(0 AS DECIMAL(18,9)) END) AS y
        |      FROM e, m GROUP BY user_id),
        |u2 AS (SELECT user_id, x, y,
        |        CAST(x AS DOUBLE) AS xd, CAST(y AS DOUBLE) AS yd,
        |        CASE WHEN substring(md5('exp1:' || CAST(user_id AS VARCHAR)), 1, 2)
        |          < '80' THEN 'A' ELSE 'B' END AS variant
        |       FROM u),
        |s AS (SELECT count(*) AS n,
        |        count(*) FILTER (WHERE variant = 'A') AS n_a,
        |        count(*) FILTER (WHERE variant = 'B') AS n_b,
        |        sum(x) AS sx, sum(y) AS sy,
        |        sum(CASE WHEN variant = 'A' THEN x ELSE CAST(0 AS DECIMAL(18,9)) END) AS sxa,
        |        sum(CASE WHEN variant = 'A' THEN y ELSE CAST(0 AS DECIMAL(18,9)) END) AS sya,
        |        sum(CASE WHEN variant = 'B' THEN x ELSE CAST(0 AS DECIMAL(18,9)) END) AS sxb,
        |        sum(CASE WHEN variant = 'B' THEN y ELSE CAST(0 AS DECIMAL(18,9)) END) AS syb,
        |        sum(CAST(xd * xd AS DECIMAL(28,6))) AS sxx,
        |        sum(CAST(xd * yd AS DECIMAL(28,6))) AS sxy,
        |        sum(CAST(yd * yd AS DECIMAL(28,6))) AS syy
        |      FROM u2),
        |d AS (SELECT *, CAST(n AS DOUBLE) AS nd,
        |        CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_x,
        |        CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS mean_y
        |      FROM s WHERE n_a > 0 AND n_b > 0),
        |v AS (SELECT *,
        |        CAST(sxx AS DOUBLE) / nd - mean_x * mean_x AS var_x,
        |        CAST(syy AS DOUBLE) / nd - mean_y * mean_y AS var_y,
        |        CAST(sxy AS DOUBLE) / nd - mean_x * mean_y AS cov_xy,
        |        CAST(sxa AS DOUBLE) / CAST(n_a AS DOUBLE) AS mean_x_a,
        |        CAST(sxb AS DOUBLE) / CAST(n_b AS DOUBLE) AS mean_x_b,
        |        CAST(sya AS DOUBLE) / CAST(n_a AS DOUBLE) AS mean_y_a,
        |        CAST(syb AS DOUBLE) / CAST(n_b AS DOUBLE) AS mean_y_b
        |      FROM d),
        |t AS (SELECT *,
        |        CASE WHEN var_x <> 0 THEN cov_xy / var_x END AS theta
        |      FROM v)
        |SELECT n_a, n_b,
        |  round(mean_y_a, 6) AS mean_y_a, round(mean_y_b, 6) AS mean_y_b,
        |  round(mean_y_b - mean_y_a, 6) AS lift_raw,
        |  round(theta, 6) AS theta,
        |  round((mean_y_b - theta * (mean_x_b - mean_x))
        |    - (mean_y_a - theta * (mean_x_a - mean_x)), 6) AS lift_cuped,
        |  round(CASE WHEN var_x * var_y <> 0
        |        THEN cov_xy * cov_xy / (var_x * var_y) END, 6) AS var_reduction
        |FROM t""".stripMargin),
    // A87 experiment power: MDE + n-per-arm at the α=.05 / 80% point
    Entry("ev_power", (s, d) => EventOps.power(s, d), timed,
      // A87: exact 2x2 counts -> one fixed IEEE tree (sqrt correctly
      // rounded); z constants literal; ceil exact on the double then BIGINT
      """WITH u AS (
        |  SELECT user_id,
        |    CASE WHEN count(*) FILTER (WHERE event_type = 'purchase') >= 14
        |         THEN 1 ELSE 0 END AS conv,
        |    CASE WHEN substring(md5('exp1:' || CAST(user_id AS VARCHAR)), 1, 2)
        |           < '80' THEN 'A' ELSE 'B' END AS variant
        |  FROM events GROUP BY user_id),
        |cells AS (
        |  SELECT count(*) FILTER (WHERE variant = 'A') AS n_a,
        |    count(*) FILTER (WHERE variant = 'B') AS n_b,
        |    count(*) FILTER (WHERE conv = 1) AS n_conv
        |  FROM u),
        |d AS (
        |  SELECT *, CAST(n_conv AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS p,
        |    1.959963984540054 + 0.8416212335729143 AS zsum
        |  FROM cells WHERE n_a > 0 AND n_b > 0),
        |m AS (
        |  SELECT *, zsum * sqrt(p * (CAST(1.0 AS DOUBLE) - p)
        |      * (CAST(1.0 AS DOUBLE) / CAST(n_a AS DOUBLE)
        |         + CAST(1.0 AS DOUBLE) / CAST(n_b AS DOUBLE))) AS mde_abs
        |  FROM d)
        |SELECT n_a, n_b, n_conv, round(p, 6) AS p,
        |  round(mde_abs, 6) AS mde_abs,
        |  round(CASE WHEN p <> 0 THEN mde_abs / p END, 6) AS mde_rel,
        |  CASE WHEN p <> 0 AND p <> 1 THEN
        |    CAST(ceil(2.0 * zsum * zsum * p * (CAST(1.0 AS DOUBLE) - p)
        |      / ((0.05 * p) * (0.05 * p))) AS BIGINT) END AS n_per_arm
        |FROM m""".stripMargin),
    // A86 binary-segmentation changepoints over the daily count series
    // (driver solve on the ≤types×horizon summary — rows-only, spec-gated)
    Entry("ev_changepoint", (s, d) => EventOps.changepoints(s, d), timed),
    // A88 mixture-SPRT always-valid sequential readout (peeking-safe)
    Entry("ev_msprt", (s, d) => EventOps.msprt(s, d), timed,
      // A88: exact cumulative 2x2 cells per enrollment day; ln Λ is one
      // fixed IEEE tree over them quantized DECIMAL(18,9), so the running
      // max and the ln(20) threshold compare are exact; 6-dp decimal-first
      // rounds. The τ²=1e-4 mixture constant casts from the same literal.
      """WITH u AS (
        |  SELECT user_id, min(epoch_ms(ts) // 86400000) AS day_idx,
        |    CASE WHEN count(*) FILTER (WHERE event_type = 'purchase') >= 14
        |         THEN 1 ELSE 0 END AS conv,
        |    CASE WHEN substring(md5('exp1:' || CAST(user_id AS VARCHAR)), 1, 2)
        |           < '80' THEN 'A' ELSE 'B' END AS variant
        |  FROM events GROUP BY user_id),
        |d AS (
        |  SELECT day_idx,
        |    count(*) FILTER (WHERE variant = 'A') AS e_a,
        |    count(*) FILTER (WHERE variant = 'A' AND conv = 1) AS x_a,
        |    count(*) FILTER (WHERE variant = 'B') AS e_b,
        |    count(*) FILTER (WHERE variant = 'B' AND conv = 1) AS x_b
        |  FROM u GROUP BY 1),
        |c AS (
        |  SELECT day_idx,
        |    CAST(sum(e_a) OVER w AS BIGINT) AS n_a,
        |    CAST(sum(e_b) OVER w AS BIGINT) AS n_b,
        |    CAST(sum(x_a) OVER w AS BIGINT) AS conv_a,
        |    CAST(sum(x_b) OVER w AS BIGINT) AS conv_b
        |  FROM d WINDOW w AS (ORDER BY day_idx ROWS UNBOUNDED PRECEDING)),
        |e AS (
        |  SELECT *,
        |    CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS p,
        |    CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)
        |      - CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS delta
        |  FROM c WHERE n_a > 0 AND n_b > 0),
        |f AS (
        |  SELECT *, p * (CAST(1.0 AS DOUBLE) - p)
        |    * (CAST(1.0 AS DOUBLE) / CAST(n_a AS DOUBLE)
        |       + CAST(1.0 AS DOUBLE) / CAST(n_b AS DOUBLE)) AS v
        |  FROM e),
        |g AS (
        |  SELECT *, CASE WHEN v > CAST(0.0 AS DOUBLE) THEN
        |    CAST(CAST(0.5 AS DOUBLE) * (ln(v) - ln(v + CAST(0.0001 AS DOUBLE)))
        |      + delta * delta * CAST(0.0001 AS DOUBLE)
        |        / (CAST(2.0 AS DOUBLE) * v * (v + CAST(0.0001 AS DOUBLE)))
        |     AS DECIMAL(18,9))
        |    ELSE CAST(0 AS DECIMAL(18,9)) END AS ln_lambda
        |  FROM f),
        |h AS (
        |  SELECT *, max(ln_lambda) OVER
        |    (ORDER BY day_idx ROWS UNBOUNDED PRECEDING) AS mx
        |  FROM g)
        |SELECT day_idx, n_a, n_b, conv_a, conv_b,
        |  CAST(round(ln_lambda, 6) AS DOUBLE) AS ln_lambda,
        |  CAST(round(mx, 6) AS DOUBLE) AS max_ln_lambda,
        |  CAST(mx AS DOUBLE) > ln(CAST(20.0 AS DOUBLE)) AS rejected
        |FROM h""".stripMargin),
    // A80g: bitmap-store USER TAKEDOWN — forget every user_id % 7 == 3,
    // then serve the full span; the masked exact counts must equal the
    // filtered DISTINCT oracle (id lists are request-sized by nature)
    Entry("ev_bitmap_forget", (s, d) => {
      import org.apache.spark.sql.functions._
      val ev = graft.Tables.events(s, d)
      val store = java.nio.file.Files
        .createTempDirectory("graft-bmforget").toString
      try {
        graft.operators.BitmapOps.bitmapStoreWrite(ev, store, 0L)
        val ids = ev.select(col("user_id")).distinct()
          .filter(col("user_id") % 7 === 3)
          .collect().map(_.getLong(0)).toSeq
        graft.operators.BitmapOps.bitmapStoreForget(s, store, ids)
        val b = ev.agg(
          expr("min(unix_millis(cast(ts as timestamp_ltz))) div 86400000").as("d0"),
          expr("max(unix_millis(cast(ts as timestamp_ltz))) div 86400000").as("d1"))
          .head()
        val (d0, d1) = if (b.isNullAt(0)) (0L, 0L)
          else (b.getAs[Long]("d0"), b.getAs[Long]("d1"))
        graft.operators.BitmapOps.bitmapStoreServe(s, store, d0, d1)
          .localCheckpoint(true)
      } finally {
        import scala.reflect.io.Directory
        new Directory(new java.io.File(store)).deleteRecursively()
      }
    },
      storeServed((s, d) => {
        import org.apache.spark.sql.functions.expr
        val ev = graft.Tables.events(s, d)
        val base = cachedStore(s"bmf:$d", tmp =>
          graft.operators.BitmapOps.bitmapStoreWrite(ev, tmp, 0L))
        // the takedown id list and the serve range are INPUTS of the op
        // (a deployment receives them with the request) — derived from the
        // events table once per dataset, not re-proved every rep
        val ids = idsCache.getOrElseUpdate(s"bmf:$d",
          ev.select(col("user_id")).distinct()
            .filter(col("user_id") % 7 === 3)
            .collect().map(_.getLong(0)).toSeq)
        val (d0, d1) = rangeCache.getOrElseUpdate(s"bmf:$d", {
          val b = ev.agg(
            expr("min(unix_millis(cast(ts as timestamp_ltz))) div 86400000").as("d0"),
            expr("max(unix_millis(cast(ts as timestamp_ltz))) div 86400000").as("d1"))
            .head()
          if (b.isNullAt(0)) (0L, 0L)
          else (b.getAs[Long]("d0"), b.getAs[Long]("d1"))
        })
        val work = Files.createTempDirectory("graft-bench-bmfwork").toString
        copyDir(base, work)
        try {
          graft.operators.BitmapOps.bitmapStoreForget(s, work, ids)
          graft.operators.BitmapOps.bitmapStoreServe(s, work, d0, d1)
            .localCheckpoint(true)
        } finally deleteDir(work)
      }),
      // A80g: id-attributable counts masked, anonymous aggregates untouched
      """SELECT event_type,
        |  count(DISTINCT user_id) FILTER (WHERE user_id % 7 != 3) AS n_users,
        |  count(*) AS n_events,
        |  count(DISTINCT epoch_ms(ts) // 86400000) AS n_days
        |FROM events GROUP BY 1""".stripMargin),
    // A90 Holt-Winters additive weekly-seasonal forecast (h = 1..7)
    Entry("ev_hw_forecast", (s, d) => EventOps.hwForecast(s, d), timed,
      """WITH RECURSIVE daily AS (
        |  SELECT event_type, epoch_ms(ts) // 86400000 AS day_idx, count(*) AS y
        |  FROM events GROUP BY 1, 2),
        |rng AS (
        |  SELECT event_type, min(day_idx) AS lo, max(day_idx) AS hi
        |  FROM daily GROUP BY 1 HAVING hi - lo + 1 >= 14),
        |dense0 AS (
        |  SELECT event_type, unnest(generate_series(lo, hi)) AS d,
        |    hi - lo + 1 AS n
        |  FROM rng),
        |dense AS (
        |  SELECT g.event_type, g.d,
        |    row_number() OVER (PARTITION BY g.event_type ORDER BY g.d) AS t,
        |    CAST(coalesce(dl.y, 0) AS DOUBLE) AS y,
        |    CAST(g.n AS BIGINT) AS n
        |  FROM dense0 g
        |  LEFT JOIN daily dl
        |    ON dl.event_type = g.event_type AND dl.day_idx = g.d),
        |mm AS (
        |  SELECT event_type, max(n) AS n,
        |    sum(y) FILTER (WHERE t BETWEEN 1 AND 7) / 7.0 AS m1,
        |    sum(y) FILTER (WHERE t BETWEEN 8 AND 14) / 7.0 AS m2
        |  FROM dense GROUP BY 1),
        |s0 AS (
        |  SELECT d.event_type, list(d.y - mm.m1 ORDER BY d.t) AS s
        |  FROM dense d JOIN mm USING (event_type) WHERE d.t <= 7 GROUP BY 1),
        |hw AS (
        |  SELECT mm.event_type, mm.n, 14 AS t, mm.m1 AS l,
        |    (mm.m2 - mm.m1) / 7.0 AS b, s0.s AS s
        |  FROM mm JOIN s0 USING (event_type)
        |  UNION ALL
        |  SELECT hw.event_type, hw.n, hw.t + 1,
        |    0.5 * (d.y - hw.s[1]) + 0.5 * (hw.l + hw.b),
        |    0.5 * ((0.5 * (d.y - hw.s[1]) + 0.5 * (hw.l + hw.b)) - hw.l)
        |      + 0.5 * hw.b,
        |    hw.s[2:7] || [0.5 * (d.y - (0.5 * (d.y - hw.s[1])
        |      + 0.5 * (hw.l + hw.b))) + 0.5 * hw.s[1]]
        |  FROM hw JOIN dense d
        |    ON d.event_type = hw.event_type AND d.t = hw.t + 1
        |  WHERE hw.t < hw.n)
        |SELECT event_type, n AS n_days, CAST(g.h AS BIGINT) AS h,
        |  l AS level, b AS trend,
        |  l + CAST(g.h AS DOUBLE) * b + s[CAST(g.h AS INT)] AS forecast
        |FROM (SELECT * FROM hw WHERE t = n) f, generate_series(1, 7) g(h)""".stripMargin),
    // A95 classical additive decomposition (trend / weekly seasonal / resid)
    Entry("ev_seasonal_decompose", (s, d) => EventOps.seasonalDecompose(s, d), timed,
      // A90: the recursive CTE carries the 7-slot DOUBLE seasonal list and
      // repeats the l_t expression verbatim inside b_t/s_t exactly as the
      // Spark fold does — identical IEEE association, hash-exact raw doubles
      // A95: same dense fill; centered 7-day window sum is exact integers,
      // the detrended DOW mean keeps the exact integer numerator 7y − s7
      // through the group agg, quantizes DECIMAL(18,9), zero-sum adjusts —
      // every emitted double is then a fixed IEEE tree over equal inputs
      """WITH daily AS (
        |  SELECT event_type, epoch_ms(ts) // 86400000 AS day_idx, count(*) AS y
        |  FROM events GROUP BY 1, 2),
        |rng AS (
        |  SELECT event_type, min(day_idx) AS lo, max(day_idx) AS hi
        |  FROM daily GROUP BY 1 HAVING hi - lo + 1 >= 14),
        |dense AS (
        |  SELECT g.event_type, g.d AS day_idx,
        |    CAST(coalesce(dl.y, 0) AS DOUBLE) AS y
        |  FROM (SELECT event_type, unnest(generate_series(lo, hi)) AS d
        |        FROM rng) g
        |  LEFT JOIN daily dl
        |    ON dl.event_type = g.event_type AND dl.day_idx = g.d),
        |win AS (
        |  SELECT event_type, day_idx, y,
        |    sum(y) OVER (PARTITION BY event_type ORDER BY day_idx
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS s7,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day_idx) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM dense),
        |interior AS (
        |  SELECT event_type, day_idx, y, s7 / 7.0 AS trend,
        |    CAST(7.0 * y - s7 AS BIGINT) AS dnum, day_idx % 7 AS dow
        |  FROM win WHERE rn >= 4 AND rn <= n - 3),
        |seas AS (
        |  SELECT event_type, dow,
        |    CAST(CAST(sum(dnum) AS DOUBLE) / (7.0 * count(*)) AS DECIMAL(18,9))
        |      AS mean_dec
        |  FROM interior GROUP BY 1, 2),
        |adj AS (
        |  SELECT event_type, CAST(sum(mean_dec) AS DOUBLE) / 7.0 AS a
        |  FROM seas GROUP BY 1),
        |sfin AS (
        |  SELECT s.event_type, s.dow,
        |    CAST(s.mean_dec AS DOUBLE) - a.a AS seasonal
        |  FROM seas s JOIN adj a USING (event_type))
        |SELECT i.event_type, i.day_idx, i.y, i.trend, f.seasonal,
        |  i.y - i.trend - f.seasonal AS resid
        |FROM interior i
        |JOIN sfin f ON i.event_type = f.event_type AND i.dow = f.dow"""
        .stripMargin),
    // A95b Hyndman-Wang strength-of-component measures over A95
    Entry("ev_seasonal_strength", (s, d) => EventOps.seasonalStrength(s, d), timed,
      // A95b: the A95 pipeline + quantized component sums; the variance
      // ratio is the same fixed IEEE tree over exact decimals as Spark's
      """WITH daily AS (
        |  SELECT event_type, epoch_ms(ts) // 86400000 AS day_idx, count(*) AS y
        |  FROM events GROUP BY 1, 2),
        |rng AS (
        |  SELECT event_type, min(day_idx) AS lo, max(day_idx) AS hi
        |  FROM daily GROUP BY 1 HAVING hi - lo + 1 >= 14),
        |dense AS (
        |  SELECT g.event_type, g.d AS day_idx,
        |    CAST(coalesce(dl.y, 0) AS DOUBLE) AS y
        |  FROM (SELECT event_type, unnest(generate_series(lo, hi)) AS d
        |        FROM rng) g
        |  LEFT JOIN daily dl
        |    ON dl.event_type = g.event_type AND dl.day_idx = g.d),
        |win AS (
        |  SELECT event_type, day_idx, y,
        |    sum(y) OVER (PARTITION BY event_type ORDER BY day_idx
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS s7,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day_idx) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM dense),
        |interior AS (
        |  SELECT event_type, day_idx, y, s7 / 7.0 AS trend,
        |    CAST(7.0 * y - s7 AS BIGINT) AS dnum, day_idx % 7 AS dow
        |  FROM win WHERE rn >= 4 AND rn <= n - 3),
        |seas AS (
        |  SELECT event_type, dow,
        |    CAST(CAST(sum(dnum) AS DOUBLE) / (7.0 * count(*)) AS DECIMAL(18,9))
        |      AS mean_dec
        |  FROM interior GROUP BY 1, 2),
        |adj AS (
        |  SELECT event_type, CAST(sum(mean_dec) AS DOUBLE) / 7.0 AS a
        |  FROM seas GROUP BY 1),
        |sfin AS (
        |  SELECT s.event_type, s.dow,
        |    CAST(s.mean_dec AS DOUBLE) - a.a AS seasonal
        |  FROM seas s JOIN adj a USING (event_type)),
        |comp AS (
        |  SELECT i.event_type,
        |    CAST(CAST(CAST(i.y - i.trend - f.seasonal AS DECIMAL(18,9))
        |      AS DECIMAL(28,9)) * 1000000000 AS DECIMAL(19,0)) AS r,
        |    CAST(CAST(CAST(f.seasonal + (i.y - i.trend - f.seasonal)
        |      AS DECIMAL(18,9)) AS DECIMAL(28,9)) * 1000000000
        |      AS DECIMAL(19,0)) AS sq,
        |    CAST(CAST(CAST(i.trend + (i.y - i.trend - f.seasonal)
        |      AS DECIMAL(18,9)) AS DECIMAL(28,9)) * 1000000000
        |      AS DECIMAL(19,0)) AS tq
        |  FROM interior i
        |  JOIN sfin f ON i.event_type = f.event_type AND i.dow = f.dow),
        |agg AS (
        |  SELECT event_type, count(*) AS n_interior,
        |    CAST(count(*) AS DECIMAL(10,0)) AS nd,
        |    CAST(sum(r) AS DECIMAL(19,0)) AS sr,
        |    CAST(sum(r * r) AS DECIMAL(28,0)) AS srr,
        |    CAST(sum(sq) AS DECIMAL(19,0)) AS ss,
        |    CAST(sum(sq * sq) AS DECIMAL(28,0)) AS sss,
        |    CAST(sum(tq) AS DECIMAL(19,0)) AS st,
        |    CAST(sum(tq * tq) AS DECIMAL(28,0)) AS stt
        |  FROM comp GROUP BY 1)
        |SELECT event_type, n_interior,
        |  CASE WHEN nd * stt - st * st > 0
        |    THEN greatest(0.0, 1.0 -
        |      CAST(CAST(nd * srr - sr * sr AS VARCHAR) AS DOUBLE)
        |      / CAST(CAST(nd * stt - st * st AS VARCHAR) AS DOUBLE))
        |  END AS trend_strength,
        |  CASE WHEN nd * sss - ss * ss > 0
        |    THEN greatest(0.0, 1.0 -
        |      CAST(CAST(nd * srr - sr * sr AS VARCHAR) AS DOUBLE)
        |      / CAST(CAST(nd * sss - ss * ss AS VARCHAR) AS DOUBLE))
        |  END AS seasonal_strength
        |FROM agg""".stripMargin),
    // A95c seasonally-adjusted robust anomaly days over A95's remainder
    Entry("ev_seasonal_anomaly", (s, d) => EventOps.seasonalAnomalies(s, d), timed,
      // A95c: the A95 pipeline + two exact rank medians ((value, day_idx)
      // order) + the A49 robust flag over identical doubles
      """WITH daily AS (
        |  SELECT event_type, epoch_ms(ts) // 86400000 AS day_idx, count(*) AS y
        |  FROM events GROUP BY 1, 2),
        |rng AS (
        |  SELECT event_type, min(day_idx) AS lo, max(day_idx) AS hi
        |  FROM daily GROUP BY 1 HAVING hi - lo + 1 >= 14),
        |dense AS (
        |  SELECT g.event_type, g.d AS day_idx,
        |    CAST(coalesce(dl.y, 0) AS DOUBLE) AS y
        |  FROM (SELECT event_type, unnest(generate_series(lo, hi)) AS d
        |        FROM rng) g
        |  LEFT JOIN daily dl
        |    ON dl.event_type = g.event_type AND dl.day_idx = g.d),
        |win AS (
        |  SELECT event_type, day_idx, y,
        |    sum(y) OVER (PARTITION BY event_type ORDER BY day_idx
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS s7,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day_idx) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM dense),
        |interior AS (
        |  SELECT event_type, day_idx, y, s7 / 7.0 AS trend,
        |    CAST(7.0 * y - s7 AS BIGINT) AS dnum, day_idx % 7 AS dow
        |  FROM win WHERE rn >= 4 AND rn <= n - 3),
        |seas AS (
        |  SELECT event_type, dow,
        |    CAST(CAST(sum(dnum) AS DOUBLE) / (7.0 * count(*)) AS DECIMAL(18,9))
        |      AS mean_dec
        |  FROM interior GROUP BY 1, 2),
        |adj AS (
        |  SELECT event_type, CAST(sum(mean_dec) AS DOUBLE) / 7.0 AS a
        |  FROM seas GROUP BY 1),
        |sfin AS (
        |  SELECT s.event_type, s.dow,
        |    CAST(s.mean_dec AS DOUBLE) - a.a AS seasonal
        |  FROM seas s JOIN adj a USING (event_type)),
        |compx AS (
        |  SELECT i.event_type, i.day_idx, i.y,
        |    i.y - i.trend - f.seasonal AS resid
        |  FROM interior i
        |  JOIN sfin f ON i.event_type = f.event_type AND i.dow = f.dow),
        |medr AS (
        |  SELECT event_type, resid AS med FROM (
        |    SELECT event_type, resid,
        |      row_number() OVER (PARTITION BY event_type
        |        ORDER BY resid, day_idx) AS rn,
        |      count(*) OVER (PARTITION BY event_type) AS n
        |    FROM compx) t
        |  WHERE rn = CAST(ceil(n * 0.5) AS BIGINT)),
        |wm AS (
        |  SELECT c.event_type, c.day_idx, c.y, c.resid, m.med,
        |    abs(c.resid - m.med) AS absdev
        |  FROM compx c JOIN medr m USING (event_type)),
        |madr AS (
        |  SELECT event_type, absdev AS mad FROM (
        |    SELECT event_type, absdev, day_idx,
        |      row_number() OVER (PARTITION BY event_type
        |        ORDER BY absdev, day_idx) AS rn,
        |      count(*) OVER (PARTITION BY event_type) AS n
        |    FROM wm) t
        |  WHERE rn = CAST(ceil(n * 0.5) AS BIGINT))
        |SELECT w.event_type, w.day_idx, w.y, w.resid, w.med, d.mad
        |FROM wm w JOIN madr d USING (event_type)
        |WHERE w.absdev > 3.0 * d.mad""".stripMargin),
    // A97 Box-Jenkins autocorrelation at lags 1..14 (exact-decimal moments)
    Entry("ev_acf", (s, d) => EventOps.acf(s, d), timed,
      """WITH daily AS (
        |  SELECT event_type, epoch_ms(ts) // 86400000 AS day_idx, count(*) AS y
        |  FROM events GROUP BY 1, 2),
        |rng AS (
        |  SELECT event_type, min(day_idx) AS lo, max(day_idx) AS hi
        |  FROM daily GROUP BY 1 HAVING hi - lo + 1 >= 15),
        |dense AS (
        |  SELECT g.event_type,
        |    row_number() OVER (PARTITION BY g.event_type ORDER BY g.d) AS rn,
        |    CAST(coalesce(dl.y, 0) AS BIGINT) AS y, CAST(g.n AS BIGINT) AS n
        |  FROM (SELECT event_type, unnest(generate_series(lo, hi)) AS d,
        |          hi - lo + 1 AS n FROM rng) g
        |  LEFT JOIN daily dl
        |    ON dl.event_type = g.event_type AND dl.day_idx = g.d),
        |stats AS (
        |  SELECT event_type, max(n) AS n, sum(y) AS s FROM dense GROUP BY 1),
        |devs AS (
        |  SELECT d.event_type, d.rn,
        |    CAST(st.n * d.y - st.s AS DECIMAL(38,0)) AS dv
        |  FROM dense d JOIN stats st USING (event_type)),
        |den AS (
        |  SELECT d.event_type, max(st.n) AS n, sum(d.dv * d.dv) AS den
        |  FROM devs d JOIN stats st USING (event_type) GROUP BY 1),
        |num AS (
        |  SELECT a.event_type, l.lag, sum(a.dv * b.dv) AS num
        |  FROM (SELECT event_type, unnest(generate_series(1, 14)) AS lag
        |        FROM den) l
        |  JOIN devs a ON a.event_type = l.event_type
        |  JOIN devs b ON b.event_type = l.event_type AND b.rn = a.rn + l.lag
        |  GROUP BY 1, 2)
        |SELECT m.event_type, CAST(m.lag AS BIGINT) AS lag, d.n AS n_days,
        |  CASE WHEN d.den > 0
        |    THEN CAST(m.num AS DOUBLE) / CAST(d.den AS DOUBLE) END AS acf
        |FROM num m JOIN den d USING (event_type)""".stripMargin),
    // A97b the correlogram read: Bartlett white-noise bands + verdicts
    Entry("ev_acf_bands", (s, d) => EventOps.acfBands(s, d), timed,
      // A97: exact-integer deviations n·y − S as DECIMAL(38,0); lag products
      // and both sums exact (the n² factors cancel); one IEEE division
      """WITH daily AS (
        |  SELECT event_type, epoch_ms(ts) // 86400000 AS day_idx, count(*) AS y
        |  FROM events GROUP BY 1, 2),
        |rng AS (
        |  SELECT event_type, min(day_idx) AS lo, max(day_idx) AS hi
        |  FROM daily GROUP BY 1 HAVING hi - lo + 1 >= 15),
        |dense AS (
        |  SELECT g.event_type,
        |    row_number() OVER (PARTITION BY g.event_type ORDER BY g.d) AS rn,
        |    CAST(coalesce(dl.y, 0) AS BIGINT) AS y, CAST(g.n AS BIGINT) AS n
        |  FROM (SELECT event_type, unnest(generate_series(lo, hi)) AS d,
        |          hi - lo + 1 AS n FROM rng) g
        |  LEFT JOIN daily dl
        |    ON dl.event_type = g.event_type AND dl.day_idx = g.d),
        |stats AS (
        |  SELECT event_type, max(n) AS n, sum(y) AS s FROM dense GROUP BY 1),
        |devs AS (
        |  SELECT d.event_type, d.rn,
        |    CAST(st.n * d.y - st.s AS DECIMAL(38,0)) AS dv
        |  FROM dense d JOIN stats st USING (event_type)),
        |den AS (
        |  SELECT d.event_type, max(st.n) AS n, sum(d.dv * d.dv) AS den
        |  FROM devs d JOIN stats st USING (event_type) GROUP BY 1),
        |num AS (
        |  SELECT a.event_type, l.lag, sum(a.dv * b.dv) AS num
        |  FROM (SELECT event_type, unnest(generate_series(1, 14)) AS lag
        |        FROM den) l
        |  JOIN devs a ON a.event_type = l.event_type
        |  JOIN devs b ON b.event_type = l.event_type AND b.rn = a.rn + l.lag
        |  GROUP BY 1, 2)
        |SELECT m.event_type, CAST(m.lag AS BIGINT) AS lag, d.n AS n_days,
        |  CASE WHEN d.den > 0
        |    THEN CAST(m.num AS DOUBLE) / CAST(d.den AS DOUBLE) END AS acf,
        |  1.96 / sqrt(CAST(d.n AS DOUBLE)) AS band,
        |  CASE WHEN d.den > 0 THEN
        |    abs(CASE WHEN d.den > 0
        |      THEN CAST(m.num AS DOUBLE) / CAST(d.den AS DOUBLE) END)
        |      > 1.96 / sqrt(CAST(d.n AS DOUBLE)) END AS significant
        |FROM num m JOIN den d USING (event_type)""".stripMargin),
    // A98 partial autocorrelation via Durbin-Levinson, lags 1..7
    Entry("ev_pacf", (s, d) => EventOps.pacf(s, d), timed,
      // A98: the A97 moments → quantized r list → Durbin–Levinson recursive
      // CTE; every intermediate one isolated IEEE op between 9-digit
      // double→decimal quantizations (decimal→decimal scale-downs never
      // appear — DuckDB truncates those where Spark rounds)
      pacfSql),
    // A99 cross-correlation between type pairs' daily series, lags -7..7
    Entry("ev_ccf", (s, d) => EventOps.ccf(s, d), timed,
      // the ONE global day grid (min..max over the whole corpus) aligns every
      // type; full-series means/denominators, lag-windowed numerators; ccf =
      // num / (sqrt(den_a)*sqrt(den_b)) over exact-integer moments
      """WITH daily AS (
        |  SELECT event_type, epoch_ms(ts) // 86400000 AS day_idx, count(*) AS y
        |  FROM events GROUP BY 1, 2),
        |rng AS (
        |  SELECT min(day_idx) AS lo, max(day_idx) AS hi,
        |    max(day_idx) - min(day_idx) + 1 AS n
        |  FROM daily),
        |grid AS (
        |  SELECT unnest(generate_series(lo, hi)) AS d, n FROM rng
        |  WHERE n >= 9),
        |dense AS (
        |  SELECT t.event_type,
        |    row_number() OVER (PARTITION BY t.event_type ORDER BY g.d) AS rn,
        |    CAST(coalesce(dl.y, 0) AS BIGINT) AS y, CAST(g.n AS BIGINT) AS n
        |  FROM (SELECT DISTINCT event_type FROM daily) t
        |  CROSS JOIN grid g
        |  LEFT JOIN daily dl
        |    ON dl.event_type = t.event_type AND dl.day_idx = g.d),
        |stats AS (
        |  SELECT event_type, max(n) AS n, sum(y) AS s FROM dense GROUP BY 1),
        |devs AS (
        |  SELECT d.event_type, d.rn,
        |    CAST(st.n * d.y - st.s AS DECIMAL(38,0)) AS dv
        |  FROM dense d JOIN stats st USING (event_type)),
        |den AS (
        |  SELECT event_type, sum(dv * dv) AS den FROM devs GROUP BY 1),
        |lags AS (SELECT unnest(generate_series(-7, 7)) AS lag),
        |num AS (
        |  SELECT x.event_type AS type_a, y.event_type AS type_b, l.lag,
        |    sum(x.dv * y.dv) AS num
        |  FROM lags l
        |  CROSS JOIN devs x
        |  JOIN devs y ON x.event_type < y.event_type AND y.rn = x.rn + l.lag
        |  GROUP BY 1, 2, 3)
        |SELECT m.type_a, m.type_b, CAST(m.lag AS BIGINT) AS lag,
        |  st.n AS n_days,
        |  CASE WHEN da.den > 0 AND db.den > 0
        |    THEN CAST(m.num AS DOUBLE)
        |      / (sqrt(CAST(da.den AS DOUBLE)) * sqrt(CAST(db.den AS DOUBLE)))
        |  END AS ccf
        |FROM num m
        |JOIN den da ON da.event_type = m.type_a
        |JOIN den db ON db.event_type = m.type_b
        |JOIN stats st ON st.event_type = m.type_a""".stripMargin),
    // A102 association rules over per-user type baskets (support/conf/lift)
    Entry("ev_assoc_rules", (s, d) => EventOps.assocRules(s, d), timed,
      // A102: exact basket counts off one distinct census; the three
      // strengths are single divisions of exact longs
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |n AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |      FROM ut),
        |t AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_t
        |      FROM ut GROUP BY 1),
        |p AS (
        |  SELECT x.event_type AS a, y.event_type AS b,
        |    CAST(count(*) AS BIGINT) AS n_ab
        |  FROM ut x JOIN ut y
        |    ON x.user_id = y.user_id AND x.event_type <> y.event_type
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT p.a, p.b, p.n_ab, ta.n_t AS n_a, tb.n_t AS n_b, n.n_users,
        |  CAST(p.n_ab AS DOUBLE) / CAST(n.n_users AS DOUBLE) AS support,
        |  CAST(p.n_ab AS DOUBLE) / CAST(ta.n_t AS DOUBLE) AS confidence,
        |  CAST(n.n_users * p.n_ab AS DOUBLE)
        |    / CAST(ta.n_t * tb.n_t AS DOUBLE) AS lift
        |FROM p JOIN t ta ON ta.event_type = p.a
        |       JOIN t tb ON tb.event_type = p.b
        |       CROSS JOIN n""".stripMargin),
    // A103 per-user behavioral entropy over the type distribution
    Entry("ev_user_entropy", (s, d) => EventOps.userEntropy(s, d), timed,
      // A103: per-term DECIMAL(18,9) quantization over libm ln (the C40
      // discipline); the normalizer ln quantizes before its division
      """WITH census AS (
        |  SELECT user_id, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |tot AS (
        |  SELECT user_id, event_type, n,
        |    CAST(sum(n) OVER (PARTITION BY user_id) AS BIGINT) AS n_u
        |  FROM census),
        |terms AS (
        |  SELECT user_id, n_u,
        |    CAST(-((CAST(n AS DOUBLE) / CAST(n_u AS DOUBLE))
        |      * ln(CAST(n AS DOUBLE) / CAST(n_u AS DOUBLE)))
        |      AS DECIMAL(18,9)) AS term
        |  FROM tot),
        |agg AS (
        |  SELECT user_id, max(n_u) AS n_events,
        |    CAST(count(*) AS BIGINT) AS n_types,
        |    CAST(sum(term) AS DOUBLE) AS entropy
        |  FROM terms GROUP BY 1)
        |SELECT user_id, n_events, n_types, entropy,
        |  CASE WHEN n_types > 1 THEN entropy / CAST(CAST(
        |    ln(CAST(n_types AS DOUBLE)) AS DECIMAL(18,9)) AS DOUBLE)
        |  END AS norm_entropy
        |FROM agg""".stripMargin),
    // A104 EWMA control chart with exact start-up limits per type/day
    Entry("ev_ewma", (s, d) => EventOps.ewmaChart(s, d), timed,
      // A104: the recursive CTE repeats the fold expressions verbatim
      // (the ev_hw_forecast discipline); exact-representable constants
      """WITH RECURSIVE daily AS (
        |  SELECT event_type, epoch_ms(ts) // 86400000 AS day_idx, count(*) AS y
        |  FROM events GROUP BY 1, 2),
        |rng AS (
        |  SELECT event_type, min(day_idx) AS lo, max(day_idx) AS hi
        |  FROM daily GROUP BY 1 HAVING hi - lo + 1 >= 14),
        |dense AS (
        |  SELECT g.event_type, g.lo,
        |    row_number() OVER (PARTITION BY g.event_type ORDER BY g.d) AS rn,
        |    CAST(coalesce(dl.y, 0) AS BIGINT) AS y, CAST(g.n AS BIGINT) AS n
        |  FROM (SELECT event_type, lo, unnest(generate_series(lo, hi)) AS d,
        |          hi - lo + 1 AS n FROM rng) g
        |  LEFT JOIN daily dl
        |    ON dl.event_type = g.event_type AND dl.day_idx = g.d),
        |params AS (
        |  SELECT d.event_type, max(d.lo) AS lo, max(d.n) AS n,
        |    CAST(sum(d.y) AS DOUBLE) / CAST(max(d.n) AS DOUBLE) AS mu,
        |    (CAST(sum(abs(d.y - p.py)) AS DOUBLE)
        |      / CAST(max(d.n) - 1 AS DOUBLE)) / 1.128 AS sig
        |  FROM dense d
        |  LEFT JOIN (SELECT event_type, rn,
        |               lag(y) OVER (PARTITION BY event_type ORDER BY rn)
        |                 AS py
        |             FROM dense) p
        |    ON p.event_type = d.event_type AND p.rn = d.rn
        |  GROUP BY 1),
        |rec AS (
        |  SELECT event_type, lo, mu, sig, 0 AS t, mu AS z,
        |    CAST(1.0 AS DOUBLE) AS w
        |  FROM params
        |  UNION ALL
        |  SELECT r.event_type, r.lo, r.mu, r.sig, r.t + 1,
        |    0.25 * CAST(d.y AS DOUBLE) + 0.75 * r.z,
        |    r.w * 0.5625
        |  FROM rec r JOIN dense d
        |    ON d.event_type = r.event_type AND d.rn = r.t + 1)
        |SELECT r.event_type, r.lo + r.t - 1 AS day_idx,
        |  CAST(d.y AS DOUBLE) AS y, r.z AS ewma,
        |  r.mu + 3.0 * r.sig * sqrt((0.25 / 1.75) * (1.0 - r.w)) AS ucl,
        |  r.mu - 3.0 * r.sig * sqrt((0.25 / 1.75) * (1.0 - r.w)) AS lcl,
        |  (r.z > r.mu + 3.0 * r.sig * sqrt((0.25 / 1.75) * (1.0 - r.w))
        |   OR r.z < r.mu - 3.0 * r.sig * sqrt((0.25 / 1.75) * (1.0 - r.w)))
        |    AS flag
        |FROM rec r JOIN dense d
        |  ON d.event_type = r.event_type AND d.rn = r.t
        |WHERE r.t >= 1""".stripMargin),
    // A105 Hill tail-index estimate over the top-k order statistics
    Entry("ev_tail_index", (s, d) => EventOps.tailIndex(s, d), timed,
      // A105: exact rank selection through ties; per-term DECIMAL(18,9)
      // over libm ln; hill/alpha single divisions of the exact sum
      """WITH top AS (
        |  SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY value DESC, event_id) AS rn
        |  FROM events WHERE value > 0.0
        |  QUALIFY rn <= 51),
        |sized AS (
        |  SELECT event_type, value, rn,
        |    count(*) OVER (PARTITION BY event_type) AS n_top,
        |    min(value) OVER (PARTITION BY event_type) AS thresh
        |  FROM top),
        |terms AS (
        |  SELECT event_type, CAST(n_top - 1 AS BIGINT) AS k_used, thresh,
        |    CAST(ln(value / thresh) AS DECIMAL(18,9)) AS term
        |  FROM sized WHERE n_top >= 6 AND rn < n_top),
        |agg AS (
        |  SELECT event_type, max(k_used) AS k_used,
        |    max(thresh) AS x_threshold, sum(term) AS s
        |  FROM terms GROUP BY 1)
        |SELECT event_type, k_used, x_threshold,
        |  CAST(s AS DOUBLE) / CAST(k_used AS DOUBLE) AS hill,
        |  CASE WHEN s > 0
        |    THEN CAST(k_used AS DOUBLE) / CAST(s AS DOUBLE) END AS alpha
        |FROM agg""".stripMargin),
    // A106 damped stationary attention share over the A43 transition chain
    Entry("ev_stationary", (s, d) => EventOps.stationary(s, d), timed,
      // A106: the power iteration carried as ONE list row per round (the
      // ev_hw_forecast recursive-CTE discipline); every term quantized
      // DECIMAL(18,9) exactly as the Spark loop quantizes it
      """WITH RECURSIVE s AS (
        |  SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms,
        |    CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
        |           OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)),
        |i AS (
        |  SELECT user_id, event_id, event_type, ts_ms,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM s),
        |t AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id, sid
        |      ORDER BY ts_ms, event_id) AS to_type
        |  FROM i),
        |c AS (
        |  SELECT from_type, to_type, count(*) AS n_transitions
        |  FROM t WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |e0 AS (
        |  SELECT from_type, to_type,
        |    CAST(n_transitions AS DOUBLE) / CAST(sum(n_transitions)
        |      OVER (PARTITION BY from_type) AS DOUBLE) AS p
        |  FROM c),
        |sts AS (
        |  SELECT list(state ORDER BY state) AS states,
        |    CAST(count(*) AS DOUBLE) AS n
        |  FROM (SELECT from_type AS state FROM e0
        |        UNION SELECT to_type FROM e0)),
        |meta AS (
        |  SELECT sts.states, sts.n,
        |    (SELECT list(list_position(sts.states, x.from_type)
        |       ORDER BY x.from_type, x.to_type) FROM e0 x) AS efrom,
        |    (SELECT list(list_position(sts.states, x.to_type)
        |       ORDER BY x.from_type, x.to_type) FROM e0 x) AS eto,
        |    (SELECT list(x.p ORDER BY x.from_type, x.to_type) FROM e0 x)
        |      AS ep,
        |    (SELECT list(DISTINCT x.from_type) FROM e0 x) AS srcs
        |  FROM sts),
        |rec AS (
        |  SELECT 0 AS it,
        |    list_transform(m.states, x ->
        |      CAST(CAST(1.0 / m.n AS VARCHAR) AS DECIMAL(18,9))) AS pis
        |  FROM meta m
        |  UNION ALL
        |  SELECT r.it + 1,
        |    list_transform(range(1, CAST(m.n AS BIGINT) + 1), j ->
        |      CAST(CAST(
        |        (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / m.n
        |        + 0.85 * (
        |        CAST(list_sum(list_transform(range(1, len(m.ep) + 1), k ->
        |          CASE WHEN m.eto[k] = j
        |            THEN CAST(CAST(
        |              CAST(r.pis[m.efrom[k]] AS DOUBLE) * m.ep[k]
        |              AS VARCHAR) AS DECIMAL(18,9))
        |            ELSE CAST(0 AS DECIMAL(18,9)) END)) AS DOUBLE)
        |        + CAST(list_sum(list_transform(
        |            range(1, CAST(m.n AS BIGINT) + 1), i ->
        |            CASE WHEN NOT list_contains(m.srcs, m.states[i])
        |              THEN r.pis[i] ELSE CAST(0 AS DECIMAL(18,9)) END))
        |            AS DOUBLE) / m.n
        |      ) AS VARCHAR) AS DECIMAL(18,9)))
        |  FROM rec r, meta m WHERE r.it < 20)
        |SELECT m.states[g.j] AS event_type,
        |  CAST(r.pis[g.j] AS DOUBLE) AS stationary
        |FROM rec r, meta m,
        |  (SELECT unnest(range(1, 1000)) AS j) g
        |WHERE r.it = 20 AND g.j <= CAST(m.n AS BIGINT)""".stripMargin),
    // A107 absorbing-chain conversion probability per state
    Entry("ev_absorption", (s, d) => EventOps.absorption(s, d), timed,
      // A107: value iteration carried as one list row per round; terms
      // VARCHAR-quantized (the r13 decimal-tie rule — p can be exactly 0.5)
      """WITH RECURSIVE s AS (
        |  SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms,
        |    CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
        |           OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)),
        |i AS (
        |  SELECT user_id, event_id, event_type, ts_ms,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM s),
        |t AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id, sid
        |      ORDER BY ts_ms, event_id) AS to_type
        |  FROM i),
        |c AS (
        |  SELECT from_type, to_type, count(*) AS n_transitions
        |  FROM t WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |occ AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_occ
        |  FROM events GROUP BY 1),
        |e0 AS (
        |  SELECT c.from_type, c.to_type,
        |    CAST(c.n_transitions AS DOUBLE) / CAST(o.n_occ AS DOUBLE) AS p
        |  FROM c JOIN occ o ON o.event_type = c.from_type),
        |sts AS (
        |  SELECT list(event_type ORDER BY event_type) AS states,
        |    count(*) AS n
        |  FROM occ),
        |meta AS (
        |  SELECT sts.states, sts.n,
        |    (SELECT list(list_position(sts.states, x.from_type)
        |       ORDER BY x.from_type, x.to_type) FROM e0 x) AS efrom,
        |    (SELECT list(list_position(sts.states, x.to_type)
        |       ORDER BY x.from_type, x.to_type) FROM e0 x) AS eto,
        |    (SELECT list(x.p ORDER BY x.from_type, x.to_type) FROM e0 x)
        |      AS ep
        |  FROM sts),
        |rec AS (
        |  SELECT 0 AS it,
        |    list_transform(m.states, x -> CASE WHEN x = 'purchase'
        |      THEN CAST(1.0 AS DECIMAL(18,9))
        |      ELSE CAST(0.0 AS DECIMAL(18,9)) END) AS xs
        |  FROM meta m
        |  UNION ALL
        |  SELECT r.it + 1,
        |    list_transform(range(1, CAST(m.n AS BIGINT) + 1), j ->
        |      CASE WHEN m.states[j] = 'purchase'
        |        THEN CAST(1.0 AS DECIMAL(18,9))
        |      ELSE CAST(list_sum(list_transform(range(1, len(m.ep) + 1),
        |        k -> CASE WHEN m.efrom[k] = j
        |          THEN CAST(CAST(CAST(r.xs[m.eto[k]] AS DOUBLE) * m.ep[k]
        |            AS VARCHAR) AS DECIMAL(18,9))
        |          ELSE CAST(0 AS DECIMAL(18,9)) END)) AS DECIMAL(18,9))
        |      END)
        |  FROM rec r, meta m WHERE r.it < 30)
        |SELECT m.states[g.j] AS event_type,
        |  CAST(r.xs[g.j] AS DOUBLE) AS p_convert
        |FROM rec r, meta m,
        |  (SELECT unnest(range(1, 1000)) AS j) g
        |WHERE r.it = 30 AND g.j <= CAST(m.n AS BIGINT)""".stripMargin),
    // A100 exact single mean-shift split per type (A86's oracle-exact twin)
    Entry("ev_mean_shift", (s, d) => EventOps.meanShift(s, d), timed,
      // argmax of the exact-integer likelihood-ratio score G_t^2/(t(n-t)),
      // earliest-t tie-break; means are single divisions of exact longs
      """WITH daily AS (
        |  SELECT event_type, epoch_ms(ts) // 86400000 AS day_idx, count(*) AS y
        |  FROM events GROUP BY 1, 2),
        |rng AS (
        |  SELECT event_type, min(day_idx) AS lo, max(day_idx) AS hi
        |  FROM daily GROUP BY 1 HAVING hi - lo + 1 >= 14),
        |dense AS (
        |  SELECT g.event_type, g.lo,
        |    row_number() OVER (PARTITION BY g.event_type ORDER BY g.d) AS rn,
        |    CAST(coalesce(dl.y, 0) AS BIGINT) AS y, CAST(g.n AS BIGINT) AS n
        |  FROM (SELECT event_type, lo, unnest(generate_series(lo, hi)) AS d,
        |          hi - lo + 1 AS n FROM rng) g
        |  LEFT JOIN daily dl
        |    ON dl.event_type = g.event_type AND dl.day_idx = g.d),
        |tot AS (
        |  SELECT event_type, CAST(sum(y) AS BIGINT) AS s FROM dense GROUP BY 1),
        |cand AS (
        |  SELECT d.event_type, d.lo, d.n, d.rn AS t,
        |    CAST(sum(d.y) OVER (PARTITION BY d.event_type ORDER BY d.rn)
        |      AS BIGINT) AS st
        |  FROM dense d),
        |scored AS (
        |  SELECT c.event_type, c.lo, c.n, c.t, c.st, t2.s,
        |    CAST(CAST(c.n * c.st - c.t * t2.s AS DECIMAL(38,0))
        |        * CAST(c.n * c.st - c.t * t2.s AS DECIMAL(38,0)) AS DOUBLE)
        |      / CAST(c.t * (c.n - c.t) AS DOUBLE) AS r
        |  FROM cand c JOIN tot t2 USING (event_type)
        |  WHERE c.t < c.n),
        |best AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY r DESC, t ASC) AS k
        |  FROM scored)
        |SELECT event_type, n AS n_days, lo + t AS change_day, t AS t_split,
        |  r / CAST(n AS DOUBLE) / CAST(n AS DOUBLE) AS stat,
        |  CAST(st AS DOUBLE) / CAST(t AS DOUBLE) AS mean_pre,
        |  CAST(s - st AS DOUBLE) / CAST(n - t AS DOUBLE) AS mean_post
        |FROM best WHERE k = 1""".stripMargin),
    // A91 rolling-origin backtest: naive vs Holt vs HW one-step MAE
    Entry("ev_forecast_backtest", (s, d) => EventOps.forecastBacktest(s, d), timed,
      // A91: the A50/A90 recursions verbatim with a quantized |error|
      // accumulator riding along; naive via lag; winner compared on the
      // UNROUNDED identical doubles
      """WITH RECURSIVE daily AS (
        |  SELECT event_type, epoch_ms(ts) // 86400000 AS day_idx, count(*) AS y
        |  FROM events GROUP BY 1, 2),
        |rng AS (
        |  SELECT event_type, min(day_idx) AS lo, max(day_idx) AS hi
        |  FROM daily GROUP BY 1 HAVING hi - lo + 1 >= 15),
        |dense0 AS (
        |  SELECT event_type, unnest(generate_series(lo, hi)) AS d,
        |    hi - lo + 1 AS n
        |  FROM rng),
        |dense AS (
        |  SELECT g.event_type, g.d,
        |    row_number() OVER (PARTITION BY g.event_type ORDER BY g.d) AS t,
        |    CAST(coalesce(dl.y, 0) AS DOUBLE) AS y,
        |    CAST(g.n AS BIGINT) AS n
        |  FROM dense0 g
        |  LEFT JOIN daily dl
        |    ON dl.event_type = g.event_type AND dl.day_idx = g.d),
        |mm AS (
        |  SELECT event_type, max(n) AS n,
        |    sum(y) FILTER (WHERE t BETWEEN 1 AND 7) / 7.0 AS m1,
        |    sum(y) FILTER (WHERE t BETWEEN 8 AND 14) / 7.0 AS m2
        |  FROM dense GROUP BY 1),
        |s0 AS (
        |  SELECT d.event_type, list(d.y - mm.m1 ORDER BY d.t) AS s
        |  FROM dense d JOIN mm USING (event_type) WHERE d.t <= 7 GROUP BY 1),
        |nv AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_naive,
        |    sum(CAST(abs(py - y) AS DECIMAL(18,9))) AS err_naive
        |  FROM (SELECT event_type, y,
        |          lag(y) OVER (PARTITION BY event_type ORDER BY t) AS py
        |        FROM dense) q
        |  WHERE py IS NOT NULL GROUP BY 1),
        |h AS (
        |  SELECT d1.event_type, d1.n, 2 AS t, d1.y AS l, d2.y - d1.y AS b,
        |    CAST(0 AS DECIMAL(28,9)) AS err
        |  FROM dense d1 JOIN dense d2 ON d1.event_type = d2.event_type
        |    AND d1.t = 1 AND d2.t = 2
        |  UNION ALL
        |  SELECT h.event_type, h.n, h.t + 1,
        |    0.5 * d.y + 0.5 * (h.l + h.b),
        |    0.5 * ((0.5 * d.y + 0.5 * (h.l + h.b)) - h.l) + 0.5 * h.b,
        |    CAST(h.err + CAST(abs(h.l + h.b - d.y) AS DECIMAL(18,9))
        |      AS DECIMAL(28,9))
        |  FROM h JOIN dense d
        |    ON d.event_type = h.event_type AND d.t = h.t + 1
        |  WHERE h.t < h.n),
        |hw AS (
        |  SELECT mm.event_type, mm.n, 14 AS t, mm.m1 AS l,
        |    (mm.m2 - mm.m1) / 7.0 AS b, s0.s AS s,
        |    CAST(0 AS DECIMAL(28,9)) AS err
        |  FROM mm JOIN s0 USING (event_type)
        |  UNION ALL
        |  SELECT hw.event_type, hw.n, hw.t + 1,
        |    0.5 * (d.y - hw.s[1]) + 0.5 * (hw.l + hw.b),
        |    0.5 * ((0.5 * (d.y - hw.s[1]) + 0.5 * (hw.l + hw.b)) - hw.l)
        |      + 0.5 * hw.b,
        |    hw.s[2:7] || [0.5 * (d.y - (0.5 * (d.y - hw.s[1])
        |      + 0.5 * (hw.l + hw.b))) + 0.5 * hw.s[1]],
        |    CAST(hw.err + CAST(abs(hw.l + hw.b + hw.s[1] - d.y)
        |      AS DECIMAL(18,9)) AS DECIMAL(28,9))
        |  FROM hw JOIN dense d
        |    ON d.event_type = hw.event_type AND d.t = hw.t + 1
        |  WHERE hw.t < hw.n),
        |r AS (
        |  SELECT nv.event_type, hf.n AS n_days, nv.n_naive,
        |    CAST(hf.n - 2 AS BIGINT) AS n_holt,
        |    CAST(hwf.n - 14 AS BIGINT) AS n_hw,
        |    CAST(nv.err_naive AS DOUBLE) / CAST(nv.n_naive AS DOUBLE)
        |      AS mae_naive,
        |    CAST(hf.err AS DOUBLE) / CAST(hf.n - 2 AS DOUBLE) AS mae_holt,
        |    CAST(hwf.err AS DOUBLE) / CAST(hwf.n - 14 AS DOUBLE) AS mae_hw
        |  FROM nv
        |  JOIN (SELECT * FROM h WHERE t = n) hf USING (event_type)
        |  JOIN (SELECT * FROM hw WHERE t = n) hwf USING (event_type))
        |SELECT event_type, n_days, n_naive, n_holt, n_hw,
        |  round(mae_naive, 6) AS mae_naive,
        |  round(mae_holt, 6) AS mae_holt,
        |  round(mae_hw, 6) AS mae_hw,
        |  CASE WHEN mae_naive <= mae_holt AND mae_naive <= mae_hw THEN 'naive'
        |       WHEN mae_holt <= mae_hw THEN 'holt'
        |       ELSE 'hw' END AS best_model
        |FROM r""".stripMargin),
    // A92 interrupted-time-series segmented regression at the midpoint
    Entry("ev_its", (s, d) => EventOps.its(s, d), timed,
      // A92: per-side OLS moments as exact DECIMAL(38,0) FILTER sums; each
      // slope is one IEEE division of exact integers
      """WITH daily AS (
        |  SELECT event_type, epoch_ms(ts) // 86400000 AS day_idx, count(*) AS y
        |  FROM events GROUP BY 1, 2),
        |rng AS (
        |  SELECT event_type, min(day_idx) AS lo, max(day_idx) AS hi
        |  FROM daily GROUP BY 1 HAVING hi - lo + 1 >= 4),
        |dense0 AS (
        |  SELECT event_type, unnest(generate_series(lo, hi)) AS d,
        |    hi - lo + 1 AS n
        |  FROM rng),
        |dense AS (
        |  SELECT g.event_type,
        |    row_number() OVER (PARTITION BY g.event_type ORDER BY g.d) - 1 AS i,
        |    CAST(g.n // 2 AS BIGINT) AS t0,
        |    CAST(coalesce(dl.y, 0) AS BIGINT) AS y
        |  FROM dense0 g
        |  LEFT JOIN daily dl
        |    ON dl.event_type = g.event_type AND dl.day_idx = g.d),
        |pts AS (
        |  SELECT event_type, t0, i < t0 AS pre,
        |    CAST(CASE WHEN i < t0 THEN i ELSE i - t0 END AS DECIMAL(38,0)) AS t,
        |    CAST(y AS DECIMAL(38,0)) AS y
        |  FROM dense),
        |f AS (
        |  SELECT event_type, max(t0) AS t0_idx,
        |    count(*) FILTER (WHERE pre) AS n_pre,
        |    count(*) FILTER (WHERE NOT pre) AS n_post,
        |    coalesce(sum(t) FILTER (WHERE pre), 0) AS st1,
        |    coalesce(sum(y) FILTER (WHERE pre), 0) AS sy1,
        |    coalesce(sum(t * t) FILTER (WHERE pre), 0) AS stt1,
        |    coalesce(sum(t * y) FILTER (WHERE pre), 0) AS sty1,
        |    coalesce(sum(t) FILTER (WHERE NOT pre), 0) AS st2,
        |    coalesce(sum(y) FILTER (WHERE NOT pre), 0) AS sy2,
        |    coalesce(sum(t * t) FILTER (WHERE NOT pre), 0) AS stt2,
        |    coalesce(sum(t * y) FILTER (WHERE NOT pre), 0) AS sty2
        |  FROM pts GROUP BY 1),
        |g AS (
        |  SELECT *,
        |    CAST(CAST(n_pre AS DECIMAL(38,0)) * sty1 - st1 * sy1 AS DOUBLE)
        |      / CAST(CAST(n_pre AS DECIMAL(38,0)) * stt1 - st1 * st1 AS DOUBLE)
        |      AS slope_pre,
        |    CAST(CAST(n_post AS DECIMAL(38,0)) * sty2 - st2 * sy2 AS DOUBLE)
        |      / CAST(CAST(n_post AS DECIMAL(38,0)) * stt2 - st2 * st2 AS DOUBLE)
        |      AS slope_post
        |  FROM f WHERE n_pre >= 2 AND n_post >= 2),
        |h AS (
        |  SELECT *,
        |    (CAST(sy1 AS DOUBLE) - slope_pre * CAST(st1 AS DOUBLE))
        |      / CAST(n_pre AS DOUBLE) AS icept_pre,
        |    (CAST(sy2 AS DOUBLE) - slope_post * CAST(st2 AS DOUBLE))
        |      / CAST(n_post AS DOUBLE) AS icept_post
        |  FROM g)
        |SELECT event_type, t0_idx, CAST(n_pre AS BIGINT) AS n_pre,
        |  CAST(n_post AS BIGINT) AS n_post,
        |  round(icept_pre, 6) AS intercept_pre,
        |  round(slope_pre, 6) AS slope_pre,
        |  round(icept_post, 6) AS intercept_post,
        |  round(slope_post, 6) AS slope_post,
        |  round(icept_post - (icept_pre + slope_pre * CAST(t0_idx AS DOUBLE)), 6)
        |    AS level_change,
        |  round(slope_post - slope_pre, 6) AS slope_change
        |FROM h""".stripMargin),
    // A93 retention-curve power-law fit + day-30 projection
    Entry("ev_retention_fit", (s, d) => EventOps.retentionFit(s, d), timed,
      // A93: the C99 ln-quantized OLS discipline over the pooled offset
      // census; projection = exp over the identical fixed tree
      """WITH ud AS (
        |  SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day
        |  FROM events),
        |n AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM ud),
        |o AS (
        |  SELECT day - min(day) OVER (PARTITION BY user_id) AS off
        |  FROM ud),
        |c AS (SELECT off, CAST(count(*) AS BIGINT) AS n_ret FROM o
        |      WHERE off BETWEEN 1 AND 30 GROUP BY 1),
        |p AS (
        |  SELECT CAST(ln(CAST(off AS DOUBLE)) AS DECIMAL(18,9)) AS x,
        |    CAST(ln(CAST(n_ret AS DOUBLE) / CAST(n.n_users AS DOUBLE))
        |      AS DECIMAL(18,9)) AS y, n.n_users
        |  FROM c, n),
        |s AS (
        |  SELECT count(*) AS n_points, max(n_users) AS n_users,
        |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |    CAST(sum(x * x) AS DOUBLE) AS sxx,
        |    CAST(sum(x * y) AS DOUBLE) AS sxy,
        |    CAST(sum(y * y) AS DOUBLE) AS syy
        |  FROM p),
        |f AS (
        |  SELECT *, CAST(n_points AS DOUBLE) AS nd,
        |    nd * sxy - sx * sy AS num,
        |    nd * sxx - sx * sx AS denx,
        |    nd * syy - sy * sy AS deny
        |  FROM s WHERE n_points >= 2),
        |g AS (
        |  SELECT *, CASE WHEN denx <> 0 THEN num / denx END AS slope
        |  FROM f),
        |h AS (
        |  SELECT *, (sy - slope * sx) / nd AS intercept FROM g)
        |SELECT n_points, n_users,
        |  round(slope, 6) AS slope,
        |  round(intercept, 6) AS intercept,
        |  round(CASE WHEN denx * deny <> 0
        |    THEN num * num / (denx * deny) END, 6) AS r2,
        |  round(exp(intercept + slope * ln(CAST(30.0 AS DOUBLE))), 6)
        |    AS proj_d30
        |FROM h""".stripMargin),
    // A94 per-cohort treatment effects + Cochran Q / I² heterogeneity
    Entry("ev_experiment_segments", (s, d) => EventOps.experimentSegments(s, d), timed,
      // A94: exact cells; weights/lifts one fixed IEEE tree; the Q/pooled
      // sums quantize each term DECIMAL(28,9) (order-free — segment order
      // can never wobble the statistic); one-pass Q identity
      """WITH u AS (
        |  SELECT user_id, min(epoch_ms(ts) // 604800000) AS cohort_week,
        |    CASE WHEN count(*) FILTER (WHERE event_type = 'purchase') >= 14
        |         THEN 1 ELSE 0 END AS conv,
        |    CASE WHEN substring(md5('exp1:' || CAST(user_id AS VARCHAR)), 1, 2)
        |           < '80' THEN 'A' ELSE 'B' END AS variant
        |  FROM events GROUP BY user_id),
        |c AS (
        |  SELECT cohort_week,
        |    count(*) FILTER (WHERE variant = 'A') AS n_a,
        |    count(*) FILTER (WHERE variant = 'A' AND conv = 1) AS conv_a,
        |    count(*) FILTER (WHERE variant = 'B') AS n_b,
        |    count(*) FILTER (WHERE variant = 'B' AND conv = 1) AS conv_b
        |  FROM u GROUP BY 1),
        |r AS (
        |  SELECT *, CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS rate_a,
        |    CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS rate_b
        |  FROM c WHERE n_a > 0 AND n_b > 0),
        |v AS (
        |  SELECT *, rate_b - rate_a AS lift,
        |    rate_a * (CAST(1.0 AS DOUBLE) - rate_a) / CAST(n_a AS DOUBLE)
        |      + rate_b * (CAST(1.0 AS DOUBLE) - rate_b) / CAST(n_b AS DOUBLE)
        |      AS var_i
        |  FROM r),
        |q AS (
        |  SELECT count(*) AS k,
        |    sum(CAST(CAST(1.0 AS DOUBLE) / var_i AS DECIMAL(28,9))) AS sw,
        |    sum(CAST((CAST(1.0 AS DOUBLE) / var_i) * lift
        |        AS DECIMAL(28,9))) AS swl,
        |    sum(CAST((CAST(1.0 AS DOUBLE) / var_i) * lift * lift
        |        AS DECIMAL(28,9))) AS swll
        |  FROM v WHERE var_i > 0),
        |s2 AS (
        |  SELECT *, CAST(swl AS DOUBLE) / CAST(sw AS DOUBLE) AS pooled_lift,
        |    CAST(swll AS DOUBLE) - CAST(swl AS DOUBLE) * CAST(swl AS DOUBLE)
        |      / CAST(sw AS DOUBLE) AS q_stat
        |  FROM q),
        |s3 AS (
        |  SELECT *, CASE WHEN q_stat > 0 AND k > 1 THEN
        |    greatest(CAST(0.0 AS DOUBLE),
        |      (q_stat - CAST(k - 1 AS DOUBLE)) / q_stat) END AS i2
        |  FROM s2)
        |SELECT v.cohort_week, v.n_a, v.conv_a, v.n_b, v.conv_b,
        |  round(v.lift, 6) AS lift, s3.k AS k_segments,
        |  round(s3.pooled_lift, 6) AS pooled_lift,
        |  round(s3.q_stat, 6) AS q_stat, round(s3.i2, 6) AS i2
        |FROM v, s3""".stripMargin),
    // A63 Lorenz deciles of per-user activity + exact Gini coefficient
    Entry("ev_concentration", (s, d) => EventOps.concentration(s, d), timed,
      // A63: naive global row_number reproduces the two-level rank; shares
      // are single IEEE divisions of exact integers.
      """WITH u AS (SELECT user_id, count(*) AS n_events FROM events GROUP BY 1),
        |r AS (
        |  SELECT n_events, row_number() OVER (ORDER BY n_events, user_id) AS rank,
        |         count(*) OVER () AS n_users,
        |         CAST(sum(n_events) OVER () AS BIGINT) AS total
        |  FROM u),
        |d AS (
        |  SELECT (10 * (rank - 1)) // n_users AS decile, count(*) AS n_users_d,
        |         CAST(sum(n_events) AS BIGINT) AS n_events_d, max(total) AS total
        |  FROM r GROUP BY 1)
        |SELECT decile, n_users_d AS n_users, n_events_d AS n_events,
        |  CAST(sum(n_events_d) OVER (ORDER BY decile
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_events,
        |  CAST(n_events_d AS DOUBLE) / CAST(total AS DOUBLE) AS share,
        |  CAST(CAST(sum(n_events_d) OVER (ORDER BY decile
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS DOUBLE) / CAST(total AS DOUBLE) AS cum_share
        |FROM d""".stripMargin),
    Entry("ev_gini", (s, d) => EventOps.gini(s, d), timed,
      // A63b: both engines hold every aggregate as an exact integer
      // (HUGEINT there, DECIMAL(38,0) here — same values), and the
      // coefficient is one double division of those exact values.
      """WITH u AS (SELECT user_id, count(*) AS n_events FROM events GROUP BY 1),
        |r AS (SELECT n_events,
        |        row_number() OVER (ORDER BY n_events, user_id) AS rank
        |      FROM u)
        |SELECT count(*) AS n_users, CAST(sum(n_events) AS BIGINT) AS total_events,
        |  CAST(2 * sum(CAST(rank AS HUGEINT) * n_events)
        |       - (count(*) + 1) * CAST(sum(n_events) AS HUGEINT) AS DOUBLE)
        |  / CAST(count(*) * CAST(sum(n_events) AS HUGEINT) AS DOUBLE) AS gini
        |FROM r""".stripMargin),
    // A64 daily new-vs-returning active users
    Entry("ev_new_returning", (s, d) => EventOps.newVsReturning(s, d), timed,
      // A64: all-integer daily split on the (user, day) distinct grid.
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |f AS (SELECT user_id, day,
        |        min(day) OVER (PARTITION BY user_id) AS first_day
        |      FROM ud)
        |SELECT day, count(*) AS dau,
        |  count(*) FILTER (WHERE day = first_day) AS n_new,
        |  count(*) - count(*) FILTER (WHERE day = first_day) AS n_returning
        |FROM f GROUP BY 1""".stripMargin),
    // A65 cohort lifetime-value curves (revenue twin of retention cohorts)
    Entry("ev_cohort_ltv", (s, d) => EventOps.cohortLtv(s, d), timed,
      // A65: exact decimal revenue sums and cumsums; one IEEE division for
      // the per-user LTV; cohort size = the offset-0 first_value.
      """WITH ud AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,9))
        |         ELSE CAST(0 AS DECIMAL(18,9)) END AS rev
        |  FROM events),
        |f AS (SELECT user_id, day, rev,
        |        min(day) OVER (PARTITION BY user_id) AS day0 FROM ud),
        |g AS (
        |  SELECT strftime(day0, '%Y-%m-%d') AS cohort_day,
        |         CAST(day - day0 AS BIGINT) AS offset_days,
        |         count(DISTINCT user_id) AS n_active, sum(rev) AS rev
        |  FROM f WHERE day - day0 <= 7 GROUP BY 1, 2),
        |w AS (
        |  SELECT cohort_day, offset_days, n_active, rev,
        |    sum(rev) OVER (PARTITION BY cohort_day ORDER BY offset_days
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev,
        |    first_value(n_active) OVER (PARTITION BY cohort_day
        |      ORDER BY offset_days) AS cohort_size
        |  FROM g)
        |SELECT cohort_day, offset_days, n_active,
        |  CAST(rev AS DOUBLE) AS revenue, CAST(cum_rev AS DOUBLE) AS cum_revenue,
        |  CAST(cum_rev AS DOUBLE) / CAST(cohort_size AS DOUBLE) AS ltv_per_user
        |FROM w""".stripMargin),
    // A66 exact time-to-convert percentiles across converting users
    Entry("ev_ttc", (s, d) => EventOps.timeToConvert(s, d), timed,
      // A66: rank-selected exact order statistics (ceil(q*n), (ttc, user)
      // tie order) — all longs, no interpolation.
      """WITH u AS (
        |  SELECT user_id, min(epoch_ms(ts)) AS first_ms,
        |    min(CASE WHEN event_type = 'purchase' THEN epoch_ms(ts) END)
        |      AS first_p
        |  FROM events GROUP BY 1),
        |c AS (SELECT user_id, first_p - first_ms AS ttc
        |      FROM u WHERE first_p IS NOT NULL),
        |r AS (SELECT ttc, row_number() OVER (ORDER BY ttc, user_id) AS rank,
        |             count(*) OVER () AS n
        |      FROM c)
        |SELECT count(*) AS n_converted,
        |  max(CASE WHEN rank = CAST(ceil(n * 0.25) AS BIGINT) THEN ttc END) AS p25_ms,
        |  max(CASE WHEN rank = CAST(ceil(n * 0.5) AS BIGINT) THEN ttc END) AS p50_ms,
        |  max(CASE WHEN rank = CAST(ceil(n * 0.75) AS BIGINT) THEN ttc END) AS p75_ms,
        |  max(CASE WHEN rank = CAST(ceil(n * 0.9) AS BIGINT) THEN ttc END) AS p90_ms,
        |  max(ttc) AS max_ms
        |FROM r HAVING count(*) > 0""".stripMargin),
    // A67 weekday-seasonal anomaly days (median/MAD per (type, dow))
    Entry("ev_dow_anomaly", (s, d) => EventOps.dowAnomaly(s, d), timed,
      // A67: all-long median/MAD fence per (type, epoch-day mod 7); the
      // rank selection mirrors ceil(n*0.5) with (value, day) tie order.
      """WITH daily AS (
        |  SELECT event_type, epoch_ms(ts) // 86400000 AS day_idx,
        |         count(*) AS y
        |  FROM events GROUP BY 1, 2),
        |dw AS (SELECT *, day_idx % 7 AS dow FROM daily),
        |med AS (
        |  SELECT event_type, dow, y AS med FROM (
        |    SELECT event_type, dow, y, day_idx,
        |      row_number() OVER (PARTITION BY event_type, dow
        |        ORDER BY y, day_idx) AS rn,
        |      count(*) OVER (PARTITION BY event_type, dow) AS n
        |    FROM dw) WHERE rn = CAST(ceil(n * 0.5) AS BIGINT)),
        |wm AS (SELECT dw.*, med, abs(y - med) AS absdev
        |       FROM dw JOIN med USING (event_type, dow)),
        |mad AS (
        |  SELECT event_type, dow, greatest(1, absdev) AS mad FROM (
        |    SELECT event_type, dow, absdev, day_idx,
        |      row_number() OVER (PARTITION BY event_type, dow
        |        ORDER BY absdev, day_idx) AS rn,
        |      count(*) OVER (PARTITION BY event_type, dow) AS n
        |    FROM wm) WHERE rn = CAST(ceil(n * 0.5) AS BIGINT))
        |SELECT event_type, CAST(epoch_ms(day_idx * 86400000) AS DATE) AS day,
        |       dow, y, med, mad
        |FROM wm JOIN mad USING (event_type, dow)
        |WHERE absdev > 3 * mad""".stripMargin),
    // A68 bounded 7-day rolling retention per day
    Entry("ev_bounded_retention", (s, d) => EventOps.boundedRetention(s, d), timed,
      // A68: retained <=> per-user lead(day) within the window; censored
      // trailing days reported as-is (documented caveat).
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |nx AS (SELECT user_id, day,
        |         lead(day) OVER (PARTITION BY user_id ORDER BY day) AS next_day
        |       FROM ud)
        |SELECT day, count(*) AS n_active,
        |  count(*) FILTER (WHERE next_day - day <= 7) AS n_retained,
        |  CAST(count(*) FILTER (WHERE next_day - day <= 7) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS retention
        |FROM nx GROUP BY 1""".stripMargin),
    // A69 multiwindow SLO burn-rate alerts (1h fast AND 6h sustained)
    Entry("ev_slo_burn", (s, d) => EventOps.sloBurn(s, d), timed,
      // A69: integer-hour RANGE frame mirrors rangeBetween(-5, 0); the
      // burns are the identical divide/divide sequence on exact longs.
      """WITH h AS (
        |  SELECT epoch_ms(ts) // 3600000 AS hr, count(*) AS n_total,
        |         count(*) FILTER (WHERE event_type = 'error') AS n_err
        |  FROM events GROUP BY 1),
        |w AS (
        |  SELECT hr, n_total, n_err,
        |    CAST(sum(n_err) OVER (ORDER BY hr
        |      RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS BIGINT) AS err6,
        |    CAST(sum(n_total) OVER (ORDER BY hr
        |      RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS BIGINT) AS total6
        |  FROM h),
        |b AS (
        |  SELECT *,
        |    CAST(n_err AS DOUBLE) / CAST(n_total AS DOUBLE)
        |      / CAST(0.2 AS DOUBLE) AS burn_1h,
        |    CAST(err6 AS DOUBLE) / CAST(total6 AS DOUBLE)
        |      / CAST(0.2 AS DOUBLE) AS burn_6h
        |  FROM w)
        |SELECT hr * 3600000 AS hour_ms, n_err, n_total, err6, total6,
        |       burn_1h, burn_6h
        |FROM b WHERE burn_1h > 1.2 AND burn_6h > 1.0""".stripMargin),
    // A70 per-session ML feature extraction over the sessionize islands
    Entry("ev_session_features", (s, d) => EventOps.sessionFeatures(s, d), timed,
      // A70: the sessionize islanding verbatim plus typed feature columns.
      """WITH t1 AS (
        |  SELECT user_id, event_id, event_type, value, epoch_ms(ts) AS ts_ms,
        |    CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
        |           OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)),
        |t2 AS (
        |  SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id
        |    ORDER BY ts_ms, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS session_id
        |  FROM t1)
        |SELECT user_id, session_id, min(ts_ms) AS start_ms,
        |  count(*) AS n_events, count(DISTINCT event_type) AS n_types,
        |  count(*) FILTER (WHERE event_type = 'click') AS n_clicks,
        |  count(*) FILTER (WHERE event_type = 'view') AS n_views,
        |  count(*) FILTER (WHERE event_type = 'error') AS n_errors,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS n_purchases,
        |  CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(value AS DECIMAL(18,9)) END),
        |    CAST(0 AS DECIMAL(18,9))) AS DOUBLE) AS purchase_value,
        |  max(ts_ms) - min(ts_ms) AS duration_ms,
        |  (min(ts_ms) // 3600000) % 24 AS start_hour,
        |  count(*) FILTER (WHERE event_type = 'purchase') > 0 AS converted
        |FROM t2 GROUP BY 1, 2""".stripMargin),
    // A71 sequential-funnel step latency percentiles
    Entry("ev_funnel_latency", (s, d) => EventOps.funnelLatency(s, d), timed,
      // A71: sequential firsts via the same running-min windows; rank-
      // selected exact percentiles per step.
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms
        |  FROM events WHERE event_type IN ('view', 'click', 'purchase')),
        |w AS (SELECT *,
        |  min(CASE WHEN event_type = 'view' THEN ts_ms END) OVER r AS v_run
        |  FROM ev WINDOW r AS (PARTITION BY user_id ORDER BY ts_ms, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |w2 AS (SELECT *, CASE WHEN event_type = 'click' AND v_run IS NOT NULL
        |                      THEN ts_ms END AS c_q FROM w),
        |w3 AS (SELECT *, min(c_q) OVER r AS c_run
        |  FROM w2 WINDOW r AS (PARTITION BY user_id ORDER BY ts_ms, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |u AS (SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN ts_ms END) AS v,
        |    min(c_q) AS c,
        |    min(CASE WHEN event_type = 'purchase' AND c_run IS NOT NULL
        |        THEN ts_ms END) AS p
        |  FROM w3 GROUP BY 1),
        |l AS (
        |  SELECT 'view->click' AS step, user_id, c - v AS lat
        |  FROM u WHERE c IS NOT NULL
        |  UNION ALL
        |  SELECT 'click->purchase', user_id, p - c FROM u WHERE p IS NOT NULL),
        |r AS (SELECT step, lat,
        |    row_number() OVER (PARTITION BY step ORDER BY lat, user_id) AS rank,
        |    count(*) OVER (PARTITION BY step) AS n
        |  FROM l)
        |SELECT step, max(n) AS n_users,
        |  max(CASE WHEN rank = CAST(ceil(n * 0.5) AS BIGINT) THEN lat END) AS p50_ms,
        |  max(CASE WHEN rank = CAST(ceil(n * 0.9) AS BIGINT) THEN lat END) AS p90_ms,
        |  max(lat) AS max_ms
        |FROM r GROUP BY 1""".stripMargin),
    // A72 daily exact value-percentile trend per type
    Entry("ev_value_trend", (s, d) => EventOps.valueTrend(s, d), timed,
      // A72: rank-selected picks at ceil(q*n), (value, event_id) tie order.
      """WITH r AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, value,
        |    row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
        |      ORDER BY value, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type, CAST(ts AS DATE)) AS n
        |  FROM events)
        |SELECT event_type, day, max(n) AS n_events,
        |  max(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT) THEN value END) AS p50,
        |  max(CASE WHEN rn = CAST(ceil(n * 0.95) AS BIGINT) THEN value END) AS p95,
        |  max(value) AS max_value
        |FROM r GROUP BY 1, 2""".stripMargin),
    // A73 deepest-sequential-stage funnel distribution
    Entry("ev_funnel_stages", (s, d) => EventOps.funnelStages(s, d), timed,
      // A73: the same sequential qualification windows; reached counts are
      // a 4-row descending cumsum; shares one IEEE division.
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms
        |  FROM events WHERE event_type IN ('view', 'click', 'purchase')),
        |w AS (SELECT *,
        |  min(CASE WHEN event_type = 'view' THEN ts_ms END) OVER r AS v_run
        |  FROM ev WINDOW r AS (PARTITION BY user_id ORDER BY ts_ms, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |w2 AS (SELECT *, CASE WHEN event_type = 'click' AND v_run IS NOT NULL
        |                      THEN ts_ms END AS c_q FROM w),
        |w3 AS (SELECT *, min(c_q) OVER r AS c_run
        |  FROM w2 WINDOW r AS (PARTITION BY user_id ORDER BY ts_ms, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |u AS (SELECT user_id,
        |    max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS viewed,
        |    max(CASE WHEN c_q IS NOT NULL THEN 1 ELSE 0 END) AS clicked,
        |    max(CASE WHEN event_type = 'purchase' AND c_run IS NOT NULL
        |        THEN 1 ELSE 0 END) AS purchased
        |  FROM w3 GROUP BY 1),
        |s AS (SELECT CASE WHEN purchased = 1 THEN 3 WHEN clicked = 1 THEN 2
        |             WHEN viewed = 1 THEN 1 ELSE 0 END AS stage FROM u),
        |g AS (SELECT CAST(stage AS BIGINT) AS stage, count(*) AS n_users
        |      FROM s GROUP BY 1),
        |t AS (SELECT CAST(sum(n_users) AS BIGINT) AS n_total FROM g)
        |SELECT stage, n_users,
        |  CAST(sum(n_users) OVER (ORDER BY stage DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS n_reached,
        |  CAST(CAST(sum(n_users) OVER (ORDER BY stage DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS DOUBLE) / CAST(n_total AS DOUBLE) AS reach_share
        |FROM g, t""".stripMargin),
    // A74 daily bounce rate over the sessionize islands
    Entry("ev_bounce_rate", (s, d) => EventOps.bounceRate(s, d), timed,
      // A74: the sessionize islanding verbatim, rolled up by start day.
      """WITH t1 AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
        |    CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
        |           OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)),
        |t2 AS (
        |  SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id
        |    ORDER BY ts_ms, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS session_id
        |  FROM t1),
        |s AS (SELECT user_id, session_id, min(ts_ms) AS start_ms,
        |             count(*) AS n_events
        |      FROM t2 GROUP BY 1, 2)
        |SELECT CAST(epoch_ms(start_ms) AS DATE) AS day,
        |  count(*) AS n_sessions,
        |  count(*) FILTER (WHERE n_events = 1) AS n_bounces,
        |  CAST(count(*) FILTER (WHERE n_events = 1) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS bounce_rate
        |FROM s GROUP BY 1""".stripMargin),
    // A75 exact repeat-purchase cadence percentiles
    Entry("ev_purchase_cadence", (s, d) => EventOps.purchaseCadence(s, d), timed,
      // A75: per-user purchase gaps via lag; rank-selected exact picks,
      // ties by the buying event's id.
      """WITH p AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
        |    epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_ms(ts), event_id) AS gap
        |  FROM events WHERE event_type = 'purchase'),
        |g AS (SELECT user_id, event_id, gap FROM p WHERE gap IS NOT NULL),
        |r AS (SELECT gap, row_number() OVER (ORDER BY gap, event_id) AS rank,
        |             count(*) OVER () AS n
        |      FROM g)
        |SELECT (SELECT count(*) FROM g) AS n_gaps,
        |  (SELECT count(DISTINCT user_id) FROM g) AS n_repeat_buyers,
        |  max(CASE WHEN rank = CAST(ceil(n * 0.25) AS BIGINT) THEN gap END) AS p25_ms,
        |  max(CASE WHEN rank = CAST(ceil(n * 0.5) AS BIGINT) THEN gap END) AS p50_ms,
        |  max(CASE WHEN rank = CAST(ceil(n * 0.75) AS BIGINT) THEN gap END) AS p75_ms,
        |  max(CASE WHEN rank = CAST(ceil(n * 0.9) AS BIGINT) THEN gap END) AS p90_ms,
        |  max(gap) AS max_ms
        |FROM r HAVING count(*) > 0""".stripMargin),
    // A76 max consecutive-day streak distribution
    Entry("ev_streaks", (s, d) => EventOps.streaks(s, d), timed,
      // A76: day_idx - row_number islands; all-integer histogram.
      """WITH ud AS (
        |  SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day_idx
        |  FROM events),
        |i AS (SELECT user_id, day_idx,
        |        day_idx - row_number() OVER (PARTITION BY user_id
        |          ORDER BY day_idx) AS island
        |      FROM ud),
        |l AS (SELECT user_id, island, count(*) AS len FROM i GROUP BY 1, 2),
        |m AS (SELECT user_id, max(len) AS max_streak FROM l GROUP BY 1)
        |SELECT max_streak, count(*) AS n_users FROM m GROUP BY 1""".stripMargin),
    // A77 exact audience-overlap Jaccard per type pair
    Entry("ev_audience_overlap", (s, d) => EventOps.audienceOverlap(s, d), timed,
      // A77: distinct grid self-join on user, a < b unordered pairs.
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |t AS (SELECT event_type, count(*) AS n FROM ut GROUP BY 1),
        |p AS (
        |  SELECT x.event_type AS type_a, y.event_type AS type_b,
        |         count(*) AS n_both
        |  FROM ut x JOIN ut y ON x.user_id = y.user_id
        |    AND x.event_type < y.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, ta.n AS n_a, tb.n AS n_b, n_both,
        |  CAST(n_both AS DOUBLE) / CAST(ta.n + tb.n - n_both AS DOUBLE)
        |    AS jaccard
        |FROM p JOIN t ta ON ta.event_type = type_a
        |       JOIN t tb ON tb.event_type = type_b""".stripMargin),
    // A78 daily growth accounting (new/retained/resurrected/churned)
    Entry("ev_growth", (s, d) => EventOps.growthAccounting(s, d), timed,
      // A78: lag/lead classification on the (user, day) grid; churn lands
      // on the day after a run ends, censored at the horizon.
      """WITH ud AS (
        |  SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day_idx
        |  FROM events),
        |g AS (SELECT user_id, day_idx,
        |        lag(day_idx) OVER w AS prev, lead(day_idx) OVER w AS next
        |      FROM ud WINDOW w AS (PARTITION BY user_id ORDER BY day_idx)),
        |mx AS (SELECT max(day_idx) AS max_day FROM ud),
        |a AS (
        |  SELECT day_idx,
        |    count(*) FILTER (WHERE prev IS NULL) AS n_new,
        |    count(*) FILTER (WHERE prev = day_idx - 1) AS n_retained,
        |    count(*) FILTER (WHERE prev IS NOT NULL AND prev < day_idx - 1)
        |      AS n_resurrected
        |  FROM g GROUP BY 1),
        |c AS (
        |  SELECT day_idx + 1 AS day_idx, count(*) AS n_churned
        |  FROM g, mx
        |  WHERE (next IS NULL OR next > day_idx + 1) AND day_idx < max_day
        |  GROUP BY 1)
        |SELECT coalesce(a.day_idx, c.day_idx) AS day_idx,
        |  coalesce(n_new, 0) AS n_new,
        |  coalesce(n_retained, 0) AS n_retained,
        |  coalesce(n_resurrected, 0) AS n_resurrected,
        |  coalesce(n_churned, 0) AS n_churned,
        |  CASE WHEN coalesce(n_churned, 0) > 0
        |       THEN CAST(coalesce(n_new, 0) + coalesce(n_resurrected, 0)
        |              AS DOUBLE) / CAST(n_churned AS DOUBLE) END AS quick_ratio
        |FROM a FULL OUTER JOIN c ON a.day_idx = c.day_idx""".stripMargin),
    // A79 weekly retention triangle (full cohort-curve grid)
    Entry("ev_retention_triangle", (s, d) => EventOps.retentionTriangle(s, d), timed,
      // A79: epoch-week grid; offset-0 cell is the cohort size.
      """WITH uw AS (
        |  SELECT DISTINCT user_id, epoch_ms(ts) // 604800000 AS week
        |  FROM events),
        |c AS (SELECT user_id, week,
        |        min(week) OVER (PARTITION BY user_id) AS cohort_week
        |      FROM uw),
        |g AS (SELECT cohort_week, week - cohort_week AS week_offset,
        |             count(*) AS n_users
        |      FROM c GROUP BY 1, 2)
        |SELECT cohort_week, week_offset, n_users,
        |  first_value(n_users) OVER (PARTITION BY cohort_week
        |    ORDER BY week_offset) AS cohort_size,
        |  CAST(n_users AS DOUBLE) / CAST(first_value(n_users) OVER
        |    (PARTITION BY cohort_week ORDER BY week_offset) AS DOUBLE)
        |    AS retention
        |FROM g""".stripMargin),
    // A51 calendar-aligned week-over-week change per (type, day)
    Entry("ev_wow_change", (s, d) => EventOps.wowChange(s, d), timed,
      // A51: exact-long counts; wow is one IEEE division; the first week's
      // days carry null prev_n/wow in both engines.
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
        |               FROM events GROUP BY 1, 2)
        |SELECT d.event_type, d.day, d.n, p.n AS prev_n,
        |  CAST(d.n - p.n AS DOUBLE) / p.n AS wow
        |FROM daily d LEFT JOIN daily p
        |  ON p.event_type = d.event_type AND p.day = d.day - 7""".stripMargin),
    // A53 exact inter-arrival gap percentiles per type
    Entry("ev_gap_stats", (s, d) => EventOps.gapStats(s, d), timed,
      // A53: gaps and their percentiles are exact longs via rank selection
      // (the ev_quantiles_exact discipline); both engines order the rank
      // window by (gap, ts, event_id).
      """WITH g AS (
        |  SELECT event_type, event_id, epoch_ms(ts) AS ts_ms,
        |    epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
        |      PARTITION BY event_type ORDER BY epoch_ms(ts), event_id) AS gap_ms
        |  FROM events),
        |r AS (
        |  SELECT event_type, gap_ms, ts_ms, event_id,
        |    row_number() OVER (PARTITION BY event_type ORDER BY gap_ms, ts_ms, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM g WHERE gap_ms IS NOT NULL)
        |SELECT event_type,
        |  max(CASE WHEN rn = CAST(ceil(n*0.5) AS BIGINT) THEN gap_ms END) AS gap_p50_ms,
        |  max(CASE WHEN rn = CAST(ceil(n*0.95) AS BIGINT) THEN gap_ms END) AS gap_p95_ms,
        |  max(gap_ms) AS gap_max_ms, max(n) AS n_gaps
        |FROM r GROUP BY 1""".stripMargin),
    // A54 heartbeat-loss silence/recovery alerts per type
    Entry("ev_silence", (s, d) => EventOps.silenceAlerts(s, d), timed,
      // A54: exact-long arithmetic only; the trailing open episode uses the
      // corpus's global max ts as the observation horizon.
      """WITH e AS (SELECT event_type, event_id, epoch_ms(ts) AS ts_ms FROM events),
        |g AS (SELECT event_type, ts_ms,
        |        lag(ts_ms) OVER (PARTITION BY event_type ORDER BY ts_ms, event_id) AS prev
        |      FROM e),
        |gg AS (SELECT * FROM g WHERE prev IS NOT NULL AND ts_ms - prev > 3600000),
        |l AS (SELECT event_type, max(ts_ms) AS last_ms FROM e GROUP BY 1),
        |fin AS (SELECT max(ts_ms) AS end_ms FROM e)
        |SELECT event_type, 'silence' AS kind, prev + 3600000 AS at_ms, prev AS since_ms FROM gg
        |UNION ALL
        |SELECT event_type, 'recovery' AS kind, ts_ms AS at_ms, prev AS since_ms FROM gg
        |UNION ALL
        |SELECT l.event_type, 'silence' AS kind, l.last_ms + 3600000 AS at_ms,
        |       l.last_ms AS since_ms
        |FROM l, fin WHERE fin.end_ms - l.last_ms > 3600000""".stripMargin),
    // A55 per-hour trending top-k users (batch twin of trendingQuery)
    Entry("ev_trending", (s, d) => EventOps.trending(s, d), timed,
      // A55: Spark's window('1 hour') and DuckDB's date_trunc both align to
      // epoch hours; rank is deterministic (count desc, user_id).
      """SELECT window_ms, user_id, n, rnk FROM (
        |  SELECT epoch_ms(date_trunc('hour', ts)) AS window_ms, user_id,
        |         count(*) AS n,
        |         row_number() OVER (PARTITION BY date_trunc('hour', ts)
        |           ORDER BY count(*) DESC, user_id) AS rnk
        |  FROM events GROUP BY date_trunc('hour', ts), user_id) t
        |WHERE rnk <= 5""".stripMargin),
    // A56 persisted incremental rollup store (serve ≡ direct agg)
    Entry("ev_rollup_store", (s, d) => EventOps.rollupStore(s, d), timed,
      // A56: serve-from-store must equal the direct aggregation — decimal
      // partial sums are exact and associative, so the split/ingest path
      // hashes identically to this one-pass SQL.
      """SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin),
    // A52 L28 engagement-depth histogram for the last corpus day
    Entry("ev_l28", (s, d) => EventOps.l28(s, d), timed,
      // A52: the anchor day is max(day); the histogram is exact integer
      // counts only.
      """WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |a AS (SELECT max(day) AS last_day FROM ud),
        |per_user AS (
        |  SELECT ud.user_id, count(*) AS days_active
        |  FROM ud, a WHERE ud.day >= a.last_day - 27
        |  GROUP BY 1)
        |SELECT days_active, count(*) AS n_users FROM per_user GROUP BY 1""".stripMargin),
    Entry("ev_sessionize", (s, d) => EventOps.sessionize(s, d), timed.copy(core = 11, scaleUp = 5),
      s"""SELECT user_id, session_id, min(ts_ms) AS start_ms, max(ts_ms) AS end_ms,
         |       count(*) AS n_events, ${dsum("value")} AS sum_value
         |FROM (
         |  SELECT user_id, ts_ms, value,
         |         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
         |  FROM (
         |    SELECT user_id, event_id, value, epoch_ms(ts) AS ts_ms,
         |           CASE WHEN lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) IS NULL
         |                  OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) > 1800000
         |                THEN 1 ELSE 0 END AS is_new
         |    FROM events) t1) t2
         |GROUP BY user_id, session_id""".stripMargin),
    Entry("ev_topk_users", (s, d) => EventOps.topkUsers(s, d), notTimed,
      """SELECT user_id, count(*) AS n_events FROM events
        |GROUP BY user_id ORDER BY n_events DESC, user_id LIMIT 10""".stripMargin),
    Entry("ev_json_extract", (s, d) => EventOps.jsonExtract(s, d), notTimed,
      s"""SELECT CAST(json_extract_string(props, '$$.k') AS INTEGER) AS k,
         |  count(*) AS n_events, ${dsum("value")} AS sum_value
         |FROM events GROUP BY 1""".stripMargin),
    Entry("ev_enrich_join", (s, d) => EventOps.enrichJoin(s, d), timed,
      s"""SELECT c_mktsegment, count(*) AS n_events, count(DISTINCT user_id) AS n_users,
         |  ${dsum("value")} AS sum_value
         |FROM events JOIN customer ON user_id = c_custkey GROUP BY 1""".stripMargin),
    Entry("ev_error_alert", (s, d) => EventOps.errorAlert(s, d), notTimed,
      """SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, value,
        |  CASE WHEN value >= 180.0 THEN 'critical' ELSE 'warning' END AS level,
        |  'ALERT user=' || CAST(user_id AS VARCHAR) AS message
        |FROM events WHERE event_type = 'error' AND value >= 150.0""".stripMargin),
    Entry("ev_zscore_alert", (s, d) => EventOps.zscoreAlerts(s, d), timed.copy(core = 12),
      // mean/variance derived from exact-decimal Σx and Σx² on BOTH engines
      // (never the engines' own stddev kernels, whose summation orders
      // differ); epoch_us ordering matches Spark's µs-floored event time
      """WITH scored AS (
        |  SELECT event_id, user_id, ts, value,
        |    count(*) OVER w AS n,
        |    CAST(sum(CAST(value AS DECIMAL(28,12))) OVER w AS DOUBLE) AS s1,
        |    CAST(sum(CAST(value * value AS DECIMAL(28,12))) OVER w AS DOUBLE) AS s2
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
        |SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, value,
        |  round((value - s1 / n) / sqrt((s2 - s1 * s1 / n) / (n - 1)), 4) AS z
        |FROM scored
        |WHERE n >= 2 AND (s2 - s1 * s1 / n) / (n - 1) > 0.0
        |  AND abs(round((value - s1 / n) / sqrt((s2 - s1 * s1 / n) / (n - 1)), 4)) >= 2.5""".stripMargin),
    Entry("ev_sliding_counts", (s, d) => EventOps.slidingCounts(s, d),
      timed.copy(core = 14, scaleUp = 7),
      // sliding-window assignment replicated arithmetically: an event at t
      // (epoch ms, floored like Spark's µs→window math) belongs to the 4
      // slide-aligned starts in (t − 1h, t]
      s"""WITH e AS (SELECT epoch_ms(ts) AS t, event_type, value FROM events),
         |w AS (SELECT t, event_type, value,
         |        (t // 900000) * 900000 - k.k * 900000 AS window_start_ms
         |      FROM e, (SELECT unnest(generate_series(0, 3)) AS k) k
         |      WHERE (t // 900000) * 900000 - k.k * 900000 > t - 3600000)
         |SELECT window_start_ms, event_type, count(*) AS n_events,
         |  ${dsum("value")} AS sum_value
         |FROM w GROUP BY 1, 2""".stripMargin),
    Entry("ev_checkpoint", (s, d) => EventOps.checkpoint(s, d), notTimed,
      """SELECT event_id % 4 AS part_id, max(event_id) AS last_offset, count(*) AS n_processed
        |FROM events GROUP BY 1""".stripMargin),
    Entry("ev_asof_join", (s, d) => EventOps.asofErrorClick(s, d),
      timed.copy(core = 13, scaleUp = 8),
      """SELECT e.event_id, e.user_id, e.ts_ms,
        |       c.event_id AS click_event_id, c.ts_ms AS click_ts_ms,
        |       e.ts_ms - c.ts_ms AS gap_ms
        |FROM (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms FROM events
        |      WHERE event_type = 'error') e
        |ASOF JOIN (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms FROM events
        |           WHERE event_type = 'click') c
        |  ON e.user_id = c.user_id AND c.ts_ms < e.ts_ms""".stripMargin),
    Entry("ev_counts_salted", (s, d) => EventOps.countsByTypeSalted(s, d), timed.copy(scaleUp = 6),
      s"""SELECT event_type, count(*) AS n_events, ${dsum("value")} AS sum_value
         |FROM events GROUP BY 1""".stripMargin),
    Entry("ev_funnel", (s, d) => EventOps.funnel(s, d), notTimed,
      """SELECT user_id, first_signup_ms, n_purchases,
        |       last_purchase_ms IS NOT NULL AND last_purchase_ms > first_signup_ms AS converted
        |FROM (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'signup' THEN epoch_ms(ts) END) AS first_signup_ms,
        |    max(CASE WHEN event_type = 'purchase' THEN epoch_ms(ts) END) AS last_purchase_ms,
        |    count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchases
        |  FROM events WHERE event_type IN ('signup', 'purchase') GROUP BY 1) t
        |WHERE first_signup_ms IS NOT NULL""".stripMargin),
    Entry("ev_approx_stats", (s, d) => Sketches.approxStats(s, d)),
    // A89 SpaceSaving heavy hitters: bounded-state top-k identification
    // (production m=64 shape rows-only; the exact-capacity twin below
    // gates the kernel against a plain SQL ranking)
    Entry("ev_heavy_hitters", (s, d) => Sketches.heavyHitters(s, d), timed),
    Entry("ev_heavy_hitters_exact", (s, d) => Sketches.heavyHittersExact(s, d), notTimed,
      // A89 exact twin: at capacity >= distinct keys the sketch must equal
      // the plain ranking, est = lo = the true count
      hhExactSql),
    // A89c: store-served full-range top-k must equal the exact twin's
    // oracle (under-capacity regime: merged partials are provably exact)
    Entry("ev_hh_store", (s, d) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-hhs")
      try {
        Sketches.writeHeavyHitterStore(s, d, tmp.toString)
        Sketches.heavyHittersFromStore(s, tmp.toString).localCheckpoint(true)
      } finally {
        import scala.reflect.io.Directory
        new Directory(tmp.toFile).deleteRecursively()
      }
    }, timed,
      // A89c: the store-served full-range top-k must reproduce the same
      // exact ranking (merged under-capacity partials are provably exact)
      hhExactSql),
    Entry("ev_quantiles_exact", (s, d) => Sketches.exactQuantiles(s, d), timed, quantilesExactSql),
    // A96c: store-served full-range quantiles — under-capacity daily
    // partials merge to the exact multiset, sharing the A27 oracle
    Entry("ev_quantile_store", (s, d) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-qsk")
      try {
        Sketches.writeQuantileStore(s, d, tmp.toString)
        Sketches.quantilesFromStore(s, tmp.toString).localCheckpoint(true)
      } finally {
        import scala.reflect.io.Directory
        new Directory(tmp.toFile).deleteRecursively()
      }
    },
      storeServed((s, d) => {
        val dir = cachedStore(s"qsk:$d", tmp =>
          graft.operators.Sketches.writeQuantileStore(s, d, tmp))
        graft.operators.Sketches.quantilesFromStore(s, dir)
      }),
      // A96c: under-capacity daily partials merge to the exact multiset
      quantilesExactSql),
    // A96 native KLL/MRL quantile sketch: default capacity (rows-only,
    // error measured in SketchesSpec) + the exact-capacity oracle twin
    Entry("ev_quantile_sketch", (s, d) => Sketches.quantileSketch(s, d), timed),
    Entry("ev_quantile_sketch_exact", (s, d) => Sketches.exactQuantileSketch(s, d), notTimed,
      // A96 twin: capacity ≥ any per-type count ⇒ the compactor ladder
      // never fires and the sketch answers the exact rank rule
      quantilesExactSql),
    Entry("ev_hll_rollup", (s, d) => Sketches.hllRollup(s, d), timed),
    // A101 theta/KMV sketch set algebra: pairwise audience overlap with
    // union/intersect/difference (exact regime at the gate SFs)
    Entry("ev_theta_overlap", (s, d) => Sketches.thetaOverlap(s, d), timed,
      // A101 exact-regime theta algebra = exact distinct set arithmetic;
      // jaccard is one IEEE division of the exact longs
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |t AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
        |      FROM ut GROUP BY 1),
        |p AS (
        |  SELECT x.event_type AS type_a, y.event_type AS type_b,
        |         CAST(count(*) AS BIGINT) AS n_intersect
        |  FROM ut x JOIN ut y ON x.user_id = y.user_id
        |    AND x.event_type < y.event_type
        |  GROUP BY 1, 2),
        |f AS (
        |  SELECT ta.event_type AS type_a, tb.event_type AS type_b,
        |    ta.n AS n_a, tb.n AS n_b,
        |    coalesce(p.n_intersect, CAST(0 AS BIGINT)) AS n_intersect
        |  FROM t ta JOIN t tb ON ta.event_type < tb.event_type
        |  LEFT JOIN p ON p.type_a = ta.event_type
        |    AND p.type_b = tb.event_type)
        |SELECT type_a, type_b, n_a, n_b,
        |  n_a + n_b - n_intersect AS n_union, n_intersect,
        |  n_a - n_intersect AS n_a_only,
        |  CASE WHEN n_a + n_b - n_intersect > 0 THEN
        |    CAST(n_intersect AS DOUBLE)
        |      / CAST(n_a + n_b - n_intersect AS DOUBLE)
        |  ELSE 0.0 END AS jaccard
        |FROM f""".stripMargin),
    // A101c: theta estimates WITH error bars (estimation regime by sizing;
    // rows-only — interval arithmetic replayed and coverage-checked in spec)
    Entry("ev_theta_ci", (s, d) => Sketches.thetaCi(s, d)),
    // A101b per-day theta partials merged to horizon + trailing-7 windows
    Entry("ev_theta_rollup", (s, d) => Sketches.thetaRollup(s, d), timed,
      // A101b daily partials merged = exact distincts over each window;
      // the trailing week anchors on one global max day
      """WITH ev AS (
        |  SELECT event_type, user_id,
        |    epoch_ms(ts) // 86400000 AS day_idx
        |  FROM events),
        |mx AS (SELECT max(day_idx) AS d_max FROM ev)
        |SELECT event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS distinct_all,
        |  CAST(count(DISTINCT user_id)
        |    FILTER (WHERE day_idx > d_max - 7) AS BIGINT) AS distinct_last7,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(DISTINCT day_idx) AS BIGINT) AS n_days
        |FROM ev, mx GROUP BY event_type""".stripMargin),
    Entry("ev_bitmap_daily", (s, d) => BitmapOps.bitmapDaily(s, d), timed,
      // exact-bitmap family: the sketches are exact, so every entry is
      // oracle-gated against plain DISTINCT aggregation
      """SELECT event_type, epoch_ms(ts) // 86400000 AS day_idx,
        |       count(DISTINCT user_id) AS n_users, count(*) AS n_events
        |FROM events GROUP BY 1, 2""".stripMargin),
    Entry("ev_bitmap_rollup", (s, d) => BitmapOps.bitmapRollup(s, d), timed,
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
        |       count(*) AS n_events,
        |       count(DISTINCT epoch_ms(ts) // 86400000) AS n_days
        |FROM events GROUP BY 1""".stripMargin),
    Entry("ev_bitmap_sliding", (s, d) => BitmapOps.bitmapSliding(s, d), timed,
      """WITH d AS (
        |  SELECT event_type, epoch_ms(ts) // 86400000 AS day_idx, user_id
        |  FROM events),
        |days AS (SELECT DISTINCT event_type, day_idx FROM d)
        |SELECT w.event_type, w.day_idx AS win_day,
        |       count(DISTINCT e.user_id) AS n_users,
        |       count(*) AS n_events,
        |       count(DISTINCT e.day_idx) AS n_days
        |FROM days w JOIN d e ON e.event_type = w.event_type
        |  AND e.day_idx BETWEEN w.day_idx - 6 AND w.day_idx
        |GROUP BY 1, 2""".stripMargin),
    Entry("ev_bitmap_overlap", (s, d) => BitmapOps.bitmapOverlap(s, d), timed,
      """WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
        |n AS (SELECT event_type, count(*) AS n FROM tu GROUP BY 1),
        |pairs AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |         a.n AS n_a, b.n AS n_b
        |  FROM n a JOIN n b ON a.event_type < b.event_type),
        |inter AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |         count(*) AS n_both
        |  FROM tu a JOIN tu b
        |    ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT p.type_a, p.type_b, p.n_a, p.n_b,
        |       COALESCE(i.n_both, 0) AS n_both,
        |       CAST(COALESCE(i.n_both, 0) AS DOUBLE)
        |         / (p.n_a + p.n_b - COALESCE(i.n_both, 0)) AS jaccard
        |FROM pairs p LEFT JOIN inter i
        |  ON i.type_a = p.type_a AND i.type_b = p.type_b""".stripMargin),
    Entry("ev_bitmap_store", (s, d) => BitmapOps.bitmapStore(s, d), timed,
      """WITH b AS (SELECT min(epoch_ms(ts) // 86400000) AS d0,
        |                  max(epoch_ms(ts) // 86400000) AS d1 FROM events)
        |SELECT event_type, count(DISTINCT user_id) AS n_users,
        |       count(*) AS n_events,
        |       count(DISTINCT epoch_ms(ts) // 86400000) AS n_days
        |FROM events, b
        |WHERE epoch_ms(ts) // 86400000 >= (b.d0 + b.d1) // 2
        |  AND epoch_ms(ts) // 86400000 <= b.d1
        |GROUP BY 1""".stripMargin),
    Entry("ev_bloom_join", (s, d) => Sketches.bloomPrunedJoin(s, d), timed.copy(core = 15),
      """SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n_events
        |FROM events e
        |WHERE EXISTS (SELECT 1 FROM events x
        |              WHERE x.user_id = e.user_id AND x.event_type = 'error')
        |GROUP BY 1""".stripMargin),
    Entry("ev_retention", (s, d) => EventOps.retention(s, d), notTimed,
      """WITH daily AS (
        |  SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS day,
        |         strftime(CAST(ts AS DATE) + 1, '%Y-%m-%d') AS next_day
        |  FROM events)
        |SELECT a.day AS day, count(DISTINCT a.user_id) AS n_active,
        |  count(DISTINCT CASE WHEN b.day IS NOT NULL THEN a.user_id END) AS n_retained
        |FROM daily a LEFT JOIN daily b
        |  ON a.user_id = b.user_id AND a.next_day = b.day
        |GROUP BY 1""".stripMargin),
    Entry("ev_retention_cohorts", (s, d) => EventOps.retentionCohorts(s, d), notTimed,
      """WITH daily AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |firsts AS (SELECT user_id, min(day) AS day0 FROM daily GROUP BY 1)
        |SELECT strftime(day0, '%Y-%m-%d') AS cohort_day,
        |  CAST(day - day0 AS BIGINT) AS offset_days,
        |  count(DISTINCT user_id) AS n_users
        |FROM daily JOIN firsts USING (user_id)
        |WHERE day - day0 <= 7
        |GROUP BY 1, 2""".stripMargin),
    Entry("ev_salted_join", (s, d) => EventOps.saltedEnrichJoin(s, d), notTimed,
      s"""SELECT c_mktsegment, count(*) AS n_events, ${dsum("value")} AS sum_value
         |FROM events JOIN customer ON user_id = c_custkey GROUP BY 1""".stripMargin),
    Entry("ev_dwell", (s, d) => EventOps.dwell(s, d), notTimed,
      """SELECT user_id, count(*) AS n_gaps,
        |  CAST(sum(gap_ms) AS DOUBLE) / count(*) AS avg_gap_ms,
        |  max(gap_ms) AS max_gap_ms
        |FROM (
        |  SELECT user_id, epoch_ms(ts) - lag(epoch_ms(ts))
        |    OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS gap_ms
        |  FROM events) t
        |WHERE gap_ms IS NOT NULL
        |GROUP BY 1""".stripMargin),
    Entry("ev_division", (s, d) => Analytics.evDivision(s, d), notTimed,
      """SELECT user_id, count(DISTINCT event_type) AS n_user_types, count(*) AS n_events
        |FROM events
        |GROUP BY 1
        |HAVING count(DISTINCT event_type) = (SELECT count(DISTINCT event_type) FROM events)""".stripMargin),
    Entry("ev_range_join", (s, d) => EventOps.rangeJoinPriorHour(s, d), timed,
      // the bucketed band join must reproduce the naive inequality join
      s"""SELECT e.event_id, e.user_id, epoch_ms(e.ts) AS ts_ms,
         |  count(p.event_id) AS n_prior,
         |  CAST(coalesce(sum(CAST(p.value AS DECIMAL(18,4))), 0) AS DOUBLE) AS sum_prior
         |FROM events e LEFT JOIN events p
         |  ON p.user_id = e.user_id
         |  AND epoch_ms(p.ts) >= epoch_ms(e.ts) - 3600000
         |  AND epoch_ms(p.ts) < epoch_ms(e.ts)
         |WHERE e.event_type = 'error'
         |GROUP BY 1, 2, 3""".stripMargin),
    Entry("ev_histogram", (s, d) => EventOps.valueHistogram(s, d), timed,
      s"""SELECT CAST(floor(value / 50.0) AS BIGINT) AS bin,
         |  CAST(floor(value / 50.0) AS BIGINT) * 50.0 AS bin_lo,
         |  count(*) AS n_events, min(value) AS min_value, max(value) AS max_value,
         |  ${dsum("value")} AS sum_value
         |FROM events GROUP BY 1""".stripMargin),
    Entry("ev_session_window", (s, d) => EventOps.sessionWindowCounts(s, d), timed,
      // island detection with session_window's boundary rule (spec-pinned):
      // exact-gap spacing still merges; only > gap splits; end = last + gap
      s"""WITH base AS (
         |  SELECT user_id, event_id, value, epoch_ms(ts) AS ts_ms,
         |    CASE WHEN lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) IS NULL
         |           OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) > 1800000
         |         THEN 1 ELSE 0 END AS is_new
         |  FROM events),
         |s AS (
         |  SELECT user_id, ts_ms, value,
         |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
         |  FROM base)
         |SELECT user_id, min(ts_ms) AS start_ms, max(ts_ms) + 1800000 AS end_ms,
         |  count(*) AS n_events, ${dsum("value")} AS sum_value
         |FROM s GROUP BY user_id, sid""".stripMargin),
    Entry("ev_top_paths", (s, d) => EventOps.topPaths(s, d), timed,
      // transitions use sessionize's islands (> gap splits); deterministic
      // top-k tie-break on (count desc, from, to) in both engines
      """WITH s AS (
        |  SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms,
        |    CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
        |           OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)),
        |i AS (
        |  SELECT user_id, event_id, event_type, ts_ms,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM s),
        |t AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id, sid
        |      ORDER BY ts_ms, event_id) AS to_type
        |  FROM i)
        |SELECT from_type, to_type, count(*) AS n_transitions
        |FROM t WHERE to_type IS NOT NULL
        |GROUP BY 1, 2
        |ORDER BY n_transitions DESC, from_type, to_type
        |LIMIT 20""".stripMargin),
    Entry("ev_pattern", (s, d) => EventOps.patternMatch(s, d), timed,
      // most-recent-A-per-B with same-ms ties resolved A-first / largest id,
      // matching the batch window's (ts, is_b, event_id) running order
      """SELECT user_id, a_event_id, b_event_id, a_ts_ms, b_ts_ms,
        |  b_ts_ms - a_ts_ms AS lag_ms FROM (
        |  SELECT b.user_id, a.event_id AS a_event_id, b.event_id AS b_event_id,
        |    epoch_ms(a.ts) AS a_ts_ms, epoch_ms(b.ts) AS b_ts_ms,
        |    row_number() OVER (PARTITION BY b.event_id
        |      ORDER BY epoch_ms(a.ts) DESC, a.event_id DESC) AS rn
        |  FROM events b JOIN events a ON a.user_id = b.user_id
        |  WHERE b.event_type = 'purchase' AND a.event_type = 'click'
        |    AND epoch_ms(a.ts) <= epoch_ms(b.ts)
        |    AND epoch_ms(b.ts) - epoch_ms(a.ts) <= 3600000) t
        |WHERE rn = 1""".stripMargin),
    Entry("ev_dropout", (s, d) => EventOps.patternDropout(s, d), timed,
      // dropout complement: min-over-following-B computed unbounded (the
      // report shows WHEN the too-late conversion happened, if ever)
      """SELECT user_id, a_event_id, a_ts_ms, next_b_ms FROM (
        |  SELECT a.user_id, a.event_id AS a_event_id, epoch_ms(a.ts) AS a_ts_ms,
        |    (SELECT min(epoch_ms(b.ts)) FROM events b
        |      WHERE b.user_id = a.user_id AND b.event_type = 'purchase'
        |        AND epoch_ms(b.ts) >= epoch_ms(a.ts)) AS next_b_ms
        |  FROM events a WHERE a.event_type = 'click') t
        |WHERE next_b_ms IS NULL OR next_b_ms - a_ts_ms > 3600000""".stripMargin),
    Entry("ev_sequence", (s, d) => EventOps.sequenceMatch(s, d), timed,
      // two chained rn=1 picks, inner tie-break (a_ts, a_id) DESC, outer
      // (b_ts, b_id) DESC — the same "last in (ts, stage, id) order" rule
      """WITH qb AS (
        |  SELECT user_id, b_id, b_ts, a_id, a_ts FROM (
        |    SELECT b.user_id, b.event_id AS b_id, epoch_ms(b.ts) AS b_ts,
        |      a.event_id AS a_id, epoch_ms(a.ts) AS a_ts,
        |      row_number() OVER (PARTITION BY b.event_id
        |        ORDER BY epoch_ms(a.ts) DESC, a.event_id DESC) AS rn
        |    FROM events b JOIN events a ON a.user_id = b.user_id
        |    WHERE b.event_type = 'click' AND a.event_type = 'signup'
        |      AND epoch_ms(a.ts) <= epoch_ms(b.ts)
        |      AND epoch_ms(b.ts) - epoch_ms(a.ts) <= 86400000) t
        |  WHERE rn = 1)
        |SELECT user_id, a_event_id, b_event_id, c_event_id,
        |  a_ts_ms, b_ts_ms, c_ts_ms FROM (
        |  SELECT c.user_id, qb.a_id AS a_event_id, qb.b_id AS b_event_id,
        |    c.event_id AS c_event_id, qb.a_ts AS a_ts_ms, qb.b_ts AS b_ts_ms,
        |    epoch_ms(c.ts) AS c_ts_ms,
        |    row_number() OVER (PARTITION BY c.event_id
        |      ORDER BY qb.b_ts DESC, qb.b_id DESC) AS rn
        |  FROM events c JOIN qb ON qb.user_id = c.user_id
        |  WHERE c.event_type = 'purchase' AND qb.b_ts <= epoch_ms(c.ts)
        |    AND epoch_ms(c.ts) - qb.b_ts <= 3600000) t
        |WHERE rn = 1""".stripMargin),
    Entry("ev_inactive_users", (s, d) => EventOps.inactiveUsers(s, d), timed,
      """WITH u AS (
        |  SELECT user_id, min(epoch_ms(ts)) AS first_ms, max(epoch_ms(ts)) AS last_ms,
        |         count(*) AS n_events
        |  FROM events GROUP BY user_id),
        |e AS (SELECT max(epoch_ms(ts)) AS end_ms FROM events)
        |SELECT user_id, first_ms, last_ms, n_events,
        |  (end_ms - last_ms) // 86400000 AS days_inactive,
        |  (end_ms - last_ms) // 86400000 >= 7 AS churned
        |FROM u, e""".stripMargin),
    Entry("ev_markov", (s, d) => EventOps.markovChain(s, d), timed,
      // same transition CTEs as ev_top_paths; prob is ONE double division of
      // two exact counts — bit-equal in both engines
      """WITH s AS (
        |  SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms,
        |    CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
        |           OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)),
        |i AS (
        |  SELECT user_id, event_id, event_type, ts_ms,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM s),
        |t AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id, sid
        |      ORDER BY ts_ms, event_id) AS to_type
        |  FROM i),
        |c AS (
        |  SELECT from_type, to_type, count(*) AS n_transitions
        |  FROM t WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n_transitions,
        |  CAST(n_transitions AS DOUBLE) /
        |    CAST(sum(n_transitions) OVER (PARTITION BY from_type) AS DOUBLE) AS prob
        |FROM c""".stripMargin),
    // A81: per-user session-path likelihood under the A43 transition model
    Entry("ev_user_ll", (s, d) => EventOps.userLl(s, d), timed,
      // same transition CTEs; add-one smoothing over the type alphabet,
      // per-transition -ln P quantized to DECIMAL(18,9) (the C68 discipline)
      """WITH s AS (
        |  SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms,
        |    CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
        |           OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)),
        |i AS (
        |  SELECT user_id, event_id, event_type, ts_ms,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM s),
        |t AS (
        |  SELECT user_id, event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id, sid
        |      ORDER BY ts_ms, event_id) AS to_type
        |  FROM i),
        |p AS (SELECT user_id, from_type, to_type FROM t WHERE to_type IS NOT NULL),
        |c AS (SELECT from_type, to_type, count(*) AS n_ab FROM p GROUP BY 1, 2),
        |f AS (SELECT from_type, CAST(sum(n_ab) AS BIGINT) AS n_from FROM c GROUP BY 1),
        |v AS (SELECT CAST(count(DISTINCT event_type) AS DOUBLE) AS n_types FROM events),
        |m AS (
        |  SELECT from_type, to_type,
        |    CAST(-ln((n_ab + 1) / (n_from + n_types)) AS DECIMAL(18,9)) AS tok_nll
        |  FROM c JOIN f USING (from_type), v)
        |SELECT user_id, count(*) AS n_transitions,
        |  round(CAST(sum(tok_nll) AS DOUBLE) / count(*), 6) AS nll
        |FROM p JOIN m USING (from_type, to_type)
        |GROUP BY 1""".stripMargin),
    // A82: sample-ratio-mismatch guardrail for the experiment readout
    Entry("ev_ab_srm", (s, d) => EventOps.abSrm(s, d), notTimed,
      // chi-square(1) against the intended 50/50 split; same md5 assignment
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |v AS (SELECT CASE WHEN substr(md5('exp1:' || CAST(user_id AS VARCHAR)), 1, 2) < '80'
        |             THEN 'A' ELSE 'B' END AS variant FROM u),
        |g AS (SELECT count(*) FILTER (WHERE variant = 'A') AS n_a,
        |        count(*) FILTER (WHERE variant = 'B') AS n_b FROM v)
        |SELECT n_a, n_b, n_a + n_b AS n,
        |  (CAST(n_a AS DOUBLE) - (n_a + n_b) * 0.5) * (CAST(n_a AS DOUBLE) - (n_a + n_b) * 0.5)
        |    / ((n_a + n_b) * 0.5)
        |  + (CAST(n_b AS DOUBLE) - (n_a + n_b) * (1.0 - 0.5)) * (CAST(n_b AS DOUBLE) - (n_a + n_b) * (1.0 - 0.5))
        |    / ((n_a + n_b) * (1.0 - 0.5)) AS chi2,
        |  ((CAST(n_a AS DOUBLE) - (n_a + n_b) * 0.5) * (CAST(n_a AS DOUBLE) - (n_a + n_b) * 0.5)
        |    / ((n_a + n_b) * 0.5)
        |  + (CAST(n_b AS DOUBLE) - (n_a + n_b) * (1.0 - 0.5)) * (CAST(n_b AS DOUBLE) - (n_a + n_b) * (1.0 - 0.5))
        |    / ((n_a + n_b) * (1.0 - 0.5))) > CAST(3.841 AS DOUBLE) AS srm
        |FROM g WHERE n_a + n_b > 0""".stripMargin),
    // A83: Markov removal-effect attribution (rows-only: absorbing-chain
    // solve is not SQL-expressible; hand-solved chain spec-gated)
    Entry("ev_attribution_markov", (s, d) => EventOps.attributionMarkov(s, d)),
    // A84: sweep-line session-concurrency curve (change points only)
    Entry("ev_concurrency", (s, d) => EventOps.concurrency(s, d), timed,
      // sweep-line over the sessionize islands: +1 at the start minute, -1
      // one past the end; running sum over the minute census
      """WITH se AS (
        |  SELECT min(ts_ms) // 60000 AS m_start, max(ts_ms) // 60000 AS m_end
        |  FROM (
        |    SELECT user_id, ts_ms,
        |      CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |    FROM (
        |      SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
        |        CASE WHEN lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) IS NULL
        |               OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) > 1800000
        |             THEN 1 ELSE 0 END AS is_new
        |      FROM events) t1) t2
        |  GROUP BY user_id, session_id),
        |dl AS (
        |  SELECT minute, CAST(sum(d) AS BIGINT) AS delta FROM (
        |    SELECT m_start AS minute, 1 AS d FROM se
        |    UNION ALL SELECT m_end + 1, -1 FROM se) u
        |  GROUP BY 1)
        |SELECT minute * 60000 AS minute_ms, delta,
        |  CAST(sum(delta) OVER (ORDER BY minute
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_active
        |FROM dl QUALIFY delta <> 0""".stripMargin),
    Entry("ev_decay_counts", (s, d) => EventOps.decayCounts(s, d), timed,
      // decay weight 1/(1<<k): integer shift + one IEEE division (never pow),
      // double·2^-k scaling is exact, sums decimal-quantized — engine-portable
      """WITH ev AS (
        |  SELECT event_type, value, epoch_ms(ts) // 86400000 AS day_num
        |  FROM events),
        |e AS (SELECT max(day_num) AS end_day FROM ev),
        |wv AS (
        |  SELECT event_type, value,
        |    1.0 / CAST(CAST(1 AS BIGINT) << CAST(LEAST((end_day - day_num) // 7, 50) AS INT)
        |               AS DOUBLE) AS w
        |  FROM ev, e)
        |SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(w AS DECIMAL(18,9))) AS DOUBLE) AS decayed_n,
        |  CAST(sum(CAST(value * w AS DECIMAL(18,9))) AS DOUBLE) AS decayed_value
        |FROM wv GROUP BY 1""".stripMargin),
    Entry("ev_moving_avg", (s, d) => EventOps.movingAvg(s, d), timed,
      // RANGE frame anchored on the numeric day; frame sum decimal-quantized
      // so the ≤N-value average is order- and engine-independent
      s"""WITH daily AS (
         |  SELECT epoch_ms(ts) // 86400000 AS day_num, count(*) AS n_events,
         |         ${dsum("value")} AS sum_value
         |  FROM events GROUP BY 1)
         |SELECT day_num, n_events, sum_value,
         |  round(CAST(sum(CAST(sum_value AS DECIMAL(18,6))) OVER w AS DOUBLE)
         |        / count(*) OVER w, 6) AS avg_trailing
         |FROM daily
         |WINDOW w AS (ORDER BY day_num RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin),
    Entry("ev_type_cooccur", (s, d) => EventOps.typeCooccurrence(s, d), timed,
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  count(DISTINCT a.user_id) AS n_users
        |FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
        |GROUP BY 1, 2""".stripMargin),
    Entry("ev_profile", (s, d) => TextOps.profileEvents(s, d), notTimed,
      """SELECT count(*) AS n_rows,
        |  CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_user_id,
        |  CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_event_type,
        |  CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_value,
        |  count(DISTINCT user_id) AS distinct_users,
        |  count(DISTINCT event_type) AS distinct_types,
        |  min(value) AS min_value, max(value) AS max_value,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events""".stripMargin),
    // A14 streaming path (bounded run, verified by the batch oracle) + C12
    Entry("stream_windowed_counts", (s, d) =>
      graft.streaming.EventPipeline.windowedCountsViaStream(s, d), notTimed,
      // dedup-by-event_id CTE mirrors the production path's
      // dropDuplicatesWithinWatermark: the bounded replay is a SINGLE
      // micro-batch (no maxFilesPerTrigger on the staged read), where
      // within-watermark dedup equals global first-occurrence-per-id dedup —
      // the equivalence this oracle is pinned to. A multi-batch replay with
      // duplicate ids farther apart than the 10-minute horizon would keep
      // both copies and belongs to StreamingSpec, not this gate.
      s"""WITH ev AS (
         |  SELECT ts, event_type, value FROM (
         |    SELECT ts, event_type, value,
         |      row_number() OVER (PARTITION BY event_id ORDER BY epoch_ms(ts)) AS rn
         |    FROM events) t WHERE rn = 1)
         |SELECT epoch_ms(date_trunc('hour', ts)) AS window_start_ms, event_type,
         |  count(*) AS n_events, ${dsum("value")} AS sum_value
         |FROM ev GROUP BY 1, 2""".stripMargin),
    // A80f: the LIVE trailing-7-day actives series through a real bounded
    // streaming run (sliding windows × exact bitmap distinct in streaming
    // state) — the batch COUNT(DISTINCT) oracle verifies the whole
    // stream path: staging, watermark close, bitmap union algebra
    Entry("stream_sliding_distinct", (s, d) =>
      graft.streaming.EventPipeline.slidingDistinctViaStream(s, d), notTimed,
      // sliding 7d/1d windows: an event at ts belongs to exactly the 7
      // day-aligned window starts day(ts)-6..day(ts); same single-batch
      // dedup equivalence note as stream_windowed_counts above
      """WITH ev AS (
        |  SELECT ts, user_id, event_type FROM (
        |    SELECT ts, user_id, event_type,
        |      row_number() OVER (PARTITION BY event_id ORDER BY epoch_ms(ts)) AS rn
        |    FROM events) t WHERE rn = 1),
        |w AS (
        |  SELECT event_type, user_id,
        |    epoch_ms(date_trunc('day', ts)) - 86400000 * k AS win_start_ms
        |  FROM ev CROSS JOIN range(0, 7) AS r(k))
        |SELECT win_start_ms, event_type,
        |  count(DISTINCT user_id) AS n_users, count(*) AS n_events
        |FROM w GROUP BY 1, 2""".stripMargin),
  )

  /** B. analytics breadth: TPC-H shapes and data-quality checks. */
  private def analyticsEntries: Seq[Entry] = Seq(
    Entry("q1_pricing", (s, d) => Analytics.q1Pricing(s, d), timed.copy(core = 1, scaleUp = 1),
      s"""SELECT l_returnflag, l_linestatus,
         |  ${dsum("l_quantity")} AS sum_qty, ${dsum("l_extendedprice")} AS sum_base_price,
         |  $rev AS sum_disc_price,
         |  ${dsum("l_quantity")} / count(*) AS avg_qty,
         |  CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_disc,
         |  count(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         |GROUP BY 1, 2""".stripMargin),
    Entry("q3_shipping", (s, d) => Analytics.q3Shipping(s, d), timed.copy(core = 2, scaleUp = 2),
      s"""SELECT l_orderkey, order_day, revenue FROM (
         |  SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_day, $rev AS revenue
         |  FROM customer, orders, lineitem
         |  WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
         |    AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
         |    AND l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
         |  GROUP BY 1, 2) t
         |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin),
    Entry("q5_local", (s, d) => Analytics.q5Local(s, d), timed.copy(core = 3),
      s"""SELECT n_name, $rev AS revenue
         |FROM region, nation, customer, orders, lineitem
         |WHERE r_name = 'ASIA' AND n_regionkey = r_regionkey AND c_nationkey = n_nationkey
         |  AND o_custkey = c_custkey AND l_orderkey = o_orderkey
         |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         |GROUP BY 1""".stripMargin),
    Entry("q_window_running", (s, d) => Analytics.windowRunning(s, d), timed,
      """SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_day,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS DOUBLE) AS cum_spend
        |FROM orders""".stripMargin),
    Entry("q_semi_join", (s, d) => Analytics.semiJoin(s, d), notTimed,
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin),
    Entry("q_anti_join", (s, d) => Analytics.antiJoin(s, d), notTimed,
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)""".stripMargin),
    Entry("q_topk_parts", (s, d) => Analytics.topkParts(s, d), timed,
      s"""SELECT p_partkey, p_name, revenue, n_lines FROM (
         |  SELECT p_partkey, p_name, $rev AS revenue, count(*) AS n_lines
         |  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1, 2) t
         |ORDER BY revenue DESC, p_partkey LIMIT 10""".stripMargin),
    Entry("q_rollup", (s, d) => Analytics.rollupFlags(s, d), notTimed,
      s"""SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
         |  COALESCE(l_linestatus, 'ALL') AS linestatus,
         |  ${dsum("l_quantity")} AS sum_qty, count(*) AS n_lines
         |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin),
    Entry("q_distinct_agg", (s, d) => Analytics.distinctAgg(s, d), notTimed,
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
        |  count(DISTINCT strftime(ts, '%Y-%m-%d')) AS n_days, count(*) AS n_events
        |FROM events GROUP BY 1""".stripMargin),
    Entry("q17_small_qty", (s, d) => Analytics.q17SmallQty(s, d), timed.copy(core = 4),
      s"""SELECT ${dsum("l_extendedprice")} AS total_price, count(*) AS n_lines
         |FROM lineitem JOIN (
         |  SELECT l_partkey,
         |    CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_qty
         |  FROM lineitem GROUP BY 1) a USING (l_partkey)
         |WHERE l_quantity < avg_qty * 0.5""".stripMargin),
    Entry("q4_late_orders", (s, d) => Analytics.q4LateOrders(s, d), notTimed,
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_linestatus = 'F'
        |                AND l_quantity > 45.0)
        |GROUP BY 1""".stripMargin),
    Entry("q12_buckets", (s, d) => Analytics.q12Buckets(s, d), notTimed,
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN l_quantity >= 25.0 THEN 1 ELSE 0 END) AS BIGINT) AS high_qty_lines,
        |  CAST(sum(CASE WHEN l_quantity < 25.0 THEN 1 ELSE 0 END) AS BIGINT) AS low_qty_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY 1""".stripMargin),
    Entry("q14_promo_share", (s, d) => Analytics.q14PromoShare(s, d), notTimed,
      """SELECT
        |  CAST(sum(CASE WHEN p_type LIKE 'STANDARD%'
        |    THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))
        |    ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) * 100.0 /
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
        |    AS promo_share_pct,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey""".stripMargin),
    Entry("q19_or_predicates", (s, d) => Analytics.q19OrPredicates(s, d), notTimed,
      s"""SELECT $rev AS revenue, count(*) AS n_lines
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1.0 AND 20.0)
         |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10.0 AND 35.0)
         |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20.0 AND 50.0)""".stripMargin),
    Entry("q_window_rank", (s, d) => Analytics.windowRankFamily(s, d), notTimed.copy(scaleUp = 4),
      """SELECT o_custkey, o_orderkey, o_totalprice, rnk, drnk, quartile FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    rank() OVER w AS rnk, dense_rank() OVER w AS drnk, ntile(4) OVER w AS quartile
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)) t
        |WHERE rnk <= 3""".stripMargin),
    Entry("q6_forecast", (s, d) => Analytics.q6Forecast(s, d), notTimed,
      """SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE)
        |         AS revenue_effect,
        |       count(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24.0""".stripMargin),
    Entry("q10_returns", (s, d) => Analytics.q10Returns(s, d), notTimed,
      """SELECT c_custkey, c_name, c_mktsegment, revenue FROM (
        |  SELECT c_custkey, c_name, c_mktsegment,
        |    CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
        |      AS revenue
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |    JOIN customer ON o_custkey = c_custkey
        |  WHERE l_returnflag = 'R'
        |  GROUP BY 1, 2, 3) t
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin),
    Entry("q_pivot_daily", (s, d) => Analytics.pivotDaily(s, d), notTimed,
      """SELECT day,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
        |FROM (SELECT strftime(ts, '%Y-%m-%d') AS day, event_type FROM events) t
        |GROUP BY 1""".stripMargin),
    Entry("q13_custdist", (s, d) => Analytics.q13Custdist(s, d), timed,
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY 1) t
        |GROUP BY 1""".stripMargin),
    Entry("q7_volume_shipping", (s, d) => Analytics.q7VolumeShipping(s, d), timed.copy(core = 5),
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |  year(l_shipdate) AS l_year, $rev AS revenue, count(*) AS n_lines
         |FROM lineitem
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |WHERE n1.n_name <> n2.n_name
         |GROUP BY 1, 2, 3""".stripMargin),
    Entry("q22_wealthy_inactive", (s, d) => Analytics.q22WealthyInactive(s, d), notTimed,
      s"""SELECT c_nationkey, count(*) AS n_cust, ${dsum("c_acctbal")} AS total_bal
         |FROM customer c
         |WHERE c_acctbal > (
         |    SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / count(*)
         |    FROM customer WHERE c_acctbal > 0.0)
         |  AND (SELECT count(*) FROM orders WHERE o_custkey = c.c_custkey) < 5
         |GROUP BY 1""".stripMargin),
    Entry("q_window_dist", (s, d) => Analytics.windowDistFamily(s, d), notTimed,
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  round(percent_rank() OVER w, 6) AS pct_rank,
        |  round(cume_dist() OVER w, 6) AS cume,
        |  nth_value(o_orderkey, 2) OVER w AS second_order
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)""".stripMargin),
    Entry("q18_large_orders", (s, d) => Analytics.q18LargeOrders(s, d), notTimed.copy(scaleUp = 3),
      s"""SELECT o_orderkey, o_custkey, o_totalprice, total_qty
         |FROM orders JOIN (
         |  SELECT l_orderkey, ${dsum("l_quantity")} AS total_qty
         |  FROM lineitem GROUP BY 1 HAVING ${dsum("l_quantity")} > 150.0) t
         |  ON o_orderkey = t.l_orderkey""".stripMargin),
    Entry("q15_top_supplier", (s, d) => Analytics.q15TopSupplier(s, d), notTimed,
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
        |      AS total_revenue
        |  FROM lineitem GROUP BY 1)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)""".stripMargin),
    Entry("q11_concentration", (s, d) => Analytics.q11ValueConcentration(s, d), notTimed,
      s"""SELECT c_nationkey, nation_bal, n_cust, share FROM (
         |  SELECT c_nationkey, ${dsum("c_acctbal")} AS nation_bal, count(*) AS n_cust,
         |    ${dsum("c_acctbal")} /
         |      (SELECT ${dsum("c_acctbal")} FROM customer) AS share
         |  FROM customer GROUP BY 1) t
         |WHERE share > 0.03""".stripMargin),
    Entry("q2_min_cost", (s, d) => Analytics.q2MinCostSupplier(s, d), notTimed,
      """WITH offers AS (
        |  SELECT p_partkey, p_name, l_suppkey,
        |    l_extendedprice / l_quantity AS unit_price
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#1'),
        |mins AS (SELECT p_partkey AS mk, min(unit_price) AS min_price FROM offers GROUP BY 1)
        |SELECT p_partkey, p_name, min_price,
        |  min(l_suppkey) AS best_suppkey, count(*) AS n_offers
        |FROM offers JOIN mins ON p_partkey = mk AND unit_price = min_price
        |GROUP BY 1, 2, 3""".stripMargin),
    Entry("q20_nested_semi", (s, d) => Analytics.q20NestedSemi(s, d), notTimed,
      """SELECT s_suppkey, s_name, s_nationkey FROM supplier
        |WHERE EXISTS (
        |  SELECT 1 FROM lineitem
        |  WHERE l_suppkey = s_suppkey AND l_quantity >= 49.0
        |    AND EXISTS (SELECT 1 FROM part
        |                WHERE p_partkey = l_partkey AND p_size > 48))""".stripMargin),
    Entry("q16_supplier_variety", (s, d) => Analytics.q16SupplierVariety(s, d), notTimed,
      """SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_type NOT LIKE 'STANDARD%'
        |GROUP BY 1, 2""".stripMargin),
    Entry("q21_waiting_suppliers", (s, d) => Analytics.q21WaitingSuppliers(s, d),
      timed.copy(core = 6),
      // Q21 shape: correlated EXISTS + NOT EXISTS against the same fact,
      // correlating on (orderkey =, suppkey <>) — the Spark side runs it as
      // a left-semi then left-anti join over the shared late-line set.
      """SELECT s_suppkey, s_name, count(*) AS numwait
        |FROM lineitem l1
        |JOIN orders ON l1.l_orderkey = o_orderkey
        |JOIN supplier ON l1.l_suppkey = s_suppkey
        |WHERE o_orderstatus = 'F'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 100 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > o_orderdate + INTERVAL 100 DAY)
        |GROUP BY 1, 2
        |ORDER BY numwait DESC, s_suppkey
        |LIMIT 20""".stripMargin),
    Entry("q8_market_share", (s, d) => Analytics.q8MarketShare(s, d), timed.copy(core = 7),
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(sum(CASE WHEN n2.n_name = 'NATION_5'
        |    THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))
        |    ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) /
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
        |    AS mkt_share,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |JOIN region ON n1.n_regionkey = r_regionkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
        |GROUP BY 1""".stripMargin),
    Entry("q9_profit_nation", (s, d) => Analytics.q9ProfitByNation(s, d), timed.copy(core = 8),
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |    - 0.2 * p_retailprice * l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_profit,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%widget%'
        |GROUP BY 1, 2""".stripMargin),
    Entry("q_cube", (s, d) => Analytics.cubeFlags(s, d), timed.copy(scale10 = Watch, core = 9),
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |  coalesce(l_linestatus, 'ALL') AS linestatus,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n_lines
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin),
    Entry("q_grouping_sets", (s, d) => Analytics.groupingSets(s, d), notTimed,
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |  coalesce(l_linestatus, 'ALL') AS linestatus,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n_lines
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_returnflag, l_linestatus))""".stripMargin),
    Entry("qa_orphans", (s, d) => Analytics.qaOrphans(s, d), timed,
      """SELECT 'lineitem->orders' AS relation,
        |  (SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS n_orphans
        |UNION ALL
        |SELECT 'lineitem->part',
        |  (SELECT count(*) FROM lineitem WHERE l_partkey NOT IN (SELECT p_partkey FROM part))
        |UNION ALL
        |SELECT 'orders->customer',
        |  (SELECT count(*) FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))""".stripMargin),
    // B36 Deequ-style constraint suite (one fused agg pass per table)
    Entry("qa_constraints", (s, d) => Analytics.qaConstraints(s, d), timed,
      // B36: every metric is an exact integer-count fraction (one IEEE
      // division) — no rounding needed for cross-engine equality
      """WITH ev AS (SELECT count(*) AS n, count(DISTINCT event_id) AS d_id,
        |    sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS null_id,
        |    sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS null_user,
        |    sum(CASE WHEN event_type IS NOT NULL AND event_type NOT IN
        |      ('click','view','signup','purchase','error') THEN 1 ELSE 0 END) AS bad_type,
        |    sum(CASE WHEN value IS NOT NULL AND value < 0 THEN 1 ELSE 0 END) AS neg_value
        |  FROM events),
        |ord AS (SELECT count(*) AS n, count(DISTINCT o_orderkey) AS d_key,
        |    sum(CASE WHEN o_totalprice IS NOT NULL AND o_totalprice <= 0 THEN 1 ELSE 0 END) AS bad_price,
        |    sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS orphans
        |  FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c ON o.o_custkey = c.c_custkey),
        |li AS (SELECT count(*) AS n,
        |    sum(CASE WHEN l_quantity IS NOT NULL AND NOT (l_quantity >= 1 AND l_quantity <= 50)
        |      THEN 1 ELSE 0 END) AS bad_qty,
        |    sum(CASE WHEN l_returnflag IS NOT NULL AND l_returnflag NOT IN ('A','N','R')
        |      THEN 1 ELSE 0 END) AS bad_flag,
        |    sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS orphans
        |  FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o ON l.l_orderkey = o.o_orderkey),
        |doc AS (SELECT count(*) AS n,
        |    sum(CASE WHEN text IS NULL OR length(text) = 0 THEN 1 ELSE 0 END) AS empty_text
        |  FROM documents),
        |m AS (
        |  SELECT 'events.event_id.unique' AS check_name,
        |    CASE WHEN n = 0 THEN 0.0 ELSE CAST(n - d_id AS DOUBLE) / CAST(n AS DOUBLE) END AS metric FROM ev
        |  UNION ALL SELECT 'events.event_id.complete',
        |    CASE WHEN n = 0 THEN 0.0 ELSE CAST(null_id AS DOUBLE) / CAST(n AS DOUBLE) END FROM ev
        |  UNION ALL SELECT 'events.user_id.complete',
        |    CASE WHEN n = 0 THEN 0.0 ELSE CAST(null_user AS DOUBLE) / CAST(n AS DOUBLE) END FROM ev
        |  UNION ALL SELECT 'events.event_type.in_domain',
        |    CASE WHEN n = 0 THEN 0.0 ELSE CAST(bad_type AS DOUBLE) / CAST(n AS DOUBLE) END FROM ev
        |  UNION ALL SELECT 'events.value.non_negative',
        |    CASE WHEN n = 0 THEN 0.0 ELSE CAST(neg_value AS DOUBLE) / CAST(n AS DOUBLE) END FROM ev
        |  UNION ALL SELECT 'orders.o_orderkey.unique',
        |    CASE WHEN n = 0 THEN 0.0 ELSE CAST(n - d_key AS DOUBLE) / CAST(n AS DOUBLE) END FROM ord
        |  UNION ALL SELECT 'orders.o_totalprice.positive',
        |    CASE WHEN n = 0 THEN 0.0 ELSE CAST(bad_price AS DOUBLE) / CAST(n AS DOUBLE) END FROM ord
        |  UNION ALL SELECT 'orders.o_custkey.refs_customer',
        |    CASE WHEN n = 0 THEN 0.0 ELSE CAST(orphans AS DOUBLE) / CAST(n AS DOUBLE) END FROM ord
        |  UNION ALL SELECT 'lineitem.l_quantity.in_range',
        |    CASE WHEN n = 0 THEN 0.0 ELSE CAST(bad_qty AS DOUBLE) / CAST(n AS DOUBLE) END FROM li
        |  UNION ALL SELECT 'lineitem.l_returnflag.in_domain',
        |    CASE WHEN n = 0 THEN 0.0 ELSE CAST(bad_flag AS DOUBLE) / CAST(n AS DOUBLE) END FROM li
        |  UNION ALL SELECT 'lineitem.l_orderkey.refs_orders',
        |    CASE WHEN n = 0 THEN 0.0 ELSE CAST(orphans AS DOUBLE) / CAST(n AS DOUBLE) END FROM li
        |  UNION ALL SELECT 'documents.text.complete',
        |    CASE WHEN n = 0 THEN 0.0 ELSE CAST(empty_text AS DOUBLE) / CAST(n AS DOUBLE) END FROM doc)
        |SELECT check_name, metric, metric = 0.0 AS passed FROM m""".stripMargin),
    // B37: per-(table, key) join-skew census — max/mean + heavy hitter
    Entry("qa_key_skew", (s, d) => Analytics.keySkew(s, d), timed,
      // struct-max tie-break = (cnt, key) lexicographic max in both engines
      """WITH s AS (
        |  SELECT 'lineitem.l_orderkey' AS entity, CAST(l_orderkey AS VARCHAR) AS k FROM lineitem
        |  UNION ALL SELECT 'orders.o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
        |  UNION ALL SELECT 'events.user_id', CAST(user_id AS VARCHAR) FROM events
        |  UNION ALL SELECT 'documents.source', CAST(source AS VARCHAR) FROM documents),
        |c AS (SELECT entity, k, count(*) AS cnt FROM s WHERE k IS NOT NULL
        |      GROUP BY 1, 2),
        |g AS (SELECT entity, CAST(sum(cnt) AS BIGINT) AS n_rows,
        |        count(*) AS n_keys,
        |        max(struct_pack(cnt := cnt, k := k)) AS m
        |      FROM c GROUP BY 1)
        |SELECT entity, n_rows, n_keys,
        |  CAST(struct_extract(m, 'cnt') AS BIGINT) AS max_count,
        |  struct_extract(m, 'k') AS top_key,
        |  CAST(struct_extract(m, 'cnt') * n_keys AS DOUBLE)
        |    / CAST(n_rows AS DOUBLE) AS skew
        |FROM g""".stripMargin),
    // B38: per-column completeness/cardinality profile (one pass per table)
    Entry("qa_profile", (s, d) => Analytics.columnProfile(s, d), notTimed,
      // per-column counts: all integers, one row per (table, column)
      """SELECT 'events' AS entity, 'user_id' AS "column", count(*) AS n_rows,
        |  count(*) - count(user_id) AS n_nulls, count(DISTINCT user_id) AS n_distinct FROM events
        |UNION ALL SELECT 'events', 'event_type', count(*), count(*) - count(event_type),
        |  count(DISTINCT event_type) FROM events
        |UNION ALL SELECT 'events', 'value', count(*), count(*) - count(value),
        |  count(DISTINCT value) FROM events
        |UNION ALL SELECT 'orders', 'o_custkey', count(*), count(*) - count(o_custkey),
        |  count(DISTINCT o_custkey) FROM orders
        |UNION ALL SELECT 'orders', 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
        |  count(DISTINCT o_orderstatus) FROM orders
        |UNION ALL SELECT 'orders', 'o_totalprice', count(*), count(*) - count(o_totalprice),
        |  count(DISTINCT o_totalprice) FROM orders
        |UNION ALL SELECT 'documents', 'source', count(*), count(*) - count(source),
        |  count(DISTINCT source) FROM documents
        |UNION ALL SELECT 'documents', 'lang', count(*), count(*) - count(lang),
        |  count(DISTINCT lang) FROM documents
        |UNION ALL SELECT 'documents', 'text', count(*), count(*) - count(text),
        |  count(DISTINCT text) FROM documents""".stripMargin),
    // B39: keyed snapshot diff (added/removed/changed between two
    // time-cuts of the A2 latest-state view; unchanged rows suppressed)
    Entry("qa_snapshot_diff", (s, d) => Analytics.snapshotDiff(s, d), timed,
      // B39: the struct-max latest-state view mirrors as a row_number over
      // the same (ts_ms, event_type, value) DESC ordering; the diff verdict
      // repeats Spark's OR chain verbatim (null-compare semantics included)
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ts_ms, event_type, value
        |           FROM events),
        |m AS (SELECT CAST(floor(CAST(min(ts_ms) + max(ts_ms) AS DOUBLE) / 2.0)
        |        AS BIGINT) AS mid FROM e),
        |o AS (SELECT user_id, ts_ms AS old_ts_ms, event_type AS old_type,
        |        value AS old_value FROM (
        |        SELECT e.*, row_number() OVER (PARTITION BY user_id
        |          ORDER BY ts_ms DESC, event_type DESC, value DESC) AS rn
        |        FROM e, m WHERE ts_ms < mid) t WHERE rn = 1),
        |w AS (SELECT user_id, ts_ms AS new_ts_ms, event_type AS new_type,
        |        value AS new_value FROM (
        |        SELECT e.*, row_number() OVER (PARTITION BY user_id
        |          ORDER BY ts_ms DESC, event_type DESC, value DESC) AS rn
        |        FROM e) t WHERE rn = 1),
        |d AS (SELECT coalesce(o.user_id, w.user_id) AS user_id,
        |        old_ts_ms, old_type, old_value, new_ts_ms, new_type, new_value,
        |        CASE WHEN old_ts_ms IS NULL THEN 'added'
        |             WHEN new_ts_ms IS NULL THEN 'removed'
        |             WHEN old_ts_ms <> new_ts_ms OR old_type <> new_type
        |               OR old_value <> new_value THEN 'changed'
        |             ELSE 'unchanged' END AS status
        |      FROM o FULL OUTER JOIN w ON o.user_id = w.user_id)
        |SELECT user_id, status, old_ts_ms, old_type, old_value,
        |  new_ts_ms, new_type, new_value
        |FROM d WHERE status <> 'unchanged'""".stripMargin),
    // B40: header/detail reconciliation (o_totalprice vs lineitem rollup)
    Entry("qa_reconcile", (s, d) => Analytics.reconcile(s, d), timed,
      // B40: per-line quantization DECIMAL(18,6) before the exact sums (the
      // q1 revenue discipline); all verdict arithmetic exact decimal
      """WITH li AS (
        |  SELECT l_orderkey,
        |    sum(CAST(l_extendedprice * (1.0 + l_tax) * (1.0 - l_discount)
        |        AS DECIMAL(18,6))) AS recomputed
        |  FROM lineitem GROUP BY 1),
        |j AS (
        |  SELECT o.o_orderkey,
        |    CASE WHEN li.recomputed IS NULL THEN 'no_lineitems'
        |         ELSE 'matched' END AS status,
        |    CASE WHEN li.recomputed IS NOT NULL
        |         THEN CAST(o.o_totalprice AS DECIMAL(18,6)) - li.recomputed
        |    END AS delta
        |  FROM orders o LEFT JOIN li ON o.o_orderkey = li.l_orderkey)
        |SELECT status, count(*) AS n_orders,
        |  count(*) FILTER (WHERE abs(delta) > CAST(0.01 AS DECIMAL(18,6)))
        |    AS n_mismatch,
        |  CAST(max(abs(delta)) AS DOUBLE) AS max_abs_delta,
        |  CAST(sum(delta) AS DOUBLE) AS sum_delta
        |FROM j GROUP BY 1""".stripMargin),
    // B41 Benford first-digit audit over the money columns
    Entry("qa_benford", (s, d) => Analytics.benford(s, d), timed,
      // B41: first digit from the shortest-round-trip string rendering
      // (both engines agree on the leading significant digit); expectation
      // quantized DECIMAL(18,9) over libm log10
      """WITH src AS (
        |  SELECT 'o_totalprice' AS col_name,
        |    regexp_extract(CAST(o_totalprice AS VARCHAR), '[1-9]') AS digit
        |  FROM orders
        |  UNION ALL
        |  SELECT 'l_extendedprice',
        |    regexp_extract(CAST(l_extendedprice AS VARCHAR), '[1-9]')
        |  FROM lineitem),
        |cnt AS (
        |  SELECT col_name, CAST(digit AS INT) AS digit, count(*) AS n
        |  FROM src WHERE digit <> '' GROUP BY 1, 2),
        |tot AS (SELECT col_name, sum(n) AS t FROM cnt GROUP BY 1)
        |SELECT c.col_name, c.digit, c.n,
        |  CAST(c.n AS DOUBLE) / CAST(t.t AS DOUBLE) AS obs_frac,
        |  CAST(CAST(log10(1.0 + 1.0 / CAST(c.digit AS DOUBLE))
        |    AS DECIMAL(18,9)) AS DOUBLE) AS exp_frac,
        |  CAST(c.n AS DOUBLE) / CAST(t.t AS DOUBLE)
        |    - CAST(CAST(log10(1.0 + 1.0 / CAST(c.digit AS DOUBLE))
        |        AS DECIMAL(18,9)) AS DOUBLE) AS dev
        |FROM cnt c JOIN tot t USING (col_name)""".stripMargin),
    // B41b Nigrini MAD conformity verdict over the digit census
    Entry("qa_benford_mad", (s, d) => Analytics.benfordMad(s, d), timed,
      // B41b: |dev| per digit quantized DECIMAL(18,9), order-free sum, the
      // published Nigrini bands as exact compares
      """WITH src AS (
        |  SELECT 'o_totalprice' AS col_name,
        |    regexp_extract(CAST(o_totalprice AS VARCHAR), '[1-9]') AS digit
        |  FROM orders
        |  UNION ALL
        |  SELECT 'l_extendedprice',
        |    regexp_extract(CAST(l_extendedprice AS VARCHAR), '[1-9]')
        |  FROM lineitem),
        |cnt AS (
        |  SELECT col_name, CAST(digit AS INT) AS digit, count(*) AS n
        |  FROM src WHERE digit <> '' GROUP BY 1, 2),
        |tot AS (SELECT col_name, sum(n) AS t FROM cnt GROUP BY 1),
        |devs AS (
        |  SELECT c.col_name,
        |    CAST(abs(CAST(c.n AS DOUBLE) / CAST(t.t AS DOUBLE)
        |      - CAST(CAST(log10(1.0 + 1.0 / CAST(c.digit AS DOUBLE))
        |          AS DECIMAL(18,9)) AS DOUBLE)) AS DECIMAL(18,9)) AS dv
        |  FROM cnt c JOIN tot t USING (col_name)),
        |agg AS (
        |  SELECT col_name, count(*) AS n_digits,
        |    CAST(sum(dv) AS DOUBLE) / 9.0 AS mad
        |  FROM devs GROUP BY 1)
        |SELECT col_name, n_digits, mad,
        |  CASE WHEN mad <= 0.006 THEN 'close'
        |       WHEN mad <= 0.012 THEN 'acceptable'
        |       WHEN mad <= 0.015 THEN 'marginal'
        |       ELSE 'nonconformity' END AS conformity
        |FROM agg""".stripMargin),
    // B42 population stability index (first vs second half, per type)
    Entry("qa_psi", (s, d) => Analytics.psi(s, d), timed,
      // B42: reference-half decile edges by exact rank selection; bucket by
      // exact comparisons; each PSI term quantized DECIMAL(18,9) over libm ln
      """WITH ev AS (
        |  SELECT event_type, value, epoch_ms(ts) // 86400000 AS d
        |  FROM events),
        |mid AS (
        |  SELECT event_type, (min(d) + max(d)) // 2 AS mid
        |  FROM ev GROUP BY 1),
        |halves AS (
        |  SELECT e.event_type, e.value, e.d <= m.mid AS is_ref
        |  FROM ev e JOIN mid m USING (event_type)),
        |ref AS (
        |  SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM halves WHERE is_ref),
        |edges AS (
        |  SELECT r.event_type, list(r.value ORDER BY g.j) AS es
        |  FROM ref r, generate_series(1, 9) g(j)
        |  WHERE r.rn = CAST(ceil(r.n * g.j / 10.0) AS BIGINT)
        |  GROUP BY 1),
        |binned AS (
        |  SELECT h.event_type,
        |    1 + len(list_filter(e.es, x -> h.value > x)) AS bin,
        |    count(*) FILTER (WHERE h.is_ref) AS n_ref,
        |    count(*) FILTER (WHERE NOT h.is_ref) AS n_cur
        |  FROM halves h JOIN edges e USING (event_type)
        |  GROUP BY 1, 2),
        |tots AS (
        |  SELECT event_type, bin, n_ref, n_cur,
        |    sum(n_ref) OVER (PARTITION BY event_type) AS tot_ref,
        |    sum(n_cur) OVER (PARTITION BY event_type) AS tot_cur
        |  FROM binned)
        |SELECT event_type, CAST(max(tot_ref) AS BIGINT) AS n_ref,
        |  CAST(max(tot_cur) AS BIGINT) AS n_cur,
        |  CAST(sum(CAST(
        |    ((CAST(n_cur AS DOUBLE) + 0.5) / (CAST(tot_cur AS DOUBLE) + 5.0)
        |      - (CAST(n_ref AS DOUBLE) + 0.5) / (CAST(tot_ref AS DOUBLE) + 5.0))
        |    * ln(((CAST(n_cur AS DOUBLE) + 0.5) / (CAST(tot_cur AS DOUBLE) + 5.0))
        |        / ((CAST(n_ref AS DOUBLE) + 0.5) / (CAST(tot_ref AS DOUBLE) + 5.0)))
        |    AS DECIMAL(18,9))) AS DOUBLE) AS psi,
        |  CASE WHEN CAST(sum(CAST(
        |    ((CAST(n_cur AS DOUBLE) + 0.5) / (CAST(tot_cur AS DOUBLE) + 5.0)
        |      - (CAST(n_ref AS DOUBLE) + 0.5) / (CAST(tot_ref AS DOUBLE) + 5.0))
        |    * ln(((CAST(n_cur AS DOUBLE) + 0.5) / (CAST(tot_cur AS DOUBLE) + 5.0))
        |        / ((CAST(n_ref AS DOUBLE) + 0.5) / (CAST(tot_ref AS DOUBLE) + 5.0)))
        |    AS DECIMAL(18,9))) AS DOUBLE) < 0.1 THEN 'stable'
        |  WHEN CAST(sum(CAST(
        |    ((CAST(n_cur AS DOUBLE) + 0.5) / (CAST(tot_cur AS DOUBLE) + 5.0)
        |      - (CAST(n_ref AS DOUBLE) + 0.5) / (CAST(tot_ref AS DOUBLE) + 5.0))
        |    * ln(((CAST(n_cur AS DOUBLE) + 0.5) / (CAST(tot_cur AS DOUBLE) + 5.0))
        |        / ((CAST(n_ref AS DOUBLE) + 0.5) / (CAST(tot_ref AS DOUBLE) + 5.0)))
        |    AS DECIMAL(18,9))) AS DOUBLE) <= 0.25 THEN 'drifting'
        |  ELSE 'shifted' END AS band
        |FROM tots GROUP BY 1""".stripMargin),
    // B42b calendar-anchored PSI: trailing week vs all prior history
    Entry("qa_psi_calendar", (s, d) => Analytics.psiCalendar(s, d), timed,
      // B42's machinery with the calendar split: current = trailing 7 whole
      // days off ONE global max-day anchor, reference = all prior history
      """WITH ev AS (
        |  SELECT event_type, value, epoch_ms(ts) // 86400000 AS d
        |  FROM events),
        |anch AS (SELECT max(d) AS dmax FROM ev),
        |halves AS (
        |  SELECT e.event_type, e.value, e.d <= a.dmax - 7 AS is_ref
        |  FROM ev e CROSS JOIN anch a),
        |ref AS (
        |  SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM halves WHERE is_ref),
        |edges AS (
        |  SELECT r.event_type, list(r.value ORDER BY g.j) AS es
        |  FROM ref r, generate_series(1, 9) g(j)
        |  WHERE r.rn = CAST(ceil(r.n * g.j / 10.0) AS BIGINT)
        |  GROUP BY 1),
        |binned AS (
        |  SELECT h.event_type,
        |    1 + len(list_filter(e.es, x -> h.value > x)) AS bin,
        |    count(*) FILTER (WHERE h.is_ref) AS n_ref,
        |    count(*) FILTER (WHERE NOT h.is_ref) AS n_cur
        |  FROM halves h JOIN edges e USING (event_type)
        |  GROUP BY 1, 2),
        |tots AS (
        |  SELECT event_type, bin, n_ref, n_cur,
        |    sum(n_ref) OVER (PARTITION BY event_type) AS tot_ref,
        |    sum(n_cur) OVER (PARTITION BY event_type) AS tot_cur
        |  FROM binned)
        |SELECT event_type, CAST(max(tot_ref) AS BIGINT) AS n_ref,
        |  CAST(max(tot_cur) AS BIGINT) AS n_cur,
        |  CAST(sum(CAST(
        |    ((CAST(n_cur AS DOUBLE) + 0.5) / (CAST(tot_cur AS DOUBLE) + 5.0)
        |      - (CAST(n_ref AS DOUBLE) + 0.5) / (CAST(tot_ref AS DOUBLE) + 5.0))
        |    * ln(((CAST(n_cur AS DOUBLE) + 0.5) / (CAST(tot_cur AS DOUBLE) + 5.0))
        |        / ((CAST(n_ref AS DOUBLE) + 0.5) / (CAST(tot_ref AS DOUBLE) + 5.0)))
        |    AS DECIMAL(18,9))) AS DOUBLE) AS psi,
        |  CASE WHEN CAST(sum(CAST(
        |    ((CAST(n_cur AS DOUBLE) + 0.5) / (CAST(tot_cur AS DOUBLE) + 5.0)
        |      - (CAST(n_ref AS DOUBLE) + 0.5) / (CAST(tot_ref AS DOUBLE) + 5.0))
        |    * ln(((CAST(n_cur AS DOUBLE) + 0.5) / (CAST(tot_cur AS DOUBLE) + 5.0))
        |        / ((CAST(n_ref AS DOUBLE) + 0.5) / (CAST(tot_ref AS DOUBLE) + 5.0)))
        |    AS DECIMAL(18,9))) AS DOUBLE) < 0.1 THEN 'stable'
        |  WHEN CAST(sum(CAST(
        |    ((CAST(n_cur AS DOUBLE) + 0.5) / (CAST(tot_cur AS DOUBLE) + 5.0)
        |      - (CAST(n_ref AS DOUBLE) + 0.5) / (CAST(tot_ref AS DOUBLE) + 5.0))
        |    * ln(((CAST(n_cur AS DOUBLE) + 0.5) / (CAST(tot_cur AS DOUBLE) + 5.0))
        |        / ((CAST(n_ref AS DOUBLE) + 0.5) / (CAST(tot_ref AS DOUBLE) + 5.0)))
        |    AS DECIMAL(18,9))) AS DOUBLE) <= 0.25 THEN 'drifting'
        |  ELSE 'shifted' END AS band
        |FROM tots GROUP BY 1""".stripMargin),
    // B43 chi-square independence cells: event_type x day-of-week
    Entry("qa_chi2", (s, d) => Analytics.chi2(s, d), timed,
      // dense type x dow grid (zero cells ARE the signal); expected =
      // row*col/N one exact division; contrib/resid fixed IEEE trees
      """WITH ev AS (
        |  SELECT event_type,
        |    (epoch_ms(ts) // 86400000 + 4) % 7 AS dow
        |  FROM events),
        |counts AS (
        |  SELECT event_type, dow, count(*) AS o FROM ev GROUP BY 1, 2),
        |dense AS (
        |  SELECT t.event_type, g.dow, CAST(coalesce(c.o, 0) AS BIGINT)
        |    AS observed
        |  FROM (SELECT DISTINCT event_type FROM counts) t
        |  CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS dow) g
        |  LEFT JOIN counts c
        |    ON c.event_type = t.event_type AND c.dow = g.dow),
        |m AS (
        |  SELECT event_type, dow, observed,
        |    CAST(sum(observed) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS row_n,
        |    CAST(sum(observed) OVER (PARTITION BY dow) AS BIGINT) AS col_n,
        |    CAST(sum(observed) OVER () AS BIGINT) AS n
        |  FROM dense),
        |e AS (
        |  SELECT event_type, dow, observed,
        |    CAST(row_n * col_n AS DOUBLE) / CAST(n AS DOUBLE) AS expected
        |  FROM m)
        |SELECT event_type, CAST(dow AS BIGINT) AS dow, observed, expected,
        |  CASE WHEN expected > 0 THEN
        |    (CAST(observed AS DOUBLE) - expected)
        |      * (CAST(observed AS DOUBLE) - expected) / expected
        |  END AS contrib,
        |  CASE WHEN expected > 0 THEN
        |    (CAST(observed AS DOUBLE) - expected) / sqrt(expected)
        |  END AS std_resid
        |FROM e""".stripMargin),
    // B44 two-sample KS drift test per type (exact integer argmax)
    Entry("qa_ks", (s, d) => Analytics.ks(s, d), timed,
      // B44: ECDF-gap argmax on exact integers |r*m - c*n|; D and the
      // critical value are terminal fixed IEEE trees
      """WITH ev AS (
        |  SELECT event_type, value, epoch_ms(ts) // 86400000 AS d
        |  FROM events),
        |mid AS (
        |  SELECT event_type, (min(d) + max(d)) // 2 AS mid
        |  FROM ev GROUP BY 1),
        |census AS (
        |  SELECT e.event_type, e.value,
        |    count(*) FILTER (WHERE e.d <= m.mid) AS nr,
        |    count(*) FILTER (WHERE e.d > m.mid) AS nc
        |  FROM ev e JOIN mid m USING (event_type)
        |  GROUP BY 1, 2),
        |cum AS (
        |  SELECT event_type,
        |    CAST(sum(nr) OVER (PARTITION BY event_type ORDER BY value)
        |      AS BIGINT) AS r,
        |    CAST(sum(nc) OVER (PARTITION BY event_type ORDER BY value)
        |      AS BIGINT) AS c,
        |    CAST(sum(nr) OVER (PARTITION BY event_type) AS BIGINT) AS n,
        |    CAST(sum(nc) OVER (PARTITION BY event_type) AS BIGINT) AS m
        |  FROM census),
        |agg AS (
        |  SELECT event_type, max(n) AS n_ref, max(m) AS n_cur,
        |    max(abs(r * m - c * n)) AS max_gap
        |  FROM cum WHERE n > 0 AND m > 0 GROUP BY 1)
        |SELECT event_type, n_ref, n_cur,
        |  CAST(max_gap AS DOUBLE) / CAST(n_ref * n_cur AS DOUBLE) AS d_stat,
        |  1.358 * sqrt(CAST(n_ref + n_cur AS DOUBLE)
        |    / CAST(n_ref * n_cur AS DOUBLE)) AS d_crit,
        |  CAST(max_gap AS DOUBLE) / CAST(n_ref * n_cur AS DOUBLE)
        |    > 1.358 * sqrt(CAST(n_ref + n_cur AS DOUBLE)
        |        / CAST(n_ref * n_cur AS DOUBLE)) AS reject
        |FROM agg""".stripMargin),
    // B45 k-anonymity audit: QI equivalence-class size distribution per
    // table (all-integer output, exact on any engine)
    Entry("qa_k_anonymity", (s, d) => Analytics.kAnonymity(s, d), timed,
      // B45: all-integer QI equivalence-class census; risky_bp by integer
      // floor division (exact on any engine)
      """WITH q AS (
        |  SELECT 'customer' AS entity, concat_ws(chr(1),
        |      coalesce(CAST(c_nationkey AS VARCHAR), ' '),
        |      coalesce(CAST(c_mktsegment AS VARCHAR), ' ')) AS qi
        |    FROM customer
        |  UNION ALL SELECT 'orders', concat_ws(chr(1),
        |      coalesce(CAST(o_orderstatus AS VARCHAR), ' '),
        |      coalesce(CAST(o_orderpriority AS VARCHAR), ' '),
        |      coalesce(CAST(year(o_orderdate) AS VARCHAR), ' '))
        |    FROM orders
        |  UNION ALL SELECT 'supplier', concat_ws(chr(1),
        |      coalesce(CAST(s_nationkey AS VARCHAR), ' '))
        |    FROM supplier
        |  UNION ALL SELECT 'documents', concat_ws(chr(1),
        |      coalesce(CAST(source AS VARCHAR), ' '),
        |      coalesce(CAST(lang AS VARCHAR), ' '))
        |    FROM documents),
        |c AS (SELECT entity, qi, count(*) AS cnt FROM q GROUP BY 1, 2)
        |SELECT entity, CAST(sum(cnt) AS BIGINT) AS n_rows,
        |  count(*) AS n_groups, CAST(min(cnt) AS BIGINT) AS k_anon,
        |  CAST(sum(CASE WHEN cnt < 5 THEN cnt ELSE 0 END) AS BIGINT)
        |    AS rows_lt_5,
        |  CAST(sum(CASE WHEN cnt < 10 THEN cnt ELSE 0 END) AS BIGINT)
        |    AS rows_lt_10,
        |  (10000 * CAST(sum(CASE WHEN cnt < 5 THEN cnt ELSE 0 END) AS BIGINT))
        |    // CAST(sum(cnt) AS BIGINT) AS risky_bp
        |FROM c GROUP BY 1""".stripMargin),
  )

  /** C. training-data pipeline: document curation, tokenizers and stores. */
  private def documentEntries: Seq[Entry] = Seq(
    // C78 per-source corpus drift (token length + quality, base vs tail)
    Entry("doc_drift", (s, d) => TextOps.docDrift(s, d), timed,
      // C78: token counts exact longs; quality quantizes DECIMAL(18,9) per
      // doc before the order-free sum; means/deltas one IEEE sequence.
      s"""WITH cut AS (SELECT max(doc_id) * 8 // 10 AS c FROM documents
        |            WHERE text IS NOT NULL),
        |d AS (
        |  SELECT doc_id, source,
        |    CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS toks,
        |    CAST(least(CAST(len(regexp_split_to_array(text, '\\s+')) AS DOUBLE)
        |        / 100.0, 1.0) *
        |      (1.0 - CAST(${hits(stop)} AS DOUBLE)
        |        / len(regexp_split_to_array(text, '\\s+')))
        |      AS DECIMAL(18,9)) AS q
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (
        |  SELECT source,
        |    count(*) FILTER (WHERE doc_id <= c) AS n_base,
        |    count(*) FILTER (WHERE doc_id > c) AS n_new,
        |    CAST(sum(toks) FILTER (WHERE doc_id <= c) AS BIGINT) AS t_base,
        |    CAST(sum(toks) FILTER (WHERE doc_id > c) AS BIGINT) AS t_new,
        |    sum(q) FILTER (WHERE doc_id <= c) AS q_base,
        |    sum(q) FILTER (WHERE doc_id > c) AS q_new
        |  FROM d, cut GROUP BY 1)
        |SELECT source, n_base, n_new,
        |  CAST(t_base AS DOUBLE) / CAST(n_base AS DOUBLE) AS mean_toks_base,
        |  CAST(t_new AS DOUBLE) / CAST(n_new AS DOUBLE) AS mean_toks_new,
        |  CAST(t_new AS DOUBLE) / CAST(n_new AS DOUBLE)
        |    - CAST(t_base AS DOUBLE) / CAST(n_base AS DOUBLE) AS toks_delta,
        |  CAST(q_base AS DOUBLE) / CAST(n_base AS DOUBLE) AS mean_q_base,
        |  CAST(q_new AS DOUBLE) / CAST(n_new AS DOUBLE) AS mean_q_new,
        |  CAST(q_new AS DOUBLE) / CAST(n_new AS DOUBLE)
        |    - CAST(q_base AS DOUBLE) / CAST(n_base AS DOUBLE) AS q_delta
        |FROM g WHERE n_base > 0 AND n_new > 0""".stripMargin),
    // C79 per-source duplicate-rate dashboard over the C11 fingerprints
    Entry("doc_dup_rate", (s, d) => TextOps.dupRate(s, d), timed,
      // C79: dup flag = corpus-wide fingerprint count >= 2 (cross-source
      // copies count for both sides); rate one IEEE division.
      """WITH f AS (
        |  SELECT doc_id, source,
        |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (SELECT *, count(*) OVER (PARTITION BY fp) AS n_fp FROM f)
        |SELECT source, count(*) AS n_docs,
        |  count(*) FILTER (WHERE n_fp >= 2) AS n_dup_docs,
        |  CAST(count(*) FILTER (WHERE n_fp >= 2) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS dup_rate
        |FROM c GROUP BY 1""".stripMargin),
    // C80 declared-label vs C10-prediction confusion matrix
    Entry("doc_lang_confusion", (s, d) => TextOps.langConfusion(s, d), timed,
      // C80: the C10 predictor verbatim, crossed with the declared label.
      s"""WITH t AS (
        |  SELECT lang, ${hits(stop)} AS en_hits,
        |    ${hits("['el','la','de','que','y','en']")} AS es_hits,
        |    ${hits("['der','die','das','und','ist','ein']")} AS de_hits
        |  FROM documents),
        |p AS (SELECT lang,
        |  CASE WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits > 0 THEN 'en'
        |       WHEN es_hits >= de_hits AND es_hits > 0 THEN 'es'
        |       WHEN de_hits > 0 THEN 'de' ELSE 'unknown' END AS lang_pred
        |  FROM t),
        |g AS (SELECT lang, lang_pred, count(*) AS n_docs FROM p GROUP BY 1, 2)
        |SELECT lang, lang_pred, n_docs,
        |  CAST(n_docs AS DOUBLE) / CAST(CAST(sum(n_docs) OVER
        |    (PARTITION BY lang) AS BIGINT) AS DOUBLE) AS label_share
        |FROM g""".stripMargin),
    // C81 deflate compression-ratio quality signal (no SQL oracle exists
    // for deflate -> rows-only by design; spec pins the semantics)
    Entry("doc_compress_ratio", (s, d) => TextOps.compressRatio(s, d), timed),
    Entry("doc_dedup_exact", (s, d) => Dedup.exact(s, d), timed.copy(core = 16, scaleUp = 10),
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents WHERE text IS NOT NULL GROUP BY 1""".stripMargin),
    Entry("doc_dedup_minhash", (s, d) => Dedup.minhashLsh(s, d),
      timed.copy(core = 17, scaleUp = 11)),
    // C117 ROUGE-L (token LCS) scoring of the banded near-dup candidates
    Entry("doc_rouge_pairs", (s, d) => Dedup.rougePairs(s, d), timed),
    // C117b: the same adjudication served from the persisted signature
    // store — candidates from stored bands, zero re-shingling; must be
    // row-identical to doc_rouge_pairs (spec-pinned)
    Entry("doc_rouge_store", (s, d) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-rgs")
      try {
        Dedup.writeSignatureStore(graft.Tables.documents(s, d), tmp.toString)
        Dedup.rougePairsFromStore(s, d, tmp.toString).localCheckpoint(true)
      } finally {
        import scala.reflect.io.Directory
        new Directory(tmp.toFile).deleteRecursively()
      }
    }),
    // C2m: measured minhash recall + estimator MAE vs the exact Jaccard
    // enumeration (gate-SF instrument — the lshEmpiricalRecall discipline)
    Entry("doc_minhash_recall", (s, d) => Dedup.minhashRecall(s, d), timed.copy(scale10 = Watch)),
    Entry("doc_dedup_simhash", (s, d) => Dedup.simhashPairs(s, d), timed),
    Entry("doc_ngram_jaccard", (s, d) => Dedup.ngramJaccard(s, d), timed.copy(scale10 = Watch),
      """WITH words AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS w
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
        |grams AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id, unnest(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
        |      ELSE list_transform(range(1, len(w) - 1),
        |             i -> array_to_string(list_slice(w, i, i + 2), ' ')) END) AS g
        |    FROM words) t),
        |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY 1),
        |ipairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) AS jaccard
        |FROM ipairs JOIN sizes sa ON ipairs.id_a = sa.doc_id
        |  JOIN sizes sb ON ipairs.id_b = sb.doc_id
        |WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= 0.3""".stripMargin),
    Entry("doc_ngram_auto", (s, d) => Dedup.ngramJaccardAuto(s, d),
      timed.copy(scale10 = Watch, core = 18, scaleUp = 12),
      // word-3-gram Jaccard over pairs sharing at least one gram. Tokenization
      // mirrors the Spark kernel contract: lowercase, whitespace runs collapse;
      // docs shorter than k words contribute ONE whole-doc shingle; empty docs
      // contribute none.
      // the gate MUST route a healthy corpus to the exact path, whose output
      // the exact oracle then verifies — the routing choice is itself gated
      """WITH words AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS w
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
        |grams AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id, unnest(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
        |      ELSE list_transform(range(1, len(w) - 1),
        |             i -> array_to_string(list_slice(w, i, i + 2), ' ')) END) AS g
        |    FROM words) t),
        |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY 1),
        |ipairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) AS jaccard
        |FROM ipairs JOIN sizes sa ON ipairs.id_a = sa.doc_id
        |  JOIN sizes sb ON ipairs.id_b = sb.doc_id
        |WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= 0.3""".stripMargin),
    // C87: per-source exact ROC-AUC of the C9 quality score vs the C64
    // Gopher verdict (Mann-Whitney with tie halves, census + two-level
    // prefix -- no global sort)
    Entry("doc_quality_auc", (s, d) => TextOps.qualityAuc(s, d), timed,
      // AUC: the window orders by the exact per-doc quality double (same
      // bits both engines — doc_quality is hash-gated); numerator stays an
      // exact integer until one final IEEE division; single-class sources
      // yield NULL via NULLIF
      s"""WITH q AS (
         |  SELECT doc_id,
         |    least(CAST(len(regexp_split_to_array(text, '\\s+')) AS DOUBLE) / 100.0, 1.0) *
         |      (1.0 - CAST(${hits(stop)} AS DOUBLE) / len(regexp_split_to_array(text, '\\s+'))) AS quality
         |  FROM documents),
         |g AS (
         |  SELECT doc_id,
         |    (n_words BETWEEN 50 AND 100000) AND (mean_word_len BETWEEN 3.0 AND 10.0)
         |      AND symbol_ratio < 0.1 AND bullet_ratio <= 0.9
         |      AND ellipsis_ratio <= 0.3 AND alpha_ratio > 0.8
         |      AND stop_hits >= 2 AS keep
         |  FROM (
         |    SELECT doc_id,
         |      CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_words,
         |      CAST(list_sum(list_transform(string_split(text, ' '), w -> length(w))) AS DOUBLE)
         |        / len(string_split(text, ' ')) AS mean_word_len,
         |      CAST(len(regexp_extract_all(text, '#')) + len(regexp_extract_all(text, '\\.\\.\\.')) AS DOUBLE)
         |        / len(regexp_split_to_array(text, '\\s+')) AS symbol_ratio,
         |      CAST(len(list_filter(string_split(text, chr(10)),
         |          l -> starts_with(l, '- ') OR starts_with(l, '* ') OR starts_with(l, '• '))) AS DOUBLE)
         |        / len(string_split(text, chr(10))) AS bullet_ratio,
         |      CAST(len(list_filter(string_split(text, chr(10)), l -> ends_with(l, '...'))) AS DOUBLE)
         |        / len(string_split(text, chr(10))) AS ellipsis_ratio,
         |      CAST(len(list_filter(string_split(text, ' '), w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
         |        / len(string_split(text, ' ')) AS alpha_ratio,
         |      ${hits(stop)} AS stop_hits
         |    FROM documents) t),
         |s AS (SELECT d.source, q.quality, g.keep
         |      FROM documents d JOIN q USING (doc_id) JOIN g USING (doc_id)),
         |census AS (
         |  SELECT source, quality,
         |    count(*) FILTER (WHERE keep) AS n_pos,
         |    count(*) FILTER (WHERE NOT keep) AS n_neg
         |  FROM s GROUP BY 1, 2),
         |c2 AS (
         |  SELECT *, coalesce(sum(n_neg) OVER (PARTITION BY source ORDER BY quality
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_neg
         |  FROM census)
         |SELECT source, CAST(sum(n_pos) AS BIGINT) AS n_pos,
         |  CAST(sum(n_neg) AS BIGINT) AS n_neg,
         |  CAST(sum(2 * n_pos * cum_neg + n_pos * n_neg) AS DOUBLE)
         |    / CAST(NULLIF(2 * sum(n_pos) * sum(n_neg), 0) AS DOUBLE) AS auc
         |FROM c2 GROUP BY 1""".stripMargin),
    // C88: per-source OOV audit against the exact top-1000 corpus vocab
    Entry("doc_vocab_coverage", (s, d) => TextOps.vocabCoverage(s, d), timed,
      // top-V census rank matches vocabOf's two-level total order (count
      // desc, term); token stream aggregates to a census before any join
      """WITH tc AS (
        |  SELECT term, count(*) AS cnt
        |  FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents) t
        |  GROUP BY 1),
        |top AS (SELECT term FROM (
        |  SELECT term, row_number() OVER (ORDER BY cnt DESC, term) AS rk FROM tc) r
        |  WHERE rk <= 1000),
        |census AS (
        |  SELECT source, term, count(*) AS cnt
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS term
        |        FROM documents WHERE text IS NOT NULL) t
        |  GROUP BY 1, 2)
        |SELECT source,
        |  CAST(sum(cnt) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN top.term IS NOT NULL THEN cnt ELSE 0 END) AS BIGINT) AS n_covered,
        |  count(*) AS n_terms,
        |  CAST(sum(CASE WHEN top.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov_terms,
        |  CAST(sum(CASE WHEN top.term IS NOT NULL THEN cnt ELSE 0 END) AS DOUBLE)
        |    / CAST(sum(cnt) AS DOUBLE) AS coverage,
        |  CAST(sum(cnt) - sum(CASE WHEN top.term IS NOT NULL THEN cnt ELSE 0 END) AS DOUBLE)
        |    / CAST(sum(cnt) AS DOUBLE) AS oov_rate
        |FROM census LEFT JOIN top USING (term)
        |GROUP BY 1""".stripMargin),
    // C91: reliability bins for the quality score vs the Gopher verdict
    Entry("doc_quality_calibration", (s, d) => TextOps.qualityCalibration(s, d), timed,
      // same quality/keep exprs as doc_quality_auc; equal-width bins with
      // the 1.0 score clamped into the top bin; decimal-exact mean score
      s"""WITH q AS (
         |  SELECT doc_id,
         |    least(CAST(len(regexp_split_to_array(text, '\\s+')) AS DOUBLE) / 100.0, 1.0) *
         |      (1.0 - CAST(${hits(stop)} AS DOUBLE) / len(regexp_split_to_array(text, '\\s+'))) AS quality
         |  FROM documents),
         |g AS (
         |  SELECT doc_id,
         |    (n_words BETWEEN 50 AND 100000) AND (mean_word_len BETWEEN 3.0 AND 10.0)
         |      AND symbol_ratio < 0.1 AND bullet_ratio <= 0.9
         |      AND ellipsis_ratio <= 0.3 AND alpha_ratio > 0.8
         |      AND stop_hits >= 2 AS keep
         |  FROM (
         |    SELECT doc_id,
         |      CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_words,
         |      CAST(list_sum(list_transform(string_split(text, ' '), w -> length(w))) AS DOUBLE)
         |        / len(string_split(text, ' ')) AS mean_word_len,
         |      CAST(len(regexp_extract_all(text, '#')) + len(regexp_extract_all(text, '\\.\\.\\.')) AS DOUBLE)
         |        / len(regexp_split_to_array(text, '\\s+')) AS symbol_ratio,
         |      CAST(len(list_filter(string_split(text, chr(10)),
         |          l -> starts_with(l, '- ') OR starts_with(l, '* ') OR starts_with(l, '• '))) AS DOUBLE)
         |        / len(string_split(text, chr(10))) AS bullet_ratio,
         |      CAST(len(list_filter(string_split(text, chr(10)), l -> ends_with(l, '...'))) AS DOUBLE)
         |        / len(string_split(text, chr(10))) AS ellipsis_ratio,
         |      CAST(len(list_filter(string_split(text, ' '), w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
         |        / len(string_split(text, ' ')) AS alpha_ratio,
         |      ${hits(stop)} AS stop_hits
         |    FROM documents) t)
         |SELECT least(CAST(floor(quality * 10) AS BIGINT), 9) AS bin,
         |  count(*) AS n,
         |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         |  CAST(sum(CAST(quality AS DECIMAL(18,9))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_score,
         |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS pos_rate
         |FROM q JOIN g USING (doc_id)
         |GROUP BY 1""".stripMargin),
    // C92: exact per-source quality quantiles (two-level rank, no fat window)
    Entry("doc_quality_quantiles", (s, d) => TextOps.qualityQuantiles(s, d), timed,
      // type-1 quantile at rank ceil(q*n), ties by (quality, doc_id) — the
      // plain window replay of the Spark side's two-level exact rank
      s"""WITH q AS (
         |  SELECT doc_id,
         |    least(CAST(len(regexp_split_to_array(text, '\\s+')) AS DOUBLE) / 100.0, 1.0) *
         |      (1.0 - CAST(${hits(stop)} AS DOUBLE) / len(regexp_split_to_array(text, '\\s+'))) AS quality
         |  FROM documents),
         |r AS (
         |  SELECT d.source, q.quality,
         |    row_number() OVER (PARTITION BY d.source ORDER BY q.quality, q.doc_id) AS rnk,
         |    count(*) OVER (PARTITION BY d.source) AS n
         |  FROM q JOIN documents d USING (doc_id))
         |SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
         |  max(CASE WHEN rnk = ceil(n * 0.1) THEN quality END) AS p10,
         |  max(CASE WHEN rnk = ceil(n * 0.5) THEN quality END) AS p50,
         |  max(CASE WHEN rnk = ceil(n * 0.9) THEN quality END) AS p90
         |FROM r GROUP BY 1""".stripMargin),
    // C93: per-source positional header/footer boilerplate flags
    Entry("doc_boilerplate", (s, d) => TextOps.boilerplate(s, d), timed,
      // prefix/suffix digests over the raw whitespace split; short docs take
      // their whole text for both ends (min(k, words))
      """WITH d AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS w
        |  FROM documents WHERE text IS NOT NULL),
        |p AS (
        |  SELECT doc_id, source,
        |    md5(array_to_string(list_slice(w, 1, 5), ' ')) AS pfx,
        |    md5(array_to_string(list_slice(w, greatest(len(w) - 4, 1),
        |      greatest(len(w) - 4, 1) + 4), ' ')) AS sfx
        |  FROM d),
        |ns AS (SELECT source, count(*) AS n_src FROM p GROUP BY 1),
        |cp AS (SELECT source, pfx, count(*) AS n_pfx FROM p GROUP BY 1, 2),
        |cs AS (SELECT source, sfx, count(*) AS n_sfx FROM p GROUP BY 1, 2)
        |SELECT doc_id, p.source, n_pfx, n_sfx,
        |  n_pfx >= 2 AND CAST(n_pfx AS DOUBLE) / CAST(n_src AS DOUBLE) >= 0.2 AS boiler_prefix,
        |  n_sfx >= 2 AND CAST(n_sfx AS DOUBLE) / CAST(n_src AS DOUBLE) >= 0.2 AS boiler_suffix
        |FROM p JOIN cp USING (source, pfx) JOIN cs USING (source, sfx)
        |  JOIN ns USING (source)""".stripMargin),
    // C93b: apply the trim — emit cleaned text
    Entry("doc_boiler_trim", (s, d) => TextOps.boilerTrim(s, d), notTimed,
      // trim applied on the C93 verdicts: in-row slice + rejoin; a doc that
      // is all chrome comes back empty (len clamp at 0)
      """WITH d AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS w
        |  FROM documents WHERE text IS NOT NULL),
        |p AS (
        |  SELECT doc_id, source, w,
        |    md5(array_to_string(list_slice(w, 1, 5), ' ')) AS pfx,
        |    md5(array_to_string(list_slice(w, greatest(len(w) - 4, 1),
        |      greatest(len(w) - 4, 1) + 4), ' ')) AS sfx
        |  FROM d),
        |ns AS (SELECT source, count(*) AS n_src FROM p GROUP BY 1),
        |cp AS (SELECT source, pfx, count(*) AS n_pfx FROM p GROUP BY 1, 2),
        |cs AS (SELECT source, sfx, count(*) AS n_sfx FROM p GROUP BY 1, 2),
        |f AS (
        |  SELECT doc_id, w, len(w) AS n_w,
        |    n_pfx >= 2 AND CAST(n_pfx AS DOUBLE) / CAST(n_src AS DOUBLE) >= 0.2 AS bp,
        |    n_sfx >= 2 AND CAST(n_sfx AS DOUBLE) / CAST(n_src AS DOUBLE) >= 0.2 AS bs
        |  FROM p JOIN cp USING (source, pfx) JOIN cs USING (source, sfx)
        |    JOIN ns USING (source)),
        |t AS (
        |  SELECT doc_id, w, n_w, bp, bs,
        |    CASE WHEN bp THEN 6 ELSE 1 END AS st,
        |    CASE WHEN bs THEN n_w - 5 ELSE n_w END AS sp
        |  FROM f)
        |SELECT doc_id,
        |  array_to_string(list_slice(w, st, st + greatest(sp - st + 1, 0) - 1), ' ') AS trimmed_text,
        |  bp AS boiler_prefix, bs AS boiler_suffix,
        |  CAST(n_w - greatest(sp - st + 1, 0) AS BIGINT) AS n_words_removed
        |FROM t""".stripMargin),
    // C95: per-doc unique-content rate (df=1 grams / distinct grams)
    Entry("doc_novelty", (s, d) => TextOps.novelty(s, d), timed,
      // df = 1 grams over each doc's distinct gram set (the C4 gram contract)
      """WITH words AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS w
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
        |grams AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id, unnest(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
        |      ELSE list_transform(range(1, len(w) - 1),
        |             i -> array_to_string(list_slice(w, i, i + 2), ' ')) END) AS g
        |    FROM words) t),
        |census AS (SELECT g, count(*) AS df FROM grams GROUP BY 1)
        |SELECT doc_id, count(*) AS n_grams,
        |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS novelty
        |FROM grams JOIN census USING (g)
        |GROUP BY 1""".stripMargin),
    // C94: cross-source content-overlap matrix on the C1 fp census
    Entry("doc_source_overlap", (s, d) => Dedup.sourceOverlap(s, d), timed,
      // unordered source pairs sharing distinct word-3-grams (the C4 gram
      // contract: lowercase, whitespace collapse, short docs one whole-doc
      // shingle, empty docs none); Jaccard over the distinct-gram sets
      """WITH words AS (
        |  SELECT source,
        |    string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS w
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
        |fs AS (
        |  SELECT DISTINCT source, g AS fp FROM (
        |    SELECT source, unnest(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
        |      ELSE list_transform(range(1, len(w) - 1),
        |             i -> array_to_string(list_slice(w, i, i + 2), ' ')) END) AS g
        |    FROM words) t),
        |tot AS (SELECT source, count(*) AS n_fps FROM fs GROUP BY 1),
        |pr AS (
        |  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
        |  FROM fs a JOIN fs b ON a.fp = b.fp AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT source_a, source_b, n_shared, ta.n_fps AS n_a, tb.n_fps AS n_b,
        |  CAST(n_shared AS DOUBLE) / CAST(ta.n_fps + tb.n_fps - n_shared AS DOUBLE) AS jaccard
        |FROM pr JOIN tot ta ON pr.source_a = ta.source
        |  JOIN tot tb ON pr.source_b = tb.source""".stripMargin),
    Entry("doc_containment", (s, d) => Dedup.ngramContainment(s, d), timed,
      // Broder containment: same inverted-index shape, asymmetric normalizer
      """WITH words AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS w
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
        |grams AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id, unnest(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
        |      ELSE list_transform(range(1, len(w) - 1),
        |             i -> array_to_string(list_slice(w, i, i + 2), ' ')) END) AS g
        |    FROM words) t),
        |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY 1),
        |ipairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  CAST(shared AS DOUBLE) / sa.n AS cont_a,
        |  CAST(shared AS DOUBLE) / sb.n AS cont_b
        |FROM ipairs JOIN sizes sa ON ipairs.id_a = sa.doc_id
        |  JOIN sizes sb ON ipairs.id_b = sb.doc_id
        |WHERE greatest(CAST(shared AS DOUBLE) / sa.n,
        |               CAST(shared AS DOUBLE) / sb.n) >= 0.5""".stripMargin),
    // C84-auto: gram-stats gate → exact inverted-index containment on this
    // corpus (routes identically to doc_ngram_auto's gate; the df-capped
    // escape is spec-gated on a planted boilerplate corpus)
    Entry("doc_containment_auto", (s, d) => Dedup.ngramContainmentAuto(s, d),
      timed.copy(scale10 = Watch),
      // the auto gate MUST route this healthy corpus to the exact containment
      // path — same oracle as doc_containment verifies the routed output
      """WITH words AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS w
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
        |grams AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id, unnest(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
        |      ELSE list_transform(range(1, len(w) - 1),
        |             i -> array_to_string(list_slice(w, i, i + 2), ' ')) END) AS g
        |    FROM words) t),
        |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY 1),
        |ipairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  CAST(shared AS DOUBLE) / sa.n AS cont_a,
        |  CAST(shared AS DOUBLE) / sb.n AS cont_b
        |FROM ipairs JOIN sizes sa ON ipairs.id_a = sa.doc_id
        |  JOIN sizes sb ON ipairs.id_b = sb.doc_id
        |WHERE greatest(CAST(shared AS DOUBLE) / sa.n,
        |               CAST(shared AS DOUBLE) / sb.n) >= 0.5""".stripMargin),
    Entry("doc_dedup_clusters", (s, d) => Dedup.neardupClusters(s, d)),
    Entry("doc_winnow_pairs", (s, d) => Dedup.winnowPairs(s, d)),
    Entry("doc_contamination", (s, d) => Dedup.docContamination(s, d)),
    // C119 (r11): per-benchmark-suite decontamination REPORT — the
    // dataset-card table over C22's pair flags (zero rows for clean
    // suites are explicit, not omitted)
    Entry("doc_decontam_report", (s, d) => Dedup.decontamReport(s, d), timed),
    // C119b (r11): the same rollup driven by exact n-gram CONTAINMENT
    // (the GPT-3-style rule) — fully SQL-expressible, oracle-hash-gated
    Entry("doc_decontam_exact", (s, d) => Dedup.decontamExact(s, d), timed,
      // C119b: exact n-gram-containment decontam report — the C4 grams CTE
      // split bench/corpus, containment(bench IN doc) >= 0.5, suite rollup
      // with explicit zero rows; mean quantizes DECIMAL(18,9) pre-sum
      """WITH words AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS w
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
        |grams AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id, unnest(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
        |      ELSE list_transform(range(1, len(w) - 1),
        |             i -> array_to_string(list_slice(w, i, i + 2), ' ')) END) AS g
        |    FROM words) t),
        |bench AS (
        |  SELECT doc_id AS bench_id,
        |    'suite_' || CAST((doc_id // 20) % 4 AS VARCHAR) AS benchmark
        |  FROM documents WHERE doc_id % 20 = 0),
        |bgrams AS (SELECT doc_id AS bench_id, g FROM grams WHERE doc_id % 20 = 0),
        |bsizes AS (SELECT bench_id, count(*) AS n FROM bgrams GROUP BY 1),
        |shared AS (
        |  SELECT c.doc_id, b.bench_id, count(*) AS shared
        |  FROM (SELECT doc_id, g FROM grams WHERE doc_id % 20 <> 0) c
        |  JOIN bgrams b ON c.g = b.g GROUP BY 1, 2),
        |pairs AS (
        |  SELECT s.doc_id, s.bench_id,
        |    CAST(s.shared AS DOUBLE) / bs.n AS containment
        |  FROM shared s JOIN bsizes bs ON s.bench_id = bs.bench_id
        |  WHERE CAST(s.shared AS DOUBLE) / bs.n >= 0.5),
        |suites AS (SELECT benchmark, count(*) AS n_bench_docs FROM bench GROUP BY 1),
        |hits AS (
        |  SELECT b.benchmark, count(DISTINCT p.bench_id) AS n_bench_hit,
        |    count(DISTINCT p.doc_id) AS n_corpus_flagged,
        |    max(p.containment) AS max_containment,
        |    CAST(SUM(CAST(p.containment AS DECIMAL(18,9))) AS DOUBLE)
        |      / count(*) AS mean_containment
        |  FROM pairs p JOIN bench b ON p.bench_id = b.bench_id GROUP BY 1),
        |ncorp AS (SELECT count(*) AS n_corpus FROM documents WHERE doc_id % 20 <> 0)
        |SELECT s.benchmark, s.n_bench_docs,
        |  COALESCE(h.n_bench_hit, 0) AS n_bench_hit,
        |  CAST(COALESCE(h.n_bench_hit, 0) AS DOUBLE) / s.n_bench_docs AS bench_hit_frac,
        |  COALESCE(h.n_corpus_flagged, 0) AS n_corpus_flagged,
        |  CAST(COALESCE(h.n_corpus_flagged, 0) AS DOUBLE)
        |    / (SELECT n_corpus FROM ncorp) AS corpus_flagged_frac,
        |  COALESCE(h.max_containment, 0.0) AS max_containment,
        |  COALESCE(h.mean_containment, 0.0) AS mean_containment
        |FROM suites s LEFT JOIN hits h ON s.benchmark = h.benchmark""".stripMargin),
    // C119c (r11): the decontamination ACTION — the cleaned-corpus
    // keep-list (corpus anti-join the flagged set), oracle-hash-gated
    Entry("doc_decontam_keep", (s, d) => Dedup.decontamKeep(s, d), timed,
      // C119c: the keep-list — corpus minus the containment-flagged docs
      """WITH words AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS w
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
        |grams AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id, unnest(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
        |      ELSE list_transform(range(1, len(w) - 1),
        |             i -> array_to_string(list_slice(w, i, i + 2), ' ')) END) AS g
        |    FROM words) t),
        |bgrams AS (SELECT doc_id AS bench_id, g FROM grams WHERE doc_id % 20 = 0),
        |bsizes AS (SELECT bench_id, count(*) AS n FROM bgrams GROUP BY 1),
        |shared AS (
        |  SELECT c.doc_id, b.bench_id, count(*) AS shared
        |  FROM (SELECT doc_id, g FROM grams WHERE doc_id % 20 <> 0) c
        |  JOIN bgrams b ON c.g = b.g GROUP BY 1, 2),
        |flagged AS (
        |  SELECT DISTINCT s.doc_id
        |  FROM shared s JOIN bsizes bs ON s.bench_id = bs.bench_id
        |  WHERE CAST(s.shared AS DOUBLE) / bs.n >= 0.5)
        |SELECT d.doc_id, d.source, d.n_chars
        |FROM documents d
        |WHERE d.doc_id % 20 <> 0
        |  AND d.doc_id NOT IN (SELECT doc_id FROM flagged)""".stripMargin),
    Entry("doc_keep_list", (s, d) => Dedup.keepList(s, d)),
    Entry("doc_token_count", (s, d) => TextOps.tokenCount(s, d), timed.copy(scaleUp = 9),
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS re_tokens
        |FROM documents""".stripMargin),
    Entry("doc_quality", (s, d) => TextOps.quality(s, d), timed,
      s"""SELECT doc_id,
         |  CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_words,
         |  CAST(${hits(stop)} AS DOUBLE) / len(regexp_split_to_array(text, '\\s+')) AS stop_ratio,
         |  CAST(list_sum(list_transform(string_split(text, ' '), w -> length(w))) AS DOUBLE)
         |    / len(string_split(text, ' ')) AS mean_word_len,
         |  least(CAST(len(regexp_split_to_array(text, '\\s+')) AS DOUBLE) / 100.0, 1.0) *
         |    (1.0 - CAST(${hits(stop)} AS DOUBLE) / len(regexp_split_to_array(text, '\\s+'))) AS quality
         |FROM documents""".stripMargin),
    Entry("doc_gopher_rules", (s, d) => TextOps.gopherRules(s, d), timed,
      // single int/int divisions throughout — bit-identical ratios; the
      // rule thresholds compare those identical doubles, so `keep` matches
      s"""SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_ratio,
         |  ellipsis_ratio, alpha_ratio, stop_hits,
         |  (n_words BETWEEN 50 AND 100000) AND (mean_word_len BETWEEN 3.0 AND 10.0)
         |    AND symbol_ratio < 0.1 AND bullet_ratio <= 0.9
         |    AND ellipsis_ratio <= 0.3 AND alpha_ratio > 0.8
         |    AND stop_hits >= 2 AS keep
         |FROM (
         |  SELECT doc_id,
         |    CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_words,
         |    CAST(list_sum(list_transform(string_split(text, ' '), w -> length(w))) AS DOUBLE)
         |      / len(string_split(text, ' ')) AS mean_word_len,
         |    CAST(len(regexp_extract_all(text, '#')) + len(regexp_extract_all(text, '\\.\\.\\.')) AS DOUBLE)
         |      / len(regexp_split_to_array(text, '\\s+')) AS symbol_ratio,
         |    CAST(len(list_filter(string_split(text, chr(10)),
         |        l -> starts_with(l, '- ') OR starts_with(l, '* ') OR starts_with(l, '• '))) AS DOUBLE)
         |      / len(string_split(text, chr(10))) AS bullet_ratio,
         |    CAST(len(list_filter(string_split(text, chr(10)), l -> ends_with(l, '...'))) AS DOUBLE)
         |      / len(string_split(text, chr(10))) AS ellipsis_ratio,
         |    CAST(len(list_filter(string_split(text, ' '), w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
         |      / len(string_split(text, ' ')) AS alpha_ratio,
         |    ${hits(stop)} AS stop_hits
         |  FROM documents) t""".stripMargin),
    Entry("doc_c4_clean", (s, d) => TextOps.c4Clean(s, d), timed,
      """SELECT doc_id,
        |  CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
        |  CAST(len(kept) AS BIGINT) AS n_kept_lines,
        |  coalesce(array_to_string(kept, chr(10)), '') AS clean_text,
        |  len(kept) >= 3 AND NOT contains(lower(text), 'lorem ipsum')
        |    AND NOT contains(text, '{') AS keep
        |FROM (
        |  SELECT doc_id, text,
        |    list_filter(string_split(text, chr(10)), l ->
        |      (ends_with(l, '.') OR ends_with(l, '!') OR ends_with(l, '?')
        |        OR ends_with(l, '"'))
        |      AND len(regexp_split_to_array(l, '\s+')) >= 3
        |      AND NOT contains(lower(l), 'javascript')) AS kept
        |  FROM documents) t""".stripMargin),
    Entry("doc_rep_fractions", (s, d) => TextOps.repFractions(s, d), timed,
      // sums cast back to BIGINT (DuckDB widens sum(bigint) to HUGEINT);
      // top-gram tie-break is the same (cnt, len, gram) struct max in both
      """WITH base AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars FROM documents),
        |lb AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS b FROM documents),
        |lc AS (SELECT doc_id, b, count(*) AS cnt FROM lb GROUP BY 1, 2),
        |la AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS total, count(*) AS uniq,
        |         CAST(sum(cnt * length(b)) AS BIGINT) AS chars,
        |         CAST(sum((cnt - 1) * length(b)) AS BIGINT) AS dup_chars
        |       FROM lc GROUP BY 1),
        |pb AS (SELECT doc_id, unnest(string_split(text, chr(10) || chr(10))) AS b FROM documents),
        |pc AS (SELECT doc_id, b, count(*) AS cnt FROM pb GROUP BY 1, 2),
        |pa AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS total, count(*) AS uniq,
        |         CAST(sum(cnt * length(b)) AS BIGINT) AS chars,
        |         CAST(sum((cnt - 1) * length(b)) AS BIGINT) AS dup_chars
        |       FROM pc GROUP BY 1),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |grams AS (SELECT doc_id, CAST(r.n AS INT) AS n,
        |    unnest(list_transform(range(1, len(t) - CAST(r.n AS INT) + 2),
        |      i -> array_to_string(list_slice(t, i, i + CAST(r.n AS INT) - 1), ' '))) AS gram
        |  FROM toks, range(2, 11) r(n)),
        |gc AS (SELECT doc_id, n, gram, count(*) AS cnt FROM grams GROUP BY 1, 2, 3),
        |ga AS (SELECT doc_id, n,
        |    max(struct_pack(c := cnt, l := CAST(length(gram) AS BIGINT), g := gram)) AS top,
        |    CAST(sum(CASE WHEN cnt >= 2 THEN cnt * length(gram) ELSE 0 END) AS BIGINT) AS dup_chars
        |  FROM gc GROUP BY 1, 2),
        |sig AS (SELECT doc_id,
        |    max(CASE WHEN n = 2 THEN struct_extract(top, 'c') * struct_extract(top, 'l') END) AS top2_chars,
        |    max(CASE WHEN n = 3 THEN struct_extract(top, 'c') * struct_extract(top, 'l') END) AS top3_chars,
        |    max(CASE WHEN n = 4 THEN struct_extract(top, 'c') * struct_extract(top, 'l') END) AS top4_chars,
        |    max(CASE WHEN n = 5 THEN dup_chars END) AS dup5_chars,
        |    max(CASE WHEN n = 6 THEN dup_chars END) AS dup6_chars,
        |    max(CASE WHEN n = 7 THEN dup_chars END) AS dup7_chars,
        |    max(CASE WHEN n = 8 THEN dup_chars END) AS dup8_chars,
        |    max(CASE WHEN n = 9 THEN dup_chars END) AS dup9_chars,
        |    max(CASE WHEN n = 10 THEN dup_chars END) AS dup10_chars
        |  FROM ga GROUP BY 1)
        |SELECT doc_id, n_chars, dup_line_frac, dup_line_char_frac, dup_para_frac,
        |  dup_para_char_frac, top2_char_frac, top3_char_frac, top4_char_frac,
        |  dup5_char_frac, dup6_char_frac, dup7_char_frac, dup8_char_frac,
        |  dup9_char_frac, dup10_char_frac,
        |  dup_line_frac <= 0.30 AND dup_para_frac <= 0.30
        |    AND dup_line_char_frac <= 0.20 AND dup_para_char_frac <= 0.20
        |    AND top2_char_frac <= 0.20 AND top3_char_frac <= 0.18
        |    AND top4_char_frac <= 0.16 AND dup5_char_frac <= 0.15
        |    AND dup6_char_frac <= 0.14 AND dup7_char_frac <= 0.13
        |    AND dup8_char_frac <= 0.12 AND dup9_char_frac <= 0.11
        |    AND dup10_char_frac <= 0.10 AS keep
        |FROM (
        |  SELECT b.doc_id, b.n_chars,
        |    CASE WHEN la.total > 0 THEN CAST(coalesce(la.total - la.uniq, 0) AS DOUBLE) / la.total ELSE 0.0 END AS dup_line_frac,
        |    CASE WHEN la.chars > 0 THEN CAST(coalesce(la.dup_chars, 0) AS DOUBLE) / la.chars ELSE 0.0 END AS dup_line_char_frac,
        |    CASE WHEN pa.total > 0 THEN CAST(coalesce(pa.total - pa.uniq, 0) AS DOUBLE) / pa.total ELSE 0.0 END AS dup_para_frac,
        |    CASE WHEN pa.chars > 0 THEN CAST(coalesce(pa.dup_chars, 0) AS DOUBLE) / pa.chars ELSE 0.0 END AS dup_para_char_frac,
        |    CASE WHEN b.n_chars > 0 THEN CAST(coalesce(s.top2_chars, 0) AS DOUBLE) / b.n_chars ELSE 0.0 END AS top2_char_frac,
        |    CASE WHEN b.n_chars > 0 THEN CAST(coalesce(s.top3_chars, 0) AS DOUBLE) / b.n_chars ELSE 0.0 END AS top3_char_frac,
        |    CASE WHEN b.n_chars > 0 THEN CAST(coalesce(s.top4_chars, 0) AS DOUBLE) / b.n_chars ELSE 0.0 END AS top4_char_frac,
        |    CASE WHEN b.n_chars > 0 THEN CAST(coalesce(s.dup5_chars, 0) AS DOUBLE) / b.n_chars ELSE 0.0 END AS dup5_char_frac,
        |    CASE WHEN b.n_chars > 0 THEN CAST(coalesce(s.dup6_chars, 0) AS DOUBLE) / b.n_chars ELSE 0.0 END AS dup6_char_frac,
        |    CASE WHEN b.n_chars > 0 THEN CAST(coalesce(s.dup7_chars, 0) AS DOUBLE) / b.n_chars ELSE 0.0 END AS dup7_char_frac,
        |    CASE WHEN b.n_chars > 0 THEN CAST(coalesce(s.dup8_chars, 0) AS DOUBLE) / b.n_chars ELSE 0.0 END AS dup8_char_frac,
        |    CASE WHEN b.n_chars > 0 THEN CAST(coalesce(s.dup9_chars, 0) AS DOUBLE) / b.n_chars ELSE 0.0 END AS dup9_char_frac,
        |    CASE WHEN b.n_chars > 0 THEN CAST(coalesce(s.dup10_chars, 0) AS DOUBLE) / b.n_chars ELSE 0.0 END AS dup10_char_frac
        |  FROM base b
        |  LEFT JOIN la ON la.doc_id = b.doc_id
        |  LEFT JOIN pa ON pa.doc_id = b.doc_id
        |  LEFT JOIN sig s ON s.doc_id = b.doc_id) t""".stripMargin),
    Entry("doc_fineweb_rules", (s, d) => TextOps.fineWebRules(s, d), timed,
      // dup-line char census identical to doc_rep_fractions' la CTE; the two
      // line ratios are single int/int divisions over the same line split
      """WITH l AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents),
        |lb AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS b FROM documents),
        |lc AS (SELECT doc_id, b, count(*) AS cnt FROM lb GROUP BY 1, 2),
        |la AS (SELECT doc_id, CAST(sum(cnt * length(b)) AS BIGINT) AS chars,
        |         CAST(sum((cnt - 1) * length(b)) AS BIGINT) AS dup_chars
        |       FROM lc GROUP BY 1)
        |SELECT doc_id, n_lines, punct_line_ratio, short_line_frac,
        |  dup_line_char_frac,
        |  punct_line_ratio > 0.12 AND dup_line_char_frac < 0.1
        |    AND short_line_frac < 0.67 AS keep
        |FROM (
        |  SELECT l.doc_id, CAST(len(ls) AS BIGINT) AS n_lines,
        |    CASE WHEN len(ls) > 0 THEN
        |      CAST(len(list_filter(ls, x -> ends_with(x, '.') OR ends_with(x, '!')
        |        OR ends_with(x, '?') OR ends_with(x, '"'))) AS DOUBLE) / len(ls)
        |      ELSE 0.0 END AS punct_line_ratio,
        |    CASE WHEN len(ls) > 0 THEN
        |      CAST(len(list_filter(ls, x -> length(x) < 30)) AS DOUBLE) / len(ls)
        |      ELSE 0.0 END AS short_line_frac,
        |    CASE WHEN la.chars > 0 THEN
        |      CAST(coalesce(la.dup_chars, 0) AS DOUBLE) / la.chars
        |      ELSE 0.0 END AS dup_line_char_frac
        |  FROM l LEFT JOIN la ON la.doc_id = l.doc_id) t""".stripMargin),
    Entry("doc_bigram_ll", (s, d) => TextOps.bigramLl(s, d), timed,
      // same census/smoothing scheme as doc_unigram_ll, keyed by the pair;
      // prefix counts derive from the census, V from the distinct-token count
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |p AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)),
        |        i -> struct_pack(a := ws[i], b := ws[i + 1]))) AS pr
        |      FROM t WHERE len(ws) >= 2),
        |pp AS (SELECT doc_id, struct_extract(pr, 'a') AS a,
        |         struct_extract(pr, 'b') AS b FROM p),
        |bc AS (SELECT a, b, count(*) AS n_ab FROM pp GROUP BY 1, 2),
        |ac AS (SELECT a, CAST(sum(n_ab) AS BIGINT) AS n_a FROM bc GROUP BY 1),
        |v AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS n_vocab FROM
        |       (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)),
        |s AS (SELECT pp.doc_id,
        |        CAST(-ln((n_ab + 1) / (n_a + n_vocab)) AS DECIMAL(18,9)) AS tok_nll
        |      FROM pp JOIN bc USING (a, b) JOIN ac USING (a), v)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(CAST(sum(tok_nll) AS DOUBLE) / count(*), 6) AS nll2
        |FROM s GROUP BY 1""".stripMargin),
    Entry("doc_kn_ll", (s, d) => TextOps.knLl(s, d), timed,
      // interpolated Kneser-Ney (d = 0.75): every model table derives from
      // the pair census; identical double association order as the Spark plan
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |p AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)),
        |        i -> struct_pack(a := ws[i], b := ws[i + 1]))) AS pr
        |      FROM t WHERE len(ws) >= 2),
        |pp AS (SELECT doc_id, struct_extract(pr, 'a') AS a,
        |         struct_extract(pr, 'b') AS b FROM p),
        |bc AS (SELECT a, b, count(*) AS n_ab FROM pp GROUP BY 1, 2),
        |ba AS (SELECT a, CAST(sum(n_ab) AS BIGINT) AS n_a,
        |         count(*) AS t_a FROM bc GROUP BY 1),
        |bb AS (SELECT b, count(*) AS r_b FROM bc GROUP BY 1),
        |tt AS (SELECT CAST(count(*) AS DOUBLE) AS t_all FROM bc),
        |s AS (SELECT pp.doc_id,
        |        CAST(-ln((CAST(n_ab AS DOUBLE) - 0.75) / CAST(n_a AS DOUBLE)
        |          + (0.75 * CAST(t_a AS DOUBLE) / CAST(n_a AS DOUBLE))
        |            * (CAST(r_b AS DOUBLE) / t_all)) AS DECIMAL(18,9)) AS tok_nll
        |      FROM pp JOIN bc USING (a, b) JOIN ba USING (a) JOIN bb USING (b), tt)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(CAST(sum(tok_nll) AS DOUBLE) / count(*), 6) AS kn_nll
        |FROM s GROUP BY 1""".stripMargin),
    Entry("doc_fertility", (s, d) => TextOps.fertility(s, d), timed,
      // integer sums cross the shuffle; one double division per output row
      """SELECT source, lang, count(*) AS n_docs,
        |  CAST(sum(len(regexp_split_to_array(text, '\s+'))) AS BIGINT) AS n_words,
        |  CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS n_tokens,
        |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
        |  round(CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS DOUBLE)
        |    / CAST(NULLIF(sum(len(regexp_split_to_array(text, '\s+'))), 0) AS DOUBLE), 6) AS fertility,
        |  round(CAST(sum(length(text)) AS DOUBLE)
        |    / CAST(NULLIF(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))), 0) AS DOUBLE), 6) AS chars_per_token
        |FROM documents WHERE text IS NOT NULL
        |GROUP BY 1, 2""".stripMargin),
    Entry("doc_span_corrupt", (s, d) => TextOps.spanCorrupt(s, d), timed,
      // derandomized span starts: md5(doc:pos) 3-hex-prefix threshold (plain
      // string compare, the doc_split scheme); islands merge adjacent spans
      """WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |           FROM documents WHERE text IS NOT NULL),
        |p AS (SELECT doc_id, n_tokens, unnest(range(0, n_tokens)) AS p
        |      FROM t WHERE n_tokens > 0),
        |s AS (SELECT doc_id, n_tokens, p, LEAST(p + 3, n_tokens) AS e FROM p
        |      WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(p AS VARCHAR)), 1, 3) < '0cd'),
        |m AS (SELECT doc_id, n_tokens, p, e,
        |        max(e) OVER (PARTITION BY doc_id ORDER BY p
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_e
        |      FROM s),
        |i AS (SELECT doc_id, n_tokens, p, e,
        |        CAST(sum(CASE WHEN prev_e IS NULL OR p > prev_e THEN 1 ELSE 0 END)
        |          OVER (PARTITION BY doc_id ORDER BY p ROWS UNBOUNDED PRECEDING)
        |          AS BIGINT) AS island
        |      FROM m)
        |SELECT doc_id, island - 1 AS span_idx, min(p) AS start_pos,
        |  max(e) AS end_pos, max(e) - min(p) AS n_masked,
        |  max(n_tokens) AS n_tokens
        |FROM i GROUP BY doc_id, island""".stripMargin),
    Entry("doc_lang_id", (s, d) => TextOps.langId(s, d), notTimed,
      s"""SELECT doc_id, en_hits, es_hits, de_hits,
         |  CASE WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits > 0 THEN 'en'
         |       WHEN es_hits >= de_hits AND es_hits > 0 THEN 'es'
         |       WHEN de_hits > 0 THEN 'de' ELSE 'unknown' END AS lang_pred
         |FROM (SELECT doc_id, ${hits(stop)} AS en_hits,
         |        ${hits("['el','la','de','que','y','en']")} AS es_hits,
         |        ${hits("['der','die','das','und','ist','ein']")} AS de_hits
         |      FROM documents) t""".stripMargin),
    Entry("doc_fingerprint", (s, d) => TextOps.fingerprintDocs(s, d), notTimed,
      """SELECT doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |FROM documents""".stripMargin),
    Entry("doc_term_freq", (s, d) => TextOps.termFrequencies(s, d), notTimed,
      """SELECT term, count(*) AS n_occurrences
        |FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents) t
        |GROUP BY term ORDER BY n_occurrences DESC, term LIMIT 20""".stripMargin),
    Entry("doc_sample", (s, d) => TextOps.samplePerSource(s, d), timed,
      """SELECT source, doc_id, lang, n_chars, sample_rank FROM (
        |  SELECT source, doc_id, lang, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS sample_rank
        |  FROM documents) t
        |WHERE sample_rank <= 5""".stripMargin),
    Entry("doc_split", (s, d) => TextOps.deterministicSplit(s, d), notTimed,
      """SELECT source,
        |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
        |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
        |       ELSE 'test' END AS split,
        |  count(*) AS n_docs, min(doc_id) AS min_doc_id
        |FROM documents
        |GROUP BY 1, 2""".stripMargin),
    Entry("doc_rep_ngrams", (s, d) => TextOps.repetitionNgrams(s, d), notTimed,
      // list lambdas mirror Spark's array expressions 1:1 (DuckDB lists are
      // 1-based; generate_series(1, 0) is empty, covering short docs)
      """SELECT doc_id,
        |  CAST(len(grams) AS BIGINT) AS n_grams,
        |  CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
        |  CASE WHEN len(grams) > 0
        |    THEN 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams)
        |    ELSE 0.0 END AS dup_ratio
        |FROM (
        |  SELECT doc_id,
        |    list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
        |      i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]) AS grams
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t1
        |) t2""".stripMargin),
    // watched at 10×: 14.5× in the r10 first pass for a map-only scrub
    Entry("doc_pii_scrub", (s, d) => TextOps.piiScrub(s, d), timed.copy(scale10 = Watch),
      // same char-class-only regexes as TextOps.{EmailRe,PhoneRe}; 'g' flag
      // mirrors Spark's replace-all default; md5 over the scrubbed text gates
      // the redacted CONTENT, not just the match counts
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text,
        |    '[0-9][0-9][0-9]-[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]')) AS BIGINT) AS n_phones,
        |  md5(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g'),
        |    '[0-9][0-9][0-9]-[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]', '<PHONE>', 'g')) AS scrubbed_fp
        |FROM documents""".stripMargin),
    Entry("doc_strat_sample", (s, d) => TextOps.stratifiedSample(s, d), timed,
      """SELECT doc_id, lang FROM documents
        |WHERE CASE WHEN lang = 'en'
        |  THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '40'
        |  ELSE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' END""".stripMargin),
    Entry("doc_bpe_pairs", (s, d) => TextOps.bpePairs(s, d), timed.copy(core = 20),
      """WITH words AS (
        |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |pairs AS (
        |  SELECT unnest(list_transform(generate_series(1, length(w) - 1),
        |    i -> substr(w, i, 2))) AS pair
        |  FROM words WHERE length(w) >= 2)
        |SELECT pair, count(*) AS n_occurrences
        |FROM pairs GROUP BY pair
        |ORDER BY n_occurrences DESC, pair LIMIT 20""".stripMargin),
    Entry("doc_bpe_train", (s, d) => TextOps.bpeTrain(s, d), timed),
    // not timed since r12: the production-merge-count trainer runs once
    // into the cached C53d store, and doc_bpe_store times the serving path
    Entry("doc_bpe_train_fast", (s, d) => TextOps.bpeTrainFast(s, d)),
    Entry("doc_bpe_encode", (s, d) => TextOps.bpeEncode(s, d)),
    // C53d: encode from the persisted production-scale merge table (r12,
    // VERDICT r11 #3) — the write is gate-covered here; the bench serves
    // from a cached store (train once, encode many)
    Entry("doc_bpe_store", (s, d) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-bpes")
      try {
        TextOps.writeBpeStoreFast(graft.Tables.documents(s, d), tmp.toString)
        TextOps.bpeEncodeFromStore(s, d, tmp.toString).localCheckpoint(true)
      } finally {
        import scala.reflect.io.Directory
        new Directory(tmp.toFile).deleteRecursively()
      }
    },
      storeServed((s, d) => {
        val dir = cachedStore(s"bpes:$d", tmp =>
          graft.operators.TextOps.writeBpeStoreFast(
            graft.Tables.documents(s, d), tmp))
        graft.operators.TextOps.bpeEncodeFromStore(s, d, dir)
      })),
    Entry("doc_dup_spans", (s, d) => Dedup.dupSpans(s, d), timed.copy(core = 23),
      """WITH toked AS (
        |  SELECT doc_id, str_split(text, ' ') AS ws FROM documents
        |  WHERE text IS NOT NULL),
        |wins AS (
        |  SELECT doc_id, CAST(p AS BIGINT) AS pos,
        |    array_to_string(ws[CAST(p+1 AS INT):CAST(p+20 AS INT)], ' ') AS gram
        |  FROM (SELECT doc_id, ws, unnest(range(0, len(ws) - 19)) AS p
        |        FROM toked WHERE len(ws) >= 20)),
        |hot AS (SELECT gram FROM wins GROUP BY gram
        |        HAVING count(DISTINCT doc_id) >= 3),
        |hits AS (SELECT w.doc_id, w.pos FROM wins w JOIN hot USING (gram)),
        |isl AS (SELECT doc_id, pos,
        |  CASE WHEN pos > coalesce(max(pos+20) OVER (PARTITION BY doc_id
        |    ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |  THEN 1 ELSE 0 END AS ni FROM hits),
        |isl2 AS (SELECT doc_id, pos, sum(ni) OVER (PARTITION BY doc_id
        |  ORDER BY pos) AS island FROM isl),
        |spans AS (SELECT doc_id, min(pos) AS s, max(pos)+20 AS e
        |          FROM isl2 GROUP BY doc_id, island),
        |ag AS (SELECT doc_id, count(*) AS n_spans, sum(e-s) AS cut_tokens
        |       FROM spans GROUP BY doc_id)
        |SELECT d.doc_id, CAST(len(str_split(d.text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(a.n_spans, 0) AS BIGINT) AS n_spans,
        |  CAST(coalesce(a.cut_tokens, 0) AS BIGINT) AS cut_tokens
        |FROM documents d LEFT JOIN ag a USING (doc_id)
        |WHERE d.text IS NOT NULL""".stripMargin),
    Entry("doc_quality_model", (s, d) => QualityModel.qualityModel(s, d), timed),
    Entry("doc_quality_incr", (s, d) => {
      import org.apache.spark.sql.functions.{col, expr}
      import s.implicits._
      val docs = graft.Tables.documents(s, d)
      val cutRow = docs.agg(expr("max(doc_id) * 8 div 10")).head()
      if (cutRow.isNullAt(0)) // empty corpus: no model, no scores
        Seq.empty[(Long, Double)].toDF("doc_id", "p_good")
      else {
        val cut = cutRow.getLong(0)
        val store = java.nio.file.Files.createTempDirectory("graft-qstore")
        try {
          QualityModel.writeQualityModel(docs.filter(col("doc_id") < cut),
            store.toString)
          QualityModel.qualityScoreIncremental(
            docs.filter(col("doc_id") >= cut), store.toString)
            .localCheckpoint(true) // materialize before the store dies
        } finally {
          import scala.reflect.io.Directory
          new Directory(store.toFile).deleteRecursively()
        }
      }
    },
      storeServed((s, d) => {
        val docs = graft.Tables.documents(s, d)
        val cut = cachedCut(s"doccut:$d", docs, "doc_id")
        val dir = cachedStore(s"qmodel:$d", tmp =>
          graft.operators.QualityModel.writeQualityModel(
            docs.filter(col("doc_id") < cut), tmp))
        // scoring is read-only on the model store — no copy needed
        graft.operators.QualityModel.qualityScoreIncremental(
          docs.filter(col("doc_id") >= cut), dir)
      })),
    Entry("doc_dup_spans_incr", (s, d) => {
      import org.apache.spark.sql.functions.{col, expr}
      import s.implicits._
      val docs = graft.Tables.documents(s, d)
      val cutRow = docs.agg(expr("max(doc_id) * 8 div 10")).head()
      if (cutRow.isNullAt(0)) // empty corpus: no batch, no spans
        Seq.empty[(Long, Long, Long, Long)]
          .toDF("doc_id", "n_tokens", "n_spans", "cut_tokens")
      else {
        val cut = cutRow.getLong(0)
        val store = java.nio.file.Files.createTempDirectory("graft-gramstore")
        try {
          Dedup.writeGramStore(docs.filter(col("doc_id") < cut), store.toString)
          // localCheckpoint'ed inside the ingest — safe to delete after
          Dedup.dupSpansIncremental(docs.filter(col("doc_id") >= cut),
            store.toString, batchId = 1L)
        } finally {
          import scala.reflect.io.Directory
          new Directory(store.toFile).deleteRecursively()
        }
      }
    },
      storeServed((s, d) => {
        val docs = graft.Tables.documents(s, d)
        val cut = cachedCut(s"doccut:$d", docs, "doc_id")
        val base = cachedStore(s"gram:$d", tmp =>
          graft.operators.Dedup.writeGramStore(
            docs.filter(col("doc_id") < cut), tmp))
        val work = Files.createTempDirectory("graft-bench-gramwork").toString
        copyDir(base, work)
        try graft.operators.Dedup.dupSpansIncremental( // checkpointed inside
          docs.filter(col("doc_id") >= cut), work, batchId = 1L)
        finally deleteDir(work)
      }),
      // the incremental contract IS the full run restricted to the batch:
      // same census SQL, batch = the top-2-deciles doc_id cut
      """WITH toked AS (
        |  SELECT doc_id, str_split(text, ' ') AS ws FROM documents
        |  WHERE text IS NOT NULL),
        |wins AS (
        |  SELECT doc_id, CAST(p AS BIGINT) AS pos,
        |    array_to_string(ws[CAST(p+1 AS INT):CAST(p+20 AS INT)], ' ') AS gram
        |  FROM (SELECT doc_id, ws, unnest(range(0, len(ws) - 19)) AS p
        |        FROM toked WHERE len(ws) >= 20)),
        |hot AS (SELECT gram FROM wins GROUP BY gram
        |        HAVING count(DISTINCT doc_id) >= 3),
        |hits AS (SELECT w.doc_id, w.pos FROM wins w JOIN hot USING (gram)),
        |isl AS (SELECT doc_id, pos,
        |  CASE WHEN pos > coalesce(max(pos+20) OVER (PARTITION BY doc_id
        |    ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |  THEN 1 ELSE 0 END AS ni FROM hits),
        |isl2 AS (SELECT doc_id, pos, sum(ni) OVER (PARTITION BY doc_id
        |  ORDER BY pos) AS island FROM isl),
        |spans AS (SELECT doc_id, min(pos) AS s, max(pos)+20 AS e
        |          FROM isl2 GROUP BY doc_id, island),
        |ag AS (SELECT doc_id, count(*) AS n_spans, sum(e-s) AS cut_tokens
        |       FROM spans GROUP BY doc_id)
        |SELECT d.doc_id, CAST(len(str_split(d.text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(a.n_spans, 0) AS BIGINT) AS n_spans,
        |  CAST(coalesce(a.cut_tokens, 0) AS BIGINT) AS cut_tokens
        |FROM documents d LEFT JOIN ag a USING (doc_id)
        |WHERE d.text IS NOT NULL
        |  AND d.doc_id >= (SELECT max(doc_id) * 8 // 10 FROM documents)""".stripMargin),
    Entry("doc_shard_assign", (s, d) => TextOps.shardAssign(s, d), timed,
      // the two-level prefix sum must reproduce the naive global window cumsum
      """SELECT doc_id, n_tokens,
        |  CAST((cum - n_tokens) // 5000 AS BIGINT) AS shard
        |FROM (
        |  SELECT doc_id, n_tokens,
        |    sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM (SELECT doc_id,
        |          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |        FROM documents) t1) t2""".stripMargin),
    Entry("doc_pack", (s, d) => TextOps.pack(s, d), timed.copy(core = 24, scaleUp = 13),
      // span arithmetic is all-integer; both engines walk the same global
      // token prefix sum in doc_id order
      """WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |           FROM documents WHERE text IS NOT NULL),
        |c AS (SELECT doc_id, n,
        |        CAST(sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
        |          AS BIGINT) AS cum FROM t),
        |s AS (SELECT doc_id, cum - n AS strt, cum - 1 AS lst FROM c),
        |u AS (SELECT doc_id, strt, lst,
        |        unnest(generate_series(strt // 512, lst // 512)) AS seq_id FROM s)
        |SELECT doc_id, seq_id,
        |  CAST(greatest(strt - seq_id * 512, 0) AS BIGINT) AS seq_offset,
        |  CAST(least(lst, seq_id * 512 + 511) - greatest(strt, seq_id * 512) + 1
        |    AS BIGINT) AS n_tokens
        |FROM u""".stripMargin),
    Entry("doc_vocab", (s, d) => TextOps.vocab(s, d), timed.copy(scaleUp = 14),
      // the grouped ranking must reproduce the naive global row_number
      """WITH tc AS (
        |  SELECT term, count(*) AS n_occurrences
        |  FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents) t
        |  GROUP BY term)
        |SELECT term, n_occurrences,
        |  row_number() OVER (ORDER BY n_occurrences DESC, term) AS vocab_id
        |FROM tc WHERE n_occurrences >= 5""".stripMargin),
    Entry("doc_len_deciles", (s, d) => TextOps.lenDeciles(s, d), timed,
      """WITH r AS (
        |  SELECT doc_id, n_chars,
        |    row_number() OVER (ORDER BY n_chars, doc_id) AS rank
        |  FROM documents),
        |n AS (SELECT count(*) AS n_total FROM documents)
        |SELECT doc_id, n_chars, rank,
        |  (10 * (rank - 1)) // n_total AS decile
        |FROM r, n""".stripMargin),
    Entry("doc_curate", (s, d) => TextOps.curate(s, d), timed.copy(core = 25),
      // composition of the doc_fingerprint/doc_policy/doc_quality/doc_split
      // oracles: first failing gate wins; split only for survivors
      s"""WITH fp AS (
         |  SELECT doc_id, text,
         |    md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
         |  FROM documents WHERE text IS NOT NULL),
         |canon AS (SELECT fp, min(doc_id) AS keep_id FROM fp GROUP BY fp),
         |feats AS (
         |  SELECT f.doc_id, f.doc_id <> c.keep_id AS dup,
         |    CASE WHEN length(f.text) > 0
         |      THEN CAST(length(regexp_replace(f.text, '[^0-9]', '', 'g')) AS DOUBLE)
         |           / length(f.text) ELSE 0.0 END AS digit_ratio,
         |    list_max(list_transform(regexp_split_to_array(f.text, '\\s+'),
         |      t -> length(t))) AS max_token_len,
         |    least(CAST(len(regexp_split_to_array(f.text, '\\s+')) AS DOUBLE) / 100.0, 1.0) *
         |      (1.0 - CAST(${hits(stop)} AS DOUBLE)
         |             / len(regexp_split_to_array(f.text, '\\s+'))) AS quality
         |  FROM fp f JOIN canon c ON f.fp = c.fp),
         |gated AS (
         |  SELECT doc_id,
         |    CASE WHEN dup THEN 'duplicate'
         |         WHEN NOT (digit_ratio < 0.3 AND max_token_len <= 25) THEN 'policy'
         |         WHEN quality < 0.2 THEN 'quality' END AS drop_reason
         |  FROM feats)
         |SELECT doc_id, drop_reason IS NULL AS keep, drop_reason,
         |  CASE WHEN drop_reason IS NULL THEN
         |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
         |         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
         |         ELSE 'test' END END AS split
         |FROM gated""".stripMargin),
    // near-dup gate variant: minhash isn't SQL-expressible → rows-only
    Entry("doc_curate_neardup", (s, d) => TextOps.curateNearDup(s, d)),
    // corpus-growth curate: existing = first 80% of the id range (store
    // built fresh per call, deleted after the materialized verdicts return)
    Entry("doc_curate_incr", (s, d) => {
      import org.apache.spark.sql.functions.{col, expr}
      import s.implicits._
      val docs = graft.Tables.documents(s, d).select(col("doc_id"), col("text"))
      val cutRow = docs.agg(expr("max(doc_id) * 8 div 10")).head()
      if (cutRow.isNullAt(0)) // empty corpus: no batch, no verdicts
        Seq.empty[(Long, Boolean, String, String)].toDF("doc_id", "keep", "drop_reason", "split")
      else {
        val cut = cutRow.getLong(0)
        val store = java.nio.file.Files.createTempDirectory("graft-curstore")
        try {
          TextOps.writeCurateStore(docs.filter(col("doc_id") < cut), store.toString)
          // localCheckpoint'ed inside — safe to delete the store after
          TextOps.curateIncremental(docs.filter(col("doc_id") >= cut), store.toString)
        } finally {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(store).iterator().asScala.toSeq.reverse
            .foreach(p => java.nio.file.Files.deleteIfExists(p))
        }
      }
    }),
    // corpus-growth pack: existing = first 80% of the id range; batch ids
    // all follow, so incremental must equal re-packing the whole corpus
    // restricted to batch docs — which is what the SQL oracle computes
    Entry("doc_pack_incr", (s, d) => {
      import org.apache.spark.sql.functions.{col, expr}
      import s.implicits._
      val docs = graft.Tables.documents(s, d).select(col("doc_id"), col("text"))
      val cutRow = docs.agg(expr("max(doc_id) * 8 div 10")).head()
      if (cutRow.isNullAt(0)) // empty corpus: no batch, no spans
        Seq.empty[(Long, Long, Long, Long)].toDF("doc_id", "seq_id", "seq_offset", "n_tokens")
      else {
        val cut = cutRow.getLong(0)
        val store = java.nio.file.Files.createTempDirectory("graft-packstore")
        try {
          TextOps.writePackStore(docs.filter(col("doc_id") < cut), store.toString)
          // localCheckpoint'ed inside — safe to delete the store after
          TextOps.packIncremental(docs.filter(col("doc_id") >= cut), store.toString)
        } finally {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(store).iterator().asScala.toSeq.reverse
            .foreach(p => java.nio.file.Files.deleteIfExists(p))
        }
      }
    }, notTimed,
      // append-only growth: incremental spans = the full-corpus pack
      // restricted to batch docs (ids at or above the 80% cut)
      """WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |           FROM documents WHERE text IS NOT NULL),
        |c AS (SELECT doc_id, n,
        |        CAST(sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
        |          AS BIGINT) AS cum FROM t),
        |s AS (SELECT doc_id, cum - n AS strt, cum - 1 AS lst FROM c),
        |u AS (SELECT doc_id, strt, lst,
        |        unnest(generate_series(strt // 512, lst // 512)) AS seq_id FROM s)
        |SELECT doc_id, seq_id,
        |  CAST(greatest(strt - seq_id * 512, 0) AS BIGINT) AS seq_offset,
        |  CAST(least(lst, seq_id * 512 + 511) - greatest(strt, seq_id * 512) + 1
        |    AS BIGINT) AS n_tokens
        |FROM u
        |WHERE doc_id >= (SELECT max(doc_id) * 8 // 10 FROM documents)""".stripMargin),
    Entry("doc_para_dedup", (s, d) => Dedup.paraDedup(s, d), timed,
      // segment census counts by paragraph TEXT (Spark counts by xxhash64 of
      // it — collision-free at oracle scale); reassembly order must match
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |words AS (
        |  SELECT doc_id, unnest(ws) AS word, generate_subscripts(ws, 1) - 1 AS pos FROM w),
        |segs AS (
        |  SELECT doc_id, pos // 4 AS seg, string_agg(word, ' ' ORDER BY pos) AS para
        |  FROM words GROUP BY doc_id, pos // 4),
        |counts AS (SELECT para, count(DISTINCT doc_id) AS n_docs FROM segs GROUP BY para),
        |kept AS (SELECT s.doc_id, s.seg, s.para FROM segs s JOIN counts c USING (para)
        |         WHERE c.n_docs <= 1)
        |SELECT d.doc_id,
        |  coalesce(string_agg(k.para, ' ' ORDER BY k.seg), '') AS kept_text,
        |  count(k.seg) AS n_kept
        |FROM documents d LEFT JOIN kept k USING (doc_id)
        |GROUP BY d.doc_id""".stripMargin),
    Entry("doc_mixture", (s, d) => TextOps.mixture(s, d), timed,
      // mixture weights: identical left-to-right double expression in both
      // engines; the extra-copy cut is an md5-rank integer compare
      """WITH t AS (SELECT source, doc_id,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
        |             md5(CAST(doc_id AS VARCHAR)) AS h
        |           FROM documents WHERE text IS NOT NULL),
        |s AS (SELECT source, CAST(sum(n) AS BIGINT) AS src_tokens,
        |        count(*) AS src_docs FROM t GROUP BY source),
        |g AS (SELECT CAST(sum(src_tokens) AS BIGINT) AS total_tokens,
        |        count(*) AS n_sources FROM s),
        |p AS (SELECT source,
        |        CAST(total_tokens AS DOUBLE) * (1.0 / n_sources) / src_tokens AS weight,
        |        src_docs FROM s, g),
        |p2 AS (SELECT source, CAST(floor(weight) AS BIGINT) AS base_copies,
        |         CAST(round((weight - floor(weight)) * src_docs) AS BIGINT) AS n_extra
        |       FROM p),
        |r AS (SELECT source, doc_id,
        |        row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rnk
        |      FROM t)
        |SELECT r.source, r.doc_id,
        |  CAST(base_copies + CASE WHEN rnk <= n_extra THEN 1 ELSE 0 END
        |    AS BIGINT) AS n_copies
        |FROM r JOIN p2 USING (source)""".stripMargin),
    Entry("doc_mixture_temp", (s, d) => TextOps.mixtureTemp(s, d), timed,
      // α=0.5 temperature mixture: sqrt is IEEE-correctly-rounded in both
      // engines; per-source sqrt weights quantized to DECIMAL(18,9) before
      // the cross-source sum so the share denominator is order-independent
      """WITH t AS (SELECT source, doc_id,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
        |             md5(CAST(doc_id AS VARCHAR)) AS h
        |           FROM documents WHERE text IS NOT NULL),
        |s AS (SELECT source, CAST(sum(n) AS BIGINT) AS src_tokens,
        |        count(*) AS src_docs FROM t GROUP BY source),
        |w AS (SELECT source, src_docs, src_tokens,
        |        CAST(sqrt(CAST(src_tokens AS DOUBLE)) AS DECIMAL(18,9)) AS sqw FROM s),
        |g AS (SELECT CAST(sum(src_tokens) AS BIGINT) AS total_tokens,
        |        sum(sqw) AS sum_sqw FROM w),
        |p AS (SELECT source,
        |        CAST(total_tokens AS DOUBLE) *
        |          (CAST(sqw AS DOUBLE) / CAST(sum_sqw AS DOUBLE)) / src_tokens AS weight,
        |        src_docs FROM w, g),
        |p2 AS (SELECT source, CAST(floor(weight) AS BIGINT) AS base_copies,
        |         CAST(round((weight - floor(weight)) * src_docs) AS BIGINT) AS n_extra
        |       FROM p),
        |r AS (SELECT source, doc_id,
        |        row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rnk
        |      FROM t)
        |SELECT r.source, r.doc_id,
        |  CAST(base_copies + CASE WHEN rnk <= n_extra THEN 1 ELSE 0 END
        |    AS BIGINT) AS n_copies
        |FROM r JOIN p2 USING (source)""".stripMargin),
    // C57 DSIR: rows-only (hashed featurization not oracle-expressible);
    // DsirSpec pins planted-dialect recovery + fold-vs-join equivalence
    Entry("doc_dsir", (s, d) => Dsir.dsirSelect(s, d), timed),
    // C57b: persisted-count store round trip — train on the full corpus,
    // score the trailing 20% as the ingest batch (rows-only; DsirSpec has
    // the bit-equality proof against the in-train run)
    Entry("doc_dsir_incr", (s, d) => {
      import org.apache.spark.sql.functions.{col, expr}
      import s.implicits._
      val docs = graft.Tables.documents(s, d)
      val cutRow = docs.agg(expr("max(doc_id) * 8 div 10")).head()
      if (cutRow.isNullAt(0)) Seq.empty[(Long, Double)].toDF("doc_id", "logw")
      else {
        val cut = cutRow.getLong(0)
        val store = java.nio.file.Files.createTempDirectory("graft-dsirstore")
        try {
          Dsir.writeDsirStore(docs, col("source") === "src0", store.toString)
          Dsir.dsirScoreIncremental(docs.filter(col("doc_id") >= cut), store.toString)
            .localCheckpoint(true) // materialize before the store dies
        } finally {
          import scala.reflect.io.Directory
          new Directory(store.toFile).deleteRecursively()
        }
      }
    }),
    Entry("doc_ppl_buckets", (s, d) => TextOps.pplBuckets(s, d), timed,
      // per-lang terciles over the unigram-LL score: plain ntile here; the
      // Spark side derives the identical SQL-standard bucket closed-form from
      // a two-level rank (no single-reducer-per-lang window)
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT term, count(*) AS n FROM toks GROUP BY term),
        |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS n_total,
        |               CAST(count(*) AS DOUBLE) AS n_vocab FROM tf),
        |ll AS (SELECT doc_id, count(*) AS n_tokens,
        |         round(CAST(sum(CAST(-ln((tf.n + 1) / (tot.n_total + tot.n_vocab))
        |           AS DECIMAL(18,9))) AS DOUBLE) / count(*), 6) AS nll
        |       FROM toks JOIN tf USING (term), tot GROUP BY doc_id)
        |SELECT doc_id, lang, n_tokens, nll, CAST(bucket AS BIGINT) AS bucket,
        |  CASE WHEN bucket = 1 THEN 'head' WHEN bucket = 3 THEN 'tail'
        |       ELSE 'middle' END AS tier
        |FROM (SELECT ll.doc_id AS doc_id, d.lang AS lang, n_tokens, nll,
        |        ntile(3) OVER (PARTITION BY d.lang ORDER BY nll, ll.doc_id) AS bucket
        |      FROM ll JOIN documents d ON ll.doc_id = d.doc_id) t""".stripMargin),
    Entry("doc_epoch", (s, d) => TextOps.epoch(s, d), timed,
      // epoch = mixture copies exploded then packed over pk = doc_id*K+rep-1;
      // the oracle replays the identical composition with plain windows
      """WITH t AS (SELECT source, doc_id,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
        |             md5(CAST(doc_id AS VARCHAR)) AS h
        |           FROM documents WHERE text IS NOT NULL),
        |s AS (SELECT source, CAST(sum(n) AS BIGINT) AS src_tokens,
        |        count(*) AS src_docs FROM t GROUP BY source),
        |g AS (SELECT CAST(sum(src_tokens) AS BIGINT) AS total_tokens,
        |        count(*) AS n_sources FROM s),
        |p AS (SELECT source,
        |        CAST(total_tokens AS DOUBLE) * (1.0 / n_sources) / src_tokens AS weight,
        |        src_docs FROM s, g),
        |p2 AS (SELECT source, CAST(floor(weight) AS BIGINT) AS base_copies,
        |         CAST(round((weight - floor(weight)) * src_docs) AS BIGINT) AS n_extra
        |       FROM p),
        |r AS (SELECT source, doc_id,
        |        row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rnk
        |      FROM t),
        |m AS (SELECT r.doc_id,
        |        CAST(base_copies + CASE WHEN rnk <= n_extra THEN 1 ELSE 0 END
        |          AS BIGINT) AS n_copies
        |      FROM r JOIN p2 USING (source)),
        |kk AS (SELECT CAST(coalesce(max(n_copies), 0) + 1 AS BIGINT) AS k FROM m),
        |rep AS (SELECT m.doc_id * k + unnest(generate_series(1, n_copies)) - 1 AS pk,
        |          t.n
        |        FROM m JOIN t USING (doc_id) CROSS JOIN kk
        |        WHERE n_copies >= 1),
        |c AS (SELECT pk, n,
        |        CAST(sum(n) OVER (ORDER BY pk ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |      FROM rep),
        |sp AS (SELECT pk, cum - n AS strt, cum - 1 AS lst FROM c),
        |u AS (SELECT pk, strt, lst,
        |        unnest(generate_series(strt // 512, lst // 512)) AS seq_id FROM sp)
        |SELECT pk // k AS doc_id, pk % k + 1 AS rep, seq_id,
        |  CAST(greatest(strt - seq_id * 512, 0) AS BIGINT) AS seq_offset,
        |  CAST(least(lst, seq_id * 512 + 511) - greatest(strt, seq_id * 512) + 1
        |    AS BIGINT) AS n_tokens
        |FROM u CROSS JOIN kk""".stripMargin),
    Entry("doc_epoch_budget", (s, d) => TextOps.epochBudget(s, d), notTimed,
      // budgeted epoch: the doc_epoch composition with the packed stream cut
      // to the leading whole instances whose running total fits the budget —
      // one extra WHERE on the same prefix sum
      """WITH t AS (SELECT source, doc_id,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
        |             md5(CAST(doc_id AS VARCHAR)) AS h
        |           FROM documents WHERE text IS NOT NULL),
        |s AS (SELECT source, CAST(sum(n) AS BIGINT) AS src_tokens,
        |        count(*) AS src_docs FROM t GROUP BY source),
        |g AS (SELECT CAST(sum(src_tokens) AS BIGINT) AS total_tokens,
        |        count(*) AS n_sources FROM s),
        |p AS (SELECT source,
        |        CAST(total_tokens AS DOUBLE) * (1.0 / n_sources) / src_tokens AS weight,
        |        src_docs FROM s, g),
        |p2 AS (SELECT source, CAST(floor(weight) AS BIGINT) AS base_copies,
        |         CAST(round((weight - floor(weight)) * src_docs) AS BIGINT) AS n_extra
        |       FROM p),
        |r AS (SELECT source, doc_id,
        |        row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rnk
        |      FROM t),
        |m AS (SELECT r.doc_id,
        |        CAST(base_copies + CASE WHEN rnk <= n_extra THEN 1 ELSE 0 END
        |          AS BIGINT) AS n_copies
        |      FROM r JOIN p2 USING (source)),
        |kk AS (SELECT CAST(coalesce(max(n_copies), 0) + 1 AS BIGINT) AS k FROM m),
        |rep AS (SELECT m.doc_id * k + unnest(generate_series(1, n_copies)) - 1 AS pk,
        |          t.n
        |        FROM m JOIN t USING (doc_id) CROSS JOIN kk
        |        WHERE n_copies >= 1),
        |c AS (SELECT pk, n,
        |        CAST(sum(n) OVER (ORDER BY pk ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |      FROM rep),
        |sp AS (SELECT pk, cum - n AS strt, cum - 1 AS lst FROM c
        |       WHERE cum <= 20000),
        |u AS (SELECT pk, strt, lst,
        |        unnest(generate_series(strt // 512, lst // 512)) AS seq_id FROM sp)
        |SELECT pk // k AS doc_id, pk % k + 1 AS rep, seq_id,
        |  CAST(greatest(strt - seq_id * 512, 0) AS BIGINT) AS seq_offset,
        |  CAST(least(lst, seq_id * 512 + 511) - greatest(strt, seq_id * 512) + 1
        |    AS BIGINT) AS n_tokens
        |FROM u CROSS JOIN kk""".stripMargin),
    Entry("doc_epoch_shuffled", (s, d) => TextOps.epochShuffled(s, d), notTimed,
      // shuffled epoch: same composition with the prefix sum ordered by the
      // deterministic shuffle hash md5(doc_id:rep)
      """WITH t AS (SELECT source, doc_id,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
        |             md5(CAST(doc_id AS VARCHAR)) AS h
        |           FROM documents WHERE text IS NOT NULL),
        |s AS (SELECT source, CAST(sum(n) AS BIGINT) AS src_tokens,
        |        count(*) AS src_docs FROM t GROUP BY source),
        |g AS (SELECT CAST(sum(src_tokens) AS BIGINT) AS total_tokens,
        |        count(*) AS n_sources FROM s),
        |p AS (SELECT source,
        |        CAST(total_tokens AS DOUBLE) * (1.0 / n_sources) / src_tokens AS weight,
        |        src_docs FROM s, g),
        |p2 AS (SELECT source, CAST(floor(weight) AS BIGINT) AS base_copies,
        |         CAST(round((weight - floor(weight)) * src_docs) AS BIGINT) AS n_extra
        |       FROM p),
        |r AS (SELECT source, doc_id,
        |        row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rnk
        |      FROM t),
        |m AS (SELECT r.doc_id,
        |        CAST(base_copies + CASE WHEN rnk <= n_extra THEN 1 ELSE 0 END
        |          AS BIGINT) AS n_copies
        |      FROM r JOIN p2 USING (source)),
        |rep AS (SELECT m.doc_id,
        |          unnest(generate_series(1, n_copies)) AS rep, t.n
        |        FROM m JOIN t USING (doc_id)
        |        WHERE n_copies >= 1),
        |rh AS (SELECT doc_id, rep, n,
        |         md5(CAST(doc_id AS VARCHAR) || ':' || CAST(rep AS VARCHAR)) AS h2
        |       FROM rep),
        |c AS (SELECT doc_id, rep, n,
        |        CAST(sum(n) OVER (ORDER BY h2, doc_id, rep ROWS UNBOUNDED PRECEDING)
        |          AS BIGINT) AS cum
        |      FROM rh),
        |sp AS (SELECT doc_id, rep, cum - n AS strt, cum - 1 AS lst FROM c),
        |u AS (SELECT doc_id, rep, strt, lst,
        |        unnest(generate_series(strt // 512, lst // 512)) AS seq_id FROM sp)
        |SELECT doc_id, rep, seq_id,
        |  CAST(greatest(strt - seq_id * 512, 0) AS BIGINT) AS seq_offset,
        |  CAST(least(lst, seq_id * 512 + 511) - greatest(strt, seq_id * 512) + 1
        |    AS BIGINT) AS n_tokens
        |FROM u""".stripMargin),
    Entry("doc_chunk", (s, d) => TextOps.chunk(s, d), timed,
      // overlapping windows: Spark slice(start, length) == DuckDB
      // list_slice(begin, end) with end = start + size - 1 (both clamp)
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |           FROM documents WHERE text IS NOT NULL),
        |u AS (SELECT doc_id, toks, n,
        |        unnest(generate_series(0, (n - 1) // 32)) AS chunk_id FROM t)
        |SELECT doc_id, chunk_id, chunk_id * 32 AS tok_start,
        |  CAST(least(64, n - chunk_id * 32) AS BIGINT) AS n_tokens,
        |  array_to_string(list_slice(toks, chunk_id * 32 + 1, chunk_id * 32 + 64), ' ')
        |    AS chunk_text
        |FROM u""".stripMargin),
    Entry("doc_token_budget", (s, d) => TextOps.tokenBudget(s, d), timed.copy(core = 21),
      // the two-level (quality, id-bucket) ranking must reproduce the naive
      // global quality-ordered running sum; quality formula = doc_quality's
      s"""WITH scored AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_tokens,
         |    least(CAST(len(regexp_split_to_array(text, '\\s+')) AS DOUBLE) / 100.0, 1.0) *
         |      (1.0 - CAST(${hits(stop)} AS DOUBLE)
         |             / len(regexp_split_to_array(text, '\\s+'))) AS quality
         |  FROM documents WHERE text IS NOT NULL)
         |SELECT doc_id, n_tokens, cum_tokens, cum_tokens <= 20000 AS kept
         |FROM (
         |  SELECT doc_id, n_tokens,
         |    CAST(sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |  FROM scored) t""".stripMargin),
    Entry("doc_unigram_ll", (s, d) => TextOps.unigramLl(s, d), timed,
      // per-token −ln(p) quantized to DECIMAL(18,9) before the sum, so the
      // aggregate is exact (order-independent) and any 1-ULP libm divergence
      // dies in the quantization; final mean reported at 6 dp
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT term, count(*) AS n FROM toks GROUP BY term),
        |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS n_total,
        |               CAST(count(*) AS DOUBLE) AS n_vocab FROM tf)
        |SELECT doc_id, count(*) AS n_tokens,
        |  round(CAST(sum(CAST(-ln((tf.n + 1) / (tot.n_total + tot.n_vocab))
        |    AS DECIMAL(18,9))) AS DOUBLE) / count(*), 6) AS nll
        |FROM toks JOIN tf USING (term), tot
        |GROUP BY doc_id""".stripMargin),
    Entry("doc_source_stats", (s, d) => TextOps.sourceStats(s, d), timed,
      // mean quality decimal-summed (order-independent); dup volume = docs
      // minus distinct normalized fingerprints, same formula as doc_fingerprint
      s"""SELECT source, count(*) AS n_docs,
         |  CAST(sum(len(regexp_split_to_array(text, '\\s+'))) AS BIGINT) AS total_tokens,
         |  round(CAST(sum(CAST(
         |    least(CAST(len(regexp_split_to_array(text, '\\s+')) AS DOUBLE) / 100.0, 1.0) *
         |      (1.0 - CAST(${hits(stop)} AS DOUBLE)
         |             / len(regexp_split_to_array(text, '\\s+')))
         |    AS DECIMAL(18,9))) AS DOUBLE) / count(*), 6) AS mean_quality,
         |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |  CAST(count(*) - count(DISTINCT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))))
         |    AS BIGINT) AS n_dup_docs
         |FROM documents GROUP BY source""".stripMargin),
    // C116 lexical diversity per source: TTR / Yule's K / Simpson's D
    Entry("doc_lexical_diversity", (s, d) => TextOps.lexicalDiversity(s, d), timed,
      // C116: exact integer moments end-to-end (no ln anywhere); widths
      // bounded so DuckDB never degrades a product to DOUBLE
      """WITH census AS (
        |  SELECT source, term, CAST(count(*) AS BIGINT) AS n
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS term
        |        FROM documents WHERE text IS NOT NULL)
        |  WHERE term <> '' GROUP BY 1, 2),
        |agg AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS vocab,
        |    CAST(sum(n) AS BIGINT) AS n_tokens,
        |    CAST(sum(CAST(n AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0)))
        |      AS DECIMAL(30,0)) AS s2
        |  FROM census GROUP BY 1 HAVING sum(n) >= 2)
        |SELECT source, vocab, n_tokens,
        |  CAST(vocab AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS ttr,
        |  CAST(CAST(10000 AS DECIMAL(5,0))
        |      * (s2 - CAST(n_tokens AS DECIMAL(30,0))) AS DOUBLE)
        |    / CAST(CAST(n_tokens AS DECIMAL(19,0))
        |        * CAST(n_tokens AS DECIMAL(19,0)) AS DOUBLE) AS yule_k,
        |  CAST(s2 - CAST(n_tokens AS DECIMAL(30,0)) AS DOUBLE)
        |    / CAST(CAST(n_tokens AS DECIMAL(19,0))
        |        * CAST(n_tokens - 1 AS DECIMAL(19,0)) AS DOUBLE)
        |    AS simpson_d
        |FROM agg""".stripMargin),
    Entry("doc_top_bigrams", (s, d) => TextOps.topBigrams(s, d), timed,
      // DuckDB lists are 1-based (range(1,n) = 1..n-1); Spark's ws[i] is
      // 0-based (sequence(0, n-2)) — same bigrams either way
      """WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
        |b AS (
        |  SELECT unnest(list_transform(range(1, len(ws)),
        |    i -> ws[i] || ' ' || ws[i+1])) AS bigram
        |  FROM w WHERE len(ws) >= 2)
        |SELECT bigram, count(*) AS n_occurrences FROM b GROUP BY 1
        |ORDER BY n_occurrences DESC, bigram LIMIT 20""".stripMargin),
    Entry("doc_dedup_incr", (s, d) => Dedup.dedupIncremental(s, d), timed,
      // same normalized fingerprint as doc_fingerprint; LEFT JOIN...IS NULL
      // anti-join mirrors Spark's null-safe left_anti semantics
      """WITH fps AS (
        |  SELECT doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |  FROM documents WHERE text IS NOT NULL),
        |cut AS (SELECT max(doc_id) * 8 // 10 AS cut FROM fps),
        |existing AS (SELECT DISTINCT fp FROM fps, cut WHERE doc_id < cut),
        |batch AS (SELECT doc_id, fp FROM fps, cut WHERE doc_id >= cut)
        |SELECT min(b.doc_id) AS doc_id, b.fp
        |FROM batch b LEFT JOIN existing e ON b.fp = e.fp
        |WHERE e.fp IS NULL GROUP BY b.fp""".stripMargin),
    Entry("doc_neardup_incr", (s, d) => Dedup.minhashLshIncremental(s, d), timed.copy(core = 22)),
    Entry("doc_keep_quality", (s, d) => Dedup.keepListByQuality(s, d)),
    // persisted-signature ingest path; fresh store per call keeps the gate
    // idempotent (spec proves store-path == incremental == full-restricted);
    // the store is deleted after the (materialized) ingest returns
    Entry("doc_neardup_store", (s, d) => {
      import org.apache.spark.sql.functions.{col, expr}
      import s.implicits._
      val docs = graft.Tables.documents(s, d).select(col("doc_id"), col("text"))
      val cutRow = docs.agg(expr("max(doc_id) * 8 div 10")).head()
      if (cutRow.isNullAt(0)) // empty corpus: no batch, no pairs
        Seq.empty[(Long, Long, Double)].toDF("id_a", "id_b", "est_jaccard")
      else {
        val cut = cutRow.getLong(0)
        val store = java.nio.file.Files.createTempDirectory("graft-sigstore")
        try {
          Dedup.writeSignatureStore(docs.filter(col("doc_id") < cut), store.toString)
          // localCheckpoint'ed inside ingest — safe to delete the store after
          Dedup.minhashLshIngest(docs.filter(col("doc_id") >= cut), store.toString)
        } finally {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(store).iterator.asScala.toSeq.reverse
            .foreach(p => java.nio.file.Files.deleteIfExists(p))
        }
      }
    }),
    Entry("doc_tfidf_top", (s, d) => TextOps.tfidfTopTerms(s, d), timed.copy(core = 19),
      """WITH tokens AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tokens GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tokens GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT doc_id, term, tf, df, round(tfidf, 6) AS tfidf, rank FROM (
        |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
        |    tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df) AS tfidf,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df) DESC, tf.term) AS rank
        |  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n) t
        |WHERE rank <= 3""".stripMargin),
    // C72 BM25 retrieval with the derived common/rare query pair
    Entry("doc_bm25", (s, d) => TextOps.bm25Search(s, d), timed,
      // BM25: per-term contributions quantize to DECIMAL(18,9) before the
      // per-(query, doc) sum (order-free exact), rank on the exact decimal;
      // constants mirror the Scala literals (k1+1 = 2.2 and 1-b = 0.25 are
      // both exact double results of the same-literal arithmetic)
      bm25Sql),
    // C97 Dirichlet query-likelihood retrieval (same derived queries)
    Entry("doc_qlm", (s, d) => TextOps.qlmSearch(s, d), timed, qlmSql),
    // C98 reciprocal-rank-fusion hybrid of the BM25 + QLM rankings
    Entry("doc_hybrid_rrf", (s, d) => TextOps.hybridRrf(s, d), timed, rrfSql),
    // C101 Kendall τ-b agreement between the BM25 and QLM top-k lists
    Entry("doc_rank_tau", (s, d) => TextOps.rankTau(s, d), timed, rankTauSql),
    // C103 unigram-LM (SentencePiece) tokenizer: hard-EM training +
    // Viterbi encoding (rows-only: the EM/DP recurrences aren't SQL;
    // spec-gated against hand-computed segmentations + the monotone
    // hard-EM objective)
    Entry("doc_unigram_train", (s, d) => TextOps.unigramTrain(s, d), timed),
    // not timed since r12: it trains per call (2.9 s of re-proving training
    // every rep); doc_unigram_store times encoding from the cached store
    Entry("doc_unigram_encode", (s, d) => TextOps.unigramEncode(s, d)),
    // C103c: encode from the persisted piece table — must reproduce the
    // direct encode bit-for-bit (frozen-vocabulary contract)
    Entry("doc_unigram_store", (s, d) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-unis")
      try {
        TextOps.writeUnigramStore(graft.Tables.documents(s, d), tmp.toString)
        TextOps.unigramEncodeFromStore(s, d, tmp.toString).localCheckpoint(true)
      } finally {
        import scala.reflect.io.Directory
        new Directory(tmp.toFile).deleteRecursively()
      }
    },
      storeServed((s, d) => {
        val dir = cachedStore(s"unis:$d", tmp =>
          graft.operators.TextOps.writeUnigramStore(
            graft.Tables.documents(s, d), tmp))
        graft.operators.TextOps.unigramEncodeFromStore(s, d, dir)
      })),
    // C110 WordPiece: likelihood-greedy trainer + MaxMatch encoder (the
    // third production tokenizer family beside BPE and unigram-LM)
    Entry("doc_wordpiece_train", (s, d) => TextOps.wordpieceTrain(s, d)),
    Entry("doc_wordpiece", (s, d) => TextOps.wordpieceEncode(s, d)),
    // C111 content-defined chunking: gear-CDC chunk census + dedup readout
    Entry("doc_cdc_dedup", (s, d) => TextOps.cdcDedup(s, d), timed),
    // C111d: chunk-length profile vs the mask's 2^k target (rows-only:
    // the chunk kernel has no SQL twin; reconciliation spec-gated)
    Entry("doc_cdc_stats", (s, d) => TextOps.cdcStats(s, d), timed),
    // C110c: encode from the persisted WordPiece vocabulary — must equal
    // the direct train+encode bit-for-bit (frozen-vocabulary contract)
    Entry("doc_wordpiece_store", (s, d) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-wps")
      try {
        TextOps.writeWordpieceStore(graft.Tables.documents(s, d), tmp.toString)
        TextOps.wordpieceEncodeFromStore(s, d, tmp.toString)
          .localCheckpoint(true)
      } finally {
        import scala.reflect.io.Directory
        new Directory(tmp.toFile).deleteRecursively()
      }
    },
      storeServed((s, d) => {
        val dir = cachedStore(s"wps:$d", tmp =>
          graft.operators.TextOps.writeWordpieceStore(
            graft.Tables.documents(s, d), tmp))
        graft.operators.TextOps.wordpieceEncodeFromStore(s, d, dir)
      })),
    // C113: Bloom membership store — built on the even docs, the odd docs
    // screened as a batch (organic exact dups land in n_seen; novel is
    // exact, seen may over-count by <= fpp)
    Entry("doc_bloom_store", (s, d) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-bloom")
      try {
        val docs = graft.Tables.documents(s, d)
        graft.operators.Dedup.writeBloomStore(docs.filter(
          org.apache.spark.sql.functions.col("doc_id") % 2 === 0), tmp.toString)
        graft.operators.Dedup.bloomIngest(docs.filter(
          org.apache.spark.sql.functions.col("doc_id") % 2 === 1), tmp.toString)
          .localCheckpoint(true)
      } finally {
        import scala.reflect.io.Directory
        new Directory(tmp.toFile).deleteRecursively()
      }
    }, timed),
    // C113b: counting-Bloom lifecycle — build on the even docs, take the
    // id%4==0 slice DOWN (the deletion C113 can't do), then screen the
    // odd batch against the reduced store
    Entry("doc_cbloom_store", (s, d) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-cbloom")
      try {
        import org.apache.spark.sql.functions.col
        val docs = graft.Tables.documents(s, d)
        graft.operators.Dedup.writeCountingBloomStore(
          docs.filter(col("doc_id") % 2 === 0), tmp.toString)
        graft.operators.Dedup.countingBloomForget(
          docs.filter(col("doc_id") % 4 === 0), tmp.toString)
          .localCheckpoint(true)
        graft.operators.Dedup.countingBloomIngest(
          docs.filter(col("doc_id") % 2 === 1), tmp.toString)
          .localCheckpoint(true)
      } finally {
        import scala.reflect.io.Directory
        new Directory(tmp.toFile).deleteRecursively()
      }
    }, timed),
    // C111c: chunk store + incremental batch accounting — store built on
    // the even docs, the odd docs arrive as a crawl batch (organic dups
    // and shared boilerplate produce the known/new split)
    Entry("doc_cdc_store", (s, d) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-cdcs")
      try {
        val docs = graft.Tables.documents(s, d)
        TextOps.writeCdcStore(docs.filter(
          org.apache.spark.sql.functions.col("doc_id") % 2 === 0), tmp.toString)
        TextOps.cdcIngest(docs.filter(
          org.apache.spark.sql.functions.col("doc_id") % 2 === 1), tmp.toString)
          .localCheckpoint(true)
      } finally {
        import scala.reflect.io.Directory
        new Directory(tmp.toFile).deleteRecursively()
      }
    }, timed),
    // C111e store lifecycle (r11, VERDICT r10 #8): takedown tombstone →
    // re-arrival under the STANDING mask (reads novel, resurrects) →
    // compact (fold + clear) → a fresh odd-docs ingest against the
    // rewritten store; returns the final ingest report
    Entry("doc_cdc_forget", (s, d) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-cdcf")
      try {
        import org.apache.spark.sql.functions.col
        val docs = graft.Tables.documents(s, d)
        TextOps.writeCdcStore(docs.filter(col("doc_id") % 2 === 0), tmp.toString)
        TextOps.cdcForget(docs.filter(col("doc_id") % 4 === 0), tmp.toString)
        TextOps.cdcIngest(docs.filter(col("doc_id") % 4 === 0), tmp.toString)
        TextOps.cdcCompact(s, tmp.toString)
        TextOps.cdcIngest(docs.filter(col("doc_id") % 2 === 1), tmp.toString)
          .localCheckpoint(true)
      } finally {
        import scala.reflect.io.Directory
        new Directory(tmp.toFile).deleteRecursively()
      }
    },
      // r12 (VERDICT r11 #4): the gate entry keeps the FULL lifecycle
      // (write+forget+ingest+compact+ingest — correctness must cover every
      // transition); the bench measures the post-compact ingest SERVE
      // against a cached compacted store. r13 (VERDICT r12 #8): each rep
      // now ingests into a fresh COPY of the compacted store, so the
      // appended odd chunks are genuinely new EVERY rep — min-of-reps can
      // no longer select a steady-state rep whose append writes zero rows.
      storeServed((s, d) => {
        val dir = cachedStore(s"cdcf:$d", tmp => {
          val docs = graft.Tables.documents(s, d)
          graft.operators.TextOps.writeCdcStore(
            docs.filter(col("doc_id") % 2 === 0), tmp)
          graft.operators.TextOps.cdcForget(
            docs.filter(col("doc_id") % 4 === 0), tmp)
          graft.operators.TextOps.cdcIngest(
            docs.filter(col("doc_id") % 4 === 0), tmp)
          graft.operators.TextOps.cdcCompact(s, tmp)
        })
        val work = Files.createTempDirectory("graft-bench-cdcwork").toString
        copyDir(dir, work)
        try graft.operators.TextOps.cdcIngest( // result checkpointed inside
          graft.Tables.documents(s, d).filter(col("doc_id") % 2 === 1), work)
        finally deleteDir(work)
      })),
    // C102 Efraimidis–Spirakis weighted sample (exponential keys, n_chars)
    Entry("doc_weighted_sample", (s, d) => TextOps.weightedSample(s, d), timed,
      // C102: u = (first 52 md5 bits + 0.5) / 2^52 is an exact binary
      // rational; ln(u) quantizes DECIMAL(18,9); the key is one exact
      // decimal->double conversion + one correctly-rounded division
      """SELECT doc_id, weight, es_key, sample_rank FROM (
        |  SELECT doc_id, weight, es_key,
        |    row_number() OVER (ORDER BY es_key DESC, doc_id) AS sample_rank
        |  FROM (
        |    SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
        |      CAST(CAST(ln((CAST(CAST(concat('0x', substr(
        |            md5('ws1:' || CAST(doc_id AS VARCHAR)), 1, 13))
        |          AS BIGINT) AS DOUBLE) + CAST(0.5 AS DOUBLE))
        |          / CAST(4503599627370496.0 AS DOUBLE))
        |        AS DECIMAL(18,9)) AS DOUBLE)
        |        / CAST(n_chars AS DOUBLE) AS es_key
        |    FROM documents WHERE n_chars > 0) t1) t2
        |WHERE sample_rank <= 100""".stripMargin),
    // C104 Pearson correlation audit between per-doc metrics
    Entry("doc_metric_corr", (s, d) => TextOps.metricCorr(s, d), timed,
      // C104: the A85 moment ladder (per-doc DECIMAL(18,9), cross terms
      // DECIMAL(28,6), one fixed IEEE tree over the exact sums)
      s"""WITH d AS (
         |  SELECT
         |    CAST(CAST(n_chars AS DOUBLE) AS DECIMAL(18,9)) AS c,
         |    CAST(CAST(len(regexp_split_to_array(text, '\\s+')) AS DOUBLE)
         |      AS DECIMAL(18,9)) AS t,
         |    CAST(least(CAST(len(regexp_split_to_array(text, '\\s+')) AS DOUBLE)
         |          / 100.0, 1.0)
         |      * (1.0 - CAST(${hits(stop)} AS DOUBLE)
         |          / len(regexp_split_to_array(text, '\\s+')))
         |      AS DECIMAL(18,9)) AS q
         |  FROM documents WHERE text IS NOT NULL),
         |d2 AS (SELECT *, CAST(c AS DOUBLE) AS cd, CAST(t AS DOUBLE) AS td,
         |        CAST(q AS DOUBLE) AS qd FROM d),
         |s AS (SELECT count(*) AS n,
         |  sum(c) AS s_c, sum(t) AS s_t, sum(q) AS s_q,
         |  sum(CAST(cd * cd AS DECIMAL(28,6))) AS s_cc,
         |  sum(CAST(td * td AS DECIMAL(28,6))) AS s_tt,
         |  sum(CAST(qd * qd AS DECIMAL(28,6))) AS s_qq,
         |  sum(CAST(cd * td AS DECIMAL(28,6))) AS s_ct,
         |  sum(CAST(cd * qd AS DECIMAL(28,6))) AS s_cq,
         |  sum(CAST(td * qd AS DECIMAL(28,6))) AS s_tq
         |  FROM d2),
         |p AS (
         |  SELECT 'chars_tokens' AS pair, n, CAST(n AS DOUBLE) AS nd,
         |    CAST(s_c AS DOUBLE) AS sxd, CAST(s_t AS DOUBLE) AS syd,
         |    CAST(s_cc AS DOUBLE) AS sxxd, CAST(s_tt AS DOUBLE) AS syyd,
         |    CAST(s_ct AS DOUBLE) AS sxyd FROM s WHERE n > 0
         |  UNION ALL
         |  SELECT 'chars_quality', n, CAST(n AS DOUBLE),
         |    CAST(s_c AS DOUBLE), CAST(s_q AS DOUBLE),
         |    CAST(s_cc AS DOUBLE), CAST(s_qq AS DOUBLE),
         |    CAST(s_cq AS DOUBLE) FROM s WHERE n > 0
         |  UNION ALL
         |  SELECT 'tokens_quality', n, CAST(n AS DOUBLE),
         |    CAST(s_t AS DOUBLE), CAST(s_q AS DOUBLE),
         |    CAST(s_tt AS DOUBLE), CAST(s_qq AS DOUBLE),
         |    CAST(s_tq AS DOUBLE) FROM s WHERE n > 0),
         |v AS (SELECT pair, n,
         |    sxd / nd AS mx, syd / nd AS my,
         |    sxxd / nd - (sxd / nd) * (sxd / nd) AS vx,
         |    syyd / nd - (syd / nd) * (syd / nd) AS vy,
         |    sxyd / nd AS mxy
         |  FROM p)
         |SELECT pair, n,
         |  round(CASE WHEN vx * vy > 0
         |    THEN (mxy - mx * my) / sqrt(vx * vy) END, 6) AS corr
         |FROM v""".stripMargin),
    // C105 Flesch reading ease / FK grade per doc
    Entry("doc_readability", (s, d) => TextOps.readability(s, d), timed,
      // C105: identical regex semantics for sentence runs / vowel groups;
      // one fixed IEEE tree over exact integer counts
      """WITH d AS (
        |  SELECT doc_id,
        |    greatest(1, CAST(len(regexp_extract_all(text, '[.!?]+'))
        |      AS BIGINT)) AS n_sentences,
        |    CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n_words,
        |    CAST(list_sum(list_transform(regexp_split_to_array(text, '\s+'),
        |      w -> CASE WHEN length(w) = 0 THEN 0
        |        ELSE greatest(1, len(regexp_extract_all(lower(w), '[aeiouy]+')))
        |      END)) AS BIGINT) AS n_syllables
        |  FROM documents WHERE text IS NOT NULL),
        |r AS (
        |  SELECT *, CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE) AS wps,
        |    CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE) AS spw
        |  FROM d WHERE n_words > 0)
        |SELECT doc_id, n_sentences, n_words, n_syllables,
        |  round(CAST(206.835 AS DOUBLE) - CAST(1.015 AS DOUBLE) * wps
        |    - CAST(84.6 AS DOUBLE) * spw, 6) AS flesch_ease,
        |  round(CAST(0.39 AS DOUBLE) * wps + CAST(11.8 AS DOUBLE) * spw
        |    - CAST(15.59 AS DOUBLE), 6) AS fk_grade
        |FROM r""".stripMargin),
    // C106 PMI collocations over a ±2 token window
    Entry("doc_pmi", (s, d) => TextOps.pmiPairs(s, d), timed,
      // C106: exact integer counts; pmi one fixed IEEE tree quantized
      // DECIMAL(18,9) before the rank (generate_series(1, 0) is empty,
      // covering one-token docs)
      """WITH t AS (
        |  SELECT list_filter(string_split(text, ' '), w -> length(w) > 0) AS ts
        |  FROM documents WHERE text IS NOT NULL),
        |uni AS (SELECT unnest(ts) AS tok FROM t),
        |ucnt AS (SELECT tok, count(*) AS n FROM uni GROUP BY 1),
        |nn AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM ucnt),
        |npx AS (SELECT CAST(sum(greatest(0, len(ts) - 1)
        |    + greatest(0, len(ts) - 2)) AS BIGINT) AS np FROM t),
        |pairs AS (
        |  SELECT unnest(list_transform(generate_series(1, len(ts) - 1),
        |    i -> struct_pack(a := ts[i], b := ts[i + 1]))) AS p FROM t
        |  UNION ALL
        |  SELECT unnest(list_transform(generate_series(1, len(ts) - 2),
        |    i -> struct_pack(a := ts[i], b := ts[i + 2]))) AS p FROM t),
        |pc AS (SELECT p.a AS a, p.b AS b, count(*) AS n_ab
        |       FROM pairs GROUP BY 1, 2 HAVING count(*) >= 5),
        |sc AS (SELECT pc.a, pc.b, pc.n_ab,
        |  CAST(ln((CAST(pc.n_ab AS DOUBLE) * CAST(nn.nt AS DOUBLE)
        |        * CAST(nn.nt AS DOUBLE))
        |      / (CAST(npx.np AS DOUBLE) * CAST(ua.n AS DOUBLE)
        |        * CAST(ub.n AS DOUBLE))) AS DECIMAL(18,9)) AS pmi_q
        |  FROM pc JOIN ucnt ua ON pc.a = ua.tok
        |    JOIN ucnt ub ON pc.b = ub.tok, nn, npx)
        |SELECT row_number() OVER (ORDER BY pmi_q DESC, a, b) AS rank,
        |  a, b, n_ab, CAST(round(pmi_q, 6) AS DOUBLE) AS pmi
        |FROM sc QUALIFY rank <= 50""".stripMargin),
    // C107 held-out bigram NLL (train on the md5 80%, score the rest)
    Entry("doc_heldout_ppl", (s, d) => TextOps.heldoutPpl(s, d), timed,
      // C107: the C68 model on the md5 TRAIN split, scored on the held-out
      // docs with LEFT joins + coalesce (unseen pairs/words pay the
      // smoothed price); identical tokenization and quantization
      heldoutPplSql("cd")),
    // C107 at a second split ratio (70/30): pins the Laplace V-scaling
    Entry("doc_heldout_ppl70", (s, d) => TextOps.heldoutPpl(s, d, "b3"),
      notTimed, heldoutPplSql("b3")),
    // C108 BPE-vs-unigram fertility bake-off per source (rows-only:
    // both encoders are rows-only; reconciliation spec-gated). Not timed
    // since r10, like doc_wordpiece and mm_phash_pairs: training and decode
    // are spec-pinned, and their store-served twins are what a deployment
    // re-runs (~17 s/rep of re-proving training, VERDICT r9 #1b)
    Entry("doc_tok_compare", (s, d) => TextOps.tokCompare(s, d)),
    // C109 pairwise agreement matrix over the three keep batteries
    Entry("doc_filter_agreement", (s, d) => TextOps.filterAgreement(s, d), timed,
      // C109: the three keep predicates replayed verbatim (null text
      // coalesces to a drop on both engines); ratios IEEE over exact longs
      s"""WITH g AS (
         |  SELECT doc_id, coalesce(
         |    (n_words BETWEEN 50 AND 100000) AND (mean_word_len BETWEEN 3.0 AND 10.0)
         |      AND symbol_ratio < 0.1 AND bullet_ratio <= 0.9
         |      AND ellipsis_ratio <= 0.3 AND alpha_ratio > 0.8
         |      AND stop_hits >= 2, false) AS kg
         |  FROM (
         |    SELECT doc_id,
         |      CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_words,
         |      CAST(list_sum(list_transform(string_split(text, ' '), w -> length(w))) AS DOUBLE)
         |        / len(string_split(text, ' ')) AS mean_word_len,
         |      CAST(len(regexp_extract_all(text, '#')) + len(regexp_extract_all(text, '\\.\\.\\.')) AS DOUBLE)
         |        / len(regexp_split_to_array(text, '\\s+')) AS symbol_ratio,
         |      CAST(len(list_filter(string_split(text, chr(10)),
         |          l -> starts_with(l, '- ') OR starts_with(l, '* ') OR starts_with(l, '• '))) AS DOUBLE)
         |        / len(string_split(text, chr(10))) AS bullet_ratio,
         |      CAST(len(list_filter(string_split(text, chr(10)), l -> ends_with(l, '...'))) AS DOUBLE)
         |        / len(string_split(text, chr(10))) AS ellipsis_ratio,
         |      CAST(len(list_filter(string_split(text, ' '), w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
         |        / len(string_split(text, ' ')) AS alpha_ratio,
         |      ${hits(stop)} AS stop_hits
         |    FROM documents) t),
         |c AS (
         |  SELECT doc_id, coalesce(
         |    len(kept) >= 3 AND NOT contains(lower(text), 'lorem ipsum')
         |      AND NOT contains(text, '{'), false) AS kc
         |  FROM (
         |    SELECT doc_id, text,
         |      list_filter(string_split(text, chr(10)), l ->
         |        (ends_with(l, '.') OR ends_with(l, '!') OR ends_with(l, '?')
         |          OR ends_with(l, '"'))
         |        AND len(regexp_split_to_array(l, '\\s+')) >= 3
         |        AND NOT contains(lower(l), 'javascript')) AS kept
         |    FROM documents) t),
         |fl AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents),
         |flb AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS b FROM documents),
         |flc AS (SELECT doc_id, b, count(*) AS cnt FROM flb GROUP BY 1, 2),
         |fla AS (SELECT doc_id, CAST(sum(cnt * length(b)) AS BIGINT) AS chars,
         |          CAST(sum((cnt - 1) * length(b)) AS BIGINT) AS dup_chars
         |        FROM flc GROUP BY 1),
         |f AS (
         |  SELECT doc_id, coalesce(
         |    punct_line_ratio > 0.12 AND dup_line_char_frac < 0.1
         |      AND short_line_frac < 0.67, false) AS kf
         |  FROM (
         |    SELECT fl.doc_id,
         |      CASE WHEN len(ls) > 0 THEN
         |        CAST(len(list_filter(ls, x -> ends_with(x, '.') OR ends_with(x, '!')
         |          OR ends_with(x, '?') OR ends_with(x, '"'))) AS DOUBLE) / len(ls)
         |        ELSE 0.0 END AS punct_line_ratio,
         |      CASE WHEN len(ls) > 0 THEN
         |        CAST(len(list_filter(ls, x -> length(x) < 30)) AS DOUBLE) / len(ls)
         |        ELSE 0.0 END AS short_line_frac,
         |      CASE WHEN fla.chars > 0 THEN
         |        CAST(coalesce(fla.dup_chars, 0) AS DOUBLE) / fla.chars
         |        ELSE 0.0 END AS dup_line_char_frac
         |    FROM fl LEFT JOIN fla ON fla.doc_id = fl.doc_id) t),
         |s AS (
         |  SELECT count(*) AS n_docs,
         |    count(*) FILTER (WHERE kg) AS ng,
         |    count(*) FILTER (WHERE kc) AS nc,
         |    count(*) FILTER (WHERE kf) AS nf,
         |    count(*) FILTER (WHERE kg AND kc) AS ngc,
         |    count(*) FILTER (WHERE kg AND kf) AS ngf,
         |    count(*) FILTER (WHERE kc AND kf) AS ncf
         |  FROM g JOIN c USING (doc_id) JOIN f USING (doc_id)
         |  HAVING count(*) > 0),
         |p AS (
         |  SELECT 'gopher' AS filter_a, 'c4' AS filter_b, n_docs,
         |    ngc AS both_keep, ng - ngc AS only_a, nc - ngc AS only_b FROM s
         |  UNION ALL
         |  SELECT 'gopher', 'fineweb', n_docs,
         |    ngf, ng - ngf, nf - ngf FROM s
         |  UNION ALL
         |  SELECT 'c4', 'fineweb', n_docs,
         |    ncf, nc - ncf, nf - ncf FROM s)
         |SELECT filter_a, filter_b, n_docs, both_keep, only_a, only_b,
         |  n_docs - (both_keep + only_a + only_b) AS both_drop,
         |  CASE WHEN (both_keep + only_a + only_b) > 0 THEN
         |    CAST(both_keep AS DOUBLE)
         |      / CAST(both_keep + only_a + only_b AS DOUBLE) END AS kept_jaccard,
         |  CAST(both_keep + (n_docs - (both_keep + only_a + only_b)) AS DOUBLE)
         |    / CAST(n_docs AS DOUBLE) AS agreement
         |FROM p""".stripMargin),
    // C99 per-source Zipf-law fit over the top-500 term census
    Entry("doc_zipf", (s, d) => TextOps.zipfFit(s, d), timed,
      // C99: ln quantized DECIMAL(18,9) per point (the C72 discipline), exact
      // decimal second-order sums, one fixed IEEE tree for the fit statistics
      """WITH c AS (SELECT source, term, count(*) AS freq FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS term
        |    FROM documents WHERE text IS NOT NULL) t GROUP BY 1, 2),
        |r AS (SELECT source,
        |        CAST(ln(CAST(rank AS DOUBLE)) AS DECIMAL(18,9)) AS x,
        |        CAST(ln(CAST(freq AS DOUBLE)) AS DECIMAL(18,9)) AS y
        |      FROM (SELECT source, term, freq,
        |              row_number() OVER (PARTITION BY source
        |                ORDER BY freq DESC, term) AS rank FROM c) t
        |      WHERE rank <= 500),
        |s AS (SELECT source, count(*) AS n_terms,
        |        CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |        CAST(sum(x*x) AS DOUBLE) AS sxx, CAST(sum(x*y) AS DOUBLE) AS sxy,
        |        CAST(sum(y*y) AS DOUBLE) AS syy
        |      FROM r GROUP BY 1),
        |d AS (SELECT *, CAST(n_terms AS DOUBLE) AS nd,
        |        CAST(n_terms AS DOUBLE) * sxy - sx * sy AS num,
        |        CAST(n_terms AS DOUBLE) * sxx - sx * sx AS denx,
        |        CAST(n_terms AS DOUBLE) * syy - sy * sy AS deny
        |      FROM s),
        |f AS (SELECT *, CASE WHEN denx <> 0 THEN num / denx END AS slope FROM d)
        |SELECT source, n_terms, round(slope, 6) AS slope,
        |  round((sy - slope * sx) / nd, 6) AS intercept,
        |  round(CASE WHEN denx * deny <> 0
        |        THEN num * num / (denx * deny) END, 6) AS r2
        |FROM f""".stripMargin),
    // C100 Heaps vocabulary-growth curve at 10 doc_id-range checkpoints
    Entry("doc_heaps", (s, d) => TextOps.heapsCurve(s, d), timed,
      // C100: term-exists-at-checkpoint ⇔ first doc_id ≤ cutoff — a 10-bucket
      // histogram over the first-doc census + prefix sums, all exact integers
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |             FROM documents WHERE text IS NOT NULL),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dt AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tok FROM tf GROUP BY 1),
        |span AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM dt),
        |fd AS (SELECT term, min(doc_id) AS first_doc FROM tf GROUP BY 1),
        |vh AS (SELECT least(9, CAST(floor(CAST(first_doc - lo AS DOUBLE) * 10.0
        |           / CAST(hi - lo + 1 AS DOUBLE)) AS BIGINT)) AS b,
        |         count(*) AS nv
        |       FROM fd, span GROUP BY 1),
        |dh AS (SELECT least(9, CAST(floor(CAST(doc_id - lo AS DOUBLE) * 10.0
        |           / CAST(hi - lo + 1 AS DOUBLE)) AS BIGINT)) AS b,
        |         count(*) AS nd, CAST(sum(n_tok) AS BIGINT) AS nt
        |       FROM dt, span GROUP BY 1),
        |j AS (SELECT coalesce(dh.b, vh.b) AS b, coalesce(nd, 0) AS nd,
        |        coalesce(nt, 0) AS nt, coalesce(nv, 0) AS nv
        |      FROM dh FULL JOIN vh ON dh.b = vh.b)
        |SELECT b + 1 AS checkpoint,
        |  CAST(sum(nd) OVER (ORDER BY b) AS BIGINT) AS n_docs,
        |  CAST(sum(nt) OVER (ORDER BY b) AS BIGINT) AS n_tokens,
        |  CAST(sum(nv) OVER (ORDER BY b) AS BIGINT) AS vocab
        |FROM j""".stripMargin),
    // C76 persisted postings store: serve-from-store must be bit-equal to
    // the direct path (same oracle)
    Entry("doc_bm25_store", (s, d) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-bm25s")
      try {
        TextOps.writeBm25Store(graft.Tables.documents(s, d), tmp.toString)
        TextOps.bm25FromStore(s, tmp.toString).localCheckpoint(true)
      } finally {
        import scala.reflect.io.Directory
        new Directory(tmp.toFile).deleteRecursively()
      }
    },
      storeServed((s, d) => {
        val dir = cachedStore(s"bm25s:$d", tmp =>
          graft.operators.TextOps.writeBm25Store(
            graft.Tables.documents(s, d), tmp))
        // serving is read-only on the postings store — no copy needed
        graft.operators.TextOps.bm25FromStore(s, dir)
      }),
      // C76: serve-from-store is bit-equal to the direct path
      bm25Sql),
    Entry("doc_entropy", (s, d) => TextOps.tokenEntropy(s, d), timed,
      // identical ln-decomposition H = ln n − (Σ c·ln c)/n on both engines;
      // 6 dp absorbs the 1-ULP ln() difference
      """WITH tc AS (
        |  SELECT doc_id, term, count(*) AS c
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents) t
        |  GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_distinct,
        |  round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) AS entropy
        |FROM tc GROUP BY 1""".stripMargin),
    Entry("doc_policy", (s, d) => TextOps.policyFilter(s, d), notTimed,
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS n_digits,
        |  CASE WHEN length(text) > 0
        |       THEN CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text)
        |       ELSE 0.0 END AS digit_ratio,
        |  CAST(list_max(list_transform(regexp_split_to_array(text, '\s+'), t -> length(t))) AS BIGINT)
        |    AS max_token_len,
        |  (CASE WHEN length(text) > 0
        |        THEN CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text)
        |        ELSE 0.0 END < 0.3
        |   AND list_max(list_transform(regexp_split_to_array(text, '\s+'), t -> length(t))) <= 25)
        |    AS keep
        |FROM documents""".stripMargin),
    // C108b: the bake-off served from the two persisted tokenizer stores
    // (train once at store-write, compare without retraining) — must be
    // bit-equal to doc_tok_compare under the same training parameters.
    Entry("doc_tok_compare_store", (s, d) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-toks")
      try {
        val docs = graft.Tables.documentsSpread(s, d)
        graft.operators.TextOps.writeBpeStore(docs, s"$tmp/bpe", nMerges = 64)
        graft.operators.TextOps.writeUnigramStore(docs, s"$tmp/uni")
        graft.operators.TextOps.tokCompareFromStores(
          s, d, s"$tmp/bpe", s"$tmp/uni").localCheckpoint(true)
      } finally {
        import scala.reflect.io.Directory
        new Directory(tmp.toFile).deleteRecursively()
      }
    },
      storeServed((s, d) => {
        val dir = cachedStore(s"toks:$d", tmp => {
          val docs = graft.Tables.documents(s, d)
          graft.operators.TextOps.writeBpeStore(docs, s"$tmp/bpe", nMerges = 64)
          graft.operators.TextOps.writeUnigramStore(docs, s"$tmp/uni")
        })
        graft.operators.TextOps.tokCompareFromStores(s, d, s"$dir/bpe", s"$dir/uni")
      })),
  )

  /** C. training-data pipeline: embedding search, dedup and graphs. */
  private def embeddingEntries: Seq[Entry] = Seq(
    // C77 per-dimension embedding drift between the 80% base and the tail
    Entry("emb_drift", (s, d) => Similarity.drift(s, d), timed,
      // C77: DECIMAL(18,9) per-term quantization is lossless on float
      // inputs, sums exact, means/delta one fixed IEEE sequence.
      """WITH cut AS (SELECT max(vec_id) * 8 // 10 AS c FROM embeddings),
        |e AS (SELECT vec_id,
        |        CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(18,9)) AS d,
        |        CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim_idx
        |      FROM embeddings),
        |g AS (
        |  SELECT dim_idx,
        |    count(*) FILTER (WHERE vec_id <= c) AS n_base,
        |    count(*) FILTER (WHERE vec_id > c) AS n_new,
        |    sum(d) FILTER (WHERE vec_id <= c) AS s_base,
        |    sum(d) FILTER (WHERE vec_id > c) AS s_new
        |  FROM e, cut GROUP BY 1)
        |SELECT dim_idx, n_base, n_new,
        |  CAST(s_base AS DOUBLE) / CAST(n_base AS DOUBLE) AS mean_base,
        |  CAST(s_new AS DOUBLE) / CAST(n_new AS DOUBLE) AS mean_new,
        |  CAST(s_new AS DOUBLE) / CAST(n_new AS DOUBLE)
        |    - CAST(s_base AS DOUBLE) / CAST(n_base AS DOUBLE) AS delta
        |FROM g WHERE n_base > 0 AND n_new > 0""".stripMargin),
    Entry("emb_cosine_topk", (s, d) => Similarity.cosineTopK(s, d),
      timed.copy(core = 26), bruteTopkSql),
    // C112 range (radius) search: brute oracle path, the IVF-probed scale
    // path, and the exhaustive-probe twin that must equal brute exactly
    // (not at 10×: the broadcast-queries × corpus filter is quadratic by
    // construction, ~8× at 10×; emb_range_ivf is the linear path)
    Entry("emb_range_query", (s, d) => Similarity.rangeQuery(s, d),
      timed.copy(scale10 = Skip), bruteRangeSql),
    Entry("emb_range_ivf", (s, d) => Similarity.rangeQueryIvf(s, d), timed),
    Entry("emb_range_ivf_exhaustive", (s, d) => Similarity.rangeQueryIvfExhaustive(s, d),
      notTimed, bruteRangeSql),
    // not at 10×: the within-block exact pair enumeration is quadratic by
    // construction, ~8× at 10×; emb_lsh_auto is the linear path
    Entry("emb_neardup_pairs", (s, d) => Similarity.neardupPairs(s, d), timed.copy(scale10 = Skip),
      s"""SELECT label, id_a, id_b, cos_sim FROM (
         |  SELECT a.label AS label, a.vec_id AS id_a, b.vec_id AS id_b,
         |    list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
         |      (${nrm("a")} * ${nrm("b")}) AS cos_sim
         |  FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id) t
         |WHERE cos_sim >= 0.3""".stripMargin),
    // not at 10×: this fixed-parameter baseline read 92× there (r10)
    Entry("emb_lsh_pairs", (s, d) => Similarity.lshNeardupPairs(s, d), timed.copy(scale10 = Skip)),
    // threshold 0.4 (the fixed-param entry's), not the 0.85 production
    // default: at sf0.01 the 0.85 dump is 0 rows — a vacuous gate row
    Entry("emb_lsh_auto", (s, d) => Similarity.lshNeardupPairsAuto(s, d, threshold = 0.4),
      timed.copy(scale10 = Watch, core = 29, scaleUp = 15)),
    // C89: Matryoshka truncated-serving audit — top-k overlap + rank-1
    // agreement per truncation width vs the full-dim ranking
    Entry("emb_trunc_audit", (s, d) => Similarity.truncAudit(s, d), timed,
      // truncation audit: slices + dots replay bit-identically
      // (list_slice = Spark slice; list_dot_product = the native kernel's
      // double accumulation); the native width rides the widths list so
      // the full-dim row is the control
      """WITH dims AS (SELECT DISTINCT td FROM (
        |    SELECT unnest([8, 16, 32]) AS td
        |    UNION ALL
        |    SELECT DISTINCT len(embedding) AS td FROM embeddings
        |    WHERE embedding IS NOT NULL) t),
        |base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |         FROM embeddings WHERE embedding IS NOT NULL),
        |sv AS (SELECT td, vec_id, v, nrm FROM (
        |  SELECT d.td, b.vec_id, list_slice(b.v, 1, d.td) AS v,
        |    sqrt(list_dot_product(list_slice(b.v, 1, d.td),
        |                          list_slice(b.v, 1, d.td))) AS nrm
        |  FROM base b CROSS JOIN dims d) s WHERE nrm > 0),
        |q AS (SELECT td, vec_id AS q_id, v AS qv, nrm AS qn FROM sv WHERE vec_id < 10),
        |c AS (SELECT * FROM sv WHERE vec_id >= 10),
        |ranked AS (
        |  SELECT c.td, q.q_id, c.vec_id,
        |    row_number() OVER (PARTITION BY c.td, q.q_id
        |      ORDER BY list_dot_product(c.v, q.qv) / (c.nrm * q.qn) DESC,
        |        c.vec_id) AS rank
        |  FROM c JOIN q ON c.td = q.td
        |  QUALIFY rank <= 5),
        |mw AS (SELECT q_id, max(td) AS max_w FROM ranked GROUP BY 1),
        |fl AS (SELECT r.q_id, r.vec_id, r.rank AS full_rank
        |       FROM ranked r JOIN mw ON r.q_id = mw.q_id AND r.td = mw.max_w),
        |perq AS (
        |  SELECT td, r.q_id,
        |    sum(CASE WHEN f.full_rank IS NOT NULL THEN 1 ELSE 0 END) AS n_match,
        |    sum(CASE WHEN r.rank = 1 AND f.full_rank = 1 THEN 1 ELSE 0 END) AS r1
        |  FROM ranked r LEFT JOIN fl f ON r.q_id = f.q_id AND r.vec_id = f.vec_id
        |  GROUP BY 1, 2)
        |SELECT CAST(td AS BIGINT) AS trunc_dim, count(*) AS n_q,
        |  CAST(sum(n_match) AS DOUBLE) / CAST(count(*) * 5 AS DOUBLE) AS overlap_at_k,
        |  CAST(sum(r1) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS rank1_match
        |FROM perq GROUP BY 1""".stripMargin),
    // C90: diagonal-Mahalanobis OOD score (decimal-exact per-dim stats as
    // plan literals; map-only scoring)
    Entry("emb_ood", (s, d) => Similarity.oodScore(s, d), timed,
      // per-dim stats from the same DECIMAL(18,9) sums; per-TERM
      // DECIMAL(18,9) quantization makes the per-vector sum
      // order-independent (list_sum == Spark's in-row decimal fold)
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings WHERE embedding IS NOT NULL),
        |x AS (SELECT CAST(unnest(v) AS DECIMAL(18,9)) AS d,
        |        generate_subscripts(v, 1) AS i FROM e),
        |g AS (SELECT i, count(*) AS n, sum(d) AS s, sum(d * d) AS s2
        |      FROM x GROUP BY 1),
        |st AS (SELECT i,
        |    CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
        |    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
        |      - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
        |        * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS vr
        |  FROM g),
        |st2 AS (SELECT i, mu,
        |    CASE WHEN vr > 0 THEN sqrt(vr) ELSE 0.0 END AS sg FROM st),
        |arrs AS (SELECT list(mu ORDER BY i) AS mu, list(sg ORDER BY i) AS sg
        |         FROM st2)
        |SELECT vec_id,
        |  round(CAST(list_sum(list_transform(range(1, len(v) + 1),
        |    i -> CASE WHEN sg[i] > 0
        |      THEN CAST(((v[i] - mu[i]) / sg[i]) * ((v[i] - mu[i]) / sg[i]) AS DECIMAL(18,9))
        |      ELSE CAST(0.0 AS DECIMAL(18,9)) END)) AS DOUBLE), 6) AS ood
        |FROM e, arrs""".stripMargin),
    // C90b: store lifecycle — merged decimal moments are bit-equal to the
    // single-pass fit, so the SAME oracle as emb_ood must hash-match
    Entry("emb_ood_store", (s, d) => Similarity.oodStore(s, d), notTimed,
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings WHERE embedding IS NOT NULL),
        |x AS (SELECT CAST(unnest(v) AS DECIMAL(18,9)) AS d,
        |        generate_subscripts(v, 1) AS i FROM e),
        |g AS (SELECT i, count(*) AS n, sum(d) AS s, sum(d * d) AS s2
        |      FROM x GROUP BY 1),
        |st AS (SELECT i,
        |    CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
        |    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
        |      - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
        |        * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS vr
        |  FROM g),
        |st2 AS (SELECT i, mu,
        |    CASE WHEN vr > 0 THEN sqrt(vr) ELSE 0.0 END AS sg FROM st),
        |arrs AS (SELECT list(mu ORDER BY i) AS mu, list(sg ORDER BY i) AS sg
        |         FROM st2)
        |SELECT vec_id,
        |  round(CAST(list_sum(list_transform(range(1, len(v) + 1),
        |    i -> CASE WHEN sg[i] > 0
        |      THEN CAST(((v[i] - mu[i]) / sg[i]) * ((v[i] - mu[i]) / sg[i]) AS DECIMAL(18,9))
        |      ELSE CAST(0.0 AS DECIMAL(18,9)) END)) AS DOUBLE), 6) AS ood
        |FROM e, arrs""".stripMargin),
    // C96: IVF bucket-balance audit (rows-only: Lloyd assignment)
    Entry("emb_ivf_balance", (s, d) => Similarity.ivfBalanceFor(s, d)),
    Entry("emb_hamming_topk", (s, d) => Similarity.hammingTopK(s, d), timed),
    Entry("emb_hamming_exhaustive", (s, d) => Similarity.hammingTopKExhaustive(s, d),
      notTimed, bruteTopkSql),
    Entry("emb_mmr", (s, d) => Similarity.mmrTopK(s, d), timed),
    Entry("emb_pq_topk", (s, d) => Similarity.pqTopK(s, d)),
    Entry("emb_ivf_topk", (s, d) => Similarity.ivfTopK(s, d), timed.copy(core = 27, scaleUp = 16)),
    // encode-once/query-many: the index is built on first touch (per SF +
    // params + DATA VERSION — the path fingerprints the source files, so a
    // regenerated table can never be served from a stale index), later
    // calls read it — so min-of-reps benches the QUERY path alone, the
    // number a deployed ANN service actually serves. Identity to the live
    // operators is spec-gated (SimilaritySpec persisted-index).
    Entry("emb_pq_query", (s, d) => {
      val idx = s"${sys.props("java.io.tmpdir")}/graft-pq-m8k16-${embDataTag(s, d)}"
      if (!new java.io.File(s"$idx/codes.parquet").exists) Similarity.writePqIndex(s, d, idx)
      Similarity.pqTopKFromIndex(s, d, idx)
    }, timed.copy(scale10 = FirstTouch)),
    Entry("emb_ivf_query", (s, d) => {
      val idx = s"${sys.props("java.io.tmpdir")}/graft-ivf-n8-${embDataTag(s, d)}"
      if (!new java.io.File(s"$idx/assignments.parquet").exists) Similarity.writeIvfIndex(s, d, idx)
      Similarity.ivfTopKFromIndex(s, d, idx)
    }, timed.copy(scale10 = FirstTouch, core = 28)),
    // exhaustive probes (nprobe = nlist): the IVF machinery must reproduce
    // brute force EXACTLY — oracle-gated end-to-end check of assignment,
    // probing and ranking
    Entry("emb_ivf_exhaustive", (s, d) => Similarity.ivfTopK(s, d, nprobe = 8),
      notTimed, bruteTopkSql),
    // recall-floor gates (r10, VERDICT r9 #6): the four approximate serving
    // paths each carry a CHECKED delivered-recall bound vs the brute twin —
    // the entry THROWS (gate goes red) if recall undercuts the envelope /
    // the index's own measured curve, instead of dumping unchecked rows
    Entry("emb_ivf_recall", (s, d) => Similarity.ivfRecallGate(s, d)),
    Entry("emb_pq_recall", (s, d) => Similarity.pqRecallGate(s, d)),
    // C6b recall floor (r11, VERDICT r10 #6): the production near-dup
    // default gets the same in-gate discipline — delivered PAIR recall vs
    // the exact cosine enumeration, floored at the scheme's own sizing
    // promise (0.85 × at-threshold theoretical recall). Timed so a
    // recall-gate cost regression shows; not at 10×: it embeds the exact
    // O(n²) pair enumeration by design (11.4× at 10×, r11)
    Entry("emb_lsh_recall", (s, d) => Similarity.lshRecallGate(s, d), timed.copy(scale10 = Skip)),
    // C6d (r12, the r11 verdict's open scale unknown): the maxBands cap's
    // recall cost as MEASURED numbers — a cap × simulated-corpus-size
    // sweep (collision probability is scale-free given the scheme, so the
    // 2^30-vector scheme's recall is measurable on gate-corpus true pairs).
    // An exact-enumeration instrument like emb_lsh_recall: timed, not at 10×
    Entry("emb_lsh_band_curve", (s, d) => Similarity.lshBandCurve(s, d),
      timed.copy(scale10 = Skip)),
    // C120: per-label centroid-distance label-hygiene audit (quantized
    // per-dim medians; integer-logic top-5% outlier flag)
    Entry("emb_centroid_quality", (s, d) => Similarity.centroidQuality(s, d), timed,
      // C120: ALL-INTEGER micro-unit arithmetic (qa_ks discipline) — the
      // centroid is twice the median via two explicit order statistics;
      // dist2q is an exact BIGINT; the outlier verdict is integer rank logic
      """WITH x AS (
        |  SELECT vec_id, label,
        |    unnest(range(1, len(embedding) + 1)) AS d,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT)
        |      AS xi
        |  FROM embeddings),
        |rk AS (SELECT vec_id, label, d, xi,
        |         row_number() OVER (PARTITION BY label, d ORDER BY xi) AS rn,
        |         count(*) OVER (PARTITION BY label, d) AS n
        |       FROM x),
        |c AS (SELECT label, d,
        |        sum(CASE WHEN rn = (n + 1) // 2 THEN xi ELSE 0 END)
        |          + sum(CASE WHEN rn = (n + 2) // 2 THEN xi ELSE 0 END)
        |          AS c2
        |      FROM rk GROUP BY 1, 2),
        |dd AS (SELECT x.vec_id, x.label,
        |         CAST(sum((2 * x.xi - c.c2) * (2 * x.xi - c.c2)) AS BIGINT)
        |           AS dist2q
        |       FROM x JOIN c ON x.label = c.label AND x.d = c.d
        |       GROUP BY 1, 2),
        |r AS (SELECT vec_id, label, dist2q,
        |        row_number() OVER (PARTITION BY label
        |          ORDER BY dist2q DESC, vec_id) AS r,
        |        count(*) OVER (PARTITION BY label) AS n
        |      FROM dd)
        |SELECT vec_id, label, dist2q,
        |  r <= CAST(ceil(n * 0.05) AS BIGINT) AS is_outlier
        |FROM r""".stripMargin),
    // C121: MMR representative-yet-diverse k-exemplar selection (greedy
    // over a TakeOrdered candidate head — rows-only, spec-reconciled)
    Entry("emb_mmr_select", (s, d) => Similarity.mmrSelect(s, d), timed),
    Entry("emb_ivf_query_recall", (s, d) => {
      val idx = s"${sys.props("java.io.tmpdir")}/graft-ivf-n8-${embDataTag(s, d)}"
      if (!new java.io.File(s"$idx/assignments.parquet").exists) Similarity.writeIvfIndex(s, d, idx)
      Similarity.ivfQueryRecallGate(s, d, idx)
    }),
    Entry("emb_pq_query_recall", (s, d) => {
      val idx = s"${sys.props("java.io.tmpdir")}/graft-pq-m8k16-${embDataTag(s, d)}"
      if (!new java.io.File(s"$idx/codes.parquet").exists) Similarity.writePqIndex(s, d, idx)
      Similarity.pqQueryRecallGate(s, d, idx)
    }),
    // corpus-growth ingest: base index on the first 80% of corpus ids, the
    // last 20% ingested against the STORED centroids, then served
    // exhaustively — must hash-equal brute force over the FULL corpus
    // (bucketing never changes exhaustive scores, so a lost or misrouted
    // ingested vector is a row diff here)
    Entry("emb_ivf_ingest", (s, d) => {
      import org.apache.spark.sql.functions.{col, expr}
      import s.implicits._
      val emb = graft.Tables.embeddings(s, d)
      val cutRow = emb.agg(expr("max(vec_id) * 8 div 10")).head()
      if (cutRow.isNullAt(0)) // empty corpus: no index, no results
        Seq.empty[(Long, Long, Long, Double)].toDF("q_id", "vec_id", "rank", "cos_sim")
      else {
        val cut = cutRow.getLong(0)
        val idx = java.nio.file.Files.createTempDirectory("graft-ivfingest")
        try {
          Similarity.writeIvfIndexFrom(emb.filter(col("vec_id") < cut),
            idx.toString, nQueries = 10, nlist = 8, lloydIters = 1)
          Similarity.ivfIngest(s, emb.filter(col("vec_id") >= cut), idx.toString)
          Similarity.ivfTopKFromIndex(s, d, idx.toString,
            nprobe = Int.MaxValue).localCheckpoint(true)
        } finally {
          import scala.reflect.io.Directory
          new Directory(idx.toFile).deleteRecursively()
        }
      }
    },
      storeServed((s, d) => {
        val emb = graft.Tables.embeddings(s, d)
        val cut = cachedCut(s"embcut:$d", emb, "vec_id")
        val base = cachedStore(s"ivfing:$d", tmp =>
          graft.operators.Similarity.writeIvfIndexFrom(
            emb.filter(col("vec_id") < cut), tmp,
            nQueries = 10, nlist = 8, lloydIters = 1))
        val work = Files.createTempDirectory("graft-bench-ivfingwork").toString
        copyDir(base, work)
        try {
          graft.operators.Similarity.ivfIngest(
            s, emb.filter(col("vec_id") >= cut), work)
          graft.operators.Similarity.ivfTopKFromIndex(s, d, work,
            nprobe = Int.MaxValue).localCheckpoint(true)
        } finally deleteDir(work)
      }), bruteTopkSql),
    // C74: delete lifecycle — tombstone a deterministic corpus subset,
    // serve the MASKED index exhaustively (pre-compact, so this gates the
    // tombstone anti-join itself) — must hash-equal brute force over the
    // corpus minus the deleted ids
    Entry("emb_ivf_delete", (s, d) => {
      import org.apache.spark.sql.functions.col
      import s.implicits._
      val emb = graft.Tables.embeddings(s, d)
      if (emb.take(1).isEmpty)
        Seq.empty[(Long, Long, Long, Double)].toDF("q_id", "vec_id", "rank", "cos_sim")
      else {
        val idx = java.nio.file.Files.createTempDirectory("graft-ivfdel")
        try {
          Similarity.writeIvfIndexFrom(emb, idx.toString,
            nQueries = 10, nlist = 8, lloydIters = 1)
          Similarity.ivfDelete(s,
            emb.filter(col("vec_id") % 10 === 3).select(col("vec_id")),
            idx.toString)
          Similarity.ivfTopKFromIndex(s, d, idx.toString,
            nprobe = Int.MaxValue).localCheckpoint(true)
        } finally {
          import scala.reflect.io.Directory
          new Directory(idx.toFile).deleteRecursively()
        }
      }
    },
      storeServed((s, d) => {
        val emb = graft.Tables.embeddings(s, d)
        val base = cachedStore(s"ivfdel:$d", tmp =>
          graft.operators.Similarity.writeIvfIndexFrom(emb, tmp,
            nQueries = 10, nlist = 8, lloydIters = 1))
        val work = Files.createTempDirectory("graft-bench-ivfdelwork").toString
        copyDir(base, work)
        try {
          graft.operators.Similarity.ivfDelete(
            s, emb.filter(col("vec_id") % 10 === 3).select(col("vec_id")), work)
          graft.operators.Similarity.ivfTopKFromIndex(s, d, work,
            nprobe = Int.MaxValue).localCheckpoint(true)
        } finally deleteDir(work)
      }), bruteTopkDeleteSql),
    // C56: MIPS — exact brute force (gated), the norm-augmented IVF probe
    // path (rows-only), and its exhaustive twin (every bucket probed, exact
    // re-score ⇒ must reproduce the brute force bit-for-bit — gated)
    Entry("emb_mips_topk", (s, d) => Similarity.mipsTopK(s, d), timed, bruteMipsSql),
    Entry("emb_mips_ivf", (s, d) => Similarity.mipsIvfTopK(s, d), timed),
    Entry("emb_mips_ivf_exhaustive", (s, d) => Similarity.mipsIvfTopK(s, d, nprobe = 8),
      notTimed, bruteMipsSql),
    Entry("emb_knn_graph", (s, d) => Similarity.knnGraph(s, d), notTimed, bruteKnnSql),
    // C118: k-NN label-recovery eval (majority vote over the exact graph;
    // deterministic tie rules make it oracle-gated end-to-end)
    Entry("emb_knn_label_eval", (s, d) => Similarity.knnLabelEval(s, d), notTimed,
      s"""WITH r AS (
        |  SELECT q.vec_id AS q_id, q.label AS q_label, c.label AS n_label,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY $dotCQ / (${nrm("c")} * ${nrm("q")}) DESC, c.vec_id) AS rank
        |  FROM embeddings c, embeddings q
        |  WHERE c.vec_id <> q.vec_id AND ${nrm("c")} > 0 AND ${nrm("q")} > 0),
        |votes AS (SELECT q_id, q_label, n_label, count(*) AS nv
        |  FROM r WHERE rank <= 5 GROUP BY 1, 2, 3),
        |pred AS (SELECT q_id, q_label, n_label AS pred_label,
        |  row_number() OVER (PARTITION BY q_id ORDER BY nv DESC, n_label) AS vr
        |  FROM votes)
        |SELECT CAST(q_label AS BIGINT) AS label,
        |  count(*) AS n_vectors,
        |  CAST(count(CASE WHEN pred_label = q_label THEN 1 END) AS BIGINT)
        |    AS n_correct,
        |  CAST(count(CASE WHEN pred_label = q_label THEN 1 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS accuracy
        |FROM pred WHERE vr = 1 GROUP BY 1""".stripMargin),
    Entry("emb_knn_graph_ivf", (s, d) => Similarity.knnGraphIvf(s, d), timed),
    Entry("emb_knn_graph_exhaustive", (s, d) => Similarity.knnGraphIvfExhaustive(s, d),
      notTimed, bruteKnnSql),
    // C115 triangle census + clustering coefficient over the mutual kNN graph
    // (the oracle base, quadratic by construction: emb_triangles_ivf is timed)
    Entry("emb_triangles", (s, d) => Similarity.triangles(s, d), notTimed,
      // C115: mutual-kNN edges from the brute graph; wedge closure via
      // EXISTS; coefficient one division of exact longs (the exhaustive
      // IVF twin provably equals brute, so it shares this oracle)
      trianglesSql),
    // C115b IVF-blocked scale path + the exhaustive twin sharing C115's oracle
    Entry("emb_triangles_ivf", (s, d) => Similarity.trianglesIvf(s, d), timed),
    Entry("emb_triangles_exhaustive", (s, d) => Similarity.trianglesIvfExhaustive(s, d),
      notTimed, trianglesSql),
    // density pruning (Lloyd's): rows-only, planted-geometry spec-gated
    Entry("emb_prototypes", (s, d) => Similarity.embPrototypes(s, d), timed),
    Entry("emb_d4", (s, d) => Similarity.embD4(s, d), timed),
    Entry("emb_label_prop", (s, d) => Similarity.labelProp(s, d), timed),
    // C73 PageRank centrality over the k-NN graph (rows-only: iterative,
    // but bit-deterministic via per-step DECIMAL(28,12) quantization)
    Entry("emb_pagerank", (s, d) => Similarity.pageRank(s, d), timed),
    // quantized serving path (IVF + int8 codes + float re-rank): rows-only
    // (quantized scoring isn't SQL-expressible); recall/identity spec-gated
    Entry("emb_ivf_q", (s, d) => {
      val idx = s"${sys.props("java.io.tmpdir")}/graft-ivfq-n8-${embDataTag(s, d)}"
      if (!new java.io.File(s"$idx/codes.parquet").exists) Similarity.writeIvfQIndex(s, d, idx)
      Similarity.ivfQTopKFromIndex(s, d, idx)
    }, timed.copy(scale10 = FirstTouch)),
    // exhaustive probes + shortlist ≥ corpus: the float re-rank must erase
    // the quantization entirely — oracle-gated against the same brute-force
    // SQL as emb_ivf_exhaustive
    Entry("emb_ivf_q_exhaustive", (s, d) =>
      Similarity.ivfQTopK(s, d, nprobe = 8, rerank = 1 << 20), notTimed, bruteTopkSql),
    // IVF-PQ serving (coarse quantizer + PQ-coded RESIDUALS + per-query ADC
    // tables + float re-rank — the memory-bound FAISS layout at m bytes per
    // corpus vector): rows-only (ADC scoring isn't SQL-expressible);
    // recall/identity spec-gated
    Entry("emb_ivfpq", (s, d) => {
      val idx = s"${sys.props("java.io.tmpdir")}/graft-ivfpq-n8m8k16-${embDataTag(s, d)}"
      if (!new java.io.File(s"$idx/codes.parquet").exists) Similarity.writeIvfPqIndex(s, d, idx)
      Similarity.ivfPqTopKFromIndex(s, d, idx)
    }, timed.copy(scale10 = FirstTouch, core = 30)),
    // exhaustive probes + shortlist ≥ corpus: the float re-rank must erase
    // coarse AND product quantization entirely — oracle-gated against the
    // same brute-force SQL as emb_ivf_exhaustive
    Entry("emb_ivfpq_exhaustive", (s, d) =>
      Similarity.ivfPqTopK(s, d, nprobe = 8, rerank = 1 << 20), notTimed, bruteTopkSql),
    Entry("emb_quantize", (s, d) => Similarity.quantizeInt8(s, d), timed,
      // float→double casts are exact, then both engines run the identical
      // double expression; round() is half-away-from-zero on the
      // always-positive scaled value in both
      """WITH e AS (SELECT vec_id,
        |             CAST(unnest(embedding) AS DOUBLE) AS v,
        |             CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim_idx
        |           FROM embeddings),
        |s AS (SELECT dim_idx, min(v) AS lo, max(v) AS hi FROM e GROUP BY dim_idx)
        |SELECT e.vec_id, e.dim_idx,
        |  CAST(CASE WHEN s.hi = s.lo THEN 0
        |       ELSE round((e.v - s.lo) / (s.hi - s.lo) * 255) - 128 END AS BIGINT) AS code
        |FROM e JOIN s USING (dim_idx)""".stripMargin),
    // the harness sorts result columns via pandas, which cannot hash a raw
    // array<double> — dump the projection exploded to scalar rows (the
    // array-returning randomProject stays the user-facing API)
    Entry("emb_project", (s, d) => {
      import org.apache.spark.sql.functions.{col, posexplode, round}
      Similarity.randomProject(s, d)
        .select(col("vec_id"), posexplode(col("projected")).as(Seq("dim_idx", "value")))
        .select(col("vec_id"), col("dim_idx"), round(col("value"), 6).as("value"))
    },
      // the bench times the array-returning operator a user runs; the
      // gate's exploded form 16×es the rows
      served((s, d) => Similarity.randomProject(s, d))),
    Entry("emb_pca", (s, d) => {
      import org.apache.spark.sql.functions.{col, posexplode, round}
      Similarity.embPca(s, d)
        .select(col("vec_id"), posexplode(col("projected")).as(Seq("dim_idx", "value")))
        .select(col("vec_id"), col("dim_idx"), round(col("value"), 6).as("value"))
    }, served((s, d) => Similarity.embPca(s, d))),
    Entry("emb_clusters", (s, d) => Similarity.embClusters(s, d), timed),
    Entry("emb_hard_negatives", (s, d) => Similarity.hardNegatives(s, d), timed,
      // same bit-exact cosine as the brute-force oracle, label filter residual
      s"""SELECT q_id, vec_id, label, rank, cos_sim FROM (
         |  SELECT q.vec_id AS q_id, c.vec_id AS vec_id, c.label AS label,
         |    $dotCQ / (${nrm("c")} * ${nrm("q")}) AS cos_sim,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY $dotCQ / (${nrm("c")} * ${nrm("q")}) DESC, c.vec_id) AS rank
         |  FROM embeddings c, embeddings q
         |  WHERE q.vec_id < 10 AND c.vec_id >= 10 AND c.label <> q.label) t
         |WHERE rank <= 3""".stripMargin),
    Entry("emb_keep_list", (s, d) => Similarity.embKeepList(s, d)),
    // C58 SemDeDup: learned-cluster near-dup collapse (rows-only: Lloyd's)
    Entry("emb_semdedup", (s, d) => Similarity.semDedup(s, d), timed),
  )

  /** C. training-data pipeline: multimodal media. */
  private def mediaEntries: Seq[Entry] = Seq(
    Entry("mm_meta_stats", (s, d) =>
      graft.multimodal.Multimodal.metaStats(graft.multimodal.Multimodal.mediaTable(s, d)),
      notTimed,
      """SELECT kind, count(*) AS n_media,
        |  CAST(sum(width) AS DOUBLE) / count(*) AS avg_width,
        |  CAST(sum(duration_ms) AS BIGINT) AS total_duration_ms
        |FROM (SELECT CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |        CAST(64 + (doc_id % 8) * 16 AS INTEGER) AS width,
        |        n_chars * 10 AS duration_ms
        |      FROM documents) t
        |GROUP BY kind""".stripMargin),
    Entry("mm_frame_sample", (s, d) => {
      import org.apache.spark.sql.functions._
      graft.multimodal.Multimodal.frameSample(
        graft.multimodal.Multimodal.mediaTable(s, d))
        .groupBy("media_id").agg(count(lit(1)).as("n_frames"))
    }, notTimed,
      // video rows carry 1 + n_chars/256 container frames (capped 12); the
      // stride-4 sampler keeps ceil(frames/4) of them — both derivable in SQL
      """SELECT doc_id AS media_id,
        |  CAST((least(1 + n_chars // 256, 12) + 3) // 4 AS BIGINT) AS n_frames
        |FROM documents WHERE doc_id % 3 = 2""".stripMargin),
    Entry("mm_features", (s, d) =>
      graft.multimodal.Multimodal.extractFeatures(
        graft.multimodal.Multimodal.mediaTable(s, d)).toDF()
        .select(org.apache.spark.sql.functions.col("media_id"),
          org.apache.spark.sql.functions.col("kind")),
      notTimed,
      // the feature rows' join keys are derivable in SQL even though the
      // embedding payload is stub-generated — gates row coverage + key mapping
      """SELECT doc_id AS media_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind
        |FROM documents""".stripMargin),
    // C12b perceptual image dedup: every 5th visual row re-enters under a
    // shifted id — the planted exact copies the pHash pairing must find
    // (distance 0; organic noise-image collisions at d<=3 are ~2^-45/pair)
    Entry("mm_phash_pairs", (s, d) => {
      import s.implicits._
      val m = graft.multimodal.Multimodal.mediaTable(s, d)
      val dup = m.filter(x =>
          (x.kind == "image" || x.kind == "video") && x.media_id % 5 == 0)
        .map(x => x.copy(media_id = x.media_id + 10000000L))
      graft.multimodal.Multimodal.phashPairs(m.union(dup))
    }),
    // C12c: the same pairing served from the PERSISTED hash store — the
    // base corpus is written once, the planted duplicates arrive via
    // ingest (decoding only the batch), and pairing touches no pixels.
    // Must equal mm_phash_pairs row-for-row (spec-pinned; same planting).
    Entry("mm_phash_store", (s, d) => {
      import s.implicits._
      val tmp = java.nio.file.Files.createTempDirectory("graft-phs")
      try {
        val m = graft.multimodal.Multimodal.mediaTable(s, d)
        val dup = m.filter(x =>
            (x.kind == "image" || x.kind == "video") && x.media_id % 5 == 0)
          .map(x => x.copy(media_id = x.media_id + 10000000L))
        graft.multimodal.Multimodal.writePhashStore(m, tmp.toString)
        graft.multimodal.Multimodal.ingestPhashes(dup, tmp.toString)
        graft.multimodal.Multimodal.phashPairsFromStore(s, tmp.toString)
          .localCheckpoint(true)
      } finally {
        import scala.reflect.io.Directory
        new Directory(tmp.toFile).deleteRecursively()
      }
    },
      storeServed((s, d) => {
        val dir = cachedStore(s"phash:$d", tmp =>
          graft.multimodal.Multimodal.writePhashStore(
            graft.multimodal.Multimodal.mediaTable(s, d), tmp))
        graft.multimodal.Multimodal.phashPairsFromStore(s, dir)
      })),
    // C12d: WIDE-RADIUS (r ≤ 7, 8-band pigeonhole-exact) pairing over the
    // hash table, with twins planted at CONTROLLED Hamming distances 1..7
    // (a d-bit xor mask with flips spread round-robin across the 16-bit
    // bands — the adversarial layout for 4-band blocking, provably
    // harmless to 8-band). Every planted pair must surface with its exact
    // distance; rows-only (banding is blocking, not SQL).
    Entry("mm_phash_pairs_r7", (s, d) => {
      val h = graft.multimodal.Multimodal.phashes(
        graft.multimodal.Multimodal.mediaTable(s, d)).localCheckpoint(true)
      graft.multimodal.Multimodal.phashPairsRadius(
        h.unionByName(phashTwins(h, 20000000L, spreadMasks(7))), maxDist = 7)
    }),
    // C12d instrument: measured per-radius recall of the production 4-band
    // scheme vs the brute Hamming enumeration (the C7d curve discipline on
    // the visual family). Twins planted BOTH band-spread (missed by 4-band
    // past r=3) and band-concentrated (always found), so the curve reads
    // 1.0 through r=3 — the pigeonhole guarantee — and a real, non-trivial
    // fraction beyond it.
    Entry("mm_phash_recall_curve", (s, d) => {
      val h = graft.multimodal.Multimodal.phashes(
        graft.multimodal.Multimodal.mediaTable(s, d)).localCheckpoint(true)
      val planted = h
        .unionByName(phashTwins(h, 20000000L, spreadMasks(8)))
        .unionByName(phashTwins(h, 40000000L, concMasks(8)))
      graft.multimodal.Multimodal.phashRecallCurve(planted, maxRadius = 8)
    }),
  )
}
