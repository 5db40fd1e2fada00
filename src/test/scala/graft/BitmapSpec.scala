package graft

import org.apache.spark.sql.functions._
import graft.functions.{BitmapKernel, LongBitmap}
import graft.functions.BitmapFunctions._
import graft.operators.BitmapOps

class BitmapSpec extends SparkSuite {
  import scala.collection.mutable

  private def refSet(vs: Iterable[Long]): mutable.TreeSet[Long] =
    mutable.TreeSet(vs.toSeq: _*)

  test("kernel: add/contains/cardinality match a reference set (mixed density)") {
    val rnd = new scala.util.Random(7)
    // dense low range (forces bitmap containers) + sparse high keys (array)
    val vs = (Seq.fill(9000)(rnd.nextInt(6000).toLong) ++
      Seq.fill(500)(rnd.nextLong().abs)).toIndexedSeq
    val bm = new LongBitmap
    vs.foreach(bm.add)
    val ref = refSet(vs)
    assert(bm.cardinality === ref.size.toLong)
    ref.foreach(v => assert(bm.contains(v)))
    assert(!bm.contains(ref.max + 1))
    assert(!bm.contains(-1L))
  }

  test("kernel: serialize/deserialize roundtrip preserves the set; bytes are canonical") {
    val rnd = new scala.util.Random(13)
    val vs = Seq.fill(8000)(rnd.nextInt(70000).toLong)
    val a = new LongBitmap
    vs.foreach(a.add)
    val b = LongBitmap.deserialize(a.serialize())
    assert(b.cardinality === a.cardinality)
    // canonical: shuffled insertion order and partitioned-merge construction
    // produce BYTE-EQUAL serializations (what makes store files deterministic)
    val shuffled = new LongBitmap
    rnd.shuffle(vs).foreach(shuffled.add)
    assert(java.util.Arrays.equals(a.serialize(), shuffled.serialize()))
    val parts = vs.grouped(997).map { chunk =>
      val p = new LongBitmap
      chunk.foreach(p.add)
      p
    }.toSeq
    val merged = new LongBitmap
    parts.foreach(merged.or)
    assert(java.util.Arrays.equals(a.serialize(), merged.serialize()))
  }

  test("kernel: array container promotes to bitmap past 4096 and survives roundtrip") {
    val bm = new LongBitmap
    (0L until 5000L).foreach(v => bm.add(v * 13 % 65536)) // one container, dense
    val distinct = (0L until 5000L).map(v => v * 13 % 65536).distinct.size
    assert(bm.cardinality === distinct.toLong)
    assert(LongBitmap.deserialize(bm.serialize()).cardinality === distinct.toLong)
  }

  test("kernel: or/and match reference set algebra across container kinds") {
    val rnd = new scala.util.Random(99)
    val xs = Seq.fill(6000)(rnd.nextInt(50000).toLong) // dense: bitmap containers
    val ys = Seq.fill(300)(rnd.nextInt(50000).toLong)  // sparse: array containers
    val bx = new LongBitmap; xs.foreach(bx.add)
    val by = new LongBitmap; ys.foreach(by.add)
    val union = refSet(xs ++ ys)
    val inter = refSet(xs).intersect(refSet(ys))
    val or = LongBitmap.deserialize(bx.serialize()); or.or(by)
    assert(or.cardinality === union.size.toLong)
    val and = LongBitmap.deserialize(bx.serialize()); and.and(by)
    assert(and.cardinality === inter.size.toLong)
    inter.foreach(v => assert(and.contains(v)))
    // AND demotion keeps bytes canonical: direct build == intersected build
    val direct = new LongBitmap; inter.foreach(direct.add)
    assert(java.util.Arrays.equals(and.serialize(), direct.serialize()))
  }

  test("kernel: scalar entry points agree with the class API") {
    val a = new LongBitmap; Seq(1L, 2L, 70000L).foreach(a.add)
    val b = new LongBitmap; Seq(2L, 70000L, 70001L).foreach(b.add)
    assert(BitmapKernel.count(a.serialize()) === 3L)
    assert(BitmapKernel.count(BitmapKernel.and(a.serialize(), b.serialize())) === 2L)
    assert(BitmapKernel.count(BitmapKernel.or(a.serialize(), b.serialize())) === 4L)
    assert(BitmapKernel.contains(a.serialize(), 70000L))
    assert(!BitmapKernel.contains(a.serialize(), 3L))
  }

  test("bitmap_agg is partitioning-invariant: byte-equal sketches at 1 and 7 partitions") {
    import SparkSuite.spark.implicits._
    val ids = (1L to 5000L).map(i => (i % 977) * 31)
    val df = ids.toDF("id")
    val one = df.repartition(1).agg(bitmapAgg(col("id"))).head.getAs[Array[Byte]](0)
    val many = df.repartition(7).agg(bitmapAgg(col("id"))).head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(one, many))
    assert(BitmapKernel.count(one) === ids.distinct.size.toLong)
  }

  test("bitmap_and_agg: ids present in EVERY group; all-null group yields empty") {
    import SparkSuite.spark.implicits._
    val rows = Seq(
      (1L, 10L), (1L, 11L), (1L, 12L),
      (2L, 11L), (2L, 12L), (2L, 13L),
      (3L, 12L), (3L, 11L))
    val daily = rows.toDF("day", "id")
      .groupBy("day").agg(bitmapAgg(col("id")).as("bm"))
    val everyDay = daily.agg(bitmapCount(bitmapAndAgg(col("bm"))).as("n"))
      .head.getAs[Long]("n")
    assert(everyDay === 2L) // 11 and 12 appear on all three days
    val empty = daily.agg(
      bitmapCount(bitmapAndAgg(lit(null).cast("binary"))).as("n"))
      .head.getAs[Long]("n")
    assert(empty === 0L)
  }

  test("SQL surface: registered functions compose in spark.sql") {
    import SparkSuite.spark.implicits._
    (1L to 100L).map(i => (i % 3, i % 40)).toDF("g", "id")
      .createOrReplaceTempView("bm_in")
    val out = spark.sql(
      """SELECT roaring_count(roaring_or_agg(bm)) AS total,
        |       roaring_count(roaring_and_agg(bm)) AS common
        |FROM (SELECT g, bitmap_agg(id) AS bm FROM bm_in GROUP BY g)""".stripMargin)
      .head()
    assert(out.getAs[Long]("total") === 40L)
    // ids hit all 3 groups iff the residue classes cover them: exact check
    val common = (0L until 40L).count(id =>
      (0L until 3L).forall(g => (1L to 100L).exists(i => i % 3 == g && i % 40 == id)))
    assert(out.getAs[Long]("common") === common.toLong)
  }

  test("operators: daily/rollup/sliding/overlap equal exact countDistinct answers") {
    val daily = BitmapOps.bitmapDaily(spark, sf)
    val exactDaily = Tables.events(spark, sf)
      .select(col("event_type"),
        expr("unix_millis(cast(ts as timestamp_ltz)) div 86400000").as("day_idx"),
        col("user_id"))
      .groupBy("event_type", "day_idx")
      .agg(countDistinct(col("user_id")).as("n_users"), count(lit(1)).as("n_events"))
    assert(daily.exceptAll(exactDaily).isEmpty && exactDaily.exceptAll(daily).isEmpty)

    val rollup = BitmapOps.bitmapRollup(spark, sf).collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("n_users")).toMap
    val exactRollup = Tables.events(spark, sf)
      .groupBy("event_type").agg(countDistinct(col("user_id")).as("u")).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("u")).toMap
    assert(rollup === exactRollup)

    val sliding = BitmapOps.bitmapSliding(spark, sf).collect()
    assert(sliding.nonEmpty)
    sliding.foreach { r =>
      assert(r.getAs[Long]("n_users") >= 1L)
      assert(r.getAs[Long]("n_days") >= 1L && r.getAs[Long]("n_days") <= 7L)
    }

    val overlap = BitmapOps.bitmapOverlap(spark, sf).collect()
    overlap.foreach { r =>
      val (na, nb, both) = (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
        r.getAs[Long]("n_both"))
      assert(both <= math.min(na, nb))
      val j = r.getAs[Double]("jaccard")
      assert(j >= 0.0 && j <= 1.0)
    }
  }

  test("store: ingested partials serve the same range answer as a direct scan") {
    val served = BitmapOps.bitmapStore(spark, sf).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n_users"), r.getAs[Long]("n_events"))).toMap
    val ev = Tables.events(spark, sf)
      .withColumn("day_idx",
        expr("unix_millis(cast(ts as timestamp_ltz)) div 86400000"))
    val Array(d0, d1) = ev.agg(min("day_idx"), max("day_idx")).head() match {
      case r => Array(r.getLong(0), r.getLong(1))
    }
    val direct = ev.filter(col("day_idx") >= (d0 + d1) / 2 && col("day_idx") <= d1)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("u"), count(lit(1)).as("n"))
      .collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("u"), r.getAs[Long]("n"))).toMap
    assert(served === direct)
  }

  test("andNot kernel: exact set difference across container shapes") {
    def bm(vs: Seq[Long]): LongBitmap = {
      val b = new LongBitmap; vs.foreach(b.add); b
    }
    // array \ array, crossing a container boundary (key 0 and key 1)
    val a = bm(Seq(1L, 2L, 3L, 70000L, 70001L))
    a.andNot(bm(Seq(2L, 70001L, 99999L)))
    assert(a.cardinality == 3 && a.contains(1L) && a.contains(3L) &&
      a.contains(70000L) && !a.contains(2L) && !a.contains(70001L))
    // bitmap-shaped container \ array: dense 0..9999 minus evens
    val dense = bm(0L until 10000L)
    dense.andNot(bm((0L until 10000L).filter(_ % 2 == 0)))
    assert(dense.cardinality == 5000 && dense.contains(1L) && !dense.contains(2L))
    // emptied container drops; serialization stays canonical
    val x = bm(Seq(5L)); x.andNot(bm(Seq(5L)))
    assert(x.cardinality == 0 &&
      java.util.Arrays.equals(x.serialize(), new LongBitmap().serialize()))
  }

  test("bitmap store takedown: forget masks every window immediately; compact folds it in byte-canonically") {
    import SparkSuite.spark.implicits._
    val D = 86400000L
    val ev = Seq(
      (1L, 0L, 1L), (2L, 0L, 2L), (3L, 0L, 3L), (4L, 0L, 5L),
      (5L, 1L, 2L), (6L, 1L, 4L), (7L, 1L, 5L))
      .map { case (id, day, u) =>
        (id, new java.sql.Timestamp(day * D + id), u, "view", 1.0) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val store = java.nio.file.Files.createTempDirectory("graft-bmf").toString
    BitmapOps.bitmapStoreWrite(ev, store, 0L)
    def serveUsers() = BitmapOps.bitmapStoreServe(spark, store, 0L, 1L)
      .collect().map(r => (r.getAs[Long]("n_users"), r.getAs[Long]("n_events"))).head
    assert(serveUsers() == ((5L, 7L)))
    BitmapOps.bitmapStoreForget(spark, store, Seq(2L, 5L))
    // users 2 and 5 vanish from every window; anonymous totals untouched
    assert(serveUsers() == ((3L, 7L)))
    assert(BitmapOps.bitmapStoreServe(spark, store, 1L, 1L).collect()
      .head.getAs[Long]("n_users") == 1L) // day 1 held {2,4,5} -> {4}
    BitmapOps.bitmapStoreForget(spark, store, Seq(2L)) // idempotent re-forget
    assert(serveUsers() == ((3L, 7L)))
    BitmapOps.bitmapStoreForget(spark, store, Seq(4L)) // cumulative
    assert(serveUsers() == ((2L, 7L)))
    BitmapOps.bitmapStoreCompact(spark, store)
    assert(serveUsers() == ((2L, 7L))) // identical serve, mask folded in
    // tombstone cleared
    assert(!new java.io.File(s"$store/tombstones.parquet").exists())
    // rewritten partials are byte-equal a store built WITHOUT those users
    val clean = java.nio.file.Files.createTempDirectory("graft-bmf2").toString
    BitmapOps.bitmapStoreWrite(
      ev.filter(!col("user_id").isin(2L, 5L, 4L)), clean, 0L)
    def rows(dir: String) = spark.read.parquet(s"$dir/bitmaps.parquet")
      .select(col("event_type"), col("day_idx"), col("bm")).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getAs[Array[Byte]]("bm"))
      .toMap
    val (a, b) = (rows(store), rows(clean))
    // the compacted store KEEPS the all-forgotten day-1 row: its anonymous
    // n_events/n_days aggregates must survive the takedown (serve results
    // may not change across compact) — the bitmap is the canonical EMPTY
    assert(a.keySet == b.keySet + (("view", 1L)))
    b.foreach { case (k, bytes) =>
      assert(java.util.Arrays.equals(a(k), bytes), s"partial $k diverged") }
    assert(java.util.Arrays.equals(a(("view", 1L)),
      new LongBitmap().serialize()))
  }
}
