package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftShims}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference,
  AttributeSet, BoundReference, JoinedRow, SortOrder, SpecificInternalRow,
  UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.{DoubleType, LongType}

/** The block-pair kernel: every pair of rows that shares a block (an LSH
  * (band, bucket), a cluster, a label) and passes the pair test, found
  * inside the block instead of by a self-join.
  *
  * The kernel reads its input hash-partitioned by the block key and sorted
  * by (block, id) — Spark's planner adds the exchange and the sort — and
  * holds one block at a time as primitive arrays. For each pair i < j of a
  * block (ids strictly increasing) it emits (block…, id_a, id_b, score)
  * when both tests pass:
  *  - first collision (LSH only): the pair collided in no earlier band, so
  *    a pair that shares several bands is emitted once, by its lowest;
  *  - the score reaches the threshold under Spark's double ordering (NaN
  *    above every number). The score is the cosine — `DotProductExpr`'s
  *    sequential dot loop divided by `(n_a · n_b)`; ragged dimensions (a
  *    NULL dot) and a zero divisor give no pair — or the MinHash agreement
  *    `sig_agree / numHashes`.
  * Or it unites the block's passing pairs and emits each paired row with
  * its component's least id ([[components]]).
  * Rows with a null block key, id, vector, norm or signature array never
  * pair, as in an equi-join on the block. Results are bit-equal to the
  * self-join forms they replace (`BlockPairsSpec` checks them against a
  * brute-force reference).
  *
  * Cost: the exchange moves each row once per block it sits in; candidate
  * pairs never become rows, so memory is one block plus the input. */
object BlockPairs {

  /** The pair score. */
  sealed trait Score
  /** Cosine of `vec` (array<double>) over the norms `nrm` (double). */
  final case class Cosine(vec: String, nrm: String) extends Score
  /** MinHash agreement of `sig` (array<long>): equal positions / `numHashes`. */
  final case class Agreement(sig: String, numHashes: Int) extends Score

  /** The first-collision rule: `band` is the row's band (an int in the block
    * key), `sigs` the row's keys in every band, `words` longs per band. */
  final case class FirstCollision(band: String, sigs: String, words: Int = 1)

  /** Pairs within blocks of `rows`: columns `block…`, `id_a`, `id_b` and the
    * score as `scoreName`, for every pair that passes. */
  def apply(rows: DataFrame, block: Seq[String], id: String, score: Score,
            threshold: Double, scoreName: String,
            first: Option[FirstCollision] = None): DataFrame =
    node(rows, block, id, score, threshold, first, components = false, Seq(
      AttributeReference("id_a", LongType, nullable = false)(),
      AttributeReference("id_b", LongType, nullable = false)(),
      AttributeReference(scoreName, DoubleType, nullable = false)()))

  /** The connected components of the passing pairs, found inside each block:
    * columns `block…`, `id` and `root`, the least id of the row's component,
    * for every row that passes with at least one other. A pair never spans
    * two blocks, so neither does a component. */
  def components(rows: DataFrame, block: Seq[String], id: String, score: Score,
                 threshold: Double): DataFrame =
    node(rows, block, id, score, threshold, None, components = true, Seq(
      AttributeReference("id", LongType, nullable = false)(),
      AttributeReference("root", LongType, nullable = false)()))

  private def node(rows: DataFrame, block: Seq[String], id: String, score: Score,
                   threshold: Double, first: Option[FirstCollision], components: Boolean,
                   out: Seq[AttributeReference]): DataFrame = {
    val plan = rows.queryExecution.analyzed
    def attr(name: String): Attribute = plan.output.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"block pairs: no column $name in ${plan.output}"))
    val (vec, nrm, numHashes) = score match {
      case Cosine(v, n) => (attr(v), Some(attr(n)), 0)
      case Agreement(s, n) =>
        require(n > 0, s"numHashes=$n must be positive")
        (attr(s), None, n)
    }
    val test = PairTest(threshold, numHashes, first.fold(0)(_.words), components)
    GraftShims.addStrategy(rows.sparkSession, Strategy)
    GraftShims.ofRows(rows.sparkSession, BlockPairsNode(block.map(attr), attr(id), vec, nrm,
      first.map(f => attr(f.band)), first.map(f => attr(f.sigs)), test, out, plan))
  }

  /** The threshold, the score (`numHashes` 0 for the cosine), the longs per
    * band of the first-collision rule (0: no rule), and whether the output
    * is components rather than pairs. */
  final case class PairTest(threshold: Double, numHashes: Int, words: Int,
                            components: Boolean)

  private[graft] case class BlockPairsNode(
      block: Seq[Attribute], rowId: Attribute, vec: Attribute, nrm: Option[Attribute],
      band: Option[Attribute], sigs: Option[Attribute], test: PairTest,
      pairs: Seq[Attribute], child: LogicalPlan) extends UnaryNode {
    override def output: Seq[Attribute] = block ++ pairs
    override def producedAttributes: AttributeSet = AttributeSet(pairs)
    override protected def withNewChildInternal(c: LogicalPlan): BlockPairsNode =
      copy(child = c)
  }

  private[graft] case class BlockPairsExec(
      block: Seq[Attribute], rowId: Attribute, vec: Attribute, nrm: Option[Attribute],
      band: Option[Attribute], sigs: Option[Attribute], test: PairTest,
      pairs: Seq[Attribute], child: SparkPlan) extends UnaryExecNode {
    override def output: Seq[Attribute] = block ++ pairs
    override def producedAttributes: AttributeSet = AttributeSet(pairs)
    override def requiredChildDistribution: Seq[Distribution] =
      ClusteredDistribution(block) :: Nil
    override def requiredChildOrdering: Seq[Seq[SortOrder]] =
      (block :+ rowId).map(SortOrder(_, Ascending)) :: Nil

    override protected def doExecute(): RDD[InternalRow] = {
      val in = child.output
      def ord(a: Attribute): Int = in.indexWhere(_.exprId == a.exprId)
      val keyExprs = block.map(a => BoundReference(ord(a), a.dataType, a.nullable))
      val layout = Layout(ord(rowId), ord(vec), nrm.fold(-1)(ord), band.fold(-1)(ord),
        sigs.fold(-1)(ord))
      val test = this.test
      val outTypes = output.map(_.dataType)
      child.execute().mapPartitions { rows =>
        new BlockIterator(rows, UnsafeProjection.create(keyExprs),
          UnsafeProjection.create(outTypes.zipWithIndex.map { case (t, i) =>
            BoundReference(i, t, nullable = true) }),
          layout, test)
      }
    }

    override protected def withNewChildInternal(c: SparkPlan): BlockPairsExec =
      copy(child = c)
  }

  private object Strategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case p: BlockPairsNode =>
        BlockPairsExec(p.block, p.rowId, p.vec, p.nrm, p.band, p.sigs, p.test, p.pairs,
          planLater(p.child)) :: Nil
      case _ => Nil
    }
  }

  /** Input ordinals; -1 for a column the test does not use. */
  private final case class Layout(id: Int, vec: Int, nrm: Int, band: Int, sigs: Int)

  /** One partition's pairs (or component members), one block in memory at a
    * time. */
  private final class BlockIterator(rows: Iterator[InternalRow], keyOf: UnsafeProjection,
                                    outRow: UnsafeProjection, at: Layout, test: PairTest)
      extends Iterator[InternalRow] {
    private val cosine = test.numHashes == 0
    private val words = test.words
    // the block: row r's id, vector (or signature) at data(off(r) until
    // off(r + 1)), norm, and its first `prefix` band-key longs at
    // prior(r·prefix …)
    private var n = 0
    private var ids = new Array[Long](64)
    private var off = new Array[Int](65)
    private var dbl = new Array[Double](if (cosine) 4096 else 0)
    private var lng = new Array[Long](if (cosine) 0 else 1024)
    private var nrms = new Array[Double](if (cosine) 64 else 0)
    private var prefix = 0
    private var prior = new Array[Long](if (words > 0) 256 else 0)
    private var key: UnsafeRow = _
    private var pending: InternalRow = _ // first row of the next block
    private var i = 0
    private var j = 1
    private var score = 0.0
    private var ready = false
    private val pair = new SpecificInternalRow(Seq(LongType, LongType, DoubleType))
    private val member = new SpecificInternalRow(Seq(LongType, LongType))
    private val joined = new JoinedRow
    // components: row r's parent in the block's union-find forest, where a
    // root is its component's least row, and a root's component size; `i`
    // is the next row to emit
    private var up = new Array[Int](0)
    private var members = new Array[Int](0)

    override def hasNext: Boolean = ready || { ready = advance(); ready }

    override def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException
      ready = false
      if (test.components) {
        member.setLong(0, ids(i))
        member.setLong(1, ids(find(i)))
        i += 1
        outRow(joined(key, member))
      } else {
        pair.setLong(0, ids(i))
        pair.setLong(1, ids(j))
        pair.setDouble(2, score)
        j += 1
        outRow(joined(key, pair))
      }
    }

    private def advance(): Boolean = if (test.components) nextMember() else nextPair()

    /** Moves i to the next row of a component of two or more, loading and
      * linking blocks as needed. */
    private def nextMember(): Boolean = {
      while (true) {
        while (i < n) {
          if (members(find(i)) > 1) return true
          i += 1
        }
        if (!load()) return false
        link()
      }
      false
    }

    /** Unites the two rows of every passing pair of the block. */
    private def link(): Unit = {
      if (up.length < n) {
        up = new Array[Int](ids.length)
        members = new Array[Int](ids.length)
      }
      var a = 0
      while (a < n) { up(a) = a; members(a) = 1; a += 1 }
      a = 0
      while (a < n - 1) {
        var b = a + 1
        while (b < n) {
          if (passes(a, b)) {
            val ra = find(a)
            val rb = find(b)
            if (ra != rb) {
              val lo = math.min(ra, rb)
              val hi = math.max(ra, rb)
              up(hi) = lo
              members(lo) += members(hi)
            }
          }
          b += 1
        }
        a += 1
      }
    }

    private def find(r: Int): Int = {
      var x = r
      while (up(x) != x) { up(x) = up(up(x)); x = up(x) }
      x
    }

    /** Moves (i, j) to the next passing pair, loading blocks as needed. */
    private def nextPair(): Boolean = {
      while (true) {
        while (i < n - 1) {
          while (j < n) {
            if (passes(i, j)) return true
            j += 1
          }
          i += 1
          j = i + 1
        }
        if (!load()) return false
      }
      false
    }

    private def usable(r: InternalRow): Boolean =
      !r.isNullAt(at.id) && !r.isNullAt(at.vec) && (at.nrm < 0 || !r.isNullAt(at.nrm)) &&
        (at.sigs < 0 || !r.isNullAt(at.sigs)) && !keyOf(r).anyNull()

    private def load(): Boolean = {
      n = 0
      i = 0
      j = 1
      var r = pending
      pending = null
      while (r == null && rows.hasNext) {
        val x = rows.next()
        if (usable(x)) r = x
      }
      if (r == null) return false
      key = keyOf(r).copy()
      if (words > 0) prefix = r.getInt(at.band) * words
      add(r)
      while (rows.hasNext) {
        val x = rows.next()
        if (usable(x)) {
          if (keyOf(x) == key) add(x)
          else {
            pending = x.copy()
            return true
          }
        }
      }
      true
    }

    private def add(r: InternalRow): Unit = {
      if (n == ids.length) {
        ids = java.util.Arrays.copyOf(ids, 2 * n)
        off = java.util.Arrays.copyOf(off, 2 * n + 1)
        if (cosine) nrms = java.util.Arrays.copyOf(nrms, 2 * n)
      }
      ids(n) = r.getLong(at.id)
      val v = r.getArray(at.vec)
      val len = v.numElements()
      val start = off(n)
      var k = 0
      if (cosine) {
        if (start + len > dbl.length)
          dbl = java.util.Arrays.copyOf(dbl, math.max(2 * dbl.length, start + len))
        while (k < len) { dbl(start + k) = v.getDouble(k); k += 1 }
        nrms(n) = r.getDouble(at.nrm)
      } else {
        if (start + len > lng.length)
          lng = java.util.Arrays.copyOf(lng, math.max(2 * lng.length, start + len))
        while (k < len) { lng(start + k) = v.getLong(k); k += 1 }
      }
      off(n + 1) = start + len
      if (prefix > 0) {
        val s = r.getArray(at.sigs)
        require(s.numElements() >= prefix,
          s"block pairs: ${s.numElements()} band keys, band needs $prefix")
        if ((n + 1) * prefix > prior.length)
          prior = java.util.Arrays.copyOf(prior, math.max(2 * prior.length, (n + 1) * prefix))
        k = 0
        while (k < prefix) { prior(n * prefix + k) = s.getLong(k); k += 1 }
      }
      n += 1
    }

    /** Whether pair (a, b) passes; sets `score` when it does. */
    private def passes(a: Int, b: Int): Boolean =
      ids(a) < ids(b) && !collidedEarlier(a, b) && {
        val oa = off(a)
        val ob = off(b)
        val len = off(a + 1) - oa
        if (cosine) {
          val den = nrms(a) * nrms(b)
          len == off(b + 1) - ob && den != 0.0 && {
            var acc = 0.0
            var k = 0
            while (k < len) { acc += dbl(oa + k) * dbl(ob + k); k += 1 }
            score = acc / den
            SQLOrderingUtil.compareDoubles(score, test.threshold) >= 0
          }
        } else {
          val m = math.min(len, off(b + 1) - ob)
          var agree = 0
          var k = 0
          while (k < m) { if (lng(oa + k) == lng(ob + k)) agree += 1; k += 1 }
          score = agree.toDouble / test.numHashes
          SQLOrderingUtil.compareDoubles(score, test.threshold) >= 0
        }
      }

    /** Whether rows a and b share an earlier band's key (every word of it). */
    private def collidedEarlier(a: Int, b: Int): Boolean = {
      val pa = a * prefix
      val pb = b * prefix
      var w = 0
      while (w < prefix) {
        var k = 0
        while (k < words && prior(pa + w + k) == prior(pb + w + k)) k += 1
        if (k == words) return true
        w += words
      }
      false
    }
  }
}
