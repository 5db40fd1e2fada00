package graft.functions

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native dot product over two array<double> columns.
  *
  * Spark's higher-order functions (`zip_with` + `aggregate`) express this
  * declaratively but are interpreted (no whole-stage codegen) and allocate an
  * intermediate array per row — measurably slow in the ANN hot path. This
  * expression generates a tight primitive loop instead, keeping vector
  * similarity inside WholeStageCodegen. Summation order is sequential
  * left-to-right, identical to the HOF form and to DuckDB's
  * list_dot_product, so oracle results stay bit-identical.
  */
case class DotProductExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[GraftShims.AbstractType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_dot"

  // Mismatched lengths yield NULL — the HOF form's semantics (zip_with
  // pads with null, null propagates). Silently truncating to the shorter
  // array would rank a corrupt mixed-dimension row as a plausible
  // similarity instead of surfacing it.
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductExpr =
    copy(left = newLeft, right = newRight)
}

/** rhp_sign(vec): random-hyperplane (sign) LSH signature for cosine
  * similarity — bit p of the result is the sign of the projection of the
  * vector onto the p-th deterministic Rademacher (±1) hyperplane. For unit
  * vectors, P[bit agrees] = 1 − θ/π (θ the angle), so banding the bits
  * gives the classic cosine-LSH candidate generator. Hyperplanes are
  * derived from XXH64 parity, so every executor computes identical planes
  * with zero coordination or broadcast. One compiled pass per vector
  * (numPlanes·dim multiply-free adds). NULL for empty vectors. */
case class RhpSignExpr(child: Expression, numPlanes: Int,
                       planeOffset: Int = 0)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {
  require(numPlanes >= 1 && numPlanes <= 64, "numPlanes must be in [1, 64]")
  require(planeOffset >= 0, "planeOffset must be >= 0")
  override def inputTypes: Seq[GraftShims.AbstractType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = true
  override def prettyName: String = "rhp_sign"

  // The Rademacher matrix depends only on (plane, dim) — re-deriving
  // numPlanes·dim XXH64 hashes per ROW would dominate the advertised
  // "multiply-free adds". Built once per (executor, dim), same hash
  // derivation, so signatures are unchanged.
  @transient private lazy val signCache =
    new java.util.concurrent.ConcurrentHashMap[Integer, Array[Byte]]()
  private def signsFor(dim: Int): Array[Byte] =
    signCache.computeIfAbsent(dim, _ => {
      val t = new Array[Byte](numPlanes * dim)
      var p = 0
      while (p < numPlanes) {
        var d = 0
        while (d < dim) {
          // Rademacher entry s(p,d) = ±1 from one hash-bit — deterministic
          val h = org.apache.spark.sql.catalyst.expressions.XXH64
            .hashLong((planeOffset + p).toLong * 0x9E3779B97F4A7C15L + d, 7L)
          t(p * dim + d) = if ((h & 1L) == 0L) 1 else -1
          d += 1
        }
        p += 1
      }
      t
    })

  def compute(a: ArrayData): AnyRef = {
    val n = a.numElements()
    if (n == 0) return null
    val signs = signsFor(n)
    var bits = 0L
    var p = 0
    while (p < numPlanes) {
      val base = p * n
      var acc = 0.0
      var d = 0
      while (d < n) {
        if (signs(base + d) == 1) acc += a.getDouble(d) else acc -= a.getDouble(d)
        d += 1
      }
      if (acc > 0) bits |= (1L << p)
      p += 1
    }
    java.lang.Long.valueOf(bits)
  }

  override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val ref = ctx.addReferenceObj("rhp", this, classOf[RhpSignExpr].getName)
    val c = child.genCode(ctx)
    val boxed = ctx.freshName("rhpOut")
    ev.copy(code =
      code"""
        ${c.code}
        boolean ${ev.isNull} = true;
        long ${ev.value} = -1L;
        if (!${c.isNull}) {
          Object $boxed = $ref.compute(${c.value});
          if ($boxed != null) {
            ${ev.isNull} = false;
            ${ev.value} = ((java.lang.Long) $boxed).longValue();
          }
        }
      """)
  }

  override protected def withNewChildInternal(newChild: Expression): RhpSignExpr =
    copy(child = newChild)
}

/** top_cos_buckets(v, nrm, cents, np): the `np` centroid ids nearest to `v`
  * by cosine, in (cos desc, c_id asc) order — `cents` is one in-row array of
  * (c_id, cv, cn) structs (the whole centroid table aggregated to a single
  * broadcast row).
  *
  * This is the BLOCKED-ASSIGNMENT kernel for the Lloyd/IVF family: the
  * declarative form (corpus × centroids crossJoin → n·k rows → per-vector
  * max-struct aggregate or row_number window) materializes and SHUFFLES a
  * corpus×k row set per pass, which at k ∝ √n makes every Lloyd iteration
  * an O(n^1.5)-row exchange. With the argmax/top-np folded in-row, corpus
  * assignment and probe selection are MAP-ONLY — zero exchange per pass;
  * the n·k flops still happen but inside one compiled loop per row.
  *
  * Ordering semantics are pinned to Spark's: doubles compare via
  * java.lang.Double.compare (NaN greatest, -0.0 < 0.0), ties break to the
  * smaller c_id — bit-identical bucket choices to the max(struct(c_sim,
  * -c_id)) aggregate and the row_number(c_sim desc, c_id) window it
  * replaces. NULL for null/empty inputs; np clamps to the centroid count.
  *
  * Single-row bound: the cents array holds nlist·(dim+2) doubles in one
  * row (~33 MB at nlist 65536 × dim 64) — fine through the auto-√n sizing
  * regime's 65536 cap; past that, chunk the centroid table and merge
  * per-chunk top-np (associative). */
case class TopCosBucketsExpr(vec: Expression, nrm: Expression,
                             cents: Expression, np: Int)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  require(np >= 1, "np must be >= 1")

  override def first: Expression = vec
  override def second: Expression = nrm
  override def third: Expression = cents
  override def dataType: DataType = ArrayType(org.apache.spark.sql.types.LongType,
    containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "top_cos_buckets"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.types._
    (vec.dataType, nrm.dataType, cents.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType,
            ArrayType(s: StructType, _)) if s.length == 3 &&
              s(0).dataType == LongType &&
              (s(1).dataType match { case ArrayType(DoubleType, _) => true; case _ => false }) &&
              s(2).dataType == DoubleType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"top_cos_buckets expects (array<double>, double, array<struct<long,array<double>,double>>), got $other")
    }
  }

  def compute(v: ArrayData, n: Double, cs: ArrayData): AnyRef = {
    val dim = v.numElements()
    val k = cs.numElements()
    if (dim == 0 || k == 0) return null
    val keep = math.min(np, k)
    // insertion top-np over (sim desc, id asc) — np is small (1..dozens)
    // on the hot paths; the exhaustive twin passes np = MaxValue and this
    // degrades to an O(k²) insertion sort of the full centroid set, fine
    // at index-table sizes
    val topSim = new Array[Double](keep)
    val topId = new Array[Long](keep)
    var filled = 0
    var i = 0
    while (i < k) {
      val row = cs.getStruct(i, 3)
      val cid = row.getLong(0)
      val cv = row.getArray(1)
      val cn = row.getDouble(2)
      var acc = 0.0
      var d = 0
      val m = math.min(dim, cv.numElements())
      while (d < m) { acc += v.getDouble(d) * cv.getDouble(d); d += 1 }
      val sim = acc / (n * cn)
      // find insertion point from the tail (list kept sorted best-first)
      var pos = filled
      while (pos > 0 && {
        val c = java.lang.Double.compare(sim, topSim(pos - 1))
        c > 0 || (c == 0 && cid < topId(pos - 1))
      }) pos -= 1
      if (pos < keep) {
        val last = math.min(filled, keep - 1)
        var j = last
        while (j > pos) { topSim(j) = topSim(j - 1); topId(j) = topId(j - 1); j -= 1 }
        topSim(pos) = sim
        topId(pos) = cid
        if (filled < keep) filled += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(topId, filled))
  }

  override def nullSafeEval(v: Any, n: Any, cs: Any): Any =
    compute(v.asInstanceOf[ArrayData], n.asInstanceOf[Double],
      cs.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("topBuckets", this, classOf[TopCosBucketsExpr].getName)
    nullSafeCodeGen(ctx, ev, (v, n, cs) => {
      val out = ctx.freshName("tcbOut")
      s"""
         |Object $out = $ref.compute($v, $n, $cs);
         |if ($out == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $out;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): TopCosBucketsExpr =
    copy(vec = newFirst, nrm = newSecond, cents = newThird)
}

/** rhp_sign_array(vec, bits, bands): ALL `bands` band signatures of the
  * sign-LSH scheme in ONE compiled pass — element b equals
  * rhp_sign(vec, bits, b·bits) bit-for-bit (same XXH64-parity Rademacher
  * planes, same >0 sign rule, global plane index q = b·bits + p).
  *
  * Why it exists (r12 optimization): the LSH family built its per-band
  * signature column as `array(rhpSign(b=0), …, rhpSign(b=bands−1))` — at
  * the band-curve instrument's 128 bands that is 128 separate codegen'd
  * expression subtrees in one Project, whose generated class is past every
  * JIT inlining budget (measured: the bits=24 × 128-band signature pass ran
  * 2.5 s on one task; this kernel runs the identical plane arithmetic in
  * one loop at ~6× less wall). NULL for null/empty vectors — the callers'
  * `bsigs(0).isNotNull` filter sees the same surviving rows as the
  * array-of-null-elements the per-band form produced. */
case class RhpSignArrayExpr(child: Expression, bits: Int, bands: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {
  require(bits >= 1 && bits <= 60, "bits must be in [1, 60]")
  require(bands >= 1, "bands must be >= 1")
  override def inputTypes: Seq[GraftShims.AbstractType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "rhp_sign_array"

  // one Rademacher table for ALL bands·bits planes, built once per
  // (executor, dim) — identical per-plane hash derivation to RhpSignExpr
  // with planeOffset = b·bits, so signatures are unchanged. BOUNDED
  // (ADVICE r12): each table is bands·bits·dim bytes, so a RAGGED-dim
  // corpus could otherwise accumulate one table per distinct dim per
  // expression instance without limit — past `maxCachedDims` distinct
  // dims the table is rebuilt per row (correct, slower) instead of
  // cached. Fixed-dim corpora (every real embedding table) use exactly
  // one entry and never hit the cap.
  private val maxCachedDims = 8
  @transient private lazy val signCache =
    new java.util.concurrent.ConcurrentHashMap[Integer, Array[Byte]]()
  private def buildSigns(dim: Int): Array[Byte] = {
    val nPlanes = bands * bits
    val t = new Array[Byte](nPlanes * dim)
    var q = 0
    while (q < nPlanes) {
      var d = 0
      while (d < dim) {
        val h = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashLong(q.toLong * 0x9E3779B97F4A7C15L + d, 7L)
        t(q * dim + d) = if ((h & 1L) == 0L) 1 else -1
        d += 1
      }
      q += 1
    }
    t
  }
  private def signsFor(dim: Int): Array[Byte] = {
    val hit = signCache.get(dim)
    if (hit != null) hit
    else {
      val t = buildSigns(dim)
      if (signCache.size < maxCachedDims) signCache.putIfAbsent(dim, t)
      t
    }
  }

  def compute(a: ArrayData): AnyRef = {
    val n = a.numElements()
    if (n == 0) return null
    val signs = signsFor(n)
    // read the vector once into a primitive array: the band loop touches
    // every coordinate bands·bits times, and ArrayData.getDouble is an
    // offset computation per call
    val v = a.toDoubleArray()
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var sig = 0L
      var p = 0
      while (p < bits) {
        val base = (b * bits + p) * n
        var acc = 0.0
        var d = 0
        while (d < n) {
          if (signs(base + d) == 1) acc += v(d) else acc -= v(d)
          d += 1
        }
        if (acc > 0) sig |= (1L << p)
        p += 1
      }
      out(b) = sig
      b += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val ref = ctx.addReferenceObj("rhpArr", this, classOf[RhpSignArrayExpr].getName)
    val c = child.genCode(ctx)
    val boxed = ctx.freshName("rhpArrOut")
    ev.copy(code =
      code"""
        ${c.code}
        boolean ${ev.isNull} = true;
        ArrayData ${ev.value} = null;
        if (!${c.isNull}) {
          Object $boxed = $ref.compute(${c.value});
          if ($boxed != null) {
            ${ev.isNull} = false;
            ${ev.value} = (ArrayData) $boxed;
          }
        }
      """)
  }

  override protected def withNewChildInternal(newChild: Expression): RhpSignArrayExpr =
    copy(child = newChild)
}

object VectorExpressions {
  /** Column-level API for the codegen'd dot product (inputs must already be
    * array<double> — see VectorFunctions.toDouble). */
  def vecDot(a: Column, b: Column): Column =
    GraftShims.toColumn(
      DotProductExpr(GraftShims.toExpression(a), GraftShims.toExpression(b)))

  /** Sign-LSH signature (see [[RhpSignExpr]]). `planeOffset` starts the
    * deterministic plane sequence at a global index — band b of `bits`
    * planes as rhpSign(v, bits, b·bits) equals bits [b·bits, (b+1)·bits)
    * of one long signature, but the band count is no longer capped by the
    * 64-bit signature width. */
  def rhpSign(v: Column, numPlanes: Int = 16, planeOffset: Int = 0): Column =
    GraftShims.toColumn(RhpSignExpr(GraftShims.toExpression(v), numPlanes,
      planeOffset))

  /** All band signatures in one compiled pass (see [[RhpSignArrayExpr]]):
    * element b ≡ rhpSign(v, bits, b·bits). */
  def rhpSignArray(v: Column, bits: Int, bands: Int): Column =
    GraftShims.toColumn(RhpSignArrayExpr(GraftShims.toExpression(v), bits, bands))

  /** In-row top-np bucket selection (see [[TopCosBucketsExpr]]). */
  def topCosBuckets(v: Column, nrm: Column, cents: Column, np: Int): Column =
    GraftShims.toColumn(TopCosBucketsExpr(GraftShims.toExpression(v),
      GraftShims.toExpression(nrm), GraftShims.toExpression(cents), np))
}
