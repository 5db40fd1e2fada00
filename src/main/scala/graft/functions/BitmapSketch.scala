package graft.functions

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression,
  ExpectsInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, LongType}

/** Roaring-style compressed bitmap over non-negative Long keys — the EXACT
  * mergeable distinct-count sketch (ClickHouse `groupBitmap`, Druid bitmap
  * indexes, Kylin precise-distinct all persist this shape; format follows the
  * public Roaring design: Chambi et al., "Better bitmap performance with
  * Roaring bitmaps", 2016).
  *
  * Values are split into a high-48-bit container key and a low-16-bit slot;
  * each container holds one 2^16 slice either as a sorted char array
  * (cardinality <= 4096: <= 8 KiB) or a 1024-word bit array (exactly 8 KiB),
  * so a container never exceeds 8 KiB however dense. OR/AND merge container
  * by container. Unlike HLL this is EXACT, supports INTERSECTION (HLL
  * algebra has union only), and stays compact when ids cluster — the id
  * spaces a warehouse assigns do. The cost is size O(distinct) in the
  * adversarial-sparse case, which is why the engine carries both: HLL when
  * 2% error is fine, bitmaps when the dashboard must reconcile to billing.
  *
  * Serialization is CANONICAL: containers are emitted in key order, array
  * containers sorted, a bitmap container's bytes are insertion-order
  * independent — so two bitmaps over the same value set are byte-equal
  * regardless of partitioning/merge order (spec-asserted). Layout:
  * version byte, flags byte (bit0 = AND-identity "universe" marker, only
  * ever seen in in-flight partial buffers), container count, then per
  * container: key int64, tag byte (0 = array, 1 = bitmap), payload.
  */
final class LongBitmap(var universe: Boolean = false) {
  import LongBitmap._

  // key-sorted for canonical serialization + ordered merges
  private[functions] val containers = new java.util.TreeMap[java.lang.Long, AnyRef]

  def add(v: Long): Unit = {
    require(v >= 0, s"bitmap values must be non-negative, got $v")
    val key = java.lang.Long.valueOf(v >>> 16)
    val low = (v & 0xFFFF).toInt
    containers.get(key) match {
      case null =>
        val a = new ArrC(new Array[Char](4), 0)
        a.insert(low)
        containers.put(key, a)
      case a: ArrC =>
        if (a.insert(low) && a.n > ArrayMax) containers.put(key, a.toBitmap)
      case b: Array[Long] =>
        b(low >>> 6) |= 1L << (low & 63)
    }
  }

  def contains(v: Long): Boolean = {
    if (v < 0) return false
    containers.get(java.lang.Long.valueOf(v >>> 16)) match {
      case null => false
      case a: ArrC => a.find((v & 0xFFFF).toInt) >= 0
      case b: Array[Long] =>
        val low = (v & 0xFFFF).toInt
        (b(low >>> 6) & (1L << (low & 63))) != 0
    }
  }

  def cardinality: Long = {
    var n = 0L
    val it = containers.values.iterator
    while (it.hasNext) it.next() match {
      case a: ArrC => n += a.n
      case b: Array[Long] =>
        var i = 0
        var c = 0L
        while (i < BitmapWords) { c += java.lang.Long.bitCount(b(i)); i += 1 }
        n += c
    }
    n
  }

  /** In-place union. The AND-identity marker is absorbing-neutral: if either
    * side is the universe the union is nonsensical for this engine's use
    * (OR-agg never creates one), so we just require it never happens. */
  def or(other: LongBitmap): Unit = {
    require(!universe && !other.universe, "cannot OR an AND-identity buffer")
    val it = other.containers.entrySet.iterator
    while (it.hasNext) {
      val e = it.next()
      containers.get(e.getKey) match {
        case null => containers.put(e.getKey, copyContainer(e.getValue))
        case mine => containers.put(e.getKey, orContainers(mine, e.getValue))
      }
    }
  }

  /** In-place intersection. A `universe` buffer is the AND identity. */
  def and(other: LongBitmap): Unit = {
    if (other.universe) return
    if (universe) {
      universe = false
      containers.clear()
      val it = other.containers.entrySet.iterator
      while (it.hasNext) {
        val e = it.next()
        containers.put(e.getKey, copyContainer(e.getValue))
      }
      return
    }
    val it = containers.entrySet.iterator
    val dead = new java.util.ArrayList[java.lang.Long]
    val repl = new java.util.HashMap[java.lang.Long, AnyRef]
    while (it.hasNext) {
      val e = it.next()
      other.containers.get(e.getKey) match {
        case null => dead.add(e.getKey)
        case theirs =>
          val x = andContainers(e.getValue, theirs)
          if (x == null) dead.add(e.getKey) else repl.put(e.getKey, x)
      }
    }
    dead.forEach(k => containers.remove(k))
    repl.forEach((k, v) => containers.put(k, v))
  }

  /** In-place DIFFERENCE (this \ other) — the takedown operator: clearing
    * a tombstone set from a distinct-id bitmap. Containers absent from
    * `other` are untouched; emptied containers drop. */
  def andNot(other: LongBitmap): Unit = {
    require(!universe && !other.universe,
      "cannot ANDNOT an AND-identity buffer")
    val it = containers.entrySet.iterator
    val dead = new java.util.ArrayList[java.lang.Long]
    val repl = new java.util.HashMap[java.lang.Long, AnyRef]
    while (it.hasNext) {
      val e = it.next()
      other.containers.get(e.getKey) match {
        case null => // nothing to clear in this 2^16 slice
        case theirs =>
          val x = LongBitmap.andNotContainers(e.getValue, theirs)
          if (x == null) dead.add(e.getKey) else repl.put(e.getKey, x)
      }
    }
    dead.forEach(k => containers.remove(k))
    repl.forEach((k, v) => containers.put(k, v))
  }

  def serialize(): Array[Byte] = {
    var size = 2 + 4
    val it0 = containers.values.iterator
    while (it0.hasNext) {
      size += 8 + 1
      it0.next() match {
        case a: ArrC => size += 4 + 2 * a.n
        case _: Array[Long] => size += 8 * BitmapWords
      }
    }
    val bb = ByteBuffer.allocate(size).order(ByteOrder.LITTLE_ENDIAN)
    bb.put(Version)
    bb.put(if (universe) 1.toByte else 0.toByte)
    bb.putInt(containers.size)
    val it = containers.entrySet.iterator
    while (it.hasNext) {
      val e = it.next()
      bb.putLong(e.getKey.longValue)
      e.getValue match {
        case a: ArrC =>
          bb.put(0.toByte)
          bb.putInt(a.n)
          var i = 0
          while (i < a.n) { bb.putChar(a.a(i)); i += 1 }
        case b: Array[Long] =>
          bb.put(1.toByte)
          var i = 0
          while (i < BitmapWords) { bb.putLong(b(i)); i += 1 }
      }
    }
    bb.array()
  }
}

object LongBitmap {
  private[functions] val ArrayMax = 4096
  private[functions] val BitmapWords = 1024
  private val Version: Byte = 1

  /** Sorted-char-array container with amortized growth; n is live length. */
  private[functions] final class ArrC(var a: Array[Char], var n: Int) {
    /** Binary search; index or -(insertion point)-1 (java.util.Arrays style). */
    def find(low: Int): Int = {
      var lo = 0
      var hi = n - 1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        val c = a(mid).toInt
        if (c < low) lo = mid + 1
        else if (c > low) hi = mid - 1
        else return mid
      }
      -(lo + 1)
    }

    /** Insert keeping sort order; false if already present. */
    def insert(low: Int): Boolean = {
      val pos = find(low)
      if (pos >= 0) return false
      val at = -(pos + 1)
      if (n == a.length) {
        val grown = new Array[Char](math.max(4, a.length * 2))
        System.arraycopy(a, 0, grown, 0, n)
        a = grown
      }
      System.arraycopy(a, at, a, at + 1, n - at)
      a(at) = low.toChar
      n += 1
      true
    }

    def toBitmap: Array[Long] = {
      val b = new Array[Long](BitmapWords)
      var i = 0
      while (i < n) {
        val low = a(i).toInt
        b(low >>> 6) |= 1L << (low & 63)
        i += 1
      }
      b
    }
  }

  private[functions] def copyContainer(c: AnyRef): AnyRef = c match {
    case a: ArrC => new ArrC(java.util.Arrays.copyOf(a.a, a.n), a.n)
    case b: Array[Long] => java.util.Arrays.copyOf(b, BitmapWords)
  }

  /** Union of two containers (never mutates `theirs`). */
  private[functions] def orContainers(mine: AnyRef, theirs: AnyRef): AnyRef =
    (mine, theirs) match {
      case (x: ArrC, y: ArrC) =>
        val out = new Array[Char](math.min(x.n + y.n, 1 << 16))
        var i = 0
        var j = 0
        var k = 0
        while (i < x.n && j < y.n) {
          val cx = x.a(i)
          val cy = y.a(j)
          if (cx < cy) { out(k) = cx; i += 1 }
          else if (cy < cx) { out(k) = cy; j += 1 }
          else { out(k) = cx; i += 1; j += 1 }
          k += 1
        }
        while (i < x.n) { out(k) = x.a(i); i += 1; k += 1 }
        while (j < y.n) { out(k) = y.a(j); j += 1; k += 1 }
        val merged = new ArrC(out, k)
        if (k > ArrayMax) merged.toBitmap else merged
      case (x: ArrC, y: Array[Long]) =>
        val b = java.util.Arrays.copyOf(y, BitmapWords)
        var i = 0
        while (i < x.n) {
          val low = x.a(i).toInt
          b(low >>> 6) |= 1L << (low & 63)
          i += 1
        }
        b
      case (x: Array[Long], y: ArrC) =>
        var i = 0
        while (i < y.n) {
          val low = y.a(i).toInt
          x(low >>> 6) |= 1L << (low & 63)
          i += 1
        }
        x
      case (x: Array[Long], y: Array[Long]) =>
        var i = 0
        while (i < BitmapWords) { x(i) |= y(i); i += 1 }
        x
    }

  /** Intersection; null if empty. Demotes a sparse bitmap result to an array
    * container so AND chains stay compact (the roaring discipline). */
  private[functions] def andContainers(mine: AnyRef, theirs: AnyRef): AnyRef =
    (mine, theirs) match {
      case (x: ArrC, y: ArrC) =>
        val out = new Array[Char](math.min(x.n, y.n))
        var i = 0
        var j = 0
        var k = 0
        while (i < x.n && j < y.n) {
          val cx = x.a(i)
          val cy = y.a(j)
          if (cx < cy) i += 1
          else if (cy < cx) j += 1
          else { out(k) = cx; k += 1; i += 1; j += 1 }
        }
        if (k == 0) null else new ArrC(out, k)
      case (x: ArrC, y: Array[Long]) => andArrBmp(x, y)
      case (x: Array[Long], y: ArrC) => andArrBmp(y, x)
      case (x: Array[Long], y: Array[Long]) =>
        var card = 0L
        var i = 0
        while (i < BitmapWords) {
          x(i) &= y(i)
          card += java.lang.Long.bitCount(x(i))
          i += 1
        }
        if (card == 0) null
        else if (card <= ArrayMax) bmpToArr(x, card.toInt)
        else x
    }

  private def andArrBmp(a: ArrC, b: Array[Long]): AnyRef = {
    val out = new Array[Char](a.n)
    var i = 0
    var k = 0
    while (i < a.n) {
      val low = a.a(i).toInt
      if ((b(low >>> 6) & (1L << (low & 63))) != 0) { out(k) = a.a(i); k += 1 }
      i += 1
    }
    if (k == 0) null else new ArrC(out, k)
  }

  /** mine \ theirs at container level: null when emptied; arrays stay
    * sorted (merge walks), bitmaps re-classify by the surviving count. */
  private[functions] def andNotContainers(mine: AnyRef, theirs: AnyRef): AnyRef =
    (mine, theirs) match {
      case (x: ArrC, y: ArrC) =>
        val out = new Array[Char](x.n)
        var i = 0; var j = 0; var k = 0
        while (i < x.n) {
          val cx = x.a(i)
          while (j < y.n && y.a(j) < cx) j += 1
          if (j < y.n && y.a(j) == cx) i += 1
          else { out(k) = cx; k += 1; i += 1 }
        }
        if (k == 0) null else new ArrC(out, k)
      case (x: ArrC, y: Array[Long]) =>
        val out = new Array[Char](x.n)
        var i = 0; var k = 0
        while (i < x.n) {
          val low = x.a(i).toInt
          if ((y(low >>> 6) & (1L << (low & 63))) == 0) { out(k) = x.a(i); k += 1 }
          i += 1
        }
        if (k == 0) null else new ArrC(out, k)
      case (x: Array[Long], y: ArrC) =>
        var j = 0
        while (j < y.n) {
          val low = y.a(j).toInt
          x(low >>> 6) &= ~(1L << (low & 63))
          j += 1
        }
        var card = 0L; var i = 0
        while (i < BitmapWords) { card += java.lang.Long.bitCount(x(i)); i += 1 }
        if (card == 0) null
        else if (card <= ArrayMax) bmpToArr(x, card.toInt)
        else x
      case (x: Array[Long], y: Array[Long]) =>
        var card = 0L; var i = 0
        while (i < BitmapWords) {
          x(i) &= ~y(i)
          card += java.lang.Long.bitCount(x(i))
          i += 1
        }
        if (card == 0) null
        else if (card <= ArrayMax) bmpToArr(x, card.toInt)
        else x
    }

  private def bmpToArr(b: Array[Long], card: Int): ArrC = {
    val out = new Array[Char](card)
    var k = 0
    var w = 0
    while (w < BitmapWords) {
      var bits = b(w)
      while (bits != 0) {
        val t = java.lang.Long.numberOfTrailingZeros(bits)
        out(k) = ((w << 6) | t).toChar
        k += 1
        bits &= bits - 1
      }
      w += 1
    }
    new ArrC(out, card)
  }

  def deserialize(bytes: Array[Byte]): LongBitmap = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val ver = bb.get()
    require(ver == Version, s"unknown bitmap version $ver")
    val flags = bb.get()
    val bm = new LongBitmap(universe = (flags & 1) != 0)
    val nc = bb.getInt
    var c = 0
    while (c < nc) {
      val key = java.lang.Long.valueOf(bb.getLong)
      val tag = bb.get()
      val cont: AnyRef =
        if (tag == 0) {
          val n = bb.getInt
          val a = new Array[Char](n)
          var i = 0
          while (i < n) { a(i) = bb.getChar; i += 1 }
          new ArrC(a, n)
        } else {
          val b = new Array[Long](BitmapWords)
          var i = 0
          while (i < BitmapWords) { b(i) = bb.getLong; i += 1 }
          b
        }
      bm.containers.put(key, cont)
      c += 1
    }
    bm
  }
}

/** Java-callable scalar kernel (referenced from generated code). */
object BitmapKernel {
  def count(bytes: Array[Byte]): Long = LongBitmap.deserialize(bytes).cardinality
  def contains(bytes: Array[Byte], v: Long): Boolean =
    LongBitmap.deserialize(bytes).contains(v)
  def and(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val x = LongBitmap.deserialize(a)
    x.and(LongBitmap.deserialize(b))
    x.serialize()
  }
  def or(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val x = LongBitmap.deserialize(a)
    x.or(LongBitmap.deserialize(b))
    x.serialize()
  }
  def andNot(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val x = LongBitmap.deserialize(a)
    x.andNot(LongBitmap.deserialize(b))
    x.serialize()
  }
}

/** bitmap_agg(id): exact distinct-id bitmap of a LONG column (binary). */
case class BitmapAggExpr(
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[LongBitmap] with UnaryLike[Expression]
  with ExpectsInputTypes {
  override def inputTypes: Seq[GraftShims.AbstractType] = Seq(LongType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "bitmap_agg"
  override def createAggregationBuffer(): LongBitmap = new LongBitmap
  override def update(b: LongBitmap, input: InternalRow): LongBitmap = {
    val v = child.eval(input)
    if (v != null) b.add(v.asInstanceOf[Long])
    b
  }
  override def merge(b: LongBitmap, o: LongBitmap): LongBitmap = { b.or(o); b }
  override def eval(b: LongBitmap): Any = b.serialize()
  override def serialize(b: LongBitmap): Array[Byte] = b.serialize()
  override def deserialize(bytes: Array[Byte]): LongBitmap =
    LongBitmap.deserialize(bytes)
  override def withNewMutableAggBufferOffset(o: Int): BitmapAggExpr =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BitmapAggExpr =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): BitmapAggExpr =
    copy(child = c)
}

/** roaring_or_agg(bitmap): union of serialized bitmaps — the rollup merge. */
case class BitmapOrAggExpr(
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[LongBitmap] with UnaryLike[Expression]
  with ExpectsInputTypes {
  override def inputTypes: Seq[GraftShims.AbstractType] = Seq(BinaryType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "roaring_or_agg"
  override def createAggregationBuffer(): LongBitmap = new LongBitmap
  override def update(b: LongBitmap, input: InternalRow): LongBitmap = {
    val v = child.eval(input)
    if (v != null) b.or(LongBitmap.deserialize(v.asInstanceOf[Array[Byte]]))
    b
  }
  override def merge(b: LongBitmap, o: LongBitmap): LongBitmap = { b.or(o); b }
  override def eval(b: LongBitmap): Any = b.serialize()
  override def serialize(b: LongBitmap): Array[Byte] = b.serialize()
  override def deserialize(bytes: Array[Byte]): LongBitmap =
    LongBitmap.deserialize(bytes)
  override def withNewMutableAggBufferOffset(o: Int): BitmapOrAggExpr =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BitmapOrAggExpr =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): BitmapOrAggExpr =
    copy(child = c)
}

/** roaring_and_agg(bitmap): intersection of serialized bitmaps (exact common
  * audience). The empty-input identity is the `universe` marker buffer;
  * an all-null group evaluates to the EMPTY bitmap (SQL-friendly: no rows
  * in common is an empty audience, not "everyone"). */
case class BitmapAndAggExpr(
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[LongBitmap] with UnaryLike[Expression]
  with ExpectsInputTypes {
  override def inputTypes: Seq[GraftShims.AbstractType] = Seq(BinaryType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "roaring_and_agg"
  override def createAggregationBuffer(): LongBitmap = new LongBitmap(universe = true)
  override def update(b: LongBitmap, input: InternalRow): LongBitmap = {
    val v = child.eval(input)
    if (v != null) b.and(LongBitmap.deserialize(v.asInstanceOf[Array[Byte]]))
    b
  }
  override def merge(b: LongBitmap, o: LongBitmap): LongBitmap = { b.and(o); b }
  override def eval(b: LongBitmap): Any = {
    if (b.universe) b.universe = false // all-null group -> empty bitmap
    b.serialize()
  }
  override def serialize(b: LongBitmap): Array[Byte] = b.serialize()
  override def deserialize(bytes: Array[Byte]): LongBitmap =
    LongBitmap.deserialize(bytes)
  override def withNewMutableAggBufferOffset(o: Int): BitmapAndAggExpr =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BitmapAndAggExpr =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): BitmapAndAggExpr =
    copy(child = c)
}

/** roaring_count(bitmap): exact cardinality of a serialized bitmap. */
case class BitmapCountExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[GraftShims.AbstractType] = Seq(BinaryType)
  override def dataType: DataType = LongType
  override def prettyName: String = "roaring_count"
  override def nullSafeEval(input: Any): Any =
    BitmapKernel.count(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.BitmapKernel$$.MODULE$$.count($c)")
  override protected def withNewChildInternal(c: Expression): BitmapCountExpr =
    copy(child = c)
}

/** bitmap_contains(bitmap, id): exact membership probe. */
case class BitmapContainsExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[GraftShims.AbstractType] = Seq(BinaryType, LongType)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "bitmap_contains"
  override def nullSafeEval(b: Any, v: Any): Any =
    BitmapKernel.contains(b.asInstanceOf[Array[Byte]], v.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (b, v) => s"graft.functions.BitmapKernel$$.MODULE$$.contains($b, $v)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): BitmapContainsExpr = copy(left = l, right = r)
}

/** bitmap_and(a, b): pairwise intersection of two serialized bitmaps. */
case class BitmapAndExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[GraftShims.AbstractType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = BinaryType
  override def prettyName: String = "bitmap_and"
  override def nullSafeEval(a: Any, b: Any): Any =
    BitmapKernel.and(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.BitmapKernel$$.MODULE$$.and($a, $b)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): BitmapAndExpr = copy(left = l, right = r)
}

/** bitmap_and_not(a, b): difference a \ b — the tombstone-mask operator. */
case class BitmapAndNotExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[GraftShims.AbstractType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = BinaryType
  override def prettyName: String = "bitmap_and_not"
  override def nullSafeEval(a: Any, b: Any): Any =
    BitmapKernel.andNot(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.BitmapKernel$$.MODULE$$.andNot($a, $b)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): BitmapAndNotExpr = copy(left = l, right = r)
}

/** bitmap_or(a, b): pairwise union of two serialized bitmaps. */
case class BitmapOrExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[GraftShims.AbstractType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = BinaryType
  override def prettyName: String = "bitmap_or"
  override def nullSafeEval(a: Any, b: Any): Any =
    BitmapKernel.or(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.BitmapKernel$$.MODULE$$.or($a, $b)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): BitmapOrExpr = copy(left = l, right = r)
}
