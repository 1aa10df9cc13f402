package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DecimalType, DoubleType}

/** Element-wise sum of an `array<double>` column as a native aggregate:
  * one accumulator array per partial-agg buffer, merged pairwise — the
  * whole corpus reduces to `dim` doubles through map-side combine.
  *
  * This replaces the posexplode-then-groupBy(pos) corpus-mean plan
  * (n×dim rows through a shuffle); here nothing but k×dim-double
  * buffers ever leave the executors. Dimension mismatches throw, same
  * contract as [[TextKernels.vecDot]] — schema drift must surface.
  */
case class VecSumAggregate(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Double]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "vec_sum"

  // zero-length marks "no input yet" — real zero-dim vectors cannot occur
  // as array<double> embeddings worth summing
  override def createAggregationBuffer(): Array[Double] = Array.emptyDoubleArray

  private def add(buf: Array[Double], v: Array[Double]): Array[Double] =
    if (buf.length == 0) v.clone()
    else {
      require(buf.length == v.length,
        s"vector dimension mismatch: ${buf.length} vs ${v.length}")
      var i = 0
      while (i < buf.length) { buf(i) += v(i); i += 1 }
      buf
    }

  override def update(buf: Array[Double], input: InternalRow): Array[Double] = {
    val v = child.eval(input)
    if (v == null) buf
    else {
      val arr = v.asInstanceOf[ArrayData]
      // empty arrays contribute nothing (like posexplode of an empty
      // array) rather than tripping the dimension-mismatch contract;
      // callers averaging must count only non-empty vectors
      if (arr.numElements() == 0) buf
      else {
        // toDoubleArray reads a NULL slot as 0.0 (the raw region copy
        // ignores the null bitmap) — a null element would silently bend
        // the corpus mean. Same surface-the-drift contract as the
        // dimension check.
        var i = 0
        val n = arr.numElements()
        while (i < n) {
          if (arr.isNullAt(i))
            throw new IllegalArgumentException(
              s"vec_sum: null element at index $i of a ${n}-dim vector — " +
                "filter or repair null slots before aggregating")
          i += 1
        }
        add(buf, arr.toDoubleArray())
      }
    }
  }

  override def merge(buf: Array[Double], other: Array[Double]): Array[Double] =
    if (other.length == 0) buf else add(buf, other)

  override def eval(buf: Array[Double]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Double]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 8 * buf.length)
    bb.putInt(buf.length)
    buf.foreach(bb.putDouble)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    Array.fill(n)(bb.getDouble)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VecSumAggregate =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VecSumAggregate =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): VecSumAggregate =
    copy(child = newChildren.head)
}

/** Element-wise EXACT decimal(38,18) sum of an `array<double>` column —
  * the Lloyd-mean shape: each component is rounded to 18 decimal places
  * exactly as `cast(x as decimal(38,18))` does (BigDecimal.valueOf +
  * HALF_UP), then summed with exact fixed-scale arithmetic, so the
  * total is bit-identical whatever order partial buffers merge in —
  * the property the posexplode + groupBy(pos) + sum(cast(...)) plan
  * this replaces bought with an n×dim-row shuffle per round. Non-finite
  * components and sums overflowing precision 38 become NULL, matching
  * the cast/sum expressions (a null element in the OUTPUT array, hence
  * containsNull = true); null INPUT elements throw, the
  * [[VecSumAggregate]] surface-the-drift contract. */
case class VecSumDecimalAggregate(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[java.math.BigDecimal]] {

  import java.math.{BigDecimal => JBig, RoundingMode}

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType =
    ArrayType(DecimalType(38, 18), containsNull = true)
  override def prettyName: String = "vec_sum_decimal"

  override def createAggregationBuffer(): Array[JBig] = Array.empty

  // null slot = no non-null contribution yet: sum() SKIPS the rows
  // whose cast() went NULL (non-finite input), so null components are
  // skipped. A precision-38 OVERFLOW is different — sum() keeps an
  // overflowed group NULL whatever follows — so it is its own marker
  // ([[VecSumDecimalAggregate.Overflow]]), absorbing for +, carried
  // through serialize/deserialize, and evaluated to NULL.
  import VecSumDecimalAggregate.Overflow

  private def castComponent(d: Double): JBig =
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) null
    else {
      val x = JBig.valueOf(d).setScale(18, RoundingMode.HALF_UP)
      if (x.precision - x.scale > 20) null else x // > decimal(38,18) range
    }

  private def addSlot(a: JBig, b: JBig): JBig =
    if ((a eq Overflow) || (b eq Overflow)) Overflow
    else if (b == null) a
    else if (a == null) b
    else {
      val s = a.add(b)
      if (s.precision - s.scale > 20) Overflow else s
    }

  private def add(buf: Array[JBig], v: Array[JBig]): Array[JBig] =
    if (buf.length == 0) v
    else {
      require(buf.length == v.length,
        s"vector dimension mismatch: ${buf.length} vs ${v.length}")
      var i = 0
      while (i < buf.length) { buf(i) = addSlot(buf(i), v(i)); i += 1 }
      buf
    }

  override def update(buf: Array[JBig], input: InternalRow): Array[JBig] = {
    val v = child.eval(input)
    if (v == null) buf
    else {
      val arr = v.asInstanceOf[ArrayData]
      val n = arr.numElements()
      if (n == 0) buf
      else {
        val comps = new Array[JBig](n)
        var i = 0
        while (i < n) {
          if (arr.isNullAt(i))
            throw new IllegalArgumentException(
              s"vec_sum_decimal: null element at index $i of a $n-dim " +
                "vector — filter or repair null slots before aggregating")
          comps(i) = castComponent(arr.getDouble(i))
          i += 1
        }
        add(buf, comps)
      }
    }
  }

  override def merge(buf: Array[JBig], other: Array[JBig]): Array[JBig] =
    if (other.length == 0) buf else add(buf, other)

  override def eval(buf: Array[JBig]): Any =
    new GenericArrayData(buf.map(b =>
      if (b == null || (b eq Overflow)) null
      else org.apache.spark.sql.types.Decimal(scala.math.BigDecimal(b), 38, 18))
      .asInstanceOf[Array[Any]])

  override def serialize(buf: Array[JBig]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(buf.length)
    buf.foreach { b =>
      if (b == null) out.writeInt(-1)
      else if (b eq Overflow) out.writeInt(-2)
      else {
        val bytes = b.unscaledValue().toByteArray
        out.writeInt(bytes.length)
        out.write(bytes)
      }
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Array[JBig] = {
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val n = in.readInt()
    Array.fill(n) {
      val len = in.readInt()
      if (len == -2) Overflow
      else if (len < 0) null
      else {
        val b = new Array[Byte](len)
        in.readFully(b)
        new JBig(new java.math.BigInteger(b), 18)
      }
    }
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VecSumDecimalAggregate =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VecSumDecimalAggregate =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): VecSumDecimalAggregate =
    copy(child = newChildren.head)
}

object VecSumDecimalAggregate {
  /** The overflowed-slot marker, compared by reference: no arithmetic
    * result is ever this instance. */
  private[ops] val Overflow = new java.math.BigDecimal(0)
}

object VecSumAggregate {
  /** Column form: element-wise sum of an array&lt;double&gt; column. */
  def vecSum(vec: Column): Column =
    ColumnBridge.column(
      VecSumAggregate(ColumnBridge.expression(vec)).toAggregateExpression())

  /** Column form: element-wise EXACT decimal(38,18) sum (the Lloyd
    * mean's numerator — see [[VecSumDecimalAggregate]]). */
  def vecSumDecimal(vec: Column): Column =
    ColumnBridge.column(
      VecSumDecimalAggregate(ColumnBridge.expression(vec))
        .toAggregateExpression())
}
