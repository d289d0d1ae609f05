package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Single-pass Pearson correlation MATRIX over k numeric columns as one
  * `TypedImperativeAggregate`.
  *
  * The composed form (28 independent `corr(a,b)` aggregates for k=8)
  * keeps 6 accumulator slots per pair = 168 doubles and re-reads each
  * input column up to 7 times per row. This
  * operator keeps the minimal sufficient statistics — count, k means,
  * k(k+1)/2 co-moments = 45 doubles for k=8 — reading each column once
  * per row. Same partial/merge contract as any Spark aggregate, so
  * map-side combine and AQE behave identically at 100 TB.
  *
  * Math: Welford/Pébay online pairwise co-moments —
  *   update:  C_ij += (x_i − mean_i^old) · (x_j − mean_j^new)
  *   merge:   C_ij += Δ_i · Δ_j · n_a·n_b / (n_a + n_b), Δ = mean_a − mean_b
  * eval emits the upper triangle (i<j) of r_ij = C_ij / √(C_ii·C_jj) in
  * row-major order as array<double>. Null rows are skipped (matching
  * `corr`'s pairwise-complete semantics only when nulls are absent —
  * callers should `na.drop` first, as the reference does).
  */
case class CorrMatrixAgg(
    children: Seq[Expression],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Double]] {

  private val k = children.length
  // buffer layout: [n, mean_0..mean_{k-1}, C_00, C_01.., C_11.. ] with
  // the full upper triangle INCLUDING the diagonal (variances)
  private val nCo = k * (k + 1) / 2
  private def coIdx(i: Int, j: Int): Int = { // i <= j
    1 + k + (i * (2 * k - i - 1)) / 2 + j
  }

  override def createAggregationBuffer(): Array[Double] =
    new Array[Double](1 + k + nCo)

  override def update(buf: Array[Double], input: InternalRow): Array[Double] = {
    val xs = new Array[Double](k)
    var i = 0
    while (i < k) {
      val v = children(i).eval(input)
      if (v == null) return buf // skip incomplete rows
      xs(i) = v.asInstanceOf[Number].doubleValue()
      i += 1
    }
    val n1 = buf(0) + 1
    buf(0) = n1
    val deltaOld = new Array[Double](k)
    val deltaNew = new Array[Double](k)
    i = 0
    while (i < k) {
      deltaOld(i) = xs(i) - buf(1 + i)
      buf(1 + i) += deltaOld(i) / n1
      deltaNew(i) = xs(i) - buf(1 + i)
      i += 1
    }
    i = 0
    while (i < k) {
      var j = i
      while (j < k) {
        buf(coIdx(i, j)) += deltaOld(i) * deltaNew(j)
        j += 1
      }
      i += 1
    }
    buf
  }

  override def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
    val na = a(0); val nb = b(0)
    if (nb == 0) return a
    if (na == 0) { System.arraycopy(b, 0, a, 0, b.length); return a }
    val n = na + nb
    val delta = new Array[Double](k)
    var i = 0
    while (i < k) {
      delta(i) = b(1 + i) - a(1 + i)
      i += 1
    }
    val f = na * nb / n
    i = 0
    while (i < k) {
      var j = i
      while (j < k) {
        a(coIdx(i, j)) += b(coIdx(i, j)) + delta(i) * delta(j) * f
        j += 1
      }
      i += 1
    }
    i = 0
    while (i < k) {
      a(1 + i) += delta(i) * nb / n
      i += 1
    }
    a(0) = n
    a
  }

  override def eval(buf: Array[Double]): Any = {
    val out = new Array[Any](k * (k - 1) / 2)
    var p = 0
    var i = 0
    while (i < k) {
      var j = i + 1
      while (j < k) {
        val denom = math.sqrt(buf(coIdx(i, i)) * buf(coIdx(j, j)))
        out(p) = if (denom == 0 || buf(0) < 2) null
                 else buf(coIdx(i, j)) / denom
        p += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: Array[Double]): Array[Byte] = {
    val bb = ByteBuffer.allocate(buf.length * 8)
    buf.foreach(bb.putDouble)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getDouble)
  }

  override def dataType: DataType = ArrayType(DoubleType)
  override def nullable: Boolean = true

  override def withNewMutableAggBufferOffset(o: Int): CorrMatrixAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CorrMatrixAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CorrMatrixAgg =
    copy(children = newChildren)
}
