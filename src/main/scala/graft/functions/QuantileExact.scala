package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Growable primitive-double buffer for QuantileExact — the whole
  * point of this aggregate. Spark's built-in `Percentile` keeps an
  * `OpenHashMap[AnyRef, Long]` and pays a box + hash probe per row
  * (measured ~0.4 s per aggregate over 150k single-partition rows,
  * round 12, `sql_ch_parametric`); ClickHouse's quantileExact keeps the
  * raw value vector [public docs: aggregate-functions/reference/
  * quantileexact — "memory consumption O(n)"]. This is that vector:
  * primitive append (~ns), amortized doubling, one sort in finish.
  */
final class DoubleVec(var a: Array[Double], var n: Int) {
  def add(v: Double): Unit = {
    if (n == a.length) {
      if (n >= DoubleVec.MaxN)
        // Fail LOUDLY at the scale rules' boundary: a single serialize
        // needs one contiguous 4+8n-byte buffer, which overflows
        // Int.MaxValue past ~268M values — and a multi-GB per-GROUP
        // state is a spill/OOM hazard long before that. CH documents
        // quantileExact as O(n) memory too; past this bound the user
        // wants quantileTDigest (bounded sketch, same spelling family).
        throw new IllegalStateException(
          s"quantileExact: group exceeds ${DoubleVec.MaxN} values " +
            "(O(n) per-group state) — use quantileTDigest for groups " +
            "this large")
      val b = new Array[Double](a.length * 2)
      System.arraycopy(a, 0, b, 0, n)
      a = b
    }
    a(n) = v
    n += 1
  }
}

object DoubleVec {
  /** Per-group value cap: 2^27 values = 1 GiB serialized state. */
  val MaxN: Int = 1 << 27
}

/** Exact interpolated quantile(s) over the group's raw value vector —
  * ClickHouse `quantileExact`-family semantics with Spark
  * `percentile`'s EXACT interpolation arithmetic, so results are
  * bit-identical to the builtin it replaces on the parametric path:
  * position = p·(n−1); lower = ⌊position⌋, higher = ⌈position⌉;
  * result = (higher−position)·v[lower] + (position−lower)·v[higher].
  *
  * `percentage` must be foldable: a DOUBLE → scalar result, or an
  * ARRAY<DOUBLE> → one result per level (CH `quantiles(p…)(x)`).
  * NULL inputs are ignored; an empty group yields NULL (both shapes —
  * the builtin's contract). State is the raw primitive vector: O(n)
  * memory like CH quantileExact, partial/final two-phase safe (merge
  * is concatenation — associative and commutative; the one sort
  * happens in eval on the final merged vector).
  */
case class QuantileExact(
    child: Expression,
    percentage: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[DoubleVec] {

  override def children: Seq[Expression] = Seq(child, percentage)
  // no ExpectsInputTypes (sql-private AbstractDataType): the ChSql
  // expansion CASTs both arguments explicitly, and this check guards
  // direct callers
  override def checkInputDataTypes(): TypeCheckResult = {
    if (child.dataType != DoubleType)
      return TypeCheckResult.TypeCheckFailure(
        s"graft_quantile_exact expects a DOUBLE value column, got " +
          child.dataType.simpleString + " — CAST it")
    val pOk = percentage.dataType match {
      case DoubleType => true
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (!pOk)
      return TypeCheckResult.TypeCheckFailure(
        s"graft_quantile_exact expects DOUBLE or ARRAY<DOUBLE> levels, " +
          s"got ${percentage.dataType.simpleString}")
    if (!percentage.foldable)
      return TypeCheckResult.TypeCheckFailure(
        "graft_quantile_exact: percentage must be a literal")
    // Reject out-of-range levels at ANALYSIS time, like the builtin
    // Percentile — an unvalidated p>1 would otherwise index past the
    // sorted vector at executor runtime (ArrayIndexOutOfBounds).
    val bad = (percentage.eval() match {
      case null => Nil
      case d: java.lang.Double => Seq(d.doubleValue())
      case a: ArrayData => a.toDoubleArray().toSeq
      case _ => Nil
    }).filter(p => p.isNaN || p < 0.0 || p > 1.0)
    if (bad.nonEmpty)
      return TypeCheckResult.TypeCheckFailure(
        s"graft_quantile_exact: percentage must be in [0, 1], got " +
          bad.mkString(", "))
    TypeCheckResult.TypeCheckSuccess
  }
  override def nullable: Boolean = true
  override def prettyName: String = "graft_quantile_exact"

  private lazy val returnArray: Boolean =
    percentage.dataType.isInstanceOf[ArrayType]
  private lazy val levels: Array[Double] = {
    percentage.eval() match {
      case null => throw new IllegalArgumentException(
        "graft_quantile_exact: percentage must not be NULL")
      case d: java.lang.Double => Array(d.doubleValue())
      case a: ArrayData => a.toDoubleArray()
      case other => throw new IllegalArgumentException(
        s"graft_quantile_exact: unsupported percentage $other")
    }
  }

  override def dataType: DataType =
    if (returnArray) ArrayType(DoubleType, containsNull = false) else DoubleType

  override def createAggregationBuffer(): DoubleVec =
    new DoubleVec(new Array[Double](16), 0)

  override def update(buf: DoubleVec, input: InternalRow): DoubleVec = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Double])
    buf
  }

  override def merge(buf: DoubleVec, other: DoubleVec): DoubleVec = {
    var i = 0
    while (i < other.n) { buf.add(other.a(i)); i += 1 }
    buf
  }

  override def eval(buf: DoubleVec): Any = {
    if (buf.n == 0) return null
    val v = java.util.Arrays.copyOf(buf.a, buf.n)
    java.util.Arrays.sort(v)
    def one(p: Double): Double = {
      // EXACTLY Spark Percentile.getPercentile's arithmetic so the
      // swap from the builtin is hash-invisible to the oracle gate
      val position = p * (v.length - 1)
      val lower = math.floor(position).toInt
      val higher = math.ceil(position).toInt
      if (higher == lower) v(lower)
      else (higher - position) * v(lower) + (position - lower) * v(higher)
    }
    if (returnArray) new GenericArrayData(levels.map(one))
    else one(levels(0))
  }

  override def serialize(buf: DoubleVec): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buf.n)
    bb.putInt(buf.n)
    var i = 0
    while (i < buf.n) { bb.putDouble(buf.a(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): DoubleVec = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val a = new Array[Double](math.max(n, 16))
    var i = 0
    while (i < n) { a(i) = bb.getDouble(); i += 1 }
    new DoubleVec(a, n)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): QuantileExact =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): QuantileExact =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): QuantileExact =
    copy(child = newChildren(0), percentage = newChildren(1))
}
