package graft.functions

import java.math.{BigDecimal => JBigDecimal, BigInteger, RoundingMode}
import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Exact element-wise sum of `array<double>` columns in 128-bit fixed
  * point — the engine's exact-decimal-sum contract (each element
  * rounded to DECIMAL(27,18) half-up, summed exactly, result cast to
  * double) as ONE native aggregate over the whole vector.
  *
  * This replaces the `posexplode` + per-(group, dim) decimal-sum shape
  * the iterative ML kernels used: instead of shuffling |rows|·dim
  * exploded rows into dim separate `Decimal`-buffered aggregates, the
  * buffer is two primitive long arrays (hi/lo 128-bit limbs per
  * dimension), updates are one pass over the row's array, and the
  * shuffle carries one row of 2·dim longs per group per partition.
  * Semantics are IDENTICAL to `sum(cast(v as decimal(27,18)))` per
  * dimension — same per-element half-up rounding (`BigDecimal.valueOf`,
  * the double→decimal cast's canonical-string conversion), exact
  * summation (order-independent), same final decimal→double conversion
  * — so every DuckDB oracle mirroring that op order stays valid.
  * Differentially asserted against the decimal-cast form in
  * ExactSumSpec.
  *
  * Element domain matches the decimal(27,18) cast: |v| < 1e9 (9
  * integral digits); values outside it throw, exactly where the ANSI
  * decimal cast would.
  */
case class VectorExactSum(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[FixedPointVec] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_vector_exact_sum"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<double>, got ${t.simpleString}")
  }

  override def createAggregationBuffer(): FixedPointVec = new FixedPointVec

  override def update(buf: FixedPointVec, input: InternalRow): FixedPointVec = {
    val arr = child.eval(input)
    if (arr != null) buf.add(arr.asInstanceOf[ArrayData].toDoubleArray())
    buf
  }

  override def merge(buf: FixedPointVec, other: FixedPointVec): FixedPointVec = {
    buf.merge(other)
    buf
  }

  override def eval(buf: FixedPointVec): Any =
    if (buf.dim < 0) null
    else new GenericArrayData(buf.toDoubles.map(d => d: Any))

  override def serialize(buf: FixedPointVec): Array[Byte] = buf.toBytes
  override def deserialize(bytes: Array[Byte]): FixedPointVec =
    FixedPointVec.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(o: Int): VectorExactSum =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): VectorExactSum =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): VectorExactSum = copy(child = c(0))
}

/** Per-dimension 128-bit signed fixed-point accumulator (scale 1e18).
  * `lo` is the unsigned low limb, `hi` the signed high limb. */
final class FixedPointVec extends Serializable {
  var dim: Int = -1
  var hi: Array[Long] = _
  var lo: Array[Long] = _

  private def ensure(d: Int): Unit = {
    if (dim < 0) { dim = d; hi = new Array[Long](d); lo = new Array[Long](d) }
    else require(dim == d, s"vector dim mismatch: $dim vs $d")
  }

  /** Add the 128-bit signed value (uHi, uLo) into limb pair j. */
  private def addWide(j: Int, uHi: Long, uLo: Long): Unit = {
    val l = lo(j)
    val nl = l + uLo
    // unsigned carry out of the low limb
    val carry = ((l & uLo) | ((l | uLo) & ~nl)) >>> 63
    lo(j) = nl
    hi(j) += uHi + carry
  }

  def add(values: Array[Double]): Unit = {
    ensure(values.length)
    var j = 0
    while (j < values.length) {
      // identical rounding to Cast(double -> decimal(27,18)):
      // canonical-string BigDecimal, then HALF_UP at scale 18
      val bi = JBigDecimal.valueOf(values(j))
        .setScale(18, RoundingMode.HALF_UP).unscaledValue()
      if (bi.bitLength() < 63) {
        val u = bi.longValue()
        addWide(j, u >> 63, u)
      } else {
        if (bi.abs.compareTo(FixedPointVec.MaxUnscaled) >= 0)
          throw new ArithmeticException(
            s"${values(j)} out of decimal(27,18) range")
        addWide(j, bi.shiftRight(64).longValueExact(), bi.longValue())
      }
      j += 1
    }
  }

  def merge(other: FixedPointVec): Unit = {
    if (other.dim >= 0) {
      ensure(other.dim)
      var j = 0
      while (j < dim) {
        val l = lo(j); val u = other.lo(j)
        val nl = l + u
        val carry = ((l & u) | ((l | u) & ~nl)) >>> 63
        lo(j) = nl
        hi(j) += other.hi(j) + carry
        j += 1
      }
    }
  }

  /** Exact unscaled 128-bit value → BigDecimal(·, 18) → double: the
    * same decimal→double conversion the Decimal cast performs. */
  def toDoubles: Array[Double] = {
    val out = new Array[Double](dim)
    var j = 0
    while (j < dim) {
      val bytes = ByteBuffer.allocate(16).putLong(hi(j)).putLong(lo(j)).array()
      out(j) = new JBigDecimal(new BigInteger(bytes), 18).doubleValue()
      j += 1
    }
    out
  }

  def toBytes: Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 16 * math.max(dim, 0))
    bb.putInt(dim)
    var j = 0
    while (j < math.max(dim, 0)) { bb.putLong(hi(j)); bb.putLong(lo(j)); j += 1 }
    bb.array()
  }
}

object FixedPointVec {
  /** decimal(27,18) bound: 10^27 unscaled. */
  private[functions] val MaxUnscaled = BigInteger.TEN.pow(27)

  def fromBytes(bytes: Array[Byte]): FixedPointVec = {
    val bb = ByteBuffer.wrap(bytes)
    val d = bb.getInt
    val v = new FixedPointVec
    if (d >= 0) {
      v.dim = d
      v.hi = new Array[Long](d)
      v.lo = new Array[Long](d)
      var j = 0
      while (j < d) { v.hi(j) = bb.getLong; v.lo(j) = bb.getLong; j += 1 }
    }
    v
  }
}

object ExactSumFunctions {
  /** Aggregate Column: element-wise exact-decimal sum of an
    * `array<double>` column; result `array<double>`. */
  def exactVectorSum(arr: Column): Column =
    Bridge.column(VectorExactSum(Bridge.expression(arr)).toAggregateExpression())

  /** [[exactVectorSum]] and `count` per dense int key, as ONE job with
    * no exchange, over a frame of (key: int, x: array<double>). Each
    * partition folds its rows into a lazily filled array of per-key
    * [[FixedPointVec]]s and ships only the keys it touched; the driver
    * merges each task's partials as they arrive, so it holds one
    * k×dim accumulator. Slot `key` of the result is the key's
    * (sum, count), bit-identical to `groupBy(key).agg(exactVectorSum(x),
    * count(lit(1)))`: exact, so order-free; a null array adds nothing
    * but counts; the sum is null when no array is non-null, and an
    * untouched key reads (null, 0). A row whose key is null or outside
    * 0..k-1 (NearestCell's -1 for a NaN vector) joins no key. The job
    * runs under its own SQL execution id, so listeners see it as a
    * query. */
  def foldExactVectorSumByKey(df: DataFrame, k: Int): Array[(Array[Double], Long)] = {
    require(df.schema.map(_.dataType) match {
      case Seq(IntegerType, ArrayType(DoubleType, _)) => true
      case _ => false
    }, s"(int, array<double>) columns expected, got ${df.schema.simpleString}")
    val qe = df.queryExecution
    val sums = SQLExecution.withNewExecutionId(qe, Some("foldExactVectorSumByKey")) {
      qe.toRdd.mapPartitions { rows =>
        val part = new Array[KeyedSum](k)
        rows.foreach { r =>
          val key = if (r.isNullAt(0)) -1 else r.getInt(0)
          if (key >= 0 && key < k) {
            if (part(key) == null) part(key) = new KeyedSum
            part(key).n += 1
            if (!r.isNullAt(1)) part(key).sum.add(r.getArray(1).toDoubleArray())
          }
        }
        Iterator.single(part)
      }.fold(new Array[KeyedSum](k)) { (acc, part) =>
        var key = 0
        while (key < k) {
          if (acc(key) == null) acc(key) = part(key)
          else if (part(key) != null) {
            acc(key).sum.merge(part(key).sum)
            acc(key).n += part(key).n
          }
          key += 1
        }
        acc
      }
    }
    sums.map { s =>
      if (s == null) (null, 0L)
      else (if (s.sum.dim < 0) null else s.sum.toDoubles, s.n)
    }
  }
}

/** One key's partial of [[ExactSumFunctions.foldExactVectorSumByKey]]. */
private final class KeyedSum extends Serializable {
  val sum = new FixedPointVec
  var n = 0L
}
