package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.math.{BigDecimal => JBigDecimal, BigInteger}
import java.util.Comparator

import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/** The holistic window functions — MEDIAN, CONTINUOUS_PERCENTILE and
  * DISCRETE_PERCENTILE — as one insert-only order-statistic aggregate.
  *
  * The buffer is a sorted value → count map plus a rank cursor
  * ([[PercentileBuffer]]). Spark's WindowExec drives the engine's holistic
  * functions only through frames that grow (the validator rejects a frame
  * clause for all three): the running RANGE frame with peers, or the whole
  * partition. Both call `update` once per row and `eval` once per peer
  * group, and between two evals the target rank moves by at most one per
  * insert. So `update` costs O(log d), `eval` O(log d) amortised, and a
  * partition O(n log d) — where re-sorting the frame for every row, as
  * Spark's `percentile` does, costs O(n · d log d). The buffer holds
  * O(d) entries for d distinct values. On the bench's `window_holistic`
  * workload (partitions of 300 and 600 distinct values) this halves the
  * pass time against the built-in. A frame that shrinks or slides
  * re-initialises the buffer (Spark's frame processors do that for every
  * aggregate), which stays correct at the cost of a rebuild per row.
  *
  * Values, bit for bit:
  *  - continuous (`discrete = false`): Spark's `percentile`
  *    (`PercentileBase.getPercentile`) — position (n−1)·p, the values at its
  *    floor and ceiling ranks, equal values returned as they are, otherwise
  *    `(hi−pos)·lo + (pos−lo)·hi`. Input types and implicit casts are
  *    percentile's (numeric and ANSI intervals, which MEDIAN accepts); the
  *    output is a double, or the interval type for interval input.
  *  - discrete: the reference UDAF (DiscretePercentile.java:142-167) — the
  *    smallest value whose `running / total >= p`; output type = input
  *    type, restricted to INT / LONG / FLOAT / DOUBLE
  *    (DiscretePercentile.convertType:57-78) and never implicitly cast.
  *
  * Nulls are skipped; an empty frame gives null. Floats and doubles are
  * keyed in their total order (`compare`: −0.0 below 0.0, one NaN key above
  * +∞), the order of the reference UDAF's value map. Spark's percentile
  * treats −0.0 and 0.0 as equal, so a continuous result may differ from it
  * in the sign of a zero, never numerically.
  */
case class PercentileAgg(
    child: Expression,
    percentile: Double,
    discrete: Boolean,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[PercentileBuffer]
  with ImplicitCastInputTypes
  with UnaryLike[Expression] {

  override def dataType: DataType =
    if (discrete) child.dataType
    else child.dataType match {
      case _: YearMonthIntervalType => YearMonthIntervalType()
      case _: DayTimeIntervalType   => DayTimeIntervalType()
      case _                        => DoubleType
    }

  override def nullable: Boolean = true

  // An empty list disables the analyzer's implicit casts for the discrete
  // rule, whose check below admits its four types as they are.
  override def inputTypes = if (discrete) Nil else GraftColumnBridge.percentileInputTypes

  override def checkInputDataTypes(): TypeCheckResult =
    if (!discrete) super.checkInputDataTypes()
    else child.dataType match {
      case IntegerType | LongType | FloatType | DoubleType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"discrete_percentile supports int/long/float/double input, got ${other.simpleString}")
    }

  @transient private lazy val keyType = PercentileBuffer.KeyType(child.dataType)

  override def createAggregationBuffer(): PercentileBuffer = new PercentileBuffer(keyType.ordering)

  override def update(buffer: PercentileBuffer, input: InternalRow): PercentileBuffer = {
    val v = child.eval(input)
    if (v != null) buffer.add(v.asInstanceOf[AnyRef], 1L)
    buffer
  }

  override def merge(buffer: PercentileBuffer, other: PercentileBuffer): PercentileBuffer = {
    other.counts.forEach((k, c) => buffer.add(k, c.n))
    buffer
  }

  override def eval(buffer: PercentileBuffer): Any =
    if (buffer.total == 0) null
    else if (discrete) {
      val total = buffer.total.toDouble
      buffer.firstReaching(running => running / total >= percentile)
    } else {
      val v = continuous(buffer)
      child.dataType match {
        case _: YearMonthIntervalType => v.toInt
        case _: DayTimeIntervalType   => v.toLong
        case _                        => v
      }
    }

  /** Spark's `PercentileBase.getPercentile`, on the cursor instead of a
    * sorted copy of the frame. */
  private def continuous(buffer: PercentileBuffer): Double = {
    val position = (buffer.total - 1).toDouble * percentile
    val lower = position.floor.toLong
    val higher = position.ceil.toLong
    val lowerKey = buffer.select(lower)
    if (higher == lower) return toDouble(lowerKey)
    val higherKey = buffer.peek(higher)
    if (higherKey == lowerKey) return toDouble(lowerKey)
    (higher - position) * toDouble(lowerKey) + (position - lower) * toDouble(higherKey)
  }

  private def toDouble(v: AnyRef): Double = v match {
    case d: Decimal => d.toDouble
    case n: Number  => n.doubleValue()
  }

  /** (key, count) pairs in value order, each key in its type's width. */
  override def serialize(buffer: PercentileBuffer): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    out.writeInt(buffer.counts.size)
    buffer.counts.forEach { (k, c) =>
      keyType.write(out, k)
      out.writeLong(c.n)
    }
    out.close()
    bytes.toByteArray
  }

  override def deserialize(storageFormat: Array[Byte]): PercentileBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(storageFormat))
    val buffer = createAggregationBuffer()
    var i = in.readInt()
    while (i > 0) {
      val k = keyType.read(in)
      buffer.add(k, in.readLong())
      i -= 1
    }
    buffer
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): PercentileAgg =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): PercentileAgg =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildInternal(newChild: Expression): PercentileAgg =
    copy(child = newChild)

  override def prettyName: String =
    if (discrete) "graft_percentile_disc" else "graft_percentile_cont"
}

/** Distinct values in order with their counts, and a cursor on one of them:
  * `key`, its count, and `below`, the number of values ordered before it.
  * An insert keeps `below` true in O(1) beyond the map's O(log d); a query
  * walks the cursor from where the last one left it, one neighbouring key
  * per step. `steps` counts those moves. */
final class PercentileBuffer(ordering: Comparator[AnyRef]) {
  private[functions] val counts = new java.util.TreeMap[AnyRef, PercentileBuffer.Count](ordering)
  private var key: AnyRef = _
  private var count: PercentileBuffer.Count = _
  private var below = 0L
  private var values = 0L
  private var moves = 0L

  /** Number of values held. */
  def total: Long = values
  /** Cursor moves made by queries so far. */
  def steps: Long = moves

  def add(v: AnyRef, n: Long): Unit = {
    values += n
    counts.computeIfAbsent(v, PercentileBuffer.newCount).n += n
    if (key != null && ordering.compare(v, key) < 0) below += n
  }

  /** The value of 0-based rank `r` (0 <= r < total); the cursor moves there. */
  def select(r: Long): AnyRef = {
    start()
    while (r < below) down()
    while (r >= below + count.n) up()
    key
  }

  /** The value of rank `r` when it lies in the cursor's key or the next
    * one, as rank `select(r - 1)` leaves it; the cursor stays. */
  def peek(r: Long): AnyRef = if (r < below + count.n) key else counts.higherKey(key)

  /** The smallest value whose cumulative count satisfies `reached`, which
    * must be monotone in the count; the largest value if none does. */
  def firstReaching(reached: Long => Boolean): AnyRef = {
    start()
    while (!reached(below + count.n) && below + count.n < values) up()
    while (below > 0 && reached(below)) down()
    key
  }

  private def start(): Unit = if (key == null) {
    val e = counts.firstEntry()
    key = e.getKey
    count = e.getValue
    below = 0L
  }

  private def up(): Unit = {
    below += count.n
    val e = counts.higherEntry(key)
    key = e.getKey
    count = e.getValue
    moves += 1
  }

  private def down(): Unit = {
    val e = counts.lowerEntry(key)
    key = e.getKey
    count = e.getValue
    below -= count.n
    moves += 1
  }
}

object PercentileBuffer {
  final class Count(var n: Long)

  private val newCount: java.util.function.Function[AnyRef, Count] = _ => new Count(0L)

  /** How one input type orders and serialises its values. */
  final case class KeyType(ordering: Comparator[AnyRef],
      write: (DataOutputStream, AnyRef) => Unit, read: DataInputStream => AnyRef)

  object KeyType {
    private def of[T <: AnyRef](cmp: (T, T) => Int)(
        write: (DataOutputStream, T) => Unit, read: DataInputStream => T): KeyType =
      KeyType((a, b) => cmp(a.asInstanceOf[T], b.asInstanceOf[T]),
        (out, k) => write(out, k.asInstanceOf[T]), read)

    def apply(dt: DataType): KeyType = dt match {
      case ByteType => of[java.lang.Byte](_ compareTo _)(
        (o, k) => o.writeByte(k.intValue), in => java.lang.Byte.valueOf(in.readByte()))
      case ShortType => of[java.lang.Short](_ compareTo _)(
        (o, k) => o.writeShort(k.intValue), in => java.lang.Short.valueOf(in.readShort()))
      case IntegerType | _: YearMonthIntervalType => of[Integer](_ compareTo _)(
        (o, k) => o.writeInt(k), in => Integer.valueOf(in.readInt()))
      case LongType | _: DayTimeIntervalType => of[java.lang.Long](_ compareTo _)(
        (o, k) => o.writeLong(k), in => java.lang.Long.valueOf(in.readLong()))
      case FloatType => of[java.lang.Float](_ compareTo _)(
        (o, k) => o.writeInt(java.lang.Float.floatToRawIntBits(k)),
        in => java.lang.Float.valueOf(java.lang.Float.intBitsToFloat(in.readInt())))
      case DoubleType => of[java.lang.Double](_ compareTo _)(
        (o, k) => o.writeLong(java.lang.Double.doubleToRawLongBits(k)),
        in => java.lang.Double.valueOf(java.lang.Double.longBitsToDouble(in.readLong())))
      case t: DecimalType => of[Decimal](_ compare _)(
        { (o, k) =>
          val unscaled = k.toJavaBigDecimal.unscaledValue.toByteArray
          o.writeInt(unscaled.length)
          o.write(unscaled)
        },
        { in =>
          val unscaled = new Array[Byte](in.readInt())
          in.readFully(unscaled)
          Decimal(new JBigDecimal(new BigInteger(unscaled), t.scale), t.precision, t.scale)
        })
      case other => throw new IllegalStateException(s"unsupported percentile input type $other")
    }
  }
}
