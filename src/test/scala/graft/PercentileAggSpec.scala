package graft

import java.time.{Duration, Period}

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.PercentileAgg

/** [[PercentileAgg]] against Spark's built-in `percentile` for the
  * continuous rule, and against a reference that sorts each frame for the
  * discrete one (the reference UDAF's rule). Seeded random
  * data with ties in the order key (peers), duplicates, nulls, NaN, ±∞ and
  * ±0.0. Partitions of 10 and 100 non-null values put `k / total` exactly
  * on p for whole partitions and groups. */
class PercentileAggSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // 0.07 and 0.28 sit on a floating-point boundary at 100 values: 7 / 100.0
  // == 0.07 but 0.07 * 100 == 7.000000000000001, so a rank rule
  // ceil(p · total) picks the 8th value where the reference picks the 7th
  private val ps = Seq(0.0, 0.07, 0.1, 0.25, 0.28, 0.29, 0.5, 0.75, 1.0)
  private val seeds = Seq(3L, 17L)

  private val running = Window.partitionBy("k").orderBy("o")
  private val whole = Window.partitionBy("k")

  private def ours(p: Double, discrete: Boolean): Column = GraftColumnBridge.column(
    PercentileAgg(GraftColumnBridge.expression(col("v")), p, discrete).toAggregateExpression())

  /** Partitions as (size, null share): 100 and 10 values without nulls,
    * 200 rows with nulls, a single row, and a partition of nulls only. */
  private val layout = Seq((100, 0.0), (200, 0.15), (10, 0.0), (1, 0.0), (3, 1.0))

  /** One value of `dt` drawn from a small pool (duplicates), with NaN, ±∞
    * and ±0.0 mixed into floating-point columns. */
  private def draw(dt: DataType, rng: scala.util.Random): Any = {
    val i = rng.nextInt(40) - 15
    def special[T](nan: T, inf: T, negZero: T, fallback: T): T = rng.nextInt(20) match {
      case 0 => nan
      case 1 => inf
      case 2 => negZero
      case _ => fallback
    }
    dt match {
      case ByteType             => i.toByte
      case ShortType            => (i * 100).toShort
      case IntegerType          => i * 1000
      case LongType             => i * 10000000000L
      case FloatType            => special(Float.NaN, Float.PositiveInfinity, -0.0f, i / 4.0f)
      case DoubleType           =>
        special(Double.NaN, if (rng.nextBoolean()) Double.PositiveInfinity else Double.NegativeInfinity,
          -0.0, i / 8.0)
      case _: DecimalType       => new java.math.BigDecimal(i).movePointLeft(2)
      case StringType           => (i / 2.0).toString
      case _: YearMonthIntervalType => Period.ofMonths(i * 3).normalized()
      case _: DayTimeIntervalType   => Duration.ofMillis(i * 1500L)
    }
  }

  private def table(dt: DataType, seed: Long): DataFrame = {
    val rng = new scala.util.Random(seed)
    val rows = layout.zipWithIndex.flatMap { case ((size, nulls), k) =>
      (0 until size).map { _ =>
        // order keys from a narrow range: many peers per key
        Row(k, rng.nextInt(math.max(1, size / 4)),
          if (rng.nextDouble() < nulls) null else draw(dt, rng))
      }
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), StructType(Seq(
      StructField("k", IntegerType), StructField("o", IntegerType), StructField("v", dt))))
  }

  /** Equal as numbers: ±0.0 alike, NaN equal to NaN. */
  private def sameNumber(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => x == y || (x.isNaN && y.isNaN)
    case _                      => a == b
  }

  /** Equal in the total order: −0.0 is not 0.0, NaN equals NaN. */
  private def sameValue(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => java.lang.Double.compare(x, y) == 0
    case (x: Float, y: Float)   => java.lang.Float.compare(x, y) == 0
    case _                      => a == b
  }

  /** The discrete rule by sorting: the smallest value whose cumulative
    * share of the non-null values reaches p. */
  private def discreteReference(values: Seq[Any], p: Double, dt: DataType): Any = {
    val ord: Ordering[Any] = (dt match {
      case IntegerType => Ordering.Int.on((x: Any) => x.asInstanceOf[Int])
      case LongType    => Ordering.Long.on((x: Any) => x.asInstanceOf[Long])
      case FloatType   => Ordering.Float.TotalOrdering.on((x: Any) => x.asInstanceOf[Float])
      case DoubleType  => Ordering.Double.TotalOrdering.on((x: Any) => x.asInstanceOf[Double])
    }): Ordering[Any]
    val sorted = values.filter(_ != null).sorted(ord)
    if (sorted.isEmpty) return null
    val total = sorted.size
    // the last index of each run of equal values carries the run's cumulative count
    sorted.indices.find { i =>
      (i == total - 1 || ord.compare(sorted(i), sorted(i + 1)) != 0) && (i + 1) / total.toDouble >= p
    }.map(sorted).getOrElse(sorted.last)
  }

  private val continuousTypes: Seq[DataType] = Seq(IntegerType, LongType, FloatType, DoubleType,
    ByteType, ShortType, DecimalType(10, 2), StringType, YearMonthIntervalType(), DayTimeIntervalType())
  private val discreteTypes: Seq[DataType] = Seq(IntegerType, LongType, FloatType, DoubleType)

  test("continuous: Spark percentile's values on running frames with peers and whole partitions") {
    for (dt <- continuousTypes; seed <- seeds) {
      val frames = Seq("running" -> running, "whole" -> whole)
      val cols = for (p <- ps; (name, w) <- frames) yield
        (s"$name p=$p", ours(p, discrete = false).over(w), percentile(col("v"), lit(p)).over(w))
      val rows = table(dt, seed).select(cols.flatMap { case (_, a, b) => Seq(a, b) }: _*).collect()
      for (r <- rows; ((what, _, _), c) <- cols.zipWithIndex)
        assert(sameNumber(r.get(2 * c), r.get(2 * c + 1)),
          s"${dt.simpleString} seed $seed $what: ours ${r.get(2 * c)}, percentile ${r.get(2 * c + 1)}")
    }
  }

  test("discrete: the sorted-frame rule on running frames with peers and whole partitions") {
    for (dt <- discreteTypes; seed <- seeds) {
      val cols = ps.flatMap(p => Seq(ours(p, discrete = true).over(running), ours(p, discrete = true).over(whole)))
      val rows = table(dt, seed).select((Seq(col("k"), col("o"), col("v")) ++ cols): _*).collect()
      for ((_, part) <- rows.groupBy(_.getInt(0)); r <- part; (p, i) <- ps.zipWithIndex) {
        val prefix = part.filter(_.getInt(1) <= r.getInt(1)).map(_.get(2)).toSeq
        val expRunning = discreteReference(prefix, p, dt)
        val expWhole = discreteReference(part.map(_.get(2)).toSeq, p, dt)
        assert(sameValue(r.get(3 + 2 * i), expRunning),
          s"${dt.simpleString} seed $seed running p=$p at o=${r.getInt(1)}: ${r.get(3 + 2 * i)} vs $expRunning")
        assert(sameValue(r.get(4 + 2 * i), expWhole),
          s"${dt.simpleString} seed $seed whole p=$p: ${r.get(4 + 2 * i)} vs $expWhole")
      }
    }
  }

  test("groupBy: partial buffers survive serialize and merge with the same values") {
    for (dt <- continuousTypes; seed <- seeds) {
      val discrete = discreteTypes.contains(dt)
      // round-robin repartition spreads every group over all partial aggregates
      val spread = table(dt, seed).repartition(5)
      val aggs = ps.flatMap { p =>
        Seq(ours(p, discrete = false), percentile(col("v"), lit(p))) ++
          (if (discrete) Seq(ours(p, discrete = true)) else Nil)
      }
      val got = spread.groupBy("k").agg(collect_list(col("v")), aggs: _*).collect()
      val width = if (discrete) 3 else 2
      for (r <- got; (p, i) <- ps.zipWithIndex) {
        val at = 2 + width * i
        assert(sameNumber(r.get(at), r.get(at + 1)),
          s"${dt.simpleString} seed $seed group ${r.getInt(0)} p=$p: ours ${r.get(at)}, percentile ${r.get(at + 1)}")
        if (discrete) {
          val exp = discreteReference(r.getSeq[Any](1), p, dt)
          assert(sameValue(r.get(at + 2), exp),
            s"${dt.simpleString} seed $seed group ${r.getInt(0)} discrete p=$p: ${r.get(at + 2)} vs $exp")
        }
      }
    }
  }

  test("the engine's MEDIAN, CONTINUOUS_PERCENTILE and DISCRETE_PERCENTILE are this aggregate") {
    val df = table(DoubleType, 5L)
    val ordered = WindowEngine.run(df, WindowQuerySpec(Seq("k"), Seq(OrderSpec("o")), aggregates = Seq(
      AggregateSpec("med", WindowFn.Median, "v"),
      AggregateSpec("disc", WindowFn.DiscretePercentile, "v", Seq("0.29")))))
      .withColumn("ref_med", percentile(col("v"), lit(0.5)).over(running))
      .withColumn("ref_disc", ours(0.29, discrete = true).over(running))
    for (r <- ordered.collect()) {
      assert(sameNumber(r.getAs[Any]("med"), r.getAs[Any]("ref_med")))
      assert(sameValue(r.getAs[Any]("disc"), r.getAs[Any]("ref_disc")))
    }
    val cont = WindowEngine.run(df, WindowQuerySpec(Seq("k"), aggregates = Seq(
      AggregateSpec("cont", WindowFn.ContinuousPercentile, "v", Seq("0.75")))))
      .withColumn("ref", percentile(col("v"), lit(0.75)).over(whole))
    for (r <- cont.collect()) assert(sameNumber(r.getAs[Any]("cont"), r.getAs[Any]("ref")))
  }

  test("a query after every insert moves the cursor at most 4n steps in total") {
    // counts, not timings: a per-row scan from the smallest value would take
    // about n/2 steps per query, so the guard fails on the first few thousand
    val n = 100000
    val rng = new scala.util.Random(29L)
    val values = Seq.fill(n)(rng.nextInt(n / 2).toDouble) // random order, some duplicates
    for ((p, discrete) <- Seq((0.5, false), (0.29, false), (0.29, true), (1.0, true))) {
      val agg = PercentileAgg(BoundReference(0, DoubleType, nullable = true), p, discrete)
      val buffer = agg.createAggregationBuffer()
      var inserted = 0
      while (inserted < n && buffer.steps <= 4L * n) {
        agg.update(buffer, InternalRow(values(inserted)))
        agg.eval(buffer)
        inserted += 1
      }
      assert(inserted == n && buffer.steps <= 4L * n,
        s"p=$p discrete=$discrete: ${buffer.steps} cursor steps after $inserted inserts")
      val sorted = values.sorted
      val pos = (n - 1) * p
      val (lo, hi) = (pos.floor.toInt, pos.ceil.toInt)
      val expected =
        if (discrete) discreteReference(values, p, DoubleType)
        else if (lo == hi || sorted(lo) == sorted(hi)) sorted(lo)
        else (hi - pos) * sorted(lo) + (pos - lo) * sorted(hi)
      assert(sameNumber(agg.eval(buffer), expected), s"p=$p discrete=$discrete")
    }
  }
}
