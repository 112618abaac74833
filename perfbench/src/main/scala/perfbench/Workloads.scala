package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft._

/** One query of a workload. `construct` builds the DataFrame (the timed
  * construction, recording front-end spans under "construct"); `oracle` is
  * the DuckDB SQL whose result must equal the query's output. */
final case class Query(name: String, window: Boolean, oracle: String,
    construct: Tracer => DataFrame)

trait Workload {
  def name: String
  /** Write the seeded inputs under `dir`; returns the rows each query reads. */
  def generate(spark: SparkSession, dir: String, seed: Long): Long
  def queries(spark: SparkSession, dir: String, seed: Long): Seq[Query]
  /** DuckDB view name -> parquet path, for the correctness check. */
  def tables(dir: String): Map[String, String]
  /** Timed passes per second of requested run time (see Main.passCount). */
  def passesPerSecond: Double
}

object Workload {
  def apply(name: String, tiny: Boolean, cores: Int, repoRoot: String): Workload = name match {
    case "window_core"        => new WindowCore(if (tiny) 20000 else 50000, cores)
    case "window_holistic"    => new WindowHolistic(if (tiny) 400 else 3600, if (tiny) 50 else 300)
    case "operator_pipelines" => new OperatorPipelines(s"$repoRoot/perfbench/data", tiny)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}

/** A window query in the engine's configuration surface (the reference
  * plugin's string properties). */
final case class WinSpec(name: String, partition: String, order: String, aggregates: String,
    frame: String = "NONE", preceding: Option[Long] = None, following: Option[Long] = None,
    viaSql: Boolean = false)

/** Shared construction for the window workloads: parse -> validate ->
  * engine, or parse -> validate -> SQL emitter -> spark.sql. */
abstract class WindowWorkload extends Workload {
  protected def table: String
  protected def specs: Seq[WinSpec]

  private def parse(w: WinSpec): WindowQuerySpec =
    DslParser.parseSpec(w.partition, w.order, w.aggregates, w.frame, w.preceding, w.following)
      .fold(fs => throw new GraftValidationException(fs), identity)

  def tables(dir: String): Map[String, String] = Map(table -> s"$dir/$table.parquet")

  def queries(spark: SparkSession, dir: String, seed: Long): Seq[Query] = {
    // the source is opened once; construction is the engine's front end
    val df = spark.read.parquet(s"$dir/$table.parquet")
    specs.map { w =>
      val oracle = SqlEmitter.emit(parse(w), table, df.schema, SqlEmitter.Dialect.DuckDb)
      Query(w.name, window = true, oracle, tr => {
        val spec = tr.span("parse", "construct")(parse(w))
        val failures = tr.span("validate", "construct")(Validator.validate(spec, df.schema))
        if (failures.nonEmpty) throw new GraftValidationException(failures)
        if (w.viaSql) {
          val sql = tr.span("emit", "construct")(
            SqlEmitter.emit(spec, table, df.schema, SqlEmitter.Dialect.Spark))
          tr.span("build", "construct") { df.createOrReplaceTempView(table); spark.sql(sql) }
        } else tr.span("build", "construct")(WindowEngine.run(df, spec))
      })
    }
  }
}

/** The reference operator in its common shape: the 11 non-holistic
  * functions (FIRST over a ROW frame, ACCUMULATE over a RANGE frame) and a
  * multi-aggregate spec, over a hot layout (as many keys as cores) and a
  * wide one (thousands of keys). Order column `t`
  * has ties; value column `v` has nulls and integer values, so sums are
  * exact on both engines. Order-sensitive functions break ties with `id`. */
final class WindowCore(n: Long, cores: Int) extends WindowWorkload {
  val name = "window_core"
  protected val table = "core"
  val passesPerSecond = 0.2

  def generate(spark: SparkSession, dir: String, seed: Long): Long = {
    spark.range(0, n, 1, cores).select(
      col("id"),
      (rand(seed) * cores).cast("int").as("hot"),
      (rand(seed + 1) * 4096).cast("int").as("wide"),
      (rand(seed + 2) * 1000).cast("int").as("t"),
      when(rand(seed + 3) < 0.1, lit(null).cast("double"))
        .otherwise(floor(rand(seed + 4) * 1000).cast("double")).as("v"))
      .write.mode("overwrite").parquet(s"$dir/$table.parquet")
    n
  }

  protected val specs: Seq[WinSpec] = Seq("hot", "wide").flatMap { k =>
    val tieFree = "t:Ascending,id:Ascending"
    Seq(
      WinSpec(s"${k}_rank", k, "t:Ascending", "r:RANK(v,,true)"),
      WinSpec(s"${k}_dense_rank", k, "t:Descending", "r:DENSE_RANK(v,,true)"),
      WinSpec(s"${k}_percent_rank", k, "t:Ascending", "r:PERCENT_RANK(v,,true)"),
      WinSpec(s"${k}_ntile", k, tieFree, "r:N_TILE(v,4,true)"),
      WinSpec(s"${k}_row_number", k, tieFree, "r:ROW_NUMBER(v,,true)"),
      WinSpec(s"${k}_lead", k, tieFree, "r:LEAD(v,2,true)"),
      WinSpec(s"${k}_lag", k, tieFree, "r:LAG(v,1,true)"),
      WinSpec(s"${k}_first_rows_frame", k, tieFree, "r:FIRST(v,,true)",
        frame = "ROW", preceding = Some(-3L), following = Some(3L)),
      WinSpec(s"${k}_last", k, tieFree, "r:LAST(v,,false)"),
      WinSpec(s"${k}_cume_dist", k, "t:Ascending", "r:CUMULATIVE_DISTRIBUTION(v,,true)"),
      WinSpec(s"${k}_accumulate_range_frame", k, "t:Ascending", "r:ACCUMULATE(v,,true)",
        frame = "RANGE", preceding = Some(-5L), following = Some(5L)),
      WinSpec(s"${k}_multi", k, tieFree,
        "r:RANK(v,,true)\nn:ROW_NUMBER(v,,true)\np:LAG(v,1,true)\ns:ACCUMULATE(v,,true)\nc:CUMULATIVE_DISTRIBUTION(v,,true)"))
  } :+ WinSpec("wide_multi_sql", "wide", "t:Ascending,id:Ascending",
    "r:RANK(v,,true)\nn:ROW_NUMBER(v,,true)\np:LAG(v,1,true)\ns:ACCUMULATE(v,,true)\nc:CUMULATIVE_DISTRIBUTION(v,,true)",
    viaSql = true)
}

/** The holistic functions over high-distinct values: running MEDIAN and
  * DISCRETE_PERCENTILE evaluate per row over a growing frame, so their cost
  * per partition grows with its size squared today. A fixed total row count
  * is split into partitions of `size` rows (key `g1`) and of twice that
  * (key `g2`). ACCUMULATE on each layout is the control; one
  * CONTINUOUS_PERCENTILE (whole partition, no frame) runs on `g2`. Values
  * are distinct integers, so interpolated percentiles at quartiles are
  * exact on both engines. */
final class WindowHolistic(n: Long, size: Long) extends WindowWorkload {
  val name = "window_holistic"
  protected val table = "holistic"
  val passesPerSecond = 0.4

  def generate(spark: SparkSession, dir: String, seed: Long): Long = {
    // two seeded affine permutations modulo a prime above n: distinct values
    val p = 1000003L
    val rng = new scala.util.Random(seed)
    val (a, b, c, d) = (1 + rng.nextInt(1000000), rng.nextInt(1000000),
      1 + rng.nextInt(1000000), rng.nextInt(1000000))
    spark.range(0, n, 1, 1).select(
      col("id"),
      (col("id") / size).cast("int").as("g1"),
      (col("id") / (2 * size)).cast("int").as("g2"),
      ((col("id") * a + b) % p).as("o"),
      ((col("id") * c + d) % p).cast("double").as("x"))
      .write.mode("overwrite").parquet(s"$dir/$table.parquet")
    n
  }

  protected val specs: Seq[WinSpec] = Seq("g1", "g2").flatMap { k =>
    Seq(
      WinSpec(s"${k}_median", k, "o:Ascending", "m:MEDIAN(x,,true)"),
      WinSpec(s"${k}_discrete_percentile", k, "o:Ascending", "m:DISCRETE_PERCENTILE(x,0.25,true)"),
      WinSpec(s"${k}_accumulate", k, "o:Ascending", "m:ACCUMULATE(x,,true)"))
  } :+ WinSpec("g2_continuous_percentile", "g2", "", "m:CONTINUOUS_PERCENTILE(x,0.75,true)")

  /** Partition counts of the two layouts, for the per-partition slope. */
  def partitions: Map[String, Long] =
    Map("g1" -> (n + size - 1) / size, "g2" -> (n + 2 * size - 1) / (2 * size))
}

/** The training-data operator families on the shipped sf0.1 corpus, called
  * through SparkEntry.queries. Many construct eagerly (pins), so their time
  * splits between construction and execution. The seed orders the list. */
final class OperatorPipelines(data: String, tiny: Boolean) extends Workload {
  val name = "operator_pipelines"
  val passesPerSecond = 0.2

  // One construction-bound query (q142: 14 eager jobs before the action)
  // and two execution-bound ones. q41, q61 and q159 are construction-bound
  // too, but their DuckDB oracles take 5-30 s per run. An odd query count
  // keeps the per-query median on one query's samples.
  private val names =
    if (tiny) Seq("q21_dedup_ngram_jaccard", "q142_dsir_selection")
    else Seq("q21_dedup_ngram_jaccard", "q23_dedup_simhash", "q142_dsir_selection")

  def generate(spark: SparkSession, dir: String, seed: Long): Long =
    tables(data).values.map(p => spark.read.parquet(p).count()).sum

  def tables(dir: String): Map[String, String] =
    Seq("documents", "embeddings").map(t => t -> s"$data/$t.parquet").toMap

  def queries(spark: SparkSession, dir: String, seed: Long): Seq[Query] = {
    val all = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    new scala.util.Random(seed).shuffle(names).map { q =>
      val fn = all(q)
      Query(q, window = false, oracles(q),
        tr => tr.span("SparkEntry", "construct")(fn(spark, data)))
    }
  }
}
