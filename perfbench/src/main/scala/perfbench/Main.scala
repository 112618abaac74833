package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

import graft.CodegenFallbackCounter

/** Measures one workload in one fresh local[cores] session and writes the raw
  * samples as JSON; perfbench/run.py turns them into metrics and checks the
  * outputs against DuckDB.
  *
  * Phases: set-up (session start and input generation, repeated `setupReps`
  * times on fresh sessions, then one warm-up pass that writes every query's
  * output as parquet for the correctness check and asserts that window
  * queries still plan a Window), then timed passes. Every timed action is a
  * `noop` write, which evaluates every output column. With tracing on,
  * passes alternate untraced and traced, so the tracing overhead is read
  * from one process.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --out DIR --root DIR [--tiny]
  */
object Main {
  private val setupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val tiny = args.contains("--tiny")
    val workloadName = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val out = opts("out")
    val cores = Runtime.getRuntime.availableProcessors()
    val workload = Workload(workloadName, tiny, cores, opts("root"))
    val dataDir = s"$out/data"
    val resultDir = s"$out/results"
    val tracer = new Tracer
    val record = mutable.LinkedHashMap.empty[String, Any]

    def session(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$out/spark-local")
        .config("spark.sql.warehouse.dir", s"$out/warehouse")
        // hold every query's generated classes across passes
        .config("spark.sql.codegen.cache.maxEntries", "4000")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    // ---- set-up ---------------------------------------------------------
    CodegenFallbackCounter.install()
    val reps = mutable.ArrayBuffer.empty[Map[String, Double]]
    var spark: SparkSession = null
    var inputRows = 0L
    for (_ <- 0 until setupReps) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session()
      val t1 = System.nanoTime()
      inputRows = workload.generate(spark, dataDir, seed)
      val t2 = System.nanoTime()
      reps += Map("session_s" -> (t1 - t0) / 1e9, "data_s" -> (t2 - t1) / 1e9)
    }
    CodegenFallbackCounter.reset()
    val sc = spark.sparkContext
    val plans = new PlanRecorder
    spark.listenerManager.register(plans)
    val queries = workload.queries(spark, dataDir, seed)

    val warm0 = System.nanoTime()
    val failures = mutable.LinkedHashMap.empty[String, String]
    for ((q, i) <- queries.zipWithIndex) {
      sc.setLocalProperty(Recorder.Qid, i.toString)
      try {
        q.construct(tracer).write.mode("overwrite").parquet(s"$resultDir/${q.name}")
        PerfbenchBus.drain(sc)
        // the count-pruning guard: a window query whose executed plan lost
        // its Window did not compute what it claims to
        if (q.window && !plans.take().exists(qe => Plans.hasWindow(qe.executedPlan)))
          failures(q.name) = "executed plan has no Window node"
      } catch {
        case e: Throwable => failures(q.name) = s"${e.getClass.getSimpleName}: ${e.getMessage}"
      }
      plans.take()
      spark.catalog.clearCache()
    }
    val warmupS = (System.nanoTime() - warm0) / 1e9
    spark.listenerManager.unregister(plans)

    // ---- timed passes ---------------------------------------------------
    val recorder = new Recorder
    val timed = queries.zipWithIndex.filterNot { case (q, _) => failures.contains(q.name) }
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val nPasses = passCount(seconds, workload.passesPerSecond, traced)
    val procStart = ProcStat.sample()
    for (p <- 0 until nPasses) {
      val tracePass = traced && p % 2 == 1
      tracer.enabled = tracePass
      if (tracePass) { sc.addSparkListener(recorder); spark.listenerManager.register(plans) }
      val samples = mutable.ArrayBuffer.empty[Map[String, Any]]
      val pass0 = System.nanoTime()
      for ((q, i) <- timed) {
        val qid = p * 1000 + i
        tracer.trace = qid
        sc.setLocalProperty(Recorder.Qid, qid.toString)
        sc.setLocalProperty(Recorder.Phase, "construct")
        val startMs = tracer.nowMs
        val t0 = System.nanoTime()
        try {
          val df = tracer.span("construct", "query")(q.construct(tracer))
          sc.setLocalProperty(Recorder.Phase, "exec")
          val actionMs = tracer.nowMs
          df.write.format("noop").mode("overwrite").save()
          val t1 = System.nanoTime()
          val endMs = tracer.nowMs
          samples += Map("name" -> q.name, "qid" -> qid, "s" -> (t1 - t0) / 1e9)
          if (tracePass) {
            tracer.add("query", "", startMs, endMs)
            PerfbenchBus.drain(sc)
            val qe = plans.take().lastOption
            val phases = qe.map(_.tracker.phases).getOrElse(Map.empty)
            val planEnd = phases.values.map(_.endTimeMs.toDouble).foldLeft(actionMs)(math.max)
            val planStart = phases.values.map(_.startTimeMs.toDouble).foldLeft(planEnd)(math.min)
            tracer.add("plan", "query", math.max(planStart, actionMs), planEnd)
            tracer.add("exec", "query", planEnd, endMs)
            samples(samples.size - 1) = samples.last +
              ("phases" -> phases.map { case (k, v) => k -> v.durationMs / 1e3 })
            if (q.window && !qe.exists(e => Plans.hasWindow(e.executedPlan)))
              failures(q.name) = "timed plan has no Window node"
          }
        } catch {
          case e: Throwable => failures(q.name) = s"${e.getClass.getSimpleName}: ${e.getMessage}"
        }
        plans.take()
        spark.catalog.clearCache()
      }
      val passS = (System.nanoTime() - pass0) / 1e9
      if (tracePass) {
        PerfbenchBus.drain(sc)
        sc.removeSparkListener(recorder)
        spark.listenerManager.unregister(plans)
      }
      passes += Map("traced" -> tracePass, "wall_s" -> passS, "queries" -> samples.toSeq)
    }
    val procEnd = ProcStat.sample()

    record ++= Seq(
      "workload" -> workload.name,
      "seed" -> seed,
      "tiny" -> tiny,
      "cores" -> cores,
      "input_rows" -> inputRows,
      "env" -> Map(
        "master" -> sc.master,
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "conf" -> Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
          "spark.sql.adaptive.coalescePartitions.enabled", "spark.sql.adaptive.skewJoin.enabled",
          "spark.sql.codegen.wholeStage")
          .map(k => k -> scala.util.Try(spark.conf.get(k)).getOrElse("")).toMap),
      "setup" -> Map("reps" -> reps.toSeq, "warmup_s" -> warmupS),
      "queries" -> queries.map(q => Map("name" -> q.name, "window" -> q.window,
        "oracle" -> q.oracle, "result" -> s"$resultDir/${q.name}")),
      "tables" -> workload.tables(dataDir),
      "failures" -> failures.toMap,
      "passes" -> passes.toSeq,
      "proc" -> Map("start" -> procStart, "end" -> procEnd, "vmhwm_kb" -> ProcStat.vmHwmKb()),
      "codegen_fallbacks" -> CodegenFallbackCounter.count)
    workload match {
      case h: WindowHolistic => record += "partitions" -> h.partitions
      case _ =>
    }
    if (traced) record ++= Seq(
      "spans" -> tracer.spans.toSeq.map(s =>
        Map("trace" -> s.trace, "name" -> s.name, "parent" -> s.parent,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs)),
      "stages" -> recorder.stages.toSeq.map(s =>
        Map("qid" -> s.qid, "phase" -> s.phase, "stage" -> s.stageId,
          "start_ms" -> s.submitMs, "end_ms" -> s.completeMs, "task_ms" -> s.taskMs)),
      "counters" -> recorder.counters.toSeq.map { case ((qid, phase), c) =>
        Map("qid" -> qid, "phase" -> phase, "jobs" -> c.jobs, "stages" -> c.stages,
          "tasks" -> c.tasks, "task_ms" -> c.taskMs, "cpu_ns" -> c.cpuNs, "gc_ms" -> c.gcMs,
          "shuffle_write" -> c.shuffleWrite, "shuffle_read" -> c.shuffleRead,
          "spill" -> c.spill, "peak_mem" -> c.peakMem, "in_rows" -> c.inRows,
          "in_bytes" -> c.inBytes)
      })
    spark.stop()
    Files.write(Paths.get(s"$out/raw.json"), Json(record).getBytes(StandardCharsets.UTF_8))
  }

  /** A fixed pass count for the requested run time, so the number of
    * samples (and with it which percentile the tail reports) does not
    * depend on how fast the code under test is. A traced run needs at
    * least one untraced and one traced pass. */
  def passCount(seconds: Double, perSecond: Double, traced: Boolean): Int =
    math.max(if (traced) 2 else 1, math.round(seconds * perSecond).toInt)
}

/** Process and machine counters from /proc, for the contention telemetry. */
object ProcStat {
  private def read(path: String): String =
    try new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)
    catch { case _: Throwable => "" }

  /** Machine busy jiffies (all CPUs), this process's jiffies, and wall ms. */
  def sample(): Map[String, Any] = {
    val cpu = read("/proc/stat").linesIterator.find(_.startsWith("cpu "))
      .map(_.trim.split("\\s+").drop(1).map(_.toLong)).getOrElse(Array.empty[Long])
    // user nice system idle iowait irq softirq steal: busy = all but idle and iowait
    val busy = cpu.zipWithIndex.collect { case (v, i) if i != 3 && i != 4 && i < 8 => v }.sum
    val self = read("/proc/self/stat").split("\\) ").lastOption.map(_.split(" "))
      .map(f => f(11).toLong + f(12).toLong).getOrElse(0L)
    Map("machine_busy_jiffies" -> busy, "self_jiffies" -> self,
      "wall_ms" -> System.currentTimeMillis())
  }

  def vmHwmKb(): Long = read("/proc/self/status").linesIterator
    .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
}

/** Minimal JSON writer for the raw record. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${quote(k.toString)}:${apply(x)}" }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
