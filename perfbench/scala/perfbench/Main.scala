package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM: set-up, a cold iteration, warm-up,
  * then steady iterations for the requested seconds. With `--trace 1` each
  * steady iteration is followed by a traced one (spans plus an engine
  * listener), and the per-layer probes run at the end. The raw record is
  * written as JSON to `--out`; `perfbench/run.py` turns it into metrics.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --work DIR --docs DOCUMENTS_PARQUET --out FILE
  *
  * With `--workload all` it instead runs every workload once (set-up and
  * one iteration) and writes nothing: the build uses this to record
  * the class-data-sharing archive the timed runs start from.
  */
object Main {
  /** Iterations run after the cold one and before the measured window. */
  val WarmUp: Map[String, Int] = Map("label_synth" -> 1, "filter_parquet" -> 0, "curate_docs" -> 1)
  /** Repetitions of the input build inside set-up; the median is kept. */
  val PrepReps = 3

  def main(args: Array[String]): Unit = {
    // JVM launch up to main: part of the session start-up cost
    val jvmS = (Clock.nowMs -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = opt("work")

    // the host bracket is context for the per-layer record: traced runs only
    def calibrate(): Seq[Double] = if (trace) Seq(graft.HostCalib.calibrate()) else Nil
    val calibBefore = calibrate()
    val (spark, sessionS) = Workload.timed {
      SparkSession.builder().master("local[4]").appName("perfbench")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .getOrCreate()
    }
    try {
      spark.sparkContext.setLogLevel("ERROR")
      pipeline.Sessions.tune(spark)
      if (workload == "all") train(spark, seed, work, opt("docs"))
      else {
        val record = run(spark, Workload(workload, spark, seed, work, opt("docs")),
          seed, seconds, trace)
        val full = record ++ Map("session_s" -> (jvmS + sessionS),
          "calib_s" -> (calibBefore ++ calibrate()), "peak_rss_mb" -> peakRssMb())
        Files.write(Paths.get(opt("out")), Json.render(full).getBytes(UTF_8))
      }
    } finally spark.stop()
  }

  private def train(spark: SparkSession, seed: Long, work: String, docs: String): Unit =
    Seq("label_synth", "filter_parquet", "curate_docs").foreach { name =>
      val w = Workload(name, spark, seed, s"$work/$name", docs)
      w.prepare()
      w.iterate(0, new Tracer(false))
    }

  private def iteration(w: Workload, i: Int, phase: String, tr: Tracer): Map[String, Any] = {
    tr.iter = i
    val start = Clock.nowMs
    val res =
      try tr.span("bench", s"iteration $i")(w.iterate(i, tr))
      catch { case NonFatal(e) => IterResult(Double.NaN, Map.empty, Seq(e.toString)) }
    Map("i" -> i, "phase" -> phase, "start" -> start, "end" -> Clock.nowMs,
      "wall_s" -> res.wallS, "extra" -> res.extra, "errors" -> res.errors)
  }

  def run(spark: SparkSession, w: Workload, seed: Long, seconds: Double,
      trace: Boolean): Map[String, Any] = {
    val untraced = new Tracer(false)
    val plans = new PlanListener
    if (trace) spark.listenerManager.register(plans)

    val prepS = (0 until (if (trace) 1 else PrepReps)).map(_ => Workload.timed(w.prepare())._2)
    val iters = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    def next(phase: String, tr: Tracer): Map[String, Any] = {
      val it = iteration(w, iters.size, phase, tr)
      iters += it
      it
    }

    def drain(): Unit = org.apache.spark.PerfbenchShim.drainListenerBus(spark.sparkContext)
    if (trace) drain()
    val planMark = plans.mark
    val codegen = new CodegenDelta
    val cold = next("cold", untraced)
    val coldCodegen = codegen.result()
    if (trace) drain()
    val coldPlanningMs = cold("extra").asInstanceOf[Map[String, Double]].get("planning_ms")
      .getOrElse(plans.planningMsSince(planMark).toDouble)

    val warmStart = System.nanoTime()
    (0 until WarmUp(w.name)).foreach(_ => next("warmup", untraced))
    val warmupS = (System.nanoTime() - warmStart) / 1e9

    // A traced run alternates untraced and traced iterations, so JIT warming
    // that goes on through the window biases neither side of the overhead.
    val engine = new EngineListener
    val tr = new Tracer(trace)
    def traced[T](body: => T): T = {
      spark.sparkContext.addSparkListener(engine)
      try body
      finally {
        drain()
        spark.sparkContext.removeSparkListener(engine)
      }
    }
    val t0 = System.nanoTime()
    var n = 0
    while (n < 1 || (System.nanoTime() - t0) / 1e9 < seconds * (if (trace) 2 else 1)) {
      next("measure", untraced)
      if (trace) traced(next("traced", tr))
      n += 1
    }

    val (checks, checksS) = Workload.timed {
      try w.checks()
      catch { case NonFatal(e) => Seq(Check("checks_ran", ok = false, e.toString)) }
    }

    val layers =
      if (!trace) Map.empty[String, Any]
      else {
        tr.iter = -1
        val probes = traced(tr.span("bench", "probes") {
          tr.span("core", "core.scalar_loops")(Kernels.probe(w, seed)) ++ w.probes(tr)
        })
        Map("layers" -> (probes ++ coldCodegen ++ Map("guards.planning_ms" -> coldPlanningMs)),
          "spans" -> tr.records, "engine" -> engine.record)
      }
    Map[String, Any](
      "workload" -> w.name, "seed" -> seed, "trace" -> trace, "seconds" -> seconds,
      "input_rows" -> w.inputRows, "input" -> w.describe,
      "prep_s" -> prepS, "warmup_s" -> warmupS, "iters" -> iters.toSeq, "checks_s" -> checksS,
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail))
    ) ++ layers
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)
}

/** Single-thread timed loops of the scalar kernels over a seeded sample
  * of the workload's own texts, in microseconds per row.
  */
object Kernels {
  @volatile private var sink = 0L

  private def usPerRow(rows: Int)(pass: => Long): Double = {
    sink += pass
    val t0 = System.nanoTime()
    var passes = 0
    while (passes < 2 || System.nanoTime() - t0 < 300000000L) {
      sink += pass
      passes += 1
    }
    (System.nanoTime() - t0) / 1e3 / (passes.toLong * rows)
  }

  def probe(w: Workload, seed: Long): Map[String, Double] = {
    val texts = w.sampleTexts(2000).toArray
    val r = Workload.rng(seed, 31L)
    val ords = Array.fill(64)(1L + r.nextLong(1000000L))
    val genRows = ords.map(o => core.SynthGen.convTurns(o, 1L)).sum
    def each(f: String => Long): Long = { var s = 0L; texts.foreach(t => s += f(t)); s }
    Map(
      "core.gen_us_per_row" -> usPerRow(genRows) {
        ords.map(o => core.SynthGen.genConv(o, 1L).size.toLong).sum
      },
      "core.stats_us_per_row" -> usPerRow(texts.length)(each(t => core.TextStats.stats(t).cp)),
      "core.langid_us_per_row" -> usPerRow(texts.length)(each(t => core.LangId.model.score(t)._1.length)),
      "core.ppl_us_per_row" -> usPerRow(texts.length)(each(t => core.ByteLM.model.perplexity(t).toLong)),
      "core.scrub_us_per_row" -> usPerRow(texts.length)(each(t => core.Scrub(t).length)))
  }
}
