package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import core.{GenConvFlat, OracleEvaluator, ScoredTurn, SynthGen}
import guards.QualityPipeline
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import pipeline.{ParquetStore, QualityFilterJob}

/** Result of one forced iteration: its wall time, named side timings,
  * and the invariants it broke (empty when it is correct).
  */
final case class IterResult(wallS: Double, extra: Map[String, Double], errors: Seq[String])

/** A correctness check run once per run, outside the timed iterations. */
final case class Check(name: String, ok: Boolean, detail: String)

trait Workload {
  def name: String
  /** Rows the engine reads per iteration: turns, or documents. */
  def inputRows: Long
  def describe: Map[String, Any]
  /** Builds the inputs. Repeatable: each call rebuilds them from scratch. */
  def prepare(): Unit
  def iterate(i: Int, tr: Tracer): IterResult
  def checks(): Seq[Check]
  /** A seeded sample of the workload's own texts, for the scalar loops. */
  def sampleTexts(n: Int): Seq[String]
  /** Per-layer probes of the traced run, each a forced, timed call. */
  def probes(tr: Tracer): Map[String, Double]
}

object Workload {
  /** Turn counts of the two transcript workloads. The planted
    * mega-conversation of `filter_parquet` is `genConv(0, MegaTarget)`
    * and the seed's window adds nine times its turns, so it holds 10% of
    * the corpus for every seed.
    */
  final val LabelTurns = 150000L
  final val MegaTarget = 600000L
  final val CurateRows = 1013
  final val CurateSha = "0368e0256c75f1eab6e5f626868e374bdbe07dae4972c5ad5c96442042b09f77"

  def apply(name: String, spark: SparkSession, seed: Long, work: String,
      docs: String): Workload = name match {
    case "label_synth" => new LabelSynth(spark, seed, new File(docs).getParent)
    case "filter_parquet" => new FilterParquet(spark, seed, work)
    case "curate_docs" => new CurateDocs(spark, seed, work, docs)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt)

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** The timed part of an iteration, as one span the analysis can find. */
  def measured[T](tr: Tracer)(body: => T): (T, Double) =
    timed(tr.span("bench", "measured")(body))

  /** A seeded ordinal window `[a, b)` starting at ≥ 1 (the mega
    * conversation is ordinal 0) and extended, one conversation at a time,
    * until it holds at least `turns` turns. Returns (a, b, turns held).
    */
  def ordinalWindow(seed: Long, salt: Long, turns: Long): (Long, Long, Long) = {
    val a = 1L + rng(seed, salt).nextLong(1000000L)
    var b = a
    var n = 0L
    while (n < turns) { n += SynthGen.convTurns(b, turns); b += 1 }
    (a, b, n)
  }

  val TurnCols: Seq[String] = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts")

  /** The generator over `[a, b)`, projected to the six Turn columns. */
  def genTurns(spark: SparkSession, a: Long, b: Long, target: Long): DataFrame = {
    import spark.implicits._
    spark.range(a, b).mapPartitions(new GenConvFlat(target)).select(TurnCols.map(col): _*)
  }

  /** Oracle labels of the conversations with these ordinals. */
  def oracle(ordinals: Seq[Long], target: Long): Seq[ScoredTurn] =
    ordinals.flatMap(o => OracleEvaluator.evaluate(SynthGen.genConv(o, target).map(_.toTurn)))

  /** Kept-turn count of the oracle over `[a, b)`, spread over Spark tasks;
    * each task runs the Spark-free evaluator on whole conversations.
    */
  def oracleKept(spark: SparkSession, a: Long, b: Long, target: Long): Long = {
    import spark.implicits._
    spark.range(a, b).mapPartitions { it =>
      Iterator(it.map { o =>
        OracleEvaluator.evaluate(SynthGen.genConv(o, target).map(_.toTurn)).count(_.keep).toLong
      }.sum)
    }.collect().sum
  }

  type Key = (String, Int)

  /** Compares scored rows with oracle labels on keep, rule_hits and
    * scrubbed_text. Returns the mismatch count and a description of the
    * first mismatch.
    */
  def compareScored(got: Seq[Row], want: Seq[ScoredTurn]): (Int, String) = {
    val g: Map[Key, (Boolean, Seq[String], String)] = got.map { r =>
      (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx")) ->
        ((r.getAs[Boolean]("keep"),
          r.getAs[scala.collection.Seq[String]]("rule_hits").toSeq,
          r.getAs[String]("scrubbed_text")))
    }.toMap
    val w: Map[Key, (Boolean, Seq[String], String)] = want.map { t =>
      (t.conv_id, t.turn_idx) -> ((t.keep, t.rule_hits, t.scrubbed_text))
    }.toMap
    diff(g, w)
  }

  def diff[V](got: Map[Key, V], want: Map[Key, V]): (Int, String) = {
    val keys = (got.keySet ++ want.keySet).toSeq.sorted
    val bad = keys.filter(k => got.get(k) != want.get(k))
    (bad.size, bad.headOption.map(k =>
      s"$k: got ${got.get(k)} want ${want.get(k)}").getOrElse(""))
  }

  /** Every file under `dir`, as relative path → size. */
  def listing(dir: File): Map[String, Long] = {
    def walk(f: File, rel: String): Seq[(String, Long)] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten
        .flatMap(c => walk(c, if (rel.isEmpty) c.getName else s"$rel/${c.getName}"))
      else Seq(rel -> f.length())
    walk(dir, "").toMap
  }

  def dataFiles(l: Map[String, Long]): Map[String, Long] =
    l.filter { case (p, _) => p.endsWith(".parquet") }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  /** Time of the second of two forced calls: the first compiles. */
  def warmTimed(tr: Tracer, layer: String, name: String)(body: => Unit): Double =
    (0 until 2).map(_ => tr.span(layer, name)(timed(body)._2)).last

  /** The single-operator driver queries over the documents table in `dir`. */
  def operatorProbes(spark: SparkSession, tr: Tracer, dir: String): Map[String, Double] =
    Seq("q_quality", "q_dedup_lines", "q_dedup_spans", "q_dedup_drop",
      "q_decontaminate", "q_mix_plan", "q_chunks").map { q =>
      s"operators.${q}_s" -> warmTimed(tr, "operators", s"graft.SparkEntry.$q") {
        graft.SparkEntry.queries(q)(spark, dir).collect()
      }
    }.toMap
}

import Workload._

/** The in-memory generator path: zero shuffle, scalar kernels dominate.
  * Its traced run also probes the operators layer over the documents
  * table in `docsDir`, so that layer is measured without `curate_docs`.
  */
final class LabelSynth(spark: SparkSession, seed: Long, docsDir: String) extends Workload {
  val name = "label_synth"
  private val (a, b, turns) = ordinalWindow(seed, 1L, LabelTurns)
  private def turnsDf: DataFrame = genTurns(spark, a, b, LabelTurns)
  private var keptRef = -1L

  def inputRows: Long = turns
  def describe: Map[String, Any] = Map("ordinals" -> Seq(a, b), "turns" -> turns)
  def prepare(): Unit = turnsDf.schema

  def iterate(i: Int, tr: Tracer): IterResult = {
    val ((kept, planMs), wall) = measured(tr) {
      val q = tr.span("guards", "guards.QualityPipeline.select(score).filter(keep)") {
        QualityPipeline.select(QualityPipeline.score(turnsDf)).filter(col("keep"))
      }
      val n = tr.span("spark", "spark.toRdd.count")(q.queryExecution.toRdd.count())
      (n, PlanListener.planningMs(q.queryExecution))
    }
    if (keptRef < 0) keptRef = kept
    val errs = if (kept != keptRef) Seq(s"kept $kept != first iteration's $keptRef") else Nil
    IterResult(wall, Map("kept" -> kept.toDouble, "planning_ms" -> planMs.toDouble), errs)
  }

  def checks(): Seq[Check] = {
    val want = oracleKept(spark, a, b, LabelTurns)
    val total = Check("kept_count_equals_oracle", want == keptRef,
      s"pipeline kept $keptRef, oracle kept $want")
    val r = rng(seed, 2L)
    val samples = (0 until 3).map { _ =>
      val s = a + r.nextLong(math.max(1L, b - a - 8))
      val got = QualityPipeline.select(QualityPipeline.score(genTurns(spark, s, s + 8, LabelTurns)))
        .collect().toSeq
      val (bad, first) = compareScored(got, oracle(s until s + 8, LabelTurns))
      Check(s"sample_convs_$s-${s + 8}_match_oracle", bad == 0 && got.nonEmpty,
        s"${got.size} turns, $bad mismatches $first")
    }
    total +: samples
  }

  def sampleTexts(n: Int): Seq[String] = {
    val r = rng(seed, 3L)
    Iterator.continually(a + r.nextLong(b - a))
      .flatMap(o => SynthGen.genConv(o, LabelTurns).map(_.text)).filter(_ != null)
      .take(n).toSeq
  }

  def probes(tr: Tracer): Map[String, Double] = {
    val windowS = warmTimed(tr, "guards", "guards.QualityPipeline.withWindowClustered") {
      QualityPipeline.withWindowClustered(spark, turnsDf).queryExecution.toRdd.count()
    }
    val windowed = tr.span("spark", "spark.localCheckpoint") {
      QualityPipeline.withWindowClustered(spark, turnsDf).localCheckpoint(true)
    }
    val scoreS = warmTimed(tr, "guards", "guards.QualityPipeline.scorePostWindow") {
      QualityPipeline.scorePostWindow(windowed).queryExecution.toRdd.count()
    }
    Map("guards.window_s" -> windowS, "guards.score_s" -> scoreS) ++
      operatorProbes(spark, tr, docsDir)
  }
}

/** The product path: parquet scan, window exchange, salted repartition,
  * score, partitioned write, metrics and manifest, then a no-op resume.
  */
final class FilterParquet(spark: SparkSession, seed: Long, work: String) extends Workload {
  val name = "filter_parquet"
  private val megaTurns = SynthGen.megaTurns(MegaTarget)
  private val (a, b, windowTurns) = ordinalWindow(seed, 11L, 9L * megaTurns)
  private val corpus = s"$work/corpus"
  private val outRoot = s"$work/out"
  private var keptRef = -1L
  private var lastOut = ""

  def inputRows: Long = windowTurns + megaTurns
  def describe: Map[String, Any] = Map("ordinals" -> Seq(a, b), "turns" -> inputRows,
    "mega_turns" -> megaTurns, "mega_share" -> megaTurns.toDouble / inputRows,
    "parquet_bytes" -> dataFiles(listing(new File(corpus))).values.sum)

  private def corpusDf: DataFrame =
    genTurns(spark, a, b, MegaTarget).union(genTurns(spark, 0L, 1L, MegaTarget))

  def prepare(): Unit = corpusDf.write.mode(SaveMode.Overwrite).parquet(corpus)

  def iterate(i: Int, tr: Tracer): IterResult = {
    val out = s"$outRoot/run-$i"
    val (res, wall) = measured(tr)(tr.span("pipeline", "pipeline.QualityFilterJob.run") {
      QualityFilterJob.run(spark, ParquetStore(corpus), out, s"run-$i")
    })
    val kept = new File(s"$out/kept")
    val before = listing(kept)
    val (resume, resumeS) = timed(tr.span("pipeline", "pipeline.QualityFilterJob.run(resume)") {
      QualityFilterJob.run(spark, ParquetStore(corpus), out, s"run-$i-resume")
    })
    if (keptRef < 0) keptRef = res.turnsKept
    val errs = Seq(
      (res.turnsIn != inputRows) -> s"turnsIn ${res.turnsIn} != corpus $inputRows",
      (res.turnsKept != keptRef) -> s"turnsKept ${res.turnsKept} != first iteration's $keptRef",
      resume.processedPartitions.nonEmpty ->
        s"resume processed ${resume.processedPartitions.size} partitions",
      (listing(kept) != before) -> "resume changed kept/"
    ).collect { case (true, msg) => msg }
    val written = dataFiles(listing(kept)) ++ dataFiles(listing(new File(s"$out/metrics")))
    if (lastOut.nonEmpty) deleteTree(new File(lastOut))
    lastOut = out
    IterResult(wall, Map("resume_s" -> resumeS, "kept" -> res.turnsKept.toDouble,
      "bytes_written" -> written.values.sum.toDouble), errs)
  }

  private val pick = {
    val r = rng(seed, 12L)
    (0 until 2).flatMap { _ =>
      val s = a + r.nextLong(math.max(1L, b - a - 6))
      s until s + 6
    }.distinct :+ 0L
  }
  private def convId(o: Long): String = f"c$o%08d"

  def checks(): Seq[Check] = {
    import spark.implicits._
    val expect = oracle(pick, MegaTarget)
    val want = oracleKept(spark, a, b, MegaTarget) +
      expect.count(t => t.keep && t.conv_id == convId(0L))
    val kept = Check("kept_count_equals_oracle", want == keptRef,
      s"job kept $keptRef, oracle kept $want")

    // explicit schemas and partition paths: no schema inference and no
    // discovery over all 256 partition directories
    val totals = spark.read.schema("run_id string, rule string, hits long, turns_in long, " +
        "turns_kept long, bytes_in long, wall_ms long, partition_id int")
      .parquet(s"$lastOut/metrics").filter(col("rule") === "_total")
      .agg(sum("turns_in"), sum("turns_kept")).as[(Long, Long)].head()
    val metrics = Check("metrics_totals_equal_result",
      totals == ((inputRows, keptRef)), s"_total rows sum to $totals, result ($inputRows, $keptRef)")

    val ids = pick.map(convId)
    val parts = ids.map(id => guards.expr.Scorers.convPartId(
      org.apache.spark.unsafe.types.UTF8String.fromString(id),
      QualityFilterJob.LogicalPartitions)).distinct
    val keptRows = spark.read.schema("conv_id string, turn_idx int, scrubbed_text string")
      .parquet(parts.map(p => s"$lastOut/kept/part_id=$p"): _*)
      .filter(col("conv_id").isin(ids: _*)).collect().toSeq
    val (badKept, firstKept) = diff(
      keptRows.map(r => (r.getString(0), r.getInt(1)) -> r.getString(2)).toMap,
      expect.filter(_.keep).map(t => (t.conv_id, t.turn_idx) -> t.scrubbed_text).toMap)
    val keptSample = Check("sample_kept_rows_match_oracle", badKept == 0 && keptRows.nonEmpty,
      s"${keptRows.size} kept turns of ${ids.size} convs incl. c00000000, $badKept mismatches $firstKept")

    val scored = QualityPipeline.select(QualityPipeline.score(
      ParquetStore(corpus).read(spark).toDF().filter(col("conv_id").isin(ids: _*))))
      .collect().toSeq
    val (badScored, firstScored) = compareScored(scored, expect)
    val windowSample = Check("sample_window_path_matches_oracle", badScored == 0 && scored.nonEmpty,
      s"${scored.size} turns, $badScored mismatches $firstScored")
    Seq(kept, metrics, keptSample, windowSample)
  }

  /** File counts and bytes of the last committed output dir. */
  def outputShape: Map[String, Double] = {
    val kept = dataFiles(listing(new File(s"$lastOut/kept")))
    val metrics = dataFiles(listing(new File(s"$lastOut/metrics")))
    Map("pipeline.kept_files" -> kept.size.toDouble,
      "pipeline.metrics_files" -> metrics.size.toDouble,
      "pipeline.bytes_written" -> (kept.values.sum + metrics.values.sum).toDouble)
  }

  def sampleTexts(n: Int): Seq[String] = {
    val r = rng(seed, 13L)
    (SynthGen.genConv(0L, MegaTarget).take(n / 10).map(_.text) ++
      Iterator.continually(a + r.nextLong(b - a))
        .flatMap(o => SynthGen.genConv(o, MegaTarget).map(_.text)).take(n - n / 10))
      .filter(_ != null)
  }

  def probes(tr: Tracer): Map[String, Double] = {
    def turns = ParquetStore(corpus).read(spark).toDF()
    val scanS = warmTimed(tr, "pipeline", "pipeline.ParquetStore.read") {
      ParquetStore(corpus).read(spark).queryExecution.toRdd.count()
    }
    val windowS = warmTimed(tr, "guards", "guards.QualityPipeline.withWindow") {
      QualityPipeline.withWindow(turns).queryExecution.toRdd.count()
    }
    val windowed = tr.span("spark", "spark.localCheckpoint") {
      QualityPipeline.withWindow(turns).localCheckpoint(true)
    }
    val scoreS = warmTimed(tr, "guards", "guards.QualityPipeline.scorePostWindow") {
      QualityPipeline.scorePostWindow(windowed).queryExecution.toRdd.count()
    }
    Map("pipeline.scan_s" -> scanS, "guards.window_s" -> windowS,
      "guards.score_s" -> scoreS) ++ outputShape
  }
}

/** The operators layer: dedup, decontamination, mixing and packing over
  * a seed-permuted copy of the documents table.
  */
final class CurateDocs(spark: SparkSession, seed: Long, work: String, docs: String)
    extends Workload {
  val name = "curate_docs"
  private val dir = s"$work/docs"
  private val files = 1 + rng(seed, 21L).nextInt(6)

  def inputRows: Long = 5000L
  def describe: Map[String, Any] = Map("documents" -> inputRows, "files" -> files)

  def prepare(): Unit =
    spark.read.parquet(docs)
      .withColumn("_k", xxhash64(lit(seed), col("doc_id")))
      .repartitionByRange(files, col("_k")).sortWithinPartitions("_k").drop("_k")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")

  def iterate(i: Int, tr: Tracer): IterResult = {
    val (rows, wall) = measured(tr)(tr.span("operators", "graft.SparkEntry.q_curate_e2e") {
      graft.SparkEntry.queries("q_curate_e2e")(spark, dir).collect()
    })
    val sha = CurateDocs.sha(rows.toSeq)
    val errs = Seq(
      (rows.length != CurateRows) -> s"${rows.length} rows, want $CurateRows",
      (sha != CurateSha) -> s"rows hash $sha, want $CurateSha"
    ).collect { case (true, msg) => msg }
    IterResult(wall, Map("rows" -> rows.length.toDouble), errs)
  }

  def checks(): Seq[Check] = Nil

  def sampleTexts(n: Int): Seq[String] =
    spark.read.parquet(s"$dir/documents.parquet").select("text")
      .filter(col("text").isNotNull)
      .orderBy(xxhash64(lit(seed + 1), col("text"))).limit(n)
      .collect().map(_.getString(0)).toSeq

  def probes(tr: Tracer): Map[String, Double] = operatorProbes(spark, tr, dir)
}

object CurateDocs {
  /** SHA-256 of the rows in doc_id order, one tab-separated line each. */
  def sha(rows: Seq[Row]): String = {
    val lines = rows.map(r => (r.getLong(0), r.mkString("\t"))).sortBy(_._1).map(_._2)
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(lines.mkString("\n").getBytes(UTF_8)).map(b => f"$b%02x").mkString
  }
}
