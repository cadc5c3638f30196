package graft

import java.io.File
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import core.{GenConvFlat, Turn}
import guards.QualityPipeline
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import pipeline.{Manifest, NioLocalFileSystem, QualityFilterJob, SynthStore, TranscriptStore}

/** The planted mega-conversation `SynthGen.genConv(0, 600000)` (16,666
  * turns) plus generator ordinals 1–60, as one store.
  */
object MegaStore extends TranscriptStore {
  def read(spark: SparkSession): Dataset[Turn] = {
    import spark.implicits._
    spark.range(0L, 61L).mapPartitions(new GenConvFlat(600000L))
      .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
      .as(Encoders.product[Turn])
  }
}

/** Suite (f) of SURVEY.md §6.3: idempotent partition-granular resume.
  * Simulates a run killed after k partition commits by tampering a
  * completed run's on-disk state (manifest minus some ids + their output
  * dirs deleted), then asserts the re-run processes exactly the missing
  * partitions and the final output is identical to an uninterrupted run.
  */
class ResumeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val Target = 2000L

  private def deleteRec(p: Path): Unit = {
    if (Files.isDirectory(p))
      Files.list(p).forEach(deleteRec(_))
    Files.deleteIfExists(p)
  }

  private def keptRows(dir: String): Set[String] =
    spark.read.parquet(s"$dir/kept")
      .select(concat_ws("§", col("conv_id"), col("turn_idx"), col("scrubbed_text"),
        col("part_id")))
      .collect().map(_.getString(0)).toSet

  test("full run, kill-after-k-commits, resumed run: identical output, no reprocessing") {
    val dirA = Files.createTempDirectory("graft_resume_a").toString
    val dirB = Files.createTempDirectory("graft_resume_b").toString
    try {
      val store = SynthStore(Target)
      val resA = QualityFilterJob.run(spark, store, dirA, "runA")
      assert(resA.turnsIn > 0 && resA.turnsKept > 0)
      assert(resA.processedPartitions.nonEmpty && resA.skippedPartitions.isEmpty)

      // run B fully, then tamper: pretend the last half never committed
      val resB1 = QualityFilterJob.run(spark, store, dirB, "runB")
      val all = resB1.processedPartitions
      val (committed, lost) = all.splitAt(all.size / 2)
      val m = Manifest.read(dirB).get
      Manifest.write(dirB, m.copy(committed = committed.toSet))
      lost.foreach { pid =>
        deleteRec(java.nio.file.Paths.get(s"$dirB/kept/part_id=$pid"))
        deleteRec(java.nio.file.Paths.get(s"$dirB/metrics/partition_id=$pid"))
      }

      val resB2 = QualityFilterJob.run(spark, store, dirB, "runB2")
      assert(resB2.processedPartitions.toSet == lost.toSet,
        s"reprocessed ${resB2.processedPartitions} expected $lost")
      assert(resB2.skippedPartitions.toSet == committed.toSet)
      assert(keptRows(dirB) == keptRows(dirA), "resumed output differs from uninterrupted run")

      // idempotence: a third run with everything committed is a no-op
      val resB3 = QualityFilterJob.run(spark, store, dirB, "runB3")
      assert(resB3.processedPartitions.isEmpty)
      assert(keptRows(dirB) == keptRows(dirA))
    } finally {
      deleteRec(java.nio.file.Paths.get(dirA))
      deleteRec(java.nio.file.Paths.get(dirB))
    }
  }

  test("metrics table: per-(partition, rule) rows plus _total per partition") {
    val dir = Files.createTempDirectory("graft_metrics").toString
    try {
      QualityFilterJob.run(spark, SynthStore(Target), dir, "runM")
      val m = spark.read.parquet(s"$dir/metrics")
      val cols = m.columns.toSet
      assert(QualityFilterJob.metricsSchemaCols.toSet.subsetOf(cols), cols.toString)
      val parts = m.select("partition_id").distinct().count()
      val totals = m.filter(col("rule") === "_total").count()
      assert(totals == parts, s"$totals _total rows for $parts partitions")
      // hits on _total == dropped turns
      val agg = m.filter(col("rule") === "_total")
        .agg(sum("turns_in"), sum("turns_kept"), sum("hits")).head()
      assert(agg.getLong(0) - agg.getLong(1) == agg.getLong(2))
    } finally deleteRec(java.nio.file.Paths.get(dir))
  }

  test("zero-work run on a fresh dir still creates a readable empty metrics table") {
    // every partition already committed upstream ⇒ the run processes zero
    // rows; downstream readers must still find $dir/metrics (empty, typed)
    val dir = Files.createTempDirectory("graft_metrics_empty").toString
    try {
      Manifest.write(dir, Manifest("pre", "synth@seed42", "rulespec-v1",
        (0 until QualityFilterJob.LogicalPartitions).toSet))
      val res = QualityFilterJob.run(spark, SynthStore(Target), dir, "runE")
      assert(res.processedPartitions.isEmpty && res.turnsIn == 0)
      val m = spark.read.parquet(s"$dir/metrics")
      assert(m.count() == 0)
      assert(QualityFilterJob.metricsSchemaCols.toSet.subsetOf(m.columns.toSet))
    } finally deleteRec(java.nio.file.Paths.get(dir))
  }

  test("kept output is clustered by part_id and the mega-conversation is still spread") {
    val dir = Files.createTempDirectory("graft_layout").toString
    try {
      QualityFilterJob.run(spark, MegaStore, dir, "runL")
      val partDirs = new File(s"$dir/kept").listFiles().filter(_.getName.startsWith("part_id="))
      def files(d: File): Int = d.listFiles().count(_.getName.startsWith("part-"))
      val nFiles = partDirs.map(files).sum
      val shuffle = spark.conf.get("spark.sql.shuffle.partitions").toInt
      // one file per directory, plus at most one per range boundary
      assert(nFiles <= partDirs.size + shuffle - 1,
        s"$nFiles kept files in ${partDirs.size} part_id dirs, $shuffle shuffle partitions")

      val megaPart = guards.expr.Scorers.convPartId(
        org.apache.spark.unsafe.types.UTF8String.fromString("c00000000"),
        QualityFilterJob.LogicalPartitions)
      val megaFiles = files(new File(s"$dir/kept/part_id=$megaPart"))
      assert(megaFiles >= 2, s"mega-conversation written by $megaFiles task(s)")

      def rows(df: DataFrame): Seq[(String, Int, String)] =
        df.select("conv_id", "turn_idx", "scrubbed_text").collect().toSeq
          .map(r => (r.getString(0), r.getInt(1), r.getString(2))).sortBy(r => (r._1, r._2))
      val want = rows(QualityPipeline.score(MegaStore.read(spark).toDF()).filter(col("keep")))
      assert(want.nonEmpty)
      assert(rows(spark.read.parquet(s"$dir/kept")) == want)
    } finally deleteRec(java.nio.file.Paths.get(dir))
  }

  test("NioLocalFileSystem leaves the permissions the stock local file system leaves") {
    // the same create/mkdirs/setPermission calls through each file system;
    // every file and directory must end with the same mode
    def modes(fs: LocalFileSystem): Map[String, String] = {
      val root = Files.createTempDirectory("graft_fsperm")
      try {
        fs.initialize(java.net.URI.create("file:///"), new Configuration())
        def at(rel: String) = new HPath(root.toUri.toString, rel)
        fs.mkdirs(at("a/b"))
        fs.create(at("a/b/default.bin")).close()
        fs.create(at("a/c/mode640.bin"), new FsPermission("640"), true, 4096,
          1.toShort, 1L << 20, null).close()
        fs.setPermission(at("a"), new FsPermission("750"))
        Files.walk(root).iterator().asScala.filter(_ != root).map { p =>
          root.relativize(p).toString ->
            java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
        }.toMap
      } finally deleteRec(root)
    }
    val stock = modes(new LocalFileSystem())
    assert(stock.keySet == Set("a", "a/b", "a/b/default.bin", "a/b/.default.bin.crc",
      "a/c", "a/c/mode640.bin", "a/c/.mode640.bin.crc"))
    assert(stock("a") == "rwxr-x---" && stock("a/c/mode640.bin") == "rw-r-----")
    assert(modes(new NioLocalFileSystem) == stock)
  }

  test("manifest round-trips") {
    val m = Manifest("r1", "snap", "sha", Set(3, 1, 2))
    assert(Manifest.parse(Manifest.render(m)) == m)
    assert(Manifest.parse(Manifest.render(m.copy(committed = Set.empty))).committed.isEmpty)
  }
}
