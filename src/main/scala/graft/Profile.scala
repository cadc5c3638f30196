package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{AnalysisException, DataFrame, GraftSqlShim, SparkSession}
import org.apache.spark.sql.functions._
import pipeline.Sessions
import scala.jdk.CollectionConverters._

/** Per-query profile: for each named `SparkEntry.queries` entry, one JSON
  * line with the cold and warm wall times (forced with
  * `queryExecution.toRdd.count()`, as in Bench), the cold run's jobs,
  * stages and tasks, the last warm run's per-job seconds and descriptions,
  * the row count and an order-insensitive content hash, bracketed by
  * HostCalib calibration.
  *
  * runMain graft.Profile <query>...
  * env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 4),
  *      SPARK_GRAFT_REPS (warm runs after the cold one, default 3)
  */
object Profile {
  final case class Job(sec: Double, description: String)

  /** One forced run: wall seconds, jobs started, completed stages and their
    * tasks, and every finished job in id order.
    */
  final case class Run(sec: Double, jobs: Int, stages: Int, tasks: Long, perJob: Seq[Job])

  final case class Record(query: String, sf: String, cpus: Int,
      calibPre: Double, cold: Run, warm: Seq[Run], rows: Long, hash: Long,
      calibPost: Double) {
    def json: String = {
      val jobs = warm.last.perJob.map(j =>
        f"""{"sec":${j.sec}%.3f,"desc":${Verify.jsonString(j.description)}}""")
      s"""{"query":"$query","sf":${Verify.jsonString(sf)},"cpus":$cpus,""" +
        f""""cold_sec":${cold.sec}%.3f,"warm_sec":[${warm.map(r => f"${r.sec}%.3f").mkString(",")}],""" +
        s""""jobs":${cold.jobs},"stages":${cold.stages},"tasks":${cold.tasks},""" +
        s""""warm_jobs":[${jobs.mkString(",")}],"rows":$rows,"hash":$hash,""" +
        s""""calib_pre_sec":$calibPre,"calib_post_sec":$calibPost}"""
    }
  }

  /** Counts jobs, stages and tasks and times each job from its scheduler
    * events. Null-safe on a missed job-start event (listener-bus
    * backpressure can drop events): that job is left out of `finished`
    * instead of failing the listener thread.
    */
  private final class JobListener extends SparkListener {
    val started = new ConcurrentHashMap[Int, (Long, String)]
    val finished = new ConcurrentLinkedQueue[(Int, Job)]
    val stages = new AtomicInteger
    val tasks = new AtomicLong
    override def onJobStart(j: SparkListenerJobStart): Unit =
      started.put(j.jobId, (j.time,
        Option(j.properties.getProperty("spark.job.description")).getOrElse("")))
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Option(started.get(j.jobId)).foreach { case (t0, d) =>
        finished.add(j.jobId -> Job((j.time - t0) / 1e3, d))
      }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(s.stageInfo.numTasks)
    }
  }

  /** Builds and forces `df` once under its own listener, which sees only
    * this run's events and is removed afterwards.
    */
  def run(spark: SparkSession)(df: => DataFrame): Run = {
    val sc = spark.sparkContext
    val l = new JobListener
    GraftSqlShim.drainListenerBus(sc)
    sc.addSparkListener(l)
    try {
      val t0 = System.nanoTime()
      df.queryExecution.toRdd.count()
      val sec = (System.nanoTime() - t0) / 1e9
      GraftSqlShim.drainListenerBus(sc)
      Run(sec, l.started.size, l.stages.get, l.tasks.get,
        l.finished.asScala.toSeq.sortBy(_._1).map(_._2))
    } finally sc.removeSparkListener(l)
  }

  /** (rows, hash): the row count and the sum over rows of xxhash64 reduced
    * to 31 bits. The sum is order-insensitive, computed without collecting
    * rows, and cannot overflow under ANSI mode below 2^32 rows. Rows whose
    * types xxhash64 rejects (maps) are hashed through `to_json`.
    */
  def contentHash(df: DataFrame): (Long, Long) = {
    val hashed =
      try df.select(xxhash64(col("*")).as("_h"))
      catch { case _: AnalysisException =>
        df.select(xxhash64(to_json(struct(col("*")))).as("_h")) }
    val r = hashed.agg(count(lit(1)),
      coalesce(sum(col("_h").bitwiseAND(0x7fffffffL)), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  private def profile(spark: SparkSession, query: String, sfDir: String,
      reps: Int): Record = {
    val fn = SparkEntry.queries(query)
    val calibPre = HostCalib.calibrate()
    val cold = run(spark)(fn(spark, sfDir))
    val warm = (1 to reps).map(_ => run(spark)(fn(spark, sfDir)))
    val (rows, hash) = contentHash(fn(spark, sfDir))
    // local[n] sessions report n as their default parallelism
    Record(query, sfDir, spark.sparkContext.defaultParallelism, calibPre,
      cold, warm, rows, hash, HostCalib.calibrate())
  }

  /** One record per query, produced as the iterator advances. The names
    * and `reps` are checked up front, so a typo fails before any query runs.
    */
  def profileAll(spark: SparkSession, queries: Seq[String], sfDir: String,
      reps: Int): Iterator[Record] = {
    val unknown = queries.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    require(reps >= 1, s"need at least one warm run, got $reps")
    queries.iterator.map(profile(spark, _, sfDir, reps))
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Profile <query name>...")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val spark = LocalSpark.session()
    Sessions.tune(spark)
    try profileAll(spark, args.toSeq, sfDir, reps).foreach(r => println(r.json))
    finally spark.stop()
  }
}
