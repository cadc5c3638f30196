package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One clock for spans and Spark events: epoch milliseconds as a double,
  * advanced by `nanoTime` so spans keep sub-millisecond resolution while
  * staying comparable with the listener's epoch-millisecond timestamps.
  */
object Clock {
  private val wall0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6
}

/** Spans kept in memory and written out when the run ends. Each span has
  * a name, a layer (the package the call goes into), a start, an end, a
  * parent span and the id of the iteration it belongs to. Disabled, it
  * only runs the body, so untraced runs pay nothing.
  */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, iter: Int, layer: String,
      name: String, start: Double, end: Double)

  private val done = ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String, String, Double)]
  private var nextId = 0
  var iter: Int = -1

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, layer, name, Clock.nowMs) :: stack
      try body
      finally {
        val (_, l, n, start) = stack.head
        stack = stack.tail
        done += Span(id, parent, iter, l, n, start, Clock.nowMs)
      }
    }

  def records: Seq[Map[String, Any]] = done.sortBy(_.id).map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "iter" -> s.iter,
      "layer" -> s.layer, "name" -> s.name, "start" -> s.start, "end" -> s.end)
  }.toSeq
}

/** Records every job, stage and task of the engine underneath. Only raw
  * intervals and task metrics are kept; attribution to iterations and
  * spans happens when the record is analysed.
  */
final class EngineListener extends SparkListener {
  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Seq[Int])]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val tasks = new ConcurrentLinkedQueue[Map[String, Any]]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStarts.put(e.jobId, (e.time, e.stageIds))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach { case (start, stageIds) =>
      jobs.add(Map("id" -> e.jobId, "start" -> start.toDouble,
        "end" -> e.time.toDouble, "stages" -> stageIds))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    stages.add(Map("id" -> s.stageId, "attempt" -> s.attemptNumber(),
      "start" -> s.submissionTime.map(_.toDouble),
      "end" -> s.completionTime.map(_.toDouble)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Map(
      "stage" -> e.stageId, "attempt" -> e.stageAttemptId,
      "start" -> e.taskInfo.launchTime.toDouble,
      "end" -> e.taskInfo.finishTime.toDouble,
      "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
      "gc_ms" -> m.jvmGCTime,
      "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
      "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
      "spill_bytes" -> m.diskBytesSpilled))
  }

  def record: Map[String, Any] = Map(
    "jobs" -> jobs.asScala.toSeq, "stages" -> stages.asScala.toSeq,
    "tasks" -> tasks.asScala.toSeq)
}

/** Planning time of every query action the engine runs, read from its
  * `QueryPlanningTracker`: analysis, optimization and planning phases.
  */
final class PlanListener extends QueryExecutionListener {
  private val seen = new ConcurrentLinkedQueue[Long]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    seen.add(PlanListener.planningMs(qe))
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Number of actions seen so far; drain the listener bus first. */
  def mark: Int = seen.size
  /** Planning milliseconds of the actions seen after `mark`. */
  def planningMsSince(mark: Int): Long = seen.asScala.drop(mark).sum
}

object PlanListener {
  def planningMs(qe: QueryExecution): Long =
    qe.tracker.phases.values.map(_.durationMs).sum
}

/** Janino compile time and generated-method sizes recorded between two
  * snapshots of Spark's `CodegenMetrics` histograms.
  */
final class CodegenDelta {
  private def values(h: com.codahale.metrics.Histogram): (Long, Seq[Long]) =
    (h.getCount, h.getSnapshot.getValues.toSeq)
  private val compile0 = values(CodegenMetrics.METRIC_COMPILATION_TIME)
  private val method0 = values(CodegenMetrics.METRIC_GENERATED_METHOD_BYTECODE_SIZE)

  /** Values added since construction: the multiset difference of the
    * reservoirs, exact while the reservoir still holds every sample.
    */
  private def added(before: (Long, Seq[Long]), after: (Long, Seq[Long])): Seq[Long] = {
    val left = scala.collection.mutable.Map.empty[Long, Int]
    before._2.foreach(v => left(v) = left.getOrElse(v, 0) + 1)
    after._2.filter { v =>
      val n = left.getOrElse(v, 0)
      if (n > 0) { left(v) = n - 1; false } else true
    }
  }

  def result(): Map[String, Double] = {
    val c1 = values(CodegenMetrics.METRIC_COMPILATION_TIME)
    val m1 = values(CodegenMetrics.METRIC_GENERATED_METHOD_BYTECODE_SIZE)
    val compiled = added(compile0, c1)
    // once the reservoir samples, scale the sampled mean to the true count
    val compileMs =
      if (compiled.size == c1._1 - compile0._1) compiled.sum.toDouble
      else if (compiled.isEmpty) 0.0
      else compiled.sum.toDouble / compiled.size * (c1._1 - compile0._1)
    val methods = added(method0, m1)
    Map("guards.codegen_compile_ms" -> compileMs,
      "guards.codegen_classes" -> (c1._1 - compile0._1).toDouble,
      "guards.codegen_max_method_bytes" -> (if (methods.isEmpty) 0.0 else methods.max.toDouble))
  }
}
