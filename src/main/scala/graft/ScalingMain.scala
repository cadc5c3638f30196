package graft

import guards.QualityPipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import pipeline.{Sessions, SynthStore}

/** The N-vs-4N scaling evidence (north rule; BASELINE.md methodology):
  * runs the identical full-output pipeline on the identical deterministic
  * input at local[8] and local[32] in ONE JVM (sequential contexts, so JIT
  * state is shared), best-of-`reps` per level, and prints throughput at
  * both plus the scaling efficiency (thr₃₂/thr₈)/4.
  *
  * Usage: runMain graft.ScalingMain [turns] [reps]
  */
object ScalingMain {
  private def force(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** (turns, bestClusteredSec, bestWindowSec) at one parallelism level.
    * Input is generated once and persisted in memory — the timed runs
    * measure the pipeline, not the generator (a production run reads a
    * memory/cache-resident columnar scan the same way).
    */
  private def measure(cpus: Int, target: Long, reps: Int): (Long, Double, Double) = {
    val spark = LocalSpark.session(cpus)
    Sessions.tune(spark)
    val input = SynthStore(target).read(spark).toDF().persist()
    val turnsIn = input.count()
    def once(clustered: Boolean): Double = {
      val scored =
        if (clustered) QualityPipeline.scoreClustered(spark, input)
        // the EXPLICIT window formulation, not score(): score()'s
        // clustered-source detection fires on the persisted generator
        // frame (persist does not change the analyzed plan), which would
        // silently measure the clustered path in BOTH arms
        else QualityPipeline.scorePostWindow(QualityPipeline.withWindow(input))
      val t0 = System.nanoTime()
      force(QualityPipeline.select(scored).filter(col("keep")))
      (System.nanoTime() - t0) / 1e9
    }
    once(clustered = true) // warmup at this parallelism
    val bestClustered = (1 to reps).map(_ => once(clustered = true)).min
    val bestWindow = (1 to reps).map(_ => once(clustered = false)).min
    input.unpersist()
    spark.stop()
    (turnsIn, bestClustered, bestWindow)
  }

  def main(args: Array[String]): Unit = {
    // single-level mode for CPU-pinned runs (the faithful N-node emulation:
    //   taskset -c 0-7  sbt "runMain graft.ScalingMain single 8 2000000 3"
    //   taskset -c 0-31 sbt "runMain graft.ScalingMain single 32 2000000 3"
    // — pinning makes GC/JIT/shuffle threads share the N cpus exactly as
    // they would on a real N-core executor node)
    if (args.headOption.contains("single")) {
      val cpus = args(1).toInt
      val target = args(2).toLong
      val reps = args.drop(3).headOption.map(_.toInt).getOrElse(3)
      val (n, c, w) = measure(cpus, target, reps)
      println(f"""{"turns":$n,"cpus":$cpus,"clustered_sec":$c%.3f,"window_sec":$w%.3f,"clustered_thr":${n / c}%.0f,"window_thr":${n / w}%.0f}""")
      return
    }
    // shard mode: one emulated EXECUTOR processing a disjoint slice of the
    // corpus (conversation ordinals ≡ shardIdx mod nShards). The 4N-cluster
    // measurement runs four of these concurrently on disjoint pinned cpu
    // sets with separate heaps — exactly the resource shape of four
    // executors (tools/scaling.sh orchestrates).
    if (args.headOption.contains("shard")) {
      val Array(_, cpusS, turnsS, idxS, nS) = args.take(5)
      val reps = args.drop(5).headOption.map(_.toInt).getOrElse(2)
      val barrierDir = args.drop(6).headOption
      val spark = LocalSpark.session(cpusS.toInt, logLevel = "ERROR")
      Sessions.tune(spark)
      import spark.implicits._
      val target = turnsS.toLong
      val (idx, n) = (idxS.toInt, nS.toInt)
      // size-aware conversation→executor assignment (greedy bin-packing on
      // the deterministic conv sizes) — emulates the balanced task placement
      // a real Spark scheduler achieves dynamically; a rigid ordinal-mod
      // split makes the mega-conversation's shard a straggler
      val nConv = core.SynthGen.nConversations(target).toInt
      val assign = {
        val a = new Array[Byte](nConv)
        val loads = new Array[Long](n)
        (0 until nConv)
          .map(o => (core.SynthGen.convTurns(o.toLong, target), o))
          .sortBy(-_._1)
          .foreach { case (sz, o) =>
            var best = 0
            var s = 1
            while (s < n) { if (loads(s) < loads(best)) best = s; s += 1 }
            a(o) = best.toByte
            loads(best) += sz
          }
        a
      }
      val bcAssign = spark.sparkContext.broadcast(assign)
      val input = spark.range(nConv.toLong)
        .filter(o => bcAssign.value(o.toInt) == idx)
        .repartition(cpusS.toInt * 8) // spread convs finely within the executor
        .flatMap(o => core.SynthGen.genConv(o, target).map(_.toTurn))
        .toDF().persist()
      val turnsIn = input.count()
      def once(): Double = {
        val t0 = System.nanoTime()
        force(QualityPipeline.select(QualityPipeline.scoreClustered(spark, input))
          .filter(col("keep")))
        (System.nanoTime() - t0) / 1e9
      }
      once()
      val calibPre = HostCalib.calibrate()
      // start barrier: wait until EVERY concurrent executor has finished
      // heap pre-touch + generation + warmup before anyone's timed reps
      // begin. Without it, a laggard executor's multi-GB first-touch page
      // faulting (host page-allocation bandwidth is shared and slow in
      // this sandbox) lands inside a leader's timed window and halves its
      // measured throughput — observed as a bimodal 0.43/0.93 efficiency.
      barrierDir.foreach { spec =>
        val (bd, count) = spec.lastIndexOf(':') match {
          case -1 => (spec, n)
          case i  => (spec.substring(0, i), spec.substring(i + 1).toInt)
        }
        val d = new java.io.File(bd)
        d.mkdirs()
        new java.io.File(d,
          s"ready_${ProcessHandle.current().pid()}").createNewFile()
        // capped wait: a crashed sibling must not deadlock the others —
        // proceed after 10 min and let the orchestrator spot the gap
        val deadline = System.nanoTime() + 600L * 1000000000L
        while (d.listFiles().count(_.getName.startsWith("ready_")) < count
            && System.nanoTime() < deadline)
          Thread.sleep(200)
      }
      // host-health evidence bracketing the timed reps (HostCalib: healthy
      // ≈ 0.38-0.41 s): pre runs in the untimed window before the barrier
      // ready-mark, post right after the reps — a stall episode landing in
      // this shard's measurement shows up in the record itself. calibPost
      // may overlap a slower sibling's final rep, but it runs inside THIS
      // shard's disjoint taskset cpuset and touches an L1-resident string,
      // so cross-shard cost is memory-bandwidth noise at most (attempts
      // with it enabled measured 1.018-1.033)
      val best = (1 to reps).map(_ => once()).min
      val calibPost = HostCalib.calibrate()
      println(f"""{"shard":$idx,"of":$n,"cpus":$cpusS,"turns":$turnsIn,"sec":$best%.3f,"calib_pre_sec":$calibPre%.3f,"calib_post_sec":$calibPost%.3f}""")
      spark.stop()
      return
    }
    val target = args.headOption.map(_.toLong).getOrElse(2000000L)
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(3)
    val (n8, c8, w8) = measure(8, target, reps)
    val (n32, c32, w32) = measure(32, target, reps)
    require(n8 == n32)
    val effC = ((n32 / c32) / (n8 / c8)) / 4.0
    val effW = ((n32 / w32) / (n8 / w8)) / 4.0
    println(f"""{"turns":$n8,"clustered":{"sec_local8":$c8%.3f,"sec_local32":$c32%.3f,"thr_local8":${n8 / c8}%.0f,"thr_local32":${n32 / c32}%.0f,"scaling_efficiency":$effC%.3f},"window":{"sec_local8":$w8%.3f,"sec_local32":$w32%.3f,"thr_local8":${n8 / w8}%.0f,"thr_local32":${n32 / w32}%.0f,"scaling_efficiency":$effW%.3f}}""")
  }
}
