package graft

import pipeline.Sessions

/** Plan-inspection main: dumps `explain("formatted")` for the headline
  * pipeline and selected operator queries — used to verify pushdown,
  * broadcast choice and whole-stage-codegen spans (SURVEY.md §5).
  * Usage: runMain graft.Explain [sfDir] [queryName...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq
      else Seq("q_pipeline_labels", "q_join_bcast", "q_join_smj", "q_agg_pricing",
        "q_doc_rules", "q_window_rank")
    // local[4] with 8 shuffle partitions: the shared test session's shape
    val spark = LocalSpark.session(4)
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    Sessions.tune(spark)
    names.foreach { n =>
      println(s"\n========== $n ==========")
      // the LazyFrame-wrapped compositions explain as a bare thunk scan;
      // the *_unwrapped pseudo-names print the composed inner plan
      val df = n match {
        case "q_pipeline_labels_unwrapped" => SparkEntry.labelsPipeline(spark, sfDir)
        case "q_pipeline_mp_unwrapped" => SparkEntry.mpPipeline(spark, sfDir)
        case "q_curate_e2e_unwrapped" => SparkEntry.curatePipeline(spark, sfDir)
        case _ => SparkEntry.queries(n)(spark, sfDir)
      }
      df.explain("formatted")
    }
    spark.stop()
  }
}
