package guards

import core.{ByteLM, LangId, OracleEvaluator, ScoredTurn, Turn}
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Turn + precomputed stable-window context (typed boundary input). */
case class WinTurn(
    conv_id: String, turn_idx: Int, role: String, text: String, tool: String,
    ts: Timestamp, _rn: Int, _prev_idx: Option[Int], _prev_role: Option[String]) {
  def toTurn: Turn = Turn(conv_id, turn_idx, role, text, tool, ts)
}

/** The mapPartitions-batched model-inference tier (BASELINE.json:6;
  * SURVEY.md §3.8 row 55): langid + LM are broadcast ONCE per executor and
  * deserialized once per task, then applied in a tight per-partition loop.
  * Semantics are shared with the oracle via core.OracleEvaluator.scoreOne —
  * equality with the codegen-expression tier is enforced by
  * PipelineConformanceSpec. This tier exists for models too large or
  * stateful to embed statically (real fastText .bin in production); the
  * expression tier is the default hot path.
  */
object Scoring {

  def scoreBatched(spark: SparkSession, turns: DataFrame): Dataset[ScoredTurn] =
    scoreBatchedPostWindow(spark, QualityPipeline.withWindow(turns))

  /** The batched-inference half given precomputed window columns — split
    * out (mirroring QualityPipeline.withWindow/scorePostWindow) so a
    * caller needing globally sorted output can sort the cheap windowed
    * rows FIRST: a sort above the typed scoring boundary re-executes the
    * whole mapPartitions pass in the range-sampling job, paying model
    * scoring twice. mapPartitions preserves row order, so scoring after
    * the sort yields identical rows in identical order.
    */
  def scoreBatchedPostWindow(spark: SparkSession,
      withWin: DataFrame): Dataset[ScoredTurn] = {
    import spark.implicits._
    val bcLang = spark.sparkContext.broadcast(LangId.model)
    val bcLm = spark.sparkContext.broadcast(ByteLM.model)
    withWin.as[WinTurn].mapPartitions { it =>
      val langModel = bcLang.value
      val lmModel = bcLm.value
      it.map(wt => OracleEvaluator.scoreOne(
        wt.toTurn, wt._rn, wt._prev_idx, wt._prev_role, langModel, lmModel))
    }
  }
}
