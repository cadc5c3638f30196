package guards.expr

import org.apache.spark.sql.{Column, GraftSqlShim}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen-friendly Catalyst expressions for the scoring hot path
  * (BASELINE.json:6 "codegen-friendly expressions"; SURVEY.md §3.8 row 51).
  * Each generates a direct static call into guards.expr.Scorers, so scoring
  * stays inside the WholeStageCodegen row loop — no UDF boxing, no typed
  * serialization boundary. Null in → null out (callers feed the
  * null-normalized text, so this path is cold).
  */
abstract class ScorerExpression extends UnaryExpression {
  /** Fully-qualified static call template; %s = child code. */
  protected def callTemplate: String
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => callTemplate.format(c))
}

case class ScrubText(child: Expression) extends ScorerExpression {
  override def dataType: DataType = StringType
  override protected def callTemplate = "guards.expr.Scorers.scrub(%s)"
  override protected def nullSafeEval(input: Any): Any =
    Scorers.scrub(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "scrub_text"
}

/** Every per-turn score the rules read, as one struct computed by one
  * static call (`Scorers.score`): the six core.TextStats.stats counts, the
  * language-ID label and confidence, and the byte-LM perplexity. Callers
  * feed the null-normalized text, so every field is non-null.
  */
case class TurnScores(child: Expression) extends ScorerExpression {
  override def dataType: DataType = TurnScores.Schema
  override protected def callTemplate = "guards.expr.Scorers.score(%s)"
  override protected def nullSafeEval(input: Any): Any =
    Scorers.score(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "turn_scores"
}

object TurnScores {
  final val Schema: StructType = StructType(
    Seq("cp", "nw", "nbg", "nbgd", "sym", "dig").map(StructField(_, IntegerType, nullable = false)) ++
      Seq(StructField("lang", StringType, nullable = false),
        StructField("lang_conf", DoubleType, nullable = false),
        StructField("ppl", DoubleType, nullable = false)))
}

/** pmod(pinned-Murmur3-32(conv_id), nParts) — the logical resume partition. */
case class ConvPartId(child: Expression, nParts: Int) extends ScorerExpression {
  override def dataType: DataType = IntegerType
  override protected def callTemplate = s"guards.expr.Scorers.convPartId(%s, $nParts)"
  override protected def nullSafeEval(input: Any): Any =
    Scorers.convPartId(input.asInstanceOf[UTF8String], nParts)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "conv_part_id"
}

/** Column-API wrappers. */
object ScoreFns {
  private def c(e: Expression): Column = GraftSqlShim.column(e)
  private def e(col: Column): Expression = GraftSqlShim.expression(col)

  def turnScores(text: Column): Column = c(TurnScores(e(text)))
  def scrubText(text: Column): Column = c(ScrubText(e(text)))
  def convPartId(convId: Column, nParts: Int): Column = c(ConvPartId(e(convId), nParts))
}
