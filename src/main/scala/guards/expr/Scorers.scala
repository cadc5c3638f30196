package guards.expr

import core.{ByteLM, LangId, Murmur3, Scrub, TextStats}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.unsafe.types.UTF8String

/** Static scoring entry points called from generated code (the codegen
  * Expression tier, SURVEY.md §3.8 row 51). Models are JVM-wide lazy
  * singletons built deterministically from embedded constants — every
  * executor materializes an identical model with no broadcast traffic
  * (the broadcast variant lives in guards.Scoring for the
  * mapPartitions-batched tier).
  */
object Scorers {
  // ---- last-input memo for `score`. Catalyst pushes `filter(keep)` below
  // the scoring projections and inlines every `_s.*` field reference into
  // the Filter, and FilterExec's whole-stage codegen does no subexpression
  // elimination: one row calls `score` once per inlined field reference,
  // then once more in the Project above. The memo turns all of those into
  // one computation per row. It is keyed on a defensive copy of the input
  // bytes because UnsafeRow memory is reused across rows.
  private final class Memo(var key: UTF8String, var row: InternalRow)
  private val memo = new ThreadLocal[Memo] {
    override def initialValue(): Memo = new Memo(null, null)
  }

  /** All rule inputs of one text, in `TurnScores.Schema` field order:
    * the six TextStats.stats counts, lang, lang_conf, ppl. The text is
    * decoded once; the returned row is never mutated afterwards.
    */
  def score(u: UTF8String): InternalRow = {
    val m = memo.get()
    if (m.key == null || !m.key.equals(u)) {
      val s = u.toString
      val st = TextStats.stats(s)
      val (lang, conf) = LangId.model.score(s)
      m.row = new GenericInternalRow(Array[Any](
        st.cp, st.nWords, st.nBigrams, st.nBigramsDistinct, st.symbols, st.digits,
        UTF8String.fromString(lang), conf, ByteLM.model.perplexity(s)))
      m.key = u.clone()
    }
    m.row
  }

  def scrub(u: UTF8String): UTF8String =
    UTF8String.fromString(Scrub(u.toString))

  /** Logical resume-partition id: pmod(pinned-Murmur3(conv_id), nParts)
    * (SURVEY.md §8.6 — label-path hashing never uses Spark's hash()).
    */
  def convPartId(u: UTF8String, nParts: Int): Int = {
    val h = Murmur3.hash(u.getBytes)
    val m = h % nParts
    if (m < 0) m + nParts else m
  }
}
