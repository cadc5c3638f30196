package guards

import core.{RuleSpec, TextStats}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The declarative rule → `Column` predicate compiler (SURVEY.md §3.2 #11;
  * BASELINE.json:6 "compiled to Column predicates"). A rule is
  * (name, precondition, constraint); it is VIOLATED iff `pre && !constraint`
  * (conditional-rule semantics: precondition ⇒ constraint). All thresholds
  * come from core.RuleSpec — the same constants the oracle reads.
  *
  * Everything here is pure Column algebra over java.util.regex-backed
  * builtins (regexp_count/split run the same regex engine as the oracle's
  * TextStats), so the whole rule path stays inside whole-stage codegen
  * (SURVEY.md §5 O9).
  *
  * Expected input columns: text, role, tool, turn_idx plus window columns
  * `_rn`, `_prev_idx`, `_prev_role` (stable (conv_id, turn_idx, ts, role)
  * order) and the `_s` scores struct of `withStats`.
  */
object Rules {
  import RuleSpec._

  final case class GuardRule(name: String, pre: Column, constraint: Column) {
    /** Null-safe violation predicate: null pre ⇒ not applicable; null
      * constraint ⇒ violated (constraint not satisfied). */
    def violated: Column =
      coalesce(pre, lit(false)) && !coalesce(constraint, lit(false))
  }

  /** Normalized text (null → "") — pinned in core.TextStats.norm. */
  def textN(text: Column): Column = coalesce(text, lit(""))

  def cpLen(tn: Column): Column = length(tn)

  /** Lowercased words, empties removed — mirrors TextStats.words. */
  def wordsCol(tn: Column): Column =
    filter(split(lower(tn), TextStats.WordSep), w => length(w) > 0)

  def symbolCount(tn: Column): Column = regexp_count(tn, lit(TextStats.SymbolRe))
  def digitCount(tn: Column): Column = regexp_count(tn, lit(TextStats.DigitRe))

  /** Consecutive word bigrams — mirrors TextStats.bigrams. */
  def bigramsCol(words: Column): Column = {
    val n = size(words)
    when(n >= 2,
      transform(sequence(lit(1), n - 1),
        i => concat(element_at(words, i), lit(" "), element_at(words, i + 1))))
      .otherwise(array().cast("array<string>"))
  }

  /** Stage 1 of the rule path: attach every per-turn score as ONE struct
    * column `_s` (guards.expr.TurnScores over the null-normalized text:
    * core.TextStats.stats, language ID and perplexity in one call).
    * CRITICAL for performance: expressing words/bigrams with Spark's
    * lambda higher-order functions (transform/filter) is interpreted-only
    * (CodegenFallback) AND re-evaluates the whole split subtree per array
    * element — O(words²) regex work per row (measured: ~1000× slower).
    * The HOF formulation survives in wordsCol/bigramsCol for the
    * DuckDB-checkable queries and the semantic cross-check suite.
    */
  def withStats(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.withColumn("_s", guards.expr.ScoreFns.turnScores(textN(col("text"))))

  /** The pinned rule set of SURVEY.md §3.3 as Column predicates over the
    * `_s` struct of `withStats` plus window/scoring columns.
    */
  def all(
      text: Column, role: Column, tool: Column, turnIdx: Column,
      rn: Column, prevIdx: Column, prevRole: Column,
      lang: Column, langConf: Column, ppl: Column): Seq[GuardRule] = {
    val cp = col("_s.cp")
    val nWords = col("_s.nw")
    val nBg = col("_s.nbg")
    // the ratio divisions are guarded INSIDE the expression (zero
    // denominator → 0.0), not only by the rule preconditions: codegen
    // subexpression elimination may hoist a constraint shared between
    // `keep` and `rule_hits` and evaluate it EAGERLY, outside the
    // precondition's short-circuit — under ANSI mode an unguarded
    // division then faults on every empty/short text. The guard region is
    // exactly where the precondition is false, so every violated-verdict
    // is unchanged.
    val repRatio = lit(1.0) -
      when(nBg > 0, col("_s.nbgd").cast("double") / nBg.cast("double"))
        .otherwise(lit(0.0))
    val symRatio =
      when(cp > 0, col("_s.sym").cast("double") / cp.cast("double"))
        .otherwise(lit(0.0))
    val digRatio =
      when(cp > 0, col("_s.dig").cast("double") / cp.cast("double"))
        .otherwise(lit(0.0))
    val t = lit(true)

    Seq(
      GuardRule("r_null", t, text.isNotNull),
      GuardRule("r_short", t, cp >= MinCpLen),
      GuardRule("r_long", t, cp <= MaxCpLen),
      GuardRule("r_words", t, nWords >= MinWords && nWords <= MaxWords),
      GuardRule("r_rep", nBg >= MinBigramsForRep, repRatio <= MaxRepRatio),
      GuardRule("r_sym", cp >= MinCpLenForRatio, symRatio <= MaxSymbolRatio),
      GuardRule("r_digit", cp >= MinCpLenForRatio, digRatio <= MaxDigitRatio),
      GuardRule("r_role", t, role.isInCollection(RolesSorted)),
      GuardRule("r_tool", role <=> "tool", tool.isNotNull && length(tool) > 0),
      GuardRule("r_order", t,
        when(rn === 1, turnIdx === 0).otherwise(prevIdx + 1 === turnIdx)),
      GuardRule("r_alt", role.isInCollection(AltRoles.toSeq.sorted),
        prevRole.isNull || !(role <=> prevRole)),
      GuardRule("r_lang", cp >= MinCpLenForLang,
        lang === RequiredLang && langConf >= MinLangConf),
      GuardRule("r_ppl", nWords >= MinWordsForPpl, ppl <= MaxPpl))
  }

  /** Lexicographically sorted names of violated rules (SURVEY.md §2.3).
    *
    * Formulated as concat_ws over name-sorted when-branches + one split:
    * concat_ws skips nulls and the branches are emitted in sorted name
    * order (rule names are ASCII, so Scala string order == the UTF8
    * lexicographic order sort_array used), so the result is identical to
    * the previous sort_array(filter(array(...))) — but stays inside
    * whole-stage codegen: the filter/sort_array pair ran through the
    * higher-order-function CodegenFallback, an interpreted per-row eval
    * on the hottest projection of the label path (~0.4 s/full corpus
    * measured). Rule names contain no ','.
    */
  def ruleHits(rules: Seq[GuardRule]): Column = {
    val ordered = rules.sortBy(_.name)
    require(ordered.forall(r => !r.name.contains(",") && r.name.nonEmpty),
      "ruleHits encoding requires non-empty, comma-free rule names")
    val joined = concat_ws(",",
      ordered.map(r => when(r.violated, lit(r.name)).otherwise(lit(null))): _*)
    // array_remove, not `when(joined === "", []) otherwise split`: the
    // CaseWhen form embeds the full 13-branch concat_ws tree TWICE in the
    // projection, which pushed a fused
    // scoring+generate+partial-aggregate stage's generated method to 8005
    // bytecode — past HotSpot's 8000 DontCompileHugeMethods limit, so the
    // whole stage ran INTERPRETED (measured +1.5 s on the rule-hit
    // aggregation). concat_ws skips nulls, so "" only arises as
    // split("")'s single empty element when NO rule fired, and names are
    // never empty — array_remove(…, "") is exactly the empty-array case.
    array_remove(split(joined, ","), "")
  }
}
