package operators

import guards.expr.ScoreFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline over a
  * (doc_id, text) table: token counting (whitespace / word / BPE-ish),
  * quality scoring, language-ID application, and fingerprinting. All
  * counting runs as java.util.regex-backed Column expressions (codegen,
  * no shuffle); the same regexes are DuckDB-RE2-compatible so the counts
  * are oracle-checkable.
  */
object TextAnalysis {
  /** BPE-ish pre-tokenizer: letter runs, 1-3 digit runs, single symbols. */
  final val BpeIshRe = "[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\\s]"
  final val WordRe = "[\\p{L}\\p{N}]+"
  final val WsTokenRe = "\\S+"
  /** Top English stopwords used for the quality ratio. */
  final val StopRe = "\\b(the|and|for|with|that|this|from|have|are|was)\\b"

  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      regexp_count(col("text"), lit(WsTokenRe)).as("n_ws_tokens"),
      regexp_count(lower(col("text")), lit(WordRe)).as("n_words"),
      regexp_count(col("text"), lit(BpeIshRe)).as("n_bpe_tokens"))

  /** Integer-arithmetic quality signals (no float ratios → oracle-exact). */
  def qualitySignals(docs: DataFrame): DataFrame = {
    val cp = length(col("text"))
    val nWords = regexp_count(lower(col("text")), lit(WordRe))
    val nStop = regexp_count(lower(col("text")), lit(StopRe))
    docs.select(
      col("doc_id"), cp.as("n_cp"), nWords.as("n_words"), nStop.as("n_stop"),
      (cp.between(20, 8000) && nWords >= 5 && nStop * 20 >= nWords).as("ok_quality"))
  }

  /** Language-ID over an arbitrary text table (codegen expression tier). */
  def langIdBreakdown(docs: DataFrame): DataFrame =
    docs.select(col("lang").as("lang_label"),
      ScoreFns.turnScores(coalesce(col("text"), lit("")))("lang").as("lang_pred"))
      .groupBy("lang_label", "lang_pred").agg(count(lit(1)).as("n"))

  /** Whitespace tokens of `text` as an array column — split+filter is
    * exactly `regexp_extract_all(text, '\S+')` (the DuckDB-oracle form):
    * splitting on whitespace runs can only leave empty strings at the
    * edges, and the filter drops them. Null text → empty doc.
    */
  def wsTokens(text: Column): Column =
    filter(split(coalesce(text, lit("")), "\\s+"), x => length(x) > 0)

  /** Lowercased word tokens ([\p{L}\p{N}]+ runs), same construction. */
  def wordTokens(text: Column): Column =
    filter(split(lower(coalesce(text, lit(""))), "[^\\p{L}\\p{N}]+"),
      x => length(x) > 0)

  /** Sliding word bigrams of a token array, joined with single spaces —
    * the token paired with its shift-by-one neighbor via `zip_with` (the
    * tail's missing partner arrives as zip_with's null padding and is
    * filtered out). An array with < 2 tokens yields NO bigrams.
    *
    * Deliberately `zip_with`, NOT `transform(sequence(...), i ->
    * slice(...))`: the slice-per-index form re-slices the array per
    * output gram — measured ~10 µs/gram interpreted overhead, 7× slower
    * than this on the fixture corpus — while zip_with walks both arrays
    * once.
    */
  def tokenBigrams(w: Column): Column =
    filter(
      zip_with(w, slice(w, lit(2), greatest(size(w) - 1, lit(0))),
        (a, b) => when(b.isNotNull, concat(a, lit(" "), b))),
      x => x.isNotNull)

  /** Okapi BM25 relevance of every document against a fixed query-term
    * set — the relevance-based data-selection scorer (rank training docs
    * against a target topic / few-shot query before mixing). Terms are
    * matched on lowercased word tokens; `idf(t) = ln(1 + (N − df + 0.5) /
    * (df + 0.5))` (the non-negative BM25+ variant), per-doc score =
    * Σ_t idf·tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)). Returns
    * (doc_id, n_words, score) for EVERY doc — unmatched docs score 0.
    *
    * Scale shape: doc lengths are a pure projection; the corpus explode
    * is filtered map-side to the query's terms BEFORE any shuffle, so the
    * only corpus-sized work is one text scan and the tf aggregation
    * carries ≤ |terms| rows per doc (dl rides the groupBy key — no
    * doc-length join); N/avgdl fold in LAZILY as a broadcast one-row
    * aggregate (the tokenDrift idiom — a 1-row broadcast NLJ is the
    * cheapest way to attach a scalar), so CONSTRUCTING the frame runs no
    * corpus scan: an explain-only consumer pays nothing, honoring the
    * zero-jobs-at-planning contract (PlanShapeSpec). The per-term idf
    * table is |terms|-sized and broadcast. Corpus text never shuffles.
    */
  def bm25Scores(docs: DataFrame, terms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25Scores: empty query-term set")
    val qTerms = terms.map(_.toLowerCase).distinct
    val docsW = docs.select(col("doc_id"),
      size(wordTokens(col("text"))).as("dl"),
      wordTokens(col("text")).as("_w"))
    // one-ROW (never collected) frame: corpus size + average doc length
    val stats = docsW.agg(count(lit(1)).as("_n"),
      coalesce(avg(col("dl").cast("double")), lit(0.0)).as("_avgdl"))
    val tf = docsW
      .select(col("doc_id"), col("dl"), explode(col("_w")).as("word"))
      .filter(col("word").isin(qTerms: _*)) // map-side prune pre-shuffle
      .groupBy("doc_id", "dl", "word").agg(count(lit(1)).as("tf"))
    val idf = tf.groupBy("word").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .select(col("word"),
        log(lit(1.0) + (col("_n").cast("double") - col("df") + 0.5)
          / (col("df") + 0.5)).as("idf"))
    // an empty corpus has avgdl 0; the guard keeps the denominator finite
    // (same contract as the old literal `if (avgdl > 0) avgdl else 1.0`)
    val safeAvgdl = when(col("_avgdl") > 0, col("_avgdl")).otherwise(lit(1.0))
    val denom = col("tf") + lit(k1) *
      (lit(1 - b) + lit(b) * col("dl").cast("double") / safeAvgdl)
    val scored = tf.crossJoin(broadcast(stats))
      .join(broadcast(idf), "word")
      .select(col("doc_id"),
        (col("idf") * col("tf") * lit(k1 + 1) / denom).as("_s"))
      .groupBy("doc_id").agg(sum("_s").as("score"))
    docsW.select(col("doc_id"), col("dl").as("n_words"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        coalesce(col("score"), lit(0.0)).as("score"))
  }

  /** Gopher-style repetition signals per doc: total/distinct word counts,
    * the most-repeated word's count, the most-repeated word-bigram's
    * count, and an integer-arithmetic keep verdict (a doc dominated by one
    * word or one bigram is boilerplate/spam, not prose). Docs with zero
    * word tokens drop out (no words → no repetition to measure), same as
    * the oracle's unnest; a single-word doc has no bigram and reports
    * max_bigram_n = 0.
    *
    * Scale shape: explode → two-level partial aggregation. The shuffle
    * carries (doc_id, token, partial-count) rows — map-side combine has
    * already collapsed each partition's repeats, which on repetitive docs
    * (the very thing being measured) is a large reduction — and the final
    * per-doc reduction is 8-byte counts. No UDF anywhere on the path.
    */
  def repetitionSignals(docs: DataFrame): DataFrame = {
    val w = wordTokens(col("text"))
    val wordStats = docs
      .select(col("doc_id"), explode(w).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_words"), count(lit(1)).as("n_distinct"),
        max("c").as("max_word_n"))
    val bigramStats = docs
      .select(col("doc_id"), explode(tokenBigrams(w)).as("gram"))
      .groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(max("c").as("max_bigram_n"))
    wordStats.join(bigramStats, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"), col("n_distinct"),
        col("max_word_n"),
        coalesce(col("max_bigram_n"), lit(0L)).as("max_bigram_n"),
        (col("max_word_n") * 5 <= col("n_words") &&
          coalesce(col("max_bigram_n"), lit(0L)) * 8 <= col("n_words")).as("ok_rep"))
  }
}
