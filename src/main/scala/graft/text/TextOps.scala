package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.Features

/** Text-analysis operators for large-scale training-data pipelines over
  * the `documents` table: token counting, language ID (stopword n-gram
  * heuristic), quality scoring, and document fingerprinting. All pure
  * Catalyst expressions (codegen-friendly, no UDFs); every arithmetic is
  * exact-or-IEEE-deterministic so the DuckDB oracle reproduces results
  * bit-for-bit after fixed rounding.
  */
object TextOps {

  /** ASCII-lowercase tokenizer used for document ops — chosen (vs the
    * unicode one in Features) because the oracle SQL must express the
    * identical regex in DuckDB's RE2 dialect. Same splitter as
    * `Features.tokenize`, so it stays inside whole-stage codegen.
    */
  def docTokens(text: Column): Column = Features.words(text, "[^a-z0-9]+")

  /** Small per-language stopword lists for the language-ID heuristic. */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ich", "ein", "zu", "mit"),
    "en" -> Seq("the", "a", "to", "of", "and", "in", "is", "it", "you", "that"),
    "es" -> Seq("el", "los", "y", "un", "una", "es", "no", "por", "como", "para"),
    "fr" -> Seq("le", "les", "et", "une", "est", "que", "je", "dans", "pour", "vous")
  )

  /** Language ID: count distinct stopwords of each language present in
    * the token set; argmax with ties broken toward the alphabetically
    * first language; "und" (undetermined) when no stopword matches.
    */
  def languageId(tokenSet: Column): Column = {
    val scored = stopwords.map { case (lang, words) =>
      (lang, size(array_intersect(tokenSet, array(words.map(lit): _*))))
    }
    // fold left over languages in alphabetical order: strictly-greater
    // wins, so earlier (alphabetically smaller) languages win ties.
    val (bestLang, _) = scored.tail.foldLeft((lit(scored.head._1), scored.head._2)) {
      case ((curLang, curScore), (lang, score)) =>
        (when(score > curScore, lit(lang)).otherwise(curLang),
          when(score > curScore, score).otherwise(curScore))
    }
    val maxScore = scored.map(_._2).reduce((a, b) => greatest(a, b))
    when(maxScore > 0, bestLang).otherwise(lit("und"))
  }

  /** Heuristic quality score in [0,1]: length saturation + stopword
    * ratio + punctuation penalty. Rounded to 6 decimals for oracle
    * stability.
    */
  def qualityScore(text: Column, tokens: Column, tokenSet: Column): Column = {
    val nTokens = size(tokens).cast("double")
    val nChars = length(text).cast("double")
    val alnumChars = length(regexp_replace(lower(text), "[^a-z0-9 ]", "")).cast("double")
    val punctRatio = when(nChars > 0, (nChars - alnumChars) / nChars).otherwise(lit(0.0))
    val enStop = array(stopwords.toMap.apply("en").map(lit): _*)
    val stopRatio = when(nTokens > 0,
      size(filter(tokens, t => array_contains(enStop, t))).cast("double") / nTokens)
      .otherwise(lit(0.0))
    val lengthSat = least(lit(1.0), nTokens / lit(100.0))
    round(lengthSat * 0.5 + stopRatio * 0.3 + (lit(1.0) - punctRatio) * 0.2, 6)
  }

  /** Document fingerprint: minimum md5 over 3-shingles (bottom-1 sketch
    * of the shingle set — a winnowing-style content fingerprint that is
    * stable under small reorderings of unrelated regions). md5 rather
    * than xxhash64 so DuckDB reproduces it exactly. Falls back to
    * md5(full token string) for very short documents.
    */
  def fingerprint(tokens: Column): Column = {
    // shingle strings, not ShingleMinHash: the fingerprint is a shingle's
    // whole md5 hex, of which the kernel keeps only bank minima
    val sh = when(size(tokens) >= 3,
      transform(sequence(lit(0), size(tokens) - 3),
        i => concat_ws(" ", (0 until 3).map(j => element_at(tokens, i + j + 1)): _*))
    ).otherwise(array().cast("array<string>"))
    when(size(sh) > 0, array_min(transform(sh, s => md5(s))))
      .otherwise(md5(concat_ws(" ", tokens)))
  }

  /** documents(doc_id, text, ...) → per-doc analysis columns. */
  def analyze(documents: DataFrame): DataFrame = {
    val withTokens = documents
      .withColumn("tokens", docTokens(col("text")))
      .withColumn("token_set", Features.tokenSet(col("tokens")))
    withTokens
      .withColumn("n_tokens", size(col("tokens")))
      .withColumn("n_distinct_tokens", size(col("token_set")))
      .withColumn("lang_pred", languageId(col("token_set")))
      .withColumn("quality",
        qualityScore(col("text"), col("tokens"), col("token_set")))
      .withColumn("fingerprint", fingerprint(col("tokens")))
  }
}
