package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.DoubleType
import org.apache.spark.unsafe.types.UTF8String

/** Jaro-Winkler similarity (Winkler 1990, standard parameters: prefix
  * scale p = 0.1, max prefix 4, boost threshold 0.7).
  *
  * SURVEY.md §2.3 F7 / §4.2: Spark has no built-in (levenshtein yes, JW
  * no), and BASELINE.json north_star requires batched codegen scoring —
  * so this is a native kernel: generated code calls `similarity`
  * directly (Kernel / StaticInvoke), keeping pair scoring inside
  * whole-stage codegen (a Scala UDF would break the codegen span and box
  * rows).
  *
  * Semantics match DuckDB's `jaro_winkler_similarity` (validated in
  * ScoringSpec against golden values, e.g. JW("MARTHA","MARHTA")=0.9611)
  * so the driver's DuckDB oracle can check scored pairs exactly (after
  * rounding).
  */
object JaroWinkler {

  /** Upper bound for the zero-allocation path's thread-local buffers;
    * scoring caps its inputs (Scoring.MaxSimTextLen) well below this.
    */
  private val MaxLen = 512

  private val buf1 = new ThreadLocal[Array[Boolean]] {
    override def initialValue(): Array[Boolean] = new Array[Boolean](MaxLen)
  }
  private val buf2 = new ThreadLocal[Array[Boolean]] {
    override def initialValue(): Array[Boolean] = new Array[Boolean](MaxLen)
  }

  /** Pure implementation; called from generated code — keep it public.
    * `cap` bounds both inputs to their first `cap` characters (same
    * semantics as substr(x, 1, cap) upstream, without the per-row
    * allocation — the scoring pass runs millions of rows per task and
    * allocation rate was a measured non-scaling term at 32 cores).
    * ASCII inputs run an allocation-free byte path over thread-local
    * match buffers; multibyte falls back to the String path.
    */
  def similarity(s1: UTF8String, s2: UTF8String, cap: Int): Double = {
    if (s1.isFullAscii && s2.isFullAscii &&
      s1.numBytes <= MaxLen && s2.numBytes <= MaxLen) {
      similarityAsciiCapped(s1, s2, cap)
    } else {
      val a = if (s1.numChars > cap) s1.substring(0, cap) else s1
      val b = if (s2.numChars > cap) s2.substring(0, cap) else s2
      similarity(a.toString, b.toString)
    }
  }

  def similarity(s1: UTF8String, s2: UTF8String): Double =
    similarity(s1, s2, Int.MaxValue)

  /** Byte-path Jaro-Winkler for fully-ASCII inputs (identical result to
    * the String path — chars == bytes).
    */
  private def similarityAsciiCapped(s1: UTF8String, s2: UTF8String, cap: Int): Double = {
    val len1 = math.min(s1.numBytes, cap)
    val len2 = math.min(s2.numBytes, cap)
    if (len1 == 0 || len2 == 0) return 0.0

    val matchDist = math.max(math.max(len1, len2) / 2 - 1, 0)
    val matched1 = buf1.get()
    val matched2 = buf2.get()
    java.util.Arrays.fill(matched1, 0, len1, false)
    java.util.Arrays.fill(matched2, 0, len2, false)
    var m = 0
    var i = 0
    var identical = len1 == len2
    while (i < len1) {
      if (identical && s1.getByte(i) != s2.getByte(i)) identical = false
      val lo = math.max(0, i - matchDist)
      val hi = math.min(len2 - 1, i + matchDist)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!matched2(j) && s1.getByte(i) == s2.getByte(j)) {
          matched1(i) = true; matched2(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (identical) return 1.0
    if (m == 0) return 0.0

    var t = 0
    var k = 0
    i = 0
    while (i < len1) {
      if (matched1(i)) {
        while (!matched2(k)) k += 1
        if (s1.getByte(i) != s2.getByte(k)) t += 1
        k += 1
      }
      i += 1
    }
    val mm = m.toDouble
    val jaro = (mm / len1 + mm / len2 + (mm - t / 2) / mm) / 3.0

    if (jaro <= 0.7) jaro
    else {
      var l = 0
      val maxL = math.min(4, math.min(len1, len2))
      while (l < maxL && s1.getByte(l) == s2.getByte(l)) l += 1
      jaro + l * 0.1 * (1.0 - jaro)
    }
  }

  def similarity(s1: String, s2: String): Double = {
    val len1 = s1.length
    val len2 = s2.length
    // either side empty → 0.0, including both-empty (DuckDB parity)
    if (len1 == 0 || len2 == 0) return 0.0
    if (s1 == s2) return 1.0

    val matchDist = math.max(math.max(len1, len2) / 2 - 1, 0)
    val matched1 = new Array[Boolean](len1)
    val matched2 = new Array[Boolean](len2)
    var m = 0
    var i = 0
    while (i < len1) {
      val lo = math.max(0, i - matchDist)
      val hi = math.min(len2 - 1, i + matchDist)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!matched2(j) && s1.charAt(i) == s2.charAt(j)) {
          matched1(i) = true; matched2(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0

    // transpositions = floor(#out-of-order matched chars / 2) — integer
    // division, matching DuckDB/rapidfuzz semantics (validated in
    // ScoringSpec/JaroWinklerSpec and by the driver's DuckDB oracle).
    var t = 0
    var k = 0
    i = 0
    while (i < len1) {
      if (matched1(i)) {
        while (!matched2(k)) k += 1
        if (s1.charAt(i) != s2.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    val mm = m.toDouble
    val jaro = (mm / len1 + mm / len2 + (mm - t / 2) / mm) / 3.0

    if (jaro <= 0.7) jaro
    else {
      var l = 0
      val maxL = math.min(4, math.min(len1, len2))
      while (l < maxL && s1.charAt(l) == s2.charAt(l)) l += 1
      jaro + l * 0.1 * (1.0 - jaro)
    }
  }

  /** Column-API entry point. `cap` bounds inputs to their first `cap`
    * chars inside the kernel (no substring allocation upstream).
    */
  def jaroWinkler(a: Column, b: Column, cap: Int = Int.MaxValue): Column =
    Kernel(this, "similarity", DoubleType, a, b, lit(cap))
}
