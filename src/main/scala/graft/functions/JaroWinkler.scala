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

  /** Words per side at `MaxLen`. */
  private val MaxWords = (MaxLen + 63) / 64

  /** Per-thread bit sets of the ASCII path: `pos(c * MaxWords + w)` is the
    * bitmask of positions `64w + k` of `s2` holding byte `c`; `flagged1`
    * and `flagged2` mark the matched positions of each side.
    */
  private final class BitSets {
    val pos = new Array[Long](128 * MaxWords)
    val flagged1 = new Array[Long](MaxWords)
    val flagged2 = new Array[Long](MaxWords)
  }

  private val bitSets = new ThreadLocal[BitSets] {
    override def initialValue(): BitSets = new BitSets
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
    // the guard is on the capped lengths: a long ASCII text under a
    // small cap still takes the byte path
    if (s1.isFullAscii && s2.isFullAscii &&
      math.min(s1.numBytes, cap) <= MaxLen && math.min(s2.numBytes, cap) <= MaxLen) {
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
    * the String path — chars == bytes), with bit-parallel match flagging.
    * The String path gives position i of `s1` the first unmatched j of
    * `s2` inside the window [i - d, i + d] holding the same character;
    * here that j is the lowest set bit of
    * `pos(s1[i]) & ~flagged2 & window`, found in ⌈(2d + 1)/64⌉ + 1 word
    * operations at most instead of a scan of the window. Transpositions
    * walk the flagged bits of both sides in order. Cost O(len1 ·
    * ⌈len2/64⌉) word operations; buffers 128 ASCII bytes × 8 words
    * (8 KB) of positions plus 8 words of flags per side.
    */
  private def similarityAsciiCapped(s1: UTF8String, s2: UTF8String, cap: Int): Double = {
    val len1 = math.min(s1.numBytes, cap)
    val len2 = math.min(s2.numBytes, cap)
    if (len1 == 0 || len2 == 0) return 0.0

    val matchDist = math.max(math.max(len1, len2) / 2 - 1, 0)
    val bs = bitSets.get()
    val pos = bs.pos
    val flagged1 = bs.flagged1
    val flagged2 = bs.flagged2
    val words1 = (len1 + 63) >>> 6
    val words2 = (len2 + 63) >>> 6
    var w = 0
    while (w < words1) { flagged1(w) = 0L; w += 1 }
    w = 0
    while (w < words2) { flagged2(w) = 0L; w += 1 }
    var j = 0
    while (j < len2) {
      pos(s2.getByte(j) * MaxWords + (j >>> 6)) |= 1L << (j & 63)
      j += 1
    }
    var m = 0
    var i = 0
    var identical = len1 == len2
    while (i < len1) {
      val c = s1.getByte(i)
      if (identical && c != s2.getByte(i)) identical = false
      val lo = math.max(0, i - matchDist)
      val hi = math.min(len2 - 1, i + matchDist)
      val row = c * MaxWords
      val wLo = lo >>> 6
      val wHi = hi >>> 6
      w = wLo
      while (w <= wHi) {
        var free = pos(row + w) & ~flagged2(w)
        if (w == wLo) free &= -1L << (lo & 63)
        if (w == wHi) free &= -1L >>> (63 - (hi & 63))
        if (free != 0L) {
          flagged2(w) |= free & -free
          flagged1(i >>> 6) |= 1L << (i & 63)
          m += 1
          w = wHi
        }
        w += 1
      }
      i += 1
    }
    // leave the position masks all-zero for the next call
    j = 0
    while (j < len2) {
      pos(s2.getByte(j) * MaxWords + (j >>> 6)) = 0L
      j += 1
    }
    if (identical) return 1.0
    if (m == 0) return 0.0

    // transpositions: the k-th flagged position of s1 against the k-th
    // flagged position of s2
    var t = 0
    var w2 = 0
    var bits2 = flagged2(0)
    w = 0
    while (w < words1) {
      var bits1 = flagged1(w)
      while (bits1 != 0L) {
        while (bits2 == 0L) { w2 += 1; bits2 = flagged2(w2) }
        val p1 = (w << 6) + java.lang.Long.numberOfTrailingZeros(bits1)
        val p2 = (w2 << 6) + java.lang.Long.numberOfTrailingZeros(bits2)
        if (s1.getByte(p1) != s2.getByte(p2)) t += 1
        bits1 &= bits1 - 1
        bits2 &= bits2 - 1
      }
      w += 1
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
