package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.IntegerType
import org.apache.spark.unsafe.types.UTF8String

/** Exact Levenshtein distance, tuned for the scoring hot path.
  *
  * Profiled at the bench tier (Profile main, 693k hydrated pairs ×8):
  * the built-in `levenshtein` was 62% of the whole full-feature scoring
  * pass — it DPs over code points via per-cell multi-byte decoding and
  * allocates per row. This kernel is value-identical (golden spec
  * compares against the built-in on random inputs incl. multibyte and
  * lengths past several 64-bit words):
  *
  *  - ASCII × ASCII (the overwhelming case; `isFullAscii` is one vector
  *    scan): common prefix/suffix stripping — exact, and near-dup pairs
  *    (the match-heavy part of the workload) strip almost everything —
  *    then Myers' bit-vector algorithm ("A fast bit-vector algorithm for
  *    approximate string matching based on dynamic programming", J. ACM
  *    1999) in its block form: the shorter side is the pattern, split
  *    into ⌈m/64⌉ words of vertical deltas (`Pv`/`Mv`), and each text
  *    byte advances every word with a handful of word operations, the
  *    horizontal delta carried from word to word as `hin` ∈ {-1, 0, +1}.
  *    Cost O(n·⌈m/64⌉) word operations instead of the O(n·m) cells of the
  *    two-row DP;
  *  - anything multibyte: delegate to Spark's own
  *    `UTF8String.levenshteinDistance`, so semantics cannot drift.
  *
  * Thread-local buffers: zero allocation per row at any input size
  * (executor threads are long-lived). `Peq` holds 128 ASCII bytes × 8
  * words (8 KB) and `Pv`/`Mv` 8 words each — enough for the 512-byte
  * guard.
  */
object LevenshteinFast {

  /** Hard input guard: scoring always caps its inputs (MaxSimTextLen),
    * the buffer just needs a safe upper bound.
    */
  private val MaxLen = 512

  /** Words per pattern at `MaxLen`. */
  private val MaxWords = (MaxLen + 63) / 64

  /** Per-thread bit-vector state: `peq(c * MaxWords + w)` is the bitmask
    * of pattern positions `64w + k` holding byte `c`; `pv`/`mv` are the
    * positive/negative vertical deltas of the current column.
    */
  private final class Vectors {
    val peq = new Array[Long](128 * MaxWords)
    val pv = new Array[Long](MaxWords)
    val mv = new Array[Long](MaxWords)
  }

  private val vectors = new ThreadLocal[Vectors] {
    override def initialValue(): Vectors = new Vectors
  }

  /** `cap` bounds both inputs to their first `cap` characters — same
    * semantics as substr(x, 1, cap) upstream without the per-row
    * allocation (ASCII: chars == bytes; multibyte: real substring on
    * the fallback path).
    */
  def compute(a: UTF8String, b: UTF8String, cap: Int): Int = {
    if (!a.isFullAscii || !b.isFullAscii) {
      val ac = if (a.numChars > cap) a.substring(0, cap) else a
      val bc = if (b.numChars > cap) b.substring(0, cap) else b
      return ac.levenshteinDistance(bc)
    }
    if (math.min(a.numBytes, cap) > MaxLen || math.min(b.numBytes, cap) > MaxLen) {
      // ASCII oversize fallback must still honor `cap` (round-2 ADVICE.md
      // item 3: unreachable with current callers' caps, but silently
      // wrong for any future cap in (MaxLen, Int.MaxValue))
      val ac = if (a.numChars > cap) a.substring(0, cap) else a
      val bc = if (b.numChars > cap) b.substring(0, cap) else b
      return ac.levenshteinDistance(bc)
    }
    var aStart = 0
    var bStart = 0
    var aEnd = math.min(a.numBytes, cap)
    var bEnd = math.min(b.numBytes, cap)
    // strip common prefix and suffix (exact: edits never pay for them)
    while (aStart < aEnd && bStart < bEnd && a.getByte(aStart) == b.getByte(bStart)) {
      aStart += 1; bStart += 1
    }
    while (aEnd > aStart && bEnd > bStart && a.getByte(aEnd - 1) == b.getByte(bEnd - 1)) {
      aEnd -= 1; bEnd -= 1
    }
    if (aEnd - aStart == 0) return bEnd - bStart
    if (bEnd - bStart == 0) return aEnd - aStart
    // the shorter side is the pattern (distance is symmetric)
    if (aEnd - aStart <= bEnd - bStart) myers(a, aStart, aEnd, b, bStart, bEnd)
    else myers(b, bStart, bEnd, a, aStart, aEnd)
  }

  /** Edit distance between pattern `p[pStart, pEnd)` and text
    * `t[tStart, tEnd)`, both non-empty ASCII of at most `MaxLen` bytes.
    * Column 0 starts at D[i][0] = i (every vertical delta +1) and every
    * text byte enters word 0 with `hin` = +1 (D[0][j] = j); the distance
    * is D[m][0] = m plus the horizontal deltas read at the pattern's last
    * row, bit `(m - 1) & 63` of the last word. Bits above that row in the
    * last word hold garbage, which is harmless: additions carry and
    * shifts move information only towards higher bits.
    */
  private def myers(p: UTF8String, pStart: Int, pEnd: Int,
      t: UTF8String, tStart: Int, tEnd: Int): Int = {
    val m = pEnd - pStart
    val words = (m + 63) >>> 6
    val last = words - 1
    val lastBit = 1L << ((m - 1) & 63)
    val vs = vectors.get()
    val peq = vs.peq
    val pv = vs.pv
    val mv = vs.mv
    var i = 0
    while (i < m) {
      peq(p.getByte(pStart + i) * MaxWords + (i >>> 6)) |= 1L << (i & 63)
      i += 1
    }
    var w = 0
    while (w < words) { pv(w) = -1L; mv(w) = 0L; w += 1 }
    var score = m
    var j = tStart
    while (j < tEnd) {
      val row = t.getByte(j) * MaxWords
      var hin = 1
      w = 0
      while (w < words) {
        val pvw = pv(w)
        val mvw = mv(w)
        var eq = peq(row + w)
        val xv = eq | mvw
        if (hin < 0) eq |= 1L
        val xh = (((eq & pvw) + pvw) ^ pvw) | eq
        var ph = mvw | ~(xh | pvw)
        var mh = pvw & xh
        val hout =
          if (w == last) {
            if ((ph & lastBit) != 0) 1 else if ((mh & lastBit) != 0) -1 else 0
          } else if (ph < 0) 1 else if (mh < 0) -1 else 0
        ph <<= 1
        mh <<= 1
        if (hin < 0) mh |= 1L else if (hin > 0) ph |= 1L
        pv(w) = mh | ~(xv | ph)
        mv(w) = ph & xv
        hin = hout
        w += 1
      }
      score += hin
      j += 1
    }
    // leave Peq all-zero for the next call: clear only what was set
    i = 0
    while (i < m) {
      peq(p.getByte(pStart + i) * MaxWords + (i >>> 6)) = 0L
      i += 1
    }
    score
  }

  def compute(a: UTF8String, b: UTF8String): Int = compute(a, b, Int.MaxValue)

  def levenshteinFast(a: Column, b: Column, cap: Int = Int.MaxValue): Column =
    Kernel(this, IntegerType, a, b, lit(cap))
}
