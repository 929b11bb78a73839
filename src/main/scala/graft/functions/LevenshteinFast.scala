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
  * compares against the built-in on random inputs incl. multibyte):
  *
  *  - ASCII × ASCII (the overwhelming case; `isFullAscii` is one vector
  *    scan): common prefix/suffix stripping — exact, and near-dup pairs
  *    (the match-heavy part of the workload) strip almost everything —
  *    then a two-row int DP directly over the bytes;
  *  - anything multibyte: delegate to Spark's own
  *    `UTF8String.levenshteinDistance`, so semantics cannot drift.
  *
  * Thread-local row buffer: zero allocation per row at any input size
  * (executor threads are long-lived; 2 KB per thread at the 512 cap).
  */
object LevenshteinFast {

  /** Hard input guard: scoring always caps its inputs (MaxSimTextLen),
    * the buffer just needs a safe upper bound.
    */
  private val MaxLen = 512

  private val rowBuf = new ThreadLocal[Array[Int]] {
    override def initialValue(): Array[Int] = new Array[Int](MaxLen + 1)
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
    val n = aEnd - aStart
    val m = bEnd - bStart
    if (n == 0) return m
    if (m == 0) return n
    val row = rowBuf.get()
    var j = 0
    while (j <= m) { row(j) = j; j += 1 }
    var i = 1
    while (i <= n) {
      val ca = a.getByte(aStart + i - 1)
      var diag = row(0) // row[i-1][j-1]
      row(0) = i
      j = 1
      while (j <= m) {
        val up = row(j) // row[i-1][j]
        val cost = if (ca == b.getByte(bStart + j - 1)) diag else diag + 1
        val del = up + 1
        val ins = row(j - 1) + 1
        var v = if (del < ins) del else ins
        if (cost < v) v = cost
        diag = up
        row(j) = v
        j += 1
      }
      i += 1
    }
    row(m)
  }

  def compute(a: UTF8String, b: UTF8String): Int = compute(a, b, Int.MaxValue)

  def levenshteinFast(a: Column, b: Column, cap: Int = Int.MaxValue): Column =
    Kernel(this, IntegerType, a, b, lit(cap))
}
