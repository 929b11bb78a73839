package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** MinHash-LSH band keys as ONE native kernel.
  *
  * The pure-HOF formulation (transform ∘ aggregate ∘ least over a hash
  * bank, SURVEY.md §4.2) is semantically right but Spark's higher-order
  * functions are CodegenFallback — b×r nested aggregates evaluate
  * interpreted per row, which a thread dump showed dominating the
  * feature stage. This kernel does the whole signature in one tight
  * loop; codegen emits a single static call (Kernel, like every other
  * kernel). A NULL element is an IllegalArgumentException.
  *
  * Hash family — chosen to be ENGINE-PORTABLE, not engine-specific:
  * each element is hashed once with md5; the first two 64-bit words of
  * the digest (h1, h2, big-endian — exactly DuckDB's
  * ('0x' || substr(md5(x), 1|17, 16))::UBIGINT) seed the classic
  * double-hashing bank h_i(x) = h1 + i·h2 with wrap-around arithmetic
  * (Kirsch & Mitzenmacher 2006 — public knowledge, standard for Bloom/
  * MinHash banks). Minima are tracked with UNSIGNED comparison and band
  * keys carry the r raw minima as unsigned decimals ("M|b|m0|m1"), so a
  * SQL engine reproduces every band key bit-for-bit:
  * (h1::HUGEINT + i*h2::HUGEINT) % 2^64 → min → string_agg. That turns
  * every MinHash-derived driver query (blocks, full-universe pairs,
  * scored pairs, dedup) from rows-only checks into exact DuckDB
  * oracles. One md5 (~0.3 µs) replaces 32 splitmix64 remixes per
  * element — same cost class; the affine bank is 1 add per hash.
  *
  * Cost: O(|set| × numHashes) long ops + one md5 per element; no
  * allocation beyond the digest buffer and the output strings.
  */
object MinHashBands {

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def compute(arr: ArrayData, bands: Int, rowsPerBand: Int): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val nh = bands * rowsPerBand
    val mins = new Array[Long](nh)
    java.util.Arrays.fill(mins, -1L) // unsigned max
    val md = md5Local.get()
    var i = 0
    while (i < n) {
      Kernel.requireNoNullElement("MinHashBands", arr, i)
      val s = arr.getUTF8String(i)
      md.reset()
      md.update(s.getBytes)
      val d = md.digest()
      var h1 = 0L
      var h2 = 0L
      var k = 0
      while (k < 8) {
        h1 = (h1 << 8) | (d(k) & 0xFFL)
        h2 = (h2 << 8) | (d(k + 8) & 0xFFL)
        k += 1
      }
      // h_i = h1 + i*h2 (wrapping), iterated additively
      var v = h1
      var h = 0
      while (h < nh) {
        if (java.lang.Long.compareUnsigned(v, mins(h)) < 0) mins(h) = v
        v += h2
        h += 1
      }
      i += 1
    }
    val out = new Array[Any](bands)
    val sb = new java.lang.StringBuilder(64)
    var b = 0
    while (b < bands) {
      sb.setLength(0)
      sb.append("M|").append(b)
      var r = 0
      while (r < rowsPerBand) {
        sb.append('|')
          .append(java.lang.Long.toUnsignedString(mins(b * rowsPerBand + r)))
        r += 1
      }
      out(b) = UTF8String.fromString(sb.toString)
      b += 1
    }
    new GenericArrayData(out)
  }

  def minhashBands(shingles: Column, bands: Int, rowsPerBand: Int): Column =
    Kernel(this, ArrayType(StringType, containsNull = false),
      shingles, lit(bands), lit(rowsPerBand))
}
