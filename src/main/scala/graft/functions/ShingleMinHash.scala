package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Word k-shingles hashed straight from a token array, as ONE native
  * kernel: the MinHash minima the LSH bands are cut from and, for
  * dedup, the shingles' dictionary ids. No shingle string is built.
  *
  * Each k-token window's bytes — the tokens' UTF-8 joined by single
  * spaces, exactly the bytes of `concat_ws(" ", t_i, …, t_{i+k-1})` —
  * are assembled in a reused buffer and fed to
  *  - md5, whose first two big-endian 64-bit words (h1, h2 — DuckDB's
  *    ('0x' || substr(md5(x), 1|17, 16))::UBIGINT) seed the
  *    double-hashing bank h_i(x) = h1 + i·h2 with wrap-around arithmetic
  *    (Kirsch & Mitzenmacher 2006); minima are tracked with UNSIGNED
  *    comparison, so a SQL engine reproduces each one bit-for-bit:
  *    (h1::HUGEINT + i*h2::HUGEINT) % 2^64 → min;
  *  - XXH64 at seed 42, Spark's `xxhash64` of the shingle string, so the
  *    sorted distinct ids equal `Features.dictEncode` of the shingle set.
  * A minimum over a set does not see duplicates, so repeated windows
  * need no distinct pass. Fewer than k tokens have no shingle: empty
  * minima, empty ids.
  *
  * Band keys and their "M|b|m0|m1" labels are cut from the minima by
  * `bandKeys` and `bandLabels`. A NULL element is an
  * IllegalArgumentException.
  *
  * Cost per window: k byte copies, one md5, one XXH64 (ids only) and
  * numHashes add/compare steps; no allocation beyond the outputs.
  */
object ShingleMinHash {

  /** XXH64 state after the minhash family's tag: a band key is Spark's
    * xxhash64("minhash", band, m_0, …, m_{r-1}) over that band's minima,
    * the tagged chain the strong and time keys use too (Blocking).
    */
  val BandKeySeed: Long = XXH64.hashUTF8String(UTF8String.fromString("minhash"), 42L)

  private final class Scratch {
    val md5: java.security.MessageDigest = java.security.MessageDigest.getInstance("MD5")
    val digest = new Array[Byte](16)
    var buf = new Array[Byte](256)
  }

  private val scratch = ThreadLocal.withInitial[Scratch](() => new Scratch)

  private val emptyLongs = ArrayData.toArrayData(Array.empty[Long])

  /** Hashes every k-token window: its md5 bank into `mins` and, unless
    * `ids` is null, its XXH64 into `ids(i)`.
    */
  private def walk(tokens: ArrayData, k: Int, mins: Array[Long], ids: Array[Long]): Unit = {
    val n = tokens.numElements()
    val s = scratch.get()
    val nh = mins.length
    var w = 0
    while (w + k <= n) {
      var len = k - 1
      var j = 0
      while (j < k) { len += tokens.getUTF8String(w + j).numBytes(); j += 1 }
      if (s.buf.length < len) s.buf = new Array[Byte](math.max(len, 2 * s.buf.length))
      val buf = s.buf
      var off = 0
      j = 0
      while (j < k) {
        if (j > 0) { buf(off) = ' '; off += 1 }
        val t = tokens.getUTF8String(w + j)
        t.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + off)
        off += t.numBytes()
        j += 1
      }
      if (ids != null) ids(w) = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, len, 42L)
      s.md5.update(buf, 0, len)
      s.md5.digest(s.digest, 0, 16)
      val d = s.digest
      var h1 = 0L
      var h2 = 0L
      var b = 0
      while (b < 8) {
        h1 = (h1 << 8) | (d(b) & 0xFFL)
        h2 = (h2 << 8) | (d(b + 8) & 0xFFL)
        b += 1
      }
      // h_i = h1 + i*h2 (wrapping), iterated additively
      var v = h1
      var h = 0
      while (h < nh) {
        if (java.lang.Long.compareUnsigned(v, mins(h)) < 0) mins(h) = v
        v += h2
        h += 1
      }
      w += 1
    }
  }

  /** Number of k-token windows, after the NULL-element check. */
  private def windows(kernel: String, tokens: ArrayData, k: Int): Int = {
    val n = tokens.numElements()
    var i = 0
    while (i < n) { Kernel.requireNoNullElement(kernel, tokens, i); i += 1 }
    math.max(0, n - k + 1)
  }

  private def bank(numHashes: Int): Array[Long] = {
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, -1L) // unsigned max
    mins
  }

  /** The `numHashes` unsigned shingle minima (stored as signed longs). */
  def compute(tokens: ArrayData, k: Int, numHashes: Int): ArrayData = {
    if (windows("ShingleMinHash", tokens, k) == 0) return emptyLongs
    val mins = bank(numHashes)
    walk(tokens, k, mins, null)
    ArrayData.toArrayData(mins)
  }

  /** Minima and shingle ids from one walk: (minima, shingle_ids). */
  def signature(tokens: ArrayData, k: Int, numHashes: Int): InternalRow = {
    val w = windows("ShingleMinHash.signature", tokens, k)
    if (w == 0) return new GenericInternalRow(Array[Any](emptyLongs, emptyLongs))
    val mins = bank(numHashes)
    val ids = new Array[Long](w)
    walk(tokens, k, mins, ids)
    new GenericInternalRow(Array[Any](ArrayData.toArrayData(mins), DictEncode64.sortedDistinct(ids)))
  }

  /** One 64-bit key per band: XXH64 over (band, its rowsPerBand minima),
    * chained from `BandKeySeed` as Spark's multi-column xxhash64 chains.
    * Empty minima have no band.
    */
  def bandKeys(minima: ArrayData, bands: Int, rowsPerBand: Int): ArrayData = {
    if (minima.numElements() == 0) return emptyLongs
    requireBank("ShingleMinHash.bandKeys", minima, bands, rowsPerBand)
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = XXH64.hashLong(b.toLong, BandKeySeed)
      var r = 0
      while (r < rowsPerBand) { h = XXH64.hashLong(minima.getLong(b * rowsPerBand + r), h); r += 1 }
      out(b) = h
      b += 1
    }
    ArrayData.toArrayData(out)
  }

  /** The band keys' labels, "M|b|m0|m1" with unsigned decimal minima —
    * the form the DuckDB oracle derives.
    */
  def bandLabels(minima: ArrayData, bands: Int, rowsPerBand: Int): ArrayData = {
    if (minima.numElements() == 0) return new GenericArrayData(Array.empty[Any])
    requireBank("ShingleMinHash.bandLabels", minima, bands, rowsPerBand)
    val out = new Array[Any](bands)
    val sb = new java.lang.StringBuilder(64)
    var b = 0
    while (b < bands) {
      sb.setLength(0)
      sb.append("M|").append(b)
      var r = 0
      while (r < rowsPerBand) {
        sb.append('|').append(java.lang.Long.toUnsignedString(minima.getLong(b * rowsPerBand + r)))
        r += 1
      }
      out(b) = UTF8String.fromString(sb.toString)
      b += 1
    }
    new GenericArrayData(out)
  }

  private def requireBank(kernel: String, minima: ArrayData, bands: Int, rowsPerBand: Int): Unit = {
    if (minima.numElements() != bands * rowsPerBand)
      throw new IllegalArgumentException(s"$kernel: ${minima.numElements()} minima " +
        s"for $bands bands of $rowsPerBand")
    var i = 0
    while (i < minima.numElements()) { Kernel.requireNoNullElement(kernel, minima, i); i += 1 }
  }

  private val longs = ArrayType(LongType, containsNull = false)

  def minima(tokens: Column, k: Int, numHashes: Int): Column =
    Kernel(this, longs, tokens, lit(k), lit(numHashes))

  def signature(tokens: Column, k: Int, numHashes: Int): Column =
    Kernel(this, "signature", StructType(Seq(
      StructField("minima", longs, nullable = false),
      StructField("shingle_ids", longs, nullable = false))),
      tokens, lit(k), lit(numHashes))

  def bandKeys(minima: Column, bands: Int, rowsPerBand: Int): Column =
    Kernel(this, "bandKeys", longs, minima, lit(bands), lit(rowsPerBand))

  def bandLabels(minima: Column, bands: Int, rowsPerBand: Int): Column =
    Kernel(this, "bandLabels", ArrayType(StringType, containsNull = false),
      minima, lit(bands), lit(rowsPerBand))
}
