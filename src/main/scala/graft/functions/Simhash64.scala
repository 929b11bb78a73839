package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.LongType

/** 64-bit SimHash over a token array as ONE native kernel.
  *
  * The pure-HOF formulation (Features.simhash64's transform ∘ aggregate
  * ∘ zip_with vote fold) is semantically right but CodegenFallback:
  * every token paid an interpreted 64-element zip_with + transform
  * allocation pair, making the signature by far the most expensive
  * per-doc feature in the dedup family. This loop computes the
  * identical value:
  *
  *  - token hash = big-endian long of the first 8 md5 bytes — exactly
  *    Features.md5Long64 (= DuckDB's ('0x'||substr(md5(t),1,16))
  *    ::UBIGINT), same digest slice ShingleMinHash already uses for h1;
  *  - per-bit votes: bit i of the hash votes +1/-1 on vote i;
  *  - signature fold MSB-first: vote i lands at signature bit 63-i
  *    (acc = (acc << 1) | (vote > 0)) — the same left-to-right fold
  *    order as the HOF aggregate.
  *
  * Bit-for-bit identical to the HOF version on non-null token arrays
  * with non-null elements (the only inputs the dedup path produces), so
  * the exact DuckDB dedup_simhash oracle is unchanged. A NULL element is
  * an IllegalArgumentException.
  */
object Simhash64 {

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def compute(tokens: ArrayData): Long = {
    val n = tokens.numElements()
    val votes = new Array[Int](64)
    val md = md5Local.get()
    var t = 0
    while (t < n) {
      Kernel.requireNoNullElement("Simhash64", tokens, t)
      val s = tokens.getUTF8String(t)
      md.reset()
      md.update(s.getBytes)
      val d = md.digest()
      var h = 0L
      var k = 0
      while (k < 8) {
        h = (h << 8) | (d(k) & 0xFFL)
        k += 1
      }
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) votes(i) += 1 else votes(i) -= 1
        i += 1
      }
      t += 1
    }
    var acc = 0L
    var i = 0
    while (i < 64) {
      acc = (acc << 1) | (if (votes(i) > 0) 1L else 0L)
      i += 1
    }
    acc
  }

  def simhash64(tokens: Column): Column =
    Kernel(this, LongType, tokens)
}
