package graft.util

/** Deterministic, partition-independent hashing for synthetic-data
  * generation and stable sampling.
  *
  * The reference's SyntheticDatabase uses a seeded Python RNG
  * (reference: python/database.py::SyntheticDatabase [PK-med, see
  * SURVEY.md §0 provenance policy — /root/reference was empty at survey
  * time]). A stateful RNG is partition-order-dependent on Spark, so we
  * replace it with a pure function of (seed, ids...) built on the public
  * splitmix64 finalizer (Steele et al., "Fast splittable pseudorandom
  * number generators", OOPSLA 2014). Identical output under any
  * partitioning / task retry.
  */
object Hashing {

  /** splitmix64 mix step. */
  def mix64(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Combine an arbitrary tuple of longs into one stable 64-bit hash. */
  def mix(parts: Long*): Long =
    parts.foldLeft(0x2545F4914F6CDD1DL)((acc, p) => mix64(acc ^ mix64(p)))

  /** Uniform double in [0, 1). */
  def unit(parts: Long*): Double =
    (mix(parts: _*) >>> 11).toDouble / (1L << 53).toDouble

  /** Uniform int in [0, n). */
  def range(n: Int, parts: Long*): Int = {
    require(n > 0)
    ((mix(parts: _*) >>> 1) % n).toInt
  }

  /** Lowercase hex of a byte array (matches DuckDB md5()/hex output). */
  def bytesToHex(bytes: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      sb.append(Character.forDigit((bytes(i) >> 4) & 0xF, 16))
      sb.append(Character.forDigit(bytes(i) & 0xF, 16))
      i += 1
    }
    sb.toString
  }

  /** JVM-side md5 hex digest of a UTF-8 string — the driver-side
    * (plain-Scala) twin of `Features.md5Long64`'s Column expression and
    * of DuckDB's `md5(x)`: identical lowercase-hex output on all three,
    * which is what makes generators built on it exactly reproducible in
    * oracle SQL.
    */
  def md5Hex(s: String): String =
    bytesToHex(java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))

  /** First 16 hex chars of md5(s) as an unsigned 64-bit value (in a
    * signed Long carrier) — `('0x' || substr(md5(s),1,16))::UBIGINT` in
    * DuckDB.
    */
  def md5Long64(s: String): Long =
    java.lang.Long.parseUnsignedLong(md5Hex(s).substring(0, 16), 16)
}
