package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.ann.Ann
import graft.functions._

/** Bit-equivalence pins for the native kernels (DotFold, Simhash64,
  * DictEncode64, ShingleMinHash) against the interpreted HOF formulations
  * they replaced. The HOF reference implementations are reconstructed INLINE
  * here — exactly the expressions the operators used through round 5 —
  * so any IEEE-754 ordering or vote-fold deviation fails the build
  * instead of surfacing as a DuckDB oracle hash mismatch.
  *
  * Plus one differential table over all seven kernels: every kernel
  * column is collected under whole-stage codegen, a codegen projection
  * and the interpreted projection, on ScalaCheck-generated inputs, and
  * must match a direct call of the kernel's function on every path.
  * JaccardSorted and DotFold, which no other spec checks by value, also
  * match a reference built from Spark's own array functions.
  */
class NativeFoldSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  private lazy val vecs = {
    val rnd = new scala.util.Random(7)
    (1 to 64).map { i =>
      (i.toLong,
        Array.fill(64)(rnd.nextDouble() * 2000 - 1000),
        Array.fill(64)(rnd.nextDouble() * 2 - 1))
    }.toDF("id", "a", "b")
  }

  test("DotFold.dot is bit-identical to the aggregate∘zip_with HOF fold") {
    val hofDot = aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(0.0), (acc, v) => acc + v)
    val rows = vecs.select(
      graft.functions.DotFold.dot(col("a"), col("b")).as("fast"),
      hofDot.as("ref")).as[(Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (f, r) => assert(bits(f) == bits(r)) }
  }

  /** Builds and collects `df` with the given session confs set, then
    * restores them. By-name, so each path plans a fresh Dataset: whether
    * a Project joins whole-stage codegen is decided once, at planning.
    */
  private def collectUnder[T](df: => org.apache.spark.sql.Dataset[T],
      confs: (String, String)*): Seq[T] = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try df.collect().toSeq
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val noWholeStage = "spark.sql.codegen.wholeStage" -> "false"

  /** The three evaluation paths every kernel must agree on. */
  private val paths: Seq[(String, Seq[(String, String)])] = Seq(
    "whole-stage codegen" -> Nil,
    "codegen projection" -> Seq(noWholeStage,
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
    "interpreted" -> Seq(noWholeStage,
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  test("DotFold: mismatched lengths are NULL on the codegen and interpreted paths alike") {
    val hofDot = aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(0.0), (acc, v) => acc + v)
    val input = vecs.unionByName(Seq(
      (101L, Array(1.0, 2.0), Array(4.0, 5.0, 6.0)),
      (102L, Array.empty[Double], Array(1.0)),
      (103L, Array(3.0), Array.empty[Double]),
      (104L, Array.empty[Double], Array.empty[Double])).toDF("id", "a", "b"))
      .localCheckpoint() // a scan, so the optimizer cannot fold the projection
    def dotted = input.select(col("id"),
      graft.functions.DotFold.dot(col("a"), col("b")).as("dot"),
      when(size(col("a")) === size(col("b")), hofDot).as("ref"))
    assert(dotted.schema("dot").nullable)
    paths.foreach { case (path, confs) =>
      val rows = collectUnder(
        dotted.as[(Long, Option[Double], Option[Double])], confs: _*)
      assert(rows.size == 68, path)
      rows.foreach { case (id, dot, ref) =>
        if (id > 100 && id < 104) assert(dot.isEmpty, s"$path: row $id")
        else assert(dot.map(bits) == ref.map(bits) && dot.nonEmpty, s"$path: row $id")
      }
    }
  }

  test("Ann.cosine / cosineWithNorms are bit-identical to the HOF cosine") {
    def hofCosine(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) = {
      val dot = aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
      val na = sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v * v))
      val nb = sqrt(aggregate(b, lit(0.0), (acc, v) => acc + v * v))
      when(na > 0 && nb > 0, dot / (na * nb)).otherwise(lit(0.0))
    }
    val withZero = vecs.unionByName( // zero-norm guard path
      Seq((999L, Array.fill(64)(0.0), Array.fill(64)(1.0)))
        .toDF("id", "a", "b"))
    val rows = withZero.select(
      Ann.cosine(col("a"), col("b")).as("fast"),
      Ann.cosineWithNorms(col("a"), col("b"),
        Ann.norm(col("a")), Ann.norm(col("b"))).as("prenorm"),
      hofCosine(col("a"), col("b")).as("ref"))
      .as[(Double, Double, Double)].collect()
    rows.foreach { case (f, p, r) =>
      assert(bits(f) == bits(r))
      assert(bits(p) == bits(r))
    }
  }

  test("DictEncode64 is identical to array_sort∘array_distinct∘transform(xxhash64)") {
    val sets = Seq(
      Seq("the", "quick", "brown", "fox", "the", "fox"), // dups
      Seq("one"),
      Seq.empty[String],
      Seq("unicode", "tøkens", "日本語", "mixed", "case", "日本語"),
      (1 to 500).map(i => s"tok${i % 200}") // heavy dup tail
    ).toDF("vals")
    val hof = array_sort(array_distinct(transform(col("vals"), x => xxhash64(x))))
    val rows = sets.select(
      graft.ops.Features.dictEncode(col("vals")).as("fast"),
      hof.as("ref")).as[(Seq[Long], Seq[Long])].collect()
    assert(rows.length == 5)
    rows.foreach { case (f, r) => assert(f == r) }
  }

  test("Simhash64 expression is bit-identical to the HOF vote fold") {
    // the exact round-5 Features.simhash64 formulation, inlined
    def hofSimhash(tokens: org.apache.spark.sql.Column) = {
      val hashes = transform(tokens, x => graft.ops.Features.md5Long64(x))
      val votes = aggregate(hashes,
        array_repeat(lit(0L), 64),
        (acc, h) => zip_with(acc,
          transform(sequence(lit(0), lit(63)),
            i => when(call_function("shiftrightunsigned", h, i)
                .bitwiseAND(lit(1L)) === 1L, lit(1L))
              .otherwise(lit(-1L))),
          (a, b) => a + b))
      aggregate(votes, lit(0L),
        (acc, v) => shiftleft(acc, 1) + when(v > 0, lit(1L)).otherwise(lit(0L)))
    }
    val docs = Seq(
      Seq("the", "quick", "brown", "fox", "jumps"),
      Seq("one"),
      Seq.empty[String],
      Seq("unicode", "tøkens", "日本語", "mixed", "case"),
      (1 to 200).map(i => s"tok$i")
    ).toDF("toks")
    val rows = docs.select(
      graft.ops.Features.simhash64(col("toks")).as("fast"),
      hofSimhash(col("toks")).as("ref")).as[(Long, Long)].collect()
    assert(rows.length == 5)
    rows.foreach { case (f, r) => assert(f == r) }
  }

  // ---- differential table: all seven kernels on all three paths ----

  /** `n` samples of `g` from a fixed seed, so the table is reproducible. */
  private def sample[A](g: Gen[A], n: Int, seed: Long): Seq[A] =
    Gen.listOfN(n, g).pureApply(Gen.Parameters.default.withSize(12), Seed(seed))

  private def orNull[A](g: Gen[A]): Gen[Option[A]] =
    Gen.frequency(1 -> Gen.const(None), 6 -> g.map(Some(_)))

  /** Generated rows plus fixed edge rows, numbered as the `id` column. */
  private def numbered[A](g: Gen[A], seed: Long, edges: A*): Seq[(Long, A)] =
    (sample(g, 80, seed) ++ edges).zipWithIndex.map { case (r, i) => (i.toLong, r) }

  private val char = Gen.frequency(
    4 -> Gen.alphaNumChar, 1 -> Gen.oneOf(' ', 'é', 'ø', 'λ', '字', '日'))
  // ASCII text past one 64-bit word, so the bit-parallel Levenshtein and
  // Jaro-Winkler paths run with several words; the small alphabet makes
  // repeated characters compete for matches
  private val longText = Gen.oneOf(Gen.alphaNumChar, Gen.oneOf('a', 'b', ' '))
    .flatMap(c => Gen.choose(60, 200).flatMap(Gen.listOfN(_, c))).map(_.mkString)
  private val text = Gen.frequency(
    4 -> Gen.choose(0, 24).flatMap(Gen.listOfN(_, char)).map(_.mkString),
    1 -> longText)
  private val nearDup = for {
    a <- longText
    at <- Gen.choose(0, a.length - 1)
    c <- Gen.alphaNumChar
  } yield (Option(a), Option(a.updated(at, c)))
  private val texts = Gen.choose(0, 6).flatMap(Gen.listOfN(_, text))
  private val ids = Gen.containerOf[Set, Long](Gen.choose(-6L, 6L)).map(_.toSeq.sorted)
  private val vec = Gen.choose(0, 4).flatMap(Gen.listOfN(_, Gen.choose(-1000.0, 1000.0)))

  // edge rows: NULL on either side, empty values, multibyte text,
  // mismatched lengths
  private lazy val textPairs = numbered(
    Gen.frequency(3 -> Gen.zip(orNull(text), orNull(text)), 1 -> nearDup), 1,
    (None, Some("x")), (Some(""), Some("")), (Some(""), Some("abc")),
    (Some("日本語のテキスト"), Some("日本語テキスト")), (Some("aéλ字 prefix"), Some("aéλ字 other")))
    .map { case (i, (a, b)) => (i, a, b) }.toDF("id", "a", "b")
  private lazy val idPairs = numbered(Gen.zip(orNull(ids), orNull(ids)), 2,
    (Some(Seq(1L)), None), (Some(Seq.empty[Long]), Some(Seq.empty[Long])),
    (Some(Seq.empty[Long]), Some(Seq(-3L, 4L))), (Some(Seq(Long.MinValue, 0L)), Some(Seq(0L))))
    .map { case (i, (a, b)) => (i, a, b) }.toDF("id", "a", "b")
  private lazy val vecPairs = numbered(Gen.zip(orNull(vec), orNull(vec)), 3,
    (None, Some(Seq(1.0))), (Some(Seq.empty[Double]), Some(Seq.empty[Double])),
    (Some(Seq(1.0, 2.0)), Some(Seq(4.0, 5.0, 6.0))), (Some(Seq(3.0)), Some(Seq(-0.5))))
    .map { case (i, (a, b)) => (i, a, b) }.toDF("id", "a", "b")
  // as token arrays: rows under 3 tokens (no shingle), empty tokens,
  // multibyte tokens and repeated windows
  private lazy val textSets = numbered(orNull(texts), 4,
    None, Some(Seq.empty[String]), Some(Seq("")), Some(Seq("日本語", "tøkens", "aéλ字")),
    Some(Seq("a", "b")), Some(Seq("a", "", "b", "")),
    Some(Seq("日本", "語の", "テキスト", "tøk", "日本", "語の", "テキスト")),
    Some(Seq.fill(9)("x")))
    .toDF("id", "a")

  private def utf8(r: Row, i: Int) = UTF8String.fromString(r.getString(i))
  private def strings(r: Row, i: Int): ArrayData =
    new GenericArrayData(r.getSeq[String](i).map(UTF8String.fromString).toArray[Any])
  private def longs(r: Row, i: Int) = ArrayData.toArrayData(r.getSeq[Long](i).toArray)
  private def doubles(r: Row, i: Int) = ArrayData.toArrayData(r.getSeq[Double](i).toArray)

  /** The word k-shingles as the records were shingled before the
    * ShingleMinHash kernel: a transform(sequence(…)) lambda.
    */
  private def hofShingles(tokens: Column, k: Int): Column =
    when(size(tokens) >= k,
      transform(sequence(lit(0), size(tokens) - k),
        i => concat_ws(" ", (0 until k).map(j => element_at(tokens, i + j + 1)): _*))
    ).when(tokens.isNotNull, array().cast("array<string>"))

  /** The band labels of 16 bands × 2 rows over a set of shingle STRINGS:
    * the loop of the MinHashBands kernel ShingleMinHash replaced (md5
    * per shingle, h1 + i·h2 bank, unsigned minima, "M|b|m0|m1").
    */
  private val stringShingleBands = udf { (shingles: Seq[String]) =>
    if (shingles == null) null
    else if (shingles.isEmpty) Seq.empty[String]
    else {
      val mins = Array.fill(32)(-1L)
      shingles.foreach { sh =>
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(sh.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val h1 = (0 until 8).foldLeft(0L)((h, k) => (h << 8) | (d(k) & 0xFFL))
        val h2 = (0 until 8).foldLeft(0L)((h, k) => (h << 8) | (d(k + 8) & 0xFFL))
        (0 until 32).foreach { i =>
          val v = h1 + i * h2
          if (java.lang.Long.compareUnsigned(v, mins(i)) < 0) mins(i) = v
        }
      }
      (0 until 16).map(b => s"M|$b|${java.lang.Long.toUnsignedString(mins(2 * b))}|" +
        java.lang.Long.toUnsignedString(mins(2 * b + 1)))
    }
  }

  /** One kernel of the table: its column over `input`'s non-id columns,
    * the kernel function called directly on a row without NULLs, and
    * optionally a reference column built from Spark's own functions —
    * the only check that catches a wrong value every path shares.
    */
  private case class KernelCase(name: String, input: DataFrame, column: Column,
      direct: Row => Any, rejectsNullElement: Boolean = false,
      reference: Option[Column] = None)

  private lazy val kernels = Seq(
    KernelCase("JaroWinkler", textPairs,
      JaroWinkler.jaroWinkler(col("a"), col("b"), 12),
      r => JaroWinkler.similarity(utf8(r, 1), utf8(r, 2), 12)),
    KernelCase("LevenshteinFast", textPairs,
      LevenshteinFast.levenshteinFast(col("a"), col("b"), 12),
      r => LevenshteinFast.compute(utf8(r, 1), utf8(r, 2), 12)),
    KernelCase("JaroWinkler (cap 130)", textPairs,
      JaroWinkler.jaroWinkler(col("a"), col("b"), 130),
      r => JaroWinkler.similarity(utf8(r, 1), utf8(r, 2), 130)),
    KernelCase("LevenshteinFast (cap 130)", textPairs,
      LevenshteinFast.levenshteinFast(col("a"), col("b"), 130),
      r => LevenshteinFast.compute(utf8(r, 1), utf8(r, 2), 130)),
    KernelCase("JaccardSorted", idPairs,
      JaccardSorted.jaccardSorted(col("a"), col("b")),
      r => JaccardSorted.compute(longs(r, 1), longs(r, 2)),
      reference = Some {
        val union = size(array_union(col("a"), col("b")))
        when(union === 0, lit(0.0))
          .otherwise(size(array_intersect(col("a"), col("b"))).cast("double") / union)
      }),
    KernelCase("DotFold", vecPairs,
      DotFold.dot(col("a"), col("b")),
      r => if (r.getSeq(1).size != r.getSeq(2).size) null
        else DotFold.compute(doubles(r, 1), doubles(r, 2)),
      reference = Some(when(size(col("a")) === size(col("b")),
        aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0.0),
          (acc, v) => acc + v)))),
    KernelCase("ShingleMinHash", textSets,
      ShingleMinHash.bandLabels(ShingleMinHash.minima(col("a"), 3, 32), 16, 2),
      r => ShingleMinHash.bandLabels(ShingleMinHash.compute(strings(r, 1), 3, 32), 16, 2)
        .toObjectArray(StringType).toSeq.map(_.toString), rejectsNullElement = true,
      reference = Some(stringShingleBands(array_distinct(hofShingles(col("a"), 3))))),
    KernelCase("ShingleMinHash.signature", textSets,
      ShingleMinHash.signature(col("a"), 3, 32),
      r => {
        val sig = ShingleMinHash.signature(strings(r, 1), 3, 32)
        Seq(sig.getArray(0).toLongArray().toSeq, sig.getArray(1).toLongArray().toSeq)
      }, rejectsNullElement = true,
      // the shingle ids are the dictionary ids of the shingle strings
      reference = Some(when(col("a").isNotNull, struct(ShingleMinHash.minima(col("a"), 3, 32),
        graft.ops.Features.dictEncode(array_distinct(hofShingles(col("a"), 3))))))),
    KernelCase("ShingleMinHash.bandKeys", textSets,
      ShingleMinHash.bandKeys(ShingleMinHash.minima(col("a"), 3, 32), 16, 2),
      r => ShingleMinHash.bandKeys(ShingleMinHash.compute(strings(r, 1), 3, 32), 16, 2)
        .toLongArray().toSeq,
      reference = Some {
        // Spark's own tagged xxhash64 chain over (band, its two minima)
        val m = ShingleMinHash.minima(col("a"), 3, 32)
        when(size(m) > 0, array((0 until 16).map(b => xxhash64(lit("minhash"), lit(b.toLong),
          element_at(m, 2 * b + 1), element_at(m, 2 * b + 2))): _*))
          .when(size(m) === 0, array().cast("array<bigint>"))
      }),
    KernelCase("Simhash64", textSets,
      Simhash64.simhash64(col("a")),
      r => Simhash64.compute(strings(r, 1)), rejectsNullElement = true),
    KernelCase("DictEncode64", textSets,
      DictEncode64.dictEncode64(col("a")),
      r => DictEncode64.compute(strings(r, 1)).toLongArray().toSeq, rejectsNullElement = true))

  /** Doubles by raw bits, arrays and structs as lists: exact comparison
    * of results.
    */
  private def exact(v: Any): Any = v match {
    case d: Double => bits(d)
    case s: scala.collection.Seq[_] => s.map(exact).toList
    case r: Row => r.toSeq.map(exact).toList
    case x => x
  }

  test("differential table: all seven kernels agree on every path with a direct call") {
    kernels.foreach { k =>
      // a scan, so the optimizer cannot evaluate the projection itself
      val input = k.input.localCheckpoint()
      val expected = input.collect().map { r =>
        val anyNull = (1 until r.length).exists(r.isNullAt)
        r.getLong(0) -> exact(if (anyNull) null else k.direct(r))
      }.toMap
      k.reference.foreach { ref =>
        input.select(col("id"), ref).collect().foreach { r =>
          assert(exact(r.get(1)) == expected(r.getLong(0)),
            s"${k.name} / reference: row ${r.getLong(0)}")
        }
      }
      paths.foreach { case (path, confs) =>
        val rows = collectUnder(input.select(col("id"), k.column), confs: _*)
        assert(rows.size == expected.size, s"${k.name} / $path")
        rows.foreach { r =>
          assert(exact(r.get(1)) == expected(r.getLong(0)), s"${k.name} / $path: row ${r.getLong(0)}")
        }
      }
      // result nullability is the inputs' (DotFold adds the length check)
      assert(input.select(k.column).schema.head.nullable, k.name)
      val nonNull = spark.createDataFrame(input.na.drop().rdd,
        StructType(input.schema.map(_.copy(nullable = false))))
      assert(nonNull.select(k.column).schema.head.nullable == (k.name == "DotFold"), k.name)
    }
  }

  test("a NULL array element fails with an error naming the kernel on every path") {
    val input = Seq((1L, Seq("ok", "fine")), (2L, Seq("x", null, "y")))
      .toDF("id", "a").localCheckpoint()
    for (k <- kernels if k.rejectsNullElement; (path, confs) <- paths) {
      val e = intercept[Exception](collectUnder(input.select(k.column), confs: _*))
      val named = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).exists {
        case iae: IllegalArgumentException => iae.getMessage.contains(k.name)
        case _ => false
      }
      assert(named, s"${k.name} / $path: $e")
    }
  }
}
