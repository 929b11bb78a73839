package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ann.Ann

/** Bit-equivalence pins for the round-6 native codegen expressions
  * (DotFold, Simhash64) against the interpreted HOF formulations they
  * replaced. The HOF reference implementations are reconstructed INLINE
  * here — exactly the expressions the operators used through round 5 —
  * so any IEEE-754 ordering or vote-fold deviation fails the build
  * instead of surfacing as a DuckDB oracle hash mismatch.
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

  /** Collects `df` with the given session confs set, then restores them. */
  private def collectUnder[T](df: org.apache.spark.sql.Dataset[T],
      confs: (String, String)*): Seq[T] = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try df.collect().toSeq
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("DotFold: mismatched lengths are NULL on the codegen and interpreted paths alike") {
    val hofDot = aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(0.0), (acc, v) => acc + v)
    val input = vecs.unionByName(Seq(
      (101L, Array(1.0, 2.0), Array(4.0, 5.0, 6.0)),
      (102L, Array.empty[Double], Array(1.0)),
      (103L, Array(3.0), Array.empty[Double]),
      (104L, Array.empty[Double], Array.empty[Double])).toDF("id", "a", "b"))
      .localCheckpoint() // a scan, so the optimizer cannot fold the projection
    val dotted = input.select(col("id"),
      graft.functions.DotFold.dot(col("a"), col("b")).as("dot"),
      when(size(col("a")) === size(col("b")), hofDot).as("ref"))
    assert(dotted.schema("dot").nullable)
    val typed = dotted.as[(Long, Option[Double], Option[Double])]
    val noWholeStage = "spark.sql.codegen.wholeStage" -> "false"
    val paths = Seq(
      "whole-stage codegen" -> collectUnder(typed),
      "codegen projection" -> collectUnder(typed, noWholeStage,
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
      "interpreted" -> collectUnder(typed, noWholeStage,
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
    paths.foreach { case (path, rows) =>
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
}
