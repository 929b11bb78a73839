package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{size, when}
import org.apache.spark.sql.types.DoubleType

/** Sequential-fold dot product of two double arrays as ONE native
  * kernel.
  *
  * The cosine family (Ann.cosine, Dedup.embeddingCosinePairs) was built
  * on `aggregate(zip_with(a, b, _*_), 0.0, _+_)` — semantically exactly
  * this fold, but Spark's higher-order functions are CodegenFallback:
  * every pair paid three interpreted folds (dot + both norms) with a
  * zip_with array allocation each, and the pair side of a block
  * self-join evaluates them O(pairs) times. This kernel is the
  * identical IEEE-754 arithmetic — acc = acc + a(i)*b(i), left to
  * right — in one allocation-free loop, so every similarity value is
  * bit-for-bit unchanged (the DuckDB oracles stay hash-exact) while the
  * per-pair cost drops to a 64-iteration primitive loop inside
  * whole-stage codegen.
  *
  * Norms reuse it as sqrt(dot(a, a)) — again the same fold the HOF
  * version computed (acc + v*v per step).
  *
  * Arrays of different lengths have no dot product: the column is NULL
  * for them rather than a silently truncated fold. The length check is a
  * Catalyst `when` around the call, so every evaluation path shares it.
  * Elements must be non-null (embeddings are fixed-dim, dense by
  * construction).
  */
object DotFold {

  /** `dot` checks that the lengths are equal. */
  def compute(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc = acc + a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }

  def dot(a: Column, b: Column): Column =
    when(size(a) === size(b), Kernel(this, DoubleType, a, b))
}
