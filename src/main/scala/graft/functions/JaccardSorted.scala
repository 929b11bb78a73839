package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.DoubleType

/** Exact Jaccard similarity of two SORTED, DEDUPLICATED id arrays as one
  * allocation-free merge scan.
  *
  * Spark's `array_intersect` + `array_union` each build a hash set and a
  * result array PER ROW — at ~10⁶ scored pairs/batch that allocation
  * rate dominates GC and caps multi-core scaling. Our value sets are
  * canonically `array_sort(array_distinct(...))` (SURVEY.md §7.4
  * determinism rule), so intersection/union sizes come from a single
  * merge pass with zero allocation.
  *
  * Inputs are dictionary-encoded value sets (Features.dictEncode: xxhash64
  * of each element, sorted) — 8 bytes/element vs pointer + UTF8String, so
  * the shuffled/cached pair payload and the per-pair memory traffic drop
  * several-fold. Memory bandwidth was the measured non-scaling term in
  * the 8-core vs 32-core comparison (BENCH.md round 1). Every caller
  * passes such ids: the token_ids of records and fused entities, and
  * dedup's shingle_ids.
  *
  * Semantics are bit-identical to
  * size(array_intersect)/size(array_union) on sorted-distinct inputs
  * (integer ratio in double division) — the DuckDB oracle is unchanged.
  */
object JaccardSorted {

  /** Inputs must be sorted + deduplicated; verified cheap in tests,
    * assumed in the hot path.
    */
  def compute(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na == 0 && nb == 0) return 0.0
    var i = 0
    var j = 0
    var inter = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    val union = na + nb - inter
    inter.toDouble / union.toDouble
  }

  def jaccardSorted(a: Column, b: Column): Column =
    Kernel(this, DoubleType, a, b)
}
