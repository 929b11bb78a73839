package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, LongType}

/** Dictionary-encode a string array to its sorted distinct xxhash64
  * ids as ONE native kernel — the hot-loop form of
  * `array_sort(array_distinct(transform(x, xxhash64)))`
  * (Features.dictEncode), whose `transform` HOF is CodegenFallback and
  * whose distinct/sort each allocate per row. Every records build pays
  * it per row.
  *
  * Value-identical to the HOF formulation (NativeFoldSpec pins raw
  * equality): each element hashed with Spark's own XXH64 at the
  * builtin's seed 42, then sorted ascending (signed, = array_sort on
  * longs) and deduplicated — distinct-then-sort and sort-then-unique
  * coincide on sets. A NULL element is an IllegalArgumentException
  * (every caller feeds canonical value sets, which have none).
  */
object DictEncode64 {

  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) {
      Kernel.requireNoNullElement("DictEncode64", arr, i)
      hs(i) = XXH64.hashUTF8String(arr.getUTF8String(i), 42L)
      i += 1
    }
    sortedDistinct(hs)
  }

  /** `hs` sorted ascending (signed) without repeats; sorts `hs` in place. */
  private[functions] def sortedDistinct(hs: Array[Long]): ArrayData = {
    java.util.Arrays.sort(hs)
    var m = 0
    var i = 0
    while (i < hs.length) {
      if (i == 0 || hs(i) != hs(m - 1)) { hs(m) = hs(i); m += 1 }
      i += 1
    }
    ArrayData.toArrayData(if (m == hs.length) hs else java.util.Arrays.copyOf(hs, m))
  }

  def dictEncode64(values: Column): Column =
    Kernel(this, ArrayType(LongType, containsNull = false), values)
}
