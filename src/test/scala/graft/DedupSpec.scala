package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog today"),
    (2L, "THE QUICK  brown fox; jumps over the lazy dog today!"), // normalizes to 1
    (3L, "the quick brown fox jumps over the lazy cat today"),    // near-dup of 1
    (4L, "completely different content about spark engines and shuffles"),
    (5L, "the quick brown fox jumps over the lazy dog today")     // exact dup of 1
  ).toDF("doc_id", "text")

  test("exact dedup groups normalized-identical docs, keeps min id") {
    val rows = Dedup.exact(docs)
      .select("doc_id", "keep_id", "group_size", "is_dup")
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(rows(1L) == ((1L, 3L, false)))
    assert(rows(2L) == ((1L, 3L, true)))
    assert(rows(5L) == ((1L, 3L, true)))
    assert(rows(3L) == ((3L, 1L, false)))
    assert(rows(4L) == ((4L, 1L, false)))
  }

  test("ngram jaccard finds the near-dup pair") {
    val pairs = Dedup.ngramJaccardPairs(docs, 0.5)
      .select("a_doc", "b_doc").as[(Long, Long)].collect().toSet
    // 1,2,5 identical shingle sets; 3 shares most shingles with them
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 5L)) && pairs.contains((2L, 5L)))
    assert(pairs.contains((1L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhash-LSH pairs = exact ngram-jaccard pairs at the same tau") {
    // the LSH path is an approximation of ngramJaccardPairs: identical
    // shingle sets always collide on all bands, so at this scale the
    // verified outputs must coincide with the exact inverted-index op
    val got = Dedup.minhashPairs(docs, 0.5)
      .select("a_doc", "b_doc").as[(Long, Long)].collect().toSet
    val exact = Dedup.ngramJaccardPairs(docs, 0.5)
      .select("a_doc", "b_doc").as[(Long, Long)].collect().toSet
    assert(got.subsetOf(exact))
    assert(got.contains((1L, 2L)) && got.contains((1L, 5L)) && got.contains((2L, 5L)))
    assert(!got.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("shingle bands: identical docs share every bigint band, none below 3 tokens") {
    val short = Seq((6L, "just two")).toDF("doc_id", "text")
    val rows = Dedup.withShingleBands(docs.unionByName(short))
      .select("doc_id", "shingle_ids", "bands").as[(Long, Seq[Long], Seq[Long])]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(rows(1L)._2.size == graft.ops.Features.NumBands)
    assert(rows(2L) == rows(1L) && rows(5L) == rows(1L)) // same normalized shingle set
    assert(rows(3L)._2.intersect(rows(1L)._2).nonEmpty)  // near-dup shares a band
    assert(rows(4L)._2.intersect(rows(1L)._2).isEmpty)
    assert(rows(6L) == ((Seq.empty[Long], Seq.empty[Long])))
  }

  test("simhash: identical docs at hamming 0; unrelated docs not paired") {
    val got = Dedup.simhashPairs(docs, 3)
      .select("a_doc", "b_doc", "hamming").as[(Long, Long, Long)].collect()
    val m = got.map(r => (r._1, r._2) -> r._3).toMap
    assert(m((1L, 5L)) == 0L)
    assert(m((1L, 2L)) == 0L) // same token multiset after normalization
    assert(!m.keySet.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("bucket caps: pair sets unchanged below cap; dropped-with-telemetry above") {
    import graft.ops.Pairs
    // degenerate duplicate group: 30 identical docs all land in the SAME
    // band bucket of every band — the 100 TB boilerplate shape the caps
    // exist for (round-5 VERDICT "Next round" #1)
    val dup = (1 to 30).map(i =>
      (i.toLong, "identical boilerplate text that repeats across the corpus many times over"))
      .toDF("doc_id", "text")
    val all = (1 to 30).flatMap(a => (a + 1 to 30).map(b => (a.toLong, b.toLong))).toSet

    // below cap (default 1000): complete pair set
    val mhFull = Dedup.minhashPairs(dup, 0.5)
      .select("a_doc", "b_doc").as[(Long, Long)].collect().toSet
    assert(mhFull == all)
    val shFull = Dedup.simhashPairs(dup, 3)
      .select("a_doc", "b_doc").as[(Long, Long)].collect().toSet
    assert(shFull == all)

    // salted hot path (hotThreshold below the group size) = plain pairs
    val salted = Pairs.PairConfig(hotThreshold = 4, saltBuckets = 3)
    assert(Dedup.minhashPairs(dup, 0.5, salted)
      .select("a_doc", "b_doc").as[(Long, Long)].collect().toSet == all)
    assert(Dedup.simhashPairs(dup, 3, salted)
      .select("a_doc", "b_doc").as[(Long, Long)].collect().toSet == all)

    // above cap: oversized buckets DROPPED (bounded output), with telemetry
    val capped = Pairs.PairConfig(blockSizeCap = 10)
    assert(Dedup.minhashPairs(dup, 0.5, capped).count() == 0L)
    assert(Dedup.simhashPairs(dup, 3, capped).count() == 0L)
    val mhDropped = Dedup.minhashDroppedBucketStats(
      Dedup.withShingleBands(dup), capped).as[(Long, Long)].head()
    assert(mhDropped._1 >= 1L && mhDropped._2 >= 30L)
    val shDropped = Dedup.simhashDroppedBucketStats(dup, capped)
      .as[(Long, Long)].head()
    assert(shDropped._1 >= 1L && shDropped._2 >= 30L)
  }

  test("embedding cosine pairs within block") {
    val embs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), 0),
      (2L, Array(0.9f, 0.1f, 0.0f), 0),  // cos ~0.994 with vec 1
      (3L, Array(0.0f, 1.0f, 0.0f), 0),  // orthogonal
      (4L, Array(1.0f, 0.0f, 0.0f), 1)   // same dir but other block
    ).toDF("vec_id", "embedding", "label")
    val got = Dedup.embeddingCosinePairs(embs, 0.95)
      .select("a_vec", "b_vec").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)))
  }
}
