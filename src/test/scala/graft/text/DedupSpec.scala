package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  private def docsDf(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }


  private val base = "the quick brown fox jumps over the lazy dog " +
    "and runs far away into the deep dark forest tonight"
  private val nearDup = base.replace("tonight", "today") // 1-word change
  private val unrelated = "completely different words describing another " +
    "topic with zero overlap whatsoever in any shingle at all here"

  test("minhash LSH finds the near-dup pair, not the unrelated one") {
    val docs = docsDf(1L -> base, 2L -> nearDup, 3L -> unrelated)
    val pairs = Dedup.minhashNearDups(spark, Dedup.shingleTable(docs))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("minhash identical docs have jaccard 1.0") {
    val docs = docsDf(1L -> base, 2L -> base)
    val rows = Dedup.minhashNearDups(spark, Dedup.shingleTable(docs)).collect()
    assert(rows.length == 1 && rows(0).getDouble(2) == 1.0)
  }

  test("simhash: identical -> hamming 0; near-dup small; unrelated large") {
    val s1 = Dedup.simhash(base.split(" ").toSeq)
    val s2 = Dedup.simhash(nearDup.split(" ").toSeq)
    val s3 = Dedup.simhash(unrelated.split(" ").toSeq)
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(s1, s1) == 0)
    assert(ham(s1, s2) < ham(s1, s3))
  }

  test("simhash near-dup pipeline pairs the near-dups") {
    val docs = docsDf(1L -> base, 2L -> nearDup, 3L -> unrelated)
    val pairs = Dedup.simhashNearDups(spark, docs, "doc_id", "text", maxHamming = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)))
  }

  test("exact groups: only duplicated texts, with counts") {
    val docs = docsDf(1L -> "aaa", 2L -> "aaa", 3L -> "bbb", 4L -> "aaa")
    val g = Dedup.exactGroups(docs, col("text")).collect()
    assert(g.length == 1 && g(0).getLong(1) == 3)
  }
}
