package graft

import graft.dedup.Dedup

class SkewStressSpec extends SparkSpec {
  import spark.implicits._

  test("minhash pairs on the boilerplate flood: guard on == guard off") {
    val docs = SkewStress.textCorpus(spark, 600, skewed = true)
    def run(hot: Int, block: Int) =
      Dedup.minhashLshPairs(docs, "doc_id", "text",
          hotThreshold = hot, blockSize = block)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val guarded = run(16, 16) // 120-doc flood ⇒ buckets far above 16
    spark.catalog.clearCache()
    val plain = run(Int.MaxValue, 16) // decomposition never engages
    spark.catalog.clearCache()
    assert(guarded == plain)
  }

  test("x84-shape band pairs on degenerate bands: guard on == guard off, near-empty output") {
    val wide = SkewStress.bandWide(spark, 1000, skewed = true, floodCap = 200)
    val guarded = SkewStress.bandPairs(wide, 32, 32)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val plain = SkewStress.bandPairs(wide, Int.MaxValue, 32)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(guarded == plain)
    // the flood shares two exact bands (hot candidate generation) but
    // random tail bands keep almost every pair above Hamming 3
    assert(guarded.size < 20)
  }

  test("signature cost twins: md5 and xxhash64 paths emit the same shape over the same docs") {
    val qs = SkewStress.sigQueries(spark, "/root/testdata/sf0.001").toMap
    val md5 = qs("sig_md5")()
    val xxh = qs("sig_xxh64")()
    // same operator shape: one row per doc with a signature, 1 + 12 cols
    assert(md5.columns.toSeq == xxh.columns.toSeq)
    assert(md5.columns.length == 13 && md5.columns.head == "doc_id")
    assert(md5.count() == xxh.count())
  }

  test("skewed and uniform corpora have identical sizes and schema (fair twins)") {
    val hot = SkewStress.textCorpus(spark, 500, skewed = true)
    val uni = SkewStress.textCorpus(spark, 500, skewed = false)
    assert(hot.count() == 500 && uni.count() == 500)
    assert(hot.schema == uni.schema)
    // the flood is real: 20% of skewed docs share the boilerplate prefix
    val flooded = hot.filter($"text".startsWith("boiler0 ")).count()
    assert(flooded == 100, s"flood size $flooded")
  }
}
