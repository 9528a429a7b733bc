package graft

import graft.ops.Skew
import org.apache.spark.sql.functions._

class SkewSpec extends SparkSpec {
  import spark.implicits._

  test("saltedJoin matches plain join on skewed data") {
    val big = (1 to 1000).map(i => (if (i % 10 == 0) 1L else i.toLong, i))
      .toDF("k", "v") // key 1 is hot (10% of rows)
    val small = Seq((1L, "hot"), (2L, "two"), (777L, "x")).toDF("k", "name")
    val plain = big.join(small, Seq("k"), "inner")
      .select("k", "v", "name").as[(Long, Int, String)].collect().toSet
    val salted = Skew.saltedJoin(big, small, "k", saltBuckets = 8)
      .select("k", "v", "name").as[(Long, Int, String)].collect().toSet
    assert(salted == plain && plain.nonEmpty)
  }

  test("boundedSelfPairs equals the naive bucket self-join on a degenerate hot band") {
    // one bucket holds 300 of 340 rows (a boilerplate flood / flat-image
    // band); the rest spread over small buckets below the threshold
    val rows = ((1 to 300).map(i => (f"d$i%04d", 0L, "HOT")) ++
      (1 to 40).map(i => (f"e$i%04d", 1L, s"c${i % 8}")))
      .toDF("id", "band", "h")
    val naive = rows.as("l").join(rows.as("r"),
        $"l.band" === $"r.band" && $"l.h" === $"r.h" && $"l.id" < $"r.id")
      .select($"l.id".as("id_a"), $"r.id".as("id_b"))
      .as[(String, String)].collect().toSet
    val bounded = Skew.boundedSelfPairs(rows, Seq("band", "h"), "id",
        hotThreshold = 16, blockSize = 16)
      .as[(String, String)].collect().toSet
    assert(bounded == naive)
    // hot bucket: C(300,2); small buckets: 8 buckets of 5 rows → 8·C(5,2)
    assert(naive.size == 300 * 299 / 2 + 8 * 10)
    assert(naive.count(_._1.startsWith("e")) == 8 * 10)
  }

  test("boundedSelfPairs: adversarial string keys (embedded separator, null-adjacent shapes) stay exact and guarded") {
    // Multi-column string keys whose concat_ws encodings COLLIDE —
    // ("a:b", "c") and ("a", "b:c") both encode "a:b:c" — must stay two
    // buckets: the window count and the block join partition on the key
    // columns themselves, so each hot bucket gets its own nblk (the
    // bucket-uniform block count the triangle decomposition needs) and no
    // pair crosses between them. The pair set must equal the naive join.
    val rows = ((1 to 60).map(i => (f"h$i%03d", "a:b", "c")) ++ // hot, collides with...
      (1 to 60).map(i => (f"k$i%03d", "a", "b:c")) ++           // ...this hot bucket
      (1 to 10).map(i => (f"c$i%03d", s"cold$i", "z")))         // cold singletons
      .toDF("id", "k1", "k2")
    val naive = rows.as("l").join(rows.as("r"),
        $"l.k1" === $"r.k1" && $"l.k2" === $"r.k2" && $"l.id" < $"r.id")
      .select($"l.id".as("id_a"), $"r.id".as("id_b"))
      .as[(String, String)].collect().toSet
    val bounded = Skew.boundedSelfPairs(rows, Seq("k1", "k2"), "id",
        hotThreshold = 16, blockSize = 16)
      .as[(String, String)].collect().toSet
    assert(bounded == naive)
    assert(naive.size == 2 * (60 * 59 / 2)) // the two buckets never mix
    // no cross-bucket pair leaked through the colliding encodings
    assert(!naive.exists { case (a, b) => a.head != b.head })
  }

  test("boundedSelfPairs per-task work stays bounded under the degenerate band") {
    // reproduce the helper's block assignment and assert no (bucket, block)
    // cell exceeds a small multiple of blockSize — per-task join work is
    // then ≤ (c·blockSize)² instead of the naive n²
    val n = 1000
    val blockSize = 16
    val rows = (1 to n).map(i => (f"d$i%05d", 0L, "HOT")).toDF("id", "band", "h")
    val nblk = math.ceil(n.toDouble / blockSize).toInt
    val cells = rows
      .withColumn("blk", pmod(xxhash64($"id"), lit(nblk)))
      .groupBy($"blk").agg(count(lit(1)).as("c"))
      .agg(max($"c")).as[Long].head()
    assert(cells <= 4L * blockSize,
      s"hash-block imbalance: max cell $cells > ${4 * blockSize}")
    // and the decomposed join really produces the full pair set
    val got = Skew.boundedSelfPairs(rows, Seq("band", "h"), "id",
      hotThreshold = 16, blockSize = blockSize).count()
    assert(got == n.toLong * (n - 1) / 2)
  }

  test("boundedWideBandPairs equals explode+self-join+distinct, payloads exact") {
    // 4 bands; a 120-row flood shares bands 0 AND 1 (pairs generated in two
    // hot buckets — first-matching-band must keep exactly one occurrence);
    // tail rows get quasi-random bands with a few planned collisions
    def mk(skewed: Boolean) = spark.range(400).select(
      col("id"),
      (if (skewed) when(col("id") % 3 === 0 && col("id") < 360, lit(7L))
        .otherwise(pmod(xxhash64(lit(0), col("id")), lit(50L)))
       else pmod(xxhash64(lit(0), col("id")), lit(50L))).as("b0"),
      (if (skewed) when(col("id") % 3 === 0 && col("id") < 360, lit(9L))
        .otherwise(pmod(xxhash64(lit(1), col("id")), lit(50L)))
       else pmod(xxhash64(lit(1), col("id")), lit(50L))).as("b1"),
      pmod(xxhash64(lit(2), col("id")), lit(40L)).as("b2"),
      pmod(xxhash64(lit(3), col("id")), lit(40L)).as("b3"))
    for (skewed <- Seq(true, false)) {
      val wide = mk(skewed).cache()
      val naive = {
        val bands = wide.select(col("id"), explode(array((0 to 3).map(j =>
            struct(lit(j).as("j"), col(s"b$j").as("band"))): _*)).as("k"))
          .select(col("id"), col("k.j"), col("k.band"))
        bands.toDF("ida", "j", "band")
          .join(bands.toDF("idb", "j", "band"), Seq("j", "band"))
          .filter(col("ida") < col("idb"))
          .select("ida", "idb").distinct()
          .as[(Long, Long)].collect().toSet
      }
      val got = Skew.boundedWideBandPairs(wide, "id",
          Seq("b0", "b1", "b2", "b3"),
          hotThreshold = 16, blockSize = 16)
        .collect()
      spark.catalog.clearCache()
      val gotPairs = got.map(r => (r.getLong(0), r.getLong(1)))
      // exactly-once: no duplicate pairs even when two bands match
      assert(gotPairs.length == gotPairs.toSet.size, "duplicate pairs emitted")
      assert(gotPairs.toSet == naive, s"skewed=$skewed pair-set mismatch")
      if (skewed) assert(naive.size >= 120 * 119 / 2, "flood pairs missing")
      // carried payloads are the row's true band vector, oriented to ids
      val bv = wide.collect().map(r => r.getLong(0) ->
        Seq(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      got.take(500).foreach { r =>
        assert(r.getSeq[Long](2) == bv(r.getLong(0)), "bands_a mismatch")
        assert(r.getSeq[Long](3) == bv(r.getLong(1)), "bands_b mismatch")
      }
    }
  }

  test("boundedPairsBetween equals the plain bucket join (hot standing index)") {
    val corpus = ((1 to 200).map(i => (f"c$i%04d", 0L, "HOT")) ++
      (1 to 30).map(i => (f"c9$i%03d", 1L, s"k${i % 6}"))).toDF("id", "band", "h")
    val batch = ((1 to 9).map(i => (f"b$i%03d", 0L, "HOT")) ++
      Seq(("b990", 1L, "k2"), ("b991", 1L, "k9"))).toDF("id", "band", "h")
    val plain = batch.as("l").join(corpus.as("r"),
        $"l.band" === $"r.band" && $"l.h" === $"r.h")
      .select($"l.id".as("id_a"), $"r.id".as("id_b"))
      .distinct().as[(String, String)].collect().toSet
    val bounded = Skew.boundedPairsBetween(batch, corpus, Seq("band", "h"),
        "id", hotThreshold = 16, blockSize = 16)
      .as[(String, String)].collect().toSet
    assert(bounded == plain && plain.size == 9 * 200 + 5)
  }

  test("boundedWideBandPairsBetween equals the plain band join (hot corpus bucket)") {
    // corpus side has a 150-row flood sharing bands 0 AND 1 (two hot
    // buckets → blocks engage AND first-matching-band must dedup); batch
    // probes include flood-matching and tail rows. Disjoint id spaces.
    def mk(ids: org.apache.spark.sql.DataFrame, flood: org.apache.spark.sql.Column) =
      ids.select(col("id"),
        when(flood, lit(7L)).otherwise(pmod(xxhash64(lit(0), col("id")), lit(40L))).as("b0"),
        when(flood, lit(9L)).otherwise(pmod(xxhash64(lit(1), col("id")), lit(40L))).as("b1"),
        pmod(xxhash64(lit(2), col("id")), lit(30L)).as("b2"),
        pmod(xxhash64(lit(3), col("id")), lit(30L)).as("b3"))
    val corpus = mk(spark.range(1000, 1300).toDF("id"),
      col("id") % 2 === 0 && col("id") < 1150)
    val batch = mk(spark.range(0, 40).toDF("id"), col("id") < 10)
    def bands(df: org.apache.spark.sql.DataFrame, idAs: String) =
      df.select(col("id").as(idAs), explode(array((0 to 3).map(j =>
          struct(lit(j).as("j"), col(s"b$j").as("band"))): _*)).as("k"))
        .select(col(idAs), col("k.j"), col("k.band"))
    val plain = bands(batch, "ida").join(bands(corpus, "idb"), Seq("j", "band"))
      .select("ida", "idb").distinct().as[(Long, Long)].collect().toSet
    val got = Skew.boundedWideBandPairsBetween(batch, corpus, "id",
        Seq("b0", "b1", "b2", "b3"), hotThreshold = 16, blockSize = 16)
      .collect()
    val gotPairs = got.map(r => (r.getLong(0), r.getLong(1)))
    assert(gotPairs.length == gotPairs.toSet.size, "duplicate pairs emitted")
    assert(gotPairs.toSet == plain && plain.size >= 10 * 75,
      "pair-set mismatch or flood candidates missing")
    // carried band vectors are each side's true values
    val bv = (corpus.collect() ++ batch.collect()).map(r => r.getLong(0) ->
      Seq(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    got.take(300).foreach { r =>
      assert(r.getSeq[Long](2) == bv(r.getLong(0)), "bands_a mismatch")
      assert(r.getSeq[Long](3) == bv(r.getLong(1)), "bands_b mismatch")
    }
  }

  test("saltedAgg two-phase equals direct aggregation") {
    val df = (1 to 500).map(i => (if (i % 5 == 0) 1L else i.toLong, i.toLong))
      .toDF("k", "v")
    val direct = df.groupBy("k")
      .agg(sum("v").as("s"), count(lit(1)).as("n"))
      .as[(Long, Long, Long)].collect().toSet
    val salted = Skew.saltedAgg(df, "k", 8,
      aggs = Seq(sum("v").as("s"), count(lit(1)).as("n")),
      merges = Seq(sum("s").as("s"), sum("n").as("n")))
      .as[(Long, Long, Long)].collect().toSet
    assert(salted == direct)
  }
}
