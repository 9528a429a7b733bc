package graft

import graft.ops.{AsofJoin, Relational, Upsert}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import java.sql.Timestamp

/** Property tests for the engine's algebraic invariants (SURVEY §5):
  * upsert idempotence, conformTo totality, as-of bounds. Uses plain
  * ScalaCheck generators sampled under fixed seeds (scalatestplus isn't in
  * the offline cache): few-but-adversarial cases — tiny key spaces force
  * duplicate keys and timestamp ties. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def sample[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  private val kvGen: Gen[List[(Int, Int, String)]] =
    Gen.listOfN(30, for {
      k <- Gen.choose(0, 8) // small key space → frequent collisions
      seq <- Gen.choose(0, 100)
      v <- Gen.oneOf("a", "b", "c", "d")
    } yield (k, seq, v))

  test("upsert: idempotent, and result keys = keys(base) ∪ keys(upd)") {
    for (seed <- 1L to 5L) {
      val baseL = sample(kvGen, seed)
      val updL = sample(kvGen, seed + 100)
      val base = Relational.dedupByKeys(
        baseL.toDF("k", "seq", "v"), Seq("k"), Seq(col("seq").desc, col("v")))
      val upd = updL.toDF("k", "seq", "v")
      val once = Upsert.merge(base, upd, Seq("k"), Seq(col("seq"), col("v")))
      val twice = Upsert.merge(once, upd, Seq("k"), Seq(col("seq"), col("v")))
      assert(once.orderBy("k", "seq", "v").collect().toSeq ==
        twice.orderBy("k", "seq", "v").collect().toSeq, s"seed=$seed")
      val keys = once.select("k").as[Int].collect().toSet
      assert(keys == (baseL.map(_._1).toSet ++ updL.map(_._1).toSet), s"seed=$seed")
    }
  }

  /** The anti-join + union definition `Upsert.merge` replaced, kept as
    * the reference: current rows whose key no update matches (a null key
    * never matches), plus the deduped batch projected to `current`. */
  private def mergeByAntiJoin(current: DataFrame, updates: DataFrame,
                              keys: Seq[String], tiebreak: Seq[Column] = Nil) = {
    val upd = Upsert.dedupLatest(updates, keys, tiebreak)
    current.join(upd.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(upd.select(current.columns.map(col).toSeq: _*))
  }

  test("upsert: one-window merge equals the anti-join + union definition") {
    val nullable = (g: Gen[Int]) => Gen.frequency(1 -> Gen.const(None), 4 -> g.map(Some(_)))
    val rowsGen = Gen.listOfN(25, for {
      k1 <- nullable(Gen.choose(0, 6)) // small key space → duplicate keys
      k2 <- Gen.frequency(1 -> Gen.const(None), 4 -> Gen.oneOf("x", "y").map(Some(_)))
      seq <- Gen.choose(0, 3)          // few values → tiebreak ties
      v <- Gen.oneOf("a", "b", "c")
    } yield (k1, k2, seq, v))
    val emptyCurrent = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("k1", IntegerType), StructField("k2", StringType),
        StructField("seq", IntegerType), StructField("v", StringType))))
    def sorted(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    for (seed <- 1L to 4L) {
      val cur = sample(rowsGen, seed).toDF("k1", "k2", "seq", "v")
      val batchL = sample(rowsGen, seed + 100)
      val batch = batchL.toDF("k1", "k2", "seq", "v")
      // batch-only columns: `extra` must be dropped, `bseq` is a unique
      // per-row tiebreak (the default all-column tiebreak may tie)
      val wide = batchL.zipWithIndex.map { case ((k1, k2, sq, v), i) => (k1, k2, sq, v, i, s"e$i") }
        .toDF("k1", "k2", "seq", "v", "bseq", "extra")
      val cases = Seq(
        ("single key", cur, batch, Seq("k1"), Nil),
        ("composite key", cur, batch, Seq("k1", "k2"), Nil),
        ("batch with extra columns", cur, wide, Seq("k1", "k2"), Nil),
        ("batch-only tiebreak", cur, wide, Seq("k1"), Seq(col("bseq"))),
        ("empty current", emptyCurrent, batch, Seq("k1", "k2"), Nil),
        ("empty batch", cur, batch.filter(lit(false)), Seq("k1"), Nil))
      for ((name, c, u, keys, tb) <- cases) {
        val got = Upsert.merge(c, u, keys, tb)
        assert(got.columns.toSeq == c.columns.toSeq, s"seed=$seed $name")
        assert(sorted(got) == sorted(mergeByAntiJoin(c, u, keys, tb)), s"seed=$seed $name")
      }
    }
  }

  test("conformTo: total on any column subset — output schema always target") {
    val target = StructType(Seq(
      StructField("a", LongType), StructField("b", StringType),
      StructField("c", DoubleType)))
    val colsGen = Gen.someOf(Seq("a", "b", "c", "d", "e"))
    for (seed <- 1L to 8L) {
      val cols = sample(colsGen, seed).toSeq
      val df = spark.range(3).toDF("id")
        .select(col("id") +: cols.map(c => lit(1).as(c)): _*)
      val out = Relational.conformTo(df, target)
      // nullability may tighten when a column is a non-null literal; names
      // and types are the conformance contract
      assert(out.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        target.fields.map(f => (f.name, f.dataType)).toSeq, s"seed=$seed cols=$cols")
      assert(out.count() == 3)
    }
  }

  test("chunkRows: chunk count = ceil(tokens/m); chunks reassemble the token stream") {
    val docGen = Gen.listOfN(12, for {
      n <- Gen.choose(1, 17) // straddle multiples of m=4
      toks <- Gen.listOfN(n, Gen.oneOf("aa", "bb", "cc", "dd"))
    } yield toks.mkString(" "))
    for (seed <- 1L to 4L) {
      val texts = sample(docGen, seed)
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = graft.text.TextOps.chunkRows(docs, "doc_id", "text", 4)
        .groupBy("doc_id").agg(count(lit(1)).as("n"))
        .as[(Long, Long)].collect().toMap
      texts.zipWithIndex.foreach { case (t, i) =>
        val nTok = t.split(" ").length
        assert(got(i.toLong) == (nTok + 3) / 4, s"seed=$seed doc=$i")
      }
      // identical docs produce identical hash sequences (dedup soundness)
      val dup = Seq((1L, texts.head), (2L, texts.head)).toDF("doc_id", "text")
      val hs = graft.text.TextOps.chunkRows(dup, "doc_id", "text", 4)
        .orderBy("doc_id", "chunk_idx")
        .select("doc_id", "chunk_hash").as[(Long, String)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
      assert(hs(1L) == hs(2L), s"seed=$seed")
    }
  }

  test("hashedTokenWeight stays in [-span, span] for arbitrary tokens") {
    val tokGen = Gen.listOfN(60, Gen.identifier.map(_.take(12)))
    for (seed <- 1L to 3L) {
      val toks = sample(tokGen, seed)
      val out = toks.toDF("tok")
        .select(graft.text.TextOps.hashedTokenWeight(col("tok"), 64, 500).as("w"))
        .as[Long].collect()
      assert(out.forall(w => w >= -500 && w <= 500), s"seed=$seed")
    }
  }

  test("bloom: no false negatives for any member set") {
    for (seed <- 1L to 3L) {
      val members = sample(Gen.listOfN(40, Gen.identifier.map(_.take(10))), seed)
        .distinct
      val bm = graft.dedup.Dedup.bloomBitmap(
        members.toDF("g"), "g", mBits = 4096)
      val survived = members.toDF("g")
        .filter(graft.dedup.Dedup.bloomMightContain(col("g"), typedLit(bm), 4096))
        .count()
      assert(survived == members.length, s"seed=$seed")
    }
  }

  test("quantizeCodes: codes in range, reconstruction error ≤ half a step") {
    val vecGen = Gen.listOfN(20, Gen.listOfN(6,
      Gen.choose(-1000, 1000).map(_ / 100.0f)))
    for (seed <- 1L to 3L) {
      val vecs = sample(vecGen, seed).zipWithIndex
        .map { case (v, i) => (i.toLong, v.toArray) }
      val df = vecs.toDF("vec_id", "embedding")
      val (lows, highs) = graft.similarity.Similarity.dimRanges(df, "embedding")
      if (lows.indices.forall(i => highs(i) > lows(i))) {
        val codes = df.select($"vec_id",
            graft.similarity.Similarity.quantizeCodes($"embedding", lows, highs).as("c"))
          .as[(Long, Seq[Long])].collect().toMap
        vecs.foreach { case (id, v) =>
          v.indices.foreach { i =>
            val c = codes(id)(i)
            assert(c >= 0 && c <= 255, s"seed=$seed id=$id dim=$i code=$c")
            val step = (highs(i) - lows(i)) / 255.0
            val recon = lows(i) + c * step
            assert(math.abs(recon - v(i)) <= step / 2 + 1e-9,
              s"seed=$seed id=$id dim=$i |${recon - v(i)}| > ${step / 2}")
          }
        }
      }
    }
  }

  test("lshPairsBetween = the cross-frame restriction of the self-join pairs") {
    val docGen = Gen.listOfN(14, Gen.listOfN(6,
      Gen.oneOf("red", "blue", "fox", "dog", "sky", "sea", "sun")))
    for (seed <- 1L to 3L) {
      val docs = sample(docGen, seed).zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
        .toDF("doc_id", "text")
      val sh = graft.text.TextOps.shingleRows(docs, "doc_id", "text", 2)
      val signed = graft.dedup.Dedup.signatureOfShingles(sh, "doc_id", 12).cache()
      val isNew = $"doc_id" % 3 === 0
      val between = graft.dedup.Dedup
        .lshPairsBetween(signed.filter(isNew), signed.filter(!isNew),
          "doc_id", 12, 3, 0.25)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val selfAll = graft.dedup.Dedup
        .minhashLshPairs(docs, "doc_id", "text", 2, 12, 3, 0.25)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      // self-join emits a<b once; between emits (new, corpus) pairs — the
      // same unordered pair set once sides are normalized
      val expected = selfAll.collect {
        case (a, b) if a % 3 == 0 && b % 3 != 0 => (a, b)
        case (a, b) if b % 3 == 0 && a % 3 != 0 => (b, a)
      }
      assert(between == expected, s"seed=$seed")
      signed.unpersist()
      spark.catalog.clearCache()
    }
  }

  test("boundedSelfPairs = naive bucket self-join for random skew profiles") {
    // the law behind every LSH guard: for ANY (bucket, id) distribution —
    // from uniform to one-bucket-holds-all — the triangle decomposition
    // emits exactly the naive join's pair set. Random profiles complement
    // SkewSpec's targeted floods; thresholds forced low so blocks engage.
    val profileGen: Gen[List[(Long, Long)]] = Gen.listOfN(250, for {
      // zipf-ish: bucket 0 is hot with probability ~1/2 per row
      hot <- Gen.prob(0.5)
      b <- if (hot) Gen.const(0L) else Gen.choose(1L, 12L)
    } yield b).map(_.zipWithIndex.map { case (b, i) => (i.toLong, b) })
    for (seed <- 1L to 4L) {
      val rows = sample(profileGen, seed).toDF("id", "bucket")
      val naive = rows.toDF("ida", "bucket").join(rows.toDF("idb", "bucket"), "bucket")
        .filter($"ida" < $"idb").select("ida", "idb")
        .distinct().as[(Long, Long)].collect().toSet
      val got = graft.ops.Skew.boundedSelfPairs(rows, Seq("bucket"), "id",
          hotThreshold = 20, blockSize = 8)
        .as[(Long, Long)].collect().toSet
      assert(got == naive, s"seed=$seed: guard pair set diverged from naive join")
    }
  }

  test("asof: matched ts is the maximum build ts <= probe ts (or null)") {
    val evGen = Gen.listOfN(25, for {
      k <- Gen.choose(0, 2)
      ts <- Gen.choose(0L, 50L)
    } yield (k, ts))
    for (seed <- 1L to 5L) {
      val probeL = sample(evGen, seed)
      val buildL = sample(evGen, seed + 100).distinct
      val probe = probeL.zipWithIndex
        .map { case ((k, s), i) => (i.toLong, k, new Timestamp(s * 1000)) }
        .toDF("pid", "k", "ts")
      val build = buildL
        .map { case (k, s) => (k, new Timestamp(s * 1000), s.toDouble) }
        .toDF("k", "ts", "bval")
      val out = AsofJoin.asofJoin(probe, build, Seq("k"), "ts", "ts", Seq("bval"))
        .collect().map(r => (r.getInt(1), r.getTimestamp(2).getTime / 1000,
          Option(r.get(3)).map(_.asInstanceOf[Double])))
      val buildMap = buildL.groupBy(_._1)
      out.foreach { case (k, pts, got) =>
        val candidates = buildMap.getOrElse(k, Nil).filter(_._2 <= pts)
        val expected =
          if (candidates.isEmpty) None else Some(candidates.map(_._2).max.toDouble)
        assert(got == expected, s"seed=$seed key=$k probeTs=$pts")
      }
    }
  }

  test("winnow kernel: deque anchors = naive per-window argmin reference") {
    // small alphabet → repeated grams and (h, pos) ties are the norm, the
    // adversarial regime for the monotonic deque's tie-break; the accented
    // char exercises the multi-byte offset path (BMP, 1 UTF-16 char, so
    // the String-based reference counts positions identically)
    val textGen: Gen[String] = for {
      len <- Gen.choose(0, 220)
      cs <- Gen.listOfN(len, Gen.oneOf('a', 'b', 'c', ' ', 'é'))
    } yield cs.mkString

    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString

    def naive(s: String): Seq[(Int, String)] = {
      val (k, w) = (graft.expressions.WinnowAlgo.K, graft.expressions.WinnowAlgo.W)
      val grams = (1 to s.length - k + 1)
        .map(i => (i, md5hex(s.substring(i - 1, i - 1 + k))))
      if (grams.length < w) Seq.empty
      else (0 to grams.length - w)
        .map(j => grams.slice(j, j + w).minBy { case (p, h) => (h, p) })
        .distinct
    }

    for (seed <- 1L to 10L) {
      val s = sample(textGen, seed)
      val got = {
        val arr = graft.expressions.WinnowAlgo.anchors(
          org.apache.spark.unsafe.types.UTF8String.fromString(s))
        (0 until arr.numElements()).map { i =>
          val r = arr.getStruct(i, 2)
          (r.getInt(0), r.getUTF8String(1).toString)
        }
      }
      assert(got == naive(s), s"seed=$seed len=${s.length}")
    }
    // planted repeat: two texts sharing a >=23-char block must share an
    // anchor hash, for random flanks
    for (seed <- 20L to 24L) {
      val block = sample(textGen.suchThat(_.length >= 30), seed)
      val flankA = sample(textGen, seed + 1)
      val flankB = sample(textGen, seed + 2)
      val aAnch = naive(flankA + block + flankA).map(_._2).toSet
      val bAnch = naive(flankB + block + flankB).map(_._2).toSet
      assert((aAnch & bAnch).nonEmpty, s"seed=$seed")
    }
  }

  test("prefix filter = brute-force shingle-set join for random corpora (exactness law)") {
    // random docs over a small alphabet force heavy set overlap — the
    // regime where a lossy prefix bound would actually drop pairs
    val docGen: Gen[List[String]] = Gen.listOfN(14,
      Gen.listOfN(8, Gen.oneOf("a", "b", "c", "d", "e")).map(_.mkString(" ")))
    def sh3(text: String): Set[String] = {
      val t = text.split(" ").toVector
      (0 to math.max(t.length - 3, 0))
        .map(i => t.slice(i, math.min(i + 3, t.length)).mkString("_")).toSet
    }
    for (seed <- 1L to 4L) {
      val texts = sample(docGen, seed).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val docs = texts.toDF("doc_id", "text")
      val out = graft.dedup.Dedup
        .prefixFilterJaccardPairs(docs, "doc_id", "text", k = 3,
          tauNum = 2, tauDen = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val sets = texts.toMap.view.mapValues(sh3).toMap
      val expect = (for {
        a <- sets.keys; b <- sets.keys if a < b
        j = sets(a).intersect(sets(b)).size.toDouble /
          sets(a).union(sets(b)).size
        if j >= 0.4
      } yield (a, b) -> j).toMap
      assert(out == expect, s"seed=$seed")
      spark.catalog.clearCache()
    }
  }
}
