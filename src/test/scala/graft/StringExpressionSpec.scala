package graft

import graft.expressions.{JaroWinklerAlgo, Natives}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

class StringExpressionSpec extends SparkSpec {
  import spark.implicits._

  private def jw(a: String, b: String): Double =
    JaroWinklerAlgo.compute(UTF8String.fromString(a), UTF8String.fromString(b))

  test("graft_jaro_winkler matches the pinned oracle-engine values") {
    // Values taken from DuckDB 1.x jaro_winkler_similarity — exact
    // doubles, not approximations; these pin the algorithm variant
    // (integer half-transpositions, prefix cap 4, boost only over 0.7,
    // empty -> 0.0).
    assert(jw("MARTHA", "MARHTA") == 0.9611111111111111)
    assert(jw("DWAYNE", "DUANE") == 0.8400000000000001)
    assert(jw("DIXON", "DICKSONX") == 0.8133333333333332)
    // below the 0.7 boost threshold: prefix bonus must NOT apply
    assert(jw("abcdef", "abXXXX") == 0.5555555555555555)
    // 3-cycle: odd mismatch count counts as ONE transposition (int /2);
    // no boost (first chars differ -> prefix 0)
    assert(jw("abcXYZ", "bcaXYZ") == 0.9444444444444445)
    // prefix capped at 4 even with 6 common leading chars
    assert(jw("abcdefXYZW", "abcdefWZYX") == 0.96)
    assert(jw("", "") == 0.0)
    assert(jw("", "abc") == 0.0)
    assert(jw("a", "a") == 1.0)
    assert(jw("ab", "ba") == 0.0)
    assert(jw("aaaa", "aaaa") == 1.0)
  }

  test("codegen path equals interpreted eval") {
    val pairs = Seq(
      ("MARTHA", "MARHTA"), ("DWAYNE", "DUANE"), ("small ring", "small rung"),
      ("", ""), ("x", ""), ("identical", "identical"))
      .toDF("a", "b")
    val viaExpr = pairs
      .select($"a", $"b",
        Natives.jaroWinkler($"a", $"b").as("s"))
      .collect()
    viaExpr.foreach { r =>
      assert(r.getDouble(2) == jw(r.getString(0), r.getString(1)),
        s"codegen/eval mismatch on (${r.getString(0)}, ${r.getString(1)})")
    }
  }

  test("null on either side -> null, via SQL registration") {
    val r = spark.sql(
      "SELECT graft_jaro_winkler(CAST(NULL AS STRING), 'x') AS a, " +
        "graft_jaro_winkler('x', CAST(NULL AS STRING)) AS b").collect().head
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("graft_cdc_bounds equals the interpreted HOF boundary rule") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .filter(col("text").isNotNull).limit(200)
    val hof =
      "IF(length(text) < 9, array(), " +
        "filter(sequence(8, length(text) - 1), i -> " +
        "aggregate(sequence(i - 7, i), CAST(0 AS BIGINT), " +
        "(acc, j) -> (acc * 31 + ascii(substring(text, j, 1))) " +
        "% 2147483647) % 32 = 0))"
    val mismatches = docs
      .select(col("doc_id"),
        Natives.cdcBounds(col("text")).as("fast"),
        expr(hof).cast("array<int>").as("slow"))
      .filter(col("fast") =!= col("slow"))
      .count()
    assert(mismatches == 0)
    // edge cases: empty, exactly window-size, null
    val edge = Seq(("", 1), ("abcdefgh", 2), ("abcdefghi", 3))
      .toDF("t", "i")
    val r = edge.select(Natives.cdcBounds($"t")).collect()
    assert(r.forall(!_.isNullAt(0)))
    val nul = spark.sql(
      "SELECT graft_cdc_bounds(CAST(NULL AS STRING))").collect().head
    assert(nul.isNullAt(0))
  }

  test("graft_gopher_cov: exact interval-union coverage, edges, null, and a brute-force law") {
    import graft.expressions.GopherAlgo
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def cov(toks: Seq[String], k: Int): Long =
      GopherAlgo.coveredCount(
        new GenericArrayData(toks.map(UTF8String.fromString).toArray), k)
    // the overlap law (pinned in TrainingSpec on the catalog surface):
    // "a a a a" has 3 duplicated bigram occurrences over 4 positions —
    // occurrence weighting would claim 6
    assert(cov(Seq("a", "a", "a", "a"), 2) == 4L)
    // disjoint duplicated bigrams cover their own intervals only
    assert(cov(Seq("x", "y", "z", "x", "y", "q"), 2) == 4L)
    // no duplicates -> 0; doc shorter than k -> 0; k <= 0 -> 0
    assert(cov(Seq("a", "b", "c"), 2) == 0L)
    assert(cov(Seq("a", "b"), 3) == 0L)
    assert(cov(Seq("a", "b"), 0) == 0L)
    // tuple equality, not joined-string prefix confusion
    assert(cov(Seq("ab", "c", "ab", "c"), 2) == 4L)
    assert(cov(Seq("ab", "c", "a", "bc"), 2) == 0L)
    // brute-force law on pseudo-random small alphabets
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 50; k <- Seq(2, 3)) {
      val t = Seq.fill(3 + rnd.nextInt(40))(('a' + rnd.nextInt(3)).toChar.toString)
      val grams = t.sliding(k).filter(_.size == k).toSeq
      val dup = grams.groupBy(identity).filter(_._2.size >= 2).keySet
      val expect = grams.zipWithIndex.collect {
        case (g, i) if dup(g) => i until i + k
      }.flatten.distinct.size.toLong
      assert(cov(t, k) == expect, s"k=$k t=$t")
    }
    // SQL registration: null array -> null; codegen path == kernel
    val nul = spark.sql(
      "SELECT graft_gopher_cov(CAST(NULL AS ARRAY<STRING>), 2)").collect().head
    assert(nul.isNullAt(0))
    val viaSql = Seq(Seq("a", "a", "a", "a"), Seq("x", "y", "x", "y"))
      .toDF("t")
      .select(Natives.gopherCov($"t", lit(2)))
      .as[Long].collect().toSeq
    assert(viaSql == Seq(4L, 4L))
  }

  test("symmetric and bounded in [0, 1] over corpus tokens") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val toks = graft.text.TextOps.tokenRows(docs, "doc_id", "text")
      .filter(col("tok") =!= "").select("tok").distinct().limit(60)
    val pairs = toks.as("a").crossJoin(toks.as("b"))
      .select(col("a.tok").as("ta"), col("b.tok").as("tb"))
    val bad = pairs.select(
      Natives.jaroWinkler(col("ta"), col("tb")).as("ab"),
      Natives.jaroWinkler(col("tb"), col("ta")).as("ba"))
      .filter(col("ab") =!= col("ba") || col("ab") < 0.0 || col("ab") > 1.0)
      .count()
    assert(bad == 0)
  }
}
