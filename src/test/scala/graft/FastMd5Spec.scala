package graft

import org.apache.spark.sql.functions
import org.apache.spark.sql.functions.{col, lit}

/** [[graft.expressions.FastMd5]] (`graft_md5`) is a drop-in twin of the
  * built-in `md5()` — every engine hash surface (MinHash signatures,
  * banding, SimHash, fingerprints, order keys) now routes through it, so
  * bit-identity with the built-in IS the oracle contract for all of them.
  * Checked value-by-value over adversarial inputs: empty, ASCII, long,
  * multi-byte UTF-8 (2/3/4-byte code points), separator collisions,
  * binary input, and nulls. */
class FastMd5Spec extends SparkSpec {
  import spark.implicits._

  private val fastMd5 = graft.expressions.Natives.md5 _

  test("bit-identical to builtin md5 on strings, including multi-byte UTF-8") {
    val rows = Seq(
      "", "a", "abc", "the quick brown fox", "0:shingle tok",
      "a" * 10000,
      "café", "ümläut", "中文文本",
      "emoji 😀 tail", "mixed é中🎉",
      "nul\u0000byte", "tab\tsep|pipe:colon")
    val df = rows.toDF("s")
      .select(col("s"), functions.md5(col("s")).as("builtin"),
        fastMd5(col("s")).as("fast"))
    val bad = df.filter(col("builtin") =!= col("fast")).collect()
    assert(bad.isEmpty, s"mismatches: ${bad.mkString("; ")}")
    // spot-check the RFC 1321 vector so both sides aren't wrong together
    val abc = df.filter(col("s") === "abc").select(col("fast")).head.getString(0)
    assert(abc == "900150983cd24fb0d6963f7d28e17f72")
  }

  test("bit-identical on binary input and null-safe") {
    val df = Seq(Array[Byte](0, 1, 127, -128, -1), Array.emptyByteArray)
      .toDF("b")
      .select(functions.md5(col("b")).as("builtin"), fastMd5(col("b")).as("fast"))
    assert(df.filter(col("builtin") =!= col("fast")).count() == 0)
    val n = Seq(Option.empty[String]).toDF("s")
      .select(fastMd5(col("s")).as("fast")).head
    assert(n.isNullAt(0), "null input must yield null")
  }

  test("agrees under aggregation (the MinHash min-of-keyed-md5 shape)") {
    val docs = Seq((1L, "x"), (1L, "y"), (2L, "z")).toDF("id", "g")
    def sig(m: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      docs.groupBy(col("id"))
        .agg(functions.min(m(functions.concat(lit("0:"), col("g")))).as("s"))
        .orderBy(col("id")).collect().map(_.getString(1)).toSeq
    assert(sig(fastMd5) == sig(functions.md5))
  }
}
