package graft

import graft.sources.JsonIngest
import graft.tools.Profile
import org.apache.spark.sql.types._

class JsonIngestSpec extends SparkSpec {
  import spark.implicits._

  test("parseWithQuarantine splits good rows from malformed payloads") {
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("tag", StringType)))
    val df = Seq(
      (1L, """{"k": 5, "tag": "a"}"""),
      (2L, """{"k": 6}"""), // missing field -> still good (null tag)
      (3L, """not json at all"""),
      (4L, """{"unrelated": 1}""")) // parses but yields nothing -> junk
      .toDF("id", "raw")
    val p = JsonIngest.parseWithQuarantine(df, "raw", schema)
    val good = p.good.orderBy("id")
      .as[(Long, Option[Long], Option[String])].collect().toSeq
    assert(good == Seq((1L, Some(5L), Some("a")), (2L, Some(6L), None)))
    assert(p.quarantine.select("id").as[Long].collect().toSet == Set(3L, 4L))
  }

  test("tagged: one parse whose good and quarantined rows are parseWithQuarantine's frames") {
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("tag", StringType)))
    val df = Seq[(Long, String)](
      (1L, """{"k": 5, "tag": "a"}"""), (2L, """{"tag": "b"}"""),
      (3L, """{broken"""), (4L, """{"other": 1}"""), (5L, null), (6L, ""),
      (7L, """{"k": "nan"}"""), (8L, """[1, 2]"""))
      .toDF("id", "raw")
    val t = JsonIngest.tagged(df, "raw", schema)
    assert(t.columns.toSeq == Seq("id", "raw", "k", "tag", "quarantined"))
    val p = JsonIngest.parseWithQuarantine(df, "raw", schema)
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect().map(_.toString).sorted.toSeq
    assert(rows(t.filter(!$"quarantined").drop("raw", "quarantined")) == rows(p.good))
    assert(rows(t.filter($"quarantined").select("id", "raw")) == rows(p.quarantine))
    // a null payload is not a parse failure
    assert(p.quarantine.select("id").as[Long].collect().sorted.toSeq == Seq(3L, 4L, 6L, 7L, 8L))
  }

  test("profile computes null/distinct stats in one pass") {
    val df = Seq((Some(1), "a"), (None, "b"), (Some(1), "b")).toDF("x", "y")
    val stats = Profile.profile(df).map(s => s.column -> s).toMap
    assert(stats("x").nulls == 1 && stats("x").nonNull == 2)
    assert(stats("y").nulls == 0 && stats("y").approxDistinct == 2)
  }
}
