package graft

import graft.dedup.{Dedup, RecallEval}
import graft.similarity.Similarity
import graft.text.TextOps
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}

/** The public library API runs on a session that has none of graft's SQL
  * function names: the native expressions are built as Columns, not looked
  * up by name. Each surface must give the same rows on a bare session as
  * on the spec session (which installs the SQL names via the extension). */
class PlainSessionSpec extends SparkSpec {

  // spelled out rather than read from Natives.sqlFunctions, so a name
  // missing from that table is still dropped here
  private val sqlNames = Seq("graft_vec_dot", "graft_jaro_winkler",
    "graft_cdc_bounds", "graft_winnow", "graft_gopher_cov",
    "graft_cell_argmin", "graft_micro_argmin", "graft_pq_codes",
    "graft_sq8_codes", "graft_md5")

  /** A fresh session sharing the spec session's context, with the graft
    * names dropped from its function registry, as on a session built
    * without the extension. Fresh per use, so no surface can lean on a
    * name another one registered. */
  private def bare: SparkSession = {
    val s = spark.newSession()
    sqlNames.foreach(n =>
      s.sessionState.functionRegistry.dropFunction(FunctionIdentifier(n)))
    s
  }

  /** 40 documents over four sentences, each missing one word and tagged
    * with its id: near-duplicates, shared long substrings, two sources. */
  private val docRows: Seq[(Long, String, String)] = {
    val base = Seq(
      "the quick brown fox jumps over the lazy dog near the river bank today",
      "a journey of a thousand miles begins with a single step in the morning",
      "all that glitters is not gold and not all those who wander are lost",
      "to be or not to be that is the question whether it is nobler to suffer")
    (0 until 40).map { i =>
      val words = base(i % base.size).split(" ").toSeq
      (i.toLong, (words.patch(i % words.size, Nil, 1) :+ s"doc$i").mkString(" "),
        if (i % 2 == 0) "web" else "books")
    }
  }

  private def docs(s: SparkSession): DataFrame =
    s.createDataFrame(docRows).toDF("doc_id", "text", "source")

  /** `build` run on the bare session and on the spec session: same rows. */
  private def sameOnBoth(build: SparkSession => DataFrame): Unit = {
    def rows(s: SparkSession) = build(s).collect().map(_.toString).sorted.toSeq
    val got = rows(bare)
    assert(got.nonEmpty)
    assert(got == rows(spark))
  }

  test("the bare session resolves no graft SQL name") {
    val e = intercept[AnalysisException](bare.sql("SELECT graft_md5('a')").collect())
    assert(e.getMessage.contains("UNRESOLVED_ROUTINE"), e.getMessage)
  }

  test("TextOps fingerprint, hashedTokenWeight and rollingFingerprint") {
    sameOnBoth(s => docs(s).select(col("doc_id"),
      TextOps.fingerprint(col("text")),
      TextOps.hashedTokenWeight(col("source")),
      TextOps.rollingFingerprint(col("text"))))
  }

  test("Dedup MinHash banding and SimHash") {
    sameOnBoth(s => Dedup.minhashLshPairs(docs(s), "doc_id", "text",
      shingleK = 2, numHashes = 12, rowsPerBand = 3, tau = 0.25))
    sameOnBoth(s => Dedup.simhashPairsBanded(docs(s), "doc_id", "text"))
  }

  test("Dedup winnowing") {
    sameOnBoth(s => Dedup.winnowSpans(docs(s), "doc_id", "text"))
  }

  test("RecallEval LSH recall curve") {
    sameOnBoth(s => RecallEval.lshRecallCurve(docs(s), "doc_id", "text",
      shingleK = 2, numHashes = 12, rowsPerBand = 3, tau = 0.25,
      probePerStratum = 3, stratifyCol = Some("source")))
  }

  test("Similarity native dot") {
    val vecs = Seq((1L, Seq(1.0f, 2.0f, 3.0f)), (2L, Seq(-0.5f, 0.25f, 4.0f)))
    sameOnBoth(s => s.createDataFrame(vecs).toDF("vec_id", "embedding")
      .select(col("vec_id"), Similarity.dot(col("embedding"), col("embedding"))))
  }
}
