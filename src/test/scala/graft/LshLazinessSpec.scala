package graft

import graft.dedup.Dedup
import graft.ops.{InternalCaches, Skew}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._

/** The self-pair generators build one lazy plan: no Spark job runs and no
  * cache is pinned until the caller's action, and the one action reads
  * the upstream lineage once through a reused exchange. */
class LshLazinessSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def assertLazy(what: String)(build: => DataFrame): DataFrame = {
    val pinned = InternalCaches.pinned
    val (jobs, df) = jobsDuring(build)
    assert(jobs == 0, s"building $what ran $jobs Spark job(s)")
    assert(InternalCaches.pinned == pinned, s"building $what pinned a cache")
    df
  }

  test("building the self-pair generators runs no Spark job and pins no cache") {
    // a hot bucket (60 rows over threshold 16) next to cold ones: the
    // guard engages, and the plan is still built without an action
    val rows = ((1 to 60).map(i => (i.toLong, 0L)) ++
      (61 to 90).map(i => (i.toLong, 1 + i % 7L))).toDF("id", "bucket")
    val self = assertLazy("boundedSelfPairs")(
      Skew.boundedSelfPairs(rows, Seq("bucket"), "id",
        hotThreshold = 16, blockSize = 16))
    // hot bucket C(60,2); cold buckets 2×C(5,2) + 5×C(4,2)
    assert(self.count() == 60L * 59 / 2 + 2 * 10 + 5 * 6)

    val wide = spark.range(200).select(col("id"),
      when(col("id") < 50, lit(7L)).otherwise(col("id") % 11).as("b0"),
      (col("id") % 13).as("b1"))
    val banded = assertLazy("boundedWideBandPairs")(
      Skew.boundedWideBandPairs(wide, "id", Seq("b0", "b1"),
        hotThreshold = 16, blockSize = 16, carryCols = Seq("b1")))
    assert(banded.filter($"id_a" >= $"id_b").isEmpty)

    val docs = SkewStress.textCorpus(spark, 200, skewed = true)
    val pairs = assertLazy("Dedup.minhashLshPairs")(
      Dedup.minhashLshPairs(docs, "doc_id", "text",
        hotThreshold = 16, blockSize = 16))
    assert(pairs.columns.toSeq == Seq("id_a", "id_b", "est_jaccard"))
  }

  test("x03's collected plan reads no cache and reuses the window exchange") {
    // x03 over a generated documents table with a boilerplate flood
    val sf = java.nio.file.Files.createTempDirectory("graft_lazy_x03").toString
    SkewStress.textCorpus(spark, 300, skewed = true)
      .write.parquet(s"$sf/documents.parquet")
    // the first load of a table reads its parquet schema with a job; that
    // job is the table's, not the query's, so it runs before the count
    Tables.load(spark, sf, "documents")
    val df = assertLazy("x03_dedup_minhash")(
      SparkEntry.queries("x03_dedup_minhash")(spark, sf))
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(collect(plan) { case s: InMemoryTableScanExec => s }.isEmpty,
      s"x03 reads a cached relation:\n$plan")
    assert(df.queryExecution.withCachedData.toString.indexOf("InMemoryRelation") < 0)
    assert(collect(plan) { case r: ReusedExchangeExec => r }.nonEmpty,
      s"x03's join sides do not share the window exchange:\n$plan")
  }
}
