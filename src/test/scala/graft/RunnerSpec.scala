package graft

import graft.domain.{Runner, Schemas}
import graft.ops.InternalCaches
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.SpanSugar._
import java.nio.file.Files
import java.sql.Timestamp

class RunnerSpec extends SparkSpec with TimeLimits with AdaptiveSparkPlanHelper {
  import spark.implicits._
  implicit val signaler: Signaler = ThreadSignaler

  private def ts(s: String) = Timestamp.valueOf(s)

  test("upsertStatement emits the reference ON CONFLICT shape; key-only tables DO NOTHING") {
    assert(graft.ops.Upsert.upsertStatement("t", "t_staging",
      Seq("id", "a", "b"), Seq("id")) ==
      "INSERT INTO t (id, a, b) SELECT id, a, b FROM t_staging " +
        "ON CONFLICT (id) DO UPDATE SET a = EXCLUDED.a, b = EXCLUDED.b")
    assert(graft.ops.Upsert.upsertStatement("t", "t_staging",
      Seq("id"), Seq("id")) ==
      "INSERT INTO t (id) SELECT id FROM t_staging ON CONFLICT (id) DO NOTHING")
    assertThrows[IllegalArgumentException](
      graft.ops.Upsert.upsertStatement("t", "s", Seq("a"), Seq("id")))
  }

  test("viaTempTable: one staged write + one statement; updates win; replay is a no-op") {
    import graft.ops.Upsert
    val dir = Files.createTempDirectory("graft_sink").toString
    val keys = Seq("id")
    val captured = scala.collection.mutable.Buffer[String]()
    // parquet-backed fake transport: stage() bulk-writes the batch where a
    // JDBC sink would CREATE TEMP TABLE; execute() applies the statement's
    // upsert semantics (insert-or-update on keys) to the stored target
    // state and captures the SQL text for assertion
    val sink = new Upsert.UpsertSink {
      def stage(updates: org.apache.spark.sql.DataFrame, tempTable: String): Unit =
        updates.write.mode("overwrite").parquet(s"$dir/$tempTable")
      def execute(sql: String): Unit = {
        captured += sql
        val staged = spark.read.parquet(s"$dir/target_staging")
        val tgt = new java.io.File(s"$dir/target")
        val merged =
          if (tgt.exists) Upsert.merge(spark.read.parquet(s"$dir/target"), staged, keys)
          else staged
        val rows = merged.collect().toSeq // materialize before overwriting the source
        spark.createDataFrame(
          spark.sparkContext.parallelize(rows), merged.schema)
          .write.mode("overwrite").parquet(s"$dir/target")
      }
    }
    def state() = spark.read.parquet(s"$dir/target")
      .as[(Long, String)].collect().toMap

    val sql1 = Upsert.viaTempTable(
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), sink, "target", keys)
    assert(sql1 == "INSERT INTO target (id, v) SELECT id, v FROM target_staging " +
      "ON CONFLICT (id) DO UPDATE SET v = EXCLUDED.v")
    assert(state() == Map(1L -> "a", 2L -> "b"))

    val batch2 = Seq((2L, "B"), (3L, "c")).toDF("id", "v")
    Upsert.viaTempTable(batch2, sink, "target", keys)
    assert(state() == Map(1L -> "a", 2L -> "B", 3L -> "c"))

    // replay the identical batch through the sink API: state unchanged
    Upsert.viaTempTable(batch2, sink, "target", keys)
    assert(state() == Map(1L -> "a", 2L -> "B", 3L -> "c"))
    assert(captured.size == 3 && captured.distinct.size == 1)

    // a batch with duplicate keys stages DEDUPED (latest-wins) — a raw
    // duplicate would make the single ON CONFLICT statement illegal on a
    // real database ("cannot affect row a second time")
    Upsert.viaTempTable(
      Seq((4L, "x"), (4L, "z"), (4L, "y")).toDF("id", "v"), sink, "target", keys)
    val staged = spark.read.parquet(s"$dir/target_staging")
      .as[(Long, String)].collect().toSeq
    assert(staged == Seq((4L, "z"))) // one survivor, deterministic (max v)
    assert(state() == Map(1L -> "a", 2L -> "B", 3L -> "c", 4L -> "z"))
  }

  test("runner: watermark advances, replay is idempotent, conform applied") {
    val dir = Files.createTempDirectory("graft_runner").toString
    val r = new Runner(spark, dir)

    assert(r.watermark("season", "showing_started").isEmpty)

    val batch1 = Seq(
      (1L, "Borneo", ts("2000-05-31 00:00:00")),
      (2L, "Outback", ts("2001-01-28 00:00:00")))
      .toDF("season_id", "name", "showing_started")
      .withColumn("junk", lit("dropped-by-conform"))
    assert(r.upsert("season", batch1) == 2)
    assert(r.state("season").columns.contains("type")) // conformed to catalog
    assert(!r.state("season").columns.contains("junk"))
    assert(r.watermark("season", "showing_started").contains(ts("2001-01-28 00:00:00")))

    // replay the same batch: still 2 rows
    assert(r.upsert("season", batch1) == 2)

    // increment: extract sees the watermark, merges only newer seasons
    val n = r.increment("season", "showing_started") { wm =>
      assert(wm.contains(ts("2001-01-28 00:00:00")))
      Seq((2L, "Australian Outback", ts("2001-01-28 00:00:00")),
        (3L, "Africa", ts("2001-10-11 00:00:00")))
        .toDF("season_id", "name", "showing_started")
    }
    assert(n == 3)
    val names = r.state("season").select("season_id", "name")
      .as[(Long, String)].collect().toMap
    assert(names == Map(1L -> "Borneo", 2L -> "Australian Outback", 3L -> "Africa"))
  }

  test("watermark: the latest non-null timestamp; None when empty or all null") {
    val r = new Runner(spark, Files.createTempDirectory("graft_runner_wm").toString)
    val rows = Seq((1L, Option.empty[Timestamp]), (2L, Some(ts("2001-01-28 00:00:00"))),
      (3L, Some(ts("2000-05-31 00:00:00"))))
    assert(r.watermark("season", "showing_started").isEmpty)
    r.upsert("season", rows.take(1).toDF("season_id", "showing_started"))
    assert(r.watermark("season", "showing_started").isEmpty)
    r.upsert("season", rows.toDF("season_id", "showing_started"))
    assert(r.watermark("season", "showing_started").contains(ts("2001-01-28 00:00:00")))
  }

  test("upsert is one pass: no cache pin, the batch scanned once by the write") {
    val dir = Files.createTempDirectory("graft_runner_1pass").toString
    val r = new Runner(spark, dir)
    r.upsert("season", Seq((1L, "Borneo", ts("2000-05-31 00:00:00")))
      .toDF("season_id", "name", "showing_started"))
    val batchDir = s"$dir/batch_src"
    Seq((1L, "Pulau Tiga", ts("2000-05-31 00:00:00")),
      (2L, "Outback", ts("2001-01-28 00:00:00")))
      .toDF("season_id", "name", "showing_started").write.parquet(batchDir)

    val writes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        writes.add(qe): Unit
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val pinned = InternalCaches.pinned
    spark.listenerManager.register(listener)
    val n =
      try r.upsert("season", spark.read.parquet(batchDir))
      finally { drainListenerBus(); spark.listenerManager.unregister(listener) }
    assert(n == 2)
    assert(InternalCaches.pinned == pinned)
    assert(writes.size == 1, "one action: the write")
    val plan = writes.peek().executedPlan
    assert(collect(plan) { case s: InMemoryTableScanExec => s }.isEmpty)
    val scans = collect(plan) { case s: FileSourceScanExec => s.relation.location.rootPaths }
    assert(scans.count(_.exists(_.toString.endsWith("batch_src"))) == 1, scans)
    assert(r.state("season").select("name").as[String].collect().sorted.toSeq ==
      Seq("Outback", "Pulau Tiga"))
  }

  test("upsert: an empty batch into a never-written table counts 0 and keeps the schema") {
    val dir = Files.createTempDirectory("graft_runner_empty").toString
    val r = new Runner(spark, dir)
    val empty = Seq.empty[(Long, String)].toDF("season_id", "name")
    val n = failAfter(60.seconds)(r.upsert("season", empty))
    assert(n == 0)
    val stored = spark.read.parquet(s"$dir/season")
    assert(stored.count() == 0)
    assert(stored.schema.map(f => (f.name, f.dataType)) ==
      Schemas.of("season").map(f => (f.name, f.dataType)))
  }

  test("a crash between the swap's two renames: the next Runner restores the table") {
    val dir = Files.createTempDirectory("graft_runner_crash").toString
    def rows(r: Runner) = r.state("season").select("season_id", "name", "showing_started")
      .as[(Long, String, Timestamp)].collect().sortBy(_._1).toSeq
    val r = new Runner(spark, dir)
    r.upsert("season", Seq((1L, "Borneo", ts("2000-05-31 00:00:00")),
      (2L, "Outback", ts("2001-01-28 00:00:00"))).toDF("season_id", "name", "showing_started"))
    val before = rows(r)
    val wm = r.watermark("season", "showing_started")
    val batch = Seq((2L, "Australian Outback", ts("2001-01-28 00:00:00")),
      (3L, "Africa", ts("2001-10-11 00:00:00"))).toDF("season_id", "name", "showing_started")

    // the crash: `season` → `season__old` done, `season__tmp` → `season` not,
    // and a stale `season__tmp` left behind
    Files.move(java.nio.file.Paths.get(s"$dir/season"), java.nio.file.Paths.get(s"$dir/season__old"))
    batch.write.parquet(s"$dir/season__tmp")

    val fresh = new Runner(spark, dir)
    assert(fresh.watermark("season", "showing_started") == wm)
    assert(rows(fresh) == before)
    assert(!new java.io.File(s"$dir/season__old").exists())

    // replaying the interrupted batch gives the expected table, then is a no-op
    val want = Seq((1L, "Borneo", ts("2000-05-31 00:00:00")),
      (2L, "Australian Outback", ts("2001-01-28 00:00:00")),
      (3L, "Africa", ts("2001-10-11 00:00:00")))
    assert(fresh.upsert("season", batch) == 3)
    assert(rows(fresh) == want)
    assert(fresh.upsert("season", batch) == 3)
    assert(rows(fresh) == want)
    assert(new java.io.File(dir).list().sorted.toSeq == Seq("season"))
  }

  test("a leftover __old next to the table (crash after the second rename) is deleted") {
    val dir = Files.createTempDirectory("graft_runner_leftover").toString
    val r = new Runner(spark, dir)
    r.upsert("season", Seq((1L, "Borneo")).toDF("season_id", "name"))
    Seq((9L, "stale")).toDF("season_id", "name").write.parquet(s"$dir/season__old")
    assert(new Runner(spark, dir).state("season").select("name").as[String].collect().toSeq ==
      Seq("Borneo"))
    assert(!new java.io.File(s"$dir/season__old").exists())
  }
}
