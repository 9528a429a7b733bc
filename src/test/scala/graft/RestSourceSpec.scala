package graft

import graft.sources.v2.{JsonlEndpoint, RestRecord}
import graft.streaming.Streams
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.functions._

/** The S7 paginated-REST shape as a first-class DSv2 source: batch +
  * micro-batch faces of `graft-rest` against a JSONL fixture endpoint
  * (reference reddit/reddit_extract.py:59-92 re-expressed as offsets the
  * engine checkpoints). */
class RestSourceSpec extends SparkSpec {
  import spark.implicits._

  private def writeJsonl(dir: Path, name: String, recs: Seq[(String, Long, String)]): Unit = {
    val lines = recs.map { case (id, ts, v) =>
      s"""{"id":"$id","created_utc":$ts,"v":"$v"}"""
    }.mkString("", "\n", "\n")
    Files.write(dir.resolve(name), lines.getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  private def tmpDir(prefix: String): Path = Files.createTempDirectory(prefix)

  test("batch face reads every record after startTs with the declared schema") {
    val dir = tmpDir("graft_rest_batch")
    writeJsonl(dir, "a.jsonl", (1 to 10).map(i => (f"r$i%02d", i.toLong, s"v$i")))
    val df = spark.read.format("graft-rest")
      .option("path", dir.toString).option("startTs", "3").load()
    assert(df.schema.map(_.name) == Seq("id", "created_utc", "body"))
    val got = df.select("id", "created_utc").as[(String, Long)].collect().toSet
    assert(got == (4 to 10).map(i => (f"r$i%02d", i.toLong)).toSet)
  }

  test("pagination never splits a timestamp group (pageSize below group size)") {
    val dir = tmpDir("graft_rest_group")
    // 7 records share ts=5: a max(ts) cursor with a naive page limit of 2
    // would drop the run's tail (the reference bug the contract fixes)
    writeJsonl(dir, "a.jsonl",
      (1 to 7).map(i => (s"g$i", 5L, "x")) ++ Seq(("h1", 6L, "y")))
    val got = spark.read.format("graft-rest")
      .option("path", dir.toString).option("pageSize", "2")
      .option("numPartitions", "1").load()
      .select("id").as[String].collect().toSet
    assert(got == ((1 to 7).map(i => s"g$i").toSet + "h1"))
  }

  test("out-of-range options fail on the driver, naming the option") {
    val dir = tmpDir("graft_rest_opts")
    writeJsonl(dir, "a.jsonl", Seq(("o1", 1L, "x")))
    for ((name, v) <- Seq("pageSize" -> "0", "pageSize" -> "ten",
        "numPartitions" -> "0", "numPartitions" -> "-2", "maxRetries" -> "0",
        "retryBaseMs" -> "-1", "maxTsAdvancePerBatch" -> "0",
        "startTs" -> "1.5")) {
      val e = intercept[IllegalArgumentException](
        spark.read.format("graft-rest").option("path", dir.toString)
          .option(name, v).load())
      assert(e.getMessage.contains(s"option $name") &&
        e.getMessage.contains(s"'$v'"), e.getMessage)
    }
    // the edges stay legal: one partition, one attempt, no backoff
    val got = spark.read.format("graft-rest").option("path", dir.toString)
      .option("pageSize", "1").option("numPartitions", "1")
      .option("maxRetries", "1").option("retryBaseMs", "0")
      .option("maxTsAdvancePerBatch", "1").load()
      .select("id").as[String].collect()
    assert(got.toSeq == Seq("o1"))
  }

  test("JsonlEndpoint rejects a bad record, naming file, line and field") {
    val good = """{"id":"a","created_utc":1}"""
    for ((bad, field) <- Seq(
        """{"created_utc":2}""" -> "'id'",
        """{"id":null,"created_utc":2}""" -> "'id'",
        """{"id":"b"}""" -> "'created_utc'",
        """{"id":"b","created_utc":null}""" -> "'created_utc'",
        """{"id":"b","created_utc":"abc"}""" -> "'created_utc' must be an integer",
        """{"id":"b","created_utc":2.5}""" -> "'created_utc' must be an integer",
        """{"id":"b","created_utc":99999999999999999999}""" ->
          "'created_utc' must be an integer",
        """{"id":"b",""" -> "not JSON")) {
      val dir = tmpDir("graft_rest_bad")
      // line 2 is blank: line numbers count every line of the file
      Files.write(dir.resolve("p.jsonl"),
        s"$good\n\n$bad\n".getBytes(StandardCharsets.UTF_8))
      val ep = new JsonlEndpoint
      ep.init(Map("path" -> dir.toString))
      val e = intercept[IllegalArgumentException](ep.maxTs(0L))
      assert(e.getMessage.contains("p.jsonl:3") && e.getMessage.contains(field),
        e.getMessage)
    }
  }

  test("JsonlEndpoint sees lines appended to the same file between calls") {
    val dir = tmpDir("graft_rest_append")
    writeJsonl(dir, "a.jsonl", Seq(("r1", 1L, "a"), ("r2", 2L, "b"), ("r3", 3L, "c")))
    val ep = new JsonlEndpoint
    ep.init(Map("path" -> dir.resolve("a.jsonl").toString))
    assert(ep.maxTs(0L).contains(3L))
    assert(ep.maxTs(3L).isEmpty)
    assert(ep.page(0L, 10L, 100).map(_.id) == Seq("r1", "r2", "r3"))
    writeJsonl(dir, "a.jsonl", Seq(("r4", 4L, "d"), ("r0", 2L, "e")))
    assert(ep.maxTs(3L).contains(4L))
    assert(ep.page(0L, 10L, 100).map(_.id) == Seq("r1", "r0", "r2", "r3", "r4"))
    // the limit falls inside the ts=2 run: the page extends to its end
    assert(ep.page(0L, 10L, 2).map(_.id) == Seq("r1", "r0", "r2"))
    assert(ep.page(2L, 3L, 100).map(_.id) == Seq("r3"))
  }

  test("one JsonlEndpoint parses an unchanged file once across maxTs and page calls") {
    val dir = tmpDir("graft_rest_parse_once")
    writeJsonl(dir, "a.jsonl", (1 to 100).map(i => (f"p$i%03d", i.toLong, "x")))
    val ep = new CountingEndpoint
    ep.init(Map("path" -> dir.resolve("a.jsonl").toString))
    val end = ep.maxTs(0L).get
    var (cursor, seen) = (0L, Seq.empty[String])
    while (cursor < end) {
      val got = ep.page(cursor, end, 10)
      seen ++= got.map(_.id)
      cursor = got.map(_.ts).max
    }
    assert(seen == (1 to 100).map(i => f"p$i%03d"))
    assert(ep.parses.get == 1, "an unchanged file is parsed once")
    writeJsonl(dir, "a.jsonl", Seq(("p101", 101L, "x")))
    assert(ep.maxTs(end).contains(101L))
    assert(ep.parses.get == 2)
  }

  test("page fetches retry with backoff (flaky endpoint heals)") {
    val dir = tmpDir("graft_rest_flaky")
    writeJsonl(dir, "a.jsonl", (1 to 4).map(i => (s"f$i", i.toLong, "x")))
    FlakyEndpoint.reset(failures = 2)
    val got = spark.read.format("graft-rest")
      .option("path", dir.toString)
      .option("endpoint", classOf[FlakyEndpoint].getName)
      .option("numPartitions", "1")
      .option("maxRetries", "4").option("retryBaseMs", "1").load()
      .select("id").as[String].collect().toSet
    assert(got == (1 to 4).map(i => s"f$i").toSet)
    assert(FlakyEndpoint.attempts.get() >= 3) // 2 failures + ≥1 success
  }

  test("micro-batch stream: incremental pages land idempotently via upsertEachBatch") {
    val dir = tmpDir("graft_rest_stream")
    val target = tmpDir("graft_rest_target").toString + "/t"
    val ckpt = tmpDir("graft_rest_ckpt").toString
    writeJsonl(dir, "a.jsonl", Seq(("s1", 1L, "a"), ("s2", 2L, "b")))
    val df = spark.readStream.format("graft-rest")
      .option("path", dir.toString).load()
      .select(col("id"), col("created_utc"),
        get_json_object(col("body"), "$.v").as("v"))
    val q = Streams.upsertEachBatch(
        df.writeStream.option("checkpointLocation", ckpt), target, Seq("id"))
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // new records appear at the endpoint — including a RE-DELIVERY of s2
      // with a corrected body (the at-least-once API case K1 absorbs)
      writeJsonl(dir, "b.jsonl", Seq(("s2", 3L, "b2"), ("s3", 3L, "c")))
      q.processAllAvailable()
      val got = spark.read.parquet(target).select("id", "v")
        .as[(String, String)].collect().toSet
      assert(got == Set(("s1", "a"), ("s2", "b2"), ("s3", "c")))
    } finally stopQuietly(q)
  }

  test("maxTsAdvancePerBatch bounds each micro-batch's window") {
    val dir = tmpDir("graft_rest_bounded")
    val target = tmpDir("graft_rest_btarget").toString + "/t"
    val ckpt = tmpDir("graft_rest_bckpt").toString
    writeJsonl(dir, "a.jsonl", (1 to 9).map(i => (s"m$i", i.toLong, "x")))
    val df = spark.readStream.format("graft-rest")
      .option("path", dir.toString)
      .option("maxTsAdvancePerBatch", "3").load()
    val q = Streams.upsertEachBatch(
        df.writeStream.option("checkpointLocation", ckpt), target, Seq("id"))
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.read.parquet(target).select("id").as[String].collect().toSet
      assert(got == (1 to 9).map(i => s"m$i").toSet)
      // 9 ts units / ≤3 per window ⇒ at least 3 non-empty micro-batches
      val nonEmpty = q.recentProgress.count(_.numInputRows > 0)
      assert(nonEmpty >= 3, s"expected ≥3 bounded batches, saw $nonEmpty")
    } finally stopQuietly(q)
  }

  test("checkpoint restart resumes the cursor — no re-delivery of committed pages") {
    val dir = tmpDir("graft_rest_restart")
    val ckpt = tmpDir("graft_rest_rckpt").toString
    writeJsonl(dir, "a.jsonl", Seq(("r1", 1L, "a"), ("r2", 2L, "b")))
    RowLog.clear()
    def start() = spark.readStream.format("graft-rest")
      .option("path", dir.toString).load()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        RowLog.add(b.select("id").as[String](org.apache.spark.sql.Encoders.STRING)
          .collect().toSeq)
      }.outputMode("append").start()
    val q1 = start()
    try q1.processAllAvailable() finally stopQuietly(q1)
    // records arrive while the stream is DOWN; restart must deliver only
    // these, never re-page the committed window
    writeJsonl(dir, "b.jsonl", Seq(("r3", 5L, "c")))
    val q2 = start()
    try q2.processAllAvailable() finally stopQuietly(q2)
    val seen = RowLog.all()
    assert(seen.sorted == Seq("r1", "r2", "r3"),
      s"duplicate or missing delivery: $seen")
  }
}

/** Test endpoint: fails the first `failures` page calls, then behaves as
  * [[JsonlEndpoint]] — drives the Retry.withRetry integration. */
class FlakyEndpoint extends JsonlEndpoint {
  override def page(afterTs: Long, beforeTs: Long, limit: Int): Seq[RestRecord] = {
    val n = FlakyEndpoint.attempts.incrementAndGet()
    if (n <= FlakyEndpoint.failAt.get())
      throw new RuntimeException(s"transient 5xx (call $n)")
    super.page(afterTs, beforeTs, limit)
  }
}

object FlakyEndpoint {
  val attempts = new AtomicInteger(0)
  val failAt = new AtomicInteger(0)
  def reset(failures: Int): Unit = { attempts.set(0); failAt.set(failures) }
}

/** Test endpoint: counts the files [[JsonlEndpoint]] parses. */
class CountingEndpoint extends JsonlEndpoint {
  val parses = new AtomicInteger(0)
  override protected def parse(fs: org.apache.hadoop.fs.FileSystem,
                               f: org.apache.hadoop.fs.Path): Seq[RestRecord] = {
    parses.incrementAndGet()
    super.parse(fs, f)
  }
}

/** Cross-JVM-safe (single test JVM) row log for delivery assertions. */
object RowLog {
  private val buf = scala.collection.mutable.ArrayBuffer.empty[String]
  def add(ids: Seq[String]): Unit = synchronized { buf ++= ids }
  def all(): Seq[String] = synchronized { buf.toList }
  def clear(): Unit = synchronized { buf.clear() }
}
