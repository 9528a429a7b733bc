package perfbench

import graft.domain.{Runner, Schemas}
import graft.sources.v2.JsonlEndpoint
import java.io.File
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable.ArrayBuffer

/** The `pipeline` workload: the reference's incremental loop on
  * `reddit_comments`, starting from the generated seed table. Each op is
  * one `Runner.increment` that reads the next page through the
  * `graft-rest` batch source; the same batch is then replayed through
  * `Runner.upsert`, which must leave the table unchanged. A pass applies
  * every page to a fresh copy of the seeded table.
  *
  * Checks, all outside the timed windows: after every increment the
  * table must equal an independent latest-wins fold of the pages read so
  * far (plain JSON parsing, no Spark); after every replay its digest must
  * not have changed. */
final class Pipeline(a: Main.Args) extends Workload {
  private val Table = "reddit_comments"
  /** The extract re-reads this far behind the watermark, so re-sent
    * comments (changed scores) are picked up with the new ones. */
  private val LookbackS = 86400L
  private val work = a("work")
  private val sfDir = a("sf-dir")
  private val pages: Seq[File] = new File(a("pages-dir")).listFiles()
    .filter(_.getName.endsWith(".jsonl")).sortBy(_.getName).toSeq
  require(pages.length >= 2, s"need a seed page and at least one batch in ${a("pages-dir")}")
  private val fault = a.get("fault").contains("replay")
  private val schema = Schemas.of(Table)
  private val bodySchema = StructType(schema.fields.filter(_.name != "created_dt"))
  private val store = s"$work/store"
  private val seeded = s"${a("pages-dir")}/seed"

  private def extract(spark: SparkSession, page: File, startTs: Long): DataFrame =
    spark.read.format("graft-rest").option("path", page.getPath)
      .option("startTs", startTs).load()
      .select(from_json(col("body"), bodySchema).as("c")).select("c.*")
      .withColumn("created_dt", timestamp_seconds(col("created_utc")))

  private def startTs(wm: Option[java.sql.Timestamp]): Long =
    wm.map(_.getTime / 1000 - LookbackS).getOrElse(0L)

  /** Set-up: load the seed table and read its watermark. */
  def setup(spark: SparkSession): Unit =
    new Runner(spark, seeded).watermark(Table, "created_dt"): Unit

  def pass(spark: SparkSession, pass: Int, trace: Tracer, out: ArrayBuffer[Op]): Unit = {
    rm(new File(store))
    copy(new File(seeded), new File(store))
    val runner = new Runner(spark, store)
    val fold = new Fold
    fold.add(pages.head)
    for ((page, k) <- pages.zipWithIndex.drop(1)) {
      val batchRows = fold.add(page)
      var start = 0L
      val (incErr, incS, incSteal) = timed {
        trace.span("increment", "op", Map("page" -> k, "pass" -> pass)) {
          val opStart = trace.now()
          var exStart, exEnd = 0L
          runner.increment(Table, "created_dt") { wm =>
            exStart = trace.now()
            start = startTs(wm)
            val df = trace.span("extract", "extract")(extract(spark, page, start))
            exEnd = trace.now()
            df
          }
          trace.record("watermark", opStart, exStart)
          trace.record("upsert", exEnd, trace.now())
        }
      }
      val d1 = if (incErr == null) tableDigest(spark) else null
      val want = fold.digest(schema)
      val incOk = incErr == null && d1 == want
      out += Op(s"increment-$k", "domain", pass, incS, incSteal, incOk, batchRows,
        error = if (incErr != null) incErr else if (!incOk) s"table $d1, fold $want" else null)
      if (trace.enabled) endpointCall(page, start, pass)
      if (k == pages.length - 1) replay(spark, runner, page, start, d1, pass, batchRows, trace, out)
    }
  }

  /** Re-apply the pass's last batch through `Runner.upsert`; the table
    * digest must not change. */
  private def replay(spark: SparkSession, runner: Runner, page: File, start: Long,
                     before: String, pass: Int, batchRows: Long, trace: Tracer,
                     out: ArrayBuffer[Op]): Unit = {
    val (repErr, repS, repSteal) = timed {
      trace.span("replay", "op", Map("pass" -> pass)) {
        val b = extract(spark, page, start)
        runner.upsert(Table,
          if (fault) b.withColumn("score", col("score") + lit(1L)) else b)
      }
    }
    val d2 = if (repErr == null) tableDigest(spark) else null
    val repOk = repErr == null && before != null && d2 == before
    out += Op(s"replay-${pages.length - 1}", "domain", pass, repS, repSteal, repOk, batchRows,
      replay = true,
      error = if (repErr != null) repErr else if (!repOk) s"replay changed table $before -> $d2" else null)
  }

  private val endpointCalls = ArrayBuffer.empty[Map[String, Any]]

  /** The `sources` layer from outside: the calls the graft-rest batch
    * scan makes on its endpoint (the max-ts probe while planning, then the
    * page reads of one window), timed directly. */
  private def endpointCall(page: File, after: Long, pass: Int): Unit = {
    val t0 = System.nanoTime()
    val ep = new JsonlEndpoint
    ep.init(Map("path" -> page.getPath))
    var cursor = after
    var rows = 0L
    val end = ep.maxTs(after).getOrElse(after)
    while (cursor < end) {
      val got = ep.page(cursor, end, 1000)
      rows += got.length
      cursor = got.map(_.ts).max
    }
    endpointCalls += Map("pass" -> pass, "seconds" -> (System.nanoTime() - t0) / 1e9,
      "rows" -> rows, "batch_bytes" -> page.length())
  }

  override def layers(spark: SparkSession): Map[String, Any] =
    Kernels.measure(spark, sfDir) ++ Map("endpoint_calls" -> endpointCalls.toSeq)

  private def tableDigest(spark: SparkSession): String = {
    val df = spark.read.parquet(s"$store/$Table")
    Digest(df.schema, df.collect())._1
  }

  /** (error or null, wall seconds, steal share) of `body`. */
  private def timed(body: => Unit): (String, Double, Double) = Clock.timed {
    try { body; null } catch {
      case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}"
    }
  }

  private def rm(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rm)
    if (f.exists()) f.delete(): Unit
  }

  private def copy(from: File, to: File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      from.listFiles().foreach(f => copy(f, new File(to, f.getName)))
    } else java.nio.file.Files.copy(from.toPath, to.toPath): Unit
}

/** Latest-wins fold of JSONL pages by comment id, built with Jackson and
  * plain collections: the expected table, independent of Spark and of
  * `Upsert.merge`. */
private final class Fold {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val rows = scala.collection.mutable.HashMap.empty[String, Row]

  /** Fold one page in; returns its row count. */
  def add(page: File): Long = {
    val src = scala.io.Source.fromFile(page, "UTF-8")
    var n = 0L
    try src.getLines().filter(_.trim.nonEmpty).foreach { line =>
      val j = mapper.readTree(line)
      def s(k: String) = Option(j.get(k)).filterNot(_.isNull).map(_.asText()).orNull
      def l(k: String): Any = Option(j.get(k)).filterNot(_.isNull).map(_.asLong(): Any).orNull
      val utc = j.get("created_utc").asLong()
      rows(j.get("id").asText()) = Row(s("id"), s("author"), s("body"), s("subreddit"),
        s("stringified_media"), utc, l("score"), l("most_recent_season"),
        l("most_recent_episode"), l("within_season"), new java.sql.Timestamp(utc * 1000L))
      n += 1
    } finally src.close()
    n
  }

  /** Digest in the schema's column order (id, author, body, subreddit,
    * stringified_media, created_utc, score, most_recent_season,
    * most_recent_episode, within_season, created_dt). */
  def digest(schema: StructType): String = Digest(schema, rows.values)._1
}
