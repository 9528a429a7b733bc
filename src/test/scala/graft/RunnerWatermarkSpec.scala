package graft

import graft.domain.{Runner, Schemas}
import graft.ops.Relational
import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType, TimestampNTZType}

/** `Runner.watermark` from parquet footers: on every generated layout it
  * returns what the scan of the conformed table returns; the footer-served
  * layouts take no Spark job, the others fall back to a scan. */
class RunnerWatermarkSpec extends SparkSpec {
  private val Table = "season"
  private val Ts = "showing_started"

  private def ts(s: String) = Timestamp.valueOf(s)
  private def store() = Files.createTempDirectory("graft_wm").toString

  /** A session writing timestamps as `kind` (INT96 on the shared one). */
  private def writing(kind: String): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.parquet.outputTimestampType", kind)
    s
  }
  private lazy val micros = writing("TIMESTAMP_MICROS")

  /** Append one parquet file of (season_id, showing_started) to the table. */
  private def append(s: SparkSession, dir: String, rows: Seq[(Long, Option[Timestamp])],
                     options: Map[String, String] = Map.empty): Unit =
    s.createDataFrame(rows).toDF("season_id", Ts).coalesce(1)
      .write.options(options).mode("append").parquet(s"$dir/$Table")

  /** The watermark as a scan of the conformed table, its schema inferred
    * from every file. */
  private def scanned(dir: String): Option[Timestamp] =
    if (!new java.io.File(s"$dir/$Table").exists()) None
    else Option(Relational.conformTo(
        spark.read.option("mergeSchema", "true").parquet(s"$dir/$Table"), Schemas.of(Table))
      .agg(max(Ts)).head().getTimestamp(0))

  /** (jobs, watermark) of a fresh Runner over `dir`. */
  private def watermark(dir: String): (Int, Option[Timestamp]) =
    jobsDuring(new Runner(spark, dir).watermark(Table, Ts))

  private def servedFromFooters(dir: String, want: Option[Timestamp]): Unit = {
    val (jobs, got) = watermark(dir)
    assert(got == want && got == scanned(dir))
    assert(jobs == 0, "a footer-served watermark starts no job")
  }

  private def scannedFallback(dir: String, want: Option[Timestamp]): Unit = {
    val (jobs, got) = watermark(dir)
    assert(got == want && got == scanned(dir))
    assert(jobs > 0, "expected the scan fallback")
  }

  test("several files with nulls: the footer maximum, no job") {
    val dir = store()
    append(micros, dir, Seq(1L -> Some(ts("2001-01-28 00:00:00")), 2L -> None))
    append(micros, dir, Seq(3L -> Some(ts("2003-09-18 12:00:00.000001")), 4L -> None))
    append(micros, dir, Seq(5L -> Some(ts("2002-02-28 00:00:00"))))
    servedFromFooters(dir, Some(ts("2003-09-18 12:00:00.000001")))
  }

  test("all null, empty files and no table: None, no job") {
    servedFromFooters(store(), None)
    val allNull = store()
    append(micros, allNull, Seq(1L -> None, 2L -> None))
    servedFromFooters(allNull, None)
    val withEmpty = store()
    append(micros, withEmpty, Nil)
    servedFromFooters(withEmpty, None)
    append(micros, withEmpty, Seq(1L -> Some(ts("2000-05-31 00:00:00"))))
    append(micros, withEmpty, Nil)
    assert(new java.io.File(s"$withEmpty/$Table").list().count(_.endsWith(".parquet")) == 3)
    servedFromFooters(withEmpty, Some(ts("2000-05-31 00:00:00")))
  }

  test("TIMESTAMP_MILLIS files are served from footers") {
    val dir = store()
    append(writing("TIMESTAMP_MILLIS"), dir,
      Seq(1L -> Some(ts("2001-01-28 10:11:12.345")), 2L -> Some(ts("2000-05-31 00:00:00"))))
    servedFromFooters(dir, Some(ts("2001-01-28 10:11:12.345")))
  }

  test("building state starts no job") {
    val dir = store()
    append(micros, dir, Seq(1L -> Some(ts("2001-01-28 00:00:00"))))
    val (jobs, df) = jobsDuring(new Runner(spark, dir).state(Table))
    assert(jobs == 0)
    assert(df.schema.map(f => (f.name, f.dataType)) == Schemas.of(Table).map(f => (f.name, f.dataType)))
  }

  test("INT96, NTZ, a missing column, a subdirectory or no statistics: the scan") {
    val int96 = store()
    append(spark, int96, Seq(1L -> Some(ts("2001-01-28 00:00:00"))))
    scannedFallback(int96, Some(ts("2001-01-28 00:00:00")))

    // one INT96 file among MICROS files still falls back
    append(micros, int96, Seq(2L -> Some(ts("2002-01-28 00:00:00"))))
    scannedFallback(int96, Some(ts("2002-01-28 00:00:00")))

    val ntz = store()
    micros.createDataFrame(java.util.List.of(
        org.apache.spark.sql.Row(1L, java.time.LocalDateTime.parse("2001-01-28T00:00:00"))),
        StructType(Seq(StructField("season_id", LongType), StructField(Ts, TimestampNTZType))))
      .write.parquet(s"$ntz/$Table")
    scannedFallback(ntz, Some(ts("2001-01-28 00:00:00")))

    val missing = store()
    append(micros, missing, Seq(1L -> Some(ts("2001-01-28 00:00:00"))))
    micros.range(2, 3).toDF("season_id").write.mode("append").parquet(s"$missing/$Table")
    scannedFallback(missing, Some(ts("2001-01-28 00:00:00")))

    val partitioned = store()
    micros.createDataFrame(Seq((1L, 7L, ts("2001-01-28 00:00:00")), (2L, 8L, ts("2002-01-28 00:00:00"))))
      .toDF("season_id", "season_number", Ts)
      .write.partitionBy("season_number").parquet(s"$partitioned/$Table")
    scannedFallback(partitioned, Some(ts("2002-01-28 00:00:00")))

    val noStats = store()
    append(micros, noStats, Seq(1L -> Some(ts("2001-01-28 00:00:00"))),
      Map("parquet.column.statistics.enabled" -> "false"))
    scannedFallback(noStats, Some(ts("2001-01-28 00:00:00")))
  }

  test("Runner increments on a TIMESTAMP_MICROS session read the next watermark from footers") {
    def run(s: SparkSession): (Int, Option[Timestamp]) = {
      val r = new Runner(s, store())
      val batch = (rows: Seq[(Long, String, Timestamp)]) =>
        s.createDataFrame(rows).toDF("season_id", "name", Ts)
      r.increment(Table, Ts) { wm =>
        assert(wm.isEmpty)
        batch(Seq((1L, "Borneo", ts("2000-05-31 00:00:00"))))
      }
      r.increment(Table, Ts) { wm =>
        assert(wm.contains(ts("2000-05-31 00:00:00")))
        batch(Seq((2L, "Outback", ts("2001-01-28 00:00:00"))))
      }
      jobsDuring(r.watermark(Table, Ts))
    }
    val (microsJobs, viaFooters) = run(micros)
    assert(viaFooters.contains(ts("2001-01-28 00:00:00")))
    assert(microsJobs == 0)
    // the shared session writes INT96: the scan, the same value
    val (int96Jobs, viaScan) = run(spark)
    assert(viaScan == viaFooters && int96Jobs > 0)
  }

  test("watermark rejects a column that is not a timestamp of the table, naming both") {
    val r = new Runner(spark, store())
    for (c <- Seq("name", "season_id", "no_such_column")) {
      val e = intercept[IllegalArgumentException](r.watermark(Table, c))
      assert(e.getMessage.contains(s"'$c'") && e.getMessage.contains(s"'$Table'"), e.getMessage)
    }
  }
}
