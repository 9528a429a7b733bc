package graft.domain

import graft.ops.{Relational, Upsert}
import java.sql.Timestamp
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.{ColumnChunkMetaData, ColumnPath}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.parquet.schema.Type.Repetition
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Incremental pipeline runner (SURVEY §2.10 / §7.1 step 6): the
  * reference's `asof`-watermark orchestration as a small library.
  *
  * Each table lives as parquet under `storeDir/<table>`; an increment is
  *   watermark(table) → caller extracts/transforms a batch → conform to
  *   the catalog schema → idempotent keyed merge → atomic swap.
  * Replaying a batch is a no-op by construction (upsert semantics), which
  * is the whole crash-recovery story: re-run the window, nothing breaks.
  *
  * One pass: [[upsert]]'s row count rides on its single write as a
  * `Dataset.observe` metric — no cache, no second `count()` job.
  *
  * Metadata first: [[state]] reads with the catalog schema (no
  * schema-inference job), and [[watermark]] answers the reference's
  * `SELECT MAX(created_dt)` from the parquet footers on the driver, with
  * no Spark job, whenever every footer can answer it exactly (see
  * [[watermark]] for the rule); otherwise it scans.
  *
  * Commit: the tmp-write + directory swap goes through the Hadoop
  * `FileSystem` of `storeDir`, so it runs on any Hadoop filesystem. It is
  * the plain-parquet stand-in for a lakehouse table format's atomic commit
  * (Delta/Iceberg MERGE INTO); the engine-side plan is identical, only the
  * commit protocol differs. The swap is two renames, `<table>` →
  * `<table>__old` then `<table>__tmp` → `<table>`; a crash between them is
  * recovered before the next read: `__old` is restored when `<table>` is
  * missing, and deleted when both exist (the second rename completed).
  */
class Runner(spark: SparkSession, storeDir: String) {

  private val conf = spark.sparkContext.hadoopConfiguration
  private val fs: FileSystem = new Path(storeDir).getFileSystem(conf)

  private def path(table: String, suffix: String = "") = new Path(s"$storeDir/$table$suffix")

  /** Current state of a table — empty frame with the catalog schema if the
    * table has never been written. Read with the catalog schema, so no
    * job infers it; stored columns must be readable as the catalog types
    * (every table [[upsert]] writes is). */
  def state(table: String): DataFrame = {
    val dir = recovered(table)
    val schema = Schemas.of(table)
    if (fs.exists(dir))
      Relational.conformTo(spark.read.schema(schema).parquet(dir.toString), schema)
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
  }

  /** High watermark of `tsCol` in the stored table (None when empty or all
    * null) — the reference's `SELECT MAX(created_dt)` resume point.
    *
    * Read from the footer statistics of the table's data files (names
    * starting with `_` or `.` skipped) when every column chunk of `tsCol`
    * is INT64 `TIMESTAMP(isAdjustedToUTC=true, MICROS|MILLIS)` with
    * statistics; a chunk holding only nulls contributes nothing. Any other
    * layout — INT96, NTZ, NANOS, the column missing from a file, a
    * subdirectory, missing statistics, a maximum before 1900 (which Spark
    * may rebase from the legacy hybrid calendar) — falls back to a
    * descending top-1 scan (nulls last), which returns the same value. */
  def watermark(table: String, tsCol: String): Option[Timestamp] = {
    require(Schemas.of(table).exists(f => f.name == tsCol && f.dataType == TimestampType),
      s"watermark column '$tsCol' is not a timestamp column of table '$table'")
    footerMax(recovered(table), tsCol).getOrElse(
      state(table).select(col(tsCol)).orderBy(col(tsCol).desc_nulls_last).head(1)
        .headOption.flatMap(r => Option(r.getTimestamp(0))))
  }

  /** Conform `batch` to the catalog and merge it into the stored table on
    * the table's natural keys; atomic tmp-write + swap. Returns the new
    * row count. */
  def upsert(table: String, batch: DataFrame): Long = {
    val rows = Observation()
    val (target, tmp, old) = (path(table), path(table, "__tmp"), path(table, "__old"))
    Upsert
      .merge(state(table), Relational.conformTo(batch, Schemas.of(table)),
        Schemas.keys(table))
      .observe(rows, count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(tmp.toString)
    val n = rows.get("n").asInstanceOf[Long]
    try {
      if (fs.exists(target)) {
        fs.delete(old, true)
        renameOrFail(target, old)
        try renameOrFail(tmp, target)
        catch {
          case e: Throwable =>
            // restore; if even that fails, surface BOTH failures and where
            // the data now lives (the next read recovers it from there)
            try renameOrFail(old, target)
            catch {
              case e2: Throwable =>
                e.addSuppressed(new java.io.IOException(
                  s"restore also failed — previous table data is at $old", e2))
            }
            throw e
        }
        fs.delete(old, true)
      } else {
        renameOrFail(tmp, target)
      }
    } finally fs.delete(tmp, true)
    n
  }

  /** One incremental step: hand the current watermark to `extract`, merge
    * whatever batch it returns. */
  def increment(table: String, tsCol: String)
               (extract: Option[Timestamp] => DataFrame): Long =
    upsert(table, extract(watermark(table, tsCol)))

  private def renameOrFail(from: Path, to: Path): Unit =
    if (!fs.rename(from, to))
      throw new java.io.IOException(s"swap failed: $from -> $to")

  /** The table's directory, after undoing a swap a crash interrupted
    * between its two renames. */
  private def recovered(table: String): Path = {
    val (target, old) = (path(table), path(table, "__old"))
    if (fs.exists(old)) {
      if (fs.exists(target)) fs.delete(old, true)
      else renameOrFail(old, target)
    }
    target
  }

  /** `Some(max)` of `tsCol` over the footers of `dir`'s data files, or
    * None when one of them cannot answer exactly (the caller scans). */
  private def footerMax(dir: Path, tsCol: String): Option[Option[Timestamp]] =
    try {
      if (!fs.exists(dir)) Some(None)
      else {
        val files = fs.listStatus(dir).toSeq
          .filterNot(f => f.getPath.getName.startsWith("_") || f.getPath.getName.startsWith("."))
        if (files.exists(_.isDirectory)) None
        else {
          val perFile = files.map(chunkMaxes(_, tsCol))
          Option.when(perFile.forall(_.isDefined))(perFile.flatten.flatten.maxOption)
            .filter(_.forall(_ >= Runner.Micros1900))
            .map(_.map(DateTimeUtils.toJavaTimestamp))
        }
      }
    } catch { case NonFatal(_) => None }

  /** The max (µs) of each column chunk of `tsCol` in `file` holding a
    * non-null value, or None when the column's type or statistics do not
    * give it exactly. */
  private def chunkMaxes(file: FileStatus, tsCol: String): Option[Seq[Long]] = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf))
    val footer = try reader.getFooter finally reader.close()
    val schema = footer.getFileMetaData.getSchema
    val scale = Option.when(schema.containsField(tsCol))(schema.getType(schema.getFieldIndex(tsCol)))
      .filter(t => t.isPrimitive && !t.isRepetition(Repetition.REPEATED) &&
        t.asPrimitiveType.getPrimitiveTypeName == PrimitiveTypeName.INT64)
      .map(_.getLogicalTypeAnnotation)
      .collect { case t: TimestampLogicalTypeAnnotation if t.isAdjustedToUTC => t.getUnit }
      .collect { case TimeUnit.MICROS => 1L; case TimeUnit.MILLIS => 1000L }
    val colPath = ColumnPath.get(tsCol)
    val chunks = footer.getBlocks.asScala.toSeq
      .map(_.getColumns.asScala.find(_.getPath == colPath))
    def allNull(c: ColumnChunkMetaData) =
      c.getStatistics.isNumNullsSet && c.getStatistics.getNumNulls == c.getValueCount
    scale.filter(_ => chunks.forall(_.exists(c => c.getStatistics.hasNonNullValue || allNull(c))))
      .map(s => chunks.flatten.filter(_.getStatistics.hasNonNullValue)
        .map(c => s * c.getStatistics.genericGetMax.asInstanceOf[java.lang.Long]))
  }
}

private object Runner {
  /** 1900-01-01T00:00:00Z in epoch microseconds. */
  val Micros1900 = -2208988800000000L
}
