package graft.domain

import graft.ops.{Relational, Upsert}
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

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
  * Storage note: the tmp-write + directory-swap below is the plain-parquet
  * stand-in for a lakehouse table format's atomic commit (Delta/Iceberg
  * MERGE INTO); the engine-side plan is identical, only the commit
  * protocol differs.
  */
class Runner(spark: SparkSession, storeDir: String) {

  private def path(table: String) = s"$storeDir/$table"

  /** Current state of a table — empty frame with the catalog schema if the
    * table has never been written. */
  def state(table: String): DataFrame = {
    val dir = new java.io.File(path(table))
    if (dir.exists())
      Relational.conformTo(spark.read.parquet(path(table)), Schemas.of(table))
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Schemas.of(table))
  }

  /** High watermark of `tsCol` in the stored table (null when empty) —
    * the reference's `SELECT MAX(created_dt)` resume point, read as a
    * descending top-1 (nulls last): the same value as `max` in one job,
    * where a global aggregate takes a shuffle and a second job. */
  def watermark(table: String, tsCol: String): Option[java.sql.Timestamp] =
    state(table).select(col(tsCol)).orderBy(col(tsCol).desc_nulls_last).head(1)
      .headOption.flatMap(r => Option(r.get(0))).map(_.asInstanceOf[java.sql.Timestamp])

  /** Conform `batch` to the catalog and merge it into the stored table on
    * the table's natural keys; atomic tmp-write + swap. Returns the new
    * row count. */
  def upsert(table: String, batch: DataFrame): Long = {
    val rows = Observation()
    val tmp = path(table) + "__tmp"
    Upsert
      .merge(state(table), Relational.conformTo(batch, Schemas.of(table)),
        Schemas.keys(table))
      .observe(rows, count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(tmp)
    val n = rows.get("n").asInstanceOf[Long]
    val target = new java.io.File(path(table))
    def renameOrFail(from: java.io.File, to: java.io.File): Unit =
      if (!from.renameTo(to))
        throw new java.io.IOException(
          s"swap failed: $from -> $to (cross-device move or open handles)")
    try {
      if (target.exists()) {
        val old = new java.io.File(path(table) + "__old")
        deleteRec(old)
        renameOrFail(target, old)
        try renameOrFail(new java.io.File(tmp), target)
        catch {
          case e: Throwable =>
            // restore; if even that fails, surface BOTH failures and where
            // the data now lives
            try renameOrFail(old, target)
            catch {
              case e2: Throwable =>
                e.addSuppressed(new java.io.IOException(
                  s"restore also failed — previous table data is at $old", e2))
            }
            throw e
        }
        deleteRec(old)
      } else {
        renameOrFail(new java.io.File(tmp), target)
      }
    } finally deleteRec(new java.io.File(tmp))
    n
  }

  /** One incremental step: hand the current watermark to `extract`, merge
    * whatever batch it returns. */
  def increment(table: String, tsCol: String)
               (extract: Option[java.sql.Timestamp] => DataFrame): Long =
    upsert(table, extract(watermark(table, tsCol)))

  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRec)
    if (f.exists()) f.delete(): Unit
  }
}
