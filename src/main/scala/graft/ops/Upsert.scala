package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Upsert (SURVEY §2.2 K1; reference `helpers/load_helpers.py:4-39` —
  * temp-table + `INSERT … ON CONFLICT (keys) DO UPDATE`).
  *
  * Two faces:
  *
  *  1. [[merge]] — the set semantics, engine-side: given the current table
  *     state and an updates batch, produce the post-upsert state. Updates
  *     win on key collision; within the updates batch the latest row under
  *     `updateTiebreak` wins (the reference's batch is already deduped by
  *     construction). This is what `MERGE INTO` computes, expressed as a
  *     plan so it can be tested and oracle-checked.
  *
  *  2. [[viaTempTable]] — the real-sink face: stage the updates batch into
  *     a temp table (one bulk write), then issue ONE driver-side
  *     `INSERT … ON CONFLICT (keys) DO UPDATE` statement — the reference's
  *     load path with the O(rows) per-row round trips replaced by a single
  *     set statement. The [[UpsertSink]] seam separates the statement
  *     generation (pure, tested) from the transport (JDBC in production,
  *     a parquet-backed fake in tests). Parquet/lakehouse targets instead
  *     rewrite via `merge(current, updates, keys).write` (Runner.upsert).
  *
  * Scale: both sides, unioned, shuffle once on the key columns into one
  * window; each input is scanned once. Idempotent by construction:
  * merge(merge(t, u), u) == merge(t, u)  (property-tested).
  */
object Upsert {

  /** Latest-wins dedup of an updates batch on its keys, deterministic.
    * Default tiebreak = every non-key column: with duplicate keys in the
    * batch the survivor must still be a deterministic function of the row
    * multiset, or replays stop being no-ops (keys alone tie on every row).
    * Its order is shared with [[merge]]; [[viaTempTable]] stages it — a
    * staged batch with duplicate keys would make the single ON CONFLICT
    * statement illegal ("cannot affect row a second time" on PostgreSQL). */
  def dedupLatest(updates: DataFrame, keys: Seq[String],
                  updateTiebreak: Seq[Column] = Nil): DataFrame =
    Relational.dedupByKeys(updates, keys, latestFirst(updates, keys, updateTiebreak))

  /** Descending order that puts the winning update row first. */
  private def latestFirst(updates: DataFrame, keys: Seq[String],
                          updateTiebreak: Seq[Column]): Seq[Column] = {
    val tb =
      if (updateTiebreak.nonEmpty) updateTiebreak
      else {
        // maps are unorderable — skip them (and fall back to keys when
        // nothing orderable remains; duplicate keys then need an explicit
        // tiebreak for determinism)
        val orderable = updates.schema.fields
          .filterNot(f => keys.contains(f.name))
          .filterNot(_.dataType.isInstanceOf[org.apache.spark.sql.types.MapType])
          .map(f => col(f.name)).toSeq
        if (orderable.nonEmpty) orderable else keys.map(col)
      }
    tb.map(_.desc)
  }

  /** Post-upsert state `(current anti-join dedupLatest(updates)) ∪
    * dedupLatest(updates)`, as one window over the tagged union that ranks
    * update rows (tag 2) first per key. A current row survives when no
    * update shares its key, or when a key column is null (the anti-join
    * never matches a null key; the window groups them, so it is said
    * explicitly). Columns only in `updates` are dropped; an explicit
    * tiebreak may order on them. */
  def merge(
      current: DataFrame,
      updates: DataFrame,
      keys: Seq[String],
      updateTiebreak: Seq[Column] = Nil): DataFrame = {
    val (tag, top, rn) = ("__upsert_tag", "__upsert_top", "__upsert_rn")
    val byKey = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tag).desc +: latestFirst(updates, keys, updateTiebreak): _*)
    val nullKey = keys.map(col(_).isNull).foldLeft(lit(false))(_ || _)
    current.withColumn(tag, lit(1))
      .unionByName(updates.withColumn(tag, lit(2)), allowMissingColumns = true)
      .withColumn(top, max(tag).over(
        byKey.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn(rn, row_number().over(byKey))
      .filter(
        (col(tag) === 1 && (col(top) === 1 || nullKey)) ||
          (col(tag) === 2 && col(rn) === 1))
      .select(current.columns.map(col).toSeq: _*)
  }

  /** Transport seam for [[viaTempTable]]: production = [[JdbcUpsertSink]];
    * tests use a parquet-backed fake that interprets the statement's
    * semantics via [[merge]] and captures the generated SQL. */
  trait UpsertSink {
    /** Bulk-stage the updates batch into `tempTable`, replacing it. */
    def stage(updates: DataFrame, tempTable: String): Unit
    /** Run one driver-side SQL statement against the target database. */
    def execute(sql: String): Unit
  }

  /** JDBC transport: `df.write.jdbc` batch-inserts the staging table
    * (executor-parallel, batched statements — not per-row round trips),
    * then the upsert statement runs once on a driver connection.
    * (reference `helpers/load_helpers.py:4-39` — temp table + ON CONFLICT).
    *
    * `stagingColumnTypes` (Spark's `createTableColumnTypes` syntax, e.g.
    * `"id VARCHAR(16), body VARCHAR(256)"`) overrides the writer's default
    * DDL for the staging table. Needed whenever a KEY column is a string:
    * the default StringType mapping is engine-dependent (CLOB on Derby,
    * TEXT on Postgres) and some engines refuse to compare that against the
    * target's VARCHAR key in the merge's ON clause. */
  final class JdbcUpsertSink(jdbcUrl: String,
                             props: java.util.Properties = new java.util.Properties,
                             stagingColumnTypes: Option[String] = None)
      extends UpsertSink {
    def stage(updates: DataFrame, tempTable: String): Unit = {
      val w = updates.write.mode("overwrite")
      stagingColumnTypes.foreach(t => w.option("createTableColumnTypes", t))
      w.jdbc(jdbcUrl, tempTable, props)
    }
    def execute(sql: String): Unit = {
      val conn = java.sql.DriverManager.getConnection(jdbcUrl, props)
      try {
        val st = conn.createStatement()
        try { st.execute(sql); () } finally st.close()
      } finally conn.close()
    }
  }

  /** SQL-dialect seam for the one driver-side upsert statement: the same
    * staged-batch semantics render as `ON CONFLICT` on PostgreSQL (the
    * reference's target) or ANSI `MERGE` on Derby/DB2/SQL Server/Oracle.
    * Pure statement generators — testable without a database, and the
    * Derby face is exercised against a live embedded database in
    * DerbyUpsertSpec. */
  trait UpsertDialect {
    def statement(table: String, tempTable: String,
                  cols: Seq[String], keys: Seq[String]): String
    protected def validate(cols: Seq[String], keys: Seq[String]): Unit = {
      require(keys.nonEmpty, "upsert needs at least one key column")
      require(keys.forall(cols.contains),
        s"keys ${keys.filterNot(cols.contains).mkString(",")} not in columns")
    }
  }

  /** The reference's statement (`load_helpers.py:21-35`): insert the whole
    * staging table, updates win on key conflict. Identifiers pass through
    * unquoted (the reference's tables are lower-case unquoted). */
  object PostgresOnConflict extends UpsertDialect {
    def statement(table: String, tempTable: String,
                  cols: Seq[String], keys: Seq[String]): String = {
      validate(cols, keys)
      val collist = cols.mkString(", ")
      val updates = cols.filterNot(keys.contains)
      val action =
        if (updates.isEmpty) "DO NOTHING" // key-only table: conflict = no-op
        else "DO UPDATE SET " + updates.map(c => s"$c = EXCLUDED.$c").mkString(", ")
      s"INSERT INTO $table ($collist) SELECT $collist FROM $tempTable " +
        s"ON CONFLICT (${keys.mkString(", ")}) $action"
    }
  }

  /** ANSI `MERGE INTO` — the form embedded Derby (and DB2/SQL Server/
    * Oracle) runs. COLUMN names are double-quoted to match Spark's JDBC
    * writer (JdbcDialect.quoteIdentifier quotes the case-preserved name
    * when it stages the temp table); TABLE names pass through as given
    * (Spark's writer embeds them unquoted, so unquoted lower-case names
    * fold to the same table on case-folding engines). A key-only table
    * renders with only the NOT MATCHED insert arm — conflict = no-op,
    * same as DO NOTHING. */
  object AnsiMerge extends UpsertDialect {
    private def q(c: String) = "\"" + c + "\""
    def statement(table: String, tempTable: String,
                  cols: Seq[String], keys: Seq[String]): String = {
      validate(cols, keys)
      val on = keys.map(k => s"t.${q(k)} = s.${q(k)}").mkString(" AND ")
      val updates = cols.filterNot(keys.contains)
      val matched =
        if (updates.isEmpty) ""
        else "WHEN MATCHED THEN UPDATE SET " +
          updates.map(c => s"${q(c)} = s.${q(c)}").mkString(", ") + " "
      s"MERGE INTO $table t USING $tempTable s ON ($on) " + matched +
        s"WHEN NOT MATCHED THEN INSERT (${cols.map(q).mkString(", ")}) " +
        s"VALUES (${cols.map(c => s"s.${q(c)}").mkString(", ")})"
    }
  }

  /** Back-compat face of [[PostgresOnConflict]]. */
  def upsertStatement(table: String, tempTable: String,
                      cols: Seq[String], keys: Seq[String]): String =
    PostgresOnConflict.statement(table, tempTable, cols, keys)

  /** Temp-table upsert through a sink: ONE bulk stage + ONE set-based
    * statement. The batch is key-deduped before staging ([[dedupLatest]]) —
    * `ON CONFLICT DO UPDATE` rejects a statement touching the same row
    * twice, so a raw batch with duplicate keys would fail on a real
    * database. Idempotent by the statement's semantics (re-running the
    * same batch re-applies identical updates). Returns the generated SQL
    * (for logging/audit). */
  def viaTempTable(updates: DataFrame, sink: UpsertSink, table: String,
                   keys: Seq[String], updateTiebreak: Seq[Column] = Nil,
                   dialect: UpsertDialect = PostgresOnConflict): String = {
    val tempTable = table + "_staging"
    sink.stage(dedupLatest(updates, keys, updateTiebreak), tempTable)
    val sql = dialect.statement(table, tempTable, updates.columns.toSeq, keys)
    sink.execute(sql)
    sql
  }
}
