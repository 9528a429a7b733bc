package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{GraftSession, Tables, ops}
import graft.ops.Upsert

/** K1 live-dialect roundtrip, Scala half: stage a real upsert scenario
  * through [[Upsert.viaTempTable]] with the PRODUCTION PostgresOnConflict
  * dialect and dump every artifact the Python half
  * (`tools/upsert_roundtrip.py`) needs to replay the GENERATED statement
  * against a live engine speaking the actual `ON CONFLICT` dialect —
  * DuckDB 1.0 executes the reference's exact statement shape
  * (`helpers/load_helpers.py:28-35`) verbatim.
  *
  * Scenario (nation table at the given SF dir):
  *   - initial target state  = nation as loaded
  *   - raw updates batch     = TWO versions of an update for keys 0-4
  *     (v1 then v2, proving latest-wins key-dedup before staging) plus
  *     three brand-new keys (100-102, proving the insert arm)
  *   - expected post state   = [[Upsert.merge]] of the two (the set
  *     semantics the single statement must reproduce)
  *
  * Dumped into outDir:
  *   upsert_initial.parquet   target before the statement
  *   upsert_raw.parquet       updates batch BEFORE dedupLatest (has dup keys)
  *   upsert_staging.parquet   what viaTempTable actually staged
  *   upsert_expected.parquet  expected target after the statement
  *   upsert_sql.json          {table, temp_table, keys, sql} — the
  *                            statement exactly as generated
  */
object UpsertDump {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val spark = GraftSession.local(4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    run(spark, sfDir, outDir)
    spark.stop()
  }

  def run(spark: SparkSession, sfDir: String, outDir: String): Unit = {
    val nation = Tables.load(spark, sfDir, "nation")
    val keys = Seq("n_nationkey")
    val updV1 = nation.filter(col("n_nationkey") < 5)
      .withColumn("n_name", concat(lit("updated-v1-"), col("n_name")))
    val updV2 = nation.filter(col("n_nationkey") < 5)
      .withColumn("n_name", concat(lit("updated-v2-"), col("n_name")))
    val inserts = nation.filter(col("n_nationkey") < 3)
      .withColumn("n_nationkey", col("n_nationkey") + 100)
      .withColumn("n_name", concat(lit("NEW-"), col("n_name")))
    val raw = updV1.unionByName(updV2).unionByName(inserts)
    val tiebreak = Seq(col("n_name")) // v2 > v1 lexically → v2 survives

    var staged: Option[DataFrame] = None
    var executed: Option[String] = None
    val sink = new Upsert.UpsertSink {
      def stage(updates: DataFrame, tempTable: String): Unit = {
        staged = Some(updates)
        updates.coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/upsert_staging.parquet")
      }
      def execute(sql: String): Unit = executed = Some(sql)
    }
    val sql = Upsert.viaTempTable(raw, sink, "nation_tgt", keys, tiebreak)
    require(executed.contains(sql) && staged.nonEmpty, "sink not driven")

    nation.coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/upsert_initial.parquet")
    raw.coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/upsert_raw.parquet")
    Upsert.merge(nation, raw, keys, tiebreak).coalesce(1)
      .write.mode("overwrite").parquet(s"$outDir/upsert_expected.parquet")

    def j(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = s"""{"table": ${j("nation_tgt")}, "temp_table": ${j("nation_tgt_staging")}, """ +
      s""""keys": [${keys.map(j).mkString(", ")}], "sql": ${j(sql)}}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$outDir/upsert_sql.json"),
      json.getBytes("UTF-8"))
    println(s"[upsert-dump] $sql")
  }
}
