package graft

import graft.queries.{CoreQueries, CorpusQueries, CurationQueries, ExtensionQueries, TrainingQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps one named query per implemented SURVEY §2 operator (plus
  * the training-data extension operators) to a DataFrame program over the
  * driver's parquet tables; `oracleSql` holds the DuckDB-equivalent SQL the
  * driver hash-compares against (omitted only for ops with no SQL mirror —
  * those get rows-only checks and ScalaTest coverage).
  */
object SparkEntry {

  /** Flagship query — the reference's pull_agg_contestant_stats
    * (J1+A1+W1) on sf0.001; driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame =
    CoreQueries.defs("q29_contestant_stats")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    CoreQueries.defs ++ ExtensionQueries.defs ++ CurationQueries.defs ++
      CorpusQueries.defs ++ TrainingQueries.defs

  /** [[queries]] named in `names` (all when empty); unknown names fail. */
  def only(names: Set[String]): Map[String, (SparkSession, String) => DataFrame] = {
    val unknown = names -- queries.keySet
    require(unknown.isEmpty, s"unknown query names: ${unknown.toSeq.sorted.mkString(", ")}")
    queries.filter { case (n, _) => names.isEmpty || names(n) }
  }

  def oracleSql: Map[String, String] =
    CoreQueries.oracle ++ ExtensionQueries.oracle ++ CurationQueries.oracle ++
      CorpusQueries.oracle ++ TrainingQueries.oracle
}
