package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Robust semi-structured ingestion (the reference's Pushshift JSON pull,
  * reddit/reddit_extract.py — API fields churn, payloads go malformed).
  *
  * [[tagged]] parses a raw JSON string column once into the declared
  * fields (schema = the declared subset — the `sync_with_remote` "schema is
  * authority" stance applied at parse time) plus a `quarantined` flag, the
  * one definition of a bad record. [[parseWithQuarantine]] filters it into
  * parsed rows and a quarantine frame carrying the raw payload of every bad
  * record, for replay after a schema fix; a caller that wants both in one
  * pass reads the tagged form. Nothing throws: bad records never kill the
  * 100-TB batch, and the quarantine count is the data-quality metric
  * (reference A5 gates).
  */
object JsonIngest {

  case class Parsed(good: DataFrame, quarantine: DataFrame)

  /** `df`'s columns, `schema`'s fields (which must not repeat them) parsed
    * from `jsonCol`, and `quarantined`: the payload is non-null but did not
    * parse (from_json yields null) or gave only null fields. */
  def tagged(df: DataFrame, jsonCol: String, schema: StructType): DataFrame = {
    val p = col("__p")
    val allNull = schema.fieldNames.map(f => p.getField(f).isNull).reduce(_ && _)
    df.withColumn("__p", from_json(col(jsonCol), schema))
      .select(df.columns.toIndexedSeq.map(col) ++ schema.fieldNames.map(f => p.getField(f).as(f)) :+
        (col(jsonCol).isNotNull && (p.isNull || allNull)).as("quarantined"): _*)
  }

  def parseWithQuarantine(df: DataFrame, jsonCol: String,
                          schema: StructType): Parsed = {
    val t = tagged(df, jsonCol, schema)
    Parsed(
      t.filter(!col("quarantined")).select(
        (df.columns.filterNot(_ == jsonCol) ++ schema.fieldNames).toIndexedSeq.map(col): _*),
      t.filter(col("quarantined")).select(df.columns.toIndexedSeq.map(col): _*))
  }
}
