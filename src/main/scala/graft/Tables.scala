package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Test-harness table access. The driver provides TPC-H-ish parquet tables
  * (TESTDATA.md); a production deployment would swap these for real
  * catalog/source reads (JDBC, lakehouse). Kept as one seam so every query
  * is scale-agnostic: `dir` is the only thing that changes between
  * sf0.001 smoke and a 100 TB lake path.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** JVM-scoped parquet schema cache, keyed on (path, length, mtime).
    *
    * `spark.read.parquet(path)` re-infers the schema from the file footer
    * on EVERY DataFrame construction — a serial driver-side job (~30 ms
    * warm at sf0.1) that every catalog query pays once per table load,
    * in every bench pass (r16 census: a `parquet at Tables.scala` job in
    * each query's job list). Supplying the schema explicitly skips that
    * job; the (length, mtime) half of the key invalidates the entry when
    * a test overwrites the same path, so the cache can never serve a
    * stale schema to a rewritten file (the annIndexMeta discipline —
    * one cheap getFileStatus stat per load instead of a footer read).
    * At scale the analogous move is a catalog-supplied schema: the lake's
    * table metadata replaces per-query footer sniffing. */
  // Keyed by PATH with the (length, mtime) variant in the VALUE (ADVICE
  // r16): one entry per path, so repeated rewrites of the same file
  // replace their entry instead of growing the map forever, and a stale
  // schema can only be served within one (len, mtime) generation instead
  // of resurrecting from any prior one.
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, (String, org.apache.spark.sql.types.StructType)]()

  private def schemaOf(spark: SparkSession, path: String)
      : org.apache.spark.sql.types.StructType = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    val ver = s"${st.getLen}:${st.getModificationTime}"
    schemaCache.compute(path, (_, cur) =>
      if (cur != null && cur._1 == ver) cur
      else (ver, spark.read.parquet(path).schema))._2
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // The events table has shipped with two physical encodings of `ts`:
    // TIMESTAMP(NANOS) (which Spark 4 only reads as long nanos under the
    // legacy conf) and TIMESTAMP_MICROS (read natively). Dispatch on the
    // loaded type: only a LongType read needs the nanos→micros
    // floor-truncation (the same truncation DuckDB applies, so oracle
    // comparisons agree); native timestamp columns pass through untouched.
    if (name == "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val path = s"$dir/$name.parquet"
      val raw = spark.read.schema(schemaOf(spark, path)).parquet(path)
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          // Native micros read infers TIMESTAMP_NTZ; downstream event queries
          // (unix_millis, watermarks) expect TIMESTAMP. Every entry point pins
          // session tz = UTC, so this cast is instant-preserving.
          raw.withColumn("ts", org.apache.spark.sql.functions.col("ts")
            .cast(org.apache.spark.sql.types.TimestampType))
        case _ => raw
      }
    } else {
      val path = s"$dir/$name.parquet"
      spark.read.schema(schemaOf(spark, path)).parquet(path)
    }
    // NOTE the synthetic files are single parquet row groups, so every
    // scan is one task locally; a production lake splits naturally across
    // files/row groups. Deliberately NOT compensated with a repartition
    // here: that would shuffle document payloads through every query —
    // including the multimodal paths whose contract is zero payload
    // shuffles — and measured ~no bench benefit.
  }

}
