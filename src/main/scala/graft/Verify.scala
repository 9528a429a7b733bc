package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: graft.Verify <sfDir> <outDir> [query ...]"); sys.exit(2)
    }
    val (sfDir, outDir) = (args(0), args(1))
    // optional extra args: run only the named queries (local iteration;
    // the driver always passes exactly two args → full run)
    val subset = args.length > 2
    val queries = SparkEntry.only(args.drop(2).toSet)
    val spark = GraftSession.local(4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // A throwing query must never be silent: r4 lost 23 catalog entries
    // because the catch block only printed to stderr. Record every failure
    // in errors.json next to the dumps and end with a loud tally.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
      }
      // several operators pin internal caches (minhash signatures, banded
      // norm/signature frames — all routed through InternalCaches) —
      // release them between queries so a 187-query session doesn't
      // accumulate pinned storage; clearCache additionally covers
      // query-builder-level caches (x143/x144 style)
      graft.ops.InternalCaches.drainAll(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (errors.nonEmpty) {
      // stdout AND stderr: the driver keeps stdout tails, so the tally must
      // survive even if errors.json is never read
      val tally =
        s"[verify] ${errors.size} QUERIES FAILED: ${errors.keys.mkString(", ")}"
      println(tally)
      System.err.println(tally)
      // Exit nonzero only for explicit subset runs (local iteration); the
      // driver's full run still gets all green dumps + errors.json even if
      // one query regresses.
      if (subset) { spark.stop(); sys.exit(1) }
    }
    spark.stop()
  }
}
