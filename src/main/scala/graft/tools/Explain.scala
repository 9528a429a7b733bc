package graft.tools

import graft.{GraftSession, SparkEntry}

/** Dev tool: print the formatted physical plan (and optionally time) of one
  * catalog query. Usage: runMain graft.tools.Explain <queryName> [sfDir] [--time]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = args.lift(1).filterNot(_.startsWith("--")).getOrElse("/root/testdata/sf0.1")
    val doTime = args.contains("--time")
    val spark = GraftSession.local(32, shufflePartitions = Some(32),
      autoBroadcastMb = Some(64)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.explain("formatted")
    if (doTime) {
      // cold + warm pass: the second number is comparable to the bench's
      // min-of-2 (JIT, codegen and parquet footers already cached)
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[time] $name cold ${times(0)}%.2f s warm ${times(1)}%.2f s")
    }
    spark.stop()
  }
}
