package graft.tools

import graft.{GraftSession, SkewStress, Tables}

/** Parameter sweep for the hot-bucket guard on the skew stress fixtures:
  * times hot vs uniform twins at each (hotThreshold, blockSize) and prints
  * the ratio — the number the bench's skew section grades (target ≤ 2×).
  *
  * Usage: sbt "runMain graft.tools.SkewTune [n] [ht,bs ht,bs ...]"
  */
object SkewTune {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(32, shufflePartitions = Some(32),
      autoBroadcastMb = Some(64)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val n = args.headOption.map(_.toLong).getOrElse(
      Tables.load(spark, "/root/testdata/sf0.1", "documents").count())
    val params = args.drop(1).toSeq match {
      case Nil => Seq((512, 512))
      case ps => ps.map { p =>
        val Array(ht, bs) = p.split(","); (ht.toInt, bs.toInt)
      }
    }
    val floodCap = math.min(n / 5, 2500L)

    def time(fn: () => org.apache.spark.sql.DataFrame): Double = {
      // min-of-2 warm, same methodology as Bench's stress section
      def once(): Double = {
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        fn().write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      once(); math.min(once(), once())
    }

    params.foreach { case (ht, bs) =>
      val hot = time(() => SkewStress.bandPairs(
        SkewStress.bandWide(spark, n, skewed = true, floodCap), ht, bs))
      val uni = time(() => SkewStress.bandPairs(
        SkewStress.bandWide(spark, n, skewed = false, floodCap), ht, bs))
      println(f"x84 ht=$ht%5d bs=$bs%5d hot=$hot%6.2f uni=$uni%6.2f ratio=${hot / uni}%5.2f")
      val hotB = time(() => SkewStress.bandPairsBetween(
        SkewStress.bandWide(spark, n, skewed = true, floodCap), ht, bs))
      val uniB = time(() => SkewStress.bandPairsBetween(
        SkewStress.bandWide(spark, n, skewed = false, floodCap), ht, bs))
      println(f"x49 ht=$ht%5d bs=$bs%5d hot=$hotB%6.2f uni=$uniB%6.2f ratio=${hotB / uniB}%5.2f")
    }
    // x38 has no guard parameters — its pipeline is agg + join; report the
    // pair for visibility when tuning the plan itself
    val hot38 = time(() => SkewStress.chunkDedup(
      SkewStress.textCorpus(spark, n, skewed = true)))
    val uni38 = time(() => SkewStress.chunkDedup(
      SkewStress.textCorpus(spark, n, skewed = false)))
    println(f"x38                     hot=$hot38%6.2f uni=$uni38%6.2f ratio=${hot38 / uni38}%5.2f")
    spark.stop()
  }
}
