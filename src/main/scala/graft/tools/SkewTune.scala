package graft.tools

import graft.{GraftSession, SkewStress, Tables}
import graft.dedup.Dedup
import org.apache.spark.sql.DataFrame

/** Parameter sweep for the hot-bucket guard on the skew stress fixtures:
  * times hot vs uniform twins (x27 minhash pairs, x84 band pairs, x49
  * band pairs between) at each (hotThreshold, blockSize) and prints the
  * ratio — the number the bench's skew section grades (target ≤ 2×).
  *
  * Usage: sbt "runMain graft.tools.SkewTune [n] [ht,bs ht,bs ...]"
  * (positive integers; anything else prints the usage and exits 2)
  */
object SkewTune {
  val Usage = "usage: SkewTune [n] [ht,bs ...] (n rows per fixture, each " +
    "ht,bs a hotThreshold,blockSize pair; all positive integers)"

  /** `[n] [ht,bs ...]` as (rows, guard parameters), or the usage error
    * naming the first bad argument. No n → None (read from sf0.1); no
    * pairs → the default guard (512, 512). */
  def parseArgs(args: Seq[String]): Either[String, (Option[Long], Seq[(Int, Int)])] = {
    val n = args.headOption.map(_.toLongOption.filter(_ > 0))
    val params = args.drop(1).map(_.split(",", -1).map(_.toIntOption.filter(_ > 0)) match {
      case Array(Some(ht), Some(bs)) => Some((ht, bs))
      case _ => None
    })
    val bad = (n.toSeq ++ params).indexWhere(_.isEmpty)
    if (bad >= 0) Left(s"bad argument '${args(bad)}'; $Usage")
    else Right((n.flatten, if (params.isEmpty) Seq((512, 512)) else params.flatten))
  }

  def main(args: Array[String]): Unit = {
    val (nArg, params) = parseArgs(args.toSeq) match {
      case Right(parsed) => parsed
      case Left(err) => System.err.println(err); sys.exit(2)
    }
    val spark = GraftSession.local(32, shufflePartitions = Some(32),
      autoBroadcastMb = Some(64)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val n = nArg.getOrElse(
      Tables.load(spark, "/root/testdata/sf0.1", "documents").count())
    val floodCap = math.min(n / 5, 2500L)

    def time(fn: () => DataFrame): Double = {
      // min-of-2 warm, same methodology as Bench's stress section
      def once(): Double = {
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        fn().write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      once(); math.min(once(), once())
    }

    def twins(name: String, fixture: Boolean => DataFrame): Unit = {
      val hot = time(() => fixture(true))
      val uni = time(() => fixture(false))
      println(f"$name%-21s hot=$hot%6.2f uni=$uni%6.2f ratio=${hot / uni}%5.2f")
    }
    params.foreach { case (ht, bs) =>
      val g = f"ht=$ht%5d bs=$bs%5d"
      twins(s"x27 $g", skewed => Dedup.minhashLshPairs(
        SkewStress.textCorpus(spark, n, skewed), "doc_id", "text",
        hotThreshold = ht, blockSize = bs))
      twins(s"x84 $g", skewed => SkewStress.bandPairs(
        SkewStress.bandWide(spark, n, skewed, floodCap), ht, bs))
      twins(s"x49 $g", skewed => SkewStress.bandPairsBetween(
        SkewStress.bandWide(spark, n, skewed, floodCap), ht, bs))
    }
    // x38 has no guard parameters — its pipeline is agg + join; report the
    // pair for visibility when tuning the plan itself
    twins("x38", skewed => SkewStress.chunkDedup(SkewStress.textCorpus(spark, n, skewed)))
    spark.stop()
  }
}
