package perfbench

import graft.Tables
import graft.expressions.{CdcAlgo, JaroWinklerAlgo, Md5Algo, WinnowAlgo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String

/** The `expressions` layer: single-thread direct calls of the native
  * kernels on the `documents` texts, outside Spark. Each figure is the
  * median of five timed sweeps after a warm-up sweep. */
object Kernels {

  /** ns per unit of `sweep`, which returns the units it processed. */
  private def nsPer(sweep: () => Double): Double = {
    val warmEnd = System.nanoTime() + 300000000L
    while (System.nanoTime() < warmEnd) sweep()
    val times = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      val units = sweep()
      (System.nanoTime() - t0) / units
    }.sorted
    times(2)
  }

  def measure(spark: SparkSession, sfDir: String): Map[String, Any] = {
    val texts = Tables.load(spark, sfDir, "documents").select("text").collect()
      .map(r => UTF8String.fromString(r.getString(0)))
    val kb = texts.map(_.numBytes()).sum / 1024.0
    var sink = 0L
    val md5 = nsPer { () => texts.foreach(t => sink += Md5Algo.md5hexUtf8(t).numBytes()); texts.length.toDouble }
    val winnow = nsPer { () => texts.foreach(t => sink += WinnowAlgo.anchors(t).numElements()); texts.length.toDouble }
    val jw = nsPer { () =>
      var i = 1
      while (i < texts.length) { if (JaroWinklerAlgo.compute(texts(i - 1), texts(i)) > 2) sink += 1; i += 1 }
      (texts.length - 1).toDouble
    }
    val cdc = nsPer { () => texts.foreach(t => sink += CdcAlgo.bounds(t).numElements()); kb }
    Map("expressions.md5_ns_per_row" -> md5, "expressions.winnow_ns_per_doc" -> winnow,
      "expressions.jw_ns_per_pair" -> jw, "expressions.cdc_ns_per_kb" -> cdc,
      "expressions.sink" -> sink)
  }
}
