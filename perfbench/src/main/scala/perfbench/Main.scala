package perfbench

import graft.{GraftSession, SparkEntry, Tables}
import graft.ops.InternalCaches
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable.ArrayBuffer

/** One timed op: a catalog query, or a pipeline increment or replay.
  * `steal` is the share of busy CPU time the hypervisor took meanwhile. */
final case class Op(name: String, group: String, pass: Int, seconds: Double,
                    steal: Double, ok: Boolean, rows: Long, replay: Boolean = false,
                    error: String = null) {
  def toMap: Map[String, Any] = Map("name" -> name, "group" -> group,
    "pass" -> pass, "seconds" -> seconds, "steal" -> steal, "ok" -> ok,
    "rows" -> rows, "replay" -> replay, "error" -> error)
}

/** Wall time and CPU steal of a timed window. On a virtual machine whose
  * host is shared, the hypervisor takes a share of the guest's CPU time
  * that swings from a few percent to a third within seconds; the kernel
  * counts it as `steal` in /proc/stat. */
object Clock {
  /** (steal, busy) jiffies over all CPUs; busy counts steal too. */
  def cpu(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().split("\\s+").slice(1, 9).map(_.toLong)
    finally src.close()
    (f(7), f.sum - f(3) - f(4))
  }

  /** Run `body`; return its result, wall seconds and steal share. */
  def timed[T](body: => T): (T, Double, Double) = {
    val (s0, b0) = cpu()
    val t0 = System.nanoTime()
    val r = body
    val secs = (System.nanoTime() - t0) / 1e9
    val (s1, b1) = cpu()
    (r, secs, if (b1 > b0) (s1 - s0).toDouble / (b1 - b0) else 0.0)
  }
}

/** Benchmark JVM entry point. The Python runner (`perfbench/run.py`)
  * generates the inputs, validates the arguments and computes the metrics
  * from the raw result file this writes.
  *
  * Modes:
  *  - `run`: set up, run whole passes of the workload's ops in a closed
  *    loop (at least two, more while `seconds` allow), check every op's
  *    output outside its timed window, set up twice more, write the result.
  *  - `record`: run every catalog query twice, dump its output as parquet
  *    for the DuckDB comparison and write its digest.
  */
object Main {

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String): Option[String] = m.get(k)
  }

  def parse(a: Array[String]): Args = {
    require(a.length % 2 == 0 && a.grouped(2).forall(_(0).startsWith("--")),
      s"expected --key value pairs, got ${a.mkString(" ")}")
    Args(a.grouped(2).map(p => p(0).drop(2) -> p(1)).toMap)
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = GraftSession.builder("perfbench", shufflePartitions = Some(32),
        autoBroadcastMb = Some(64))
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val out = a("out")
    val result = a.get("mode").getOrElse("run") match {
      case "run" => run(a)
      case "record" => record(a)
      case m => sys.error(s"unknown mode $m")
    }
    Files.writeString(Paths.get(out), Json(result))
  }

  /** Java heap in use after full collections, in MB: what the program
    * still holds once its work is done. Spark's ContextCleaner frees
    * broadcast and shuffle blocks only after a collection has cleared
    * their handles, so collect until the figure stops falling. */
  def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    def collect(): Long = { System.gc(); Thread.sleep(200); mem.getHeapMemoryUsage.getUsed }
    var prev = collect()
    var cur = collect()
    var rounds = 2
    while (cur < prev && rounds < 6) { prev = cur; cur = collect(); rounds += 1 }
    cur / 1048576.0
  }

  /** VmHWM of this process in MB: the peak resident set so far. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toLong / 1024.0
  }

  def run(a: Args): Map[String, Any] = {
    val cores = a("cores").toInt
    val work = a("work")
    val seconds = a("seconds").toDouble
    val trace = new Tracer(a("trace") == "1")
    val w: Workload = a("workload") match {
      case "pipeline" => new Pipeline(a)
      case name => new Catalog(name, a)
    }
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val (spark, _, steal1) = Clock.timed { val s = session(cores, work); w.setup(s); s }
    val setup1 = (System.currentTimeMillis() - jvmStart) / 1000.0
    trace.attach(spark)
    val ops = ArrayBuffer.empty[Op]
    val passes = ArrayBuffer.empty[Map[String, Any]]
    // Whole passes only: the first two always run (the first is cold),
    // and another starts while the previous pass's time still fits before
    // the deadline.
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var pass = 0
    var last = 0.0
    while (pass < 2 || elapsed + last <= seconds) {
      val p0 = System.nanoTime()
      w.pass(spark, pass, trace, ops)
      last = (System.nanoTime() - p0) / 1e9
      passes += Map("pass" -> pass, "wall_s" -> last)
      pass += 1
    }
    val loopS = elapsed
    val rss = peakRssMb()
    val heap = retainedHeapMb()
    val spans = trace.finish(spark)
    val layers = if (trace.enabled) w.layers(spark) else Map.empty[String, Any]
    spark.stop()
    // Two more set-ups in the warm JVM, each from a fresh session.
    val more = (1 to 2).map { _ =>
      val (s, t, steal) = Clock.timed { val s = session(cores, work); w.setup(s); s }
      s.stop()
      (t, steal)
    }
    Map("workload" -> a("workload"), "setup_s" -> (setup1 +: more.map(_._1)),
      "setup_steal" -> (steal1 +: more.map(_._2)),
      "loop_s" -> loopS, "peak_rss_mb" -> rss,
      "heap_retained_mb" -> heap, "slots" -> cores,
      "ops" -> ops.map(_.toMap), "passes" -> passes,
      "spans" -> spans, "layers" -> layers,
      "versions" -> Map("spark" -> org.apache.spark.SPARK_VERSION,
        "java" -> (System.getProperty("java.vm.name") + " " +
          System.getProperty("java.runtime.version"))))
  }

  def record(a: Args): Map[String, Any] = {
    val w = new Catalog(a("workload"), a)
    val spark = session(a("cores").toInt, a("work"))
    val dumps = a("dumps")
    val res = w.ops.map { case (name, _) =>
      val digests = (1 to 2).map { _ =>
        val df = SparkEntry.queries(name)(spark, w.sfDir)
        val d = Digest(df.schema, df.collect())
        InternalCaches.drainAll(spark)
        d
      }
      SparkEntry.queries(name)(spark, w.sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$dumps/$name")
      InternalCaches.drainAll(spark)
      name -> Map("digest" -> digests(0)._1, "rows" -> digests(0)._2,
        "stable" -> (digests(0) == digests(1)))
    }.toMap
    Files.writeString(Paths.get(s"$dumps/oracle_sql.json"), Json(SparkEntry.oracleSql))
    spark.stop()
    Map("queries" -> res)
  }
}

/** A workload: how to set it up, one pass of its ops, and its per-layer
  * extras for the traced run. */
trait Workload {
  /** Load the inputs' schemas and run one untimed warm-up op. */
  def setup(spark: SparkSession): Unit
  /** Run one pass, appending its ops. */
  def pass(spark: SparkSession, pass: Int, trace: Tracer, ops: ArrayBuffer[Op]): Unit
  def layers(spark: SparkSession): Map[String, Any] = Map.empty
}

object Catalog {
  /** Query-name prefixes of each catalog workload, with the module group
    * each query is reported under. */
  val defs: Map[String, Seq[(String, String)]] = Map(
    "relational" -> (
      Seq("q01", "q02", "q12", "q16", "q17", "q19", "q21", "q31").map(_ -> "ops") ++
      Seq("q27").map(_ -> "streaming") ++
      Seq("q38").map(_ -> "sources") ++
      Seq("q29").map(_ -> "domain")),
    "curation" -> Seq(
      "x03" -> "dedup", "x05" -> "similarity", "x09" -> "text", "x106" -> "text",
      "x13" -> "mm", "x158" -> "training"))

  /** The untimed op every set-up runs: a short query outside both sets. */
  val warmupOp = "q10"

  def resolve(prefix: String): String =
    SparkEntry.queries.keys.filter(_.startsWith(prefix + "_")).toSeq match {
      case Seq(one) => one
      case other => sys.error(s"query prefix $prefix matches ${other.mkString(",")}")
    }
}

final class Catalog(name: String, a: Main.Args) extends Workload {
  val sfDir: String = a("sf-dir")
  val ops: Seq[(String, String)] = Catalog.defs.getOrElse(name,
    sys.error(s"unknown workload $name")).map { case (p, g) => Catalog.resolve(p) -> g }
  private val goldens: Map[String, (String, Long, Boolean)] =
    a.get("goldens").map(Goldens.load).getOrElse(Map.empty)

  def setup(spark: SparkSession): Unit = {
    Tables.names.foreach(t => Tables.load(spark, sfDir, t).schema)
    SparkEntry.queries(Catalog.resolve(Catalog.warmupOp))(spark, sfDir).collect()
    InternalCaches.drainAll(spark)
  }

  def pass(spark: SparkSession, pass: Int, trace: Tracer, out: ArrayBuffer[Op]): Unit =
    for ((q, group) <- ops) {
      val fn = SparkEntry.queries(q)
      var df: DataFrame = null
      var rows: Array[org.apache.spark.sql.Row] = null
      val (err, secs, steal) = Clock.timed {
        try {
          trace.span(q, "op", Map("group" -> group, "pass" -> pass)) {
            df = trace.span("construct", "construct")(fn(spark, sfDir))
            rows = trace.span("action", "action")(df.collect())
          }
          null
        } catch { case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}" }
      }
      // Check the output against its golden, outside the timed window.
      val (ok, n, why) =
        if (err != null) (false, 0L, err)
        else {
          val (d, n) = Digest(df.schema, rows)
          goldens.get(q) match {
            case Some((g, gn, stable)) =>
              val good = if (stable) d == g else n == gn
              (good, n, if (good) null else s"output $d/$n rows, golden $g/$gn rows")
            case None => (false, n, "no golden recorded")
          }
        }
      out += Op(q, group, pass, secs, steal, ok, n, error = why)
      InternalCaches.drainAll(spark)
    }

  override def layers(spark: SparkSession): Map[String, Any] =
    Kernels.measure(spark, sfDir)
}

/** The committed golden file: query -> (digest, rows, stable). A query
  * whose output is not deterministic is checked on its row count only. */
object Goldens {
  def load(path: String): Map[String, (String, Long, Boolean)] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(new java.io.File(path)).get("queries")
    import scala.jdk.CollectionConverters._
    root.fields().asScala.map { e =>
      val v = e.getValue
      e.getKey -> (v.get("digest").asText(), v.get("rows").asLong(),
        v.get("stable").asBoolean())
    }.toMap
  }
}
