package graft.tools

import graft.{GraftSession, ScaleFixture, SkewStress, SparkEntry, Tables}
import graft.ops.InternalCaches
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.PrintStream
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** The measurement main: one argument parser, one session (Bench's:
  * `local[32]`, 32 shuffle partitions, 64 MB broadcast threshold) and one
  * timing loop ([[bestOf]] over [[drained]] walls) behind six modes. Every mode but
  * `decode` reads its scale-factor directory from `SPARK_GRAFT_SF_DIR`
  * (default `/root/testdata/sf0.1`), as [[graft.Bench]] does.
  *
  * {{{
  * runMain graft.tools.Probe time <q...>           `<name> <sec>` per query: warm, then min of 2
  * runMain graft.tools.Probe census <q...>         jobs, stages and tasks of one warm run, slowest stages first
  * runMain graft.tools.Probe plan <q...>           each query's executed plan under `===== <q> =====`
  * runMain graft.tools.Probe scale <10|100> [q...] sf0.1 against the 10x or 100x fixture, one JSON line
  * runMain graft.tools.Probe skew [n] [ht,bs ...]  hot/uniform twin walls per hot-bucket guard setting
  * runMain graft.tools.Probe decode [dir] [iters]  image-decode kernels in ns/px, one JSON line, no session
  * }}}
  *
  * Query names go through [[SparkEntry.only]] and numbers must be
  * positive integers; a bad argument prints the usage to stderr and
  * exits 2 before any session starts. `SPARK_GRAFT_CPUS` sets the task
  * slots and `SPARK_GRAFT_PARTS` the shuffle partitions (default 32: at
  * 100x rows the per-partition state of x135 outgrows 32 partitions on
  * one box). `scale` reuses or builds its fixture under
  * `SPARK_GRAFT_SF10X_DIR` (default [[ScaleFixture.defaultDir]]) or
  * `SPARK_GRAFT_SF100X_DIR`.
  */
object Probe {

  sealed trait Command
  final case class Time(sf: String, names: Seq[String]) extends Command
  final case class Census(sf: String, names: Seq[String]) extends Command
  final case class Plan(sf: String, names: Seq[String]) extends Command
  final case class Scale(sf: String, factor: Int, fixture: String, names: Seq[String])
    extends Command
  final case class Skew(sf: String, n: Option[Long], params: Seq[(Int, Int)]) extends Command
  final case class Decode(dir: String, iters: Int) extends Command

  val Usage: String = "usage: graft.tools.Probe time <q...> | census <q...> | " +
    "plan <q...> | scale <10|100> [q...] | skew [n] [ht,bs ...] | " +
    "decode [dir] [iters]  (n, ht, bs and iters positive integers)"

  /** The 10x default: the gated heavy chains plus every row that ran more
    * than 2x its DuckDB twin, so each carries a measured `vs_linear`. */
  val scaleChains: Seq[String] = Seq(
    "x123_ivf_pq_residual_ann", "x135_prefix_filter_join",
    "x151_ann_index_upsert", "x158_bestfit_packing", "x163_gopher_repetition",
    "x125_bm25_topk", "x126_rrf_fusion", "x130_semdedup_kmeans",
    "x132_pca_power", "x134_kmeans_ivf", "x143_nb_confusion",
    "x144_langid_agreement", "x153_opq_perm_recall", "x38_chunk_dedup",
    "x42_curation_v2", "x45_chunk_scrub", "x54_bigram_familiarity",
    "x75_filter_cascade", "x103_tfidf_keywords", "x120_dsir_weights",
    "x124_span_scrub", "x138_lang_mix", "x177_bitext_margin_ivf",
    "x127_stupid_backoff", "x83_scd2_history", "x76_cascade_report",
    "x52_ann_rerank", "x131_nb_langid", "x36_semantic_dedup",
    "x48_ann_recall", "x91_collocations")

  def main(args: Array[String]): Unit = parse(args.toSeq) match {
    case Left(err) => System.err.println(err); sys.exit(2)
    case Right(Decode(dir, iters)) => println(decodeJson(dir, iters))
    case Right(cmd) =>
      val spark = GraftSession.local(32,
        shufflePartitions = Some(GraftSession.positiveEnv("SPARK_GRAFT_PARTS", 32)),
        autoBroadcastMb = Some(64)).getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      try run(spark, cmd, System.out) finally spark.stop()
  }

  /** `args` as a command, or the usage naming the first bad argument. */
  def parse(args: Seq[String],
            env: collection.Map[String, String] = sys.env): Either[String, Command] = {
    val sf = env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    def queries(names: Seq[String]): Either[String, Seq[String]] =
      scala.util.Try(SparkEntry.only(names.toSet)).toEither
        .left.map(e => s"${e.getMessage}; $Usage").map(_ => names)
    def named(names: Seq[String]): Either[String, Seq[String]] =
      if (names.isEmpty) Left(s"no query names; $Usage") else queries(names)
    args match {
      case "time" +: names => named(names).map(Time(sf, _))
      case "census" +: names => named(names).map(Census(sf, _))
      case "plan" +: names => named(names).map(Plan(sf, _))
      case "scale" +: "10" +: names =>
        val dir = env.getOrElse("SPARK_GRAFT_SF10X_DIR", ScaleFixture.defaultDir)
        queries(names).map(ns => Scale(sf, 10, dir, if (ns.isEmpty) scaleChains else ns))
      case "scale" +: "100" +: names =>
        val dir = env.getOrElse("SPARK_GRAFT_SF100X_DIR",
          s"/tmp/graft_sf10synth_spark_${sys.props.getOrElse("user.name", "anon")}")
        queries(names).map(ns =>
          Scale(sf, 100, dir, if (ns.isEmpty) Seq("x135_prefix_filter_join") else ns))
      case "skew" +: rest => skewArgs(rest).map { case (n, ps) => Skew(sf, n, ps) }
      case "decode" +: rest if rest.size <= 2 =>
        rest.lift(1).fold[Either[String, Int]](Right(20000))(a => positiveInt(a).toRight(bad(a)))
          .map(Decode(rest.headOption.getOrElse("data/fixtures"), _))
      case "decode" +: rest => Left(bad(rest(2)))
      case "scale" +: factor +: _ => Left(bad(factor))
      case mode +: _ => Left(bad(mode))
      case _ => Left(s"no mode; $Usage")
    }
  }

  private def bad(arg: String) = s"bad argument '$arg'; $Usage"

  private def positive(a: String): Option[Long] = a.toLongOption.filter(_ > 0)

  private def positiveInt(a: String): Option[Int] =
    positive(a).filter(_ <= Int.MaxValue).map(_.toInt)

  /** `skew`'s `[n] [ht,bs ...]` as (rows, guard parameters). No n → the
    * documents row count; no pairs → the default guard (512, 512). */
  def skewArgs(args: Seq[String]): Either[String, (Option[Long], Seq[(Int, Int)])] = {
    val n = args.headOption.map(positive)
    val params = args.drop(1).map(_.split(",", -1).map(positiveInt) match {
      case Array(Some(ht), Some(bs)) => Some((ht, bs))
      case _ => None
    })
    val first = (n.toSeq ++ params).indexWhere(_.isEmpty)
    if (first >= 0) Left(bad(args(first)))
    else Right((n.flatten, if (params.isEmpty) Seq((512, 512)) else params.flatten))
  }

  def run(spark: SparkSession, cmd: Command, out: PrintStream): Unit = cmd match {
    case Time(sf, names) =>
      names.foreach { n =>
        out.println(f"$n%-28s ${warmMin(spark)(SparkEntry.queries(n)(spark, sf))}%.2f")
      }
    case Census(sf, names) => names.foreach(census(spark, sf, _, out))
    case Plan(sf, names) =>
      names.foreach { n =>
        out.println(s"===== $n =====")
        out.println(SparkEntry.queries(n)(spark, sf).queryExecution.executedPlan.toString)
      }
    case Scale(sf, factor, dir, names) =>
      ScaleFixture.ensureShards(spark, sf, dir, factor)
      out.println(scaleJson(factor, names.map(n => n -> scaleRow(spark, n, sf, dir, factor))))
    case Skew(sf, nArg, params) =>
      val n = nArg.getOrElse(Tables.load(spark, sf, "documents").count())
      def twins(label: String, op: String, qs: Map[String, () => DataFrame]): Unit = {
        val hot = warmMin(spark)(qs(s"skew_${op}_hot")())
        val uni = warmMin(spark)(qs(s"skew_${op}_uni")())
        out.println(f"$label%-21s hot=$hot%6.2f uni=$uni%6.2f ratio=${hot / uni}%5.2f")
      }
      params.foreach { case (ht, bs) =>
        val qs = SkewStress.queries(spark, n, sf, ht, bs).toMap
        Seq("x27", "x84", "x49").foreach(op => twins(f"$op ht=$ht%5d bs=$bs%5d", op, qs))
      }
      // x38 is agg + join, with no guard parameters: timed once
      twins("x38", "x38", SkewStress.queries(spark, n, sf).toMap)
    case Decode(dir, iters) => out.println(decodeJson(dir, iters))
  }

  /** Wall seconds to build `df` and materialize every projected column
    * through the `noop` sink (count() would let Catalyst prune the
    * projection and time a cheaper plan than the query declares). */
  def wall(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** [[wall]] after dropping every cache pin, so the run pays full
    * computation. */
  def drained(spark: SparkSession)(df: => DataFrame): Double = {
    InternalCaches.drainAll(spark)
    wall(df)
  }

  /** One warm run (JIT, codegen, file listing), then the minimum of `runs`
    * timed runs: single walls on a shared box vary by ±30%. */
  def bestOf(runs: Int)(sec: => Double): Double = {
    sec
    Seq.fill(runs)(sec).min
  }

  /** [[bestOf]] 2 [[drained]] walls of `df`. */
  def warmMin(spark: SparkSession)(df: => DataFrame): Double =
    bestOf(2)(drained(spark)(df))

  /** (t1x, tNx, tNx / (N · t1x)) of query `name` at `sf01` and at the
    * N-shard fixture `dirN`. A 100x run takes minutes, so it is timed
    * once, warmed by the sf0.1 runs; at that wall the noise is a few
    * percent. */
  def scaleRow(spark: SparkSession, name: String, sf01: String, dirN: String,
               factor: Int): (Double, Double, Double) = {
    val q = SparkEntry.queries(name)
    val t1 = warmMin(spark)(q(spark, sf01))
    val tN = if (factor == 10) warmMin(spark)(q(spark, dirN)) else drained(spark)(q(spark, dirN))
    (t1, tN, tN / (factor * t1))
  }

  /** One JSON line; at 10x the keys are `sf01_sec`, `sf10x_sec` and
    * `vs_linear`, as tools/bench_local.py reads them. */
  def scaleJson(factor: Int, rows: Seq[(String, (Double, Double, Double))]): String = {
    val ratio = if (factor == 10) "vs_linear" else s"vs_linear$factor"
    rows.map { case (n, (t1, tN, r)) =>
      f""""$n": {"sf01_sec": $t1%.3f, "sf${factor}x_sec": $tN%.3f, "$ratio": $r%.3f}"""
    }.mkString("{", ", ", "}")
  }

  private final case class StageRow(sec: Double, tasks: Int, cpu: Double, gc: Double,
                                    shuffleRead: Long, shuffleWrite: Long, input: Long,
                                    scopes: String)

  /** Framework cost (jobs, stages, tasks) and compute cost (CPU, GC,
    * shuffle, input) of the stages that ran while it was registered. */
  private final class CensusListener extends SparkListener {
    val jobs = new AtomicLong
    val stages = new ConcurrentLinkedQueue[StageRow]()
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      val sec = (for { t0 <- i.submissionTime; t1 <- i.completionTime }
        yield (t1 - t0) / 1e3).getOrElse(-1.0)
      // RDD scopes name the operators a stage spans; AQE job names do not
      val scopes = i.rddInfos.map(r => r.scope.map(_.name).getOrElse(r.name))
        .distinct.reverse.mkString(">").take(160)
      stages.add(StageRow(sec, i.numTasks, m.executorCpuTime / 1e9, m.jvmGCTime / 1e3,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.inputMetrics.bytesRead, scopes)): Unit
    }
  }

  private def census(spark: SparkSession, sf: String, name: String, out: PrintStream): Unit = {
    val q = SparkEntry.queries(name)
    drained(spark)(q(spark, sf)) // warm
    GraftSession.drainListenerBus(spark) // the warm run's events stay out
    val l = new CensusListener
    spark.sparkContext.addSparkListener(l)
    val t = try drained(spark)(q(spark, sf)) finally {
      GraftSession.drainListenerBus(spark)
      spark.sparkContext.removeSparkListener(l)
    }
    val rows = l.stages.asScala.toSeq
    out.println(f"$name%-28s census: ${l.jobs.get}%3d jobs ${rows.size}%4d stages " +
      f"${rows.map(_.tasks.toLong).sum}%6d tasks wall $t%.2f s")
    rows.sortBy(-_.sec).take(30).foreach { r =>
      out.println(f"  ${r.sec}%6.2fs ${r.tasks}%4d tasks cpu=${r.cpu}%5.2fs gc=${r.gc}%5.2fs " +
        f"sr=${r.shuffleRead / 1024}%5dKB sw=${r.shuffleWrite / 1024}%5dKB " +
        f"in=${r.input / 1024}%6dKB  ${r.scopes}")
    }
  }

  /** The multimodal ingest floor: the pure-JVM codecs decode the committed
    * fixture rasters on one thread, warm then min of 2, so the JPEG
    * IDCT/Huffman and PNG inflate kernels carry a tracked ns/px (the
    * catalog's decode queries read sub-KB payloads and cannot show it). */
  def decodeJson(dir: String, iters: Int): String = {
    def load(name: String) = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir, name))
    def row(payloads: Seq[Array[Byte]]): String = {
      var px = 0L
      def once(): Double = {
        px = 0L
        val t0 = System.nanoTime()
        var i = 0
        while (i < iters) {
          payloads.foreach { b =>
            px += graft.mm.ImageCodecs.decode(b).getOrElse(
              sys.error("fixture failed to decode")).nPixels
          }
          i += 1
        }
        (System.nanoTime() - t0) / 1e9
      }
      val sec = bestOf(2)(once())
      f"""{"iters": $iters, "px_per_iter": ${px / iters}, "bytes_per_iter": ${payloads.map(_.length.toLong).sum}, "wall_sec": $sec%.3f, "ns_per_px": ${sec * 1e9 / px}%.1f, "mpx_per_s": ${px / sec / 1e6}%.2f}"""
    }
    val jpeg = row(Seq("dct_gray.jpg", "dct_rgb444.jpg", "dct_rgb420.jpg", "dct_rst.jpg").map(load))
    val png = row(Seq("gradient.png", "gray.png", "rgba.png").map(load))
    s"""{"decode_kernel": {"jpeg": $jpeg, "png": $png}}"""
  }
}
