package graft

import graft.tools.Probe
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-round benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line of per-query seconds.
  *
  * Timing methodology: each query is fully materialized through the `noop`
  * DSv2 sink — unlike count(), this computes every projected column (count
  * lets Catalyst prune the whole projection away and would time a cheaper
  * plan than the query declares).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // local iteration: SPARK_GRAFT_BENCH_ONLY="x84_… x27_…" restricts the
    // run (the driver never sets it → full catalog)
    val ordered = SparkEntry.only(sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .fold(Set.empty[String])(_.split("\\s+").filter(_.nonEmpty).toSet)).toSeq.sortBy(_._1)
    val spark = GraftSession.local(32, shufflePartitions = Some(32),
      autoBroadcastMb = Some(64)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warmup pass: JIT + codegen-class + parquet-footer caches, so the
    // first timed query is not charged the session's cold-start.
    ordered.foreach { case (_, fn) =>
      try Probe.wall(fn(spark, sfDir)) catch { case _: Throwable => () }
    }
    // Two timed passes, report the per-query minimum — single-shot times
    // on a shared box vary ±30%; min-of-2 is the standard stabilizer.
    // The second pass runs in REVERSED catalog order (r10 verdict #7,
    // generalizing the x131/x143 finding): queries sharing a cached
    // chain otherwise charge residual JIT/warmup systematically to the
    // alphabetically-first member of the pair; with one pass in each
    // direction, min-of-2 sees each member once in the "warm follower"
    // position. A query that throws reports the -1 sentinel (and is
    // excluded from the total) instead of folding its abort time into a
    // silently-faster sum.
    def timed(name: String)(df: => DataFrame): Double =
      try Probe.wall(df)
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}"); -1.0
      }
    def timedPass(qs: Seq[(String, (SparkSession, String) => DataFrame)]): Seq[(String, Double)] =
      qs.map { case (name, fn) => name -> timed(name)(fn(spark, sfDir)) }
    // drop caches the warmup populated (minhash/jaccard pin their
    // signature frames) so timed passes measure full computation
    graft.ops.InternalCaches.drainAll(spark)
    val p1 = timedPass(ordered).toMap
    graft.ops.InternalCaches.drainAll(spark)
    val results = timedPass(ordered.reverse).map { case (k, v) =>
      k -> (if (v < 0 || p1(k) < 0) -1.0 else math.min(v, p1(k)))
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
    val total = results.map(_._2).filter(_ >= 0).sum

    // Hot-key stress section (SkewStress): three operators on a skewed
    // corpus vs a uniform twin of the same size. Reported separately —
    // synthetic corpora, no DuckDB counterpart, excluded from the total.
    val nDocs = Tables.load(spark, sfDir, "documents").count()
    val stress = SkewStress.queries(spark, nDocs, sfDir)
    stress.foreach { case (_, fn) =>
      try Probe.wall(fn()) catch { case _: Throwable => () }
    }
    def stressPass(): Map[String, Double] = stress.map { case (name, fn) =>
      graft.ops.InternalCaches.drainAll(spark)
      name -> timed(name)(fn())
    }.toMap
    graft.ops.InternalCaches.drainAll(spark)
    // min-of-3 for the stress section (vs min-of-2 for the catalog): the
    // graded number here is a RATIO of two short runs, so its variance is
    // roughly double a single timing's — `Probe skew` sweeps show the same
    // parameters spread 1.05–1.57× run-to-run at these sub-second sizes,
    // with the first pair in a session paying residual warmup. One extra
    // pass costs ~8 s and roughly halves the ratio spread.
    val stressPasses = Seq.fill(3)(stressPass())
    val skewResults = stress.map { case (name, _) =>
      val vs = stressPasses.map(_(name))
      name -> (if (vs.exists(_ < 0)) -1.0 else vs.min)
    }.toMap
    val sk = skewResults.toSeq.sorted.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")

    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"skew":$sk,"failed":[${failed.mkString(",")}],"sf":"$sfDir"}"""
    println(line)
    // The driver's BENCH_r{N}.json artifact keeps only a 2 KB stdout tail,
    // so the full per-query map would otherwise survive nowhere. Persist it
    // to a tracked file too (committed per round as BENCH_LOCAL_r{N}.json by
    // tools/bench_local.py) so every verdict can cite complete evidence.
    // Best-effort: a read-only cwd must not fail the bench itself.
    try {
      val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        (line + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not persist full results: ${e.getMessage}")
    }
    spark.stop()
  }
}
