package graft

/** Focused timing for a subset of catalog queries — min-of-2 warm through
  * the noop sink, same methodology as [[Bench]], for iterating on one
  * operator family without paying the full-catalog run.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.BenchSubset q1 q2 ..."
  *
  * SPARK_GRAFT_CENSUS=1 additionally prints a per-query JOB CENSUS
  * (jobs / stages / tasks launched by the second timed run) — the
  * redundant-work detector behind the r9 x152 fusion (−28%): an operator
  * whose twin is one SQL statement but which launches dozens of Spark
  * jobs is paying plan-count overhead, not data — the census says which.
  */
object BenchSubset {

  private final class Census extends org.apache.spark.scheduler.SparkListener {
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    private val starts =
      new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val durations =
      new java.util.concurrent.ConcurrentLinkedQueue[(Double, String)]()
    override def onJobStart(
        j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(): Unit
      stages.addAndGet(j.stageInfos.size.toLong): Unit
      tasks.addAndGet(j.stageInfos.map(_.numTasks.toLong).sum): Unit
      val desc = Option(j.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .orElse(j.stageInfos.lastOption.map(_.name)).getOrElse("?")
      starts.put(j.jobId, (j.time, desc.take(90))): Unit
    }
    override def onJobEnd(
        e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
      Option(starts.remove(e.jobId)).foreach { case (t0, desc) =>
        durations.add(((e.time - t0) / 1e3, s"job ${e.jobId}: $desc")): Unit
      }
    }
    def snapshot(): (Long, Long, Long) = (jobs.get, stages.get, tasks.get)
    def drainDurations(): Seq[(Double, String)] = {
      val out = Vector.newBuilder[(Double, String)]
      var d = durations.poll()
      while (d != null) { out += d; d = durations.poll() }
      out.result()
    }
  }

  def main(args: Array[String]): Unit = {
    // SPARK_GRAFT_CPUS sets the core count, as in Bench, so the 8-vs-32
    // contention rows can be censused at both counts
    val spark = GraftSession.local(32, shufflePartitions = Some(32))
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        sys.env.getOrElse("SPARK_GRAFT_CACHE_AQE", "false")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val census =
      if (sys.env.get("SPARK_GRAFT_CENSUS").contains("1")) {
        val c = new Census
        spark.sparkContext.addSparkListener(c)
        Some(c)
      } else None
    val names = args.toSeq
    def once(n: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, sf).write.format("noop")
        .mode("overwrite").save()
      graft.ops.InternalCaches.drainAll(spark)
      (System.nanoTime() - t0) / 1e9
    }
    names.foreach(once) // warm: codegen + file listing
    graft.ops.InternalCaches.drainAll(spark)
    val t1 = names.map(n => n -> once(n)).toMap
    val t2 = names.map { n =>
      // discard queued job-end durations from the warm/t1 passes so the
      // census drain below holds exactly this run's jobs
      census.foreach { c => GraftSession.drainListenerBus(spark); c.drainDurations(): Unit }
      val b = census.map(_.snapshot())
      val t = once(n)
      (census, b) match {
        case (Some(c), Some((j0, s0, k0))) =>
          GraftSession.drainListenerBus(spark)
          val (j1, s1, k1) = c.snapshot()
          println(f"$n%-28s census: ${j1 - j0}%3d jobs ${s1 - s0}%4d stages ${k1 - k0}%6d tasks")
          c.drainDurations().sortBy(-_._1).take(40).foreach { case (s, d) =>
            println(f"    $s%6.2fs  $d")
          }
        case _ => ()
      }
      n -> t
    }.toMap
    names.foreach(n => println(f"$n%-28s ${math.min(t1(n), t2(n))}%.2f"))
    spark.stop()
  }
}
