package graft.tools

/** Dev tool: per-STAGE census of one catalog query's second (warm) run —
  * stage callsite, duration, task count and shuffle bytes. The job-level
  * census (BenchSubset) is opaque under AQE (every materialization reads
  * "withThreadLocalCaptured"); stages carry the operator callsite, so
  * this is the tool that says WHICH exchange the wall lives in.
  *
  * Usage: runMain graft.tools.StageCensus <queryName> [sfDir]
  */
object StageCensus {

  private final class Stages extends org.apache.spark.scheduler.SparkListener {
    val done = new java.util.concurrent.ConcurrentLinkedQueue[
      (Double, Int, Long, Long, Long, Double, Double, String)]()
    override def onStageCompleted(
        e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val dur = (for {t0 <- i.submissionTime; t1 <- i.completionTime}
        yield (t1 - t0) / 1e3).getOrElse(-1.0)
      val sread = i.taskMetrics.shuffleReadMetrics.totalBytesRead
      val swrite = i.taskMetrics.shuffleWriteMetrics.bytesWritten
      val in = i.taskMetrics.inputMetrics.bytesRead
      val cpu = i.taskMetrics.executorCpuTime / 1e9
      val gc = i.taskMetrics.jvmGCTime / 1e3
      // RDD scope names say which operators the stage spans (the AQE job
      // name never does)
      val ops = i.rddInfos
        .map(r => r.scope.map(_.name).getOrElse(r.name))
        .distinct.reverse.mkString(">").take(160)
      done.add((dur, i.numTasks, sread, swrite, in, cpu, gc, ops)): Unit
    }
  }

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    // SPARK_GRAFT_CPUS sets the core count, as in Bench; shuffle
    // partitions stay pinned at 32 like the bench
    val spark = graft.GraftSession.local(32, shufflePartitions = Some(32)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def once(): Double = {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      graft.ops.InternalCaches.drainAll(spark)
      (System.nanoTime() - t0) / 1e9
    }
    once() // warm
    val l = new Stages
    spark.sparkContext.addSparkListener(l)
    val t = once()
    graft.GraftSession.drainListenerBus(spark) // every stage-completed event is in
    println(f"$name wall ${t}%.2f s — stages by duration:")
    import scala.jdk.CollectionConverters._
    l.done.asScala.toSeq.sortBy(-_._1).take(30).foreach {
      case (d, n, sr, sw, in, cpu, gc, nm) =>
        println(f"  $d%6.2fs $n%4d tasks cpu=$cpu%5.2fs gc=$gc%5.2fs sr=${sr / 1024}%5dKB sw=${sw / 1024}%5dKB in=${in / 1024}%6dKB  $nm")
    }
    spark.stop()
  }
}
