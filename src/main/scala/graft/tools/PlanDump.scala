package graft.tools

import graft.GraftSession

/** Ad-hoc plan inspector: `runMain graft.tools.PlanDump <sfDir> <query...>`
  * prints each named catalog query's executed plan — the quick way to
  * check a new operator's Window partitioning / Exchange count / pushdown
  * before it ships (the per-query .explain review the build rules ask
  * for, without spinning up a spec).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = args.drop(1)
    val spark = GraftSession.local(4, shufflePartitions = Some(4)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      println(s"===== $n =====")
      println(df.queryExecution.executedPlan.toString)
    }
    spark.stop()
  }
}
