package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {

  test("cpus: SPARK_GRAFT_CPUS when set, the default when unset") {
    assert(GraftSession.cpus(4, Map.empty) == 4)
    assert(GraftSession.cpus(32, Map("SPARK_GRAFT_CPUS" -> "8")) == 8)
  }

  test("cpus: anything but a positive integer fails naming the variable") {
    for (bad <- Seq("0", "-2", "four", "", " 8", "8.0")) {
      val e = intercept[IllegalArgumentException](
        GraftSession.cpus(4, Map("SPARK_GRAFT_CPUS" -> bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), bad)
    }
  }

  test("positiveEnv: SPARK_GRAFT_PARTS when set, the default when unset") {
    assert(GraftSession.positiveEnv("SPARK_GRAFT_PARTS", 32, Map.empty) == 32)
    assert(GraftSession.positiveEnv("SPARK_GRAFT_PARTS", 32,
      Map("SPARK_GRAFT_PARTS" -> "256")) == 256)
    // only the named variable is read
    assert(GraftSession.positiveEnv("SPARK_GRAFT_PARTS", 32,
      Map("SPARK_GRAFT_CPUS" -> "8")) == 32)
  }

  test("positiveEnv: anything but a positive integer fails naming the variable") {
    for (bad <- Seq("0", "-32", "lots", "", "64 ", "1e3")) {
      val e = intercept[IllegalArgumentException](
        GraftSession.positiveEnv("SPARK_GRAFT_PARTS", 32, Map("SPARK_GRAFT_PARTS" -> bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_PARTS"), bad)
    }
  }

  test("SparkEntry.only: the named queries, all for none, unknown names fail naming them") {
    assert(SparkEntry.only(Set.empty).keySet == SparkEntry.queries.keySet)
    assert(SparkEntry.only(Set("q29_contestant_stats", "x03_dedup_minhash")).keySet ==
      Set("q29_contestant_stats", "x03_dedup_minhash"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.only(Set("q29_contestant_stats", "q29_contestant_stat", "x3")))
    assert(e.getMessage.contains("unknown query names: q29_contestant_stat, x3"), e.getMessage)
  }

  test("local lowers the log4j2 root level to WARN before the context starts") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.config.Configurator
    val prior = LogManager.getRootLogger.getLevel
    Configurator.setRootLevel(Level.INFO)
    try {
      GraftSession.local(1)
      assert(LogManager.getRootLogger.getLevel == Level.WARN)
    } finally Configurator.setRootLevel(prior)
  }
}
