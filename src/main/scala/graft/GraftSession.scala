package graft

import org.apache.spark.sql.SparkSession

/** One-stop session factory: the entrypoint a user migrating from the
  * reference pipeline starts with. Returns a builder pre-wired with the
  * engine's posture so the library's contracts hold without per-app conf
  * spelunking:
  *
  *  - graft's native expressions callable from SQL text and views
  *    ([[graft.expressions.GraftExtensions]]); the Scala API
  *    ([[graft.expressions.Natives]]) needs no setup on any session;
  *  - UTC session timezone (every timestamp contract in the engine, and
  *    the reference's Postgres convention);
  *  - ANSI mode on (Spark 4 default, stated here because the engine's
  *    guards — `try_element_at`, empty-string cast guards, scaled-long
  *    folds — are written against it);
  *  - AQE left enabled with skew-join handling (the runtime half of the
  *    skew story; `ops.Skew` is the explicit half);
  *  - parquet timestamps written as INT64 `TIMESTAMP_MICROS`, not Spark's
  *    INT96 default (deprecated by the Parquet format and written without
  *    statistics), so `domain.Runner` reads the watermark of the tables it
  *    writes from their footers.
  *
  * Deliberately NOT set: `shuffle.partitions` / broadcast threshold —
  * those are deployment-sized knobs (local[32] wants 32; a 1000-executor
  * cluster wants thousands); callers size them via the parameters.
  */
object GraftSession {

  def builder(appName: String = "graft",
              shufflePartitions: Option[Int] = None,
              autoBroadcastMb: Option[Int] = None): SparkSession.Builder = {
    val b = SparkSession.builder()
      .appName(appName)
      .withExtensions(new graft.expressions.GraftExtensions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val b1 = shufflePartitions.fold(b)(n =>
      b.config("spark.sql.shuffle.partitions", n))
    autoBroadcastMb.fold(b1)(mb =>
      b1.config("spark.sql.autoBroadcastJoinThreshold", mb * 1024L * 1024L))
  }

  /** Plain session for a tool main: `local[n]` with `n` = [[cpus]], UTC,
    * no UI; `shufflePartitions` defaults to `n`, the broadcast threshold
    * to Spark's. Logs at WARN: the log4j2 root level is lowered before the
    * context starts, after Spark has installed its default log config
    * (which would otherwise print its start-up INFO lines). */
  def local(defaultCpus: Int, shufflePartitions: Option[Int] = None,
            autoBroadcastMb: Option[Int] = None): SparkSession.Builder = {
    SparkLog.init()
    org.apache.logging.log4j.core.config.Configurator.setRootLevel(
      org.apache.logging.log4j.Level.WARN)
    val n = cpus(defaultCpus)
    val b = SparkSession.builder().master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.getOrElse(n).toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    autoBroadcastMb.fold(b)(mb =>
      b.config("spark.sql.autoBroadcastJoinThreshold", mb * 1024L * 1024L))
  }

  /** Spark's logging set-up, which runs once per JVM: with no log4j2
    * config on the classpath it installs Spark's defaults (root INFO). */
  private object SparkLog extends org.apache.spark.internal.Logging {
    def init(): Unit = initializeLogIfNecessary(false): Unit
  }

  /** Block until the async listener bus has delivered every event posted
    * so far (bounded wait), so listener state read next is complete — no
    * fixed sleep pads the wall. `listenerBus` is private[spark] in source
    * but public in bytecode, hence the reflection. */
  def drainListenerBus(spark: SparkSession): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
        .invoke(bus, java.lang.Long.valueOf(5000L)): Unit
    } catch { case _: Exception => Thread.sleep(300) }

  /** Task slots: `SPARK_GRAFT_CPUS`, or `default` when unset. */
  def cpus(default: Int, env: collection.Map[String, String] = sys.env): Int =
    positiveEnv("SPARK_GRAFT_CPUS", default, env)

  /** Environment variable `name` as a count, or `default` when unset.
    * Anything but a positive integer fails naming the variable. */
  def positiveEnv(name: String, default: Int,
                  env: collection.Map[String, String] = sys.env): Int =
    env.get(name).fold(default) { v =>
      val n = v.toIntOption.filter(_ > 0)
      require(n.nonEmpty, s"$name must be a positive integer, got '$v'")
      n.get
    }
}
