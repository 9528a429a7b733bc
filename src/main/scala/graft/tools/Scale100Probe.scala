package graft.tools

import graft.GraftSession

/** The 100×-shape probe (r15 verdict #3): x135's prefix-filter join
  * carries the catalog's weakest 10× gate because its cost is Σposting²
  * — a data-shape property the 10× fixture only samples one decade of.
  * This times the named queries at sf0.1 and at a 100-shard synthetic
  * fixture (500k docs — [[graft.ScaleFixture.ensureShards]]; shards are
  * token-disjoint, so posting lists grow linearly in shard count and the
  * honest question is whether the ENGINE's candidate machinery stays
  * ~linear across two decades) and prints one JSON line with
  * `vs_linear100` = t(100×) / (100 · t(1×)).
  *
  * The 100× run is measured ONCE after an sf0.1 warm (codegen + file
  * listing are warm; at multi-minute walls scheduler noise is a few
  * percent, unlike the ±30% of sub-2 s rows).
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.tools.Scale100Probe [names...]
  */
object Scale100Probe {
  def main(args: Array[String]): Unit = {
    val names = if (args.nonEmpty) args.toSeq
      else Seq("x135_prefix_filter_join")
    // SPARK_GRAFT_PARTS overrides the pinned 32 shuffle partitions: at
    // 100× rows the per-partition verification state outgrows what 32
    // partitions hold in memory on one box (the 8 GB run died; 48 GB
    // spills) — a cluster scales the partition count with the data, and
    // the knob lets the probe measure that configuration honestly.
    val parts = GraftSession.positiveEnv("SPARK_GRAFT_PARTS", 32)
    val spark = GraftSession.local(32, shufflePartitions = Some(parts)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sf01 = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val dir100 = sys.env.getOrElse("SPARK_GRAFT_SF100X_DIR",
      s"/tmp/graft_sf10synth_spark_${sys.props.getOrElse("user.name", "anon")}")
    graft.ScaleFixture.ensureShards(spark, sf01, dir100, 100)

    def once(name: String, dir: String): Double = {
      graft.ops.InternalCaches.drainAll(spark)
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val rows = names.map { n =>
      once(n, sf01) // warm
      val t01 = math.min(once(n, sf01), once(n, sf01))
      val t100 = once(n, dir100)
      (n, t01, t100, t100 / (100 * t01))
    }
    val json = rows.map { case (n, t01, t100, r) =>
      f""""$n": {"sf01_sec": $t01%.3f, "sf100x_sec": $t100%.3f, "vs_linear100": $r%.3f}"""
    }.mkString("{", ", ", "}")
    println(json)
    spark.stop()
  }
}
