package graft

import graft.tools.Probe
import graft.tools.Probe._

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** `graft.tools.Probe`: the parser rejects every bad input before a
  * session starts, each mode's output keeps the shape its readers parse
  * (tools/bench_local.py for `time`, `scale` and `decode`), and the
  * measurement mains stay four. */
class ProbeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val q = "q29_contestant_stats"
  private val env = Map("SPARK_GRAFT_SF_DIR" -> sf)

  private def output(cmd: Command): Seq[String] = {
    val buf = new ByteArrayOutputStream
    val out = new PrintStream(buf, true, "UTF-8")
    Probe.run(spark, cmd, out)
    out.close()
    buf.toString("UTF-8").linesIterator.toSeq
  }

  test("skew arguments: positive integers or a usage error") {
    import graft.tools.Probe.{skewArgs => parseArgs}
    assert(parseArgs(Nil) == Right((None, Seq((512, 512)))))
    assert(parseArgs(Seq("2000", "64,32", "512,512")) ==
      Right((Some(2000L), Seq((64, 32), (512, 512)))))
    for (args <- Seq(Seq("0"), Seq("n"), Seq("-5"), Seq("100", "64"),
        Seq("100", "64,0"), Seq("100", "64,32,8"), Seq("100", "a,b"),
        Seq("100", "64,32", "64,"))) {
      val err = parseArgs(args)
      assert(err.isLeft && err.left.exists(e =>
        e.contains(s"'${args.last}'") && e.contains("usage")), s"$args -> $err")
    }
  }

  test("parse: each mode's arguments, with the scale-factor directory from SPARK_GRAFT_SF_DIR") {
    assert(parse(Seq("time", q, "x27_lsh_dedup_pipeline"), env) ==
      Right(Time(sf, Seq(q, "x27_lsh_dedup_pipeline"))))
    assert(parse(Seq("census", q), env) == Right(Census(sf, Seq(q))))
    assert(parse(Seq("plan", q), env) == Right(Plan(sf, Seq(q))))
    assert(parse(Seq("time", q), Map.empty) == Right(Time("/root/testdata/sf0.1", Seq(q))))
    assert(parse(Seq("scale", "10"), env ++ Map("SPARK_GRAFT_SF10X_DIR" -> "/x")) ==
      Right(Scale(sf, 10, "/x", scaleChains)))
    assert(parse(Seq("scale", "100", q), env ++ Map("SPARK_GRAFT_SF100X_DIR" -> "/y")) ==
      Right(Scale(sf, 100, "/y", Seq(q))))
    assert(parse(Seq("scale", "100"), env).exists {
      case Scale(_, 100, _, names) => names == Seq("x135_prefix_filter_join")
      case _ => false
    })
    assert(scaleChains.forall(SparkEntry.queries.contains))
    assert(parse(Seq("skew"), env) == Right(Skew(sf, None, Seq((512, 512)))))
    assert(parse(Seq("skew", "300", "64,32"), env) == Right(Skew(sf, Some(300L), Seq((64, 32)))))
    assert(parse(Seq("decode"), env) == Right(Decode("data/fixtures", 20000)))
    assert(parse(Seq("decode", "/d", "7"), env) == Right(Decode("/d", 7)))
  }

  test("parse: every mode's bad input is a usage error naming it") {
    val cases = Seq(
      Seq("bench", q) -> "'bench'",
      Seq("time") -> "no query names",
      Seq("census") -> "no query names",
      Seq("plan") -> "no query names",
      Seq("time", q, "q99_nope") -> "unknown query names: q99_nope",
      Seq("census", "x3") -> "unknown query names: x3",
      Seq("plan", "q29_contestant_stat") -> "unknown query names: q29_contestant_stat",
      Seq("scale") -> "'scale'",
      Seq("scale", "7") -> "'7'",
      Seq("scale", "x") -> "'x'",
      Seq("scale", "100", "x135") -> "unknown query names: x135",
      Seq("skew", "0") -> "'0'",
      Seq("skew", "100", "64,") -> "'64,'",
      Seq("decode", "data/fixtures", "0") -> "'0'",
      Seq("decode", "data/fixtures", "-3") -> "'-3'",
      Seq("decode", "data/fixtures", "abc") -> "'abc'",
      Seq("decode", "data/fixtures", "1.5") -> "'1.5'",
      Seq("decode", "data/fixtures", "9999999999") -> "'9999999999'",
      Seq("decode", "data/fixtures", "1", "2") -> "'2'")
    for ((args, msg) <- cases) {
      val r = parse(args, env)
      assert(r.left.exists(e => e.contains(msg) && e.contains(Usage)), s"$args -> $r")
    }
    assert(parse(Nil, env).left.exists(_.contains(Usage)))
  }

  test("time: one `<name> <sec>` line, as bench_local.py's anchor parser reads it") {
    val lines = output(Time(sf, Seq(q)))
    assert(lines.size == 1, lines)
    val parts = lines.head.split("\\s+").toSeq
    assert(parts.size == 2 && parts.head == q, lines)
    assert(parts(1).toDoubleOption.exists(_ >= 0), lines)
  }

  test("census: jobs, stages and tasks of one warm run, then its stages") {
    val lines = output(Census(sf, Seq(q)))
    val Head = raw"(\S+)\s+census:\s+(\d+) jobs\s+(\d+) stages\s+(\d+) tasks wall \S+ s".r
    val (jobs, stages) = lines.head match {
      case Head(name, j, s, _) => assert(name == q); (j.toInt, s.toInt)
      case other => fail(s"census header: $other")
    }
    assert(jobs >= 1 && stages >= 1, lines)
    val stageLines = lines.tail.filter(_.contains(" tasks cpu="))
    assert(stageLines.nonEmpty && stageLines.size == math.min(stages, 30), lines)
    assert(stageLines.forall(l => Seq("gc=", "sr=", "sw=", "in=").forall(l.contains)), lines)
  }

  test("plan: the executed plan under the query's header") {
    val lines = output(Plan(sf, Seq(q)))
    assert(lines.head == s"===== $q =====", lines)
    assert(lines.size > 2 && lines(1).startsWith("AdaptiveSparkPlan"), lines)
  }

  test("scale JSON: the keys bench_local.py reads at 10x, suffixed at 100x") {
    assert(scaleJson(10, Seq("a" -> (1.0, 8.0, 0.8), "b" -> (0.5, 6.25, 1.25))) ==
      """{"a": {"sf01_sec": 1.000, "sf10x_sec": 8.000, "vs_linear": 0.800}, """ +
        """"b": {"sf01_sec": 0.500, "sf10x_sec": 6.250, "vs_linear": 1.250}}""")
    assert(scaleJson(100, Seq("a" -> (2.0, 150.0, 0.75))) ==
      """{"a": {"sf01_sec": 2.000, "sf100x_sec": 150.000, "vs_linear100": 0.750}}""")
  }

  test("decode: one JSON line of jpeg and png kernel rows, no session needed") {
    val line = decodeJson("data/fixtures", 1)
    import spark.implicits._
    val parsed = spark.read.json(Seq(line).toDS())
    assert(parsed.columns.toSeq == Seq("decode_kernel"))
    val kernel = parsed.schema("decode_kernel").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(kernel.fieldNames.toSet == Set("jpeg", "png"))
    val keys = Set("iters", "px_per_iter", "bytes_per_iter", "wall_sec", "ns_per_px", "mpx_per_s")
    for (k <- Seq("jpeg", "png")) {
      val row = kernel(k).dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      assert(row.fieldNames.toSet == keys, s"$k: ${row.fieldNames.toSeq}")
      val r = parsed.select(s"decode_kernel.$k.iters", s"decode_kernel.$k.px_per_iter").head()
      assert(r.getLong(0) == 1L && r.getLong(1) > 0L, line)
    }
  }

  test("mains sweep: Bench, Verify, UpsertDump and Probe are the only mains under src/main") {
    val root = Paths.get("src/main/scala")
    val stream = Files.walk(root)
    val mains = try stream.iterator.asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => new String(Files.readAllBytes(p), "UTF-8").contains("def main("))
      .map(p => root.relativize(p).toString.replace('\\', '/'))
      .toSet
    finally stream.close()
    assert(mains == Set("graft/Bench.scala", "graft/Verify.scala",
      "graft/tools/UpsertDump.scala", "graft/tools/Probe.scala"),
      s"a new measurement belongs in a Probe mode, not a new main: ${mains.toSeq.sorted}")
  }
}
