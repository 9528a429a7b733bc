package graft

import graft.expressions.Natives
import graft.similarity.Similarity
import org.apache.spark.sql.functions._

class VectorExpressionSpec extends SparkSpec {
  import spark.implicits._

  test("graft_vec_dot is bitwise-identical to the zip_with+aggregate fold") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val pairs = emb.as("a").crossJoin(emb.as("b"))
      .filter(col("a.vec_id") < 20 && col("b.vec_id") < 20)
    val mismatches = pairs.select(
      Similarity.dot(col("a.embedding"), col("b.embedding")).as("native"),
      Similarity.dotFold(col("a.embedding"), col("b.embedding")).as("fold"))
      .filter(col("native") =!= col("fold"))
      .count()
    assert(mismatches == 0)
  }

  test("graft_cell_argmin is value-identical to the struct array_min fold (incl. near-ties)") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val cents: Seq[(Long, Seq[Float])] = emb.filter($"vec_id" < 16)
      .orderBy($"vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val v = col("embedding")
    val n = sqrt(Similarity.dot(v, v))
    // the r1–r13 fold form, verbatim
    val fold = array_min(array(cents.map { case (cid, c) =>
      val cv = typedLit(c)
      struct((Similarity.dot(v, cv) / (n * sqrt(Similarity.dot(cv, cv)))
        * lit(-1.0d)).as("nc"), lit(cid).as("c"))
    }: _*)).getField("c")
    // the native form as assignCellsWithNorm builds it: cid-sorted matrix,
    // driver-precomputed norms, element_at over the position
    val norms = cents.map { case (_, c) =>
      var acc = 0.0; c.foreach(f => acc += f.toDouble * f.toDouble)
      math.sqrt(acc)
    }
    val native = element_at(
      array(cents.map(c => lit(c._1)): _*),
      Natives.cellArgmin(v,
        typedLit(cents.map(_._2)), typedLit(norms)) + 1)
    val bad = emb.select($"vec_id", fold.as("f"), native.as("g"))
      .filter($"f" =!= $"g").count()
    assert(bad == 0, "graft_cell_argmin drifted from the struct fold")
  }

  test("graft_micro_argmin is value-identical to the zip_with/aggregate struct fold") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val q = Similarity.quantizeMicro(col("embedding"), 1000000L)
    val qd = emb.select($"vec_id", q.as("__q"))
    val cents: Seq[Array[Long]] = qd.filter($"vec_id" < 8).orderBy($"vec_id")
      .select($"__q").collect().map(_.getSeq[Long](0).toArray).toSeq
    // the r1–r13 fold, verbatim
    val fold = array_min(array(cents.zipWithIndex.map { case (c, j) =>
      struct(
        aggregate(zip_with($"__q", typedLit(c.toSeq), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x).as("d"),
        lit(j).as("c"))
    }: _*))
    val native = Similarity.microArgmin($"__q", cents)
    val bad = qd.select(
        fold.getField("d").as("fd"), fold.getField("c").as("fc"),
        native.getField("d").as("gd"), native.getField("c").as("gc"))
      .filter($"fd" =!= $"gd" || $"fc" =!= $"gc").count()
    assert(bad == 0, "graft_micro_argmin drifted from the HOF fold")
  }

  test("graft_pq_codes is value-identical to the explode/join/min-struct encode") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val (m, subDim) = (8, 8)
    val cents: Seq[(Long, Seq[Double])] = emb.filter($"vec_id" < 16)
      .orderBy($"vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble))).toSeq
    val ev = emb.select($"vec_id", $"embedding".cast("array<double>").as("__v"))
    // the r1–r13 relational encode, verbatim shape
    val centDf = spark.createDataset(cents).toDF("cid", "__cv")
    val centSub = broadcast(centDf
      .select($"cid", explode(sequence(lit(0), lit(m - 1))).as("s"), $"__cv")
      .select($"cid", $"s",
        slice($"__cv", $"s" * subDim + 1, lit(subDim)).as("__csub")))
    val rel = ev
      .select($"vec_id", explode(sequence(lit(0), lit(m - 1))).as("s"), $"__v")
      .select($"vec_id", $"s",
        slice($"__v", $"s" * subDim + 1, lit(subDim)).as("__vsub"))
      .join(centSub, Seq("s"))
      .select($"vec_id", $"s", $"cid", expr(
        "aggregate(zip_with(__vsub, __csub, (x, y) -> (x - y) * (x - y)), " +
          "cast(0.0 as double), (a, b) -> a + b)").as("d"))
      .groupBy($"vec_id", $"s")
      .agg(min(struct($"d", $"cid")).as("__m"))
      .select($"vec_id", $"s", $"__m".getField("cid").as("code"))
      .as[(Long, Int, Long)].collect().toSet
    val nat = ev.select($"vec_id",
        posexplode(Natives.pqCodes($"__v",
          typedLit(cents.map(_._2)), lit(subDim))).as(Seq("s", "p")))
      .select($"vec_id", $"s",
        element_at(array(cents.map(c => lit(c._1)): _*), $"p" + 1).as("code"))
      .as[(Long, Int, Long)].collect().toSet
    assert(nat == rel, "graft_pq_codes drifted from the relational encode")
  }

  test("graft_vec_dot null semantics: length mismatch and null element -> null") {
    val df = Seq(
      (Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f))).toDF("a", "b")
    val r = df.select(Similarity.dot($"a", $"b")).collect().head
    assert(r.isNullAt(0))
    val withNull = spark.sql(
      "SELECT graft_vec_dot(array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT)), " +
        "array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))) AS d")
    assert(withNull.collect().head.isNullAt(0))
  }

  test("simhashDF equals column-expression simhash") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents").limit(100)
    val viaDF = graft.dedup.Dedup.simhashDF(docs, "doc_id", "text", 16)
    val viaCol = docs.select(col("doc_id"),
      graft.dedup.Dedup.simhash(col("text"), 16).as("sh"))
    assert(viaDF.join(viaCol.withColumnRenamed("sh", "sh2"), "doc_id")
      .filter(col("sh") =!= col("sh2")).count() == 0)
  }

  test("shingleRows equals array shingles") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents").limit(100)
    val rows = graft.text.TextOps.shingleRows(docs, "doc_id", "text", 2)
      .groupBy("doc_id").agg(sort_array(collect_list(col("g"))).as("r"))
    val arrs = docs.select(col("doc_id"),
      sort_array(graft.text.TextOps.shingles(col("text"), 2)).as("a"))
    assert(rows.join(arrs, "doc_id").filter(col("r") =!= col("a")).count() == 0)
  }

  test("langIdDF equals column-expression langId") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents").limit(200)
    val viaDF = graft.text.TextOps.langIdDF(docs, "doc_id", "text")
    val viaCol = docs.select(col("doc_id"),
      graft.text.TextOps.langId(col("text")).as("lang2"))
    assert(viaDF.join(viaCol, "doc_id")
      .filter(col("lang_pred") =!= col("lang2")).count() == 0)
  }
}
