package graft.tools

import graft.GraftSession
import graft.similarity.Similarity
import org.apache.spark.sql.functions._

/** One-off probe: per-row cost of the map-side literal-fold cell
  * assignment vs its parts (plain codegen dot, dot+norm division, struct
  * array_min) over the sf0.1 embeddings — run when a fold-bearing stage
  * reads slow in StageCensus, to say WHICH sub-expression eats the time.
  */
object FoldProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(1, shufflePartitions = Some(1)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).cache()
    emb.count(): Unit
    val cents: Seq[(Long, Seq[Float])] = emb.filter(col("vec_id") < 16)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    def time(tag: String)(dfb: => org.apache.spark.sql.DataFrame): Unit = {
      dfb.write.format("noop").mode("overwrite").save() // warm
      val t0 = System.nanoTime()
      dfb.write.format("noop").mode("overwrite").save()
      println(f"$tag%-28s ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    val v = col("embedding")
    val n = sqrt(Similarity.dot(v, v))
    time("plain_dot_sum") {
      emb.select(cents.map { case (_, c) =>
        Similarity.dot(v, typedLit(c)) }.reduce(_ + _).as("x"))
    }
    time("dot_div_norms") {
      emb.select(cents.map { case (_, c) =>
        val cv = typedLit(c)
        Similarity.dot(v, cv) / (n * sqrt(Similarity.dot(cv, cv)))
      }.reduce(_ + _).as("x"))
    }
    time("struct_array_min") {
      emb.select(array_min(array(cents.map { case (cid, c) =>
        val cv = typedLit(c)
        struct((Similarity.dot(v, cv) / (n * sqrt(Similarity.dot(cv, cv)))
          * lit(-1.0d)).as("nc"), lit(cid).as("c"))
      }: _*)).getField("c").as("cell"))
    }
    val scan = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    time("fold_over_scan") {
      scan.select(array_min(array(cents.map { case (cid, c) =>
        val cv = typedLit(c)
        struct((Similarity.dot(v, cv) / (n * sqrt(Similarity.dot(cv, cv)))
          * lit(-1.0d)).as("nc"), lit(cid).as("c"))
      }: _*)).getField("c").as("cell"))
    }
    val centDf = Similarity.pinLocal(scan.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec")))
    time("assignCells_fn") {
      Similarity.assignCells(scan, "vec_id", "embedding",
        centDf, "cid", "cvec").select(col("vec_id"), col("cell"))
    }
    time("cand_branch") {
      import org.apache.spark.sql.expressions.Window
      val centN = broadcast(centDf.select(col("cid"), col("cvec"))
        .withColumn("__cn", sqrt(Similarity.dot(col("cvec"), col("cvec")))))
      val qn = scan.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        .withColumn("__qn", sqrt(Similarity.dot(col("qvec"), col("qvec"))))
      val wq = Window.partitionBy(col("qid"))
        .orderBy(col("__ccos").desc, col("cid").asc)
      val qcells = qn.crossJoin(centN)
        .withColumn("__ccos",
          Similarity.dot(col("qvec"), col("cvec")) / (col("__qn") * col("__cn")))
        .withColumn("__rn", row_number().over(wq))
        .filter(col("__rn") <= 2)
        .select(col("qid").as("__qid"), col("cid").as("qcell"))
      Similarity.assignCells(scan, "vec_id", "embedding", centDf, "cid", "cvec")
        .select(col("vec_id"), col("cell"))
        .join(broadcast(qcells),
          col("cell") === col("qcell") && col("__qid") =!= col("vec_id"))
        .select(col("__qid"), col("vec_id"))
    }
    def candBranch() = {
      import org.apache.spark.sql.expressions.Window
      val centN = broadcast(centDf.select(col("cid"), col("cvec"))
        .withColumn("__cn", sqrt(Similarity.dot(col("cvec"), col("cvec")))))
      val qn = scan.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        .withColumn("__qn", sqrt(Similarity.dot(col("qvec"), col("qvec"))))
      val wq = Window.partitionBy(col("qid"))
        .orderBy(col("__ccos").desc, col("cid").asc)
      val qcells = qn.crossJoin(centN)
        .withColumn("__ccos",
          Similarity.dot(col("qvec"), col("cvec")) / (col("__qn") * col("__cn")))
        .withColumn("__rn", row_number().over(wq))
        .filter(col("__rn") <= 2)
        .select(col("qid").as("__qid"), col("cid").as("qcell"))
      Similarity.assignCells(scan, "vec_id", "embedding", centDf, "cid", "cvec")
        .select(col("vec_id"), col("cell"))
        .join(broadcast(qcells),
          col("cell") === col("qcell") && col("__qid") =!= col("vec_id"))
        .select(col("__qid"), col("vec_id"))
    }
    val cb = candBranch()
    time("cand_same_df") { cb }           // identical DataFrame both runs
    spark.conf.set("spark.sql.codegen.wholeStage", false)
    time("cand_nocodegen") { candBranch() }
    spark.conf.set("spark.sql.codegen.wholeStage", true)
    spark.stop()
  }
}
