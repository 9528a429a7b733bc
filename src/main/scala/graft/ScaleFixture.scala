package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The sf1-equivalent synthetic fixture (the tools/make_sf1synth.py
  * recipe, in Spark): ten shards of the sf0.1 documents/embeddings
  * tables — shard 0 verbatim; documents shard k>0 offsets doc_id by
  * k·10⁶ and suffixes EVERY space-separated word with a letter-only tag
  * 'x'+letter (letters only, so TextOps.normalize cannot split the tag
  * off and resurrect the original token), preserving intra-shard
  * duplicate structure exactly while zeroing cross-shard token overlap;
  * embeddings shard k>0 offsets vec_id by k·10⁶ and keeps the vector
  * verbatim, so a frozen shard-0 codebook sees each IVF cell grow
  * exactly 10× — the honest 10× shape for both the dedup and the ANN
  * chains.
  *
  * Shared by [[ScaleGateSpec]] (the build-failing ≤~linear tripwire in
  * `sbt test`) and `graft.tools.Probe scale` (the committed per-round
  * artifact), which also share the timing ([[graft.tools.Probe.scaleRow]]),
  * so the two can never drift apart on what "10×" means.
  * Row-count-stamped: a dir holding exactly 10× the source rows is
  * reused, anything else is rebuilt. */
object ScaleFixture {

  def defaultDir: String =
    s"/tmp/graft_sf1synth_spark_${sys.props.getOrElse("user.name", "anon")}"

  def ensure(spark: SparkSession, sf01: String, fixtureDir: String): Unit =
    ensureShards(spark, sf01, fixtureDir, 10)

  /** Generalized N-shard build (r15 verdict #3: the 100×-shape probe
    * needs a 100-shard fixture). `shards <= 26` keeps the original
    * single-letter word tags (so the 10× fixture is byte-identical to
    * every prior round's); larger counts use two letters — still
    * letters-only, so normalize can't split the tag off. */
  def ensureShards(spark: SparkSession, sf01: String, fixtureDir: String,
                   nShards: Int): Unit = {
    require(nShards >= 2 && nShards <= 260,
      s"shard count $nShards outside the letter-tag range")
    def tag(k: Int): String =
      if (nShards <= 26) s"x${('a' + k).toChar}"
      else s"x${('a' + k / 26).toChar}${('a' + k % 26).toChar}"
    val docs = Tables.load(spark, sf01, "documents")
    val nDocs = docs.count()
    // The k·10⁶ shard offset assumes ids fit under one million per shard;
    // a bigger source would silently collide ids while still passing the
    // N×-row-count freshness stamp, so fail loudly instead (r13 advice).
    require(nDocs < 1000000L,
      s"ScaleFixture shard offset requires <1e6 docs, got $nDocs")
    val docsTarget = new java.io.File(s"$fixtureDir/documents.parquet")
    val docsFresh = docsTarget.exists() &&
      (try spark.read.parquet(docsTarget.toString).count() == nShards * nDocs
      catch { case _: Throwable => false })
    if (!docsFresh) {
      val shards = (0 until nShards).map { k =>
        if (k == 0)
          docs.select(col("doc_id"), col("text"), col("lang"),
            col("source"), col("n_chars"))
        else {
          val tagged = array_join(
            transform(split(col("text"), " "), w => concat(w, lit(tag(k)))),
            " ")
          docs.select((col("doc_id") + k * 1000000L).as("doc_id"),
            tagged.as("text"), col("lang"), col("source"),
            length(tagged).cast("long").as("n_chars"))
        }
      }
      shards.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(docsTarget.toString)
    }
    val emb = Tables.load(spark, sf01, "embeddings")
    val nEmb = emb.count()
    require(nEmb < 1000000L,
      s"ScaleFixture shard offset requires <1e6 embeddings, got $nEmb")
    val embTarget = new java.io.File(s"$fixtureDir/embeddings.parquet")
    val embFresh = embTarget.exists() &&
      (try spark.read.parquet(embTarget.toString).count() == nShards * nEmb
      catch { case _: Throwable => false })
    if (!embFresh) {
      val shards = (0 until nShards).map { k =>
        emb.select((col("vec_id") + k * 1000000L).as("vec_id"),
          col("embedding"), col("label"))
      }
      shards.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(embTarget.toString)
    }
  }
}
