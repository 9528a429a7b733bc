package graft

import graft.dedup.Dedup
import graft.ops.Skew
import graft.text.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.InternalCaches.CacheSyntax

/** Hot-key stress fixtures: deterministic synthetic corpora with the key
  * distributions that kill banded/keyed operators at scale — a
  * boilerplate flood (20% of documents share one template), a dominant
  * chunk, a degenerate perceptual-hash band — benched against UNIFORM
  * twins of identical size and near-identical output volume. The bench
  * emits both timings ("skew" section of the JSON line); the hot/uniform
  * ratio is the number that says whether the bounded-pair guards hold
  * under degenerate data. The self-pair guards
  * ([[graft.ops.Skew.boundedSelfPairs]], `boundedWideBandPairs`: x27,
  * x84) count bucket populations inside the plan, with no driver action;
  * the x49 `…Between` guard still runs a driver-side census first.
  *
  * Stress paths run the REAL operators (minhashLshPairs, the x38 chunk
  * pipeline, the x84 band-join shape) with lowered guard thresholds so
  * the decomposition actually engages at bench scale; flood sizes are
  * capped so candidate volume stays comparable to the uniform twin's
  * total work (the criterion is a bounded ratio, not matched plans).
  */
object SkewStress {

  /** 16-token documents; in the skewed variant every 5th doc (20%) shares
    * an 8-token boilerplate prefix (≈ 0.27 Jaccard between flood docs —
    * candidates flood the band buckets, most pairs fail the tau=0.5
    * verify, mirroring template boilerplate in a real corpus). */
  def textCorpus(spark: SparkSession, n: Long, skewed: Boolean): DataFrame = {
    val flood = col("id") % 5 === 0
    val toks = (0 until 16).map { t =>
      if (skewed && t < 8)
        when(flood, lit(s"boiler$t"))
          .otherwise(concat(lit(s"u${t}_"), col("id")))
      else concat(lit(s"u${t}_"), col("id"))
    }
    spark.range(n).select(col("id").as("doc_id"),
      concat_ws(" ", toks: _*).as("text"))
  }

  /** The x84 band shape, synthetically: 4×16-bit bands per asset. Skewed:
    * a capped flood shares bands 0–1 exactly (two hot buckets) while
    * bands 2–3 stay hash-random, so nearly all candidate pairs fail the
    * Hamming ≤ 3 verify — hot candidate generation, tiny output, like a
    * run of flat frames that are not actually near-dups. */
  def bandWide(spark: SparkSession, n: Long, skewed: Boolean,
               floodCap: Long): DataFrame = {
    val flood = col("id") % 5 === 0 && col("id") < lit(floodCap * 5)
    def b(j: Int) = {
      val rand = pmod(xxhash64(lit(j), col("id")), lit(65536L))
      if (skewed && j < 2) when(flood, lit(48879L + j)).otherwise(rand) else rand
    }
    spark.range(n).select(col("id").as("asset_id"),
      b(0).as("b0"), b(1).as("b1"), b(2).as("b2"), b(3).as("b3"))
  }

  /** Banded near-dup pairs over a wide band frame — the x84 join shape on
    * explicit bands, guard thresholds exposed. Payload-carrying generation
    * ([[graft.ops.Skew.boundedWideBandPairs]]): verify is an inline
    * projection, no candidate re-join, no cross-band distinct. */
  def bandPairs(wide: DataFrame, hotThreshold: Int, blockSize: Int): DataFrame =
    Skew.boundedWideBandPairs(wide, "asset_id", Seq("b0", "b1", "b2", "b3"),
        hotThreshold, blockSize)
      .select(col("id_a"), col("id_b"),
        expr("CAST(bit_count(bands_a[0] ^ bands_b[0]) " +
          "+ bit_count(bands_a[1] ^ bands_b[1]) " +
          "+ bit_count(bands_a[2] ^ bands_b[2]) " +
          "+ bit_count(bands_a[3] ^ bands_b[3]) AS BIGINT)").as("hamming"))
      .filter(col("hamming") <= 3)

  /** The x49 incremental shape on the band fixture: a small batch (4% of
    * ids, disjoint from the corpus split) probes the standing corpus band
    * index whose hot buckets decompose ([[graft.ops.Skew
    * .boundedWideBandPairsBetween]]); verify = inline Hamming ≤ 3, as in
    * [[bandPairs]]. */
  def bandPairsBetween(wide: DataFrame, hotThreshold: Int,
                       blockSize: Int): DataFrame = {
    val isBatch = col("asset_id") % 25 === 1
    Skew.boundedWideBandPairsBetween(
        wide.filter(isBatch), wide.filter(!isBatch), "asset_id",
        Seq("b0", "b1", "b2", "b3"), hotThreshold, blockSize)
      .select(col("id_a"), col("id_b"),
        expr("CAST(bit_count(bands_a[0] ^ bands_b[0]) " +
          "+ bit_count(bands_a[1] ^ bands_b[1]) " +
          "+ bit_count(bands_a[2] ^ bands_b[2]) " +
          "+ bit_count(bands_a[3] ^ bands_b[3]) AS BIGINT)").as("hamming"))
      .filter(col("hamming") <= 3)
  }

  /** The x38 chunk-dedup pipeline body over an arbitrary corpus. */
  def chunkDedup(docs: DataFrame): DataFrame = {
    val ch = TextOps.chunkRows(docs, "doc_id", "text", 4).cacheRegistered
    val freq = ch.groupBy(col("chunk_hash"))
      .agg(countDistinct(col("doc_id")).as("nd"))
    val out = ch.join(freq, Seq("chunk_hash"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
    out
  }

  /** Signature-path cost twins: the SAME shingle rows aggregated through
    * the oracle-replayable md5 component hash vs the production xxhash64
    * path ([[Dedup.withSignatureFast]] — codegen'd long hash, no 32-char
    * string materialization per (shingle, component)). Not a skew fixture
    * — a hash-kernel cost measurement on the REAL documents table at the
    * bench SF; the `sig_md5 / sig_xxh64` ratio in the skew section is the
    * measured md5 tax the replay guarantee costs. */
  def sigQueries(spark: SparkSession, sfDir: String): Seq[(String, () => DataFrame)] = Seq(
    "sig_md5" -> (() => Dedup.withSignature(
      Tables.load(spark, sfDir, "documents"), "doc_id", "text",
      shingleK = 3, numHashes = 12)),
    "sig_xxh64" -> (() => Dedup.withSignatureFast(
      Tables.load(spark, sfDir, "documents"), "doc_id", "text",
      shingleK = 3, numHashes = 12)))

  /** The stress runs (four skew operators × {hot, uniform} + the
    * signature-hash cost twins), sized from the corpus row count of the
    * SF under bench. `hotThreshold`/`blockSize` set the x27, x84 and x49
    * guards (x38 is agg + join and has none); `Probe skew` sweeps them. */
  def queries(spark: SparkSession, n: Long, sfDir: String,
              hotThreshold: Int = 512,
              blockSize: Int = 512): Seq[(String, () => DataFrame)] = {
    val floodCap = math.min(n / 5, 2500L) // keep candidate volume bounded
    sigQueries(spark, sfDir) ++ Seq(
      "skew_x27_hot" -> (() => Dedup.minhashLshPairs(
        textCorpus(spark, n, skewed = true), "doc_id", "text",
        hotThreshold = hotThreshold, blockSize = blockSize)),
      "skew_x27_uni" -> (() => Dedup.minhashLshPairs(
        textCorpus(spark, n, skewed = false), "doc_id", "text",
        hotThreshold = hotThreshold, blockSize = blockSize)),
      "skew_x38_hot" -> (() => chunkDedup(textCorpus(spark, n, skewed = true))),
      "skew_x38_uni" -> (() => chunkDedup(textCorpus(spark, n, skewed = false))),
      "skew_x84_hot" -> (() => bandPairs(
        bandWide(spark, n, skewed = true, floodCap), hotThreshold, blockSize)),
      "skew_x84_uni" -> (() => bandPairs(
        bandWide(spark, n, skewed = false, floodCap), hotThreshold, blockSize)),
      "skew_x49_hot" -> (() => bandPairsBetween(
        bandWide(spark, n, skewed = true, floodCap), hotThreshold, blockSize)),
      "skew_x49_uni" -> (() => bandPairsBetween(
        bandWide(spark, n, skewed = false, floodCap), hotThreshold, blockSize)))
  }
}
