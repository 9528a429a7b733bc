package graft.dedup

import graft.text.TextOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.expressions.Natives.md5 // shadows functions.md5 (bit-identical, thread-cached digest)
import graft.ops.InternalCaches.CacheSyntax

/** LSH recall evaluation — grades a banded-MinHash candidate stage against
  * exact n-gram Jaccard ground truth computed on a bounded PROBE sample
  * (cost linear in the corpus, never quadratic: the probe side of the
  * inverted-index join is the sampled documents' shingles only).
  *
  * The probe sample is parameterized (count per stratum + optional
  * stratification column) so the eval runs as a pre-flight tool, not just
  * a fixed oracle query: stratifying by source catches a banding setup
  * that works on the majority source but misses a minority one.
  *
  * Sampling bound (see SCALE.md): each decile's recall is a binomial
  * proportion over that decile's n_truth pairs, so the 95% half-width is
  * ≤ 1/√n_truth; a probe of p documents yields ~p·E[near-dups per doc]
  * truth pairs per occupied decile. Size the probe for the deciles you
  * must resolve — nested probes (same hash ranking, larger k) only ADD
  * truth pairs, so curves from increasing probe sizes are directly
  * comparable (RecallEvalSpec locks this).
  */
object RecallEval {

  /** Deterministic pseudo-random probe sample: the `probePerStratum`
    * documents with the smallest md5(id) per stratum (or globally when
    * `stratifyCol` is None). md5-ranked so the sample is reproducible in
    * any engine and uncorrelated with insertion order; nested in
    * `probePerStratum` (k ⊂ k+1) by construction. Stratified selection
    * prunes via WindowGroupLimit; the global form is a bounded top-k. */
  def probeSet(docs: DataFrame, idCol: String, probePerStratum: Int,
               stratifyCol: Option[String]): DataFrame = {
    require(probePerStratum > 0)
    val rank = Seq(md5(col(idCol).cast("string")), col(idCol))
    stratifyCol match {
      case Some(s) =>
        val w = Window.partitionBy(col(s)).orderBy(rank.map(_.asc): _*)
        docs.select(col(idCol), col(s))
          .filter(col(idCol).isNotNull)
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= probePerStratum)
          .select(col(idCol))
      case None =>
        docs.select(col(idCol)).filter(col(idCol).isNotNull)
          .orderBy(rank: _*).limit(probePerStratum)
    }
  }

  /** Per-exact-Jaccard-decile recall of the banded candidate stage.
    * Truth: exact Jaccard ≥ 0.05 pairs touching the probe set, via the
    * shingle inverted index (probe shingles ⋈ all shingles — deliberately
    * unblocked, since bands cross sources). Candidates: the production
    * md5-MinHash band chain at `tau`. All surfaces integer-exact: decile
    * = (common·10) div union, recall in ppm. Output: (j_bucket, n_truth,
    * n_found, recall_ppm). */
  def lshRecallCurve(docs: DataFrame, idCol: String, textCol: String,
                     shingleK: Int, numHashes: Int, rowsPerBand: Int,
                     tau: Double, probePerStratum: Int,
                     stratifyCol: Option[String]): DataFrame = {
    // ONE tokenization end-to-end: the cached shingle frame feeds the
    // truth inverted index, the per-doc sizes, AND the candidate stage's
    // signatures (signatureOfShingles + lshPairsFromSignatures — the
    // composed form x115/x116 use) — re-deriving shingles inside
    // minhashLshPairs would tokenize the corpus twice. Caller-managed
    // cache (Verify/Bench clear per query).
    val sh = TextOps.shingleRows(docs, idCol, textCol, shingleK).cacheRegistered
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    val probes = probeSet(docs, idCol, probePerStratum, stratifyCol)
    val shP = sh.join(broadcast(probes), Seq(idCol))
      .select(col(idCol).as("pa"), col("g"))
    val shAll = sh.select(col(idCol).as("pb"), col("g"))
    // canonicalize to id_a < id_b: probes are md5-scattered across the id
    // space, so either endpoint may be the probe; a probe-probe pair
    // surfaces in both orientations with the same common count and the
    // distinct collapses it
    val common = shP.join(shAll, Seq("g"))
      .filter(col("pb") =!= col("pa"))
      .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("common"))
      .select(least(col("pa"), col("pb")).as("id_a"),
        greatest(col("pa"), col("pb")).as("id_b"), col("common"))
      .distinct()
    val truth = common
      .join(sizes.select(col(idCol).as("id_a"), col("n").as("na")), "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("n").as("nb")), "id_b")
      .withColumn("uni", col("na") + col("nb") - col("common"))
      .filter(col("common") * 20 >= col("uni")) // exact J >= 0.05
      .withColumn("j_bucket", expr("(common * 10) div uni"))
    val cands = Dedup.lshPairsFromSignatures(
        Dedup.signatureOfShingles(sh, idCol, numHashes), idCol,
        numHashes, rowsPerBand, tau)
      .select(col("id_a"), col("id_b"), lit(1L).as("found"))
    truth.join(cands, Seq("id_a", "id_b"), "left")
      .groupBy(col("j_bucket"))
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("found"), lit(0L))).as("n_found"))
      .select(col("j_bucket"), col("n_truth"), col("n_found"),
        expr("(n_found * CAST(1000000 AS BIGINT)) div n_truth")
          .as("recall_ppm"))
  }
}
