package graft.queries

import graft.Tables
import graft.dedup.Dedup
import graft.similarity.Similarity
import graft.text.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.expressions.Natives.md5 // shadows functions.md5 (bit-identical, thread-cached digest)
import graft.ops.InternalCaches.CacheSyntax

/** Round-3 curation operators: the data-mixing / dedup / filtering steps a
  * large-scale training-data pipeline runs AFTER the per-document analysis
  * in [[ExtensionQueries]] — semantic dedup over embeddings, boilerplate
  * n-gram mining, chunk-level (line) dedup, per-source mixture sampling, a
  * hashed-feature linear quality classifier, and context-window chunking.
  *
  * Same oracle conventions as ExtensionQueries: md5-on-strings for every
  * hash so DuckDB replays it, scaled-integer sums before any double
  * division, total tiebreaks on every window.
  */
object CurationQueries {

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  /** Poisson(1) inverse-CDF thresholds on the u32 grid for x142's
    * bootstrap weights: `t_k = floor(P(X ≤ k) · 2^32)`, k = 0..5 (weight
    * 6 beyond — P ≈ 6e-5). Evaluated once and shared as LITERAL integers
    * by the engine expression and the oracle SQL. */
  private val bootThresholds: IndexedSeq[Long] = {
    val fact = Seq(1L, 1L, 2L, 6L, 24L, 120L)
    fact.scanLeft(0.0)((acc, f) => acc + math.exp(-1.0) / f).tail
      .map(c => math.floor(c * 4294967296.0).toLong).toIndexedSeq
  }

  /** DuckDB SQL fragment mirroring TextOps.normalize over an arbitrary
    * text expression (same normalization as ExtensionQueries.normSql —
    * duplicated privately to keep each query file self-contained). */
  private def normOf(e: String) =
    s"trim(regexp_replace(regexp_replace(lower($e), '[^a-z0-9]+', ' ', 'g'), ' +', ' ', 'g'))"

  private val normSql = normOf("text")

  private def cosSql(a: String, b: String) =
    s"list_inner_product($a, $b) / (sqrt(list_inner_product($a, $a)) * sqrt(list_inner_product($b, $b)))"

  /** Shared stage-1 of x46/x52: int8 codes for the whole corpus and the
    * integer dot of every (query, candidate) pair, as a NARROW
    * (qid, vec_id, idot) frame — whatever ranking window runs downstream
    * shuffles 24 bytes per candidate, never vectors or code arrays. */
  private def quantizedDots(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val (lows, highs) = Similarity.dimRanges(emb, "embedding")
    val coded = emb.select(col("vec_id"),
      Similarity.quantizeCodes(col("embedding"), lows, highs)
        .cast("array<float>").as("fcodes"))
    val q = coded.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("fcodes").as("qcodes"))
    coded.join(broadcast(q), col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"),
        Similarity.dot(col("qcodes"), col("fcodes")).cast("long").as("idot"))
  }

  /** Adjacent (order-sensitive) token-pair rows: (doc_id, pr) with
    * pr = tok_i '_' tok_{i+1} — one window pass over token rows, shared by
    * the x53 merge-step and x54 familiarity queries. */
  private def adjacentPairRows(docs: DataFrame): DataFrame = {
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    TextOps.tokenRows(docs, "doc_id", "text")
      .withColumn("nxt", lead(col("tok"), 1).over(byDoc))
      .filter(col("nxt").isNotNull)
      .select(col("doc_id"), concat_ws("_", col("tok"), col("nxt")).as("pr"))
  }

  /** Oracle CTE mirroring [[adjacentPairRows]] (shared by the x53/x54
    * SQL). Exposes `pairs(doc_id, pr)`. */
  private val pairsSql =
    s"""tk AS (SELECT doc_id, string_split($normSql, ' ') AS t FROM documents),
         pairs AS (SELECT doc_id, unnest(list_transform(range(1, len(t)),
             i -> t[i] || '_' || t[i+1])) AS pr
           FROM tk)"""

  /** The oracle CTE chain mirroring [[quantizedDots]] (shared by the x46
    * and x52 oracle SQL so the quantization rule can't drift between
    * them). Exposes `dots(qid, vec_id, idot)`. */
  private val qdotsSql =
    """ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         dims AS (SELECT vec_id, i AS dim, v[i] AS x
           FROM ev, unnest(range(1, len(v) + 1)) AS u(i)),
         mm AS (SELECT dim, min(x) AS lo, max(x) AS hi FROM dims GROUP BY dim),
         qz AS (SELECT d.vec_id, d.dim,
             CAST(floor((d.x - mm.lo) / (mm.hi - mm.lo) * 255 + 0.5) AS BIGINT) AS code
           FROM dims d JOIN mm USING (dim)),
         codes AS (SELECT vec_id, list(code ORDER BY dim) AS codes
           FROM qz GROUP BY vec_id),
         qs AS (SELECT vec_id AS qid, codes AS qc FROM codes WHERE vec_id < 8),
         dots AS (SELECT q.qid, c.vec_id,
             CAST(list_sum(list_transform(range(1, len(qc) + 1),
               i -> qc[i] * codes[i])) AS BIGINT) AS idot
           FROM qs q, codes c WHERE c.vec_id <> q.qid)"""

  /** The DSIR per-document importance scores over the corpus split
    * (doc_id ≥ 20, benchmark target = doc_id < 20) — (doc_id, n_feats,
    * dsir_score_micro). Shared by the x120 catalog entry and x175's
    * funnel so the selector the funnel applies IS x120's.
    *
    * Fused single-pass shape (r13): the bucket space is ≤4096 by
    * construction, so BOTH sides' (side, bucket) counts collect in ONE
    * partial-combined pass (≤8192 rows — model-sized) and the
    * per-bucket inputs fold into the scoring expression as literal
    * maps — one counts collect + one final shuffle by doc_id, with the
    * SAME Spark arithmetic the r1–r12 join chain ran (log/round
    * evaluate in the expression tree, not on the driver). */
  private def dsirScores(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val toks = TextOps.tokenRows(
        docs.filter(col("doc_id").isNotNull), "doc_id", "text")
      .filter(col("tok") =!= "")
      .withColumn("bucket",
        conv(substring(md5(col("tok")), 1, 3), 16, 10).cast("long"))
      .withColumn("__target", col("doc_id") < 20)
    val counts = toks.groupBy(col("__target"), col("bucket"))
      .agg(count(lit(1)).as("c")).collect()
    val ctM = counts.filter(_.getBoolean(0))
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    val ccM = counts.filterNot(_.getBoolean(0))
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    val nt = ctM.values.sum
    val nc = ccM.values.sum
    // try_element_at: a bucket unseen on the target side is the old
    // left-join null (→ add-1 smoothing via coalesce), where ANSI
    // element_at would throw; the corpus-side lookup can't miss (the
    // map is built from the same rows), so it stays loud
    val lwm = round((log((coalesce(
          try_element_at(typedLit(ctM), col("bucket")), lit(0L)) + lit(1.0)) /
          (lit(nt) + lit(4096.0))) -
        log((element_at(typedLit(ccM), col("bucket")) + lit(1.0)) /
          (lit(nc) + lit(4096.0)))) * lit(1000000.0))
      .cast("long")
    toks.filter(!col("__target"))
      .select(col("doc_id"), lwm.as("lwm"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feats"),
        sum(col("lwm")).as("dsir_score_micro"))
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ───── SemDeDup: nearest-centroid cells (centroids = vec_id < 16, the
    // same deterministic coarse quantizer as x15/x30) + within-cell cosine
    // prune at τ=0.4; survivor of each semantic cluster = lowest vec_id
    "x36_semantic_dedup" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cent = emb.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      Similarity.semanticDedup(emb, "vec_id", "embedding",
        cent, "cid", "cvec", tau = 0.4)
    }),

    // ───── boilerplate mining: 3-gram shingles appearing in ≥ 5 distinct
    // docs (the frequent-line/template detection step before removal).
    // shingleRows is distinct per (doc, g), so count(*) IS doc frequency —
    // partial-combine aggregation, no distinct-expand
    "x37_boilerplate_ngrams" -> ((s, d) => {
      TextOps.shingleRows(t(s, d, "documents"), "doc_id", "text", 3)
        .groupBy(col("g")).agg(count(lit(1)).as("n_docs"))
        .filter(col("n_docs") >= 5)
    }),

    // ───── chunk-level (CCNet/RefinedWeb "line") dedup: 4-token chunks,
    // global chunk frequency by distinct-doc count, per-doc duplicate
    // ratio + keep flag. Only md5 hashes shuffle — never chunk text
    "x38_chunk_dedup" -> ((s, d) => {
      // cache: the chunk frame feeds the global-frequency branch AND the
      // per-doc join side (caller-managed lifecycle, as in ExtensionQueries)
      val ch = TextOps.chunkRows(t(s, d, "documents"), "doc_id", "text", 4)
        .cacheRegistered
      val freq = ch.groupBy(col("chunk_hash"))
        .agg(countDistinct(col("doc_id")).as("nd"))
      ch.join(freq, Seq("chunk_hash"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
        .select(col("doc_id"), col("n_chunks"), col("n_dup_chunks"),
          (col("n_dup_chunks").cast("double") / col("n_chunks")).as("dup_ratio"),
          (col("n_dup_chunks").cast("double") / col("n_chunks") < 0.5).as("keep"))
    }),

    // ───── mixture sampling: per-source keep rate (data-mixing weights),
    // applied as a deterministic md5 threshold per doc — pure integer
    // compare, no doubles, replayed exactly by the oracle
    "x39_mixture_sample" -> ((s, d) => {
      val srcNum = regexp_extract(col("source"), "(\\d+)", 1).cast("long")
      val ratePct = (lit(25L) + (srcNum % 16) * 5).as("rate_pct")
      val h = conv(substring(md5(concat(lit("mix_"), col("doc_id"))), 1, 6), 16, 10)
        .cast("long")
      t(s, d, "documents").select(col("doc_id"), col("source"), ratePct,
        (h * 100 < (lit(25L) + (srcNum % 16) * 5) * 16777216L).as("sampled"))
    }),

    // ───── hashed-feature linear quality classifier (fastText-shaped):
    // token → md5 bucket (64) → deterministic integer weight in
    // [-500, 500]; doc score = mean token weight. Long sums only; the one
    // double division happens after aggregation, identically in both
    // engines
    "x40_quality_classifier" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val agg = TextOps.tokenRows(docs, "doc_id", "text")
        .filter(col("tok") =!= "")
        .withColumn("w", TextOps.hashedTokenWeight(col("tok")))
        .groupBy(col("doc_id"))
        .agg(sum(col("w")).as("sw"), count(lit(1)).as("n"))
      docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n"), lit(0L)).as("n_tokens"),
          (col("sw").cast("double") / 500.0 / col("n")).as("score"),
          coalesce(col("sw") > 0, lit(false)).as("keep"))
    }),

    // ───── composed curation v2 — the round-3 ops chained as one recipe:
    // chunk-dedup keep ∧ classifier keep ∧ mixture sample → per-source
    // surviving doc/token counts. ONE tokenization feeds both the chunk
    // and classifier branches (chunkRowsOfTokens / shared token cache)
    "x42_curation_v2" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // cache: the token frame feeds the chunk branch and the classifier
      // branch (caller-managed lifecycle, as elsewhere)
      val tr = TextOps.tokenRows(docs, "doc_id", "text").cacheRegistered
      val ch = TextOps.chunkRowsOfTokens(tr, "doc_id", 4)
      val freq = ch.groupBy(col("chunk_hash"))
        .agg(countDistinct(col("doc_id")).as("nd"))
      val dedupKeep = ch.join(freq, Seq("chunk_hash"))
        .groupBy(col("doc_id"))
        .agg((sum(when(col("nd") > 1, 1L).otherwise(0L)).cast("double") /
          count(lit(1)) < 0.5).as("k_dedup"))
      val clsKeep = tr.filter(col("tok") =!= "")
        .withColumn("w", TextOps.hashedTokenWeight(col("tok")))
        .groupBy(col("doc_id"))
        .agg((sum(col("w")) > 0).as("k_cls"), count(lit(1)).as("n_tokens"))
      val srcNum = regexp_extract(col("source"), "(\\d+)", 1).cast("long")
      val sampled = conv(substring(md5(concat(lit("mix_"), col("doc_id"))), 1, 6), 16, 10)
        .cast("long") * 100 < (lit(25L) + (srcNum % 16) * 5) * 16777216L
      docs.select(col("doc_id"), col("source"), sampled.as("k_mix"))
        .join(dedupKeep, Seq("doc_id"))
        .join(clsKeep, Seq("doc_id"))
        .filter(col("k_dedup") && col("k_cls") && col("k_mix"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
    }),

    // ───── x33's broadcast-bloom twin: decontamination when the benchmark
    // suite is too big to broadcast as an exact set. The bench 4-grams
    // compress to a 2^18-bit bloom (collect bounded by mBits, NOT by
    // suite size); corpus grams probe the bitmap literal — a pure
    // projection, no join on the corpus side. One-sided error: flags ⊇
    // the exact x33 flags (false positives only), and the oracle replays
    // the identical bitmap semantics, FPs included
    "x43_bloom_decontaminate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val mBits = 262144
      val bench = TextOps.shingleRows(docs.filter(col("doc_id") < 20),
        "doc_id", "text", 4).select(col("g")).distinct()
      val bm = typedLit(Dedup.bloomBitmap(bench, "g", mBits))
      val flagged = TextOps.shingleRows(docs.filter(col("doc_id") >= 20),
          "doc_id", "text", 4)
        .filter(Dedup.bloomMightContain(col("g"), bm, mBits))
        .select(col("doc_id")).distinct()
      docs.filter(col("doc_id") >= 20).select(col("doc_id"))
        .join(flagged.withColumn("c", lit(true)), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("c"), lit(false)).as("contaminated_bloom"))
    }),

    // ───── count-min-sketch heavy hitters: exact corpus-wide top-20
    // tokens plus a contract bit asserting the CMS estimate landed inside
    // its guarantee band (est ≥ exact always — counters only over-count;
    // est ≤ exact + 2ε·N with ε = 0.001 at confidence 0.99 — asserted at
    // DOUBLE the eps bound, so the contract holds with huge margin). The
    // sketch is one partial-aggregated pass (counter-array merge is
    // commutative → partition-order independent), the probe set is the
    // bounded top-k list, and the sketch itself is ~100 KB however large
    // the corpus — the form that still runs when exact per-token counts
    // don't fit anywhere. Completes the sketch family: HLL (x31), GK
    // (x28/x29), bloom (x43), CMS (here).
    "x44_heavy_hitters" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val tr = TextOps.tokenRows(docs, "doc_id", "text")
        .filter(col("tok") =!= "").cacheRegistered
      val top = tr.groupBy(col("tok")).agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("tok")).limit(20)
      val sketchBytes = tr
        .select(expr(
          "count_min_sketch(tok, CAST(0.001 AS DOUBLE), CAST(0.99 AS DOUBLE), 42)"))
        .collect()(0).getAs[Array[Byte]](0)
      val cms = org.apache.spark.util.sketch.CountMinSketch
        .readFrom(new java.io.ByteArrayInputStream(sketchBytes))
      val band = (0.002 * cms.totalCount()).toLong
      val rows = top.collect().map { r =>
        val tok = r.getString(0)
        val n = r.getLong(1)
        val est = cms.estimateCount(tok)
        org.apache.spark.sql.Row(tok, n, est >= n && est <= n + band)
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("tok",
          org.apache.spark.sql.types.StringType, nullable = true),
        org.apache.spark.sql.types.StructField("n_exact",
          org.apache.spark.sql.types.LongType, nullable = true),
        org.apache.spark.sql.types.StructField("cms_ok",
          org.apache.spark.sql.types.BooleanType, nullable = true)))
      s.createDataFrame(s.sparkContext.parallelize(rows.toIndexedSeq, 1), schema)
    }),

    // ───── DSIR-style data selection (Xie et al. '23, "Data Selection
    // for LMs via Importance Resampling"): per-doc importance weight =
    // Σ over token occurrences of log p_target(bucket) − log p_raw
    // (bucket), hashed-token buckets (md5 → 4096), add-1 smoothing.
    // Target distribution = the benchmark suite (doc_id < 20, the
    // x33/x43/x119 split), raw = the corpus. Differs from x40's FIXED
    // hash-derived weights: these are LEARNED from target/corpus count
    // ratios — the "make pretraining data look like the target domain"
    // selector. Determinism: per-BUCKET log-weights quantize to scaled
    // integers (micro-units) once, so every per-doc sum is integer-exact
    // and order-free; ln of identical doubles is bit-equal across
    // engines (probed), and only ≤4096 lw rows broadcast — token rows
    // shuffle once, by doc_id, post-projection at 16 bytes each
    "x120_dsir_weights" -> ((s, d) =>
      dsirScores(s, d).select(col("doc_id"), col("n_feats"),
        col("dsir_score_micro"), (col("dsir_score_micro") > 0L).as("selected"))),

    // ───── the curation FUNNEL — x174's dress-rehearsal pattern applied
    // to the curation side: quality (x09's score at a strict 0.8 bar) →
    // near-dup (x27's LSH clusters, survivor = cluster min) →
    // decontamination (x33's exact benchmark 4-gram overlap) → DSIR
    // selection (x120's scores at the corpus-mean bar, compared by
    // integer cross-multiply — no division) composed over ONE pool
    // (doc_id ≥ 20, non-null text), each stage the standalone operator's
    // exact rule via the shared builders. Every pool doc gets ONE
    // disposition = the FIRST stage it fails (the funnel attribution a
    // curation team reports); the per-doc row carries all four stage
    // verdicts so the oracle cross-locks every interface independently.
    // Scale shape: the stages keep their own shapes (banded LSH
    // candidates, broadcast gram semi-join, bucket-count literal fold);
    // the funnel itself adds only doc-keyed left joins and one broadcast
    // scalar
    "x175_curation_funnel" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pool = docs.filter(col("doc_id").isNotNull
        && col("text").isNotNull && col("doc_id") >= 20)
      // near-dup over the FULL corpus (x27's exact frame): a pool doc
      // that duplicates a benchmark doc is attributed to 'near_dup'
      // (dedup runs before decontamination in this funnel's order)
      val dup = Dedup.lshDedupClusters(docs, "doc_id", "text",
          shingleK = 2, numHashes = 12, rowsPerBand = 3,
          candTau = 0.25, jaccardTau = 0.2)
        .filter(col("cluster") =!= col("id"))
        .select(col("id").as("doc_id")).withColumn("__dup", lit(true))
      val bench = TextOps.shingleRows(docs.filter(col("doc_id") < 20),
        "doc_id", "text", 4).select(col("g")).distinct()
      val contam = TextOps.shingleRows(pool, "doc_id", "text", 4)
        .join(broadcast(bench), Seq("g"), "left_semi")
        .select(col("doc_id")).distinct().withColumn("__ct", lit(true))
      val scores = dsirScores(s, d)
        .select(col("doc_id"), col("dsir_score_micro"))
      val tot = scores.agg(sum(col("dsir_score_micro")).as("__s"),
        count(lit(1)).as("__n"))
      val qm = floor(TextOps.qualityScore(col("text"))
        * expr("CAST(1000000.0 AS DOUBLE)"))
      pool.select(col("doc_id"), col("source"), qm.as("qm"))
        .join(dup, Seq("doc_id"), "left")
        .join(contam, Seq("doc_id"), "left")
        .join(scores, Seq("doc_id"), "left")
        .crossJoin(broadcast(tot))
        .select(col("doc_id"), col("source"), col("qm"),
          (col("qm") >= 800000L).as("q_keep"),
          coalesce(col("__dup"), lit(false)).as("is_dup"),
          coalesce(col("__ct"), lit(false)).as("contaminated"),
          coalesce(col("dsir_score_micro") * col("__n") >= col("__s"),
            lit(false)).as("selected"))
        .withColumn("disposition",
          when(!col("q_keep"), "low_quality")
            .when(col("is_dup"), "near_dup")
            .when(col("contaminated"), "contaminated")
            .when(!col("selected"), "not_selected")
            .otherwise("kept"))
    }),

    // ───── margin-based bitext mining (Artetxe & Schwenk '19 §3.2, the
    // CCMatrix/NLLB parallel-corpus miner): for every source-language
    // document, the best target-language neighbor by cosine, scored by
    // the DISTANCE margin — cos(x,y) − (mean of x's k-NN cosines into
    // the target side + mean of y's k-NN cosines from the source side)/2
    // — which calibrates away hubness (a pair is mined only if it beats
    // BOTH endpoints' neighborhoods, not an absolute threshold). The
    // difference form (×2 to stay integer) is the variant that stays
    // exact and sign-safe where the ratio margin divides by a possibly
    // non-positive mean. Cosines quantize to micro-units ONCE (x120's
    // discipline) so k-NN means and margins are integer arithmetic;
    // k-NN means use floor-of-double division (exact-int doubles — the
    // engine-portable floor bridge). This is the quadratic per-language-
    // pair BASELINE (one broadcast of the smaller side, the x05
    // convention); the scale path composes the same margin over
    // ivfTopK/bucketedTopK candidate lists exactly as x52 reranks
    "x176_bitext_margin" -> ((s, d) => {
      val e = t(s, d, "embeddings")
        .join(t(s, d, "documents").select(col("doc_id"), col("lang")),
          col("vec_id") === col("doc_id"))
        .select(col("vec_id"), col("lang"), col("embedding").as("v"))
      val src = e.filter(col("lang") === "en")
        .select(col("vec_id").as("sid"), col("v").as("sv"))
        .withColumn("__sn", sqrt(Similarity.dot(col("sv"), col("sv"))))
      val tgt = e.filter(col("lang") === "de")
        .select(col("vec_id").as("tid"), col("v").as("tv"))
        .withColumn("__tn", sqrt(Similarity.dot(col("tv"), col("tv"))))
      // pair frame computed once: three consumers (two k-NN means, best)
      val pairs = src.join(broadcast(tgt), col("sid") =!= col("tid"))
        .select(col("sid"), col("tid"),
          floor(Similarity.dot(col("sv"), col("tv"))
            / (col("__sn") * col("__tn")) * lit(1000000.0)).as("cm"))
        .cacheRegistered
      val wS = org.apache.spark.sql.expressions.Window
        .partitionBy(col("sid")).orderBy(col("cm").desc, col("tid").asc)
      val wT = org.apache.spark.sql.expressions.Window
        .partitionBy(col("tid")).orderBy(col("cm").desc, col("sid").asc)
      val mx = pairs.withColumn("r", row_number().over(wS))
        .filter(col("r") <= 4).groupBy(col("sid"))
        .agg(floor(sum(col("cm")).cast("double") / count(lit(1)))
          .cast("long").as("mx"))
      val my = pairs.withColumn("r", row_number().over(wT))
        .filter(col("r") <= 4).groupBy(col("tid"))
        .agg(floor(sum(col("cm")).cast("double") / count(lit(1)))
          .cast("long").as("my"))
      pairs.withColumn("r", row_number().over(wS)).filter(col("r") === 1)
        .join(mx, Seq("sid")).join(my, Seq("tid"))
        .select(col("sid").as("src_id"), col("tid").as("tgt_id"),
          col("cm").as("cos_micro"),
          col("mx").as("src_knn_mean_micro"),
          col("my").as("tgt_knn_mean_micro"),
          (col("cm") * 2L - (col("mx") + col("my"))).as("margin_micro"),
          (col("cm") * 2L - (col("mx") + col("my")) > 0L).as("mined"))
    }),

    // ───── margin-based bitext mining, SCALE path (the x52-style
    // composition x176's comment promises): the margin is computed over
    // IVF candidate lists (Similarity.ivfTopKLarge — per-side coarse
    // models of K = max(8, ⌊√N⌋) lowest-id vectors, 2 probes, k = 4)
    // instead of the full language-pair cross product, and the k-NN
    // means come from the candidate lists themselves — LASER/CCMatrix
    // practice (Artetxe & Schwenk '19 §3.2: "k nearest neighbours in
    // both directions"). Candidates cost Θ(N^1.5) against x176's N²;
    // recall < 1 by IVF construction (a true best pair outside every
    // probed cell is missed) — the declared trade, exactly x06-vs-x05.
    // Scores are the candidates' 4-dp cosines floored to micro units
    // (ivfTopK's output contract), margins all-integer; a best pair
    // emits only with backward coverage of its target (inner join —
    // deterministic, oracle-replayable)
    "x177_bitext_margin_ivf" -> ((s, d) => {
      val e = t(s, d, "embeddings")
        .join(t(s, d, "documents").select(col("doc_id"), col("lang")),
          col("vec_id") === col("doc_id"))
        .select(col("vec_id"), col("lang"), col("embedding"))
      val src = e.filter(col("lang") === "en")
        .select(col("vec_id").as("sid"), col("embedding").as("sv"))
      val tgt = e.filter(col("lang") === "de")
        .select(col("vec_id").as("tid"), col("embedding").as("tv"))
      // per-side coarse models (Similarity.coarseModel): K = max(8, ⌊√N⌋)
      // lowest-id vectors so cells keep ~√N occupancy as the corpus
      // grows; driver-pinned while K fits the model bound, unpinned
      // broadcast-join assignment above it (the documented scale
      // contract lives on coarseModel). BOTH side counts come from one
      // groupBy action instead of two per-side count() jobs.
      val sideN = e.groupBy(col("lang")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      def centOf(side: DataFrame, n: Long, id: String, v: String) =
        Similarity.coarseModel(side, n, id, v)
      val micro = (c: org.apache.spark.sql.Column) =>
        floor(c * lit(1000000.0)).cast("long")
      val fwd = Similarity.ivfTopKLarge(tgt, "tid", "tv", src, "sid", "sv",
          centOf(tgt, sideN.getOrElse("de", 0L), "tid", "tv"),
          "cid", "cvec", k = 4, probes = 2)
        .select(col("query_id").as("sid"), col("rank"),
          col("neighbor_id").as("tid"), micro(col("cos_sim")).as("cm"))
        .cacheRegistered
      val bwd = Similarity.ivfTopKLarge(src, "sid", "sv", tgt, "tid", "tv",
          centOf(src, sideN.getOrElse("en", 0L), "sid", "sv"),
          "cid", "cvec", k = 4, probes = 2)
      val mx = fwd.groupBy(col("sid"))
        .agg(floor(sum(col("cm")).cast("double") / count(lit(1)))
          .cast("long").as("mx"))
      val my = bwd.groupBy(col("query_id"))
        .agg(floor(sum(micro(col("cos_sim"))).cast("double") / count(lit(1)))
          .cast("long").as("my"))
        .select(col("query_id").as("tid"), col("my"))
      fwd.filter(col("rank") === 1)
        .join(mx, Seq("sid")).join(my, Seq("tid"))
        .select(col("sid").as("src_id"), col("tid").as("tgt_id"),
          col("cm").as("cos_micro"),
          col("mx").as("src_knn_mean_micro"),
          col("my").as("tgt_knn_mean_micro"),
          (col("cm") * 2L - (col("mx") + col("my"))).as("margin_micro"),
          (col("cm") * 2L - (col("mx") + col("my")) > 0L).as("mined"))
    }),

    // ───── exact substring dedup with REMOVAL (Lee et al. 2022,
    // arXiv:2107.06499 §4, re-expressed at chunk granularity): the global
    // first occurrence of every 4-token chunk survives (first = lowest
    // (doc_id, chunk_idx) — deterministic), later copies are dropped, and
    // each document is reassembled from its surviving chunks. x38 only
    // MEASURES duplication; this one rewrites the text. The window
    // partitions on md5(chunk) so only 32-char keys + chunk text shuffle
    // once; per-doc reassembly state is bounded by document length (you
    // cannot rebuild a document without holding its chunks)
    "x45_chunk_scrub" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val ch = TextOps.chunkTextRows(docs, "doc_id", "text", 4)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(md5(col("chunk")))
        .orderBy(col("doc_id"), col("chunk_idx"))
      val kept = ch.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
      val rebuilt = kept.groupBy(col("doc_id"))
        .agg(array_join(
          transform(array_sort(collect_list(struct(col("chunk_idx"), col("chunk")))),
            c => c.getField("chunk")), " ").as("cleaned"),
          count(lit(1)).as("n_kept"))
      docs.select(col("doc_id")).join(rebuilt, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cleaned"), lit("")).as("cleaned"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"))
    }),

    // ───── quantized ANN (the memory half of product quantization): int8
    // scalar codes from a per-dim (min,max) calibration pass, then top-5
    // neighbors by INTEGER dot product in code space. Codes are 4× smaller
    // than float32 and the ranking surface is pure integers — no float
    // rounding anywhere, so the oracle replays it exactly. The dot runs
    // through the codegen `vecDot` on float-cast codes (0..255 and
    // 64-dim products are exact in double; cast back to long loses
    // nothing)
    "x46_quantized_ann" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid"))
        .orderBy(col("idot").desc, col("vec_id"))
      quantizedDots(s, d)
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
    }),

    // ───── vocabulary-coverage filter: top-20 corpus tokens by frequency
    // (ties broken by token) form the vocabulary; a document's coverage is
    // the fraction of its tokens inside it. The OOV-rate quality rule:
    // low coverage ⇒ junk/foreign/encoding-garbage. Vocab is data-derived
    // and bounded (20 rows) → broadcast; the corpus side is one
    // tokenization + one aggregation
    "x47_vocab_coverage" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // cache: token rows feed the vocab ranking AND the per-doc coverage
      // aggregation (caller-managed lifecycle, as elsewhere)
      val tr = TextOps.tokenRows(docs, "doc_id", "text")
        .filter(col("tok") =!= "").cacheRegistered
      val vocab = tr.groupBy(col("tok")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok")).limit(20)
        .select(col("tok"), lit(true).as("__v"))
      val agg = tr.join(broadcast(vocab), Seq("tok"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("__v"), 1L).otherwise(0L)).as("n_in_vocab"))
      docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
          coalesce(col("n_in_vocab"), lit(0L)).as("n_in_vocab"))
        .withColumn("coverage",
          when(col("n_tokens") === 0, lit(null).cast("double"))
            .otherwise(col("n_in_vocab").cast("double") / col("n_tokens")))
        .withColumn("keep", coalesce(col("coverage") >= 0.7, lit(false)))
    }),

    // ───── ANN recall evaluation: recall@10 of the IVF index (x15's
    // operator: 16 data-derived centroids, 2 probes) against brute-force
    // ground truth, per query. The eval harness every approximate index
    // needs before it replaces an exact scan — and because the IVF path is
    // fully deterministic, the oracle recomputes BOTH sides and the recall
    // matches exactly, not just within a band
    "x48_ann_recall" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val qs = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val cent = emb.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val approx = Similarity.ivfTopK(emb, "vec_id", "embedding",
        qs, "qid", "qvec", cent, "cid", "cvec", k = 10, probes = 2)
        .select(col("query_id").as("qid"), col("neighbor_id").as("nid"),
          lit(true).as("__hit"))
      val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        qs, "qid", "qvec", k = 10)
        .select(col("query_id").as("qid"), col("neighbor_id").as("nid"))
      exact.join(approx, Seq("qid", "nid"), "left")
        .groupBy(col("qid"))
        .agg(sum(when(col("__hit"), 1L).otherwise(0L)).as("n_hit"))
        .select(col("qid"), col("n_hit"),
          (col("n_hit").cast("double") / 10).as("recall"),
          (col("n_hit") >= 3).as("recall_ok"))
    }),

    // ───── incremental batch-vs-corpus dedup: the continuous-ingest shape
    // of x27. The "new batch" (doc_id ≡ 0 mod 5 — scale-invariant split)
    // is checked against the standing corpus (everything else) WITHOUT a
    // corpus self-join: exact duplicates via a fingerprint lookup, near
    // duplicates via LSH band probes of the corpus signature index
    // (Dedup.lshPairsBetween) verified by exact Jaccard on candidates
    // only. At scale the corpus signatures/bands are precomputed
    // append-only state — per-batch cost is |batch| band probes, not a
    // corpus scan. One shingle frame feeds signatures AND verification
    // (single tokenization; caller-managed cache lifecycle, as elsewhere)
    "x49_incremental_dedup" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val isNew = col("doc_id") % 5 === 0
      val fpAll = docs.select(col("doc_id"),
        graft.text.TextOps.fingerprint(col("text")).as("fp"))
      val fpCorpus = fpAll.filter(!isNew).select(col("fp")).distinct()
        .withColumn("__e", lit(true))
      val exact = fpAll.filter(isNew)
        .join(broadcast(fpCorpus), Seq("fp"), "left")
        .select(col("doc_id"), coalesce(col("__e"), lit(false)).as("exact_dup"))
      val sh = TextOps.shingleRows(docs, "doc_id", "text", 2).cacheRegistered
      val signed = Dedup.signatureOfShingles(sh, "doc_id", 12).cacheRegistered
      val cands = Dedup.lshPairsBetween(
        signed.filter(isNew), signed.filter(!isNew),
        "doc_id", numHashes = 12, rowsPerBand = 3, tau = 0.25)
        .select(col("id_a"), col("id_b"))
      val near = Dedup.jaccardForShingles(sh, "doc_id", cands)
        .filter(col("jaccard") >= 0.2)
        .select(col("id_a").as("doc_id")).distinct()
        .withColumn("__n", lit(true))
      exact.join(near, Seq("doc_id"), "left")
        .select(col("doc_id"), col("exact_dup"),
          coalesce(col("__n"), lit(false)).as("near_dup"))
        .withColumn("accept", !col("exact_dup") && !col("near_dup"))
    }),

    // ───── asymmetric containment (partial-dup / quote detection): the
    // relation Jaccard-dedup misses — a document mostly CONTAINED in
    // another (C(A→B) = |A∩B|/|A| ≥ 0.8) scores low Jaccard when sizes
    // differ. Inverted-index join with the containment length filter
    // pruning inside the join condition (output-identical — a pruned pair
    // cannot reach the threshold)
    "x50_containment" -> ((s, d) =>
      Dedup.containmentPairs(t(s, d, "documents"), "doc_id", "text",
        k = 3, minContainment = 0.8)),

    // ───── two-stage retrieval: int8 code-space shortlist (top-20 by
    // integer dot — the cheap scan over 4×-smaller vectors) re-ranked by
    // full-precision cosine to top-5. THE production ANN architecture:
    // stage 1 reads only quantized codes (exact integer ranking, x46's
    // operator), stage 2 touches float vectors for the 20-row shortlist
    // only. Fully deterministic both stages → exact value oracle
    "x52_ann_rerank" -> ((s, d) => {
      val w1 = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("idot").desc, col("vec_id"))
      val shortIds = quantizedDots(s, d)
        .withColumn("__r1", row_number().over(w1))
        .filter(col("__r1") <= 20)
        .select(col("qid"), col("vec_id"))
      // float vectors enter the plan HERE, joined to the ≤20-per-query
      // shortlist ids only — stage 1's ranking window shuffled nothing
      // but (qid, vec_id, idot)
      val vecs = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
        .withColumn("__n", sqrt(Similarity.dot(col("embedding"), col("embedding"))))
      val qv = vecs.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
          col("__n").as("__qn"))
      val w2 = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
      shortIds
        .join(vecs, Seq("vec_id"))
        .join(broadcast(qv), Seq("qid"))
        .withColumn("cos",
          Similarity.dot(col("qvec"), col("embedding")) / (col("__qn") * col("__n")))
        .withColumn("rank", row_number().over(w2).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("qid"), col("rank"), col("vec_id").as("neighbor_id"),
          round(col("cos"), 4).as("cos_sim"))
    }),

    // ───── BPE merge-rule selection (the inner step of tokenizer
    // training, at word granularity): count ADJACENT token pairs by
    // occurrence — order-sensitive, occurrences not distinct docs, which
    // is what separates it from x37's shingle doc-frequency — and emit
    // the top-20 merge candidates. One window pass over token rows (lead
    // per doc), then partial-combine counting
    "x53_bpe_merge_step" -> ((s, d) =>
      adjacentPairRows(t(s, d, "documents"))
        .groupBy(col("pr")).agg(count(lit(1)).as("n_occ"))
        .orderBy(col("n_occ").desc, col("pr")).limit(20)),

    // ───── bigram-familiarity filter (the integer-exact stand-in for the
    // CCNet/Wikipedia-LM perplexity filter): a document's familiarity is
    // the mean corpus-wide occurrence count of its adjacent bigrams; keep
    // docs at or above the corpus-mean familiarity. All internals are
    // long counts — the only doubles are two final divisions computed
    // identically in both engines, and the keep threshold is data-derived
    // (corpus mean), so the split stays meaningful at every scale. The
    // global scalar is a whole-table aggregate (one pre-aggregated row
    // per partition reaches the single partition — the q23 shape)
    "x54_bigram_familiarity" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // cache: the pair frame feeds the count table, the per-doc join AND
      // the global scalar (caller-managed lifecycle, as elsewhere)
      val pairs = adjacentPairRows(docs).cacheRegistered
      val cnt = pairs.groupBy(col("pr")).agg(count(lit(1)).as("n"))
      // the count table is bigram-vocabulary-sized — gate-broadcast it so
      // the occurrence-sized pair frame keeps its doc partitioning and
      // the per-doc aggregate below adds no exchange (r13; estimate-gated
      // fallback to the shuffle join at vocabulary scale)
      val supported = pairs.join(
        graft.ops.Relational.gatedBroadcast(cnt), Seq("pr"))
      // the global mean DERIVES from the per-doc aggregate (gsum = Σ
      // support, gcnt = Σ n_bigrams), so aggregate the pair join ONCE
      // and materialize it eagerly before the plan fans out into the
      // broadcast subquery + the main join — concurrent first readers
      // would otherwise re-run the whole chain per consumer (the x144
      // AQE-cache race, SCALE.md r12). perDoc is doc-sized, not
      // pair-sized, so the pinned cache is the small frame
      val perDoc = supported.groupBy(col("doc_id"))
        .agg(sum(col("n")).as("support"), count(lit(1)).as("n_bigrams"))
        .cacheRegistered
      perDoc.count(): Unit
      val global = perDoc.agg(sum(col("support")).as("gsum"),
        sum(col("n_bigrams")).as("gcnt"))
      docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
        .crossJoin(broadcast(global))
        .select(col("doc_id"),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
          (col("support").cast("double") / col("n_bigrams")).as("familiarity"),
          coalesce(col("support").cast("double") / col("n_bigrams") >=
            col("gsum").cast("double") / col("gcnt"), lit(false)).as("keep"))
    }),

    // ───── snapshot diff (the CDC/merge primitive): full-outer join of
    // two corpus snapshots on the natural key, status from fingerprint
    // comparison — added / removed / modified / unchanged. This is the
    // change-detection step that turns full-refresh sources into
    // incremental upserts+deletes (the reference re-downloads whole
    // sheets; a diff against the prior bronze snapshot is what bounds the
    // load to actual changes). Snapshots simulated deterministically:
    // the prior snapshot lacks doc_id ≡ 0 mod 7 and carried an older text
    // revision for doc_id ≡ 0 mod 3; the current one drops doc_id ≡ 5
    // mod 11. Shuffle profile: one join on the key; fingerprints (32-char
    // md5) shuffle, bodies never do
    "x51_snapshot_diff" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // presence markers, NOT fingerprint nullity, decide added/removed:
      // a null-text row (fingerprint null) present in both snapshots must
      // compare fingerprints (null === null → falls through to
      // 'modified', matching the oracle's ofp = nfp), never read as absent
      val oldSnap = docs.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"), TextOps.fingerprint(
          when(col("doc_id") % 3 === 0, concat(col("text"), lit(" legacy")))
            .otherwise(col("text"))).as("old_fp"),
          lit(true).as("__in_old"))
      val newSnap = docs.filter(col("doc_id") % 11 =!= 5)
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("new_fp"),
          lit(true).as("__in_new"))
      oldSnap.join(newSnap, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          when(col("__in_old").isNull, lit("added"))
            .when(col("__in_new").isNull, lit("removed"))
            .when(col("old_fp") === col("new_fp"), lit("unchanged"))
            .otherwise(lit("modified")).as("status"))
    }),

    // ───── context-window chunking: overlapping training windows (size 32
    // tokens, stride 24) per doc — the (doc, window, token-range) contract
    // a tokenize-and-pack stage emits. Pure per-row arithmetic: no token
    // explosion, no shuffle beyond the scan
    "x41_train_windows" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"), TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
        .select(col("doc_id"), col("n_tokens"),
          explode(sequence(lit(0L),
            floor((col("n_tokens") - 1) / lit(24)).cast("long"))).as("win_idx"))
        .select(col("doc_id"), col("win_idx"),
          (col("win_idx") * 24).as("tok_start"),
          least(col("win_idx") * 24 + 32, col("n_tokens")).as("tok_end"))
    }),

    // ───── per-source cap: keep the k best documents per domain, as a
    // bounded-state typed Aggregator (ops.TopK) instead of a window sort.
    // The window form shuffles and sorts EVERY row of every group; the
    // aggregator ships ≤ k rows per (task, group) map-side — the shape
    // that survives a hot domain holding 10% of a 100 TB corpus. Oracle =
    // the window form (identical output by TopKSpec's equivalence law)
    "x55_topk_per_source" -> ((s, d) => {
      val top = graft.ops.TopK.topK(5)
      t(s, d, "documents")
        .filter(col("n_chars").isNotNull && col("doc_id").isNotNull)
        .groupBy(col("source"))
        .agg(top(col("n_chars").cast("long"), col("doc_id").cast("string")).as("tk"))
        .select(col("source"), posexplode(col("tk.items")))
        .select(col("source"), (col("pos") + 1).cast("long").as("rank"),
          col("col.id").as("doc_id"), col("col.score").as("score"))
    }),

    // ───── mergeable uniform sample: global bottom-k by a replayable hash
    // (same Aggregator, score = -hash). Bottom-k hash IS a uniform sample
    // that merges across partitions/batches — the distributed reservoir.
    // groupBy() with no keys still combines map-side: each task reduces
    // its partition to ≤ k rows before the single-partition final merge
    "x56_bottomk_sample" -> ((s, d) => {
      val top = graft.ops.TopK.topK(20)
      val h = conv(substring(md5(concat(lit("smp_"), col("doc_id").cast("string"))),
        1, 12), 16, 10).cast("long")
      t(s, d, "documents")
        .filter(col("doc_id").isNotNull)
        .groupBy()
        .agg(top(-h, col("doc_id").cast("string")).as("tk"))
        .select(posexplode(col("tk.items")))
        .select((col("pos") + 1).cast("long").as("rank"),
          col("col.id").as("doc_id"), (-col("col.score")).as("h"))
    }),

    // ───── temperature-scaled mixture (α = 0.5): per-language sampling
    // share ∝ √n_lang — the standard multilingual rebalancing step
    // (upsample the tail, downsample the head). The sampled surface is
    // INTEGER-exact in both engines: √ and the ×1000 scale are correctly
    // rounded IEEE ops on identical inputs (so floor is identical), the
    // share is integer division, and the keep decision is an integer
    // cross-multiply h·Σs < s_l·2^24 — no float threshold anywhere.
    // Shuffle profile: one count per language, everything else broadcast
    "x57_temperature_mixture" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .filter(col("doc_id").isNotNull && col("lang").isNotNull)
      val scaled = docs.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_l"))
        .withColumn("s_l", floor(sqrt(col("n_l").cast("double")) * 1000).cast("long"))
      val tot = scaled.agg(sum(col("s_l")).as("s_tot"))
      val h24 = conv(substring(md5(concat(lit("tmp_"), col("doc_id").cast("string"))),
        1, 6), 16, 10).cast("long")
      docs.join(broadcast(scaled), Seq("lang"))
        .crossJoin(broadcast(tot))
        .select(col("doc_id"), col("lang"), col("n_l"),
          expr("(s_l * CAST(1000000 AS BIGINT)) div s_tot").as("share_micros"),
          (h24 * col("s_tot") < col("s_l") * lit(16777216L)).as("sampled"))
    }),

    // ───── cluster-survivor redirects: the artifact a dedup pipeline
    // actually ships — for every near-dup cluster (x27's LSH → verify →
    // CC labels) keep the best document (max n_chars, min id tiebreak)
    // and emit dup → survivor redirects. argmax via max_by over a struct
    // ordering: one hash-agg per cluster, no window sort; quality joins
    // on the narrow (id, n_chars) projection, never text
    "x58_cluster_survivors" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val labels = Dedup.lshDedupClusters(docs, "doc_id", "text",
        shingleK = 2, numHashes = 12, rowsPerBand = 3,
        candTau = 0.25, jaccardTau = 0.2)
      val quality = docs.select(col("doc_id").as("id"), col("n_chars"))
      val surv = labels.join(quality, Seq("id"))
        .groupBy(col("cluster"))
        .agg(max_by(col("id"), struct(col("n_chars"), -col("id"))).as("survivor"))
      labels.join(surv, Seq("cluster"))
        .filter(col("id") =!= col("survivor"))
        .select(col("id").as("dup_id"), col("survivor"), col("cluster"))
    }),

    // ───── cube: corpus composition report over (source, lang) with all
    // subtotal levels in one pass — `cube` + `grouping_id` so each row
    // self-describes its level. One shuffle; partial aggregation applies
    // per grouping set exactly as for a flat groupBy
    "x59_cube_report" -> ((s, d) => {
      t(s, d, "documents")
        .cube(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"),
          grouping_id().as("gid"))
        .select(col("source"), col("lang"), col("n_docs"), col("n_chars"),
          col("gid").cast("long").as("gid"))
    }),

    // ───── pivot: the wide per-source language matrix (inverse of q12's
    // unpivot). Values are enumerated explicitly — at scale an open-ended
    // pivot needs a distinct-values pass first, and pinning the columns
    // keeps the schema stable under corpus drift
    "x60_pivot_matrix" -> ((s, d) => {
      // Spark lowers pivot through a two-level aggregate (PivotFirst), so
      // a (source, lang) cell with no rows is NULL — even for count.
      // Zero-fill AFTER the pivot; the coalesce is a pure projection
      val langs = Seq("en", "es", "de", "fr", "zh")
      t(s, d, "documents")
        .groupBy(col("source"))
        .pivot("lang", langs)
        .agg(count(lit(1)))
        .select(col("source") +: langs.map(l => coalesce(col(l), lit(0L)).as(l)): _*)
    }),

    // ───── sufficient statistics: per-source integer moment sums over
    // (token count, char count) — n, Σx, Σy, Σxy, Σx², Σy². Everything
    // downstream (mean, variance, covariance, Pearson r, OLS slope) is a
    // pure projection over these six numbers, so the heavy pass stays
    // integer-exact and mergeable (partial agg; combining two partitions'
    // sums IS the algorithm). Doubles never touch the hashed surface —
    // the classic way to make distributed stats bit-deterministic
    "x61_moment_stats" -> ((s, d) => {
      val x = TextOps.tokenCount(col("text")).cast("long")
      val y = col("n_chars")
      t(s, d, "documents")
        .filter(col("text").isNotNull && col("n_chars").isNotNull)
        .select(col("source"), x.as("x"), y.as("y"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sum_x"),
          sum(col("y")).as("sum_y"), sum(col("x") * col("y")).as("sum_xy"),
          sum(col("x") * col("x")).as("sum_xx"),
          sum(col("y") * col("y")).as("sum_yy"))
    }),

    // ───── Stupid-Backoff bigram LM quality score (Brants et al. '07 —
    // the KenLM-class perplexity filter, relationally): train bigram +
    // unigram counts on the corpus itself, score each doc as the sum of
    // per-position log S(w_i | w_{i-1}), S = c(w_{i-1} w_i)/c(w_{i-1})
    // when the bigram is seen, else 0.4·c(w_i)/N. Per-position log-probs
    // floor to integer MICRO-units (x120's quantize-once pattern) so the
    // per-doc sum is order-free and engine-exact; ln bit-parity across
    // engines is the x120-probed property. Distinct from x54: x54 ranks
    // by raw bigram support, this is a smoothed LM log-likelihood with
    // backoff — the form whose threshold transfers across corpus sizes
    "x127_stupid_backoff" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
      val byDoc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("pos"))
      // cache: the token frame feeds the bigram hub and the unigram
      // counts (caller-managed lifecycle, as elsewhere)
      // counts TRAIN on the corpus split (doc_id ≥ 20) and SCORE every
      // doc — benchmark docs (< 20) hit genuine unseen-bigram backoff and
      // OOV (unseen unigrams score as count ½, add-half); a self-trained
      // model would never back off (every scored bigram is its own
      // evidence)
      val tr = TextOps.tokenRows(docs, "doc_id", "text")
        .filter(col("tok") =!= "").cacheRegistered
      // hub (r15, the x76 census pattern): per-(doc, prev, cur) bigram
      // occurrence counts. The score __c is constant per DISTINCT
      // (prev, cur) — c_bi/c_prev/c_cur/n_toks don't depend on the doc —
      // so weighting by n replays the per-occurrence sum integer-exactly,
      // and both the train counts and the scored join ride ONE cached
      // window pass instead of two (the old shape ran tokenize+window
      // once per consumer; census showed the extra passes as zero-CPU
      // cache-lock stages). tr itself keeps two consumers (hub fill, uc).
      val nbg = tr.withColumn("prev", lag(col("tok"), 1).over(byDoc))
        .filter(col("prev").isNotNull)
        .select(col("doc_id"), col("prev"), col("tok").as("cur"))
        .groupBy(col("doc_id"), col("prev"), col("cur"))
        .agg(count(lit(1)).as("n")).cacheRegistered
      val train = col("doc_id") >= 20
      val uc = tr.filter(train).groupBy(col("tok")).agg(count(lit(1)).as("c_uni"))
      val bc = nbg.filter(train).groupBy(col("prev"), col("cur"))
        .agg(sum(col("n")).as("c_bi"))
      // train token total = Σ unigram counts — rides the vocabulary-sized
      // uc frame instead of a third full token pass; coalesce keeps the
      // pre-hub empty-train value (count = 0, not sum's NULL)
      val nTok = broadcast(uc.agg(
        coalesce(sum(col("c_uni")), lit(0L)).as("n_toks")))
      // count frames are vocabulary-sized (unigram/bigram types, not
      // token occurrences) — gate-broadcast them so the per-token bg
      // side keeps its doc_id partitioning through all three joins and
      // the final per-doc groupBy adds NO exchange (size-estimate gated:
      // a corpus whose bigram vocabulary outgrows the threshold falls
      // back to the shuffle join the planner picks)
      import graft.ops.Relational.gatedBroadcast
      val contrib = nbg
        .join(gatedBroadcast(bc), Seq("prev", "cur"), "left")
        .join(gatedBroadcast(
          uc.select(col("tok").as("prev"), col("c_uni").as("c_prev"))),
          Seq("prev"), "left")
        .join(gatedBroadcast(
          uc.select(col("tok").as("cur"), col("c_uni").as("c_cur"))),
          Seq("cur"), "left")
        .crossJoin(nTok)
        .withColumn("__c", expr(
          """CAST(floor(ln(CASE WHEN c_bi IS NOT NULL
             THEN CAST(c_bi AS DOUBLE) / CAST(c_prev AS DOUBLE)
             ELSE CAST(0.4 AS DOUBLE)
                  * COALESCE(CAST(c_cur AS DOUBLE), CAST(0.5 AS DOUBLE))
                  / CAST(n_toks AS DOUBLE) END)
             * CAST(1000000.0 AS DOUBLE)) AS BIGINT)"""))
      val perDoc = contrib.groupBy(col("doc_id"))
        .agg(sum(col("n")).as("n_bigrams"),
          sum(col("__c") * col("n")).as("ll_micro"))
      docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
          coalesce(col("ll_micro"), lit(0L)).as("ll_micro"),
          when(col("n_bigrams").isNotNull,
            col("ll_micro").cast("double") / col("n_bigrams").cast("double"))
            .as("mean_ll_micro"))
    }),

    // ───── per-source length Gini coefficient — the inequality
    // diagnostic for corpus balance (a source where one giant doc holds
    // 90% of the tokens behaves nothing like its doc count suggests,
    // and x146's apportionment inherits that skew). Exact rank-weighted
    // form: G = Σ(2i − n − 1)·x_(i) / (n·Σx) over the per-source sorted
    // lengths (doc_id ties) — integer numerator via one ranking window,
    // a single double division at the end. One shuffle on source
    "x149_length_gini" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("n_chars"), col("doc_id"))
      t(s, d, "documents")
        .filter(col("doc_id").isNotNull && col("n_chars").isNotNull
          && col("source").isNotNull)
        .select(col("source"), col("doc_id"), col("n_chars"))
        .withColumn("i", row_number().over(w).cast("long"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          sum((col("i") * 2 - 1) * col("n_chars")).as("rank_weighted"))
        .withColumn("gini_num",
          col("rank_weighted") - col("n_docs") * col("total_chars"))
        .select(col("source"), col("n_docs"), col("total_chars"),
          col("gini_num"),
          when(col("total_chars") === 0, lit(null).cast("double"))
            .otherwise(col("gini_num").cast("double")
              / (col("n_docs") * col("total_chars")).cast("double"))
            .as("gini"))
    }),

    // ───── token-budget apportionment (largest-remainder / Hamilton
    // method): split a 1M-token training budget across sources in
    // proportion to their token mass, EXACTLY — integer quotas
    // (w·T div W), then the leftover T − Σquota tokens go one each to
    // the largest remainders (ties to the smaller source name). The
    // follow-on step every mixture-weight design (x57) needs before a
    // sampler can consume it: Σ alloc == T exactly, no rounding drift.
    // Scalars + the ranking window run over the bounded source
    // dimension (x57's allowlisted class)
    "x146_token_apportionment" -> ((s, d) => {
      val budget = 1000000L
      val w = t(s, d, "documents")
        .filter(col("doc_id").isNotNull && col("text").isNotNull
          && col("source").isNotNull)
        .groupBy(col("source"))
        .agg(sum(TextOps.tokenCount(col("text"))).as("n_tokens"))
      val tot = w.agg(sum(col("n_tokens")).as("w_tot"))
      val base = w.crossJoin(broadcast(tot))
        .withColumn("base_alloc",
          expr(s"(n_tokens * CAST($budget AS BIGINT)) div w_tot"))
        .withColumn("remainder",
          expr(s"(n_tokens * CAST($budget AS BIGINT)) % w_tot"))
      val sumBase = base.agg(sum(col("base_alloc")).as("base_tot"))
      val rw = org.apache.spark.sql.expressions.Window
        .orderBy(col("remainder").desc, col("source"))
      base.crossJoin(broadcast(sumBase))
        .withColumn("extra",
          when(row_number().over(rw) <= lit(budget) - col("base_tot"), 1L)
            .otherwise(0L))
        .select(col("source"), col("n_tokens"), col("base_alloc"),
          col("remainder"), col("extra"),
          (col("base_alloc") + col("extra")).as("alloc"))
    }),

    // ───── deterministic bootstrap CI for mean quality: 32 resamples
    // with-replacement via per-(replicate, doc) Poisson(1) weights drawn
    // by inverse-CDF over a 32-bit md5 slice — the CDF thresholds are
    // evaluated ONCE ([[bootThresholds]]) and interpolated as literal
    // integers into both engines (x137's literal-grid trick). Quality
    // micro-floors once; each replicate's weighted mean is a ratio of
    // exact integer sums. Consumers read the replicate spread as the CI
    // (sort the 32 means); resampling itself is one ×32 projection and
    // a 32-group partial-combined aggregation — no shuffle of documents
    "x142_bootstrap_ci" -> ((s, d) => {
      val thr = bootThresholds
      val wCase = thr.zipWithIndex.foldRight(lit(6L): org.apache.spark.sql.Column) {
        case ((t, k), rest) => when(col("u") < t, k.toLong).otherwise(rest)
      }
      t(s, d, "documents")
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
        .select(col("doc_id"),
          floor(TextOps.qualityScore(col("text"))
            * expr("CAST(1000000.0 AS DOUBLE)")).as("qm"))
        .select(col("doc_id"), col("qm"),
          explode(expr("sequence(0, 31)")).as("b"))
        .withColumn("u", expr(
          """CAST(conv(substring(md5(concat(CAST(b AS STRING), ':',
             CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT)"""))
        .withColumn("w", wCase)
        .groupBy(col("b").cast("long").as("b"))
        .agg(count(when(col("w") > 0, 1)).as("n_docs_used"),
          sum(col("w")).as("sum_w"),
          sum(col("w") * col("qm")).as("sum_wq"))
        .withColumn("mean_quality",
          col("sum_wq").cast("double") / col("sum_w").cast("double")
            / expr("CAST(1000000.0 AS DOUBLE)"))
    }),

    // ───── classifier confusion matrix: x131's NB predictions against
    // the actual labels, with per-actual row totals and integer share
    // ppm — the quality report a learned curation component ships with
    "x143_nb_confusion" -> ((s, d) => {
      val pred = TextOps.nbLangId(
        t(s, d, "documents")
          .filter(col("doc_id").isNotNull && col("text").isNotNull
            && col("lang").isNotNull),
        "doc_id", "text", "lang", trainPred = col("doc_id") >= 20)
      // the distributed work ends at the lang² confusion counts — a
      // MODEL-SIZED frame (bounded collect, require-guarded). The row
      // totals and integer shares fold at the driver: the r12 shape ran
      // the window + share projection as two more AQE exchanges over a
      // ≤|langs|² frame, pure scheduling floor (r12 directive #1 census)
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      import scala.jdk.CollectionConverters._
      val cm = pred.groupBy(col("actual"), col("pred_lang"))
        .agg(count(lit(1)).as("n")).collect()
      require(cm.length <= 4096,
        s"confusion matrix is model-sized by contract: got ${cm.length} cells")
      val nActual = cm.groupBy(_.get(0)).view
        .mapValues(_.map(_.getLong(2)).sum).toMap
      val rows = cm.toSeq.map { r =>
        val na = nActual(r.get(0))
        Row(r.get(0), r.get(1), r.getLong(2), na, r.getLong(2) * 1000000L / na)
      }
      val dt = pred.schema("actual").dataType
      s.createDataFrame(rows.asJava, StructType(Seq(
        StructField("actual", dt), StructField("pred_lang", dt),
        StructField("n", LongType), StructField("n_actual", LongType),
        StructField("share_ppm", LongType))))
    }),

    // ───── model agreement: Cohen's kappa between the RULE-BASED lang-id
    // (x08) and the LEARNED NB classifier (x131) over the same docs —
    // chance-corrected agreement from exact integer marginals
    // (κ = (N·agree − Σ r_l·b_l) / (N² − Σ r_l·b_l); the degenerate
    // both-constant case yields NULL in both engines). The disagreement
    // surface is where a curation pipeline audits its classifiers
    "x144_langid_agreement" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .filter(col("doc_id").isNotNull && col("text").isNotNull
          && col("lang").isNotNull)
      val rule = TextOps.langIdDF(docs, "doc_id", "text")
      // the SPARSE NB core: rule's surface already carries the full doc
      // universe, so the NB side attaches as one broadcast-gated
      // left-join + coalesce(default) instead of paying nbLangId's own
      // docs attach-back join — both classifier probes fuse into a
      // single final stage over the shared pinned token frame
      val (nbBest, nbDefault) = TextOps.nbLangIdSparse(
        docs, "doc_id", "text", "lang", trainPred = col("doc_id") >= 20)
      val nb = nbBest.select(col("doc_id"), col("pred_lang").as("nb_pred"))
      // the distributed work ends at the lang² confusion counts; every
      // marginal the kappa needs (r_l, b_l, agree, N, pe = Σ r_l·b_l)
      // folds from that MODEL-SIZED frame at the driver in exact integer
      // arithmetic — the only double is the final kappa division, IEEE-
      // identical in both engines. The r12 shape ran the fold as a role-
      // explode + two more aggs: three extra AQE exchanges over ≤lang²
      // rows, pure scheduling floor (r12 directive #1 census). Zero-row
      // corpus keeps the one-row global-agg convention: n_docs = 0,
      // agree_ppm = NULL (0 div 0), kappa = NULL (0 = pe)
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
      import scala.jdk.CollectionConverters._
      val joined = nbDefault match {
        case Some((p, _)) => rule
          .join(graft.ops.Relational.gatedBroadcast(nb), Seq("doc_id"), "left")
          .select(col("lang_pred"),
            coalesce(col("nb_pred"), lit(p)).as("nb_pred"))
        // no trained labels: nb's surface is empty, inner-join convention
        case None => rule.join(nb, Seq("doc_id"))
          .select(col("lang_pred"), col("nb_pred"))
      }
      val cm = joined.groupBy(col("lang_pred"), col("nb_pred"))
        .agg(count(lit(1)).as("n")).collect()
      require(cm.length <= 4096,
        s"confusion matrix is model-sized by contract: got ${cm.length} cells")
      val rl = cm.groupBy(_.get(0)).view.mapValues(_.map(_.getLong(2)).sum)
      val bl = cm.groupBy(_.get(1)).view.mapValues(_.map(_.getLong(2)).sum)
      val nDocs = cm.map(_.getLong(2)).sum
      val nAgree = cm.filter(r => r.get(0) == r.get(1)).map(_.getLong(2)).sum
      val pe = rl.keys.map(l => rl(l) * bl.getOrElse(l, 0L)).sum
      val agreePpm: java.lang.Long =
        if (nDocs == 0L) null else java.lang.Long.valueOf(nAgree * 1000000L / nDocs)
      val kappa: java.lang.Double =
        if (nDocs * nDocs == pe) null
        else java.lang.Double.valueOf(
          (nDocs * nAgree - pe).toDouble / (nDocs * nDocs - pe).toDouble)
      s.createDataFrame(
        Seq(Row(nDocs, nAgree, agreePpm, pe, kappa)).asJava,
        StructType(Seq(
          StructField("n_docs", LongType),
          StructField("n_agree", LongType),
          StructField("agree_ppm", LongType),
          StructField("pe_num", LongType),
          StructField("kappa", DoubleType))))
    }),

    // ───── per-source adaptive quality floor (CCNet-style per-domain
    // selection): rank every doc INSIDE its source by the x09 quality
    // score and keep those above the source's bottom quartile — the
    // group-relative cut that a single corpus-wide threshold gets wrong
    // when sources have different quality baselines (x111 normalizes the
    // whole corpus; this selects within groups). The cut is pure integer
    // arithmetic (4·rank > n — no percentile doubles), ties broken by
    // doc_id; one shuffle on source, both windows share it
    "x136_source_quality_floor" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("quality"), col("doc_id"))
      val n = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
      t(s, d, "documents")
        .filter(col("doc_id").isNotNull && col("text").isNotNull
          && col("source").isNotNull)
        .select(col("doc_id"), col("source"),
          TextOps.qualityScore(col("text")).as("quality"))
        .withColumn("src_rank", row_number().over(w).cast("long"))
        .withColumn("n_src", count(lit(1)).over(n))
        .withColumn("kept", col("src_rank") * 4 > col("n_src"))
    }),

    // ───── multinomial Naive Bayes language classifier — the LEARNED
    // companion to x08's rule-based lang-id (fastText-class lexical
    // classification, relationally): per-(token, lang) likelihoods TRAIN
    // on the corpus split (doc_id ≥ 20, labels = documents.lang) and
    // score EVERY doc including the held-out benchmark slice. Add-1
    // smoothing over the training vocab; the per-pair log-prob, the
    // per-lang unseen-token default, and the per-lang doc prior each
    // floor to integer micro-units ONCE (x120's quantize-once
    // discipline), so every per-doc score is a pure integer sum —
    // order-free and engine-exact. Argmax ties break to the smallest
    // lang. Scale shape: the label dimension is bounded (broadcast
    // grid), (tok, lang) likelihood join is an equi-join, token rows
    // shuffle once to (doc, lang); the argmax is a min-struct partial
    // agg, not a window
    "x131_nb_langid" -> ((s, d) => {
      TextOps.nbLangId(
        t(s, d, "documents")
          .filter(col("doc_id").isNotNull && col("text").isNotNull
            && col("lang").isNotNull),
        "doc_id", "text", "lang", trainPred = col("doc_id") >= 20)
    }))

  /** DuckDB CTE chain replaying TextOps.nbLangId over `documents`
    * (train doc_id >= 20, label = lang) up to `scored(doc_id, lang,
    * cand, score_micro)` — shared by x131/x143/x144 so the classifier
    * mirror cannot desynchronize. */
  private val nbCtes: String =
    s"""d AS (SELECT doc_id, text, lang FROM documents
           WHERE doc_id IS NOT NULL AND text IS NOT NULL
             AND lang IS NOT NULL),
         tk AS (SELECT doc_id, list_filter(string_split(${normOf("text")}, ' '),
             w -> w <> '') AS t FROM d),
         uni AS (SELECT doc_id, unnest(t) AS tok FROM tk),
         trn AS (SELECT u.doc_id, u.tok, d.lang FROM uni u
           JOIN d USING (doc_id) WHERE u.doc_id >= 20),
         cwl AS (SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS c_wl
           FROM trn GROUP BY lang, tok),
         cl AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS c_l
           FROM trn GROUP BY lang),
         vn AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v_n FROM trn),
         ndl AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM d
           WHERE doc_id >= 20 GROUP BY lang),
         ndt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tot FROM d
           WHERE doc_id >= 20),
         lab AS (SELECT ndl.lang AS cand,
             CAST(floor(ln(CAST(n_docs AS DOUBLE) / CAST(n_tot AS DOUBLE))
               * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS prior_m,
             CAST(floor(ln(CAST(1.0 AS DOUBLE) / CAST(c_l + v_n AS DOUBLE))
               * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS def_m
           FROM ndl CROSS JOIN ndt JOIN cl ON ndl.lang = cl.lang
           CROSS JOIN vn),
         lw AS (SELECT c.lang AS cand, c.tok,
             CAST(floor(ln(CAST(c_wl + 1 AS DOUBLE) / CAST(c_l + v_n AS DOUBLE))
               * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS lw_m
           FROM cwl c JOIN cl ON c.lang = cl.lang CROSS JOIN vn),
         dtc AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS n_w
           FROM uni GROUP BY doc_id, tok),
         contrib AS (SELECT t.doc_id, l.cand,
             CAST(SUM(t.n_w * COALESCE(w.lw_m, l.def_m)) AS BIGINT) AS tok_m
           FROM dtc t CROSS JOIN lab l
           LEFT JOIN lw w ON w.cand = l.cand AND w.tok = t.tok
           GROUP BY t.doc_id, l.cand),
         scored AS (SELECT d.doc_id, d.lang, l.cand,
             CAST(l.prior_m + COALESCE(c.tok_m, 0) AS BIGINT) AS score_micro
           FROM d CROSS JOIN lab l
           LEFT JOIN contrib c ON c.doc_id = d.doc_id AND c.cand = l.cand)"""

  val oracle: Map[String, String] = Map(
    // x127: the pairsSql walk with positions, counts trained on doc_id ≥
    // 20, per-position micro-floored log S — literals cast to DOUBLE
    "x127_stupid_backoff" ->
      s"""WITH d AS (SELECT doc_id, text FROM documents
           WHERE doc_id IS NOT NULL AND text IS NOT NULL),
         tk AS (SELECT doc_id, list_filter(string_split(${normOf("text")}, ' '),
             w -> w <> '') AS t FROM d),
         bg AS (SELECT doc_id, t[i] AS prev, t[i+1] AS cur
           FROM tk, unnest(range(1, len(t))) r(i)),
         uni AS (SELECT doc_id, unnest(t) AS tok FROM tk),
         uc AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c_uni FROM uni
           WHERE doc_id >= 20 GROUP BY tok),
         bc AS (SELECT prev, cur, CAST(COUNT(*) AS BIGINT) AS c_bi FROM bg
           WHERE doc_id >= 20 GROUP BY prev, cur),
         nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_toks FROM uni
           WHERE doc_id >= 20),
         contrib AS (SELECT bg.doc_id,
             CAST(floor(ln(CASE WHEN bc.c_bi IS NOT NULL
               THEN CAST(bc.c_bi AS DOUBLE) / CAST(up.c_uni AS DOUBLE)
               ELSE CAST(0.4 AS DOUBLE)
                    * COALESCE(CAST(ucr.c_uni AS DOUBLE), CAST(0.5 AS DOUBLE))
                    / CAST(n_toks AS DOUBLE) END)
               * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS c
           FROM bg
           LEFT JOIN bc ON bg.prev = bc.prev AND bg.cur = bc.cur
           LEFT JOIN uc up ON bg.prev = up.tok
           LEFT JOIN uc ucr ON bg.cur = ucr.tok
           CROSS JOIN nt),
         per AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM(c) AS BIGINT) AS ll_micro
           FROM contrib GROUP BY doc_id)
         SELECT d.doc_id,
           COALESCE(per.n_bigrams, 0) AS n_bigrams,
           COALESCE(per.ll_micro, 0) AS ll_micro,
           CASE WHEN per.n_bigrams IS NOT NULL
             THEN CAST(per.ll_micro AS DOUBLE) / CAST(per.n_bigrams AS DOUBLE)
           END AS mean_ll_micro
         FROM d LEFT JOIN per USING (doc_id)""",
    // x143/x144: the shared nbCtes classifier replay; x144 adds x08's
    // rule-based chain (duplicated privately, the normOf precedent) and
    // the exact-integer kappa
    "x143_nb_confusion" ->
      s"""WITH $nbCtes,
         pred AS (SELECT doc_id, lang AS actual, cand AS pred_lang FROM
           (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
              ORDER BY score_micro DESC, cand) AS rn FROM scored)
           WHERE rn = 1),
         cm AS (SELECT actual, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
           FROM pred GROUP BY 1, 2),
         tot AS (SELECT actual, CAST(SUM(n) AS BIGINT) AS n_actual
           FROM cm GROUP BY actual)
         SELECT cm.actual, cm.pred_lang, cm.n, t.n_actual,
           (cm.n * CAST(1000000 AS BIGINT)) // t.n_actual AS share_ppm
         FROM cm JOIN tot t USING (actual)""",
    "x144_langid_agreement" -> {
      def inList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString(", ")
      val sw = TextOps.stopwords
      s"""WITH $nbCtes,
         nbp AS (SELECT doc_id, cand AS nb_pred FROM
           (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
              ORDER BY score_micro DESC, cand) AS rn FROM scored)
           WHERE rn = 1),
         rtoks AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS tk
           FROM d),
         rsc AS (SELECT d.doc_id,
             COUNT(CASE WHEN tk IN (${inList(sw("de"))}) THEN 1 END) AS s_de,
             COUNT(CASE WHEN tk IN (${inList(sw("en"))}) THEN 1 END) AS s_en,
             COUNT(CASE WHEN tk IN (${inList(sw("es"))}) THEN 1 END) AS s_es,
             COUNT(CASE WHEN tk IN (${inList(sw("fr"))}) THEN 1 END) AS s_fr
           FROM d LEFT JOIN rtoks ON d.doc_id = rtoks.doc_id
           GROUP BY d.doc_id),
         rp AS (SELECT doc_id,
             CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
                  WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
                  WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
                  WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
                  ELSE 'fr' END AS rule_pred
           FROM rsc),
         j AS (SELECT r.doc_id, r.rule_pred, n.nb_pred
           FROM rp r JOIN nbp n USING (doc_id)),
         c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN rule_pred = nb_pred THEN 1 ELSE 0 END)
               AS BIGINT) AS n_agree FROM j),
         rl AS (SELECT rule_pred AS l, CAST(COUNT(*) AS BIGINT) AS r
           FROM j GROUP BY 1),
         bl AS (SELECT nb_pred AS l, CAST(COUNT(*) AS BIGINT) AS b
           FROM j GROUP BY 1),
         pe AS (SELECT CAST(COALESCE(SUM(r * b), 0) AS BIGINT) AS pe_num
           FROM rl JOIN bl USING (l))
         SELECT c.n_docs, c.n_agree,
           (c.n_agree * CAST(1000000 AS BIGINT)) // c.n_docs AS agree_ppm,
           pe.pe_num,
           CASE WHEN c.n_docs * c.n_docs = pe.pe_num THEN NULL
                ELSE CAST(c.n_docs * c.n_agree - pe.pe_num AS DOUBLE)
                   / CAST(c.n_docs * c.n_docs - pe.pe_num AS DOUBLE) END
             AS kappa
         FROM c CROSS JOIN pe"""
    },
    // x149: the same rank-weighted integer Gini with the doc_id tiebreak
    "x149_length_gini" ->
      """WITH d AS (SELECT source, doc_id, n_chars FROM documents
           WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL
             AND source IS NOT NULL),
         rk AS (SELECT source, n_chars,
             CAST(ROW_NUMBER() OVER (PARTITION BY source
               ORDER BY n_chars, doc_id) AS BIGINT) AS i
           FROM d),
         ag AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             CAST(SUM((i * 2 - 1) * n_chars) AS BIGINT) AS rank_weighted
           FROM rk GROUP BY source)
         SELECT source, n_docs, total_chars,
           rank_weighted - n_docs * total_chars AS gini_num,
           CASE WHEN total_chars = 0 THEN NULL
                ELSE CAST(rank_weighted - n_docs * total_chars
                    AS DOUBLE)
                  / CAST(n_docs * total_chars AS DOUBLE) END AS gini
         FROM ag""",
    // x146: x10's token counts per source, integer quotas, the
    // largest-remainder window with the source tiebreak
    "x146_token_apportionment" ->
      s"""WITH w AS (SELECT source,
           CAST(SUM(len(string_split($normSql, ' '))) AS BIGINT) AS n_tokens
         FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
           AND source IS NOT NULL GROUP BY source),
         tt AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS w_tot FROM w),
         base AS (SELECT source, n_tokens,
             (n_tokens * CAST(1000000 AS BIGINT)) // w_tot AS base_alloc,
             (n_tokens * CAST(1000000 AS BIGINT)) % w_tot AS remainder
           FROM w CROSS JOIN tt),
         sb AS (SELECT CAST(SUM(base_alloc) AS BIGINT) AS base_tot FROM base)
         SELECT source, n_tokens, base_alloc, remainder, extra,
           base_alloc + extra AS alloc
         FROM (SELECT *,
             CASE WHEN ROW_NUMBER() OVER (ORDER BY remainder DESC, source)
                  <= 1000000 - base_tot
                  THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS extra
           FROM base CROSS JOIN sb)""",
    // x142: x09's quality expression, the literal Poisson thresholds,
    // the same md5-slice draw, 32-group integer sums
    "x142_bootstrap_ci" -> {
      val punct = s"CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / length(text) END"
      val digit = s"CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text) END"
      val quality = s"""least(CAST(length(text) AS DOUBLE) / 400.0, 1.0) * 0.4
             + (1.0 - least(($punct) * 5.0, 1.0)) * 0.3
             + (1.0 - least(($digit) * 5.0, 1.0)) * 0.3"""
      val wCase = bootThresholds.zipWithIndex
        .map { case (t, k) => s"WHEN u < $t THEN $k" }.mkString(" ")
      s"""WITH d AS (SELECT doc_id, text FROM documents
           WHERE doc_id IS NOT NULL AND text IS NOT NULL),
         qm AS (SELECT doc_id,
             CAST(floor(($quality) * CAST(1000000.0 AS DOUBLE)) AS BIGINT)
               AS qm
           FROM d),
         reps AS (SELECT doc_id, qm, b FROM qm, unnest(range(0, 32)) r(b)),
         uw AS (SELECT b, qm,
             CAST(('0x' || substr(md5(CAST(b AS VARCHAR) || ':'
               || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS u
           FROM reps),
         ww AS (SELECT b, qm, CASE $wCase ELSE 6 END AS w FROM uw)
         SELECT b,
           CAST(COUNT(CASE WHEN w > 0 THEN 1 END) AS BIGINT) AS n_docs_used,
           CAST(SUM(w) AS BIGINT) AS sum_w,
           CAST(SUM(w * qm) AS BIGINT) AS sum_wq,
           CAST(SUM(w * qm) AS DOUBLE) / CAST(SUM(w) AS DOUBLE)
             / CAST(1000000.0 AS DOUBLE) AS mean_quality
         FROM ww GROUP BY b"""
    },
    // x136: x09's quality expression verbatim, per-source ROW_NUMBER with
    // the doc_id tiebreak, integer quartile cut 4·rank > n
    "x136_source_quality_floor" -> {
      val punct = s"CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / length(text) END"
      val digit = s"CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text) END"
      s"""WITH q AS (SELECT doc_id, source,
           least(CAST(length(text) AS DOUBLE) / 400.0, 1.0) * 0.4
             + (1.0 - least(($punct) * 5.0, 1.0)) * 0.3
             + (1.0 - least(($digit) * 5.0, 1.0)) * 0.3 AS quality
           FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
             AND source IS NOT NULL)
         SELECT doc_id, source, quality,
           ROW_NUMBER() OVER (PARTITION BY source
             ORDER BY quality, doc_id) AS src_rank,
           COUNT(*) OVER (PARTITION BY source) AS n_src,
           (ROW_NUMBER() OVER (PARTITION BY source
              ORDER BY quality, doc_id) * 4
             > COUNT(*) OVER (PARTITION BY source)) AS kept
         FROM q"""
    },
    // x131: x127's tokenization CTEs, NB counts on doc_id ≥ 20, each
    // log-prob micro-floored once, integer score sums, smallest-lang ties
    "x131_nb_langid" ->
      s"""WITH $nbCtes
         SELECT doc_id, lang AS actual, cand AS pred_lang, score_micro,
           (cand = lang) AS correct
         FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
            ORDER BY score_micro DESC, cand) AS rn FROM scored)
         WHERE rn = 1""",
    "x36_semantic_dedup" ->
      s"""WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         cent AS (SELECT vec_id AS cid, v AS cv FROM ev WHERE vec_id < 16),
         assign AS (SELECT e.vec_id, c.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.cid) AS rn
           FROM ev e, cent c),
         cells AS (SELECT vec_id, cid AS cell FROM assign WHERE rn = 1),
         d AS (SELECT DISTINCT b.vec_id
           FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
           JOIN ev ea ON ea.vec_id = a.vec_id
           JOIN ev eb ON eb.vec_id = b.vec_id
           WHERE ${cosSql("ea.v", "eb.v")} >= 0.4)
         SELECT c.vec_id, c.cell, d.vec_id IS NOT NULL AS is_dup
         FROM cells c LEFT JOIN d ON c.vec_id = d.vec_id""",
    "x37_boilerplate_ngrams" ->
      s"""WITH toks AS (SELECT doc_id, string_split($normSql, ' ') AS tk FROM documents),
         sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
             range(1, greatest(len(tk) - 3, 0) + 2),
             i -> array_to_string(list_slice(tk, i, least(i + 2, len(tk))), '_')))) AS g
           FROM toks)
         SELECT g, COUNT(*) AS n_docs FROM sh GROUP BY g HAVING COUNT(*) >= 5""",
    "x38_chunk_dedup" ->
      s"""WITH toks AS (SELECT doc_id, string_split($normSql, ' ') AS tk FROM documents),
         ch AS (SELECT doc_id, unnest(list_transform(
             range(0, CAST(ceil(len(tk) / 4.0) AS BIGINT)),
             i -> md5(array_to_string(list_slice(tk, CAST(i * 4 + 1 AS INT),
               CAST(least((i + 1) * 4, len(tk)) AS INT)), '_')))) AS h
           FROM toks),
         f AS (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM ch GROUP BY h),
         per AS (SELECT doc_id, COUNT(*) AS n_chunks,
             CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks
           FROM ch JOIN f USING (h) GROUP BY doc_id)
         SELECT doc_id, n_chunks, n_dup_chunks,
           CAST(n_dup_chunks AS DOUBLE) / n_chunks AS dup_ratio,
           CAST(n_dup_chunks AS DOUBLE) / n_chunks < 0.5 AS keep
         FROM per""",
    "x39_mixture_sample" ->
      """SELECT doc_id, source,
           25 + (CAST(regexp_extract(source, '(\d+)', 1) AS BIGINT) % 16) * 5
             AS rate_pct,
           CAST(('0x' || substr(md5('mix_' || doc_id), 1, 6)) AS BIGINT) * 100
             < (25 + (CAST(regexp_extract(source, '(\d+)', 1) AS BIGINT) % 16) * 5)
               * 16777216 AS sampled
         FROM documents""",
    "x40_quality_classifier" ->
      s"""WITH toks AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS tok
           FROM documents),
         w AS (SELECT doc_id,
             CAST(('0x' || substr(md5('w' ||
               (CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 64)), 1, 8))
               AS BIGINT) % 1001 - 500 AS wt
           FROM toks WHERE tok <> ''),
         agg AS (SELECT doc_id, CAST(SUM(wt) AS BIGINT) AS sw,
             COUNT(*) AS n FROM w GROUP BY doc_id)
         SELECT d.doc_id, COALESCE(agg.n, 0) AS n_tokens,
           CAST(sw AS DOUBLE) / 500.0 / n AS score,
           COALESCE(sw > 0, FALSE) AS keep
         FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id""",
    "x44_heavy_hitters" ->
      s"""WITH toks AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS tok
           FROM documents)
         SELECT tok, COUNT(*) AS n_exact, TRUE AS cms_ok
         FROM toks WHERE tok <> ''
         GROUP BY tok ORDER BY n_exact DESC, tok LIMIT 20""",
    // x120: per-bucket log-weights quantized to micro-units BEFORE the
    // per-doc sum (integer-exact, order-free); ln args are identical
    // doubles in both engines
    "x120_dsir_weights" ->
      s"""WITH btk AS (SELECT unnest(string_split($normSql, ' ')) AS tok
           FROM documents WHERE doc_id < 20),
         bt AS (SELECT CAST(('0x' || substr(md5(tok), 1, 3)) AS BIGINT) AS bucket
           FROM btk WHERE tok <> ''),
         ct AS (SELECT bucket, COUNT(*) AS c FROM bt GROUP BY bucket),
         nt AS (SELECT COUNT(*) AS n FROM bt),
         stk AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS tok
           FROM documents WHERE doc_id >= 20),
         st AS (SELECT doc_id,
             CAST(('0x' || substr(md5(tok), 1, 3)) AS BIGINT) AS bucket
           FROM stk WHERE tok <> ''),
         cc AS (SELECT bucket, COUNT(*) AS c FROM st GROUP BY bucket),
         nc AS (SELECT COUNT(*) AS n FROM st),
         lw AS (SELECT cc.bucket,
             CAST(round((ln((COALESCE(ct.c, 0) + 1.0) / (nt.n + 4096.0))
                       - ln((cc.c + 1.0) / (nc.n + 4096.0))) * 1000000)
               AS BIGINT) AS lwm
           FROM cc LEFT JOIN ct USING (bucket), nt, nc)
         SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
           CAST(SUM(l.lwm) AS BIGINT) AS dsir_score_micro,
           CAST(SUM(l.lwm) AS BIGINT) > 0 AS selected
         FROM st s JOIN lw l USING (bucket)
         GROUP BY s.doc_id""",
    // x176: the pair matrix, both ranked k-NN means and the best-match
    // margin replayed with the same micro-quantized arithmetic
    "x176_bitext_margin" ->
      s"""WITH e AS (SELECT d.doc_id AS id, d.lang,
             CAST(em.embedding AS DOUBLE[]) AS v
           FROM documents d JOIN embeddings em ON em.vec_id = d.doc_id),
         p AS (SELECT s.id AS sid, t.id AS tid,
             CAST(floor((${cosSql("s.v", "t.v")}) * 1000000.0) AS BIGINT)
               AS cm
           FROM e s, e t
           WHERE s.lang = 'en' AND t.lang = 'de' AND s.id <> t.id),
         rs AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY sid
             ORDER BY cm DESC, tid) AS r FROM p),
         mx AS (SELECT sid,
             CAST(floor(CAST(SUM(cm) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mx
           FROM rs WHERE r <= 4 GROUP BY sid),
         rt AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY tid
             ORDER BY cm DESC, sid) AS r FROM p),
         my AS (SELECT tid,
             CAST(floor(CAST(SUM(cm) AS DOUBLE) / COUNT(*)) AS BIGINT) AS my
           FROM rt WHERE r <= 4 GROUP BY tid),
         best AS (SELECT sid, tid, cm FROM rs WHERE r = 1)
         SELECT b.sid AS src_id, b.tid AS tgt_id, b.cm AS cos_micro,
           mx.mx AS src_knn_mean_micro, my.my AS tgt_knn_mean_micro,
           b.cm * 2 - (mx.mx + my.my) AS margin_micro,
           b.cm * 2 - (mx.mx + my.my) > 0 AS mined
         FROM best b JOIN mx USING (sid) JOIN my USING (tid)""",
    // x177: both directions' IVF candidate lists (x15's assignment/probe
    // replay, per-side √N-sized lowest-id coarse models), then the same
    // margin algebra as x176 over the list cosines
    "x177_bitext_margin_ivf" ->
      s"""WITH e AS (SELECT d.doc_id AS id, d.lang,
             CAST(em.embedding AS DOUBLE[]) AS v
           FROM documents d JOIN embeddings em ON em.vec_id = d.doc_id),
         s AS (SELECT id, v FROM e WHERE lang = 'en'),
         tg AS (SELECT id, v FROM e WHERE lang = 'de'),
         cent_t AS (SELECT id AS cid, v AS cv FROM
             (SELECT *, ROW_NUMBER() OVER (ORDER BY id) AS rn FROM tg)
           WHERE rn <= (SELECT greatest(8,
             CAST(floor(sqrt(COUNT(*))) AS BIGINT)) FROM tg)),
         cent_s AS (SELECT id AS cid, v AS cv FROM
             (SELECT *, ROW_NUMBER() OVER (ORDER BY id) AS rn FROM s)
           WHERE rn <= (SELECT greatest(8,
             CAST(floor(sqrt(COUNT(*))) AS BIGINT)) FROM s)),
         a_t AS (SELECT x.id, c.cid, ROW_NUMBER() OVER (PARTITION BY x.id
             ORDER BY ${cosSql("x.v", "c.cv")} DESC, c.cid) AS rn
           FROM tg x, cent_t c),
         cl_t AS (SELECT id, cid AS cell FROM a_t WHERE rn = 1),
         a_s AS (SELECT x.id, c.cid, ROW_NUMBER() OVER (PARTITION BY x.id
             ORDER BY ${cosSql("x.v", "c.cv")} DESC, c.cid) AS rn
           FROM s x, cent_s c),
         cl_s AS (SELECT id, cid AS cell FROM a_s WHERE rn = 1),
         pq_f AS (SELECT x.id, c.cid, ROW_NUMBER() OVER (PARTITION BY x.id
             ORDER BY ${cosSql("x.v", "c.cv")} DESC, c.cid) AS rn
           FROM s x, cent_t c),
         pq_b AS (SELECT x.id, c.cid, ROW_NUMBER() OVER (PARTITION BY x.id
             ORDER BY ${cosSql("x.v", "c.cv")} DESC, c.cid) AS rn
           FROM tg x, cent_s c),
         fw AS (SELECT sid, tid, cm, rank FROM
             (SELECT q.id AS sid, ce.id AS tid,
               CAST(floor(round(${cosSql("q.v", "c.v")}, 4) * 1000000.0)
                 AS BIGINT) AS cm,
               ROW_NUMBER() OVER (PARTITION BY q.id
                 ORDER BY ${cosSql("q.v", "c.v")} DESC, ce.id) AS rank
             FROM (SELECT id, cid FROM pq_f WHERE rn <= 2) pr
             JOIN s q ON q.id = pr.id
             JOIN cl_t ce ON ce.cell = pr.cid AND ce.id <> pr.id
             JOIN tg c ON c.id = ce.id)
           WHERE rank <= 4),
         bw AS (SELECT tid, cm, rank FROM
             (SELECT q.id AS tid,
               CAST(floor(round(${cosSql("q.v", "c.v")}, 4) * 1000000.0)
                 AS BIGINT) AS cm,
               ROW_NUMBER() OVER (PARTITION BY q.id
                 ORDER BY ${cosSql("q.v", "c.v")} DESC, ce.id) AS rank
             FROM (SELECT id, cid FROM pq_b WHERE rn <= 2) pr
             JOIN tg q ON q.id = pr.id
             JOIN cl_s ce ON ce.cell = pr.cid AND ce.id <> pr.id
             JOIN s c ON c.id = ce.id)
           WHERE rank <= 4),
         mx AS (SELECT sid,
             CAST(floor(CAST(SUM(cm) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mx
           FROM fw GROUP BY sid),
         my AS (SELECT tid,
             CAST(floor(CAST(SUM(cm) AS DOUBLE) / COUNT(*)) AS BIGINT) AS my
           FROM bw GROUP BY tid),
         best AS (SELECT sid, tid, cm FROM fw WHERE rank = 1)
         SELECT b.sid AS src_id, b.tid AS tgt_id, b.cm AS cos_micro,
           mx.mx AS src_knn_mean_micro, my.my AS tgt_knn_mean_micro,
           b.cm * 2 - (mx.mx + my.my) AS margin_micro,
           b.cm * 2 - (mx.mx + my.my) > 0 AS mined
         FROM best b JOIN mx USING (sid) JOIN my USING (tid)""",
    // x175: every stage recomputed independently — the x27 LSH cluster
    // chain, x09's quality expression, x33's 4-gram overlap, x120's
    // bucket log-weights — then the first-failing-stage CASE
    "x175_curation_funnel" ->
      s"""WITH RECURSIVE ${ExtensionQueries.lshClusterCtes},
         pool AS (SELECT doc_id, source, text FROM documents
           WHERE doc_id IS NOT NULL AND text IS NOT NULL AND doc_id >= 20),
         qv AS (SELECT doc_id, source,
             CAST(floor((${TrainingQueries.qualitySql})
               * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS qm
           FROM pool),
         dupids AS (SELECT id AS doc_id FROM labels WHERE cluster <> id),
         ctk AS (SELECT doc_id, string_split($normSql, ' ') AS tk
           FROM documents),
         csh AS (SELECT doc_id, unnest(list_distinct(list_transform(
             range(1, greatest(len(tk) - 4, 0) + 2),
             i -> array_to_string(list_slice(tk, i, least(i + 3, len(tk))), '_'))))
             AS g
           FROM ctk),
         flag AS (SELECT DISTINCT doc_id FROM csh
           WHERE doc_id >= 20
             AND g IN (SELECT DISTINCT g FROM csh WHERE doc_id < 20)),
         btk AS (SELECT unnest(string_split($normSql, ' ')) AS tok
           FROM documents WHERE doc_id < 20),
         bt AS (SELECT CAST(('0x' || substr(md5(tok), 1, 3)) AS BIGINT) AS bucket
           FROM btk WHERE tok <> ''),
         ct AS (SELECT bucket, COUNT(*) AS c FROM bt GROUP BY bucket),
         ntt AS (SELECT COUNT(*) AS n FROM bt),
         stk AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS tok
           FROM documents WHERE doc_id >= 20),
         st AS (SELECT doc_id,
             CAST(('0x' || substr(md5(tok), 1, 3)) AS BIGINT) AS bucket
           FROM stk WHERE tok <> ''),
         ccb AS (SELECT bucket, COUNT(*) AS c FROM st GROUP BY bucket),
         ncc AS (SELECT COUNT(*) AS n FROM st),
         lw AS (SELECT ccb.bucket,
             CAST(round((ln((COALESCE(ct.c, 0) + 1.0) / (ntt.n + 4096.0))
                       - ln((ccb.c + 1.0) / (ncc.n + 4096.0))) * 1000000)
               AS BIGINT) AS lwm
           FROM ccb LEFT JOIN ct USING (bucket), ntt, ncc),
         sc AS (SELECT s.doc_id, CAST(SUM(l.lwm) AS BIGINT) AS score
           FROM st s JOIN lw l USING (bucket) GROUP BY s.doc_id),
         tots AS (SELECT CAST(SUM(score) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n FROM sc)
         SELECT q.doc_id, q.source, q.qm,
           q.qm >= 800000 AS q_keep,
           du.doc_id IS NOT NULL AS is_dup,
           fl.doc_id IS NOT NULL AS contaminated,
           COALESCE(sc.score * tots.n >= tots.s, FALSE) AS selected,
           CASE WHEN q.qm < 800000 THEN 'low_quality'
                WHEN du.doc_id IS NOT NULL THEN 'near_dup'
                WHEN fl.doc_id IS NOT NULL THEN 'contaminated'
                WHEN NOT COALESCE(sc.score * tots.n >= tots.s, FALSE)
                  THEN 'not_selected'
                ELSE 'kept' END AS disposition
         FROM qv q
         LEFT JOIN dupids du ON du.doc_id = q.doc_id
         LEFT JOIN flag fl ON fl.doc_id = q.doc_id
         LEFT JOIN sc ON sc.doc_id = q.doc_id
         CROSS JOIN tots""",
    "x43_bloom_decontaminate" ->
      s"""WITH toks AS (SELECT doc_id, string_split($normSql, ' ') AS tk FROM documents),
         sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
             range(1, greatest(len(tk) - 4, 0) + 2),
             i -> array_to_string(list_slice(tk, i, least(i + 3, len(tk))), '_')))) AS g
           FROM toks),
         bpos AS (SELECT DISTINCT unnest([
             CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % 262144,
             CAST(('0x' || substr(md5(g), 9, 8)) AS BIGINT) % 262144]) AS pos
           FROM (SELECT DISTINCT g FROM sh WHERE doc_id < 20)),
         fl AS (SELECT DISTINCT doc_id FROM sh
           WHERE doc_id >= 20
             AND CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % 262144
               IN (SELECT pos FROM bpos)
             AND CAST(('0x' || substr(md5(g), 9, 8)) AS BIGINT) % 262144
               IN (SELECT pos FROM bpos))
         SELECT d.doc_id, f.doc_id IS NOT NULL AS contaminated_bloom
         FROM documents d LEFT JOIN fl f ON d.doc_id = f.doc_id
         WHERE d.doc_id >= 20""",
    "x42_curation_v2" ->
      s"""WITH toks AS (SELECT doc_id, string_split($normSql, ' ') AS tk FROM documents),
         ch AS (SELECT doc_id, unnest(list_transform(
             range(0, CAST(ceil(len(tk) / 4.0) AS BIGINT)),
             i -> md5(array_to_string(list_slice(tk, CAST(i * 4 + 1 AS INT),
               CAST(least((i + 1) * 4, len(tk)) AS INT)), '_')))) AS h
           FROM toks),
         f AS (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM ch GROUP BY h),
         ded AS (SELECT doc_id,
             CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) < 0.5 AS k_dedup
           FROM ch JOIN f USING (h) GROUP BY doc_id),
         tw AS (SELECT doc_id, unnest(tk) AS tok FROM toks),
         w AS (SELECT doc_id,
             CAST(('0x' || substr(md5('w' ||
               (CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 64)), 1, 8))
               AS BIGINT) % 1001 - 500 AS wt
           FROM tw WHERE tok <> ''),
         cls AS (SELECT doc_id, CAST(SUM(wt) AS BIGINT) > 0 AS k_cls,
             COUNT(*) AS n_tokens FROM w GROUP BY doc_id),
         mix AS (SELECT doc_id, source,
             CAST(('0x' || substr(md5('mix_' || doc_id), 1, 6)) AS BIGINT) * 100
               < (25 + (CAST(regexp_extract(source, '(\\d+)', 1) AS BIGINT) % 16) * 5)
                 * 16777216 AS k_mix
           FROM documents)
         SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
         FROM mix JOIN ded USING (doc_id) JOIN cls USING (doc_id)
         WHERE k_dedup AND k_cls AND k_mix
         GROUP BY source""",
    "x45_chunk_scrub" ->
      s"""WITH toks AS (SELECT doc_id, string_split($normSql, ' ') AS tk FROM documents),
         ch AS (SELECT doc_id, i AS pos, array_to_string(list_slice(tk,
             CAST(i * 4 + 1 AS INT), CAST(least((i + 1) * 4, len(tk)) AS INT)), ' ') AS chunk
           FROM toks, unnest(range(0, CAST(ceil(len(tk) / 4.0) AS BIGINT))) AS u(i)),
         r AS (SELECT doc_id, pos, chunk,
             ROW_NUMBER() OVER (PARTITION BY md5(chunk) ORDER BY doc_id, pos) AS rn
           FROM ch),
         k AS (SELECT doc_id, string_agg(chunk, ' ' ORDER BY pos) AS cleaned,
             COUNT(*) AS n_kept
           FROM r WHERE rn = 1 GROUP BY doc_id)
         SELECT d.doc_id, COALESCE(k.cleaned, '') AS cleaned,
           COALESCE(k.n_kept, 0) AS n_kept
         FROM documents d LEFT JOIN k USING (doc_id)""",
    "x46_quantized_ann" ->
      s"""WITH $qdotsSql,
         rk AS (SELECT qid, vec_id, idot,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY idot DESC, vec_id) AS rn
           FROM dots)
         SELECT qid, vec_id, idot, rn AS rank FROM rk WHERE rn <= 5""",
    "x47_vocab_coverage" ->
      s"""WITH toks AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS tok
           FROM documents),
         t2 AS (SELECT * FROM toks WHERE tok <> ''),
         vocab AS (SELECT tok FROM t2 GROUP BY tok
           ORDER BY COUNT(*) DESC, tok LIMIT 20),
         agg AS (SELECT doc_id, COUNT(*) AS n_tokens,
             CAST(SUM(CASE WHEN tok IN (SELECT tok FROM vocab) THEN 1 ELSE 0 END)
               AS BIGINT) AS n_in_vocab
           FROM t2 GROUP BY doc_id)
         SELECT d.doc_id, COALESCE(agg.n_tokens, 0) AS n_tokens,
           COALESCE(agg.n_in_vocab, 0) AS n_in_vocab,
           CASE WHEN COALESCE(agg.n_tokens, 0) = 0 THEN NULL
             ELSE CAST(agg.n_in_vocab AS DOUBLE) / agg.n_tokens END AS coverage,
           COALESCE(CAST(agg.n_in_vocab AS DOUBLE) / agg.n_tokens >= 0.7, FALSE)
             AS keep
         FROM documents d LEFT JOIN agg USING (doc_id)""",
    "x48_ann_recall" ->
      s"""WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         cent AS (SELECT vec_id AS cid, v AS cv FROM ev WHERE vec_id < 16),
         assign AS (SELECT e.vec_id, c.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.cid) AS rn
           FROM ev e, cent c),
         cells AS (SELECT vec_id, cid AS cell FROM assign WHERE rn = 1),
         qs AS (SELECT vec_id AS qid, v AS qv FROM ev WHERE vec_id < 8),
         probes AS (SELECT q.qid, c.cid,
             ROW_NUMBER() OVER (PARTITION BY q.qid
               ORDER BY ${cosSql("q.qv", "c.cv")} DESC, c.cid) AS pr
           FROM qs q, cent c),
         probe2 AS (SELECT qid, cid FROM probes WHERE pr <= 2),
         approx AS (SELECT q.qid, e.vec_id,
             ROW_NUMBER() OVER (PARTITION BY q.qid
               ORDER BY ${cosSql("q.qv", "e.v")} DESC, e.vec_id) AS rn
           FROM qs q JOIN probe2 p ON p.qid = q.qid
           JOIN cells cl ON cl.cell = p.cid JOIN ev e ON e.vec_id = cl.vec_id
           WHERE e.vec_id <> q.qid),
         atop AS (SELECT qid, vec_id FROM approx WHERE rn <= 10),
         exact AS (SELECT q.qid, e.vec_id,
             ROW_NUMBER() OVER (PARTITION BY q.qid
               ORDER BY ${cosSql("q.qv", "e.v")} DESC, e.vec_id) AS rn
           FROM qs q, ev e WHERE e.vec_id <> q.qid),
         etop AS (SELECT qid, vec_id FROM exact WHERE rn <= 10)
         SELECT e.qid, CAST(COUNT(a.vec_id) AS BIGINT) AS n_hit,
           CAST(COUNT(a.vec_id) AS DOUBLE) / 10 AS recall,
           COUNT(a.vec_id) >= 3 AS recall_ok
         FROM etop e LEFT JOIN atop a ON a.qid = e.qid AND a.vec_id = e.vec_id
         GROUP BY e.qid""",
    "x49_incremental_dedup" ->
      s"""WITH tk AS (SELECT doc_id, string_split($normSql, ' ') AS t FROM documents),
         sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
             range(1, greatest(len(t) - 1, 1) + 1),
             i -> CASE WHEN i + 1 <= len(t) THEN t[i] || '_' || t[i+1]
                  ELSE t[i] END))) AS g
           FROM tk),
         comps AS (SELECT doc_id, i, MIN(md5(CAST(i AS VARCHAR) || ':' || g)) AS sig
           FROM sh, range(0, 12) r(i) GROUP BY doc_id, i),
         buckets AS (SELECT doc_id, i // 3 AS band,
             md5(string_agg(sig, '|' ORDER BY i)) AS h
           FROM comps GROUP BY doc_id, i // 3),
         cands AS (SELECT DISTINCT n.doc_id AS id_a, c.doc_id AS id_b
           FROM buckets n JOIN buckets c ON n.band = c.band AND n.h = c.h
           WHERE n.doc_id % 5 = 0 AND c.doc_id % 5 <> 0),
         est AS (SELECT id_a, id_b,
             CAST(SUM(CASE WHEN ca.sig = cb.sig THEN 1 ELSE 0 END) AS DOUBLE) / 12
               AS ej
           FROM cands
           JOIN comps ca ON ca.doc_id = id_a
           JOIN comps cb ON cb.doc_id = id_b AND ca.i = cb.i
           GROUP BY id_a, id_b),
         candf AS (SELECT id_a, id_b FROM est WHERE ej >= 0.25),
         sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         ver AS (SELECT p.id_a, p.id_b,
             CAST(COUNT(*) AS DOUBLE) / (sa.n + sb.n - COUNT(*)) AS j
           FROM candf p
           JOIN sh a ON a.doc_id = p.id_a
           JOIN sh b ON b.doc_id = p.id_b AND b.g = a.g
           JOIN sz sa ON sa.doc_id = p.id_a
           JOIN sz sb ON sb.doc_id = p.id_b
           GROUP BY p.id_a, p.id_b, sa.n, sb.n),
         near AS (SELECT DISTINCT id_a AS doc_id FROM ver WHERE j >= 0.2),
         fpc AS (SELECT DISTINCT md5($normSql) AS fp
           FROM documents WHERE doc_id % 5 <> 0)
         SELECT d.doc_id,
           COALESCE(md5($normSql) IN (SELECT fp FROM fpc), FALSE) AS exact_dup,
           n.doc_id IS NOT NULL AS near_dup,
           NOT COALESCE(md5($normSql) IN (SELECT fp FROM fpc), FALSE)
             AND n.doc_id IS NULL AS accept
         FROM documents d LEFT JOIN near n USING (doc_id)
         WHERE d.doc_id % 5 = 0""",
    "x50_containment" ->
      s"""WITH toks AS (SELECT doc_id, string_split($normSql, ' ') AS tk FROM documents),
         sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
             range(1, greatest(len(tk) - 3, 0) + 2),
             i -> array_to_string(list_slice(tk, i, least(i + 2, len(tk))), '_')))) AS g
           FROM toks),
         sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
           FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         c AS (SELECT id_a, id_b, common, sa.n AS na, sb.n AS nb FROM pairs
           JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b)
         SELECT id_a, id_b,
           CAST(common AS DOUBLE) / na AS containment_a,
           CAST(common AS DOUBLE) / nb AS containment_b,
           CAST(common AS DOUBLE) / (na + nb - common) AS jaccard
         FROM c
         WHERE CAST(common AS DOUBLE) / na >= 0.8
            OR CAST(common AS DOUBLE) / nb >= 0.8""",
    "x52_ann_rerank" ->
      s"""WITH $qdotsSql,
         short AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY idot DESC, vec_id) AS rn
           FROM dots) WHERE rn <= 20),
         qv AS (SELECT vec_id AS qid, v AS qvec FROM ev WHERE vec_id < 8),
         rr AS (SELECT s.qid, s.vec_id,
             ${cosSql("q.qvec", "e.v")} AS cos,
             ROW_NUMBER() OVER (PARTITION BY s.qid
               ORDER BY ${cosSql("q.qvec", "e.v")} DESC, s.vec_id) AS rn
           FROM short s JOIN qv q ON q.qid = s.qid
           JOIN ev e ON e.vec_id = s.vec_id)
         SELECT qid, rn AS rank, vec_id AS neighbor_id,
           round(cos, 4) AS cos_sim
         FROM rr WHERE rn <= 5""",
    "x53_bpe_merge_step" ->
      s"""WITH $pairsSql
         SELECT pr, CAST(COUNT(*) AS BIGINT) AS n_occ FROM pairs GROUP BY pr
         ORDER BY n_occ DESC, pr LIMIT 20""",
    "x54_bigram_familiarity" ->
      s"""WITH $pairsSql,
         cnt AS (SELECT pr, CAST(COUNT(*) AS BIGINT) AS n FROM pairs GROUP BY pr),
         sup AS (SELECT doc_id, n FROM pairs JOIN cnt USING (pr)),
         perdoc AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS support,
             COUNT(*) AS n_bigrams
           FROM sup GROUP BY doc_id),
         g AS (SELECT CAST(SUM(n) AS BIGINT) AS gsum, COUNT(*) AS gcnt FROM sup)
         SELECT d.doc_id,
           COALESCE(p.n_bigrams, 0) AS n_bigrams,
           CAST(p.support AS DOUBLE) / p.n_bigrams AS familiarity,
           COALESCE(CAST(p.support AS DOUBLE) / p.n_bigrams
             >= CAST(g.gsum AS DOUBLE) / g.gcnt, FALSE) AS keep
         FROM documents d LEFT JOIN perdoc p USING (doc_id) CROSS JOIN g""",
    "x51_snapshot_diff" ->
      s"""WITH oldsnap AS (SELECT doc_id,
             md5(${normOf("CASE WHEN doc_id % 3 = 0 THEN text || ' legacy' ELSE text END")}) AS ofp
           FROM documents WHERE doc_id % 7 <> 0),
         newsnap AS (SELECT doc_id, md5($normSql) AS nfp
           FROM documents WHERE doc_id % 11 <> 5)
         SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN ofp = nfp THEN 'unchanged'
                ELSE 'modified' END AS status
         FROM oldsnap o FULL OUTER JOIN newsnap n ON o.doc_id = n.doc_id""",
    "x41_train_windows" ->
      s"""WITH n AS (SELECT doc_id, len(string_split($normSql, ' ')) AS n_tokens
           FROM documents)
         SELECT doc_id,
           unnest(range(0, (n_tokens - 1) // 24 + 1)) AS win_idx,
           unnest(list_transform(range(0, (n_tokens - 1) // 24 + 1),
             i -> i * 24)) AS tok_start,
           unnest(list_transform(range(0, (n_tokens - 1) // 24 + 1),
             i -> least(i * 24 + 32, n_tokens))) AS tok_end
         FROM n""",
    "x55_topk_per_source" ->
      """SELECT source, rank, doc_id, score FROM
        (SELECT source, CAST(doc_id AS VARCHAR) AS doc_id,
           CAST(n_chars AS BIGINT) AS score,
           CAST(ROW_NUMBER() OVER (PARTITION BY source
             ORDER BY n_chars DESC, CAST(doc_id AS VARCHAR)) AS BIGINT) AS rank
         FROM documents WHERE n_chars IS NOT NULL AND doc_id IS NOT NULL)
        WHERE rank <= 5""",
    "x56_bottomk_sample" ->
      """SELECT rank, doc_id, h FROM
        (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
           CAST(('0x' || substr(md5('smp_' || doc_id), 1, 12)) AS BIGINT) AS h,
           CAST(ROW_NUMBER() OVER (ORDER BY
             CAST(('0x' || substr(md5('smp_' || doc_id), 1, 12)) AS BIGINT),
             CAST(doc_id AS VARCHAR)) AS BIGINT) AS rank
         FROM documents WHERE doc_id IS NOT NULL)
        WHERE rank <= 20""",
    "x57_temperature_mixture" ->
      """WITH d AS (SELECT doc_id, lang FROM documents
           WHERE doc_id IS NOT NULL AND lang IS NOT NULL),
         c AS (SELECT lang, COUNT(*) AS n_l,
             CAST(floor(sqrt(COUNT(*)) * 1000) AS BIGINT) AS s_l
           FROM d GROUP BY lang),
         t AS (SELECT CAST(SUM(s_l) AS BIGINT) AS s_tot FROM c)
        SELECT doc_id, d.lang, n_l,
          (s_l * 1000000) // s_tot AS share_micros,
          CAST(('0x' || substr(md5('tmp_' || doc_id), 1, 6)) AS BIGINT) * s_tot
            < s_l * 16777216 AS sampled
        FROM d JOIN c ON d.lang = c.lang CROSS JOIN t""",
    "x58_cluster_survivors" ->
      s"""WITH RECURSIVE ${ExtensionQueries.lshClusterCtes},
         surv AS (SELECT cluster, id AS survivor FROM
           (SELECT l.cluster, l.id,
              ROW_NUMBER() OVER (PARTITION BY l.cluster
                ORDER BY d.n_chars DESC, l.id) AS rn
            FROM labels l JOIN documents d ON d.doc_id = l.id)
           WHERE rn = 1)
         SELECT l.id AS dup_id, s.survivor, l.cluster
         FROM labels l JOIN surv s USING (cluster)
         WHERE l.id <> s.survivor""",
    "x59_cube_report" ->
      """SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           CAST(GROUPING(source, lang) AS BIGINT) AS gid
         FROM documents GROUP BY CUBE (source, lang)""",
    "x60_pivot_matrix" ->
      """SELECT source,
           CAST(COUNT(CASE WHEN lang = 'en' THEN 1 END) AS BIGINT) AS en,
           CAST(COUNT(CASE WHEN lang = 'es' THEN 1 END) AS BIGINT) AS es,
           CAST(COUNT(CASE WHEN lang = 'de' THEN 1 END) AS BIGINT) AS de,
           CAST(COUNT(CASE WHEN lang = 'fr' THEN 1 END) AS BIGINT) AS fr,
           CAST(COUNT(CASE WHEN lang = 'zh' THEN 1 END) AS BIGINT) AS zh
         FROM documents GROUP BY source""",
    "x61_moment_stats" ->
      s"""WITH xy AS (SELECT source,
           CAST(len(string_split($normSql, ' ')) AS BIGINT) AS x,
           n_chars AS y
         FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(x) AS BIGINT) AS sum_x, CAST(SUM(y) AS BIGINT) AS sum_y,
          CAST(SUM(x * y) AS BIGINT) AS sum_xy,
          CAST(SUM(x * x) AS BIGINT) AS sum_xx,
          CAST(SUM(y * y) AS BIGINT) AS sum_yy
        FROM xy GROUP BY source""")
}
