package graft.queries

import graft.Tables
import graft.mm.Multimodal
import graft.ops.{Relational, Skew}
import graft.similarity.Similarity
import graft.text.TextOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.expressions.Natives
import graft.expressions.Natives.md5 // shadows functions.md5 (bit-identical, thread-cached digest)
import graft.ops.InternalCaches.CacheSyntax

/** Round-3 corpus-layout / analytics operators (x62–x84): the steps
  * between a curated corpus and a training run — shard layout, weighted /
  * interleaved / negative sampling, length bucketing, vocab encoding,
  * span-mask planning, Z-order layout keys — plus corpus statistics
  * (diversity, OLS-from-moments, vocabulary growth, cluster purity,
  * cross-source overlap, PageRank step), the filter-cascade attribution
  * reports, behavioral analytics over events (trailing windows, funnels,
  * retention cohorts), SCD2 history building, and perceptual-hash
  * near-dup over binary payloads.
  *
  * Same oracle conventions as [[ExtensionQueries]] / [[CurationQueries]]:
  * md5-on-strings for every hash so DuckDB replays it bit-for-bit,
  * integer-exact sampled/ranked surfaces (integer division + integer
  * cross-multiplies, never a float threshold), and a total tiebreak on
  * every window.
  */
object CorpusQueries {

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  private def normOf(e: String) =
    s"trim(regexp_replace(regexp_replace(lower($e), '[^a-z0-9]+', ' ', 'g'), ' +', ' ', 'g'))"

  private val normSql = normOf("text")

  /** Shared per-document cascade frame for x75/x76: five independent
    * keep signals over ONE tokenization —
    *   bit 0  length: 10 ≤ n_tokens ≤ 2000
    *   bit 1  diversity: collision index < 0.2 (x65's statistic)
    *   bit 2  classifier: hashed-feature weight sum > 0 (x40's scorer)
    *   bit 3  vocabulary: top-20-vocab coverage ≥ 0.7 (x47's rule)
    *   bit 4  mixture: the per-source md5 sampling rule (x39)
    * plus the bitmask, the and-of-all keep, and first-fail attribution
    * (the lowest failed stage, -1 when all pass) — what a production
    * cascade ships so every dropped document is explainable. All four
    * token statistics derive from one per-(doc, tok) count frame (one
    * token-frame shuffle, no cache); everything downstream shuffles
    * distinct-count rows on doc_id or tok, never text.
    */
  private def cascadeFrame(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    // ONE partial-combined per-(doc, tok) count is the hub every stage
    // statistic derives from (r15, the x76 census fix): the old shape
    // cached raw token rows and ran FOUR independent aggregations over
    // the cache — four full token-frame shuffles, and under AQE the
    // concurrent branches serialized on the cache-fill lock (census: one
    // 0.44 s fill task + three zero-CPU 0.4 s lock-wait stages). Here the
    // token frame shuffles ONCE (map-side combined to distinct (doc,tok)
    // rows); vocabulary, classifier and coverage all ride the far smaller
    // count frame: sum(w·c) ≡ per-occurrence sum(w), sum(when(v, c)) ≡
    // per-occurrence in-vocab count — distributivity, same integers. At
    // 100 TB this is strictly better too: the wide frame pays one
    // exchange instead of four, everything after is |distinct(doc,tok)|.
    // the explicit isnotnull mirrors what the left-outer join infers on
    // the perDoc branch — without it the vocab and perDoc subtrees
    // canonicalize differently and the (doc, tok) exchange computes
    // TWICE instead of being reused (doc_id is the table key, non-null
    // by schema contract, so the filter drops nothing)
    val cnt = TextOps.tokenRows(docs.filter(col("doc_id").isNotNull),
        "doc_id", "text")
      .filter(col("tok") =!= "")
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
    val vocab = cnt.groupBy(col("tok")).agg(sum(col("c")).as("n"))
      .orderBy(col("n").desc, col("tok")).limit(20)
      .select(col("tok"), lit(true).as("__v"))
    val perDoc = cnt
      .withColumn("w", TextOps.hashedTokenWeight(col("tok")))
      .join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        sum(col("c") * col("c")).as("sum_c2"),
        sum(col("w") * col("c")).as("sw"),
        sum(col("c")).as("nt"),
        sum(when(col("__v"), col("c")).otherwise(0L)).as("nv"))
    // try_cast: a digit-less or null source must yield k_mix = false (not
    // an ANSI cast error / a null that desynchronizes bitmask vs
    // first_fail), like every other coalesced stage flag
    val srcNum = expr("try_cast(regexp_extract(source, '(\\\\d+)', 1) AS BIGINT)")
    val kMix = coalesce(
      conv(substring(md5(concat(lit("mix_"), col("doc_id"))), 1, 6), 16, 10)
        .cast("long") * 100 < (lit(25L) + (srcNum % 16) * 5) * 16777216L,
      lit(false))
    val joined = docs.select(col("doc_id"), col("source"), kMix.as("k_mix"))
      .join(perDoc, Seq("doc_id"), "left")
    val k0 = coalesce(col("n_tokens").between(10, 2000), lit(false))
    // collision < 0.2 by integer cross-multiply: 5·(Σc²−n) < n·(n−1)
    val k1 = coalesce(col("n_tokens") > 1 &&
      (col("sum_c2") - col("n_tokens")) * 5 <
        col("n_tokens") * (col("n_tokens") - 1), lit(false))
    val k2 = coalesce(col("sw") > 0, lit(false))
    // coverage ≥ 0.7 as integers: 10·nv ≥ 7·nt
    val k3 = coalesce(col("nv") * 10 >= col("nt") * 7, lit(false))
    val bits = Seq(k0, k1, k2, k3, col("k_mix"))
    val mask = bits.zipWithIndex
      .map { case (b, i) => when(b, lit(1L << i)).otherwise(lit(0L)) }
      .reduce(_ + _)
    val firstFail = bits.zipWithIndex.foldRight(lit(-1L): Column) {
      case ((b, i), rest) => when(!b, lit(i.toLong)).otherwise(rest)
    }
    joined.select(col("doc_id"), col("source"),
      k0.as("k_len"), k1.as("k_div"), k2.as("k_cls"), k3.as("k_vocab"),
      col("k_mix"), mask.as("bitmask"),
      bits.reduce(_ && _).as("keep"), firstFail.as("first_fail"))
  }

  /** Oracle CTE chain mirroring [[cascadeFrame]]; exposes
    * `casc(doc_id, source, k_len, k_div, k_cls, k_vocab, k_mix, bitmask,
    * keep, first_fail)`. */
  private val cascadeSql =
    s"""toks AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS tok
           FROM documents WHERE doc_id IS NOT NULL),
         t2 AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
         cnt AS (SELECT doc_id, tok, COUNT(*) AS c FROM t2 GROUP BY 1, 2),
         stats AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(SUM(c * c) AS BIGINT) AS sum_c2 FROM cnt GROUP BY doc_id),
         cls AS (SELECT doc_id, CAST(SUM(
             CAST(('0x' || substr(md5('w' ||
               (CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 64)), 1, 8))
               AS BIGINT) % 1001 - 500) AS BIGINT) AS sw
           FROM t2 GROUP BY doc_id),
         vocab AS (SELECT tok FROM t2 GROUP BY tok
           ORDER BY COUNT(*) DESC, tok LIMIT 20),
         cov AS (SELECT doc_id, COUNT(*) AS nt,
             CAST(SUM(CASE WHEN tok IN (SELECT tok FROM vocab)
               THEN 1 ELSE 0 END) AS BIGINT) AS nv
           FROM t2 GROUP BY doc_id),
         k AS (SELECT d.doc_id, d.source,
             COALESCE(stats.n_tokens BETWEEN 10 AND 2000, FALSE) AS k_len,
             COALESCE(stats.n_tokens > 1 AND
               (stats.sum_c2 - stats.n_tokens) * 5 <
                 stats.n_tokens * (stats.n_tokens - 1), FALSE) AS k_div,
             COALESCE(cls.sw > 0, FALSE) AS k_cls,
             COALESCE(cov.nv * 10 >= cov.nt * 7, FALSE) AS k_vocab,
             COALESCE(CAST(('0x' || substr(md5('mix_' || d.doc_id), 1, 6))
                 AS BIGINT)
               * 100 < (25 + (TRY_CAST(regexp_extract(d.source, '(\\d+)', 1)
                 AS BIGINT) % 16) * 5) * 16777216, FALSE) AS k_mix
           FROM documents d
           LEFT JOIN stats ON d.doc_id = stats.doc_id
           LEFT JOIN cls ON d.doc_id = cls.doc_id
           LEFT JOIN cov ON d.doc_id = cov.doc_id),
         casc AS (SELECT doc_id, source, k_len, k_div, k_cls, k_vocab, k_mix,
             CAST(CASE WHEN k_len THEN 1 ELSE 0 END
               + CASE WHEN k_div THEN 2 ELSE 0 END
               + CASE WHEN k_cls THEN 4 ELSE 0 END
               + CASE WHEN k_vocab THEN 8 ELSE 0 END
               + CASE WHEN k_mix THEN 16 ELSE 0 END AS BIGINT) AS bitmask,
             k_len AND k_div AND k_cls AND k_vocab AND k_mix AS keep,
             CAST(CASE WHEN NOT k_len THEN 0 WHEN NOT k_div THEN 1
               WHEN NOT k_cls THEN 2 WHEN NOT k_vocab THEN 3
               WHEN NOT k_mix THEN 4 ELSE -1 END AS BIGINT) AS first_fail
           FROM k)"""

  val defs: Map[String, (SparkSession, String) => DataFrame] = phashDefs ++ Map(

    // ───── filter cascade with attribution (curation v3): five
    // independent keep rules over one tokenization, a passed-stage
    // bitmask, and first-fail attribution per document — the artifact
    // that makes every dropped document explainable (and the dashboard
    // input for x76). See [[cascadeFrame]] for the stage definitions
    "x75_filter_cascade" -> ((s, d) => cascadeFrame(s, d)),

    // ───── cascade composition report: per (source, first_fail) counts —
    // which rule kills how much of which source, the go/no-go dashboard
    // for a filter rollout. Same cascade, one extra partial-combine
    // aggregation
    "x76_cascade_report" -> ((s, d) =>
      cascadeFrame(s, d)
        .groupBy(col("source"), col("first_fail"))
        .agg(count(lit(1)).as("n_docs"))),

    // ───── deterministic global shuffle + shard layout: the "shuffle the
    // corpus before training" step, replayable from the key alone. Shard =
    // hash mod nShards; offset = dense position within the shard in hash
    // order. The per-shard window IS the per-shard sort a shard writer
    // runs anyway, and shard count scales with the corpus, so no single
    // task ever sees more than one shard
    "x62_shard_assign" -> ((s, d) => {
      val h = conv(substring(md5(concat(lit("shf_"), col("doc_id"))), 1, 12), 16, 10)
        .cast("long")
      val byShard = Window.partitionBy(col("shard"))
        .orderBy(col("h"), col("doc_id"))
      t(s, d, "documents")
        .filter(col("doc_id").isNotNull)
        .select(col("doc_id"), h.as("h"))
        .withColumn("shard", pmod(col("h"), lit(8L)))
        .withColumn("offset", (row_number().over(byShard) - 1).cast("long"))
        .select(col("doc_id"), col("shard"), col("offset"))
    }),

    // ───── weighted sample without replacement (exponential-sort /
    // priority-sample shape, integer-exact): priority = floor(h · 10^6 /
    // weight) — lower is better, heavier documents draw smaller priorities
    // in expectation. Bottom-k by priority via the bounded-state TopK
    // Aggregator (x55/x56's operator): each map task ships ≤ k rows, the
    // merge is associative — the weighted reservoir that survives AQE
    // re-execution. Ids are zero-padded so the aggregator's string
    // tiebreak equals the numeric one
    "x63_weighted_sample" -> ((s, d) => {
      val top = graft.ops.TopK.topK(20)
      val h = conv(substring(md5(concat(lit("ws_"), col("doc_id"))), 1, 8), 16, 10)
        .cast("long")
      t(s, d, "documents")
        .filter(col("doc_id").isNotNull && col("n_chars").isNotNull)
        .select(col("doc_id"), h.as("h"),
          greatest(col("n_chars"), lit(1L)).as("wt"))
        .select(col("doc_id"), expr("(h * CAST(1000000 AS BIGINT)) div wt").as("pri"))
        .groupBy()
        .agg(top(-col("pri"), lpad(col("doc_id").cast("string"), 19, "0")).as("tk"))
        .select(posexplode(col("tk.items")))
        .select((col("pos") + 1).cast("long").as("rank"),
          col("col.id").cast("long").as("doc_id"),
          (-col("col.score")).as("priority"))
    }),

    // ───── sequence-length bucketing: documents binned to the next power
    // of two of their token count (the padding buckets a training batcher
    // uses), with per-bucket doc/token counts, padding waste, and batch
    // count at a 16384-token batch budget. The bucket boundary is computed
    // in INTEGER space (1 << bitlength(n-1), via the binary-string length
    // — no log2 float anywhere), so bucket edges cannot drift between
    // engines. Pure projection + one partial-combine aggregation
    "x64_length_buckets" -> ((s, d) => {
      val nt = TextOps.tokenCount(col("text")).cast("long")
      t(s, d, "documents")
        .filter(col("text").isNotNull)
        .select(nt.as("n_tokens"))
        .withColumn("bucket",
          when(col("n_tokens") <= 1, lit(1L))
            .otherwise(expr(
              "shiftleft(CAST(1 AS BIGINT), length(bin(n_tokens - 1)))")))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
        .withColumn("waste", col("bucket") * col("n_docs") - col("sum_tokens"))
        .withColumn("per_batch",
          greatest(expr("CAST(16384 AS BIGINT) div bucket"), lit(1L)))
        .withColumn("n_batches",
          expr("(n_docs + per_batch - 1) div per_batch"))
        .select(col("bucket"), col("n_docs"), col("sum_tokens"), col("waste"),
          col("n_batches"))
    }),

    // ───── token-diversity index: per-document repetition statistics on
    // an INTEGER surface — n tokens, distinct tokens, Σc² over per-token
    // occurrence counts, and the collision index ("probability two random
    // token draws collide") as parts-per-million via integer division:
    // (Σc² − n)·10^6 div (n·(n−1)). The Simpson-diversity form of x35's
    // repetition rules — one (doc, tok) count pass, one per-doc fold, no
    // doubles anywhere
    "x65_token_diversity" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val perTok = TextOps.tokenRows(docs, "doc_id", "text")
        .filter(col("tok") =!= "")
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      val perDoc = perTok.groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_tokens"),
          count(lit(1)).as("n_distinct"),
          sum(col("c") * col("c")).as("sum_c2"))
      docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
          coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
          coalesce(col("sum_c2"), lit(0L)).as("sum_c2"))
        .withColumn("collision_ppm",
          when(col("n_tokens") > 1, expr(
            "((sum_c2 - n_tokens) * CAST(1000000 AS BIGINT)) div (n_tokens * (n_tokens - 1))"))
            .otherwise(lit(0L)))
    }),

    // ───── cross-source overlap matrix: for every source pair, how many
    // distinct 4-token chunks they share — the contamination/overlap
    // report run before mixing corpora (x38's chunk unit, x33's question
    // at dataset granularity). Only (source, chunk_hash) pairs shuffle —
    // 32-char keys, never text — and the self-join runs on the DISTINCT
    // per-source chunk set, so a chunk repeated within one source counts
    // once. Output is bounded by sources², not documents
    "x66_source_overlap" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val srcChunks = TextOps.chunkRows(docs, "doc_id", "text", 4)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .select(col("source"), col("chunk_hash")).distinct()
      val a = srcChunks.select(col("source").as("source_a"),
        col("chunk_hash"))
      val b = srcChunks.select(col("source").as("source_b"),
        col("chunk_hash"))
      a.join(b, Seq("chunk_hash"))
        .filter(col("source_a") < col("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_shared"))
    }),

    // ───── one PageRank iteration over the customer→supplier purchase
    // graph (orders ⋈ lineitem, distinct edges), integer-scaled: every
    // node starts at 10^6, a customer with out-degree d contributes
    // floor(10^6/d) along each edge, and the damped rank is
    // 0.15·10^6 + 0.85·Σcontrib — computed as (85·Σ) div 100, so the
    // whole iteration is exact integer arithmetic (the distributed-loop
    // discipline of x25's CC applies: each further iteration is one more
    // shuffle on the same edge frame). Edge build shuffles once on
    // orderkey; degree and rank are partial-combine aggregations
    "x67_pagerank_step" -> ((s, d) => {
      val edges = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .filter(col("o_custkey").isNotNull && col("l_suppkey").isNotNull)
        .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
        .distinct()
      val deg = edges.groupBy(col("c")).agg(count(lit(1)).as("d"))
      // gate-broadcast the per-customer degree table (one narrow row per
      // customer) so the edge frame keeps the distinct's partitioning
      // instead of re-exchanging on c for this join (r14 census: the
      // join exchange was one of four sequential wide stages; estimate-
      // gated fallback to the planner's shuffle join at degree-table
      // sizes beyond the threshold)
      edges.join(graft.ops.Relational.gatedBroadcast(deg), Seq("c"))
        .select(col("s"), expr("CAST(1000000 AS BIGINT) div d").as("contrib"))
        .groupBy(col("s"))
        .agg(count(lit(1)).as("n_in"), sum(col("contrib")).as("in_sum"))
        .select(col("s").as("suppkey"), col("n_in"),
          expr("CAST(150000 AS BIGINT) + (85 * in_sum) div 100").as("rank_scaled"))
    }),

    // ───── OLS fit from sufficient statistics: the payoff of x61's
    // integer moment sums — slope/intercept of chars ~ tokens per source
    // as a PURE PROJECTION over the six mergeable sums. The cross-moment
    // products run in decimal(38,0) (exact), and the long surfaces are
    // exact-or-loud: under ANSI both the in-sum accumulation and the
    // final long casts THROW on overflow rather than wrap — the contract
    // holds while moments and num/den fit int64 (≈10^8 rows/source at
    // these magnitudes); beyond that, move the decimal cast inside the
    // sums and emit decimal columns. The one double division runs
    // identically in both engines. No second pass over the data — this
    // is why the heavy pass emits moments, not means
    "x69_ols_fit" -> ((s, d) => {
      val xc = TextOps.tokenCount(col("text")).cast("long")
      t(s, d, "documents")
        .filter(col("text").isNotNull && col("n_chars").isNotNull)
        .select(col("source"), xc.as("x"), col("n_chars").as("y"))
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
          sum(col("x")).cast("decimal(38,0)").as("sx"),
          sum(col("y")).cast("decimal(38,0)").as("sy"),
          sum(col("x") * col("y")).cast("decimal(38,0)").as("sxy"),
          sum(col("x") * col("x")).cast("decimal(38,0)").as("sxx"))
        .select(col("source"),
          (col("n") * col("sxy") - col("sx") * col("sy")).cast("long").as("slope_num"),
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("long").as("slope_den"))
        .withColumn("slope",
          col("slope_num").cast("double") / col("slope_den").cast("double"))
    }),

    // ───── Heaps-law vocabulary growth: distinct vocabulary size as the
    // corpus grows, from each token's FIRST-seen document. Bucket width is
    // data-derived (corpus id range / 20), so the cumulative window runs
    // over a BOUNDED ~20-row frame at any corpus size — the q23 scalar
    // shape, not a per-row global window. First-seen is a partial-combine
    // min; nothing after it touches more than the bucket dimension
    "x70_vocab_growth" -> ((s, d) => {
      val docs = t(s, d, "documents").filter(col("doc_id").isNotNull)
      val width = docs.agg(
        expr("(max(doc_id) + 20) div 20").as("w"))
      val firstSeen = TextOps.tokenRows(docs, "doc_id", "text")
        .filter(col("tok") =!= "")
        .groupBy(col("tok")).agg(min(col("doc_id")).as("first_doc"))
      val byBucket = firstSeen.crossJoin(broadcast(width))
        .select(expr("first_doc div w").as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("new_types"))
      val cum = Window.orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byBucket.withColumn("vocab_size", sum(col("new_types")).over(cum))
    }),

    // ───── cluster label purity: the clustering-eval counterpart of
    // x48's ANN recall — per nearest-centroid cell (x15/x30's coarse
    // quantizer), the majority ground-truth label and its share in parts
    // per million. Argmax via one max(struct) hash-agg (no window sort);
    // integer division keeps the purity surface exact
    "x71_cluster_purity" -> ((s, d) => {
      val emb = t(s, d, "embeddings").filter(col("label").isNotNull)
      val cent = emb.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val cells = graft.similarity.Similarity
        .assignCells(emb, "vec_id", "embedding", cent, "cid", "cvec")
        .select(col("vec_id"), col("cell"))
      val perLabel = cells
        .join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))
        .groupBy(col("cell"), col("label")).agg(count(lit(1)).as("n_l"))
      perLabel.groupBy(col("cell"))
        .agg(sum(col("n_l")).as("n"),
          max(struct(col("n_l"), (-col("label")).cast("long").as("neg_label")))
            .as("m"))
        .select(col("cell"), col("n"),
          (-col("m.neg_label")).as("major_label"),
          col("m.n_l").as("major_n"),
          expr("(m.n_l * CAST(1000000 AS BIGINT)) div n").as("purity_ppm"))
    }),

    // ───── behavioral daily rollup + trailing 7-day window: per-user
    // per-day event count and cents sum, with the moving totals as a
    // RANGE frame over the integer day number (so gap days weigh zero
    // without materializing them). The window shuffles once on user_id —
    // entity-keyed, cardinality ≫ cores at any scale; cents stay integer
    // end to end. Day-number semantics measured cross-engine: Spark `div`
    // and DuckDB `//` BOTH truncate toward zero on integers (-7/2 → -3 in
    // each, verified on DuckDB 1.x), so pre-1970 timestamps produce
    // identical day/week numbers in both engines — no epoch guard needed
    "x72_daily_activity" -> ((s, d) => {
      val daily = t(s, d, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"),
          expr("unix_millis(ts) div 86400000").as("day"),
          coalesce(floor(col("value") * 100 + 0.5).cast("long"), lit(0L))
            .as("cents"))
        .groupBy(col("user_id"), col("day"))
        .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("cents"))
      val w7 = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rangeBetween(-6, 0)
      daily
        .withColumn("ma7_n", sum(col("n_events")).over(w7))
        .withColumn("ma7_cents", sum(col("cents")).over(w7))
    }),

    // ───── ordered funnel: signup → first later click → first later
    // purchase, per user, with reached-stage attribution. Each stage is a
    // conditional min over the user's events AFTER the previous stage —
    // three user-keyed joins+aggregations, no window over raw events,
    // timestamps on the hashed surface as epoch millis. Stage frames are
    // one row per user, so they are NOT force-broadcast (users scale with
    // the corpus); all joins share the user_id partitioning, and AQE
    // broadcasts them when they actually fit
    "x73_funnel_stages" -> ((s, d) => {
      val ev = t(s, d, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"), col("event_type"),
          unix_millis(col("ts")).as("ms"))
      val s1 = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ms")).as("t_signup"))
      val s2 = ev.filter(col("event_type") === "click")
        .join(s1, Seq("user_id"))
        .filter(col("ms") > col("t_signup"))
        .groupBy(col("user_id")).agg(min(col("ms")).as("t_click"))
      val s3 = ev.filter(col("event_type") === "purchase")
        .join(s2, Seq("user_id"))
        .filter(col("ms") > col("t_click"))
        .groupBy(col("user_id")).agg(min(col("ms")).as("t_purchase"))
      ev.select(col("user_id")).distinct()
        .join(s1, Seq("user_id"), "left")
        .join(s2, Seq("user_id"), "left")
        .join(s3, Seq("user_id"), "left")
        .select(col("user_id"), col("t_signup"), col("t_click"),
          col("t_purchase"),
          when(col("t_purchase").isNotNull, lit(3L))
            .when(col("t_click").isNotNull, lit(2L))
            .when(col("t_signup").isNotNull, lit(1L))
            .otherwise(lit(0L)).as("stage"))
    }),

    // ───── retention cohorts: users grouped by first-seen week, counted
    // on each later activity week as an offset from their cohort — the
    // (cohort, offset) retention triangle. Distinct (user, week) activity
    // first, then one small aggregation; offsets are integer week
    // arithmetic on epoch days
    "x74_retention_cohorts" -> ((s, d) => {
      val uw = t(s, d, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"),
          expr("unix_millis(ts) div 604800000").as("week"))
        .distinct()
      val cohort = uw.groupBy(col("user_id")).agg(min(col("week")).as("cohort"))
      uw.join(cohort, Seq("user_id"))
        .groupBy(col("cohort"), (col("week") - col("cohort")).as("offset"))
        .agg(count(lit(1)).as("n_users"))
    }),

    // ───── vocabulary encoding: text → (doc_id, pos, token_id) rows via
    // a data-derived vocabulary (top-63 tokens by count, ranked with a
    // total tiebreak; id 0 = OOV) — the encode step between curation and
    // packing (x22/x41 consume exactly this shape). The vocab is bounded
    // and broadcast; the corpus side is one tokenization + one broadcast
    // hash join, so nothing shuffles but the scan
    "x77_vocab_encode" -> ((s, d) => {
      val tr = TextOps.tokenRows(t(s, d, "documents"), "doc_id", "text")
        .filter(col("tok") =!= "").cacheRegistered
      val w = Window.orderBy(col("n").desc, col("tok"))
      val vocab = tr.groupBy(col("tok")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok")).limit(63)
        .withColumn("token_id", row_number().over(w).cast("long"))
        .select(col("tok"), col("token_id"))
      tr.join(broadcast(vocab), Seq("tok"), "left")
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          coalesce(col("token_id"), lit(0L)).as("token_id"))
    }),

    // ───── span-corruption mask plan (T5-style denoising prep): ~5% of
    // each document's tokens masked as length-3 spans at deterministic
    // hash-derived offsets — one span per 20 tokens, start_j =
    // md5(doc, j) mod (n−3). Emitting the PLAN (doc, span_idx, start,
    // len) instead of rewritten text keeps the heavy pass a pure
    // projection + bounded explode; spans may overlap (the consumer
    // resolves, as in masking pipelines). Replayable from keys alone
    "x78_span_mask" -> ((s, d) => {
      val nt = TextOps.tokenCount(col("text")).cast("long")
      t(s, d, "documents")
        .filter(col("text").isNotNull && col("doc_id").isNotNull)
        .select(col("doc_id"), nt.as("n_tokens"))
        .filter(col("n_tokens") >= 23)
        .select(col("doc_id"), col("n_tokens"),
          explode(sequence(lit(0L), expr("n_tokens div 20 - 1"))).as("span_idx"))
        .select(col("doc_id"), col("span_idx"),
          pmod(conv(substring(md5(concat(lit("msk_"), col("doc_id"),
            lit("_"), col("span_idx"))), 1, 8), 16, 10).cast("long"),
            col("n_tokens") - 3).as("start"),
          lit(3L).as("len"))
    }),

    // ───── contrastive negative sampling: four deterministic negatives
    // per query document from a hash ring over the corpus id space —
    // n = corpus count (one broadcast scalar), neg = h mod n, bumped by
    // one (mod n) when it lands on the query itself. Pure projection +
    // bounded explode; replayable, so train/eval splits can regenerate
    // pairs instead of storing them
    "x79_negative_pairs" -> ((s, d) => {
      val docs = t(s, d, "documents").filter(col("doc_id").isNotNull)
      val n = docs.agg(count(lit(1)).as("n"))
      docs.filter(col("doc_id") < 50)
        .select(col("doc_id").as("qid"))
        .crossJoin(broadcast(n))
        .select(col("qid"), col("n"),
          explode(sequence(lit(0L), lit(3L))).as("j"))
        .select(col("qid"), col("j"),
          pmod(conv(substring(md5(concat(lit("neg_"), col("qid"),
            lit("_"), col("j"))), 1, 8), 16, 10).cast("long"), col("n"))
            .as("raw"), col("n"))
        .select(col("qid"), col("j"),
          when(col("raw") === col("qid"), pmod(col("raw") + 1, col("n")))
            .otherwise(col("raw")).as("neg_id"))
    }),

    // ───── source-fair interleave order: the deterministic training
    // order that round-robins sources — docs ranked within their source
    // by a replayable hash (a per-source window: entity-keyed, scales),
    // then position = (rank−1)·n_sources + source_index with the source
    // index from a broadcast ~20-row dimension. No global window, yet
    // the output is a total order with every source appearing once per
    // cycle while it lasts
    "x80_interleave_order" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .filter(col("doc_id").isNotNull && col("source").isNotNull)
      val srcIdx = docs.select(col("source")).distinct()
        .withColumn("src_idx",
          (row_number().over(Window.orderBy(col("source"))) - 1).cast("long"))
      val nSrc = srcIdx.agg(count(lit(1)).as("n_src"))
      val h = conv(substring(md5(concat(lit("ord_"), col("doc_id"))), 1, 12),
        16, 10).cast("long")
      val bySource = Window.partitionBy(col("source"))
        .orderBy(col("h"), col("doc_id"))
      docs.select(col("doc_id"), col("source"), h.as("h"))
        .withColumn("rank_in_src", row_number().over(bySource).cast("long"))
        .join(broadcast(srcIdx), Seq("source"))
        .crossJoin(broadcast(nSrc))
        .select(col("doc_id"), col("source"),
          ((col("rank_in_src") - 1) * col("n_src") + col("src_idx"))
            .as("position"))
    }),

    // ───── metadata-filtered ANN: top-5 by cosine among candidates
    // passing a structured predicate (label of the opposite parity —
    // ~half the corpus). THE production retrieval shape x52's pure
    // vector path doesn't cover: the filter applies BEFORE ranking
    // (post-filtering a fixed-k list under-returns), and because it is
    // a plain Catalyst predicate it prunes ahead of the scored join —
    // at scale it also prunes IVF cells/partitions. Same exact-cosine
    // ranking and tiebreaks as x05
    "x81_filtered_ann" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
        .filter(col("label").isNotNull)
      val qs = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
          col("label").as("qlabel"))
      val cand = emb.select(col("vec_id"), col("embedding"), col("label"))
      val scored = cand
        .join(broadcast(qs), col("vec_id") =!= col("qid") &&
          // % (dividend-signed), not pmod: matches the oracle's % for
          // negative labels
          col("label") % 2 =!= col("qlabel") % 2)
        .select(col("qid"), col("vec_id"),
          (graft.similarity.Similarity.dot(col("qvec"), col("embedding")) /
            (sqrt(graft.similarity.Similarity.dot(col("qvec"), col("qvec"))) *
              sqrt(graft.similarity.Similarity.dot(col("embedding"), col("embedding")))))
            .as("cos"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("vec_id"))
      scored.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("qid"), col("rank"), col("vec_id").as("neighbor_id"),
          round(col("cos"), 4).as("cos_sim"))
    }),

    // ───── Z-order layout keys: Morton-interleave two 8-bit bucket ids
    // (length bucket × language index) into one locality-preserving sort
    // key — the write-layout primitive behind multi-dimensional data
    // skipping (sort/partition by z, and range pruning works on BOTH
    // dimensions at once). Pure bit arithmetic unrolled over 8 bit
    // positions, identical in both engines; buckets are data-derived
    // (n_chars div 64 capped at 255, language index from a broadcast
    // ~5-row dimension)
    "x82_zorder_layout" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .filter(col("doc_id").isNotNull && col("lang").isNotNull &&
          col("n_chars").isNotNull)
      val langIdx = docs.select(col("lang")).distinct()
        .withColumn("yb",
          (row_number().over(Window.orderBy(col("lang"))) - 1).cast("long"))
      val xb = least(expr("n_chars div 64"), lit(255L)).as("xb")
      val withBuckets = docs.join(broadcast(langIdx), Seq("lang"))
        .select(col("doc_id"), col("lang"), xb, col("yb"))
      // the canonical Morton key (graft.ops.ZOrder.zKey — shiftright ==
      // div for these non-negative buckets); ZOrder.writeZOrdered turns
      // it into an actual skipping layout, measured in ZOrderSpec
      withBuckets.select(col("doc_id"), col("xb"), col("yb"),
        graft.ops.ZOrder.zKey(col("xb"), col("yb")).as("z"))
    }),

    // ───── SCD2 history build: three deterministic snapshot versions of
    // the corpus (text revisions keyed off doc_id arithmetic, presence
    // windows for late-added/early-removed docs) → one validity-interval
    // row per (doc_id, consecutive run of equal fingerprints):
    // valid_from = first version of the run, valid_to = last (3 = still
    // current). The slowly-changing-dimension bookkeeping the reference
    // approximates with updated/created columns, as one window pass over
    // (doc, version) fingerprints — change detection via lag, run close
    // via lead on the change rows only. Shuffles fingerprints on doc_id;
    // text never moves
    "x83_scd2_history" -> ((s, d) => scd2History(s, d)),

    // ───── SCD2 point-in-time reconstruction: the state of every doc AS
    // OF version 2, read from x83's history by the interval predicate
    // valid_from <= v <= valid_to — the query side of the slowly-
    // changing-dimension pair (x83 builds, THIS reads; the round-trip
    // law "PIT(v) == snapshot v" is pinned in CorpusQueriesSpec)
    "x147_scd2_pit" -> ((s, d) => {
      scd2History(s, d)
        .filter(col("valid_from") <= 2 && col("valid_to") >= 2)
        .select(col("doc_id"), col("fp"))
    }))

  /** x83's SCD2 build (three synthetic snapshots -> fingerprint runs with
    * presence gaps), shared with x147's point-in-time read. */
  private def scd2History(s: SparkSession, d: String): DataFrame = {
      val docs = t(s, d, "documents").filter(col("doc_id").isNotNull)
      def snap(v: Int): DataFrame = {
        val rev =
          if (v == 1) when(col("doc_id") % 3 === 0,
            concat(col("text"), lit(" r1"))).otherwise(col("text"))
          else if (v == 2) when(col("doc_id") % 2 === 0,
            concat(col("text"), lit(" r2"))).otherwise(col("text"))
          else col("text")
        // presence: v1 lacks docs ≡ 1 (mod 13); v3 drops docs ≡ 2 (mod 17)
        val present =
          if (v == 1) col("doc_id") % 13 =!= 1
          else if (v == 3) col("doc_id") % 17 =!= 2
          else lit(true)
        docs.filter(present)
          .select(col("doc_id"), lit(v.toLong).as("version"),
            TextOps.fingerprint(rev).as("fp"))
      }
      val versions = snap(1).unionByName(snap(2)).unionByName(snap(3))
      val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("version"))
      // gaps-and-islands: a run starts at the first version, after a
      // fingerprint change, or after a presence gap; runs close at their
      // last PRESENT version (valid_to = 3 ⇔ still current)
      val runs = versions
        .withColumn("prev_fp", lag(col("fp"), 1).over(byDoc))
        .withColumn("prev_v", lag(col("version"), 1).over(byDoc))
        .withColumn("new_run",
          (col("prev_fp").isNull || col("prev_fp") =!= col("fp") ||
            col("prev_v") =!= col("version") - 1).cast("long"))
        .withColumn("run_id", sum(col("new_run")).over(
          byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      runs.groupBy(col("doc_id"), col("run_id"))
        .agg(min(col("fp")).as("fp"),
          min(col("version")).as("valid_from"),
          max(col("version")).as("valid_to"))
        .select(col("doc_id"), col("fp"), col("valid_from"), col("valid_to"))
  }

  private lazy val phashDefs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ───── perceptual-hash near-dup over binary payloads (the image-dedup
    // shape on the multimodal columns): 64-bit aHash — bit_i = byte_i ≥
    // mean of the first 64 payload bytes, compared by integer
    // cross-multiply (byte·64 ≥ Σ) so no division — banded into 4×16-bit
    // exact-match bands (pigeonhole: any pair at Hamming ≤ 3 = bands − 1
    // shares an untouched band, so recall is EXACT at the verify
    // threshold 3; a higher threshold needs more/narrower bands), then
    // Hamming-verified via bit_count(xor). One hex projection per asset
    // before the explode (the byte loop is exploded rows, never a lambda
    // over the payload); only 16-bit bands and ids shuffle
    "x84_phash_neardup" -> ((s, d) => {
      val base = t(s, d, "documents")
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
        // slice the BINARY to 64 bytes BEFORE hexing: hex is byte-local,
        // so hex(substring(bin, 1, 64)) ≡ substring(hex(bin), 1, 128)
        // exactly — but the old order hex-encoded the ENTIRE payload
        // (2× its size in fresh string) per row just to keep 128 chars
        // (r16 census: the aHash stage burned ~5 CPU-s at sf0.1, mostly
        // this allocation). At 100 TB this is the difference between
        // hexing 64 B and hexing the whole asset per row.
        .select(col("doc_id").as("asset_id"),
          hex(substring(col("text").cast("binary"), 1, 64)).as("hx"),
          length(col("text").cast("binary")).as("n"))
        .filter(col("n") >= 64)
      val bytes = base
        .select(col("asset_id"), col("hx"),
          explode(sequence(lit(0L), lit(63L))).as("i"))
        .select(col("asset_id"), col("i"),
          expr("CAST(conv(substring(hx, CAST(i * 2 + 1 AS INT), 2), 16, 10) AS BIGINT)")
            .as("byte"))
      val sums = bytes.groupBy(col("asset_id")).agg(sum(col("byte")).as("s"))
      // gate-broadcast the per-asset sums (one narrow row per asset) so
      // the 64×-wider bytes frame never shuffles for this join — it
      // flows map-side from the scan straight into the band fold's one
      // exchange (r13; estimate-gated fallback at asset counts beyond
      // the threshold, where the planner's shuffle join is the shape)
      val wide = bytes.join(
          graft.ops.Relational.gatedBroadcast(sums), Seq("asset_id"))
        .select(col("asset_id"), expr("i div 16").as("j"),
          expr("shiftleft(CAST(CASE WHEN byte * 64 >= s THEN 1 ELSE 0 END AS BIGINT), " +
            "CAST(i % 16 AS INT))").as("term"))
        .groupBy(col("asset_id"))
        .agg(sum(when(col("j") === 0, col("term"))).as("b0"),
          sum(when(col("j") === 1, col("term"))).as("b1"),
          sum(when(col("j") === 2, col("term"))).as("b2"),
          sum(when(col("j") === 3, col("term"))).as("b3"))
      // hot-bucket guard: aHash bands over real image corpora are heavily
      // non-uniform (flat/black frames collapse onto a few band values) —
      // a plain (j, band) self-join turns quadratic inside one task on a
      // hot band. boundedWideBandPairs triangle-decomposes hot buckets,
      // carries both band vectors through generation (Hamming verify is
      // the projection below — no re-join of candidates against the wide
      // frame) and dedups cross-band duplicates by first-matching-band
      // instead of a distinct(): one shuffle end to end, same pair set
      Skew.boundedWideBandPairs(wide, "asset_id", Seq("b0", "b1", "b2", "b3"))
        .select(col("id_a"), col("id_b"),
          expr("CAST(bit_count(bands_a[0] ^ bands_b[0]) " +
            "+ bit_count(bands_a[1] ^ bands_b[1]) " +
            "+ bit_count(bands_a[2] ^ bands_b[2]) " +
            "+ bit_count(bands_a[3] ^ bands_b[3]) AS BIGINT)").as("hamming"))
        .filter(col("hamming") <= 3)
        .select(col("id_a"), col("id_b"), col("hamming"))
    }),

    // ───── quantile discretization: per-source quartile thresholds from
    // the GK sketch (x28's operator — bounded state, exact in the ≤
    // accuracy regime where the oracle can replay it), broadcast back and
    // applied as a pure projection. The "bin quality scores into
    // curriculum tiers" step: threshold pass never buffers values, the
    // binning pass never shuffles
    // ───── one label-propagation step (community detection over the
    // customer→supplier graph x67 also walks): each supplier adopts the
    // MAJORITY label among its customers (count desc, label asc tiebreak —
    // fully deterministic). Two partial-combined aggregations, no window:
    // the argmax is max(struct(cnt, -label)), so no per-key sort and no
    // straggler on a high-degree supplier. Iterate = re-run with labels
    // from the previous step (same shuffle profile per round, like x67)
    "x85_label_propagation" -> ((s, d) => {
      val edges = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .filter(col("o_custkey").isNotNull && col("l_suppkey").isNotNull)
        .select(col("o_custkey").as("c"), col("l_suppkey").as("sp"))
        .distinct()
      val counts = edges.withColumn("lbl", col("c") % 7)
        .groupBy(col("sp"), col("lbl")).agg(count(lit(1)).as("cnt"))
      counts.groupBy(col("sp"))
        .agg(sum(col("cnt")).as("n_nbrs"),
          max(struct(col("cnt"), (-col("lbl")).as("nl"))).as("m"))
        .select(col("sp").as("suppkey"), col("n_nbrs"),
          (-col("m.nl")).as("label"))
    }),

    // ───── KMV (k-minimum-values / "theta") sketch set operations: per
    // source, the k=32 smallest distinct md5 fractions of doc ids — kept
    // by the SAME bounded-state TopK aggregator as x55/x56 (≤ k rows per
    // group map-side, no per-source window sort) — then distinct-count,
    // union and intersection ESTIMATES per source pair from sketch merges
    // alone. est = (k-1)·2^48 div kth-min (integer-exact; exact count when
    // a source holds < k distinct values). The mergeable-summary answer
    // to "how much do these two crawls overlap" that never touches the
    // raw corpus twice
    "x86_kmv_set_ops" -> ((s, d) => {
      import graft.ops.TopK
      val k = 32
      val hashes = t(s, d, "documents")
        .filter(col("source").isNotNull && col("doc_id").isNotNull)
        .select(col("source"),
          expr("CAST(conv(substring(md5(concat('kmv_', CAST(doc_id AS STRING))), 1, 12), 16, 10) AS BIGINT)")
            .as("h"))
        .distinct()
      val sk = hashes
        .groupBy(col("source"))
        .agg(TopK.topK(k)(-col("h"), col("h").cast("string")).as("tk"))
        .cacheRegistered
      val est = sk.select(col("source"), size(col("tk.items")).as("n"),
          (-element_at(col("tk.items.score"), -1)).as("kh"))
        .select(col("source"),
          when(col("n") < k, col("n").cast("long"))
            .otherwise(expr(s"(${k - 1} * 281474976710656) div kh")).as("est"))
      val rows = sk.select(col("source"), explode(col("tk.items")).as("it"))
        .select(col("source"), (-col("it.score")).as("h"))
      val pairs = est.as("a").join(est.as("b"),
          col("a.source") < col("b.source"))
        .select(col("a.source").as("sa"), col("b.source").as("sb"),
          col("a.est").as("est_a"), col("b.est").as("est_b"))
      val uh = rows.join(pairs.select("sa", "sb"), col("source") === col("sa"))
        .select(col("sa"), col("sb"), col("h"))
        .union(rows.join(pairs.select("sa", "sb"), col("source") === col("sb"))
          .select(col("sa"), col("sb"), col("h")))
        .distinct()
      val w = Window.partitionBy(col("sa"), col("sb")).orderBy(col("h"))
      val ukth = uh.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k)
        .groupBy(col("sa"), col("sb"))
        .agg(max(col("h")).as("kh"), count(lit(1)).as("n"))
        .select(col("sa"), col("sb"),
          when(col("n") < k, col("n").cast("long"))
            .otherwise(expr(s"(${k - 1} * 281474976710656) div kh"))
            .as("est_union"))
      pairs.join(ukth, Seq("sa", "sb"))
        .select(col("sa"), col("sb"), col("est_a"), col("est_b"),
          col("est_union"),
          greatest(col("est_a") + col("est_b") - col("est_union"), lit(0L))
            .as("est_inter"))
    }),

    "x68_quantile_bins" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // exactness guard: the GK sketch behind approx_percentile is exact
      // only while a group's non-null count stays within `accuracy`, and
      // the DuckDB oracle replays EXACT quantiles — so accuracy scales
      // with the largest source (one bounded scalar aggregate) instead of
      // trusting the tested SFs to stay under a constant. Costs one
      // map-side-combined count pass; keeps parity at any SF
      val maxRow = docs.filter(col("n_chars").isNotNull)
        .groupBy(col("source")).agg(count(lit(1)).as("n"))
        .agg(max(col("n"))).head()
      val accuracy =
        if (maxRow.isNullAt(0)) 10000L else math.max(10000L, maxRow.getLong(0))
      val th = docs.groupBy(col("source"))
        .agg(expr(s"approx_percentile(n_chars, array(0.25, 0.5, 0.75), $accuracy)")
          .as("th"))
      docs.join(broadcast(th), Seq("source"))
        .select(col("doc_id"), col("source"), col("n_chars"),
          when(col("n_chars").isNull, lit(null).cast("long"))
            .when(col("n_chars") <= element_at(col("th"), 1), lit(0L))
            .when(col("n_chars") <= element_at(col("th"), 2), lit(1L))
            .when(col("n_chars") <= element_at(col("th"), 3), lit(2L))
            .otherwise(lit(3L)).as("bin"))
    }),

    // ───── blocked record linkage by edit distance: the classic
    // block-then-compare shape (block on a normalized 8-char prefix, then
    // banded levenshtein on the 40-char prefix, threshold 4). The
    // threshold argument makes Spark's levenshtein an O(threshold·n)
    // banded DP that bails out at -1 instead of filling the full matrix —
    // the comparison cost per candidate is bounded no matter how long the
    // strings get. Candidates exist only inside a block, so the join is a
    // plain equi-shuffle on the block key; block populations are corpus-
    // vocabulary-bounded (prefix space), and a degenerate block (every
    // doc opening with the same boilerplate) is exactly the hot-bucket
    // case the banded-LSH guard machinery handles — at 100 TB this runs
    // behind the same population cap as minhashLshPairs
    "x87_blocked_editdist" -> ((s, d) => {
      val p = t(s, d, "documents")
        .filter(col("text").isNotNull && col("doc_id").isNotNull)
        .select(col("doc_id"), TextOps.normalize(col("text")).as("nm"))
        .select(col("doc_id"), substring(col("nm"), 1, 8).as("blk"),
          substring(col("nm"), 1, 40).as("pre"))
      val a = p.select(col("blk"), col("doc_id").as("doc_a"),
        col("pre").as("pre_a"))
      val b = p.select(col("blk"), col("doc_id").as("doc_b"),
        col("pre").as("pre_b"))
      a.join(b, Seq("blk"))
        .filter(col("doc_a") < col("doc_b"))
        .withColumn("dist",
          levenshtein(col("pre_a"), col("pre_b"), 4).cast("long"))
        .filter(col("dist") >= 0)
        .select(col("doc_a"), col("doc_b"), col("dist"))
    }),

    // ───── k-anonymity audit with a generalization ladder: for the
    // quasi-identifier (nation, segment), each equivalence class reports
    // its exact population, its population after one generalization step
    // (segment suppressed), and the minimal generalization level at which
    // it clears k=10 (2 = still identifiable → suppress). Two partial-
    // combined aggregations joined on the coarser key — the finer count
    // table is grouped-key-sized, not row-sized, so the join never sees
    // the raw corpus twice. The privacy-audit step a training pipeline
    // runs before releasing per-user aggregates
    "x88_kanonymity" -> ((s, d) => {
      val k = 10
      val c = t(s, d, "customer")
        .select(col("c_nationkey"), col("c_mktsegment"))
      val exact = c.groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n_exact"))
      val gen = c.groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_gen"))
      exact.join(gen, Seq("c_nationkey"))
        .select(col("c_nationkey"), col("c_mktsegment"),
          col("n_exact"), col("n_gen"),
          when(col("n_exact") >= k, lit(0L))
            .when(col("n_gen") >= k, lit(1L))
            .otherwise(lit(2L)).as("gen_level"))
    }),

    // ───── triangle enumeration over the above-mean trade graph: nation
    // pairs whose customer→supplier lineitem flow exceeds the mean flow
    // become undirected edges (stored once, a < b — already the
    // degree-ordered orientation), and triangles are two self-joins over
    // that edge list. The scale split is deliberate: the only row-scale
    // work is the flow aggregation, which partial-combines billions of
    // lineitems down to ≤ C(|nation|,2) pairs before any join; the mean
    // threshold is a one-row broadcast (integer cross-multiply, no
    // float); the triangle joins run on the dimension-bounded edge list
    // and are explicitly broadcast. For entity-scale graphs the same
    // oriented shape bounds join fan-out by max out-degree (the MR
    // triangle-counting recipe); here the orientation is by key order
    "x89_trade_triangles" -> ((s, d) => {
      val oc = t(s, d, "orders")
        .join(t(s, d, "customer"),
          col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_nationkey").as("cn"))
      val ls = t(s, d, "lineitem")
        .join(t(s, d, "supplier"),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("l_orderkey"), col("s_nationkey").as("sn"))
      // cache the dimension-bounded flow table (≤ C(|nation|,2) rows) so
      // the row-scale join+aggregation runs ONCE — the mean threshold and
      // every triangle leg derive from the cached rows (same caller-
      // managed-cache convention as x86; Verify clears caches between
      // queries)
      val flow = oc.join(ls, col("o_orderkey") === col("l_orderkey"))
        .filter(col("cn") =!= col("sn"))
        .select(least(col("cn"), col("sn")).as("a"),
          greatest(col("cn"), col("sn")).as("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("w"))
        .cacheRegistered
      val stats = flow.agg(sum(col("w")).as("sw"), count(lit(1)).as("np"))
      val edges = flow.crossJoin(broadcast(stats))
        .filter(col("w") * col("np") > col("sw"))
        .select(col("a"), col("b"))
      val e1 = broadcast(edges.select(col("a").as("a1"), col("b").as("b1")))
      val e2 = broadcast(edges.select(col("a").as("a2"), col("b").as("b2")))
      val e3 = broadcast(edges.select(col("a").as("a3"), col("b").as("b3")))
      e1.join(e2, col("b1") === col("a2"))
        .join(e3, col("a1") === col("a3") && col("b2") === col("b3"))
        .select(col("a1").as("n_a"), col("b1").as("n_b"),
          col("b2").as("n_c"))
    }),

    // ───── consistent-hash-ring rebalance audit: the same 16-vnode ring
    // hashed per shard (md5, 48-bit positions), old topology = shards
    // 0–7, new = 0–11 — the old ring is a strict subset of the new, so a
    // document moves only when one of the four NEW shards' vnodes lands
    // between the doc and its old successor: the ~1/3 minimal-movement
    // property that mod-N resharding (x62) cannot give. Assignment is a
    // pure projection: the sorted ring is ONE broadcast row and the
    // successor lookup is an array `filter` + first-element per doc — no
    // per-doc join, no shuffle until the final movement-matrix count.
    // try_element_at keeps the empty-suffix wraparound null-safe under
    // ANSI semantics
    "x90_ring_reshard" -> ((s, d) => {
      val ring = s.range(12).toDF("shard")
        .select(col("shard"), explode(sequence(lit(0), lit(15))).as("v"))
        .withColumn("rh", expr(
          "CAST(conv(substring(md5(concat('ring_', CAST(shard AS STRING), " +
            "'_', CAST(v AS STRING))), 1, 12), 16, 10) AS BIGINT)"))
      val rings = ring.agg(
        sort_array(collect_list(struct(col("rh"), col("shard"))))
          .as("ring12"),
        sort_array(collect_list(
          when(col("shard") < 8, struct(col("rh"), col("shard")))))
          .as("ring8"))
      t(s, d, "documents").filter(col("doc_id").isNotNull)
        .select(col("doc_id"), expr(
          "CAST(conv(substring(md5(concat('docr_', CAST(doc_id AS STRING)" +
            ")), 1, 12), 16, 10) AS BIGINT)").as("dh"))
        .crossJoin(broadcast(rings))
        .select(col("doc_id"),
          coalesce(
            expr("try_element_at(filter(ring8, x -> x.rh > dh), 1)"),
            expr("try_element_at(ring8, 1)")).getField("shard")
            .as("old_shard"),
          coalesce(
            expr("try_element_at(filter(ring12, x -> x.rh > dh), 1)"),
            expr("try_element_at(ring12, 1)")).getField("shard")
            .as("new_shard"))
        .groupBy(col("old_shard"), col("new_shard"))
        .agg(count(lit(1)).as("n_docs"))
    }),

    // ───── collocation mining (PMI ranking): adjacent-token bigrams
    // scored by c_ab / (c_a·c_b) — within one corpus the corpus-size
    // factor of PMI is a constant, so ranking by the integer cross-ratio
    // (parts-per-billion, integer division) reproduces the PMI order with
    // no float and no log. Bigrams are a pure projection (slice+zip of
    // the token array — no window, no per-doc shuffle); the two count
    // tables partial-combine, and the unigram side joined twice is
    // vocabulary-sized, not corpus-sized. Support ≥ 5 prunes the hapax
    // tail before the join. ppb products stay under 10^14 at any tested
    // SF; at corpus scale the scale factor drops a decade per 10× growth
    "x91_collocations" -> ((s, d) => {
      val toks = t(s, d, "documents")
        .filter(col("text").isNotNull && col("doc_id").isNotNull)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("tk"))
      val bi = toks
        .select(explode(when(size(col("tk")) >= 2,
          arrays_zip(
            slice(col("tk"), lit(1), size(col("tk")) - 1).as("ta"),
            slice(col("tk"), lit(2), size(col("tk")) - 1).as("tb")))
          .otherwise(array().cast("array<struct<ta:string,tb:string>>")))
          .as("bg"))
        .select(col("bg.ta").as("ta"), col("bg.tb").as("tb"))
        .filter(col("ta") =!= "" && col("tb") =!= "")
        .groupBy(col("ta"), col("tb")).agg(count(lit(1)).as("c_ab"))
        .filter(col("c_ab") >= 5)
      val uni = toks.select(explode(col("tk")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      bi.join(uni.select(col("tok").as("ta"), col("c").as("c_a")), Seq("ta"))
        .join(uni.select(col("tok").as("tb"), col("c").as("c_b")), Seq("tb"))
        .select(col("ta"), col("tb"), col("c_ab"), col("c_a"), col("c_b"),
          expr("(c_ab * CAST(1000000000 AS BIGINT)) div (c_a * c_b)")
            .as("score_ppb"))
        .orderBy(col("score_ppb").desc, col("c_ab").desc, col("ta"),
          col("tb"))
        .limit(20)
    }),

    // ───── item-item collaborative filtering with capped neighborhoods:
    // "customers of this supplier also buy from" — co-purchase strength
    // over DETERMINISTICALLY bounded lists (top-20 customers per supplier,
    // then top-10 suppliers per kept customer, ties broken by key), so
    // candidate fan-out per customer is ≤ cap² no matter how hot the
    // entity: the neighborhood-capping recipe that keeps item-CF linear
    // at catalog scale, where the uncapped co-purchase self-join is
    // quadratic in the hottest key. Both windows are entity-keyed
    // (cardinality ≫ cores); the final top-3 ranks ≤ cap² candidates
    "x92_related_items" -> ((s, d) => {
      // gate-broadcast the two-column orders side: the lineitem side then
      // flows from its scan straight into the (cust, supp) aggregation's
      // one exchange instead of paying the SMJ's two sort-exchanges
      // (r14 census; estimate-gated — at orders sizes beyond the
      // threshold the planner's shuffle join returns)
      val w = graft.ops.Relational.gatedBroadcast(
          t(s, d, "orders").select(col("o_orderkey"), col("o_custkey")))
        .join(t(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .filter(col("o_custkey").isNotNull && col("l_suppkey").isNotNull)
        .groupBy(col("o_custkey"), col("l_suppkey"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("sp"),
          col("cnt"))
      val perSupp = Window.partitionBy(col("sp"))
        .orderBy(col("cnt").desc, col("c"))
      val s1 = w.withColumn("rn", row_number().over(perSupp))
        .filter(col("rn") <= 20).drop("rn")
      val perCust = Window.partitionBy(col("c"))
        .orderBy(col("cnt").desc, col("sp"))
      // cache: the capped neighborhood frame feeds BOTH sides of the
      // co-purchase self-join — without the pin each side re-evaluates
      // the whole join+agg+two-window chain (r14 census: the duplicated
      // window subtree was the redundant half of the plan). Bounded by
      // construction: ≤ 10 rows per kept customer
      val s2 = s1.withColumn("rn", row_number().over(perCust))
        .filter(col("rn") <= 10).drop("rn", "cnt").cacheRegistered
      val pairs = s2.select(col("c"), col("sp").as("sp_a"))
        .join(s2.select(col("c"), col("sp").as("sp_b")), Seq("c"))
        .filter(col("sp_a") =!= col("sp_b"))
        .groupBy(col("sp_a"), col("sp_b")).agg(count(lit(1)).as("shared"))
      val rank = Window.partitionBy(col("sp_a"))
        .orderBy(col("shared").desc, col("sp_b"))
      pairs.withColumn("rank", row_number().over(rank).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("sp_a").as("suppkey"), col("rank"),
          col("sp_b").as("partner"), col("shared"))
    }),

    // ───── 2-D Pareto frontier (skyline): documents not dominated on
    // (n_tokens ↑, distinct-token ppm ↑) — the multi-criteria selection
    // step ("longest AND most lexically diverse") that a curation
    // pipeline runs where a single score would force an arbitrary
    // weighting. The 2-D frontier needs no pairwise dominance join: group
    // to one row per x value (max y), then a point survives iff its y
    // beats the EXCLUSIVE prefix-max over strictly larger x — computed
    // with Relational.prefixMax, the two-level range-partitioned scan, so
    // the plan has no single-partition exchange and no quadratic join.
    // Integer surfaces throughout (count, distinct-count, ppm division)
    "x93_pareto_docs" -> ((s, d) => {
      import graft.ops.Relational
      val st = TextOps.tokenRows(
          t(s, d, "documents").filter(col("text").isNotNull &&
            col("doc_id").isNotNull), "doc_id", "text")
        .filter(col("tok") =!= "")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n"), countDistinct(col("tok")).as("k"))
        .select(col("doc_id"), col("n"),
          expr("(k * CAST(1000000 AS BIGINT)) div n").as("dppm"))
      val g = st.groupBy(col("n")).agg(max(col("dppm")).as("best"))
        .withColumn("negn", -col("n"))
      val pm = Relational.prefixMax(g, "negn", "best", "pm", 256L)
      val frontier = pm
        .filter(col("best") > coalesce(col("pm"), lit(-1L)))
        .select(col("n"), col("best"))
      st.join(frontier, Seq("n"))
        .filter(col("dppm") === col("best"))
        .select(col("doc_id"), col("n").as("n_tokens"),
          col("dppm").as("distinct_ppm"))
    }),

    // ───── per-document shingle novelty: the fraction of a document's
    // word-bigram shingles whose FIRST corpus occurrence (by doc_id
    // order) is this document — the "how much genuinely new content does
    // each slice add" curve that drives crawl prioritization and
    // diminishing-returns analysis. Inverted-index shape: shingle →
    // min(doc_id) partial-combines map-side, the join back is keyed on
    // the shingle (ids shuffle, text never does), and the per-doc rollup
    // shares one tokenization. Integer ppm surface
    "x94_shingle_novelty" -> ((s, d) => {
      val sh = TextOps.shingleRows(
        t(s, d, "documents")
          .filter(col("doc_id").isNotNull && col("text").isNotNull),
        "doc_id", "text", 2)
      val first = sh.groupBy(col("g")).agg(min(col("doc_id")).as("first_doc"))
      sh.join(first, Seq("g"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("novel"))
        .select(col("doc_id"), col("n_shingles"), col("novel"),
          expr("(novel * CAST(1000000 AS BIGINT)) div n_shingles")
            .as("novelty_ppm"))
    }),

    // ───── audio-window energy over REAL WAV containers: documents are
    // wrapped as genuine mono PCM16 RIFF payloads (deterministic in the
    // text bytes), the engine walks the actual chunk structure
    // (AudioCodecs.decodeWav — strict fmt/data validation), and each
    // asset fans out to integer-exact per-window energies (sum of squared
    // int16 samples per 256-sample window) — the silence-trim /
    // voice-activity row shape. Decode is mapPartitions at the engine
    // boundary; payloads never shuffle, only fixed-width window rows flow
    // on. The synthesis is replayable, so the oracle re-derives every
    // window from the same bytes without a WAV parser
    "x95_audio_energy" -> ((s, d) => {
      Multimodal.audioWindowEnergies(
        Multimodal.documentsAsWavAssets(t(s, d, "documents")), 256).toDF()
    }),

    // ───── blocklist scan: Aho–Corasick multi-pattern substring counts
    // (PII lexicons / toxicity phrases / licensing boilerplate). ONE pass
    // over each document's characters counts every occurrence of every
    // pattern — overlaps included ("batch batch" in "batch batch batch"
    // matches twice) — vs k contains/regex passes; the automaton is
    // driver-built from the bounded lexicon and broadcast, the scan is a
    // lazy mapPartitions projection, text never shuffles
    "x96_blocklist_scan" -> ((s, d) =>
      graft.text.AhoCorasick.scan(
        t(s, d, "documents"), "doc_id", "text", blocklistPatterns)),

    // ───── content-defined chunking dedup: chunk boundaries fall where a
    // rolling hash of the trailing 8 chars ≡ 0 (mod 32) — so an insertion
    // near the head SHIFTS boundaries only until the next hash-anchored
    // cut, unlike fixed-size chunks (x38) where one insertion re-frames
    // every downstream chunk. The FastCDC/rsync boundary idea as a pure
    // engine-side expression: the per-doc boundary scan is a projection
    // (O(len·8) higher-order fold, no UDF), only (doc_id, chunk_hash)
    // rows shuffle for the corpus-wide frequency join, text never does.
    // Engine-portable arithmetic (base-31 polynomial mod 2^31-1 over
    // char codes) so the oracle replays boundaries bit-for-bit
    "x97_cdc_chunks" -> ((s, d) => {
      val ch = t(s, d, "documents")
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
        // boundary scan via the codegen kernel (graft.expressions
        // .CdcBoundaries) — one linear pass per row; semantically
        // identical to the interpreted filter×aggregate HOF form it
        // replaced (StringExpressionSpec locks the equivalence), which
        // cost 29 s at sf0.1 purely in per-char interpreter overhead
        .withColumn("bounds", Natives.cdcBounds(col("text")))
        .select(col("doc_id"), explode(expr(
          "zip_with(concat(array(1), transform(bounds, b -> b + 1)), " +
            "concat(bounds, array(length(text))), " +
            "(s, e) -> md5(substring(text, s, e - s + 1)))")).as("h"))
      val fr = ch.groupBy(col("h"))
        .agg(countDistinct(col("doc_id")).as("nd"))
      ch.join(fr, Seq("h"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
        .select(col("doc_id"), col("n_chunks"), col("n_dup_chunks"),
          expr("(n_dup_chunks * CAST(1000000 AS BIGINT)) div n_chunks")
            .as("dup_ppm"))
    }),

    // ───── robust outlier flags: median/MAD (median absolute deviation)
    // per source — the outlier rule that survives the heavy-tailed length
    // distributions where mean/stddev break (one 10 MB document drags a
    // z-score threshold; it barely moves a median). Flag = deviation >
    // 3·MAD, raw (the 1.4826 normal-consistency constant is omitted to
    // keep every surface an exact binary fraction both engines reproduce
    // bit-for-bit). Exact interpolated percentiles buffer per GROUP —
    // bounded by per-source row counts, same regime note as x16; swap in
    // the GK sketch (x28) when groups stop fitting
    "x98_mad_outliers" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .filter(col("doc_id").isNotNull && col("source").isNotNull &&
          col("n_chars").isNotNull)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val med = docs.groupBy(col("source"))
        .agg(expr("percentile(n_chars, 0.5)").as("med"))
      val dev = docs.join(med, Seq("source"))
        .withColumn("adev", abs(col("n_chars") - col("med")))
      val mad = dev.groupBy(col("source"))
        .agg(expr("percentile(adev, 0.5)").as("mad"))
      dev.join(mad, Seq("source"))
        .select(col("doc_id"), col("source"), col("n_chars"), col("med"),
          col("mad"), (col("adev") > lit(3.0) * col("mad")).as("is_outlier"))
    }),

    // ───── event-type transition matrix: per-user consecutive event
    // pairs (lag window keyed on user — one shuffle by user_id, ordered
    // ts with event_id tiebreak) rolled up to (from, to) counts and an
    // integer-exact mean gap in millis (sum div count). The Markov-chain
    // view of behavioral flows — the step funnel analysis (x73) and
    // retention (x74) don't cover
    "x99_event_transitions" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val ev = t(s, d, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull &&
          col("event_type").isNotNull)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("ts"), unix_millis(col("ts")).as("ms"))
      ev.select(col("user_id"), col("event_type").as("from_type"),
          lead(col("event_type"), 1).over(w).as("to_type"),
          (lead(col("ms"), 1).over(w) - col("ms")).as("gap_ms"))
        .filter(col("to_type").isNotNull)
        .groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"),
          expr("sum(gap_ms) div count(1)").as("mean_gap_ms"))
    }),

    // ───── trailing-window rate anomaly: per-(event_type, day) counts
    // scored against the strictly-trailing 7-day baseline (RANGE frame
    // -7..-1 on the integer day number — excludes today so a spike can't
    // inflate its own baseline; missing days are simply absent from the
    // sparse frame). The 3σ rule is a cross-multiplied integer
    // inequality:  (n − s/m)² > 9·(m·q − s²)/m²  ⇔  (m·n − s)² >
    // 9·(m·q − s²)  with m = trailing days present, s = Σcount,
    // q = Σcount² — no doubles, no sqrt, bit-stable in both engines.
    // Exact in BIGINT while per-day counts stay under ~1e8; past that
    // the quadratic terms move to DECIMAL(38,0). Needs ≥ 3 baseline days.
    // Contrast x140: corpus-wide volume, ROWS frame (observed days, gap-
    // insensitive), strict 7-day history, 2σ — the frame-semantics twin
    "x100_rate_anomaly" -> ((s, d) => {
      val daily = t(s, d, "events")
        .filter(col("ts").isNotNull && col("event_type").isNotNull)
        .select(col("event_type"),
          expr("unix_millis(ts) div 86400000").as("day"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rangeBetween(-7, -1)
      daily
        .withColumn("m", count(col("n")).over(w))
        .withColumn("s", sum(col("n")).over(w))
        .withColumn("q", sum(col("n") * col("n")).over(w))
        .filter(col("m") >= 3)
        .select(col("event_type"), col("day"), col("n"), col("m"),
          col("s"), col("q"),
          expr("(m*n - s)*(m*n - s) > 9*(m*q - s*s)").as("is_anomaly"))
    }),

    // ───── distribution placement: ntile deciles + percent_rank +
    // cume_dist per source over a total order (n_chars with doc_id
    // tiebreak — ntile's bucket boundaries depend on the full ordering,
    // so the tiebreak is what makes assignments deterministic; it also
    // removes rank ties, so percent_rank/cume_dist reduce to single
    // divisions of exact integers, and IEEE-exact rounding makes those
    // doubles bit-identical across engines)
    "x101_length_deciles" -> ((s, d) => {
      val w = Window.partitionBy(col("source"))
        .orderBy(col("n_chars"), col("doc_id"))
      t(s, d, "documents")
        .filter(col("doc_id").isNotNull && col("source").isNotNull &&
          col("n_chars").isNotNull)
        .select(col("doc_id"), col("source"), col("n_chars"),
          ntile(10).over(w).cast("long").as("decile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"))
    }),

    // ───── grouping-sets report: (source, lang), (source), (lang), ()
    // in one pass — the Spark 4 Dataset `groupingSets` face (a single
    // Expand + one shuffle with partial aggregation), for the asymmetric
    // set lists rollup (x18) and cube (x59) can't express. The
    // g_source/g_lang flags disambiguate "NULL because aggregated away"
    // from a genuinely NULL group value
    "x102_grouping_sets" -> ((s, d) => {
      t(s, d, "documents")
        .filter(col("doc_id").isNotNull)
        .groupingSets(
          Seq(Seq(col("source"), col("lang")), Seq(col("source")),
            Seq(col("lang")), Seq.empty[Column]),
          col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          grouping(col("source")).cast("int").as("g_source"),
          grouping(col("lang")).cast("int").as("g_lang"))
    }),

    // ───── per-document TF-IDF keywords: tf over the shared
    // tokenization, document frequency over the corpus, rational idf
    // (N+1)/(df+1) folded into an integer-exact score
    //   score_ppm = tf · (N+1) · 1e6 div (df+1)
    // — no log, no doubles; for a fixed tf the rational idf induces the
    // same df-ordering as log-idf (both strictly decreasing in df), and
    // the scaled integer keeps both engines bit-identical. Exact in
    // BIGINT while tf·N·1e6 < ~9e18. Top-5 per doc by (score desc, tok)
    // through a row_number ≤ k filter → Spark's WindowGroupLimit keeps
    // only k + ties per doc ahead of the sort
    "x103_tfidf_keywords" -> ((s, d) => {
      val docs = t(s, d, "documents").filter(col("doc_id").isNotNull)
      val tf = TextOps.tokenRows(docs, "doc_id", "text")
        .filter(col("tok") =!= "")
        .groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score_ppm").desc, col("tok"))
      tf.join(dfreq, Seq("tok"))
        .crossJoin(broadcast(n))
        .withColumn("score_ppm",
          expr("(tf * (n_docs + 1) * CAST(1000000 AS BIGINT)) div (df + 1)"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 5)
        .select(col("doc_id"), col("tok"), col("tf"), col("df"),
          col("score_ppm"), col("rk"))
    }),

    // ───── last-touch attribution: each purchase is credited to the
    // most recent preceding click by the same user within a 7-day
    // lookback. One window pass (shuffle on user_id, total order
    // ts + event_id): the click id/ms carry forward as a conditional
    // `last ignoreNulls` running value — the id and ms carries are two
    // projections of the SAME null pattern, so they stay in lockstep
    // without a struct surface. Purchases outside the lookback (or with
    // no prior click) attribute to NULL
    "x104_click_attribution" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val lookbackMs = 7L * 86400000L
      val ev = t(s, d, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull &&
          col("event_type").isNotNull)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("ts"), unix_millis(col("ts")).as("ms"))
      val isClick = col("event_type") === "click"
      ev
        .withColumn("click_id",
          last(when(isClick, col("event_id")), ignoreNulls = true).over(w))
        .withColumn("click_ms",
          last(when(isClick, col("ms")), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          when(col("ms") - col("click_ms") <= lookbackMs, col("click_id"))
            .as("attributed_click"),
          when(col("ms") - col("click_ms") <= lookbackMs,
            col("ms") - col("click_ms")).as("gap_ms"))
    }),

    // ───── per-source distribution drift: Kolmogorov–Smirnov distance
    // between each source's n_chars distribution and the whole corpus,
    // as a scaled-integer sup  max |F_src − F_all| =
    // max |cum_s·N − cum_g·n_s| · 1e6 div (n_s·N)  evaluated on the
    // global jump-point grid (sources × distinct values — both sides
    // aggregates, so the cross join is small by construction; the sup of
    // a difference of step functions is attained at a jump of either).
    // Integer-exact while cum·N < ~9e18 — past that the cross-multiply
    // moves to DECIMAL(38,0). The drift monitor for "did this source's
    // length profile shift this snapshot"
    "x105_ks_drift" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .filter(col("source").isNotNull && col("n_chars").isNotNull)
        .select(col("source"), col("n_chars"))
      val perSrcVal = docs.groupBy(col("source"), col("n_chars"))
        .agg(count(lit(1)).as("c"))
      val values = docs.select(col("n_chars")).distinct()
      val sources = perSrcVal.groupBy(col("source"))
        .agg(sum(col("c")).as("n_src"))
      val globalVal = perSrcVal.groupBy(col("n_chars"))
        .agg(sum(col("c")).as("cg"))
      val nTotal = docs.agg(count(lit(1)).as("n_all"))
      val w = Window.partitionBy(col("source")).orderBy(col("n_chars"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      broadcast(sources).crossJoin(values)
        .join(perSrcVal, Seq("source", "n_chars"), "left")
        .join(globalVal, Seq("n_chars"))
        .select(col("source"), col("n_chars"), col("n_src"),
          coalesce(col("c"), lit(0L)).as("c"), col("cg"))
        .withColumn("cum_s", sum(col("c")).over(w))
        .withColumn("cum_g", sum(col("cg")).over(w))
        .crossJoin(broadcast(nTotal))
        .groupBy(col("source"), col("n_src"), col("n_all"))
        .agg(max(expr(
          "abs(cum_s * n_all - cum_g * n_src) * CAST(1000000 AS BIGINT)" +
            " div (n_src * n_all)")).as("ks_ppm"))
    }),

    // ───── Jaro–Winkler record linkage: near-identical part names
    // within p_brand blocks, scored by the native codegen
    // [[graft.expressions.JaroWinkler]] expression — a generated-java
    // kernel call inside the whole-stage span (no UDF, no boxing),
    // bit-compatible with the oracle engine's jaro_winkler_similarity
    // (integer half-transpositions, prefix ≤ 4, boost above 0.7 — the
    // pinned semantics live on the expression). Blocking bounds the
    // candidate pairs the way x87 bounds its edit-distance pass; the
    // double threshold is safe because the scores are bit-identical
    "x106_jw_linkage" -> ((s, d) => {
      val p = t(s, d, "part")
        .filter(col("p_partkey").isNotNull && col("p_name").isNotNull &&
          col("p_brand").isNotNull)
        .select(col("p_partkey"), col("p_name"), col("p_brand"))
      // deliberately the NAIVE block self-join, not Skew.boundedWideBandPairs:
      // routing this through the guard was measured 2.2× SLOWER at sf0.1
      // (5.4 s vs 2.5 s) — the payload-carrying explode chain falls out of
      // whole-stage codegen, and interpreted row processing of the ~10M
      // candidate rows costs far more than the guard's parallelism buys at
      // |brand block| ≈ 10³. The naive join keeps pair-gen + JW + threshold
      // inside one codegen span. When brand populations outgrow a task
      // (≳10⁵ rows/brand), route through the guard as x84 does — that
      // crossover is where the n²-per-task cost overtakes the codegen win.
      //
      // r12: the build side is PINNED broadcast and the probe side is
      // round-robin rebalanced first. Without this the planner broadcast
      // the dim side anyway, but the probe then inherited the SCAN's task
      // count — a single-row-group parquet (the driver testdata shape, and
      // any small-file block dim at cluster scale) ran ALL ~10M JW
      // comparisons on 1 task (census: 3 tasks, one 2.46 s job = the whole
      // query). A broadcast join puts no co-partitioning demand on the
      // probe, so the rebalance of the narrow (brand, key, name)
      // projection is free parallelism for the n²-per-block CPU — the
      // winnowAnchors pattern applied to a join probe
      // r12 advice: the explicit broadcast() hint bypasses
      // autoBroadcastJoinThreshold, so an oversized build side would grow
      // O(|part|) into every executor (broadcast OOM/timeout) — gate the
      // hint on the optimizer's size estimate and let the planner pick a
      // shuffle join when the projection outgrows the threshold. That
      // fallback is also roughly where the ≳10⁵ rows/brand n² crossover
      // (above) demands the Skew guard anyway.
      val parts = s.sparkContext.defaultParallelism
      val a = p.select(col("p_brand"), col("p_partkey").as("id_a"),
        col("p_name").as("name_a")).repartition(parts)
      val b = p.select(col("p_brand"), col("p_partkey").as("id_b"),
        col("p_name").as("name_b"))
      val bcThreshold = s.sessionState.conf.autoBroadcastJoinThreshold
      val bSized =
        if (bcThreshold > 0
            && b.queryExecution.optimizedPlan.stats.sizeInBytes
                 <= BigInt(bcThreshold)) broadcast(b)
        else b
      a.join(bSized, Seq("p_brand"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("jw",
          Natives.jaroWinkler(col("name_a"), col("name_b")))
        .filter(col("jw") >= 0.9)
        .select(col("p_brand"), col("id_a"), col("id_b"),
          col("name_a"), col("name_b"), col("jw"))
    }),

    // ───── rolling 7-day actives (WAU-by-day): each distinct
    // (user, active-day) is fanned out to the 7 report days it covers
    // (sequence explode = calendar densification — the exact form of a
    // windowed COUNT DISTINCT, which window frames can't express), then
    // distinct-counted per report day. Shuffles (day, user) pairs only;
    // the ×7 fan-out is the price of exactness and is constant-factor.
    // stickiness_ppm = DAU/WAU — integer-exact scaled division. Report
    // days clipped to the observed range so trailing fan-out doesn't
    // invent days with partial baselines
    "x107_rolling_actives" -> ((s, d) => {
      val days = t(s, d, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"),
          expr("unix_millis(ts) div 86400000").as("day"))
        .distinct()
      val bounds = days.agg(max(col("day")).as("max_day"))
      val wau = days
        .select(col("user_id"),
          explode(expr("sequence(day, day + 6)")).as("rday"))
        .crossJoin(broadcast(bounds))
        .filter(col("rday") <= col("max_day"))
        .groupBy(col("rday"))
        .agg(countDistinct(col("user_id")).as("wau"))
      val dau = days.groupBy(col("day")).agg(countDistinct(col("user_id")).as("dau"))
      wau.join(dau, wau("rday") === dau("day"))
        .select(col("rday").as("day"), col("dau"), col("wau"),
          expr("(dau * CAST(1000000 AS BIGINT)) div wau")
            .as("stickiness_ppm"))
    }),

    // ───── activity streaks (gaps-and-islands): the longest run of
    // consecutive active days per user. The island key is the classic
    // day − row_number() difference — constant within a consecutive run,
    // strictly decreasing across a gap — so one user-keyed window plus
    // two aggregations find every streak with a single shuffle on
    // user_id. Returns per-user longest streak, streak count, and the
    // start day of the (earliest) longest streak
    "x108_activity_streaks" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      val days = t(s, d, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"),
          expr("unix_millis(ts) div 86400000").as("day"))
        .distinct()
      val streaks = days
        .withColumn("grp", col("day") - row_number().over(w))
        .groupBy(col("user_id"), col("grp"))
        .agg(count(lit(1)).as("len"), min(col("day")).as("start_day"))
      streaks
        .withColumn("longest",
          max(col("len")).over(Window.partitionBy(col("user_id"))))
        .groupBy(col("user_id"), col("longest"))
        .agg(count(lit(1)).as("n_streaks"),
          min(when(col("len") === col("longest"), col("start_day")))
            .as("longest_start"))
    }),

    // ───── label-noise audit (confident-learning-lite): a vector whose
    // sign-LSH bucket-mates overwhelmingly carry a different label is a
    // mislabeling suspect. Buckets come from the same 8 data-derived
    // anchors as x06 (one codegen-dot projection, no pairwise work);
    // per-bucket majority label with a (count desc, label) tiebreak;
    // suspect = disagrees with majority in a bucket of ≥ 4. One shuffle
    // on the bucket code — cluster-size-bounded, no vector ever joins
    // against another vector
    "x109_label_noise" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
        .filter(col("vec_id").isNotNull && col("label").isNotNull)
      val anchors = Similarity.collectAnchors(emb, "vec_id", "embedding", 8)
      val coded = emb.select(col("vec_id"), col("label"),
        Similarity.bucketCode(col("embedding"), anchors).as("bucket"))
      val byBucketLabel = coded.groupBy(col("bucket"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      val wMaj = Window.partitionBy(col("bucket"))
        .orderBy(col("cnt").desc, col("label"))
      val majority = byBucketLabel
        .withColumn("rn", row_number().over(wMaj))
        .filter(col("rn") === 1)
        .select(col("bucket"), col("label").as("maj_label"),
          col("cnt").as("maj_cnt"))
      val sizes = coded.groupBy(col("bucket"))
        .agg(count(lit(1)).as("bucket_n"))
      coded.join(majority, Seq("bucket")).join(sizes, Seq("bucket"))
        .select(col("vec_id"), col("label"), col("bucket"), col("bucket_n"),
          col("maj_label"), col("maj_cnt"),
          (col("label") =!= col("maj_label") && col("bucket_n") >= 4)
            .as("is_suspect"))
    }),

    // ───── Benford leading-digit audit: the first-digit distribution of
    // positive event amounts vs Benford's law — the fabricated-data /
    // broken-feed tripwire. Amounts ride the cents convention (x72's
    // floor(value·100 + 0.5) BIGINT), and the leading digit comes from
    // the INTEGER's decimal string (int→string is engine-stable where
    // double→string is not). Expected frequencies are pinned ppm
    // literals of log10(1+1/d) — constants, so no log crosses the
    // engine boundary; the deviation flag is an integer cross-multiply
    // at 20 000 ppm
    "x110_benford_audit" -> ((s, d) => {
      val cents = t(s, d, "events")
        .filter(col("value").isNotNull && col("value") > 0)
        .select(floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        .filter(col("cents") > 0)
      val digits = cents
        .select(substring(col("cents").cast("string"), 1, 1)
          .cast("long").as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      val benford = expr(
        "CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091 " +
          "WHEN 3 THEN 124939 WHEN 4 THEN 96910 WHEN 5 THEN 79181 " +
          "WHEN 6 THEN 66947 WHEN 7 THEN 57992 WHEN 8 THEN 51153 " +
          "ELSE 45757 END")
      digits
        .crossJoin(broadcast(digits.agg(sum(col("n")).as("total"))))
        .select(col("digit"), col("n"), col("total"),
          expr("(n * CAST(1000000 AS BIGINT)) div total").as("obs_ppm"),
          benford.as("benford_ppm"))
        .withColumn("is_deviant",
          abs(col("obs_ppm") - col("benford_ppm")) > 20000L)
    }),

    // ───── cross-source quantile normalization: each document's length
    // is replaced by the GLOBAL length at its within-source quantile —
    // the calibration that makes per-source quality scores comparable
    // when sources have different scales. All integer: within-source
    // rank r → global position p = 1 + (r−1)(N−1) div (n_s−1) (lower
    // quantile method; singleton sources map to the global median), and
    // the p-th order statistic comes from the distinct-value CDF built
    // with the two-level prefix sum (no single-partition exchange) and
    // probed with the x33 bucketed-interval rewrite: intervals fan to
    // 64-wide buckets (total fan N/64 + |V|), probes join on their one
    // bucket, the exact range filter runs only within matching buckets.
    // Exact in BIGINT while r·N < ~9e18
    "x111_quantile_normalize" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .filter(col("doc_id").isNotNull && col("source").isNotNull &&
          col("n_chars").isNotNull)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val nTotal = docs.agg(count(lit(1)).as("n_all"))
      val ranked = docs
        .withColumn("r", row_number().over(Window.partitionBy(col("source"))
          .orderBy(col("n_chars"), col("doc_id"))).cast("long"))
        .withColumn("n_src",
          count(lit(1)).over(Window.partitionBy(col("source"))))
      val cdf = Relational.prefixSum(
        docs.groupBy(col("n_chars").as("v")).agg(count(lit(1)).as("m")),
        "v", "m", "cum", 1024L)
      val builds = cdf
        .withColumn("lo", col("cum") - col("m") + 1)
        .withColumn("hi", col("cum"))
        .withColumn("bk", explode(expr("sequence(lo div 64, hi div 64)")))
        .select(col("bk"), col("v"), col("lo"), col("hi"))
      val probes = ranked.crossJoin(broadcast(nTotal))
        .withColumn("p", when(col("n_src") > 1,
          expr("1 + (r - 1) * (n_all - 1) div (n_src - 1)"))
          .otherwise(expr("(n_all + 1) div 2")))
        .withColumn("bk", expr("p div 64"))
      probes.join(builds, Seq("bk"))
        .filter(col("p") >= col("lo") && col("p") <= col("hi"))
        .select(col("doc_id"), col("source"), col("n_chars"), col("r"),
          col("n_src"), col("p"), col("v").as("norm_chars"))
    }),

    // ───── Markov next-event baseline eval: predict each event's
    // successor as the argmax of x99's transition matrix (tie → first
    // type) and score in-sample top-1 accuracy per from-type. The
    // sanity baseline any sequence model must beat; doubles never
    // appear — accuracy is an integer ppm
    "x112_markov_eval" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val tr = t(s, d, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull &&
          col("event_type").isNotNull)
        .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
        .select(col("event_type").as("from_type"),
          lead(col("event_type"), 1).over(w).as("to_type"))
        .filter(col("to_type").isNotNull)
      val pred = tr.groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(Window.partitionBy(col("from_type"))
          .orderBy(col("n").desc, col("to_type"))))
        .filter(col("rn") === 1)
        .select(col("from_type"), col("to_type").as("pred_type"))
      tr.join(pred, Seq("from_type"))
        .groupBy(col("from_type"), col("pred_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("to_type") === col("pred_type"), 1L).otherwise(0L))
            .as("n_correct"))
        .withColumn("accuracy_ppm",
          expr("(n_correct * CAST(1000000 AS BIGINT)) div n_events"))
    }),

    // ───── energy-threshold voice-activity segments (VAD) over the x95
    // window energies: a window is ACTIVE iff 4·energy ≥ its asset's
    // peak (relative gate — scale-free, integer compare), consecutive
    // active windows merge gaps-and-islands style (window_idx −
    // row_number, the winnow-span technique on the time axis). Decode
    // stays at the mapPartitions boundary; only fixed-width window rows
    // shuffle
    "x139_audio_vad" -> ((s, d) => {
      Multimodal.vadSegments(Multimodal.audioWindowEnergies(
        Multimodal.documentsAsWavAssets(t(s, d, "documents")), 256).toDF())
    }),

    // ───── data-freshness audit: per event_type, the last-seen day and
    // its lag behind the corpus watermark (max day over all types) —
    // the staleness monitor an ingest pipeline alarms on (a feed that
    // stopped while others kept flowing is invisible to global counts).
    // Integer day arithmetic on x72's epoch-day convention; the corpus
    // watermark is a one-row scalar broadcast back (q23/x79's class,
    // allowlisted)
    "x148_freshness_audit" -> ((s, d) => {
      val byType = t(s, d, "events")
        .filter(col("ts").isNotNull && col("event_type").isNotNull)
        .select(col("event_type"),
          expr("unix_millis(ts) div 86400000").as("day"))
        .groupBy(col("event_type"))
        .agg(max(col("day")).as("last_day"), count(lit(1)).as("n_events"))
      val wm = byType.agg(max(col("last_day")).as("watermark"))
      byType.crossJoin(broadcast(wm))
        .withColumn("lag_days", col("watermark") - col("last_day"))
        .withColumn("stale", col("lag_days") > 7)
    }),

    // ───── trailing-window spike detection over daily event volume —
    // x100's integer-σ technique on the DELIBERATELY CONTRASTING frame:
    // x100 is per-event-type with a RANGE frame (calendar-aligned — a
    // 3-day gap shrinks the baseline) and flags from 3 baseline days at
    // 3σ; THIS is corpus-wide volume with a ROWS frame (trailing 7
    // OBSERVED days — gaps don't thin the baseline) and a strict
    // full-history gate at 2σ: spike iff (7n − S)² > 4(7Q − S²) with
    // 7n > S. Which frame is right depends on whether absence of data
    // IS data; the pair documents the choice. Day ordering runs over
    // the calendar dimension (x107's bounded class, allowlisted)
    "x140_spike_detection" -> ((s, d) => {
      val dc = t(s, d, "events")
        .filter(col("ts").isNotNull)
        .select(expr("unix_millis(ts) div 86400000").as("day"))
        .groupBy(col("day")).agg(count(lit(1)).as("n_events"))
      val w = Window.orderBy(col("day")).rowsBetween(-7, -1)
      val dev = col("n_events") * 7 - col("trail_sum")
      dc.withColumn("trail_n", count(col("n_events")).over(w))
        .withColumn("trail_sum", coalesce(sum(col("n_events")).over(w), lit(0L)))
        .withColumn("trail_sumsq",
          coalesce(sum(col("n_events") * col("n_events")).over(w), lit(0L)))
        .withColumn("spike",
          col("trail_n") === 7 && dev > 0 &&
            dev * dev >
              (col("trail_sumsq") * 7 - col("trail_sum") * col("trail_sum")) * 4)
    }),

    // ───── recency-weighted per-user EWMA over event values — the
    // feature-engineering decay score (last-16-events window, λ = 0.9).
    // Engine-exactness trick: the decay grid floor(0.9^r·1e6) is
    // evaluated ONCE in [[ewmaWeights]] and interpolated as LITERAL
    // integers into BOTH the DataFrame expression and the oracle SQL —
    // no cross-engine pow() parity assumption. Per-event contributions
    // floor to integers (x120's quantize-once), so the per-user sums are
    // order-free; one shuffle on user_id shared by the window and the
    // aggregation
    "x137_recency_ewma" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      t(s, d, "events")
        .filter(col("value").isNotNull && col("user_id").isNotNull)
        .withColumn("r", row_number().over(w) - 1)
        .filter(col("r") < ewmaWeights.length)
        .withColumn("w", element_at(typedLit(ewmaWeights), col("r") + 1))
        .withColumn("contrib", expr("CAST(floor(value * w) AS BIGINT)"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_used"),
          sum(col("contrib")).as("ewma_num"),
          sum(col("w")).as("ewma_den"))
        .withColumn("ewma",
          col("ewma_num").cast("double") / col("ewma_den").cast("double"))
    }))

  /** Recency-decay weight grid for x137: floor(0.9^r · 1e6), r ∈ [0, 16).
    * Evaluated once here and shared by the engine expression and the
    * oracle SQL as literal integers. */
  private val ewmaWeights: IndexedSeq[Long] =
    (0 until 16).map(r => math.floor(math.pow(0.9, r) * 1e6).toLong)

  /** The bounded blocklist lexicon behind x96 — phrases over the corpus
    * vocabulary, including self-overlapping ("batch batch") and
    * shared-prefix ("join order" / "join") shapes that exercise the
    * automaton's fail/output links. */
  private val blocklistPatterns = Seq(
    "batch batch", "window window", "join order", "scan merge",
    "key order sort", "slow", "join")

  /** DuckDB CTE chain shared by x95/x139: document bytes as the PCM16
    * little-endian sample stream `sgn(asset_id, ns, i, s)` — the replay
    * of `wrapPcm16` + `decodeWav`, kept in ONE place so the audio
    * oracles cannot desynchronize. */
  private val audioPcmCtes: String =
    """raw AS (SELECT doc_id AS asset_id, hex(encode(text)) AS hx,
           CAST(octet_length(encode(text)) // 2 AS BIGINT) AS ns
           FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
         smp AS (SELECT asset_id, ns, i,
             CAST((strpos('0123456789ABCDEF', substr(hx, (i-1)*4 + 3, 1)) - 1) * 4096
               + (strpos('0123456789ABCDEF', substr(hx, (i-1)*4 + 4, 1)) - 1) * 256
               + (strpos('0123456789ABCDEF', substr(hx, (i-1)*4 + 1, 1)) - 1) * 16
               + (strpos('0123456789ABCDEF', substr(hx, (i-1)*4 + 2, 1)) - 1) AS BIGINT) AS u
           FROM raw, unnest(range(1, CAST(ns AS INT) + 1)) AS t(i)
           WHERE ns > 0),
         sgn AS (SELECT asset_id, ns, i,
             CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS s
           FROM smp)"""

  /** DuckDB CTE chain replaying [[scd2History]] up to `hist(doc_id, fp,
    * valid_from, valid_to)` — shared by x83/x147 so the SCD2 mirror
    * cannot desynchronize. */
  private lazy val scd2Ctes: String =
    s"""s1 AS (SELECT doc_id, 1 AS version,
             md5(${normOf("CASE WHEN doc_id % 3 = 0 THEN text || ' r1' ELSE text END")}) AS fp
           FROM documents WHERE doc_id IS NOT NULL AND doc_id % 13 <> 1),
         s2 AS (SELECT doc_id, 2 AS version,
             md5(${normOf("CASE WHEN doc_id % 2 = 0 THEN text || ' r2' ELSE text END")}) AS fp
           FROM documents WHERE doc_id IS NOT NULL),
         s3 AS (SELECT doc_id, 3 AS version, md5($normSql) AS fp
           FROM documents WHERE doc_id IS NOT NULL AND doc_id % 17 <> 2),
         v AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2
           UNION ALL SELECT * FROM s3),
         r AS (SELECT doc_id, version, fp,
             CASE WHEN lag(fp) OVER w IS NULL OR lag(fp) OVER w <> fp
               OR lag(version) OVER w <> version - 1 THEN 1 ELSE 0 END AS new_run
           FROM v WINDOW w AS (PARTITION BY doc_id ORDER BY version)),
         ri AS (SELECT doc_id, version, fp,
             SUM(new_run) OVER (PARTITION BY doc_id ORDER BY version
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
           FROM r),
       hist AS (SELECT doc_id, min(fp) AS fp,
           CAST(min(version) AS BIGINT) AS valid_from,
           CAST(max(version) AS BIGINT) AS valid_to
         FROM ri GROUP BY doc_id, run_id)"""

  val oracle: Map[String, String] = Map(
    // x148: per-type max day vs the corpus watermark, integer lag
    "x148_freshness_audit" ->
      """WITH bt AS (SELECT event_type,
           CAST(MAX(CAST(epoch_ms(ts) AS BIGINT) // 86400000) AS BIGINT)
             AS last_day,
           CAST(COUNT(*) AS BIGINT) AS n_events
         FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
         GROUP BY event_type),
         wm AS (SELECT CAST(MAX(last_day) AS BIGINT) AS watermark FROM bt)
         SELECT event_type, last_day, n_events, watermark,
           watermark - last_day AS lag_days,
           (watermark - last_day > 7) AS stale
         FROM bt CROSS JOIN wm""",
    // x140: x72's day convention, the trailing frame as a named WINDOW,
    // the integer 2σ test cross-multiplied
    "x140_spike_detection" ->
      """WITH dc AS (SELECT CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day,
           CAST(COUNT(*) AS BIGINT) AS n_events
         FROM events WHERE ts IS NOT NULL GROUP BY 1)
         SELECT day, n_events,
           CAST(COUNT(n_events) OVER w AS BIGINT) AS trail_n,
           CAST(COALESCE(SUM(n_events) OVER w, 0) AS BIGINT) AS trail_sum,
           CAST(COALESCE(SUM(n_events * n_events) OVER w, 0) AS BIGINT)
             AS trail_sumsq,
           (COUNT(n_events) OVER w = 7
            AND n_events * 7 - COALESCE(SUM(n_events) OVER w, 0) > 0
            AND (n_events * 7 - COALESCE(SUM(n_events) OVER w, 0))
              * (n_events * 7 - COALESCE(SUM(n_events) OVER w, 0))
              > (COALESCE(SUM(n_events * n_events) OVER w, 0) * 7
                 - COALESCE(SUM(n_events) OVER w, 0)
                   * COALESCE(SUM(n_events) OVER w, 0)) * 4) AS spike
         FROM dc
         WINDOW w AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)""",
    // x137: the same literal weight grid (interpolated from ewmaWeights),
    // reverse rank per user with the event_id tiebreak, integer sums
    "x137_recency_ewma" -> {
      val vals = ewmaWeights.zipWithIndex
        .map { case (wt, r) => s"($r, $wt)" }.mkString(", ")
      s"""WITH e AS (SELECT user_id, ts, event_id, value FROM events
           WHERE value IS NOT NULL AND user_id IS NOT NULL),
         rk AS (SELECT user_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC) - 1 AS r
           FROM e),
         wt AS (SELECT * FROM (VALUES $vals) AS t(r, w)),
         c AS (SELECT user_id, CAST(floor(value * w) AS BIGINT) AS contrib,
             CAST(w AS BIGINT) AS w
           FROM rk JOIN wt USING (r))
         SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_used,
           CAST(SUM(contrib) AS BIGINT) AS ewma_num,
           CAST(SUM(w) AS BIGINT) AS ewma_den,
           CAST(SUM(contrib) AS DOUBLE) / CAST(SUM(w) AS DOUBLE) AS ewma
         FROM c GROUP BY user_id"""
    },
    "x75_filter_cascade" ->
      s"""WITH $cascadeSql
         SELECT * FROM casc""",
    "x76_cascade_report" ->
      s"""WITH $cascadeSql
         SELECT source, first_fail, COUNT(*) AS n_docs
         FROM casc GROUP BY 1, 2""",
    "x62_shard_assign" ->
      """WITH h AS (SELECT doc_id,
           CAST(('0x' || substr(md5('shf_' || doc_id), 1, 12)) AS BIGINT) AS h
         FROM documents WHERE doc_id IS NOT NULL),
         sh AS (SELECT doc_id, h, h % 8 AS shard FROM h)
         SELECT doc_id, shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, doc_id) - 1
             AS BIGINT) AS "offset"
         FROM sh""",
    "x63_weighted_sample" ->
      """WITH w AS (SELECT doc_id,
           CAST(('0x' || substr(md5('ws_' || doc_id), 1, 8)) AS BIGINT)
             * 1000000 // greatest(n_chars, 1) AS pri
         FROM documents WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL),
         r AS (SELECT doc_id, pri, ROW_NUMBER() OVER
             (ORDER BY pri, lpad(CAST(doc_id AS VARCHAR), 19, '0')) AS rank
           FROM w)
         SELECT CAST(rank AS BIGINT) AS rank, doc_id, pri AS priority
         FROM r WHERE rank <= 20""",
    "x64_length_buckets" ->
      s"""WITH n AS (SELECT len(string_split($normSql, ' ')) AS nt
           FROM documents WHERE text IS NOT NULL),
         b AS (SELECT nt, CASE WHEN nt <= 1 THEN 1
             ELSE CAST(1 AS BIGINT) << length(bin(nt - 1)) END AS bucket
           FROM n),
         agg AS (SELECT bucket, COUNT(*) AS n_docs,
             CAST(SUM(nt) AS BIGINT) AS sum_tokens
           FROM b GROUP BY bucket)
         SELECT bucket, n_docs, sum_tokens,
           bucket * n_docs - sum_tokens AS waste,
           (n_docs + greatest(16384 // bucket, 1) - 1)
             // greatest(16384 // bucket, 1) AS n_batches
         FROM agg""",
    "x65_token_diversity" ->
      s"""WITH toks AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS tok
           FROM documents),
         c AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks
           WHERE tok <> '' GROUP BY doc_id, tok),
         per AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
             COUNT(*) AS n_distinct, CAST(SUM(c * c) AS BIGINT) AS sum_c2
           FROM c GROUP BY doc_id)
         SELECT d.doc_id, COALESCE(per.n_tokens, 0) AS n_tokens,
           COALESCE(per.n_distinct, 0) AS n_distinct,
           COALESCE(per.sum_c2, 0) AS sum_c2,
           CASE WHEN COALESCE(per.n_tokens, 0) > 1
             THEN ((per.sum_c2 - per.n_tokens) * 1000000)
               // (per.n_tokens * (per.n_tokens - 1))
             ELSE 0 END AS collision_ppm
         FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id""",
    "x66_source_overlap" ->
      s"""WITH toks AS (SELECT doc_id, string_split($normSql, ' ') AS tk FROM documents),
         ch AS (SELECT doc_id, unnest(list_transform(
             range(0, CAST(ceil(len(tk) / 4.0) AS BIGINT)),
             i -> md5(array_to_string(list_slice(tk, CAST(i * 4 + 1 AS INT),
               CAST(least((i + 1) * 4, len(tk)) AS INT)), '_')))) AS h
           FROM toks),
         sc AS (SELECT DISTINCT d.source, ch.h
           FROM ch JOIN documents d USING (doc_id))
         SELECT a.source AS source_a, b.source AS source_b,
           COUNT(*) AS n_shared
         FROM sc a JOIN sc b ON a.h = b.h AND a.source < b.source
         GROUP BY a.source, b.source""",
    "x67_pagerank_step" ->
      """WITH e AS (SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
           FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
           WHERE o.o_custkey IS NOT NULL AND l.l_suppkey IS NOT NULL),
         deg AS (SELECT c, COUNT(*) AS d FROM e GROUP BY c),
         contrib AS (SELECT e.s, 1000000 // deg.d AS contrib
           FROM e JOIN deg USING (c))
         SELECT s AS suppkey, COUNT(*) AS n_in,
           CAST(150000 + (85 * SUM(contrib)) // 100 AS BIGINT) AS rank_scaled
         FROM contrib GROUP BY s""",
    "x85_label_propagation" ->
      """WITH e AS (SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS sp
           FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
           WHERE o.o_custkey IS NOT NULL AND l.l_suppkey IS NOT NULL),
         cnts AS (SELECT sp, c % 7 AS lbl, COUNT(*) AS cnt FROM e GROUP BY 1, 2),
         pick AS (SELECT sp, lbl, cnt,
             ROW_NUMBER() OVER (PARTITION BY sp ORDER BY cnt DESC, lbl ASC) AS rn,
             SUM(cnt) OVER (PARTITION BY sp) AS n_nbrs
           FROM cnts)
         SELECT sp AS suppkey, CAST(n_nbrs AS BIGINT) AS n_nbrs,
           CAST(lbl AS BIGINT) AS label
         FROM pick WHERE rn = 1""",
    "x86_kmv_set_ops" ->
      """WITH h AS (SELECT DISTINCT source,
             CAST(('0x' || substr(md5('kmv_' || CAST(doc_id AS VARCHAR)), 1, 12))
               AS BIGINT) AS h
           FROM documents WHERE source IS NOT NULL AND doc_id IS NOT NULL),
         rk AS (SELECT source, h,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn FROM h),
         sk AS (SELECT source, h FROM rk WHERE rn <= 32),
         agg AS (SELECT source, MAX(h) AS kh, COUNT(*) AS n FROM sk GROUP BY source),
         est AS (SELECT source, CASE WHEN n < 32 THEN CAST(n AS BIGINT)
             ELSE (31 * 281474976710656) // kh END AS est FROM agg),
         pairs AS (SELECT a.source AS sa, b.source AS sb,
             a.est AS est_a, b.est AS est_b
           FROM est a JOIN est b ON a.source < b.source),
         uh AS (SELECT DISTINCT p.sa, p.sb, s.h
           FROM pairs p JOIN sk s ON s.source = p.sa OR s.source = p.sb),
         urk AS (SELECT sa, sb, h,
             ROW_NUMBER() OVER (PARTITION BY sa, sb ORDER BY h) AS rn FROM uh),
         uagg AS (SELECT sa, sb, MAX(h) AS kh, COUNT(*) AS n
           FROM urk WHERE rn <= 32 GROUP BY sa, sb),
         uest AS (SELECT sa, sb, CASE WHEN n < 32 THEN CAST(n AS BIGINT)
             ELSE (31 * 281474976710656) // kh END AS est_union FROM uagg)
         SELECT p.sa, p.sb, p.est_a, p.est_b, u.est_union,
           greatest(p.est_a + p.est_b - u.est_union, 0) AS est_inter
         FROM pairs p JOIN uest u USING (sa, sb)""",
    "x72_daily_activity" ->
      """WITH daily AS (SELECT user_id,
           CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day,
           COUNT(*) AS n_events,
           CAST(SUM(COALESCE(CAST(floor(value * 100 + 0.5) AS BIGINT), 0))
             AS BIGINT) AS cents
         FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
         GROUP BY 1, 2)
         SELECT user_id, day, n_events, cents,
           CAST(SUM(n_events) OVER w AS BIGINT) AS ma7_n,
           CAST(SUM(cents) OVER w AS BIGINT) AS ma7_cents
         FROM daily
         WINDOW w AS (PARTITION BY user_id ORDER BY day
           RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)""",
    "x73_funnel_stages" ->
      """WITH ev AS (SELECT user_id, event_type,
           CAST(epoch_ms(ts) AS BIGINT) AS ms
         FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         s1 AS (SELECT user_id, min(ms) AS t_signup FROM ev
           WHERE event_type = 'signup' GROUP BY user_id),
         s2 AS (SELECT ev.user_id, min(ms) AS t_click FROM ev
           JOIN s1 USING (user_id)
           WHERE event_type = 'click' AND ms > t_signup GROUP BY ev.user_id),
         s3 AS (SELECT ev.user_id, min(ms) AS t_purchase FROM ev
           JOIN s2 USING (user_id)
           WHERE event_type = 'purchase' AND ms > t_click GROUP BY ev.user_id)
         SELECT u.user_id, t_signup, t_click, t_purchase,
           CAST(CASE WHEN t_purchase IS NOT NULL THEN 3
             WHEN t_click IS NOT NULL THEN 2
             WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS stage
         FROM (SELECT DISTINCT user_id FROM ev) u
         LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
         LEFT JOIN s3 USING (user_id)""",
    "x74_retention_cohorts" ->
      """WITH uw AS (SELECT DISTINCT user_id,
           CAST(epoch_ms(ts) AS BIGINT) // 604800000 AS week
         FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         c AS (SELECT user_id, min(week) AS cohort FROM uw GROUP BY user_id)
         SELECT cohort, week - cohort AS "offset", COUNT(*) AS n_users
         FROM uw JOIN c USING (user_id)
         GROUP BY 1, 2""",
    "x84_phash_neardup" ->
      """WITH b AS (SELECT doc_id AS asset_id,
           substr(hex(encode(text)), 1, 128) AS hx
         FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
           AND octet_length(encode(text)) >= 64),
         byt AS (SELECT asset_id, i,
             CAST(('0x' || substr(hx, CAST(i * 2 + 1 AS INT), 2)) AS BIGINT)
               AS byte
           FROM b, unnest(range(0, 64)) AS u(i)),
         sm AS (SELECT asset_id, CAST(SUM(byte) AS BIGINT) AS s FROM byt
           GROUP BY asset_id),
         bands AS (SELECT asset_id, i // 16 AS j,
             CAST(SUM(CAST(CASE WHEN byte * 64 >= s THEN 1 ELSE 0 END
               AS BIGINT) << CAST(i % 16 AS INT)) AS BIGINT) AS band
           FROM byt JOIN sm USING (asset_id) GROUP BY 1, 2),
         wide AS (SELECT asset_id,
             max(CASE WHEN j = 0 THEN band END) AS b0,
             max(CASE WHEN j = 1 THEN band END) AS b1,
             max(CASE WHEN j = 2 THEN band END) AS b2,
             max(CASE WHEN j = 3 THEN band END) AS b3
           FROM bands GROUP BY asset_id),
         cand AS (SELECT DISTINCT a.asset_id AS id_a, c.asset_id AS id_b
           FROM bands a JOIN bands c ON a.j = c.j AND a.band = c.band
             AND a.asset_id < c.asset_id)
         SELECT cand.id_a, cand.id_b,
           CAST(bit_count(xor(wa.b0, wc.b0)) + bit_count(xor(wa.b1, wc.b1))
             + bit_count(xor(wa.b2, wc.b2)) + bit_count(xor(wa.b3, wc.b3))
             AS BIGINT) AS hamming
         FROM cand
         JOIN wide wa ON wa.asset_id = cand.id_a
         JOIN wide wc ON wc.asset_id = cand.id_b
         WHERE bit_count(xor(wa.b0, wc.b0)) + bit_count(xor(wa.b1, wc.b1))
             + bit_count(xor(wa.b2, wc.b2)) + bit_count(xor(wa.b3, wc.b3)) <= 3""",
    "x83_scd2_history" ->
      s"""WITH $scd2Ctes
         SELECT doc_id, fp, valid_from, valid_to FROM hist""",
    // x147: the same history, read by the as-of interval predicate
    "x147_scd2_pit" ->
      s"""WITH $scd2Ctes
         SELECT doc_id, fp FROM hist
         WHERE valid_from <= 2 AND valid_to >= 2""",
    "x82_zorder_layout" -> {
      val zExpr = (0 until 8).map { i =>
        s"(((xb // ${1L << i}) % 2) << ${2 * i}) + (((yb // ${1L << i}) % 2) << ${2 * i + 1})"
      }.mkString(" + ")
      s"""WITH d AS (SELECT doc_id, lang, n_chars FROM documents
           WHERE doc_id IS NOT NULL AND lang IS NOT NULL
             AND n_chars IS NOT NULL),
         li AS (SELECT lang,
             CAST(ROW_NUMBER() OVER (ORDER BY lang) - 1 AS BIGINT) AS yb
           FROM (SELECT DISTINCT lang FROM d)),
         b AS (SELECT d.doc_id, least(d.n_chars // 64, 255) AS xb, li.yb
           FROM d JOIN li USING (lang))
         SELECT doc_id, CAST(xb AS BIGINT) AS xb, yb,
           CAST($zExpr AS BIGINT) AS z
         FROM b"""
    },
    "x81_filtered_ann" ->
      """WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
           FROM embeddings WHERE label IS NOT NULL),
         qs AS (SELECT vec_id AS qid, v AS qv, label AS qlabel
           FROM ev WHERE vec_id < 8),
         sc AS (SELECT q.qid, e.vec_id,
             list_inner_product(q.qv, e.v)
               / (sqrt(list_inner_product(q.qv, q.qv))
                  * sqrt(list_inner_product(e.v, e.v))) AS cos
           FROM qs q JOIN ev e
             ON e.vec_id <> q.qid AND e.label % 2 <> q.qlabel % 2),
         rk AS (SELECT qid, vec_id, cos,
             ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY cos DESC, vec_id) AS rank
           FROM sc)
         SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id AS neighbor_id,
           round(cos, 4) AS cos_sim
         FROM rk WHERE rank <= 5""",
    "x78_span_mask" ->
      s"""WITH n AS (SELECT doc_id, len(string_split($normSql, ' ')) AS n_tokens
           FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL),
         k AS (SELECT doc_id, n_tokens FROM n WHERE n_tokens >= 23),
         sp AS (SELECT doc_id, n_tokens, unnest(range(0, n_tokens // 20))
             AS span_idx
           FROM k)
         SELECT doc_id, span_idx,
           CAST(('0x' || substr(md5('msk_' || doc_id || '_' || span_idx), 1, 8))
             AS BIGINT) % (n_tokens - 3) AS start,
           CAST(3 AS BIGINT) AS len
         FROM sp""",
    "x79_negative_pairs" ->
      """WITH n AS (SELECT COUNT(*) AS n FROM documents
           WHERE doc_id IS NOT NULL),
         q AS (SELECT doc_id AS qid FROM documents
           WHERE doc_id IS NOT NULL AND doc_id < 50),
         e AS (SELECT qid, unnest(range(0, 4)) AS j FROM q),
         r AS (SELECT qid, j,
             CAST(('0x' || substr(md5('neg_' || qid || '_' || j), 1, 8))
               AS BIGINT) % (SELECT n FROM n) AS raw
           FROM e)
         SELECT qid, j,
           CASE WHEN raw = qid THEN (raw + 1) % (SELECT n FROM n)
             ELSE raw END AS neg_id
         FROM r""",
    "x80_interleave_order" ->
      """WITH d AS (SELECT doc_id, source,
           CAST(('0x' || substr(md5('ord_' || doc_id), 1, 12)) AS BIGINT) AS h
         FROM documents WHERE doc_id IS NOT NULL AND source IS NOT NULL),
         si AS (SELECT source,
             ROW_NUMBER() OVER (ORDER BY source) - 1 AS src_idx
           FROM (SELECT DISTINCT source FROM d)),
         ns AS (SELECT COUNT(*) AS n_src FROM si),
         rk AS (SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id)
               AS rank_in_src
           FROM d)
         SELECT rk.doc_id, rk.source,
           CAST((rank_in_src - 1) * (SELECT n_src FROM ns) + si.src_idx
             AS BIGINT) AS position
         FROM rk JOIN si USING (source)""",
    "x77_vocab_encode" ->
      s"""WITH tk AS (SELECT doc_id, string_split($normSql, ' ') AS t
           FROM documents),
         toks AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, t[i] AS tok
           FROM tk, unnest(range(1, len(t) + 1)) AS u(i)),
         t2 AS (SELECT * FROM toks WHERE tok <> ''),
         vocab AS (SELECT tok, ROW_NUMBER() OVER
             (ORDER BY COUNT(*) DESC, tok) AS token_id
           FROM t2 GROUP BY tok ORDER BY COUNT(*) DESC, tok LIMIT 63)
         SELECT t2.doc_id, t2.pos, COALESCE(v.token_id, 0) AS token_id
         FROM t2 LEFT JOIN vocab v USING (tok)""",
    "x69_ols_fit" ->
      s"""WITH f AS (SELECT source, len(string_split($normSql, ' ')) AS x,
           n_chars AS y
         FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL),
         a AS (SELECT source, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx
           FROM f GROUP BY source),
         sel AS (SELECT source,
             CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
             CAST(n * sxx - sx * sx AS BIGINT) AS slope_den
           FROM a)
         SELECT source, slope_num, slope_den,
           CAST(slope_num AS DOUBLE) / CAST(slope_den AS DOUBLE) AS slope
         FROM sel""",
    "x70_vocab_growth" ->
      s"""WITH w AS (SELECT (max(doc_id) + 20) // 20 AS w FROM documents
           WHERE doc_id IS NOT NULL),
         toks AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS tok
           FROM documents WHERE doc_id IS NOT NULL),
         fs AS (SELECT tok, min(doc_id) AS first_doc FROM toks
           WHERE tok <> '' GROUP BY tok),
         bk AS (SELECT first_doc // (SELECT w FROM w) AS bucket,
             COUNT(*) AS new_types
           FROM fs GROUP BY 1)
         SELECT bucket, new_types,
           CAST(SUM(new_types) OVER (ORDER BY bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS vocab_size
         FROM bk""",
    "x71_cluster_purity" ->
      s"""WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
           FROM embeddings WHERE label IS NOT NULL),
         cent AS (SELECT vec_id AS cid, v AS cv FROM ev WHERE vec_id < 16),
         assign AS (SELECT e.vec_id, c.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY list_inner_product(e.v, c.cv)
                 / (sqrt(list_inner_product(e.v, e.v))
                    * sqrt(list_inner_product(c.cv, c.cv))) DESC, c.cid) AS rn
           FROM ev e, cent c),
         cells AS (SELECT vec_id, cid AS cell FROM assign WHERE rn = 1),
         pl AS (SELECT cells.cell, ev.label, COUNT(*) AS n_l
           FROM cells JOIN ev USING (vec_id) GROUP BY 1, 2),
         agg AS (SELECT cell, CAST(SUM(n_l) AS BIGINT) AS n FROM pl
           GROUP BY cell),
         mj AS (SELECT cell, n_l, label, ROW_NUMBER() OVER
             (PARTITION BY cell ORDER BY n_l DESC, label ASC) AS rn
           FROM pl)
         SELECT a.cell, a.n, CAST(m.label AS BIGINT) AS major_label,
           m.n_l AS major_n, (m.n_l * 1000000) // a.n AS purity_ppm
         FROM agg a JOIN mj m ON a.cell = m.cell AND m.rn = 1""",
    "x68_quantile_bins" ->
      """WITH th AS (SELECT source,
           quantile_disc(n_chars, [0.25, 0.5, 0.75]) AS th
         FROM documents GROUP BY source)
         SELECT d.doc_id, d.source, d.n_chars,
           CAST(CASE WHEN d.n_chars IS NULL THEN NULL
             WHEN d.n_chars <= th[1] THEN 0
             WHEN d.n_chars <= th[2] THEN 1
             WHEN d.n_chars <= th[3] THEN 2
             ELSE 3 END AS BIGINT) AS bin
         FROM documents d JOIN th USING (source)""",
    "x87_blocked_editdist" ->
      s"""WITH p AS (SELECT doc_id, $normSql AS nm FROM documents
           WHERE text IS NOT NULL AND doc_id IS NOT NULL),
         q AS (SELECT doc_id, substr(nm, 1, 8) AS blk,
           substr(nm, 1, 40) AS pre FROM p)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.pre, b.pre) AS BIGINT) AS dist
         FROM q a JOIN q b ON a.blk = b.blk AND a.doc_id < b.doc_id
         WHERE levenshtein(a.pre, b.pre) <= 4""",
    "x88_kanonymity" ->
      """WITH exact AS (SELECT c_nationkey, c_mktsegment, COUNT(*) AS n_exact
           FROM customer GROUP BY 1, 2),
         gen AS (SELECT c_nationkey, COUNT(*) AS n_gen
           FROM customer GROUP BY 1)
         SELECT e.c_nationkey, e.c_mktsegment, e.n_exact, g.n_gen,
           CAST(CASE WHEN e.n_exact >= 10 THEN 0
                WHEN g.n_gen >= 10 THEN 1
                ELSE 2 END AS BIGINT) AS gen_level
         FROM exact e JOIN gen g USING (c_nationkey)""",
    "x89_trade_triangles" ->
      """WITH oc AS (SELECT o.o_orderkey, c.c_nationkey AS cn
           FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
         ls AS (SELECT l.l_orderkey, s.s_nationkey AS sn
           FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey),
         flow AS (SELECT least(cn, sn) AS a, greatest(cn, sn) AS b,
             COUNT(*) AS w
           FROM oc JOIN ls ON oc.o_orderkey = ls.l_orderkey
           WHERE cn <> sn GROUP BY 1, 2),
         stats AS (SELECT CAST(SUM(w) AS BIGINT) AS sw, COUNT(*) AS np
           FROM flow),
         edges AS (SELECT a, b FROM flow, stats WHERE w * np > sw)
         SELECT CAST(e1.a AS INT) AS n_a, CAST(e1.b AS INT) AS n_b,
           CAST(e2.b AS INT) AS n_c
         FROM edges e1
           JOIN edges e2 ON e1.b = e2.a
           JOIN edges e3 ON e1.a = e3.a AND e2.b = e3.b""",
    "x90_ring_reshard" ->
      """WITH ring AS (SELECT s.range AS shard, v.range AS v,
           CAST(('0x' || substr(md5('ring_' || CAST(s.range AS VARCHAR)
             || '_' || CAST(v.range AS VARCHAR)), 1, 12)) AS BIGINT) AS rh
           FROM range(12) s, range(16) v),
         docs AS (SELECT doc_id,
           CAST(('0x' || substr(md5('docr_' || CAST(doc_id AS VARCHAR)),
             1, 12)) AS BIGINT) AS dh
           FROM documents WHERE doc_id IS NOT NULL),
         asg AS (SELECT doc_id,
           coalesce(
             (SELECT min_by(shard, rh) FROM ring
               WHERE shard < 8 AND rh > dh),
             (SELECT min_by(shard, rh) FROM ring WHERE shard < 8))
             AS old_shard,
           coalesce(
             (SELECT min_by(shard, rh) FROM ring WHERE rh > dh),
             (SELECT min_by(shard, rh) FROM ring)) AS new_shard
           FROM docs)
         SELECT old_shard, new_shard, COUNT(*) AS n_docs
         FROM asg GROUP BY 1, 2""",
    "x91_collocations" ->
      s"""WITH tk AS (SELECT doc_id, string_split($normSql, ' ') AS t
           FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL),
         toks AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, t[i] AS tok
           FROM tk, unnest(range(1, len(t) + 1)) AS u(i)),
         bi AS (SELECT a.tok AS ta, b.tok AS tb, COUNT(*) AS c_ab
           FROM toks a JOIN toks b
             ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
           WHERE a.tok <> '' AND b.tok <> ''
           GROUP BY 1, 2 HAVING COUNT(*) >= 5),
         uni AS (SELECT tok, COUNT(*) AS c FROM toks
           WHERE tok <> '' GROUP BY tok)
         SELECT bi.ta, bi.tb, bi.c_ab, ua.c AS c_a, ub.c AS c_b,
           CAST((bi.c_ab * 1000000000) // (ua.c * ub.c) AS BIGINT)
             AS score_ppb
         FROM bi JOIN uni ua ON bi.ta = ua.tok
           JOIN uni ub ON bi.tb = ub.tok
         ORDER BY score_ppb DESC, c_ab DESC, ta, tb LIMIT 20""",
    "x92_related_items" ->
      """WITH w AS (SELECT o.o_custkey AS c, l.l_suppkey AS sp,
             COUNT(*) AS cnt
           FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
           WHERE o.o_custkey IS NOT NULL AND l.l_suppkey IS NOT NULL
           GROUP BY 1, 2),
         s1 AS (SELECT c, sp, cnt FROM (SELECT *, ROW_NUMBER() OVER
             (PARTITION BY sp ORDER BY cnt DESC, c) AS rn FROM w)
           WHERE rn <= 20),
         s2 AS (SELECT c, sp FROM (SELECT *, ROW_NUMBER() OVER
             (PARTITION BY c ORDER BY cnt DESC, sp) AS rn FROM s1)
           WHERE rn <= 10),
         pairs AS (SELECT a.sp AS sp_a, b.sp AS sp_b, COUNT(*) AS shared
           FROM s2 a JOIN s2 b ON a.c = b.c AND a.sp <> b.sp
           GROUP BY 1, 2)
         SELECT sp_a AS suppkey, CAST(rn AS BIGINT) AS rank,
           sp_b AS partner, shared
         FROM (SELECT *, ROW_NUMBER() OVER
             (PARTITION BY sp_a ORDER BY shared DESC, sp_b) AS rn
           FROM pairs)
         WHERE rn <= 3""",
    "x93_pareto_docs" ->
      s"""WITH tk AS (SELECT doc_id, string_split($normSql, ' ') AS t
           FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL),
         toks AS (SELECT doc_id, t[i] AS tok
           FROM tk, unnest(range(1, len(t) + 1)) AS u(i)),
         st AS (SELECT doc_id, COUNT(*) AS n, COUNT(DISTINCT tok) AS k
           FROM toks WHERE tok <> '' GROUP BY doc_id),
         s AS (SELECT doc_id, n, (k * 1000000) // n AS dppm FROM st),
         g AS (SELECT n, MAX(dppm) AS best FROM s GROUP BY n),
         p AS (SELECT n, best, MAX(best) OVER (ORDER BY n DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
           FROM g),
         f AS (SELECT n, best FROM p WHERE pm IS NULL OR best > pm)
         SELECT s.doc_id, s.n AS n_tokens,
           CAST(s.dppm AS BIGINT) AS distinct_ppm
         FROM s JOIN f USING (n) WHERE s.dppm = f.best""",
    "x94_shingle_novelty" ->
      s"""WITH sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, greatest(len(string_split($normSql, ' ')) - 1, 1) + 1),
           i -> CASE WHEN i + 1 <= len(string_split($normSql, ' '))
                THEN string_split($normSql, ' ')[i] || '_'
                  || string_split($normSql, ' ')[i+1]
                ELSE string_split($normSql, ' ')[i] END))) AS g
           FROM documents
           WHERE doc_id IS NOT NULL AND text IS NOT NULL),
         fst AS (SELECT g, MIN(doc_id) AS first_doc FROM sh GROUP BY g),
         agg AS (SELECT sh.doc_id, COUNT(*) AS n_shingles,
             CAST(COUNT(CASE WHEN fst.first_doc = sh.doc_id THEN 1 END)
               AS BIGINT) AS novel
           FROM sh JOIN fst USING (g) GROUP BY sh.doc_id)
         SELECT doc_id, n_shingles, novel,
           (novel * 1000000) // n_shingles AS novelty_ppm
         FROM agg""",
    // x95: the WAV synthesis is deterministic in the text bytes (pairs of
    // UTF-8 octets as little-endian int16 samples, 256-sample windows), so
    // the oracle replays decode + windowing from hex(text) with no WAV
    // parser: sample i = hi-byte·256 + lo-byte, sign-adjusted, energy =
    // Σ sample² per window — integer-exact on both engines. Hex digits are
    // decoded via strpos arithmetic rather than CAST('0x'||…): string-hex
    // casting proved version-fragile across DuckDB releases (r4 hash-red
    // with judge-verified-exact engine output), strpos+substr is not
    "x95_audio_energy" ->
      s"""WITH $audioPcmCtes
         SELECT asset_id, CAST(8000 AS INT) AS sample_rate,
           CAST(1 AS INT) AS channels, ns AS n_samples,
           CAST((i - 1) // 256 AS BIGINT) AS window_idx,
           CAST(SUM(s * s) AS BIGINT) AS energy_sq
         FROM sgn GROUP BY asset_id, ns, (i - 1) // 256""",
    // x139: x95's window energies -> per-asset relative activity gate
    // (4e >= peak) -> gaps-and-islands merge of consecutive windows
    "x139_audio_vad" ->
      s"""WITH $audioPcmCtes,
         win AS (SELECT asset_id,
             CAST((i - 1) // 256 AS BIGINT) AS window_idx,
             CAST(SUM(s * s) AS BIGINT) AS energy_sq
           FROM sgn GROUP BY asset_id, (i - 1) // 256),
         pk AS (SELECT asset_id, MAX(energy_sq) AS peak FROM win
           GROUP BY asset_id),
         act AS (SELECT w.asset_id, w.window_idx, w.energy_sq,
             ROW_NUMBER() OVER (PARTITION BY w.asset_id
               ORDER BY w.window_idx) AS rn
           FROM win w JOIN pk USING (asset_id)
           WHERE w.energy_sq * 4 >= pk.peak AND pk.peak > 0)
         SELECT asset_id, CAST(MIN(window_idx) AS BIGINT) AS seg_start,
           CAST(MAX(window_idx) AS BIGINT) AS seg_end,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(SUM(energy_sq) AS BIGINT) AS seg_energy_sq
         FROM act GROUP BY asset_id, window_idx - rn""",
    // x96: exact overlapping-occurrence counts — a position scan (does
    // the pattern start at i?), NOT the replace()-length trick, which
    // counts non-overlapping greedy matches and diverges on
    // self-bordered patterns like 'batch batch'
    "x96_blocklist_scan" ->
      """WITH p(pattern) AS (VALUES ('batch batch'), ('window window'),
           ('join order'), ('scan merge'), ('key order sort'), ('slow'),
           ('join')),
         d AS (SELECT doc_id, text FROM documents
           WHERE doc_id IS NOT NULL AND text IS NOT NULL),
         m AS (SELECT d.doc_id, p.pattern,
             CAST(len(list_filter(range(1, len(d.text) - len(p.pattern) + 2),
               i -> substr(d.text, i, len(p.pattern)) = p.pattern))
               AS BIGINT) AS n_matches
           FROM d CROSS JOIN p)
         SELECT doc_id, pattern, n_matches FROM m WHERE n_matches > 0""",
    // x97: the rolling-hash boundary rule replays exactly — base-31
    // polynomial over the trailing 8 char codes mod 2^31-1, cut where
    // ≡ 0 (mod 32); range(8, len) is empty below 9 chars, matching the
    // Spark guard
    "x97_cdc_chunks" ->
      """WITH d AS (SELECT doc_id, text AS t FROM documents
           WHERE doc_id IS NOT NULL AND text IS NOT NULL),
         b AS (SELECT doc_id, t, list_filter(range(8, len(t)), i ->
             list_reduce([CAST(0 AS BIGINT)] || list_transform(
                 range(i - 7, i + 1),
                 j -> CAST(unicode(substr(t, j, 1)) AS BIGINT)),
               (a, x) -> (a * 31 + x) % 2147483647) % 32 = 0) AS bounds
           FROM d),
         se AS (SELECT doc_id, t,
             list_prepend(1, list_transform(bounds, x -> x + 1)) AS starts,
             list_append(bounds, len(t)) AS ends
           FROM b),
         ch AS (SELECT doc_id,
             md5(substr(t, starts[ci], ends[ci] - starts[ci] + 1)) AS h
           FROM se, unnest(range(1, len(starts) + 1)) AS u(ci)),
         fr AS (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM ch GROUP BY h)
         SELECT ch.doc_id, COUNT(*) AS n_chunks,
           CAST(COUNT(CASE WHEN fr.nd > 1 THEN 1 END) AS BIGINT)
             AS n_dup_chunks,
           (COUNT(CASE WHEN fr.nd > 1 THEN 1 END) * 1000000) // COUNT(*)
             AS dup_ppm
         FROM ch JOIN fr USING (h) GROUP BY ch.doc_id""",
    // x98: quantile_cont ≡ Spark percentile (interpolated, parity proven
    // by x16); every surface is an exact binary fraction (ints, halves,
    // quarters ×3) so the boolean threshold compare is bit-stable
    "x98_mad_outliers" ->
      """WITH d AS (SELECT doc_id, source, n_chars FROM documents
           WHERE doc_id IS NOT NULL AND source IS NOT NULL
             AND n_chars IS NOT NULL),
         med AS (SELECT source, quantile_cont(n_chars, 0.5) AS med
           FROM d GROUP BY source),
         dev AS (SELECT d.doc_id, d.source, d.n_chars, med.med,
             abs(d.n_chars - med.med) AS adev
           FROM d JOIN med USING (source)),
         mad AS (SELECT source, quantile_cont(adev, 0.5) AS mad
           FROM dev GROUP BY source)
         SELECT dev.doc_id, dev.source, dev.n_chars, dev.med, mad.mad,
           dev.adev > 3.0 * mad.mad AS is_outlier
         FROM dev JOIN mad USING (source)""",
    // x99: LEAD over (user, ts, event_id) — microsecond ts parity and the
    // epoch_ms/unix_millis pairing are the x72-x74 conventions; // and
    // div both truncate toward zero (locked by the div-semantics spec)
    "x99_event_transitions" ->
      """WITH ev AS (SELECT user_id, event_id, event_type, ts,
           CAST(epoch_ms(ts) AS BIGINT) AS ms
         FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
           AND event_type IS NOT NULL),
         tr AS (SELECT event_type AS from_type,
             LEAD(event_type) OVER w AS to_type,
             LEAD(ms) OVER w - ms AS gap_ms
           FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT from_type, to_type, COUNT(*) AS n,
           CAST(SUM(gap_ms) AS BIGINT) // COUNT(*) AS mean_gap_ms
         FROM tr WHERE to_type IS NOT NULL GROUP BY 1, 2""",
    // x100: RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING on the integer day
    // — same day-number and epoch_ms conventions as x72; the anomaly
    // test is pure BIGINT cross-multiplication on both sides
    "x100_rate_anomaly" ->
      """WITH daily AS (SELECT event_type,
           CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day, COUNT(*) AS n
         FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
         GROUP BY 1, 2),
         win AS (SELECT event_type, day, n,
             COUNT(n) OVER w AS m,
             CAST(SUM(n) OVER w AS BIGINT) AS s,
             CAST(SUM(n * n) OVER w AS BIGINT) AS q
           FROM daily
           WINDOW w AS (PARTITION BY event_type ORDER BY day
             RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING))
         SELECT event_type, day, n, m, s, q,
           (m*n - s)*(m*n - s) > 9*(m*q - s*s) AS is_anomaly
         FROM win WHERE m >= 3""",
    // x101: identical total order (n_chars, doc_id) in both engines;
    // NTILE remainder rule (first buckets get the extra row) is the SQL
    // standard both implement; percent_rank/cume_dist are single exact
    // integer divisions → bit-identical doubles
    "x101_length_deciles" ->
      """SELECT doc_id, source, n_chars,
           CAST(NTILE(10) OVER w AS BIGINT) AS decile,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST() OVER w AS cume
         FROM documents
         WHERE doc_id IS NOT NULL AND source IS NOT NULL
           AND n_chars IS NOT NULL
         WINDOW w AS (PARTITION BY source ORDER BY n_chars, doc_id)""",
    // x102: GROUPING() is 0/1 in both engines; SUM casts through BIGINT
    // (DuckDB integer SUM returns HUGEINT)
    "x102_grouping_sets" ->
      """SELECT source, lang, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(GROUPING(source) AS INT) AS g_source,
           CAST(GROUPING(lang) AS INT) AS g_lang
         FROM documents WHERE doc_id IS NOT NULL
         GROUP BY GROUPING SETS ((source, lang), (source), (lang), ())""",
    // x103: same shared tokenization as x65/x17; integer-exact rational
    // idf; ROW_NUMBER tiebreak on tok makes top-5 deterministic
    "x103_tfidf_keywords" ->
      s"""WITH docs AS (SELECT doc_id, text FROM documents
           WHERE doc_id IS NOT NULL),
         toks AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS tok
           FROM docs),
         tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks
           WHERE tok <> '' GROUP BY 1, 2),
         dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT COUNT(*) AS n_docs FROM docs),
         scored AS (SELECT tf.doc_id, tf.tok, tf.tf, dfreq.df,
             (tf.tf * (n.n_docs + 1) * 1000000) // (dfreq.df + 1)
               AS score_ppm
           FROM tf JOIN dfreq USING (tok) CROSS JOIN n),
         ranked AS (SELECT *, ROW_NUMBER() OVER
             (PARTITION BY doc_id ORDER BY score_ppm DESC, tok) AS rk
           FROM scored)
         SELECT doc_id, tok, tf, df, score_ppm, rk
         FROM ranked WHERE rk <= 5""",
    // x104: LAST_VALUE … IGNORE NULLS over the (ts, event_id) total
    // order ≡ Spark's last(…, ignoreNulls) carry; 604800000 = 7 days ms
    "x104_click_attribution" ->
      """WITH ev AS (SELECT user_id, event_id, event_type, ts,
           CAST(epoch_ms(ts) AS BIGINT) AS ms
         FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
           AND event_type IS NOT NULL),
         att AS (SELECT user_id, event_id, event_type, ms,
             LAST_VALUE(CASE WHEN event_type = 'click' THEN event_id END
               IGNORE NULLS) OVER w AS click_id,
             LAST_VALUE(CASE WHEN event_type = 'click' THEN ms END
               IGNORE NULLS) OVER w AS click_ms
           FROM ev
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT event_id AS purchase_id, user_id,
           CASE WHEN ms - click_ms <= 604800000 THEN click_id END
             AS attributed_click,
           CASE WHEN ms - click_ms <= 604800000 THEN ms - click_ms END
             AS gap_ms
         FROM att WHERE event_type = 'purchase'""",
    // x105: the KS sup on the global jump-point grid; identical scaled
    // cross-multiply, // ≡ div on the non-negative numerator
    "x105_ks_drift" ->
      """WITH d AS (SELECT source, n_chars FROM documents
           WHERE source IS NOT NULL AND n_chars IS NOT NULL),
         sv AS (SELECT source, n_chars, COUNT(*) AS c FROM d GROUP BY 1, 2),
         vals AS (SELECT DISTINCT n_chars FROM d),
         srcs AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_src
           FROM sv GROUP BY 1),
         gl AS (SELECT n_chars, CAST(SUM(c) AS BIGINT) AS cg
           FROM sv GROUP BY 1),
         grid AS (SELECT srcs.source, vals.n_chars, srcs.n_src,
             COALESCE(sv.c, 0) AS c, gl.cg
           FROM srcs CROSS JOIN vals
           LEFT JOIN sv ON sv.source = srcs.source
             AND sv.n_chars = vals.n_chars
           JOIN gl ON gl.n_chars = vals.n_chars),
         cum AS (SELECT source, n_src, n_chars,
             CAST(SUM(c) OVER w AS BIGINT) AS cum_s,
             CAST(SUM(cg) OVER w AS BIGINT) AS cum_g
           FROM grid
           WINDOW w AS (PARTITION BY source ORDER BY n_chars
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         n AS (SELECT COUNT(*) AS n_all FROM d)
         SELECT source, n_src, n_all,
           CAST(MAX(abs(cum_s * n_all - cum_g * n_src) * 1000000
             // (n_src * n_all)) AS BIGINT) AS ks_ppm
         FROM cum CROSS JOIN n GROUP BY 1, 2, 3""",
    // x106: jaro_winkler_similarity is the semantics the graft
    // expression is pinned to — same blocks, same tiebreak, and the
    // double scores must agree bit-for-bit for the 0.9 threshold to
    // select identical rows
    "x106_jw_linkage" ->
      """WITH p AS (SELECT p_partkey, p_name, p_brand FROM part
           WHERE p_partkey IS NOT NULL AND p_name IS NOT NULL
             AND p_brand IS NOT NULL)
         SELECT a.p_brand, a.p_partkey AS id_a, b.p_partkey AS id_b,
           a.p_name AS name_a, b.p_name AS name_b,
           jaro_winkler_similarity(a.p_name, b.p_name) AS jw
         FROM p a JOIN p b
           ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
         WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.9""",
    // x107: generate_series ≡ Spark sequence (inclusive ends); the same
    // day-number convention as x72/x99–x100
    "x107_rolling_actives" ->
      """WITH days AS (SELECT DISTINCT user_id,
           CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day
         FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         b AS (SELECT MAX(day) AS max_day FROM days),
         fan AS (SELECT user_id, unnest(generate_series(day, day + 6))
             AS rday FROM days),
         wau AS (SELECT rday, COUNT(DISTINCT user_id) AS wau
           FROM fan CROSS JOIN b WHERE rday <= b.max_day GROUP BY rday),
         dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau
           FROM days GROUP BY day)
         SELECT dau.day, dau.dau, wau.wau,
           (dau.dau * 1000000) // wau.wau AS stickiness_ppm
         FROM wau JOIN dau ON wau.rday = dau.day""",
    // x108: identical island key day − ROW_NUMBER(); the longest-streak
    // start tiebreak is MIN over equal-length streaks in both engines
    "x108_activity_streaks" ->
      """WITH days AS (SELECT DISTINCT user_id,
           CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day
         FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         isl AS (SELECT user_id, day,
             day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
               AS grp
           FROM days),
         streaks AS (SELECT user_id, grp, COUNT(*) AS len,
             MIN(day) AS start_day
           FROM isl GROUP BY 1, 2),
         mx AS (SELECT *, CAST(MAX(len) OVER (PARTITION BY user_id)
             AS BIGINT) AS longest FROM streaks)
         SELECT user_id, longest, COUNT(*) AS n_streaks,
           MIN(CASE WHEN len = longest THEN start_day END) AS longest_start
         FROM mx GROUP BY 1, 2""",
    // x109: the same anchor/code replication as x06 (ids < 8, bit =
    // inner product > 0, bits ordered by anchor id); majority tiebreak
    // (cnt DESC, label) matches the Spark window exactly
    "x109_label_noise" ->
      """WITH ev AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings WHERE vec_id IS NOT NULL AND label IS NOT NULL),
         a AS (SELECT vec_id AS aid, v AS av FROM ev WHERE vec_id < 8),
         coded AS (SELECT e.vec_id, e.label,
             string_agg(CASE WHEN list_inner_product(e.v, a.av) > 0
               THEN '1' ELSE '0' END, '' ORDER BY a.aid) AS bucket
           FROM ev e, a GROUP BY e.vec_id, e.label),
         bl AS (SELECT bucket, label, COUNT(*) AS cnt FROM coded
           GROUP BY 1, 2),
         maj AS (SELECT bucket, label AS maj_label,
             CAST(cnt AS BIGINT) AS maj_cnt FROM (
             SELECT *, ROW_NUMBER() OVER (PARTITION BY bucket
               ORDER BY cnt DESC, label) AS rn FROM bl) r WHERE rn = 1),
         sz AS (SELECT bucket, COUNT(*) AS bucket_n FROM coded GROUP BY 1)
         SELECT c.vec_id, c.label, c.bucket, sz.bucket_n, maj.maj_label,
           maj.maj_cnt,
           (c.label <> maj.maj_label AND sz.bucket_n >= 4) AS is_suspect
         FROM coded c JOIN maj USING (bucket) JOIN sz USING (bucket)""",
    // x110: identical cents convention and pinned Benford ppm literals;
    // leading digit via the integer's decimal string in both engines
    "x110_benford_audit" ->
      """WITH cents AS (SELECT CAST(floor(value * 100 + 0.5) AS BIGINT)
             AS cents
           FROM events WHERE value IS NOT NULL AND value > 0),
         digits AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1)
             AS BIGINT) AS digit, COUNT(*) AS n
           FROM cents WHERE cents > 0 GROUP BY 1),
         tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM digits)
         SELECT digit, n, total,
           (n * 1000000) // total AS obs_ppm,
           CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091
             WHEN 3 THEN 124939 WHEN 4 THEN 96910 WHEN 5 THEN 79181
             WHEN 6 THEN 66947 WHEN 7 THEN 57992 WHEN 8 THEN 51153
             ELSE 45757 END AS benford_ppm,
           abs((n * 1000000) // total - CASE digit WHEN 1 THEN 301030
             WHEN 2 THEN 176091 WHEN 3 THEN 124939 WHEN 4 THEN 96910
             WHEN 5 THEN 79181 WHEN 6 THEN 66947 WHEN 7 THEN 57992
             WHEN 8 THEN 51153 ELSE 45757 END) > 20000 AS is_deviant
         FROM digits CROSS JOIN tot""",
    // x111: the interval probe is a plain BETWEEN join here (the oracle
    // engine nested-loops the small CDF); same lower-quantile position
    // arithmetic, same (n_chars, doc_id) rank order
    "x111_quantile_normalize" ->
      """WITH d AS (SELECT doc_id, source, n_chars FROM documents
           WHERE doc_id IS NOT NULL AND source IS NOT NULL
             AND n_chars IS NOT NULL),
         ranked AS (SELECT doc_id, source, n_chars,
             CAST(ROW_NUMBER() OVER (PARTITION BY source
               ORDER BY n_chars, doc_id) AS BIGINT) AS r,
             CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n_src
           FROM d),
         n AS (SELECT COUNT(*) AS n_all FROM d),
         cdf AS (SELECT n_chars AS v, COUNT(*) AS m,
             CAST(SUM(COUNT(*)) OVER (ORDER BY n_chars) AS BIGINT) AS cum
           FROM d GROUP BY 1),
         iv AS (SELECT v, cum - m + 1 AS lo, cum AS hi FROM cdf),
         pr AS (SELECT doc_id, source, n_chars, r, n_src,
             CASE WHEN n_src > 1
               THEN 1 + (r - 1) * (n_all - 1) // (n_src - 1)
               ELSE (n_all + 1) // 2 END AS p
           FROM ranked CROSS JOIN n)
         SELECT pr.doc_id, pr.source, pr.n_chars, pr.r, pr.n_src, pr.p,
           iv.v AS norm_chars
         FROM pr JOIN iv ON pr.p BETWEEN iv.lo AND iv.hi""",
    // x112: same transition frame as x99; argmax tie-break (n DESC,
    // to_type) matches the Spark window exactly
    "x112_markov_eval" ->
      """WITH ev AS (SELECT user_id, event_id, event_type, ts FROM events
           WHERE user_id IS NOT NULL AND ts IS NOT NULL
             AND event_type IS NOT NULL),
         tr AS (SELECT event_type AS from_type,
             LEAD(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS to_type
           FROM ev),
         tr2 AS (SELECT * FROM tr WHERE to_type IS NOT NULL),
         pred AS (SELECT from_type, to_type AS pred_type FROM (
             SELECT from_type, to_type, COUNT(*) AS n,
               ROW_NUMBER() OVER (PARTITION BY from_type
                 ORDER BY COUNT(*) DESC, to_type) AS rn
             FROM tr2 GROUP BY 1, 2) q WHERE rn = 1)
         SELECT tr2.from_type, pred.pred_type, COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN tr2.to_type = pred.pred_type THEN 1
             ELSE 0 END) AS BIGINT) AS n_correct,
           (CAST(SUM(CASE WHEN tr2.to_type = pred.pred_type THEN 1
             ELSE 0 END) AS BIGINT) * 1000000) // COUNT(*) AS accuracy_ppm
         FROM tr2 JOIN pred USING (from_type)
         GROUP BY 1, 2""")
}
