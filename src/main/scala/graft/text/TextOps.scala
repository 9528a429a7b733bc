package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.expressions.Natives.md5 // shadows functions.md5 (bit-identical, thread-cached digest)

/** Text-analysis operators for a training-data pipeline: normalization,
  * tokenization, shingling, language-ID, quality scoring, fingerprinting.
  *
  * All column-expression based (no UDFs) so everything stays inside
  * whole-stage codegen and runs at scan speed on 100 TB — these are the
  * operators you run over every document exactly once, so per-row cost is
  * the whole ballgame.
  */
object TextOps {

  /** Canonical normalization: lowercase, strip non-alphanumerics to spaces,
    * collapse runs of whitespace, trim. The shared preprocessing for
    * dedup/fingerprint/langid so they agree on token boundaries. */
  def normalize(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9]+", " "), " +", " "))

  /** Whitespace tokens of the normalized text. */
  def tokens(text: Column): Column =
    split(normalize(text), " ")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column =
    size(tokens(text))

  /** BPE-ish subword count: alphabetic runs are charged ceil(len/4) subword
    * units (a cheap stand-in for a real BPE vocab — the point is the Spark
    * plumbing: a deterministic per-document cost model), digits and other
    * symbols one unit each. */
  def subwordCount(text: Column): Column = {
    val words = split(normalize(text), " ")
    // aggregate over the token array: sum of ceil(length/4), min 1 per token
    aggregate(
      filter(words, w => length(w) > 0),
      lit(0L),
      (acc, w) => acc + greatest(ceil(length(w) / lit(4.0)).cast("long"), lit(1L)))
  }

  /** Word k-shingles of the normalized text (for MinHash / Jaccard).
    * Returns the DISTINCT shingle set, joined with '_'. */
  def shingles(text: Column, k: Int): Column = {
    val toks = tokens(text)
    val n = size(toks)
    array_distinct(
      transform(
        sequence(lit(0), greatest(n - k, lit(0))),
        i => concat_ws("_", slice(toks, i + 1, lit(k)))))
  }

  // ─────────────────────────────────────────────────────────────────────
  // Exploded-row pipelines. The Column-expression forms above are fine for
  // one-shot projections, but any operator that ITERATES over tokens
  // (shingling, minhash, simhash, language scoring) must not embed the
  // tokenizer inside a lambda: Catalyst copies the expression tree into the
  // higher-order function and re-runs the regex normalization per element
  // (O(tokens²) per document — observed 30×+ slowdowns). The row forms
  // below materialize tokens once via explode and express the iteration
  // relationally — which is also the shape that scales: rows partition
  // freely across the cluster, arrays don't.
  // ─────────────────────────────────────────────────────────────────────

  /** One row per token occurrence: (…extraCols, idCol, pos, tok).
    * Tokenization runs exactly once per document, in the scan stage. */
  def tokenRows(docs: DataFrame, idCol: String, textCol: String,
                extraCols: Seq[String] = Nil): DataFrame =
    docs.select(
      (col(idCol) +: extraCols.map(col)) :+
        posexplode(tokens(col(textCol))).as(Seq("pos", "tok")): _*)

  /** The canonical REGISTRY-PINNED token frame: non-empty token rows,
    * hash(idCol)-partitioned. One exchange that every per-doc grouping
    * key downstream ((id), (id,tok), (id,cand)) rides exchange-free, and
    * one canonical plan so two classifiers over the same doc set share a
    * single cache entry (nbLangId + langIdDF in x144). */
  def pinnedTokens(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.ops.InternalCaches.register(
      tokenRows(docs, idCol, textCol).filter(col("tok") =!= "")
        .repartition(col(idCol)))

  /** Distinct word-k-shingles as rows: (idCol, …extraCols, g).
    * Same strings as [[shingles]] (lead-composed, nulls skipped by
    * concat_ws = the short-document tail rule), built with one window pass
    * over the token rows — one shuffle on the doc id. */
  def shingleRows(docs: DataFrame, idCol: String, textCol: String, k: Int,
                  extraCols: Seq[String] = Nil): DataFrame = {
    val tr = tokenRows(docs, idCol, textCol, extraCols)
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val parts = col("tok") +: (1 until k).map(j => lead(col("tok"), j).over(byDoc))
    tr.withColumn("__n_toks", count(lit(1)).over(Window.partitionBy(col(idCol))))
      .withColumn("g", concat_ws("_", parts: _*))
      .filter(col("pos") <= greatest(col("__n_toks") - k, lit(0)))
      .select((col(idCol) +: extraCols.map(col)) :+ col("g"): _*)
      .distinct()
  }

  /** Non-overlapping m-token chunks as rows: (idCol, chunk_idx,
    * chunk_hash). The CCNet/RefinedWeb "line dedup" unit generalized to
    * fixed token blocks (the synthetic corpus has no newlines to split
    * on). Chunk identity = md5 of the '_'-joined tokens in document order
    * (oracle-replayable). Built from token rows — ONE tokenization in the
    * scan stage — and a bounded per-group fold (≤ m tokens per chunk, so
    * no unbounded aggregation state; the lambda runs over the already
    * materialized struct array, not the tokenizer). */
  def chunkRows(docs: DataFrame, idCol: String, textCol: String,
                m: Int): DataFrame =
    chunkRowsOfTokens(tokenRows(docs, idCol, textCol), idCol, m)

  /** [[chunkRows]] over already-materialized token rows — the form
    * composed pipelines use so tokenization runs once across consumers. */
  def chunkRowsOfTokens(tr: DataFrame, idCol: String, m: Int): DataFrame = {
    require(m > 0, s"chunk size must be positive, got $m")
    tr.withColumn("chunk_idx", floor(col("pos") / m).cast("long"))
      .groupBy(col(idCol), col("chunk_idx"))
      .agg(md5(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok")), "_")).as("chunk_hash"))
  }

  /** Non-overlapping m-token chunks carrying the chunk TEXT (space-joined
    * tokens in document order): (idCol, chunk_idx, chunk). The unit for
    * rewrite-style dedup ([[graft.queries.CurationQueries]] x45), where the
    * surviving text must be reassembled — [[chunkRowsOfTokens]] only emits
    * the hash. Same bounded per-group fold (≤ m tokens per chunk). */
  def chunkTextRows(docs: DataFrame, idCol: String, textCol: String,
                    m: Int): DataFrame = {
    require(m > 0, s"chunk size must be positive, got $m")
    tokenRows(docs, idCol, textCol)
      .withColumn("chunk_idx", floor(col("pos") / m).cast("long"))
      .groupBy(col(idCol), col("chunk_idx"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok")), " ").as("chunk"))
  }

  /** Deterministic hashed-feature weight of a token (fastText-shaped
    * linear-model feature): token → md5 bucket in [0, buckets) →
    * fixed integer weight in [-span, span], derived from md5 of the
    * bucket id. Engine-portable (md5 + integer arithmetic only) so a SQL
    * oracle replays it exactly; sums of these are long-exact. */
  def hashedTokenWeight(tok: Column, buckets: Int = 64,
                        span: Int = 500): Column = {
    val bucket = pmod(conv(substring(md5(tok), 1, 8), 16, 10)
      .cast("long"), lit(buckets.toLong))
    pmod(conv(substring(md5(concat(lit("w"), bucket)), 1, 8), 16, 10)
      .cast("long"), lit(2L * span + 1)) - span.toLong
  }

  /** Language ID over token rows (same result as [[langId]], computed with
    * one tokenization + one aggregation instead of 4 embedded tokenizer
    * copies). Output: (idCol, lang_pred). */
  def langIdDF(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val langs = stopwords.keys.toSeq.sorted
    // the CANONICAL pinned token frame — the same plan nbLangId pins, so
    // a query running both classifiers over one doc set (x144) tokenizes
    // once and both groupBys ride the one hash(id) exchange (cache
    // lookup is by canonicalized plan, so the second register() reuses
    // the first's InMemoryRelation). Dropping empty tokens is score-
    // neutral here: "" is never a stopword, and zero-token docs return
    // via the left join as 'und' either way
    val tr = pinnedTokens(docs, idCol, textCol)
    val scores = langs.map(l =>
      count(when(col("tok").isInCollection(stopwords(l)), 1)).as(s"s_$l"))
    val grouped = tr.groupBy(col(idCol)).agg(scores.head, scores.tail: _*)
    // left-join back from the full doc set: a null/empty text produces
    // ZERO token rows and would silently vanish from the grouped side —
    // it must come back as 'und', matching the Column-form langId
    val m = greatest(langs.map(l => coalesce(col(s"s_$l"), lit(0L))): _*)
    val pick = langs.foldRight(lit(langs.last)) { (l, rest) =>
      when(coalesce(col(s"s_$l"), lit(0L)) === m, lit(l)).otherwise(rest)
    }
    docs.select(col(idCol)).join(graft.ops.Relational.gatedBroadcast(grouped), Seq(idCol), "left")
      .select(col(idCol),
        when(m === 0, lit("und")).otherwise(pick).as("lang_pred"))
  }

  /** Stopword-profile language ID (SURVEY §7.1 step 7 extension).
    * Scores each candidate language by how many of the document's tokens
    * appear in its (tiny, embedded) stopword list; argmax wins, ties broken
    * alphabetically. A real system would use char-n-gram profiles; the
    * operator shape (per-token broadcast-set membership + argmax) is the
    * same and it's what the oracle can verify. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "a", "that", "it", "for"),
    "fr" -> Seq("le", "la", "les", "et", "de", "un", "une", "est", "que", "pour"),
    "es" -> Seq("el", "la", "los", "y", "de", "un", "una", "es", "que", "para"),
    "de" -> Seq("der", "die", "das", "und", "von", "ein", "eine", "ist", "dass", "zu"))

  def langScore(text: Column, lang: String): Column = {
    val sw = stopwords(lang).map(lit(_))
    size(filter(tokens(text), t => array_contains(array(sw: _*), t)))
  }

  /** Argmax language with deterministic alphabetical tiebreak; "und"
    * (undetermined) when no stopword hits at all. */
  def langId(text: Column): Column = {
    val langs = stopwords.keys.toSeq.sorted
    val scored = langs.map(l => struct(langScore(text, l).as("s"), lit(l).as("l")))
    // array_max over (score, lang) structs picks highest score; for equal
    // scores it picks the lexicographically LAST lang, so invert: compare on
    // (score, negated-rank) … simpler: fold with explicit strictly-greater.
    val best = scored.reduce { (a, b) =>
      when(b.getField("s") > a.getField("s"), b).otherwise(a)
    }
    when(best.getField("s") > 0, best.getField("l")).otherwise(lit("und"))
  }

  /** Quality-score components (all exact integer-ratio arithmetic →
    * deterministic doubles). */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0))
      .otherwise(length(regexp_replace(text, "[^.,;:!?]", "")).cast("double") / length(text))

  def digitRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0))
      .otherwise(length(regexp_replace(text, "[^0-9]", "")).cast("double") / length(text))

  def stopwordRatio(text: Column): Column = {
    val all = stopwords.values.flatten.toSeq.distinct.sorted.map(lit(_))
    val toks = tokens(text)
    when(size(toks) === 0, lit(0.0))
      .otherwise(size(filter(toks, t => array_contains(array(all: _*), t))).cast("double") / size(toks))
  }

  /** Composite quality score in [0,1]: rewards mid-length documents with
    * low punctuation/digit noise and a natural stopword rate. Weights are
    * arbitrary but fixed; the operator is the deliverable. */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast("double") / lit(400.0), lit(1.0))
    val punct = lit(1.0) - least(punctRatio(text) * 5.0, lit(1.0))
    val digit = lit(1.0) - least(digitRatio(text) * 5.0, lit(1.0))
    lenScore * 0.4 + punct * 0.3 + digit * 0.3
  }

  /** PII / boilerplate scrubbing for training corpora: emails, URLs and
    * long digit runs become placeholder tokens. Applied in rule order
    * (URLs first so their digits don't half-match). Patterns kept in the
    * regex subset Java and RE2 agree on, so the oracle replays exactly. */
  def scrubPii(text: Column): Column = {
    val rules = Seq(
      "https?://[^\\s]+" -> "<URL>", // bounded by ALL whitespace — [^ ]
                                     // would swallow the next line

      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
      "[0-9]{4,}" -> "<NUM>")
    rules.foldLeft(text) { case (c, (p, r)) => regexp_replace(c, p, r) }
  }

  /** Content fingerprint = md5 of the normalized text: exact-dup clustering
    * key that survives whitespace/case/punctuation noise. */
  def fingerprint(text: Column): Column =
    md5(normalize(text))

  /** Rolling polynomial fingerprint (Rabin-Karp style, base 31 mod the
    * Mersenne prime 2^31-1) over normalized tokens — a cheap
    * order-sensitive signature used where md5 of the whole text is too
    * strict (e.g. windowed chunk fingerprints). The per-token hash is the
    * first 8 hex digits of md5 (engine-portable, so the DuckDB oracle
    * replays the fold exactly via list_reduce). ANSI-safe headroom:
    * acc < 2^31, so acc*31 + tokenHash < 2^37 — no long overflow.
    * The lambda only hashes the already-materialized token — the tokenizer
    * itself runs once, outside the fold. */
  def rollingFingerprint(text: Column): Column = {
    val mod = lit(2147483647L) // 2^31-1
    aggregate(
      tokens(text),
      lit(7L),
      (acc, t) => pmod(acc * 31 + conv(substring(md5(t), 1, 8), 16, 10).cast("long"), mod))
  }

  /** Character-level Shannon entropy over the normalized text — the
    * gibberish/low-diversity quality signal the ratio features don't
    * capture (all-same-char spam scores 0 bits; natural English sits
    * ~3-4). Per-(doc, char) terms `p·log2(1/p)` floor to integer
    * micro-units ONCE (each term is a few IEEE ops on the two integer
    * counts — engine-exact), so the per-doc entropy is an order-free
    * integer sum; empty-normalized docs report 0. One narrow (doc, char)
    * shuffle with partial combine.
    *
    * Output: (idCol, n_chars_norm, n_distinct, entropy_micro,
    * entropy_bits). */
  def charEntropy(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val counts = docs.select(col(idCol),
        explode(split(normalize(col(textCol)), "")).as("ch"))
      .filter(col("ch") =!= "")
      .groupBy(col(idCol), col("ch")).agg(count(lit(1)).as("c"))
    val totals = counts.groupBy(col(idCol))
      .agg(sum(col("c")).as("n"), count(lit(1)).as("n_distinct"))
    val agg = counts.join(totals, Seq(idCol))
      .withColumn("term", expr(
        """CAST(floor((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
           * (ln(CAST(n AS DOUBLE) / CAST(c AS DOUBLE))
              / ln(CAST(2.0 AS DOUBLE)))
           * CAST(1000000.0 AS DOUBLE)) AS BIGINT)"""))
      .groupBy(col(idCol))
      .agg(max(col("n")).as("n_chars_norm"),
        max(col("n_distinct")).as("n_distinct"),
        sum(col("term")).as("entropy_micro"))
    docs.select(col(idCol)).join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_chars_norm"), lit(0L)).as("n_chars_norm"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        coalesce(col("entropy_micro"), lit(0L)).as("entropy_micro"))
      .withColumn("entropy_bits",
        col("entropy_micro").cast("double") / expr("CAST(1000000.0 AS DOUBLE)"))
  }

  /** Language-mix segmentation (code-switch detection): the stopword-
    * profile vote of [[langIdDF]] applied per `chunkTokens`-token CHUNK
    * instead of per document — mixed-language documents are invisible to
    * a whole-doc argmax but poison monolingual training sets. Per-doc
    * roll-up: chunk count, distinct non-und chunk langs, dominant lang
    * (most chunks, alphabetical ties via min-struct — no window),
    * minority share among non-und chunks in integer ppm. Deterministic
    * and integer throughout; one shuffle to (doc, chunk), partial-
    * combined.
    *
    * Output: (idCol, n_chunks, n_langs, dominant_lang, minority_ppm,
    * mixed). Token-less docs report (0, 0, 'und', 0, false). */
  def langMix(docs: DataFrame, idCol: String, textCol: String,
              chunkTokens: Int): DataFrame = {
    require(chunkTokens > 0)
    val langs = stopwords.keys.toSeq.sorted
    val tr = tokenRows(docs, idCol, textCol)
      .filter(col("tok") =!= "")
      .withColumn("chunk", expr(s"pos div $chunkTokens"))
    val scores = langs.map(l => count(when(
      col("tok").isInCollection(stopwords(l)), 1)).as(s"s_$l"))
    val ch = tr.groupBy(col(idCol), col("chunk"))
      .agg(scores.head, scores.tail: _*)
    val mx = greatest(langs.map(l => col(s"s_$l")): _*)
    val pick = langs.foldRight(lit(langs.last)) { (l, rest) =>
      when(col(s"s_$l") === mx, lit(l)).otherwise(rest)
    }
    val cl = ch.select(col(idCol),
      when(mx === 0, lit("und")).otherwise(pick).as("clang"))
    val cnt = cl.groupBy(col(idCol), col("clang")).agg(count(lit(1)).as("nc"))
    val nu = cnt.filter(col("clang") =!= "und")
    val dom = nu.groupBy(col(idCol))
      .agg(min(struct((-col("nc")).as("n"), col("clang").as("l"))).as("m2"),
        sum(col("nc")).as("n_lang_chunks"), count(lit(1)).as("n_langs"))
      .select(col(idCol), col("m2.l").as("dominant_lang"),
        (-col("m2.n")).as("n_dom"), col("n_lang_chunks"), col("n_langs"))
    val tot = cl.groupBy(col(idCol)).agg(count(lit(1)).as("n_chunks"))
    docs.select(col(idCol))
      .join(tot, Seq(idCol), "left")
      .join(dom, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_langs"), lit(0L)).as("n_langs"),
        coalesce(col("dominant_lang"), lit("und")).as("dominant_lang"),
        when(coalesce(col("n_lang_chunks"), lit(0L)) === 0, lit(0L))
          .otherwise(expr(
            "((n_lang_chunks - n_dom) * CAST(1000000 AS BIGINT)) div n_lang_chunks"))
          .as("minority_ppm"))
      .withColumn("mixed", col("n_langs") > 1)
  }

  /** Multinomial Naive Bayes language classifier, trained and scored
    * relationally (the fastText-class lexical classifier, minus the
    * gradient steps): token likelihoods train on `docs` rows where
    * `trainPred` holds, label = `labelCol`; every doc is scored against
    * every trained label and assigned the argmax (ties to the smallest
    * label). Add-1 smoothing over the training vocab; only labels with at
    * least one training token participate.
    *
    * Replayability: the per-(token, label) log-prob, the per-label
    * unseen-token default, and the per-label doc prior each floor to
    * integer MICRO-units once, so per-doc scores are pure integer sums —
    * order-free, engine-exact (the x120 quantize-once discipline; ln
    * bit-parity is the x120-probed property).
    *
    * Scale shape: label dimension is bounded → broadcast grid; the
    * (token, label) likelihood join is an equi-join; token rows shuffle
    * once to (doc, label); the final argmax is a min-struct partial
    * aggregation, never a window. Token frame cached (caller-managed).
    *
    * Output: (idCol, actual, pred_lang, score_micro, correct). */
  def nbLangId(docs: DataFrame, idCol: String, textCol: String,
               labelCol: String, trainPred: Column): DataFrame = {
    val (best, bestDefault) =
      nbLangIdSparse(docs, idCol, textCol, labelCol, trainPred)
    val out = docs.select(col(idCol), col(labelCol))
      .join(graft.ops.Relational.gatedBroadcast(best), Seq(idCol), "left")
    val filled = bestDefault match {
      case Some((p, sc)) => out.select(col(idCol),
        col(labelCol).as("actual"),
        coalesce(col("pred_lang"), lit(p)).as("pred_lang"),
        coalesce(col("score_micro"), lit(sc)).as("score_micro"))
      // no trained labels at all: the old docs × labels cross join was
      // empty, so the operator's contract is an empty result
      case None => out.filter(lit(false))
        .select(col(idCol), col(labelCol).as("actual"),
          col("pred_lang"), col("score_micro"))
    }
    filled.withColumn("correct", col("pred_lang") === col("actual"))
  }

  /** The SPARSE core of [[nbLangId]]: predictions for token-bearing docs
    * only, plus the constant a zero-token doc would get. Composed
    * pipelines that already carry a full-doc-universe frame (x144 joins
    * against the rule classifier's surface) attach these with one
    * left-join + coalesce instead of paying nbLangId's own docs
    * attach-back join.
    *
    * Returns (best, default): `best` = (idCol, pred_lang, score_micro)
    * for every doc with ≥1 token; `default` = Some((pred, score)) — the
    * argmax over bare priors (max prior, tie to smallest label — the
    * same order Spark's min-struct gives) — or None when no label
    * trained. */
  def nbLangIdSparse(docs: DataFrame, idCol: String, textCol: String,
                     labelCol: String, trainPred: Column)
      : (DataFrame, Option[(Any, Long)]) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import scala.jdk.CollectionConverters._
    // token rows pinned hash(id)-partitioned: id ⊆ every downstream
    // grouping key ((id,tok), (id,cand), (id)), so hash(id) satisfies all
    // their clustered-distribution requirements and the ENTIRE score
    // chain below runs on this ONE exchange — dtc, the per-(doc,cand)
    // sum, and the argmax are exchange-free map-side stages (r12
    // directive #1: one linear plan)
    val tr = pinnedTokens(docs, idCol, textCol)
    val trTok = tr.filter(trainPred)
      .join(docs.select(col(idCol), col(labelCol)), Seq(idCol))
    // the ONE model frame the train side builds: per-(label, tok)
    // occurrence counts, registry-cached. Every other training statistic
    // — per-label token totals c_l, the distinct-vocab size v_n — FOLDS
    // from this frame with cheap scans of the cache, so the expensive
    // tokenize+join+groupBy chain over the corpus executes exactly once
    // (r12 directive #1: the old shape pinned cl/vocabN/labels as three
    // more registry caches under FIVE broadcast sites, and each broadcast
    // job re-planned its subtree — 29-job census for x131 alone)
    val cwl = graft.ops.InternalCaches.register(
      trTok.groupBy(col(labelCol), col("tok")).agg(count(lit(1)).as("c_wl")))
    // model-sized scalars collected to the driver, SEQUENTIALLY — the
    // first collect materializes the cwl (and transitively tr) cache, so
    // no later broadcast can race an unpopulated pin (the x144/x171
    // lesson). Label dimension is bounded; these are bounded collects.
    // ONE action collects every training statistic: a cube over the
    // cached cwl folds the per-label token totals (g=0 rows) AND the
    // global distinct-vocab size (the g=1 rollup row), unioned with the
    // per-label training DOC counts (g=2 rows, from the docs frame — a
    // zero-token training doc still moves the prior). One collect, one
    // job, instead of a groupBy collect + a distinct count + a doc-count
    // collect
    val statCollect = cwl.cube(col(labelCol))
      .agg(sum(col("c_wl")).as("v"), countDistinct(col("tok")).as("vd"),
        grouping(col(labelCol)).cast("int").as("g"))
      .select(col(labelCol).as("l"), col("v"), col("vd"), col("g"))
      .unionByName(docs.filter(trainPred).groupBy(col(labelCol))
        .agg(count(lit(1)).as("v"))
        .select(col(labelCol).as("l"), col("v"), lit(0L).as("vd"),
          lit(2).as("g")))
      .collect()
    val clRows = statCollect.filter(_.getInt(3) == 0)
    val vN = statCollect.find(_.getInt(3) == 1).map(_.getLong(2)).getOrElse(0L)
    val docRows = statCollect.filter(_.getInt(3) == 2)
    val nTot = docRows.map(_.getLong(1)).sum
    // driver-assembled label-stats LOCAL relation: downstream broadcasts
    // are LocalTableScans, never jobs. Only labels with ≥1 training token
    // participate (the inner join with cl, preserved as a map lookup).
    // prior_m/def_m stay CATALYST expressions over the local rows — the
    // floor(ln(·)·1e6) micro-unit floor must replay bit-for-bit in the
    // oracle, so the ln evaluation engine cannot change (x120 discipline)
    // null labels excluded on both sides — the old shape's inner equi-join
    // on labelCol never matched SQL nulls, and a Scala Map would
    val clMap = clRows.filter(!_.isNullAt(0)).map(r => r.get(0) -> r.getLong(1)).toMap
    val statRows: Seq[Row] = docRows.toSeq.filter(!_.isNullAt(0)).flatMap { r =>
      clMap.get(r.get(0)).map(cl => Row(r.get(0), cl, r.getLong(1), nTot, vN))
    }
    val stats = docs.sparkSession.createDataFrame(
      statRows.asJava,
      StructType(Seq(
        StructField("cand", docs.schema(labelCol).dataType),
        StructField("c_l", LongType), StructField("n_docs", LongType),
        StructField("n_tot", LongType), StructField("v_n", LongType))))
    val micro = (e: String) =>
      s"CAST(floor(ln($e) * CAST(1000000.0 AS DOUBLE)) AS BIGINT)"
    val labels = stats.select(col("cand"),
      expr(micro("CAST(n_docs AS DOUBLE) / CAST(n_tot AS DOUBLE)"))
        .as("prior_m"),
      expr(micro("CAST(1.0 AS DOUBLE) / CAST(c_l + v_n AS DOUBLE)"))
        .as("def_m"))
    // lw is the trained MODEL (vocab × labels) — broadcast it when the
    // optimizer's estimate fits the threshold so the token join puts no
    // exchange on the hash(id)-partitioned probe. A web-scale vocab can
    // outgrow the broadcast bound; the ungated fallback is the planner's
    // shuffle join — correct, at the cost of re-partitioning the chain
    // (the x106 gate pattern)
    val lwRaw = cwl.withColumnRenamed(labelCol, "cand")
      .join(broadcast(stats.select(col("cand"), col("c_l"), col("v_n"))),
        Seq("cand"))
      .select(col("cand"), col("tok"),
        expr(micro("CAST(c_wl + 1 AS DOUBLE) / CAST(c_l + v_n AS DOUBLE)"))
          .as("lw_m"))
    val bcThreshold =
      docs.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val lw =
      if (bcThreshold > 0 && lwRaw.queryExecution.optimizedPlan.stats
            .sizeInBytes <= BigInt(bcThreshold)) broadcast(lwRaw)
      else lwRaw
    // the whole score chain rides tr's hash(id) partitioning: per-(doc,
    // tok) counts, the ×|labels| grid, the per-(doc,cand) sum (prior
    // folded into the agg — constant within the group), and the argmax
    // are ONE exchange-free span over the cached tokens
    val dtc = tr.groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("n_w"))
    // label index for the PACKED argmax below, assigned at the driver in
    // tie-break order (candLt = Spark's UTF8String / numeric ordering):
    // idx 0 = the smallest cand. labelRows reads the labels LOCAL frame
    // (the projection constant-folds driver-side — same Catalyst ln
    // floor, no job), so prior_m values are bit-identical to the column
    // form's.
    def candLt(a: Any, b: Any): Boolean = (a, b) match {
      case (x: String, y: String) =>
        val (xb, yb) = (x.getBytes("UTF-8"), y.getBytes("UTF-8"))
        val n = math.min(xb.length, yb.length)
        var i = 0
        while (i < n && xb(i) == yb(i)) i += 1
        if (i < n) (xb(i) & 0xff) < (yb(i) & 0xff) else xb.length < yb.length
      case (x: Number, y: Number) => x.doubleValue < y.doubleValue
      case _ => a.toString < b.toString
    }
    val labelRows = labels.collect()
    val candSorted = labelRows.map(_.get(0)).sortWith(candLt)
    val idxOf = candSorted.zipWithIndex.toMap
    val nL = math.max(labelRows.length, 1).toLong
    val labelsIdx = docs.sparkSession.createDataFrame(
      labelRows.map(r => Row(r.get(0), r.getLong(1), r.getLong(2),
        idxOf(r.get(0)).toLong)).toSeq.asJava,
      StructType(labels.schema.fields :+ StructField("__ci", LongType)))
    val contrib = dtc
      .crossJoin(broadcast(labelsIdx))
      .join(lw, Seq("cand", "tok"), "left")
      .groupBy(col(idCol), col("cand"), col("__ci"))
      .agg((min(col("prior_m"))
        + sum(col("n_w") * coalesce(col("lw_m"), col("def_m"))))
        .as("score_micro"))
    // argmax as a PACKED single-long min — min(struct(ns, cand)) put a
    // SortAggregate in the score stage (struct buffers block hash-agg;
    // the r15 census's one lever on x131). ns = -score is ≥ 0 (every
    // per-token ln is of a probability ≤ 1, so scores are ≤ 0), the
    // label index is < nL, so min(ns·nL + idx) is the same lexicographic
    // (ns, idx) order with idx ordered by candLt = the struct's
    // tie-break — and it hash-aggregates as a plain long. Overflow would
    // need ns·nL ≥ 2^63 (≈ 4·10¹¹ tokens in ONE doc at 8 labels) and
    // ANSI mode throws loudly, not silently, if a corpus ever does that.
    val packed = contrib.groupBy(col(idCol))
      .agg(min((-col("score_micro")) * lit(nL) + col("__ci")).as("__p"))
    val best = packed
      .withColumn("__ci", col("__p") % nL)
      .withColumn("score_micro", -expr(s"__p div ${nL}L"))
      .join(broadcast(labelsIdx.select(col("__ci"),
        col("cand").as("pred_lang"))), Seq("__ci"))
      .select(col(idCol), col("pred_lang"), col("score_micro"))
    // zero-token docs never reach contrib; their score over every cand is
    // the bare prior, so their argmax is a CONSTANT — max prior, tie to
    // the smallest cand. Computed at the driver from statRows with the
    // prior_m values read back off the labels local frame (same Catalyst
    // ln floor — LocalRelation projection folds driver-side, no job);
    // strings compare as UTF-8 bytes = Spark's UTF8String struct-min order
    val bestDefault = labelRows.sortWith { (a, b) =>
      if (a.getLong(1) != b.getLong(1)) a.getLong(1) > b.getLong(1)
      else candLt(a.get(0), b.get(0))
    }.headOption.map(r => (r.get(0), r.getLong(1)))
    (best, bestDefault)
  }

  /** Iterated BPE training at word granularity (Sennrich '16 §3.2's loop,
    * tokens-for-characters): `nMerges` greedy rounds, each selecting the
    * most frequent ADJACENT token pair — count desc, then pair (a asc,
    * b asc), the pinned tiebreak (NOT the concatenated "a_b" string,
    * which is ambiguous once merged tokens contain '_') — and APPLYING it
    * to the whole corpus left-to-right non-overlapping before the next
    * count, so round k's counts see round k-1's merges ([a,a,a] yields 2
    * occurrences of (a,a) but one application → [a_a, a]).
    *
    * The application is pure string algebra that both engines replay
    * bit-for-bit: wrap tokens in sentinels ('<tok> <tok> …' — '<'/'>'
    * cannot survive [[normalize]], '_' only ever comes from merges), one
    * non-overlapping left-to-right `replace` of '<a> <b>' with '<a_b>',
    * unwrap. No fold/lambda, so the per-round corpus pass is a narrow
    * codegen'd projection; the only driver state is the selected pair —
    * one collected row per round, model-sized like kmeansMicro's
    * centroids.
    *
    * Driver actions are nMerges + 2, each over a registry-cached corpus:
    * one count of the nonempty docs N₁ (INVARIANT under merges — a merge
    * never empties a doc), one top-pair selection per round with the
    * round's total pair count riding the same job as an `observe`
    * metric, and one final token sum. The per-round token count then
    * falls out of the identity `tokens = pairs + N₁` (each nonempty doc
    * has t−1 adjacent pairs) instead of paying its own scan.
    *
    * Returns one row per executed merge: (step, pr = 'a_b', n_occ =
    * occurrences at selection time, n_tokens_after = corpus token count
    * after applying it — pins the APPLICATION, not just the selection).
    * Stops early (fewer than nMerges rows) if the corpus runs out of
    * adjacent pairs. */
  def bpeTrain(docs: DataFrame, idCol: String, textCol: String,
               nMerges: Int): DataFrame = {
    require(nMerges > 0, s"nMerges must be positive, got $nMerges")
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import scala.jdk.CollectionConverters._
    import graft.ops.InternalCaches
    val spark = docs.sparkSession
    var cur = InternalCaches.register(docs
      .filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol), normalize(col(textCol)).as("__s")))
    val n1 = cur.filter(col("__s") =!= "").count()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    val tokensAfter = scala.collection.mutable.ArrayBuffer.empty[Long]
    var exhausted = false
    def pairRows(c: DataFrame): DataFrame = c.filter(col("__s") =!= "")
      .select(split(col("__s"), " ").as("__t"))
      .filter(size(col("__t")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(__t) - 2), j -> " +
          "struct(__t[j] AS a, __t[j + 1] AS b))")).as("__p"))
    for (step <- 1 to nMerges if !exhausted) {
      val obs = org.apache.spark.sql.Observation(s"bpe_pairs_$step")
      val top = pairRows(cur)
        .observe(obs, count(lit(1)).as("np"))
        .groupBy(col("__p.a").as("a"), col("__p.b").as("b"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("a"), col("b"))
        .limit(1).collect()                  // 1 row — bounded model state
      // pairs over the PRE-merge corpus of this round = the post-merge
      // token count of the PREVIOUS round, via tokens = pairs + N₁.
      // Bounded wait, not obs.get: the metric arrives on the async
      // listener bus (usually instantly after the collect above), but
      // when the optimizer collapses a tiny in-memory corpus the
      // observation resolves to an EMPTY row (measured — TrainingSpec's
      // exhaustion case hits it), and if the CollectMetrics node were
      // ever dropped entirely the future would never resolve — so both
      // the await and the single-metric extraction sit inside the Try
      // and the explicit-count fallback is genuinely reachable.
      val pairsBefore = scala.util.Try(
          scala.concurrent.Await.result(obs.future,
            scala.concurrent.duration.Duration(10, "s")).getLong(0))
        .getOrElse(pairRows(cur).count())
      if (step >= 2) tokensAfter += pairsBefore + n1
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, n) = (top(0).getString(0), top(0).getString(1),
          top(0).getLong(2))
        val wrapped = concat(lit("<"),
          replace(col("__s"), lit(" "), lit("> <")), lit(">"))
        val applied = replace(wrapped,
          lit(s"<$a> <$b>"), lit(s"<${a}_$b>"))
        val unwrapped = replace(applied, lit("> <"), lit(" "))
        cur = InternalCaches.register(cur.withColumn("__s",
          unwrapped.substr(lit(2), length(unwrapped) - 2)))
        merges += ((step.toLong, s"${a}_$b", n))
      }
    }
    if (merges.length > tokensAfter.length)  // the last merge's count
      tokensAfter += cur.filter(col("__s") =!= "")
        .select(coalesce(sum(size(split(col("__s"), " "))).cast("long"), lit(0L)))
        .collect()(0).getLong(0)
    spark.createDataFrame(
      merges.zip(tokensAfter).map { case ((st, pr, n), nt) =>
        org.apache.spark.sql.Row(st, pr, n, nt)
      }.asJava,
      StructType(Seq(
        StructField("step", LongType, nullable = false),
        StructField("pr", StringType, nullable = false),
        StructField("n_occ", LongType, nullable = false),
        StructField("n_tokens_after", LongType, nullable = false))))
  }
}
