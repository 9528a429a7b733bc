package graft.dedup

import graft.ops.{InternalCaches, Skew}
import graft.text.TextOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.expressions.Natives
import graft.expressions.Natives.md5 // shadows functions.md5 (bit-identical, thread-cached digest)

/** Deduplication operators for large-scale corpus cleaning: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * Scale design notes (the whole point of these operators is 100 TB):
  *  - Exact dedup is a hash-groupBy on a fingerprint — one shuffle of
  *    (hash, id), never of the document bodies.
  *  - Everything token-iterating is built on [[TextOps.tokenRows]] /
  *    [[TextOps.shingleRows]]: tokens materialize once, iteration is
  *    relational (rows partition across the cluster; per-row lambdas that
  *    embed the tokenizer re-run it per element and die at scale).
  *  - MinHash/LSH shuffles only (band-key, id) pairs; candidate
  *    verification joins back to signatures, NOT to raw text. The raw-text
  *    gram-join (ngramJaccardPairs) is the small-data/oracle path.
  *  - All hashing is engine-portable (md5 on strings) so the DuckDB oracle
  *    can replay it bit-for-bit; swap in xxhash64 for production speed —
  *    the operator shape is identical.
  */
object Dedup {

  /** Exact dedup: cluster by normalized-content fingerprint, keep the
    * smallest id per cluster (deterministic survivor). */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val fp = docs.select(col(idCol), TextOps.fingerprint(col(textCol)).as("fp"))
    fp.groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))
  }

  /** MinHash signatures: component i of a shingle set is the minimum of
    * md5(i || ':' || shingle) over the set (min-of-keyed-md5 is a valid
    * random-permutation proxy and exactly replayable in SQL).
    * Computed on shingle ROWS: md5 runs once per (shingle, component) and
    * the mins fold in the normal partial-aggregation path.
    * Output: (idCol, sig_0 … sig_{n-1}). */
  def withSignature(docs: DataFrame, idCol: String, textCol: String,
                    shingleK: Int, numHashes: Int): DataFrame =
    signatureOfShingles(TextOps.shingleRows(docs, idCol, textCol, shingleK),
      idCol, numHashes)

  /** Signature aggregation over ALREADY-MATERIALIZED shingle rows — the
    * form composed pipelines use so tokenization runs once, not once per
    * consumer. */
  def signatureOfShingles(sh: DataFrame, idCol: String,
                          numHashes: Int): DataFrame = {
    val mins = (0 until numHashes).map(i =>
      min(md5(concat(lit(s"$i:"), col("g")))).as(s"sig_$i"))
    sh.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
  }

  /** Production-speed signature variant: xxhash64 (codegen'd, no string
    * materialization) instead of md5. Same operator shape and banding as
    * [[withSignature]]; NOT oracle-replayable (DuckDB's hash differs) —
    * use wherever cross-engine replay isn't required. */
  def withSignatureFast(docs: DataFrame, idCol: String, textCol: String,
                        shingleK: Int, numHashes: Int): DataFrame = {
    val sh = TextOps.shingleRows(docs, idCol, textCol, shingleK)
    val mins = (0 until numHashes).map(i =>
      min(xxhash64(lit(i), col("g"))).as(s"sig_$i"))
    sh.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
  }

  /** MinHash + LSH candidate pairs (a<b) with their estimated Jaccard
    * (= fraction of equal signature components). Banding: `numHashes`
    * components grouped into bands of `rowsPerBand`; docs sharing ALL
    * components of any band land in the same bucket → candidate pair.
    *
    * Pair generation is the bucket self-join over (band-hash, id,
    * carried signature) rows, hot buckets triangle-decomposed into
    * bounded blocks ([[graft.ops.Skew.boundedWideBandPairs]]); cross-band
    * duplicates drop by first-matching-band (no distinct) and the
    * estimated-Jaccard filter ≥ tau evaluates inline on the carried
    * signatures. The result is one lazy plan: building it runs no Spark
    * job and pins no cache.
    */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      shingleK: Int = 3, numHashes: Int = 12,
                      rowsPerBand: Int = 3, tau: Double = 0.5,
                      hotThreshold: Int = 4096, blockSize: Int = 2048): DataFrame = {
    require(numHashes % rowsPerBand == 0,
      s"numHashes ($numHashes) must be a multiple of rowsPerBand ($rowsPerBand): " +
        "trailing signature components would be silently excluded from banding")
    val signed = withSignature(docs, idCol, textCol, shingleK, numHashes)
    lshPairsFromSignatures(signed, idCol, numHashes, rowsPerBand, tau,
      hotThreshold, blockSize)
  }

  private def bandNames(numBands: Int): Seq[String] =
    (0 until numBands).map(b => s"__band$b")

  /** Wide banding projection of a signature frame: one md5 band-hash
    * column per band (engine-portable, oracle-replayable) plus the raw
    * signature components — the input shape of the payload-carrying pair
    * generators ([[graft.ops.Skew.boundedWideBandPairs]]). */
  private def bandWide(signed: DataFrame, idCol: String,
                       numHashes: Int, rowsPerBand: Int): DataFrame = {
    val numBands = numHashes / rowsPerBand
    val names = bandNames(numBands)
    signed.select(col(idCol) +: (
      (0 until numBands).map { b =>
        val parts = (0 until rowsPerBand)
          .map(r => col(s"sig_${b * rowsPerBand + r}"))
        md5(concat_ws("|", parts: _*)).as(names(b))
      } ++ (0 until numHashes).map(i => col(s"sig_$i"))): _*)
  }

  /** Estimated-Jaccard numerator over carried signature structs: the
    * count of equal components between `carry_a` and `carry_b`. */
  private def carriedSigEq(numHashes: Int): Column =
    (0 until numHashes)
      .map(i => when(col(s"carry_a.sig_$i") === col(s"carry_b.sig_$i"), 1)
        .otherwise(0))
      .reduce(_ + _)

  /** LSH candidate pairs BETWEEN two signature frames over disjoint id
    * spaces (id_a from `signedLeft`, id_b from `signedRight`), with the
    * estimated Jaccard filter of [[minhashLshPairs]]. The incremental-
    * ingest shape: the right side is the standing corpus index (at scale,
    * precomputed and stored — signatures are append-only state), the left
    * side is the new batch, and the bucket join costs |batch| probes of
    * the band index instead of a corpus self-join. */
  def lshPairsBetween(signedLeft: DataFrame, signedRight: DataFrame,
                      idCol: String, numHashes: Int, rowsPerBand: Int,
                      tau: Double): DataFrame = {
    require(numHashes % rowsPerBand == 0,
      s"numHashes ($numHashes) must be a multiple of rowsPerBand ($rowsPerBand)")
    // hot-band guard on the standing-index side: corpus buckets over the
    // threshold decompose into hash-blocks the batch side fans over;
    // signatures ride through generation as the carry payload, so the
    // estimated-Jaccard verify is an inline projection — no candidate
    // re-joins, no cross-band distinct (first-matching-band dedup)
    val pairs = Skew.boundedWideBandPairsBetween(
      bandWide(signedLeft, idCol, numHashes, rowsPerBand),
      bandWide(signedRight, idCol, numHashes, rowsPerBand),
      idCol, bandNames(numHashes / rowsPerBand),
      carryCols = (0 until numHashes).map(i => s"sig_$i"))
    pairs
      .select(col("id_a"), col("id_b"),
        (carriedSigEq(numHashes).cast("double") / numHashes)
          .as("est_jaccard"))
      .filter(col("est_jaccard") >= tau)
  }

  /** Banding + estimated-Jaccard filter over an already-computed
    * signature frame — shared by [[minhashLshPairs]] and
    * [[lshDedupClusters]], and public for composed pipelines that reuse
    * one signature frame across stages (x115/x116 share signatures
    * between candidate generation, verification, and clustering). Lazy:
    * the signature lineage is read once by the generator's bucket-
    * population window, whose exchange both join sides reuse, so an
    * uncached `signed` is not recomputed per side; cache it only when
    * other stages read it too. */
  def lshPairsFromSignatures(signed: DataFrame, idCol: String,
                                numHashes: Int, rowsPerBand: Int,
                                tau: Double, hotThreshold: Int = 4096,
                                blockSize: Int = 2048): DataFrame = {
    // hot-band guard: a boilerplate flood (one text shared by 100k docs)
    // makes one band bucket quadratic in a single task under a plain
    // self-join; the triangle decomposition bounds per-task work at
    // ~blockSize². Signatures ride through generation as the carry
    // payload: the estimated-Jaccard verify is an inline projection — no
    // candidate re-joins against the signature frame, no cross-band
    // distinct (first-matching-band dedup)
    Skew.boundedWideBandPairs(
        bandWide(signed, idCol, numHashes, rowsPerBand), idCol,
        bandNames(numHashes / rowsPerBand), hotThreshold, blockSize,
        carryCols = (0 until numHashes).map(i => s"sig_$i"))
      .select(col("id_a"), col("id_b"),
        (carriedSigEq(numHashes).cast("double") / numHashes)
          .as("est_jaccard"))
      .filter(col("est_jaccard") >= tau)
  }

  /** Exact n-gram Jaccard similarity pairs via inverted-index join:
    * distinct shingle rows, self-join on shingle (+ blocking keys), count
    * common, |A∪B| = |A|+|B|-common. Quadratic in posting-list size —
    * correct baseline and oracle-checkable; at 100 TB this runs AFTER LSH
    * pruning (feed it `minhashLshPairs` candidates) or behind blocking
    * keys, never standalone.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        k: Int, tau: Double,
                        blockCols: Seq[String] = Nil): DataFrame =
    // length filter (classic similarity-join prune, e.g. Arasu et al.):
    // J(A,B) = |A∩B|/|A∪B| ≤ min(|A|,|B|)/max(|A|,|B|), so any pair whose
    // shingle-set sizes differ by more than tau× cannot reach the
    // threshold — pruning it INSIDE the join condition drops the pair
    // before it ever reaches the counting aggregation. Output-identical.
    commonShingleCounts(docs, idCol, textCol, k, blockCols,
      (na, nb) => na >= nb * tau && nb >= na * tau)
      .withColumn("jaccard",
        col("common").cast("double") / (col("na") + col("nb") - col("common")))
      .filter(col("jaccard") >= tau)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** The shared inverted-index core of [[ngramJaccardPairs]] and
    * [[containmentPairs]]: distinct shingle rows, self-join on the shingle
    * (+ optional blocking keys + a caller-supplied set-size prune applied
    * INSIDE the join condition), exact common counting. Output:
    * (id_a, id_b, na, nb, common) for every pair sharing ≥ 1 shingle that
    * survives the prune. Quadratic per posting list — at 100 TB this runs
    * behind blocking keys or LSH/band candidates, never standalone. */
  private def commonShingleCounts(docs: DataFrame, idCol: String,
                                  textCol: String, k: Int,
                                  blockCols: Seq[String],
                                  lengthOk: (Column, Column) => Column): DataFrame = {
    val sh = TextOps.shingleRows(docs, idCol, textCol, k, blockCols)
    // cache: the inverted index feeds BOTH sides of the self-join — without
    // it the whole tokenize→explode→window→distinct pipeline runs twice
    val inv = InternalCaches.register(sh.withColumn("n",
      count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(idCol)))))
    val blockEq = blockCols
      .map(c => col(s"a.$c") === col(s"b.$c"))
      .foldLeft(col("a.g") === col("b.g") &&
        col(s"a.$idCol") < col(s"b.$idCol") &&
        lengthOk(col("a.n"), col("b.n")))(_ && _)
    inv.as("a").join(inv.as("b"), blockEq)
      .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .agg(count(lit(1)).as("common"))
  }

  /** Asymmetric containment pairs: C(A→B) = |A∩B| / |A| — the partial-dup
    * relation Jaccard misses (a short doc quoted inside a long one has
    * high containment but low Jaccard, so Jaccard-LSH never surfaces it).
    * Inverted-index join over shingle rows with the containment length
    * filter (C(A→B) ≥ t forces |B| ≥ t·|A|, and symmetrically — pairs
    * outside either bound are pruned INSIDE the join condition, which is
    * output-identical), then exact set counting. Emits both directions
    * plus Jaccard for pairs where either containment ≥ `minContainment`. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       k: Int, minContainment: Double): DataFrame =
    commonShingleCounts(docs, idCol, textCol, k, Nil,
      (na, nb) => nb >= na * minContainment || na >= nb * minContainment)
      .select(col("id_a"), col("id_b"),
        (col("common").cast("double") / col("na")).as("containment_a"),
        (col("common").cast("double") / col("nb")).as("containment_b"),
        (col("common").cast("double") / (col("na") + col("nb") - col("common")))
          .as("jaccard"))
      .filter(col("containment_a") >= minContainment ||
        col("containment_b") >= minContainment)

  /** Exact Jaccard for a GIVEN candidate pair list — the verification
    * stage that makes LSH candidates exact. Unlike [[ngramJaccardPairs]]
    * (which self-joins the whole inverted index), this only touches the
    * shingle rows of candidate ids: cost is O(candidates × shingles/doc),
    * linear in the LSH output. Pairs sharing zero shingles simply drop out
    * (their Jaccard is 0 — below any meaningful threshold).
    * Input pairs: (id_a, id_b); output: (id_a, id_b, jaccard). */
  /** EXACT set-similarity self-join via prefix filtering (Chaudhuri et
    * al. ICDE'06; Bayardo et al. WWW'07 All-Pairs; the filter behind
    * Xiao et al.'s PPJoin): every document-pair with token-set Jaccard ≥
    * tauNum/tauDen is returned — no recall loss, unlike LSH — yet the
    * candidate join touches only PREFIX tokens.
    *
    * The filter: order every document's distinct tokens by one global
    * canonical order (document frequency ascending, then token — rarest
    * first, so prefixes carry the most selective tokens); a document of
    * size s keeps a prefix of `s − ⌈τ·s⌉ + 1` tokens. Any pair with
    * J ≥ τ has |x∩y| ≥ τ·|x∪y| ≥ ⌈τ·max(s_x, s_y)⌉, and by pigeonhole
    * two canonically-ordered sets that overlap that much MUST share a
    * prefix token — so the prefix equi-join loses nothing, and exact
    * Jaccard verification runs candidate-only (the x27 shape, with
    * exactness instead of recall).
    *
    * τ is a RATIONAL (tauNum/tauDen): the prefix length is exact integer
    * arithmetic (`⌈n·s/d⌉ = (n·s + d − 1) div d`), so the oracle replays
    * the boundary rows bit-for-bit.
    *
    * 100 TB shape: df counts and ranks are one shuffle on the doc id;
    * the candidate join shuffles only the ~(1−τ)·s prefix rows per doc,
    * keyed by token — rare-first ordering keeps those postings short
    * (the df-hottest tokens never enter a prefix unless a doc is nearly
    * all-stopwords); verification is candidate-only. Skew guard: a
    * pathological corpus where one token floods every prefix routes
    * through the same [[graft.ops.Skew]] census machinery as the LSH
    * band join if needed. Token frame cached (caller-managed).
    *
    * The set unit is the distinct k-shingle ([[TextOps.shingleRows]]) —
    * the df-ordered prefix only prunes when the element vocabulary is
    * rich; word UNIGRAMS on a small-vocabulary corpus degenerate to
    * near-quadratic candidates (measured: this corpus has 31 distinct
    * tokens — token-level postings put ~60% of the corpus behind every
    * prefix element, 134M candidate pairs at sf0.1; trigram shingles
    * have a 27k vocabulary and prune 24×).
    *
    * Output: (id_a, id_b, jaccard) over DISTINCT k-shingle sets. */
  def prefixFilterJaccardPairs(docs: DataFrame, idCol: String,
                               textCol: String, k: Int,
                               tauNum: Int, tauDen: Int): DataFrame = {
    require(tauNum > 0 && tauDen > 0 && tauNum < tauDen,
      "tau must be a proper fraction")
    import org.apache.spark.sql.expressions.Window
    val td = InternalCaches.register(
      TextOps.shingleRows(docs, idCol, textCol, k)
        .select(col(idCol), col("g")))
    val dfc = td.groupBy(col("g")).agg(count(lit(1)).as("__df"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("__df"), col("g"))
    val ranked = td.join(dfc, Seq("g"))
      .withColumn("__pos", row_number().over(w))
      .withColumn("__sz", count(lit(1)).over(Window.partitionBy(col(idCol))))
    val pref = ranked.filter(col("__pos") <=
        col("__sz") - expr(s"($tauNum * __sz + $tauDen - 1) div $tauDen")
          + 1)
      .select(col(idCol), col("g"), col("__sz"), col("__pos"))
    // length filter (the All-Pairs size bound): J >= tau forces
    // tau*max(sz) <= |x∩y| <= min(sz) — prune incompatible sizes before
    // the pair agg, exactness untouched
    val cand = pref.select(col(idCol).as("id_a"), col("g"),
        col("__sz").as("__sa"), col("__pos").as("__pa"))
      .join(pref.select(col(idCol).as("id_b"), col("g"),
        col("__sz").as("__sb"), col("__pos").as("__pb")),
        Seq("g"))
      .filter(col("id_a") < col("id_b"))
      .filter(lit(tauNum) * greatest(col("__sa"), col("__sb")) <=
        lit(tauDen) * least(col("__sa"), col("__sb")))
      // PPJoin positional filter (Xiao '08 §3.2): __pos is the per-doc
      // rank in ONE global element order (df asc, g asc), so a pair's
      // common elements appear in the same relative order in both docs —
      // the FIRST prefix match (min __pa; necessarily also min __pb) has
      // no common element before it, hence overlap I <= 1 + min(sa−pa,
      // sb−pb). J >= tau needs I·(tauNum+tauDen) >= tauNum·(sa+sb), so
      // pairs whose positional bound can't reach that die BEFORE the
      // verification join — pure integer arithmetic, prunes only pairs
      // the final jaccard filter would drop anyway (hash-identical
      // output). The pair agg replaces the old distinct — same shuffle
      // key, same cost, plus the sizes ride along for free.
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(col("__pa")).as("__pa"), min(col("__pb")).as("__pb"),
        min(col("__sa")).as("__sa"), min(col("__sb")).as("__sb"))
      .filter((lit(1) + least(col("__sa") - col("__pa"),
          col("__sb") - col("__pb"))) * lit(tauNum + tauDen) >=
        lit(tauNum) * (col("__sa") + col("__sb")))
      .select(col("id_a"), col("id_b"))
    jaccardForShingles(td, idCol, cand)
      .filter(col("jaccard") >=
        expr(s"CAST($tauNum AS DOUBLE) / CAST($tauDen AS DOUBLE)"))
  }

  def jaccardForPairs(docs: DataFrame, idCol: String, textCol: String,
                      k: Int, pairs: DataFrame): DataFrame =
    // NOTE cache lifecycle: as with minhashLshPairs, the pinned shingle
    // frame is caller-managed session state
    jaccardForShingles(
      InternalCaches.register(
        TextOps.shingleRows(docs, idCol, textCol, k)), idCol, pairs)

  /** [[jaccardForPairs]] over already-materialized shingle rows. */
  def jaccardForShingles(sh: DataFrame, idCol: String,
                         pairs: DataFrame): DataFrame = {
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    pairs.select(col("id_a"), col("id_b"))
      .join(sh.select(col(idCol).as("id_a"), col("g")), Seq("id_a"))
      .join(sh.select(col(idCol).as("id_b"), col("g")), Seq("id_b", "g"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("common"))
      .join(sizes.select(col(idCol).as("id_a"), col("n").as("na")), Seq("id_a"))
      .join(sizes.select(col(idCol).as("id_b"), col("n").as("nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (col("common").cast("double") / (col("na") + col("nb") - col("common")))
          .as("jaccard"))
  }

  /** The production text-dedup recipe end-to-end: MinHash-LSH candidate
    * generation → exact Jaccard verification → connected-component
    * clusters. Every stage is the scale-safe form — banded candidate
    * joins, candidate-only verification, pointer-jumping CC — composed
    * exactly as they would run over 100 TB. Tokenization runs ONCE (the
    * shingle frame is shared by signatures and verification) and both
    * intermediate caches are released before returning — the composed
    * recipe leaves no pinned state behind (the CC result itself is
    * checkpointed, not cached). */
  def lshDedupClusters(docs: DataFrame, idCol: String, textCol: String,
                       shingleK: Int = 2, numHashes: Int = 12,
                       rowsPerBand: Int = 3, candTau: Double = 0.25,
                       jaccardTau: Double = 0.2): DataFrame = {
    // validate BEFORE registering the shingle cache (ADVICE r16): invalid
    // banding params must not leave a pin behind until the next drain
    require(numHashes % rowsPerBand == 0,
      s"numHashes ($numHashes) must be a multiple of rowsPerBand ($rowsPerBand)")
    val sh = InternalCaches.register(
      TextOps.shingleRows(docs, idCol, textCol, shingleK))
    val labels = lshDedupClustersFromShingles(sh, idCol, numHashes,
      rowsPerBand, candTau, jaccardTau)
    sh.unpersist()
    labels
  }

  /** [[lshDedupClusters]] over an ALREADY-MATERIALIZED (caller-cached)
    * shingle frame — the form composed pipelines use when another stage
    * needs the same shingles (x128's audit verify, x141's pair verify):
    * tokenization+shingling runs ONCE for the whole composition instead
    * of once inside the cluster chain and once per extra consumer (the
    * r16 census read the second full shingle pass as the duplicate-
    * subtree signature on both queries). `sh` lifecycle stays with the
    * caller; the internal signature cache is released before returning
    * (CC materializes via localCheckpoint, so it is consumed by then). */
  def lshDedupClustersFromShingles(sh: DataFrame, idCol: String,
                                   numHashes: Int = 12,
                                   rowsPerBand: Int = 3,
                                   candTau: Double = 0.25,
                                   jaccardTau: Double = 0.2): DataFrame = {
    require(numHashes % rowsPerBand == 0,
      s"numHashes ($numHashes) must be a multiple of rowsPerBand ($rowsPerBand)")
    val signed = InternalCaches.register(
      signatureOfShingles(sh, idCol, numHashes))
    val cands = lshPairsFromSignatures(signed, idCol, numHashes, rowsPerBand, candTau)
      .select(col("id_a"), col("id_b"))
    val verified = jaccardForShingles(sh, idCol, cands)
      .filter(col("jaccard") >= jaccardTau)
    val labels = connectedComponents(verified) // materializes via localCheckpoint
    signed.unpersist()
    labels
  }

  /** SimHash (16-bit default, md5-derived) of the token multiset, as a
    * DataFrame op: one md5 per token occurrence, hex digits parsed once,
    * then per-bit ±1 votes aggregate per document; bit b = 1 iff vote > 0.
    * Bit b of token t = bit (b%4) of hex digit b/4 of md5(t) — pure string
    * ops, engine-portable. Output: (idCol, sh). */
  def simhashDF(docs: DataFrame, idCol: String, textCol: String,
                bits: Int = 16): DataFrame = {
    val tr = TextOps.tokenRows(docs, idCol, textCol)
    val nDigits = (bits + 3) / 4
    val digits = (0 until nDigits).map(dp =>
      conv(substring(md5(col("tok")), dp + 1, 1), 16, 10).cast("int").as(s"d_$dp"))
    val dd = tr.select(col(idCol) +: digits: _*)
    val votes = (0 until bits).map { b =>
      sum(when(col(s"d_${b / 4}").bitwiseAND(lit(1 << (b % 4))) > 0, 1)
        .otherwise(-1)).as(s"v_$b")
    }
    dd.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
      .select(col(idCol),
        (0 until bits).map(b =>
          when(col(s"v_$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("sh"))
  }

  /** Column-expression SimHash — same value as [[simhashDF]]; only for
    * one-off projections (embeds the tokenizer per bit — do NOT use in
    * bulk paths, use simhashDF). */
  def simhash(textCol: Column, bits: Int = 16): Column = {
    val toks = TextOps.tokens(textCol)
    val votes = (0 until bits).map { b =>
      val digitPos = b / 4 + 1
      val mask = 1 << (b % 4)
      aggregate(toks, lit(0),
        (acc, t) => acc +
          when(conv(substring(md5(t), digitPos, 1), 16, 10).cast("int")
            .bitwiseAND(lit(mask)) > 0, 1).otherwise(-1))
    }
    votes.zipWithIndex.map { case (v, b) =>
      when(v > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Connected components over a near-duplicate pair list: each node gets
    * the minimum id reachable from it — the cluster label that turns
    * pairwise similarity into dedup groups (keep min-id per cluster, drop
    * the rest).
    *
    * Algorithm: iterative min-label propagation — per round, every node
    * takes the min of its own label and its neighbors' labels; converges
    * in graph-diameter rounds (near-dup clusters are shallow; for
    * pathological chain graphs switch to large-star/small-star). Each
    * round is one join + one aggregate — all set-based, driver only checks
    * the convergence counter. Deterministic: min is order-independent.
    * Input: (id_a, id_b) pairs; output: (id, cluster). */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
                          idB: String = "id_b", maxIter: Int = 20,
                          collectThreshold: Long = 2000000L): DataFrame = {
    // Adaptive physical choice, same rule as broadcast-vs-shuffle joins:
    // the undirected edge list is first deduped and COUNTED (one bounded
    // action on (long, long) pairs — no payloads). At or below
    // `collectThreshold` edges (~32 MB at 16 B/edge, broadcast-scale) the
    // component labels come from a driver-side union-find: zero iterative
    // jobs, exactly the min-label semantics of the distributed loop.
    // Above it, the pointer-jumping loop below runs — that path's cost is
    // per-ROUND (log diameter), which only amortizes on graphs too big to
    // collect. Measured at sf0.1: the loop spent ~5 s of per-round
    // plan-compile + checkpoint overhead labelling a 256-edge graph the
    // union-find handles in milliseconds.
    val undirected = pairs
      .select(least(col(idA), col(idB)).as("a"),
        greatest(col(idA), col(idB)).as("b"))
      .distinct().localCheckpoint()
    if (undirected.count() <= collectThreshold)
      return unionFindLabels(undirected)
    // localCheckpoint (not cache) each round: the loop references `labels`
    // three times per iteration, so without LINEAGE truncation the logical
    // plan grows 3^rounds and analysis alone OOMs — the standard iterative-
    // algorithm discipline on Spark
    val edges = undirected.select(col("a"), col("b"))
      .unionByName(undirected.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint()
    var labels = edges.select(col("a").as("id")).distinct()
      .withColumn("cluster", col("id")).localCheckpoint()
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      // one round = neighbor-min step + pointer jump (label of label) —
      // effective propagation distance grows geometrically, so rounds are
      // O(log diameter) instead of O(diameter); one action per round
      val nm = edges.as("e")
        .join(labels.as("l"), col("e.b") === col("l.id"))
        .groupBy(col("e.a").as("nid")).agg(min(col("l.cluster")).as("nl"))
      val stepped = labels
        .join(nm, col("id") === col("nid"), "left")
        .select(col("id"), col("cluster").as("old"),
          least(col("cluster"), coalesce(col("nl"), col("cluster"))).as("c1"))
      val jumped = stepped.as("s")
        .join(labels.select(col("id").as("jid"), col("cluster").as("jc")).as("j"),
          col("s.c1") === col("j.jid"), "left")
        .select(col("s.id").as("id"),
          least(col("s.c1"), coalesce(col("j.jc"), col("s.c1"))).as("cluster"),
          (least(col("s.c1"), coalesce(col("j.jc"), col("s.c1"))) =!= col("s.old"))
            .as("moved"))
        .localCheckpoint()
      changed = jumped.filter(col("moved")).count()
      labels = jumped.drop("moved")
      i += 1
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
          s"($changed labels still moving) — the graph has a longer diameter " +
          "than expected; raise maxIter or switch to star contraction")
    // NOTE cache lifecycle: the returned frame stays cached (recomputing it
    // would replay the whole iteration); callers own the unpersist, as with
    // minhashLshPairs.
    labels
  }

  /** The two bloom probe positions of a string value: md5 sliced into two
    * independent 32-bit halves, each mod `mBits`. Engine-portable (md5 +
    * integer arithmetic), so a SQL oracle replays the exact same bits —
    * false positives and all. */
  def bloomPositions(g: Column, mBits: Int): Column =
    array(
      pmod(conv(substring(md5(g), 1, 8), 16, 10).cast("long"), lit(mBits.toLong)),
      pmod(conv(substring(md5(g), 9, 8), 16, 10).cast("long"), lit(mBits.toLong)))

  /** Build a bloom bitmap (packed little-endian: bit p lives at bit
    * (p mod 64) of word p/64) from a column of member strings. Driver-side
    * but BOUNDED: the collect is the distinct probe-position set, capped at
    * `mBits` values however large the member set grows — the whole point
    * of shipping a bloom filter instead of the member set itself.
    *
    * Packed longs, NOT a '0'/'1' string: Spark's UTF8String substring is
    * O(position) (it walks the bytes counting codepoints), so probing a
    * 2^18-char string literal cost ~128 KB of scanning PER PROBE — measured
    * 93 s for the sf0.1 decontamination pass. Word indexing via
    * element_at + shift is O(1) and codegen-friendly (same pass: 0.6 s). */
  def bloomBitmap(members: DataFrame, gCol: String, mBits: Int): Array[Long] = {
    require(mBits % 64 == 0, s"mBits ($mBits) must pack into whole 64-bit words")
    val pos = members
      .select(explode(bloomPositions(col(gCol), mBits)).as("p"))
      .distinct().collect().map(_.getLong(0))
    val words = new Array[Long](mBits / 64)
    pos.foreach(p => words(p.toInt >> 6) |= 1L << (p & 63))
    words
  }

  /** Probe a bloom bitmap column/literal (array<bigint> of packed words):
    * true iff BOTH probe bits are set. No join, no shuffle — a pure
    * projection against a broadcast literal, which is the 100 TB shape for
    * membership tests against a set too large to broadcast exactly
    * (FP rate ≈ (load)², one-sided: never misses a real member). */
  def bloomMightContain(g: Column, bitmap: Column, mBits: Int): Column = {
    val ps = bloomPositions(g, mBits)
    (1 to 2).map { i =>
      val p = element_at(ps, i)
      val word = element_at(bitmap, shiftright(p, 6).cast("int") + 1)
      call_function("shiftright", word, pmod(p, lit(64L)).cast("int"))
        .bitwiseAND(lit(1L)) =!= 0L
    }.reduce(_ && _)
  }

  /** Driver-side union-find over a collected (deduped, bounded) edge list
    * — the small-graph physical plan of [[connectedComponents]]. Union by
    * MIN root: every union keeps the component's minimum id as the root,
    * so the final root of any node IS the min reachable id — identical
    * semantics to the distributed loop, independent of edge order. */
  private def unionFindLabels(undirected: DataFrame): DataFrame = {
    val spark = undirected.sparkSession
    val idType = undirected.schema("a").dataType
    val es = undirected
      .select(col("a").cast("long"), col("b").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    es.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val rows = parent.keysIterator.toArray.sorted
      .map(id => org.apache.spark.sql.Row(id, find(id)))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType, nullable = true),
      org.apache.spark.sql.types.StructField("cluster",
        org.apache.spark.sql.types.LongType, nullable = true)))
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toIndexedSeq, 1), schema)
      .select(col("id").cast(idType).as("id"),
        col("cluster").cast(idType).as("cluster"))
  }

  /** SimHash near-dup pairs, ALL-PAIRS baseline: self-join on bit_count of
    * xor. Quadratic — kept ONLY as the cross-check baseline for
    * [[simhashPairsBanded]] (which produces the identical output at banded
    * cost); never run this standalone at scale. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   bits: Int = 16, maxHamming: Int = 2): DataFrame = {
    val parts = docs.sparkSession.sparkContext.defaultParallelism
    val h = simhashDF(docs, idCol, textCol, bits).repartition(parts)
    h.as("a").join(h.as("b"), col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** SimHash near-dup pairs, SCALE path: LSH over exact-match bit-bands of
    * the simhash. The `bits`-bit value splits into `numBands` contiguous
    * bands; two docs become a candidate pair iff some band matches exactly,
    * and candidates are then verified by full Hamming distance.
    *
    * EXACT recall, not approximate: a pair within Hamming ≤ maxHamming has
    * at most `maxHamming` differing bits, which can dirty at most
    * `maxHamming` bands — with maxHamming < numBands, at least one band is
    * untouched and matches exactly (pigeonhole). So the output is
    * IDENTICAL to [[simhashPairs]] (same oracle), while the join shuffles
    * only (band, band-bits, id) rows and hot buckets are triangle-
    * decomposed into bounded blocks
    * ([[graft.ops.Skew.boundedWideBandPairs]]).
    * At 100 TB: ~corpus/2^bandBits docs per bucket on average; widen bands
    * (more bits per band) to thin buckets — pathological buckets are
    * bounded by the guard regardless.
    */
  def simhashPairsBanded(docs: DataFrame, idCol: String, textCol: String,
                         bits: Int = 16, maxHamming: Int = 2,
                         numBands: Int = 4): DataFrame = {
    require(bits % numBands == 0,
      s"bits ($bits) must divide evenly into numBands ($numBands)")
    require(maxHamming < numBands,
      s"exact recall needs maxHamming ($maxHamming) < numBands ($numBands)")
    val bandBits = bits / numBands
    val mask = (1L << bandBits) - 1
    // one row per doc, one column per band slice of the signature. The
    // bands PARTITION the signature bits, so the full Hamming distance is
    // the sum of per-band bit_counts over the carried band vectors —
    // no join back to the signature frame, no cross-band distinct:
    // boundedWideBandPairs (hot buckets triangle-decomposed, payloads
    // carried, first-matching-band dedup) runs generation + verify with
    // no re-join, with the identical pair set
    val h = simhashDF(docs, idCol, textCol, bits)
    val bandNames = (0 until numBands).map(b => s"__b$b")
    val wide = h.select(col(idCol) +: (0 until numBands).map(b =>
      shiftright(col("sh"), b * bandBits).bitwiseAND(lit(mask))
        .as(bandNames(b))): _*)
    Skew.boundedWideBandPairs(wide, idCol, bandNames)
      .select(col("id_a"), col("id_b"),
        (0 until numBands).map(b =>
            bit_count(col("bands_a")(b).bitwiseXOR(col("bands_b")(b))))
          .reduce(_ + _).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Winnowed positional anchors: one row per selected k-gram
    * fingerprint, `(id, pos, h)` with 1-based char `pos` (long) and the
    * 32-hex gram hash. Anchor selection runs INSIDE the scan projection
    * (codegen kernel [[graft.expressions.WinnowAlgo]], k=16/w=8 pinned)
    * so only the ~2/(w+1)-density anchor rows ever shuffle — document
    * text stays at the scan, which is what makes substring-level dedup
    * viable at corpus scale (the Lee et al. '22 "Deduplicating Training
    * Data" stage, re-expressed relationally instead of via a suffix
    * array).
    */
  def winnowAnchors(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val parts = docs.sparkSession.sparkContext.defaultParallelism
    docs
      .filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol), col(textCol))
      // the kernel is CPU-dense per input byte (~n md5 digests per doc);
      // spread the narrow (id, text) projection across the cores so a
      // small-file scan (few splits) can't serialize it — at cluster
      // scale the scan already yields >= cores splits and this exchange
      // is a cheap rebalance of the projection, never of anchor rows
      .repartition(parts)
      .select(col(idCol),
        explode(Natives.winnow(col(textCol))).as("a"))
      .select(col(idCol), col("a.pos").cast("long").as("pos"),
        col("a.h").as("h"))
  }

  /** Cross-document repeated spans: anchors whose gram hash occurs in ≥
    * `minDocs` distinct documents, merged per document into maximal
    * islands — consecutive flagged anchors ≤ w+k−1 = 23 chars apart
    * extend one span (winnowing guarantees an anchor at least every w
    * positions inside a long shared substring, so a true repeat never
    * fragments). Output one row per span:
    * `(id, span_start, span_end, span_len, n_anchors)`, spans disjoint
    * within a document by construction.
    *
    * Shuffle ledger: (1) anchors by `h` for the document-frequency
    * census, (2) flagged anchors by `id` for the island merge — both on
    * narrow (hash, id, pos) rows. The census join is a left-semi against
    * the duplicated-hash set; at 100 TB that set is the boilerplate/
    * template core of the corpus and stays far smaller than the anchor
    * stream.
    */
  def winnowSpans(docs: DataFrame, idCol: String, textCol: String,
                  minDocs: Int = 2): DataFrame = {
    // cached: the anchor frame feeds the census groupBy AND the
    // left-semi probe, and the winnow kernel above it is the
    // CPU-dominant stage (~n md5 digests per doc) — without the cache
    // it would execute twice per query (the explode sits above the
    // repartition exchange, so exchange reuse can't cover it).
    // Caller-managed lifecycle, as with minhashLshPairs' signature
    // cache: Verify/Bench clear per query; long-running services must
    // unpersist.
    val anchors = InternalCaches.register(
      winnowAnchors(docs, idCol, textCol))
    // one exchange on h: countDistinct's partial aggregation dedups
    // (h, id) map-side, vs the distinct-then-groupBy form's two shuffles
    val dup = anchors.groupBy(col("h"))
      .agg(countDistinct(col(idCol)).as("nd"))
      .filter(col("nd") >= minDocs).select(col("h"))
    mergeIslands(anchors.join(dup, Seq("h"), "left_semi"), idCol)
  }

  /** Substring-level decontamination: spans of `docs` that share a
    * winnowed anchor hash with any `refDocs` document — WHERE the
    * contamination lives, not just a flag bit (completes the x33 exact
    * 4-gram flag / x43 bloom flag family; a masking pass can cut exactly
    * these ranges). Same ≥ w+k−1 = 23-char guarantee as [[winnowSpans]].
    * The reference anchor-hash set is DISTINCT hashes of the (small)
    * benchmark side — broadcast-joined, the corpus anchor stream never
    * shuffles for it; islands then merge per corpus doc as usual.
    */
  def winnowSpansAgainst(docs: DataFrame, refDocs: DataFrame,
                         idCol: String, textCol: String): DataFrame = {
    val refH = winnowAnchors(refDocs, idCol, textCol)
      .select(col("h")).distinct()
    val flagged = winnowAnchors(docs, idCol, textCol)
      .join(broadcast(refH), Seq("h"), "left_semi")
    mergeIslands(flagged, idCol)
  }

  /** Gaps-and-islands merge of flagged anchors `(idCol, pos)` into
    * maximal disjoint spans: consecutive anchors ≤ w+k−1 chars apart
    * extend one span (winnowing guarantees an anchor at least every w
    * positions inside a long shared substring, so a true repeat never
    * fragments). One shuffle by `idCol`. */
  private def mergeIslands(flagged: DataFrame, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = graft.expressions.WinnowAlgo.K
    val w = graft.expressions.WinnowAlgo.W
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    flagged
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) <= w + k - 1, 0L)
          .otherwise(1L))
      .withColumn("isl", sum(col("brk")).over(byDoc))
      .groupBy(col(idCol), col("isl"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (k - 1)).as("span_end"),
        (max(col("pos")) + k - min(col("pos"))).as("span_len"),
        count(lit(1)).as("n_anchors"))
      .select(col(idCol), col("span_start"), col("span_end"),
        col("span_len"), col("n_anchors"))
  }
}
