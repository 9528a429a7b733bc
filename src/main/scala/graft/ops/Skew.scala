package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Skew-handling join helpers.
  *
  * AQE's skew-join splitting (`spark.sql.adaptive.skewJoin.enabled`, on by
  * default) handles most runtime skew; explicit salting remains necessary
  * when one side must aggregate BEFORE joining (AQE can't split a skewed
  * aggregation) or when the skew is known a priori (a "null key" bucket, a
  * celebrity user). These helpers implement the classic recipe:
  * replicate the small side `saltBuckets` times, scatter the big side's
  * hot keys uniformly across the buckets.
  */
object Skew {

  /** Above this many hot buckets the per-bucket block counts ship as a
    * broadcast join instead of a literal map: try_element_at over a map
    * literal is a per-row linear scan, fine for a handful of boilerplate
    * templates, wrong for a degenerate thousands-of-hot-buckets census. */
  private[graft] val MaxLiteralHotBuckets = 64

  /** The literal-map probe key: one string per key tuple. The SAME
    * expression computes the map's keys at census-collect time (see
    * [[censusHead]]) — both encodings come from one code path, so the
    * lookup cannot silently miss on formatting differences (the hazard of
    * mixing JVM `toString` with SQL `concat_ws`: nulls, binary, strings
    * containing the separator). Distinct tuples can still COLLIDE under
    * concat_ws (null-skipping, embedded ':'), but a collision only makes
    * two buckets share an `nblk`; every row of a bucket computes the same
    * probe string, so rows within a bucket always agree on `nblk` — the
    * invariant the triangle decomposition's correctness rests on. In-repo
    * callers key on non-null longs, where the encoding is injective. */
  private def probeKey(keyNames: Seq[String]): Column =
    concat_ws(":", keyNames.map(k => col(k).cast("string")): _*)

  /** Collect the census head with the probe key materialized server-side
    * (`__k` column) alongside the bucket population (`__n`).
    *
    * Ordered top-k, not a bare `limit().collect()`: CollectLimitExec runs
    * a PROGRESSIVE partition scan (1 partition, then scaleUpFactor× more
    * per round until the limit fills) — on an empty-or-small hot set that
    * is 2–3 SERIAL driver round-trips per census (the r16 verdict's "two
    * eager collects" on x49's critical path). `orderBy(keys).limit(n)`
    * plans TakeOrderedAndProject: ONE parallel job over every partition
    * (which also fills the caller's cached band frame in one pass).
    * Set-identical: the head is only ever consumed whole (≤ 64 buckets →
    * literal map) or as a length check (> 64 → broadcast path keeps the
    * FULL hot frame), so the induced order changes nothing. */
  private def censusHead(hot: DataFrame, keyNames: Seq[String])
      : Array[org.apache.spark.sql.Row] =
    hot.withColumn("__k", probeKey(keyNames))
      .orderBy(keyNames.map(col): _*)
      .limit(MaxLiteralHotBuckets + 1).collect()

  /** Attach `__nblk` (block count per row, 1 for cold rows) to `frame`,
    * given the already-collected head of the hot census ([[censusHead]]
    * rows, carrying `__n` and the Spark-computed `__k`). Small hot sets
    * (the common case — a flood is a few templates) inline as a literal
    * map lookup, keeping the guard's plan free of extra join nodes; large
    * hot sets fall back to a broadcast hash join of the census frame.
    * The census action itself is paid either way (the caller needs the
    * empty check); this decides how its RESULT reaches the rows. */
  private def withNblk(hotHead: Array[org.apache.spark.sql.Row],
                       frame: DataFrame, keyNames: Seq[String],
                       hotDf: DataFrame, blockSize: Int): DataFrame =
    if (hotHead.length <= MaxLiteralHotBuckets) {
      val m: Map[String, Int] = hotHead.map { r =>
        val n = r.getAs[Long]("__n")
        r.getAs[String]("__k") -> ((n + blockSize - 1) / blockSize).toInt
      }.toMap
      // try_element_at, not element_at: ANSI mode makes a missing map key
      // an error, and cold rows are the overwhelming majority
      frame.withColumn("__nblk", coalesce(
        try_element_at(typedlit(m), probeKey(keyNames)),
        lit(1)))
    } else
      frame.join(broadcast(hotDf), keyNames, "left")
        .withColumn("__nblk", coalesce(
          ceil(col("__n") / blockSize).cast("int"), lit(1)))
        .drop("__n")

  /** Equi-join `big ⋈ small` on `key`, salted into `saltBuckets` buckets.
    * `big` gets a deterministic per-row bucket (hash of all columns), while
    * `small` is replicated once per bucket — so each hot key's rows spread
    * over `saltBuckets` tasks instead of one straggler.
    * Semantics identical to `big.join(small, key, joinType)` for
    * 1:N joins (small side unique on key). */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
                 saltBuckets: Int, joinType: String = "inner"): DataFrame = {
    require(saltBuckets > 0)
    // right/full outer would emit one unmatched copy of a small-side row
    // PER REPLICA — only join types that never output unmatched small rows
    // preserve unsalted semantics (semi/anti qualify: they emit big-side
    // rows only)
    require(Set("inner", "left", "left_outer", "leftouter",
        "left_semi", "leftsemi", "semi", "left_anti", "leftanti", "anti")(
        joinType.toLowerCase),
      s"saltedJoin preserves semantics only for inner/left/semi/anti joins, got $joinType")
    val salted = big.withColumn("__salt",
      pmod(hash(big.columns.toIndexedSeq.map(col): _*), lit(saltBuckets)))
    val replicated = small.withColumn("__salt",
      explode(array((0 until saltBuckets).map(lit): _*)))
    salted.join(replicated, Seq(key, "__salt"), joinType).drop("__salt")
  }

  /** Triangle-block self-join of `frame` on its bucket keys `keyCols`, as
    * one lazy plan. `frame` holds the keys, an `__id` column (unique
    * within a bucket) and payload columns; each non-key column `c` comes
    * out as `ca` (left row) and `cb` (right row).
    *
    * A window count gives each row its bucket population `n`; a bucket
    * with `n > hotThreshold` splits into `nblk = ceil(n / blockSize)`
    * hash-blocks, any other keeps one. The join runs on `(keys, __bl,
    * __br)`, `__bl ≤ __br`: a row in block p is the LEFT side of block
    * pairs (p, p..nblk-1) and the RIGHT side of (0..p, p). A cross-block
    * pair meets in one task, a same-block pair in both orientations and
    * the id order keeps one. A cold bucket's one block makes this the
    * plain bucket self-join. Per-task join work is ≤ ~blockSize²; the
    * window count over a hot bucket is linear and can spill. Both sides
    * read the same window input, so Spark plans its exchange once
    * (`ReusedExchange`): no cache, no driver action, and AQE coalesces
    * every stage. */
  private def triangleSelfJoin(frame: DataFrame, keyCols: Seq[String],
                               hotThreshold: Int, blockSize: Int): DataFrame = {
    val keys = keyCols.map(col)
    val others = frame.columns.toSeq.filterNot(keyCols.contains)
    val blocked = frame
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(keys: _*)))
      .withColumn("__nblk", when(col("__n") > hotThreshold,
        ceil(col("__n") / blockSize).cast("int")).otherwise(lit(1)))
      .withColumn("__blk", pmod(xxhash64(col("__id")), col("__nblk")).cast("int"))
    def side(bl: Column, br: Column, suffix: String): DataFrame =
      blocked.select(keys ++ Seq(bl.as("__bl"), br.as("__br")) ++
        others.map(c => col(c).as(c + suffix)): _*)
    side(col("__blk"), explode(sequence(col("__blk"), col("__nblk") - 1)), "a")
      .join(side(explode(sequence(lit(0), col("__blk"))), col("__blk"), "b"),
        keyCols ++ Seq("__bl", "__br"))
      .filter(col("__bl") =!= col("__br") || col("__ida") < col("__idb"))
  }

  /** All unordered candidate pairs `(id_a < id_b)` within buckets of
    * `rows` keyed by `keyCols`, with per-task work bounded even when one
    * bucket holds a large fraction of all rows — the LSH hot-band hazard
    * (boilerplate floods in MinHash bands, flat/black frames in perceptual-
    * hash bands: many rows sharing one band value).
    *
    * A naive self-join on the bucket key lands a bucket of population n in
    * ONE task doing n²/2 comparisons. Here buckets above `hotThreshold`
    * decompose into hash-blocks joined block pair by block pair
    * ([[triangleSelfJoin]]): per-task work is ≤ ~blockSize² and the
    * OUTPUT IS IDENTICAL to the naive join. The final distinct collapses
    * pairs shared by several buckets. Building the frame runs no Spark
    * job and pins no cache.
    *
    * `rows` must hold one row per (bucket, id) — ids unique within a
    * bucket — with non-null key columns, the shape every banded-LSH
    * bucket frame here has. Columns other than `keyCols` + `idCol` are
    * dropped. Output: `(id_a, id_b)` distinct, `id_a < id_b`.
    */
  def boundedSelfPairs(rows: DataFrame, keyCols: Seq[String], idCol: String,
                       hotThreshold: Int = 4096,
                       blockSize: Int = 2048): DataFrame = {
    require(keyCols.nonEmpty, "at least one bucket key column")
    require(hotThreshold > 0 && blockSize > 0)
    triangleSelfJoin(rows.select((keyCols.map(col) :+ col(idCol).as("__id")): _*),
        keyCols, hotThreshold, blockSize)
      .select(least(col("__ida"), col("__idb")).as("id_a"),
        greatest(col("__ida"), col("__idb")).as("id_b"))
      .distinct()
  }

  /** Candidate pairs BETWEEN two bucket frames over disjoint id spaces —
    * the incremental-dedup shape (`left` = new batch, `right` = standing
    * corpus band index) with the right side's hot buckets decomposed as in
    * [[boundedSelfPairs]]: right rows hash into `nblk` blocks, left rows
    * replicate across them, the join key gains the block column. Per-task
    * work ≤ ~(batch-per-bucket × blockSize); output identical to the plain
    * bucket join: distinct `(id_a, id_b)` = (left id, right id). */
  def boundedPairsBetween(left: DataFrame, right: DataFrame,
                          keyCols: Seq[String], idCol: String,
                          hotThreshold: Int = 4096,
                          blockSize: Int = 2048): DataFrame = {
    require(keyCols.nonEmpty, "at least one bucket key column")
    require(hotThreshold > 0 && blockSize > 0)
    val keys = keyCols.map(col)
    // cache the standing-index side: census + the block join would
    // otherwise recompute its banding lineage twice (InternalCaches pin,
    // released by the caller's drain)
    val r = InternalCaches.register(right.select((keys :+ col(idCol)): _*))
    val l = left.select((keys :+ col(idCol)): _*)
    val hot = r.groupBy(keys: _*).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > hotThreshold)
    val hotHead = censusHead(hot, keyCols)
    if (hotHead.isEmpty) {
      // skew-free standing index: plain bucket join, no replication
      return l.toDF((keyCols :+ "__ida"): _*)
        .join(r.toDF((keyCols :+ "__idb"): _*), keyCols)
        .select(col("__ida").as("id_a"), col("__idb").as("id_b"))
        .distinct()
    }
    val rb = withNblk(hotHead, r, keyCols, hot, blockSize)
      .withColumn("__b", pmod(xxhash64(col(idCol)), col("__nblk")).cast("int"))
      .select((keys ++ Seq(col("__b"), col(idCol).as("__idb"))): _*)
    val lb = withNblk(hotHead, l, keyCols, hot, blockSize)
      .withColumn("__b", explode(sequence(lit(0), col("__nblk") - 1)))
      .select((keys ++ Seq(col("__b"), col(idCol).as("__ida"))): _*)
    lb.join(rb, keyCols :+ "__b")
      .select(col("__ida").as("id_a"), col("__idb").as("id_b"))
      .distinct()
  }

  /** One row per (id, band): `__id`, the band vector `__bv`, the carry
    * payload `__pl` (a struct of `carryCols`, or 0), band index `__j` and
    * value `__band`. */
  private def bandRows(wide: DataFrame, idCol: String, bandCols: Seq[String],
                       carryCols: Seq[String]): DataFrame = {
    val payload = if (carryCols.isEmpty) lit(0) else struct(carryCols.map(col): _*)
    wide.select(col(idCol).as("__id"), array(bandCols.map(col): _*).as("__bv"),
        payload.as("__pl"))
      .select(col("__id"), col("__bv"), col("__pl"),
        posexplode(col("__bv")).as(Seq("__j", "__band")))
  }

  /** A pair appearing in band `__j` survives only if no lower band of
    * `__bva`/`__bvb` also matches — symmetric in the two sides, so
    * orientation-safe. Literal-index array accesses + least() (null-
    * skipping), NOT array higher-order functions: HOF lambdas are
    * interpreted per row, and this runs once per generated candidate. */
  private def firstMatch(numBands: Int): Column =
    if (numBands == 1) lit(true)
    else col("__j") === least((0 until numBands).map(j =>
      when(col("__bva")(j) === col("__bvb")(j), lit(j))): _*)

  /** Candidate pairs from multi-band exact-match LSH over a WIDE band
    * frame (one row per id, one `bandCols` column per band value), with the
    * band vectors CARRIED through pair generation: the caller verifies
    * (Hamming, equality count, …) inline on `bands_a`/`bands_b` instead of
    * re-joining the candidate stream against the wide frame — at scale
    * those re-joins are two extra shuffles of the (large) candidate set.
    *
    * Cross-band duplicates are removed by the first-matching-band rule
    * rather than a `distinct()`: a pair sharing m bands is generated in all
    * m band buckets, but only the bucket of the SMALLEST matching band
    * index emits it (each side sees both full vectors, so the test is a
    * per-row filter). Generation is the triangle-block self-join of
    * [[boundedSelfPairs]] ([[triangleSelfJoin]]): one lazy plan, no cache
    * and no driver action, two shuffles — the bucket-population window
    * (planned once, reused by both join sides) and the block join — and
    * per-task join work stays ≤ ~blockSize² under degenerate band
    * distributions. Output is exactly one row per unordered pair sharing
    * ≥ 1 band: the same pair set as explode → boundedSelfPairs → distinct,
    * minus the distinct's shuffle.
    *
    * `wide` must hold one row per non-null `idCol`; band columns must
    * share one type (the exact-match bucket value — longs, md5 strings,
    * …). `carryCols` are extra columns carried through generation and
    * returned as `carry_a`/`carry_b` structs — the verify payload (e.g. a
    * MinHash signature) when it is not derivable from the band values;
    * they widen the banding shuffle by their encoded size × number of
    * bands, which is the price of skipping the candidate re-joins.
    * Output: `(id_a < id_b, bands_a, bands_b[, carry_a, carry_b])` with
    * `bands_a`/`carry_a` belonging to `id_a`. */
  def boundedWideBandPairs(wide: DataFrame, idCol: String,
                           bandCols: Seq[String],
                           hotThreshold: Int = 4096,
                           blockSize: Int = 2048,
                           carryCols: Seq[String] = Nil): DataFrame = {
    require(bandCols.nonEmpty, "at least one band column")
    require(hotThreshold > 0 && blockSize > 0)
    // cross-block pairs surface once in either orientation: order them
    def oriented(a: String, b: String, as: String): Column =
      when(col("__ida") < col("__idb"), col(a)).otherwise(col(b)).as(as)
    val carried: Seq[Column] =
      if (carryCols.isEmpty) Nil
      else Seq(oriented("__pla", "__plb", "carry_a"),
        oriented("__plb", "__pla", "carry_b"))
    triangleSelfJoin(bandRows(wide, idCol, bandCols, carryCols),
        Seq("__j", "__band"), hotThreshold, blockSize)
      .filter(firstMatch(bandCols.length))
      .select(Seq(oriented("__ida", "__idb", "id_a"),
        oriented("__idb", "__ida", "id_b"),
        oriented("__bva", "__bvb", "bands_a"),
        oriented("__bvb", "__bva", "bands_b")) ++ carried: _*)
  }

  /** [[boundedWideBandPairs]] BETWEEN two wide band frames over disjoint
    * id spaces — the incremental-dedup shape (left = new batch, right =
    * standing corpus index). Hot buckets on the RIGHT (corpus) side
    * decompose into hash-blocks the batch rows fan over, both band
    * vectors (+ optional carry payloads) ride through generation, and
    * cross-band duplicates drop by the first-matching-band rule — no
    * distinct, no candidate re-joins. Output: one row per (left id_a,
    * right id_b) pair sharing ≥ 1 band. */
  def boundedWideBandPairsBetween(left: DataFrame, right: DataFrame,
                                  idCol: String, bandCols: Seq[String],
                                  hotThreshold: Int = 4096,
                                  blockSize: Int = 2048,
                                  carryCols: Seq[String] = Nil): DataFrame = {
    require(bandCols.nonEmpty, "at least one band column")
    require(hotThreshold > 0 && blockSize > 0)
    val lb = bandRows(left, idCol, bandCols, carryCols)
    // census + join both read it
    val rb = InternalCaches.register(bandRows(right, idCol, bandCols, carryCols))
    val outCols = Seq(col("__ida").as("id_a"), col("__idb").as("id_b"),
      col("__bva").as("bands_a"), col("__bvb").as("bands_b")) ++
      (if (carryCols.isEmpty) Nil
       else Seq(col("__pla").as("carry_a"), col("__plb").as("carry_b")))
    val hot = rb.groupBy(col("__j"), col("__band"))
      .agg(count(lit(1)).as("__n")).filter(col("__n") > hotThreshold)
    val hotHead = censusHead(hot, Seq("__j", "__band"))
    val l = lb.select(col("__j"), col("__band"), col("__id").as("__ida"),
      col("__bv").as("__bva"), col("__pl").as("__pla"))
    val r = rb.select(col("__j"), col("__band"), col("__id").as("__idb"),
      col("__bv").as("__bvb"), col("__pl").as("__plb"))
    if (hotHead.isEmpty)
      return l.join(r, Seq("__j", "__band")).filter(firstMatch(bandCols.length))
        .select(outCols: _*)
    val rblk = withNblk(hotHead, r, Seq("__j", "__band"), hot, blockSize)
      .withColumn("__b", pmod(xxhash64(col("__idb")), col("__nblk")).cast("int"))
    val lblk = withNblk(hotHead, l, Seq("__j", "__band"), hot, blockSize)
      .withColumn("__b", explode(sequence(lit(0), col("__nblk") - 1)))
    lblk.join(rblk, Seq("__j", "__band", "__b")).filter(firstMatch(bandCols.length))
      .select(outCols: _*)
  }

  /** Aggregate-then-join skew pattern: two-phase aggregation where the
    * first phase groups on (key, salt) — spreading a hot key's partial
    * aggregation over `saltBuckets` tasks — and the second phase merges the
    * partials per key. `partials` maps each aggregated column to the
    * expression that merges two partials (e.g. sum → sum, count → sum,
    * max → max). */
  def saltedAgg(df: DataFrame, key: String, saltBuckets: Int,
                aggs: Seq[Column], merges: Seq[Column]): DataFrame = {
    val salted = df.withColumn("__salt",
      pmod(hash(df.columns.toIndexedSeq.map(col): _*), lit(saltBuckets)))
    salted.groupBy(col(key), col("__salt"))
      .agg(aggs.head, aggs.tail: _*)
      .groupBy(col(key))
      .agg(merges.head, merges.tail: _*)
  }
}
