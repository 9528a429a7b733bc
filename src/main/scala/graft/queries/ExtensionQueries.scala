package graft.queries

import graft.Tables
import graft.dedup.{Dedup, RecallEval}
import graft.mm.Multimodal
import graft.similarity.Similarity
import graft.text.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.expressions.Natives.md5 // shadows functions.md5 (bit-identical, thread-cached digest)
import graft.ops.InternalCaches.CacheSyntax

/** Training-data-pipeline operators over `documents` / `embeddings`:
  * dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard), similarity
  * search (brute-force + LSH-bucketed ANN), text analysis (lang-id,
  * quality, tokens, fingerprints), multimodal plumbing.
  *
  * Oracle replay notes: all hashing is md5-on-strings so DuckDB can replay
  * signatures bit-for-bit; all similarity math is double-precision
  * index-ordered sums (DuckDB list_inner_product on DOUBLE[] matches
  * Spark's zip_with+aggregate fold bitwise — verified).
  */
object ExtensionQueries {

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  /** DuckDB SQL fragment mirroring TextOps.normalize */
  private val normSql =
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' +', ' ', 'g'))"

  /** DuckDB SQL: word-bigram distinct shingle rows mirroring TextOps.shingles(_, 2) */
  private def shingleSql(extraCols: String = "") =
    s"""(SELECT doc_id$extraCols, unnest(list_distinct(list_transform(
       range(1, greatest(len(string_split($normSql, ' ')) - 1, 1) + 1),
       i -> CASE WHEN i + 1 <= len(string_split($normSql, ' '))
            THEN string_split($normSql, ' ')[i] || '_' || string_split($normSql, ' ')[i+1]
            ELSE string_split($normSql, ' ')[i] END))) AS g FROM documents)"""

  /** DuckDB CTE chain mirroring `Dedup.winnowSpans` (the x117 pipeline:
    * per-position md5 16-grams → winnow windows of 8 selecting the
    * (h, pos) argmin — lexicographic min of h || lpad(pos, 9) since md5
    * hex is fixed-width — → distinct anchors → hashes in ≥ 2 docs →
    * per-doc gaps-and-islands merge at gap ≤ w+k−1 = 23). Ends with
    * `spans(doc_id, span_start, span_end, span_len, n_anchors)`; shared
    * by the x117 and x118 oracles. */
  private[queries] def winnowAnchorCtes: String =
    s"""grams AS (SELECT doc_id, i,
         md5(substring(text, CAST(i AS INT), 16)) AS h
       FROM (SELECT d.doc_id, d.text,
           unnest(range(1, length(d.text) - 14)) AS i
         FROM documents d
         WHERE d.doc_id IS NOT NULL AND d.text IS NOT NULL)),
       wins AS (SELECT doc_id,
           min(h || lpad(CAST(i AS VARCHAR), 9, '0')) OVER w AS msk,
           count(*) OVER w AS cnt
         FROM grams WINDOW w AS (PARTITION BY doc_id ORDER BY i
           ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING)),
       anch AS (SELECT DISTINCT doc_id, substr(msk, 1, 32) AS h,
           CAST(substr(msk, 33, 9) AS BIGINT) AS pos
         FROM wins WHERE cnt = 8)"""

  /** Island-merge tail over a `fl(doc_id, pos)` CTE of flagged anchors;
    * ends with `spans(doc_id, span_start, span_end, span_len,
    * n_anchors)`. */
  private[queries] def winnowIslandCtes: String =
    s"""brks AS (SELECT doc_id, pos,
           CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 23
             THEN 0 ELSE 1 END AS brk
         FROM fl),
       isls AS (SELECT doc_id, pos,
           SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS isl FROM brks),
       spans AS (SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 15 AS span_end,
           MAX(pos) + 16 - MIN(pos) AS span_len, CAST(COUNT(*) AS BIGINT) AS n_anchors
         FROM isls GROUP BY doc_id, isl)"""

  private[queries] def winnowSpanCtes: String =
    s"""$winnowAnchorCtes,
       dup AS (SELECT h FROM (SELECT h, doc_id FROM anch GROUP BY h, doc_id)
         GROUP BY h HAVING COUNT(*) >= 2),
       fl AS (SELECT a.doc_id, a.pos FROM anch a JOIN dup USING (h)),
       $winnowIslandCtes"""

  /** DuckDB CTE chain mirroring `Dedup.lshDedupClusters` (the x27
    * pipeline: 2-shingles → 12-hash MinHash → 3-row bands → candidates at
    * est-Jaccard ≥ 0.25 → exact-Jaccard verify ≥ 0.2 → connected
    * components). Ends with `labels(id, cluster)`; callers prepend
    * `WITH RECURSIVE` and select from `labels` (shared by the x27 and x58
    * oracles). */
  private[queries] def lshClusterCtes: String =
    s"""sh AS ${shingleSql()},
       comps AS (SELECT doc_id, i, MIN(md5(CAST(i AS VARCHAR) || ':' || g)) AS sig
         FROM sh, range(0, 12) r(i) GROUP BY doc_id, i),
       buckets AS (SELECT doc_id, i // 3 AS band,
           md5(string_agg(sig, '|' ORDER BY i)) AS h
         FROM comps GROUP BY doc_id, i // 3),
       cand0 AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
         FROM buckets l JOIN buckets r
         ON l.band = r.band AND l.h = r.h AND l.doc_id < r.doc_id),
       est AS (SELECT id_a, id_b,
           CAST(SUM(CASE WHEN ca.sig = cb.sig THEN 1 ELSE 0 END) AS DOUBLE) / 12
             AS ej
         FROM cand0
         JOIN comps ca ON ca.doc_id = id_a
         JOIN comps cb ON cb.doc_id = id_b AND ca.i = cb.i
         GROUP BY id_a, id_b),
       cands AS (SELECT id_a, id_b FROM est WHERE ej >= 0.25),
       sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       cmn AS (SELECT c.id_a, c.id_b, COUNT(*) AS common
         FROM cands c
         JOIN sh a ON a.doc_id = c.id_a
         JOIN sh b ON b.doc_id = c.id_b AND b.g = a.g
         GROUP BY c.id_a, c.id_b),
       ver AS (SELECT cm.id_a, cm.id_b FROM cmn cm
         JOIN sizes sa ON cm.id_a = sa.doc_id
         JOIN sizes sb ON cm.id_b = sb.doc_id
         WHERE CAST(common AS DOUBLE) / (sa.n + sb.n - common) >= 0.2),
       sym AS (SELECT id_a AS a, id_b AS b FROM ver
         UNION ALL SELECT id_b, id_a FROM ver),
       reach(a, b) AS (
         SELECT a, b FROM sym
         UNION
         SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a WHERE r.a <> s.b),
       labels AS (SELECT a AS id, least(a, MIN(b)) AS cluster
         FROM reach GROUP BY a)"""

  /** DuckDB SQL: double-precision cosine between two DOUBLE[] expressions */
  private def cosSql(a: String, b: String) =
    s"list_inner_product($a, $b) / (sqrt(list_inner_product($a, $a)) * sqrt(list_inner_product($b, $b)))"

  /** DuckDB CTE chain replaying `Similarity.kmeansMicro(k=8, iters=2,
    * scale=1e6)` on `embeddings` exactly: micro-grid quantization (one
    * IEEE multiply + floor per element), integer squared distances,
    * ROW_NUMBER argmin with the lowest-cid tie, floor-mean centroid
    * updates with empty-cluster carry. Shared by x129/x130 so the
    * training mirror can't desynchronize. Ends with `a3(vec_id, cl,
    * dist)` — the final assignment. */
  private val kmeansCtes: String = {
    def dist(c: String, out: String) =
      s"""$out AS (SELECT v.vec_id, c.cid,
           CAST(list_sum(list_transform(range(1, len(v.q) + 1),
             i -> (v.q[i] - c.cv[i]) * (v.q[i] - c.cv[i]))) AS BIGINT) AS dist
         FROM qv v, $c c)"""
    def argmin(d: String, out: String) =
      s"""$out AS (SELECT vec_id, cid AS cl, dist FROM
           (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
              ORDER BY dist, cid) AS rn FROM $d) WHERE rn = 1)"""
    def update(a: String, prev: String, out: String) =
      s"""${out}_u AS (SELECT a.cl, v.q[i.ord] AS val, i.ord
           FROM $a a JOIN qv v USING (vec_id) CROSS JOIN dims i),
         ${out}_m AS (SELECT cl, ord,
             CAST(floor(CAST(SUM(val) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cval
           FROM ${out}_u GROUP BY cl, ord),
         $out AS (SELECT p.cid, COALESCE(n.cv, p.cv) AS cv FROM $prev p
           LEFT JOIN (SELECT cl AS cid, list(cval ORDER BY ord) AS cv
             FROM ${out}_m GROUP BY cl) n USING (cid))"""
    s"""qv AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
           x -> CAST(floor(x * 1000000) AS BIGINT)) AS q FROM embeddings),
       c0 AS (SELECT CAST(vec_id AS INT) AS cid, q AS cv FROM qv
         WHERE vec_id < 8),
       dims AS (SELECT unnest(range(1, (SELECT MAX(len(q)) FROM qv) + 1))
         AS ord),
       ${dist("c0", "d1")}, ${argmin("d1", "a1")}, ${update("a1", "c0", "c1")},
       ${dist("c1", "d2")}, ${argmin("d2", "a2")}, ${update("a2", "c1", "c2")},
       ${dist("c2", "d3")}, ${argmin("d3", "a3")}"""
  }

  /** DuckDB CTE pair mirroring Multimodal.fakeDecode's input fold: per
    * doc, the UTF-8 byte count `n` and unsigned byte sum `bsum` (hex the
    * bytes, list_sum the hex pairs). Shared by x13/x32/x34 so the fold
    * can't desynchronize between the decode-derived oracles. */
  private val byteFoldSql =
    """b AS (SELECT doc_id, hex(encode(text)) AS hx,
         CAST(octet_length(encode(text)) AS BIGINT) AS n FROM documents),
       s AS (SELECT doc_id, n,
         COALESCE(CAST(list_sum(list_transform(range(0, CAST(n AS INT)),
           i -> CAST(('0x' || substr(hx, CAST(i * 2 + 1 AS INT), 2)) AS BIGINT)))
           AS BIGINT), 0) AS bsum FROM b)"""

  /** DuckDB CTE chain mirroring Retrieval.bm25TopK (corpus = doc_id ≥ 20,
    * queries = doc_id < 8, k1=1.2 b=0.75): ends with
    * `scored(qid, doc_id, score_micro)`. Per-term contributions floor to
    * integer micro-units before the sum; every double literal casts
    * explicitly (bare 0.5/1.2 parse as DECIMAL on both engines). Shared
    * by x125/x126 so the scoring mirror can't desynchronize. */
  private val bm25Ctes =
    s"""corp AS (SELECT doc_id, text FROM documents
         WHERE doc_id >= 20 AND doc_id IS NOT NULL AND text IS NOT NULL),
       qd AS (SELECT doc_id AS qid, text FROM documents
         WHERE doc_id < 8 AND doc_id IS NOT NULL AND text IS NOT NULL),
       ct AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS tok FROM corp),
       ctf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM ct
         WHERE tok <> '' GROUP BY 1, 2),
       dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM ct
         WHERE tok <> '' GROUP BY 1),
       stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(dl) AS BIGINT) AS tot_dl FROM dl),
       qt AS (SELECT DISTINCT qid, tok FROM
           (SELECT qid, unnest(string_split($normSql, ' ')) AS tok FROM qd)
         WHERE tok <> ''),
       tfq AS (SELECT * FROM ctf WHERE tok IN (SELECT tok FROM qt)),
       dfreq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tfq GROUP BY 1),
       contrib AS (SELECT qt.qid, tfq.doc_id,
           CAST(floor(
             ln(((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE))
                 / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE))) + CAST(1.0 AS DOUBLE))
             * ((CAST(tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
                / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
                   * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
                      + CAST(0.75 AS DOUBLE) * (CAST(dl.dl AS DOUBLE)
                        / (CAST(tot_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
             * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS c
         FROM qt JOIN tfq USING (tok) JOIN dfreq USING (tok)
         JOIN dl ON tfq.doc_id = dl.doc_id CROSS JOIN stats),
       scored AS (SELECT qid, doc_id, CAST(SUM(c) AS BIGINT) AS score_micro
         FROM contrib GROUP BY 1, 2)"""

  /** DuckDB CTE chain mirroring Multimodal.documentsAsMixedAssets →
    * decodeFeatures: docs with doc_id % 3 = 0 wrap as 16-px-wide RGB8
    * PNGs (real decode: width 16, height ceil(n/48), channel sums = the
    * source bytes at positions ≡ 0/1/2 mod 3, Rec.709 luma over 255-max
    * pixels — zero padding adds nothing); docs with doc_id % 3 = 1 wrap
    * as REAL 16×8 BGR24 AVI videos (real decode: n_frames =
    * ceil(n/384), per-frame rasters are the source bytes verbatim so
    * the CHANNEL of byte i is i mod 3 → B,G,R — the R sum is the
    * positions-≡2 sum and the B sum the positions-≡0 sum, the exact
    * inversion of the PNG's RGB order; luma over n_frames·128 pixels);
    * the rest replay the stub fold. Ends with `mdec(doc_id, media_type,
    * width, height, n_frames, feature_norm)`. Shared by x13/x34 so the
    * decode mirror can't desynchronize between them. */
  private val mixedDecodeSql =
    """mb AS (SELECT doc_id, hex(encode(text)) AS hx,
         CAST(octet_length(encode(text)) AS BIGINT) AS n
       FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
       ms AS (SELECT doc_id, n,
         COALESCE(CAST(list_sum(list_transform(range(0, CAST(n AS INT)),
           i -> CAST(('0x' || substr(hx, CAST(i * 2 + 1 AS INT), 2)) AS BIGINT)))
           AS BIGINT), 0) AS bsum,
         COALESCE(CAST(list_sum(list_transform(
           list_filter(range(0, CAST(n AS INT)), i -> i % 3 = 0),
           i -> CAST(('0x' || substr(hx, CAST(i * 2 + 1 AS INT), 2)) AS BIGINT)))
           AS BIGINT), 0) AS sr,
         COALESCE(CAST(list_sum(list_transform(
           list_filter(range(0, CAST(n AS INT)), i -> i % 3 = 1),
           i -> CAST(('0x' || substr(hx, CAST(i * 2 + 1 AS INT), 2)) AS BIGINT)))
           AS BIGINT), 0) AS sg,
         COALESCE(CAST(list_sum(list_transform(
           list_filter(range(0, CAST(n AS INT)), i -> i % 3 = 2),
           i -> CAST(('0x' || substr(hx, CAST(i * 2 + 1 AS INT), 2)) AS BIGINT)))
           AS BIGINT), 0) AS sb
       FROM mb),
       mdec AS (SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'video' ELSE 'text' END AS media_type,
         CASE WHEN doc_id % 3 = 0 THEN CAST(16 AS INT)
              WHEN doc_id % 3 = 1 THEN CAST(16 AS INT)
              ELSE CAST(bsum % 640 + 1 AS INT) END AS width,
         CASE WHEN doc_id % 3 = 0 THEN CAST(greatest(1, (n + 47) // 48) AS INT)
              WHEN doc_id % 3 = 1 THEN CAST(8 AS INT)
              ELSE CAST(n % 480 + 1 AS INT) END AS height,
         CASE WHEN doc_id % 3 = 1 THEN CAST(greatest(1, (n + 383) // 384) AS INT)
              ELSE CAST(1 AS INT) END AS n_frames,
         CASE WHEN doc_id % 3 = 0 THEN
             -- literals MUST cast to DOUBLE: DuckDB parses 0.2126 as
             -- DECIMAL and would keep the weighted sum exact where the
             -- engine computes in IEEE doubles (last-ulp hash mismatch)
             (CAST(0.2126 AS DOUBLE) * sr + CAST(0.7152 AS DOUBLE) * sg
               + CAST(0.0722 AS DOUBLE) * sb)
               / (CAST(16 * greatest(1, (n + 47) // 48) AS DOUBLE) * 255)
              WHEN doc_id % 3 = 1 THEN
             -- BGR rasters: R channel = positions ≡ 2 (the PNG's sb),
             -- B channel = positions ≡ 0 (the PNG's sr)
             (CAST(0.2126 AS DOUBLE) * sb + CAST(0.7152 AS DOUBLE) * sg
               + CAST(0.0722 AS DOUBLE) * sr)
               / (CAST(128 * greatest(1, (n + 383) // 384) AS DOUBLE) * 255)
              ELSE CAST(bsum % 1000 AS DOUBLE) / 1000.0 END AS feature_norm
       FROM ms)"""

  /** DuckDB CTE chain mirroring Similarity.nearDupPairsBanded over the
    * embeddings table (anchors = vec_id < 16, 4 tables × 4 bits, cosine ≥
    * tau): ends with a `pairs(id_a, id_b, cos)` relation. */
  private def bandedPairsSql(tau: Double) =
    s"""ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       anch AS (SELECT vec_id AS aid, v AS av FROM ev WHERE vec_id < 16),
       coded AS (SELECT e.vec_id,
           string_agg(CASE WHEN list_inner_product(e.v, anch.av) > 0
             THEN '1' ELSE '0' END, '' ORDER BY anch.aid) AS code
         FROM ev e, anch GROUP BY e.vec_id),
       buckets AS (SELECT vec_id, tb,
           substr(code, CAST(tb * 4 + 1 AS INT), 4) AS tc
         FROM coded, range(0, 4) r(tb)),
       cands AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
         FROM buckets x JOIN buckets y
         ON x.tb = y.tb AND x.tc = y.tc AND x.vec_id < y.vec_id),
       pairs AS (SELECT id_a, id_b, ${cosSql("ea.v", "eb.v")} AS cos
         FROM cands
         JOIN ev ea ON ea.vec_id = id_a
         JOIN ev eb ON eb.vec_id = id_b
         WHERE ${cosSql("ea.v", "eb.v")} >= $tau)"""

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ───── exact dedup: normalized-content hash clustering
    "x01_dedup_exact" -> ((s, d) => {
      Dedup.exact(t(s, d, "documents"), "doc_id", "text")
    }),

    // ───── n-gram Jaccard near-dup pairs, blocked by source (bounded self-join)
    "x02_dedup_jaccard" -> ((s, d) => {
      Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text",
        k = 2, tau = 0.2, blockCols = Seq("source"))
    }),

    // ───── MinHash + LSH banding candidate pairs with estimated Jaccard
    "x03_dedup_minhash" -> ((s, d) => {
      Dedup.minhashLshPairs(t(s, d, "documents"), "doc_id", "text",
        shingleK = 2, numHashes = 12, rowsPerBand = 3, tau = 0.25)
    }),

    // ───── SimHash near-dup pairs (16-bit, Hamming ≤ 2): bit-band LSH
    // path — identical output to the all-pairs baseline (maxHamming <
    // numBands ⇒ exact recall, see simhashPairsBanded), banded-join cost
    "x04_dedup_simhash" -> ((s, d) => {
      Dedup.simhashPairsBanded(t(s, d, "documents"), "doc_id", "text",
          bits = 16, maxHamming = 2, numBands = 4)
        .select(col("id_a"), col("id_b"), col("hamming").cast("int").as("hamming"))
    }),

    // ───── brute-force cosine top-k (exact ANN baseline)
    "x05_ann_bruteforce" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, "qid", "qvec", k = 5)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cos_sim"))
    }),

    // ───── sign-LSH bucketed ANN (the 100 TB path: equi-join replaces cross join)
    "x06_ann_bucketed" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      // anchors = first 8 vectors (deterministic, data-derived hyperplanes);
      // bounded driver collect of 8 rows, broadcast as literals
      val anchors = Similarity.collectAnchors(emb, "vec_id", "embedding", 8)
      val q = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.bucketedTopK(emb, "vec_id", "embedding", q, "qid", "qvec",
          anchors, k = 5)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cos_sim"))
    }),

    // ───── IVF coarse-quantized ANN, 16 data-derived centroids, 2 probes
    "x15_ann_ivf" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cent = emb.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val q = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.ivfTopK(emb, "vec_id", "embedding", q, "qid", "qvec",
          cent, "cid", "cvec", k = 5, probes = 2)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cos_sim"))
    }),

    // ───── embedding near-duplicate pairs: multi-table sign-LSH
    // candidates (4 tables × 4 bits from 16 data-derived anchors) + exact
    // cosine verify — the bucketed scale path; the all-pairs form survives
    // only as the recall baseline in tests. Recall is an explicit
    // tradeoff: measured 23% candidate volume at 51% recall for this
    // corpus's unusually-low tau=0.4 (its max pair cosine is 0.6); in the
    // production regime (near-dup = cos ≥ 0.9) the same tables reach
    // ≈95% recall — see nearDupPairsBanded's tuning notes
    "x07_embed_neardup" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val anchors = Similarity.collectAnchors(emb, "vec_id", "embedding", 16)
      Similarity.nearDupPairsBanded(emb, "vec_id", "embedding", tau = 0.4,
        anchors = anchors, bitsPerTable = 4)
    }),

    // ───── language ID (stopword-profile argmax, one-tokenization row form)
    "x08_lang_id" -> ((s, d) => {
      TextOps.langIdDF(t(s, d, "documents"), "doc_id", "text")
    }),

    // ───── quality scoring (length/punct/digit components + natural
    // stopword rate)
    "x09_quality_score" -> ((s, d) => {
      t(s, d, "documents").select(col("doc_id"),
        TextOps.punctRatio(col("text")).as("punct_ratio"),
        TextOps.digitRatio(col("text")).as("digit_ratio"),
        TextOps.qualityScore(col("text")).as("quality"),
        TextOps.stopwordRatio(col("text")).as("stopword_ratio"))
    }),

    // ───── token statistics (whitespace + subword cost model)
    "x10_token_stats" -> ((s, d) => {
      t(s, d, "documents").select(col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextOps.subwordCount(col("text")).as("n_subwords"),
        length(TextOps.normalize(col("text"))).cast("long").as("n_chars_norm"))
    }),

    // ───── document fingerprinting (md5 of normalized content)
    "x11_fingerprint" -> ((s, d) => {
      t(s, d, "documents").select(col("doc_id"),
        TextOps.fingerprint(col("text")).as("fp"),
        substring(TextOps.fingerprint(col("text")), 1, 8).as("fp_prefix"))
    }),

    // ───── corpus distribution stats: exact interpolated percentiles
    "x16_percentiles" -> ((s, d) => {
      t(s, d, "documents").groupBy(col("source"))
        .agg(expr("percentile(n_chars, 0.5)").as("p50"),
          expr("percentile(n_chars, 0.9)").as("p90"),
          expr("percentile(n_chars, 0.99)").as("p99"),
          count(lit(1)).as("n"))
    }),

    // ───── per-source top terms by tf/df (log-free tf-idf ranking —
    // integer-ratio scores keep the oracle bit-exact)
    "x17_top_terms" -> ((s, d) => {
      val toks = TextOps.tokenRows(t(s, d, "documents"), "doc_id", "text", Seq("source"))
      val tf = toks.groupBy(col("source"), col("tok")).agg(count(lit(1)).as("tf"))
      val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
        .orderBy((col("tf").cast("double") / col("df")).desc, col("tok"))
      tf.join(df, "tok")
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select(col("source"), col("rn"), col("tok"), col("tf"), col("df"))
    }),

    // ───── rollup (hierarchy totals — beyond-reference OLAP completeness)
    "x18_rollup" -> ((s, d) => {
      t(s, d, "documents").rollup(col("source"), col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
    }),

    // ───── the composed curation pipeline: the "user switches their whole
    // pipeline" demo — exact-dup representative ∧ language filter ∧
    // quality threshold, joined to the embedding table
    "x19_curation_pipeline" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val lang = TextOps.langIdDF(docs, "doc_id", "text")
      val qual = docs.select(col("doc_id"),
        TextOps.qualityScore(col("text")).as("quality"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextOps.fingerprint(col("text")).as("fp"))
      val rep = qual.withColumn("keep",
        col("doc_id") === min(col("doc_id")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))))
      val emb = t(s, d, "embeddings").select(col("vec_id"), col("label"))
      rep.join(lang, "doc_id")
        .join(emb, col("doc_id") === col("vec_id"))
        .filter(col("keep") && col("lang_pred") === "en" && col("quality") >= 0.9)
        .select(col("doc_id"), col("quality"), col("lang_pred"),
          col("label"), col("n_tokens"))
    }),

    // ───── one Lloyd's iteration: per-cell per-dimension centroid means
    // (assignment from the x15 coarse quantizer; means via index-ordered
    // folds so the oracle replays bit-for-bit)
    "x20_kmeans_step" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cent = emb.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      Similarity.assignCells(emb, "vec_id", "embedding", cent, "cid", "cvec")
        .select(col("vec_id"), col("cell"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy(col("cell"), col("dim"))
        .agg(
          (aggregate(
            transform(sort_array(collect_list(struct(col("vec_id"), col("v")))),
              x => x.getField("v").cast("double")),
            lit(0.0), (acc, v) => acc + v) / count(lit(1))).as("mean"),
          count(lit(1)).as("n"))
        .select(col("cell"), col("dim").cast("long").as("dim"),
          col("mean"), col("n"))
    }),

    // ───── deterministic hash-based train/val split (portable md5 buckets)
    "x21_hash_split" -> ((s, d) => {
      val h = md5(concat(lit("doc_"), col("doc_id")))
      t(s, d, "documents").select(
        col("doc_id"),
        substring(h, 1, 2).as("hash_bucket"),
        when(substring(h, 1, 2) < "1a", "val").otherwise("train").as("split"))
    }),

    // ───── context packing: cumulative subword budget → 4096-token bins
    // (the document-concatenation step of a pretraining data pipeline).
    // The running sum is the two-level distributed prefix-sum — per-range
    // windows + broadcast offsets — NOT a global unpartitioned window
    // (which would funnel the whole corpus through one task)
    "x22_token_packing" -> ((s, d) => {
      val base = t(s, d, "documents")
        .select(col("doc_id"), TextOps.subwordCount(col("text")).as("n_subwords"))
      graft.ops.Relational.prefixSum(base, "doc_id", "n_subwords",
          "cum_subwords", rangeSize = 64L)
        .withColumn("bin",
          floor((col("cum_subwords") - col("n_subwords")) / 4096.0).cast("long"))
    }),

    // ───── deterministic stratified sample: top-5 per source in
    // md5-shuffled order (portable pseudo-random, replayable anywhere)
    "x23_stratified_sample" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
        .orderBy(md5(concat(lit("s_"), col("doc_id"))), col("doc_id"))
      t(s, d, "documents")
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 5)
        .select(col("source"), col("rn"), col("doc_id"))
    }),

    // ───── relative (distribution-aware) filtering: docs longer than
    // their source's median — the "keep the upper half" curation rule
    "x24_relative_filter" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
      t(s, d, "documents")
        .withColumn("src_median", expr("percentile(n_chars, 0.5)")
          .over(w))
        .filter(col("n_chars") > col("src_median"))
        .select(col("doc_id"), col("source"), col("n_chars"), col("src_median"))
    }),

    // ───── dedup completion: near-dup pairs → connected-component clusters.
    // Pair generation is the LSH-bucketed path (same candidates as x07) —
    // the production recipe: banded candidates feed CC, never an all-pairs
    // join
    "x25_dedup_clusters" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val anchors = Similarity.collectAnchors(emb, "vec_id", "embedding", 16)
      val pairs = Similarity.nearDupPairsBanded(emb, "vec_id", "embedding",
        tau = 0.4, anchors = anchors, bitsPerTable = 4)
      graft.dedup.Dedup.connectedComponents(pairs)
    }),

    // ───── PII scrubbing (emails/URLs/digit runs → placeholders);
    // md5 of the scrubbed text keeps the comparison compact
    "x26_pii_scrub" -> ((s, d) => {
      val scrubbed = TextOps.scrubPii(col("text"))
      t(s, d, "documents").select(col("doc_id"),
        md5(scrubbed).as("scrubbed_md5"),
        (scrubbed =!= col("text")).as("changed"))
    }),

    // ───── the production dedup recipe end-to-end: LSH candidates →
    // exact-Jaccard verify → connected-component clusters (the composition
    // the standalone x02/x03/x25 stages exist for)
    "x27_lsh_dedup_pipeline" -> ((s, d) => {
      Dedup.lshDedupClusters(t(s, d, "documents"), "doc_id", "text",
        shingleK = 2, numHashes = 12, rowsPerBand = 3,
        candTau = 0.25, jaccardTau = 0.2)
    }),

    // ───── x16's production twin: approx_percentile (GK sketch, bounded
    // state per group — rank error ≤ n/accuracy, and EXACT while the group
    // holds ≤ accuracy values, where it returns the order statistic
    // DuckDB's quantile_disc picks, hence the value oracle; verified
    // equal on all 60 (source × quantile) cells). The value-oracle
    // contract therefore holds for groups up to `accuracy` (10000) rows —
    // 20× the gate's sf0.01 group sizes; above that the sketch is
    // genuinely approximate and the check would move to a rank-error
    // contract like x31's. The exact interpolating percentile (x16) stays
    // as the oracle-mirror form; this is the one to run when a group
    // holds 10^9 values.
    "x28_percentiles_approx" -> ((s, d) => {
      t(s, d, "documents").groupBy(col("source"))
        .agg(expr("approx_percentile(n_chars, 0.5, 10000)").as("p50"),
          expr("approx_percentile(n_chars, 0.9, 10000)").as("p90"),
          expr("approx_percentile(n_chars, 0.99, 10000)").as("p99"),
          count(lit(1)).as("n"))
    }),

    // ───── x24's production twin: median-relative filter with the sketch
    // percentile computed per group + broadcast back — no per-group value
    // buffering, no window with an unbounded frame
    "x29_relative_filter_approx" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val med = docs.groupBy(col("source"))
        .agg(expr("approx_percentile(n_chars, 0.5, 10000)").as("src_median"))
      docs.join(broadcast(med), "source")
        .filter(col("n_chars") > col("src_median"))
        .select(col("doc_id"), col("source"), col("n_chars"), col("src_median"))
    }),

    // ───── x20's production twin: the same Lloyd's-step centroid means
    // with BOUNDED aggregation state — per-value quantization to 1e-9,
    // exact order-independent integer sums in the normal partial-agg
    // (map-side combine) path, ONE division at the end. No collect_list,
    // no per-group buffering: state per (cell,dim) is one decimal + one
    // count regardless of cell population
    "x30_kmeans_scalable" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cent = emb.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      Similarity.assignCells(emb, "vec_id", "embedding", cent, "cid", "cvec")
        .select(col("cell"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy(col("cell"), col("dim"))
        .agg(
          sum(floor(col("v").cast("double") * 1e9 + 0.5).cast("long")
            .cast("decimal(38,0)")).as("s"),
          count(lit(1)).as("n"))
        .select(col("cell"), col("dim").cast("long").as("dim"),
          (col("s").cast("double") / 1e9 / col("n")).as("mean"), col("n"))
    }),

    // ───── distinct-cardinality sketch (HLL++): the contract the oracle
    // CAN check — exact per-group cardinality plus a boolean asserting the
    // sketch landed within its error budget. The sketch is deterministic
    // for a given dataset, so the boolean is stable; the asserted band is
    // 10% = 5 standard deviations at rsd=0.02, so the contract holds with
    // overwhelming margin on any corpus, not just this one. At 10^9
    // distinct keys per group the sketch is the only form that still runs.
    // Both aggregates run OVER THE DEDUPED (source, tok) frame: HLL is
    // duplicate-insensitive, so the estimate is bit-identical, while the
    // naive combined form makes the distinct-agg rewrite allocate a
    // partial HLL buffer (~4 KB at rsd 0.02) per (source, token) group —
    // one sketch per TOKEN — where this plan holds one sketch per source
    // (measured 6.3 → 0.5 s at sf0.1)
    "x31_distinct_approx" -> ((s, d) => {
      val toks = TextOps.tokenRows(t(s, d, "documents"), "doc_id", "text",
        Seq("source"))
      toks.select(col("source"), col("tok")).distinct()
        .groupBy(col("source"))
        .agg(count(col("tok")).as("n_exact"),
          approx_count_distinct(col("tok"), 0.02).as("n_approx"))
        .select(col("source"), col("n_exact"),
          (abs(col("n_approx").cast("double") - col("n_exact")) <=
            col("n_exact") * 0.10).as("approx_ok"))
    }),

    // ───── multimodal: binary payload metadata (no decode, column-only)
    "x12_multimodal_meta" -> ((s, d) => {
      Multimodal.payloadMeta(Multimodal.documentsAsAssets(t(s, d, "documents")))
        .select(col("asset_id"), col("media_type"), col("n_bytes"), col("magic_byte"))
    }),

    // ───── multimodal decode via mapPartitions, mixed REAL + stub paths:
    // every third doc's bytes ride a genuine RGB8 PNG container (chunk
    // walk + CRC + zlib inflate + unfilter in ImageCodecs.decodePng),
    // every third-plus-one a genuine 16×8 BGR24 AVI (RIFF walk +
    // per-frame raster in VideoCodecs — REAL frame counts and luma over
    // every frame); the rest stay text payloads on the deterministic
    // stub. All three branches replay from the same source bytes in the
    // oracle
    "x13_multimodal_decode" -> ((s, d) => {
      Multimodal.decodeFeatures(Multimodal.documentsAsMixedAssets(t(s, d, "documents"))).toDF()
    }),

    // ───── rolling fingerprint (order-sensitive signature)
    "x14_rolling_fingerprint" -> ((s, d) => {
      t(s, d, "documents").select(col("doc_id"),
        TextOps.rollingFingerprint(col("text")).as("rfp"))
    }),

    // ───── benchmark decontamination: flag training docs sharing any
    // word 4-gram with a held-out benchmark set (here: the first 20 docs).
    // The real-pipeline shape: benchmark shingles are tiny → broadcast
    // semi-join against the corpus shingle rows; corpus text never
    // shuffles. Production uses 8–13-grams; 4 fits this corpus's length
    "x33_decontaminate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // filter BEFORE shingling: the benchmark side tokenizes only its own
      // 20 docs (filter pushes to the scan) instead of re-tokenizing the
      // whole corpus for each branch
      val bench = TextOps.shingleRows(docs.filter(col("doc_id") < 20),
          "doc_id", "text", 4)
        .select(col("g")).distinct()
      val flagged = TextOps.shingleRows(docs.filter(col("doc_id") >= 20),
          "doc_id", "text", 4)
        .join(broadcast(bench), Seq("g"), "left_semi")
        .select(col("doc_id")).distinct()
      docs.filter(col("doc_id") >= 20).select(col("doc_id"))
        .join(flagged.withColumn("contaminated", lit(true)), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("contaminated"), lit(false)).as("contaminated"))
    }),

    // ───── multimodal frame-sampling fan-out: decode → one row per
    // sampled frame (every 3rd), the (asset, frame_idx) contract a video
    // pipeline hands to its pixel stage; every 5th doc is a REAL 16×8
    // BGR24 AVI (VideoCodecs.wrapBgrAvi — frame count comes off the
    // genuine RIFF walk, ceil(n/384) by construction), the rest are
    // single-frame text assets on the stub path
    "x32_frame_sample" -> ((s, d) => {
      import org.apache.spark.sql.{Encoders, Row}
      val enc = Encoders.tuple(Encoders.scalaLong, Encoders.STRING, Encoders.BINARY)
      val assets = t(s, d, "documents")
        .select(col("doc_id"), col("text").cast("binary"))
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
        .map { r: Row =>
          val (id, bytes) = (r.getLong(0), r.getAs[Array[Byte]](1))
          if (id % 5 == 0) (id, "video", graft.mm.VideoCodecs.wrapBgrAvi(bytes))
          else (id, "text", bytes)
        }(enc)
        .toDF("asset_id", "media_type", "payload")
      Multimodal.sampleFrames(Multimodal.decodeFeatures(assets), stride = 3)
        .select(col("asset_id"), col("media_type"), col("n_frames"),
          col("frame_idx"))
    }),

    // ───── Gopher/C4-style repetition + word-length quality rules: token
    // repetition ratio (1 − distinct/total) and mean word length per doc,
    // thresholded into a keep flag. One tokenization, partial-combine
    // aggregation; empty/token-less docs come back via the left join with
    // keep=false (same missing-group rule as x10)
    "x35_repetition_filter" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val tr = TextOps.tokenRows(docs, "doc_id", "text")
        .filter(col("tok") =!= "")
      val agg = tr.groupBy(col("doc_id")).agg(
        count(lit(1)).as("n_tokens"),
        countDistinct(col("tok")).as("n_distinct"),
        (sum(length(col("tok"))).cast("double") / count(lit(1))).as("mean_word_len"))
      docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
          (lit(1.0) - col("n_distinct").cast("double") / col("n_tokens"))
            .as("rep_ratio"),
          col("mean_word_len"),
          coalesce(
            col("n_distinct").cast("double") / col("n_tokens") >= 0.5 &&
              col("mean_word_len") >= 4.0, lit(false)).as("keep"))
    }),

    // ───── dedup impact report: the summary a dedup run ships to its
    // operators — per cluster-size, how many clusters, how many documents
    // a survivor-keep policy drops, and how many characters that saves
    // (survivor = max n_chars, x58's rule; saved chars per cluster =
    // total − survivor, so the tiebreak can't move the number). Composes
    // the x27 cluster machinery; one narrow (id, n_chars) join, text
    // never touched after banding
    "x114_dedup_impact" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val labels = Dedup.lshDedupClusters(docs, "doc_id", "text",
        shingleK = 2, numHashes = 12, rowsPerBand = 3,
        candTau = 0.25, jaccardTau = 0.2)
      val per = labels
        .join(docs.select(col("doc_id").as("id"), col("n_chars")), Seq("id"))
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"),
          max(col("n_chars")).as("kept_chars"))
      per.groupBy(col("n").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("n") - 1).as("docs_dropped"),
          sum(col("chars") - col("kept_chars")).as("chars_dropped"))
    }),

    // ───── LSH-dedup recall evaluation — x48's ANN-recall shape for the
    // dedup family: exact n-gram Jaccard ground truth on a bounded PROBE
    // sample (3 md5-ranked docs per source — linear in the corpus, not
    // quadratic; unblocked, because bands cross sources) graded against
    // the production candidate stage (x03's md5-MinHash bands, est
    // ≥ 0.25). Output: per exact-Jaccard decile, how many truth pairs the
    // bands surfaced — the curve that says whether banding parameters
    // (12 hashes × 3 rows) match the corpus before a full run. Probe size
    // and stratification are parameters of [[RecallEval.lshRecallCurve]]
    // (RecallEvalSpec locks that curves are consistent across probe
    // sizes); this entry pins one configuration for the oracle
    "x113_lsh_recall" -> ((s, d) =>
      RecallEval.lshRecallCurve(t(s, d, "documents"), "doc_id", "text",
        shingleK = 2, numHashes = 12, rowsPerBand = 3, tau = 0.25,
        probePerStratum = 3, stratifyCol = Some("source"))),

    // ───── cross-split leakage audit: near-dup pairs that STRADDLE the
    // x21 train/val hash split — the QA check that catches evaluation
    // contamination by near-duplicates (a val document whose near-twin
    // sits in train scores as memorization, not generalization; random
    // splits leak exactly this way, which is why production splits hash
    // the DEDUP CLUSTER id, not the doc id). Output: the split-pair
    // matrix with pair counts and the distinct val documents leaked.
    // Candidates from the x03 band stage — cost is the LSH pipeline, not
    // a corpus join; the split label is a projection of doc_id alone
    "x115_split_leakage" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // ONE tokenization: the shingle frame feeds signatures AND the
      // verify stage (caller-managed caches, cleared per query).
      // Verified near-dups (the x27 verify stage): leakage counts REAL
      // near-twins, not band noise — and makes x116's zero exact
      val sh = TextOps.shingleRows(docs, "doc_id", "text", 2).cacheRegistered
      val signed = Dedup.signatureOfShingles(sh, "doc_id", 12).cacheRegistered
      val cands = Dedup.lshPairsFromSignatures(signed, "doc_id", 12, 3, 0.25)
        .select(col("id_a"), col("id_b"))
      val pairs = Dedup.jaccardForShingles(sh, "doc_id", cands)
        .filter(col("jaccard") >= 0.2)
        .select(col("id_a"), col("id_b"))
      def splitOf(c: org.apache.spark.sql.Column) =
        when(substring(md5(concat(lit("doc_"), c)), 1, 2) < "1a", "val")
          .otherwise("train")
      pairs
        .withColumn("sa0", splitOf(col("id_a")))
        .withColumn("sb0", splitOf(col("id_b")))
        .groupBy(least(col("sa0"), col("sb0")).as("split_a"),
          greatest(col("sa0"), col("sb0")).as("split_b"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(when(col("sa0") =!= col("sb0"),
            when(col("sa0") === "val", col("id_a")).otherwise(col("id_b"))))
            .as("n_leaked_val_docs"))
    }),

    // ───── cluster-aware split assignment — the FIX for what x115
    // detects: hash the DEDUP-CLUSTER id (survivor id for clustered
    // documents, own id otherwise) instead of the doc id, so a near-dup
    // family lands in ONE split by construction. Output is x115's matrix
    // recomputed under the cluster-keyed split over the SAME verified
    // pair set: every verified pair is a cluster edge, both endpoints
    // share a split key, and the cross-split row vanishes — leakage is
    // structurally zero, not statistically small
    "x116_cluster_split" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // ONE pipeline end-to-end: the shingle frame feeds signatures and
      // verification, the verified pairs feed BOTH the cluster labels
      // (CC) and the leakage matrix — nothing is recomputed
      val sh = TextOps.shingleRows(docs, "doc_id", "text", 2).cacheRegistered
      val signed = Dedup.signatureOfShingles(sh, "doc_id", 12).cacheRegistered
      val cands = Dedup.lshPairsFromSignatures(signed, "doc_id", 12, 3, 0.25)
        .select(col("id_a"), col("id_b"))
      // cached: the verified pair set has TWO consumers — CC's edge
      // materialization and the leakage matrix below — and without the
      // pin the second consumer re-runs the band join + three verify
      // joins from the upstream caches (r17 census: 33 jobs / 72 stages
      // for x116 vs 18 / 36 for x27, the duplicate-chain signature).
      // The pair list is the tiny end of the pipeline (bounded by the
      // near-dup rate), so the pin is cheap at any scale
      val pairs = Dedup.jaccardForShingles(sh, "doc_id", cands)
        .filter(col("jaccard") >= 0.2)
        .select(col("id_a"), col("id_b"))
        .cacheRegistered
      val labels = Dedup.connectedComponents(pairs)
      val key = docs.select(col("doc_id"))
        .join(labels.select(col("id").as("doc_id"), col("cluster")), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("cluster"), col("doc_id")).as("skey"))
      def splitOf(c: org.apache.spark.sql.Column) =
        when(substring(md5(concat(lit("doc_"), c)), 1, 2) < "1a", "val")
          .otherwise("train")
      pairs
        .join(key.select(col("doc_id").as("id_a"), splitOf(col("skey")).as("sa0")), "id_a")
        .join(key.select(col("doc_id").as("id_b"), splitOf(col("skey")).as("sb0")), "id_b")
        .groupBy(least(col("sa0"), col("sb0")).as("split_a"),
          greatest(col("sa0"), col("sb0")).as("split_b"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(when(col("sa0") =!= col("sb0"),
            when(col("sa0") === "val", col("id_a")).otherwise(col("id_b"))))
            .as("n_leaked_val_docs"))
    }),

    // ───── substring-level dedup (winnowed repeated spans): the
    // Lee-et-al-style "repeated substring" stage, relationally. Anchor
    // selection (MOSS winnowing, k=16/w=8) runs inside the scan
    // projection via the `winnow` codegen kernel — only ~2/(w+1) of
    // positions become (id, pos, hash) rows, text never shuffles; the
    // cross-doc census + per-doc gaps-and-islands merge then find every
    // ≥23-char substring shared by ≥2 docs, alignment-free (stride
    // sampling can't promise that). One span row per maximal island
    "x117_substring_spans" -> ((s, d) =>
      Dedup.winnowSpans(t(s, d, "documents"), "doc_id", "text")),

    // ───── substring-dedup impact report: per-source repeated-char
    // pressure from the x117 spans (spans are disjoint within a doc by
    // construction, so summing span_len is exact coverage) — the
    // "how much boilerplate would span-removal cut" planning number
    "x118_substring_impact" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val per = Dedup.winnowSpans(docs, "doc_id", "text")
        .groupBy(col("doc_id"))
        .agg(sum(col("span_len")).as("rep_chars"))
      docs.filter(col("doc_id").isNotNull && col("text").isNotNull)
        .select(col("doc_id"), col("source"),
          length(col("text")).cast("long").as("len"))
        .join(per, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count(col("rep_chars")).as("docs_flagged"),
          coalesce(sum(col("rep_chars")), lit(0L)).as("repeated_chars"),
          sum(col("len")).as("total_chars"))
        .withColumn("repeat_ppm",
          expr("(repeated_chars * CAST(1000000 AS BIGINT)) div total_chars"))
    }),

    // ───── substring-level decontamination report: spans of corpus docs
    // (doc_id >= 20, the x33/x43 split convention) that share a winnowed
    // anchor with the benchmark suite (doc_id < 20) — WHERE the
    // contamination lives, so a masking pass can cut exactly these
    // ranges. Completes the decontamination family: x33 = exact 4-gram
    // flag, x43 = bloom flag at scale, x119 = span positions. Benchmark
    // anchor hashes broadcast; the corpus anchor stream never shuffles
    // for the probe
    "x119_contamination_spans" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.winnowSpansAgainst(
        docs.filter(col("doc_id") >= 20),
        docs.filter(col("doc_id") < 20), "doc_id", "text")
    }),

    // ───── product-quantization ANN with ADC (Jégou et al. '11, the
    // IVF-PQ workhorse, flat form): 8 subspaces × 16 centroids (the
    // x15/x20 coarse-centroid convention reused as the codebook) — the
    // corpus becomes 8 small codes per vector, queries score via
    // broadcast lookup tables, the float vectors never join the scoring.
    // Sub-distances are double diff-then-self-dot (x05's pinned fold);
    // the per-pair ADC sum is x20's index-ordered sorted fold
    "x121_pq_adc_ann" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      // codebook driver-local (pinLocal): the PQ encode then runs as the
      // native map-side `pqCodes` projection (r14) and the LUT
      // broadcast is a job-free LocalTableScan
      val cent = Similarity.pinLocal(emb.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec")))
      Similarity.pqAdcTopK(emb, "vec_id", "embedding", cent, "cid", "cvec",
          emb.filter(col("vec_id") < 8), "vec_id", "embedding",
          m = 8, dim = 64, k = 5)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("adc_dist"))
    }),

    // ───── IVF-PQ composed ANN: x15's coarse cells restrict candidates
    // (2 probes), x121's ADC lookup tables rank inside them — the
    // billion-vector production shape (corpus persists as cell + m codes,
    // a few bytes per vector; a query touches ~probes/K of the code
    // frame). Same 16-centroid codebook serves both roles by the
    // x15/x20 convention
    "x122_ivf_pq_ann" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      // codebook DRIVER-LOCAL (pinLocal, the x152 pattern): the coarse
      // assignment becomes a map-side literal fold (no crossJoin×window
      // exchange) and every codebook broadcast is a job-free
      // LocalTableScan (r13 verdict #5)
      val cent = Similarity.pinLocal(emb.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec")))
      Similarity.ivfPqTopK(emb, "vec_id", "embedding", cent, "cid", "cvec",
          emb.filter(col("vec_id") < 8), "vec_id", "embedding",
          m = 8, dim = 64, k = 5, probes = 2)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("adc_dist"))
    }),

    // ───── IVF-PQ with RESIDUAL encoding (IVFADC, Jégou '11 §III): the
    // fine book encodes v − centroid[cell(v)] — coarse absorbs location,
    // fine covers the tight residual cloud, which is why the composed
    // quantizers stay accurate on a small codebook budget. Fine book =
    // residuals of vectors 16-31 w.r.t. their own cells (deterministic,
    // oracle-replayable stand-in for a k-means-trained book); same cells/
    // probes as x122 so x123-vs-x122 isolates the encoding change
    "x123_ivf_pq_residual_ann" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      // coarse + fine books DRIVER-LOCAL (pinLocal, the x152 pattern —
      // r13 verdict #5): the corpus and fine-book assignments become
      // map-side literal folds instead of rebuilding the crossJoin×window
      // coarse assignment per consumer, and the codebook/LUT broadcasts
      // are job-free LocalTableScans
      val cent = Similarity.pinLocal(emb.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec")))
      val fine = Similarity.pinLocal(Similarity.residuals(
          emb.filter(col("vec_id") >= 16 && col("vec_id") < 32),
          "vec_id", "embedding", cent, "cid", "cvec")
        .select(col("vec_id").as("fcid"), col("resid").as("fvec")))
      Similarity.ivfPqResidualTopK(emb, "vec_id", "embedding",
          cent, "cid", "cvec", fine, "fcid", "fvec",
          emb.filter(col("vec_id") < 8), "vec_id", "embedding",
          m = 8, dim = 64, k = 5, probes = 2)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("adc_dist"))
    }),

    // ───── substring-level dedup REMOVAL (the Lee '22 output stage):
    // x117's winnowed cross-document spans are CUT from every document —
    // rebuilt text = the concatenation of the segments between spans
    // (spans are disjoint within a doc by construction, so the segment
    // arithmetic is a pure projection over the sorted span list). The
    // conservative boilerplate-scrub form: every occurrence of a shared
    // substring is removed; x45 is the chunk-aligned twin
    "x124_span_scrub" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val spans = Dedup.winnowSpans(docs, "doc_id", "text")
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_list(struct(col("span_start").as("s"),
          col("span_end").as("e")))).as("sp"),
          sum(col("span_len")).as("removed_chars"),
          count(lit(1)).as("n_spans"))
      docs.filter(col("doc_id").isNotNull && col("text").isNotNull)
        .join(spans, Seq("doc_id"), "left")
        .withColumn("cleaned", expr(
          // segment i of n+1: chars after span i-1 (or 1) up to span i's
          // start (or end-of-text). Spark arrays are 0-based; the oracle
          // writes the same walk 1-based
          """CASE WHEN sp IS NULL THEN text ELSE
             concat_ws('', transform(sequence(0, size(sp)),
               i -> substring(text,
                 CAST(CASE WHEN i = 0 THEN 1 ELSE sp[i-1].e + 1 END AS INT),
                 CAST((CASE WHEN i = size(sp) THEN length(text) + 1
                       ELSE sp[i].s END)
                   - (CASE WHEN i = 0 THEN 0 ELSE sp[i-1].e END) - 1 AS INT))))
             END"""))
        .select(col("doc_id"), col("cleaned"),
          coalesce(col("removed_chars"), lit(0L)).as("removed_chars"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"))
    }),

    // ───── BM25 top-k retrieval (Robertson; Lucene practical form):
    // benchmark docs (< 8) as queries against the corpus (≥ 20) — the
    // inverted-index probe shape: query terms broadcast, only matching
    // postings flow, df/avgdl partial-combine; per-term contributions
    // floor to integer micro-units (x120's quantize-once pattern) so the
    // per-doc sum is order-free and engine-exact
    "x125_bm25_topk" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
      graft.text.Retrieval.bm25TopK(
        docs.filter(col("doc_id") >= 20),
        docs.filter(col("doc_id") < 8),
        "doc_id", "text", "doc_id", k = 5)
    }),

    // ───── hybrid retrieval: reciprocal-rank fusion (Cormack '09, k=60)
    // of the BM25 lexical ranks and the exact-cosine vector ranks over
    // the SAME aligned id space (documents.doc_id ≡ embeddings.vec_id) —
    // all-integer scoring: 1e9 div (60 + rank), summed as longs
    "x126_rrf_fusion" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
      val emb = t(s, d, "embeddings")
      val bm = graft.text.Retrieval.bm25TopK(
        docs.filter(col("doc_id") >= 20), docs.filter(col("doc_id") < 8),
        "doc_id", "text", "doc_id", k = 20)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val ann = Similarity.bruteForceTopK(
        emb.filter(col("vec_id") >= 20), "vec_id", "embedding",
        emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        "qid", "qvec", k = 20)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank").cast("long").as("rank"))
      graft.text.Retrieval.rrfFuse(bm, ann, "doc_id", k = 5)
    }),

    // ───── dedup cluster-chaining audit: transitive closure merges
    // near-dup pairs into clusters, but transitivity is NOT similarity —
    // a-b and b-c at J=0.2 can chain an a-c pair at J≈0. This audits
    // every x27 cluster (size-capped at 32; production samples giants and
    // logs the drop) by computing the TRUE pairwise Jaccard of every
    // member pair and reporting how many in-cluster pairs fall below the
    // verify threshold — the number that says whether cluster-level
    // dedup decisions (keep one survivor per cluster) over-delete
    "x128_chaining_audit" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // ONE shingle frame for the cluster chain AND the audit verify
      // (r16: the jaccardForPairs call re-ran the full tokenize+shingle
      // pass the cluster chain had already paid — the duplicate-subtree
      // signature; shared-hub form per the x76/x127 lesson)
      val sh = graft.text.TextOps.shingleRows(docs, "doc_id", "text", 2)
        .cacheRegistered
      val labels = Dedup.lshDedupClustersFromShingles(sh, "doc_id",
        numHashes = 12, rowsPerBand = 3, candTau = 0.25, jaccardTau = 0.2)
      val sized = labels.groupBy(col("cluster")).agg(count(lit(1)).as("size"))
        .filter(col("size") <= 32)
      val members = labels.join(sized, Seq("cluster"))
      val pairs = members.select(col("cluster"), col("size"), col("id").as("id_a"))
        .join(members.select(col("cluster"), col("id").as("id_b")),
          Seq("cluster"))
        .filter(col("id_a") < col("id_b"))
      val jac = Dedup.jaccardForShingles(sh, "doc_id",
        pairs.select(col("id_a"), col("id_b")))
      pairs.join(jac, Seq("id_a", "id_b"), "left")
        .groupBy(col("cluster"), col("size"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(coalesce(col("jaccard"), lit(0.0)) >= 0.2, 1L)
            .otherwise(0L)).as("n_direct"))
        .withColumn("n_chained", col("n_pairs") - col("n_direct"))
        .withColumn("chained_ppm",
          expr("(n_chained * CAST(1000000 AS BIGINT)) div n_pairs"))
    }),

    // ───── Lloyd's k-means over the embedding corpus — the TRAINING
    // stage behind every centroid table in the ANN/SemDeDup family
    // (x15/x20/x36's codebooks are deterministic data picks; production
    // learns them exactly like this). Micro-integer grid end-to-end
    // (x120's quantize-once discipline applied to geometry): integer
    // squared distances, floor-mean updates, lowest-cid ties — DuckDB
    // replays the full 2-iteration run bit-for-bit. Assignment is a
    // map-side literal fold (no join, no shuffle); each update shuffles
    // only pre-summed (cluster, dim) rows; k·dim driver state.
    "x129_kmeans_train" -> ((s, d) => {
      Similarity.kmeansMicro(t(s, d, "embeddings"), "vec_id", "embedding",
          k = 8, iters = 2)
        .assignments
        .select(col("vec_id"), col("cluster"), col("dist2"))
    }),

    // ───── SemDeDup on LEARNED cells (Abbas '23 §3 proper): x129's
    // trained k-means partition drives the within-cell duplicate scan —
    // the composition x36 approximates with data-pick centroids. Same
    // dup rule (lower-id cell-mate at cos ≥ τ, exact cosine on the raw
    // floats); pairs never leave their cell. The cell label is computed
    // MAP-SIDE over the scan (microArgmin over the trained literal grid
    // — the identical expression the model's assignments frame carries),
    // so no corpus⋈assignments shuffle join ever plans (r12 verdict #2)
    "x130_semdedup_kmeans" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      // train AND label off ONE cached quantized frame (r13 verdict #3):
      // the label stage is microArgmin over the trained grid projected
      // from the training cache — no second parquet scan, no re-quantize
      val (_, labeled) = Similarity.kmeansMicroLabeled(emb,
        "vec_id", "embedding", k = 8, iters = 2)
      Similarity.semanticDedupLabeled(labeled, "vec_id", "embedding",
          tau = 0.4)
        .select(col("vec_id"), col("cell"), col("is_dup"))
    }),

    // ───── character-level Shannon entropy over the normalized text —
    // the gibberish/low-diversity quality signal x09's ratio features
    // don't capture (all-same-char spam scores 0 bits; natural text sits
    // ~3-4). Per-(doc, char) terms floor to micro-units ONCE (x120's
    // quantize-once discipline — each term is a few IEEE ops on the two
    // integer counts), so the per-doc entropy is an order-free integer
    // sum. One narrow (doc, char) shuffle with partial combine
    "x133_char_entropy" -> ((s, d) => {
      TextOps.charEntropy(
        t(s, d, "documents")
          .filter(col("doc_id").isNotNull && col("text").isNotNull),
        "doc_id", "text")
    }),

    // ───── PCA top-component projection (Mu & Viswanath '18 dominant-
    // direction analysis): distributed integer scatter matrix (each row
    // streams its dim² outer product through a double-posexplode
    // pipeline, partial-combined — no self-join), exact BigInt power
    // iteration on the driver (2 steps, integer-grid renormalization),
    // per-row projection as DECIMAL(38,0) — embedding preprocessing
    // made engine-replayable
    "x132_pca_power" -> ((s, d) => {
      Similarity.pcaPowerProjection(t(s, d, "embeddings"), "vec_id", "embedding")
    }),

    // ───── deletion-impact audit (right-to-be-forgotten propagation):
    // which x27 dedup clusters does deleting the benchmark slice
    // (doc_id < 20) touch, and who becomes each cluster's survivor —
    // the compliance question a dedup-curated corpus must answer before
    // honoring a deletion (the deleted doc may BE the retained
    // survivor). Only clusters with ≥ 1 deletion emit; a fully-deleted
    // cluster reports a NULL new_survivor (its content leaves the corpus
    // entirely). Singleton docs never enter clusters and need no audit
    "x145_deletion_impact" -> ((s, d) => {
      val labels = Dedup.lshDedupClusters(t(s, d, "documents"),
        "doc_id", "text", shingleK = 2, numHashes = 12, rowsPerBand = 3,
        candTau = 0.25, jaccardTau = 0.2)
      val del = col("id") < 20
      labels.groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_members"),
          sum(when(del, 1L).otherwise(0L)).as("n_deleted"),
          min(when(!del, col("id"))).as("new_survivor"))
        .filter(col("n_deleted") > 0)
    }),

    // ───── cross-source copy matrix: x27's verified near-dup pairs
    // joined to their documents' source labels and rolled up into a
    // (source, source) provenance matrix — WHICH sources copy from which
    // (the pair is normalized least/greatest so the matrix is upper-
    // triangular). The per-pair work is x27's (banded candidates +
    // exact-Jaccard verify); the roll-up adds two broadcast-size joins
    "x141_source_copy_matrix" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // ONE shingle frame for signatures AND the exact-Jaccard verify
      // (r16: minhashLshPairs + jaccardForPairs each ran their own full
      // tokenize+shingle pass — the duplicate-subtree signature; the
      // shared form is lshDedupClusters' hub shape without the CC)
      val sh = graft.text.TextOps.shingleRows(docs, "doc_id", "text", 2)
        .cacheRegistered
      val cand = Dedup.lshPairsFromSignatures(
        Dedup.signatureOfShingles(sh, "doc_id", numHashes = 12),
        "doc_id", numHashes = 12, rowsPerBand = 3, tau = 0.25)
      val ver = Dedup.jaccardForShingles(sh, "doc_id",
          cand.select(col("id_a"), col("id_b")))
        .filter(col("jaccard") >= 0.2)
      val src = docs.select(col("doc_id"), col("source"))
      ver
        .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")),
          Seq("id_a"))
        .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")),
          Seq("id_b"))
        .select(least(col("sa"), col("sb")).as("source_x"),
          greatest(col("sa"), col("sb")).as("source_y"))
        .groupBy(col("source_x"), col("source_y"))
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("cross_source", col("source_x") =!= col("source_y"))
    }),

    // ───── language-mix segmentation (code-switch detection): x08's
    // stopword-profile vote per 50-token CHUNK instead of per doc —
    // mixed-language documents are invisible to a whole-doc argmax but
    // poison monolingual training sets. Per-doc roll-up: chunk count,
    // distinct non-und chunk langs, dominant lang (most chunks, ties
    // alphabetical via min-struct — no window), minority share in ppm
    // (integer div). One shuffle to (doc, chunk), partial-combined
    "x138_lang_mix" -> ((s, d) => {
      TextOps.langMix(
        t(s, d, "documents")
          .filter(col("doc_id").isNotNull && col("text").isNotNull),
        "doc_id", "text", chunkTokens = 50)
    }),

    // ───── EXACT similarity self-join via prefix filtering (Bayardo '07
    // All-Pairs / PPJoin's filter): the third dedup candidate generator —
    // x02 is the quadratic exact baseline, x27 trades recall for the LSH
    // band join, THIS keeps exactness at candidate-join cost. Distinct
    // TRIGRAM-shingle sets (the prefix prunes by element rarity — the
    // 27k-shingle vocabulary prunes 24×, where this corpus's 31 word
    // unigrams would degenerate, see Dedup scaladoc), rarest-first
    // canonical order, τ = 2/5 as exact integer prefix arithmetic,
    // candidate-only verification
    "x135_prefix_filter_join" -> ((s, d) => {
      Dedup.prefixFilterJaccardPairs(t(s, d, "documents"), "doc_id", "text",
        k = 3, tauNum = 2, tauDen = 5)
    }),

    // ───── IVF ANN over LEARNED centroids — the end-to-end train→index
    // composition (x15 indexes on data-pick cells; production trains the
    // coarse quantizer exactly like x129 and THEN builds the cell index).
    // Centroids come off the micro-integer grid as exact floats (micro
    // magnitudes « 2^24, so float carries them losslessly and the oracle
    // replays the cast bit-for-bit); cosine cell assignment is
    // scale-invariant, so the micro scaling cancels
    "x134_kmeans_ivf" -> ((s, d) => {
      import scala.jdk.CollectionConverters._
      import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, StructField, StructType}
      val emb = t(s, d, "embeddings")
      // train keeps the raw vectors in its cache (kmeansMicroLabeled) so
      // the index/query sides below read the CACHE, not a second parquet
      // scan (r13 verdict #3's shared-training-subtree treatment)
      val (model, labeled) = Similarity.kmeansMicroLabeled(emb,
        "vec_id", "embedding", k = 8, iters = 2)
      val corpus = labeled.select(col("vec_id"), col("embedding"))
      val cent = s.createDataFrame(
        model.centroids.map { case (j, c) =>
          org.apache.spark.sql.Row(j, c.map(_.toFloat).toSeq)
        }.asJava,
        StructType(Seq(StructField("cid", IntegerType, nullable = false),
          StructField("cvec", ArrayType(FloatType), nullable = false))))
      val q = corpus.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.ivfTopK(corpus, "vec_id", "embedding", q, "qid", "qvec",
          cent, "cid", "cvec", k = 5, probes = 2)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cos_sim"))
    }),

    // ───── multimodal resize planning: aspect-preserving fit into a
    // 224-square over the decoded dimensions (real PNG dims for every
    // third doc, real AVI dims for every third-plus-one, stub dims for
    // the rest) — the projection a decode stage partitions/batches by
    "x34_resize_plan" -> ((s, d) => {
      Multimodal.decodeFeatures(
          Multimodal.documentsAsMixedAssets(t(s, d, "documents"))).toDF()
        .select(col("asset_id"), col("width"), col("height"),
          Multimodal.resizePlan(col("width"), col("height"), 224).as("r"))
        .select(col("asset_id"), col("width"), col("height"),
          col("r.new_width").as("new_width"), col("r.new_height").as("new_height"))
    }))

  val oracle: Map[String, String] = Map(
    "x01_dedup_exact" ->
      s"""SELECT md5($normSql) AS fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
         FROM documents GROUP BY md5($normSql)""",
    "x02_dedup_jaccard" ->
      s"""WITH toks AS ${shingleSql(", source")},
         sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
         p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
           FROM toks a JOIN toks b
           ON a.g = b.g AND a.source = b.source AND a.doc_id < b.doc_id
           GROUP BY a.doc_id, b.doc_id)
         SELECT id_a, id_b,
           CAST(common AS DOUBLE) / (sa.n + sb.n - common) AS jaccard
         FROM p JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
         WHERE CAST(common AS DOUBLE) / (sa.n + sb.n - common) >= 0.2""",
    "x03_dedup_minhash" ->
      s"""WITH sh AS ${shingleSql()},
         comps AS (SELECT doc_id, i, MIN(md5(CAST(i AS VARCHAR) || ':' || g)) AS sig
           FROM sh, range(0, 12) r(i) GROUP BY doc_id, i),
         buckets AS (SELECT doc_id, i // 3 AS band,
             md5(string_agg(sig, '|' ORDER BY i)) AS h
           FROM comps GROUP BY doc_id, i // 3),
         cands AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
           FROM buckets l JOIN buckets r
           ON l.band = r.band AND l.h = r.h AND l.doc_id < r.doc_id),
         est AS (SELECT id_a, id_b,
             CAST(SUM(CASE WHEN ca.sig = cb.sig THEN 1 ELSE 0 END) AS DOUBLE) / 12
               AS est_jaccard
           FROM cands
           JOIN comps ca ON ca.doc_id = id_a
           JOIN comps cb ON cb.doc_id = id_b AND ca.i = cb.i
           GROUP BY id_a, id_b)
         SELECT id_a, id_b, est_jaccard FROM est WHERE est_jaccard >= 0.25""",
    // x114: the x27 cluster chain + a documents join; kept_chars =
    // MAX(n_chars) (the x58 survivor's size — the id tiebreak can't
    // change a chars total)
    "x114_dedup_impact" ->
      s"""WITH RECURSIVE $lshClusterCtes,
         per AS (SELECT l.cluster, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(d.n_chars) AS BIGINT) AS chars,
             CAST(MAX(d.n_chars) AS BIGINT) AS kept_chars
           FROM labels l JOIN documents d ON l.id = d.doc_id
           GROUP BY l.cluster)
         SELECT n AS cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(n - 1) AS BIGINT) AS docs_dropped,
           CAST(SUM(chars - kept_chars) AS BIGINT) AS chars_dropped
         FROM per GROUP BY n""",
    // x116: the full cluster chain + the SAME verified pair set (`ver`),
    // split keys = coalesce(cluster, doc_id) hashed under the x21 rule
    // x117/x118: winnowing replayed with plain SQL windows — per-position
    // md5 16-grams, per-window (h, pos) argmin via the lexicographic min
    // of h || lpad(pos) (md5 hex is fixed-width), distinct anchors,
    // cross-doc census, gaps-and-islands merge at gap w+k-1 = 23
    "x117_substring_spans" ->
      s"""WITH $winnowSpanCtes
         SELECT doc_id, span_start, span_end, span_len, n_anchors
         FROM spans""",
    "x118_substring_impact" ->
      s"""WITH $winnowSpanCtes,
         per AS (SELECT doc_id, CAST(SUM(span_len) AS BIGINT) AS rep_chars
           FROM spans GROUP BY doc_id)
         SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(p.rep_chars) AS BIGINT) AS docs_flagged,
           CAST(COALESCE(SUM(p.rep_chars), 0) AS BIGINT) AS repeated_chars,
           CAST(SUM(length(d.text)) AS BIGINT) AS total_chars,
           (CAST(COALESCE(SUM(p.rep_chars), 0) AS BIGINT) * 1000000)
             // CAST(SUM(length(d.text)) AS BIGINT) AS repeat_ppm
         FROM documents d LEFT JOIN per p USING (doc_id)
         WHERE d.doc_id IS NOT NULL AND d.text IS NOT NULL
         GROUP BY d.source""",
    // x121: PQ codes via per-(vector, subspace) argmin over the codebook
    // (ties → lowest centroid id), ADC distance = ordered fold of the m
    // per-subspace lookups; sub-distance = inner product of the double
    // difference with itself (the x05-pinned formulation)
    "x121_pq_adc_ann" ->
      s"""WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         cent AS (SELECT vec_id AS cid, v AS cv FROM ev WHERE vec_id < 16),
         sub AS (SELECT e.vec_id, s.s, c.cid,
             list_inner_product(
               list_transform(range(8), i -> e.v[s.s*8 + i + 1] - c.cv[s.s*8 + i + 1]),
               list_transform(range(8), i -> e.v[s.s*8 + i + 1] - c.cv[s.s*8 + i + 1])) AS d
           FROM ev e, range(0, 8) s(s), cent c),
         codes AS (SELECT vec_id, s, cid AS code FROM (
             SELECT vec_id, s, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id, s
                 ORDER BY d ASC, cid ASC) AS rn
             FROM sub)
           WHERE rn = 1),
         lut AS (SELECT vec_id AS qid, s, cid AS code, d FROM sub
           WHERE vec_id < 8),
         adc AS (SELECT l.qid, c.vec_id AS neighbor_id,
             list_reduce(list(l.d ORDER BY l.s), (a, b) -> a + b) AS dist
           FROM codes c JOIN lut l ON l.s = c.s AND l.code = c.code
           WHERE c.vec_id <> l.qid
           GROUP BY l.qid, c.vec_id)
         SELECT qid AS query_id, rank, neighbor_id,
           round(dist, 4) AS adc_dist
         FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
             ORDER BY dist ASC, neighbor_id ASC) AS rank FROM adc)
         WHERE rank <= 5""",
    // x122: x15's cell CTEs (cosine assignment, 2 probes) restrict the
    // candidate pairs; x121's code/LUT CTEs score them with the ordered
    // ADC fold
    "x122_ivf_pq_ann" ->
      s"""WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         cent AS (SELECT vec_id AS cid, v AS cv FROM ev WHERE vec_id < 16),
         assign AS (SELECT e.vec_id, c.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.cid) AS rn
           FROM ev e, cent c),
         cells AS (SELECT vec_id, cid AS cell FROM assign WHERE rn = 1),
         qcells AS (SELECT vec_id AS qid, cid AS cell FROM assign
           WHERE vec_id < 8 AND rn <= 2),
         sub AS (SELECT e.vec_id, s.s, c.cid,
             list_inner_product(
               list_transform(range(8), i -> e.v[s.s*8 + i + 1] - c.cv[s.s*8 + i + 1]),
               list_transform(range(8), i -> e.v[s.s*8 + i + 1] - c.cv[s.s*8 + i + 1])) AS d
           FROM ev e, range(0, 8) s(s), cent c),
         codes AS (SELECT vec_id, s, cid AS code FROM (
             SELECT vec_id, s, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id, s
                 ORDER BY d ASC, cid ASC) AS rn
             FROM sub)
           WHERE rn = 1),
         lut AS (SELECT vec_id AS qid, s, cid AS code, d FROM sub
           WHERE vec_id < 8),
         cand AS (SELECT qc.qid, ce.vec_id AS neighbor_id
           FROM qcells qc JOIN cells ce
           ON ce.cell = qc.cell AND ce.vec_id <> qc.qid),
         adc AS (SELECT ca.qid, ca.neighbor_id,
             list_reduce(list(l.d ORDER BY l.s), (a, b) -> a + b) AS dist
           FROM cand ca
           JOIN codes c ON c.vec_id = ca.neighbor_id
           JOIN lut l ON l.qid = ca.qid AND l.s = c.s AND l.code = c.code
           GROUP BY ca.qid, ca.neighbor_id)
         SELECT qid AS query_id, rank, neighbor_id,
           round(dist, 4) AS adc_dist
         FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
             ORDER BY dist ASC, neighbor_id ASC) AS rank FROM adc)
         WHERE rank <= 5""",
    // x123: x122's cell CTEs plus residual encoding — corpus and query
    // residuals against the assigned/probed cell, fine book = residuals
    // of vectors 16-31, LUT keyed by (query, probed cell)
    "x123_ivf_pq_residual_ann" ->
      s"""WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         cent AS (SELECT vec_id AS cid, v AS cv FROM ev WHERE vec_id < 16),
         assign AS (SELECT e.vec_id, c.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.cid) AS rn
           FROM ev e, cent c),
         cells AS (SELECT vec_id, cid AS cell FROM assign WHERE rn = 1),
         resid AS (SELECT e.vec_id, ce.cell,
             list_transform(range(64), i -> e.v[i + 1] - c.cv[i + 1]) AS rv
           FROM ev e JOIN cells ce USING (vec_id) JOIN cent c ON c.cid = ce.cell),
         fine AS (SELECT vec_id AS fcid, rv AS fv FROM resid
           WHERE vec_id >= 16 AND vec_id < 32),
         rsub AS (SELECT r.vec_id, s.s, f.fcid,
             list_inner_product(
               list_transform(range(8), i -> r.rv[s.s*8 + i + 1] - f.fv[s.s*8 + i + 1]),
               list_transform(range(8), i -> r.rv[s.s*8 + i + 1] - f.fv[s.s*8 + i + 1])) AS d
           FROM resid r, range(0, 8) s(s), fine f),
         codes AS (SELECT vec_id, s, fcid AS code FROM (
             SELECT vec_id, s, fcid,
               ROW_NUMBER() OVER (PARTITION BY vec_id, s
                 ORDER BY d ASC, fcid ASC) AS rn
             FROM rsub)
           WHERE rn = 1),
         qcells AS (SELECT vec_id AS qid, cid AS qcell FROM assign
           WHERE vec_id < 8 AND rn <= 2),
         qres AS (SELECT qc.qid, qc.qcell,
             list_transform(range(64), i -> e.v[i + 1] - c.cv[i + 1]) AS rv
           FROM qcells qc JOIN ev e ON e.vec_id = qc.qid
           JOIN cent c ON c.cid = qc.qcell),
         lut AS (SELECT q.qid, q.qcell, s.s, f.fcid AS code,
             list_inner_product(
               list_transform(range(8), i -> q.rv[s.s*8 + i + 1] - f.fv[s.s*8 + i + 1]),
               list_transform(range(8), i -> q.rv[s.s*8 + i + 1] - f.fv[s.s*8 + i + 1])) AS d
           FROM qres q, range(0, 8) s(s), fine f),
         cand AS (SELECT qc.qid, qc.qcell, ce.vec_id AS neighbor_id
           FROM qcells qc JOIN cells ce
           ON ce.cell = qc.qcell AND ce.vec_id <> qc.qid),
         adc AS (SELECT ca.qid, ca.neighbor_id,
             list_reduce(list(l.d ORDER BY l.s), (a, b) -> a + b) AS dist
           FROM cand ca
           JOIN codes c ON c.vec_id = ca.neighbor_id
           JOIN lut l ON l.qid = ca.qid AND l.qcell = ca.qcell
             AND l.s = c.s AND l.code = c.code
           GROUP BY ca.qid, ca.neighbor_id)
         SELECT qid AS query_id, rank, neighbor_id,
           round(dist, 4) AS adc_dist
         FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
             ORDER BY dist ASC, neighbor_id ASC) AS rank FROM adc)
         WHERE rank <= 5""",
    // x124: x117's span CTEs, then the segment walk — DuckDB lists are
    // 1-based where the engine's arrays are 0-based; same arithmetic
    "x124_span_scrub" ->
      s"""WITH $winnowSpanCtes,
         sp AS (SELECT doc_id,
             list({'s': span_start, 'e': span_end} ORDER BY span_start) AS sp,
             CAST(SUM(span_len) AS BIGINT) AS removed_chars,
             CAST(COUNT(*) AS BIGINT) AS n_spans
           FROM spans GROUP BY doc_id)
         SELECT d.doc_id,
           CASE WHEN sp.sp IS NULL THEN d.text ELSE
             array_to_string(list_transform(range(0, len(sp.sp) + 1),
               i -> substr(d.text,
                 CAST(CASE WHEN i = 0 THEN 1 ELSE sp.sp[i].e + 1 END AS INT),
                 CAST((CASE WHEN i = len(sp.sp) THEN length(d.text) + 1
                       ELSE sp.sp[i + 1].s END)
                   - (CASE WHEN i = 0 THEN 0 ELSE sp.sp[i].e END) - 1 AS INT))), '')
           END AS cleaned,
           COALESCE(sp.removed_chars, 0) AS removed_chars,
           COALESCE(sp.n_spans, 0) AS n_spans
         FROM documents d LEFT JOIN sp USING (doc_id)
         WHERE d.doc_id IS NOT NULL AND d.text IS NOT NULL""",
    // x125/x126 share the BM25 CTE chain (k1=1.2 b=0.75, micro-floored
    // per-term contributions — every literal cast to DOUBLE, x13's
    // decimal-literal lesson)
    "x125_bm25_topk" ->
      s"""WITH $bm25Ctes
         SELECT qid AS query_id, rank, doc_id, score_micro
         FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
             ORDER BY score_micro DESC, doc_id) AS rank FROM scored)
         WHERE rank <= 5""",
    "x126_rrf_fusion" ->
      s"""WITH $bm25Ctes,
         bmr AS (SELECT qid, doc_id, rank FROM (SELECT *,
             ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY score_micro DESC, doc_id) AS rank FROM scored)
           WHERE rank <= 20),
         ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         qv AS (SELECT vec_id AS qid, v AS qvec FROM ev WHERE vec_id < 8),
         cosr AS (SELECT qid, vec_id AS doc_id, rank FROM (SELECT q.qid, e.vec_id,
             ROW_NUMBER() OVER (PARTITION BY q.qid
               ORDER BY ${cosSql("q.qvec", "e.v")} DESC, e.vec_id) AS rank
           FROM qv q, ev e WHERE e.vec_id >= 20 AND e.vec_id <> q.qid)
           WHERE rank <= 20),
         pa AS (SELECT qid, doc_id, 1000000000 // (60 + rank) AS p FROM bmr),
         pb AS (SELECT qid, doc_id, 1000000000 // (60 + rank) AS p FROM cosr),
         fused AS (SELECT COALESCE(pa.qid, pb.qid) AS query_id,
             COALESCE(pa.doc_id, pb.doc_id) AS doc_id,
             CAST(COALESCE(pa.p, 0) + COALESCE(pb.p, 0) AS BIGINT) AS rrf_score
           FROM pa FULL OUTER JOIN pb
           ON pa.qid = pb.qid AND pa.doc_id = pb.doc_id)
         SELECT query_id, rank, doc_id, rrf_score
         FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY rrf_score DESC, doc_id) AS rank FROM fused)
         WHERE rank <= 5""",
    // x128: x27's cluster CTEs (incl. its `sh`/`sizes`), then true
    // pairwise Jaccard over size-capped in-cluster pairs; threshold
    // literal cast to DOUBLE (decimal-compare hazard)
    "x128_chaining_audit" ->
      s"""WITH RECURSIVE $lshClusterCtes,
         csz AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS size
           FROM labels GROUP BY cluster HAVING COUNT(*) <= 32),
         mem AS (SELECT l.cluster, c.size, l.id FROM labels l
           JOIN csz c USING (cluster)),
         prs AS (SELECT a.cluster, a.size, a.id AS id_a, b.id AS id_b
           FROM mem a JOIN mem b ON a.cluster = b.cluster AND a.id < b.id),
         cm2 AS (SELECT p.id_a, p.id_b, CAST(COUNT(*) AS BIGINT) AS common
           FROM prs p
           JOIN sh a ON a.doc_id = p.id_a
           JOIN sh b ON b.doc_id = p.id_b AND b.g = a.g
           GROUP BY p.id_a, p.id_b),
         jac AS (SELECT c.id_a, c.id_b,
             CAST(common AS DOUBLE) / (sa.n + sb.n - common) AS j
           FROM cm2 c JOIN sizes sa ON c.id_a = sa.doc_id
           JOIN sizes sb ON c.id_b = sb.doc_id),
         agg AS (SELECT p.cluster, p.size,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(CASE WHEN COALESCE(j.j, CAST(0.0 AS DOUBLE))
                 >= CAST(0.2 AS DOUBLE) THEN 1 ELSE 0 END) AS BIGINT) AS n_direct
           FROM prs p LEFT JOIN jac j
           ON p.id_a = j.id_a AND p.id_b = j.id_b
           GROUP BY p.cluster, p.size)
         SELECT cluster, size, n_pairs, n_direct,
           CAST(n_pairs - n_direct AS BIGINT) AS n_chained,
           ((n_pairs - n_direct) * CAST(1000000 AS BIGINT)) // n_pairs
             AS chained_ppm
         FROM agg""",
    // x129/x130: the shared kmeansCtes replay training; x130 adds the
    // within-cell pair scan (x07's exact-cosine form) on the learned cells
    "x129_kmeans_train" ->
      s"""WITH $kmeansCtes
         SELECT vec_id, cl AS cluster, dist AS dist2 FROM a3""",
    "x130_semdedup_kmeans" ->
      s"""WITH $kmeansCtes,
         ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         lab AS (SELECT a.vec_id, a.cl AS cell, e.v
           FROM a3 a JOIN ev e USING (vec_id)),
         dups AS (SELECT DISTINCT b.vec_id FROM lab a JOIN lab b
             ON a.cell = b.cell AND a.vec_id < b.vec_id
           WHERE ${cosSql("a.v", "b.v")} >= CAST(0.4 AS DOUBLE))
         SELECT l.vec_id, l.cell, (d.vec_id IS NOT NULL) AS is_dup
         FROM lab l LEFT JOIN dups d USING (vec_id)""",
    // x133: per-char counts over the shared normalization, micro-floored
    // p·log2(1/p) terms, integer sums; empty-normalized docs report 0
    "x133_char_entropy" ->
      s"""WITH d AS (SELECT doc_id, text FROM documents
           WHERE doc_id IS NOT NULL AND text IS NOT NULL),
         nm AS (SELECT doc_id, $normSql AS t FROM d),
         idx AS (SELECT unnest(range(1, (SELECT MAX(len(t)) FROM nm) + 1))
           AS ord),
         ch AS (SELECT doc_id, t[ord] AS ch FROM nm CROSS JOIN idx
           WHERE ord <= len(t)),
         cc AS (SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c
           FROM ch GROUP BY doc_id, ch),
         tt AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS n_distinct
           FROM cc GROUP BY doc_id),
         tm AS (SELECT cc.doc_id,
             CAST(floor((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
               * (ln(CAST(n AS DOUBLE) / CAST(c AS DOUBLE))
                  / ln(CAST(2.0 AS DOUBLE)))
               * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS term,
             tt.n, tt.n_distinct
           FROM cc JOIN tt USING (doc_id)),
         agg AS (SELECT doc_id, MAX(n) AS n_chars_norm,
             MAX(n_distinct) AS n_distinct,
             CAST(SUM(term) AS BIGINT) AS entropy_micro
           FROM tm GROUP BY doc_id)
         SELECT d.doc_id, COALESCE(a.n_chars_norm, 0) AS n_chars_norm,
           COALESCE(a.n_distinct, 0) AS n_distinct,
           COALESCE(a.entropy_micro, 0) AS entropy_micro,
           CAST(COALESCE(a.entropy_micro, 0) AS DOUBLE)
             / CAST(1000000.0 AS DOUBLE) AS entropy_bits
         FROM d LEFT JOIN agg a USING (doc_id)""",
    // x145: x27's cluster labels, deletion roll-up with the surviving-
    // minimum and the touched-clusters filter
    "x145_deletion_impact" ->
      s"""WITH RECURSIVE $lshClusterCtes
         SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(CASE WHEN id < 20 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_deleted,
           MIN(CASE WHEN id >= 20 THEN id END) AS new_survivor
         FROM labels GROUP BY cluster
         HAVING SUM(CASE WHEN id < 20 THEN 1 ELSE 0 END) > 0""",
    // x141: x27's candidate/verify CTEs up to `ver`, then the source
    // roll-up with the least/greatest pair normalization
    "x141_source_copy_matrix" ->
      s"""WITH RECURSIVE $lshClusterCtes
         SELECT least(da.source, db.source) AS source_x,
           greatest(da.source, db.source) AS source_y,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           (least(da.source, db.source) <> greatest(da.source, db.source))
             AS cross_source
         FROM ver JOIN documents da ON da.doc_id = ver.id_a
         JOIN documents db ON db.doc_id = ver.id_b
         GROUP BY 1, 2""",
    // x138: x08's stopword votes per 50-token chunk, min-struct dominant
    // with alphabetical ties, integer minority ppm
    "x138_lang_mix" -> {
      def inList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString(", ")
      val sw = TextOps.stopwords
      s"""WITH d AS (SELECT doc_id, text FROM documents
           WHERE doc_id IS NOT NULL AND text IS NOT NULL),
         tk0 AS (SELECT doc_id, string_split($normSql, ' ') AS t FROM d),
         toks AS (SELECT doc_id, t[i] AS tk, (i - 1) // 50 AS chunk
           FROM tk0, unnest(range(1, len(t) + 1)) r(i) WHERE t[i] <> ''),
         sc AS (SELECT doc_id, chunk,
             COUNT(CASE WHEN tk IN (${inList(sw("de"))}) THEN 1 END) AS s_de,
             COUNT(CASE WHEN tk IN (${inList(sw("en"))}) THEN 1 END) AS s_en,
             COUNT(CASE WHEN tk IN (${inList(sw("es"))}) THEN 1 END) AS s_es,
             COUNT(CASE WHEN tk IN (${inList(sw("fr"))}) THEN 1 END) AS s_fr
           FROM toks GROUP BY doc_id, chunk),
         cl AS (SELECT doc_id, chunk,
             CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
                  WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
                  WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
                  WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
                  ELSE 'fr' END AS clang
           FROM sc),
         cnt AS (SELECT doc_id, clang, CAST(COUNT(*) AS BIGINT) AS nc
           FROM cl GROUP BY doc_id, clang),
         tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks
           FROM cl GROUP BY doc_id),
         nu AS (SELECT * FROM cnt WHERE clang <> 'und'),
         dm AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_langs,
             CAST(SUM(nc) AS BIGINT) AS n_lang_chunks
           FROM nu GROUP BY doc_id),
         pick AS (SELECT doc_id, clang AS dominant_lang, nc AS n_dom FROM
           (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
              ORDER BY nc DESC, clang) AS rn FROM nu) WHERE rn = 1)
         SELECT d.doc_id,
           COALESCE(t.n_chunks, 0) AS n_chunks,
           COALESCE(m.n_langs, 0) AS n_langs,
           COALESCE(p.dominant_lang, 'und') AS dominant_lang,
           CASE WHEN COALESCE(m.n_lang_chunks, 0) = 0
                THEN CAST(0 AS BIGINT)
                ELSE ((m.n_lang_chunks - p.n_dom)
                  * CAST(1000000 AS BIGINT)) // m.n_lang_chunks END
             AS minority_ppm,
           (COALESCE(m.n_langs, 0) > 1) AS mixed
         FROM d LEFT JOIN tot t USING (doc_id)
         LEFT JOIN dm m USING (doc_id) LEFT JOIN pick p USING (doc_id)"""
    },
    // x135: distinct trigram-shingle sets (TextOps.shingles k=3 incl. the
    // short-document tail rule), df-asc/shingle canonical order, integer
    // prefix bound ⌈2s/5⌉ via (2s+4)//5, prefix equi-join candidates,
    // exact-Jaccard verify at τ = 2/5
    "x135_prefix_filter_join" ->
      s"""WITH tl AS (SELECT doc_id, string_split($normSql, ' ') AS t
           FROM documents),
         tk AS (SELECT doc_id, unnest(list_distinct(list_transform(
             range(1, greatest(len(t) - 2, 1) + 1),
             i -> CASE WHEN i + 2 <= len(t)
                  THEN t[i] || '_' || t[i+1] || '_' || t[i+2]
                  WHEN i + 1 <= len(t) THEN t[i] || '_' || t[i+1]
                  ELSE t[i] END))) AS g FROM tl),
         dfr AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS df FROM tk
           GROUP BY g),
         rk AS (SELECT tk.doc_id, tk.g,
             ROW_NUMBER() OVER (PARTITION BY tk.doc_id
               ORDER BY dfr.df, tk.g) AS pos,
             COUNT(*) OVER (PARTITION BY tk.doc_id) AS sz
           FROM tk JOIN dfr USING (g)),
         pref AS (SELECT doc_id, g, sz FROM rk
           WHERE pos <= sz - (2 * sz + 4) // 5 + 1),
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM pref a JOIN pref b ON a.g = b.g AND a.doc_id < b.doc_id
           WHERE 2 * greatest(a.sz, b.sz) <= 5 * least(a.sz, b.sz)),
         szs AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM tk
           GROUP BY doc_id),
         cm AS (SELECT c.id_a, c.id_b, CAST(COUNT(*) AS BIGINT) AS common
           FROM cand c JOIN tk a ON a.doc_id = c.id_a
           JOIN tk b ON b.doc_id = c.id_b AND b.g = a.g
           GROUP BY c.id_a, c.id_b)
         SELECT cm.id_a, cm.id_b,
           CAST(common AS DOUBLE) / (sa.n + sb.n - common) AS jaccard
         FROM cm JOIN szs sa ON cm.id_a = sa.doc_id
         JOIN szs sb ON cm.id_b = sb.doc_id
         WHERE CAST(common AS DOUBLE) / (sa.n + sb.n - common)
           >= CAST(2 AS DOUBLE) / CAST(5 AS DOUBLE)""",
    // x134: the shared kmeansCtes train the coarse book; c2's micro grid
    // casts to DOUBLE (exact) and drives x15's assignment/probe/rank SQL
    "x134_kmeans_ivf" ->
      s"""WITH $kmeansCtes,
         ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         cent AS (SELECT cid, list_transform(cv, x -> CAST(x AS DOUBLE)) AS cv
           FROM c2),
         assign AS (SELECT e.vec_id, c.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.cid) AS rn
           FROM ev e, cent c),
         cells AS (SELECT vec_id, cid AS cell FROM assign WHERE rn = 1),
         qcells AS (SELECT vec_id AS qid, cid AS cell FROM assign
           WHERE vec_id < 8 AND rn <= 2),
         sc AS (SELECT qc.qid AS query_id, ce.vec_id AS neighbor_id,
             ${cosSql("q.v", "c.v")} AS cos
           FROM qcells qc
           JOIN cells ce ON ce.cell = qc.cell AND ce.vec_id <> qc.qid
           JOIN ev q ON q.vec_id = qc.qid
           JOIN ev c ON c.vec_id = ce.vec_id)
         SELECT query_id, rank, neighbor_id, round(cos, 4) AS cos_sim FROM
           (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cos DESC, neighbor_id) AS rank FROM sc)
         WHERE rank <= 5""",
    // x132: milli-grid quantize → floor-mean center → integer scatter →
    // the same two power steps (w1 = S·1, floor(w1/2^10), w2 = S·w1′) →
    // exact HUGEINT projection, emitted as the same lossless 2^62 split
    // the engine uses (p = pc1_hi·2^62 + pc1_lo, lo ∈ [0, 2^62) via the
    // ((p % L) + L) % L non-negative-mod identity) — BIGINT halves are
    // hash-canonical where a 38-digit decimal was not (r7 driver red)
    "x132_pca_power" ->
      s"""WITH qv AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
             x -> CAST(floor(x * 1000) AS BIGINT)) AS q FROM embeddings),
         dims AS (SELECT unnest(range(1, (SELECT MAX(len(q)) FROM qv) + 1))
           AS ord),
         md AS (SELECT i.ord,
             CAST(floor(CAST(SUM(q[i.ord]) AS DOUBLE) / COUNT(*)) AS BIGINT)
               AS mu
           FROM qv CROSS JOIN dims i GROUP BY i.ord),
         cd AS (SELECT v.vec_id, i.ord, v.q[i.ord] - m.mu AS c
           FROM qv v CROSS JOIN dims i JOIN md m ON m.ord = i.ord),
         sm AS (SELECT a.ord AS i, b.ord AS j, CAST(SUM(a.c * b.c) AS BIGINT)
             AS s
           FROM cd a JOIN cd b USING (vec_id) GROUP BY a.ord, b.ord),
         w1 AS (SELECT i, CAST(SUM(s) AS BIGINT) AS w FROM sm GROUP BY i),
         w1n AS (SELECT i, CAST(floor(CAST(w AS DOUBLE) / 1024.0) AS BIGINT)
             AS w FROM w1),
         w2 AS (SELECT sm.i, SUM(CAST(sm.s AS HUGEINT) * w1n.w) AS w
           FROM sm JOIN w1n ON sm.j = w1n.i GROUP BY sm.i),
         proj AS (SELECT c.vec_id,
             CAST(SUM(CAST(c.c AS HUGEINT) * w2.w) AS HUGEINT) AS p
           FROM cd c JOIN w2 ON w2.i = c.ord GROUP BY c.vec_id),
         halves AS (SELECT vec_id, p,
             ((p % 4611686018427387904) + 4611686018427387904)
               % 4611686018427387904 AS lo
           FROM proj)
         SELECT vec_id,
           CAST((p - lo) // 4611686018427387904 AS BIGINT) AS pc1_hi,
           CAST(lo AS BIGINT) AS pc1_lo
         FROM halves""",
    "x119_contamination_spans" ->
      s"""WITH $winnowAnchorCtes,
         ref AS (SELECT DISTINCT h FROM anch WHERE doc_id < 20),
         fl AS (SELECT a.doc_id, a.pos FROM anch a JOIN ref USING (h)
           WHERE a.doc_id >= 20),
         $winnowIslandCtes
         SELECT doc_id, span_start, span_end, span_len, n_anchors
         FROM spans""",
    "x116_cluster_split" ->
      s"""WITH RECURSIVE $lshClusterCtes,
         k AS (SELECT d.doc_id, COALESCE(l.cluster, d.doc_id) AS skey
           FROM documents d LEFT JOIN labels l ON l.id = d.doc_id),
         lab AS (SELECT c.id_a, c.id_b,
             CASE WHEN substr(md5('doc_' || ka.skey), 1, 2) < '1a'
               THEN 'val' ELSE 'train' END AS sa0,
             CASE WHEN substr(md5('doc_' || kb.skey), 1, 2) < '1a'
               THEN 'val' ELSE 'train' END AS sb0
           FROM ver c
           JOIN k ka ON c.id_a = ka.doc_id
           JOIN k kb ON c.id_b = kb.doc_id)
         SELECT least(sa0, sb0) AS split_a, greatest(sa0, sb0) AS split_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT CASE WHEN sa0 <> sb0 THEN
             CASE WHEN sa0 = 'val' THEN id_a ELSE id_b END END) AS BIGINT)
             AS n_leaked_val_docs
         FROM lab GROUP BY least(sa0, sb0), greatest(sa0, sb0)""",
    // x115: the x27 chain through the exact-Jaccard verify (`ver` — the
    // recursive tail of the shared CTE constant goes unreferenced and
    // unevaluated), labels under the x21 split rule; matrix rows
    // normalized by least/greatest so orientation can't split a cell
    "x115_split_leakage" ->
      s"""WITH RECURSIVE $lshClusterCtes,
         lab AS (SELECT id_a, id_b,
             CASE WHEN substr(md5('doc_' || id_a), 1, 2) < '1a'
               THEN 'val' ELSE 'train' END AS sa0,
             CASE WHEN substr(md5('doc_' || id_b), 1, 2) < '1a'
               THEN 'val' ELSE 'train' END AS sb0
           FROM ver)
         SELECT least(sa0, sb0) AS split_a, greatest(sa0, sb0) AS split_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT CASE WHEN sa0 <> sb0 THEN
             CASE WHEN sa0 = 'val' THEN id_a ELSE id_b END END) AS BIGINT)
             AS n_leaked_val_docs
         FROM lab GROUP BY least(sa0, sb0), greatest(sa0, sb0)""",
    // x113: truth = probe-restricted exact Jaccard (integer surfaces:
    // J >= 0.05 as common*20 >= union, decile as (common*10) // union);
    // probes = 3 md5-ranked docs per source (RecallEval.probeSet);
    // candidates replay x03's md5-MinHash band chain at est >= 0.25
    "x113_lsh_recall" ->
      s"""WITH sh AS ${shingleSql()},
         sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         probes AS (SELECT doc_id FROM (
             SELECT doc_id, row_number() OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
             FROM documents WHERE doc_id IS NOT NULL) r WHERE rn <= 3),
         cm0 AS (SELECT a.doc_id AS pa, b.doc_id AS pb, COUNT(*) AS common
           FROM sh a JOIN sh b
           ON a.g = b.g AND b.doc_id <> a.doc_id
           WHERE a.doc_id IN (SELECT doc_id FROM probes)
           GROUP BY a.doc_id, b.doc_id),
         cm AS (SELECT DISTINCT least(pa, pb) AS id_a,
             greatest(pa, pb) AS id_b, common
           FROM cm0),
         truth AS (SELECT id_a, id_b, common,
             sa.n + sb.n - common AS uni
           FROM cm JOIN sizes sa ON id_a = sa.doc_id
           JOIN sizes sb ON id_b = sb.doc_id
           WHERE common * 20 >= sa.n + sb.n - common),
         comps AS (SELECT doc_id, i, MIN(md5(CAST(i AS VARCHAR) || ':' || g)) AS sig
           FROM sh, range(0, 12) r(i) GROUP BY doc_id, i),
         buckets AS (SELECT doc_id, i // 3 AS band,
             md5(string_agg(sig, '|' ORDER BY i)) AS h
           FROM comps GROUP BY doc_id, i // 3),
         cand0 AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
           FROM buckets l JOIN buckets r
           ON l.band = r.band AND l.h = r.h AND l.doc_id < r.doc_id),
         est AS (SELECT id_a, id_b,
             CAST(SUM(CASE WHEN ca.sig = cb.sig THEN 1 ELSE 0 END) AS DOUBLE) / 12
               AS ej
           FROM cand0
           JOIN comps ca ON ca.doc_id = id_a
           JOIN comps cb ON cb.doc_id = id_b AND ca.i = cb.i
           GROUP BY id_a, id_b),
         cands AS (SELECT id_a, id_b FROM est WHERE ej >= 0.25)
         SELECT (common * 10) // uni AS j_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_truth,
           CAST(COUNT(c.id_a) AS BIGINT) AS n_found,
           (CAST(COUNT(c.id_a) AS BIGINT) * 1000000) // CAST(COUNT(*) AS BIGINT)
             AS recall_ppm
         FROM truth t LEFT JOIN cands c USING (id_a, id_b)
         GROUP BY (common * 10) // uni""",
    "x04_dedup_simhash" ->
      s"""WITH toks AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS t
           FROM documents),
         bitsv AS (SELECT doc_id, i AS bit,
             SUM(CASE WHEN (CAST(('0x' || substr(md5(t), CAST(i // 4 AS INT) + 1, 1)) AS INT)
                            & (1 << CAST(i % 4 AS INT))) > 0 THEN 1 ELSE -1 END) AS vote
           FROM toks, range(0, 16) r(i) GROUP BY doc_id, i),
         sh AS (SELECT doc_id,
             CAST(SUM(CASE WHEN vote > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS h
           FROM bitsv GROUP BY doc_id)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.h, b.h)) AS INT) AS hamming
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         WHERE CAST(bit_count(xor(a.h, b.h)) AS INT) <= 2""",
    "x05_ann_bruteforce" ->
      s"""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 8),
         c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         sc AS (SELECT q.qid AS query_id, c.vec_id AS neighbor_id,
             ${cosSql("q.qv", "c.v")} AS cos
           FROM q, c WHERE c.vec_id <> q.qid)
         SELECT query_id, rank, neighbor_id, round(cos, 4) AS cos_sim FROM
           (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cos DESC, neighbor_id) AS rank FROM sc)
         WHERE rank <= 5""",
    "x06_ann_bucketed" ->
      s"""WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         a AS (SELECT vec_id AS aid, v AS av FROM ev WHERE vec_id < 8),
         coded AS (SELECT e.vec_id,
             string_agg(CASE WHEN list_inner_product(e.v, a.av) > 0
               THEN '1' ELSE '0' END, '' ORDER BY a.aid) AS bucket
           FROM ev e, a GROUP BY e.vec_id),
         sc AS (SELECT cq.vec_id AS query_id, cc.vec_id AS neighbor_id,
             ${cosSql("q.v", "c.v")} AS cos
           FROM coded cq
           JOIN coded cc ON cq.bucket = cc.bucket AND cc.vec_id <> cq.vec_id
           JOIN ev q ON q.vec_id = cq.vec_id
           JOIN ev c ON c.vec_id = cc.vec_id
           WHERE cq.vec_id < 8)
         SELECT query_id, rank, neighbor_id, round(cos, 4) AS cos_sim FROM
           (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cos DESC, neighbor_id) AS rank FROM sc)
         WHERE rank <= 5""",
    "x15_ann_ivf" ->
      s"""WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         cent AS (SELECT vec_id AS cid, v AS cv FROM ev WHERE vec_id < 16),
         assign AS (SELECT e.vec_id, c.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.cid) AS rn
           FROM ev e, cent c),
         cells AS (SELECT vec_id, cid AS cell FROM assign WHERE rn = 1),
         qcells AS (SELECT vec_id AS qid, cid AS cell FROM assign
           WHERE vec_id < 8 AND rn <= 2),
         sc AS (SELECT qc.qid AS query_id, ce.vec_id AS neighbor_id,
             ${cosSql("q.v", "c.v")} AS cos
           FROM qcells qc
           JOIN cells ce ON ce.cell = qc.cell AND ce.vec_id <> qc.qid
           JOIN ev q ON q.vec_id = qc.qid
           JOIN ev c ON c.vec_id = ce.vec_id)
         SELECT query_id, rank, neighbor_id, round(cos, 4) AS cos_sim FROM
           (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cos DESC, neighbor_id) AS rank FROM sc)
         WHERE rank <= 5""",
    "x07_embed_neardup" ->
      s"""WITH ${bandedPairsSql(0.4)}
         SELECT id_a, id_b, round(cos, 4) AS cos_sim FROM pairs""",
    "x08_lang_id" -> {
      val toksSql = s"(SELECT doc_id, unnest(string_split($normSql, ' ')) AS tk FROM documents)"
      def inList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString(", ")
      val sw = TextOps.stopwords
      s"""WITH toks AS $toksSql,
         sc AS (SELECT d.doc_id,
             COUNT(CASE WHEN tk IN (${inList(sw("de"))}) THEN 1 END) AS s_de,
             COUNT(CASE WHEN tk IN (${inList(sw("en"))}) THEN 1 END) AS s_en,
             COUNT(CASE WHEN tk IN (${inList(sw("es"))}) THEN 1 END) AS s_es,
             COUNT(CASE WHEN tk IN (${inList(sw("fr"))}) THEN 1 END) AS s_fr
           FROM documents d LEFT JOIN toks ON d.doc_id = toks.doc_id
           GROUP BY d.doc_id)
         SELECT doc_id,
           CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
                WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
                WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
                WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
                ELSE 'fr' END AS lang_pred
         FROM sc"""
    },
    "x09_quality_score" -> {
      val punct = s"CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / length(text) END"
      val digit = s"CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text) END"
      val allSw = TextOps.stopwords.values.flatten.toSeq.distinct.sorted
        .map(w => s"'$w'").mkString(", ")
      s"""WITH toks AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS tk
           FROM documents),
         sw AS (SELECT doc_id, COUNT(*) AS n,
             COUNT(CASE WHEN tk IN ($allSw) THEN 1 END) AS nsw
           FROM toks GROUP BY doc_id)
         SELECT d.doc_id, $punct AS punct_ratio, $digit AS digit_ratio,
         least(CAST(length(text) AS DOUBLE) / 400.0, 1.0) * 0.4
           + (1.0 - least(($punct) * 5.0, 1.0)) * 0.3
           + (1.0 - least(($digit) * 5.0, 1.0)) * 0.3 AS quality,
         CASE WHEN sw.n = 0 THEN 0.0
              ELSE CAST(sw.nsw AS DOUBLE) / sw.n END AS stopword_ratio
         FROM documents d LEFT JOIN sw ON d.doc_id = sw.doc_id"""
    },
    "x10_token_stats" ->
      s"""WITH toks AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS tk
           FROM documents),
         sub AS (SELECT doc_id,
             CAST(SUM(greatest(CAST(ceil(length(tk) / 4.0) AS BIGINT), 1)) AS BIGINT)
               AS n_subwords
           FROM toks WHERE tk <> '' GROUP BY doc_id)
         SELECT d.doc_id,
           CAST(len(string_split($normSql, ' ')) AS BIGINT) AS n_tokens,
           COALESCE(sub.n_subwords, 0) AS n_subwords,
           CAST(length($normSql) AS BIGINT) AS n_chars_norm
         FROM documents d LEFT JOIN sub ON d.doc_id = sub.doc_id""",
    "x11_fingerprint" ->
      s"""SELECT doc_id, md5($normSql) AS fp, substr(md5($normSql), 1, 8) AS fp_prefix
         FROM documents""",
    "x19_curation_pipeline" -> {
      def inList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString(", ")
      val sw = TextOps.stopwords
      val punct = s"CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / length(text) END"
      val digit = s"CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text) END"
      s"""WITH toks AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS tk
           FROM documents),
         sc AS (SELECT d.doc_id,
             COUNT(CASE WHEN tk IN (${inList(sw("de"))}) THEN 1 END) AS s_de,
             COUNT(CASE WHEN tk IN (${inList(sw("en"))}) THEN 1 END) AS s_en,
             COUNT(CASE WHEN tk IN (${inList(sw("es"))}) THEN 1 END) AS s_es,
             COUNT(CASE WHEN tk IN (${inList(sw("fr"))}) THEN 1 END) AS s_fr
           FROM documents d LEFT JOIN toks ON d.doc_id = toks.doc_id
           GROUP BY d.doc_id),
         lang AS (SELECT doc_id,
           CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
                WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
                WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
                WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
                ELSE 'fr' END AS lang_pred FROM sc),
         q AS (SELECT doc_id,
             least(CAST(length(text) AS DOUBLE) / 400.0, 1.0) * 0.4
               + (1.0 - least(($punct) * 5.0, 1.0)) * 0.3
               + (1.0 - least(($digit) * 5.0, 1.0)) * 0.3 AS quality,
             CAST(len(string_split($normSql, ' ')) AS BIGINT) AS n_tokens,
             md5($normSql) AS fp
           FROM documents),
         rep AS (SELECT *, doc_id = MIN(doc_id) OVER (PARTITION BY fp) AS keep FROM q)
         SELECT rep.doc_id, quality, lang_pred, e.label, n_tokens
         FROM rep
         JOIN lang ON rep.doc_id = lang.doc_id
         JOIN embeddings e ON rep.doc_id = e.vec_id
         WHERE keep AND lang_pred = 'en' AND quality >= 0.9"""
    },
    "x25_dedup_clusters" ->
      s"""WITH RECURSIVE ${bandedPairsSql(0.4)},
         sym AS (SELECT id_a AS a, id_b AS b FROM pairs
           UNION ALL SELECT id_b, id_a FROM pairs),
         reach(a, b) AS (
           SELECT a, b FROM sym
           UNION
           SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a WHERE r.a <> s.b)
         SELECT a AS id, least(a, MIN(b)) AS cluster FROM reach GROUP BY a""",
    "x26_pii_scrub" ->
      """SELECT doc_id,
        md5(regexp_replace(regexp_replace(regexp_replace(text,
          'https?://[^\s]+', '<URL>', 'g'),
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          '[0-9]{4,}', '<NUM>', 'g')) AS scrubbed_md5,
        regexp_replace(regexp_replace(regexp_replace(text,
          'https?://[^\s]+', '<URL>', 'g'),
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          '[0-9]{4,}', '<NUM>', 'g') <> text AS changed
        FROM documents""",
    "x23_stratified_sample" ->
      """SELECT source, rn, doc_id FROM
        (SELECT source, doc_id, ROW_NUMBER() OVER (PARTITION BY source
           ORDER BY md5('s_' || doc_id), doc_id) AS rn FROM documents)
        WHERE rn <= 5""",
    "x24_relative_filter" ->
      """SELECT doc_id, source, n_chars, src_median FROM
        (SELECT doc_id, source, n_chars,
           quantile_cont(n_chars, 0.5) OVER (PARTITION BY source) AS src_median
         FROM documents)
        WHERE n_chars > src_median""",
    "x20_kmeans_step" ->
      s"""WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         cent AS (SELECT vec_id AS cid, v AS cv FROM ev WHERE vec_id < 16),
         assign AS (SELECT e.vec_id, c.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.cid) AS rn
           FROM ev e, cent c),
         cells AS (SELECT vec_id, cid AS cell FROM assign WHERE rn = 1),
         dims AS (SELECT ce.cell, r.i AS dim, e.vec_id, e.v[CAST(r.i AS INT) + 1] AS val
           FROM cells ce JOIN ev e ON ce.vec_id = e.vec_id,
           range(0, 64) r(i))
         SELECT cell, CAST(dim AS BIGINT) AS dim,
           list_reduce(list(val ORDER BY vec_id), (a, b) -> a + b) / COUNT(*) AS mean,
           COUNT(*) AS n
         FROM dims GROUP BY cell, dim""",
    "x30_kmeans_scalable" ->
      s"""WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         cent AS (SELECT vec_id AS cid, v AS cv FROM ev WHERE vec_id < 16),
         assign AS (SELECT e.vec_id, c.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.cid) AS rn
           FROM ev e, cent c),
         cells AS (SELECT vec_id, cid AS cell FROM assign WHERE rn = 1),
         dims AS (SELECT ce.cell, r.i AS dim, e.vec_id, e.v[CAST(r.i AS INT) + 1] AS val
           FROM cells ce JOIN ev e ON ce.vec_id = e.vec_id,
           range(0, 64) r(i))
         SELECT cell, CAST(dim AS BIGINT) AS dim,
           CAST(CAST(SUM(CAST(floor(val * 1000000000 + 0.5) AS BIGINT)) AS BIGINT)
             AS DOUBLE) / 1000000000 / COUNT(*) AS mean,
           COUNT(*) AS n
         FROM dims GROUP BY cell, dim""",
    "x31_distinct_approx" ->
      s"""WITH toks AS (SELECT source, unnest(string_split($normSql, ' ')) AS tok
           FROM documents)
         SELECT source, COUNT(DISTINCT tok) AS n_exact, TRUE AS approx_ok
         FROM toks GROUP BY source""",
    "x21_hash_split" ->
      """SELECT doc_id, substr(md5('doc_' || doc_id), 1, 2) AS hash_bucket,
        CASE WHEN substr(md5('doc_' || doc_id), 1, 2) < '1a'
          THEN 'val' ELSE 'train' END AS split
        FROM documents""",
    "x22_token_packing" ->
      s"""WITH toks AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS tk
           FROM documents),
         sub AS (SELECT d.doc_id, COALESCE(CAST(SUM(greatest(
             CAST(ceil(length(tk) / 4.0) AS BIGINT), 1)) AS BIGINT), 0) AS n_subwords
           FROM documents d LEFT JOIN toks ON d.doc_id = toks.doc_id AND tk <> ''
           GROUP BY d.doc_id),
         c AS (SELECT doc_id, n_subwords,
           CAST(SUM(n_subwords) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_subwords FROM sub)
         SELECT doc_id, n_subwords, cum_subwords,
           CAST(floor((cum_subwords - n_subwords) / 4096.0) AS BIGINT) AS bin
         FROM c""",
    "x27_lsh_dedup_pipeline" ->
      s"""WITH RECURSIVE $lshClusterCtes
         SELECT id, cluster FROM labels""",
    "x28_percentiles_approx" ->
      """SELECT source, quantile_disc(n_chars, 0.5) AS p50,
        quantile_disc(n_chars, 0.9) AS p90, quantile_disc(n_chars, 0.99) AS p99,
        COUNT(*) AS n FROM documents GROUP BY source""",
    "x29_relative_filter_approx" ->
      """WITH med AS (SELECT source, quantile_disc(n_chars, 0.5) AS src_median
          FROM documents GROUP BY source)
        SELECT doc_id, source, n_chars, src_median
        FROM documents JOIN med USING (source)
        WHERE n_chars > src_median""",
    "x16_percentiles" ->
      """SELECT source, quantile_cont(n_chars, 0.5) AS p50,
        quantile_cont(n_chars, 0.9) AS p90, quantile_cont(n_chars, 0.99) AS p99,
        COUNT(*) AS n FROM documents GROUP BY source""",
    "x17_top_terms" ->
      s"""WITH toks AS (SELECT source, unnest(string_split($normSql, ' ')) AS tok
           FROM documents),
         tf AS (SELECT source, tok, COUNT(*) AS tf FROM toks GROUP BY source, tok),
         df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok)
         SELECT source, rn, tok, tf, df FROM
           (SELECT tf.source, tf.tok, tf.tf, df.df,
              ROW_NUMBER() OVER (PARTITION BY tf.source
                ORDER BY CAST(tf.tf AS DOUBLE) / df.df DESC, tf.tok) AS rn
            FROM tf JOIN df USING (tok))
         WHERE rn <= 3""",
    "x18_rollup" ->
      """SELECT source, lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM documents GROUP BY ROLLUP(source, lang)""",
    "x12_multimodal_meta" ->
      """SELECT doc_id AS asset_id, 'text' AS media_type,
        CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        CASE WHEN octet_length(encode(text)) = 0 THEN NULL
             ELSE CAST(('0x' || substr(hex(encode(text)), 1, 2)) AS INT)
        END AS magic_byte
        FROM documents""",
    // x13: both decode branches replay from the source bytes — the PNG
    // wrap is deterministic (16-wide RGB rows, zero pad, filter None), so
    // real decoded dims/sums are pure functions of the text; the stub
    // branch stays the byte fold
    "x13_multimodal_decode" ->
      s"""WITH $mixedDecodeSql
         SELECT doc_id AS asset_id, media_type, width, height, n_frames,
           feature_norm
         FROM mdec""",
    // x14: the rolling fold is engine-portable (md5-prefix token hashes,
    // base-31 modular polynomial) — list_reduce replays it exactly
    "x14_rolling_fingerprint" ->
      s"""SELECT doc_id,
         list_reduce([CAST(7 AS BIGINT)] || list_transform(
             string_split($normSql, ' '),
             t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)),
           (a, b) -> (a * 31 + b) % 2147483647) AS rfp
         FROM documents""",
    // x33: word 4-gram shingles (same lead-composed short-doc tail rule as
    // TextOps.shingleRows) → benchmark semi-join → per-doc flag
    "x33_decontaminate" ->
      s"""WITH toks AS (SELECT doc_id, string_split($normSql, ' ') AS tk FROM documents),
         sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
             range(1, greatest(len(tk) - 4, 0) + 2),
             i -> array_to_string(list_slice(tk, i, least(i + 3, len(tk))), '_')))) AS g
           FROM toks),
         bench AS (SELECT DISTINCT g FROM sh WHERE doc_id < 20),
         flagged AS (SELECT DISTINCT s.doc_id FROM sh s JOIN bench b ON s.g = b.g
           WHERE s.doc_id >= 20)
         SELECT d.doc_id, f.doc_id IS NOT NULL AS contaminated
         FROM documents d LEFT JOIN flagged f ON d.doc_id = f.doc_id
         WHERE d.doc_id >= 20""",
    // x35: per-doc token repetition + mean word length, thresholded
    "x35_repetition_filter" ->
      s"""WITH toks AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS tk
           FROM documents),
         a AS (SELECT doc_id, COUNT(*) AS n_tokens,
             COUNT(DISTINCT tk) AS n_distinct,
             CAST(SUM(length(tk)) AS DOUBLE) / COUNT(*) AS mean_word_len
           FROM toks WHERE tk <> '' GROUP BY doc_id)
         SELECT d.doc_id,
           COALESCE(a.n_tokens, 0) AS n_tokens,
           1.0 - CAST(a.n_distinct AS DOUBLE) / a.n_tokens AS rep_ratio,
           a.mean_word_len,
           COALESCE(CAST(a.n_distinct AS DOUBLE) / a.n_tokens >= 0.5
             AND a.mean_word_len >= 4.0, FALSE) AS keep
         FROM documents d LEFT JOIN a ON d.doc_id = a.doc_id""",
    // x34: decoded dims (real PNG for every third doc, stub fold for the
    // rest — x13's shared mirror), then the aspect-preserving fit — floor
    // of exact small-int double division, identical on both engines
    "x34_resize_plan" ->
      s"""WITH $mixedDecodeSql,
         dims AS (SELECT doc_id AS asset_id, width, height FROM mdec)
         SELECT asset_id, width, height,
           CAST(CASE WHEN greatest(width, height) <= 224 THEN width
                ELSE greatest(CAST(floor(width * 224 / greatest(width, height)) AS INT), 1)
           END AS INT) AS new_width,
           CAST(CASE WHEN greatest(width, height) <= 224 THEN height
                ELSE greatest(CAST(floor(height * 224 / greatest(width, height)) AS INT), 1)
           END AS INT) AS new_height
         FROM dims""",
    // x32: stub-decode frame counts from payload bytes, frame fan-out via
    // range unnest — mirrors sampleFrames(stride=3)
    // x32: video frame counts now replay the REAL AVI wrap — n_frames =
    // ceil(n/384) for the 16×8 BGR24 frames wrapBgrAvi packs
    "x32_frame_sample" ->
      s"""WITH $byteFoldSql,
         f AS (SELECT doc_id AS asset_id,
             CASE WHEN doc_id % 5 = 0 THEN 'video' ELSE 'text' END AS media_type,
             CASE WHEN doc_id % 5 = 0 THEN CAST(greatest(1, (n + 383) // 384) AS INT)
                  ELSE CAST(1 AS INT) END AS n_frames
           FROM b WHERE doc_id IS NOT NULL AND hx IS NOT NULL)
         SELECT asset_id, media_type, n_frames, CAST(u.i AS INT) AS frame_idx
         FROM f, unnest(range(0, CAST(n_frames AS BIGINT), 3)) u(i)""")
}
