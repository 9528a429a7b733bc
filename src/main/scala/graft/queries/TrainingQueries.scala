package graft.queries

import graft.Tables
import graft.ops.InternalCaches
import graft.similarity.Similarity
import graft.streaming.Streams
import graft.text.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.expressions.Natives
import graft.expressions.Natives.md5 // shadows functions.md5 (bit-identical, thread-cached digest)

/** Round-9 trainer-loop operators: the pieces that turn one-shot
  * curation steps into the LOOPS a production pipeline actually runs —
  * iterated BPE tokenizer training (x53 is one merge; this is the
  * selection→application→recount cycle), a continuously-maintained ANN
  * index (x49's append pattern applied to the vector index), and the
  * multi-probe recall curve that grades an IVF-PQ index's probe knob
  * against exact ground truth (the r7 directive-#7 evidence).
  *
  * Same oracle conventions as the other query files (each file
  * self-contained, helpers duplicated privately): md5-free here — all
  * three queries are deterministic algebra both engines replay exactly.
  */
object TrainingQueries {

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  /** DuckDB SQL fragment mirroring TextOps.normalize (the per-file copy,
    * as in CurationQueries). */
  private def normOf(e: String) =
    s"trim(regexp_replace(regexp_replace(lower($e), '[^a-z0-9]+', ' ', 'g'), ' +', ' ', 'g'))"

  /** DuckDB fragment mirroring TextOps.qualityScore (x142's oracle copy). */
  private[queries] val qualitySql = {
    val punct = "CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / length(text) END"
    val digit = "CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text) END"
    s"""least(CAST(length(text) AS DOUBLE) / 400.0, 1.0) * 0.4
       + (1.0 - least(($punct) * 5.0, 1.0)) * 0.3
       + (1.0 - least(($digit) * 5.0, 1.0)) * 0.3"""
  }

  /** The UniMax closed-form CTE chain over a masses CTE named `$src`
    * (columns source, n_tokens), ending in `j` (source, n_tokens,
    * budget, capped, alloc_tokens) — [[unimaxAlloc]]'s mirror, shared
    * by the x157 and x164 oracles. */
  private def unimaxCteFrom(src: String): String =
    s"""tt AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS w_tot,
             CAST(COUNT(*) AS BIGINT) AS k FROM $src),
         r AS (SELECT source, n_tokens, k,
             CAST((w_tot * 9) // 5 AS BIGINT) AS budget,
             CAST(ROW_NUMBER() OVER (ORDER BY n_tokens, source) AS BIGINT)
               AS rn,
             CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY n_tokens, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS psum
           FROM $src CROSS JOIN tt),
         c AS (SELECT *,
             (n_tokens * 2 * (k - rn + 1) <= budget - psum * 2) AS cond
           FROM r),
         f AS (SELECT *,
             MIN(CASE WHEN NOT cond THEN rn END) OVER () AS fail_rn
           FROM c),
         g AS (SELECT source, n_tokens, k, budget, rn,
             CASE WHEN fail_rn IS NULL OR rn < fail_rn
               THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS capped
           FROM f),
         h AS (SELECT *,
             CAST(SUM(CASE WHEN capped = 1 THEN n_tokens ELSE 0 END) OVER ()
               AS BIGINT) AS capped_sum,
             k - CAST(SUM(capped) OVER () AS BIGINT) AS m
           FROM g),
         i AS (SELECT *, budget - capped_sum * 2 AS rstar FROM h),
         j AS (SELECT source, n_tokens, budget, capped,
             CASE WHEN capped = 1 THEN n_tokens * 2
               ELSE rstar // greatest(m, 1)
                 + CASE WHEN rn > k - (rstar % greatest(m, 1))
                     THEN 1 ELSE 0 END END AS alloc_tokens
           FROM i)"""

  /** The per-doc Gopher repetition CTE chain ending in `gop` (source,
    * doc_id, n_tokens, dup2_cover_ppm, dup3_cover_ppm, keep) —
    * [[gopherRepetition]]'s mirror, shared by the x163 and x164
    * oracles. */
  private def gopherCte: String =
    s"""tk AS (SELECT source, doc_id,
             list_filter(string_split(${normOf("text")}, ' '),
               w -> w <> '') AS t
           FROM documents
           WHERE doc_id IS NOT NULL AND text IS NOT NULL
             AND source IS NOT NULL),
         tk1 AS (SELECT source, doc_id, t FROM tk WHERE len(t) >= 1),
         kg AS (
           SELECT doc_id, CAST(2 AS BIGINT) AS k, i,
               t[i] || ' ' || t[i + 1] AS g
             FROM tk1, unnest(range(1, len(t))) u(i)
           UNION ALL
           SELECT doc_id, CAST(3 AS BIGINT), i,
               t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]
             FROM tk1, unnest(range(1, len(t) - 1)) u(i)),
         dup AS (SELECT doc_id, k, g FROM kg
           GROUP BY doc_id, k, g HAVING COUNT(*) >= 2),
         cov AS (SELECT DISTINCT b.doc_id, b.k, p
           FROM kg b JOIN dup d
             ON b.doc_id = d.doc_id AND b.k = d.k AND b.g = d.g,
           unnest(range(b.i, b.i + b.k)) v(p)),
         cnt AS (SELECT doc_id,
             CAST(SUM(CASE WHEN k = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS cov2,
             CAST(SUM(CASE WHEN k = 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS cov3
           FROM cov GROUP BY doc_id),
         gop AS (SELECT t.source, t.doc_id,
             CAST(len(t.t) AS BIGINT) AS n_tokens,
             CAST(COALESCE(cov2, 0) * 1000000 // len(t.t) AS BIGINT)
               AS dup2_cover_ppm,
             CAST(COALESCE(cov3, 0) * 1000000 // len(t.t) AS BIGINT)
               AS dup3_cover_ppm,
             CASE WHEN COALESCE(cov2, 0) * 1000000 // len(t.t) <= 200000
               AND COALESCE(cov3, 0) * 1000000 // len(t.t) <= 180000
               THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS keep
           FROM tk1 t LEFT JOIN cnt c ON c.doc_id = t.doc_id)"""

  /** The surviving-mass CTE over `gop` — [[keptMasses]]'s mirror,
    * shared by the x164–x167 oracles. */
  private def keptMassesCte: String =
    s"""km AS (SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
             CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
             CAST(SUM(n_tokens + 1) AS BIGINT) AS stream_len
           FROM gop WHERE keep = 1 GROUP BY source)"""

  /** The epoch-order CTE chain — gopher survivors → x162's LPT
    * recursion → per-source bin unnest → 48-bit md5 order keys →
    * per-worker rank — ending in `ranked` (worker, step, source,
    * bin_idx, order_key): [[epochOrderFrom]]'s mirror, shared by the
    * x165/x166/x167 oracles. Needs WITH RECURSIVE. */
  /** The LPT recursion CTE pair — Graham's greedy replayed serially:
    * `o` ranks groups (weight desc, source asc), `rec` walks them,
    * packing (load, worker) into l·1024 + w so list_min picks the
    * least-loaded / lowest-id worker, exactly [[Scheduling.lptAssign]]'s
    * tiebreak. `src` must expose (source, n_tokens); parameterized so
    * x171 can re-run the greedy over REMAINING masses on a different
    * fleet size in the same WITH RECURSIVE list. */
  private def lptCte(src: String, o: String, rec: String,
                     workers: Int): String =
    s"""$o AS (SELECT source, n_tokens,
             ROW_NUMBER() OVER (ORDER BY n_tokens DESC, source) AS rn
           FROM $src),
         $rec AS (
           SELECT source, rn, CAST(0 AS BIGINT) AS worker,
             list_transform(range(0, $workers), i -> {'w': CAST(i AS BIGINT),
               'l': CASE WHEN i = 0 THEN n_tokens
                 ELSE CAST(0 AS BIGINT) END}) AS loads
           FROM $o WHERE rn = 1
           UNION ALL
           SELECT nx.source, nx.rn, st.mk % 1024,
             list_transform(r.loads, x ->
               CASE WHEN x.l * 1024 + x.w = st.mk
                 THEN {'w': x.w, 'l': x.l + nx.n_tokens} ELSE x END)
           FROM $rec r JOIN $o nx ON nx.rn = r.rn + 1,
           LATERAL (SELECT list_min(list_transform(r.loads,
             x -> x.l * 1024 + x.w)) AS mk) st)"""

  private def epochOrderCte: String =
    s"""$gopherCte,
         $keptMassesCte,
         ${lptCte("km", "o", "rec", 8)},
         eobins AS (SELECT r.source, r.worker, CAST(u.b AS BIGINT) AS bin_idx
           FROM rec r JOIN km ON km.source = r.source,
           unnest(range(0, (km.stream_len + 511) // 512)) u(b)),
         eoh AS (SELECT worker, source, bin_idx,
             CAST(('0x' || substr(md5('ep1_' || source || ':' || bin_idx),
               1, 12)) AS BIGINT) AS order_key
           FROM eobins),
         ranked AS (SELECT CAST(worker AS BIGINT) AS worker,
             CAST(ROW_NUMBER() OVER (PARTITION BY worker
               ORDER BY order_key, source, bin_idx) AS BIGINT) AS step,
             source, bin_idx, order_key
           FROM eoh)"""

  /** The per-epoch consumption CTE chain ending in `fin` (source,
    * epoch_idx, tokens_consumed, docs_full, stream_pos_end) — needs
    * `gop`, `km`, and the unimax chain's `j` in scope;
    * [[epochConsumptionFrom]]'s mirror, shared by the x168 and x170
    * oracles. */
  private def epochConsumptionCte: String =
    s"""al AS (SELECT source, n_tokens, alloc_tokens,
             CAST(alloc_tokens // n_tokens AS BIGINT) AS n_full,
             CAST(alloc_tokens % n_tokens AS BIGINT) AS rem_x
           FROM j WHERE alloc_tokens > 0),
         dc AS (SELECT source, doc_id, n_tokens,
             CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cumtok
           FROM gop WHERE keep = 1),
         tr AS (SELECT a.source,
             CAST(SUM(CASE WHEN d.cumtok <= a.rem_x THEN 1 ELSE 0 END)
               AS BIGINT) AS docs_full_trunc
           FROM al a JOIN dc d ON d.source = a.source GROUP BY a.source),
         ep AS (SELECT a.source, a.n_tokens, a.n_full, a.rem_x,
             t.docs_full_trunc, km.n_docs_kept, km.stream_len,
             CAST(u.e AS BIGINT) AS epoch_idx
           FROM al a
           JOIN tr t ON t.source = a.source
           JOIN km ON km.source = a.source,
           unnest(range(0, a.n_full
             + CASE WHEN a.rem_x > 0 THEN 1 ELSE 0 END)) u(e)),
         fin AS (SELECT source, epoch_idx,
             CASE WHEN epoch_idx < n_full THEN n_tokens
               ELSE rem_x END AS tokens_consumed,
             CASE WHEN epoch_idx < n_full THEN n_docs_kept
               ELSE docs_full_trunc END AS docs_full,
             CASE WHEN epoch_idx < n_full THEN stream_len
               ELSE rem_x + docs_full_trunc END AS stream_pos_end
           FROM ep)"""

  /** The cross-epoch order CTE chain ending in `mranked` (worker, step,
    * epoch_idx, source, bin_idx, order_key) — needs `fin` (the
    * consumption chain) and `rec` (the LPT placement) in scope;
    * [[multiEpochOrderFrom]]'s mirror, shared by the x170 and x171
    * oracles. */
  private def multiEpochOrderCte: String =
    s"""mbins AS (SELECT fn.source, rc.worker,
             fn.epoch_idx, CAST(u.b AS BIGINT) AS bin_idx
           FROM fin fn JOIN rec rc ON rc.source = fn.source,
           unnest(range(0, (fn.stream_pos_end + 511) // 512)) u(b)),
         mh AS (SELECT worker, epoch_idx, source, bin_idx,
             CAST(('0x' || substr(md5('ep'
               || CAST(epoch_idx + 1 AS VARCHAR) || '_' || source || ':'
               || bin_idx), 1, 12)) AS BIGINT) AS order_key
           FROM mbins),
         mranked AS (SELECT CAST(worker AS BIGINT) AS worker,
             CAST(ROW_NUMBER() OVER (PARTITION BY worker
               ORDER BY epoch_idx, order_key, source, bin_idx) AS BIGINT)
               AS step,
             epoch_idx, source, bin_idx, order_key
           FROM mh)"""

  /** The lineage segment CTE pair ending in `seg` (source, bin_idx,
    * doc_id, seg_start, seg_end) over the Gopher survivors — needs
    * `gop` in scope; the packFrame/x159 algebra, shared by the x167 and
    * x173 oracles. */
  private def lineageSegCte: String =
    s"""sp AS (SELECT source, doc_id, n_tokens,
             CAST(COALESCE(SUM(n_tokens + 1) OVER (PARTITION BY source
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS stream_pos
           FROM gop WHERE keep = 1),
         seg AS (SELECT source, CAST(u.b AS BIGINT) AS bin_idx, doc_id,
             CAST(greatest(stream_pos - u.b * 512, 0)
               AS BIGINT) AS seg_start,
             CAST(least(stream_pos + n_tokens + 1 - u.b * 512, 512)
               AS BIGINT) AS seg_end
           FROM sp, unnest(range(stream_pos // 512,
             (stream_pos + n_tokens) // 512 + 1)) AS u(b))"""

  /** The shared (qm, pos) CTE text of the x160/x161 oracles —
    * [[qmLabelFrame]]'s mirror. */
  private val qmLabelCte =
    s"""ql AS (SELECT
         CAST(floor(($qualitySql) * CAST(1000000.0 AS DOUBLE)) AS BIGINT)
           AS qm,
         CASE WHEN len(tk) - len(list_distinct(tk)) <= 10
           THEN 1 ELSE 0 END AS pos
       FROM (SELECT text,
           list_filter(string_split(${normOf("text")}, ' '),
             w -> w <> '') AS tk
         FROM documents
         WHERE doc_id IS NOT NULL AND text IS NOT NULL)),
     bs AS (SELECT qm, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(pos) AS BIGINT) AS n_pos
       FROM ql GROUP BY qm)"""

  private def cosSql(a: String, b: String) =
    s"list_inner_product($a, $b) / (sqrt(list_inner_product($a, $a)) * sqrt(list_inner_product($b, $b)))"

  /** One BPE round in the oracle: count adjacent pairs of `src`, pick the
    * (n desc, a, b) winner as `m$i`, apply it with the sentinel-wrap
    * string algebra as `c$i`, and record the post-merge token count as
    * `t$i` — the exact mirror of one TextOps.bpeTrain iteration. */
  private def bpeRoundSql(i: Int, src: String): String =
    s"""g$i AS (SELECT t[j] AS a, t[j + 1] AS b, CAST(COUNT(*) AS BIGINT) AS n
           FROM (SELECT string_split(s, ' ') AS t FROM $src WHERE s <> ''),
             unnest(range(1, len(t))) AS u(j)
           GROUP BY 1, 2),
         m$i AS (SELECT a, b, n FROM g$i ORDER BY n DESC, a, b LIMIT 1),
         c$i AS (SELECT doc_id,
             substr(replace(w, '> <', ' '), 2, len(replace(w, '> <', ' ')) - 2) AS s
           FROM (SELECT doc_id,
               replace('<' || replace(s, ' ', '> <') || '>',
                 '<' || m.a || '> <' || m.b || '>',
                 '<' || m.a || '_' || m.b || '>') AS w
             FROM $src CROSS JOIN m$i m)),
         t$i AS (SELECT CAST(SUM(len(string_split(s, ' '))) AS BIGINT) AS nt
           FROM c$i WHERE s <> '')"""

  /** The probe-dependent half of the x122 IVF-PQ oracle chain for probe
    * count `p`: probed query cells, candidates, ADC ranking, top-10, and
    * the per-query hit count against `truth(qid, nid)`. The probe-
    * independent CTEs (ev/cent/assign/cells/sub/codes/lut) are shared. */
  private def probeBlockSql(p: Int): String =
    s"""qc$p AS (SELECT vec_id AS qid, cid AS cell FROM assign
           WHERE vec_id < 8 AND rn <= $p),
         cand$p AS (SELECT qc.qid, ce.vec_id AS neighbor_id
           FROM qc$p qc JOIN cells ce
           ON ce.cell = qc.cell AND ce.vec_id <> qc.qid),
         adc$p AS (SELECT ca.qid, ca.neighbor_id,
             list_reduce(list(l.d ORDER BY l.s), (a, b) -> a + b) AS dist
           FROM cand$p ca
           JOIN codes c ON c.vec_id = ca.neighbor_id
           JOIN lut l ON l.qid = ca.qid AND l.s = c.s AND l.code = c.code
           GROUP BY ca.qid, ca.neighbor_id),
         top$p AS (SELECT qid, neighbor_id FROM (SELECT *,
             ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY dist ASC, neighbor_id ASC) AS rank FROM adc$p)
           WHERE rank <= 10),
         hit$p AS (SELECT tr.qid,
             CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_hit
           FROM truth tr LEFT JOIN top$p a
           ON a.qid = tr.qid AND a.neighbor_id = tr.nid
           GROUP BY tr.qid)"""

  /** The RESIDUAL (IVFADC, x123) counterpart of [[probeBlockSql]] for
    * probe count `p`: candidates from the ≤p probed cells of the shared
    * `qca` frame, ADC against the residual codes/LUT (`rcodes`/`rlut`,
    * keyed by the probed cell), top-10, hit count vs `truth`. */
  private def probeResidualBlockSql(p: Int): String =
    s"""candR$p AS (SELECT qc.qid, qc.qcell, ce.vec_id AS neighbor_id
           FROM qca qc JOIN cells ce
           ON ce.cell = qc.qcell AND ce.vec_id <> qc.qid
           WHERE qc.rn <= $p),
         adcR$p AS (SELECT ca.qid, ca.neighbor_id,
             list_reduce(list(l.d ORDER BY l.s), (a, b) -> a + b) AS dist
           FROM candR$p ca
           JOIN rcodes c ON c.vec_id = ca.neighbor_id
           JOIN rlut l ON l.qid = ca.qid AND l.qcell = ca.qcell
             AND l.s = c.s AND l.code = c.code
           GROUP BY ca.qid, ca.neighbor_id),
         topR$p AS (SELECT qid, neighbor_id FROM (SELECT *,
             ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY dist ASC, neighbor_id ASC) AS rank FROM adcR$p)
           WHERE rank <= 10),
         hitR$p AS (SELECT tr.qid,
             CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_hit
           FROM truth tr LEFT JOIN topR$p a
           ON a.qid = tr.qid AND a.neighbor_id = tr.nid
           GROUP BY tr.qid)"""

  /** JVM-scoped scratch root for x151's persisted index state. Each
    * invocation still gets a fresh subdirectory (the returned DataFrame
    * lazily reads the path, so eager per-call cleanup is impossible),
    * but one exit hook removes the whole tree — repeated Verify / Bench
    * / test runs no longer leak an unbounded tmpdir per run. */
  private lazy val scratchRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft_ann_scratch")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
        f.delete(): Unit
      }
      rm(root.toFile)
    }))
    root
  }

  /** x153's per-(variant, probe) ADC/top-10/hit block: candidates are the
    * SHARED `candS$p` frame (one coarse index serves both layouts); only
    * the codes/LUT tables differ per variant tag. */
  private def probeAbsVariantBlockSql(tag: String, p: Int): String =
    s"""adc$tag$p AS (SELECT ca.qid, ca.neighbor_id,
             list_reduce(list(l.d ORDER BY l.s), (a, b) -> a + b) AS dist
           FROM candS$p ca
           JOIN codes$tag c ON c.vec_id = ca.neighbor_id
           JOIN lut$tag l ON l.qid = ca.qid AND l.s = c.s AND l.code = c.code
           GROUP BY ca.qid, ca.neighbor_id),
         top$tag$p AS (SELECT qid, neighbor_id FROM (SELECT *,
             ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY dist ASC, neighbor_id ASC) AS rank FROM adc$tag$p)
           WHERE rank <= 10),
         hit$tag$p AS (SELECT tr.qid,
             CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_hit
           FROM truth tr LEFT JOIN top$tag$p a
           ON a.qid = tr.qid AND a.neighbor_id = tr.nid
           GROUP BY tr.qid)"""

  /** The abs PQ encode chain (sub-distances → argmin codes → query LUT)
    * over vector table `$ev` and codebook `$cent`, emitted with variant
    * suffix `$tag`. */
  private def absChainSql(tag: String, ev: String, cent: String): String =
    s"""sub$tag AS (SELECT e.vec_id, s.s, c.cid,
             list_inner_product(
               list_transform(range(8), i -> e.v[s.s*8 + i + 1] - c.cv[s.s*8 + i + 1]),
               list_transform(range(8), i -> e.v[s.s*8 + i + 1] - c.cv[s.s*8 + i + 1])) AS d
           FROM $ev e, range(0, 8) s(s), $cent c),
         codes$tag AS (SELECT vec_id, s, cid AS code FROM (
             SELECT vec_id, s, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id, s
                 ORDER BY d ASC, cid ASC) AS rn
             FROM sub$tag)
           WHERE rn = 1),
         lut$tag AS (SELECT vec_id AS qid, s, cid AS code, d FROM sub$tag
           WHERE vec_id < 8)"""

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ───── iterated BPE tokenizer training: 3 greedy merge rounds over
    // the documents corpus, each applied before the next is counted —
    // x53 frozen at one step becomes the actual training loop. Driver
    // state per round = one (a, b) pair; every corpus pass is a narrow
    // codegen'd projection (see TextOps.bpeTrain)
    "x150_bpe_train" -> ((s, d) =>
      TextOps.bpeTrain(t(s, d, "documents"), "doc_id", "text", nMerges = 3)),

    // ───── maintained ANN index replayed as batch increments: seed the
    // standing cell index from 3/4 of the corpus (model = frozen
    // data-pick centroids FROM THE SEED, the x15 convention restricted
    // to what the seed has seen), then upsert three arriving batches —
    // with one REDELIVERED batch that must append nothing — and emit the
    // final persisted index state. The oracle recomputes the assignment
    // of every vector under the same frozen model: any duplicate append,
    // dropped row, or drift between the incremental and batch assignment
    // paths shows up as a row/hash mismatch. (The streaming face of the
    // same functions — MemoryStream micro-batches — is proven ≡ batch
    // ivfTopK in StreamsSpec; this catalog entry pins the state algebra
    // under the driver's oracle.)
    "x151_ann_index_upsert" -> ((s, d) => {
      val emb = t(s, d, "embeddings").filter(col("vec_id").isNotNull)
      val seed = emb.filter(col("vec_id") % 4 =!= 0)
      val cent = seed.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val dir = java.nio.file.Files
        .createTempDirectory(scratchRoot, "idx").toString
      Streams.seedAnnIndex(seed, "vec_id", "embedding",
        cent, "cid", "cvec", dir)
      val b1 = emb.filter(col("vec_id") % 12 === 0)
      val b2 = emb.filter(col("vec_id") % 12 === 4)
      val b3 = emb.filter(col("vec_id") % 12 === 8)
      // b1 again between b2 and b3: a pure redelivery that must no-op
      Seq(b1, b2, b1, b3).foreach(b =>
        Streams.incrementalAnnStep(b, "vec_id", "embedding", dir))
      s.read.parquet(s"$dir/cells")
        .select(col("vec_id"), col("cell").cast("long").as("cell"),
          when(col("vec_id") % 4 =!= 0, "seed")
            .when(col("vec_id") % 12 === 0, "b1")
            .when(col("vec_id") % 12 === 4, "b2")
            .otherwise("b3").as("phase"))
    }),

    // ───── multi-probe recall curves for BOTH IVF-PQ encodings at the
    // same fixed codebook budget (16 coarse cells, m=8 subspaces):
    // recall@10 against EXACT squared-L2 ground truth at probes ∈
    // {1, 2, 4}, scheme ∈ {abs = x122's absolute codes, residual =
    // x123's IVFADC). The curves are the r7 directive-#7 evidence, and
    // they carry an honest negative worth pinning: with ABSOLUTE codes
    // multi-probe DEGRADES recall on this data (4.125 → 4.0 → 3.5 mean
    // hits at sf0.01) — the coarse centroids double as the PQ codebook,
    // so foreign-cell candidates arrive with ADC error comparable to
    // the inter-cell distances and displace true neighbors — while
    // RESIDUAL codes refine within-cell geometry, which is exactly what
    // makes extra probes pay (Jégou '11's reason for IVFADC). Ground
    // truth is cached once and reused across all six settings
    "x152_multiprobe_recall" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      // model-sized frames DRIVER-LOCAL (pinLocal, r13): the fused sweep
      // embeds them in several broadcasts; registry-caching (r9–r12)
      // stopped the subplan re-runs but every broadcast site still paid
      // a build JOB against the cache — a LocalRelation broadcasts with
      // no job at all. One collect each (16 / 16 / 8 rows)
      val cent = Similarity.pinLocal(emb.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec")))
      // the coarse cell assignment is scheme-independent AND data-sized:
      // it stays a registry-cached cluster frame feeding BOTH sweeps and
      // the residual encode — without this the abs and residual legs
      // each re-run the crossJoin×window assignment
      val cells = InternalCaches.register(Similarity.assignCells(
          emb, "vec_id", "embedding", cent, "cid", "cvec")
        .select(col("vec_id"), col("cell")))
      val fine = Similarity.pinLocal(Similarity.residuals(
          emb.filter(col("vec_id") >= 16 && col("vec_id") < 32),
          "vec_id", "embedding", cent, "cid", "cvec")
        .select(col("vec_id").as("fcid"), col("resid").as("fvec")))
      val qs = Similarity.pinLocal(emb.filter(col("vec_id") < 8))
      val qb = broadcast(qs.select(col("vec_id").as("qid"),
        col("embedding").cast("array<double>").as("__qv")))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("__d2").asc, col("vec_id").asc)
      val truth = InternalCaches.register(
        emb.select(col("vec_id"),
            col("embedding").cast("array<double>").as("__v"))
          .crossJoin(qb).filter(col("qid") =!= col("vec_id"))
          .withColumn("__d2", expr(
            """aggregate(zip_with(__qv, __v, (a, b) -> (a - b) * (a - b)),
               CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"""))
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= 10)
          .select(col("qid"), col("vec_id").as("nid")))
      // each scheme scores ONCE at max(probes) (the sweep operators carry
      // the probed cell's rank), so the whole 6-curve query pays two ADC
      // passes, not six
      val probes = Seq(1, 2, 4)
      // one (scheme, probes) replica of the truth per curve point, one
      // scheme-tagged union of both sweeps, ONE join + groupBy for all
      // six curves — not a join+groupBy chain per scheme
      val schemes = Seq("abs", "residual")
      val truthP = truth.select(col("qid"), col("nid"),
          explode(typedLit(probes.map(_.toLong))).as("probes"))
        .select(col("qid"), col("nid"), col("probes"),
          explode(typedLit(schemes)).as("scheme"))
      val sweeps = Similarity.ivfPqDualSweepTopK(
        emb, "vec_id", "embedding", cent, "cid", "cvec",
        fine, "fcid", "fvec", qs, "vec_id", "embedding",
        m = 8, dim = 64, k = 10, probes = probes, cellsOpt = Some(cells))
      truthP.join(
          // ≤ |schemes|·|probes|·|queries|·k rows — broadcast, don't let
          // the optimizer guess a shuffle from the deep subplan estimate
          broadcast(sweeps.select(col("scheme"), col("probes"),
            col("query_id").as("qid"), col("neighbor_id").as("nid"),
            lit(true).as("__hit"))),
          Seq("scheme", "probes", "qid", "nid"), "left")
        .groupBy(col("scheme"), col("probes"), col("qid"))
        .agg(sum(when(col("__hit"), 1L).otherwise(0L)).as("n_hit"))
        .select(col("scheme"), col("probes"), col("qid"),
          col("n_hit"), (col("n_hit").cast("double") / 10).as("recall"))
    }),

    // ───── OPQ rotation experiment (the r7 directive-#7 half multi-probe
    // deferred, r9 directive #5): does a FIXED orthogonal transform of
    // the vectors improve PQ recall at the SAME codebook budget? The
    // transform is parametric-OPQ's restricted-rotation member that both
    // engines replay bit-for-bit: a variance-balancing dimension
    // PERMUTATION (permutations ARE orthogonal matrices) — per-dim
    // integer variance on x132's milli grid / floor-mean center, dims
    // ranked by variance (desc, dim-asc ties), snake-allocated across
    // the m=8 subspaces (rank r → subspace r%m on even rounds, mirrored
    // on odd — each subspace gets one dim per round, so capacities and
    // variance sums balance; Ge '13 §4's eigenvalue-allocation intuition
    // applied to raw dims, which keeps the transform integer-exact where
    // an eigenbasis would not be). Both schemes share ONE coarse index
    // (inner products are permutation-invariant; sharing also keeps the
    // comparison apples-to-apples), so recall differences isolate the
    // QUANTIZATION effect — exactly OPQ's claim. Recall@10 vs the exact
    // base-space truth at probes ∈ {1,2,4}.
    //
    // Measured (r10, mean hits@10 across the 8 queries): the effect
    // FLIPS with corpus size. sf0.01 (500 vectors): base 4.125/4.0/3.5
    // vs perm 3.75/2.875/2.75 — the rotation HURTS, consistent with
    // x152's abs-scheme finding (a 16-vector data-pick codebook doubling
    // as coarse quantizer has error comparable to inter-cell distances;
    // rearranging dims just moves it around). sf0.1 (2000 vectors): base
    // 2.375/2.25/2.375 vs perm 3.125/3.0/3.0 — the rotation HELPS
    // (+27% relative recall) once cells are dense enough that
    // within-cell quantization error is the binding constraint — the
    // regime Ge '13 describes. Neither direction is asserted; the oracle
    // pins the arithmetic and the curve reports whatever the data says
    "x153_opq_perm_recall" -> ((s, d) => {
      val emb = t(s, d, "embeddings").filter(col("vec_id").isNotNull)
      val (m, dim) = (8, 64)
      // per-dim integer variance numerator on the milli grid: one pass
      // collecting (Σv, Σv², n) per dim — model-sized (dim rows)
      val statRows = emb.select(posexplode(expr(
          "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))"))
          .as(Seq("__i", "__v")))
        .groupBy(col("__i"))
        .agg(sum(col("__v")).as("s"), sum(col("__v") * col("__v")).as("s2"),
          count(lit(1)).as("n"))
        .collect()
      require(statRows.length == dim, s"expected $dim dims, got ${statRows.length}")
      val varnum = statRows.map { r =>
        val (i, sv, s2, n) = (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))
        val mu = math.floor(sv.toDouble / n).toLong
        i -> (s2 - 2 * mu * sv + n * mu * mu)
      }.toMap
      // rank → snake-allocate → permutation (new position k = sub·8+slot)
      val ranked = (0 until dim).sortBy(i => (-varnum(i), i))
      val perm = new Array[Int](dim)
      ranked.zipWithIndex.foreach { case (i, r) =>
        val sub = if ((r / m) % 2 == 0) r % m else m - 1 - r % m
        perm(sub * (dim / m) + r / m) = i
      }
      def permute(vec: org.apache.spark.sql.Column) =
        array((0 until dim).map(k => vec.getItem(perm(k))): _*)
      val embP = emb.select(col("vec_id"), permute(col("embedding")).as("embedding"))
      // model-sized frames driver-local (pinLocal, r13 — see x152): the
      // variant sweeps embed both layouts' centroids and queries in
      // several broadcasts each; LocalRelations broadcast job-free
      def centOf(e: DataFrame) = Similarity.pinLocal(
        e.filter(col("vec_id") < 16)
          .select(col("vec_id").as("cid"), col("embedding").as("cvec")))
      def qsOf(e: DataFrame) = Similarity.pinLocal(e.filter(col("vec_id") < 8))
      val cent = centOf(emb)
      val cells = InternalCaches.register(Similarity.assignCells(
          emb, "vec_id", "embedding", cent, "cid", "cvec")
        .select(col("vec_id"), col("cell")))
      val probes = Seq(1, 2, 4)
      val qsBase = qsOf(emb)                     // one collect, two uses
      val sweeps = Similarity.ivfPqAbsSweepVariants(
        Seq(("base", emb, cent, qsBase),
          ("opqperm", embP, centOf(embP), qsOf(embP))),
        "vec_id", "embedding", "cid", "cvec", "vec_id", "embedding",
        m = m, dim = dim, k = 10, probes = probes, cells = cells)
      // exact base-space truth (permutation-invariant in exact math;
      // computed once on the base layout, as the oracle does)
      val qb = broadcast(qsBase.select(col("vec_id").as("qid"),
        col("embedding").cast("array<double>").as("__qv")))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("__d2").asc, col("vec_id").asc)
      val truth = InternalCaches.register(
        emb.select(col("vec_id"),
            col("embedding").cast("array<double>").as("__v"))
          .crossJoin(qb).filter(col("qid") =!= col("vec_id"))
          .withColumn("__d2", expr(
            """aggregate(zip_with(__qv, __v, (a, b) -> (a - b) * (a - b)),
               CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"""))
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= 10)
          .select(col("qid"), col("vec_id").as("nid")))
      val truthP = truth.select(col("qid"), col("nid"),
          explode(typedLit(probes.map(_.toLong))).as("probes"))
        .select(col("qid"), col("nid"), col("probes"),
          explode(typedLit(Seq("base", "opqperm"))).as("scheme"))
      truthP.join(
          broadcast(sweeps.select(col("scheme"), col("probes"),
            col("query_id").as("qid"), col("neighbor_id").as("nid"),
            lit(true).as("__hit"))),
          Seq("scheme", "probes", "qid", "nid"), "left")
        .groupBy(col("scheme"), col("probes"), col("qid"))
        .agg(sum(when(col("__hit"), 1L).otherwise(0L)).as("n_hit"))
        .select(col("scheme"), col("probes"), col("qid"),
          col("n_hit"), (col("n_hit").cast("double") / 10).as("recall"))
    }),

    // ───── GPT-style sequence packing (the dataloader op every LLM
    // pretraining pipeline runs): documents concatenate into a token
    // stream — each doc followed by ONE separator token (EOS) — and the
    // stream is cut into fixed 512-token training bins, docs crossing
    // bin boundaries (concat-and-chunk, not first-fit: first-fit needs
    // sequential remainder state; concat-and-chunk is the production
    // default AND a closed-form window). Packing is PER SOURCE — the
    // per-shard packing a distributed loader does (a single global
    // stream would serialize the window into one partition; per-source
    // parallelizes exactly like x136's group-relative windows, skew
    // bounded by the largest source). All integer: token counts are x10's
    // non-empty whitespace tokens of the normalized text; stream
    // position is an exclusive running sum; bins/offsets are integer
    // div/mod. Output row per packed doc: where it starts (stream_pos,
    // bin_first, bin_offset), where it ends (bin_last), n_tokens
    "x154_sequence_packing" -> ((s, d) => sequencePack(s, d)),

    // ───── next-fit packing WITHOUT splitting (the padding-based
    // dataloader strategy — finetuning/eval loaders that must keep each
    // document whole): docs in doc_id order per source; a doc that does
    // not fit the current bin's remainder opens a new bin. Inherently a
    // non-associative sequential recurrence (no prefix-sum closed form),
    // so the scale shape is sequential-within-source / parallel-across-
    // sources: one repartition-by-source + secondary sort + a forward
    // mapPartitions scan with O(1) state (graft.ops.Packing). Same token
    // convention and 512 capacity as x154 so the two strategies are
    // directly comparable (x154 splits, zero padding waste inside the
    // stream; x156 pads, zero straddling)
    "x156_nextfit_packing" -> ((s, d) => {
      val n = size(filter(TextOps.tokens(col("text")), w => w =!= ""))
        .cast("long")
      val base = t(s, d, "documents")
        .filter(col("doc_id").isNotNull && col("text").isNotNull
          && col("source").isNotNull)
        .select(col("source"), col("doc_id"), n.as("n_tokens"))
        .filter(col("n_tokens") >= 1)
      graft.ops.Packing.nextFitPack(base, "source", "doc_id", "n_tokens",
        capacity = 512L)
    }),

    // ───── packing efficiency report — the utilization metric a loader
    // fleet monitors per shard: bins consumed, padding tokens lost in
    // each source's final partial bin, boundary-straddling doc count
    // (each straddle is a doc whose loss masks span bins), utilization
    // in integer ppm. Pure aggregation of x154's frame (one shared
    // builder, so the report can never drift from the packing)
    "x155_packing_report" -> ((s, d) => {
      val B = 512L
      sequencePack(s, d)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          sum(col("n_tokens") + lit(1L)).as("stream_len"),
          sum(when(col("bin_last") > col("bin_first"), 1L).otherwise(0L))
            .as("n_straddling"))
        .select(col("source"), col("n_docs"), col("total_tokens"),
          expr(s"(stream_len + ${B - 1}) div $B").as("n_bins"),
          expr(s"((stream_len + ${B - 1}) div $B) * $B - stream_len")
            .as("pad_tokens"),
          col("n_straddling"),
          expr(s"(total_tokens * CAST(1000000 AS BIGINT)) div " +
            s"(((stream_len + ${B - 1}) div $B) * $B)").as("utilization_ppm"))
    }),

    // ───── UniMax epoch-capped budget allocation (Chung '23): spread a
    // token budget B = ⌊1.8·total⌋ as UNIFORMLY as possible across
    // sources, capping each at E = 2 epochs of its own mass — the
    // mixture sampler that replaced proportional/temperature weighting
    // (x57/x146) for multilingual pretraining because it bounds
    // repetition instead of letting head sources starve the tail. The
    // sequential waterfill (sort ascending; share = ⌊R/remaining⌋;
    // alloc = min(E·n, share); R −= alloc) has a closed form because
    // caps bind on a PREFIX of the ascending order: capped(j) ⇔
    // E·n_j·(k−j+1) ≤ B − E·psum_j (prefix sums only), the survivors
    // split R* = B − E·capped_sum as ⌊R*/m⌋ each with the R* mod m
    // leftover going one-each to the largest m' sources — provably equal
    // to the recurrence's allocations (TrainingSpec replays the
    // recurrence independently and compares). Everything integer: Σalloc
    // == B exactly when any source is uncapped; alloc ≤ E·n always;
    // epochs_ppm = ⌊alloc·1e6/n⌋ split as q·1e6 + (r·1e6) div n so the
    // intermediate stays in Long (exact while per-source n < 2^63/1e6 ≈
    // 9.2e12 tokens — ANSI overflow would throw, not corrupt). Scalars
    // and ranking windows run over the bounded source dimension (x57's
    // allowlisted class); the only data-sized work is the per-source
    // token mass aggregation (one partial-combined shuffle)
    "x157_unimax_budget" -> ((s, d) => {
      val nt = size(filter(TextOps.tokens(col("text")), w => w =!= ""))
        .cast("long")
      unimaxAlloc(t(s, d, "documents")
        .filter(col("doc_id").isNotNull && col("text").isNotNull
          && col("source").isNotNull)
        .select(col("source"), nt.as("nt"))
        .groupBy(col("source")).agg(sum(col("nt")).as("n_tokens")))
    }),

    // ───── bounded-pool best-fit packing: x156's utilization upgrade
    // and the strategy a production loader's PACKING BUFFER actually
    // implements (seqio-style) — up to 4 bins stay open per source, each
    // doc goes to the fullest open bin it fits in (ties to the lowest
    // bin id), a fresh bin opens when none fits, and the fullest bin is
    // closed when the pool is full. Same capacity (512), token
    // convention, and secondary-sort scan shape as x156; state grows
    // from three words to the pool's 4 (bin, fill) pairs per task —
    // still O(1) in the data. pool=1 degenerates to exact next-fit
    // (PackingSpec pins the law). The oracle replays the pool as a
    // LIST<STRUCT(b,f)> through the same recursive CTE frontier
    "x158_bestfit_packing" -> ((s, d) => {
      val n = size(filter(TextOps.tokens(col("text")), w => w =!= ""))
        .cast("long")
      val base = t(s, d, "documents")
        .filter(col("doc_id").isNotNull && col("text").isNotNull
          && col("source").isNotNull)
        .select(col("source"), col("doc_id"), n.as("n_tokens"))
        .filter(col("n_tokens") >= 1)
      graft.ops.Packing.bestFitPack(base, "source", "doc_id", "n_tokens",
        capacity = 512L, pool = 4)
    }),

    // ───── varlen-attention boundary manifest (cu_seqlens): the
    // per-training-example segment ends a concat-and-chunk loader hands
    // to block-diagonal attention so packed documents don't attend
    // across their boundaries. Each x154 bin is one 512-token example;
    // a doc occupying stream range [sp, sp+n+1) (text + separator)
    // contributes to every bin it intersects a segment ending at
    // min(sp+n+1 − bin·512, 512). One row per (source, bin, doc)
    // intersection — the cu_seqlens array for a bin is its sorted
    // seg_end column (the loader's gather step, kept relational here so
    // the driver hash-compares scalars, not arrays). Pure stateless
    // arithmetic over the x154 frame: the explode multiplies rows only
    // for straddling docs (bin_last − bin_first extra rows each), so
    // output ≈ docs + bins — no shuffle beyond x154's own window
    // (every bin in [bin_first, bin_last] genuinely intersects: the
    // segment's last position sp+n IS bin_last's defining position, so
    // no empty-intersection guard is needed)
    "x159_attention_boundaries" -> ((s, d) =>
      sequencePack(s, d)
        .withColumn("bin_idx",
          explode(expr("sequence(bin_first, bin_last)")))
        .select(col("source"), col("bin_idx"), col("doc_id"),
          least(col("stream_pos") + col("n_tokens") + 1L
            - col("bin_idx") * 512L, lit(512L)).as("seg_end"),
          greatest(col("stream_pos") - col("bin_idx") * 512L, lit(0L))
            .as("seg_start"))),

    // ───── exact ROC AUC of the x09 quality score as a detector of
    // low-repetition documents (label = repeated-token surplus ≤ 10, a
    // signal the score does not see — leak-free) — the classifier-
    // evaluation primitive every learned curation filter (x40/x131)
    // needs graded before its threshold ships. Midrank
    // Mann–Whitney, all integer until one final division: the score
    // domain is BOUNDED (quality micro ∈ [0, 1e6]), so the global rank
    // window runs over the per-distinct-score aggregate (x111's
    // allowlisted class, ≤1e6 rows at any corpus size), never over
    // docs. Doubled midranks keep tie averages integer: midrank2 =
    // 2·(# strictly below) + ties + 1; 2U = Σ_pos midrank2 −
    // nPos(nPos+1); AUC = 2U / (2·nPos·nNeg). INTERNAL sums ride
    // DECIMAL(38,0)/HUGEINT (they grow as N², past Long at ~2e9 docs)
    // but the one-row emit narrows num/den to BIGINT — wide decimals
    // are the known driver-hash hazard (x132's round-7 lesson, enforced
    // by CatalogPreflightSpec), and the ANSI cast throws rather than
    // corrupts if a corpus ever exceeds np·nn < 2⁶² pairs
    "x160_quality_auc" -> ((s, d) => {
      val byScore = qmLabelFrame(s, d)
        .groupBy(col("qm"))
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"))
      val w = Window.orderBy(col("qm"))
        .rowsBetween(Window.unboundedPreceding, -1)
      byScore
        .withColumn("less", coalesce(sum(col("n")).over(w), lit(0L)))
        .withColumn("contrib",
          (col("n_pos") * (col("less") * 2L + col("n") + 1L))
            .cast("decimal(38,0)"))
        .agg(sum(col("n_pos")).as("np"),
          sum(col("n") - col("n_pos")).as("nn"),
          sum(col("contrib")).as("mrsum"))
        .select(col("np").as("n_pos"), col("nn").as("n_neg"),
          (col("mrsum") - (col("np").cast("decimal(38,0)")
            * (col("np") + 1L))).cast("long").as("auc_num"),
          (col("np").cast("decimal(38,0)") * col("nn") * 2L)
            .cast("long").as("auc_den"))
        .withColumn("auc",
          col("auc_num").cast("double") / col("auc_den").cast("double"))
    }),

    // ───── precision/recall threshold sweep for the same detector: the
    // table an operator reads to CHOOSE the quality floor a filter
    // ships with. 21 candidate thresholds on the micro grid (0, 5e4,
    // …, 1e6); predict clean when qm ≥ τ. The sweep rides the same
    // bounded per-score aggregate — a 21-row literal grid range-joins
    // the ≤1e6 score rows, so no pass over documents is repeated and
    // nothing data-sized crosses the threshold dimension
    "x161_quality_pr_sweep" -> ((s, d) => {
      // the per-score aggregate is read twice (threshold join + class
      // totals) — pin it so documents is scanned once
      val byScore = InternalCaches.register(qmLabelFrame(s, d)
        .groupBy(col("qm"))
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos")))
      val taus = s.range(0, 21)
        .select((col("id") * 50000L).as("tau"))
      taus.join(byScore, col("qm") >= col("tau"), "left")
        .groupBy(col("tau"))
        .agg(coalesce(sum(col("n_pos")), lit(0L)).as("tp"),
          coalesce(sum(col("n") - col("n_pos")), lit(0L)).as("fp"))
        .crossJoin(broadcast(byScore
          .agg(sum(col("n_pos")).as("np_all"),
            sum(col("n") - col("n_pos")).as("nn_all"))))
        .select(col("tau"), col("tp"), col("fp"),
          (col("np_all") - col("tp")).as("fn"),
          (col("nn_all") - col("fp")).as("tn"),
          when(col("tp") + col("fp") === 0L, lit(null).cast("double"))
            .otherwise(col("tp").cast("double")
              / (col("tp") + col("fp")).cast("double")).as("prec"),
          when(col("np_all") === 0L, lit(null).cast("double"))
            .otherwise(col("tp").cast("double")
              / col("np_all").cast("double")).as("recall"))
    }),

    // ───── LPT shard scheduling: x62 assigns documents to shards by
    // hash (count balance); THIS balances LOAD — sources weighted by
    // token mass go to 8 workers by Graham's longest-processing-time
    // greedy (descending weight, least-loaded worker, deterministic
    // ties), the 4/3-approximate makespan plan a reader fleet wants
    // when shards are skewed. The group dimension is bounded, so the
    // greedy runs driver-side on the collected per-source aggregate
    // (the Skew.scala contract) with `workers` words of state; the
    // oracle replays it as a serial recursive CTE carrying the 8 loads
    // as LIST<STRUCT(w, l)> (x158's key-min selection trick)
    "x162_lpt_schedule" -> ((s, d) => {
      val nt = size(filter(TextOps.tokens(col("text")), w => w =!= ""))
        .cast("long")
      graft.ops.Scheduling.lptAssign(
        t(s, d, "documents")
          .filter(col("doc_id").isNotNull && col("text").isNotNull
            && col("source").isNotNull)
          .select(col("source"), nt.as("nt"))
          .groupBy(col("source")).agg(sum(col("nt")).as("n_tokens")),
        "source", "n_tokens", workers = 8)
    }),

    // ───── Gopher/MassiveText within-doc repetition rules (Rae '21
    // Table A1's duplicate-n-gram class): the fraction of TOKEN
    // POSITIONS covered by any 2-gram (and 3-gram) that occurs ≥ 2
    // times inside the document — an exact interval union, not the
    // occurrence-weighted approximation (overlapping repeats never
    // count a position twice). x35 flags total token surplus; THIS is
    // the positional-coverage signal the Gopher thresholds are defined
    // on — keep iff dup2 ≤ 0.20 and dup3 ≤ 0.18 (the paper's values;
    // both branches exercised on this corpus). Shape: the metric is
    // per-document, so the whole computation — gram build, duplicate
    // detection (sort-adjacency), interval union — runs IN-ROW as array
    // expressions: ZERO exchanges (PlanAssertSpec pins it); see
    // gopherRepetition for the algebra
    "x163_gopher_repetition" -> ((s, d) =>
      gopherRepetition(s, d).drop("source")),

    // ───── the loader manifest end-to-end: the per-source plan a
    // training run actually consumes, composed from this round's pieces
    // with ZERO re-implementation — x163's Gopher repetition filter
    // picks the survivors, x157's UniMax closed form allocates the
    // epoch-capped budget over the SURVIVING masses, x155's arithmetic
    // prices the bins one epoch costs. Shared builders
    // (gopherRepetition / unimaxAlloc) guarantee the composition can
    // never drift from the standalone operators; a source whose docs
    // are all dropped gets no row (it gets no allocation). One doc-keyed
    // filter chain, one source aggregation, then the bounded-dimension
    // allocation windows
    "x164_loader_manifest" -> ((s, d) => {
      val kept = InternalCaches.register(gopherRepetition(s, d))
      val masses = InternalCaches.register(keptMasses(kept))
      val dropped = kept.filter(col("keep") === 0L)
        .groupBy(col("source")).agg(count(lit(1)).as("n_docs_dropped"))
      unimaxAlloc(masses.select(col("source"), col("n_tokens")))
        .join(masses.select(col("source"), col("n_docs_kept"),
          col("stream_len")), Seq("source"))
        .join(dropped, Seq("source"), "left")
        .select(col("source"), col("n_docs_kept"),
          coalesce(col("n_docs_dropped"), lit(0L)).as("n_docs_dropped"),
          col("n_tokens").as("kept_tokens"),
          col("alloc_tokens"), col("epochs_ppm"),
          expr("(stream_len + 511) div 512").as("bins_per_epoch"))
    }),

    // ───── the epoch-order manifest — the LAST loader stage: a seeded,
    // deterministic, resume-replayable permutation of the surviving
    // sources' bins into the global step order each worker consumes.
    // Composition (shared builders, zero re-implementation): x163's
    // Gopher filter picks the survivors and x155's ceil arithmetic
    // prices each source's bins_per_epoch (keptMasses — the exact
    // masses x164's manifest prices), x162's LPT greedy places sources
    // on 8 workers by surviving token mass; then every (source, bin)
    // gets a 48-bit md5 order key (the x21/x63 integer-hash convention,
    // seeded by the 'ep1' literal — a different seed string is a
    // different epoch's shuffle; no RNG anywhere) and step = per-worker
    // rank of (order_key, source, bin_idx). The rank runs TWO-LEVEL
    // (Relational.rankWithinGroups) — a plain per-worker window would
    // cap parallelism at 8 tasks at any corpus size. Hashing instead of
    // sampling is what buys checkpoint resume: the order is a pure
    // function of (seed, source, bin), so restarting mid-epoch is a
    // step-filter, not a state replay — TrainingSpec pins the law
    "x165_epoch_order" -> ((s, d) =>
      epochOrderFrom(InternalCaches.register(
        keptMasses(gopherRepetition(s, d))))),

    // ───── interleaving audit over the epoch order — the diagnostic a
    // loader team runs on its shuffle: per (worker, source), how many
    // steps, how many RUNS of consecutive same-source steps, and the
    // longest such run (a weak permutation trains on long single-source
    // stretches — the curriculum-drift failure mode seeded shuffles
    // exist to prevent). Runs via gaps-and-islands: rank each source's
    // steps within its worker (rankWithinGroups again — groups are
    // (worker, source), still bounded, rows are bins) — step − rank is
    // constant exactly on a consecutive run. No lag window, no serial
    // pass; two bounded-key aggregations after the rank
    "x166_interleave_audit" -> ((s, d) => {
      val e = epochOrderFrom(InternalCaches.register(
          keptMasses(gopherRepetition(s, d))))
        .select(col("worker"), col("step"), col("source"))
      graft.ops.Relational.rankWithinGroups(e, Seq("worker", "source"),
          Seq(col("step")), "rk")
        .withColumn("island", col("step") - col("rk"))
        .groupBy(col("worker"), col("source"), col("island"))
        .agg(count(lit(1)).as("run_len"))
        .groupBy(col("worker"), col("source"))
        .agg(sum(col("run_len")).as("n_steps"),
          count(lit(1)).as("n_runs"),
          max(col("run_len")).as("max_run_len"))
    }),

    // ───── step lineage — loss-spike forensics: resolve each (worker,
    // step) of the epoch order to the exact documents and in-bin
    // segment boundaries that training step consumes. The survivors
    // pack through the SAME x154 arithmetic (packFrame over the Gopher
    // keep=1 frame — stream_len per source matches keptMasses exactly,
    // so every ordered bin resolves and no segment lacks a step), each
    // doc explodes to the bins its [sp, sp+n+1) range intersects
    // (x159's algebra), and one (source, bin) equi-join attaches the
    // consumption order. Output ≈ kept docs + bins rows; the join is
    // bin-keyed — nothing global
    "x167_step_lineage" -> ((s, d) => {
      val gop = InternalCaches.register(
        gopherRepetition(s, d).filter(col("keep") === 1L))
      stepLineageFrom(gop, InternalCaches.register(keptMasses(gop)))
    }),

    // ───── per-epoch consumption schedule: what the UniMax allocation
    // MEANS in passes — x164 prices tokens, x165 orders one epoch, THIS
    // resolves alloc_tokens into ⌈alloc/n⌉ passes per source: full
    // epochs consume the whole stream (n_tokens, all docs, stream_len
    // positions, x155's bins), the final TRUNCATED epoch consumes the
    // stream prefix holding the remaining alloc mod n tokens — its
    // consumed stream position is rem + (docs fully inside rem),
    // because each fully-consumed doc also consumes its separator.
    // Consumption is in stream order (the unshuffled sequential scan);
    // a zero-allocation source gets no epoch row (x164's discipline).
    // One doc-keyed window (the cumulative token prefix), one bounded
    // aggregation, then bounded-dimension joins and a ≤3-row explode
    // per source — nothing data-sized crosses the epoch dimension
    "x168_epoch_consumption" -> ((s, d) => {
      val gop = InternalCaches.register(
        gopherRepetition(s, d).filter(col("keep") === 1L))
      val masses = InternalCaches.register(keptMasses(gop))
      epochConsumptionFrom(gop, masses)
    }),

    // ───── the CONCATENATED cross-epoch consumption order — the full
    // run's schedule, closing the loader chain: x168 resolves each
    // source's UniMax allocation into passes (full epochs + at most one
    // truncated final pass), and THIS shuffles every pass with its own
    // epoch seed ('ep{e+1}_' — epoch 0 replays x165's 'ep1_' keys
    // bit-for-bit) over the SAME x162 LPT worker placement, ranking
    // per worker by (epoch_idx, order_key, ...) so every epoch-e step
    // precedes every epoch-(e+1) step. The truncated epoch's bin SET is
    // x168's prefix (bins_consumed) — the prefix cut defines WHICH bins
    // the final pass touches, the seed defines their order. Composition
    // only: epochConsumptionFrom + lptAssign + rankWithinGroups, zero
    // re-implementation, so the schedule can never drift from what x164
    // prices and x168 consumes. Resume across an epoch boundary is
    // still a pure step-filter (the TrainingSpec law crosses one):
    // the order is a function of (epoch seed, source, bin), never of
    // runtime state. Scale shape: the epoch dimension multiplies bins
    // by epochs_ppm (≤ ~2× under the 2× UniMax cap), the rank stays
    // two-level, and nothing data-sized crosses epochs
    "x170_multiepoch_order" -> ((s, d) => {
      val gop = InternalCaches.register(
        gopherRepetition(s, d).filter(col("keep") === 1L))
      val masses = InternalCaches.register(keptMasses(gop))
      multiEpochOrderFrom(gop, masses)
    }),

    // ───── elastic fleet rescale — resume the x170 schedule on a
    // DIFFERENT worker count: after every worker has consumed its first
    // 4 steps (the pinned mid-run checkpoint; a worker with ≤ 4 steps
    // has simply finished), the remaining bins re-balance onto 12
    // workers — x162's LPT greedy again, weighted by each source's
    // REMAINING bin count — while the seeded consumption order is
    // untouched: the same (epoch_idx, order_key, source, bin_idx) rank,
    // just under new groups. This is the mid-run scale-up a training
    // fleet actually performs: placement is fleet state and may change;
    // the data order is a pure function of the seeds and must not.
    // TrainingSpec pins the conservation law (old suffix multiset ≡
    // rescaled multiset) and the pure-function replay. Scale shape:
    // one bounded aggregation for the remaining masses, the driver-side
    // greedy, one broadcast join, and the same two-level rank
    "x171_elastic_rescale" -> ((s, d) => {
      val gop = InternalCaches.register(
        gopherRepetition(s, d).filter(col("keep") === 1L))
      val masses = InternalCaches.register(keptMasses(gop))
      // cached: the remaining-order frame feeds the LPT's driver-side
      // collect AND the final placement join — without the cache the
      // whole cross-epoch chain (consumption passes + two-level rank)
      // executes once per consumer (measured 8.8 s vs 4.4 s at sf0.1);
      // the collect doubles as the eager materialization, so the
      // broadcast join can never race an unpopulated cache
      val rem = InternalCaches.register(multiEpochOrderFrom(gop, masses)
        .filter(col("step") > 4L)
        .select(col("epoch_idx"), col("source"), col("bin_idx"),
          col("order_key")))
      val rmass = rem.groupBy(col("source"))
        .agg(count(lit(1)).as("n_bins_left"))
      val plan2 = graft.ops.Scheduling.lptAssign(
        rmass, "source", "n_bins_left", workers = 12)
      graft.ops.Relational.rankWithinGroups(
          rem.join(broadcast(plan2.select(col("source"), col("worker"))),
            Seq("source")),
          Seq("worker"),
          Seq(col("epoch_idx"), col("order_key"), col("source"),
            col("bin_idx")), "step")
        .select(col("worker"), col("step"), col("epoch_idx"),
          col("source"), col("bin_idx"), col("order_key"))
    }),

    // ───── curriculum mixture schedule — anneal the per-source data
    // mixture from the NATURAL stream shares (x169's planned_ppm: each
    // survivor source's stream_len over the epoch total) to the
    // QUALITY-weighted shares (each source's Σ floor(quality·1e6) over
    // the survivors' total — x142's micro-score convention) across 4
    // pinned phases: share(p) = ((3−p)·nat + p·qual) div 3 — phase 0 IS
    // the natural mixture, phase 3 IS the quality mixture, integers all
    // the way so both engines replay it exactly. The anneal-to-quality
    // curriculum a curation team schedules the tail of training on.
    // Scale shape: one doc-keyed semi join + per-source aggregation;
    // everything after is bounded-source arithmetic under a ≤4× explode
    "x172_curriculum_mixture" -> ((s, d) => {
      val gop = InternalCaches.register(
        gopherRepetition(s, d).filter(col("keep") === 1L))
      val masses = InternalCaches.register(keptMasses(gop))
      val qs = t(s, d, "documents")
        .filter(col("doc_id").isNotNull && col("text").isNotNull
          && col("source").isNotNull)
        .select(col("doc_id"), col("source"),
          floor(TextOps.qualityScore(col("text"))
            * expr("CAST(1000000.0 AS DOUBLE)")).as("qm"))
        .join(gop.select(col("doc_id")), Seq("doc_id"), "left_semi")
        .groupBy(col("source")).agg(sum(col("qm")).as("q_mass"))
      val qt = qs.agg(sum(col("q_mass")).as("q_tot"))
      val nt = masses.agg(sum(col("stream_len")).as("s_tot"))
      masses.select(col("source"), col("stream_len"))
        .join(qs, Seq("source"))
        .crossJoin(broadcast(nt)).crossJoin(broadcast(qt))
        .select(col("source"),
          expr("stream_len * CAST(1000000 AS BIGINT) div s_tot")
            .as("nat_ppm"),
          expr("q_mass * CAST(1000000 AS BIGINT) div q_tot")
            .as("qual_ppm"))
        .withColumn("phase_idx",
          explode(sequence(lit(0L), lit(3L))))
        .select(col("phase_idx"), col("source"), col("nat_ppm"),
          col("qual_ppm"),
          expr("((3 - phase_idx) * nat_ppm + phase_idx * qual_ppm) div 3")
            .as("share_ppm"))
    }),

    // ───── shard checksum manifest — the integrity layer a loader
    // fleet verifies shards against: every (worker, step) of the x167
    // lineage signs the exact segments it consumes with an order-free
    // integer signature — Σ over segments of the 48-bit md5 of
    // (source:doc:bin:start:end) — so a corrupted, re-packed, or
    // version-skewed shard fails its manifest row without comparing any
    // payloads. 48-bit terms keep the per-step sum far under 2⁶³ (a
    // 512-token bin holds ≤ 512 segments). Shared lineage builder, so
    // the signed rows ARE x167's rows; one bounded (worker, step)
    // aggregation on top
    "x173_shard_checksums" -> ((s, d) => {
      val gop = InternalCaches.register(
        gopherRepetition(s, d).filter(col("keep") === 1L))
      stepLineageFrom(gop, InternalCaches.register(keptMasses(gop)))
        .withColumn("h",
          conv(substring(md5(concat(col("source"), lit(":"),
            col("doc_id"), lit(":"), col("bin_idx"), lit(":"),
            col("seg_start"), lit(":"), col("seg_end"))), 1, 12), 16, 10)
            .cast("long"))
        .groupBy(col("worker"), col("step"))
        .agg(count(lit(1)).as("n_segs"), sum(col("h")).as("checksum"))
    }),

    // ───── the loader DRESS REHEARSAL (r12 verdict #8) — the closing
    // end-to-end row: filter → pack → order → consume → audit
    // (x163 → x154 → x165 → x168 → x169's realized-token law) composed
    // off ONE shared survivor/mass frame set and reconciled to one row
    // per surviving source whose booleans cross-lock every interface:
    //   order_ok   — the epoch order holds exactly the bins the masses
    //                price ((stream_len+511) div 512) and the LPT pinned
    //                the source to ONE worker;
    //   pack_ok    — the lineage (x154's pack ⋈ the order) tiles the
    //                stream exactly: Σ(seg_end−seg_start) = stream_len
    //                (every position consumed once — x169's realized-
    //                token audit summed over all windows) and every
    //                kept doc appears;
    //   consume_ok — the epoch schedule spends exactly the UniMax
    //                allocation (Σ tokens_consumed = alloc_tokens) and
    //                never reads past the stream.
    // All stages reuse the shared builders (gopherRepetition, keptMasses,
    // epochOrderFrom, stepLineageOver, epochConsumptionFrom, unimaxAlloc)
    // so the rehearsal can't drift from the standalone operators; the
    // oracle recomputes every law independently. TrainingSpec pins the
    // conservation laws (all booleans true on real data)
    "x174_loader_rehearsal" -> ((s, d) => {
      val gop = InternalCaches.register(
        gopherRepetition(s, d).filter(col("keep") === 1L))
      val masses = InternalCaches.register(keptMasses(gop))
      val order = InternalCaches.register(epochOrderFrom(masses))
      val fromOrder = order.groupBy(col("source"))
        .agg(count(lit(1)).as("n_steps"), min(col("worker")).as("worker"),
          max(col("worker")).as("__worker_max"))
      val fromLineage = stepLineageOver(order, gop).groupBy(col("source"))
        .agg(sum(col("seg_end") - col("seg_start")).as("lineage_positions"),
          count_distinct(col("doc_id")).as("n_docs_packed"))
      val fromCons = epochConsumptionFrom(gop, masses).groupBy(col("source"))
        .agg(count(lit(1)).as("n_epochs"),
          sum(col("tokens_consumed")).as("consumed_tokens"),
          max(col("stream_pos_end")).as("__max_spe"))
      masses
        .join(unimaxAlloc(masses.select(col("source"), col("n_tokens")))
          .select(col("source"), col("alloc_tokens")), Seq("source"))
        .join(fromOrder, Seq("source"))
        .join(fromLineage, Seq("source"))
        .join(fromCons, Seq("source"), "left")
        .select(col("source"), col("n_docs_kept"), col("n_tokens"),
          col("stream_len"),
          expr("(stream_len + 511) div 512").as("bins_per_epoch"),
          col("worker"), col("n_steps"),
          col("lineage_positions"), col("n_docs_packed"),
          col("alloc_tokens"),
          coalesce(col("n_epochs"), lit(0L)).as("n_epochs"),
          coalesce(col("consumed_tokens"), lit(0L)).as("consumed_tokens"),
          (col("n_steps") === expr("(stream_len + 511) div 512")
            && col("__worker_max") === col("worker")).as("order_ok"),
          (col("lineage_positions") === col("stream_len")
            && col("n_docs_packed") === col("n_docs_kept")).as("pack_ok"),
          (coalesce(col("consumed_tokens"), lit(0L)) === col("alloc_tokens")
            && coalesce(col("__max_spe"), lit(0L)) <= col("stream_len"))
            .as("consume_ok"))
    }),

    // ───── mixture-drift monitor: does the shuffled order actually
    // SERVE the planned mixture, window by window? Training consumes
    // steps in parallel across workers, so window w = (step−1) div 4
    // groups the fleet's simultaneous consumption; realized stream
    // tokens per (window, source) come from x167's lineage segments
    // (each stream position counted once — the tile law), the plan is
    // each source's share of the total epoch stream (x165 orders one
    // full epoch, so the asymptotic share IS stream_len/Σstream_len),
    // and drift_ppm = realized − planned, signed. The check a loader
    // fleet alarms on: a healthy seeded shuffle shows per-window drift
    // collapsing as windows widen; a broken one shows single-source
    // stretches (x166's runs) as sustained drift. Bins-keyed
    // aggregation over the lineage, bounded (window × source) output,
    // one broadcast scalar — nothing global but the one-row total
    "x169_mixture_drift" -> ((s, d) => {
      val gop = InternalCaches.register(
        gopherRepetition(s, d).filter(col("keep") === 1L))
      val masses = InternalCaches.register(keptMasses(gop))
      val order = epochOrderFrom(masses)
      val segs = packFrame(gop
          .select(col("source"), col("doc_id"), col("n_tokens")))
        .withColumn("bin_idx", explode(expr("sequence(bin_first, bin_last)")))
        .select(col("source"), col("bin_idx"),
          (least(col("stream_pos") + col("n_tokens") + 1L
            - col("bin_idx") * 512L, lit(512L))
            - greatest(col("stream_pos") - col("bin_idx") * 512L, lit(0L)))
            .as("seg_tokens"))
      val tot = masses.agg(sum(col("stream_len")).as("__tot"))
      val planned = masses.select(col("source"),
        col("stream_len").as("planned_stream"))
      order.select(col("worker"), col("source"), col("bin_idx"),
          expr("(step - 1) div 4").as("window_idx"))
        .join(segs, Seq("source", "bin_idx"))
        .groupBy(col("window_idx"), col("source"))
        .agg(sum(col("seg_tokens")).as("realized_tokens"))
        .join(broadcast(planned), Seq("source"))
        .crossJoin(broadcast(tot))
        .withColumn("window_total",
          sum(col("realized_tokens"))
            .over(Window.partitionBy(col("window_idx"))))
        .select(col("window_idx"), col("source"), col("realized_tokens"),
          expr("realized_tokens * CAST(1000000 AS BIGINT) div window_total")
            .as("realized_ppm"),
          expr("planned_stream * CAST(1000000 AS BIGINT) div __tot")
            .as("planned_ppm"))
        .withColumn("drift_ppm", col("realized_ppm") - col("planned_ppm"))
    }))

  /** The x167 step-lineage frame over pinned survivor / mass frames —
    * (worker, step, source, bin_idx, doc_id, seg_start, seg_end);
    * shared by the x167 catalog entry and x173's checksum manifest so
    * the segments a step consumes and the segments its checksum signs
    * are the same rows. See the x167 map entry for the semantics. */
  private def stepLineageFrom(gop: DataFrame,
                              masses: DataFrame): DataFrame =
    stepLineageOver(epochOrderFrom(masses), gop)

  /** [[stepLineageFrom]] over an ALREADY-BUILT epoch order — the seam
    * x174's rehearsal uses so the order it audits and the order its
    * lineage resolves are one shared (cached) frame, not two runs of
    * the LPT collect + rank chain. */
  private def stepLineageOver(order: DataFrame, gop: DataFrame): DataFrame = {
    val segs = packFrame(gop
        .select(col("source"), col("doc_id"), col("n_tokens")))
      .withColumn("bin_idx", explode(expr("sequence(bin_first, bin_last)")))
      .select(col("source"), col("bin_idx"), col("doc_id"),
        greatest(col("stream_pos") - col("bin_idx") * 512L, lit(0L))
          .as("seg_start"),
        least(col("stream_pos") + col("n_tokens") + 1L
          - col("bin_idx") * 512L, lit(512L)).as("seg_end"))
    order.select(col("worker"), col("step"), col("source"), col("bin_idx"))
      .join(segs, Seq("source", "bin_idx"))
      .select(col("worker"), col("step"), col("source"), col("bin_idx"),
        col("doc_id"), col("seg_start"), col("seg_end"))
  }

  /** The x170 cross-epoch order frame over pinned survivor / mass
    * frames — (worker, step, epoch_idx, source, bin_idx, order_key);
    * shared by the x170 catalog entry and x171's elastic rescale so the
    * schedule a fleet resumes is the schedule it was consuming. See the
    * x170 map entry for the semantics. */
  private def multiEpochOrderFrom(gop: DataFrame,
                                  masses: DataFrame): DataFrame = {
    // r17 serial-job-floor fix: the (source, epoch, worker) planning
    // dimension is BOUNDED (≤ 3 epochs/source under the 2× UniMax cap),
    // so the consumption rows and the LPT placement compute driver-side
    // from ONE collect of the bounded mass frame (the lptAssign
    // precedent — that greedy already collected the same rows), and only
    // the DATA-SIZED work stays distributed: the bins explode and the
    // two-level rank. Values are identical — the local closed forms are
    // bit-exact mirrors (overflow-loud via Math.*Exact, UTF8-byte sort
    // order) and the pinned oracles replay them.
    val sess = gop.sparkSession
    import sess.implicits._
    val massRows = collectMasses(masses)
    val cons = epochConsumptionRows(gop, massRows)
    val plan = graft.ops.Scheduling.lptAssignRows(
      massRows.map(m => (m.source, m.nTokens)), workers = 8)
      .map { case (src, _, _, worker, _) => src -> worker }.toMap
    val pre = cons.flatMap(c => plan.get(c.source).map(w =>
      (c.source, w, c.epochIdx, c.binsConsumed)))
    val bins = pre.toDF("source", "worker", "epoch_idx", "bins_consumed")
      .select(col("source"), col("worker"), col("epoch_idx"),
        explode(expr("sequence(0, bins_consumed - 1)")).as("bin_idx"))
      .withColumn("order_key",
        conv(substring(md5(concat(lit("ep"),
          (col("epoch_idx") + 1L).cast("string"), lit("_"),
          col("source"), lit(":"), col("bin_idx"))), 1, 12), 16, 10)
          .cast("long"))
    graft.ops.Relational.rankWithinGroups(bins, Seq("worker"),
        Seq(col("epoch_idx"), col("order_key"), col("source"),
          col("bin_idx")), "step")
      .select(col("worker"), col("step"), col("epoch_idx"),
        col("source"), col("bin_idx"), col("order_key"))
  }

  /** The x168 per-epoch consumption frame over pinned survivor / mass
    * frames — (source, epoch_idx, tokens_consumed, docs_full,
    * stream_pos_end, bins_consumed); shared by the x168 catalog entry
    * and x170's cross-epoch schedule so the passes a run prices and the
    * passes it orders can never drift. See the x168 map entry for the
    * semantics and shuffle ledger. */
  private def epochConsumptionFrom(gop: DataFrame,
                                   masses: DataFrame): DataFrame = {
    val sess = gop.sparkSession
    import sess.implicits._
    epochConsumptionRows(gop, collectMasses(masses))
      .map(c => (c.source, c.epochIdx, c.tokensConsumed, c.docsFull,
        c.streamPosEnd, c.binsConsumed))
      .toDF("source", "epoch_idx", "tokens_consumed", "docs_full",
        "stream_pos_end", "bins_consumed")
  }

  /** One collected row per source of the bounded mass frame —
    * (source, n_docs_kept, n_tokens, stream_len). The collect is the
    * lptAssign contract: a bounded action on a pre-aggregated per-source
    * frame, whose single parallel job also materializes the caller's
    * mass cache before any consumer branches exist. */
  private final case class MassRow(source: String, nDocsKept: Long,
                                   nTokens: Long, streamLen: Long)
  private def collectMasses(masses: DataFrame): Seq[MassRow] =
    masses.select(col("source"), col("n_docs_kept"), col("n_tokens"),
        col("stream_len")).collect()
      .map(r => MassRow(r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq

  /** One row per (surviving source, consumption epoch). */
  private final case class ConsRow(source: String, epochIdx: Long,
                                   tokensConsumed: Long, docsFull: Long,
                                   streamPosEnd: Long, binsConsumed: Long)

  /** [[epochConsumptionFrom]]'s rows, computed driver-side over the
    * collected mass rows (r17 serial-job-floor fix). The epoch dimension
    * is bounded — ≤ ⌈alloc/n⌉ + 1 ≤ 3 rows per source under the 2×
    * UniMax cap — so only the one DATA-SIZED input stays distributed:
    * the per-source count of docs fully inside the truncated remainder
    * (one doc-keyed window + one partial-combined aggregation over the
    * survivor frame, exactly the old plan's `trunc` subtree). Every
    * integer step mirrors the old relational algebra exactly; arithmetic
    * is overflow-loud (Math.*Exact) like the ANSI plan it replaces. */
  private def epochConsumptionRows(gop: DataFrame,
                                   massRows: Seq[MassRow]): Seq[ConsRow] = {
    import java.lang.Math.addExact
    val sess = gop.sparkSession
    import sess.implicits._
    val alloc = unimaxRows(massRows.map(m => (m.source, m.nTokens)))
      .filter(_.allocTokens > 0L)
      .map(a => (a.source, a.nTokens, a.allocTokens,
        a.allocTokens / a.nTokens, a.allocTokens % a.nTokens))
    val remDf = broadcast(alloc.map { case (src, _, _, _, remX) =>
      (src, remX)
    }.toDF("source", "rem_x"))
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val truncMap = gop.select(col("source"), col("doc_id"), col("n_tokens"))
      .withColumn("cumtok", sum(col("n_tokens")).over(w))
      .join(remDf, Seq("source"))
      .groupBy(col("source"))
      .agg(sum(when(col("cumtok") <= col("rem_x"), 1L).otherwise(0L))
        .as("docs_full_trunc"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val massMap = massRows.map(m => m.source -> m).toMap
    for {
      (src, nTokens, allocTokens, nFull, remX) <- alloc
      dft <- truncMap.get(src).toSeq // inner-join semantics, as before
      m <- massMap.get(src).toSeq
      epochIdx <- 0L until (nFull + (if (remX > 0L) 1L else 0L))
    } yield {
      val full = epochIdx < nFull
      val spe = if (full) m.streamLen else addExact(remX, dft)
      ConsRow(src, epochIdx,
        tokensConsumed = if (full) nTokens else remX,
        docsFull = if (full) m.nDocsKept else dft,
        streamPosEnd = spe,
        binsConsumed = addExact(spe, 511L) / 512L)
    }
  }

  /** The x165 epoch-order frame over a pinned surviving-mass frame —
    * (worker, step, source, bin_idx, order_key); shared by the x165
    * catalog entry and the x166/x167 audits so the order they analyze
    * is the order a run consumes. See the x165 map entry. */
  private def epochOrderFrom(masses: DataFrame): DataFrame = {
    // r17 serial-job-floor fix (see multiEpochOrderFrom): the per-source
    // placement plan computes driver-side from one bounded collect; only
    // the data-sized bins explode and the two-level rank stay distributed
    val sess = masses.sparkSession
    import sess.implicits._
    val massRows = collectMasses(masses)
    val plan = graft.ops.Scheduling.lptAssignRows(
      massRows.map(m => (m.source, m.nTokens)), workers = 8)
      .map { case (src, _, _, worker, _) => src -> worker }.toMap
    val pre = massRows.flatMap(m => plan.get(m.source).map(w =>
      (m.source, w, java.lang.Math.addExact(m.streamLen, 511L) / 512L)))
    val bins = pre.toDF("source", "worker", "nbins")
      .select(col("source"), col("worker"),
        explode(expr("sequence(0, nbins - 1)")).as("bin_idx"))
      .withColumn("order_key",
        conv(substring(md5(concat(lit("ep1_"), col("source"), lit(":"),
          col("bin_idx"))), 1, 12), 16, 10).cast("long"))
    graft.ops.Relational.rankWithinGroups(bins, Seq("worker"),
        Seq(col("order_key"), col("source"), col("bin_idx")), "step")
      .select(col("worker"), col("step"), col("source"), col("bin_idx"),
        col("order_key"))
  }

  /** The per-doc Gopher repetition frame (source, doc_id, n_tokens,
    * dup2_cover_ppm, dup3_cover_ppm, keep) — shared by the x163 catalog
    * entry (which drops source) and x164's manifest so the filter can
    * never drift. See the x163 map entry for the semantics.
    *
    * Shape (r11): the metric is PER-DOCUMENT, so duplicate-gram
    * detection and the position-interval union both run IN-ROW — zero
    * exchanges (the r10 plan paid two wide ones: a (doc, k, gram)
    * groupBy with collect_list, then an exploded (doc, k, position)
    * distinct). The per-row kernel is the `gopherCov` codegen
    * Expression ([[graft.expressions.GopherAlgo]]): sort the gram start
    * indices token-wise on UTF8String bytes, walk equal runs, mark the
    * covered interval union — O(n log n · k) compares per doc with zero
    * per-gram string allocation. (A first r11 cut expressed the same
    * algebra as nested higher-order array functions; interpreted lambda
    * dispatch cost ~14 µs/gram — 20× the kernel. SCALE.md r11.) Memory
    * per row is one index array — below the exploded plan's per-doc
    * bound; skew bound = the longest document, as before.
    * PlanAssertSpec pins the zero-exchange plan. */
  private def gopherRepetition(s: SparkSession, d: String): DataFrame = {
    val toks = filter(TextOps.tokens(col("text")), w => w =!= "")
    t(s, d, "documents")
      // source participates in every downstream group/equi-join of the
      // x164–x170 chain; a null-source doc would be counted by the
      // null-tolerant groupBys but silently dropped by the inner joins,
      // breaking the conservation laws TrainingSpec pins (ADVICE r11) —
      // filter it here so the per-source stream algebra sees only
      // addressable sources, like the other source-keyed builders
      .filter(col("doc_id").isNotNull && col("text").isNotNull
        && col("source").isNotNull)
      .select(col("source"), col("doc_id"), toks.as("t"))
      .withColumn("n", size(col("t")).cast("long"))
      .filter(col("n") >= 1)
      .withColumn("cov2", Natives.gopherCov(col("t"), lit(2)))
      .withColumn("cov3", Natives.gopherCov(col("t"), lit(3)))
      .select(col("source"), col("doc_id"), col("n").as("n_tokens"),
        expr("cov2 * CAST(1000000 AS BIGINT) div n").as("dup2_cover_ppm"),
        expr("cov3 * CAST(1000000 AS BIGINT) div n").as("dup3_cover_ppm"))
      .withColumn("keep",
        when(col("dup2_cover_ppm") <= 200000L
          && col("dup3_cover_ppm") <= 180000L, 1L).otherwise(0L))
  }

  /** Per-source masses of the Gopher SURVIVORS (keep = 1) —
    * (source, n_docs_kept, n_tokens, stream_len) — shared by x164's
    * manifest and x165's epoch order so the plan a run prices and the
    * order it consumes can never drift. One partial-combined shuffle
    * over the per-doc frame. */
  private def keptMasses(kept: DataFrame): DataFrame = kept
    .filter(col("keep") === 1L)
    .groupBy(col("source"))
    .agg(count(lit(1)).as("n_docs_kept"),
      sum(col("n_tokens")).as("n_tokens"),
      sum(col("n_tokens") + lit(1L)).as("stream_len"))

  /** The UniMax prefix-capped closed form over a (source, n_tokens)
    * frame — shared by the x157 catalog entry and x164's manifest so
    * the allocation algebra can never drift. E = 2 epochs, B =
    * ⌊1.8·total⌋; see the x157 map entry for the derivation. */
  private def unimaxAlloc(per: DataFrame): DataFrame = {
    // r17 serial-job-floor fix: the closed form ran as three
    // single-partition windows + a crossJoin over the BOUNDED source
    // dimension — 4-5 serial AQE stage materializations per consumer at
    // ~80 ms each. It now collects the per-source masses once (the
    // lptAssign contract — that greedy collects the same rows) and
    // computes the identical integer recurrence driver-side, returning a
    // LocalRelation. Bit-exact: same sort order (UTF8 bytes), same
    // integer div/mod on non-negative operands, overflow-loud via
    // Math.*Exact where the ANSI plan would throw. TrainingSpec replays
    // the recurrence independently; the x157/x164/x168/x170/x171 oracles
    // pin the outputs.
    val sess = per.sparkSession
    import sess.implicits._
    val rows = per.select(col("source").cast("string"),
        col("n_tokens").cast("long")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    unimaxRows(rows)
      .map(a => (a.source, a.nTokens, a.capTokens, a.budget, a.capped,
        a.allocTokens, a.epochsPpm))
      .toDF("source", "n_tokens", "cap_tokens", "budget", "capped",
        "alloc_tokens", "epochs_ppm")
  }

  private final case class UnimaxRow(source: String, nTokens: Long,
                                     capTokens: Long, budget: Long,
                                     capped: Long, allocTokens: Long,
                                     epochsPpm: Option[Long])

  /** Spark string ordering (UTF8String binary compare) for the local
    * sort — Java's String.compareTo orders by UTF-16 code units, which
    * diverges from UTF-8 byte order on supplementary characters. */
  private def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d < 0
      i += 1
    }
    x.length < y.length
  }

  /** The UniMax prefix-capped recurrence over collected (source,
    * n_tokens) rows — the driver-side twin of the r1–r16 relational
    * closed form (see [[unimaxAlloc]]). Every step is the same integer
    * algebra: budget = (Σw·9) div 5; rank ascending by (n_tokens,
    * source); a source is CAPPED while even distribution of the
    * remaining budget over the remaining sources exceeds its 2× cap;
    * the uncapped tail splits the residual evenly with the largest
    * `rstar mod m` sources taking the +1. All operands are non-negative
    * (rstar ≥ 0 because every capped prefix satisfied its budget
    * condition), so Scala's `/`/`%` equal Spark's `div`/`%` exactly. */
  private def unimaxRows(rows: Seq[(String, Long)]): Seq[UnimaxRow] = {
    import java.lang.Math.{addExact, multiplyExact, subtractExact}
    val sorted = rows.sortWith { (a, b) =>
      if (a._2 != b._2) a._2 < b._2 else utf8Lt(a._1, b._1)
    }
    val k = sorted.length.toLong
    val wTot = sorted.foldLeft(0L)((acc, r) => addExact(acc, r._2))
    val budget = multiplyExact(wTot, 9L) / 5L
    // first rank (ascending) whose 2× cap no longer fits the even split
    var psum = 0L
    var failRn = 0L // 0 = none
    var i = 0
    while (i < sorted.length) {
      val rn = i + 1L
      val n = sorted(i)._2
      val lhs = multiplyExact(multiplyExact(n, 2L), k - rn + 1L)
      val rhs = subtractExact(budget, multiplyExact(psum, 2L))
      if (lhs > rhs && failRn == 0L) failRn = rn
      psum = addExact(psum, n)
      i += 1
    }
    val cappedCount = if (failRn == 0L) k else failRn - 1L
    val cappedSum = sorted.take(cappedCount.toInt)
      .foldLeft(0L)((acc, r) => addExact(acc, r._2))
    val m = k - cappedCount
    val rstar = subtractExact(budget, multiplyExact(cappedSum, 2L))
    val mEff = math.max(m, 1L)
    sorted.zipWithIndex.map { case ((src, n), idx) =>
      val rn = idx + 1L
      val capped = failRn == 0L || rn < failRn
      val alloc =
        if (capped) multiplyExact(n, 2L)
        else rstar / mEff + (if (rn > k - rstar % mEff) 1L else 0L)
      val epochsPpm =
        if (n == 0L) None
        else Some(addExact(multiplyExact(alloc / n, 1000000L),
          multiplyExact(alloc % n, 1000000L) / n))
      UnimaxRow(src, n, multiplyExact(n, 2L), budget,
        if (capped) 1L else 0L, alloc, epochsPpm)
    }
  }

  /** The (quality micro-score, label) frame shared by the x160 AUC and
    * x161 PR-sweep evaluators: qm = x142's floor(quality · 1e6)
    * convention; pos = 1 iff the doc is LOW-REPETITION (repeated-token
    * surplus n − n_distinct ≤ 10 over x10's normalized non-empty
    * tokens) — a label the length/punct/digit quality heuristic does
    * NOT see, so the evaluation is leak-free. One narrow projection
    * over documents. */
  private def qmLabelFrame(s: SparkSession, d: String): DataFrame = {
    val toks = filter(TextOps.tokens(col("text")), w => w =!= "")
    t(s, d, "documents")
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
      .select(
        floor(TextOps.qualityScore(col("text"))
          * expr("CAST(1000000.0 AS DOUBLE)")).as("qm"),
        when(size(toks) - size(array_distinct(toks)) <= 10, 1L)
          .otherwise(0L).as("pos"))
  }

  /** x154's concat-and-chunk packing arithmetic over a prepared
    * (source, doc_id, n_tokens ≥ 1) frame — shared by [[sequencePack]]
    * (the whole corpus) and x167's lineage (the Gopher survivors) so
    * the stream algebra can never drift between them. */
  private def packFrame(base: DataFrame): DataFrame = {
    val B = 512L
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    base
      .withColumn("stream_pos",
        coalesce(sum(col("n_tokens") + lit(1L)).over(w), lit(0L)))
      .select(col("source"), col("doc_id"), col("n_tokens"),
        col("stream_pos"),
        expr(s"stream_pos div $B").as("bin_first"),
        // end index = stream_pos + (n_tokens + 1) - 1
        expr(s"(stream_pos + n_tokens) div $B").as("bin_last"),
        expr(s"stream_pos % $B").as("bin_offset"))
  }

  /** x154's packed frame — shared by the per-doc catalog entry and the
    * x155 report so the two can never drift. See the x154 map entry for
    * the semantics. */
  private def sequencePack(s: SparkSession, d: String): DataFrame = {
    val n = size(filter(TextOps.tokens(col("text")), w => w =!= ""))
      .cast("long")
    packFrame(t(s, d, "documents")
      .filter(col("doc_id").isNotNull && col("text").isNotNull
        && col("source").isNotNull)
      .select(col("source"), col("doc_id"), n.as("n_tokens"))
      .filter(col("n_tokens") >= 1))
  }

  val oracle: Map[String, String] = Map(
    "x150_bpe_train" ->
      s"""WITH c0 AS (SELECT doc_id, ${normOf("text")} AS s FROM documents
           WHERE doc_id IS NOT NULL AND text IS NOT NULL),
         ${bpeRoundSql(1, "c0")},
         ${bpeRoundSql(2, "c1")},
         ${bpeRoundSql(3, "c2")}
         SELECT * FROM (
           SELECT CAST(1 AS BIGINT) AS step, a || '_' || b AS pr,
             n AS n_occ, (SELECT nt FROM t1) AS n_tokens_after FROM m1
           UNION ALL SELECT CAST(2 AS BIGINT), a || '_' || b, n,
             (SELECT nt FROM t2) FROM m2
           UNION ALL SELECT CAST(3 AS BIGINT), a || '_' || b, n,
             (SELECT nt FROM t3) FROM m3)""",
    // x151: every vector's nearest frozen-seed centroid (cosine desc,
    // lowest cid) — seed + three appends + a no-op redelivery must land
    // exactly here
    "x151_ann_index_upsert" ->
      s"""WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings WHERE vec_id IS NOT NULL),
         cent AS (SELECT vec_id AS cid, v AS cv FROM ev
           WHERE vec_id < 16 AND vec_id % 4 <> 0),
         assign AS (SELECT e.vec_id, c.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.cid) AS rn
           FROM ev e, cent c)
         SELECT vec_id, CAST(cid AS BIGINT) AS cell,
           CASE WHEN vec_id % 4 <> 0 THEN 'seed'
                WHEN vec_id % 12 = 0 THEN 'b1'
                WHEN vec_id % 12 = 4 THEN 'b2'
                ELSE 'b3' END AS phase
         FROM assign WHERE rn = 1""",
    // x152: x122's probe-independent CTEs + exact-L2 truth, then the
    // candidate/ADC/top-10/hit chain once per probe setting
    "x152_multiprobe_recall" ->
      s"""WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         cent AS (SELECT vec_id AS cid, v AS cv FROM ev WHERE vec_id < 16),
         assign AS (SELECT e.vec_id, c.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.cid) AS rn
           FROM ev e, cent c),
         cells AS (SELECT vec_id, cid AS cell FROM assign WHERE rn = 1),
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
         truth AS (SELECT qid, nid FROM (
             SELECT q.vec_id AS qid, e.vec_id AS nid,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                 list_inner_product(
                   list_transform(range(64), i -> q.v[i + 1] - e.v[i + 1]),
                   list_transform(range(64), i -> q.v[i + 1] - e.v[i + 1])) ASC,
                 e.vec_id ASC) AS rn
             FROM ev e, (SELECT * FROM ev WHERE vec_id < 8) q
             WHERE e.vec_id <> q.vec_id)
           WHERE rn <= 10),
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
         rcodes AS (SELECT vec_id, s, fcid AS code FROM (
             SELECT vec_id, s, fcid,
               ROW_NUMBER() OVER (PARTITION BY vec_id, s
                 ORDER BY d ASC, fcid ASC) AS rn
             FROM rsub)
           WHERE rn = 1),
         qca AS (SELECT vec_id AS qid, cid AS qcell, rn FROM assign
           WHERE vec_id < 8 AND rn <= 4),
         qres AS (SELECT qc.qid, qc.qcell,
             list_transform(range(64), i -> e.v[i + 1] - c.cv[i + 1]) AS rv
           FROM qca qc JOIN ev e ON e.vec_id = qc.qid
           JOIN cent c ON c.cid = qc.qcell),
         rlut AS (SELECT q.qid, q.qcell, s.s, f.fcid AS code,
             list_inner_product(
               list_transform(range(8), i -> q.rv[s.s*8 + i + 1] - f.fv[s.s*8 + i + 1]),
               list_transform(range(8), i -> q.rv[s.s*8 + i + 1] - f.fv[s.s*8 + i + 1])) AS d
           FROM qres q, range(0, 8) s(s), fine f),
         ${probeBlockSql(1)},
         ${probeBlockSql(2)},
         ${probeBlockSql(4)},
         ${probeResidualBlockSql(1)},
         ${probeResidualBlockSql(2)},
         ${probeResidualBlockSql(4)}
         SELECT * FROM (
           SELECT 'abs' AS scheme, CAST(1 AS BIGINT) AS probes, qid, n_hit,
             CAST(n_hit AS DOUBLE) / 10 AS recall FROM hit1
           UNION ALL SELECT 'abs', CAST(2 AS BIGINT), qid, n_hit,
             CAST(n_hit AS DOUBLE) / 10 FROM hit2
           UNION ALL SELECT 'abs', CAST(4 AS BIGINT), qid, n_hit,
             CAST(n_hit AS DOUBLE) / 10 FROM hit4
           UNION ALL SELECT 'residual', CAST(1 AS BIGINT), qid, n_hit,
             CAST(n_hit AS DOUBLE) / 10 FROM hitR1
           UNION ALL SELECT 'residual', CAST(2 AS BIGINT), qid, n_hit,
             CAST(n_hit AS DOUBLE) / 10 FROM hitR2
           UNION ALL SELECT 'residual', CAST(4 AS BIGINT), qid, n_hit,
             CAST(n_hit AS DOUBLE) / 10 FROM hitR4)""",
    // x153: milli-grid per-dim variance → snake permutation → the abs PQ
    // chain on both layouts over ONE shared coarse index + exact truth
    "x153_opq_perm_recall" ->
      s"""WITH qv AS (SELECT vec_id, list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
           FROM embeddings WHERE vec_id IS NOT NULL),
         ds AS (SELECT i, CAST(SUM(q[i+1]) AS BIGINT) AS s,
             CAST(SUM(q[i+1]*q[i+1]) AS BIGINT) AS s2,
             CAST(COUNT(*) AS BIGINT) AS n
           FROM qv, range(0, 64) t(i) GROUP BY i),
         vr AS (SELECT i, s2 - 2*mu*s + n*mu*mu AS vn FROM (
             SELECT i, s, s2, n,
               CAST(floor(CAST(s AS DOUBLE)/n) AS BIGINT) AS mu FROM ds)),
         rk AS (SELECT i, ROW_NUMBER() OVER (ORDER BY vn DESC, i) - 1 AS r
           FROM vr),
         pm AS (SELECT i,
             (CASE WHEN (r // 8) % 2 = 0 THEN r % 8 ELSE 7 - (r % 8) END) * 8
               + (r // 8) AS k
           FROM rk),
         pl AS (SELECT list(i ORDER BY k) AS p FROM pm),
         ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings WHERE vec_id IS NOT NULL),
         evp AS (SELECT vec_id,
             list_transform(range(64), k -> v[p[k+1]+1]) AS v
           FROM ev, pl),
         cent AS (SELECT vec_id AS cid, v AS cv FROM ev WHERE vec_id < 16),
         centp AS (SELECT vec_id AS cid, v AS cv FROM evp WHERE vec_id < 16),
         assign AS (SELECT e.vec_id, c.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.cid) AS rn
           FROM ev e, cent c),
         cells AS (SELECT vec_id, cid AS cell FROM assign WHERE rn = 1),
         truth AS (SELECT qid, nid FROM (
             SELECT q.vec_id AS qid, e.vec_id AS nid,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                 list_inner_product(
                   list_transform(range(64), i -> q.v[i + 1] - e.v[i + 1]),
                   list_transform(range(64), i -> q.v[i + 1] - e.v[i + 1])) ASC,
                 e.vec_id ASC) AS rn
             FROM ev e, (SELECT * FROM ev WHERE vec_id < 8) q
             WHERE e.vec_id <> q.vec_id)
           WHERE rn <= 10),
         ${absChainSql("B", "ev", "cent")},
         ${absChainSql("P", "evp", "centp")},
         qcS1 AS (SELECT vec_id AS qid, cid AS cell FROM assign
           WHERE vec_id < 8 AND rn <= 1),
         candS1 AS (SELECT qc.qid, ce.vec_id AS neighbor_id
           FROM qcS1 qc JOIN cells ce
           ON ce.cell = qc.cell AND ce.vec_id <> qc.qid),
         qcS2 AS (SELECT vec_id AS qid, cid AS cell FROM assign
           WHERE vec_id < 8 AND rn <= 2),
         candS2 AS (SELECT qc.qid, ce.vec_id AS neighbor_id
           FROM qcS2 qc JOIN cells ce
           ON ce.cell = qc.cell AND ce.vec_id <> qc.qid),
         qcS4 AS (SELECT vec_id AS qid, cid AS cell FROM assign
           WHERE vec_id < 8 AND rn <= 4),
         candS4 AS (SELECT qc.qid, ce.vec_id AS neighbor_id
           FROM qcS4 qc JOIN cells ce
           ON ce.cell = qc.cell AND ce.vec_id <> qc.qid),
         ${probeAbsVariantBlockSql("B", 1)},
         ${probeAbsVariantBlockSql("B", 2)},
         ${probeAbsVariantBlockSql("B", 4)},
         ${probeAbsVariantBlockSql("P", 1)},
         ${probeAbsVariantBlockSql("P", 2)},
         ${probeAbsVariantBlockSql("P", 4)}
         SELECT * FROM (
           SELECT 'base' AS scheme, CAST(1 AS BIGINT) AS probes, qid, n_hit,
             CAST(n_hit AS DOUBLE) / 10 AS recall FROM hitB1
           UNION ALL SELECT 'base', CAST(2 AS BIGINT), qid, n_hit,
             CAST(n_hit AS DOUBLE) / 10 FROM hitB2
           UNION ALL SELECT 'base', CAST(4 AS BIGINT), qid, n_hit,
             CAST(n_hit AS DOUBLE) / 10 FROM hitB4
           UNION ALL SELECT 'opqperm', CAST(1 AS BIGINT), qid, n_hit,
             CAST(n_hit AS DOUBLE) / 10 FROM hitP1
           UNION ALL SELECT 'opqperm', CAST(2 AS BIGINT), qid, n_hit,
             CAST(n_hit AS DOUBLE) / 10 FROM hitP2
           UNION ALL SELECT 'opqperm', CAST(4 AS BIGINT), qid, n_hit,
             CAST(n_hit AS DOUBLE) / 10 FROM hitP4)""",
    // x154: x10's token convention → per-source exclusive running sum of
    // (n_tokens + 1 separator) → integer bin/offset arithmetic
    "x154_sequence_packing" ->
      s"""WITH d AS (SELECT source, doc_id,
             CAST(len(list_filter(string_split(${normOf("text")}, ' '),
               w -> w <> '')) AS BIGINT) AS n_tokens
           FROM documents
           WHERE doc_id IS NOT NULL AND text IS NOT NULL
             AND source IS NOT NULL),
         p AS (SELECT source, doc_id, n_tokens,
             CAST(COALESCE(SUM(n_tokens + 1) OVER (PARTITION BY source
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS stream_pos
           FROM d WHERE n_tokens >= 1)
         SELECT source, doc_id, n_tokens, stream_pos,
           CAST(stream_pos // 512 AS BIGINT) AS bin_first,
           CAST((stream_pos + n_tokens) // 512 AS BIGINT) AS bin_last,
           CAST(stream_pos % 512 AS BIGINT) AS bin_offset
         FROM p""",
    // x156: the next-fit recurrence replayed as a DuckDB recursive CTE —
    // one frontier row per source per iteration, joined to the next
    // rn — the sequential semantics the Spark side runs as a
    // secondary-sort forward scan
    "x156_nextfit_packing" ->
      s"""WITH RECURSIVE d AS (SELECT source, doc_id,
             CAST(len(list_filter(string_split(${normOf("text")}, ' '),
               w -> w <> '')) AS BIGINT) AS n_tokens
           FROM documents
           WHERE doc_id IS NOT NULL AND text IS NOT NULL
             AND source IS NOT NULL),
         b AS (SELECT source, doc_id, n_tokens,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
           FROM d WHERE n_tokens >= 1),
         rec AS (
           SELECT source, doc_id, n_tokens, rn,
             CAST(0 AS BIGINT) AS bin_idx, CAST(0 AS BIGINT) AS bin_offset,
             n_tokens AS fill
           FROM b WHERE rn = 1
           UNION ALL
           SELECT nb.source, nb.doc_id, nb.n_tokens, nb.rn,
             CASE WHEN r.fill > 0 AND r.fill + nb.n_tokens > 512
               THEN r.bin_idx + 1 ELSE r.bin_idx END,
             CASE WHEN r.fill > 0 AND r.fill + nb.n_tokens > 512
               THEN CAST(0 AS BIGINT) ELSE r.fill END,
             CASE WHEN r.fill > 0 AND r.fill + nb.n_tokens > 512
               THEN nb.n_tokens ELSE r.fill + nb.n_tokens END
           FROM rec r JOIN b nb
             ON nb.source = r.source AND nb.rn = r.rn + 1)
         SELECT source, doc_id, n_tokens, bin_idx, bin_offset FROM rec""",
    // x155: x154's CTEs aggregated per source — bins, padding, straddles,
    // integer-ppm utilization
    "x155_packing_report" ->
      s"""WITH d AS (SELECT source, doc_id,
             CAST(len(list_filter(string_split(${normOf("text")}, ' '),
               w -> w <> '')) AS BIGINT) AS n_tokens
           FROM documents
           WHERE doc_id IS NOT NULL AND text IS NOT NULL
             AND source IS NOT NULL),
         p AS (SELECT source, doc_id, n_tokens,
             CAST(COALESCE(SUM(n_tokens + 1) OVER (PARTITION BY source
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS stream_pos
           FROM d WHERE n_tokens >= 1),
         g AS (SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
             CAST(SUM(n_tokens + 1) AS BIGINT) AS stream_len,
             CAST(SUM(CASE WHEN (stream_pos + n_tokens) // 512
                 > stream_pos // 512 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_straddling
           FROM p GROUP BY source)
         SELECT source, n_docs, total_tokens,
           CAST((stream_len + 511) // 512 AS BIGINT) AS n_bins,
           CAST(((stream_len + 511) // 512) * 512 - stream_len AS BIGINT)
             AS pad_tokens,
           n_straddling,
           CAST((total_tokens * 1000000) // (((stream_len + 511) // 512) * 512)
             AS BIGINT) AS utilization_ppm
         FROM g""",
    // x157: the same prefix-capped waterfill closed form over the
    // per-source token masses — rank/prefix-sum windows, the global
    // fail_rn/capped_sum scalars as empty-OVER windows, identical
    // integer div/mod arithmetic
    "x157_unimax_budget" ->
      s"""WITH w0 AS (SELECT source,
             CAST(SUM(len(list_filter(string_split(${normOf("text")}, ' '),
               q -> q <> ''))) AS BIGINT) AS n_tokens
           FROM documents
           WHERE doc_id IS NOT NULL AND text IS NOT NULL
             AND source IS NOT NULL GROUP BY source),
         ${unimaxCteFrom("w0")}
         SELECT source, n_tokens,
           CAST(n_tokens * 2 AS BIGINT) AS cap_tokens, budget, capped,
           CAST(alloc_tokens AS BIGINT) AS alloc_tokens,
           CASE WHEN n_tokens = 0 THEN NULL
             ELSE CAST((alloc_tokens // n_tokens) * 1000000
               + ((alloc_tokens % n_tokens) * 1000000) // n_tokens
               AS BIGINT) END AS epochs_ppm
         FROM j""",
    // x158: the bounded-pool best-fit recurrence with the pool carried
    // as LIST<STRUCT(b, f)> through the x156-style recursive frontier.
    // Best-fit/evict selection rides ONE encoded key per open bin,
    // key = (512 − f)·2^20 + b: list_min over feasible keys (f + n ≤
    // 512) is "fullest, ties lowest id"; the same min without the
    // feasibility filter is the eviction choice (negative high part for
    // oversized bins still orders correctly; keys are unique because b
    // is, so the pool update matches on key instead of decoding the
    // possibly-negative mod). The b < 2^20 encode bound = a million
    // open-bin IDS per source, far above the 4-bin pool's reach at
    // oracle scale
    "x158_bestfit_packing" ->
      s"""WITH RECURSIVE d AS (SELECT source, doc_id,
             CAST(len(list_filter(string_split(${normOf("text")}, ' '),
               w -> w <> '')) AS BIGINT) AS n_tokens
           FROM documents
           WHERE doc_id IS NOT NULL AND text IS NOT NULL
             AND source IS NOT NULL),
         b AS (SELECT source, doc_id, n_tokens,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
           FROM d WHERE n_tokens >= 1),
         rec AS (
           SELECT source, doc_id, n_tokens, rn,
             CAST(0 AS BIGINT) AS bin_idx, CAST(0 AS BIGINT) AS bin_offset,
             [{'b': CAST(0 AS BIGINT), 'f': n_tokens}] AS pool,
             CAST(1 AS BIGINT) AS next_b
           FROM b WHERE rn = 1
           UNION ALL
           SELECT nb.source, nb.doc_id, nb.n_tokens, nb.rn,
             CASE WHEN st.bk IS NOT NULL THEN st.bk % 1048576
               ELSE r.next_b END,
             CASE WHEN st.bk IS NOT NULL THEN 512 - st.bk // 1048576
               ELSE CAST(0 AS BIGINT) END,
             CASE WHEN st.bk IS NOT NULL
               THEN list_transform(r.pool, x ->
                 CASE WHEN (512 - x.f) * 1048576 + x.b = st.bk
                   THEN {'b': x.b, 'f': x.f + nb.n_tokens} ELSE x END)
               WHEN len(r.pool) >= 4
               THEN list_append(list_filter(r.pool, x ->
                 (512 - x.f) * 1048576 + x.b <> st.ek),
                 {'b': r.next_b, 'f': nb.n_tokens})
               ELSE list_append(r.pool, {'b': r.next_b, 'f': nb.n_tokens})
               END,
             CASE WHEN st.bk IS NOT NULL THEN r.next_b
               ELSE r.next_b + 1 END
           FROM rec r JOIN b nb
             ON nb.source = r.source AND nb.rn = r.rn + 1,
           LATERAL (SELECT
               list_min(list_transform(r.pool, x ->
                 CASE WHEN x.f + nb.n_tokens <= 512
                   THEN (512 - x.f) * 1048576 + x.b END)) AS bk,
               list_min(list_transform(r.pool, x ->
                 (512 - x.f) * 1048576 + x.b)) AS ek) st)
         SELECT source, doc_id, n_tokens, bin_idx, bin_offset FROM rec""",
    // x159: the x154 CTEs exploded over each doc's intersected bin
    // range, with the same half-open [sp, sp+n+1) segment arithmetic
    "x159_attention_boundaries" ->
      s"""WITH d AS (SELECT source, doc_id,
             CAST(len(list_filter(string_split(${normOf("text")}, ' '),
               w -> w <> '')) AS BIGINT) AS n_tokens
           FROM documents
           WHERE doc_id IS NOT NULL AND text IS NOT NULL
             AND source IS NOT NULL),
         p AS (SELECT source, doc_id, n_tokens,
             CAST(COALESCE(SUM(n_tokens + 1) OVER (PARTITION BY source
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS stream_pos
           FROM d WHERE n_tokens >= 1)
         SELECT source, CAST(u.bin_idx AS BIGINT) AS bin_idx, doc_id,
           CAST(least(stream_pos + n_tokens + 1 - u.bin_idx * 512, 512)
             AS BIGINT) AS seg_end,
           CAST(greatest(stream_pos - u.bin_idx * 512, 0)
             AS BIGINT) AS seg_start
         FROM p, unnest(range(stream_pos // 512,
           (stream_pos + n_tokens) // 512 + 1)) AS u(bin_idx)""",
    // x160: the same midrank algebra — cumulative strictly-below counts
    // over the per-score aggregate, doubled-midrank contributions summed
    // in HUGEINT (Spark's DECIMAL(38,0), the x132 pairing)
    "x160_quality_auc" ->
      s"""WITH $qmLabelCte,
         rk AS (SELECT *,
             CAST(COALESCE(SUM(n) OVER (ORDER BY qm
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS less
           FROM bs),
         ag AS (SELECT CAST(SUM(n_pos) AS BIGINT) AS np,
             CAST(SUM(n - n_pos) AS BIGINT) AS nn,
             SUM(CAST(n_pos AS HUGEINT) * (less * 2 + n + 1)) AS mrsum
           FROM rk)
         SELECT np AS n_pos, nn AS n_neg,
           CAST(mrsum - CAST(np AS HUGEINT) * (np + 1) AS BIGINT) AS auc_num,
           CAST(CAST(np AS HUGEINT) * nn * 2 AS BIGINT) AS auc_den,
           CAST(mrsum - CAST(np AS HUGEINT) * (np + 1) AS DOUBLE)
             / CAST(CAST(np AS HUGEINT) * nn * 2 AS DOUBLE) AS auc
         FROM ag""",
    // x161: 21-row threshold grid range-joined to the same per-score
    // aggregate; class totals from one extra pass over bs
    "x161_quality_pr_sweep" ->
      s"""WITH $qmLabelCte,
         tt AS (SELECT CAST(SUM(n_pos) AS BIGINT) AS np_all,
             CAST(SUM(n - n_pos) AS BIGINT) AS nn_all FROM bs),
         ta AS (SELECT CAST(i * 50000 AS BIGINT) AS tau
           FROM range(0, 21) r(i)),
         jt AS (SELECT tau,
             CAST(COALESCE(SUM(n_pos), 0) AS BIGINT) AS tp,
             CAST(COALESCE(SUM(n - n_pos), 0) AS BIGINT) AS fp
           FROM ta LEFT JOIN bs ON bs.qm >= ta.tau GROUP BY tau)
         SELECT tau, tp, fp,
           np_all - tp AS fn, nn_all - fp AS tn,
           CASE WHEN tp + fp = 0 THEN NULL
             ELSE CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS prec,
           CASE WHEN np_all = 0 THEN NULL
             ELSE CAST(tp AS DOUBLE) / CAST(np_all AS DOUBLE) END AS recall
         FROM jt CROSS JOIN tt""",
    // x162: the LPT greedy as a serial recursive frontier over the
    // bounded source dimension — loads as LIST<STRUCT(w, l)>, the
    // least-loaded worker (ties lowest id) selected by min over
    // l·1024 + w keys (loads are non-negative, so no negative-mod
    // decode issue here)
    "x162_lpt_schedule" ->
      s"""WITH RECURSIVE w0 AS (SELECT source,
             CAST(SUM(len(list_filter(string_split(${normOf("text")}, ' '),
               q -> q <> ''))) AS BIGINT) AS n_tokens
           FROM documents
           WHERE doc_id IS NOT NULL AND text IS NOT NULL
             AND source IS NOT NULL GROUP BY source),
         o AS (SELECT source, n_tokens,
             ROW_NUMBER() OVER (ORDER BY n_tokens DESC, source) AS rn
           FROM w0),
         rec AS (
           SELECT source, n_tokens, rn,
             CAST(0 AS BIGINT) AS worker, n_tokens AS load_after,
             list_transform(range(0, 8), i -> {'w': CAST(i AS BIGINT),
               'l': CASE WHEN i = 0 THEN n_tokens
                 ELSE CAST(0 AS BIGINT) END}) AS loads
           FROM o WHERE rn = 1
           UNION ALL
           SELECT nx.source, nx.n_tokens, nx.rn,
             st.mk % 1024,
             st.mk // 1024 + nx.n_tokens,
             list_transform(r.loads, x ->
               CASE WHEN x.l * 1024 + x.w = st.mk
                 THEN {'w': x.w, 'l': x.l + nx.n_tokens} ELSE x END)
           FROM rec r JOIN o nx ON nx.rn = r.rn + 1,
           LATERAL (SELECT list_min(list_transform(r.loads,
             x -> x.l * 1024 + x.w)) AS mk) st)
         SELECT source, n_tokens, CAST(rn - 1 AS BIGINT) AS assign_rank,
           CAST(worker AS BIGINT) AS worker, load_after
         FROM rec""",
    // x163: the same union-of-intervals semantics — dup n-grams via
    // GROUP BY / HAVING, covered positions via a join back + DISTINCT
    // (1-based positions; only counts are emitted, so the base offset
    // cancels)
    "x163_gopher_repetition" ->
      s"""WITH $gopherCte
         SELECT doc_id, n_tokens, dup2_cover_ppm, dup3_cover_ppm, keep
         FROM gop""",
    // x164: the composition oracle — the gopher chain picks survivors,
    // the unimax chain allocates over their per-source masses, x155's
    // ceil arithmetic prices one epoch's bins; kept/dropped counts and
    // the allocation join back on source
    "x164_loader_manifest" ->
      s"""WITH $gopherCte,
         $keptMassesCte,
         dr AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs_dropped
           FROM gop WHERE keep = 0 GROUP BY source),
         ${unimaxCteFrom("km")}
         SELECT km.source, km.n_docs_kept,
           COALESCE(dr.n_docs_dropped, 0) AS n_docs_dropped,
           km.n_tokens AS kept_tokens,
           CAST(j.alloc_tokens AS BIGINT) AS alloc_tokens,
           CASE WHEN km.n_tokens = 0 THEN NULL
             ELSE CAST((j.alloc_tokens // km.n_tokens) * 1000000
               + ((j.alloc_tokens % km.n_tokens) * 1000000) // km.n_tokens
               AS BIGINT) END AS epochs_ppm,
           CAST((km.stream_len + 511) // 512 AS BIGINT) AS bins_per_epoch
         FROM km
         JOIN j ON j.source = km.source
         LEFT JOIN dr ON dr.source = km.source""",
    // x165: the composition oracle — the gopher chain picks survivors,
    // the x162 LPT recursion places their masses on 8 workers, each
    // source's (stream_len + 511) // 512 bins unnest, the 48-bit md5
    // order key replays bit-for-bit ('0x' prefix-cast = Spark's
    // conv(..., 16, 10)), and step is the per-worker rank — DuckDB's
    // serial window vs the engine's two-level parallel rank, identical
    // because the order key is effectively unique
    "x165_epoch_order" ->
      s"""WITH RECURSIVE $epochOrderCte
         SELECT worker, step, source, bin_idx, order_key FROM ranked""",
    // x166: the same chain, runs found by the identical gaps-and-islands
    // algebra (step − per-(worker,source) rank is constant exactly on a
    // consecutive run)
    "x166_interleave_audit" ->
      s"""WITH RECURSIVE $epochOrderCte,
         rk AS (SELECT worker, source, step,
             step - ROW_NUMBER() OVER (PARTITION BY worker, source
               ORDER BY step) AS island
           FROM ranked),
         runs AS (SELECT worker, source, island,
             CAST(COUNT(*) AS BIGINT) AS run_len
           FROM rk GROUP BY 1, 2, 3)
         SELECT worker, source,
           CAST(SUM(run_len) AS BIGINT) AS n_steps,
           CAST(COUNT(*) AS BIGINT) AS n_runs,
           CAST(MAX(run_len) AS BIGINT) AS max_run_len
         FROM runs GROUP BY worker, source""",
    // x167: the survivors re-run x154's stream window (over gop keep=1
    // — the same masses km aggregates), explode to intersected bins
    // with x159's segment arithmetic, and join the ranked order
    "x167_step_lineage" ->
      s"""WITH RECURSIVE $epochOrderCte,
         $lineageSegCte
         SELECT r.worker, r.step, r.source, r.bin_idx, s.doc_id,
           s.seg_start, s.seg_end
         FROM ranked r JOIN seg s
           ON s.source = r.source AND s.bin_idx = r.bin_idx""",
    // x168: the unimax chain's alloc split into full + truncated passes;
    // the truncated pass's consumed stream position = rem + the count of
    // docs whose cumulative token prefix fits inside rem (each fully
    // consumed doc consumes its separator too)
    "x168_epoch_consumption" ->
      s"""WITH $gopherCte,
         $keptMassesCte,
         ${unimaxCteFrom("km")},
         $epochConsumptionCte
         SELECT source, epoch_idx,
           CAST(tokens_consumed AS BIGINT) AS tokens_consumed,
           CAST(docs_full AS BIGINT) AS docs_full,
           CAST(stream_pos_end AS BIGINT) AS stream_pos_end,
           CAST((stream_pos_end + 511) // 512 AS BIGINT) AS bins_consumed
         FROM fin""",
    // x170: the cross-epoch composition oracle — x168's fin passes
    // (unimax alloc → full + truncated epochs) re-enter x165's machinery
    // per epoch: the SAME LPT recursion places sources, each pass's
    // bins_consumed prefix unnests, the md5 key re-seeds per epoch
    // ('ep' || epoch+1 || '_'), and the per-worker rank orders by
    // (epoch_idx, order_key, source, bin_idx) so epochs concatenate
    "x170_multiepoch_order" ->
      s"""WITH RECURSIVE $epochOrderCte,
         ${unimaxCteFrom("km")},
         $epochConsumptionCte,
         $multiEpochOrderCte
         SELECT worker, step, epoch_idx, source, bin_idx, order_key
         FROM mranked""",
    // x171: the rescale oracle — the x170 chain through mranked, the
    // consumed prefix (step ≤ 4 per worker) cut, the remaining bin
    // counts re-enter the SAME LPT recursion at 12 workers (rmass names
    // its weight n_tokens for the shared CTE), and the rank replays
    // over the new placement with the ORIGINAL epoch-seeded keys
    "x171_elastic_rescale" ->
      s"""WITH RECURSIVE $epochOrderCte,
         ${unimaxCteFrom("km")},
         $epochConsumptionCte,
         $multiEpochOrderCte,
         rem2 AS (SELECT epoch_idx, source, bin_idx, order_key
           FROM mranked WHERE step > 4),
         rmass AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens
           FROM rem2 GROUP BY source),
         ${lptCte("rmass", "o2", "rec2", 12)}
         SELECT CAST(rc.worker AS BIGINT) AS worker,
           CAST(ROW_NUMBER() OVER (PARTITION BY rc.worker
             ORDER BY r.epoch_idx, r.order_key, r.source, r.bin_idx)
             AS BIGINT) AS step,
           r.epoch_idx, r.source, r.bin_idx, r.order_key
         FROM rem2 r JOIN rec2 rc ON rc.source = r.source""",
    // x172: the curriculum oracle — natural shares from km's stream
    // masses, quality shares from the survivors' floor(quality·1e6)
    // micro-scores (x142's convention), linearly annealed over the 4
    // pinned phases in pure integer arithmetic
    "x172_curriculum_mixture" ->
      s"""WITH $gopherCte,
         $keptMassesCte,
         qd AS (SELECT g.source,
             CAST(floor(($qualitySql) * CAST(1000000.0 AS DOUBLE))
               AS BIGINT) AS qm
           FROM documents JOIN gop g ON g.doc_id = documents.doc_id
           WHERE g.keep = 1),
         qs AS (SELECT source, CAST(SUM(qm) AS BIGINT) AS q_mass
           FROM qd GROUP BY source),
         qt AS (SELECT CAST(SUM(q_mass) AS BIGINT) AS q_tot FROM qs),
         nt AS (SELECT CAST(SUM(stream_len) AS BIGINT) AS s_tot FROM km),
         cb AS (SELECT km.source,
             CAST(km.stream_len * 1000000 // nt.s_tot AS BIGINT)
               AS nat_ppm,
             CAST(qs.q_mass * 1000000 // qt.q_tot AS BIGINT) AS qual_ppm
           FROM km JOIN qs ON qs.source = km.source
           CROSS JOIN nt CROSS JOIN qt)
         SELECT CAST(u.p AS BIGINT) AS phase_idx, source, nat_ppm,
           qual_ppm,
           CAST(((3 - u.p) * nat_ppm + u.p * qual_ppm) // 3 AS BIGINT)
             AS share_ppm
         FROM cb, unnest(range(0, 4)) u(p)""",
    // x173: the checksum oracle — x167's lineage rows signed with the
    // 48-bit md5 of (source:doc:bin:start:end), summed per (worker,
    // step); '0x' prefix-cast = Spark's conv(..., 16, 10)
    "x173_shard_checksums" ->
      s"""WITH RECURSIVE $epochOrderCte,
         $lineageSegCte,
         lin AS (SELECT r.worker, r.step, r.source, r.bin_idx,
             s.doc_id, s.seg_start, s.seg_end
           FROM ranked r JOIN seg s
             ON s.source = r.source AND s.bin_idx = r.bin_idx)
         SELECT worker, step, CAST(COUNT(*) AS BIGINT) AS n_segs,
           CAST(SUM(CAST(('0x' || substr(md5(source || ':' || doc_id
             || ':' || bin_idx || ':' || seg_start || ':' || seg_end),
             1, 12)) AS BIGINT)) AS BIGINT) AS checksum
         FROM lin GROUP BY worker, step""",
    // x174: the dress-rehearsal oracle recomputes every stage's roll-up
    // independently over the shared CTE chains (gop/km → ranked, j →
    // fin, seg) and re-derives the three conservation booleans
    "x174_loader_rehearsal" ->
      s"""WITH RECURSIVE $epochOrderCte,
         ${unimaxCteFrom("km")},
         $epochConsumptionCte,
         $lineageSegCte,
         lin AS (SELECT r.source, s.doc_id, s.seg_start, s.seg_end
           FROM ranked r JOIN seg s
             ON s.source = r.source AND s.bin_idx = r.bin_idx),
         fo AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_steps,
             CAST(MIN(worker) AS BIGINT) AS worker,
             CAST(MAX(worker) AS BIGINT) AS worker_max
           FROM ranked GROUP BY source),
         fl AS (SELECT source,
             CAST(SUM(seg_end - seg_start) AS BIGINT) AS lineage_positions,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs_packed
           FROM lin GROUP BY source),
         fc AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_epochs,
             CAST(SUM(tokens_consumed) AS BIGINT) AS consumed_tokens,
             CAST(MAX(stream_pos_end) AS BIGINT) AS max_spe
           FROM fin GROUP BY source)
         SELECT km.source, km.n_docs_kept, km.n_tokens, km.stream_len,
           CAST((km.stream_len + 511) // 512 AS BIGINT) AS bins_per_epoch,
           fo.worker, fo.n_steps,
           fl.lineage_positions, fl.n_docs_packed,
           CAST(j.alloc_tokens AS BIGINT) AS alloc_tokens,
           COALESCE(fc.n_epochs, CAST(0 AS BIGINT)) AS n_epochs,
           COALESCE(fc.consumed_tokens, CAST(0 AS BIGINT))
             AS consumed_tokens,
           (fo.n_steps = (km.stream_len + 511) // 512
             AND fo.worker_max = fo.worker) AS order_ok,
           (fl.lineage_positions = km.stream_len
             AND fl.n_docs_packed = km.n_docs_kept) AS pack_ok,
           (COALESCE(fc.consumed_tokens, CAST(0 AS BIGINT))
              = j.alloc_tokens
             AND COALESCE(fc.max_spe, CAST(0 AS BIGINT))
              <= km.stream_len) AS consume_ok
         FROM km
         JOIN j ON j.source = km.source
         JOIN fo ON fo.source = km.source
         JOIN fl ON fl.source = km.source
         LEFT JOIN fc ON fc.source = km.source""",
    // x169: the ranked chain joined to the survivors' segment tokens,
    // grouped into (step-1)//4 fleet windows; planned share = the
    // source's stream_len over the epoch total
    "x169_mixture_drift" ->
      s"""WITH RECURSIVE $epochOrderCte,
         sp AS (SELECT source, doc_id, n_tokens,
             CAST(COALESCE(SUM(n_tokens + 1) OVER (PARTITION BY source
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS stream_pos
           FROM gop WHERE keep = 1),
         seg AS (SELECT source, CAST(u.b AS BIGINT) AS bin_idx,
             CAST(least(stream_pos + n_tokens + 1 - u.b * 512, 512)
               - greatest(stream_pos - u.b * 512, 0) AS BIGINT)
               AS seg_tokens
           FROM sp, unnest(range(stream_pos // 512,
             (stream_pos + n_tokens) // 512 + 1)) AS u(b)),
         tt AS (SELECT CAST(SUM(stream_len) AS BIGINT) AS tot FROM km),
         rw AS (SELECT CAST((r.step - 1) // 4 AS BIGINT) AS window_idx,
             r.source, s.seg_tokens
           FROM ranked r JOIN seg s
             ON s.source = r.source AND s.bin_idx = r.bin_idx),
         ag AS (SELECT window_idx, source,
             CAST(SUM(seg_tokens) AS BIGINT) AS realized_tokens
           FROM rw GROUP BY 1, 2),
         wt AS (SELECT *, CAST(SUM(realized_tokens)
             OVER (PARTITION BY window_idx) AS BIGINT) AS window_total
           FROM ag)
         SELECT window_idx, wt.source, realized_tokens,
           CAST(realized_tokens * 1000000 // window_total AS BIGINT)
             AS realized_ppm,
           CAST(km.stream_len * 1000000 // tt.tot AS BIGINT)
             AS planned_ppm,
           CAST(realized_tokens * 1000000 // window_total
             - km.stream_len * 1000000 // tt.tot AS BIGINT) AS drift_ppm
         FROM wt JOIN km ON km.source = wt.source CROSS JOIN tt""")
}
