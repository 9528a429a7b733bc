package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The Jaro–Winkler kernel, shared verbatim by the interpreted `eval`
  * path and the generated code (the codegen emits a call to this static
  * method — one branch-free call site, no boxing, stays inside the
  * whole-stage span).
  *
  * Semantics follow the classic C formulation that DuckDB/RapidFuzz
  * implement, pinned empirically against `jaro_winkler_similarity`:
  *   - match window  max(|a|,|b|)/2 − 1  (floor, ≥ 0)
  *   - transpositions = (mismatched matched-position count) / 2, in
  *     INTEGER division (a 3-cycle counts 1, not 1.5)
  *   - either string empty → 0.0 (also for both empty — not 1.0)
  *   - Winkler boost  j + p·0.1·(1−j)  only when j > 0.7, prefix p
  *     capped at 4; double ops associate left-to-right exactly as
  *     written, which is what makes the doubles bit-identical to the
  *     oracle engine
  * Operates on UTF-8 bytes (ASCII-exact; multi-byte code points compare
  * as byte runs, which preserves equality but weighs them by byte
  * length).
  */
object JaroWinklerAlgo {
  def compute(s1: UTF8String, s2: UTF8String): Double = {
    val a = s1.getBytes
    val b = s2.getBytes
    val l1 = a.length
    val l2 = b.length
    if (l1 == 0 || l2 == 0) return 0.0
    val win = math.max(math.max(l1, l2) / 2 - 1, 0)
    val m1 = new Array[Boolean](l1)
    val m2 = new Array[Boolean](l2)
    var m = 0
    var i = 0
    while (i < l1) {
      val hi = math.min(l2 - 1, i + win)
      var j = math.max(0, i - win)
      var found = false
      while (!found && j <= hi) {
        if (!m2(j) && a(i) == b(j)) {
          m1(i) = true; m2(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var k = 0
    var j2 = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(j2)) j2 += 1
        if (a(i) != b(j2)) k += 1
        j2 += 1
      }
      i += 1
    }
    val t = k / 2
    val md = m.toDouble
    val jaro = (md / l1 + md / l2 + (md - t) / md) / 3.0
    if (jaro <= 0.7) return jaro
    val maxP = math.min(math.min(l1, l2), 4)
    var p = 0
    while (p < maxP && a(p) == b(p)) p += 1
    jaro + p * 0.1 * (1 - jaro)
  }
}

/** Content-defined-chunking boundary kernel. Replays the exact
  * boundary rule x97's SQL form pins (and the DuckDB oracle replays):
  * base-31 polynomial over the trailing `window` CODE POINTS mod
  * 2^31−1, cut at 1-based position i ∈ [window, len−1] where the hash
  * ≡ 0 (mod `divisor`); strings shorter than window+1 chars have no
  * boundaries. One linear pass per row instead of the per-position
  * filter×aggregate×substring higher-order fold — the measured
  * difference between 29 s and sub-second on the sf0.1 corpus.
  */
object CdcAlgo {
  import org.apache.spark.sql.catalyst.util.ArrayData
  import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData

  final val Window = 8
  final val Mod = 2147483647L
  final val Divisor = 32L

  def bounds(text: UTF8String): ArrayData = {
    val cp = text.toString.codePoints().toArray
    val n = cp.length
    if (n < Window + 1) return UnsafeArrayData.fromPrimitiveArray(Array.emptyIntArray)
    val out = new java.util.ArrayList[Integer]()
    // i = 1-based index of the window's last char, window chars are
    // 0-based [i-Window, i-1]; i stops at n-1 (the last char can't cut)
    var i = Window
    while (i <= n - 1) {
      var acc = 0L
      var j = i - Window
      while (j < i) {
        acc = (acc * 31L + cp(j)) % Mod
        j += 1
      }
      if (acc % Divisor == 0L) out.add(i)
      i += 1
    }
    val arr = new Array[Int](out.size())
    var k = 0
    while (k < arr.length) { arr(k) = out.get(k); k += 1 }
    UnsafeArrayData.fromPrimitiveArray(arr)
  }
}

/** [[Natives.cdcBounds]]`(text)` — array<int> of content-defined chunk
  * boundary positions (see [[CdcAlgo]] for the pinned rule). Null text
  * → null.
  */
case class CdcBoundaries(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_cdc_bounds"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects string, got ${child.dataType.simpleString}")

  override def nullSafeEval(t: Any): Any =
    CdcAlgo.bounds(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, x => s"graft.expressions.CdcAlgo.bounds($x)")

  override protected def withNewChildInternal(newChild: Expression): CdcBoundaries =
    copy(child = newChild)
}

/** Winnowing fingerprint-selection kernel (Schleimer/Wilkerson/Aiken,
  * SIGMOD'03 — the MOSS scheme): the anchor-selection stage of exact
  * substring-level dedup. Pinned semantics the DuckDB oracle replays
  * with plain SQL windows:
  *
  *   - k-grams: 1-based char positions i ∈ [1, n−k+1], k = 16 chars;
  *     gram hash h(i) = lowercase md5 hex of the UTF-8 bytes of
  *     substring(text, i, 16) — exactly DuckDB's
  *     `md5(substring(text, i, 16))`
  *   - windows of w = 8 consecutive gram hashes; each full window
  *     selects its minimum by the total order (h, i) — equivalently the
  *     lexicographic min of `h || lpad(i, 9, '0')` since md5 hex is
  *     fixed-width (leftmost tie-break, pinned)
  *   - the anchor set is the distinct selected (h, i), increasing i;
  *     texts with fewer than w full grams (n < k+w−1 = 23 chars) select
  *     nothing
  *
  * Guarantee: any repeated substring of length ≥ w+k−1 = 23 shared by
  * two documents yields at least one shared anchor hash, regardless of
  * alignment — the property stride sampling lacks and the reason this
  * runs BEFORE any shuffle (density ≈ 2/(w+1) of positions; production
  * parameters k=50, w=100 drop that to ~2%).
  *
  * One linear pass per row (monotonic deque, O(n) amortized; digests
  * compared as unsigned byte arrays, hex rendered only for emitted
  * anchors) versus the O(n·w) per-position HOF form — same class of win
  * as [[CdcAlgo]] (interpreted per-char fold measured 29 s at sf0.1).
  */
object WinnowAlgo {
  import org.apache.spark.sql.catalyst.util.ArrayData

  final val K = 16
  final val W = 8

  private val hexDigits = "0123456789abcdef".toCharArray

  private def hex(d: Array[Byte]): UTF8String = {
    val out = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hexDigits((d(i) >> 4) & 0xf).toByte
      out(2 * i + 1) = hexDigits(d(i) & 0xf).toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** Unsigned lexicographic byte compare == hex-string ordering. */
  private def cmp(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    while (i < 16) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    0
  }

  /** Selected anchors as array<struct<pos:int, h:string>> rows. */
  def anchors(text: UTF8String): ArrayData = {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.catalyst.InternalRow
    val n = text.numChars()
    val ngrams = n - K + 1
    if (ngrams < W) return new GenericArrayData(Array.empty[Any])
    // hash straight from the backing bytes: char position i (0-based)
    // starts at byte offs(i), the k-gram is bytes [offs(i), offs(i+K)) —
    // one boundary pass instead of a UTF8String + byte[] allocation per
    // position (ASCII fast-path: offsets are the identity)
    val bytes = text.getBytes
    val offs = new Array[Int](n + 1)
    if (bytes.length == n) {
      var p = 0
      while (p <= n) { offs(p) = p; p += 1 }
    } else {
      var p = 0
      var b = 0
      while (p < n) {
        offs(p) = b
        b += UTF8String.numBytesForFirstByte(bytes(b))
        p += 1
      }
      offs(n) = bytes.length
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    val hs = new Array[Array[Byte]](ngrams)
    var i = 0
    while (i < ngrams) {
      md.reset()
      md.update(bytes, offs(i), offs(i + K) - offs(i))
      hs(i) = md.digest()
      i += 1
    }
    val out = new java.util.ArrayList[Any]()
    // monotonic deque of 0-based gram indices; front = argmin of the
    // current window. Ties in h keep the earlier index (leftmost),
    // because only strictly-greater tails are popped.
    val dq = new Array[Int](ngrams)
    var lo = 0
    var hi = 0 // exclusive
    var last = -1
    i = 0
    while (i < ngrams) {
      while (hi > lo && cmp(hs(dq(hi - 1)), hs(i)) > 0) hi -= 1
      dq(hi) = i; hi += 1
      if (i >= W - 1) {
        while (dq(lo) < i - W + 1) lo += 1
        val sel = dq(lo)
        if (sel != last) {
          out.add(InternalRow(sel + 1, hex(hs(sel))))
          last = sel
        }
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** [[Natives.winnow]]`(text)` — array<struct<pos:int, h:string>> of winnowed
  * k-gram anchors (see [[WinnowAlgo]] for the pinned scheme). Null text
  * → null.
  */
case class WinnowAnchors(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(
          "pos", org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField(
          "h", StringType, nullable = false))),
      containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_winnow"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects string, got ${child.dataType.simpleString}")

  override def nullSafeEval(t: Any): Any =
    WinnowAlgo.anchors(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, x => s"graft.expressions.WinnowAlgo.anchors($x)")

  override protected def withNewChildInternal(newChild: Expression): WinnowAnchors =
    copy(child = newChild)
}

/** The Gopher duplicate-n-gram coverage kernel (Rae '21 Table A1's
  * positional class), shared by the interpreted `eval` path and the
  * generated code: the number of 0-based token POSITIONS covered by any
  * k-gram that occurs ≥ 2 times in the token array — an exact interval
  * union (overlapping repeats count a position once).
  *
  * Gram equality is token-TUPLE equality, which is identical to the
  * oracle's joined-string equality because tokens come from a
  * whitespace split and cannot contain the joiner. Duplicates are found
  * by sorting the m = n−k+1 gram start indices under token-wise
  * lexicographic order and walking equal runs — O(m log m · k) token
  * compares per document, all on UTF8String bytes with zero per-gram
  * string allocation (the nested-HOF formulation this replaced paid
  * ~14 µs/gram in interpreted lambda dispatch; see SCALE.md r11).
  * Null array elements compare as empty strings (the engine's token
  * builders never produce them).
  */
object GopherAlgo {
  def coveredCount(arr: ArrayData, k: Int): Long = {
    val n = arr.numElements()
    val m = n - k + 1
    if (k <= 0 || m <= 0) return 0L
    val toks = new Array[UTF8String](n)
    var p = 0
    while (p < n) {
      toks(p) =
        if (arr.isNullAt(p)) UTF8String.EMPTY_UTF8 else arr.getUTF8String(p)
      p += 1
    }
    def cmp(a: Int, b: Int): Int = {
      var t = 0
      while (t < k) {
        val c = toks(a + t).compareTo(toks(b + t))
        if (c != 0) return c
        t += 1
      }
      0
    }
    val idx = new Array[Integer](m)
    var i = 0
    while (i < m) { idx(i) = Integer.valueOf(i); i += 1 }
    java.util.Arrays.sort(idx,
      (x: Integer, y: Integer) => cmp(x.intValue(), y.intValue()))
    val covered = new Array[Boolean](n)
    i = 0
    while (i < m) {
      var j = i + 1
      while (j < m && cmp(idx(i).intValue(), idx(j).intValue()) == 0) j += 1
      if (j - i >= 2) {
        var r = i
        while (r < j) {
          val s = idx(r).intValue()
          var q = s
          while (q < s + k) { covered(q) = true; q += 1 }
          r += 1
        }
      }
      i = j
    }
    var cnt = 0L
    p = 0
    while (p < n) { if (covered(p)) cnt += 1; p += 1 }
    cnt
  }
}

/** [[Natives.gopherCov]]`(tokens, k)` — the exact duplicated-k-gram position
  * coverage of an array<string> token column (see [[GopherAlgo]]).
  * Null tokens-array or null k → null. k must be a foldable positive
  * int in practice (the engine calls it with literals 2 and 3).
  */
case class GopherCoverage(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_gopher_cov"

  override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
    case ArrayType(StringType, _) if right.dataType == IntegerType =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<string>, int), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    GopherAlgo.coveredCount(a.asInstanceOf[ArrayData], b.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"${ev.value} = graft.expressions.GopherAlgo.coveredCount($x, $y);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GopherCoverage =
    copy(left = newLeft, right = newRight)
}

/** Native codegen Jaro–Winkler similarity over two string columns —
  * the record-linkage scorer (blocked fuzzy matching, survivorship)
  * as a single generated call instead of a UDF: null-safe, no boxing,
  * no Python/serialization boundary, bit-compatible with DuckDB's
  * `jaro_winkler_similarity` (see [[JaroWinklerAlgo]] for the pinned
  * semantics). Null on either side → null.
  */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_jaro_winkler"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (string, string), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def nullSafeEval(a: Any, b: Any): Any =
    JaroWinklerAlgo.compute(
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"${ev.value} = graft.expressions.JaroWinklerAlgo.compute($x, $y);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaroWinkler =
    copy(left = newLeft, right = newRight)
}

/** MD5-hex kernel behind [[FastMd5]]: one thread-cached
  * `MessageDigest` per executor thread and a direct bytes→hex render.
  *
  * The built-in `md5()` expression routes every call through
  * `DigestUtils.md5Hex`, which calls `MessageDigest.getInstance("MD5")`
  * PER ROW — a `java.security.Provider$Service.newInstance` reflective
  * lookup that is both slow (~µs) and concurrency-hostile: an r17
  * thread-dump census of the md5-dense signature stages caught most
  * RUNNABLE samples inside `sun.security.jca.GetInstance`, and the same
  * 32-task stage burned 11.6 CPU-s at 32-way concurrency vs 2.3 CPU-s at
  * 8-way (the 8-core bench beating the 32-core one on the LSH family —
  * PERF_r16.scaling x58 0.55). The digest object is reusable by contract
  * (`digest()` resets); caching it per thread removes the per-row
  * provider lookup and the DigestUtils String round-trips. Output is
  * bit-identical: MD5 is MD5, rendered as the same 32-char lowercase hex.
  */
object Md5Algo {
  private val hexDigits = "0123456789abcdef".getBytes("US-ASCII")

  private val local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def md5hexUtf8(s: UTF8String): UTF8String = md5hex(s.getBytes)

  def md5hex(bytes: Array[Byte]): UTF8String = {
    val md = local.get()
    md.reset()
    md.update(bytes)
    val d = md.digest()
    val out = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hexDigits((d(i) >> 4) & 0xf)
      out(2 * i + 1) = hexDigits(d(i) & 0xf)
      i += 1
    }
    UTF8String.fromBytes(out)
  }
}

/** [[Natives.md5]]`(string|binary)` — drop-in twin of the built-in `md5()`
  * (lowercase 32-char hex of the MD5 of the UTF-8 bytes / raw bytes;
  * null → null), backed by [[Md5Algo]]'s thread-cached digest instead of
  * a per-row `MessageDigest.getInstance`. [[Natives.md5]] shadows
  * `functions.md5` file-wide so bulk hash paths (MinHash signatures,
  * banding, SimHash votes) switch without touching call sites.
  */
case class FastMd5(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_md5"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType | org.apache.spark.sql.types.BinaryType =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects string or binary, got ${other.simpleString}")
    }

  override def nullSafeEval(v: Any): Any = v match {
    case s: UTF8String => Md5Algo.md5hexUtf8(s)
    case b: Array[Byte] => Md5Algo.md5hex(b)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    child.dataType match {
      case StringType =>
        defineCodeGen(ctx, ev, x => s"graft.expressions.Md5Algo.md5hexUtf8($x)")
      case _ =>
        defineCodeGen(ctx, ev, x => s"graft.expressions.Md5Algo.md5hex($x)")
    }

  override protected def withNewChildInternal(newChild: Expression): FastMd5 =
    copy(child = newChild)
}
