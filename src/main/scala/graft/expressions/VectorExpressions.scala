package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native codegen dot product over two `array<float>` columns.
  *
  * Semantics are bit-for-bit identical to the built-in composition
  *   aggregate(zip_with(a, b, (x,y) => double(x)*double(y)), 0d, _+_)
  * (left-to-right double accumulation over index order), but run as a tight
  * generated-java loop instead of interpreted higher-order functions —
  * ~50× less per-pair overhead, which is the difference between an
  * all-pairs similarity stage finishing or not. Null array, null element,
  * or length mismatch → null (matching zip_with+aggregate null semantics).
  */
case class FloatVectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_vec_dot"

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<float>, array<float>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      // returns the generated java block
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += ((double) $x.getFloat($i)) * ((double) $y.getFloat($i));
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVectorDot =
    copy(left = newLeft, right = newRight)
}

/** Nearest-centroid argmin over a LITERAL centroid matrix — the native
  * form of the map-side cell-assignment fold (`array_min` over K structs
  * of [[FloatVectorDot]] cosines). Returns the 0-based POSITION of the
  * winning centroid; callers order the matrix rows by ascending centroid
  * id so position ties ARE the lowest-cid rule, and map position → cid
  * with `element_at` on a literal id array.
  *
  * Exists because the struct-fold form, inlined K times into a
  * whole-stage-codegen stage (e.g. as a join input), generates a method
  * past the JVM's JIT size ceiling — the stage then runs in the bytecode
  * interpreter at ~100× cost (measured r14: 1.4 s codegen vs 0.5 s
  * interpreted vs ~0.2 s this form for 2000 rows × 16 centroids). Here
  * the generated code is one K×dim loop regardless of K.
  *
  * Arithmetic is bit-identical to the fold: per centroid,
  * nc = dot(v,c) / (sqrt(dot(v,v)) · norm_k) · −1.0 with index-ordered
  * double accumulation in the dots, winner = Java `Double.compare`
  * minimum (NaN greatest, −0.0 < 0.0 — Spark's struct ordering), first
  * win kept on exact ties. `norms` carries the PRE-COMPUTED per-centroid
  * sqrt(dot(c,c)) (same index-ordered accumulation, driver-side).
  * Contract divergence from the fold, all outside every caller's
  * fixed-dim non-null data contract: a null vector or a length-mismatched
  * centroid yields null here (the fold's struct-min would surface a
  * null-cosine centroid first), and a null ELEMENT inside a vector reads
  * as 0.0 (`ArrayData.getFloat` on a null slot — the fold would propagate
  * a null cosine for that centroid instead). The same three divergences
  * apply to [[MicroArgmin]], [[PqEncode]] and [[Sq8Codes]], which share
  * this element-access idiom. */
case class CellArgmin(vec: Expression, cents: Expression, norms: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def first: Expression = vec
  override def second: Expression = cents
  override def third: Expression = norms
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_cell_argmin"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = (vec.dataType, cents.dataType, norms.dataType) match {
      case (ArrayType(FloatType, _),
            ArrayType(ArrayType(FloatType, _), _),
            ArrayType(DoubleType, _)) => true
      case _ => false
    }
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<float>, array<array<float>>, " +
        s"array<double>), got (${vec.dataType.simpleString}, " +
        s"${cents.dataType.simpleString}, ${norms.dataType.simpleString})")
  }

  override def nullSafeEval(v: Any, cs: Any, ns: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val mat = cs.asInstanceOf[ArrayData]
    val nrm = ns.asInstanceOf[ArrayData]
    val dim = x.numElements()
    val k = mat.numElements()
    var acc = 0.0
    var i = 0
    while (i < dim) {
      acc += x.getFloat(i).toDouble * x.getFloat(i).toDouble; i += 1
    }
    val vn = math.sqrt(acc)
    var best = 0
    var bestNc = 0.0
    var firstRow = true
    var j = 0
    while (j < k) {
      val cv = mat.getArray(j)
      if (cv.numElements() != dim) return null
      var d = 0.0
      i = 0
      while (i < dim) {
        d += x.getFloat(i).toDouble * cv.getFloat(i).toDouble; i += 1
      }
      val nc = d / (vn * nrm.getDouble(j)) * -1.0
      if (firstRow || java.lang.Double.compare(nc, bestNc) < 0) {
        best = j; bestNc = nc; firstRow = false
      }
      j += 1
    }
    best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, cs, ns) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val dim = ctx.freshName("dim")
      val k = ctx.freshName("k")
      val acc = ctx.freshName("acc")
      val vn = ctx.freshName("vn")
      val cv = ctx.freshName("cv")
      val d = ctx.freshName("d")
      val nc = ctx.freshName("nc")
      val best = ctx.freshName("best")
      val bestNc = ctx.freshName("bestNc")
      val firstRow = ctx.freshName("firstRow")
      s"""
         |int $dim = $x.numElements();
         |int $k = $cs.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; $i < $dim; $i++) {
         |  $acc += ((double) $x.getFloat($i)) * ((double) $x.getFloat($i));
         |}
         |double $vn = java.lang.Math.sqrt($acc);
         |int $best = 0; double $bestNc = 0.0; boolean $firstRow = true;
         |for (int $j = 0; $j < $k && !${ev.isNull}; $j++) {
         |  org.apache.spark.sql.catalyst.util.ArrayData $cv = $cs.getArray($j);
         |  if ($cv.numElements() != $dim) { ${ev.isNull} = true; break; }
         |  double $d = 0.0;
         |  for (int $i = 0; $i < $dim; $i++) {
         |    $d += ((double) $x.getFloat($i)) * ((double) $cv.getFloat($i));
         |  }
         |  double $nc = $d / ($vn * $ns.getDouble($j)) * -1.0;
         |  if ($firstRow || java.lang.Double.compare($nc, $bestNc) < 0) {
         |    $best = $j; $bestNc = $nc; $firstRow = false;
         |  }
         |}
         |if (!${ev.isNull}) { ${ev.value} = $best; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): CellArgmin =
    copy(vec = newFirst, cents = newSecond, norms = newThird)
}

/** Integer-grid L2 argmin over a LITERAL centroid matrix — the native
  * form of [[graft.similarity.Similarity.microArgmin]]'s struct fold
  * (k-means assignment on the micro-integer grid). Returns
  * struct<d: bigint, c: int> = (squared L2 in micro units, winning
  * 0-based cluster) with exact-equal ties to the lowest cluster —
  * identical to `array_min` over (dist, j) structs on in-contract data
  * (fixed dim, non-null, |component| small enough that the squared sums
  * stay far under 2^63; the HOF form's ANSI throw on overflow becomes
  * silent wrap here, both outside the contract). CodegenFallback: the
  * eval is one compiled K×dim Scala loop, and the fallback call keeps
  * K×dim lambda inlining OUT of whole-stage codegen — the interpreted
  * zip_with/aggregate form was the dominant CPU in every k-means train
  * pass (r14 census). */
case class MicroArgmin(q: Expression, cents: Expression)
    extends BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def left: Expression = q
  override def right: Expression = cents
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("d",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("c",
      org.apache.spark.sql.types.IntegerType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "graft_micro_argmin"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = (q.dataType, cents.dataType) match {
      case (ArrayType(org.apache.spark.sql.types.LongType, _),
            ArrayType(ArrayType(org.apache.spark.sql.types.LongType, _), _)) =>
        true
      case _ => false
    }
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<bigint>, array<array<bigint>>), " +
        s"got (${q.dataType.simpleString}, ${cents.dataType.simpleString})")
  }

  override def nullSafeEval(a: Any, cs: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val mat = cs.asInstanceOf[ArrayData]
    val dim = x.numElements()
    val k = mat.numElements()
    var best = 0
    var bestD = 0L
    var firstRow = true
    var j = 0
    while (j < k) {
      val cv = mat.getArray(j)
      if (cv.numElements() != dim) return null
      var d = 0L
      var i = 0
      while (i < dim) {
        val t = x.getLong(i) - cv.getLong(i)
        d += t * t; i += 1
      }
      if (firstRow || d < bestD) { best = j; bestD = d; firstRow = false }
      j += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bestD, best))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MicroArgmin =
    copy(q = newLeft, cents = newRight)
}

/** Product-quantization encoder over a LITERAL codebook — the native
  * form of the pqSubDists→argmin-codes pipeline (explode m subspaces ×
  * broadcast-join |book| centroids × SortAggregate min-struct): per
  * subspace s ∈ [0, m), the 0-based POSITION of the codebook row whose
  * subvector slice minimizes the squared L2 sub-distance, ties to the
  * FIRST row — callers sort the book by centroid id so first-win IS the
  * relational form's lowest-cid struct-min, and map position → cid with
  * `element_at` on a literal id array. Sub-distances are the identical
  * index-ordered double accumulation of (x−y)² the zip_with/aggregate
  * fold computes (both sides already cast to double), compared with
  * Java `Double.compare` (= Spark struct ordering for the d field).
  * Returns array<int> of length m = dim / subDim; null vector or a
  * dimension mismatch (vs the book or subDim divisibility) → null —
  * outside the fixed-dim contract every PQ caller declares. Exists
  * because the relational encode paid an explode, a broadcast join and
  * a SortAggregate (two sorts) per corpus pass; this is one map-side
  * loop. */
case class PqEncode(vec: Expression, books: Expression, subDim: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def first: Expression = vec
  override def second: Expression = books
  override def third: Expression = subDim
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_pq_codes"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = (vec.dataType, books.dataType, subDim.dataType) match {
      case (ArrayType(DoubleType, _),
            ArrayType(ArrayType(DoubleType, _), _),
            org.apache.spark.sql.types.IntegerType) => true
      case _ => false
    }
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<double>, array<array<double>>, int), " +
        s"got (${vec.dataType.simpleString}, ${books.dataType.simpleString}, " +
        s"${subDim.dataType.simpleString})")
  }

  override def nullSafeEval(v: Any, bs: Any, sd: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val mat = bs.asInstanceOf[ArrayData]
    val sub = sd.asInstanceOf[Int]
    val dim = x.numElements()
    if (sub <= 0 || dim % sub != 0) return null
    val m = dim / sub
    val k = mat.numElements()
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      var best = 0
      var bestD = 0.0
      var firstRow = true
      var j = 0
      while (j < k) {
        val cv = mat.getArray(j)
        if (cv.numElements() != dim) return null
        var d = 0.0
        var i = 0
        while (i < sub) {
          val t = x.getDouble(s * sub + i) - cv.getDouble(s * sub + i)
          d += t * t; i += 1
        }
        if (firstRow || java.lang.Double.compare(d, bestD) < 0) {
          best = j; bestD = d; firstRow = false
        }
        j += 1
      }
      out(s) = best
      s += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): PqEncode =
    copy(vec = newFirst, books = newSecond, subDim = newThird)
}

/** Scalar (int8-range) quantization codes over LITERAL per-dim (lo, hi)
  * calibration — the native form of the 64-expression unrolled
  * `quantizeCodes` projection: code_i = floor((v_i − lo_i) / (hi_i −
  * lo_i) · 255 + 0.5) with each step the identical IEEE double op the
  * unrolled form ran (element cast to double, subtract, divide,
  * multiply, add, floor, truncating long cast). The unroll existed
  * because a `transform` lambda leaves whole-stage codegen (r3 lesson);
  * at dim = 64 the unroll itself blows the JIT method ceiling once the
  * projection shares a stage with a join (the r14 codegen-size cliff —
  * x52's stage-1 read 0.87 CPU-s on 2 000 rows). Null vector or a
  * length mismatch vs the calibration arrays → null (outside the
  * fixed-dim contract). */
case class Sq8Codes(vec: Expression, lows: Expression, highs: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def first: Expression = vec
  override def second: Expression = lows
  override def third: Expression = highs
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_sq8_codes"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = (vec.dataType, lows.dataType, highs.dataType) match {
      case (ArrayType(FloatType, _),
            ArrayType(DoubleType, _), ArrayType(DoubleType, _)) => true
      case _ => false
    }
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<float>, array<double>, array<double>), " +
        s"got (${vec.dataType.simpleString}, ${lows.dataType.simpleString}, " +
        s"${highs.dataType.simpleString})")
  }

  override def nullSafeEval(v: Any, lo: Any, hi: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val l = lo.asInstanceOf[ArrayData]
    val h = hi.asInstanceOf[ArrayData]
    val dim = x.numElements()
    if (l.numElements() != dim || h.numElements() != dim) return null
    val out = new Array[Long](dim)
    var i = 0
    while (i < dim) {
      out(i) = math.floor((x.getFloat(i).toDouble - l.getDouble(i)) /
        (h.getDouble(i) - l.getDouble(i)) * 255.0 + 0.5).toLong
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Sq8Codes =
    copy(vec = newFirst, lows = newSecond, highs = newThird)
}
