package graft.expressions

import org.apache.spark.sql.{Column, GraftColumns, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Column constructors for graft's native Catalyst expressions. Each one
  * builds its expression node directly, so the Column analyzes on any
  * session: there is no function-registry lookup and nothing to register.
  *
  * SQL text reaches the same expressions by name through [[sqlFunctions]],
  * which [[GraftExtensions]] installs.
  */
object Natives {
  private def e(c: Column): Expression = GraftColumns.expression(c)
  private def column(x: Expression): Column = GraftColumns.column(x)

  def vecDot(a: Column, b: Column): Column = column(FloatVectorDot(e(a), e(b)))

  def jaroWinkler(a: Column, b: Column): Column = column(JaroWinkler(e(a), e(b)))

  def cdcBounds(text: Column): Column = column(CdcBoundaries(e(text)))

  def winnow(text: Column): Column = column(WinnowAnchors(e(text)))

  def gopherCov(tokens: Column, k: Column): Column =
    column(GopherCoverage(e(tokens), e(k)))

  def cellArgmin(vec: Column, cents: Column, norms: Column): Column =
    column(CellArgmin(e(vec), e(cents), e(norms)))

  def microArgmin(q: Column, cents: Column): Column =
    column(MicroArgmin(e(q), e(cents)))

  def pqCodes(vec: Column, books: Column, subDim: Column): Column =
    column(PqEncode(e(vec), e(books), e(subDim)))

  def sq8Codes(vec: Column, lows: Column, highs: Column): Column =
    column(Sq8Codes(e(vec), e(lows), e(highs)))

  /** [[FastMd5]]: a file-wide shadow for the built-in `md5()`. Import it
    * AFTER `org.apache.spark.sql.functions._` and every `md5(...)` call
    * site in the file resolves here instead (an explicit import always
    * wins over a wildcard), without touching call sites.
    *
    * Why: the built-in routes every row through
    * `MessageDigest.getInstance("MD5")` (reflective provider lookup), which
    * is the dominant — and concurrency-hostile — cost of the engine's bulk
    * hash paths (MinHash signatures at 12 md5/shingle, SimHash votes at
    * 1/token); see [[Md5Algo]] for the measurements. Values are
    * bit-identical (same MD5, same lowercase hex, null → null), so every
    * oracle-pinned output is unchanged.
    */
  def md5(c: Column): Column = column(FastMd5(e(c)))

  /** The SQL names, one entry per native: (name, info, builder). */
  val sqlFunctions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    sql("graft_vec_dot", classOf[FloatVectorDot], c => FloatVectorDot(c(0), c(1))),
    sql("graft_jaro_winkler", classOf[JaroWinkler], c => JaroWinkler(c(0), c(1))),
    sql("graft_cdc_bounds", classOf[CdcBoundaries], c => CdcBoundaries(c(0))),
    sql("graft_winnow", classOf[WinnowAnchors], c => WinnowAnchors(c(0))),
    sql("graft_gopher_cov", classOf[GopherCoverage], c => GopherCoverage(c(0), c(1))),
    sql("graft_cell_argmin", classOf[CellArgmin], c => CellArgmin(c(0), c(1), c(2))),
    sql("graft_micro_argmin", classOf[MicroArgmin], c => MicroArgmin(c(0), c(1))),
    sql("graft_pq_codes", classOf[PqEncode], c => PqEncode(c(0), c(1), c(2))),
    sql("graft_sq8_codes", classOf[Sq8Codes], c => Sq8Codes(c(0), c(1), c(2))),
    sql("graft_md5", classOf[FastMd5], c => FastMd5(c(0))))

  private def sql(name: String, cls: Class[_ <: Expression], build: FunctionBuilder) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)
}

/** SparkSessionExtensions hook that puts [[Natives.sqlFunctions]] into
  * every session's function registry, for SQL text:
  *   spark.sql.extensions=graft.expressions.GraftExtensions
  * (or `.withExtensions(new GraftExtensions)` on the builder). The Scala
  * API does not need it. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    Natives.sqlFunctions.foreach(ext.injectFunction)
}
