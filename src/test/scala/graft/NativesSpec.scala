package graft

import graft.expressions.Natives
import org.apache.spark.sql.catalyst.expressions.Literal

/** The one SQL table of graft's natives, as the extension installs it on
  * the spec session. */
class NativesSpec extends SparkSpec {

  test("every SQL name resolves to its declared expression, named by its prettyName") {
    assert(Natives.sqlFunctions.map(_._1).distinct.size == 10)
    // three placeholder children cover every arity: a builder takes its prefix
    val args = Seq.fill(3)(Literal(null))
    Natives.sqlFunctions.foreach { case (id, info, _) =>
      val builder = spark.sessionState.functionRegistry.lookupFunctionBuilder(id)
      assert(builder.nonEmpty, s"${id.funcName} is not in the session registry")
      val e = builder.get(args)
      assert(e.getClass.getName == info.getClassName, id.funcName)
      assert(e.prettyName == id.funcName)
      assert(info.getName == id.funcName)
    }
  }
}
