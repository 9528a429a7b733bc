package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-insensitive content digest of a query result: columns sorted by
  * name, every value in one exact text form, rows sorted, SHA-256 over
  * the schema line and the rows. Two results with the same digest hold
  * the same typed values, whatever order the engine returned them in. */
object Digest {

  def canon(v: Any): String = v match {
    case null => "\\N"
    case s: String => s"${s.length}:$s"
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case b: java.math.BigDecimal => b.toPlainString
    case b: scala.math.BigDecimal => b.bigDecimal.toPlainString
    case t: java.sql.Timestamp => t.toInstant.toString
    case i: java.time.Instant => i.toString
    case a: Array[Byte] => a.map(b => f"${b & 0xff}%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  /** (digest, row count) of `rows` read with `schema`. */
  def apply(schema: StructType, rows: Iterable[Row]): (String, Long) = {
    val order = schema.fields.zipWithIndex.sortBy { case (f, i) => (f.name, i) }
    val head = order.map { case (f, _) => s"${f.name}:${f.dataType.simpleString}" }
      .mkString(",")
    val lines = rows.iterator.map(r =>
      order.map { case (_, i) => canon(r.get(i)) }.mkString("|")).toArray
    java.util.Arrays.sort(lines.asInstanceOf[Array[AnyRef]])
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(head.getBytes("UTF-8"))
    lines.foreach { l => md.update('\n'.toByte); md.update(l.getBytes("UTF-8")) }
    (md.digest().map(b => f"${b & 0xff}%02x").mkString, lines.length.toLong)
  }
}

/** Minimal JSON writer for the result file (numbers, strings, booleans,
  * null, maps and sequences). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case s: Span => apply(Map("id" -> s.id, "op" -> s.op, "parent" -> s.parent,
      "name" -> s.name, "kind" -> s.kind, "start" -> s.start, "end" -> s.end,
      "attrs" -> s.attrs))
    case other => str(other.toString)
  }
}
