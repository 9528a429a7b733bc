package graft.sources.v2

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import scala.collection.mutable.ArrayBuffer

/** Abstraction of a paginated, time-cursored REST endpoint — the S7 shape
  * (reference `reddit/reddit_extract.py:8-17`: `?limit=1000&after={ts}
  * &before={ts}&sort=asc`): records carry a monotone epoch-seconds field,
  * a page fetches up to `limit` records with ts in (afterTs, beforeTs],
  * ascending.
  *
  * Contract (what makes the incremental scan exactly-once):
  *  - `page` must NEVER split a timestamp group: when the limit falls
  *    inside a run of equal ts values the page extends to the end of the
  *    run. The cursor advances to max(ts of page) and the next page starts
  *    STRICTLY after it — the reference's max(created_utc) cursor
  *    (`reddit_extract.py:78-82`) silently drops the tail of a split
  *    group; this contract is the fix.
  *  - `maxTs` is the cheap "anything new?" probe (sort=desc&limit=1
  *    against a real API) — None when nothing is newer than `afterTs`.
  *
  * Implementations are instantiated by REFLECTION (no-arg constructor,
  * then `init(options)`) on the driver for offset probing and inside each
  * task for page fetches, so they must be cheap to construct and must not
  * capture a SparkSession. Production use implements this trait over an
  * HTTP client; [[JsonlEndpoint]] is the file-backed fixture face.
  */
trait RestEndpoint {
  def init(options: Map[String, String]): Unit
  def maxTs(afterTs: Long): Option[Long]
  def page(afterTs: Long, beforeTs: Long, limit: Int): Seq[RestRecord]
}

/** One REST record: stable id, epoch-seconds cursor field, raw JSON body.
  * Downstream parses `body` relationally (`from_json` with an explicit
  * schema) — the source does not impose a payload schema. */
case class RestRecord(id: String, ts: Long, body: String)

object RestEndpoint {
  /** Reflectively build + init an endpoint from its class name. */
  def instantiate(className: String, options: Map[String, String]): RestEndpoint = {
    val ep = Class.forName(className).getDeclaredConstructor()
      .newInstance().asInstanceOf[RestEndpoint]
    ep.init(options)
    ep
  }
}

/** File-backed fixture endpoint: `path` is a JSONL file or a directory of
  * `*.jsonl` files, one JSON object per line with an id field (`idField`,
  * default "id") and an epoch-seconds field (`tsField`, default
  * "created_utc" — the reference's cursor column). Every call re-lists
  * and re-reads, which is exactly what makes lines appended between
  * micro-batches show up as "new API data" in tests. A line that is not
  * JSON, lacks a non-null id, or whose ts is not an integer fails the read
  * naming its file and line. Local/test scale by design; a production
  * endpoint implements [[RestEndpoint]] over HTTP. */
class JsonlEndpoint extends RestEndpoint {
  private var path: String = _
  private var tsField: String = "created_utc"
  private var idField: String = "id"

  override def init(options: Map[String, String]): Unit = {
    path = options.getOrElse("path",
      throw new IllegalArgumentException("graft-rest JsonlEndpoint requires a path"))
    tsField = options.getOrElse("tsfield", tsField)
    idField = options.getOrElse("idfield", idField)
  }

  private def readAll(): ArrayBuffer[RestRecord] = {
    val mapper = new ObjectMapper()
    val p = new Path(path)
    val fs = p.getFileSystem(new Configuration())
    val files: Seq[Path] =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).toIndexedSeq.map(_.getPath)
          .filter(_.getName.endsWith(".jsonl")).sortBy(_.getName)
      else Seq(p)
    val out = ArrayBuffer.empty[RestRecord]
    files.foreach { f =>
      val in = fs.open(f)
      val lines =
        try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      lines.split('\n').iterator.map(_.trim).zipWithIndex
        .filter(_._1.nonEmpty).foreach { case (line, i) =>
          def bad(what: String): Nothing =
            throw new IllegalArgumentException(s"graft-rest record $f:${i + 1}: $what")
          val node =
            try mapper.readTree(line)
            catch { case e: java.io.IOException => bad(s"not JSON (${e.getMessage})") }
          def field(name: String) = Option(node.get(name)).filterNot(_.isNull)
            .getOrElse(bad(s"field '$name' is missing or null"))
          // asLong() would read a non-integer ts as 0: reject it instead
          val ts = field(tsField)
          if (!ts.isIntegralNumber || !ts.canConvertToLong)
            bad(s"field '$tsField' must be an integer, got $ts")
          out += RestRecord(field(idField).asText(), ts.longValue(), line)
        }
    }
    out
  }

  override def maxTs(afterTs: Long): Option[Long] = {
    val ts = readAll().iterator.map(_.ts).filter(_ > afterTs)
    if (ts.isEmpty) None else Some(ts.max)
  }

  override def page(afterTs: Long, beforeTs: Long, limit: Int): Seq[RestRecord] = {
    val sorted = readAll().filter(r => r.ts > afterTs && r.ts <= beforeTs)
      .sortBy(r => (r.ts, r.id))
    if (sorted.length <= limit) sorted.toSeq
    else {
      // never split a ts group: extend past the limit to the run's end
      val cut = sorted(limit - 1).ts
      sorted.takeWhile(_.ts <= cut).toSeq
    }
  }
}
