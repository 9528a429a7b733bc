package graft.sources.v2

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import scala.collection.immutable.ArraySeq
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
  * "created_utc" — the reference's cursor column). Every call re-stats
  * (re-lists a directory) and re-parses only a changed file set: the
  * instance keeps its records sorted by (ts, id) with the version (path,
  * length, mtime of every file) they were parsed from, so `maxTs` and
  * `page` are lookups, and lines appended between micro-batches still show
  * up as "new API data" in tests. A line that is not JSON, lacks a
  * non-null id, or whose ts is not an integer fails the read naming its
  * file and line. Local/test scale by design; a production endpoint
  * implements [[RestEndpoint]] over HTTP. */
class JsonlEndpoint extends RestEndpoint {
  private var path: String = _
  private var tsField: String = "created_utc"
  private var idField: String = "id"
  private var version: Seq[(String, Long, Long)] = Nil
  private var sorted: Array[RestRecord] = Array.empty
  private var sortedTs: Array[Long] = Array.empty

  override def init(options: Map[String, String]): Unit = {
    path = options.getOrElse("path",
      throw new IllegalArgumentException("graft-rest JsonlEndpoint requires a path"))
    tsField = options.getOrElse("tsfield", tsField)
    idField = options.getOrElse("idfield", idField)
  }

  /** Re-stat the files; re-parse them all if any changed. */
  private def refresh(): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(new Configuration())
    val st = fs.getFileStatus(p)
    val files: Seq[FileStatus] =
      if (st.isDirectory)
        fs.listStatus(p).toIndexedSeq
          .filter(_.getPath.getName.endsWith(".jsonl")).sortBy(_.getPath.getName)
      else Seq(st)
    val v = files.map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
    if (v != version) {
      // a stable sort: equal (ts, id) keep their file and line order
      sorted = files.flatMap(f => parse(fs, f.getPath)).sortBy(r => (r.ts, r.id)).toArray
      sortedTs = sorted.map(_.ts)
      version = v
    }
  }

  /** The records of one file, in line order. */
  protected def parse(fs: FileSystem, f: Path): Seq[RestRecord] = {
    val mapper = new ObjectMapper()
    val in = fs.open(f)
    val lines =
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    val out = ArrayBuffer.empty[RestRecord]
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
    out.toSeq
  }

  /** Index of the first sorted record with ts > `t`. */
  private def after(t: Long): Int = {
    var (lo, hi) = (0, sortedTs.length)
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (sortedTs(mid) <= t) lo = mid + 1 else hi = mid
    }
    lo
  }

  override def maxTs(afterTs: Long): Option[Long] = synchronized {
    refresh()
    sortedTs.lastOption.filter(_ > afterTs)
  }

  override def page(afterTs: Long, beforeTs: Long, limit: Int): Seq[RestRecord] = synchronized {
    refresh()
    val (from, to) = (after(afterTs), after(beforeTs))
    // never split a ts group: extend past the limit to the run's end
    val end = if (to - from <= limit) to else after(sortedTs(from + limit - 1))
    ArraySeq.unsafeWrapArray(sorted.slice(from, end))
  }
}
