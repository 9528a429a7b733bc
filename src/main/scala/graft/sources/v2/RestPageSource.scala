package graft.sources.v2

import graft.ops.Retry
import java.util.{Map => JMap}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSourceV2 face of the S7 paginated-REST incremental pull — the
  * reference's reddit loop (`reddit/reddit_extract.py:59-82`: request
  * pages of ≤ 1000 ascending after a cursor, advance the cursor to
  * max(created_utc), sleep-and-retry failures) as a first-class Spark
  * source with BOTH faces:
  *
  *  - **micro-batch stream** (`spark.readStream.format("graft-rest")`):
  *    offsets OWN the after_ts cursor — the engine checkpoints them, so
  *    restart/replay resumes exactly where the last committed batch ended
  *    (the reference re-derives its cursor with a SELECT MAX over the
  *    warehouse, `reddit_extract.py:86-92`; here that contract lives in
  *    the checkpoint). `maxTsAdvancePerBatch` bounds how far one batch's
  *    window reaches — the admission-control knob that keeps a backfill
  *    from becoming one giant batch.
  *  - **batch** (`spark.read.format("graft-rest")`): the same scan from
  *    `startTs` to the endpoint's current max — the q30 backfill shape.
  *
  * Scale/placement design:
  *  - the driver only PROBES the endpoint (`maxTs` — one sort=desc&limit=1
  *    request against a real API); page payloads are fetched inside tasks;
  *  - each batch window (afterTs, endTs] splits into `numPartitions`
  *    contiguous ts sub-windows, fetched in parallel (the reference API's
  *    after+before parameters make windows independently fetchable);
  *    within a window the reader pages sequentially, advancing the local
  *    cursor to each page's max ts — [[RestEndpoint]]'s never-split-a-ts-
  *    group contract makes that exactly-once;
  *  - every page fetch is wrapped in [[graft.ops.Retry.withRetry]]
  *    (deterministic-jitter backoff) — the engine-side form of the
  *    reference's sleep-and-retry loop (`reddit_extract.py:67-73`).
  *
  * Options: `endpoint` ([[RestEndpoint]] class name, default
  * [[JsonlEndpoint]] reading `path`), `startTs` (cursor start, default 0),
  * `pageSize` (> 0, default 1000), `numPartitions` (> 0, default 4),
  * `maxTsAdvancePerBatch` (> 0, default unbounded), `maxRetries` (≥ 1,
  * default 3), `retryBaseMs` (≥ 0, default 50), plus endpoint-specific
  * options (`path`, `tsField`, `idField`). A value out of range fails on
  * the driver, naming the option.
  */
class RestPageSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-rest"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    RestPageSource.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    val opts = new java.util.HashMap[String, String](properties)
    new RestTable(RestConf(new CaseInsensitiveStringMap(opts)))
  }
}

object RestPageSource {
  /** (id, created_utc, body): stable id, epoch-seconds cursor, raw JSON
    * payload — parse `body` downstream with `from_json`. */
  val Schema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("created_utc", LongType),
    StructField("body", StringType)))
}

/** Serializable bundle of the source options (endpoint class + its own
  * options travel to tasks; readers re-instantiate the endpoint there). */
private[v2] case class RestConf(endpointClass: String,
                                options: Map[String, String],
                                startTs: Long, pageSize: Int,
                                numPartitions: Int, maxAdvance: Long,
                                maxRetries: Int, retryBaseMs: Long) {
  def endpoint(): RestEndpoint = RestEndpoint.instantiate(endpointClass, options)
}

private[v2] object RestConf {
  def apply(o: CaseInsensitiveStringMap): RestConf = {
    val opts = {
      val b = Map.newBuilder[String, String]
      o.entrySet().forEach(e => b += (e.getKey.toLowerCase -> e.getValue))
      b.result()
    }
    // checked here, on the driver: a bad value would otherwise fail inside
    // a task (pageSize=0) or read nothing (numPartitions=0)
    def num(name: String, default: Long, min: Long, max: Long = Long.MaxValue): Long =
      opts.get(name.toLowerCase).fold(default) { v =>
        v.toLongOption.filter(n => n >= min && n <= max).getOrElse(
          throw new IllegalArgumentException(
            s"graft-rest option $name must be an integer in [$min, $max], got '$v'"))
      }
    RestConf(
      endpointClass = opts.getOrElse("endpoint", classOf[JsonlEndpoint].getName),
      options = opts,
      startTs = num("startTs", 0L, Long.MinValue),
      pageSize = num("pageSize", 1000, 1, Int.MaxValue).toInt,
      numPartitions = num("numPartitions", 4, 1, Int.MaxValue).toInt,
      maxAdvance = num("maxTsAdvancePerBatch", Long.MaxValue, 1),
      maxRetries = num("maxRetries", 3, 1, Int.MaxValue).toInt,
      retryBaseMs = num("retryBaseMs", 50, 0))
  }
}

private[v2] class RestTable(conf: RestConf) extends Table with SupportsRead {
  override def name(): String = s"graft-rest(${conf.endpointClass})"
  override def schema(): StructType = RestPageSource.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new RestScan(conf)
    }
}

private[v2] class RestScan(conf: RestConf) extends Scan {
  override def readSchema(): StructType = RestPageSource.Schema
  override def description(): String =
    s"graft-rest startTs=${conf.startTs} pageSize=${conf.pageSize}"

  // batch face: one window from startTs to the endpoint's current max
  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] = {
      val end = conf.endpoint().maxTs(conf.startTs).getOrElse(conf.startTs)
      RestScan.windows(conf.startTs, end, conf.numPartitions)
    }
    override def createReaderFactory(): PartitionReaderFactory =
      new RestReaderFactory(conf)
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new RestMicroBatchStream(conf)
}

private[v2] object RestScan {
  /** Split (fromTs, toTs] into ≤ n contiguous ts sub-windows. Windows
    * partition the range exactly — every record lands in one window no
    * matter how ts values cluster. */
  def windows(fromTs: Long, toTs: Long, n: Int): Array[InputPartition] = {
    if (toTs <= fromTs) return Array.empty
    val span = toTs - fromTs
    val parts = math.min(n.toLong, span).toInt
    (0 until parts).map { i =>
      val lo = fromTs + span * i / parts
      val hi = fromTs + span * (i + 1) / parts
      RestWindowPartition(lo, hi): InputPartition
    }.toArray
  }
}

/** One ts sub-window (afterTs, beforeTs] — independently fetchable. */
private[v2] case class RestWindowPartition(afterTs: Long, beforeTs: Long)
    extends InputPartition

/** The checkpointed cursor: everything at or before `afterTs` has been
  * delivered in a committed batch. */
private[v2] case class RestOffset(afterTs: Long) extends Offset {
  override def json(): String = s"""{"afterTs":$afterTs}"""
}

private[v2] object RestOffset {
  private val Re = """\{"afterTs":(-?\d+)\}""".r
  def fromJson(s: String): RestOffset = s match {
    case Re(ts) => RestOffset(ts.toLong)
    case other => throw new IllegalArgumentException(s"bad graft-rest offset: $other")
  }
}

private[v2] class RestMicroBatchStream(conf: RestConf)
    extends MicroBatchStream with SupportsAdmissionControl {
  // driver-side probe endpoint (reflective instantiation is cheap by the
  // RestEndpoint contract)
  @transient private lazy val probe = conf.endpoint()

  override def initialOffset(): Offset = RestOffset(conf.startTs)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** One probe call per trigger, cursored from the engine-supplied start
    * (checkpoint-correct across restarts); the window is then frozen —
    * rows landing after the probe belong to the next batch. `maxAdvance`
    * caps the window so a cold backfill proceeds in bounded batches. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val cur = start.asInstanceOf[RestOffset].afterTs
    probe.maxTs(cur) match {
      case Some(m) => RestOffset(math.min(m, saturatingAdd(cur, conf.maxAdvance)))
      case None => RestOffset(cur)
    }
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "graft-rest uses latestOffset(Offset, ReadLimit)")

  private def saturatingAdd(a: Long, b: Long): Long = {
    val s = a + b
    if (b > 0 && s < a) Long.MaxValue else s
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    RestScan.windows(start.asInstanceOf[RestOffset].afterTs,
      end.asInstanceOf[RestOffset].afterTs, conf.numPartitions)

  override def createReaderFactory(): PartitionReaderFactory =
    new RestReaderFactory(conf)

  override def deserializeOffset(json: String): Offset = RestOffset.fromJson(json)

  // the endpoint is external state — nothing to clean up per batch
  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

private[v2] class RestReaderFactory(conf: RestConf) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val w = partition.asInstanceOf[RestWindowPartition]
    new PartitionReader[InternalRow] {
      private val endpoint = conf.endpoint()
      private var cursor = w.afterTs
      private var exhausted = false
      private var buf: Iterator[RestRecord] = Iterator.empty
      private var current: InternalRow = _

      private def fetchNextPage(): Unit = {
        // the reference's sleep-and-retry (reddit_extract.py:67-73) at the
        // engine boundary: deterministic-jitter backoff, seeded per window
        // so a task retry replays the same schedule
        val page = Retry.withRetry(conf.maxRetries, baseMs = conf.retryBaseMs,
          seed = w.afterTs)(_ => endpoint.page(cursor, w.beforeTs, conf.pageSize))
        if (page.isEmpty) exhausted = true
        else {
          cursor = page.iterator.map(_.ts).max
          buf = page.iterator
        }
      }

      override def next(): Boolean = {
        while (!buf.hasNext && !exhausted) fetchNextPage()
        if (buf.hasNext) {
          val r = buf.next()
          current = InternalRow(UTF8String.fromString(r.id), r.ts,
            UTF8String.fromString(r.body))
          true
        } else false
      }
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}
