package graft.io

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The paginated REST source as a DataSourceV2 table (SURVEY.md Op-1),
  * over the [[RestSource.PageFetcher]] transport.
  *
  * What V2 buys over a driver-side `createDataFrame`: the HTTP fetch runs
  * inside an EXECUTOR's `PartitionReader`, pages stream through
  * `next()/get()` one at a time (driver memory no longer bounds ingest),
  * and the scan composes with Catalyst like any table (column pruning
  * reaches `ReadSchema`; downstream stages pipeline instead of waiting for
  * a full driver materialisation). Cursor pagination is inherently
  * sequential, so the scan is ONE input partition by design — same
  * reasoning as [[GeocodeStage]]'s single token bucket: the remote API is
  * the bottleneck, not the cluster, and correctness of the continuation
  * chain needs a single walker.
  *
  * Usage:
  * {{{
  *   RestSourceV2.register("alerts", fetcher)         // same-JVM/local mode
  *   spark.read.format(classOf[RestSourceV2].getName)
  *     .schema(schema).option("fetcher", "alerts").load()
  *   // cluster deployment: .option("fetcherClass", "com.x.MyFetcher")
  * }}}
  */
class RestSourceV2 extends TableProvider {

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new UnsupportedOperationException(
      "RestSourceV2 is schema-on-read: supply .schema(...) explicitly " +
        "(the raw stage's dynamic-schema contract)")

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new RestSourceV2.RestTable(schema,
      properties.asScala.map { case (k, v) => k.toLowerCase -> v }.toMap)
}

object RestSourceV2 {

  /** Executor-resolvable fetcher registry for tests/local mode (executors
    * share the JVM). On a real cluster pass `fetcherClass` instead — a
    * no-arg class instantiated reflectively inside the reader. */
  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, RestSource.PageFetcher]()

  def register(key: String, fetcher: RestSource.PageFetcher): Unit =
    registry.put(key, fetcher)

  private def resolveFetcher(opts: Map[String, String]): RestSource.PageFetcher =
    opts.get("fetcher").map { key =>
      Option(registry.get(key)).getOrElse(
        throw new IllegalArgumentException(s"no fetcher registered under '$key'"))
    }.orElse(opts.get("fetcherclass").map { cn =>
      Class.forName(cn).getDeclaredConstructor().newInstance()
        .asInstanceOf[RestSource.PageFetcher]
    }).orElse(opts.get("url").map { _ =>
      // config-only HTTP path: options serialize to executors, so the
      // reader builds the transport (headers/credentials included) on
      // whichever JVM walks the chain — no registry, no custom class
      HttpPageFetcher.fromOptions(opts): RestSource.PageFetcher
    }).getOrElse(throw new IllegalArgumentException(
      "option 'fetcher' (registry key), 'fetcherClass', or 'url' required"))

  private class RestTable(tableSchema: StructType, props: Map[String, String])
      extends Table with SupportsRead {
    override def name(): String = "graft_rest"
    override def schema(): StructType = tableSchema
    override def capabilities(): util.Set[TableCapability] =
      util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
      val merged = props ++
        options.asScala.map { case (k, v) => k.toLowerCase -> v }
      // column pruning: Catalyst hands us the required subset; the reader
      // then converts only those fields of each record (wide raw-stage
      // schemas don't pay full-width decode for narrow projections)
      new ScanBuilder with SupportsPushDownRequiredColumns {
        private var required: StructType = tableSchema
        override def pruneColumns(requiredSchema: StructType): Unit =
          required = requiredSchema
        override def build(): Scan = new RestScan(required, merged)
      }
    }
  }

  private class RestScan(schema: StructType, opts: Map[String, String])
      extends Scan with Batch {
    override def readSchema(): StructType = schema
    override def toBatch: Batch = this
    override def planInputPartitions(): Array[InputPartition] =
      Array(new InputPartition {}) // cursor chain = exactly one walker
    override def createReaderFactory(): PartitionReaderFactory =
      new RestReaderFactory(schema, opts)
    override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
      new RestMicroBatchStream(schema, opts)
  }

  /** Streaming form (the reference's poll-every-10-minutes cadence as a
    * Structured Streaming source): the OFFSET is the count of pages walked
    * down the continuation chain. `latestOffset()` advances the cursor —
    * up to `maxPagesPerTrigger` pages per micro-batch — buffering each
    * page's rows driver-side until `commit()` releases them; partitions
    * carry one page each, so a multi-page batch decodes in parallel.
    *
    * Replay contract, stated honestly: a continuation-token API cannot
    * re-serve old pages, so uncommitted batches replay from the in-memory
    * buffer WITHIN a run (crash-free micro-batch retries are exact), but a
    * cold restart re-walks the chain from the head — at-least-once across
    * restarts. The reference has the same property (it re-lists and diffs);
    * exactly-once across runs is ChangeStream's job (checkpointed
    * first-seen state downstream of this source), not the transport's. */
  private class RestMicroBatchStream(schema: StructType, opts: Map[String, String])
      extends MicroBatchStream with SupportsAdmissionControl
      with SupportsTriggerAvailableNow {
    private val fetcher = resolveFetcher(opts)
    private val maxPagesPerTrigger =
      opts.get("maxpagespertrigger").map(_.toLong).getOrElse(100L)
    // overall page bound: the AvailableNow snapshot (and any re-walk)
    // buffers pages driver-side until commit() frees them, so an unbounded
    // chain must degrade to an explicit cap, not a driver OOM
    private val maxPagesTotal =
      opts.get("maxpages").map(_.toLong).getOrElse(100000L)
    // page index -> that page's rows, pre-converted to Catalyst values
    private val pages = new java.util.TreeMap[Long, Array[Array[Any]]]()
    private var nextToken: Option[String] = None
    private var walked = 0L
    private var exhausted = false
    private var availableNowEnd: Option[Long] = None

    /** Walk the continuation chain until `target` pages are buffered, the
      * chain ends, or the overall page cap is reached. */
    private def walk(target: Long): Unit =
      while (!exhausted && walked < math.min(target, maxPagesTotal)) {
        val (rows, nxt) = fetcher.fetch(nextToken)
        pages.put(walked, rows.map(catalystValues(schema, _)).toArray)
        walked += 1
        nextToken = nxt
        exhausted = nxt.isEmpty
      }

    override def initialOffset(): Offset = RestOffset(0L)

    /** Trigger.AvailableNow (the Kafka pattern): snapshot "everything the
      * chain serves right now" up front, then drain to it in
      * maxPagesPerTrigger-sized micro-batches. */
    override def prepareForTriggerAvailableNow(): Unit = synchronized {
      walk(Long.MaxValue)
      availableNowEnd = Some(walked)
    }

    override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

    override def reportLatestOffset(): Offset = synchronized { RestOffset(walked) }

    override def latestOffset(start: Offset, limit: ReadLimit): Offset = synchronized {
      val s = start.asInstanceOf[RestOffset].page
      val target = s + maxPagesPerTrigger
      availableNowEnd match {
        case Some(end) => RestOffset(math.min(end, target))
        case None =>
          // continuous polling: a finished chain is a SNAPSHOT, not the end
          // of the stream — the reference re-lists every cadence tick and
          // diffs downstream. Re-walk from the head as fresh offsets;
          // ChangeStream's first-seen state is the documented dedup layer.
          if (exhausted && walked < target) {
            nextToken = None
            exhausted = false
          }
          walk(target)
          // a chain SHORTER than the restored offset can't regress the
          // offset log (Spark would plan end<start); fail loudly instead
          require(walked >= s,
            s"continuation chain now serves $walked pages but the offset " +
              s"log is at $s — source data was truncated; clear the checkpoint")
          RestOffset(math.min(walked, target))
      }
    }

    override def latestOffset(): Offset =
      throw new UnsupportedOperationException(
        "latestOffset(Offset, ReadLimit) should be called instead (SupportsAdmissionControl)")

    override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
      synchronized {
        val s = start.asInstanceOf[RestOffset].page
        val e = end.asInstanceOf[RestOffset].page
        // recovered batch after a restart: the offset log replays [s, e) but
        // this fresh instance has an empty buffer — re-walk the chain from
        // the head up to e (a cursor API can only re-serve from the start;
        // this is the documented at-least-once restart path made real)
        if ((s until e).exists(p => pages.get(p) == null)) walk(e)
        (s until e).map { p =>
          val rows = pages.get(p)
          require(rows != null,
            s"page $p not recoverable (chain now shorter than the offset log?)")
          RestPagePartition(rows): InputPartition
        }.toArray
      }

    override def createReaderFactory(): PartitionReaderFactory =
      new RestPageReaderFactory(schema)

    override def commit(end: Offset): Unit = synchronized {
      // committed pages can never be re-requested: free the buffer
      pages.headMap(end.asInstanceOf[RestOffset].page).clear()
    }

    override def deserializeOffset(json: String): Offset = RestOffset(json.toLong)
    override def stop(): Unit = ()
  }

  private case class RestOffset(page: Long) extends Offset {
    override def json(): String = page.toString
  }

  private case class RestPagePartition(rows: Array[Array[Any]]) extends InputPartition

  private class RestPageReaderFactory(schema: StructType)
      extends PartitionReaderFactory {
    override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
      val rows = partition.asInstanceOf[RestPagePartition].rows
      new PartitionReader[InternalRow] {
        private var i = -1
        override def next(): Boolean = { i += 1; i < rows.length }
        override def get(): InternalRow = new GenericInternalRow(rows(i))
        override def close(): Unit = ()
      }
    }
  }

  private class RestReaderFactory(schema: StructType, opts: Map[String, String])
      extends PartitionReaderFactory {
    override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
      new RestPartitionReader(schema, resolveFetcher(opts),
        opts.get("maxpages").map(_.toInt).getOrElse(10000))
  }

  /** Pulls one page per upstream `fetch`, streaming rows out — page at a
    * time in memory, never the whole result. */
  private class RestPartitionReader(schema: StructType,
                                    fetcher: RestSource.PageFetcher,
                                    maxPages: Int)
      extends PartitionReader[InternalRow] {
    private var token: Option[String] = None
    private var started = false
    private var pages = 0
    private var rows: Iterator[Map[String, Any]] = Iterator.empty

    override def next(): Boolean = {
      while (!rows.hasNext && (!started || token.nonEmpty) && pages < maxPages) {
        val (page, nxt) = fetcher.fetch(token)
        rows = page.iterator
        token = nxt
        started = true
        pages += 1
      }
      rows.hasNext
    }

    override def get(): InternalRow =
      new GenericInternalRow(catalystValues(schema, rows.next()))

    override def close(): Unit = ()
  }

  /** One record → the schema's Catalyst values, absent keys null (the
    * schema-on-read contract of the raw stage): the Op-2 flatten, then a
    * per-field conversion. The batch reader and the streaming page buffer
    * both convert through here. */
  private def catalystValues(schema: StructType, rec: Map[String, Any]): Array[Any] = {
    val clean = RestSource.cleanRecord(rec)
    schema.fields.map(f => clean.get(f.name).map(toCatalyst(_, f.dataType)).orNull)
  }

  // scalar-only conversion on purpose: cleanRecord has already dropped
  // nested values (the Op-2 flatten), so the raw-stage schema is scalars
  private def toCatalyst(v: Any, dt: DataType): Any = dt match {
    case StringType  => UTF8String.fromString(v.toString)
    case LongType    => v.asInstanceOf[Number].longValue()
    case IntegerType => v.asInstanceOf[Number].intValue()
    case DoubleType  => v.asInstanceOf[Number].doubleValue()
    case FloatType   => v.asInstanceOf[Number].floatValue()
    case BooleanType => v.asInstanceOf[Boolean]
    case other => throw new IllegalArgumentException(
      s"RestSourceV2 raw stage carries scalars only, got $other")
  }
}
