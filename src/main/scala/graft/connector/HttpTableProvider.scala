package graft.connector

import com.fasterxml.jackson.databind.ObjectMapper
import graft.GraftError.{ConfigError, EmptyResultError}
import graft.config.{Pagination, Source}
import graft.http.HttpFetcher
import java.util.{Map => JMap}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{InternalRow, StructFilters}
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, JSONOptions, JacksonParser}
import org.apache.spark.sql.catalyst.util.{FailureSafeParser, PermissiveMode}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 connector for HTTP JSON tables: `spark.read.format("http")`.
  *
  * The idiomatic end-state for the reference's HTTP scan
  * (datasources.rs:318-391): the provider fetches the snapshot eagerly on
  * the driver (same snapshot semantics as `HttpTables` / reference
  * dataframe.rs:14-21), infers an all-rows superset schema with
  * `spark.read.json`, and serves scans that decode with Spark's own JSON
  * reader ([[HttpTableProvider.decode]]).
  *
  * Two things are pushed into the scan, and nothing else:
  *  - columns: the reader converts only the projected fields of each row
  *    (the reference's `project_values`, execution.rs:60-76);
  *  - filters: those over top-level columns are applied inside Spark's
  *    JSON parser, which drops a row as soon as the fields they read are
  *    parsed. Every filter is also returned as residual.
  * Limit, top-N and aggregates are left to Catalyst above the scan.
  *
  * Options: `url` (required), `method` (GET|POST, default GET),
  * `paginate` (=true enables the pagination loop), `start_page`,
  * `end_page`, `page_size`, `page_param`, `page_size_param` (same
  * defaults as the YAML config / reference model.rs:48-59), and
  * `fetch` (`driver` | `executor`, default `driver`).
  *
  * `fetch=executor` (requires pagination) moves the page fetching off
  * the driver: the driver requests only the first page (schema
  * inference), and the scan plans `start_page..end_page` as contiguous
  * page-range partitions that each executor fetches and decodes itself.
  * Trade-offs vs the snapshot: schema comes from page 1 only (the
  * reference's own first-record semantics, datasources.rs:195-196), and
  * the empty-page termination rule becomes per-range.
  *
  * `HttpTables.register` remains the simple path (decode-all + cache);
  * this connector is the scan-integrated path.
  */
final class HttpTableProvider extends TableProvider with DataSourceRegister {

  override def shortName(): String = "http"

  // fetch-once cache: inferSchema and getTable run on the same provider
  // instance during read resolution, which Spark performs single-threaded
  // on the driver — @volatile makes the publication safe anyway if a
  // future Spark version resolves concurrently (worst case under a race:
  // one redundant re-fetch, never a torn value).
  @transient @volatile private var fetched: (Source, Seq[String]) = _

  private def snapshot(options: CaseInsensitiveStringMap): (Source, Seq[String]) = {
    val src = HttpTableProvider.toSource(options)
    if (fetched == null || fetched._1 != src) {
      val rows = new HttpFetcher().fetchRows(src)
      if (rows.isEmpty) throw EmptyResultError(src.url)
      fetched = (src, rows)
    }
    fetched
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val rows =
      if (HttpTableProvider.executorFetch(options)) {
        // distributed mode: the driver touches ONLY the first page — just
        // enough to infer a schema. Everything else is fetched by
        // executors at scan time.
        val src = HttpTableProvider.toSource(options)
        val p = src.pagination.getOrElse(throw ConfigError(
          "fetch=executor requires pagination options (paginate=true / start_page / end_page)"))
        val first = new HttpFetcher().fetchPage(src.url, src.method, p, p.startPage)
        if (first.isEmpty) throw EmptyResultError(src.url)
        first
      } else snapshot(options)._2
    val spark = SparkSession.active
    import spark.implicits._
    // all-rows superset inference (documented divergence from the
    // reference's first-record-only inference, SURVEY.md §7.1) — reuses
    // Spark's JSON inference so the connector and HttpTables agree.
    spark.read.json(spark.createDataset(rows)).schema
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    val o = new CaseInsensitiveStringMap(properties)
    val src = HttpTableProvider.toSource(o)
    val rows = if (HttpTableProvider.executorFetch(o)) None else Some(snapshot(o)._2.toArray)
    new HttpTable(src.name, schema, rows, src)
  }
}

object HttpTableProvider {
  /** `fetch=executor` selects the distributed page-range scan. */
  private[connector] def executorFetch(o: CaseInsensitiveStringMap): Boolean =
    Option(o.get("fetch")).exists(_.equalsIgnoreCase("executor"))

  /** Map reader options to the config model (same names as YAML keys). */
  private[connector] def toSource(o: CaseInsensitiveStringMap): Source = {
    val url = Option(o.get("url")).getOrElse(
      throw ConfigError("http source requires option: url"))
    val d = Pagination()
    val paginate = o.getBoolean("paginate", false) ||
      Seq("start_page", "end_page", "page_size", "page_param", "page_size_param")
        .exists(o.containsKey)
    Source(
      name = Option(o.get("name")).getOrElse("http_source"),
      url = url,
      method = Option(o.get("method")).getOrElse("GET").toUpperCase,
      pagination = if (!paginate) None else Some(Pagination(
        startPage = o.getInt("start_page", d.startPage),
        endPage = o.getInt("end_page", d.endPage),
        pageSize = o.getInt("page_size", d.pageSize),
        pageParam = Option(o.get("page_param")).getOrElse(d.pageParam),
        pageSizeParam = Option(o.get("page_size_param")).getOrElse(d.pageSizeParam))))
  }

  /** The options `spark.read.json(Dataset[String])` builds, and so the
    * ones [[HttpTableProvider.inferSchema]] inferred the schema with.
    * Read from the active session's conf, so call it on the driver. */
  private[connector] def jsonOptions(): JSONOptions = {
    val conf = SQLConf.get
    new JSONOptions(Map.empty[String, String], conf.sessionLocalTimeZone,
      conf.columnNameOfCorruptRecord)
  }

  /** The connector's one decode path: JSON lines → rows of `required`,
    * through Spark's own JSON reader, set up as Spark's JSON file source
    * sets it up. Only the fields in `required` are converted; a value
    * that does not convert to its column's type reads as null
    * (PERMISSIVE); `filters` go to Spark's `JsonFilters`, which skip a
    * row inside the parser. */
  private[connector] def decode(lines: Iterator[String], required: StructType,
                                options: JSONOptions,
                                filters: Seq[sources.Filter]): Iterator[InternalRow] = {
    val corrupt = options.columnNameOfCorruptRecord
    val parser = new JacksonParser(StructType(required.filterNot(_.name == corrupt)),
      options, allowArrayAsStructs = true, filters)
    val safe = new FailureSafeParser[String](
      line => parser.parse(line, CreateJacksonParser.string, UTF8String.fromString),
      PermissiveMode, required, corrupt)
    lines.flatMap(safe.parse)
  }
}

/** An HTTP table: the driver-fetched snapshot, or (`fetch=executor`) only
  * the page range. The snapshot can also be read as a MICRO-BATCH stream
  * that consumes one page per trigger (offsets ARE page numbers, so
  * restart/recovery replays exactly the uncommitted pages). */
final class HttpTable(tableName: String, tableSchema: StructType,
                      snapshot: Option[Array[String]], src: Source)
    extends Table with SupportsRead {
  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    if (snapshot.isEmpty) java.util.EnumSet.of(TableCapability.BATCH_READ)
    else java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new HttpScanBuilder(tableSchema, snapshot, src)
}

/** Column pruning and filter pushdown. Filters over top-level columns
  * are handed to the JSON parser (as Spark's own JSON source does); all
  * of them are also returned as residual, so Spark re-checks them. */
final class HttpScanBuilder(full: StructType, snapshot: Option[Array[String]],
                            src: Source)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = full
  private var pushed: Array[sources.Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[sources.Filter]): Array[sources.Filter] = {
    pushed = StructFilters.pushedFilters(filters, full)
    filters
  }
  override def pushedFilters(): Array[sources.Filter] = pushed

  override def build(): Scan =
    new HttpScan(snapshot, required, full.length, src, pushed.toSeq)
}

/** Scan over the driver-held snapshot or, with `fetch=executor`, over
  * the configured page range. Either is cut into at most
  * defaultParallelism contiguous input partitions (the reference pins
  * one partition — execution.rs:95): snapshot slices carry their rows,
  * page ranges only (source config, first page, last page).
  *
  * The snapshot reports statistics ([[SupportsReportStatistics]]): exact
  * row count, size ≈ pruned fraction of the JSON text bytes. Catalyst's
  * join planning consumes these — a small HTTP dim joined to a big fact
  * is broadcast because the scan SAYS it is small. A page range has no
  * rows to count and reports none. */
final class HttpScan(snapshot: Option[Array[String]], required: StructType,
                     fullFieldCount: Int, src: Source,
                     val pushedFilters: Seq[sources.Filter])
    extends Scan with Batch with SupportsReportStatistics {
  private val p = src.pagination.getOrElse(Pagination())

  override def readSchema(): StructType = required
  override def description(): String = {
    val what = snapshot.fold(s"pages=${p.startPage}..${p.endPage}")(rows => s"rows=${rows.length}")
    s"HttpScan($what, readSchema=${required.catalogString}, " +
      s"pushedFilters=${pushedFilters.mkString("[", ", ", "]")})"
  }
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new HttpMicroBatchStream(src, required)

  override def estimateStatistics(): Statistics = new Statistics {
    private def known(v: Array[String] => Long) =
      snapshot.fold(java.util.OptionalLong.empty())(rows => java.util.OptionalLong.of(v(rows)))
    // pruned columns never materialize — scale the text size by the
    // projected fraction (floor 1 field so the estimate never hits 0)
    private val frac =
      math.max(1, required.length).toDouble / math.max(1, fullFieldCount)
    override def sizeInBytes(): java.util.OptionalLong =
      known(rows => math.max(1L, (rows.iterator.map(_.length.toLong).sum * frac).toLong))
    override def numRows(): java.util.OptionalLong = known(_.length.toLong)
  }

  override def planInputPartitions(): Array[InputPartition] = {
    // group size that cuts `count` items into ≤ defaultParallelism groups
    val parallelism = SparkSession.active.sparkContext.defaultParallelism
    def per(count: Int): Int = math.max(1, (count + parallelism - 1) / parallelism)
    snapshot match {
      case Some(rows) =>
        rows.grouped(per(rows.length)).map(HttpInputPartition(_): InputPartition).toArray
      case None =>
        val pages = p.startPage to p.endPage
        pages.grouped(per(pages.length))
          .map(r => HttpPageRangePartition(src, r.head, r.last): InputPartition).toArray
    }
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new HttpReaderFactory(required, HttpTableProvider.jsonOptions(), pushedFilters)
}

/** Snapshot slice or stream page: the JSON rows themselves. */
final case class HttpInputPartition(rows: Array[String]) extends InputPartition

/** `fetch=executor` page range: metadata only, a few hundred bytes. */
final case class HttpPageRangePartition(src: Source, fromPage: Int,
                                        toPage: Int) extends InputPartition {
  /** The range's rows, fetched page by page on the executor. An empty
    * page ends THIS range — within a contiguous range that matches the
    * sequential loop's termination; ranges past a feed's end fetch their
    * first page, see it empty, and finish. */
  def lines(): Iterator[String] = {
    val fetcher = new HttpFetcher()
    val p = src.pagination.getOrElse(Pagination())
    (fromPage to toPage).iterator
      .map(fetcher.fetchPage(src.url, src.method, p, _))
      .takeWhile(_.nonEmpty)
      .flatten
  }
}

/** The one reader factory of the snapshot, `fetch=executor` and stream
  * scans: every partition's lines go through [[HttpTableProvider.decode]]. */
final class HttpReaderFactory(required: StructType, options: JSONOptions,
                              filters: Seq[sources.Filter])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val lines = partition match {
      case HttpInputPartition(rows) => rows.iterator
      case range: HttpPageRangePartition => range.lines()
    }
    val rows = HttpTableProvider.decode(lines, required, options, filters)
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean = rows.hasNext && { current = rows.next(); true }
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}

/** Streaming offset = the last fully-consumed PAGE NUMBER. Committing a
  * batch therefore commits whole pages — on restart the checkpoint
  * replays exactly the uncommitted pages, nothing finer-grained to
  * reconcile. */
final case class HttpPageOffset(page: Int) extends Offset {
  override def json(): String = s"""{"page":$page}"""
}

/** Micro-batch stream over a paginated HTTP source: each trigger probes
  * forward from the last known page; every contiguous non-empty page
  * becomes one input partition of the batch. The reference's bounded
  * pagination loop (datasources.rs:119-161) becomes an INCREMENTAL
  * source — "tail -f" a growing API — with the same termination rule
  * (empty/null page = caught up, not an error; `end_page` = hard stop).
  *
  * `latestOffset` probes to the CURRENT end of the feed (not one page
  * per trigger): after checkpoint recovery a fresh stream re-probes
  * from the start, finds the same latest page, and Spark's committed
  * offset makes the next batch cover exactly the pages past it — no
  * duplicates, no stalls, regardless of trigger cadence.
  *
  * Driver-side page cache: `latestOffset` must fetch to know whether a
  * page exists, and `planInputPartitions` must hand the same rows out —
  * the cache makes that one fetch per page. `commit` drops the committed
  * pages, so the cache holds only pages not yet committed. After
  * recovery the cache is cold and uncommitted pages are re-fetched
  * (offsets are page numbers, so recovery is well-defined against any
  * endpoint that serves stable pages — the same assumption the
  * reference's loop makes).
  */
final class HttpMicroBatchStream(src: Source, required: StructType)
    extends MicroBatchStream {

  private val p = src.pagination.getOrElse(Pagination())
  @transient private lazy val fetcher = new HttpFetcher()
  @transient private[connector] lazy val cache =
    scala.collection.mutable.Map.empty[Int, Array[String]]

  private def pageRows(page: Int): Array[String] = cache.synchronized {
    cache.get(page) match {
      case Some(r) => r
      case None =>
        val r = fetcher.fetchPage(src.url, src.method, p, page).toArray
        // an empty page means "not yet", not "never" — cache only real
        // pages so a feed that grows between triggers is picked up
        if (r.nonEmpty) cache.update(page, r)
        r
    }
  }

  private var known = p.startPage - 1

  override def initialOffset(): Offset = HttpPageOffset(p.startPage - 1)

  override def latestOffset(): Offset = {
    while (known < p.endPage && pageRows(known + 1).nonEmpty) known += 1
    HttpPageOffset(known)
  }

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val s = start.asInstanceOf[HttpPageOffset].page
    val e = end.asInstanceOf[HttpPageOffset].page
    ((s + 1) to e).map(pg => HttpInputPartition(pageRows(pg)): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new HttpReaderFactory(required, HttpTableProvider.jsonOptions(), Nil)

  override def deserializeOffset(json: String): Offset =
    HttpPageOffset(new ObjectMapper().readTree(json).get("page").asInt)

  override def commit(end: Offset): Unit = {
    val done = end.asInstanceOf[HttpPageOffset].page
    cache.synchronized(cache.filterInPlace((page, _) => page > done))
  }
  override def stop(): Unit = ()
}
