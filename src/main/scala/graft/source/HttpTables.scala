package graft.source

import graft.GraftError.EmptyResultError
import graft.config.Source
import graft.http.HttpFetcher
import org.apache.spark.sql.{DataFrame, SparkSession}

/** HTTP table registration — the engine's library entry point (reference:
  * `dataframe::url` at /root/reference/src/dataframe.rs:7-24, which fetches
  * eagerly and `ctx.register_table`s the snapshot).
  *
  * Spark-first shape: fetch once on the driver → `Dataset[String]` of JSON
  * lines → `spark.read.json` (schema inference + decode) → `.cache()` →
  * temp view. Catalyst then gives every downstream query projection
  * pruning, predicate pushdown, and whole-stage codegen over the decoded
  * snapshot — strictly better than the reference's per-query NDJSON
  * re-decode (/root/reference/src/execution.rs:173-202).
  *
  * Schema divergence (documented, SURVEY.md §7): inference scans ALL rows
  * (a superset of the reference's first-record-only inference at
  * datasources.rs:195,318-343), so fields missing from row 1 still appear.
  */
object HttpTables {

  /** Fetch, decode, cache, and register `source.name` as a temp view.
    * Returns the registered DataFrame. */
  def register(spark: SparkSession, source: Source,
               fetcher: HttpFetcher = new HttpFetcher()): DataFrame = {
    val df = load(spark, source, fetcher)
    df.createOrReplaceTempView(source.name)
    df
  }

  /** Load without registering. A snapshot of at most
    * `spark.sql.files.openCostInBytes` of JSON (4 MB by default: Spark
    * reads a JSON file that small as one split), or any snapshot when
    * defaultParallelism is 1, is cached as one partition: its cached plan
    * then reports `SinglePartition`, so aggregates, windows and joins over
    * it plan no exchange (the reference pins `UnknownPartitioning(1)` —
    * execution.rs:95). A larger one is parallelized across the default
    * parallelism. */
  def load(spark: SparkSession, source: Source,
           fetcher: HttpFetcher = new HttpFetcher()): DataFrame = {
    import spark.implicits._
    val rows = fetcher.fetchRows(source)
    if (rows.isEmpty) throw EmptyResultError(source.url)
    val parallelism = spark.sparkContext.defaultParallelism
    val small = parallelism == 1 ||
      rows.iterator.map(_.length.toLong).sum <= spark.sessionState.conf.filesOpenCostInBytes
    val slices = if (small) 1 else math.min(rows.size, parallelism)
    val lines = spark.createDataset(spark.sparkContext.parallelize(rows, slices))
    val df = spark.read.json(lines)
    // coalesce, not repartition: a narrow one-partition plan, no shuffle
    (if (small) df.coalesce(1) else df).cache()
  }
}
