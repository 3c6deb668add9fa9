package graft.source

import graft.GraftError.EmptyResultError
import graft.config.Source
import graft.connector.{HttpTable, HttpTableProvider}
import graft.http.HttpFetcher
import org.apache.spark.sql.{DataFrame, GraftFrames, SparkSession}

/** HTTP table registration — the engine's library entry point (reference:
  * `dataframe::url` at /root/reference/src/dataframe.rs:7-24, which fetches
  * eagerly and `ctx.register_table`s the snapshot).
  *
  * A thin wrapper over the `http` connector: fetch once on the driver →
  * the connector's snapshot table ([[HttpTable]], schema from
  * [[HttpTableProvider.inferSchema]], rows decoded by
  * [[HttpTableProvider.decode]]) → `.cache()` → temp view. Catalyst then
  * gives every downstream query projection pruning, predicate pushdown,
  * and whole-stage codegen over the decoded snapshot — strictly better
  * than the reference's per-query NDJSON re-decode (execution.rs:173-202).
  * Until the cache is materialized its plan reports the scan's exact
  * statistics, so a join planned over a fresh snapshot can already
  * broadcast it.
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
    * execution.rs:95). A larger one is scanned in up to defaultParallelism
    * partitions. */
  def load(spark: SparkSession, source: Source,
           fetcher: HttpFetcher = new HttpFetcher()): DataFrame = {
    val rows = fetcher.fetchRows(source)
    if (rows.isEmpty) throw EmptyResultError(source.url)
    val small = spark.sparkContext.defaultParallelism == 1 ||
      rows.iterator.map(_.length.toLong).sum <= spark.sessionState.conf.filesOpenCostInBytes
    val df = GraftFrames.ofTable(spark, new HttpTable(source.name,
      HttpTableProvider.inferSchema(spark, rows), Some(Seq(rows.toArray)), source))
    // coalesce, not repartition: a narrow one-partition plan, no shuffle
    (if (small) df.coalesce(1) else df).cache()
  }
}
