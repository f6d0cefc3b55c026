package graft.serve

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Thin serving/sink layer (SURVEY S11–S13): the read-API slice semantics
  * and the CSV/JSON result sinks. The reference serves these over HTTP
  * (`/root/reference/python/api/endpoints/bars_router.py:65-115`,
  * `reports_router.py:24-270`) — the engine-side contract is the plan
  * shape, which any HTTP framework can wrap.
  */
object Serve {

  /** S12: the bars read-API slice — validate, time-filter, cap at
    * `maxBars` NEWEST rows, return ascending (`bars_router.py:65-115`:
    * the router sorts, tail-caps, and re-sorts so a capped response is
    * the most recent window). The filter + limit push into the scan.
    */
  def barsSlice(bars: DataFrame, timeframe: String, fromMs: Long, toMs: Long,
                maxBars: Int, tsCol: String = "ts_ms",
                tfCol: String = "timeframe"): DataFrame = {
    require(fromMs <= toMs, s"from ($fromMs) must be <= to ($toMs)")
    require(maxBars > 0, s"maxBars must be positive, got $maxBars")
    bars.filter(col(tfCol) === timeframe && col(tsCol).between(fromMs, toMs))
      .orderBy(col(tsCol).desc)
      .limit(maxBars)
      .orderBy(col(tsCol).asc)
  }

  /** S11: sweep-ranking CSV sink (`optimization_report.py:189-210`) —
    * a single ordered CSV with header. One file by contract (it feeds a
    * spreadsheet, not a downstream job), so the coalesce(1) is the point,
    * not a scale bug; large ledgers should use the parquet ledger instead.
    */
  def writeRankingCsv(ranking: DataFrame, path: String): Unit =
    ranking.orderBy(col("rank"))
      .coalesce(1)
      .write.mode("overwrite").option("header", "true").csv(path)

  /** S13: report store — one JSON document set per report name
    * (`reports_router.py`: reports are written once, listed, and fetched
    * whole). */
  def writeReportJson(report: DataFrame, storeDir: String,
                      name: String): Unit =
    report.coalesce(1).write.mode("overwrite").json(s"$storeDir/$name")

  def readReportJson(spark: SparkSession, storeDir: String,
                     name: String): DataFrame =
    spark.read.json(s"$storeDir/$name")

  /** S13: list stored report names (the 12-endpoint store's index view).
    * Listed via the Hadoop FileSystem of the store URI so the index works
    * on every scheme the sink accepts (file://, hdfs://, s3a://…), not
    * just local paths. */
  def listReports(spark: SparkSession, storeDir: String): Seq[String] = {
    val path = new org.apache.hadoop.fs.Path(storeDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) Seq.empty
    else fs.listStatus(path).filter(_.isDirectory)
      .map(_.getPath.getName).toSeq.sorted
  }
}
