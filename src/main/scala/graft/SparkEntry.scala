package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the operator-coverage registry (one entry per implemented
  * SURVEY §2 operator family / north-star pipeline operator); `oracleSql`
  * carries the DuckDB-equivalent SQL for the driver's hash compare.
  */
object SparkEntry {

  private val packs: Seq[QueryPack] =
    Seq(RelationalQueries, TimeseriesQueries, TextQueries, VectorQueries,
      LedgerQueries, OperatorQueries)

  private lazy val registry: Seq[(String, QueryDef)] = packs.flatMap(_.queries)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The tick→OHLCV resample is the reference's core derived table
    * (SURVEY A1) and always yields rows. */
  def entry(spark: SparkSession): DataFrame =
    registry.toMap.apply("q15_ohlcv_hourly").fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (name, q) => name -> q.fn }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted entries get a rows-only check. */
  def oracleSql: Map[String, String] =
    registry.collect { case (name, QueryDef(_, Some(sql), _)) => name -> sql }.toMap
}
