package graft.bars

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Tick → OHLCV bar rendering.
  *
  * Semantics follow the reference's vectorized renderer
  * (`/root/reference/python/data_management/importers/vectorized_bar_renderer.py:155-212`):
  *   - open/close = first/last price in the bucket by event time,
  *   - high/low = max/min,
  *   - tick_count = count of price rows,
  *   - volume = sum,
  *   - empty buckets produce NO rows (gaps are not filled),
  *   - price for FX ticks is mid = (bid+ask)/2 (`market_data_types.py:29-32`).
  *
  * Determinism: first/last are resolved by `row_number` over
  * (orderCol, tieBreak) — never by Spark's non-deterministic `first`/`last`
  * aggregates — so re-runs and oracle comparisons are byte-stable.
  *
  * Scale: one shuffle on (keys, bucket). The window and the groupBy share
  * the same partitioning, so Catalyst plans a single Exchange; at 100 TB the
  * shuffle is proportional to tick count with map-side partial aggregation
  * for max/min/count/sum.
  */
object Ohlcv {

  /** The reference's fixed timeframe registry — 7 tumbling timeframes
    * (`/root/reference/python/framework/utils/timeframe_config_utils.py:50-59`).
    */
  val Timeframes: Map[String, String] = Map(
    "M1" -> "1 minute", "M5" -> "5 minutes", "M15" -> "15 minutes",
    "M30" -> "30 minutes", "H1" -> "1 hour", "H4" -> "4 hours", "D1" -> "1 day")

  /** Render bars over an event-time bucket expression.
    *
    * @param df        input ticks
    * @param keys      partition keys (e.g. symbol / user_id)
    * @param bucket    bucket start column (e.g. `window($"ts", "1 hour").start`
    *                  or `date_trunc("hour", $"ts")`)
    * @param price     price column
    * @param volume    volume column (summed)
    * @param orderCol  event-time ordering column
    * @param tieBreak  unique tiebreaker for deterministic open/close
    */
  def render(df: DataFrame, keys: Seq[Column], bucket: Column, price: Column,
             volume: Column, orderCol: Column, tieBreak: Column): DataFrame = {
    val withBucket = df.withColumn("__bucket", bucket)
    val w = Window.partitionBy(keys :+ col("__bucket"): _*)
    val asc = w.orderBy(orderCol.asc, tieBreak.asc)
    val desc = w.orderBy(orderCol.desc, tieBreak.desc)
    withBucket
      .withColumn("__p", price)
      .withColumn("__v", volume)
      .withColumn("__rn_a", row_number().over(asc))
      .withColumn("__rn_d", row_number().over(desc))
      .groupBy(keys :+ col("__bucket").as("bucket"): _*)
      .agg(
        max(when(col("__rn_a") === 1, col("__p"))).as("open"),
        max(col("__p")).as("high"),
        min(col("__p")).as("low"),
        max(when(col("__rn_d") === 1, col("__p"))).as("close"),
        sum(col("__v")).as("volume"),
        count(col("__p")).as("tick_count"))
  }

  /** Render one of the 7 registry timeframes with tumbling `window()`. */
  def renderTimeframe(df: DataFrame, keys: Seq[Column], ts: Column, price: Column,
                      volume: Column, tieBreak: Column, timeframe: String): DataFrame = {
    val tf = Timeframes(timeframe)
    render(df, keys, window(ts, tf).getField("start"), price, volume, ts, tieBreak)
      .withColumnRenamed("bucket", "bar_start")
      .withColumn("timeframe", lit(timeframe))
  }
}
