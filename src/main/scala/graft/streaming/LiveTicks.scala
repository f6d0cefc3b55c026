package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Live tick ingestion (SURVEY S14): a line-delimited JSON tick feed as a
  * Structured Streaming source, plus the warm-start path.
  *
  * The reference's live loop is a WebSocket client pushing trade messages
  * into a queue with a REST OHLC warmup
  * (`/root/reference/python/framework/autotrader/tick_sources/
  * kraken_tick_source.py`, `autotrader_tick_loop.py`). The Spark shape:
  * any line-delimited `readStream` the caller opens (socket, Kafka — same
  * parse stage) → `from_json` → typed ticks → the stateful bar
  * renderer, with warmup expressed as INITIAL STATE on the renderer
  * rather than a replayed batch, so restart and cold-start are the same
  * code path.
  */
object LiveTicks {

  /** Wire schema of one live tick message (the reference feed's fields:
    * symbol, price, qty, broker ms timestamp). */
  val wireSchema: StructType = StructType(Seq(
    StructField("symbol", StringType, nullable = false),
    StructField("price", DoubleType, nullable = false),
    StructField("qty", DoubleType, nullable = true),
    StructField("time_msc", LongType, nullable = false)))

  /** Parse a streaming (or batch) DataFrame of JSON lines (`value` column)
    * into typed tick rows; malformed lines are dropped, not failed — a
    * live feed must survive a bad message. */
  def parse(lines: DataFrame): Dataset[IncrementalBars.Tick] = {
    import lines.sparkSession.implicits._
    lines.select(from_json(col("value").cast("string"), wireSchema).as("t"))
      .filter(col("t").isNotNull && col("t.symbol").isNotNull &&
        col("t.time_msc").isNotNull && col("t.price").isNotNull)
      .select(col("t.symbol").as("key"), col("t.time_msc").as("tsMs"),
        col("t.price").as("price"),
        coalesce(col("t.qty"), lit(0.0)).as("volume"))
      .as[IncrementalBars.Tick]
  }

  /** Warm-started incremental bars: seed the per-key renderer state from
    * history (the REST-OHLC warmup analogue) so the first live bar
    * continues the last historical bar instead of restarting it. */
  def renderTicksWarm(ticks: Dataset[IncrementalBars.Tick], barMs: Long,
                      warmupState: Dataset[(String, IncrementalBars.OpenBar)])
      : Dataset[IncrementalBars.Bar] = {
    import ticks.sparkSession.implicits._
    val initial = warmupState.groupByKey(_._1).mapValues(_._2)
    ticks.groupByKey(_.key)
      .flatMapGroupsWithState[IncrementalBars.OpenBar, IncrementalBars.Bar](
        OutputMode.Append(), GroupStateTimeout.NoTimeout(), initial)(
        IncrementalBars.foldGroup(barMs))
  }
}
