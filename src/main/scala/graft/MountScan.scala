package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.util.KeyRuns

/** One input row of the [[MountScan]] fold: a feed row after the phase-4
  * load. `valid` = both `ts_ms` and `mid` present; `ts` is 0 when
  * `has_ts` is false, `bid` is 0 when `valid` is false. The two quote
  * flags are Spark expressions evaluated on valid rows only (false
  * elsewhere). */
final case class MountScanTick(symbol: String, ts: Long, has_ts: Boolean,
    valid: Boolean, bid: Double, bad_quote: Boolean, excess_spread: Boolean)

/** One output row of the [[MountScan]] fold. `valid = true`: one
  * continuous region of a symbol's valid ticks (`region_idx` from 0, time
  * bounds, tick count, quality counters). `valid = false`: all of the
  * symbol's rows with a null `ts_ms` or `mid` (`region_idx` -1, bounds
  * over the non-null `ts_ms`, if any; the counters are 0). */
final case class MountRun(symbol: String, valid: Boolean, region_idx: Long,
    start_ms: Option[Long], end_ms: Option[Long], n_rows: Long,
    n_invalid_quote: Long, n_excess_spread: Long, n_price_jumps: Long)

/** Phases 1, 2, 5 and the regions of 6 of [[Backtest.prepareMount]] in ONE
  * scan of a (symbol, ts_ms, mid) feed: the feed is laid out by
  * [[graft.util.KeyRuns]] (one shuffle), and a `mapPartitions` folds each
  * symbol's rows in time order into a few [[MountRun]] rows. Everything
  * the mount needs — availability, the quality report, continuous regions
  * — is a small aggregate of those rows.
  *
  * The fold reproduces the module functions it replaces exactly:
  * `Catalog.coverage` → `availability` (every row counts, null `ts_ms`
  * excluded from the bounds), `TickIngest.qualityReport` over the loaded
  * ticks (invalid quote: bid or ask ≤ 0; excess spread: `(ask-bid)/bid*100
  * > 5`; price jump: `|bid/prevBid − 1|·100 > 10` against the previous
  * valid tick's non-zero bid, NaN ordered above every number as in Spark
  * SQL) and `ScenarioWindows.continuousRegions` (split where the gap to
  * the previous valid tick exceeds `splitGapMs`). The quote flags are Spark
  * expressions, so a zero bid behaves as in `qualityReport` under the
  * session's ANSI setting. A null symbol is one group, as in `groupBy`.
  *
  * Memory contract: O(1) state per symbol — running bounds and counters
  * plus the previous valid tick's time and bid; ticks are never buffered. */
object MountScan {

  /** `TickIngest.qualityReport`'s default thresholds, which the mount uses. */
  private val MaxSpreadPct = 5.0
  private val MaxJumpPct = 10.0

  def runs(ticks: DataFrame, halfSpread: Double,
           splitGapMs: Long): Dataset[MountRun] = {
    val spark = ticks.sparkSession
    import spark.implicits._
    val valid = col("ts_ms").isNotNull && col("mid").isNotNull
    val bid = col("mid") - halfSpread
    val ask = col("mid") + halfSpread
    KeyRuns(ticks.select(col("symbol"), col("ts_ms"), col("mid")),
        "symbol", "ts_ms")
      .select(col("symbol"),
        coalesce(col("ts_ms"), lit(0L)).as("ts"),
        col("ts_ms").isNotNull.as("has_ts"),
        valid.as("valid"),
        coalesce(bid, lit(0.0)).as("bid"),
        coalesce(when(valid, bid <= 0.0f || ask <= 0.0f), lit(false))
          .as("bad_quote"),
        coalesce(when(valid, (ask - bid) / bid * 100 > MaxSpreadPct), lit(false))
          .as("excess_spread"))
      .as[MountScanTick]
      .mapPartitions(it => new Fold(splitGapMs, it))
  }

  /** Folds a partition sorted by (symbol, ts) run by run; emits a
    * symbol's rows when its run ends. */
  private final class Fold(splitGapMs: Long, in: Iterator[MountScanTick])
      extends Iterator[MountRun] {
    private val out = scala.collection.mutable.Queue.empty[MountRun]
    private var open = false
    private var sym: String = _
    // rows with a null ts_ms or mid
    private var invRows, invMin, invMax = 0L
    private var invHasTs = false
    // the open region of valid ticks (regionIdx -1: none yet)
    private var regionIdx = -1L
    private var regStart, regEnd, regRows, nInvalid, nExcess, nJumps = 0L
    private var prevBid = 0.0

    override def hasNext: Boolean = {
      while (out.isEmpty && in.hasNext) step(in.next())
      if (out.isEmpty && open) closeSymbol()
      out.nonEmpty
    }

    override def next(): MountRun =
      if (hasNext) out.dequeue() else throw new NoSuchElementException

    private def step(t: MountScanTick): Unit = {
      if (!open || t.symbol != sym) {
        if (open) closeSymbol()
        open = true; sym = t.symbol
        invRows = 0L; invHasTs = false; regionIdx = -1L
      }
      if (!t.valid) {
        invRows += 1
        if (t.has_ts) {
          if (!invHasTs) { invMin = t.ts; invMax = t.ts; invHasTs = true }
          else { invMin = math.min(invMin, t.ts); invMax = math.max(invMax, t.ts) }
        }
      } else {
        if (regionIdx < 0) startRegion(0L, t.ts)
        else {
          if (t.ts - regEnd > splitGapMs) {
            emitRegion()
            startRegion(regionIdx + 1, t.ts)
          }
          // qualityReport's lag(bid) spans the symbol, not the region
          if (prevBid != 0.0) {
            val jump = math.abs(t.bid / prevBid - 1.0) * 100.0
            if (jump.isNaN || jump > MaxJumpPct) nJumps += 1
          }
        }
        regEnd = t.ts
        regRows += 1
        if (t.bad_quote) nInvalid += 1
        if (t.excess_spread) nExcess += 1
        prevBid = t.bid
      }
    }

    private def startRegion(idx: Long, ts: Long): Unit = {
      regionIdx = idx; regStart = ts
      regRows = 0L; nInvalid = 0L; nExcess = 0L; nJumps = 0L
    }

    private def emitRegion(): Unit =
      out += MountRun(sym, valid = true, regionIdx, Some(regStart),
        Some(regEnd), regRows, nInvalid, nExcess, nJumps)

    private def closeSymbol(): Unit = {
      if (regionIdx >= 0) emitRegion()
      if (invRows > 0)
        out += MountRun(sym, valid = false, -1L,
          if (invHasTs) Some(invMin) else None,
          if (invHasTs) Some(invMax) else None, invRows, 0L, 0L, 0L)
      open = false
    }
  }
}
