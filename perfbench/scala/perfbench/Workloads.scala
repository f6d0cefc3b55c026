package perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.{Backtest, SparkEntry}
import graft.catalog.Catalog
import graft.ingest.TickIngest
import graft.report.Reports
import graft.sim._
import graft.sweep.Sweep
import graft.windows.ScenarioWindows
import graft.workers.Workers

/** One timed operation of a lap. `digest` summarizes the op's output for
  * the harness's checks ("" when the op is not checked); `error` is the
  * exception text when the op threw. */
final case class Op(name: String, secs: Double, digest: String = "",
    error: String = "", ticks: Long = 0L)

/** A workload runs laps of ops. `trace` = Some(tracer) asks for the traced
  * form of the lap: the same calls, each entry-point call in a span. */
trait Workload {
  /** Pages the inputs through the parquet reader once, before the lap, as
    * `graft.Bench` warms its tables: the lap pays query work, not the
    * reader's first use. */
  def warmInputs(): Unit = ()

  def lap(trace: Option[Tracer]): Seq[Op]

  /** Module probes, run once after a traced lap (see [[Probes]]). */
  def probes(tr: Tracer): Seq[Op] = Nil
}

/** Several workloads' laps back to back in one session. */
final class Sequence(parts: Seq[Workload]) extends Workload {
  override def warmInputs(): Unit = parts.foreach(_.warmInputs())
  def lap(trace: Option[Tracer]): Seq[Op] = parts.flatMap(_.lap(trace))
  override def probes(tr: Tracer): Seq[Op] = parts.flatMap(_.probes(tr))
}

object Workload {
  def timed(name: String)(body: => String): Op = {
    val t0 = System.nanoTime()
    try {
      val d = body
      Op(name, (System.nanoTime() - t0) / 1e9, d)
    } catch {
      case NonFatal(e) =>
        Op(name, (System.nanoTime() - t0) / 1e9, "", s"${e.getClass.getName}: ${e.getMessage}")
    }
  }

  /** `body` as a call-site-attributed span of `trace`, or just `body`. */
  def traced[T](trace: Option[Tracer], layer: String, name: String)(
      body: => T): T = trace match {
    case Some(tr) => tr.span(layer, name, byCallSite = true)(body)
    case None => body
  }

  /** Order-sensitive digest of collected rows (rows already in a total
    * order, e.g. by rank). */
  def rowsDigest(rows: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r.mkString("|") + "\n").getBytes("UTF-8")))
    s"rows=${rows.size};sha=" + md.digest().take(8).map("%02x".format(_)).mkString
  }

  /** Writes `df` to the `noop` sink and digests what it wrote: the row
    * count plus an order-insensitive content hash (the exact decimal sum of
    * xxhash64(to_json(row))), observed during that same execution. */
  def noopWithDigest(df: DataFrame): String = {
    val obs = Observation()
    val h = xxhash64(to_json(struct(df.columns.map(c => df.col(s"`$c`")): _*)))
    df.observe(obs, count(lit(1)).as("rows"),
        coalesce(sum(h.cast("decimal(38,0)")),
          lit(BigDecimal(0)).cast("decimal(38,0)")).as("hash"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    s"rows=${m("rows")};hash=${m("hash").asInstanceOf[java.math.BigDecimal].toPlainString}"
  }

  /** Phase-3 warmup margin of an RSI + Bollinger strategy, as `Backtest`
    * derives it through the worker registry. */
  def warmupMs(rsiPeriods: Seq[String], bbPeriods: Seq[String],
      barMs: Long): Long = {
    val rsiW = Workers.registry("CORE/rsi")
    val bbW = Workers.registry("CORE/bollinger")
    val bars = for (r <- rsiPeriods; b <- bbPeriods) yield math.max(
      rsiW.warmupBars(rsiW.validate(Map("period" -> r))),
      bbW.warmupBars(bbW.validate(Map("period" -> b))))
    bars.max * barMs
  }

  /** Ledger digest of a kernel run: scenarios, ticks, errors, trades and
    * Σ net P&L rounded to cents. */
  def outcomeDigest(out: Seq[ScenarioOutcome], startBalance: Double): String = {
    val stats = out.flatMap(_.result).map(_.stats)
    val pnl = stats.map(s => BigDecimal(s.finalBalance - startBalance)).sum
    s"scenarios=${out.size};ticks=${stats.map(_.ticksTotal).sum};" +
      s"errors=${out.count(_.error.nonEmpty)};trades=${stats.map(_.nTrades).sum};" +
      s"pnl=${pnl.setScale(2, BigDecimal.RoundingMode.HALF_EVEN)}"
  }
}


import Workload._

/** Module probes: the module calls that [[Backtest.prepareMount]] and
  * [[Backtest.sweep]] compose, made one by one, each in its own span and
  * materialized before the next starts. The entry points materialize these
  * lazily built frames from their own frames (`coverage.agg(...).head()`,
  * `bad.count()`, the `Serve` writes), so a job's call site cannot charge
  * catalog, ingest, windows, sweep or report work to those modules; the
  * probes give those layers numbers of their own.
  *
  * The probes mirror the entry points' arguments at this commit. Each
  * probe op checks its outputs against the real entry point's (the mount's
  * availability, quality and windows; the sweep ranking's digest), so a
  * probe that stops matching `Backtest` fails its op instead of silently
  * measuring an old composition. */
object Probes {
  /** Phases 1, 2, 5 and 6 of `prepareMount`: (availability, quality,
    * windows). */
  def mount(tr: Tracer, ticks: DataFrame, cfg: Backtest.Config): Seq[DataFrame] = {
    def done(df: DataFrame): DataFrame = { val c = df.cache(); c.count(); c }
    val coverage = tr.span("catalog", "Catalog.coverage") {
      done(Catalog.coverage(ticks, Seq("symbol"), "ts_ms", statCols = Seq("mid")))
    }
    val avail = tr.span("catalog", "Catalog.availability") {
      val span = coverage.agg(min(col("start_ms")), max(col("end_ms"))).head()
      done(Catalog.availability(coverage, Seq("symbol"), span.getLong(0),
        span.getLong(1)))
    }
    val loaded = ticks.select(col("symbol"), col("ts_ms"),
        (col("mid") - cfg.halfSpread).as("bid"),
        (col("mid") + cfg.halfSpread).as("ask"))
      .filter(col("ts_ms").isNotNull && col("mid").isNotNull)
    val quality = tr.span("ingest", "TickIngest.qualityReport") {
      done(TickIngest.qualityReport(loaded.withColumn("broker_type", lit("SIM"))
        .withColumn("source_file", lit("events"))
        .withColumn("arrival_idx", col("ts_ms"))
        .withColumn("spread_pct", (col("ask") - col("bid")) / col("bid") * 100)))
    }
    val regions = tr.span("windows", "ScenarioWindows.continuousRegions") {
      done(ScenarioWindows.continuousRegions(loaded, Seq("symbol"), "ts_ms",
        cfg.splitGapMs))
    }
    val blocks = tr.span("windows", "ScenarioWindows.blocks") {
      done(ScenarioWindows.blocks(regions, Seq("symbol"), cfg.blockMs,
        cfg.minBlockMs))
    }
    val windows = tr.span("windows", "ScenarioWindows.assignRolesTimeOrdered") {
      done(ScenarioWindows.assignRolesTimeOrdered(blocks, Seq("symbol"),
          "block_start_ms", cfg.oosSplit)
        .withColumn("scenario_id", concat_ws("", col("symbol"), lit("#"),
          col("region_idx"), lit("#"), col("block_no"), lit("@"),
          col("block_start_ms"))))
    }
    Seq(avail, quality, windows)
  }

  /** Throws unless the probe's (availability, quality, windows) hold the
    * same rows as the real mount's. */
  def checkMount(probe: Seq[DataFrame], real: Backtest.Mount): Unit =
    Seq("availability", "quality", "windows")
      .zip(probe.zip(Seq(real.avail, real.quality, real.windows)))
      .foreach { case (name, (p, r)) =>
        val (a, b) = (sortedDigest(p), sortedDigest(r))
        require(a == b, s"$name probe $a != Backtest.prepareMount $b")
      }

  private def sortedDigest(df: DataFrame): String =
    rowsDigest(df.collect().toSeq.sortBy(_.mkString("|")))

  /** Phases 6 (fused) and 7 of `sweep` over a mounted feed: the ranking,
    * in rank order. */
  def sweep(tr: Tracer, simTicks: Dataset[SimTick],
      grid: Map[String, Seq[String]], cfg: Backtest.Config): Array[Row] = {
    // Backtest's phase-6 kernel config (private there).
    val simCfg = SimConfig(SymbolSpec(digits = 2, tickValue = 1.0),
      startBalance = cfg.startBalance, commissionPerLot = cfg.commissionPerLot,
      latencyMinMs = 20, latencyMaxMs = 120, latencySeed = 42L,
      barTimeframesMs = Seq(cfg.warmupBarMs))
    val ledger = tr.span("sweep", "Sweep.runSweepFused") {
      val l = Sweep.runSweepFused("backtest_sweep", simTicks, grid,
        params => (simCfg, new Backtest.WarmupGate(new TickReplay.RsiBollingerTrend(
          lots = 1.0, rsiPeriod = params("rsi_period").toInt,
          bbPeriod = params("bb_period").toInt)))).cache()
      l.count(); l
    }
    val objectives = tr.span("sweep", "Sweep.ledgerObjectives") {
      val o = Sweep.ledgerObjectives(ledger).cache(); o.count(); o
    }
    tr.span("report", "Reports.sweepRanking") {
      Reports.sweepRanking(objectives, objective = "objective")
        .select(col("rank"), col("run_id"), col("params"), col("status"),
          col("objective").as("net_pnl"), col("n_trades"),
          col("worst_drawdown"))
        .orderBy(col("rank")).collect()
    }
  }
}

/** `ref_ticks`: the reference benchmark's shape (40 parallel 12 h
  * scenarios, RSI(14) + Bollinger(20)) read from the (symbol, ts_ms, mid)
  * parquet feed in `dataDir`. Ops: `warmup` (the mount, persisted and
  * counted) and `tickrun` (the kernel over it, collected). */
final class RefTicks(spark: SparkSession, dataDir: String) extends Workload {
  private val scenarios = 40
  private val barMs = 60000L
  private val cfg = Backtest.Config(maxSymbols = scenarios,
    splitGapMs = 3600000L, blockMs = 12L * 3600000L, minBlockMs = 3600000L,
    warmupBarMs = barMs, rsiParams = Map("period" -> "14"),
    bbParams = Map("period" -> "20"))
  private val warmup = warmupMs(Seq("14"), Seq("20"), barMs)
  private val simCfg = SimConfig(SymbolSpec(digits = 3, tickValue = 1.0),
    commissionPerLot = 2.5, latencyMinMs = 20, latencyMaxMs = 120,
    latencySeed = 42L, barTimeframesMs = Seq(60000L, 300000L))
  private def logic = new Backtest.WarmupGate(
    new TickReplay.RsiBollingerTrend(1.0, 14, 20))

  override def warmInputs(): Unit = spark.read.parquet(dataDir).count()

  def lap(trace: Option[Tracer]): Seq[Op] = {
    val ticks = spark.read.parquet(dataDir)
    var sim: Dataset[SimTick] = null
    val mnt = timed("warmup") {
      val mount = traced(trace, "backtest", "Backtest.prepareMount") {
        Backtest.prepareMount(spark, ticks, cfg, warmup)
      }
      sim = mount.simTicks.persist(StorageLevel.MEMORY_AND_DISK)
      s"mounted=${traced(trace, "backtest", "Mount.simTicks persist+count")(sim.count())}"
    }
    if (mnt.error.nonEmpty) { spark.catalog.clearCache(); return Seq(mnt) }
    var out: Array[ScenarioOutcome] = null
    val run = timed("tickrun") {
      out = traced(trace, "sim", "SimKernel.runScenariosOutcomes") {
        val r = SimKernel.runScenariosOutcomes(sim, simCfg, logic).collect()
        trace.foreach(_.addTicks(r.flatMap(_.result).map(_.stats.ticksTotal).sum))
        r
      }
      ""
    }
    spark.catalog.clearCache()
    if (run.error.nonEmpty) Seq(mnt, run)
    else Seq(mnt, run.copy(digest = outcomeDigest(out.toSeq, simCfg.startBalance),
      ticks = out.flatMap(_.result).map(_.stats.ticksTotal).sum))
  }

  override def probes(tr: Tracer): Seq[Op] = {
    val ticks = spark.read.parquet(dataDir)
    val op = timed("mount_probe") {
      Probes.checkMount(Probes.mount(tr, ticks, cfg),
        Backtest.prepareMount(spark, ticks, cfg, warmup))
      ""
    }
    spark.catalog.clearCache()
    Seq(op)
  }
}

/** The events backtest: `Backtest.sweep` over the shipped 3×3
  * `rsi_period × bb_period` grid (artifacts under the work directory), on
  * the events table's users 0–20 as in `runMain graft.Backtest ... sweep`. */
final class EventsSweep(spark: SparkSession, dataDir: String, workDir: String)
    extends Workload {
  private val cfg = Backtest.Config()
  private val grid = Map("rsi_period" -> Seq("3", "5", "8"),
    "bb_period" -> Seq("6", "8", "12"))

  override def warmInputs(): Unit =
    spark.read.parquet(s"$dataDir/events.parquet").count()

  def lap(trace: Option[Tracer]): Seq[Op] = {
    val ticks = Backtest.loadEventsAsTicks(spark, dataDir, cfg.maxSymbols)
    val sweep = timed("sweep") {
      rowsDigest(traced(trace, "backtest", "Backtest.sweep") {
        Backtest.sweep(spark, ticks, s"$workDir/sweep_out", grid, lots = 1.0, cfg)
          .collect()
      }.toSeq)
    }
    spark.catalog.clearCache()
    Seq(sweep)
  }

  /** `mount_probe` checks its outputs itself; `sweep_probe`'s digest must
    * equal the `sweep` op's (the harness compares them). */
  override def probes(tr: Tracer): Seq[Op] = {
    val ticks = Backtest.loadEventsAsTicks(spark, dataDir, cfg.maxSymbols)
    var real: Backtest.Mount = null
    val mount = timed("mount_probe") {
      real = Backtest.prepareMount(spark, ticks, cfg,
        warmupMs(grid("rsi_period"), grid("bb_period"), cfg.warmupBarMs))
      Probes.checkMount(Probes.mount(tr, ticks, cfg), real)
      ""
    }
    val sweep = if (mount.error.nonEmpty) Nil else Seq(timed("sweep_probe") {
      rowsDigest(Probes.sweep(tr, real.simTicks, grid, cfg).toSeq)
    })
    spark.catalog.clearCache()
    mount +: sweep
  }
}

/** Registered `SparkEntry.queries` entries in the given order, each written
  * to the `noop` sink like `graft.Bench` does, with its output digested on
  * the way (see [[Workload.noopWithDigest]]). `queries` pairs each name
  * with the layer its span is charged to. */
final class QuerySuite(spark: SparkSession, dataDir: String,
    queries: Seq[(String, String)]) extends Workload {
  private val registry = SparkEntry.queries
  private val missing = queries.map(_._1).filterNot(registry.contains)
  require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")

  // graft.Bench's warm set: the fact tables.
  override def warmInputs(): Unit =
    Seq("lineitem", "documents", "events", "embeddings")
      .foreach(t => spark.read.parquet(s"$dataDir/$t.parquet").count())

  def lap(trace: Option[Tracer]): Seq[Op] =
    queries.map { case (name, layer) =>
      val fn = registry(name)
      val op = timed(name) {
        trace match {
          case Some(tr) => tr.span(layer, name)(noopWithDigest(fn(spark, dataDir)))
          case None => noopWithDigest(fn(spark, dataDir))
        }
      }
      spark.catalog.clearCache()
      op
    }
}
