package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.catalog.Catalog
import graft.ingest.TickIngest
import graft.sim._
import graft.windows.ScenarioWindows

/** E2E spec for the §3.1 flagship: a dense synthetic tick table runs the
  * full phase 0–7 pipeline with a SCRIPTED deterministic strategy, so
  * window shapes, warmup gating, kernel wiring, report values, and the
  * ranking artifact are all asserted against first-principles values
  * (kernel-internal exactness — fills, latency, P&L math — is covered by
  * SimKernelSpec; this spec proves the orchestration around it). */
class BacktestSpec extends SparkSpecBase {
  import spark.implicits._

  /** One symbol, 1 tick/min for 6 days: one continuous region → three
    * 2-day blocks → roles IS, IS, OOS at oosSplit 0.3. */
  private def syntheticTicks = {
    val t0 = 1700000000000L
    val n = 6 * 24 * 60
    spark.range(0, n, 1, 4)
      .select(lit("EURUSD").as("symbol"),
        (lit(t0) + col("id") * 60000L).as("ts_ms"),
        (lit(100.0) + sin(col("id") / lit(40.0)) * 5.0).as("mid"))
  }

  /** Scripted per-scenario logic: open LONG on the 10th tick seen in the
    * scenario, close on the 20th. Scenario transitions are tracked by
    * scenarioId (scenarios arrive sequentially within a partition). */
  final class Scripted extends DecisionLogic {
    private var sid: String = null
    private var count = 0
    def onTick(ctx: DecisionContext): Seq[Decision] = {
      if (ctx.tick.scenarioId != sid) { sid = ctx.tick.scenarioId; count = 0 }
      count += 1
      if (count >= 10 && count < 20 && ctx.openPositions.isEmpty)
        Seq(OpenMarket(Long_, lots = 1.0))
      else if (count >= 20 && ctx.openPositions.nonEmpty)
        Seq(ClosePosition(ctx.openPositions.head.positionId))
      else Seq(Hold)
    }
  }

  private val cfg = Backtest.Config(
    splitGapMs = 3600000L, blockMs = 2L * 86400 * 1000,
    minBlockMs = 86400000L, oosSplit = 0.3, warmupBarMs = 60000L,
    halfSpread = 0.005, commissionPerLot = 2.5)

  test("phases 0-7: windows, warmup gate, trades, reports, ranking") {
    val out = java.nio.file.Files.createTempDirectory("backtest_e2e").toString
    val ranked = Backtest.run(spark, syntheticTicks, out, new Scripted, cfg)
      .collect()

    // window generation: exactly 3 scenarios, trailing one OOS
    assert(ranked.length === 3)
    val byStart = ranked.sortBy(_.getAs[String]("scenarioId")
      .split('@').last.toLong)
    assert(byStart.map(_.getAs[String]("role")).toSeq ===
      Seq("IN_SAMPLE", "IN_SAMPLE", "OUT_OF_SAMPLE"))

    // every scenario ran its scripted round-trip exactly once
    assert(ranked.forall(_.getAs[Long]("nTrades") === 1L))

    // ranking is net_pnl desc with rank 1..3
    assert(ranked.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("net_pnl"))
      .toSeq.reverse === ranked.map(_.getAs[Double]("net_pnl")).toSeq.sorted)

    // the ranking CSV artifact exists with a header and 3 data rows
    val csv = spark.read.option("header", "true").csv(s"$out/ranking")
    assert(csv.count() === 3)
    assert(csv.columns.contains("net_pnl"))

    // report JSONs exist and are consistent with the trade ledger
    val analytics = spark.read.json(s"$out/trade_analytics")
    val sumNet = analytics.agg(sum("sum_net")).head().getDouble(0)
    val rankedNet = ranked.map(_.getAs[Double]("net_pnl")).sum
    assert(math.abs(sumNet - rankedNet) < 1e-6,
      s"analytics sum_net $sumNet != ranked net total $rankedNet")
    val wfe = spark.read.json(s"$out/wfe")
    assert(wfe.count() === 1) // one symbol, IS and OOS means both present
    assert(wfe.head().getAs[Long]("n_is") === 2L)
    assert(wfe.head().getAs[Long]("n_oos") === 1L)
  }

  test("warmup gate: ticks warm indicators but trades never start early") {
    val out = java.nio.file.Files.createTempDirectory("backtest_gate").toString
    // capture trades via the pipeline's outcome path: rerun with a logic
    // that tries to open IMMEDIATELY (count >= 1) — the gate must hold
    // every entry until the scenario's trade window starts
    final class Eager extends DecisionLogic {
      def onTick(ctx: DecisionContext): Seq[Decision] =
        if (ctx.openPositions.isEmpty) Seq(OpenMarket(Long_, 1.0)) else Seq(Hold)
    }
    Backtest.run(spark, syntheticTicks, out, new Eager, cfg)
    // block 2 and 3 have warmup ticks (8 bars before the window);
    // entries must all sit at/after their block_start
    val trades = spark.read.json(s"$out/trade_analytics")
    assert(trades.count() >= 1) // trades happened at all
    // structural check via the ranking: every scenario's id carries its
    // trade start; the eager logic would open during warmup without the
    // gate, producing an entry before start — proven impossible by the
    // kernel outcome: re-derive entries from the event-stream CSV is
    // overkill here, the WarmupGate property is asserted directly below
    val gateProbe = new Backtest.WarmupGate(new Eager)
    val tick = SimTick("S#0#0@1000", 999L, 999L, 1.0, 1.01)
    val ctx = new DecisionContext(tick, 0L, Nil, IndexedSeq(1.0))
    assert(gateProbe.onTick(ctx) === Seq(Hold))
    val tickAfter = SimTick("S#0#0@1000", 1000L, 1000L, 1.0, 1.01)
    val ctxAfter = new DecisionContext(tickAfter, 1L, Nil, IndexedSeq(1.0))
    assert(gateProbe.onTick(ctxAfter).exists(_.isInstanceOf[OpenMarket]))
  }

  test("sweep mode: shared mount, fused grid, combo matches its solo run") {
    val out = java.nio.file.Files.createTempDirectory("backtest_sweep").toString
    // (5, 8) carries the grid's max warmup (rsi 5→6 bars, bb 8→8 bars),
    // so its sweep execution sees exactly the warmup margin a solo run
    // with those params computes — the parity below is then bit-exact
    val grid = Map("rsi_period" -> Seq("5", "3"), "bb_period" -> Seq("8", "6"))
    val ranked = Backtest.sweep(spark, syntheticTicks, out, grid,
      lots = 1.0, cfg = cfg).collect()

    assert(ranked.length === 4)
    assert(ranked.map(_.getAs[Int]("rank")).sorted.toSeq === Seq(1, 2, 3, 4))
    // ranking is objective desc
    assert(ranked.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("net_pnl"))
      .toSeq.reverse === ranked.map(_.getAs[Double]("net_pnl")).toSeq.sorted)

    // parity: the (5, 8) combination == the solo phase 0-7 pipeline with
    // the same params (cfg defaults are rsi 5 / bb 8)
    val soloOut = java.nio.file.Files.createTempDirectory("backtest_solo").toString
    val solo = Backtest.run(spark, syntheticTicks, soloOut,
      new TickReplay.RsiBollingerTrend(lots = 1.0, rsiPeriod = 5, bbPeriod = 8),
      cfg)
    val soloNet = solo.collect().map(_.getAs[Double]("net_pnl")).sum
    val combo = ranked.find { r =>
      val p = r.getAs[Map[String, String]]("params")
      p("rsi_period") == "5" && p("bb_period") == "8"
    }.get
    // ranking objective passes through ledgerObjectives' round(..., 6)
    assert(combo.getAs[Double]("net_pnl") ===
      BigDecimal(soloNet).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
      "fused sweep combo diverges from the solo pipeline")
    // ...and the un-rounded ledger rows match the solo run to the bit
    val comboLedger = spark.read.json(s"$out/sweep_ledger")
      .filter(col("runId") === combo.getAs[String]("run_id"))
      .select("scenarioId", "netPnl").collect()
      .map(r => r.getAs[String]("scenarioId") -> r.getAs[Double]("netPnl")).toMap
    val soloPerScenario = solo.collect()
      .map(r => r.getAs[String]("scenarioId") -> r.getAs[Double]("net_pnl")).toMap
    assert(comboLedger === soloPerScenario,
      "fused sweep ledger diverges from the solo pipeline per scenario")

    // artifacts: ranking CSV with 4 rows, ledger JSON per combo x scenario
    val csv = spark.read.option("header", "true").csv(s"$out/sweep_ranking")
    assert(csv.count() === 4)
    val ledger = spark.read.json(s"$out/sweep_ledger")
    assert(ledger.select("runId").distinct().count() === 4)
    assert(ledger.count() === 12) // 4 combos x 3 scenarios
  }

  test("phase 0 fails fast on invalid strategy parameters") {
    val out = java.nio.file.Files.createTempDirectory("backtest_bad").toString
    val e = intercept[IllegalArgumentException] {
      Backtest.run(spark, syntheticTicks, out, new Scripted,
        cfg.copy(rsiParams = Map("period" -> "not_a_number")))
    }
    assert(e.getMessage.contains("not numeric"))
  }

  // ---- the mount scan against the module composition it replaces -------

  /** Phases 1, 2, 5 and 6 as `Catalog`, `TickIngest` and
    * `ScenarioWindows` calls: (availability, quality, windows). */
  private def composedMount(ticks: DataFrame, c: Backtest.Config): Seq[DataFrame] = {
    val coverage = Catalog.coverage(ticks, Seq("symbol"), "ts_ms",
      statCols = Seq("mid"))
    val span = coverage.agg(min(col("start_ms")), max(col("end_ms"))).head()
    val avail = Catalog.availability(coverage, Seq("symbol"),
      span.getLong(0), span.getLong(1))
    val loaded = ticks.select(col("symbol"), col("ts_ms"),
        (col("mid") - c.halfSpread).as("bid"),
        (col("mid") + c.halfSpread).as("ask"))
      .filter(col("ts_ms").isNotNull && col("mid").isNotNull)
    val quality = TickIngest.qualityReport(
      loaded.withColumn("broker_type", lit("SIM"))
        .withColumn("source_file", lit("events"))
        .withColumn("arrival_idx", col("ts_ms"))
        .withColumn("spread_pct", (col("ask") - col("bid")) / col("bid") * 100))
    val regions = ScenarioWindows.continuousRegions(loaded, Seq("symbol"),
      "ts_ms", c.splitGapMs)
    val blocks = ScenarioWindows.blocks(regions, Seq("symbol"), c.blockMs,
      c.minBlockMs)
    val windows = ScenarioWindows.assignRolesTimeOrdered(blocks, Seq("symbol"),
        "block_start_ms", c.oosSplit)
      .withColumn("scenario_id", concat_ws("", col("symbol"), lit("#"),
        col("region_idx"), lit("#"), col("block_no"), lit("@"),
        col("block_start_ms")))
    Seq(avail, quality, windows)
  }

  private def sortedRows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))

  /** Asserts that `prepareMount`'s (avail, quality, windows) equal the
    * module composition's, schema and rows; returns the mount. */
  private def assertMountParity(ticks: DataFrame, c: Backtest.Config): Backtest.Mount = {
    val mount = Backtest.prepareMount(ticks.sparkSession, ticks, c, 0L)
    Seq("availability", "quality", "windows")
      .zip(composedMount(ticks, c).zip(Seq(mount.avail, mount.quality, mount.windows)))
      .foreach { case (name, (want, got)) =>
        assert(got.schema.map(f => (f.name, f.dataType)) ===
          want.schema.map(f => (f.name, f.dataType)), s"$name schema")
        assert(sortedRows(got) === sortedRows(want), s"$name rows")
      }
    mount
  }

  /** Writes `parts` as one parquet file each into one directory and reads
    * the directory back. */
  private def parquetFeed(session: SparkSession,
                          parts: Seq[Seq[(String, java.lang.Long, java.lang.Double)]]): DataFrame = {
    import session.implicits._
    val dir = java.nio.file.Files.createTempDirectory("mount_feed").toString + "/feed"
    parts.foreach { rows =>
      rows.toDF("symbol", "ts_ms", "mid").coalesce(1)
        .write.mode("append").parquet(dir)
    }
    session.read.parquet(dir)
  }

  private val scanCfg = Backtest.Config(splitGapMs = 3600000L,
    blockMs = 2L * 3600000L, minBlockMs = 1800000L, oosSplit = 0.3)

  private def minute(m: Long): java.lang.Long = 1700000000000L + m * 60000L

  test("mount scan: prepareMount equals the module composition on an adversarial feed") {
    def tick(sym: String, m: Long, mid: Double) = (sym, minute(m), Double.box(mid))
    // AAA spans both files; a 121 min gap (> splitGapMs) opens a second
    // region, a gap of exactly splitGapMs does not; a +15% jump; a null
    // ts_ms row and a null mid row beyond the last valid tick
    val aaa1 = (0L until 60L).map(m => tick("AAA", m, if (m >= 30) 115.0 else 100.0))
    val aaa2 = (60L until 120L).map(m => tick("AAA", m, 115.0 + m * 0.01)) ++
      (240L until 300L).map(m => tick("AAA", m, 116.0)) ++
      (359L until 399L).map(m => tick("AAA", m, 116.5)) ++
      Seq(("AAA", null, Double.box(100.0)), ("AAA", minute(500), null))
    // BBB: one quote with bid <= 0 among 60 (1.7%, under the gate)
    val bbb = (0L until 60L).map(m => tick("BBB", m, if (m == 20) 0.001 else 50.0))
    // CCC: every row invalid
    val ccc = Seq(("CCC", minute(10), null), ("CCC", minute(20), null),
      ("CCC", null, Double.box(10.0)))
    // a null symbol is its own group
    val nul = (0L until 40L).map(m => (null: String, minute(m), Double.box(70.0)))
    val feed = parquetFeed(spark, Seq(aaa1 ++ ccc, aaa2 ++ bbb ++ nul))
    assert(feed.inputFiles.length === 2)

    val mount = assertMountParity(feed, scanCfg)
    // the feed reaches every case the parity above is meant to cover
    val q = mount.quality.collect().map(r => Option(r.getAs[String]("symbol")) -> r).toMap
    assert(q.keySet === Set(Some("AAA"), Some("BBB"), None))
    assert(q(Some("AAA")).getAs[Long]("n_ticks") === 220L)
    assert(q(Some("AAA")).getAs[Long]("n_price_jumps") === 1L)
    assert(q(Some("BBB")).getAs[Long]("n_invalid_quote") === 1L)
    val regions = mount.windows.filter(col("symbol") === "AAA")
      .select("region_idx").distinct().collect().map(_.getLong(0)).sorted
    assert(regions.toSeq === Seq(0L, 1L))
    val avail = mount.avail.collect().map(r => Option(r.getAs[String]("symbol")) -> r).toMap
    assert(avail(Some("AAA")).getAs[Long]("n_rows") === 222L)
    assert(avail(Some("AAA")).getAs[Long]("data_end_ms") === minute(500))
    assert(avail(Some("CCC")).getAs[Long]("n_rows") === 3L)
  }

  test("mount scan: a zero bid fails under ANSI and is an invalid quote without it") {
    val rows = (0L until 40L).map { m =>
      ("ZZZ", minute(m), Double.box(if (m == 7) scanCfg.halfSpread else 20.0))
    }
    val ansi = spark.newSession()
    ansi.conf.set("spark.sql.ansi.enabled", "true")
    val feed = parquetFeed(ansi, Seq(rows))
    val want = intercept[Exception](composedMount(feed, scanCfg)(1).collect())
    val got = intercept[Exception](Backtest.prepareMount(ansi, feed, scanCfg, 0L))
    Seq(want, got).foreach { e =>
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      assert(chain.exists(t => String.valueOf(t.getMessage).contains("DIVIDE_BY_ZERO")), e)
    }

    val lenient = spark.newSession()
    lenient.conf.set("spark.sql.ansi.enabled", "false")
    val mount = assertMountParity(parquetFeed(lenient, Seq(rows)), scanCfg)
    val q = mount.quality.head()
    assert(q.getAs[Long]("n_invalid_quote") === 1L)
    assert(q.getAs[Long]("n_excess_spread") === 0L)
  }

  test("mount scan: randomized feeds match the module composition") {
    val rnd = new scala.util.Random(20261017L)
    (0 until 3).foreach { _ =>
      val parts = (0 until 2).map { f =>
        (0 until 4).flatMap { s =>
          var m = f * 10000L + rnd.nextInt(50)
          (0 until 30 + rnd.nextInt(60)).map { _ =>
            m += 1 + (if (rnd.nextInt(12) == 0) 40 + rnd.nextInt(80) else rnd.nextInt(3))
            val mid: java.lang.Double = rnd.nextInt(40) match {
              case 0 => null
              case 1 => -1.0
              case 2 => 0.02
              case 3 => 60.0 + rnd.nextDouble() * 20.0
              case 4 => Double.NaN
              case _ => 50.0 + rnd.nextDouble()
            }
            (s"S$s", if (rnd.nextInt(50) == 0) null else minute(m), mid)
          }
        }
      }
      // the gate would refuse most of these feeds: lift it to compare all
      assertMountParity(parquetFeed(spark, parts), scanCfg.copy(maxBadQuotePct = 100.0))
    }
  }

  test("phase 5: a symbol above the bad-quote gate fails the mount, one at it passes") {
    def feed(nBad: Int) = parquetFeed(spark, Seq(
      (0L until 100L).map(m => ("GOOD", minute(m), Double.box(30.0))) ++
      (0L until 100L).map(m => ("EDGE", minute(m), Double.box(if (m < nBad) -1.0 else 30.0)))))
    val e = intercept[IllegalArgumentException](
      Backtest.prepareMount(spark, feed(6), scanCfg, 0L))
    assert(e.getMessage.contains(
      "phase 5: 1 symbol(s) exceed the 5.0% bad-quote gate"), e.getMessage)
    val atGate = Backtest.prepareMount(spark, feed(5), scanCfg, 0L)
    val edge = atGate.quality.filter(col("symbol") === "EDGE").head()
    assert(edge.getAs[Long]("n_invalid_quote") === 5L)
    assert(edge.getAs[Long]("n_ticks") === 100L)
  }
}
