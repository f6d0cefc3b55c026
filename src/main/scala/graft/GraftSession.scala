package graft

import org.apache.spark.sql.SparkSession

/** Single place where graft sessions are constructed, so engine-required
  * configs are set at SESSION BUILD time, never mutated mid-query:
  *
  *   - `nanosAsLong`: the `events` table carries TIMESTAMP(NANOS), which
  *     Spark's TimestampType (micros) cannot represent — read the raw
  *     INT64 instead (see [[Tables.events]]);
  *   - shuffle partitioning is ADAPTIVE by default: every shuffle plans
  *     at 8× the core count and AQE coalesces it to ~64 MB partitions by
  *     MEASURED map-output bytes (never below the core count while there
  *     are ≥64 KB per core — `parallelismFirst` + a small
  *     `minPartitionSize`, so compute-dense small shuffles keep their
  *     parallelism instead of serializing). This is the engine-default
  *     form of what the round-12 same-phase knob measurements proved on
  *     q27/q91: holding partition count at the core count while data
  *     grows a decade grows every per-task working set a decade (q91
  *     sf100: 3.9×/2.1× wall, 8.4× GC, 2× peak task memory against 256
  *     pinned partitions), while partition count growing with data —
  *     what a real cluster does — removes the regime cost.
  *     `SPARK_GRAFT_SHUFFLE_PARTITIONS` pins an exact count with
  *     coalescing OFF (the scale-ladder knob: same-phase A/B cells need
  *     the count to be the only variable);
  *   - AQE runtime SMJ→SHJ conversion ON (`maxShuffledHashJoinLocal
  *     MapThreshold`): joins whose build side turns out small at runtime
  *     (dedup verify stages — candidate-sized builds) become hash joins
  *     with no sort, while genuinely large builds stay sort-merge and
  *     spill instead of OOMing in `HashedRelation`. This replaces the
  *     static SHUFFLE_HASH hints the dedup family used to carry: a hint
  *     cannot see runtime sizes, and the sf100 ladder showed both
  *     failure modes (docs-sized build OOM, then a 30M-candidate build
  *     OOM on the q27 verify);
  *   - UTC so timestamp functions agree with the DuckDB oracle.
  */
object GraftSession {

  def local(cpus: String): SparkSession = {
    val coreCount = scala.util.Try(cpus.toInt).getOrElse(32)
    // SPARK_GRAFT_SHUFFLE_PARTITIONS pins an exact reducer count and
    // turns byte-based coalescing OFF — the same-phase A/B ladder knob,
    // where partition count must be the ONLY variable between cells.
    // Unset (the engine default, and the driver contract) = adaptive.
    val pinned = sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      // deployment-grade extension wiring: custom functions, the native
      // as-of planner strategy, and the ASOF JOIN parser/resolution pair
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // `shuffle.partitions` is the NON-coalescing fallback count (pinned
      // ladder cells, and any plan AQE can't re-read): the core count —
      // the pre-round-12 default, unchanged when the knob is set.
      .config("spark.sql.shuffle.partitions", pinned.getOrElse(cpus))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Adaptive sizing (see class doc): plan every shuffle at 8× cores,
      // coalesce to ~64 MB partitions by measured bytes, floor at the
      // core count down to 64 KB-per-core totals. targetSize =
      // max(min(total/parallelism, 64MB), 64KB): 22 GB → ~344×64 MB
      // (q91 sf100 — MORE than the knob's hand-picked 256); 4 MB of
      // compute-dense hashes on 32 cores → 128 KB targets = all 32 cores
      // still working; only sub-2 MB shuffles drop below core count.
      // Explicit `repartition(n)`/`repartitionByRange(n, …)` calls are
      // never coalesced (REPARTITION_BY_NUM origin) — deliberate
      // compute-spreads like the IVF build keep their exact counts.
      .config("spark.sql.adaptive.coalescePartitions.enabled",
        pinned.isEmpty.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (8 * coreCount).toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64KB")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64MB")
      // AQE for CACHED plans (r18): by default Spark freezes a cached
      // plan's output partitioning (canChangeCachedPlanOutputPartitioning
      // = false), which disables partition COALESCING in the cache-
      // materialization result stage — every frame a graft.util.SessionMemo
      // persists (the pair streams, the hot-route df aggregate) therefore
      // ran its joins at the full initialPartitionNum (256) regardless of
      // measured bytes: tools/JobCensus showed three 256-task ~1 s stages
      // per q27 call whose siblings outside the cached subtree coalesced
      // to ~30. Consumers of the cache re-derive partitioning from the
      // scan, so letting AQE size these stages by bytes is
      // semantics-neutral at every scale.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      // Shuffle files are deleted only when the driver GCs the dependency
      // objects; the default periodic-GC interval (30 min) lets a
      // multi-run bench session accumulate every completed run's shuffle
      // output on disk — the 4M-vector q84 ladder run filled the disk
      // with ~6 finished runs' files before its own shuffle could write.
      // 5 min bounds the on-disk footprint to roughly one run's worth.
      .config("spark.cleaner.periodicGC.interval", "5min")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** cpus from SPARK_GRAFT_CPUS (default 4 — the driver contract). */
  def localFromEnv(): SparkSession =
    local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
}
