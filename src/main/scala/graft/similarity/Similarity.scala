package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate/exact nearest-neighbor search over an embedding column
  * (`array<float>`), for training-data pipelines.
  *
  * - `cosineTopK` — exact top-k ROUTER: delegates to the broadcast
  *   fast path below a configurable build-row threshold and to the
  *   fully-distributed blocked path above it — the kNN analogue of
  *   Spark's own broadcast-vs-shuffle join selection. The default route
  *   never `collect()`s an unbounded build side.
  * - `cosineTopKBroadcast` — the opt-in fast path. The build side (all
  *   vectors) is broadcast, the probe side streams through
  *   `mapPartitions` with a tight double-precision loop and a bounded
  *   top-k buffer — the kNN analogue of a broadcast hash join. Build
  *   side must fit in executor memory (same contract as any broadcast
  *   join).
  * - `cosineTopKBlocked` — exact top-k with no collect/broadcast:
  *   block nested-loop over a (probeBlocks × buildBlocks) grid, partial
  *   top-k per cell, k-bounded merge. Bit-identical to `cosineTopK`.
  * - `lshCosineTopK` — random-hyperplane LSH with multi-table banding
  *   (L tables × k sign bits): same-bucket pairs only, recall
  *   1-(1-p^k)^L. Candidate generation is a shuffle on bucket ids of
  *   (bucket, id) pairs; scoring joins candidates back to the
  *   distributed vector table — vectors never sit on the driver.
  *
  * Hyperplanes are seeded from md5, so bucketing is deterministic across
  * runs and machines.
  */
/** Internal vector row for the similarity kernels (top-level: Spark
  * codegen must be able to access the class from generated projections). */
case class Vec(id: Long, v: Array[Double], norm: Double)

object Similarity {

  private[similarity] def toVecs(df: DataFrame, id: String, vec: String): Dataset[Vec] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(id).cast("long").as("id"), col(vec).as("v"))
      .as[(Long, Seq[Float])]
      .map { case (i, s) =>
        val a = new Array[Double](s.length)
        var j = 0; var sq = 0.0
        while (j < s.length) { a(j) = s(j).toDouble; sq += a(j) * a(j); j += 1 }
        Vec(i, a, math.sqrt(sq))
      }
  }

  private[graft] def cosine(a: Vec, b: Vec): Double = {
    var s = 0.0; var j = 0
    while (j < a.v.length) { s += a.v(j) * b.v(j); j += 1 }
    s / (a.norm * b.norm)
  }

  /** Bounded top-k of `a` against `arr` (cosine desc, id asc on ties).
    * Primitive-array insertion sort — no boxing, no allocation per probe
    * beyond the two k-sized buffers. Emits (a.id, b.id, unrounded cosine)
    * without ranks: ranks are assigned after any cross-block merge. */
  private def topkAgainst(a: Vec, arr: Array[Vec], k: Int): Iterator[(Long, Long, Double)] = {
    val bIds = new Array[Long](k)
    val bCos = new Array[Double](k)
    var filled = 0
    var i = 0
    while (i < arr.length) {
      val b = arr(i)
      if (b.id != a.id) {
        val c = cosine(a, b)
        var pos = filled
        while (pos > 0 &&
          (c > bCos(pos - 1) || (c == bCos(pos - 1) && b.id < bIds(pos - 1)))) {
          pos -= 1
        }
        if (pos < k) {
          val last = math.min(filled, k - 1)
          var j = last
          while (j > pos) { bIds(j) = bIds(j - 1); bCos(j) = bCos(j - 1); j -= 1 }
          bIds(pos) = b.id; bCos(pos) = c
          if (filled < k) filled += 1
        }
      }
      i += 1
    }
    (0 until filled).iterator.map(r => (a.id, bIds(r), bCos(r)))
  }

  /** Exact brute-force cosine top-k neighbors per vector — the default
    * entry point. Routes by build size, like Spark's join selection:
    * at or below `maxBroadcastRows` it takes the broadcast fast path;
    * above it, the blocked grid, which never ships vectors to the
    * driver. The routing `count()` is a real (cheap) job — a columnless
    * scan that Catalyst reduces to parquet row-group counts on a bare
    * table, but a full computation on any non-trivial upstream plan;
    * callers routing a derived DataFrame repeatedly should route once
    * and pick a path explicitly. Both paths are bit-identical (same
    * summation order, same tie-break), so routing can never change
    * results. Deterministic: ties broken by neighbor id ascending. */
  def cosineTopK(df: DataFrame, id: String, vec: String, k: Int,
                 maxBroadcastRows: Long = 100000): DataFrame =
    if (df.count() <= maxBroadcastRows) cosineTopKBroadcast(df, id, vec, k)
    else cosineTopKBlocked(df, id, vec, k)

  /** Broadcast-build exact top-k (the opt-in fast path — see object doc). */
  def cosineTopKBroadcast(df: DataFrame, id: String, vec: String, k: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // Probe side: single-file inputs arrive as one partition — spread the
    // O(n·d) per-row work across cores (explicit repartition survives AQE).
    val vecs = toVecs(df, id, vec)
      .repartition(spark.sparkContext.defaultParallelism)
    // Build side: same contract as a broadcast join build (must fit in mem).
    val build = spark.sparkContext.broadcast(vecs.collect())
    val topk = vecs.mapPartitions { it =>
      val all = build.value
      it.flatMap { a =>
        topkAgainst(a, all, k).zipWithIndex.map {
          case ((ia, ib, c), r) => (ia, ib, r + 1, c)
        }
      }
    }.toDF("id_a", "id_b", "rank", "cosine")
    topk.withColumn("cosine", round(col("cosine"), 6))
  }

  /** Exact cosine top-k with NO driver-side collect and NO broadcast —
    * the 100 TB shape of `cosineTopK`. Block nested-loop kNN:
    *
    *   - probe rows are replicated to `buildBlocks` grid cells,
    *     build rows to `probeBlocks` cells (grid key = (pb, bb));
    *   - each of the probeBlocks × buildBlocks cells computes a bounded
    *     per-probe top-k against ONLY its build block (task memory =
    *     one build block, tunable);
    *   - per-probe partials from the `buildBlocks` cells merge by a
    *     k-bounded window rank.
    *
    * Shuffle volume = buildBlocks·|probe| + probeBlocks·|build| rows —
    * linear in the replication factors, never O(n²); both factors scale
    * with cluster width independently of data size. Results are
    * bit-identical to `cosineTopK` (same summation order, same tiebreak).
    */
  def cosineTopKBlocked(df: DataFrame, id: String, vec: String, k: Int,
                        probeBlocks: Int = 8, buildBlocks: Int = 8): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val vecs = toVecs(df, id, vec)
    val probeRep = vecs.flatMap { a =>
      val pb = (math.floorMod(a.id, probeBlocks)).toInt
      (0 until buildBlocks).iterator.map(bb => (pb * buildBlocks + bb, a))
    }
    val buildRep = vecs.flatMap { b =>
      val bb = (math.floorMod(b.id, buildBlocks)).toInt
      (0 until probeBlocks).iterator.map(pb => (pb * buildBlocks + bb, b))
    }
    val partials = probeRep.groupByKey(_._1)
      .cogroup(buildRep.groupByKey(_._1)) { (_, probes, builds) =>
        val block = builds.map(_._2).toArray
        probes.flatMap { case (_, a) => topkAgainst(a, block, k) }
      }
      .toDF("id_a", "id_b", "cosine")
    val w = Window.partitionBy(col("id_a"))
      .orderBy(col("cosine").desc, col("id_b").asc)
    partials
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("id_a"), col("id_b"), col("rank"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** Embedding-cosine near-duplicate pairs — a size ROUTER like
    * [[cosineTopK]]: at or below `maxExactRows` input rows, the exact
    * all-pairs blocked grid ([[cosineNearDupPairsExact]] — O(n²) by the
    * nature of the question); above it, LSH-bucketed candidate
    * generation with exact in-kernel cosine verification
    * ([[cosineNearDupPairsLsh]] — the 100 TB shape).
    *
    * UNLIKE cosineTopK's two bit-identical paths, the scale route is
    * approximate: a true pair that shares no bucket in any of the
    * `tables` tables is missed (recall < 1 by construction — fine for
    * near-dup thresholds close to 1, where sign bits almost all agree;
    * poor for loose thresholds). Every pair it DOES emit carries the
    * same bit-exact cosine as the exact grid, so whenever recall is 1
    * the two routes return identical results (spec-proven on planted
    * near-dup clusters). The routing `count()` is a real (cheap) job on
    * non-trivial plans — route once, not per call, in hot loops.
    *
    * `maxExactRows` sits at the MEASURED cost crossover, not at the
    * largest size the exact grid survives: at 64 dims, exact-at-8k ≈
    * 1 s ≈ the LSH route's fixed overhead, while exact-at-20k already
    * burns 17 s against LSH's 2 s (the old 32768 cap put the worst
    * case of the quadratic path just inside the exact route). */
  def cosineNearDupPairs(df: DataFrame, id: String, vec: String,
                         threshold: Double, probeBlocks: Int = 8,
                         buildBlocks: Int = 8, maxExactRows: Long = 8192,
                         tables: Int = 8, planes: Int = 0): DataFrame =
    if (df.count() <= maxExactRows)
      cosineNearDupPairsExact(df, id, vec, threshold, probeBlocks, buildBlocks)
    else cosineNearDupPairsLsh(df, id, vec, threshold, planes, tables)

  private val pairCacheCap = 4
  private val pairCache = new graft.util.SessionMemo[
    (String, String, Double, Int, Int, Long, Int, Int), DataFrame](
    pairCacheCap, Some(_))

  /** Drop every cached pair stream (unpersisting each). Call at pipeline
    * boundaries in long-lived sessions; the harness mains instead use
    * `spark.catalog.clearCache()`, which empties the STORAGE but leaves
    * the entries (see [[graft.util.SessionMemo]]). */
  def clearPairCache(): Unit = pairCache.clear()

  private[similarity] def pairCacheSize: Int = pairCache.size

  /** [[cosineNearDupPairs]] with CROSS-OPERATOR reuse: the routed pair
    * stream is persisted and memoized on the (session, input plan,
    * parameters) identity, so a pipeline that consumes the same pairs
    * twice — near-dup REPORTING and semantic-purge clustering is the
    * canonical case — pays the candidate generation + verify cost ONCE.
    * At 100 TB that cost (the LSH shuffle and the in-kernel cosine
    * verify) dominates both consumers, so recomputing it per consumer
    * would double the pipeline's largest stage for no reason. Validity,
    * LRU bound (`pairCacheCap` entries) and the `clearCache()` behavior
    * follow [[graft.util.SessionMemo]], signed by the source files'
    * [[graft.util.SourceSig.contentSig]]. */
  def cosineNearDupPairsCached(df: DataFrame, id: String, vec: String,
                               threshold: Double, probeBlocks: Int = 8,
                               buildBlocks: Int = 8, maxExactRows: Long = 8192,
                               tables: Int = 8, planes: Int = 0): DataFrame =
    pairCache.getOrCompute(df, (id, vec, threshold, probeBlocks, buildBlocks,
        maxExactRows, tables, planes), graft.util.SourceSig.contentSig(df)) {
      cosineNearDupPairs(df, id, vec, threshold, probeBlocks, buildBlocks,
        maxExactRows, tables, planes)
    }

  /** Exact all-pairs near-dup: every (id_a < id_b) pair whose cosine,
    * rounded to 6 dp, clears `threshold` — the embedding analogue of the
    * n-gram Jaccard near-dup detector. Same fully-distributed block
    * nested-loop grid as [[cosineTopKBlocked]] (no collect, no
    * broadcast): pairs are scored once (the a.id < b.id half of the grid),
    * shuffle volume stays linear in the replication factors. Thresholding
    * on the ROUNDED value keeps the cut deterministic across engines. */
  def cosineNearDupPairsExact(df: DataFrame, id: String, vec: String,
                              threshold: Double, probeBlocks: Int = 8,
                              buildBlocks: Int = 8): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val vecs = toVecs(df, id, vec)
    val aRep = vecs.flatMap { a =>
      val pb = math.floorMod(a.id, probeBlocks).toInt
      (0 until buildBlocks).iterator.map(bb => (pb * buildBlocks + bb, a))
    }
    val bRep = vecs.flatMap { b =>
      val bb = math.floorMod(b.id, buildBlocks).toInt
      (0 until probeBlocks).iterator.map(pb => (pb * buildBlocks + bb, b))
    }
    aRep.groupByKey(_._1)
      .cogroup(bRep.groupByKey(_._1)) { (_, as, bs) =>
        val block = bs.map(_._2).toArray
        // The half-up rounding that defines the cut is BigDecimal — but a
        // BigDecimal per scanned pair dominated the whole operator (every
        // pair allocates; almost none survive). Cheap double prefilter
        // first: only pairs within half an ulp-of-the-grid of the
        // threshold ever reach the exact rounding.
        val pre = threshold - 5e-7
        as.flatMap { case (_, a) =>
          block.iterator
            .filter(b => a.id < b.id)
            .map(b => (a.id, b.id, cosine(a, b)))
            .filter { case (_, _, c) =>
              c >= pre &&
                BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP)
                  .toDouble >= threshold
            }
        }
      }
      .toDF("id_a", "id_b", "cosine")
      .withColumn("cosine", round(col("cosine"), 6))
  }

  /** LSH-routed near-dup pairs — [[cosineNearDupPairs]]' scale path:
    * multi-table random-hyperplane bucketing (the [[lshCosineTopK]]
    * machinery — vectors ride into buckets, candidates score IN-KERNEL,
    * no join-back), then the SAME exact rounded-cosine cut as the exact
    * grid. A pair appearing in several buckets collapses in the
    * `distinct` (deterministic cosine kernel ⇒ bit-identical duplicates).
    *
    * No `maxBucket` cap here, deliberately: an exact-duplicate cluster
    * of size m IS m(m−1)/2 true near-dup pairs — the output itself is
    * quadratic in cluster size, so skipping the bucket would drop true
    * answers to save work that the answer requires. Posting the full
    * cluster is the contract; feed pathological corpora through exact
    * dedup first if that is unacceptable.
    *
    * SKEW: sign-hash buckets are not uniform on real (clustered) data,
    * and one giant bucket's O(B²) verify would run as ONE straggler task
    * while the rest of the cluster idles (measured: a 50k-vector corpus
    * whose worst bucket held ~10% of the rows ran 17 s on 32 cores with
    * 31 idle). Buckets larger than `splitAbove` are therefore GRID-SPLIT
    * like the exact path: rows land in a √s×√s probe/build cell grid by
    * id hash, each unordered pair meets in exactly one cell (the id-order
    * rule picks the surviving orientation), so the candidate set — and
    * hence the result — is IDENTICAL, only sliced across tasks. The
    * split factor is capped (64) so replication stays bounded on
    * pathological buckets; the per-bucket sizing pass is one map-side
    * counted aggregate, and only oversized buckets' sizes are collected
    * (≤ rows·tables/splitAbove entries — a bounded probe, the family's
    * size-router convention). */
  def cosineNearDupPairsLsh(df: DataFrame, id: String, vec: String,
                            threshold: Double, planes: Int = 0,
                            tables: Int = 8,
                            splitAbove: Int = 2048): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val vecs = toVecs(df, id, vec)
      .repartition(spark.sparkContext.defaultParallelism)
    val nPlanes =
      if (planes > 0) planes
      else math.max(4, math.ceil(
        math.log(df.count() / 32.0) / math.log(2.0)).toInt)
    val nTables = tables
    def buckets = vecs.mapPartitions { it =>
      var mat: Array[Array[Double]] = null
      it.flatMap { a =>
        if (mat == null || mat(0).length < a.v.length)
          mat = planeMatrix(nTables * nPlanes, a.v.length)
        (0 until nTables).iterator.map(t => (signature(a.v, t, nPlanes, mat), a))
      }
    }
    // Oversized-bucket census. Recomputing the signature stream here is
    // deliberate: it is map-only work, far cheaper than materializing a
    // tables×-replicated vector stream for reuse.
    val giant: Map[String, Int] = buckets
      .groupByKey(_._1).count()
      .filter(_._2 > splitAbove.toLong)
      .collect()
      .map { case (sig, n) =>
        sig -> math.min(64, ((n + splitAbove - 1) / splitAbove).toInt)
      }.toMap
    val bcGiant = spark.sparkContext.broadcast(giant)
    // Roles: 1 = probe, 2 = build. Normal buckets put every row in cell
    // 0 with both roles; a giant bucket's row is a probe in its own grid
    // row and a build in its own grid column.
    val cells = buckets.mapPartitions { it =>
      val g = bcGiant.value
      it.flatMap { case (sig, a) =>
        g.get(sig) match {
          case None => Iterator.single((sig, 0, 3, a))
          case Some(s) =>
            val h = java.lang.Long.hashCode(a.id * 0x9E3779B97F4A7C15L)
            val own = math.floorMod(h, s)
            (0 until s).iterator.map(bb => (sig, own * s + bb, 1, a)) ++
              (0 until s).iterator.map(pb => (sig, pb * s + own, 2, a))
        }
      }
    }
    val pre = threshold - 5e-7 // cheap double prefilter before the exact
    cells.groupByKey(r => (r._1, r._2)) // BigDecimal rounding defines the cut
      .flatMapGroups { (_, it) =>
        val rows = it.toArray
        val probes = rows.collect { case (_, _, role, v) if (role & 1) != 0 => v }
        val builds = rows.collect { case (_, _, role, v) if (role & 2) != 0 => v }
        java.util.Arrays.sort(builds, Ordering.by((v: Vec) => v.id))
        for {
          a <- probes.iterator
          b <- builds.iterator
          if a.id < b.id
          c = cosine(a, b)
          if c >= pre &&
            BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP)
              .toDouble >= threshold
        } yield (a.id, b.id, c)
      }
      .distinct()
      .toDF("id_a", "id_b", "cosine")
      .withColumn("cosine", round(col("cosine"), 6))
  }

  /** IVF (inverted-file) ANN top-k — the classic coarse-quantizer scale
    * path: assign every vector to its nearest of `cells` deterministic
    * centroids, probe the `probes` nearest cells per query, scan only
    * those cells' members.
    *
    *   - centroids are md5-seeded ([[ivfComponent]]) — no training pass,
    *     and the same literals are computable in SQL, so unlike
    *     hyperplane LSH this ANN path is ORACLE-EXACT;
    *   - cell-affinity dots are micro-quantized (`floor(dot·1e6)`) before
    *     the argmax, which makes ties deterministic and reduces the
    *     chance that last-bit summation differences between engines flip
    *     an assignment to the boundary case of a sum straddling a 1e-6
    *     grid line (oracle-exactness is near-certain, not guaranteed);
    *   - one shuffle of (cell, vector) rows, replication factor =
    *     `probes`; each cell task scans only its member block;
    *   - `cells = 0` (the default) ADAPTS the cell count to the input:
    *     cells = max(16, ceil(√n)) — the classic IVF balance, which
    *     keeps assignment (n·cells·d) and probe-scan (probes·n·(n/cells)
    *     ·d) both at O(n^1.5·d). A FIXED cell count is quadratic in the
    *     scan term — measured: 200k vectors at 16 cells ran 216 s
    *     (scaling exponent 2.0/decade); adaptive cells bring the scan
    *     back to n^1.5. The sizing `count()` is a real (cheap) job —
    *     row-group metadata on a bare parquet table, a full computation
    *     on a derived plan (route once in hot loops).
    *
    * Recall < 1 by construction: only members of probed cells compete. */
  def ivfCosineTopK(df: DataFrame, id: String, vec: String, k: Int,
                    cells: Int = 0, probes: Int = 2): DataFrame = {
    val spark = df.sparkSession
    val nCells =
      if (cells > 0) cells
      else math.max(16, math.ceil(math.sqrt(df.count().toDouble)).toInt)
    val vecs = toVecs(df, id, vec)
      .repartition(spark.sparkContext.defaultParallelism)
    ivfScore(ivfAssign(vecs, nCells, probes), k)
  }

  /** IVF cell assignment — (cell, isMember, vec): each vector lands in
    * its `probes` best cells as a probe; its single best cell (rank 0)
    * also marks it a member. Shared verbatim by the per-call path and
    * the persisted-index build ([[VectorIndex]]), so the serve path's
    * equivalence is by construction. */
  private[similarity] def ivfAssign(vecs: Dataset[Vec], nCells: Int,
      probes: Int): Dataset[(Int, Boolean, Vec)] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    vecs.mapPartitions { it =>
      var cent: Array[Array[Double]] = null
      it.flatMap { a =>
        if (cent == null || cent(0).length < a.v.length)
          cent = centroidMatrix(nCells, a.v.length)
        val q = new Array[Long](nCells)
        var c = 0
        while (c < nCells) {
          var s = 0.0; var j = 0
          while (j < a.v.length) { s += a.v(j) * cent(c)(j); j += 1 }
          q(c) = math.floor(s * 1e6).toLong
          c += 1
        }
        val order = (0 until nCells).sortBy(c => (-q(c), c))
        order.take(probes).zipWithIndex.iterator
          .map { case (cell, i) => (cell, i == 0, a) }
      }
    }
  }

  /** Per-cell exact-cosine scan + global rank over an IVF replication
    * stream — the second half of [[ivfCosineTopK]], shared with the
    * index serve path. Order-insensitive: every pair's cosine is
    * computed independently in j-ascending order and ranks tie-break on
    * id, so the reps' partitioning/arrival order never changes output. */
  private[similarity] def ivfScore(reps: Dataset[(Int, Boolean, Vec)],
      k: Int): DataFrame = {
    val spark = reps.sparkSession
    import spark.implicits._
    val partials = reps.groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val rows = it.toArray
        val block = rows.collect { case (_, true, v) => v }
        rows.iterator.flatMap(r => topkAgainst(r._3, block, k))
      }
      .toDF("id_a", "id_b", "cosine")
    val w = Window.partitionBy(col("id_a"))
      .orderBy(col("cosine").desc, col("id_b").asc)
    partials
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("id_a"), col("id_b"), col("rank"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** IVF-PQ ANN top-k — the memory-compression scale path: IVF cells
    * prune the candidate set exactly like [[ivfCosineTopK]], but
    * candidates are scored against PRODUCT-QUANTIZED codes instead of
    * raw vectors (asymmetric distance computation, ADC): the vector
    * splits into `subspaces` sub-vectors, each encoded as its nearest of
    * `codewords` md5-seeded codewords, so a d-float vector becomes
    * `subspaces` small ints — 64 floats (256 B) → 8 codes (8 B), 32× —
    * and a cell scan reads codes, not vectors. At 100 TB of embeddings
    * the compressed index is what fits in executor memory; the raw
    * vectors need never shuffle into the scan at all.
    *
    * Oracle-exact by the q71 recipe, extended:
    *   - codewords are SAMPLED from the data (the standard k-means-init
    *     shortcut): the `codewords` vectors ranked first by
    *     `md5('pqs:' || id)` donate their sub-vectors as the codebook.
    *     Uniform-random codebooks in [-1,1) fail here — unit-normalized
    *     64-dim data has rms component ≈ 0.125, so random codewords sit
    *     ~5× too far out and quantization degenerates to noise
    *     (uniform codebooks measured recall@3 0.08); data-sampled
    *     codewords match the distribution by construction and stay
    *     exactly reproducible in SQL (deterministic md5 rank, no
    *     training floats);
    *   - ENCODING quantizes each per-component squared distance to an
    *     integer (`floor(Δ²·1e9)`) and integer-sums — argmin ties break
    *     on codeword index, and integer sums are order-free, so both
    *     engines assign identical codes;
    *   - ADC table entries quantize to integers (`floor(dot·1e6)`) and
    *     the per-subspace terms integer-sum into `score_q` — ranking is
    *     integer-exact, no float summation order anywhere between the
    *     per-subspace dots (computed in identical j-ascending order by
    *     both engines) and the final rank.
    *
    *   - the ADC scan only SHORTLISTS: the top-`rerank` members per
    *     (query, cell) by integer score then pay an exact-cosine refine
    *     (the standard IVF-PQ refine step), so ranking quality recovers
    *     to near the exact-scoring IVF while the per-member scan cost
    *     stays 16 table lookups instead of 64 multiplies. Pure-ADC
    *     ranking measured recall@3 0.385 on the sf0.001 slice vs 0.54
    *     for exact-scoring IVF; with the refine the shortlist miss is
    *     the only loss.
    *
    * Approximation error vs true cosine comes from IVF pruning plus any
    * true neighbor falling off the ADC shortlist — the recall spec pins
    * it. Returns (id_a, id_b, rank, cosine) like the other ANN paths. */
  def ivfPqTopK(df: DataFrame, id: String, vec: String, k: Int,
                cells: Int = 0, probes: Int = 2,
                subspaces: Int = 16, codewords: Int = 32,
                rerank: Int = 32): DataFrame = {
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    val spark = df.sparkSession
    val nCells =
      if (cells > 0) cells
      else math.max(16, math.ceil(math.sqrt(df.count().toDouble)).toInt)
    val vecs = toVecs(df, id, vec)
      .repartition(spark.sparkContext.defaultParallelism)
    val sampled = pqSampleCodebook(df, id, vec, codewords)
    ivfPqScore(
      ivfPqAssign(vecs, nCells, probes, subspaces, codewords, sampled),
      sampled, subspaces, codewords, rerank, k)
  }

  /** Deterministic data-sampled PQ codebook: first `codewords` vectors
    * by md5('pqs:' || id) rank donate their sub-vectors. Codebook size
    * is codewords × d doubles — metadata-scale, broadcast via closure.
    * Shared by the per-call path and the index build; the index persists
    * exactly this array (doubles round-trip parquet bit-exactly). */
  private[similarity] def pqSampleCodebook(df: DataFrame, id: String,
      vec: String, codewords: Int): Array[Array[Double]] = {
    val spark = df.sparkSession
    import spark.implicits._
    val sampled: Array[Array[Double]] = df
      .select(col(id).cast("long").as("id"), col(vec).as("v"))
      .orderBy(md5(concat(lit("pqs:"), col(id).cast("string"))), col("id"))
      .limit(codewords)
      .as[(Long, Seq[Float])]
      .collect()
      .map(_._2.iterator.map(_.toDouble).toArray)
    require(sampled.length == codewords,
      s"need at least $codewords vectors to sample the PQ codebook, " +
        s"got ${sampled.length}")
    sampled
  }

  /** IVF cell assignment with PQ codes riding along — (cell, isMember,
    * vec, codes), computed once per vector. Shared verbatim with the
    * index build (see [[ivfAssign]] for the sharing rationale). */
  private[similarity] def ivfPqAssign(vecs: Dataset[Vec], nCells: Int,
      probes: Int, subspaces: Int, codewords: Int,
      sampled: Array[Array[Double]]): Dataset[(Int, Boolean, Vec, Array[Int])] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    def codebookOf(sd: Int): Array[Array[Array[Double]]] =
      Array.tabulate(subspaces, codewords, sd)((s, c, j) => sampled(c)(s * sd + j))
    vecs.mapPartitions { it =>
      var cent: Array[Array[Double]] = null
      var cw: Array[Array[Array[Double]]] = null
      it.flatMap { a =>
        val d = a.v.length
        require(d % subspaces == 0,
          s"vector dim $d must be divisible by subspaces=$subspaces")
        val sd = d / subspaces
        if (cent == null || cent(0).length < d) {
          cent = centroidMatrix(nCells, d)
          cw = codebookOf(sd)
        }
        // IVF cell affinities, micro-quantized (identical to ivfCosineTopK)
        val q = new Array[Long](nCells)
        var c = 0
        while (c < nCells) {
          var s = 0.0; var j = 0
          while (j < d) { s += a.v(j) * cent(c)(j); j += 1 }
          q(c) = math.floor(s * 1e6).toLong
          c += 1
        }
        val order = (0 until nCells).sortBy(c => (-q(c), c))
        // PQ codes: per subspace, argmin of integer-quantized squared L2
        val codes = new Array[Int](subspaces)
        var sp = 0
        while (sp < subspaces) {
          var best = 0; var bestD = Long.MaxValue
          var cc = 0
          while (cc < codewords) {
            var dq = 0L; var j = 0
            while (j < sd) {
              val diff = a.v(sp * sd + j) - cw(sp)(cc)(j)
              dq += math.floor(diff * diff * 1e9).toLong
              j += 1
            }
            if (dq < bestD) { bestD = dq; best = cc }
            cc += 1
          }
          codes(sp) = best
          sp += 1
        }
        order.take(probes).zipWithIndex.iterator
          .map { case (cell, i) => (cell, i == 0, a, codes) }
      }
    }
  }

  /** Per-cell ADC shortlist + exact-cosine refine + global rank — the
    * second half of [[ivfPqTopK]], shared with the index serve path.
    * Order-insensitive like [[ivfScore]]: integer ADC scores tie-break
    * on id, the refine recomputes exact cosines per pair. */
  private[similarity] def ivfPqScore(
      reps: Dataset[(Int, Boolean, Vec, Array[Int])],
      sampled: Array[Array[Double]], subspaces: Int, codewords: Int,
      rerank: Int, k: Int): DataFrame = {
    val spark = reps.sparkSession
    import spark.implicits._
    def codebookOf(sd: Int): Array[Array[Array[Double]]] =
      Array.tabulate(subspaces, codewords, sd)((s, c, j) => sampled(c)(s * sd + j))

    val partials = reps.groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val rows = it.toArray
        // members keep their raw vector alongside the codes: the ADC scan
        // ranks ALL members from codes alone, then only the top-`rerank`
        // shortlist pays an exact-cosine refine (the standard IVF-PQ
        // refine step — at true index scale the raw vector would come
        // from an id-join against vector storage instead).
        val members = rows.collect { case (_, true, v, codes) => (v, codes) }
        var cw: Array[Array[Array[Double]]] = null
        rows.iterator.flatMap { case (_, _, a, _) =>
          val d = a.v.length
          val sd = d / subspaces
          if (cw == null) cw = codebookOf(sd)
          // ADC table for this query: t(s)(c) = floor(dot(a_sub, cw)·1e6)
          val t = Array.ofDim[Long](subspaces, codewords)
          var sp = 0
          while (sp < subspaces) {
            var cc = 0
            while (cc < codewords) {
              var s = 0.0; var j = 0
              while (j < sd) { s += a.v(sp * sd + j) * cw(sp)(cc)(j); j += 1 }
              t(sp)(cc) = math.floor(s * 1e6).toLong
              cc += 1
            }
            sp += 1
          }
          // bounded top-`rerank` shortlist over the member codes
          val r = rerank
          val bIdx = new Array[Int](r)
          val bSc = new Array[Long](r)
          var filled = 0
          var mi = 0
          while (mi < members.length) {
            val (bv, codes) = members(mi)
            if (bv.id != a.id) {
              var sc = 0L; var s = 0
              while (s < subspaces) { sc += t(s)(codes(s)); s += 1 }
              var pos = filled
              while (pos > 0 &&
                (sc > bSc(pos - 1) ||
                  (sc == bSc(pos - 1) && bv.id < members(bIdx(pos - 1))._1.id))) {
                pos -= 1
              }
              if (pos < r) {
                val lim = math.min(filled, r - 1)
                var m = lim
                while (m > pos) { bIdx(m) = bIdx(m - 1); bSc(m) = bSc(m - 1); m -= 1 }
                bIdx(pos) = mi; bSc(pos) = sc
                if (filled < r) filled += 1
              }
            }
            mi += 1
          }
          // refine: exact cosine on the shortlist only
          (0 until filled).iterator.map { i =>
            val b = members(bIdx(i))._1
            (a.id, b.id, cosine(a, b))
          }
        }
      }
      .toDF("id_a", "id_b", "cosine")
    val w = Window.partitionBy(col("id_a"))
      .orderBy(col("cosine").desc, col("id_b").asc)
    partials
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("id_a"), col("id_b"), col("rank"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** K-means-refined IVF ANN: Lloyd iterations tighten the md5-seeded
    * coarse quantizer before the same probe/scan search as
    * [[ivfCosineTopK]]. Fully deterministic (seeded init, fixed
    * iteration count, stable tie-breaks) but not oracle-checked — the
    * float averaging isn't portably reproducible in SQL; the recall
    * spec vs the untrained quantizer covers it.
    *
    * Scale: each iteration is one shuffle (assign → per-cell positional
    * mean); only the cells×d centroid matrix (metadata-sized) ever
    * reaches the driver. Centroids are L2-normalized so cell affinity
    * stays a pure direction comparison. Empty cells keep their previous
    * centroid. */
  def ivfCosineTopKTrained(df: DataFrame, id: String, vec: String, k: Int,
                           cells: Int = 16, probes: Int = 2,
                           iters: Int = 2): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val vecs = toVecs(df, id, vec)
      .repartition(spark.sparkContext.defaultParallelism)
      .cache()
    val dim = vecs.head().v.length
    def normalized(c: Array[Double]): Array[Double] = {
      var s = 0.0; var j = 0
      while (j < c.length) { s += c(j) * c(j); j += 1 }
      val n = math.sqrt(s)
      if (n == 0) c else c.map(_ / n)
    }
    var cents: Array[Array[Double]] =
      Array.tabulate(cells)(c => normalized(
        Array.tabulate(dim)(j => ivfComponent(c, j))))
    def bestCell(v: Array[Double], cs: Array[Array[Double]]): Int = {
      var best = 0; var bestDot = Double.NegativeInfinity
      var c = 0
      while (c < cs.length) {
        var s = 0.0; var j = 0
        val cv = cs(c)
        val n = math.min(v.length, cv.length)
        while (j < n) { s += v(j) * cv(j); j += 1 }
        if (s > bestDot) { bestDot = s; best = c }
        c += 1
      }
      best
    }
    for (_ <- 1 to iters) {
      val bc = spark.sparkContext.broadcast(cents)
      // assign + per-cell positional mean — one shuffle; result is
      // cells×d, metadata-sized, so the collect is not a data collect
      val means = vecs
        .map(a => (bestCell(a.v, bc.value), a.v))
        .toDF("cell", "v")
        .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(avg(col("x")).as("m"))
        .collect()
      val next = Array.tabulate(cells, dim)((c, j) => cents(c)(j))
      means.groupBy(_.getAs[Int]("cell")).foreach { case (c, rows) =>
        rows.foreach(r => next(c)(r.getAs[Int]("pos")) = r.getAs[Double]("m"))
      }
      cents = next.map(normalized)
      bc.destroy()
    }
    // The cache exists for the per-iteration Lloyd jobs above; release it
    // once they are done so long-lived sessions don't accumulate cached
    // datasets. The returned (lazy) plan below recomputes `vecs` once —
    // a single scan, the same cost the uncached first iteration paid.
    vecs.unpersist(blocking = false)
    val fin = spark.sparkContext.broadcast(cents)
    val reps = vecs.mapPartitions { it =>
      val cs = fin.value
      it.flatMap { a =>
        val q = new Array[Double](cells)
        var c = 0
        while (c < cells) {
          var s = 0.0; var j = 0
          val cv = cs(c)
          val n = math.min(a.v.length, cv.length)
          while (j < n) { s += a.v(j) * cv(j); j += 1 }
          q(c) = s
          c += 1
        }
        val order = (0 until cells).sortBy(c => (-q(c), c))
        order.take(probes).zipWithIndex.iterator
          .map { case (cell, i) => (cell, i == 0, a) }
      }
    }
    val partials = reps.groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val rows = it.toArray
        val block = rows.collect { case (_, true, v) => v }
        rows.iterator.flatMap(r => topkAgainst(r._3, block, k))
      }
      .toDF("id_a", "id_b", "cosine")
    val w = Window.partitionBy(col("id_a"))
      .orderBy(col("cosine").desc, col("id_b").asc)
    partials
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("id_a"), col("id_b"), col("rank"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** Deterministic IVF centroid component for (cell, dim) in [-1, 1):
    * the [[planeComponent]] md5 convention under an "ivf" salt (distinct
    * from the LSH hyperplane family). */
  private[similarity] def ivfComponent(cell: Int, dim: Int): Double = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"ivf:$cell:$dim".getBytes("UTF-8"))
    val u = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    u.toDouble / 2147483648.0 - 1.0
  }

  private def centroidMatrix(cells: Int, d: Int): Array[Array[Double]] =
    Array.tabulate(cells, d)((c, j) => ivfComponent(c, j))

  /** Deterministic hyperplane component for (plane, dim) in [-1, 1):
    * first 8 md5 hex chars of "plane:dim" as uint32, rescaled. Matches the
    * md5-seeded convention used across the dedup/similarity operators. */
  private[similarity] def planeComponent(plane: Int, dim: Int): Double = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$plane:$dim".getBytes("UTF-8"))
    val u = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    u.toDouble / 2147483648.0 - 1.0
  }

  /** Materialized hyperplane matrix: row = plane index (t·planes+p),
    * col = dimension. Values are exactly [[planeComponent]] — computed
    * ONCE per task (tables·planes·d md5 calls total) instead of once per
    * (row, plane, dim), which at n rows would be n× that many digests. */
  /** Dev-only census hook for tools/BucketProbe: (bucket, size) of the
    * near-dup LSH signature stream at a given plane/table count. */
  private[graft] def debugBucketSizes(df: DataFrame, id: String, vec: String,
                                      nPlanes: Int, nTables: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    toVecs(df, id, vec).mapPartitions { it =>
      var mat: Array[Array[Double]] = null
      it.flatMap { a =>
        if (mat == null || mat(0).length < a.v.length)
          mat = planeMatrix(nTables * nPlanes, a.v.length)
        (0 until nTables).iterator.map(t => signature(a.v, t, nPlanes, mat))
      }
    }.groupByKey(identity).count().toDF("bucket", "sz")
  }

  private[graft] def planeMatrix(numPlanes: Int, d: Int): Array[Array[Double]] =
    Array.tabulate(numPlanes, d)((plane, dim) => planeComponent(plane, dim))

  /** Sign-bit signature of `v` for table `t` with `planes` bits. */
  private[graft] def signature(v: Array[Double], t: Int, planes: Int,
                        mat: Array[Array[Double]]): String = {
    val sb = new StringBuilder(planes + 4)
    sb.append(t).append(':')
    var p = 0
    while (p < planes) {
      val row = mat(t * planes + p)
      var s = 0.0; var j = 0
      while (j < v.length) { s += v(j) * row(j); j += 1 }
      sb.append(if (s >= 0) '1' else '0')
      p += 1
    }
    sb.toString
  }

  /** ANN top-k via multi-table random-hyperplane LSH — the 100 TB scale
    * path, with NO driver-side vector state:
    *
    *   - vectors ride INTO their buckets (`tables`× payload replication,
    *     one shuffle) and every same-bucket pair is scored IN-KERNEL —
    *     no candidate-pair materialization and no join-back. The earlier
    *     form shuffled bare (bucket, id) pairs and rejoined candidates
    *     to the vector table; measured at 500k×64d it was join-bound
    *     (the two hash joins moved the candidate set twice more than the
    *     8× payload replication costs) — see PLAN.md round-5 ladder;
    *   - a pair sharing a signature in several tables is scored in each,
    *     then collapsed inside the ranking window: cosine is
    *     deterministic (index-ascending summation, the [[cosine]] kernel),
    *     so duplicates agree bit-for-bit and sit adjacent in the window's
    *     (cosine desc, id_b asc) order, where a `lag()` comparison drops
    *     every copy after the first — no separate `distinct` shuffle, and
    *     the result set is identical to the join form's;
    *   - `planes = 0` (default) adapts the signature width to the input:
    *     planes = max(4, ceil(log2(n / 32))) keeps the expected bucket
    *     size ~32, so per-bucket pair generation stays O(n) overall as n
    *     grows instead of O((n/2^planes)²) blowing up;
    *   - `maxBucket` skips degenerate buckets (exact-duplicate clusters)
    *     entirely — quadratic-within-a-bucket insurance, like the dedup
    *     family's shingle df cap. Skips are NOT silent (the repo's
    *     "no silent caps" convention): every skipped bucket increments
    *     the `graft.lsh.skippedBuckets` accumulator (visible in the UI;
    *     pass `skippedBuckets` to read it programmatically after the
    *     job, e.g. to alert on dropped coverage). Note the accumulator
    *     lives in a transformation, so task retries can over-count —
    *     it is a diagnostic, not an exact metric. Members of a skipped
    *     bucket can still pair in their other `tables` buckets.
    *
    * Recall < 1 by construction: only pairs sharing a full signature in
    * ≥1 of the `tables` tables are compared. */
  def lshCosineTopK(df: DataFrame, id: String, vec: String, k: Int,
                    planes: Int = 0, tables: Int = 8,
                    maxBucket: Int = 256,
                    skippedBuckets: Option[org.apache.spark.util.LongAccumulator] =
                      None): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val skipAcc = skippedBuckets.getOrElse(
      spark.sparkContext.longAccumulator("graft.lsh.skippedBuckets"))
    // Adaptive width needs only the ROW COUNT — count the SOURCE relation
    // (on a bare parquet table Catalyst answers it from row-group
    // metadata; on a derived plan it is a real columnless-scan job)
    // instead of counting a cached `vecs`: no vector decode for the
    // probe, and no cached dataset left accumulating in executor storage
    // across calls.
    val vecs = toVecs(df, id, vec)
      .repartition(spark.sparkContext.defaultParallelism)
    val nPlanes =
      if (planes > 0) planes
      else math.max(4, math.ceil(
        math.log(df.count() / 32.0) / math.log(2.0)).toInt)
    val nTables = tables
    val buckets = vecs.mapPartitions { it =>
      // The matrix is sized to the widest vector seen so far and rebuilt
      // (values per (plane, dim) are deterministic, so extension is exact)
      // when a wider vector appears — ragged dimensionality within a
      // partition must not index past the cached columns.
      var mat: Array[Array[Double]] = null
      it.flatMap { a =>
        if (mat == null || mat(0).length < a.v.length)
          mat = planeMatrix(nTables * nPlanes, a.v.length)
        (0 until nTables).iterator.map(t => (signature(a.v, t, nPlanes, mat), a))
      }
    }
    // In-kernel scoring per bucket: the cap skips degenerate buckets
    // (see scaladoc); inside a kept bucket every ordered pair is scored
    // with the shared summation-order kernel.
    val scored = buckets.groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val vs = it.map(_._2).toArray
        if (vs.length > maxBucket) { skipAcc.add(1); Iterator.empty }
        else {
          java.util.Arrays.sort(vs, Ordering.by((v: Vec) => v.id))
          for (i <- vs.indices.iterator; j <- vs.indices.iterator if i != j)
            yield (vs(i).id, vs(j).id, cosine(vs(i), vs(j)))
        }
      }
      .toDF("id_a", "id_b", "cosine")
    // Duplicate pairs from other tables carry bit-identical cosines (one
    // deterministic kernel per (i, j)), so in the ranking window's own
    // (cosine desc, id_b asc) order every copy of a pair is ADJACENT —
    // dedup rides the window's exchange + sort via lag() instead of a
    // `.distinct()` paying a second full shuffle of the scored pair
    // stream (r18, guide §2.4: operations keyed the same way share one
    // exchange; before/after plans in plans/r18/q34_*). Both windows
    // share one partitioning + sort; the row_number after the filter
    // re-ranks only surviving rows, exactly the old distinct-then-rank.
    val w = Window.partitionBy(col("id_a"))
      .orderBy(col("cosine").desc, col("id_b").asc)
    scored
      .withColumn("__dup",
        lag(col("id_b"), 1).over(w) === col("id_b") &&
          lag(col("cosine"), 1).over(w) === col("cosine"))
      .filter(!coalesce(col("__dup"), lit(false)))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("id_a"), col("id_b"), col("rank"), round(col("cosine"), 6).as("cosine"))
  }

  /** Per-label centroids: positional mean of embeddings (posexplode +
    * groupBy — fully distributed, no collect). pos is 1-based. */
  def labelCentroids(df: DataFrame, label: String, vec: String): DataFrame =
    df.select(col(label).as("label"), posexplode(col(vec)).as(Seq("pos", "x")))
      .groupBy(col("label"), (col("pos") + 1).as("pos"))
      .agg(round(avg(col("x").cast("double")), 6).as("centroid"))

  /** kNN label propagation / label-noise audit: each vector takes the
    * majority label of its `k` nearest [[ivfCosineTopK]] neighbors
    * (tie → smaller label), and `agree` flags rows whose STORED label
    * disagrees with the neighborhood — the curation signal (candidate
    * mislabels / out-of-distribution rows; the semi-supervised cousin
    * of the reference's quality gates). Vectors whose probed cells hold
    * no other member have no neighborhood and are omitted.
    *
    * Scale shape: everything beyond the ANN pass is one hash
    * `groupBy(id, label)` (map-side combined) and a window bounded at
    * ≤ k rows per vector — no new shuffle class, no driver state.
    *
    * `pq = true` swaps the neighbor source to [[ivfPqTopK]] — the
    * compressed-scan route the round-13 q94 decade ladder documented as
    * the 100 TB shape (the exact-scoring IVF's candidates/query grow as
    * probes·√N by design; the PQ scan pays 16 integer table lookups per
    * member instead of 64 float multiplies, with the exact-cosine refine
    * only on the per-cell shortlist). Labels are a MAJORITY vote over k
    * neighbors, so the audit verdict tolerates shortlist misses far
    * better than a top-k list does — the route-agreement evidence lives
    * in `tools/KnnRoutePhase` and SimilarityAnnSpec. */
  def knnLabels(df: DataFrame, id: String, vec: String, label: String,
                k: Int = 5, cells: Int = 0, probes: Int = 4,
                pq: Boolean = false): DataFrame = {
    val nn =
      if (pq) ivfPqTopK(df, id, vec, k, cells, probes)
      else ivfCosineTopK(df, id, vec, k, cells, probes)
    knnVote(df, nn, id, label)
  }

  /** The vote/join half of [[knnLabels]] over a precomputed neighbor
    * table — shared with the index serve path ([[VectorIndex]]): label
    * lookups keep reading the SOURCE table (a two-column pruned scan),
    * so output column types match the per-call form exactly. */
  private[similarity] def knnVote(df: DataFrame, nn: DataFrame, id: String,
      label: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val votes = nn
      .join(df.select(col(id).as("id_b"), col(label).as("nbr_label")),
        Seq("id_b"))
      .groupBy(col("id_a"), col("nbr_label"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("id_a"))
      .orderBy(col("votes").desc, col("nbr_label").asc)
    votes.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("id_a").as(id), col("nbr_label").as("label_pred"),
        col("votes"))
      .join(df.select(col(id), col(label).as("label")), Seq(id))
      .select(col(id), col("label"), col("label_pred"), col("votes"),
        (col("label") === col("label_pred")).cast("int").as("agree"))
  }
}
