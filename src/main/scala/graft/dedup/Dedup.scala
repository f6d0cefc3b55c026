package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, IntegerType,
  LongType, ShortType, StringType, StructField, StructType}
import scala.collection.mutable
import graft.functions.SortedCommonCount.sortedCommonCount

/** Document deduplication for large-scale training-data pipelines:
  * exact, n-gram Jaccard, MinHash+LSH, and SimHash.
  *
  * Hash-function choice: every hash here is `md5` (hex string) or an
  * integer derived from an md5 prefix. md5 is deterministic, identical
  * across engines (which makes the DuckDB oracle exact), and uniformly
  * distributed — MinHash only needs a random-looking total order per seed,
  * and lexicographic order over md5 hex provides one.
  *
  * Scale: all stages are hash-partitioned group-bys / joins on
  * shingle or signature keys — no driver-side state, no cross join.
  * The only quadratic step is *within candidate buckets*, which is the
  * point of LSH banding: at 100 TB the band-bucket join replaces the
  * O(n²) pairwise scan with an O(candidates) one.
  */
object Dedup {

  /** Word tokens with position, one row per (id, pos, token). */
  def tokens(df: DataFrame, id: String, text: String): DataFrame =
    df.select(col(id), posexplode(split(col(text), " ")).as(Seq("pos", "token")))

  /** Distinct word n-gram shingles per document (default n=3).
    * Computed array-natively (`transform` over the split token array) so
    * shingling is a pure per-row map — the previous posexplode + window
    * `lead` version shuffled the whole token stream once per call just to
    * line up adjacent tokens that were already adjacent in the array.
    * The only shuffle left is the `distinct()`.
    *
    * Deliberate trade-off: `transform` is a higher-order function
    * (interpreted, no whole-stage codegen for this projection), but
    * dropping a full shuffle of the token stream dominates the
    * interpreted-lambda cost at every scale measured (q28 17s → ~3s). */
  def shingles(df: DataFrame, id: String, text: String, n: Int = 3): DataFrame = {
    val arr = split(col(text), " ")
    df.select(col(id), explode(when(size(arr) >= n,
        transform(sequence(lit(0), size(arr) - n),
          i => concat_ws(" ", slice(arr, i + lit(1), lit(n))))))
        .as("shingle"))
      .distinct()
  }

  /** Exact dedup: canonical (min id) representative per identical text.
    * The classic hash-groupBy — one shuffle on the digest. */
  def exact(df: DataFrame, id: String, text: String): DataFrame =
    df.groupBy(md5(col(text)).as("digest"))
      .agg(min(col(id)).as("canonical_id"), count(lit(1)).as("dup_count"))

  /** Default document-frequency cap for shingles (see [[capByDf]]):
    * high enough to be a no-op on corpora smaller than it (df can never
    * exceed the doc count), so small-scale results and oracles are
    * unchanged, while at 100 TB it bounds every posting list. */
  val DefaultMaxDf = 10000

  /** Drop stop-shingles: shingles whose DOCUMENT FREQUENCY exceeds
    * `maxDf` are removed from the shingle set entirely (pair generation,
    * sizes, and common counts all see the capped universe — the standard
    * production-dedup semantics; a phrase shared by everyone carries no
    * discriminative signal).
    *
    * This is the skew guard for the inverted-index joins: a posting list
    * is quadratic WITHIN its bucket, so one boilerplate phrase shared by
    * 1M docs would otherwise emit 10¹² candidate pairs in one task.
    * After the cap, per-shingle pair fan-out is ≤ maxDf², independent of
    * corpus size. The df aggregation and anti-join hash on `shingle` —
    * the same key the downstream self-join shuffles on — so the guard
    * rides the exchange the join needed anyway. */
  private[dedup] def capByDf(sh: DataFrame, maxDf: Int): DataFrame = {
    val hot = sh.groupBy(col("shingle"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxDf)
      .select("shingle")
    sh.join(hot, Seq("shingle"), "left_anti")
  }

  /** [[shingles]] with the [[capByDf]] stop-shingle guard applied. */
  def cappedShingles(df: DataFrame, id: String, text: String, n: Int = 3,
                     maxDf: Int = DefaultMaxDf): DataFrame =
    capByDf(shingles(df, id, text, n), maxDf)

  /** 60-bit md5-derived shingle hash (first 15 hex chars as BIGINT — the
    * same convention as [[simhash]] token hashes, reproducible in SQL as
    * `('0x' || substr(md5(shingle), 1, 15))::BIGINT`).
    *
    * Every join stage downstream of shingling keys on this LONG instead
    * of the shingle string: the distinct, the df cap, and the
    * inverted-index self-join all shuffle 8-byte keys instead of
    * ~25-byte text — a multiple off every exchange in the dedup family.
    * Collisions (≈ per-doc-pairs/2⁶⁰) are mirrored exactly by the oracle,
    * which hashes the same way. */
  private[dedup] def shingleHash: Column =
    conv(substring(md5(col("shingle")), 1, 15), 16, 10).cast("long")

  /** Hashed [[cappedShingles]]: (id, shingle: long). */
  private def hashedShingles(df: DataFrame, id: String, text: String, n: Int,
                             maxDf: Int): DataFrame =
    capByDf(shingles(df, id, text, n)
      .select(col(id), shingleHash.as("shingle")), maxDf)

  /** In-kernel ordering for the pair-generation id column. Integral ids
    * compare numerically; string ids compare as UTF-8 bytes — the SAME
    * order as Spark's `Column <` (UTF8String binary) and DuckDB's default
    * collation, so the emitted id_a < id_b orientation matches what an
    * equivalent SQL self-join would produce. Anything else is rejected
    * LOUDLY at plan-build time: a silent cast (the old behavior) turned
    * non-numeric ids into nulls at runtime and changed the output id type
    * for every caller. */
  private def idOrdering(dt: DataType): Ordering[Any] = dt match {
    case ByteType | ShortType | IntegerType | LongType =>
      Ordering.by((v: Any) => v.asInstanceOf[Number].longValue)
    case StringType => new Ordering[Any] {
      override def compare(x: Any, y: Any): Int = {
        val a = x.asInstanceOf[String]
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val b = y.asInstanceOf[String]
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        var i = 0
        val n = math.min(a.length, b.length)
        while (i < n) {
          val c = java.lang.Integer.compare(a(i) & 0xff, b(i) & 0xff)
          if (c != 0) return c
          i += 1
        }
        java.lang.Integer.compare(a.length, b.length)
      }
    }
    case other => throw new IllegalArgumentException(
      s"pair-generation id column must be integral or string, got $other " +
        "(ids are ordered in-kernel and keep their type in id_a/id_b)")
  }

  /** Per-doc sorted-distinct 60-bit shingle-hash arrays — (id, arr) in
    * ONE per-partition pass with ZERO shuffles. The whole Catalyst
    * shingle stream is gone: no per-shingle row materialization, no
    * interpreted `transform` lambda, no md5→hex→conv string round-trip,
    * and above all no `distinct()` exchange of 10⁸ string rows — the
    * within-doc dedup is a primitive sort + squash on the hash array,
    * computed where the document already is.
    *
    * Hash parity with [[shingleHash]] (and thus the DuckDB oracle) is
    * BYTE-level: `MessageDigest("MD5")` over the UTF-8 shingle equals
    * Spark's `md5()`, and the first 15 hex chars are exactly the top 60
    * bits of the digest (7 bytes + the high nibble of byte 7). The
    * 2⁻⁶⁰ within-doc caveat moves one step earlier: two distinct shingle
    * STRINGS colliding to one hash dedup here where the string-distinct
    * form kept both rows — same odds (~10⁻¹² per doc), same direction as
    * the verify-stage caveat documented on [[verifyJaccardArrays]].
    *
    * Token semantics mirror `split(text, " ")` + windowed `concat_ws`:
    * limit −1 keeps trailing empties, docs with < n tokens (or null
    * text) emit nothing — ABSENT, exactly like the exploded form. */
  /** Per-doc kernel of [[docShingleArrays]], shared with the streaming
    * dedup operators: sorted-distinct 60-bit md5 shingle hashes of one
    * text, or an empty array for docs shorter than n tokens. Byte-level
    * parity with the batch kernel and the DuckDB oracle (first 15 md5
    * hex chars as a 60-bit int). */
  private[graft] def shingleHashesOf(text: String, n: Int,
      md: java.security.MessageDigest): Array[Long] = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val toks = text.split(" ", -1)
    val m = toks.length - n + 1
    if (m <= 0) Array.emptyLongArray
    else {
      val hs = new Array[Long](m)
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i < m) {
        sb.setLength(0)
        var k = 0
        while (k < n) {
          if (k > 0) sb.append(' ')
          sb.append(toks(i + k)); k += 1
        }
        val d = md.digest(sb.toString.getBytes(utf8))
        var v = 0L; var b = 0
        while (b < 7) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
        hs(i) = (v << 4) | ((d(7) >> 4) & 0xfL)
        i += 1
      }
      java.util.Arrays.sort(hs)
      var w = 0; var j = 1
      while (j < m) { if (hs(j) != hs(w)) { w += 1; hs(w) = hs(j) }; j += 1 }
      java.util.Arrays.copyOf(hs, w + 1)
    }
  }

  private[graft] def docShingleArrays(df: DataFrame, id: String, text: String,
                                      n: Int): DataFrame = {
    val idType = df.schema(id).dataType
    val outSchema = StructType(Seq(StructField(id, idType),
      StructField("arr", ArrayType(LongType, containsNull = false))))
    df.select(col(id), col(text)).mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.flatMap { r =>
        if (r.isNullAt(0) || r.isNullAt(1)) Iterator.empty
        else {
          val hs = shingleHashesOf(r.getString(1), n, md)
          if (hs.isEmpty) Iterator.empty
          else Iterator.single(Row(r.get(0), hs))
        }
      }
    }(Encoders.row(outSchema))
  }

  /** Long-array column accessor tolerant of BOTH external representations
    * a Row can carry: the encoder's deserialized `Seq[Long]` (boxed) and
    * the primitive `Array[Long]` that rows keep when a kernel's output
    * feeds another kernel in the same plan (or reads back from a cached
    * object boundary). `getSeq` alone ClassCastExceptions on the latter —
    * caught by the stage probe at sf10, not by the oracle-scale specs. */
  @inline private[dedup] def longArray(v: Any): Array[Long] = v match {
    case a: Array[Long] => a
    case s: scala.collection.Seq[_] =>
      val n = s.length
      val out = new Array[Long](n)
      var i = 0
      val it = s.iterator
      while (i < n) { out(i) = it.next().asInstanceOf[Long]; i += 1 }
      out
    case other => throw new IllegalArgumentException(
      s"expected array<bigint> value, got ${other.getClass}")
  }

  /** Document frequencies ABOVE `bound`, collected to the driver as
    * (sorted hot array, sorted stop array). Exact, but WITHOUT the full
    * `explode → groupBy(shingle).count()` exchange the obvious form pays
    * (at sf100 that exchange moved ~350M partial rows and spilled its
    * hash maps — 158 s of the dedup queries' time, measured by
    * [[StageProbe]], to usually find NOTHING over the bound):
    *
    *   1. Chunk-count pass, in-kernel: scan the cached arrays in chunks
    *      of `chunkSize` shingle occurrences, counting within the chunk
    *      only (bounded memory: the count map dies at the chunk boundary)
    *      and emitting (shingle, c) for chunk counts c ≥ 2. With K total
    *      chunks (accumulator-counted), every occurrence is either in
    *      some emitted count or alone in its chunk, so
    *      S(x) ≤ df(x) ≤ S(x) + K where S = sum of x's emitted counts.
    *      Pigeonhole soundness needs K ≤ b (a shingle spread one-per-
    *      chunk has df ≤ K): if K > b (corpus outgrew chunkSize · b —
    *      raise `bound` or `chunkSize` with the corpus, the same knob
    *      the 100 TB story already turns) we fall back to the exact
    *      groupBy form, so results never depend on the tuning.
    *   2. Exact recount restricted to candidates with S > b − K (df > b
    *      is impossible below that): broadcast the sorted candidate
    *      array and `treeAggregate` one Long count vector per task
    *      (binary search per occurrence). No per-shingle shuffle at all —
    *      and when NO candidate's upper bound clears b (the common case:
    *      nothing is near the cap), the pass is skipped outright, so the
    *      whole df computation is ONE scan of the cached arrays.
    *
    * Driver-state bound: pass-2 candidates each carry S > b − K chunk-
    * local repeats, so there are ≤ |stream|/(b − K) of them; the final
    * hot set keeps the old pigeonhole bound ≤ |stream|/bound. A candidate
    * set above `maxCandidates` (adversarially repetitive corpora) also
    * falls back to the exact groupBy form. */
  private[dedup] def hotAndStop(arrs: DataFrame, bound: Int,
                                maxDf: Int,
                                chunkSize: Int = 4 << 20,
                                maxCandidates: Int = 16 << 20): (Array[Long], Array[Long]) = {
    val (hot, stop, _) =
      hotStopFrequent(arrs, bound, maxDf, 0, chunkSize, maxCandidates)
    (hot, stop)
  }

  /** [[hotAndStop]] plus the `prefixTopK` APPROXIMATELY most frequent
    * shingles by chunk-count S (a df proxy: within-chunk repeats) — free
    * from the same pass, collected before the per-chunk counts are
    * released. The frequent set feeds PREFIX ORDERING ONLY (any global
    * per-shingle property is a valid PPJoin total order, see
    * [[ppjoinDocsKernel]]), so its approximation — S depends on chunk
    * boundaries, hence on partitioning — can change candidate volume but
    * never results. Exact-df sets (hot/stop) are unchanged. */
  private[dedup] def hotStopFrequent(arrs: DataFrame, bound: Int,
                                maxDf: Int,
                                prefixTopK: Int,
                                chunkSize: Int = 4 << 20,
                                maxCandidates: Int = 16 << 20): (Array[Long], Array[Long], Array[Long]) = {
    val b = math.min(bound, maxDf)
    val spark = arrs.sparkSession
    import spark.implicits._

    def fromRows(rows: Array[(Long, Long)],
                 freq: Array[Long]): (Array[Long], Array[Long], Array[Long]) = {
      val hot = rows.map(_._1).sorted
      val stop = rows.filter(_._2 > maxDf).map(_._1).sorted
      ((hot ++ freq).distinct.sorted, stop, freq)
    }

    def exactGroupBy(): Array[(Long, Long)] = (
      arrs.select(explode(col("arr")).as("shingle"))
        .groupBy("shingle").agg(count(lit(1)).as("__df"))
        .filter(col("__df") > b)
        .select(col("shingle"), col("__df"))
        .as[(Long, Long)].collect())

    val chunks = spark.sparkContext.longAccumulator("hotAndStop.chunks")
    val arrOnly = arrs.select(col("arr")).as[Array[Long]]
    val chunkCounts = arrOnly.mapPartitions { it =>
      val seen = mutable.LongMap.empty[Int] // primitive keys, no boxing
      val out = mutable.ArrayBuffer.empty[(Long, Long)]
      var inChunk = 0
      def flush(): Unit = {
        seen.foreachEntry((k, c) => if (c >= 2) out += ((k, c.toLong)))
        seen.clear(); inChunk = 0
      }
      it.foreach { a =>
        var i = 0
        while (i < a.length) {
          if (inChunk == 0) chunks.add(1L)
          val v = a(i)
          seen.update(v, seen.getOrElse(v, 0) + 1)
          inChunk += 1
          if (inChunk >= chunkSize) flush()
          i += 1
        }
      }
      flush()
      out.iterator
    }.toDF("shingle", "c").groupBy("shingle").agg(sum("c").as("s"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    chunkCounts.count() // materialize: fixes the chunk accumulator
    val k = chunks.value
    val cands: Array[Long] =
      if (k > b) Array.empty
      else chunkCounts.filter(col("s") > b - k)
        .select(col("shingle")).as[Long].collect()
    val freq: Array[Long] =
      if (prefixTopK <= 0) Array.empty
      else chunkCounts.orderBy(col("s").desc, col("shingle"))
        .limit(prefixTopK).select(col("shingle")).as[Long].collect().sorted
    chunkCounts.unpersist()

    if (k > b || cands.length > maxCandidates) fromRows(exactGroupBy(), freq)
    else if (cands.isEmpty) fromRows(Array.empty, freq)
    else {
      java.util.Arrays.sort(cands)
      val candBc = spark.sparkContext.broadcast(cands)
      val dfs = arrOnly.rdd.treeAggregate(new Array[Long](cands.length))(
        seqOp = (acc, a) => {
          val ca = candBc.value
          var i = 0
          while (i < a.length) {
            val ix = java.util.Arrays.binarySearch(ca, a(i))
            if (ix >= 0) acc(ix) += 1
            i += 1
          }
          acc
        },
        combOp = (x, y) => {
          var i = 0
          while (i < x.length) { x(i) += y(i); i += 1 }
          x
        })
      candBc.destroy()
      fromRows(cands.indices.iterator
        .filter(ix => dfs(ix) > b)
        .map(ix => (cands(ix), dfs(ix))).toArray, freq)
    }
  }

  /** PPJoin doc-side build over [[docShingleArrays]] output — a pure MAP
    * (no shuffle): removes stop-shingles (binary search against the
    * broadcast-small stop set), and emits
    *
    *   - `arr` — value-sorted capped shingle set (the
    *     [[graft.functions.SortedCommonCount]] verify contract);
    *   - `pre` — the first |S|−⌈t·|S|⌉+1 shingles in (hot?, hash) order:
    *     COLD shingles (global df ≤ prefix bound) in hash order first,
    *     hot ones only when a doc has fewer than p cold shingles;
    *   - `sz` — capped size.
    *
    * The (hot, hash) order is a valid PPJoin global total order (hotness
    * is a global per-shingle property), so candidate completeness holds;
    * vs the exact (df asc, hash) order it trades some pruning sharpness
    * for NOT needing a df-attach join + per-doc regroup of the full
    * stream — two exchanges the round-5 shape paid. Cold prefix posting
    * lists stay ≤ the hot bound by construction. */
  private[dedup] def ppjoinDocsKernel(arrs: DataFrame, id: String,
                                      threshold: Double, hot: Array[Long],
                                      stop: Array[Long]): DataFrame = {
    val idType = arrs.schema(id).dataType
    val outSchema = StructType(Seq(StructField(id, idType),
      StructField("arr", ArrayType(LongType, containsNull = false)),
      StructField("pre", ArrayType(LongType, containsNull = false)),
      StructField("sz", LongType)))
    val spark = arrs.sparkSession
    val hotBc = spark.sparkContext.broadcast(hot)
    val stopBc = spark.sparkContext.broadcast(stop)
    arrs.mapPartitions { rows =>
      val hotA = hotBc.value; val stopA = stopBc.value
      rows.flatMap { r =>
        val raw = longArray(r.get(1))
        val n0 = raw.length
        val arr = new Array[Long](n0)
        var n = 0; var i = 0
        while (i < n0) {
          val v = raw(i)
          if (stopA.length == 0 || java.util.Arrays.binarySearch(stopA, v) < 0) {
            arr(n) = v; n += 1
          }
          i += 1
        }
        if (n == 0) Iterator.empty
        else {
          val capped = java.util.Arrays.copyOf(arr, n)
          val p = math.max(1, math.min(n,
            n - math.ceil(threshold * n - 1e-9).toInt + 1))
          val pre = new Array[Long](p)
          var k = 0; var w = 0
          while (k < n && w < p) { // cold shingles, ascending hash
            if (hotA.length == 0 ||
                java.util.Arrays.binarySearch(hotA, capped(k)) < 0) {
              pre(w) = capped(k); w += 1
            }
            k += 1
          }
          k = 0
          while (w < p && k < n) { // fewer than p cold: pad with hot, hash asc
            if (hotA.length > 0 &&
                java.util.Arrays.binarySearch(hotA, capped(k)) >= 0) {
              pre(w) = capped(k); w += 1
            }
            k += 1
          }
          // cold + hot = n >= p, so w == p here; guard stays defensive
          val preOut = if (w == p) pre else java.util.Arrays.copyOf(pre, w)
          Iterator.single(Row(r.get(0), capped, preOut, n.toLong))
        }
      }
    }(Encoders.row(outSchema))
  }

  /** Exact-Jaccard verification of candidate (id_a < id_b) pairs against
    * per-doc shingle arrays — IN-KERNEL set intersection instead of the
    * old double equi-join + `groupBy(id_a, id_b)` count, which shuffled
    * every (pair, shared-shingle) occurrence. Here the only moved rows
    * are the candidates themselves (joined twice against the linear-size
    * array table); the intersection is computed where the pair lands.
    * This was the last measured super-linear stage in the dedup family
    * (sf10 exponents 0.72/0.79): the pair-occurrence stream is gone.
    *
    * Physical shape, tuned from the sf10 stage probe and CORRECTED by the
    * sf100 one:
    *   - `sorted_common_count` (native codegen two-pointer merge over the
    *     value-sorted arrays) instead of `size(array_intersect(...))`,
    *     whose hash set boxes every element — the sf10 probe's single
    *     biggest cost;
    *   - join build sides must be CANDIDATE-sized, never docs-sized: the
    *     round-5 form hinted SHUFFLE_HASH on the docs side, which builds
    *     a per-partition hash map over the fat array payloads — memory
    *     ∝ docs/partition, and at sf100 (5M docs, 16g) it OOMs in
    *     `HashedRelation` (recorded dead end; the bench's swallowed
    *     failure masqueraded as a 2-5× "regression" until the stage
    *     probe surfaced the crash). A static SHUFFLE_HASH hint on the
    *     joined candidate stream fixed q28 and then OOMed on q27's
    *     30M-candidate sf100 verify — a hint cannot see runtime sizes.
    *     Both joins are now UNHINTED: AQE broadcasts the candidate side
    *     of join 1 when it is small (docs never move), and the session
    *     enables runtime SMJ→SHJ conversion (GraftSession's
    *     `maxShuffledHashJoinLocalMapThreshold`), so small builds hash
    *     with no sort while genuinely large ones stay sort-merge and
    *     SPILL. cand is referenced exactly once (a second reference
    *     would recompute the whole candidate pipeline — no
    *     ReusedExchange across AQE subtrees, measured on the q28 plan).
    *
    * 2⁻⁶⁰-probability caveat, mirrored nowhere: two DIFFERENT shingles of
    * the SAME doc colliding to one 60-bit hash would make the set
    * intersection count 1 where the old join form counted the
    * multiplicity product. At ~10³ shingles/doc the per-doc probability
    * is ~10⁻¹², and the DuckDB oracle's join form would diverge
    * identically from the true string-shingle Jaccard. */
  private[graft] def verifyJaccardArrays(docs: DataFrame, id: String,
                                  cand: DataFrame,
                                  threshold: Double): DataFrame =
    cand
      .join(docs.select(col(id).as("id_a"), col("arr").as("__arr_a"),
        col("sz").as("sz_a")), Seq("id_a"))
      .join(docs.select(col(id).as("id_b"), col("arr").as("__arr_b"),
        col("sz").as("sz_b")), Seq("id_b"))
      .withColumn("common",
        sortedCommonCount(col("__arr_a"), col("__arr_b")))
      .withColumn("jaccard",
        col("common").cast("double") / (col("sz_a") + col("sz_b") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** PPJoin candidate generation over exploded prefixes
    * (shingle, __id, pos, sz): one `groupByKey(shingle)` pass emits the
    * ordered pairs of each PREFIX posting list, pruned by the two PPJoin
    * bounds before anything is shuffled:
    *
    *   - length: jaccard ≥ t needs min(szA,szB) ≥ t·max(szA,szB)
    *     (common ≤ min, union ≥ max);
    *   - positional: a pair first meeting at 0-based prefix positions
    *     (pA, pB) has common ≤ 1 + min(szA−1−pA, szB−1−pB); prune when
    *     that bound is below the required ⌈t·(szA+szB)/(1+t)⌉. Pruning
    *     is per-occurrence and the FIRST shared shingle of a true pair
    *     always survives both bounds (its bound ≥ the true overlap), so
    *     no true pair is lost.
    *
    * All bounds carry ε-slack: FP rounding may only loosen them, never
    * tighten — extra candidates are killed by the exact verify.
    *
    * Long ids (the common case) take a fully PRIMITIVE tuple-encoder
    * path — the generic Row path boxes every field access, measured as
    * a real fraction of the candidate stage at sf10. Both paths emit
    * identical pairs. */
  private[dedup] def ppjoinCandidates(prefixed: DataFrame, idType: DataType,
                               threshold: Double): DataFrame = idType match {
    case LongType => ppjoinCandidatesLong(prefixed, threshold)
    case _ => ppjoinCandidatesGeneric(prefixed, idType, threshold)
  }

  private def ppjoinCandidatesLong(prefixed: DataFrame,
                                   threshold: Double): DataFrame = {
    val spark = prefixed.sparkSession
    import spark.implicits._
    val eps = 1e-9
    prefixed
      .select(col("shingle"), col("__id"), col("pos"), col("sz"))
      .as[(Long, Long, Int, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val rows = it.toArray
        java.util.Arrays.sort(rows,
          new java.util.Comparator[(Long, Long, Int, Long)] {
            override def compare(x: (Long, Long, Int, Long),
                                 y: (Long, Long, Int, Long)): Int =
              java.lang.Long.compare(x._2, y._2)
          })
        for {
          i <- rows.indices.iterator
          j <- (i + 1 until rows.length).iterator
          if rows(i)._2 != rows(j)._2
          szA = rows(i)._4; szB = rows(j)._4
          if math.min(szA, szB) >= threshold * math.max(szA, szB) - eps
          minOv = math.ceil(threshold / (1.0 + threshold) * (szA + szB) - eps)
          ub = 1.0 + math.min(szA - 1 - rows(i)._3, szB - 1 - rows(j)._3)
          if ub >= minOv
        } yield (rows(i)._2, rows(j)._2)
      }
      .toDF("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
  }

  private def ppjoinCandidatesGeneric(prefixed: DataFrame, idType: DataType,
                                      threshold: Double): DataFrame = {
    val ord = idOrdering(idType)
    val outSchema = StructType(Seq(
      StructField("id_a", idType), StructField("id_b", idType)))
    val eps = 1e-9
    prefixed
      .select(col("shingle"), col("__id"), col("pos"), col("sz"))
      .groupByKey((r: Row) => r.getLong(0))(Encoders.scalaLong)
      .flatMapGroups { (_: Long, it: Iterator[Row]) =>
        val rows = it.toArray
        java.util.Arrays.sort(rows, new java.util.Comparator[Row] {
          override def compare(r1: Row, r2: Row): Int =
            ord.compare(r1.get(1), r2.get(1))
        })
        for {
          i <- rows.indices.iterator
          j <- (i + 1 until rows.length).iterator
          if rows(i).get(1) != rows(j).get(1)
          szA = rows(i).getLong(3); szB = rows(j).getLong(3)
          if math.min(szA, szB) >= threshold * math.max(szA, szB) - eps
          minOv = math.ceil(threshold / (1.0 + threshold) * (szA + szB) - eps)
          ub = 1.0 + math.min(szA - 1 - rows(i).getInt(2),
                              szB - 1 - rows(j).getInt(2))
          if ub >= minOv
        } yield Row(rows(i).get(1), rows(j).get(1))
      }(Encoders.row(outSchema))
      .dropDuplicates("id_a", "id_b")
  }

  /** Pairwise n-gram Jaccard similarity ≥ threshold — FULL PPJoin
    * (prefix + length + positional filtering, Xiao et al., WWW'08) with
    * in-kernel array verification. Emits (id_a < id_b, jaccard); id_a/
    * id_b keep the input id type (integral or string — anything else is
    * rejected loudly, see [[idOrdering]]).
    *
    * Shape — ZERO full-stream row shuffles; the only exchanges are the
    * map-side-combined df count, the prefix stream, and the verify joins:
    *   1. [[docShingleArrays]]: per-doc sorted-distinct hash arrays,
    *      built where the documents are (no shuffle, cached once);
    *   2. [[hotAndStop]]: one partial-agg count over the exploded arrays
    *      → broadcast-small hot/stop sets (driver state ≤ |stream|/bound
    *      by pigeonhole — see its scaladoc for the 100 TB story);
    *   3. [[ppjoinDocsKernel]]: pure map attaching each doc's capped
    *      array and its (hot?, hash)-ordered prefix;
    *   4. prefix explode (~(1−t) of the capped stream) →
    *      [[ppjoinCandidates]]: per-prefix-posting-list pair emission
    *      with length + positional bounds;
    *   5. [[verifyJaccardArrays]]: native sorted-merge intersection,
    *      hash-joined — no pair-occurrence shuffle, no array sorts.
    *
    * History (measured, recorded so it isn't relitigated): round 4's
    * PREFIX-ONLY attempt with the old join-based verify ran 3× SLOWER
    * than direct common-counting — loose candidates, each exploded by
    * both full shingle lists in the verify join. The direct form then
    * became the bottleneck at sf10 (exponent 0.72: its per-posting-list
    * pair stream must be shuffled to count commons). Round 6's stage
    * probe then showed the round-5 full-PPJoin pipeline spending 75% of
    * its time MAKING the shingle stream (string distinct + interpreted
    * HOF + hex round-trips), not joining it — hence the per-doc kernel.
    *
    * `maxDf` caps shingle document frequency ([[capByDf]] semantics):
    * similarity is computed over the capped shingle universe, keeping
    * per-posting-list fan-out bounded under adversarial skew.
    * `prefixHotDf` bounds COLD prefix posting lists: shingles with
    * df > prefixHotDf are ordered LAST per doc, so they enter prefixes
    * only for docs that are mostly hot phrases. `prefixTopK` (default
    * off) additionally deprioritizes the approximately most frequent
    * shingles (chunk-count proxy, free from the df pass) — ordering is
    * pruning-only, so results are exact for ANY global order (the
    * frequent set may vary with partitioning; candidate volume does,
    * results never). Measured dead end on the flat-df synthetic corpus
    * (sf100: 30.4M candidates for 306k true pairs, max df < 512 so the
    * binary order degenerates to hash order): top-1M deprioritization
    * removed only 4% of candidates — the pair volume lives in tens of
    * millions of df 2-10 posting lists, not in a frequent head. Keep 0
    * unless the corpus is zipfian (natural language), where the head
    * carries the volume. */
  def ngramJaccard(df: DataFrame, id: String, text: String,
                   n: Int = 3, threshold: Double = 0.5,
                   maxDf: Int = DefaultMaxDf,
                   prefixHotDf: Int = 512,
                   prefixTopK: Int = 0): DataFrame = {
    val (docs, cand) =
      ppjoinDocsAndCandidates(df, id, text, n, threshold, maxDf,
        prefixHotDf, prefixTopK)
    verifyJaccardArrays(docs.select(col(id), col("arr"), col("sz")),
      id, cand, threshold)
  }

  // ---- cross-operator reuse of the PPJoin pair stream ----

  private val jaccardCacheCap = 4
  private val jaccardCache = new graft.util.SessionMemo[
    (String, String, Int, Double, Int, Int, Int), DataFrame](
    jaccardCacheCap, Some(_))

  /** Drop every memoized pair stream (unpersisting each). Pipeline-
    * boundary hygiene for long-lived sessions; the harness mains use
    * `spark.catalog.clearCache()` instead, which empties STORAGE but
    * leaves the entries (see [[graft.util.SessionMemo]]). */
  def clearJaccardCache(): Unit = jaccardCache.clear()

  /** [[ngramJaccard]] with CROSS-OPERATOR reuse — the
    * `Similarity.cosineNearDupPairsCached` precedent (its q70→q84
    * stage-count proof), applied to the text pair stream: the PPJoin
    * candidate generation + verify pass is the dominant cost of EVERY
    * consumer of near-dup pairs, and a real pipeline consumes the same
    * pairs repeatedly — pair REPORTING (q27), the purge table (q81),
    * quality-aware canonical keep (q91). Memoized on (session, analyzed
    * input plan, parameters) under the [[graft.util.SessionMemo]]
    * contract, signed by the source files'
    * [[graft.util.SourceSig.contentSig]], at most [[jaccardCacheCap]]
    * entries. At 100 TB the verify stage's allocation churn is the
    * pipeline's largest single-box cost (q91 sf100: 45% of wall in GC) —
    * paying it once for three consumers is the cheapest 3× available. */
  def ngramJaccardCached(df: DataFrame, id: String, text: String,
                         n: Int = 3, threshold: Double = 0.5,
                         maxDf: Int = DefaultMaxDf,
                         prefixHotDf: Int = 512,
                         prefixTopK: Int = 0): DataFrame =
    jaccardCache.getOrCompute(df, (id, text, n, threshold, maxDf,
        prefixHotDf, prefixTopK), graft.util.SourceSig.contentSig(df)) {
      ngramJaccard(df, id, text, n, threshold, maxDf, prefixHotDf, prefixTopK)
    }

  /** Edit-distance near-dup pairs: the memoized PPJoin pair stream
    * ([[ngramJaccardCached]] — q27/q81/q91's stream, this is its 4th
    * consumer) verified by character-level Levenshtein similarity,
    * `1 − lev(a,b) / max(len(a), len(b))`. The shingle-Jaccard floor is
    * the CANDIDATE generator (set-level similarity is cheap and
    * bucketable at 100 TB); the edit-similarity cut is the VERIFier for
    * consumers that need sequence-level closeness — Jaccard is
    * order-blind, so a shuffled paragraph passes it while failing this.
    * Levenshtein is O(len·len) per pair, paid only on the
    * Jaccard-surviving pairs; both engines' built-in `levenshtein` makes
    * the oracle exact. Reference behavior: near-dup REPORTING like
    * `ngramJaccard`, one row per surviving (id_a < id_b) pair.
    *
    * Scale shape: the only work beyond the shared pair stream is two
    * hash joins that carry each surviving pair's texts to one task and a
    * per-row codegen'd BANDED levenshtein — no new shuffle class, no
    * window, no driver state. Text moves only for PAIRS (pair volume ≪
    * corpus by the Jaccard floor), never corpus-wide.
    *
    * The verify uses the THRESHOLD form `levenshtein(a, b, thr)`
    * (Ukkonen banding: O(len·thr) per pair instead of O(len²), returns
    * −1 above thr). thr is derived from the corpus max text length so
    * the band PROVABLY contains every surviving pair: a pair banded out
    * has lev > (1 − minEditSim + 1e-6)·Lmax ≥ that bound on its own
    * lengths, so its 6-dp-rounded similarity is strictly below the cut —
    * the output is bit-identical to the unbanded form (spec-pinned), the
    * full O(len²) matrix is just never materialized for the ~0.95-cut
    * band. Measured at sf100: the unbanded verify was 203–221 s of the
    * q27→q93 pipeline's marginal cost; see PLAN.md round 12c.
    *
    * `maxTextLen = 0` (default) probes the corpus max length EAGERLY at
    * DataFrame-construction time (one column-pruned aggregate — the
    * documented-eager-probe convention of `simhashPairs`); pass the
    * known bound to skip the probe on derived/expensive inputs.
    *
    * `candidates` (default: `df` itself) is the frame fed to the
    * MEMOIZED pair stream — pass the pipeline's shared shape (e.g. the
    * compute-spread `balanced(...)` form q27/q81/q91 key their memo on)
    * there, and keep `df` as the RAW corpus: the text joins and the
    * length probe only need a pruned scan, and routing them through a
    * repartitioned frame would re-pay a gratuitous full-corpus text
    * shuffle per consumer (measured: the q27→q93 sf100 marginal dropped
    * from 203–227 s to the tens once the joins read the raw scan). */
  def editNearDup(df: DataFrame, id: String, text: String,
                  n: Int = 3, jaccardFloor: Double = 0.8,
                  minEditSim: Double = 0.95,
                  maxDf: Int = DefaultMaxDf,
                  maxTextLen: Int = 0,
                  candidates: DataFrame = null): DataFrame = {
    val candDf = Option(candidates).getOrElse(df)
    val pairs = ngramJaccardCached(candDf, id, text, n, jaccardFloor, maxDf)
    val lmax =
      if (maxTextLen > 0) maxTextLen
      else Option(df.agg(max(length(col(text)))).head().get(0))
        .map(_.asInstanceOf[Number].intValue).getOrElse(0)
    // +1e-6 absorbs the 6-dp output rounding: round(sim, 6) >= cut needs
    // sim >= cut - 5e-7, i.e. lev <= (1 - cut + 5e-7)·len — the band must
    // sit ABOVE that or a boundary pair could round up into the output.
    val thr = math.max(1,
      math.ceil((1.0 - minEditSim + 1e-6) * lmax).toInt)
    val docs = df.select(col(id), col(text))
    pairs
      .join(docs.select(col(id).as("id_a"), col(text).as("__text_a")),
        Seq("id_a"))
      .join(docs.select(col(id).as("id_b"), col(text).as("__text_b")),
        Seq("id_b"))
      // explode(array(...)) is a deliberate single-evaluation BARRIER:
      // levenshtein is a ms-scale expression here (a 600×band lattice
      // per pair), and Catalyst's project/filter collapse substitutes a
      // plain alias into every consumer — the filter below plus the
      // similarity projection would re-run the lattice once per
      // reference (measured at sf100: the un-barriered tail cost ~2.3
      // lev-passes; stage census showed ~7 passes across the join
      // stages in the full query). Predicates cannot be substituted
      // through a Generate, so the lattice runs EXACTLY once per pair;
      // the generator itself is codegen'd and adds nothing measurable.
      .select(col("id_a"), col("id_b"), col("jaccard"),
        col("__text_a"), col("__text_b"),
        explode(array(levenshtein(col("__text_a"), col("__text_b"), thr)))
          .as("__lev"))
      .filter(col("__lev") >= 0)
      .withColumn("edit_sim", round(lit(1.0) -
        col("__lev").cast("double") /
          greatest(length(col("__text_a")), length(col("__text_b"))), 6))
      .filter(col("edit_sim") >= minEditSim)
      .select(col("id_a"), col("id_b"),
        round(col("jaccard"), 6).as("jaccard"), col("edit_sim"))
  }

  /** The PPJoin pipeline split at the candidate boundary: (per-doc
    * shingle-array table, deduped candidate pair stream). Exactly
    * [[ngramJaccard]] minus the verify join — exposed package-wide so
    * `tools/NgramCensus` can count the candidates the verify stage pays
    * for (scale-exponent attribution: candidate volume is a corpus
    * property; verify cost is proportional to it). */
  private[graft] def ppjoinDocsAndCandidates(df: DataFrame, id: String,
      text: String, n: Int, threshold: Double,
      maxDf: Int = DefaultMaxDf, prefixHotDf: Int = 512,
      prefixTopK: Int = 0): (DataFrame, DataFrame) = {
    val idType = df.schema(id).dataType
    idOrdering(idType) // loud type validation up-front, both kernel paths
    val arrs = docShingleArrays(df, id, text, n).cache()
    val (hot, stop) = hotStopFrequent(arrs, prefixHotDf, maxDf, prefixTopK) match {
      case (order, stopSet, _) => (order, stopSet)
    }
    val docs = ppjoinDocsKernel(arrs, id, threshold, hot, stop)
    val prefixed = docs.select(col(id).as("__id"), col("sz"),
      posexplode(col("pre")).as(Seq("pos", "shingle")))
    (docs, ppjoinCandidates(prefixed, idType, threshold))
  }

  /** The round-5 DIRECT form of [[ngramJaccard]], kept as the parity
    * witness for the PPJoin path (DedupSpec proves result equality on
    * clustered corpora at several thresholds): inverted index → ALL
    * co-occurring pairs via a two-sided self-join (the oracle's own
    * shape, generic over id types) → common counts → inclusion-exclusion.
    * Correct and fully distributed, but its pair-occurrence stream is
    * super-linear on one box (sf10 exponent 0.72) — use [[ngramJaccard]]. */
  private[dedup] def ngramJaccardDirect(df: DataFrame, id: String, text: String,
                                        n: Int = 3, threshold: Double = 0.5,
                                        maxDf: Int = DefaultMaxDf): DataFrame = {
    val sh = hashedShingles(df, id, text, n, maxDf)
    val sizes = sh.groupBy(col(id)).agg(count(lit(1)).as("sz"))
    val common = sh.select(col(id).as("id_a"), col("shingle"))
      .join(sh.select(col(id).as("id_b"), col("shingle")), Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col(id).as("id_a"), col("sz").as("sz_a")), Seq("id_a"))
      .join(sizes.select(col(id).as("id_b"), col("sz").as("sz_b")), Seq("id_b"))
      .withColumn("jaccard",
        col("common").cast("double") / (col("sz_a") + col("sz_b") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Mersenne prime 2^31-1: universal-hash modulus for the minhash family.
    * Operands stay < 2^31 so products stay < 2^62 — no 64-bit overflow in
    * either engine (Spark 4 ANSI mode and DuckDB both *throw* on BIGINT
    * overflow rather than wrapping, so wrap-around mixing is not portable). */
  val MinhashP = 2147483647L

  /** Deterministic (a, b) constants per seed for the universal hash family
    * h_s(x) = (a_s·x + b_s) mod P — derived from a fixed LCG so the Spark
    * side and the DuckDB oracle inline identical literals. */
  def minhashParams(numHashes: Int): Seq[(Long, Long)] = {
    var x = 0x5DEECE66DL
    def next(): Long = { x = x * 6364136223846793005L + 1442695040888963407L
      (x >>> 33) % (MinhashP - 1) }
    (0 until numHashes).map(_ => (next() + 1, next()))
  }

  /** MinHash signatures over HASHED shingles ((id, shingle: long) rows,
    * see [[shingleHash]]): slot s = min((a_s·(h mod P) + b_s) mod P) over
    * the doc's shingles. All `numHashes` slots are parallel aggregate
    * columns in ONE pass (map-side partial min, one shuffle of
    * id × numHashes longs) — no row explosion, and the expensive hash
    * (md5) ran once per shingle upstream; the per-slot work here is pure
    * integer arithmetic. Output: one row per id, columns mh_0 … mh_{n-1}. */
  def minhash(sh: DataFrame, id: String, numHashes: Int): DataFrame = {
    val aggs = minhashParams(numHashes).zipWithIndex.map { case ((a, b), s) =>
      min((col("__h") * a + b) % MinhashP).as(s"mh_$s")
    }
    sh.withColumn("__h", col("shingle") % MinhashP)
      .groupBy(col(id)).agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash + LSH banded near-dup detection.
    * Bands of `rowsPerBand` signature slots; docs sharing any full band
    * signature become candidates; candidates are verified with exact
    * shingle Jaccard ≥ threshold via [[verifyJaccardArrays]] — the
    * in-kernel set intersection, so the verify stage moves only the
    * candidate rows (the old join form's (pair, shared-shingle) stream
    * was this operator's sf10 bottleneck, exponent 0.79).
    *
    * ZERO full-stream row shuffles: [[docShingleArrays]] builds per-doc
    * hash arrays in place, [[hotAndStop]]'s partial-agg count finds the
    * stop set, and minhash slots + band signatures + the verify stage's
    * value-sorted array + set size are all computed per doc IN THE
    * KERNEL from the same array — the round-5 form paid two full-stream
    * exchanges (posting-list build + signature groupBy) for what is
    * per-doc arithmetic. The only shuffles left move one (hash, count)
    * pair per distinct shingle per partition (df count), nBands small
    * rows per doc (bucket join), and the candidate pairs (verify).
    *
    * `maxDf` guards BOTH skew surfaces: the signature pass (hot shingles
    * would dominate every doc's minhash slots) and the verify stage's
    * per-doc arrays. Signatures and Jaccard both see the capped
    * universe, so candidates and verification stay consistent. */
  def minhashLsh(df: DataFrame, id: String, text: String, n: Int = 3,
                 numHashes: Int = 12, rowsPerBand: Int = 3,
                 threshold: Double = 0.5,
                 maxDf: Int = DefaultMaxDf): DataFrame = {
    val idType = df.schema(id).dataType
    idOrdering(idType) // loud type validation up-front
    val arrs = docShingleArrays(df, id, text, n).cache()
    val (_, stop) = hotAndStop(arrs, maxDf, maxDf)
    val mh = minhashSignatureKernel(arrs, id, stop, numHashes, rowsPerBand)
      .cache()
    val cand = bandedCandidates(mh, id, numHashes, rowsPerBand)
    // verify candidates with exact Jaccard, in-kernel, against the
    // arrays that rode along in the signature kernel
    verifyJaccardArrays(mh.select(col(id), col("arr"), col("sz")),
      id, cand, threshold)
  }

  /** LSH band-bucket candidate pairs from [[minhashSignatureKernel]]
    * output — IN the bucket kernel, the `simhashPairs` idiom: one row per
    * (band, band signature) per doc shuffles into its bucket carrying
    * the doc's full slot vector, and each bucket emits its pairs
    * directly, keeping a pair only in the LOWEST band where the two
    * signatures agree (checked exactly from the slots riding along).
    * Output pairs are unique by construction, so the old shape's
    * two-sided self-join AND its full-output `distinct()` exchange both
    * disappear — at sf100 that stage was 46 s of q28, dominated by the
    * join build + the pair-stream exchange.
    *
    * Grouping keys are the exact band signature strings (no hashing, no
    * collision handling); `id_a < id_b` by [[idOrdering]], matching the
    * join form bit for bit. */
  private[dedup] def bandedCandidates(mh: DataFrame, id: String,
      numHashes: Int, rowsPerBand: Int): DataFrame = {
    val idType = mh.schema(id).dataType
    val ord = idOrdering(idType)
    val nBands = numHashes / rowsPerBand
    val spark = mh.sparkSession
    import spark.implicits._
    val bandedSchema = StructType(Seq(StructField("key", StringType),
      StructField(id, idType),
      StructField("slots", ArrayType(IntegerType, containsNull = false))))
    val banded = mh.select(col(id), col("slots")).mapPartitions { rows =>
      rows.flatMap { r =>
        val slots = r.get(1) match {
          case a: Array[Int] => a
          case s: scala.collection.Seq[_] => s.iterator
            .map(_.asInstanceOf[Int]).toArray
        }
        (0 until nBands).iterator.map { b =>
          val sb = new java.lang.StringBuilder
          sb.append(b)
          var s = b * rowsPerBand
          while (s < (b + 1) * rowsPerBand) {
            sb.append('|').append(slots(s)); s += 1
          }
          Row(sb.toString, r.get(0), slots)
        }
      }
    }(Encoders.row(bandedSchema))
    val outSchema = StructType(Seq(
      StructField("id_a", idType), StructField("id_b", idType)))
    banded.groupByKey(_.getString(0))(Encoders.STRING)
      .flatMapGroups { (key, it) =>
        val band = key.substring(0, key.indexOf('|')).toInt
        val rows = it.toArray
        val ids = new Array[Any](rows.length)
        val slots = new Array[Array[Int]](rows.length)
        var i = 0
        while (i < rows.length) {
          ids(i) = rows(i).get(1)
          slots(i) = rows(i).get(2) match {
            case a: Array[Int] => a
            case s: scala.collection.Seq[_] => s.iterator
              .map(_.asInstanceOf[Int]).toArray
          }
          i += 1
        }
        def agreeOnLowerBand(x: Array[Int], y: Array[Int]): Boolean = {
          var b = 0
          while (b < band) {
            var s = b * rowsPerBand
            var all = true
            while (all && s < (b + 1) * rowsPerBand) {
              if (x(s) != y(s)) all = false
              s += 1
            }
            if (all) return true
            b += 1
          }
          false
        }
        for {
          a <- rows.indices.iterator
          b <- (a + 1 until rows.length).iterator
          if ord.compare(ids(a), ids(b)) != 0
          if !agreeOnLowerBand(slots(a), slots(b))
        } yield {
          if (ord.compare(ids(a), ids(b)) < 0) Row(ids(a), ids(b))
          else Row(ids(b), ids(a))
        }
      }(Encoders.row(outSchema))
  }

  /** The per-doc signature kernel of [[minhashLsh]]: stop-filter the
    * shingle array, compute all minhash slots + band signatures in one
    * pass, and carry the capped array + size along for the verify stage.
    * Output: (id, arr, sz, slots) — slot values fit Int exactly (mod
    * P = 2^31−1); band signatures are derived from consecutive
    * `rowsPerBand` slot groups by [[bandedCandidates]]. */
  /** Per-doc kernel of [[minhashSignatureKernel]], shared with the
    * streaming near-dup operator: MinHash slots over the first `n`
    * entries of a (stop-filtered) shingle-hash array. Slot values are
    * mod P = 2^31−1, so they fit Int exactly. */
  private[graft] def minhashSlotsOf(arr: Array[Long], n: Int,
      params: Array[(Long, Long)]): Array[Int] = {
    val nh = params.length
    val slots = new Array[Long](nh)
    java.util.Arrays.fill(slots, Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = arr(i) % MinhashP
      var s = 0
      while (s < nh) {
        val hv = (h * params(s)._1 + params(s)._2) % MinhashP
        if (hv < slots(s)) slots(s) = hv
        s += 1
      }
      i += 1
    }
    val out = new Array[Int](nh)
    i = 0
    while (i < nh) { out(i) = slots(i).toInt; i += 1 }
    out
  }

  private[dedup] def minhashSignatureKernel(arrs: DataFrame, id: String,
      stop: Array[Long], numHashes: Int, rowsPerBand: Int): DataFrame = {
    val idType = arrs.schema(id).dataType
    val params = minhashParams(numHashes).toArray
    val outSchema = StructType(Seq(StructField(id, idType),
      StructField("arr", ArrayType(LongType, containsNull = false)),
      StructField("sz", LongType),
      StructField("slots", ArrayType(IntegerType, containsNull = false))))
    val spark = arrs.sparkSession
    val stopBc = spark.sparkContext.broadcast(stop)
    arrs.mapPartitions { rows =>
      val stopA = stopBc.value
      rows.flatMap { r =>
        val raw = longArray(r.get(1))
        val n0 = raw.length
        val arr = new Array[Long](n0)
        var n = 0; var i = 0
        while (i < n0) {
          val v = raw(i)
          if (stopA.length == 0 || java.util.Arrays.binarySearch(stopA, v) < 0) {
            arr(n) = v; n += 1
          }
          i += 1
        }
        if (n == 0) Iterator.empty
        else Iterator.single(Row(r.get(0), java.util.Arrays.copyOf(arr, n),
          n.toLong, minhashSlotsOf(arr, n, params)))
      }
    }(Encoders.row(outSchema))
  }

  /** SimHash fingerprint over distinct tokens, `bits` ≤ 60.
    * Token hash = first 15 md5 hex chars as a 60-bit int (wide enough for
    * production-grade 60-bit fingerprints — banding over narrow
    * fingerprints collides catastrophically on clustered corpora; 15 hex
    * chars stay safely inside BIGINT range in both engines); each bit
    * votes ±1; fingerprint bit = majority (sum > 0).
    *
    * Computed per doc IN THE KERNEL (one mapPartitions pass, zero
    * shuffles) — the same rewrite that fixed q27/q28: the previous
    * Catalyst form ([[simhashCatalyst]], kept as the parity witness)
    * paid a full-stream string `distinct()` exchange plus 60 vote
    * aggregates evaluated per token row. Token distinct-ing, md5 (byte
    * parity with the SQL oracle), voting, and the majority fold are all
    * per-doc primitive loops here. Returns (id, simhash: long). */
  def simhash(df: DataFrame, id: String, text: String, bits: Int = 16): DataFrame = {
    require(bits <= 60, s"simhash supports at most 60 bits, got $bits")
    val idType = df.schema(id).dataType
    val outSchema = StructType(Seq(StructField(id, idType),
      StructField("simhash", LongType)))
    df.select(col(id), col(text)).mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val utf8 = java.nio.charset.StandardCharsets.UTF_8
      rows.flatMap { r =>
        if (r.isNullAt(0) || r.isNullAt(1)) Iterator.empty
        else {
          val toks = r.getString(1).split(" ", -1)
          val seen = new java.util.HashSet[String](toks.length * 2)
          val votes = new Array[Int](bits)
          var i = 0
          while (i < toks.length) {
            if (seen.add(toks(i))) {
              val d = md.digest(toks(i).getBytes(utf8))
              var v = 0L; var b = 0
              while (b < 7) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
              v = (v << 4) | ((d(7) >> 4) & 0xfL)
              var k = 0
              while (k < bits) {
                votes(k) += (if (((v >>> k) & 1L) == 1L) 1 else -1); k += 1
              }
            }
            i += 1
          }
          var fp = 0L; var k = 0
          while (k < bits) { if (votes(k) > 0) fp |= 1L << k; k += 1 }
          Iterator.single(Row(r.get(0), fp))
        }
      }
    }(Encoders.row(outSchema))
  }

  /** The Catalyst form of [[simhash]], kept as the spec parity witness:
    * token distinct (one string-stream exchange), md5→hex→conv hash, 60
    * parallel vote aggregates. Identical results; measured slower at
    * every scale once the stream is large (the exchange + interpreted
    * per-row vote evaluation dominate). */
  private[dedup] def simhashCatalyst(df: DataFrame, id: String, text: String,
                                     bits: Int = 16): DataFrame = {
    require(bits <= 60, s"simhash supports at most 60 bits, got $bits")
    val toks = tokens(df, id, text).select(col(id), col("token")).distinct()
      .withColumn("h", conv(substring(md5(col("token")), 1, 15), 16, 10).cast("long"))
    val voteAggs = (0 until bits).map { b =>
      sum(when(expr(s"shiftright(h, $b) & 1") === 1L, 1).otherwise(-1)).as(s"__v$b")
    }
    val voted = toks.groupBy(col(id)).agg(voteAggs.head, voteAggs.tail: _*)
    val fp = (0 until bits)
      .map(b => when(col(s"__v$b") > 0, lit(1L << b)).otherwise(0L))
      .reduce(_ + _)
    voted.select(col(id), fp.as("simhash"))
  }

  /** Route boundary for [[simhashPairs]]: when the MEAN (segment, value)
    * bucket occupancy — n_docs / 2^segBits — exceeds this, the segment
    * value space is saturating (bucket size grows linearly in n, so the
    * in-kernel XOR scan grows n²/2^segBits) and the pair kernel routes
    * to the two-level sub-segment split. Two measurements set the value
    * (60-bit/maxDist-3 on the ScaleUp corpora):
    *
    *  - Work census (`tools/SimhashBucketCensus`): one-level scan work
    *    grows ×14.8/decade at 500k→5M docs (320M → 4.74G probe pairs —
    *    the expected random term 4·C(n,2)/2^15 ≈ 1.5G of the 4.74G)
    *    while the two-level keying stays linear (×9.6/decade, all
    *    output-inherent; random term ~3M). The asymptote alone says
    *    two-level past saturation.
    *  - SAME-PHASE wall time (`tools/SimhashRoutePhase`): the two-level
    *    kernel already wins 2.4–3.6× at occupancy 15 (sf10full: 4.4/6.6
    *    vs 15.8/77.7 s) — the one-level kernel's per-bucket
    *    materialization (mean-17, max-2451-row groups) costs allocation
    *    and GC long before the quadratic term dominates — and is a
    *    measured WASH at occupancy ≤ 1.5 (sf1full steady state 1.1 vs
    *    1.3 s; sf0.1 0.8 vs 0.8 s), where the (maxDist+1)× banding
    *    shuffle is too small to matter either way.
    *
    * 8 sits between the measured wash (1.5) and the measured win (15);
    * below it the one-level form keeps the 4× smaller banding shuffle —
    * the term that DOES matter on a cluster's network at low occupancy. */
  val SimhashMaxMeanOccupancy: Double = 8.0

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist.
    * Candidate generation is the pigeonhole banding used at scale: split
    * the fingerprint into maxDist+1 bit segments — any pair within maxDist
    * must agree exactly on ≥1 segment — and bucket on (segment, value).
    * No cartesian product anywhere.
    *
    * Pairs are generated IN THE KERNEL per bucket (the same
    * vectors-ride-into-buckets move as the LSH ANN scorer): one
    * `groupByKey` on the combined (seg, value) long key, then a primitive
    * double loop with the XOR + bit-count prune — a failing pair costs
    * two long reads and never materializes a row. The earlier segment
    * SELF-JOIN paid the join machinery per candidate BEFORE the hamming
    * filter could kill it; with fixed-width segments bucket sizes grow
    * linearly in n (pigeonhole — segments cannot widen without losing
    * the ≥1-agreement guarantee), so making the per-candidate cost two
    * instructions is what keeps the quadratic term ignorable — until the
    * segment value space SATURATES (2^segBits is fixed at 32,768 for the
    * production 60-bit/4-segment shape, so mean bucket size grows
    * linearly in n and in-kernel scan work grows n²/2^segBits).
    *
    * SIZE-ROUTED on mean bucket occupancy (the Clusters/Contamination
    * convention): past [[SimhashMaxMeanOccupancy]] the kernel applies the
    * pigeonhole RECURSIVELY (the multi-index-hashing refinement, Norouzi
    * et al. 2012): a pair at distance ≤ maxDist that agrees on segment s
    * differs in ≤ maxDist of the OTHER bits, so splitting those into
    * maxDist+1 sub-segments guarantees exact agreement on ≥1 — bucketing
    * on (segment, value, sub-segment, sub-value) preserves every
    * qualifying pair while dividing expected bucket occupancy by
    * 2^subBits (~2048 for the 60-bit shape). The banding shuffle grows
    * (maxDist+1)× — linear, the price for killing the quadratic term.
    *
    * LOWEST-AGREEING-SEGMENT emission: a qualifying pair appears in every
    * bucket whose segment agrees (all 4 for an exact duplicate), and on
    * near-dup-clustered corpora that duplication IS the dominant output
    * volume. Each bucket's kernel has both fingerprints in hand, so it
    * emits the pair only when no LOWER segment also agrees — the output
    * is exactly unique by construction and the old full-output `distinct`
    * exchange disappears (sf10: 24 s → the answer's own write cost). The
    * two-level route extends the rule lexicographically: emit only from
    * the (lowest agreeing segment, lowest agreeing sub-segment) bucket —
    * both kernels can decide it locally from the XOR, so uniqueness
    * still costs zero exchanges. Both routes emit the identical set. */
  def simhashPairs(df: DataFrame, id: String, text: String,
                   bits: Int = 16, maxDist: Int = 3,
                   maxMeanOccupancy: Double = SimhashMaxMeanOccupancy,
                   docCount: Option[Long] = None): DataFrame = {
    val nSeg = maxDist + 1
    val segBits = bits / nSeg
    require(segBits > 0, "bits must exceed maxDist")
    val sh = simhash(df, id, text, bits)
    // Route probe — EAGER: unless `docCount` is supplied, ONE counting
    // job over df's column-pruned plan runs at DataFrame-CONSTRUCTION
    // time (a parquet-backed input answers from row-group metadata).
    // A caller whose `df` carries expensive derived lineage should pass
    // `docCount` (it usually already knows it), or the lineage executes
    // once for the probe and again for the real run. Mean occupancy =
    // docs per (seg, value) bucket; the sub-split needs bits outside
    // the segment.
    val occupancy =
      docCount.getOrElse(df.select(col(id)).count()).toDouble / (1L << segBits)
    if (occupancy > maxMeanOccupancy && bits > segBits)
      simhashPairsTwoLevel(sh, id, bits, maxDist)
    else simhashPairsOneLevel(sh, id, bits, maxDist)
  }

  private def simhashPairsOneLevel(sh: DataFrame, id: String,
                                   bits: Int, maxDist: Int): DataFrame = {
    val nSeg = maxDist + 1
    val segBits = bits / nSeg
    val idType = sh.schema(id).dataType
    val ord = idOrdering(idType)
    val segMask = (1L << segBits) - 1
    val bandedSchema = StructType(Seq(StructField("bucket", LongType),
      StructField(id, idType), StructField("simhash", LongType)))
    val banded = sh.mapPartitions { rows =>
      rows.flatMap { r =>
        val fp = r.getLong(1)
        (0 until nSeg).iterator.map { seg =>
          Row((seg.toLong << segBits) | ((fp >>> (seg * segBits)) & segMask),
            r.get(0), fp)
        }
      }
    }(Encoders.row(bandedSchema))
    val outSchema = StructType(Seq(StructField("id_a", idType),
      StructField("id_b", idType), StructField("hamming", IntegerType)))
    banded.groupByKey(_.getLong(0))(Encoders.scalaLong)
      .flatMapGroups { (key, it) =>
        val seg = (key >>> segBits).toInt
        val rows = it.toArray
        val ids = new Array[Any](rows.length)
        val fps = new Array[Long](rows.length)
        var i = 0
        while (i < rows.length) { ids(i) = rows(i).get(1); fps(i) = rows(i).getLong(2); i += 1 }
        def lowestAgreeing(x: Long): Boolean = {
          var s = 0
          while (s < seg) {
            if (((x >>> (s * segBits)) & segMask) == 0L) return false
            s += 1
          }
          true
        }
        for {
          a <- rows.indices.iterator
          b <- (a + 1 until rows.length).iterator
          x = fps(a) ^ fps(b)
          ham = java.lang.Long.bitCount(x)
          if ham <= maxDist && lowestAgreeing(x) &&
            ord.compare(ids(a), ids(b)) != 0
        } yield {
          if (ord.compare(ids(a), ids(b)) < 0) Row(ids(a), ids(b), ham)
          else Row(ids(b), ids(a), ham)
        }
      }(Encoders.row(outSchema))
  }

  /** Per-segment sub-split layout: for each segment s, the fingerprint
    * bit positions OUTSIDE s, partitioned into maxDist+1 contiguous
    * chunks of near-equal size. Returned as (positions(s)(j) — the bit
    * positions of chunk j, ascending; masks(s)(j) — their OR'd Long
    * mask, for the lowest-agreeing-sub test against a XOR). */
  private[graft] def simhashSubLayout(bits: Int, maxDist: Int)
      : (Array[Array[Array[Int]]], Array[Array[Long]]) = {
    val nSeg = maxDist + 1
    val segBits = bits / nSeg
    val positions = Array.tabulate(nSeg) { s =>
      val rest = (0 until bits)
        .filterNot(p => p >= s * segBits && p < (s + 1) * segBits).toArray
      val base = rest.length / nSeg
      val extra = rest.length % nSeg
      val out = new Array[Array[Int]](nSeg)
      var off = 0
      var j = 0
      while (j < nSeg) {
        val len = base + (if (j < extra) 1 else 0)
        out(j) = java.util.Arrays.copyOfRange(rest, off, off + len)
        off += len
        j += 1
      }
      out
    }
    val masks = positions.map(_.map(_.foldLeft(0L)((m, p) => m | (1L << p))))
    (positions, masks)
  }

  private def simhashPairsTwoLevel(sh: DataFrame, id: String,
                                   bits: Int, maxDist: Int): DataFrame = {
    val nSeg = maxDist + 1
    val segBits = bits / nSeg
    val idType = sh.schema(id).dataType
    val ord = idOrdering(idType)
    val segMask = (1L << segBits) - 1
    val (subPos, subMasks) = simhashSubLayout(bits, maxDist)
    // Bucket key packs (seg*nSeg + sub, segValue, subValue) into one
    // Long: maxSubBits ≤ ceil((bits - segBits) / nSeg) and the combined
    // chunk index needs ≤ 6 bits for maxDist ≤ 7, so the key stays ≤
    // segBits + maxSubBits + 6 < 63 bits for every legal (bits, maxDist).
    val maxSubBits = subPos.map(_.map(_.length).max).max
    val bandedSchema = StructType(Seq(StructField("bucket", LongType),
      StructField(id, idType), StructField("simhash", LongType)))
    val banded = sh.mapPartitions { rows =>
      rows.flatMap { r =>
        val fp = r.getLong(1)
        (0 until nSeg).iterator.flatMap { seg =>
          val segVal = (fp >>> (seg * segBits)) & segMask
          (0 until nSeg).iterator.map { sub =>
            val ps = subPos(seg)(sub)
            var v = 0L; var i = 0
            while (i < ps.length) { v |= ((fp >>> ps(i)) & 1L) << i; i += 1 }
            Row((((seg * nSeg + sub).toLong << segBits) | segVal) << maxSubBits | v,
              r.get(0), fp)
          }
        }
      }
    }(Encoders.row(bandedSchema))
    val outSchema = StructType(Seq(StructField("id_a", idType),
      StructField("id_b", idType), StructField("hamming", IntegerType)))
    banded.groupByKey(_.getLong(0))(Encoders.scalaLong)
      .flatMapGroups { (key, it) =>
        val chunk = (key >>> (segBits + maxSubBits)).toInt
        val seg = chunk / nSeg
        val sub = chunk % nSeg
        val rows = it.toArray
        val ids = new Array[Any](rows.length)
        val fps = new Array[Long](rows.length)
        var i = 0
        while (i < rows.length) { ids(i) = rows(i).get(1); fps(i) = rows(i).getLong(2); i += 1 }
        // Emit only from the lexicographically-first agreeing bucket:
        // segment seg must be the lowest agreeing segment of the XOR,
        // and sub the lowest agreeing sub-chunk within it.
        def lowestAgreeing(x: Long): Boolean = {
          var s = 0
          while (s < seg) {
            if (((x >>> (s * segBits)) & segMask) == 0L) return false
            s += 1
          }
          var j = 0
          while (j < sub) {
            if ((x & subMasks(seg)(j)) == 0L) return false
            j += 1
          }
          (x & subMasks(seg)(sub)) == 0L
        }
        for {
          a <- rows.indices.iterator
          b <- (a + 1 until rows.length).iterator
          x = fps(a) ^ fps(b)
          ham = java.lang.Long.bitCount(x)
          if ham <= maxDist && lowestAgreeing(x) &&
            ord.compare(ids(a), ids(b)) != 0
        } yield {
          if (ord.compare(ids(a), ids(b)) < 0) Row(ids(a), ids(b), ham)
          else Row(ids(b), ids(a), ham)
        }
      }(Encoders.row(outSchema))
  }
}
