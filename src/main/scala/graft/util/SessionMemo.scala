package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.storage.StorageLevel

/** A bounded, session-scoped memo of values derived from a source — the
  * one place that decides when state computed for one query may serve a
  * later query in the same session (the pair streams of
  * `graft.similarity.Similarity` and `graft.dedup.Dedup`, and
  * `graft.text.Retrieval`'s census, hot-route df and postings-schema
  * memos). The contract:
  *
  *   - Key: the session by reference, the source's analyzed-plan
  *     `semanticHash`, and the caller's parameters. Sessions never share
  *     an entry: a frame belongs to the session that built it.
  *   - Valid hit: the stored analyzed plan `sameResult`s the caller's (the
  *     plan-identity test Spark's own exchange reuse uses, so plans that
  *     merely hash alike never cross-serve) AND the stored signature
  *     equals the caller's. The signature carries data identity where the
  *     plan cannot: `sameResult` compares file scans by root paths, so a
  *     re-read after an in-place append matches a plan captured over
  *     different bytes ([[SourceSig.contentSig]] is the usual signature).
  *   - A hit moves the entry to the LRU tail. If `spark.catalog.clearCache()`
  *     emptied the storage behind a frame-holding entry (the Bench/Verify
  *     convention between registered queries, so each query is measured
  *     standalone), the hit re-persists it `MEMORY_AND_DISK` and it
  *     recomputes lazily.
  *   - Stale entry: a `sameResult` match with a different signature is
  *     dropped and released.
  *   - Miss: the value is computed OUTSIDE the lock (computations run
  *     jobs). Its frame is persisted `MEMORY_AND_DISK`. When two callers
  *     miss the same key concurrently, an entry that landed first and is
  *     still valid wins and the loser's frame is unpersisted; otherwise
  *     the new value replaces whatever the key held, releasing it.
  *   - Bound: at most `cap` entries; inserting past it evicts and
  *     releases the least recently used. There are no weak references:
  *     every entry's frame refers to its own session, so a weak key would
  *     never clear. A dead session's entries age out of the LRU instead.
  *   - Release: [[SessionMemo.safeUnpersist]] of the entry's frame, if it
  *     holds one.
  *
  * Memos without a source plan (a persisted index's schema) use the
  * session overload of `getOrCompute`: every entry at a key then counts
  * as the same source, and the signature alone decides validity. */
final class SessionMemo[P, V](cap: Int,
    frame: V => Option[DataFrame] = (_: V) => None) {

  import SessionMemo.{Entry, Key}

  private val entries =
    scala.collection.mutable.LinkedHashMap.empty[Key[P], Entry[V]]

  /** The memoized value of `compute` for `src` under `params`. `sig` is
    * evaluated once per call, after the source plan is analyzed. */
  def getOrCompute(src: DataFrame, params: P, sig: => String)(
      compute: => V): V = {
    val plan = src.queryExecution.analyzed
    lookup(Key(src.sparkSession, plan.semanticHash(), params), Some(plan),
      sig, compute)
  }

  /** The plan-less form: the key is (session, params), validity is the
    * signature alone. */
  def getOrCompute(session: SparkSession, params: P, sig: String)(
      compute: => V): V =
    lookup(Key(session, 0, params), None, sig, compute)

  /** Drop every entry, releasing each. */
  def clear(): Unit = synchronized {
    entries.valuesIterator.foreach(release)
    entries.clear()
  }

  def size: Int = synchronized(entries.size)

  private def sameSource(a: Option[LogicalPlan],
      b: Option[LogicalPlan]): Boolean = (a, b) match {
    case (Some(x), Some(y)) => x.sameResult(y)
    case (None, None) => true
    case _ => false
  }

  private def lookup(key: Key[P], plan: Option[LogicalPlan], sigIn: => String,
      compute: => V): V = {
    val sig = sigIn
    def valid(e: Entry[V]) = sameSource(e.plan, plan) && e.sig == sig
    val hit = synchronized {
      entries.get(key) match {
        case Some(e) if valid(e) =>
          entries.remove(key); entries.put(key, e)
          Some(e.value)
        case Some(e) if sameSource(e.plan, plan) =>
          entries.remove(key); release(e)
          None
        case _ => None
      }
    }
    hit match {
      case Some(v) => persisted(v)
      case None =>
        val v = persisted(compute)
        synchronized {
          entries.get(key) match {
            case Some(e) if valid(e) =>
              frame(v).foreach(SessionMemo.safeUnpersist)
              e.value
            case other =>
              other.foreach(release)
              entries.put(key, Entry(plan, sig, v))
              if (entries.size > cap) {
                val (k0, e0) = entries.head
                entries.remove(k0)
                release(e0)
              }
              v
          }
        }
    }
  }

  private def persisted(v: V): V = {
    frame(v).foreach { f =>
      if (f.storageLevel == StorageLevel.NONE)
        f.persist(StorageLevel.MEMORY_AND_DISK)
    }
    v
  }

  private def release(e: Entry[V]): Unit =
    frame(e.value).foreach(SessionMemo.safeUnpersist)
}

object SessionMemo {

  private final case class Key[P](session: SparkSession, planHash: Int,
                                  params: P)
  private final case class Entry[V](plan: Option[LogicalPlan], sig: String,
                                    value: V)

  /** Unpersist that tolerates a stopped owning session: the Bench harness
    * rebuilds its session after a context-killing failure, whose storage
    * died with the context, and an unrelated caller's eviction must not
    * throw for it. NonFatal only: OOM and interrupts still propagate. */
  def safeUnpersist(df: DataFrame): Unit =
    try df.unpersist(blocking = false)
    catch { case scala.util.control.NonFatal(_) => () }
}
