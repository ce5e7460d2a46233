package graft.analytics

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The ONE process-local memo behind every shared intermediate: cached
  * subplans (shingle tables, semdedup assignments, deviation tables, PQ
  * subvectors, BFS edge tables, …), the lake sinks and staged deliveries
  * the `ensure*` builders construct, and the ANN index handles.
  *
  * Key: (dir, tag). `dir` is the corpus directory the value is derived
  * from; `tag` names the value. A FRAME entry is additionally bound to the
  * live session that built it (a DataFrame belongs to its session): a
  * request from another session rebuilds it, and entries of a stopped
  * session are dropped (their blocks died with its executors). Path and
  * handle entries are plain values, served to any session.
  *
  * Freshness: one rule for every entry — the CONTENT FINGERPRINT of `dir`
  * (every file's path, length and mtime, the freshness signal Spark's own
  * FileIndex uses). A rewrite of the corpus in place rebuilds every entry
  * derived from it; an unchanged corpus serves the memo. The walk is
  * control-plane driver work, O(files) per lookup, no data scan and no
  * Spark job. The faults this rule closes (r8 advice): an entry keyed only
  * by (session, dir) served a STALE table after the planted-corpus test
  * pattern rewrote `dir`, and a sink path built from it kept pointing at
  * a table of the old corpus.
  *
  * Revalidation: a value that can go stale WITHOUT its corpus changing —
  * an ANN index handle, whose trained cell count derives from sink tables
  * that maintenance commits advance — passes `revalidate`, which runs on
  * every hit and returns the value to serve (the same one when nothing
  * moved). The handle owns that test: it pins its tables' commit versions
  * before deriving and re-derives when any of them advanced.
  *
  * Release: a value superseded by a fingerprint change, or dropped by
  * [[invalidate]], frees its blocks through [[release]], whether the build
  * persisted it lazily or checkpointed it eagerly. Path and handle values
  * hold no blocks.
  *
  * Nesting: builds nest (`ensureBandSink` → `bandTable`,
  * `ensureGraphLake` → `graphEdges`), so every lookup and build runs under
  * this object's monitor, which is reentrant. A build must never run inside
  * `ConcurrentHashMap.computeIfAbsent`, which throws "Recursive update" on
  * a nested build.
  *
  * Since r11 this memo is a PROCESS-LOCAL ACCELERATOR, not the system of
  * record: trained ANN cells, PQ codebooks and code tables are persisted
  * as MergeSink tables (AnnLake), so a new session probes the lake instead
  * of retraining.
  */
object PlanCache {

  private final case class Entry(fingerprint: Long, owner: Option[SparkSession], value: Any)

  private val entries = scala.collection.mutable.HashMap.empty[(String, String), Entry]

  /** FNV-style fold of (path, length, mtime) over the directory tree. */
  private def fingerprint(dir: String): Long = {
    def walk(f: java.io.File, acc: Long): Long = {
      val h = acc * 1099511628211L ^ f.getPath.hashCode.toLong
      if (f.isDirectory)
        Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).foldLeft(h)((a, c) => walk(c, a))
      else h * 1099511628211L ^ (f.length * 31 + f.lastModified)
    }
    walk(new java.io.File(dir), -3750763034362895579L) // FNV-1a 64-bit offset basis
  }

  private def lookup[V](dir: String, tag: String, owner: Option[SparkSession],
      revalidate: V => V)(build: => V): V = synchronized {
    entries.filterInPlace { case (_, e) => !e.owner.exists(_.sparkContext.isStopped) }
    val key = (dir, tag)
    val fp = fingerprint(dir)
    entries.get(key) match {
      case Some(e) if e.fingerprint == fp && e.owner == owner =>
        val v = revalidate(e.value.asInstanceOf[V])
        if (v != e.value) entries.put(key, e.copy(value = v))
        v
      case stale =>
        stale.foreach { e => entries.remove(key); releaseValue(e.value) }
        val v = build
        entries.put(key, Entry(fp, owner, v))
        v
    }
  }

  /** Memoized value for (dir, tag), e.g. a sink path: built on a miss,
    * rebuilt when the files under `dir` change.
    */
  def memo[V](dir: String, tag: String)(build: => V): V =
    lookup[V](dir, tag, None, identity)(build)

  /** [[memo]] whose hits pass through `revalidate`, which returns the value
    * to serve.
    */
  def memo[V](dir: String, tag: String, revalidate: V => V)(build: => V): V =
    lookup(dir, tag, None, revalidate)(build)

  /** Memoized frame for (dir, tag), bound to `s`. The build owns its
    * materialization (an eager `localCheckpoint` pins a physical layout
    * for every consumer); use [[cached]] for the lazy persist.
    */
  def frame(s: SparkSession, dir: String, tag: String)(build: => DataFrame): DataFrame =
    lookup[DataFrame](dir, tag, Some(s), identity)(build)

  /** [[frame]] persisted lazily at MEMORY_AND_DISK. */
  def cached(s: SparkSession, dir: String, tag: String)(build: => DataFrame): DataFrame =
    frame(s, dir, tag)(build.persist(StorageLevel.MEMORY_AND_DISK))

  /** Drop (and release) every entry under `dir` — the test-visible
    * invalidation hook for suites that rewrite a corpus in place.
    */
  def invalidate(dir: String): Unit = synchronized {
    entries.filterInPlace {
      case ((d, _), e) if d == dir => releaseValue(e.value); false
      case _ => true
    }
    ()
  }

  /** The current value for (dir, tag), without freshness checks or
    * revalidation (spec observability).
    */
  private[analytics] def peek[V](dir: String, tag: String): Option[V] = synchronized {
    entries.get((dir, tag)).map(_.value.asInstanceOf[V])
  }

  /** Free a frame's blocks: its persisted cache and, when it is an eager
    * `localCheckpoint`, the checkpoint's underlying RDD.
    */
  private[graft] def release(df: Dataset[_]): Unit = {
    df.unpersist()
    df.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }
    ()
  }

  private def releaseValue(v: Any): Unit = v match {
    case df: Dataset[_] => release(df)
    case _ =>
  }
}
