package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.StructType

/** The idempotent dedup-append sink — the reference's
  * `INSERT … ON CONFLICT (key) DO NOTHING` (SURVEY.md §2.5 K1-K8,
  * utils/db_helpers.py:92-300) re-expressed as:
  *
  *   1. within-batch dedup: one deterministic representative per conflict
  *      key (row_number over a caller-supplied total-order tiebreak — NOT
  *      dropDuplicates, whose surviving row is partition-order-dependent);
  *   2. cross-batch dedup: null-safe LEFT ANTI join against the existing
  *      sink's keys;
  *   3. append.
  *
  * Re-ingesting any batch is a no-op (exactly-once effect from
  * at-least-once fetch). NULL-key semantics: Postgres ON CONFLICT treats
  * NULLs as distinct (duplicate NULL-key rows keep inserting); we use
  * null-safe equality (`<=>`) so NULL keys dedup like values — the saner
  * behavior for an analytics sink, documented as a deliberate divergence
  * (SURVEY.md §7.4-2).
  *
  * One `append` evaluates the batch's source plan (fetch → normalize →
  * within-batch dedup) exactly once, in this order:
  *
  *   1. materialize: on a readable sink whose partition columns are in the
  *      key, the deduped batch is checkpointed eagerly, because step 2
  *      needs its partition values before step 3 can plan;
  *   2. touched: the batch's distinct partition values, read from those
  *      blocks in one single-stage job;
  *   3. anti-join against the sink's keys, scanned with a declared schema
  *      (the batch's own key columns — no footer-inference job) and pruned
  *      to the touched partitions;
  *   4. eager snapshot (`localCheckpoint(true)`) of the fresh rows;
  *   5. total and per-group counts from the snapshot's blocks in one
  *      single-stage job;
  *   6. write, reading only the snapshot's blocks;
  *   7. release: the checkpoint blocks of steps 1 and 4 are unpersisted
  *      once the write commits or fails.
  *
  * A global-key sink, or one not yet readable, skips steps 1-2 (no
  * partition values are needed), so its batch plan runs inside step 4.
  *
  * Scale: the anti-join shuffles batch + existing keys only (existing is
  * pruned to key columns at scan, and the join key is the natural
  * partitioning of the sink); with a Delta/Iceberg sink this becomes
  * `MERGE WHEN NOT MATCHED INSERT` with file skipping. Parquet-dir append
  * keeps the same logical contract for the hermetic tests.
  */
final case class AppendResult(inserted: Long, perGroup: Map[String, Long])

object DedupSink {

  /** A sink dir is READABLE only if it actually contains parquet files —
    * a partitioned write of an empty frame leaves just _SUCCESS, and
    * `spark.read.parquet` on that throws UNABLE_TO_INFER_SCHEMA forever
    * after. Existence checks must use this, not File.exists().
    */
  private[graft] def readable(path: String): Boolean = {
    def hasParquet(f: java.io.File): Boolean =
      f.isFile && f.getName.endsWith(".parquet") ||
        (f.isDirectory && Option(f.listFiles()).exists(_.exists(hasParquet)))
    hasParquet(new java.io.File(path))
  }

  /** A parquet file at the dir ROOT of a partitioned sink can only be the
    * empty schema marker (partitioned appends always write under partition
    * subdirs) — the first real write must replace it wholesale or the
    * mixed layout breaks partition discovery.
    */
  private[graft] def rootParquet(path: String): Boolean =
    Option(new java.io.File(path).listFiles()).toSeq.flatten
      .exists(f => f.isFile && f.getName.endsWith(".parquet"))

  /** Sink partitions can be pruned iff every partition column is part of
    * the conflict key: a key can then only collide inside its own partition.
    */
  private def prunable(key: Seq[String], partitionBy: Seq[String]): Boolean =
    partitionBy.nonEmpty && partitionBy.forall(key.toSet)

  /** The existing-sink key scan for the cross-batch anti-join.
    *
    * The scan declares its schema — `batch`'s key columns, which every
    * append to this sink wrote with the same types — so it runs no parquet
    * footer-inference job.
    *
    * Partition-pruned when the sink's partition columns are a subset of
    * the conflict key: the existing side is restricted to the partitions
    * `batch` touches, the filter lands in the scan's PartitionFilters, and
    * append cost is O(touched partitions), not O(sink). The touched values
    * are read from `batch` in one single-stage job, so `batch` should be
    * materialized. Global-key sinks (partition column not in the key, e.g.
    * twitter's tweet_id) must scan all partitions: the same key may
    * already exist under another company.
    */
  private[ingest] def existingKeys(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      key: Seq[String],
      partitionBy: Seq[String]): DataFrame = {
    require(readable(path), s"existingKeys on a schema-less sink dir: $path")
    val existingAll = spark.read.schema(StructType(key.map(batch.schema(_)))).parquet(path)
    val existingScan =
      if (!prunable(key, partitionBy)) existingAll
      else {
        val touched = distinctRows(batch.select(partitionBy.map(col): _*))
        val filters = partitionBy.zipWithIndex.map { case (c, i) =>
          val vs = touched.map(_(i))
          val nonNull = vs.filter(_ != null)
          val base = if (nonNull.isEmpty) lit(false) else col(c).isin(nonNull: _*)
          if (vs.contains(null)) base || col(c).isNull else base
        }
        filters.reduceOption(_ && _).map(existingAll.filter).getOrElse(existingAll)
      }
    existingScan.select(key.map(col): _*)
  }

  /** Distinct rows of `df`, deduplicated per partition and then on the
    * driver: one job with no shuffle when `df` is materialized.
    */
  private def distinctRows(df: DataFrame): Seq[Seq[Any]] =
    df.rdd.mapPartitions(_.map(_.toSeq).toSet.iterator).collect().toSeq.distinct

  /** Total and per-`groupCol` row counts of a materialized frame in one
    * single-stage job: rows are counted per partition, and the partial
    * maps are merged on the driver (one entry per group and partition).
    */
  private def countRows(
      snapshot: DataFrame,
      groupCol: Option[String]): (Long, Map[String, Long]) = {
    val groups = snapshot.select(groupCol.fold(lit(null).cast("string"))(col))
    val partial = groups.rdd.mapPartitions { rows =>
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      rows.foreach { r => val g = r.getString(0); m(g) = m.getOrElse(g, 0L) + 1L }
      m.iterator
    }.collect()
    val perGroup = partial.groupMapReduce(_._1)(_._2)(_ + _)
    (perGroup.values.sum, if (groupCol.isDefined) perGroup else Map.empty)
  }

  /** Append `batch` to the parquet sink at `path`, deduplicating on `key`.
    * Returns insert counts (total and, when `groupCol` is set, per group —
    * one entry per group, driver-safe).
    *
    * Counts are taken BEFORE the write: the fresh-rows plan reads the sink
    * path it is about to append to, and Spark invalidates/refreshes plans
    * on that path after the write — a post-write evaluation would see its
    * own insertions in the anti-join and report 0.
    *
    * `partitionBy`: physical layout columns for the sink (the engine's one
    * owned physical decision, SURVEY.md §4 — fact tables partition by
    * company so per-company analytics and the watermark path prune files).
    */
  def append(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      key: Seq[String],
      tiebreak: Seq[Column],
      groupCol: Option[String] = None,
      partitionBy: Seq[String] = Nil): AppendResult = {
    // Total order: caller tiebreak first, then every remaining column —
    // the surviving representative is independent of partitioning.
    // nulls_last EVERYWHERE (tiebreaks included — Spark's bare-column
    // default is nulls FIRST, which would make a sparse duplicate with a
    // null tiebreak value beat a fully-populated one, e.g. Reddit's
    // dual-query union where only one copy carries the preview).
    val keySet = key.toSet
    val rest = batch.columns.filterNot(keySet).map(col(_).asc_nulls_last).toSeq
    val w = Window.partitionBy(key.map(col): _*)
      .orderBy(tiebreak.map(_.asc_nulls_last) ++ rest: _*)
    val deduped = batch
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
    val sinkReadable = readable(path)
    val pinned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def pin(df: DataFrame): DataFrame = { val p = df.localCheckpoint(true); pinned += p; p }
    try {
      val fresh =
        if (sinkReadable) {
          // the touched-partition lookup and the anti-join both read the
          // batch: materialize it once so its source plan runs once
          val source = if (prunable(key, partitionBy)) pin(deduped) else deduped
          val existing = existingKeys(spark, path, source, key, partitionBy)
          val cond = key.map(k => source(k) <=> existing(k)).reduce(_ && _)
          source.join(existing, cond, "left_anti")
        } else deduped
      // Eager localCheckpoint, not cache(): the fresh-rows plan READS the
      // sink path it is about to APPEND to. cache() keeps the lineage, so a
      // lost block between the count and the write would silently recompute
      // the anti-join against the partially-appended sink and drop rows; the
      // checkpoint truncates the lineage — the write can only read the
      // materialized blocks, and block loss fails the job loudly instead.
      val snapshot = pin(fresh)
      val (total, perGroup) = countRows(snapshot, groupCol)
      def writer(mode: String) = {
        val w = snapshot.write.mode(mode)
        (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
      }
      val marker = partitionBy.nonEmpty && rootParquet(path)
      if (total > 0) writer(if (marker) "overwrite" else "append")
      else if (!sinkReadable) {
        // Materialize an empty sink so downstream reads see the schema —
        // WITHOUT partitionBy: a partitioned write of zero rows emits no
        // data files at all (only _SUCCESS), which poisons the dir — every
        // later read throws UNABLE_TO_INFER_SCHEMA. A non-partitioned empty
        // write produces one schema-bearing file; the partition columns ride
        // along as ordinary columns, and `readable` means the first REAL
        // append replaces this marker cleanly via overwrite.
        snapshot.write.mode("overwrite").parquet(path)
      }
      AppendResult(total, perGroup)
    } finally pinned.foreach(graft.analytics.PlanCache.release)
  }
}
