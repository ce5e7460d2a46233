package graft.ingest

import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.analytics.PlanCache

/** Per-key watermark control table — the reference's `users.last_fetched_*`
  * columns (SURVEY.md §2.11, utils/db_helpers.py:78-90). Deliberately NOT
  * Structured Streaming's `withWatermark` (global per query); the
  * reference's model is an explicit per-(company, platform) high-water mark
  * advanced only after a successful non-empty batch (tasks.py:134-135) —
  * a failed or empty window must be retried, so the watermark must not move.
  *
  * Monotonicity is enforced here (never move backwards), which also makes
  * the advance idempotent. Storage is a parquet dir swapped atomically via
  * tmp-write + rename; production would keep `users` in Delta and MERGE.
  *
  * Snapshot: the table has O(companies) rows, so the engine keeps it on the
  * driver — its rows and its inferred schema — as a [[PlanCache]] entry
  * keyed by the table's path, the way the reference reads `users` once per
  * dispatcher task (utils/db_helpers.py:50-90). Eligibility is evaluated on
  * those rows and the advance is written from them, so an op spends no
  * Spark job reading the control table while the snapshot is fresh.
  *
  * Freshness: PlanCache's content fingerprint of the table dir (every
  * file's path, length and mtime). A writer outside this process (or an
  * `overwriteParquet` that bypasses [[commit]]) changes the fingerprint,
  * and the next lookup re-reads the table. A [[commit]] re-keys the
  * snapshot to the fingerprint of the table it just wrote, with no read.
  *
  * Single writer: a commit's read-modify-write-re-key runs under this
  * object's monitor, so two in-process writers cannot share `<path>.tmp`
  * or lose each other's advance. The advance applies to the rows current at
  * commit time, not to those the op's eligibility saw, so a commit never
  * reverts a column another commit moved in between.
  *
  * Crash mid-tick: a tick ([[IngestJob.runAllResilient]]) ingests every
  * platform against one snapshot and commits the platforms' advances in
  * one rewrite at its end. A crash before that commit leaves every
  * watermark where the tick found it; the next tick re-fetches the same
  * windows, and the sinks' conflict keys (K1-K8) skip the rows already
  * inserted — the same retry a failed platform gets.
  */
object Watermarks {

  /** The control table on the driver: its inferred schema and its rows. */
  private[ingest] final case class Snapshot(schema: StructType, rows: Vector[Row])

  /** One platform's K9 advance: `last_fetched_<platform>` moves to `to`
    * for the companies in `ids` (those whose batch inserted > 0 rows).
    */
  private[ingest] final case class Advance(platform: String, ids: Set[Int], to: Timestamp)

  def read(spark: SparkSession, usersPath: String): DataFrame = {
    recover(spark, usersPath)
    spark.read.parquet(usersPath)
  }

  private val SnapshotTag = "control-table"

  /** The driver-resident snapshot of `usersPath`, read on a miss and
    * served from memory while the table's fingerprint is unchanged.
    */
  private[ingest] def snapshot(spark: SparkSession, usersPath: String): Snapshot = synchronized {
    recover(spark, usersPath)
    PlanCache.memo(usersPath, SnapshotTag) {
      val df = spark.read.parquet(usersPath)
      Snapshot(df.schema, df.collect().toVector)
    }
  }

  /** Crash recovery for the delete→rename window in overwriteParquet: if
    * the live dir is missing but a completed .tmp exists (the JVM died
    * between the delete and the rename), promote the .tmp — it was fully
    * written before the swap began, so no data is lost.
    */
  private def recover(spark: SparkSession, path: String): Unit = {
    val live = new java.io.File(path)
    val tmp = new java.io.File(path + ".tmp")
    if (!live.exists() && tmp.exists()) {
      val fs = fileSystem(spark, path)
      require(fs.rename(hPath(path + ".tmp"), hPath(path)),
        s"could not promote crashed control-table swap: $path.tmp")
    }
  }

  private def fileSystem(spark: SparkSession, p: String) =
    org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(p), spark.sparkContext.hadoopConfiguration)
  private def hPath(p: String) = new org.apache.hadoop.fs.Path(p)

  /** Overwrite a parquet dir that may currently be read from: write aside
    * fully, then swap. The swap is delete→rename — not atomic — but every
    * crash point is recoverable: before the delete the live dir is intact;
    * between delete and rename only the live dir is missing and `read`
    * promotes the completed .tmp. Rename failures are checked, not
    * swallowed.
    */
  def overwriteParquet(spark: SparkSession, path: String, df: DataFrame): Unit = {
    val tmp = path + ".tmp"
    df.write.mode("overwrite").parquet(tmp) // clears any stale .tmp
    val fs = fileSystem(spark, path)
    fs.delete(hPath(path), true)
    require(fs.rename(hPath(tmp), hPath(path)),
      s"control-table swap rename failed: $tmp -> $path")
  }

  /** K9: advance `last_fetched_<platform>` to `to` for the companies in
    * `advanced` (those whose batch inserted > 0 rows), monotonically.
    */
  def advance(
      spark: SparkSession,
      usersPath: String,
      platform: String,
      advanced: Set[Int],
      to: Timestamp): Unit =
    commit(spark, usersPath, Seq(Advance(platform, advanced, to)))

  /** Apply `advances` to the current snapshot and write the table once, as
    * one partition; then re-key the snapshot to the written table. Every
    * column keeps its value and type except the advanced watermarks, which
    * only move forward. Writes nothing when no watermark moves.
    */
  private[ingest] def commit(spark: SparkSession, usersPath: String, advances: Seq[Advance]): Unit =
    if (advances.exists(_.ids.nonEmpty)) synchronized {
      val Snapshot(schema, rows) = snapshot(spark, usersPath)
      val id = schema.fieldIndex("id")
      val moves = advances.map(a => (schema.fieldIndex(s"last_fetched_${a.platform}"), a))
      val updated = rows.map { r =>
        val rid = r.getInt(id)
        moves.foldLeft(r) { case (row, (c, a)) =>
          if (a.ids(rid) && (row.isNullAt(c) || row.getTimestamp(c).before(a.to)))
            Row.fromSeq(row.toSeq.updated(c, a.to))
          else row
        }
      }
      if (updated != rows) {
        overwriteParquet(spark, usersPath,
          spark.createDataFrame(updated.asJava, schema).coalesce(1))
        PlanCache.invalidate(usersPath)
        PlanCache.memo(usersPath, SnapshotTag)(Snapshot(schema, updated))
      }
    }
}
