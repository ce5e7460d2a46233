package graft.ingest

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
  */
object Watermarks {

  def read(spark: SparkSession, usersPath: String): DataFrame = {
    recover(spark, usersPath)
    spark.read.parquet(usersPath)
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
    if (advanced.nonEmpty) advanceFrom(spark, usersPath, read(spark, usersPath), platform, advanced, to)

  /** `advance` over `users`, a frame of the control table the caller has
    * already resolved (an ingest op's own control scan), so the advance
    * does not read and infer the table a second time. `users` must be a
    * read of `usersPath` taken after its last rewrite.
    */
  private[ingest] def advanceFrom(
      spark: SparkSession,
      usersPath: String,
      users: DataFrame,
      platform: String,
      advanced: Set[Int],
      to: Timestamp): Unit = {
    if (advanced.isEmpty) return
    val c = s"last_fetched_$platform"
    val updated = users.withColumn(c,
      when(col("id").isin(advanced.toSeq: _*) && (col(c).isNull || col(c) < lit(to)), lit(to))
        .otherwise(col(c)))
    overwriteParquet(spark, usersPath, updated)
  }
}
