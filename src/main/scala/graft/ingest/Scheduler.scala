package graft.ingest

import java.sql.Timestamp
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, Executors,
  ScheduledExecutorService, TimeUnit}

/** The reference's Celery-beat schedule (tasks.py:80-101: per-platform
  * `*_general` crontabs on hour lists + `*_catchup` every CATCHUP_CRON
  * minutes) as an explicit in-process scheduler driving the SAME
  * `runAllResilient` the HTTP trigger uses — the last piece of the
  * reference's operational surface, previously declared "external
  * scheduler's job".
  *
  * Design differences from the reference, on purpose:
  *  - ONE schedule for all platforms instead of ten copy-pasted crontab
  *    pairs: the engine's control table + staleness gates already decide
  *    per-(company, platform) eligibility, so per-platform schedules are
  *    redundant — a tick that finds nothing stale inserts zero rows and
  *    advances no watermark.
  *  - Ticks are IDEMPOTENT by construction (K1-K9: dedup sinks + monotone
  *    watermarks), so an overlapping, doubled, or catch-up-after-downtime
  *    firing is safe — where the reference re-fires a Celery task, it
  *    re-scrapes and re-inserts, leaning on ON CONFLICT alone.
  *  - A single-threaded executor serializes general and catchup ticks:
  *    the concurrency story lives in the engine (racing sink writers are
  *    proven safe in ConcurrentMergeSpec), not in the trigger.
  *
  * The clock and the pipelines are injectable so specs drive deterministic
  * time and planted failures; `tick` is public for the same reason — the
  * threaded path and the logical path share one implementation.
  */
final class Scheduler(
    spark: org.apache.spark.sql.SparkSession,
    usersPath: String,
    warehouse: String,
    pipelines: Seq[IngestSpec],
    clock: () => Timestamp) {

  /** The scheduler over the ten fixture-backed platform pipelines. */
  def this(
      spark: org.apache.spark.sql.SparkSession,
      usersPath: String,
      warehouse: String,
      fixturesDir: String,
      clock: () => Timestamp = () => new Timestamp(System.currentTimeMillis())) =
    this(spark, usersPath, warehouse, Pipelines.specs(fixturesDir), clock)

  final case class TickReport(
      mode: String,
      at: Timestamp,
      results: Map[String, Either[String, IngestResult]]) {
    def inserted: Long =
      results.valuesIterator.collect { case Right(r) => r.inserted }.sum
    def failures: Seq[String] =
      results.valuesIterator.collect { case Left(e) => e }.toSeq
  }

  private val reports = new ConcurrentLinkedQueue[TickReport]()
  @volatile private var exec: ScheduledExecutorService = _
  private val firstTick = new CountDownLatch(1)

  /** One scheduled firing: run every platform in `mode` at the injected
    * clock's now, committing the successful platforms' watermark advances
    * in one control-table rewrite. Failures are isolated per platform
    * (runAllResilient) and recorded, never thrown — a scheduler that dies
    * on one bad platform stops ALL ingestion, the reference's worker-crash
    * failure mode.
    */
  def tick(mode: Mode): TickReport = {
    val at = clock()
    val label = mode match { case General(_) => "general"; case Catchup() => "catchup" }
    val r = TickReport(label, at,
      IngestJob.runAllResilient(spark, usersPath, warehouse, pipelines, mode, at))
    reports.add(r)
    firstTick.countDown()
    r
  }

  /** tick() with the "recorded, never thrown" claim extended to failures
    * BEFORE the per-platform loop (bad fixtures dir, stopped session):
    * an exception escaping a scheduleAtFixedRate runnable silently cancels
    * that cadence forever, so the scheduled paths must never let one out.
    */
  private def tickRecorded(mode: Mode): Unit =
    try { tick(mode); () }
    catch {
      case t: Throwable =>
        val label = mode match { case General(_) => "general"; case Catchup() => "catchup" }
        // the injected clock may itself be the thing that threw
        val at = try clock() catch { case _: Throwable => new Timestamp(0L) }
        reports.add(TickReport(label, at,
          Map("__tick__" -> Left(s"${t.getClass.getSimpleName}: ${t.getMessage}"))))
        firstTick.countDown()
    }

  /** Start the two cadences (general hourly, catchup every 5 minutes in
    * the reference; injectable here). Daemon threads: the scheduler never
    * blocks JVM exit.
    */
  def start(generalEveryMs: Long = 3600000L, catchupEveryMs: Long = 300000L): this.type = {
    require(exec == null, "scheduler already started")
    exec = Executors.newSingleThreadScheduledExecutor { r =>
      val t = new Thread(r, "graft-scheduler"); t.setDaemon(true); t
    }
    exec.scheduleAtFixedRate(() => tickRecorded(General()),
      0L, generalEveryMs, TimeUnit.MILLISECONDS)
    exec.scheduleAtFixedRate(() => tickRecorded(Catchup()),
      catchupEveryMs, catchupEveryMs, TimeUnit.MILLISECONDS)
    this
  }

  /** Await the first completed tick (bounded); true if one fired. */
  def awaitFirstTick(timeoutMs: Long): Boolean =
    firstTick.await(timeoutMs, TimeUnit.MILLISECONDS)

  def history: Seq[TickReport] = {
    val it = reports.iterator()
    val b = Seq.newBuilder[TickReport]
    while (it.hasNext) b += it.next()
    b.result()
  }

  /** Stop and allow restart. Returns false if an in-flight tick outlived
    * the drain window — its report may still append after return; callers
    * that need a quiescent history (specs) must check the result.
    */
  def stop(): Boolean = if (exec == null) true else {
    exec.shutdownNow()
    val drained = exec.awaitTermination(10, TimeUnit.SECONDS)
    exec = null
    drained
  }
}
