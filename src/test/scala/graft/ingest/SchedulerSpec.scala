package graft.ingest

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.graft.ListenerBus
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.schema.Schemas

/** The scheduler must be a safe trigger over the idempotent engine: a
  * tick ingests, an immediate re-tick inserts nothing (watermarks + dedup
  * sinks absorb the refire), catchup-after-general is likewise a no-op,
  * and the threaded cadence drives the same tick path.
  */
class SchedulerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val t0 = Timestamp.valueOf("2025-06-01 00:00:00")

  private def fixturesDir: String =
    new java.io.File(getClass.getResource("/fixtures").toURI).getAbsolutePath

  private def writeUsers(path: String): Unit = {
    val n10 = Seq.fill(10)(null)
    val rows = Seq(
      Row(Seq(1, "Acme", "acme.com", "acmegram", "acmeco", "acme-ltd",
        "https://maps.google.com/?cid=123", "acmefb", "acme-inc") ++ n10: _*))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), Schemas.users)
    Watermarks.overwriteParquet(spark, path, df)
  }

  test("tick ingests; re-tick and catchup-after-general are no-ops") {
    val root = Files.createTempDirectory("graft-sched").toString
    val users = s"$root/users"; writeUsers(users)
    val sched = new Scheduler(spark, users, s"$root/wh", fixturesDir, () => t0)

    val first = sched.tick(Catchup())
    assert(first.failures.isEmpty, first.failures.mkString("; "))
    assert(first.inserted > 0, "bootstrap tick must ingest the fixture rows")

    // the refire: same clock, advanced watermarks, idempotent sinks
    val again = sched.tick(Catchup())
    assert(again.failures.isEmpty && again.inserted == 0,
      s"refired tick must insert nothing, got ${again.inserted}")

    // a general tick right after: everything fresh within staleness → no-op
    val general = sched.tick(General())
    assert(general.failures.isEmpty && general.inserted == 0,
      s"fresh-watermark general tick must insert nothing, got ${general.inserted}")

    assert(sched.history.map(_.mode) == Seq("catchup", "catchup", "general"))
  }

  test("a tick commits its platforms' advances in one rewrite; a failing platform's column stays") {
    val root = Files.createTempDirectory("graft-sched-commit").toString
    val users = s"$root/users"; writeUsers(users)
    val pipelines = Pipelines.specs(fixturesDir).map { s =>
      if (s.platform == "facebook") s.copy(connector = new Flaky(s.connector, failures = 99)) else s
    }
    val sched = new Scheduler(spark, users, s"$root/wh", pipelines, () => t0)
    Watermarks.snapshot(spark, users) // the tick below finds the snapshot fresh
    val (tick, controlJobs) = ListenerBus.jobsDuring(spark.sparkContext, Some("Watermarks.scala")) {
      sched.tick(Catchup())
    }
    assert(tick.failures.size == 1 && tick.failures.head.startsWith("facebook:"), tick.failures)
    assert(controlJobs == 1, s"$controlJobs control-table jobs in one tick")
    val row = Watermarks.read(spark, users).collect().head
    val moved = Schemas.platforms.filter(p => row.getAs[Timestamp](s"last_fetched_$p") != null)
    val inserted = tick.results.collect { case (p, Right(r)) if r.inserted > 0 => p }.toSet
    assert(moved.toSet == inserted && !inserted("facebook") && inserted.size > 1, moved)
    moved.foreach(p => assert(row.getAs[Timestamp](s"last_fetched_$p") == t0, p))
  }

  test("started cadence fires ticks on the shared path and stops cleanly") {
    val root = Files.createTempDirectory("graft-sched-threads").toString
    val users = s"$root/users"; writeUsers(users)
    val sched = new Scheduler(spark, users, s"$root/wh", fixturesDir, () => t0)
    try {
      sched.start(generalEveryMs = 60000L, catchupEveryMs = 60000L)
      assert(sched.awaitFirstTick(120000L), "no tick fired within the window")
      val h = sched.history
      assert(h.nonEmpty && h.head.mode == "general")
      assert(h.head.failures.isEmpty, h.head.failures.mkString("; "))
    } finally {
      // drained=false means an in-flight tick may still append after
      // return — wait it out before the quiescence assertion below
      if (!sched.stop()) Thread.sleep(2000L)
    }
    val after = sched.history.size
    Thread.sleep(200L)
    assert(sched.history.size == after, "ticks fired after stop()")
  }

  test("a tick failing BEFORE the platform loop is recorded, not cadence-cancelling") {
    val root = Files.createTempDirectory("graft-sched-poison").toString
    val users = s"$root/users"; writeUsers(users)
    // poison the injected clock once: the first scheduled tick throws
    // before runAllResilient isolates anything — exactly the escape path
    // that would silently cancel scheduleAtFixedRate
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val clock = () =>
      if (calls.incrementAndGet() == 1) throw new IllegalStateException("poisoned clock")
      else t0
    val sched = new Scheduler(spark, users, s"$root/wh", fixturesDir, clock)
    try {
      sched.start(generalEveryMs = 250L, catchupEveryMs = 600000L)
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (sched.history.size < 2 && System.nanoTime() < deadline) Thread.sleep(50L)
      val h = sched.history
      assert(h.size >= 2, "cadence died after the failing tick")
      assert(h.head.failures.exists(_.contains("poisoned clock")),
        s"first tick must record the pre-loop failure, got ${h.head.results}")
      assert(h(1).failures.isEmpty, "cadence must recover on the next firing")
    } finally { if (!sched.stop()) Thread.sleep(2000L) }
  }
}
