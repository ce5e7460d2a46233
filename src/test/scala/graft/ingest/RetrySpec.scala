package graft.ingest

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.schema.Schemas

/** A connector that throws `error` on the first `failures` fetches. */
private[ingest] class Flaky(inner: SourceConnector, failures: Int,
    error: Int => Throwable = n => new RuntimeException(s"transient source failure #$n"))
  extends SourceConnector {
  val calls = new AtomicInteger(0)
  def platform: String = inner.platform
  def fetch(spark: SparkSession, c: Company, p: FetchParams): DataFrame = {
    val n = calls.incrementAndGet()
    if (n <= failures) throw error(n)
    inner.fetch(spark, c, p)
  }
}

/** Fault tolerance of the ingest runner: transient source failures retry
  * (the reference's Celery max_retries=3, tasks.py:109) and terminal
  * failures are isolated without corrupting sink or watermark state.
  */
class RetrySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val now = Timestamp.valueOf("2025-06-01 00:00:00")

  private def fixturesDir: String =
    new java.io.File(getClass.getResource("/fixtures").toURI).getAbsolutePath

  private def setup(): (String, String) = {
    val root = Files.createTempDirectory("graft-retry").toString
    val usersPath = s"$root/users"
    val rows = Seq(Row(Seq(1, "Acme", "acme.com", "acmegram", "acmeco", "acme-ltd",
      "https://maps.google.com/?cid=123", "acmefb", "acme-inc") ++ Seq.fill(10)(null): _*))
    Watermarks.overwriteParquet(spark, usersPath,
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), Schemas.users))
    (root, usersPath)
  }

  test("transient failures retry and succeed; watermark advances once") {
    val (wh, users) = setup()
    val base = Pipelines.specs(fixturesDir).find(_.platform == "twitter").get
    val flaky = new Flaky(base.connector, failures = 2)
    val spec = base.copy(connector = flaky)
    val res = IngestJob.runWithRetry(spark, users, wh, spec, Catchup(), now)
    assert(res == Right(IngestResult("twitter", Map("Acme" -> 3L), 3L)))
    assert(flaky.calls.get() == 3) // 2 failures + 1 success
    val wm = Watermarks.read(spark, users).collect().head.getAs[Timestamp]("last_fetched_twitter")
    assert(wm == now)
  }

  test("terminal failure is isolated: Left, no sink rows, watermark NOT advanced") {
    val (wh, users) = setup()
    val base = Pipelines.specs(fixturesDir).find(_.platform == "twitter").get
    val spec = base.copy(connector = new Flaky(base.connector, failures = 99))
    val res = IngestJob.runWithRetry(spark, users, wh, spec, Catchup(), now)
    assert(res.isLeft && res.left.exists(_.contains("4 attempts")))
    assert(!new java.io.File(s"$wh/twitter_mentions").exists())
    val wm = Watermarks.read(spark, users).collect().head.getAs[Timestamp]("last_fetched_twitter")
    assert(wm == null) // same window retried next run
  }

  test("a non-fatal failure gets maxRetries + 1 attempts") {
    val (wh, users) = setup()
    val base = Pipelines.specs(fixturesDir).find(_.platform == "twitter").get
    val flaky = new Flaky(base.connector, failures = 99,
      error = n => new IllegalStateException(s"source rejected request #$n"))
    val res = IngestJob.runWithRetry(spark, users, wh, base.copy(connector = flaky),
      Catchup(), now, maxRetries = 2)
    assert(res.isLeft && res.left.exists(_.contains("3 attempts")))
    assert(flaky.calls.get() == 3)
  }

  test("fatal errors propagate from the first attempt, unretried") {
    val (wh, users) = setup()
    val base = Pipelines.specs(fixturesDir).find(_.platform == "twitter").get
    val fatal: Seq[() => Throwable] = Seq(
      () => new StackOverflowError("simulated"),   // VirtualMachineError
      () => new InterruptedException("simulated"),
      () => new NoClassDefFoundError("simulated")) // LinkageError
    fatal.foreach { make =>
      val expected = make().getClass
      val flaky = new Flaky(base.connector, failures = 99, error = _ => make())
      val thrown = intercept[Throwable] {
        IngestJob.runWithRetry(spark, users, wh, base.copy(connector = flaky), Catchup(), now)
      }
      assert(thrown.getClass == expected)
      assert(flaky.calls.get() == 1, s"${expected.getSimpleName} was retried")
    }
    assert(!new java.io.File(s"$wh/twitter_mentions").exists())
  }
}
