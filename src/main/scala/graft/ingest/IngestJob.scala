package graft.ingest

import java.sql.Timestamp
import scala.util.control.NonFatal
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.schema.Schemas

/** Run mode — the reference's general/catchup task pair collapsed into one
  * parameterized job (SURVEY.md §3.2: "one parameterized logical plan, two
  * bindings"):
  *  - General: staleness-gated incremental window, since = the company's own
  *    watermark (tasks.py:103-104, 158-170);
  *  - Catchup: bootstrap for never-fetched companies, fixed lookback
  *    (tasks.py:115-119, 76-77).
  */
sealed trait Mode
final case class General(stalenessMinutes: Int = 40) extends Mode
final case class Catchup() extends Mode

/** Declarative per-platform pipeline spec (SURVEY.md §7.2 step 4): source
  * schema + transform chain + conflict key + watermark column, one shared
  * execution engine.
  */
final case class IngestSpec(
    platform: String,
    sinkName: String,
    handleCol: String,
    connector: SourceConnector,
    normalize: (DataFrame, Column, Column, Column) => DataFrame,
    tiebreak: Seq[String],
    generalLimit: Int,
    catchupLimit: Int,
    lookbackDays: Int)

final case class IngestResult(
    platform: String,
    perCompany: Map[String, Long],
    inserted: Long)

object IngestJob {

  /** One incremental micro-batch for one platform:
    * eligibility on the control-table snapshot (S1/S2 + F10 guards) →
    * per-company source fetch with (since, until, limit) pushdown →
    * normalize (P1-P13, F3-F9, X1-X2) → dedup-append sink (K1-K8) →
    * watermark advance iff inserted>0 (K9), committed by this op.
    *
    * The company fan-out is ONE batched fetch (`fetchAll`): the control
    * table drives which companies participate (O(companies) driver rows,
    * mirroring the reference's Celery dispatch, tasks.py:109-119), but the
    * data plane is a single scan + broadcast control join — plan size O(1)
    * in company count, where a per-company union would grow the logical
    * plan linearly and choke Catalyst at 10⁴ companies. One sink write.
    */
  def run(
      spark: SparkSession,
      usersPath: String,
      warehouse: String,
      spec: IngestSpec,
      mode: Mode,
      now: Timestamp): IngestResult = {
    val step = ingest(spark, Watermarks.snapshot(spark, usersPath), warehouse, spec, mode, now)
    Watermarks.commit(spark, usersPath, Seq(step.advance)) // K9
    step.result
  }

  /** One platform's batch with its K9 advance not yet committed. */
  private final case class Step(result: IngestResult, advance: Watermarks.Advance)

  /** `run` up to the watermark commit: eligibility (S1/S2 + F10 guards) is
    * evaluated on the control-table snapshot's rows on the driver, then
    * fetch → normalize → sink. Returns the advance the batch earned.
    */
  private def ingest(
      spark: SparkSession,
      users: Watermarks.Snapshot,
      warehouse: String,
      spec: IngestSpec,
      mode: Mode,
      now: Timestamp): Step = {
    val schema = users.schema
    val (id, name, handle, wm) = (schema.fieldIndex("id"), schema.fieldIndex("company_name"),
      schema.fieldIndex(spec.handleCol), schema.fieldIndex(s"last_fetched_${spec.platform}"))
    val eligible: Row => Boolean = mode match {
      case General(staleMin) => // S2/F2: watermark stale
        val cutoff = new Timestamp(now.getTime - staleMin * 60000L)
        r => !r.isNullAt(handle) && // F10
          !r.isNullAt(wm) && r.getTimestamp(wm).before(cutoff)
      case Catchup() => // S1/F1: never fetched
        r => !r.isNullAt(handle) && r.isNullAt(wm)
    }
    val rows = users.rows.filter(eligible)

    if (rows.isEmpty)
      return Step(IngestResult(spec.platform, Map.empty, 0L), Watermarks.Advance(spec.platform, Set.empty, now))
    // company_name is the grouping identity end-to-end (sink enrichment,
    // per-company counts, watermark attribution — the reference's model);
    // a duplicate name would conflate two companies' counts and advance
    // the wrong watermark, silently skipping records forever. Fail loud.
    require(rows.map(_.getString(name)).distinct.length == rows.length,
      s"${spec.platform}: duplicate company_name in control table — " +
        "watermark attribution requires unique names")

    val companies = rows.map { r =>
      val company = Company(r.getInt(id), r.getString(name), Option(r.getString(handle)))
      val since = mode match {
        case General(_) => Option(r.getTimestamp(wm))
        case Catchup()  => Some(new Timestamp(now.getTime - spec.lookbackDays * 86400000L))
      }
      (company, since)
    }
    val limit = mode match {
      case General(_) => spec.generalLimit
      case Catchup()  => spec.catchupLimit
    }
    val raw = spec.connector.fetchAll(spark, companies, Some(now), Some(limit))
    val all = spec.normalize(
      raw, col(SourceConnector.CompanyName), col(SourceConnector.CompanyHandle), lit(now))
    val (_, key) = Schemas.sinks(spec.sinkName)
    val res = DedupSink.append(
      spark, s"$warehouse/${spec.sinkName}", all, key, spec.tiebreak.map(col),
      groupCol = Some("company_name"),
      partitionBy = Seq("company_name"))

    val advancedIds = companies.collect {
      case (c, _) if res.perGroup.getOrElse(c.name, 0L) > 0L => c.id
    }.toSet
    Step(IngestResult(spec.platform, res.perGroup, res.inserted),
      Watermarks.Advance(spec.platform, advancedIds, now))
  }

  /** Every platform sequentially — the capability behind the reference's
    * broken `/fetch-now` HTTP entry (SURVEY.md §3.3, app.py:10-14), minus
    * the bug: returns per-platform inserted counts. One tick: every
    * platform is ingested against one control-table snapshot, and their
    * advances are committed in one rewrite once all have succeeded.
    */
  def runAll(
      spark: SparkSession,
      usersPath: String,
      warehouse: String,
      fixturesDir: String,
      mode: Mode,
      now: Timestamp): Map[String, IngestResult] = {
    val users = Watermarks.snapshot(spark, usersPath)
    val steps = Pipelines.specs(fixturesDir).map(s => s.platform -> ingest(spark, users, warehouse, s, mode, now))
    Watermarks.commit(spark, usersPath, steps.map(_._2.advance)) // K9
    steps.map { case (p, st) => p -> st.result }.toMap
  }

  private val MaxRetries = 3

  /** Retry budget per platform task, mirroring the reference's Celery
    * `max_retries=3` (tasks.py:109,133,150,203). A platform that still
    * fails is isolated as a Left — other platforms proceed, and because
    * the sink is idempotent and the watermark only advances on success,
    * the failed platform's next run retries the same window safely.
    * Only non-fatal failures are retried: a VirtualMachineError,
    * InterruptedException or LinkageError propagates from the first
    * attempt, since retrying cannot cure it.
    */
  def runWithRetry(
      spark: SparkSession,
      usersPath: String,
      warehouse: String,
      spec: IngestSpec,
      mode: Mode,
      now: Timestamp,
      maxRetries: Int = MaxRetries): Either[String, IngestResult] =
    retrying(spec.platform, maxRetries)(run(spark, usersPath, warehouse, spec, mode, now))

  private def retrying[A](platform: String, maxRetries: Int)(attempt: => A): Either[String, A] = {
    var last: Throwable = null
    var n = 0
    while (n <= maxRetries) {
      try return Right(attempt)
      catch { case NonFatal(e) => last = e; n += 1 }
    }
    Left(s"$platform: failed after ${maxRetries + 1} attempts: ${last.getMessage}")
  }

  /** runAll with per-platform fault isolation + retries: a platform that
    * fails every attempt is a Left and its watermark column stays where
    * the tick found it, while the others' advances commit in the tick's
    * one rewrite.
    */
  def runAllResilient(
      spark: SparkSession,
      usersPath: String,
      warehouse: String,
      fixturesDir: String,
      mode: Mode,
      now: Timestamp): Map[String, Either[String, IngestResult]] =
    runAllResilient(spark, usersPath, warehouse, Pipelines.specs(fixturesDir), mode, now)

  /** [[runAllResilient]] over the given pipelines. */
  def runAllResilient(
      spark: SparkSession,
      usersPath: String,
      warehouse: String,
      specs: Seq[IngestSpec],
      mode: Mode,
      now: Timestamp): Map[String, Either[String, IngestResult]] = {
    val users = Watermarks.snapshot(spark, usersPath)
    val steps = specs.map { s =>
      s.platform -> retrying(s.platform, MaxRetries)(ingest(spark, users, warehouse, s, mode, now))
    }
    Watermarks.commit(spark, usersPath, steps.flatMap(_._2.toOption).map(_.advance)) // K9
    steps.map { case (p, st) => p -> st.map(_.result) }.toMap
  }
}

/** The ten platform pipelines as data (SURVEY.md §2.1 S3-S11) — after the
  * shared engine above, each is a spec, not new machinery.
  */
object Pipelines {
  import graft.functions.Norm

  def specs(fixturesDir: String): Seq[IngestSpec] = {
    def fx(platform: String, schema: org.apache.spark.sql.types.StructType,
           eventTime: Option[Column] = None,
           suffixes: Seq[String] = Seq(""),
           tiebreak: Seq[Column] = Nil) =
      new FixtureConnector(platform, fixturesDir, schema, eventTime, suffixes, tiebreak)

    Seq(
      IngestSpec("twitter", "twitter_mentions", "twitter_username",
        fx("twitter", Schemas.twitterRaw, Some(Norm.parseTwitterTs(col("createdAt"))),
          tiebreak = Seq(col("id"))),
        Normalize.twitter, Seq("created_at"), 500, 500, 90), // twitter_scraper.py:35,56
      IngestSpec("twitter2", "twitter_mentions", "twitter_username",
        fx("twitter2", Schemas.twitter2Raw, Some(try_to_timestamp(col("createdAt"))),
          tiebreak = Seq(col("id"))),
        Normalize.twitter2, Seq("created_at"), 100, 100, 90), // tasks.py:447
      IngestSpec("twitter3", "twitter_mentions", "twitter_username",
        // DSv2 path: window/TopN pushdown enforced by Catalyst, not by
        // convention (eventTime is a native field here, so v1 filters reach it)
        new Dsv2FixtureConnector("twitter3", fixturesDir, Schemas.twitter3Raw,
          eventTimeCol = Some("date"), tiebreakCol = Some("id")),
        Normalize.twitter3, Seq("created_at"), 100, 100, 120), // twitter3_scraper.py:23-25,36
      IngestSpec("instagram", "instagram_mentions", "instagram_username",
        // async-run source (instagram_scraper.py:36-53): start → poll →
        // fetch dataset, through the AsyncPoll seam; the fixture client
        // completes on the first poll so the hermetic path never sleeps
        new AsyncPollConnector("instagram",
          new FixtureRunClient(fx("instagram", Schemas.instagramRaw))),
        Normalize.instagram, Seq("created_at"), 100, 100, 90),
      IngestSpec("trustpilot", "trustpilot_reviews", "company_web_address",
        // DSv2: the page cap is a plain predicate, pushed as a scan filter
        new Dsv2FixtureConnector("trustpilot", fixturesDir, Schemas.trustpilotRaw,
          pageCapCol = Some("page_num")),
        Normalize.trustpilot, Seq("review_date"), 3, 30, 3650), // tasks.py:63,128,145
      IngestSpec("feefo", "feefo_reviews", "feefo_business_info",
        new Dsv2FixtureConnector("feefo", fixturesDir, Schemas.feefoRaw,
          pageCapCol = Some("page_num")),
        Normalize.feefo, Seq("review_date"), 3, 30, 3650), // tasks.py:62,322,339
      IngestSpec("google_maps", "google_maps_reviews", "place_url",
        // async-run source (google_maps_scraper.py:36-45), same seam
        new AsyncPollConnector("google_maps",
          new FixtureRunClient(fx("google_maps", Schemas.googleMapsRaw))),
        Normalize.googleMaps, Seq("review_date"), 100, 100, 3650), // tasks.py:61
      IngestSpec("reddit", "reddit_posts", "company_web_address",
        fx("reddit", Schemas.redditRaw, suffixes = Seq("_url", "_mention")), // dual query, reddit_scraper.py:66
        Normalize.reddit, Seq("review_date"), 30, 30, 3650), // reddit_scraper.py:15
      IngestSpec("facebook", "facebook_posts", "facebook_username",
        fx("facebook", Schemas.facebookRaw, Some(try_to_timestamp(col("time"))),
          tiebreak = Seq(col("postId"))),
        Normalize.facebook, Seq("created_at"), 100, 100, 90), // facebook_scraper.py:10-11
      IngestSpec("linkedin", "linkedin_posts", "linkedin_username",
        fx("linkedin", Schemas.linkedinRaw, Some(Norm.epochMsTs(col("posted_at.timestamp"))),
          tiebreak = Seq(col("urn"))),
        Normalize.linkedin, Seq("posted_at_iso"), 20, 100, 90)) // tasks.py:67-68
  }
}
