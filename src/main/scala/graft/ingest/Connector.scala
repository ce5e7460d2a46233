package graft.ingest

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Fetch-window parameters pushed down to the source (SURVEY.md §4):
  * the reference threads (since, until, limit) into every scraper —
  * `since:`/`until:` in the Apify query (scrapers/twitter_scraper.py:27,35),
  * `onlyPostsNewerThan` (facebook_scraper.py:33), maxItems/resultsLimit/
  * page caps (§2.8 L2-L3). `limit` is in the platform's natural cap unit
  * (items for APIs, pages for the HTML sources).
  */
final case class FetchParams(
    since: Option[Timestamp] = None,
    until: Option[Timestamp] = None,
    limit: Option[Int] = None)

/** One tracked company from the control table (the reference's `users` row
  * driving each per-company task — tasks.py:109-119).
  */
final case class Company(
    id: Int,
    name: String,
    handle: Option[String])

/** A source of raw per-company records. The reference's ten scrapers (the
  * scrapers directory) are network clients; here the same contract is backed
  * by fixture files so the pipeline is testable hermetically — the pushdown
  * semantics (window filter, newest-first cap, early exit) are the part the
  * engine owns either way.
  */
trait SourceConnector {
  import SourceConnector._

  def platform: String
  def fetch(spark: SparkSession, company: Company, params: FetchParams): DataFrame

  /** Batched fan-out: raw records for ALL companies in one frame, tagged
    * with the company columns (`CompanyId`/`CompanyName`/`CompanyHandle`).
    * `since` varies per company (each key's own watermark); `until`/`limit`
    * are shared by the run (SURVEY.md §3.2: one parameterized plan).
    *
    * Default: per-company fetch + union — correct for any connector but
    * O(companies) plan size; FixtureConnector overrides with a single
    * multi-path scan so the plan stays O(1) in company count.
    */
  def fetchAll(
      spark: SparkSession,
      companies: Seq[(Company, Option[Timestamp])],
      until: Option[Timestamp],
      limit: Option[Int]): DataFrame = {
    require(companies.nonEmpty,
      s"$platform.fetchAll requires at least one company (the default union " +
        "impl cannot conjure an empty frame without a schema)")
    companies.map { case (c, since) =>
      fetch(spark, c, FetchParams(since, until, limit))
        .withColumn(CompanyId, lit(c.id))
        .withColumn(CompanyName, lit(c.name))
        .withColumn(CompanyHandle, lit(c.handle.orNull))
    }.reduce(_ unionByName _)
  }
}

object SourceConnector {
  /** Company-attribution columns carried by `fetchAll` output; normalizers
    * project them into the sink schema (P12 enrichment) and drop them.
    */
  val CompanyId = "__company_id"
  val CompanyName = "__company_name"
  val CompanyHandle = "__company_handle"
}

/** Fixture-backed connector: reads JSON-lines payloads with an explicit
  * schema (schema-on-read, PERMISSIVE) from
  * `<dir>/<platform>/<sanitized-handle>[suffix].json`, then applies the
  * pushed-down params:
  *  - `since`/`until` filter on `eventTime` (null event times pass through —
  *    required-field drops are the normalizer's F3-F9 filters, not the
  *    window's);
  *  - `limit` newest-first (orderBy eventTime desc + unique `tiebreak`,
  *    limit) — the reference's maxItems caps and twitter3's ordered
  *    early-exit (scrapers/twitter3_scraper.py:43-44,65-66) both reduce to
  *    this; the tiebreak makes the cut at the limit boundary deterministic
  *    across repeated fetches of the same window, which the sink-idempotence
  *    guarantee relies on (a tie kept one run and dropped the next would
  *    look like a new record);
  *  - multiple suffixes are unioned (Reddit's dual query,
  *    scrapers/reddit_scraper.py:66).
  * Page-ranged HTML sources cap on page_num instead
  * (`Dsv2FixtureConnector.pageCapCol` — tasks.py:63,128,145).
  */
final class FixtureConnector(
    val platform: String,
    dir: String,
    schema: StructType,
    eventTime: Option[Column] = None,
    suffixes: Seq[String] = Seq(""),
    tiebreak: Seq[Column] = Nil)
  extends SourceConnector {

  private def sanitize(h: String): String = h.replaceAll("[^A-Za-z0-9._-]", "_")

  private def empty(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  def fetch(spark: SparkSession, company: Company, params: FetchParams): DataFrame = {
    val paths = company.handle.toSeq.flatMap { h =>
      suffixes.map(sfx => s"$dir/$platform/${sanitize(h)}$sfx.json")
    }.filter(p => new java.io.File(p).isFile)
    if (paths.isEmpty) return empty(spark)
    val raw = spark.read.schema(schema).json(paths: _*)
    val windowed = eventTime match {
      case Some(et) =>
        val afterSince = params.since.map(t => raw.filter(et.isNull || et >= lit(t))).getOrElse(raw)
        params.until.map(t => afterSince.filter(et.isNull || et < lit(t))).getOrElse(afterSince)
      case None => raw
    }
    params.limit match {
      case Some(n) =>
        eventTime match {
          case Some(et) =>
            windowed.orderBy(et.desc_nulls_last +: tiebreak: _*).limit(n)
          case None =>
            // no event time → no "newest": cap by an arbitrary-but-
            // stable total order (the hash of the full row), the SAME
            // order the batched path uses, so fetch and fetchAll pick
            // identical survivors. Mirrors the reference's untimed
            // caps ("whatever N items the API returned"); a backlog
            // beyond the cap needs an event-time column to drain.
            // (Explicit column list: a bare star is invalid inside
            // Sort — latent until the async seam routed per-company
            // fetches through this branch.)
            windowed
              .orderBy(xxhash64(to_json(struct(
                windowed.columns.toSeq.map(col): _*))))
              .limit(n)
        }
      case None => windowed
    }
  }

  /** Single-scan batched fetch: every company's fixture files in ONE
    * `spark.read.json` (plan size O(1) in company count — the per-company
    * union grows the logical plan linearly and chokes Catalyst at 10⁴
    * companies). Company attribution joins a broadcast control-side lookup
    * on the sanitized handle recovered from `input_file_name()`; the
    * per-company `since` watermark rides the same lookup row, and the
    * newest-first cap becomes a per-company row_number over the same
    * (eventTime desc, tiebreak) order as the per-company path.
    */
  override def fetchAll(
      spark: SparkSession,
      companies: Seq[(Company, Option[Timestamp])],
      until: Option[Timestamp],
      limit: Option[Int]): DataFrame = {
    import SourceConnector._
    import org.apache.spark.sql.expressions.Window

    val withHandle = companies.collect { case (c @ Company(_, _, Some(h)), since) => (c, h, since) }
    val paths = withHandle.flatMap { case (_, h, _) =>
      suffixes.map(sfx => s"$dir/$platform/${sanitize(h)}$sfx.json")
    }.distinct.filter(p => new java.io.File(p).isFile)

    if (paths.isEmpty) return BatchedFetch.emptyTagged(empty(spark))

    val raw = spark.read.schema(schema).json(paths: _*)
      .withColumn("__skey", BatchedFetch.skeyFromBase(
        regexp_extract(input_file_name(), "([^/]+)\\.json$", 1), suffixes))
    BatchedFetch(spark, raw, withHandle.map { case (c, h, s) => (c, sanitize(h), s) },
      eventTime, until, limit, None, tiebreak)
  }
}

/** The shared batched-fan-out tail: broadcast control-join on the sanitized
  * handle key, per-company since window, per-company cap — used by both the
  * convention-pushdown FixtureConnector and the Catalyst-pushdown
  * Dsv2FixtureConnector (the part AFTER the raw scan is identical).
  */
private[ingest] object BatchedFetch {
  import SourceConnector._
  import org.apache.spark.sql.expressions.Window

  def emptyTagged(empty: DataFrame): DataFrame = empty
    .withColumn(CompanyId, lit(null).cast("int"))
    .withColumn(CompanyName, lit(null).cast("string"))
    .withColumn(CompanyHandle, lit(null).cast("string"))

  /** file basename (no .json) minus the connector's suffix → sanitized handle */
  def skeyFromBase(base: Column, suffixes: Seq[String]): Column = {
    val nonEmptySfx = suffixes.filter(_.nonEmpty).sortBy(-_.length)
    if (nonEmptySfx.isEmpty) base
    else regexp_replace(base,
      nonEmptySfx.map(java.util.regex.Pattern.quote).mkString("(?:", "|", ")") + "$", "")
  }

  def apply(
      spark: SparkSession,
      rawWithSkey: DataFrame, // raw scan + a __skey column
      companies: Seq[(Company, String, Option[Timestamp])], // (company, skey, since)
      eventTime: Option[Column],
      until: Option[Timestamp],
      limit: Option[Int],
      applyLimit: Option[(DataFrame, Int) => DataFrame],
      tiebreak: Seq[Column]): DataFrame = {
    val lookup = {
      import spark.implicits._
      companies
        .map { case (c, skey, since) => (skey, c.id, c.name, c.handle.orNull, since.orNull) }
        .toDF("__skey", CompanyId, CompanyName, CompanyHandle, "__since")
    }
    // Scan-level prefilter: the per-company since is a COLUMN comparison
    // (post-join, unpushable), but no row older than the OLDEST watermark
    // can survive any company's window — that bound is a literal, and a
    // literal lands in the scan's pushed filters. Valid only when every
    // company has a lower bound.
    val minSince = {
      val sinces = companies.map(_._3)
      if (sinces.nonEmpty && sinces.forall(_.isDefined)) Some(sinces.flatten.minBy(_.getTime))
      else None
    }
    val prefiltered = (eventTime, minSince) match {
      case (Some(et), Some(t)) => rawWithSkey.filter(et.isNull || et >= lit(t))
      case _ => rawWithSkey
    }
    val raw = prefiltered.join(broadcast(lookup), "__skey")
    val windowed = eventTime match {
      case Some(et) =>
        val afterSince = raw.filter(col("__since").isNull || et.isNull || et >= col("__since"))
        until.map(t => afterSince.filter(et.isNull || et < lit(t))).getOrElse(afterSince)
      case None => raw
    }
    val capped = limit match {
      case Some(n) =>
        applyLimit match {
          case Some(f) => f(windowed, n) // page caps are company-independent filters
          case None =>
            val order = eventTime match {
              case Some(et) => et.desc_nulls_last +: tiebreak
              // no event time → the cap needs SOME deterministic total
              // order (the per-company path uses file order, undefined
              // here); an arbitrary-but-stable hash of the row serves
              case None => Seq(xxhash64(to_json(struct(col("*")))).asc)
            }
            val w = Window.partitionBy(col(CompanyId)).orderBy(order: _*)
            windowed.withColumn("__rn", row_number().over(w))
              .filter(col("__rn") <= n).drop("__rn")
        }
      case None => windowed
    }
    capped.drop("__skey", "__since")
  }
}

/** DataSource-V2-backed connector (SURVEY §4/§7.3): the same contract as
  * FixtureConnector, but the pushdown is NEGOTIATED BY CATALYST with the
  * `graft-fixture` source (graft.sources.FixtureSource) instead of being a
  * convention the connector promises to honor: the window filters land in
  * the scan's PushedFilters, a bare cap in PushedLimit, and the
  * newest-first cap (orderBy eventTime desc + tiebreak, limit) in
  * PushedTopN — nothing downstream can forget them, which is what the
  * reference's per-scraper `since:`/`until:`/maxItems threading could not
  * guarantee (scrapers/twitter_scraper.py:27,35).
  *
  * `eventTimeCol`/`tiebreakCol`/`pageCapCol` are COLUMN NAMES, not
  * expressions: v1 filter/TopN pushdown reaches plain column references
  * only, which is why the DSv2 path fits the platforms whose event time is
  * a native field (twitter3's `date`) or whose cap is a plain predicate
  * (the HTML sources' `page_num <= n` — tasks.py:63,128,145 — which lands
  * in PushedFilters like any other comparison).
  */
final class Dsv2FixtureConnector(
    val platform: String,
    dir: String,
    schema: StructType,
    eventTimeCol: Option[String] = None,
    suffixes: Seq[String] = Seq(""),
    tiebreakCol: Option[String] = None,
    pageCapCol: Option[String] = None)
  extends SourceConnector {

  import graft.sources.FixtureSource

  private def sanitize(h: String): String = h.replaceAll("[^A-Za-z0-9._-]", "_")

  private def empty(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  private def load(spark: SparkSession, paths: Seq[String], pathCol: Boolean): DataFrame = {
    val r = spark.read.format("graft-fixture")
      .option(FixtureSource.SchemaOpt, schema.json)
      .option(FixtureSource.PathsOpt, paths.mkString(","))
    (if (pathCol) r.option(FixtureSource.PathColOpt, "true") else r).load()
  }

  private def pathsFor(handle: String): Seq[String] =
    suffixes.map(sfx => s"$dir/$platform/${sanitize(handle)}$sfx.json")
      .filter(p => new java.io.File(p).isFile)

  def fetch(spark: SparkSession, company: Company, params: FetchParams): DataFrame = {
    val paths = company.handle.toSeq.flatMap(pathsFor)
    if (paths.isEmpty) return empty(spark)
    val raw = load(spark, paths, pathCol = false)
    val et = eventTimeCol.map(col)
    val windowed = et match {
      case Some(e) =>
        val afterSince = params.since.map(t => raw.filter(e.isNull || e >= lit(t))).getOrElse(raw)
        params.until.map(t => afterSince.filter(e.isNull || e < lit(t))).getOrElse(afterSince)
      case None => raw
    }
    params.limit match {
      case Some(n) =>
        pageCapCol match {
          case Some(cap) => windowed.filter(col(cap) <= n) // pushed filter
          case None =>
            et match {
              case Some(e) => // Catalyst plans this as a pushed TopN
                windowed.orderBy(e.desc_nulls_last +: tiebreakCol.map(col(_).asc).toSeq: _*).limit(n)
              case None => // same stable-hash cap as the batched path
                windowed.orderBy(xxhash64(to_json(struct(col("*"))))).limit(n)
            }
        }
      case None => windowed
    }
  }

  /** Batched: one DSv2 load of every path; company attribution joins on the
    * source-provided `__src_path` column (the DSv2 analog of
    * `input_file_name()`, which only works for v1 file sources).
    */
  override def fetchAll(
      spark: SparkSession,
      companies: Seq[(Company, Option[Timestamp])],
      until: Option[Timestamp],
      limit: Option[Int]): DataFrame = {
    val withHandle = companies.collect { case (c @ Company(_, _, Some(h)), since) => (c, h, since) }
    val paths = withHandle.flatMap { case (_, h, _) => pathsFor(h) }.distinct
    if (paths.isEmpty) return BatchedFetch.emptyTagged(empty(spark))
    val raw = load(spark, paths, pathCol = true)
      .withColumn("__skey", BatchedFetch.skeyFromBase(
        regexp_extract(col(FixtureSource.PathCol), "([^/]+)\\.json$", 1), suffixes))
      .drop(FixtureSource.PathCol)
    BatchedFetch(spark, raw, withHandle.map { case (c, h, s) => (c, sanitize(h), s) },
      eventTimeCol.map(col), until, limit,
      pageCapCol.map(cap => (df: DataFrame, n: Int) => df.filter(col(cap) <= n)),
      tiebreakCol.map(col(_).asc).toSeq)
  }
}
