package graft.ingest

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.graft.ListenerBus
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{DateType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.schema.Schemas

/** Golden end-to-end tests for the ingest spine (SURVEY.md §5.2): fixture
  * payloads → connector pushdown → normalize → dedup sink → watermark, for
  * every platform; plus idempotence (ingest ∘ ingest = ingest) and
  * watermark advance-iff-count>0 / monotonicity.
  */
class IngestSpineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val now = Timestamp.valueOf("2025-06-01 00:00:00")
  private val wm2020 = Timestamp.valueOf("2020-01-01 00:00:00")

  private def fixturesDir: String =
    new java.io.File(getClass.getResource("/fixtures").toURI).getAbsolutePath

  /** users control table: Acme = all handles, never fetched (catchup path);
    * Beta = twitter only, stale watermark (general path); Gamma = no
    * handles (F10 guard).
    */
  private def writeUsers(path: String): Unit = {
    val n10 = Seq.fill(10)(null)
    val rows = Seq(
      Row(Seq(1, "Acme", "acme.com", "acmegram", "acmeco", "acme-ltd",
        "https://maps.google.com/?cid=123", "acmefb", "acme-inc") ++ n10: _*),
      Row(Seq(2, "Beta", null, null, "betatw", null, null, null, null,
        wm2020) ++ Seq.fill(9)(null): _*),
      Row(Seq(3, "Gamma", null, null, null, null, null, null, null) ++ n10: _*))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), Schemas.users)
    Watermarks.overwriteParquet(spark, path, df)
  }

  private def fresh(): (String, String) = {
    val root = Files.createTempDirectory("graft-wh").toString
    val usersPath = s"$root/users"
    writeUsers(usersPath)
    (root, usersPath)
  }

  private def twitterSpec = Pipelines.specs(fixturesDir).find(_.platform == "twitter").get

  private def sinkMap(warehouse: String, sink: String, key: String): Map[String, Row] = {
    val df = spark.read.parquet(s"$warehouse/$sink")
    df.collect().map(r => r.getAs[String](key) -> r).toMap
  }

  test("twitter catchup: window pushdown, F3 drop, P1-P3 projection, in-batch dedup") {
    val (wh, users) = fresh()
    val res = IngestJob.run(spark, users, wh, twitterSpec, Catchup(), now)
    assert(res.perCompany == Map("Acme" -> 3L)) // t1, t4, t5; t2 F3-dropped, t3 out of window, dup t1 merged
    val rows = sinkMap(wh, "twitter_mentions", "tweet_id")
    assert(rows.keySet == Set("t1", "t4", "t5"))
    val t1 = rows("t1")
    assert(t1.getAs[String]("author_handle") == "alice") // P1 nested author.name
    assert(t1.getAs[String]("image") == "https://img/1.jpg") // P1 first media
    assert(t1.getAs[String]("videourl") == "https://vid/1.mp4") // P2 video variant
    assert(t1.getAs[Timestamp]("created_at") == Timestamp.valueOf("2025-05-14 09:00:01")) // P3
    assert(t1.getAs[Int]("reply_count") == 2 && t1.getAs[Int]("view_count") == 40)
    val t4 = rows("t4")
    assert(t4.getAs[String]("videourl") == "https://gif/4.gif") // animated_gif variant
    assert(t4.getAs[String]("image") == null) // no plain media
    val t5 = rows("t5")
    assert(t5.getAs[String]("image") == null) // EMPTY media list -> null, not ANSI error
    assert(t5.getAs[String]("videourl") == null) // no video/gif match -> null
    // watermark: advanced for Acme only (count>0), Beta untouched
    val u = Watermarks.read(spark, users).collect().map(r => r.getAs[String]("company_name") -> r.getAs[Timestamp]("last_fetched_twitter")).toMap
    assert(u("Acme") == now && u("Beta") == wm2020 && u("Gamma") == null)
  }

  test("twitter general: staleness gate + per-company watermark window") {
    val (wh, users) = fresh()
    IngestJob.run(spark, users, wh, twitterSpec, Catchup(), now) // Acme first
    val res = IngestJob.run(spark, users, wh, twitterSpec, General(40), now)
    assert(res.perCompany == Map("Beta" -> 1L)) // b1; b2 < Beta's 2020 watermark
    val rows = sinkMap(wh, "twitter_mentions", "tweet_id")
    assert(rows.keySet == Set("t1", "t4", "t5", "b1"))
    val u = Watermarks.read(spark, users).collect().map(r => r.getAs[String]("company_name") -> r.getAs[Timestamp]("last_fetched_twitter")).toMap
    assert(u("Beta") == now)
    // re-running both modes is a no-op: nothing eligible, nothing inserted
    assert(IngestJob.run(spark, users, wh, twitterSpec, Catchup(), now).inserted == 0)
    assert(IngestJob.run(spark, users, wh, twitterSpec, General(40), now).inserted == 0)
    assert(spark.read.parquet(s"$wh/twitter_mentions").count() == 4)
  }

  test("sink idempotence: re-appending the same batch inserts nothing (K1)") {
    val (wh, users) = fresh()
    IngestJob.run(spark, users, wh, twitterSpec, Catchup(), now)
    val before = spark.read.parquet(s"$wh/twitter_mentions").collect().toSet
    // feed the identical normalized batch straight into the sink again
    val c = Company(1, "Acme", Some("acmeco"))
    val raw = twitterSpec.connector.fetch(spark, c,
      FetchParams(Some(Timestamp.valueOf("2025-03-03 00:00:00")), Some(now), Some(500)))
    val batch = twitterSpec.normalize(raw,
      org.apache.spark.sql.functions.lit(c.name),
      org.apache.spark.sql.functions.lit(c.handle.orNull),
      org.apache.spark.sql.functions.lit(now))
    val res = DedupSink.append(spark, s"$wh/twitter_mentions", batch,
      Schemas.sinks("twitter_mentions")._2, twitterSpec.tiebreak.map(org.apache.spark.sql.functions.col))
    assert(res.inserted == 0)
    assert(spark.read.parquet(s"$wh/twitter_mentions").collect().toSet == before)
  }

  test("watermark monotonicity: never moves backwards") {
    val (_, users) = fresh()
    Watermarks.advance(spark, users, "twitter", Set(1), now)
    Watermarks.advance(spark, users, "twitter", Set(1), wm2020) // stale advance attempt
    val acme = Watermarks.read(spark, users).filter("id = 1").collect().head
    assert(acme.getAs[Timestamp]("last_fetched_twitter") == now)
  }

  test("an external rewrite of the control table between two runs is seen by the second") {
    val (wh, users) = fresh()
    assert(IngestJob.run(spark, users, wh, twitterSpec, Catchup(), now).perCompany == Map("Acme" -> 3L))
    // a writer outside the engine's commit path adds a never-fetched company
    val delta = Row(Seq(4, "Delta", null, null, "betatw", null, null, null, null) ++ Seq.fill(10)(null): _*)
    Watermarks.overwriteParquet(spark, users, Watermarks.read(spark, users)
      .union(spark.createDataFrame(spark.sparkContext.parallelize(Seq(delta), 1), Schemas.users)))
    val res = IngestJob.run(spark, users, wh, twitterSpec, Catchup(), now)
    assert(res.perCompany == Map("Delta" -> 1L)) // b1; a stale snapshot would see no eligible company
    val u = Watermarks.read(spark, users).collect()
      .map(r => r.getAs[String]("company_name") -> r.getAs[Timestamp]("last_fetched_twitter")).toMap
    assert(u == Map("Acme" -> now, "Beta" -> wm2020, "Gamma" -> null, "Delta" -> now))
  }

  test("an advance keeps columns the engine does not own and the inferred schema") {
    val root = Files.createTempDirectory("graft-wh").toString
    val users = s"$root/users"
    // extra columns, one of them ahead of the engine's own
    val schema = StructType(StructField("tier", StringType) +: Schemas.users.fields :+
      StructField("signup", DateType))
    val signup = java.sql.Date.valueOf("2024-02-29")
    val rows = Seq(
      Row(Seq("gold", 1, "Acme", "acme.com", "acmegram", "acmeco", "acme-ltd",
        "https://maps.google.com/?cid=123", "acmefb", "acme-inc") ++ Seq.fill(10)(null) :+ signup: _*),
      Row(Seq(null, 2, "Beta", null, null, "betatw", null, null, null, null,
        wm2020) ++ Seq.fill(9)(null) :+ null: _*))
    Watermarks.overwriteParquet(spark, users,
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema))
    val before = Watermarks.read(spark, users)
    val (schemaBefore, rowsBefore) = (before.schema, before.drop("last_fetched_twitter").collect().toSet)
    assert(IngestJob.run(spark, users, root, twitterSpec, Catchup(), now).perCompany == Map("Acme" -> 3L))
    val after = Watermarks.read(spark, users)
    assert(after.schema == schemaBefore)
    assert(after.drop("last_fetched_twitter").collect().toSet == rowsBefore)
    val wm = after.collect().map(r => r.getAs[String]("company_name") -> r.getAs[Timestamp]("last_fetched_twitter")).toMap
    assert(wm == Map("Acme" -> now, "Beta" -> wm2020))
  }

  test("runAll catchup: every platform ingests its fixture golden counts") {
    val (wh, users) = fresh()
    val res = IngestJob.runAll(spark, users, wh, fixturesDir, Catchup(), now)
    val counts = res.map { case (p, r) => p -> r.inserted }
    assert(counts == Map(
      "twitter" -> 3L,    // t1, t4, t5 (empty media lists -> nulls)
      "twitter2" -> 1L,   // t2a (no-id and no-text F4-dropped)
      "twitter3" -> 1L,   // 900001 (900002 before since)
      "instagram" -> 4L,  // ig1..ig4 (error entry F8, ig5 F5-dropped)
      "trustpilot" -> 3L, // catchup page cap 30 covers page 4
      "feefo" -> 2L,
      "google_maps" -> 2L,
      "reddit" -> 3L,     // dual-query union, /r/a/1 deduped across queries
      "facebook" -> 2L,   // f1, f2 (no-id / no-time F6-dropped)
      "linkedin" -> 2L))  // urn:1:full, urn:2 (bad posted_at F7-dropped)
    // cross-source sink: twitter + twitter2 + twitter3 share twitter_mentions
    assert(spark.read.parquet(s"$wh/twitter_mentions").count() == 5)

    // spot-check normalized values across platforms
    val ig = sinkMap(wh, "instagram_mentions", "post_id")
    assert(ig("ig2").getAs[String]("caption") == "d2") // P7 description|caption
    assert(ig("ig2").getAs[String]("author_handle") == "u2")
    assert(ig("ig1").getAs[String]("image") == "") // it.get("images", "") default
    assert(ig("ig1").getAs[String]("videourl") == null) // videoUrl|video_url both absent
    val rd = sinkMap(wh, "reddit_posts", "post_url")
    assert(rd.keySet == Set("https://www.reddit.com/r/a/1", "https://www.reddit.com/r/a/2", "https://www.reddit.com/r/b/3")) // P8 URL concat
    assert(rd("https://www.reddit.com/r/a/1").getAs[String]("full_review") == null) // '' -> null
    assert(rd("https://www.reddit.com/r/a/1").getAs[String]("image_url") == "https://r/1.png") // P8 nested preview
    assert(rd("https://www.reddit.com/r/a/1").getAs[Timestamp]("review_date") == Timestamp.valueOf("2024-05-01 08:00:00")) // P8 epoch
    val fb = sinkMap(wh, "facebook_posts", "post_id")
    assert(fb("f2").getAs[String]("author_name") == "Acme2") // P9 shortname alias
    assert(fb("f2").getAs[String]("image") == "https://fb/img2") // P10 image.uri fallback
    assert(fb("f1").getAs[String]("image") == "https://fb/img1") // P10 photo_image.url
    val li = sinkMap(wh, "linkedin_posts", "urn")
    assert(li.keySet == Set("urn:1:full", "urn:2")) // full_urn | urn
    assert(li("urn:1:full").getAs[String]("author_name") == "A B") // P11 concat_ws
    assert(li("urn:2").getAs[String]("author_name") == "Solo") // null-skipping
    assert(li("urn:2").getAs[Int]("like_count") == 0) // stats default 0
    assert(li("urn:1:full").getAs[Long]("posted_at_ts") == 1744756127743L)
    val tp = sinkMap(wh, "trustpilot_reviews", "author_name")
    assert(tp("Ann").getAs[Int]("rating") == 4) // P4 split(alt)[1]
    assert(tp("Ann").getAs[java.sql.Date]("review_date") == java.sql.Date.valueOf("2025-01-23")) // P5
    assert(tp("Cyn").isNullAt(tp("Cyn").fieldIndex("rating"))) // unparseable alt -> null
    assert(tp("Cyn").isNullAt(tp("Cyn").fieldIndex("review_date"))) // bad date -> null
    val fe = sinkMap(wh, "feefo_reviews", "customer_name")
    assert(fe("Dee").getAs[java.sql.Date]("review_date") == java.sql.Date.valueOf("2025-03-15")) // P6

    // full re-run: watermarks advanced, nothing eligible, all counts 0
    val again = IngestJob.runAll(spark, users, wh, fixturesDir, Catchup(), now)
    assert(again.values.map(_.inserted).sum == 0)
  }

  test("trustpilot general mode caps page range at 3 (L3)") {
    val (wh, users) = fresh()
    // make Acme trustpilot-stale instead of never-fetched
    Watermarks.advance(spark, users, "trustpilot", Set(1), wm2020)
    val spec = Pipelines.specs(fixturesDir).find(_.platform == "trustpilot").get
    val res = IngestJob.run(spark, users, wh, spec, General(40), now)
    assert(res.inserted == 2) // pages 1-2 only; page 4 excluded by the cap
    val authors = spark.read.parquet(s"$wh/trustpilot_reviews")
      .select("author_name").collect().map(_.getString(0)).toSet
    assert(authors == Set("Ann", "Bob"))
  }

  // Job budgets for one general-tick micro-batch that inserts a row and
  // advances a watermark: 1 control-table job, the rewrite (eligibility
  // reads the driver-resident snapshot, which the setup's last write left
  // fresh, so no footer inference and no collect); the rest is the data
  // plane: the batch's query stages and checkpoint, the sink's count and
  // write; a prunable sink adds the touched-partition lookup.
  test("job budget: general tick on a prunable sink") {
    val (wh, users) = fresh()
    Watermarks.advance(spark, users, "trustpilot", Set(1), wm2020)
    val spec = Pipelines.specs(fixturesDir).find(_.platform == "trustpilot").get
    // seed the sink with one of the two rows the tick will re-deliver
    val c = Company(1, "Acme", Some("acme.com"))
    val raw = spec.connector.fetch(spark, c,
      FetchParams(Some(wm2020), Some(now), Some(spec.generalLimit)))
    val seed = spec.normalize(raw, lit(c.name), lit(c.handle.orNull), lit(now))
      .filter(col("author_name") === "Ann")
    DedupSink.append(spark, s"$wh/trustpilot_reviews", seed,
      Schemas.sinks("trustpilot_reviews")._2, spec.tiebreak.map(col),
      partitionBy = Seq("company_name"))
    val (res, jobs) = ListenerBus.jobsDuring(spark.sparkContext) {
      IngestJob.run(spark, users, wh, spec, General(40), now)
    }
    assert(res.perCompany == Map("Acme" -> 1L)) // Bob; Ann is a duplicate
    assert(jobs <= 9, s"$jobs jobs for one prunable general-tick op")
  }

  test("job budget: general tick on a global-key sink") {
    val (wh, users) = fresh()
    IngestJob.run(spark, users, wh, twitterSpec, Catchup(), now)
    val (res, jobs) = ListenerBus.jobsDuring(spark.sparkContext) {
      IngestJob.run(spark, users, wh, twitterSpec, General(40), now)
    }
    assert(res.perCompany == Map("Beta" -> 1L))
    assert(jobs <= 8, s"$jobs jobs for one global-key general-tick op")
  }
}
