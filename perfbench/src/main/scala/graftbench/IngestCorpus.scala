package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.{Locale, SplittableRandom}

import org.apache.spark.sql.{Row, SparkSession}
import graft.schema.Schemas

/** Seeded multi-tenant source corpus for the `ingest_ticks` workload.
  *
  * The generator plays the ten sources: before every tick it rewrites each
  * tenant's payload file with what that source would return at the tick's
  * clock, in the platform's raw shape (the shapes the fixture connectors
  * read, see `graft.schema.Schemas`). A delivery holds
  *  - a fresh slice: records newer than the previous tick (in the catch-up
  *    tick, the tenant's back-catalogue);
  *  - re-served records the source returns again: listing pages 1-3
  *    (trustpilot, feefo), top-N listings (instagram, google_maps, reddit),
  *    overlapping windows (the full history of the windowed sources, a
  *    tweet both twitter actors return, a post listed twice);
  *  - on the guarded platforms (F3 twitter createdAt, F4 twitter2 id/text,
  *    twitter3 id, F5/F8 instagram, F6 facebook, F7 linkedin), one
  *    malformed row per delivery that has fresh rows: about 1 in 100 rows
  *    at catch-up, 1 for every 2 fresh rows at a general tick. The last
  *    tenant lacks one handle, which F10 must skip.
  *
  * Sizes follow a probe of the program on 4 cores (30 tenants x 10
  * platforms): its cold catch-up tick fetched 41,956 rows, about 1,400
  * per tenant or 140 per (tenant, platform), and each steady tick
  * inserted about 20 new rows in all. Here a tenant's back-catalogue is
  * 140 records per platform wherever the platform's catch-up cap leaves
  * room, and just under the cap where it does not (`CatchupRecords`): a
  * catch-up delivers about 1,330 rows per tenant. A general tick brings
  * 2 fresh records on every platform, for one tenant drawn per (tick,
  * platform): about 20 new rows per tick, as in the probe.
  *
  * The seed picks timestamps, ids, the missing handle and which tenant
  * gets fresh rows at each (tick, platform); row counts do not depend on
  * it, so the amount of work hardly varies between seeds.
  *
  * The ledger replays the engine's documented contract (staleness gate,
  * per-tenant since/until window, caps, guards, conflict keys, watermark
  * advance iff inserted > 0) over the same records, so it states per
  * (tick, platform) how many new keys the pipeline must insert, without
  * calling the pipeline. Caps never cut a fresh row: every delivery stays
  * inside its platform's limit, which `deliver` asserts.
  */
final class IngestCorpus(val root: String, seed: Long, val tenants: Int) {
  import IngestCorpus._

  val fixturesDir: String = s"$root/fixtures"
  val usersPath: String = s"$root/users"
  val warehouse: String = s"$root/warehouse"

  private val rnd = new SplittableRandom(seed)
  private var serial = 0L
  private def next(): Long = { serial += 1; serial }

  /** Tick clock: catch-up at t0, general tick i at t0 + i hours. */
  def clock(tick: Int): Timestamp = new Timestamp(T0 + tick * HourMs)

  // ---- tenants (the `users` control table) ----

  final case class Tenant(id: Int, name: String, handles: Map[String, String])

  val tenantRows: Seq[Tenant] = (1 to tenants).map { i =>
    val all = Map(
      "company_web_address" -> s"co$i-s$seed.example.com",
      "instagram_username" -> s"ig_co$i",
      "twitter_username" -> s"tw_co$i",
      "feefo_business_info" -> s"feefo-co$i",
      "place_url" -> s"https://maps.google.com/?cid=${seed % 1000}$i",
      "facebook_username" -> s"fb.co$i",
      "linkedin_username" -> s"li-co$i")
    // the last tenant lacks one handle (F10 skips that platform for it)
    val dropped = if (i == tenants) Some(NullableHandles(rnd.nextInt(NullableHandles.size))) else None
    Tenant(i, s"tenant-$seed-$i", all -- dropped)
  }

  def writeUsers(spark: SparkSession): Unit = {
    val cols = Schemas.users.fieldNames.toSeq
    val rows = tenantRows.map { t =>
      Row.fromSeq(cols.map {
        case "id" => t.id
        case "company_name" => t.name
        case c if c.startsWith("last_fetched_") => null
        case c => t.handles.getOrElse(c, null)
      })
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), Schemas.users)
      .write.mode("overwrite").parquet(usersPath)
  }

  // ---- per (tenant, platform) source state ----

  /** One raw payload line; `items` are the records it expands to after
    * the platform's explode (one for most platforms). */
  private final case class Raw(json: String, items: Seq[Item], et: Option[Long], page: Int = 0)
  /** key = the sink conflict key as the normalizer derives it; ok = false
    * marks a row a guard must drop. */
  private final case class Item(key: String, ok: Boolean)

  private val history = scala.collection.mutable.Map.empty[(Int, String), Vector[Raw]]
  /** The raw rows `deliver` last wrote for (tenant, platform). */
  private val lastFile = scala.collection.mutable.Map.empty[(Int, String), Seq[Raw]]
  private val wm = scala.collection.mutable.Map.empty[(Int, String), Long]
  private val sinkKeys = scala.collection.mutable.Map.empty[String, Set[String]]
  private val ledger = Vector.newBuilder[Ledger]
  private var lastTwitter = Map.empty[Int, Vector[Raw]]

  private def handleOf(t: Tenant, platform: String): Option[String] =
    t.handles.get(HandleCol(platform))

  /** Fresh records per tenant on platform `p`: the back-catalogue at
    * catch-up; at a general tick `GeneralRecords` for one tenant drawn per
    * (tick, platform), none for the rest. Every general op therefore
    * inserts a little and re-reads much more (read-dominated). */
  private def freshCounts(tick: Int, p: String): Seq[Int] =
    if (tick == 0) tenantRows.map(_ => CatchupRecords(p))
    else {
      val busy = rnd.nextInt(tenants)
      tenantRows.indices.map(i => if (i == busy) GeneralRecords else 0)
    }

  private def freshTimes(tick: Int, n: Int): Seq[Long] = {
    val (lo, hi) =
      if (tick == 0) (T0 - 20 * DayMs, T0 - HourMs)
      else (T0 + (tick - 1) * HourMs, T0 + tick * HourMs - 1000)
    // whole seconds: every source format here carries second precision
    Seq.fill(n)((lo + (rnd.nextDouble() * (hi - lo)).toLong) / 1000 * 1000).sorted
  }

  /** Write every tenant's payload files for `tick` and extend the ledger. */
  def deliver(tick: Int): Unit = {
    val now = T0 + tick * HourMs
    for (p <- Schemas.platforms; (t, n) <- tenantRows.zip(freshCounts(tick, p))) {
      val h = handleOf(t, p)
      val fresh = freshTimes(tick, n).map(et => record(p, t, et))
      val bad = Seq.fill(if (GuardedPlatforms(p) && fresh.nonEmpty) 1 else 0)(badRecord(p, t, now))
      val (file, hist) = compose(p, t, fresh, bad)
      history((t.id, p)) = hist
      lastFile((t.id, p)) = file.valuesIterator.flatten.toSeq
      if (p == "twitter") lastTwitter += t.id -> fresh.toVector
      h.foreach(handle => writeFiles(p, handle, file))
    }
    simulate(tick, now)
  }

  private def compose(p: String, t: Tenant, fresh: Seq[Raw], bad: Seq[Raw]): (Map[String, Seq[Raw]], Vector[Raw]) = {
    val old = history.getOrElse((t.id, p), Vector.empty)
    p match {
      case "trustpilot" | "feefo" =>
        // newest first, five reviews a page: the fresh ones land on page 1
        // and push re-served ones down; a general tick reads pages 1-3
        val all = (fresh.reverse ++ old).zipWithIndex.map { case (r, i) => r.copy(page = i / 5 + 1) }
        val hist = all.toVector
        (Map("" -> all.map(r => r.copy(json = withPage(r.json, r.page)))), hist)
      case "instagram" | "google_maps" =>
        // a top-N listing: the newest entries come back every time
        val hist = (old ++ fresh).takeRight(Listing(p))
        (Map("" -> (hist ++ bad)), hist)
      case "reddit" =>
        // two listings (url search, mention search) of 25 posts a page;
        // the mention listing repeats fresh posts the url listing holds
        val posts = (old ++ fresh).takeRight(Listing(p))
        val mention = fresh ++ old.takeRight(2)
        (Map("_url" -> redditPages(posts), "_mention" -> redditPages(mention)), posts)
      case _ =>
        // windowed sources return their history (outside the window after
        // the first advance) plus the fresh slice with its first row listed
        // twice, and twitter2 re-serves the newest tweet the twitter actor
        // also found
        val dup = fresh.headOption.toSeq
        val cross =
          if (p == "twitter2") lastTwitter.getOrElse(t.id, Vector.empty).takeRight(1).map(asTwitter2)
          else Nil
        (Map("" -> (old ++ fresh ++ dup ++ cross ++ bad)), old ++ fresh)
    }
  }

  private def writeFiles(p: String, handle: String, file: Map[String, Seq[Raw]]): Unit =
    file.foreach { case (sfx, raws) =>
      val f = Paths.get(fixturesDir, p, s"${sanitize(handle)}$sfx.json")
      Files.createDirectories(f.getParent)
      Files.write(f, raws.map(_.json).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }

  // ---- the ledger: the engine's contract replayed over the deliveries ----

  private def simulate(tick: Int, now: Long): Unit = {
    for (p <- Schemas.platforms) {
      var fresh, reserved, bad, filtered, raws = 0L
      val perTenant = Map.newBuilder[String, Long]
      for (t <- tenantRows; h <- handleOf(t, p)) {
        val file = lastFile.getOrElse((t.id, p), Nil)
        raws += file.map(_.items.size.toLong).sum
        // eligible tenants fetch from their watermark (catch-up: from the
        // look-back) to now; others are not fetched this tick
        val since = wm.get((t.id, p)) match {
          case None if tick == 0 => Some(now - LookbackDays(p) * DayMs)
          case Some(w) if tick > 0 && w < now - StalenessMs => Some(w)
          case _ => None
        }
        since match {
          case None => filtered += file.map(_.items.size).sum
          case Some(lo) =>
            val cap = if (tick == 0) CatchupLimit(p) else GeneralLimit(p)
            val inWindow = file.filter { r =>
              r.et.forall(e => e >= lo && e < now) && (!PagedPlatforms(p) || r.page <= cap)
            }
            require(PagedPlatforms(p) || inWindow.size <= cap,
              s"$p delivery of ${inWindow.size} rows exceeds its cap $cap")
            filtered += file.map(_.items.size).sum - inWindow.map(_.items.size).sum
            val items = inWindow.flatMap(_.items)
            val good = items.filter(_.ok)
            bad += items.size - good.size
            val sink = SinkOf(p)
            val known = sinkKeys.getOrElse(sink, Set.empty)
            val newKeys = good.map(_.key).distinct.filterNot(known)
            reserved += good.size - newKeys.size
            fresh += newKeys.size
            sinkKeys(sink) = known ++ newKeys
            if (newKeys.nonEmpty) { wm((t.id, p)) = now; perTenant += t.name -> newKeys.size.toLong }
        }
      }
      ledger += Ledger(tick, p, fresh, reserved, bad, filtered, raws, perTenant.result())
    }
  }

  def ledgerRows: Vector[Ledger] = ledger.result()

  /** Expected watermark per (tenant name, platform) after the last tick. */
  def watermarks: Map[(String, String), Long] =
    wm.iterator.map { case ((id, p), w) => (tenantRows(id - 1).name, p) -> w }.toMap

  // ---- payload shapes ----

  private def iso(ms: Long): String = Instant.ofEpochMilli(ms).toString
  private def q(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def record(p: String, t: Tenant, et: Long): Raw = {
    val n = next()
    val tag = s"$seed-${t.id}-$n"
    p match {
      case "twitter" =>
        val id = s"tw-$tag"
        Raw(s"""{"id":${q(id)},"url":"https://x.com/s/$tag","text":"mention $n of ${t.name}","createdAt":${q(TwitterFmt.format(Instant.ofEpochMilli(et)))},"retweetCount":${n % 7},"replyCount":${n % 3},"likeCount":${n % 11},"viewCount":${n * 3},"author":{"name":"user$n"},"media":[{"expanded_url":"https://img/$tag.jpg"}],"extendedEntities":{"media":[{"type":"video","videoInfo":{"variants":[{"url":"https://vid/$tag.mp4"}]}}]}}""",
          Seq(Item(id, ok = true)), Some(et))
      case "twitter2" =>
        val id = s"t2-$tag"
        Raw(s"""{"id":${q(id)},"url":"https://x.com/t/$tag","text":"timeline $n","createdAt":${q(iso(et))},"replyCount":${n % 4},"author":{"name":"user$n"}}""",
          Seq(Item(id, ok = true)), Some(et))
      case "twitter3" =>
        val id = 3000000000000L + seed % 1000 * 1000000000L + n
        Raw(s"""{"id":$id,"content":"sn post $n","date":${q(iso(et))},"url":"https://x.com/u/$tag","user":{"username":"user$n"},"replyCount":${n % 2},"likeCount":${n % 5}}""",
          Seq(Item(id.toString, ok = true)), Some(et))
      case "instagram" =>
        // an entry of two posts, listed in both topPosts and latestPosts
        // one time in four (a within-delivery duplicate)
        val a = s"ig-$tag-a"; val b = s"ig-$tag-b"
        val pa = s"""{"id":${q(a)},"caption":"post $n","ownerUsername":"u$n","timestamp":${q(iso(et))},"likesCount":${n % 9},"commentsCount":${n % 2}}"""
        val pb = s"""{"shortCode":${q(b)},"description":"reel $n","username":"v$n","publishedAt":${q(iso(et))},"like_count":${n % 4}}"""
        if (n % 4 == 0)
          Raw(s"""{"topPosts":[$pa,$pb],"latestPosts":[$pb]}""", Seq(Item(a, true), Item(b, true), Item(b, true)), None)
        else if (n % 4 == 1)
          Raw(s"""{"items":[$pa,$pb]}""", Seq(Item(a, true), Item(b, true)), None)
        else Raw(s"""{"topPosts":[$pa],"latestPosts":[$pb]}""", Seq(Item(a, true), Item(b, true)), None)
      case "trustpilot" =>
        val author = s"author-$tag"; val date = TrustpilotFmt.format(Instant.ofEpochMilli(et))
        val title = s"review $n"
        Raw(s"""{"author_name":${q(author)},"rating_alt":"Rated ${1 + n % 5} out of 5 stars","review_title":${q(title)},"review_body":"body $n","review_date_str":${q(date)}""",
          Seq(Item(s"${t.name}|$author|$title|$date", ok = true)), None)
      case "feefo" =>
        val cust = s"cust-$tag"; val date = FeefoFmt.format(Instant.ofEpochMilli(et))
        Raw(s"""{"customer_name":${q(cust)},"purchase_date_str":"Date of purchase: $date","service_review":"svc $n","product_review":"prod $n","customer_location":"UK"""",
          Seq(Item(s"${t.name}|$cust|svc $n|$date", ok = true)), None)
      case "google_maps" =>
        val url = s"https://g/$tag"
        Raw(s"""{"name":"rev$n","stars":${1 + n % 5}.0,"text":"review $n","reviewDate":${q(iso(et))},"reviewUrl":${q(url)}}""",
          Seq(Item(s"rev$n|$url", ok = true)), None)
      case "reddit" =>
        val link = s"/r/s/$tag"; val secs = et / 1000
        Raw(s"""{"data":{"permalink":${q(link)},"title":"thread $n","author":"r$n","score":${n % 13},"num_comments":${n % 5},"created_utc":$secs.0,"selftext":"text $n"}}""",
          Seq(Item(s"$link|$secs", ok = true)), None)
      case "facebook" =>
        val id = s"fb-$tag"
        val idField = if (n % 2 == 0) "postFacebookId" else "postId"
        Raw(s"""{"$idField":${q(id)},"text":"post $n","time":${q(iso(et))},"likes":${n % 8},"comments":${n % 3},"shares":${n % 2},"url":"https://fb/$tag","textReferences":[{"short_name":"ref$n"}],"media":[{"photo_image":{"url":"https://fb/img/$tag"}}]}""",
          Seq(Item(id, ok = true)), Some(et))
      case "linkedin" =>
        val urn = s"urn:li:$tag"
        val date = LinkedinFmt.format(Instant.ofEpochMilli(et))
        Raw(s"""{"urn":${q(urn)},"text":"update $n","url":"https://li/$tag","posted_at":{"date":${q(date)},"timestamp":$et},"author":{"first_name":"F$n","last_name":"L$n","username":"p$n","headline":"h"},"stats":{"total_reactions":${n % 6},"like":${n % 4},"comments":${n % 2}},"post_type":"regular"}""",
          Seq(Item(urn, ok = true)), Some(et))
    }
  }

  /** A row the platform's guard must drop. */
  private def badRecord(p: String, t: Tenant, now: Long): Raw = {
    val n = next()
    val tag = s"$seed-${t.id}-$n"
    val et = Some(now - 1000L)
    p match {
      case "twitter" => // F3: no createdAt (passes the window, dropped after)
        Raw(s"""{"id":"tw-bad-$tag","url":"https://x.com/s/$tag","text":"no date","author":{"name":"x"}}""", Seq(Item("", false)), None)
      case "twitter2" => // F4: no id
        Raw(s"""{"url":"https://x.com/t/$tag","text":"no id","createdAt":${q(iso(now - 1000))}}""", Seq(Item("", false)), et)
      case "twitter3" =>
        Raw(s"""{"id":null,"content":"no id","date":${q(iso(now - 1000))},"url":"https://x.com/u/$tag"}""", Seq(Item("", false)), et)
      case "instagram" => // F8 error marker, or F5 a post without a time
        if (n % 2 == 0) Raw("""{"error":"rate limited"}""", Seq(Item("", false)), None)
        else Raw(s"""{"id":"ig-bad-$tag","caption":"no time"}""", Seq(Item("", false)), None)
      case "facebook" => // F6: no time (passes the window, dropped after)
        Raw(s"""{"postFacebookId":"fb-bad-$tag","text":"no time"}""", Seq(Item("", false)), None)
      case "linkedin" => // F7: posted_at without its date
        Raw(s"""{"urn":"urn:li:bad-$tag","text":"no date","posted_at":{"timestamp":${now - 1000}}}""", Seq(Item("", false)), et)
    }
  }

  private def asTwitter2(r: Raw): Raw = {
    val id = r.items.head.key
    Raw(s"""{"id":${q(id)},"url":"https://x.com/t/$id","text":"same tweet","createdAt":${q(iso(r.et.get))},"author":{"name":"dup"}}""",
      r.items, r.et)
  }

  private def withPage(json: String, page: Int): String = s"""$json,"page_num":$page}"""

  private def redditPages(posts: Seq[Raw]): Seq[Raw] =
    posts.reverse.grouped(25).map { ps =>
      Raw(s"""{"data":{"after":"t3_x","children":[${ps.map(_.json).mkString(",")}]}}""",
        ps.flatMap(_.items), None)
    }.toSeq
}

final case class Ledger(
    tick: Int,
    platform: String,
    newKeys: Long,
    reserved: Long,
    malformed: Long,
    filtered: Long,
    delivered: Long,
    perTenant: Map[String, Long])

object IngestCorpus {
  val T0: Long = Instant.parse("2025-06-02T00:00:00Z").toEpochMilli
  val HourMs = 3600000L
  val DayMs = 86400000L
  /** `General()`'s default staleness gate. */
  val StalenessMs: Long = 40 * 60000L

  private val utc = ZoneOffset.UTC
  val TwitterFmt: DateTimeFormatter = DateTimeFormatter.ofPattern("EEE MMM dd HH:mm:ss Z yyyy", Locale.US).withZone(utc)
  val TrustpilotFmt: DateTimeFormatter = DateTimeFormatter.ofPattern("d MMMM yyyy", Locale.US).withZone(utc)
  val FeefoFmt: DateTimeFormatter = DateTimeFormatter.ofPattern("dd/MM/yyyy", Locale.US).withZone(utc)
  val LinkedinFmt: DateTimeFormatter = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss", Locale.US).withZone(utc)

  def sanitize(h: String): String = h.replaceAll("[^A-Za-z0-9._-]", "_")

  val HandleCol: Map[String, String] = Map(
    "twitter" -> "twitter_username", "twitter2" -> "twitter_username",
    "twitter3" -> "twitter_username", "instagram" -> "instagram_username",
    "trustpilot" -> "company_web_address", "feefo" -> "feefo_business_info",
    "google_maps" -> "place_url", "reddit" -> "company_web_address",
    "facebook" -> "facebook_username", "linkedin" -> "linkedin_username")
  private val NullableHandles =
    Vector("instagram_username", "feefo_business_info", "facebook_username", "linkedin_username")

  val SinkOf: Map[String, String] = Map(
    "twitter" -> "twitter_mentions", "twitter2" -> "twitter_mentions",
    "twitter3" -> "twitter_mentions", "instagram" -> "instagram_mentions",
    "trustpilot" -> "trustpilot_reviews", "feefo" -> "feefo_reviews",
    "google_maps" -> "google_maps_reviews", "reddit" -> "reddit_posts",
    "facebook" -> "facebook_posts", "linkedin" -> "linkedin_posts")

  /** Back-catalogue records per tenant at catch-up: 140 (the probe's rows
    * per tenant and platform) where the catch-up cap leaves room, else
    * what fits under the cap with the duplicate, cross-listed and
    * malformed rows a delivery adds. Instagram counts entries of two or
    * three posts. */
  val CatchupRecords: Map[String, Int] = Map(
    "twitter" -> 140, "twitter2" -> 96, "twitter3" -> 97, "instagram" -> 70,
    "trustpilot" -> 140, "feefo" -> 140, "google_maps" -> 100, "reddit" -> 140,
    "facebook" -> 97, "linkedin" -> 97)
  /** Fresh records of the one busy tenant per (general tick, platform). */
  val GeneralRecords = 2
  /** Entries a top-N listing returns (instagram, google_maps) and posts
    * the reddit url search returns: at least the back-catalogue, within
    * the cap. */
  val Listing: Map[String, Int] = Map("instagram" -> 70, "google_maps" -> 100, "reddit" -> 150)

  val GuardedPlatforms = Set("twitter", "twitter2", "twitter3", "instagram", "facebook", "linkedin")
  val PagedPlatforms = Set("trustpilot", "feefo")
  // the specs' (general, catch-up) limits and look-back windows
  val GeneralLimit: Map[String, Int] = Map(
    "twitter" -> 500, "twitter2" -> 100, "twitter3" -> 100, "instagram" -> 100,
    "trustpilot" -> 3, "feefo" -> 3, "google_maps" -> 100, "reddit" -> 30,
    "facebook" -> 100, "linkedin" -> 20)
  val CatchupLimit: Map[String, Int] = GeneralLimit ++ Map(
    "trustpilot" -> 30, "feefo" -> 30, "linkedin" -> 100)
  val LookbackDays: Map[String, Long] = Map(
    "twitter" -> 90L, "twitter2" -> 90L, "twitter3" -> 120L, "instagram" -> 90L,
    "trustpilot" -> 3650L, "feefo" -> 3650L, "google_maps" -> 3650L,
    "reddit" -> 3650L, "facebook" -> 90L, "linkedin" -> 90L)
}
