package graft.analytics

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.ingest.MergeSink

/** The ONE-CALL purge orchestrator (E138): a purged document must become
  * unreachable from EVERY maintained index tier — dedup lake, curation
  * fingerprints, cluster tables, the inverted text index and the ANN
  * lake's posting tables — through a single `Purge.purgeDocuments` call,
  * and a re-delivered purge must be a VERSION-level no-op across all of
  * them (not merely content-idempotent per tier). Runs on a PRIVATE copy
  * of the sf0.001 corpus so the shared per-dir sinks of the oracle
  * queries stay pristine (the DedupLakeDeleteSpec convention).
  */
class PurgeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft_purge").toFile
    d.deleteOnExit()
    for (t <- Seq("documents", "embeddings"))
      Files.copy(Paths.get(s"/root/testdata/sf0.001/$t.parquet"),
        Paths.get(d.getAbsolutePath, s"$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    d.getAbsolutePath
  }

  test("one purge call reaches every tier; re-delivery is a version-level no-op everywhere") {
    import spark.implicits._
    // maintained deployment state: an inverted index over the corpus docs
    // and a full-trained lake ANN index (private sinks, this corpus copy)
    val idx = s"${Files.createTempDirectory("graft_purge_ii")}/sink"
    InvertedIndex.build(spark, idx,
      graft.Tables.documents(spark, dir).select("doc_id", "text"))
    val sk = AnnLake.buildFullIndex(spark, dir, "graft_purge_ann",
      AnnLake.DefaultSaltTarget)
    val handle = AnnLake.IndexHandle(sk,
      MergeSink.read(spark, sk.centroids).count(), Map.empty)
    val gh = AnnGraphLake.ensureGraphLake(spark, dir)
    // dedup tier sinks warm through their normal ensure paths
    val bandSink = DedupQueries.ensureBandSink(spark, dir)
    val shingleSink = DedupQueries.ensureShingleSink(spark, dir)

    // victims: corpus-side docs (the window tables count only those) that
    // are currently posted in the ANN members and the inverted index
    val victims = Seq(7L, 13L)
    def annMembers(): Set[Long] = MergeSink.read(spark, sk.cells)
      .select(explode(col("members")).as("id")).collect().map(_.getLong(0)).toSet
    def iiPosted(): Set[Long] = MergeSink.read(spark, idx)
      .select(explode(col("postings")).as("id")).collect().map(_.getLong(0)).toSet
    def graphVecs(): Set[Long] = MergeSink.read(spark, gh.sinks.vectors)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(victims.forall(annMembers().contains), "victims must start indexed (ANN)")
    assert(victims.forall(iiPosted().contains), "victims must start indexed (II)")
    assert(victims.forall(graphVecs().contains), "victims must start indexed (graph)")

    Purge.purgeDocuments(spark, dir, victims.toDF("doc_id"),
      annIndex = Some(handle), graphIndex = Some(gh), invertedIndex = Some(idx))

    // 1. the inverted index no longer retrieves the victims
    assert(victims.forall(v => !iiPosted().contains(v)),
      "purged docs still retrievable from the inverted index")
    // 2. the ANN posting tables no longer carry the victims' vectors
    assert(victims.forall(v => !annMembers().contains(v)),
      "purged vectors still in the ANN member postings")
    val codedIds = MergeSink.read(spark, sk.codes)
      .select(explode(col("codes")).as("c")).select(col("c.vec_id"))
      .collect().map(_.getLong(0)).toSet
    assert(victims.forall(v => !codedIds.contains(v)),
      "purged vectors still in the ANN code postings")
    // 2b. the GRAPH index: vectors gone and no adjacency array points back
    assert(victims.forall(v => !graphVecs().contains(v)),
      "purged vectors still in the graph index")
    val graphDsts = MergeSink.read(spark, gh.sinks.edges)
      .select(explode(col("dsts")).as("id")).collect().map(_.getLong(0)).toSet
    assert(victims.forall(v => !graphDsts.contains(v)),
      "surviving adjacency rows still point at purged vectors")
    // 3. the dedup tier absorbed the same batch (tombstoned + rows gone)
    assert(MergeSink.read(spark, DedupQueries.ensureTombSink(spark, dir))
      .collect().map(_.getLong(0)).toSet == victims.toSet)
    assert(MergeSink.read(spark, shingleSink)
      .filter(col("doc_id").isin(victims: _*)).count() == 0)
    val postedBands = MergeSink.read(spark, bandSink)
      .select(explode(col("doc_ids")).as("id")).collect().map(_.getLong(0)).toSet
    assert(victims.forall(v => !postedBands.contains(v)))

    // 4. re-delivery: the tombstone filter short-circuits BEFORE any tier
    // is touched — every sink's commit version must be exactly unchanged
    val watched = Seq(idx, sk.cells, sk.codes, sk.centroids,
      gh.sinks.edges, gh.sinks.redges, gh.sinks.members, gh.sinks.medoids,
      gh.sinks.vectors, bandSink,
      shingleSink, DedupQueries.ensureSpanSink(spark, dir),
      DedupQueries.ensureSubstrSink(spark, dir),
      CurateQueries.ensureFpSink(spark, dir))
    def versions(): Seq[Option[Long]] = watched.map(MergeSink.currentVersion)
    val v1 = versions()
    Purge.purgeDocuments(spark, dir, victims.toDF("doc_id"),
      annIndex = Some(handle), graphIndex = Some(gh), invertedIndex = Some(idx))
    assert(versions() == v1,
      "a re-delivered purge committed to some tier (should be a version-level no-op)")

    // 5. a MIXED batch (one already purged, one new) purges only the new id
    val extra = 19L
    Purge.purgeDocuments(spark, dir, Seq(victims.head, extra).toDF("doc_id"),
      annIndex = Some(handle), graphIndex = Some(gh), invertedIndex = Some(idx))
    assert(!annMembers().contains(extra) && !iiPosted().contains(extra)
      && !graphVecs().contains(extra))
    assert(MergeSink.read(spark, DedupQueries.ensureTombSink(spark, dir))
      .collect().map(_.getLong(0)).toSet == victims.toSet + extra)
  }

  test("purge reaches the DATA plane: doc store, fact sinks, SCD2 history — and re-delivery is version-equal there too (r13 gap #2)") {
    import spark.implicits._
    // a private corpus copy: this purge writes its own tombstones
    val d = Files.createTempDirectory("graft_purge_facts").toFile
    d.deleteOnExit()
    for (t <- Seq("documents", "embeddings"))
      Files.copy(Paths.get(s"/root/testdata/sf0.001/$t.parquet"),
        Paths.get(d.getAbsolutePath, s"$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    val fdir = d.getAbsolutePath
    val base = Files.createTempDirectory("graft_purge_fact_sinks").toString
    // the deployment's data plane: a doc store keyed by doc_id, two
    // platform fact sinks keyed by their OWN id columns, and an SCD2
    // history holding MULTIPLE versions per entity
    val docStore = s"$base/docs"
    MergeSink.merge(spark,  docStore,
      graft.Tables.documents(spark, fdir).select("doc_id", "text"),
      Seq("doc_id"), Seq(col("doc_id")), targetFileRows = 64)
    val factA = s"$base/fact_twitter"
    MergeSink.merge(spark, factA,
      graft.Tables.documents(spark, fdir)
        .select(col("doc_id").as("post_id"), col("lang")),
      Seq("post_id"), Seq(col("post_id")), targetFileRows = 64)
    val factB = s"$base/fact_reviews"
    MergeSink.merge(spark, factB,
      graft.Tables.documents(spark, fdir)
        .select(col("doc_id").as("review_id"), col("n_chars")),
      Seq("review_id"), Seq(col("review_id")), targetFileRows = 64)
    val scd2 = s"$base/scd2"
    MergeSink.merge(spark,
      scd2,
      graft.Tables.documents(spark, fdir).select(col("doc_id").as("entity_id"))
        .crossJoin(Seq(1, 2).toDF("ver")),
      Seq("entity_id", "ver"), Seq(col("entity_id")), targetFileRows = 64)

    val victims = Seq(3L, 11L)
    Purge.purgeDocuments(spark, fdir, victims.toDF("doc_id"),
      docStore = Some(docStore),
      factSinks = Seq(factA -> "post_id", factB -> "review_id"),
      scd2History = Some((scd2, "entity_id", Seq("entity_id", "ver"))))

    def ids(path: String, c: String): Set[Long] = MergeSink.read(spark, path)
      .select(col(c)).collect().map(_.getLong(0)).toSet
    assert(victims.forall(v => !ids(docStore, "doc_id").contains(v)),
      "purged docs still in the doc store")
    assert(victims.forall(v => !ids(factA, "post_id").contains(v)),
      "purged docs still in fact sink A")
    assert(victims.forall(v => !ids(factB, "review_id").contains(v)),
      "purged docs still in fact sink B")
    assert(victims.forall(v => !ids(scd2, "entity_id").contains(v)),
      "purged entities still have SCD2 history rows (ALL versions must go)")
    // survivors keep all their rows (both SCD2 versions)
    assert(MergeSink.read(spark, scd2)
      .filter(col("entity_id") === 0L).count() == 2)

    // re-delivery: version-equal across the DATA plane too (the tombstone
    // filter short-circuits before any fact delete)
    val watched = Seq(docStore, factA, factB, scd2)
    val v1 = watched.map(MergeSink.currentVersion)
    Purge.purgeDocuments(spark, fdir, victims.toDF("doc_id"),
      docStore = Some(docStore),
      factSinks = Seq(factA -> "post_id", factB -> "review_id"),
      scd2History = Some((scd2, "entity_id", Seq("entity_id", "ver"))))
    assert(watched.map(MergeSink.currentVersion) == v1,
      "a re-delivered purge committed to the data plane")
  }

  test("SCD2 victim-key derivation is file-pruned: exact keys from a strict subset of table files (r14 ask #6)") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_scd2_prune").toString
    val scd2 = s"$base/scd2"
    // 500 entities with DENSE versions 1..(1 + entity%4) — the SCD2
    // maintenance invariant — written small so the table has many files
    // and the prune is observable
    val rows = (0L until 500L).flatMap(e => (1 to (1 + (e % 4)).toInt).map(v => (e, v)))
    MergeSink.merge(spark, scd2, rows.toDF("entity_id", "ver"),
      Seq("entity_id", "ver"), Seq(col("entity_id")), targetFileRows = 32)
    val tableFiles = MergeSink.read(spark, scd2).inputFiles.toSet
    assert(tableFiles.size >= 20,
      s"need many files for the prune to matter, got ${tableFiles.size}")
    val victims = Seq(7L, 400L) // version counts 4 and 1
    val (keys, touched) = Purge.scd2VictimKeys(spark, scd2,
      victims.toDF("entity_id"), "entity_id", Seq("entity_id", "ver"))
    val got = keys.collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val want = victims.flatMap(e => (1 to (1 + (e % 4)).toInt).map(v => (e, v))).toSet
    assert(got == want, s"derived keys wrong: got $got want $want")
    // the r14 verdict's pin: the derivation reads a strict SUBSET of the
    // table's files — O(touched), never the O(table) scan it replaced
    assert(touched.subsetOf(tableFiles), "probe read files outside the table")
    assert(touched.size < tableFiles.size / 2,
      s"probe touched ${touched.size} of ${tableFiles.size} files — not pruned")
    // an entity absent from the table derives no keys and stops in round 1
    val (none, _) = Purge.scd2VictimKeys(spark, scd2,
      Seq(99999L).toDF("entity_id"), "entity_id", Seq("entity_id", "ver"))
    assert(none.isEmpty)
    // the cheap-to-violate half of the density contract fails LOUDLY: a
    // 0-based table would silently retain its version-0 rows on a
    // privacy-delete path (r15 review)
    val zeroed = s"$base/scd2_zero"
    MergeSink.merge(spark, zeroed,
      Seq((7L, 0), (7L, 1)).toDF("entity_id", "ver"),
      Seq("entity_id", "ver"), Seq(col("entity_id")))
    val e = intercept[IllegalArgumentException] {
      Purge.scd2VictimKeys(spark, zeroed,
        Seq(7L).toDF("entity_id"), "entity_id", Seq("entity_id", "ver"))
    }
    assert(e.getMessage.contains("version-0"))
  }

  test("SCD2 compliance verification catches a version gap ABOVE the dense prefix (r16, r15 advice)") {
    import spark.implicits._
    // a producer that skipped version 3 after a failed batch: the
    // geometric probe stops at the [2,3] window (top miss) and derives
    // only versions 1..2 — versions 4..5 would silently survive the
    // delete. The opt-in verify scan converts that silent under-deletion
    // into a loud failure; the default path stays silent BY CONTRACT
    // (documented), which this test also pins so the trade is visible.
    val d = Files.createTempDirectory("graft_purge_verify").toFile
    d.deleteOnExit()
    for (t <- Seq("documents", "embeddings"))
      Files.copy(Paths.get(s"/root/testdata/sf0.001/$t.parquet"),
        Paths.get(d.getAbsolutePath, s"$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    val fdir = d.getAbsolutePath
    val base = Files.createTempDirectory("graft_purge_verify_sinks").toString
    val gapped = s"$base/scd2_gapped"
    MergeSink.merge(spark, gapped,
      (Seq(1, 2, 4, 5).map(v => (3L, v)) ++ Seq(1, 2).map(v => (8L, v)))
        .toDF("entity_id", "ver"),
      Seq("entity_id", "ver"), Seq(col("entity_id")), targetFileRows = 4)
    val ex = intercept[IllegalArgumentException] {
      Purge.purgeDocuments(spark, fdir, Seq(3L).toDF("doc_id"),
        scd2History = Some((gapped, "entity_id", Seq("entity_id", "ver"))),
        verifyScd2 = true)
    }
    assert(ex.getMessage.contains("verification failed"))
    // the probe-derived prefix really was deleted, the gap's tail really
    // did survive — exactly the leak the verify mode exists to name
    val left = MergeSink.read(spark, gapped)
      .filter(col("entity_id") === 3L)
      .select("ver").collect().map(_.getInt(0)).toSet
    assert(left == Set(4, 5), s"expected the above-gap tail to survive, got $left")
    // a dense table verifies clean end-to-end (fresh corpus dir: the
    // failed purge above never tombstoned, but ids must not collide)
    val dense = s"$base/scd2_dense"
    MergeSink.merge(spark, dense,
      Seq(1, 2, 3).map(v => (8L, v)).toDF("entity_id", "ver"),
      Seq("entity_id", "ver"), Seq(col("entity_id")), targetFileRows = 4)
    Purge.purgeDocuments(spark, fdir, Seq(8L).toDF("doc_id"),
      scd2History = Some((dense, "entity_id", Seq("entity_id", "ver"))),
      verifyScd2 = true)
    assert(MergeSink.read(spark, dense).filter(col("entity_id") === 8L).isEmpty)
  }

  test("purge prunes the media fingerprint sink — through the doc→media mapping, twins included (r16, E159)") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_purge_media").toFile
    d.deleteOnExit()
    for (t <- Seq("documents", "embeddings"))
      Files.copy(Paths.get(s"/root/testdata/sf0.001/$t.parquet"),
        Paths.get(d.getAbsolutePath, s"$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    val fdir = d.getAbsolutePath
    val sink = MultimodalQueries.ensureMediaFpSink(spark, fdir)
    def fpIds(): Set[Long] = MergeSink.read(spark, sink)
      .select("media_id").collect().map(_.getLong(0)).toSet
    val before = fpIds()
    // doc 1 is an audio doc WITH a cross-container twin (m = 0 ≡ 0 mod 5
    // → media 1 and 1000001); doc 6 is an image doc (media 6)
    assert(Set(1L, 1000001L, 6L).subsetOf(before), "fixture shape drifted")
    val mapping = Seq((1L, 1L), (1L, 1000001L), (6L, 6L)).toDF("doc_id", "media_id")
    Purge.purgeDocuments(spark, fdir, Seq(1L, 6L).toDF("doc_id"),
      mediaFpSink = Some(sink), mediaIds = Some(mapping))
    val after = fpIds()
    assert(after == before -- Set(1L, 1000001L, 6L),
      "media fingerprint rows not pruned exactly (twins must go with their doc)")
    // re-delivery: tombstone-gated — no new version on the fp sink either
    val v1 = MergeSink.currentVersion(sink)
    Purge.purgeDocuments(spark, fdir, Seq(1L, 6L).toDF("doc_id"),
      mediaFpSink = Some(sink), mediaIds = Some(mapping))
    assert(MergeSink.currentVersion(sink) == v1,
      "a re-delivered purge committed to the media fingerprint sink")
  }

  test("vacuumed tombstone/intent tables still block re-delivered purges (r13 ask #7)") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_purge_vac").toFile
    d.deleteOnExit()
    for (t <- Seq("documents", "embeddings"))
      Files.copy(Paths.get(s"/root/testdata/sf0.001/$t.parquet"),
        Paths.get(d.getAbsolutePath, s"$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    val vdir = d.getAbsolutePath
    val gh = AnnGraphLake.ensureGraphLake(spark, vdir)
    // two purges → ≥2 tombstone versions (and intent versions: each delete
    // commits then clears its intent rows)
    Purge.purgeDocuments(spark, vdir, Seq(3L).toDF("doc_id"), graphIndex = Some(gh))
    Purge.purgeDocuments(spark, vdir, Seq(5L).toDF("doc_id"), graphIndex = Some(gh))
    val tomb = DedupQueries.ensureTombSink(spark, vdir)
    def manifests(p: String): Int =
      Option(new java.io.File(p, "_manifest").listFiles()).toSeq.flatten
        .count(f => f.isFile && f.getName.matches("v\\d+\\.tsv"))
    assert(manifests(tomb) >= 2, "need version history for a non-vacuous vacuum")
    val reclaimed = Purge.vacuumProtocolTables(spark, vdir,
      graphIndex = Some(gh), keepVersions = 1)
    assert(manifests(tomb) == 1,
      "vacuum must drop the superseded tombstone manifests")
    assert(reclaimed >= 0L)
    // the CONTENT contract survives the GC: both purged ids still block,
    // so re-delivery is a version-level no-op everywhere
    val watched = Seq(tomb, gh.sinks.vectors, gh.sinks.edges, gh.sinks.medoids)
    val v1 = watched.map(MergeSink.currentVersion)
    Purge.purgeDocuments(spark, vdir, Seq(3L, 5L).toDF("doc_id"),
      graphIndex = Some(gh))
    assert(watched.map(MergeSink.currentVersion) == v1,
      "a re-delivered purge committed after vacuum — tombstone rows lost")
    // and a THIRD purge of a fresh id still flows normally
    Purge.purgeDocuments(spark, vdir, Seq(7L).toDF("doc_id"), graphIndex = Some(gh))
    assert(MergeSink.read(spark, tomb).collect().map(_.getLong(0)).toSet
      == Set(3L, 5L, 7L))
  }
}
