package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.Vec
import graft.ingest.MergeSink

/** The LAKE-PERSISTED graph ANN index (E137's 100-TB read path): the
  * in-plan `ann_graph_beam` walk scans the embeddings parquet once per
  * scoring round — correct, but a corpus-sized read per hop. This tier
  * stores the graph artifacts as MergeSink tables and fetches each
  * round's working set by MANIFEST-PRUNED key reads instead:
  *
  *  - `centroids` — the trained IVF cells (cell, ce), probe routing;
  *  - `medoids`   — per-cell entry points (cell, entries[]): the cell's
  *    top-GraphEntries members by dot against the trained centroid (r14
  *    multi-entry seeds), one array row per cell;
  *  - `edges`     — adjacency POSTINGS (src, dsts[]): one row per vector,
  *    its top-GraphM within-cell neighbors, range-clustered on src;
  *  - `vectors`   — (vec_id, e, nrm), the exact-scoring payload,
  *    range-clustered on vec_id.
  *
  * The walk's reads then cost O(candidates) FILES per round — beam ids
  * fetch their adjacency rows, unseen ids fetch their vectors, both
  * through `readOverlapping`'s digest-interval prune — so with the
  * candidate-volume law (≤ GraphEntries·nprobe + rounds·ef·M scored per probe,
  * AnnRecallSpec) the probe's IO is corpus-size-independent: the defining
  * property graph indexes are deployed for (DiskANN serves billion-vector
  * corpora from exactly this posting shape on SSD). Probe routing still
  * reads the centroid table whole — |cells| rows, the same bounded
  * metadata read every lake ANN tier here pays.
  *
  * The oracle is `ann_graph_beam`'s VERBATIM (the ann_ivf_lake precedent:
  * the round trip through storage must be invisible to results); the
  * pruned-file claim is spec-pinned via inputFiles on both posting tables.
  *
  * Deletion: WIRED (the boundary the first cut documented, closed the
  * same session). A REVERSE adjacency posting table (`redges`: dst →
  * srcs) is maintained alongside the forward one, so "who points at a
  * dropped vector" is one pruned key read; `deleteVectors` then prunes
  * the in-neighbors' dsts arrays, the out-neighbors' srcs arrays, the
  * touched cells' membership rows, REPAIRS the medoid table when a
  * dropped vector was an entry point (recomputed over surviving members,
  * emptied cells lose their row), and row-deletes the vector — all under
  * the intent-table protocol (intent first, prunes content-idempotent,
  * intent cleared last, completion wired into every ensure/refresh).
  */
object AnnGraphLake {

  import AnnQueries._

  final case class Sinks(centroids: String, medoids: String,
                         edges: String, redges: String,
                         members: String, vectors: String)

  /** `seen`: the tables' commit versions pinned before `cells` was
    * derived (see [[deriveHandle]]).
    */
  final case class Handle(sinks: Sinks, cells: Long, seen: Map[String, Long])

  private def sinksUnder(base: String) = Sinks(
    s"$base/centroids", s"$base/medoids", s"$base/edges",
    s"$base/redges", s"$base/members", s"$base/vectors")

  // the intent table is INCLUDED (r13 advice): a crashed delete that
  // committed only its intent advances no index table, and a memo keyed on
  // the six index tables alone would serve the cached handle without ever
  // running completeIntents in this session — the intent commit must
  // invalidate the memo so deriveHandle's completion hook actually fires
  private def tablesOf(sk: Sinks): Seq[String] =
    Seq(sk.centroids, sk.medoids, sk.edges, sk.redges, sk.members, sk.vectors,
      intentSink(sk))

  /** The delete protocol's intent table — a sibling of the index tables
    * (the AnnLake convention): six tables, so no commit ordering fails
    * closed for all of them; the keyed drop rows commit here FIRST and
    * clear only after every prune committed.
    */
  private[analytics] def intentSink(sk: Sinks): String =
    s"${new java.io.File(sk.edges).getParent}/delete_intents"

  // small target rows so the posting tables span several range-clustered
  // files at oracle SF and the walk's manifest pruning is a REAL subset
  // (spec-asserted); production sizes by bytes instead
  private val GraphFileRows = 32L

  /** Version-derived state: the PLANNER-LAW cell count (probe fan-out
    * sizing), re-derived from the lake when any table's commit version
    * advances. `cells` is `ivfCellsFor(indexed corpus)` — the same law the
    * in-plan walk applies (`graphBeamParts` via `ivfParts`) — NOT the
    * stored centroid row count (r13 advice): when the Lloyd step empties a
    * seed cell the trained table holds fewer rows than `ivfCellsFor(n)`,
    * the two `nprobeFor` values diverge at larger corpora, and the lake
    * walk's entry set — hence results — drifts from the in-plan walk the
    * spec declares it identical to. The vectors table IS the indexed
    * corpus (insert/delete maintained), so the count is metadata-only
    * (parquet footers) and tracks exactly what the index covers. Also the
    * delete protocol's "next ensure" hook: pending intents a crashed
    * delete left behind complete before the handle is served (one O(1)
    * pointer read when none).
    */
  private def deriveHandle(s: SparkSession, sk: Sinks): Handle = {
    // pinned BEFORE the derive (AnnLake.deriveHandle's discipline)
    val seen = MergeSink.currentVersions(tablesOf(sk))
    completeIntents(s, sk)
    Handle(sk, ivfCellsFor(MergeSink.read(s, sk.vectors).count()), seen)
  }

  /** The memo's revalidation step: `h` while none of its tables has a
    * newer commit than it pinned, else a handle re-derived from the lake.
    */
  private def revalidated(s: SparkSession)(h: Handle): Handle =
    if (MergeSink.currentVersions(tablesOf(h.sinks)) == h.seen) h
    else deriveHandle(s, h.sinks)

  /** Build (once per dir, version-revalidated): persists the
    * same in-plan artifacts the `ann_graph_beam` caches train — ONE
    * training/build pass feeds both tiers, the lake write is persistence,
    * not a second recipe.
    */
  private[graft] def ensureGraphLake(s: SparkSession, dir: String): Handle =
    PlanCache.memo(dir, "ann_graph_lake", revalidated(s)) {
      val sk = sinksUnder(Staging.freshBase("graft_ann_graph", dir).getPath)
      val k = ivfCellsFor(Tables.embeddings(s, dir).count())
      MergeSink.merge(s, sk.centroids, ivfCarr(s, dir, k),
        Seq("cell"), Seq(col("cell")), targetFileRows = 64)
      MergeSink.merge(s, sk.medoids,
        cellMedoids(s, dir).groupBy("cell")
          .agg(sort_array(collect_list(col("entry"))).as("entries")),
        Seq("cell"), Seq(col("cell")), targetFileRows = 8)
      MergeSink.merge(s, sk.edges,
        graphEdges(s, dir).groupBy("src")
          .agg(sort_array(collect_list(col("dst"))).as("dsts")),
        Seq("src"), Seq(col("src")), targetFileRows = GraphFileRows)
      // REVERSE adjacency (dst → srcs): the delete verb's index — "who
      // points at this vector" answered by one pruned key read instead of
      // an O(table) scan of every dsts array (the window-refcount lesson:
      // a maintained inverse makes the non-local half of a delete local)
      MergeSink.merge(s, sk.redges,
        graphEdges(s, dir).groupBy("dst")
          .agg(sort_array(collect_list(col("src"))).as("srcs")),
        Seq("dst"), Seq(col("dst")), targetFileRows = GraphFileRows)
      // cell MEMBERSHIP postings: medoid REPAIR after a delete recomputes
      // a touched cell's entry from its SURVIVING members — O(touched
      // cells · occupancy), never a corpus re-assignment
      MergeSink.merge(s, sk.members,
        { val (cells, _) = ivfParts(s, dir)
          cells.groupBy("cell")
            .agg(sort_array(collect_list(col("vec_id"))).as("members")) },
        Seq("cell"), Seq(col("cell")), targetFileRows = GraphFileRows)
      MergeSink.merge(s, sk.vectors,
        normalized(s, dir).select("vec_id", "e", "nrm"),
        Seq("vec_id"), Seq(col("vec_id")), targetFileRows = GraphFileRows)
      deriveHandle(s, sk)
    }

  /** DELETE vectors from the graph index (closing the boundary the first
    * cut documented): a vector dropped upstream must leave every graph
    * artifact — its vectors row, its OWN adjacency row, every OTHER row's
    * dsts array that points at it (found by ONE pruned read of the
    * reverse postings, never a table scan), the reverse postings
    * themselves, its cell's membership row, and — when it WAS a probed
    * entry point — the medoid table, whose touched cells recompute their
    * entry from the surviving members (an emptied cell's medoid row is
    * deleted; probes route past it to nothing, the fail-closed shape).
    *
    * Protocol: intent rows FIRST (six tables, no commit order fails
    * closed for all), prunes in an order chosen so a crash-retry always
    * converges — edges before redges (the in-neighbor set is read from
    * the still-intact reverse postings), vectors LAST (the medoid repair
    * and the cell reconstruction read the dropped rows) — then the
    * intent clears. Every prune is content-idempotent (array_except /
    * keyed row deletes), so completing a half-applied intent re-runs the
    * whole list; `completeIntents` is wired into deriveHandle, so every
    * ensure/refresh finishes what a crashed delete owed.
    */
  private[graft] def deleteVectors(s: SparkSession, h: Handle,
      dropIds: DataFrame, afterIntent: () => Unit = () => ()): Unit = {
    val sk = h.sinks
    completeIntents(s, sk)
    val drop = dropIds.select(col("vec_id")).distinct().localCheckpoint(true)
    if (drop.isEmpty) return
    // the intent CARRIES each dropped id's out-neighbor list, captured
    // while the forward adjacency is still intact: a crash-retry entering
    // after the dropped rows left `edges` could not re-derive which srcs
    // arrays in `redges` still owe a prune — the payload makes the whole
    // list re-applicable from the intent alone
    val keyed = drop
      .join(MergeSink.readOverlapping(s, sk.edges,
          drop.select(col("vec_id").as("src")), Seq("src"))
        .select(col("src").as("vec_id"), col("dsts")),
        Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("dsts"), typedLit(Array.empty[Long])).as("dsts"))
      .localCheckpoint(true)
    MergeSink.merge(s, intentSink(sk), keyed,
      Seq("vec_id"), Seq(col("vec_id")), targetFileRows = GraphFileRows)
    afterIntent() // test seam: the spec kills the delete here
    applyDelete(s, sk, keyed)
    MergeSink.delete(s, intentSink(sk), keyed.select("vec_id"), Seq("vec_id"),
      targetFileRows = GraphFileRows)
    ()
  }

  /** Complete (re-apply and clear) pending delete intents — O(1) pointer
    * read when there are none (the AnnLake posture).
    */
  private[analytics] def completeIntents(s: SparkSession, sk: Sinks): Unit = {
    val intents = intentSink(sk)
    if (MergeSink.currentVersion(intents).isEmpty) return
    val pend = MergeSink.read(s, intents)
      .select("vec_id", "dsts").localCheckpoint(true)
    if (pend.isEmpty) return
    applyDelete(s, sk, pend)
    MergeSink.delete(s, intents, pend.select("vec_id"), Seq("vec_id"),
      targetFileRows = GraphFileRows)
    ()
  }

  /** Re-applicable prune list over `keyed` (vec_id, dsts-at-intent-time):
    * every step is content-idempotent and derives its key sets from state
    * that survives partial application.
    */
  private def applyDelete(s: SparkSession, sk: Sinks, keyed: DataFrame): Unit = {
    val drop = keyed.select("vec_id")
    // the global drop set as a 1-row array — every prune is an
    // array_except against it (|drop| is a maintenance batch, not a table)
    val dropArr = drop.agg(sort_array(collect_list(col("vec_id"))).as("__drop"))
      .localCheckpoint(true)
    // SURVIVING in-neighbors (whose dsts arrays must prune), from the
    // reverse postings — pruned key read, never a scan. Safe across
    // retries: redges prunes AFTER edges, so whenever this set matters
    // (edges not yet pruned) the reverse rows are still intact.
    val inN = MergeSink.readOverlapping(s, sk.redges,
        drop.select(col("vec_id").as("dst")), Seq("dst"))
      .join(drop.select(col("vec_id").as("dst")), Seq("dst"))
      .select(explode(col("srcs")).as("src")).distinct()
      .join(drop.select(col("vec_id").as("src")), Seq("src"), "left_anti")
      .localCheckpoint(true)
    // surviving OUT-neighbors (whose srcs arrays must prune) — from the
    // intent PAYLOAD, immune to the dropped edges rows' deletion
    val outN = keyed.select(explode(col("dsts")).as("dst")).distinct()
      .join(drop.select(col("vec_id").as("dst")), Seq("dst"), "left_anti")
      .localCheckpoint(true)
    // dropped ids' cells, reconstructed from the lake's own vectors rows
    // (still present — vectors delete LAST) + the fixed trained centroids
    val cents = MergeSink.read(s, sk.centroids)
    val dropVn = MergeSink.readOverlapping(s, sk.vectors, drop, Seq("vec_id"))
      .join(drop, Seq("vec_id"))
      .select(col("vec_id"),
        transform(col("e"), x => x / sqrt(col("nrm"))).as("en"))
    val dropCells = assignCells(dropVn, cents.select("cell", "ce"))
      .select("cell").distinct().localCheckpoint(true)

    // 1. edges: surviving in-neighbors' rows prune the dropped dsts
    MergeSink.occRetry(sk.edges, "graphDelete/edges") { readV =>
      val touched = MergeSink.readOverlapping(s, sk.edges, inN, Seq("src"))
        .join(inN, Seq("src"))
      MergeSink.merge(s, sk.edges,
        touched.crossJoin(broadcast(dropArr))
          .select(col("src"), array_except(col("dsts"), col("__drop")).as("dsts")),
        Seq("src"), Seq(col("src")), targetFileRows = GraphFileRows,
        expectedVersion = Some(readV))
    }
    //    ... and the dropped rows leave (idempotent keyed delete)
    MergeSink.delete(s, sk.edges, drop.select(col("vec_id").as("src")),
      Seq("src"), targetFileRows = GraphFileRows)
    // 2. redges, symmetric: surviving out-neighbors prune dropped srcs
    MergeSink.occRetry(sk.redges, "graphDelete/redges") { readV =>
      val touched = MergeSink.readOverlapping(s, sk.redges, outN, Seq("dst"))
        .join(outN, Seq("dst"))
      MergeSink.merge(s, sk.redges,
        touched.crossJoin(broadcast(dropArr))
          .select(col("dst"), array_except(col("srcs"), col("__drop")).as("srcs")),
        Seq("dst"), Seq(col("dst")), targetFileRows = GraphFileRows,
        expectedVersion = Some(readV))
    }
    MergeSink.delete(s, sk.redges, drop.select(col("vec_id").as("dst")),
      Seq("dst"), targetFileRows = GraphFileRows)
    // 3. membership postings of the touched cells prune the dropped ids
    MergeSink.occRetry(sk.members, "graphDelete/members") { readV =>
      val touched = MergeSink.readOverlapping(s, sk.members, dropCells, Seq("cell"))
        .join(dropCells, Seq("cell"))
      MergeSink.merge(s, sk.members,
        touched.crossJoin(broadcast(dropArr))
          .select(col("cell"),
            array_except(col("members"), col("__drop")).as("members")),
        Seq("cell"), Seq(col("cell")), targetFileRows = GraphFileRows,
        expectedVersion = Some(readV))
    }
    // 4. medoid REPAIR: touched cells recompute their entry over the
    //    SURVIVING members (exactly the build's argmax — dot against the
    //    fixed centroid, ties lowest id); emptied cells lose the row
    val survMem = MergeSink.readOverlapping(s, sk.members, dropCells, Seq("cell"))
      .join(dropCells, Seq("cell"))
      .select(col("cell"), explode(col("members")).as("vec_id"))
    val survVn = MergeSink.readOverlapping(s, sk.vectors,
        survMem.select("vec_id"), Seq("vec_id"))
      .join(survMem, Seq("vec_id"))
      .select(col("cell"), col("vec_id"),
        transform(col("e"), x => x / sqrt(col("nrm"))).as("en"))
    val newMed = medoidsOf(survVn, cents.select("cell", "ce"))
      .localCheckpoint(true)
    MergeSink.occRetry(sk.medoids, "graphDelete/medoids") { readV =>
      MergeSink.merge(s, sk.medoids, newMed, Seq("cell"), Seq(col("cell")),
        targetFileRows = 8, expectedVersion = Some(readV))
    }
    MergeSink.delete(s, sk.medoids,
      dropCells.join(newMed.select("cell"), Seq("cell"), "left_anti"),
      Seq("cell"), targetFileRows = 8)
    // 5. vectors LAST (steps above read the dropped rows)
    MergeSink.delete(s, sk.vectors, drop, Seq("vec_id"),
      targetFileRows = GraphFileRows)
    ()
  }

  // ---- shared graph-construction pieces (full, slice and batch paths) ---

  /** Per-cell entry ARRAY of `memEn` (cell, vec_id, en) against `cents`:
    * the MEDOID (dot-to-centroid argmax, ties lowest id) plus its ANTIPODE
    * (dot-to-medoid argmin, ties lowest id — the seed that reaches a
    * merged cell's other graph component, see AnnQueries.GraphEntries),
    * collected as a sorted-by-id distinct array — rank order is irrelevant
    * downstream (all entries seed round 0; every maintenance step
    * re-derives from membership), and a sorted array makes the merge
    * content-idempotent.
    */
  private def medoidsOf(memEn: DataFrame, cents: DataFrame): DataFrame =
    entryRowsOf(memEn, cents)
      .groupBy("cell")
      .agg(sort_array(array_distinct(collect_list(col("entry")))).as("entries"))

  // ---- INCREMENTAL tier: slice build + exact daily-batch insert ---------

  /** Graph tables over the corpus SLICE (vec_id % 5 ≠ 0), on the SAME
    * slice-trained centroids the incremental IVF+PQ lake trains
    * (`AnnLake.ensureAnnIncrLake` — one training pass feeds both incr
    * tiers, and the oracle's SliceCellsCte proves them both).
    */
  private[analytics] def buildSliceGraph(s: SparkSession, dir: String,
      prefix: String): Sinks = {
    val sk = sinksUnder(Staging.freshBase(prefix, dir).getPath)
    val cents = MergeSink.read(s, AnnLake.ensureAnnIncrLake(s, dir).sinks.centroids)
      .select("cell", "ce")
    val slice = normalized(s, dir).filter(col("vec_id") % 5 =!= 0)
    val sCells = assignCells(slice.select("vec_id", "en"), cents)
    requireBoundedOccupancy(sCells, "buildSliceGraph")
    val mem = sCells
      .join(slice.select("vec_id", "e", "nrm", "en"), Seq("vec_id"))
      .localCheckpoint(true)
    MergeSink.merge(s, sk.centroids, cents,
      Seq("cell"), Seq(col("cell")), targetFileRows = 64)
    MergeSink.merge(s, sk.medoids,
      medoidsOf(mem.select("cell", "vec_id", "en"), cents),
      Seq("cell"), Seq(col("cell")), targetFileRows = 8)
    val ed = topMEdges(mem.select("cell", "vec_id", "e", "nrm"))
      .localCheckpoint(true)
    MergeSink.merge(s, sk.edges,
      ed.groupBy("src").agg(sort_array(collect_list(col("dst"))).as("dsts")),
      Seq("src"), Seq(col("src")), targetFileRows = GraphFileRows)
    MergeSink.merge(s, sk.redges,
      ed.groupBy("dst").agg(sort_array(collect_list(col("src"))).as("srcs")),
      Seq("dst"), Seq(col("dst")), targetFileRows = GraphFileRows)
    MergeSink.merge(s, sk.members,
      sCells.groupBy("cell")
        .agg(sort_array(collect_list(col("vec_id"))).as("members")),
      Seq("cell"), Seq(col("cell")), targetFileRows = GraphFileRows)
    MergeSink.merge(s, sk.vectors, slice.select("vec_id", "e", "nrm"),
      Seq("vec_id"), Seq(col("vec_id")), targetFileRows = GraphFileRows)
    sk
  }

  /** INSERT a batch into a maintained graph index — and EXACTLY: the
    * updated index equals the one-shot build over the union, not an
    * approximation (spec-pinned table-content equivalence). The key fact:
    * a cell's true top-M after the batch is a subset of (top-M before ∪
    * batch cohabitants) — scores of old members don't change — so each
    * touched EXISTING member re-ranks only its stored neighbors plus the
    * batch, O(touched members · (M + batch-per-cell)) pair scores, and
    * every read is a manifest-pruned key fetch. New members rank against
    * their full cell (occupancy-bounded). Medoid entry arrays re-derive
    * over the touched cells' full post-insert membership (already read
    * for the edge step): the antipode is anchored to the medoid, so a
    * batch that moves the medoid re-scores every member — only the full
    * re-derive is exact. Replay-idempotent: the
    * batch is excluded
    * from the "existing" side, so a re-delivered batch recomputes the
    * same arrays (array_distinct unions, deterministic re-ranks) — the
    * appendBatch standard. Reverse postings append the new edges and drop
    * the evicted ones, and they commit BEFORE the forward table (r13
    * advice): the redges delta is DIFFED against the stored forward rows,
    * so a crash after the forward commit would leave a replay reading the
    * already-updated dsts — empty diff, the missing reverse entries never
    * heal, and a later delete of such a dst skips pruning its in-neighbor
    * (a permanently dangling adjacency entry). Redges-first, a replayed
    * micro-batch re-reads the still-intact forward rows, recomputes the
    * identical diff, and the redges merge is content-idempotent — the
    * pair converges under replay from either crash point.
    */
  private[graft] def addVectors(s: SparkSession, sk: Sinks,
      batchRaw: DataFrame, afterRedges: () => Unit = () => ()): Unit = {
    val batch = batchRaw
      .select(col("vec_id"), Vec.toDouble(col("embedding")).as("e"))
      .withColumn("nrm", Vec.dot(col("e"), col("e")))
      .withColumn("en", transform(col("e"), x => x / sqrt(col("nrm"))))
      .localCheckpoint(true)
    if (batch.isEmpty) return
    val cents = MergeSink.read(s, sk.centroids).select("cell", "ce")
    val bCells = assignCells(batch.select("vec_id", "en"), cents)
      .localCheckpoint(true)
    val touched = bCells.select("cell").distinct().localCheckpoint(true)
    val bFull = bCells.join(batch, Seq("vec_id"))
      .select(col("cell"), col("vec_id"), col("e"), col("nrm"))
      .localCheckpoint(true)
    // existing members of the touched cells, batch EXCLUDED (replay: a
    // re-delivered batch must not see itself on the existing side)
    val exMem = MergeSink.readOverlapping(s, sk.members, touched, Seq("cell"))
      .join(touched, Seq("cell"))
      .select(col("cell"), explode(col("members")).as("vec_id"))
      .join(batch.select("vec_id"), Seq("vec_id"), "left_anti")
      .localCheckpoint(true)
    val exVec = MergeSink.readOverlapping(s, sk.vectors,
        exMem.select("vec_id"), Seq("vec_id"))
      .join(exMem.select("vec_id").distinct(), Seq("vec_id"))
      .select(col("vec_id"), col("e"), col("nrm"))
    val exFull = exMem.join(exVec, Seq("vec_id"))
      .select(col("cell"), col("vec_id"), col("e"), col("nrm"))
      .localCheckpoint(true)
    val allTouched = exFull.unionByName(bFull).localCheckpoint(true)
    // post-insert occupancy must stay bounded too: a skewed batch can
    // push a cell past the quadratic threshold even when the build was
    // healthy (same guard, same named fix)
    requireBoundedOccupancy(allTouched.select("cell", "vec_id"), "addVectors")
    val wSrc = Window.partitionBy("src").orderBy(col("cosine").desc, col("dst"))
    // NEW members' adjacency: top-M over the whole (post-insert) cell
    val newRows = bFull.as("a")
      .join(allTouched.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"),
        Vec.cosinePre(Vec.dot(col("a.e"), col("b.e")),
          col("a.nrm"), col("b.nrm")).as("cosine"))
      .withColumn("rn", row_number().over(wSrc)).filter(col("rn") <= GraphM)
      .groupBy("src").agg(sort_array(collect_list(col("dst"))).as("dsts"))
      .localCheckpoint(true)
    // EXISTING members re-rank (stored dsts ∪ batch cohabitants) — exact
    val exRows = MergeSink.readOverlapping(s, sk.edges,
        exMem.select(col("vec_id").as("src")), Seq("src"))
      .join(exMem.select(col("vec_id").as("src")).distinct(), Seq("src"))
      .localCheckpoint(true)
    val exCandIds = exRows.select(col("src"), explode(col("dsts")).as("dst"))
      .unionByName(exFull.select(col("cell"), col("vec_id").as("src"))
        .join(bFull.select(col("cell"), col("vec_id").as("dst")), Seq("cell"))
        .select("src", "dst"))
      .distinct()
    val updRows = exCandIds
      .join(exFull.select(col("vec_id").as("src"), col("e").as("se"),
        col("nrm").as("sn")), Seq("src"))
      .join(allTouched.select(col("vec_id").as("dst"), col("e").as("de"),
        col("nrm").as("dn")), Seq("dst"))
      .select(col("src"), col("dst"),
        Vec.cosinePre(Vec.dot(col("se"), col("de")),
          col("sn"), col("dn")).as("cosine"))
      .withColumn("rn", row_number().over(wSrc)).filter(col("rn") <= GraphM)
      .groupBy("src").agg(sort_array(collect_list(col("dst"))).as("dsts"))
      .localCheckpoint(true)
    // evicted vs added per existing member → the reverse-posting deltas
    // (LEFT from the re-ranked side: a member with no prior adjacency row
    // — no same-cell cohabitant before the batch — still contributes its
    // brand-new edges)
    val diff = updRows.select(col("src"), col("dsts").as("nw"))
      .join(exRows.select(col("src"), col("dsts").as("old")), Seq("src"), "left")
      .select(col("src"),
        array_except(coalesce(col("old"), typedLit(Array.empty[Long])),
          col("nw")).as("gone"),
        array_except(col("nw"),
          coalesce(col("old"), typedLit(Array.empty[Long]))).as("added"))
      .localCheckpoint(true)
    // 1. reverse postings FIRST (r13 advice): the delta below was diffed
    //    against the stored forward rows (exRows), so redges must commit
    //    while those rows are still intact — a crash here replays to the
    //    identical delta (idempotent merge); edges-first, the replay's
    //    diff would come back empty and the missing reverse entries would
    //    never heal
    val rAdd = newRows.select(col("src"), explode(col("dsts")).as("dst"))
      .unionByName(diff.select(col("src"), explode(col("added")).as("dst")))
      .groupBy("dst").agg(collect_set(col("src")).as("__add"))
    val rGone = diff.select(col("src"), explode(col("gone")).as("dst"))
      .groupBy("dst").agg(collect_set(col("src")).as("__gone"))
    val rDelta = rAdd.join(rGone, Seq("dst"), "full")
      .select(col("dst"),
        coalesce(col("__add"), typedLit(Array.empty[Long])).as("__add"),
        coalesce(col("__gone"), typedLit(Array.empty[Long])).as("__gone"))
      .localCheckpoint(true)
    MergeSink.occRetry(sk.redges, "graphAdd/redges") { readV =>
      val old = MergeSink.readOverlapping(s, sk.redges,
          rDelta.select("dst"), Seq("dst"))
        .select(col("dst"), col("srcs").as("__old"))
      MergeSink.merge(s, sk.redges,
        rDelta.join(old, Seq("dst"), "left")
          .select(col("dst"), sort_array(array_distinct(array_except(
            concat(coalesce(col("__old"), typedLit(Array.empty[Long])),
              col("__add")), col("__gone")))).as("srcs")),
        Seq("dst"), Seq(col("dst")), targetFileRows = GraphFileRows,
        expectedVersion = Some(readV))
    }
    afterRedges() // test seam: the spec kills the insert here
    // 2. forward adjacency (new + re-ranked rows in one merge)
    MergeSink.occRetry(sk.edges, "graphAdd/edges") { readV =>
      MergeSink.merge(s, sk.edges, newRows.unionByName(updRows),
        Seq("src"), Seq(col("src")), targetFileRows = GraphFileRows,
        expectedVersion = Some(readV))
    }
    // 3. membership postings: union the batch into its cells' arrays
    MergeSink.occRetry(sk.members, "graphAdd/members") { readV =>
      val old = MergeSink.readOverlapping(s, sk.members, touched, Seq("cell"))
        .select(col("cell"), col("members").as("__old"))
      MergeSink.merge(s, sk.members,
        bCells.groupBy("cell").agg(collect_list(col("vec_id")).as("__new"))
          .join(old, Seq("cell"), "left")
          .select(col("cell"), sort_array(array_distinct(concat(
            coalesce(col("__old"), typedLit(Array.empty[Long])),
            col("__new")))).as("members")),
        Seq("cell"), Seq(col("cell")), targetFileRows = GraphFileRows,
        expectedVersion = Some(readV))
    }
    // 4. medoids: recomputed over the touched cells' FULL post-insert
    // membership (allTouched — already in hand for the edge re-rank, no
    // extra read). The medoid alone would update by the {stored entry} ∪
    // batch subset argument, but the ANTIPODE is anchored to the medoid:
    // when the batch moves the medoid, every member's dot-to-medoid
    // changes and only a full re-derive is exact. Same O(touched cells ·
    // occupancy) class as the edge step; replay-idempotent (a pure
    // function of final membership).
    val touchedEn = allTouched.select(col("cell"), col("vec_id"),
      transform(col("e"), x => x / sqrt(col("nrm"))).as("en"))
    MergeSink.occRetry(sk.medoids, "graphAdd/medoids") { readV =>
      MergeSink.merge(s, sk.medoids, medoidsOf(touchedEn, cents),
        Seq("cell"), Seq(col("cell")), targetFileRows = 8,
        expectedVersion = Some(readV))
    }
    // 5. the vectors themselves
    MergeSink.occRetry(sk.vectors, "graphAdd/vectors") { readV =>
      MergeSink.merge(s, sk.vectors, batch.select("vec_id", "e", "nrm"),
        Seq("vec_id"), Seq(col("vec_id")), targetFileRows = GraphFileRows,
        expectedVersion = Some(readV))
    }
    ()
  }

  /** Slice-built graph + the daily batch inserted — the incremental
    * lifecycle end-to-end, probed by `ann_graph_incr` whose oracle walks
    * the SAME slice-trained cells (AnnLake.SliceCellsCte) over the final
    * membership: exactness of the insert makes the persistence invisible.
    */
  private[graft] def ensureGraphIncrLake(s: SparkSession, dir: String): Handle =
    PlanCache.memo(dir, "ann_graph_lake_incr", revalidated(s)) {
      val sk = buildSliceGraph(s, dir, "graft_ann_graph_incr")
      addVectors(s, sk,
        Tables.embeddings(s, dir).filter(col("vec_id") % 5 === 0))
      deriveHandle(s, sk)
    }

  /** STREAM-MAINTAIN a graph index (the AnnLake posture verbatim):
    * `readStream` over an embeddings parquet directory → AvailableNow
    * micro-batches (one file per trigger, bounded drain) → `foreachBatch`
    * running the same EXACT insert the daily path uses. Exactly-once
    * EFFECT comes from the insert's exactness (a replayed micro-batch
    * recomputes identical arrays — spec-pinned), and ORDER-independence
    * from the same property: each insert leaves the one-shot index over
    * the union so far, so any arrival order converges to the same tables.
    */
  def streamMaintain(s: SparkSession, sk: Sinks, srcDir: String,
      checkpoint: String): Unit = {
    // schema DERIVED from the source files (the r11 advice: an inline
    // StructType that drifts null-fills silently instead of failing)
    val schema = s.read.parquet(srcDir).schema
    val q = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) addVectors(s, sk, batch)
        ()
      }
      .start()
    q.awaitTermination()
    ()
  }

  /** The beam walk over the LAKE tables: [[AnnQueries.beamWalk]] with
    * every fetch a `readOverlapping` key read (exact via the inner join
    * back) and the lake's delta pin shape (see [[AnnQueries.BeamSource]]).
    */
  private[graft] def graphBeamLake(s: SparkSession, dir: String): DataFrame =
    beamParts(s, dir, ensureGraphLake(s, dir))._2

  /** The lake walk over `h`, with its cumulative scored set. */
  private[analytics] def beamParts(s: SparkSession, dir: String,
      h: Handle): (DataFrame, DataFrame) = {
    val sk = h.sinks
    // probes are QUERY-side input (the raw embedding column), normalized
    // exactly as the index build normalized the corpus
    val probes = Tables.embeddings(s, dir)
      .filter(col("vec_id") < ProbeCount)
      .select(col("vec_id").as("probe_id"), Vec.toDouble(col("embedding")).as("pe"))
      .withColumn("pnrm", Vec.dot(col("pe"), col("pe")))
      .withColumn("pen", transform(col("pe"), x => x / sqrt(col("pnrm"))))
      .localCheckpoint(true)
    val cents = MergeSink.read(s, sk.centroids)
    val pc = probeCells(probes.select(col("probe_id"), col("pen").as("en")),
      cents.select("cell", "ce"), nprobeFor(h.cells))
    // entry is tiny (≤ probes · nprobe · GraphEntries rows) but feeds TWO
    // consumers — the vector fetch's digest collect and the scoring join —
    // each of which would re-run the probe-routing subtree: checkpoint
    // once, both read the materialized rows
    val entry = MergeSink.readOverlapping(s, sk.medoids, pc.select("cell"), Seq("cell"))
      .join(pc, Seq("cell"))
      .select(col("probe_id"), explode(col("entries")).as("nid")).distinct()
      .localCheckpoint(true)
    beamWalk(BeamSource(
      probes = probes.select("probe_id", "pe", "pnrm"),
      entry = entry,
      // the candidates' vectors come from the manifest-pruned files their
      // digests land in, never the table
      vectors = cand => MergeSink.readOverlapping(s, sk.vectors,
          cand.select(col("nid").as("vec_id")), Seq("vec_id"))
        .select(col("vec_id").as("nid"), col("e"), col("nrm")),
      neighbours = { beam =>
        val es = MergeSink.readOverlapping(s, sk.edges,
            beam.select(col("nid").as("src")), Seq("src"))
          .select(col("src").as("nid"), col("dsts"))
        beam.join(es, Seq("nid"))
          .select(col("probe_id"), explode(col("dsts")).as("nid"))
      },
      pinDelta = true))
  }

  /** Same oracle as the in-plan walk — the storage round trip must be
    * invisible to results (the ann_ivf_lake standard).
    */
  val graphLake: QueryDef =
    QueryDef("ann_graph_lake", AnnQueries.graphBeam.oracle.get) { (s, dir) =>
      graphBeamLake(s, dir)
    }

  /** The INCREMENTAL walk's oracle: the slice-trained cell CTEs (shared
    * verbatim with the incremental IVF+PQ oracles) feeding the same walk
    * CTEs the full-corpus oracle uses — because the insert is EXACT, the
    * walk over the maintained index must equal the walk over a one-shot
    * build on those cells.
    */
  val graphIncr: QueryDef =
    QueryDef("ann_graph_incr",
      s"""WITH ${AnnQueries.VnCte},
         |${AnnLake.SliceCellsCte},
         |${AnnQueries.graphWalkSql}""".stripMargin) { (s, dir) =>
      beamParts(s, dir, ensureGraphIncrLake(s, dir))._2
    }

  val defs: Seq[QueryDef] = Seq(graphLake, graphIncr)
}
