package graft.analytics

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.Vec

/** Similarity search over the `embeddings` table (`array<float>` vectors).
  *
  *  - ann_bruteforce_topk: exact top-k for a small probe set. The probe set
  *    is broadcast and streamed against the corpus — O(|probes|·n), linear
  *    in corpus size, the correct exact baseline at any scale (this is a
  *    broadcast nested-loop by design, NOT an n² all-pairs join).
  *  - ann_lsh_topk: sign-LSH bucketed variant — probes only score vectors
  *    in their own hyperplane-sign bucket (equi-join on the bucket code),
  *    trading recall for a corpus-partition-local search. The scale path:
  *    bucket count grows with `bits`, the join shuffles on the code.
  *
  * Ranking: ann_bruteforce scores the WHOLE corpus per probe, so it ranks
  * with the two-phase salted top-k (l3's pattern — the per-probe window
  * would otherwise funnel the corpus into |probes| tasks). The bucketed
  * variants rank with a plain per-probe window because their candidate
  * sets are bucket-bounded BY CONSTRUCTION (LshPlanner sizes the buckets);
  * if a skewed cell ever grows fact-scale, apply the same salting there.
  */
object AnnQueries {

  private[analytics] val ProbeCount = 5
  private val TopK = 10
  private val SaltBuckets = 64

  /** Live hyperplane count, CORPUS-SIZED (the r7 ask): the bucketed joins
    * do Σ|bucket|² ≈ n²/2^bits work, linear only if bits grows as
    * log2(n/targetBucket) — so the running plans derive it from the corpus
    * count instead of freezing it. Clamped to 48 because Vec.signBucket is
    * axis-aligned over the first `bits` vector components (embedding
    * dim 64); past n ≈ 32·2^48 switch to random-hyperplane projections.
    * At the oracle SF (n = 500) this IS the static 4 the oracle SQL bakes
    * in, so the hash gate still proves the plan; at 10× bench data
    * (n = 20 000 per the ScaleUp replication) it is 10 — bucket occupancy,
    * and with it the pair-join cost per row, stays flat as the corpus
    * grows (LshWiredSpec pins both facts).
    */
  private val TargetBucket = 32
  def signBitsFor(n: Long): Int =
    math.min(48, LshPlanner.signLshBits(n, TargetBucket))

  /** Control-plane corpus count: parquet footer row-count metadata — no
    * data scan, O(files) driver work at any SF.
    */
  private def corpusBits(s: org.apache.spark.sql.SparkSession, dir: String): Int =
    signBitsFor(Tables.embeddings(s, dir).count())

  /** Oracle-side cosine, operand-ordered identically to Vec.cosine. */
  private def cosSql(a: String, b: String): String =
    s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"

  val bruteForce: QueryDef = QueryDef(
    "ann_bruteforce_topk",
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |probes AS (SELECT vec_id AS probe_id, e AS pe FROM v WHERE vec_id < $ProbeCount),
       |scored AS MATERIALIZED (
       |  SELECT probe_id, v.vec_id AS neighbor_id, ${cosSql("pe", "e")} AS cosine
       |  FROM probes, v WHERE v.vec_id <> probe_id)
       |SELECT probe_id, neighbor_id, cosine, rank FROM (
       |  SELECT probe_id, neighbor_id, cosine,
       |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM scored) t
       |WHERE rank <= $TopK""".stripMargin) { (s, dir) =>
    val v = Tables.embeddings(s, dir)
      .select(col("vec_id"), Vec.toDouble(col("embedding")).as("e"))
      .withColumn("nrm", Vec.dot(col("e"), col("e")))
    val probes = v.filter(col("vec_id") < ProbeCount)
      .select(col("vec_id").as("probe_id"), col("e").as("pe"), col("nrm").as("pnrm"))
    val scored = v.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        Vec.cosinePre(Vec.dot(col("pe"), col("e")), col("pnrm"), col("nrm")).as("cosine"))
    val order = Seq(col("cosine").desc, col("neighbor_id"))
    val wLocal = Window
      .partitionBy(col("probe_id"), pmod(hash(col("neighbor_id")), lit(SaltBuckets)))
      .orderBy(order: _*)
    val survivors = scored.withColumn("rk", row_number().over(wLocal))
      .filter(col("rk") <= TopK).drop("rk")
    val wGlobal = Window.partitionBy("probe_id").orderBy(order: _*)
    survivors.withColumn("rank", row_number().over(wGlobal))
      .filter(col("rank") <= TopK)
      .select("probe_id", "neighbor_id", "cosine", "rank")
  }

  /** ORACLE-side hyperplane count: 4 = signBitsFor(500), static ONLY
    * because the DuckDB oracle string must be static SQL — the live Spark
    * plans derive the width from the corpus count (corpusBits above), and
    * the two coincide exactly at the oracle SF, which is what lets the
    * hash gate keep proving the runtime-width plan.
    */
  private val Bits = 4
  private[analytics] val LshK = 5
  // nprobe trades cells searched for recall (AnnRecallSpec measures it
  // against brute force; 2 → 3 lifted recall@5 from 0.16); shared with the
  // oracle SQL so both engines search the same cells
  private val NProbe = 3
  private val maskList: Seq[Int] = 0 +: (0 until Bits).map(1 << _)

  /** Oracle-side sign bucket, mirrored from Vec.signBucket. */
  private val bucketSql: String =
    (1 to Bits).map(j => s"(CASE WHEN e[$j] > 0 THEN ${1 << (j - 1)} ELSE 0 END)").mkString(" + ")

  val lshTopK: QueryDef = QueryDef(
    "ann_lsh_topk",
    s"""WITH v AS (
       |  SELECT vec_id, e, $bucketSql AS bucket
       |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)),
       |probes AS (
       |  SELECT probe_id, pe, unnest([xor(bucket, m) for m in [${maskList.mkString(", ")}]]) AS bucket
       |  FROM (SELECT vec_id AS probe_id, e AS pe, bucket FROM v WHERE vec_id < $ProbeCount)),
       |scored AS MATERIALIZED (
       |  SELECT probe_id, v.vec_id AS neighbor_id, ${cosSql("pe", "e")} AS cosine
       |  FROM probes JOIN v USING (bucket) WHERE v.vec_id <> probe_id)
       |SELECT probe_id, neighbor_id, cosine, rank FROM (
       |  SELECT probe_id, neighbor_id, cosine,
       |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM scored) t
       |WHERE rank <= $LshK""".stripMargin) { (s, dir) =>
    val bits = corpusBits(s, dir)
    val v = Tables.embeddings(s, dir)
      .select(col("vec_id"), Vec.toDouble(col("embedding")).as("e"))
      .withColumn("nrm", Vec.dot(col("e"), col("e")))
      .withColumn("bucket", Vec.signBucket(col("e"), bits))
    // Multiprobe: each probe also searches every bucket at Hamming
    // distance 1 from its own code (flip one sign bit) — the standard
    // recall fix for sign-LSH without growing the table count. The probed
    // codes are pairwise distinct, so each corpus vector scores at most
    // once per probe (no dedup shuffle needed).
    val masks = array((0 +: (0 until bits).map(1 << _)).map(lit): _*)
    val probes = v.filter(col("vec_id") < ProbeCount)
      .select(col("vec_id").as("probe_id"), col("e").as("pe"), col("nrm").as("pnrm"),
        explode(transform(masks, m => col("bucket").bitwiseXOR(m))).as("bucket"))
    val scored = v.join(broadcast(probes), Seq("bucket"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        Vec.cosinePre(Vec.dot(col("pe"), col("e")), col("pnrm"), col("nrm")).as("cosine"))
    val w = Window.partitionBy("probe_id").orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= LshK)
      .select("probe_id", "neighbor_id", "cosine", "rank")
  }

  /** Embedding-cosine near-dup detection (the dedup family's embedding
    * member): bucket the corpus by hyperplane signs, emit pairs above the
    * similarity threshold WITHIN each bucket — an equi-join whose work is
    * Σ bucket² instead of n². Pairs split across buckets are the LSH
    * recall trade-off (mitigate with more tables/multiprobe).
    */
  val embedNearDup: QueryDef = QueryDef(
    "dd_embed_cosine",
    s"""WITH v AS (
       |  SELECT vec_id, e, $bucketSql AS bucket
       |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings))
       |SELECT * FROM (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, ${cosSql("a.e", "b.e")} AS cosine
       |  FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id) t
       |WHERE cosine >= 0.35""".stripMargin) { (s, dir) =>
    val v = Tables.embeddings(s, dir)
      .select(col("vec_id"), Vec.toDouble(col("embedding")).as("e"))
      .withColumn("nrm", Vec.dot(col("e"), col("e")))
      .withColumn("bucket", Vec.signBucket(col("e"), corpusBits(s, dir)))
    v.as("a")
      .join(v.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        Vec.cosinePre(Vec.dot(col("a.e"), col("b.e")), col("a.nrm"), col("b.nrm")).as("cosine"))
      .filter(col("cosine") >= 0.35)
  }

  // ---- shared normalized corpus + spherical k-means cells ---------------

  /** Live IVF cell count, CORPUS-SIZED (the signBitsFor precedent): cells
    * grow ∝ n holding cell occupancy ≈ SemTarget constant, so the
    * cell-restricted scan stays linear. Shares semKFor's target — both are
    * the same "partition the corpus into bounded cosine neighborhoods"
    * knob.
    */
  def ivfCellsFor(n: Long): Long = semKFor(n)

  /** Live nprobe for the PROBE queries: grows with the cell count (a fixed
    * nprobe over ever-finer cells would shrink the searched fraction and
    * silently bleed recall); cells/8 keeps the searched fraction ≳ 1/8
    * with a floor of 3. Affordable precisely because only |probes| vectors
    * pay it: probe cost = nprobe · occupancy ≈ n/8 per probe.
    */
  def nprobeFor(cells: Long): Int = math.max(NProbe, (cells / 8).toInt)

  /** Live nprobe for the ALL-corpus kNN join, where EVERY vector probes:
    * the probe-query law above would make pair volume n · cells/8 ·
    * occupancy = O(n²/8) — quadratic (the r9 10× bench flagged itself at
    * 83× the envelope before this split). √cells growth up to a cap of 8
    * keeps total pair volume O(n · min(8,√cells) · occupancy) = O(n) past
    * the cap — measured 108 s → 8 s at 10× data; beyond the cap the join
    * runs in the constant-nprobe regime every large-corpus ANN deployment
    * uses (FAISS defaults to nprobe=1), with recall the caller's explicit
    * knob rather than a silent quadratic bill. Coincides with the oracle's
    * static 3 at the verify SF (√8 → 3).
    */
  def knnProbesFor(cells: Long): Int =
    math.min(8, math.max(NProbe, math.ceil(math.sqrt(cells.toDouble)).toInt))

  /** ORACLE-side cell count / nprobe: 8 = ivfCellsFor(500), 3 =
    * nprobeFor(8) — static only because the oracle must be static SQL; the
    * live plans derive both from the corpus count and coincide at the
    * oracle SF (AnnPlannerSpec pins the coincidence).
    */
  private val Cells = 8

  /** Oracle-side L2 normalization (unit vectors): division and sqrt are
    * IEEE-correctly-rounded, and the dot is the shared sequential fold, so
    * the normalized components are bit-identical cross-engine.
    */
  private[analytics] val VnCte: String =
    s"""v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |vn AS MATERIALIZED (SELECT vec_id, list_transform(e, x -> x / sqrt(list_dot_product(e, e))) AS en FROM v)""".stripMargin

  /** Oracle-side spherical k-means cells: one Lloyd step from the first-k
    * seed vectors on the UNIT sphere (assign by dot = cosine, mean the
    * members per dimension with the order-deterministic fold, re-normalize
    * the centroid), then the final corpus/probe assignments. Mirrored
    * exactly by ivfParts.
    */
  private val IvfCellsCte: String =
    s"""iseed AS (SELECT vec_id AS cell, en AS ce FROM vn WHERE vec_id < $Cells),
       |iassign0 AS MATERIALIZED (
       |  SELECT vec_id, en, cell FROM (
       |    SELECT n.vec_id, n.en, s.cell,
       |      ROW_NUMBER() OVER (PARTITION BY n.vec_id
       |        ORDER BY list_dot_product(n.en, s.ce) DESC, s.cell) AS rn
       |    FROM vn n, iseed s) t
       |  WHERE rn = 1),
       |icexp AS MATERIALIZED (SELECT vec_id, cell, i AS pos, en[i] AS val
       |          FROM iassign0, unnest(range(1, len(en) + 1)) AS t(i)),
       |icmean AS MATERIALIZED (
       |  SELECT cell, pos,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(val ORDER BY vec_id)),
       |                (a, b) -> a + b) / COUNT(*) AS c
       |  FROM icexp GROUP BY cell, pos),
       |icarr AS MATERIALIZED (
       |  SELECT cell, list_transform(ce, x -> x / sqrt(list_dot_product(ce, ce))) AS ce
       |  FROM (SELECT cell, list(c ORDER BY pos) AS ce FROM icmean GROUP BY cell) t),
       |cells AS MATERIALIZED (
       |  SELECT vec_id, cell FROM (
       |    SELECT n.vec_id, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY n.vec_id
       |        ORDER BY list_dot_product(n.en, c.ce) DESC, c.cell) AS rn
       |    FROM vn n, icarr c) t
       |  WHERE rn = 1),
       |pcells AS MATERIALIZED (
       |  SELECT probe_id, cell FROM (
       |    SELECT n.vec_id AS probe_id, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY n.vec_id
       |        ORDER BY list_dot_product(n.en, c.ce) DESC, c.cell) AS rn
       |    FROM vn n, icarr c WHERE n.vec_id < $ProbeCount) t
       |  WHERE rn <= $NProbe)""".stripMargin

  /** Normalized corpus: (vec_id, e, nrm, en) — original vector, its self-
    * dot, and the unit-normalized copy the quantizers train on.
    * Memo-and-persisted: every ANN stage (training, assignment, probes,
    * refine) reads it — uncached, the ivfpq plan re-scanned the embeddings
    * parquet 8× per run (PLANS.md audit caught it).
    */
  private[analytics] def normalized(s: org.apache.spark.sql.SparkSession, dir: String) =
    PlanCache.cached(s, dir, "ann_vn") {
      Tables.embeddings(s, dir)
        .select(col("vec_id"), Vec.toDouble(col("embedding")).as("e"))
        .withColumn("nrm", Vec.dot(col("e"), col("e")))
        .withColumn("en", transform(col("e"), x => x / sqrt(col("nrm"))))
    }

  /** Spark-side spherical cells, planner-sized: (corpus assignment
    * `cells`: vec_id → cell, probe assignment `pcells`: probe_id → its
    * top-nprobe cells). Corpus assignments are the map-side max_by
    * collapse (n rows reach the exchange, not n×k — semAssigned's shape);
    * the probe table is |probes|×k, window-ranked.
    */
  /** The trained spherical centroid table (cell, ce) — one deterministic
    * Lloyd step from the first-k seeds, memo-and-persisted.
    */
  private[analytics] def ivfCarr(s: org.apache.spark.sql.SparkSession, dir: String,
      k: Long): org.apache.spark.sql.DataFrame =
    PlanCache.cached(s, dir, "ivf_carr") {
      def vn = normalized(s, dir).select("vec_id", "en")
      val seeds = vn.filter(col("vec_id") < k)
        .select(col("vec_id").as("cell"), col("en").as("ce"))
      trainCellsFrom(vn, seeds)
    }

  /** The one deterministic spherical Lloyd step, parameterized over the
    * training frame and its seed centroids so the LAKE tier (AnnLake) can
    * train on a corpus SLICE through the exact same dataflow — extracted
    * verbatim from ivfCarr (r11), dataflow unchanged.
    */
  private[analytics] def trainCellsFrom(vn: org.apache.spark.sql.DataFrame,
      seeds: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // scalar argmax (cell only) through the n·k aggregation, vectors
    // re-attached by an n-row join — dragging the 64-dim array through
    // every max_by buffer was the PQ-encode cost class (72 s → 2 s)
    val assign0 = vn.join(broadcast(seeds))
      .groupBy("vec_id")
      .agg(max_by(col("cell"),
        struct(Vec.dot(col("en"), col("ce")), -col("cell"))).as("cell"))
      .join(vn, Seq("vec_id"))
    val cmean = assign0
      .select(col("vec_id"), col("cell"), posexplode(col("en")).as(Seq("pos", "val")))
      .groupBy("cell", "pos")
      .agg(sort_array(collect_list(struct(col("vec_id"), col("val")))).as("vv"),
        count(lit(1)).as("n"))
      .select(col("cell"), col("pos"),
        (aggregate(transform(col("vv"), x => x.getField("val")),
          lit(0.0), (a, b) => a + b) / col("n")).as("c"))
    cmean.groupBy("cell")
      .agg(sort_array(collect_list(struct(col("pos"), col("c")))).as("pc"))
      .select(col("cell"), transform(col("pc"), x => x.getField("c")).as("ce0"))
      .withColumn("cnrm", Vec.dot(col("ce0"), col("ce0")))
      .select(col("cell"), transform(col("ce0"), x => x / sqrt(col("cnrm"))).as("ce"))
  }

  /** The map-side argmax cell assignment of `vn` (vec_id, en) against a
    * centroid table — ivfParts' corpus-assignment shape, exposed for the
    * lake tier's build and its incremental batch path.
    */
  private[analytics] def assignCells(vn: org.apache.spark.sql.DataFrame,
      carr: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    vn.join(broadcast(carr))
      .groupBy("vec_id")
      .agg(max_by(col("cell"),
        struct(Vec.dot(col("en"), col("ce")), -col("cell"))).as("cell"))

  /** Per-probe top-nprobe cells against a centroid table — ivfParts'
    * probe-assignment shape, exposed for the lake tier.
    */
  private[analytics] def probeCells(probes: org.apache.spark.sql.DataFrame,
      carr: org.apache.spark.sql.DataFrame, nprobe: Int): org.apache.spark.sql.DataFrame =
    probes
      .join(broadcast(carr))
      .withColumn("rn", row_number().over(Window.partitionBy("probe_id")
        .orderBy(Vec.dot(col("en"), col("ce")).desc, col("cell"))))
      .filter(col("rn") <= nprobe)
      .select("probe_id", "cell")

  private[analytics] def ivfParts(s: org.apache.spark.sql.SparkSession, dir: String,
      nprobeOverride: Option[Int] = None)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val k = ivfCellsFor(Tables.embeddings(s, dir).count())
    // the override exists for the RECALL-TRADEOFF measurement only
    // (AnnRecallSpec's nprobe→recall table); every live query takes the
    // planner law
    val nprobe = nprobeOverride.getOrElse(nprobeFor(k))
    def vn = normalized(s, dir).select("vec_id", "en")
    // trained centroid table (|cells|·d — tiny) and the corpus assignment
    // (n rows), each memo-and-persisted: three consumers (standalone IVF,
    // the IVF+PQ composition, the cell-blocked kNN join) share one
    // training pass per (session, dir). Scalar argmax (cell only) — see
    // ivfCarr's note on the array-through-buffers cost.
    val carr = ivfCarr(s, dir, k)
    val cells = PlanCache.cached(s, dir, "ivf_cells") {
      assignCells(vn, carr)
    }
    val pcells = probeCells(
      vn.filter(col("vec_id") < ProbeCount)
        .select(col("vec_id").as("probe_id"), col("en")),
      carr, nprobe)
    (cells, pcells)
  }

  /** IVF ANN with TRAINED spherical cells: coarse-quantize the corpus into
    * cosine-Voronoi cells (one deterministic Lloyd step from the first-k
    * seeds — label cells carried zero cosine signal on this corpus:
    * measured intra-label mean cosine ≈ inter-label ≈ 0), assign each
    * probe to its top-nprobe cells, and rank the cells' members by EXACT
    * cosine — the inverted-file search. Cell count and nprobe are
    * planner-derived (ivfCellsFor/nprobeFor). Measured recall@5 vs brute
    * force: 0.96 (was 0.20 with label cells); AnnRecallSpec pins ≥ 0.7.
    *
    * Scale shape: training touches the corpus twice (seed assignment +
    * final assignment), both as k×d broadcasts with map-side max_by
    * collapse; the search is an equi-join on the cell id reading
    * nprobe/cells of the corpus — at 100 TB the corpus is lake-partitioned
    * by cell and the restriction is partition pruning.
    */
  val ivfTopK: QueryDef = QueryDef(
    "ann_ivf_topk",
    s"""WITH $VnCte,
       |$IvfCellsCte,
       |pv AS (SELECT vec_id AS probe_id, e AS pe FROM v WHERE vec_id < $ProbeCount),
       |scored AS MATERIALIZED (
       |  SELECT pc.probe_id, cl.vec_id AS neighbor_id, ${cosSql("p.pe", "x.e")} AS cosine
       |  FROM pcells pc
       |  JOIN cells cl ON cl.cell = pc.cell AND cl.vec_id <> pc.probe_id
       |  JOIN v x ON x.vec_id = cl.vec_id
       |  JOIN pv p ON p.probe_id = pc.probe_id)
       |SELECT probe_id, neighbor_id, cosine, rank FROM (
       |  SELECT probe_id, neighbor_id, cosine,
       |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM scored) t
       |WHERE rank <= $LshK""".stripMargin) { (s, dir) => ivfSearch(s, dir) }

  /** The IVF search plan, nprobe-parameterizable for the recall-tradeoff
    * measurement (AnnRecallSpec's nprobe -> recall table); the declared
    * query always takes the planner law.
    */
  private[analytics] def ivfSearch(s: org.apache.spark.sql.SparkSession,
      dir: String, nprobeOverride: Option[Int] = None)
      : org.apache.spark.sql.DataFrame = {
    val (cells, pcells) = ivfParts(s, dir, nprobeOverride)
    val v = normalized(s, dir)
    val probes = v.filter(col("vec_id") < ProbeCount)
      .select(col("vec_id").as("probe_id"), col("e").as("pe"), col("nrm").as("pnrm"))
    val scored = v.select(col("vec_id"), col("e"), col("nrm"))
      .join(cells, "vec_id")
      .join(broadcast(pcells), Seq("cell"))
      .filter(col("vec_id") =!= col("probe_id"))
      .join(broadcast(probes), Seq("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        Vec.cosinePre(Vec.dot(col("pe"), col("e")), col("pnrm"), col("nrm")).as("cosine"))
    val w = Window.partitionBy("probe_id").orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= LshK)
      .select("probe_id", "neighbor_id", "cosine", "rank")
  }

  // ---- Product quantization -------------------------------------------

  private[analytics] val PqM = 8       // subspaces (embedding dim 64 → 8 dims each)
  private[analytics] val PqSub = 8     // dims per subspace
  private val PqTopK = 10
  // ADC shortlist size for the exact-cosine refine stage (FAISS "refine"):
  // the quantizer SHORTLISTS Refine candidates per probe from the code
  // table, then the original vectors of only those candidates are scored
  // exactly — measured recall@5 0.28 unrefined → 0.80 refined (PQ) and
  // 0.40 → 0.88 (IVF+PQ) at this corpus
  private[analytics] val Refine = 4 * PqTopK
  // codebooks train on a bounded deterministic sample (all corpus rows at
  // the oracle SFs; a fixed-size prefix at any scale) — the FAISS sampled-
  // training practice, and what bounds the per-centroid training state
  private[analytics] val PqTrainCap = 100000L

  /** Live codebook width, CORPUS-SIZED (the signBitsFor precedent):
    * quantization error shrinks as K grows; n/32 keeps ≥ 32 training
    * vectors per centroid, capped at 256 (8-bit codes — the FAISS
    * standard). 16 = pqCodebookFor(500) is the oracle static.
    */
  def pqCodebookFor(n: Long): Int =
    math.min(256, math.max(16, (n / 32).toInt))
  private val PqK = 16      // codebook entries per subspace (oracle static)

  /** L2² via dot products, operand-ordered identically in both engines:
    * `dot(x,x) - 2·dot(x,c) + dot(c,c)` (left-associative in SQL and in
    * Column arithmetic alike, each dot a sequential fold).
    */
  private def l2Col(x: org.apache.spark.sql.Column, c: org.apache.spark.sql.Column) =
    Vec.dot(x, x) - lit(2.0) * Vec.dot(x, c) + Vec.dot(c, c)
  private[analytics] def l2Sql(x: String, c: String): String =
    s"list_dot_product($x, $x) - 2 * list_dot_product($x, $c) + list_dot_product($c, $c)"

  /** PQ-compressed ANN — the MEMORY-side scale path the rest of the ANN
    * tier lacks: each vector is stored as M small codebook indices
    * (M·log2(K) bits ≈ 4 bytes here vs 256 bytes of floats), and probe
    * distances are answered from per-probe lookup tables (ADC —
    * asymmetric distance computation) without touching the original
    * vectors. At 100 TB of embeddings this is what makes the corpus fit
    * executor memory; compose with ann_ivf's cell pruning for candidate
    * reduction (orthogonal concerns: IVF prunes candidates, PQ shrinks
    * bytes/candidate).
    *
    * COSINE-CONSISTENT since round 9: vectors are L2-NORMALIZED before the
    * subspace split, so quantized L2² on the unit sphere = 2 − 2·cos —
    * rank-equivalent to the cosine the exact baseline uses (the unnorm
    * variant ranked by raw L2 against a cosine truth: a metric gap no
    * codebook width could close). The quantizer then SHORTLISTS Refine
    * candidates per probe and the original vectors of only those
    * candidates are scored by exact cosine (the FAISS refine stage) — the
    * output is exact distances over an approximate candidate set, recall
    * measured 0.80 (PQ) / 0.88 (IVF+PQ) @5 vs 0.24 / 0.08 before.
    *
    * Codebooks: one deterministic Lloyd step per subspace (init = the
    * first K corpus subvectors, K planner-derived via pqCodebookFor,
    * assignment by exact L2²), with centroid means computed as an
    * ORDER-DETERMINISTIC double fold: members sorted by vec_id, summed by
    * a sequential left fold (the rolling-hash oracle pattern) —
    * bit-identical in both engines. (The ivf decimal-mean recipe is NOT
    * reusable here because DuckDB's DECIMAL(38,20)→DOUBLE cast misrounds
    * by 1 ulp when the scaled integer exceeds 2^53.) Training reads a
    * BOUNDED deterministic sample (vec_id < TrainCap — the standard
    * sampled-training practice), which also bounds the per-centroid
    * collect state at any corpus size. Encoding and the ADC scan are pure
    * projections and BROADCAST EQUI-JOINS: codes join their per-(probe,
    * subspace, code) distances on (probe, code) — M hash joins, then a
    * FIXED-ORDER M-term sum (no groupBy sum of doubles, which would be
    * reduction-order-dependent). Scale shape: the codebook is M·K rows
    * (broadcast), the ADC table |probes|·M·K rows (broadcast), the scan is
    * one pass over the code table with the salted two-phase top-k of
    * ann_bruteforce; the refine join touches |probes|·Refine original
    * vectors.
    */
  /** Shared Spark-side PQ pipeline: trained codebooks → corpus code table
    * (`codes`: vec_id, c0..c7) and the per-probe ADC distance table
    * (`adc`: probe_id, m, j, pd) — used by ann_pq_topk and the IVF+PQ
    * composition so training/encoding cannot drift between them.
    */
  // per-subvector and per-centroid self-dots are computed ONCE and
  // carried alongside: the K-candidate L2² then costs one 8-dim dot per
  // candidate instead of three (xx − 2·x·c + cc is the same bits as the
  // inline form — identical folds, evaluated once).
  private def l2Pre = col("xx") - lit(2.0) * Vec.dot(col("sub"), col("ce")) + col("cc")

  /** The per-subspace split of (vec_id, e) — exposed so the lake tier can
    * subvector a corpus slice / daily batch through the same projection.
    */
  private[analytics] def subvectors(v: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    v.select(col("vec_id"),
        explode(array((0 until PqM).map(m => struct(lit(m).as("m"),
          slice(col("e"), m * PqSub + 1, PqSub).as("sub"))): _*)).as("x"))
      .select(col("vec_id"), col("x.m").as("m"), col("x.sub").as("sub"))
      .withColumn("xx", Vec.dot(col("sub"), col("sub")))

  // argmin by (L2², j) as a map-side max_by on (−L2², −j) — the
  // semAssigned collapse: n·M rows reach the exchange, not n·M·K (the
  // row_number form shuffled the full candidate product)
  private def nearest(cands: org.apache.spark.sql.DataFrame) = cands
    .groupBy("vec_id", "m")
    .agg(max_by(struct(col("sub"), col("xx"), col("j")),
      struct(-l2Pre, -col("j"))).as("best"))
    .select(col("vec_id"), col("m"),
      col("best.sub").as("sub"), col("best.xx").as("xx"), col("best.j").as("j"))

  /** One deterministic Lloyd step per subspace from `init` seeds over a
    * (TrainCap-bounded) training subvector frame — extracted verbatim from
    * pqParts (r11) so the lake tier trains on a corpus slice through the
    * identical dataflow. `init` columns: (m, j, ce, cc).
    */
  private[analytics] def trainPqFrom(trainSubv: org.apache.spark.sql.DataFrame,
      init: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val assign = nearest(trainSubv.join(broadcast(init), "m"))
    val cent = assign
      .select(col("vec_id"), col("m"), col("j"),
        posexplode(col("sub")).as(Seq("pos", "val")))
      .groupBy("m", "j", "pos")
      .agg(sort_array(collect_list(struct(col("vec_id"), col("val")))).as("vv"),
        count(lit(1)).as("n"))
      .select(col("m"), col("j"), col("pos"),
        (aggregate(transform(col("vv"), x => x.getField("val")),
          lit(0.0), (a, b) => a + b) / col("n")).as("c"))
    cent.groupBy("m", "j")
      .agg(sort_array(collect_list(struct(col("pos"), col("c")))).as("pc"))
      .select(col("m"), col("j"), transform(col("pc"), x => x.getField("c")).as("ce"))
  }

  /** Encode a subvector frame against a trained codebook → one code row
    * per vector (vec_id, c0..c7). The CORPUS-sized assignment: max_by over
    * the scalar code only — dragging the 8-dim subvector through every
    * aggregation buffer roughly doubled the 10× first-run encode.
    */
  private[analytics] def encodePq(subv: org.apache.spark.sql.DataFrame,
      carr: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val carrCc = carr.withColumn("cc", Vec.dot(col("ce"), col("ce")))
    val codes0 = subv.join(broadcast(carrCc), "m")
      .groupBy("vec_id", "m")
      .agg(max_by(col("j"), struct(-l2Pre, -col("j"))).as("code"))
    codes0.groupBy("vec_id")
      .agg((0 until PqM).map(m =>
        max(when(col("m") === m, col("code"))).as(s"c$m")).head,
        (1 until PqM).map(m =>
          max(when(col("m") === m, col("code"))).as(s"c$m")): _*)
  }

  /** Per-(probe, subspace, code) ADC distance table from a probe subvector
    * frame and a trained codebook — the lake tier recomputes it from the
    * LAKE codebook, so it lives here as the one shared expression.
    */
  private[analytics] def adcFrom(probeSubv: org.apache.spark.sql.DataFrame,
      carr: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    probeSubv
      .select(col("vec_id").as("probe_id"), col("m"), col("sub"))
      .join(broadcast(carr), "m")
      .select(col("probe_id"), col("m"), col("j"), l2Col(col("sub"), col("ce")).as("pd"))

  /** Memo-and-persisted corpus subvector table — it feeds FOUR plan
    * branches (seeds, training assignment, encoding, ADC), like the
    * shingle table it mirrors.
    */
  private[analytics] def pqSubv(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    PlanCache.cached(s, dir, "pq_subv") {
      subvectors(normalized(s, dir).select(col("vec_id"), col("en").as("e")))
    }

  /** The trained corpus codebook (M·K rows), memo-and-persisted. */
  private[analytics] def pqCodebook(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    PlanCache.cached(s, dir, "pq_carr") {
      val subv = pqSubv(s, dir)
      val k = pqCodebookFor(Tables.embeddings(s, dir).count())
      val init = subv.filter(col("vec_id") < k)
        .select(col("m"), col("vec_id").as("j"), col("sub").as("ce"), col("xx").as("cc"))
      trainPqFrom(subv.filter(col("vec_id") < PqTrainCap), init)
    }

  /** The corpus code table (n rows), memo-and-persisted. */
  private[analytics] def pqCodeTable(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    PlanCache.cached(s, dir, "pq_codes") {
      encodePq(pqSubv(s, dir), pqCodebook(s, dir))
    }

  /** Shared Spark-side PQ pipeline: trained codebooks → corpus code table
    * (`codes`: vec_id, c0..c7) and the per-probe ADC distance table
    * (`adc`: probe_id, m, j, pd) — used by ann_pq_topk and the IVF+PQ
    * composition so training/encoding cannot drift between them.
    */
  private def pqParts(s: org.apache.spark.sql.SparkSession, dir: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val adc = adcFrom(pqSubv(s, dir).filter(col("vec_id") < ProbeCount),
      pqCodebook(s, dir))
    (pqCodeTable(s, dir), adc)
  }

  /** M broadcast ADC joins + the fixed-order adist sum, shared by both PQ
    * queries (Spark side). `restrictProbe` names a column of `codes` that
    * pins which probe's ADC rows may join (the IVF+PQ cell restriction);
    * without it every probe scores every code row.
    */
  private[analytics] def adcScored(codes: org.apache.spark.sql.DataFrame,
      adc: org.apache.spark.sql.DataFrame,
      restrictProbe: Option[String] = None): org.apache.spark.sql.DataFrame = {
    def adcM(m: Int) = adc.filter(col("m") === m)
      .select(col("probe_id").as(s"pid$m"), col("j").as(s"j$m"), col("pd").as(s"pd$m"))
    val cond0 = restrictProbe.foldLeft(col("c0") === col("j0"))(
      (c, cn) => c && col(cn) === col("pid0"))
    val joined = (1 until PqM).foldLeft(
        codes.join(broadcast(adcM(0)), cond0)) { (acc, m) =>
      acc.join(broadcast(adcM(m)),
        col(s"c$m") === col(s"j$m") && col("pid0") === col(s"pid$m"))
    }
    joined.filter(col("vec_id") =!= col("pid0"))
      .select(col("pid0").as("probe_id"), col("vec_id").as("neighbor_id"),
        (0 until PqM).map(m => col(s"pd$m")).reduce(_ + _).as("adist"))
  }

  /** Exact-cosine refine of a (probe_id, neighbor_id) shortlist against
    * the ORIGINAL vectors — the FAISS refine stage, shared by both PQ
    * queries. Output: (probe_id, neighbor_id, cosine, rank ≤ PqTopK).
    */
  private[analytics] def refineExact(s: org.apache.spark.sql.SparkSession, dir: String,
      shortlist: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val v = normalized(s, dir)
    val probes = v.filter(col("vec_id") < ProbeCount)
      .select(col("vec_id").as("probe_id"), col("e").as("pe"), col("nrm").as("pnrm"))
    val scored = v.select(col("vec_id"), col("e"), col("nrm"))
      .join(broadcast(shortlist), col("vec_id") === col("neighbor_id"))
      .join(broadcast(probes), Seq("probe_id"))
      .select(col("probe_id"), col("neighbor_id"),
        Vec.cosinePre(Vec.dot(col("pe"), col("e")), col("pnrm"), col("nrm")).as("cosine"))
    val w = Window.partitionBy("probe_id").orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= PqTopK)
      .select("probe_id", "neighbor_id", "cosine", "rank")
  }

  /** Shared oracle CTE chain: PQ codebook training (one deterministic
    * Lloyd step on the bounded sample of NORMALIZED vectors), corpus
    * encoding, and the per-probe ADC distance table — reused verbatim by
    * ann_pq_topk and the IVF+PQ composition so the two cannot drift.
    * Builds on VnCte (v + vn).
    */
  private val PqCteSql: String =
    s"""subv AS (
       |  SELECT vec_id, m, en[m*$PqSub+1 : m*$PqSub+$PqSub] AS sub
       |  FROM vn, unnest([${(0 until PqM).mkString(", ")}]) AS t(m)),
       |init AS MATERIALIZED (SELECT m, vec_id AS j, sub AS ce FROM subv WHERE vec_id < $PqK),
       |assign AS MATERIALIZED (
       |  SELECT vec_id, m, sub, j FROM (
       |    SELECT s.vec_id, s.m, s.sub, i.j,
       |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
       |        ORDER BY ${l2Sql("s.sub", "i.ce")}, i.j) AS rn
       |    FROM subv s JOIN init i USING (m)
       |    WHERE s.vec_id < $PqTrainCap) t
       |  WHERE rn = 1),
       |centexp AS MATERIALIZED (
       |  SELECT vec_id, m, j, i AS pos, sub[i] AS val
       |  FROM assign, unnest(range(1, $PqSub + 1)) AS t(i)),
       |cent AS MATERIALIZED (
       |  SELECT m, j, pos,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(val ORDER BY vec_id)),
       |                (a, b) -> a + b) / COUNT(*) AS c
       |  FROM centexp GROUP BY m, j, pos),
       |carr AS MATERIALIZED (SELECT m, j, list(c ORDER BY pos) AS ce FROM cent GROUP BY m, j),
       |codes0 AS MATERIALIZED (
       |  SELECT vec_id, m, j AS code FROM (
       |    SELECT s.vec_id, s.m, c.j,
       |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
       |        ORDER BY ${l2Sql("s.sub", "c.ce")}, c.j) AS rn
       |    FROM subv s JOIN carr c USING (m)) t
       |  WHERE rn = 1),
       |codes AS MATERIALIZED (
       |  SELECT vec_id,
       |    ${(0 until PqM).map(m => s"MAX(CASE WHEN m = $m THEN code END) AS c$m").mkString(",\n       |    ")}
       |  FROM codes0 GROUP BY vec_id),
       |adc AS MATERIALIZED (
       |  SELECT p.vec_id AS probe_id, c.m, c.j, ${l2Sql("p.sub", "c.ce")} AS pd
       |  FROM (SELECT * FROM subv WHERE vec_id < $ProbeCount) p
       |  JOIN carr c USING (m))""".stripMargin

  /** Oracle-side ADC joins + fixed-order adist sum, mirrored from
    * adcScored (left-associative both sides).
    */
  private[analytics] val AdcJoinSql: String =
    s"  JOIN adc a0 ON a0.m = 0 AND a0.j = cd.c0\n" +
      (1 until PqM).map(m =>
        s"       |  JOIN adc a$m ON a$m.m = $m AND a$m.j = cd.c$m AND a$m.probe_id = a0.probe_id")
        .mkString("\n")
  private[analytics] val AdistSql: String = (0 until PqM).map(m => s"a$m.pd").mkString(" + ")

  /** Oracle-side exact-cosine refine of the `short` CTE, mirrored from
    * refineExact.
    */
  private[analytics] val RefineSql: String =
    s"""pv AS (SELECT vec_id AS probe_id, e AS pe FROM v WHERE vec_id < $ProbeCount)
       |SELECT probe_id, neighbor_id, cosine, rank FROM (
       |  SELECT s.probe_id, s.neighbor_id, ${cosSql("p.pe", "x.e")} AS cosine,
       |    ROW_NUMBER() OVER (PARTITION BY s.probe_id
       |      ORDER BY ${cosSql("p.pe", "x.e")} DESC, s.neighbor_id) AS rank
       |  FROM short s JOIN pv p ON p.probe_id = s.probe_id
       |  JOIN v x ON x.vec_id = s.neighbor_id) t
       |WHERE rank <= $PqTopK""".stripMargin

  val pqTopK: QueryDef = QueryDef(
    "ann_pq_topk",
    s"""WITH $VnCte,
       |$PqCteSql,
       |scored AS MATERIALIZED (
       |  SELECT a0.probe_id, cd.vec_id AS neighbor_id, $AdistSql AS adist
       |  FROM codes cd
       |$AdcJoinSql
       |  WHERE cd.vec_id <> a0.probe_id),
       |short AS MATERIALIZED (
       |  SELECT probe_id, neighbor_id FROM (
       |    SELECT probe_id, neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY adist, neighbor_id) AS rn
       |    FROM scored) t
       |  WHERE rn <= $Refine),
       |$RefineSql""".stripMargin) { (s, dir) =>
    val (codes, adc) = pqParts(s, dir)
    val scored = adcScored(codes, adc)
    // salted two-phase shortlist: the ADC scan ranks the whole corpus per
    // probe, so the per-probe window is fed by the salted local top-R first
    val order = Seq(col("adist").asc, col("neighbor_id"))
    val wLocal = Window
      .partitionBy(col("probe_id"), pmod(hash(col("neighbor_id")), lit(SaltBuckets)))
      .orderBy(order: _*)
    val survivors = scored.withColumn("rk", row_number().over(wLocal))
      .filter(col("rk") <= Refine).drop("rk")
    val wGlobal = Window.partitionBy("probe_id").orderBy(order: _*)
    val short = survivors.withColumn("rn", row_number().over(wGlobal))
      .filter(col("rn") <= Refine)
      .select("probe_id", "neighbor_id")
    refineExact(s, dir, short)
  }


  /** IVF+PQ composed index with exact refine — the production ANN shape
    * (FAISS IVFPQ + refine): the IVF side PRUNES candidates (only vectors
    * in the probe's nprobe nearest spherical cells are considered), the PQ
    * side ranks them from the compressed code table via ADC, and the
    * refine stage re-scores only the Refine-deep shortlist against the
    * original vectors — so the scan touches neither the full corpus nor
    * (except for |probes|·Refine rows) any original vector. All three
    * stages reuse the exact shared machinery of their standalone queries
    * (ivfParts/IvfCellsCte, pqParts/PqCteSql, refineExact/RefineSql), so
    * this query PROVES the composition rather than reimplementing it.
    * Measured recall@5 vs brute force: 0.88 (was 0.08 with label cells and
    * unnormalized unrefined PQ); AnnRecallSpec pins ≥ 0.6.
    *
    * Scale: centroids are |cells|·d (broadcast), the probe assignment
    * |probes|·|cells| (broadcast), the ADC table |probes|·M·K (broadcast);
    * the one data-sized pass is the code-table scan, restricted cell-first
    * — at 100 TB the code table is lake-partitioned by cell and the
    * restriction becomes partition PRUNING, reading nprobe/|cells| of it.
    */
  val ivfpqTopK: QueryDef = QueryDef(
    "ann_ivfpq_topk",
    s"""WITH $VnCte,
       |$IvfCellsCte,
       |$PqCteSql,
       |scored AS MATERIALIZED (
       |  SELECT pc.probe_id, cd.vec_id AS neighbor_id, $AdistSql AS adist
       |  FROM codes cd
       |  JOIN cells cl ON cl.vec_id = cd.vec_id
       |  JOIN pcells pc ON pc.cell = cl.cell
       |$AdcJoinSql
       |  WHERE cd.vec_id <> pc.probe_id AND a0.probe_id = pc.probe_id),
       |short AS MATERIALIZED (
       |  SELECT probe_id, neighbor_id FROM (
       |    SELECT probe_id, neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY adist, neighbor_id) AS rn
       |    FROM scored) t
       |  WHERE rn <= $Refine),
       |$RefineSql""".stripMargin) { (s, dir) =>
    val (codes, adc) = pqParts(s, dir)
    val (cells, pcells) = ivfParts(s, dir)
    val scored = adcScored(
      codes.join(cells, "vec_id")
        .join(broadcast(pcells.select(col("cell"), col("probe_id").as("cpid"))),
          Seq("cell")),
      adc, restrictProbe = Some("cpid"))
    // candidates are cell-bounded by construction — plain per-probe window
    val w = Window.partitionBy("probe_id").orderBy(col("adist").asc, col("neighbor_id"))
    val short = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= Refine)
      .select("probe_id", "neighbor_id")
    refineExact(s, dir, short)
  }

  private val KnnK = 3

  /** All-kNN self-join — every corpus vector's top-k neighbors, the BATCH
    * ANN shape the probe queries don't cover (near-dup graph construction,
    * diversity analysis, semantic clustering prep all start from it).
    * Since round 9 candidates come from the TRAINED spherical cells (the
    * ivf_topk machinery, shared caches): each vector probes its top-nprobe
    * cells and scores the cells' members by exact cosine — measured
    * recall@3 0.63 vs 0.47 for the sign-bucket multiprobe it replaces, at
    * comparable candidate volume. A pair (a, b) meets at most once (b
    * belongs to exactly ONE cell), so no dedup shuffle; vectors whose
    * probed cells hold fewer than k cohabitants emit fewer rows,
    * deterministically on both engines.
    *
    * Scale: candidates per vector = nprobe · cell-occupancy, and the
    * planner holds occupancy ≈ SemTarget constant by growing the cell
    * count with the corpus — total pair volume O(n), never n². The
    * all-vector probe assignment is the k-means assignment cost O(n·k·d)
    * (FAISS's own training/assignment shape), collapsed map-side to ONE
    * row per (vector, probe) via the collect-sort-slice aggregation — no
    * n·k window shuffle. The oracle mirrors the cell algorithm (like every
    * LSH oracle here), so the hash gate checks the REAL plan.
    */
  val knnJoin: QueryDef = QueryDef(
    "ann_knn_join",
    s"""WITH $VnCte,
       |$IvfCellsCte,
       |acells AS MATERIALIZED (
       |  SELECT vec_id, cell FROM (
       |    SELECT n.vec_id, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY n.vec_id
       |        ORDER BY list_dot_product(n.en, c.ce) DESC, c.cell) AS rn
       |    FROM vn n, icarr c) t
       |  WHERE rn <= $NProbe),
       |scored AS MATERIALIZED (
       |  SELECT a.vec_id, cl.vec_id AS neighbor_id, ${cosSql("va.e", "vb.e")} AS cosine
       |  FROM acells a
       |  JOIN cells cl ON cl.cell = a.cell AND cl.vec_id <> a.vec_id
       |  JOIN v va ON va.vec_id = a.vec_id
       |  JOIN v vb ON vb.vec_id = cl.vec_id)
       |SELECT vec_id, neighbor_id, cosine, rank FROM (
       |  SELECT vec_id, neighbor_id, cosine,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM scored) t
       |WHERE rank <= $KnnK""".stripMargin) { (s, dir) =>
    val k = ivfCellsFor(Tables.embeddings(s, dir).count())
    val nprobe = knnProbesFor(k) // √cells: every vector probes, see above
    // the O(n²) guard: EVERY vector pays nprobe·occupancy pairs, so the
    // all-corpus law must stay capped — a call-site regression to the
    // probe-query law (cells/8, unbounded) fails HERE at bench/scale SFs
    // instead of silently going quadratic (the r9 83×-envelope incident)
    require(nprobe <= 8,
      s"all-corpus kNN nprobe must stay capped at 8, got $nprobe for $k cells")
    val carr = ivfCarr(s, dir, k)
    val (cells, _) = ivfParts(s, dir)
    val v = normalized(s, dir)
    // every vector's top-nprobe cells, map-side collapsed: collect the k
    // candidate scores per vector, sort, slice — ORDER BY (dot desc, cell)
    // as a sort_array over (-dot, cell) structs
    val acells = v.select(col("vec_id"), col("en"))
      .join(broadcast(carr))
      .groupBy("vec_id")
      .agg(slice(sort_array(collect_list(struct(
          (-Vec.dot(col("en"), col("ce"))).as("nd"), col("cell")))), 1, nprobe).as("top"))
      .select(col("vec_id"),
        explode(transform(col("top"), x => x.getField("cell"))).as("cell"))
    val scored = acells
      .join(cells.select(col("vec_id").as("neighbor_id"), col("cell")), Seq("cell"))
      .filter(col("vec_id") =!= col("neighbor_id"))
      .join(v.select(col("vec_id"), col("e").as("ea"), col("nrm").as("na")), Seq("vec_id"))
      .join(v.select(col("vec_id").as("neighbor_id"), col("e").as("eb"), col("nrm").as("nb")),
        Seq("neighbor_id"))
      .select(col("vec_id"), col("neighbor_id"),
        Vec.cosinePre(Vec.dot(col("ea"), col("eb")), col("na"), col("nb")).as("cosine"))
    val w = Window.partitionBy("vec_id").orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= KnnK)
      .select("vec_id", "neighbor_id", "cosine", "rank")
  }

  /** ORACLE-side cluster count: 8 = semKFor(500), static only because the
    * DuckDB oracle must be static SQL — the live plan derives K from the
    * corpus count (the signBitsFor precedent). With K fixed, the pair
    * stage's Σ cluster² ≈ n²/K work is QUADRATIC in the corpus (measured:
    * 4.4× wall at 10× data); holding cluster size ≈ SemTarget constant by
    * growing K ∝ n makes it linear — exactly how the SemDeDup paper runs
    * n ≈ 10⁹ (K = 50 000). The two coincide at the oracle SF, so the hash
    * gate keeps proving the runtime-K plan.
    */
  private val SemK = 8
  private val SemTarget = 64
  def semKFor(n: Long): Long = math.max(1L, (n + SemTarget - 1) / SemTarget)
  private val SemTau = 0.35 // shared with dd_embed_cosine's near-dup bar

  /** The cluster-assignment table (vec_id, e, nrm, cid), memoized and
    * persisted per (session, dir) — dd_semdedup references it THREE times
    * (both pair-join sides and the verdict join); without the cache each
    * reference re-runs the K×d broadcast + argmax, and AQE's exchange
    * reuse only collapses two of the three at runtime (measured: 2 BNLJs
    * survive in the final adaptive plan). The persist makes one-assignment-
    * pass a CONTRACT of the operator, not an optimizer outcome —
    * shingleBase's memo-and-persist pattern.
    */
  private def semAssigned(s: org.apache.spark.sql.SparkSession, dir: String) =
    PlanCache.cached(s, dir, "sem_assign") {
      // corpus-sized K (control-plane count, parquet footer metadata)
      val k = semKFor(Tables.embeddings(s, dir).count())
      val v = Tables.embeddings(s, dir)
        .select(col("vec_id"), Vec.toDouble(col("embedding")).as("e"))
        .withColumn("nrm", Vec.dot(col("e"), col("e")))
      val cents = v.filter(col("vec_id") < k)
        .select(col("vec_id").as("cid"), col("e").as("ce"), col("nrm").as("cnrm"))
      // argmax by (cosine desc, cid asc) as a map-side max_by aggregation —
      // all K candidates of a vec_id sit in one partition after the
      // broadcast join, so the exchange carries n winner rows, not n×K.
      // SCALAR max_by (cid only) + an n-row join-back for the vector: the
      // struct form dragged the 64-dim array through every aggregation
      // buffer (the PQ-encode 72 s → 2 s cost class; semdedup's 10×
      // first-run was 28 s for the same reason)
      v.join(broadcast(cents))
        .groupBy(col("vec_id"))
        .agg(max_by(col("cid"),
          struct(Vec.cosinePre(Vec.dot(col("e"), col("ce")), col("nrm"), col("cnrm")),
            -col("cid"))).as("cid"))
        .join(v, Seq("vec_id"))
        .select(col("vec_id"), col("e"), col("nrm"), col("cid"))
    }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    * the embedding corpus, then compare vectors ONLY within their cluster
    * and drop all but one member of each near-identical group (cosine ≥
    * τ). The published result: clustering prunes the pair space to
    * Σ cluster² while catching the semantic duplicates sign-LSH bucketing
    * (dd_embed_cosine) can miss when a near-dup pair straddles a
    * hyperplane — clusters adapt to data density, hyperplanes don't.
    * Keeper rule: within a cluster, the LOWEST vec_id of any qualifying
    * pair survives (the same deterministic first-occurrence rule as
    * dd_span_dedup and the E66 greedy keeper; the paper's
    * farthest-from-centroid choice is the same plan with a different
    * ORDER BY). Output is the per-vector verdict (vec_id, cluster, kept).
    *
    * Centroids here are the K seed vectors (vec_id < K) — the fixed-seed
    * assignment round shared with cu_kmeans; the production recipe chains
    * cu_kmeans' Lloyd iterations first and feeds ITS centroid table to
    * the same assignment join (identical plan shape, K×d broadcast).
    *
    * Scale: assignment is one broadcast of K×d against the corpus with a
    * map-side max_by collapse (cu_kmeans' argmax shape — n rows reach the
    * exchange, not n×K), computed ONCE and persisted (semAssigned) since
    * three plan branches consume it; the pair join is ONE shuffle on the cluster id
    * with Σ cluster² work — K grows ∝ n holding cluster size constant, so
    * the pair stage stays linear (the SemDeDup paper runs n ≈ 10⁹ with
    * K = 50 000 exactly this way); the verdict is a left anti-join back
    * on vec_id, hash-sharded.
    */
  val semDedup: QueryDef = QueryDef(
    "dd_semdedup",
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |c AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < $SemK),
       |a AS (SELECT vec_id, e, cid FROM (
       |  SELECT v.vec_id, v.e, c.cid,
       |    ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |                       ORDER BY ${cosSql("v.e", "c.ce")} DESC, c.cid) AS rn
       |  FROM v, c) t WHERE rn = 1),
       |removed AS (
       |  SELECT DISTINCT y.vec_id AS id_b
       |  FROM a x JOIN a y ON x.cid = y.cid AND x.vec_id < y.vec_id
       |  WHERE ${cosSql("x.e", "y.e")} >= $SemTau)
       |SELECT a.vec_id, a.cid AS cluster, r.id_b IS NULL AS kept
       |FROM a LEFT JOIN removed r ON a.vec_id = r.id_b""".stripMargin) { (s, dir) =>
    val assigned = semAssigned(s, dir)
    val removed = assigned.as("x")
      .join(assigned.as("y"),
        col("x.cid") === col("y.cid") && col("x.vec_id") < col("y.vec_id"))
      .filter(Vec.cosinePre(Vec.dot(col("x.e"), col("y.e")),
        col("x.nrm"), col("y.nrm")) >= SemTau)
      .select(col("y.vec_id").as("id_b")).distinct()
    assigned
      .join(removed, col("vec_id") === col("id_b"), "left")
      .select(col("vec_id"), col("cid").as("cluster"), col("id_b").isNull.as("kept"))
  }

  // ---- Graph ANN: beam search over a cell-local kNN graph ----------------

  /** Graph out-degree: each vector keeps its top-M exact-cosine neighbors
    * WITHIN its trained cell. Fixed by design — the defining property of a
    * graph index is that SEARCH cost depends on (M, ef, rounds), never on
    * the corpus size; capacity scales by growing the cell count (the same
    * planner law every tier here rides), not by fattening the graph.
    */
  private[analytics] val GraphM = 4
  /** Beam width (HNSW's efSearch): candidates kept alive between rounds. */
  private[analytics] val BeamEf = 8
  /** Entry points PER PROBED CELL (r14, the r13 verdict ask #4): the walk
    * seeds at each probed cell's MEDOID (argmax dot against the trained
    * centroid) AND its ANTIPODE — the member farthest from the medoid
    * (argmin dot against the medoid's unit vector, ties lowest id). One
    * entry point anchors the whole walk to the centroid's immediate
    * neighborhood, and on coarsely-trained cells (the slice-trained
    * incremental tier: 7 cells over 10 clusters) a merged cell's
    * within-cell kNN graph splits into per-cluster COMPONENTS the beam
    * cannot cross — measured r13 clustered recall 0.64, unchanged by a
    * second near-centroid seed. The antipode lands in the opposite
    * cluster of a merged cell by construction (inter-cluster cosine ≈ 0
    * vs intra ≈ 0.9), giving the beam one seed per component for a 2×
    * constant in the candidate law (≤ GraphEntries·nprobe + rounds·ef·M —
    * still corpus-size-independent).
    */
  private[analytics] val GraphEntries = 2
  /** Expansion rounds (graph hops). Static on BOTH engines — unlike the
    * corpus-sized knobs (bits/cells/K) there is no live/oracle split to
    * reconcile: hop count is a search-time constant at any corpus size.
    */
  private[analytics] val BeamRounds = 3

  /** The cell-local kNN graph: (src, dst) edges, each vector's top-GraphM
    * cohabitants by exact cosine (ties by neighbor id). Built once per
    * (session, dir) like every index artifact. Cell blocking bounds the
    * pair work to Σ|cell|² = n · occupancy — linear, since the planner
    * grows the cell count with the corpus (ivfCellsFor) — and the windowed
    * top-M shuffles on src only. Production note: NN-descent builds the
    * same graph in O(n·M·iters) without the within-cell quadratic; the
    * cell-blocked exact build is chosen here because it is deterministic
    * (oracle-mirrorable) and its cost class is already the knnJoin's.
    */
  /** Fail-loud occupancy guard for the graph tier's cell-blocked pair
    * stages (the r9 83×-envelope lesson applied at BUILD time): Σ|cell|²
    * is linear only while the planner's occupancy law holds, and a
    * duplicate-heavy embedding corpus concentrates mass in few cells —
    * exactly the failure mode AnnLake's salted postings absorb on the
    * STORAGE side, but salting cannot cap the within-cell PAIR work a
    * graph build pays. Rather than silently going quadratic on a hot
    * cell, every build refuses past the salting threshold and names the
    * fix (upstream semantic dedup — dd_semdedup / dd_embed_cosine, the
    * SemDeDup pipeline order — or a retrain at a larger cell count).
    */
  private[analytics] def requireBoundedOccupancy(
      assignment: org.apache.spark.sql.DataFrame, what: String,
      cap: Long = AnnLake.DefaultSaltTarget.toLong): Unit = {
    val hot = assignment.groupBy("cell").count()
      .agg(coalesce(max(col("count")), lit(0L))).collect()(0).getLong(0)
    require(hot <= cap,
      s"$what: hottest cell holds $hot members (> $cap) — the within-cell " +
        "pair stage would go quadratic on it; semantically dedup the corpus " +
        "first (dd_semdedup / dd_embed_cosine) or retrain with more cells")
  }

  private[analytics] def graphEdges(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    PlanCache.cached(s, dir, "ann_graph_edges") {
      val (cells, _) = ivfParts(s, dir)
      requireBoundedOccupancy(cells, "graphEdges")
      val v = normalized(s, dir)
      topMEdges(cells.join(v.select(col("vec_id"), col("e"), col("nrm")), Seq("vec_id")))
    }

  /** Within-cell top-GraphM edges of `mem` (cell, vec_id, e, nrm) — the
    * one pair-ranking every graph build runs, in-plan and lake alike
    * (ties by dst id).
    */
  private[analytics] def topMEdges(
      mem: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val pairs = mem.as("a")
      .join(mem.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"),
        Vec.cosinePre(Vec.dot(col("a.e"), col("b.e")),
          col("a.nrm"), col("b.nrm")).as("cosine"))
    val w = Window.partitionBy("src").orderBy(col("cosine").desc, col("dst"))
    pairs.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= GraphM)
      .select("src", "dst")
  }

  /** Per-cell entry points (the search's "layer 0 seeds"): the cell
    * MEDOID — highest dot against the trained centroid, ties lowest id —
    * plus its ANTIPODE — the member with the LOWEST dot against the
    * medoid's unit vector, ties lowest id (see [[GraphEntries]]: the
    * second seed exists to reach the other connected component of a
    * merged cell's within-cell graph, which a second near-centroid seed
    * cannot). Up to GraphEntries distinct rows per cell (a one-member
    * cell's antipode IS its medoid).
    */
  /** The ONE medoid+antipode derivation (rows of (cell, entry)) both the
    * in-plan walk and the lake tier's array table build from — a single
    * source for the windows and tie-breaks, so the spec-pinned
    * lake ≡ beam identity cannot drift through a one-sided edit.
    * `memEn` is (cell, vec_id, en); `cents` is (cell, ce).
    */
  private[analytics] def entryRowsOf(memEn: org.apache.spark.sql.DataFrame,
      cents: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val scored = memEn.join(broadcast(cents), Seq("cell"))
      .select(col("cell"), col("vec_id"), col("en"),
        Vec.dot(col("en"), col("ce")).as("score"))
    val wMed = Window.partitionBy("cell")
      .orderBy(col("score").desc, col("vec_id"))
    val med = scored.withColumn("rn", row_number().over(wMed))
      .filter(col("rn") === 1)
      .select(col("cell"), col("vec_id").as("med_id"), col("en").as("med_en"))
    val wAnti = Window.partitionBy("cell")
      .orderBy(col("adot").asc, col("vec_id"))
    val anti = scored
      .join(broadcast(med.select(col("cell"), col("med_en"))), Seq("cell"))
      .select(col("cell"), col("vec_id"),
        Vec.dot(col("en"), col("med_en")).as("adot"))
      .withColumn("rn", row_number().over(wAnti))
      .filter(col("rn") === 1)
      .select(col("cell"), col("vec_id").as("entry"))
    med.select(col("cell"), col("med_id").as("entry"))
      .unionByName(anti).distinct()
  }

  private[analytics] def cellMedoids(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    PlanCache.cached(s, dir, "ann_graph_medoids") {
      val k = ivfCellsFor(Tables.embeddings(s, dir).count())
      val (cells, _) = ivfParts(s, dir)
      val carr = ivfCarr(s, dir, k)
      entryRowsOf(
        cells.join(normalized(s, dir).select(col("vec_id"), col("en")), Seq("vec_id")),
        carr)
    }

  /** Where one beam walk reads from: the probes (probe_id, pe, pnrm), the
    * round-0 entry rows (probe_id, nid), the candidates' vectors
    * (`vectors(cand)` → nid, e, nrm) and the beam's neighbour rows
    * (`neighbours(beam)` → probe_id, nid). [[beamWalk]] is the one loop
    * over any of them.
    *
    * `pinDelta` is the back end's pin shape, chosen per back end because
    * each was measured on its own:
    *  - in-plan (false): each round checkpoints the WHOLE scored set. The
    *    rounds re-derive everything from two plain frames, so the
    *    whole-set checkpoint keeps each round's window input one
    *    materialized scan; the delta shape measured slower here (1.1 →
    *    1.9 s at sf0.1).
    *  - lake (true): every fetch is a `readOverlapping` key read, which
    *    collects its keys on the driver, so the frames those reads consume
    *    (beam, fresh) are checkpointed first and each round pins only its
    *    scored DELTA; the scored set stays a union of ≤ rounds+1
    *    checkpointed frames and nothing upstream re-runs.
    */
  private[analytics] final case class BeamSource(
      probes: org.apache.spark.sql.DataFrame,
      entry: org.apache.spark.sql.DataFrame,
      vectors: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      neighbours: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      pinDelta: Boolean)

  /** The beam search — rank the beam, expand it, anti-join the unseen,
    * score them, union, final top-k — exposed with its cumulative
    * candidate set so the spec can pin the candidate-volume law (|scored|
    * per probe ≤ GraphEntries·nprobe + rounds·ef·M — independent of the
    * corpus size) for every back end.
    */
  private[analytics] def beamWalk(src: BeamSource)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    def pin(df: org.apache.spark.sql.DataFrame) =
      if (src.pinDelta) df.localCheckpoint(true) else df
    // exact cosine of a candidate set against its probes — every scored
    // row costs one dim-length fold; the law bounds how many there are
    def score(cand: org.apache.spark.sql.DataFrame) = {
      val vecs = src.vectors(cand)
      cand.join(broadcast(src.probes), Seq("probe_id"))
        .join(vecs, Seq("nid"))
        .select(col("probe_id"), col("nid"),
          Vec.cosinePre(Vec.dot(col("pe"), col("e")), col("pnrm"), col("nrm")).as("cosine"))
    }
    // every round pins (which frames: BeamSource.pinDelta), so the
    // iterated plan never nests BeamRounds joins deep
    var sc = score(src.entry).localCheckpoint(true)
    for (_ <- 1 to BeamRounds) {
      val beamW = Window.partitionBy("probe_id")
        .orderBy(col("cosine").desc, col("nid"))
      val beam = pin(sc.withColumn("rn", row_number().over(beamW))
        .filter(col("rn") <= BeamEf).select("probe_id", "nid"))
      val expanded = src.neighbours(beam).distinct()
      // only UNSEEN candidates pay a scoring fold (and the anti-join keeps
      // the cumulative set a set, so the final window is deterministic)
      val fresh = pin(expanded.join(sc.select("probe_id", "nid"),
        Seq("probe_id", "nid"), "left_anti"))
      sc =
        if (src.pinDelta) sc.union(score(fresh).localCheckpoint(true))
        else sc.union(score(fresh)).localCheckpoint(true)
    }
    val w = Window.partitionBy("probe_id").orderBy(col("cosine").desc, col("nid"))
    val result = sc.filter(col("nid") =!= col("probe_id"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= LshK)
      .select(col("probe_id"), col("nid").as("neighbor_id"), col("cosine"), col("rank"))
    (sc, result)
  }

  /** The in-plan walk: probes and vectors from the normalized corpus,
    * entries from the probed cells' medoids, neighbours from the cached
    * edge table.
    */
  private[analytics] def graphBeamParts(s: org.apache.spark.sql.SparkSession,
      dir: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val v = normalized(s, dir)
    val (_, pcells) = ivfParts(s, dir)
    val edges = graphEdges(s, dir)
    beamWalk(BeamSource(
      probes = v.filter(col("vec_id") < ProbeCount)
        .select(col("vec_id").as("probe_id"), col("e").as("pe"), col("nrm").as("pnrm")),
      entry = pcells.join(cellMedoids(s, dir), Seq("cell"))
        .select(col("probe_id"), col("entry").as("nid")).distinct(),
      vectors = _ => v.select(col("vec_id").as("nid"), col("e"), col("nrm")),
      neighbours = beam => beam.join(edges, beam("nid") === edges("src"))
        .select(col("probe_id"), col("dst").as("nid")),
      pinDelta = false))
  }

  /** The generated beam rounds — one CTE triple per hop, the tx_bpe
    * precedent (the oracle is GENERATED over the same round count the live
    * loop runs, so deepening the search regenerates the proof).
    */
  private def beamRoundCtes: String = (1 to BeamRounds).map { r =>
    s"""beam$r AS (SELECT probe_id, nid FROM (
       |  SELECT probe_id, nid,
       |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cosine DESC, nid) AS rn
       |  FROM sc${r - 1}) t WHERE rn <= $BeamEf),
       |fr$r AS (SELECT x.probe_id, x.nid FROM (
       |    SELECT DISTINCT b.probe_id, e.dst AS nid
       |    FROM beam$r b JOIN gedges e ON e.src = b.nid) x
       |  LEFT JOIN sc${r - 1} s ON s.probe_id = x.probe_id AND s.nid = x.nid
       |  WHERE s.nid IS NULL),
       |sc$r AS MATERIALIZED (
       |  SELECT * FROM sc${r - 1}
       |  UNION ALL
       |  SELECT n.probe_id, n.nid, ${cosSql("p.pe", "x.e")} AS cosine
       |  FROM fr$r n
       |  JOIN pv p ON p.probe_id = n.probe_id
       |  JOIN v x ON x.vec_id = n.nid)""".stripMargin
  }.mkString(",\n")

  /** Graph-based ANN — beam search over a cell-local kNN graph (the HNSW /
    * DiskANN family, reduced to its deterministic core): each probe starts
    * at the MEDOIDS of its top-nprobe trained cells and walks the graph
    * for BeamRounds hops, keeping the best BeamEf candidates alive and
    * scoring only UNSEEN neighbors; the final top-k re-ranks the visited
    * set by exact cosine.
    *
    * Why a graph tier at all, next to IVF: an IVF probe pays
    * nprobe·occupancy exact scores — bounded only because the planner
    * grows the cell count. The graph walk pays ≤ GraphEntries·nprobe + rounds·ef·M
    * scores PER PROBE at ANY corpus size (the spec pins the law): capacity
    * scaling moves entirely into the one-off graph build. That is the
    * published trade (HNSW/DiskANN: big build, O(ef·M·hops) search) — and
    * the reduction here keeps every step deterministic (ties by id,
    * medoid entries, within-cell edges) so the DuckDB oracle mirrors the
    * walk hop for hop through GENERATED round CTEs, like the BPE trainer.
    *
    * Scale shape: the build is the knnJoin cost class (cell-blocked pairs,
    * linear by the occupancy law) and persists as a (src → dst[]) posting
    * table at 100 TB (the AnnLake pattern — not duplicated here); the
    * search is |probes|·ef·M rows a round through a broadcast-probe join —
    * no corpus-sized exchange anywhere after the build.
    */
  /** The walk's CTE block, parameterized ONLY by which cell table feeds
    * it: medoid entries, within-cell top-M edges, seed scoring and the
    * generated beam rounds all reference the `cells`/`pcells`/`icarr`
    * CTEs its prefix defines — so the full-corpus oracle (IvfCellsCte)
    * and the slice-trained incremental oracle (AnnLake.SliceCellsCte)
    * share this text VERBATIM.
    */
  private[analytics] def graphWalkSql: String =
    s"""pv AS (SELECT vec_id AS probe_id, e AS pe FROM v WHERE vec_id < $ProbeCount),
       |med AS MATERIALIZED (SELECT cell, vec_id, en FROM (
       |  SELECT m.cell, m.vec_id, n.en,
       |    ROW_NUMBER() OVER (PARTITION BY m.cell
       |      ORDER BY list_dot_product(n.en, c.ce) DESC, m.vec_id) AS rn
       |  FROM cells m JOIN vn n ON n.vec_id = m.vec_id
       |  JOIN icarr c ON c.cell = m.cell) t WHERE rn = 1),
       |apo AS MATERIALIZED (SELECT cell, vec_id FROM (
       |  SELECT m.cell, m.vec_id,
       |    ROW_NUMBER() OVER (PARTITION BY m.cell
       |      ORDER BY list_dot_product(n.en, d.en) ASC, m.vec_id) AS rn
       |  FROM cells m JOIN vn n ON n.vec_id = m.vec_id
       |  JOIN med d ON d.cell = m.cell) t WHERE rn = 1),
       |medoid AS MATERIALIZED (SELECT DISTINCT cell, entry FROM (
       |  SELECT cell, vec_id AS entry FROM med
       |  UNION ALL SELECT cell, vec_id AS entry FROM apo) u),
       |gedges AS MATERIALIZED (SELECT src, dst FROM (
       |  SELECT a.vec_id AS src, b.vec_id AS dst,
       |    ROW_NUMBER() OVER (PARTITION BY a.vec_id
       |      ORDER BY ${cosSql("va.e", "vb.e")} DESC, b.vec_id) AS rn
       |  FROM cells a JOIN cells b ON b.cell = a.cell AND b.vec_id <> a.vec_id
       |  JOIN v va ON va.vec_id = a.vec_id
       |  JOIN v vb ON vb.vec_id = b.vec_id) t WHERE rn <= $GraphM),
       |sc0 AS MATERIALIZED (
       |  SELECT c.probe_id, c.nid, ${cosSql("p.pe", "x.e")} AS cosine FROM (
       |    SELECT DISTINCT pc.probe_id, m.entry AS nid
       |    FROM pcells pc JOIN medoid m ON m.cell = pc.cell) c
       |  JOIN pv p ON p.probe_id = c.probe_id
       |  JOIN v x ON x.vec_id = c.nid),
       |$beamRoundCtes
       |SELECT probe_id, nid AS neighbor_id, cosine, rank FROM (
       |  SELECT probe_id, nid, cosine,
       |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cosine DESC, nid) AS rank
       |  FROM sc$BeamRounds WHERE nid <> probe_id) t
       |WHERE rank <= $LshK""".stripMargin

  val graphBeam: QueryDef = QueryDef(
    "ann_graph_beam",
    s"""WITH $VnCte,
       |$IvfCellsCte,
       |$graphWalkSql""".stripMargin) { (s, dir) =>
    graphBeamParts(s, dir)._2
  }

  /** Force-build the session ANN index caches (PQ codebook + code table,
    * IVF cells) — CONSTRUCTION work Bench/TimeQuery prestage under their
    * own watchdog so the measured query is the probe, not the index build
    * (k13's contract: a daily job probes yesterday's index).
    */
  def ensureAnnIndexes(s: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val (codes, _) = pqParts(s, dir)
    codes.count()
    val (cells, _) = ivfParts(s, dir)
    cells.count()
    ()
  }

  /** Graph-tier construction (edges + medoids), prestaged like the other
    * index builds so the bench measures the WALK, not the build.
    */
  def ensureGraphIndex(s: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    graphEdges(s, dir).count()
    cellMedoids(s, dir).count()
    ()
  }

  val defs: Seq[QueryDef] =
    Seq(bruteForce, lshTopK, embedNearDup, ivfTopK, pqTopK, knnJoin, ivfpqTopK,
      semDedup, graphBeam)
}
