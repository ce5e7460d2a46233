package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Graph analytics over the order↔part bipartite graph derived from
  * `lineitem` — the second iterative-dataflow family next to
  * dd_components' label propagation. PageRank is the canonical "Spark
  * can do iterative graph work" operator: each iteration is one shuffle
  * (contributions grouped by destination) and the damping arithmetic.
  *
  * Determinism: the per-node contribution sum is the ONLY place
  * floating-point reduction order could diverge between engines — and a
  * double→DECIMAL cast would NOT fix it here (contributions like
  * rank/17 have no finite decimal expansion, and the two engines round
  * the 25th digit differently). Instead each contribution is QUANTIZED
  * to a fixed 1e-15 grid — `floor(x * 1e15)` is an exact double op at
  * these magnitudes (|x| ≤ 1 → products < 2^53) — summed as exact
  * integers, and scaled back. The quantization defines the operator
  * (deterministically), it doesn't approximate it. Everything else is a
  * fixed-order IEEE expression both engines evaluate identically, `e0`
  * literals forcing DOUBLE in the oracle. Fixed 3 iterations, unrolled
  * in the oracle CTE chain (a convergence-loop variant would
  * localCheckpoint per round — dd_components' pattern — and take a
  * postcondition oracle instead).
  */
object GraphQueries {

  private val Damping = 0.85
  private val TopN = 50

  /** The symmetric order↔part edge table, memo-and-CHECKPOINTED once per
    * (session, dir) with a PINNED layout — explicit-N hash partitioning on
    * the join key plus a within-partition sort, so both iterative
    * consumers (pagerank's contribution joins, BFS's frontier joins) read
    * it exchange-free AND sort-free every round; the explicit N keeps
    * AQE from coalescing the layout away (r17 — the keyless-repartition
    * persist was degraded to UnknownPartitioning by
    * `canChangeCachedPlanOutputPartitioning` and every iteration paid a
    * full re-exchange + re-sort of the edge table). N tracks
    * defaultParallelism, not a constant. The checkpoint is EAGER, so the
    * build runs exactly once: a lazy persist raced concurrent AQE stage
    * futures, which each recomputed the same cache partitions
    * (gr_pagerank, r17: 113 s of duplicated task time on the build run).
    */
  private[analytics] def symTable(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    PlanCache.frame(s, dir, "graph_sym") {
      val edges = Tables.lineitem(s, dir)
        .select((col("l_orderkey") * 2).as("src"), (col("l_partkey") * 2 + 1).as("dst"))
        .distinct()
      edges.unionByName(
        edges.select(col("dst").as("src"), col("src").as("dst")))
        .repartition(s.sparkContext.defaultParallelism, col("src"))
        .sortWithinPartitions("src")
        .localCheckpoint(true)
    }

  val pagerank: QueryDef = QueryDef(
    "gr_pagerank", {
      // AS MATERIALIZED on every CTE: DuckDB inlines single-reference
      // CTEs, so the unrolled r1→r2→r3 chain otherwise expands into a
      // nested join tree that re-derives sym/deg at every level — measured
      // >90 s (vs 1.4 s materialized) at sf0.01, and it single-handedly
      // blew the round-4 driver's correctness budget. Materialization
      // evaluates each iteration exactly once, like the Spark side's
      // persisted sym/deg.
      val iter = (i: Int) =>
        s"""r$i AS MATERIALIZED (
           |  SELECT e.dst AS node,
           |    (1.0e0 - ${Damping}e0) / s.n + ${Damping}e0 *
           |      (CAST(SUM(CAST(floor((r${i - 1}.rank / d2.deg) * 1.0e15) AS BIGINT))
           |            AS DOUBLE) / 1.0e15) AS rank
           |  FROM sym e
           |  JOIN r${i - 1} ON r${i - 1}.node = e.src
           |  JOIN deg d2 ON d2.node = e.src
           |  CROSS JOIN stats s
           |  GROUP BY e.dst, s.n)""".stripMargin
      s"""WITH edges AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey * 2 AS src, l_partkey * 2 + 1 AS dst
         |  FROM lineitem),
         |sym AS MATERIALIZED (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
         |deg AS MATERIALIZED (SELECT src AS node, COUNT(*) AS deg FROM sym GROUP BY src),
         |stats AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg),
         |r0 AS MATERIALIZED (SELECT node, 1.0e0 / s.n AS rank FROM deg CROSS JOIN stats s),
         |${iter(1)}, ${iter(2)}, ${iter(3)}
         |SELECT node, rank, pos FROM (
         |  SELECT node, rank,
         |    ROW_NUMBER() OVER (ORDER BY rank DESC, node) AS pos
         |  FROM r3) t
         |WHERE pos <= $TopN""".stripMargin
    }) { (s, dir) =>
    // Node ids are NUMERIC (even = order, odd = part): long join keys
    // shuffle a fraction of what 'o123'-style strings would. sym feeds
    // every iteration — see symTable (r17): layout-pinned, eagerly
    // checkpointed once per (session, dir), shared with gr_bfs_distance.
    // The historical keyless-repartition persist was degraded to
    // UnknownPartitioning by AQE and every iteration re-Exchanged AND
    // re-sorted the full edge table (~35 s task time, 60 MB re-shuffled
    // per run — plan committed in plans/r17); the lazy persist also raced
    // concurrent AQE stage futures into duplicated cache builds.
    val sym = GraphQueries.symTable(s, dir)
    val deg = sym.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    val stats = deg.agg(count(lit(1)).cast(DoubleType).as("n"))

    // contributions shuffle once per iteration; deg/rank ride the same
    // node-keyed exchange. The tiny stats row is broadcast.
    // r17 (guide §2.3/§3): the quantized contribution rank/deg depends
    // only on the SOURCE node, so it is computed on the node-sized
    // (prev ⋈ deg) frame BEFORE meeting sym — the historical shape
    // joined sym→prev and then the sym-SIZED intermediate →deg, paying a
    // second edge-sized join per iteration; and it attached the broadcast
    // stats scalar before the aggregate, carrying the constant `n`
    // through the contribution exchange on every edge row. Now the only
    // edge-sized operation per iteration is sym ⋈ contribs + the
    // groupBy(dst) exchange no layout can avoid; stats joins onto the
    // |nodes|-row aggregate. The per-edge quantization expression is
    // unchanged (floor((rank/deg)·1e15) as long), so summation grids —
    // and results — are bit-identical.
    def step(prev: DataFrame): DataFrame = {
      val contribs = prev.withColumnRenamed("node", "src")
        .join(deg.withColumnRenamed("node", "src"), "src")
        .select(col("src"),
          floor((col("rank") / col("deg")) * lit(1.0e15)).cast("long").as("cq"))
      sym
        .join(contribs, "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(col("cq")).as("contrib_q"))
        .join(broadcast(stats))
        .select(col("node"),
          ((lit(1.0) - lit(Damping)) / col("n") +
            lit(Damping) * (col("contrib_q").cast(DoubleType) / lit(1.0e15))).as("rank"))
    }

    val r0 = deg.join(broadcast(stats))
      .select(col("node"), (lit(1.0) / col("n")).as("rank"))
    val r3 = step(step(step(r0)))
    // rank the (already limited, <=TopN-row) result over a CONSTANT
    // partition key: same single-partition execution, but an explicit
    // partition spec, so the "WindowExec: No Partition Defined" warning
    // stays reserved for genuine accidental global windows. pmod(node,1)
    // is always 0 yet NON-FOLDABLE — a lit(0) spec gets constant-folded
    // out of the window and the warning returns.
    val w = Window.partitionBy(pmod(col("node"), lit(1)))
      .orderBy(col("rank").desc, col("node"))
    r3.orderBy(col("rank").desc, col("node")).limit(TopN)
      .withColumn("pos", row_number().over(w))
      .select("node", "rank", "pos")
  }

  /** Triangle count via DEGREE-ORIENTED wedge joins (the MapReduce-classic
    * from Suri & Vassilvitskii's "Counting Triangles and the Curse of the
    * Last Reducer", WWW'11). Orienting every undirected edge from its
    * lower-(degree, id) endpoint to the higher bounds each node's
    * out-degree by O(√m), so the wedge self-join materializes
    * Σ outdeg² = O(m^1.5) candidate wedges — a plain self-join on the
    * undirected edge set would blow up on exactly the high-degree nodes a
    * social graph always has (the "last reducer"). Each wedge (a→b, a→c)
    * closes iff {b,c} is an edge; the closing probe joins against the
    * canonical (min,max) edge table. Input: any DataFrame with two
    * numeric endpoint columns; self-loops and duplicate/reverse edges are
    * normalized away. Returns a 1-row (n_triangles) frame.
    * `TriangleSpec` proves equality with the brute-force u<v<w 3-join.
    */
  def triangleCount(edges: DataFrame, u: String, v: String): DataFrame = {
    val und = edges
      .select(least(col(u), col(v)).as("u"), greatest(col(u), col(v)).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
    val deg = und.select(col("u").as("n"))
      .unionByName(und.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val oriented = und
      .join(deg.select(col("n").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("deg").as("dv")), "v")
      .select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("u"))
          .otherwise(col("v")).as("src"),
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("v"))
          .otherwise(col("u")).as("dst"))
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(col("e1.dst").as("u"), col("e2.dst").as("v")) // u < v: canonical
    wedges.join(und, Seq("u", "v"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Global clustering coefficient: 3·triangles / wedges, with wedges =
    * Σ C(deg(v), 2) — one degree aggregation, no join beyond
    * triangleCount's own. The 1-row outputs cross-join (both sides are
    * scalars; the "cartesian" is 1×1 by construction).
    */
  def clusteringCoefficient(edges: DataFrame, u: String, v: String): DataFrame = {
    val und = edges
      .select(least(col(u), col(v)).as("u"), greatest(col(u), col(v)).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
    val wedges = und.select(col("u").as("n"))
      .unionByName(und.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
      .agg(sum(col("deg") * (col("deg") - 1) / 2).cast("long").as("n_wedges"))
    triangleCount(und, "u", "v").crossJoin(wedges)
      .select(col("n_triangles"), col("n_wedges"),
        when(col("n_wedges") === 0, lit(0.0))
          .otherwise(lit(3.0) * col("n_triangles") / col("n_wedges"))
          .as("coefficient"))
  }

  private val BfsSeeds = Seq(3L, 5L, 7L) // part nodes 1-3 (partkey*2+1)

  /** Multi-source BFS distance — the "how far is everything from these
    * seeds" primitive (reachability, influence radius, staleness hops)
    * that pagerank's value propagation and components' label propagation
    * do not answer. Frontier relaxation, 3 unrolled rounds: each round
    * unions the current distances with every neighbor's distance+1 and
    * keeps the per-node MIN — monotone (distances only shrink), so the
    * unrolled dataflow is exactly Bellman-Ford restricted to unit
    * weights. Output: every node within 3 hops of any seed, with its
    * exact hop distance.
    *
    * Scale: same skeleton as pagerank — the symmetric edge table persists
    * hash-partitioned on src once, each round is ONE shuffle (the
    * min-groupBy; the frontier join rides sym's cached layout), distances
    * are integers so the min is partial-aggregable map-side. A
    * convergence-loop variant localCheckpoints per round
    * (dd_components_star's pattern); a weighted variant swaps +1 for the
    * edge weight — same plan.
    */
  val bfsDistance: QueryDef = QueryDef(
    "gr_bfs_distance", {
      val iter = (i: Int) =>
        s"""d$i AS MATERIALIZED (
           |  SELECT node, MIN(dist) AS dist FROM (
           |    SELECT node, dist FROM d${i - 1}
           |    UNION ALL
           |    SELECT e.dst AS node, d.dist + 1 AS dist
           |    FROM sym e JOIN d${i - 1} d ON d.node = e.src) t
           |  GROUP BY node)""".stripMargin
      s"""WITH edges AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey * 2 AS src, l_partkey * 2 + 1 AS dst
         |  FROM lineitem),
         |sym AS MATERIALIZED (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
         |d0 AS MATERIALIZED (
         |  SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS dist FROM sym
         |  WHERE src IN (${BfsSeeds.mkString(", ")})),
         |${iter(1)},
         |${iter(2)},
         |${iter(3)}
         |SELECT node, dist FROM d3""".stripMargin
    }) { (s, dir) =>
    // the SHARED layout-pinned symmetric edge table (r17 — symTable):
    // one checkpointed copy per (session, dir) serves pagerank and BFS,
    // and the pinned (hash(src), sorted) layout makes each round's
    // frontier join exchange- and sort-free on the sym side (the old
    // keyless-repartition persist was AQE-degraded to UnknownPartitioning
    // — every round re-exchanged the edge table)
    val sym = GraphQueries.symTable(s, dir)
    val d0 = sym.filter(col("src").isin(BfsSeeds: _*))
      .select(col("src").as("node")).distinct()
      .withColumn("dist", lit(0L))
    // per-round localCheckpoint (dd_components' pattern): relax references
    // its input TWICE (keep ∪ neighbor+1), so an unchained plan re-expands
    // the frontier 2^rounds times — ScanAudit measured 30 echoed lineitem
    // scans before this cut (8 copies of d0 at 3 rounds)
    def relax(d: DataFrame, checkpoint: Boolean): DataFrame = {
      val r = d.unionByName(
        sym.join(d.withColumnRenamed("node", "src"), "src")
          .select(col("dst").as("node"), (col("dist") + 1).as("dist")))
        .groupBy("node").agg(min("dist").as("dist"))
      if (checkpoint) r.localCheckpoint(true) else r
    }
    // the last round stays declarative (its plan is the query's contract);
    // inner rounds materialize
    relax(relax(relax(d0, checkpoint = true), checkpoint = true), checkpoint = false)
  }

  val defs: Seq[QueryDef] = Seq(pagerank, bfsDistance)
}
