package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Q, Tables}
import graft.Tables.{load => t}

/** Iterative graph analytics expressed as relational passes — the
  * PageRank family (the other graph op, connected components, lives
  * with dedup clustering in `ext.Dedup.connectedComponents`).
  *
  * Scale posture: one PageRank iteration = one rank×edge equi-join +
  * one dst-keyed aggregation — linear in |E| per iteration, the
  * textbook distributed formulation (Pregel/GraphX compute exactly
  * this dataflow). Ranks stay (node, double) narrow; the edge table
  * never re-materializes. Determinism across engines: every iteration
  * rounds to 10 decimals (both engines sum doubles in unspecified
  * order; the per-iteration rounding grid absorbs ulp-level drift so
  * 10 iterations can't compound it), mirrored exactly in the oracle's
  * unrolled-CTE SQL.
  */
object Graph {

  /** Weighted PageRank over `edges` (src, dst, w) with `w` normalized
    * per src; `nodes` (node) fixes the universe so sinks and isolated
    * nodes keep receiving the teleport term. `n` is the node count
    * (bounded driver scalar, like the IVF centroid count). */
  def pageRank(nodes: DataFrame, edges: DataFrame, n: Long,
      iters: Int, damping: Double = 0.85,
      checkpointEvery: Int = 5): DataFrame = {
    val teleport = (1.0 - damping) / n
    // The edge table (often an expensive upstream join) is consumed
    // once per iteration AND the rank lineage is cut every
    // checkpointEvery rounds into separately-executed segments — one
    // lazy checkpoint keeps the edge build to a single computation.
    val e = edges.localCheckpoint(eager = false)
    var ranks = nodes.select(col("node"),
      round(lit(1.0 / n), 12).as("r"))
    for (i <- 1 to iters) {
      val contrib = ranks.join(e, col("node") === col("src"))
        .select(col("dst"), (col("r") * col("w")).as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("inflow"))
      ranks = nodes.join(contrib, col("node") === col("dst"), "left")
        .select(col("node"),
          round(lit(teleport) + lit(damping) * coalesce(col("inflow"), lit(0.0)),
            10).as("r"))
      // LAZY lineage truncation (values unchanged): without it the
      // logical plan nests one join+agg deeper per iteration and
      // Catalyst analysis goes superlinear — 30+ iterations stall in
      // the OPTIMIZER, not the executors. Lazy = zero extra jobs; the
      // final action materializes each cut stage-by-stage.
      if (i % checkpointEvery == 0 && i < iters)
        ranks = ranks.localCheckpoint(eager = false)
    }
    ranks
  }

  /** G1: PageRank over the nation-level trade graph — supplier nation →
    * customer nation, edge weight = revenue share of the source
    * nation's total (the "who funds whom" centrality). Edge build is
    * the q5-style star join; 10 iterations; output rounded to 8. */
  private val g1PageRank: Q = (s, dir) => {
    Tables.register(s, dir)
    val rev = s.sql(
      """SELECT s_nationkey AS src, c_nationkey AS dst,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS rv
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey, c_nationkey""".stripMargin)
    val edges = rev.select(col("src"), col("dst"),
      round(col("rv") / sum(col("rv")).over(Window.partitionBy(col("src"))),
        12).as("w"))
    val nodes = t(s, dir, "nation")
      .select(col("n_nationkey").as("node")).distinct()
    val n = nodes.count() // bounded: |nation| = 25
    pageRank(nodes, edges, n, iters = 10)
      .select(col("node"), round(col("r"), 8).as("rank"))
      .orderBy(col("node"))
  }

  /** Triangle counting by degree orientation (the MapReduce-era
    * Cohen/Suri-Vassilvitskii trick, what GraphFrames' triangleCount
    * compiles to): orient each undirected edge from its lower-(degree,
    * id) endpoint to the higher, so every triangle is counted exactly
    * once and per-node wedge fanout is bounded by O(√|E|) on skewed
    * graphs instead of the max degree. Wedges form via a src-keyed
    * self-equi-join (the orientation comparison is a residual
    * predicate, not a join condition); closing is a (v,w) equi-join
    * back to the oriented edge set. Input edges must be canonical
    * (u < v, distinct). */
  def triangleCounts(edges: DataFrame): DataFrame = {
    // The edge set is typically an expensive upstream join (the
    // co-purchase build) and is consumed by THREE subtrees (degree
    // count, degree re-attach, triangle close) — materialize it once;
    // likewise `oriented` feeds both wedge sides and the close.
    // Lazy checkpoints: the final action materializes each exactly
    // once instead of re-running the build per consumer.
    val e = edges.localCheckpoint(eager = false)
    val deg = e.select(col("u").as("n"))
      .union(e.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val ew = e
      .join(deg.select(col("n").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("d").as("dv")), Seq("v"))
    val fwd = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = ew.select(
      when(fwd, col("u")).otherwise(col("v")).as("src"),
      when(fwd, col("v")).otherwise(col("u")).as("dst"),
      when(fwd, col("dv")).otherwise(col("du")).as("dd"))
      .localCheckpoint(eager = false)
    val x = oriented.select(col("src"), col("dst").as("b"), col("dd").as("db"))
    val y = oriented.select(col("src"), col("dst").as("c"), col("dd").as("dc"))
    val wedges = x.join(y, Seq("src"))
      .filter(col("db") < col("dc") ||
        (col("db") === col("dc") && col("b") < col("c")))
      .select(col("src").as("a"), col("b"), col("c"))
    // Close with a SHUFFLED-HASH join, edge side as build (guide §3.1):
    // the wedge side is the giant one (Σ outdeg² rows ≫ |E|) and
    // sort-merge would SORT it after the exchange — the single largest
    // cost in the measured plan. Hash-building the |E|-sized side per
    // partition skips that sort entirely; per-partition build is |E|/P
    // rows (narrow), which scales with the cluster.
    val tri = wedges.join(
      oriented.select(col("src").as("b"), col("dst").as("c"))
        .hint("shuffle_hash"),
      Seq("b", "c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
      .orderBy(col("node"))
  }

  /** Bounded-hop BFS shortest paths from `src` over canonical
    * undirected edges (u < v): each hop is one frontier×adjacency
    * equi-join + one node-keyed min — linear in |E| per hop, the
    * Pregel dataflow (same shape as [[pageRank]]); distances stay
    * (node, long) narrow. Hop count is a constant, so the plan is a
    * fixed k-deep tree — no driver-side convergence checks. */
  def bfsDistances(edges: DataFrame, src: Long, maxHops: Int,
      checkpointEvery: Int = 5): DataFrame = {
    // The adjacency doubles the (often expensive) edge subtree and is
    // then consumed once PER HOP — materialize it once, lazily (the
    // final action computes it a single time; see triangleCounts).
    val adj = edges.select(col("u").as("s"), col("v").as("d"))
      .union(edges.select(col("v").as("s"), col("u").as("d")))
      .localCheckpoint(eager = false)
    var dist = edges.sparkSession.range(1)
      .select(lit(src).as("node"), lit(0L).as("dist"))
    for (i <- 1 to maxHops) {
      val next = dist.join(adj, col("node") === col("s"))
        .select(col("d").as("node"), (col("dist") + 1L).as("dist"))
      dist = dist.union(next)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
      if (i % checkpointEvery == 0 && i < maxHops)
        dist = dist.localCheckpoint(eager = false) // see pageRank note
    }
    dist
  }

  /** G3: 3-hop BFS distances from part 1 over the part co-purchase
    * graph. The oracle unrolls the same three relaxation rounds as
    * CTEs — a lost frontier edge or an off-by-one hop is a hash
    * fail. */
  private val g3Bfs: Q = (s, dir) => {
    val lp = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val edges = lp.as("a").join(lp.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .select(col("a.p").as("u"), col("b.p").as("v")).distinct()
    bfsDistances(edges, src = 1L, maxHops = 3)
      .orderBy(col("node"))
  }

  /** G2: per-node triangle counts over the part co-purchase graph
    * (parts appearing in the same order are linked). The oracle is the
    * naive id-ordered 3-way join — same exact counts, so any triangle
    * the oriented plan loses or double-counts is a hash fail. */
  private val g2Triangles: Q = (s, dir) => {
    val lp = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val edges = lp.as("a").join(lp.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .select(col("a.p").as("u"), col("b.p").as("v")).distinct()
    triangleCounts(edges)
  }

  /** Synchronous label propagation (community detection): every node
    * starts labeled with its own id; each round every node adopts the
    * most frequent label among its neighbors (self-loops keep isolated
    * or weakly-connected nodes voting for themselves), ties broken by
    * the smallest label. One round = one adjacency×label equi-join +
    * one (node, label) count + one per-node top-1 window — linear in
    * |E| per round, the Pregel dataflow again. All-integer vote
    * arithmetic, so cross-engine determinism needs no rounding grid at
    * all. `adj` is a directed neighbor list (both directions of each
    * undirected edge, plus self-loops). */
  def labelPropagation(nodes: DataFrame, adj: DataFrame,
      iters: Int, checkpointEvery: Int = 5): DataFrame = {
    val a = adj.localCheckpoint(eager = false) // see pageRank note
    var labels = nodes.select(col("node"), col("node").as("lbl"))
    for (i <- 1 to iters) {
      val votes = a.join(labels, col("s") === col("node"))
        .groupBy(col("d"), col("lbl")).agg(count(lit(1)).as("c"))
      val top = Window.partitionBy(col("d"))
        .orderBy(col("c").desc, col("lbl"))
      labels = votes.withColumn("rk", row_number().over(top))
        .filter(col("rk") === 1)
        .select(col("d").as("node"), col("lbl"))
      if (i % checkpointEvery == 0 && i < iters)
        labels = labels.localCheckpoint(eager = false) // see pageRank note
    }
    labels
  }

  /** G4: label-propagation communities over the SPARSIFIED nation
    * trade graph — each supplier nation keeps only its top-3 customer
    * nations by revenue (the dense 25×25 graph collapses to one
    * community in a single round; top-k sparsification is the standard
    * preprocessing). Edge build reuses the g1 revenue star join; the
    * oracle unrolls the same 4 synchronous rounds as CTEs, so a lost
    * vote or a wrong tie-break is a hash fail. */
  private val g4LabelProp: Q = (s, dir) => {
    Tables.register(s, dir)
    val rev = s.sql(
      """SELECT s_nationkey AS src, c_nationkey AS dst,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS rv
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey, c_nationkey""".stripMargin)
    val byRev = Window.partitionBy(col("src"))
      .orderBy(col("rv").desc, col("dst"))
    val top3 = rev.withColumn("rk", row_number().over(byRev))
      .filter(col("rk") <= 3).select(col("src"), col("dst"))
    val nodes = t(s, dir, "nation")
      .select(col("n_nationkey").as("node")).distinct()
    val adj = top3.select(col("src").as("s"), col("dst").as("d"))
      .union(top3.select(col("dst").as("s"), col("src").as("d")))
      .union(nodes.select(col("node").as("s"), col("node").as("d")))
      .distinct()
    labelPropagation(nodes, adj, iters = 4)
      .select(col("node"), col("lbl").as("community"))
      .orderBy(col("node"))
  }

  /** k-core extraction (Seidman 1983): repeatedly delete nodes of
    * degree < k until fixpoint — the standard dense-subgraph /
    * influence-backbone primitive. Each round is one degree
    * aggregation + two semi-joins, linear in |E|, and edges only
    * shrink; rounds is a CONSTANT so the plan is a fixed tree (the
    * [[bfsDistances]] convention — no driver-side convergence loop),
    * with a lazy checkpoint every `checkpointEvery` rounds to keep
    * lineage flat. checkpointEvery defaults to 1 (r14 measurement:
    * each un-checkpointed round references the previous round's tree
    * THREE times — the degree agg plus two semi-joins — so trees grow
    * 3^rounds between cuts and the DRIVER's analyze/plan time, not the
    * executors, dominated g5_kcore at 8–19 s of a ~9 s query; per-round
    * cuts hold planning flat, guide §7.3). Convergence is certified
    * IN-PLAN: the emitted
    * `converged` column is "no surviving node has degree < k", and the
    * oracle pins it `true`, so an unconverged round budget hash-fails
    * loudly instead of shipping a half-peeled core. */
  def kCore(edges: DataFrame, k: Int, rounds: Int,
      checkpointEvery: Int = 1): DataFrame = {
    def degrees(e: DataFrame): DataFrame =
      e.select(col("u").as("n")).unionAll(e.select(col("v").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("c"))
    var e = edges.localCheckpoint(eager = false)
    for (i <- 1 to rounds) {
      // r15 (guide §3.1/§2.4): filter by ANTI-joining the peeled
      // frontier (degree < k — SMALL, and empty once converged) instead
      // of semi-joining the survivor set (≈ all nodes). Every edge
      // endpoint appears in degrees(e), so anti(bad) ≡ semi(good)
      // row-for-row; but AQE broadcasts the small frontier, so the edge
      // set is no longer shuffled twice per round — the degree rollup
      // is the round's only |E|-sized exchange (was 3).
      // join on n directly (no per-side alias) so the two broadcast
      // exchanges canonicalize identically and ReuseExchange computes
      // the degree rollup once per round, not twice
      val bad = degrees(e).filter(col("c") < k).select(col("n"))
      e = e
        .join(bad, col("u") === col("n"), "left_anti")
        .join(bad, col("v") === col("n"), "left_anti")
      if (i % checkpointEvery == 0) e = e.localCheckpoint(eager = false)
    }
    val degF = degrees(e).localCheckpoint(eager = false)
    val conv = degF.agg(
      coalesce(min(col("c")), lit(k.toLong)).as("mn"))
    degF.crossJoin(broadcast(conv))
      .select(col("n").as("node"), col("c").as("deg"),
        (col("mn") >= k).as("converged"))
  }

  /** G5: 75-core of the part co-purchase graph (the g2 edge build).
    * The 8-round budget converges at every gate SF (measured: fixpoint
    * by round 5); the full unrolled-round DuckDB restatement is the
    * oracle, so a node peeled one round early or late hash-fails. */
  private val g5KCore: Q = (s, dir) => {
    val lp = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val edges = lp.as("a").join(lp.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .select(col("a.p").as("u"), col("b.p").as("v")).distinct()
    kCore(edges, k = 75, rounds = 8).orderBy(col("node"))
  }

  /** HITS hubs/authorities (Kleinberg JACM'99), weighted: a_k(v) =
    * Σ_{u→v} h_{k-1}(u)·w, h_k(u) = Σ_{u→v} a_k(v)·w, each vector
    * MAX-normalized per iteration (max, not L2 — no sqrt ulp crosses
    * the engine boundary) and rounded to 12 (the g1 grid: after
    * rounding both engines hold EXACTLY equal scores each round, so
    * double drift can't compound across iterations). One iteration =
    * two rank×edge equi-joins + two keyed aggs — linear in |E|, the
    * Pregel dataflow; the normalization scalars are one-row
    * crossJoins; lineage cut lazily per round (the pageRank rule —
    * without it Catalyst analysis goes superlinear in rounds). */
  def hits(nodes: DataFrame, edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1,
      s"hits needs at least one iteration to define authorities, got $iters")
    // Degenerate input (no edge touches the node set) would make the
    // max-normalization scalar NULL and silently publish NULL scores —
    // fail loudly instead, like connectedComponents does on its
    // contract violations.
    def guarded(m: org.apache.spark.sql.Column,
        which: String): org.apache.spark.sql.Column =
      when(m.isNotNull, m).otherwise(raise_error(lit(
        s"hits: no edges matched the node set ($which max is NULL)")))
    val e = edges.localCheckpoint(eager = false)
    var h = nodes.select(col("node"), lit(1.0).as("h"))
    var a = h.select(col("node"), col("h").as("a")) // set by iteration 1
    for (_ <- 1 to iters) {
      val araw = h.join(e, col("node") === col("src"))
        .groupBy(col("dst")).agg(sum(col("h") * col("w")).as("ar"))
      a = nodes.join(araw, col("node") === col("dst"), "left")
        .crossJoin(araw.agg(max(col("ar")).as("am")))
        .select(col("node"),
          round(coalesce(col("ar"), lit(0.0)) /
            guarded(col("am"), "authority"), 12).as("a"))
        .localCheckpoint(eager = false)
      val hraw = a.join(e, col("node") === col("dst"))
        .groupBy(col("src")).agg(sum(col("a") * col("w")).as("hr"))
      h = nodes.join(hraw, col("node") === col("src"), "left")
        .crossJoin(hraw.agg(max(col("hr")).as("hm")))
        .select(col("node"),
          round(coalesce(col("hr"), lit(0.0)) /
            guarded(col("hm"), "hub"), 12).as("h"))
        .localCheckpoint(eager = false)
    }
    nodes.join(h, "node").join(a, "node")
      .select(col("node"), round(col("h"), 8).as("hub"),
        round(col("a"), 8).as("authority"))
  }

  /** G6: HITS over the same revenue-weighted nation trade graph as G1
    * — hubs = nations whose suppliers fund important buyers,
    * authorities = nations whose customers attract important sellers
    * (the two sides PageRank's single score conflates). 5 iterations,
    * full unrolled-CTE DuckDB restatement. */
  private val g6Hits: Q = (s, dir) => {
    Tables.register(s, dir)
    val rev = s.sql(
      """SELECT s_nationkey AS src, c_nationkey AS dst,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS rv
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey, c_nationkey""".stripMargin)
    val edges = rev.select(col("src"), col("dst"),
      round(col("rv") / sum(col("rv")).over(Window.partitionBy(col("src"))),
        12).as("w"))
    val nodes = t(s, dir, "nation")
      .select(col("n_nationkey").as("node")).distinct()
    hits(nodes, edges, iters = 5).orderBy(col("node"))
  }

  /** Single-source shortest paths by synchronous Bellman-Ford rounds:
    * dist_k(v) = min(dist_{k-1}(v), min_{u→v}(dist_{k-1}(u) + cost)).
    * One round = one frontier×edge equi-join + one dst-keyed min —
    * linear in |E| per round, the Pregel dataflow (g3's BFS is the
    * cost≡1 special case). Costs are INTEGERS, so relaxation is exact
    * arithmetic in both engines — no float can reorder a min. Null
    * distance = not yet reached; the null/least interplay is spelled
    * as an explicit CASE because the engines' least() null rules are
    * not part of the shared dialect. */
  def sssp(nodes: DataFrame, edges: DataFrame, src: Long,
      rounds: Int): DataFrame = {
    val e = edges.localCheckpoint(eager = false)
    var dist = nodes.select(col("node"),
      when(col("node") === src, 0L).otherwise(lit(null).cast("long"))
        .as("d"))
    for (_ <- 1 to rounds) {
      val relaxed = dist.filter(col("d").isNotNull)
        .join(e, col("node") === col("src_n"))
        .groupBy(col("dst_n"))
        .agg(min(col("d") + col("cost")).as("cand"))
      dist = dist.join(relaxed, col("node") === col("dst_n"), "left")
        .select(col("node"),
          when(col("d").isNull, col("cand"))
            .when(col("cand").isNull, col("d"))
            .otherwise(least(col("d"), col("cand"))).as("d"))
        .localCheckpoint(eager = false)
    }
    dist
  }

  /** G7: weighted SSSP over the directed nation trade graph with
    * deterministic small-integer costs (1 + (7·src + 13·dst) mod 5 —
    * provenance is irrelevant to the dataflow under test, integrality
    * is what buys exact cross-engine mins). Costs vary 1..5, so a
    * 2-hop path can beat a direct edge and the relaxation rounds do
    * real work; 6 rounds ≫ the graph's hop diameter. */
  private val g7Sssp: Q = (s, dir) => {
    Tables.register(s, dir)
    val edges = s.sql(
      """SELECT DISTINCT s_nationkey AS src_n, c_nationkey AS dst_n,
        |  1 + (7 * s_nationkey + 13 * c_nationkey) % 5 AS cost
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey""".stripMargin)
      .select(col("src_n"), col("dst_n"), col("cost").cast("long"))
    val nodes = t(s, dir, "nation")
      .select(col("n_nationkey").as("node")).distinct()
    sssp(nodes, edges, src = 1L, rounds = 6)
      .select(col("node"), col("d").as("dist"))
      .orderBy(col("node"))
  }

  val queries: Map[String, Q] = Map(
    "g7_sssp" -> g7Sssp,
    "g6_hits" -> g6Hits,
    "g1_pagerank" -> g1PageRank,
    "g2_triangles" -> g2Triangles,
    "g3_bfs" -> g3Bfs,
    "g4_labelprop" -> g4LabelProp,
    "g5_kcore" -> g5KCore,
  )

  // AS MATERIALIZED: DuckDB inlines plain CTEs, so 8 unrolled rounds
  // would re-open the lineitem parquet once per reference and trip the
  // fd limit; materializing evaluates each round exactly once.
  private def kcoreIter(i: Int, k: Int): String = {
    val prev = s"e${i - 1}"
    s"""d$i AS MATERIALIZED (
       |  SELECT n, count(*) AS c FROM (
       |    SELECT u AS n FROM $prev UNION ALL SELECT v AS n FROM $prev)
       |  GROUP BY n),
       |e$i AS MATERIALIZED (
       |  SELECT u, v FROM $prev
       |  WHERE u IN (SELECT n FROM d$i WHERE c >= $k)
       |    AND v IN (SELECT n FROM d$i WHERE c >= $k))""".stripMargin
  }

  /** One unrolled Bellman-Ford round — MATERIALIZED: d{k-1} is
    * referenced twice (carry + relax), so inlining doubles per round. */
  private def ssspIter(k: Int): String = {
    val prev = if (k == 1) "d0" else s"d${k - 1}"
    s"""d$k AS MATERIALIZED (
       |  SELECT p.node,
       |    CASE WHEN p.d IS NULL THEN r.cand
       |         WHEN r.cand IS NULL THEN p.d
       |         ELSE least(p.d, r.cand) END AS d
       |  FROM $prev p LEFT JOIN (
       |    SELECT e.dst_n AS node, min(p2.d + e.cost) AS cand
       |    FROM $prev p2 JOIN edges e ON p2.node = e.src_n
       |    WHERE p2.d IS NOT NULL GROUP BY e.dst_n) r
       |    ON p.node = r.node)""".stripMargin
  }

  /** One unrolled HITS round (authority then hub), every CTE
    * MATERIALIZED — each raw CTE is referenced twice (values + its max
    * scalar), so inlining would re-run the chain 2^rounds times. */
  private def hitsIter(k: Int): String = {
    val prev = if (k == 1) "h0" else s"h${k - 1}"
    s"""a${k}raw AS MATERIALIZED (
       |  SELECT e.dst, sum(p.h * e.w) AS ar
       |  FROM $prev p JOIN edges e ON p.node = e.src GROUP BY e.dst),
       |a$k AS MATERIALIZED (
       |  SELECT n.node,
       |    round(coalesce(x.ar, 0) / (SELECT max(ar) FROM a${k}raw), 12)
       |      AS a
       |  FROM nodes n LEFT JOIN a${k}raw x ON n.node = x.dst),
       |h${k}raw AS MATERIALIZED (
       |  SELECT e.src, sum(p.a * e.w) AS hr
       |  FROM a$k p JOIN edges e ON p.node = e.dst GROUP BY e.src),
       |h$k AS MATERIALIZED (
       |  SELECT n.node,
       |    round(coalesce(x.hr, 0) / (SELECT max(hr) FROM h${k}raw), 12)
       |      AS h
       |  FROM nodes n LEFT JOIN h${k}raw x ON n.node = x.src)""".stripMargin
  }

  private def oracleIter(k: Int): String = {
    val prev = if (k == 1) "r0" else s"r${k - 1}"
    s"""r$k AS (
       |  SELECT n.node,
       |    round(0.15 / (SELECT count(*) FROM nodes) +
       |      0.85 * coalesce(sum(x.c), 0), 10) AS r
       |  FROM nodes n LEFT JOIN (
       |    SELECT e.dst, p.r * e.w AS c
       |    FROM $prev p JOIN edges e ON p.node = e.src) x
       |    ON n.node = x.dst
       |  GROUP BY n.node)""".stripMargin
  }

  private def lpIter(k: Int): String = {
    val prev = s"l${k - 1}"
    s"""l$k AS (
       |  SELECT d AS node, lbl FROM (
       |    SELECT a.d, l.lbl, count(*) AS c,
       |      row_number() OVER (PARTITION BY a.d
       |        ORDER BY count(*) DESC, l.lbl) AS rk
       |    FROM adj a JOIN $prev l ON a.s = l.node
       |    GROUP BY a.d, l.lbl)
       |  WHERE rk = 1)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "g5_kcore" ->
      s"""WITH lp AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |e0 AS MATERIALIZED (
         |  SELECT DISTINCT a.p AS u, b.p AS v
         |  FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p),
         |${(1 to 8).map(kcoreIter(_, 75)).mkString(",\n")},
         |df AS (
         |  SELECT n, count(*) AS c FROM (
         |    SELECT u AS n FROM e8 UNION ALL SELECT v AS n FROM e8)
         |  GROUP BY n)
         |SELECT n AS node, c::BIGINT AS deg, true AS converged
         |FROM df ORDER BY node""".stripMargin,
    "g4_labelprop" ->
      s"""WITH rev AS (
         |  SELECT s_nationkey AS src, c_nationkey AS dst,
         |    round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS rv
         |  FROM lineitem
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  GROUP BY s_nationkey, c_nationkey),
         |top3 AS (
         |  SELECT src, dst FROM (
         |    SELECT src, dst,
         |      row_number() OVER (PARTITION BY src
         |        ORDER BY rv DESC, dst) AS rk
         |    FROM rev) WHERE rk <= 3),
         |adj AS (
         |  SELECT DISTINCT s, d FROM (
         |    SELECT src AS s, dst AS d FROM top3
         |    UNION ALL SELECT dst, src FROM top3
         |    UNION ALL SELECT n_nationkey, n_nationkey FROM nation)),
         |l0 AS (SELECT n_nationkey AS node, n_nationkey AS lbl FROM nation),
         |${(1 to 4).map(lpIter).mkString(",\n")}
         |SELECT node, lbl AS community FROM l4 ORDER BY node""".stripMargin,
    "g3_bfs" ->
      """WITH lp AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e0 AS (
        |  SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p),
        |adj AS (SELECT u AS s, v AS d FROM e0
        |        UNION ALL SELECT v AS s, u AS d FROM e0),
        |d0 AS (SELECT 1::BIGINT AS node, 0::BIGINT AS dist),
        |d1 AS (SELECT node, min(dist) AS dist FROM (
        |  SELECT node, dist FROM d0
        |  UNION ALL
        |  SELECT adj.d AS node, d0.dist + 1 AS dist
        |  FROM d0 JOIN adj ON adj.s = d0.node) GROUP BY node),
        |d2 AS (SELECT node, min(dist) AS dist FROM (
        |  SELECT node, dist FROM d1
        |  UNION ALL
        |  SELECT adj.d AS node, d1.dist + 1 AS dist
        |  FROM d1 JOIN adj ON adj.s = d1.node) GROUP BY node),
        |d3 AS (SELECT node, min(dist) AS dist FROM (
        |  SELECT node, dist FROM d2
        |  UNION ALL
        |  SELECT adj.d AS node, d2.dist + 1 AS dist
        |  FROM d2 JOIN adj ON adj.s = d2.node) GROUP BY node)
        |SELECT node, dist::BIGINT AS dist FROM d3 ORDER BY node""".stripMargin,
    "g2_triangles" ->
      """WITH lp AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (
        |  SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p),
        |tri AS (
        |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM e e1
        |  JOIN e e2 ON e2.u = e1.v
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |corners AS (
        |  SELECT a AS node FROM tri
        |  UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri)
        |SELECT node, count(*)::BIGINT AS n_tri
        |FROM corners GROUP BY node ORDER BY node""".stripMargin,
    "g1_pagerank" ->
      s"""WITH rev AS (
         |  SELECT s_nationkey AS src, c_nationkey AS dst,
         |    round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS rv
         |  FROM lineitem
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  GROUP BY s_nationkey, c_nationkey),
         |edges AS (
         |  SELECT src, dst,
         |    round(rv / sum(rv) OVER (PARTITION BY src), 12) AS w
         |  FROM rev),
         |nodes AS (SELECT DISTINCT n_nationkey AS node FROM nation),
         |r0 AS (
         |  SELECT node,
         |    round(1.0 / (SELECT count(*) FROM nodes), 12) AS r
         |  FROM nodes),
         |${(1 to 10).map(oracleIter).mkString(",\n")}
         |SELECT node, round(r, 8) AS rank FROM r10
         |ORDER BY node""".stripMargin,
    "g7_sssp" ->
      s"""WITH edges AS MATERIALIZED (
         |  SELECT DISTINCT s_nationkey AS src_n, c_nationkey AS dst_n,
         |    (1 + (7 * s_nationkey + 13 * c_nationkey) % 5)::BIGINT
         |      AS cost
         |  FROM lineitem
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN supplier ON l_suppkey = s_suppkey),
         |nodes AS MATERIALIZED (
         |  SELECT DISTINCT n_nationkey AS node FROM nation),
         |d0 AS (
         |  SELECT node,
         |    CASE WHEN node = 1 THEN 0::BIGINT ELSE NULL END AS d
         |  FROM nodes),
         |${(1 to 6).map(ssspIter).mkString(",\n")}
         |SELECT node, d AS dist FROM d6 ORDER BY node""".stripMargin,
    "g6_hits" ->
      s"""WITH rev AS MATERIALIZED (
         |  SELECT s_nationkey AS src, c_nationkey AS dst,
         |    round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS rv
         |  FROM lineitem
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  GROUP BY s_nationkey, c_nationkey),
         |edges AS MATERIALIZED (
         |  SELECT src, dst,
         |    round(rv / sum(rv) OVER (PARTITION BY src), 12) AS w
         |  FROM rev),
         |nodes AS MATERIALIZED (
         |  SELECT DISTINCT n_nationkey AS node FROM nation),
         |h0 AS (SELECT node, 1.0::DOUBLE AS h FROM nodes),
         |${(1 to 5).map(hitsIter).mkString(",\n")}
         |SELECT n.node, round(h5.h, 8) AS hub,
         |  round(a5.a, 8) AS authority
         |FROM nodes n
         |JOIN h5 ON n.node = h5.node
         |JOIN a5 ON n.node = a5.node
         |ORDER BY n.node""".stripMargin,
  )
}
