package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** PageRank invariants on small hand-built graphs. */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def rankMap(rows: Array[Row]): Map[Long, Double] =
    rows.map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("pageRank sums to 1 and favors the popular node") {
    // 3-node graph: 1→3, 2→3, 3→1 (all weight 1).
    val nodes = Seq(1L, 2L, 3L).toDF("node")
    val edges = Seq((1L, 3L, 1.0), (2L, 3L, 1.0), (3L, 1L, 1.0))
      .toDF("src", "dst", "w")
    val r = rankMap(Graph.pageRank(nodes, edges, 3, iters = 20).collect())
    assert(math.abs(r.values.sum - 1.0) < 1e-6)
    assert(r(3L) > r(1L) && r(1L) > r(2L)) // 3 gets two inflows; 1 gets 3's mass; 2 only teleport
  }

  test("pageRank keeps isolated nodes at the sink-free floor") {
    // node 4 has no edges at all: rank converges to teleport-only mass.
    val nodes = Seq(1L, 2L, 4L).toDF("node")
    val edges = Seq((1L, 2L, 1.0), (2L, 1L, 1.0)).toDF("src", "dst", "w")
    val r = rankMap(Graph.pageRank(nodes, edges, 3, iters = 25).collect())
    assert(math.abs(r(4L) - 0.05) < 1e-9) // (1-0.85)/3 = 0.05 exactly
    assert(math.abs(r(1L) - r(2L)) < 1e-9) // symmetric cycle
  }

  test("uniform complete graph stays uniform") {
    val nodes = Seq(1L, 2L, 3L).toDF("node")
    val edges = (for { a <- 1L to 3L; b <- 1L to 3L if a != b }
      yield (a, b, 0.5)).toDF("src", "dst", "w")
    val r = rankMap(Graph.pageRank(nodes, edges, 3, iters = 10).collect())
    r.values.foreach(v => assert(math.abs(v - 1.0 / 3) < 1e-9))
  }

  private def triMap(rows: Array[Row]): Map[Long, Long] =
    rows.map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("triangleCounts on K4: every node closes 3 triangles") {
    val edges = (for { a <- 1L to 4L; b <- 1L to 4L if a < b }
      yield (a, b)).toDF("u", "v")
    val got = triMap(Graph.triangleCounts(edges).collect())
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), s"got $got")
  }

  test("triangleCounts: triangle-free path yields no rows") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("u", "v")
    assert(Graph.triangleCounts(edges).count() == 0L)
  }

  test("triangleCounts: pendant node is excluded, corners count once") {
    // triangle {1,2,3} plus pendant edge 3-4.
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("u", "v")
    val got = triMap(Graph.triangleCounts(edges).collect())
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L), s"got $got")
  }

  test("bfsDistances stops at the hop budget") {
    // path 1-2-3-4-5: node 5 is 4 hops out, beyond maxHops=3.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("u", "v")
    val got = triMap(Graph.bfsDistances(edges, src = 1L, maxHops = 3).collect())
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L), s"got $got")
  }

  test("bfsDistances takes the shortcut, not the first path found") {
    // same path plus shortcut 1-4: 4 drops to 1 hop, 5 to 2, 3 stays 2
    // (reached both via 2 and back from 4).
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L))
      .toDF("u", "v")
    val got = triMap(Graph.bfsDistances(edges, src = 1L, maxHops = 3).collect())
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 2L),
      s"got $got")
  }

  private def lpAdj(undirected: Seq[(Long, Long)], nodes: Seq[Long]) =
    (undirected ++ undirected.map(_.swap) ++ nodes.map(n => (n, n)))
      .toDF("s", "d").distinct()

  test("labelPropagation splits two triangles across a bridge") {
    // triangles {1,2,3} and {4,5,6} joined by edge 3-4: each triangle
    // converges to its own min label; the bridge never overwhelms the
    // 2-vote triangle majority.
    val ns = Seq(1L, 2L, 3L, 4L, 5L, 6L)
    val es = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
    val got = Graph.labelPropagation(ns.toDF("node"), lpAdj(es, ns), 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 4L, 6L -> 4L), s"got $got")
  }

  test("labelPropagation star collapses to the min label") {
    // star centered at 1: every leaf ties (own label vs center's) and
    // the min tie-break pulls the whole star to label 1.
    val ns = Seq(1L, 2L, 3L, 4L)
    val es = Seq((1L, 2L), (1L, 3L), (1L, 4L))
    val got = Graph.labelPropagation(ns.toDF("node"), lpAdj(es, ns), 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L), s"got $got")
  }

  test("deep pageRank (30 iters) stays fast via lineage truncation") {
    // Without per-round cuts the logical plan nests 30 join+agg levels
    // and Catalyst analysis goes superlinear — this is a wall-clock pin
    // on the OPTIMIZER, not the executors (the data is 3 nodes). Cuts
    // are value-neutral: on the 3-cycle every node's inflow is its
    // predecessor's rank, so 1/3 is the fixpoint from the first round.
    val nodes = Seq(1L, 2L, 3L).toDF("node")
    val edges = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 1L, 1.0))
      .toDF("src", "dst", "w")
    val t0 = System.nanoTime()
    val deep = rankMap(Graph.pageRank(nodes, edges, 3, iters = 30).collect())
    val secs = (System.nanoTime() - t0) / 1e9
    assert(deep.keySet == Set(1L, 2L, 3L))
    deep.values.foreach(v => assert(math.abs(v - 1.0 / 3) < 1e-9, s"$deep"))
    assert(secs < 60.0, s"30-iteration pageRank took $secs s")
  }

  test("every round operator's plan stays flat: 30 rounds plan like 2") {
    // The round driver cuts lineage after every round but the last, so
    // the analysed plan of round n reads round n-1 as one leaf and its
    // size does not depend on n.
    val nodes = Seq(1L, 2L, 3L).toDF("node")
    val weighted = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 1L, 1.0))
      .toDF("src", "dst", "w")
    val canon = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("u", "v")
    val costed = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 1L, 1L))
      .toDF("src_n", "dst_n", "cost")
    val ops: Seq[(String, Int => org.apache.spark.sql.DataFrame)] = Seq(
      "pageRank" -> (n => Graph.pageRank(nodes, weighted, 3, iters = n)),
      "bfsDistances" -> (n => Graph.bfsDistances(canon, 1L, maxHops = n)),
      "labelPropagation" -> (n => Graph.labelPropagation(nodes,
        lpAdj(Seq((1L, 2L), (1L, 3L), (2L, 3L)), Seq(1L, 2L, 3L)), n)),
      "kCore" -> (n => Graph.kCore(canon, k = 2, rounds = n)),
      "sssp" -> (n => Graph.sssp(nodes, costed, 1L, rounds = n)),
      "hits" -> (n => Graph.hits(nodes, weighted, iters = n)))
    def planSize(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.collect { case p => p }.size
    ops.foreach { case (name, op) =>
      val (shallow, deep) = (planSize(op(2)), planSize(op(30)))
      assert(deep == shallow,
        s"$name: 30-round plan has $deep nodes, 2-round plan $shallow")
    }
  }

  test("kCore peels a pendant chain layer by layer, keeps K4, certifies") {
    // K4 on 1-4, with a chain 4-5-6: the 2-core must peel 6 in round
    // one, THEN 5 in round two (multi-round dependency), keeping K4.
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("u", "v")
    val core = Graph.kCore(edges, k = 2, rounds = 3)
      .select($"node", $"deg", $"converged")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(core.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L), s"core: ${core.toSeq}")
    assert(core.forall(_._2 == 3L), "K4 degrees inside the core")
    assert(core.forall(_._3), "fixpoint certificate must be true")
    // An insufficient round budget must SAY so, not ship a half-peel:
    // one round removes 6 but leaves 5 at degree 1 < k.
    val short = Graph.kCore(edges, k = 2, rounds = 1)
      .select($"converged").as[Boolean].collect()
    assert(short.contains(false), "unconverged budget must flag itself")
    // Whole graph below k: empty core, empty output.
    assert(Graph.kCore(edges, k = 4, rounds = 4).count() == 0)
  }

  test("SSSP relaxes a 2-hop shortcut below the direct edge") {
    // 1→2 cost 5, 1→3 cost 1, 3→2 cost 1, 2→4 cost 1:
    // dist 1=0, 3=1, 2=min(5, 1+1)=2, 4=3; 5 unreachable → null.
    val nodes = Seq(1L, 2L, 3L, 4L, 5L).toDF("node")
    val edges = Seq((1L, 2L, 5L), (1L, 3L, 1L), (3L, 2L, 1L),
      (2L, 4L, 1L)).toDF("src_n", "dst_n", "cost")
    val got = Graph.sssp(nodes, edges, src = 1L, rounds = 4)
      .orderBy($"node")
      .select($"node", $"d")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSeq
    assert(got == Seq(1L -> Some(0L), 2L -> Some(2L), 3L -> Some(1L),
      4L -> Some(3L), 5L -> None), got)
  }

  test("HITS separates pure hubs from the pure authority") {
    // 1→3, 2→3 (unit weights): 3 is the only authority, 1 and 2 are
    // equal hubs, and the fixpoint is reached in one iteration —
    // hub(1)=hub(2)=1, hub(3)=0; authority(3)=1, authority(1,2)=0.
    val nodes = Seq(1L, 2L, 3L).toDF("node")
    val edges = Seq((1L, 3L, 1.0), (2L, 3L, 1.0)).toDF("src", "dst", "w")
    val got = Graph.hits(nodes, edges, iters = 3)
      .orderBy($"node")
      .select($"node", $"hub", $"authority")
      .as[(Long, Double, Double)].collect().toSeq
    assert(got == Seq((1L, 1.0, 0.0), (2L, 1.0, 0.0), (3L, 0.0, 1.0)), got)
  }

  test("HITS fails loudly on degenerate inputs instead of NULL scores") {
    val nodes = Seq(1L, 2L).toDF("node")
    val edges = Seq((1L, 2L, 1.0)).toDF("src", "dst", "w")
    // iters = 0 would relabel the initial h vector as authorities
    intercept[IllegalArgumentException] {
      Graph.hits(nodes, edges, iters = 0)
    }
    // no edge touches the node set → normalization max is NULL; the
    // in-plan guard must raise, not publish NULL scores
    val offGraph = Seq((7L, 8L, 1.0)).toDF("src", "dst", "w")
    val ex = intercept[Exception] {
      Graph.hits(nodes, offGraph, iters = 1).collect()
    }
    assert(ex.getMessage.contains("no edges matched"),
      s"expected the loud guard, got: ${ex.getMessage}")
  }
}
