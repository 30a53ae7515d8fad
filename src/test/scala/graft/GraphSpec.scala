package graft

import graft.operators.Graph

/** Integer PageRank semantics: the query must equal a from-scratch Scala
  * replay of the same integer fixed-point (the DuckDB oracle covers the
  * SQL formulation; this pins the algorithm itself). */
class GraphSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("graph_pagerank equals an in-memory integer replay; mass conserved") {
    val out = rowsOf(Graph.queries("graph_pagerank")(spark, dir))
      .map(m => m("p_partkey").asInstanceOf[Long] ->
        m("rank_micros").asInstanceOf[Long]).toMap
    assert(out.nonEmpty)

    // replay: edges from the same builder, then 8 integer iterations
    val edges = Graph.edgesDf(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val dw = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
    var r = dw.keys.map(_ -> Graph.PrScale).toMap
    val telep = 15L * Graph.PrScale / 100L
    for (_ <- 1 to Graph.PrIters) {
      val contrib = scala.collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      edges.foreach { case (s, d, w) =>
        contrib(d) += r(s) * w / dw(s)
      }
      r = contrib.map { case (n, c) => n -> (telep + 85L * c / 100L) }.toMap
    }
    assert(out == r)

    // floor leakage stays tiny: total mass within 0.1% of N * scale
    val total = out.values.sum.toDouble
    val ideal = out.size.toDouble * Graph.PrScale
    assert(math.abs(total - ideal) / ideal < 0.001)

    // symmetric-graph sanity: ranks positive, and the teleport term is a
    // hard floor for every node
    assert(out.values.forall(_ >= telep))

    // plan shape: the loop unrolls into broadcast levels over the
    // standing (checkpointed) edge frame — the node-sized rank vector is
    // what moves, never the edges. Asserted on the PRE-memo unrolled
    // subtree (the served query reads the memoized LogicalRDD, lineage
    // cut; its build checkpoints the 7th vector before the final step).
    val plan = Graph.unrolledRanks(spark, dir, Graph.PrIters - 1)._1
      .queryExecution.executedPlan.toString
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(bhj >= Graph.PrIters - 1,
      s"expected >= ${Graph.PrIters - 1} broadcast levels, got $bhj")
    assert(plan.contains("ExistingRDD") || plan.contains("LogicalRDD"),
      "edges must come from the checkpointed standing frame")
  }

  test("convergence audit: the 8th step moves a vanishing share of mass") {
    val row = rowsOf(Graph.queries("graph_pagerank_converge")(spark, dir)).head
    val n = row("n_nodes").asInstanceOf[Long]
    val l1 = row("l1_delta_micros").asInstanceOf[Long]
    val mass = row("mass_micros").asInstanceOf[Long]
    assert(n > 0 && mass > 0)
    // the dial's justification: the final step's L1 movement is under
    // 1% of the total rank mass (measured ~0.05% at sf0.1)
    assert(l1.toDouble / mass < 0.01, s"l1=$l1 mass=$mass")
    // and it agrees with the pagerank output's node set
    val pr = rowsOf(Graph.queries("graph_pagerank")(spark, dir))
    assert(pr.size.toLong == n)
    assert(pr.map(_("rank_micros").asInstanceOf[Long]).sum == mass)
  }

  test("window curve: dial growth is monotone and the 2-year row matches the production edge frame") {
    val rows = rowsOf(Graph.queries("graph_window_curve")(spark, dir))
      .map(r => r("years").asInstanceOf[Int] -> r).toMap
    assert(rows.keySet == Graph.WindowYearsDial.toSet)
    // wider window => at least as many nodes/edges/weight/degree
    Seq((1, 2), (2, 4)).foreach { case (a, b) =>
      Seq("n_nodes", "n_edges", "sum_w", "max_degree").foreach { c =>
        assert(rows(a)(c).asInstanceOf[Long] <= rows(b)(c).asInstanceOf[Long],
          s"$c not monotone between $a and $b years")
      }
    }
    // cross-check: the 2-year dial row equals the PRODUCTION edge
    // builder's own census (same window, independent construction)
    val e = Graph.edgesDf(spark, dir)
    import org.apache.spark.sql.functions._
    val census = e.agg(count(lit(1)), sum(col("w")),
      countDistinct(col("src"))).head()
    assert(rows(2)("n_edges") == census.getLong(0))
    assert(rows(2)("sum_w") == census.getLong(1))
    assert(rows(2)("n_nodes") == census.getLong(2))
  }

  private def writeGraphFixture(orders: Seq[(Long, Long)]): String = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_graph").toString
    orders.toDF("l_orderkey", "l_partkey")
      .withColumn("l_shipdate", lit("1997-01-01").cast("timestamp"))
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    dir
  }

  test("components: disjoint clusters separate, labels are the min keys, fixpoint proven") {
    // two disjoint co-purchase cliques (parts 10-13 and 20-22) plus an
    // isolated pair (30, 31): three components, labeled by their min key
    val orders = Seq(
      (1L, 10L), (1L, 11L), (1L, 12L), (2L, 12L), (2L, 13L),
      (3L, 20L), (3L, 21L), (4L, 21L), (4L, 22L),
      (5L, 30L), (5L, 31L))
    val fixDir = writeGraphFixture(orders)
    val comps = rowsOf(Graph.queries("graph_components")(spark, fixDir))
      .map(m => m("component").asInstanceOf[Long] ->
        m("n_nodes").asInstanceOf[Long]).toMap
    assert(comps == Map(10L -> 4L, 20L -> 3L, 30L -> 2L))
    val conv = rowsOf(
      Graph.queries("graph_components_converge")(spark, fixDir)).head
    assert(conv("n_nodes") == 9L && conv("n_changed") == 0L &&
      conv("n_components") == 3L)
    // real data: the census partitions the node set and the fixpoint
    // holds inside the CcIters budget
    val realConv = rowsOf(
      Graph.queries("graph_components_converge")(spark, dir)).head
    assert(realConv("n_changed") == 0L,
      s"CcIters=${Graph.CcIters} did not reach the fixpoint: $realConv")
    val realComps = rowsOf(Graph.queries("graph_components")(spark, dir))
    assert(realComps.map(_("n_nodes").asInstanceOf[Long]).sum ==
      realConv("n_nodes"))
    assert(realComps.size.toLong == realConv("n_components"))
    // every component's label is one of its own members: the min key
    realComps.foreach { c =>
      assert(c("component").asInstanceOf[Long] >= 0L)
    }
  }

  test("pagerank: exactly uniform on a cycle, center-dominant on a star") {
    // cycle: order i links part i and part (i+1) % n — every node has
    // identical degree, so the integer fixed point must be EXACTLY equal
    val n = 12
    val cycle = (0 until n).flatMap(i =>
      Seq((i.toLong, i.toLong), (i.toLong, ((i + 1) % n).toLong)))
    val cRanks = rowsOf(Graph.queries("graph_pagerank")(
      spark, writeGraphFixture(cycle)))
      .map(m => m("p_partkey").asInstanceOf[Long] ->
        m("rank_micros").asInstanceOf[Long]).toMap
    assert(cRanks.size == n)
    assert(cRanks.values.toSet.size == 1,
      s"cycle ranks must be uniform, got $cRanks")

    // star: every order links the hub (part 0) with one leaf — the hub
    // must outrank every leaf, and all leaves tie by symmetry
    val star = (1 to 10).flatMap(i =>
      Seq((i.toLong, 0L), (i.toLong, i.toLong)))
    val sRanks = rowsOf(Graph.queries("graph_pagerank")(
      spark, writeGraphFixture(star)))
      .map(m => m("p_partkey").asInstanceOf[Long] ->
        m("rank_micros").asInstanceOf[Long]).toMap
    assert(sRanks.size == 11)
    val hub = sRanks(0L)
    val leaves = (sRanks - 0L).values.toSet
    assert(leaves.size == 1, s"leaves must tie, got $sRanks")
    assert(hub > leaves.head * 5, s"hub $hub vs leaf ${leaves.head}")
  }

  test("triangles: K5 gives every node C(4,2); a chordless cycle gives none") {
    // one order holding all 5 parts -> the complete graph K5: each node
    // closes C(4,2) = 6 triangles, 10 triangles total
    val k5 = (0 until 5).map(p => (1L, p.toLong))
    val kRows = rowsOf(Graph.queries("graph_triangles")(
      spark, writeGraphFixture(k5)))
      .map(m => m("p_partkey").asInstanceOf[Long] ->
        m("n_triangles").asInstanceOf[Long]).toMap
    assert(kRows == (0L until 5L).map(_ -> 6L).toMap)

    // chordless 6-cycle: triangle-free, the census must be EMPTY
    val cyc = (0 until 6).flatMap(i =>
      Seq((i.toLong, i.toLong), (i.toLong, ((i + 1) % 6).toLong)))
    assert(rowsOf(Graph.queries("graph_triangles")(
      spark, writeGraphFixture(cyc))).isEmpty)
  }

  test("ccLabelsOn is exact on an asymmetric edge frame (dst-only nodes)") {
    import spark.implicits._
    // directed chain 9 -> 5 -> 3 plus dst-only node 1 fed by 7 -> 1:
    // nodes 1 and 3 never appear as src. Correct min-reachability
    // labels: l(9)=9, l(5)=min(5,9)=5, l(3)=min(3,5,9)=3, l(7)=7,
    // l(1)=min(1,7)=1 — the dst-only nodes' OWN labels must win, which
    // requires their identity edges (the round-15 fix; the old
    // distinct-src universe gave them in-neighbor mins only: l(3)=5,
    // l(1)=7).
    val edges = Seq((9L, 5L), (5L, 3L), (7L, 1L)).toDF("src", "dst")
    val got = Graph.ccLabelsOn(edges)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val want = Map(9L -> 9L, 5L -> 5L, 3L -> 3L, 7L -> 7L, 1L -> 1L)
    assert(got.view.mapValues(_._2).toMap == want, s"labels: $got")
    // fixpoint reached: prev == last everywhere
    assert(got.values.forall { case (p, l) => p == l })
  }

  test("graph_wedges equals an in-memory replay; out-degree cap d² <= 2m holds") {
    val row = rowsOf(Graph.queries("graph_wedges")(spark, dir)).head
    val m = row("n_edges").asInstanceOf[Long]
    val w = row("n_wedges").asInstanceOf[Long]
    val dmax = row("max_out_degree").asInstanceOf[Long]
    // independent replay: orient each undirected edge from the
    // lower-(degree, id) endpoint, then census the out-degrees
    val und = Graph.edgesDf(spark, dir).collect()
      .filter(r => r.getLong(0) < r.getLong(1))
      .map(r => (r.getLong(0), r.getLong(1)))
    val deg = und.flatMap { case (u, v) => Seq(u, v) }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val od = und.map { case (u, v) =>
        if (deg(u) < deg(v) || (deg(u) == deg(v) && u < v)) u else v }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(m == und.length.toLong)
    assert(w == od.values.map(d => d * (d - 1) / 2).sum)
    assert(dmax == od.values.max)
    // the orientation theorem the 100 TB story leans on: a node of
    // out-degree d points only at (degree >= d)-nodes, so d^2 <= 2m
    assert(dmax * dmax <= 2 * m,
      s"orientation cap broken: max_out_degree=$dmax, edges=$m")
  }

  test("graph_triangles equals the brute-force per-node census") {
    val out = rowsOf(Graph.queries("graph_triangles")(spark, dir))
      .map(m => m("p_partkey").asInstanceOf[Long] ->
        m("n_triangles").asInstanceOf[Long]).toMap
    assert(out.nonEmpty)
    // brute force over the undirected edge set
    val und = Graph.edgesDf(spark, dir).collect()
      .filter(r => r.getLong(0) < r.getLong(1))
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val adj = (und.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) })
      .groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSet }
    val counts = scala.collection.mutable.Map.empty[Long, Long]
      .withDefaultValue(0L)
    und.foreach { case (u, v) =>
      adj(u).intersect(adj(v)).foreach { w =>
        if (w > v) { // {u < v < w}: each triangle counted once
          counts(u) += 1; counts(v) += 1; counts(w) += 1
        }
      }
    }
    assert(out == counts.toMap)
    // every triangle credits exactly 3 nodes
    assert(out.values.sum % 3 == 0)
  }
}
