package graft.graphs

import graft.SparkFixture
import graft.plan.Knee
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

class GraphsSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  import spark.implicits._

  /** `body` with every graph knee pinned to its distributed branch. */
  private def distributed[A](body: => A): A = Knee.withLimits(Knee.GraphEdges -> 0L)(body)

  // weighted diamond + tail: 1→2 (1), 1→3 (4), 2→3 (1), 3→4 (1), 2→4 (5)
  def wEdges = Seq((1L, 2L, 1.0), (1L, 3L, 4.0), (2L, 3L, 1.0), (3L, 4L, 1.0), (2L, 4L, 5.0))
    .toDF("src", "dst", "weight")

  test("LocalGraph.sorted orders edges as a stable sort by (src, dst) or (src, weight, dst)") {
    val rng = new scala.util.Random(3)
    for (weighted <- Seq(false, true)) {
      // few nodes and weights: many equal (src, dst) and (src, weight) runs, -0.0 and NaN included
      val m = 3000
      val (src, dst) = (Array.fill(m)(rng.nextInt(40)), Array.fill(m)(rng.nextInt(40)))
      val w = if (weighted) Array.fill(m)(Seq(0.0, -0.0, Double.NaN, 1.5, 2.5)(rng.nextInt(5))) else null
      val g = new LocalGraph(org.apache.spark.sql.types.LongType, Array.tabulate[AnyRef](40)(i => Long.box(i.toLong)),
        src, dst, w)
      for (byWeight <- if (weighted) Seq(false, true) else Seq(false)) {
        val cmp = (a: Int, b: Int) => {
          val c = Integer.compare(src(a), src(b))
          val cw = if (c == 0 && byWeight) java.lang.Double.compare(w(a), w(b)) else c
          if (cw != 0) cw else Integer.compare(dst(a), dst(b))
        }
        val ix = Array.range(0, m).sortWith(cmp(_, _) < 0) // stable
        val s = g.sorted(byWeight)
        assert(s.src.sameElements(ix.map(src)) && s.dst.sameElements(ix.map(dst)), s"byWeight=$byWeight")
        if (weighted) assert(s.w.map(java.lang.Double.doubleToRawLongBits)
          .sameElements(ix.map(i => java.lang.Double.doubleToRawLongBits(w(i)))), s"byWeight=$byWeight")
        assert(g.sorted(byWeight) eq s, "the sorted view is kept")
      }
    }
  }

  test("minimumSpanningForest picks the light edges (Borůvka)") {
    val mst = Graphs.minimumSpanningForest(wEdges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // MST of the diamond: 1-2 (1), 2-3 (1), 3-4 (1); total weight 3
    assert(mst == Set((1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 4L, 1.0)))
  }

  test("minimumSpanningForest spans disconnected components separately") {
    val e = Seq((1L, 2L, 2.0), (10L, 11L, 3.0), (11L, 12L, 1.0), (10L, 12L, 5.0))
      .toDF("src", "dst", "weight")
    val mst = Graphs.minimumSpanningForest(e)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mst == Set((1L, 2L), (10L, 11L), (11L, 12L)))
  }

  test("closenessCentrality on a path graph") {
    val path = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val c = Graphs.closenessCentrality(path)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // node 2: distances 1+1 → (3-1)/2 = 1.0; nodes 1,3: 1+2 → 2/3
    assert(c(2L) == 1.0)
    assert(math.abs(c(1L) - 2.0 / 3) < 1e-9 && math.abs(c(3L) - 2.0 / 3) < 1e-9)
  }

  test("closenessCentrality sampling estimates within tolerance") {
    // ring of 12: exact closeness identical for every node
    val ring = (0L until 12L).map(i => (i, (i + 1) % 12)).toDF("src", "dst")
    val exact = Graphs.closenessCentrality(ring)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val approx = Graphs.closenessCentrality(ring, sample = 6)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(approx.size == 12) // every node estimated from 6 sources
    exact.foreach { case (nd, c) =>
      assert(math.abs(approx(nd) - c) / c < 0.6, s"node $nd: $c vs ${approx(nd)}")
    }
  }

  test("topSort errors loudly on cycles and on maxIter exhaustion") {
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    val e1 = intercept[IllegalArgumentException](Graphs.topSort(cyc))
    assert(e1.getMessage.contains("cycle"))
    val chain = (1L until 8L).map(i => (i, i + 1)).toDF("src", "dst")
    val e2 = intercept[IllegalStateException](Graphs.topSort(chain, maxIter = 3))
    assert(e2.getMessage.contains("maxIter") || e2.getMessage.contains("longest path"))
    // and still completes on a DAG within bounds
    assert(Graphs.topSort(chain).count() == 8)
  }

  test("betweennessCentrality puts all shortest paths through the middle") {
    val path = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val b = Graphs.betweennessCentrality(path)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(b(2L) == 1.0 && b(1L) == 0.0 && b(3L) == 0.0)
  }

  test("distributed Brandes with a full sample equals the exact driver version") {
    // a graph with branching, a cycle, and asymmetric path counts
    val g = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L), (5L, 6L),
      (2L, 6L), (6L, 7L)).toDF("src", "dst")
    val exact = Graphs.betweennessCentrality(g)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val dist = Graphs.betweennessCentralityApprox(g, sample = 100)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(dist.keySet == exact.keySet)
    for ((k, v) <- exact)
      assert(math.abs(dist(k) - v) < 1e-9, s"node $k: $v vs ${dist(k)}")
  }

  test("distributed Brandes sampling scales contributions (path graph, middle dominates)") {
    val path = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val b = Graphs.betweennessCentralityApprox(path, sample = 100)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(b(2L) == 1.0 && b(1L) == 0.0 && b(3L) == 0.0)
  }

  test("aStar finds the weighted shortest path") {
    val r = Graphs.aStar(wEdges, Seq((1L, 4L))).collect().head
    assert(r.getDouble(2) == 3.0) // 1→2→3→4
    assert(r.getSeq[Long](3) == Seq(1L, 2L, 3L, 4L))
  }

  test("kShortestPaths ranks loopless alternatives (Yen)") {
    val rows = Graphs.kShortestPaths(wEdges, 1L, 4L, 3)
      .orderBy("rank").collect()
    // 1→2→3→4 (3), 1→3→4 (5), 1→2→4 (6)
    assert(rows.map(_.getDouble(3)).toSeq == Seq(3.0, 5.0, 6.0))
    assert(rows.head.getSeq[Long](4) == Seq(1L, 2L, 3L, 4L))
  }

  test("dfs preorder from a start node") {
    val e = Seq((1L, 2L), (1L, 3L), (2L, 4L)).toDF("src", "dst")
    val starts = Seq(1L).toDF("start")
    val order = Graphs.dfs(e, starts).orderBy("order")
      .collect().map(_.getLong(1)).toSeq
    assert(order == Seq(1L, 2L, 4L, 3L)) // children visited in sorted order
  }

  test("driver walks raise past WalkEdges instead of walking a truncated prefix") {
    val starts = Seq(1L).toDF("start")
    val goals = Seq(4L).toDF("goal")
    for ((op, run) <- Seq[(String, () => Any)](
        "dijkstraPaths" -> (() => Graphs.dijkstraPaths(wEdges, starts, goals)),
        "dfs" -> (() => Graphs.dfs(wEdges, starts)),
        "yenPaths" -> (() => Graphs.yenPaths(wEdges, starts, goals, 2)))) {
      val e = intercept[IllegalStateException](Knee.withLimits(Knee.WalkEdges -> 2L)(run()))
      assert(e.getMessage.contains(op) && e.getMessage.contains("WalkEdges = 2"), e.getMessage)
    }
    // the whole graph at the cap: the shortest 1→4 path is found
    val r = Knee.withLimits(Knee.WalkEdges -> 5L)(
      Graphs.dijkstraPaths(wEdges, starts, goals).collect().head)
    assert(r.getDouble(2) == 3.0 && r.getSeq[String](3) == Seq("1", "2", "3", "4"))
  }

  test("string-keyed mst and closeness log no driver knee line for the distributed run") {
    val se = Seq(("a", "b", 1.0), ("b", "c", 2.0), ("a", "c", 3.0)).toDF("src", "dst", "weight")
    val (mst, lines) = graft.plan.KneeLog.capture((
      Graphs.minimumSpanningForest(se).collect().map(r => (r.getString(0), r.getString(1))).toSet,
      Graphs.closenessCentrality(se.select("src", "dst")).count()))
    assert(mst == ((Set(("a", "b"), ("b", "c")), 3L)))
    assert(!lines.exists(l => l.contains("op=mst ") || l.contains("op=closeness ")), lines)
  }

  test("pathDfs walks a 100,000-node chain without recursion") {
    val n = 100000L
    val chain = (0L until n - 1).map(i => (i, i + 1)).toDF("src", "dst")
    val rows = Graphs.pathDfs(chain, Seq(0L).toDF("start"), Seq(n - 1).toDF("goal")).collect()
    assert(rows.length == 1)
    val path = rows.head.getSeq[String](2)
    assert(path.length == n && path.head == "0" && path.last == (n - 1).toString)
  }

  test("louvain groups two cliques joined by one edge") {
    val clique1 = for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b)
    val clique2 = for (a <- 11L to 14L; b <- 11L to 14L if a < b) yield (a, b)
    val e = (clique1 ++ clique2 :+ (4L, 11L)).toDF("src", "dst")
    val comm = Graphs.louvain(e).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 4L).map(comm).toSet.size == 1)
    assert((11L to 14L).map(comm).toSet.size == 1)
    assert(comm(1L) != comm(11L))
  }

  test("CC/SCC/LP driver paths emit rows identical to the distributed loops") {
    for (seed <- 0 until 5) {
      val rnd = new scala.util.Random(seed * 4409 + 7)
      val es = ((0 until 120).map(_ =>
        (rnd.nextInt(35).toLong, rnd.nextInt(35).toLong)) :+
        ((90L, 90L))).distinct // a self-loop-only node must stay a singleton
      val e = es.toDF("src", "dst")
      def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
        df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rows(Graphs.connectedComponents(e)) ==
        distributed(rows(Graphs.connectedComponents(e))), s"CC seed $seed")
      assert(rows(Graphs.stronglyConnectedComponents(e)) ==
        distributed(rows(Graphs.stronglyConnectedComponents(e))), s"SCC seed $seed")
      assert(rows(Graphs.labelPropagation(e, iters = 4)) ==
        distributed(rows(Graphs.labelPropagation(e, iters = 4))), s"LP seed $seed")
      val dagE = e.filter(col("src") < col("dst"))
      assert(rows(Graphs.topSort(dagE).select(col("node"), col("layer").cast("long"))) ==
        distributed(rows(Graphs.topSort(dagE)
          .select(col("node"), col("layer").cast("long")))), s"TopSort seed $seed")
    }
    // error contracts hold on BOTH paths
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    intercept[IllegalArgumentException](Graphs.topSort(cyc).count())
    intercept[IllegalArgumentException](distributed(Graphs.topSort(cyc).count()))
  }

  test("pageRank driver path matches the distributed loop far inside the oracle grid") {
    for (seed <- 0 until 3) {
      val rnd = new scala.util.Random(seed * 5501 + 17)
      val es = (0 until 200).map(_ =>
        (rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
        .filter { case (a, b) => a != b }.distinct
      val e = es.toDF("src", "dst")
      val drv = Graphs.pageRank(e).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val dist = distributed(Graphs.pageRank(e).collect())
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(drv.keySet == dist.keySet)
      for ((k, v) <- drv)
        assert(math.abs(v - dist(k)) <= 1e-9,
          s"seed $seed node $k: driver $v vs distributed ${dist(k)}")
    }
  }

  test("louvain driver path is the distributed level loop's exact mirror") {
    // weight-1 graphs keep every gain term integer-derived, so float
    // summation order cannot differ between the two engines: the
    // community assignment must be IDENTICAL, not just modularity-equal
    for (seed <- 0 until 5) {
      val rnd = new scala.util.Random(seed * 7919 + 3)
      val es = (0 until 150).map(_ =>
        (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter { case (a, b) => a != b }.distinct
      val e = es.toDF("src", "dst")
      val drv = Graphs.louvain(e, maxOuter = 2, maxInner = 5)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dist = distributed(Graphs.louvain(e, maxOuter = 2, maxInner = 5).collect())
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(drv == dist, s"seed $seed: driver and distributed louvain diverged")
    }
  }

  test("randomWalk driver knee emits rows identical to the distributed loop") {
    for (seed <- 0 until 5) {
      val rnd = new scala.util.Random(seed * 3301 + 13)
      val es = (0 until 120).map(_ =>
        (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
        .filter { case (a, b) => a != b }.distinct
      val e = es.toDF("src", "dst")
      val starts = es.map(_._1).distinct.sorted.take(5)
        .map(s => (s, s)).toDF("walk_id", "start")
      def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Int)] =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
      assert(rows(Graphs.randomWalk(e, starts, steps = 4)) ==
        distributed(rows(Graphs.randomWalk(e, starts, steps = 4))),
        s"seed $seed: walk diverged")
    }
  }

  test("modularityByTag driver knee matches the distributed join+agg path") {
    for (seed <- 0 until 5) {
      val rnd = new scala.util.Random(seed * 6007 + 11)
      val es = (0 until 150).map(_ =>
        (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter { case (a, b) => a != b }.distinct
      val e = es.toDF("src", "dst")
      val und = Graphs.undirectedWeighted(e)
      // two assignments: a random partition, and singletons (the shapes
      // graph_louvain feeds); a partial assignment exercises the
      // inner-join drop semantics on both engines
      val nodes = es.flatMap(t => Seq(t._1, t._2)).distinct.sorted
      val part = nodes.map(n => (n, (n % 3).toLong, "p")).toDF("node", "comm", "tag")
      val single = nodes.map(n => (n, n, "s")).toDF("node", "comm", "tag")
      val partial = nodes.filter(_ % 2 == 0).map(n => (n, 1L, "h")).toDF("node", "comm", "tag")
      val tagged = part.unionByName(single).unionByName(partial)
      def q(df: org.apache.spark.sql.DataFrame): Map[String, Double] =
        df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val drv = q(Graphs.modularityByTag(und, tagged))
      val dist = distributed(q(Graphs.modularityByTag(und, tagged)))
      assert(drv.keySet == dist.keySet, s"seed $seed: tag sets diverged")
      for ((t, v) <- drv)
        assert(math.abs(v - dist(t)) <= 1e-12,
          s"seed $seed tag $t: driver $v vs distributed ${dist(t)}")
    }
  }
}
