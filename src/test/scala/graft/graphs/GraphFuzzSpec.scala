package graft.graphs

import graft.SparkFixture
import graft.plan.Knee
import org.scalatest.funsuite.AnyFunSuite

/** Differential fuzz of the distributed graph kernels on random small
  * graphs vs naive single-machine references: union-find (CC), Kosaraju
  * (SCC), Bellman-Ford (multi-source shortest paths), Kahn layering
  * (topSort), and direct counting (degree centrality). Catches
  * propagation/convergence bugs the fixed hand examples can't.
  */
class GraphFuzzSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  import spark.implicits._

  /** `body` with every graph knee pinned to its distributed branch. */
  private def distributed[A](body: => A): A = Knee.withLimits(Knee.GraphEdges -> 0L)(body)

  private def randEdges(rnd: scala.util.Random, n: Int, m: Int): Seq[(Long, Long)] =
    (0 until m).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).distinct

  test("connectedComponents ≡ union-find with min-id labels (15 seeds)") {
    for (seed <- 0 until 15) {
      val rnd = new scala.util.Random(seed * 52361 + 11)
      val es = randEdges(rnd, 8 + rnd.nextInt(6), 12 + rnd.nextInt(18))
      val got = Graphs.connectedComponents(es.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // naive union-find over the undirected edge set (self-loop-only
      // nodes are singleton components, like the reference's graph)
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      for ((a, b) <- es) { val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb }
      val members = parent.keys.toSeq.groupBy(find)
      val want = members.values.flatMap { ns => val lbl = ns.min; ns.map(_ -> lbl) }.toMap
      assert(got == want, s"seed $seed edges $es")
    }
  }

  test("stronglyConnectedComponents ≡ Kosaraju with min-id labels (15 seeds)") {
    for (seed <- 0 until 15) {
      val rnd = new scala.util.Random(seed * 77351 + 3)
      val es0 = randEdges(rnd, 7 + rnd.nextInt(5), 10 + rnd.nextInt(16))
      val es = es0 // self-loops allowed: such nodes are singleton SCCs
      if (es.exists(e => e._1 != e._2)) {
        val got = Graphs.stronglyConnectedComponents(es.toDF("src", "dst"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
        val esn = es.filter(e => e._1 != e._2)
        val fwd = esn.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
        val bwd = esn.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
        // Kosaraju: order by finish time on fwd, assign on bwd
        val visited = scala.collection.mutable.Set.empty[Long]
        val order = scala.collection.mutable.ArrayBuffer.empty[Long]
        def dfs1(u: Long): Unit = if (visited.add(u)) {
          fwd.getOrElse(u, Nil).foreach(dfs1); order += u
        }
        nodes.sorted.foreach(dfs1)
        val comp = scala.collection.mutable.Map.empty[Long, Long]
        def dfs2(u: Long, root: Long): Unit = if (!comp.contains(u)) {
          comp(u) = root; bwd.getOrElse(u, Nil).foreach(dfs2(_, root))
        }
        order.reverseIterator.foreach(u => if (!comp.contains(u)) dfs2(u, u))
        val want = comp.keys.toSeq.groupBy(comp).values
          .flatMap { ns => val lbl = ns.min; ns.map(_ -> lbl) }.toMap
        assert(got == want, s"seed $seed edges $es")
      }
    }
  }

  test("shortestPaths ≡ Bellman-Ford from every start (12 seeds)") {
    for (seed <- 0 until 12) {
      val rnd = new scala.util.Random(seed * 90001 + 7)
      val n = 7 + rnd.nextInt(5)
      val es = randEdges(rnd, n, 12 + rnd.nextInt(14))
        .map { case (a, b) => (a, b, (1 + rnd.nextInt(9)).toDouble) }
      val starts = (0 until 2 + rnd.nextInt(2)).map(_ => rnd.nextInt(n).toLong).distinct
      val got = Graphs.shortestPaths(
          es.toDF("src", "dst", "weight"), starts.toDF("start"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val want = starts.flatMap { s =>
        val dist = scala.collection.mutable.Map(s -> 0.0)
        var changed = true
        while (changed) {
          changed = false
          for ((a, b, w) <- es; da <- dist.get(a)) {
            if (dist.get(b).forall(da + w < _)) { dist(b) = da + w; changed = true }
          }
        }
        dist.map { case (node, c) => (s, node) -> c }
      }.toMap
      assert(got == want, s"seed $seed")
    }
  }

  test("topSort ≡ Kahn layering on random DAGs; cyclic graphs error (12 seeds)") {
    for (seed <- 0 until 12) {
      val rnd = new scala.util.Random(seed * 31357 + 17)
      val n = 7 + rnd.nextInt(6)
      // DAG by construction: edges only increase node id
      val es = (0 until 12 + rnd.nextInt(14)).map { _ =>
        val a = rnd.nextInt(n - 1); val b = a + 1 + rnd.nextInt(n - a - 1)
        (a.toLong, b.toLong)
      }.distinct
      val got = Graphs.topSort(es.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.get(1).asInstanceOf[Number].longValue()).toMap
      // naive Kahn peel
      var remaining = es
      var live = es.flatMap(e => Seq(e._1, e._2)).distinct.toSet
      var layer = 0L
      val want = scala.collection.mutable.Map.empty[Long, Long]
      while (live.nonEmpty) {
        val hasIn = remaining.filter(e => live(e._1)).map(_._2).toSet
        val zero = live -- hasIn
        zero.foreach(want(_) = layer)
        live --= zero
        remaining = remaining.filter(e => live(e._1) && live(e._2))
        layer += 1
      }
      assert(got == want.toMap, s"seed $seed")
    }
    // a cycle errors loudly
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val e = intercept[Exception](Graphs.topSort(cyc).collect())
    assert(e.getMessage.toLowerCase.contains("cycle"))
  }

  test("pageRank ≡ naive damped power iteration with dangling redistribution (8 seeds)") {
    for (seed <- 0 until 8) {
      val rnd = new scala.util.Random(seed * 41651 + 31)
      val es = randEdges(rnd, 7 + rnd.nextInt(5), 10 + rnd.nextInt(14))
      val iters = 3 + rnd.nextInt(5)
      val got = Graphs.pageRank(es.toDF("src", "dst"), iters = iters)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
      val n = nodes.size.toDouble
      val outDeg = es.groupBy(_._1).view.mapValues(_.size).toMap
      var rank = nodes.map(_ -> 1.0 / n).toMap
      for (_ <- 0 until iters) {
        val contrib = scala.collection.mutable.Map.empty[Long, Double].withDefaultValue(0.0)
        for ((a, b) <- es) contrib(b) += rank(a) / outDeg(a)
        val dangling = nodes.filterNot(outDeg.contains).map(rank).sum
        rank = nodes.map(v =>
          v -> ((1 - 0.85) / n + 0.85 * (contrib(v) + dangling / n))).toMap
      }
      assert(got.keySet == rank.keySet, s"seed $seed")
      for ((v, r) <- rank)
        assert(math.abs(got(v) - r) < 1e-9, s"seed $seed node $v: ${got(v)} vs $r")
    }
  }

  test("clusteringCoefficients ≡ naive per-node triangle counting (8 seeds, simple graphs)") {
    for (seed <- 0 until 8) {
      val rnd = new scala.util.Random(seed * 65867 + 41)
      val es = randEdges(rnd, 7 + rnd.nextInt(5), 12 + rnd.nextInt(14))
        .filter(e => e._1 != e._2)
      val got = Graphs.clusteringCoefficients(es.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      val nbr = (es ++ es.map(e => (e._2, e._1))).distinct
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val want = nbr.map { case (v, ns) =>
        val deg = ns.size.toLong
        val tris = ns.toSeq.combinations(2).count { case Seq(x, y) =>
          nbr.getOrElse(x, Set.empty)(y) }
        val cc = if (deg >= 2) 2.0 * tris / (deg * (deg - 1)) else 0.0
        v -> ((deg, tris.toLong, cc))
      }
      assert(got.keySet == want.keySet, s"seed $seed")
      for ((v, (d, t, c)) <- want) {
        val (gd, gt, gc) = got(v)
        assert(gd == d && gt == t && math.abs(gc - c) < 1e-12, s"seed $seed node $v")
      }
    }
  }

  test("yenPaths ≡ exhaustive loopless-path enumeration: top-k costs and path validity (8 seeds)") {
    for (seed <- 0 until 8) {
      val rnd = new scala.util.Random(seed * 66601 + 37)
      val n = 5 + rnd.nextInt(3) // small enough to enumerate ALL simple paths
      val es = randEdges(rnd, n, 8 + rnd.nextInt(8))
        .filter(e => e._1 != e._2)
        .map { case (a, b) => (a, b, (1 + rnd.nextInt(9)).toDouble) }
      val s = rnd.nextInt(n).toLong
      val g = rnd.nextInt(n).toLong
      if (s != g && es.nonEmpty) {
        val k = 2 + rnd.nextInt(3)
        val got = Graphs.yenPaths(es.toDF("src", "dst", "weight"),
            Seq(s).toDF("start"), Seq(g).toDF("goal"), k)
          .collect().map(r => (r.getLong(2), r.getDouble(3), r.getSeq[String](4)))
          .sortBy(_._1)
        // exhaustive simple paths s→g
        val adj = es.groupBy(_._1).view.mapValues(_.map(e => (e._2, e._3))).toMap
        val all = scala.collection.mutable.ArrayBuffer.empty[(Double, Seq[Long])]
        def dfs(u: Long, cost: Double, path: Seq[Long]): Unit = {
          if (u == g) all += ((cost, path))
          else for ((v, w) <- adj.getOrElse(u, Nil) if !path.contains(v))
            dfs(v, cost + w, path :+ v)
        }
        dfs(s, 0.0, Seq(s))
        val wantCosts = all.map(_._1).sorted.take(k).toSeq
        assert(got.map(_._2).toSeq == wantCosts,
          s"seed $seed $s→$g: costs ${got.map(_._2).toSeq} vs $wantCosts")
        // every reported path is a valid loopless path with its cost
        for ((rank, cost, path) <- got) {
          val hops = path.map(_.toLong)
          assert(hops.head == s && hops.last == g && hops.distinct.size == hops.size)
          val wsum = hops.sliding(2).map { case Seq(a, b) =>
            es.collectFirst { case (x, y, w) if x == a && y == b => w }.get }.sum
          assert(math.abs(wsum - cost) < 1e-9, s"seed $seed rank $rank path sum")
        }
      }
    }
  }

  test("KMeans script rule: every point assigned to its max-cosine centroid; clusters ≤ k (6 seeds)") {
    for (seed <- 0 until 6) {
      val rnd = new scala.util.Random(seed * 98897 + 41)
      val k = 2 + rnd.nextInt(3)
      val pts = (1L to (20 + rnd.nextInt(30)).toLong).map { id =>
        (id, Seq.fill(4)(rnd.nextFloat() * 10f))
      }
      val cents = graft.similarity.Ann.ivfCentroids(
        pts.toDF("id", "vec"), nCells = k, iters = 3, seed = seed)
      val centroids = cents.collect()
        .map(r => r.getAs[Int]("cell") -> r.getAs[Seq[Float]]("cvec").toArray).toMap
      val assigned = graft.similarity.Ann.assignCells(pts.toDF("id", "vec"), cents)
        .collect().map(r => r.getAs[Long]("id") -> r.getAs[Int]("cell")).toMap
      // assignCells is the IVF builder: nearest by COSINE similarity
      def cos(a: Seq[Float], b: Array[Float]): Double = {
        val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
        val na = math.sqrt(a.map(x => x.toDouble * x).sum)
        val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
        if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
      }
      for ((id, vec) <- pts) {
        val cell = assigned(id)
        val best = centroids.values.map(c => cos(vec, c)).max
        assert(math.abs(cos(vec, centroids(cell)) - best) < 1e-6,
          s"seed $seed point $id not assigned to max-cosine centroid")
      }
      assert(assigned.values.toSet.size <= k)
    }
  }

  test("driver knees ≡ distributed loops: bfs / reachable / shortestPaths / betweenness (5 seeds)") {
    // every row's values, numbers widened to long: one shape for Long-
    // and string-keyed graphs and for int/long depth columns
    def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq.map { case i: java.lang.Integer => i.toLong; case x => x }).toSet
    def scores(df: org.apache.spark.sql.DataFrame): Map[Any, Double] =
      df.collect().map(r => r.get(0) -> r.getDouble(1)).toMap
    def close(a: Map[Any, Double], b: Map[Any, Double], what: String): Unit = {
      assert(a.keySet == b.keySet, s"$what keys")
      for ((k, x) <- a) assert(math.abs(x - b(k)) <= 1e-9 * (math.abs(b(k)) + 1.0), s"$what node $k")
    }
    for (seed <- 0 until 5) {
      val rnd = new scala.util.Random(seed * 104729 + 11)
      val raw = randEdges(rnd, 8 + rnd.nextInt(6), 14 + rnd.nextInt(14)).filter(e => e._1 != e._2)
      if (raw.nonEmpty) {
        val e = raw.toDF("src", "dst")
        val starts = raw.map(_._1).distinct.take(3).toDF("start")
        def rows3(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
          df.collect().map(r => (r.getLong(0), r.getLong(1),
            r.get(2).asInstanceOf[Number].longValue)).toSet
        assert(rows3(Graphs.bfs(e, starts, 3)) ==
          distributed(rows3(Graphs.bfs(e, starts, 3))), s"bfs seed $seed")
        def rows2(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
          df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(rows2(Graphs.reachable(e, starts, 3)) ==
          distributed(rows2(Graphs.reachable(e, starts, 3))), s"reach seed $seed")
        val we = raw.map { case (a, b) => (a, b, ((a * 7 + b * 13) % 5 + 1).toDouble) }
          .toDF("src", "dst", "weight")
        def costs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
          df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        assert(costs(Graphs.shortestPaths(we, starts, maxIter = 6)) ==
          distributed(costs(Graphs.shortestPaths(we, starts, maxIter = 6))),
          s"ssp seed $seed")
        val drvB = Graphs.betweennessCentralityApprox(e, sample = Int.MaxValue)
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        val distB = distributed(Graphs.betweennessCentralityApprox(e, sample = Int.MaxValue)
          .collect()).map(r => r.getLong(0) -> r.getDouble(1)).toMap
        assert(drvB.keySet == distB.keySet, s"btw keys seed $seed")
        for ((k, a) <- drvB; b = distB(k))
          assert(math.abs(a - b) <= 1e-9 * (math.abs(b) + 1.0), s"btw seed $seed node $k: $a vs $b")
        // closeness: exact integer hop sums and one closing division on
        // both engines, so the scores match exactly — all sources (seed
        // 0), and a 3-source hash sample (seed 1)
        if (seed < 2) {
          val sample = Seq(1000, 3)(seed)
          assert(scores(Graphs.closenessCentrality(e, sample = sample)) ==
            distributed(scores(Graphs.closenessCentrality(e, sample = sample))),
            s"closeness sample $sample seed $seed")
        }
        // the same graph with string node ids (the generic-key driver
        // paths the FixedRules string graphs take)
        if (seed == 0) {
          val se = raw.map { case (a, b) => (s"n$a", s"n$b") }.toDF("src", "dst")
          val sst = raw.map(t => s"n${t._1}").distinct.take(3).toDF("start")
          assert(rows(Graphs.bfs(se, sst, 3)) == distributed(rows(Graphs.bfs(se, sst, 3))),
            s"string bfs seed $seed")
          assert(rows(Graphs.reachable(se, sst, 3)) ==
            distributed(rows(Graphs.reachable(se, sst, 3))), s"string reach seed $seed")
          val swe = raw.map { case (a, b) => (s"n$a", s"n$b", ((a * 7 + b * 13) % 5 + 1).toDouble) }
            .toDF("src", "dst", "weight")
          assert(rows(Graphs.shortestPaths(swe, sst, maxIter = 6)) ==
            distributed(rows(Graphs.shortestPaths(swe, sst, maxIter = 6))),
            s"string ssp seed $seed")
          close(scores(Graphs.betweennessCentralityApprox(se, sample = Int.MaxValue)),
            distributed(scores(Graphs.betweennessCentralityApprox(se, sample = Int.MaxValue))),
            s"string btw seed $seed")
        }
      }
    }
    // the gate boundary: n distinct edges against GraphEdges = n
    // (driver) and n - 1 (distributed) — identical rows, and the logged
    // knee decision flips
    val e = randEdges(new scala.util.Random(7), 10, 20).filter(t => t._1 != t._2).toDF("src", "dst")
    val starts = Seq(0L, 1L, 2L).toDF("start")
    val n = e.distinct().count()
    val ((atGate, belowGate), lines) = graft.plan.KneeLog.capture(
      (Knee.withLimits(Knee.GraphEdges -> n)(rows(Graphs.bfs(e, starts, 3))),
        Knee.withLimits(Knee.GraphEdges -> (n - 1))(rows(Graphs.bfs(e, starts, 3)))))
    assert(atGate == belowGate, "bfs at the gate boundary")
    val logged = lines.toSet
    assert(logged(s"graft.knee op=bfs n=$n gate=$n branch=driver"), logged)
    assert(logged(s"graft.knee op=bfs n=$n gate=${n - 1} branch=distributed"), logged)
  }

  test("distributed Borůvka ≡ driver Kruskal on unique-weight graphs (6 seeds)") {
    // unique weights → the MSF is unique, so the two paths must return
    // the exact same edge SET (GraphEdges = 0 forces the distributed
    // loop, which the driver knee otherwise shadows at test scale)
    for (seed <- 0 until 6) {
      val rnd = new scala.util.Random(seed * 7919 + 5)
      val raw = randEdges(rnd, 8 + rnd.nextInt(6), 12 + rnd.nextInt(16))
        .filter(e => e._1 != e._2)
      val es = raw.zipWithIndex.map { case ((a, b), i) =>
        (a, b, (i * 37 % 101 + 1) * 1000.0 + a * 7 + b) // engineered-unique
      }
      if (es.nonEmpty) {
        val df = es.toDF("src", "dst", "weight")
        val boruvka = distributed(Graphs.minimumSpanningForest(df).collect())
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        val kruskal = Graphs.minimumSpanningForest(df)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        assert(boruvka == kruskal, s"seed $seed: $boruvka vs $kruskal")
      }
    }
  }

  test("minimumSpanningForest total weight ≡ naive Kruskal, edges valid and spanning (10 seeds)") {
    for (seed <- 0 until 10) {
      val rnd = new scala.util.Random(seed * 45007 + 23)
      val es = randEdges(rnd, 8 + rnd.nextInt(6), 12 + rnd.nextInt(16))
        .filter(e => e._1 != e._2)
        .map { case (a, b) => (a, b, (1 + rnd.nextInt(20)).toDouble) }
      if (es.nonEmpty) {
        val got = Graphs.minimumSpanningForest(es.toDF("src", "dst", "weight"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        // canonical min-weight undirected edge set for validity checks
        val canon = es.map { case (a, b, w) => ((math.min(a, b), math.max(a, b)), w) }
          .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
        for ((a, b, w) <- got)
          assert(canon.get((math.min(a, b), math.max(a, b))).contains(w),
            s"seed $seed: forest edge ($a,$b,$w) not a canonical graph edge")
        // naive Kruskal
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        var naiveW = 0.0; var naiveEdges = 0
        for (((a, b), w) <- canon.toSeq.sortBy { case ((a, b), w) => (w, a, b) }) {
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) { parent(ra) = rb; naiveW += w; naiveEdges += 1 }
        }
        assert(got.length == naiveEdges, s"seed $seed: ${got.length} edges vs $naiveEdges")
        assert(math.abs(got.map(_._3).sum - naiveW) < 1e-9,
          s"seed $seed: total ${got.map(_._3).sum} vs $naiveW")
        // forest is acyclic and spans: n_edges = n_nodes − n_components
        val fparent = scala.collection.mutable.Map.empty[Long, Long]
        def ffind(x: Long): Long = {
          val p = fparent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = ffind(p); fparent(x) = r; r }
        }
        for ((a, b, _) <- got) {
          assert(ffind(a) != ffind(b), s"seed $seed: forest edge ($a,$b) closes a cycle")
          fparent(ffind(a)) = ffind(b)
        }
      }
    }
  }

  test("closenessCentrality full-sample ≡ naive undirected BFS estimator (8 seeds)") {
    for (seed <- 0 until 8) {
      val rnd = new scala.util.Random(seed * 29123 + 19)
      val es = randEdges(rnd, 7 + rnd.nextInt(5), 10 + rnd.nextInt(14))
      val got = Graphs.closenessCentrality(es.toDF("src", "dst"), sample = 1000)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
      val und = (es ++ es.map(e => (e._2, e._1))).filter(e => e._1 != e._2).distinct
      val adj = und.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      def bfs(s: Long): Map[Long, Int] = {
        val d = scala.collection.mutable.Map(s -> 0)
        val q = scala.collection.mutable.Queue(s)
        while (q.nonEmpty) {
          val u = q.dequeue()
          for (v <- adj.getOrElse(u, Nil) if !d.contains(v)) { d(v) = d(u) + 1; q += v }
        }
        d.toMap
      }
      val n = nodes.size.toDouble
      val dists = nodes.map(s => s -> bfs(s)).toMap
      for (v <- nodes) {
        val total = nodes.filter(_ != v).flatMap(s => dists(s).get(v)).sum.toDouble
        val want = if (total > 0) (n - 1) * n / (n * total) else 0.0
        assert(math.abs(got(v) - want) < 1e-9, s"seed $seed node $v: ${got(v)} vs $want")
      }
    }
  }

  test("degreeCentrality ≡ direct counting (8 seeds)") {
    for (seed <- 0 until 8) {
      val rnd = new scala.util.Random(seed * 10007 + 23)
      val es = randEdges(rnd, 8 + rnd.nextInt(5), 12 + rnd.nextInt(16))
      val got = Graphs.degreeCentrality(es.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      val outD = es.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val inD = es.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val want = es.flatMap(e => Seq(e._1, e._2)).distinct.map { v =>
        val (o, i) = (outD.getOrElse(v, 0L), inD.getOrElse(v, 0L))
        v -> ((o + i, i, o))
      }.toMap
      assert(got == want, s"seed $seed")
    }
  }
}
