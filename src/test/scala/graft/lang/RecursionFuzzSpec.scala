package graft.lang

import graft.SparkFixture
import org.scalatest.funsuite.AnyFunSuite

/** Differential fuzzing of the RECURSIVE script path: random small
  * graphs × random recursion templates (filtered transitive closure,
  * seeded reachability, meet-aggregation shortest distance, mutual
  * even/odd recursion), the semi-naive Spark fixpoint vs an
  * independent in-memory naive fixpoint on Scala sets. Any divergence
  * in delta propagation, per-round dedup, meet folding, or mutual
  * stratum scheduling prints the failing seed's program.
  */
class RecursionFuzzSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark

  private def mkDb(edges: Seq[(Long, Long, Long)]): CozoDb = {
    import spark.implicits._
    val db = new CozoDb(spark)
    db.registerTable("e", edges.toDF("x", "y", "w"), Seq("x", "y", "w"))
    db
  }

  /** The Spark fixpoint loop alone: no component starts on the driver. */
  private def sparkFixpoint[T](body: => T): T =
    graft.plan.Knee.withLimits(graft.plan.Knee.FixpointRows -> 0L)(body)

  test("random recursive programs agree with an independent naive fixpoint (60 seeds × 5 templates)") {
    naiveAgreement(0 until 60)
  }

  test("the Spark fixpoint loop agrees with the naive fixpoint too (FixpointRows -> 0, 60 seeds × 5 templates)") {
    sparkFixpoint(naiveAgreement(0 until 60))
  }

  test(":limit under recursion early-stops to a SUBSET of the full fixpoint, of the right size (20 seeds)") {
    limitSubset(0 until 20)
  }

  test(":limit on the Spark fixpoint loop early-stops to a subset of the right size (FixpointRows -> 0, 20 seeds)") {
    sparkFixpoint(limitSubset(0 until 20))
  }

  private def naiveAgreement(seeds: Range): Unit = {
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    for (seed <- seeds) {
      val rnd = new scala.util.Random(seed * 104729 + 13)
      val nNodes = 6 + rnd.nextInt(7)
      val nEdges = 10 + rnd.nextInt(18)
      val edges = (0 until nEdges).map { _ =>
        (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong,
          (1 + rnd.nextInt(9)).toLong)
      }.distinct
      val db = mkDb(edges)
      val k = 3 + rnd.nextInt(7) // weight filter threshold
      val s = rnd.nextInt(nNodes) // seed node
      val fe = edges.filter(_._3 < k)

      val template = seed % 5
      val (script, want): (String, Set[Seq[Any]]) = template match {
        case 4 =>
          // stratified negation inside recursion: reachability that
          // never ENTERS a blocked node (blocked = nodes with a
          // self-loop in the raw edge set — derivable, non-recursive)
          val blocked = edges.collect { case (a, b, _) if a == b => a }.toSet
          var r = Set(s.toLong)
          var grew = true
          while (grew) {
            val nxt = r ++ fe.collect {
              case (a, b, _) if r(a) && !blocked(b) => b }
            grew = nxt.size > r.size; r = nxt
          }
          (s"""blocked[n] := *e[n, n, _]
              |r[n] := n = $s
              |r[n] := r[m], *e[m, n, w], w < $k, not blocked[n]
              |?[n] := r[n]""".stripMargin,
            r.map(n => Seq(n)))
        case 0 =>
          // filtered transitive closure
          var tc = fe.map(e => (e._1, e._2)).toSet
          var grew = true
          while (grew) {
            val nxt = tc ++ (for ((a, b) <- tc; (c, d) <- fe.map(e => (e._1, e._2)) if b == c) yield (a, d))
            grew = nxt.size > tc.size; tc = nxt
          }
          (s"""p[x, y] := *e[x, y, w], w < $k
              |p[x, y] := p[x, z], *e[z, y, w], w < $k
              |?[x, y] := p[x, y]""".stripMargin,
            tc.map(t => Seq(t._1, t._2)))
        case 1 =>
          // seeded reachability (seed node included via the base rule)
          var r = Set(s.toLong)
          var grew = true
          while (grew) {
            val nxt = r ++ fe.collect { case (a, b, _) if r(a) => b }
            grew = nxt.size > r.size; r = nxt
          }
          (s"""r[n] := n = $s
              |r[n] := r[m], *e[m, n, w], w < $k
              |?[n] := r[n]""".stripMargin,
            r.map(n => Seq(n)))
        case 2 =>
          // meet-aggregation shortest distance from the seed
          var d = Map(s.toLong -> 0L)
          var changed = true
          while (changed) {
            changed = false
            for ((a, b, w) <- fe; da <- d.get(a)) {
              val cand = da + w
              if (d.get(b).forall(cand < _)) { d += b -> cand; changed = true }
            }
          }
          (s"""d[n, min(c)] := n = $s, c = 0
              |d[n, min(c)] := d[m, c0], *e[m, n, w], w < $k, c = c0 + w
              |?[n, c] := d[n, c]""".stripMargin,
            d.toSeq.map { case (n, c) => Seq(n, c) }.toSet)
        case _ =>
          // mutual recursion: nodes at even/odd hop distance (any walk
          // parity, not shortest) — ev/od defined through each other
          var ev = Set(s.toLong); var od = Set.empty[Long]
          var grew = true
          while (grew) {
            val ne = ev ++ fe.collect { case (a, b, _) if od(a) => b }
            val no = od ++ fe.collect { case (a, b, _) if ev(a) => b }
            grew = ne.size > ev.size || no.size > od.size
            ev = ne; od = no
          }
          (s"""ev[n] := n = $s
              |ev[n] := od[m], *e[m, n, w], w < $k
              |od[n] := ev[m], *e[m, n, w], w < $k
              |?[n] := ev[n]""".stripMargin,
            ev.map(n => Seq(n)))
      }
      // template 3's filter applies to mutual hops too: recompute fe-based
      // walks already use fe, so nothing extra.
      try {
        val got = db.run(script).collect()
          .map(_.toSeq.map { case n: java.lang.Number => n.longValue(); case o => o })
          .toSet
        if (got != want.map(_.map { case n: java.lang.Number => n.longValue(); case o => o }))
          failures += s"seed $seed (template $template):\n$script\n  only-spark: ${(got -- want).take(4)}\n  only-naive: ${(want -- got).take(4)}"
      } catch {
        case e: Throwable =>
          failures += s"seed $seed (template $template) THREW ${e.getClass.getSimpleName}: ${e.getMessage}\n$script"
      }
    }
    assert(failures.isEmpty, s"${failures.length} diverging seeds:\n${failures.mkString("\n\n")}")
  }

  private def limitSubset(seeds: Range): Unit = {
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    for (seed <- seeds) {
      val rnd = new scala.util.Random(seed * 7717 + 5)
      val nNodes = 6 + rnd.nextInt(6)
      val edges = (0 until 12 + rnd.nextInt(14)).map { _ =>
        (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong, 1L)
      }.distinct
      val db = mkDb(edges)
      val script =
        """p[x, y] := *e[x, y, _]
          |p[x, y] := p[x, z], *e[z, y, _]
          |?[x, y] := p[x, y]""".stripMargin
      val full = db.run(script).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val lim = 1 + rnd.nextInt(full.size + 2)
      val got = db.run(s"$script\n:limit $lim").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      if (got.size != math.min(lim, full.size) || !got.subsetOf(full))
        failures += s"seed $seed: limit $lim, full ${full.size}, got ${got.size}, subset ${got.subsetOf(full)}"
    }
    assert(failures.isEmpty, s"${failures.length} bad seeds:\n${failures.mkString("\n")}")
  }
}
