package graft.lang

import graft.SparkFixture
import org.scalatest.funsuite.AnyFunSuite

/** Concurrent script execution against ONE CozoDb: writers serialize,
  * readers share (the coarse-grained analogue of the reference's
  * single-writer transactional model — every reference script runs in
  * its own tx). The stress mixes per-thread private mutation streams,
  * contended upserts on a shared relation, and concurrent FTS probes
  * whose first call races the index-cache fill.
  */
class ConcurrencySpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark

  private def inThreads(n: Int)(f: Int => Unit): Unit = {
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = (0 until n).map { i =>
      new Thread(() => try f(i) catch { case t: Throwable => errs.add(t) })
    }
    ts.foreach(_.start()); ts.foreach(_.join(120000))
    if (!errs.isEmpty) throw errs.peek()
  }

  test("8 threads × private relations + contended shared upserts: no lost writes, no corruption") {
    val db = new CozoDb(spark)
    db.run("?[k, v] <- [[-1, -1]] :create shared {k => v}")
    inThreads(8) { i =>
      db.run(s"?[k, v] <- [[0, 0]] :create own$i {k => v}")
      for (step <- 1 to 5) {
        db.run(s"?[k, v] <- [[$step, ${i * 100 + step}]] :put own$i {k => v}")
        // contended: each thread owns a disjoint key range on shared
        db.run(s"?[k, v] <- [[${i * 10 + step}, $step]] :put shared {k => v}")
        // interleaved reads exercise the shared read path
        assert(db.run(s"?[k, v] := *own$i[k, v]").count() == step + 1L)
      }
    }
    // every thread's writes all survived
    for (i <- 0 until 8)
      assert(db.run(s"?[k, v] := *own$i[k, v]").count() == 6L, s"own$i")
    val shared = db.run("?[k, v] := *shared[k, v]").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(shared.size == 41) // seed row + 8 threads × 5 keys
    for (i <- 0 until 8; s <- 1 to 5)
      assert(shared(i * 10L + s) == s.toLong, s"shared key ${i * 10 + s}")
  }

  test("concurrent FTS probes race the cache fill and all see the same index") {
    val db = new CozoDb(spark)
    db.run("?[k, v] <- [['a', 'hello world'], ['b', 'world peace'], ['c', 'quiet']] :create fd {k => v}")
    db.run("::fts create fd:ix {extractor: v, tokenizer: Simple, filters: [Lowercase]}")
    inThreads(6) { _ =>
      val hits = db.run("?[k] := ~fd:ix{k | query: 'world', k: 10}")
        .collect().map(_.getString(0)).toSet
      assert(hits == Set("a", "b"))
    }
    // exactly one build served every prober
    assert(db.indexFullBuilds == 1L)
  }

  test("::kill from another thread interrupts a writer holding the exclusive lock") {
    val db = new CozoDb(spark)
    db.run("?[a, b] <- [[0, 1], [1, 2]] :create ke {a => b}")
    @volatile var killed = false
    val runner = new Thread(() => {
      // a slow recursive mutation-classified script (has :put) that
      // holds the write lock while ::kill arrives from this thread
      try db.run(
        """r[x] := x = 0
          |r[x] := r[y], *ke[y % 2, b], x = y + 1, x < 2000
          |?[x] := r[x] :put sink {x}""".stripMargin)
      catch { case e: Exception if e.getMessage != null &&
        e.getMessage.contains("killed") => killed = true }
    })
    runner.start()
    // wait for the query to register, then kill its job group
    var tries = 0
    var id = -1L
    while (id < 0 && tries < 200) {
      Thread.sleep(50); tries += 1
      val running = db.run("::running").collect()
      if (running.nonEmpty) id = running.head.getLong(0)
    }
    assert(id >= 0, "runner never appeared in ::running")
    db.run(s"::kill $id")
    runner.join(60000)
    assert(!runner.isAlive, "runner should have stopped")
  }

  test("a failing concurrent writer leaves other threads' state intact") {
    val db = new CozoDb(spark)
    db.run("?[k, v] <- [[1, 1]] :create base {k => v}")
    inThreads(4) { i =>
      if (i == 0)
        intercept[Exception](db.run("?[k, v] <- [[9, 9]] :update base {k, v}")) // missing key
      else
        db.run(s"?[k, v] <- [[${i + 10}, $i]] :put base {k => v}")
    }
    val keys = db.run("?[k, v] := *base[k, v]").collect().map(_.getLong(0)).toSet
    assert(keys == Set(1L, 11L, 12L, 13L))
  }

  test("concurrent FTS and HNSW probes while a writer patches the indexes see whole snapshots") {
    for (gate <- Seq(Runtime.getRuntime.maxMemory / 16, -1L)) {
      val db = new CozoDb(spark)
      db.driverIndexGateBytes = gate
      def v(i: Int) = Seq(math.sin(i * 0.7), math.cos(i * 1.3), math.sin(i * 0.29 + 1))
        .map(x => f"$x%.4f").mkString("vec([", ", ", "])")
      db.run("?[k, t] <- [[0, 'seed marker']] :create cd {k => t}")
      db.run(s"?[k, e] <- [${(0 until 20).map(i => s"[$i, ${v(i)}]").mkString(", ")}] :create ce {k => e}")
      db.run("::fts create cd:ix {extractor: t}")
      db.run("::hnsw create ce:g {fields: [e], distance: Cosine, dim: 3, m: 4}")
      val writes = 6
      @volatile var done = false
      inThreads(4) { i =>
        if (i == 0) {
          try for (w <- 1 to writes) {
            db.run(s"?[k, t] <- [[$w, 'marker number $w']] :put cd {k => t}")
            db.run(s"?[k, e] <- [[${100 + w}, ${v(100 + w)}]] :put ce {k => e}")
          } finally done = true
        } else {
          var last = 0
          while (!done) {
            // the writer puts keys 1..writes in order: a probe sees a
            // prefix of them, and never fewer than an earlier probe saw
            val ks = db.run("?[k] := ~cd:ix{k | query: 'marker', k: 50}")
              .collect().map(_.getLong(0)).toSet
            val n = ks.size - 1
            assert(ks == (0 to n).map(_.toLong).toSet && n >= last, s"gate $gate: $ks")
            last = n
            assert(db.run(s"?[k] := ~ce:g{k | query: ${v(3)}, k: 3}").count() == 3L)
          }
        }
      }
      assert(db.run("?[k] := ~cd:ix{k | query: 'marker', k: 50}").count() == writes + 1L)
      val nearest = db.run(s"?[k] := ~ce:g{k | query: ${v(100 + writes)}, k: 1}")
        .collect().map(_.getLong(0)).toSeq
      assert(nearest == Seq(100L + writes), s"gate $gate")
    }
  }
}
