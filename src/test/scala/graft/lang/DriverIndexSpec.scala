package graft.lang

import graft.SparkFixture
import org.scalatest.funsuite.AnyFunSuite

/** Driver-resident FTS/HNSW indexes against the distributed branch.
  *
  * Every fixture runs the same scripts on two databases over the same
  * data: one with the default byte gate (small indexes are held on the
  * driver) and one with the gate pinned below zero (every index takes
  * the distributed path). Results must agree — HNSW exactly (the driver
  * holds the very graphs the distributed build writes), FTS up to float
  * summation order inside a per-document sum (scores compared to 9
  * decimals). The rest pins per-relation index versions: a write to one
  * relation never rebuilds or reloads another's index, and every way of
  * replacing a relation's rows (re-registration, import, restore,
  * remove + re-create, transaction abort) stops a probe from serving the
  * old rows.
  */
class DriverIndexSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark

  /** (driver-branch db, distributed-branch db). */
  private def pair(): (CozoDb, CozoDb) = {
    val d = new CozoDb(spark)
    val x = new CozoDb(spark)
    x.driverIndexGateBytes = -1L
    (d, x)
  }

  private def both(dbs: (CozoDb, CozoDb))(script: String): Unit = {
    dbs._1.run(script).collect(); dbs._2.run(script).collect()
  }

  /** Result rows, doubles rounded to 9 decimals, sorted. */
  private def rows(db: CozoDb, script: String): Seq[String] =
    db.run(script).collect().toSeq.map(_.toSeq.map {
      case d: Double => BigDecimal(d).setScale(9, BigDecimal.RoundingMode.HALF_UP).toString
      case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|")).sorted

  private def assertSame(dbs: (CozoDb, CozoDb), script: String): Seq[String] = {
    val a = rows(dbs._1, script)
    val b = rows(dbs._2, script)
    assert(a == b, s"driver != distributed for\n$script\ndriver:      $a\ndistributed: $b")
    a
  }

  private val vocab = Seq("apple", "apricot", "banana", "berry", "cherry", "date",
    "elder", "fig", "grape", "guava", "the", "and", "of")

  private def docRows(n: Int, seed: Int): Seq[(Long, String, Long)] = {
    val rng = new scala.util.Random(seed)
    (0 until n).map { i =>
      (i.toLong, Seq.fill(3 + rng.nextInt(9))(vocab(rng.nextInt(vocab.length))).mkString(" "),
        rng.nextInt(3).toLong)
    }
  }

  private def docLits(docs: Seq[(Long, String, Long)]): String =
    docs.map { case (k, t, g) => s"[$k, '$t', $g]" }.mkString(", ")

  private val ftsQueries = Seq(
    "apple", "apple OR banana", "apple AND berry", "apple berry", "ap*", "gr* OR fig",
    "apple NOT banana", "(apple OR cherry) NOT date", "NEAR/2(apple banana)",
    "NEAR(ap* berry)", "apple^2.5 OR banana", "fig, grape; guava", "the", "",
    "apple apple", "NEAR/1(cherry cherry)", "(fig OR grape) (elder OR date)")

  test("FTS: driver == distributed for every query shape, score kind, filter and stream probe") {
    val dbs = pair()
    both(dbs)(s"?[k, v, g] <- [${docLits(docRows(60, 1))}] :create docs {k => v, g}")
    both(dbs)("::fts create docs:fts {extractor: v, tokenizer: Simple, " +
      "filters: [Lowercase, Stopwords('en')]}")
    for (kind <- Seq("tf_idf", "tf", "bm25"); q <- ftsQueries) {
      assertSame(dbs, s"?[k, s] := ~docs:fts{k | query: '$q', k: 60, score_kind: '$kind', bind_score: s}")
      // a small k cut, a non-key binding, a per-probe filter
      assertSame(dbs, s"?[k, g] := ~docs:fts{k, g | query: '$q', k: 3, score_kind: '$kind'}")
      assertSame(dbs, s"?[k, s] := ~docs:fts{k | query: '$q', k: 4, score_kind: '$kind', " +
        "filter: g == 1, bind_score: s}")
    }
    val stream = ftsQueries.filter(_.nonEmpty).map(q => s"['$q']").mkString(", ")
    for (kind <- Seq("tf_idf", "tf", "bm25"))
      assertSame(dbs, s"qs[q] <- [$stream]\n" +
        s"?[q, k, s] := qs[q], ~docs:fts{k | query: q, k: 60, score_kind: '$kind', bind_score: s}")
    assert(dbs._1.indexDriverBuilds == 1 && dbs._1.indexDriverProbes > 0)
    assert(dbs._2.indexDriverBuilds == 0 && dbs._2.indexDriverProbes == 0)
    // the index internals scan the same postings
    assertSame(dbs, "?[w, k, p, n] := *docs:fts{word: w, src_k: k, position: p, total_length: n}")
  }

  test("FTS: put/rm/update chains patch the driver index and keep it == distributed") {
    val dbs = pair()
    both(dbs)(s"?[k, v, g] <- [${docLits(docRows(30, 2))}] :create docs {k => v, g}")
    both(dbs)("::fts create docs:fts {extractor: v, tokenizer: Simple, filters: [Lowercase]}")
    val probe = "?[k, s] := ~docs:fts{k | query: 'apple OR berry OR ap*', k: 40, bind_score: s}"
    assertSame(dbs, probe)
    val builds = dbs._1.indexFullBuilds
    val more = docRows(45, 3).drop(30)
    both(dbs)(s"?[k, v, g] <- [${docLits(more)}] :put docs {k => v, g}")
    assertSame(dbs, probe)
    both(dbs)("?[k, v, g] <- [[3, 'apple apple apple', 0], [7, 'nothing here', 1]] :put docs {k => v, g}")
    assertSame(dbs, probe)
    both(dbs)("?[k] <- [[1], [2], [31]] :rm docs {k}")
    assertSame(dbs, probe)
    both(dbs)("?[k, v] <- [[4, 'berry berry']] :update docs {k => v}")
    val hits = assertSame(dbs, probe)
    assert(hits.exists(_.startsWith("4|")) && !hits.exists(_.startsWith("1|")))
    assert(dbs._1.indexFullBuilds == builds, "mutations patch the driver index")
    assert(dbs._1.indexDriverPatches == 4)
  }

  private def vec(i: Int, salt: Double): String =
    Seq(math.sin(i * 0.7 + salt), math.cos(i * 1.3 + salt), math.sin(i * 0.29 + 1 + salt),
      math.cos(i * 0.11 + salt)).map(x => f"$x%.4f").mkString("vec([", ", ", "])")

  test("HNSW: driver == distributed for cosine/l2/ip, multi-field, stream probes, put/rm/update and abort") {
    val dbs = pair()
    val data = (0 until 80).map(i => s"[$i, ${vec(i, 0)}, ${vec(i, 0.5)}, ${i % 4}]").mkString(", ")
    both(dbs)(s"?[k, v, w, g] <- [$data] :create vs {k => v, w, g}")
    for ((name, dist) <- Seq("cos" -> "Cosine", "l2" -> "L2", "ip" -> "IP"))
      both(dbs)(s"::hnsw create vs:$name {fields: [v], distance: $dist, dim: 4, m: 6, ef_construction: 24}")
    both(dbs)("::hnsw create vs:multi {fields: [v, w], distance: Cosine, dim: 4, m: 6, ef_construction: 24}")
    def check(): Unit = for (ix <- Seq("cos", "l2", "ip", "multi"); q <- Seq(3, 41, 77)) {
      assertSame(dbs, s"?[k, d] := ~vs:$ix{k | query: ${vec(q, 0.2)}, k: 7, ef: 20, bind_distance: d}")
      assertSame(dbs, s"?[k, g, f, d] := ~vs:$ix{k, g | query: ${vec(q, 0.2)}, k: 5, " +
        "bind_field: f, bind_distance: d}")
      assertSame(dbs, "qs[q] <- [[1], [20], [55]]\n" +
        s"?[q, k, d] := qs[q], *vs{k: q, v}, ~vs:$ix{k | query: v, k: 4, bind_distance: d}")
    }
    check()
    assert(dbs._1.indexDriverBuilds == 4 && dbs._2.indexDriverBuilds == 0)
    val builds = dbs._1.indexFullBuilds
    both(dbs)(s"?[k, v, w, g] <- [[100, ${vec(100, 0)}, ${vec(100, 1)}, 0], " +
      s"[5, ${vec(500, 0)}, ${vec(501, 0)}, 1]] :put vs {k => v, w, g}")
    check()
    both(dbs)("?[k] <- [[7], [100]] :rm vs {k}")
    check()
    both(dbs)(s"?[k, v] <- [[9, ${vec(900, 0)}]] :update vs {k => v}")
    check()
    assert(dbs._1.indexFullBuilds == builds, "mutations patch the driver graphs")
    // an aborted transaction's writes leave no trace in either branch
    for (db <- Seq(dbs._1, dbs._2)) {
      val tx = db.multiTransaction()
      tx.run(s"?[k, v, w, g] <- [[200, ${vec(3, 0.2)}, ${vec(3, 0.2)}, 0]] :put vs {k => v, w, g}")
      assert(tx.run(s"?[k] := ~vs:cos{k | query: ${vec(3, 0.2)}, k: 1}")
        .collect().map(_.getLong(0)).toSeq == Seq(200L))
      tx.abort()
    }
    check()
    assert(!rows(dbs._1, s"?[k] := ~vs:cos{k | query: ${vec(3, 0.2)}, k: 3}").contains("200"))
    // the graph relation scans identically
    assertSame(dbs, "?[l, a, b, d] := *vs:cos{layer: l, fr_k: a, to_k: b, dist: d}")
  }

  test("a write to one relation never rebuilds or reloads another relation's index") {
    for (gate <- Seq(Runtime.getRuntime.maxMemory / 16, -1L)) {
      val db = new CozoDb(spark)
      db.driverIndexGateBytes = gate
      db.run(s"?[k, v, g] <- [${docLits(docRows(20, 4))}] :create docs {k => v, g}")
      db.run(s"?[k, v] <- [${(0 until 30).map(i => s"[$i, ${vec(i, 0)}]").mkString(", ")}] :create vs {k => v}")
      db.run("?[a, b] <- [[1, 2]] :create other {a => b}")
      db.run("::fts create docs:fts {extractor: v}")
      db.run("::hnsw create vs:g {fields: [v], distance: Cosine, dim: 4, m: 6}")
      def probeAll(): Unit = {
        db.run("?[k] := ~docs:fts{k | query: 'apple', k: 5}").collect()
        db.run(s"?[k] := ~vs:g{k | query: ${vec(1, 0)}, k: 5}").collect()
      }
      probeAll()
      val (builds, loads, patches, dpatches) =
        (db.indexFullBuilds, db.indexGraphLoads, db.indexPatches, db.indexDriverPatches)
      db.run("?[a, b] <- [[2, 3]] :put other {a => b}")
      db.run("?[a] <- [[1]] :rm other {a}")
      probeAll()
      assert((db.indexFullBuilds, db.indexGraphLoads, db.indexPatches, db.indexDriverPatches) ==
        (builds, loads, patches, dpatches), s"gate $gate: other's writes touched an index")
      // a write to docs patches docs' index only; vs' graphs are not reloaded
      db.run("?[k, v, g] <- [[500, 'apple pie', 0]] :put docs {k => v, g}")
      probeAll()
      assert(db.indexFullBuilds == builds && db.indexGraphLoads == loads, s"gate $gate")
    }
  }

  test("re-registration, import, restore, remove + re-create and abort never serve a stale index") {
    for (gate <- Seq(Runtime.getRuntime.maxMemory / 16, -1L)) {
      import spark.implicits._
      val db = new CozoDb(spark)
      db.driverIndexGateBytes = gate
      def ftsHits(q: String): Set[Long] =
        db.run(s"?[k] := ~d:fts{k | query: '$q', k: 10}").collect().map(_.getLong(0)).toSet
      def vecHits(): Seq[Long] =
        db.run(s"?[k] := ~p:g{k | query: ${vec(0, 0)}, k: 1}").collect().map(_.getLong(0)).toSeq
      def docs(rows: (Long, String)*) = rows.toDF("k", "v")
      def pts(rows: (Long, Int)*) = rows.map { case (k, i) =>
        (k, Array(math.sin(i * 0.7), math.cos(i * 1.3), math.sin(i * 0.29 + 1),
          math.cos(i * 0.11)).map(_.toFloat))
      }.toDF("k", "v")
      db.registerTable("d", docs(1L -> "old apple"), Seq("k"))
      db.registerTable("p", pts(1L -> 0, 2L -> 5), Seq("k"))
      db.run("::fts create d:fts {extractor: v}")
      db.run("::hnsw create p:g {fields: [v], distance: Cosine, dim: 4, m: 4}")
      assert(ftsHits("apple") == Set(1L) && vecHits() == Seq(1L))
      // registerTable over a live name
      db.registerTable("d", docs(2L -> "new apple"), Seq("k"))
      db.registerTable("p", pts(3L -> 0, 4L -> 5), Seq("k"))
      assert(ftsHits("apple") == Set(2L), s"gate $gate: registerTable")
      assert(vecHits() == Seq(3L), s"gate $gate: registerTable")
      // importRelations
      db.importRelations(Map("d" -> docs(3L -> "imported apple"), "p" -> pts(5L -> 0)),
        Map("d" -> Seq("k"), "p" -> Seq("k")))
      assert(ftsHits("apple") == Set(3L) && vecHits() == Seq(5L), s"gate $gate: import")
      // restore (re-registers, then replays the index DDL)
      val dir = java.nio.file.Files.createTempDirectory("graft_restore").toString
      db.backup(dir)
      db.run("?[k, v] <- [[9, 'later apple']] :put d {k => v}")
      assert(ftsHits("apple") == Set(3L, 9L))
      db.restore(dir)
      assert(ftsHits("apple") == Set(3L) && vecHits() == Seq(5L), s"gate $gate: restore")
      // ::remove, then re-create the relation and its index
      val dirs = db.indexArtifactDirs
      db.run("::remove d")
      db.run("::remove p")
      assert(db.cachedIndexTargets.isEmpty, s"gate $gate: removal leaks index caches")
      assert(dirs.forall(d => !new java.io.File(d).exists), s"gate $gate: removal leaks graph dirs")
      db.run("?[k, v] <- [[7, 'fresh apple']] :create d {k => v}")
      db.run("::fts create d:fts {extractor: v}")
      db.registerTable("p", pts(8L -> 0), Seq("k"))
      db.run("::hnsw create p:g {fields: [v], distance: Cosine, dim: 4, m: 4}")
      assert(ftsHits("apple") == Set(7L) && vecHits() == Seq(8L), s"gate $gate: re-create")
      // an aborted transaction's write is gone from the index
      val tx = db.multiTransaction()
      tx.run("?[k, v] <- [[11, 'tx apple']] :put d {k => v}")
      assert(ftsHits("apple") == Set(7L, 11L))
      tx.abort()
      assert(ftsHits("apple") == Set(7L), s"gate $gate: abort")
    }
  }
}
