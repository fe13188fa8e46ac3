package graft.lang

import graft.SparkFixture
import graft.plan.{Knee, KneeLog}
import org.apache.spark.sql.graftbridge.ListenerBridge
import org.scalatest.funsuite.AnyFunSuite

/** The per-version driver copy of a stored relation, read by the driver
  * fixpoint, the graph fixed rules and non-recursive rules over copies:
  * built once per version with one graph per edge projection, retired
  * by every change of the rows, and answering as the relation itself
  * does — checked against a db whose copies are all refused
  * (`DriverIndexBytes -> 0`, so every read runs on Spark). */
class RelationCopySpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  import spark.implicits._

  private def mkDb(): CozoDb = {
    val db = new CozoDb(spark)
    db.registerTable("edges", Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 2L), (5L, 6L)).toDF("src", "dst"),
      Seq("src", "dst"))
    db
  }

  private def reach(rel: String) =
    s"""seed[s] <- [[1]]
       |r[s, n] := seed[s], n = s
       |r[s, n] := r[s, m], *$rel{src: m, dst: n}
       |?[s, n] := r[s, n]""".stripMargin
  private def pageRank(rel: String) =
    s"""pr[n, r] <~ PageRank(*$rel[], theta: 0.85, iterations: 10)
       |?[n, r] := pr[n, r]""".stripMargin
  private def cc(rel: String) =
    s"""cc[n, c] <~ ConnectedComponents(*$rel[])
       |?[n, c] := cc[n, c]""".stripMargin
  private def sssp(rel: String) =
    s"""s[u] <- [[1]]
       |?[start, node, cost] <~ ShortestPathDijkstra(*$rel[], s[])""".stripMargin
  private def hop1(rel: String) = s"?[t] := *$rel{src: 2, dst: t}"
  private def hop2(rel: String) =
    s"""l1[t] := *$rel{src: 1, dst: t}
       |?[t] := l1[f], *$rel{src: f, dst: t}""".stripMargin

  private def rows(db: CozoDb, q: String): Set[Seq[Any]] = db.run(q).collect().map(_.toSeq).toSet

  /** reach, PageRank (ranks rounded past float noise), CC, SSSP and the
    * two hop rules over `rel`. */
  private def answers(db: CozoDb, rel: String): Map[String, Any] = Map(
    "reach" -> rows(db, reach(rel)),
    "pagerank" -> db.run(pageRank(rel)).collect().map(r => r.get(0) -> math.round(r.getDouble(1) * 1e9)).toMap,
    "cc" -> rows(db, cc(rel)), "sssp" -> rows(db, sssp(rel)),
    "hop1" -> rows(db, hop1(rel)), "hop2" -> rows(db, hop2(rel)))
  private def reached(db: CozoDb, rel: String): Set[Seq[Any]] = rows(db, reach(rel))

  test("the default db builds the edges copy once across repeated reach, PageRank and CC reads") {
    val db = mkDb()
    val (_, lines) = KneeLog.capture {
      for (_ <- 1 to 2; q <- Seq(reach("edges"), pageRank("edges"), cc("edges"))) db.run(q).collect()
    }
    assert(db.store.relationCopyBuilds == 1)
    assert(lines.count(_.contains("op=relation_copy")) == 1, lines)
    assert(lines.count(_.contains("op=fixpoint")) == 2, lines)
  }

  test("one graph per copy version and edge projection across repeated PageRank, CC and ShortestPathDijkstra") {
    val db = mkDb()
    val graphs = Seq(pageRank("edges"), cc("edges"), sssp("edges"))
    val first = graphs.map(q => rows(db, q))
    val builds = db.store.localGraphBuilds
    // PageRank and the unit-weight SSSP (a BFS) read the distinct edges, CC all of them
    assert(builds == 2)
    val (_, lines) = KneeLog.capture(for (_ <- 1 to 2) assert(graphs.map(q => rows(db, q)) == first))
    assert(db.store.localGraphBuilds == builds, "no graph is rebuilt while the copy is unchanged")
    // a cached graph still logs its knee decision per op, with its edge count
    assert(lines.count(_.startsWith("graft.knee op=pageRank n=5 ")) == 2, lines)
    assert(lines.count(_.startsWith("graft.knee op=connectedComponents n=5 ")) == 2, lines)
    assert(lines.count(_.startsWith("graft.knee op=bfs n=5 ")) == 2, lines)
    db.run("?[src, dst] <- [[6, 7]] :put edges {src, dst}").collect()
    graphs.foreach(q => rows(db, q))
    assert(db.store.localGraphBuilds == 2 * builds, "a new version builds its graphs once")
  }

  test("a graph that would pass the copies' shared budget is built per op and not kept") {
    val db = mkDb()
    val copy = db.store.relationCopy("edges").get
    Knee.withLimits(Knee.DriverIndexBytes -> copy.heldBytes) {
      for (_ <- 1 to 2) db.run(pageRank("edges")).collect()
    }
    assert(db.store.localGraphBuilds == 2 && copy.heldBytes == copy.bytes)
    for (_ <- 1 to 2) db.run(pageRank("edges")).collect()
    assert(db.store.localGraphBuilds == 3 && copy.heldBytes > copy.bytes)
  }

  test("once the copy is held, the hop rules run no Spark job and answer as the relation does") {
    val db = mkDb()
    val pinned = Knee.withLimits(Knee.DriverIndexBytes -> 0L)(mkDb())
    db.run(reach("edges")).collect() // the copy is built by a reader that probes for it
    for (q <- Seq(hop1("edges"), hop2("edges"))) {
      var got = Set.empty[Seq[Any]]
      val counts = ListenerBridge.measure(spark.sparkContext, "relation-copy-hops") { got = rows(db, q) }
      assert(counts.jobs == 0, s"$q: $counts")
      assert(got == Knee.withLimits(Knee.DriverIndexBytes -> 0L)(rows(pinned, q)), q)
    }
    assert(rows(db, hop1("edges")) == Set(Seq(3L)) && rows(db, hop2("edges")) == Set(Seq(3L)))
  }

  private val day = 86400000000L
  private val t0 = 1704067200000000L // 2024-01-01T00:00:00Z in µs
  private def ts(us: Long) = new java.sql.Timestamp(us / 1000)

  /** Order lines keyed by (l_orderkey, l_linenumber), some flags and
    * quantities NULL; a price history keyed by (k, vld, is_assert) with
    * validity vld: NULL validities and flags, and an assert beside a
    * retract (and a NULL flag) at one instant. */
  private def keyRangeDb(): CozoDb = {
    val db = new CozoDb(spark)
    val lines = for (ok <- 0L until 400L; ln <- 1L to ok % 7 + 1) yield
      (ok, ln, Option(Seq("R", "A", "N")(((ok + ln) % 3).toInt)).filter(_ => ok % 11 != 0),
        Option((ok * ln % 50) + 0.5).filter(_ => ok * ln % 13 != 0))
    db.registerTable("lineitem", lines.toDF("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"),
      Seq("l_orderkey", "l_linenumber"))
    val versions = for (k <- 0L until 60L; j <- 0L to k % 5) yield
      (k, Option(ts(t0 + (k * 7 + j * 13) % 50 * day)).filter(_ => !(k % 17 == 3 && j == 0)),
        Option(j == 0 || (k + j) % 3 != 0).filter(_ => !(k % 19 == 5 && j == 1)), k * 10.0 + j)
    val ties = Seq((60L, Some(ts(t0 + 5 * day)), Some(false), 1.0), (60L, Some(ts(t0 + 5 * day)), Some(true), 2.0),
      (61L, Some(ts(t0 + 5 * day)), None, 3.0), (61L, Some(ts(t0 + 5 * day)), Some(false), 4.0))
    db.registerTable("prices", (versions ++ ties).toDF("k", "vld", "is_assert", "p"), Seq("k", "vld", "is_assert"),
      validity = Some("vld"), validityAssert = Some("is_assert"))
    db
  }
  private def agg(lo: Long, hi: Long) =
    s"?[f, sum(q), count(ln)] := *lineitem{l_orderkey: k, l_linenumber: ln, l_returnflag: f, l_quantity: q}, " +
      s"k >= $lo, k < $hi"
  private def asof(t: Any, lo: Long) = s"?[k, p] := *prices{k, p @ $t}, k >= $lo, k < ${lo + 40}"

  /** `q`'s rows on `db`, checked to run no Spark job, and on `pinned` (no copies). */
  private def driverRows(db: CozoDb, pinned: CozoDb, q: String): Set[Seq[Any]] = {
    var got = Set.empty[Seq[Any]]
    val counts = ListenerBridge.measure(spark.sparkContext, "relation-copy-ranges") { got = rows(db, q) }
    assert(counts.jobs == 0, s"$q: $counts")
    assert(got == Knee.withLimits(Knee.DriverIndexBytes -> 0L)(rows(pinned, q)), q)
    got
  }

  test("agg- and asof-shaped key-range rules build their copies once, then run no Spark job, also after a :put") {
    val db = keyRangeDb()
    val pinned = Knee.withLimits(Knee.DriverIndexBytes -> 0L)(keyRangeDb())
    val (_, built) = KneeLog.capture { rows(db, agg(0, 10)); rows(db, asof(t0, 0)) }
    assert(built.count(_.contains("op=relation_copy")) == 2 && db.store.relationCopyBuilds == 2, built)
    for ((lo, hi) <- Seq((0L, 10L), (37L, 300L), (395L, 500L), (-5L, 3L), (50L, 40L), (400L, 401L)))
      driverRows(db, pinned, agg(lo, hi))
    // past the local-rows cap the slice is folded as it is read
    Knee.withLimits(Knee.LocalRows -> 100L)(assert(driverRows(db, pinned, agg(0, 400)).size == 4))
    for (t <- Seq(t0 - day, t0, t0 + 5 * day, t0 + 20 * day + 1, t0 + 60 * day, "'END'"); lo <- Seq(-10L, 0L, 25L))
      driverRows(db, pinned, asof(t, lo))
    assert(driverRows(db, pinned, asof(t0 + 5 * day, 30)).contains(Seq(60L, 2.0)), "the assert outranks the retract")
    for (put <- Seq(s"?[k, vld, p] <- [[3, [${t0 + day}, true], 9.5]] :put prices {k, vld => p}",
                    s"?[k, vld, p] <- [[4, [${t0 + 2 * day}, false], 1.5]] :put prices {k, vld => p}")) {
      db.run(put).collect()
      Knee.withLimits(Knee.DriverIndexBytes -> 0L)(pinned.run(put).collect())
      for (t <- Seq(t0 + day, t0 + 3 * day)) driverRows(db, pinned, asof(t, 0))
    }
    assert(db.store.relationCopyBuilds == 2 && db.store.relationCopyPatches == 2)
    // an as-of time the driver does not evaluate: Spark reads the copy's relation
    assert(rows(db, asof("'NOW'", 0)) == Knee.withLimits(Knee.DriverIndexBytes -> 0L)(rows(pinned, asof("'NOW'", 0))))
  }

  test("a one-sided key bound reads only a copy already held") {
    val db = keyRangeDb()
    rows(db, "?[ln] := *lineitem{l_orderkey: k, l_linenumber: ln}, k >= 390")
    rows(db, "?[k, p] := *prices{k, p @ 'END'}, k < 3")
    assert(db.store.relationCopyBuilds == 0)
    rows(db, agg(0, 1))
    val pinned = Knee.withLimits(Knee.DriverIndexBytes -> 0L)(keyRangeDb())
    driverRows(db, pinned, "?[ln] := *lineitem{l_orderkey: k, l_linenumber: ln}, k >= 390")
  }

  test("a rule over copies whose unused binding overflows ends as the db without copies ends") {
    val overflow = "?[a, b] := *chain[a, b], x = 9223372036854775807 + a"
    // key-anchored: the read builds the copy it reads
    val anchoredOverflow = "?[b] := *chain{fr: 3, to: b}, x = 9223372036854775807 + b"
    val registrations: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "local rows" -> (() => (1 until 12).map(i => (i.toLong, i.toLong + 1)).toDF("fr", "to")),
      "spark.range" -> (() => spark.range(1, 12).selectExpr("id AS fr", "id + 1 AS to")))
    for ((how, chain) <- registrations; (q, held) <- Seq(overflow -> true, anchoredOverflow -> false)) {
      def outcome(db: CozoDb) = scala.util.Try(rows(db, q)).toEither.left.map(_ => "error")
      val db = new CozoDb(spark)
      db.registerTable("chain", chain(), Seq("fr", "to"))
      if (held) assert(db.store.relationCopy("chain").isDefined)
      val want = Knee.withLimits(Knee.DriverIndexBytes -> 0L) {
        val pinned = new CozoDb(spark)
        pinned.registerTable("chain", chain(), Seq("fr", "to"))
        outcome(pinned)
      }
      assert(outcome(db) == want, s"$q over $how")
      assert(db.store.relationCopyBuilds == 1, s"$q over $how")
    }
  }

  test("after :put/:rm, ::rename, ::remove and an aborted write, reach and PageRank equal a db without copies") {
    val db = mkDb()
    val pinned = Knee.withLimits(Knee.DriverIndexBytes -> 0L)(mkDb())
    /** `step` on both dbs, then the same answers over `rel`. */
    def both(rel: String)(step: CozoDb => Unit): Unit = {
      step(db)
      val got = answers(db, rel)
      Knee.withLimits(Knee.DriverIndexBytes -> 0L) {
        step(pinned)
        assert(got == answers(pinned, rel), s"after a step, over $rel")
      }
    }
    both("edges")(_ => ())
    val builds = db.store.relationCopyBuilds
    both("edges")(_.run("?[src, dst] <- [[3, 5], [6, 1]] :put edges {src, dst}").collect())
    assert(reached(db, "edges").contains(Seq(1L, 6L)), "the put reached the copy")
    both("edges")(_.run("?[src, dst] <- [[2, 3]] :rm edges {src, dst}").collect())
    assert(!reached(db, "edges").contains(Seq(1L, 4L)), "the rm reached the copy")
    assert(db.store.relationCopyBuilds == builds && db.store.relationCopyPatches == 2, "put and rm patch the copy")
    val patched = db.store.relationCopy("edges").get
    assert(patched.bytes == new graft.plan.DriverRows(patched.schema, patched.rows).bytes,
      "a patch keeps the copy's bytes exact")
    both("moved")(_.run("::rename edges moved").collect())
    intercept[Exception](db.run(reach("edges")).collect())
    both("moved") { d =>
      val tx = d.multiTransaction()
      tx.run("?[src, dst] <- [[1, 9]] :put moved {src, dst}").collect()
      tx.abort()
    }
    assert(!reached(db, "moved").contains(Seq(1L, 9L)), "the aborted put left the copy")
    both("edges") { d =>
      d.run("::remove moved").collect()
      d.registerTable("edges", Seq((1L, 7L), (7L, 8L)).toDF("src", "dst"), Seq("src", "dst"))
    }
    assert(reached(db, "edges") == Set(Seq(1L, 1L), Seq(1L, 7L), Seq(1L, 8L)))
    // put and rm patch the copy (so does the aborted put, before the
    // abort retires it); rename, abort and re-register build a new one
    assert(db.store.relationCopyBuilds == builds + 3)
    assert(db.store.relationCopyPatches == 3)
    assert(pinned.store.relationCopyBuilds == 0 && pinned.store.relationCopyPatches == 0)
  }

  test("an over-gate relation is probed once per version, and its reads run on Spark") {
    val db = mkDb()
    val (_, lines) = KneeLog.capture(Knee.withLimits(Knee.DriverIndexBytes -> 1L) {
      for (_ <- 1 to 3) { db.run(reach("edges")).collect(); db.run(pageRank("edges")).collect() }
    })
    assert(lines.count(_.contains("op=relation_copy")) == 1, lines)
    assert(lines.exists(_.matches("graft.knee op=relation_copy n=\\d+ gate=1 branch=distributed")), lines)
    assert(!lines.exists(_.contains("op=fixpoint")), lines)
    assert(db.store.relationCopyBuilds == 0)
  }

  private def copyBytes(line: String): Long =
    "n=(\\d+)".r.findFirstMatchIn(line).get.group(1).toLong

  test("a wide-row relation over the byte gate is refused without fetching its rows") {
    // 200 rows of ~2 KB: the row count alone (8 bytes a column) would admit
    // 2,730 rows under 64 KiB and fetch all ~400 KB
    val db = new CozoDb(spark)
    val note = "x" * 2000
    db.registerTable("wide", (1 to 200).map(i => (i.toLong, i.toLong + 1, s"$note$i")).toDF("src", "dst", "note"),
      Seq("src", "dst"))
    val limit = 64L << 10
    val (counts, lines) = KneeLog.capture(Knee.withLimits(Knee.DriverIndexBytes -> limit) {
      ListenerBridge.measure(spark.sparkContext, "relation-copy-wide")(assert(db.store.relationCopy("wide").isEmpty))
    })
    assert(counts.jobs == 1 && counts.resultBytes < limit, counts)
    assert(lines.length == 1 && lines.head.endsWith(s"gate=$limit branch=distributed"), lines)
    assert(copyBytes(lines.head) > 200L * 2000, lines)
    assert(db.store.relationCopyBuilds == 0)
    // the refusal stands across an overlay write; a new base (the write
    // compacted) under a gate it fits: every row, in key order
    db.run("?[src, dst, note] <- [[0, 1, 'n']] :put wide {src, dst => note}").collect()
    assert(db.store.relationCopy("wide").isEmpty)
    db.run("::compact").collect()
    val copy = db.store.relationCopy("wide").get
    assert(copy.rows.length == 201 && copy.rows.map(_.getLong(0)) == (0L to 200L))
  }

  test("the copies share one heap budget; a copy of an older version no longer counts") {
    val db = new CozoDb(spark)
    for (rel <- Seq("a", "b", "c"))
      db.registerTable(rel, (1 to 10).map(i => (i.toLong, i.toLong)).toDF("src", "dst"), Seq("src", "dst"))
    val (_, one) = KneeLog.capture(db.store.relationCopy("a"))
    val bytes = copyBytes(one.head)
    val (_, lines) = KneeLog.capture(Knee.withLimits(Knee.DriverIndexBytes -> (bytes * 3 / 2)) {
      assert(db.store.relationCopy("b").isEmpty, "a and b together pass the budget")
      db.registerTable("a", (1 to 11).map(i => (i.toLong, i.toLong)).toDF("src", "dst"), Seq("src", "dst"))
      assert(db.store.relationCopy("c").isDefined, "the copy of a's old version is dropped")
    })
    assert(lines == Seq(
      s"graft.knee op=relation_copy n=${2 * bytes} gate=${bytes * 3 / 2} branch=distributed",
      s"graft.knee op=relation_copy n=$bytes gate=${bytes * 3 / 2} branch=driver"), lines)
  }

  test("a patch that takes the copies past the budget retires the copy; reads then match a db without copies") {
    val db = mkDb()
    val pinned = Knee.withLimits(Knee.DriverIndexBytes -> 0L)(mkDb())
    val limit = db.store.relationCopy("edges").get.bytes
    val put = "?[src, dst] <- [[6, 7]] :put edges {src, dst}"
    val (_, lines) = KneeLog.capture(Knee.withLimits(Knee.DriverIndexBytes -> limit) {
      db.run(put).collect()
      for (q <- Seq(hop1("edges"), reach("edges"))) assert(db.run(q).collect().nonEmpty)
    })
    assert(lines.count(_.contains("branch=distributed")) == 1, lines)
    assert(lines.exists(_.matches(s"graft.knee op=copy_patch n=\\d+ gate=$limit branch=distributed")), lines)
    assert(db.store.relationCopyPatches == 0 && db.store.relationCopyBuilds == 1)
    Knee.withLimits(Knee.DriverIndexBytes -> 0L)(pinned.run(put).collect())
    Knee.withLimits(Knee.DriverIndexBytes -> limit)(assert(answers(db, "edges") ==
      Knee.withLimits(Knee.DriverIndexBytes -> 0L)(answers(pinned, "edges"))))
  }

  test("an over-gate relation is probed once across writes and reads, and again after ::compact") {
    val db = mkDb()
    val (_, lines) = KneeLog.capture(Knee.withLimits(Knee.DriverIndexBytes -> 1L) {
      for (i <- 1 to 2) {
        db.run(s"?[src, dst] <- [[$i, 10]] :put edges {src, dst}").collect()
        assert(rows(db, hop1("edges")).nonEmpty)
      }
    })
    assert(lines.count(_.contains("op=relation_copy")) == 1, lines)
    assert(lines.exists(_.matches("graft.knee op=relation_copy n=\\d+ gate=1 branch=distributed")), lines)
    val (_, after) = KneeLog.capture(Knee.withLimits(Knee.DriverIndexBytes -> 1L) {
      db.run("::compact").collect()
      rows(db, hop1("edges"))
    })
    assert(after.count(_.contains("op=relation_copy")) == 1, after)
    assert(db.store.relationCopyBuilds == 0 && db.store.relationCopyPatches == 0)
  }
}
