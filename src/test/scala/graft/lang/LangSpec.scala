package graft.lang

import graft.SparkFixture
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** CozoScript front-end: parser + compiler semantics on small
  * in-memory relations. Golden behaviors follow the reference's test
  * corpus (cozo-core/src/runtime/tests.rs, tests/air_routes.rs).
  */
class LangSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  import spark.implicits._

  def freshDb(): CozoDb = {
    val db = new CozoDb(spark)
    db.registerTable("edge",
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (2L, 5L), (5L, 1L)).toDF("fr", "to"), Seq("fr", "to"))
    db.registerTable("person",
      Seq((1L, "alice", 30L), (2L, "bob", 25L), (3L, "carol", 41L), (4L, "dave", 25L))
        .toDF("id", "name", "age"), Seq("id"))
    db
  }

  def rows(db: CozoDb, script: String): Seq[Seq[Any]] =
    db.run(script).collect().toSeq.map(_.toSeq)

  /** Runs `body` twice — on the default path, where its fixpoints start
    * on the driver, and pinned to the Spark loop (`FixpointRows -> 0`) —
    * so the asserts inside hold on both; then checks that both paths
    * gave the same rows and the same `lastFixpointStats` for each query
    * `body` reports, and that only the default path ran a fixpoint on
    * the driver. */
  def onBothFixpoints(body: => Seq[(Seq[Seq[Any]], Seq[Map[String, Long]])]): Unit = {
    import graft.plan.{Knee, KneeLog}
    val (driver, dLines) = KneeLog.capture(body)
    val (sparkLoop, sLines) = KneeLog.capture(Knee.withLimits(Knee.FixpointRows -> 0L)(body))
    assert(dLines.exists(l => l.contains("op=fixpoint") && l.endsWith("branch=driver")), dLines)
    assert(!sLines.exists(_.contains("op=fixpoint")), sLines)
    assert(driver.map { case (r, st) => (r.toSet, st) } == sparkLoop.map { case (r, st) => (r.toSet, st) })
  }

  test("const rule returns literal rows") {
    val db = freshDb()
    assert(rows(db, "?[a, b] <- [[1, 'x'], [2, 'y']]").toSet ==
      Set(Seq(1L, "x"), Seq(2L, "y")))
  }

  test("stored relation scan with positional args and filter") {
    val db = freshDb()
    assert(rows(db, "?[n] := *person[id, n, age], age > 28").map(_.head).toSet ==
      Set("alice", "carol"))
  }

  test("named-field scan binds selected columns only") {
    val db = freshDb()
    assert(rows(db, "?[name] := *person{name, age: 25}").map(_.head).toSet ==
      Set("bob", "dave"))
  }

  test("literal argument is a pushdown filter") {
    val db = freshDb()
    assert(rows(db, "?[to] := *edge[2, to]").map(_.head).toSet == Set(3L, 5L))
  }

  test("join through shared variable") {
    val db = freshDb()
    assert(rows(db, "?[a, c] := *edge[a, b], *edge[b, c]").toSet ==
      Set(Seq(1L, 3L), Seq(1L, 5L), Seq(2L, 4L), Seq(2L, 1L), Seq(5L, 2L)))
  }

  test("negation is an anti-join") {
    val db = freshDb()
    // persons that have no outgoing edge from their id
    assert(rows(db, "?[id] := *person{id}, not *edge{fr: id}").map(_.head).toSet ==
      Set(4L))
  }

  test("unification binds and filters") {
    val db = freshDb()
    assert(rows(db, "?[x, y] := x = 3, y = x * 2 + 1") == Seq(Seq(3L, 7L)))
    assert(rows(db, "?[n] := *person[id, n, age], id = 2").map(_.head) == Seq("bob"))
  }

  test("unify-multi explodes a list") {
    val db = freshDb()
    assert(rows(db, "?[x] := x in [1, 2, 3]").map(_.head).toSet == Set(1L, 2L, 3L))
  }

  test("or-branches union") {
    val db = freshDb()
    assert(rows(db, "?[n] := *person{id, name: n}, (id == 1 or id == 3)")
      .map(_.head).toSet == Set("alice", "carol"))
  }

  test("head aggregation with grouping") {
    val db = freshDb()
    assert(rows(db, "?[age, count(id)] := *person{id, age}").toSet ==
      Set(Seq(30L, 1L), Seq(25L, 2L), Seq(41L, 1L)))
  }

  test("aggregation across multiple clauses accumulates (bag union)") {
    val db = freshDb()
    // degree = out + in, the air_routes most_routes golden shape
    val res = rows(db,
      """deg[n, count(n)] := *edge[n, _]
        |deg[n, count(n)] := *edge[_, n]
        |?[n, d] := deg[n, d]""".stripMargin).map(r => r.head -> r(1)).toMap
    assert(res == Map(1L -> 2L, 2L -> 3L, 3L -> 2L, 4L -> 1L, 5L -> 2L))
  }

  test("plain and aggregated same var gets display name") {
    val db = freshDb()
    val df = db.run("?[age, count(age)] := *person{age}")
    assert(df.columns.toSeq == Seq("age", "count(age)"))
  }

  test("global aggregation without grouping") {
    val db = freshDb()
    assert(rows(db, "?[count(id), mean(age)] := *person{id, age}").head ==
      Seq(4L, 30.25))
  }

  test("sort, limit, offset") {
    val db = freshDb()
    assert(rows(db,
      """?[name, age] := *person{name, age}
        |:sort -age, +name
        |:limit 2""".stripMargin) ==
      Seq(Seq("carol", 41L), Seq("alice", 30L)))
    assert(rows(db,
      """?[name] := *person{name}
        |:sort name
        |:offset 2
        |:limit 1""".stripMargin) == Seq(Seq("carol")))
  }

  test("recursion: transitive closure (semi-naive fixpoint)") {
    val db = freshDb()
    val reach = rows(db,
      """reach[a, b] := *edge[a, b]
        |reach[a, c] := reach[a, b], *edge[b, c]
        |?[b] := reach[1, b]""".stripMargin).map(_.head).toSet
    assert(reach == Set(1L, 2L, 3L, 4L, 5L)) // 1→2→{3→4, 5→1 cycle}
  }

  test("mutual recursion across two rules") {
    val db = freshDb()
    val res = rows(db,
      """even[x] := x = 0
        |even[x] := odd[y], x = y + 1, x <= 6
        |odd[x] := even[y], x = y + 1, x <= 6
        |?[x] := even[x]""".stripMargin).map(_.head).toSet
    assert(res == Set(0L, 2L, 4L, 6L))
  }

  test("meet aggregation through recursion: Dijkstra in Datalog") {
    val db = freshDb()
    db.registerTable("wedge",
      Seq((1L, 2L, 1.0), (1L, 3L, 4.0), (2L, 3L, 1.0), (3L, 4L, 1.0), (2L, 4L, 5.0))
        .toDF("fr", "to", "w"), Seq("fr", "to"))
    val costs = rows(db,
      """sp[n, min(c)] := n = 1, c = 0.0
        |sp[n, min(c)] := sp[m, c0], *wedge[m, n, w], c = c0 + w
        |?[n, c] := sp[n, c]""".stripMargin)
      .map(r => r.head -> r(1)).toMap
    assert(costs == Map(1L -> 0.0, 2L -> 1.0, 3L -> 2.0, 4L -> 3.0))
  }

  test("shortest (meet on lists) through recursion keeps the shortest path") {
    val db = freshDb()
    val paths = rows(db,
      """reach[n, shortest(p)] := n = 1, p = [1]
        |reach[n, shortest(p)] := reach[m, p0], *edge[m, n], p = append(p0, n)
        |?[n, p] := reach[n, p]""".stripMargin)
      .map(r => r.head -> r(1).asInstanceOf[collection.Seq[Long]].toSeq).toMap
    assert(paths(4L) == Seq(1L, 2L, 3L, 4L))
    assert(paths(5L) == Seq(1L, 2L, 5L))
  }

  test("unstratifiable recursion through aggregation errors") {
    val db = freshDb()
    val e = intercept[Exception](db.run(
      """r[a, count(b)] := *edge[a, b]
        |r[a, count(b)] := r[b, a]
        |?[a, b] := r[a, b]""".stripMargin))
    assert(e.getMessage.contains("unstratifiable"))
  }

  test("expression functions and operators") {
    val db = freshDb()
    assert(rows(db, "?[x] := x = abs(-3) + max(2, 5) * 2").head == Seq(13L))
    assert(rows(db, "?[x] := x = lowercase('AbC') ++ 'd'").head == Seq("abcd"))
    assert(rows(db, "?[x] := x = length([1, 2, 3])").head == Seq(3))
    assert(rows(db, "?[x] := x = if(2 > 1, 'yes', 'no')").head == Seq("yes"))
    assert(rows(db, "?[x] := x = round(2.0 ^ 0.5 * 100) / 100").head == Seq(1.41))
  }

  test("parameters substitute") {
    val db = freshDb()
    val df = db.run("?[n] := *person{id: $target, name: n}", Map("target" -> 2L))
    assert(df.collect().map(_.getString(0)).toSeq == Seq("bob"))
  }

  test(":put upserts into a stored relation and fires trigger") {
    val db = freshDb()
    var fired = 0L
    db.onPut("person")(delta => fired += delta.count())
    db.run("?[id, name, age] <- [[9, 'erin', 22]] :put person {id}")
    assert(db.relation("person").count() == 5)
    assert(fired == 1L)
    // upsert overwrites by key
    db.run("?[id, name, age] <- [[9, 'erin2', 23]] :put person {id}")
    assert(db.relation("person").filter("id = 9").collect().head.getString(1) == "erin2")
  }

  test(":rm deletes by key; :create and :ensure work") {
    val db = freshDb()
    db.run("?[id, name, age] <- [[1, '', 0]] :rm person {id}")
    assert(db.relation("person").count() == 3)
    db.run("?[a, b] <- [[1, 'one']] :create pairs {a}")
    assert(db.relation("pairs").count() == 1)
    intercept[Exception](db.run("?[a, b] <- [[1, 'one']] :create pairs {a}"))
  }

  test(":assert none / some") {
    val db = freshDb()
    db.run("?[id] := *person{id}, id > 100 :assert none")
    intercept[IllegalStateException](db.run("?[id] := *person{id} :assert none"))
    db.run("?[id] := *person{id} :assert some")
  }

  test("fixed rule Constant and ReorderSort") {
    val db = freshDb()
    assert(rows(db, "?[a, b] <~ Constant(data: [[1, 'x'], [2, 'y']])").toSet ==
      Set(Seq(1L, "x"), Seq(2L, "y")))
    val sorted = rows(db,
      """r[] <- [[3], [1], [2]]
        |?[idx, v] <~ ReorderSort(r[])""".stripMargin)
    assert(sorted == Seq(Seq(1L, 1L), Seq(2L, 2L), Seq(3L, 3L)))
  }

  test("fixed rule PageRank/CC run from script over stored edges") {
    val db = freshDb()
    val pr = db.run("?[node, rank] <~ PageRank(*edge[])")
    assert(pr.count() == 5)
    val cc = db.run("?[node, comp] <~ ConnectedComponents(*edge[])")
    assert(cc.collect().map(_.getLong(1)).toSet == Set(1L)) // one component
  }

  test("fixed rule BetweennessCentrality: sample option selects the distributed Brandes") {
    val db = freshDb()
    val exact = db.run("?[node, bc] <~ BetweennessCentrality(*edge[])")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val dist = db.run("?[node, bc] <~ BetweennessCentrality(*edge[], sample: 100)")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(dist.keySet == exact.keySet)
    for ((k, v) <- exact) assert(math.abs(dist(k) - v) < 1e-9, s"node $k")
  }

  test("fixed rule StronglyConnectedComponents") {
    val db = freshDb()
    val scc = db.run("?[node, comp] <~ StronglyConnectedComponents(*edge[])")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // cycle 1→2→5→1 is one SCC; 3 and 4 are singletons
    assert(scc(1L) == scc(2L) && scc(2L) == scc(5L))
    assert(scc(3L) != scc(1L) && scc(4L) != scc(3L))
  }

  test("sys ops: relations / columns / fixed_rules") {
    val db = freshDb()
    assert(db.run("::relations").collect().map(_.getString(0)).toSet ==
      Set("edge", "person"))
    assert(db.run("::columns person").collect().map(_.getString(0)).toSeq ==
      Seq("id", "name", "age"))
    assert(db.run("::fixed_rules").count() >= 10)
  }

  test("negation over a rule that derived nothing keeps all rows") {
    val db = freshDb()
    // r is empty (no person over 100): `not r[id]` must be a no-op, not
    // an empty result (ADVICE r2: EmptyRelation used to drop the clause)
    assert(rows(db,
      """r[x] := *person{id: x, age}, age > 100
        |?[id] := *person{id}, not r[id]""".stripMargin).map(_.head).toSet ==
      Set(1L, 2L, 3L, 4L))
  }

  test("or keeps non-empty branches when one branch's rule is empty") {
    val db = freshDb()
    val res = rows(db,
      """r[x] := *person{id: x, age}, age > 100
        |?[id] := *person{id}, (id == 2 or r[id])""".stripMargin).map(_.head).toSet
    assert(res == Set(2L))
  }

  test("semi-naive: per-round delta counts track the frontier, not the total") { onBothFixpoints {
    val db = new CozoDb(spark)
    val n = 12
    db.registerTable("chain",
      (1 until n).map(i => (i.toLong, i.toLong + 1)).toDF("fr", "to"), Seq("fr", "to"))
    val res = rows(db,
      """reach[a, b] := *chain[a, b]
        |reach[a, c] := reach[a, b], *chain[b, c]
        |?[a, b] := reach[a, b]""".stripMargin)
    assert(res.length == n * (n - 1) / 2) // all ordered pairs along the chain
    val deltas = db.lastFixpointStats.map(_.getOrElse("reach", 0L))
    // delta-driven: round k derives the (n-1-k) paths of length k+1 and
    // shrinks every round; a naive loop would re-derive the whole total
    assert(deltas.head == (n - 1).toLong)
    val active = deltas.takeWhile(_ > 0)
    assert(active == active.sorted.reverse && active.distinct.length > 2,
      s"per-round deltas should strictly shrink, got $deltas")
    assert(deltas.sum == res.length.toLong)
    Seq((res, db.lastFixpointStats))
  }}

  test("limit early-termination: unsorted :limit stops the fixpoint before closure") { onBothFixpoints {
    val db = new CozoDb(spark)
    val n = 30
    db.registerTable("chain",
      (1 until n).map(i => (i.toLong, i.toLong + 1)).toDF("fr", "to"), Seq("fr", "to"))
    val prog =
      """reach[a, c] := *chain[a, c]
        |reach[a, c] := reach[a, b], *chain[b, c]
        |?[a, c] := reach[a, c]""".stripMargin
    // the entry is a PASS-THROUGH of the recursion: 29 base facts
    // < 40 ≤ 29+28 → the loop must stop after ONE recursive round,
    // not the 29 the full closure needs
    val res = rows(db, prog + "\n:limit 40")
    assert(res.length == 40)
    assert(res.forall(r => r(0).asInstanceOf[Long] < r(1).asInstanceOf[Long]),
      "every returned pair is a sound reachability fact")
    assert(db.lastFixpointStats.length <= 3,
      s"expected early stop, ran ${db.lastFixpointStats.length} rounds")
    val early = db.lastFixpointStats
    // a SORTED limit needs the true fixpoint: order is over ALL facts
    val sorted = rows(db, prog + "\n:sort a, c\n:limit 5")
    assert(db.lastFixpointStats.length >= n - 2,
      s"sorted query must run to closure, ran ${db.lastFixpointStats.length} rounds")
    assert(sorted == Seq(Seq(1L, 2L), Seq(1L, 3L), Seq(1L, 4L), Seq(1L, 5L), Seq(1L, 6L)))
    val closure = db.lastFixpointStats
    // a PROJECTING entry (?[a] := reach[a, c]) must NOT early-stop:
    // post-projection dedup can shrink below the limit
    rows(db, """reach[a, c] := *chain[a, c]
               |reach[a, c] := reach[a, b], *chain[b, c]
               |?[a] := reach[a, _]
               |:limit 40""".stripMargin)
    assert(db.lastFixpointStats.length >= n - 2,
      s"projecting entry must run to closure, ran ${db.lastFixpointStats.length} rounds")
    // which 40 facts an unsorted limit returns is the engine's choice
    Seq((Seq(Seq(res.length)), early), (sorted, closure), (Nil, db.lastFixpointStats))
  }}

  test("magic-set seeding restricts recursion to the caller's constant") { onBothFixpoints {
    val db = new CozoDb(spark)
    val n = 10
    db.registerTable("chain",
      (1 until n).map(i => (i.toLong, i.toLong + 1)).toDF("fr", "to"), Seq("fr", "to"))
    val res = rows(db,
      """reach[a, b] := *chain[a, b]
        |reach[a, c] := reach[a, b], *chain[b, c]
        |?[b] := reach[7, b]""".stripMargin).map(_.head).toSet
    assert(res == Set(8L, 9L, 10L))
    // seeded: every round derives at most one new fact (7's cone),
    // instead of the O(n) frontier of the full closure
    val deltas = db.lastFixpointStats.map(_.getOrElse("reach", 0L))
    assert(deltas.max == 1L, s"magic seeding should bound deltas to the cone, got $deltas")
    assert(deltas.sum == 3L)
    Seq((res.toSeq.map(Seq(_)), db.lastFixpointStats))
  }}

  test("magic-set seeding from a VARIABLE bound by a stored relation (seed-relation adornment)") { onBothFixpoints {
    val db = new CozoDb(spark)
    val n = 12
    db.registerTable("chain2",
      (1 until n).map(i => (i.toLong, i.toLong + 1)).toDF("fr", "to"), Seq("fr", "to"))
    db.registerTable("starts", Seq(Tuple1(9L)).toDF("s"), Seq("s"))
    val res = rows(db,
      """reach[a, b] := *chain2[a, b]
        |reach[a, c] := reach[a, b], *chain2[b, c]
        |?[b] := *starts[s], reach[s, b]""".stripMargin).map(_.head).toSet
    assert(res == Set(10L, 11L, 12L))
    // the seed set is starts' whole column (sound over-approximation):
    // each round derives one fact per live seed, not the O(n) frontier
    val deltas = db.lastFixpointStats.map(_.getOrElse("reach", 0L))
    assert(deltas.max == 1L, s"var-bound seeding should bound deltas to the cone, got $deltas")
    assert(deltas.sum == 3L)
    Seq((res.toSeq.map(Seq(_)), db.lastFixpointStats))
  }}

  test("magic-set seeding through MUTUAL recursion (multi-rule SCC)") { onBothFixpoints {
    val db = new CozoDb(spark)
    val n = 12
    db.registerTable("chain3",
      (1 until n).map(i => (i.toLong, i.toLong + 1)).toDF("fr", "to"), Seq("fr", "to"))
    // even/odd-hop reachability: the two rules call each other, both
    // threading the start position; the caller seeds start = 9
    val res = rows(db,
      """even[s, m] := s = 9, m = s
        |even[s, m] := odd[s, k], *chain3[k, m]
        |odd[s, m] := even[s, k], *chain3[k, m]
        |?[m] := even[9, m]""".stripMargin).map(_.head).toSet
    assert(res == Set(9L, 11L)) // even-hop nodes from 9 on the chain
    val evenDeltas = db.lastFixpointStats.map(_.getOrElse("even", 0L))
    val oddDeltas = db.lastFixpointStats.map(_.getOrElse("odd", 0L))
    assert((evenDeltas ++ oddDeltas).max <= 1L,
      s"mutual seeding should bound both members to the cone, got even=$evenDeltas odd=$oddDeltas")
    Seq((res.toSeq.map(Seq(_)), db.lastFixpointStats))
  }}

  test("magic-set seeding does not fire when recursion rebinds the position") { onBothFixpoints {
    val db = freshDb()
    // sssp-shape: head n comes from the edge, not the recursive atom —
    // restricting to the entry constant would be unsound, so deltas must
    // cover the whole reachable set
    val costs = rows(db,
      """sp[n, min(c)] := n = 1, c = 0
        |sp[n, min(c)] := sp[m, c0], *edge[m, n], c = c0 + 1
        |?[c] := sp[4, c]""".stripMargin)
    assert(costs == Seq(Seq(3L)))
    Seq((costs, db.lastFixpointStats))
  }}

  test("validity scan hides retracted keys at @ t (value.rs:112-131, ra.rs:1124-1241)") {
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    val db = new CozoDb(spark)
    db.registerTable("hist",
      Seq((1L, "a", ts("2024-01-01T00:00:00Z"), true),
        (1L, "a2", ts("2024-03-01T00:00:00Z"), true),
        (2L, "b", ts("2024-01-01T00:00:00Z"), true),
        (2L, "b", ts("2024-02-01T00:00:00Z"), false)) // RETRACT key 2
        .toDF("id", "v", "vld", "op"),
      keys = Seq("id", "vld", "op"), validity = Some("vld"), validityAssert = Some("op"))
    def visible(at: String) =
      rows(db, s"?[id, v] := *hist{id, v @ '$at'}").map(r => r.head -> r(1)).toMap
    assert(visible("2024-01-15T00:00:00Z") == Map(1L -> "a", 2L -> "b"))
    assert(visible("2024-02-15T00:00:00Z") == Map(1L -> "a")) // 2 retracted
    assert(visible("2024-03-15T00:00:00Z") == Map(1L -> "a2"))
    assert(visible("2023-12-01T00:00:00Z") == Map.empty)
  }

  test("mutations coerce ASSERT/RETRACT and ~rfc3339 validity strings (relation.rs:333-389)") {
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    val db = new CozoDb(spark)
    db.registerTable("hist",
      Seq((1L, "a", ts("2024-01-01T00:00:00Z"), true)).toDF("id", "v", "vld", "op"),
      keys = Seq("id", "vld", "op"), validity = Some("vld"), validityAssert = Some("op"))
    db.run("?[id, v, vld] <- [[3, 'c', '2024-01-10T00:00:00Z']] :put hist {id, vld}")
    db.run("?[id, v, vld] <- [[3, 'c', '~2024-04-01T00:00:00Z']] :put hist {id, vld}")
    def visible(at: String) =
      rows(db, s"?[id, v] := *hist{id, v @ '$at'}").map(r => r.head -> r(1)).toMap
    assert(visible("2024-02-01T00:00:00Z") == Map(1L -> "a", 3L -> "c"))
    assert(visible("2024-05-01T00:00:00Z") == Map(1L -> "a")) // 3 retracted
    // "ASSERT" = assert-now: key 3 becomes visible again at current time
    db.run("?[id, v, vld] <- [[3, 'c2', 'ASSERT']] :put hist {id, vld}")
    assert(visible(java.time.Instant.now().plusSeconds(60).toString) ==
      Map(1L -> "a", 3L -> "c2"))
  }

  test("null keys unify in joins and negation (Datalog, not SQL 3VL)") {
    val db = new CozoDb(spark)
    db.registerTable("na", Seq((Option(1L), "x"), (Option.empty[Long], "y")).toDF("k", "v"), Seq("k"))
    db.registerTable("nb", Seq((Option(1L), "p"), (Option.empty[Long], "q")).toDF("k", "w"), Seq("k"))
    assert(rows(db, "?[v, w] := *na[k, v], *nb[k, w]").toSet ==
      Set(Seq("x", "p"), Seq("y", "q"))) // null = null joins
    assert(rows(db, "?[v] := *na[k, v], not *nb[k, 'q']").map(_.head).toSet ==
      Set("x")) // the null-keyed row is negated away
  }

  test("aggregations over empty bodies (tests.rs:55-71 normal/meet_aggr_empty)") {
    val db = freshDb()
    assert(rows(db, "?[count(a)] := a in []").head == Seq(0L))
    assert(rows(db, "?[min(a)] := a in []").head == Seq(null))
    assert(rows(db, "?[min(a), count(a)] := a in []").head == Seq(null, 0L))
  }

  test("layered aggregation across rules (tests.rs:74 test_layers)") {
    val db = freshDb()
    assert(rows(db,
      """y[a] := a in [1, 2, 3]
        |x[sum(a)] := y[a]
        |x[sum(a)] := a in [4, 5, 6]
        |?[sum(a)] := x[a]""".stripMargin).head.head == 21L)
  }

  test("classical ancestor recursion (tests.rs:123 test_classical)") {
    val db = freshDb()
    val res = rows(db,
      """parent[] <- [['joseph', 'jakob'],
        |             ['jakob', 'isaac'],
        |             ['isaac', 'abraham']]
        |grandparent[gcld, gp] := parent[gcld, p], parent[p, gp]
        |great_grandparent[ggcld, ggp] := grandparent[ggcld, gp], parent[gp, ggp]
        |?[who] := great_grandparent[who, 'abraham']""".stripMargin)
    assert(res == Seq(Seq("joseph")))
  }

  test("JSON object literals in expressions (tests.rs:518 test_json_objects)") {
    val db = freshDb()
    assert(rows(db, "?[a] := a = {'a': 1}").head == Seq("""{"a":1}"""))
    assert(rows(db,
      """?[a] := a = {
        |  'a': 1,
        |  'b': 'two'
        |}""".stripMargin).head == Seq("""{"a":1,"b":"two"}"""))
  }

  test("group_count / choice_rand / intersection aggregations") {
    val db = freshDb()
    val gc = db.run("?[group_count(age)] := *person{age}").collect().head.getSeq[Row](0)
    assert(gc.map(r => (r.getLong(0), r.getLong(1))) == Seq((25L, 2L), (30L, 1L), (41L, 1L)))
    val cr = rows(db, "?[choice_rand(id)] := *person{id}").head.head
    assert(Set(1L, 2L, 3L, 4L).contains(cr.asInstanceOf[Long]))
    val inter = db.run(
      """r[] <- [[[1, 2, 3]], [[2, 3, 4]], [[2, 5, 3]]]
        |?[intersection(x)] := r[x]""".stripMargin).collect().head.getSeq[Long](0)
    assert(inter.toSet == Set(2L, 3L))
  }

  test("Any column: cross-type total order in :sort (value.rs:143-174, 575-598)") {
    val db = freshDb()
    // Null < Bool (false<true) < Num (by value, int<float on ties) < Str
    val sorted = rows(db,
      "?[x] <- [[1], [1.0], ['a'], [true], [false], [null], [-3], ['1']] :sort x")
      .map(_.head)
    // results DECODE to display form (strings unquoted, like the
    // reference); ordering ran on the encoding before decode, so the
    // string '1' still sorts after float 1.0 despite displaying as "1"
    assert(sorted == Seq(null, "false", "true", "-3", "1", "1.0", "1", "a"),
      s"got $sorted")
    // :sort -x reverses (nulls last)
    val desc = rows(db,
      "?[x] <- [[1], ['a'], [true], [null]] :sort -x").map(_.head)
    assert(desc == Seq("a", "1", "true", null), s"got $desc")
  }

  test("Any column: int 1, float 1.0 and string '1' are distinct values") {
    val db = freshDb()
    // set semantics must not conflate across types (injective encoding)
    val r = rows(db, "?[x] <- [[1], [1.0], ['1'], [1]]")
    assert(r.size == 3, s"got $r")
  }

  test(":timeout kills a slow recursive query with the reference's error (query.rs:260, db.rs:1931)") {
    val db = new CozoDb(spark)
    // a 400-link chain: semi-naive reach needs ~400 fixpoint rounds,
    // each a Spark job — far past the 1-second window
    db.registerTable("chain",
      (0L until 400L).map(i => (i, i + 1)).toDF("fr", "to"), Seq("fr", "to"))
    val e = intercept[IllegalStateException](db.run(
      """reach[a, b] := *chain[a, b]
        |reach[a, c] := reach[a, b], *chain[b, c]
        |?[a, b] := reach[a, b]
        |:timeout 1""".stripMargin).collect())
    assert(e.getMessage.contains("killed before completion"), e.getMessage)
    // the killed query is no longer listed by ::running
    val running = db.run("::running").collect()
    assert(running.length == 1 && running.head.getString(1).startsWith("::running"),
      running.mkString(","))
  }

  test(":timeout large enough (and :timeout 0 = disabled) leave results intact") {
    val db = freshDb()
    assert(rows(db, "?[n] := *person[id, n, age], age > 28 :timeout 300")
      .map(_.head).toSet == Set("alice", "carol"))
    // reference: timeout <= 0 disarms (parse/query.rs:268-272)
    assert(rows(db, "?[n] := *person[id, n, age], age > 28 :timeout 0")
      .map(_.head).toSet == Set("alice", "carol"))
  }

  test(":sleep pauses after evaluation (db.rs:903-911)") {
    val db = freshDb()
    val t0 = System.nanoTime()
    val r = rows(db, "?[a] <- [[1]] :sleep 0.4")
    val elapsedMs = (System.nanoTime() - t0) / 1000000
    assert(r == Seq(Seq(1L)))
    assert(elapsedMs >= 400, s"only $elapsedMs ms")
  }

  test("fixed-rule aliases SCC / BreadthFirstSearch / DepthFirstSearch (fixed_rule/mod.rs:730-795)") {
    val db = freshDb()
    val long = db.run("?[node, comp] <~ StronglyConnectedComponents(*edge[])")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val short = db.run("?[node, comp] <~ SCC(*edge[])")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(short == long)
    db.registerTable("snode", Seq(Tuple1(1L)).toDF("id"), Seq("id"))
    val bfs = db.run("?[start, node, depth] <~ BreadthFirstSearch(*edge[], *snode[])").collect()
    assert(bfs.nonEmpty)
    val dfs = db.run("?[start, node, ord] <~ DepthFirstSearch(*edge[], *snode[])").collect()
    assert(dfs.nonEmpty)
  }
}
