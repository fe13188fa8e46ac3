package graft.lang

import graft.SparkFixture
import org.scalatest.funsuite.AnyFunSuite

/** Multi-statement transactions (db.rs:298-397), access levels
  * (relation.rs:122), %ignore_error / labeled loops
  * (cozoscript.pest:238-260), and the remaining sys-op surface.
  */
class SysOpsSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  import spark.implicits._

  def freshDb(): CozoDb = {
    val db = new CozoDb(spark)
    db.registerTable("kv", Seq((1L, "a"), (2L, "b")).toDF("k", "v"), Seq("k"))
    db
  }

  test("transact commits on success, rolls back on failure (db.rs:298 test_multi_tx)") {
    val db = freshDb()
    db.transact { tx =>
      tx.run("?[k, v] <- [[3, 'c']] :put kv {k}")
      assert(tx.run("?[k] := *kv[k, v]").count() == 3) // sees own write
    }
    assert(db.relation("kv").count() == 3) // committed
    intercept[RuntimeException](db.transact { tx =>
      tx.run("?[k, v] <- [[4, 'd']] :put kv {k}")
      tx.run("?[k] := *kv[k, v] :assert none") // fails → rollback
    })
    assert(db.relation("kv").count() == 3) // the 4-row write rolled back
  }

  test("explicit abort restores relations, keys, and indexes") {
    val db = freshDb()
    val tx = db.multiTransaction()
    tx.run("?[k, v] <- [[9, 'z']] :create extra {k}")
    tx.run("?[k, v] <- [[5, 'e']] :put kv {k}")
    assert(db.relationNames.contains("extra"))
    tx.abort()
    assert(!db.relationNames.contains("extra"))
    assert(db.relation("kv").count() == 2)
  }

  test("%ignore_error swallows a failing block (pest:253)") {
    val db = freshDb()
    val res = db.run(
      """%ignore_error { ?[k] := *nonexistent[k] }
        |{ ?[k] := *kv[k, v] }""".stripMargin)
    assert(res.count() == 2)
  }

  test("%mark label with labeled %break exits the outer loop (pest:257)") {
    val db = freshDb()
    val res = db.run(
      """{ ?[n] <- [[0]] :replace _c {n} }
        |%mark outer %loop
        |  %loop
        |    { ?[n] := *_c[m], n = m + 1 :replace _c {n} }
        |    %if { ?[n] := *_c[n], n >= 3 } %then %break outer %end
        |  %end
        |%end
        |%return _c""".stripMargin)
    assert(res.collect().map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("access levels: read_only blocks writes, hidden blocks reads (relation.rs:122)") {
    val db = freshDb()
    db.run("::access_level read_only kv")
    assert(db.run("?[k] := *kv[k, v]").count() == 2) // reads fine
    val e = intercept[IllegalStateException](db.run("?[k, v] <- [[7, 'g']] :put kv {k}"))
    assert(e.getMessage.contains("access level"))
    db.run("::access_level hidden kv")
    intercept[IllegalStateException](db.run("?[k] := *kv[k, v]"))
    db.run("::access_level normal kv")
    assert(db.run("?[k] := *kv[k, v]").count() == 2)
  }

  test("::set_triggers requires protected access") {
    val db = freshDb()
    db.run("::access_level read_only kv")
    intercept[IllegalStateException](
      db.run("::set_triggers kv on put { ?[k, v] := _new[k, v] :put kv {k} }"))
  }

  test("::describe stores text shown by ::relations; ::compact is ok") {
    val db = freshDb()
    db.run("::describe kv 'key-value scratch table'")
    val rel = db.run("::relations").collect().find(_.getString(0) == "kv").get
    assert(rel.getString(4) == "key-value scratch table")
    assert(db.run("::compact").collect().head.getString(0) == "ok")
  }

  test("::running lists the in-flight query; ::kill on absent id reports not_found") {
    val db = freshDb()
    // ::running runs inside its own run() call, so it sees itself
    val running = db.run("::running").collect()
    assert(running.length == 1 && running.head.getString(1).startsWith("::running"))
    assert(db.run("::kill 999999").collect().head.getString(0) == "not_found")
  }

  test("sysop inside an imperative script stashes its result via as _temp (parse/mod.rs:70-76)") {
    val db = freshDb()
    val res = db.run(
      """{ ?[k, v] := *kv[k, v] :replace other {k} }
        |::columns kv as _cols
        |{ ?[column, is_key] := *_cols[column, idx, is_key] }""".stripMargin)
    val cols = res.collect().map(r => (r.getString(0), r.getBoolean(1))).toSet
    assert(cols == Set(("k", true), ("v", false)))
  }

  test("imperative script may BEGIN with a sysop (pest:13 imperative_script = stmt+)") {
    val db = freshDb()
    val res = db.run(
      """::relations as _rels
        |{ ?[name] := *_rels[name, arity, keys, lvl, desc] }""".stripMargin)
    assert(res.collect().map(_.getString(0)).toSet == Set("kv"))
  }

  test("%return with no value returns the empty relation; multiple values return the first (imperative.rs:88-115)") {
    val db = freshDb()
    assert(db.run("{ ?[k] := *kv[k, v] }\n%return").isEmpty)
    val multi = db.run(
      """{ ?[k, v] := *kv[k, v] :replace _snap {k} }
        |%return { ?[v] := *_snap[k, v] } as _vals _snap""".stripMargin)
    // first value is the primary result; the second still evaluated
    assert(multi.columns.toSeq == Seq("v"))
    assert(multi.count() == 2)
  }

  test("temp relations persist across statements of one transaction (db.rs:298 shares one tx)") {
    val db = freshDb()
    db.transact { tx =>
      tx.run("?[k, v] := *kv[k, v] :replace _stage {k}")
      // a later statement in the SAME transaction still sees the temp
      assert(tx.run("?[k] := *_stage[k, v]").count() == 2)
    }
    // cleared once the transaction closes
    assert(!db.relationNames.exists(_.startsWith("_")))
  }

  test("failed scripts clear temps too (cleanup runs in finally)") {
    val db = freshDb()
    intercept[Exception](db.run(
      """{ ?[k, v] := *kv[k, v] :replace _junk {k} }
        |{ ?[k] := *nonexistent[k] }""".stripMargin))
    assert(!db.relationNames.exists(_.startsWith("_")))
  }

  test("recreating a dropped validity relation does not inherit validity coercion") {
    val db = freshDb()
    db.run("?[k, vld] <- [[1, 'ASSERT']] :create hist {k, vld: Validity}")
    db.run("::remove hist")
    // same name, now an ordinary array column: must NOT be rewritten
    // into timestamps / grow a phantom assert column
    db.run("?[k, vld] <- [[1, [1, 2, 3]]] :create hist {k, vld}")
    val row = db.run("?[k, vld] := *hist[k, vld]").collect().head
    assert(row.getSeq[Long](1) == Seq(1L, 2L, 3L))
    assert(!db.relation("hist").columns.exists(_.endsWith("__assert")))
  }

  test(":replace without a Validity annotation resets validity metadata") {
    val db = freshDb()
    db.run("?[k, vld] <- [[1, 'ASSERT']] :create hist2 {k, vld: Validity}")
    db.run("?[k, vld] <- [[1, [4, 5]]] :replace hist2 {k, vld}")
    val row = db.run("?[k, vld] := *hist2[k, vld]").collect().head
    assert(row.getSeq[Long](1) == Seq(4L, 5L))
  }

  test("a create sysop's { } options block may start on the next line") {
    val db = freshDb()
    db.run("?[k, v] <- [['a', 'hello world']] :create nl {k}")
    // newline between target and the options brace: one statement, both
    // standalone (plain path, (?s) indexOpRe) and inside an imperative
    // script (the brace-aware sysop scan continues across the newline)
    db.run("::fts create nl:f1\n{ extractor: v, tokenizer: Simple, filters: [Lowercase] }")
    assert(db.run("?[k] := ~nl:f1{k | query: 'hello', k: 5}").count() == 1)
    db.run(
      """::fts create nl:f2
        |{ extractor: v, tokenizer: Simple, filters: [Lowercase] }
        |%debug nl
        |""".stripMargin.trim)
    assert(db.run("?[k] := ~nl:f2{k | query: 'world', k: 5}").count() == 1)
    // a sysop that takes no brace block still ends at the newline: the
    // following { } is the next imperative statement, not its options
    db.run("::fts drop nl:f2\n{ ?[k, v] <- [['b', 'more text']] :put nl {k} }")
    assert(db.relation("nl").count() == 2)
    intercept[Exception](db.run("?[k] := ~nl:f2{k | query: 'world', k: 5}"))
  }

  test("::compact materializes mutation chains; data and probes survive") {
    val db = freshDb()
    db.run("?[k, v] <- [[1, 'alpha beta'], [2, 'gamma delta']] :create c {k}")
    db.run("::fts create c:fts { extractor: v, tokenizer: Simple, filters: [Lowercase] }")
    for (i <- 3 to 8)
      db.run(s"?[k, v] <- [[$i, 'word$i text']] :put c {k}")
    assert(db.run("?[k] := ~c:fts{k | query: 'word5', k: 5}").count() == 1)
    assert(db.run("::compact").collect().head.getString(0) == "ok")
    // everything still reads correctly from the compacted blocks
    assert(db.relation("c").count() == 8)
    assert(db.run("?[k] := ~c:fts{k | query: 'word5', k: 5}").count() == 1)
    assert(db.run("?[k] := ~c:fts{k | query: 'alpha', k: 5}").count() == 1)
  }

  test("::fixed_rules lists every registered rule with its arity, script rules included") {
    val db = freshDb()
    val rows = db.run("::fixed_rules").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(rows.keySet == FixedRules.names.toSet,
      "the listing must carry the full registry")
    // the beyond-reference pipeline rules appear like the reference's
    // own registry listing (fixed_rule/mod.rs:706-835), with arity
    assert(rows("QualityClassifier") == Some(2L))
    assert(rows("PoolEmbeddings") == Some(3L))
    assert(rows("BalanceTemperature") == Some(2L))
    assert(rows("PageRank") == Some(2L))
    assert(rows("KShortestPathYen") == Some(5L))
    // input-dependent widths are listed as null, not a made-up number
    assert(rows("Constant").isEmpty && rows("AsOfJoin").isEmpty)
    // every declared arity in the listing matches FixedRules.arity
    for ((n, a) <- rows) assert(a.map(_.toInt) == FixedRules.arity(n), n)
  }

  private def rowSet(db: CozoDb, q: String): Set[Seq[Any]] =
    db.run(q).collect().map(_.toSeq).toSet
  private def relationsRow(db: CozoDb, name: String): Seq[Any] =
    db.run("::relations").collect().find(_.getString(0) == name).get.toSeq.tail

  /** Relation metadata that an aborted transaction or a `::rename` must
    * carry or restore: the bare-create flag, access level, description,
    * declared columns and their defaults. */
  private val lifecycleCases: Seq[(String, CozoDb => Unit)] = Seq(
    "an aborted bare :create leaves no schema-only flag behind" -> { db =>
      val tx = db.multiTransaction()
      tx.run(":create t {a => b}")
      tx.abort()
      db.run("?[a, b] <- [[1, 2]] :create t {a => b}")
      db.run("?[a, b] <- [[3, 4]] :put t {a => b}")
      assert(rowSet(db, "?[a, b] := *t[a, b]") == Set(Seq(1L, 2L), Seq(3L, 4L)))
    },
    "an aborted ::access_level is rolled back" -> { db =>
      val tx = db.multiTransaction()
      tx.run("::access_level read_only kv")
      tx.abort()
      db.run("?[k, v] <- [[3, 'c']] :put kv {k => v}")
      assert(db.relation("kv").count() == 3)
    },
    "an aborted ::describe and :replace defaults are rolled back" -> { db =>
      db.run("?[a, b] <- [[1, 2]] :create d {a => b default 0}")
      val tx = db.multiTransaction()
      tx.run("::describe d 'inside'")
      tx.run("?[a, b] <- [[5, 6]] :replace d {a => b default 9}")
      tx.abort()
      assert(relationsRow(db, "d").last == "")
      db.run("?[a] <- [[7]] :put d {a}")
      assert(rowSet(db, "?[a, b] := *d[a, b]") == Set(Seq(1L, 2L), Seq(7L, 0L)))
    },
    "::rename keeps declared defaults and the description" -> { db =>
      db.run("?[a, b] <- [[1, 2]] :create r {a => b default 5}")
      db.run("::describe r 'doc'")
      db.run("::rename r s")
      assert(relationsRow(db, "s").last == "doc")
      db.run("?[a] <- [[3]] :put s {a}")
      assert(rowSet(db, "?[a, b] := *s[a, b]") == Set(Seq(1L, 2L), Seq(3L, 5L)))
    },
    "an aborted ::rename restores the access level and defaults" -> { db =>
      db.run("?[a, b] <- [[1, 2]] :create r {a => b default 5}")
      db.run("::access_level protected r")
      val tx = db.multiTransaction()
      tx.run("::rename r s")
      tx.abort()
      assert(!db.relationNames.contains("s"))
      assert(relationsRow(db, "r")(2) == "protected")
      db.run("::access_level normal r")
      db.run("?[a] <- [[3]] :put r {a}")
      assert(rowSet(db, "?[a, b] := *r[a, b]") == Set(Seq(1L, 2L), Seq(3L, 5L)))
    })

  for ((name, body) <- lifecycleCases)
    test(s"relation lifecycle: $name")(body(freshDb()))

  test("::rename moves the whole relation and drops the indexes over the old name") {
    val db = freshDb()
    db.run("?[k] <- [[0]] :create log {k}")
    db.run("?[k, vt, v, d] <- [[1, 'ASSERT', 'one fox', 'x'], [2, 'ASSERT', 'two fox', 'y']] " +
      ":create r {k, vt: Validity => v, d default 'dd'}")
    db.run("::fts create r:ix {extractor: v}")
    assert(db.run("?[k] := ~r:ix{k | query: 'fox', k: 5}").count() == 2)
    // a live write overlay
    val writes = db.store.overlayWrites
    db.run("?[k, vt, v] <- [[3, 'ASSERT', 'three']] :put r {k, vt => v}")
    assert(db.store.overlayWrites == writes + 1)
    db.run("::set_triggers r on put { ?[k] := _new[k, vt, v, d, a] :put log {k} }")
    db.run("::describe r 'renamed relation'")
    db.run("::access_level protected r")
    def snapshot(rel: String) = (
      db.relation(rel).collect().map(_.toSeq).toSet,
      db.run(s"::columns $rel").collect().map(_.toSeq).toSeq,
      rowSet(db, s"?[k, v, d] := *$rel{k, v, d @ 'NOW'}"),
      relationsRow(db, rel),
      db.run(s"::show_triggers $rel").collect().map(_.toSeq).toSeq)
    val before = snapshot("r")
    assert(before._3.map(_.head) == Set(1L, 2L, 3L))
    db.run("::rename r s")
    assert(snapshot("s") == before)
    assert(!db.relationNames.contains("r"))
    // the indexes over the old name are gone with their cached artifacts
    assert(db.run("::indices s").isEmpty && db.run("::indices r").isEmpty)
    assert(!db.store.cachedIndexTargets.exists(_.startsWith("r:")))
    intercept[Exception](db.run("?[k] := ~r:ix{k | query: 'fox', k: 5}"))
    // the triggers fire and the defaults fill on the new name
    db.run("::access_level normal s")
    db.run("?[k, vt, v] <- [[9, 'ASSERT', 'nine']] :put s {k, vt => v}")
    assert(rowSet(db, "?[k] := *log[k]") == Set(Seq(0L), Seq(9L)))
    assert(rowSet(db, "?[d] := *s{k: 9, d @ 'NOW'}") == Set(Seq("dd")))
    // renaming onto an existing name raises and changes nothing
    val (s0, log0) = (snapshot("s"), rowSet(db, "?[k] := *log[k]"))
    intercept[IllegalStateException](db.run("::rename s log"))
    assert(snapshot("s") == s0 && rowSet(db, "?[k] := *log[k]") == log0)
  }
}
