package graft.lang

import graft.SparkFixture
import graft.plan.Knee
import org.apache.spark.sql.graftbridge.ListenerBridge
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable.ArrayBuffer

/** The write overlay of stored relations: small row writes touch only
  * their keys on the driver, reads see the base minus the overlay keys
  * plus the overlay rows, and a write the overlay cannot take folds
  * into the base through Mutations. Job counts are pinned with
  * ListenerBridge.measure (as JobLedgerSpec does); results are
  * compared against a database whose bound is 0, where each write
  * folds.
  */
class WriteOverlaySpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  import spark.implicits._

  private val groups = new java.util.concurrent.atomic.AtomicInteger(0)
  private def jobs(body: => Unit): Int =
    ListenerBridge.measure(spark.sparkContext, s"overlay-${groups.incrementAndGet()}")(body).jobs

  private def rows(db: CozoDb, script: String): Seq[String] =
    db.run(script).collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** `body` on a fresh database under the default bounds, then on one
    * under bound 0 (write overlays and local const rules hold no row). */
  private def bothBounds[A](body: CozoDb => A): Seq[A] =
    Seq(body(new CozoDb(spark)),
      Knee.withLimits(Knee.PatchKeys -> 0L, Knee.LocalRows -> 0L)(body(new CozoDb(spark))))

  private def orders(db: CozoDb): Unit =
    db.registerTable("o", spark.range(0, 200)
      .selectExpr("id as k", "id * 2 as v", "cast(id as string) as s"), Seq("k"))

  test("a one-row :put or :rm runs no Spark job, :update at most one; reads see each write") {
    val db = new CozoDb(spark)
    orders(db)
    assert(jobs(db.run("?[k, v, s] <- [[500, 1, 'x']] :put o {k => v, s}").collect()) == 0)
    assert(rows(db, "?[v, s] := *o{k: 500, v, s}") == Seq("1|x"))
    assert(jobs(db.run("?[k] <- [[3]] :rm o {k}").collect()) == 0)
    assert(rows(db, "?[v] := *o{k: 3, v}").isEmpty)
    assert(jobs(db.run("?[k, v] <- [[7, 99]] :update o {k => v}").collect()) <= 1)
    assert(rows(db, "?[v, s] := *o{k: 7, v, s}") == Seq("99|7"))
    // the key is in the overlay now: no probe of the base
    assert(jobs(db.run("?[k, s] <- [[7, 'y']] :update o {k => s}").collect()) == 0)
    assert(rows(db, "?[v, s] := *o{k: 7, v, s}") == Seq("99|y"))
    assert(rows(db, "?[count(k)] := *o{k}") == Seq("200"))
    assert(db.store.overlayWrites == 4 && db.store.overlayFolds == 0)
  }

  test("NULL-keyed :put, :rm, :update, :insert and :delete keep one row per key value") {
    bothBounds { db =>
      db.registerTable("na", Seq((Option(1L), "x"), (Option.empty[Long], "y")).toDF("k", "v"), Seq("k"))
      def state = rows(db, "?[k, v] := *na{k, v}")
      db.run("?[k, v] <- [[null, 'z']] :put na {k => v}")
      assert(state == Seq("1|x", "null|z"))
      db.run("?[k, v] <- [[null, 'w']] :update na {k => v}")
      assert(state == Seq("1|x", "null|w"))
      db.run("?[k] <- [[null]] :rm na {k}")
      assert(state == Seq("1|x"))
      intercept[Exception](db.run("?[k, v] <- [[null, 'u']] :update na {k => v}"))
      intercept[Exception](db.run("?[k] <- [[null]] :delete na {k}"))
      db.run("?[k, v] <- [[null, 'n']] :insert na {k => v}")
      assert(state == Seq("1|x", "null|n"))
      intercept[Exception](db.run("?[k, v] <- [[null, 'm']] :insert na {k => v}"))
      db.run("?[k] <- [[null]] :delete na {k}")
      assert(state == Seq("1|x"))
      // a composite key with a NULL part, and -0.0 as the key 0.0
      db.run("?[a, b, v] <- [[1, null, 'p'], [1, 2, 'q']] :create nb {a, b => v}")
      db.run("?[a, b, v] <- [[1, null, 'r']] :put nb {a, b => v}")
      db.run("?[a, b] <- [[1, 2]] :rm nb {a, b}")
      assert(rows(db, "?[a, b, v] := *nb{a, b, v}") == Seq("1|null|r"))
      db.run("?[k, v] <- [[0.0, 'p'], [1.5, 'q']] :create nz {k => v}")
      // (a const rule normalizes -0.0 as dropDuplicates does; a frame does not)
      db.put("nz", Seq((-0.0, "r")).toDF("k", "v"))
      assert(db.relation("nz").collect().map(_.toSeq.mkString("|")).toSeq.sorted ==
        Seq("-0.0|r", "1.5|q"))
    }
  }

  test("with a held copy, one-row :update, :insert and :delete run no Spark job and match a db without copies") {
    def setup(db: CozoDb): CozoDb = {
      db.registerTable("hn", Seq((Option(1L), "a"), (Option(2L), "b"), (Option.empty[Long], "c"))
        .toDF("k", "v"), Seq("k"))
      db.registerTable("hz", Seq((-0.0, "a"), (1.5, "b"), (2.5, "c")).toDF("k", "v"), Seq("k"))
      db
    }
    val db = setup(new CozoDb(spark))
    val pinned = Knee.withLimits(Knee.DriverIndexBytes -> 0L)(setup(new CozoDb(spark)))
    // reads by key build the copies
    assert(rows(db, "?[v] := *hn{k: 1, v}") == Seq("a") && rows(db, "?[v] := *hz{k: 1.5, v}") == Seq("b"))
    def state(d: CozoDb) = Seq("hn", "hz").map(r => rows(d, s"?[k, v] := *$r{k, v}"))
    // each write reaches a key the overlay does not hold yet
    for (script <- Seq(
        "?[k, v] <- [[null, 'w']] :update hn {k => v}",
        "?[k, v] <- [[9, 'x']] :update hn {k => v}", // missing key
        "?[k] <- [[1]] :delete hn {k}",
        "?[k] <- [[8]] :delete hn {k}", // missing key
        "?[k, v] <- [[2, 'x']] :insert hn {k => v}", // existing key
        "?[k, v] <- [[5, 'n']] :insert hn {k => v}",
        "?[k, v] <- [[0.0, 'z']] :update hz {k => v}", // the stored -0.0 is the key 0.0
        "?[k, v] <- [[2.5, 'x']] :insert hz {k => v}", // existing key
        "?[k] <- [[1.5]] :delete hz {k}")) {
      var failed = false
      assert(jobs { failed = scala.util.Try(db.run(script).collect()).isFailure } == 0, script)
      val want = Knee.withLimits(Knee.DriverIndexBytes -> 0L) {
        (scala.util.Try(pinned.run(script).collect()).isFailure, state(pinned))
      }
      assert((failed, state(db)) == want, script)
    }
    assert(state(db) == Seq(Seq("2|b", "5|n", "null|w"), Seq("0.0|z", "2.5|c")))
    assert(db.store.overlayFolds == 0 && db.store.relationCopyBuilds == 2 && db.store.relationCopyPatches == 5)
  }

  test("a validity :put is seen by an @ t read") {
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    val writes = bothBounds { db =>
      db.registerTable("hist",
        Seq((1L, "a", ts("2024-01-01T00:00:00Z"), true)).toDF("id", "v", "vld", "op"),
        keys = Seq("id", "vld", "op"), validity = Some("vld"), validityAssert = Some("op"))
      db.run("?[id, v, vld] <- [[1, 'b', '2024-02-01T00:00:00Z']] :put hist {id, vld}")
      db.run("?[id, v, vld] <- [[1, 'c', '~2024-03-01T00:00:00Z']] :put hist {id, vld}")
      def at(t: String) = rows(db, s"?[id, v] := *hist{id, v @ '$t'}")
      assert(at("2024-01-15T00:00:00Z") == Seq("1|a"))
      assert(at("2024-02-15T00:00:00Z") == Seq("1|b"))
      assert(at("2024-03-15T00:00:00Z").isEmpty)
      db.store.overlayWrites
    }
    assert(writes == Seq(2, 0))
  }

  test("trigger and callback _new/_old rows are those of the folding path") {
    val seen = bothBounds { db =>
      val log = ArrayBuffer.empty[String]
      db.registerTable("t", Seq((1L, "a"), (2L, "b")).toDF("k", "v"), Seq("k"))
      db.registerTable("tlog", Seq.empty[(String, Long, String)].toDF("kind", "k", "v"), Seq("kind", "k"))
      db.run("""::set_triggers t
               |on put { ?[kind, k, v] := _old[k, v], kind = 'old' :put tlog {kind, k => v} }
               |on rm { ?[kind, k, v] := _old[k, v], kind = 'gone' :put tlog {kind, k => v} }""".stripMargin)
      db.registerCallback("t") { (op, n, o) =>
        def show(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(_.toSeq.mkString(",")).sorted.mkString(";")
        log += s"$op new=${show(n)} old=${show(o)}"
      }
      db.run("?[k, v] <- [[1, 'a2'], [3, 'c']] :put t {k => v}")
      db.run("?[k, v] <- [[3, 'c2']] :update t {k => v}")
      db.run("?[k] <- [[2], [9]] :rm t {k}")
      db.run("?[k, v] <- [[4, 'd']] :insert t {k => v}")
      db.run("?[k] <- [[1]] :delete t {k}")
      (log.toSeq, rows(db, "?[kind, k, v] := *tlog{kind, k, v}"), rows(db, "?[k, v] := *t{k, v}"))
    }
    assert(seen.head == seen(1))
    assert(seen.head._3 == Seq("3|c2", "4|d"))
  }

  test("an aborted transaction restores the pre-transaction rows and index results") {
    val db = new CozoDb(spark)
    db.run("?[k, t] <- [[1, 'apple pie'], [2, 'banana split']] :create docs {k => t}")
    db.run("::fts create docs:fts {extractor: t, tokenizer: Simple, filters: [Lowercase]}")
    def probe(q: String) = rows(db, s"?[k] := ~docs:fts{k | query: '$q', k: 5}")
    def state = rows(db, "?[k, t] := *docs{k, t}")
    val before = state
    assert(probe("apple") == Seq("1") && probe("cherry").isEmpty)
    val writes = db.store.overlayWrites
    val tx = db.multiTransaction()
    tx.run("?[k, t] <- [[3, 'cherry tart']] :put docs {k => t}")
    tx.run("?[k] <- [[1]] :rm docs {k}")
    assert(db.store.overlayWrites == writes + 2)
    assert(probe("cherry") == Seq("3") && probe("apple").isEmpty)
    tx.abort()
    assert(state == before)
    assert(probe("apple") == Seq("1") && probe("cherry").isEmpty)
    // the restored overlay takes further writes
    db.run("?[k, t] <- [[4, 'cherry jam']] :put docs {k => t}")
    assert(state == before :+ "4|cherry jam")
    assert(probe("cherry") == Seq("4"))
  }

  test("::compact folds the overlay and leaves the rows identical") {
    val db = new CozoDb(spark)
    orders(db)
    db.run("?[k, v, s] <- [[500, 1, 'x'], [501, 2, 'y']] :put o {k => v, s}")
    db.run("?[k] <- [[4], [5]] :rm o {k}")
    db.run("?[k, v] <- [[6, -6]] :update o {k => v}")
    val before = rows(db, "?[k, v, s] := *o{k, v, s}")
    val folds = db.store.overlayFolds
    db.run("::compact")
    assert(db.store.overlayFolds == folds + 1)
    assert(rows(db, "?[k, v, s] := *o{k, v, s}") == before)
    // after compaction a small write goes to a fresh overlay
    assert(jobs(db.run("?[k] <- [[500]] :rm o {k}").collect()) == 0)
    assert(rows(db, "?[count(k)] := *o{k}") == Seq("199"))
  }

  test("integer literals put into an int column are absorbed and keep its type; a value past int folds") {
    val db = new CozoDb(spark)
    db.registerTable("lab", spark.range(0, 20).selectExpr("id as k", "cast(id % 10 as int) as label"), Seq("k"))
    def labelType = db.store.records("lab").view.schema("label").dataType
    db.run("?[k, label] <- [[100, 7], [3, -2]] :put lab {k => label}").collect()
    assert(db.store.overlayWrites == 1 && db.store.overlayFolds == 0)
    assert(labelType == org.apache.spark.sql.types.IntegerType)
    assert(rows(db, "?[k, label] := *lab{k, label}, k > 2, k < 5") == Seq("3|-2", "4|4"))
    assert(rows(db, "?[label] := *lab{k: 100, label}") == Seq("7"))
    db.run(s"?[k, label] <- [[101, ${1L << 40}]] :put lab {k => label}").collect()
    assert(db.store.overlayWrites == 1 && db.store.overlayFolds == 1)
    assert(rows(db, "?[label] := *lab{k: 101, label}") == Seq((1L << 40).toString))
    assert(rows(db, "?[label] := *lab{k: 100, label}") == Seq("7"))
  }

  test("a folded write of a fetched delta keeps one row per key on the driver") {
    val big = 1L << 40 // past int: each first write to an int column folds
    val db = new CozoDb(spark)
    for (rel <- Seq("f", "g", "h"))
      db.registerTable(rel, spark.range(0, 50).selectExpr("id as k", "cast(id as int) as v"), Seq("k"))
    val put = jobs(db.run(s"?[k, v] <- [[1, $big], [1, 5], [60, 7]] :put f {k => v}").collect())
    val insert = jobs(db.run(s"?[k, v] <- [[70, $big], [71, 2]] :insert g {k => v}").collect())
    // the window (:put) and the grouping job (:insert) over the delta took 4 jobs each
    assert(put <= 1 && insert <= 2, s"folded :put $put jobs, folded :insert $insert")
    assert(db.store.overlayFolds == 2 && db.store.overlayWrites == 0)
    assert(rows(db, "?[v] := *f{k: 1, v}") == Seq(big.toString))
    assert(rows(db, "?[k, v] := *f{k, v}, k > 55") == Seq("60|7"))
    assert(rows(db, "?[k, v] := *g{k, v}, k > 55") == Seq(s"70|$big", "71|2"))
    val e = intercept[Exception](db.run(s"?[k, v] <- [[80, $big], [80, 1]] :insert h {k => v}").collect())
    assert(e.getMessage.contains("repeat a key"), e)
    assert(rows(db, "?[count(k)] := *h{k}") == Seq("50") && db.store.overlayFolds == 2)
  }

  test("writes past the bound fold once, then the overlay starts over") {
    val db = new CozoDb(spark)
    orders(db)
    Knee.withLimits(Knee.PatchKeys -> 3L) {
      for (k <- 300 until 303) db.run(s"?[k, v, s] <- [[$k, 0, 'n']] :put o {k => v, s}")
      assert(db.store.overlayWrites == 3 && db.store.overlayFolds == 0)
      db.run("?[k, v, s] <- [[303, 0, 'n']] :put o {k => v, s}")
      assert(db.store.overlayFolds == 1)
      db.run("?[k] <- [[300]] :rm o {k}")
      assert(db.store.overlayWrites == 4 && db.store.overlayFolds == 1)
      assert(rows(db, "?[k] := *o{k, s: 'n'}") == Seq("301", "302", "303"))
    }
  }

  test("const rules dedupe on the driver exactly like dropDuplicates, -0.0 and NaN included") {
    val params = Map[String, Any]("nan" -> Double.NaN, "nz" -> -0.0)
    val script = "?[a, b] <- [[$nan, 1], [$nan, 1], [0.0, 2], [$nz, 2], [$nz, 3], [1.5, 1], [1.5, 1]]"
    val Seq(local, folded) = bothBounds(db =>
      db.run(script, params).collect().map(_.toSeq.mkString("|")).toSeq.sorted)
    assert(local == folded)
    assert(local == Seq("0.0|2", "0.0|3", "1.5|1", "NaN|1"))
    assert(jobs(new CozoDb(spark).run(script, params).collect()) == 0)
  }
}
