package graft.lang

import graft.SparkFixture
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

  /** (default bound, bound 0). */
  private def pair(): Seq[CozoDb] = {
    val folding = new CozoDb(spark)
    folding.maxDriverPatchKeys = 0
    Seq(new CozoDb(spark), folding)
  }

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
    assert(db.overlayWrites == 4 && db.overlayFolds == 0)
  }

  test("NULL-keyed :put, :rm, :update, :insert and :delete keep one row per key value") {
    for (db <- pair()) {
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

  test("a validity :put is seen by an @ t read") {
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    val dbs = pair()
    for (db <- dbs) {
      db.registerTable("hist",
        Seq((1L, "a", ts("2024-01-01T00:00:00Z"), true)).toDF("id", "v", "vld", "op"),
        keys = Seq("id", "vld", "op"), validity = Some("vld"), validityAssert = Some("op"))
      db.run("?[id, v, vld] <- [[1, 'b', '2024-02-01T00:00:00Z']] :put hist {id, vld}")
      db.run("?[id, v, vld] <- [[1, 'c', '~2024-03-01T00:00:00Z']] :put hist {id, vld}")
      def at(t: String) = rows(db, s"?[id, v] := *hist{id, v @ '$t'}")
      assert(at("2024-01-15T00:00:00Z") == Seq("1|a"))
      assert(at("2024-02-15T00:00:00Z") == Seq("1|b"))
      assert(at("2024-03-15T00:00:00Z").isEmpty)
    }
    assert(dbs.head.overlayWrites == 2 && dbs(1).overlayWrites == 0)
  }

  test("trigger and callback _new/_old rows are those of the folding path") {
    val seen = pair().map { db =>
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
    val writes = db.overlayWrites
    val tx = db.multiTransaction()
    tx.run("?[k, t] <- [[3, 'cherry tart']] :put docs {k => t}")
    tx.run("?[k] <- [[1]] :rm docs {k}")
    assert(db.overlayWrites == writes + 2)
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
    val folds = db.overlayFolds
    db.run("::compact")
    assert(db.overlayFolds == folds + 1)
    assert(rows(db, "?[k, v, s] := *o{k, v, s}") == before)
    // after compaction a small write goes to a fresh overlay
    assert(jobs(db.run("?[k] <- [[500]] :rm o {k}").collect()) == 0)
    assert(rows(db, "?[count(k)] := *o{k}") == Seq("199"))
  }

  test("writes past the bound fold once, then the overlay starts over") {
    val db = new CozoDb(spark)
    db.maxDriverPatchKeys = 3
    orders(db)
    for (k <- 300 until 303) db.run(s"?[k, v, s] <- [[$k, 0, 'n']] :put o {k => v, s}")
    assert(db.overlayWrites == 3 && db.overlayFolds == 0)
    db.run("?[k, v, s] <- [[303, 0, 'n']] :put o {k => v, s}")
    assert(db.overlayFolds == 1)
    db.run("?[k] <- [[300]] :rm o {k}")
    assert(db.overlayWrites == 4 && db.overlayFolds == 1)
    assert(rows(db, "?[k] := *o{k, s: 'n'}") == Seq("301", "302", "303"))
  }

  test("const rules dedupe on the driver exactly like dropDuplicates, -0.0 and NaN included") {
    val params = Map[String, Any]("nan" -> Double.NaN, "nz" -> -0.0)
    val script = "?[a, b] <- [[$nan, 1], [$nan, 1], [0.0, 2], [$nz, 2], [$nz, 3], [1.5, 1], [1.5, 1]]"
    val Seq(local, folded) = pair().map(db =>
      db.run(script, params).collect().map(_.toSeq.mkString("|")).toSeq.sorted)
    assert(local == folded)
    assert(local == Seq("0.0|2", "0.0|3", "1.5|1", "NaN|1"))
    assert(jobs(pair().head.run(script, params).collect()) == 0)
  }
}
