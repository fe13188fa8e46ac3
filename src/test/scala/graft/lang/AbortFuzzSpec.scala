package graft.lang

import graft.SparkFixture
import org.scalatest.funsuite.AnyFunSuite
import scala.util.control.NonFatal

/** Seeded chains of relation lifecycle ops inside a transaction, then
  * `abort()`: everything a client can observe of the relation store —
  * rows, `::relations`, `::columns`, `::indices`, `::show_triggers` and
  * an FTS probe — must equal the state before the transaction. Ops may
  * fail part-way (a rename onto an existing name, a write into a
  * read-only relation); the abort restores those too. */
class AbortFuzzSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark

  private def freshDb(): CozoDb = {
    val db = new CozoDb(spark)
    db.run("?[k, t] <- [[1, 'red fox'], [2, 'blue fox'], [3, 'red hen']] :create a {k => t}")
    db.run("::fts create a:fts {extractor: t}")
    db.run("?[k, t] <- [[1, 'one'], [2, 'two']] :create b {k => t default 'none'}")
    db.run("::describe b 'numbers'")
    db
  }

  private def rows(db: CozoDb, q: String): Set[Seq[Any]] =
    db.run(q).collect().map(_.toSeq).toSet

  private def state(db: CozoDb): Map[String, Set[Seq[Any]]] =
    Map("::relations" -> rows(db, "::relations"),
      "probe" -> rows(db, "?[k, t] := ~a:fts{k, t | query: 'red', k: 10}")) ++
      db.relationNames.flatMap(n => Seq(
        s"*$n" -> db.relation(n).collect().map(_.toSeq).toSet,
        s"::columns $n" -> rows(db, s"::columns $n"),
        s"::indices $n" -> rows(db, s"::indices $n"),
        s"::show_triggers $n" -> rows(db, s"::show_triggers $n")))

  private def lifecycleOp(rnd: scala.util.Random, i: Int): String = {
    def rel = Seq("a", "b", "c")(rnd.nextInt(3))
    rnd.nextInt(11) match {
      case 0 => s":create $rel {k => t}"
      case 1 => s"?[k, t] <- [[$i, 'new red $i']] :create $rel {k => t}"
      case 2 => s"?[k, t] <- [[$i, 'red $i']] :replace $rel {k => t default 'z'}"
      case 3 => s"?[k, t] <- [[${rnd.nextInt(4)}, 'red put $i']] :put $rel {k => t}"
      case 4 => s"?[k] <- [[${rnd.nextInt(4)}]] :rm $rel {k}"
      case 5 => s"::access_level ${Seq("protected", "read_only", "normal")(rnd.nextInt(3))} $rel"
      case 6 => s"::describe $rel 'changed $i'"
      case 7 => s"::set_triggers $rel on put { ?[x] <- [[$i]] }"
      case 8 => s"::rename $rel ${Seq("a", "b", "c", "d")(rnd.nextInt(4))}"
      case 9 => s"::remove $rel"
      case _ => s"::fts create $rel:fts {extractor: t}"
    }
  }

  test("abort after random lifecycle op chains restores the observable state (8 seeds)") {
    for (seed <- 0 until 8) {
      val rnd = new scala.util.Random(seed * 7919 + 11)
      val db = freshDb()
      val before = state(db)
      val ops = Seq.tabulate(3 + rnd.nextInt(6))(lifecycleOp(rnd, _))
      val tx = db.multiTransaction()
      for (op <- ops) try tx.run(op) catch { case NonFatal(_) => () }
      tx.abort()
      assert(state(db) == before, s"seed $seed ops ${ops.mkString(" ; ")}")
      // the restored relation takes writes and its index serves them
      db.run("?[k, t] <- [[9, 'red kite']] :put a {k => t}")
      assert(rows(db, "?[k] := ~a:fts{k | query: 'kite', k: 10}") == Set(Seq(9L)), s"seed $seed")
    }
  }
}
