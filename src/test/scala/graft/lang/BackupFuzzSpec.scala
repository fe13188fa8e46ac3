package graft.lang

import graft.SparkFixture
import org.scalatest.funsuite.AnyFunSuite

/** Round-trip fuzz of backup/restore: random databases — mixed
  * relation shapes, defaults, validity columns, triggers, access
  * levels, FTS/LSH/HNSW indexes, descriptions — must restore into a
  * fresh CozoDb with identical relation CONTENTS and identical
  * BEHAVIOR (probes serve, triggers fire, read_only still rejects
  * writes). Catches DDL-surface fields the serializer forgets.
  */
class BackupFuzzSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark

  private def rows(db: CozoDb, q: String): Set[Seq[Any]] =
    db.run(q).collect().map(_.toSeq.map {
      case d: java.sql.Timestamp => d.getTime
      case x => x
    }).toSet

  test("random DDL combinations survive backup → restore with identical contents and behavior (8 seeds)") {
    for (seed <- 0 until 8) {
      val rnd = new scala.util.Random(seed * 74413 + 5)
      val db = new CozoDb(spark)
      val nRels = 2 + rnd.nextInt(3)
      val queries = scala.collection.mutable.ArrayBuffer.empty[String]
      val defaulted = scala.collection.mutable.ArrayBuffer.empty[String]

      for (r <- 0 until nRels) {
        val rel = s"r$r"
        rnd.nextInt(4) match {
          case 0 => // plain keyed relation with a default
            db.run(s"?[k, a, b] <- [[1, 10, 'x'], [2, 20, 'y']] :create $rel {k => a, b default 'd'}")
            db.run(s"?[k, a] <- [[3, 30]] :put $rel {k => a}") // b defaults
            queries += s"?[k, a, b] := *$rel[k, a, b]"
            defaulted += rel
          case 1 => // validity relation with history
            db.run(s":create $rel {k, v: Validity => d}")
            db.run(s"?[k, v, d] <- [[1, [5, true], 50], [1, [9, false], 0], [2, [3, true], 30]] :put $rel {k, v => d}")
            queries += s"?[k, d] := *$rel{k, d @ 7}"
            queries += s"?[k, d] := *$rel{k, d @ 'END'}"
          case 2 => // FTS-indexed docs
            db.run(s"?[k, t] <- [['a', 'hello world'], ['b', 'quiet place']] :create $rel {k => t}")
            db.run(s"::fts create $rel:ix {extractor: t, tokenizer: Simple, filters: [Lowercase]}")
            queries += s"?[k] := ~$rel:ix{k | query: 'hello', k: 5}"
          case _ => // triggered relation mirroring into an audit log
            db.run(s"?[k] <- [[0]] :create ${rel}_log {k}")
            db.run(s"?[k, v] <- [[1, 1]] :create $rel {k => v}")
            db.run(s"::set_triggers $rel on put { ?[k] := _new[k, v] :put ${rel}_log {k} }")
            queries += s"?[k] := *${rel}_log[k]"
        }
        if (rnd.nextBoolean())
          db.run(s"::describe $rel 'random description $seed'")
      }

      val dir = java.nio.file.Files.createTempDirectory(s"graft_bfuzz$seed").toString
      db.backup(dir)
      val db2 = new CozoDb(spark)
      db2.restore(dir)

      for (q <- queries)
        assert(rows(db2, q) == rows(db, q), s"seed $seed query $q")
      // descriptions, access levels and keys restore
      assert(rows(db2, "::relations") == rows(db, "::relations"), s"seed $seed ::relations")
      // declared defaults restore: a put that omits b fills it
      for (rel <- defaulted) {
        db2.run(s"?[k, a] <- [[4, 40]] :put $rel {k => a}")
        assert(rows(db2, s"?[b] := *$rel[4, a, b]") == Set(Seq("d")), s"seed $seed default of $rel")
      }
      // behavior: a restored trigger still fires
      val triggered = (0 until nRels).find { r =>
        db.run("::relations").collect().exists(_.getString(0) == s"r${r}_log")
      }
      triggered.foreach { r =>
        db2.run(s"?[k, v] <- [[77, 7]] :put r$r {k => v}")
        assert(rows(db2, s"?[k] := *r${r}_log[k]").contains(Seq(77L)), s"seed $seed trigger")
      }
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
