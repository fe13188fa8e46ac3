package graft.lang

import graft.SparkFixture
import graft.plan.Knee
import org.scalatest.funsuite.AnyFunSuite

/** Time-travel differential fuzz + the exact `@ spec` coercion table of
  * the reference's expr2vld_spec (parse/query.rs:1086-1102): an integer
  * is MICROSECONDS since epoch (the round-6..7 code compared raw longs
  * against timestamp columns, which Spark casts as SECONDS — a real
  * ×10⁶ travel-point bug caught by this spec's first probe), "NOW" /
  * "END" are sentinels, other strings must parse RFC3339 (str2vld,
  * functions.rs:2520), floats are accepted only when integral, and
  * everything else — including non-constant expressions — is "bad
  * specification of validity". Random histories are read both on a db
  * whose key-range reads run on the driver over the relation's copy and
  * on one without copies.
  */
class ValidityFuzzSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark

  test("@ spec coercion table: integer µs, integral float, RFC3339, sentinels, loud rejections") {
    val db = new CozoDb(spark)
    db.run(":create vld {a, v: Validity => d}")
    db.run("?[a, v, d] <- [[1, [5, true], 50], [1, [9, false], 90], [2, [3, true], 30]] :put vld {a, v => d}")
    def at(spec: String): Set[(Long, Long)] =
      db.run(s"?[a, d] := *vld{a, d @ $spec}").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(at("7") == Set((1L, 50L), (2L, 30L))) // key 1 asserted at 5 µs
    assert(at("10") == Set((2L, 30L))) // key 1 retracted at 9 µs
    assert(at("2") == Set.empty) // before every assert
    assert(at("7.0") == at("7")) // integral float accepted (Num::get_int)
    assert(at("'END'") == Set((2L, 30L)))
    // RFC3339 far past epoch +µs history: everything visible
    assert(at("'2024-01-01T00:00:00Z'") == Set((2L, 30L)))
    for (badSpec <- Seq("2.5", "'not-a-date'", "'2024-01-01'", "a", "[1, 2]"))
      assert(intercept[Exception](at(badSpec)).getMessage
        .contains("bad specification of validity"), badSpec)
  }

  test("random assert/retract histories: travel at random µs equals a naive per-key timeline (40 seeds)") {
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    for (seed <- 0 until 40) {
      val rnd = new scala.util.Random(seed * 6007 + 29)
      // one db reads its key ranges on the driver over the relation's
      // copy, the other holds no copy (every read on Spark)
      val dbs = Seq(("copies", new CozoDb(spark), Seq.empty[(Knee.Limit, Long)]),
        ("no copies", new CozoDb(spark), Seq(Knee.DriverIndexBytes -> 0L)))
      def onAll[A](body: CozoDb => A): Seq[(String, A)] =
        dbs.map { case (name, db, limits) => name -> Knee.withLimits(limits: _*)(body(db)) }
      onAll(_.run(s":create h$seed {k, v: Validity => d}"))
      val nKeys = 2 + rnd.nextInt(4)
      // distinct (key, ts) pairs — same-instant double writes are a
      // keyed upsert, not history
      val events = rnd.shuffle(
        (for (k <- 0 until nKeys; ts <- 1 to 40) yield (k, ts)).toVector)
        .take(8 + rnd.nextInt(20))
        .map { case (k, ts) => (k.toLong, ts.toLong, rnd.nextInt(3) != 0, rnd.nextInt(100).toLong) }
      val lits = events.map { case (k, ts, a, d) => s"[$k, [$ts, $a], $d]" }.mkString(", ")
      onAll(_.run(s"?[k, v, d] <- [$lits] :put h$seed {k, v => d}"))
      for (_ <- 0 until 4) {
        val t = 1 + rnd.nextInt(45)
        val lo = t % nKeys
        // naive: per key, the latest event at ts ≤ t; visible iff assert
        val want = events.groupBy(_._1).flatMap { case (k, es) =>
          es.filter(_._2 <= t).sortBy(_._2).lastOption.collect {
            case (_, _, true, d) => (k, d)
          }
        }.toSet
        for ((q, wanted) <- Seq(s"?[k, d] := *h$seed{k, d @ $t}" -> want,
                               s"?[k, d] := *h$seed{k, d @ $t}, k >= $lo, k < $nKeys" -> want.filter(_._1 >= lo));
             (name, got) <- onAll(_.run(q).collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
             if got != wanted)
          failures += s"seed $seed @ $t µs ($name): $q got $got want $wanted\n  events: $events"
      }
    }
    assert(failures.isEmpty, s"${failures.length} diverging seeds:\n${failures.mkString("\n")}")
  }
}
