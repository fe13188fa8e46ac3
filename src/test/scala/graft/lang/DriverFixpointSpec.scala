package graft.lang

import graft.SparkFixture
import graft.plan.{Knee, KneeLog}
import org.scalatest.funsuite.AnyFunSuite

/** The fixpoint's driver backend against its Spark loop: the hand-off
  * at a round boundary once a member holds more than `Knee.FixpointRows`
  * rows, the gate at that boundary, and the hand-off of a round the
  * driver cannot evaluate. Rows and per-round stats must equal the pure
  * Spark run (`FixpointRows -> 0`: no round on the driver). */
class DriverFixpointSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  import spark.implicits._

  private def chainDb(n: Int): CozoDb = {
    val db = new CozoDb(spark)
    db.registerTable("chain", (1 until n).map(i => (i.toLong, i.toLong + 1)).toDF("fr", "to"),
      Seq("fr", "to"))
    db
  }

  private val closure =
    """reach[a, b] := *chain[a, b]
      |reach[a, c] := reach[a, b], *chain[b, c]
      |?[a, b] := reach[a, b]""".stripMargin

  /** Rows (numbers as doubles), stats and knee lines of `script` on a
    * fresh 12-node chain with `FixpointRows` pinned to `limit`. */
  private def run(script: String, limit: Long): (Set[Seq[Any]], Seq[Map[String, Long]], Seq[String]) =
    Knee.withLimits(Knee.FixpointRows -> limit) {
      val db = chainDb(12)
      val (rows, lines) = KneeLog.capture(db.run(script).collect().toSeq.map(_.toSeq.map {
        case n: java.lang.Number => n.doubleValue
        case o => o
      }))
      (rows.toSet, db.lastFixpointStats, lines.filter(_.contains("op=fixpoint")))
    }

  test("a fixpoint that crosses FixpointRows mid-way hands off to Spark with equal rows and stats") {
    // the 12-chain closure's totals grow 11, 21, 30, … 66: 25 is crossed after round 2
    val (sparkRows, sparkStats, sparkLines) = run(closure, 0L)
    val (rows, stats, lines) = run(closure, 25L)
    assert(sparkLines.isEmpty && rows.size == 66)
    assert(rows == sparkRows && stats == sparkStats)
    assert(lines == Seq("graft.knee op=fixpoint n=30 gate=25 branch=distributed"))
    val (driverRows, driverStats, driverLines) = run(closure, 10000L)
    assert(driverRows == sparkRows && driverStats == sparkStats)
    assert(driverLines == Seq("graft.knee op=fixpoint n=66 gate=10000 branch=driver"))
  }

  test("a meet-aggregated fixpoint hands off mid-way with equal rows and stats") {
    val sp =
      """sp[a, b, min(c)] := *chain[a, b], c = 1
        |sp[a, c, min(d)] := sp[a, b, d0], *chain[b, c], d = d0 + 1
        |?[a, b, c] := sp[a, b, c]""".stripMargin
    val (sparkRows, sparkStats, _) = run(sp, 0L)
    for (limit <- Seq(25L, 10000L)) {
      val (rows, stats, lines) = run(sp, limit)
      assert(rows == sparkRows && stats == sparkStats, s"limit $limit")
      assert(lines.length == 1, lines)
    }
  }

  test("the fixpoint gate: n = FixpointRows stays on the driver, n = FixpointRows + 1 hands off") {
    val (sparkRows, sparkStats, _) = run(closure, 0L)
    val (atRows, atStats, atLines) = run(closure, 66L)
    assert(atLines == Seq("graft.knee op=fixpoint n=66 gate=66 branch=driver"))
    val (pastRows, pastStats, pastLines) = run(closure, 65L)
    assert(pastLines == Seq("graft.knee op=fixpoint n=66 gate=65 branch=distributed"))
    assert(atRows == sparkRows && pastRows == sparkRows)
    assert(atStats == sparkStats && pastStats == sparkStats)
  }

  /** Like [[run]] on an `n`-node chain with the driver heap budget
    * `bytes`: also the rounds finished on the driver and the copies built. */
  private def runBudget(script: String, n: Int, bytes: Long): (Set[Seq[Any]], Seq[Map[String, Long]], Seq[String], Int, Int) =
    Knee.withLimits(Knee.DriverIndexBytes -> bytes) {
      val db = chainDb(n)
      val (rows, lines) = KneeLog.capture(db.run(script).collect().toSeq.map(_.toSeq))
      (rows.toSet, db.lastFixpointStats, lines.filter(_.contains("op=fixpoint")),
        db.driverFixpointRounds, db.store.relationCopyBuilds)
    }

  test("a round whose rows pass the driver heap budget hands off before it is built") {
    // a 30-chain's copy is 29 UnsafeRows of 24 bytes (696 bytes): admitted
    // under both budgets. At 1,000 bytes round 0's scan of it (29 rows at an
    // estimated 80 heap bytes) is already past the budget; at 4,000 bytes the
    // scans fit and the cross join (841 rows) stops once its output passes it
    val pairs =
      """p[a, d] := *chain[a, _], *chain[_, d]
        |p[a, d] := p[a, b], *chain[b, d]
        |?[a, d] := p[a, d]""".stripMargin
    for ((script, bytes, size) <- Seq((closure, 1000L, 435), (pairs, 4000L, 841))) {
      val (sparkRows, sparkStats, _) = Knee.withLimits(Knee.FixpointRows -> 0L)(
        runBudget(script, 30, Long.MaxValue) match { case (r, s, l, _, _) => (r, s, l) })
      val (rows, stats, lines, rounds, copies) = runBudget(script, 30, bytes)
      assert(sparkRows.size == size)
      assert(rows == sparkRows && stats == sparkStats)
      assert(copies == 1 && rounds == 0 && lines.isEmpty, (copies, rounds, lines))
      val (freeRows, _, _, freeRounds, _) = runBudget(script, 30, Long.MaxValue)
      assert(freeRows == sparkRows && freeRounds > 0, "unpinned, the same fixpoint runs on the driver")
    }
  }

  test("an error the driver raises on a binding Spark prunes hands the round to Spark") {
    // `x` is in no head: Spark's optimized plan never adds, the driver's
    // analyzed plan overflows on it. The chain is a range, not local rows:
    // Spark folds a projection over local rows before it prunes columns
    def run(bound: String, limit: Long): (Set[Seq[Any]], Seq[Map[String, Long]], Int) =
      Knee.withLimits(Knee.FixpointRows -> limit) {
        val db = new CozoDb(spark)
        db.registerTable("chain", spark.range(1, 12).select($"id".as("fr"), ($"id" + 1).as("to")),
          Seq("fr", "to"))
        val rows = db.run(
          s"""r[a, b] := *chain[a, b], x = $bound + a
             |r[a, c] := r[a, b], *chain[b, c]
             |?[a, b] := r[a, b]""".stripMargin).collect().map(_.toSeq).toSet
        (rows, db.lastFixpointStats, db.driverFixpointRounds)
      }
    val (sparkRows, sparkStats, _) = run("9223372036854775807", 0L)
    val (rows, stats, rounds) = run("9223372036854775807", 10000L)
    assert(sparkRows.size == 66 && rows == sparkRows && stats == sparkStats)
    assert(rounds == 0, "round 0 was handed to Spark")
    val (plainRows, _, plainRounds) = run("1", 10000L)
    assert(plainRows == sparkRows && plainRounds > 0, "without the overflow the fixpoint runs on the driver")
  }

  test("a round the driver cannot evaluate (a union Spark widens) hands off to Spark at its start") {
    // round 0 derives longs, round 1 doubles: Spark widens the union
    val widening =
      """r[x] := *chain[x, _], x < 3
        |r[y] := r[x], x < 3, y = x + 0.5
        |?[y] := r[y]""".stripMargin
    val (sparkRows, sparkStats, _) = run(widening, 0L)
    val (rows, stats, lines) = run(widening, 10000L)
    assert(rows == sparkRows && stats == sparkStats)
    assert(sparkRows == Set(Seq(1.0), Seq(2.0), Seq(1.5), Seq(2.5), Seq(3.0)))
    assert(lines.isEmpty, lines) // handed off before any boundary gate
  }
}
