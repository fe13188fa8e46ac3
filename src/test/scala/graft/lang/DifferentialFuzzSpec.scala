package graft.lang

import graft.SparkFixture
import graft.plan.Knee
import org.scalatest.funsuite.AnyFunSuite

/** Differential fuzzing of the CozoScript front end: random
  * conjunctive queries (joins, arithmetic/comparison conditions,
  * negation, projection or aggregation heads) are rendered BOTH as a
  * script and as independent Spark SQL over the same tables, and the
  * result sets must match row-for-row. The SQL side never touches the
  * script compiler, so any divergence in join construction, condition
  * compilation, set semantics (dedup), or aggregation grouping
  * (aggregate over DISTINCT full bindings — Datalog set semantics)
  * surfaces as a failed seed with its program printed. Every query
  * runs on a db holding relation copies and on one without.
  */
class DifferentialFuzzSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark

  /** The fuzz tables on a db holding their relation copies (rules over
    * them run on the driver where it can), and on a db without copies
    * (`DriverIndexBytes -> 0`: every read on Spark), each with the limits
    * its runs take. */
  private lazy val dbs: Seq[(String, CozoDb, Seq[(Knee.Limit, Long)])] = {
    import spark.implicits._
    val t = (0 until 60).map(i => ((i % 13).toLong, ((i * 7) % 17).toLong, s"s${i % 5}"))
      .distinct.toDF("a", "b", "c")
    val s2 = (0 until 40).map(i => ((i % 17).toLong, ((i * 3) % 11).toLong))
      .distinct.toDF("x", "y")
    t.createOrReplaceTempView("fuzz_t")
    s2.createOrReplaceTempView("fuzz_s2")
    def mk(): CozoDb = {
      val d = new CozoDb(spark)
      d.registerTable("t", t, Seq("a", "b", "c"))
      d.registerTable("s2", s2, Seq("x", "y"))
      d
    }
    val held = mk()
    assert(held.store.relationCopy("t").isDefined && held.store.relationCopy("s2").isDefined)
    Seq(("copies", held, Nil), ("no copies", mk(), Seq(Knee.DriverIndexBytes -> 0L)))
  }

  /** `script`'s rows on each db of [[dbs]], by the db's name. */
  private def runAll(script: String): Seq[(String, Seq[org.apache.spark.sql.Row])] =
    dbs.map { case (name, d, limits) => name -> Knee.withLimits(limits: _*)(d.run(script).collect().toSeq) }

  private def norm(rows: Seq[org.apache.spark.sql.Row]): Set[Seq[Any]] =
    rows.map(_.toSeq.map {
      case n: java.lang.Number => BigDecimal(n.doubleValue()).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      case other => other
    }).toSet // set compare: both sides are set-semantics results

  test("random conjunctive/aggregate queries agree with independent SQL") {
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    for (seed <- 0 until 120) {
      val rnd = new scala.util.Random(seed * 1337 + 7)
      val useJoin = rnd.nextBoolean()
      val useNeg = !useJoin && rnd.nextInt(4) == 0
      val numericVars = Seq("a", "b") ++ (if (useJoin) Seq("y") else Nil)
      val allVars = numericVars :+ "c"

      def numExpr(): String = rnd.nextInt(4) match {
        case 0 => numericVars(rnd.nextInt(numericVars.length))
        case 1 => rnd.nextInt(20).toString
        case 2 => s"${numericVars(rnd.nextInt(numericVars.length))} + ${numericVars(rnd.nextInt(numericVars.length))}"
        case _ => s"${numericVars(rnd.nextInt(numericVars.length))} * ${1 + rnd.nextInt(3)}"
      }
      val ops = Seq("<", "<=", ">", ">=", "==", "!=")
      def cond(): String =
        if (rnd.nextInt(5) == 0) s"c == 's${rnd.nextInt(5)}'"
        else s"${numExpr()} ${ops(rnd.nextInt(ops.length))} ${numExpr()}"
      val conds = (0 until rnd.nextInt(3)).map { _ =>
        if (rnd.nextInt(4) == 0) s"(${cond()} or ${cond()})" else cond()
      }

      val bodyScript = new StringBuilder("*t[a, b, c]")
      if (useJoin) bodyScript ++= ", *s2[b, y]"
      if (useNeg) bodyScript ++= ", not *s2[b, _]"
      conds.foreach(c => bodyScript ++= s", $c")

      val sqlFrom = new StringBuilder(
        "FROM (SELECT a, b, c FROM fuzz_t) t")
      if (useJoin) sqlFrom ++= " JOIN (SELECT x, y FROM fuzz_s2) s2 ON t.b = s2.x"
      val sqlConds = conds.map(_.replace("==", "=")) ++
        (if (useNeg) Seq("b NOT IN (SELECT x FROM fuzz_s2)") else Nil)
      val sqlWhere = if (sqlConds.isEmpty) "" else sqlConds.mkString(" WHERE ", " AND ", "")
      // distinct FULL bindings = the body's set semantics
      val bindingVars = allVars
      val sqlBindings =
        s"SELECT DISTINCT ${bindingVars.mkString(", ")} ${sqlFrom.toString}$sqlWhere"

      val aggregate = rnd.nextBoolean()
      val chain = !aggregate && rnd.nextInt(3) == 0
      val (script, sql) =
        if (chain) {
          // two-rule chain: r projects the body, ? filters r again —
          // exercises rule-to-rule resolution + per-rule set semantics
          val proj = rnd.shuffle(numericVars).take(2)
          val outer = s"${proj.head} ${ops(rnd.nextInt(ops.length))} ${rnd.nextInt(15)}"
          (s"r[${proj.mkString(", ")}] := ${bodyScript.toString}\n" +
            s"?[${proj.head}] := r[${proj.mkString(", ")}], $outer",
            s"SELECT DISTINCT ${proj.head} FROM (SELECT DISTINCT ${proj.mkString(", ")} " +
              s"FROM ($sqlBindings)) WHERE ${outer.replace("==", "=")}")
        } else if (!aggregate) {
          val proj = rnd.shuffle(allVars).take(1 + rnd.nextInt(3))
          (s"?[${proj.mkString(", ")}] := ${bodyScript.toString}",
            s"SELECT DISTINCT ${proj.mkString(", ")} FROM ($sqlBindings)")
        } else {
          val g = allVars(rnd.nextInt(allVars.length))
          val vChoices = numericVars.filterNot(_ == g)
          val v = if (vChoices.isEmpty) numericVars.head else vChoices(rnd.nextInt(vChoices.length))
          val aggs = Seq("sum", "min", "max", "count", "mean", "count_unique")
          val a = aggs(rnd.nextInt(aggs.length))
          val sqlAgg = a match {
            case "mean" => s"avg($v)"
            case "count_unique" => s"count(DISTINCT $v)"
            case other => s"$other($v)"
          }
          (s"?[$g, $a($v)] := ${bodyScript.toString}",
            s"SELECT $g, $sqlAgg AS $v FROM ($sqlBindings) GROUP BY $g")
        }

      try {
        val runs = runAll(script) // first: it registers the SQL side's views
        val want = norm(spark.sql(sql).collect().toSeq)
        for ((name, rows) <- runs) {
          val got = norm(rows)
          if (got != want)
            failures += s"seed $seed ($name):\n  script: $script\n  sql: $sql\n  " +
              s"only-script: ${(got -- want).take(3)}\n  only-sql: ${(want -- got).take(3)}"
        }
      } catch {
        case e: Throwable =>
          failures += s"seed $seed THREW ${e.getClass.getSimpleName}: ${e.getMessage}\n  script: $script\n  sql: $sql"
      }
    }
    assert(failures.isEmpty, s"${failures.length} diverging seeds:\n${failures.mkString("\n")}")
  }

  test("random self-join/unification/sorted queries agree with independent SQL") {
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    for (seed <- 0 until 80) {
      val rnd = new scala.util.Random(seed * 7919 + 3)
      val selfJoin = rnd.nextBoolean()
      // base bindings: t[a, b, c] (+ second hop t[b, d, e])
      val numericVars = Seq("a", "b") ++ (if (selfJoin) Seq("d") else Nil)

      val unify = rnd.nextBoolean()
      val unifyExpr = s"${numericVars(rnd.nextInt(numericVars.length))} * ${1 + rnd.nextInt(3)}" +
        s" + ${numericVars(rnd.nextInt(numericVars.length))}"
      val condVar = numericVars(rnd.nextInt(numericVars.length))
      val condConst = rnd.nextInt(15)
      val cond = s"$condVar < $condConst"

      val body = new StringBuilder("*t[a, b, c]")
      if (selfJoin) body ++= ", *t[b, d, e]"
      if (unify) body ++= s", v = $unifyExpr"
      body ++= s", $cond"

      val projPool = numericVars ++ Seq("c") ++ (if (unify) Seq("v") else Nil)
      val proj = rnd.shuffle(projPool).take(2).sorted
      val sortKey = proj(rnd.nextInt(proj.length))
      val desc = rnd.nextBoolean()
      val limit = 3 + rnd.nextInt(8)

      val script = s"?[${proj.mkString(", ")}] := ${body.toString}\n" +
        s":sort ${if (desc) "-" else ""}$sortKey\n:limit $limit"

      // column names are globally unique across the two table aliases
      // (t: a,b,c; t2: a2,d,e), so everything stays unqualified
      val selectCols = proj.map(p => if (p == "v") s"$unifyExpr AS v" else p)
        .mkString(", ")
      val sqlFrom = "FROM (SELECT * FROM fuzz_t) t" +
        (if (selfJoin) " JOIN (SELECT a AS a2, b AS d, c AS e FROM fuzz_t) t2 ON t2.a2 = t.b" else "")
      // the script runner adds every non-explicit projected column as an
      // ascending tie-breaker, making the limited prefix deterministic —
      // the SQL mirrors that exactly
      val tieBreak = proj.filterNot(_ == sortKey)
      val orderBy = (s"$sortKey ${if (desc) "DESC" else "ASC"}" +: tieBreak.map(c => s"$c ASC"))
        .mkString(", ")
      val sql =
        s"""SELECT * FROM (SELECT DISTINCT $selectCols $sqlFrom WHERE $cond)
           |ORDER BY $orderBy LIMIT $limit""".stripMargin
      try {
        val runs = runAll(script)
        val want = spark.sql(sql).collect().toSeq.map(_.toSeq.map {
          case n: java.lang.Number => n.doubleValue(); case o => o })
        for ((name, rows) <- runs) {
          val got = rows.map(_.toSeq.map { case n: java.lang.Number => n.doubleValue(); case o => o })
          if (got != want) // ORDERED compare: sort+limit must agree row-for-row
            failures += s"seed $seed ($name):\n  script: ${script.replace("\n", " ")}\n  sql: ${sql.replace("\n", " ")}\n  got: ${got.take(4)}\n  want: ${want.take(4)}"
        }
      } catch {
        case e: Throwable =>
          failures += s"seed $seed THREW ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}\n  script: ${script.replace("\n", " ")}\n  sql: ${sql.replace("\n", " ")}"
      }
    }
    assert(failures.isEmpty, s"${failures.length} diverging seeds:\n${failures.mkString("\n")}")
  }
}
