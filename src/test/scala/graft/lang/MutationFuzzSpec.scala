package graft.lang

import graft.SparkFixture
import graft.plan.Knee
import org.scalatest.funsuite.AnyFunSuite

/** Differential fuzz of the keyed mutation sinks (program.rs:195-205,
  * stored.rs:44-207): random op sequences — :put / :insert / :update
  * (each non-key column subset) / :rm / :delete — against a naive
  * Map[key, (a, b)] model, checking both the final relation state and
  * every error branch (insert on existing key, update on missing key —
  * the reference's "key to update does not exist", stored.rs:590-597 —
  * delete on missing key), with state UNCHANGED after a failed op. The
  * key pool holds NULL, an ordinary key value in cozo. Multi-row steps
  * often repeat a key: a put or update keeps, per key, the row a
  * tuple-by-tuple upsert of the sorted rows writes last (the greatest),
  * and an insert whose rows repeat a key raises.
  *
  * The model runs against both write paths: the default bound (small
  * writes go to the relation's write overlay), a bound of 0 (every
  * write folds into the base) and a bound of 3 with longer chains, so
  * overlays fill and fold mid-sequence. After every op, each key of the
  * pool is also read by key: such a read builds the relation's driver
  * copy, so later writes patch that copy (or retire it as they fold).
  */
class MutationFuzzSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark

  /** `body` with write overlays and const rules bounded to `bound` rows
    * (None: the default bounds), and with no relation copy unless `copies`. */
  private def underBound[A](bound: Option[Int], copies: Boolean = true)(body: => A): A =
    Knee.withLimits(bound.toSeq.flatMap(b =>
      Seq(Knee.PatchKeys -> b.toLong, Knee.LocalRows -> b.toLong)) ++
      Option.when(!copies)(Knee.DriverIndexBytes -> 0L): _*)(body)

  /** Divergences of `seeds` random chains of `steps` ops from the model,
    * on databases whose overlay bound is `bound` (None: the default),
    * with relation copies unless `copies` is false. */
  private def fuzz(seeds: Int, steps: Int, bound: Option[Int], copies: Boolean = true): Seq[String] = underBound(bound, copies) {
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    for (seed <- 0 until seeds) {
      val rnd = new scala.util.Random(seed * 30011 + 101)
      val db = new CozoDb(spark)
      db.run(s"?[k, a, b] <- [[0, 0, 0]] :create m$seed {k => a, b}")
      val model = scala.collection.mutable.Map(Option(0L) -> ((0L, 0L)))
      val log = scala.collection.mutable.ArrayBuffer.empty[String]
      val pool = None +: (0L until 6L).map(Option(_))
      for (step <- 0 until steps) {
        val k = Option(rnd.nextInt(7).toLong).filter(_ < 6)
        val kl = k.fold("null")(_.toString)
        val a = rnd.nextInt(100).toLong
        val b = rnd.nextInt(100).toLong
        val op = rnd.nextInt(9)
        // two or three rows over two keys: the multi-row steps' rows
        val multi = {
          val ks = Seq(k, Option(rnd.nextInt(7).toLong).filter(_ < 6))
          Seq.fill(2 + rnd.nextInt(2))(
            (ks(rnd.nextInt(2)), rnd.nextInt(100).toLong, rnd.nextInt(100).toLong)).distinct
        }
        def lits(cols: ((Option[Long], Long, Long)) => Seq[Any]) =
          multi.map(r => cols(r).map(_.toString).mkString("[", ", ", "]")).mkString(", ")
        def key(r: (Option[Long], Long, Long)) = r._1.fold("null")(_.toString)
        val (script, apply): (String, () => Unit) = op match {
          case 0 =>
            (s"?[k, a, b] <- [[$kl, $a, $b]] :put m$seed {k => a, b}",
              () => model(k) = ((a, b)))
          case 1 =>
            (s"?[k, a, b] <- [[$kl, $a, $b]] :insert m$seed {k => a, b}",
              () => {
                if (model.contains(k)) throw new IllegalStateException("dup")
                model(k) = ((a, b))
              })
          case 2 =>
            (s"?[k, a] <- [[$kl, $a]] :update m$seed {k, a}",
              () => {
                if (!model.contains(k)) throw new IllegalStateException("missing")
                model(k) = ((a, model(k)._2))
              })
          case 3 =>
            (s"?[k, b] <- [[$kl, $b]] :update m$seed {k, b}",
              () => {
                if (!model.contains(k)) throw new IllegalStateException("missing")
                model(k) = ((model(k)._1, b))
              })
          case 4 =>
            (s"?[k] <- [[$kl]] :rm m$seed {k}", () => { model.remove(k); () })
          case 6 =>
            (s"?[k, a, b] <- [${lits(r => Seq(key(r), r._2, r._3))}] :put m$seed {k => a, b}",
              () => multi.groupBy(_._1).foreach { case (kk, rs) => model(kk) = rs.map(r => (r._2, r._3)).max })
          case 7 =>
            (s"?[k, a, b] <- [${lits(r => Seq(key(r), r._2, r._3))}] :insert m$seed {k => a, b}",
              () => {
                if (multi.map(_._1).distinct.length < multi.length || multi.exists(r => model.contains(r._1)))
                  throw new IllegalStateException("dup")
                multi.foreach(r => model(r._1) = ((r._2, r._3)))
              })
          case 8 =>
            val rows = multi.map(r => (r._1, r._2)).distinct
            (s"?[k, a] <- [${rows.map(r => s"[${r._1.fold("null")(_.toString)}, ${r._2}]").mkString(", ")}] " +
              s":update m$seed {k, a}",
              () => {
                if (rows.exists(r => !model.contains(r._1))) throw new IllegalStateException("missing")
                rows.groupBy(_._1).foreach { case (kk, rs) => model(kk) = ((rs.map(_._2).max, model(kk)._2)) }
              })
          case 5 =>
            (s"?[k] <- [[$kl]] :delete m$seed {k}",
              () => {
                if (!model.contains(k)) throw new IllegalStateException("missing")
                model.remove(k); ()
              })
        }
        val modelErr = scala.util.Try(apply()).isFailure
        val dbErr = scala.util.Try(db.run(script)).isFailure
        log += s"$script ${if (modelErr) "[expect-error]" else ""}"
        if (modelErr != dbErr) {
          failures += s"seed $seed step $step: model ${if (modelErr) "errors" else "succeeds"} " +
            s"but db ${if (dbErr) "errors" else "succeeds"}\n  ${log.mkString("\n  ")}"
        }
        val got = db.run(s"?[k, a, b] := *m$seed{k, a, b}").collect()
          .map(r => Option(r.get(0)).map(_.asInstanceOf[Long]) -> ((r.getLong(1), r.getLong(2))))
        if (got.length != got.toMap.size || got.toMap != model.toMap) {
          failures += s"seed $seed step $step: state diverged\n  got:   ${got.toSeq}\n  model: ${model.toMap}\n  ${log.mkString("\n  ")}"
        }
        // a read by key: the first builds the relation's copy, and each
        // later write patches it (or, when it folds, retires it)
        for (key <- pool) {
          val at = db.run(s"?[a, b] := *m$seed{k: ${key.fold("null")(_.toString)}, a, b}").collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSeq
          if (at != model.get(key).toSeq)
            failures += s"seed $seed step $step: read of key $key diverged\n  got:   $at\n  model: ${model.get(key)}\n  ${log.mkString("\n  ")}"
        }
        // a key-range aggregate: with a copy, a slice of it folded on the driver
        val inRange = model.toSeq.collect { case (Some(kk), v) if kk >= 1 && kk < 4 => v }
        val wantAgg = (inRange.length.toLong, Option.when(inRange.nonEmpty)(inRange.map(_._1).sum),
          Option.when(inRange.nonEmpty)(inRange.map(_._2).max))
        val gotAgg = db.run(s"?[count(k), sum(a), max(b)] := *m$seed{k, a, b}, k >= 1, k < 4").collect().toSeq
          .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2))))
        if (gotAgg != Seq(wantAgg))
          failures += s"seed $seed step $step: range aggregate diverged\n  got:   $gotAgg\n  model: $wantAgg\n  ${log.mkString("\n  ")}"
      }
    }
    failures.toSeq
  }

  private def assertNone(failures: Seq[String]): Unit =
    assert(failures.isEmpty, s"${failures.length} divergences:\n${failures.take(3).mkString("\n\n")}")

  test("random put/insert/update/rm/delete sequences match a naive keyed model (25 seeds × 14 ops)") {
    assertNone(fuzz(25, 14, None))
  }

  test("the keyed model holds when every write folds (overlay bound 0)") {
    assertNone(fuzz(25, 14, Some(0)))
  }

  test("the keyed model holds when chains fill and fold a 3-key overlay") {
    assertNone(fuzz(8, 40, Some(3)))
  }

  test("the keyed model holds with no relation copy (every read on Spark)") {
    assertNone(fuzz(10, 14, None, copies = false))
  }

  /** Sorted rows of `script` on a default-bound and a bound-0 database
    * after the same `setup` scripts. */
  private def bothPaths(setup: Seq[String], script: String): (Seq[String], Seq[String]) = {
    def on(bound: Option[Int]) = underBound(bound) {
      val db = new CozoDb(spark)
      setup.foreach(db.run(_))
      db.run(script).collect().map(_.toSeq.mkString("|")).toSeq.sorted
    }
    (on(None), on(Some(0)))
  }

  test("a widening literal and two rows for one key give the folded result") {
    // a Long into a Double column keeps the column Double
    val (a, b) = bothPaths(Seq(
      "?[k, p] <- [[1, 1.5], [2, 2.5]] :create w {k => p}",
      "?[k, p] <- [[1, 7]] :put w {k => p}"), "?[k, p] := *w{k, p}")
    assert(a == b && a == Seq("1|7.0", "2|2.5"))
    // a Double into a Long column widens the column (the write folds)
    val (c, d) = bothPaths(Seq(
      "?[k, n] <- [[1, 1], [2, 2]] :create w {k => n}",
      "?[k, n] <- [[1, 0.5]] :put w {k => n}"), "?[k, n] := *w{k, n}")
    assert(c == d && c == Seq("1|0.5", "2|2.0"))
    // one delta, two rows for one key: the put keeps the row written
    // last in sorted order, on both paths
    val (e, f) = bothPaths(Seq(
      "?[k, v] <- [[1, 'a'], [2, 'b']] :create w {k => v}",
      "?[k, v] <- [[1, 'y'], [1, 'x']] :put w {k => v}"), "?[k, v] := *w{k, v}")
    assert(e == f && e == Seq("1|y", "2|b"))
  }

  test("update on a missing key errors with the reference's message; state unchanged") {
    val db = new CozoDb(spark)
    db.run("?[k, a, b] <- [[1, 2, 3]] :create um {k => a, b}")
    val e = intercept[Exception](db.run("?[k, a] <- [[9, 7]] :update um {k, a}"))
    assert(e.getMessage.contains("key to update does not exist"))
    assert(db.run("?[k, a, b] := *um{k, a, b}").collect().map(_.toSeq).toSeq ==
      Seq(Seq(1L, 2L, 3L)))
  }
}
