package graft.pipeline

import graft.SparkFixture
import graft.plan.Knee
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Model-based quality filtering (pipeline/Classifier.scala): the
  * distributed batch-GD trainer is checked against a from-scratch
  * driver-side Scala reference (own tokenizer, own md5 bucketing, own
  * gradient arithmetic — shares no code with the operator), plus the
  * semantic property the method exists for (a planted quality signal
  * separates scores), the loss trace, zero-token scoring, and the
  * script-rule surface.
  */
class ClassifierSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark

  // ——— independent reference implementation (driver-side Scala) ———
  private def refTokens(text: String): Seq[String] =
    Option(text).getOrElse("").toLowerCase
      .split("[^\\p{L}\\p{N}]+").filter(_.nonEmpty).toSeq
  private def refBucket(t: String, buckets: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 8), 16) % buckets
  }
  private def rnd(x: Double, s: Int): Double =
    BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
  private def refGrams(text: String, ngrams: Int): Seq[String] = {
    val ts = refTokens(text)
    if (ngrams <= 1) ts
    else ts ++ ts.sliding(2).filter(_.size == 2).map(_.mkString(" "))
  }
  private def refFeats(text: String, buckets: Int,
                       ngrams: Int = 1): Map[Long, Double] = {
    val ts = refGrams(text, ngrams)
    val tf = if (ts.isEmpty) Map.empty[Long, Double]
      else ts.groupBy(refBucket(_, buckets))
        .map { case (b, v) => b -> v.size.toDouble / ts.size }
    tf + (-1L -> 1.0)
  }
  private def refTrain(docs: Seq[(Long, String, Double)], buckets: Int,
                       iters: Int, lr: Double,
                       ngrams: Int = 1): (Map[Long, Double], Seq[Double]) = {
    val feats = docs.map { case (id, t, y) => (id, refFeats(t, buckets, ngrams), y) }
    val n = docs.size.toDouble
    var w = Map.empty[Long, Double]
    var losses = Vector.empty[Double]
    for (_ <- 0 until iters) {
      val ps = feats.map { case (_, f, y) =>
        val m = f.toSeq.map { case (b, x) => x * w.getOrElse(b, 0.0) }.sum
        (f, y, rnd(1.0 / (1.0 + math.exp(-m)), 8))
      }
      losses :+= ps.map { case (_, y, p0) =>
        val p = math.min(math.max(p0, 1e-8), 1 - 1e-8)
        -(y * math.log(p) + (1 - y) * math.log(1 - p))
      }.sum / n
      val grad = ps.flatMap { case (f, y, p) =>
        f.toSeq.map { case (b, x) => b -> (p - y) * x } }
        .groupBy(_._1)
        .map { case (b, v) => b -> rnd(v.map(_._2).sum / n, 6) }
      w = grad.map { case (b, g) => b -> rnd(w.getOrElse(b, 0.0) - lr * g, 6) }
    }
    (w, losses)
  }
  private def refScore(text: String, w: Map[Long, Double], buckets: Int): Double = {
    val m = refFeats(text, buckets).toSeq
      .map { case (b, x) => x * w.getOrElse(b, 0.0) }.sum
    rnd(1.0 / (1.0 + math.exp(-m)), 6)
  }

  // deterministic corpus with a planted quality signal: positives carry
  // the marker token, everything else is shared vocabulary noise
  private def corpus(n: Int): Seq[(Long, String, Double)] = {
    val r = new scala.util.Random(42)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    (0 until n).map { i =>
      val noise = Seq.fill(8 + r.nextInt(8))(vocab(r.nextInt(vocab.size)))
      val pos = i % 3 == 0
      // marker at ~1/4 token frequency: strong enough that 20 full-batch
      // GD iterations at lr 5 produce a clear score gap (tf features are
      // 1/n_tokens-scaled, so per-iteration weight motion is small)
      val words = if (pos) r.shuffle(noise ++ Seq.fill(4)("zzgood")) else noise
      (i.toLong, words.mkString(" "), if (pos) 1.0 else 0.0)
    }
  }

  test("distributed trainer matches the independent reference bit-for-bit after pins") {
    import spark.implicits._
    val docs = corpus(200)
    val df = docs.toDF("id", "text", "label")
    // ClassifierFeatureBytes = 0 forces the distributed treeAggregate
    // loop (the default would take the r13 driver knee on this corpus)
    val model = Knee.withLimits(Knee.ClassifierFeatureBytes -> 0L)(
      Classifier.train(df, "id", "text", "label", buckets = 32, iters = 3, lr = 2.0))
    val (refW, refLosses) = refTrain(docs, buckets = 32, iters = 3, lr = 2.0)
    assert(model.weights.keySet == refW.keySet)
    for ((b, w) <- refW)
      assert(math.abs(model.weights(b) - w) <= 1.01e-6, s"bucket $b")
    assert(model.losses.size == 3)
    for ((l, rl) <- model.losses.zip(refLosses))
      assert(math.abs(l - rl) <= 1e-9)

    val scores = Classifier.score(df, "id", "text", model)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for ((id, t, _) <- docs)
      assert(math.abs(scores(id) - refScore(t, refW, 32)) <= 1.01e-6, s"doc $id")
  }

  test("driver-knee trainer equals the distributed treeAggregate loop") {
    import spark.implicits._
    for (ng <- Seq(1, 2)) {
      val docs = corpus(150)
      val df = docs.toDF("id", "text", "label")
      val drv = Classifier.train(df, "id", "text", "label",
        buckets = 32, iters = 4, lr = 2.0, ngrams = ng)
      val dist = Knee.withLimits(Knee.ClassifierFeatureBytes -> 0L)(Classifier.train(df, "id",
        "text", "label", buckets = 32, iters = 4, lr = 2.0, ngrams = ng))
      assert(drv.weights.keySet == dist.weights.keySet, s"ngrams=$ng")
      for ((b, w) <- dist.weights)
        assert(math.abs(drv.weights(b) - w) <= 1.01e-6, s"ngrams=$ng bucket $b")
      assert(drv.losses.size == dist.losses.size)
      for ((l, dl) <- drv.losses.zip(dist.losses))
        assert(math.abs(l - dl) <= 1e-9, s"ngrams=$ng loss")
    }
  }

  test("planted quality signal separates scores and the loss trace decreases") {
    import spark.implicits._
    val docs = corpus(200)
    val df = docs.toDF("id", "text", "label")
    val model = Classifier.train(df, "id", "text", "label",
      buckets = 64, iters = 20, lr = 5.0)
    assert(model.losses.head > model.losses.last,
      s"loss did not decrease: ${model.losses}")
    assert(model.losses.last < 0.9 * model.losses.head)
    val scores = Classifier.score(df, "id", "text", model)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val pos = docs.filter(_._3 == 1.0).map(d => scores(d._1))
    val neg = docs.filter(_._3 == 0.0).map(d => scores(d._1))
    assert(pos.sum / pos.size > neg.sum / neg.size + 0.2,
      s"no separation: pos=${pos.sum / pos.size} neg=${neg.sum / neg.size}")
    // AUC over all (pos, neg) pairs
    val wins = (for (p <- pos; q <- neg) yield
      if (p > q) 1.0 else if (p == q) 0.5 else 0.0).sum
    assert(wins / (pos.size.toDouble * neg.size) > 0.9)
  }

  test("bigram trainer (ngrams=2) matches the independent reference bit-for-bit") {
    import spark.implicits._
    val docs = corpus(150)
    val df = docs.toDF("id", "text", "label")
    val model = Classifier.train(df, "id", "text", "label",
      buckets = 32, iters = 3, lr = 2.0, ngrams = 2)
    assert(model.ngrams == 2)
    val (refW, refLosses) = refTrain(docs, buckets = 32, iters = 3, lr = 2.0, ngrams = 2)
    assert(model.weights.keySet == refW.keySet)
    for ((b, w) <- refW)
      assert(math.abs(model.weights(b) - w) <= 1.01e-6, s"bucket $b")
    for ((l, rl) <- model.losses.zip(refLosses))
      assert(math.abs(l - rl) <= 1e-9)
    val scores = Classifier.score(df, "id", "text", model)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for ((id, t, _) <- docs) {
      val m = refFeats(t, 32, ngrams = 2).toSeq
        .map { case (b, x) => x * refW.getOrElse(b, 0.0) }.sum
      assert(math.abs(scores(id) - rnd(1.0 / (1.0 + math.exp(-m)), 6)) <= 1.01e-6,
        s"doc $id")
    }
  }

  test("bigrams separate a word-ORDER-only signal that unigrams cannot see") {
    import spark.implicits._
    // positives and negatives share the exact same token MULTISET per
    // doc; only adjacency differs ("zz good" appears in positives only)
    val r = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta")
    val docs = (0 until 200).map { i =>
      val noise = Seq.fill(6)(vocab(r.nextInt(vocab.size)))
      val pos = i % 2 == 0
      val words =
        if (pos) noise.take(3) ++ Seq("zz", "good") ++ noise.drop(3)
        else Seq("zz") ++ noise.take(3) ++ Seq("good") ++ noise.drop(3)
      (i.toLong, words.mkString(" "), if (pos) 1.0 else 0.0)
    }
    val df = docs.toDF("id", "text", "label")
    def aucOf(ngrams: Int): Double = {
      val m = Classifier.train(df, "id", "text", "label",
        buckets = 256, iters = 20, lr = 5.0, ngrams = ngrams)
      val scored = Classifier.score(df, "id", "text", m)
        .join(df.select(col("id"), col("label")), "id")
      Classifier.auc(scored, "score", "label").head().getDouble(0)
    }
    val uni = aucOf(1)
    val bi = aucOf(2)
    assert(bi > 0.95, s"bigram AUC too low: $bi")
    assert(uni < 0.75, s"unigram AUC should be near chance on an order-only signal: $uni")
  }

  test("held-out AUC: train on split A, evaluate on unseen split B >= 0.85") {
    import spark.implicits._
    val docs = corpus(400)
    val df = docs.toDF("id", "text", "label")
    val trainDf = df.filter(col("id") % 5 < 3)
    val evalDf = df.filter(col("id") % 5 >= 3)
    val model = Classifier.train(trainDf, "id", "text", "label",
      buckets = 64, iters = 20, lr = 5.0, ngrams = 2)
    val scored = Classifier.score(evalDf, "id", "text", model)
      .join(evalDf.select(col("id"), col("label")), "id")
    val auc = Classifier.auc(scored, "score", "label").head().getDouble(0)
    assert(auc > 0.85, s"held-out AUC $auc")
  }

  test("auc() matches naive all-pairs Mann-Whitney with ties") {
    import spark.implicits._
    val r = new scala.util.Random(11)
    // coarse score grid forces plenty of ties, including cross-class
    val rows = (0 until 300).map { i =>
      val y = if (r.nextBoolean()) 1.0 else 0.0
      val s = rnd((r.nextInt(10) + (if (y > 0) r.nextInt(4) else 0)) / 13.0, 6)
      (i.toLong, s, y)
    }
    val got = Classifier.auc(rows.toDF("id", "score", "y"), "score", "y")
      .head().getDouble(0)
    val pos = rows.filter(_._3 == 1.0).map(_._2)
    val neg = rows.filter(_._3 == 0.0).map(_._2)
    val naive = (for (p <- pos; q <- neg) yield
      if (p > q) 1.0 else if (p == q) 0.5 else 0.0).sum / (pos.size.toDouble * neg.size)
    assert(math.abs(got - naive) <= 1e-9, s"got $got naive $naive")
  }

  test("zero-token and null documents train and score at sigma(bias)") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta zzgood zzgood", 1.0), (2L, "alpha beta", 0.0),
      (3L, "", 0.0), (4L, "!!! ...", 0.0), (5L, null.asInstanceOf[String], 0.0))
    val df = docs.toDF("id", "text", "label")
    val model = Classifier.train(df, "id", "text", "label",
      buckets = 16, iters = 4, lr = 2.0)
    val scores = Classifier.score(df, "id", "text", model)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scores.size == 5)
    val sigmaBias = rnd(1.0 / (1.0 + math.exp(-model.weights(-1L))), 6)
    for (id <- Seq(3L, 4L, 5L))
      assert(math.abs(scores(id) - sigmaBias) <= 1.01e-6, s"doc $id")
    // the reference mirror agrees on the degenerate docs too
    val (refW, _) = refTrain(docs.map { case (i, t, y) => (i, t, y) }, 16, 4, 2.0)
    for ((b, w) <- refW)
      assert(math.abs(model.weights(b) - w) <= 1.01e-6, s"bucket $b")
  }

  test("QualityClassifier script rule trains on relation 0 and scores relation 1") {
    val db = new graft.lang.CozoDb(spark)
    db.run(
      """?[id, text, label] <- [
        |  [1, 'zzgood zzgood alpha beta', 1],
        |  [2, 'zzgood zzgood gamma delta', 1],
        |  [3, 'alpha beta gamma delta', 0],
        |  [4, 'delta alpha beta gamma', 0]
        |] :create labeled {id => text, label}""".stripMargin)
    db.run(
      """?[id, text] <- [[10, 'zzgood zzgood epsilon'], [11, 'epsilon zeta eta']]
        |:create unseen {id => text}""".stripMargin)
    val rows = db.run(
      """?[id, score] <~ QualityClassifier(*labeled[id, text, label],
        |  *unseen[id, text], iters: 20, lr: 5.0)""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rows.keySet == Set(10L, 11L))
    assert(rows(10L) > rows(11L) + 0.1,
      s"marker doc should outscore: $rows")
  }
}
