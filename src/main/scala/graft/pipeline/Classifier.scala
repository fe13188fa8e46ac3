package graft.pipeline

import graft.functions.{TextFunctions => TF}
import graft.plan.Knee
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Model-based quality filtering — the FineWeb-Edu / DCLM recipe: train
  * a linear classifier on hashed bag-of-token features over a LABELED
  * sample (LLM-judged quality, known-good vs known-bad sources, a
  * target language…), then score the whole corpus with the broadcast
  * weights and keep what clears a threshold. This is the step modern
  * curation pipelines run after dedup/decontamination and before
  * mixture balancing; fastText-style classifiers are exactly this
  * shape (a linear model over hashed n-gram features).
  *
  * Model: logistic regression. Every token hashes into one of
  * `buckets` feature slots (feature hashing — collisions are part of
  * the estimator); a document's feature value for bucket b is its term
  * frequency c_b / n_tokens (so total feature mass is 1 and batch
  * gradient descent is stable without per-feature scaling), plus a
  * constant bias feature in the reserved bucket -1. Training is full
  * batch gradient descent for a FIXED iteration count:
  * w ← w − lr · (1/N) Σ_d (σ(x_d·w) − y_d) x_d.
  *
  * Plan (Spark-first): the labeled sample is packed ONCE into
  * (id, y, feats: array⟨(b, x)⟩) — one aggregation — and materialized
  * as a persisted RDD of primitive feature arrays; every iteration is
  * then ONE `treeAggregate` job whose per-partition partial is a
  * (buckets+2)-slot double array (gradient per bucket + a mean-log-loss
  * rider) — margin/σ/gradient all happen in a single pass over the
  * partition with O(1) dense-array weight lookups, no Catalyst work and
  * no per-row shuffle (a Dataset re-planned per iteration was measured
  * driver-bound; re-collecting one Dataset is unsound because completed
  * shuffle map stages are reused across jobs). Weights live on the
  * driver between iterations and travel as a broadcast array — the
  * model is `buckets`+1 doubles, which is the point of feature hashing.
  * Labels are the expensive input, so the training set is assumed
  * sample-sized (≤ millions of rows); the 100 TB corpus only ever meets
  * the final weights in [[score]], a single zero-shuffle projection
  * pass.
  *
  * Engine-portability: buckets use the md5 hash ([[Sampling.md5Bucket]])
  * and every cross-engine float boundary is pinned — σ is rounded to 8
  * decimals, gradient sums and weights to 6 — so any engine (the
  * DuckDB driver oracle included) retrains the identical model and
  * reproduces every score bit-for-bit after rounding (same drift
  * argument as `text_perplexity` / `pipe_dsir`: un-rounded sums differ
  * only in addition order, ~1e-12 relative, far under the rounding
  * grid).
  *
  * Reference scope note: the reference engine has no model-training
  * surface; this operator is part of the beyond-reference LLM-pipeline
  * tier (as DSIR, BPE, decontamination).
  */
object Classifier {

  /** Trained model: weights keyed by feature bucket (-1 = bias) and the
    * per-iteration mean log-loss (losses.head is the loss of the
    * all-zero model = ln 2; training should decrease it).
    */
  final case class Model(buckets: Int, weights: Map[Long, Double],
                         losses: Seq[Double], ngrams: Int = 1)

  /** The hashed gram array: tokens, plus adjacent-pair "a b" strings
    * when `ngrams >= 2` — the published fastText recipe hashes word
    * bigrams into the SAME bucket space as unigrams (wordNgrams=2),
    * which is what lets a linear model see local word order. Pure
    * zero-shuffle column expression.
    */
  def gramsOf(textCol: Column, ngrams: Int): Column = {
    val toks = TF.tokens(textCol)
    if (ngrams <= 1) toks
    else {
      val bi = zip_with(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat(a, lit(" "), b))
      when(size(toks) >= 2, concat(toks, bi)).otherwise(toks)
    }
  }

  /** Hashed-feature relation (__id, __b, __x) for every document:
    * term-frequency features for each gram bucket (x = c_b / n_grams,
    * so total feature mass stays 1 with or without bigrams) plus the
    * bias feature (__b = -1, __x = 1) for EVERY document — zero-token
    * documents carry just the bias and still train/score.
    */
  def hashedFeatures(docs: DataFrame, idCol: String, textCol: String,
                     buckets: Int, ngrams: Int = 1): DataFrame = {
    val toks = docs.select(col(idCol).as("__id"),
      gramsOf(col(textCol), ngrams).as("__toks"))
    val tf = toks
      .select(col("__id"), size(col("__toks")).as("__n"),
        explode(col("__toks")).as("__t"))
      .groupBy(col("__id"), Sampling.md5Bucket(buckets, col("__t")).as("__b"))
      .agg((count(lit(1)) / first(col("__n"))).as("__x"))
    val bias = toks.select(col("__id"), lit(-1L).as("__b"), lit(1.0).as("__x"))
    tf.unionByName(bias)
  }

  private def javaMap(w: Map[Long, Double]): java.util.HashMap[Long, java.lang.Double] = {
    val jm = new java.util.HashMap[Long, java.lang.Double](w.size * 2 + 8)
    for ((k, v) <- w) jm.put(k, v)
    jm
  }

  private def round8(d: Double): Double = java.math.BigDecimal.valueOf(d)
    .setScale(8, java.math.RoundingMode.HALF_UP).doubleValue()
  private def round6(d: Double): Double = java.math.BigDecimal.valueOf(d)
    .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** The per-document GD step, SHARED by the distributed treeAggregate
    * seqOp and the driver-knee loop so the two engines are arithmetic-
    * identical per doc (they differ only in accumulation order):
    * margin → σ (rounded @8) → loss rider into acc(nb+1) → gradient
    * contributions into acc(bucket+1). */
  private def accumulate(acc: Array[Double], bs: Array[Long], xs: Array[Double],
                         y: Double, wa: Array[Double], nb: Int): Unit = {
    var m = 0.0
    var i = 0
    while (i < bs.length) { m += xs(i) * wa((bs(i) + 1).toInt); i += 1 }
    val p = round8(1.0 / (1.0 + math.exp(-m)))
    // clamp only guards ln at saturated σ, it never feeds training
    val pc = math.min(math.max(p, 1e-8), 1.0 - 1e-8)
    acc(nb + 1) += -(y * math.log(pc) + (1.0 - y) * math.log(1.0 - pc))
    i = 0
    while (i < bs.length) { acc((bs(i) + 1).toInt) += (p - y) * xs(i); i += 1 }
  }

  /** Driver-knee GD over the collected (id, grams, label) projection:
    * packing (the explode→groupBy→collect_list pipeline) happens here
    * with [[md5BucketOf]] — the exact mirror of Sampling.md5Bucket the
    * score UDF already relies on — and the GD loop replaces the
    * per-iteration treeAggregate jobs. Same accumulate() kernel, same
    * present-bucket weight carry, same rounding grid; only float
    * accumulation order differs (σ@8 / @6 rounding absorbs it, the
    * same argument the distributed shuffle aggregation made). */
  private def trainDriver(gr: DataFrame, buckets: Int, iters: Int,
                          lr: Double, ngrams: Int, n: Double): Model = {
    val nb = buckets
    val data = gr.collect().map { r =>
      val id = String.valueOf(r.get(0))
      val g = if (r.isNullAt(1)) null else r.getSeq[String](1)
      val fm = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      if (g != null) for (t <- g) fm(md5BucketOf(nb, t)) += 1
      val len = if (g == null) 0 else g.length
      val bkt = fm.keys.toArray.sorted
      // term-frequency features, bias (-1, 1.0) for EVERY doc — the
      // exact rows hashedFeatures built (x = c_b / n_grams)
      val bs = bkt :+ -1L
      val xs = bkt.map(b => fm(b).toDouble / len) :+ 1.0
      (id, bs, xs, r.getDouble(2))
    }.sortBy(_._1) // run-deterministic accumulation order
      .map(t => (t._2, t._3, t._4))
    val present: Array[Long] = data.iterator.flatMap(_._1.iterator).toSet.toArray.sorted
    var w = Map.empty[Long, Double]
    val losses = Seq.newBuilder[Double]
    for (_ <- 0 until iters) {
      val wArr = new Array[Double](nb + 1)
      for ((b, v) <- w) wArr((b + 1).toInt) = v
      val acc = new Array[Double](nb + 2)
      for ((bs, xs, y) <- data) accumulate(acc, bs, xs, y, wArr, nb)
      losses += acc(nb + 1) / n
      w = present.iterator.map { b =>
        val g = round6(acc((b + 1).toInt) / n)
        b -> BigDecimal(w.getOrElse(b, 0.0) - lr * g)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }.toMap
    }
    Model(buckets, w, losses.result(), ngrams)
  }

  /** Exact Scala mirror of [[Sampling.md5Bucket]]: first 8 hex chars of
    * md5 = first 4 bytes as an unsigned 32-bit int, mod buckets. */
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private def md5BucketOf(buckets: Int, t: String): Long = {
    val h = md5Local.get().digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val v = ((h(0) & 0xFFL) << 24) | ((h(1) & 0xFFL) << 16) |
      ((h(2) & 0xFFL) << 8) | (h(3) & 0xFFL)
    v % buckets
  }

  /** Train on a labeled sample. `labelCol` must be 0/1 (numeric or
    * boolean). Returns the weight map (bucket → weight, -1 = bias) and
    * the loss trace. The sample is packed+persisted once; each
    * iteration is one sample-linear treeAggregate job against it.
    */
  def train(sample: DataFrame, idCol: String, textCol: String,
            labelCol: String, buckets: Int = 64, iters: Int = 5,
            lr: Double = 2.0, ngrams: Int = 1): Model = {
    // Driver-knee probe (r13, guide §1 job floor): (id, grams, label)
    // is a ZERO-SHUFFLE projection; one agg job measures the doc count
    // and the collected payload (gram count + character volume). Under
    // the byte gate — every bounded-sampleN deployment shape, by
    // construction — the sample is collected ONCE and both the packing
    // (explode→groupBy→collect_list pipeline) and the GD loop (20
    // treeAggregate jobs for the holdout query) run locally, hashed
    // with the exact md5 mirror the score UDF already uses. Above the
    // gate (an unbounded 100 TB training set) the distributed pipeline
    // below runs unchanged. Per-doc arithmetic is the SHARED
    // accumulate() kernel, so the two engines differ only in float
    // summation order — under the @6/@8 rounding grid documented
    // above; ClassifierSpec pins driver==distributed weights.
    val gr = sample.select(col(idCol).as("__id"),
      gramsOf(col(textCol), ngrams).as("__g"),
      col(labelCol).cast("double").as("__y"))
    val st = gr.agg(count(lit(1)).as("__n"),
      sum(size(col("__g"))).as("__grams"),
      sum(aggregate(col("__g"), lit(0L), (a, x) => a + length(x))).as("__chars")).head()
    val n = st.getLong(0).toDouble
    val gramsN = if (st.isNullAt(1)) 0L else st.getLong(1)
    val charsN = if (st.isNullAt(2)) 0L else st.getLong(2)
    if (Knee.gate("classifierTrain", gramsN * 16L + charsN * 2L, Knee.ClassifierFeatureBytes))
      return trainDriver(gr, buckets, iters, lr, ngrams, n)
    val y = sample.select(col(idCol).as("__id"),
      col(labelCol).cast("double").as("__y"))
    val packed = hashedFeatures(sample, idCol, textCol, buckets, ngrams)
      .groupBy("__id")
      .agg(collect_list(struct(col("__b"), col("__x"))).as("__f"))
      .join(y, "__id")
      .persist()
    packed.count() // materialize under the persist before the RDD loop

    // GD iterations run as ONE RDD treeAggregate each — zero Catalyst
    // work per iteration. The Dataset loop this replaces built a fresh
    // plan every iteration (analysis + optimization + codegen made the
    // 20-iteration train driver-bound: 7.6 core-seconds of task work
    // under 15 s wall at sf0.1); re-collecting ONE Dataset is not an
    // option because Spark reuses completed shuffle map stages across
    // jobs on the same DAG — iteration 2 would read iteration 1's
    // partials. Each doc's margin is an O(1) dense-array lookup per
    // gram (element_at on a typedLit map is a LINEAR scan — |W|
    // comparisons per gram at 8192 buckets); the per-partition partial
    // is one (buckets+2)-slot double array (grads + loss rider), so a
    // 1000-executor corpus ships KBs per partition and treeAggregate's
    // depth-2 merge keeps the driver out of the hot path. σ stays
    // pinned @8 and gradients @6 with the exact Round semantics
    // (BigDecimal.valueOf + HALF_UP), so any engine — the DuckDB
    // retrain oracle included — still reproduces every weight: FP sums
    // differ only in addition order (~1e-12 relative), far under the
    // rounding grid, the same drift argument the shuffle-agg made.
    val sc = packed.sparkSession.sparkContext
    val data = packed.select(col("__f").getField("__b").as("bs"),
        col("__f").getField("__x").as("xs"), col("__y"))
      .rdd.map(r => (r.getSeq[Long](0).toArray, r.getSeq[Double](1).toArray, r.getDouble(2)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the model carries weights ONLY for buckets present in training
    // features (the oracle's w0 set); the dense gradient array can't
    // distinguish "absent" from "present, gradient exactly 0"
    val present: Array[Long] = data.flatMap(_._1.iterator).distinct().collect().sorted

    var w = Map.empty[Long, Double]
    val losses = Seq.newBuilder[Double]
    val nb = buckets
    try {
      for (_ <- 0 until iters) {
        val wArr = new Array[Double](nb + 1) // idx = bucket + 1 (bias -1 -> 0)
        for ((b, v) <- w) wArr((b + 1).toInt) = v
        val bcW = sc.broadcast(wArr)
        val zero = new Array[Double](nb + 2) // [0..nb] grads, [nb+1] loss sum
        val agg = data.treeAggregate(zero)(
          seqOp = (acc, doc) => {
            val (bs, xs, y) = doc
            accumulate(acc, bs, xs, y, bcW.value, nb)
            acc
          },
          combOp = (a, b) => {
            var i = 0
            while (i < a.length) { a(i) += b(i); i += 1 }
            a
          })
        bcW.destroy()
        losses += agg(nb + 1) / n
        w = present.iterator.map { b =>
          val g = round6(agg((b + 1).toInt) / n)
          b -> BigDecimal(w.getOrElse(b, 0.0) - lr * g)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        }.toMap
      }
    } finally { data.unpersist(blocking = false); packed.unpersist() }
    Model(buckets, w, losses.result(), ngrams)
  }

  /** Score a corpus with trained weights: ONE zero-shuffle projection —
    * the dot product folds over the token array against the broadcast
    * weight map (Σ_b (c_b/n)·w_b = (1/n)Σ_t w[bucket(t)], so no
    * per-doc regrouping is needed), unseen buckets contribute 0, and a
    * zero-token document scores σ(bias). This is the pass the 100 TB
    * corpus takes. Output: (idCol, score) with score rounded to 6
    * decimals.
    */
  def score(docs0: DataFrame, idCol: String, textCol: String,
            model: Model): DataFrame = {
    // the gram+hash UDF over the full corpus is the heavy pre-shuffle
    // pass: guard against a low-split source serializing it
    val docs = graft.plan.Parallelism.ensureIngestParallelism(docs0, Seq(col(idCol)))
    val bias = lit(model.weights.getOrElse(-1L, 0.0))
    val grams = gramsOf(col(textCol), model.ngrams)
    // UDF, deliberately: the expression alternative (md5Bucket +
    // element_at over a typedLit weight map, folded by `aggregate`)
    // measured 20-30% SLOWER at sf1 — the Md5 expression builds a fresh
    // MessageDigest per gram where the UDF reuses a thread-local one,
    // and element_at on a literal map is a LINEAR scan (GetMapValue has
    // no hash path: |W| comparisons per gram at 8192 buckets). The UDF
    // hashes with the exact md5Key semantics and sums in array order,
    // so scores are bit-identical to the expression path and to the
    // DuckDB oracle after the @6 rounding.
    val jm = javaMap(model.weights)
    val nb = model.buckets
    val dot = udf { toks: scala.collection.Seq[String] =>
      if (toks == null) 0.0
      else {
        var acc = 0.0
        var i = 0
        while (i < toks.length) {
          // null-element guard: the replaced expression path (md5 →
          // element_at → coalesce) silently contributed 0 for a null
          // gram; keep the UDF total rather than NPE-ing the task
          if (toks(i) != null) {
            val wv = jm.get(md5BucketOf(nb, toks(i)))
            if (wv != null) acc += wv
          }
          i += 1
        }
        acc
      }
    }
    val tokSum = dot(grams)
    val nToks = size(grams)
    val margin = bias +
      when(nToks > 0, tokSum / nToks).otherwise(lit(0.0))
    docs.select(col(idCol),
      round(lit(1.0) / (lit(1.0) + exp(-margin)), 6).as("score"))
  }

  /** Train-and-score in one call (the driver-gate entry): trains on
    * `labelExpr` over the input — bounded to the `sampleN`
    * smallest-hash documents when `sampleN > 0` (the deployment shape:
    * training cost is SF-invariant, the corpus only meets the broadcast
    * weights in the score pass) — and scores every document.
    */
  def trainScore(docs: DataFrame, idCol: String, textCol: String,
                 labelExpr: Column, buckets: Int = 64, iters: Int = 5,
                 lr: Double = 2.0, ngrams: Int = 1, sampleN: Int = 0): DataFrame = {
    val labeled = docs.withColumn("__label", labelExpr.cast("double"))
    val trainSet =
      if (sampleN > 0) Sampling.boundedSample(labeled, idCol, sampleN) else labeled
    val model = train(trainSet, idCol, textCol, "__label", buckets, iters, lr, ngrams)
    score(docs, idCol, textCol, model)
  }

  /** Exact ROC AUC as a one-row relation, by tie-aware rank-sum
    * (Mann-Whitney): AUC = (R⁺ − P(P+1)/2) / (P·N) with average ranks
    * for tied scores. Scale shape: scores are rounded to 6 decimals, so
    * the per-score aggregate has ≤ 10⁶+1 rows — the one sequential
    * window runs over THAT bounded relation, never over the documents.
    */
  def auc(scored: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val byScore = scored
      .select(col(scoreCol).as("__s"), col(labelCol).cast("double").as("__y"))
      .groupBy("__s")
      .agg(count(lit(1)).cast("double").as("__c"), sum("__y").as("__p"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("__s")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    byScore
      .withColumn("__avgrank",
        coalesce(sum(col("__c")).over(w), lit(0.0)) + (col("__c") + 1) / 2)
      .agg(sum(col("__p") * col("__avgrank")).as("__rs"),
        sum(col("__p")).as("__np"), sum(col("__c") - col("__p")).as("__nn"))
      .select(((col("__rs") - col("__np") * (col("__np") + 1) / 2) /
        (col("__np") * col("__nn"))).as("auc"))
  }
}
