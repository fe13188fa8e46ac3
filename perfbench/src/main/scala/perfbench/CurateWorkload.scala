package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, size, split}

import graft.dedup.Dedup
import graft.pipeline.{Decontaminate, Sharding}
import graft.plan._
import graft.text.TextAnalysis

/** curate_batch: one fixed curation chain over the seeded corpus, called
  * through the operator API — quality filter → exact dedup → MinHash-LSH
  * near-dup → n-gram decontamination → embedding semantic dedup → pack
  * by token budget. Every stage's output is materialized before the next
  * stage starts. The closed loop reruns the whole chain until the time is
  * up; each chain run is one op.
  */
final class CurateWorkload(spark: SparkSession, inputs: String, tracer: Tracer, out: Out)
    extends Workload {
  private val sc = spark.sparkContext
  private val qualityMin = 0.7
  private val jaccardMin = 0.5
  private val cosineMin = 0.97
  private val shardBudget = 100000L

  private var pass = ""
  private var iter = 0

  // A curation job is one process, so the chain is timed cold: JIT and
  // code generation are part of what its user pays, and there is no
  // warm-up.

  /** One chain stage: `body` builds the stage's output, which is then
    * materialized; the record carries its size and elapsed time. */
  private def stage(name: String, layer: String, rowsIn: Long)(body: => DataFrame): (DataFrame, Long) =
    tracer.withGroup(sc, s"pb-$pass-$iter-$name") {
      val t0 = tracer.nowUs()
      val (df, n) = tracer.span(s"stage.$name", layer) {
        val built = body
        tracer.span("materialize", "spark.driver")(built.ckptCount())
      }
      out.write(Map("type" -> "stage", "pass" -> pass, "iter" -> iter, "name" -> name,
        "start" -> t0, "end" -> tracer.nowUs(), "rows_in" -> rowsIn, "rows_out" -> n))
      (df, n)
    }

  /** The chain; returns every stage's materialized output by name. */
  private def chain(corpus: DataFrame, evalSet: DataFrame, nDocs: Long): Map[String, DataFrame] = {
    val (s1, n1) = stage("quality", "graft.text", nDocs) {
      val keep = TextAnalysis.qualityScore(corpus, "id", "text")
        .filter(col("quality") >= qualityMin).select("id")
      corpus.join(keep, "id")
    }
    val (s2, n2) = stage("exact", "graft.dedup", n1) {
      s1.join(Dedup.exact(s1, "id", "text").filter(col("keep")).select("id"), "id")
    }
    val (cands, nc) = stage("minhash_candidates", "graft.dedup", n2) {
      Dedup.minhashLsh(s2, "id", "text", shingleN = 3, bands = 16, rowsPerBand = 4, threshold = 0.0)
    }
    val (verified, _) = stage("minhash_verify", "graft.dedup", nc) {
      cands.filter(col("est_jaccard") >= jaccardMin)
    }
    val (s3, n3) = stage("minhash", "graft.dedup", n2) {
      s2.join(Dedup.resolveClusters(s2, "id", verified).filter(col("keep")).select("id"), "id")
    }
    val (flagged, _) = stage("decontam", "graft.pipeline", n3) {
      Decontaminate.ngramOverlap(s3, "id", "text", evalSet, "eval_id", "text", n = 13)
    }
    val (s4, n4) = stage("decontam_filter", "graft.pipeline", n3) {
      s3.join(flagged.select(col("train_id").as("id")), Seq("id"), "left_anti")
    }
    val (semPairs, _) = stage("semdedup", "graft.similarity", n4) {
      Dedup.semanticDedup(s4, "id", "vec", threshold = cosineMin, nClusters = 16)
    }
    val (s5, n5) = stage("semdedup_filter", "graft.similarity", n4) {
      s4.join(Dedup.resolveClusters(s4, "id", semPairs).filter(col("keep")).select("id"), "id")
    }
    val (packed, _) = stage("pack", "graft.pipeline", n5) {
      Sharding.packByBudget(s5.select(col("id"), size(split(col("text"), " ")).cast("long").as("w")),
        "id", "w", shardBudget)
    }
    Map("quality" -> s1, "exact" -> s2, "verified" -> verified, "minhash" -> s3,
      "flagged" -> flagged, "semdedup_pairs" -> semPairs, "semdedup" -> s5, "pack" -> packed)
  }

  /** What the output checks need, read back after the chain is timed. */
  private def outputs(st: Map[String, DataFrame]): Map[String, Any] = {
    def ids(df: DataFrame, c: String = "id"): Seq[Long] = df.select(c).collect().map(_.getLong(0)).toSeq
    def pairs(df: DataFrame): Seq[Seq[Long]] =
      df.select("id_a", "id_b").collect().map(r => Seq(r.getLong(0), r.getLong(1))).toSeq
    Map("quality" -> ids(st("quality")), "exact" -> ids(st("exact")),
      "verified" -> pairs(st("verified")), "minhash" -> ids(st("minhash")),
      "flagged" -> ids(st("flagged"), "train_id"), "semdedup_pairs" -> pairs(st("semdedup_pairs")),
      "semdedup" -> ids(st("semdedup")),
      "pack" -> st("pack").select("id", "w", "shard").collect().map(_.toSeq).toSeq)
  }

  private def runChain(corpus: DataFrame, evalSet: DataFrame, nDocs: Long): Unit = {
    var err: String = null
    var stages = Map.empty[String, DataFrame]
    val t0 = tracer.nowUs()
    tracer.withGroup(sc, s"pb-$pass-$iter") {
      tracer.span("op", "harness") {
        try stages = chain(corpus, evalSet, nDocs)
        catch {
          case e: Throwable =>
            err = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(500)
        }
      }
    }
    val t1 = tracer.nowUs()
    val outs = if (err == null) outputs(stages) else Map.empty[String, Any]
    out.write(Map("type" -> "op", "pass" -> pass, "id" -> iter, "cls" -> "chain", "kind" -> "chain",
      "start" -> t0, "end" -> t1, "ok" -> (err == null), "error" -> err, "outputs" -> outs))
    // drop this run's materialized stages before the next one
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    iter += 1
  }

  private def setupStep[T](step: String)(body: => T): T = {
    val t0 = tracer.nowUs()
    val r = tracer.withGroup(sc, s"pb-setup-$step")(tracer.span(s"setup.$step", "setup")(body))
    out.write(Map("type" -> "setup", "step" -> step, "ms" -> (tracer.nowUs() - t0) / 1000.0))
    r
  }

  private def loop(corpus: DataFrame, evalSet: DataFrame, nDocs: Long, name: String,
                   seconds: Double, limit: Int): Int = {
    pass = name
    iter = 0
    val t0 = tracer.nowUs()
    val deadline = t0 + seconds * 1e6
    while (iter < limit && (iter == 0 || tracer.nowUs() < deadline)) runChain(corpus, evalSet, nDocs)
    out.write(Map("type" -> "loop", "pass" -> name, "start" -> t0, "end" -> tracer.nowUs(), "ops" -> iter))
    iter
  }

  def run(seconds: Double): Unit = {
    out.write(Map("type" -> "curate_config", "cosine_min" -> cosineMin, "budget" -> shardBudget))
    val (corpus, evalSet, nDocs) = setupStep("load") {
      val c = spark.read.parquet(s"$inputs/corpus.parquet")
      val e = spark.read.parquet(s"$inputs/eval.parquet")
      e.count()
      (c, e, c.count())
    }
    out.write(Map("type" -> "first_op", "at" -> tracer.nowUs(), "process_start" -> Env.processStartUs))
    if (!tracer.enabled) loop(corpus, evalSet, nDocs, "main", seconds, Int.MaxValue)
    else {
      // both passes run warm here, so their difference is the tracing
      val untraced = new CurateWorkload(spark, inputs, new Tracer(false), out)
      untraced.loop(corpus, evalSet, nDocs, "warmup", 0, 1)
      val n = untraced.loop(corpus, evalSet, nDocs, "untraced", seconds, Int.MaxValue)
      loop(corpus, evalSet, nDocs, "traced", Double.MaxValue, n)
    }
  }
}
