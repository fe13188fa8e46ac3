package graft.pipeline

import graft.functions.{TextFunctions => TF}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination for training corpora: flag training
  * documents that share word n-grams with an evaluation/benchmark set
  * (the standard 13-gram-overlap test, run here with a configurable n).
  *
  * Shape: explode both sides to (doc, shingle-hash) rows — one
  * TextFunctions.windowHashes kernel pass per document, no shingle
  * strings — equi-join on the hash, count distinct hits per training
  * doc. The eval side of the join
  * is the full benchmark suite — millions of shingles at most — so Spark
  * broadcasts it and the pass over 100 TB of training text is a single
  * map-side join in whole-stage codegen, no shuffle of the corpus.
  */
object Decontaminate {

  /** Per-training-document overlap report against an eval set:
    * (train_id, overlap_ngrams = distinct shared n-grams,
    * eval_docs = distinct eval documents hit). Only contaminated
    * documents (overlap ≥ minOverlap) are returned — anti-join against
    * this output to clean the corpus.
    *
    * `broadcastEval = true` (the default) force-broadcasts the exploded
    * eval relation — right whenever the eval suite is benchmark-sized.
    * For a large eval side (where the exploded relation would blow the
    * broadcast limit / driver memory), pass `false` to fall back to a
    * plain shuffle hash join; AQE may still pick broadcast at runtime
    * if the actual size turns out small.
    */
  def ngramOverlap(train: DataFrame, trainId: String, trainText: String,
                   eval: DataFrame, evalId: String, evalText: String,
                   n: Int = 13, minOverlap: Int = 1,
                   broadcastEval: Boolean = true): DataFrame = {
    // the corpus-side shingle explode is the heavy pre-shuffle stage:
    // guard against a low-split source serializing it (no-op on real
    // corpora — see Parallelism.ensureIngestParallelism)
    val trainP = graft.plan.Parallelism.ensureIngestParallelism(train, Seq(col(trainId)))
    // shingles join and count as xxhash64 keys, not strings: an 8-byte
    // key through the broadcast probe + distinct aggregation instead of
    // a ~(8n)-byte n-gram string. Counting hashes equals counting
    // strings up to 64-bit collisions (P ≈ m²/2⁶⁵ per doc — negligible
    // at any real eval-suite size). A window repeated inside a doc
    // explodes once per occurrence; countDistinct absorbs it.
    val tsh = trainP.select(col(trainId).as("train_id"),
        explode(TF.windowHashes(TF.tokens(col(trainText)), n)).as("h"))
    // esh has exactly ONE consumer here (the join) — no ckpt: a persist
    // would be pure overhead, and its stats reset could demote the
    // unhinted join when broadcastEval=false (bloomOverlap, whose esh
    // feeds three sequential consumers, is where the lazy ckpt lives)
    val esh = eval.select(col(evalId).as("eval_id"),
        explode(TF.windowHashes(TF.tokens(col(evalText)), n)).as("h"))
    tsh.join(if (broadcastEval) broadcast(esh) else esh, Seq("h"))
      .groupBy("train_id")
      .agg(countDistinct(col("h")).as("overlap_ngrams"),
        countDistinct(col("eval_id")).as("eval_docs"))
      .filter(col("overlap_ngrams") >= minOverlap)
  }

  /** Semantic (embedding-space) decontamination: flag training
    * documents whose embedding is within cosine `threshold` of any
    * eval embedding — catches the paraphrase/translation contamination
    * the n-gram test misses. One broadcast of the (benchmark-sized)
    * eval embeddings against the training scan, codegen'd cosine, max
    * per training doc; 100 TB shape = one map-side pass, no corpus
    * shuffle. Returns (train_id, max_cosine, eval_hits) for flagged
    * training docs only — anti-join to clean.
    */
  def embedOverlap(train: DataFrame, trainId: String, trainVec: String,
                   eval: DataFrame, evalId: String, evalVec: String,
                   threshold: Double = 0.9): DataFrame = {
    import graft.functions.{VectorFunctions => VF}
    val trainP = graft.plan.Parallelism.ensureIngestParallelism(train, Seq(col(trainId)))
    val t = trainP.select(col(trainId).as("train_id"), col(trainVec).as("__tv"))
    val e = eval.select(col(evalId).as("eval_id"), col(evalVec).as("__ev"))
    t.crossJoin(broadcast(e))
      .withColumn("__cos", VF.cosineSimilarity(col("__tv"), col("__ev")))
      .filter(col("__cos") >= threshold)
      .groupBy("train_id")
      .agg(max(col("__cos")).as("max_cosine"),
        countDistinct(col("eval_id")).as("eval_hits"))
  }

  /** The cleaned corpus: training rows with no flagged overlap. */
  def clean(train: DataFrame, trainId: String, trainText: String,
            eval: DataFrame, evalId: String, evalText: String,
            n: Int = 13, minOverlap: Int = 1,
            broadcastEval: Boolean = true): DataFrame = {
    val bad = ngramOverlap(train, trainId, trainText, eval, evalId, evalText,
      n, minOverlap, broadcastEval)
      .select(col("train_id").as(trainId))
    train.join(bad, Seq(trainId), "left_anti")
  }

  /** Bloom-prefiltered exact overlap: same OUTPUT as [[ngramOverlap]]
    * (a Bloom filter has no false negatives, so the exact verify join
    * sees every true overlap — the driver oracle is the same exact SQL),
    * but the 100 TB corpus pass probes an in-executor Bloom sketch of
    * the eval shingle hashes instead of joining: only might-contain
    * rows (true hits + the fpp tail) reach the broadcast verify join,
    * so the join's probe side shrinks from every corpus shingle to
    * ~|true overlaps| + fpp·|corpus shingles|. At fpp = 1e-2 that is a
    * ~100× cut in join input for the non-contaminated bulk — the sketch
    * is a few MB where the exploded eval relation is GBs, so it ships
    * to executors at a fraction of the broadcast-join cost and probes
    * at 2 hash ops/row.
    *
    * The Bloom build runs two small jobs on the EVAL side only (a count
    * to size the filter, then the sketch aggregation — Spark merges
    * per-partition sketches on the driver, the standard
    * `stat.bloomFilter` shape; both scale with the benchmark suite, not
    * the corpus). The probe is a 2-hash UDF: Spark's own
    * BloomFilterMightContain expression is runtime-internal, and the
    * UDF sits behind the scan's codegen'd shingle explode, costing two
    * xxhash probes per shingle.
    */
  def bloomOverlap(train: DataFrame, trainId: String, trainText: String,
                   eval: DataFrame, evalId: String, evalText: String,
                   n: Int = 13, minOverlap: Int = 1,
                   fpp: Double = 0.01): DataFrame = {
    val spark = train.sparkSession
    val trainP = graft.plan.Parallelism.ensureIngestParallelism(train, Seq(col(trainId)))
    val tsh = trainP.select(col(trainId).as("train_id"),
        explode(TF.windowHashes(TF.tokens(col(trainText)), n)).as("h"))
    // esh is consumed three times sequentially (distinct count, Bloom
    // aggregate, verify-join broadcast) — the lazy ckpt materializes in
    // the count job and spares two shingle re-passes (r9 audit)
    import graft.plan._
    val esh = eval.select(col(evalId).as("eval_id"),
        explode(TF.windowHashes(TF.tokens(col(evalText)), n)).as("h"))
      .ckptLazy()
    val evalHashes = esh.select("h").distinct()
    val expected = math.max(evalHashes.count(), 1L)
    val bloom = evalHashes.stat.bloomFilter("h", expected, fpp)
    val bc = spark.sparkContext.broadcast(bloom)
    val mightContain = udf((h: Long) => bc.value.mightContainLong(h))
    tsh.filter(mightContain(col("h")))
      .join(broadcast(esh), Seq("h"))
      .groupBy("train_id")
      .agg(countDistinct(col("h")).as("overlap_ngrams"),
        countDistinct(col("eval_id")).as("eval_docs"))
      .filter(col("overlap_ngrams") >= minOverlap)
  }
}
