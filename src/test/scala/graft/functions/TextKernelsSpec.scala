package graft.functions

import graft.SparkFixture
import graft.dedup.Dedup
import graft.functions.{TextFunctions => TF}
import graft.text.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Each one-pass text kernel (TextKernels.scala) equals the Catalyst
  * formula it replaced — copied verbatim below as the reference — on a
  * fuzzed Unicode corpus, under interpreted evaluation and under
  * generated code, and the MinHash kernel stays above the ingest
  * guard's exchange in Dedup.minhashLsh.
  */
class TextKernelsSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = SparkFixture.spark

  // ——— the pre-kernel formulas, verbatim ———————————————————————————

  private def tokensRef(text: Column): Column =
    filter(split(lower(text), "[^\\p{L}\\p{N}]+"), t => length(t) > 0)

  /** xxhash64 of each space-joined window (the string-building branch
    * of the old TF.windowHashes; the hash explode(wordShingles) fed). */
  private def windowHashesRef(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - lit(n)),
        i => xxhash64(concat_ws(" ", slice(toks, i + 1, lit(n))))))
      .otherwise(array().cast("array<bigint>"))

  private def minhashRef(shingles: Column, seed: Int): Column =
    array_min(transform(shingles, s => xxhash64(s, lit(seed))))

  private def minhashSignatureRef(shingles: Column, k: Int): Column =
    array((0 until k).map(i => minhashRef(shingles, i)): _*)

  private def minhashSignaturesRef(df: DataFrame, idCol: String, shingles: Column, k: Int): DataFrame = {
    val sh = df.select(col(idCol).as("id"), explode(shingles).as("s"))
    val aggs = (0 until k).map(i => min(xxhash64(col("s"), lit(i))).as(s"__h$i"))
    sh.groupBy("id").agg(aggs.head, aggs.tail: _*)
      .select(col("id"), array((0 until k).map(i => col(s"__h$i")): _*).as("sig"))
  }

  private def statsRef(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = tokensRef(col(textCol))
    val nChars = length(col(textCol))
    val nToks = size(toks)
    val stopArr = array(TextAnalysis.stopwordsEn.map(lit): _*)
    df.select(
      col(idCol),
      nToks.as("n_tokens"),
      nChars.as("n_chars"),
      when(nToks > 0, aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") / nToks)
        .otherwise(lit(0.0)).as("mean_token_len"),
      when(nChars > 0, (nChars - length(regexp_replace(col(textCol), "\\p{Punct}", ""))).cast("double") / nChars)
        .otherwise(lit(0.0)).as("punct_ratio"),
      when(nToks > 0, size(filter(toks, t => array_contains(stopArr, t))).cast("double") / nToks)
        .otherwise(lit(0.0)).as("stopword_ratio"),
      when(nChars > 0, (nChars - length(regexp_replace(col(textCol), "[A-Z]", ""))).cast("double") / nChars)
        .otherwise(lit(0.0)).as("upper_ratio"))
  }

  // ——— fixtures ————————————————————————————————————————————————————

  private val pieces = Seq(
    "the", "a", "of", "and", "The", "AND", "Alpha", "BETA", "gamma", "x", "42", "007",
    "İstanbul", "İ", "STRASSE", "ẞ", "ǅemal", "ǈ", "ᾼ",                  // length-changing lowercase, titlecase
    "𝐀𝐁𝐂", "𠀀𠀁", "𐐀𐐨", "e\u0301", "cafe\u0301s", "\u0301", "\u0915\u094d\u0937", // supplementary letters, combining marks
    "٣٤", "४२", "１２", "½", "Ⅻ", "²",                                   // non-Latin digits, other numbers
    "😀", "д", "Привет", "中文", "ا", "ＡＢＣ",
    "...", "!?", "#", "—", "-", "_", "~", "@", "don't", "e-mail", "A.B.C")
  private val seps = Seq(" ", " ", " ", "", ",", ". ", "\t", "\n", "  ")

  private def fuzzDocs: Seq[Option[String]] = {
    val rnd = new scala.util.Random(20261017)
    val random = (1 to 240).map { _ =>
      Some((1 to rnd.nextInt(40)).map(_ => pieces(rnd.nextInt(pieces.length)) + seps(rnd.nextInt(seps.length))).mkString)
    }
    val fixed = Seq(None, Some(""), Some("   "), Some("...!!!,;"), Some("́́"), Some("a"),
      Some("The a of"), Some("ABC DEF GHI JKL MNO PQR"), Some("ẞ İ ǅ"), Some("😀😀 😀"),
      Some("𝐀 𝐁 𝐂 𝐃 𝐄 𝐅 𝐆 𝐇 𝐈 𝐉 𝐊 𝐋 𝐌 𝐍"))
    fixed ++ random
  }

  /** Byte strings that are not well-formed UTF-8 — stray byte, overlong,
    * surrogate, truncated, past U+10FFFF — reach the kernels through a
    * binary→string cast, so the String fallback paths are pinned too. */
  private val malformedHex = Seq("61ff62", "41e0a08042", "616263eda08064", "78c3", "f4908080 41",
    "2e2ec0af41", "54686520ff616e6420")

  /** (id, text) from an RDD-backed frame — not a local relation, which the
    * optimizer would fold on the driver before any codegen could run. */
  private def corpus(s: SparkSession): DataFrame = {
    val bytes = fuzzDocs.map(_.map(_.getBytes("UTF-8")).orNull) ++
      malformedHex.map(h => h.replace(" ", "").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray)
    val rows = bytes.zipWithIndex.map { case (b, i) => Row(i.toLong, b) }
    val schema = StructType(Seq(StructField("id", LongType), StructField("bin", BinaryType)))
    s.createDataFrame(s.sparkContext.parallelize(rows, 3), schema)
      .select(col("id"), col("bin").cast("string").as("text"))
  }

  private def session(codegen: Boolean): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.wholeStage", codegen.toString)
    s.conf.set("spark.sql.codegen.factoryMode", if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN")
    s.conf.set("spark.sql.codegen.fallback", "false")
    s
  }

  private def usesKernel(p: SparkPlan, kernel: Class[_]): Boolean =
    p.expressions.exists(_.exists(e => kernel.isInstance(e)))

  /** Rows per id (id first), checking in the generated mode that the
    * kernel runs inside a whole-stage codegen subtree. */
  private def rowsOf(df: DataFrame, codegen: Boolean, kernel: Class[_]): Map[Long, Seq[Any]] = {
    val rows = df.collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    if (codegen) {
      val plan = df.queryExecution.executedPlan
      val wscg = collect(plan) { case w: WholeStageCodegenExec => w }
      assert(wscg.exists(w => w.child.exists(usesKernel(_, kernel))),
        s"${kernel.getSimpleName} is not fused into whole-stage codegen:\n$plan")
    }
    rows
  }

  private def bothModes(name: String)(body: (SparkSession, Boolean) => Unit): Unit =
    for (codegen <- Seq(false, true))
      test(s"$name (${if (codegen) "generated" else "interpreted"})") {
        body(session(codegen), codegen)
      }

  /** The kernel columns and the reference columns of `ids` (the same
    * number of each, after the id) evaluated as two projections — a
    * CodegenFallback reference in the kernel's projection would take
    * it out of whole-stage codegen — must agree on every document. */
  private def assertSame(neu: DataFrame, ref: DataFrame, codegen: Boolean,
                         kernel: Class[_]): Map[Long, Seq[Any]] = {
    val got = rowsOf(neu, codegen, kernel)
    val want = ref.collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(got.size == fuzzDocs.size + malformedHex.size)
    assert(got.keySet == want.keySet)
    got.toSeq.sortBy(_._1).foreach { case (id, vs) =>
      assert(vs == want(id), s"doc $id diverged")
    }
    got
  }

  // ——— kernels == references ——————————————————————————————————————

  bothModes("tokenizer equals filter(split(lower(text)))") { (s, codegen) =>
    val docs = corpus(s)
    val got = assertSame(docs.select(col("id"), TF.tokens(col("text"))),
      docs.select(col("id"), tokensRef(col("text"))), codegen, classOf[AlnumTokens])
    assert(got(0L) == Seq(null), "NULL text tokenizes to NULL")
    assert(got.values.flatMap(v => Option(v.head.asInstanceOf[scala.collection.Seq[String]]))
      .flatten.forall(_.nonEmpty))
  }

  bothModes("window hashes equal xxhash64 of each space-joined window") { (s, codegen) =>
    val toks = corpus(s).select(col("id"), TF.tokens(col("text")).as("tk"),
      // tokens with NULL holes: concat_ws skips them
      transform(split(col("text"), " "), w => when(length(w) === 1, lit(null)).otherwise(w)).as("holes"))
      .localCheckpoint()
    val ns = Seq(1, 2, 3, 5, 13)
    val arrays = Seq(col("tk"), col("holes"))
    assertSame(toks.select(col("id") +: ns.flatMap(n => arrays.map(TF.windowHashes(_, n))): _*),
      toks.select(col("id") +: ns.flatMap(n => arrays.map(windowHashesRef(_, n))): _*),
      codegen, classOf[WindowHashes])
    // as sets, the hashes of the shingles explode(wordShingles) produced
    val docs = corpus(s)
    assertSame(docs.select(col("id"),
        sort_array(array_distinct(TF.windowHashes(TF.tokens(col("text")), 3)))),
      docs.select(col("id"), sort_array(transform(TF.wordShingles(col("text"), 3), w => xxhash64(w)))),
      codegen, classOf[WindowHashes])
  }

  bothModes("minhashSignature equals k array_min(transform(xxhash64(s, j))) HOFs") { (s, codegen) =>
    val k = 24
    val sh = corpus(s).select(col("id"),
      TF.wordShingles(col("text"), 3).as("w3"),
      tokensRef(col("text")).as("tk"), // NULL for NULL text, empty for punctuation-only
      array(lower(col("text")), lit(null).cast("string")).as("with_null"))
      .localCheckpoint()
    val shingles = Seq("w3", "tk", "with_null").map(col)
    val got = assertSame(sh.select(col("id") +: shingles.map(TF.minhashSignature(_, k)): _*),
      sh.select(col("id") +: shingles.map(minhashSignatureRef(_, k)): _*),
      codegen, classOf[MinhashSignature])
    assert(got(0L)(1) == Seq.fill(k)(null), "NULL shingles give k NULLs")
    // window hashes are the shingle strings' hashes: same signature
    val docs = corpus(s)
    assertSame(docs.select(col("id"),
        TF.minhashSignature(TF.windowHashes(TF.tokens(col("text")), 3), k)),
      docs.select(col("id"), minhashSignatureRef(TF.wordShingles(col("text"), 3), k)),
      codegen, classOf[MinhashSignature])
  }

  bothModes("minhashSignatures equals the explode + groupBy min formula, no row without shingles") { (s, _) =>
    val k = 16
    val docs = corpus(s)
    def sigs(df: DataFrame): Map[Long, Seq[Long]] =
      df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    for (n <- Seq(1, 3)) {
      val neu = sigs(TF.minhashSignatures(docs, "id", TF.windowHashes(TF.tokens(col("text")), n), k))
      val ref = sigs(minhashSignaturesRef(docs, "id", TF.wordShingles(col("text"), n), k))
      assert(neu == ref, s"n=$n")
      val noShingles = docs.filter(coalesce(size(TF.wordShingles(col("text"), n)), lit(0)) === 0)
        .collect().map(_.getLong(0)).toSet
      assert(noShingles.contains(0L) && noShingles.contains(1L))
      assert(neu.keySet.intersect(noShingles).isEmpty)
    }
  }

  bothModes("stats and qualityScore are bit-identical to the HOF formula") { (s, codegen) =>
    val docs = corpus(s)
    assertSame(TextAnalysis.stats(docs, "id", "text"), statsRef(docs, "id", "text"),
      codegen, classOf[TextStats])
    def quality(st: DataFrame): DataFrame =
      st.withColumn("quality",
        round(
          when(col("n_tokens") >= 10, lit(0.4)).otherwise(col("n_tokens").cast("double") / 25) +
          when(col("punct_ratio") <= 0.2, lit(0.3)).otherwise(greatest(lit(0.0), lit(0.3) - col("punct_ratio"))) +
          when(col("stopword_ratio") >= 0.05, lit(0.3)).otherwise(col("stopword_ratio") * 6), 4))
    assertSame(TextAnalysis.qualityScore(docs, "id", "text"), quality(statsRef(docs, "id", "text")),
      codegen, classOf[TextStats])
    // a quality filter is pushed below the stats projection, where each
    // ratio reference evaluates the kernel again (through its memo)
    def kept(df: DataFrame): Set[Long] =
      df.filter(col("quality") >= 0.5).select("id").collect().map(_.getLong(0)).toSet
    val keptNeu = kept(TextAnalysis.qualityScore(docs, "id", "text"))
    assert(keptNeu.nonEmpty && keptNeu == kept(quality(statsRef(docs, "id", "text"))))
  }

  // ——— plan shape ————————————————————————————————————————————————————

  /** Plan nodes evaluating `kernel` inside the subtree of a shuffle
    * exchange, i.e. on its map side. */
  private def belowExchange(plan: SparkPlan, kernel: Class[_]): Seq[SparkPlan] =
    collect(plan) { case e: ShuffleExchangeExec => e }
      .flatMap(e => collect(e.child) { case p if usesKernel(p, kernel) => p })

  test("minhashLsh runs the signature kernel only above the ingest guard's exchange") {
    val s = spark.newSession()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    s.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    })
    // a one-split input: the ingest guard repartitions it (RDD-backed, so
    // nothing is folded into a local relation on the driver)
    val docs = s.createDataFrame(s.sparkContext.parallelize(
        (1 to 64).map(i => Row(i.toLong, s"doc $i shares the words alpha beta gamma delta ${i % 5}")), 1),
      StructType(Seq(StructField("id", LongType), StructField("text", StringType))))
    Dedup.minhashLsh(docs, "id", "text", threshold = 0.0).collect()
    val deadline = System.currentTimeMillis() + 30000
    def signing: Seq[SparkPlan] =
      plans.toArray(Array.empty[SparkPlan]).toSeq.filter(p => find(p)(usesKernel(_, classOf[MinhashSignature])).isDefined)
    while (signing.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(signing.nonEmpty, "no executed plan computed the signature kernel")
    signing.foreach { p =>
      assert(collect(p) { case e: ShuffleExchangeExec => e }.nonEmpty,
        s"the ingest guard did not fire, so the pin is vacuous:\n$p")
      assert(belowExchange(p, classOf[MinhashSignature]).isEmpty,
        s"signature kernel evaluated below an exchange:\n$p")
    }
    // sensitivity: the filter-before-ckpt shape is what the pin catches
    val guarded = graft.plan.Parallelism.ensureIngestParallelism(docs, Seq(col("id")))
    val trap = guarded.select(col("id"),
        TF.minhashSignature(TF.windowHashes(TF.tokens(col("text")), 3), 8).as("sig"))
      .filter(col("sig")(0).isNotNull)
    assert(belowExchange(trap.queryExecution.executedPlan, classOf[MinhashSignature]).nonEmpty,
      s"a pushed-down signature filter must show below the exchange:\n${trap.queryExecution.executedPlan}")
  }
}
