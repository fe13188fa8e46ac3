package graft.text

import graft.SparkFixture
import graft.plan.Knee
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** BPE tokenizer (text/Bpe.scala): the distributed trainer is checked
  * against the hand-traced classic corpus AND an independent
  * sequential reference implementation; encoding against the textbook
  * example plus decode-identity / vocabulary-closure invariants on
  * real documents.
  */
class BpeSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  def docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  // ——— independent sequential reference (classic Sennrich BPE) ———
  private def refTrain(words: Map[String, Long], numMerges: Int): Seq[(String, String)] = {
    var tbl: Seq[(Vector[String], Long)] =
      words.toSeq.map { case (w, f) => w.map(_.toString).toVector -> f }
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var go = true
    while (go && out.size < numMerges) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      for ((syms, f) <- tbl; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) = counts.getOrElse((syms(i), syms(i + 1)), 0L) + f
      if (counts.isEmpty) go = false
      else {
        val best = counts.toSeq.minBy { case ((l, r), c) => (-c, l, r) }._1
        out += best
        tbl = tbl.map { case (syms, f) =>
          val b = Vector.newBuilder[String]; var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == best._1 && syms(i + 1) == best._2) {
              b += (best._1 + best._2); i += 2
            } else { b += syms(i); i += 1 }
          }
          (b.result(), f)
        }
      }
    }
    out.toSeq
  }

  private def corpusDf(words: Map[String, Long]) = {
    import spark.implicits._
    // one doc per word occurrence keeps frequencies exact
    words.toSeq.flatMap { case (w, f) => Seq.fill(f.toInt)(w) }
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
  }

  test("train reproduces the hand-traced classic corpus") {
    // {low:5, lower:2, newest:6, widest:3}, no end-of-word marker:
    // es(9) -> est(9) -> lo(7; ties "lo"/"ow" break lexicographically)
    // -> low(7)
    val corpus = Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val merges = Bpe.train(corpusDf(corpus), "text", 4)
    assert(merges.map(m => (m.left, m.right)) ==
      Seq(("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w")))
    assert(merges.map(_.rank) == Seq(0, 1, 2, 3))
  }

  test("train matches the independent sequential reference on real text") {
    val sample = docs.filter(col("doc_id") < 60)
    val got = Bpe.train(sample, "text", 25).map(m => (m.left, m.right))
    val wf = Bpe.wordFreqs(sample, "text").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == refTrain(wf, 25))
  }

  test("driver trainer == distributed batch-1 loop on real text") {
    // BpeWords = 0 forces the distributed rounds the driver loop shadows
    val sample = docs.filter(col("doc_id") < 60)
    val drv = Bpe.train(sample, "text", 25).map(m => (m.left, m.right))
    val dist = Knee.withLimits(Knee.BpeWords -> 0L)(Bpe.train(sample, "text", 25))
      .map(m => (m.left, m.right))
    assert(drv == dist)
  }

  test("encode: textbook segmentation, unseen-word fallback, memo correctness") {
    val corpus = Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val merges = Bpe.train(corpusDf(corpus), "text", 4)
    import spark.implicits._
    val probe = Seq((1L, "lowest"), (2L, "low low xyz"), (3L, "")).toDF("doc_id", "text")
    val enc = Bpe.encode(probe, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> (r.getSeq[String](1), r.getLong(2))).toMap
    assert(enc(1L)._1 == Seq("low", "est"))
    assert(enc(2L)._1 == Seq("low", "low", "x", "y", "z")) // memo reuse + fallback to chars
    assert(enc(3L) == ((Seq(), 0L)))
  }

  test("encode: NULL text yields an empty token list, no NPE (ADVICE r6)") {
    val corpus = Map("low" -> 5L, "newest" -> 6L)
    val merges = Bpe.train(corpusDf(corpus), "text", 2)
    import spark.implicits._
    val probe = Seq((1L, Some("low")), (2L, None: Option[String])).toDF("doc_id", "text")
    val enc = Bpe.encode(probe, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> (r.getSeq[String](1), r.getLong(2))).toMap
    assert(enc(1L)._2 > 0)
    assert(enc(2L) == ((Seq(), 0L)))
  }

  test("batched training stays valid (symbol-disjoint rounds) and encodes losslessly") {
    val sample = docs.filter(col("doc_id") < 80)
    val merges = Bpe.train(sample, "text", 20, batch = 5)
    assert(merges.size == 20 && merges.map(_.rank) == (0 until 20))
    // disjointness within a batch is unobservable after the fact, but
    // the products must still be pairwise distinct tokens
    assert(merges.map(m => m.left + m.right).distinct.size == 20)
    val enc = Bpe.encode(sample, "doc_id", "text", merges)
    val bad = enc.join(sample, Seq("doc_id"))
      .filter(concat_ws("", col("tokens")) =!=
        concat_ws("", graft.functions.TextFunctions.tokens(col("text"))))
    assert(bad.count() == 0, "decode identity holds for every doc")
  }

  test("zero merges degrade to character tokens") {
    import spark.implicits._
    val probe = Seq((1L, "ab cd")).toDF("doc_id", "text")
    val enc = Bpe.encode(probe, "doc_id", "text", Nil).collect().head
    assert(enc.getSeq[String](1) == Seq("a", "b", "c", "d"))
  }

  test("property: trainer equals the sequential reference on random corpora") {
    // adversarial shapes on purpose: tiny alphabet (forces count ties
    // → the lexicographic tie-break), repeated chars (overlapping-pair
    // left-to-right rule), multi-byte letters, 1-char words
    val rnd = new scala.util.Random(42)
    // chars must be \p{L}\p{N} lowercase so the corpus survives the
    // tokenizer unchanged and the reference sees identical words
    val alphabets = Seq("ab", "abc", "aäö", "xy1")
    for (trial <- 0 until 8) {
      val alpha = alphabets(trial % alphabets.length)
      val words = (0 until 12).map { _ =>
        val len = 1 + rnd.nextInt(6)
        (0 until len).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      }
      val freqs = words.groupBy(identity).map { case (w, v) => w -> (v.size * (1 + rnd.nextInt(3))).toLong }
      val got = Bpe.train(corpusDf(freqs), "text", 6).map(m => (m.left, m.right))
      val want = refTrain(freqs, 6)
      assert(got == want, s"trial $trial alpha=$alpha corpus=$freqs: got $got want $want")
    }
  }

  test("merges round-trip through the DataFrame artifact") {
    val corpus = Map("aaab" -> 3L, "aab" -> 2L)
    val m = Bpe.train(corpusDf(corpus), "text", 3)
    val back = Bpe.mergesFrom(Bpe.mergesDf(spark, m))
    assert(back == m)
  }
}
