package graft.text

import graft.plan._
import graft.functions.{TextFunctions => TF}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Byte-pair-encoding tokenizer (Sennrich et al. 2016, arXiv:1508.07909)
  * — train merge rules on the corpus, encode documents with them. The
  * missing piece between "token counting" (a whitespace proxy) and the
  * real thing a training pipeline packs sequences by.
  *
  * TRAINING is corpus-scale but vocabulary-shaped: the corpus collapses
  * to a (word, freq) relation once (one hash aggregate — the only pass
  * over the 100 TB), and every merge round runs on that word table
  * (|distinct words| ≪ corpus; Zipf puts it in the millions at any
  * scale). A round = one pair-count aggregate over the word table plus
  * a one-row argmax collect (the merge decision is globally sequential
  * — that IS the algorithm; ~vocab_size driver round-trips of one row
  * each). Merging inside a word is a pure Catalyst `aggregate` fold —
  * left-to-right, non-overlapping, codegen'd, no UDFs. Lineage is
  * checkpoint-truncated on a fixed cadence like every other iterative
  * operator here.
  *
  * `batch > 1` applies the top-`batch` SYMBOL-DISJOINT pairs per round
  * (the YouTokenToMe-style speedup: pairs sharing no symbol cannot
  * interact, so applying them together equals applying them in either
  * order); batch = 1 is exact classic BPE.
  *
  * ENCODING is embarrassingly parallel: the merge ranks broadcast as a
  * map (vocab-sized — MBs), each partition greedily merges its words
  * with a per-partition memo cache (Zipf again: the cache hits almost
  * always), zero shuffles over the corpus. No end-of-word marker:
  * merges never cross word boundaries and concatenating a word's
  * tokens restores the word exactly (the decode-identity invariant the
  * driver query checks).
  */
object Bpe {

  /** One merge rule: `left + right` became a token at `rank`. */
  final case class Merge(rank: Int, left: String, right: String)

  private val symsT = ArrayType(StringType, containsNull = false)

  /** Split a word into single-character symbols, in Catalyst. */
  private def charSyms(w: Column): Column =
    transform(sequence(lit(1), length(w)), i => w.substr(i, lit(1)))

  /** Left-to-right non-overlapping merge of the adjacent pair
    * (left, right) in a symbol array — a pure `aggregate` fold:
    * carry the previous unmerged symbol; when (carry, s) is the pair,
    * emit the merged token and clear the carry (so "aaa" + (a,a) →
    * ["aa","a"], the classic semantics).
    */
  private[text] def applyMerge(syms: Column, left: String, right: String): Column = {
    val l = lit(left); val r = lit(right)
    val folded = aggregate(
      syms,
      struct(array().cast(symsT).as("out"), lit(null).cast("string").as("carry")),
      (st, s) =>
        when(st.getField("carry") === l && s === r,
          struct(concat(st.getField("out"), array(concat(l, r))).as("out"),
            lit(null).cast("string").as("carry")))
        .otherwise(
          struct(when(st.getField("carry").isNull, st.getField("out"))
              .otherwise(concat(st.getField("out"), array(st.getField("carry")))).as("out"),
            s.as("carry"))),
      st => when(st.getField("carry").isNull, st.getField("out"))
        .otherwise(concat(st.getField("out"), array(st.getField("carry")))))
    folded
  }

  /** The corpus's (word, freq) table — training's only corpus pass. */
  def wordFreqs(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TF.tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Train `numMerges` BPE merge rules on the corpus. Deterministic:
    * ties in pair count break on the lexicographically smallest
    * (left, right). Returns the rules in rank order.
    */
  def train(docs: DataFrame, textCol: String, numMerges: Int,
            batch: Int = 1): Seq[Merge] = {
    require(numMerges >= 0 && batch >= 1)
    // Scale knee: training state is the VOCABULARY (distinct words +
    // frequencies), not the corpus — one corpus pass aggregates it, and
    // below the cap the merge rounds run in memory (batch = 1 semantics
    // exactly: same pair counts, same (count desc, l, r) tie-break, same
    // left-to-right carry merge — BpeSpec pins this loop against the
    // distributed one). The distributed rounds each paid a pair-count
    // exchange + TakeOrdered collect over the folded symbol table: 24
    // merges cost ~60 jobs where the driver loop costs two.
    if (batch == 1) {
      val (wf, nWords) = wordFreqs(docs, textCol).ckptCount()
      if (Knee.gate("bpe", nWords, Knee.BpeWords)) {
        val rows = wf.collect().map(r => (r.getString(0), r.getLong(1)))
        wf.unckpt()
        return trainDriver(rows, numMerges)
      }
      // fall through distributed with the already-materialized freqs
      var words = wf
        .select(col("word"), col("freq"), charSyms(col("word")).as("syms"))
        .ckpt()
      // words is eagerly ckpt'd FROM wf just above, so wf's blocks are
      // dead from here — dropping them mirrors the driver branch (r12
      // ADVICE: this branch leaked wf's pinned blocks for the rest of
      // the query precisely at the large-vocabulary scale it serves)
      wf.unckpt()
      return trainDistributed(words, numMerges, batch)
    }
    val words = wordFreqs(docs, textCol)
      .select(col("word"), col("freq"), charSyms(col("word")).as("syms"))
      .ckpt()
    trainDistributed(words, numMerges, batch)
  }

  /** In-memory mirror of the batch-1 training loop over the collected
    * vocabulary: identical pair statistics (freq-weighted adjacent
    * pairs), identical (count desc, left, right) tie-break, identical
    * left-to-right non-overlapping carry merge. */
  private def trainDriver(vocab: Array[(String, Long)], numMerges: Int): Seq[Merge] = {
    var words: Array[(Array[String], Long)] =
      vocab.map { case (w, f) => (w.map(_.toString).toArray, f) }
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    while (merges.size < numMerges) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      for ((syms, f) <- words) {
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + f
          i += 1
        }
      }
      if (counts.isEmpty) return merges.toSeq
      val ((l, r), _) = counts.minBy { case ((l, r), c) => (-c, l, r) }
      merges += Merge(merges.size, l, r)
      words = words.map { case (syms, f) => (applyMergeDriver(syms, l, r), f) }
    }
    merges.toSeq
  }

  /** Driver mirror of [[applyMerge]]'s carry fold ("aaa" + (a,a) →
    * ["aa","a"]). */
  private[text] def applyMergeDriver(syms: Array[String], l: String, r: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var carry: String = null
    for (s <- syms) {
      if (carry == l && s == r) { out += l + r; carry = null }
      else { if (carry != null) out += carry; carry = s }
    }
    if (carry != null) out += carry
    out.toArray
  }

  private def trainDistributed(words0: DataFrame, numMerges: Int,
                               batch: Int): Seq[Merge] = {
    var words = words0
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var round = 0
    while (merges.size < numMerges) {
      val want = math.min(batch, numMerges - merges.size)
      // adjacent pairs with multiplicity, weighted by word frequency
      val pairs = words.select(col("freq"), explode(expr(
          "transform(slice(syms, 2, greatest(size(syms) - 1, 0)), " +
            "(s, i) -> struct(element_at(syms, i + 1) AS l, s AS r))")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("c"))
        .orderBy(col("c").desc, col("l"), col("r"))
        // enough rows that `want` symbol-disjoint pairs are almost
        // surely present; re-loop if not (never at batch = 1)
        .limit(math.max(want * 8, 16))
        .collect()
      if (pairs.isEmpty) return merges.toSeq // nothing left to merge
      // greedy symbol-disjoint prefix of the ranked pair list
      val used = scala.collection.mutable.HashSet.empty[String]
      val chosen = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      for (row <- pairs if chosen.size < want) {
        val (l, r) = (row.getString(0), row.getString(1))
        if (!used(l) && !used(r) && !used(l + r)) {
          chosen += ((l, r)); used ++= Seq(l, r, l + r)
        }
      }
      for ((l, r) <- chosen) {
        merges += Merge(merges.size, l, r)
        words = words.withColumn("syms", applyMerge(col("syms"), l, r))
      }
      round += 1
      if (round % 4 == 0) words = words.ckpt() // truncate fold lineage
    }
    merges.toSeq
  }

  /** Greedy BPE encode of one word under broadcast merge ranks —
    * repeatedly merge the lowest-rank adjacent pair (the standard
    * inference rule; with ranks from [[train]] it reproduces training
    * segmentation on the training corpus).
    */
  private[text] def encodeWord(word: String,
                               ranks: Map[(String, String), Int]): Seq[String] = {
    var syms = word.map(_.toString).toArray
    var done = syms.length <= 1
    while (!done) {
      var best = Int.MaxValue; var at = -1
      var i = 0
      while (i < syms.length - 1) {
        val rk = ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (rk < best) { best = rk; at = i }
        i += 1
      }
      if (at < 0) done = true
      else {
        syms = (syms.take(at) :+ (syms(at) + syms(at + 1))) ++ syms.drop(at + 2)
        if (syms.length <= 1) done = true
      }
    }
    syms.toSeq
  }

  /** Encode every document: (idCol, tokens array<string>, n_tokens).
    * Merge ranks broadcast; per-partition word→encoding memo (Zipf
    * makes it hit nearly always); zero corpus shuffles.
    */
  def encode(docs0: DataFrame, idCol: String, textCol: String,
             merges: Seq[Merge]): DataFrame = {
    val docs = Parallelism.ensureIngestParallelism(docs0, Seq(col(idCol)))
    val spark = docs.sparkSession
    val ranks = merges.map(m => (m.left, m.right) -> m.rank).toMap
    val bc = spark.sparkContext.broadcast(ranks)
    // NULL text encodes to an empty token list (TF.tokens propagates
    // null, which would NPE the getSeq in the mapPartitions below)
    val toked = docs.select(col(idCol),
      coalesce(TF.tokens(col(textCol)), array()).as("__toks"))
    val outSchema = StructType(toked.schema.fields.dropRight(1) ++ Seq(
      StructField("tokens", ArrayType(StringType, containsNull = false)),
      StructField("n_tokens", LongType, nullable = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    toked.mapPartitions { rows =>
      val memo = scala.collection.mutable.HashMap.empty[String, Seq[String]]
      val rk = bc.value
      rows.map { row =>
        val words = row.getSeq[String](row.length - 1)
        val toks = words.flatMap(w => memo.getOrElseUpdate(w, encodeWord(w, rk)))
        Row.fromSeq(row.toSeq.dropRight(1) ++ Seq(toks, toks.size.toLong))
      }
    }(enc)
  }

  /** Merge rules as a DataFrame (rank, left, right) — the persistable
    * artifact (write it as parquet; [[mergesFrom]] restores). */
  def mergesDf(spark: org.apache.spark.sql.SparkSession, merges: Seq[Merge]): DataFrame = {
    import spark.implicits._
    merges.map(m => (m.rank, m.left, m.right)).toDF("rank", "left", "right")
  }

  def mergesFrom(df: DataFrame): Seq[Merge] =
    df.select("rank", "left", "right").orderBy("rank").collect()
      .map(r => Merge(r.getInt(0), r.getString(1), r.getString(2))).toSeq
}
