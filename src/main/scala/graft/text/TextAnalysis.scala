package graft.text

import graft.functions.{TextStats, TextFunctions => TF}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines: token statistics, quality
  * scoring, language identification, fingerprinting. Column expressions
  * over the scan, no UDFs, reading only the text column (pruned scan).
  * The per-token work (tokenizer, quality counts, window hashes) is the
  * native one-pass kernels of graft.functions.TextKernels, which stay
  * in whole-stage codegen. Spark's higher-order functions (`filter`,
  * `aggregate`, `transform`) are CodegenFallback and run interpreted:
  * what remains of them here (gopherRules, chunk, fingerprint) is off
  * the curation chain.
  */
object TextAnalysis {

  val stopwordsEn: Seq[String] = Seq(
    "the", "a", "an", "of", "to", "in", "and", "is", "on", "for", "with", "as", "by", "at", "or")

  /** Per-document statistics: token count, char count, mean token
    * length, punctuation ratio, stopword ratio, uppercase ratio.
    * One [[graft.functions.TextStats]] pass counts everything; the
    * ratios keep the arithmetic (and so the doubles) of the column
    * formula it replaced — size/aggregate/filter over TF.tokens and
    * `length(text) - length(regexp_replace(text, re, ""))` counts.
    */
  def stats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val text = col(textCol)
    // its own projection, read six times: CollapseProject keeps a
    // non-cheap producer referenced more than once, so the struct is
    // computed once (a filter on the ratios pushed below it inlines the
    // struct per reference instead, which the kernel's memo absorbs)
    val counted = df.select(col(idCol),
      column(TextStats(expression(text), expression(lower(text)), stopwordsEn)).as("__st"))
    // NULL text: size(NULL) under the session's sizeOfNull rule, as before
    val nToks = coalesce(col("__st.n_tokens"), size(lit(null).cast("array<string>")))
    val nChars = col("__st.n_chars")
    counted.select(
      col(idCol),
      nToks.as("n_tokens"),
      nChars.as("n_chars"),
      when(nToks > 0, col("__st.token_chars").cast("double") / nToks)
        .otherwise(lit(0.0)).as("mean_token_len"),
      when(nChars > 0, col("__st.punct").cast("double") / nChars)
        .otherwise(lit(0.0)).as("punct_ratio"),
      when(nToks > 0, col("__st.stopwords").cast("double") / nToks)
        .otherwise(lit(0.0)).as("stopword_ratio"),
      when(nChars > 0, col("__st.upper").cast("double") / nChars)
        .otherwise(lit(0.0)).as("upper_ratio"))
  }

  /** Heuristic quality score in [0,1]: documents that are too short,
    * punctuation-heavy, or stopword-free (word salad / non-language)
    * score low. Weights follow the usual C4/Gopher-style filters.
    */
  def qualityScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val s = stats(df, idCol, textCol)
    s.withColumn("quality",
      round(
        when(col("n_tokens") >= 10, lit(0.4)).otherwise(col("n_tokens").cast("double") / 25) +
        when(col("punct_ratio") <= 0.2, lit(0.3)).otherwise(greatest(lit(0.0), lit(0.3) - col("punct_ratio"))) +
        when(col("stopword_ratio") >= 0.05, lit(0.3)).otherwise(col("stopword_ratio") * 6), 4))
  }

  /** The full published Gopher document-quality rule set (Rae et al.
    * 2021, Table A1 — public), each rule as its own column plus the
    * conjunctive `keep` flag, so a pipeline can audit WHICH rule
    * rejected a document (the paper's ablation requirement):
    *   - word count within [minWords, maxWords] (words = whitespace
    *     tokens, the paper's definition — not the letter/digit tokens
    *     the dedup operators use);
    *   - mean word length within [minMeanLen, maxMeanLen] characters;
    *   - symbol-to-word ratio (`#` and `...`/`…` occurrences per word)
    *     ≤ maxSymbolRatio;
    *   - fraction of lines starting with a bullet (•, ‣, -, *)
    *     ≤ maxBulletFrac;
    *   - fraction of lines ending with an ellipsis ≤ maxEllipsisFrac;
    *   - fraction of words containing at least one alphabetic character
    *     ≥ minAlphaFrac;
    *   - at least minReqStopwords distinct members of the paper's
    *     required-stopword list {the, be, to, of, and, that, have,
    *     with} present.
    * Pure column expressions over the scan — zero shuffles, column
    * pruning intact; ratios are exact integer quotients rounded to 6
    * decimals so the SQL oracle is bit-identical.
    */
  def gopherRules(df0: DataFrame, idCol: String, textCol: String,
                  minWords: Int = 50, maxWords: Int = 100000,
                  minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                  maxSymbolRatio: Double = 0.1, maxBulletFrac: Double = 0.9,
                  maxEllipsisFrac: Double = 0.3, minAlphaFrac: Double = 0.8,
                  minReqStopwords: Int = 2): DataFrame = {
    // regex-heavy pre-shuffle pass: guard against a low-split source
    // serializing it (no-op on real corpora — see Parallelism)
    val df = graft.plan.Parallelism.ensureIngestParallelism(df0, Seq(col(idCol)))
    val text = col(textCol)
    val words = filter(split(text, "\\s+"), w => length(w) > 0)
    val lines = split(text, "\n", -1)
    val nWords = size(words)
    val nLines = size(lines)
    def occurrences(needle: String): Column =
      ((length(text) - length(replace(text, lit(needle), lit("")))) / needle.length).cast("long")
    val reqStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val lowerWords = transform(words, w => lower(w))
    val out = df.select(
      col(idCol),
      nWords.cast("long").as("word_count"),
      when(nWords > 0, round(
        aggregate(words, lit(0L), (acc, w) => acc + length(w)).cast("double") / nWords, 6))
        .otherwise(lit(0.0)).as("mean_word_len"),
      when(nWords > 0, round(
        (occurrences("#") + occurrences("...") + occurrences("…")).cast("double") / nWords, 6))
        .otherwise(lit(0.0)).as("symbol_ratio"),
      when(nLines > 0, round(
        size(filter(lines, l => {
          val t = ltrim(l)
          t.startsWith("•") || t.startsWith("‣") || t.startsWith("-") || t.startsWith("*")
        })).cast("double") / nLines, 6)).otherwise(lit(0.0)).as("bullet_frac"),
      when(nLines > 0, round(
        size(filter(lines, l => {
          val t = rtrim(l)
          t.endsWith("...") || t.endsWith("…")
        })).cast("double") / nLines, 6)).otherwise(lit(0.0)).as("ellipsis_frac"),
      when(nWords > 0, round(
        size(filter(words, w => w.rlike("\\p{L}"))).cast("double") / nWords, 6))
        .otherwise(lit(0.0)).as("alpha_word_frac"),
      size(filter(array(reqStops.map(lit): _*),
        s => array_contains(lowerWords, s))).cast("long").as("req_stopwords"))
    out.withColumn("keep",
      col("word_count").between(minWords, maxWords) &&
      col("mean_word_len").between(minMeanLen, maxMeanLen) &&
      col("symbol_ratio") <= maxSymbolRatio &&
      col("bullet_frac") <= maxBulletFrac &&
      col("ellipsis_frac") <= maxEllipsisFrac &&
      col("alpha_word_frac") >= minAlphaFrac &&
      col("req_stopwords") >= minReqStopwords)
  }

  /** Within-document repetition signals (the Gopher/MassiveText
    * repetition filters, Rae et al. 2021 Table A1 — public): documents
    * dominated by a few repeated n-grams are boilerplate/spam.
    * Returns (id, n_tokens, top_bigram_frac = occurrences of the most
    * frequent word bigram / total bigrams, dup_trigram_frac = fraction
    * of trigram occurrences beyond each gram's first).
    *
    * Plan shape: per n, one explode of 8-byte gram HASHES (never the
    * gram strings), then two levels of codegen'd hash aggregation keyed
    * (id, hash) — map-side partial aggregation absorbs within-doc
    * repeats before the shuffle, so shuffled bytes ≤ distinct grams per
    * doc. A measured note: the tempting "zero-shuffle" alternative
    * (per-row `array_sort` + `aggregate` HOF run-counting) is ~15×
    * SLOWER at scale — Spark's higher-order array functions evaluate
    * interpreted (CodegenFallback), so narrow hash-agg shuffles beat
    * millions of interpreted per-row loops. Hash keys follow the
    * [[graft.pipeline.Decontaminate]] stance: counting xxhash64 equals
    * counting strings up to 2⁻⁶⁵-scale collisions, and the string-keyed
    * oracle certifies it on every driver run.
    */
  def repetitionSignals(df0: DataFrame, idCol: String, textCol: String): DataFrame = {
    val df = graft.plan.Parallelism.ensureIngestParallelism(df0, Seq(col(idCol)))
    val toks = TF.tokens(col(textCol))
    // each gram array is built in exactly ONE plan branch (`transform`
    // is interpreted — CodegenFallback — so duplicated or struct-tagged
    // gram construction dominates wall time; measured 4× on this corpus)
    def gramStats(n: Int): DataFrame = {
      df.select(col(idCol).as("id"), explode(TF.windowHashes(toks, n)).as("h"))
        .groupBy("id", "h").agg(count(lit(1)).as("c"))
        .groupBy("id").agg(sum("c").as("total"), max("c").as("top"),
          count(lit(1)).as("nd"))
    }
    val bi = gramStats(2).select(col("id"),
      (col("top").cast("double") / col("total")).as("top_bigram_frac"))
    val tri = gramStats(3).select(col("id"),
      ((col("total") - col("nd")).cast("double") / col("total")).as("dup_trigram_frac"))
    df.select(col(idCol).as("id"), size(toks).cast("long").as("n_tokens"))
      .join(bi, Seq("id"), "left")
      .join(tri, Seq("id"), "left")
      .select(col("id"), col("n_tokens"),
        coalesce(col("top_bigram_frac"), lit(0.0)).as("top_bigram_frac"),
        coalesce(col("dup_trigram_frac"), lit(0.0)).as("dup_trigram_frac"))
  }

  /** Script/stopword language-ID heuristic (n-gram profiles degenerate
    * to this on the synthetic corpus): CJK / Cyrillic / Arabic scripts
    * by Unicode range, then Latin languages by marker stopwords,
    * defaulting to English. Deterministic and SQL-mirrorable for the
    * oracle.
    */
  def langId(text: Column): Column = {
    val lower_ = lower(text)
    when(text.rlike("[\\u4e00-\\u9fff]"), lit("zh"))
      .when(text.rlike("[\\u0400-\\u04ff]"), lit("ru"))
      .when(text.rlike("[\\u0600-\\u06ff]"), lit("ar"))
      .when(lower_.rlike("(^| )(der|die|das|und|nicht|ist)( |$)"), lit("de"))
      .when(lower_.rlike("(^| )(le|la|les|et|est|une)( |$)"), lit("fr"))
      .when(lower_.rlike("(^| )(el|los|las|es|una|y)( |$)"), lit("es"))
      .otherwise(lit("en"))
  }

  /** Order-sensitive 64-bit document fingerprint (rolling hash). */
  def fingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), TF.rollingFingerprint(TF.tokens(col(textCol))).as("fingerprint"))

  /** Within-corpus n-gram novelty: the fraction of a document's
    * distinct word n-grams that appear in NO other document — the
    * inverse of the duplicated-substring signal (a doc of all-novel
    * shingles is original content; near-zero novelty means the doc is
    * assembled from text the corpus already has).
    *
    * ONE corpus-scale shuffle: shingles are distinct per doc, so a
    * df=1 shingle's single (id, hash) row already names its owning
    * document — `min(id)` rides the document-frequency aggregate and
    * the classic "join frequencies back to the shingle relation"
    * second corpus pass (a sort-merge join over every exploded
    * shingle) disappears. Per-doc totals come from `size()` of the
    * shingle array on the un-exploded side, and the final join is
    * doc-scale (≤ one row per document on each side), not
    * shingle-scale. The shared shingle frame is eagerly checkpointed:
    * both branches read one tokenize+shingle pass, and at 100 TB the
    * persisted (id, 8-byte-hash array) rows are a fraction of the raw
    * text they replace. Returns (id, n_shingles, novel_shingles,
    * novelty) for documents with ≥ 1 shingle.
    */
  def novelty(df0: DataFrame, idCol: String, textCol: String,
              n: Int = 6): DataFrame = {
    import graft.plan._
    val df = graft.plan.Parallelism.ensureIngestParallelism(df0, Seq(col(idCol)))
    // 8-byte xxhash64 shingle keys (each the hash of its shingle
    // string, distinct per doc), not the shingle strings — the
    // corpus-scale shuffle carries ~5× fewer bytes (same stance as
    // Decontaminate/Dedup; the driver's string-keyed SQL oracle
    // certifies collision-freedom on every run)
    // EAGER ckpt: the two consumers (totals + explode) are concurrent —
    // both branches sit under ONE action, so a lazy persist races and
    // each partition computes twice with block-lock contention
    // (measured at sf1: 80 vs 38 core-sec, 48 s vs 12 s wall).
    // The ≥1-shingle filter comes AFTER the ckpt, deliberately: its
    // predicate references the shingle hashes, and placed before the
    // ckpt Catalyst pushes it through the ingest-guard exchange down to
    // the scan — the (possibly single-split) map side then computes the
    // FULL tokenize + shingle pass just to evaluate the filter and the reduce
    // side recomputes it for the projection (measured at sf1: 74
    // core-sec, 38 of them in one map task, 47 s wall). The ckpt leaf
    // stops the pushdown; post-ckpt the filter is a trivial size()
    // probe of the persisted arrays.
    val withSh = df.select(col(idCol).as("id"),
        array_distinct(TF.windowHashes(TF.tokens(col(textCol)), n)).as("__sh"))
      .ckpt()
      .filter(size(col("__sh")) >= 1)
    val novel = withSh.select(col("id"), explode(col("__sh")).as("s"))
      .groupBy("s").agg(count(lit(1)).as("__df"), min(col("id")).as("__owner"))
      .filter(col("__df") === 1)
      .groupBy(col("__owner").as("id"))
      .agg(count(lit(1)).as("novel_shingles"))
    withSh.select(col("id"), size(col("__sh")).cast("long").as("n_shingles"))
      .join(novel, Seq("id"), "left")
      .withColumn("novel_shingles", coalesce(col("novel_shingles"), lit(0L)))
      .withColumn("novelty",
        round(col("novel_shingles").cast("double") / col("n_shingles"), 6))
  }

  /** Per-document PII COUNT signals — the audit face of [[redact]]
    * (curation pipelines report and threshold on PII density before
    * deciding to redact or drop): non-overlapping match counts of the
    * same three portable patterns redact rewrites (emails, IPv4
    * addresses, ≥6-digit runs) plus the aggregate has_pii flag. Pure
    * codegen'd regexp_count columns over the scan — zero shuffles; the
    * patterns avoid lookarounds so Java regex and RE2 count
    * identically.
    */
  def piiSignals(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val text = col(textCol)
    df.select(
      col(idCol),
      regexp_count(text, lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"))
        .cast("long").as("n_emails"),
      regexp_count(text, lit("\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"))
        .cast("long").as("n_ips"),
      regexp_count(text, lit("\\d{6,}")).cast("long").as("n_long_numbers"))
      .withColumn("has_pii",
        col("n_emails") + col("n_ips") + col("n_long_numbers") > 0)
  }

  /** Sliding token-window chunking — the standard long-document
    * preparation step for embedding/training pipelines (HF tokenizers'
    * `return_overflowing_tokens` convention): chunk i covers tokens
    * [i·stride, i·stride + size); starts advance by `stride` until a
    * chunk reaches the document's end, so the final chunk may be short
    * but no start lies beyond the text and overlap = size − stride is
    * uniform. Zero-token documents emit no chunks. Returns
    * (id, chunk_idx, n_tokens, chunk_text).
    *
    * Plan shape at 100 TB: pure per-row compute — tokenize, a
    * `sequence`/`transform` over chunk starts, one in-partition
    * posexplode; NO shuffle anywhere, so the operator scales with scan
    * bandwidth and composes with any downstream keyed op (which pays
    * the first shuffle).
    */
  def chunk(df: DataFrame, idCol: String, textCol: String,
            size: Int = 16, stride: Int = 12): DataFrame = {
    require(size > 0 && stride > 0, "size and stride must be positive")
    val toks = df.select(col(idCol).as("id"), TF.tokens(col(textCol)).as("__toks"))
      .withColumn("__n", org.apache.spark.sql.functions.size(col("__toks")))
      .filter(col("__n") > 0)
    // nChunks = 1 + ceil(max(0, n − size) / stride)
    val nChunks = (lit(1) +
      ceil(greatest(col("__n") - size, lit(0)).cast("double") / stride).cast("int"))
    toks
      .select(col("id"), col("__toks"),
        posexplode(transform(sequence(lit(0), nChunks - 1),
          i => slice(col("__toks"), i * stride + 1, lit(size)))))
      .select(col("id"), col("pos").cast("long").as("chunk_idx"),
        org.apache.spark.sql.functions.size(col("col")).cast("long").as("n_tokens"),
        array_join(col("col"), " ").as("chunk_text"))
  }

  /** Per-document top-k TF-IDF keywords (classic smoothed idf =
    * ln((1+N)/(1+df)) + 1 over the corpus itself). Scores are rounded
    * to 6 decimals BEFORE ranking so the (score desc, term asc) order —
    * and therefore the cut — is reproducible across engines regardless
    * of last-ulp ln() differences. Returns (id, rank, term, score).
    *
    * Plan shape at 100 TB: two hash aggregations with map-side
    * partials — (doc, term) tf and term df — then one term-keyed
    * equi-join (vocabulary-scale: NOT broadcast, AQE-skew-splittable)
    * and a per-document top-k window partitioned on the document key.
    * Nothing driver-side; the df relation is Zipf-skewed but the join
    * is candidate-linear in the exploded token count.
    */
  def keywords(df0: DataFrame, idCol: String, textCol: String,
               k: Int = 3): DataFrame = {
    val df = graft.plan.Parallelism.ensureIngestParallelism(df0, Seq(col(idCol)))
    val nDocs = df.count() // one cheap count job; N is a scalar in the idf
    val terms = df.select(col(idCol).as("id"),
        explode(TF.tokens(col(textCol))).as("term"))
    val tf = terms.groupBy("id", "term").agg(count(lit(1)).as("__tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("__df"))
    val scored = tf.join(dfreq, Seq("term"))
      .withColumn("score", round(col("__tf") *
        (log((lit(1.0) + nDocs) / (lit(1.0) + col("__df"))) + 1.0), 6))
    graft.operators.TopK.perGroup(scored, Seq("id"),
        Seq(col("score").desc, col("term").asc), k, rankCol = Some("rank"))
      .select(col("id"), col("rank").cast("long").as("rank"),
        col("term"), col("score"))
  }

  /** PII redaction for training corpora: emails, IPv4 addresses, then
    * long digit runs (ids/phones/accounts) are replaced with typed
    * placeholder tokens, in that order (an email would otherwise lose
    * its digits to the number rule first). Patterns stay in the portable
    * regex subset (no lookarounds), so the same expressions run under
    * Java regex and RE2 — and the chain is three codegen'd
    * regexp_replace calls over the scan, no UDFs.
    */
  def redact(text: Column): Column = {
    val email = regexp_replace(text, "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val ip = regexp_replace(email, "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>")
    regexp_replace(ip, "\\d{6,}", "<NUM>")
  }
}
