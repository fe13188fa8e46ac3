package graft.search

import graft.plan._
import graft.functions.{TextFunctions => TF}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Full-text search: persisted inverted index + BM25 scoring + boolean
  * query AST.
  *
  * The reference builds a persistent inverted index per FTS index
  * (`::fts create`; build/search cozo-core/src/fts/indexing.rs:62-298),
  * parses queries into And/Or/Not/Near nodes (fts/ast.rs:45-60), and
  * pipes text through tokenizer filters (fts/mod.rs:139-238). Spark-first:
  *   - the index is a (term, id, tf, positions) DataFrame built ONCE
  *     (`Index.build`) and reused across searches — bucketable by term
  *     at scale so a query touches only its terms' partitions;
  *   - the query AST compiles to doc-set algebra: AND = equi-join,
  *     OR = union, NOT = anti-join, NEAR = position-array window check;
  *   - scoring is one join + groupBy over the query's positive terms.
  */
object Fts {

  // ———————————————————————— query AST (fts/ast.rs) ————————————————————————

  sealed trait Q
  /** A literal: one term after tokenization, with the reference's
    * per-literal attributes (fts/ast.rs FtsLiteral) — `prefix` =
    * `word*` (matched by term RANGE, never tokenized), `boost` =
    * `^2.5` (multiplies the literal's score in the reference scorer;
    * the BM25 scorer ignores it). */
  final case class Term(t: String, prefix: Boolean = false,
                        boost: Double = 1.0) extends Q
  final case class And(qs: Seq[Q]) extends Q
  final case class Or(qs: Seq[Q]) extends Q
  final case class Not(pos: Q, neg: Q) extends Q
  /** All literals occur within a token window of `dist` (chained
    * pairwise in the reference scorer, anchor-style in BM25). */
  final case class Near(ts: Seq[Term], dist: Int = 10) extends Q

  /** Positive terms of a query: those whose presence should score
    * (everything not strictly under the negated side of a NOT). */
  def positiveTerms(q: Q): Seq[String] = positiveLits(q).map(_.t)

  /** Positive LITERALS (prefix flags preserved — a `word*` literal
    * scores through its whole expansion, not an exact-string lookup). */
  def positiveLits(q: Q): Seq[Term] = q match {
    case t: Term => Seq(t)
    case And(qs) => qs.flatMap(positiveLits)
    case Or(qs) => qs.flatMap(positiveLits)
    case Not(pos, _) => positiveLits(pos)
    case Near(ts, _) => ts
  }

  /** Every term the evaluation touches, negated sides included (a
    * NOT's exclusion set still reads its postings). */
  def allTerms(q: Q): Seq[String] = q match {
    case Term(t, _, _) => Seq(t)
    case And(qs) => qs.flatMap(allTerms)
    case Or(qs) => qs.flatMap(allTerms)
    case Not(pos, neg) => allTerms(pos) ++ allTerms(neg)
    case Near(ts, _) => ts.map(_.t)
  }

  // ———————————————————— tokenizer pipeline (fts/mod.rs:77-238) ————————————————————

  /** Tokenizer + filter chain configuration, mirroring the reference's
    * construct_tokenizer / construct_token_filter surface: tokenizers
    * Raw / Simple / Whitespace / NGram(min, max, prefix_only) /
    * Cangjie(kind) (jieba-style dict segmentation, [[Cangjie]]);
    * filters Lowercase, AsciiFolding, AlphaNumOnly, RemoveLong(limit),
    * SplitCompoundWords(list), Stopwords(code | list), Stemmer(lang)
    * (Snowball, 11 languages via [[Stemmers.forLanguage]]; `stem` is
    * the legacy regexp-chain light stemmer).
    */
  final case class Pipeline(tokenizer: String = "Simple",
                            minGram: Int = 1, maxGram: Int = 1, prefixOnly: Boolean = false,
                            lowercase: Boolean = true, asciiFolding: Boolean = false,
                            removeLong: Option[Int] = None,
                            stopwords: Boolean = false, stem: Boolean = false,
                            snowball: Boolean = false,
                            cangjieKind: String = "default",
                            cangjieHmm: Boolean = false,
                            alphaNumOnly: Boolean = false,
                            compoundWords: Seq[String] = Nil,
                            stemLang: String = "english",
                            stopList: Option[Seq[String]] = None) {
    /** Stopword list in effect when `stopwords` is set: the explicit /
      * per-language list from `Stopwords(...)`, else the English
      * default (legacy boolean form). An explicitly EMPTY list stays
      * empty — `Stopwords([])` means "remove nothing", not "use the
      * English default". */
    def effectiveStopwords: Seq[String] = stopList.getOrElse(stopwordsEn)
  }

  /** Light English stemmer (suffix stripping): conflates plural /
    * participle / common derivational variants consistently between
    * index and query. Kept alongside the full [[Snowball]] stemmer
    * because this one is a pure regexp chain — whole-stage codegen on
    * the index side AND mirrorable in a SQL oracle, which the
    * conditional-region Porter2 is not. `::fts create`'s Stemmer filter
    * uses Snowball (reference parity); this remains the oracle-friendly
    * option. KEEP IN SYNC with [[stemLightStr]]. */
  def stemLight(t: Column): Column = {
    val r0 = regexp_replace(t, "(ational)$", "ate")
    val r1 = regexp_replace(r0, "(ization|isation)$", "ize")
    val r2 = regexp_replace(r1, "(fulness|ousness|iveness)$", "")
    val r3 = regexp_replace(r2, "(sses|ies)$", "ss")
    val r4 = regexp_replace(r3, "([^s])s$", "$1")
    val r5 = regexp_replace(r4, "(...)(ement|ments|ment|ness)$", "$1")
    val r6 = regexp_replace(r5, "(..)(ed|ing|ingly|edly)$", "$1")
    regexp_replace(r6, "(..)ly$", "$1")
  }

  /** Driver-side mirror of [[stemLight]] for query terms. */
  def stemLightStr(t: String): String = {
    val r0 = t.replaceAll("(ational)$", "ate")
    val r1 = r0.replaceAll("(ization|isation)$", "ize")
    val r2 = r1.replaceAll("(fulness|ousness|iveness)$", "")
    val r3 = r2.replaceAll("(sses|ies)$", "ss")
    val r4 = r3.replaceAll("([^s])s$", "$1")
    val r5 = r4.replaceAll("(...)(ement|ments|ment|ness)$", "$1")
    val r6 = r5.replaceAll("(..)(ed|ing|ingly|edly)$", "$1")
    r6.replaceAll("(..)ly$", "$1")
  }

  /** FTS stopword list (~120 English function words). Deliberately
    * separate from TextAnalysis.stopwordsEn — that 15-word list is part
    * of the quality-score contract with its oracle. */
  val stopwordsEn: Seq[String] = Seq(
    "a", "about", "above", "after", "again", "against", "all", "am", "an", "and",
    "any", "are", "as", "at", "be", "because", "been", "before", "being", "below",
    "between", "both", "but", "by", "can", "could", "did", "do", "does", "doing",
    "down", "during", "each", "few", "for", "from", "further", "had", "has",
    "have", "having", "he", "her", "here", "hers", "him", "his", "how", "i", "if",
    "in", "into", "is", "it", "its", "just", "me", "more", "most", "my", "no",
    "nor", "not", "now", "of", "off", "on", "once", "only", "or", "other", "our",
    "ours", "out", "over", "own", "same", "she", "should", "so", "some", "such",
    "than", "that", "the", "their", "theirs", "them", "then", "there", "these",
    "they", "this", "those", "through", "to", "too", "under", "until", "up",
    "very", "was", "we", "were", "what", "when", "where", "which", "while", "who",
    "whom", "why", "will", "with", "would", "you", "your", "yours")

  /** Latin-1 letters that do NOT decompose to base + combining mark
    * (ascii_folding_filter.rs:1581 latin1 expectations — ligatures and
    * special letters expand to multi-char ASCII). */
  private val latin1Expansions: Seq[(String, String)] = Seq(
    "Æ" -> "AE", "æ" -> "ae", "Œ" -> "OE", "œ" -> "oe", "Ĳ" -> "IJ", "ĳ" -> "ij",
    "Ø" -> "O", "ø" -> "o", "Þ" -> "TH", "þ" -> "th", "Ð" -> "D", "ð" -> "d",
    "ß" -> "ss", "ﬁ" -> "fi", "ﬂ" -> "fl", "Đ" -> "D", "đ" -> "d",
    "Ł" -> "L", "ł" -> "l")
  def asciiFoldStr(s: String): String = {
    if (s == null) return null
    val expanded = latin1Expansions.foldLeft(s) { case (acc, (from, to)) =>
      acc.replace(from, to)
    }
    java.text.Normalizer.normalize(expanded, java.text.Normalizer.Form.NFD)
      .replaceAll("\\p{M}+", "")
  }
  private lazy val asciiFoldUdf = udf((s: String) => asciiFoldStr(s))
  def asciiFold(c: Column): Column = asciiFoldUdf(c)

  /** Tokenize a text column through a [[Pipeline]] — the single
    * implementation both index build and query normalization share. */
  /** LSH shingles — the reference's unique_ngrams
    * (fts/tokenizer/tokenizer_impl.rs:105-123): TOKEN n-grams through
    * the index's tokenizer pipeline (not character n-grams). n = 1 →
    * the token set; n ≥ token count → ONE shingle of the whole token
    * list (an empty text is one empty shingle — empty docs match each
    * other); else the distinct sliding windows. Window tokens join
    * with U+0001, which no tokenizer emits. */
  def lshShingles(text: Column, p: Pipeline, n: Int): Column =
    // Let.once: the window lambda would otherwise re-run the whole
    // tokenizer pipeline per window (quadratic -- see Let)
    graft.functions.Let.once(tokenizeWith(text, p)) { toks =>
      when(lit(n) >= size(toks), array(concat_ws("\u0001", toks)))
        .otherwise(array_distinct(transform(sequence(lit(1), size(toks) - n + 1),
          i => concat_ws("\u0001", slice(toks, i, lit(n))))))
    }

  /** Driver-side mirror of [[lshShingles]] for a constant query. */
  def lshShinglesStr(s: String, p: Pipeline, n: Int): Seq[String] = {
    val toks = tokenizeTermStr(s, p)
    if (n >= toks.length) Seq(toks.mkString("\u0001"))
    else toks.sliding(n).map(_.mkString("\u0001")).toSeq.distinct
  }

  def tokenizeWith(text: Column, p: Pipeline): Column = {
    val folded = if (p.asciiFolding) asciiFold(text) else text
    val lowered = if (p.lowercase) lower(folded) else folded
    val base: Column = p.tokenizer match {
      case "Raw" => array(lowered)
      case "Whitespace" => filter(split(lowered, "\\s+"), t => length(t) > 0)
      case "NGram" =>
        // tantivy ngram tokenizes the raw text stream: all n-grams for
        // n in [min_gram, max_gram], or only prefixes when prefix_only
        // Let.once: the gram lambdas would otherwise re-lowercase the
        // raw text per gram position (quadratic — see Let)
        graft.functions.Let.once(lowered) { lc =>
          val grams = (p.minGram to p.maxGram).map { n =>
            if (p.prefixOnly) when(length(lc) >= n, array(lc.substr(lit(1), lit(n))))
              .otherwise(array().cast("array<string>"))
            else when(length(lc) >= n,
              transform(sequence(lit(1), length(lc) - n + 1), i => lc.substr(i, lit(n))))
              .otherwise(array().cast("array<string>"))
          }
          grams.reduce(concat(_, _))
        }
      case "Cangjie" =>
        // jieba-style CJK dictionary segmentation (fts/mod.rs:109-139);
        // the trie DP isn't a Column expression, so this tokenizer is a
        // per-document UDF like the reference's per-document tantivy call
        val kind = p.cangjieKind
        val hmm = p.cangjieHmm
        udf((s: String) => Cangjie.cut(s, kind, hmm)).apply(lowered)
      case _ => // Simple: split on non-alphanumeric
        graft.functions.TextFunctions.alnumRuns(lowered)
    }
    val alnum =
      if (p.alphaNumOnly) filter(base, t => t.rlike("^[\\p{L}\\p{N}]+$"))
      else base
    val decompounded =
      if (p.compoundWords.isEmpty) alnum
      else {
        val words = p.compoundWords.toSet
        udf((arr: Seq[String]) =>
          if (arr == null) null else arr.flatMap(splitCompound(_, words))).apply(alnum)
      }
    val notLong = p.removeLong.fold(decompounded)(n => filter(decompounded, t => length(t) < n))
    val stopped = if (p.stopwords) {
      val sw = array(p.effectiveStopwords.map(lit): _*)
      filter(notLong, t => !array_contains(sw, t))
    } else notLong
    if (p.snowball) snowballArr(p.stemLang)(stopped)
    else if (p.stem) transform(stopped, stemLight(_))
    else stopped
  }

  /** Column-side Snowball over a token array. Porter2's conditional
    * regions aren't expressible as a regexp chain, so this one filter
    * is a (vectorized per-array) Scala UDF — applied once per document
    * at index build, never in a per-row probe loop. KEEP the query side
    * ([[tokenizeTermStr]]) on the identical stemmer (dispatch by
    * language through [[Stemmers.forLanguage]]). */
  private def snowballArr(lang: String) =
    udf { (arr: Seq[String]) =>
      if (arr == null) null
      else {
        val f = Stemmers.forLanguage(lang).getOrElse(Snowball.stem(_: String))
        arr.map(f)
      }
    }

  /** SplitCompoundWords (fts/mod.rs:153, tantivy semantics): a token
    * that decomposes ENTIRELY into two or more dictionary words is
    * replaced by its parts; anything else passes through unchanged.
    * Longest-part-first decomposition with backtracking (greedy on the
    * part boundary, exact on the all-or-nothing requirement). */
  private[search] def splitCompound(t: String, words: Set[String]): Seq[String] = {
    if (t == null || words.isEmpty) return Seq(t)
    val maxLen = words.iterator.map(_.length).max
    def decompose(from: Int): Option[List[String]] =
      if (from == t.length) Some(Nil)
      else (math.min(maxLen, t.length - from) to 1 by -1).iterator.flatMap { len =>
        val part = t.substring(from, from + len)
        if (words.contains(part)) decompose(from + len).map(part :: _) else None
      }.nextOption()
    decompose(0) match {
      case Some(parts) if parts.length >= 2 => parts
      case _ => Seq(t)
    }
  }

  /** Driver-side mirror of [[tokenizeWith]] for a single query term:
    * returns the term's token(s) after the index's pipeline — several
    * for an NGram index (the term's grams), none if stopworded. */
  def tokenizeTermStr(t0: String, p: Pipeline): Seq[String] = {
    val folded = if (p.asciiFolding) asciiFoldStr(t0) else t0
    val t = if (p.lowercase) folded.toLowerCase else folded
    val toks: Seq[String] = p.tokenizer match {
      case "NGram" =>
        (p.minGram to p.maxGram).flatMap { n =>
          if (t.length < n) Nil
          else if (p.prefixOnly) Seq(t.substring(0, n))
          else t.sliding(n).toSeq
        }
      case "Cangjie" => Cangjie.cut(t, p.cangjieKind, p.cangjieHmm)
      case "Raw" => Seq(t)
      case "Whitespace" => t.split("\\s+").toSeq.filter(_.nonEmpty)
      // Simple — splits like the index side (tokenizeWith); a
      // multi-word phrase GROUP reaches here whole since the parser
      // keeps the reference's fts_phrase_group as one literal
      case _ => t.split("[^\\p{L}\\p{N}]+").toSeq.filter(_.nonEmpty)
    }
    val alnum =
      if (p.alphaNumOnly) toks.filter(_.matches("^[\\p{L}\\p{N}]+$")) else toks
    val decompounded =
      if (p.compoundWords.isEmpty) alnum
      else { val ws = p.compoundWords.toSet; alnum.flatMap(splitCompound(_, ws)) }
    val notLong = p.removeLong.fold(decompounded)(n => decompounded.filter(_.length < n))
    val stopped =
      if (p.stopwords) { val sw = p.effectiveStopwords.toSet; notLong.filterNot(sw.contains) }
      else notLong
    if (p.snowball) {
      val f = Stemmers.forLanguage(p.stemLang).getOrElse(Snowball.stem(_: String))
      stopped.map(f)
    } else if (p.stem) stopped.map(stemLightStr)
    else stopped
  }

  /** Legacy boolean-flag entry point (Simple tokenizer). */
  def tokenize(text: Column, stopwords: Boolean = false, stem: Boolean = false): Column =
    tokenizeWith(text, Pipeline(stopwords = stopwords, stem = stem))

  // ———————————————————————— persisted index ————————————————————————

  /** A built inverted index: reuse across searches (indexing.rs builds
    * once, searches many — round-1 verdict flagged rebuild-per-call).
    * `postings`/`lens` are lazily checkpointed so the first search
    * materializes them and later searches reuse the blocks.
    */
  final case class Index(postings: DataFrame, lens: DataFrame, n: Double, avgdl: Double,
                         pipe: Pipeline)

  object Index {
    def build(docs: DataFrame, idCol: String, textCol: String,
              stopwords: Boolean = false, stem: Boolean = false): Index =
      build(docs, idCol, textCol, Pipeline(stopwords = stopwords, stem = stem))

    def build(docs: DataFrame, idCol: String, textCol: String, pipe: Pipeline): Index = {
      val postings = docPostings(docs, idCol, textCol, pipe).ckptLazy()
      val lens = docLens(docs, idCol, textCol, pipe).ckptLazy()
      val (n, avgdl) = lensStats(lens)
      Index(postings, lens, n, avgdl, pipe)
    }

    private def docPostings(docs: DataFrame, idCol: String, textCol: String,
                            pipe: Pipeline): DataFrame =
      docs.select(col(idCol).as("id"), posexplode(tokenizeWith(col(textCol), pipe)))
        .toDF("id", "pos", "term")
        .groupBy("id", "term")
        .agg(count(lit(1)).as("tf"), sort_array(collect_list(col("pos"))).as("positions"))

    private def docLens(docs: DataFrame, idCol: String, textCol: String,
                        pipe: Pipeline): DataFrame =
      docs.select(col(idCol).as("id"),
        size(tokenizeWith(col(textCol), pipe)).cast("double").as("dl"))

    private def lensStats(lens: DataFrame): (Double, Double) = {
      val stats = lens.agg(count(lit(1)).cast("double"), avg(col("dl"))).head()
      (stats.getDouble(0), if (stats.isNullAt(1)) 0.0 else stats.getDouble(1))
    }

    /** Per-row index maintenance: drop the postings/lens of the
      * mutated ids (broadcast anti-join — a map-side filter when the
      * changed-key set is small, which a point mutation is) and append
      * the freshly tokenized delta. O(|delta|) tokenization instead of
      * the full-corpus rebuild a cache drop costs — the reference does
      * the same inside the mutation transaction (fts/indexing.rs
      * del/put per changed row). `changedIds` must be a single-column
      * frame of `idCol`; `addedDocs` the post-mutation rows for those
      * ids (empty for a pure rm). Stats are re-aggregated from the
      * 2-column lens table, never from text. */
    def applyDelta(ix: Index, changedIds: DataFrame, addedDocs: DataFrame,
                   idCol: String, textCol: String): Index = {
      val ids = broadcast(changedIds.select(col(idCol).as("id")).dropDuplicates())
      val postings = ix.postings.join(ids, Seq("id"), "left_anti")
        .unionByName(docPostings(addedDocs, idCol, textCol, ix.pipe))
        .ckptLazy()
      val lens = ix.lens.join(ids, Seq("id"), "left_anti")
        .unionByName(docLens(addedDocs, idCol, textCol, ix.pipe))
        .ckptLazy()
      val (n, avgdl) = lensStats(lens)
      Index(postings, lens, n, avgdl, ix.pipe)
    }
  }

  /** Rewrite a query through the index's tokenizer pipeline — query
    * terms must pass through the IDENTICAL chain the index used
    * (same-pipeline-both-sides), else 'joins' misses the stemmed
    * posting 'join'. Stopworded terms vanish (an And keeps its other
    * conjuncts, like the reference dropping the token at tokenize
    * time); on an NGram index a term expands to the conjunction of its
    * grams (substring search). None = the whole query normalized away. */
  private[search] def normalizeQ(pipe: Pipeline, q: Q): Option[Q] = q match {
    // prefix literals are NEVER tokenized — the reference range-scans
    // the raw value (fts/ast.rs FtsLiteral::tokenize is_prefix branch)
    case t @ Term(_, true, _) => Some(t)
    case Term(t, _, b) => tokenizeTermStr(t, pipe) match {
      case Seq() => None
      case Seq(one) => Some(Term(one, boost = b))
      // each token of a multi-token literal keeps the literal's boost
      case many => Some(And(many.map(Term(_, boost = b))))
    }
    case And(qs) =>
      val ns = qs.flatMap(normalizeQ(pipe, _)); if (ns.isEmpty) None else Some(And(ns))
    case Or(qs) =>
      val ns = qs.flatMap(normalizeQ(pipe, _)); if (ns.isEmpty) None else Some(Or(ns))
    case Not(pos, neg) =>
      normalizeQ(pipe, pos).map(p => normalizeQ(pipe, neg).fold(p)(Not(p, _)))
    case Near(ts, d) =>
      val ns = ts.flatMap { l =>
        if (l.prefix) Seq(l)
        else tokenizeTermStr(l.t, pipe).map(Term(_, boost = l.boost))
      }
      if (ns.isEmpty) None
      else if (ns.length == 1) Some(ns.head)
      else Some(Near(ns, d))
  }

  /** Postings rows of one literal: term equality, or a term-prefix
    * range for `word*` literals (fts/indexing.rs:62-84 range scan). */
  private def literalPostings(ix: Index, l: Term): DataFrame =
    if (l.prefix) ix.postings.filter(col("term").startsWith(l.t))
    else ix.postings.filter(col("term") === l.t)

  /** Doc ids matching the query node (terms already normalized). */
  private def matchSet(ix: Index, q: Q): DataFrame = q match {
    case t: Term => literalPostings(ix, t).select("id").distinct()
    case And(qs) => qs.map(matchSet(ix, _)).reduce((a, b) => a.join(b, Seq("id"), "left_semi"))
    case Or(qs) => qs.map(matchSet(ix, _)).reduce(_ union _).distinct()
    case Not(pos, neg) => matchSet(ix, pos).join(matchSet(ix, neg), Seq("id"), "left_anti")
    case Near(ts, dist) =>
      val sets = ts.zipWithIndex.map { case (t, i) =>
        literalPostings(ix, t)
          .groupBy("id")
          .agg(array_sort(flatten(collect_list(col("positions")))).as(s"__p$i"))
      }
      val joined = sets.reduce((a, b) => a.join(b, Seq("id")))
      // anchor on term 0's occurrences: every other term has an
      // occurrence within `dist`
      val cond = (1 until ts.length).map { i =>
        (x: Column) => exists(col(s"__p$i"), y => abs(y - x) <= lit(dist))
      }
      joined.filter(exists(col("__p0"), x => cond.map(_(x)).reduce(_ && _))).select("id")
  }

  /** BM25 scores of docs matching the boolean query; score sums over
    * the query's positive terms. This is OUR beyond-reference scorer
    * (the reference parses k1/b but never implemented BM25 —
    * program.rs:1000-1001 commented out); the script path defaults to
    * the reference-exact [[searchRef]] and reaches this via
    * `score_kind: 'bm25'`. Returns (id, score). */
  def search(ix: Index, q0: Q, k1: Double = 1.2, b: Double = 0.75): DataFrame =
    normalizeQ(ix.pipe, q0) match {
      // the query was entirely stopwords: nothing to score
      case None => ix.lens.limit(0).select(col("id"), lit(0.0).as("score"))
      case Some(q) => scoreNormalized(ix, q, k1, b)
    }

  /** The reference's ACTUAL scorer (fts/indexing.rs:110-247): a
    * literal scores tf·idf·boost where idf = ln(1 + (N − df + 0.5) /
    * (df + 0.5)) over the literal's FOUND-ENTRY count and N = corpus
    * rows (`score_kind: 'tf'` drops the idf); And intersects and
    * SUMS, Or unions and takes the MAX, Not removes, Near chains
    * pairwise position windows with the literals' boosters SUMMED and
    * a node-level df. Returns ALL matching (id, score) — the caller
    * cuts k after its filter, exactly like fts_search
    * (indexing.rs:271-276). */
  def searchRef(ix: Index, q0: Q, scoreKind: String = "tf_idf"): DataFrame =
    normalizeQ(ix.pipe, q0) match {
      case None => ix.lens.limit(0).select(col("id"), lit(0.0).as("score"))
      case Some(q) => searchRefNormalized(ix, q, scoreKind)
    }

  private def searchRefNormalized(ix: Index, q: Q, kind: String): DataFrame = {
    require(Seq("tf_idf", "tf").contains(kind), s"unknown FTS score_kind: $kind")
    def idfScore(tf: Column, df: Column, boost: Double): Column =
      if (kind == "tf") tf * lit(boost)
      else tf * log(lit(1.0) + (lit(ix.n) - df + 0.5) / (df + 0.5)) * lit(boost)
    def eval(node: Q): DataFrame = node match {
      case t: Term =>
        val posts = literalPostings(ix, t)
        // per-literal stats iterate entries in (term, doc) order and
        // the LAST insert wins per doc (indexing.rs:119-130
        // FxHashMap::insert) — for a prefix literal matching several
        // of a doc's terms, that is the largest term; df counts
        // ENTRIES, not docs (found_docs_len)
        val perDoc = posts.groupBy("id")
          .agg(max(struct(col("term"), col("tf"))).getField("tf").cast("double").as("__tf"))
        val dfS = posts.agg(count(lit(1)).cast("double").as("__df"))
        perDoc.crossJoin(broadcast(dfS))
          .select(col("id"), idfScore(col("__tf"), col("__df"), t.boost).as("score"))
      case And(qs) =>
        qs.map(eval).reduce((a, b) =>
          a.withColumnRenamed("score", "__sa")
            .join(b.withColumnRenamed("score", "__sb"), Seq("id"))
            .select(col("id"), (col("__sa") + col("__sb")).as("score")))
      case Or(qs) =>
        qs.map(eval).reduce(_ unionByName _)
          .groupBy("id").agg(max(col("score")).as("score"))
      case Not(pos, neg) =>
        eval(pos).join(eval(neg).select("id"), Seq("id"), "left_anti")
      case Near(ts, dist) =>
        // chained pairwise windows (indexing.rs:163-219): a running
        // position p survives when the next literal occurs at c > p
        // within dist (keep p) or at c <= p within dist (keep c); tf
        // = surviving positions, df = surviving DOCS, booster = sum
        // of the literals' boosters. A prefix literal's per-doc entry
        // is its FIRST (smallest) term — the chaining pairs each doc
        // once and drops later entries (coll.remove).
        val frames = ts.zipWithIndex.map { case (t, i) =>
          literalPostings(ix, t)
            .groupBy("id").agg(min(struct(col("term"), col("positions")))
              .getField("positions").as(s"__p$i"))
        }
        val d = lit(dist)
        var cur = frames.head.withColumnRenamed("__p0", "__run")
        for (i <- 1 until ts.length) {
          cur = cur.join(frames(i), Seq("id"))
            .withColumn("__run", array_distinct(concat(
              filter(col("__run"), p => exists(col(s"__p$i"), c => c > p && c - p <= d)),
              filter(col(s"__p$i"), c => exists(col("__run"), p => c <= p && p - c <= d)))))
            .filter(size(col("__run")) > 0)
            .drop(s"__p$i")
        }
        val matched = cur.select(col("id"), size(col("__run")).cast("double").as("__tf"))
        val dfS = matched.agg(count(lit(1)).cast("double").as("__df"))
        matched.crossJoin(broadcast(dfS))
          .select(col("id"),
            idfScore(col("__tf"), col("__df"), ts.map(_.boost).sum).as("score"))
    }
    eval(q)
  }

  /** BM25 scoring past normalization — `q`'s terms are already through
    * the index pipeline. */
  private def scoreNormalized(ix: Index, q: Q, k1: Double, b: Double): DataFrame = {
    val lits = positiveLits(q).map(l => (l.t, l.prefix)).distinct
      .map { case (t, p) => Term(t, p) }
    val matched = matchSet(ix, q)
    // per-literal postings (prefix literals range-expand); a term
    // matched by several literals still counts once per (doc, term)
    val termPost = lits.map(literalPostings(ix, _))
      .reduce(_ unionByName _).dropDuplicates("id", "term")
    val termDf = termPost.groupBy("term").agg(count_distinct(col("id")).as("df"))
    termPost
      .join(matched, Seq("id"), "left_semi")
      .join(broadcast(termDf), Seq("term"))
      .join(ix.lens, Seq("id"))
      .withColumn("idf", log(lit(1.0) + (lit(ix.n) - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("score_t",
        col("idf") * (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / lit(ix.avgdl))))
      .groupBy("id").agg(sum(col("score_t")).as("score"))
  }

  /** Left-stream-driven batch search (the reference's FtsSearchRA
    * resolves `query:` per left tuple, ra.rs:628-700): one BM25 top-k
    * per distinct query string, in as few plans as possible.
    * Operator-free queries — bare term bags and their And/Or flats
    * after normalization, the overwhelmingly common probe shape —
    * share ONE relational plan: a broadcast (query, term) relation
    * joins the postings once, AND-match semantics ride a per-query
    * conjunct count, and a single per-query top-k ranks everything.
    * Queries needing NOT/NEAR/nested semantics evaluate per distinct
    * value (the reference pays that per TUPLE; we pay it per distinct
    * string). Queries that normalize away (all stopwords) return no
    * rows, like the constant path. Returns (query, id, score). */
  def searchMany(ix: Index, queries: Seq[String], k: Int,
                 k1: Double = 1.2, b: Double = 0.75,
                 scoreKind: String = "tf_idf"): DataFrame = {
    require(Seq("tf_idf", "tf", "bm25").contains(scoreKind),
      s"unknown FTS score_kind: $scoreKind")
    val spark = ix.postings.sparkSession
    import spark.implicits._
    val (flats, others) = planMany(ix.pipe, queries)
    val batched: Seq[DataFrame] = if (flats.isEmpty) Seq.empty else {
      val qterms = flats.flatMap { case (q, (ts, isAnd)) =>
        // bm25 keeps its legacy distinct-term sum; the reference
        // kinds keep DUPLICATE literals (an And of the same literal
        // twice sums it twice, indexing.rs:133-147) and their boosts
        val d = if (scoreKind == "bm25") ts.map(t => (t.t, 1.0)).distinct
                else ts.map(t => (t.t, t.boost))
        d.map { case (t, bo) => (q, t, d.length, isAnd, bo) }
      }.toDF("__q", "term", "__nt", "__and", "__boost")
      val termPost = ix.postings
        .join(broadcast(qterms.select("term").distinct()), Seq("term"))
      // df is a per-term property of the INDEX — identical to the
      // single-query path's per-query computation
      val termDf = termPost.groupBy("term").agg(count_distinct(col("id")).as("df"))
      val scored0 = termPost
        .join(broadcast(termDf), Seq("term"))
        .join(broadcast(qterms), Seq("term"))
      val withScore = scoreKind match {
        case "bm25" => scored0.join(ix.lens, Seq("id"))
          .withColumn("idf", log(lit(1.0) + (lit(ix.n) - col("df") + 0.5) / (col("df") + 0.5)))
          .withColumn("score_t",
            col("idf") * (col("tf") * (k1 + 1)) /
              (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / lit(ix.avgdl))))
        case "tf" => scored0.withColumn("score_t", col("tf") * col("__boost"))
        case _ => scored0
          .withColumn("idf", log(lit(1.0) + (lit(ix.n) - col("df") + 0.5) / (col("df") + 0.5)))
          .withColumn("score_t", col("tf") * col("idf") * col("__boost"))
      }
      val agged = withScore
        .groupBy("__q", "id")
        .agg(sum(col("score_t")).as("__sum"), max(col("score_t")).as("__max"),
          count(lit(1)).as("__m"),
          first(col("__nt")).as("__nt"), first(col("__and")).as("__and"))
        .filter(!col("__and") || col("__m") === col("__nt"))
      // combine: And sums; the reference's Or takes the MAX
      // (indexing.rs:149-162); bm25 keeps the legacy sum for both
      val score = if (scoreKind == "bm25") col("__sum")
        else when(col("__and"), col("__sum")).otherwise(col("__max"))
      Seq(agged.select(col("__q").as("query"), col("id"), score.as("score")))
    }
    val looped = others.map { case (q, ast) =>
      val scored = if (scoreKind == "bm25") scoreNormalized(ix, ast, k1, b)
                   else searchRefNormalized(ix, ast, scoreKind)
      scored.select(lit(q).as("query"), col("id"), col("score"))
    }
    (batched ++ looped) match {
      case Seq() =>
        ix.lens.limit(0).select(lit("").as("query"), col("id"), lit(0.0).as("score"))
      case dfs =>
        graft.operators.TopK.perGroup(dfs.reduce(_ unionByName _), Seq("query"),
          Seq(col("score").desc, col("id").asc), k)
    }
  }

  /** The [[searchMany]] query plan, shared with [[DriverFts.searchMany]]:
    * distinct non-blank queries, normalized through `pipe`, split into
    * flat ones (an And/Or of bare non-prefix terms: (terms, isAnd)),
    * which share one batched plan, and the rest, which evaluate per
    * query. Queries that normalize away appear in neither. */
  private[search] def planMany(pipe: Pipeline, queries: Seq[String])
      : (Seq[(String, (Seq[Term], Boolean))], Seq[(String, Q)]) = {
    def flat(q: Q): Option[(Seq[Term], Boolean)] = q match {
      case t: Term if !t.prefix => Some((Seq(t), true))
      case And(qs) if qs.forall { case t: Term => !t.prefix; case _ => false } =>
        Some((qs.collect { case t: Term => t }, true))
      case Or(qs) if qs.forall { case t: Term => !t.prefix; case _ => false } =>
        Some((qs.collect { case t: Term => t }, false))
      case _ => None
    }
    val parsed = queries.distinct.filter(_.trim.nonEmpty)
      .flatMap(q => normalizeQ(pipe, parseQuery(q)).map(q -> _))
    (parsed.flatMap { case (q, ast) => flat(ast).map(q -> _) },
      parsed.filter { case (_, ast) => flat(ast).isEmpty })
  }

  /** Mini query-string parser: terms, AND/OR/NOT (left-assoc, AND binds
    * tighter), parentheses, NEAR(t1 t2 ..., k). */
  def parseQuery(s: String): Q = new QP(s).parse()

  /** [[parseQuery]], treating an empty/whitespace-only query as
    * matching nothing — the reference's fts_doc grammar accepts zero
    * terms and yields an empty conjunction (parse/fts.rs:19-31). */
  def parseQueryOpt(s: String): Option[Q] =
    if (s == null || s.trim.isEmpty) None else Some(parseQuery(s))

  private final class QP(s: String) {
    // the reference's fts grammar (cozoscript.pest:260-273 + the
    // PRATT precedence in parse/fts.rs:131-139): doc = expr+ (an And
    // when several); expr = term (op term)* with NOT binding LOOSEST,
    // then AND, then OR (spelled OR `,` `;`) binding TIGHTEST, all
    // left-associative; term = phrase | NEAR[/k](phrase+) | (expr+);
    // phrase = run-of-bare-words | quoted, then optional `*` prefix
    // marker and `^boost`. Legacy NEAR(a b, 5) comma-distance stays
    // accepted.
    private var i = 0
    private def ws(): Unit = { while (i < s.length && s.charAt(i).isWhitespace) i += 1 }
    private def peekWord(): String = {
      ws(); val j = i
      var k = j
      while (k < s.length && !s.charAt(k).isWhitespace
        && !"()^*,;/".contains(s.charAt(k))) k += 1
      s.substring(j, k)
    }
    private def word(): String = { val w = peekWord(); i += w.length; w }
    private val keywords = Set("AND", "OR", "NOT", "NEAR")
    private def atEnd: Boolean = { ws(); i >= s.length }
    private def peekIs(c: Char): Boolean = { ws(); i < s.length && s.charAt(i) == c }

    def parse(): Q = {
      val es = exprSeq()
      require(atEnd, s"trailing input at $i")
      require(es.nonEmpty, s"empty term at $i")
      if (es.length == 1) es.head else And(es)
    }

    /** expr+ — juxtaposed exprs And together (fts_doc / fts_grouped) */
    private def exprSeq(): Seq[Q] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Q]
      while (!atEnd && !peekIs(')')) out += expr(0)
      out.toSeq
    }

    /** precedence climbing over the reference's ladder:
      * NOT(0) < AND(1) < OR(2), left-assoc */
    private def prec(op: String): Int = op match {
      case "NOT" => 0
      case "AND" => 1
      case _ => 2 // OR , ;
    }
    private def peekOp(): Option[String] = {
      ws()
      if (i < s.length && (s.charAt(i) == ',' || s.charAt(i) == ';')) Some("OR-sym")
      else {
        val w = peekWord()
        if (w.equalsIgnoreCase("AND")) Some("AND")
        else if (w.equalsIgnoreCase("OR")) Some("OR")
        else if (w.equalsIgnoreCase("NOT")) Some("NOT")
        else None
      }
    }
    private def eatOp(op: String): Unit =
      if (op == "OR-sym") { ws(); i += 1 } else { word(); () }
    private def expr(minPrec: Int): Q = {
      var lhs = termNode()
      var go = true
      while (go) {
        peekOp() match {
          case Some(op0) =>
            val op = if (op0 == "OR-sym") "OR" else op0
            if (prec(op) < minPrec) go = false
            else {
              eatOp(op0)
              val rhs = expr(prec(op) + 1)
              lhs = op match {
                case "AND" => And(Seq(lhs, rhs))
                case "OR" => Or(Seq(lhs, rhs))
                case _ => Not(lhs, rhs)
              }
            }
          case None => go = false
        }
      }
      lhs
    }

    private def termNode(): Q = {
      ws()
      if (peekIs('(')) {
        i += 1
        val es = exprSeq()
        require(peekIs(')'), "expected )"); i += 1
        require(es.nonEmpty, "empty group")
        if (es.length == 1) es.head else And(es)
      } else if (peekWord().equalsIgnoreCase("NEAR")) {
        word()
        // reference form NEAR/3(...); distance defaults to 10
        var dist = 10
        ws()
        if (i < s.length && s.charAt(i) == '/') {
          i += 1
          val d = word()
          require(d.nonEmpty && d.forall(_.isDigit),
            s"NEAR distance must be a non-negative integer, got '$d'")
          dist = d.toInt
        }
        ws(); require(i < s.length && s.charAt(i) == '(', "NEAR needs (...)"); i += 1
        val ts = scala.collection.mutable.ArrayBuffer.empty[Term]
        var done = false
        while (!done) {
          ws()
          require(i < s.length, "unterminated NEAR(...) — expected )")
          if (s.charAt(i) == ')') { i += 1; done = true }
          else if (s.charAt(i) == ',') { // legacy NEAR(a b, 5)
            i += 1; ws()
            val d = word()
            require(d.nonEmpty && d.forall(_.isDigit),
              s"NEAR distance must be a non-negative integer, got '$d'")
            dist = d.toInt
          }
          else ts ++= nearPhrase()
        }
        require(ts.nonEmpty, "empty NEAR(...)")
        Near(ts.toSeq, dist)
      } else phrase()
    }

    /** One phrase inside NEAR: single bare word or quoted string (the
      * reference's fts_phrase; each keeps its own boost/prefix). A
      * bare-word GROUP would swallow the other NEAR operands, so NEAR
      * operands are single words/quotes. */
    private def nearPhrase(): Seq[Term] = {
      val t = phraseOne(groupWords = false)
      Seq(t)
    }

    /** A phrase term: maximal run of bare words as ONE literal (the
      * reference's fts_phrase_group — normalization tokenizes it), or
      * a quoted string; then `*` and `^boost`. */
    private def phrase(): Q = phraseOne(groupWords = true)

    private def phraseOne(groupWords: Boolean): Term = {
      ws()
      val text: String =
        if (i < s.length && (s.charAt(i) == '\'' || s.charAt(i) == '"')) {
          val q = s.charAt(i); i += 1
          val j = i
          while (i < s.length && s.charAt(i) != q) i += 1
          require(i < s.length, "unterminated quote")
          val t = s.substring(j, i); i += 1
          t
        } else {
          val parts = scala.collection.mutable.ArrayBuffer.empty[String]
          var go = true
          while (go) {
            val w = peekWord()
            if (w.isEmpty || keywords.contains(w.toUpperCase)) go = false
            else {
              parts += word()
              // a prefix/boost marker binds the group and ends it
              if (!groupWords || peekIs('*') || peekIs('^')) go = false
              else { ws(); if (i >= s.length || "();,".contains(s.charAt(i))) go = false }
            }
          }
          require(parts.nonEmpty, s"empty term at $i")
          parts.mkString(" ")
        }
      var prefix = false
      if (peekIs('*')) { i += 1; prefix = true }
      var boost = 1.0
      ws()
      if (i < s.length && s.charAt(i) == '^') {
        i += 1
        val j = i
        while (i < s.length && (s.charAt(i).isDigit || s.charAt(i) == '.')) i += 1
        require(i > j, "boost needs a number")
        boost = s.substring(j, i).toDouble
      }
      Term(text, prefix, boost)
    }
  }

  // ————————————————— on-disk index (cross-session) —————————————————

  /** Serialized index header: corpus stats + the tokenizer pipeline,
    * which MUST round-trip so query-side normalization matches the
    * index that was written. */
  private[search] final case class IndexMeta(n: Double, avgdl: Double,
                                             buckets: Int, pipe: Pipeline)

  /** Persist a built [[Index]] as parquet, postings partitioned by
    * xxhash64(term) bucket — the FTS analogue of [[graft.similarity.Ann.writeIndex]]'s
    * cell-partitioned codes. At 100 TB the layout is the point: a
    * probe's scan touches only the bucket directories its query terms
    * hash to (static partition pruning, plan-asserted in FtsSpec),
    * not the whole postings relation. The reference's FTS index is
    * durable the same way (fts/indexing.rs rows live in the storage
    * engine); the in-memory [[Index]] dies with the session. */
  def writeIndex(dir: String, ix: Index, buckets: Int = 64): Unit = {
    val spark = ix.postings.sparkSession
    import spark.implicits._
    ix.postings
      .withColumn("bucket", pmod(xxhash64(col("term")), lit(buckets)).cast("int"))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/postings")
    ix.lens.write.mode("overwrite").parquet(s"$dir/lens")
    Seq(IndexMeta(ix.n, ix.avgdl, buckets, ix.pipe)).toDS()
      .write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Load a persisted index wholesale (no pruning — for scans or
    * handing to [[search]] directly). */
  def readIndex(spark: org.apache.spark.sql.SparkSession, dir: String): Index = {
    import spark.implicits._
    val m = spark.read.parquet(s"$dir/meta").as[IndexMeta].head()
    Index(spark.read.parquet(s"$dir/postings").drop("bucket"),
      spark.read.parquet(s"$dir/lens"), m.n, m.avgdl, m.pipe)
  }

  /** Probe a persisted index: the query's terms (run through the
    * persisted pipeline) hash to a handful of bucket ids, which become
    * a STATIC partition filter on `dir/postings` — the scan reads
    * those directories only. Scoring past the pruned scan is
    * [[search]] verbatim. */
  def searchIndexed(spark: org.apache.spark.sql.SparkSession, dir: String,
                    query: String, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import spark.implicits._
    val m = spark.read.parquet(s"$dir/meta").as[IndexMeta].head()
    val lens = spark.read.parquet(s"$dir/lens")
    normalizeQ(m.pipe, parseQuery(query)) match {
      case None => lens.limit(0).select(col("id"), lit(0.0).as("score"))
      case Some(q) =>
        val terms = allTerms(q).distinct
        // tiny driver-side bucket-id collect, same stance as
        // Ann.probeIndex's cell list
        val bucketIds = spark.createDataset(terms)
          .select(pmod(xxhash64(col("value")), lit(m.buckets)).cast("int").as("b"))
          .distinct().as[Int].collect().toSeq
        val postings = spark.read.parquet(s"$dir/postings")
          .filter(col("bucket").isin(bucketIds: _*)).drop("bucket")
        scoreNormalized(Index(postings, lens, m.n, m.avgdl, m.pipe), q, k1, b)
    }
  }

  // ————————————————— legacy one-shot API (kept for compat) —————————————————

  /** Build the postings relation (term, id, tf) plus per-doc length. */
  def buildIndex(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"), explode(TF.tokens(col(textCol))).as("term"))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))

  def docLengths(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"), TF.tokenCount(col(textCol)).as("dl"))

  /** One-shot BM25 over OR of `queryTerms` (builds a throwaway index). */
  def searchBm25(docs: DataFrame, idCol: String, textCol: String,
                 queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val ix = Index.build(docs, idCol, textCol)
    search(ix, Or(queryTerms.map(Term(_))), k1, b)
  }
}
