package graft.search

import Fts._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.immutable.{HashMap, TreeMap}
import scala.collection.mutable

/** A driver-resident FTS index: the postings and per-document lengths
  * of [[Fts.Index]] held as immutable driver maps, plus a Scala
  * evaluator for every query shape [[Fts.searchRef]], [[Fts.search]]
  * and [[Fts.searchMany]] accept (Term, prefix, And, Or, Not, Near; the
  * `tf_idf`, `tf` and `bm25` score kinds). Small indexes are what
  * interactive probes hit, and for them the Spark job floor, not the
  * scoring, is the cost: a probe here runs no job at all.
  *
  * Every score is the distributed formula with the same operand order
  * (and `StrictMath.log`, which Spark's `log` uses), so results equal
  * the distributed branch's up to float summation order inside a
  * per-document sum. Tokens come from the same column expression
  * ([[Fts.tokenizeWith]]) through [[docTokens]]; positions and term
  * frequencies are derived from them exactly as `posexplode` + groupBy
  * derive them on the distributed side.
  *
  * Immutable: [[patch]] returns a new index and shares the unchanged
  * structure, so a concurrent reader always walks one consistent
  * snapshot.
  *
  * @param terms    term → (doc id → posting), ordered so a prefix
  *                 literal is one contiguous range
  * @param docTerms doc id → its distinct terms (to drop a doc's postings)
  * @param lens     doc id → token count (None when the text is null)
  */
final case class DriverFts(terms: TreeMap[String, HashMap[Any, DriverFts.Posting]],
                           docTerms: HashMap[Any, Array[String]],
                           lens: HashMap[Any, Option[Double]],
                           dlSum: Double, dlCount: Long, pipe: Pipeline) {
  import DriverFts._

  /** Corpus rows, as `count(1)` over the lens table counts them. */
  def n: Double = lens.size.toDouble
  /** Mean token count over non-null lengths, like `avg(dl)`: the sum of
    * integral lengths is exact, so this is bit-identical to Spark's. */
  def avgdl: Double = if (dlCount == 0) 0.0 else dlSum / dlCount
  /** Heap estimate, on the same scale as [[estimateBytes]]. */
  def bytes: Long = estimateBytes(lens.size.toLong, dlSum.toLong)

  /** The index as [[Fts.Index]] frames over local relations (for
    * scans of the index internals); `idType` is the key column's type. */
  def toIndex(spark: SparkSession, idType: DataType): Index = {
    import scala.jdk.CollectionConverters._
    val postings = spark.createDataFrame(terms.iterator.flatMap { case (t, posts) =>
      posts.iterator.map { case (id, p) => Row(t, id, p.tf, p.positions.toSeq) }
    }.toSeq.asJava, StructType(Seq(StructField("term", StringType), StructField("id", idType),
      StructField("tf", LongType), StructField("positions", ArrayType(IntegerType)))))
    val lensDf = spark.createDataFrame(lens.iterator.map { case (id, dl) =>
      Row(id, dl.getOrElse(null))
    }.toSeq.asJava, StructType(Seq(StructField("id", idType), StructField("dl", DoubleType))))
    Index(postings, lensDf, n, avgdl, pipe)
  }

  /** Drop the postings and length of every `removed` id and of every id
    * in `added`, then index `added`: (id, tokens, token count). */
  def patch(removed: Iterable[Any], added: Iterable[(Any, Seq[String], Option[Double])]): DriverFts = {
    var ts = terms
    var dt = docTerms
    var ls = lens
    var sum = dlSum
    var cnt = dlCount
    def drop(id: Any): Unit = {
      dt.get(id).foreach(_.foreach { w =>
        ts.get(w).foreach { m =>
          val m2 = m - id
          ts = if (m2.isEmpty) ts - w else ts.updated(w, m2)
        }
      })
      dt -= id
      ls.get(id).foreach { o => o.foreach { d => sum -= d; cnt -= 1 }; ls -= id }
    }
    removed.foreach(drop)
    added.foreach { case (id, toks, dl) =>
      drop(id)
      if (toks != null) {
        val byTerm = mutable.LinkedHashMap.empty[String, mutable.ArrayBuilder.ofInt]
        toks.iterator.zipWithIndex.foreach { case (t, i) =>
          if (t != null) byTerm.getOrElseUpdate(t, new mutable.ArrayBuilder.ofInt) += i
        }
        byTerm.foreach { case (t, b) =>
          val pos = b.result()
          ts = ts.updated(t, ts.getOrElse(t, HashMap.empty[Any, Posting])
            .updated(id, Posting(pos.length.toLong, pos)))
        }
        dt = dt.updated(id, byTerm.keys.toArray)
      }
      ls = ls.updated(id, dl)
      dl.foreach { d => sum += d; cnt += 1 }
    }
    DriverFts(ts, dt, ls, sum, cnt, pipe)
  }

  /** Postings entries of one literal: the exact term, or every term in
    * the prefix range of a `word*` literal. */
  private def literalEntries(l: Term): Iterator[(String, HashMap[Any, Posting])] =
    if (l.prefix) terms.rangeFrom(l.t).iterator.takeWhile(_._1.startsWith(l.t))
    else terms.get(l.t).iterator.map(l.t -> _)

  /** Per doc, the value of its greatest (`max`) or least matching term
    * in Spark's string order — what `max/min(struct(term, …))` picks. */
  private def perDocByTerm[T](l: Term, greatest: Boolean)(f: Posting => T): mutable.HashMap[Any, T] = {
    val best = mutable.HashMap.empty[Any, (String, T)]
    for ((term, posts) <- literalEntries(l); (id, p) <- posts) best.get(id) match {
      case Some((t0, _)) if (compareUtf8(term, t0) > 0) != greatest => ()
      case _ => best(id) = (term, f(p))
    }
    best.map { case (id, (_, v)) => id -> v }
  }

  private def idf(df: Double): Double =
    StrictMath.log(1.0 + (n - df + 0.5) / (df + 0.5))

  /** [[Fts.searchRef]] on the driver: every matching (id, score). */
  def searchRef(q0: Q, scoreKind: String = "tf_idf"): collection.Map[Any, Double] = {
    require(Seq("tf_idf", "tf").contains(scoreKind), s"unknown FTS score_kind: $scoreKind")
    normalizeQ(pipe, q0).fold(collection.Map.empty[Any, Double])(refEval(_, scoreKind))
  }

  private def refEval(node: Q, kind: String): collection.Map[Any, Double] = {
    def score(tf: Double, df: Double, boost: Double): Double =
      if (kind == "tf") tf * boost else tf * idf(df) * boost
    node match {
      case t: Term =>
        // df counts ENTRIES (a prefix literal's every matching term)
        val df = literalEntries(t).map(_._2.size.toLong).sum.toDouble
        perDocByTerm(t, greatest = true)(_.tf).map { case (id, tf) =>
          id -> score(tf.toDouble, df, t.boost)
        }
      case And(qs) =>
        qs.map(refEval(_, kind)).reduce { (a, b) =>
          a.flatMap { case (id, sa) => b.get(id).map(sb => id -> (sa + sb)) }
        }
      case Or(qs) =>
        val out = mutable.HashMap.empty[Any, Double]
        qs.foreach(refEval(_, kind).foreach { case (id, s) =>
          out(id) = out.get(id).fold(s)(math.max(_, s))
        })
        out
      case Not(pos, neg) =>
        val ex = refEval(neg, kind)
        refEval(pos, kind).filter { case (id, _) => !ex.contains(id) }
      case Near(ts, dist) =>
        // chained pairwise windows, as Fts.searchRefNormalized
        val frames = ts.map(perDocByTerm(_, greatest = false)(_.positions))
        var cur: collection.Map[Any, Array[Int]] = frames.head
        for (fi <- frames.tail) {
          cur = cur.flatMap { case (id, run) =>
            fi.get(id).flatMap { pi =>
              val r = (run.filter(p => pi.exists(c => c > p && c - p <= dist)) ++
                pi.filter(c => run.exists(p => c <= p && p - c <= dist))).distinct
              if (r.nonEmpty) Some(id -> r) else None
            }
          }
        }
        val df = cur.size.toDouble
        val boost = ts.map(_.boost).sum
        cur.map { case (id, run) => id -> score(run.length.toDouble, df, boost) }
    }
  }

  /** [[Fts.search]] (BM25) on the driver: every matching (id, score). */
  def search(q0: Q, k1: Double = 1.2, b: Double = 0.75): collection.Map[Any, Double] =
    normalizeQ(pipe, q0).fold(collection.Map.empty[Any, Double])(bm25(_, k1, b))

  private def bm25Term(tf: Double, df: Double, dl: Double, k1: Double, b: Double): Double =
    idf(df) * (tf * (k1 + 1)) / (tf + k1 * ((1 - b) + b * dl / avgdl))

  private def bm25(q: Q, k1: Double, b: Double): collection.Map[Any, Double] = {
    val matched = matchSet(q)
    // (doc, term) pairs count once however many literals reach them
    val termPost = positiveLits(q).flatMap(literalEntries).toMap
    val out = mutable.HashMap.empty[Any, Double]
    for ((_, posts) <- termPost) {
      val df = posts.size.toDouble
      for ((id, p) <- posts if matched.contains(id); dl <- lens.get(id).flatten)
        out(id) = out.getOrElse(id, 0.0) + bm25Term(p.tf.toDouble, df, dl, k1, b)
    }
    out
  }

  /** Doc ids matching the boolean query (terms already normalized). */
  private def matchSet(q: Q): Set[Any] = q match {
    case t: Term => literalEntries(t).flatMap(_._2.keys).toSet
    case And(qs) => qs.map(matchSet).reduce(_ intersect _)
    case Or(qs) => qs.map(matchSet).reduce(_ union _)
    case Not(pos, neg) => matchSet(pos) -- matchSet(neg)
    case Near(ts, dist) =>
      // every literal's positions, all matching terms pooled; anchor on
      // the first literal's occurrences
      val sets = ts.map { t =>
        val m = mutable.HashMap.empty[Any, mutable.ArrayBuffer[Int]]
        for ((_, posts) <- literalEntries(t); (id, p) <- posts)
          m.getOrElseUpdate(id, mutable.ArrayBuffer.empty[Int]) ++= p.positions
        m
      }
      sets.head.keySet.filter(id => sets.tail.forall(_.contains(id))).filter { id =>
        sets.head(id).exists(x => sets.tail.forall(_(id).exists(y => math.abs(y - x) <= dist)))
      }.toSet
  }

  /** [[Fts.searchMany]] on the driver: (query, id, score) for every
    * distinct query. Each query keeps its `k` best rows by score plus
    * every row tied with the k-th score — a superset of the distributed
    * per-query top-k that a caller's (score desc, id asc) cut reduces to
    * it exactly. */
  def searchMany(queries: Seq[String], k: Int, k1: Double = 1.2, b: Double = 0.75,
                 scoreKind: String = "tf_idf"): Seq[(String, Any, Double)] = {
    require(Seq("tf_idf", "tf", "bm25").contains(scoreKind),
      s"unknown FTS score_kind: $scoreKind")
    val (flats, others) = planMany(pipe, queries)
    val batched = flats.map { case (q, (ts, isAnd)) =>
      val d = if (scoreKind == "bm25") ts.map(t => (t.t, 1.0)).distinct
              else ts.map(t => (t.t, t.boost))
      // per doc: (sum, max, matched-literal count) over the query's terms
      val acc = mutable.HashMap.empty[Any, (Double, Double, Int)]
      for ((t, boost) <- d; posts <- terms.get(t)) {
        val df = posts.size.toDouble
        for ((id, p) <- posts) {
          val tf = p.tf.toDouble
          val s = scoreKind match {
            case "bm25" => lens.get(id).flatten.map(bm25Term(tf, df, _, k1, b))
            case "tf" => Some(tf * boost)
            case _ => Some(tf * idf(df) * boost)
          }
          s.foreach { v =>
            val (su, mx, c) = acc.getOrElse(id, (0.0, Double.NegativeInfinity, 0))
            acc(id) = (su + v, math.max(mx, v), c + 1)
          }
        }
      }
      q -> acc.collect { case (id, (su, mx, c)) if !isAnd || c == d.length =>
        id -> (if (scoreKind == "bm25" || isAnd) su else mx)
      }
    }
    val looped = others.map { case (q, ast) =>
      q -> (if (scoreKind == "bm25") bm25(ast, k1, b) else refEval(ast, scoreKind))
    }
    (batched ++ looped).flatMap { case (q, hits) =>
      topWithTies(hits, k).map { case (id, s) => (q, id, s) }
    }
  }
}

object DriverFts {
  final case class Posting(tf: Long, positions: Array[Int])

  def empty(pipe: Pipeline): DriverFts =
    DriverFts(TreeMap.empty, HashMap.empty, HashMap.empty, 0.0, 0L, pipe)

  /** Heap bytes of a driver index over `docs` documents holding
    * `tokens` tokens: a posting entry (map node, posting, position
    * array) per token at worst, plus per-document bookkeeping. */
  def estimateBytes(docs: Long, tokens: Long): Long = tokens * 104L + docs * 160L

  /** An upper estimate of the tokens `chars` characters of text yield
    * through `pipe`: every n-gram width per character for NGram, a
    * token per character for dictionary segmentation, else a token per
    * three characters (natural text averages about six). */
  def tokenBound(chars: Long, pipe: Pipeline): Long = pipe.tokenizer match {
    case "NGram" => chars * (pipe.maxGram - pipe.minGram + 1)
    case "Cangjie" => chars
    case _ => chars / 3 + 1
  }

  /** (id, toks, dl) per document: the token array of
    * [[Fts.tokenizeWith]] — the expression the distributed build
    * posexplodes — and its size, as the distributed lens table has it. */
  def docTokens(docs: DataFrame, idCol: String, textCol: String, pipe: Pipeline): DataFrame =
    docs.select(col(idCol).as("id"), tokenizeWith(col(textCol), pipe).as("toks"))
      .select(col("id"), col("toks"), size(col("toks")).cast("double").as("dl"))

  /** [[docTokens]] rows in the shape [[DriverFts.patch]] takes. */
  def tokenRows(rows: Seq[Row]): Seq[(Any, Seq[String], Option[Double])] =
    rows.map { r =>
      (r.get(0), if (r.isNullAt(1)) null else r.getSeq[String](1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))
    }

  /** Rows with the k best scores, ties with the k-th score included. */
  def topWithTies[K](hits: collection.Map[K, Double], k: Int): Seq[(K, Double)] =
    if (hits.size <= k) hits.toSeq
    else {
      val sorted = hits.values.toArray.sortWith((a, b) => compareScore(a, b) > 0)
      val kth = sorted(k - 1)
      hits.iterator.filter { case (_, s) => compareScore(s, kth) >= 0 }.toSeq
    }

  /** Spark's double order: NaN greatest, -0.0 equal to 0.0. */
  def compareScore(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  /** Spark's string order (UTF-8 bytes, i.e. code points). */
  private def compareUtf8(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }
}
