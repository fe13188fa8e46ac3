package graft.lang

import graft.graphs.Graphs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixed-rule registry: `head[...] <~ Algo(rels..., opt: v)` dispatch.
  * Mirrors the reference registry (cozo-core/src/fixed_rule/mod.rs:
  * 706-835) including user registration (db.rs:760
  * register_fixed_rule); implementations are the distributed DataFrame
  * programs in graft.graphs / graft.sources.
  */
object FixedRules {

  /** (input relations, options, spark) => result. Column names of the
    * result are repositioned to the rule head by the caller. */
  type Impl = (Seq[DataFrame], Map[String, Any], SparkSession) => DataFrame

  private val registry = scala.collection.concurrent.TrieMap.empty[String, Impl]
  private val graphNames = scala.collection.concurrent.TrieMap.empty[String, Unit]

  def register(name: String, impl: Impl): Unit = { registry(name) = impl; graphNames.remove(name) }
  def unregister(name: String): Unit = { registry.remove(name); graphNames.remove(name) }
  def get(name: String): Option[Impl] = registry.get(name)
  def names: Seq[String] = registry.keys.toSeq.sorted

  /** Output arity per rule, like the reference registry's
    * FixedRule::arity (fixed_rule/mod.rs:63, 706-835): `Some(n)` for
    * rules with a fixed output width, `None` where the width depends on
    * the inputs/options (payload passthrough joins, readers, Constant).
    * FixedRulesAritySpec runs every rule and asserts these. */
  def arity(name: String): Option[Int] = declaredArity.getOrElse(name, None)

  /** True for the graph algorithms (those registered by
    * [[registerGraph]]): they read their stored inputs through
    * `graft.graphs.LocalGraph`, which takes a relation's driver copy
    * (CozoDb's per-version copy) instead of running a job. */
  def isGraph(name: String): Boolean = graphNames.contains(name)

  private def registerGraph(name: String, impl: Impl): Unit = { register(name, impl); graphNames(name) = () }

  private def edges(rels: Seq[DataFrame]): DataFrame = {
    val e = rels.headOption.getOrElse(
      throw Compiler.CompileException("graph fixed rule needs an edges relation"))
    val cols = e.columns
    if (cols.length < 2)
      throw Compiler.CompileException("edges relation needs at least (from, to)")
    if (cols.length >= 3)
      e.select(col(cols(0)).as("src"), col(cols(1)).as("dst"), col(cols(2)).cast("double").as("weight"))
    else e.select(col(cols(0)).as("src"), col(cols(1)).as("dst"))
  }

  private def starts(rels: Seq[DataFrame], i: Int): Option[DataFrame] =
    rels.lift(i).map(df => df.select(col(df.columns.head).as("start")).distinct())

  private def optInt(o: Map[String, Any], k: String, d: Int): Int = o.get(k) match {
    case Some(v: Long) => v.toInt
    case Some(v: Int) => v
    case Some(v: Double) => v.toInt
    case None => d
    case Some(other) => throw Compiler.CompileException(s"option $k: expected integer, got $other")
  }
  private def optDouble(o: Map[String, Any], k: String, d: Double): Double = o.get(k) match {
    case Some(v: Long) => v.toDouble
    case Some(v: Double) => v
    case None => d
    case Some(other) => throw Compiler.CompileException(s"option $k: expected number, got $other")
  }

  // graph algorithm suite (fixed_rule/algos/*.rs)
  registerGraph("PageRank", (rels, o, _) =>
    Graphs.pageRank(edges(rels), iters = optInt(o, "iterations", 10),
      damping = optDouble(o, "theta", 0.85)))
  register("DegreeCentrality", (rels, _, _) => Graphs.degreeCentrality(edges(rels)))
  registerGraph("ConnectedComponents", (rels, _, _) => Graphs.connectedComponents(edges(rels)))
  registerGraph("StronglyConnectedComponent", (rels, _, _) => Graphs.stronglyConnectedComponents(edges(rels)))
  registerGraph("StronglyConnectedComponents", (rels, _, _) => Graphs.stronglyConnectedComponents(edges(rels)))
  // reference registers the short alias too (fixed_rule/mod.rs:795)
  registerGraph("SCC", (rels, _, _) => Graphs.stronglyConnectedComponents(edges(rels)))
  registerGraph("CommunityDetectionLouvain", (rels, o, _) =>
    Graphs.louvain(edges(rels), maxOuter = optInt(o, "max_iter", 5)))
  registerGraph("LabelPropagation", (rels, o, _) =>
    Graphs.labelPropagation(edges(rels), iters = optInt(o, "max_iter", 5)))
  register("ClusteringCoefficients", (rels, _, _) => Graphs.clusteringCoefficients(edges(rels)))
  registerGraph("TopSort", (rels, _, _) => Graphs.topSort(edges(rels)))
  /** Compile a `condition:`/`heuristic:` expression option against a
    * nodes relation's columns (fixed_rule payload expr options). */
  private def condCol(e: Ast.Expr, spark: org.apache.spark.sql.SparkSession) =
    new Compiler(spark,
      n => throw Compiler.CompileException(
        s"stored relations are not available inside fixed-rule conditions: *$n"),
      _ => None, Map.empty).compileExpr(e)

  /** Reference BFS/DFS payload: (edges, nodes, starting) + a boolean
    * `condition:` over the nodes relation picking the goals
    * (algos/bfs.rs / dfs.rs); output rows are (start, goal, path). */
  private def goalSearch(rels: Seq[DataFrame], o: Map[String, Any],
                         spark: org.apache.spark.sql.SparkSession,
                         run: (DataFrame, DataFrame, DataFrame) => DataFrame,
                         what: String): DataFrame =
    if (rels.length >= 3) {
      val nodes = rels(1)
      val st = starts(rels, 2).get
      val goals = (o.get("condition") match {
        case Some(e: Ast.Expr) => nodes.filter(condCol(e, spark))
        case _ => nodes
      }).select(col(nodes.columns.head))
      run(edges(rels), st, goals)
    } else {
      val st = starts(rels, 1).getOrElse(
        throw Compiler.CompileException(s"$what needs a starting-nodes relation"))
      run(edges(rels), st, edges(rels).select(col("dst")).distinct())
    }

  registerGraph("BFS", (rels, o, spark) =>
    if (rels.length >= 3)
      goalSearch(rels, o, spark, (e, s, g) =>
        Graphs.pathBfs(e, s, g, maxHops = optInt(o, "limit", 30)), "BFS")
    else {
      val st = starts(rels, 1).getOrElse(
        throw Compiler.CompileException("BFS needs a starting-nodes relation"))
      Graphs.bfs(edges(rels), st, maxHops = optInt(o, "limit", 10))
    })
  registerGraph("DFS", (rels, o, spark) =>
    if (rels.length >= 3)
      goalSearch(rels, o, spark, (e, s, g) => Graphs.pathDfs(e, s, g), "DFS")
    else {
      val st = starts(rels, 1).getOrElse(
        throw Compiler.CompileException("DFS needs a starting-nodes relation"))
      Graphs.dfs(edges(rels), st, maxDepth = optInt(o, "limit", 10))
    })
  // long-form aliases (fixed_rule/mod.rs:730, 740)
  registerGraph("BreadthFirstSearch", registry("BFS"))
  registerGraph("DepthFirstSearch", registry("DFS"))
  registerGraph("ShortestPathBFS", (rels, _, _) => {
    val st = starts(rels, 1).getOrElse(
      throw Compiler.CompileException("ShortestPathBFS needs starting nodes"))
    Graphs.shortestPaths(edges(rels), st)
  })
  registerGraph("ShortestPathDijkstra", (rels, _, _) =>
    // with an ending relation: the reference shape (src, dst, cost,
    // path); with starts only: distributed (start, node, cost)
    if (rels.length >= 3) Graphs.dijkstraPaths(edges(rels), rels(1), rels(2))
    else {
      val st = starts(rels, 1).getOrElse(
        throw Compiler.CompileException("ShortestPathDijkstra needs starting nodes"))
      Graphs.shortestPaths(edges(rels), st)
    })
  registerGraph("RandomWalk", (rels, o, _) => {
    val st = starts(rels, 1).getOrElse(
      throw Compiler.CompileException("RandomWalk needs starting nodes"))
    Graphs.randomWalk(edges(rels), st.withColumn("walk_id", col("start")),
      steps = optInt(o, "steps", 10))
  })

  registerGraph("MinimumSpanningTreePrim", (rels, _, _) => Graphs.minimumSpanningForest(edges(rels)))
  registerGraph("MinimumSpanningForestKruskal", (rels, _, _) => Graphs.minimumSpanningForest(edges(rels)))
  // all-pairs BFS is a scale killer — `sample:` bounds the source set
  // (Eppstein–Wang estimate); exact only when it covers every node
  registerGraph("ClosenessCentrality", (rels, o, _) =>
    Graphs.closenessCentrality(edges(rels), sample = optInt(o, "sample", 1000)))
  // a `sample:` option switches to the fully distributed Brandes
  // (multi-source forward BFS + level-synchronous backward sweep);
  // without it, exact driver-side Brandes like the reference
  registerGraph("BetweennessCentrality", (rels, o, _) =>
    if (o.contains("sample"))
      Graphs.betweennessCentralityApprox(edges(rels), sample = optInt(o, "sample", 1000))
    else Graphs.betweennessCentrality(edges(rels)))
  registerGraph("ShortestPathAStar", (rels, o, _) => {
    val e = edges(rels)
    // reference shape: (edges, nodes_with_coords, starting, goal,
    // heuristic: expr). The expression heuristic isn't compiled here —
    // h=0 (plain Dijkstra) stays admissible, trading speed not
    // correctness
    if (rels.length >= 4) Graphs.dijkstraPaths(e, rels(2), rels(3))
    else if (rels.length >= 3) Graphs.dijkstraPaths(e, rels(1), rels(2))
    else (o.get("starting"), o.get("goal")) match {
      case (Some(s: Long), Some(g: Long)) => Graphs.aStar(e, Seq((s, g)))
      case _ => throw Compiler.CompileException(
        "ShortestPathAStar needs starting/goal relations or starting:/goal: options")
    }
  })
  registerGraph("KShortestPathYen", (rels, o, _) => {
    val e = edges(rels)
    if (rels.length >= 3) Graphs.yenPaths(e, rels(1), rels(2), optInt(o, "k", 3))
    else (o.get("starting"), o.get("goal")) match {
      case (Some(s: Long), Some(g: Long)) =>
        Graphs.kShortestPaths(e, s, g, optInt(o, "k", 3))
      case _ => throw Compiler.CompileException(
        "KShortestPathYen needs starting/ending relations or starting:/goal: options")
    }
  })

  // utilities (fixed_rule/utilities/*.rs)
  register("Constant", (_, o, spark) => o.get("data") match {
    case Some(rows: Seq[_]) => CozoDb.rowsToDf(spark, rows, None)
    case _ => throw Compiler.CompileException("Constant needs data: [[...], ...]")
  })
  register("ReorderSort", (rels, o, _) => {
    val df = rels.headOption.getOrElse(
      throw Compiler.CompileException("ReorderSort needs a relation"))
    val descending = o.get("descending").contains(true)
    val skip = optInt(o, "skip", 0)
    val take = optInt(o, "take", Int.MaxValue)
    // sort by all columns (the reference sorts by evaluated out() exprs;
    // column order is the common case), emit sort index. The reference
    // sorts the whole relation driver-side (utilities/reorder_sort.rs
    // :153); a global `row_number().over(Window.orderBy(...))` would be
    // the same single-funnel shape — scale-safe forms instead (r9):
    val ordering = df.columns.map(c => if (descending) col(c).desc else col(c).asc)
    if (take != Int.MaxValue) {
      // bounded output: orderBy+limit plans as TakeOrderedAndProject
      // (per-partition top-n, one merge of n·parts rows); the index
      // window then runs over ≤ skip+take rows, bounded by the ASK
      val cap = math.min(Int.MaxValue.toLong, skip.toLong + take.toLong).toInt
      val w = org.apache.spark.sql.expressions.Window.orderBy(ordering: _*)
      df.orderBy(ordering: _*).limit(cap)
        .withColumn("__idx", row_number().over(w).cast("long"))
        .filter(col("__idx") > skip)
        .select((col("__idx") +: df.columns.map(col)): _*)
    } else {
      // full-relation index: range-partitioned prefix rank — the only
      // sequential window runs over numPartitions offset rows
      val ranked = graft.operators.GlobalRank.withRank(df, ordering.toSeq, "__idx")
      ranked.filter(col("__idx") > skip)
        .select((col("__idx") +: df.columns.map(col)): _*)
    }
  })
  // ——— beyond-reference training-pipeline rules (graft.dedup /
  // graft.text / graft.pipeline / graft.similarity), so the script
  // front end reaches the full pipeline surface:
  //   ?[id_a, id_b, j] <~ MinHashDedup(*docs[id, text], threshold: 0.5)
  private def relAs(rels: Seq[DataFrame], i: Int, rule: String,
                    names: String*): DataFrame = {
    val df = rels.lift(i).getOrElse(throw Compiler.CompileException(
      s"$rule needs ${i + 1} input relation(s)"))
    if (df.columns.length < names.length)
      throw Compiler.CompileException(
        s"$rule input ${i + 1} needs at least (${names.mkString(", ")})")
    df.select(df.columns.take(names.length).zip(names).map {
      case (c, n) => col(c).as(n)
    }: _*)
  }

  register("DedupExact", (rels, _, _) =>
    graft.dedup.Dedup.exact(relAs(rels, 0, "DedupExact", "id", "text"), "id", "text"))
  register("MinHashDedup", (rels, o, _) =>
    graft.dedup.Dedup.minhashDedup(relAs(rels, 0, "MinHashDedup", "id", "text"),
      "id", "text", shingleN = optInt(o, "shingle_n", 3),
      bands = optInt(o, "bands", 32), rowsPerBand = optInt(o, "rows_per_band", 2),
      threshold = optDouble(o, "threshold", 0.5)))
  register("NgramJaccardDedup", (rels, o, _) =>
    graft.dedup.Dedup.ngramJaccard(relAs(rels, 0, "NgramJaccardDedup", "id", "text"),
      "id", "text", shingleN = optInt(o, "shingle_n", 3),
      threshold = optDouble(o, "threshold", 0.5)))
  register("SimHashDedup", (rels, o, _) =>
    graft.dedup.Dedup.simhashPairs(relAs(rels, 0, "SimHashDedup", "id", "text"),
      "id", "text", maxHamming = optInt(o, "max_hamming", 3)))
  register("SubstringDedup", (rels, o, _) =>
    graft.dedup.Dedup.duplicatedCoverage(relAs(rels, 0, "SubstringDedup", "id", "text"),
      "id", "text", minLen = optInt(o, "min_len", 10)))
  register("SubstringSpans", (rels, o, _) =>
    graft.dedup.Dedup.duplicatedSpans(relAs(rels, 0, "SubstringSpans", "id", "text"),
      "id", "text", minLen = optInt(o, "min_len", 10)))
  // ?[id, total_tokens, kept_tokens, text] <~
  //   SubstringRemove(*docs[id, text], min_len: 8) — Lee-et-al
  //   ExactSubstr removal rewrite (first occurrence survives)
  register("SubstringRemove", (rels, o, _) =>
    graft.dedup.Dedup.removeDuplicateSpans(
      relAs(rels, 0, "SubstringRemove", "id", "text"),
      "id", "text", minLen = optInt(o, "min_len", 8)))
  // ?[id, chunk_idx, n_tokens, chunk_text] <~ TextChunk(
  //   *docs[id, text], size: 16, stride: 12) — sliding token windows
  register("TextChunk", (rels, o, _) =>
    graft.text.TextAnalysis.chunk(
      relAs(rels, 0, "TextChunk", "id", "text"), "id", "text",
      size = optInt(o, "size", 16), stride = optInt(o, "stride", 12)))
  // ?[id, rank, term, score] <~ TextKeywords(*docs[id, text], k: 3)
  register("TextKeywords", (rels, o, _) =>
    graft.text.TextAnalysis.keywords(
      relAs(rels, 0, "TextKeywords", "id", "text"), "id", "text",
      k = optInt(o, "k", 3)))
  // ?[id, weight, shard] <~ PackByBudget(*docs[id, weight], budget: 1000)
  register("PackByBudget", (rels, o, _) =>
    graft.pipeline.Sharding.packByBudget(
      relAs(rels, 0, "PackByBudget", "id", "weight"), "id", "weight",
      budget = optInt(o, "budget", 1000).toLong))
  // ?[id, chunk_idx, chunk_w, shard] <~ PackSequences(*docs[id, weight],
  //   max_len: 1024, budget: 4096)
  register("PackSequences", (rels, o, _) =>
    graft.pipeline.Sharding.packSequences(
      relAs(rels, 0, "PackSequences", "id", "weight"), "id", "weight",
      maxLen = optInt(o, "max_len", 1024).toLong,
      budget = optInt(o, "budget", 4096).toLong))
  // ?[src, id] <~ BalanceSources(*docs[src, id]) — anchored downsample;
  // weights come as a second relation [src, weight] when ratios differ
  register("BalanceSources", (rels, o, _) => {
    val docs = relAs(rels, 0, "BalanceSources", "src", "id")
    val weights: Map[String, Long] =
      if (rels.length < 2) Map.empty
      else relAs(rels, 1, "BalanceSources", "src", "weight")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    graft.pipeline.Balance.balanceSources(docs, "src", "id", weights,
      exact = !o.get("exact").contains(false))
  })
  // ?[src, id] <~ BalanceTemperature(*docs[src, id], tau: 0.5)
  register("BalanceTemperature", (rels, o, _) =>
    graft.pipeline.Balance.balanceSourcesTemperature(
      relAs(rels, 0, "BalanceTemperature", "src", "id"), "src", "id",
      tau = optDouble(o, "tau", 0.5),
      exact = !o.get("exact").contains(false)))
  // ?[grp, dim, v] <~ PoolEmbeddings(*chunks[grp, vec], method: 'mean')
  register("PoolEmbeddings", (rels, o, _) =>
    graft.pipeline.Embeddings.pool(
      relAs(rels, 0, "PoolEmbeddings", "grp", "vec"), "grp", "vec",
      method = o.get("method").map(_.toString).getOrElse("mean"),
      normalize = !o.get("normalize").contains(false)))
  // ?[id, score] <~ QualityClassifier(*labeled[id, text, label],
  //   *corpus[id, text], buckets: 64, iters: 5, lr: 2.0) — trains a
  // hashed-feature logistic classifier on relation 0, scores relation 1
  // (or the training relation itself when only one is given)
  register("QualityClassifier", (rels, o, _) => {
    val labeled = relAs(rels, 0, "QualityClassifier", "id", "text", "label")
    val model = graft.pipeline.Classifier.train(labeled, "id", "text", "label",
      buckets = optInt(o, "buckets", 64), iters = optInt(o, "iters", 5),
      lr = optDouble(o, "lr", 2.0))
    val target = if (rels.length < 2) labeled.select("id", "text")
      else relAs(rels, 1, "QualityClassifier", "id", "text")
    graft.pipeline.Classifier.score(target, "id", "text", model)
  })
  register("EmbeddingDedup", (rels, o, _) =>
    graft.dedup.Dedup.embeddingNearDup(relAs(rels, 0, "EmbeddingDedup", "id", "vec"),
      "id", "vec", threshold = optDouble(o, "threshold", 0.9),
      planes = optInt(o, "planes", 8), tables = optInt(o, "tables", 8)))
  register("DecontaminateEmbed", (rels, o, _) =>
    graft.pipeline.Decontaminate.embedOverlap(
      relAs(rels, 0, "DecontaminateEmbed", "id", "vec"), "id", "vec",
      relAs(rels, 1, "DecontaminateEmbed", "id", "vec"), "id", "vec",
      threshold = optDouble(o, "threshold", 0.9)))
  register("SemanticDedup", (rels, o, _) =>
    graft.dedup.Dedup.semanticDedup(relAs(rels, 0, "SemanticDedup", "id", "vec"),
      "id", "vec", threshold = optDouble(o, "threshold", 0.9),
      nClusters = optInt(o, "n_clusters", 16)))
  // real JDK media decode (ImageIO / javax.sound) over binary columns
  register("MediaDecode", (rels, _, _) =>
    graft.multimodal.Multimodal.decodeMeta(
      graft.multimodal.Multimodal.asMedia(
        relAs(rels, 0, "MediaDecode", "id", "media"), "id", "media", "bin")))
  register("ImageDedup", (rels, o, _) =>
    graft.multimodal.Multimodal.imageNearDup(
      graft.multimodal.Multimodal.asMedia(
        relAs(rels, 0, "ImageDedup", "id", "media"), "id", "media", "bin"),
      maxHamming = optInt(o, "max_hamming", 3)))
  register("DedupClusters", (rels, _, _) =>
    graft.dedup.Dedup.resolveClusters(
      relAs(rels, 0, "DedupClusters", "id"), "id",
      relAs(rels, 1, "DedupClusters", "id_a", "id_b")))
  // ?[id, cluster, quality, keep] <~ DedupKeepBest(*docs[id, quality],
  //   *pairs[id_a, id_b]) — quality-aware keeper per cluster
  register("DedupKeepBest", (rels, _, _) =>
    graft.dedup.Dedup.resolveClustersBest(
      relAs(rels, 0, "DedupKeepBest", "id", "quality"), "id", "quality",
      relAs(rels, 1, "DedupKeepBest", "id_a", "id_b")))
  register("TextStats", (rels, _, _) =>
    graft.text.TextAnalysis.stats(relAs(rels, 0, "TextStats", "id", "text"), "id", "text"))
  register("TextQuality", (rels, _, _) =>
    graft.text.TextAnalysis.qualityScore(
        relAs(rels, 0, "TextQuality", "id", "text"), "id", "text")
      .select("id", "quality"))
  register("TextRepetition", (rels, _, _) =>
    graft.text.TextAnalysis.repetitionSignals(
      relAs(rels, 0, "TextRepetition", "id", "text"), "id", "text"))
  // ?[id, n_shingles, novel, novelty] <~ TextNovelty(*docs[id, text], n: 6)
  register("TextNovelty", (rels, o, _) =>
    graft.text.TextAnalysis.novelty(
      relAs(rels, 0, "TextNovelty", "id", "text"), "id", "text",
      n = optInt(o, "n", 6)))
  // ?[id, word_count, …, keep] <~ GopherRules(*docs[id, text],
  //   min_words: 50, min_req_stopwords: 2)
  register("GopherRules", (rels, o, _) =>
    graft.text.TextAnalysis.gopherRules(
      relAs(rels, 0, "GopherRules", "id", "text"), "id", "text",
      minWords = optInt(o, "min_words", 50),
      maxWords = optInt(o, "max_words", 100000),
      minMeanLen = optDouble(o, "min_mean_len", 3.0),
      maxMeanLen = optDouble(o, "max_mean_len", 10.0),
      maxSymbolRatio = optDouble(o, "max_symbol_ratio", 0.1),
      maxBulletFrac = optDouble(o, "max_bullet_frac", 0.9),
      maxEllipsisFrac = optDouble(o, "max_ellipsis_frac", 0.3),
      minAlphaFrac = optDouble(o, "min_alpha_frac", 0.8),
      minReqStopwords = optInt(o, "min_req_stopwords", 2)))
  // ?[id, n_lines, n_kept, text] <~ DedupLines(*docs[id, text])
  register("DedupLines", (rels, _, _) =>
    graft.dedup.Dedup.dedupLines(
      relAs(rels, 0, "DedupLines", "id", "text"), "id", "text"))
  // ?[id, n_emails, n_ips, n_long_numbers, has_pii] <~
  //   PiiSignals(*docs[id, text])
  register("PiiSignals", (rels, _, _) =>
    graft.text.TextAnalysis.piiSignals(
      relAs(rels, 0, "PiiSignals", "id", "text"), "id", "text"))
  register("LanguageId", (rels, _, _) => {
    val d = relAs(rels, 0, "LanguageId", "id", "text")
    d.select(col("id"), graft.text.TextAnalysis.langId(col("text")).as("lang"))
  })
  register("Decontaminate", (rels, o, _) =>
    graft.pipeline.Decontaminate.ngramOverlap(
      relAs(rels, 0, "Decontaminate", "id", "text"), "id", "text",
      relAs(rels, 1, "Decontaminate", "id", "text"), "id", "text",
      n = optInt(o, "n", 13), minOverlap = optInt(o, "min_overlap", 1)))
  // ?[rank, left, right] <~ BpeTrain(*docs[id, text], merges: 100,
  //   batch: 1) — BPE merge rules trained on the corpus (text/Bpe.scala)
  register("BpeTrain", (rels, o, s) =>
    graft.text.Bpe.mergesDf(s, graft.text.Bpe.train(
      relAs(rels, 0, "BpeTrain", "id", "text"), "text",
      numMerges = optInt(o, "merges", 100), batch = optInt(o, "batch", 1))))
  // ?[id, tokens, n_tokens] <~ BpeEncode(*docs[id, text],
  //   *merges[rank, left, right]) — encode with trained rules
  register("BpeEncode", (rels, _, _) =>
    graft.text.Bpe.encode(
      relAs(rels, 0, "BpeEncode", "id", "text"), "id", "text",
      graft.text.Bpe.mergesFrom(
        relAs(rels, 1, "BpeEncode", "rank", "left", "right")
          .select(col("rank").cast("int").as("rank"), col("left"), col("right")))))
  // ?[id, n_grams, logw] <~ Dsir(*raw[id, text], *target[id, text],
  //   buckets: 10000) — DSIR importance weights (pipeline/Dsir.scala):
  //   rank raw docs by hashed-ngram log-likelihood ratio vs the target
  register("Dsir", (rels, o, _) =>
    graft.pipeline.Dsir.importanceWeights(
      relAs(rels, 0, "Dsir", "id", "text"), "id", "text",
      relAs(rels, 1, "Dsir", "id", "text"), "id", "text",
      buckets = optInt(o, "buckets", 10000),
      round = optInt(o, "round", 4)))
  // same output contract as Decontaminate, Bloom-prefiltered corpus
  // pass (pipeline/Decontaminate.bloomOverlap)
  register("DecontaminateBloom", (rels, o, _) =>
    graft.pipeline.Decontaminate.bloomOverlap(
      relAs(rels, 0, "DecontaminateBloom", "id", "text"), "id", "text",
      relAs(rels, 1, "DecontaminateBloom", "id", "text"), "id", "text",
      n = optInt(o, "n", 13), minOverlap = optInt(o, "min_overlap", 1),
      fpp = optDouble(o, "fpp", 0.01)))
  // ?[id, content, n_lines, n_chars] <~ StripHtml(*docs[id, html],
  //   min_line_chars: 10) — HTML → training text (text/HtmlExtract.scala)
  register("StripHtml", (rels, o, _) =>
    graft.text.HtmlExtract.extract(
      relAs(rels, 0, "StripHtml", "id", "html"), "id", "html",
      minLineChars = optInt(o, "min_line_chars", 10)))
  // ?[url, id, domain, rank, keep] <~ UrlDedup(*crawl[id, url], cap: 100)
  // — canonical-URL dedup + per-domain cap (pipeline/Urls.scala)
  register("UrlDedup", (rels, o, _) =>
    graft.pipeline.Urls.dedupAndCap(
      relAs(rels, 0, "UrlDedup", "id", "url"), "id", "url",
      cap = optInt(o, "cap", 100)))
  // ?[id, grp, score, threshold, keep] <~ PercentileCut(
  //   *scored[id, grp, score], quantile: 0.6) — per-group top-(1-q) cut
  register("PercentileCut", (rels, o, _) =>
    graft.pipeline.Sampling.percentileCut(
      relAs(rels, 0, "PercentileCut", "id", "grp", "score"), "grp", "score",
      optDouble(o, "quantile", 0.5),
      exact = o.get("exact").contains(true),
      accuracy = optInt(o, "accuracy", 10000))
      .select("id", "grp", "score", "threshold", "keep"))
  register("Sample", (rels, o, _) => {
    val d = rels.headOption.getOrElse(
      throw Compiler.CompileException("Sample needs a relation"))
    graft.pipeline.Sampling.sample(d, d.columns.head,
      optDouble(o, "fraction", 0.1))
  })
  register("Split", (rels, o, _) => {
    val d = rels.headOption.getOrElse(
      throw Compiler.CompileException("Split needs a relation"))
    graft.pipeline.Sampling.split(d, d.columns.head,
      trainPct = optInt(o, "train_pct", 80), valPct = optInt(o, "val_pct", 10))
  })
  // leakage-free split on the SECOND column (the group key); rows of
  // one group never straddle splits (pipeline/Sampling.splitByGroup)
  register("SplitByGroup", (rels, o, _) => {
    val d = rels.headOption.getOrElse(
      throw Compiler.CompileException("SplitByGroup needs a relation"))
    if (d.columns.length < 2) throw Compiler.CompileException(
      "SplitByGroup input needs (id, group, payload...)")
    graft.pipeline.Sampling.splitByGroup(d, d.columns(1),
      trainPct = optInt(o, "train_pct", 80), valPct = optInt(o, "val_pct", 10),
      portable = o.get("portable").contains(true))
  })
  // deterministic global shuffle with explicit 0-based positions
  // (pipeline/Sampling.shuffledPositions — two-level prefix sum)
  register("GlobalShuffle", (rels, o, _) => {
    val d = rels.headOption.getOrElse(
      throw Compiler.CompileException("GlobalShuffle needs a relation"))
    graft.pipeline.Sampling.shuffledPositions(d, d.columns.head,
      numParts = optInt(o, "num_parts", 0))
  })
  register("AnnKnn", (rels, o, _) =>
    graft.similarity.Ann.bruteForceTopK(
      relAs(rels, 0, "AnnKnn", "id", "vec"),
      relAs(rels, 1, "AnnKnn", "query_id", "vec"),
      k = optInt(o, "k", 10)))
  register("AnnPq", (rels, o, _) =>
    graft.similarity.Ann.pqTopK(
      relAs(rels, 0, "AnnPq", "id", "vec"),
      relAs(rels, 1, "AnnPq", "query_id", "vec"),
      k = optInt(o, "k", 10),
      subspaces = optInt(o, "subspaces", 16),
      codes = optInt(o, "codes", 64),
      refine = optInt(o, "refine", 8)))
  // partition-local HNSW graphs + top-k merge (Ann.hnswTopK — the
  // reference's HnswSearchRA algorithm in its distributed shape)
  register("AnnHnsw", (rels, o, _) =>
    graft.similarity.Ann.hnswTopK(
      relAs(rels, 0, "AnnHnsw", "id", "vec"),
      relAs(rels, 1, "AnnHnsw", "query_id", "vec"),
      k = optInt(o, "k", 10),
      m = optInt(o, "m", 16),
      efConstruction = optInt(o, "ef_construction", 100),
      efSearch = optInt(o, "ef", 64)))
  // probe a persisted Ann.writeIndex directory (cell-partitioned codes,
  // statically pruned scan) from script
  register("AnnPqProbe", (rels, o, _) => {
    val path = o.get("path") match {
      case Some(s: String) => s.stripPrefix("file://")
      case _ => throw Compiler.CompileException("AnnPqProbe needs path: 'file://...'")
    }
    graft.similarity.Ann.probeIndex(path,
      relAs(rels, 0, "AnnPqProbe", "query_id", "vec"),
      k = optInt(o, "k", 10),
      nProbe = optInt(o, "n_probe", 4),
      refine = optInt(o, "refine", 8))
  })

  // probe a persisted Fts.writeIndex directory (term-bucketed postings,
  // statically pruned scan) from script
  register("FtsIndexProbe", (_, o, spark) => {
    val path = o.get("path") match {
      case Some(s: String) => s.stripPrefix("file://")
      case _ => throw Compiler.CompileException("FtsIndexProbe needs path: 'file://...'")
    }
    val query = o.get("query") match {
      case Some(s: String) => s
      case _ => throw Compiler.CompileException("FtsIndexProbe needs query: '...'")
    }
    graft.search.Fts.searchIndexed(spark, path, query)
      .orderBy(col("score").desc, col("id").asc)
      .limit(optInt(o, "k", 10))
  })

  /** Positional reshape keeping trailing payload columns: first
    * `fixed.length` columns renamed, the rest prefixed to avoid
    * collisions between the two sides of a join rule. */
  private def relShaped(rels: Seq[DataFrame], i: Int, rule: String,
                        prefix: String, fixed: String*): DataFrame = {
    val df = rels.lift(i).getOrElse(throw Compiler.CompileException(
      s"$rule needs ${i + 1} input relation(s)"))
    if (df.columns.length < fixed.length)
      throw Compiler.CompileException(
        s"$rule input ${i + 1} needs at least (${fixed.mkString(", ")}, payload...)")
    df.select(df.columns.zipWithIndex.map { case (c, j) =>
      if (j < fixed.length) col(c).as(fixed(j)) else col(c).as(s"$prefix$c")
    }: _*)
  }

  // ?[key, ts, ..., r_...] <~ AsOfJoin(*left[key, ts, ...], *right[key, ts, ...])
  // matches each left row to the latest same-key right row at or
  // before it (operators/AsOfJoin.scala); join: 'left' keeps unmatched
  register("AsOfJoin", (rels, o, _) => {
    val left = relShaped(rels, 0, "AsOfJoin", "l_", "key", "ts")
    val right = relShaped(rels, 1, "AsOfJoin", "r_", "key", "r_ts")
    val joinType = o.get("join") match {
      case Some(s: String) if s == "inner" || s == "left" => s
      case None => "inner"
      case Some(other) => throw Compiler.CompileException(
        s"option join: expected 'inner' or 'left', got $other")
    }
    val direction = o.get("direction") match {
      case Some(s: String) if s == "backward" || s == "forward" => s
      case None => "backward"
      case Some(other) => throw Compiler.CompileException(
        s"option direction: expected 'backward' or 'forward', got $other")
    }
    val bucket = o.get("bucket_width") match {
      case Some(v: Long) if v > 0 => Some(v)
      case Some(v: Int) if v > 0 => Some(v.toLong)
      case None => None
      case Some(other) => throw Compiler.CompileException(
        s"option bucket_width: expected positive integer µs, got $other")
    }
    graft.operators.AsOfJoin.asOfJoin(left, right, Seq("key"), "ts", "r_ts",
      joinType = joinType, direction = direction, bucketWidthMicros = bucket)
  })
  // ?[p, ..., start, end, i_...] <~ RangeJoin(*points[p, ...],
  //   *intervals[start, end, ...], bucket_width: W) — points into
  // containing half-open [start, end) windows (operators/RangeJoin.scala)
  register("RangeJoin", (rels, o, _) => {
    val pts = relShaped(rels, 0, "RangeJoin", "p_", "p")
    val ivs = relShaped(rels, 1, "RangeJoin", "i_", "start", "end")
    graft.operators.RangeJoin.intervalJoin(pts, "p", ivs, "start", "end",
      bucketWidthMicros = o.get("bucket_width") match {
        case Some(v: Long) => v
        case Some(v: Int) => v.toLong
        case None => 86400000000L // 1 day
        case Some(other) => throw Compiler.CompileException(
          s"option bucket_width: expected integer, got $other")
      },
      maxBucketsPerInterval = optInt(o, "max_buckets", 64))
  })
  // ?[key, ts, ..., session] <~ Sessionize(*events[key, ts, ...],
  //   gap: µs) — gap-split sessions per key (pipeline/Sessionize.scala)
  register("Sessionize", (rels, o, _) => {
    val ev = relShaped(rels, 0, "Sessionize", "e_", "key", "ts")
    val gap = o.get("gap") match {
      case Some(v: Long) => v
      case Some(v: Int) => v.toLong
      case None => 1800000000L // 30 min
      case Some(other) => throw Compiler.CompileException(
        s"option gap: expected integer µs, got $other")
    }
    graft.pipeline.Sessionize.sessionize(ev, Seq("key"), "ts", gap)
  })
  // ?[id, cluster] <~ KMeans(*embeddings[id, vec], k: 8, iters: 3) —
  // Lloyd clustering over cosine similarity, reusing the IVF trainer
  // (similarity/Ann.scala ivfCentroids/assignCells: deterministic
  // hash-seeded init, broadcast centroids, codegen'd distance) — the
  // clustering-based curation step (topic balancing, cluster-level
  // dedup/sampling) of a training-data pipeline
  register("KMeans", (rels, o, _) => {
    val v = relAs(rels, 0, "KMeans", "id", "vec")
    val cents = graft.similarity.Ann.ivfCentroids(v,
      nCells = optInt(o, "k", 8), iters = optInt(o, "iters", 3),
      seed = optInt(o, "seed", 0))
    graft.similarity.Ann.assignCells(v, cents)
      .select(col("id"), col("cell").cast("long").as("cluster"))
  })
  // ?[id, n_tokens, perplexity] <~ Perplexity(*docs[id, text]) —
  // corpus-trained smoothed bigram LM (text/LanguageModel.scala)
  register("Perplexity", (rels, o, _) =>
    graft.text.LanguageModel.bigramPerplexity(
      relAs(rels, 0, "Perplexity", "id", "text"), "id", "text",
      round = optInt(o, "round", 4)))

  register("CsvReader", (_, o, spark) => {
    val url = o.get("url") match {
      case Some(s: String) => s.stripPrefix("file://")
      case _ => throw Compiler.CompileException("CsvReader needs url: 'file://...'")
    }
    val delimiter = o.get("delimiter") match { case Some(s: String) => s; case _ => "," }
    val hasHeaders = !o.get("has_headers").contains(false)
    val raw = spark.read
      .option("header", hasHeaders.toString)
      .option("delimiter", delimiter)
      .csv(url)
    // `types` truncates to the first N columns and casts them
    // (fixed_rule/utilities/csv.rs:46-88): Int/Float coerce, ? marks
    // nullable (CSV columns are nullable on Spark regardless)
    o.get("types") match {
      case Some(ts: Seq[_]) =>
        val types = ts.map(_.toString)
        if (types.length > raw.columns.length)
          throw Compiler.CompileException(
            s"CsvReader: ${types.length} types for ${raw.columns.length} columns")
        raw.select(types.zipWithIndex.map { case (t, i) =>
          val c = col(raw.columns(i))
          t.stripSuffix("?") match {
            case "Int" => c.cast("long")
            case "Float" => c.cast("double")
            case "Bool" => c.cast("boolean")
            case _ => c
          }
        }: _*)
      case _ => raw
    }
  })
  register("JsonReader", (_, o, spark) => {
    val url = o.get("url") match {
      case Some(s: String) => s.stripPrefix("file://")
      case _ => throw Compiler.CompileException("JsonReader needs url: 'file://...'")
    }
    spark.read.json(url)
  })

  /** Declared output widths for [[arity]] / the `::fixed_rules`
    * listing. `None` = width depends on inputs or options (payload
    * passthrough, readers, Constant, ReorderSort's input+1, Dijkstra's
    * two calling shapes). Audited rule-by-rule by FixedRulesAritySpec.
    */
  private val declaredArity: Map[String, Option[Int]] = Map(
    "PageRank" -> Some(2), "DegreeCentrality" -> Some(4),
    "ConnectedComponents" -> Some(2), "StronglyConnectedComponent" -> Some(2),
    "StronglyConnectedComponents" -> Some(2), "SCC" -> Some(2),
    "CommunityDetectionLouvain" -> Some(2), "LabelPropagation" -> Some(2),
    "ClusteringCoefficients" -> Some(4), "TopSort" -> Some(2),
    "BFS" -> Some(3), "DFS" -> Some(3),
    "BreadthFirstSearch" -> Some(3), "DepthFirstSearch" -> Some(3),
    "ShortestPathBFS" -> Some(3), "ShortestPathDijkstra" -> None,
    "RandomWalk" -> Some(4),
    "MinimumSpanningTreePrim" -> Some(3), "MinimumSpanningForestKruskal" -> Some(3),
    "ClosenessCentrality" -> Some(2), "BetweennessCentrality" -> Some(2),
    "ShortestPathAStar" -> Some(4), "KShortestPathYen" -> Some(5),
    "Constant" -> None, "ReorderSort" -> None,
    "DedupExact" -> Some(4), "MinHashDedup" -> Some(3),
    "NgramJaccardDedup" -> Some(3), "SimHashDedup" -> Some(3),
    "SubstringDedup" -> Some(4), "SubstringSpans" -> Some(3),
    "SubstringRemove" -> Some(4), "TextChunk" -> Some(4),
    "TextKeywords" -> Some(4), "PackByBudget" -> Some(3),
    "PackSequences" -> Some(4), "BalanceSources" -> Some(2),
    "BalanceTemperature" -> Some(2), "PoolEmbeddings" -> Some(3),
    "QualityClassifier" -> Some(2), "EmbeddingDedup" -> Some(3),
    "DecontaminateEmbed" -> Some(3), "SemanticDedup" -> Some(4),
    "MediaDecode" -> Some(6), "ImageDedup" -> Some(3),
    "DedupClusters" -> Some(3), "DedupKeepBest" -> Some(4),
    "TextStats" -> Some(7), "TextQuality" -> Some(2),
    "TextRepetition" -> Some(4), "TextNovelty" -> Some(4),
    "GopherRules" -> Some(9), "DedupLines" -> Some(4),
    "PiiSignals" -> Some(5), "LanguageId" -> Some(2),
    "Decontaminate" -> Some(3), "DecontaminateBloom" -> Some(3),
    "BpeTrain" -> Some(3), "BpeEncode" -> Some(3),
    "Dsir" -> Some(3), "StripHtml" -> Some(4), "UrlDedup" -> Some(5),
    "PercentileCut" -> Some(5), "Sample" -> None, "Split" -> None,
    "SplitByGroup" -> None, "GlobalShuffle" -> None,
    "AnnKnn" -> Some(4), "AnnPq" -> Some(4), "AnnHnsw" -> Some(4),
    "AnnPqProbe" -> Some(4), "FtsIndexProbe" -> Some(2),
    "AsOfJoin" -> None, "RangeJoin" -> None, "Sessionize" -> None,
    "KMeans" -> Some(2), "Perplexity" -> Some(3),
    "CsvReader" -> None, "JsonReader" -> None)
}
