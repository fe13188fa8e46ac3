package graft.similarity

import scala.collection.mutable

/** In-memory HNSW graph (Malkov & Yashunin, arXiv:1603.09320), the
  * algorithm behind the reference's vector index
  * (cozo-core/src/runtime/hnsw.rs:869-1019). The reference keeps ONE
  * global pointer graph inside its KV store; pointer chasing across a
  * 1000-executor cluster does not distribute, so [[Ann.hnswTopK]] uses
  * this class the way Lucene uses segment HNSW graphs: one local graph
  * per Spark partition, built inside `mapPartitions`, probed in
  * parallel, answers merged by global top-k. This class is therefore
  * single-threaded and allocation-lean by design — it lives inside one
  * task.
  *
  * Determinism: level assignment derives from a hash of the element id
  * (not an RNG), insertion order is the caller's row order, and all
  * ties break by insertion index — a rebuilt partition yields the
  * identical graph.
  *
  * Metrics (the reference's three, hnsw.rs:66-108): `cosine` (dot
  * product over vectors normalized at insert), `l2` (similarity =
  * negative squared Euclidean distance — same ordering, max-heap
  * machinery unchanged), `ip` (raw dot product; not a metric, but the
  * standard HNSW-for-MIPS practice and what the reference computes).
  * `search` returns a SCORE where higher = closer; callers convert to
  * their distance convention.
  */
/** @param extendCandidates the paper's Algorithm-4 flag (and the
  *   reference's `extend_candidates` option, hnsw.rs select
  *   heuristic): before heuristic selection, add the candidates'
  *   neighbors at the level to the candidate pool. Default OFF like
  *   the reference.
  * @param keepPruned the paper's keepPrunedConnections (reference
  *   `keep_pruned_connections`): refill the selection from discarded
  *   candidates, closest first. Default OFF like the reference. */
final class HnswIndex(m: Int = 16, efConstruction: Int = 100,
                      metric: String = "cosine",
                      extendCandidates: Boolean = false,
                      keepPruned: Boolean = false) {
  require(m >= 2, s"HNSW m must be >= 2, got $m")
  require(efConstruction >= m, s"efConstruction must be >= m")
  require(Seq("cosine", "l2", "ip").contains(metric), s"unknown metric $metric")
  private val metricL2 = metric == "l2"
  private val metricCos = metric == "cosine"

  private val mMax0 = 2 * m // level-0 degree cap, per the paper
  private val mL = 1.0 / math.log(m.toDouble)

  private val ids = mutable.ArrayBuffer.empty[Long]
  private val vecs = mutable.ArrayBuffer.empty[Array[Float]]
  private val levels = mutable.ArrayBuffer.empty[Int]
  // neighbors(node)(level) = adjacency list of node at that level
  private val neighbors = mutable.ArrayBuffer.empty[Array[mutable.ArrayBuffer[Int]]]
  private var entry: Int = -1
  private var maxLevel: Int = -1

  def size: Int = ids.length

  private def normalize(v: Array[Float]): Array[Float] = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
    val n = math.sqrt(s)
    if (n == 0.0 || n.isNaN) v.clone()
    else {
      val out = new Array[Float](v.length)
      i = 0
      while (i < v.length) { out(i) = (v(i) / n).toFloat; i += 1 }
      out
    }
  }

  /** Similarity (higher = closer) of a stored node vs a prepared query:
    * cosine/ip → dot product (cosine over insert-normalized vectors),
    * l2 → negative squared Euclidean distance. */
  private def sim(node: Int, q: Array[Float]): Double = {
    val v = vecs(node)
    val n = math.min(v.length, q.length)
    var i = 0
    if (metricL2) {
      var s = 0.0
      while (i < n) { val d = v(i).toDouble - q(i); s += d * d; i += 1 }
      -s
    } else {
      var s = 0.0
      while (i < n) { s += v(i).toDouble * q(i); i += 1 }
      s
    }
  }

  /** Query/insert-side vector preparation: normalize for cosine only. */
  private def prep(v: Array[Float]): Array[Float] =
    if (metricCos) normalize(v) else v.clone()

  /** Deterministic geometric level from the id hash (the paper's
    * floor(-ln(U) * mL) with U from a splitmix-style avalanche). */
  private def levelFor(id: Long): Int = {
    var z = id + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    val u = ((z >>> 11).toDouble / (1L << 53).toDouble).max(1e-12)
    math.min((-math.log(u) * mL).toInt, 30)
  }

  /** The paper's SEARCH-LAYER: beam of width ef at one level, returning
    * the ef closest nodes found from `eps`. */
  private def searchLayer(q: Array[Float], eps: Seq[Int], ef: Int,
                          level: Int): mutable.ArrayBuffer[(Double, Int)] = {
    val visited = mutable.HashSet.empty[Int]
    // candidates: best-first (max sim first); results: worst-first
    implicit val ordAsc: Ordering[(Double, Int)] =
      Ordering.by[(Double, Int), (Double, Double)](t => (t._1, -t._2.toDouble))
    val cand = mutable.PriorityQueue.empty[(Double, Int)] // max-heap by sim
    val res = mutable.PriorityQueue.empty[(Double, Int)](ordAsc.reverse) // min-heap by sim
    for (ep <- eps if visited.add(ep)) {
      val s = sim(ep, q)
      cand.enqueue((s, ep))
      res.enqueue((s, ep))
    }
    while (cand.nonEmpty) {
      val (cs, c) = cand.dequeue()
      val worst = if (res.isEmpty) Double.NegativeInfinity else res.head._1
      if (cs < worst && res.size >= ef) {
        cand.clear() // best candidate is worse than the full beam: done
      } else {
        val adj = neighbors(c)
        if (level < adj.length) {
          val lst = adj(level)
          var i = 0
          while (i < lst.length) {
            val e = lst(i)
            if (visited.add(e)) {
              val s = sim(e, q)
              if (res.size < ef || s > res.head._1) {
                cand.enqueue((s, e))
                res.enqueue((s, e))
                if (res.size > ef) res.dequeue()
              }
            }
            i += 1
          }
        }
      }
    }
    val out = mutable.ArrayBuffer.empty[(Double, Int)]
    while (res.nonEmpty) out += res.dequeue()
    out // ascending by sim; callers sort as needed
  }

  /** The paper's heuristic neighbor selection (Algorithm 4): closest
    * first, but a candidate is kept only if it is closer to the query
    * than to every already-selected neighbor — keeps links spread
    * across directions instead of clustering. */
  private def selectHeuristic(q: Array[Float],
                              cands: Seq[(Double, Int)],
                              limit: Int, level: Int): mutable.ArrayBuffer[Int] = {
    // extendCandidates (Algorithm 4): pull the candidates' neighbors
    // at this level into the pool before selecting
    val pool =
      if (!extendCandidates) cands
      else {
        val seen = mutable.HashSet.from(cands.iterator.map(_._2))
        val ext = mutable.ArrayBuffer.from(cands)
        for ((_, c) <- cands) {
          val adj = neighbors(c)
          if (level < adj.length) {
            val lst = adj(level)
            var i = 0
            while (i < lst.length) {
              val e = lst(i)
              if (seen.add(e)) ext += ((sim(e, q), e))
              i += 1
            }
          }
        }
        ext.toSeq
      }
    val sorted = pool.sortBy(t => (-t._1, t._2))
    val chosen = mutable.ArrayBuffer.empty[Int]
    val discarded = mutable.ArrayBuffer.empty[Int]
    for ((s, c) <- sorted if chosen.length < limit) {
      val cv = vecs(c)
      var ok = true
      var i = 0
      while (ok && i < chosen.length) {
        if (sim(chosen(i), cv) > s) ok = false // closer to a chosen one
        i += 1
      }
      if (ok) chosen += c else discarded += c
    }
    // keepPrunedConnections: fill up from the discards, closest first
    if (keepPruned) {
      var i = 0
      while (chosen.length < limit && i < discarded.length) {
        chosen += discarded(i); i += 1
      }
    }
    chosen
  }

  private def shrink(node: Int, level: Int): Unit = {
    val cap = if (level == 0) mMax0 else m
    val lst = neighbors(node)(level)
    if (lst.length > cap) {
      val nv = vecs(node)
      val scored = lst.map(e => (sim(e, nv), e)).toSeq
      val kept = selectHeuristic(nv, scored, cap, level)
      lst.clear()
      lst ++= kept
    }
  }

  def insert(id: Long, vec: Array[Float]): Unit = {
    val v = prep(vec)
    val node = ids.length
    val lvl = levelFor(id)
    ids += id
    vecs += v
    levels += lvl
    neighbors += Array.fill(lvl + 1)(mutable.ArrayBuffer.empty[Int])
    if (entry < 0) { entry = node; maxLevel = lvl; return }

    var ep = entry
    // greedy descent through the levels above the node's level
    var l = maxLevel
    while (l > lvl) {
      var improved = true
      var best = ep
      var bestS = sim(ep, v)
      while (improved) {
        improved = false
        val adj = neighbors(best)
        if (l < adj.length) {
          val lst = adj(l)
          var i = 0
          while (i < lst.length) {
            val s = sim(lst(i), v)
            if (s > bestS) { bestS = s; best = lst(i); improved = true }
            i += 1
          }
        }
      }
      ep = best
      l -= 1
    }
    // ef-beam insert at each level from min(maxLevel, lvl) down to 0
    var eps: Seq[Int] = Seq(ep)
    l = math.min(maxLevel, lvl)
    while (l >= 0) {
      val w = searchLayer(v, eps, efConstruction, l)
      val chosen = selectHeuristic(v, w.toSeq, m, l)
      for (c <- chosen) {
        neighbors(node)(l) += c
        neighbors(c)(l) += node
        shrink(c, l)
      }
      eps = w.sortBy(t => (-t._1, t._2)).map(_._2).toSeq
      l -= 1
    }
    if (lvl > maxLevel) { maxLevel = lvl; entry = node }
  }

  /** Top-k by the metric's score (higher = closer): greedy descent to
    * level 1, ef-beam at level 0. Returns (id, score) best-first; ties
    * broken by id. Score is cosine similarity / −squared-L2 / dot. */
  def search(query: Array[Float], k: Int, efSearch: Int): Seq[(Long, Double)] = {
    if (entry < 0) return Seq.empty
    val q = prep(query)
    var ep = entry
    var l = maxLevel
    while (l > 0) {
      var improved = true
      var best = ep
      var bestS = sim(ep, q)
      while (improved) {
        improved = false
        val adj = neighbors(best)
        if (l < adj.length) {
          val lst = adj(l)
          var i = 0
          while (i < lst.length) {
            val s = sim(lst(i), q)
            if (s > bestS) { bestS = s; best = lst(i); improved = true }
            i += 1
          }
        }
      }
      ep = best
      l -= 1
    }
    val w = searchLayer(q, Seq(ep), math.max(efSearch, k), 0)
    w.map { case (s, n) => (ids(n), s) }
      .sortBy { case (id, s) => (-s, id) }
      .take(k)
      .toSeq
  }

  /** Degree cap respected at every level (test hook). */
  def maxDegree: Int =
    (for (n <- neighbors.indices; l <- neighbors(n).indices)
      yield neighbors(n)(l).length).maxOption.getOrElse(0)

  /** Flatten the graph for persistence: (id, level, neighborIds). */
  def edges: Iterator[(Long, Int, Array[Long])] =
    neighbors.indices.iterator.flatMap { n =>
      neighbors(n).indices.iterator.map { l =>
        (ids(n), l, neighbors(n)(l).map(ids).toArray)
      }
    }

  /** Stored (metric-prepared) vectors: (id, vec, topLevel). */
  def nodes: Iterator[(Long, Array[Float], Int)] =
    ids.indices.iterator.map(n => (ids(n), vecs(n), levels(n)))
}

object HnswIndex {
  /** Rebuild a previously persisted graph without re-running inserts:
    * adjacency is restored verbatim. `nodes` = (id, preparedVec,
    * topLevel), `adj` = (id, level, neighborIds). `metric` must match
    * the metric the graph was built with. */
  def load(nodes: Seq[(Long, Array[Float], Int)],
           adj: Seq[(Long, Int, Array[Long])],
           m: Int, efConstruction: Int, metric: String = "cosine"): HnswIndex = {
    val idx = new HnswIndex(m, efConstruction, metric)
    val pos = mutable.HashMap.empty[Long, Int]
    for (((id, v, lvl), n) <- nodes.zipWithIndex) {
      pos(id) = n
      idx.ids += id
      idx.vecs += v
      idx.levels += lvl
      idx.neighbors += Array.fill(lvl + 1)(mutable.ArrayBuffer.empty[Int])
      if (lvl > idx.maxLevel) { idx.maxLevel = lvl; idx.entry = n }
    }
    for ((id, l, ns) <- adj) {
      val n = pos(id)
      if (l < idx.neighbors(n).length)
        idx.neighbors(n)(l) ++= ns.iterator.flatMap(pos.get)
    }
    idx
  }
}

/** The hash-bucket graphs of [[Ann.hnswWriteIndex]] held on the driver:
  * node ids route to `numParts` buckets by the Murmur3 hash (seed 42)
  * that `repartition(numParts, col("id"))` uses, and each bucket's
  * graph inserts its nodes in ascending id order, as the distributed
  * build's `sortWithinPartitions("id")` pins. Every graph is therefore
  * the one the distributed build writes, and [[probe]] merges the walks
  * exactly as [[Ann.hnswProbeLoaded]] does, so the two branches return
  * identical results by construction — without a parquet artifact or a
  * restore shuffle.
  *
  * Immutable: [[patch]] returns a new value that rebuilds only the
  * buckets a change touches and shares the rest, so concurrent probes
  * always walk one consistent snapshot. The raw (unprepared) vectors
  * are kept per bucket because a cosine graph stores normalized ones,
  * and re-normalizing them would not reproduce the distributed build.
  */
final class HnswBuckets private (m: Int, efConstruction: Int,
                                 metric: String, extendCandidates: Boolean,
                                 keepPruned: Boolean,
                                 raw: Vector[scala.collection.immutable.TreeMap[Long, Array[Float]]],
                                 graphs: Vector[HnswIndex]) {
  def numParts: Int = raw.length
  def size: Int = raw.iterator.map(_.size).sum

  /** Heap estimate, on the scale of [[HnswBuckets.estimateBytes]]. */
  def bytes: Long = HnswBuckets.estimateBytes(size.toLong,
    raw.iterator.flatMap(_.valuesIterator).map(_.length.toLong).sum, m)

  private def graphOf(nodes: scala.collection.immutable.TreeMap[Long, Array[Float]]): HnswIndex = {
    val idx = new HnswIndex(m, efConstruction, metric, extendCandidates, keepPruned)
    nodes.foreach { case (id, v) => idx.insert(id, v) }
    idx
  }

  /** Remove `removed` node ids, add or replace `upserts`, and rebuild
    * the graphs of the buckets either touches. Returns the new value
    * and the number of buckets rebuilt. */
  def patch(removed: Iterable[Long], upserts: Iterable[(Long, Array[Float])]): (HnswBuckets, Int) = {
    val r = raw.toArray
    val touched = mutable.SortedSet.empty[Int]
    removed.foreach { id =>
      val b = HnswBuckets.bucketOf(id, numParts); r(b) -= id; touched += b
    }
    upserts.foreach { case (id, v) =>
      val b = HnswBuckets.bucketOf(id, numParts); r(b) = r(b).updated(id, v); touched += b
    }
    val g = graphs.toArray
    touched.foreach(b => g(b) = graphOf(r(b)))
    (new HnswBuckets(m, efConstruction, metric, extendCandidates, keepPruned,
      r.toVector, g.toVector), touched.size)
  }

  /** Global top-k per query, as [[Ann.hnswProbeLoaded]] computes it:
    * every bucket walked with a beam of `fieldsPerId * k + 1`, node ids
    * decoded to payload keys, the query's own id excluded, each key's
    * best score kept, then (score desc, id asc). Returns (query_id, id,
    * score). */
  def probe(queries: Seq[(Long, Array[Float])], k: Int, efSearch: Int,
            fieldsPerId: Int = 1): Seq[(Long, Long, Double)] = {
    val fetchWidth = fieldsPerId * k + 1
    queries.flatMap { case (qid, qv) =>
      val best = mutable.HashMap.empty[Long, Double]
      graphs.foreach { g =>
        g.search(qv, fetchWidth, efSearch).iterator
          .map { case (gid, s) => (Math.floorDiv(gid, fieldsPerId.toLong), s) }
          .filter { case (id, _) => id != qid }
          .take(fetchWidth - 1)
          .foreach { case (id, s) => best(id) = best.get(id).fold(s)(math.max(_, s)) }
      }
      best.toSeq.sortWith { case ((i1, s1), (i2, s2)) =>
        val c = graft.search.DriverFts.compareScore(s1, s2)
        c > 0 || (c == 0 && i1 < i2)
      }.take(k).map { case (id, s) => (qid, id, s) }
    }
  }

  /** The graphs as [[Ann.graphSchema]] rows (part, id, vec, level, nbrs,
    * edge_level): node rows, then adjacency rows, per bucket. */
  def rows: Iterator[(Int, Long, Array[Float], Int, Array[Long], Int)] =
    graphs.iterator.zipWithIndex.flatMap { case (g, p) =>
      g.nodes.map { case (id, v, lvl) => (p, id, v, lvl, null.asInstanceOf[Array[Long]], -1) } ++
        g.edges.map { case (id, l, ns) => (p, id, null.asInstanceOf[Array[Float]], -1, ns, l) }
    }
}

object HnswBuckets {
  /** The bucket of node `id`: pmod(Murmur3(id, seed 42), numParts), the
    * routing of Spark's hash partitioning on a long column. */
  def bucketOf(id: Long, numParts: Int): Int = {
    val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(id, 42)
    ((h % numParts) + numParts) % numParts
  }

  /** Heap bytes of `nodes` graph nodes holding `dims` vector
    * components in total, in an `m` graph: raw and prepared vectors,
    * level-0 adjacency and per-node bookkeeping. */
  def estimateBytes(nodes: Long, dims: Long, m: Int): Long =
    8L * dims + nodes * (16L * m + 160L)

  def build(corpus: Iterable[(Long, Array[Float])], m: Int, efConstruction: Int,
            numParts: Int = 32, metric: String = "cosine",
            extendCandidates: Boolean = false, keepPruned: Boolean = false): HnswBuckets = {
    val empty = new HnswBuckets(m, efConstruction, metric, extendCandidates, keepPruned,
      Vector.fill(numParts)(scala.collection.immutable.TreeMap.empty[Long, Array[Float]]),
      Vector.fill(numParts)(new HnswIndex(m, efConstruction, metric, extendCandidates, keepPruned)))
    empty.patch(Nil, corpus)._1
  }
}
