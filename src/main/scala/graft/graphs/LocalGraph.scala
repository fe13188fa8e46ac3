package graft.graphs

import graft.plan._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, xxhash64}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The driver-side graph behind every graph driver walk — the compact
  * in-memory graph cozo builds before each algorithm
  * (`as_directed_graph` / `as_directed_weighted_graph`,
  * fixed_rule/mod.rs:136-260). Node keys of any column type sit in ONE
  * sorted dictionary, so dense-id order IS key order: sorted children,
  * min-id labels and (hash, node) samples need no second map. Lookups go
  * through boxed equality, so a key of another type is no node. Edges
  * keep their fetch order (`src`/`dst` ids, optional `w`), so a float
  * sum over them adds in the order the rows were collected; the forward
  * CSR and the reverse and undirected views are built from them on
  * demand. */
private[graphs] final class LocalGraph(val keyType: DataType, keys: Array[AnyRef],
                                       val src: Array[Int], val dst: Array[Int],
                                       val w: Array[Double]) extends Serializable {
  import LocalGraph.Csr
  @transient private lazy val ids = LocalGraph.index(keys)
  def n: Int = keys.length
  def key(v: Int): Any = keys(v)
  def long(v: Int): Long = keys(v).asInstanceOf[java.lang.Long]
  /** Dense id of `k`, or -1 when it is no node of the graph. */
  def id(k: Any): Int = { val i = ids.get(k); if (i == null) -1 else i }

  /** Out-edges of every node, in edge order. */
  lazy val out: Csr = Csr(n, src, dst, w)
  /** In-edges of every node, in edge order. */
  lazy val in: Csr = Csr(n, dst, src, w)
  /** The undirected multigraph: each non-loop edge (a, b) lists b at a
    * and a at b, interleaved in edge order (duplicates kept). */
  lazy val und: Csr = {
    val keep = src.indices.filter(i => src(i) != dst(i))
    Csr(n, keep.flatMap(i => Seq(src(i), dst(i))).toArray,
      keep.flatMap(i => Seq(dst(i), src(i))).toArray, null)
  }

  /** The same graph with its edges sorted by (src, dst), or by (src,
    * weight, dst): every row then lists its targets in key order. Equal
    * edges keep their order (a stable sort), so float sums over the
    * sorted edges do not move. Built once per graph. */
  def sorted(byWeight: Boolean = false): LocalGraph = if (byWeight) byWeightSorted else bySrcDst
  private lazy val bySrcDst: LocalGraph =
    if (w == null) { // equal (src, dst) edges are indistinguishable: sort them packed
      val packed = Array.tabulate(src.length)(i => src(i).toLong << 32 | dst(i))
      java.util.Arrays.sort(packed)
      new LocalGraph(keyType, keys, packed.map(p => (p >>> 32).toInt), packed.map(_.toInt), null)
    } else permuted((a, b) => {
      val c = Integer.compare(src(a), src(b)); if (c != 0) c else Integer.compare(dst(a), dst(b))
    })
  private lazy val byWeightSorted: LocalGraph = permuted((a, b) => {
    val c = Integer.compare(src(a), src(b))
    val cw = if (c == 0) java.lang.Double.compare(w(a), w(b)) else c
    if (cw != 0) cw else Integer.compare(dst(a), dst(b))
  })
  /** The graph with its edges stably sorted by `cmp` over edge indices. */
  private def permuted(cmp: (Int, Int) => Int): LocalGraph = {
    val ix = LocalGraph.stableOrder(src.length, cmp)
    new LocalGraph(keyType, keys, ix.map(src(_)), ix.map(dst(_)), if (w == null) null else ix.map(w(_)))
  }

  /** Estimated heap bytes of the graph with everything it builds on
    * demand: a boxed key, its index entry and CSR offsets a node; the
    * edge arrays, three CSRs and two sorted copies an edge. */
  def bytes: Long = 96L * n + (if (w == null) 8L else 16L) * 8 * src.length

  /** All nodes when `s >= n`, else the `s` smallest by
    * (xxhash64(node), node) — the distributed `orderBy(...).limit(s)`
    * draw, hashed by Spark over a local relation (no job). */
  def sample(spark: SparkSession, s: Int): Array[Int] =
    if (s >= n) Array.range(0, n)
    else {
      val h = LocalGraph.toDF(spark, (0 until n).map(v => Row(key(v))),
          LocalGraph.keyField("node", keyType))
        .select(xxhash64(col("node"))).collect().map(_.getLong(0))
      Array.range(0, n).sortBy(v => (h(v), v)).take(s)
    }

  /** Yen's k shortest loopless (cost, path)s from `from` to `to`
    * (algos/yen.rs), searched with `d` over [[out]] — A* under `h`, so
    * k = 1 is plain A*. Each spur search bans the root's edges and nodes
    * at relaxation time instead of copying the adjacency. A start
    * outside the graph reaches only itself. */
  def kShortest(d: LocalGraph.Dijkstra, from: Any, to: Any, k: Int,
                h: Int => Double = null): Seq[(Double, Seq[Any])] = {
    val s = id(from)
    if (s < 0) return if (from == to) Seq((0.0, Seq(from))) else Nil
    val goal = id(to)
    def shortest(bannedEdges: Set[Long], bannedNodes: Set[Int], at: Int) =
      if (bannedNodes(at)) None
      else d.run(at, goal, h, bannedEdges, bannedNodes).map(c => (c, d.path(goal, at)))
    val found = mutable.ArrayBuffer.empty[(Double, Seq[Int])]
    val candidates = mutable.PriorityQueue.empty[(Double, Seq[Int])](
      Ordering.by[(Double, Seq[Int]), Double](_._1).reverse)
    shortest(Set.empty, Set.empty, s).foreach(found += _)
    var i = 1
    while (i < k && i <= found.length) {
      val prevPath = found(i - 1)._2
      for (j <- prevPath.indices.dropRight(1)) {
        val root = prevPath.take(j + 1)
        val bannedEdges = found.iterator.map(_._2)
          .filter(p => p.length > j + 1 && p.take(j + 1) == root)
          .map(p => p(j).toLong << 32 | p(j + 1)).toSet
        shortest(bannedEdges, root.dropRight(1).toSet, prevPath(j)).foreach { case (spurCost, spur) =>
          val rootCost = root.sliding(2).collect { case Seq(a, b) => out.weight(a, b) }.sum
          val full = (rootCost + spurCost, root.dropRight(1) ++ spur)
          if (!found.exists(_._2 == full._2) && !candidates.exists(_._2 == full._2))
            candidates.enqueue(full)
        }
      }
      if (candidates.nonEmpty) found += candidates.dequeue()
      i += 1
    }
    found.map { case (c, p) => (c, p.map(key)) }.toSeq
  }
}

private[graphs] object LocalGraph {
  /** A mirror's edge projection `frame`: driver rows computed straight
    * from a relation's driver copy or local rows when `frame` reads only
    * those (no job), else
    * the frame checkpointed with its row count on first use — by the
    * knee or by the distributed program. */
  final class Edges private (val frame: DataFrame, materialize: => (DataFrame, Long)) {
    lazy val resident: Option[Array[Row]] = DriverPlan.localExternalRows(frame, Knee.GraphEdges.value)
    private lazy val counted = materialize
    def df: DataFrame = counted._1
    def n: Long = counted._2
  }
  object Edges {
    def apply(frame: DataFrame): Edges = new Edges(frame, frame.ckptCount())
    /** A frame the caller already materialized, with its row count. */
    def counted(df: DataFrame, n: => Long): Edges = new Edges(df, (df, n))
  }

  /** The knee: a `Knee.GraphEdges` gate on the edge count when `guard`
    * holds and, on the driver branch, the edges — columns (src, dst[,
    * weight]) by position — plus the node keys of `nodes`. The rows come
    * from driver memory when `e` is resident, else from one collect. A
    * graph over a relation copy (no `nodes`) is built once per copy and
    * projection and kept with the copy ([[DriverRows.derived]]), so the
    * gate then reads its edge count. None = run the distributed program. */
  def fetch(op: String, e: Edges, weighted: Boolean = false,
            guard: Boolean = true, nodes: DataFrame = null): Option[LocalGraph] =
    if (!guard) None
    else {
      val held = if (nodes == null) overCopy(e.frame, weighted) else None
      val kept = held.flatMap { case (c, k) => c.keptAs[LocalGraph](k) }
      val n = kept.fold(e.resident.fold(e.n)(_.length.toLong))(_.src.length.toLong)
      Option.when(Knee.gate(op, n, Knee.GraphEdges))(kept.getOrElse {
        def build = apply(e.frame, e.resident.getOrElse(e.df.collect()), weighted,
          if (nodes == null) Array.empty else rowsOf(nodes))
        held.fold(build) { case (c, k) => c.derived(k) { val g = build; (g, g.bytes) } }
      })
    }

  /** The relation copy `frame` reads (its one leaf) and the key of a
    * graph over it: the canonical projection above the copy, and
    * `weighted`. */
  private def overCopy(frame: DataFrame, weighted: Boolean): Option[(DriverRows, Any)] = {
    val plan = frame.queryExecution.analyzed
    plan.collectLeaves() match {
      case Seq(ResidentScan(c: DriverRows, _, _)) if c.keyIdx.nonEmpty =>
        Some((c, (plan.transformUp { case r: ResidentScan => LocalRelation(r.output) }.canonicalized, weighted)))
      case _ => None
    }
  }

  /** The rows of `df`: computed on the driver when it reads only a
    * relation copy or local rows, else collected. */
  def rowsOf(df: DataFrame): Array[Row] =
    DriverPlan.localExternalRows(df, Knee.GraphEdges.value).getOrElse(df.collect())

  /** The whole edge relation of a driver-only walk, or an error naming
    * `op` and the `WalkEdges` limit when it has more rows: a walk over a
    * truncated prefix would return confident wrong answers. */
  def walk(op: String, e: DataFrame, weighted: Boolean = false): LocalGraph = {
    val max = Knee.WalkEdges.value
    val rows = DriverPlan.localExternalRows(e, max).getOrElse(
      e.limit(math.max(0L, math.min(max, Int.MaxValue - 1L)).toInt + 1).collect())
    if (rows.length > max)
      throw new IllegalStateException(s"$op: the edge relation has more than WalkEdges = " +
        s"$max rows; the driver walk needs the whole graph")
    apply(e, rows, weighted, Array.empty)
  }

  private def apply(e: DataFrame, rows: Array[Row], weighted: Boolean,
                    nodes: Array[Row]): LocalGraph = {
    val keys = (rows.iterator.flatMap(r => Iterator(r.get(0), r.get(1))) ++ nodes.iterator.map(_.get(0)))
      .map(_.asInstanceOf[AnyRef]).toArray.distinct
    // nulls first, then natural order (values of one column share a class)
    java.util.Arrays.sort(keys, (a: AnyRef, b: AnyRef) =>
      if (a == null || b == null) java.lang.Boolean.compare(a != null, b != null)
      else a match {
        case c: Comparable[AnyRef @unchecked] if a.getClass == b.getClass => c.compareTo(b)
        case _ => a.toString.compareTo(b.toString)
      })
    val ids = index(keys)
    new LocalGraph(e.schema(0).dataType, keys, rows.map(r => ids.get(r.get(0)).intValue),
      rows.map(r => ids.get(r.get(1)).intValue), if (weighted) rows.map(_.getDouble(2)) else null)
  }

  private def index(keys: Array[AnyRef]): java.util.HashMap[Any, Integer] = {
    val m = new java.util.HashMap[Any, Integer](keys.length * 2)
    keys.indices.foreach(i => m.put(keys(i), i))
    m
  }

  /** A local (job-free) DataFrame of driver rows. */
  def toDF(spark: SparkSession, rows: Seq[Row], cols: StructField*): DataFrame =
    spark.createDataFrame(rows.asJava, StructType(cols))

  /** A node-key column: non-null for LongType keys (as tuple encoders
    * declare a Long), nullable for any other key type. */
  def keyField(name: String, t: DataType): StructField = StructField(name, t, t != LongType)

  /** `0 until m` stably sorted by `cmp`: a bottom-up merge sort over
    * primitive indices. */
  private def stableOrder(m: Int, cmp: (Int, Int) => Int): Array[Int] = {
    var a = Array.range(0, m)
    var b = new Array[Int](m)
    var width = 1
    while (width < m) {
      var lo = 0
      while (lo < m) {
        val mid = math.min(lo + width, m)
        val hi = math.min(lo + 2 * width, m)
        var i = lo; var j = mid; var k = lo
        while (k < hi) {
          if (i < mid && (j >= hi || cmp(a(i), a(j)) <= 0)) { b(k) = a(i); i += 1 }
          else { b(k) = a(j); j += 1 }
          k += 1
        }
        lo = hi
      }
      val t = a; a = b; b = t
      width *= 2
    }
    a
  }

  /** Compressed sparse rows over dense ids: node v's edges are the
    * slots `off(v) until off(v + 1)` of `tgt` (and `wt`). */
  final class Csr(val off: Array[Int], val tgt: Array[Int], val wt: Array[Double])
      extends Serializable {
    def n: Int = off.length - 1
    def deg(v: Int): Int = off(v + 1) - off(v)
    def row(v: Int): Range = off(v) until off(v + 1)
    def nbrs(v: Int): IndexedSeq[Int] = row(v).map(tgt)
    /** Weight of v's first edge to u; 0.0 when there is none. */
    def weight(v: Int, u: Int): Double = row(v).find(tgt(_) == u).map(wt(_)).getOrElse(0.0)

    /** Breadth-first from `s` up to `maxHops` hops: fills `depth` (-1 =
      * unreached on entry) and returns how many nodes `queue` now lists
      * in visit order, `s` first. The caller resets those depths. */
    def bfs(s: Int, maxHops: Int, depth: Array[Int], queue: Array[Int]): Int = {
      depth(s) = 0; queue(0) = s
      var head = 0; var tail = 1
      while (head < tail) {
        val v = queue(head); head += 1
        if (depth(v) < maxHops) for (w <- nbrs(v) if depth(w) < 0) {
          depth(w) = depth(v) + 1; queue(tail) = w; tail += 1
        }
      }
      tail
    }
  }

  object Csr {
    /** Counting sort by `from`, stable: each row keeps edge order. */
    def apply(n: Int, from: Array[Int], to: Array[Int], w: Array[Double]): Csr = {
      val off = new Array[Int](n + 1)
      from.foreach(f => off(f + 1) += 1)
      for (v <- 0 until n) off(v + 1) += off(v)
      val fill = off.clone()
      val tgt = new Array[Int](to.length)
      val wt = if (w == null) null else new Array[Double](w.length)
      for (i <- from.indices) {
        val p = fill(from(i)); fill(from(i)) = p + 1
        tgt(p) = to(i)
        if (wt != null) wt(p) = w(i)
      }
      new Csr(off, tgt, wt)
    }
  }

  /** The one Dijkstra: A* under `h` (null = 0), stopping when `goal`
    * pops (never for -1), skipping banned edges (v << 32 | u) and nodes
    * at relaxation. Heap entries (priority, cost, node) with
    * strict-improvement updates, so equal-cost ties resolve alike for
    * every caller. `dist`/`prev` hold the last run (Double.MaxValue =
    * unreached); runs reset only the slots they touched. */
  final class Dijkstra(g: Csr) {
    val dist: Array[Double] = Array.fill(g.n)(Double.MaxValue)
    val prev: Array[Int] = new Array[Int](g.n)
    private val touched = mutable.ArrayBuffer.empty[Int]

    /** The cost at which `goal` popped, if it did. */
    def run(start: Int, goal: Int = -1, h: Int => Double = null,
            bannedEdges: Set[Long] = Set.empty, bannedNodes: Set[Int] = Set.empty): Option[Double] = {
      touched.foreach(dist(_) = Double.MaxValue)
      touched.clear()
      val pq = mutable.PriorityQueue.empty[(Double, Double, Int)](
        Ordering.by[(Double, Double, Int), Double](_._1).reverse)
      dist(start) = 0.0
      touched += start
      pq.enqueue((if (h == null) 0.0 else h(start), 0.0, start))
      while (pq.nonEmpty) {
        val (_, d, v) = pq.dequeue()
        if (v == goal) return Some(d)
        if (d <= dist(v)) {
          var p = g.off(v)
          while (p < g.off(v + 1)) {
            val u = g.tgt(p)
            if (!bannedEdges.contains(v.toLong << 32 | u) && !bannedNodes.contains(u)) {
              val nd = d + g.wt(p)
              if (nd < dist(u)) {
                if (dist(u) == Double.MaxValue) touched += u
                dist(u) = nd; prev(u) = v
                pq.enqueue((if (h == null) nd else nd + h(u), nd, u))
              }
            }
            p += 1
          }
        }
      }
      None
    }

    /** The `start` → `v` path of the last run. */
    def path(v: Int, start: Int): List[Int] = {
      var path = List(v); var cur = v
      while (cur != start) { cur = prev(cur); path = cur :: path }
      path
    }
  }
}
