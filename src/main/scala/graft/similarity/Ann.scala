package graft.similarity

import graft.dedup.Dedup
import graft.functions.{VectorFunctions => VF}
import graft.operators.TopK
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Similarity search over embedding columns.
  *
  * The reference's vector search is a per-probe HNSW walk
  * (cozo-core/src/runtime/hnsw.rs:869-1019, surfaced as `HnswSearchRA`
  * query/ra.rs:1068-1122). HNSW is a single-node pointer structure and
  * does not survive a 1000-executor cluster; the Spark-native shapes
  * are:
  *   - brute-force: broadcast the (small) query set against the corpus
  *     scan, codegen'd cosine kernel, per-query top-k via window — exact,
  *     one pass over the corpus, no shuffle of the corpus itself;
  *   - LSH-bucketed: hyperplane sign buckets prefilter candidates, then
  *     exact re-rank — approximate, corpus-side work drops to the
  *     collision set (the 100 TB path);
  *   - IVF-Flat: nearest-centroid inverted file, probes read nProbe of
  *     nCells partitions — the partition-pruning path;
  *   - PQ + ADC: per-subspace codebooks compress vectors ~32×, scoring
  *     scans codes not floats, exact re-rank restores true cosines —
  *     the path when even one float copy of the corpus is too much I/O.
  */
object Ann {

  /** Exact top-k cosine neighbors for each query row.
    * queries: (query_id, vec); corpus: (id, vec).
    * Returns (query_id, id, cosine, rank), self-match excluded when ids
    * coincide.
    *
    * Physical shape: the probe set broadcasts as one primitive float
    * matrix and a `mapPartitions` kernel scans the corpus ONCE, keeping
    * a bounded per-query heap per partition — the partial top-k a
    * map-side combine would compute — so only partitions × q × k rows
    * ever shuffle into the exact final merge. The corpus never
    * shuffles and never visits the driver; at 100 TB this is one
    * embarrassingly-parallel pass. The crossJoin + per-query window
    * shape it replaces materialized q × n joined ROWS and shuffled all
    * of them into a single-stage ranking (100 M rows at sf1 for the
    * ANN referees' 512-probe set — row machinery, not FLOPs; same
    * lesson as Dedup.blockedPairScan). Kernel preconditions — long
    * ids on both sides, array<float> vecs, uniform non-null probe
    * vectors, bounded k and probe count — else the expression shape
    * runs (same rows). Cosine accumulation mirrors
    * [[VF.cosineSimilarity]] bit-exactly: independent double
    * accumulators in index order over the pairwise min length,
    * zero denominator → 0.0.
    */
  def bruteForceTopK(corpus0: DataFrame, queries: DataFrame, k: Int): DataFrame =
    bruteForceKernel(corpus0, queries, k)
      .getOrElse(bruteForceTopKRows(corpus0, queries, k))

  /** Probe-count bound for the kernel's driver collect: the probe set
    * is bounded by design (it is the QUERY side), but FixedRules can
    * hand an arbitrary relation — a corpus-sized one must take the
    * distributed expression shape, not a driver OOM. */
  private val maxKernelProbes = 65536
  /** Heap budget: q × k entries are ALLOCATED per partition (a double
    * + a long each), so this bounds executor memory, not just driver
    * output: 2 M entries ≈ 32 MiB per concurrently-running partition. */
  private val maxHeapEntries = 2L * 1024 * 1024

  private def isLong(df: DataFrame, name: String): Boolean =
    df.schema(name).dataType == org.apache.spark.sql.types.LongType
  private def isFloatVec(df: DataFrame, name: String): Boolean =
    df.schema(name).dataType match {
      case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, _) => true
      case _ => false
    }

  private def bruteForceKernel(corpus0: DataFrame, queries: DataFrame, k: Int): Option[DataFrame] = {
    if (k <= 0 || k > 10000) return None
    if (!isLong(corpus0, "id") || !isLong(queries, "query_id") ||
        !isFloatVec(corpus0, "vec") || !isFloatVec(queries, "vec")) return None
    val spark = corpus0.sparkSession
    import spark.implicits._
    val qRows = queries.select(col("query_id"), col("vec"))
      .limit(maxKernelProbes + 1).as[(Long, Array[Float])].collect()
    val q = qRows.length
    if (q == 0 || q > maxKernelProbes || q.toLong * k > maxHeapEntries) return None
    val d = Option(qRows(0)._2).map(_.length).getOrElse(-1)
    // uniform non-null probes only: the fast path precomputes full
    // query norms, which is only the expression's min-length semantics
    // when the probe length is the shorter side uniformly
    if (d <= 0 || qRows.exists(r => r._2 == null || r._2.length != d)) return None
    val qids = qRows.map(_._1)
    val qmat = new Array[Float](q * d)
    val qnorms = new Array[Double](q)
    var j = 0
    while (j < q) {
      System.arraycopy(qRows(j)._2, 0, qmat, j * d, d)
      var s = 0.0; var i = 0
      while (i < d) { val x = qmat(j * d + i).toDouble; s += x * x; i += 1 }
      qnorms(j) = s
      j += 1
    }
    val bc = spark.sparkContext.broadcast((qids, qmat, qnorms, d))
    val scan = graft.plan.Parallelism.ensureIngestParallelism(
      corpus0.select(col("id"), col("vec")), Seq(col("id")), light = true)
      .filter(col("vec").isNotNull)
    val partials = scan.as[(Long, Array[Float])].mapPartitions { it =>
      val (qids, qmat, qnorms, d) = bc.value
      val q = qids.length
      // per-query bounded heap, worst entry at the root:
      // worse = lower cosine, then higher id (so the kept set is the
      // top k by (cosine desc, id asc) — the final merge re-sorts)
      val heapCos = Array.fill(q)(new Array[Double](k))
      val heapId = Array.fill(q)(new Array[Long](k))
      val heapN = new Array[Int](q)
      def worse(c1: Double, i1: Long, c2: Double, i2: Long): Boolean =
        c1 < c2 || (c1 == c2 && i1 > i2)
      def siftDown(hc: Array[Double], hi: Array[Long], n: Int, from: Int): Unit = {
        var p = from
        while (true) {
          val l = 2 * p + 1; val r = l + 1
          var w = p
          if (l < n && worse(hc(l), hi(l), hc(w), hi(w))) w = l
          if (r < n && worse(hc(r), hi(r), hc(w), hi(w))) w = r
          if (w == p) return
          val tc = hc(p); hc(p) = hc(w); hc(w) = tc
          val ti = hi(p); hi(p) = hi(w); hi(w) = ti
          p = w
        }
      }
      def offer(qi: Int, cos: Double, id: Long): Unit = {
        val hc = heapCos(qi); val hi = heapId(qi); val n = heapN(qi)
        if (n < k) {
          hc(n) = cos; hi(n) = id
          heapN(qi) = n + 1
          if (n + 1 == k) { // heapify once full
            var p = k / 2 - 1
            while (p >= 0) { siftDown(hc, hi, k, p); p -= 1 }
          }
        } else if (worse(hc(0), hi(0), cos, id)) {
          hc(0) = cos; hi(0) = id
          siftDown(hc, hi, k, 0)
        }
      }
      it.foreach { case (id, vec) =>
        val lr = vec.length
        if (lr == d) {
          // uniform fast path: full-length dot, precomputed query norm,
          // one row-norm pass (independent accumulators — identical
          // doubles to the expression's interleaved loop)
          var ny = 0.0; var i = 0
          while (i < lr) { val y = vec(i).toDouble; ny += y * y; i += 1 }
          val sy = math.sqrt(ny)
          var j = 0
          while (j < q) {
            if (qids(j) != id) {
              var dot = 0.0; var i2 = 0; val base = j * d
              while (i2 < d) { dot += qmat(base + i2).toDouble * vec(i2).toDouble; i2 += 1 }
              val denom = math.sqrt(qnorms(j)) * sy
              offer(j, if (denom == 0.0) 0.0 else dot / denom, id)
            }
            j += 1
          }
        } else {
          // ragged corpus row: per-pair min-length loop, exactly the
          // expression's semantics (norms truncate with the dot)
          var j = 0
          while (j < q) {
            if (qids(j) != id) {
              val n = math.min(d, lr)
              var dot = 0.0; var nx = 0.0; var ny = 0.0; var i2 = 0; val base = j * d
              while (i2 < n) {
                val x = qmat(base + i2).toDouble; val y = vec(i2).toDouble
                dot += x * y; nx += x * x; ny += y * y; i2 += 1
              }
              val denom = math.sqrt(nx) * math.sqrt(ny)
              offer(j, if (denom == 0.0) 0.0 else dot / denom, id)
            }
            j += 1
          }
        }
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      var qi = 0
      while (qi < q) {
        var e = 0
        while (e < heapN(qi)) { out += ((qids(qi), heapId(qi)(e), heapCos(qi)(e))); e += 1 }
        qi += 1
      }
      out.iterator
    }.toDF("query_id", "id", "cosine")
    // exact final merge over partitions × q × k rows — tiny
    Some(TopK.perGroup(partials, Seq("query_id"),
      Seq(col("cosine").desc, col("id").asc), k, rankCol = Some("rank")))
  }

  /** The distributed expression shape: broadcast probes × corpus scan,
    * codegen'd cosine, per-query window top-k. The fallback wherever
    * [[bruteForceKernel]]'s preconditions fail (non-long ids, non-float
    * or ragged/null probe vectors, unbounded k, corpus-sized probe
    * relation). Unlike the kernel it ranks null-vec corpus rows (null
    * cosine, after every non-null candidate) — visible only when a
    * probe has fewer than k non-null candidates. */
  private def bruteForceTopKRows(corpus0: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    // the cosine scan against the broadcast probes is the heavy
    // pre-shuffle pass: guard against a low-split source serializing it
    // (no-op on real corpora — see Parallelism.ensureIngestParallelism)
    val corpus = graft.plan.Parallelism.ensureIngestParallelism(corpus0, Seq(col("id")), light = true)
    val joined = queries.select(col("query_id"), col("vec").as("qvec"))
      .hint("broadcast")
      .crossJoin(corpus.select(col("id"), col("vec")))
      .filter(col("query_id") =!= col("id"))
      .withColumn("cosine", VF.cosineSimilarity(col("qvec"), col("vec")))
      .select("query_id", "id", "cosine")
    TopK.perGroup(joined, Seq("query_id"),
      Seq(col("cosine").desc, col("id").asc), k, rankCol = Some("rank"))
  }

  /** Exact cosine for an EXPLICIT (query_id, id) pair set. The drift
    * referees need the true cosine of the pairs an index returned —
    * ranking the whole corpus per probe (q × n rows) to then join out
    * q × k of them was the single most expensive stage in the ANN
    * bench rows. One corpus scan against the broadcast pair set. */
  def exactCosineFor(pairs: DataFrame, corpus: DataFrame, queries: DataFrame): DataFrame = {
    val probeVecs = pairs.select(col("query_id"), col("id"))
      .join(queries.select(col("query_id"), col("vec").as("__qv")), Seq("query_id"))
    corpus.select(col("id"), col("vec").as("__cv"))
      .join(broadcast(probeVecs), Seq("id"))
      .withColumn("cosine", VF.cosineSimilarity(col("__qv"), col("__cv")))
      .select("query_id", "id", "cosine")
  }

  /** Approximate top-k: candidates from a multi-table hyperplane-LSH
    * bucket join — `tables` independent `planes`-bit sign families
    * computed in ONE pass over each side (Dedup.hyperplaneBuckets), one
    * equi-join on (table, bucket), then exact cosine re-rank of the
    * candidate set only. Each table is seeded independently, so recall
    * compounds as 1-(1-p^planes)^tables.
    *
    * Scale note: unlike [[graft.dedup.Dedup.embeddingNearDup]]'s
    * corpus SELF-join (where non-discriminative buckets degenerate to
    * Θ(n²) — see its regime switch), the query side here is the
    * bounded probe set, so even weak buckets cost at most
    * O(probes · n) — the same order as one brute-force pass. Weak
    * parameters waste the bucket machinery but cannot go quadratic.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              planes: Int = 12, tables: Int = 4): DataFrame = {
    val bkC = Dedup.hyperplaneBuckets(corpus, "id", "vec", planes, tables)
      .join(corpus.select(col("id"), col("vec")), Seq("id"))
    val bkQ = Dedup.hyperplaneBuckets(queries, "query_id", "vec", planes, tables)
      .withColumnRenamed("id", "query_id")
      .join(queries.select(col("query_id"), col("vec").as("qvec")), Seq("query_id"))
    val cand = bkQ.join(bkC, Seq("table", "bucket"))
      .select("query_id", "qvec", "id", "vec")
      .dropDuplicates("query_id", "id")
      .filter(col("query_id") =!= col("id"))
    val scored = cand.withColumn("cosine", VF.cosineSimilarity(col("qvec"), col("vec")))
      .select("query_id", "id", "cosine")
    TopK.perGroup(scored, Seq("query_id"),
      Seq(col("cosine").desc, col("id").asc), k, rankCol = Some("rank"))
  }

  // ———————————————————————— IVF-Flat ————————————————————————

  /** Deterministic spherical-k-means centroids: seeds are the `nCells`
    * corpus vectors minimizing xxhash64(id, seed) (reproducible across
    * runs/partitionings), refined by `iters` Lloyd rounds. Each round is
    * one broadcast assign pass + one posexplode/groupBy mean — linear
    * scans, no shuffle of the vectors beyond the dim-explode.
    * Returns (cell 0..nCells-1, cvec).
    */
  def ivfCentroids(corpus: DataFrame, nCells: Int, iters: Int = 2,
                   seed: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.plan._
    val base = Parallelism.ensureIngestParallelism(corpus, Seq(col("id")), light = true)
      .select(col("id"), col("vec"))
    // Scale knee (one count decides): Lloyd training over a corpus that
    // fits the driver runs in memory — each distributed round paid an
    // assign pass + centroid-update exchange + broadcast build, ~3
    // stages, for nCells centroids. The mirror reproduces the seeding
    // (nCells smallest xxhash64(id, seed), cell = hash rank), the
    // argmax-cosine / lowest-cell-tie assignment, the double-sum mean
    // and the empty-cell drop; only float summation order differs, as
    // it already does between AQE plans. Above the cap the distributed
    // loop below is the 100 TB path (the assign pass is corpus-scale
    // and must not leave the cluster).
    // LongType gate (r12 ADVICE high): the mirror collects ids with
    // getLong; KMeans/SemanticDedup fixed rules can hand string/int
    // keys, which must fall through to the type-agnostic distributed
    // loop instead of throwing ClassCastException.
    if (base.schema("id").dataType == org.apache.spark.sql.types.LongType &&
        Knee.gate("ivfCentroids", base.count(), Knee.IvfVectors))
      return ivfCentroidsDriver(base, nCells, iters, seed)
    var cents = base
      .withColumn("__h", xxhash64(col("id"), lit(seed)))
      .orderBy("__h").limit(nCells)
      .select((row_number().over(Window.orderBy("__h")) - 1).as("cell"),
        col("vec").as("cvec"))
      .ckptLazy()
    for (_ <- 0 until iters) {
      // LAZY in-loop: each round's centroids have ONE sequential
      // consumer (the next round's broadcast build), which materializes
      // the checkpoint inside its own job — an eager ckpt here paid a
      // separate materialization job per round (r9 job-floor audit)
      // centroid update as ONE partial-aggregating pass: element-wise
      // vector sum + count per cell (fixed double[dim] buffer per open
      // group), replacing posexplode → per-(cell,dim) avg → per-cell
      // collect+sort — two full exchanges and a dim× row blowup per
      // Lloyd round; arithmetic identical (double sums / count per dim)
      cents = assignCells(base, cents)
        .groupBy("cell")
        .agg(graft.functions.VecSumAgg.vecSum(col("vec")).as("__s"),
          count(lit(1)).as("__n"))
        .select(col("cell"),
          transform(col("__s"), x => (x / col("__n")).cast("float")).as("cvec"))
        .ckptLazy()
    }
    // the RETURNED centroids fan out (assign pass + query probes) —
    // eager here so concurrent consumers cannot race the lazy persist
    cents.ckpt()
  }

  /** In-memory mirror of the distributed ivfCentroids loop (see the
    * scale-knee note there). Returns a LOCAL (cell, cvec) relation. */
  private def ivfCentroidsDriver(base: DataFrame, nCells: Int, iters: Int,
                                 seed: Int): DataFrame = {
    val spark = base.sparkSession
    val collected = base
      .select(col("id"), col("vec"), xxhash64(col("id"), lit(seed)).as("__h"))
      .collect()
    val n = collected.length
    val ids = new Array[Long](n)
    val vecs = new Array[Array[Float]](n)
    val hs = new Array[Long](n)
    var r = 0
    while (r < n) {
      val row = collected(r)
      ids(r) = row.getLong(0)
      vecs(r) = Option(row.getSeq[Float](1)).map(_.toArray).orNull
      hs(r) = row.getLong(2)
      r += 1
    }
    def cos(a: Array[Float], b: Array[Float]): Double = {
      if (a == null || b == null) return 0.0
      val len = math.min(a.length, b.length)
      var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      while (i < len) {
        val xi = a(i).toDouble; val yi = b(i).toDouble
        dot += xi * yi; nx += xi * xi; ny += yi * yi; i += 1
      }
      val dn = math.sqrt(nx) * math.sqrt(ny)
      if (dn == 0.0) 0.0 else dot / dn
    }
    val order = (0 until n).sortBy(i => (hs(i), ids(i)))
    var cents: Array[(Int, Array[Float])] =
      order.take(nCells).zipWithIndex.map { case (i, c) => (c, vecs(i)) }.toArray
    for (_ <- 0 until iters) {
      val sums = scala.collection.mutable.Map.empty[Int, (Array[Double], Long)]
      var i = 0
      while (i < n) {
        val v = vecs(i)
        // ascending cell order, strictly-greater keeps the first — the
        // old TopK.perGroup(__sim desc, cell asc, 1) tie-break
        var best = -1; var bestS = Double.NegativeInfinity
        var j = 0
        while (j < cents.length) {
          val s = cos(v, cents(j)._2)
          if (s > bestS) { bestS = s; best = j }
          j += 1
        }
        if (best >= 0 && v != null) {
          val cell = cents(best)._1
          val w = v.length
          val (acc0, cnt) = sums.getOrElseUpdate(cell, (new Array[Double](w), 0L))
          val acc = if (acc0.length >= w) acc0 else {
            val nb = new Array[Double](w)
            System.arraycopy(acc0, 0, nb, 0, acc0.length); nb
          }
          var t = 0
          while (t < w) { acc(t) += v(t).toDouble; t += 1 }
          sums(cell) = (acc, cnt + 1)
        }
        i += 1
      }
      cents = sums.toArray.sortBy(_._1).map { case (cell, (acc, cnt)) =>
        (cell, acc.map(x => (x / cnt).toFloat))
      }
    }
    import spark.implicits._
    cents.toSeq.toDF("cell", "cvec")
      .select(col("cell"), col("cvec").cast("array<float>"))
  }

  /** Nearest-centroid assignment: broadcast the (≤ a few K) centroids,
    * one codegen'd cosine per (vector, centroid), argmax per vector.
    * Returns the input plus a `cell` column — the inverted file, with
    * `cell` as its partition key at scale.
    *
    * NULL-vec contract (r12 ADVICE, documented rather than changed — the
    * r12 verdict tree shipped and was oracle-certified with exactly this
    * behavior): rows whose vec is NULL are dropped from the inverted
    * file (NearestVecIndex is null-safe → __j null → filtered), same as
    * [[pqEncode]]. Callers needing per-id row preservation must filter
    * or impute upstream; none of the declared query paths feed null
    * vectors here.
    */
  def assignCells(vecs0: DataFrame, cents: DataFrame): DataFrame = {
    val vecs = graft.plan.Parallelism.ensureIngestParallelism(vecs0, Seq(col("id")), light = true)
    // argmax-cosine in ONE codegen'd scan per vector against the
    // cell-ascending centroid array (ties → lowest cell, exactly the old
    // TopK.perGroup(__sim desc, cell asc, 1)): the nCells-way broadcast-
    // join explosion + per-id window it replaces paid ~5 µs per joined
    // row in var-length aggregation buffers
    val centsArr = cents
      .agg(sort_array(collect_list(struct(col("cell"), col("cvec")))).as("__cs"))
      .select(transform(col("__cs"), x => x.getField("cell")).as("__cells"),
        transform(col("__cs"), x => x.getField("cvec")).as("__cvecs"))
    vecs.crossJoin(broadcast(centsArr))
      .withColumn("__j", VF.nearestCosineIndex(col("vec"), col("__cvecs")))
      .filter(col("__j") >= 0)
      .withColumn("cell", element_at(col("__cells"), col("__j") + 1))
      .drop("__cells", "__cvecs", "__j")
  }

  /** IVF-Flat approximate top-k: corpus vectors are bucketed by nearest
    * centroid (the inverted file); each query probes its `nProbe`
    * nearest cells and exact cosine re-ranks only those candidates.
    * Expected corpus work per query ≈ nProbe/nCells of brute force;
    * nProbe = nCells degrades to exact brute force (tested). At 100 TB
    * the inverted file is written partitioned BY cell so a probe reads
    * only its cells' files — the same pruning story as the reference's
    * HNSW index but in a disk/partition layout that shards.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nCells: Int = 16, nProbe: Int = 4, iters: Int = 2,
              seed: Int = 0): DataFrame = {
    import graft.plan._
    val base = Parallelism.ensureIngestParallelism(corpus, Seq(col("id")), light = true)
      .select(col("id"), col("vec"))
    val cents = ivfCentroids(base, nCells, iters, seed)
    val inverted = assignCells(base, cents).ckpt()
    val probes = queries.select(col("query_id"), col("vec").as("qvec"))
      .crossJoin(broadcast(cents))
      .withColumn("__sim", VF.cosineSimilarity(col("qvec"), col("cvec")))
    val probeCells = TopK.perGroup(probes, Seq("query_id"),
      Seq(col("__sim").desc, col("cell").asc), nProbe)
      .select("query_id", "qvec", "cell")
    val scored = probeCells.join(inverted, Seq("cell"))
      .filter(col("query_id") =!= col("id"))
      .withColumn("cosine", VF.cosineSimilarity(col("qvec"), col("vec")))
      .select("query_id", "id", "cosine")
    TopK.perGroup(scored, Seq("query_id"),
      Seq(col("cosine").desc, col("id").asc), k, rankCol = Some("rank"))
  }

  // ———————————————————— Product quantization ————————————————————

  /** Per-subspace explode: one row (id, m, sub) per subspace, where
    * `sub` is the m-th ⌈dim/subspaces⌉-wide slice of `vec` (the last
    * slice is shorter when the dimension doesn't divide — slice()
    * truncates at the array end, so every vector's m-th slice has the
    * same width and no dimension is silently dropped).
    */
  /** test/forensics alias */
  def subvecsPublic(df: DataFrame, idCol: String, subspaces: Int): DataFrame =
    subvecs(df, idCol, subspaces)

  private def subvecs(df: DataFrame, idCol: String, subspaces: Int): DataFrame =
    df.select(col(idCol), col("vec"),
        explode(sequence(lit(0), lit(subspaces - 1))).as("m"))
      .withColumn("__d", ceil(size(col("vec")).cast("double") / lit(subspaces)).cast("int"))
      .select(col(idCol), col("m"),
        slice(col("vec"), col("m") * col("__d") + lit(1), col("__d")).as("sub"))

  /** PQ codebooks: `codes` L2 sub-centroids per subspace, trained by
    * Lloyd rounds over a hash-bounded sample (`trainN` caps driver-free
    * training cost at 100 TB — codebook quality saturates long before
    * the corpus does, the standard practice for IVF-PQ indexes).
    * Seeding is deterministic (minimal xxhash64(id, seed, m) per
    * subspace), so the index is reproducible across runs and
    * partitionings. Codes that lose every member during a round drop
    * out (k-means empty-cluster shrink); encoding only needs the codes
    * that exist. Returns (m, code, cvec).
    */
  def pqCodebooks(corpus: DataFrame, subspaces: Int = 8, codes: Int = 16,
                  iters: Int = 3, trainN: Int = 65536, seed: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.plan._
    // The training set is a hash-bounded sample of AT MOST trainN rows —
    // driver-safe BY CONSTRUCTION at any corpus scale (the cap is the
    // design: codebook quality saturates long before the corpus does,
    // and the reference trains all its indexes in memory). Running the
    // Lloyd rounds on the collected sample replaces ~3 stages per round
    // (codebook-array build, broadcast, update exchange) with ONE
    // collect; arithmetic mirrors the distributed path op-for-op (same
    // hash seeding order, same ascending-code strict-less argmin, double
    // accumulation). The distributed loop below remains for callers that
    // raise trainN beyond driver comfort.
    // Gates (r12 ADVICE): (a) ids collect via getLong — non-long keys
    // (KMeans/AnnPq fixed rules on string-keyed relations) fall through
    // to the type-agnostic distributed loop; (b) the driver knee is
    // bounded by BYTES, not row count alone — at the designed default
    // (trainN ≤ 65536) the sample is driver-safe by construction, but a
    // caller raising trainN toward 2M could otherwise collect multi-GB
    // of full vectors, so above the default one cheap take(1) probes
    // the dimension — only when the row gate would admit the sample —
    // and the knee only engages under Knee.PqSampleBytes estimated.
    // Both checks come before the gate, so its line names the branch
    // that runs.
    val longIds = corpus.schema("id").dataType == org.apache.spark.sql.types.LongType
    def sampleTooBig: Boolean = trainN > 65536 && trainN <= Knee.PqTrainRows.value && {
      val dim = corpus.select(size(col("vec"))).take(1) match {
        case Array(r) if !r.isNullAt(0) => r.getInt(0).toLong
        case _ => 0L
      }
      trainN.toLong * (dim * 4L + 48L) > Knee.PqSampleBytes.value
    }
    if (longIds && !sampleTooBig && Knee.gate("pqCodebooks", trainN, Knee.PqTrainRows))
      return pqCodebooksDriver(corpus, subspaces, codes, iters, trainN, seed)
    val train = corpus.select(col("id"), col("vec"))
      .withColumn("__h", xxhash64(col("id"), lit(seed)))
      .orderBy("__h", "id").limit(trainN).drop("__h")
      // a global limit collapses to ONE partition — spread the (bounded,
      // <= trainN-row) sample so every Lloyd round runs parallel
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism, col("id"))
    // sv's consumers (seeding, then one assign per Lloyd round) are
    // SEQUENTIAL jobs, so the lazy checkpoint materializes inside the
    // first and is reused by the rest — eager paid an extra job
    val sv = subvecs(train, "id", subspaces).ckptLazy()
    var cb = sv.withColumn("__h", xxhash64(col("id"), lit(seed), col("m")))
      .withColumn("__rk", row_number().over(Window.partitionBy("m").orderBy("__h", "id")))
      .filter(col("__rk") <= codes)
      .select(col("m"), (col("__rk") - 1).cast("int").as("code"), col("sub").as("cvec"))
      .ckptLazy()
    for (_ <- 0 until iters) {
      // assign: argmin-L2 in one codegen'd scan per (id, m) row against
      // the code-ascending codebook arrays (ties → lowest code, exactly
      // the old min_by(code, struct(d2, code))) — the codes-way
      // broadcast-join explosion + min_by/first aggregation it replaces
      // paid ~5 µs per joined row in var-length aggregation buffers
      val asg = sv.join(broadcast(codebookArrays(cb)), Seq("m"))
        .withColumn("__j", VF.nearestL2Index(col("sub"), col("__cvecs")))
        .filter(col("__j") >= 0)
        .select(col("id"), col("m"),
          element_at(col("__codes"), col("__j") + 1).as("code"), col("sub"))
      // sub-centroid update as ONE partial-aggregating pass (see
      // ivfCentroids — same two-exchange shape removed)
      cb = asg.groupBy("m", "code")
        .agg(graft.functions.VecSumAgg.vecSum(col("sub")).as("__s"),
          count(lit(1)).as("__n"))
        .select(col("m"), col("code"),
          transform(col("__s"), x => (x / col("__n")).cast("float")).as("cvec"))
        .ckptLazy()
    }
    // returned codebooks fan out (encode + query LUT broadcasts) —
    // eager so concurrent consumers cannot race the lazy persist
    cb.ckpt()
  }

  /** In-memory mirror of the distributed Lloyd loop over the bounded
    * training sample (see [[pqCodebooks]]): same xxhash64(id, seed)
    * sample bound, same per-subspace xxhash64(id, seed, m) seeding
    * order, same ascending-code strict-less L2 argmin, same double-sum
    * mean, same empty-cluster drop. Returns a LOCAL relation — every
    * downstream broadcast builds from memory without a cluster job. */
  private def pqCodebooksDriver(corpus: DataFrame, subspaces: Int, codes: Int,
                                iters: Int, trainN: Int, seed: Int): DataFrame = {
    val spark = corpus.sparkSession
    // per-subspace seed hashes ride the collect (xxhash64 must be
    // Spark's own — the seeding order is part of the contract)
    val hs = array((0 until subspaces).map(m =>
      xxhash64(col("id"), lit(seed), lit(m))): _*)
    val collected = corpus.select(col("id"), col("vec"))
      .withColumn("__h", xxhash64(col("id"), lit(seed)))
      .orderBy("__h", "id").limit(trainN)
      .select(col("id"), col("vec"), hs.as("__hs"))
      .collect()
    val n = collected.length
    val vecs = new Array[Array[Float]](n)
    val ids = new Array[Long](n)
    val hsArr = new Array[Array[Long]](n)
    var r = 0
    while (r < n) {
      val row = collected(r)
      ids(r) = row.getLong(0)
      vecs(r) = row.getSeq[Float](1).toArray
      hsArr(r) = row.getSeq[Long](2).toArray
      r += 1
    }
    val dim = if (n == 0) 0 else vecs.map(_.length).max
    val d = math.ceil(dim.toDouble / subspaces).toInt
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Array[Float])]
    // subspaces are independent — fan the Lloyd loops across driver cores
    val perM = new Array[Seq[(Int, Int, Array[Float])]](subspaces)
    java.util.stream.IntStream.range(0, subspaces).parallel().forEach { m =>
      // m-th slice of each vector (slice truncates at the array end,
      // exactly like the distributed subvecs)
      val from = m * d
      val subs = vecs.map { v =>
        val to = math.min(from + d, v.length)
        if (from >= to) Array.emptyFloatArray else java.util.Arrays.copyOfRange(v, from, to)
      }
      // seeding: first `codes` rows under (xxhash64(id, seed, m), id)
      val order = (0 until n).sortBy(i => (hsArr(i)(m), ids(i)))
      var cb: Array[(Int, Array[Float])] =
        order.take(codes).zipWithIndex.map { case (i, c) => (c, subs(i)) }.toArray
      for (_ <- 0 until iters) {
        val sums = scala.collection.mutable.Map.empty[Int, (Array[Double], Long)]
        var i = 0
        while (i < n) {
          val s = subs(i)
          // ascending code order, strictly-less keeps the first — the
          // exact min_by(code, struct(d2, code)) tie-break
          var best = -1; var bestD = Double.PositiveInfinity
          var j = 0
          while (j < cb.length) {
            val c = cb(j)._2
            val len = math.min(s.length, c.length)
            var d2 = 0.0; var t = 0
            while (t < len) { val df = s(t).toDouble - c(t).toDouble; d2 += df * df; t += 1 }
            if (d2 < bestD) { bestD = d2; best = j }
            j += 1
          }
          if (best >= 0) {
            val code = cb(best)._1
            // buffer width = this subspace's slice width (the last
            // slice is narrower when dim doesn't divide), matching the
            // distributed VecSum's grown-to-longest-member buffer
            val w = math.max(0, math.min(d, dim - from))
            val (acc, cnt) = sums.getOrElseUpdate(code, (new Array[Double](w), 0L))
            val len = math.min(s.length, acc.length)
            var t = 0
            while (t < len) { acc(t) += s(t).toDouble; t += 1 }
            sums(code) = (acc, cnt + 1)
          }
          i += 1
        }
        cb = sums.toArray.sortBy(_._1).map { case (code, (acc, cnt)) =>
          // trailing zero dims beyond a short slice divide like the
          // distributed VecSum (grown buffer, zero contributions)
          (code, acc.map(x => (x / cnt).toFloat))
        }
      }
      perM(m) = cb.map { case (code, cvec) => (m, code, cvec) }.toSeq
    }
    perM.foreach(out ++= _)
    import spark.implicits._
    out.toSeq.toDF("m", "code", "cvec")
      .select(col("m"), col("code"), col("cvec").cast("array<float>"))
  }

  /** Encode a corpus against trained codebooks: (id, m, code, selfdot)
    * — the PQ index, `subspaces` small ints per vector (dim·4 bytes →
    * M bytes at codes ≤ 256, the compression that lets a 100 TB
    * embedding corpus scan as a few TB of codes). `selfdot` =
    * ⟨x_m, x_m⟩ rides along so ADC can recover ‖x‖² = Σ_m selfdot by
    * the same aggregation that sums the score — no second corpus scan
    * or per-id norm join at query time. One broadcast join + one
    * map-side-combined min_by shuffle of N·M rows.
    */
  def pqEncode(corpus: DataFrame, codebooks: DataFrame, subspaces: Int): DataFrame =
    subvecs(graft.plan.Parallelism.ensureIngestParallelism(corpus, Seq(col("id")), light = true)
        .select(col("id"), col("vec")), "id", subspaces)
      .join(broadcast(codebookArrays(codebooks)), Seq("m"))
      .withColumn("__j", VF.nearestL2Index(col("sub"), col("__cvecs")))
      .filter(col("__j") >= 0)
      .select(col("id"), col("m"),
        element_at(col("__codes"), col("__j") + 1).as("code"),
        VF.dot(col("sub"), col("sub")).as("selfdot"))

  /** (m, codes[], cvecs[]) — the codebook pivoted to code-ascending
    * parallel arrays per subspace, the shape [[NearestVecIndex]] scans
    * (codes may be sparse after empty-cluster drops, hence the explicit
    * code array rather than positional indexing). */
  private def codebookArrays(cb: DataFrame): DataFrame =
    cb.groupBy("m")
      .agg(sort_array(collect_list(struct(col("code"), col("cvec")))).as("__cs"))
      .select(col("m"), transform(col("__cs"), x => x.getField("code")).as("__codes"),
        transform(col("__cs"), x => x.getField("cvec")).as("__cvecs"))

  /** PQ approximate top-k cosine with asymmetric distance computation
    * (ADC) and exact re-rank:
    *  - train codebooks on a bounded sample, broadcast them;
    *  - encode the corpus once (codes ride every later shuffle instead
    *    of float vectors);
    *  - per query, a lookup table part(q, m, code) = ⟨q_m, c_{m,code}⟩
    *    (queries·subspaces·codes rows — broadcast-size for any sane
    *    query batch);
    *  - approx IP(q, x) = Σ_m part(q, m, code_m(x)): the LUT join
    *    lands on the code relation and partial-aggregates map-side, so
    *    the ADC shuffle is (queries·corpus) score rows, never vectors;
    *    ranking divides by ‖x‖ (query norm is rank-invariant), i.e.
    *    scores approximate cosine without materializing normalized
    *    vectors;
    *  - top (k·refine) ADC candidates per query re-rank with the exact
    *    codegen'd cosine kernel against the true vectors (the standard
    *    IVF-PQ refinement step), so returned cosines are EXACT — PQ
    *    error can only cost recall, never corrupt a reported score.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             subspaces: Int = 8, codes: Int = 16, iters: Int = 3,
             refine: Int = 8, trainN: Int = 65536, seed: Int = 0,
             codebooks: Option[DataFrame] = None): DataFrame = {
    import graft.plan._
    val base = Parallelism.ensureIngestParallelism(corpus, Seq(col("id")), light = true)
      .select(col("id"), col("vec"))
    val cb = codebooks.getOrElse(pqCodebooks(base, subspaces, codes, iters, trainN, seed))
    val enc = pqEncode(base, cb, subspaces).ckptLazy()
    val lut = subvecs(queries.select(col("query_id").as("id"), col("vec")), "id", subspaces)
      .withColumnRenamed("id", "query_id")
      .join(broadcast(cb), Seq("m"))
      .select(col("query_id"), col("m"), col("code"),
        VF.dot(col("sub"), col("cvec")).as("part"))
    // every enc row matches exactly one LUT row per query (one part per
    // (query, m, code)), so sum(selfdot) over the group is ‖x‖²
    val approx = enc.join(broadcast(lut), Seq("m", "code"))
      .groupBy("query_id", "id")
      .agg(sum(col("part")).as("__ip"), sum(col("selfdot")).as("__xn2"))
      .withColumn("__approx",
        when(col("__xn2") > 0, col("__ip") / sqrt(col("__xn2")))
          .otherwise(lit(Double.MinValue)))
      .filter(col("query_id") =!= col("id"))
    val cand = TopK.perGroup(approx, Seq("query_id"),
      Seq(col("__approx").desc, col("id").asc), k * refine)
      .select("query_id", "id")
    val scored = cand
      .join(queries.select(col("query_id"), col("vec").as("qvec")), Seq("query_id"))
      .join(base, Seq("id"))
      .withColumn("cosine", VF.cosineSimilarity(col("qvec"), col("vec")))
      .select("query_id", "id", "cosine")
    TopK.perGroup(scored, Seq("query_id"),
      Seq(col("cosine").desc, col("id").asc), k, rankCol = Some("rank"))
  }

  /** IVF-PQ: the two prunings composed, the standard billion-scale
    * index shape. The inverted file prunes the corpus to nProbe of
    * nCells cells per query (at rest: codes partitioned BY cell, so a
    * probe reads only its cells' files); within probed cells ADC ranks
    * codes exactly as [[pqTopK]] (probe set joins the code relation
    * broadcast, so the corpus side never shuffles); exact re-rank of
    * the surviving k·refine candidates. nProbe = nCells degrades to
    * exactly pqTopK's answer (tested), making the recall/efficiency
    * trade a single knob.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                nCells: Int = 16, nProbe: Int = 4,
                subspaces: Int = 16, codes: Int = 64, iters: Int = 2,
                refine: Int = 8, trainN: Int = 65536, seed: Int = 0,
                centroids: Option[DataFrame] = None,
                codebooks: Option[DataFrame] = None,
                encoded: Option[DataFrame] = None,
                cells: Option[DataFrame] = None): DataFrame = {
    import graft.plan._
    val base = Parallelism.ensureIngestParallelism(corpus, Seq(col("id")), light = true)
      .select(col("id"), col("vec"))
    val cents = centroids.getOrElse(ivfCentroids(base, nCells, iters, seed))
    // `cells`/`encoded` let a caller that ALSO consumes the assignment /
    // code relations (ann_ivfpq's index-shape referees) build them once
    // (r13, §2.4) — they must be exactly assignCells(corpus, cents) /
    // pqEncode(corpus, cb, subspaces)
    val inverted = cells.getOrElse(assignCells(base, cents))
    val cb = codebooks.getOrElse(pqCodebooks(base, subspaces, codes, iters, trainN, seed))
    // index build: codes + their cell (one id-keyed join, once at build
    // time; persisted form would write partitionBy(cell))
    val enc = encoded.getOrElse(pqEncode(base, cb, subspaces))
      .join(inverted.select(col("id"), col("cell")), Seq("id")).ckpt()
    val probes = queries.select(col("query_id"), col("vec").as("qvec"))
      .crossJoin(broadcast(cents))
      .withColumn("__sim", VF.cosineSimilarity(col("qvec"), col("cvec")))
    val probeCells = TopK.perGroup(probes, Seq("query_id"),
      Seq(col("__sim").desc, col("cell").asc), nProbe)
      .select("query_id", "cell")
    val lut = subvecs(queries.select(col("query_id").as("id"), col("vec")), "id", subspaces)
      .withColumnRenamed("id", "query_id")
      .join(broadcast(cb), Seq("m"))
      .select(col("query_id"), col("m"), col("code"),
        VF.dot(col("sub"), col("cvec")).as("part"))
    val approx = enc.join(broadcast(probeCells), Seq("cell"))
      .join(broadcast(lut), Seq("query_id", "m", "code"))
      .groupBy("query_id", "id")
      .agg(sum(col("part")).as("__ip"), sum(col("selfdot")).as("__xn2"))
      .withColumn("__approx",
        when(col("__xn2") > 0, col("__ip") / sqrt(col("__xn2")))
          .otherwise(lit(Double.MinValue)))
      .filter(col("query_id") =!= col("id"))
    val cand = TopK.perGroup(approx, Seq("query_id"),
      Seq(col("__approx").desc, col("id").asc), k * refine)
      .select("query_id", "id")
    val scored = cand
      .join(queries.select(col("query_id"), col("vec").as("qvec")), Seq("query_id"))
      .join(base, Seq("id"))
      .withColumn("cosine", VF.cosineSimilarity(col("qvec"), col("vec")))
      .select("query_id", "id", "cosine")
    TopK.perGroup(scored, Seq("query_id"),
      Seq(col("cosine").desc, col("id").asc), k, rankCol = Some("rank"))
  }

  /** Persist an IVF-PQ index: centroids + codebooks + the code relation
    * written `partitionBy(cell)` + the vectors (for exact re-rank).
    * Same deterministic training as [[ivfPqTopK]] — writing then
    * probing with matching parameters reproduces its answer exactly
    * (tested). At 100 TB the cell-partitioned layout is the point: a
    * probe's scan touches nProbe of nCells directories, which
    * [[probeIndex]] asserts via static partition pruning.
    */
  def writeIndex(dir: String, corpus: DataFrame,
                 nCells: Int = 16, subspaces: Int = 16, codes: Int = 64,
                 iters: Int = 2, trainN: Int = 65536, seed: Int = 0): Unit = {
    val base = corpus.select(col("id"), col("vec"))
    val cents = ivfCentroids(base, nCells, iters, seed)
    val cb = pqCodebooks(base, subspaces, codes, iters, trainN, seed)
    val enc = pqEncode(base, cb, subspaces)
      .join(assignCells(base, cents).select(col("id"), col("cell")), Seq("id"))
    cents.write.mode("overwrite").parquet(s"$dir/centroids")
    cb.write.mode("overwrite").parquet(s"$dir/codebooks")
    enc.write.mode("overwrite").partitionBy("cell").parquet(s"$dir/codes")
    base.write.mode("overwrite").parquet(s"$dir/vectors")
  }

  /** Probe a persisted [[writeIndex]] index. The probed cell set (a
    * few dozen ints — one tiny driver-side collect, same stance as
    * Balance's per-source rate map) turns into a STATIC partition
    * filter on the cell-partitioned code files, so the scan reads
    * nProbe of nCells directories — the on-disk analogue of the
    * reference probing its HNSW layers instead of the full relation.
    * Scoring past the pruned scan is identical to [[ivfPqTopK]].
    */
  def probeIndex(dir: String, queries: DataFrame, k: Int,
                 nProbe: Int = 4, refine: Int = 8): DataFrame = {
    val spark = queries.sparkSession
    val cents = spark.read.parquet(s"$dir/centroids")
    val cb = spark.read.parquet(s"$dir/codebooks")
    val subspaces = cb.agg(max(col("m"))).head().getInt(0) + 1
    val probes = queries.select(col("query_id"), col("vec").as("qvec"))
      .crossJoin(broadcast(cents))
      .withColumn("__sim", VF.cosineSimilarity(col("qvec"), col("cvec")))
    val probeCells = TopK.perGroup(probes, Seq("query_id"),
      Seq(col("__sim").desc, col("cell").asc), nProbe)
      .select("query_id", "cell")
    val cellList = probeCells.select("cell").distinct().collect().map(_.getInt(0)).toSeq
    val enc = spark.read.parquet(s"$dir/codes")
      .filter(col("cell").isInCollection(cellList))
    val lut = subvecs(queries.select(col("query_id").as("id"), col("vec")), "id", subspaces)
      .withColumnRenamed("id", "query_id")
      .join(broadcast(cb), Seq("m"))
      .select(col("query_id"), col("m"), col("code"),
        VF.dot(col("sub"), col("cvec")).as("part"))
    val approx = enc.join(broadcast(probeCells), Seq("cell"))
      .join(broadcast(lut), Seq("query_id", "m", "code"))
      .groupBy("query_id", "id")
      .agg(sum(col("part")).as("__ip"), sum(col("selfdot")).as("__xn2"))
      .withColumn("__approx",
        when(col("__xn2") > 0, col("__ip") / sqrt(col("__xn2")))
          .otherwise(lit(Double.MinValue)))
      .filter(col("query_id") =!= col("id"))
    val cand = TopK.perGroup(approx, Seq("query_id"),
      Seq(col("__approx").desc, col("id").asc), k * refine)
      .select("query_id", "id")
    val scored = cand
      .join(queries.select(col("query_id"), col("vec").as("qvec")), Seq("query_id"))
      .join(spark.read.parquet(s"$dir/vectors"), Seq("id"))
      .withColumn("cosine", VF.cosineSimilarity(col("qvec"), col("vec")))
      .select("query_id", "id", "cosine")
    TopK.perGroup(scored, Seq("query_id"),
      Seq(col("cosine").desc, col("id").asc), k, rankCol = Some("rank"))
  }

  // ———————————————————————— HNSW (graph) ————————————————————————

  /** Approximate top-k via partition-local HNSW graphs ([[HnswIndex]],
    * the reference's hnsw.rs algorithm). The Lucene-segment shape: each
    * corpus partition builds one in-memory graph inside mapPartitions
    * (narrow — the corpus is NOT shuffled), every (broadcast) query
    * greedy-walks every partition's graph, and per-partition top-k
    * candidates merge through one global top-k. At 1000 executors the
    * build is embarrassingly parallel, per-probe work is
    * O(parts · ef · log n_part) instead of a full scan, and no pointer
    * ever crosses a partition boundary — the distributed answer to a
    * structure the reference can only keep on one node. The query set
    * rides a broadcast (one driver-side collect of the SMALL probe
    * side, same stance as bruteForceTopK's broadcast hint).
    */
  def hnswTopK(corpus: DataFrame, queries: DataFrame, k: Int,
               m: Int = 16, efConstruction: Int = 100,
               efSearch: Int = 64): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val qs = queries.select(col("query_id").cast("long"), col("vec"))
      .as[(Long, Array[Float])].collect()
    val qB = spark.sparkContext.broadcast(qs)
    // one graph per PARTITION: a low-split source would build a single
    // serial graph — guard restores build parallelism (and bounds graph
    // size); no-op on real corpora. Deliberately HEAVY class (r11
    // Attribute A/B): per-row graph insertion is efConstruction distance
    // computations + mutation (~text-class CPU, not bytes-proportional)
    // — full width won at sf1 (96.3 core-s spread: 5.1 s vs 6.1 s) and
    // the partition-local graph-size bound is part of the design
    val perPart = graft.plan.Parallelism
      .ensureIngestParallelism(corpus, Seq(col("id")))
      .select(col("id").cast("long"), col("vec"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val idx = new HnswIndex(m, efConstruction)
        it.foreach { case (id, v) => idx.insert(id, v) }
        qB.value.iterator.flatMap { case (qid, qv) =>
          idx.search(qv, k + 1, efSearch).iterator
            .filter { case (id, _) => id != qid }
            .take(k)
            .map { case (id, s) => (qid, id, s) }
        }
      }
      .toDF("query_id", "id", "cosine")
    TopK.perGroup(perPart, Seq("query_id"),
      Seq(col("cosine").desc, col("id").asc), k, rankCol = Some("rank"))
  }

  /** Persist partition-local HNSW graphs: nodes (normalized vectors +
    * top level) and adjacency, both carrying their partition id, so
    * [[hnswProbeIndex]] can restore each graph verbatim (no re-insert)
    * and probe it. numParts bounds per-partition graph memory — size it
    * so one partition's vectors fit an executor core. */
  def hnswWriteIndex(dir: String, corpus: DataFrame, m: Int = 16,
                     efConstruction: Int = 100, numParts: Int = 32,
                     metric: String = "cosine",
                     extendCandidates: Boolean = false,
                     keepPruned: Boolean = false): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val parts = corpus.select(col("id").cast("long"), col("vec"))
      .repartition(numParts, col("id"))
      // pin per-partition insertion order so an incremental partition
      // rebuild (hnswPatchIndex) reproduces the full build exactly
      .sortWithinPartitions("id")
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val idx = new HnswIndex(m, efConstruction, metric,
          extendCandidates, keepPruned)
        it.foreach { case (id, v) => idx.insert(id, v) }
        val nodes = idx.nodes.map { case (id, v, lvl) =>
          (pid, id, v, lvl, null.asInstanceOf[Array[Long]], -1)
        }
        val adj = idx.edges.map { case (id, l, ns) =>
          (pid, id, null.asInstanceOf[Array[Float]], -1, ns, l)
        }
        nodes ++ adj
      }
      .toDF("part", "id", "vec", "level", "nbrs", "edge_level")
    parts.write.mode("overwrite").partitionBy("part").parquet(s"$dir/graph")
    spark.createDataset(Seq((m, efConstruction, metric)))
      .toDF("m", "ef_construction", "metric")
      .write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Incrementally maintain a persisted [[hnswWriteIndex]] index after
    * a mutation: graphs are partition-local and rows hash to their
    * partition by id, so only the hash buckets CONTAINING changed keys
    * need their graph rebuilt — a k-row delta re-inserts ~k/|corpus|
    * of the data instead of all of it, and the patched artifact is
    * byte-equivalent to a full rebuild (per-partition insertion order
    * is pinned by the in-partition id sort). `corpus` must be the
    * POST-mutation admitted rows. Returns the number of partitions
    * rebuilt. */
  def hnswPatchIndex(dir: String, corpus: DataFrame, changedIds: DataFrame,
                     m: Int = 16, efConstruction: Int = 100,
                     numParts: Int = 32, metric: String = "cosine",
                     extendCandidates: Boolean = false,
                     keepPruned: Boolean = false): Int = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // functions.hash is Murmur3(seed 42), the same expression
    // HashPartitioning uses, so this reproduces repartition's routing
    def bucket(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      pmod(hash(c.cast("long")), lit(numParts))
    val affected = changedIds.select(bucket(col("id")).cast("int").as("p"))
      .distinct().as[Int].collect().sorted
    for (pid <- affected) {
      val rows = corpus.select(col("id").cast("long"), col("vec"))
        .filter(bucket(col("id")) === pid)
        .repartition(1).sortWithinPartitions("id")
        .as[(Long, Array[Float])]
        .mapPartitions { it =>
          val idx = new HnswIndex(m, efConstruction, metric,
            extendCandidates, keepPruned)
          it.foreach { case (id, v) => idx.insert(id, v) }
          val nodes = idx.nodes.map { case (id, v, lvl) =>
            (id, v, lvl, null.asInstanceOf[Array[Long]], -1)
          }
          val adj = idx.edges.map { case (id, l, ns) =>
            (id, null.asInstanceOf[Array[Float]], -1, ns, l)
          }
          nodes ++ adj
        }
        .toDF("id", "vec", "level", "nbrs", "edge_level")
      rows.write.mode("overwrite").parquet(s"$dir/graph/part=$pid")
    }
    affected.length
  }

  /** Schema of the persisted graph rows ([[hnswWriteIndex]] layout);
    * readers must pass it explicitly — an empty corpus writes no data
    * files, and inference would fail. */
  val graphSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "part INT, id BIGINT, vec ARRAY<FLOAT>, level INT, nbrs ARRAY<BIGINT>, edge_level INT")

  /** Restore the persisted graphs as a MEMORY_ONLY-cached RDD of
    * ready-to-walk [[HnswIndex]] objects: the index-sized groupBy
    * shuffle and the adjacency-map rebuild are paid ONCE, after which
    * every probe against the returned handle walks the cached
    * deserialized graphs with no further shuffle or parquet I/O —
    * the shape a probe STREAM against a static epoch wants at scale.
    * MEMORY_ONLY stores built objects (HnswIndex is deliberately not
    * serializable); a lost partition recomputes from the parquet
    * lineage. Callers own the lifetime: unpersist on epoch change. */
  def hnswLoadIndex(spark: org.apache.spark.sql.SparkSession,
                    dir: String): org.apache.spark.rdd.RDD[HnswIndex] = {
    import spark.implicits._
    val metaDf = spark.read.parquet(s"$dir/meta")
    val meta = metaDf.head()
    val (m, efC) = (meta.getInt(0), meta.getInt(1))
    val metric =
      if (metaDf.columns.contains("metric"))
        meta.getString(metaDf.columns.indexOf("metric"))
      else "cosine"
    val rows = spark.read.schema(graphSchema).parquet(s"$dir/graph")
      .select(col("part").cast("int"), col("id").cast("long"), col("vec"),
        col("level").cast("int"), col("nbrs"), col("edge_level").cast("int"))
      .as[(Int, Long, Array[Float], Int, Array[Long], Int)]
    rows.rdd.groupBy(_._1).map { case (_, it) =>
      val nodes = mutable.ArrayBuffer.empty[(Long, Array[Float], Int)]
      val adj = mutable.ArrayBuffer.empty[(Long, Int, Array[Long])]
      it.foreach {
        case (_, id, v, lvl, null, _) => nodes += ((id, v, lvl))
        case (_, id, _, _, ns, l) => adj += ((id, l, ns))
      }
      HnswIndex.load(nodes.toSeq, adj.toSeq, m, efC, metric)
    }.persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
  }

  /** Probe graphs restored by [[hnswLoadIndex]]: broadcast the query
    * batch, walk every cached graph, merge the global top-k. Narrow
    * over the cached RDD — zero shuffle on the corpus side. */
  def hnswProbeLoaded(graphs: org.apache.spark.rdd.RDD[HnswIndex],
                      queries: DataFrame, k: Int,
                      efSearch: Int = 64, fieldsPerId: Int = 1): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val fetchWidth = fieldsPerId * k + 1
    val qs = queries.select(col("query_id").cast("long"), col("vec"))
      .as[(Long, Array[Float])].collect()
    val qB = spark.sparkContext.broadcast(qs)
    val perPart = graphs.flatMap { idx =>
      qB.value.iterator.flatMap { case (qid, qv) =>
        idx.search(qv, fetchWidth, efSearch).iterator
          .map { case (gid, s) => (Math.floorDiv(gid, fieldsPerId.toLong), s) }
          .filter { case (id, _) => id != qid }
          .take(fetchWidth - 1)
          .map { case (id, s) => (qid, id, s) }
      }
    }.toDF("query_id", "id", "score")
    val perId = perPart.groupBy("query_id", "id").agg(max("score").as("score"))
    TopK.perGroup(perId, Seq("query_id"),
      Seq(col("score").desc, col("id").asc), k, rankCol = Some("rank"))
  }

  /** Probe a persisted [[hnswWriteIndex]] index: one pass over the
    * graph files grouped by partition, each group restored via
    * [[HnswIndex.load]] and walked for every broadcast query. One-shot
    * (restore is not cached) — repeated probes against a static index
    * should go through [[hnswLoadIndex]]/[[hnswProbeLoaded]]. */
  def hnswProbeIndex(dir: String, queries: DataFrame, k: Int,
                     efSearch: Int = 64, fieldsPerId: Int = 1): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    // enough beam results that k DISTINCT ids survive per-field
    // duplicate collapse (fieldsPerId nodes may share one id)
    val fetchWidth = fieldsPerId * k + 1
    val metaDf = spark.read.parquet(s"$dir/meta")
    val meta = metaDf.head()
    val (m, efC) = (meta.getInt(0), meta.getInt(1))
    // pre-metric indexes carry no metric column: they were cosine
    val metric =
      if (metaDf.columns.contains("metric"))
        meta.getString(metaDf.columns.indexOf("metric"))
      else "cosine"
    val qs = queries.select(col("query_id").cast("long"), col("vec"))
      .as[(Long, Array[Float])].collect()
    val qB = spark.sparkContext.broadcast(qs)
    // explicit schema: an EMPTY corpus writes no data files, which
    // would otherwise fail parquet schema inference
    val rows = spark.read.schema(graphSchema).parquet(s"$dir/graph")
      .select(col("part").cast("int"), col("id").cast("long"), col("vec"),
        col("level").cast("int"), col("nbrs"), col("edge_level").cast("int"))
      .as[(Int, Long, Array[Float], Int, Array[Long], Int)]
    val perPart = rows.groupByKey(_._1).flatMapGroups { (_, it) =>
      val nodes = mutable.ArrayBuffer.empty[(Long, Array[Float], Int)]
      val adj = mutable.ArrayBuffer.empty[(Long, Int, Array[Long])]
      it.foreach {
        case (_, id, v, lvl, null, _) => nodes += ((id, v, lvl))
        case (_, id, _, _, ns, l) => adj += ((id, l, ns))
      }
      val idx = HnswIndex.load(nodes.toSeq, adj.toSeq, m, efC, metric)
      qB.value.iterator.flatMap { case (qid, qv) =>
        idx.search(qv, fetchWidth, efSearch).iterator
          // a multi-field graph stores node id = key*fieldsPerId+fieldIdx
          // (node ids must be unique); decode back to the payload key
          .map { case (gid, s) => (Math.floorDiv(gid, fieldsPerId.toLong), s) }
          .filter { case (id, _) => id != qid }
          .take(fetchWidth - 1)
          .map { case (id, s) => (qid, id, s) }
      }
    }.toDF("query_id", "id", "score") // score: cosine / -squared-L2 / dot
    // a multi-field index holds one graph NODE per (key, field): keep
    // each key's best score before ranking (no-op for single-field)
    val perId = perPart.groupBy("query_id", "id").agg(max("score").as("score"))
    TopK.perGroup(perId, Seq("query_id"),
      Seq(col("score").desc, col("id").asc), k, rankCol = Some("rank"))
  }
}
