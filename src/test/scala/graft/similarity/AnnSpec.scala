package graft.similarity

import graft.SparkFixture
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ANN quality: the LSH path is approximate — quantify its recall
  * against the exact brute-force ranking on real testdata (the
  * correctness contract for a rows-only driver entry). */
class AnnSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark

  test("lshTopK recall@5 vs brute force on sf0.001 embeddings") {
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("vec"))
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Ann.bruteForceTopK(corpus, queries, k = 5).select("query_id", "id"))
    // parameters matched to this corpus: neighbors at cosine ~0.3-0.5
    // need short signatures × many tables (the 12-plane default targets
    // high-similarity corpora and measures recall ~0.01 here)
    val approx = pairs(Ann.lshTopK(corpus, queries, k = 5, planes = 3, tables = 16)
      .select("query_id", "id"))
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"LSH recall@5 too low: $recall")
  }

  test("ivfTopK with a full probe equals brute force; partial probe keeps recall") {
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("vec"))
    def triples(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] =
      df.select("query_id", "id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val exact = triples(Ann.bruteForceTopK(corpus, queries, k = 5))
    // nProbe = nCells scans every cell: must reproduce brute force exactly
    val full = triples(Ann.ivfTopK(corpus, queries, k = 5, nCells = 8, nProbe = 8))
    assert(full == exact)
    // partial probe (3 of 8 cells = ~2.7x less corpus work) keeps
    // recall even on this corpus's hostile cosine-0.3-0.5 neighbor
    // regime (production corpora cluster far more tightly)
    val part = triples(Ann.ivfTopK(corpus, queries, k = 5, nCells = 8, nProbe = 3))
    val recall = (exact.map(t => (t._1, t._2)) intersect part.map(t => (t._1, t._2))).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall@5 too low: $recall")
  }

  test("pqTopK: exact re-ranked scores, recall vs brute force, deterministic") {
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("vec"))
    def triples(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] =
      df.select("query_id", "id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val exact = triples(Ann.bruteForceTopK(corpus, queries, k = 5))
    val pq = Ann.pqTopK(corpus, queries, k = 5, subspaces = 16, codes = 64, refine = 8)
    // ADC ranks candidates; the re-rank is the exact kernel, so every
    // reported cosine must MATCH brute force's for the same pair
    val pqPairs = pq.select("query_id", "id", "cosine").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val exactCos = Ann.bruteForceTopK(corpus, queries, k = 500)
      .select("query_id", "id", "cosine").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    pqPairs.foreach { case (pair, c) =>
      assert(math.abs(exactCos(pair) - c) < 1e-12, s"re-ranked cosine drifted for $pair") }
    // recall on this hostile near-random corpus (neighbors at cosine
    // 0.3-0.5; production embedding corpora cluster far tighter) —
    // M=16/K=64 measured 0.99 here and 0.96 at sf0.1's 2000 vectors
    val recall = (exact.map(t => (t._1, t._2)) intersect
      pqPairs.keySet).size.toDouble / exact.size
    assert(recall >= 0.8, s"PQ recall@5 too low: $recall")
    // hash-seeded training + deterministic tie-breaks: identical output
    // under a different input partitioning
    val again = triples(Ann.pqTopK(corpus.repartition(7), queries, k = 5,
      subspaces = 16, codes = 64, refine = 8))
    assert(again == triples(pq))
  }

  test("pqEncode: exactly `subspaces` codes per id, all within [0, codes)") {
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val cb = Ann.pqCodebooks(corpus, subspaces = 8, codes = 16, iters = 2)
    val enc = Ann.pqEncode(corpus, cb, subspaces = 8)
    val bad = enc.groupBy("id").agg(count(lit(1)).as("n"))
      .filter(col("n") =!= 8)
    assert(bad.count() == 0)
    assert(enc.filter(col("code") < 0 || col("code") >= 16).count() == 0)
  }

  test("ivfPqTopK: full probe equals pqTopK; partial probe keeps recall") {
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("vec"))
    def triples(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] =
      df.select("query_id", "id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // probing every cell visits every code row: must reproduce the
    // flat-PQ answer exactly (same codebooks — matched iters/seed)
    val pqAll = triples(Ann.pqTopK(corpus, queries, k = 5,
      subspaces = 16, codes = 64, iters = 2, refine = 8))
    val full = triples(Ann.ivfPqTopK(corpus, queries, k = 5, nCells = 8, nProbe = 8,
      subspaces = 16, codes = 64, iters = 2, refine = 8))
    assert(full == pqAll)
    // 3 of 8 cells (~2.7x less ADC work on top of the 16x code
    // compression) against exact brute force
    val exact = triples(Ann.bruteForceTopK(corpus, queries, k = 5))
    val part = triples(Ann.ivfPqTopK(corpus, queries, k = 5, nCells = 8, nProbe = 3,
      subspaces = 16, codes = 64, iters = 2, refine = 8))
    val recall = (exact.map(t => (t._1, t._2)) intersect
      part.map(t => (t._1, t._2))).size.toDouble / exact.size
    assert(recall >= 0.4, s"IVF-PQ recall@5 too low: $recall")
  }

  test("ivfPqTopK at the driver-query config (16 cells, probe 8): recall clears the gate with margin") {
    // the ann_ivfpq driver query gates recall@5 >= 0.6; this pins the
    // same config at the oracle SF so a regression toward the gate is
    // visible here before it flakes the driver row
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("vec"))
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = pairs(Ann.ivfPqTopK(corpus, queries, k = 5, nCells = 16, nProbe = 8,
      subspaces = 16, codes = 64, iters = 2, refine = 8))
    val exact = pairs(Ann.bruteForceTopK(corpus, queries, k = 5))
    val recall = (got intersect exact).size.toDouble / exact.size
    info(s"ivfpq driver-config recall@5 at sf0.01 = $recall")
    assert(recall >= 0.7, s"recall@5 dropped to $recall — driver gate is 0.6")
  }

  test("writeIndex/probeIndex: on-disk probe matches in-memory IVF-PQ, scan prunes to probed cells") {
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("vec"))
    def triples(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] =
      df.select("query_id", "id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val dir = java.nio.file.Files.createTempDirectory("graft_annidx").toString
    Ann.writeIndex(dir, corpus, nCells = 8, subspaces = 16, codes = 64, iters = 2)
    // same deterministic training persisted -> probing the files must
    // reproduce the in-memory composition exactly
    val onDisk = Ann.probeIndex(dir, queries, k = 5, nProbe = 3, refine = 8)
    val inMem = Ann.ivfPqTopK(corpus, queries, k = 5, nCells = 8, nProbe = 3,
      subspaces = 16, codes = 64, iters = 2, refine = 8)
    assert(triples(onDisk) == triples(inMem))
    // one query probing 3 of 8 cells: the code scan must read at most
    // 3 partition directories (static pruning, not a post-scan filter)
    val one = Ann.probeIndex(dir, queries.filter(col("query_id") === 0), k = 5, nProbe = 3)
    one.collect()
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    // AQE wraps the final plan in adaptive/stage nodes collect() won't
    // cross — walk through them explicitly
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val codeScans = scans(one.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("/codes")))
    assert(codeScans.nonEmpty, "expected a file scan over the codes relation")
    codeScans.foreach { f =>
      assert(f.selectedPartitions.partitionCount <= 3,
        s"probe read ${f.selectedPartitions.partitionCount} of 8 cell partitions")
    }
  }

  test("pqTopK plan: codebook/LUT/ADC joins all broadcast, no shuffled join of the corpus") {
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("vec"))
    val pq = Ann.pqTopK(corpus, queries, k = 5, subspaces = 16, codes = 64, refine = 8)
    pq.collect() // materialize so AQE settles the physical plan
    val physical = pq.queryExecution.executedPlan.toString
    // the corpus-side scans must only ever meet broadcast relations —
    // a SortMergeJoin would mean vectors or codes got shuffled by key
    assert(!physical.contains("SortMergeJoin"), physical.linesIterator.take(40).mkString("\n"))
  }

  test("bruteForceTopK kernel ≡ expression shape, bit-exact, incl. ragged corpus rows") {
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    // ragged rows exercise the kernel's per-pair min-length slow path
    val corpus = emb.select(col("vec_id").as("id"),
      when(col("vec_id") % 7 === 0, slice(col("embedding"), 1, 32))
        .otherwise(col("embedding")).as("vec"))
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("vec"))
    def quads(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double, Int)] =
      df.select(col("query_id").cast("long"), col("id").cast("long"),
          col("cosine"), col("rank").cast("int")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val kernel = quads(Ann.bruteForceTopK(corpus, queries, k = 5))
    // int ids force the expression fallback on the same logical input
    val rows = quads(Ann.bruteForceTopK(
      corpus.withColumn("id", col("id").cast("int")),
      queries.withColumn("query_id", col("query_id").cast("int")), k = 5))
    assert(kernel == rows) // exact doubles: the kernel mirrors the expression's accumulation
  }

  test("bruteForceTopK kernel: null corpus vectors are not candidates") {
    import spark.implicits._
    val corpus = Seq((1L, Array(1f, 0f)), (2L, null.asInstanceOf[Array[Float]]),
      (3L, Array(0f, 1f))).toDF("id", "vec")
    val queries = Seq((10L, Array(1f, 1f))).toDF("query_id", "vec")
    val out = Ann.bruteForceTopK(corpus, queries, k = 5).collect()
    assert(out.map(_.getLong(1)).toSet == Set(1L, 3L))
  }

  test("exactCosineFor matches brute force's cosine for the same pairs") {
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("vec"))
    val bf = Ann.bruteForceTopK(corpus, queries, k = 5)
    val per = Ann.exactCosineFor(bf.select("query_id", "id"), corpus, queries)
    val joined = bf.select(col("query_id"), col("id"), col("cosine").as("a"))
      .join(per.withColumnRenamed("cosine", "b"), Seq("query_id", "id"))
    assert(joined.count() == bf.count())
    assert(joined.filter(col("a") =!= col("b")).isEmpty)
  }

  test("driver pqCodebooks mirrors the distributed Lloyd loop") {
    // trainN above the driver gate forces the distributed loop; both see
    // the whole (small) corpus as the training set, the same seeding
    // order and the same rounds — key sets must match exactly, centroid
    // floats up to summation-order ulps
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    def keyed(df: org.apache.spark.sql.DataFrame): Map[(Int, Int), Array[Float]] =
      df.collect().map(r => ((r.getInt(0), r.getInt(1)),
        r.getSeq[Float](2).toArray)).toMap
    val drv = keyed(Ann.pqCodebooks(corpus, subspaces = 8, codes = 16, iters = 2))
    val dist = keyed(Ann.pqCodebooks(corpus, subspaces = 8, codes = 16, iters = 2,
      trainN = 3000000))
    assert(drv.keySet == dist.keySet)
    for ((k, a) <- drv; b = dist(k)) {
      assert(a.length == b.length, s"$k width")
      a.zip(b).foreach { case (x, y) => assert(math.abs(x - y) <= 1e-4f, s"$k $x vs $y") }
    }
  }

  test("string-keyed pqCodebooks logs no driver knee line for the distributed run") {
    import spark.implicits._
    val corpus = (0 until 12).map(i => (s"d$i", Array.tabulate(4)(j => ((i * 7 + j * 3) % 5).toFloat)))
      .toDF("id", "vec")
    val (cb, lines) = graft.plan.KneeLog.capture(
      Ann.pqCodebooks(corpus, subspaces = 2, codes = 3, iters = 1).count())
    assert(cb > 0)
    assert(!lines.exists(_.contains("op=pqCodebooks ")), lines)
  }

  test("bruteForceTopK excludes self and ranks by cosine") {
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = emb.filter(col("vec_id") === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("vec"))
    val rows = Ann.bruteForceTopK(corpus, queries, k = 10)
      .orderBy("rank").collect()
    assert(rows.forall(_.getLong(1) != 0L))
    val cosines = rows.map(_.getDouble(2)).toSeq
    assert(cosines == cosines.sorted.reverse)
  }
}
