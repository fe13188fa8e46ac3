package graft.lang

import graft.SparkFixture
import org.scalatest.funsuite.AnyFunSuite

/** Index sys-ops and `~rel:idx{...}` probes, analogues of the
  * reference's runtime tests (cozo-core/src/runtime/tests.rs:742
  * test_vec_index, :812 test_fts_indexing, :857 test_lsh_indexing2;
  * parse/sys.rs:391-655).
  */
class IndexesSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark

  def rows(db: CozoDb, s: String): Seq[Seq[Any]] = db.run(s).collect().toSeq.map(_.toSeq)

  test("::fts create + probe with scores; index follows later puts (tests.rs:812)") {
    val db = new CozoDb(spark)
    db.run("?[k, v] <- [['a', 'hello world!'], ['b', 'the world is round']] :create a {k}")
    db.run(
      """::fts create a:fts {
        |  extractor: v,
        |  tokenizer: Simple,
        |  filters: [Lowercase, Stemmer('English'), Stopwords('en')]
        |}""".stripMargin)
    db.run(
      """?[k, v] <- [
        |  ['b', 'the world is square!'],
        |  ['c', 'see you at the end of the world!'],
        |  ['d', 'the world is the world and makes the world go around']
        |] :put a {k}""".stripMargin)
    // index internals are scannable with the reference's schema
    // (relation.rs create_fts_index): word, src_<key>, offset lists,
    // position, total_length
    val words = rows(db, "?[word, src_k] := *a:fts{word, src_k}")
    assert(words.nonEmpty && words.forall(_.length == 2))
    assert(words.map(_.head).contains("world"))
    val full = db.run("?[word, src_k, p, tl] := *a:fts{word, src_k, position: p, total_length: tl}")
      .collect()
    // doc d: 'world' at stemmed-token positions with tf 3; totals are
    // the post-pipeline token counts (stopwords removed)
    val d = full.filter(r => r.getString(0) == "world" && r.getString(1) == "d").head
    assert(d.getSeq[Long](2).length == 3 && d.getLong(3) >= 3)
    assert(full.forall(r => r.getSeq[Long](2).nonEmpty && r.getLong(3) > 0))
    // the probe returns top-k by BM25 with the score bound
    val res = db.run("?[k, v, s] := ~a:fts{k, v | query: 'world', k: 2, bind_score: s}")
      .collect()
    assert(res.length == 2)
    // doc d has the most 'world' occurrences
    assert(res.map(_.getString(0)).contains("d"))
    assert(res.forall(_.getDouble(2) > 0))
  }

  test("::lsh create + probe finds the near-duplicate (tests.rs:857)") {
    val db = new CozoDb(spark)
    db.run("?[k, v] <- [['a', 'ewiygfspeoighjsfcfxzdfncalsdf']] :create a {k}")
    for (t <- Seq(0.1, 0.5, 0.9)) {
      val name = s"a:lsh${(t * 10).toInt}"
      db.run(s"::lsh create $name {extractor: v, tokenizer: NGram, n_gram: 3, target_threshold: $t}")
      val res = rows(db, s"?[k] := ~$name{k | query: 'ewiygfspeoighjsfcfxzdfncalsdf', k: 1}")
      assert(res == Seq(Seq("a")), s"threshold $t")
    }
    // a clearly-different string does not reach similarity 1
    val sim = db.run(
      "?[k, s] := ~a:lsh5{k | query: 'completely different text', k: 1, bind_similarity: s}")
      .collect()
    assert(sim.isEmpty || sim.head.getDouble(1) < 0.5)
    // internals scan as the reference's (hash: Bytes, src_<key>)
    // surface — one row per band bucket (relation.rs:761-776)
    val bands = db.run("?[h, src_k] := *a:lsh5{hash: h, src_k}").collect()
    assert(bands.nonEmpty && bands.forall(r =>
      r.get(0).asInstanceOf[Array[Byte]].length == 8 && r.getString(1) == "a"))
    // k is OPTIONAL for LSH probes (program.rs:1135-1150: no cut);
    // a LIST query's elements ARE the shingles; null matches nothing
    // (minhash_lsh.rs:147-158)
    assert(db.run("?[k] := ~a:lsh1{k | query: 'ewiygfspeoighjsfcfxzdfncalsdf'}")
      .collect().map(_.getString(0)).toSeq == Seq("a"))
    // a LIST query's elements ARE the shingles — on an n_gram 1 index
    // the shingles are the tokens themselves, so a token list matches
    db.run("?[k, w] <- [['a', 'alpha beta gamma']] :create lw {k => w}")
    db.run("::lsh create lw:l1 {extractor: w, tokenizer: Simple, n_gram: 1, target_threshold: 0.5}")
    assert(db.run("?[k] := ~lw:l1{k | query: ['alpha', 'beta', 'gamma'], k: 1}")
      .collect().map(_.getString(0)).toSeq == Seq("a"))
    assert(db.run("?[k] := ~a:lsh1{k | query: null, k: 1}").collect().isEmpty)
    // FTS and HNSW probes REQUIRE k (program.rs:1269-1281)
    db.run("?[k, v2] <- [['a', 'hello world']] :create ftsr {k => v2}")
    db.run("::fts create ftsr:f {extractor: v2, tokenizer: Simple}")
    val ek = intercept[Exception](db.run("?[k] := ~ftsr:f{k | query: 'hello'}"))
    assert(ek.getMessage.contains("`k` is required"))
    // a constant LIST fts query OR-joins its string parts; non-string
    // elements error (ra.rs:1028-1046 FtsSearchRA query coercion)
    assert(db.run("?[k] := ~ftsr:f{k | query: ['hello', 'nosuchtoken'], k: 5}")
      .collect().map(_.getString(0)).toSeq == Seq("a"))
    val el = intercept[Exception](
      db.run("?[k] := ~ftsr:f{k | query: ['hello', 3], k: 5}"))
    assert(el.getMessage.contains("Expected string for FTS search"))
    // unknown probe parameters error like the reference instead of
    // being silently ignored ("Extra parameters ...")
    val ep = intercept[Exception](
      db.run("?[k] := ~ftsr:f{k | query: 'hello', k: 1, bind_scor: s}"))
    assert(ep.getMessage.contains("Unexpected parameters") &&
      ep.getMessage.contains("bind_scor"))
    val ep2 = intercept[Exception](
      db.run("?[k] := ~a:lsh5{k | query: 'x', radius: 2.0}"))
    assert(ep2.getMessage.contains("Unexpected parameters"))
  }

  test("::hnsw create + probe binds distances in metric order (tests.rs:742)") {
    val db = new CozoDb(spark)
    db.run(
      """?[k, v] <- [['a', [1.0, 2.0]], ['b', [2.0, 3.0]], ['c', [3.0, 4.0]],
        |           ['x', [0.0, 0.1]], ['y', [112.0, 0.0]]] :create a {k}""".stripMargin)
    db.run("::hnsw create a:vec {dim: 2, dtype: F32, fields: [v], distance: L2, m: 50, ef_construction: 20}")
    val res = db.run("?[d, k] := ~a:vec{k | query: [2.0, 3.0], k: 3, bind_distance: d}")
      .collect().map(r => r.getString(1) -> r.getDouble(0))
    assert(res.head == ("b" -> 0.0))
    // a and c tie at √2 from [2,3]; key-asc breaks the tie
    assert(res.map(_._1).take(3).toSeq == Seq("b", "a", "c"))
    assert(res.map(_._2).toSeq == res.map(_._2).sorted.toSeq)
  }

  test("covering index tracks mutations and serves named scans (tests.rs:455 test_index)") {
    val db = new CozoDb(spark)
    db.run("?[fr, to, data] <- [[1, 2, 3], [4, 5, 6]] :create friends {fr, to}")
    // unknown column errors like the reference
    intercept[Exception](db.run("::index create friends:rev {to, no}"))
    db.run("::index create friends:rev {to, data}")
    db.run("?[fr, to, data] <- [[1, 2, 5], [6, 5, 7]] :put friends {fr, to}")
    db.run("?[fr, to] <- [[4, 5]] :rm friends {fr, to}")
    assert(db.relation("friends").collect().map(_.toSeq).toSet ==
      Set(Seq(1L, 2L, 5L), Seq(6L, 5L, 7L)))
    // the index view reflects the mutations, permuted to (to, data, fr)
    assert(db.relation("friends:rev").collect().map(_.toSeq).toSet ==
      Set(Seq(2L, 5L, 1L), Seq(5L, 7L, 6L)))
    // named-field scan of the index
    assert(rows(db, "?[fr, data] := *friends:rev{to: 2, fr, data}") == Seq(Seq(1L, 5L)))
    assert(db.run("::columns friends:rev").count() == 3)
    db.run("::index drop friends:rev")
    intercept[Exception](db.run("?[to] := *friends:rev{to}"))
  }

  test("partial :update overwrites only the given non-key columns (tests.rs:434 test_update)") {
    val db = new CozoDb(spark)
    db.run("?[fr, to, a, b, c] <- [[1, 2, 3, 4, 5]] :create friends {fr, to}")
    db.run("?[fr, to, b] <- [[1, 2, 100]] :update friends {fr, to}")
    assert(rows(db, "?[fr, to, a, b, c] := *friends{fr, to, a, b, c}") ==
      Seq(Seq(1L, 2L, 3L, 100L, 5L)))
  }

  test("::fts Stemmer/Stopwords argument semantics mirror the reference (fts/mod.rs:176-233)") {
    val db = new CozoDb(spark)
    db.run("?[k, v] <- [['a', 'x']] :create t {k}")
    def create(filters: String): Unit =
      db.run(s"::fts create t:f { extractor: v, tokenizer: Simple, filters: [$filters] }")
    // missing / malformed arguments fail like the reference
    val e1 = intercept[Exception](create("Stemmer"))
    assert(e1.getMessage.contains("Missing first argument"))
    val e2 = intercept[Exception](create("Stemmer('klingon')"))
    assert(e2.getMessage.contains("Unsupported language"))
    // reference-accepted but unshipped: loud, names the shipped set
    val e3 = intercept[Exception](create("Stemmer('greek')"))
    assert(e3.getMessage.contains("not shipped"))
    val e4 = intercept[Exception](create("Stopwords"))
    assert(e4.getMessage.contains("requires language name or a list"))
    val e5 = intercept[Exception](create("Stopwords('xx')"))
    assert(e5.getMessage.contains("Unsupported language"))
    // shipped language + explicit list both create successfully
    create("Lowercase, Stemmer('german'), Stopwords('de')")
    db.run("::fts drop t:f")
    create("Lowercase, Stopwords(['foo', 'bar'])")
    db.run("::fts drop t:f")
    // an explicitly EMPTY list removes nothing (no English fallback)
    db.run("?[k, v] <- [['s', 'the and of']] :put t {k}")
    create("Lowercase, Stopwords([])")
    assert(rows(db, "?[k] := ~t:f{k | query: 'the', k: 5}").map(_.head).toSet
      == Set("s"))
    db.run("::fts drop t:f")
  }

  test("german FTS round-trip: index-side and query-side stemming agree") {
    val db = new CozoDb(spark)
    db.run(
      """?[k, v] <- [
        |  ['a', 'Die Häuser der Stadt'],
        |  ['b', 'Ein Haus am See'],
        |  ['c', 'Der Fluss und die Brücke']
        |] :create docs {k}""".stripMargin)
    db.run(
      """::fts create docs:fts {
        |  extractor: v, tokenizer: Simple,
        |  filters: [Lowercase, Stemmer('german'), Stopwords('de')]
        |}""".stripMargin)
    // Haus and Häuser stem to the same token, so either query form
    // finds both documents; the stopworded article finds nothing
    val hits = rows(db, "?[k] := ~docs:fts{k | query: 'Häuser', k: 10}")
      .map(_.head).toSet
    assert(hits == Set("a", "b"))
    val hits2 = rows(db, "?[k] := ~docs:fts{k | query: 'hauses', k: 10}")
      .map(_.head).toSet
    assert(hits2 == Set("a", "b"))
  }

  test("::hnsw create with m: opts the probe into the real graph walk (agrees with exact scan)") {
    val db = new CozoDb(spark)
    db.driverIndexGateBytes = -1L // the distributed branch: its counters are asserted
    // deterministic 4-dim vectors over a numeric key
    val rows = (0 until 60).map { i =>
      val v = Seq(math.sin(i * 0.7), math.cos(i * 1.3),
        math.sin(i * 0.29 + 1), math.cos(i * 0.11)).map(x => f"$x%.4f")
      s"[$i, vec([${v.mkString(", ")}])]"
    }.mkString(", ")
    db.run(s"?[k, v] <- [$rows] :create vecs {k => v}")
    db.run("::hnsw create vecs:exact { fields: [v], distance: Cosine, dim: 4 }")
    db.run("::hnsw create vecs:graph { fields: [v], distance: Cosine, dim: 4, m: 8, ef_construction: 64 }")
    val probe = "query: vec([0.5, -0.5, 0.25, 0.9]), k: 5, bind_distance: d"
    def hits(idx: String): Seq[(Long, Double)] =
      db.run(s"?[k, d] := ~vecs:$idx{k | $probe}").collect()
        .map(r => (r.getLong(0), BigDecimal(r.getDouble(1))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSeq.sortBy(_._1)
    // small corpus: the graph walk must reproduce the exact scan
    assert(hits("graph") == hits("exact"))
    // the persisted graph is cached per epoch: a second probe reuses
    // it, and a mutation PATCHES only the affected hash partitions
    // (no full rebuild — the FTS/LSH incremental-maintenance trade)
    val builds0 = db.indexFullBuilds
    val patches0 = db.indexPatches
    hits("graph")
    assert(db.indexFullBuilds == builds0)
    db.run("?[k, v] <- [[999, vec([1.0, 1.0, 1.0, 1.0])]] :put vecs {k => v}")
    hits("graph")
    assert(db.indexFullBuilds == builds0, "a put must not force a full rebuild")
    assert(db.indexPatches == patches0 + 1, "the put patches the affected partition")
    assert(hits("graph") == hits("exact")) // still agreeing post-mutation
    // a removal patches too, and the removed key stops matching
    db.run("?[k] <- [[999]] :rm vecs {k}")
    assert(hits("graph") == hits("exact"))
    assert(db.indexFullBuilds == builds0)
    assert(db.indexPatches == patches0 + 2)
    assert(!hits("graph").exists(_._1 == 999L))
  }

  test("L2 and IP ::hnsw with m: also walk the graph and agree with exact scan") {
    val db = new CozoDb(spark)
    val rows = (0 until 60).map { i =>
      val v = Seq(math.sin(i * 0.7) * 2, math.cos(i * 1.3),
        math.sin(i * 0.29 + 1), math.cos(i * 0.11) * 3).map(x => f"$x%.4f")
      s"[$i, vec([${v.mkString(", ")}])]"
    }.mkString(", ")
    db.run(s"?[k, v] <- [$rows] :create mvecs {k => v}")
    for (dist <- Seq("L2", "IP")) {
      db.run(s"::hnsw create mvecs:ex_$dist { fields: [v], distance: $dist, dim: 4 }")
      db.run(s"::hnsw create mvecs:gr_$dist { fields: [v], distance: $dist, dim: 4, m: 8, ef_construction: 64 }")
      val probe = "query: vec([0.5, -0.5, 0.25, 0.9]), k: 5, bind_distance: d"
      def hits(idx: String): Seq[(Long, Double)] =
        db.run(s"?[k, d] := ~mvecs:$idx{k | $probe}").collect()
          .map(r => (r.getLong(0), BigDecimal(r.getDouble(1))
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSeq.sortBy(_._1)
      assert(hits(s"gr_$dist") == hits(s"ex_$dist"), s"distance $dist")
      // stream probes too: every stored vector probes the index
      def streamHits(idx: String): Set[(Long, Long, Double)] =
        db.run(s"?[p, k, d] := *mvecs[p, q], ~mvecs:$idx{k | query: q, k: 3, bind_distance: d}")
          .collect().map(r => (r.getLong(0), r.getLong(1), BigDecimal(r.getDouble(2))
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
      assert(streamHits(s"gr_$dist") == streamHits(s"ex_$dist"), s"stream $dist")
    }
  }

  test("multi-field ::hnsw with m: walks one graph node per (key, field) and agrees with exact scan") {
    import spark.implicits._
    val db = new CozoDb(spark)
    db.driverIndexGateBytes = -1L // the distributed branch: its counters are asserted
    val data = (0 until 50).map { i =>
      val v1 = Array(math.sin(i * 0.7), math.cos(i * 1.3), math.sin(i * 0.29 + 1), math.cos(i * 0.11)).map(_.toFloat)
      (i.toLong, v1, v1.map(x => -x * 0.5f)) // v2: different direction AND norm
    }
    db.registerTable("mfv", data.toDF("k", "v1", "v2"), Seq("k"))
    db.run("::hnsw create mfv:ex { fields: [v1, v2], distance: Cosine, dim: 4 }")
    db.run("::hnsw create mfv:gr { fields: [v1, v2], distance: Cosine, dim: 4, m: 8, ef_construction: 64 }")
    def hits(idx: String): Seq[(Long, Double)] =
      db.run(s"?[k, d] := ~mfv:$idx{k | query: vec([0.5, -0.5, 0.25, 0.9]), k: 5, bind_distance: d}")
        .collect().map(r => (r.getLong(0), BigDecimal(r.getDouble(1))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSeq.sortBy(_._1)
    assert(hits("gr") == hits("ex"))
    // stream probes against the multi-field graph
    def streamHits(idx: String): Set[(Long, Long, Double)] =
      db.run(s"?[p, k, d] := *mfv[p, q, w], ~mfv:$idx{k | query: q, k: 3, bind_distance: d}")
        .collect().map(r => (r.getLong(0), r.getLong(1), BigDecimal(r.getDouble(2))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
    assert(streamHits("gr") == streamHits("ex"))
    // a mutation patches the multi-field graph (both fields' nodes)
    val patches0 = db.indexPatches
    db.run("?[k, v1, v2] <- [[999, vec([0.5, -0.5, 0.25, 0.9]), vec([0.0, 0.0, 0.0, 1.0])]] :put mfv {k}")
    assert(hits("gr") == hits("ex"))
    assert(db.indexPatches == patches0 + 1)
    assert(hits("gr").exists(_._1 == 999L)) // the new row's v1 IS the probe
  }

  test("list-of-vectors fields index per element; bind_field/bind_field_idx/bind_vector (hnsw.rs:694-705, 958-996)") {
    import spark.implicits._
    val db = new CozoDb(spark)
    val rows = Seq(
      (1L, Array(1f, 0f), Seq(Array(0f, 1f), Array(0.6f, 0.8f))),
      (2L, Array(0f, -1f), Seq.empty[Array[Float]]),
      (3L, null.asInstanceOf[Array[Float]], Seq(Array(-1f, 0f))),
      (4L, null.asInstanceOf[Array[Float]], Seq.empty[Array[Float]])) // no vectors: not indexed
    db.registerTable("lv", rows.toDF("k", "pv", "lv"), Seq("k"))
    db.run("::hnsw create lv:ix { fields: [pv, lv], distance: Cosine, dim: 2 }")
    val res = db.run("?[k, f, fi, d, mv] := ~lv:ix{k | query: vec([0.0, 1.0]), k: 10, " +
      "bind_field: f, bind_field_idx: fi, bind_distance: d, bind_vector: mv}")
      .collect().sortBy(_.getLong(0))
    assert(res.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L)) // row 4 is vectorless
    val r1 = res(0) // best match: lv element 0 = [0,1], dist 0
    assert(r1.getString(1) == "lv" && r1.getLong(2) == 0L && r1.getDouble(3) < 1e-6)
    assert(r1.getSeq[Float](4) == Seq(0f, 1f))
    val r2 = res(1) // empty list: matches through the plain field, idx NULL
    assert(r2.getString(1) == "pv" && r2.isNullAt(2) && math.abs(r2.getDouble(3) - 2.0) < 1e-6)
    assert(r2.getSeq[Float](4) == Seq(0f, -1f))
    val r3 = res(2) // null plain vector: matches through the list, dist 1
    assert(r3.getString(1) == "lv" && r3.getLong(2) == 0L && math.abs(r3.getDouble(3) - 1.0) < 1e-6)
    // radius composes: only the exact hit survives
    val tight = db.run("?[k] := ~lv:ix{k | query: vec([0.0, 1.0]), k: 10, radius: 0.5}").collect()
    assert(tight.map(_.getLong(0)).toSeq == Seq(1L))
    // m: on a list-field index is accepted but walks nothing — the
    // exact scan serves it with identical rows
    db.run("::hnsw create lv:g { fields: [pv, lv], distance: Cosine, dim: 2, m: 8 }")
    val viaG = db.run("?[k, f, fi, d] := ~lv:g{k | query: vec([0.0, 1.0]), k: 10, " +
      "bind_field: f, bind_field_idx: fi, bind_distance: d}").collect().sortBy(_.getLong(0))
    assert(viaG.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      res.map(r => (r.getLong(0), r.getString(1))).toSeq)
    // create-time validation mirrors the reference (relation.rs:1036-1060)
    val e1 = intercept[Exception](db.run("::hnsw create lv:bad { fields: [nope], dim: 2 }"))
    assert(e1.getMessage.contains("non-existent field"))
    val e2 = intercept[Exception](db.run("::hnsw create lv:bad2 { fields: [k], dim: 2 }"))
    assert(e2.getMessage.contains("non-vector field"))
  }

  test("LSH shingles are TOKEN n-grams through the pipeline; n_perm/weights; extract_filter; unknown options error") {
    val db = new CozoDb(spark)
    db.run("?[k, v] <- [['a', 'the quick brown fox jumps'], " +
      "['b', 'the quick brown cat sleeps'], " +
      "['c', 'totally unrelated words here now']] :create d {k => v}")
    db.run("::lsh create d:l {extractor: v, tokenizer: Simple, n_gram: 2, " +
      "target_threshold: 0.2, n_perm: 64, false_positive_weight: 0.5, false_negative_weight: 0.5}")
    val res = db.run("?[k, s] := ~d:l{k | query: 'the quick brown dog runs', k: 5, bind_similarity: s}")
      .collect().map(r => (r.getString(0), BigDecimal(r.getDouble(1))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)).toMap
    // WORD-bigram Jaccard (unique_ngrams semantics): query bigrams
    // {the·quick, quick·brown, brown·dog, dog·runs} vs a's
    // {the·quick, quick·brown, brown·fox, fox·jumps} = 2/6; char
    // trigrams would score very differently
    assert(res.keySet.subsetOf(Set("a", "b")) && res.nonEmpty)
    res.get("a").foreach(s => assert(s == 0.3333))
    res.get("b").foreach(s => assert(s == 0.3333))
    // extract_filter (parse/sys.rs:374-382): rows failing the
    // condition are absent from the index
    db.run("::lsh create d:lf {extractor: v, tokenizer: Simple, n_gram: 2, " +
      "target_threshold: 0.2, n_perm: 64, extract_filter: k != 'a'}")
    val viaF = db.run("?[k] := ~d:lf{k | query: 'the quick brown dog runs', k: 5}")
      .collect().map(_.getString(0)).toSet
    assert(!viaF.contains("a") && viaF.contains("b"))
    // FTS extract_filter: excluded docs never match, but the corpus
    // size for idf still counts them (FtsCache n = base row count)
    db.run("::fts create d:ff {extractor: v, tokenizer: Simple, extract_filter: k != 'a'}")
    val fres = db.run("?[k] := ~d:ff{k | query: 'quick', k: 10}")
      .collect().map(_.getString(0)).toSet
    assert(fres == Set("b"))
    // unknown create options error with the reference's messages
    val e1 = intercept[Exception](db.run("::lsh create d:bad {extractor: v, bogus: 1}"))
    assert(e1.getMessage.contains("Unknown option bogus for LSH index"))
    val e2 = intercept[Exception](db.run("::fts create d:bad2 {extractor: v, n_gram: 2}"))
    assert(e2.getMessage.contains("Unknown option n_gram for FTS index"))
  }

  test("per-probe filter: on FTS and LSH probes cuts candidates before k accumulates (ra.rs filter_bytecode)") {
    val db = new CozoDb(spark)
    db.run("?[k, v, grp] <- [['a', 'world one', 1], ['b', 'world two', 2], " +
      "['c', 'world three', 1], ['d', 'world four', 2]] :create fd {k => v, grp}")
    db.run("::fts create fd:fts {extractor: v, tokenizer: Simple, filters: [Lowercase]}")
    // constant probe: k=2 AFTER the filter — both grp=1 docs survive
    val c = db.run("?[k] := ~fd:fts{k | query: 'world', k: 2, filter: grp == 1}")
      .collect().map(_.getString(0)).toSet
    assert(c == Set("a", "c"))
    // stream probe: same cut per bound query
    db.run("?[q] <- [['world'], ['two']] :create fq2 {q}")
    val s = db.run("?[q, k] := *fq2[q], ~fd:fts{k | query: q, k: 10, filter: grp == 2}")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(s == Set(("world", "b"), ("world", "d"), ("two", "b")))
    // LSH: filter composes with the similarity cut
    db.run("::lsh create fd:l {extractor: v, tokenizer: NGram, n_gram: 3, target_threshold: 0.1}")
    val l = db.run("?[k] := ~fd:l{k | query: 'world one', k: 4, filter: grp == 2}")
      .collect().map(_.getString(0)).toSet
    assert(l.subsetOf(Set("b", "d")) && l.nonEmpty)
  }

  test("randomized put/rm/probe interleave keeps graph ≡ exact across epochs (cache-invalidation stress)") {
    import spark.implicits._
    val db = new CozoDb(spark)
    db.driverIndexGateBytes = -1L // the distributed branch: its counters are asserted
    val rng = new scala.util.Random(7)
    def v4(seed: Int): Array[Float] = Array(math.sin(seed * 0.7), math.cos(seed * 1.1),
      math.sin(seed * 0.37 + 1), math.cos(seed * 0.19)).map(_.toFloat)
    var live = (0 until 30).map(_.toLong).toSet
    db.registerTable("mx", live.toSeq.sorted.map(i => (i, v4(i.toInt))).toDF("k", "v"), Seq("k"))
    db.run("::hnsw create mx:ex { fields: [v], distance: Cosine, dim: 4 }")
    db.run("::hnsw create mx:gr { fields: [v], distance: Cosine, dim: 4, m: 8, ef_construction: 48 }")
    def probe(idx: String, s: Int): Seq[(Long, Double)] = {
      val q = v4(s).map(x => f"$x%.4f").mkString(", ")
      db.run(s"?[k, d] := ~mx:$idx{k | query: vec([$q]), k: 6, bind_distance: d}")
        .collect().map(r => (r.getLong(0), BigDecimal(r.getDouble(1))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSeq.sortBy(_._1)
    }
    assert(probe("gr", 1) == probe("ex", 1)) // first probe pays the ONE lazy build
    val builds0 = db.indexFullBuilds
    var next = 100L
    for (step <- 0 until 15) {
      rng.nextInt(3) match {
        case 0 => // put a fresh row
          val vs = v4(next.toInt).map(x => f"$x%.4f").mkString(", ")
          db.run(s"?[k, v] <- [[$next, vec([$vs])]] :put mx {k}")
          live += next; next += 1
        case 1 if live.size > 5 => // rm a random live row
          val victim = live.toSeq.sorted.apply(rng.nextInt(live.size))
          db.run(s"?[k] <- [[$victim]] :rm mx {k}")
          live -= victim
        case _ => ()
      }
      val s = rng.nextInt(1000)
      assert(probe("gr", s) == probe("ex", s), s"step $step")
    }
    // the whole interleave never forced a full graph rebuild
    assert(db.indexFullBuilds == builds0, "mutations must patch, not rebuild")
  }

  test("bound-variable FTS probe: one top-k BM25 per stream query, constant-probe-identical (FtsSearchRA, ra.rs:628)") {
    val db = new CozoDb(spark)
    db.run("?[k, v] <- [['a', 'hello world'], ['b', 'the world is round'], " +
      "['c', 'round and round it goes'], ['d', 'hello hello hello']] :create docs {k}")
    db.run("::fts create docs:fts {extractor: v, tokenizer: Simple, filters: [Lowercase]}")
    // flat term/AND/OR queries (batched plan) + a NOT query (per-query path)
    val queries = Seq("hello", "round", "hello world", "hello OR round", "hello NOT world")
    db.registerTable("probes",
      { import spark.implicits._; queries.toDF("q") }, Seq("q"))
    val streamed = db.run("?[q, k, s] := *probes[q], ~docs:fts{k | query: q, k: 10, bind_score: s}")
      .collect().map(r => (r.getString(0), r.getString(1),
        BigDecimal(r.getDouble(2)).setScale(6, BigDecimal.RoundingMode.HALF_UP)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
    for (q <- queries) {
      val const = db.run(s"?[k, s] := ~docs:fts{k | query: '$q', k: 10, bind_score: s}")
        .collect().map(r => (r.getString(0),
          BigDecimal(r.getDouble(1)).setScale(6, BigDecimal.RoundingMode.HALF_UP))).toSet
      assert(streamed.getOrElse(q, Set.empty) == const, s"query '$q'")
    }
    // a query that normalizes away yields no rows for that probe only
    db.run("?[q] <- [['']] :put probes {q}")
    val withEmpty = db.run("?[q, k] := *probes[q], ~docs:fts{k | query: q, k: 10}")
      .collect().map(_.getString(0)).toSet
    assert(withEmpty == queries.toSet) // '' matched nothing, others unchanged
    // a LIST-valued bound query OR-joins its parts (ra.rs:1028-1046)
    db.registerTable("lprobes",
      { import spark.implicits._; Seq(Seq("hello", "round")).toDF("q") }, Seq("q"))
    val listStream = db.run("?[k, s] := *lprobes[q], ~docs:fts{k | query: q, k: 10, bind_score: s}")
      .collect().map(r => (r.getString(0),
        BigDecimal(r.getDouble(1)).setScale(6, BigDecimal.RoundingMode.HALF_UP))).toSet
    val orConst = db.run("?[k, s] := ~docs:fts{k | query: 'hello OR round', k: 10, bind_score: s}")
      .collect().map(r => (r.getString(0),
        BigDecimal(r.getDouble(1)).setScale(6, BigDecimal.RoundingMode.HALF_UP))).toSet
    assert(listStream == orConst && listStream.nonEmpty)
  }

  test("bound-variable LSH probe: per-stream-query candidates + exact verify, constant-probe-identical") {
    val db = new CozoDb(spark)
    db.run("?[k, v] <- [['a', 'ewiygfspeoighjsfcfxzdfncalsdf'], " +
      "['b', 'helloworldhelloworldhello'], ['c', 'zzzzyyyyxxxxwwwwvvvv']] :create t {k}")
    db.run("::lsh create t:l {extractor: v, tokenizer: NGram, n_gram: 3, target_threshold: 0.3}")
    val queries = Seq("ewiygfspeoighjsfcfxzdfncalsdf", "helloworldhelloworldhelxo", "qqqq")
    db.registerTable("lp", { import spark.implicits._; queries.toDF("q") }, Seq("q"))
    val streamed = db.run("?[q, k, s] := *lp[q], ~t:l{k | query: q, k: 5, bind_similarity: s}")
      .collect().map(r => (r.getString(0), r.getString(1),
        BigDecimal(r.getDouble(2)).setScale(6, BigDecimal.RoundingMode.HALF_UP)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
    for (q <- queries) {
      val const = db.run(s"?[k, s] := ~t:l{k | query: '$q', k: 5, bind_similarity: s}")
        .collect().map(r => (r.getString(0),
          BigDecimal(r.getDouble(1)).setScale(6, BigDecimal.RoundingMode.HALF_UP))).toSet
      assert(streamed.getOrElse(q, Set.empty) == const, s"query '$q'")
    }
  }

  test("::hnsw create takes the reference's full option surface (aliases, dtype, heuristic flags); unknown options error") {
    import spark.implicits._
    val db = new CozoDb(spark)
    val data = (0 until 50).map { i =>
      (i.toLong, Array(math.sin(i * 0.6), math.cos(i * 1.2),
        math.sin(i * 0.27), math.cos(i * 0.13)).map(_.toFloat))
    }
    db.registerTable("ho", data.toDF("k", "v"), Seq("k"))
    db.run("::hnsw create ho:ex { fields: [v], distance: Cosine, dim: 4 }")
    // aliases ef/m_neighbours/dist (parse/sys.rs:547-593) + the
    // paper's heuristic flags, all at once
    db.run("::hnsw create ho:g { fields: [v], dist: Cosine, dim: 4, m_neighbours: 8, " +
      "ef: 48, dtype: F32, extend_candidates: true, keep_pruned_connections: true }")
    def hits(idx: String): Seq[(Long, Double)] =
      db.run(s"?[k, d] := ~ho:$idx{k | query: vec([0.7, -0.2, 0.4, 0.5]), k: 5, bind_distance: d}")
        .collect().map(r => (r.getLong(0), BigDecimal(r.getDouble(1))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSeq.sortBy(_._1)
    // m_neighbours:/ef: opted into the graph walk and it agrees with
    // the exact scan
    assert(hits("g") == hits("ex"))
    val e1 = intercept[Exception](db.run("::hnsw create ho:bad { fields: [v], dim: 4, bogus: 1 }"))
    assert(e1.getMessage.contains("Invalid option: bogus"))
    val e2 = intercept[Exception](db.run("::hnsw create ho:bad2 { fields: [v], dim: 4, dtype: X16 }"))
    assert(e2.getMessage.contains("Invalid dtype"))
  }

  test("negative keys round-trip the multi-field gid encoding (floorDiv/pmod decode)") {
    import spark.implicits._
    val db = new CozoDb(spark)
    val data = (-25 until 25).map { i =>
      val v = Array(math.sin(i * 0.8), math.cos(i * 0.5),
        math.sin(i * 0.23), math.cos(i * 0.41)).map(_.toFloat)
      (i.toLong, v, v.map(x => -x * 0.7f))
    }
    db.registerTable("nk", data.toDF("k", "v1", "v2"), Seq("k"))
    db.run("::hnsw create nk:ex { fields: [v1, v2], distance: Cosine, dim: 4 }")
    db.run("::hnsw create nk:gr { fields: [v1, v2], distance: Cosine, dim: 4, m: 8, ef_construction: 64 }")
    def hits(idx: String): Seq[(Long, Double)] =
      db.run(s"?[k, d] := ~nk:$idx{k | query: vec([0.4, -0.6, 0.2, 0.8]), k: 7, bind_distance: d}")
        .collect().map(r => (r.getLong(0), BigDecimal(r.getDouble(1))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSeq.sortBy(_._1)
    val g = hits("gr")
    assert(g == hits("ex"))
    assert(g.exists(_._1 < 0), "negative keys must appear (and decode correctly)")
    // the scannable graph surface decodes negative keys too
    val keys = db.run("?[fk] := *nk:gr{layer: 0, fr_k: fk, to_k: tk}, fk == tk")
      .collect().map(_.getLong(0)).toSet
    assert(keys == data.map(_._1).toSet)
  }

  test("repeated graph probes reuse executor-cached restored graphs: one restore shuffle per epoch") {
    import spark.implicits._
    val db = new CozoDb(spark)
    db.driverIndexGateBytes = -1L // the distributed branch: its counters are asserted
    val data = (0 until 60).map { i =>
      (i.toLong, Array(math.sin(i * 0.9), math.cos(i * 0.4),
        math.sin(i * 0.17 + 2), math.cos(i * 0.31)).map(_.toFloat))
    }
    db.registerTable("cg", data.toDF("k", "v"), Seq("k"))
    db.run("::hnsw create cg:ex { fields: [v], distance: Cosine, dim: 4 }")
    db.run("::hnsw create cg:g { fields: [v], distance: Cosine, dim: 4, m: 8, ef_construction: 48 }")
    val loads0 = db.indexGraphLoads
    def probe(idx: String, q: String): Seq[(Long, Double)] =
      db.run(s"?[k, d] := ~cg:$idx{k | query: vec([$q]), k: 5, bind_distance: d}")
        .collect().map(r => (r.getLong(0), BigDecimal(r.getDouble(1))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSeq.sortBy(_._1)
    for (q <- Seq("1.0, 0.0, 0.0, 0.0", "0.0, 1.0, 0.0, 0.0", "0.3, -0.4, 0.5, 0.1"))
      assert(probe("g", q) == probe("ex", q), s"query $q")
    // three probes, ONE restore (the walk reuses the cached graphs)
    assert(db.indexGraphLoads == loads0 + 1)
    // a mutation patches the artifact and triggers exactly one reload
    db.run("?[k, v] <- [[999, vec([1.0, 0.0, 0.0, 0.0])]] :put cg {k}")
    assert(probe("g", "1.0, 0.0, 0.0, 0.0") == probe("ex", "1.0, 0.0, 0.0, 0.0"))
    assert(db.indexGraphLoads == loads0 + 2)
  }

  test("composite-key ::hnsw with m: serves probes through the exact scan (graph node ids need a unique single key)") {
    import spark.implicits._
    val db = new CozoDb(spark)
    // two rows SHARING the first key component: a first-key-only graph
    // id would collide and collapse them
    val df = Seq((1L, 10L, Array(1f, 0f)), (1L, 20L, Array(0f, 1f)),
      (2L, 10L, Array(-1f, 0f))).toDF("a", "b", "v")
    db.registerTable("ck", df, Seq("a", "b"))
    db.run("::hnsw create ck:g { fields: [v], distance: Cosine, dim: 2, m: 8 }")
    val res = db.run("?[a, b, d] := ~ck:g{a, b | query: vec([0.0, 1.0]), k: 3, bind_distance: d}")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(res == Set((1L, 10L), (1L, 20L), (2L, 10L))) // nothing collapsed
  }

  test("walk-eligible ::hnsw scans as the reference's proximity-graph relation (relation.rs:1063-1131)") {
    import spark.implicits._
    val db = new CozoDb(spark)
    val m = 4
    val data = (0 until 80).map { i =>
      (i.toLong, Array(math.sin(i * 0.7), math.cos(i * 1.3),
        math.sin(i * 0.29 + 1), math.cos(i * 0.11)).map(_.toFloat))
    }
    db.registerTable("pg", data.toDF("k", "v"), Seq("k"))
    db.run(s"::hnsw create pg:g { fields: [v], distance: Cosine, dim: 4, m: $m, ef_construction: 32 }")
    val g = db.run("?[layer, fr_k, ff, fs, to_k, tf, ts, dist, h, il] := " +
      "*pg:g{layer, fr_k, fr__field: ff, fr__sub_idx: fs, to_k, to__field: tf, to__sub_idx: ts, dist, hash: h, ignore_link: il}")
      .collect()
    // every row carries __field = v's base-column position (1 in
    // (k, v)), __sub_idx -1 (plain vector field), ignore_link false
    assert(g.forall(r => r.getLong(2) == 1 && r.getLong(3) == -1
      && r.getLong(5) == 1 && r.getLong(6) == -1 && !r.getBoolean(9)))
    val selfRows = g.filter(r => r.getLong(1) == r.getLong(4))
    val links = g.filter(r => r.getLong(1) != r.getLong(4))
    // one self-loop per node per occupied layer, dist 0, all at layer <= 0
    assert(selfRows.map(r => r.getLong(1)).distinct.length == 80)
    assert(selfRows.forall(r => r.getDouble(7) == 0.0 && r.getLong(0) <= 0))
    assert(selfRows.count(_.getLong(0) == 0L) == 80) // every node occupies the bottom
    // degree caps: <= 2m at the bottom layer, <= m above (paper mMax0/mMax)
    val deg0 = links.filter(_.getLong(0) == 0L).groupBy(_.getLong(1)).map(_._2.length)
    assert(deg0.nonEmpty && deg0.max <= 2 * m)
    val degUp = links.filter(_.getLong(0) < 0L).groupBy(r => (r.getLong(0), r.getLong(1))).map(_._2.length)
    degUp.foreach(d => assert(d <= m))
    // link dist IS the index metric between the endpoints' stored vectors
    val vecs = data.toMap
    def cosDist(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      1.0 - dot / (na * nb)
    }
    links.foreach { r =>
      assert(math.abs(r.getDouble(7) - cosDist(vecs(r.getLong(1)), vecs(r.getLong(4)))) < 1e-5)
    }
    // links stay within the corpus (graphs are partition-local, so a
    // singleton partition's node legitimately has no links)
    assert(links.nonEmpty && links.forall(r =>
      vecs.contains(r.getLong(1)) && vecs.contains(r.getLong(4))))
    // composability: Datalog aggregation over the scan
    val maxDeg = db.run("?[fr_k, count(to_k)] := *pg:g{layer: 0, fr_k, to_k}, fr_k != to_k")
      .collect().map(_.getLong(1)).max
    assert(maxDeg <= 2 * m)
  }

  test("bound-variable probe STREAM routes through the graph walk and agrees with exact scan (VERDICT r6 #1)") {
    val db = new CozoDb(spark)
    db.driverIndexGateBytes = -1L // the distributed branch: its counters are asserted
    val rows = (0 until 60).map { i =>
      val v = Seq(math.sin(i * 0.7), math.cos(i * 1.3),
        math.sin(i * 0.29 + 1), math.cos(i * 0.11)).map(x => f"$x%.4f")
      s"[$i, vec([${v.mkString(", ")}])]"
    }.mkString(", ")
    db.run(s"?[k, v] <- [$rows] :create vecs {k => v}")
    db.run("::hnsw create vecs:exact { fields: [v], distance: Cosine, dim: 4 }")
    db.run("::hnsw create vecs:graph { fields: [v], distance: Cosine, dim: 4, m: 8, ef_construction: 64 }")
    // 60 distinct query vectors driven through the left stream — the
    // shape that used to crossJoin-brute-force per probe
    // 4-decimal rounding: the walker normalizes in Float, the exact
    // scan scores in Double — they can differ in the last ulp
    def hits(idx: String): Set[(Long, Long, Double)] =
      db.run(s"?[p, k, d] := *vecs[p, q], ~vecs:$idx{k | query: q, k: 3, bind_distance: d}")
        .collect().map(r => (r.getLong(0), r.getLong(1), BigDecimal(r.getDouble(2))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
    val g = hits("graph")
    assert(g == hits("exact"), "graph-walked stream probes reproduce the exact scan")
    // the routed plan never crossJoins the corpus with the probe
    // stream: broadcast probe batch -> partition-local walks -> top-k
    val plan = db.run(
      "?[p, k, d] := *vecs[p, q], ~vecs:graph{k | query: q, k: 3, bind_distance: d}")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"stream probe plan must be crossJoin-free:\n$plan")
    // every probe finds itself at distance 0 (no self-exclusion for
    // synthetic query ids)
    assert((0 until 60).forall(i => g.exists(t => t._1 == i && t._2 == i && t._3 == 0.0)))
    // the persisted graph is reused across stream probes (no per-probe
    // or per-query rebuilds)
    val builds0 = db.indexFullBuilds
    hits("graph")
    assert(db.indexFullBuilds == builds0)
  }

  test("turkish FTS round-trip: harmony-stemmed index and query agree") {
    val db = new CozoDb(spark)
    db.run(
      """?[k, v] <- [
        |  ['a', 'kitaplar masada'],
        |  ['b', 'eski bir kitabı okudum'],
        |  ['c', 'arabalar yolda']
        |] :create tdocs {k}""".stripMargin)
    db.run(
      """::fts create tdocs:fts {
        |  extractor: v, tokenizer: Simple,
        |  filters: [Lowercase, Stemmer('turkish'), Stopwords('tr')]
        |}""".stripMargin)
    // kitaplar (plural) and kitabı (accusative with consonant softening)
    // both stem to kitap, so either query form finds both documents
    for (q <- Seq("kitap", "kitaplar", "kitabı")) {
      val hits = rows(db, s"?[k] := ~tdocs:fts{k | query: '$q', k: 10}")
        .map(_.head).toSet
      assert(hits == Set("a", "b"), s"query $q -> $hits")
    }
    // the stopworded 'bir' matches nothing
    assert(rows(db, "?[k] := ~tdocs:fts{k | query: 'bir', k: 10}").isEmpty)
  }

  test("FTS index absorbs put/rm as deltas — no full rebuild per mutation") {
    val db = new CozoDb(spark)
    db.driverIndexGateBytes = -1L // the distributed branch: its counters are asserted
    db.run("?[k, v] <- [['a', 'red apples'], ['b', 'green pears']] :create d {k}")
    db.run("::fts create d:fts { extractor: v, tokenizer: Simple, filters: [Lowercase] }")
    def search(q: String): Set[Any] =
      rows(db, s"?[k] := ~d:fts{k | query: '$q', k: 10}").map(_.head).toSet
    assert(search("apples") == Set("a"))
    assert(db.indexFullBuilds == 1)
    // put: new doc + overwrite of an existing one
    db.run("?[k, v] <- [['c', 'red grapes'], ['a', 'yellow bananas']] :put d {k}")
    assert(search("red") == Set("c"))       // a's old text is gone
    assert(search("bananas") == Set("a"))   // a's new text is found
    assert(search("grapes") == Set("c"))
    // rm: document drops out of the index
    db.run("?[k] <- [['b']] :rm d {k}")
    assert(search("pears") == Set())
    assert(search("bananas") == Set("a"))
    // every mutation above was absorbed as a delta on the single build
    assert(db.indexFullBuilds == 1)
  }

  test("LSH band table absorbs put/rm as deltas and keeps probing correctly") {
    val db = new CozoDb(spark)
    db.run("?[k, v] <- [['a', 'the quick brown fox jumps over the lazy dog']] :create d {k}")
    db.run("::lsh create d:lsh {extractor: v, tokenizer: NGram, n_gram: 3, target_threshold: 0.5}")
    def probe(q: String): Set[Any] =
      rows(db, s"?[k] := ~d:lsh{k | query: '$q', k: 5}").map(_.head).toSet
    assert(probe("the quick brown fox jumps over the lazy dog") == Set("a"))
    val builds = db.indexFullBuilds
    // near-duplicate added by put is found through the delta path
    db.run("?[k, v] <- [['b', 'the quick brown fox jumps over the lazy cat']] :put d {k}")
    assert(probe("the quick brown fox jumps over the lazy cat").contains("b"))
    // removing a doc drops its bands
    db.run("?[k] <- [['a']] :rm d {k}")
    assert(!probe("the quick brown fox jumps over the lazy dog").contains("a"))
    assert(db.indexFullBuilds == builds, "mutations must not trigger a band-table rebuild")
  }

  test(":replace staleness is not laundered by a later put's delta") {
    val db = new CozoDb(spark)
    db.run("?[k, v] <- [['a', 'old apples'], ['b', 'old pears']] :create d {k}")
    db.run("::fts create d:fts { extractor: v, tokenizer: Simple, filters: [Lowercase] }")
    def search(q: String): Set[Any] =
      rows(db, s"?[k] := ~d:fts{k | query: '$q', k: 10}").map(_.head).toSet
    assert(search("old") == Set("a", "b")) // cache built
    // :replace rewrites the whole relation — the cached index is stale
    db.run("?[k, v] <- [['x', 'new grapes']] :replace d {k}")
    // a put right after must NOT delta-patch the pre-replace cache
    db.run("?[k, v] <- [['y', 'new plums']] :put d {k}")
    assert(search("old") == Set(), "pre-replace postings leaked through")
    assert(search("new") == Set("x", "y"))
    assert(search("grapes") == Set("x"))
  }

  test("FTS delta chain compacts to a fresh build after ftsMaxDeltas mutations") {
    val db = new CozoDb(spark)
    db.driverIndexGateBytes = -1L // the distributed branch: its counters are asserted
    db.run("?[k, v] <- [[0, 'seed document']] :create d {k}")
    db.run("::fts create d:fts { extractor: v, tokenizer: Simple, filters: [Lowercase] }")
    def search(q: String): Set[Any] =
      rows(db, s"?[k] := ~d:fts{k | query: '$q', k: 50}").map(_.head).toSet
    assert(search("seed") == Set(0L))
    assert(db.indexFullBuilds == 1)
    for (i <- 1 to db.ftsMaxDeltas + 1)
      db.run(s"?[k, v] <- [[$i, 'doc number word$i']] :put d {k}")
    // the chain hit the bound: the cache was dropped mid-stream and the
    // next probe recompacted (exactly one extra full build)
    assert(search("word1") == Set(1L))
    assert(search(s"word${db.ftsMaxDeltas + 1}") == Set((db.ftsMaxDeltas + 1).toLong))
    assert(search("number").size == db.ftsMaxDeltas + 1)
    assert(db.indexFullBuilds == 2)
  }

  test("::index create registers a scannable permuted copy; ::indices lists; drop removes") {
    val db = new CozoDb(spark)
    db.run("?[k, v] <- [['a', 1], ['b', 2]] :create a {k}")
    db.run("::index create a:by_v {v, k}")
    assert(rows(db, "?[v, k] := *a:by_v[v, k]").toSet == Set(Seq(1L, "a"), Seq(2L, "b")))
    val listed = db.run("::indices a").collect().map(r => (r.getString(0), r.getString(1)))
    assert(listed.toSeq == Seq(("a:by_v", "index")))
    db.run("::index drop a:by_v")
    assert(db.run("::indices a").isEmpty)
    intercept[Exception](db.run("?[v, k] := *a:by_v[v, k]"))
  }
}
