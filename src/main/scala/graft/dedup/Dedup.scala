package graft.dedup

import graft.plan._
import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication for large-scale training-data pipelines.
  *
  * The reference ships MinHash-LSH near-duplicate indexes
  * (`::lsh create`, cozo-core/src/runtime/minhash_lsh.rs; banding
  * optimizer minhash_lsh.rs:260-289). This module re-expresses that and
  * the standard neighbors (exact, SimHash, n-gram Jaccard, embedding
  * cosine) as shuffle-conscious DataFrame programs:
  *   - candidate generation is always a band/bucket equi-join (never an
  *     all-pairs cross join) so it scales linearly with collisions;
  *   - a MinHash signature is one codegen'd kernel pass per document
  *     over its shingle hashes (TextFunctions.minhashSignatures: each
  *     shingle hashed once, no explode, no shuffle);
  *   - verification runs only on candidates;
  *   - all hashes are xxhash64-based and deterministic across runs,
  *     partitionings and cluster sizes.
  */
object Dedup {

  /** Exact dedup by content hash: one keeper (min id) per distinct
    * content; returns (id, content_hash, group_size, keep).
    */
  def exact(df: DataFrame, idCol: String, contentCol: String): DataFrame = {
    val w = Window.partitionBy(col("content_hash")).orderBy(col(idCol))
    df.select(col(idCol), md5(col(contentCol).cast("string")).as("content_hash"))
      .withColumn("group_size", count(lit(1)).over(Window.partitionBy(col("content_hash"))))
      .withColumn("keep", row_number().over(w) === 1)
  }

  /** MinHash-LSH candidate pairs (minhash_lsh.rs:29-204): shingle
    * hashes → k-minhash signature (one per-document kernel pass) →
    * `bands`×`rowsPerBand` banding → band-key equi-self-join → estimated
    * Jaccard from signature agreement.
    * Returns (id_a, id_b, est_jaccard) with id_a < id_b, est ≥ `threshold`.
    * The signature relation is localCheckpoint'd so the self-join reads
    * it twice instead of recomputing it (callers sweep blocks after).
    */
  def minhashLsh(df0: DataFrame, idCol: String, textCol: String,
                 shingleN: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
                 threshold: Double = 0.5): DataFrame = {
    // shingling/minhashing is the CPU-heavy pre-shuffle stage: guard
    // against a low-split source serializing it (no-op on real corpora
    // — see Parallelism.ensureIngestParallelism)
    val df = Parallelism.ensureIngestParallelism(df0, Seq(col(idCol)))
    val k = bands * rowsPerBand
    // checkpointed inside, with the no-shingle filter above the ckpt so
    // the signature kernel runs only above the guard's exchange
    val sigs = TF.minhashSignatures(df, idCol,
      TF.windowHashes(TF.tokens(col(textCol)), shingleN), k)
    // the band self-join shuffles (id, band) ONLY — the k-long signature
    // rides once per doc, not once per band, and is joined back after
    // candidate pairs are deduped (at 100 TB the sig is ~512 B/doc; a
    // bands-wide copy of it through the shuffle is the cost center)
    val banded = sigs
      .withColumn("band", explode(TF.lshBandKeys(col("sig"), bands, rowsPerBand)))
      .select("id", "band")
    val cand = banded.select(col("id").as("id_a"), col("band"))
      .join(banded.select(col("id").as("id_b"), col("band")), Seq("band"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .select("id_a", "id_b")
    cand
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .withColumn("est_jaccard",
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), b => b))
          .cast("double") / lit(k))
      .filter(col("est_jaccard") >= threshold)
      .select("id_a", "id_b", "est_jaccard")
  }

  /** MinHash-LSH with EXACT Jaccard verification — the production dedup
    * shape (and the reference's: LSH candidates then real similarity,
    * minhash_lsh.rs:206-258). Banding generates candidates in
    * O(collisions); the exact Jaccard is then computed only for
    * candidate pairs by joining back to the distinct-shingle relation.
    * With r=2 rows/band and b=32 bands, a true pair at j≥0.5 is missed
    * with prob (1-j²)^32 ≤ 7e-5 — so at the oracle's scale the output
    * equals the full-quadratic exact-Jaccard answer, while the plan
    * stays linear-in-collisions. Returns (id_a, id_b, jaccard ≥ threshold).
    */
  def minhashDedup(df0: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 3, bands: Int = 32, rowsPerBand: Int = 2,
                   threshold: Double = 0.5): DataFrame = {
    val df = Parallelism.ensureIngestParallelism(df0, Seq(col(idCol)))
    val k = bands * rowsPerBand
    // shingles ride as 8-byte xxhash64 identities from the explode on
    // (distinct + verify joins shuffle ~5× fewer bytes); the k seeded
    // minhash draws hash the 8-byte identity instead of the string —
    // an equally uniform family over shingle identities
    val shAll = df.select(col(idCol).as("id"),
        explode(TF.windowHashes(TF.tokens(col(textCol)), shingleN)).as("s"))
      .distinct().ckpt()
    // EXACT-TWIN COLLAPSE (full argument at ngramJaccard/twinCollapse):
    // identical shingle sets ⇒ identical minhash signatures ⇒ identical
    // band keys, so a twin collides exactly when its representative
    // does — the collapsed output equals the uncollapsed one EXACTLY,
    // including the (1−jʳ)ᵇ candidate-miss draws (twins share the rep's
    // draw; they never had independent ones). Only representatives pay
    // the k-hash signature computation, the band self-join and the
    // verify joins — cost scales with DISTINCT content, not row count.
    val (members, sh) = twinCollapse(shAll)
    val aggs = (0 until k).map(i => min(xxhash64(col("s"), lit(i))).as(s"__h$i"))
    val banded = sh.groupBy("id").agg(aggs.head, aggs.tail: _*)
      .select(col("id"), array((0 until k).map(i => col(s"__h$i")): _*).as("sig"))
      .withColumn("band", explode(TF.lshBandKeys(col("sig"), bands, rowsPerBand)))
      .select("id", "band")
    val cand = banded.select(col("id").as("id_a"), col("band"))
      .join(banded.select(col("id").as("id_b"), col("band")), Seq("band"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .select("id_a", "id_b")
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n"))
    val common = cand
      .join(sh.select(col("id").as("id_a"), col("s")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("s")), Seq("id_b", "s"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("common"))
    val repPairs = common
      .join(sizes.select(col("id").as("id_a"), col("n").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n").as("n_b")), Seq("id_b"))
      .withColumn("jaccard", col("common").cast("double") / (col("n_a") + col("n_b") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
    expandTwinPairs(repPairs, members, "jaccard", threshold)
  }

  /** Exact n-gram Jaccard pairs: distinct shingles exploded, candidates
    * from an AllPairs-style PREFIX-filtered equi-join tightened by a
    * PPJoin-style POSITIONAL filter (both exact, see inline notes),
    * |A∩B| verified by joining candidates back to the shingle
    * relation. Returns (id_a, id_b, jaccard ≥ threshold).
    * Hot shingles (docFreq > maxDocFreq) are additionally cut from the
    * WHOLE universe — candidates, intersections AND set sizes — so the
    * estimate stays a consistent Jaccard over the filtered shingle space
    * (an inconsistent mix biases true near-dups below threshold). The
    * DEFAULT (maxDocFreq = None) engages the cut at 0.1% of the corpus
    * (floor 100 docs); Long.MaxValue gives the unfiltered exact answer
    * (oracle cross-checks), which the prefix filter keeps sub-quadratic
    * even without the cut. minhashDedup remains the cheapest plan when
    * approximate recall (1-7e-5) is acceptable.
    */
  def ngramJaccard(df0: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 3, threshold: Double = 0.5,
                   maxDocFreq: Option[Long] = None,
                   collisionFactor: Long = 32L): DataFrame = {
    val df = Parallelism.ensureIngestParallelism(df0, Seq(col(idCol)))
    val cutoff = maxDocFreq.getOrElse(math.max(100L, df.count() / 1000L))
    // shingle identity collapses to its xxhash64 BEFORE the distinct, so
    // every corpus-scale shuffle below (distinct, df count, prefix rank,
    // shared-shingle joins, verify joins) carries 8-byte keys instead of
    // ~(8·n)-byte strings; the prefix filter only needs SOME fixed total
    // order, and (df asc, hash) is one. Collision stance as elsewhere:
    // the driver's string-keyed oracle certifies it on every run.
    val sh = df.select(col(idCol).as("id"),
        explode(TF.windowHashes(TF.tokens(col(textCol)), shingleN)).as("s"))
      .distinct()
    val freq = sh.groupBy("s").agg(count(lit(1)).as("df"))
    val shfAll = sh.join(freq.filter(col("df") <= cutoff), Seq("s")).ckpt()
    // EXACT-TWIN COLLAPSE. Production corpora are full of byte-identical
    // documents (which is why the standard pipeline order is exact dedup
    // BEFORE near-dedup): J(A, ·) ≡ J(A', ·) whenever A and A' have the
    // same post-cut shingle SET, so the candidate + verify machinery
    // below only ever needs ONE representative per distinct set — its
    // df²-shaped cost then scales with distinct content, not raw row
    // count (a 10×-twinned corpus pays ~1% of the uncollapsed candidate
    // join). Group identity is the sorted shingle-hash ARRAY itself,
    // not a hash of it: array equality is exact, so the collapse
    // introduces no new collision class. Everything here is doc-scale
    // (one row per doc carrying its ~8n-byte set). Note df stays the
    // GLOBAL document frequency — the cutoff semantics count twins, and
    // the prefix filter only needs some fixed total order.
    val (members, shf) = twinCollapse(shfAll)
    val sizes = shf.groupBy("id").agg(count(lit(1)).as("n"))
    // STATS-ADAPTIVE candidate plan. Σ_s dfRep(s)² over REP-LOCAL
    // frequencies = the rep self-join's exact output size (the `df`
    // column still carries the GLOBAL twin-counting frequency the
    // cutoff semantics need, but post-collapse it overestimates the
    // rep-only join by ~the twin factor — r10 advice); one rep-scale
    // aggregation over 8-byte keys decides the plan (same spirit as
    // AQE's runtime re-plan):
    //  - collisions linear in the corpus → the direct shared-shingle
    //    join + count is both exact and the fewest shuffles;
    //  - hot-shingle regime (boilerplate headers/footers at web scale)
    //    → AllPairs-style PREFIX FILTER (exact, no false negatives):
    //    under a global (df asc, s) shingle order, J(A,B) ≥ t implies
    //    A and B share a shingle within each one's first
    //    |X| − ⌈t·|X|⌉ + 1 shingles; hot shingles sort last and fall
    //    outside every prefix, breaking the df² blowup.
    val Array(sumDf2, nRows) =
      shf.groupBy("s").agg(count(lit(1)).as("__c"))
        .agg(sum(col("__c") * col("__c")), sum(col("__c")))
        .head().toSeq.map(_.asInstanceOf[Long]).toArray
    val common =
      if (sumDf2 <= collisionFactor * nRows) {
        shf.select(col("id").as("id_a"), col("s"))
          .join(shf.select(col("id").as("id_b"), col("s")), Seq("s"))
          .filter(col("id_a") < col("id_b"))
          .groupBy("id_a", "id_b").agg(count(lit(1)).as("common"))
          .join(sizes.select(col("id").as("id_a"), col("n").as("n_a")), Seq("id_a"))
          .join(sizes.select(col("id").as("id_b"), col("n").as("n_b")), Seq("id_b"))
      } else {
        val ranked = shf
          .withColumn("rk", row_number().over(Window.partitionBy("id").orderBy("df", "s")))
          .join(sizes, Seq("id"))
          .filter(col("rk") <= col("n") - ceil(lit(threshold) * col("n")) + lit(1))
          .select("id", "s", "rk")
        val cand = ranked.select(col("id").as("id_a"), col("s"), col("rk").as("rk_a"))
          .join(ranked.select(col("id").as("id_b"), col("s"), col("rk").as("rk_b")), Seq("s"))
          .filter(col("id_a") < col("id_b"))
          // PPJoin-style POSITIONAL filter (exact): the joint-prefix
          // matches are counted exactly (c_pref); any OTHER common
          // shingle sorts after the largest joint-prefix match (a
          // smaller one would sit inside both prefixes — rank is
          // monotone in the global (df, s) order — and be counted
          // already), so at most min(n_a − maxRk_a, n_b − maxRk_b)
          // more can exist. Pairs whose bound can't reach the overlap
          // equivalent of J ≥ t, α = ⌈t·(n_a+n_b)/(1+t)⌉, never enter
          // the verify join. (Same shuffle as the old dropDuplicates —
          // the dedup became an aggregate.)
          .groupBy("id_a", "id_b")
          .agg(count(lit(1)).as("c_pref"),
            max(col("rk_a")).as("mra"), max(col("rk_b")).as("mrb"))
          .join(sizes.select(col("id").as("id_a"), col("n").as("n_a")), Seq("id_a"))
          .join(sizes.select(col("id").as("id_b"), col("n").as("n_b")), Seq("id_b"))
          // length filter: J ≥ t forces t·|B| ≤ |A| for |A| ≤ |B|
          .filter(greatest(col("n_a"), col("n_b")) * lit(threshold) <= least(col("n_a"), col("n_b")))
          // 1e-9 slack keeps float rounding from over-tightening α —
          // a kept false candidate is harmless (the verify join still
          // filters by exact Jaccard), a dropped true pair is not
          .filter(col("c_pref") + least(col("n_a") - col("mra"), col("n_b") - col("mrb"))
            >= ceil(lit(threshold / (1.0 + threshold)) * (col("n_a") + col("n_b")) - lit(1e-9)))
          // project away the candidate shingle `s` — if it leaks, the
          // verify join below resolves its "s" against it and counts
          // n_a per pair
          .select("id_a", "id_b", "n_a", "n_b")
        cand
          .join(shf.select(col("id").as("id_a"), col("s")), Seq("id_a"))
          .join(shf.select(col("id").as("id_b"), col("s")), Seq("id_b", "s"))
          .groupBy("id_a", "id_b", "n_a", "n_b").agg(count(lit(1)).as("common"))
      }
    val repPairs = common
      .withColumn("jaccard", col("common").cast("double") / (col("n_a") + col("n_b") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
    expandTwinPairs(repPairs, members, "jaccard", threshold)
  }

  /** Collapse documents whose (id, s) shingle relation carries an
    * IDENTICAL set down to one representative (rid = min member id).
    * Group identity is the sorted shingle-hash ARRAY itself, not a hash
    * of it — array equality is exact, so the collapse introduces no new
    * collision class. Membership is resolved by an array-keyed
    * equi-join rather than a collect_list of member ids: twin-group
    * sizes are unbounded at corpus scale (a billion-copy boilerplate
    * page must stream through the join, not materialize one array row),
    * and skewed groups stay AQE-splittable. Everything here is
    * doc-scale — one row per doc carrying its ~8n-byte set. Both
    * returned frames are eagerly checkpointed (multi-consumer fan-out
    * at every call site). Returns (members(id, rid), repRows) where
    * repRows = the input restricted to representatives, columns intact.
    */
  private def twinCollapse(sh: DataFrame): (DataFrame, DataFrame) = {
    val docSig = sh.groupBy("id")
      .agg(sort_array(collect_list(col("s"))).as("__sig"))
    val grpReps = docSig.groupBy("__sig").agg(min(col("id")).as("rid"))
    val members = docSig.join(grpReps, Seq("__sig"))
      .select(col("id"), col("rid")).ckpt()
    val rep = sh
      .join(members.filter(col("id") === col("rid")).select("id"), Seq("id"))
      .ckpt()
    // both callers hand over an eagerly-ckpt'd shingle relation and
    // never read it again — rep supersedes it from here, so holding
    // both would double the corpus-scale block-storage footprint for
    // the rest of the query (r10 advice)
    sh.unckpt()
    (members, rep)
  }

  /** Expand representative-level near-dup pairs back to raw ids given
    * the twinCollapse membership — exact, because every member has its
    * representative's shingle set verbatim: cross-group pairs inherit
    * the rep pair's score; within-group pairs are identical sets, so
    * their score is 1 by definition (emitted only when 1 clears the
    * threshold, as it would have uncollapsed). The joins never touch
    * corpus² — but the expansion is OUTPUT-bound: the within-group
    * self-join is quadratic in the largest twin-group size, because
    * that is the pair count the uncollapsed operator would emit (a
    * billion-copy boilerplate page owes ~10¹⁸ pairs either way).
    * Consumers that want dedup CLUSTERS rather than all pairs should
    * take the (id, rid) membership itself — it IS the cluster
    * assignment for exact twins, linear in the corpus — and expand
    * only the cross-group pairs (r10 advice). */
  private def expandTwinPairs(repPairs: DataFrame, members: DataFrame,
                              scoreCol: String, threshold: Double): DataFrame = {
    val cross = repPairs
      .join(members.select(col("rid").as("id_a"), col("id").as("__ma")), Seq("id_a"))
      .join(members.select(col("rid").as("id_b"), col("id").as("__mb")), Seq("id_b"))
      .select(least(col("__ma"), col("__mb")).as("id_a"),
        greatest(col("__ma"), col("__mb")).as("id_b"), col(scoreCol))
    val within = members.select(col("rid"), col("id").as("id_a"))
      .join(members.select(col("rid"), col("id").as("id_b")), Seq("rid"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(1.0).as(scoreCol))
      .filter(lit(1.0) >= lit(threshold))
    cross.unionByName(within)
  }

  /** Exact duplicated-substring coverage (the "exact substring dedup"
    * of Lee et al., Deduplicating Training Data Makes Language Models
    * Better, arXiv:2107.06499 — beyond the reference engine): every
    * L-token window whose text occurs MORE THAN ONCE corpus-wide marks
    * its token positions as duplicated; per document we report how many
    * positions are covered. Suffix arrays (the paper's structure) don't
    * distribute; fixed-L rolling windows are the standard shuffle-native
    * equivalent and find exactly the spans ≥ L tokens.
    *
    * Plan shape (100 TB honest):
    *  - tokenize once; window generation is per-row `transform` over the
    *    token array (no cross-row window function, nothing per-doc on
    *    the driver);
    *  - windows shuffle as 8-byte xxhash64 keys, never n-gram strings
    *    (same stance as [[graft.pipeline.Decontaminate]]; equality up to
    *    64-bit collisions, P ≈ m²/2⁶⁵);
    *  - corpus-wide duplicate test = groupBy(hash) HAVING count>1 — one
    *    linear shuffle of (hash, doc, start);
    *  - coverage = explode(sequence(start, start+L−1)) of duplicated
    *    starts, distinct per doc — bounded by the corpus token count.
    *
    * Returns every non-empty document:
    * (id, total_tokens, dup_tokens, dup_ratio).
    */
  def duplicatedCoverage(df0: DataFrame, idCol: String, textCol: String,
                         minLen: Int = 10): DataFrame = {
    val df = Parallelism.ensureIngestParallelism(df0, Seq(col(idCol)))
    // EAGER ckpt of the tokenized relation, BEFORE the size filter: the
    // two consumers (window explode + per-doc totals) are concurrent
    // branches of one action, and a pre-ckpt filter's size(tokens(..))
    // predicate would be pushed through the ingest-guard exchange down
    // to the (possibly single-split) scan — the map side then runs the
    // whole tokenizer just to evaluate it (the text_novelty lesson,
    // TextAnalysis.scala; measured there: 2× CPU, one serial map task).
    val base = df.select(col(idCol).as("id"), TF.tokens(col(textCol)).as("tk"))
      .ckpt()
      .filter(size(col("tk")) > 0)
    val wins = base
      .select(col("id"), posexplode(TF.windowHashes(col("tk"), minLen)))
      .toDF("id", "start", "h")
    val dup = wins.groupBy("h").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select("h")
    val cover = wins.join(dup, Seq("h"))
      .select(col("id"),
        explode(sequence(col("start"), col("start") + lit(minLen - 1))).as("p"))
      .distinct()
      .groupBy("id").agg(count(lit(1)).as("dup_tokens"))
    base.select(col("id"), size(col("tk")).cast("long").as("total_tokens"))
      .join(cover, Seq("id"), "left")
      .select(col("id"), col("total_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
      .withColumn("dup_ratio", col("dup_tokens").cast("double") / col("total_tokens"))
  }

  /** Maximal duplicated span RANGES per document (token positions,
    * 0-based inclusive): duplicated window starts merged gaps-and-islands
    * style — a start ≤ previous start + L extends the island (overlap or
    * adjacency), otherwise a new span begins. All windows are partitioned
    * by document id; nothing global. Returns (id, span_start, span_end).
    */
  def duplicatedSpans(df0: DataFrame, idCol: String, textCol: String,
                      minLen: Int = 10): DataFrame = {
    val df = Parallelism.ensureIngestParallelism(df0, Seq(col(idCol)))
    // ckpt before the filter (see duplicatedCoverage): stops the
    // size(tokens(..)) predicate from being pushed below the ingest
    // guard, and the downstream `wins` relation is consumed twice
    val base = df.select(col(idCol).as("id"), TF.tokens(col(textCol)).as("tk"))
      .ckpt()
      .filter(size(col("tk")) >= minLen)
    val wins = base
      .select(col("id"), posexplode(TF.windowHashes(col("tk"), minLen)))
      .toDF("id", "start", "h")
    val dup = wins.groupBy("h").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select("h")
    val w = Window.partitionBy("id").orderBy("start")
    wins.join(dup, Seq("h"))
      .select("id", "start").dropDuplicates("id", "start")
      .withColumn("island",
        sum(when(col("start") > lag(col("start"), 1, Int.MinValue).over(w) + lit(minLen), 1)
          .otherwise(0)).over(w))
      .groupBy("id", "island")
      .agg(min("start").as("span_start"),
        (max("start") + lit(minLen - 1)).as("span_end"))
      .select("id", "span_start", "span_end")
  }

  /** Duplicated-span REMOVAL rewrite (the "ExactSubstr" dedup step of
    * Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better"): every token-window of length `minLen` that
    * occurs more than once in the corpus keeps its globally-FIRST
    * occurrence (min (id, start), the same lexicographic election
    * dedupLines uses) and every token covered by a non-elected
    * occurrence is deleted; documents are reassembled from their
    * surviving tokens. Overlapping duplicated windows compose
    * naturally: a position is removed iff ANY non-elected duplicated
    * window covers it. Returns (id, total_tokens, kept_tokens, text).
    *
    * Plan shape at 100 TB: windows explode in-partition over 8-byte
    * rolling hashes; election is ONE hash aggregation on the window
    * key (min(struct) has a map-side partial); only DUPLICATED
    * windows — candidate-scale, not corpus-scale — flow into the
    * occurrence join; removed positions aggregate per document
    * (candidate-scale again) and the rewrite is a doc-keyed left join
    * + one per-row `filter` lambda over the token array — the corpus
    * is never exploded into a token-level shuffle. The one
    * token-array re-join (fetching elected/candidate window strings
    * for collision verification) is keyed by doc id and carries only
    * docs that contain a duplicated window.
    *
    * Hash-collision stance (same as dedupLines): the birthday
    * aggregate over 64-bit keys at 10¹²⁺ windows expects collisions,
    * so every deletion is verified on the window's actual TOKEN STRING
    * against the elected occurrence — a collision can only cause a
    * kept duplicate, never a deleted non-duplicate.
    */
  def removeDuplicateSpans(df0: DataFrame, idCol: String, textCol: String,
                           minLen: Int = 8): DataFrame = {
    val df = Parallelism.ensureIngestParallelism(df0, Seq(col(idCol)))
    // NULL text ≡ zero tokens: (total 0, kept 0, text '') — the same
    // stance dedupLines takes (ADVICE r6).
    // EAGER ckpt: base fans out to THREE concurrent consumers (window
    // explode, elected-window token fetch, reassembly join) under one
    // action — one tokenizer pass instead of three, and the `wins` size
    // filter below cannot be pushed past the ckpt leaf down to the scan
    // (the text_novelty lesson, TextAnalysis.scala)
    val base = df.select(col(idCol).as("id"),
      coalesce(TF.tokens(col(textCol)), array()).as("tk"))
      .ckpt()
    val wins = base.filter(size(col("tk")) >= minLen)
      .select(col("id"), posexplode(TF.windowHashes(col("tk"), minLen)))
      .toDF("id", "start", "h")
    // globally-first occurrence per duplicated window key
    val firsts = wins.groupBy("h")
      .agg(min(struct(col("id"), col("start"))).as("f"), count(lit(1)).as("__c"))
      .filter(col("__c") > 1)
      .select(col("h"), col("f.id").as("fid"), col("f.start").as("fstart"))
    // the elected window's actual tokens, for drop verification
    val fwin = firsts
      .join(base.select(col("id").as("fid"), col("tk").as("__ftk")), Seq("fid"))
      .select(col("h"), col("fid"), col("fstart"),
        array_join(slice(col("__ftk"), col("fstart") + 1, lit(minLen)), " ").as("__fw"))
    // non-elected occurrences whose window string EQUALS the elected one
    val removedPos = wins.join(fwin, Seq("h"))
      .filter(!(col("id") === col("fid") && col("start") === col("fstart")))
      .join(base, Seq("id"))
      .filter(array_join(slice(col("tk"), col("start") + 1, lit(minLen)), " ") === col("__fw"))
      .select(col("id"),
        explode(sequence(col("start"), col("start") + lit(minLen - 1))).as("p"))
      .distinct()
    val remByDoc = removedPos.groupBy("id").agg(collect_set(col("p")).as("__rm"))
    base.join(remByDoc, Seq("id"), "left")
      .select(col("id"), size(col("tk")).cast("long").as("total_tokens"),
        when(col("__rm").isNull, col("tk")).otherwise(
          filter(col("tk"), (_, i) => !array_contains(col("__rm"), i.cast("int"))))
          .as("__kept"))
      .select(col("id"), col("total_tokens"),
        size(col("__kept")).cast("long").as("kept_tokens"),
        array_join(col("__kept"), " ").as("text"))
  }

  /** SimHash near-dup pairs: 64-bit simhash per doc (explode + 64
    * codegen'd vote-sums, one shuffle), banded into four 16-bit blocks
    * (pigeonhole: hamming ≤ 3 ⇒ at least one block equal), candidates
    * verified by exact hamming distance.
    * Returns (id_a, id_b, hamming ≤ maxHamming).
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame =
    simhashPairsFromFp(
      TF.simhashFingerprints(df, idCol, TF.tokens(col(textCol))).ckpt(), maxHamming)

  /** [[simhashPairs]] over an ALREADY-MATERIALIZED (id, fp) relation —
    * lets a caller that also needs the fingerprints (dedup_simhash's
    * referee battery) pay the tokenize+hash pass once. */
  def simhashPairsFromFp(fpAll: DataFrame, maxHamming: Int = 3): DataFrame = {
    // EXACT-TWIN COLLAPSE on the fingerprint itself (cf. twinCollapse):
    // this operator's entire output is a function of (fp_a, fp_b), so
    // equal-fp documents are interchangeable — group by fp (no new
    // collision class: the operator already identifies docs by their
    // fp), pair representatives only, expand back. Equal fps share all
    // 4 blocks, so uncollapsed they were always candidates with
    // hamming 0 — the expansion is output-identical, and the block
    // self-join's quadratic-in-collisions cost scales with DISTINCT
    // fingerprints, not row count.
    val grp = fpAll.groupBy("fp").agg(min(col("id")).as("rid"))
    val members = fpAll.join(grp, Seq("fp")).select(col("id"), col("rid")).ckpt()
    val fp = grp.select(col("rid").as("id"), col("fp"))
    val banded = fp.select(col("id"), col("fp"), explode(array((0 until 4).map { b =>
      struct(lit(b).as("block"), shiftright(col("fp"), b * 16).bitwiseAND(lit(0xFFFFL)).as("key"))
    }: _*)).as("bk"))
      .select(col("id"), col("fp"), col("bk.block"), col("bk.key"))
    val a = banded.select(col("id").as("id_a"), col("fp").as("fp_a"), col("block"), col("key"))
    val b = banded.select(col("id").as("id_b"), col("fp").as("fp_b"), col("block"), col("key"))
    val repPairs = a.join(b, Seq("block", "key")).filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", TF.hamming64(col("fp_a"), col("fp_b")))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
    val cross = repPairs
      .join(members.select(col("rid").as("id_a"), col("id").as("__ma")), Seq("id_a"))
      .join(members.select(col("rid").as("id_b"), col("id").as("__mb")), Seq("id_b"))
      .select(least(col("__ma"), col("__mb")).as("id_a"),
        greatest(col("__ma"), col("__mb")).as("id_b"), col("hamming"))
    val within = members.select(col("rid"), col("id").as("id_a"))
      .join(members.select(col("rid"), col("id").as("id_b")), Seq("rid"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(0).cast("int").as("hamming"))
      .filter(lit(0) <= lit(maxHamming)) // degenerate negative bound
    cross.unionByName(within)
  }

  /** SimHash fingerprints only (id, fp). */
  def simhashFingerprints(df: DataFrame, idCol: String, textCol: String): DataFrame =
    TF.simhashFingerprints(Parallelism.ensureIngestParallelism(df, Seq(col(idCol))),
      idCol, TF.tokens(col(textCol)))

  /** Random-hyperplane sign buckets for `tables` independent hash
    * families of `planes` planes each, in ONE pass over the vectors:
    * posexplode dims → groupBy(id) with planes×tables codegen'd
    * projection sums → (id, table, bucket). Plane weights derive from
    * xxhash64(table·planes + plane, dim) mapped to [-1, 1] — fully
    * deterministic, each table an independent family (seeding per table
    * is what makes multi-probe recall multiply; identical families
    * would just repeat one table's buckets).
    */
  def hyperplaneBuckets(df0: DataFrame, idCol: String, vecCol: String,
                        planes: Int, tables: Int = 1): DataFrame = {
    val df = Parallelism.ensureIngestParallelism(df0, Seq(col(idCol)), light = true)
    val nSig = planes * tables
    val dims = df.select(col(idCol).as("id"), posexplode(col(vecCol)))
      .toDF("id", "i", "v")
    val projs = (0 until nSig).map { s =>
      val w = pmod(xxhash64(lit(s), col("i")), lit(2000000L)).cast("double") / lit(1000000.0) - lit(1.0)
      sum(col("v") * w).as(s"__p$s")
    }
    val buckets = (0 until tables).map { t =>
      (0 until planes).map { p =>
        when(col(s"__p${t * planes + p}") >= 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
      }.reduce(_ bitwiseOR _)
    }
    dims.groupBy("id").agg(projs.head, projs.tail: _*)
      .select(col("id"), posexplode(array(buckets: _*)))
      .toDF("id", "table", "bucket")
  }

  /** Embedding near-duplicates: pairs with cosine ≥ threshold. Two
    * regimes, selected by what the caller's LSH parameters actually
    * discriminate:
    *
    * - Buckets discriminative (random-pair collision fraction across
    *   all tables ≤ 5%, i.e. planes/tables sized for a real near-dup
    *   threshold ≥ ~0.7): hyperplane-LSH sign-bucket candidate join +
    *   exact cosine verify — the 100 TB dedup path.
    * - Otherwise: a LOW threshold forces few planes for total recall
    *   (3 planes = 8 buckets/table), and the "LSH" candidate set
    *   degenerates to essentially all pairs (98.6% of RANDOM pairs
    *   collide somewhere at planes=3/tables=32) — but still pays the
    *   tables-way explode, self-join and a shuffled pair-dedup over
    *   ~n²/2 rows. Exhaustive low-threshold pair mining over dense
    *   vectors is Θ(n²·d) compute by problem statement (no exact
    *   sub-quadratic algorithm exists); the blocked exact pair scan
    *   below is that same coverage in its cheapest physical shape —
    *   codegen'd dots streamed over partition pairs, no shuffled
    *   candidate explosion. Measured at 20K×64f (sf1 embeddings):
    *   LSH-shaped 459 s → blocked scan 38 s, identical output (and
    *   6.0 s → 0.9 s at sf0.1). `planes <= 0` forces this regime
    *   explicitly.
    */
  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String,
                       threshold: Double = 0.9, planes: Int = 8,
                       tables: Int = 8): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val randomCollisionFrac =
      if (planes <= 0) 1.0
      else 1.0 - math.pow(1.0 - math.pow(0.5, planes.toDouble), tables.toDouble)
    import org.apache.spark.sql.types.{ArrayType, FloatType, LongType}
    // long ids + float vectors only: the kernel's output schema must
    // match the crossJoin shape's exactly (no silent id widening)
    val kernelable = base.schema("id").dataType == LongType &&
      (base.schema("vec").dataType match {
        case ArrayType(FloatType, _) => true; case _ => false
      })
    if (randomCollisionFrac > 0.05 && kernelable)
      return blockedPairScan(base, threshold)
    val pairs =
      if (randomCollisionFrac > 0.05) {
        return exactPairCross(base, threshold)
      } else {
        // bucket self-join over (id, table, bucket) ONLY: the embedding
        // (512 B-4 KB at production dims) must not ride the exploded
        // `tables`-way shuffle; vectors join back after pair-dedup
        val bk = hyperplaneBuckets(df, idCol, vecCol, planes, tables).ckpt()
        bk.select(col("id").as("id_a"), col("table"), col("bucket"))
          .join(bk.select(col("id").as("id_b"), col("table"), col("bucket")),
            Seq("table", "bucket"))
          .filter(col("id_a") < col("id_b"))
          .dropDuplicates("id_a", "id_b")
          .join(base.select(col("id").as("id_a"), col("vec").as("vec_a")), Seq("id_a"))
          .join(base.select(col("id").as("id_b"), col("vec").as("vec_b")), Seq("id_b"))
      }
    pairs.withColumn("cosine", VF.cosineSimilarity(col("vec_a"), col("vec_b")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** The distributed exact-pair shape: all-pairs crossJoin + codegen'd
    * cosine filter. The fallback plan wherever [[blockedPairScan]]'s
    * preconditions fail — above the driver-size gate, or on ragged /
    * null vectors (CosineSimilarity truncates to the pairwise min
    * length and nulls propagate; the kernel assumes a uniform matrix).
    */
  private def exactPairCross(base: DataFrame, threshold: Double): DataFrame =
    base.select(col("id").as("id_a"), col("vec").as("vec_a"))
      .crossJoin(base.select(col("id").as("id_b"), col("vec").as("vec_b")))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", VF.cosineSimilarity(col("vec_a"), col("vec_b")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")

  /** Driver-size gate for [[blockedPairScan]]'s matrix collect: a
    * MEASURED bound, not the regime docstring (r11 advice — a caller
    * can hand a huge corpus with planes <= 0 and must get the
    * distributed crossJoin, not a driver OOM). 256 MiB of estimated
    * input ≈ a 1 M × 64 f corpus; the kernel's Θ(n²·d) work is far past
    * its own usefulness there anyway. */
  private val maxKernelBytes = 256L * 1024 * 1024
  /** Row-count fallback gate when input bytes can't be estimated
    * job-free (ADVICE's "a few hundred K"): one capped count job,
    * negligible against the Θ(n²) work either branch then does. */
  private val maxKernelRows = 300000L

  /** The Θ(n²·d) exact pair scan in its cheapest physical shape: the
    * corpus broadcasts as ONE primitive float matrix (+ per-row norms),
    * and a `mapPartitions` kernel streams each row against every
    * higher-id row with a tight primitive dot loop, emitting ONLY the
    * surviving pairs. The crossJoin shape it replaces materialized all
    * n²/2 joined rows before the cosine filter — row machinery, not
    * FLOPs, was the cost (measured at sf1, 20 K × 64 f: 41 s crossJoin
    * → 3-5 s kernel for the same 25.6 G multiplies). RDD-imperative by
    * design: a dense numeric inner loop is the sanctioned mapPartitions
    * case. Returns [[exactPairCross]] instead when the measured size
    * gate rejects the collect or the collected vectors are ragged/null.
    */
  private def blockedPairScan(base0: DataFrame, threshold: Double): DataFrame = {
    val spark = base0.sparkSession
    import spark.implicits._
    val withinGate = Parallelism.persistedInputBytes(base0) match {
      case Some(b) => b <= maxKernelBytes
      case None => base0.limit((maxKernelRows + 1).toInt).count() <= maxKernelRows
    }
    if (!withinGate) return exactPairCross(base0, threshold)
    // ckpt pins ONE snapshot feeding both the matrix collect and the
    // distributed scan below — a non-deterministic upstream can no
    // longer yield scan rows that disagree with the broadcast (missed /
    // phantom pairs; r11 advice)
    val base = base0.select(col("id").cast("long").as("id"), col("vec")).ckpt()
    val rows = base.as[(Long, Array[Float])].collect().sortBy(_._1)
    val n = rows.length
    val d = if (n == 0) 0 else Option(rows(0)._2).map(_.length).getOrElse(0)
    // uniform-length check during the collect (r11 advice): a shorter
    // vector would crash System.arraycopy, a longer one silently
    // truncate — where CosineSimilarity's min-length semantics handled
    // both. Ragged/null input takes the expression shape instead.
    if (rows.exists(r => r._2 == null || r._2.length != d))
      return exactPairCross(base, threshold)
    val ids = rows.map(_._1)
    val mat = new Array[Float](n * d)
    val norms = new Array[Double](n)
    var i = 0
    while (i < n) {
      val v = rows(i)._2
      System.arraycopy(v, 0, mat, i * d, d)
      var s = 0.0; var k = 0
      while (k < d) { s += v(k).toDouble * v(k); k += 1 }
      norms(i) = math.sqrt(s)
      i += 1
    }
    val bc = spark.sparkContext.broadcast((ids, mat, norms, d))
    val wide = Parallelism.ensureIngestParallelism(base)
    wide.as[(Long, Array[Float])].mapPartitions { it =>
      val (ids, mat, norms, d) = bc.value
      val n = ids.length
      it.flatMap { case (ia, va) =>
        var na = 0.0; var k = 0
        while (k < d) { na += va(k).toDouble * va(k); k += 1 }
        na = math.sqrt(na)
        // first index with id strictly greater than ia (ids sorted)
        var lo = 0; var hi = n
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (ids(mid) <= ia) lo = mid + 1 else hi = mid
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        var j = lo
        while (j < n) {
          var dot = 0.0; var k2 = 0; val off = j * d
          while (k2 < d) { dot += va(k2).toDouble * mat(off + k2); k2 += 1 }
          val denom = na * norms(j)
          // zero-norm → 0.0, exactly like CosineSimilarity.nullSafeEval
          val cos = if (denom == 0.0) 0.0 else dot / denom
          if (cos >= threshold) out += ((ia, ids(j), cos))
          j += 1
        }
        out
      }
    }.toDF("id_a", "id_b", "cosine")
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * near-duplicate pairs scoped to k-means clusters — the third
    * candidate-generation family next to banding (minhash / simhash /
    * hyperplane signs) and the blocked exact scan. Vectors are
    * assigned to `nClusters` spherical-k-means cells (the IVF Lloyd
    * trainer, deterministic hash seeding); candidates are the
    * cluster-keyed self-join (E[n²/k] pairs per cluster — k is the
    * cost knob, discriminative BY CONSTRUCTION at any threshold);
    * exact cosine verifies. The known approximation, as published:
    * pairs straddling a cluster boundary are missed — acceptable for
    * curation-style dedup where the paper applies it, NOT a total
    * recall guarantee like [[embeddingNearDup]]'s regimes.
    * Returns (id_a, id_b, cosine, cell).
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    threshold: Double = 0.9, nClusters: Int = 16,
                    iters: Int = 2, seed: Int = 0): DataFrame = {
    import graft.plan._
    val base = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val cents = graft.similarity.Ann.ivfCentroids(base, nClusters, iters, seed)
    val assigned = graft.similarity.Ann.assignCells(base, cents)
      .select(col("id"), col("vec"), col("cell")).ckpt()
    assigned.select(col("id").as("id_a"), col("vec").as("vec_a"), col("cell"))
      .join(assigned.select(col("id").as("id_b"), col("vec").as("vec_b"),
        col("cell")), Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", VF.cosineSimilarity(col("vec_a"), col("vec_b")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine", "cell")
  }

  /** Cluster resolution: near-dup PAIRS (from any of the generators
    * above) are only half a dedup pipeline — transitive duplicates
    * (a~b, b~c) must collapse into one cluster with one canonical
    * keeper. Pairs become undirected edges, connected components
    * (pointer-jumping, O(log diameter) rounds) label each cluster with
    * its minimum member id, and every document keeps itself iff it IS
    * the canonical id. Returns every document: (id, cluster, keep).
    */
  def resolveClusters(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
    val comp = graft.graphs.Graphs.connectedComponents(edges)
    docs.select(col(idCol).as("id"))
      .join(comp.withColumnRenamed("node", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("cluster"))
      .withColumn("keep", col("id") === col("cluster"))
  }

  /** [[resolveClusters]] with a QUALITY-AWARE keeper: inside each
    * duplicate cluster keep the highest-`qualityCol` member (ties break
    * to the smallest id) instead of the smallest id — the production
    * dedup rule (near-dup groups keep the cleanest capture, not an
    * arbitrary one). Two deterministic aggregations over the cluster
    * key (max quality, then min id among the maxima) — type-agnostic in
    * the id, no nondeterministic max_by ties. Returns every document:
    * (id, cluster, quality, keep).
    */
  def resolveClustersBest(docs: DataFrame, idCol: String, qualityCol: String,
                          pairs: DataFrame): DataFrame = {
    // NULL quality ranks below every real score (as -Infinity) so an
    // all-NULL cluster still elects its min-id keeper instead of
    // silently dropping the whole cluster out of the inner join below.
    val labeled = resolveClusters(docs, idCol, pairs)
      .select(col("id"), col("cluster"))
      .join(docs.select(col(idCol).as("id"),
        col(qualityCol).cast("double").as("quality")), Seq("id"))
      .withColumn("__qn", coalesce(col("quality"), lit(Double.NegativeInfinity)))
    val best = labeled
      .groupBy("cluster").agg(max(col("__qn")).as("__mq"))
      .join(labeled, Seq("cluster"))
      .filter(col("__qn") === col("__mq"))
      .groupBy("cluster").agg(min(col("id")).as("__best"))
    labeled.join(best, Seq("cluster"))
      .select(col("id"), col("cluster"), col("quality"),
        (col("id") === col("__best")).as("keep"))
  }

  /** Single-table hyperplane signature as a column-level helper (tests;
    * the scale path is [[hyperplaneBuckets]]). */
  private[graft] def hyperplaneSignature(vec: Column, planes: Int, seed: Int = 0): Column = {
    val signs = (0 until planes).map { p =>
      val proj = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (v, i) => v * (pmod(xxhash64(lit(seed * planes + p), i), lit(2000000L)).cast("double") / lit(1000000.0) - lit(1.0))),
        lit(0.0), (acc, x) => acc + x)
      when(proj >= 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }
    signs.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Corpus-level exact LINE deduplication (the C4 / RefinedWeb
    * curation step): every non-blank line that appears anywhere else in
    * the corpus is removed except its FIRST occurrence, ordered by
    * (document id, line position) — deterministic regardless of
    * partitioning. Blank (whitespace-only) lines never participate and
    * are always kept. Returns one row per input document:
    * (id, n_lines, n_kept, text) with `text` the surviving lines joined
    * by newline in original order (empty string when every line was a
    * duplicate).
    *
    * Plan shape at 100 TB: lines explode in-partition (no shuffle);
    * first-occurrence resolution is ONE hash aggregation keyed by the
    * 8-byte xxhash64 of the trimmed line — `min(struct(id, pos))` has a
    * map-side partial, so shuffled bytes ≤ distinct lines per
    * partition, never total occurrences; the keep decision is the
    * equi-join of the occurrence stream back on that key (reuses the
    * exchange); reassembly is one aggregation keyed by document id
    * whose buffer is the output row itself (a document's own lines —
    * bounded by definition).
    *
    * Hash-collision stance: at 100 TB (~10¹²-10¹³ distinct lines) the
    * BIRTHDAY aggregate over 64-bit keys expects n²/2⁶⁵ ≈ thousands of
    * colliding pairs — far from the per-pair 2⁻⁶⁴ intuition. A drop is
    * therefore verified on the trimmed line STRING against the elected
    * first occurrence (carried through the aggregate) before deletion:
    * a collision can only cause a kept duplicate (if two distinct lines
    * share a key, occurrences of the non-elected string are all kept),
    * never a silently deleted non-duplicate. The driver's string-keyed
    * DuckDB oracle certifies the verify corpora end-to-end.
    */
  def dedupLines(df0: DataFrame, idCol: String, textCol: String): DataFrame = {
    val df = Parallelism.ensureIngestParallelism(df0, Seq(col(idCol)))
    val lines = df
      .select(col(idCol).as("id"), posexplode(split(col(textCol), "\n", -1)))
      .toDF("id", "pos", "line")
      .withColumn("t", trim(col("line")))
    val content = lines.filter(col("t") =!= "")
      .withColumn("h", xxhash64(col("t")))
    // min(struct(id, pos, t)): (id, pos) is unique, so t rides along as
    // the elected first occurrence's actual string for drop verification
    val first = content.groupBy("h")
      .agg(min(struct(col("id"), col("pos"), col("t"))).as("first"))
    val kept = content.join(first, Seq("h"))
      .filter((col("first.id") === col("id") && col("first.pos") === col("pos"))
        || col("first.t") =!= col("t"))
      .select("id", "pos", "line")
      .unionByName(lines.filter(col("t") === "").select("id", "pos", "line"))
    val rebuilt = kept.groupBy("id").agg(
      count(lit(1)).as("n_kept"),
      concat_ws("\n",
        transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          s => s.getField("line"))).as("text"))
    df.select(col(idCol).as("id"),
        size(split(col(textCol), "\n", -1)).cast("long").as("n_lines"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text"), lit("")).as("text"))
  }
}
