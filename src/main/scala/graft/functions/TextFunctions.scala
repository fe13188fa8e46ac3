package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

/** Column-level text primitives shared by dedup / FTS / text-analysis
  * operators. Compositions of `org.apache.spark.sql.functions` and the
  * native one-pass kernels of TextKernels.scala — all codegen'd, no
  * UDFs — so they inline into whole-stage codegen at scan time.
  *
  * The reference's tokenizer pipeline lives in
  * cozo-core/src/fts/mod.rs:77-238 (Simple tokenizer + LowerCase /
  * AlphaNumOnly filters); shingling+minhash in
  * runtime/minhash_lsh.rs:29-204, where a document's signature is one
  * loop over its shingles — the shape [[MinhashSignature]] keeps.
  */
object TextFunctions {

  /** Lowercased word tokens; drops empty strings (fts/mod.rs:96 Simple
    * tokenizer): the [[alnumRuns]] of Spark's own `lower(text)`. */
  def tokens(text: Column): Column = alnumRuns(lower(text))

  /** Maximal `\p{L}`/`\p{N}` runs of a string, no empty token — the
    * result of `filter(split(s, "[^\\p{L}\\p{N}]+"), t -> length(t) > 0)`
    * from one byte scan ([[AlnumTokens]]) instead of a regex split and an
    * interpreted lambda. */
  def alnumRuns(s: Column): Column = column(AlnumTokens(expression(s)))

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Contiguous word n-gram shingles, space-joined
    * (minhash_lsh.rs tokenizes then shingles; n=1 degrades to tokens).
    */
  def wordShingles(text: Column, n: Int): Column = {
    val toks = tokens(text)
    if (n <= 1) array_distinct(toks)
    else {
      // one-pass native expression: the higher-order composition this
      // replaces re-ran the regex tokenizer once per WINDOW (lambdas
      // re-evaluate captured expressions per element) — see
      // WordShingleWindows for the measurement
      column(WordShingleWindows(expression(toks), n))
    }
  }

  /** Positional n-token window hashes of a token array, one per start
    * offset, no distinct: element i is
    * `xxhash64(concat_ws(" ", slice(toks, i + 1, n)))`, so a window's
    * hash is its shingle string's hash ([[WindowHashes]] hashes the
    * window bytes in place; no shingle string is built). Fewer than n
    * tokens, or NULL tokens, give an empty array. */
  def windowHashes(toks: Column, n: Int): Column = column(WindowHashes(expression(toks), n))

  /** Exact Jaccard similarity of two (deduped) shingle arrays. */
  def jaccard(a: Column, b: Column): Column =
    when(size(array_union(a, b)) > 0,
      size(array_intersect(a, b)).cast("double") / size(array_union(a, b)))
      .otherwise(lit(0.0))

  /** Full minhash signature as an array column of `k` hashes: element
    * j is `min(xxhash64(s, j))` over the shingles s (array<string>, or
    * their seed-42 xxhash64s as array<bigint>) — one kernel pass
    * ([[MinhashSignature]]) hashes each shingle once, not k times. NULL
    * or empty shingles give k NULLs: no minimum for any permutation.
    */
  def minhashSignature(shingles: Column, k: Int): Column =
    coalesce(column(MinhashSignature(expression(shingles), k)),
      array_repeat(lit(null).cast("bigint"), k))

  /** Per-document minhash signatures: (id, sig: array<bigint> of length
    * k), computed by the same kernel as [[minhashSignature]] in one
    * projection — no explode, no shuffle. `shingles` is normally
    * [[windowHashes]] of the tokens (positional, with repeats: min is
    * idempotent, so no distinct pass is needed). Docs with zero shingles
    * produce no row (they cannot near-dup by shingle overlap anyway, and
    * a shared null signature would otherwise collide in every LSH band).
    *
    * The result is eagerly checkpointed and the no-shingle filter sits
    * ABOVE the checkpoint, deliberately: placed below it, Catalyst pushes
    * the `sig IS NOT NULL` predicate through an ingest-guard exchange to
    * the scan, and the (possibly single-task) map side computes every
    * signature once for the filter before the reduce side computes them
    * all again for the projection.
    */
  def minhashSignatures(df: DataFrame, idCol: String, shingles: Column, k: Int): DataFrame = {
    import graft.plan._
    df.select(col(idCol).as("id"), column(MinhashSignature(expression(shingles), k)).as("sig"))
      .ckpt()
      .filter(col("sig").isNotNull)
  }

  /** Per-document simhash: one [[Simhash64]] pass over each doc's
    * tokens (multiplicity kept, each token hashed once), no shuffle.
    * Docs with zero tokens produce no row. Returns (id, fp: long).
    */
  def simhashFingerprints(df: DataFrame, idCol: String, toks: Column): DataFrame = {
    // one-pass per-doc projection (r13): the explode → xxhash64 →
    // groupBy(id) + 64 vote-sum aggregate pipeline shuffled every token
    // hash and paid a 64-slot aggregation buffer per doc; Simhash64
    // computes the identical integer votes in one codegen'd pass with
    // ZERO shuffle. The isNotNull filter reproduces the old
    // dropped-row behavior for empty/NULL token arrays (explode emitted
    // no row for them). TextSpec pins new == old per doc.
    df.select(col(idCol).as("id"), column(Simhash64(expression(toks))).as("fp"))
      .filter(col("fp").isNotNull)
  }

  /** LSH band keys: the signature split into `bands` groups of `rowsPerBand`,
    * each group hashed to one 64-bit band key (banding scheme of
    * runtime/minhash_lsh.rs:260-289 — b bands of r rows, collision prob
    * 1-(1-s^r)^b).
    */
  def lshBandKeys(signature: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      // xxhash64 hashes complex types (arrays) natively
      xxhash64(slice(signature, b * rowsPerBand + 1, rowsPerBand), lit(b))
    }: _*)

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b)).cast("int")

  /** Order-sensitive rolling document fingerprint: h = fold(xxhash64(h, t)).
    * Hash-chaining instead of polynomial accumulation — `acc * 31 + h`
    * deterministically overflows Long and throws under Spark 4 ANSI mode;
    * xxhash64 mixing never relies on wraparound arithmetic.
    */
  def rollingFingerprint(toks: Column): Column =
    aggregate(toks, lit(1125899906842597L), (acc, t) => xxhash64(acc, t))
}
