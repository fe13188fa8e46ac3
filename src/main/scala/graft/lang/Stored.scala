package graft.lang

import Ast.Expr
import org.apache.spark.sql.{DataFrame, Row}
import scala.collection.immutable.VectorMap

/** One stored relation: its rows as readers see them and everything
  * kept beside them — cozo's one metadata record per relation
  * (`StoredRelationMetadata { keys, non_keys }`, relation.rs:121-124)
  * plus access level, description, indexes and triggers. An immutable
  * value: [[CozoDb]]'s lifecycle paths replace, remove or re-key it, and
  * a transaction snapshot is a copy of the map that holds it. */
private[lang] final case class StoredRelation(
    view: DataFrame,                 // the base, or the view over base and overlay
    keys: Seq[String],
    version: Long,                   // new on every change of the rows; artifacts cache on it
    overlay: Option[Overlay] = None,
    validity: Option[String] = None,
    assertCol: Option[String] = None,
    declared: Seq[String] = Nil,     // `:create` column order (relation.rs:114-118) ...
    defaults: Map[String, Expr] = Map.empty, // ... and default generators for omitted columns
    bare: Boolean = false,           // schema-only: the first data-bearing write sets the schema
    access: String = "normal",
    description: String = "",
    indexes: VectorMap[String, (IndexSpec, String)] = VectorMap.empty, // target → spec, create text
    triggers: (List[String], List[String], List[String]) = (Nil, Nil, Nil), // put, rm, replace
    onPut: List[DataFrame => Unit] = Nil,
    onRm: List[DataFrame => Unit] = Nil)

/** A relation's write overlay: per key (the key columns' values, in
  * the relation's key order, floats with -0.0 read as 0.0), the
  * written row in the relation's column order and types, or None for
  * a removed key. Readers see `CozoDb.overlayView`. */
private[lang] final case class Overlay(base: DataFrame, rows: Map[Seq[Any], Option[Row]])

private[lang] sealed trait IndexSpec { def rel: String }
/** `extractFilter` = the reference's extract_filter option
  * (parse/sys.rs:374-382): rows failing the condition extract
  * nothing and are absent from the index (the reference wraps the
  * extractor in `if(cond, extractor)`). */
private[lang] final case class FtsIdx(rel: String, extractor: String,
                                      pipe: graft.search.Fts.Pipeline,
                                      extractFilter: Option[Expr] = None) extends IndexSpec
/** LSH shingles are TOKEN n-grams through `pipe` — the reference's
  * unique_ngrams (tokenizer_impl.rs:105-123), not char n-grams. */
private[lang] final case class LshIdx(rel: String, extractor: String,
                                      pipe: graft.search.Fts.Pipeline, nGram: Int,
                                      threshold: Double, bands: Int, rowsPerBand: Int,
                                      extractFilter: Option[Expr] = None) extends IndexSpec
/** `fields` may list several vector columns (multi_index_vec,
  * hnsw_index in runtime/tests.rs): the reference indexes every
  * field's vector; a probe matches a row through its CLOSEST field. */
private[lang] final case class VecIdx(rel: String, fields: Seq[String], distance: String,
                                      filter: Option[Expr] = None,
                                      dim: Option[Int] = None,
                                      m: Option[Int] = None,
                                      efConstruction: Option[Int] = None,
                                      extendCandidates: Boolean = false,
                                      keepPruned: Boolean = false) extends IndexSpec
private[lang] final case class PlainIdx(rel: String, cols: Seq[String]) extends IndexSpec

/** The cached artifact of one index: driver-resident under the byte
  * gate, else distributed. `deltas` counts the mutations a distributed
  * FTS or LSH artifact absorbed since its full build. */
private[lang] sealed trait IndexArtifact
private[lang] object IndexArtifact {
  final case class DriverFts(d: graft.search.DriverFts) extends IndexArtifact
  final case class DistFts(ix: graft.search.Fts.Index, deltas: Int) extends IndexArtifact
  final case class LshBands(df: DataFrame, deltas: Int) extends IndexArtifact
  final case class DriverHnsw(b: graft.similarity.HnswBuckets) extends IndexArtifact
  /** Persisted graphs, and the executor-cached restored ones. */
  final case class DistHnsw(dir: String,
                            loaded: Option[org.apache.spark.rdd.RDD[graft.similarity.HnswIndex]])
      extends IndexArtifact
}
