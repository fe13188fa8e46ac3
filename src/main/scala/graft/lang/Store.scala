package graft.lang

import graft.plan._
import Ast.Expr
import graft.operators.Mutations
import org.apache.spark.sql.graftbridge
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, InterpretedOrdering, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The stored relations of one [[CozoDb]] and everything derived from
  * their rows. cozo keeps one key-sorted store per relation and updates
  * it and its indexes together, inside the write's own transaction
  * (stored.rs:322-328); here the relation records, the version counter
  * and the artifact cache live together, and every change of a
  * relation's rows is one of three transitions:
  *
  *  - [[write]], a row write: its delta is computed once — one bounded
  *    collect of the written keys and their live rows in the relation's
  *    types — with the op's errors raised before anything changes. The
  *    relation's write overlay absorbs it, the version moves on once,
  *    and every artifact of the relation is patched from that delta and
  *    gated again, or dropped when it cannot be patched.
  *  - a fold (inside [[write]]): a write the overlay cannot take is
  *    rewritten into the base through [[Mutations]]. Distributed
  *    artifacts patch from the delta frame; driver artifacts retire.
  *  - [[retire]]: a change that is not a row write (re-registration,
  *    removal, `::rename`, an abort, `::compact`, restore) drops every
  *    artifact of the relation and moves its version on.
  *
  * An artifact is built on first read ([[relationCopy]], [[ftsIndex]],
  * [[lshBandTable]], [[hnswIndexOf]]) and stamped with the version it was
  * built for. Since every transition patches or drops every artifact of
  * the relation it changes, a cached artifact is always at its
  * relation's current version.
  */
private[lang] final class Store(spark: SparkSession) {
  import IndexArtifact._
  import Store._

  private val recs = mutable.LinkedHashMap.empty[String, StoredRelation]
  /** Every stored relation by name; changed only through this Store. */
  def records: collection.Map[String, StoredRelation] = recs

  /** Draws every relation version, so a number is never reused — not
    * even by a removed and re-created relation. */
  private val versionCounter = new java.util.concurrent.atomic.AtomicLong(0)
  private def nextVersion(): Long = versionCounter.incrementAndGet()
  private def versionOf(rel: String): Long = recs.get(rel).fold(0L)(_.version)

  /** Guards the artifact cache: probes fill it under the SHARED state
    * lock (concurrent readers), so it needs its own monitor; the
    * transitions run under the exclusive lock and take it too. */
  private val lock = new Object
  /** The artifact of every target that has one — an index (`rel:idx`),
    * or a relation's driver copy under the relation's own name — stamped
    * with the relation version it was built for. */
  private val indexArtifacts = mutable.HashMap.empty[String, (Long, IndexArtifact)]

  // observability for tests
  private[lang] var overlayWrites = 0       // row writes the overlay absorbed
  private[lang] var overlayFolds = 0        // base rewrites: folded row writes and compacted overlays
  private[lang] var relationCopyBuilds = 0  // driver copies of stored relations built
  private[lang] var relationCopyPatches = 0 // copies patched by a row write
  private[lang] var localGraphBuilds = 0    // graphs built over a relation copy
  private[lang] var indexFullBuilds = 0     // full index builds, both branches
  private[lang] var indexDriverBuilds = 0   // full builds that chose the driver branch
  private[lang] var indexDriverPatches = 0  // driver-index patches (FTS and HNSW)
  private[lang] var indexPatches = 0        // distributed HNSW partition patches
  private[lang] var indexGraphLoads = 0     // distributed HNSW restore shuffles
  /** A distributed FTS or LSH artifact absorbs at most this many deltas;
    * the next write drops it and the next probe builds it compacted
    * (checkpoint-block hygiene, the LSM compaction analogue). */
  private[lang] val ftsMaxDeltas = 32

  // ——————————————————————— transitions ———————————————————————

  /** Change the metadata of `name` (access, description, indexes,
    * triggers, declared columns), not its rows. */
  def update(name: String)(f: StoredRelation => StoredRelation): Unit =
    recs(name) = f(recs.getOrElse(name, throw Compiler.CompileException(s"stored relation *$name not found")))

  /** Drop every artifact of `rel` and move its version on. */
  def retire(rel: String): Unit = lock.synchronized {
    indexArtifacts.keys.filter(_.takeWhile(_ != ':') == rel).toSeq.foreach(dropArtifact)
    recs.get(rel).foreach(r => recs(rel) = r.copy(version = nextVersion()))
  }

  /** (Re-)register `name` with the record `f` makes of the one it has. */
  def register(name: String)(f: Option[StoredRelation] => StoredRelation): Unit = {
    retire(name)
    recs(name) = f(recs.get(name)).copy(version = nextVersion())
  }

  def remove(name: String): Unit = { retire(name); recs.remove(name) }

  /** The records, for a transaction to roll back to. */
  def snapshot(): collection.Map[String, StoredRelation] = recs.clone()

  /** Restore a [[snapshot]]: every relation whose rows or indexes changed
    * since retires. */
  def rollback(to: collection.Map[String, StoredRelation]): Unit = {
    val changed = (recs.keySet ++ to.keySet).filterNot(n => recs.get(n).exists(r =>
      to.get(n).exists(s => (s.view eq r.view) && (s.indexes eq r.indexes))))
    recs.clear(); recs ++= to
    changed.foreach(retire)
  }

  /** Materialize every relation, folding its overlay into checkpoint
    * blocks; each retires, so copies are measured again over the
    * compacted base and delta chains start over. */
  def compact(): Unit = {
    overlayFolds += recs.values.count(_.overlay.isDefined)
    recs.mapValuesInPlace((_, r) => r.copy(view = r.view.ckpt(), overlay = None))
    recs.keys.toSeq.foreach(retire)
  }

  /** Write `delta` to `rel` by row op `op` (put, insert, update, rm,
    * delete) and return the delta as written: one row per key (see
    * [[lastPerKey]]). Up to [[Knee.PatchKeys]] rows are fetched once
    * (no job when `delta` is a local frame) and go to the overlay when
    * it can take them ([[overlayWrite]]); anything else folds. */
  def write(rel: String, op: String, delta: DataFrame): DataFrame = {
    val r = recs(rel)
    val max = Knee.PatchKeys.value.toInt
    val rows = if (r.bare) None else Some(delta.limit(max + 1).collect().toSeq).filter(_.length <= max)
    val (next, written, d) = rows.flatMap(overlayWrite(rel, op, _, delta.schema)) match {
      case Some((ov, written, kept)) =>
        overlayWrites += 1
        (r.copy(overlay = Some(ov), view = overlayView(r.keys, ov)), Some(written), localFrame(kept, delta.schema))
      case None =>
        val d = rows.flatMap(keptRows(op, _, delta.schema, r.keys)).map(localFrame(_, delta.schema)).getOrElse {
          val raw = rows.fold(delta)(localFrame(_, delta.schema))
          lastPerKey(op, if (isLocal(raw)) raw else raw.ckptLazy(), r.keys)
        }
        val view = (op match {
          case "put" => Mutations.put(r.view, d, r.keys)
          case "insert" => Mutations.insert(r.view, d, r.keys)
          case "update" => Mutations.update(r.view, d, r.keys)
          case "rm" => Mutations.rm(r.view, d, r.keys)
          case _ => Mutations.delete(r.view, d, r.keys)
        }).ckptLazy()
        overlayFolds += 1
        (r.copy(view = view, overlay = None), None, d)
    }
    recs(rel) = next.copy(version = nextVersion())
    patch(rel, r.version, written, d)
    d
  }

  /** Move every artifact of `rel` stamped `prev` (the version before a
    * row write) to the current version, patched from the write: the
    * driver ones from `written` (each written key with its live row in
    * the relation's column order, None for a removed key; None after a
    * fold), the distributed ones from the first key column of `delta`
    * and the rows now under its values. A patched driver artifact is
    * gated again; what cannot be patched is dropped and built again on
    * its next read. */
  private def patch(rel: String, prev: Long, written: Option[Seq[(Seq[Any], Option[Row])]],
                    delta: DataFrame): Unit = lock.synchronized {
    val r = recs(rel)
    val key = r.keys.head
    lazy val changed = delta.select(col(key)).dropDuplicates().ckptLazy()
    lazy val added = r.view.join(changed, Seq(key), "left_semi")
    lazy val live = localFrame(written.get.flatMap(_._2), DriverPlan.nullable(r.view.schema))
    for ((target, (v, artifact)) <- indexArtifacts.toSeq if target.takeWhile(_ != ':') == rel) {
      val spec = r.indexes.get(target).map(_._1)
      val next: Option[IndexArtifact] = if (v != prev) None else (spec, artifact) match {
        // a refusal stands across overlay writes: an over-gate relation is probed once per base
        case (_, RelationCopy(None)) => written.map(_ => artifact)
        case (_, RelationCopy(Some(c))) => written.map { w =>
          val next = patchedCopy(c, w)
          val kept = regate("copy_patch", heldCopyBytes - c.heldBytes + next.bytes, next)
          if (kept.isDefined) relationCopyPatches += 1
          RelationCopy(kept)
        }
        case (Some(f: FtsIdx), DistFts(ix, n)) if n < ftsMaxDeltas =>
          Some(DistFts(graft.search.Fts.Index.applyDelta(ix, changed,
            extractFiltered(added, f.extractor, f.extractFilter), key, f.extractor), n + 1))
        case (Some(f: FtsIdx), DriverFts(d)) => written.flatMap { w =>
          val docs = graft.search.DriverFts.docTokens(
            extractFiltered(live, f.extractor, f.extractFilter), key, f.extractor, f.pipe)
          val next = d.patch(w.map(_._1.head), graft.search.DriverFts.tokenRows(docs.collect().toSeq))
          regate("fts_index", next.bytes, DriverFts(next)).map { a => indexDriverPatches += 1; a }
        }
        case (Some(l: LshIdx), LshBands(bands, n)) if n < ftsMaxDeltas =>
          Some(LshBands(bands.join(broadcast(changed), Seq(key), "left_anti")
            .unionByName(lshBandsOf(added, key, l)).ckptLazy(), n + 1))
        // HNSW graphs: rows hash to their bucket by node id, so a write
        // rebuilds ONLY the affected buckets' graphs — and a patched
        // index equals a full rebuild exactly (per-bucket insertion
        // order is pinned), so no delta chain and no compaction bound
        // apply; the next probe reloads the graphs.
        case (Some(vi: VecIdx), DistHnsw(dir, loaded)) if hnswIndexEligible(vi) =>
          val (mEff, efcEff) = hnswBuildParams(vi)
          graft.similarity.Ann.hnswPatchIndex(dir, hnswCorpus(vi, hnswAdmitted(vi, r.view), key),
            vi.fields.indices.map(i => changed.select((col(key).cast("long") * vi.fields.length + i).as("id")))
              .reduce(_ unionByName _),
            mEff, efcEff, metric = hnswWalkMetric(vi.distance).get,
            extendCandidates = vi.extendCandidates, keepPruned = vi.keepPruned)
          indexPatches += 1
          loaded.foreach(_.unpersist(blocking = false))
          Some(DistHnsw(dir, None))
        case (Some(vi: VecIdx), DriverHnsw(b)) if hnswIndexEligible(vi) => written.flatMap { w =>
          val nF = vi.fields.length
          val rows = hnswAdmitted(vi, live).select(col(key).cast("long") +: vi.fields.map(f =>
            col(f).cast("array<float>")): _*).collect()
          val ids = w.flatMap(k => Option(k._1.head)).map(_.asInstanceOf[Number].longValue)
          val next = b.patch(ids.flatMap(k => (0 until nF).map(i => k * nF + i)),
            rows.toSeq.flatMap(r => (0 until nF).collect { case i if !r.isNullAt(i + 1) =>
              (r.getLong(0) * nF + i, r.getSeq[Float](i + 1).toArray)
            }))._1
          regate("hnsw_index", next.bytes, DriverHnsw(next)).map { a => indexDriverPatches += 1; a }
        }
        case _ => None
      }
      next.fold(dropArtifact(target))(a => indexArtifacts(target) = (r.version, a))
    }
  }

  /** `a`, a patched driver artifact of `bytes` (with what it shares a
    * budget with), when it still fits [[Knee.DriverIndexBytes]]. */
  private def regate[A](op: String, bytes: Long, a: A): Option[A] =
    Option.when(Knee.gate(op, bytes, Knee.DriverIndexBytes))(a)

  // ——————————————————————— the write overlay ———————————————————————

  /** Row op `op` of the delta `rows` (of `schema`) on the overlay of
    * `rel`: the new overlay, the written entries (each key with its live
    * row in the relation's column order and types, None for a removed
    * key) and the delta rows kept ([[lastPerKey]]). put and rm read
    * nothing; insert, delete and update read the rows of the keys the
    * overlay does not hold to check existence or fetch the old rows:
    * from the held copy by key range, no job, else from the base
    * ([[overlayMatch]], one job). Raises the op's errors. None — the
    * write folds — when it would change a column type, has a key the
    * overlay cannot hold, takes the overlay past [[Knee.PatchKeys]]
    * keys, or probes a key the base holds twice. */
  private def overlayWrite(rel: String, op: String, rows: Seq[Row], schema: StructType)
      : Option[(Overlay, Seq[(Seq[Any], Option[Row])], Seq[Row])] = {
    val r = recs(rel)
    val keys = r.keys
    val cur = r.view
    val delta = localFrame(rows, schema)
    val cols = op match {
      case "put" | "insert" => cur.columns.toSeq
      case "update" => keys ++ delta.columns.filterNot(keys.contains)
      case _ => keys
    }
    if (!cols.forall(c => delta.columns.contains(c) && cur.columns.contains(c))) return None
    val target = cur.select(cols.map(col): _*)
    // a write that would change a column type folds (the union's types
    // come from analysis alone, no job), unless its values all cast
    // exactly to the relation's types: the relation then keeps them
    val unionTypes = scala.util.Try(
      target.unionByName(delta.select(cols.map(col): _*)).schema.map(_.dataType)).toOption
    if (!unionTypes.contains(target.schema.map(_.dataType)) && !castsExactly(delta, target.schema)) return None
    // the delta's rows in the relation's types, readable by name (a local frame: no job)
    val typed = delta.select(target.schema.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
      .collect().toSeq
    val keyTypes = keys.map(k => target.schema(k).dataType)
    val keyOpts = typed.map(t => overlayKey(keys.map(t.getAs[Any](_)), keyTypes))
    if (keyOpts.exists(_.isEmpty)) return None
    val at = lastPerKey(op, keyOpts.map(_.get), rows, schema)
    val deltaKeys = at.map(keyOpts(_).get)
    // a new overlay pins its base lazily — the next read materializes it,
    // no job here — so reads of a written relation scan checkpoint blocks
    // instead of recomputing the base's defining plan
    val ov = r.overlay.getOrElse(Overlay(cur.queryExecution.logical match {
      case _: org.apache.spark.sql.execution.LogicalRDD |
           _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => cur
      case _ => cur.ckptLazy()
    }, Map.empty))
    if ((ov.rows.keySet ++ deltaKeys).size > Knee.PatchKeys.value) return None
    // base rows of the keys the overlay does not hold, for the ops that
    // check existence or read old rows
    val unknown = deltaKeys.distinct.filterNot(ov.rows.contains)
    val baseRows: Map[Seq[Any], Row] =
      if (op == "put" || op == "rm" || unknown.isEmpty) Map.empty
      else {
        val got = copyRows(rel, unknown).getOrElse(overlayMatch(ov.base, keys, unknown, hit = true).collect().toSeq)
        val byKey = got.flatMap(g => overlayKey(keys.map(g.getAs[Any](_)), keyTypes).map(_ -> g)).toMap
        // more rows than keys: the base holds a key twice — fold
        if (got.length > unknown.length || byKey.size != got.length) return None
        byKey
      }
    def current(k: Seq[Any]): Option[Row] = ov.rows.getOrElse(k, baseRows.get(k))
    val written: Seq[(Seq[Any], Option[Row])] = op match {
      case "put" => deltaKeys.zip(at.map(i => Some(typed(i))))
      case "rm" => deltaKeys.map(_ -> None)
      case "insert" =>
        val clash = deltaKeys.count(current(_).isDefined)
        if (clash > 0) throw new IllegalStateException(s"insert: $clash key(s) already exist")
        deltaKeys.zip(at.map(i => Some(typed(i))))
      case "delete" =>
        val missing = deltaKeys.count(current(_).isEmpty)
        if (missing > 0) throw new IllegalStateException(s"delete: $missing key(s) not present")
        deltaKeys.map(_ -> None)
      case _ => // update: the old row with the delta's non-key columns
        val rowSchema = StructType(cur.schema.fields)
        val set = cols.filterNot(keys.contains).map(c => cur.columns.indexOf(c) -> c)
        deltaKeys.zip(at.map(typed)).map { case (k, t) =>
          val vs = current(k).getOrElse(
            throw new IllegalStateException("update: key to update does not exist")).toSeq.toArray
          set.foreach { case (j, c) => vs(j) = t.getAs[Any](c) }
          k -> Some(new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(vs, rowSchema))
        }
    }
    Some((Overlay(ov.base, ov.rows ++ written), written, at.map(rows)))
  }

  /** Whether every value of the local frame `delta` in the columns of
    * `target` casts to the column's type there and back unchanged (a
    * NULL only from a NULL); no job runs. */
  private def castsExactly(delta: DataFrame, target: StructType): Boolean = scala.util.Try {
    target.fields.toSeq.filter(f => delta.schema(f.name).dataType != f.dataType).map { f =>
      col(f.name).try_cast(f.dataType).cast(delta.schema(f.name).dataType) <=> col(f.name)
    }.reduceOption(_ && _).exists(exact => delta.filter(!exact).collect().isEmpty)
  }.getOrElse(false)

  /** [[lastPerKey]] of the fetched delta `rows` (of `schema`), their keys
    * compared as Spark groups them ([[DriverPlan.Keys]]): the rows kept.
    * None when a key column is missing or cannot be a grouping key. */
  private def keptRows(op: String, rows: Seq[Row], schema: StructType, keys: Seq[String]): Option[Seq[Row]] =
    Option.when(keys.forall(schema.fieldNames.contains))(keys.map(schema.fieldIndex)).flatMap { idx =>
      try {
        val keyOf = new DriverPlan.Keys(idx.map(i => BoundReference(i, schema(i).dataType, nullable = true)))
        val toRow = CatalystTypeConverters.createToCatalystConverter(schema)
        Some(lastPerKey(op, rows.map(r => keyOf(toRow(r).asInstanceOf[InternalRow])), rows, schema).map(rows))
      } catch { case _: DriverPlan.Unsupported => None }
    }

  /** The indices of the delta `rows` (of `schema`, keyed by `keys`) that
    * a row write keeps, in order. A put or update keeps, per key, the
    * row a tuple-by-tuple upsert of the rows in sorted order writes
    * last: the greatest under Spark's ordering of the orderable columns.
    * An insert whose rows repeat a key raises. rm and delete keep all. */
  private def lastPerKey(op: String, keys: Seq[Any], rows: Seq[Row], schema: StructType): Seq[Int] =
    if (op == "rm" || op == "delete") keys.indices
    else {
      val groups = keys.indices.groupBy(keys)
      if (op == "insert" && groups.size < keys.length) throw repeatedKey
      val ord = ascending(schema, orderable(schema))
      val toRow = CatalystTypeConverters.createToCatalystConverter(schema)
      val internal = rows.map(toRow(_).asInstanceOf[InternalRow])
      val last = groups.values.map(_.maxBy(internal)(ord)).toSet
      keys.indices.filter(last)
    }

  /** [[lastPerKey]] over a frame: a window keeps each key's greatest row;
    * an insert checks for a repeated key (one job). */
  private def lastPerKey(op: String, delta: DataFrame, keys: Seq[String]): DataFrame = op match {
    case "insert" =>
      if (!delta.groupBy(keys.map(col): _*).count().filter(col("count") > 1).isEmpty) throw repeatedKey
      delta
    case "put" | "update" =>
      val last = Window.partitionBy(keys.map(col): _*)
        .orderBy(orderable(delta.schema).map(i => col(delta.columns(i)).desc): _*)
      delta.withColumn("__last", row_number().over(last)).filter(col("__last") === 1).drop("__last")
    case _ => delta
  }

  private def repeatedKey = new IllegalStateException("insert: the rows repeat a key")

  /** `base` minus every overlay key, plus the overlay's live rows. */
  private def overlayView(keys: Seq[String], ov: Overlay): DataFrame = {
    val kept = overlayMatch(ov.base, keys, ov.rows.keys, hit = false)
    val live = ov.rows.values.flatten.toSeq
    if (live.isEmpty) kept
    else kept.unionByName(localFrame(live, DriverPlan.nullable(ov.base.schema)))
  }

  // ——————————————————————— relation copies ———————————————————————

  /** The driver copy of stored relation `rel` at its current version:
    * every row as an UnsafeRow, sorted by the key columns. The copies
    * share one heap budget, [[Knee.DriverIndexBytes]] (the one a driver
    * index has): a copy is admitted when its bytes plus those of the
    * copies already held are at most the limit (a `Knee.gate` decision
    * logged as `op=relation_copy`, n the bytes held with it). The bytes
    * are summed on the executors first, so a refused relation ships no
    * row; an admitted one is fetched in one collect. A row write the
    * overlay absorbs patches it ([[patch]]); every other change of the
    * rows retires it. A refusal is cached too, and stands across
    * overlay writes: an over-gate relation is probed once per base. The
    * driver fixpoint, the graph fixed rules and non-recursive rules over
    * copies read it on the driver ([[graft.plan.DriverPlan]], in key
    * order where a join or a filter binds a key prefix); a graph built
    * over it is kept with it ([[chargeCopy]]). Spark plans a read of the
    * copy as the relation's own view. */
  def relationCopy(rel: String): Option[DriverRows] = lock.synchronized {
    val r = recs.getOrElse(rel, return None)
    cachedAt(rel, r.version) match {
      case Some(RelationCopy(rows)) => rows
      case _ =>
        val bytes = graftbridge.PlanBridge.internalBytes(r.view)
        val copy = Option.when(Knee.gate("relation_copy", heldCopyBytes + bytes, Knee.DriverIndexBytes)) {
          val schema = r.view.schema
          val keyIdx = r.keys.map(schema.fieldIndex).toIndexedSeq
          relationCopyBuilds += 1
          new DriverRows(schema, graftbridge.PlanBridge.collectInternal(r.view).sorted(ascending(schema, keyIdx)),
            keyIdx, chargeCopy)
        }
        indexArtifacts(rel) = (r.version, RelationCopy(copy))
        copy
    }
  }

  /** The copy of `rel` if one is held: never probes or fetches. */
  def heldCopy(rel: String): Option[DriverRows] = lock.synchronized {
    recs.get(rel).flatMap(r => cachedAt(rel, r.version)).collect { case RelationCopy(Some(c)) => c }
  }

  /** Heap bytes of the copies held and of what is kept with them. */
  private def heldCopyBytes: Long =
    indexArtifacts.values.collect { case (_, RelationCopy(Some(c))) => c.heldBytes }.sum

  /** Whether a graph of `bytes` built over a copy is kept with it: when
    * the copies with what they keep still fit [[Knee.DriverIndexBytes]]. */
  private def chargeCopy(bytes: Long): Boolean = lock.synchronized {
    localGraphBuilds += 1
    heldCopyBytes + bytes <= Knee.DriverIndexBytes.value
  }

  /** `c` with each written key's run replaced by its row
    * ([[DriverRows.patched]]); no job runs. What was kept with `c` is
    * not carried over. */
  private def patchedCopy(c: DriverRows, written: Seq[(Seq[Any], Option[Row])]): DriverRows = {
    // the written rows have the copy's columns and types (those of the
    // view it was built from); any of them may now be NULL
    val schema = DriverPlan.nullable(c.schema)
    val toRow = CatalystTypeConverters.createToCatalystConverter(schema)
    val unsafe = UnsafeProjection.create(schema)
    c.patched(schema, written.toMap.toSeq.map { case (k, row) =>
      (k.map(CatalystTypeConverters.convertToCatalyst).toArray,
        row.map(r => unsafe(toRow(r).asInstanceOf[InternalRow]).copy(): InternalRow))
    })
  }

  /** The rows the held copy of `rel` has under `keys` (overlay keys), as
    * external rows; None without such a copy. Runs no job. */
  private def copyRows(rel: String, keys: Seq[Seq[Any]]): Option[Seq[Row]] =
    heldCopy(rel).map { c =>
      val toRow = CatalystTypeConverters.createToScalaConverter(c.schema)
      keys.flatMap { k =>
        val (lo, hi) = c.keyRange(k.map(CatalystTypeConverters.convertToCatalyst).toArray)
        (lo until hi).map(i => toRow(c.rows(i)).asInstanceOf[Row])
      }
    }

  // ——————————————————————— index artifacts ———————————————————————

  /** The artifact of `target` if it was built for version `ver`. */
  private def cachedAt(target: String, ver: Long): Option[IndexArtifact] =
    indexArtifacts.get(target).collect { case (v, a) if v == ver => a }

  /** What `hit` reads from the index artifact of `target` at `rel`'s
    * current version, built by `build` (a full build, then cached) when
    * there is none. */
  private def built[A](target: String, rel: String)(hit: PartialFunction[IndexArtifact, A])(
      build: => (IndexArtifact, A)): A = lock.synchronized {
    val ver = versionOf(rel)
    cachedAt(target, ver).collect(hit).getOrElse {
      dropArtifact(target)
      indexFullBuilds += 1
      val (artifact, out) = build
      indexArtifacts(target) = (ver, artifact)
      out
    }
  }

  /** Targets holding any cached artifact, and the persisted HNSW graph
    * directories (test hooks for cache cleanup). */
  private[lang] def cachedIndexTargets: Set[String] = lock.synchronized(indexArtifacts.keySet.toSet)
  private[lang] def indexArtifactDirs: Seq[String] = lock.synchronized(
    indexArtifacts.values.collect { case (_, DistHnsw(dir, _)) => dir }.toSeq)

  /** Drop the cached artifact of `target`, with the executor-cached
    * graphs and the graph directory of a distributed HNSW index. */
  def dropArtifact(target: String): Unit = lock.synchronized {
    indexArtifacts.remove(target).foreach {
      case (_, DistHnsw(dir, loaded)) =>
        loaded.foreach(_.unpersist(blocking = false))
        scala.util.Try(org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir)))
      case _ => ()
    }
  }

  private def view(rel: String): DataFrame = recs(rel).view
  def keyCol(rel: String): String = recs(rel).keys.head
  /** A parameter-free expression over a relation's columns. */
  private def compileExpr(e: Expr): Column = new Compiler(spark, view, _ => None, Map.empty).compileExpr(e)

  /** The FTS index of `target` at its relation's current version, built
    * on first use: driver-resident ([[graft.search.DriverFts]]) when the
    * relation has a single key column and the index fits the byte gate
    * (estimated from the extractor text length, one scan; a `Knee.gate`
    * logged as `op=fts_index`), else the distributed postings/lens
    * frames. Both branches return the same results (DriverIndexSpec). */
  def ftsIndex(target: String, spec: FtsIdx): Either[graft.search.DriverFts, graft.search.Fts.Index] =
    built(target, spec.rel) { case DriverFts(d) => Left(d); case DistFts(ix, _) => Right(ix) } {
      val key = keyCol(spec.rel)
      val docs = extractFiltered(view(spec.rel), spec.extractor, spec.extractFilter)
      // the key column identifies a row: the driver index maps key → document
      val driver = recs(spec.rel).keys.lengthIs == 1 && {
        val st = docs.agg(count(lit(1)), sum(length(col(spec.extractor)))).head()
        val chars = if (st.isNullAt(1)) 0L else st.getLong(1)
        Knee.gate("fts_index", graft.search.DriverFts.estimateBytes(
          st.getLong(0), graft.search.DriverFts.tokenBound(chars, spec.pipe)), Knee.DriverIndexBytes)
      }
      if (driver) {
        val d = graft.search.DriverFts.empty(spec.pipe).patch(Nil,
          graft.search.DriverFts.tokenRows(graft.search.DriverFts.docTokens(
            docs, key, spec.extractor, spec.pipe).collect().toSeq))
        indexDriverBuilds += 1
        (DriverFts(d), Left(d))
      } else {
        val ix = graft.search.Fts.Index.build(docs, key, spec.extractor, spec.pipe)
        (DistFts(ix, 0), Right(ix))
      }
    }

  /** extract_filter semantics (parse/sys.rs:374-382): rows failing
    * the condition get a NULL extractor value — no tokens, no
    * shingles, absent from the index. */
  private def extractFiltered(docs: DataFrame, extractor: String, ef: Option[Expr]): DataFrame =
    ef.fold(docs)(e => docs.withColumn(extractor, when(compileExpr(e), col(extractor))))

  /** The per-document (key, band) table of an LSH index. Shingles and
    * signature are STAGED as columns: lshBandKeys inlines its input once
    * per band, and inlining the tokenizer pipeline tree that many times
    * would blow up Catalyst analysis. minhashSignature is one kernel
    * pass over the staged shingles (each hashed once, not once per
    * permutation). */
  def lshBandsOf(docs: DataFrame, key: String, l: LshIdx): DataFrame = {
    import graft.functions.{TextFunctions => TF}
    val nPerm = l.bands * l.rowsPerBand
    extractFiltered(docs, l.extractor, l.extractFilter)
      .select(col(key), lshDocShingles(l).as("__sh"))
      .select(col(key), TF.minhashSignature(col("__sh"), nPerm).as("__sig"))
      .select(col(key), explode(TF.lshBandKeys(col("__sig"),
        l.bands, l.rowsPerBand)).as("band"))
  }

  def lshBandTable(target: String, l: LshIdx): DataFrame =
    built(target, l.rel) { case LshBands(df, _) => df } {
      val df = lshBandsOf(view(l.rel), keyCol(l.rel), l).ckptLazy()
      (LshBands(df, 0), df)
    }

  /** The graphs of a walk-eligible vector index at its relation's
    * current version, built on first use: driver-resident when the
    * corpus fits the byte gate (`op=hnsw_index`), else persisted
    * partition-local graphs (a directory of
    * [[graft.similarity.Ann.hnswWriteIndex]] artifacts). Shared by
    * probes and the index-internals graph scan. */
  def hnswIndexOf(target: String, v: VecIdx): Either[graft.similarity.HnswBuckets, String] =
    built(target, v.rel) { case DriverHnsw(b) => Left(b); case DistHnsw(d, _) => Right(d) } {
      val corpus = hnswCorpus(v, hnswAdmitted(v, view(v.rel)), keyCol(v.rel))
      val (mEff, efcEff) = hnswBuildParams(v)
      val metric = hnswWalkMetric(v.distance).get
      val st = corpus.agg(count(lit(1)), sum(size(col("vec")))).head()
      val bytes = graft.similarity.HnswBuckets.estimateBytes(
        st.getLong(0), if (st.isNullAt(1)) 0L else st.getLong(1), mEff)
      if (Knee.gate("hnsw_index", bytes, Knee.DriverIndexBytes)) {
        val b = graft.similarity.HnswBuckets.build(
          corpus.filter(col("vec").isNotNull).collect().toSeq
            .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)),
          mEff, efcEff, metric = metric,
          extendCandidates = v.extendCandidates, keepPruned = v.keepPruned)
        indexDriverBuilds += 1
        (DriverHnsw(b), Left(b))
      } else {
        val d = java.nio.file.Files.createTempDirectory("graft_hnsw").toString
        graft.similarity.Ann.hnswWriteIndex(d, corpus, mEff, efcEff, metric = metric,
          extendCandidates = v.extendCandidates, keepPruned = v.keepPruned)
        (DistHnsw(d, None), Right(d))
      }
    }

  /** The restored graphs of a distributed walk-eligible index, kept in
    * its artifact until a patch or a rebuild replaces it. */
  def hnswLoadedGraphs(target: String, dir: String)
      : org.apache.spark.rdd.RDD[graft.similarity.HnswIndex] = lock.synchronized {
    indexArtifacts.get(target) match {
      case Some((_, DistHnsw(_, Some(rdd)))) => rdd
      case entry =>
        val rdd = graft.similarity.Ann.hnswLoadIndex(spark, dir)
        entry.foreach { case (ver, _) => indexArtifacts(target) = (ver, DistHnsw(dir, Some(rdd))) }
        indexGraphLoads += 1
        rdd
    }
  }

  /** Index-level walk eligibility of a vector index (probe-level parts
    * — per-probe filter/radius — are checked at the probe). Multi-field
    * indexes walk too: one graph node per (key, field), best-field
    * collapse at the merge (the reference's graph likewise holds one
    * entry per indexed vector, hnsw.rs). */
  def hnswIndexEligible(v: VecIdx): Boolean =
    v.m.isDefined && v.fields.nonEmpty &&
      hnswWalkMetric(v.distance).isDefined &&
      v.fields.forall(f => view(v.rel).columns.contains(f) &&
        !isListVecField(v.rel, f)) &&
      keyTypeIntegral(v.rel)

  /** A `fields:` entry holding a LIST of vectors (array<array<float>>;
    * hnsw.rs:699-705 indexes each element under its sub-index). List
    * fields probe through the exact scan — the element count is
    * data-dependent, so they don't fit the fixed gid encoding of the
    * persisted graphs. */
  def isListVecField(rel: String, f: String): Boolean =
    view(rel).schema(f).dataType match {
      case ArrayType(ArrayType(_, _), _) => true
      case _ => false
    }

  /** Graph node ids derive from THE key column, so the walk needs a
    * relation keyed by exactly one integral column — a composite key's
    * first column is not unique and two rows would share a node id
    * (same corruption class as duplicate multi-field ids). Composite
    * keys fall back to the exact scan. */
  private def keyTypeIntegral(rel: String): Boolean =
    recs(rel).keys.lengthIs == 1 && (view(rel).schema(keyCol(rel)).dataType match {
      case LongType | IntegerType | ShortType => true
      case _ => false
    })

  /** The walkable corpus of a vector index: every indexed field's
    * vector as its own graph node under the composite node id
    * `key*nFields + fieldIdx` (a graph node id must be UNIQUE — the
    * persisted adjacency is id-keyed — so multi-field rows can't reuse
    * the raw key). [[graft.similarity.Ann.hnswProbeIndex]] decodes the
    * payload key back out with floorDiv. Overflows only for
    * |key| > 2^63/nFields — beyond any practical key domain. */
  private def hnswCorpus(v: VecIdx, admitted: DataFrame, key: String): DataFrame = {
    val n = v.fields.length
    v.fields.zipWithIndex.map { case (f, i) =>
      admitted.select((col(key).cast("long") * n + lit(i.toLong)).as("id"),
        col(f).cast("array<float>").as("vec"))
    }.reduce(_ unionByName _)
  }

  /** The index-admitted `rows` of a vector index (the create-time
    * admission filter is param-free by construction). */
  def hnswAdmitted(v: VecIdx, rows: DataFrame): DataFrame =
    v.filter.fold(rows)(e => rows.filter(compileExpr(e)))

  /** (m, ef_construction) as the graph builds use them: the reference
    * accepts ef_construction < m; HnswIndex needs a beam at least m
    * wide. */
  private def hnswBuildParams(v: VecIdx): (Int, Int) = {
    val mEff = math.max(v.m.get, 2)
    (mEff, math.max(v.efConstruction.getOrElse(mEff * 6), mEff))
  }

  private def localFrame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)
}

private[lang] object Store {

  /** True when `df` plans to a driver-local relation: collecting it
    * runs no Spark job, and its statistics are exact. */
  def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  /** Distance names the partition-local graph walk supports
    * (hnsw.rs:66-108 metric set), mapped to HnswIndex metric ids. */
  def hnswWalkMetric(distance: String): Option[String] =
    distance.toLowerCase match {
      case "cosine" => Some("cosine")
      case "l2" => Some("l2")
      case "ip" | "innerproduct" => Some("ip")
      case _ => None
    }

  /** A document's LSH shingles: TOKEN n-grams through the index's
    * tokenizer pipeline (unique_ngrams, tokenizer_impl.rs:105-123). */
  def lshDocShingles(l: LshIdx): Column =
    graft.search.Fts.lshShingles(col(l.extractor), l.pipe, l.nGram)

  /** Rows of `schema` ordered by the columns at `idx`, ascending, NULLs first. */
  private def ascending(schema: StructType, idx: Seq[Int]): InterpretedOrdering =
    new InterpretedOrdering(idx.map(i => SortOrder(BoundReference(i, schema(i).dataType, nullable = true), Ascending)))

  /** The positions of the columns of `schema` Spark can order by. */
  private def orderable(schema: StructType): Seq[Int] =
    schema.indices.filter(i => RowOrdering.isOrderable(schema(i).dataType))

  /** The rows of `base` whose key is (`hit`) or is not among `keySet`
    * (keys of [[overlayKey]]), matched as Spark's NULL-safe `<=>` does,
    * by an IN filter, which adds no job to a read: over the key column
    * when there is one, else over the struct of the key columns
    * (compared field by field, NULLs equal). */
  private def overlayMatch(base: DataFrame, keys: Seq[String], keySet: Iterable[Seq[Any]],
                           hit: Boolean): DataFrame = {
    val types = keys.map(k => base.schema(k).dataType)
    val tuples = keySet.toSeq
    val matched =
      if (keys.length == 1) {
        val vs = tuples.map(_.head)
        // a hashed IN compares floats by boxed equality: list -0.0 beside 0.0
        val lits = vs.filter(_ != null).flatMap {
          case d: Double if d == 0.0 => Seq(0.0, -0.0)
          case f: Float if f == 0.0f => Seq(0.0f, -0.0f)
          case v => Seq(v)
        }.map(lit(_).cast(types.head))
        val in = if (lits.isEmpty) lit(false) else coalesce(col(keys.head).isin(lits: _*), lit(false))
        if (vs.contains(null)) in || col(keys.head).isNull else in
      } else if (tuples.isEmpty) lit(false)
      else struct(keys.indices.map(i => col(keys(i)).as(s"_$i")): _*).isin(tuples.map(vs =>
        struct(vs.indices.map(i => lit(vs(i)).cast(types(i)).as(s"_$i")): _*)): _*)
    base.filter(if (hit) matched else !matched)
  }

  /** The overlay key of `values` (types as the relation's key columns),
    * or None when the overlay and [[overlayMatch]] could disagree on it:
    * a NaN, or a type whose driver equality is not Spark's (a key of
    * such a type takes the fold path). */
  private def overlayKey(values: Seq[Any], types: Seq[DataType]): Option[Seq[Any]] = {
    val out = values.zip(types).map {
      case (null, _) => Some(null)
      case (d: Double, _) => if (d.isNaN) None else Some(if (d == 0.0) 0.0 else d)
      case (f: Float, _) => if (f.isNaN) None else Some(if (f == 0.0f) 0.0f else f)
      case (v, LongType | IntegerType | ShortType | ByteType | StringType | BooleanType |
               DateType | TimestampType | TimestampNTZType) => Some(v)
      case _ => None
    }
    if (out.forall(_.isDefined)) Some(out.map(_.get)) else None
  }
}
