package graft.lang

import graft.plan._
import Ast._
import graft.operators.Mutations
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.immutable.VectorMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The queryable engine facade: stored relations + `run(script)`.
  *
  * Mirrors the reference's Db surface (cozo-core/src/runtime/db.rs:
  * run_script:298, relation store relation.rs, triggers
  * relation.rs:553-585, callbacks db.rs:789-830) on Spark terms: a
  * stored relation is a named DataFrame (parquet/delta-backed in
  * production, in-memory registered here) and a script run builds one
  * Catalyst plan per rule stratum.
  *
  * State is one map of immutable [[StoredRelation]] records (rows,
  * overlay, keys, validity, defaults, access, description, version,
  * indexes, triggers) plus one cache of index artifacts stamped with
  * the relation version they were built for. A write or sys op replaces
  * a record, removal drops it, `::rename` re-keys it, and a transaction
  * snapshot copies the map. A relation's rows are an unchanged base
  * plus a driver-resident write overlay (key → row, or a tombstone):
  * small `:put`/`:rm`/`:update`/`:insert`/`:delete` writes touch only
  * their keys in the overlay and run no job beyond an existence probe,
  * and reads see `base ANTI JOIN overlay keys UNION overlay rows`. A
  * write the overlay cannot take folds: the base is rewritten through
  * the key-equi joins of [[graft.operators.Mutations]] and the overlay
  * resets.
  *
  * Rule evaluation is stratified bottom-up: rules are grouped into
  * strongly-connected components (query/stratify.rs:225), evaluated in
  * topological order; recursive components run a driver-side fixpoint
  * loop with set semantics (eval.rs:113-303). Negation and aggregation
  * must not cross a recursive component (the reference raises the same
  * stratification error).
  */
class CozoDb(val spark: SparkSession) {

  import Compiler.CompileException
  import IndexArtifact._

  /** Every stored relation by name (see [[StoredRelation]]). */
  private val records = mutable.LinkedHashMap.empty[String, StoredRelation]

  private def stored(name: String): StoredRelation =
    records.getOrElse(name, throw CompileException(s"stored relation *$name not found"))
  private def update(name: String)(f: StoredRelation => StoredRelation): Unit =
    records(name) = f(stored(name))

  /** Register a stored relation. A validity column (+ optional assert
    * flag column) makes the relation time-travelable: both become part
    * of the logical key, so puts append VERSIONS instead of replacing
    * (the reference models both as one trailing Validity key column,
    * data/value.rs:112-131). Re-registering a name replaces its rows,
    * keys and validity, and keeps its other metadata. */
  def registerTable(name: String, df: DataFrame, keys: Seq[String] = Nil,
                    validity: Option[String] = None,
                    validityAssert: Option[String] = None): Unit = {
    validity.foreach { v =>
      if (!df.columns.contains(v))
        throw CompileException(s"validity column $v not in $name")
    }
    validityAssert.foreach { a =>
      if (validity.isEmpty)
        throw CompileException(s"assert column $a requires a validity column")
      if (!df.columns.contains(a))
        throw CompileException(s"assert column $a not in $name")
    }
    dropRelationIndexCaches(name)
    val r = StoredRelation(df, if (keys.nonEmpty) keys else df.columns.toSeq,
      versionCounter.incrementAndGet(), validity = validity, assertCol = validityAssert)
    records(name) = records.get(name).fold(r)(_.copy(view = r.view, keys = r.keys,
      version = r.version, overlay = None, validity = validity,
      assertCol = validityAssert, bare = false))
  }

  /** `*rel[...] @ t` (StoredWithValidityRA, data/value.rs:112-131,
    * relation.rs:370): newest version per logical key at time t; a
    * RETRACT as the newest version hides the key (ra.rs:1124-1241). At
    * identical timestamps the assert outranks the retract, matching the
    * reference's (Reverse(ts), Reverse(is_assert)) key order. */
  private def validityScan(name: String, asOf: org.apache.spark.sql.Column): DataFrame = {
    val r = records.get(name).filter(_.validity.isDefined).getOrElse(
      throw CompileException(s"relation *$name has no validity column (register with validity=...)"))
    val (vcol, acol) = (r.validity.get, r.assertCol)
    val df = relation(name)
    val keys = r.keys.filterNot(c => c == vcol || acol.contains(c))
    graft.operators.TimeTravel.asOf(df, keys, vcol, asOf.cast("timestamp"),
      assertCol = acol, tieBreak = acol.toSeq)
  }

  /** Coerce script-level validity payloads on mutation into a
    * validity-registered relation (relation.rs:333-389): a string
    * "ASSERT"/"RETRACT" means now, an RFC3339 timestamp asserts at that
    * instant, and a `~`-prefixed RFC3339 timestamp retracts; the assert
    * flag column defaults to true when absent. */
  private def coerceValidity(rel: String, validity: Option[String], acol: Option[String],
                             delta: DataFrame): DataFrame =
    validity match {
      case Some(vcol) if delta.columns.contains(vcol) =>
        val withVld = delta.schema(vcol).dataType match {
          case StringType =>
            val isNowOp = col(vcol) === "ASSERT" || col(vcol) === "RETRACT"
            val ts = when(isNowOp, current_timestamp())
              .otherwise(to_timestamp(regexp_replace(col(vcol), "^~", "")))
            val isAssert = col(vcol) =!= "RETRACT" && !col(vcol).startsWith("~")
            val d = delta.withColumn("__vld_assert", isAssert).withColumn(vcol, ts)
            acol.fold(d.drop("__vld_assert"))(a =>
              d.withColumn(a, col("__vld_assert")).drop("__vld_assert"))
          // `[micros_since_epoch, is_assert]` pair (the reference's raw
          // Validity literal, value.rs:112-131) — lowered to a struct by
          // the heterogeneous-list rule. i64 MAX/MIN are the reserved
          // inf/neg_inf sentinels and are rejected like the reference.
          case st: StructType if st.size == 2 &&
              st.fields(1).dataType == BooleanType =>
            validityPair(rel, delta, vcol, acol,
              col(vcol).getField(st.fieldNames.head).cast("long"),
              col(vcol).getField(st.fieldNames.last))
          // const-rule pairs surface as arrays (rowsToDf renders mixed
          // [int, bool] element types as array<string>)
          case _: ArrayType =>
            validityPair(rel, delta, vcol, acol,
              try_element_at(col(vcol), lit(1)).cast("long"),
              coalesce(try_element_at(col(vcol), lit(2)).cast("boolean"), lit(true)))
          case _ => delta
        }
        acol.filterNot(withVld.columns.contains)
          .fold(withVld)(a => withVld.withColumn(a, lit(true)))
      case _ => delta
    }
  /** `[micros_since_epoch, is_assert]` raw Validity pair
    * (value.rs:112-131). i64 MAX/MIN are the reserved inf/neg_inf
    * sentinels and are rejected like the reference (eager check — the
    * reference errors at mutation time, not first read). */
  private def validityPair(rel: String, delta: DataFrame, vcol: String,
                           acol: Option[String], micros: org.apache.spark.sql.Column,
                           isAssert: org.apache.spark.sql.Column): DataFrame = {
    if (!delta.filter(micros === Long.MaxValue || micros === Long.MinValue).isEmpty)
      throw CompileException(
        s"validity timestamp uses a reserved sentinel (i64 MAX/MIN) in $rel")
    val d = delta.withColumn("__vld_assert", isAssert)
      .withColumn(vcol, timestamp_micros(micros))
    acol.fold(d.drop("__vld_assert"))(a =>
      d.withColumn(a, col("__vld_assert")).drop("__vld_assert"))
  }

  def relation(name: String): DataFrame = {
    requireAccess(name, "read_only", "read")
    records.get(name).map(_.view)
      .orElse(indexSpec(name).map(indexInternals(name, _)))
      .getOrElse(throw CompileException(s"stored relation *$name not found"))
  }
  def relationNames: Seq[String] = records.keys.toSeq
  /** Drop a relation with all of its metadata, indexes and cached
    * index artifacts. */
  def removeRelation(name: String): Unit = {
    dropRelationIndexCaches(name)
    records.remove(name)
  }

  /** Export stored relations as DataFrames (db.rs:448-474
    * export_relations). */
  def exportRelations(names: Seq[String]): Map[String, DataFrame] =
    names.map(n => n -> relation(n)).toMap

  /** Import relations wholesale, replacing existing state
    * (db.rs:476-503 import_relations). */
  def importRelations(rels: Map[String, DataFrame],
                      keys: Map[String, Seq[String]] = Map.empty): Unit =
    rels.foreach { case (n, df) => registerTable(n, df, keys.getOrElse(n, df.columns.toSeq)) }

  /** Backup every stored relation to `dir` as parquet + a key manifest
    * (db.rs:644-700 backup_db). */
  def backup(dir: String): Unit = {
    new java.io.File(dir).mkdirs()
    records.foreach { case (n, r) => r.view.write.mode("overwrite").parquet(s"$dir/$n.parquet") }
    // manifest rows: name, keys, validity column, assert column — so a
    // restore round-trips time-travel registration, not just data
    val manifest = records.map { case (n, r) =>
      s"$n\t${r.keys.mkString(",")}\t${r.validity.getOrElse("")}\t${r.assertCol.getOrElse("")}"
    }.mkString("\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/_keys.tsv"), manifest)
    // DDL side-manifest, base64ed so multiline scripts stay one TSV row:
    // index create statements (replayed on restore, before any access
    // level applies), script triggers, access levels, descriptions, and
    // declared columns with their Java-serialized default generators —
    // the reference's backup_db keeps them in the storage snapshot
    // (db.rs:644-700)
    def b64(bytes: Array[Byte]) = java.util.Base64.getEncoder.encodeToString(bytes)
    def b64s(s: String) = b64(s.getBytes("UTF-8"))
    def ser(o: AnyRef) = {
      val bytes = new java.io.ByteArrayOutputStream()
      scala.util.Using.resource(new java.io.ObjectOutputStream(bytes))(_.writeObject(o))
      b64(bytes.toByteArray)
    }
    val ddl = records.values.toSeq.flatMap(_.indexes.map { case (t, (_, text)) =>
      s"IDX\t$t\t${b64s(text)}"
    }) ++ records.toSeq.flatMap { case (rel, r) =>
      val (puts, rms, reps) = r.triggers
      puts.map(q => s"TRG\t$rel\tput\t${b64s(q)}") ++
        rms.map(q => s"TRG\t$rel\trm\t${b64s(q)}") ++
        reps.map(q => s"TRG\t$rel\treplace\t${b64s(q)}") ++
        Option.when(r.access != "normal")(s"ACC\t$rel\t${r.access}") ++
        Option.when(r.description.nonEmpty)(s"DESC\t$rel\t${b64s(r.description)}") ++
        Option.when(r.declared.nonEmpty)(s"DEF\t$rel\t${ser((r.declared, r.defaults))}")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/_ddl.tsv"),
      ddl.mkString("\n"))
  }

  /** Restore relations from a [[backup]] directory (db.rs:702-758). */
  def restore(dir: String): Unit = {
    val manifestPath = java.nio.file.Paths.get(s"$dir/_keys.tsv")
    if (!java.nio.file.Files.exists(manifestPath))
      throw new IllegalStateException(s"restore: no backup manifest in $dir")
    java.nio.file.Files.readString(manifestPath).split("\n").filter(_.nonEmpty).foreach { line =>
      val parts = line.split("\t", -1)
      val name = parts(0)
      val keys = if (parts.length > 1 && parts(1).nonEmpty) parts(1).split(",").toSeq else Nil
      def at(i: Int) = if (parts.length > i && parts(i).nonEmpty) Some(parts(i)) else None
      registerTable(name, spark.read.parquet(s"$dir/$name.parquet"), keys,
        validity = at(2), validityAssert = at(3))
    }
    val ddlPath = java.nio.file.Paths.get(s"$dir/_ddl.tsv")
    if (java.nio.file.Files.exists(ddlPath)) {
      def unb64(s: String) = java.util.Base64.getDecoder.decode(s)
      def unb64s(s: String) = new String(unb64(s), "UTF-8")
      java.nio.file.Files.readString(ddlPath).split("\n").filter(_.nonEmpty).foreach { line =>
        line.split("\t", -1) match {
          case Array("IDX", _, b) => run(unb64s(b))
          case Array("TRG", rel, kind, b) => update(rel) { r =>
            val (p, rm, rp) = r.triggers
            val q = unb64s(b)
            r.copy(triggers = kind match {
              case "put" => (p :+ q, rm, rp)
              case "rm" => (p, rm :+ q, rp)
              case _ => (p, rm, rp :+ q)
            })
          }
          case Array("ACC", rel, lvl) => update(rel)(_.copy(access = lvl))
          case Array("DESC", rel, b) => update(rel)(_.copy(description = unb64s(b)))
          case Array("DEF", rel, b) =>
            val in = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(unb64(b)))
            val (declared, defaults) = in.readObject().asInstanceOf[(Seq[String], Map[String, Expr])]
            update(rel)(_.copy(declared = declared, defaults = defaults))
          case _ => ()
        }
      }
    }
  }

  /** Programmatic mutations through the same path scripts use — they
    * coerce validity payloads, fire triggers/callbacks, and bump index
    * epochs (used by the streaming bridge, Streaming.intoRelation). */
  def put(rel: String, delta: DataFrame): Unit = { relationMutation("put", rel, SchemaSpec(), delta); () }
  def rm(rel: String, delta: DataFrame): Unit = { relationMutation("rm", rel, SchemaSpec(), delta); () }

  /** Register a trigger fired after a put/rm mutation on `rel` with the
    * mutation delta (relation.rs:553-585). */
  def onPut(rel: String)(f: DataFrame => Unit): Unit = update(rel)(r => r.copy(onPut = f :: r.onPut))
  def onRm(rel: String)(f: DataFrame => Unit): Unit = update(rel)(r => r.copy(onRm = f :: r.onRm))

  // ——————————— script triggers + change callbacks (db.rs:789-830) ———————————

  private val changeCallbacks =
    mutable.LinkedHashMap.empty[Int, (String, (String, DataFrame, DataFrame) => Unit)]
  private var nextCallbackId = 0
  /** Nested mutations from inside a trigger do not re-fire triggers
    * (stored.rs runs trigger queries with propagate_triggers=false). */
  private var inTrigger = false

  /** Observe mutations on `rel`: f(op, newRows, oldRows) with op
    * "put"/"rm" — the registry analogue of db.rs:789 register_callback.
    * Returns an id for [[unregisterCallback]]. */
  def registerCallback(rel: String)(f: (String, DataFrame, DataFrame) => Unit): Int =
    changeCallbacks.synchronized {
      nextCallbackId += 1
      changeCallbacks(nextCallbackId) = (rel, f)
      nextCallbackId
    }
  def unregisterCallback(id: Int): Boolean =
    changeCallbacks.synchronized { changeCallbacks.remove(id).isDefined }

  private def fireMutation(rel: String, kind: String,
                           newDf: DataFrame, oldDf: DataFrame): Unit = {
    val r = stored(rel)
    if (kind == "put") r.onPut.foreach(_(newDf))
    if (kind == "rm") r.onRm.foreach(_(newDf))
    if (!inTrigger) {
      // script triggers (`::set_triggers`) run as queries with `_new` /
      // `_old` bound as const rules (query/stored.rs:696-737)
      val (puts, rms, reps) = r.triggers
      val texts = kind match {
        case "put" => puts
        case "rm" => rms
        case _ => reps
      }
      if (texts.nonEmpty) {
        inTrigger = true
        try texts.foreach(t => runSingle(t.trim, Map.empty,
          Map("_new" -> newDf, "_old" -> oldDf)))
        finally inTrigger = false
      }
    }
    if (kind == "put" || kind == "rm")
      // snapshot under the monitor, fire outside it (a callback may
      // itself register/unregister)
      changeCallbacks.synchronized { changeCallbacks.values.toList }
        .foreach { case (r, f) => if (r == rel) f(kind, newDf, oldDf) }
  }

  // ————— multi-statement transactions (db.rs:298-397) —————

  /** A driver-side transaction over the relation registry: statements
    * see their own writes; `abort` restores the pre-transaction state
    * exactly (relation records are immutable values over immutable
    * DataFrame plans, so the snapshot is a copy of the record map, not
    * of data). Weaker isolation than the reference's
    * MVCC — concurrent readers of this CozoDb observe uncommitted
    * writes — as documented in the build survey.
    *
    * CONTRACT: every transaction MUST be closed with `commit()` or
    * `abort()` — an abandoned open transaction suspends `_`-temp
    * cleanup for the whole session (temps are tx-scoped, db.rs:298).
    * Prefer [[transact]], which closes in a finally. */
  final class Transaction private[CozoDb] () {
    private val snapshot = records.clone()
    private var done = false
    openTxCount.incrementAndGet()
    def run(script: String, params: Map[String, Any] = Map.empty): DataFrame = {
      if (done) throw new IllegalStateException("transaction already closed")
      CozoDb.this.run(script, params)
    }
    private def close(): Unit = {
      done = true
      openTxCount.decrementAndGet()
      // temp relations live for the WHOLE transaction (db.rs:298 shares
      // one temp store across statements); clear them at close instead
      // of per-statement
      if (openTxCount.get() == 0 && runDepth == 0) clearTempRelations()
    }
    def commit(): Unit = if (!done) close()
    def abort(): Unit = {
      if (!done) {
        // relations whose rows or indexes the transaction changed lose
        // their index caches (patched to the aborted state, or built for
        // an aborted index) and get a new version
        val changed = (records.keySet ++ snapshot.keySet).filterNot(n =>
          records.get(n).exists(r => snapshot.get(n).exists(s =>
            (s.view eq r.view) && (s.indexes eq r.indexes))))
        records.clear(); records ++= snapshot
        changed.foreach { n => dropRelationIndexCaches(n); bumpVersion(n) }
        close()
      }
    }
  }

  def multiTransaction(): Transaction = new Transaction()

  /** Run `f` in a transaction: commit on success, roll back on any
    * exception (the shape of the reference's channel-driven
    * run_multi_transaction loop). */
  def transact[T](f: Transaction => T): T = {
    val tx = multiTransaction()
    try { val r = f(tx); tx.commit(); r }
    catch { case e: Throwable => tx.abort(); throw e }
  }

  // ————— access levels (runtime/relation.rs:122 AccessLevel) —————

  /** Queries currently inside [[run]], for ::running / ::kill (the
    * analogue of the reference's Poison registry, db.rs:1931-1955 —
    * here a Spark job-group cancel). */
  private val runningQueries = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  private val queryCounter = new java.util.concurrent.atomic.AtomicLong(0)
  // Job-group names must be unique across EVERY CozoDb that ever shares
  // a SparkContext, not just within one instance: ::kill poisons its
  // group with cancelJobGroupAndFutureJobs, so a later instance reusing
  // "graft-q<id>" would have its query cancelled at submission (95 test
  // failures from exactly this — the shared-fixture suites create a
  // fresh CozoDb per test, each restarting its counter at 0).
  private val dbNonce: Long = CozoDb.dbCounter.incrementAndGet()
  private def jobGroup(id: Long): String = s"graft-$dbNonce-q$id"
  private def accessRank(level: String): Int = level match {
    case "hidden" => 0
    case "read_only" => 1
    case "protected" => 2
    case _ => 3
  }
  private def requireAccess(rel: String, need: String, what: String): Unit = {
    // hidden < read_only < protected < normal
    val have = records.get(rel).fold("normal")(_.access)
    if (accessRank(have) < accessRank(need))
      throw new IllegalStateException(
        s"insufficient access level for $what on $rel: $have < $need")
  }

  /** Statement-level concurrency: script runs from multiple threads
    * serialize writers and share readers (the coarse-grained analogue
    * of the reference's single-writer MVCC — db.rs wraps every script
    * in a RocksDB transaction). Classification is conservative: any
    * script that COULD mutate (imperative blocks, `::` sysops, a
    * `:put`-family option anywhere in the text) takes the exclusive
    * lock; pure queries share. Both locks are reentrant for the nested
    * runs triggers / ::explain / imperative statements perform. */
  private val stateLock = new java.util.concurrent.locks.ReentrantReadWriteLock()
  private val mutatingOption =
    java.util.regex.Pattern.compile(
      "(^|\\s):(create|replace|insert|put|update|rm|delete|ensure_not|ensure)\\b")
  private def withStateLock[T](script: String)(body: => T): T = {
    // ::running / ::kill exist to observe and interrupt an in-flight
    // writer — they read only concurrent structures (runningQueries,
    // job groups), so they bypass the state lock entirely
    if (script.startsWith("::running") || script.startsWith("::kill")) return body
    val write = Imperative.looksImperative(script) || script.startsWith("::") ||
      mutatingOption.matcher(script).find()
    // never upgrade read→write on the same thread (deadlock): only
    // reachable if a read-classified script hit a mutating nested path,
    // which the conservative classification prevents
    val lock =
      if (write && stateLock.getReadHoldCount == 0) stateLock.writeLock()
      else stateLock.readLock()
    lock.lock()
    try body finally lock.unlock()
  }

  def run(script: String, params: Map[String, Any] = Map.empty): DataFrame = withStateLock(script.trim) {
    val trimmed = script.trim
    val id = queryCounter.incrementAndGet()
    runningQueries.put(id, trimmed.linesIterator.nextOption().getOrElse("").take(120))
    spark.sparkContext.setJobGroup(jobGroup(id), s"graft query $id", interruptOnCancel = true)
    runDepth += 1
    try {
      // imperative script: { query } blocks with `as _temp`, %if/%loop/
      // %return/%swap control flow (imperative.rs:67-250); plain
      // sequential { } blocks are the degenerate case
      val out =
        if (Imperative.looksImperative(trimmed))
          Imperative.execute(this, Imperative.parse(trimmed), params)
        else runSingle(trimmed, params)
      decodeAnyColumns(out)
    } finally {
      runDepth -= 1
      // `_`-prefixed relations are temporaries scoped to ONE top-level
      // script (tests.rs returning_relations; the reference clears its
      // script stores at script end). Cleanup runs in the finally so
      // failed scripts clear temps too, but ONLY for the outermost,
      // non-transactional run: nested runs (::explain, triggers) and
      // statements inside a multiTransaction share the outer script's
      // temp store (db.rs:298 run_multi_transaction shares one tx).
      // A returned result's plan is already built, so dropping registry
      // entries cannot invalidate it.
      if (runDepth == 0 && openTxCount.get() == 0) clearTempRelations()
      runningQueries.remove(id)
      spark.sparkContext.clearJobGroup()
    }
  }

  // per-thread nesting depth (nested runs happen on the caller's
  // thread); tx count is global — a reader on another thread must not
  // clear a live transaction's temps
  private val runDepthTL = ThreadLocal.withInitial[Integer](() => 0)
  private def runDepth: Int = runDepthTL.get()
  private def runDepth_=(v: Int): Unit = runDepthTL.set(v)
  private val openTxCount = new java.util.concurrent.atomic.AtomicInteger(0)
  private def clearTempRelations(): Unit =
    relationNames.filter(_.startsWith("_")).foreach(removeRelation)

  /** Final-result projection: Any-tagged (mixed-type, JSON-encoded)
    * columns decode to their display form on the way OUT of [[run]]
    * only — internal paths (imperative temps, stored relations, sort
    * keys) keep the injective encoding so set semantics and joins stay
    * exact. The marker metadata is dropped with the encoding. */
  private def decodeAnyColumns(df: DataFrame): DataFrame = {
    val hasAny = df.schema.exists(f => AnyValue.isAny(f.metadata))
    if (!hasAny) df
    else df.select(df.schema.map { f =>
      if (AnyValue.isAny(f.metadata))
        AnyValue.decodeDisplay(col(f.name)).as(f.name)
      else col(f.name)
    }: _*)
  }

  /** Single query program (used by the imperative interpreter). */
  private[lang] def runQueryText(script: String, params: Map[String, Any]): DataFrame =
    runSingle(script.trim, params)

  private def runSingle(script: String, params: Map[String, Any],
                        preBound: Map[String, DataFrame] = Map.empty): DataFrame = {
    // sys ops keep their raw text (::set_triggers carries `{ }` query
    // blocks that must not be re-tokenized)
    if (script.startsWith("::")) return sysOp(script.stripPrefix("::").trim, params)
    val prog = Parser.parse(script)
    prog.sysOp match {
      case Some(op) => return sysOp(op.trim, params)
      case None => ()
    }
    val out = withTimeout(prog.options.timeout) {
      val result = prog.options.relationOp match {
        // schema-only `:create rel {cols}` with no query: an empty
        // relation (reference :create with a bare schema, tests.rs:580/
        // 671). Column TYPES come from the first data-bearing mutation
        // (relationMutation adopts the delta's schema) — declared types
        // are parsed but Spark schemas come from data.
        case Some(("create", _, spec)) if prog.rules.isEmpty && spec.all.nonEmpty =>
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
            StructType(spec.all.map(c => StructField(c, StringType, nullable = true))))
        case _ => evalProgram(prog, params, preBound)
      }
      applyOptions(prog.options, result, bare = prog.rules.isEmpty)
    }
    // :sleep runs AFTER evaluation, before returning (db.rs:903-911)
    prog.options.sleep.foreach { secs =>
      val micros = (secs * 1e6).toLong.max(0L)
      Thread.sleep(micros / 1000, ((micros % 1000) * 1000).toInt)
    }
    out
  }

  /** `:timeout N` — the reference arms a Poison that a timer thread trips
    * after N seconds, and every eval step checks it (db.rs:1506-1955,
    * parse/query.rs:260-273). Spark analogue: arm a daemon timer that
    * cancels THIS query's job group (the same mechanism as `::kill`), and
    * eagerly materialize the result inside the window so the timeout
    * governs evaluation rather than whenever the caller collects. A body
    * that dies after the timer fired surfaces the reference's
    * "Running query is killed before completion" error. */
  private def withTimeout(timeout: Option[Double])(body: => DataFrame): DataFrame =
    timeout match {
      case None => body
      case Some(secs) =>
        val group = Option(spark.sparkContext.getLocalProperty("spark.jobGroup.id"))
        val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
        val timer = new java.util.Timer("graft-timeout", true)
        // repeat after expiry: cancelJobGroup only hits ACTIVE jobs, and a
        // multi-job evaluation (fixpoint rounds) may be between jobs at the
        // instant of expiry — re-cancelling every 100 ms poisons whichever
        // job starts next, like the reference's per-step poison.check()
        timer.scheduleAtFixedRate(new java.util.TimerTask {
          override def run(): Unit = {
            fired.set(true)
            group.foreach(spark.sparkContext.cancelJobGroup)
          }
        }, (secs * 1000).toLong.max(1L), 100L)
        def killed(cause: Throwable): Nothing =
          throw new IllegalStateException(
            "Running query is killed before completion", cause)
        val out = try {
          val df = body
          df.localCheckpoint(true) // eager: evaluation inside the window
        } catch {
          case e: Throwable if fired.get() => killed(e)
        } finally timer.cancel()
        if (fired.get()) killed(null) // poison fired at the finish line
        out
    }

  // ———————————————————————— sys ops (parse/sys.rs) ————————————————————————

  private val indexOpRe =
    """(?s)^(index|fts|lsh|hnsw)\s+(create|drop)\s+([\w.]+:[\w.]+)\s*(?:\{(.*)\})?\s*$""".r

  private def sysOp(op: String, params: Map[String, Any] = Map.empty): DataFrame = {
    import spark.implicits._
    op match {
      case indexOpRe(kind, sub, target, optsRaw) =>
        return indexOp(kind, sub, target, Option(optsRaw), params, "::" + op)
      case _ => ()
    }
    if (op.startsWith("set_triggers"))
      return setTriggersOp(op.stripPrefix("set_triggers").trim)
    if (op.startsWith("show_triggers")) {
      val rel = op.stripPrefix("show_triggers").trim.stripPrefix("*")
      relation(rel)
      val (puts, rms, reps) = stored(rel).triggers
      return (puts.map(("put", _)) ++ rms.map(("rm", _)) ++ reps.map(("replace", _)))
        .toDF("kind", "query")
    }
    val parts = op.split("\\s+").toSeq
    parts.head match {
      case "relations" =>
        (records.toSeq.map { case (n, r) =>
          (n, r.view.columns.length, r.keys.mkString(","), r.access, r.description)
        } ++ records.values.toSeq.flatMap(_.indexes).collect { case (n, (p: PlainIdx, _)) =>
          // the reference lists plain indexes among relations with kind
          // "index" (tests.rs:580 test_index_short asserts it)
          (n, indexInternals(n, p).columns.length,
            p.cols.mkString(","), "read_only", "index")
        }).sortBy(_._1).toDF("name", "arity", "keys", "access_level", "description")
      case "columns" =>
        val rel = parts(1).stripPrefix("*")
        val keys = records.get(rel).fold(Seq.empty[String])(_.keys)
        relation(rel).columns.zipWithIndex
          .map { case (c, i) => (c, i, keys.contains(c)) }
          .toSeq.toDF("column", "index", "is_key")
      case "remove" =>
        val rel = parts(1).stripPrefix("*")
        requireAccess(rel, "normal", "::remove")
        removeRelation(rel)
        Seq(("removed", rel)).toDF("status", "relation")
      // ::access_level <level> <rel...> (parse/sys.rs SetAccessLevel)
      case "access_level" | "set_access_level" =>
        val level = parts(1)
        if (!Seq("normal", "protected", "read_only", "hidden").contains(level))
          throw CompileException(s"unknown access level $level")
        val rels = parts.drop(2).map(_.stripPrefix("*"))
        rels.foreach(update(_)(_.copy(access = level)))
        rels.map((_, level)).toDF("relation", "access_level")
      // ::describe rel 'text' stores documentation (sys.rs DescribeRelation)
      case "describe" =>
        val rel = parts(1).stripPrefix("*")
        relation(rel)
        val desc = op.stripPrefix("describe").trim.stripPrefix(parts(1)).trim
          .stripPrefix("'").stripSuffix("'")
        update(rel)(_.copy(description = desc))
        Seq(("described", rel)).toDF("status", "relation")
      // storage housekeeping is a no-op on immutable parquet state
      case "compact" =>
        // the Spark-native analogue of the reference's storage
        // compaction (db.rs Compact → RocksDB): eagerly materialize
        // every stored relation, collapsing accumulated mutation-chain
        // lineage and every write overlay into checkpoint blocks, and
        // drop index delta chains so the next probe serves a freshly
        // compacted artifact
        overlayFolds += records.values.count(_.overlay.isDefined)
        records.mapValuesInPlace((_, r) => r.copy(view = r.view.ckpt(), overlay = None))
        indexCacheLock.synchronized {
          indexArtifacts.filterInPlace { case (_, (_, a)) =>
            !a.isInstanceOf[DistFts] && !a.isInstanceOf[LshBands] }
        }
        Seq(Tuple1("ok")).toDF("status")
      case "running" =>
        runningQueries.asScala.toSeq.map { case (id, desc) => (id, desc) }
          .toDF("id", "query")
      case "kill" =>
        val id = parts(1).toLong
        val present = runningQueries.containsKey(id)
        // ...AndFutureJobs: a plain cancelJobGroup only hits jobs ACTIVE at
        // the cancel instant, so a multi-job evaluation (fixpoint rounds)
        // sitting between jobs outlives the kill — the next round's job
        // must be poisoned too, like the reference's per-step poison.check()
        // (db.rs:1506-1955). Group ids are unique per query, never reused.
        if (present) spark.sparkContext.cancelJobGroupAndFutureJobs(
          jobGroup(id), s"::kill $id")
        Seq((if (present) "killed" else "not_found", id)).toDF("status", "id")
      case "fixed_rules" =>
        // (name, arity) like the reference registry's FixedRule::arity
        // listing (fixed_rule/mod.rs:706-835); null arity = width
        // depends on inputs/options
        FixedRules.names.map(n => (n, FixedRules.arity(n).map(_.toLong)))
          .toDF("name", "arity")
      case "indices" =>
        val rel = parts(1).stripPrefix("*")
        records.get(rel).toSeq.flatMap(_.indexes).map { case (n, (s, _)) =>
          (n, s match {
            case _: FtsIdx => "fts"; case _: LshIdx => "lsh"
            case _: VecIdx => "hnsw"; case _: PlainIdx => "index"
          })
        }.toDF("index", "kind")
      case "rename" =>
        // ::rename old new (parse/sys.rs rename_relations_op)
        val (from, to) = (parts(1).stripPrefix("*"), parts(2).stripPrefix("*"))
        // the record moves whole; indexes over the old name are dropped
        if (records.contains(to))
          throw new IllegalStateException(s"::rename — relation $to already exists")
        relation(from) // must exist and be readable
        val r = stored(from)
        removeRelation(from)
        records(to) = r.copy(indexes = VectorMap.empty, version = versionCounter.incrementAndGet())
        Seq(("renamed", from, to)).toDF("status", "from", "to")
      case "explain" =>
        val inner = op.stripPrefix("explain").trim.stripPrefix("{").stripSuffix("}")
        chosenIndexes.clear()
        val df = run(inner)
        val note = chosenIndexes.distinct.map(i => s"using index :$i\n").mkString
        Seq(Tuple1(note + df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))).toDF("plan")
      case other => throw CompileException(s"unknown sys op ::$other")
    }
  }

  /** `::set_triggers rel on put { q } on rm { q } on replace { q }`
    * (parse/sys.rs SetTriggers, relation.rs:553-585): REPLACES the
    * relation's trigger lists — a bare `::set_triggers rel` clears them. */
  private def setTriggersOp(rest: String): DataFrame = {
    import spark.implicits._
    val nameEnd = rest.indexWhere(_.isWhitespace)
    val (rel, body) =
      if (nameEnd < 0) (rest.stripPrefix("*"), "")
      else (rest.substring(0, nameEnd).stripPrefix("*"), rest.substring(nameEnd))
    requireAccess(rel, "protected", "set triggers") // relation.rs:563
    relation(rel) // must exist
    var puts, rms, reps = List.empty[String]
    var i = 0
    val s = body
    def ws(): Unit = { while (i < s.length && s.charAt(i).isWhitespace) i += 1 }
    def word(): String = {
      ws(); val j = i
      while (i < s.length && !s.charAt(i).isWhitespace && s.charAt(i) != '{') i += 1
      s.substring(j, i)
    }
    ws()
    while (i < s.length) {
      val on = word()
      if (on != "on")
        throw CompileException(s"::set_triggers — expected 'on put|rm|replace', got '$on'")
      val kind = word()
      ws()
      if (i >= s.length || s.charAt(i) != '{')
        throw CompileException("::set_triggers — expected '{' after trigger kind")
      i += 1
      val start = i
      var depth = 1
      while (i < s.length && depth > 0) {
        val c = s.charAt(i)
        if (c == '{') depth += 1 else if (c == '}') depth -= 1
        i += 1
      }
      if (depth != 0) throw CompileException("::set_triggers — unbalanced braces")
      val text = s.substring(start, i - 1).trim
      kind match {
        case "put" => puts :+= text
        case "rm" => rms :+= text
        case "replace" => reps :+= text
        case other => throw CompileException(s"::set_triggers — unknown kind '$other'")
      }
      ws()
    }
    update(rel)(_.copy(triggers = (puts, rms, reps)))
    Seq(("ok", rel, puts.length.toLong, rms.length.toLong, reps.length.toLong))
      .toDF("status", "relation", "put_triggers", "rm_triggers", "replace_triggers")
  }

  // ———————————————————————— program evaluation ————————————————————————

  private def evalProgram(prog: Program, params: Map[String, Any],
                          preBound: Map[String, DataFrame] = Map.empty): DataFrame = {
    if (prog.rules.isEmpty) throw CompileException("program has no rules")
    val byName: Map[String, Seq[RuleDef]] = prog.rules.groupBy(_.name)
    byName.foreach { case (n, defs) =>
      val arities = defs.map(_.head.length).distinct
      if (arities.length > 1)
        throw CompileException(s"rule $n defined with conflicting arities $arities")
      if (defs.exists(!_.isInstanceOf[HornClause]) && defs.length > 1)
        throw CompileException(s"rule $n mixes <- / <~ with other definitions")
    }

    // dependency graph over rule names
    def atomDeps(a: Atom): Set[String] = a match {
      case RelApply(n, _, false, _) => Set(n)
      case Neg(inner) => atomDeps(inner)
      case Or(alts) => alts.flatten.flatMap(atomDeps).toSet
      case _ => Set.empty
    }
    def ruleDeps(r: RuleDef): Set[String] = r match {
      case HornClause(_, _, body) => body.flatMap(atomDeps).toSet
      case FixedApply(_, _, _, rels, _) => rels.collect { case FixedRuleRel(n) => n }.toSet
      case _: ConstRule => Set.empty
    }
    val deps: Map[String, Set[String]] =
      byName.map { case (n, defs) =>
        val ds = defs.flatMap(ruleDeps).toSet
        ds.foreach { d =>
          if (!byName.contains(d) && !preBound.contains(d))
            throw CompileException(s"rule $n references undefined rule $d")
        }
        // pre-bound rules (_new/_old in triggers) are leaves, not program nodes
        n -> ds.filterNot(preBound.contains)
      }

    val sccs = tarjan(byName.keys.toSeq, deps)
    val evaluated = mutable.HashMap.empty[String, DataFrame]
    evaluated ++= preBound

    for (scc <- sccs) {
      val recursive = scc.size > 1 || deps(scc.head).contains(scc.head)
      if (!recursive) {
        val name = scc.head
        evalRule(byName(name), n => evaluated.get(n), params).foreach(evaluated(name) = _)
      } else {
        // goal-directed seeding (magic-set adornment, query/magic.rs:55-67):
        // single-rule recursion whose callers all bind a position to a
        // constant, and whose recursive clauses thread that position
        // unchanged, evaluates only the seeds' cone — not the full closure
        val magic: Map[String, DataFrame => DataFrame] =
          magicSeedFilter(scc, byName, params, evaluated)
            .map(f => scc.map(_ -> f).toMap).getOrElse(Map.empty)
        // limit early-termination (eval.rs:33-61, db.rs:1529-1539): an
        // unsorted `:limit n` query whose entry is a PASS-THROUGH of a
        // rule in this component (`?[vars] := rec[same vars]`, a
        // bijection — same distinct-row count) may stop the fixpoint
        // once that rule's accumulated facts reach offset+limit:
        // semi-naive only ever derives sound facts, so any n of them
        // is a correct answer for limit-without-order (the row CHOICE
        // is nondeterministic either way — the reference returns its
        // storage-order prefix). Sorted queries, projecting/filtering
        // entries, and meet-aggregated rules run to the full fixpoint.
        // (The reference grammar also forbids `?` in rule bodies; its
        // early return fires because the pass-through entry shares the
        // recursion's stratum, counting rows as they accumulate.)
        val earlyLimit: Option[(String, Long)] =
          if (prog.options.sort.nonEmpty) None
          else prog.options.limit.flatMap { l =>
            byName.get("?").collect {
              case Seq(HornClause(_, head, Seq(RelApply(n, args, false, _))))
                if scc.contains(n) && head.forall(_.aggr.isEmpty) &&
                  args.forall(_.isInstanceOf[V]) &&
                  args.map { case V(v) => v }.distinct.length == args.length &&
                  head.map(_.v).toSet == args.map { case V(v) => v }.toSet =>
                n -> (l + prog.options.offset.getOrElse(0L))
            }
          }
        evalRecursive(scc, byName, evaluated, params, magic,
          earlyLimit = earlyLimit)
      }
    }
    val entry = byName.getOrElse("?", throw CompileException("no ? entry rule"))
    evaluated.getOrElse("?", {
      // entry derived no facts (e.g. only references empty recursion)
      val names = entry.head.head.map(_.v)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(names.map(n => StructField(n, StringType, nullable = true))))
    })
  }

  private def compiler(resolve: String => Option[DataFrame], params: Map[String, Any]) =
    new Compiler(spark, relation, resolve, params, validityScan,
      (n, p, o, fr) => searchProbe(n, p, o, params, fr), chooseIndex)

  // ———————————————— indexes (parse/sys.rs:391-655) ————————————————

  /** The spec of index `target` (`rel:idx`). */
  private def indexSpec(target: String): Option[IndexSpec] =
    records.get(target.takeWhile(_ != ':')).flatMap(_.indexes.get(target)).map(_._1)

  /** Draws every relation version, so a number is never reused — not
    * even by a removed and re-created relation. A relation gets a new
    * version on every change of its rows: a mutation, a
    * (re-)registration (`:create`/`:replace`, [[registerTable]],
    * [[importRelations]], [[restore]]), `::rename`, and a transaction
    * abort that restores it. Every index artifact caches against the
    * version of ITS OWN relation, so a write to one relation never
    * rebuilds or reloads another relation's index. A probe after a put
    * sees the new rows (the reference updates indexes inside the
    * mutating tx, stored.rs:322-328): the mutation patches the cached
    * artifact, or the next probe rebuilds it. */
  private val versionCounter = new java.util.concurrent.atomic.AtomicLong(0)
  private def versionOf(rel: String): Long = records.get(rel).fold(0L)(_.version)
  private def bumpVersion(rel: String): Long = {
    val v = versionCounter.incrementAndGet()
    records.get(rel).foreach(r => records(rel) = r.copy(version = v))
    v
  }
  /** Guards the probe-time get-or-build of the artifact cache: cache
    * fills happen under the SHARED read lock (concurrent readers), so
    * they need their own monitor; mutation-path refreshes run under
    * the exclusive write lock and take this monitor too for the same
    * happens-before edge. */
  private val indexCacheLock = new Object
  /** The artifact of every index target that has one, stamped with the
    * relation version it was built for. An FTS or walkable HNSW index
    * whose estimated heap footprint is at most [[driverIndexGateBytes]]
    * (a [[graft.plan.Knee.gate]] decision per build, logged as
    * `op=fts_index|hnsw_index`) is held on the driver: FTS as
    * [[graft.search.DriverFts]] maps, HNSW as the same 32 hash-bucket
    * graphs the distributed build writes ([[graft.similarity.HnswBuckets]]).
    * A probe then walks driver memory — no Spark job for the index
    * side — and a mutation patches the index in place from the changed
    * rows. Larger indexes are distributed: FTS postings, LSH band tables
    * (minhash signatures are pure per-document state) and persisted
    * HNSW graphs, restored once per version for probes to walk. Both
    * branches return the same results (DriverIndexSpec). */
  private val indexArtifacts = mutable.HashMap.empty[String, (Long, IndexArtifact)]
  /** The driver-index byte gate: 1/16 of the driver heap. Tests set a
    * negative value to pin the distributed branch. */
  private[lang] var driverIndexGateBytes: Long = Runtime.getRuntime.maxMemory / 16

  /** The artifact of `target` if it was built for version `ver`. */
  private def cachedAt(target: String, ver: Long): Option[IndexArtifact] =
    indexArtifacts.get(target).collect { case (v, a) if v == ver => a }

  /** Targets holding any cached artifact, and the persisted HNSW graph
    * directories (test hooks for cache cleanup). */
  private[lang] def cachedIndexTargets: Set[String] =
    indexCacheLock.synchronized(indexArtifacts.keySet.toSet)
  private[lang] def indexArtifactDirs: Seq[String] = indexCacheLock.synchronized(
    indexArtifacts.values.collect { case (_, DistHnsw(dir, _)) => dir }.toSeq)

  /** Drop the cached artifact of one index, with the executor-cached
    * graphs and the graph directory of a distributed HNSW index. */
  private def dropIndexCaches(target: String): Unit = indexCacheLock.synchronized {
    indexArtifacts.remove(target).foreach {
      case (_, DistHnsw(dir, loaded)) =>
        loaded.foreach(_.unpersist(blocking = false))
        scala.util.Try(org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir)))
      case _ => ()
    }
  }

  /** Drop the cached artifacts of every index over `rel`, including
    * indexes whose definition is already gone. */
  private def dropRelationIndexCaches(rel: String): Unit =
    cachedIndexTargets.filter(_.takeWhile(_ != ':') == rel).foreach(dropIndexCaches) // rel:name

  /** The restored graphs of a distributed walk-eligible index, kept in
    * its artifact until a patch or a rebuild replaces it. */
  private def hnswLoadedGraphs(target: String, dir: String)
      : org.apache.spark.rdd.RDD[graft.similarity.HnswIndex] = indexCacheLock.synchronized {
    indexArtifacts.get(target) match {
      case Some((_, DistHnsw(_, Some(rdd)))) => rdd
      case entry =>
        val rdd = graft.similarity.Ann.hnswLoadIndex(spark, dir)
        entry.foreach { case (ver, _) => indexArtifacts(target) = (ver, DistHnsw(dir, Some(rdd))) }
        indexGraphLoads += 1
        rdd
    }
  }

  /** Distance names the partition-local graph walk supports
    * (hnsw.rs:66-108 metric set), mapped to HnswIndex metric ids. */
  private def hnswWalkMetric(distance: String): Option[String] =
    distance.toLowerCase match {
      case "cosine" => Some("cosine")
      case "l2" => Some("l2")
      case "ip" | "innerproduct" => Some("ip")
      case _ => None
    }

  /** Index-level walk eligibility of a vector index (probe-level parts
    * — per-probe filter/radius — are checked at the probe). Multi-field
    * indexes walk too: one graph node per (key, field), best-field
    * collapse at the merge (the reference's graph likewise holds one
    * entry per indexed vector, hnsw.rs). */
  private def hnswIndexEligible(v: VecIdx): Boolean =
    v.m.isDefined && v.fields.nonEmpty &&
      hnswWalkMetric(v.distance).isDefined &&
      v.fields.forall(f => relation(v.rel).columns.contains(f) &&
        !isListVecField(v.rel, f)) &&
      keyTypeIntegral(v.rel)

  /** A `fields:` entry holding a LIST of vectors (array<array<float>>;
    * hnsw.rs:699-705 indexes each element under its sub-index). List
    * fields probe through the exact scan — the element count is
    * data-dependent, so they don't fit the fixed gid encoding of the
    * persisted graphs. */
  private def isListVecField(rel: String, f: String): Boolean =
    relation(rel).schema(f).dataType match {
      case ArrayType(ArrayType(_, _), _) => true
      case _ => false
    }

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

  /** The index-admitted rows of a vector index (the create-time
    * admission filter is param-free by construction). */
  private def hnswAdmitted(v: VecIdx): DataFrame =
    v.filter.fold(relation(v.rel))(e =>
      relation(v.rel).filter(compiler(_ => None, Map.empty).compileExpr(e)))

  /** (m, ef_construction) as the graph builds use them: the reference
    * accepts ef_construction < m; HnswIndex needs a beam at least m
    * wide. */
  private def hnswBuildParams(v: VecIdx): (Int, Int) = {
    val mEff = math.max(v.m.get, 2)
    (mEff, math.max(v.efConstruction.getOrElse(mEff * 6), mEff))
  }

  /** The graphs of a walk-eligible vector index at its relation's
    * current version, built on first use: driver-resident when the
    * corpus fits the byte gate, else persisted partition-local graphs
    * (a directory of [[graft.similarity.Ann.hnswWriteIndex]] artifacts).
    * Shared by probes and the index-internals graph scan. */
  private def hnswIndexOf(target: String, v: VecIdx)
      : Either[graft.similarity.HnswBuckets, String] = indexCacheLock.synchronized {
    val ver = versionOf(v.rel)
    cachedAt(target, ver) match {
      case Some(DriverHnsw(b)) => Left(b)
      case Some(DistHnsw(d, _)) => Right(d)
      case _ =>
        // reclaim the superseded version's artifacts before rebuilding
        // (long sessions with many mutations would otherwise
        // accumulate dead graph dirs)
        dropIndexCaches(target)
        val corpus = hnswCorpus(v, hnswAdmitted(v), keyColOf(v.rel))
        val (mEff, efcEff) = hnswBuildParams(v)
        val metric = hnswWalkMetric(v.distance).get
        indexFullBuilds += 1
        val st = corpus.agg(count(lit(1)), sum(size(col("vec")))).head()
        val bytes = graft.similarity.HnswBuckets.estimateBytes(
          st.getLong(0), if (st.isNullAt(1)) 0L else st.getLong(1), mEff)
        if (graft.plan.Knee.gate("hnsw_index", bytes, driverIndexGateBytes)) {
          val b = graft.similarity.HnswBuckets.build(
            corpus.filter(col("vec").isNotNull).collect().toSeq
              .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)),
            mEff, efcEff, metric = metric,
            extendCandidates = v.extendCandidates, keepPruned = v.keepPruned)
          indexArtifacts(target) = (ver, DriverHnsw(b))
          indexDriverBuilds += 1
          Left(b)
        } else {
          val d = java.nio.file.Files.createTempDirectory("graft_hnsw").toString
          graft.similarity.Ann.hnswWriteIndex(d, corpus, mEff, efcEff, metric = metric,
            extendCandidates = v.extendCandidates, keepPruned = v.keepPruned)
          indexArtifacts(target) = (ver, DistHnsw(d, None))
          Right(d)
        }
    }
  }

  /** The graph node ids a set of changed KEYS touches: one per field. */
  private def hnswChangedGids(v: VecIdx, changedIds: DataFrame, key: String): DataFrame = {
    val n = v.fields.length
    v.fields.indices.map(i => changedIds
      .select((col(key).cast("long") * n + lit(i.toLong)).as("id")))
      .reduce(_ unionByName _)
  }

  /** Graph node ids derive from THE key column, so the walk needs a
    * relation keyed by exactly one integral column — a composite key's
    * first column is not unique and two rows would share a node id
    * (same corruption class as duplicate multi-field ids). Composite
    * keys fall back to the exact scan. */
  private def keyTypeIntegral(rel: String): Boolean =
    singleKey(rel) &&
      (relation(rel).schema(keyColOf(rel)).dataType match {
        case org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.ShortType => true
        case _ => false
      })

  private def keyColOf(rel: String): String = stored(rel).keys.head

  /** find_optimal_params (minhash_lsh.rs:259-289, itself adapted from
    * the MIT-licensed rust-minhash): choose (bands, rows) with
    * b·r ≤ nPerm minimizing the weighted false-positive +
    * false-negative probability, each the integral of the banding
    * S-curve 1 − (1 − s^r)^b below/above the threshold (Simpson's
    * rule; the reference integrates to 1e-3). */
  private def lshParamsFor(t: Double, nPerm: Int,
                           wFp: Double, wFn: Double): (Int, Int) = {
    def integrate(f: Double => Double, a: Double, c: Double): Double =
      if (c <= a) 0.0
      else {
        val n = 512
        val h = (c - a) / n
        var s = f(a) + f(c)
        var i = 1
        while (i < n) { s += f(a + i * h) * (if (i % 2 == 1) 4 else 2); i += 1 }
        s * h / 3
      }
    var best = (1, 1)
    var bestErr = Double.MaxValue
    var b = 1
    while (b <= nPerm) {
      var r = 1
      while (r <= nPerm / b) {
        def curve(s: Double) = 1.0 - math.pow(1.0 - math.pow(s, r), b)
        val err = wFp * integrate(curve, 0.0, t) +
          wFn * integrate(s => 1.0 - curve(s), t, 1.0)
        if (err < bestErr) { bestErr = err; best = (b, r) }
        r += 1
      }
      b += 1
    }
    best
  }

  /** The FTS index of `target` at its relation's current version, built
    * on first use: driver-resident ([[graft.search.DriverFts]]) when the
    * relation has a single key column and the index fits the byte gate
    * (estimated from the extractor text length, one scan), else the
    * distributed postings/lens frames. */
  private def ftsIndex(target: String, spec: FtsIdx)
      : Either[graft.search.DriverFts, graft.search.Fts.Index] = indexCacheLock.synchronized {
    val ver = versionOf(spec.rel)
    cachedAt(target, ver) match {
      case Some(DriverFts(d)) => Left(d)
      case Some(DistFts(ix, _)) => Right(ix)
      case _ =>
        dropIndexCaches(target)
        val key = keyColOf(spec.rel)
        val docs = extractFiltered(relation(spec.rel), spec.extractor, spec.extractFilter)
        indexFullBuilds += 1
        val driver = singleKey(spec.rel) && {
          val st = docs.agg(count(lit(1)), sum(length(col(spec.extractor)))).head()
          val chars = if (st.isNullAt(1)) 0L else st.getLong(1)
          graft.plan.Knee.gate("fts_index", graft.search.DriverFts.estimateBytes(
            st.getLong(0), graft.search.DriverFts.tokenBound(chars, spec.pipe)),
            driverIndexGateBytes)
        }
        if (driver) {
          val d = graft.search.DriverFts.empty(spec.pipe).patch(Nil,
            graft.search.DriverFts.tokenRows(graft.search.DriverFts.docTokens(
              docs, key, spec.extractor, spec.pipe).collect().toSeq))
          indexArtifacts(target) = (ver, DriverFts(d))
          indexDriverBuilds += 1
          Left(d)
        } else {
          val ix = graft.search.Fts.Index.build(docs, key, spec.extractor, spec.pipe)
          indexArtifacts(target) = (ver, DistFts(ix, 0))
          Right(ix)
        }
    }
  }

  /** The relation is keyed by exactly one column, so its key column
    * identifies a row (the driver indexes map key → document). */
  private def singleKey(rel: String): Boolean = stored(rel).keys.lengthIs == 1

  /** extract_filter semantics (parse/sys.rs:374-382): rows failing
    * the condition get a NULL extractor value — no tokens, no
    * shingles, absent from the index. */
  private def extractFiltered(docs: DataFrame, extractor: String,
                              ef: Option[Expr]): DataFrame =
    ef.fold(docs)(e => docs.withColumn(extractor,
      when(compiler(_ => None, Map.empty).compileExpr(e), col(extractor))))

  /** A document's LSH shingles: TOKEN n-grams through the index's
    * tokenizer pipeline (unique_ngrams, tokenizer_impl.rs:105-123). */
  private def lshDocShingles(l: LshIdx): Column =
    graft.search.Fts.lshShingles(col(l.extractor), l.pipe, l.nGram)

  /** The per-document (key, band) table of an LSH index. Shingles and
    * signature are STAGED as columns: lshBandKeys inlines its input once
    * per band, and inlining the tokenizer pipeline tree that many times
    * would blow up Catalyst analysis. minhashSignature is one kernel
    * pass over the staged shingles (each hashed once, not once per
    * permutation). */
  private def lshBandsOf(docs: DataFrame, key: String, l: LshIdx): DataFrame = {
    import graft.functions.{TextFunctions => TF}
    val nPerm = l.bands * l.rowsPerBand
    extractFiltered(docs, l.extractor, l.extractFilter)
      .select(col(key), lshDocShingles(l).as("__sh"))
      .select(col(key), TF.minhashSignature(col("__sh"), nPerm).as("__sig"))
      .select(col(key), explode(TF.lshBandKeys(col("__sig"),
        l.bands, l.rowsPerBand)).as("band"))
  }

  private def lshBandTable(target: String, l: LshIdx): DataFrame = indexCacheLock.synchronized {
    val ver = versionOf(l.rel)
    cachedAt(target, ver) match {
      case Some(LshBands(df, _)) => df
      case _ =>
        val df = lshBandsOf(relation(l.rel), keyColOf(l.rel), l).ckptLazy()
        indexArtifacts(target) = (ver, LshBands(df, 0))
        indexFullBuilds += 1 // shared observability counter for tests
        df
    }
  }

  /** `*rel:idx{...}` — scan the index's own relation (the reference
    * exposes index internals as scannable relations). */
  private def indexInternals(target: String, spec: IndexSpec): DataFrame = spec match {
    case f: FtsIdx =>
      // the reference's scannable FTS surface (relation.rs
      // create_fts_index): keys (word, src_<key>), values
      // (offset_from, offset_to, position, total_length). Character
      // offsets are stored by the reference for result highlighting;
      // our pipeline is offset-free column tokenization, so the two
      // offset lists scan as NULL (documented divergence) — position
      // lists and per-document token totals are exact. `tf` is an
      // extra column beyond the reference (BM25's term frequency).
      val key = keyColOf(f.rel)
      val ix = ftsIndex(target, f)
        .fold(_.toIndex(spark, relation(f.rel).schema(key).dataType), identity)
      ix.postings.join(ix.lens, Seq("id"))
        .select(col("term").as("word"), col("id").as(s"src_$key"),
          lit(null).cast("array<bigint>").as("offset_from"),
          lit(null).cast("array<bigint>").as("offset_to"),
          col("positions").as("position"),
          col("dl").cast("long").as("total_length"),
          col("tf"))
    case l: LshIdx =>
      // the reference's scannable LSH surface (relation.rs:761-776):
      // (hash: Bytes, src_<key>) — one row per band bucket per source
      // row. Our band keys are 8-byte xxhash64 values, surfaced as
      // their big-endian bytes.
      val key = keyColOf(l.rel)
      lshBandsOf(relation(l.rel), key, l)
        .select(unhex(lpad(hex(col("band")), 16, "0")).as("hash"),
          col(key).as(s"src_$key"))
    case v: VecIdx if hnswIndexEligible(v) =>
      // the reference's scannable HNSW surface (runtime/relation.rs:
      // 1063-1131): the proximity graph itself — layer (0 = bottom,
      // NEGATIVE going up), fr_<key>/to_<key> + __field/__sub_idx,
      // dist, hash, ignore_link; one self-loop row (fr = to, dist 0)
      // per node per occupied layer (hnsw.rs:763-781 scans them per
      // layer on removal). Our partition-local graphs (driver-resident
      // or persisted by Ann.hnswWriteIndex) provide the rows: node id decodes to
      // (key, field) and __sub_idx is always 0 (list-of-vector fields
      // are not walk-eligible). hash is the reference's
      // conflict-detection vector hash — internal, emitted as NULL.
      import org.apache.spark.sql.functions.{explode, sequence}
      val nF = v.fields.length
      val key = keyColOf(v.rel)
      val rows = hnswIndexOf(target, v) match {
        case Left(b) => spark.createDataFrame(b.rows.map { case (p, id, vec, lvl, ns, el) =>
            Row(p, id, vec, lvl, ns, el)
          }.toSeq.asJava, graft.similarity.Ann.graphSchema)
        case Right(dir) => spark.read.schema(graft.similarity.Ann.graphSchema)
          .parquet(s"$dir/graph")
      }
      // gid = key*nF + f: (gid - pmod) is an exact multiple of nF, so
      // integral `div` recovers the key bit-exactly for any sign
      def decodeKey(c: String) = expr(s"($c - pmod($c, $nF)) div $nF")
      // __field is the field's base-relation COLUMN position
      // (relation.rs fr__field stores the tuple index, not the index
      // into the manifest's field list)
      val fieldPos = v.fields.map(f => relation(v.rel).columns.indexOf(f).toLong)
      def decodeField(c: String) =
        element_at(array(fieldPos.map(lit): _*), (pmod(col(c), lit(nF.toLong)) + 1).cast("int"))
      val nodes = rows.filter(col("nbrs").isNull)
        .select(col("id"), col("vec"), col("level"))
      val selfRows = nodes
        .select(explode(sequence(lit(0L), -col("level").cast("long"), lit(-1L))).as("layer"),
          col("id").as("__fr"), col("id").as("__to"), lit(0.0).as("dist"))
      /** same-convention distance as the probe kernels, computed on the
        * stored metric-prepared vectors (cosine vectors are normalized
        * at insert, so the dot IS the cosine; l2/ip store raw). */
      def linkDist(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) = {
        import graft.functions.{VectorFunctions => VF}
        v.distance.toLowerCase match {
          case "cosine" => VF.cosineDistance(a, b)
          case "ip" | "innerproduct" => VF.ipDist(a, b)
          case _ => VF.l2Dist(a, b)
        }
      }
      val linkRows = rows.filter(col("nbrs").isNotNull)
        .select((-col("edge_level")).cast("long").as("layer"),
          col("id").as("__fr"), explode(col("nbrs")).as("__to"))
        .join(nodes.select(col("id").as("__fr"), col("vec").as("__fv")), Seq("__fr"))
        .join(nodes.select(col("id").as("__to"), col("vec").as("__tv")), Seq("__to"))
        .select(col("layer"), col("__fr"), col("__to"),
          linkDist(col("__fv"), col("__tv")).cast("double").as("dist"))
      // plain vector fields carry sub_idx -1 (hnsw.rs:698 — list
      // elements would carry their position, but list fields are not
      // walk-eligible so no graph rows exist for them)
      selfRows.unionByName(linkRows)
        .select(col("layer"),
          decodeKey("__fr").as(s"fr_$key"),
          decodeField("__fr").as("fr__field"), lit(-1L).as("fr__sub_idx"),
          decodeKey("__to").as(s"to_$key"),
          decodeField("__to").as("to__field"), lit(-1L).as("to__sub_idx"),
          col("dist"), lit(null).cast("binary").as("hash"),
          lit(false).as("ignore_link"))
    case v: VecIdx =>
      // non-walkable vector index (no m:, non-integral key, …): no
      // graph exists, so the scannable surface is the flat admitted
      // set (key, vectors) — a semantic subset of the reference's
      hnswAdmitted(v).select(col(keyColOf(v.rel)) +: v.fields.map(col): _*)
    case p: PlainIdx =>
      // the reference's covering index stores the named columns plus the
      // REMAINING KEY columns only (runtime/relation.rs:1232) — enough
      // to locate the base row, nothing more
      val keys = stored(p.rel).keys
      relation(p.rel).select((p.cols ++ keys.filterNot(p.cols.contains)).map(col): _*)
  }

  /** choose_index (runtime/relation.rs:196-246): a named-field stored
    * scan whose bound columns miss the base key prefix but hit a plain
    * index's first column resolves through that index — the index scan
    * (prefix-bound, partition-prunable at scale) joined back to the
    * base relation on the full key recovers the remaining columns with
    * the base schema. Chosen names are recorded for `::explain`. */
  private[lang] val chosenIndexes = mutable.Buffer.empty[String]
  private def chooseIndex(rel: String, bound: Set[String]): Option[DataFrame] =
    records.get(rel).filter(r => bound.nonEmpty &&
      !r.keys.headOption.exists(bound.contains)).flatMap { r => // else the base prefix scan wins
      val (base, keys) = (r.view, r.keys)
      r.indexes.collectFirst {
        case (iname, (p: PlainIdx, _)) if p.cols.headOption.exists(bound.contains) =>
          chosenIndexes += iname
          val idx = indexInternals(iname, p)
          val covered = idx.columns.toSeq
          if (base.columns.forall(covered.contains))
            idx.select(base.columns.map(col).toIndexedSeq: _*)
          else {
            val rest = base.columns.filterNot(covered.contains)
            idx.join(base.select((keys ++ rest).distinct.map(col): _*), keys)
              .select(base.columns.map(col).toIndexedSeq: _*)
          }
      }
    }

  /** A DataFrame over driver rows (a local relation). */
  private def localFrame(rows: Seq[Row], fields: StructField*): DataFrame =
    spark.createDataFrame(rows.asJava, StructType(fields))

  /** `~rel:idx{cols | query: …, k: …, bind_…: var}` probes
    * (search_apply; HnswSearchRA/FtsSearchRA/LshSearchRA,
    * query/ra.rs:896-1066). The probe is a top-k search joined back to
    * the base relation for the requested binding columns. */
  private def searchProbe(target: String, pairs: Seq[(String, String)],
                          opts: Map[String, Expr],
                          params: Map[String, Any],
                          frame: Option[DataFrame] = None): DataFrame = {
    import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
    val spec = indexSpec(target).getOrElse(
      throw CompileException(s"no search index $target (::fts/::lsh/::hnsw create first)"))
    val base = relation(spec.rel)
    val key = keyColOf(spec.rel)
    // the reference rejects leftover probe parameters (program.rs
    // "Extra parameters for ..."/"Unexpected parameters for HNSW") —
    // a typo'd bind_ or option must not be silently ignored.
    // bind_similarity/bind_score are documented extensions.
    val allowedOpts: Set[String] = spec match {
      case _: FtsIdx => Set("query", "k", "filter", "score_kind", "bind_score")
      case _: LshIdx => Set("query", "k", "filter", "bind_similarity")
      case _: VecIdx => Set("query", "k", "ef", "radius", "filter",
        "bind_field", "bind_field_idx", "bind_distance", "bind_vector")
      case _ => Set.empty
    }
    val extraOpts = opts.keySet -- allowedOpts
    if (extraOpts.nonEmpty) throw CompileException(
      s"Unexpected parameters for $target: ${extraOpts.toSeq.sorted.mkString(", ")}")
    def optConst(k: String): Option[Any] = opts.get(k).map(evalConst(_, params))
    def bindVar(name: String): Option[String] = opts.get(name).collect { case V(n) => n }
    // `k` is REQUIRED for FTS/HNSW probes (program.rs:1269-1281,
    // 1432-1444 — both raise the same HNSW-flavored message) and
    // OPTIONAL for LSH (program.rs:1135-1150: no k = no cut)
    val kOpt: Option[Int] = optConst("k").map {
      case n: Long if n > 0 => n.toInt
      case _ => throw CompileException("Expected positive integer for `k`")
    }
    def k: Int = kOpt.getOrElse(
      throw CompileException("Field `k` is required for HNSW search"))
    def select(df: DataFrame, extra: Option[(String, org.apache.spark.sql.Column)]): DataFrame =
      df.select(pairs.map { case (c, v) => col(c).as(v) } ++
        extra.map { case (v, c) => c.as(v) }: _*)
    def queryString: String = optConst("query") match {
      case Some(s: String) => s
      // the reference coerces a List query by OR-joining its string
      // parts and errors on non-strings (ra.rs:1028-1046 FtsSearchRA)
      case Some(items: Seq[_]) =>
        items.map {
          case s: String => s
          case d => throw CompileException(s"Expected string for FTS search, got $d")
        }.mkString(" OR ")
      case other => throw CompileException(s"$target probe needs a string query:, got $other")
    }
    // per-probe `filter:` on FTS/LSH probes (FtsSearchRA/LshSearchRA
    // compile a candidate filter over the bound columns,
    // ra.rs fill_binding_indices_and_compile; applied per candidate
    // BEFORE k results accumulate) — evaluated over the base columns
    // after the join, before the top-k cut
    def probeFilter(df: DataFrame): DataFrame =
      opts.get("filter").fold(df)(e =>
        df.filter(compiler(_ => None, params).compileExpr(e)))
    spec match {
      case f: FtsIdx =>
        val handle = ftsIndex(target, f)
        // `score_kind:` (program.rs:1283-1297): 'tf_idf' (default) and
        // 'tf' are the reference's scorers (fts/indexing.rs:231-247 —
        // its BM25 was never implemented, k1/b are commented out);
        // 'bm25' reaches our beyond-reference BM25 engine
        val scoreKind = optConst("score_kind").map(_.toString).getOrElse("tf_idf")
        if (!Seq("tf_idf", "tf", "bm25").contains(scoreKind))
          throw CompileException(s"unknown FTS score_kind: $scoreKind")
        val keyField = base.schema(key)
        opts.get("query") match {
          // left-stream-driven probe (FtsSearchRA resolves query: per
          // left tuple, ra.rs:628-700): one BM25 top-k per DISTINCT
          // bound query string — flat term queries share one
          // relational plan (Fts.searchMany)
          case Some(V(n)) if frame.exists(_.columns.contains(n)) =>
            import spark.implicits._
            val raw = frame.get.select(col(n).as("__q0")).distinct()
            // the reference accepts a List query: string parts joined
            // by " OR " (ra.rs:1028-1046 FtsSearchRA query coercion)
            val isArr = raw.schema.head.dataType.isInstanceOf[ArrayType]
            val qdf = raw.withColumn("__q",
              if (isArr) array_join(col("__q0"), " OR ") else col("__q0").cast("string"))
            val qs = qdf.select("__q").as[String].collect().toSeq
            // a filter cuts candidates BEFORE k results accumulate, so
            // the per-query cut must happen after it
            val kEff = if (opts.contains("filter")) Int.MaxValue else k
            val res = (handle match {
              case Left(d) =>
                indexDriverProbes += 1
                localFrame(d.searchMany(qs, kEff, scoreKind = scoreKind)
                  .map { case (q, id, sc) => Row(q, id, sc) },
                  StructField("query", StringType), keyField.copy(name = "id"),
                  StructField("score", DoubleType))
              case Right(ix) => graft.search.Fts.searchMany(ix, qs, kEff, scoreKind = scoreKind)
            }).select(col("query").as("__q"), col("id").as(key), col("score"))
            val top = graft.operators.TopK.perGroup(
              probeFilter(qdf.join(res, Seq("__q")).join(base, Seq(key))),
              Seq("__q"), Seq(col("score").desc, col(key).asc), k)
            top.select((col("__q0").as(n) +: (pairs.map { case (c, vr) => col(c).as(vr) } ++
              bindVar("bind_score").map(b => col("score").as(b)))): _*)
          case _ =>
            val ast = graft.search.Fts.parseQueryOpt(queryString)
            val hits = handle match {
              case Left(d) =>
                indexDriverProbes += 1
                val all = ast.fold(collection.Map.empty[Any, Double])(q =>
                  if (scoreKind == "bm25") d.search(q) else d.searchRef(q, scoreKind))
                // without a filter only the k best can survive the cut
                val kept = if (opts.contains("filter")) all.toSeq
                           else graft.search.DriverFts.topWithTies(all, k)
                localFrame(kept.map { case (id, sc) => Row(id, sc) },
                  keyField.copy(name = "id"), StructField("score", DoubleType))
              case Right(ix) => ast match {
                case None => ix.lens.limit(0).select(col("id"), lit(0.0).as("score"))
                case Some(q) if scoreKind == "bm25" => graft.search.Fts.search(ix, q)
                case Some(q) => graft.search.Fts.searchRef(ix, q, scoreKind)
              }
            }
            // a driver hit list is already exactly the indexed rows, so
            // a probe binding only the key needs no base scan
            val joined =
              if (handle.isLeft && !opts.contains("filter") && pairs.forall(_._1 == key))
                hits.withColumnRenamed("id", key)
              else probeFilter(base.join(hits.withColumnRenamed("id", key), Seq(key)))
            val scored = joined.orderBy(col("score").desc, col(key).asc).limit(k)
            select(scored, bindVar("bind_score").map(_ -> col("score")))
        }
      case l: LshIdx =>
        val nPerm = l.bands * l.rowsPerBand
        opts.get("query") match {
          // left-stream-driven probe (LshSearchRA, same stream
          // semantics): bands for EVERY distinct bound query computed
          // column-side, candidates via one band equi-join, exact
          // Jaccard verify per (query, candidate) — fully relational,
          // no per-query plans at all
          case Some(V(n)) if frame.exists(_.columns.contains(n)) =>
            // the bound value may be a STRING (tokenized to n-grams),
            // a LIST (its elements ARE the shingles), or NULL (no
            // results for that tuple) — minhash_lsh.rs:147-158
            val qdf = frame.get.select(col(n).as("__q")).distinct()
              .filter(col("__q").isNotNull)
            val isArr = qdf.schema.head.dataType.isInstanceOf[ArrayType]
            def qSh = if (isArr) col("__q").cast("array<string>")
                      else graft.search.Fts.lshShingles(col("__q"), l.pipe, l.nGram)
            // stage shingles/signature (see lshBandsOf: tree size)
            val qBands = qdf.select(col("__q"), qSh.as("__qsh"))
              .select(col("__q"),
                TF.minhashSignature(col("__qsh"), nPerm).as("__sig"))
              .select(col("__q"), explode(TF.lshBandKeys(col("__sig"),
                l.bands, l.rowsPerBand)).as("band"))
            val candidates = lshBandTable(target, l).join(qBands, Seq("band"))
              .select(col("__q"), col(key)).distinct()
            val scored = base.join(candidates, Seq(key))
              .withColumn("__sim", TF.jaccard(lshDocShingles(l), qSh))
            val top = graft.operators.TopK.perGroup(probeFilter(scored), Seq("__q"),
              Seq(col("__sim").desc, col(key).asc), kOpt.getOrElse(Int.MaxValue))
            top.select((col("__q").as(n) +: (pairs.map { case (c, vr) => col(c).as(vr) } ++
              bindVar("bind_similarity").map(b => col("__sim").as(b)))): _*)
          case _ =>
            // string query → token n-grams through the index pipeline
            // (unique_ngrams); list query → the elements ARE the
            // shingles; null → empty (minhash_lsh.rs:147-158)
            val qShingles: Seq[String] = optConst("query") match {
              case Some(s: String) => graft.search.Fts.lshShinglesStr(s, l.pipe, l.nGram)
              case Some(items: Seq[_]) => items.map(String.valueOf)
              case None | Some(null) => Seq.empty
              case Some(other) => throw CompileException(
                s"Cannot search for value $other in a LSH index")
            }
            if (qShingles.isEmpty)
              select(base.limit(0).withColumn("__sim", lit(0.0)),
                bindVar("bind_similarity").map(_ -> col("__sim")))
            else {
              val qArr = array(qShingles.map(lit): _*)
              val qBands = spark.range(1)
                .select(TF.minhashSignature(qArr, nPerm).as("__sig"))
                .select(explode(TF.lshBandKeys(col("__sig"),
                  l.bands, l.rowsPerBand)).as("band"))
              val candidates = lshBandTable(target, l).join(broadcast(qBands), Seq("band"))
                .select(key).distinct()
              // exact-similarity verify on the candidate set only
              // (linear) — our deterministic refinement of the
              // reference's storage-order early-stop
              val ordered = probeFilter(base.join(candidates, Seq(key))
                .withColumn("__sim", TF.jaccard(lshDocShingles(l), qArr)))
                .orderBy(col("__sim").desc, col(key).asc)
              // k is OPTIONAL for LSH probes: absent = no cut
              val scored = kOpt.fold(ordered)(ordered.limit)
              select(scored, bindVar("bind_similarity").map(_ -> col("__sim")))
            }
        }
      case v: VecIdx =>
        // several indexed fields → a row matches through its closest
        // one; a LIST-of-vectors field indexes each ELEMENT under its
        // sub-index (hnsw.rs:694-705 extracted_vectors; plain fields
        // carry sub_idx −1)
        def elemDist(x: Column, q: Column) =
          v.distance.toLowerCase match {
            case "cosine" => VF.cosineDistance(x, q)
            case "ip" | "innerproduct" => VF.ipDist(x, q)
            case _ => VF.l2Dist(x, q)
          }
        /** Per-row best match across fields and list elements:
          * struct(d, fi = position among the index's fields, s =
          * sub-index, name, v). Ties break by field declaration order
          * then sub-index (the reference's extraction order). NULL when
          * the row holds no vector at all — such rows are not indexed
          * (hnsw.rs:707-709) and drop out of exact scans too. */
        def bestTo(q: Column): Column = {
          val parts = v.fields.zipWithIndex.map { case (f, fi) =>
            if (!isListVecField(v.rel, f)) {
              val x = col(f).cast("array<float>")
              when(x.isNotNull, struct(elemDist(x, q).as("d"), lit(fi).as("fi"),
                lit(-1L).as("s"), lit(f).as("name"), x.as("v")))
            } else {
              val elems = transform(col(f).cast("array<array<float>>"),
                (x, i) => struct(elemDist(x, q).as("d"), lit(fi).as("fi"),
                  i.cast("long").as("s"), lit(f).as("name"), x.as("v")))
              try_element_at(array_sort(elems), lit(1)) // null for empty/null lists
            }
          }
          if (parts.length == 1) parts.head else least(parts: _*)
        }
        def distTo(q: Column) = bestTo(q).getField("d")
        /** hnsw.rs:958-996 output order: the matched field's name
          * (bind_field), its sub-index or null for a plain field
          * (bind_field_idx), the distance (bind_distance), the matched
          * VECTOR (bind_vector — for a list field, the element). */
        def extraBinds(best: Column, dist: Column): Seq[Column] =
          bindVar("bind_field").map(b => best.getField("name").as(b)).toSeq ++
            bindVar("bind_field_idx").map(b =>
              when(best.getField("s") < 0, lit(null).cast("long"))
                .otherwise(best.getField("s")).as(b)) ++
            bindVar("bind_distance").map(b => dist.as(b)) ++
            bindVar("bind_vector").map(b => best.getField("v").as(b))
        val exprC = compiler(_ => None, params)
        // index-admission filter (::hnsw create ... filter:) then
        // per-probe filter: (parse/sys.rs:77-91; ra.rs hnsw opts)
        val admitted = v.filter.fold(base)(e => base.filter(exprC.compileExpr(e)))
        def probeOpts(df: DataFrame): DataFrame = {
          val filtered = opts.get("filter").fold(df)(e => df.filter(exprC.compileExpr(e)))
          optConst("radius").collect { case d: Double => d; case l: Long => l.toDouble }
            .fold(filtered)(r => filtered.filter(col("__dist") <= r))
        }
        // `m:` on `::hnsw create` (parse/sys.rs:611) opts into the REAL
        // partition-local graph walk (HnswBuckets.probe on the driver or
        // Ann.hnswProbeLoaded — the HnswSearchRA mechanism): integral key,
        // no per-probe filter/radius (those compose with the exact
        // scan, which remains the default and is a semantic superset of
        // any walk). Applies to constant-vector probes AND left-stream-
        // driven bound-variable probes (ra.rs:1068-1122) — a probe
        // stream must never crossJoin the corpus.
        // all three reference metrics walk (hnsw.rs:66-108): cosine and
        // ip as dot-product scores, l2 as negative squared distance
        val walkMetric: Option[String] = hnswWalkMetric(v.distance)
        val graphEligible = hnswIndexEligible(v) &&
          opts.get("filter").isEmpty && optConst("radius").isEmpty
        /** walker score (higher = closer) → this index's distance:
          * cosine/ip = 1 - score, l2 = -score (squared L2, the same
          * convention as the exact scan's l2_dist kernel). */
        def walkDist(score: org.apache.spark.sql.Column) =
          if (walkMetric.contains("l2")) -score else lit(1.0) - score
        // probe-time `ef:` is the reference's required search-width
        // parameter (program.rs:1446-1459); the exact scan doesn't need
        // it (always exhaustive), the graph walk honors it
        val efS = math.max(
          optConst("ef").collect { case n: Long => n.toInt }
            .getOrElse(math.max(k * 4, 64)), k + 1)
        /** Driver walk results as the (query_id, id, score) frame
          * [[graft.similarity.Ann.hnswProbeLoaded]] returns. */
        def walkedFrame(hits: Seq[(Long, Long, Double)]): DataFrame =
          localFrame(hits.map { case (q, id, sc) => Row(q, id, sc) },
            StructField("query_id", LongType), StructField("id", LongType),
            StructField("score", DoubleType))
        /** Walk hits (`__hid`, `__dist`, …) with the matched rows'
          * columns and `__best` against `q`. A driver index is current
          * by construction, so when the probe binds nothing beyond the
          * key and the distance the key is just the decoded hit id —
          * no base scan. */
        def withWalkedRows(top: DataFrame, q: Column, driver: Boolean): DataFrame =
          if (driver && pairs.forall(_._1 == key) &&
              Seq("bind_field", "bind_field_idx", "bind_vector").forall(bindVar(_).isEmpty))
            top.withColumn(key, col("__hid").cast(base.schema(key).dataType))
              .withColumn("__best", lit(null))
          else
            top.join(admitted, col("__hid") === admitted(key).cast("long"))
              .withColumn("__best", bestTo(q))
        opts.get("query") match {
          // left-stream-driven probe: one top-k per distinct bound
          // query vector (HnswSearchRA, ra.rs:1068-1122)
          case Some(V(n)) if frame.exists(_.columns.contains(n)) =>
            // fresh name: the query var may share its name with a base
            // column (commonly the vector field itself)
            val queries = frame.get.select(col(n).as("__qvec")).distinct()
            if (graphEligible) {
              // broadcast the distinct query batch, walk each
              // partition-local graph, merge a global top-k per query —
              // the corpus never shuffles and never crossJoins the
              // probe stream. Synthetic query ids start at
              // Long.MinValue, far outside any plausible key domain, so
              // the walker's self-exclusion (id != query_id) never
              // suppresses a legitimate match and a probe can still
              // return its own stored row (the reference does).
              import graft.plan._
              val handle = hnswIndexOf(target, v)
              val (qids, walked) = handle match {
                case Left(b) =>
                  indexDriverProbes += 1
                  val qs = queries.select(col("__qvec"), col("__qvec").cast("array<float>"))
                    .collect().toSeq.filterNot(_.isNullAt(1)).zipWithIndex
                    .map { case (r, i) => (Long.MinValue + i, r) }
                  val hits = b.probe(qs.map { case (q, r) => (q, r.getSeq[Float](1).toArray) },
                    k, efS, v.fields.length)
                  (localFrame(qs.map { case (q, r) => Row(r.get(0), q) },
                    queries.schema.head, StructField("__qid", LongType)),
                    walkedFrame(hits))
                case Right(dir) =>
                  val qids = queries
                    .withColumn("__qid",
                      monotonically_increasing_id() + lit(Long.MinValue))
                    .ckpt()
                  (qids, graft.similarity.Ann.hnswProbeLoaded(
                    hnswLoadedGraphs(target, dir),
                    qids.select(col("__qid").as("query_id"),
                      col("__qvec").cast("array<float>").as("vec")),
                    k, efSearch = efS, fieldsPerId = v.fields.length))
              }
              val top = walked.select(col("query_id").as("__qid"), col("id").as("__hid"),
                walkDist(col("score")).as("__dist"))
                .join(qids, Seq("__qid"))
              withWalkedRows(top, col("__qvec").cast("array<float>"), handle.isLeft)
                .select((col("__qvec").as(n) +: (pairs.map { case (c, vr) => col(c).as(vr) } ++
                  extraBinds(col("__best"), col("__dist")))): _*)
            } else {
              val scored = probeOpts(queries.crossJoin(admitted)
                .withColumn("__best", bestTo(col("__qvec").cast("array<float>")))
                .filter(col("__best").isNotNull)
                .withColumn("__dist", col("__best").getField("d")))
              val top = graft.operators.TopK.perGroup(scored, Seq("__qvec"),
                Seq(col("__dist").asc, col(key).asc), k)
              top.select((col("__qvec").as(n) +: (pairs.map { case (c, vr) => col(c).as(vr) } ++
                extraBinds(col("__best"), col("__dist")))): _*)
            }
          case _ =>
            val qvec = optConst("query") match {
              case Some(s: Seq[_]) => s.map {
                case d: Double => d.toFloat
                case l: Long => l.toFloat
                case f: Float => f
                case other => throw CompileException(s"non-numeric vector component $other")
              }
              case other => throw CompileException(s"$target probe needs query: [vector], got $other")
            }
            // declared dim is a hard contract (the reference rejects
            // wrong-width vectors at the type level)
            v.dim.filter(_ != qvec.length).foreach(d => throw CompileException(
              s"$target expects dim $d, query vector has ${qvec.length}"))
            if (graphEligible) {
              import spark.implicits._
              // query id outside any plausible key domain (see above)
              val handle = hnswIndexOf(target, v)
              val walked = handle match {
                case Left(b) =>
                  indexDriverProbes += 1
                  walkedFrame(b.probe(Seq((Long.MinValue, qvec.toArray)), k, efS,
                    v.fields.length))
                case Right(dir) =>
                  graft.similarity.Ann.hnswProbeLoaded(
                    hnswLoadedGraphs(target, dir),
                    Seq((Long.MinValue, qvec.toArray)).toDF("query_id", "vec"), k,
                    efSearch = efS, fieldsPerId = v.fields.length)
              }
              val top = walked.select(col("id").as("__hid"), walkDist(col("score")).as("__dist"))
              withWalkedRows(top, array(qvec.map(lit): _*).cast("array<float>"), handle.isLeft)
                .select(pairs.map { case (c, vr) => col(c).as(vr) } ++
                  extraBinds(col("__best"), col("__dist")): _*)
            } else {
              val qArr = array(qvec.map(lit): _*).cast("array<float>")
              val scored = probeOpts(admitted
                .withColumn("__best", bestTo(qArr))
                .filter(col("__best").isNotNull)
                .withColumn("__dist", col("__best").getField("d")))
                .orderBy(col("__dist").asc, col(key).asc).limit(k)
              scored.select(pairs.map { case (c, vr) => col(c).as(vr) } ++
                extraBinds(col("__best"), col("__dist")): _*)
            }
        }
      case _: PlainIdx =>
        throw CompileException(s"$target is a covering index — scan it with *$target{...}")
    }
  }

  /** `::index/::fts/::lsh/::hnsw create rel:idx { … }` / `… drop rel:idx`
    * (parse/sys.rs:391-655). */
  private def indexOp(kind: String, sub: String, target: String,
                      optsRaw: Option[String], params: Map[String, Any],
                      text: String): DataFrame = {
    import spark.implicits._
    val rel = target.split(":")(0)
    if (sub == "drop") {
      val existed = indexSpec(target).isDefined
      if (existed) update(rel)(r => r.copy(indexes = r.indexes - target))
      dropIndexCaches(target)
      return Seq(((if (existed) "dropped" else "absent"), target)).toDF("status", "index")
    }
    relation(rel) // must exist
    dropIndexCaches(target) // a re-created index must not serve the old one's artifacts
    def asStr(e: Expr): String = e match {
      case Lit(s: String) => s
      case V(n) => n
      case other => other.toString
    }
    // Stemmer(language): required-arg semantics per fts/mod.rs:176-208.
    // Unknown names and reference languages this build does not ship
    // both fail loudly — silently stemming French text with the English
    // algorithm would be a wrong answer, not a fallback.
    def stemLangOf(filters: Seq[Expr]): String = {
      filters.collectFirst {
        case V(x) if x.equalsIgnoreCase("Stemmer") =>
          throw CompileException("Missing first argument `language` to Stemmer")
        case App(x, args) if x.equalsIgnoreCase("Stemmer") =>
          args.headOption match {
            case Some(Lit(s: String)) => s.toLowerCase
            case Some(V(s)) => s.toLowerCase
            case _ => throw CompileException(
              "First argument `language` to Stemmer must be a string")
          }
      } match {
        case None => "english"
        case Some(l) =>
          if (!graft.search.Stemmers.referenceLanguages.contains(l))
            throw CompileException(s"Unsupported language: $l")
          if (graft.search.Stemmers.forLanguage(l).isEmpty)
            throw CompileException(
              s"Stemmer language '$l' is not shipped in this build; shipped: " +
                graft.search.Stemmers.shippedLanguages.mkString(", "))
          l
      }
    }
    // Stopwords(code | ['explicit', 'list']) per fts/mod.rs:210-233.
    // None = no Stopwords filter given; Some(Nil) = explicit empty list.
    def stopListOf(filters: Seq[Expr]): Option[Seq[String]] =
      filters.collectFirst {
        case V(x) if x.equalsIgnoreCase("Stopwords") =>
          throw CompileException(
            "Filter Stopwords requires language name or a list of stopwords")
        case App(x, args) if x.equalsIgnoreCase("Stopwords") =>
          args.headOption match {
            case Some(Lit(s: String)) =>
              if (!graft.search.Stopwords.referenceCodes.contains(s.toLowerCase))
                throw CompileException(s"Unsupported language: $s")
              graft.search.Stopwords.forLang(s).getOrElse(throw CompileException(
                s"Stopwords language '$s' is not shipped in this build; shipped: " +
                  graft.search.Stopwords.shippedCodes.mkString(", ") +
                  " — or pass an explicit list: Stopwords(['word', ...])"))
            case Some(ListE(items)) =>
              items.map {
                case Lit(s: String) => s
                case _ => throw CompileException(
                  "First argument `stopwords` must be a list of strings")
              }
            case _ => throw CompileException(
              "Filter Stopwords requires language name or a list of stopwords")
          }
      }
    lazy val opts = Parser.parseOptMap(optsRaw.getOrElse(""))
    /** tokenizer/filters options → a [[graft.search.Fts.Pipeline]]
      * (shared by ::fts and ::lsh — the reference's LSH shingles run
      * through the same tokenizer machinery, minhash_lsh.rs via
      * tokenizer_impl.rs unique_ngrams). */
    def parsePipelineOpts(opts: Map[String, Expr]): graft.search.Fts.Pipeline = {
      val filters = opts.get("filters").toSeq.flatMap {
        case ListE(items) => items
        case e => Seq(e)
      }
      def hasFilter(n: String) = filters.exists {
        case V(x) => x.equalsIgnoreCase(n)
        case App(x, _) => x.equalsIgnoreCase(n)
        case _ => false
      }
      def filterArg(n: String): Option[Expr] = filters.collectFirst {
        case App(x, Seq(a)) if x.equalsIgnoreCase(n) => a
      }
      // tokenizer: Simple | Raw | Whitespace | NGram(min, max, prefix_only)
      val (tokName, tokArgs) = opts.get("tokenizer") match {
        case Some(V(n)) => (n, Nil)
        case Some(App(n, args)) => (n, args.toList)
        case Some(other) => (asStr(other), Nil)
        case None => ("Simple", Nil)
      }
      def intArg(i: Int, default: Int): Int = tokArgs.lift(i) match {
        case Some(Lit(n: Long)) => n.toInt
        case _ => default
      }
      val minG = intArg(0, 1)
      // Cangjie('default'|'all'|'search'|'unicode', use_hmm) — kind
      // string first, boolean hmm flag second (fts/mod.rs:109-139);
      // hmm drives the BMES Viterbi over unknown single-char runs
      val cangjieKind = tokArgs.headOption.collect {
        case Lit(s: String) => s
        case V(s) => s
      }.getOrElse("default")
      if (tokName == "Cangjie" &&
          !Seq("default", "all", "search", "unicode").contains(cangjieKind))
        throw CompileException(s"Unknown Cangjie kind: $cangjieKind")
      val cangjieHmm = tokArgs.lift(1) match {
        case Some(Lit(b: Boolean)) => b
        case None => false
        case Some(_) =>
          if (tokName == "Cangjie")
            throw CompileException(
              "Second argument `use_hmm` to Cangjie must be a boolean")
          else false
      }
      graft.search.Fts.Pipeline(
        tokenizer = tokName,
        minGram = minG, maxGram = intArg(1, minG),
        prefixOnly = tokArgs.lift(2).contains(Lit(true)),
        cangjieKind = cangjieKind,
        cangjieHmm = cangjieHmm,
        lowercase = hasFilter("Lowercase") || hasFilter("LowerCase") || filters.isEmpty,
        asciiFolding = hasFilter("AsciiFolding"),
        removeLong = filterArg("RemoveLong").collect { case Lit(n: Long) => n.toInt },
        alphaNumOnly = hasFilter("AlphaNumOnly"),
        // SplitCompoundWords(['list', 'of', 'words']) — fts/mod.rs:153
        compoundWords = filterArg("SplitCompoundWords").toSeq.flatMap {
          case ListE(items) => items.collect { case Lit(s: String) => s }
          case _ => throw CompileException(
            "First argument `compound_words_list` must be a list of strings")
        },
        // the reference's Stemmer filter IS Snowball (fts/mod.rs:176
        // via rust-stemmers) and REQUIRES a language argument; its
        // Stopwords takes an ISO code or an explicit word list
        // (fts/mod.rs:210-233)
        stopwords = hasFilter("Stopwords"), snowball = hasFilter("Stemmer"),
        stemLang = stemLangOf(filters), stopList = stopListOf(filters))
    }
    def numOpt(key: String): Option[Double] = opts.get(key).map(evalConst(_, params)).collect {
      case d: Double => d
      case n: Long => n.toDouble
    }
    val spec: IndexSpec = kind match {
      case "index" =>
        // bare column list, a permuted covering copy (runtime/relation.rs:1232)
        val cols = optsRaw.toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
        val bad = cols.filterNot(relation(rel).columns.contains)
        if (bad.nonEmpty) throw CompileException(s"::index create — unknown columns ${bad.mkString(", ")}")
        PlainIdx(rel, cols)
      case "fts" =>
        // option surface of parse/sys.rs:417-497; unknown options
        // error like the reference
        (opts.keySet -- Set("extractor", "extract_filter", "tokenizer", "filters"))
          .toSeq.sorted.headOption.foreach(o =>
            throw CompileException(s"Unknown option $o for FTS index"))
        val extractor = opts.get("extractor").map(asStr)
          .getOrElse(throw CompileException("::fts create — missing extractor:"))
        FtsIdx(rel, extractor, parsePipelineOpts(opts),
          extractFilter = opts.get("extract_filter"))
      case "lsh" =>
        // option surface of parse/sys.rs:236-382; unknown options
        // error like the reference. Defaults mirror the reference:
        // n_gram 1, n_perm 200, target_threshold 0.9, weights 1.0
        (opts.keySet -- Set("extractor", "extract_filter", "tokenizer", "filters",
          "n_perm", "n_gram", "target_threshold",
          "false_positive_weight", "false_negative_weight"))
          .toSeq.sorted.headOption.foreach(o =>
            throw CompileException(s"Unknown option $o for LSH index"))
        val extractor = opts.get("extractor").map(asStr)
          .getOrElse(throw CompileException("::lsh create — missing extractor:"))
        val nGram = numOpt("n_gram").map(_.toInt).getOrElse(1)
        val threshold = numOpt("target_threshold").getOrElse(0.9)
        val nPerm = numOpt("n_perm").map(_.toInt).getOrElse(200)
        val (b, r) = lshParamsFor(threshold, nPerm,
          numOpt("false_positive_weight").getOrElse(1.0),
          numOpt("false_negative_weight").getOrElse(1.0))
        LshIdx(rel, extractor, parsePipelineOpts(opts),
          nGram, threshold, b, r, extractFilter = opts.get("extract_filter"))
      case "hnsw" =>
        // full option surface of parse/sys.rs:540-640 with its
        // aliases (ef = ef_construction, m_neighbours = m, dist =
        // distance); unknown options error like the reference
        val knownHnsw = Set("fields", "dim", "dtype", "m", "m_neighbours",
          "ef", "ef_construction", "distance", "dist", "filter",
          "extend_candidates", "keep_pruned_connections")
        (opts.keySet -- knownHnsw).toSeq.sorted.headOption.foreach(o =>
          throw CompileException(s"Invalid option: $o"))
        val dtype = opts.get("dtype").map(asStr).getOrElse("F32")
        if (!Seq("F32", "F64", "Float", "Double").contains(dtype))
          throw CompileException(s"Invalid dtype: $dtype")
        def boolHnswOpt(key: String): Boolean = opts.get(key).exists {
          case Lit(b: Boolean) => b
          case V(s) => s.trim == "true"
          case other => throw CompileException(s"Invalid $key: $other")
        }
        val fields = opts.get("fields") match {
          case Some(ListE(items)) if items.nonEmpty => items.map(asStr)
          case Some(e) => Seq(asStr(e))
          case None => throw CompileException("::hnsw create — missing fields: [col]")
        }
        // the reference validates fields at create (relation.rs:
        // 1036-1060): they must exist and hold a vector — or a LIST of
        // vectors, indexed per element (hnsw.rs:699-705). Bare-created
        // relations carry a placeholder schema until their first
        // data-bearing put, so only data-backed schemas can validate.
        if (!stored(rel).bare) fields.foreach { f =>
          if (!relation(rel).columns.contains(f)) throw CompileException(
            s"Cannot create HNSW index with non-existent field $f")
          relation(rel).schema(f).dataType match {
            case ArrayType(_, _) => ()
            case _ => throw CompileException(
              s"Cannot create HNSW index with non-vector field $f")
          }
        }
        VecIdx(rel, fields,
          opts.get("distance").orElse(opts.get("dist")).map(asStr).getOrElse("L2"),
          opts.get("filter"),
          dim = numOpt("dim").map(_.toInt),
          m = numOpt("m").orElse(numOpt("m_neighbours")).map(_.toInt),
          efConstruction = numOpt("ef_construction").orElse(numOpt("ef")).map(_.toInt),
          extendCandidates = boolHnswOpt("extend_candidates"),
          keepPruned = boolHnswOpt("keep_pruned_connections"))
      case other => throw CompileException(s"unknown index kind ::$other")
    }
    update(rel)(r => r.copy(indexes = r.indexes.updated(target, (spec, text))))
    Seq(("created", target)).toDF("status", "index")
  }

  /** Evaluate one rule (all its clauses). Aggregation semantics follow
    * the reference's aggregation store (eval.rs + aggr.rs): the
    * aggregate folds over the BAG-union of all clause bodies' rows —
    * `rc[a, count(a)] := *r{fr: a}; rc[a, count(a)] := *r{to: a}`
    * counts from+to together (air_routes.rs most_routes golden) — and
    * body rows keep their multiplicities. Non-aggregated rules are
    * set-semantic: per-clause project + dedup + union.
    */
  private def evalRule(defs: Seq[RuleDef], resolve: String => Option[DataFrame],
                       params: Map[String, Any]): Option[DataFrame] = {
    val horn = defs.collect { case h: HornClause => h }
    if (horn.length == defs.length && horn.head.head.exists(_.aggr.isDefined))
      return evalAggRule(horn, resolve, params)
    val dfs = defs.flatMap { d => try Some(evalOneDef(d, resolve, params))
      catch { case _: Compiler.EmptyRelation => None } }
    if (dfs.isEmpty) None
    else if (dfs.length == 1) Some(dfs.head)
    else {
      // positional union under temp names: a head with a REPEATED
      // variable (y[A, A], magic.rs strange_case) yields duplicate
      // column names that unionByName rejects
      val tmp = dfs.head.columns.indices.map(i => s"__u$i")
      Some(dfs.map(_.toDF(tmp: _*)).reduce(_ union _).dropDuplicates()
        .toDF(dfs.head.columns.toIndexedSeq: _*))
    }
  }

  private def evalOneDef(d: RuleDef, resolve: String => Option[DataFrame],
                         params: Map[String, Any]): DataFrame = {
    d match {
      case HornClause(_, head, body) =>
        val c = compiler(resolve, params)
        c.applyHead(head, c.compileBody(body))
      case ConstRule(_, head, data) =>
        val rows = evalConst(data, params) match {
          case s: Seq[_] => s
          case other => throw CompileException(s"const rule body must be a list, got $other")
        }
        // param shorthand (tests.rs param_shorthand): `?[] <- [[$x, $y]]`
        // with an EMPTY head names the columns after the parameters
        val paramNames = data match {
          case ListE(dataRows) if head.isEmpty && dataRows.nonEmpty =>
            val nameLists = dataRows.map {
              case ListE(cells) => cells.map { case Param(n) => Some(n); case _ => None }
              case _ => Seq(None)
            }
            if (nameLists.forall(_ == nameLists.head) && nameLists.head.forall(_.isDefined))
              Some(nameLists.head.flatten)
            else None
          case _ => None
        }
        // set semantics apply to const rules too (utilities/constant.rs
        // pre-evaluates into a deduped store)
        CozoDb.constRelation(spark, rows,
          if (head.nonEmpty) Some(head.map(_.v)) else paramNames, maxDriverPatchKeys)
      case FixedApply(_, head, algo, rels, opts) =>
        val impl = FixedRules.get(algo)
          .getOrElse(throw CompileException(s"unknown fixed rule $algo"))
        val inputs = rels.map {
          case FixedRuleRel(n) => resolve(n)
            .getOrElse(throw CompileException(s"fixed rule input $n not evaluated"))
          case FixedStoredRel(n, cols) =>
            val df = relation(n)
            if (cols.nonEmpty && cols.forall(df.columns.contains))
              df.select(cols.map(col): _*)
            else df
        }
        // constant options evaluate; expression options (BFS/DFS
        // `condition:`, AStar `heuristic:`) pass through as raw Exprs
        // for the fixed rule to compile against its input relations
        val out = impl(inputs, opts.map { case (k, v) =>
          k -> (try evalConst(v, params) catch { case _: Compiler.CompileException => v })
        }, spark)
        if (head.nonEmpty) {
          if (head.length != out.columns.length)
            throw CompileException(
              s"fixed rule $algo returns ${out.columns.length} columns, head has ${head.length}")
          out.toDF(head.map(_.v): _*)
        } else out
    }
  }

  private def evalAggRule(clauses: Seq[HornClause], resolve: String => Option[DataFrame],
                          params: Map[String, Any]): Option[DataFrame] = {
    val h0 = clauses.head.head
    clauses.foreach { h =>
      if (h.head.map(_.aggr) != h0.map(_.aggr))
        throw CompileException(
          s"rule ${h.name}: all clauses must share the same aggregation shape")
    }
    val c0 = compiler(resolve, params)
    // project each clause body to positional columns so clauses may use
    // different variable names, and a var may appear both plain and
    // aggregated (?[region, count(region)])
    val bodies = clauses.flatMap { h =>
      try {
        val c = compiler(resolve, params)
        val b = c.compileBody(h.body)
        h.head.foreach { a =>
          if (!b.columns.contains(a.v))
            throw CompileException(s"head variable ${a.v} is not bound in rule body")
        }
        Some(b.select(h.head.zipWithIndex.map { case (a, i) => col(a.v).as(s"_h$i") }: _*))
      } catch { case _: Compiler.EmptyRelation => None }
    }
    if (bodies.isEmpty) return None
    val all = bodies.reduce(_ unionByName _)
    val plainIdx = h0.zipWithIndex.collect { case (HeadArg(None, _, _), i) => i }
    val aggs = h0.zipWithIndex.collect { case (HeadArg(Some(a), _, extra), i) =>
      // typed dispatch: struct-lowered heterogeneous pairs route the
      // pair-taking aggregations to their struct-field forms
      val c = Builtins.aggrTyped(a, col(s"_h$i"), extra.map(c0.compileExpr),
        all.schema(s"_h$i").dataType)
      val capped = (a, extra) match {
        case ("collect", Seq(Lit(n: Long))) => slice(c, 1, n.toInt)
        case _ => c
      }
      capped.as(s"_h$i")
    }
    // bounded-memory top-n: a single capped collect pre-filters each
    // group to its n smallest rows (same value multiset — see the twin
    // rewrite in Compiler.applyHead) so the collect buffers n values,
    // not the whole group
    val all1 = h0.zipWithIndex.collect {
      case (HeadArg(Some("collect"), _, Seq(Lit(n: Long))), i) => (i, n)
    } match {
      case Seq((i, n)) if h0.count(_.aggr.isDefined) == 1 && n >= 1 && plainIdx.nonEmpty =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(plainIdx.map(j => col(s"_h$j")): _*).orderBy(col(s"_h$i"))
        all.withColumn("__cap_rn", row_number().over(w))
          .filter(col("__cap_rn") <= n).drop("__cap_rn")
      case _ => all
    }
    val grouped =
      if (plainIdx.nonEmpty) all1.groupBy(plainIdx.map(i => col(s"_h$i")): _*).agg(aggs.head, aggs.tail: _*)
      else all1.agg(aggs.head, aggs.tail: _*)
    // output names: head var names; an aggregated var colliding with a
    // plain var surfaces as aggr(var), mirroring cozo's display headers
    val plainNames = h0.filter(_.aggr.isEmpty).map(_.v).toSet
    val outNames = h0.map {
      case HeadArg(Some(a), v, _) if plainNames.contains(v) => s"$a($v)"
      case h => h.v
    }
    Some(grouped.select(h0.indices.map(i => col(s"_h$i")): _*).toDF(outNames: _*))
  }

  /** Per-round delta row counts of the last recursive fixpoint, keyed by
    * rule name — the observable evidence that evaluation is delta-driven
    * (round N's work is proportional to round N-1's new facts, not to
    * the accumulated total). Tests assert on this. */
  private[lang] var lastFixpointStats: Seq[Map[String, Long]] = Nil

  /** All rule-referencing atoms of an atom tree (RelApply with
    * stored=false), including inside Or branches and negands. */
  private def collectRuleApplies(a: Atom): Seq[RelApply] = a match {
    case r @ RelApply(_, _, false, _) => Seq(r)
    case Neg(inner) => collectRuleApplies(inner)
    case Or(alts) => alts.flatten.flatMap(collectRuleApplies)
    case _ => Nil
  }

  /** Magic-set seeding for a recursive component (query/magic.rs:55-511
    * adornment, the bound-argument cases — incl. MUTUAL recursion): if
    * every reference to any member from OUTSIDE the component binds
    * position p to a compile-time constant or to a variable bound by an
    * already-available relation, and every clause of every member
    * threads head position p unchanged into each in-SCC atom (so the
    * set of values at p never grows beyond the seeds'), then
    * restricting every round's derivations to the seed set is sound and
    * complete — the fixpoint computes the seeds' cone instead of the
    * full closure. Seeds from a relation column over-approximate the
    * true probe values, which preserves completeness. At 100× data this
    * is the difference between one node's reachability and the whole
    * graph's. */
  private def magicSeedFilter(scc: Seq[String], byName: Map[String, Seq[RuleDef]],
                              params: Map[String, Any],
                              evaluated: collection.Map[String, DataFrame]): Option[DataFrame => DataFrame] = {
    val inScc = scc.toSet
    val memberClauses: Map[String, Seq[HornClause]] = scc.map { n =>
      val defs = byName(n)
      val hs = defs.collect { case h: HornClause => h }
      if (hs.isEmpty || hs.length != defs.length) return None
      n -> hs
    }.toMap
    val arity = memberClauses(scc.head).head.head.length
    if (scc.exists(n => memberClauses(n).head.head.length != arity)) return None
    // (caller clause body, reference to an SCC member) from OUTSIDE the
    // component — the body gives the binding context for variable-valued
    // seed arguments. Members referenced only from inside contribute no
    // refs (vacuously seedable: their facts flow only through members).
    var refs = List.empty[(Seq[Atom], RelApply)]
    for ((name, ds) <- byName if !inScc(name); d <- ds) d match {
      case HornClause(_, _, body) =>
        refs = body.flatMap(collectRuleApplies).filter(a => inScc(a.name))
          .map(body -> _).toList ::: refs
      case FixedApply(_, _, _, rels, _) =>
        // a fixed rule consumes the whole relation — no goal to push
        if (rels.exists { case FixedRuleRel(n) => inScc(n); case _ => false }) return None
      case _: ConstRule => ()
    }
    if (refs.isEmpty) return None
    val clauses = scc.flatMap(memberClauses)
    def constOf(e: Expr): Option[Any] = e match {
      case Lit(v) if v != null => Some(v)
      case Param(nm) => params.get(nm)
      case _ => None
    }
    /** An already-available relation df for a body atom, plus the
      * column bound to `v` (seed over-approximation source): any
      * SUPERSET of the true probe values is sound AND complete, so the
      * binding relation's whole column works even before the caller's
      * own joins/filters run. */
    def seedSource(body: Seq[Atom], v: String): Option[DataFrame] = {
      def availDf(name: String, stored: Boolean): Option[DataFrame] =
        if (stored) records.get(name).map(_.view) else evaluated.get(name)
      body.collectFirst {
        case RelApply(name2, args2, stored2, None)
            if !inScc(name2) && args2.contains(V(v)) &&
              availDf(name2, stored2).exists(_.columns.length == args2.length) =>
          val df = availDf(name2, stored2).get
          df.select(col(df.columns(args2.indexOf(V(v)))).as("__seed"))
        case NamedApply(name2, pairs2, None)
            if !inScc(name2) && records.contains(name2) &&
              pairs2.exists { case (f, b) => b.contains(V(v)) || (b.isEmpty && f == v) } =>
          val f = pairs2.collectFirst {
            case (f0, b) if b.contains(V(v)) || (b.isEmpty && f0 == v) => f0
          }.get
          records(name2).view.select(col(f).as("__seed"))
      }
    }
    // a position seeds when EVERY caller either passes a compile-time
    // constant or a variable bound by an available relation in the same
    // clause (query/magic.rs adornment, bound-argument cases)
    val positions = (0 until arity).flatMap { p =>
      // threading across the WHOLE component: every in-SCC atom of every
      // member's clause carries the head's p-var unchanged at p
      val threaded = clauses.forall { h =>
        h.head(p).aggr.isEmpty &&
          h.body.flatMap(collectRuleApplies).filter(a => inScc(a.name))
            .forall(ra => ra.args.length == arity && ra.args(p) == V(h.head(p).v))
      }
      if (!threaded) None
      else {
        val perRef: Seq[Option[Either[Any, DataFrame]]] = refs.map { case (body, ref) =>
          if (ref.args.length != arity) None
          else constOf(ref.args(p)).map(Left(_)).orElse(ref.args(p) match {
            case V(v) => seedSource(body, v).map(Right(_))
            case _ => None
          })
        }
        if (perRef.exists(_.isEmpty)) None else Some(p -> perRef.flatten)
      }
    }
    if (positions.isEmpty) return None
    Some { df =>
      positions.foldLeft(df) { case (d, (p, sources)) =>
        val rawLits = sources.collect { case Left(v) => v }
        val dfs = sources.collect { case Right(s) => s }
        // Coerce literal seeds to the recursion column's type UP FRONT:
        // a JVM-type mismatch (Long literal probing an Int column) fed
        // straight into createDataFrame surfaces as a mid-job encoder
        // failure, past any plan-time Try. If any literal cannot be
        // represented, degrade to the unfiltered (still correct)
        // fixpoint rather than risk a runtime error.
        val coerced = rawLits.map(coerceSeedLit(_, d.schema(p).dataType))
        if (coerced.exists(_.isEmpty)) d
        else {
          val lits = coerced.flatten
          if (dfs.isEmpty) d.filter(col(d.columns(p)).isin(lits: _*))
          else {
            val seedCol = col(d.columns(p))
            val litDf = if (lits.isEmpty) None
              else Some(spark.createDataFrame(
                spark.sparkContext.parallelize(lits.map(Row(_)), 1),
                StructType(Seq(StructField("__seed", d.schema(p).dataType, nullable = true)))))
            scala.util.Try {
              val seeds = (dfs ++ litDf).reduce(_ unionByName _).dropDuplicates()
              d.join(broadcast(seeds), seedCol <=> col("__seed"), "left_semi")
            }.getOrElse(d) // type mismatch across seed sources → no restriction
          }
        }
      }
    }
  }

  /** Represent a seed literal in the recursion column's Spark type, or
    * None when it cannot be (then the caller skips seeding — the
    * unrestricted fixpoint is always correct). Narrowing only succeeds
    * when the value round-trips exactly. */
  /** A numeric seed literal as an exact whole Long — fractional
    * doubles are None (narrowing must round-trip, never truncate). */
  private def wholeLong(n: java.lang.Number): Option[Long] = n match {
    case _: java.lang.Double | _: java.lang.Float =>
      val d = n.doubleValue
      if (d.isWhole && d >= Long.MinValue.toDouble && d <= Long.MaxValue.toDouble)
        Some(d.toLong)
      else None
    case _ => Some(n.longValue)
  }

  private def coerceSeedLit(v: Any, dt: DataType): Option[Any] = (v, dt) match {
    case (null, _) => Some(null)
    case (n: java.lang.Number, LongType) => wholeLong(n)
    case (n: java.lang.Number, IntegerType) =>
      wholeLong(n).filter(_.isValidInt).map(_.toInt)
    case (n: java.lang.Number, ShortType) =>
      wholeLong(n).filter(_.isValidShort).map(_.toShort)
    case (n: java.lang.Number, ByteType) =>
      wholeLong(n).filter(_.isValidByte).map(_.toByte)
    case (n: java.lang.Number, DoubleType) => Some(n.doubleValue)
    case (n: java.lang.Number, FloatType) => Some(n.floatValue)
    case (s: String, StringType) => Some(s)
    case (b: java.lang.Boolean, BooleanType) => Some(b)
    case (x, StringType) => Some(String.valueOf(x))
    case _ => None
  }

  /** Semi-naive bottom-up fixpoint for a recursive component
    * (eval.rs:113-303, delta threading eval.rs:571-610): round 0
    * evaluates base clauses; each later round re-evaluates, per clause,
    * one variant per recursive atom with THAT atom bound to the previous
    * round's delta and the others to the totals. New facts =
    * derived − total (one anti-shuffle per rule per round, and it IS the
    * convergence signal — an empty delta ends the loop, no separate
    * growth check). Meet-aggregated rules (min/max/min_cost/shortest —
    * idempotent, commutative, monotone, aggr.rs:1190-1206) fold the
    * meet over totals ∪ derived instead of set-union, with the changed
    * keys as the delta; that is how Dijkstra-in-Datalog converges.
    * Per-round LAZY `.ckptLazy()` truncates lineage and drops inherited
    * stats; the delta `count()` is the single job that materializes the
    * round's checkpoints (doCheckpoint fills every marked ancestor).
    */
  private def evalRecursive(scc: Seq[String], byName: Map[String, Seq[RuleDef]],
                            evaluated: mutable.HashMap[String, DataFrame],
                            params: Map[String, Any],
                            magic: Map[String, DataFrame => DataFrame],
                            maxIter: Int = 200,
                            earlyLimit: Option[(String, Long)] = None): Unit = {
    val inScc = scc.toSet
    // stratification checks (query/stratify.rs:225): negation and
    // non-meet aggregation must not cross a recursive component
    val meetRules = mutable.HashSet.empty[String]
    scc.foreach { n =>
      byName(n).foreach {
        case HornClause(_, head, body) =>
          if (head.exists(_.aggr.isDefined)) {
            if (head.flatMap(_.aggr).forall(CozoDb.meetAggrs.contains)) meetRules += n
            else throw CompileException(
              s"rule $n: non-meet aggregation through recursion is unstratifiable " +
                s"(meet aggregations: ${CozoDb.meetAggrs.mkString(", ")})")
          }
          if (negDepsInScc(body, inScc))
            throw CompileException(s"rule $n: negation through recursion is unstratifiable")
        case other =>
          throw CompileException(s"rule ${other.name}: only := rules may be recursive")
      }
    }
    val horns: Map[String, Seq[HornClause]] =
      scc.map(n => n -> byName(n).map(_.asInstanceOf[HornClause])).toMap

    val totals = mutable.HashMap.empty[String, DataFrame]
    val deltas = mutable.HashMap.empty[String, DataFrame]
    val stats = mutable.ArrayBuffer.empty[Map[String, Long]]

    /** Per-key meet fold of totals (if any) with this round's derived
      * rows. `choice` is the one meet whose semantics are positional
      * rather than an order over values — the FIRST value is kept
      * forever (aggr.rs:941); a tag column makes existing totals win
      * (termination depends on it), with the smallest same-round
      * candidate as the deterministic tie-break. */
    def meetFold(n: String, tot: Option[DataFrame], derived: DataFrame): DataFrame = {
      val head = horns(n).head.head
      val cols = tot.map(_.columns).getOrElse(derived.columns)
      val tagged = tot match {
        case Some(t) => t.withColumn("__tag", lit(0))
          .unionByName(derived.toDF(cols.toIndexedSeq: _*).withColumn("__tag", lit(1)))
        case None => derived.toDF(cols.toIndexedSeq: _*).withColumn("__tag", lit(1))
      }
      val keyIdx = head.zipWithIndex.collect { case (HeadArg(None, _, _), i) => i }
      val aggs = head.zipWithIndex.collect { case (HeadArg(Some(a), _, _), i) =>
        val c = col(cols(i))
        val agg =
          if (a == "choice") min(struct(col("__tag").as("t"), c.as("v"))).getField("v")
          else Builtins.aggrTyped(a, c, Nil, tagged.schema(cols(i)).dataType)
        agg.as(cols(i))
      }
      val folded =
        if (keyIdx.nonEmpty) tagged.groupBy(keyIdx.map(i => col(cols(i))): _*).agg(aggs.head, aggs.tail: _*)
        else tagged.agg(aggs.head, aggs.tail: _*)
      folded.select(cols.map(col): _*)
    }

    /** Evaluate one clause with the `deltaOcc`-th in-SCC atom reference
      * resolved to its rule's delta, the others to totals (None = all
      * totals, the round-0 shape). In-SCC occurrences are counted in
      * resolution order; an atom whose delta/total is absent throws
      * EmptyRelation, which skips the variant (or just the Or branch). */
    def evalVariant(h: HornClause, deltaOcc: Option[Int]): Option[DataFrame] = {
      var occ = -1
      val resolve: String => Option[DataFrame] = name =>
        if (inScc(name)) {
          occ += 1
          deltaOcc match {
            case Some(j) if occ == j => deltas.get(name)
            case _ => totals.get(name)
          }
        } else evaluated.get(name)
      try {
        val c = compiler(resolve, params)
        Some(c.applyHead(h.head, c.compileBody(h.body)))
      } catch { case _: Compiler.EmptyRelation => None }
    }

    def sccOccurrences(body: Seq[Atom]): Int =
      body.flatMap(collectRuleApplies).count(a => inScc(a.name))

    def restricted(n: String, df: DataFrame): DataFrame =
      magic.get(n).fold(df)(f => f(df))

    // — round 0: base clauses (recursive clauses see no totals and drop)
    val round0 = mutable.HashMap.empty[String, Long]
    for (n <- scc) {
      val outs = horns(n).flatMap(h => evalVariant(h, None))
      if (outs.nonEmpty) {
        val cols = outs.head.columns
        val unioned = restricted(n, outs.map(_.toDF(cols: _*)).reduce(_ unionByName _))
        val init = (if (meetRules(n)) meetFold(n, None, unioned) else unioned.dropDuplicates()).ckptLazy()
        val cnt = init.count()
        round0(n) = cnt
        if (cnt > 0) { totals(n) = init; deltas(n) = init }
      }
    }
    stats += round0.toMap

    // limit early-termination bookkeeping: the running fact count of
    // the watched rule comes free from the per-round delta counts (no
    // extra jobs). Meet rules are excluded — a meet value can still
    // IMPROVE in later rounds, so row count is not a stopping bound.
    val limitActive = earlyLimit.filterNot { case (n, _) => meetRules(n) }
    var entryCount = limitActive.map { case (n, _) => round0.getOrElse(n, 0L) }.getOrElse(0L)
    var stoppedEarly = limitActive.exists { case (_, l) => entryCount >= l }

    var changed = totals.nonEmpty && !stoppedEarly
    var iter = 0
    while (changed && iter < maxIter) {
      changed = false
      val roundStats = mutable.HashMap.empty[String, Long]
      val newDeltas = mutable.HashMap.empty[String, DataFrame]
      for (n <- scc) {
        val variants = horns(n).flatMap { h =>
          (0 until sccOccurrences(h.body)).flatMap(j => evalVariant(h, Some(j)))
        }
        if (variants.nonEmpty) {
          val cols = totals.get(n).map(_.columns).getOrElse(variants.head.columns)
          val derived = restricted(n, variants.map(_.toDF(cols.toIndexedSeq: _*)).reduce(_ unionByName _))
          totals.get(n) match {
            case None =>
              val init = (if (meetRules(n)) meetFold(n, None, derived) else derived.dropDuplicates()).ckptLazy()
              val cnt = init.count()
              roundStats(n) = cnt
              if (cnt > 0) { changed = true; totals(n) = init; newDeltas(n) = init }
            case Some(tot) =>
              if (!meetRules(n)) {
                val delta = derived.dropDuplicates().except(tot).ckptLazy()
                val cnt = delta.count()
                roundStats(n) = cnt
                if (cnt > 0) {
                  changed = true
                  totals(n) = tot.unionByName(delta).ckptLazy()
                  newDeltas(n) = delta
                }
              } else {
                val folded = meetFold(n, Some(tot), derived).ckptLazy()
                val delta = folded.except(tot).ckptLazy()
                val cnt = delta.count()
                roundStats(n) = cnt
                if (cnt > 0) { changed = true; totals(n) = folded; newDeltas(n) = delta }
              }
          }
        }
      }
      // only rules that derived new facts carry a delta into the next
      // round — delta-variants over converged rules short-circuit
      deltas.clear(); deltas ++= newDeltas
      stats += roundStats.toMap
      limitActive.foreach { case (n, l) =>
        entryCount += roundStats.getOrElse(n, 0L)
        if (entryCount >= l) { stoppedEarly = true; changed = false }
      }
      iter += 1
    }
    if (iter >= maxIter && !stoppedEarly)
      throw CompileException(s"recursion did not converge in $maxIter rounds: ${scc.mkString(",")}")
    lastFixpointStats = stats.toSeq
    scc.foreach(n => totals.get(n).foreach(evaluated(n) = _))
  }

  private def bodyDepsInScc(body: Seq[Atom], inScc: Set[String]): Boolean = {
    def check(a: Atom): Boolean = a match {
      case RelApply(n, _, false, _) => inScc(n)
      case Neg(inner) => check(inner)
      case Or(alts) => alts.flatten.exists(check)
      case _ => false
    }
    body.exists(check)
  }
  private def negDepsInScc(body: Seq[Atom], inScc: Set[String]): Boolean = {
    def inNeg(a: Atom): Boolean = a match {
      case Neg(inner) => bodyDepsInScc(Seq(inner), inScc)
      case Or(alts) => alts.flatten.exists(inNeg)
      case _ => false
    }
    body.exists(inNeg)
  }

  // ———————————————————————— options & mutations ————————————————————————

  /** `bare`: a `:create` among these options is schema-only. */
  private def applyOptions(o: Options, df0: DataFrame, bare: Boolean): DataFrame = {
    var df = df0
    if (o.sort.nonEmpty) {
      // an `aggr(var)` sort key refers to the aggregate's display column
      // when plain/aggregated names collide, else to the bare var
      val aggKey = "^\\w+\\((\\w+)\\)$".r
      def resolve(k: String): String =
        if (df.columns.contains(k)) k
        else k match {
          case aggKey(inner) if df.columns.contains(inner) => inner
          case _ => k
        }
      val sortKeys = o.sort.map { case (v, desc) => (resolve(v), desc) }
      // cozo results are BTree-sorted by the full head tuple, so :sort
      // ties resolve by the remaining head columns in order — append
      // them as ascending tie-breakers for identical row order
      val explicit = sortKeys.map(_._1).toSet
      // Any-tagged columns (mixed-type, JSON-encoded) sort in the
      // reference's cross-type total order, not the encoding's order
      def key(v: String): Column =
        if (df.columns.contains(v) && AnyValue.isAny(df.schema(v).metadata))
          AnyValue.sortKey(col(v))
        else col(v)
      val tieBreak = df.columns.filterNot(explicit.contains).map(key(_).asc)
      df = df.orderBy(sortKeys.map { case (v, desc) =>
        if (desc) key(v).desc else key(v).asc } ++ tieBreak: _*)
    }
    o.offset.foreach(n => df = df.offset(n.toInt))
    o.limit.foreach(n => df = df.limit(n.toInt))
    if (o.assertNone && !df.isEmpty)
      throw new IllegalStateException(":assert none failed — result is not empty")
    if (o.assertSome && df.isEmpty)
      throw new IllegalStateException(":assert some failed — result is empty")
    o.relationOp.foreach { case (op, rel, spec) =>
      df = relationMutation(op, rel, spec, df, bare)
    }
    df
  }

  private def relationMutation(op: String, rel: String, spec: SchemaSpec,
                               delta0: DataFrame, bare: Boolean = false): DataFrame = {
    if (op != "create") requireAccess(rel, "normal", s":$op")
    val rowOp = Seq("put", "insert", "update", "rm", "delete").contains(op)
    val before = records.get(rel)
    // a row-changing op stales this relation's index caches (only)
    val prevVersion = versionOf(rel)
    val thisVersion = if (rowOp) bumpVersion(rel) else prevVersion
    // :create/:replace take their declared columns, defaults and
    // validity from the schema braces: `col: Validity` makes the
    // relation time-travelable, with the assert flag in a synthesized
    // companion column (the reference packs (ts, assert) into one
    // Validity value, value.rs:112-131); a schema without it resets
    // validity. Every other op writes through the relation's own.
    val meta =
      if (op == "create" || op == "replace")
        StoredRelation(delta0, spec.keys, 0L, validity = spec.validity,
          assertCol = spec.validity.map(v => s"${v}__assert"),
          declared = spec.all, defaults = spec.defaults)
      else stored(rel)
    // fill declared-but-omitted columns with their default generators
    // (relation.rs:114-118; stored.rs applies default_gen on put)
    val withDefaults =
      if (Seq("create", "replace", "put", "insert").contains(op) &&
          meta.declared.exists(!delta0.columns.contains(_))) {
        val c = compiler(_ => None, Map.empty)
        meta.declared.filterNot(delta0.columns.contains).foldLeft(delta0) { (d, name) =>
          d.withColumn(name, meta.defaults.get(name).map(c.compileExpr).getOrElse(lit(null)))
        }.select(meta.declared.map(col): _*)
      } else delta0
    val coerced = coerceValidity(rel, meta.validity, meta.assertCol, withDefaults)
    val overlayable = rowOp && !meta.bare
    // The delta as a driver-local frame: as it is when it already is one
    // (a const rule), else fetched in one bounded collect when the write
    // may go to the overlay. Anything else is checkpointed lazily so
    // repeated reads of the relation don't recompute its defining query
    // — note that under AQE `localCheckpoint(eager = false)` still runs
    // every shuffle map stage when the checkpoint is created.
    val local: Option[DataFrame] =
      if (isLocal(coerced)) Some(coerced)
      else if (!overlayable) None
      else {
        val rows = coerced.limit(maxDriverPatchKeys + 1).collect()
        if (rows.length > maxDriverPatchKeys) None
        else Some(localFrame(rows.toSeq, coerced.schema.fields.toSeq: _*))
      }
    val delta = local.getOrElse(coerced.ckptLazy())
    // first FULL-WIDTH data into a schema-only relation: adopt the
    // delta's Spark schema (the placeholder's column NAMES stay
    // authoritative). A keys-only rm/delete must NOT narrow the schema
    // (tests.rs deletion: a failed partial delete used to corrupt the
    // relation to its key columns).
    if (meta.bare && meta.declared.forall(delta.columns.contains))
      update(rel)(_.copy(view = delta.limit(0), bare = false))
    op match {
      case "create" | "replace" =>
        if (op == "create" && before.isDefined)
          throw new IllegalStateException(s":create $rel — relation already exists")
        registerTable(rel, delta,
          if (spec.keys.nonEmpty) spec.keys else before.fold(delta.columns.toSeq)(_.keys),
          meta.validity, meta.assertCol)
        update(rel)(_.copy(declared = meta.declared, defaults = meta.defaults, bare = bare))
        before.foreach(b => fireMutation(rel, "replace", delta, b.view))
      case _ if rowOp =>
        // rows about to be replaced/removed — `_old` for triggers and
        // callbacks (stored.rs:714; an immutable plan over the view
        // before the write)
        val old = Mutations.keyFilter(relation(rel), delta, meta.keys, "left_semi")
        if (!(overlayable && local.isDefined && overlayWrite(op, rel, delta))) {
          val cur = relation(rel)
          val next = (op match {
            case "put" => Mutations.put(cur, delta, meta.keys)
            case "insert" => Mutations.insert(cur, delta, meta.keys)
            case "update" => Mutations.update(cur, delta, meta.keys)
            case "rm" => Mutations.rm(cur, delta, meta.keys)
            case _ => Mutations.delete(cur, delta, meta.keys)
          }).ckptLazy()
          update(rel)(_.copy(view = next, overlay = None))
          overlayFolds += 1
        }
        fireMutation(rel, if (op == "rm" || op == "delete") "rm" else "put", delta, old)
      case "ensure" => Mutations.ensure(relation(rel), delta)
      case "ensure_not" => Mutations.ensureNot(relation(rel), delta)
      case other => throw CompileException(s"unknown relation op :$other")
    }
    if (rowOp) maintainIndexes(rel, op, delta, prevVersion, thisVersion, before.map(_.view.schema))
    delta
  }

  /** True when `df` plans to a driver-local relation: collecting it
    * runs no Spark job, and its statistics are exact. */
  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  private[lang] var overlayWrites = 0 // row writes the overlay absorbed, for tests
  private[lang] var overlayFolds = 0  // base rewrites: folded row writes and compacted overlays

  /** `base` minus every overlay key, plus the overlay's live rows. */
  private def overlayView(keys: Seq[String], ov: Overlay): DataFrame = {
    val kept = overlayMatch(ov.base, keys, ov.rows.keys, hit = false)
    val live = ov.rows.values.flatten.toSeq
    if (live.isEmpty) kept
    else kept.unionByName(localFrame(live, ov.base.schema.fields.map(_.copy(nullable = true)).toSeq: _*))
  }

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

  /** Apply a row write to `rel`'s write overlay. `delta` is driver-local.
    * put and rm run no job; insert, delete and update collect the base
    * rows of the keys the overlay does not hold ([[overlayMatch]], one
    * job) to check existence or fetch the old rows. Raises the op's
    * errors with the state unchanged. Returns false — the caller folds
    * — when the write would change a column type, holds two rows for
    * one key, has a key the overlay cannot hold, takes the overlay past
    * [[maxDriverPatchKeys]] keys, or probes a key the base holds twice. */
  private def overlayWrite(op: String, rel: String, delta: DataFrame): Boolean = {
    val r = stored(rel)
    val keys = r.keys
    val cur = relation(rel)
    val cols = op match {
      case "put" | "insert" => cur.columns.toSeq
      case "update" => keys ++ delta.columns.filterNot(keys.contains)
      case _ => keys
    }
    if (!cols.forall(c => delta.columns.contains(c) && cur.columns.contains(c))) return false
    val target = cur.select(cols.map(col): _*)
    // a write that would change a column type folds (the union's types
    // come from analysis alone, no job)
    val unionTypes = scala.util.Try(
      target.unionByName(delta.select(cols.map(col): _*)).schema.map(_.dataType)).toOption
    if (!unionTypes.contains(target.schema.map(_.dataType))) return false
    // the delta's rows in the relation's types, readable by name
    val typed = delta.select(target.schema.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
      .collect().toSeq
    if (typed.length > maxDriverPatchKeys) return false
    val keyTypes = keys.map(k => target.schema(k).dataType)
    val keyOpts = typed.map(r => overlayKey(keys.map(k => r.getAs[Any](k)), keyTypes))
    if (keyOpts.exists(_.isEmpty)) return false
    val deltaKeys = keyOpts.flatten
    if (op != "rm" && op != "delete" && deltaKeys.distinct.length != deltaKeys.length) return false
    // a new overlay pins its base lazily — the next read materializes it,
    // no job here — so reads of a written relation scan checkpoint blocks
    // instead of recomputing the base's defining plan
    val ov = r.overlay.getOrElse(Overlay(cur.queryExecution.logical match {
      case _: org.apache.spark.sql.execution.LogicalRDD |
           _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => cur
      case _ => cur.ckptLazy()
    }, Map.empty))
    if ((ov.rows.keySet ++ deltaKeys).size > maxDriverPatchKeys) return false
    // base rows of the keys the overlay does not hold, for the ops that
    // check existence or read old rows
    val unknown = deltaKeys.distinct.filterNot(ov.rows.contains)
    val baseRows: Map[Seq[Any], Row] =
      if (op == "put" || op == "rm" || unknown.isEmpty) Map.empty
      else {
        val got = overlayMatch(ov.base, keys, unknown, hit = true).collect().toSeq
        val byKey = got.flatMap(r => overlayKey(keys.map(r.getAs[Any](_)), keyTypes).map(_ -> r)).toMap
        // more rows than keys: the base holds a key twice — fold
        if (got.length > unknown.length || byKey.size != got.length) return false
        byKey
      }
    def current(k: Seq[Any]): Option[Row] = ov.rows.getOrElse(k, baseRows.get(k))
    val written: Seq[(Seq[Any], Option[Row])] = op match {
      case "put" => deltaKeys.zip(typed.map(Some(_)))
      case "rm" => deltaKeys.map(_ -> None)
      case "insert" =>
        val clash = deltaKeys.count(current(_).isDefined)
        if (clash > 0) throw new IllegalStateException(s"insert: $clash key(s) already exist")
        deltaKeys.zip(typed.map(Some(_)))
      case "delete" =>
        val missing = deltaKeys.count(current(_).isEmpty)
        if (missing > 0) throw new IllegalStateException(s"delete: $missing key(s) not present")
        deltaKeys.map(_ -> None)
      case _ => // update: the old row with the delta's non-key columns
        val schema = StructType(cur.schema.fields)
        val at = cols.filterNot(keys.contains).map(c => cur.columns.indexOf(c) -> c)
        deltaKeys.zip(typed).map { case (k, r) =>
          val vs = current(k).getOrElse(
            throw new IllegalStateException("update: key to update does not exist")).toSeq.toArray
          at.foreach { case (j, c) => vs(j) = r.getAs[Any](c) }
          k -> Some(new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(vs, schema))
        }
    }
    val next = Overlay(ov.base, ov.rows ++ written)
    update(rel)(_.copy(overlay = Some(next), view = overlayView(keys, next)))
    overlayWrites += 1
    true
  }

  /** Incremental search-index maintenance on mutation (the reference
    * updates index entries inside the mutation tx, fts/indexing.rs).
    * Driver-resident indexes patch in place from the changed rows: the
    * changed keys and their post-mutation rows are collected (one small
    * job each), FTS re-tokenizes those documents, HNSW rebuilds only the
    * hash buckets they touch. A distributed FTS index or LSH band table
    * absorbs the mutation as a broadcast anti-join on the changed keys
    * plus an O(|delta|) tokenization/signature pass over the new rows —
    * NOT the full-corpus recompute a cache drop would cost on the next
    * probe. Distributed chains are bounded: after [[ftsMaxDeltas]]
    * stacked deltas the cache is dropped and the next probe compacts to
    * a freshly built artifact (checkpoint-block hygiene — the LSM
    * compaction analogue). `::replace` and schema changes re-register
    * the relation, which bumps its version and drops its caches. */
  private[lang] val ftsMaxDeltas = 32
  /** Above this many changed keys a driver index is dropped instead of
    * patched: the next probe rebuilds it (and re-decides its branch). */
  private[lang] var maxDriverPatchKeys: Int = CozoDb.maxLocalRows
  private[lang] var indexFullBuilds = 0 // full builds, both branches; observability for tests
  private[lang] var indexPatches = 0    // distributed HNSW partition patches, for tests
  private[lang] var indexGraphLoads = 0 // distributed HNSW restore shuffles, for tests
  private[lang] var indexDriverBuilds = 0  // full builds that chose the driver branch
  private[lang] var indexDriverPatches = 0 // driver-index patches (FTS and HNSW)
  private[lang] var indexDriverProbes = 0  // probes served by a driver-resident index
  private def maintainIndexes(rel: String, op: String, delta: DataFrame, prev: Long, cur: Long,
                              schemaBefore: Option[StructType]): Unit = indexCacheLock.synchronized {
    // indexes with nothing cached rebuild fresh on their next probe
    val targets = records.get(rel).toSeq.flatMap(_.indexes).filter(t => indexArtifacts.contains(t._1))
    if (targets.isEmpty) return
    val key = keyColOf(rel)
    // A cache may be patched ONLY if it was current right before this
    // mutation (stamped `prev`) and the relation still is at this
    // mutation's version. Anything older is stale (an interleaved
    // mutation, a tx abort) — applying a delta to it and re-stamping
    // would launder the staleness into a "fresh" wrong index, so drop
    // it instead. Anything stamped `cur` or later (a trigger probed and
    // rebuilt mid-mutation, which sees post-mutation data) is already
    // correct — leave it alone.
    val patchable = delta.columns.contains(key) && versionOf(rel) == cur
    lazy val changedIds = delta.select(col(key)).dropDuplicates().ckptLazy()
    // post-mutation rows for the changed keys: present for put/insert/
    // update, naturally empty for rm/delete
    lazy val added = relation(rel).join(changedIds, Seq(key), "left_semi")
    def hasCol(c: String) = relation(rel).columns.contains(c)
    // Driver indexes patch from the changed keys and their post-mutation
    // rows, in the relation's column types: a put/insert's rows are its
    // delta (no read of the new relation), an update's are read back,
    // an rm's are none. A write that changes the relation's column types
    // or touches more than maxDriverPatchKeys keys drops them instead
    // (the next probe rebuilds and re-decides the branch).
    val driverPatchable = patchable &&
      schemaBefore.map(_.map(f => f.name -> f.dataType)) ==
        Some(relation(rel).schema.map(f => f.name -> f.dataType))
    /** (changed keys as `keyCol` reads them, their post-mutation rows
      * through `project`, whose first column is `keyCol`), or None past
      * maxDriverPatchKeys. */
    def driverDelta(keyCol: Column)(project: DataFrame => DataFrame)
        : Option[(Seq[Any], Seq[Row])] = {
      def bounded(df: DataFrame): Option[Seq[Row]] = {
        val rs = df.limit(maxDriverPatchKeys + 1).collect().toSeq
        if (rs.length > maxDriverPatchKeys) None else Some(rs)
      }
      if (op == "put" || op == "insert")
        bounded(project(delta.select(relation(rel).schema.map(f =>
          col(f.name).cast(f.dataType)): _*))).map(rs => (rs.map(_.get(0)).distinct, rs))
      else bounded(delta.select(keyCol)).map(_.map(_.get(0)).distinct).map { keys =>
        val rows =
          if (op != "update") Nil
          else project(relation(rel).filter(col(key).isin(keys: _*))).collect().toSeq
        (keys, rows)
      }
    }
    /** A patched driver index that still fits the byte gate. */
    def gated[A](gate: String, bytes: A => Long)(patched: Option[A]): Option[A] =
      patched.filter(a => graft.plan.Knee.gate(gate, bytes(a), driverIndexGateBytes))
        .map { a => indexDriverPatches += 1; a }
    for ((target, (spec, _)) <- targets) indexArtifacts(target) match {
      case (v, _) if v >= cur => ()
      case (v, artifact) =>
        val next: Option[IndexArtifact] = if (v != prev || !patchable) None else (spec, artifact) match {
          case (f: FtsIdx, DistFts(ix, n)) if hasCol(f.extractor) && n < ftsMaxDeltas =>
            Some(DistFts(graft.search.Fts.Index.applyDelta(ix, changedIds,
              extractFiltered(added, f.extractor, f.extractFilter), key, f.extractor), n + 1))
          case (f: FtsIdx, DriverFts(d)) if driverPatchable && hasCol(f.extractor) =>
            gated[graft.search.DriverFts]("fts_index", _.bytes)(driverDelta(col(key))(df =>
              graft.search.DriverFts.docTokens(extractFiltered(df, f.extractor, f.extractFilter),
                key, f.extractor, f.pipe)).map { case (keys, rows) =>
              d.patch(keys, graft.search.DriverFts.tokenRows(rows))
            }).map(DriverFts)
          case (l: LshIdx, LshBands(bands, n)) if hasCol(l.extractor) && n < ftsMaxDeltas =>
            Some(LshBands(bands.join(broadcast(changedIds), Seq(key), "left_anti")
              .unionByName(lshBandsOf(added, key, l)).ckptLazy(), n + 1))
          // HNSW graphs: rows hash to their bucket by node id, so a
          // mutation rebuilds ONLY the affected buckets' graphs — and a
          // patched index equals a full rebuild exactly (per-bucket
          // insertion order is pinned), so no delta chain and no
          // compaction bound apply; the next probe reloads the graphs.
          case (vi: VecIdx, DistHnsw(dir, loaded)) if hnswIndexEligible(vi) =>
            val (mEff, efcEff) = hnswBuildParams(vi)
            graft.similarity.Ann.hnswPatchIndex(dir, hnswCorpus(vi, hnswAdmitted(vi), key),
              hnswChangedGids(vi, changedIds, key),
              mEff, efcEff, metric = hnswWalkMetric(vi.distance).get,
              extendCandidates = vi.extendCandidates, keepPruned = vi.keepPruned)
            indexPatches += 1
            loaded.foreach(_.unpersist(blocking = false))
            Some(DistHnsw(dir, None))
          case (vi: VecIdx, DriverHnsw(b)) if driverPatchable && hnswIndexEligible(vi) =>
            val nF = vi.fields.length
            val admitted = vi.filter.fold(lit(true))(e =>
              coalesce(compiler(_ => None, Map.empty).compileExpr(e), lit(false)))
            gated[graft.similarity.HnswBuckets]("hnsw_index", _.bytes)(
              driverDelta(col(key).cast("long"))(_.select(col(key).cast("long") +: vi.fields.map(f =>
                when(admitted, col(f).cast("array<float>"))): _*)).map { case (keys, rows) =>
                b.patch(
                  keys.flatMap(k => (0 until nF).map(i => k.asInstanceOf[Long] * nF + i)),
                  rows.flatMap(r => (0 until nF).collect { case i if !r.isNullAt(i + 1) =>
                    (r.getLong(0) * nF + i, r.getSeq[Float](i + 1).toArray)
                  }))._1
              }).map(DriverHnsw)
          case _ => None
        }
        next.fold(dropIndexCaches(target))(a => indexArtifacts(target) = (cur, a))
    }
  }

  // ———————————————————————— helpers ————————————————————————

  private def evalConst(e: Expr, params: Map[String, Any]): Any = e match {
    case Lit(v) => v
    case Un("-", inner) => evalConst(inner, params) match {
      case l: Long => -l
      case d: Double => -d
      case other => throw CompileException(s"cannot negate $other")
    }
    case ListE(items) => items.map(evalConst(_, params))
    case Param(name) => params.getOrElse(name, throw CompileException(s"missing parameter $$$name"))
    case Bin(op, l, r) =>
      (op, evalConst(l, params), evalConst(r, params)) match {
        case ("++", a: String, b: String) => a + b
        case ("++", a: Seq[_], b: Seq[_]) => a ++ b
        case ("+", a: Long, b: Long) => a + b
        case ("+", a: Double, b: Double) => a + b
        case ("-", a: Long, b: Long) => a - b
        case ("*", a: Long, b: Long) => a * b
        case (o, a, b) => throw CompileException(s"cannot fold constant $a $o $b")
      }
    // vec() of a literal numeric list folds on the driver with the
    // `vec` builtin's own narrowing (a cast to array<float>; a list
    // mixing ints and floats is an array<double> first), sparing a
    // vector probe the one-row job of the general fold below
    case App("vec", Seq(arg @ ListE(items))) if items.forall {
        case Lit(_: Long) | Lit(_: Double) => true
        case Un("-", Lit(_: Long) | Lit(_: Double)) => true
        case _ => false
      } =>
      val xs = evalConst(arg, params).asInstanceOf[Seq[Any]]
      val allLong = xs.forall(_.isInstanceOf[Long])
      xs.map {
        case l: Long => if (allLong) l.toFloat else l.toDouble.toFloat
        case d: Double => d.toFloat
      }
    case other =>
      // general constant folding: any variable-free expression (vec(),
      // rand_vec(), math, string ops, …) evaluates through the normal
      // expression compiler on a one-row frame — the analogue of the
      // reference pre-evaluating const-rule expressions
      // (fixed_rule/utilities/constant.rs)
      try {
        val c = compiler(_ => None, params).compileExpr(other)
        spark.range(1).select(c.as("__v")).head().get(0) match {
          case s: scala.collection.Seq[_] => s.toSeq
          case v => v
        }
      } catch {
        case _: CompileException | _: org.apache.spark.sql.AnalysisException =>
          throw CompileException(s"expected a constant, got $other")
      }
  }

  /** Tarjan SCC, emitted in reverse topological order (dependencies
    * first) — the stratum order. */
  private def tarjan(nodes: Seq[String], edges: Map[String, Set[String]]): Seq[Seq[String]] = {
    val index = mutable.HashMap.empty[String, Int]
    val low = mutable.HashMap.empty[String, Int]
    val onStack = mutable.HashSet.empty[String]
    val stack = mutable.Stack.empty[String]
    val out = mutable.ArrayBuffer.empty[Seq[String]]
    var counter = 0
    def strongconnect(v: String): Unit = {
      index(v) = counter; low(v) = counter; counter += 1
      stack.push(v); onStack += v
      for (w <- edges.getOrElse(v, Set.empty).toSeq.sorted) {
        if (!index.contains(w)) { strongconnect(w); low(v) = math.min(low(v), low(w)) }
        else if (onStack(w)) low(v) = math.min(low(v), index(w))
      }
      if (low(v) == index(v)) {
        val comp = mutable.ArrayBuffer.empty[String]
        var w = ""
        while ({ w = stack.pop(); onStack -= w; comp += w; w != v }) ()
        out += comp.toSeq
      }
    }
    nodes.sorted.foreach(v => if (!index.contains(v)) strongconnect(v))
    out.toSeq
  }
}

object CozoDb {

  /** Monotone id for per-instance job-group nonces (see dbNonce). */
  private[lang] val dbCounter = new java.util.concurrent.atomic.AtomicLong(0)

  /** Meet-semilattice aggregations — idempotent, commutative, monotone
    * folds safe inside recursion (aggr.rs:1190-1206 meet_op). */
  val meetAggrs: Set[String] =
    Set("min", "max", "min_cost", "shortest", "choice", "and", "or", "bit_and", "bit_or")

  /** Row count up to which literal rows become a driver-local relation
    * (a `LocalRelation`: no Spark job to read, exact statistics), and
    * up to which a write goes to a relation's write overlay. */
  private[lang] val maxLocalRows = 10000

  /** Build a DataFrame from rows of literals (const rules `<-`,
    * Constant fixed rule). Column types are inferred column-wise with
    * Long+Double unifying to Double; names default to _0.._n. Up to
    * [[maxLocalRows]] rows the frame is driver-local.
    */
  def rowsToDf(spark: SparkSession, rows: Seq[Any], names: Option[Seq[String]]): DataFrame = {
    val (schema, data) = typedRows(rows, names)
    frame(spark, schema, data, maxLocalRows)
  }

  /** A const rule's relation: [[rowsToDf]] under set semantics. Up to
    * `localMax` rows dedupe on the driver into a local relation, with
    * `dropDuplicates`' identity and output: floats normalized (-0.0 is
    * 0.0, every NaN the one NaN), also inside arrays. Larger inputs run
    * `dropDuplicates` as a Spark job. */
  private[lang] def constRelation(spark: SparkSession, rows: Seq[Any],
                                  names: Option[Seq[String]], localMax: Int): DataFrame = {
    val (schema, data) = typedRows(rows, names)
    if (data.length > localMax) frame(spark, schema, data, localMax).dropDuplicates()
    else {
      def norm(v: Any): Any = v match {
        case d: Double => if (d.isNaN) Double.NaN else if (d == 0.0) 0.0 else d
        case f: Float => if (f.isNaN) Float.NaN else if (f == 0.0f) 0.0f else f
        case s: scala.collection.Seq[_] => s.map(norm)
        case other => other
      }
      // equality by bits: a NaN equals itself here, as in Spark's grouping
      def ident(v: Any): Any = v match {
        case d: Double => ("d", java.lang.Double.doubleToLongBits(d))
        case f: Float => ("f", java.lang.Float.floatToIntBits(f))
        case s: scala.collection.Seq[_] => s.map(ident)
        case other => other
      }
      val seen = mutable.HashSet.empty[Any]
      val distinct = data.map(r => Row.fromSeq(r.toSeq.map(norm))).filter(r => seen.add(ident(r.toSeq)))
      frame(spark, schema, distinct, localMax)
    }
  }

  private def frame(spark: SparkSession, schema: StructType, data: Seq[Row],
                    localMax: Int): DataFrame =
    if (data.length <= localMax) spark.createDataFrame(data.asJava, schema)
    else spark.createDataFrame(
      spark.sparkContext.parallelize(data, math.max(1, data.length / 10000)), schema)

  /** The typed schema and rows of literal `rows` (see [[rowsToDf]]). */
  private def typedRows(rows: Seq[Any], names: Option[Seq[String]]): (StructType, Seq[Row]) = {
    val tuples: Seq[Seq[Any]] = rows.map {
      case s: Seq[_] => s
      case other => Seq(other) // list of scalars = single-column rows
    }
    val arity = tuples.headOption.map(_.length)
      .getOrElse(names.map(_.length).getOrElse(0))
    if (tuples.exists(_.length != arity))
      throw Compiler.CompileException("const rows have inconsistent arities")
    val colNames = names.getOrElse((0 until arity).map(i => s"_$i"))
    if (colNames.length != arity)
      throw Compiler.CompileException(
        s"const rule arity $arity does not match head ${colNames.length}")

    // a column mixing value FAMILIES (bool / num / string / list) is an
    // `Any` column (value.rs:143-174): stored as its canonical JSON
    // encoding, tagged with metadata so :sort applies the cross-type
    // total order (AnyValue.sortKey) instead of the string order
    def isAnyMix(values: Seq[Any]): Boolean = {
      val nn = values.filter(_ != null)
      // int/float mixes are Any too: the reference's Num order keeps
      // 1 and 1.0 as DISTINCT set elements (value.rs:575-598, Int <
      // Float on numeric ties); a Long→Double coercion would conflate
      // them under dropDuplicates. Arithmetic over such a column casts
      // back to double at the use site (Compiler numeric ops).
      val intFloatMix =
        nn.exists(_.isInstanceOf[Long]) &&
          nn.exists(v => v.isInstanceOf[Double] || v.isInstanceOf[Float])
      nn.nonEmpty && (intFloatMix ||
        !(nn.forall(_.isInstanceOf[Boolean]) ||
          nn.forall(v => v.isInstanceOf[Long] || v.isInstanceOf[Double] || v.isInstanceOf[Float]) ||
          nn.forall(_.isInstanceOf[String]) ||
          nn.forall(_.isInstanceOf[Seq[_]])))
    }
    def typeOf(values: Seq[Any]): DataType = {
      val nonNull = values.filter(_ != null)
      if (nonNull.isEmpty) StringType
      else if (nonNull.forall(_.isInstanceOf[Boolean])) BooleanType
      else if (nonNull.forall(_.isInstanceOf[Long])) LongType
      else if (nonNull.forall(_.isInstanceOf[Float])) FloatType // vec() F32 payloads
      else if (nonNull.forall(v => v.isInstanceOf[Long] || v.isInstanceOf[Double]
        || v.isInstanceOf[Float])) DoubleType
      else if (nonNull.forall(_.isInstanceOf[String])) StringType
      else if (nonNull.forall(_.isInstanceOf[Seq[_]]))
        ArrayType(typeOf(nonNull.flatMap(_.asInstanceOf[Seq[Any]])))
      else StringType
    }
    val anyCols = (0 until arity).map(i => isAnyMix(tuples.map(_(i))))
    val types = (0 until arity).map(i =>
      if (anyCols(i)) StringType else typeOf(tuples.map(_(i))))
    def coerce(v: Any, t: DataType): Any = (v, t) match {
      case (null, _) => null
      case (l: Long, DoubleType) => l.toDouble
      case (f: Float, DoubleType) => f.toDouble
      case (l: Long, FloatType) => l.toFloat
      case (d: Double, FloatType) => d.toFloat
      case (s: Seq[_], ArrayType(et, _)) => s.map(coerce(_, et))
      case (x, StringType) if !x.isInstanceOf[String] => x.toString
      case (x, _) => x
    }
    val schema = StructType(colNames.zip(types).zipWithIndex.map { case ((n, t), i) =>
      StructField(n, t, nullable = true,
        metadata = if (anyCols(i)) AnyValue.marker else Metadata.empty)
    })
    val data = tuples.map(t => Row.fromSeq(t.zipWithIndex.map { case (v, i) =>
      if (anyCols(i)) AnyValue.encode(v) else coerce(v, types(i))
    }))
    (schema, data)
  }
}
