package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plan._

/** Keyed mutation semantics of the reference's relation sinks
  * (`RelationOp`, cozo-core/src/data/program.rs:195-205; execution
  * query/stored.rs:44-207): `put`=upsert, `insert`=error on existing
  * key, `update`=partial non-key update, `rm`=delete by key (missing
  * ok), `delete`=error on missing key, `ensure`/`ensure_not`=assertions.
  *
  * Spark-first shape: each mutation is a read-join-write producing the
  * new table state (Delta-style MERGE composed from anti/semi joins).
  * Keys match NULL-safely (`<=>`): cozo stores Null as an ordinary key
  * value, and Datalog joins unify NULLs too. The joins are equi joins,
  * so a delta with exact statistics (a driver-local `LocalRelation`)
  * broadcasts; a checkpointed delta carries default leaf statistics
  * and shuffles.
  */
object Mutations {

  /** `current` rows whose key does (`left_semi`) or does not
    * (`left_anti`) occur in `other`, keys matched NULL-safely. */
  def keyFilter(current: DataFrame, other: DataFrame, keys: Seq[String], how: String): DataFrame =
    current.join(keysApart(other, keys), nullSafeOn(keys), how)

  /** `other`'s key columns renamed apart (`__rk<i>`), plus `carry`. */
  private def keysApart(other: DataFrame, keys: Seq[String], carry: Seq[String] = Nil): DataFrame =
    other.select(keys.indices.map(i => col(keys(i)).as(s"__rk$i")) ++ carry.map(col): _*)

  /** NULL-safe equality of the left side's keys with [[keysApart]]'s. */
  private def nullSafeOn(keys: Seq[String]): Column =
    keys.indices.map(i => col(keys(i)) <=> col(s"__rk$i")).reduce(_ && _)

  /** Upsert: rows of `delta` replace current rows with the same key
    * (stored.rs:208 put_into_relation). */
  def put(current: DataFrame, delta: DataFrame, keys: Seq[String]): DataFrame =
    keyFilter(current, delta, keys, "left_anti")
      .unionByName(delta.select(current.columns.map(col): _*))

  /** Insert: like put, but raises if any key already exists (stored.rs:199). */
  def insert(current: DataFrame, delta: DataFrame, keys: Seq[String]): DataFrame = {
    val clash = keyFilter(current, delta, keys, "left_semi")
    if (!clash.isEmpty)
      throw new IllegalStateException(s"insert: ${clash.count()} key(s) already exist")
    current.unionByName(delta.select(current.columns.map(col): _*))
  }

  /** Partial update of non-key columns for matching keys; other rows and
    * columns untouched. Updating a key that does not exist raises like
    * the reference ("key to update does not exist",
    * stored.rs:590-597 update_in_relation). `delta` carries keys + the
    * subset of non-key columns to overwrite. */
  def update(current: DataFrame, delta: DataFrame, keys: Seq[String]): DataFrame = {
    val updCols = delta.columns.filterNot(keys.contains)
    // a __hit marker (not coalesce) distinguishes "row not updated"
    // from "column explicitly updated to NULL" — the reference writes
    // the extracted value verbatim, nulls included
    val renamed = updCols.foldLeft(delta)((d, c) => d.withColumnRenamed(c, s"__new_$c"))
      .withColumn("__hit", lit(true))
    val payload = keysApart(renamed, keys, renamed.columns.filterNot(keys.contains).toSeq)
    // ONE left join carries the merge, materialized once (LAZY
    // checkpoint: the existence-check action below computes it, the
    // final select reuses the persisted blocks). The existence check
    // derives from the SAME frame (matched delta keys vs delta keys — a
    // missing key is one the join never hit), and BOTH distinct-key
    // counts ride ONE Spark action as a two-row union.
    val joined = current.join(payload, nullSafeOn(keys), "left")
      .drop(keys.indices.map(i => s"__rk$i"): _*).ckptLazy()
    val keyCols = keys.map(col)
    val counts = joined.filter(col("__hit")).select(keyCols: _*).distinct()
      .agg(count(lit(1)).as("__c")).select(lit("matched").as("__k"), col("__c"))
      .unionByName(renamed.select(keyCols: _*).distinct()
        .agg(count(lit(1)).as("__c")).select(lit("delta").as("__k"), col("__c")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    if (counts("matched") < counts("delta"))
      throw new IllegalStateException("update: key to update does not exist")
    joined.select(current.columns.map { c =>
      if (updCols.contains(c))
        when(col("__hit"), col(s"__new_$c")).otherwise(col(c)).as(c)
      else col(c)
    }: _*)
  }

  /** Delete by key; missing keys are ignored (stored.rs `rm`). */
  def rm(current: DataFrame, keysDf: DataFrame, keys: Seq[String]): DataFrame =
    keyFilter(current, keysDf, keys, "left_anti")

  /** Delete by key; raises if any key is missing (stored.rs:148). */
  def delete(current: DataFrame, keysDf: DataFrame, keys: Seq[String]): DataFrame = {
    val missing = keyFilter(keysDf, current, keys, "left_anti")
    if (!missing.isEmpty)
      throw new IllegalStateException(s"delete: ${missing.count()} key(s) not present")
    rm(current, keysDf, keys)
  }

  /** Assert rows exist exactly as given (stored.rs:152-169 `ensure`). */
  def ensure(current: DataFrame, rows: DataFrame): Unit = {
    val missing = rows.except(current.select(rows.columns.map(col): _*))
    if (!missing.isEmpty)
      throw new IllegalStateException(s"ensure: ${missing.count()} row(s) absent")
  }

  /** Assert no such rows exist (stored.rs `ensure_not`). */
  def ensureNot(current: DataFrame, rows: DataFrame): Unit = {
    val present = rows.intersect(current.select(rows.columns.map(col): _*))
    if (!present.isEmpty)
      throw new IllegalStateException(s"ensure_not: ${present.count()} row(s) present")
  }
}
