package graft.plan

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, DeclarativeAggregate}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner, LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{ProjectExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.types._
import scala.collection.mutable

/** Rows held on the driver, in Spark's internal format: a stored
  * relation's per-version copy, or a fixpoint's totals and deltas. A
  * copy is sorted by the columns at `keyIdx` (its key, ascending, NULLs
  * first), so the rows binding a leading prefix of them are one run
  * ([[keyRange]]); other rows have no sort key. Structures derived from
  * the rows may be kept with them ([[derived]]) while `charge`, handed
  * each one's heap bytes, admits them. */
final class DriverRows(val schema: StructType, val rows: IndexedSeq[InternalRow],
                       val keyIdx: IndexedSeq[Int] = IndexedSeq.empty,
                       charge: Long => Boolean = _ => false, knownBytes: Long = -1L) {
  override def toString: String = s"DriverRows(${rows.length} rows)"
  /** Heap bytes of the rows as UnsafeRows (estimated for other rows). */
  lazy val bytes: Long = if (knownBytes >= 0) knownBytes else rows.iterator.map(rowBytes).sum
  private def rowBytes(r: InternalRow): Long = r match {
    case u: UnsafeRow => u.getSizeInBytes.toLong
    case _ => DriverPlan.minRowBytes(schema)
  }

  private val kept = new java.util.concurrent.ConcurrentHashMap[Any, AnyRef]
  // builds lock this, not the row set: `charge` takes the owner's lock,
  // under which the owner may read this row set's lazy `bytes`
  private val building = new Object
  @volatile private var keptBytes = 0L
  /** Heap bytes of the rows and of the structures kept with them. */
  def heldBytes: Long = bytes + keptBytes

  /** The structure under `key` derived from these rows: the one kept,
    * else the one `build` makes with its heap bytes, kept when `charge`
    * admits them. What is kept goes with the rows: whatever retires a
    * copy retires it too. */
  def derived[T <: AnyRef](key: Any)(build: => (T, Long)): T = building.synchronized {
    kept.get(key) match {
      case null =>
        val (t, b) = build
        if (charge(b)) { kept.put(key, t); keptBytes += b }
        t
      case t => t.asInstanceOf[T]
    }
  }

  /** The structure kept under `key`, if any. */
  def keptAs[T <: AnyRef](key: Any): Option[T] = Option(kept.get(key)).map(_.asInstanceOf[T])

  private lazy val keyOrder = keyIdx.map(i => TypeUtils.getInterpretedOrdering(schema(i).dataType))
  /** Key column i's values `x` and `y` compared under the sort order (NULLs first). */
  private def cmpKey(i: Int, x: Any, y: Any): Int =
    if (x == null) { if (y == null) 0 else -1 } else if (y == null) 1 else keyOrder(i).compare(x, y)
  /** Key column i of `r`, null for NULL. */
  private def keyAt(r: InternalRow, i: Int): Any = {
    val k = keyIdx(i)
    if (r.isNullAt(k)) null else r.get(k, schema(k).dataType)
  }
  /** The first `vs.length` key columns of `r` compared with `vs`. */
  private def cmpPrefix(r: InternalRow, vs: Array[Any]): Int = {
    var i = 0; var c = 0
    while (c == 0 && i < vs.length) { c = cmpKey(i, keyAt(r, i), vs(i)); i += 1 }
    c
  }
  /** The first index in `[from, until)` where `below` fails, `below`
    * holding on a leading run of those rows. */
  private def search(from: Int, until: Int)(below: InternalRow => Boolean): Int = {
    var lo = from; var hi = until
    while (lo < hi) {
      val m = (lo + hi) >>> 1
      if (below(rows(m))) lo = m + 1 else hi = m
    }
    lo
  }

  /** The run `[lo, hi)` of rows whose first `vs.length` key columns
    * equal `vs` (NULL matching NULL) under the sort order. */
  def keyRange(vs: Array[Any]): (Int, Int) =
    (search(0, rows.length)(cmpPrefix(_, vs) < 0), search(0, rows.length)(cmpPrefix(_, vs) <= 0))

  /** The part of the run of `vs` ([[keyRange]]) whose next key column is
    * above every `lower` and below every `upper` bound (a value, and
    * whether the bound itself is in) under the sort order, NULLs lowest:
    * empty for a NULL bound or an inverted range. */
  def keySlice(vs: Array[Any], lower: Seq[(Any, Boolean)], upper: Seq[(Any, Boolean)]): (Int, Int) = {
    val (from, until) = keyRange(vs)
    if ((lower ++ upper).exists(_._1 == null)) return (from, from)
    val i = vs.length
    def at(v: Any, past: Boolean): Int = search(from, until) { r =>
      val c = cmpKey(i, keyAt(r, i), v); c < 0 || (past && c == 0)
    }
    val lo = lower.foldLeft(from) { case (m, (v, in)) => math.max(m, at(v, past = !in)) }
    val hi = upper.foldLeft(until) { case (m, (v, in)) => math.min(m, at(v, past = in)) }
    (lo, math.max(lo, hi))
  }

  /** The rows visible at validity `t` (cozo's as-of scan,
    * ra.rs:1124-1241): per run of rows sharing their first `rest` key
    * columns, the last row whose next key column — the validity — is at
    * most `t`: the newest version, and when a flag is the key column
    * after it, an assert over a retract at the same instant (false sorts
    * first). It is kept when its validity is not NULL and its flag (the
    * column at `flag`, if any) is true. The rows keep key order. */
  def asOf(rest: Int, t: Any, flag: Option[Int]): DriverRows = {
    val out = IndexedSeq.newBuilder[InternalRow]
    var i = 0
    while (i < rows.length) {
      val vs = Array.tabulate[Any](rest)(keyAt(rows(i), _))
      val end = search(i, rows.length)(cmpPrefix(_, vs) <= 0)
      val at = if (t == null) i else search(i, end)(r => cmpKey(rest, keyAt(r, rest), t) <= 0)
      if (at > i) {
        val r = rows(at - 1)
        if (!r.isNullAt(keyIdx(rest)) && flag.forall(f => !r.isNullAt(f) && r.getBoolean(f))) out += r
      }
      i = end
    }
    new DriverRows(schema, out.result(), keyIdx)
  }

  /** These rows, read as `schema` (the same columns and types), with the
    * run of each key in `writes` — its values for every sort-key column,
    * keys distinct — replaced by its row, or removed for None: one merge
    * pass in key order, O(rows + writes log writes). Nothing kept with
    * these rows goes with the result. */
  def patched(schema: StructType, writes: Seq[(Array[Any], Option[InternalRow])]): DriverRows = {
    val runs = writes.sortWith { case ((a, _), (b, _)) =>
      var i = 0; var c = 0
      while (c == 0 && i < a.length) { c = cmpKey(i, a(i), b(i)); i += 1 }
      c < 0
    }.map { case (k, row) => (keyRange(k), row) }
    val src = rows.toArray[InternalRow]
    val out = new Array[InternalRow](
      src.length + runs.map { case ((lo, hi), row) => row.size - (hi - lo) }.sum)
    var n = 0; var at = 0
    var held = bytes
    def keep(until: Int): Unit = { System.arraycopy(src, at, out, n, until - at); n += until - at; at = until }
    for (((lo, hi), row) <- runs) {
      keep(lo)
      while (at < hi) { held -= rowBytes(src(at)); at += 1 }
      row.foreach { r => out(n) = r; n += 1; held += rowBytes(r) }
    }
    keep(src.length)
    new DriverRows(schema, scala.collection.immutable.ArraySeq.unsafeWrapArray(out), keyIdx, charge, held)
  }
}

/** A leaf whose rows the driver holds under `key`: a [[DriverRows]] or
  * a caller's placeholder that [[DriverPlan.eval]] binds. Spark never
  * reads the rows: it plans the leaf as `base`, whose output matches
  * `output` by position (see [[DriverPlan.Planning]]). */
final case class ResidentScan(key: AnyRef, output: Seq[Attribute], base: LogicalPlan)
    extends LeafNode with MultiInstanceRelation {
  override def newInstance(): LogicalPlan = copy(output = output.map(_.newInstance()))
  override def computeStats(): Statistics = base.stats
  override def simpleString(maxFields: Int): String =
    s"ResidentScan $key ${output.mkString("[", ", ", "]")}"
}

/** The driver evaluator of analyzed logical plans: the plans that
  * `graft.lang.Compiler` builds for a clause, interpreted tuple by tuple
  * against rows the driver holds, with Catalyst's own expressions (so
  * both engines share one expression semantics). It covers projections,
  * filters, equi- and cross joins (inner, semi, anti), unions,
  * set-dedup and Catalyst's declarative aggregates over
  * [[ResidentScan]], local relations and ranges; any other node or an
  * unevaluable expression throws [[DriverPlan.Unsupported]]. A relation
  * copy read through renames is read in key order, as cozo reads its
  * sorted store (ra.rs:1306-1395): an inner equi-join whose keys bind a
  * leading prefix of the copy's key binary-searches the copy per row of
  * the other side, and literal equalities on such a prefix, with literal
  * range bounds on the key column after it, read one run of it (an
  * aggregate folds that run as it reads it); other joins are hash
  * joins. Dedup, grouping and join keys compare as Spark's do after
  * float normalization: -0.0 is 0.0, every NaN is one NaN, NULLs are
  * equal in `<=>` keys only.
  */
object DriverPlan {
  final class Unsupported(what: String) extends RuntimeException(what, null, false, false)

  /** Smallest UnsafeRow of `schema`: the null bitset plus one 8-byte slot a column. */
  def minRowBytes(schema: StructType): Long = 8L * ((schema.length + 63) / 64 + schema.length)

  /** Estimated heap bytes of one row the evaluator holds: a row and its
    * value array (32) plus a reference and a boxed value a column (24).
    * Variable-width values count as a box: those read from a copy share
    * its buffers. */
  def heapRowBytes(schema: StructType): Long = 32L + 24L * schema.length

  /** A DataFrame over a [[ResidentScan]] of `schema` under `key`, whose
    * Spark plan is `base` (an empty local relation when None). */
  def scan(spark: SparkSession, key: AnyRef, schema: StructType,
           base: Option[DataFrame] = None): DataFrame = {
    val out = DataTypeUtils.toAttributes(schema)
    PlanBridge.frame(spark, ResidentScan(key, out,
      base.fold[LogicalPlan](LocalRelation(out))(_.queryExecution.optimizedPlan)))
  }

  /** A local frame (a LocalRelation: no job to read, exact statistics). */
  def frame(spark: SparkSession, rows: DriverRows): DataFrame =
    PlanBridge.frame(spark, LocalRelation(DataTypeUtils.toAttributes(rows.schema), rows.rows))

  /** Plans a [[ResidentScan]] as its base, renamed to the leaf's attributes. */
  object Planning extends SparkStrategy {
    def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case r: ResidentScan =>
        ProjectExec(r.output.zip(r.base.output).map { case (o, b) => Alias(b, o.name)(o.exprId) },
          planLater(r.base)) :: Nil
      case _ => Nil
    }
    def install(spark: SparkSession): Unit = synchronized {
      if (!spark.experimental.extraStrategies.contains(this))
        spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ this
    }
  }

  /** The rows of `df` computed on the driver when every leaf of its plan
    * holds driver rows — a [[DriverRows]] copy, a local relation, a small
    * range — and no step holds more than `maxRows` rows; None when Spark
    * must run it, also when evaluating it throws (the error then
    * surfaces where Spark raises it). */
  def localRows(df: DataFrame, maxRows: Long): Option[IndexedSeq[InternalRow]] = {
    val plan = df.queryExecution.analyzed
    if (!plan.collectLeaves().forall {
          case ResidentScan(_: DriverRows, _, _) => true
          case l: LocalRelation => l.stream.isEmpty
          case r: Range => r.numElements <= maxRows
          case _ => false
        }) None
    else try Some(eval(plan, PartialFunction.empty, maxRows))
    catch { case scala.util.control.NonFatal(_) => None }
  }

  /** [[localRows]] as external rows. */
  def localExternalRows(df: DataFrame, maxRows: Long): Option[Array[Row]] =
    localRows(df, maxRows).map { rows =>
      val conv = CatalystTypeConverters.createToScalaConverter(df.schema)
      rows.iterator.map(conv(_).asInstanceOf[Row]).toArray
    }

  /** What stays the same while plans are evaluated again and again over
    * changing placeholder rows (a fixpoint's rounds): the rows of every
    * subtree that reads no placeholder. A copy read in key order (a
    * prefix join's copy side, a key slice) is never materialized, so
    * never held here. */
  final class Memo {
    private[DriverPlan] val rows = new java.util.IdentityHashMap[LogicalPlan, IndexedSeq[InternalRow]]
    private val fixed = new java.util.IdentityHashMap[LogicalPlan, java.lang.Boolean]
    private[DriverPlan] def constant(p: LogicalPlan): Boolean =
      fixed.computeIfAbsent(p, _ => p.collectLeaves().forall {
        case ResidentScan(k, _, _) => k.isInstanceOf[DriverRows]
        case _ => true
      })
  }

  /** The rows of `plan`; `bind` maps placeholder keys to their rows.
    * Past `maxRows` rows, or rows of more than `maxBytes` estimated heap
    * bytes ([[heapRowBytes]]), at any step it throws [[Unsupported]]; a
    * join stops as soon as its output passes the bound. */
  def eval(plan: LogicalPlan, bind: PartialFunction[AnyRef, IndexedSeq[InternalRow]],
           maxRows: Long = Long.MaxValue, memo: Memo = null,
           maxBytes: Long = Long.MaxValue): IndexedSeq[InternalRow] = {
    def cap(p: LogicalPlan): Long = math.min(maxRows, maxBytes / heapRowBytes(p.schema))
    def go(p: LogicalPlan): IndexedSeq[InternalRow] = {
      val rows =
        if (memo == null || !memo.constant(p)) node(p)
        else Option(memo.rows.get(p)).getOrElse { val r = node(p); memo.rows.put(p, r); r }
      if (rows.length > cap(p)) throw new Unsupported(s"more than ${cap(p)} rows")
      rows
    }
    def node(p: LogicalPlan): IndexedSeq[InternalRow] = p match {
      case ResidentScan(d: DriverRows, _, _) => d.rows
      case ResidentScan(k, _, _) if bind.isDefinedAt(k) => bind(k)
      case l: LocalRelation if l.stream.isEmpty => l.data.toIndexedSeq
      case r: Range if r.numElements > cap(r) => throw new Unsupported(s"more than ${cap(r)} rows")
      case r: Range => r.start.until(r.end, r.step).map(v => InternalRow(v))
      case SubqueryAlias(_, child) => go(child)
      case ResolvedHint(child, _) => go(child)
      case Project(list, child) => project(list, child, go(child).iterator).toIndexedSeq
      case f @ Filter(cond, child) =>
        sliced(f).getOrElse(filter(cond, child, go(child).iterator)).toIndexedSeq
      case u: Union => u.children.flatMap(go).toIndexedSeq
      case Deduplicate(keys, child) if AttributeSet(keys) == child.outputSet =>
        distinct(go(child), child.schema)
      case Distinct(child) => distinct(go(child), child.schema)
      case j: Join =>
        prefixJoin(j, go, cap(j)).getOrElse(join(j, go(j.left), go(j.right), cap(j)))
      case a: Aggregate => aggregate(a, streamed(a.child).getOrElse(go(a.child).iterator))
      case other => throw new Unsupported(other.nodeName)
    }
    /** The rows of a Project/Filter chain over a [[sliced]] run of a copy,
      * computed as they are read: an aggregate over it folds a run of
      * more rows than the cap (the copy's own rows), which then applies
      * to its groups. None for any other plan. */
    def streamed(p: LogicalPlan): Option[Iterator[InternalRow]] = p match {
      case SubqueryAlias(_, child) => streamed(child)
      case ResolvedHint(child, _) => streamed(child)
      case Project(list, child) => streamed(child).map(project(list, child, _))
      case f @ Filter(cond, child) => sliced(f).orElse(streamed(child).map(filter(cond, child, _)))
      case _ => None
    }
    go(plan)
  }

  private def project(list: Seq[NamedExpression], child: LogicalPlan,
                      in: Iterator[InternalRow]): Iterator[InternalRow] =
    if (list == child.output) in
    else {
      val ex = prepare(list, child.output).toArray
      in.map(r => new GenericInternalRow(ex.map(_.eval(r))): InternalRow)
    }

  private def filter(cond: Expression, child: LogicalPlan, in: Iterator[InternalRow]): Iterator[InternalRow] = {
    val pred = prepare(Seq(cond), child.output).head
    in.filter(r => pred.eval(r) == true)
  }

  /** A stack of Filters over a copy read through renames whose conjuncts
    * together bound a run of it ([[CopyPath.slice]]): the rows of that
    * run the filters keep, innermost filter first, in copy order. */
  private def sliced(f: Filter): Option[Iterator[InternalRow]] = {
    def stack(p: LogicalPlan, conds: List[Expression]): (List[Expression], LogicalPlan) = p match {
      case Filter(c, child) => stack(child, c :: conds)
      case other => (conds, other)
    }
    val (conds, below) = stack(f, Nil)
    copyPath(below).flatMap(_.slice(conds.flatMap(splitAnd))).map { run =>
      val preds = prepare(conds, below.output)
      run.iterator.filter(r => preds.forall(_.eval(r) == true))
    }
  }

  /** Bound, evaluable forms of `es` over `input`: runtime-replaceable
    * expressions take their replacement; anything still unevaluable, and
    * anything nondeterministic (Spark draws it per partition and per
    * run), is [[Unsupported]]. */
  private def prepare(es: Seq[Expression], input: Seq[Attribute]): IndexedSeq[Expression] =
    es.toIndexedSeq.map { e =>
      val b = BindReferences.bindReference(
        e.transformDown { case r: RuntimeReplaceable => r.replacement }, AttributeSeq(input),
        allowFailures = true)
      b.foreach {
        case _: Unevaluable | _: AttributeReference | _: Nondeterministic =>
          throw new Unsupported(s"expression $e")
        case _ =>
      }
      b
    }

  /** The values of `r` (of column `types`) into `into` from `at`. */
  private def fill(r: InternalRow, types: Array[DataType], into: Array[Any], at: Int): Unit = {
    var i = 0
    while (i < types.length) {
      into(at + i) = if (r.isNullAt(i)) null else r.get(i, types(i))
      i += 1
    }
  }

  // ————— keys: Spark's grouping/join identity —————

  /** Grouping keys: `exprs` (bound, evaluable) over a row as an UnsafeRow
    * of their float-normalized values — two keys are equal exactly when
    * Spark groups the two rows together (its hash aggregate compares the
    * same bytes). Maps and collated strings are [[Unsupported]]. */
  final class Keys(exprs: Seq[Expression]) {
    exprs.foreach(e => checkKey(e.dataType))
    private val proj = UnsafeProjection.create(exprs.map(PlanBridge.normalizeFloats))
    def apply(r: InternalRow): UnsafeRow = proj(r).copy()
  }
  object Keys {
    /** Keys of whole rows of `schema`. */
    def of(schema: StructType): Keys =
      new Keys(schema.fields.indices.map(i => BoundReference(i, schema(i).dataType, nullable = true)))
  }

  private def checkKey(dt: DataType): Unit = dt match {
    case s: StringType if s.typeName != "string" => throw new Unsupported(s"collated $s key")
    case ArrayType(et, _) => checkKey(et)
    case st: StructType => st.fields.foreach(f => checkKey(f.dataType))
    case _: MapType | _: UserDefinedType[_] | _: VariantType => throw new Unsupported(s"$dt key")
    case _ =>
  }

  /** `dropDuplicates()`: the first row of each key, normalized (as the
    * UnsafeRow that is its key). */
  def distinct(rows: IndexedSeq[InternalRow], schema: StructType): IndexedSeq[InternalRow] = {
    val keys = Keys.of(schema)
    val seen = new java.util.HashSet[UnsafeRow]
    rows.iterator.map(keys(_)).filter(seen.add).toIndexedSeq
  }

  /** The meet fold of `rows` (cozo's meet aggregations, aggr.rs:1190-1206):
    * one row per key (the columns at `keyIdx`, normalized as grouping
    * outputs them), each other column the min (`isMin`) or max of its
    * non-NULL values under Spark's ordering, first-seen key order. */
  def meetFold(rows: Iterator[InternalRow], schema: StructType, keyIdx: Seq[Int],
               isMin: Int => Boolean): IndexedSeq[InternalRow] = {
    val types = schema.map(_.dataType).toArray
    val keys = new Keys(keyIdx.map(i => BoundReference(i, types(i), nullable = true)))
    val aggIdx = schema.indices.filterNot(keyIdx.contains)
    val ords = aggIdx.map(i => TypeUtils.getInterpretedOrdering(types(i)))
    val groups = mutable.LinkedHashMap.empty[UnsafeRow, Array[Any]]
    rows.foreach { r =>
      val k = keys(r)
      groups.get(k) match {
        case None =>
          val acc = new Array[Any](types.length)
          fill(r, types, acc, 0)
          for ((i, j) <- keyIdx.zipWithIndex) acc(i) = if (k.isNullAt(j)) null else k.get(j, types(i))
          groups(k) = acc
        case Some(acc) =>
          for ((i, ord) <- aggIdx.zip(ords)) {
            val v = if (r.isNullAt(i)) null else r.get(i, types(i))
            if (v != null && (acc(i) == null || {
              val c = ord.compare(v, acc(i)); if (isMin(i)) c < 0 else c > 0
            })) acc(i) = v
          }
      }
    }
    groups.values.map(a => new GenericInternalRow(a): InternalRow).toIndexedSeq
  }

  /** `schema` with every field, element and value nullable — the type a
    * union of rows from several plans can always hold. */
  def nullable(schema: StructType): StructType = nullableType(schema).asInstanceOf[StructType]
  private def nullableType(dt: DataType): DataType = dt match {
    case st: StructType => StructType(st.fields.map(f => f.copy(dataType = nullableType(f.dataType), nullable = true)))
    case ArrayType(et, _) => ArrayType(nullableType(et), containsNull = true)
    case MapType(k, v, _) => MapType(nullableType(k), nullableType(v), valueContainsNull = true)
    case other => other
  }

  // ————— copies read in key order —————

  /** Types whose sort order ties exactly the values Spark's `=` equates:
    * the rows binding such a key value are one run of a sorted copy. */
  private def runKey(dt: DataType): Boolean = dt match {
    case s: StringType => s.typeName == "string"
    case _: NumericType | BooleanType | BinaryType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** A relation copy with a sort key read through renames only (aliases,
    * reorderings, dropped columns): column i of `out` is column
    * `cols(i)` of `copy`. */
  private final class CopyPath(val copy: DriverRows, val out: Seq[Attribute], val cols: Array[Int]) {
    private val types = cols.map(copy.schema(_).dataType)
    private val whole = cols.sameElements(copy.schema.indices)
    /** Copy row `r`'s values in `out`'s layout, into `into` from `at`. */
    def fill(r: InternalRow, into: Array[Any], at: Int): Unit = {
      var i = 0
      while (i < cols.length) {
        into(at + i) = if (r.isNullAt(cols(i))) null else r.get(cols(i), types(i))
        i += 1
      }
    }
    def row(r: InternalRow): InternalRow =
      if (whole) r else { val a = new Array[Any](cols.length); fill(r, a, 0); new GenericInternalRow(a) }

    /** The copy column behind `e` when it is a bare attribute of `out`
      * of a [[runKey]] type, else -1. */
    def column(e: Expression): Int = e match {
      case a: Attribute if runKey(a.dataType) =>
        val i = out.indexWhere(_.exprId == a.exprId); if (i < 0) -1 else cols(i)
      case _ => -1
    }

    /** For each leading sort-key column in turn, the first `binding` that
      * binds it, up to the first key column none binds. */
    def prefix[T](binding: Seq[(Int, T)]): IndexedSeq[T] =
      copy.keyIdx.iterator.map(k => binding.collectFirst { case (`k`, t) => t })
        .takeWhile(_.isDefined).map(_.get).toIndexedSeq

    /** The rows a filter of `conjuncts` may keep, when they bound a run
      * of the copy: literal `=`/`<=>` conjuncts binding a leading prefix
      * of the key, and literal `<`/`<=`/`>`/`>=` bounds on the key column
      * after it, read one binary-searched run, in copy order (the filter
      * itself still runs over it). A literal is a foldable of the
      * column's type. None when they bound nothing. */
    def slice(conjuncts: Seq[Expression]): Option[IndexedSeq[InternalRow]] = {
      // (copy column, comparison, literal, whether the column is its right side)
      val sides = conjuncts.flatMap {
        case c: BinaryComparison => Seq((c, c.left, c.right, false), (c, c.right, c.left, true))
        case _ => Nil
      }.collect { case (c, a, v, right) if column(a) >= 0 && v.foldable && v.deterministic &&
          v.references.isEmpty && v.dataType == a.dataType => (column(a), c, v, right) }
      val bound = prefix(sides.collect { case (k, _: EqualTo | _: EqualNullSafe, v, _) => (k, v) })
      val next = copy.keyIdx.lift(bound.length)
      // (is a lower bound, bound included, literal) on the next key column
      val ranges = sides.collect { case (k, c, v, right) if next.contains(k) => c match {
        case _: GreaterThan => Some((!right, false, v))
        case _: GreaterThanOrEqual => Some((!right, true, v))
        case _: LessThan => Some((right, false, v))
        case _: LessThanOrEqual => Some((right, true, v))
        case _ => None
      } }.flatten
      Option.when(bound.nonEmpty || ranges.nonEmpty) {
        def side(lower: Boolean) = ranges.collect { case (`lower`, in, v) => (v.eval(), in) }
        val (lo, hi) = copy.keySlice(bound.map(_.eval()).toArray, side(lower = true), side(lower = false))
        copy.rows.slice(lo, hi).map(row)
      }
    }
  }

  private def copyPath(p: LogicalPlan): Option[CopyPath] = p match {
    case ResidentScan(d: DriverRows, out, _) if d.keyIdx.nonEmpty =>
      Some(new CopyPath(d, out, out.indices.toArray))
    case SubqueryAlias(_, c) => copyPath(c).map(cp => new CopyPath(cp.copy, p.output, cp.cols))
    case Project(list, c) => copyPath(c).flatMap { cp =>
      val at = list.map {
        case a: Attribute => c.output.indexWhere(_.exprId == a.exprId)
        case Alias(a: Attribute, _) => c.output.indexWhere(_.exprId == a.exprId)
        case _ => -1
      }
      Option.when(at.forall(_ >= 0))(new CopyPath(cp.copy, p.output, at.map(cp.cols).toArray))
    }
    case _ => None
  }

  // ————— joins —————

  /** An inner equi-join whose one side is a [[CopyPath]] and whose keys
    * bind a leading prefix of that copy's sort key: each row of the other
    * side reads its run of the copy ([[DriverRows.keyRange]]) and the
    * whole join condition decides each pair, so NULLs match only under
    * `<=>`. The copy side is never materialized. Rows come in the order
    * [[join]] emits them; None when the join has no such side. */
  private def prefixJoin(j: Join, go: LogicalPlan => IndexedSeq[InternalRow],
                         maxRows: Long): Option[IndexedSeq[InternalRow]] = {
    if (j.joinType != Inner || j.condition.isEmpty) return None
    val conjuncts = splitAnd(j.condition.get)
    /** The copy side's path and the other side's expressions binding its key prefix. */
    def keyed(copySide: LogicalPlan, other: LogicalPlan): Option[(CopyPath, IndexedSeq[Expression])] =
      copyPath(copySide).flatMap { cp =>
        val binding = conjuncts.flatMap {
          case EqualTo(a, b) => Seq((a, b), (b, a))
          case EqualNullSafe(a, b) => Seq((a, b), (b, a))
          case _ => Nil
        }.collect { case (a, e) if cp.column(a) >= 0 && e.references.subsetOf(other.outputSet) &&
            e.dataType == a.dataType => (cp.column(a), e) }
        Option(cp.prefix(binding)).filter(_.nonEmpty).map((cp, _))
      }
    val found = keyed(j.right, j.left).map((_, false)).orElse(keyed(j.left, j.right).map((_, true)))
    found.map { case ((cp, keyEx), copyLeft) =>
      val other = if (copyLeft) j.right else j.left
      val probe = go(other)
      val pk = prepare(keyEx, other.output).toArray
      // the condition over (copy row, probe row) or (probe row, copy row)
      val copyAttrs = DataTypeUtils.toAttributes(cp.copy.schema)
      val sub = cp.out.zip(cp.cols).map { case (a, c) => a.exprId -> copyAttrs(c) }.toMap
      val cond = j.condition.get.transform { case a: Attribute if sub.contains(a.exprId) => sub(a.exprId) }
      val test = prepare(Seq(cond), if (copyLeft) copyAttrs ++ other.output else other.output ++ copyAttrs).head
      val rows = cp.copy.rows
      val joined = new JoinedRow
      val pairs = mutable.ArrayBuilder.make[Long] // probe index << 32 | copy index
      var n = 0L
      val vs = new Array[Any](pk.length)
      for (pi <- probe.indices) {
        val p = probe(pi)
        for (i <- pk.indices) vs(i) = pk(i).eval(p)
        val (lo, hi) = cp.copy.keyRange(vs)
        var ci = lo
        while (ci < hi) {
          if (test.eval(if (copyLeft) joined(rows(ci), p) else joined(p, rows(ci))) == true) {
            pairs += (pi.toLong << 32 | ci)
            n += 1
            if (n > maxRows) throw new Unsupported(s"more than $maxRows rows")
          }
          ci += 1
        }
      }
      // [[join]] walks the right side when it builds over the left (the
      // smaller side), else the left; walking the copy lists its rows in
      // copy order, each with its partners in probe order
      val buildLeft = (if (copyLeft) rows.length else probe.length) <
        (if (copyLeft) probe.length else rows.length)
      val order = pairs.result()
      if (copyLeft != buildLeft) { // copy-major: sort with the halves swapped
        order.mapInPlace(java.lang.Long.rotateLeft(_, 32))
        java.util.Arrays.sort(order)
        order.mapInPlace(java.lang.Long.rotateLeft(_, 32))
      }
      val probeTypes = other.output.map(_.dataType).toArray
      val width = cp.cols.length + probeTypes.length
      order.toIndexedSeq.map { code =>
        val (p, c) = (probe((code >>> 32).toInt), rows((code & 0xffffffffL).toInt))
        val a = new Array[Any](width)
        if (copyLeft) { cp.fill(c, a, 0); fill(p, probeTypes, a, cp.cols.length) }
        else { fill(p, probeTypes, a, 0); cp.fill(c, a, probeTypes.length) }
        new GenericInternalRow(a): InternalRow
      }
    }
  }

  /** A hash join over the smaller side; semi and anti joins build over
    * the right. */
  private def join(j: Join, l: IndexedSeq[InternalRow], r: IndexedSeq[InternalRow],
                   maxRows: Long): IndexedSeq[InternalRow] = {
    if (!Seq(Inner, Cross, LeftSemi, LeftAnti).contains(j.joinType))
      throw new Unsupported(s"${j.joinType} join")
    val (lo, ro) = (j.left.outputSet, j.right.outputSet)
    def side(a: Expression, b: Expression): Option[(Expression, Expression)] =
      if (a.references.subsetOf(lo) && b.references.subsetOf(ro)) Some((a, b))
      else if (a.references.subsetOf(ro) && b.references.subsetOf(lo)) Some((b, a))
      else None
    // equi-conjuncts become hash keys (nullSafe: NULL matches NULL); the rest is a residual filter
    val conjuncts = j.condition.toSeq.flatMap(splitAnd)
    val keyed = conjuncts.map {
      case EqualNullSafe(a, b) => side(a, b).map { case (x, y) => (x, y, true) }
      case EqualTo(a, b) => side(a, b).map { case (x, y) => (x, y, false) }
      case _ => None
    }
    val keys = keyed.flatten
    val residual = conjuncts.zip(keyed).collect { case (c, None) => c }.reduceOption(And)
    val lk = new Keys(prepare(keys.map(_._1), j.left.output))
    val rk = new Keys(prepare(keys.map(_._2), j.right.output))
    val strict = keys.indices.filterNot(keys(_)._3)
    val res = residual.map(c => prepare(Seq(c), j.left.output ++ j.right.output).head)
    /** The key of `r`; null when a `=` key is NULL (it matches nothing). */
    def key(r: InternalRow, ks: Keys): UnsafeRow = {
      val k = ks(r); if (strict.exists(k.isNullAt)) null else k
    }
    val buildLeft = (j.joinType == Inner || j.joinType == Cross) && l.length < r.length
    val table = new java.util.HashMap[UnsafeRow, mutable.ArrayBuffer[InternalRow]]
    (if (buildLeft) l else r).foreach { row =>
      val k = key(row, if (buildLeft) lk else rk)
      if (k != null) table.computeIfAbsent(k, _ => mutable.ArrayBuffer.empty) += row
    }
    val joined = new JoinedRow
    def matches(a: InternalRow, b: InternalRow): Boolean = res.forall(_.eval(joined(a, b)) == true)
    /** The build side's rows under `row`'s key. */
    def partners(row: InternalRow, ks: Keys): Iterator[InternalRow] = {
      val k = key(row, ks)
      if (k == null) Iterator.empty else Option(table.get(k)).iterator.flatten
    }
    j.joinType match {
      case LeftSemi => l.filter(a => partners(a, lk).exists(matches(a, _)))
      case LeftAnti => l.filter(a => !partners(a, lk).exists(matches(a, _)))
      case _ =>
        val (lt, rt) = (j.left.output.map(_.dataType).toArray, j.right.output.map(_.dataType).toArray)
        val out = mutable.ArrayBuffer.empty[InternalRow]
        def emit(a: InternalRow, b: InternalRow): Unit = if (matches(a, b)) {
          val v = new Array[Any](lt.length + rt.length)
          fill(a, lt, v, 0); fill(b, rt, v, lt.length)
          out += new GenericInternalRow(v)
          if (out.length > maxRows) throw new Unsupported(s"more than $maxRows rows")
        }
        if (buildLeft) r.foreach(b => partners(b, rk).foreach(emit(_, b)))
        else l.foreach(a => partners(a, lk).foreach(emit(a, _)))
        out.toIndexedSeq
    }
  }

  private def splitAnd(e: Expression): Seq[Expression] = e match {
    case And(a, b) => splitAnd(a) ++ splitAnd(b)
    case other => Seq(other)
  }

  // ————— aggregation —————

  /** `a` over its input rows `in` with Catalyst's own definitions of its
    * aggregates: each group's buffer starts at the functions'
    * `initialValues`, every row goes through their `updateExpressions`
    * (Spark's Complete mode) and `evaluateExpression` gives the value.
    * Only [[DeclarativeAggregate]]s (sum, count, avg, min, max, …)
    * without DISTINCT or FILTER; anything else is [[Unsupported]]. Groups
    * come in first-seen order; with no grouping key, no rows give one
    * row of initial values. */
  private def aggregate(a: Aggregate, in: Iterator[InternalRow]): IndexedSeq[InternalRow] = {
    val aggs = a.aggregateExpressions.flatMap(_.collect { case ae: AggregateExpression => ae }).distinct
    val fns = aggs.map {
      case AggregateExpression(f: DeclarativeAggregate, _, false, None, _) => f
      case other => throw new Unsupported(s"aggregate $other")
    }
    val buffer = fns.flatMap(_.aggBufferAttributes)
    val init = prepare(fns.flatMap(_.initialValues), Nil).toArray
    val update = prepare(fns.flatMap(_.updateExpressions), buffer ++ a.child.output).toArray
    val evaluate = prepare(fns.map(_.evaluateExpression), buffer).toArray
    val groupKeys = new Keys(prepare(a.groupingExpressions, a.child.output))
    val groups = mutable.LinkedHashMap.empty[UnsafeRow, GenericInternalRow]
    def fresh() = new GenericInternalRow(init.map(_.eval()))
    val joined = new JoinedRow
    in.foreach { r =>
      val buf = groups.getOrElseUpdate(groupKeys(r), fresh())
      joined(buf, r)
      // every new value from the old buffer
      val next = update.map(_.eval(joined))
      System.arraycopy(next, 0, buf.values, 0, next.length)
    }
    if (groups.isEmpty && a.groupingExpressions.isEmpty) groups(groupKeys(InternalRow.empty)) = fresh()
    // result expressions over (grouping values ++ aggregate values)
    val gTypes = a.groupingExpressions.map(_.dataType).toArray
    val nG = gTypes.length
    val result = a.aggregateExpressions.map { e =>
      val b = e.transformDown {
        case ae: AggregateExpression => BoundReference(nG + aggs.indexOf(ae), ae.dataType, nullable = true)
        case x if a.groupingExpressions.indexWhere(_.semanticEquals(x)) >= 0 =>
          val i = a.groupingExpressions.indexWhere(_.semanticEquals(x))
          BoundReference(i, x.dataType, x.nullable)
      }
      prepare(Seq(b), Nil).head
    }.toArray
    groups.iterator.map { case (g, buf) =>
      val v = new Array[Any](nG + evaluate.length)
      fill(g, gTypes, v, 0)
      for (i <- evaluate.indices) v(nG + i) = evaluate(i).eval(buf)
      val row = new GenericInternalRow(v)
      new GenericInternalRow(result.map(_.eval(row))): InternalRow
    }.toIndexedSeq
  }
}
