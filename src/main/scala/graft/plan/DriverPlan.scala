package graft.plan

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Max, Min}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner, LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, TypeUtils}
import org.apache.spark.sql.execution.{ProjectExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.types._
import scala.collection.mutable

/** Rows held on the driver, in Spark's internal format: a stored
  * relation's per-version copy, or a fixpoint's totals and deltas. */
final class DriverRows(val schema: StructType, val rows: IndexedSeq[InternalRow]) {
  override def toString: String = s"DriverRows(${rows.length} rows)"
  /** Heap bytes of the rows as UnsafeRows (estimated for other rows). */
  lazy val bytes: Long = rows.iterator.map {
    case u: UnsafeRow => u.getSizeInBytes.toLong
    case _ => DriverPlan.minRowBytes(schema)
  }.sum
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
  * set-dedup and min/max aggregation over [[ResidentScan]], local
  * relations and ranges; any other node or an unevaluable expression
  * throws [[DriverPlan.Unsupported]]. Dedup, grouping and join keys
  * compare as Spark's do after float normalization: -0.0 is 0.0, every
  * NaN is one NaN, NULLs are equal in `<=>` keys only.
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
    * subtree that reads no placeholder, and the join hash tables built
    * over such subtrees. */
  final class Memo {
    private[DriverPlan] val rows = new java.util.IdentityHashMap[LogicalPlan, IndexedSeq[InternalRow]]
    private[DriverPlan] val tables = new java.util.IdentityHashMap[Join, Table]
    private[DriverPlan] val fixed = new java.util.IdentityHashMap[LogicalPlan, java.lang.Boolean]
    private[DriverPlan] def constant(p: LogicalPlan): Boolean =
      fixed.computeIfAbsent(p, _ => p.collectLeaves().forall {
        case ResidentScan(k, _, _) => k.isInstanceOf[DriverRows]
        case _ => true
      })
  }
  private type Table = mutable.HashMap[IndexedSeq[Any], mutable.ArrayBuffer[InternalRow]]

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
      case Project(list, child) =>
        val ex = prepare(list, child.output)
        go(child).map(r => new GenericInternalRow(ex.map(_.eval(r)).toArray): InternalRow)
      case Filter(cond, child) =>
        val pred = prepare(Seq(cond), child.output).head
        go(child).filter(r => pred.eval(r) == true)
      case u: Union => u.children.flatMap(go).toIndexedSeq
      case Deduplicate(keys, child) if AttributeSet(keys) == child.outputSet =>
        distinct(go(child), child.schema)
      case Distinct(child) => distinct(go(child), child.schema)
      case j: Join => join(j, go(j.left), go(j.right), cap(j), memo)
      case a: Aggregate => aggregate(a, go(a.child))
      case other => throw new Unsupported(other.nodeName)
    }
    go(plan)
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

  // ————— keys: Spark's grouping/join identity —————

  /** The value as a hash key, equal exactly when Spark groups the two
    * values together: floats normalized, arrays and structs compared by
    * content. Maps and collated strings are [[Unsupported]]. */
  private def keyOf(v: Any, dt: DataType): Any = if (v == null) null else dt match {
    // by bits: Scala's == on boxed doubles says NaN != NaN
    case DoubleType => java.lang.Double.doubleToLongBits(normalize(v, dt).asInstanceOf[Double])
    case FloatType => ("f", java.lang.Float.floatToIntBits(normalize(v, dt).asInstanceOf[Float]))
    case s: StringType if s.typeName != "string" => throw new Unsupported(s"collated $s key")
    case BinaryType => v.asInstanceOf[Array[Byte]].toSeq
    case ArrayType(et, _) =>
      val a = v.asInstanceOf[ArrayData]
      IndexedSeq.tabulate(a.numElements())(i => keyOf(if (a.isNullAt(i)) null else a.get(i, et), et))
    case st: StructType =>
      val r = v.asInstanceOf[InternalRow]
      st.fields.indices.map(i => keyOf(if (r.isNullAt(i)) null else r.get(i, st(i).dataType), st(i).dataType))
    case _: MapType | _: UserDefinedType[_] | _: VariantType => throw new Unsupported(s"$dt key")
    case _ => v
  }

  /** `v` as Spark's grouping outputs it: -0.0 as 0.0 and every NaN as
    * the one NaN, also inside arrays and structs. */
  private def normalize(v: Any, dt: DataType): Any = if (v == null) null else dt match {
    case DoubleType =>
      val d = v.asInstanceOf[Double]; if (d.isNaN) Double.NaN else if (d == 0.0) 0.0 else d
    case FloatType =>
      val f = v.asInstanceOf[Float]; if (f.isNaN) Float.NaN else if (f == 0.0f) 0.0f else f
    case ArrayType(et, _) if hasFloats(et) =>
      val a = v.asInstanceOf[ArrayData]
      new GenericArrayData(Array.tabulate[Any](a.numElements())(i =>
        if (a.isNullAt(i)) null else normalize(a.get(i, et), et)))
    case st: StructType if hasFloats(st) => normalizeRow(v.asInstanceOf[InternalRow], st)
    case _ => v
  }

  private def hasFloats(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType => true
    case ArrayType(et, _) => hasFloats(et)
    case st: StructType => st.fields.exists(f => hasFloats(f.dataType))
    case MapType(k, v, _) => hasFloats(k) || hasFloats(v)
    case _ => false
  }

  private def normalizeRow(r: InternalRow, schema: StructType): InternalRow =
    if (!hasFloats(schema)) r
    else new GenericInternalRow(Array.tabulate[Any](schema.length)(i =>
      if (r.isNullAt(i)) null else normalize(r.get(i, schema(i).dataType), schema(i).dataType)))

  /** The key of a whole row (see [[keyOf]]). */
  def rowKey(r: InternalRow, schema: StructType): IndexedSeq[Any] =
    schema.fields.indices.map(i =>
      keyOf(if (r.isNullAt(i)) null else r.get(i, schema(i).dataType), schema(i).dataType))

  /** `dropDuplicates()`: the first row of each key, normalized. */
  def distinct(rows: IndexedSeq[InternalRow], schema: StructType): IndexedSeq[InternalRow] = {
    val seen = mutable.HashSet.empty[IndexedSeq[Any]]
    rows.filter(r => seen.add(rowKey(r, schema))).map(normalizeRow(_, schema))
  }

  /** The meet fold of `rows` (cozo's meet aggregations, aggr.rs:1190-1206):
    * one row per key (the columns at `keyIdx`, normalized as grouping
    * outputs them), each other column the min (`isMin`) or max of its
    * non-NULL values under Spark's ordering, first-seen key order. */
  def meetFold(rows: Iterator[InternalRow], schema: StructType, keyIdx: Seq[Int],
               isMin: Int => Boolean): IndexedSeq[InternalRow] = {
    val aggIdx = schema.indices.filterNot(keyIdx.contains)
    val ords = aggIdx.map(i => TypeUtils.getInterpretedOrdering(schema(i).dataType))
    val groups = mutable.LinkedHashMap.empty[IndexedSeq[Any], Array[Any]]
    rows.foreach { r =>
      val vals = r.toSeq(schema)
      val k = keyIdx.map(i => keyOf(vals(i), schema(i).dataType)).toIndexedSeq
      groups.get(k) match {
        case None =>
          groups(k) = Array.tabulate(schema.length)(i =>
            if (keyIdx.contains(i)) normalize(vals(i), schema(i).dataType) else vals(i))
        case Some(acc) =>
          for ((i, ord) <- aggIdx.zip(ords)) {
            val v = vals(i)
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

  // ————— joins —————

  /** A hash join: the table is built over the side that stays the same
    * between evaluations (kept in `memo`), else over the smaller side;
    * semi and anti joins build over the right. */
  private def join(j: Join, l: IndexedSeq[InternalRow], r: IndexedSeq[InternalRow],
                   maxRows: Long, memo: Memo): IndexedSeq[InternalRow] = {
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
    val lk = prepare(keys.map(_._1), j.left.output)
    val rk = prepare(keys.map(_._2), j.right.output)
    val types = keys.map(_._1.dataType)
    val nullSafe = keys.map(_._3)
    val joinedOut = j.left.output ++ j.right.output
    val res = residual.map(c => prepare(Seq(c), joinedOut).head)
    def key(r: InternalRow, ex: IndexedSeq[Expression]): Option[IndexedSeq[Any]] = {
      val vs = ex.indices.map(i => keyOf(ex(i).eval(r), types(i)))
      if (vs.indices.exists(i => vs(i) == null && !nullSafe(i))) None else Some(vs)
    }
    val inner = j.joinType == Inner || j.joinType == Cross
    val (constL, constR) = if (memo == null) (false, false) else (memo.constant(j.left), memo.constant(j.right))
    val buildLeft = inner && ((constL && !constR) || (constL == constR && l.length < r.length))
    def build(rows: IndexedSeq[InternalRow], ex: IndexedSeq[Expression]): Table = {
      val t: Table = mutable.HashMap.empty
      rows.foreach(row => key(row, ex).foreach(k => t.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += row))
      t
    }
    val table =
      if (buildLeft) { if (constL) memo.tables.computeIfAbsent(j, _ => build(l, lk)) else build(l, lk) }
      else if (constR) memo.tables.computeIfAbsent(j, _ => build(r, rk))
      else build(r, rk)
    val (ls, rs) = (j.left.schema, j.right.schema)
    def matches(a: InternalRow, b: InternalRow): Boolean = res.forall(_.eval(new JoinedRow(a, b)) == true)
    /** Right rows matching left row `a` (a table over the right). */
    def rightOf(a: InternalRow): Iterator[InternalRow] =
      key(a, lk).flatMap(table.get).iterator.flatten.filter(matches(a, _))
    j.joinType match {
      case LeftSemi => l.filter(a => rightOf(a).hasNext)
      case LeftAnti => l.filter(a => !rightOf(a).hasNext)
      case _ =>
        val out = mutable.ArrayBuffer.empty[InternalRow]
        def emit(a: InternalRow, b: InternalRow): Unit = {
          out += new GenericInternalRow((a.toSeq(ls) ++ b.toSeq(rs)).toArray)
          if (out.length > maxRows) throw new Unsupported(s"more than $maxRows rows")
        }
        if (buildLeft)
          r.foreach(b => key(b, rk).flatMap(table.get).iterator.flatten.foreach(a => if (matches(a, b)) emit(a, b)))
        else l.foreach(a => rightOf(a).foreach(emit(a, _)))
        out.toIndexedSeq
    }
  }

  private def splitAnd(e: Expression): Seq[Expression] = e match {
    case And(a, b) => splitAnd(a) ++ splitAnd(b)
    case other => Seq(other)
  }

  // ————— min/max aggregation —————

  private def aggregate(a: Aggregate, in: IndexedSeq[InternalRow]): IndexedSeq[InternalRow] = {
    val aggs = a.aggregateExpressions.flatMap(_.collect { case ae: AggregateExpression => ae }).distinct
    val fns = aggs.map {
      case AggregateExpression(f @ (_: Min | _: Max), _, false, None, _) => f
      case other => throw new Unsupported(s"aggregate $other")
    }
    val groupEx = prepare(a.groupingExpressions, a.child.output)
    val valueEx = prepare(fns.map(_.children.head), a.child.output)
    val orderings = fns.map(f => TypeUtils.getInterpretedOrdering(f.children.head.dataType))
    val isMin = fns.map(_.isInstanceOf[Min])
    val gTypes = a.groupingExpressions.map(_.dataType)
    val groups = mutable.LinkedHashMap.empty[IndexedSeq[Any], (IndexedSeq[Any], Array[Any])]
    in.foreach { r =>
      val g = groupEx.map(_.eval(r))
      val (_, acc) = groups.getOrElseUpdate(g.indices.map(i => keyOf(g(i), gTypes(i))),
        (g.indices.map(i => normalize(g(i), gTypes(i))), new Array[Any](fns.length)))
      for (i <- fns.indices) {
        val v = valueEx(i).eval(r)
        if (v != null && (acc(i) == null || {
          val c = orderings(i).compare(v, acc(i)); if (isMin(i)) c < 0 else c > 0
        })) acc(i) = v
      }
    }
    if (groups.isEmpty && a.groupingExpressions.isEmpty)
      groups(IndexedSeq.empty) = (IndexedSeq.empty, new Array[Any](fns.length))
    // result expressions over (grouping values ++ aggregate values)
    val nG = a.groupingExpressions.length
    val result = a.aggregateExpressions.map { e =>
      val b = e.transformDown {
        case ae: AggregateExpression => BoundReference(nG + aggs.indexOf(ae), ae.dataType, nullable = true)
        case x if a.groupingExpressions.indexWhere(_.semanticEquals(x)) >= 0 =>
          val i = a.groupingExpressions.indexWhere(_.semanticEquals(x))
          BoundReference(i, x.dataType, x.nullable)
      }
      prepare(Seq(b), Nil).head
    }
    groups.values.map { case (g, acc) =>
      val row = new GenericInternalRow((g ++ acc).toArray)
      new GenericInternalRow(result.map(_.eval(row)).toArray): InternalRow
    }.toIndexedSeq
  }
}
