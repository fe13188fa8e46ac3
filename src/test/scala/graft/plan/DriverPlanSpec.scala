package graft.plan

import graft.SparkFixture
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, GenericInternalRow, InterpretedOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** A relation copy read in key order: the prefix join and the key slice
  * of [[DriverPlan]] against its hash join and plain filter over the
  * same rows held with no sort key. Rows and their order must be equal,
  * -0.0 and NaN bits included. A copy read in key order is never
  * materialized, so a row cap below the copy's size separates the two
  * paths: the hash path trips it, the prefix path does not. */
class DriverPlanSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark

  private val longs: Seq[Any] = Seq(null, 0L, 1L, 2L, 3L, 5L)
  private val strings: Seq[Any] = Seq(null, "a", "b", "bb", "c")
  private val doubles: Seq[Any] = Seq(null, 0.0, -0.0, Double.NaN, 1.5, -2.0)
  private def internal(v: Any): Any = v match {
    case s: String => UTF8String.fromString(s)
    case o => o
  }

  /** Columns (a, b, c) of the given value pools, keyed by (a, b). */
  private final case class Shape(name: String, a: (DataType, Seq[Any]), b: (DataType, Seq[Any]),
                                 c: (DataType, Seq[Any])) {
    val schema = StructType(Seq("a" -> a, "b" -> b, "c" -> c).map { case (n, (t, _)) => StructField(n, t) })
    def rows(rng: Random, n: Int): IndexedSeq[InternalRow] = IndexedSeq.fill(n)(new GenericInternalRow(
      Array(a, b, c).map { case (_, pool) => internal(pool(rng.nextInt(pool.length))) }))
  }
  private val shapes = Seq(
    Shape("long, string", (LongType, longs), (StringType, strings), (DoubleType, doubles)),
    Shape("string, double", (StringType, strings), (DoubleType, doubles), (LongType, longs)),
    Shape("double, long", (DoubleType, doubles), (LongType, longs), (StringType, strings)))

  /** The same rows as a copy sorted by (a, b), and held unsorted with no key. */
  private def copies(shape: Shape, rows: IndexedSeq[InternalRow]): (DriverRows, DriverRows) = {
    val toUnsafe = UnsafeProjection.create(shape.schema)
    val ord = new InterpretedOrdering(Seq(0, 1).map(i =>
      SortOrder(BoundReference(i, shape.schema(i).dataType, nullable = true), Ascending)))
    val sorted = rows.map(r => toUnsafe(r).copy(): InternalRow).sorted(ord)
    (new DriverRows(shape.schema, sorted, IndexedSeq(0, 1)), new DriverRows(shape.schema, sorted))
  }

  private def frame(rows: DriverRows): DataFrame = DriverPlan.scan(spark, rows, rows.schema)

  /** Row values with doubles as their bits. */
  private def values(rows: IndexedSeq[InternalRow], schema: StructType): Seq[Seq[Any]] =
    rows.map(_.toSeq(schema).map {
      case d: Double => ("double", java.lang.Double.doubleToRawLongBits(d))
      case o => o
    })

  private def eval(df: DataFrame, maxRows: Long = Long.MaxValue): IndexedSeq[InternalRow] =
    DriverPlan.eval(df.queryExecution.analyzed, PartialFunction.empty, maxRows)

  /** `q` over the sorted copy equals `q` over the unsorted rows, and with
    * `cap` rows at most per step it still runs over the copy (`inPlace`)
    * or trips the cap (the hash path materializes the copy). */
  private def check(what: String, sorted: DriverRows, plain: DriverRows, cap: Long, inPlace: Boolean)
                   (q: DataFrame => DataFrame): Unit = {
    val (got, want) = (q(frame(sorted)), q(frame(plain)))
    assert(values(eval(got), got.schema) == values(eval(want), want.schema), what)
    if (inPlace) assert(values(eval(got, cap), got.schema) == values(eval(want), want.schema), what)
    else intercept[DriverPlan.Unsupported](eval(got, cap))
  }

  test("a join binding a leading key prefix reads the copy in place, with the hash join's rows and order") {
    for (shape <- shapes; seed <- 1 to 4) {
      val rng = new Random(seed)
      val (sorted, plain) = copies(shape, shape.rows(rng, 200))
      // few probe rows (the hash path walks the copy) and many (it walks the probe side)
      for (probeRows <- Seq(2, 300)) {
        val probe = DriverPlan.frame(spark, new DriverRows(shape.schema, shape.rows(rng, probeRows)))
          .toDF("x", "y", "z")
        def joins(c: DataFrame, cond: (DataFrame, DataFrame) => Column): Map[String, DataFrame] = {
          val renamed = c.select(col("a").as("a1"), col("c"), col("b"))
          Map("copy right" -> probe.join(renamed, cond(probe, renamed)),
            "copy left" -> renamed.join(probe, cond(probe, renamed)))
        }
        val conds: Seq[(String, (DataFrame, DataFrame) => Column)] = Seq(
          "a =" -> ((p, c) => p("x") === c("a1")),
          "a <=>" -> ((p, c) => p("x") <=> c("a1")),
          "(a, b) = and <=>" -> ((p, c) => p("x") === c("a1") && p("y") <=> c("b")),
          "(a, b) <=>, residual" -> ((p, c) => c("a1") <=> p("x") && p("y") <=> c("b") && !(p("z") <=> c("c"))),
          "a <=> and a non-key equality" -> ((p, c) => p("x") <=> c("a1") && p("z") === c("c")))
        for ((name, cond) <- conds; side <- Seq("copy right", "copy left")) {
          // with two probe rows every step stays under the cap, the copy excepted
          check(s"${shape.name} seed $seed, $probeRows probes: $name, $side", sorted, plain,
            if (probeRows == 2) 199L else Long.MaxValue, inPlace = true)(joins(_, cond)(side))
        }
      }
    }
  }

  test("literal equalities on a leading key prefix read one run of the copy") {
    for (shape <- shapes; seed <- 1 to 4) {
      val rng = new Random(seed)
      val (sorted, plain) = copies(shape, shape.rows(rng, 300))
      val Seq(a, b) = Seq(shape.a, shape.b).map { case (_, pool) => pool(1 + rng.nextInt(pool.length - 1)) }
      val filters: Seq[(String, DataFrame => DataFrame)] = Seq(
        "a = v" -> (_.filter(col("a") === lit(a))),
        "a <=> null" -> (_.filter(col("a") <=> lit(null).cast(shape.a._1))),
        "a = null" -> (_.filter(col("a") === lit(null).cast(shape.a._1))),
        "a = v, b = w" -> (_.filter(col("a") === lit(a) && lit(b) === col("b"))),
        "renamed, residual" -> (_.select(col("b").as("bb"), col("a").as("aa"), col("c"))
          .filter(col("aa") === lit(a) && col("c").isNotNull)),
        "only b" -> (_.filter(col("b") === lit(b))))
      for ((name, q) <- filters)
        check(s"${shape.name} seed $seed: $name", sorted, plain, 299L, inPlace = name != "only b")(q)
    }
  }

  test("non-prefix keys, a cast on the copy key and non-inner joins take the hash path") {
    val shape = shapes.head
    val rng = new Random(7)
    val (sorted, plain) = copies(shape, shape.rows(rng, 300))
    val probe = DriverPlan.frame(spark, new DriverRows(shape.schema, shape.rows(rng, 5))).toDF("x", "y", "z")
    val hashed: Seq[(String, DataFrame => DataFrame)] = Seq(
      "b alone" -> (c => probe.join(c, probe("y") === c("b"))),
      "c alone" -> (c => probe.join(c, probe("z") === c("c"))),
      "cast copy key" -> (c => probe.join(c, probe("y") === c("a").cast("string"))),
      "left semi" -> (c => probe.join(c, probe("x") === c("a"), "left_semi")),
      "left anti" -> (c => probe.join(c, probe("x") === c("a"), "left_anti")),
      "left outer" -> (c => probe.join(c, probe("x") === c("a"), "left_outer")))
    for ((name, q) <- hashed) {
      if (name == "left outer") {
        // outside the evaluator: refused either way
        intercept[DriverPlan.Unsupported](eval(q(frame(sorted))))
      } else check(name, sorted, plain, 299L, inPlace = false)(q)
    }
  }

  test("dedup keys: -0.0 is 0.0, NaNs are one value, NULLs are one value; rows come back normalized") {
    val schema = StructType(Seq(StructField("d", DoubleType), StructField("s", StringType)))
    val rows = IndexedSeq[Any](-0.0, 0.0, Double.NaN, java.lang.Double.longBitsToDouble(0x7ff8000000000001L), null, null)
      .map(d => new GenericInternalRow(Array[Any](d, UTF8String.fromString("k"))): InternalRow)
    val out = DriverPlan.distinct(rows, schema)
    assert(values(out, schema) == Seq(
      Seq(("double", 0L), UTF8String.fromString("k")),
      Seq(("double", java.lang.Double.doubleToRawLongBits(Double.NaN)), UTF8String.fromString("k")),
      Seq(null, UTF8String.fromString("k"))))
  }
}
