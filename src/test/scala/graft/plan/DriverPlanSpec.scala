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

  test("literal range bounds after an equality prefix read one run of the copy, as the filter path keeps them") {
    for (shape <- shapes; seed <- 1 to 4) {
      val rng = new Random(seed)
      val (sorted, plain) = copies(shape, shape.rows(rng, 300))
      def pick(pool: Seq[Any]): Any = pool(1 + rng.nextInt(pool.length - 1))
      val (ta, tb) = (shape.a._1, shape.b._1)
      val Seq(a, a2) = Seq.fill(2)(pick(shape.a._2))
      val (b, b2) = (pick(shape.b._2), pick(shape.b._2))
      val (lo, hi) = (lit(a).cast(ta), lit(a2).cast(ta)) // either order: some ranges are inverted
      val filters: Seq[(String, DataFrame => DataFrame)] = Seq(
        "a > v" -> (_.filter(col("a") > lo)),
        "a >= v" -> (_.filter(col("a") >= lo)),
        "a < v" -> (_.filter(col("a") < lo)),
        "a <= v" -> (_.filter(col("a") <= lo)),
        "v > a (flipped)" -> (_.filter(lo > col("a"))),
        "v <= a (flipped)" -> (_.filter(lo <= col("a"))),
        "v <= a < w" -> (_.filter(col("a") >= lo && col("a") < hi)),
        "v < a <= w, stacked" -> (_.filter(col("a") > lo).filter(col("a") <= hi)),
        "v < a < v (empty)" -> (_.filter(col("a") > lo && col("a") < lo)),
        "a > null" -> (_.filter(col("a") > lit(null).cast(ta))),
        "a = v, b > w" -> (_.filter(col("a") === lo && col("b") > lit(b).cast(tb))),
        "a = v, w <= b <= x, stacked" -> (_.filter(col("a") === lo).filter(col("b") >= lit(b).cast(tb))
          .filter(col("b") <= lit(b2).cast(tb))),
        "a <=> null, b < w" -> (_.filter(col("a") <=> lit(null).cast(ta) && col("b") < lit(b).cast(tb))),
        "renamed, range, residual" -> (_.select(col("b").as("bb"), col("a").as("aa"), col("c"))
          .filter(col("aa") >= lo).filter(col("c").isNotNull)),
        "only b ranged" -> (_.filter(col("b") > lit(b).cast(tb))))
      for ((name, q) <- filters)
        check(s"${shape.name} seed $seed: $name", sorted, plain, 299L, inPlace = name != "only b ranged")(q)
    }
    // NaN is above every double and -0.0 is 0.0, as Spark compares them
    val shape = shapes.last
    val (sorted, plain) = copies(shape, shape.rows(new Random(11), 300))
    for ((name, q) <- Seq[(String, DataFrame => DataFrame)](
        "a >= NaN" -> (_.filter(col("a") >= lit(Double.NaN))),
        "a < NaN" -> (_.filter(col("a") < lit(Double.NaN))),
        "a >= -0.0" -> (_.filter(col("a") >= lit(-0.0))),
        "-0.0 < a <= 0.0" -> (_.filter(col("a") > lit(-0.0) && col("a") <= lit(0.0)))))
      check(s"double bound: $name", sorted, plain, 299L, inPlace = true)(q)
  }

  test("an aggregate over a key slice folds it as it reads it: the cap then applies to the groups") {
    val shape = shapes.head
    val (sorted, plain) = copies(shape, shape.rows(new Random(3), 300))
    val q: DataFrame => DataFrame = _.filter(col("a") >= lit(1L)).filter(col("a") < lit(5L))
      .groupBy(col("b")).agg(org.apache.spark.sql.functions.count(lit(1)), org.apache.spark.sql.functions.sum(col("a")))
    val run = eval(q(frame(sorted)).select(org.apache.spark.sql.functions.sum(col("count(1)")))).head.getLong(0)
    assert(run > 100, "the slice holds more rows than the cap below")
    assert(values(eval(q(frame(sorted)), 20L), q(frame(sorted)).schema) ==
      values(eval(q(frame(plain))), q(frame(plain)).schema))
    intercept[DriverPlan.Unsupported](eval(q(frame(plain)), 20L))
    intercept[DriverPlan.Unsupported](eval(q(frame(sorted)), 3L)) // five groups
  }

  test("sum, count, mean, min and max over int, long, double and decimal equal Spark's") {
    import org.apache.spark.sql.functions.{avg, count, max, min, sum}
    val schema = StructType(Seq(StructField("g", StringType), StructField("i", IntegerType),
      StructField("l", LongType), StructField("d", DoubleType), StructField("m", DecimalType(10, 2))))
    val rng = new Random(5)
    def maybe[A](a: => A): Any = if (rng.nextInt(5) == 0) null else a
    // doubles are multiples of 1/4 and longs below 2^43, so every
    // summation order of a double sum or a long mean is exact
    val rows = IndexedSeq.fill(200)(new GenericInternalRow(Array[Any](
      maybe(UTF8String.fromString(Seq("x", "y", "z")(rng.nextInt(3)))), maybe(rng.nextInt(2000) - 1000),
      maybe(rng.nextLong() >> 20), maybe((rng.nextInt(4000) - 2000) / 4.0),
      maybe(org.apache.spark.sql.types.Decimal(BigDecimal(rng.nextInt(100000) - 50000, 2), 10, 2)))): InternalRow)
    val data = DriverPlan.frame(spark, new DriverRows(schema, rows))
    val aggs = Seq("i", "l", "d", "m").flatMap(c => Seq(sum(col(c)), avg(col(c)), min(col(c)), max(col(c)), count(col(c)))) :+
      count(lit(1))
    def external(df: DataFrame): Seq[Seq[Any]] = {
      val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters.createToScalaConverter(df.schema)
      eval(df).map(conv(_).asInstanceOf[org.apache.spark.sql.Row].toSeq).sortBy(_.toString)
    }
    val empty = data.filter(lit(false))
    for ((name, df) <- Seq(
        "grouped" -> data.groupBy(col("g")).agg(aggs.head, aggs.tail: _*),
        "global" -> data.agg(aggs.head, aggs.tail: _*),
        "empty, grouped" -> empty.groupBy(col("g")).agg(aggs.head, aggs.tail: _*),
        "empty, global" -> empty.agg(aggs.head, aggs.tail: _*),
        "all NULL" -> data.filter(col("i").isNull && col("l").isNull).agg(aggs.head, aggs.tail: _*))) {
      assert(external(df) == df.collect().map(_.toSeq).toSeq.sortBy(_.toString), name)
    }
    // an ANSI overflow raises on both engines (the driver then hands the plan to Spark)
    val big = DriverPlan.frame(spark, new DriverRows(StructType(Seq(StructField("l", LongType))),
      IndexedSeq(Long.MaxValue, 1L).map(v => new GenericInternalRow(Array[Any](v)): InternalRow)))
    def overflows(body: => Any): Unit = {
      val e = intercept[Exception](body)
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[ArithmeticException]), e)
    }
    overflows(eval(big.agg(sum(col("l")))))
    overflows(big.agg(sum(col("l"))).collect())
    // an aggregate Catalyst does not define declaratively is refused
    intercept[DriverPlan.Unsupported](eval(data.agg(org.apache.spark.sql.functions.collect_list(col("i")))))
    intercept[DriverPlan.Unsupported](eval(data.agg(org.apache.spark.sql.functions.countDistinct(col("i")))))
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
