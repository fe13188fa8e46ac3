package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, date_format}

import graft.Queries
import graft.lang.{CozoDb, Parser}

/** script_read / script_write: a single client runs the generated
  * CozoScript op stream through `CozoDb.run` and forces each result.
  *
  * Untraced run: set-up, warm-up, then the timed loop. Traced run: the
  * same ops twice on fresh relations — untraced, then traced over exactly
  * as many ops — so the wall-time difference is the tracing overhead.
  */
final class ScriptWorkload(spark: SparkSession, inputs: String, tracer: Tracer, out: Out)
    extends Workload {
  final case class Op(id: Int, cls: String, kind: String, script: String)

  private val sc = spark.sparkContext
  private val ops: Seq[Op] = {
    val mapper = new ObjectMapper()
    val src = scala.io.Source.fromFile(s"$inputs/ops.jsonl", "UTF-8")
    try src.getLines().map { l =>
      val n = mapper.readTree(l)
      Op(n.get("id").asInt, n.get("cls").asText, n.get("kind").asText, n.get("script").asText)
    }.toVector
    finally src.close()
  }

  /** Layer whose code the op's `run` call mainly enters. */
  private def layerOf(cls: String): String = cls match {
    case "reach" => "graft.fixpoint"
    case "pagerank" | "cc" | "sssp" => "graft.graphs"
    case "fts" => "graft.search"
    case "hnsw" => "graft.similarity"
    case "asof" => "graft.operators"
    case c if c.startsWith("put_") || c.startsWith("rm_") || c.startsWith("update_") => "graft.operators"
    case _ => "graft.lang"
  }

  private def setupStep[T](step: String)(body: => T): T = {
    val t0 = tracer.nowUs()
    val r = tracer.withGroup(sc, s"pb-setup-$step")(tracer.span(s"setup.$step", "setup")(body))
    out.write(Map("type" -> "setup", "step" -> step, "ms" -> (tracer.nowUs() - t0) / 1000.0))
    r
  }

  private def rel(name: String): DataFrame = spark.read.parquet(s"$inputs/$name.parquet")

  private def load(): CozoDb = {
    val db = new CozoDb(spark)
    // cozo stores dates as values, not a timestamp type
    db.registerTable("orders",
      rel("orders").withColumn("o_orderdate", date_format(col("o_orderdate"), "yyyy-MM-dd")),
      Seq("o_orderkey"))
    db.registerTable("lineitem", rel("lineitem"), Seq("l_orderkey", "l_linenumber"))
    db.registerTable("customer", rel("customer"), Seq("c_custkey"))
    db.registerTable("documents", rel("documents"), Seq("doc_id"))
    db.registerTable("embeddings", rel("embeddings"), Seq("vec_id"))
    db.registerTable("prices", rel("prices"), Seq("k", "vld", "is_assert"),
      validity = Some("vld"), validityAssert = Some("is_assert"))
    val edges = Queries.eventEdges(rel("events")).localCheckpoint(eager = true)
    db.registerTable("edges", edges, Seq("src", "dst"))
    db
  }

  /** Create both indexes and build them with one probe each (the engine
    * builds an index lazily, on its first probe). */
  private def index(db: CozoDb): Unit = {
    def timed(metric: String)(body: => Unit): Unit = {
      val t0 = tracer.nowUs()
      body
      out.write(Map("type" -> "setup", "step" -> metric, "ms" -> (tracer.nowUs() - t0) / 1000.0))
    }
    timed("fts_build") {
      db.run("::fts create documents:fts {extractor: text, tokenizer: Simple, filters: [Lowercase]}")
      db.run("?[doc_id] := ~documents:fts{doc_id | query: 'the', k: 1}").collect()
    }
    timed("hnsw_build") {
      db.run("::hnsw create embeddings:hnsw {dim: 64, dtype: F32, fields: [embedding], " +
        "distance: Cosine, m: 16, ef_construction: 64}")
      db.run("?[vec_id] := ~embeddings:hnsw{vec_id | query: vec([" +
        Seq.fill(64)("0.1").mkString(", ") + "]), k: 1}").collect()
    }
  }

  private def runOp(db: CozoDb, op: Op, pass: String): Unit = {
    var rows: Seq[Any] = Nil
    var err: String = null
    var phases = Map.empty[String, Long]
    val (t0, t1) = tracer.withGroup(sc, s"pb-$pass-${op.id}") {
      val t0 = tracer.nowUs()
      tracer.span("op", "harness") {
        try {
          if (tracer.enabled) tracer.span("lang.parse", "graft.lang")(Parser.parse(op.script))
          val df = tracer.span("lang.run", layerOf(op.cls))(db.run(op.script))
          if (tracer.enabled) tracer.span("catalyst.plan", "catalyst")(df.queryExecution.executedPlan)
          rows = tracer.span("materialize", "spark.driver")(df.collect().toSeq)
          if (tracer.enabled)
            phases = df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs }
        } catch {
          case e: Throwable =>
            err = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(500)
        }
      }
      (t0, tracer.nowUs())
    }
    out.write(Map("type" -> "op", "pass" -> pass, "id" -> op.id, "cls" -> op.cls,
      "kind" -> op.kind, "start" -> t0, "end" -> t1, "ok" -> (err == null),
      "error" -> err, "rows" -> rows, "phases" -> phases))
  }

  /** Run ops in order until `seconds` have passed (or `limit` ops). */
  private def loop(db: CozoDb, pass: String, seconds: Double, limit: Int): Int = {
    val timed = ops.filter(_.id >= 0)
    val t0 = tracer.nowUs()
    val deadline = t0 + seconds * 1e6
    var i = 0
    while (i < math.min(limit, timed.length) && tracer.nowUs() < deadline) {
      runOp(db, timed(i), pass)
      i += 1
    }
    out.write(Map("type" -> "loop", "pass" -> pass, "start" -> t0, "end" -> tracer.nowUs(), "ops" -> i))
    i
  }

  private def prepare(tag: String): CozoDb = {
    val db = setupStep(s"load$tag")(load())
    setupStep(s"index$tag")(index(db))
    setupStep(s"warmup$tag")(ops.filter(_.id < 0).foreach(op => runOp(db, op, s"warmup$tag")))
    db
  }

  def run(seconds: Double): Unit = {
    val db = prepare("")
    out.write(Map("type" -> "first_op", "at" -> tracer.nowUs(), "process_start" -> Env.processStartUs))
    if (!tracer.enabled) loop(db, "main", seconds, Int.MaxValue)
    else {
      // reference pass with tracing paused, then the traced pass on
      // fresh relations over the same ops
      val paused = new Tracer(false)
      val n = new ScriptWorkload(spark, inputs, paused, out).loop(db, "untraced", seconds, Int.MaxValue)
      loop(prepare("_reset"), "traced", Double.MaxValue, n)
    }
  }
}
