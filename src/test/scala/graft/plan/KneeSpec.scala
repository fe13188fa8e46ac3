package graft.plan

import org.scalatest.funsuite.AnyFunSuite

/** The knee policy (plan/Knee.scala): its named limits, the gate's
  * decision and log line at the boundary, the scoped test override, and
  * a scan of the library sources that keeps every gate on a named limit.
  */
class KneeSpec extends AnyFunSuite {
  import Knee._

  test("every named limit holds its documented value") {
    val mib = 1024L * 1024
    val want = Seq(GraphEdges -> 2000000L, WalkEdges -> 10000000L, IvfVectors -> 200000L,
      PqTrainRows -> 2000000L, PqSampleBytes -> 512 * mib, BpeWords -> 1000000L,
      ClassifierFeatureBytes -> 256 * mib, DriverIndexBytes -> Runtime.getRuntime.maxMemory / 16,
      PatchKeys -> 10000L, LocalRows -> 10000L, FixpointRows -> 10000L)
    for (((limit, v), i) <- want.zipWithIndex)
      assert(limit.value == v && limit.default == v, s"limit #$i")
  }

  test("gate: n = limit takes the driver, limit + 1 the distributed branch, one exact line each") {
    val (decisions, lines) = KneeLog.capture(
      Seq(gate("bfs", 2000000L, GraphEdges), gate("bfs", 2000001L, GraphEdges)))
    assert(decisions == Seq(true, false))
    assert(lines == Seq(
      "graft.knee op=bfs n=2000000 gate=2000000 branch=driver",
      "graft.knee op=bfs n=2000001 gate=2000000 branch=distributed"))
  }

  test("fixpoint gate: n = FixpointRows stays on the driver, + 1 hands off to Spark") {
    val (decisions, lines) = KneeLog.capture(
      Seq(gate("fixpoint", 10000L, FixpointRows), gate("fixpoint", 10001L, FixpointRows)))
    assert(decisions == Seq(true, false))
    assert(lines == Seq(
      "graft.knee op=fixpoint n=10000 gate=10000 branch=driver",
      "graft.knee op=fixpoint n=10001 gate=10000 branch=distributed"))
  }

  test("withLimits overrides inside its block, nests, and restores on exit and on a throw") {
    val seen = withLimits(PatchKeys -> 3L) {
      val inner = withLimits(PatchKeys -> 1L, LocalRows -> 0L)((PatchKeys.value, LocalRows.value))
      (PatchKeys.value, LocalRows.value, inner)
    }
    assert(seen == ((3L, 10000L, (1L, 0L))))
    assert(PatchKeys.value == 10000L && LocalRows.value == 10000L)
    intercept[IllegalStateException](withLimits(GraphEdges -> 0L) {
      assert(!KneeLog.capture(gate("bfs", 1L, GraphEdges))._1)
      throw new IllegalStateException("boom")
    })
    assert(GraphEdges.value == 2000000L)
  }

  test("a thread started inside withLimits sees its limits; one outside does not") {
    def readIn(): Long = {
      var got = -1L
      val t = new Thread(() => got = WalkEdges.value)
      t.start(); t.join()
      got
    }
    assert(withLimits(WalkEdges -> 7L)(readIn()) == 7L)
    assert(readIn() == 10000000L)
  }

  test("every Knee.gate call in the library passes a named limit; no maxDriver parameter is left") {
    val limits = Set("GraphEdges", "WalkEdges", "IvfVectors", "PqTrainRows", "PqSampleBytes",
      "BpeWords", "ClassifierFeatureBytes", "DriverIndexBytes", "PatchKeys", "LocalRows",
      "FixpointRows")
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"no sources at ${root.toAbsolutePath}")
    val files = java.nio.file.Files.walk(root).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala"))
    val sites = for {
      f <- files.toSeq
      src = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      _ = assert(!src.contains("maxDriver"), s"$f still names a maxDriver* threshold")
      m <- "Knee\\.gate\\(".r.findAllMatchIn(src)
    } yield f.getFileName.toString -> lastArg(src, m.end)
    for ((file, arg) <- sites)
      assert(arg.startsWith("Knee.") && limits(arg.stripPrefix("Knee.")),
        s"$file: Knee.gate passes `$arg`, not a named Knee limit")
    // a new gate site is a new knee decision: add it here on purpose
    assert(sites.groupBy(_._1).map { case (f, s) => f -> s.size } == Map(
      "LocalGraph.scala" -> 1, "Ann.scala" -> 2, "Bpe.scala" -> 1, "Classifier.scala" -> 1,
      "CozoDb.scala" -> 1, "Store.scala" -> 4))
  }

  /** The last top-level argument of the call whose argument list starts
    * at `from` in `src`. */
  private def lastArg(src: String, from: Int): String = {
    var depth = 0
    var start = from
    var i = from
    while (depth >= 0) {
      src(i) match {
        case '(' | '[' | '{' => depth += 1
        case ')' | ']' | '}' => depth -= 1
        case ',' if depth == 0 => start = i + 1
        case _ =>
      }
      i += 1
    }
    src.substring(start, i - 1).trim
  }
}

/** Captures the `graft.knee` lines `body` logs to stderr. */
object KneeLog {
  def capture[A](body: => A): (A, Seq[String]) = {
    val err = new java.io.ByteArrayOutputStream()
    val stderr = System.err
    System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
    val out = try body finally System.setErr(stderr)
    (out, err.toString("UTF-8").linesIterator.filter(_.startsWith("graft.knee")).toSeq)
  }
}
