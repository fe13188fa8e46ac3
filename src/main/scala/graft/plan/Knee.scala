package graft.plan

import scala.util.DynamicVariable

/** The scale knee: every choice between a driver-side program and the
  * distributed one is a comparison of an observed size against one of
  * the named [[Limit]]s below — the one runtime choice of strategy from
  * observed size that Shark's partial DAG execution makes (SIGMOD'13).
  * Each decision logs one stderr line (stderr so the stdout-tail JSON
  * capture is untouched), so a run shows per query which branch ran:
  * `graft.knee op=… n=… gate=… branch=driver|distributed`.
  */
object Knee {
  /** One threshold of the policy, at `default` outside [[withLimits]]. */
  final class Limit private[Knee] (val default: Long) {
    def value: Long = overrides.value.getOrElse(this, default)
  }

  // the driver branch runs while the observed size is at most the limit
  val GraphEdges = new Limit(2000000L) // a knee mirror's graph
  val WalkEdges = new Limit(10000000L) // a driver-only walk's graph
  val IvfVectors = new Limit(200000L) // IVF centroid training vectors
  val PqTrainRows = new Limit(2000000L) // PQ codebook training sample
  val PqSampleBytes = new Limit(512L << 20) // its bytes, past the default size
  val BpeWords = new Limit(1000000L) // BPE vocabulary words
  val ClassifierFeatureBytes = new Limit(256L << 20) // collected classifier features
  // the driver heap budget of one driver FTS/HNSW index, of the stored
  // relations' driver copies together (CozoDb.relationCopy), and of
  // each step of a driver fixpoint round
  val DriverIndexBytes = new Limit(Runtime.getRuntime.maxMemory / 16)
  val PatchKeys = new Limit(10000L) // write overlay keys, driver index patch keys
  val LocalRows = new Limit(10000L) // literal rows kept as a local relation
  // rows one member of a recursive component may hold in the driver
  // fixpoint; past it the component hands off to the Spark loop, and
  // below 1 every fixpoint runs on Spark from its first round
  val FixpointRows = new Limit(10000L)

  private val overrides = new DynamicVariable(Map.empty[Limit, Long])

  /** The knee decision: true (driver) when `n` is at most `limit`. */
  def gate(op: String, n: Long, limit: Limit): Boolean = {
    val max = limit.value
    val drv = n <= max
    System.err.println(
      s"graft.knee op=$op n=$n gate=$max branch=${if (drv) "driver" else "distributed"}")
    drv
  }

  /** Runs `body` with the given limits replaced — the one way a test
    * reaches the other branch or a boundary value. Scoped to this thread
    * and the threads it starts; restored on exit, a throw included. */
  private[graft] def withLimits[T](pins: (Limit, Long)*)(body: => T): T =
    overrides.withValue(overrides.value ++ pins)(body)
}
