package perfbench

import java.io.{OutputStream, PrintStream}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success => TaskSuccess}
import org.apache.spark.scheduler._

/** Records what the traced run reports: spans the harness opens around
  * its own calls into each layer, Spark jobs with their task metrics
  * (keyed by the `graft.meter.group` local property the harness sets for
  * each op), and the `graft.knee` decision lines the engine prints.
  * Everything is kept in memory and written out when the run ends.
  *
  * All timestamps are epoch microseconds; span times come from
  * `System.nanoTime` on one offset, job times from the listener event
  * clock (milliseconds).
  */
final class Tracer(val enabled: Boolean) {
  private val nano0 = System.nanoTime()
  private val epochUs0 = System.currentTimeMillis() * 1000.0
  def nowUs(): Double = epochUs0 + (System.nanoTime() - nano0) / 1000.0

  final case class Span(name: String, layer: String, op: String, start: Double,
                        end: Double, parent: Option[Int])
  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  @volatile var currentOp: String = ""

  /** Time `body` as a span of `layer` nested under the innermost open span. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val idx = spans.length
      spans += Span(name, layer, currentOp, nowUs(), Double.NaN, open.headOption)
      open.push(idx)
      try body
      finally {
        open.pop()
        spans(idx) = spans(idx).copy(end = nowUs())
      }
    }

  final class Job(val id: Int, val group: String, val start: Double, val stages: Int) {
    @volatile var end: Double = Double.NaN
    var tasks, failedTasks = 0L
    var taskMs, gcMs, shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
  }
  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()

  private val listener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val group = Option(j.properties).flatMap(p => Option(p.getProperty("graft.meter.group")))
      group.filter(_.startsWith("pb-")).foreach { g =>
        val job = new Job(j.jobId, g, j.time * 1000.0, j.stageInfos.size)
        jobs.put(j.jobId, job)
        j.stageIds.foreach(s => stageJob.put(s, job))
      }
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Option(jobs.get(j.jobId)).foreach(_.end = j.time * 1000.0)
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(t.stageId)).foreach { job =>
        job.synchronized {
          job.tasks += 1
          if (t.reason != TaskSuccess) job.failedTasks += 1
          Option(t.taskMetrics).foreach { m =>
            job.taskMs += m.executorRunTime
            job.gcMs += m.jvmGCTime
            job.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
            job.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            job.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
  }

  final case class Knee(op: String, at: Double, line: String)
  val knees = mutable.ArrayBuffer.empty[Knee]

  /** Forwards stderr unchanged and keeps every `graft.knee` line. */
  private final class KneeTee(under: PrintStream) extends OutputStream {
    private val line = new java.io.ByteArrayOutputStream()
    override def write(b: Int): Unit = synchronized {
      under.write(b)
      if (b == '\n') {
        val s = line.toString("UTF-8")
        if (s.startsWith("graft.knee")) knees += Knee(currentOp, nowUs(), s.trim)
        line.reset()
      } else line.write(b)
    }
    override def flush(): Unit = under.flush()
  }

  def install(sc: SparkContext): Unit = if (enabled) {
    sc.addSparkListener(listener)
    System.setErr(new PrintStream(new KneeTee(System.err), true, "UTF-8"))
  }

  def drain(sc: SparkContext): Unit =
    if (enabled) org.apache.spark.sql.graftbridge.ListenerBridge.drain(sc)

  /** Run `body` with its Spark jobs attributed to `group` (the same
    * property `ListenerBridge.measure` sets; `CozoDb.run`'s own job group
    * does not replace it). */
  def withGroup[T](sc: SparkContext, group: String)(body: => T): T =
    if (!enabled) body
    else {
      val (prev, prevOp) = (sc.getLocalProperty("graft.meter.group"), currentOp)
      sc.setLocalProperty("graft.meter.group", group)
      currentOp = group
      try body
      finally {
        sc.setLocalProperty("graft.meter.group", prev)
        currentOp = prevOp
      }
    }

  def records(): Seq[Map[String, Any]] = {
    val s = spans.zipWithIndex.map { case (sp, i) =>
      Map("type" -> "span", "idx" -> i, "name" -> sp.name, "layer" -> sp.layer,
        "op" -> sp.op, "start" -> sp.start, "end" -> sp.end, "parent" -> sp.parent.getOrElse(-1))
    }
    val j = jobs.values().toArray(Array.empty[Job]).sortBy(_.id).toSeq.map { jb =>
      Map("type" -> "job", "id" -> jb.id, "op" -> jb.group, "start" -> jb.start,
        "end" -> jb.end, "stages" -> jb.stages, "tasks" -> jb.tasks,
        "failed_tasks" -> jb.failedTasks, "task_ms" -> jb.taskMs, "gc_ms" -> jb.gcMs,
        "shuffle_read_bytes" -> jb.shuffleReadBytes, "shuffle_write_bytes" -> jb.shuffleWriteBytes,
        "spill_bytes" -> jb.spillBytes)
    }
    val k = knees.toSeq.map(k => Map("type" -> "knee", "op" -> k.op, "at" -> k.at, "line" -> k.line))
    s.toSeq ++ j ++ k
  }
}
