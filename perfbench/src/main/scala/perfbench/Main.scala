package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Row, SparkSession}

/** JVM side of the benchmark: sets up one workload, runs its closed loop
  * with a single client thread, and writes every measurement as JSON
  * lines for run.py, which checks the outputs and computes the metrics.
  *
  * Usage: Main <workload> <inputs dir> <out file> <seconds> <trace 0|1> <cores> <work dir>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, inputs, outFile, seconds, trace, cores, work) = args
    val out = new Out(outFile)
    val tracer = new Tracer(trace == "1")
    val confs = Seq(
      "spark.master" -> s"local[$cores]",
      "spark.sql.shuffle.partitions" -> cores,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.codegen.cache.maxEntries" -> "4096",
      "spark.local.dir" -> s"$work/spark-local",
      "spark.sql.warehouse.dir" -> s"$work/warehouse")
    val spark = tracer.span("setup.session", "setup") {
      confs.foldLeft(SparkSession.builder())((b, kv) => b.config(kv._1, kv._2)).getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    tracer.install(spark.sparkContext)
    out.write(Map("type" -> "env", "confs" -> confs.map { case (k, _) =>
      k -> spark.conf.getOption(k).getOrElse(spark.sparkContext.getConf.get(k, "")) }.toMap,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
      "spark_version" -> spark.version))
    try {
      val w: Workload = workload match {
        case "curate_batch" => new CurateWorkload(spark, inputs, tracer, out)
        case _ => new ScriptWorkload(spark, inputs, tracer, out)
      }
      w.run(seconds.toDouble)
    } finally {
      tracer.drain(spark.sparkContext)
      tracer.records().foreach(out.write)
      out.write(Map("type" -> "end",
        "jvm_gc_ms" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum,
        "heap_peak_mb" -> ManagementFactory.getMemoryPoolMXBeans.asScala
          .filter(_.getType == java.lang.management.MemoryType.HEAP)
          .map(_.getPeakUsage.getUsed).sum / 1048576.0,
        "vm_hwm_mb" -> Env.vmHwmMb()))
      out.close()
      spark.stop()
    }
  }
}

trait Workload { def run(seconds: Double): Unit }

object Env {
  /** Process start, as the JVM recorded it (epoch µs). */
  def processStartUs: Double = ManagementFactory.getRuntimeMXBean.getStartTime * 1000.0

  def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    finally src.close()
  }
}

/** JSON-lines writer for the measurement file. */
final class Out(path: String) {
  private val mapper = new ObjectMapper()
  private val w = new PrintWriter(new File(path), "UTF-8")
  def write(rec: Map[String, Any]): Unit = w.println(mapper.writeValueAsString(Out.toJava(rec)))
  def close(): Unit = w.close()
}

object Out {
  def toJava(v: Any): Any = v match {
    case null | None => null
    case Some(x) => toJava(x)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => k.toString -> toJava(x) }.asJava
    case r: Row => r.toSeq.map(toJava).asJava
    case s: scala.collection.Seq[_] => s.map(toJava).asJava
    case x => x
  }
}
