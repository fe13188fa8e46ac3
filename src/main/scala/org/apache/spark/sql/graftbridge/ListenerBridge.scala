package org.apache.spark.sql.graftbridge

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Job-count + shuffle-volume metering for the drift regression gate
  * (JobLedgerSpec) and the `graft.JobCount` forensics main.
  *
  * Counts the Spark jobs (and their planned stages) submitted while a
  * thunk runs, and accumulates the shuffle read/write bytes and task
  * time and the result bytes shipped to the driver of every task in
  * those jobs' stages. Wall time on this box is
  * noise (documented 1.2-2× windows); job counts catch "one extra
  * action" drift and shuffle bytes catch the scale-relevant drift class
  * — an unpushed filter or an injected repartition moves megabytes that
  * no jitter can explain. Attribution is via a unique job group (job
  * events) plus the group's stage-id set (task events), so concurrently
  * running test suites on the shared local SparkContext cannot pollute
  * the numbers.
  *
  * r10: attribution ALSO matches a dedicated `graft.meter.group` local
  * property. `CozoDb.run` installs its own job group (`graft-q<id>`,
  * for `::kill` cancellation) around every script, which REPLACED the
  * meter's group — every job a script submitted internally (eager
  * result checkpoints, index builds) was invisible, so each lang_*
  * ledger row recorded only the final read-back job (observed:
  * lang_reorder_sort "1 job, 0 shuffle bytes, 12 task-ms" under a
  * 4.4 s wall). setJobGroup only rewrites the three jobGroup
  * properties, so the marker survives it and in-script jobs attribute
  * correctly; jobs from OTHER threads still can't match either key.
  * Needs to live under `org.apache.spark` for
  * `listenerBus.waitUntilEmpty()` (the listener bus is async; without
  * the barrier the last job's event may not have been delivered when
  * the thunk returns).
  */
object ListenerBridge {
  /** Barrier for ad-hoc listeners outside this object (the bus is
    * async; package-private in Spark, hence surfaced here). */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  final case class Counts(jobs: Int, stages: Int,
                          shuffleReadBytes: Long = 0L,
                          shuffleWriteBytes: Long = 0L,
                          taskTimeMs: Long = 0L,
                          resultBytes: Long = 0L)

  def measure(sc: SparkContext, group: String)(thunk: => Unit): Counts = {
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val shRead = new AtomicLong(0L)
    val shWrite = new AtomicLong(0L)
    val taskMs = new AtomicLong(0L)
    val results = new AtomicLong(0L)
    val groupStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(p =>
            group == p.getProperty("spark.jobGroup.id") ||
              group == p.getProperty("graft.meter.group"))) {
          jobs.incrementAndGet()
          stages.addAndGet(j.stageInfos.size)
          j.stageIds.foreach(id => groupStages.add(id))
          ()
        }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (groupStages.contains(t.stageId) && t.taskMetrics != null) {
          val m = t.taskMetrics
          shRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          taskMs.addAndGet(m.executorRunTime)
          results.addAndGet(m.resultSize)
          ()
        }
    }
    sc.addSparkListener(listener)
    // save the caller's ambient job group so measurement is transparent
    // (clearJobGroup would drop it instead of restoring)
    val prevId = sc.getLocalProperty("spark.jobGroup.id")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    val prevInterrupt = sc.getLocalProperty("spark.job.interruptOnCancel")
    val prevMeter = sc.getLocalProperty("graft.meter.group")
    sc.setJobGroup(group, group, interruptOnCancel = false)
    sc.setLocalProperty("graft.meter.group", group)
    try {
      thunk
      sc.listenerBus.waitUntilEmpty()
    } finally {
      sc.setLocalProperty("spark.jobGroup.id", prevId)
      sc.setLocalProperty("spark.job.description", prevDesc)
      sc.setLocalProperty("spark.job.interruptOnCancel", prevInterrupt)
      sc.setLocalProperty("graft.meter.group", prevMeter)
      sc.removeSparkListener(listener)
    }
    Counts(jobs.get, stages.get, shRead.get, shWrite.get, taskMs.get, results.get)
  }
}
