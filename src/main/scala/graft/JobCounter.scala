package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}

/** Counts Spark jobs / stages / tasks and accumulates executor run/CPU
  * time for benchmark telemetry: every cache/localCheckpoint
  * materialization is its own job, so per-query job counts make "this
  * query regressed because it now runs 3 jobs instead of 1" diagnosable
  * straight from Bench's detail file — and the CPU-time columns separate
  * plan cost from box cost (wall time inflated by GC/page-cache pressure shows
  * as wall >> run_ms with cpu_ms unchanged vs a quiet run).
  */
final class JobCounter(sc: SparkContext) extends SparkListener {
  private val jobs = new AtomicLong
  private val stages = new AtomicLong
  private val tasks = new AtomicLong
  private val runMs = new AtomicLong
  private val cpuNs = new AtomicLong

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    // metrics are null for tasks that died before launching
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
    }
  }

  /** Drains the listener bus, then returns the running totals. */
  def snapshot(): JobCounter.Snapshot = {
    ListenerBridge.waitUntilEmpty(sc)
    JobCounter.Snapshot(jobs.get, stages.get, tasks.get, runMs.get, cpuNs.get / 1000000L)
  }
}

object JobCounter {
  /** Point-in-time totals since listener registration. */
  final case class Snapshot(jobs: Long, stages: Long, tasks: Long,
                            runMs: Long, cpuMs: Long) {
    def -(o: Snapshot): Snapshot =
      Snapshot(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
        runMs - o.runMs, cpuMs - o.cpuMs)
  }
}
