package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine and JVM counters, all read from outside graft: a SparkListener
  * (jobs, stages, tasks, task metrics), a QueryExecutionListener
  * (planning phases) and the JVM's MX beans.
  */
final case class Counters(
    jobs: Long, stages: Long, tasks: Long, delayMs: Long, runMs: Long,
    cpuMs: Double, taskGcMs: Long, shuffleWrite: Long, shuffleRead: Long,
    spill: Long, recordsRead: Long, analysisMs: Long, optimizationMs: Long,
    planningMs: Long, jvmGcMs: Long, codegen: Long) {
  def -(o: Counters): Counters = Counters(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks, delayMs - o.delayMs,
    runMs - o.runMs, cpuMs - o.cpuMs, taskGcMs - o.taskGcMs,
    shuffleWrite - o.shuffleWrite, shuffleRead - o.shuffleRead,
    spill - o.spill, recordsRead - o.recordsRead, analysisMs - o.analysisMs,
    optimizationMs - o.optimizationMs, planningMs - o.planningMs,
    jvmGcMs - o.jvmGcMs, codegen - o.codegen)
}

final class Probe(spark: SparkSession) {
  private val jobs, stages, tasks, delay, run, cpuNs, gc, shW, shR, spill,
    recs, ana, opt, plan = new AtomicLong
  private val jobStarts =
    new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]
  private val intervals = ArrayBuffer.empty[(Long, Long)]

  /** Time spent in this probe's callbacks and drains: with the tracer's
    * own bookkeeping, the tracing overhead of a traced run.
    */
  val overheadNs = new AtomicLong
  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try f finally overheadNs.addAndGet(System.nanoTime() - t0)
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      jobs.incrementAndGet(); jobStarts.put(e.jobId, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      Option(jobStarts.remove(e.jobId)).foreach { s =>
        intervals.synchronized { intervals += ((s.longValue, e.time)) }
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      timed(stages.incrementAndGet())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null) {
        run.addAndGet(m.executorRunTime)
        cpuNs.addAndGet(m.executorCpuTime)
        gc.addAndGet(m.jvmGCTime)
        shW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        spill.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
        recs.addAndGet(m.inputMetrics.recordsRead)
        if (i != null && i.finishTime > 0)
          delay.addAndGet(math.max(0L, (i.finishTime - i.launchTime) -
            m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = timed {
      val ph = qe.tracker.phases
      ph.get("analysis").foreach(p => ana.addAndGet(p.durationMs))
      ph.get("optimization").foreach(p => opt.addAndGet(p.durationMs))
      ph.get("planning").foreach(p => plan.addAndGet(p.durationMs))
    }
    override def onFailure(f: String, qe: QueryExecution,
                           e: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Wait until every posted event reached the listeners. */
  def drain(): Unit = timed(org.apache.spark.PerfbenchBus.drain(spark.sparkContext))

  def snapshot(): Counters = {
    drain()
    Counters(jobs.get, stages.get, tasks.get, delay.get, run.get,
      cpuNs.get / 1e6, gc.get, shW.get, shR.get, spill.get, recs.get,
      ana.get, opt.get, plan.get, Probe.jvmGcMs, Probe.codegenCompiles)
  }

  /** Job intervals (epoch ms) that ended so far. */
  def jobIntervals: Seq[(Long, Long)] = {
    drain(); intervals.synchronized(intervals.toList)
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}

object Probe {
  val CleanerWaitMs = 250L
  /** A collection that frees less than this has settled the heap. */
  val SettledMb = 0.5
  val MaxCollections = 12

  def jvmGcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      .getCount

  /** Driver heap still in use after a full collection: what the run's
    * state (caches, plans, buffers) holds, free of collection timing.
    * Spark's ContextCleaner frees the blocks of collected broadcasts and
    * shuffles only after the collection that found them unreachable, on
    * its own thread, and what those blocks held becomes garbage only
    * then: collections are repeated, a pause apart, until one frees no
    * more (a single collection left 15-35 MB of it, varying by seed).
    */
  def retainedHeapMb: Double = {
    def usedMb(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = usedMb()
    var now = prev
    var n = 1
    do {
      Thread.sleep(CleanerWaitMs)
      prev = now; now = usedMb(); n += 1
    } while (prev - now > SettledMb && n < MaxCollections)
    now
  }
}
