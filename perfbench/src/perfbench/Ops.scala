package perfbench

import java.util.concurrent.{CompletableFuture, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** How one operation ended. `ms` is the operation's own wall time
  * (measured on the thread that ran it), or the time to its deadline.
  */
sealed trait Outcome[+T] { def ms: Double }
final case class Done[T](value: T, ms: Double) extends Outcome[T]
final case class Failed(error: Throwable, ms: Double) extends Outcome[Nothing]
final case class Expired(ms: Double) extends Outcome[Nothing]

/** Runs every measured operation under a deadline, on a worker thread, so
  * that an operation that hangs cannot hang the run: past its deadline its
  * Spark jobs are cancelled (the job group, then every active job — nested
  * jobs launched from inside tasks belong to no group), its thread is
  * interrupted, and the run goes on with a fresh worker. Each operation
  * counts as attempted; failures and expiries count as failed.
  */
final class Ops(spark: SparkSession, tracerOf: () => Tracer) {
  private val groupSeq = new AtomicLong
  private var worker = newWorker()
  val attempted = new AtomicLong
  val failed = new AtomicLong
  /** One line per failed or expired operation, for the run record. */
  val failures = ArrayBuffer.empty[String]

  private final class Worker extends Thread("perfbench-op") {
    setDaemon(true)
    val queue = new java.util.concurrent.SynchronousQueue[Runnable]
    override def run(): Unit =
      try while (true) queue.take().run()
      catch { case _: InterruptedException => () }
  }
  private def newWorker(): Worker = { val w = new Worker; w.start(); w }

  /** Run `f` as one attempted operation named `name`, traced as a span
    * of that name, with at most `limitMs` of wall time.
    */
  def run[T](name: String, limitMs: Long)(f: => T): Outcome[T] = {
    attempted.incrementAndGet()
    val out = call(name, limitMs)(f)
    out match {
      case _: Done[_] => ()
      case Failed(e, _) =>
        failed.incrementAndGet()
        failures.synchronized { failures += s"$name failed: $e" }
      case Expired(ms) =>
        failed.incrementAndGet()
        failures.synchronized {
          failures += f"$name expired after $ms%.0f ms (deadline $limitMs ms)"
        }
    }
    out
  }

  /** Like [[run]] but not counted: set-up and verification steps. */
  def call[T](name: String, limitMs: Long)(f: => T): Outcome[T] = {
    val group = s"perfbench-${groupSeq.incrementAndGet()}"
    val tracer = tracerOf()
    val parent = tracer.currentParent
    val result = new CompletableFuture[Outcome[T]]
    val sc = spark.sparkContext
    val task: Runnable = () => {
      SparkSession.setActiveSession(spark)
      sc.setJobGroup(group, name, interruptOnCancel = true)
      tracer.inheritParent(parent)
      val t0 = System.nanoTime()
      try {
        val v = tracer.span(name)(f)
        result.complete(Done(v, (System.nanoTime() - t0) / 1e6))
      } catch {
        case e: Throwable =>
          result.complete(Failed(e, (System.nanoTime() - t0) / 1e6))
      } finally sc.clearJobGroup()
    }
    val t0 = System.nanoTime()
    worker.queue.put(task)
    try result.get(limitMs, TimeUnit.MILLISECONDS)
    catch {
      case _: TimeoutException =>
        val ms = (System.nanoTime() - t0) / 1e6
        sc.cancelJobGroup(group)
        sc.cancelAllJobs()
        worker.interrupt()
        // give the cancelled jobs a moment to unwind; a worker that still
        // does not return is abandoned (daemon) and replaced
        try result.get(Ops.GraceMs, TimeUnit.MILLISECONDS)
        catch { case _: TimeoutException => () }
        worker = newWorker()
        Expired(ms)
    }
  }
}

object Ops {
  val GraceMs = 5000L
}

/** A step of a multi-step cycle failed or expired; the cycle is abandoned
  * (the step itself was already counted as failed).
  */
final class StepFailed(msg: String) extends RuntimeException(msg)
