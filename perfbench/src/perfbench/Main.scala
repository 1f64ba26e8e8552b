package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Latency samples (ms) by span name, for percentile metrics. */
final class Samples {
  private val m = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def add(name: String, ms: Double): Unit = synchronized {
    m.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ms
  }
  def get(name: String): Seq[Double] =
    synchronized(m.get(name).map(_.toList).getOrElse(Nil))
  def count(name: String): Int = synchronized(m.get(name).map(_.size).getOrElse(0))
}

/** Everything a workload needs from the run. The traced window swaps in
  * an enabled tracer and an engine probe.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val runDir: Path,
                val outDir: Path, val cores: Int) {
  var tracer = new Tracer(enabled = false)
  var probe: Option[Probe] = None
  val ops = new Ops(spark, () => tracer)
  val samples = new Samples
}

/** One workload: set-up (inputs + warm-up), a time-bounded measured
  * window, output checks and its metrics.
  */
abstract class Workload(val ctx: Ctx) {
  def spark: SparkSession = ctx.spark
  def ops: Ops = ctx.ops
  def seed: Long = ctx.seed

  /** What one unit of work is (the unit of `work_per_s`). */
  def workUnit: String

  /** Generate the inputs; run [[Main.SetupReps]] times (`rep` = 0, 1,
    * ...), each repetition doing the same work from scratch, so its part
    * of `setup_s` is a median. The last repetition's inputs are measured.
    */
  def setup(rep: Int): Unit

  /** Run the workload's operations once on small inputs, so the measured
    * window starts warm. Runs once: only its first run pays the one-time
    * costs (class loading, JIT, code generation) a user pays.
    */
  def warmUp(): Unit

  /** Run operations until `untilNs` (System.nanoTime), each under its
    * deadline; `traced` selects the per-layer variant where one exists.
    * Returns (units of work completed, seconds spent in the measured
    * operations); `work_per_s` is their ratio.
    */
  def measure(untilNs: Long, traced: Boolean): (Double, Double)

  /** `op_p50_ms`: median latency of this workload's unit operation over
    * every window measured so far.
    */
  def opP50Ms: Double

  /** Named output checks. None = not run because its operation failed
    * (counted in `failed`, not a wrong answer).
    */
  def checks(): Seq[(String, Option[Boolean])]

  /** This workload's per-layer metrics from its last window (the rest
    * report 0).
    */
  def layers(): Map[String, Double]

  def close(): Unit = ()
}

object Main {
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val code =
      try {
        run(a("--workload"), a("--seed").toLong, a("--seconds").toInt,
          a("--trace") == "1", Paths.get(a("--run-dir")),
          Paths.get(a("--out-dir")), Paths.get(a("--result")))
        0
      } catch {
        case e: Throwable =>
          System.err.println(s"perfbench: run failed: $e")
          e.printStackTrace()
          1
      }
    System.out.flush()
    // an abandoned (expired) operation's thread must not hold the JVM
    Runtime.getRuntime.halt(code)
  }

  def session(runDir: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftSessionExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", runDir.resolve("local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def make(name: String, ctx: Ctx): Workload = name match {
    case "mount_io" => new MountIo(ctx)
    case "fs_meta" => new FsMeta(ctx)
    case "curation_funnel" => new Funnel(ctx)
    case "ann_index" => new AnnIndex(ctx)
    case other => sys.error(s"unknown workload $other")
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def run(workload: String, seed: Long, seconds: Int, trace: Boolean,
          runDir: Path, outDir: Path, resultPath: Path): Unit = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = session(runDir, cores)
    val bootS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val ctx = new Ctx(spark, seed, runDir, outDir, cores)
    val env = Env.record(spark, cores)
    println(s"env: ${Env.line(env)}")

    val w = make(workload, ctx)
    val setupTimes = (0 until SetupReps).map { rep =>
      val t0 = System.nanoTime(); w.setup(rep); secs(t0)
    }
    val tw = System.nanoTime()
    w.warmUp()
    val warmS = secs(tw)
    val setupS = bootS + Stats.median(setupTimes).get + warmS
    println(f"setup: boot $bootS%.3f s; inputs " +
      setupTimes.map(t => f"$t%.3f").mkString(", ") +
      f" s (median counted); warm-up $warmS%.3f s")

    val windowNs = seconds * 1000000000L
    val metrics: Seq[(String, Double)] = {
      if (trace) {
        ctx.tracer = new Tracer(enabled = true)
        ctx.probe = Some(new Probe(spark))
      }
      System.gc()
      val c0 = ctx.probe.map(_.snapshot())
      val e0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val (work, busy) = ctx.tracer.span("bench.window") {
        w.measure(t0 + windowNs, traced = trace)
      }
      val e1 = System.currentTimeMillis()
      println(f"window: $work%.3f ${w.workUnit} in $busy%.3f s of " +
        f"operations, ${secs(t0)}%.3f s wall")
      ctx.probe match {
        case None =>
          Metrics.endToEnd(setupS, Probe.retainedHeapMb, work / busy,
            w.opP50Ms)
        case Some(probe) =>
          val c1 = probe.snapshot()
          // time spent in the tracer and the probe themselves
          val overheadMs =
            (ctx.tracer.overheadNs.get + probe.overheadNs.get) / 1e6
          ctx.tracer.writeJson(outDir.resolve("traces")
            .resolve(s"$workload-seed$seed.json"))
          val failedShare = Stats.share(ctx.ops.failed.get,
            math.max(1L, ctx.ops.attempted.get))
          Metrics.perLayer(w.layers() + ("failed_share" -> failedShare),
            c1 - c0.get, e0, e1, probe.jobIntervals, cores, ctx.tracer,
            overheadMs, env)
      }
    }

    val checks = w.checks()
    checks.foreach { case (n, r) =>
      println(s"check $n: " + r.map(if (_) "ok" else "FAILED")
        .getOrElse("not run (its operation failed or did not run here)"))
    }
    val o = ctx.ops
    o.failures.foreach(f => println(s"failure: $f"))
    val correct = checks.forall(_._2.forall(identity))
    metrics.foreach { case (n, v) =>
      println(f"metric $n%-32s ${Json.num(v)}%s ${Metrics.unit(n)}%s")
    }
    require(o.attempted.get >= 1, "no operation was attempted")
    val body = metrics.map { case (n, v) =>
      s"""${Json.str(n)}: {"value": ${Json.num(v)}, """ +
        s""""unit": ${Json.str(Metrics.unit(n))}}"""
    }.mkString(", ")
    val json = s"""{"correct": $correct, "attempted": ${o.attempted.get}, """ +
      s""""failed": ${o.failed.get}, "metrics": {$body}}"""
    w.close()
    Files.write(resultPath, json.getBytes("UTF-8"))
  }
}
