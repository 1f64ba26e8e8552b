package perfbench

import org.apache.spark.sql.SparkSession

/** The metric catalogue (names and units, mirrored by BENCHMARK.json and
  * checked against it by [[SelfTest]]) and the assembly of each run's
  * metric set.
  */
object Metrics {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "heap_retained_mb" -> "MB",
    "work_per_s" -> "1/s",
    "op_p50_ms" -> "ms")

  val MountVerbs = Seq("create", "write", "close", "stat", "list", "mkdirs",
    "rename", "delete", "open", "read")
  val ShellVerbs = Seq("mkdir", "touchz", "mv", "rm", "stat", "ls", "du",
    "count")
  val FunnelStages = Seq("extract", "langid", "nb", "minhash", "decontam",
    "mix", "pack", "split")
  val TracedLayers = Seq("mount", "shell", "catalog", "funnel", "dedup",
    "ann", "bench")

  /** Verb tails measured by the traced fs_meta run (FsMeta.topUp): the
    * quantile each verb's samples can reach there. Tails need 10 samples
    * above them (p90: 100 samples, p99: 1000), so the verbs of a few
    * milliseconds or less get p99, the wal-writing verbs (tens of
    * milliseconds) p90, and read and the shell's scans (0.1-1 s) none.
    */
  val Tails: Seq[(String, Double)] = Seq(
    "mount.create" -> 0.9, "mount.write" -> 0.9, "mount.close" -> 0.9,
    "mount.stat" -> 0.99, "mount.list" -> 0.99, "mount.mkdirs" -> 0.99,
    "mount.rename" -> 0.9, "mount.delete" -> 0.9, "mount.open" -> 0.99,
    "shell.mkdir" -> 0.9, "shell.touchz" -> 0.9, "shell.mv" -> 0.9,
    "shell.rm" -> 0.9)
  def tailName(sample: String, q: Double): String =
    s"${sample}_p${math.round(q * 100)}_ms"
  private def verbLatencies(layer: String, verbs: Seq[String]) =
    verbs.flatMap { v =>
      val name = s"$layer.$v"
      (s"${name}_p50_ms" -> "ms") +:
        Tails.collect { case (`name`, q) => tailName(name, q) -> "ms" }
    }

  val PerLayer: Seq[(String, String)] =
    Seq(
      // the workloads' headline numbers, from the traced window
      "failed_share" -> "share",
      "write_MBps" -> "MB/s", "read_MBps" -> "MB/s", "cat_MBps" -> "MB/s",
      "meta_point_p50_ms" -> "ms", "meta_point_p90_ms" -> "ms",
      "meta_scan_p50_ms" -> "ms",
      "funnel_docs_per_s" -> "1/s",
      "ann_build_s" -> "s", "ann_append_rows_per_s" -> "1/s",
      "ann_search_qps" -> "1/s", "ann_recall_at_10" -> "share") ++
    verbLatencies("mount", MountVerbs) ++
    Seq("mount.nested_jobs_per_block" -> "ratio",
      "mount.write_jobs" -> "count", "mount.read_jobs" -> "count",
      "mount.blocks_read" -> "count",
      "store.bytes_per_user_byte" -> "ratio", "store.wal_files" -> "count") ++
    verbLatencies("shell", ShellVerbs) ++
    Seq("catalog.save_s" -> "s", "catalog.dsv2_scan_p50_ms" -> "ms",
      "catalog.dsv2_files_read_share" -> "share") ++
    FunnelStages.flatMap(s =>
      Seq(s"funnel.${s}_s" -> "s", s"funnel.${s}_rows_out" -> "count")) ++
    Seq("dedup.candidate_pairs" -> "count", "dedup.verified_pairs" -> "count",
      "dedup.verify_yield" -> "share", "dedup.lsh_dropped_pairs" -> "count",
      "ann.coarse_train_s" -> "s", "ann.pq_train_s" -> "s",
      "ann.encode_save_s" -> "s", "ann.append_s" -> "s", "ann.load_s" -> "s",
      "ann.search_s" -> "s", "ann.scanned_share" -> "share",
      "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
      "catalyst.planning_ms" -> "ms", "driver.residual_ms" -> "ms",
      "scheduler.jobs" -> "count", "scheduler.stages" -> "count",
      "scheduler.tasks" -> "count", "scheduler.delay_ms" -> "ms",
      "executor.run_ms" -> "ms", "executor.cpu_ms" -> "ms",
      "executor.gc_ms" -> "ms", "executor.core_util" -> "share",
      "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes",
      "shuffle.spill_bytes" -> "bytes",
      "jvm.gc_ms" -> "ms", "jvm.codegen_compiles" -> "count",
      "host.cpu_probe_ms" -> "ms", "trace.overhead_ms" -> "ms") ++
    TracedLayers.map(l => s"trace.self_${l}_ms" -> "ms")

  private val units: Map[String, String] = (EndToEnd ++ PerLayer).toMap
  def unit(name: String): String = units(name)

  def endToEnd(setupS: Double, heapMb: Double, workPerS: Double,
               opP50Ms: Double): Seq[(String, Double)] = {
    val m = Map("setup_s" -> setupS, "heap_retained_mb" -> heapMb,
      "work_per_s" -> workPerS, "op_p50_ms" -> opP50Ms)
    EndToEnd.map { case (n, _) => n -> m(n) }
  }

  /** Per-layer values: the workload's own, then the engine/JVM split of
    * the traced window [e0, e1] (epoch ms). A metric the workload does
    * not exercise reports 0 (README: "0 = not exercised").
    */
  def perLayer(own: Map[String, Double], c: Counters, e0: Long, e1: Long,
               jobs: Seq[(Long, Long)], cores: Int, tracer: Tracer,
               overheadMs: Double, env: Env): Seq[(String, Double)] = {
    val wallMs = math.max(1L, e1 - e0).toDouble
    val self = tracer.selfMsByLayer
    val engine = Map(
      "catalyst.analysis_ms" -> c.analysisMs.toDouble,
      "catalyst.optimization_ms" -> c.optimizationMs.toDouble,
      "catalyst.planning_ms" -> c.planningMs.toDouble,
      "driver.residual_ms" -> Stats.residual(e0, e1, jobs).toDouble,
      "scheduler.jobs" -> c.jobs.toDouble,
      "scheduler.stages" -> c.stages.toDouble,
      "scheduler.tasks" -> c.tasks.toDouble,
      "scheduler.delay_ms" -> c.delayMs.toDouble,
      "executor.run_ms" -> c.runMs.toDouble,
      "executor.cpu_ms" -> c.cpuMs,
      "executor.gc_ms" -> c.taskGcMs.toDouble,
      "executor.core_util" -> c.runMs / (wallMs * cores),
      "shuffle.write_bytes" -> c.shuffleWrite.toDouble,
      "shuffle.read_bytes" -> c.shuffleRead.toDouble,
      "shuffle.spill_bytes" -> c.spill.toDouble,
      "jvm.gc_ms" -> c.jvmGcMs.toDouble,
      "jvm.codegen_compiles" -> c.codegen.toDouble,
      "host.cpu_probe_ms" -> env.cpuProbeMs,
      "trace.overhead_ms" -> overheadMs) ++
      TracedLayers.map(l => s"trace.self_${l}_ms" -> self.getOrElse(l, 0.0))
    val all = own ++ engine
    all.keys.filterNot(units.contains).foreach(k =>
      sys.error(s"metric $k is missing from the catalogue"))
    PerLayer.map { case (n, _) => n -> all.getOrElse(n, 0.0) }
  }

  /** Percentile-or-0 for per-layer latency metrics: 0 when the window
    * held too few samples (README: tail percentiles need 10 samples
    * above them).
    */
  def p50(xs: Seq[Double]): Double = Stats.median(xs).getOrElse(0.0)
  def tail(xs: Seq[Double], q: Double): Double = Stats.tail(xs, q).getOrElse(0.0)
}

/** Run environment and host load, recorded with every run. */
final case class Env(cores: Int, heapMaxMb: Long, cpuProbeMs: Double,
                     load1m: Double, confs: Seq[(String, String)])

object Env {
  def record(spark: SparkSession, cores: Int): Env = {
    // engine-independent CPU probe, best of three (host load, not JIT)
    val probe = (0 until 3).map(_ => graft.Bench.cpuProbe()).min * 1000
    val conf = spark.conf.getAll.toSeq.sortBy(_._1)
      .filter { case (k, _) =>
        k.startsWith("spark.sql.") || k == "spark.master" ||
          k.startsWith("spark.graft") || k == "spark.driver.memory"
      }
    Env(cores, Runtime.getRuntime.maxMemory >> 20, probe,
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage, conf)
  }

  def line(e: Env): String =
    f"cores=${e.cores} heap_max_mb=${e.heapMaxMb} " +
      f"cpu_probe_ms=${e.cpuProbeMs}%.2f load_1m=${e.load1m}%.2f " +
      e.confs.map { case (k, v) => s"$k=$v" }.mkString(" ")
}
