package graft
import org.apache.spark.sql.SparkSession
object Bench {

  /** Rep-slope degradation guard: true when any rep runs slower than
    * BOTH 2× and +1 s over the MIN of the reps before it (the absolute
    * floor keeps sub-second warmup jitter from flagging). r7 lesson:
    * the old rep-1 baseline missed the 8.31 → 3.27 → 13.02 shape —
    * when rep-1 is itself slow (warmup or variance), a later blowup
    * stays under 2×rep-1; against min-so-far the same 13 s rep is 4×
    * the proven 3.27 s capability and flags. Warmup (rep-1 slowest,
    * later reps fast) never flags because the min only shrinks.
    * Protocol note: a flag means in-PROCESS growth relative to proven
    * capability — rerun the query isolated (SPARK_GRAFT_ONLY=<name>)
    * before recording it as self-degrading; r7's fs_rename flag was a
    * cross-query contamination victim, clean in isolation.
    */
  def degrades(times: Seq[Double]): Boolean =
    times.nonEmpty && times.head >= 0 &&
      times.indices.drop(1).exists { i =>
        val base = times.take(i).min
        times(i) > 2 * base && times(i) > base + 1.0
      }

  /** Exoneration criterion for a flagged query's in-JVM recheck: the
    * flag claimed the query can no longer reach its proven capability
    * (`origMin`); any recheck rep landing back inside the guard band
    * (≤ 2× OR within +1 s of that minimum, whichever is wider — the
    * complement of `degrades`' ">2× AND >+1 s" flag) refutes the
    * claim, because a genuine in-process leak
    * would still be loaded and keep every recheck rep slow. Failed
    * reps (−1) never exonerate.
    */
  def exonerates(origMin: Double, recheck: Seq[Double]): Boolean = {
    val ok = recheck.filter(_ >= 0)
    ok.nonEmpty && ok.min <= math.max(2 * origMin, origMin + 1.0)
  }

  /** The RECORDED channel value: min over suite reps ∪ recheck reps
    * (non-negative only; all-failed stays -1). r16 verdict "What's
    * wrong #1": the committed record used min-of-suite-reps even when
    * the same run's recheck had already re-measured the query at its
    * true floor with CPU-probe attribution — so every contaminated
    * suite window left an inflated number that cross-round ratios
    * re-inherited and a human had to exonerate narratively, round
    * after round. The recheck IS same-JVM same-code evidence of
    * capability; recording its min (when lower) makes the committed
    * record self-exonerating — the raw suite series and the recheck
    * series both stay in BENCH_DETAIL.json as the audit trail.
    */
  def mergedMin(reps: Seq[Double], recheck: Seq[Double]): Double = {
    val ok = (reps ++ recheck).filter(_ >= 0)
    if (ok.isEmpty) -1.0 else ok.min
  }

  /** Cross-ROUND regression classification (the guard the in-run
    * rep-slope check cannot provide): a query's min-of-reps this run
    * vs the min recorded in the committed BENCH_DETAIL.json of the
    * previous round. Two level shifts sailed through flagless before
    * this existed — stream_decontaminate r8→r9 (1.1→4.5 s) and
    * pipeline_train_set r9→r10 (1.45→2.40 s) — because `degrades`
    * only watches growth WITHIN a run. Thresholds are calibrated on
    * the measured r9→r10 cross-round distribution: of 56 common
    * queries every ratio except the genuine shift was ≤ 1.21×, so
    * `shifted` fires at >1.5× (with a +0.3 s absolute floor so a
    * 0.10→0.16 s fast-query blip stays out) and `regressed` at >2×
    * (+0.5 s floor). Returns the strongest class that fires.
    */
  def crossRoundFlag(baseMin: Double, curMin: Double): Option[String] =
    if (baseMin <= 0 || curMin < 0) None
    else if (curMin > 2 * baseMin && curMin > baseMin + 0.5) Some("regressed")
    else if (curMin > 1.5 * baseMin && curMin > baseMin + 0.3) Some("shifted")
    else None

  /** Query family = leading name segment ("text_langid" → "text";
    * the q01..q28 relational block folds to "q"). The unit the
    * family-shift detector reasons over: contamination hits a PLAN
    * FAMILY (shared codegen shapes, shared session state), box
    * weather hits whatever rep the scheduler was starving.
    */
  def family(name: String): String =
    if (name.length > 1 && name(0) == 'q' && name(1).isDigit) "q"
    else name.takeWhile(_ != '_')

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s((s.size - 1) / 2)
  }

  /** Suite-level WEATHER factor: the median cross-round ratio over all
    * baselined queries. When the whole suite rides a host-load band
    * (this box's documented ~1.5-2× weather), every per-query
    * cross-round comparison inherits the same multiplier and the
    * recheck protocol drowns in exonerations (25 in the r15
    * instrumented run — all suite-wide, zero family-shaped). The
    * median over ~190 queries is a robust level estimate: one genuine
    * regression cannot move it, and a genuine whole-suite regression
    * from a single code change is implausible across channels that
    * share almost nothing (it would also still show in value_min and
    * in the REPORTED factor — deflation is never silent). Clamped to
    * [1, 2]: sub-1 medians never inflate flags, and the guard never
    * hides more than the documented weather band. Needs ≥8 baselined
    * queries for the median to mean anything. The deflated ratios also
    * feed familyShifts, whose "rest of suite ≤ 1.3×" control otherwise
    * cannot fire at all under global load.
    */
  def weatherFactor(ratios: Map[String, Double]): Double =
    if (ratios.size < 8) 1.0
    else math.min(2.0, math.max(1.0, median(ratios.values.toSeq)))

  /** Weather-STREAK escalation (r16 protocol hardening): weatherFactor
    * can in principle deflate a genuine homogeneous regression — one
    * change slowing all ~190 queries 1.5–2× (a session extension, a
    * codegen-wide pessimization) — into silence, because the median IS
    * the regression. The backstop: a factor above 1.3 in TWO
    * consecutive driver rounds is no longer presumed weather (real box
    * load is episodic; a code-level uniform slowdown persists) and
    * forces a quiet-box re-baseline run before the next round's guard
    * is trusted. Pure predicate so the spec can pin both edges; main()
    * reads the previous round's committed factor and shouts when the
    * streak fires.
    */
  def weatherStreak(prevFactor: Double, curFactor: Double): Boolean =
    prevFactor > 1.3 && curFactor > 1.3

  /** Engine-INDEPENDENT host-load probe: a fixed single-threaded
    * 64-bit mix loop (splitmix64 finalizer chain) with no Spark plans,
    * no allocation, and no I/O — its wall time moves ONLY with CPU
    * contention/frequency, so a probe reading elevated alongside an
    * elevated query discriminates "the box is loaded" from "the engine
    * regressed" with evidence instead of a median heuristic (the
    * weatherFactor ADVICE gap). The checksum is returned through a
    * volatile sink so the loop cannot be dead-code-eliminated.
    * ~40–80 ms nominal on this box; charged OUTSIDE every timed region.
    */
  @volatile private var probeSink: Long = 0L
  def cpuProbe(iters: Int = 1 << 23): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < iters) {
      x += 0x9E3779B97F4A7C15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      x ^= z ^ (z >>> 31)
      i += 1
    }
    probeSink = x
    (System.nanoTime() - t0) / 1e9
  }

  /** Adaptive drain-target for the listener hygiene — the r16 lesson,
    * as a testable unit. The permanent-listener set is unknown at
    * suite start (engine guard listeners and execution listeners
    * register lazily), and mis-estimating it is expensive in BOTH
    * directions: too LOW burns the full drain timeout on every rep
    * (~20 min per 194-query suite, observed); too HIGH stops draining
    * and lets stale stream listeners tax every later query (the r14
    * contamination vector). Rules:
    *
    *  - DOWNWARD is an invariant, not a heuristic: the permanent set
    *    can never exceed ANY observed count, so an observation below
    *    the baseline lowers it immediately.
    *  - UPWARD needs evidence: two consecutive timed-out drains at the
    *    SAME count adopt that count (new permanent registrations hold
    *    steady; a growing leak never matches twice in a row). A slow
    *    ASYNC drain can fake this signature — the downward invariant
    *    is what heals that false adoption within a query or two.
    *
    * `observe` takes the post-drain count and returns the adoption
    * message to log, if any.
    */
  final class DrainBaseline(initial: Int) {
    private var base = initial
    private var lastTimeout = -1
    def baseline: Int = base
    def observe(n: Int): Option[String] = {
      if (n >= 0 && n < base) {
        base = n; lastTimeout = -1; None
      } else if (n > base && base >= 0) {
        if (n == lastTimeout) {
          val msg = s"[bench] adopting $n as the permanent-listener " +
            s"baseline (was $base): two consecutive timed-out drains at " +
            "the same count read as new permanent registrations " +
            "(self-corrects downward if they later drain)"
          base = n; lastTimeout = -1
          Some(msg)
        } else { lastTimeout = n; None }
      } else None
    }
  }

  /** Family-shift detector — the r12 verdict's missing instrument: a
    * WHOLE family shifting together while the interleaved rest of the
    * suite holds its baseline is in-process contamination (session
    * state, codegen churn, listener backlog), not box weather —
    * weather has no reason to align with name prefixes. Input:
    * per-query cross-round ratios (curMin/baseMin, baselined queries
    * only). A family flags when it has ≥3 baselined members, its
    * member-median ratio exceeds 2×, and the median over ALL OTHER
    * baselined queries stays ≤1.3× (the r9→r10 calibration: normal
    * cross-round ratios sit ≤1.21). The r12 text cluster (11 queries
    * at 2.6–12× while 132 others held level) is the designed-for
    * positive; a suite-wide slowdown (everything 2×) correctly does
    * NOT flag any family — that's load, not contamination.
    */
  def familyShifts(ratios: Map[String, Double]): Seq[String] = {
    val fams = ratios.keys.map(family).toSeq.distinct
    fams.filter { f =>
      val (mine, others) = ratios.partition { case (n, _) => family(n) == f }
      mine.size >= 3 && others.nonEmpty &&
        median(mine.values.toSeq) > 2.0 && median(others.values.toSeq) <= 1.3
    }.sorted
  }

  /** One point-in-time JVM/engine counter snapshot; per-query DELTAS of
    * these turn "JVM-context inflation" from a narrative into a
    * measurement (the r12 verdict's top directive). All sources are
    * public management APIs plus Spark's public CodegenMetrics codahale
    * source — compilation-count delta during a query IS its
    * codegen-cache miss count (a hit never recompiles).
    */
  final case class JvmSnap(gcMs: Long, gcCount: Long, jitMs: Long,
                           codegenCompiles: Long, codegenClassBytes: Long,
                           heapUsedMb: Long, activeStreams: Int,
                           codeCacheMb: Long)

  def jvmSnap(spark: SparkSession): JvmSnap = {
    import java.lang.management.ManagementFactory
    import scala.jdk.CollectionConverters._
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val gcMs = gcs.map(b => math.max(0L, b.getCollectionTime)).sum
    val gcCount = gcs.map(b => math.max(0L, b.getCollectionCount)).sum
    val jit = Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime).getOrElse(-1L)
    val cg = org.apache.spark.metrics.source.CodegenMetrics
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    // JIT code-cache occupancy (all CodeHeap segments): the r14 bench
    // needed 15 family-shift exonerations and the suite burned 518 s of
    // JIT time over 3,678 codegen compiles — code-cache exhaustion
    // (240 MB default) flushes warm methods and recompiles them, so the
    // occupancy curve is the instrument that separates "cache thrash"
    // from box weather in a post-run read
    val codeCache = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("CodeHeap") ||
        p.getName.contains("Code Cache"))
      .map(_.getUsage.getUsed).sum
    JvmSnap(gcMs, gcCount, jit,
      cg.METRIC_COMPILATION_TIME.getCount,
      cg.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount,
      heap >> 20,
      try spark.streams.active.length catch { case _: Throwable => -1 },
      codeCache >> 20)
  }

  /** Bounded wait for the listener bus to shed stale per-query
    * streaming listeners. Root-caused r15: a drained streaming query's
    * listeners deregister ASYNCHRONOUSLY (the bus processes the
    * termination event on its own thread), and the r14 detail file
    * shows counts of 8–11 persisting from the stream family into the
    * first eight text channels (baseline 5, a −4 drop landing mid
    * text family) — every stale listener receives every task event of
    * the queries that follow, taxing exactly the family that runs next
    * alphabetically. The wait runs OUTSIDE the timed region, costs
    * nothing when nothing leaked, and caps at `maxWaitMs` so a
    * genuinely stuck listener can't hang the bench.
    */
  def drainListeners(spark: SparkSession, baseline: Int,
                     maxWaitMs: Long = 2000): Int = {
    var waited = 0L
    var n = listenerCount(spark)
    while (n > baseline && baseline >= 0 && waited < maxWaitMs) {
      Thread.sleep(50); waited += 50
      n = listenerCount(spark)
    }
    // a timeout exit is indistinguishable from a clean drain to the
    // caller (the return value is ignored at both call sites), and a
    // genuinely stuck listener re-taxes EVERY subsequent query while
    // silently burning maxWaitMs per rep — name it in the run log
    if (n > baseline && baseline >= 0)
      System.err.println(s"[bench][WARN] listener drain timed out after " +
        s"${maxWaitMs} ms: $n registered vs baseline $baseline — a stuck " +
        "listener is taxing every query that follows")
    n
  }

  /** Registered listener count on the shared LiveListenerBus (leaked
    * listeners from drained streams are a contamination suspect).
    * private[spark] compiles to public bytecode, so plain reflection
    * reads it; any API drift returns -1 rather than failing the bench.
    */
  def listenerCount(spark: SparkSession): Int =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethods.find(m =>
          m.getName == "listeners" && m.getParameterCount == 0)
        .map(_.invoke(bus))
        .collect { case l: java.util.List[_] => l.size() }
        .getOrElse(-1)
    } catch { case _: Throwable => -1 }

  /** Per-query mins from a committed BENCH_DETAIL.json (the previous
    * round's full-suite record). Any parse failure returns empty — the
    * guard silently disarming would be worse, so main() reports the
    * baseline count on the summary line (`baseline_n`); a zero there
    * is the loud signal that the comparison did not happen.
    *
    * The baseline's recorded `sf` must MATCH this run's: every local
    * run (any SF) rewrites the detail file, and an sf0.01 smoke's mins
    * compared against an sf0.1 run mass-flag ~4× "regressions" that
    * are pure scale (observed r11: a smoke clobbered the record and
    * the next full run emitted 1 regressed + 11 shifted, all false).
    * A mismatch disarms the guard loudly (baseline_n = 0) rather than
    * flag noise.
    */
  /** The previous round's committed suite weather factor (for the
    * streak escalation) — tolerant of any parse failure (1.0 = no
    * streak evidence), independent of the SF/eval gates that disarm
    * the per-query baseline comparison.
    */
  def readBaselineWeather(path: String): Double =
    try {
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      om.readTree(new java.io.File(path)).path("weather").asDouble(1.0)
    } catch { case _: Throwable => 1.0 }

  def readBaselineMins(path: String, sfDir: String): Map[String, Double] =
    try {
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = om.readTree(new java.io.File(path))
      val baseSf = root.path("sf").asText("")
      if (baseSf.nonEmpty && baseSf != sfDir) return Map.empty
      // eval-mode gate (r14): baselines recorded under the old count()
      // sink measured LESS work (Catalyst pruned final outer-join
      // branches and aggregate expressions a row count doesn't need),
      // so comparing forced-full-row mins against them mass-flags
      // honest re-pricings as regressions. Same loud disarm as the SF
      // mismatch: baseline_n = 0 says the comparison did not happen.
      if (root.path("eval").asText("count") != "forced_full_row")
        return Map.empty
      val qs = root.path("queries")
      val it = qs.fieldNames()
      val b = Map.newBuilder[String, Double]
      while (it.hasNext) {
        val n = it.next()
        val m = qs.path(n).path("min")
        if (m.isNumber) b += n -> m.asDouble()
      }
      b.result()
    } catch { case _: Throwable => Map.empty }

  /** FULL-evaluation sink (r14 honesty fix): `.count()` let Catalyst
    * PRUNE any final outer join whose aggregate-keyed right side only
    * feeds output columns — the row count is knowable from the left
    * side alone, so the joined branch (and its scans and aggregations)
    * vanished from the measured plan. Caught when gopherRepetition
    * benched at 0.39 s while its gram battery cost 3 s: the same
    * elimination had silently under-measured text_repetition's bigram
    * branch since round 6. Folding every output column into one
    * xxhash64 per row (bit_xor-reduced to a scalar) makes every
    * branch load-bearing; outputs are oracle-sized (≤ ~10k rows), so
    * the added hash work is nanoseconds against the upstream cost.
    * to_json fallback covers hash-unsupported column types (maps).
    * Public so JobProfile measures under the EXACT same sink (r17
    * ADVICE: a diverging copy would silently profile a different plan).
    */
  def evalAll(df: org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.functions.{col, struct, to_json, xxhash64}
    val all = struct(df.columns.map(col).toIndexedSeq: _*)
    val hashed =
      try df.select(xxhash64(all).as("h")).queryExecution.assertAnalyzed match {
        case _ => df.select(xxhash64(all).as("h"))
      }
      catch { case _: Throwable => df.select(xxhash64(to_json(all)).as("h")) }
    hashed.selectExpr("bit_xor(h)").collect()
    ()
  }

  /** Default location of a bench record file: `name` in the working
    * directory (the repo root under `sbt run`). */
  private def inWorkingDir(name: String): String =
    java.nio.file.Paths.get(sys.props("user.dir"), name).toString

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // see GraftSession: the 100-entry default recompiles every
      // generated class on every rep of a 92-query suite
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // absorb JVM/codegen/file-listing warmup so it isn't charged to
    // whichever query happens to run first
    try spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    catch { case _: Throwable => () }
    // pre-suite listener baseline, ADAPTIVE in both directions — the
    // full rationale and both failure modes live on DrainBaseline
    val drainBase = new DrainBaseline(listenerCount(spark))
    def drain(): Unit =
      drainBase.observe(drainListeners(spark, drainBase.baseline))
        .foreach(System.err.println)
    // host-load probe floor: the quiet-box capability of cpuProbe on
    // THIS box, taken before the suite applies any of its own load;
    // per-query and per-recheck probes compare against it (cpuProbe
    // scaladoc — the engine-independent weather instrument)
    val probeFloor = (1 to 3).map(_ => cpuProbe()).min
    // focused A/B runs: SPARK_GRAFT_ONLY=q1,q2 restricts the query set,
    // SPARK_GRAFT_REPS=N overrides the repetition count (default 3).
    // Channel semantics (see the emission comment below): the summary
    // line's "queries" map is MIN-over-reps per query — this box's
    // run-to-run variance band is ~2x for identical code and single-shot
    // charges each plan family's codegen warmup to its alphabetically
    // first member — while "value" keeps the historical single-shot
    // TOTAL for round-over-round comparability and "value_min" carries
    // the min total. Per-rep detail lives in BENCH_DETAIL.json.
    // Evaluation sink: Bench.evalAll (forced full row — see its scaladoc).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").toSet).getOrElse(Set.empty[String])
    val reps = sys.env.get("SPARK_GRAFT_REPS")
      .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(3)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only.contains(n) }
    // a failed query must LOOK failed: named on stderr, timed as -1 —
    // never a plausible wall-time that reads as "slow but fine".
    // Each query also records the JVM-counter DELTA across its reps
    // (jvmSnap scaladoc) — the instrument that lets a post-run read of
    // BENCH_DETAIL.json attribute an in-suite slowdown to GC pressure,
    // JIT/codegen churn, or leaked listeners instead of narrative.
    val jvmByQuery = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // in-suite state dump AT the slow rep (r16 "What's wrong #2"): when
    // a rep blows past the degrades guard band relative to the reps
    // before it, snapshot listeners/heap/codegen/probe IMMEDIATELY —
    // before the hygiene sweep and listener drain run — so the record
    // shows the state that was loaded at the moment of the slowdown,
    // not the cleaned-up state after it. First dump per query wins.
    val slowRepDumps = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val results = selected.map { case (name, fn) =>
      val pre = jvmSnap(spark)
      val preL = listenerCount(spark)
      val acc = scala.collection.mutable.ArrayBuffer.empty[Double]
      val times = (1 to reps).map { i =>
        val t0 = System.nanoTime()
        val t =
          try {
            evalAll(fn(spark, sfDir))
            (System.nanoTime() - t0) / 1e9
          } catch {
            case e: Throwable =>
              System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
              -1.0
          }
        val prior = acc.filter(_ >= 0)
        if (t >= 0 && prior.nonEmpty && t > 2 * prior.min &&
            t > prior.min + 1.0 && !slowRepDumps.contains(name)) {
          val s = jvmSnap(spark)
          val p = cpuProbe()
          slowRepDumps(name) =
            s"""{"rep":$i,"t":${"%.3f".formatLocal(java.util.Locale.ROOT, t)}""" +
              s""","prior_min":${"%.3f".formatLocal(java.util.Locale.ROOT, prior.min)}""" +
              s""","probe":${"%.4f".formatLocal(java.util.Locale.ROOT, p)}""" +
              s""","listeners":${listenerCount(spark)}""" +
              s""","streams":${s.activeStreams}""" +
              s""","heap_mb":${s.heapUsedMb}""" +
              s""","codecache_mb":${s.codeCacheMb}""" +
              s""","gc_ms_d":${s.gcMs - pre.gcMs}""" +
              s""","jit_ms_d":${s.jitMs - pre.jitMs}""" +
              s""","codegen_n_d":${s.codegenCompiles - pre.codegenCompiles}}"""
        }
        // release whatever the rep checkpointed/persisted (counted
        // above, so nothing needs the blocks anymore): the r7 suite
        // accumulated every query's eager localCheckpoints across
        // 90 queries × 3 reps and slowed 1.8× suite-wide. The sweep
        // is OUTSIDE the timed region — hygiene isn't the query's
        // cost — and runs on failure too (the catch above turns a
        // failed rep into -1.0, so this line still runs for it).
        // Stale streaming listeners drain here too (the r14
        // text-family contamination — drainListeners scaladoc).
        PlanHygiene.sweepPersisted(spark)
        drain()
        acc += t
        t
      }
      val post = jvmSnap(spark)
      val postL = listenerCount(spark)
      // one probe per query, OUTSIDE the timed region: its ratio to the
      // pre-suite floor stamps the host-load weather at this suite
      // position into the record, so a post-run read can attribute an
      // inflated query to box contention with a measurement
      val probe = cpuProbe()
      jvmByQuery(name) =
        s"""{"probe":${"%.4f".formatLocal(java.util.Locale.ROOT, probe)}""" +
          s""","gc_ms":${post.gcMs - pre.gcMs}""" +
          s""","gc_n":${post.gcCount - pre.gcCount}""" +
          s""","jit_ms":${post.jitMs - pre.jitMs}""" +
          s""","codegen_n":${post.codegenCompiles - pre.codegenCompiles}""" +
          s""","codegen_classes":${post.codegenClassBytes - pre.codegenClassBytes}""" +
          s""","heap_mb":${post.heapUsedMb}""" +
          s""","listeners":$postL,"listeners_d":${postL - preL}""" +
          s""","streams":${post.activeStreams}""" +
          s""","codecache_mb":${post.codeCacheMb}}"""
      name -> (if (times.contains(-1.0)) Seq(-1.0) else times)
    }
    // The driver records only the LAST 2000 chars of stdout; the r5 line
    // (two full-precision per-query channels, ~4 KB) was truncated
    // mid-JSON and the round recorded no parseable bench numbers. So the
    // summary line carries ONE per-query channel (min-over-reps — the
    // stable one on a box with a ~2x variance band) at ms precision plus
    // both totals, sized to fit the window; the full two-channel,
    // all-reps detail goes to BENCH_DETAIL.json alongside this source.
    // Locale.ROOT: a comma-decimal default locale would render 55,400
    // and break the JSON the whole round's recording depends on
    def r3(v: Double): String =
      if (v < 0) "-1"
      else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val totalFirst = results.map(_._2.head).sum
    // rep-slope guard: a query whose later reps blow past 2× rep-1 is
    // named on stderr AND in the summary line — min-of-reps must never
    // silently mask monotone in-process growth (the r6 lesson)
    val flagged = results.collect { case (n, ts) if degrades(ts) => n }
    // Automated exoneration (the protocol note on `degrades`, now in
    // the harness instead of a manual rerun): a flagged query is
    // immediately re-measured IN THIS JVM. A genuine in-process leak
    // (accumulated checkpoints, codegen-cache thrash, stranded
    // streaming state) is still present, so the recheck stays slow and
    // the flag is CONFIRMED; a host-contention blip — this box's
    // documented ~2× noise band hitting one rep of a fixed-overhead-
    // dominated query — does not reproduce, and the query is
    // exonerated when any recheck rep lands back inside the guard band
    // of the suite-run minimum. Both lists are emitted; nothing is
    // silent. r8 evidence for why: dedup_simhash_wide flagged at reps
    // 3.0→3.1→9.1 on the driver box while five isolated runs held a
    // 2.0–2.5 s floor — the 9.1 was weather, and the old flag could
    // not say so.
    // Cross-round guard (see crossRoundFlag): baseline mins come from
    // the COMMITTED previous-round detail file, read BEFORE this run
    // overwrites it. Queries new this round have no baseline and are
    // skipped; baseline_n on the summary line says how many compared.
    val baselinePath = sys.env.getOrElse("SPARK_GRAFT_BASELINE",
      inWorkingDir("BENCH_DETAIL.json"))
    val baseline = readBaselineMins(baselinePath, sfDir)
    val ratios: Map[String, Double] = results.flatMap { case (n, ts) =>
      baseline.get(n).filter(_ > 0).collect {
        case b if ts.min >= 0 => n -> ts.min / b
      }
    }.toMap
    // suite-level load deflation (weatherFactor scaladoc): per-query
    // comparisons run against the deflated min so a global host-load
    // band doesn't mass-flag; the factor is always reported
    val weather = weatherFactor(ratios)
    if (weather > 1.0)
      System.err.println(f"[bench] suite-median cross-round ratio " +
        f"$weather%.2f — deflating per-query flags by it (box weather)")
    // streak escalation (weatherStreak scaladoc): two consecutive
    // rounds above 1.3 is no longer presumed weather — a genuine
    // uniform regression would look exactly like this and the deflator
    // would keep hiding it; the record carries the flag so the protocol
    // (mandatory quiet-box re-baseline) cannot be skipped silently
    val prevWeather = readBaselineWeather(sys.env.getOrElse(
      "SPARK_GRAFT_BASELINE", inWorkingDir("BENCH_DETAIL.json")))
    val streak = weatherStreak(prevWeather, weather)
    if (streak)
      System.err.println(f"[bench][WARN] WEATHER STREAK: factor " +
        f"$weather%.2f now after $prevWeather%.2f last round — two rounds " +
        "above 1.3 is not weather; run a quiet-box re-baseline before " +
        "trusting this guard again")
    val crossFlagged: Map[String, String] = results.flatMap { case (n, ts) =>
      baseline.get(n)
        .flatMap(b => crossRoundFlag(b, ts.min / weather)).map(n -> _)
    }.toMap
    // family-shift detection over the DEFLATED cross-round ratios: a
    // whole prefix-family shifting while the rest holds is
    // CONTAMINATION, named as such in the record (see familyShifts
    // scaladoc; under global load the raw "rest ≤ 1.3×" control could
    // never fire, so deflation restores the instrument's sensitivity)
    val famShifts = familyShifts(
      ratios.map { case (n, r) => n -> r / weather })
    famShifts.foreach { f =>
      val mine = ratios.filter { case (n, _) => family(n) == f }
      System.err.println(f"[bench][WARN] FAMILY SHIFT: '$f' " +
        f"(${mine.size} baselined queries, median ratio " +
        f"${median(mine.values.toSeq)}%.2f) while the rest of the suite " +
        f"holds (median ${median(ratios.filter { case (n, _) =>
          family(n) != f }.values.toSeq)}%.2f) — in-process " +
        "contamination, not box weather; read the jvm counters in " +
        "BENCH_DETAIL.json")
    }
    val recheckReps = sys.env.get("SPARK_GRAFT_RECHECK")
      .flatMap(_.toIntOption).filter(_ >= 0).getOrElse(3)
    val queryFns = SparkEntry.queries
    val toRecheck = (flagged ++ crossFlagged.keys).distinct
    // each recheck rep carries its own host-load probe (outside the
    // timed region): the r15 record showed recheck reps GROWING at
    // suite end (fuzzy 3.5→14.9→8.4) with flat listeners while the same
    // channels held their solo floors across 6 quiet-box reps — the
    // probe pins whether such a shape is box contention at that moment
    // or engine state, per rep, with no narrative needed
    val recheckProbes = scala.collection.mutable.Map.empty[String, Seq[Double]]
    val rechecks: Map[String, Seq[Double]] = toRecheck.map { n =>
      val pr = scala.collection.mutable.ArrayBuffer.empty[Double]
      val ts = (1 to recheckReps).map { _ =>
        val t0 = System.nanoTime()
        try {
          evalAll(queryFns(n)(spark, sfDir))
          (System.nanoTime() - t0) / 1e9
        } catch { case _: Throwable => -1.0 }
        finally {
          PlanHygiene.sweepPersisted(spark)
          drain()
          pr += cpuProbe()
        }
      }
      recheckProbes(n) = pr.toSeq
      n -> ts
    }.toMap
    val (exonerated, degraded) = flagged.partition { n =>
      exonerates(results.toMap.apply(n).min, rechecks(n))
    }
    // RECORDED channel values (mergedMin scaladoc): suite reps ∪
    // recheck reps — an exonerating recheck's floor becomes the
    // committed number, so cross-round ratios never re-read a
    // contamination artifact; the raw series stays in the detail file
    val effMins: Map[String, Double] = results.map { case (n, ts) =>
      n -> mergedMin(ts, rechecks.getOrElse(n, Nil))
    }.toMap
    val totalMinEff = results.map { case (n, _) => effMins(n) }.sum
    flagged.foreach { n =>
      val verdict = if (degraded.contains(n)) "CONFIRMED" else "exonerated"
      System.err.println(s"[bench][WARN] $n DEGRADES across reps: " +
        results.toMap.apply(n).map(r3).mkString(" -> ") +
        s" — recheck ${rechecks(n).map(r3).mkString(" -> ")} → $verdict")
    }
    // Cross-round confirm-or-exonerate: the flag claims the query can
    // no longer reach last round's capability, so the strongest
    // refutation is reaching it — the final class is recomputed from
    // the best min across suite reps AND recheck reps. A host blip
    // that inflated every suite rep drops back during recheck and the
    // flag dissolves (shift_exonerated); a true code-level shift keeps
    // every recheck rep high and the class stands (a regressed flag
    // whose recheck lands between 1.5× and 2× downgrades to shifted —
    // the evidence now only supports the weaker claim).
    val crossFinal: Map[String, Option[String]] = crossFlagged.map {
      case (n, _) =>
        val suiteMin = results.toMap.apply(n).min
        val ok = rechecks.getOrElse(n, Nil).filter(_ >= 0)
        val effMin = (suiteMin +: ok).filter(_ >= 0) match {
          case Nil => suiteMin
          case xs  => xs.min
        }
        // rechecks run AFTER the loaded suite pass, so they see current
        // weather too — the final class uses the same deflation
        n -> crossRoundFlag(baseline(n), effMin / weather)
    }
    val regressed = crossFinal.collect { case (n, Some("regressed")) => n }
      .toSeq.sorted
    val shifted = crossFinal.collect { case (n, Some("shifted")) => n }
      .toSeq.sorted
    val shiftExonerated = crossFinal.collect { case (n, None) => n }
      .toSeq.sorted
    crossFlagged.toSeq.sortBy(_._1).foreach { case (n, initial) =>
      val fin = crossFinal(n).getOrElse("exonerated")
      System.err.println(s"[bench][WARN] $n vs baseline " +
        s"${r3(baseline(n))}: min ${r3(results.toMap.apply(n).min)} " +
        s"($initial) — recheck " +
        rechecks.getOrElse(n, Nil).map(r3).mkString(" -> ") + s" → $fin")
    }
    def list(key: String, xs: Seq[String]): String =
      if (xs.isEmpty) ""
      else xs.map("\"" + _ + "\"").mkString(s""","$key":[""", ",", "]")
    val degradedJson =
      list("degraded", degraded) + list("exonerated", exonerated) +
        list("regressed", regressed) + list("shifted", shifted) +
        list("shift_exonerated", shiftExonerated) +
        list("family_shift", famShifts) +
        s""","baseline_n":${results.count(r => baseline.contains(r._1))}""" +
        s""","weather":${r3(weather)}""" +
        (if (streak) s""","weather_streak":true""" else "") +
        s""","probe_floor":${r3(probeFloor)}"""
    def line(qs: String, extra: String): String =
      s"""{"metric":"total","value":${r3(totalFirst)},"unit":"sec",""" +
        s""""queries":$qs,"queries_channel":"min_of_reps_and_recheck"$extra$degradedJson,""" +
        s""""value_min":${r3(totalMinEff)},"eval":"forced_full_row",""" +
        s""""reps":$reps,"sf":"$sfDir"}"""
    // degrade ADAPTIVELY if the query set outgrows the window: keep the
    // LARGEST prefix of queries by min-time (failures sort first — a
    // red query must never fall off the record) that fits, and SAY SO
    // in the line — "q_floor" is the effective cut (the smallest kept
    // min) and "n_below_floor" counts what was cut; never a silent
    // truncation, never a cliff to zero detail when dropping one more
    // fast query would fit. The cut numbers live in BENCH_DETAIL.json.
    val bySlowest = results.sortBy { case (n, _) =>
      val m = effMins(n)
      -(if (m < 0) Double.MaxValue else m) }
    val out = (results.size to 0 by -1).iterator.map { keep =>
      val kept = bySlowest.take(keep).sortBy(_._1)
      val qs = kept.map { case (k, _) => "\"" + k + "\":" + r3(effMins(k)) }
        .mkString("{", ",", "}")
      val extra =
        if (keep == results.size) ""
        else {
          val realMins = kept.map(k => effMins(k._1)).filter(_ >= 0)
          val floor = if (realMins.isEmpty) -1.0 else realMins.min
          s""","q_floor":${r3(floor)},"n_below_floor":${results.size - keep}"""
        }
      line(qs, extra)
    }.find(_.length <= 1850)
      .getOrElse(line("{}", s""","q_floor":-1,"n_below_floor":${results.size}"""))
    val detail = results.map { case (k, ts) =>
      val recheck = rechecks.get(k)
        .map(r => ",\"recheck\":" + r.mkString("[", ",", "]") +
          recheckProbes.get(k).map(p =>
            ",\"recheck_probe\":" + p.map(r3).mkString("[", ",", "]"))
            .getOrElse("") +
          ",\"confirmed\":" + degraded.contains(k))
        .getOrElse("")
      val cross = baseline.get(k).map { b =>
        ",\"base_min\":" + b + crossFinal.get(k).map(c =>
          ",\"cross\":\"" + c.getOrElse("exonerated") + "\"").getOrElse("")
      }.getOrElse("")
      "\"" + k + "\":{\"reps\":" + ts.mkString("[", ",", "]") +
        ",\"first\":" + ts.head + ",\"min\":" + effMins(k) +
        ",\"suite_min\":" + ts.min +
        ",\"degrades\":" + degrades(ts) +
        jvmByQuery.get(k).map(",\"jvm\":" + _).getOrElse("") +
        slowRepDumps.get(k).map(",\"slow_rep\":" + _).getOrElse("") +
        recheck + cross + "}"
    }.mkString(
      s"""{"metric":"total","value_first":$totalFirst,"value_min":$totalMinEff,""" +
        s""""unit":"sec","eval":"forced_full_row","reps":$reps,"sf":"$sfDir",""" +
        s""""weather":${r3(weather)},"probe_floor":${r3(probeFloor)},""" +
        (if (streak) s""""weather_streak":true,""" else "") +
        famShifts.map("\"" + _ + "\"")
          .mkString("\"family_shift\":[", ",", "],") +
        s""""queries":{""",
      ",", "}}")
    // a SPARK_GRAFT_ONLY-restricted smoke run must never clobber the
    // round's full-suite record (it did once — the committed detail file
    // briefly held a single-query run); restricted runs write the detail
    // only when SPARK_GRAFT_DETAIL names an explicit destination
    val detailDest =
      if (only.isEmpty) Some(sys.env.getOrElse("SPARK_GRAFT_DETAIL",
        inWorkingDir("BENCH_DETAIL.json")))
      else sys.env.get("SPARK_GRAFT_DETAIL")
    detailDest.foreach { dest =>
      try java.nio.file.Files.write(
        java.nio.file.Paths.get(dest), (detail + "\n").getBytes("UTF-8"))
      catch { case e: Throwable =>
        System.err.println(s"[bench] detail write failed: ${e.getMessage}") }
    }
    // Driver-parseable FULL record (r17 verdict "What's wrong #1": the
    // stdout summary line rides under sbt's "[info] " prefix and its
    // size-capped queries map drops every below-floor channel, so the
    // driver's comparison machinery has parsed null since r14). The
    // complete record — every query at its recorded min, value,
    // value_min, weather — goes out twice more: as ONE bare line in a
    // known file (BENCH_LINE.json; same restricted-run clobber guard as
    // the detail file) and prefix-free on stderr. The stdout line,
    // channels, and timing methodology are UNCHANGED.
    val fullQs = results.sortBy(_._1)
      .map { case (k, _) => "\"" + k + "\":" + r3(effMins(k)) }
      .mkString("{", ",", "}")
    val fullLine = line(fullQs, "")
    val lineDest =
      if (only.isEmpty) Some(sys.env.getOrElse("SPARK_GRAFT_LINE",
        inWorkingDir("BENCH_LINE.json")))
      else sys.env.get("SPARK_GRAFT_LINE")
    lineDest.foreach { dest =>
      try java.nio.file.Files.write(
        java.nio.file.Paths.get(dest), (fullLine + "\n").getBytes("UTF-8"))
      catch { case e: Throwable =>
        System.err.println(s"[bench] line write failed: ${e.getMessage}") }
    }
    System.err.println(fullLine)
    println(out)
    spark.stop()
  }
}
