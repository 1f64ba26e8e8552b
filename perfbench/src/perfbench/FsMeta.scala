package perfbench

import java.net.URI
import java.nio.file.Path

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.functions._

import graft.fs.{FsContext, GraftFileSystem, GraftShell, GraftShellMain}

/** fs_meta: a seeded closed-loop mix of small-file metadata traffic on a
  * state-dir mount — FileSystem verbs, GraftShell verbs over the mount's
  * namespace, and per round an FsCatalog.save + prefix-filtered DSv2
  * scans. The working set (a few hundred KB files) fits the 64 MB pending
  * buffer and the inode caches, so the data plane is barely touched: the
  * control for mount_io.
  *
  * graft has no public way for a shell to write through a mount: a
  * GraftShell keeps its own state cell, seeded from a snapshot. The shell
  * is therefore re-seeded from the mount's snapshot at the start of every
  * round, so its scans see the mount's namespace as of that round; its
  * own mutations stay in the shell, under /s, and end with the round.
  */
final class FsMeta(ctx: Ctx) extends Workload(ctx) {
  val Dirs = 8
  val FilesPerDir = 16
  val PointDeadlineMs = 10000L
  val ScanDeadlineMs = 30000L

  def workUnit = "verbs (one round of the mix at median verb times)"

  /** Verb → weight per round. The FileSystem verbs weigh what mount_io's
    * stock parquet write and read-back of one batch issue against the
    * mount (counted by `run.py --committer-verbs` at local[4]: write stat
    * 25, rename 8, create 5, list 5, delete 2, mkdirs 1; read-back stat 7,
    * open 5, list 1). The shell verbs and the DSv2 scan, which a committer
    * does not issue, run once each per round.
    * Reads: stat, list, open + read; writes: create + write + close,
    * mkdirs, rename, delete and the shell mutations; scans (verbs that run
    * a Spark job): shell -stat, -ls, -du, -count and the DSv2 scan.
    */
  val Mix: Seq[(String, Int)] = Seq(
    "mount.stat" -> 32, "mount.rename" -> 8, "mount.list" -> 6,
    "mount.create_file" -> 5, "mount.open_read" -> 5, "mount.delete" -> 2,
    "mount.mkdirs" -> 1,
    "shell.mkdir" -> 1, "shell.touchz" -> 1, "shell.mv" -> 1, "shell.rm" -> 1,
    "shell.stat" -> 1, "shell.ls" -> 1, "shell.du" -> 1, "shell.count" -> 1,
    "catalog.dsv2_scan" -> 1)
  val ScanVerbs = Set("shell.ls", "shell.du", "shell.count", "shell.stat",
    "catalog.dsv2_scan")
  val WriteVerbs = Set("mount.create_file", "mount.mkdirs", "mount.rename",
    "mount.delete", "shell.mkdir", "shell.touchz", "shell.mv", "shell.rm")

  // the live objects of the last set-up repetition
  private var stateDir: Path = _
  private var fs: GraftFileSystem = _
  private var base: String = _
  private var shell: GraftShell = _
  /** The mount snapshot the shell was seeded from (pinned). */
  private var shellSeed: graft.fs.GraftFs = _
  private var snapDir: Path = _
  private var snapFiles = 0
  /** Model of the mount namespace: path → file length (-1 = directory). */
  private val model = mutable.TreeMap.empty[String, Long]
  /** Model of the shell's /s subtree, same encoding. */
  private val shellModel = mutable.TreeMap.empty[String, Long]
  /** The namespace the shell was seeded from (the mount's, at the start
    * of the round). */
  private var shellBase = Map.empty[String, Long]
  private def shellView: collection.Map[String, Long] = shellBase ++ shellModel
  /** Model at the last catalog save, for checking DSv2 scans. */
  private var savedModel = Map.empty[String, Long]
  private var rnd: java.util.SplittableRandom = _
  private var nameSeq = 0
  private var wrongAnswers = 0
  private var dsv2Ok = true
  private var dsv2Ran = false
  private var lastLayers = Map.empty[String, Double]
  /** Every counted attempt's time by verb, failures included. */
  private val attemptMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val counts = mutable.Map.empty[String, Int].withDefaultValue(0)

  private def p(path: String) = new HPath(base + path)

  private def payload(n: Int): Array[Byte] = {
    val b = new Array[Byte](n); rnd.nextBytes(b); b
  }

  def setup(rep: Int): Unit = {
    close()
    rnd = new java.util.SplittableRandom(Gen.mix(seed, 0xfeedL))
    model.clear(); shellModel.clear(); deck.clear(); nameSeq = 0
    // the initial working set, written through a plain mount and saved
    // as the state the measured mount starts from
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.graftfs.impl", classOf[GraftFileSystem].getName)
    val seedFs = FileSystem.newInstance(new URI(s"graftfs://metaseed$rep/"),
      hconf).asInstanceOf[GraftFileSystem]
    model("/") = -1L; model("/w") = -1L
    (0 until Dirs).foreach { d =>
      model(s"/w/d$d") = -1L
      (0 until FilesPerDir).foreach { f =>
        val bytes = payload(1024 + rnd.nextInt(7 * 1024))
        val out = seedFs.create(new HPath(s"graftfs://metaseed$rep/w/d$d/f$f"))
        out.write(bytes); out.close()
        model(s"/w/d$d/f$f") = bytes.length.toLong
      }
    }
    stateDir = ctx.runDir.resolve(s"meta-state-$rep")
    val snap = seedFs.graftFs
    try GraftShellMain.saveFs(snap, stateDir.toString)
    finally seedFs.releaseSnapshot(snap)
    seedFs.close()
    val (m, b) = Mounts.mount(spark, "meta", stateDir)
    fs = m; base = b
    snapDir = ctx.runDir.resolve(s"meta-snap-$rep")
  }

  // one whole round of the mix
  def warmUp(): Unit = {
    step(counted = false)
    while (deck.nonEmpty) step(counted = false)
  }

  /** Start of a round: save the catalog (the round's DSv2 scans read this
    * snapshot) and re-seed the shell from the mount's current namespace,
    * with /s/a and two empty files for its mutations.
    */
  private def newRound(counted: Boolean): Unit = {
    save(counted)
    closeShell()
    shellModel.clear()
    ops.call("shell.seed", ScanDeadlineMs) {
      shellSeed = fs.graftFs
      shell = new GraftShell(shellSeed, FsContext.initialize(base + "/"))
      shellBase = model.toMap
      sh("-mkdir", "/s/a")
      shellModel("/s") = -1L; shellModel("/s/a") = -1L
      (0 until 2).foreach { i =>
        sh("-touchz", s"/s/a/seed$i"); shellModel(s"/s/a/seed$i") = 0L
      }
    }
  }

  private def closeShell(): Unit = {
    if (shell != null) shell.close()
    if (shellSeed != null) fs.releaseSnapshot(shellSeed)
    shell = null; shellSeed = null
  }

  private def files(m: collection.Map[String, Long], under: String) =
    m.iterator.filter { case (k, v) => v >= 0 && k.startsWith(under) }
      .map(_._1).toIndexedSeq
  private def dirs(m: collection.Map[String, Long], under: String) =
    m.iterator.filter { case (k, v) => v < 0 && k.startsWith(under) }
      .map(_._1).toIndexedSeq
  private def pick[T](xs: IndexedSeq[T]): Option[T] =
    if (xs.isEmpty) None else Some(xs(rnd.nextInt(xs.length)))
  private def fresh(prefix: String): String = { nameSeq += 1; s"$prefix$nameSeq" }
  private def parentOf(path: String): String =
    path.substring(0, math.max(1, path.lastIndexOf('/')))

  private def save(counted: Boolean): Unit = {
    val o = runOp("catalog.save", ScanDeadlineMs, counted) {
      val snap = fs.graftFs
      try snap.catalog.save(snapDir.toString, numPartitions = 8)
      finally fs.releaseSnapshot(snap)
    }
    if (o.isInstanceOf[Done[_]]) {
      savedModel = model.toMap
      snapFiles = java.nio.file.Files.list(snapDir).filter(
        _.getFileName.toString.endsWith(".parquet")).count().toInt
    }
  }

  private def runOp[T](name: String, limit: Long, counted: Boolean)(
      f: => T): Outcome[T] = {
    val o = if (counted) ops.run(name, limit)(f) else ops.call(name, limit)(f)
    if (counted) attemptMs.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += o.ms
    if (counted) o match {
      case Failed(_: IllegalArgumentException, _) => wrongAnswers += 1
      case Done(_, ms) =>
        ctx.samples.add(name, ms)
        counts(name) += 1
      case _ => ()
    }
    o
  }

  /** Time one sub-call of a verb (create/write/close, open/read). */
  private def sub[T](name: String, counted: Boolean)(f: => T): T = {
    val t0 = System.nanoTime()
    val v = ctx.tracer.span(name)(f)
    if (counted) ctx.samples.add(name, (System.nanoTime() - t0) / 1e6)
    v
  }

  /** The verb sequence: rounds that each hold every verb exactly its
    * weight's number of times, in seeded order, so every window runs the
    * stated read/write/scan shares.
    */
  private val deck = mutable.Queue.empty[String]
  private def nextVerb(counted: Boolean): String = {
    if (deck.isEmpty) {
      newRound(counted)
      val round = Mix.flatMap { case (v, w) => Seq.fill(w)(v) }.toArray
      var i = round.length - 1
      while (i > 0) {
        val j = rnd.nextInt(i + 1)
        val t = round(i); round(i) = round(j); round(j) = t
        i -= 1
      }
      deck ++= round
    }
    deck.dequeue()
  }

  private def step(counted: Boolean): Unit =
    issue(nextVerb(counted), counted)

  /** One verb; the model changes only when the verb succeeds. */
  private def issue(verb: String, counted: Boolean): Unit = {
    def run(limit: Long)(f: => Unit): Boolean =
      runOp(verb, limit, counted)(f).isInstanceOf[Done[_]]
    verb match {
      case "mount.stat" => pick(model.keys.toIndexedSeq).foreach { path =>
        run(PointDeadlineMs) {
          val st = fs.getFileStatus(p(path))
          require(st.isDirectory == (model(path) < 0) &&
            (st.isDirectory || st.getLen == model(path)), s"stat $path")
        }
      }
      case "mount.list" => pick(dirs(model, "/")).foreach { d =>
        run(PointDeadlineMs) {
          val n = fs.listStatus(p(d)).length
          val want = model.keys.count(k => k != d && parentOf(k) == d)
          require(n == want, s"list $d: $n entries, model has $want")
        }
      }
      case "mount.open_read" => pick(files(model, "/w")).foreach { f =>
        run(PointDeadlineMs) {
          val in = sub("mount.open", counted)(fs.open(p(f)))
          val buf = new Array[Byte](model(f).toInt)
          try sub("mount.read", counted)(in.readFully(0L, buf))
          finally in.close()
        }
      }
      // tail top-up only: open without the read
      case "mount.open_only" => pick(files(model, "/w")).foreach { f =>
        run(PointDeadlineMs)(sub("mount.open", counted)(fs.open(p(f))).close())
      }
      case "mount.create_file" => pick(dirs(model, "/w")).foreach { d =>
        val f = fresh(s"$d/n")
        val bytes = payload(1024 + rnd.nextInt(3 * 1024))
        if (run(PointDeadlineMs) {
          val out = sub("mount.create", counted)(fs.create(p(f)))
          sub("mount.write", counted)(out.write(bytes))
          sub("mount.close", counted)(out.close())
        }) model(f) = bytes.length.toLong
      }
      case "mount.mkdirs" => pick(dirs(model, "/w")).foreach { d =>
        val nd = fresh(s"$d/m")
        if (run(PointDeadlineMs)(require(fs.mkdirs(p(nd)))))
          model(nd) = -1L
      }
      case "mount.rename" =>
        for (f <- pick(files(model, "/w")); d <- pick(dirs(model, "/w"))) {
          val to = fresh(s"$d/r")
          if (run(PointDeadlineMs)(require(fs.rename(p(f), p(to))))) {
            model(to) = model(f); model.remove(f)
          }
        }
      case "mount.delete" => pick(files(model, "/w")).foreach { f =>
        if (run(PointDeadlineMs)(require(fs.delete(p(f), false))))
          model.remove(f)
      }
      case "shell.mkdir" => pick(dirs(shellModel, "/s")).foreach { d =>
        val nd = fresh(s"$d/k")
        if (run(PointDeadlineMs)(sh("-mkdir", nd))) shellModel(nd) = -1L
      }
      case "shell.touchz" => pick(dirs(shellModel, "/s")).foreach { d =>
        val f = fresh(s"$d/t")
        if (run(PointDeadlineMs)(sh("-touchz", f))) shellModel(f) = 0L
      }
      case "shell.mv" =>
        for (f <- pick(files(shellModel, "/s")); d <- pick(dirs(shellModel, "/s"))) {
          val to = fresh(s"$d/v")
          if (run(PointDeadlineMs)(sh("-mv", f, to))) {
            shellModel(to) = shellModel(f); shellModel.remove(f)
          }
        }
      case "shell.rm" => pick(files(shellModel, "/s")).foreach { f =>
        if (run(PointDeadlineMs)(sh("-rm", f))) shellModel.remove(f)
      }
      case "shell.stat" => pick(files(shellView, "/")).foreach { f =>
        run(ScanDeadlineMs)(sh("-stat", f))
      }
      case "shell.ls" => pick(dirs(shellView, "/")).foreach { d =>
        run(ScanDeadlineMs)(sh("-ls", d))
      }
      case "shell.du" => pick(dirs(shellView, "/")).foreach { d =>
        run(ScanDeadlineMs)(sh("-du", d))
      }
      case "shell.count" => run(ScanDeadlineMs)(sh("-count", "/w"))
      case "catalog.dsv2_scan" =>
        val prefix = s"/w/d${rnd.nextInt(Dirs)}/"
        val want = savedModel.filter(_._1.startsWith(prefix))
        var planned = 0
        if (run(ScanDeadlineMs) {
          val df = spark.read.format("graft.sources.GraftFsDataSource")
            .load(snapDir.toString).filter(col("path").startsWith(prefix))
          planned = df.queryExecution.sparkPlan.collect {
            case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
              b.inputPartitions.size
          }.sum
          val r = df.agg(count(lit(1)),
            coalesce(sum(when(!col("is_dir"), col("len"))), lit(0L))).head()
          val ok = r.getLong(0) == want.size &&
            r.getLong(1) == want.values.filter(_ >= 0).sum
          dsv2Ok &&= ok
          dsv2Ran = true
        }) ctx.samples.add("catalog.dsv2_files_read",
          planned.toDouble / math.max(1, snapFiles))
      case other => sys.error(s"unmixed verb $other")
    }
  }

  private def sh(argv: String*): Unit = {
    val r = shell.run(argv.toArray)
    require(r.code == 0, s"shell ${argv.mkString(" ")}: ${r.err.mkString("; ")}")
  }

  private def pointSamples: Seq[Double] =
    Mix.map(_._1).filterNot(ScanVerbs).flatMap(ctx.samples.get)

  def measure(untilNs: Long, traced: Boolean): (Double, Double) = {
    counts.clear(); attemptMs.clear()
    // whole rounds only, so every window runs the mix's exact shares; the
    // traced window runs rounds until meta_point_p90_ms has its samples
    def more = System.nanoTime() < untilNs || deck.nonEmpty ||
      traced && pointSamples.size < Stats.samplesNeeded(0.9)
    while (more) step(counted = true)
    summarize()
    // one round of the mix at each verb's median attempt time: robust to
    // the odd stalled verb, and every verb weighs in by its share
    val roundS = Mix.map { case (v, w) =>
      w * Stats.median(attemptMs.getOrElse(v, Nil).toSeq).getOrElse(0.0)
    }.sum / 1000
    if (traced) topUp()
    (Mix.map(_._2).sum.toDouble, roundS)
  }

  /** The traced run's tail top-up: (verb issued, samples it adds to).
    * After the mix's rounds each verb is repeated alone until those
    * samples hold what their tail in [[Metrics.Tails]] needs (create_file
    * adds to create, write and close alike).
    */
  val TopUp: Seq[(String, String)] = Seq(
    "mount.stat" -> "mount.stat", "mount.list" -> "mount.list",
    "mount.open_only" -> "mount.open", "mount.create_file" -> "mount.close",
    "mount.rename" -> "mount.rename", "mount.delete" -> "mount.delete",
    "mount.mkdirs" -> "mount.mkdirs", "shell.touchz" -> "shell.touchz",
    "shell.mkdir" -> "shell.mkdir", "shell.mv" -> "shell.mv",
    "shell.rm" -> "shell.rm")
  /** Wall-time cap of the top-up; a tail it leaves short reports 0. */
  val TopUpNs = 60L * 1000000000L

  private def topUp(): Unit = {
    val end = System.nanoTime() + TopUpNs
    val quantile = Metrics.Tails.toMap
    TopUp.foreach { case (verb, name) =>
      val need = Stats.samplesNeeded(quantile(name))
      var n = ctx.samples.count(name)
      while (n < need && System.nanoTime() < end) {
        issue(verb, counted = true)
        n = ctx.samples.count(name)
      }
    }
    val s = ctx.samples
    lastLayers ++= Metrics.MountVerbs.map { v =>
      s"mount.${v}_p50_ms" -> Metrics.p50(s.get(s"mount.$v"))
    } ++ Metrics.ShellVerbs.map { v =>
      s"shell.${v}_p50_ms" -> Metrics.p50(s.get(s"shell.$v"))
    } ++ Metrics.Tails.map { case (name, q) =>
      Metrics.tailName(name, q) -> Metrics.tail(s.get(name), q)
    }
  }

  private def summarize(): Unit = {
    val n = Mix.map(v => counts(v._1)).sum.toDouble
    val reads = Mix.map(_._1).filter(k => !ScanVerbs(k) && !WriteVerbs(k))
      .map(counts).sum
    val writes = counts.collect { case (k, v) if WriteVerbs(k) => v }.sum
    val scans = counts.collect { case (k, v) if ScanVerbs(k) => v }.sum
    println(f"fs_meta shares: read ${reads / n}%.3f, write ${writes / n}%.3f, " +
      f"scan ${scans / n}%.3f of ${n.toInt} verbs, " +
      s"${counts("catalog.save")} catalog saves")
    val s = ctx.samples
    println("fs_meta verb p50s: " + Metrics.MountVerbs.map { v =>
      f"mount.$v ${Metrics.p50(s.get(s"mount.$v"))}%.4f ms " +
        s"(n=${s.count(s"mount.$v")})"
    }.mkString(", "))
    val point = pointSamples
    val scan = ScanVerbs.toSeq.flatMap(s.get)
    lastLayers =
      Map("meta_point_p50_ms" -> Metrics.p50(point),
        "meta_point_p90_ms" -> Metrics.tail(point, 0.9),
        "meta_scan_p50_ms" -> Metrics.p50(scan),
        "catalog.save_s" -> Metrics.p50(s.get("catalog.save")) / 1000,
        "catalog.dsv2_scan_p50_ms" -> Metrics.p50(s.get("catalog.dsv2_scan")),
        "catalog.dsv2_files_read_share" ->
          Metrics.p50(s.get("catalog.dsv2_files_read")),
        "store.wal_files" -> Mounts.walFiles(stateDir).toDouble,
        "store.bytes_per_user_byte" -> Mounts.dirBytes(stateDir).toDouble /
          math.max(1L, model.values.filter(_ > 0).sum),
        "mount.nested_jobs_per_block" -> 0.0)
  }

  /** The unit operation is `FileSystem.create` on the state-dir mount,
    * the namespace half of a small-file write. The mix's I/O-bound verbs
    * (close's wal delta, the rename and delete mirrors, scans) swing with
    * the box's disk and CPU weather by more than any bound this benchmark
    * could hold, so they are measured by `work_per_s` at per-verb medians.
    */
  def opP50Ms: Double = Metrics.p50(ctx.samples.get("mount.create"))

  def checks(): Seq[(String, Option[Boolean])] = {
    // the mount's namespace, walked through listStatus, against the model
    val seen = mutable.TreeMap.empty[String, Long]
    def walk(d: String): Unit = {
      seen(d) = -1L
      fs.listStatus(p(d)).foreach { st =>
        val path = st.getPath.toUri.getPath
        if (st.isDirectory) walk(path) else seen(path) = st.getLen
      }
    }
    walk("/")
    // the shell's /s subtree, from its catalog
    val snap = shell.fs
    val shellSeen =
      try snap.catalog.inodes.filter(col("path").startsWith("/s")).collect()
        .map(n => n.path -> (if (n.isDir) -1L else n.length)).toMap
      finally shell.releaseSnapshot(snap)
    Seq("every verb's answer matches the model" -> Some(wrongAnswers == 0),
      "mount namespace equals the model of the verbs issued" ->
        Some(seen.toMap == model.toMap),
      "shell namespace equals the model of the verbs issued" ->
        Some(shellSeen == shellModel.toMap),
      "DSv2 prefix scans match the saved snapshot" ->
        (if (dsv2Ran) Some(dsv2Ok) else None))
  }

  def layers(): Map[String, Double] = lastLayers

  override def close(): Unit = {
    if (fs != null) closeShell()
    if (fs != null) fs.close()
    Seq(stateDir, snapDir).filter(_ != null).foreach(Mounts.delete)
    fs = null
  }
}
