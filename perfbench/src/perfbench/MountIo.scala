package perfbench

import java.net.URI
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{FileSystem, Path => HPath}

import graft.fs.{GraftFileSystem, GraftShellMain}

/** Shared mount plumbing: a `graftfs://` mount over a saved state dir,
  * registered in the session's Hadoop configuration so stock Spark jobs
  * and the benchmark's own calls reach the same instance.
  */
object Mounts {
  private val seq = new java.util.concurrent.atomic.AtomicInteger

  /** An empty saved state (root only) at `dir`. */
  def emptyState(spark: org.apache.spark.sql.SparkSession, dir: Path): Unit =
    GraftShellMain.saveFs(GraftShellMain.emptyFs(spark), dir.toString)

  /** Mount `stateDir` under a fresh authority (a fresh instance with
    * write-through on and the given pending buffer).
    */
  def mount(spark: org.apache.spark.sql.SparkSession, prefix: String,
            stateDir: Path, foldBytes: Long = 64L << 20,
            impl: Class[_ <: GraftFileSystem] = classOf[GraftFileSystem])
      : (GraftFileSystem, String) = {
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.graftfs.impl", impl.getName)
    val base = s"graftfs://$prefix${seq.incrementAndGet()}"
    hconf.set("graft.mount.state.dir", stateDir.toString)
    hconf.setLong("graft.mount.fold.bytes", foldBytes)
    try (FileSystem.get(new URI(base + "/"), hconf)
      .asInstanceOf[GraftFileSystem], base)
    finally {
      hconf.unset("graft.mount.state.dir")
      hconf.unset("graft.mount.fold.bytes")
    }
  }

  def dirBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def walFiles(stateDir: Path): Long = {
    val wal = stateDir.resolve("wal")
    if (!Files.exists(wal)) 0L
    else { val s = Files.list(wal); try s.count() finally s.close() }
  }

  def delete(dir: Path): Unit = graft.PlanHygiene.deleteRecursively(dir)
}

/** mount_io: stock parquet write of seeded ~1 KB high-entropy rows into a
  * state-dir mount, a driver-side open + readFully of every part file
  * (the `hadoop fs -cat` path), then a stock parquet read-back — the
  * read-back last, so an expired read-back leaves the other two measured.
  * The payload is three times the mount's pending buffer, so folds, the
  * compactor, nested-job block reads and wal write-through all run.
  */
final class MountIo(ctx: Ctx) extends Workload(ctx) {
  /** The mount's pending buffer (graft.mount.fold.bytes), lowered from
    * its 64 MB default so that a payload three times the buffer fits the
    * run's time budget; folds, compaction and nested-job block reads run
    * exactly as they do past the default buffer.
    */
  val FoldBytes = 6L << 20
  val Batches = 3
  val RowsPerBatch = 6144 // × ~1 KB = 6 MB per batch, 18 MB in all
  val WarmRows = 2048 // 2 MB, below the buffer: the read-back works here
  /** The stock read-back's deadline is this multiple of the cycle's own
    * driver-side read of the same bytes (single-threaded), at least
    * [[MinReadDeadlineMs]]: a read-back that works, even one no faster
    * than the driver-side read, passes it on a loaded host too.
    */
  val ReadDeadlinePerCat = 1.5
  val MinReadDeadlineMs = 2000L
  val WriteDeadlineMs = 60000L
  val CatDeadlineMs = 30000L
  val CheckDeadlineMs = 15000L

  def workUnit = "MB moved (written + read back, both read paths)"

  private def mb(bytes: Long): Double = bytes / 1048576.0
  private var sourceSums: Seq[(Long, java.math.BigDecimal)] = Nil
  private val catMs = ArrayBuffer.empty[Double]
  private var cycles = 0
  private var catChecked: Option[Boolean] = None
  private var readBackChecked: Option[Boolean] = None
  private var lastLayers = Map.empty[String, Double]

  private def batch(b: Int, rows: Int) =
    Gen.payloadRows(spark, seed, b.toLong * rows, (b + 1).toLong * rows,
      ctx.cores)

  def setup(rep: Int): Unit =
    // inputs: the source checksum of every batch
    sourceSums = (0 until Batches).map(b => Gen.checksum(batch(b, RowsPerBatch)))

  def warmUp(): Unit = {
    // one small write → cat → read-back below the buffer
    val dir = ctx.runDir.resolve("mount-warm")
    Mounts.emptyState(spark, dir)
    val (fs, base) = Mounts.mount(spark, "warm", dir, FoldBytes)
    batch(0, WarmRows).write.parquet(s"$base/w")
    partFiles(fs, Seq(s"$base/w")).foreach(p => readAll(fs, p))
    Gen.checksum(spark.read.parquet(s"$base/w"))
    fs.close()
    Mounts.delete(dir)
  }

  private def partFiles(fs: GraftFileSystem, dirs: Seq[String]): Seq[HPath] =
    dirs.flatMap(d => fs.listStatus(new HPath(d)).toSeq)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath).sortBy(_.toString)

  /** open + readFully of one whole file; per-call times go to samples. */
  private def readAll(fs: GraftFileSystem, p: HPath): Array[Byte] = {
    val t0 = System.nanoTime()
    val len = fs.getFileStatus(p).getLen
    val in = ctx.tracer.span("mount.open")(fs.open(p))
    val t1 = System.nanoTime()
    val buf = new Array[Byte](len.toInt)
    try ctx.tracer.span("mount.read")(in.readFully(0L, buf))
    finally in.close()
    val t2 = System.nanoTime()
    ctx.samples.add("mount.open", (t1 - t0) / 1e6)
    ctx.samples.add("mount.read", (t2 - t1) / 1e6)
    buf
  }

  def measure(untilNs: Long, traced: Boolean): (Double, Double) = {
    var moved = 0.0
    var secs = 0.0
    do {
      val (m, s) = cycle()
      moved += m; secs += s
    } while (System.nanoTime() < untilNs)
    (moved, secs)
  }

  private def jobs: Long = ctx.probe.map(_.snapshot().jobs).getOrElse(0L)

  /** One write → cat → read-back cycle on a fresh state-dir mount.
    * Returns (MB moved, seconds spent in the three data paths).
    */
  private def cycle(): (Double, Double) = {
    val stateDir = ctx.runDir.resolve(s"mount-state-$cycles")
    ops.call("mount.state_init", 60000L)(Mounts.emptyState(spark, stateDir))
    val (fs, base) = Mounts.mount(spark, "mio", stateDir, FoldBytes)
    val dirs = (0 until Batches).map(b => s"$base/out/b$b")

    // 1. stock writes
    val j0 = jobs
    val writes = dirs.zipWithIndex.map { case (d, b) =>
      ops.run("mount.stock_write", WriteDeadlineMs) {
        batch(b, RowsPerBatch).write.parquet(d)
      }
    }
    val writeMs = writes.map(_.ms).sum
    val written = writes.count(_.isInstanceOf[Done[_]])
    val files = partFiles(fs, dirs)
    val writtenBytes = files.map(p => fs.getFileStatus(p).getLen).sum
    val j1 = jobs

    // 2. driver-side read of every part file
    val catDir = ctx.runDir.resolve(s"cat-$cycles")
    var catBytes = 0L
    var catTotalMs = 0.0
    val cats = files.map { p =>
      val o = ops.run("mount.cat", CatDeadlineMs)(readAll(fs, p))
      o match {
        case Done(buf, ms) =>
          catBytes += buf.length; catTotalMs += ms; catMs += ms
          if (cycles == 0) {
            val local = catDir.resolve(p.toUri.getPath.substring(1))
            Files.createDirectories(local.getParent)
            Files.write(local, buf)
          }
        case _ => catTotalMs += o.ms
      }
      o
    }
    val j2 = jobs
    val blocks = files.map(p => (fs.getFileStatus(p).getLen +
      fs.getDefaultBlockSize - 1) / fs.getDefaultBlockSize).sum
    // check the driver-side read now: an expired read-back below can leave
    // task slots held after its jobs are cancelled
    val expected = (sourceSums.map(_._1).sum,
      sourceSums.map(_._2).foldLeft(java.math.BigDecimal.ZERO)(_ add _))
    if (cycles == 0)
      catChecked =
        if (written == Batches && cats.forall(_.isInstanceOf[Done[_]]))
          ops.call("mount.cat_check", CheckDeadlineMs)(Gen.checksum(
            spark.read.parquet(catDir.resolve("out").toString + "/b*"))) match {
            case Done(sum, _) => Some(sum == expected)
            case _ => None
          }
        else None

    // 3. stock read-back, last
    val readDeadlineMs =
      math.max(MinReadDeadlineMs, (ReadDeadlinePerCat * catTotalMs).toLong)
    val read = ops.run("mount.stock_read", readDeadlineMs) {
      Gen.checksum(spark.read.parquet(dirs: _*))
    }
    val j3 = jobs
    val readBytes = read match {
      case Done(_, _) => writtenBytes
      case _ => 0L
    }
    val walFiles = Mounts.walFiles(stateDir)
    val storeBytes = Mounts.dirBytes(stateDir)

    if (cycles == 0) readBackChecked = read match {
      case Done(sum, _) => Some(sum == expected)
      case _ => None
    }
    ops.call("mount.close", CheckDeadlineMs)(fs.close())
    Mounts.delete(stateDir)
    Mounts.delete(catDir)
    cycles += 1

    // a read-back that did not complete moved nothing: its time stays out
    // of work_per_s (it is counted in `failed`)
    val readMs = read match {
      case Done(_, ms) => ms
      case _ => 0.0
    }
    println(f"mount_io cycle ${cycles - 1}: write ${writeMs / 1000}%.2f s, " +
      f"cat ${catTotalMs / 1000}%.2f s, read-back ${read.ms / 1000}%.2f s " +
      f"(${read.getClass.getSimpleName}, deadline $readDeadlineMs ms), " +
      f"${mb(writtenBytes)}%.1f MB")
    lastLayers = Map(
      "write_MBps" -> mb(writtenBytes) / (writeMs / 1000),
      "cat_MBps" -> mb(catBytes) / (catTotalMs / 1000),
      "read_MBps" -> (if (readMs > 0) mb(readBytes) / (readMs / 1000) else 0.0),
      "mount.write_jobs" -> (j1 - j0).toDouble,
      "mount.read_jobs" -> (j3 - j2).toDouble,
      "mount.blocks_read" -> blocks.toDouble,
      "mount.nested_jobs_per_block" -> (j2 - j1).toDouble / math.max(1L, blocks),
      "store.bytes_per_user_byte" -> storeBytes.toDouble / math.max(1L, writtenBytes),
      "store.wal_files" -> walFiles.toDouble)
    (mb(writtenBytes + catBytes + readBytes),
      (writeMs + catTotalMs + readMs) / 1000)
  }

  def opP50Ms: Double = Stats.median(catMs.toSeq).getOrElse(0.0)

  def checks(): Seq[(String, Option[Boolean])] = Seq(
    "cat returns the source checksum" -> catChecked,
    "stock read-back returns the source checksum" -> readBackChecked)

  /** Per-file open and read medians; their tails are fs_meta's (a cycle
    * reads a dozen part files, far fewer than a tail needs). */
  def layers(): Map[String, Double] = lastLayers ++
    Seq("open", "read").map { v =>
      s"mount.${v}_p50_ms" -> Metrics.p50(ctx.samples.get(s"mount.$v"))
    }
}
