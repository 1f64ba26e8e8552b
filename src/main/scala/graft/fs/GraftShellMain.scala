package graft.fs

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{BinaryType, StringType, StructField, StructType}

import graft.catalog.{FsCatalog, Inode}

/** Process-boundary entry point for the shell — the JVM class the
  * `bin/graftfs` wrapper execs, mirroring the reference's executable
  * script layer (`src/main/scripts/snackfs:35` execs
  * `org.apache.hadoop.fs.SnackFSShell "$@"`). One invocation = one
  * verb: mount the filesystem state, dispatch through
  * [[GraftShell.run]] on that mount, print stdout/stderr, exit with
  * the shell's code (-1 surfaces as 255, the reference's
  * `System.exit(-1)` behavior).
  *
  * State across invocations: the reference shell is ephemeral per
  * process because Cassandra holds the filesystem; here the persisted
  * catalog + chunk parquet tables play that role. `GRAFT_FS_STATE=dir`
  * mounts `dir` (saved version plus wal overlay, [[stateMount]]) before
  * the verb and, after a mutating verb, saves the mount's snapshot back
  * as a new version, so consecutive CLI invocations see each other's
  * writes. Unset, each invocation starts from an empty root — enough
  * for -help and smoke use.
  */
object GraftShellMain {

  private val chunkSchema = StructType(Seq(
    StructField("path", StringType), StructField("data", BinaryType)))

  def emptyFs(spark: SparkSession): GraftFs = {
    val root = FsCatalog.dirInode("/", "graft")
    val emptyChunks = DataPlane.chunk(
      spark.createDataFrame(
        java.util.Collections.emptyList[Row](), chunkSchema))
    GraftFs(FsCatalog(spark.createDataset(Seq(root))(
      FsCatalog.inodeEncoder)), emptyChunks)
  }

  /** Pointer file naming the current complete version subdirectory.
    * State is persisted write-new-then-flip: saveFs writes BOTH planes
    * into a fresh `v<stamp>/` dir and only then atomically moves a tmp
    * pointer over `CURRENT` — so a crash anywhere mid-save leaves
    * `CURRENT` naming the previous COMPLETE version, never a state dir
    * with a catalog but no chunks (which would make every subsequent
    * CLI invocation die on the missing chunks path).
    */
  private val CurrentPtr = "CURRENT"

  /** The directory holding the current complete version's
    * catalog/ + chunks/, or None when no complete state exists.
    */
  def currentStateDir(dir: String): Option[String] = {
    import java.nio.file.{Files, Paths}
    val ptr = Paths.get(dir, CurrentPtr)
    val root =
      if (Files.exists(ptr))
        Some(Paths.get(dir, new String(Files.readAllBytes(ptr),
          "UTF-8").trim))
      else Some(Paths.get(dir)) // pre-pointer flat layout
    root.filter(r => Files.exists(r.resolve("catalog")) &&
      Files.exists(r.resolve("chunks"))).map(_.toString)
  }

  /** A private mount of the state dir `dir` (empty when there is none
    * or it holds no complete state): the mount's own session-free
    * bootstrap — saved catalog plus the wal overlay — with write-through
    * OFF, because the caller persists the namespace itself through
    * [[saveFs]]. A fresh instance, never `FileSystem.get`: Hadoop's
    * FileSystem cache could hand back (and let the shell write into)
    * another mount of the same URI.
    */
  def stateMount(spark: SparkSession, dir: Option[String]): GraftFileSystem = {
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    dir.foreach(conf.set("graft.mount.state.dir", _))
    conf.setBoolean("graft.mount.write.through", false)
    val fs = new GraftFileSystem
    fs.initialize(java.net.URI.create("graftfs://graft/"), conf)
    fs
  }

  /** Verbs that change filesystem state — only these re-persist it
    * (a read verb's plan still READS from the state parquet; writing
    * the same path it scans is an overwrite-while-reading error).
    */
  val MutatingVerbs: Set[String] = Set(
    "-put", "-copyFromLocal", "-moveFromLocal",
    "-mv", "-cp", "-rm", "-rmr", "-mkdir", "-touchz")

  /** Atomically point `dir`'s CURRENT at `version` — the only visible
    * commit point of a save or compaction; the tmp name is per call. */
  private[fs] def flip(dir: String, version: String): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val tmp = Paths.get(dir, s".$CurrentPtr.tmp${java.util.UUID.randomUUID()}")
    Files.write(tmp, version.getBytes("UTF-8"))
    Files.move(tmp, Paths.get(dir, CurrentPtr),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  /** The chunk plane of a saved version: range-partitioned + sorted on
    * the (path, block_id) lookup key, so a mount's one-block fetch
    * (SavedState.ChunkParts) opens only the part whose footer `path`
    * bounds cover the key, and its row-group min/max statistics prune
    * the rest of that file — not a corpus scan. The same
    * stats-anchoring FsCatalog.save applies to the catalog.
    */
  private[fs] def writeChunks(chunks: DataFrame, chunksDir: String): Unit =
    chunks
      .repartitionByRange(8, col("path"), col("block_id"))
      .sortWithinPartitions("path", "block_id", "sub_id")
      .write.mode("overwrite").parquet(chunksDir)

  /** A complete version in the FRESH state dir `dir` holding `inodes`
    * and an empty chunk plane (for [[writeChunks]] to fill later),
    * written without a Spark job by the session-free
    * [[SavedStateWriter]] — a metadata-only seed for a mount.
    */
  private[fs] def saveCatalogOnly(inodes: Seq[Inode], dir: String): Unit = {
    val version = java.nio.file.Paths.get(dir, "v0")
    java.nio.file.Files.createDirectories(version.resolve("catalog"))
    java.nio.file.Files.createDirectories(version.resolve("chunks"))
    SavedStateWriter.writeCatalogFile(
      version.resolve("catalog/part-0.parquet").toString, inodes.sortBy(_.path))
    flip(dir, "v0")
  }

  def saveFs(fs: GraftFs, dir: String): Unit = {
    import java.nio.file.{Files, Paths}
    // both planes are written in full before the pointer flips and the
    // previous version is pruned, so a snapshot that still reads the
    // previous version's files (a mount of this dir) saves safely
    val base = Paths.get(dir)
    Files.createDirectories(base)
    val prev = currentStateDir(dir)
    val version = s"v${System.nanoTime()}"
    fs.catalog.save(s"$dir/$version/catalog")
    writeChunks(fs.chunks, s"$dir/$version/chunks")
    flip(dir, version)
    // best-effort prune: EVERY v* dir except the one CURRENT now names
    // (not just the immediately-previous version — a save that crashed
    // after writing its planes but before the pointer flip leaves an
    // orphan dir no pointer ever names, and repeated torn saves must
    // not grow the state dir unboundedly) plus the legacy flat layout's
    // planes when superseded
    val keep = Paths.get(dir, version)
    val l = Files.list(base)
    try {
      import scala.jdk.CollectionConverters._
      l.iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("v") &&
          Files.isDirectory(p) && p != keep)
        .foreach(graft.PlanHygiene.deleteRecursively)
    } finally l.close()
    prev.map(Paths.get(_)).filter(_ == base).foreach { flat =>
      graft.PlanHygiene.deleteRecursively(flat.resolve("catalog"))
      graft.PlanHygiene.deleteRecursively(flat.resolve("chunks"))
    }
  }

  def main(argv: Array[String]): Unit = {
    // -help and usage errors must not pay a session boot: answer from
    // the static help tables exactly like the dispatcher would
    if (argv.isEmpty) {
      System.err.println(ShellHelp.helpAll)
      sys.exit(255)
    }
    if (argv(0) == "-help") {
      val topic = argv.drop(1).headOption
      println(topic.flatMap(t => ShellHelp.help(t).headOption)
        .getOrElse(ShellHelp.helpAll))
      sys.exit(0)
    }
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("GRAFT_MASTER", "local[*]"))
      .appName("graftfs")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions",
        Runtime.getRuntime.availableProcessors().toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val stateDir = sys.env.get("GRAFT_FS_STATE")
    val mutating = MutatingVerbs.contains(argv(0))
    // CONCURRENT CLI invocations (r17 — supersedes the single-driver
    // documented contract for mutations): a mutating invocation
    // brackets its whole mount → verb → save cycle under the SHARED
    // namespace lock (SharedStateStore.NamespaceKey — the same key
    // every writer of this layout uses), so two processes can no
    // longer interleave their cycles and silently drop each other's
    // committed state. Read verbs stay lock-free: they see the
    // committed prefix (version flips and wal-delta renames are both
    // atomic). A crashed holder is operator-recovered with
    // SharedFileLocks.breakStale.
    val heldLock: Option[(String, java.util.UUID)] =
      stateDir.filter(_ => mutating).map { d =>
        val root = s"$d/locks"
        graft.catalog.SharedFileLocks.acquireBlocking(root,
            SharedStateStore.NamespaceKey, timeoutMs = 120000) match {
          case Some(tok) => (root, tok)
          case None =>
            System.err.println(
              "graftfs: timed out acquiring the shared state lock " +
                s"under $root — another invocation holds it, or a " +
                "crashed one leaked it (SharedFileLocks.breakStale " +
                "is the operator recovery verb)")
            spark.stop()
            sys.exit(253)
            throw new IllegalStateException("unreachable")
        }
      }
    def releaseLock(): Unit = heldLock.foreach { case (root, tok) =>
      graft.catalog.SharedFileLocks.release(root,
        SharedStateStore.NamespaceKey, tok)
    }
    // wal deltas committed BEFORE this invocation's mount are folded
    // into the version this invocation saves (the mount's bootstrap
    // applies the overlay), so a successful save prunes exactly those —
    // never deltas a later writer might append (impossible while the
    // lock is held anyway)
    def walDeltas(d: String): Seq[java.nio.file.Path] = {
      import scala.jdk.CollectionConverters._
      val w = java.nio.file.Paths.get(d, "wal")
      if (!java.nio.file.Files.isDirectory(w)) Seq.empty
      else {
        val l = java.nio.file.Files.list(w)
        try l.iterator().asScala
          .filter(_.getFileName.toString.startsWith("d")).toSeq
        finally l.close()
      }
    }
    val foldedDeltas: Seq[java.nio.file.Path] =
      if (mutating) stateDir.map(walDeltas).getOrElse(Seq.empty)
      else Seq.empty
    // Three distinguishable states, two of them safe:
    //  * complete persisted state → mount it;
    //  * NO pointer (fresh dir, or the legacy flat layout's torn save
    //    — catalog alone with no chunks) → start empty: nothing
    //    committed has ever been visible here;
    //  * a CURRENT pointer naming a MISSING/incomplete version dir →
    //    die LOUDLY. A pointer only ever appears after a committed
    //    save, so this state means committed data vanished (disk
    //    damage, manual deletion, or a pre-r17 unlocked writer racing
    //    — mutating invocations now serialize under the namespace
    //    lock, so concurrent CLIs no longer prune each other).
    //    Falling back to empty here would let the next mutating verb
    //    re-save and PERMANENTLY discard the committed filesystem
    //    with no error anywhere.
    stateDir.filter(d => currentStateDir(d).isEmpty &&
        java.nio.file.Files.exists(java.nio.file.Paths.get(d, CurrentPtr)))
      .foreach { d =>
        System.err.println(
          s"graftfs: state pointer $d/$CurrentPtr names a version " +
            "directory that is missing or incomplete — committed state " +
            "is damaged (disk damage? manual deletion?). " +
            "Refusing to start from an empty filesystem; restore the " +
            s"version directory or remove $d/$CurrentPtr to explicitly " +
            "reset.")
        releaseLock()
        spark.stop()
        sys.exit(254)
      }
    // the shell runs on a mount of the state dir (or an empty one)
    val mount = stateMount(spark, stateDir)
    val shell = new GraftShell(mount,
      FsContext.initialize("graftfs://graft",
        Option(System.getProperty("user.name")).getOrElse("graft")))
    val code =
      try {
        val res = shell.run(argv)
        res.out.foreach(println)
        res.err.foreach(System.err.println)
        if (res.code == 0 && mutating)
          stateDir.foreach { d =>
            saveFs(mount.graftFs, d)
            // the saved version FOLDED the pre-mount wal tail: prune
            // exactly those deltas, after the flip
            foldedDeltas.foreach(graft.PlanHygiene.deleteRecursively)
          }
        res.code
      } finally {
        shell.close()
        mount.close()
        releaseLock()
      }
    spark.stop()
    sys.exit(if (code == 0) 0 else 255)
  }
}
