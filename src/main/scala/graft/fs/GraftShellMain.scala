package graft.fs

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

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
  * state dir plays that role. `GRAFT_FS_STATE=dir` runs the verb on a
  * committing mount of `dir` ([[stateMount]]: saved version plus wal),
  * so a mutating verb commits one wal delta — O(verb), never
  * O(namespace) — and consecutive CLI invocations see each other's
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
    * bootstrap — saved catalog plus the wal — that commits each
    * mutating verb as a wal delta of `dir`. A fresh instance, never
    * `FileSystem.get`: Hadoop's FileSystem cache could hand back (and
    * let the shell write into) another mount of the same URI.
    */
  def stateMount(spark: SparkSession, dir: Option[String]): GraftFileSystem =
    mountOf(new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration), dir)

  private[fs] def mountOf(conf: org.apache.hadoop.conf.Configuration,
                          dir: Option[String]): GraftFileSystem = {
    dir.foreach(conf.set("graft.mount.state.dir", _))
    val fs = new GraftFileSystem
    fs.initialize(java.net.URI.create("graftfs://graft/"), conf)
    fs
  }

  /** Verbs that change filesystem state — only these take the
    * namespace lock (read verbs see the committed prefix lock-free).
    */
  val MutatingVerbs: Set[String] = Set(
    "-put", "-copyFromLocal", "-moveFromLocal",
    "-mv", "-cp", "-rm", "-rmr", "-mkdir", "-touchz")

  /** Atomically point `dir`'s CURRENT at `version` — the only visible
    * commit point of a save or compaction; the tmp name is per call. */
  private[fs] def flip(dir: String, version: String): Unit = {
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

  /** Write the complete version `version` of `dir` — `inodes` (sorted
    * by path) and chunk `rows`, one parquet file each, by the
    * session-free [[SavedStateWriter]], no Spark job — and flip
    * `CURRENT` to it. */
  private[fs] def writeVersion(dir: String, version: String, inodes: Seq[Inode],
                               rows: Seq[SavedStateWriter.ChunkRow]): Unit = {
    val v = Paths.get(dir, version)
    Seq("catalog", "chunks").foreach(d => Files.createDirectories(v.resolve(d)))
    SavedStateWriter.writeCatalogFile(v.resolve("catalog/part-0.parquet").toString, inodes)
    SavedStateWriter.writeChunksFile(v.resolve("chunks/part-0.parquet").toString, rows)
    flip(dir, version)
  }

  /** Delete every version dir of `dir` but `keep` — not just the
    * previous one: a save that crashed before its flip leaves an orphan
    * no pointer names, and repeated torn saves must not grow the state
    * dir unboundedly. */
  private[fs] def pruneVersions(dir: String, keep: String): Unit = {
    val l = Files.list(Paths.get(dir))
    try l.iterator().asScala.filter(p => p.getFileName.toString.startsWith("v") &&
      Files.isDirectory(p) && p.getFileName.toString != keep)
      .foreach(graft.PlanHygiene.deleteRecursively)
    finally l.close()
  }

  def saveFs(fs: GraftFs, dir: String): Unit = {
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
    // best-effort prune of the other versions, and of the legacy flat
    // layout's planes when superseded
    pruneVersions(dir, version)
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
    // Three distinguishable states, two of them safe:
    //  * complete persisted state → mount it;
    //  * NO pointer (fresh dir, or the legacy flat layout's torn save
    //    — catalog alone with no chunks) → start empty: nothing
    //    committed has ever been visible here (a mutating verb first
    //    creates the keyspace, so its commit has a state to land in);
    //  * a CURRENT pointer naming a MISSING/incomplete version dir →
    //    die LOUDLY. A pointer only ever appears after a committed
    //    save, so this state means committed data vanished (disk
    //    damage, manual deletion). Falling back to empty here would
    //    let the next mutating verb start a new keyspace and
    //    PERMANENTLY discard the committed filesystem with no error
    //    anywhere.
    def runVerb(): Int = {
      val damaged = stateDir.filter(d => currentStateDir(d).isEmpty &&
        java.nio.file.Files.exists(java.nio.file.Paths.get(d, CurrentPtr)))
      damaged.foreach { d =>
        System.err.println(
          s"graftfs: state pointer $d/$CurrentPtr names a version " +
            "directory that is missing or incomplete — committed state " +
            "is damaged (disk damage? manual deletion?). " +
            "Refusing to start from an empty filesystem; restore the " +
            s"version directory or remove $d/$CurrentPtr to explicitly " +
            "reset.")
      }
      if (damaged.isDefined) return 254
      val store = stateDir.map(new SharedStateStore(_))
      if (mutating) store.foreach(_.createKeyspace())
      // the shell runs on a committing mount of the state dir (or an
      // empty one): each mutation commits as it runs
      val mount = stateMount(spark, stateDir)
      val shell = new GraftShell(mount,
        FsContext.initialize("graftfs://graft",
          Option(System.getProperty("user.name")).getOrElse("graft")))
      val res =
        try shell.run(argv)
        finally { shell.close(); mount.close() }
      res.out.foreach(println)
      res.err.foreach(System.err.println)
      if (mutating) store.foreach(_.compactIfDue())
      if (res.code == 0) 0 else 255
    }
    // CONCURRENT CLI invocations: a mutating invocation brackets its
    // whole mount → verb cycle under the SHARED namespace lock
    // (SharedStateStore.NamespaceKey — the key every writer of this
    // layout uses); the mount's commits join that hold. Read verbs stay
    // lock-free: they see the committed prefix (version flips and
    // wal-delta renames are both atomic). A crashed holder is
    // operator-recovered with SharedFileLocks.breakStale.
    val code = stateDir.filter(_ => mutating) match {
      case Some(d) =>
        SharedStateStore.holdingNamespace(d, timeoutMs = 120000)(runVerb())
          .getOrElse {
            System.err.println(
              "graftfs: timed out acquiring the shared state lock under " +
                s"$d/locks — another invocation holds it, or a crashed " +
                "one leaked it (SharedFileLocks.breakStale is the " +
                "operator recovery verb)")
            253
          }
      case None => runVerb()
    }
    spark.stop()
    sys.exit(code)
  }
}
