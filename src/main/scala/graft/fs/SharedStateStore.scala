package graft.fs

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID

import scala.jdk.CollectionConverters._

import graft.catalog.{BlockMeta, FsCatalog, Inode, PathOps, SharedFileLocks}

/** The [[GraftStore]] binding — LIVE MULTI-DRIVER SHARED STATE,
  * the reference's core deployment shape: every client mounts and
  * MUTATES the same keyspace concurrently (reference README.md:7 "any
  * number of clients", lock protocol ThriftStore.scala:607-734).
  * Backing is the persisted `GRAFT_FS_STATE` layout itself
  * (`GraftShellMain.saveFs`: `CURRENT` → `v<stamp>/catalog|chunks`),
  * so N independent JVMs — drivers, shells, session-less clients —
  * interleave verbs against ONE namespace on shared storage:
  *
  *  - every mutation runs under the cross-process create-lock
  *    ([[SharedFileLocks.acquireBlocking]] on a reserved namespace
  *    key — the re-expression of the reference's time-UUID column
  *    race) and commits as an LSM-LITE DELTA: a small parquet dir in
  *    `wal/`, written to a temp name and ATOMICALLY renamed (the
  *    rename IS the commit point — a crashed writer leaves only an
  *    invisible temp dir, never a torn mutation);
  *  - reads are SESSION-FREE: the base version through
  *    [[SavedState]]'s row-group-pruned point/range readers, plus an
  *    in-memory replay of the wal tail (bounded by mutations since
  *    the last compaction, never by namespace size);
  *  - [[compact]] folds base + wal into a fresh version and flips
  *    `CURRENT` with the same WRITE-NEW-THEN-FLIP discipline saveFs
  *    uses, leaving a standard complete layout any consumer
  *    (the scheme mount and the shell on it, DSv2) reads.
  *
  * Scale posture (100 TB): a mutation writes O(mutation) bytes, never
  * O(namespace); a point read touches one row group of one base file
  * plus the wal tail, which compaction keeps short (the inherent LSM
  * amortization, as in Cassandra's own compaction). The layout is plain
  * sorted parquet, so a corpus-scale fold can run as a Spark job over
  * the same files; [[compact]] is the session-free verb for
  * metadata-scale states.
  *
  * Concurrency contract: mutations are serialized by the namespace
  * lock; lock-free readers see a consistent committed prefix of the
  * wal (deltas appear atomically, in sequence order). A
  * read-modify-write cycle brackets with [[atomically]] — the
  * reentrant mutation lock — exactly like the reference's
  * acquire-then-batch-mutate dance. Proven by SharedStateStoreSpec:
  * four FORKED JVMs interleaving creates and counter increments on
  * one state dir, final namespace equal to a serial replay, counter
  * equal to the op count (no lost updates).
  */
final class SharedStateStore(stateDir: String,
                             subBlockSize: Int = 1 << 20,
                             blockSize: Int = 4 << 20) extends GraftStore {
  require(subBlockSize > 0 && blockSize % subBlockSize == 0,
    "blockSize must be a positive multiple of subBlockSize")

  private val locksRoot = s"$stateDir/locks"
  private val walDir = Paths.get(stateDir, "wal")

  private def NamespaceKey = SharedStateStore.NamespaceKey

  // ── reentrant cross-process mutation bracket ──────────────────────
  private[this] var lockDepth = 0
  private def withNamespace[T](f: => T): T = synchronized {
    if (lockDepth > 0) { lockDepth += 1; try f finally lockDepth -= 1 }
    else {
      val tok = SharedFileLocks.acquireBlocking(locksRoot, NamespaceKey)
        .getOrElse(sys.error(
          s"timed out acquiring the namespace mutation lock under " +
            s"$locksRoot — a crashed holder needs SharedFileLocks" +
            s".breakStale (the operator recovery verb)"))
      lockDepth = 1
      try f finally {
        lockDepth = 0
        SharedFileLocks.release(locksRoot, NamespaceKey, tok)
      }
    }
  }

  /** PUBLIC read-modify-write bracket: everything inside runs under
    * ONE cross-process lock acquisition (reads included), so
    * get-then-update cycles are atomic across drivers.
    */
  def atomically[T](f: => T): T = { live(); withNamespace(f) }

  /** The current version dir (one `CURRENT` read); fails before
    * [[createKeyspace]]. */
  private def live(): String = {
    val base = GraftShellMain.currentStateDir(stateDir)
    require(base.isDefined, "createKeyspace() first")
    base.get
  }

  // ── delta plane ───────────────────────────────────────────────────
  private case class Delta(seq: Long, dir: Path, op: String, path: String)

  /** Committed wal deltas in sequence order (temp dirs invisible). */
  private def listDeltas(): Seq[Delta] = {
    if (!Files.isDirectory(walDir)) return Seq.empty
    val l = Files.list(walDir)
    val dirs =
      try l.iterator().asScala.filter(p =>
        p.getFileName.toString.startsWith("d") && Files.isDirectory(p))
        .toSeq
      finally l.close()
    dirs.flatMap { p =>
      val name = p.getFileName.toString
      name.drop(1).takeWhile(_.isDigit).toLongOption.map { seq =>
        // committed delta dirs are immutable: parse the OP line once
        val cached = SharedStateStore.opCache.computeIfAbsent(
          p.toString, _ => {
            val lines = new String(
              Files.readAllBytes(p.resolve("OP")), "UTF-8").split("\n", 2)
            (lines(0), lines(1).trim)
          })
        Delta(seq, p, cached._1, cached._2)
      }
    }.sortBy(_.seq)
  }

  /** The wal tail replayed into overlay maps: latest inode op and
    * latest payload op per path (later sequence wins). Bounded by
    * mutations since the last [[compact]], not namespace size.
    */
  private def replay(): (Map[String, Option[Inode]],
                         Map[String, Option[Path]]) = {
    var inodes = Map.empty[String, Option[Inode]]
    var payloads = Map.empty[String, Option[Path]]
    listDeltas().foreach { d =>
      d.op match {
        case "storeINode" =>
          inodes += d.path -> Some(deltaInode(d))
        case "storeFileData" =>
          inodes += d.path -> Some(deltaInode(d))
          payloads += d.path -> Some(d.dir.resolve("chunks.parquet"))
        case "deleteINode" =>
          inodes += d.path -> None
        case "deleteBlocks" =>
          payloads += d.path -> None
        case other => sys.error(s"unknown wal op $other in ${d.dir}")
      }
    }
    (inodes, payloads)
  }

  private def deltaInode(d: Delta): Inode =
    SharedStateStore.inodeCache.computeIfAbsent(d.dir.toString, _ =>
      SavedState.readCatalog(d.dir.toString + "/inode")
        .headOption.getOrElse(sys.error(s"delta ${d.dir} has no inode")))

  /** Commit one mutation as an atomically-renamed delta dir. Caller
    * holds the namespace lock.
    */
  private def commitDelta(op: String, path: String,
                          inode: Option[Inode],
                          chunks: Option[Seq[SavedStateWriter.ChunkRow]])
      : Unit = {
    live()
    Files.createDirectories(walDir)
    val seq = listDeltas().lastOption.map(_.seq + 1).getOrElse(0L)
    val tmp = Files.createTempDirectory(walDir, ".tmp")
    Files.write(tmp.resolve("OP"), s"$op\n$path\n".getBytes("UTF-8"))
    inode.foreach { n =>
      // inode.parquet lives in its own subdir so SavedState's
      // directory-reader signature applies unchanged
      Files.createDirectories(tmp.resolve("inode"))
      SavedStateWriter.writeCatalogFile(
        tmp.resolve("inode").resolve("part-0.parquet").toString, Seq(n))
    }
    chunks.foreach { rs =>
      SavedStateWriter.writeChunksFile(
        tmp.resolve("chunks.parquet").toString,
        rs.sortBy(r => (r.path, r.blockId, r.subId)))
    }
    val commit = walDir.resolve(f"d$seq%010d_${UUID.randomUUID().toString.take(8)}")
    Files.move(tmp, commit, StandardCopyOption.ATOMIC_MOVE)
    SharedStateStore.opCache.put(commit.toString, (op, path))
    inode.foreach(n => SharedStateStore.inodeCache.put(commit.toString,
      SavedStateWriter.asRead(n)))
  }

  /** Public wal-overlay snapshot for facade consumers (the scheme
    * mount's write-through/refresh paths): latest inode op and latest
    * payload source per path — `Some(inode)` upsert / `None`
    * tombstone, `Some(file)` delta payload / `None` deleted. Bounded
    * by mutations since the last [[compact]].
    */
  def overlaySnapshot(): (Map[String, Option[Inode]],
                          Map[String, Option[Path]]) = replay()

  // ── GraftStore contract ───────────────────────────────────────────

  override def createKeyspace(): Unit = withNamespace {
    if (GraftShellMain.currentStateDir(stateDir).isEmpty) {
      val version = s"v${System.nanoTime()}"
      val base = Paths.get(stateDir, version)
      Files.createDirectories(base.resolve("catalog"))
      Files.createDirectories(base.resolve("chunks"))
      SavedStateWriter.writeCatalogFile(
        base.resolve("catalog").resolve("part-0.parquet").toString,
        Seq(FsCatalog.dirInode("/", "graft")))
      SavedStateWriter.writeChunksFile(
        base.resolve("chunks").resolve("part-0.parquet").toString, Seq.empty)
      GraftShellMain.flip(stateDir, version)
    }
  }

  /** No-op BY DESIGN (not unimplemented): the reference's init builds a
    * Thrift client pool; this binding opens files per verb and there is
    * no connection to pool (SURVEY §2.2 B2).
    */
  override def init(): Unit = ()

  override def storeINode(inode: Inode): Unit = withNamespace {
    commitDelta("storeINode", inode.path, Some(inode), None)
  }

  override def retrieveINode(path: String): Option[Inode] =
    inodeIn(live(), replay()._1, path)

  private def inodeIn(base: String, inodes: Map[String, Option[Inode]],
                      path: String): Option[Inode] =
    inodes.get(path) match {
      case Some(resolved) => resolved
      case None =>
        SavedState.readInodes(s"$base/catalog",
          Some(SavedState.pathEq(path))).headOption
    }

  override def storeFileData(path: String, data: Array[Byte],
                             user: String,
                             mtime: java.sql.Timestamp): Unit =
    withNamespace {
      val inode = Inode(path, PathOps.parent(path), user, user, 420,
        isDir = false, mtime,
        BlockMeta.forLength(path, data.length.toLong,
          subBlockSize, blockSize))
      commitDelta("storeFileData", path, Some(inode),
        Some(SavedStateWriter.chunkRows(path, data,
          subBlockSize, blockSize)))
    }

  /** A path's payload source — its latest wal delta file, or the base
    * version's chunks dir, both read by the same block-pruned
    * [[SavedState.readBlock]] — with its block map, resolved from ONE
    * `CURRENT` read and ONE wal replay; None once deleted.
    */
  private def payloadOf(path: String): Option[(String, Seq[BlockMeta])] = {
    val base = live()
    val (inodes, payloads) = replay()
    val src = payloads.get(path) match {
      case Some(delta) => delta.map(_.toString)
      case None => Some(s"$base/chunks")
    }
    src.map(_ -> inodeIn(base, inodes, path).flatMap(n => Option(n.blocks))
      .getOrElse(Seq.empty))
  }

  override def retrieveBlock(path: String): Array[Byte] =
    retrieveSubBlock(path, 0L, Long.MaxValue)

  override def retrieveSubBlock(path: String, byteRangeStart: Long,
                                len: Long): Array[Byte] = {
    if (len <= 0 || byteRangeStart < 0) { live(); return Array.emptyByteArray }
    payloadOf(path) match {
      case None => Array.emptyByteArray
      case Some((src, blocks)) =>
        val end = byteRangeStart + len
        // only the blocks OVERLAPPING the range are fetched, each one a
        // row-group-pruned read
        val buf = new java.io.ByteArrayOutputStream()
        blocks.zipWithIndex.foreach { case (b, i) =>
          if (b.offset < end && b.offset + b.length > byteRangeStart) {
            val data = SavedState.readBlock(src, path, i.toLong)
            val from = math.max(0L, byteRangeStart - b.offset).toInt
            val until = math.min(data.length.toLong, end - b.offset).toInt
            if (until > from) buf.write(data, from, until - from)
          }
        }
        buf.toByteArray
    }
  }

  override def deleteINode(path: String): Unit = withNamespace {
    commitDelta("deleteINode", path, None, None)
  }

  override def deleteBlocks(path: String): Unit = withNamespace {
    commitDelta("deleteBlocks", path, None, None)
  }

  override def fetchSubPaths(path: String,
                             isDeepFetch: Boolean): Seq[String] = {
    val baseDir = live()
    val (inodes, _) = replay()
    val prefix = if (path == "/") "/" else path + "/"
    val base = SavedState.readInodes(s"$baseDir/catalog",
      Some(SavedState.pathRange(prefix))).map(_.path)
    val overlayAdds = inodes.collect {
      case (p, Some(_)) if p != path && p.startsWith(prefix) => p
    }
    val tombstoned = inodes.collect { case (p, None) => p }.toSet
    (base ++ overlayAdds).distinct
      .filter(p => p != path && p.startsWith(prefix) &&
        !tombstoned.contains(p))
      .filter(p => isDeepFetch || !p.stripPrefix(prefix).contains('/'))
      .sorted
  }

  override def getBlockLocations(path: String): Map[String, Seq[String]] = {
    // the ring formula of FsCatalog.blockLocations (B11 parity)
    retrieveINode(path).flatMap(n => Option(n.blocks))
      .getOrElse(Seq.empty).map { b =>
        val owner = b.id.charAt(0).toInt % 3
        b.id -> (0 until 3).map(i => s"node-${(owner + i) % 3}")
      }.toMap
  }

  override def acquireFileLock(path: String): Option[UUID] =
    SharedFileLocks.acquire(locksRoot, path)

  override def releaseFileLock(path: String, token: UUID): Boolean =
    SharedFileLocks.release(locksRoot, path, token)

  override def dropKeyspace(): Unit = withNamespace {
    // destroy committed state: pointer first (readers stop resolving),
    // then versions and wal
    Files.deleteIfExists(Paths.get(stateDir, "CURRENT"))
    val l = if (Files.isDirectory(Paths.get(stateDir)))
      Some(Files.list(Paths.get(stateDir))) else None
    l.foreach { s =>
      try s.iterator().asScala
        .filter { p =>
          val n = p.getFileName.toString
          (n.startsWith("v") && Files.isDirectory(p)) || n == "wal"
        }
        .foreach(graft.PlanHygiene.deleteRecursively)
      finally s.close()
    }
  }

  /** Fold base + wal into a fresh complete version and flip CURRENT —
    * the LSM compaction verb. After it, the state dir is a standard
    * saveFs layout with an empty wal: every consumer of the persisted
    * format (the scheme mount, SavedState readers, DuckDB)
    * sees the full namespace with zero replay. Session-free and exact;
    * O(namespace) like every LSM fold — run off-peak, or distribute
    * the same fold as a Spark job over the identical parquet files
    * when the state outgrows one process.
    */
  def compact(): Unit = withNamespace {
    val oldBase = live()
    val (inodes, payloads) = replay()
    if (inodes.nonEmpty || payloads.nonEmpty)
      compactLocked(oldBase, inodes, payloads)
  }

  private def compactLocked(oldBase: String,
                            inodes: Map[String, Option[Inode]],
                            payloads: Map[String, Option[Path]]): Unit = {
    // fold the catalog: base rows minus tombstones, overlay upserts win
    val base = SavedState.readCatalog(s"$oldBase/catalog")
      .map(n => n.path -> n).toMap
    val folded = (base ++ inodes.collect { case (p, Some(n)) => p -> n })
      .removedAll(inodes.collect { case (p, None) => p })
    val version = s"v${System.nanoTime()}"
    val out = Paths.get(stateDir, version)
    Files.createDirectories(out.resolve("catalog"))
    Files.createDirectories(out.resolve("chunks"))
    SavedStateWriter.writeCatalogFile(
      out.resolve("catalog").resolve("part-0.parquet").toString,
      folded.values.toSeq.sortBy(_.path))
    // fold the data plane: every live FILE's payload re-chunked into
    // one sorted file (delta payloads win; deleted payloads drop)
    val rows = Seq.newBuilder[SavedStateWriter.ChunkRow]
    folded.values.toSeq.sortBy(_.path).filter(_.isFile).foreach { n =>
      val src = payloads.get(n.path) match {
        case Some(delta) => delta.map(_.toString)
        case None => Some(s"$oldBase/chunks")
      }
      val data = src.toArray.flatMap(f =>
        Option(n.blocks).getOrElse(Seq.empty).indices.toArray
          .flatMap(b => SavedState.readBlock(f, n.path, b.toLong)))
      rows ++= SavedStateWriter.chunkRows(n.path, data,
        subBlockSize, blockSize)
    }
    SavedStateWriter.writeChunksFile(
      out.resolve("chunks").resolve("part-0.parquet").toString,
      rows.result())
    GraftShellMain.flip(stateDir, version)
    // prune folded deltas and superseded versions (the commit point —
    // the flip — has already passed; a crash here only leaves garbage
    // a later compact re-prunes)
    listDeltas().foreach(d => graft.PlanHygiene.deleteRecursively(d.dir))
    val l = Files.list(Paths.get(stateDir))
    try l.iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("v") &&
        Files.isDirectory(p) && p != out)
      .foreach(graft.PlanHygiene.deleteRecursively)
    finally l.close()
  }
}

object SharedStateStore {

  /** Reserved lock key for whole-namespace mutation exclusion (path-
    * keyed like every other lock row; no real path collides with it).
    * SHARED across every writer of the persisted layout — store
    * bindings, the facade's write-through, and the CLI's
    * load-verb-save bracket all exclude through this one key.
    */
  val NamespaceKey = "/__graft_namespace__"

  /** Committed delta dirs are immutable — their parsed OP lines and
    * inode rows cache process-wide, seeded by the committing process
    * so a replay never reads back its own commits (stale entries for
    * compacted-away dirs are harmless; they are never listed again).
    */
  private val opCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()
  private val inodeCache =
    new java.util.concurrent.ConcurrentHashMap[String, Inode]()

  /** Forkable multi-driver contender (SharedStateStoreSpec's subject):
    * argv = (stateDir, writerId, nOps). Bootstraps the keyspace
    * (idempotent under the namespace lock), then interleaves nOps
    * file creates with nOps atomic counter increments — the
    * read-modify-write that LOSES updates unless cross-process
    * exclusion actually works. Prints `DONE <id>`; exit 0.
    */
  def main(args: Array[String]): Unit = {
    val Array(dir, id, nOpsS) = args.take(3)
    val nOps = nOpsS.toInt
    val store = new SharedStateStore(dir, subBlockSize = 8, blockSize = 32)
    store.createKeyspace()
    store.storeINode(FsCatalog.dirInode("/shared", s"w$id"))
    (0 until nOps).foreach { j =>
      store.storeFileData(s"/shared/w$id-$j",
        s"payload-$id-$j".getBytes("UTF-8"), s"w$id")
      store.atomically {
        val cur = new String(store.retrieveBlock("/counter"), "UTF-8")
          .trim match {
          case "" => 0
          case s => s.toInt
        }
        store.storeFileData("/counter", (cur + 1).toString.getBytes("UTF-8"),
          s"w$id")
      }
    }
    println(s"DONE $id")
  }
}
