package graft.fs

import java.io.IOException
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID

import scala.jdk.CollectionConverters._

import graft.catalog.{BlockMeta, FsCatalog, Inode, PathOps, SharedFileLocks, SubBlockMeta}

/** LIVE MULTI-DRIVER SHARED STATE over the persisted state dir — the
  * reference's store (`FileSystemStore` → `ThriftStore`) re-expressed:
  * every client mounts and MUTATES the same keyspace concurrently
  * (reference README.md:7 "any number of clients", lock protocol
  * ThriftStore.scala:607-734). N independent JVMs — drivers, shells,
  * session-less clients — interleave verbs against ONE namespace on
  * shared storage. The state dir holds:
  *
  *  - `CURRENT` → `v<stamp>/catalog|chunks`: the base version, a
  *    complete saved layout (`GraftShellMain.saveFs` or [[compact]]);
  *  - `data/`: immutable chunk files. Payload bytes are written here
  *    exactly once — by a mount's fold or close, or by
  *    [[storeFileData]] — before any delta names them;
  *  - `wal/`: committed deltas in sequence order. A delta is ONE
  *    metadata-only dir per verb holding one manifest file, written
  *    under a temp name and ATOMICALLY renamed (the rename IS the commit
  *    point — a crashed writer leaves an invisible temp dir, never a
  *    torn mutation). It holds inode upserts, path tombstones (each
  *    drops the path and everything under it) and payload references
  *    (path → immutable row key + the sources holding its rows: data
  *    files, or a version dir's chunks named by the version) — see
  *    [[Delta]];
  *  - `locks/`: the cross-process namespace lock
  *    ([[SharedFileLocks]] on [[SharedStateStore.NamespaceKey]]), held
  *    by every commit; [[SharedStateStore.holdingNamespace]] lets a
  *    thread that already holds it (the CLI's verb bracket) commit
  *    without acquiring it again.
  *
  * Reads are SESSION-FREE: the base version through [[SavedState]]'s
  * pruned readers, plus the wal replayed in memory (parsed deltas are
  * cached process-wide; committed dirs are immutable). A mount replays
  * the same deltas into its inode cache and payload index.
  *
  * Scale posture: a commit writes O(verb) bytes, never O(namespace) and
  * never payload (a rename re-points references); a point read touches
  * one base row group plus the wal tail, which [[compact]] keeps short.
  * The layout is plain sorted parquet, so a corpus-scale fold can run as
  * a Spark job over the same files.
  *
  * Concurrency contract: commits serialize on the namespace lock;
  * lock-free readers see a committed prefix of the wal (deltas appear
  * atomically, in sequence order). A read-modify-write cycle brackets
  * with [[atomically]]. Proven by SharedStateStoreSpec: four FORKED
  * JVMs interleaving creates and counter increments, final namespace
  * equal to a serial replay, counter equal to the op count.
  *
  * Method map (reference `FileSystemStore` → here; the reference returns
  * Thrift-async `Future`s, re-expressed as synchronous calls; a
  * `CassandraStore` would be a second implementation of these verbs
  * where an environment has one — documented narrowing, SURVEY §2.2 B1):
  *
  * | Ref (FileSystemStore.scala) | Here | Impl |
  * |---|---|---|
  * | `createKeyspace` :31 (ThriftStore.scala:88-170) | createKeyspace() | first version dir (root inode + empty chunks) + `CURRENT` flip |
  * | `init` :33 (client pool, ThriftStore.scala:175-207) | init() | no-op BY DESIGN: no connection to pool (SURVEY §2.2 B2) |
  * | `storeINode` :35 (ThriftStore.scala:281-327) | storeINode | one delta: an inode upsert |
  * | `retrieveINode` :37 (ThriftStore.scala:329-350) | retrieveINode | wal replay, else a path-pruned base catalog read |
  * | `storeSubBlock` :39 (ThriftStore.scala:352-385) | storeFileData | chunk rows into one data file, then one delta: inode + payload reference — C1-C4 in one commit |
  * | `retrieveSubBlock` :41 (+byteRangeStart; ThriftStore.scala:387-411) | retrieveSubBlock | block-pruned reads of the overlapping blocks |
  * | `retrieveBlock` :43 (BlockInputStream) | retrieveBlock | ordered block reads of the whole file |
  * | `deleteINode` :45 (ThriftStore.scala:413-425) | deleteINode | one delta: a path tombstone |
  * | `deleteBlocks` :47 (ThriftStore.scala:427-464) | deleteBlocks | one delta: a payload reference to no file |
  * | `fetchSubPaths` :49 (deep flag; ThriftStore.scala:490-541) | fetchSubPaths | path-range base read ∪ wal overlay |
  * | `getBlockLocations` :51 (token ring → replicas, ThriftStore.scala:543-605) | getBlockLocations | FsCatalog.blockLocations' ring formula (3 replicas) |
  * | `acquireFileLock` :53 (time-UUID column race, ThriftStore.scala:607-734) | acquireFileLock | SharedFileLocks.acquire (atomic exclusive create on shared storage) |
  * | `releaseFileLock` :55 | releaseFileLock | SharedFileLocks.release |
  * | (keyspace drop — B13) | dropKeyspace() | delete `CURRENT`, versions, wal and data |
  */
final class SharedStateStore(stateDir: String,
                             subBlockSize: Int = 1 << 20,
                             blockSize: Int = 4 << 20) {
  import SharedStateStore._

  require(subBlockSize > 0 && blockSize % subBlockSize == 0,
    "blockSize must be a positive multiple of subBlockSize")

  private val locksRoot = s"$stateDir/locks"
  private val walDir = Paths.get(stateDir, "wal")
  private val dataDir = Paths.get(stateDir, "data")

  private def withNamespace[T](f: => T): T =
    holdingNamespace(stateDir)(f).getOrElse(throw new IOException(
      s"timed out acquiring the namespace mutation lock under $locksRoot" +
        " — a crashed holder needs SharedFileLocks.breakStale (the " +
        "operator recovery verb)"))

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

  /** Committed wal deltas as (sequence, dir), in sequence order (temp
    * dirs invisible). A name listing only: nothing is parsed. */
  private[fs] def deltaDirs(): Seq[(Long, Path)] = {
    if (!Files.isDirectory(walDir)) return Seq.empty
    val l = Files.list(walDir)
    try l.iterator().asScala.flatMap { p =>
      val name = p.getFileName.toString
      if (!name.startsWith("d")) None
      else name.drop(1).takeWhile(_.isDigit).toLongOption.map(_ -> p)
    }.toSeq.sortBy(_._1)
    finally l.close()
  }

  /** A committed delta, parsed once per process. */
  private[fs] def delta(dir: Path): Delta =
    deltaCache.computeIfAbsent(dir.toString, _ => Delta.read(dir))

  /** A fresh name for a data file in `data/` (the caller writes it; a
    * data file is immutable once a delta names it). */
  private[fs] def newDataFile(): String = {
    Files.createDirectories(dataDir)
    dataDir.resolve(s"${UUID.randomUUID()}.parquet").toString
  }

  /** A payload reference's source name as a readable path: a file in
    * `data/`, or the chunks dir of the version dir it names. */
  private[fs] def source(name: String): String =
    if (name.endsWith(".parquet")) dataDir.resolve(name).toString
    else s"${Paths.get(stateDir, name)}/chunks"

  /** The inverse of [[source]]. A version is named concretely, never as
    * "the current base": compaction re-keys base rows, so a reference
    * must fail (its version pruned) rather than resolve against a newer
    * version. */
  private[fs] def refName(src: String): String =
    if (src.endsWith(".parquet")) Paths.get(src).getFileName.toString
    else Paths.get(stateDir).relativize(Paths.get(src).getParent).toString

  /** Commit one delta — THE write path of the state dir: under the
    * namespace lock, one manifest file and one atomic rename. No wal
    * replay, no payload read; every source a reference names must still
    * exist, so a reference to a version or data file that compaction
    * pruned fails the commit.
    */
  private[fs] def commit(verb: String, path: String, upserts: Seq[Inode],
                         tombstones: Seq[String],
                         refs: Seq[Ref]): Unit = withNamespace {
    live()
    refs.iterator.flatMap(_.files).distinct.foreach { f =>
      if (!Files.exists(Paths.get(source(f))))
        throw new IOException(s"$path: payload source ${source(f)} is gone (compacted away?)")
    }
    Files.createDirectories(walDir)
    val seq = deltaDirs().lastOption.map(_._1 + 1).getOrElse(0L)
    val tmp = Files.createTempDirectory(walDir, ".tmp")
    try {
      Delta(tombstones, upserts, refs).write(tmp, verb, path)
      Files.move(tmp, walDir.resolve(
        f"d$seq%010d_${UUID.randomUUID().toString.take(8)}"),
        StandardCopyOption.ATOMIC_MOVE)
    } catch {
      case e: Throwable => graft.PlanHygiene.deleteRecursively(tmp); throw e
    }
  }

  /** The namespace as the base version plus the replayed wal: upserts
    * win, `masks` hide base rows at and under a tombstoned path, `refs`
    * override base payloads. Bounded by mutations since [[compact]]. */
  private final class Overlay(deltas: Seq[Delta]) {
    val inodes = new java.util.TreeMap[String, Inode]()
    val refs = new java.util.TreeMap[String, Ref]()
    val masks = scala.collection.mutable.Set.empty[String]
    deltas.foreach { d =>
      d.tombstones.foreach { p =>
        subtreeKeys(inodes, p).foreach(inodes.remove)
        subtreeKeys(refs, p).foreach(refs.remove)
        masks += p
      }
      d.upserts.foreach(n => inodes.put(n.path, n))
      d.refs.foreach(r => refs.put(r.path, r))
    }

    def masked(p: String): Boolean =
      masks.nonEmpty && PathOps.ancestors(p).exists(masks.contains)

    def inode(base: String, p: String): Option[Inode] =
      Option(inodes.get(p)).orElse(
        if (masked(p)) None
        else SavedState.readInodes(s"$base/catalog",
          Some(SavedState.pathEq(p))).headOption)

    /** `p`'s payload reference: a committed one, else the base rows
      * keyed by `p` unless a tombstone hid them. */
    def ref(base: String, p: String): Option[Ref] =
      Option(refs.get(p)).orElse(
        if (masked(p)) None else Some(Ref(p, p, Seq(refName(s"$base/chunks")))))
  }

  private def overlay(): Overlay = new Overlay(deltaDirs().map(d => delta(d._2)))

  // ── FileSystemStore verbs ─────────────────────────────────────────

  def createKeyspace(): Unit = withNamespace {
    if (GraftShellMain.currentStateDir(stateDir).isEmpty)
      GraftShellMain.writeVersion(stateDir, s"v${System.nanoTime()}",
        Seq(FsCatalog.dirInode("/", "graft")), Nil)
  }

  /** No-op BY DESIGN (not unimplemented): the reference's init builds a
    * Thrift client pool; this store opens files per verb and there is
    * no connection to pool (SURVEY §2.2 B2).
    */
  def init(): Unit = ()

  def storeINode(inode: Inode): Unit =
    commit("storeINode", inode.path, Seq(inode), Nil, Nil)

  def retrieveINode(path: String): Option[Inode] =
    overlay().inode(live(), path)

  /** Store a file's payload AND commit its inode in one verb (the
    * reference splits these across storeSubBlock + storeINode; the
    * fused form keeps both planes consistent under the single lock).
    * Metadata is CALLER-OWNED like the reference's storeINode(path,
    * iNode): `mtime` is the caller's modification time. Permission
    * defaults to 420 (rw-r--r--) and group to `user` — the facade's
    * create-path defaults; a caller needing different ones follows with
    * storeINode. The bytes go to one data file before the lock is taken.
    */
  def storeFileData(path: String, data: Array[Byte], user: String,
                    mtime: java.sql.Timestamp): Unit = {
    live()
    val file = newDataFile()
    SavedStateWriter.writeChunksFile(file,
      SavedStateWriter.chunkRows(path, data, subBlockSize, blockSize))
    val inode = Inode(path, PathOps.parent(path), user, user, 420,
      isDir = false, mtime,
      BlockMeta.forLength(path, data.length.toLong, subBlockSize, blockSize))
    try commit("storeFileData", path, Seq(inode), Nil,
      Seq(Ref(path, path, Seq(refName(file)))))
    catch { case e: Throwable => Files.deleteIfExists(Paths.get(file)); throw e }
  }

  /** The common create-path call, stamping now(). */
  def storeFileData(path: String, data: Array[Byte], user: String): Unit =
    storeFileData(path, data, user,
      new java.sql.Timestamp(System.currentTimeMillis()))

  def retrieveBlock(path: String): Array[Byte] =
    retrieveSubBlock(path, 0L, Long.MaxValue)

  def retrieveSubBlock(path: String, byteRangeStart: Long,
                       len: Long): Array[Byte] = {
    val base = live()
    if (len <= 0 || byteRangeStart < 0) return Array.emptyByteArray
    val o = overlay()
    val blocks = o.inode(base, path).flatMap(n => Option(n.blocks))
      .getOrElse(Seq.empty)
    o.ref(base, path) match {
      case None => Array.emptyByteArray
      case Some(r) =>
        val end = byteRangeStart + len
        val sources = r.files.map(source)
        // only the blocks OVERLAPPING the range are fetched, each one a
        // row-group-pruned read
        val buf = new java.io.ByteArrayOutputStream()
        blocks.zipWithIndex.foreach { case (b, i) =>
          if (b.offset < end && b.offset + b.length > byteRangeStart) {
            val data = SavedState.assemble(
              sources.flatMap(SavedState.blockRows(_, r.key, i.toLong)))
            val from = math.max(0L, byteRangeStart - b.offset).toInt
            val until = math.min(data.length.toLong, end - b.offset).toInt
            if (until > from) buf.write(data, from, until - from)
          }
        }
        buf.toByteArray
    }
  }

  /** Drops `path` and everything under it (a tombstone). */
  def deleteINode(path: String): Unit =
    commit("deleteINode", path, Nil, Seq(path), Nil)

  def deleteBlocks(path: String): Unit =
    commit("deleteBlocks", path, Nil, Nil, Seq(Ref(path, path, Nil)))

  def fetchSubPaths(path: String, isDeepFetch: Boolean): Seq[String] = {
    val baseDir = live()
    val o = overlay()
    val prefix = if (path == "/") "/" else path + "/"
    val base = SavedState.readInodes(s"$baseDir/catalog",
      Some(SavedState.pathRange(prefix))).map(_.path).filterNot(o.masked)
    (base ++ subtreeKeys(o.inodes, prefix)).distinct
      .filter(p => p != path && p.startsWith(prefix))
      .filter(p => isDeepFetch || !p.stripPrefix(prefix).contains('/'))
      .sorted
  }

  def getBlockLocations(path: String): Map[String, Seq[String]] = {
    // the ring formula of FsCatalog.blockLocations (B11 parity)
    retrieveINode(path).flatMap(n => Option(n.blocks))
      .getOrElse(Seq.empty).map { b =>
        val owner = b.id.charAt(0).toInt % 3
        b.id -> (0 until 3).map(i => s"node-${(owner + i) % 3}")
      }.toMap
  }

  def acquireFileLock(path: String): Option[UUID] =
    SharedFileLocks.acquire(locksRoot, path)

  def releaseFileLock(path: String, token: UUID): Boolean =
    SharedFileLocks.release(locksRoot, path, token)

  def dropKeyspace(): Unit = withNamespace {
    // destroy committed state: pointer first (readers stop resolving),
    // then versions, wal and data
    Files.deleteIfExists(Paths.get(stateDir, "CURRENT"))
    if (Files.isDirectory(Paths.get(stateDir)))
      GraftShellMain.pruneVersions(stateDir, keep = "")
    Seq(walDir, dataDir).foreach(graft.PlanHygiene.deleteRecursively)
  }

  /** Fold base + wal into a fresh complete version and flip CURRENT —
    * the LSM compaction verb. After it, the state dir is a standard
    * saveFs layout with an empty wal: every consumer of the persisted
    * format (the scheme mount, SavedState readers, DuckDB) sees the full
    * namespace with zero replay. Then the folded deltas, the data files
    * they name and the superseded versions are pruned (a mount opened
    * before the fold loses those sources). Session-free and exact;
    * O(namespace + payload) like every LSM fold — distribute the same
    * fold as a Spark job over the identical parquet files when the state
    * outgrows one process.
    */
  def compact(): Unit = withNamespace {
    val deltas = deltaDirs()
    if (deltas.nonEmpty) compactLocked(deltas)
  }

  /** [[compact]] once the wal holds more deltas than the base catalog
    * has inodes: a fold costs O(namespace), so replay stays amortized
    * O(1) per commit with no knob. */
  private[fs] def compactIfDue(): Unit = withNamespace {
    val deltas = deltaDirs()
    if (deltas.size > SavedState.rowCount(s"${live()}/catalog"))
      compactLocked(deltas)
  }

  private def compactLocked(deltas: Seq[(Long, Path)]): Unit = {
    val oldBase = live()
    val parsed = deltas.map(d => delta(d._2))
    val o = new Overlay(parsed)
    // the catalog: visible base rows, overlay upserts win
    val folded = new java.util.TreeMap[String, Inode]()
    SavedState.readCatalog(s"$oldBase/catalog").foreach { n =>
      if (!o.masked(n.path)) folded.put(n.path, n)
    }
    folded.putAll(o.inodes)
    // the data plane: every live file's rows, read once per source and
    // re-keyed by the file's current path
    val files = folded.values.asScala.filter(_.isFile).toSeq
    val refs = files.flatMap(n => o.ref(oldBase, n.path).map(n.path -> _))
    val keysBySource = refs.flatMap { case (_, r) =>
      r.files.map(f => source(f) -> r.key)
    }.groupMap(_._1)(_._2)
    val rowsOf = keysBySource.map { case (src, keys) =>
      src -> SavedState.chunkRows(src, keys.toSet).groupBy(_.path)
    }
    val rows = refs.flatMap { case (p, r) =>
      r.files.flatMap(f => rowsOf(source(f)).getOrElse(r.key, Nil))
        .map(_.copy(path = p))
    }.sortBy(r => (r.path, r.blockId, r.subId))
    val version = s"v${System.nanoTime()}"
    GraftShellMain.writeVersion(stateDir, version, folded.values.asScala.toSeq, rows)
    // prune (the commit point — the flip — has passed; a crash here only
    // leaves garbage a later compact re-prunes)
    parsed.iterator.flatMap(_.refs).flatMap(_.files)
      .filter(_.endsWith(".parquet"))
      .foreach(f => Files.deleteIfExists(dataDir.resolve(f)))
    deltas.foreach { case (_, d) =>
      graft.PlanHygiene.deleteRecursively(d)
      deltaCache.remove(d.toString)
    }
    GraftShellMain.pruneVersions(stateDir, version)
  }
}

object SharedStateStore {

  /** Reserved lock key for whole-namespace mutation exclusion (path-
    * keyed like every other lock row; no real path collides with it).
    * Shared by every writer of the layout: store verbs, mount commits
    * and the CLI's verb bracket.
    */
  val NamespaceKey = "/__graft_namespace__"

  /** A payload reference: `path`'s rows are the rows keyed `key` in
    * `files` — [[SharedStateStore.source]] names. No file: an empty
    * payload. */
  private[fs] final case class Ref(path: String, key: String, files: Seq[String])

  /** One committed delta's entries, applied in this order: tombstones,
    * upserts (by path), references. On disk: ONE manifest, `OP` — the
    * verb, the path it names, then one tab-separated, escaped line per
    * tombstone (`-`), upsert (`=`) and reference (`+`). An upsert reads
    * back as the base catalog would hold it ([[SavedStateWriter.asRead]]),
    * so compaction never changes an inode.
    */
  private[fs] final case class Delta(tombstones: Seq[String], upserts: Seq[Inode],
                         refs: Seq[Ref]) {
    def write(dir: Path, verb: String, path: String): Unit = {
      val sb = new StringBuilder(s"$verb\n${esc(path)}\n")
      def line(fields: Seq[String]): Unit = sb ++= fields.mkString("", "\t", "\n")
      tombstones.foreach(p => line(Seq("-", esc(p))))
      upserts.foreach { n =>
        val blocks = Option(n.blocks).fold(Seq(esc(null)))(bs => s"${bs.length}" +:
          bs.flatMap { b =>
            val subs = Option(b.subBlocks).getOrElse(Nil)
            Seq(esc(b.id), s"${b.offset}", s"${b.length}", s"${subs.length}") ++
              subs.flatMap(x => Seq(esc(x.id), s"${x.offset}", s"${x.length}"))
          })
        line(Seq("=", esc(n.path), esc(n.parentPath), esc(n.user),
          esc(n.group), n.permission.toString, n.isDir.toString,
          Option(n.mtime).fold(0L)(_.getTime).toString) ++ blocks)
      }
      refs.foreach(r => line(Seq("+", esc(r.path), esc(r.key)) ++ r.files.map(esc)))
      Files.write(dir.resolve("OP"), sb.toString.getBytes(UTF_8))
    }
  }

  private[fs] object Delta {
    def read(dir: Path): Delta = {
      val (tombstones, upserts, refs) =
        (Seq.newBuilder[String], Seq.newBuilder[Inode], Seq.newBuilder[Ref])
      new String(Files.readAllBytes(dir.resolve("OP")), UTF_8).split("\n")
        .iterator.drop(2).foreach { l =>
          val f = l.split("\t", -1).iterator.map(unesc)
          f.next() match {
            case "-" => tombstones += f.next()
            case "=" => upserts += inode(f)
            case _ => refs += Ref(f.next(), f.next(), f.toSeq)
          }
        }
      Delta(tombstones.result(), upserts.result(), refs.result())
    }

    private def inode(f: Iterator[String]): Inode = {
      val (path, parent, user, group) = (f.next(), f.next(), f.next(), f.next())
      val (perm, isDir) = (f.next().toInt, f.next().toBoolean)
      val mtime = new java.sql.Timestamp(f.next().toLong)
      val blocks = Option(f.next()).map(n => Seq.fill(n.toInt) {
        val (id, off, len) = (f.next(), f.next().toLong, f.next().toLong)
        BlockMeta(id, off, len, Seq.fill(f.next().toInt)(
          SubBlockMeta(f.next(), f.next().toLong, f.next().toLong)))
      }).orNull
      Inode(path, parent, user, group, perm, isDir, mtime, blocks)
    }
  }

  /** Escapes one manifest field; null is `\N`, which no string escapes to. */
  private def esc(s: String): String =
    if (s == null) "\\N"
    else s.replace("\\", "\\\\").replace("\t", "\\t").replace("\n", "\\n")

  private def unesc(s: String): String =
    if (!s.contains('\\')) s
    else if (s == "\\N") null
    else """\\(.)""".r.replaceAllIn(s, m => scala.util.matching.Regex.quoteReplacement(
      m.group(1) match { case "t" => "\t"; case "n" => "\n"; case o => o }))

  /** The keys of `m` at `p` and under it, via one sorted-range walk. */
  private[fs] def subtreeKeys(m: java.util.TreeMap[String, _],
                              p: String): Seq[String] = {
    val pre = if (p == "/" || p.endsWith("/")) p else p + "/"
    val out = Seq.newBuilder[String]
    if (p != pre && m.containsKey(p)) out += p
    val it = m.tailMap(pre).keySet().iterator()
    var go = true
    while (go && it.hasNext) {
      val k = it.next()
      if (k.startsWith(pre)) out += k else go = false
    }
    out.result()
  }

  /** Committed delta dirs are immutable: parsed once per process. */
  private val deltaCache =
    new java.util.concurrent.ConcurrentHashMap[String, Delta]()

  /** Lock root → the thread holding its namespace lock in this JVM. */
  private val holders =
    new java.util.concurrent.ConcurrentHashMap[String, Thread]()

  /** Run `f` holding `stateDir`'s namespace lock; None when it is not
    * acquired within `timeoutMs`. A thread that already holds it runs
    * `f` inside that hold, so a verb bracket (the CLI's lock → mount →
    * verb → release) and the commits it makes share one acquisition.
    */
  private[fs] def holdingNamespace[T](stateDir: String, timeoutMs: Long = 60000)(
      f: => T): Option[T] = {
    val root = Paths.get(stateDir, "locks").toAbsolutePath.normalize.toString
    if (holders.get(root) eq Thread.currentThread()) Some(f)
    else SharedFileLocks.acquireBlocking(root, NamespaceKey, timeoutMs).map {
      tok =>
        holders.put(root, Thread.currentThread())
        try f finally {
          holders.remove(root)
          SharedFileLocks.release(root, NamespaceKey, tok)
        }
    }
  }

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
