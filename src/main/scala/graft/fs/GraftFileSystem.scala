package graft.fs

import java.io.{FileNotFoundException, IOException, OutputStream}
import java.net.URI
import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{BlockLocation, FSDataInputStream, FSDataOutputStream, FileStatus, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, IntegerType, LongType, StringType, StructField, StructType}

import graft.catalog.{BlockMeta, FsCatalog, Inode, PathOps}

/** The reference's entire public API *is* `org.apache.hadoop.fs
  * .FileSystem` (SnackFS.scala:51-153; mounted via core-site.xml:29-32) —
  * this facade closes that last fidelity gap: a stock Hadoop/Spark job
  * can mount the engine unchanged. Metadata answers from a driver-JVM
  * inode cache; payload lives in memory (pending subblocks) or in
  * immutable parquet files (the saved state's base chunks and `data/`
  * files, or a non-committing mount's private segments), all read by
  * one session-free reader ([[SavedState]]) — like the reference, where
  * every client reads blocks straight from the store with no
  * coordinator in the path. No verb runs a Spark job; only the
  * [[graftFs]] snapshot builds (lazy) frames.
  *
  * A mount of a state dir (`graft.mount.state.dir`) with write-through
  * on (the default) is COMMITTING: like the reference, where every
  * mutation is a durable store write, each mutating verb — close,
  * mkdirs, rename, delete — commits one wal delta of the state before
  * it returns, and a failed commit fails the verb with an IOException
  * (see the commit path below). Any other mount keeps its verbs in
  * memory.
  *
  * Both byte paths stream with the reference's own cadence: writes
  * buffer one subblock at a time with per-block inode commits
  * (FileSystemOutputStream.scala:55-143), reads keep one ≤blockSize
  * block resident (FileSystemInputStream.scala:60-76) — neither path
  * holds a whole file in driver memory. Analytics reads still belong on
  * the DSv2 connector, which never touches the driver at all.
  */
class GraftFileSystem extends FileSystem {

  private var ctx: FsContext = _
  private var subBlockSize: Int = _
  private var blockSize: Int = _

  /** Driver-JVM mirror of the catalog plane — ONE entry per inode,
    * kept exactly in step with the payload index under [[mutLock]].
    * This is what makes the mount's whole METADATA surface (existence
    * checks, status, listings, the committer's mkdirs/rename dance)
    * action-free: a write task consults and updates this map in pure
    * memory, so no Spark job ever has to schedule inside a task slot —
    * the NameNode shape (metadata answers from memory, data scans run
    * distributed), and the fix that lets a stock committer job write
    * at FULL parallelism on local[N] instead of deadlocking on core
    * starvation. The catalog frame of a [[graftFs]] snapshot derives
    * from it (consistency pinned by spec: after any verb mix, the cache
    * equals the collected catalog row for row); a mount starts empty
    * (root only) or from a saved state at initialize — the facade's
    * lifecycle is mount-scoped, like the reference's in-memory client
    * view (persistence across mounts is the commit path and
    * FsCatalog.save).
    */
  private val inodeCache =
    new java.util.concurrent.ConcurrentHashMap[String, Inode]()

  /** Driver-memory posture of the cache — the NameNode trade, made
    * LOUD like every other cap in this engine (LshGuard precedent): an
    * inode row is a few hundred bytes (path + block metas), so 10 M
    * files ≈ low-GB driver heap — metadata-scale, the same class of
    * object a NameNode holds, and fine for the mount's job (stock
    * committer-protocol writes + fresh-data reads). A workload growing
    * past `graft.mount.max.inodes` (default 10 M) gets ONE stderr
    * shout per mount naming the knob and the DSv2 connector as the
    * analytics-scale alternative — never a silent OOM march.
    */
  private var maxInodes = 10_000_000L
  private val inodeCapShouted = new java.util.concurrent.atomic.AtomicBoolean

  /** True once the cache outgrew the cap (the shout latch). */
  def inodeCapExceeded: Boolean = inodeCapShouted.get()

  private def noteInodeGrowth(): Unit =
    if (inodeCache.size() > maxInodes &&
        inodeCapShouted.compareAndSet(false, true))
      System.err.println(
        s"graftfs: mount at ${ctx.uri} exceeds graft.mount.max.inodes " +
          s"($maxInodes) — driver-heap metadata growing unbounded; raise " +
          "the cap or move analytics to the graft.sources DSv2 connector")

  private def cached(p: String): Option[Inode] = Option(inodeCache.get(p))

  /** Parent → child-paths index over [[inodeCache]] — the
    * NameNode-correct directory shape. Before this existed, every
    * listStatus/rename/recursive-delete/empty-check scanned the WHOLE
    * cache (O(N) per verb at up to the 10M-inode cap — a per-task-
    * commit driver cost under a committer job); each verb now touches
    * only the child set / subtree it names. Maintained in lock-step
    * with the cache under [[mutLock]] via [[cachePut]]/[[cacheDrop]]
    * (parentPath is a pure function of path — PathOps.parent — so a
    * same-path overwrite never moves an index entry); the consistency
    * spec asserts index ≡ groupBy(parentPath) of the cache after any
    * verb mix.
    */
  private val childIndex =
    new java.util.HashMap[String, java.util.HashSet[String]]()

  /** Insert/overwrite one inode, keeping [[childIndex]] exact.
    * Caller holds [[mutLock]] (or is single-threaded initialize). */
  private def cachePut(n: Inode): Unit = {
    val prior = inodeCache.put(n.path, n)
    if (prior == null && n.parentPath != null)
      childIndex.computeIfAbsent(n.parentPath,
        _ => new java.util.HashSet[String]()).add(n.path)
  }

  /** Remove one inode, keeping [[childIndex]] exact (empty child sets
    * are dropped so the index never outgrows the live tree). Caller
    * holds [[mutLock]]. */
  private def cacheDrop(p: String): Unit = {
    val prior = inodeCache.remove(p)
    if (prior != null && prior.parentPath != null) {
      val kids = childIndex.get(prior.parentPath)
      if (kids != null) {
        kids.remove(p)
        if (kids.isEmpty) childIndex.remove(prior.parentPath)
      }
    }
  }

  /** The subtree rooted at `p` down to `depth` levels below it, walked
    * through [[childIndex]] — O(subtree), never O(cache). Fully
    * materialized before any caller mutates (rename/remove iterate the
    * result, not the live sets). */
  private def subtreePaths(p: String, depth: Int = Int.MaxValue): Seq[String] = {
    // Explicit-stack iteration: a pathologically deep chain (mkdirs
    // with tens of thousands of components) must not blow the JVM
    // stack while holding mutLock.
    val out = Seq.newBuilder[String]
    val stack = new java.util.ArrayDeque[(String, Int)]()
    stack.push((p, 0))
    while (!stack.isEmpty) {
      val (q, level) = stack.pop()
      out += q
      val kids = childIndex.get(q)
      if (kids != null && level < depth) {
        val it = kids.iterator()
        while (it.hasNext) stack.push((it.next(), level + 1))
      }
    }
    out.result()
  }

  /** Index snapshot for the consistency spec. */
  private[fs] def childIndexSnapshot: Map[String, Set[String]] =
    withMutLock {
      val b = Map.newBuilder[String, Set[String]]
      childIndex.forEach { (k, v) =>
        val s = Set.newBuilder[String]
        v.forEach(s += _)
        b += k -> s.result()
      }
      b.result()
    }

  /** One file incarnation's payload at its current `path`: an IMMUTABLE
    * row key plus the parquet sources holding its folded rows, oldest
    * first. Saved files keep their stored path as key (source: the saved
    * chunks dir); wal references carry their committed key and sources;
    * a `create` mints a fresh key that can never be a Hadoop path (NUL
    * never appears in one), so a re-created path never aliases a renamed
    * file's rows. `live` turns false when delete/overwrite drops the
    * entry: rows still in flight to a fold file then publish nowhere.
    * `open` holds from create until close commits the file: until then
    * its rows are not all in its sources, so no delta names it.
    */
  private final class Payload(val key: String, var path: String,
                              var sources: List[String]) {
    var live = true
    var open = false
  }

  /** One subblock row held in memory, tagged with its owning payload.
    * `partial` marks a flush()-persisted subblock its stream may still
    * extend — it never folds, so no fold cell is ever superseded.
    */
  private final class MemRow(val owner: Payload,
                             val row: SavedStateWriter.ChunkRow,
                             val partial: Boolean)

  /** THE payload index: current path → payload, SORTED so subtree
    * renames/deletes are one range walk. Rename re-keys entries, delete
    * and overwrite drop them; no row is ever rewritten. Guarded by
    * [[mutLock]].
    */
  private val payloads = new java.util.TreeMap[String, Payload]()
  private var keySeq = 0L

  /** Subblock rows written since the last fold. Memory contract:
    * ≤ [[FoldBytes]] of complete rows (counted in `pendingBytes`) plus
    * one partial subblock per open stream.
    */
  private val pending = ArrayBuffer.empty[MemRow]
  private var pendingBytes = 0L

  /** Batches a fold has taken out of `pending` whose file is still being
    * written: readers keep serving them from memory until the fold
    * publishes the file.
    */
  private var sealedBatches: List[Vector[MemRow]] = Nil

  // conf-overridable (graft.mount.fold.bytes) so specs can force folds
  // at test-sized payloads; production default 64 MB
  private var FoldBytes = 64L << 20

  /** A non-committing mount's private dir of immutable segment files
    * (created at the first fold, deleted by close()). */
  private var segmentDir: java.nio.file.Path = _
  private var segmentSeq = 0L

  /** A committing mount's fold files in `data/` that no commit has named
    * yet (rows of files deleted before close, a failed commit or write):
    * close() deletes what is left. */
  private val unnamed = scala.collection.mutable.Set.empty[String]

  /** The mounted state's saved chunks dir, resolved part by part: its
    * footer bounds load at the first block miss there (initialize
    * reads no chunk file). Null for a mount without a saved state. */
  @volatile private var savedChunks: SavedState.ChunkParts = _

  /** `owner`'s rows of block `blockId` in one payload source. A saved
    * file's rows are looked up by its stored key, so a renamed saved
    * file resolves to the parts that hold it. */
  private def sourceRows(src: String, key: String,
                         blockId: Long): Seq[(Int, Array[Byte])] = {
    val saved = savedChunks
    if (saved != null && src == saved.dir) saved.blockRows(key, blockId)
    else SavedState.blockRows(src, key, blockId)
  }

  /** Drop `p`'s payload entry (delete, wal tombstone). Caller holds
    * [[mutLock]]; memory rows of dead entries go at the next
    * [[dropDeadRows]]. */
  private def dropPayload(p: String): Unit = {
    val prior = payloads.remove(p)
    if (prior != null) prior.live = false
  }

  private def dropDeadRows(): Unit = {
    var i = 0
    while (i < pending.length) {
      val m = pending(i)
      if (!m.owner.live) {
        if (!m.partial) pendingBytes -= m.row.data.length
        pending.remove(i)
      } else i += 1
    }
  }

  /** Payload entries at `p` and under it, via one sorted-range walk. */
  private def payloadSubtree(p: String): Seq[(String, Payload)] =
    SharedStateStore.subtreeKeys(payloads, p).map(k => k -> payloads.get(k))

  /** `owner`'s in-memory (sub_id, bytes) rows of block `blockId` —
    * pending and sealed alike. Caller holds [[mutLock]]. */
  private def memRows(owner: Payload, blockId: Int): Seq[(Int, Array[Byte])] =
    (pending.iterator ++ sealedBatches.iterator.flatten)
      .filter(m => (m.owner eq owner) && m.row.blockId == blockId)
      .map(m => (m.row.subId, m.row.data)).toSeq

  /** Fold: SEAL the complete pending rows `take` selects under
    * [[mutLock]] (readers keep serving them from memory), WRITE them as
    * one immutable file with the lock released, then PUBLISH the file to
    * the entries still live. Given an `owner`, it first waits out the
    * in-flight folds holding that owner's rows, so the owner's sources
    * then hold every row it has. A committing mount writes the file into
    * the state's `data/` — the one write of those payload bytes — and
    * any other mount into its private segment dir. A failed write
    * returns the rows to pending and surfaces as the verb's IOException.
    */
  private def fold(take: MemRow => Boolean, owner: Payload = null): Unit = {
    val sealedBatch = withMutLock {
      if (owner != null)
        while (sealedBatches.exists(_.exists(_.owner eq owner))) awaitFold()
      val (done, open) = pending.partition(m => !m.partial && take(m))
      if (done.isEmpty) None
      else {
        pending.clear(); pending ++= open
        pendingBytes -= done.iterator.map(_.row.data.length.toLong).sum
        val batch = done.toVector
        sealedBatches ::= batch
        Some((batch, foldFile()))
      }
    }
    sealedBatch.foreach { case (batch, file) =>
      def unseal(): Unit = {
        sealedBatches = sealedBatches.filterNot(_ eq batch)
        foldDone.signalAll()
      }
      try SavedStateWriter.writeChunksFile(file,
        batch.map(_.row).sortBy(r => (r.path, r.blockId, r.subId)))
      catch {
        case e: Throwable =>
          withMutLock {
            unseal()
            val back = batch.filter(_.owner.live)
            pending.prependAll(back)
            pendingBytes += back.iterator.map(_.row.data.length.toLong).sum
          }
          throw e
      }
      withMutLock {
        batch.iterator.map(_.owner).distinct.filter(_.live)
          .foreach(o => o.sources = o.sources :+ file)
        unseal()
      }
    }
  }

  /** A fresh fold file name. Caller holds [[mutLock]]. */
  private def foldFile(): String =
    if (committing) { val f = store.newDataFile(); unnamed += f; f }
    else {
      if (segmentDir == null)
        segmentDir = java.nio.file.Files.createTempDirectory("graftfs-segments")
      segmentSeq += 1
      segmentDir.resolve(f"seg-$segmentSeq%08d.parquet").toString
    }

  // ── THE COMMIT PATH. A committing mount — a state dir, write-through
  //    on (`graft.mount.write.through`, default true), not executor
  //    mode — commits every mutating verb (close, mkdirs, rename,
  //    delete) as ONE wal delta of the mounted state (SharedStateStore),
  //    built from the inode cache and payload index under [[mutLock]]
  //    BEFORE the verb changes them: a failed commit fails the verb with
  //    nothing applied. A delta is metadata only — payload bytes reach
  //    `data/` once, through [[fold]] — so a rename re-points references
  //    and copies no byte. A file reaches the state when its close
  //    commits it, at its path then; until then no delta names it. Any
  //    mount of the state (fresh mounts at initialize, executor-mode
  //    mounts per access) replays the deltas into its own cache and
  //    index. Every other mount keeps its verbs in memory. ──
  private var stateDir: String = _
  private var store: SharedStateStore = _
  private var writeThroughEnabled = true
  /** The base version dir this mount's cache was built from, and the
    * last wal sequence applied on top of it. */
  private var mountedBase: String = _
  private var appliedSeq = -1L

  private def committing: Boolean =
    store != null && writeThroughEnabled && !executorMode

  /** Commit one verb's delta on a committing mount (a no-op on any
    * other). Upserts carry their cached ancestors, so the committed
    * namespace never holds an orphan. Caller holds [[mutLock]]. */
  private def commit(verb: String, path: String, upserts: Seq[Inode],
                     tombstones: Seq[String],
                     refs: Seq[(String, Payload)]): Unit =
    if (committing) {
      val have = upserts.iterator.map(_.path).toSet
      val ancestors = upserts.iterator
        .flatMap(n => PathOps.ancestors(Option(n.parentPath).getOrElse("/")))
        .filter(a => a != "/" && !have(a)).distinct.flatMap(cached).toSeq
      store.commit(verb, path, upserts ++ ancestors, tombstones, refs.map {
        case (p, o) => SharedStateStore.Ref(p, o.key, o.sources.map(store.refName))
      })
    }

  /** (Re)build the cache and payload index from the mounted state: the
    * saved catalog (every saved file's source is the saved chunks dir),
    * then the wal. Caller holds [[mutLock]] or is single-threaded
    * initialize.
    */
  private def bootstrap(): Unit = {
    inodeCache.clear()
    childIndex.clear()
    payloads.clear()
    appliedSeq = -1L
    mountedBase = Option(stateDir).flatMap(GraftShellMain.currentStateDir).orNull
    savedChunks = Option(mountedBase)
      .map(root => new SavedState.ChunkParts(s"$root/chunks")).orNull
    Option(mountedBase).foreach { root =>
      SavedState.readCatalog(s"$root/catalog").foreach { n =>
        cachePut(n)
        if (n.isFile)
          payloads.put(n.path, new Payload(n.path, n.path, List(savedChunks.dir)))
      }
      applyDeltas(store.deltaDirs())
    }
    if (inodeCache.get("/") == null)
      cachePut(FsCatalog.dirInode("/", ctx.cwd.split("/").last))
  }

  /** Replay the committed deltas past [[appliedSeq]] in sequence order:
    * tombstones, then upserts (missing ancestors synthesized), then
    * payload references. Caller holds [[mutLock]] or is initialize.
    */
  private def applyDeltas(deltas: Seq[(Long, java.nio.file.Path)]): Unit =
    deltas.foreach { case (seq, dir) =>
      if (seq > appliedSeq) {
        val d = store.delta(dir)
        d.tombstones.foreach { p =>
          subtreePaths(p).foreach(cacheDrop)
          payloadSubtree(p).foreach(e => dropPayload(e._1))
        }
        d.upserts.foreach { n =>
          PathOps.ancestors(Option(n.parentPath).getOrElse("/")).reverse
            .foreach { a =>
              if (inodeCache.get(a) == null)
                cachePut(FsCatalog.dirInode(a, "graft"))
            }
          cachePut(n)
        }
        d.refs.foreach { r =>
          dropPayload(r.path)
          payloads.put(r.path,
            new Payload(r.key, r.path, r.files.map(store.source).toList))
        }
        appliedSeq = seq
      }
    }

  /** Executor-mode freshness: before a stat/open/listing answers, apply
    * the deltas committed since the last look — this is what lets a
    * long-lived executor JVM see files a driver committed AFTER the
    * executor's mount initialized; a compaction since then (a new base
    * version) rebuilds the cache. Driver mounts skip it (their own cache
    * and payload index are authoritative).
    */
  private def executorRefresh(): Unit =
    if (executorMode && store != null) {
      val base = GraftShellMain.currentStateDir(stateDir).orNull
      val deltas = store.deltaDirs()
      withMutLock(if (base != mountedBase) bootstrap() else applyDeltas(deltas))
    }

  /** READ-ONLY executor mode: no SparkSession in this JVM (or forced
    * via `graft.mount.executor.mode`) — metadata answers from the
    * saved catalog plus the live wal, payload reads go through
    * [[SavedState]], and every mutation fails loudly. A REMOTE executor
    * can open() and read saved and committed payloads with zero driver
    * involvement.
    */
  private var executorMode = false

  /** True when `graft.mount.executor.mode` was SET at initialize —
    * such a mount never lazily upgrades (the conf is the contract);
    * only the implicit no-session-at-initialize case does.
    */
  private var executorForced = false

  private val chunkRowSchema = StructType(Seq(
    StructField("path", StringType),
    StructField("block_id", IntegerType),
    StructField("sub_id", IntegerType),
    StructField("block_offset", LongType),
    StructField("offset", LongType),
    StructField("data", BinaryType),
    StructField("length", LongType)))

  private val keyMapSchema = StructType(Seq(
    StructField("key", StringType), StructField("cur", StringType)))

  // children / emptiness / subtree ops answer from [[childIndex]] —
  // O(children) / O(1) / O(subtree), never a full-cache scan
  private def cacheChildren(p: String): Seq[Inode] = {
    val kids = childIndex.get(p)
    if (kids == null) Seq.empty
    else {
      val out = Seq.newBuilder[Inode]
      val it = kids.iterator()
      while (it.hasNext) cached(it.next()).foreach(out += _)
      out.result()
    }
  }

  private def cacheHasChildren(p: String): Boolean = {
    val kids = childIndex.get(p)
    kids != null && !kids.isEmpty
  }

  /** Serializes each verb's read-modify-write state transition.
    * Hadoop's FileSystem cache hands EVERY thread in the JVM this one
    * instance — under a drop-in mount (`fs.graftfs.impl` +
    * `spark.read`/`df.write` on a `graftfs://` URI), local-mode write
    * tasks and the output committer call create/mkdirs/rename
    * concurrently, and two interleaved read → transform → write
    * sequences would silently lose one task's update. Every hold is
    * pure memory except a committing mount's commit — one small
    * metadata delta, written under the hold so commits land in the
    * order the verbs applied; payload I/O always runs with the lock
    * released. Across JVMs, commits serialize on the state's namespace
    * lock (SharedStateStore).
    */
  private val mutLock = new java.util.concurrent.locks.ReentrantLock()

  /** Signalled whenever a fold publishes or returns a sealed batch. */
  private val foldDone = mutLock.newCondition()

  /** Wait for [[foldDone]]; caller holds [[mutLock]]. */
  private def awaitFold(): Unit =
    try foldDone.await()
    catch {
      case _: InterruptedException =>
        Thread.currentThread().interrupt()
        throw new java.io.InterruptedIOException(
          "graftfs mount: interrupted while waiting for a fold")
    }

  /** Mutation-lock acquisition timeout (ms), settable via the Hadoop
    * conf key `graft.mount.lock.timeout.ms`. */
  private def lockTimeoutMs: Long =
    Option(getConf).map(_.getLong("graft.mount.lock.timeout.ms", 120000L))
      .getOrElse(120000L)

  /** Acquire the mutation lock with a TIMEOUT instead of blocking
    * forever: lock holds are pure memory, so a verb that cannot take
    * the lock inside the timeout is facing a wedged holder, and a LOUD
    * IOException beats an infinite hang.
    */
  private def withMutLock[T](f: => T): T = {
    // an interrupt while waiting (Spark killing a task mid-verb) must
    // surface through the FileSystem contract's IOException channel —
    // a raw InterruptedException would skip IOException handlers and
    // lose the interrupt flag
    val acquired =
      try mutLock.tryLock(lockTimeoutMs,
        java.util.concurrent.TimeUnit.MILLISECONDS)
      catch {
        case _: InterruptedException =>
          Thread.currentThread().interrupt()
          throw new java.io.InterruptedIOException(
            "graftfs mount: interrupted while waiting for the mutation lock")
      }
    if (!acquired)
      throw new IOException(
        s"graftfs mount: mutation lock not acquired within ${lockTimeoutMs} ms" +
          " — another verb holding it is wedged")
    try f finally mutLock.unlock()
  }

  private def session: Option[SparkSession] =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)

  /** SnackFS.initialize:51-72 — derive scheme://authority, seat cwd at
    * /user/<user>, bootstrap the namespace (root inode, or a saved
    * state plus its wal), read the block geometry from the
    * Configuration (SnackFSConfiguration.scala:41-42 analog).
    */
  override def initialize(uri: URI, conf: Configuration): Unit = {
    super.initialize(uri, conf)
    setConf(conf)
    ctx = FsContext.initialize(uri.toString,
      Option(System.getProperty("user.name")).getOrElse("graft"))
    // precedence: explicit Hadoop conf key (the core-site.xml analog) →
    // session-level spark.graft.* key (GraftConfig), when this JVM has
    // a session → built-in default
    val (dfltSub, dfltBlock) = session.map(GraftConfig.geometry)
      .getOrElse((DataPlane.DefaultSubBlock, DataPlane.DefaultBlock))
    subBlockSize = conf.getInt("graft.subblock.size", dfltSub)
    blockSize = conf.getInt("graft.block.size", dfltBlock)
    require(subBlockSize > 0 && blockSize % subBlockSize == 0,
      "graft.block.size must be a positive multiple of graft.subblock.size")
    FoldBytes = conf.getLong("graft.mount.fold.bytes", 64L << 20)
    require(FoldBytes > 0, "graft.mount.fold.bytes must be positive")
    maxInodes = conf.getLong("graft.mount.max.inodes", 10_000_000L)
    require(maxInodes > 0, "graft.mount.max.inodes must be positive")
    // executor mode: forced by conf (tests, explicit read-only
    // consumers) or implied by a JVM with no session — the
    // remote-executor situation the §8 narrowing documents
    executorForced = conf.getBoolean("graft.mount.executor.mode", false)
    executorMode = executorForced || session.isEmpty
    stateDir = conf.get("graft.mount.state.dir")
    val saved = Option(stateDir).flatMap(GraftShellMain.currentStateDir)
    if (executorMode && saved.isEmpty)
      throw new IOException(
        "graftfs executor-mode mount (no SparkSession in this JVM) needs " +
          "graft.mount.state.dir pointing at a persisted state — an empty " +
          "mount has nothing an executor could read without the driver")
    writeThroughEnabled = conf.getBoolean("graft.mount.write.through", true)
    // saved-state bootstrap is SESSION-FREE (plain parquet readers): the
    // saved catalog plus every delta committed by ANY writer of this
    // state — earlier sessions, concurrent drivers, the CLI — so a fresh
    // mount sees the complete namespace, not only the last compaction
    store = saved.map(_ => new SharedStateStore(stateDir)).orNull
    bootstrap()
  }

  /** Loud single-sided failure for mutations on a read-only
    * executor-mode mount (the supported side is reads — see
    * [[executorMode]]) — unless the mode was IMPLICIT (no session at
    * initialize, not forced by conf) and a session has since appeared:
    * then the mount upgrades in place (the mount-before-session case:
    * Hadoop's FileSystem cache decides the mode once at initialize) and
    * the mutation proceeds. Callers hold [[mutLock]].
    */
  private def mutGuard(): Unit =
    if (executorMode) {
      // forced-at-initialize is the contract (a later conf mutation on
      // the shared Configuration object must not flip a read-only
      // mount); only the IMPLICIT no-session-yet case upgrades
      if (!executorForced && session.isDefined) executorMode = false
      else
        throw new IOException(
          "graftfs executor-mode mount is READ-ONLY — mutations must run " +
            "on the driver (this JVM has no SparkSession; it serves the " +
            "mounted saved generation). If this JVM IS meant to be the " +
            "driver: the mode is decided at initialize and cached by " +
            "Hadoop's FileSystem cache, so create the SparkSession " +
            "BEFORE first touching a graftfs:// URI — or simply retry " +
            "this mutation after creating it (the mount upgrades lazily " +
            "once a session exists)")
    }

  /** The metadata cache, for consistency specs. */
  private[fs] def metadataSnapshot: Map[String, Inode] = {
    val b = Map.newBuilder[String, Inode]
    inodeCache.forEach((k, v) => b += k -> v)
    b.result()
  }

  // ── Inode-level reads for the shell's namespace verbs: the cache under
  //    mutLock (see getFileStatus), paths verbatim, results unordered;
  //    `subtree` is `p` (if present) and descendants to `depth` levels ──
  private[fs] def inode(p: String): Option[Inode] = withMutLock(cached(p))
  private[fs] def children(p: String): Seq[Inode] = withMutLock(cacheChildren(p))
  private[fs] def subtree(p: String, depth: Int = Int.MaxValue): Seq[Inode] =
    withMutLock(subtreePaths(p, depth).flatMap(cached))

  override def getUri: URI = ctx.uri

  override def getWorkingDirectory: Path = new Path(ctx.cwd)

  override def setWorkingDirectory(dir: Path): Unit =
    // strip the scheme like every other entry point — qualified paths
    // (the norm from getHomeDirectory/listStatus) must not join under cwd
    ctx = ctx.withWorkingDir(stripScheme(dir))

  override def getDefaultBlockSize: Long = blockSize.toLong

  /** (subblock, block) sizes this mount chunks and reads at. */
  private[fs] def geometry: (Int, Int) = (subBlockSize, blockSize)

  private def abs(p: Path): String = ctx.makeAbsolute(stripScheme(p))

  private def stripScheme(p: Path): String = {
    val u = p.toUri
    if (u.getPath == null || u.getPath.isEmpty) "/" else u.getPath
  }

  // status paths must come back FULLY QUALIFIED (scheme + authority) —
  // the FileSystem contract Spark's file index depends on: an
  // unqualified "/csv/f" from listStatus would be re-resolved against
  // the DEFAULT filesystem and a drop-in `spark.read` would silently
  // look for the file on file:// instead of back through this mount
  private def statusRow(n: Inode): FileStatus =
    new FileStatus(n.length, n.isDir, 3, blockSize.toLong,
      n.mtime.getTime, makeQualified(new Path(n.path)))

  // ── A6: getFileStatus (FileStatusCommand; spec message verbatim) ──────
  //    Answered from the metadata cache — ACTION-FREE, callable from
  //    any task thread without a nested job (the committer calls this
  //    constantly during task commit). Reads take mutLock too: rename/
  //    recursive-delete rewrite the cache entry by entry, and a
  //    lock-free reader could catch a mid-rename state where a live
  //    file exists at NEITHER path (spurious FileNotFound under the
  //    committer's concurrent task commits). Every lock hold is pure
  //    memory, so readers wait microseconds.
  override def getFileStatus(path: Path): FileStatus = {
    executorRefresh() // live wal view for executor mounts
    withMutLock {
      cached(abs(path))
        .map(statusRow)
        .getOrElse(throw new FileNotFoundException("No such file exists"))
    }
  }

  // ── A9: listStatus — dir lists children, file lists itself (cache;
  //    locked against mid-rename partial states, see getFileStatus) ─────
  override def listStatus(path: Path): Array[FileStatus] = {
    executorRefresh() // live wal view for executor mounts
    withMutLock {
      val p = abs(path)
      val node = cached(p)
        .getOrElse(throw new FileNotFoundException("No such file exists"))
      if (node.isFile) Array(statusRow(node))
      else cacheChildren(p).sortBy(_.path).map(statusRow).toArray
    }
  }

  // ── A5: mkdirs — ancestor AND-fold; exists-as-file → false, answered
  //    against the cache alone — action-free. ───────────────────────────
  override def mkdirs(path: Path, permission: FsPermission): Boolean =
    withMutLock {
      mutGuard()
      val p = abs(path)
      val made = PathOps.ancestors(p).filter(l => cached(l).isEmpty)
      if (made.nonEmpty)
        commit("mkdirs", p, made.map(FsCatalog.dirInode(_, "graft")), Nil, Nil)
      cachedMkdirs(p)
    }

  /** The mkdirs ancestor AND-fold against the cache (FsCatalog
    * .mkdirsWith documents the shared semantics: exists-as-file → false
    * without overwrite, missing → create, no short-circuit).
    * `createOnFailure = true` is the A5 verb's reference semantics
    * (missing levels are created even when the fold answers false —
    * MakeDirectoryCommand.scala:74); create() passes false so a FAILED
    * create leaves no trace in the cache (a cache that kept the phantom
    * dirs would corrupt state on a reported failure). Caller holds
    * [[mutLock]].
    */
  private def cachedMkdirs(p: String,
                           createOnFailure: Boolean = true): Boolean = {
    val levels = PathOps.ancestors(p)
    val ok = levels.forall(l => cached(l).forall(_.isDir))
    if (ok || createOnFailure) {
      levels.filter(l => cached(l).isEmpty)
        .foreach(l => cachePut(FsCatalog.dirInode(l, "graft")))
      noteInodeGrowth()
    }
    ok
  }

  // ── A3: create — the reference's streaming cadence (CreateFileCommand
  //    + FileSystemOutputStream.scala:55-143): parents made up front,
  //    an empty inode stored immediately, then each filled subblock
  //    flushes as ONE chunk row (endSubBlock :89-101) and every closed
  //    block re-commits the inode (endBlock :103-120). At most one
  //    subblock (8 MB default) is ever buffered per stream — no
  //    whole-file ByteArrayOutputStream, no driver-heap ceiling. ────────
  override def create(path: Path, permission: FsPermission,
                      overwrite: Boolean, bufferSize: Int,
                      replication: Short, blkSize: Long,
                      progress: Progressable): FSDataOutputStream = withMutLock {
    mutGuard()
    // the whole create transition is cache-checked and in-memory: NO
    // Spark action runs on this (possibly task) thread
    val p = abs(path)
    val prior = cached(p)
    prior.foreach { existing =>
      if (existing.isDir) throw new IOException(s"$p is a directory")
      if (!overwrite) throw new IOException(s"File exists: $p")
    }
    // Hadoop create() makes missing parents; reuse the mkdirs fold —
    // and honor its verdict: a file on the ancestor chain means the
    // parent cannot be a directory (Hadoop throws here too)
    val parent = PathOps.parent(p)
    if (parent != null && !cachedMkdirs(parent, createOnFailure = false))
      throw new IOException(s"Parent path is not a directory: $parent")
    // store the empty inode NOW (CreateFileCommand.scala:79-83); an
    // overwrite drops the prior incarnation's payload entry, and the
    // new one gets a fresh key its rows can never share with another
    cachePut(inodeFor(p, parent, 0L))
    noteInodeGrowth()
    keySeq += 1
    val owner = new Payload(s"$p\u0000$keySeq", p, Nil)
    owner.open = true
    val replaced = payloads.put(p, owner)
    if (replaced != null) { replaced.live = false; dropDeadRows() }
    new FSDataOutputStream(new SubBlockStream(owner), statistics, 0L)
  }

  private def inodeFor(p: String, parent: String, len: Long): Inode =
    Inode(p, parent, ctx.cwd.split("/").last, "graft", 420,
      isDir = false, new Timestamp(1704067200000L),
      BlockMeta.forLength(p, len, subBlockSize, blockSize))

  /** The write path: buffers at most ONE subblock; a filled (or final
    * partial) buffer becomes one `(key, block_id, sub_id, …)` row —
    * the same geometry `DataPlane.chunk` produces, so catalog folds and
    * reassembly agree byte-for-byte. Mirrors the reference's
    * write/endSubBlock/endBlock/flush/close state machine, including
    * write-after-close and double-close behavior
    * (FileSystemOutputStream.scala:55-143: close is isClosed-guarded, a
    * second close is a no-op; writes after close throw "Stream closed").
    */
  private final class SubBlockStream(owner: Payload) extends OutputStream {
    // grows on demand up to one subblock, so an empty or small file
    // (-touchz, a committer marker) never allocates a whole subblock
    private var buf = new Array[Byte](math.min(subBlockSize, 4096))
    private var used = 0
    private var written = 0L
    private var isClosed = false
    // true while a flush()-persisted PARTIAL copy of the current
    // subblock sits in pending; the next persist of the same
    // (block_id, sub_id) cell replaces it
    private var partialFlushed = false

    private def reserve(n: Int): Unit =
      if (used + n > buf.length) buf = java.util.Arrays.copyOf(buf,
        math.min(subBlockSize, math.max(used + n, buf.length * 2)))

    override def write(b: Int): Unit = {
      ensureOpen()
      reserve(1)
      buf(used) = b.toByte
      used += 1
      if (used == subBlockSize) endSubBlock()
    }

    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      ensureOpen()
      var o = off
      var rem = len
      while (rem > 0) {
        val n = math.min(rem, subBlockSize - used)
        reserve(n)
        System.arraycopy(b, o, buf, used, n)
        used += n; o += n; rem -= n
        if (used == subBlockSize) endSubBlock()
      }
    }

    private def ensureOpen(): Unit =
      if (isClosed) throw new IOException("Stream closed")

    // persist the CURRENT (possibly partial) buffer as one pending row
    // at its (block_id, sub_id) cell — every persisted subblock before
    // the current one is FULL, so the running byte count determines the
    // cell; a previously flush()-persisted partial copy is replaced (it
    // never folds, so it is always still pending). Folds once the
    // complete pending rows reach FoldBytes — outside the lock.
    private def persistSubBlock(partial: Boolean): Unit = {
      val idx = written / subBlockSize
      val sbPerBlock = blockSize / subBlockSize
      val blockId = (idx / sbPerBlock).toInt
      val subId = (idx % sbPerBlock).toInt
      val due = withMutLock {
        if (partialFlushed) {
          val i = pending.indexWhere(m => (m.owner eq owner) &&
            m.row.blockId == blockId && m.row.subId == subId)
          if (i >= 0) pending.remove(i)
        }
        if (owner.live) {
          pending += new MemRow(owner, SavedStateWriter.ChunkRow(owner.key,
            blockId, subId, blockId.toLong * blockSize,
            subId.toLong * subBlockSize, java.util.Arrays.copyOf(buf, used)),
            partial)
          if (!partial) pendingBytes += used
        }
        pendingBytes >= FoldBytes
      }
      if (due) fold(_ => true)
    }

    private def endSubBlock(): Unit = {
      if (used == 0) return
      persistSubBlock(partial = false)
      partialFlushed = false
      written += used
      used = 0
      // endBlock: a block boundary just closed → re-commit the inode
      // with every block written so far (the reference re-stores the
      // whole INode per block, FileSystemOutputStream.scala:103-120)
      if (written % blockSize == 0) commitInode()
    }

    // metadata is the cache, so an inode commit is a pure map write, at
    // the file's current path; a file deleted or replaced under the
    // stream stays gone
    private def commitInode(): Unit = withMutLock {
      if (owner.live) cachePut(
        inodeFor(owner.path, PathOps.parent(owner.path), written + used))
    }

    /** Flush persists the buffered partial subblock so flushed bytes
      * are durable before close. DELIBERATE DIVERGENCE from the
      * reference (FileSystemOutputStream.scala:122-130), not a mirror:
      * the reference SEALS the subblock on flush (subsequent bytes
      * start a new subblock), defers the inode store to a block
      * boundary/close (so flushed bytes are durable but not yet
      * reader-visible via metadata), and throws IOException("Stream
      * closed") on a closed stream. Graft instead keeps filling the
      * same subblock (the next persist replaces the partial copy —
      * chunk geometry stays self-consistent instead of fragmenting per
      * flush), re-commits the inode at the flushed length
      * (HDFS-hflush-like read visibility), and no-ops when closed
      * (FilterOutputStream wrappers call flush() from a second close(),
      * which must stay harmless). Spec-pinned in the facade suite.
      */
    override def flush(): Unit = {
      if (isClosed || used == 0) return
      persistSubBlock(partial = true)
      partialFlushed = true
      commitInode()
    }

    /** On a committing mount, close also commits the file at its
      * current path (a rename may have moved it meanwhile): its
      * still-pending rows fold into one more data file (written outside
      * the lock and then served from there), and one delta holds the
      * inode plus references to every file holding its rows. */
    override def close(): Unit = {
      if (isClosed) return
      endSubBlock()
      commitInode()
      isClosed = true
      if (committing) {
        fold(_.owner eq owner, owner)
        withMutLock {
          if (owner.live) {
            val p = owner.path
            commit("close", p, cached(p).toSeq, Nil, Seq(p -> owner))
            owner.sources.foreach(unnamed -= _)
          }
          owner.open = false
        }
      }
    }
  }

  // ── A2: open — error matrix verbatim (OpenFileCommand.scala:27-37 via
  //    SnackFSSpec:82-97). Reads are BLOCK-cached, not whole-file: the
  //    stream fetches only the ≤blockSize block covering the current
  //    position (pruned at the parquet reader by (key, block_id)) and
  //    keeps exactly one block resident — the reference's own read shape
  //    (FileSystemInputStream loads one BlockInputStream at a time,
  //    :60-76), so a file larger than driver heap still reads. ─────────
  override def open(path: Path, bufferSize: Int): FSDataInputStream = {
    val p = abs(path)
    executorRefresh() // live wal view for executor mounts
    val node = withMutLock(cached(p))
      .getOrElse(throw new IOException("No such file."))
    if (node.isDir) throw new IOException(s"Path $path is a directory.")
    new FSDataInputStream(new BlockCachedStream(p, node.length))
  }

  /** Seekable + positioned-readable view that materializes ONE block at
    * a time. Geometry is fixed per filesystem instance, so the block
    * covering a position is `pos / blockSize`.
    *
    * The block map (fileLen) snapshots at open; payload fetches resolve
    * the path through the LIVE payload index — the reference's exact
    * split (FileSystemInputStream loads the INode once at open, then
    * pulls each block from the store on demand). A file deleted or
    * truncated under an open stream therefore fails the next block
    * fetch with IOException, the analog of the reference's store
    * NotFoundException — never a silent wrong read, an index crash, or
    * a stuck loop. One documented divergence: block lookups are
    * path-stable (the reference keys blocks by fresh UUIDs), so an
    * overwrite that keeps a block at least as long serves the NEW bytes
    * to an already-open stream instead of failing.
    */
  private final class BlockCachedStream(p: String, fileLen: Long)
    extends java.io.InputStream
    with org.apache.hadoop.fs.Seekable
    with org.apache.hadoop.fs.PositionedReadable {

    private var pos = 0L
    private var cachedId = -1L
    private var cached: Array[Byte] = Array.emptyByteArray

    // ALL public entry points below synchronize on the stream: Hadoop's
    // PositionedReadable contract allows CONCURRENT preads on one open
    // stream (vectored IO does exactly that), and the one-block cache
    // (cached/cachedId) plus pos are shared state — an unsynchronized
    // interleaving could copy block B's bytes at block A's offsets into
    // a caller's buffer. One block cache per stream stays the memory
    // contract; concurrent preads serialize (correctness first — a
    // parallel-read client opens multiple streams).
    private def blockAt(id: Long, needUpTo: Long): Array[Byte] = {
      // a block miss snapshots the payload entry's in-memory rows and
      // source list under the lock, then reads the sources with the
      // lock released: session-free parquet I/O, no Spark job — so any
      // thread, including a task of a core-saturating job, can read
      if (id != cachedId) {
        val (mem, key, sources) = withMutLock {
          val owner = payloads.get(p)
          if (owner == null) (Nil, null, Nil)
          else (memRows(owner, id.toInt), owner.key, owner.sources)
        }
        cached = SavedState.assemble(
          mem ++ sources.flatMap(sourceRows(_, key, id)))
        cachedId = id
      }
      if (cached.length < needUpTo)
        throw new IOException(
          s"Block $id of $p no longer holds byte ${id * blockSize + needUpTo - 1}" +
            " — file deleted or replaced under an open stream")
      cached
    }

    override def read(): Int = synchronized {
      if (pos >= fileLen) -1
      else {
        val inBlock = (pos % blockSize).toInt
        val b = blockAt(pos / blockSize, inBlock + 1)(inBlock) & 0xFF
        pos += 1
        b
      }
    }

    // serve up to the current block's end; callers (readFully, IOUtils)
    // loop — matching InputStream's may-return-fewer contract
    override def read(buf: Array[Byte], off: Int, len: Int): Int = synchronized {
      if (len == 0) return 0
      if (pos >= fileLen) return -1
      val inBlock = (pos % blockSize).toInt
      val block = blockAt(pos / blockSize, inBlock + 1)
      // clamp to the open-time snapshot length too: if the file was
      // overwritten LONGER under this stream, the live block can hold
      // more bytes than the snapshot — never serve past fileLen
      val n = math.min(math.min(len, block.length - inBlock).toLong,
        fileLen - pos).toInt
      System.arraycopy(block, inBlock, buf, off, n)
      pos += n
      n
    }

    override def seek(target: Long): Unit = synchronized {
      if (target < 0 || target > fileLen)
        throw new IOException(s"seek past end: $target")
      pos = target
    }
    override def getPos: Long = synchronized(pos)
    override def seekToNewSource(targetPos: Long): Boolean = false

    override def read(position: Long, buffer: Array[Byte], offset: Int,
                      length: Int): Int = synchronized {
      if (length == 0) return 0 // zero-byte read is a no-op even at EOF
      if (position >= fileLen) return -1
      var copied = 0
      var at = position
      while (copied < length && at < fileLen) {
        val inBlock = (at % blockSize).toInt
        // blockAt throws if the block shrank — the loop can never stall
        val block = blockAt(at / blockSize, inBlock + 1)
        val n = math.min(math.min(length - copied, block.length - inBlock).toLong,
          fileLen - at).toInt
        System.arraycopy(block, inBlock, buffer, offset + copied, n)
        copied += n
        at += n
      }
      copied
    }
    override def readFully(position: Long, buffer: Array[Byte], offset: Int,
                           length: Int): Unit = {
      if (read(position, buffer, offset, length) < length)
        throw new IOException("readFully past EOF")
    }
    override def readFully(position: Long, buffer: Array[Byte]): Unit =
      readFully(position, buffer, 0, buffer.length)
  }

  // ── A7: delete — cascades to the payload index; the error matrix is
  //    settled against the cache — action-free. A committing mount
  //    commits one tombstone for the whole subtree. ────────────────────
  override def delete(path: Path, recursive: Boolean): Boolean =
    withMutLock {
      mutGuard()
      val p = abs(path)
      cached(p) match {
        case None => false
        case Some(node) =>
          if (node.isDir && cacheHasChildren(p) && !recursive)
            throw new IOException("Directory is not empty")
          commit("delete", p, Nil, Seq(p), Nil)
          subtreePaths(p).foreach(cacheDrop)
          val doomed = payloadSubtree(p)
          doomed.foreach { case (c, _) => dropPayload(c) }
          if (doomed.nonEmpty) dropDeadRows()
          true
      }
    }

  // ── A8: rename — preconditions from the cache, then pure map
  //    re-keying of the cache and the payload index (the committer's
  //    commit dance runs this from task threads) — action-free. A
  //    committing mount commits the move as one delta: a tombstone for
  //    the source subtree, the moved inodes, and the moved files'
  //    payload references, re-pointed — no byte is copied. ─────────────
  override def rename(src: Path, dst: Path): Boolean =
    withMutLock {
      mutGuard()
      val s = abs(src)
      val d = abs(dst)
      if (s == d) true
      else {
        if (cached(s).isEmpty)
          throw new IOException(s"No such file or directory.$s")
        if (cached(d).isDefined)
          throw new IOException("Destination already exists")
        val dstParent = PathOps.parent(d)
        if (dstParent != null) {
          val parentNode = cached(dstParent).getOrElse(throw new IOException(
            s"Destination $dstParent directory does not exist."))
          if (parentNode.isFile)
            throw new IOException("A file exists with parent of destination.")
        }
        def moved(k: String) = d + k.substring(s.length)
        val paths = subtreePaths(s)
        val inodes = paths.flatMap(k => cached(k).map { n =>
          n.copy(path = moved(k), parentPath = PathOps.parent(moved(k)))
        })
        // rows carry immutable keys, so the move is entry re-keying only;
        // a file not yet committed by its close stays out of the delta
        val files = payloadSubtree(s)
        val (open, done) = files.partition(_._2.open)
        val unsettled = open.map(e => moved(e._1)).toSet
        commit("rename", s, inodes.filterNot(n => unsettled(n.path)), Seq(s),
          done.map { case (c, owner) => moved(c) -> owner })
        paths.foreach(cacheDrop)
        inodes.foreach(cachePut)
        files.foreach { case (c, owner) =>
          payloads.remove(c)
          owner.path = moved(c)
          payloads.put(owner.path, owner)
        }
        true
      }
    }

  // ── A4: append always throws — IOException, the reference's exact
  //    type (AppendFileCommand.scala:38-40), so client code catching
  //    IOException around append sees the reference behavior ────────────
  override def append(path: Path, bufferSize: Int,
                      progress: Progressable): FSDataOutputStream =
    throw new IOException("Appending to existing file is not supported.")

  // ── A10: getFileBlockLocations — the reference overrides this so
  //    Hadoop/Spark schedulers see real replica hosts (SnackFS.scala:
  //    135-153: prune blocks ending before `start`, then map each block
  //    to its ring endpoints as hosts + host:port names). Delegates to
  //    the catalog op that is already oracle-green (fs_block_locations),
  //    filtered to the exact path (the catalog op takes a prefix). ─────
  override def getFileBlockLocations(file: FileStatus, start: Long,
                                     len: Long): Array[BlockLocation] = {
    if (file == null) return null
    if (start < 0 || len < 0)
      throw new IllegalArgumentException("Invalid start or len parameter")
    val p = abs(file.getPath)
    // the cache-resident inode carries the full block map, so the
    // SAME projection the catalog op runs (prune blocks ending before
    // `start`, ascii-of-first-id-char ring owner, three replica
    // hosts — FsCatalog.blockLocations) computes in pure memory;
    // action-free for scheduler calls that arrive inside tasks. The
    // distributed twin stays oracle-green (fs_block_locations,
    // fs_dsv2_scan).
    withMutLock(cached(p)).toArray.flatMap(n => Option(n.blocks).getOrElse(Seq.empty)
      .filter(b => b.offset + b.length >= start)
      .map { b =>
        val owner = b.id.charAt(0).toInt % 3
        val hosts = Array(s"node-$owner", s"node-${(owner + 1) % 3}",
          s"node-${(owner + 2) % 3}")
        new BlockLocation(hosts.map(h => s"$h:9160"), hosts,
          b.offset, b.length)
      })
  }

  /** Current (catalog, chunks) snapshot, for tests and interop with the
    * query layer, in CURRENT-path space. The catalog derives from the
    * inode cache; the chunks are built on demand from the in-memory
    * rows plus one parquet scan per payload source, joined to the
    * (key → current path) pairs of the entries it serves — lazy, no
    * checkpoint, plan depth bounded by the number of sources. The
    * snapshot may read the mount's segment files, or the fold files of
    * files not yet committed, which close() deletes: it must not outlive
    * its mount.
    */
  def graftFs: GraftFs = {
    val s = session.getOrElse(throw new IllegalStateException(
      "GraftFileSystem.graftFs needs an active SparkSession"))
    val (inodes, mem, bySource) = withMutLock {
      val cur = new java.util.IdentityHashMap[Payload, String]()
      val bySource = scala.collection.mutable.TreeMap.empty[String, ArrayBuffer[Row]]
      payloads.forEach { (p, owner) =>
        cur.put(owner, p)
        owner.sources.foreach(src =>
          bySource.getOrElseUpdate(src, ArrayBuffer.empty) += Row(owner.key, p))
      }
      val mem = new java.util.ArrayList[Row]()
      (pending.iterator ++ sealedBatches.iterator.flatten).foreach { m =>
        val p = cur.get(m.owner)
        if (p != null) {
          val r = m.row
          mem.add(Row(p, r.blockId, r.subId, r.blockOffset, r.offset, r.data,
            r.data.length.toLong))
        }
      }
      val values = Seq.newBuilder[Inode]
      inodeCache.values.forEach(values += _)
      (values.result(), mem, bySource.toSeq)
    }
    val catalog = FsCatalog(s.createDataset(inodes)(FsCatalog.inodeEncoder))
    val fromSources = bySource.map { case (src, keys) =>
      val keyMap = s.createDataFrame(
        java.util.Arrays.asList(keys.toSeq: _*), keyMapSchema)
      s.read.schema(chunkRowSchema).parquet(src)
        .join(keyMap, col("path") === col("key"))
        .select(col("cur").as("path") +:
          chunkRowSchema.fieldNames.toSeq.tail.map(col): _*)
    }
    val chunks: DataFrame = fromSources.foldLeft(
      s.createDataFrame(mem, chunkRowSchema))(_ unionByName _)
    GraftFs(catalog, chunks)
  }

  /** Counterpart of [[graftFs]], kept for callers that bracket their
    * snapshots: a snapshot holds no checkpoint, so there is nothing to
    * release. */
  def releaseSnapshot(snapshot: GraftFs): Unit = ()

  override def close(): Unit = {
    // a non-committing mount's segments are private: they go with the
    // mount (snapshots reading them must not outlive it — graftFs
    // scaladoc); a committing mount's fold files are the state's, except
    // those no commit named
    val (dir, garbage) = withMutLock {
      val d = segmentDir; segmentDir = null
      val g = unnamed.toList; unnamed.clear()
      (d, g)
    }
    if (dir != null) graft.PlanHygiene.deleteRecursively(dir)
    garbage.foreach(f => java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(f)))
    super.close()
  }
}
