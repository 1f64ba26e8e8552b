package graft.catalog

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.util.UUID

/** B12, the CROSS-PROCESS binding — closes the driver-local narrowing
  * of [[FileLocks]] for multi-driver deployments sharing a filesystem.
  *
  * The reference's create-lock protocol exists because Cassandra has
  * no atomic create: each contender inserts a time-UUID column valued
  * processId into the `createlock` row, reads the row back, and the
  * owner of the FIRST column wins (`isCreator`,
  * reference ThriftStore.scala:607-734, algorithm comment 607-622,
  * winner check 655-671); release deletes the row. A shared
  * filesystem HAS an atomic create primitive (`O_CREAT|O_EXCL` —
  * `Files.createFile` throws when the file exists), so the protocol
  * re-expresses as one atomic operation instead of an
  * insert-read-compare dance: the `createlock` CF row becomes a lock
  * FILE keyed by the path hash, the winning contender is whoever's
  * exclusive create succeeds, and the column value (processId) becomes
  * the file's content (token + pid) so release can verify ownership
  * exactly like the reference's token check.
  *
  * Deployment contract (documented, same class as the reference's
  * QUORUM assumption): the lock root must live on storage where
  * exclusive create is atomic and read-after-write visible — local
  * POSIX, NFSv4, most DFS namenodes. Crash-leaked locks are the same
  * liability as the reference's leaked columns; [[breakStale]] is the
  * operator's recovery verb (age-gated, never automatic).
  */
object SharedFileLocks {

  private def lockFile(root: String, path: String): Path = {
    // path-keyed row name: md5-hex like the reference's getPathKey
    // (ThriftStore.scala:243-247) — filesystem-safe, collision-free in
    // practice, and stable across processes
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(path.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    Paths.get(root, s"$hex.lock")
  }

  private def pid: Long =
    try ProcessHandle.current().pid() catch { case _: Throwable => -1L }

  /** One atomic exclusive-create attempt: the winner gets the token,
    * every concurrent or later contender gets None until release —
    * across PROCESSES, not just threads.
    */
  def acquire(root: String, path: String): Option[UUID] = {
    val f = lockFile(root, path)
    val token = UUID.randomUUID()
    try {
      // createDirectories INSIDE the try: an unreachable/read-only lock
      // root must read as held (None), never throw past the contender
      Files.createDirectories(f.getParent)
      Files.write(f, s"$token $pid\n".getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
      Some(token)
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => None
      case _: java.io.IOException => None // unreachable root reads as held
    }
  }

  /** Blocking acquire with bounded spin — the mutation-bracket shape a
    * store binding needs (every reference client blocks on the create
    * lock the same way: retry until the winning column is yours,
    * ThriftStore.scala:607-734). Polls every `pollMs` up to
    * `timeoutMs`; None on timeout, never an exception.
    */
  def acquireBlocking(root: String, path: String, timeoutMs: Long = 60000,
                      pollMs: Long = 5): Option[UUID] = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var got = acquire(root, path)
    while (got.isEmpty && System.nanoTime() < deadline) {
      Thread.sleep(pollMs)
      got = acquire(root, path)
    }
    got
  }

  /** Release succeeds only with the winning token (the reference's
    * ownership check before delete). The check-then-delete is ATOMIC
    * against contenders: the lock file is first atomically MOVED to a
    * releaser-private name (claiming whatever file currently holds the
    * lock name), then verified — ours deletes, someone else's moves
    * straight back. The restore closes the old read-check-then-delete
    * window where a breakStale + re-acquire between the two steps let
    * a releaser delete a third process's fresh lock.
    */
  def release(root: String, path: String, token: UUID): Boolean = {
    val f = lockFile(root, path)
    val claimed = f.resolveSibling(
      s".${f.getFileName}.rel.${UUID.randomUUID()}")
    try {
      // cheap ownership pre-check (the common miss answers without a move)
      val content = new String(Files.readAllBytes(f), StandardCharsets.UTF_8)
      if (!content.startsWith(token.toString)) return false
      Files.move(f, claimed, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      val moved = new String(Files.readAllBytes(claimed),
        StandardCharsets.UTF_8)
      if (moved.startsWith(token.toString)) { Files.delete(claimed); true }
      else {
        // the name held someone ELSE's lock by the time we moved (a
        // breakStale broke ours and a contender re-acquired): restore it
        try Files.move(claimed, f,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        catch { case _: java.io.IOException => Files.delete(claimed) }
        false
      }
    } catch { case _: java.io.IOException => false }
  }

  def isLocked(root: String, path: String): Boolean =
    Files.exists(lockFile(root, path))

  /** Operator recovery for a crash-leaked lock: break it only when it
    * is older than `olderThanMs` (never silently steal a live lock).
    * Same atomic move-then-verify discipline as [[release]]: the age
    * check re-runs on the CLAIMED file (mtime travels with the atomic
    * move), so a fresh lock acquired between the first stat and the
    * move is detected and restored instead of deleted — the guard that
    * makes this verb safe to automate, not only operator-driven.
    */
  def breakStale(root: String, path: String, olderThanMs: Long): Boolean = {
    val f = lockFile(root, path)
    val claimed = f.resolveSibling(
      s".${f.getFileName}.brk.${UUID.randomUUID()}")
    def stale(p: Path): Boolean =
      System.currentTimeMillis() -
        Files.getLastModifiedTime(p).toMillis > olderThanMs
    try {
      if (!stale(f)) return false
      Files.move(f, claimed, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      if (stale(claimed)) { Files.delete(claimed); true }
      else {
        // a contender re-acquired between the stat and the move — the
        // claimed file is a LIVE lock; put it back
        try Files.move(claimed, f,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        catch { case _: java.io.IOException => Files.delete(claimed) }
        false
      }
    } catch { case _: java.io.IOException => false }
  }

  /** Forkable contender (the multi-process spec's subject): argv =
    * (root, path, markerDir, contenders) → try one acquire, then drop a
    * marker file in `markerDir`; print `WON <token>` or `LOST`. The
    * winner holds the lock until `contenders` markers exist (every
    * contender has tried; capped at 30 s), so the outcome does not
    * depend on how far apart the JVMs start. Exit 0 either way — losing
    * is a protocol outcome, not an error.
    */
  def main(args: Array[String]): Unit = {
    val Array(root, path, markerDir, contenders) = args.take(4)
    val markers = Paths.get(markerDir)
    def markerCount(): Long = {
      val l = Files.list(markers)
      try l.count() finally l.close()
    }
    val won = acquire(root, path)
    Files.createFile(markers.resolve(UUID.randomUUID().toString))
    won match {
      case Some(token) =>
        println(s"WON $token")
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while (markerCount() < contenders.toLong && System.nanoTime() < deadline)
          Thread.sleep(20)
        release(root, path, token)
        println("RELEASED")
      case None => println("LOST")
    }
  }
}
