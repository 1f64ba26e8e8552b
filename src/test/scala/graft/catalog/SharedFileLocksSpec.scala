package graft.catalog

import java.util.UUID

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.must.Matchers

/** The CROSS-PROCESS lock protocol (reference ThriftStore.scala:
  * 607-734) — both halves: contract parity with the driver-local
  * [[FileLocks]] (same winner/token/release matrix through a shared
  * lock root), and the claim no in-JVM test can make — REAL
  * multi-process mutual exclusion, four forked JVMs contending on one
  * path with exactly one winner.
  */
class SharedFileLocksSpec extends AnyFlatSpec with Matchers {

  private def newRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-shared-locks").toString

  behavior of "SharedFileLocks (in-process contract parity)"

  it must "run the FileLocks winner/token matrix through the shared root" in {
    val root = newRoot()
    val tok = SharedFileLocks.acquire(root, "/docs/f1")
    tok.isDefined must be(true)
    SharedFileLocks.isLocked(root, "/docs/f1") must be(true)
    // held: every later contender loses (isCreator semantics)
    SharedFileLocks.acquire(root, "/docs/f1") must be(None)
    // a DIFFERENT path locks independently (path-keyed rows)
    val tok2 = SharedFileLocks.acquire(root, "/docs/f2")
    tok2.isDefined must be(true)
    // release needs the winning token
    SharedFileLocks.release(root, "/docs/f1", UUID.randomUUID()) must be(false)
    SharedFileLocks.isLocked(root, "/docs/f1") must be(true)
    SharedFileLocks.release(root, "/docs/f1", tok.get) must be(true)
    SharedFileLocks.isLocked(root, "/docs/f1") must be(false)
    // released: the next contender wins again
    SharedFileLocks.acquire(root, "/docs/f1").isDefined must be(true)
    SharedFileLocks.release(root, "/docs/f2", tok2.get) must be(true)
  }

  it must "read an unreachable lock root as held, never throw (r16 ADVICE)" in {
    // a file where the root directory should be: createDirectories
    // fails inside the try → None, matching the 'unreachable root reads
    // as held' contract the scaladoc promises
    val f = java.nio.file.Files.createTempFile("graft-lock-notadir", "")
    SharedFileLocks.acquire(f.toString, "/p") must be(None)
  }

  it must "block-acquire until the holder releases (store mutation bracket)" in {
    val root = newRoot()
    val tok = SharedFileLocks.acquire(root, "/mut")
    tok.isDefined must be(true)
    // a short-timeout contender times out to None, no exception
    SharedFileLocks.acquireBlocking(root, "/mut", timeoutMs = 50,
      pollMs = 5) must be(None)
    // release on another thread mid-wait: the blocked contender wins
    val releaser = new Thread(() => {
      Thread.sleep(100); SharedFileLocks.release(root, "/mut", tok.get); ()
    })
    releaser.start()
    val won = SharedFileLocks.acquireBlocking(root, "/mut",
      timeoutMs = 5000, pollMs = 5)
    releaser.join()
    won.isDefined must be(true)
    SharedFileLocks.release(root, "/mut", won.get) must be(true)
  }

  it must "release atomically: a third party's fresh lock survives the race" in {
    // the r16 TOCTOU: A holds, a breaker removes A's lock, C acquires,
    // then A's delayed release must NOT delete C's lock — the atomic
    // move-then-verify claims C's file, sees a foreign token, restores
    val root = newRoot()
    val a = SharedFileLocks.acquire(root, "/t").get
    Thread.sleep(5) // age past the 0 ms gate
    SharedFileLocks.breakStale(root, "/t", olderThanMs = 0) must be(true)
    val c = SharedFileLocks.acquire(root, "/t").get
    SharedFileLocks.release(root, "/t", a) must be(false) // A's stale release
    SharedFileLocks.isLocked(root, "/t") must be(true)    // C still holds
    SharedFileLocks.release(root, "/t", c) must be(true)
  }

  it must "break only STALE leaked locks, never live ones" in {
    val root = newRoot()
    val tok = SharedFileLocks.acquire(root, "/leaked")
    tok.isDefined must be(true)
    // a fresh lock is live — the age gate refuses
    SharedFileLocks.breakStale(root, "/leaked", olderThanMs = 60000) must be(false)
    SharedFileLocks.isLocked(root, "/leaked") must be(true)
    // aged past the gate (0 ms = anything qualifies) it breaks
    Thread.sleep(5)
    SharedFileLocks.breakStale(root, "/leaked", olderThanMs = 0) must be(true)
    SharedFileLocks.isLocked(root, "/leaked") must be(false)
  }

  behavior of "SharedFileLocks (forked multi-process contention)"

  it must "let exactly ONE of four concurrent JVMs win the create lock" in {
    val root = newRoot()
    // classpath: this build's classes + the spark jar dir (for
    // scala-library) — the same fork shape the shell's bin-script
    // specs use
    val classes = classOf[SharedFileLocks.type].getProtectionDomain
      .getCodeSource.getLocation.getPath
    val cp = s"$classes:/opt/spark/jars/*"
    val javaBin = System.getProperty("java.home") + "/bin/java"
    // each contender drops a marker after its try; the winner holds
    // until all four are there, however far apart the JVMs start
    val markers = java.nio.file.Files.createTempDirectory("graft-lock-markers")
    val procs = (1 to 4).map { _ =>
      new ProcessBuilder(javaBin, "-cp", cp,
        "graft.catalog.SharedFileLocks", root, "/contended",
        markers.toString, "4")
        .redirectErrorStream(true).start()
    }
    val outputs = procs.map { p =>
      p.waitFor(60, java.util.concurrent.TimeUnit.SECONDS) must be(true)
      new String(p.getInputStream.readAllBytes, "UTF-8")
    }
    withClue(s"contender outputs: ${outputs.mkString(" | ")}: ") {
      outputs.count(_.contains("WON")) must be(1)
      outputs.count(_.contains("LOST")) must be(3)
      // the winner held until every contender had tried, then released
      // — the lock is free now
      outputs.find(_.contains("WON")).get must include("RELEASED")
    }
    SharedFileLocks.isLocked(root, "/contended") must be(false)
    // post-release: a fresh contender wins immediately
    SharedFileLocks.acquire(root, "/contended").isDefined must be(true)
  }
}
