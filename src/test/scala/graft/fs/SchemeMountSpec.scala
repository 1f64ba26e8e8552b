package graft.fs

import java.net.URI

import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.must.Matchers

import graft.TestSpark

/** Drop-in scheme resolution end-to-end — the reference's core mount
  * claim: a STOCK Hadoop/Spark job reaches the engine unchanged once
  * the scheme maps to the FileSystem impl (reference
  * core-site.xml:29-32 sets `fs.snackfs.impl`; README.md:9 "without
  * any change to your existing jobs"). Nothing here constructs or
  * initializes `GraftFileSystem` directly: the spec registers
  * `fs.graftfs.impl` in the session's hadoopConfiguration (the
  * in-session analog of `--conf spark.hadoop.fs.graftfs.impl=…` /
  * core-site.xml) and then drives plain `spark.read` / `df.write`
  * against `graftfs://` URIs — scheme resolution, Hadoop's FileSystem
  * cache, the FileOutputCommitter's mkdirs/rename/listStatus dance,
  * and the record readers' open/seek all resolve to the engine on
  * their own.
  *
  * The facade's byte paths never execute Spark jobs: payload comes
  * from memory or from session-free parquet reads, so tasks reading
  * through the mount need no free core (the zero-jobs cases below pin
  * it); cluster-scale analytics still belongs on the DSv2 connector
  * (`graft.sources`), which plans one ordinary scan.
  */
class SchemeMountSpec extends AnyFlatSpec with Matchers {

  private val spark = TestSpark.spark

  /** Register the scheme exactly once for the shared session. */
  private def mountConf(): Unit =
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftFileSystem].getName)

  behavior of "fs.graftfs.impl scheme mount"

  it must "resolve graftfs:// through the Hadoop FileSystem registry" in {
    mountConf()
    val fs = FileSystem.get(new URI("graftfs://mountspec/"),
      spark.sparkContext.hadoopConfiguration)
    fs mustBe a[GraftFileSystem]
    // the cache must hand back the SAME instance (scheme+authority
    // keyed) — that sharing is what makes writes visible to readers
    val again = FileSystem.get(new URI("graftfs://mountspec/"),
      spark.sparkContext.hadoopConfiguration)
    again must be theSameInstanceAs fs
  }

  it must "serve spark.read.csv from bytes written through the Hadoop API" in {
    mountConf()
    val fs = FileSystem.get(new URI("graftfs://mountspec/"),
      spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new Path("graftfs://mountspec/csv/part-0.csv"))
    out.write("id,name\n1,ada\n2,bob\n".getBytes("UTF-8"))
    out.close()
    val df = spark.read.option("header", "true")
      .csv("graftfs://mountspec/csv")
    df.orderBy("id").collect().map(r => (r.getString(0), r.getString(1)))
      .toSeq must be(Seq(("1", "ada"), ("2", "bob")))
  }

  it must "run df.write.parquet's full committer protocol over graftfs://" in {
    mountConf()
    import spark.implicits._
    // two partitions → two concurrent write tasks sharing the one
    // cached FileSystem instance: exercises the facade's atomic verb
    // transitions (create + the committer's mkdirs/rename)
    val df = (0L until 20L).map(i => (i, s"row_$i")).toDF("id", "tag")
      .repartition(2)
    df.write.mode("overwrite").parquet("graftfs://mountspec/out")
    val fs = FileSystem.get(new URI("graftfs://mountspec/"),
      spark.sparkContext.hadoopConfiguration)
    // the committer's job-commit artifacts are real files in the engine
    fs.exists(new Path("graftfs://mountspec/out/_SUCCESS")) must be(true)
    // read back through the mount: parquet footer seek + positioned
    // reads against the block-cached stream
    val back = spark.read.parquet("graftfs://mountspec/out")
    back.count() must be(20L)
    import org.apache.spark.sql.functions.sum
    back.agg(sum($"id")).head.getLong(0) must be(190L)
    // overwrite-mode delete path: a second write replaces the dataset
    (0L until 5L).toDF("id").repartition(1).write.mode("overwrite")
      .parquet("graftfs://mountspec/out")
    spark.read.parquet("graftfs://mountspec/out").count() must be(5L)
  }

  it must "write at FULL outer parallelism (8 tasks on local[4]) without starving" in {
    mountConf()
    import spark.implicits._
    // The r10 impossibility: 8 write tasks saturate local[4]'s slots,
    // and any verb that needed a nested engine action (create's
    // existence collect, the committer's mkdirs/rename/getFileStatus)
    // could never schedule one — thread-dump-verified deadlock, spec
    // pinned at repartition(1-2). The r11 fix makes the ENTIRE write
    // path action-free: metadata answers from the facade's
    // driver-JVM inode cache and payload rows stay in memory or fold
    // to segment files — so a stock committer job at 2× the core count
    // must now complete.
    val df = (0L until 64L).map(i => (i, s"tag_$i")).toDF("id", "tag")
      .repartition(8)
    df.write.mode("overwrite").parquet("graftfs://mountspec/wide")
    val fs = FileSystem.get(new URI("graftfs://mountspec/"),
      spark.sparkContext.hadoopConfiguration)
    fs.exists(new Path("graftfs://mountspec/wide/_SUCCESS")) must be(true)
    // all 8 task outputs committed (rename-per-task through the cache)
    fs.listStatus(new Path("graftfs://mountspec/wide"))
      .count(_.getPath.getName.startsWith("part-")) must be(8)
    val back = spark.read.parquet("graftfs://mountspec/wide")
    back.count() must be(64L)
    import org.apache.spark.sql.functions.sum
    back.agg(sum($"id")).head.getLong(0) must be(2016L)
  }

  it must "fold pending rows into the base plan and keep every verb correct after the fold" in {
    // Production folds at 64 MB — far above spec-sized payloads, so
    // without this override the fold machinery (base-plan reads,
    // post-fold rename/delete/overwrite, mid-stream folds) would ship
    // untested: small writes live and die in the pending buffer. Tiny
    // geometry + a 1 KB fold threshold force every fold transition at
    // test size. Keys are scoped to THIS mount: set, instantiate (a
    // fresh authority bypasses Hadoop's cache), restore.
    mountConf()
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.setInt("graft.subblock.size", 512)
    hconf.setInt("graft.block.size", 1024)
    hconf.setLong("graft.mount.fold.bytes", 1024)
    val fs =
      try FileSystem.get(new URI("graftfs://foldspec/"),
        hconf).asInstanceOf[GraftFileSystem]
      finally {
        hconf.unset("graft.subblock.size")
        hconf.unset("graft.block.size")
        hconf.unset("graft.mount.fold.bytes")
      }
    val rnd = new scala.util.Random(11)
    def payload(n: Int): Array[Byte] = {
      val b = new Array[Byte](n); rnd.nextBytes(b); b
    }
    def writeFile(p: String, bytes: Array[Byte]): Unit = {
      val out = fs.create(new Path(p))
      out.write(bytes); out.close()
    }
    def readFile(p: String, n: Int): Array[Byte] = {
      val in = fs.open(new Path(p))
      val buf = new Array[Byte](n)
      try { in.readFully(0L, buf); buf } finally in.close()
    }
    // 3 KB file = 6 subblocks over 3 blocks; the fold fires MID-STREAM
    // (after every other 512-byte subblock), so this file's rows land
    // in the base plan across several folds — reading it back merges
    // base rows with any still-pending tail through the fold-at-read
    // boundary in blockAt's engine path
    val a = payload(3072)
    writeFile("graftfs://foldspec/d/a.bin", a)
    readFile("graftfs://foldspec/d/a.bin", 3072) must be(a)
    // rename AFTER the fold: payload rows are in the base, so this is
    // the renameChunksOnly frame rewrite + basePaths bookkeeping —
    // bytes must follow the path
    val b = payload(2048)
    writeFile("graftfs://foldspec/d/b.bin", b)
    fs.rename(new Path("graftfs://foldspec/d"),
      new Path("graftfs://foldspec/moved")) must be(true)
    readFile("graftfs://foldspec/moved/a.bin", 3072) must be(a)
    readFile("graftfs://foldspec/moved/b.bin", 2048) must be(b)
    intercept[java.io.FileNotFoundException] {
      fs.getFileStatus(new Path("graftfs://foldspec/d/a.bin"))
    }
    // overwrite AFTER the fold: create(overwrite=true) must drop the
    // folded payload via the base filter — the new (shorter) content
    // comes back, never a stale-suffix splice
    val a2 = payload(1536)
    writeFile("graftfs://foldspec/moved/a.bin", a2)
    readFile("graftfs://foldspec/moved/a.bin", 1536) must be(a2)
    fs.getFileStatus(new Path("graftfs://foldspec/moved/a.bin"))
      .getLen must be(1536L)
    // delete AFTER the fold: folded rows leave the base; the sibling's
    // payload is untouched
    fs.delete(new Path("graftfs://foldspec/moved/b.bin"), false) must be(true)
    fs.exists(new Path("graftfs://foldspec/moved/b.bin")) must be(false)
    readFile("graftfs://foldspec/moved/a.bin", 1536) must be(a2)
    // cache/frame agreement must survive the fold transitions too
    val snap = fs.graftFs
    try {
      snap.catalog.inodes.collect().map(_.path).toSet must be(
        fs.metadataSnapshot.keySet)
    } finally fs.releaseSnapshot(snap)
    fs.close()
  }

  it must "serve FOLDED payload reads to task threads while a core stays free (the documented boundary)" in {
    // Reads a folded file from INSIDE Spark tasks: block misses are
    // session-free reads of the mount's segment files (the
    // core-saturating side is pinned by the zero-jobs cases below).
    mountConf()
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.setInt("graft.subblock.size", 512)
    hconf.setInt("graft.block.size", 1024)
    hconf.setLong("graft.mount.fold.bytes", 1024)
    val fs =
      try FileSystem.get(new URI("graftfs://foldread/"), hconf)
        .asInstanceOf[GraftFileSystem]
      finally {
        hconf.unset("graft.subblock.size")
        hconf.unset("graft.block.size")
        hconf.unset("graft.mount.fold.bytes")
      }
    val bytes = Array.tabulate[Byte](3072)(i => ((i * 31 + 7) & 0xFF).toByte)
    val out = fs.create(new Path("graftfs://foldread/f.bin"))
    out.write(bytes); out.close() // 3 KB >> 1 KB fold: payload in base
    val expected = { val c = new java.util.zip.CRC32C(); c.update(bytes)
      c.getValue }
    // 2 tasks on local[4]: each resolves the SAME cached fs instance
    // (scheme+authority keyed) and pulls the folded blocks
    val crcs = spark.sparkContext.parallelize(1 to 2, 2).map { _ =>
      val c = new org.apache.hadoop.conf.Configuration(false)
      c.set("fs.graftfs.impl", "graft.fs.GraftFileSystem")
      val tfs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI("graftfs://foldread/"), c)
      val in = tfs.open(new org.apache.hadoop.fs.Path(
        "graftfs://foldread/f.bin"))
      val buf = new Array[Byte](3072)
      try in.readFully(0L, buf) finally in.close()
      val crc = new java.util.zip.CRC32C(); crc.update(buf); crc.getValue
    }.collect()
    crcs.toSeq must be(Seq(expected, expected))
    fs.close()
  }

  it must "serve a re-created path whose BIRTH name a live renamed file still owns" in {
    // Rows fold under immutable keys, so after rename /a → /b the
    // folded rows of /b still carry the key the file was created with.
    // A brand-new /a must get a fresh key, or it would alias the old
    // payload. Reads of BOTH files, the rename-away delete, and the
    // overwrite must all resolve through the payload index to the
    // right bytes.
    mountConf()
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.setInt("graft.subblock.size", 512)
    hconf.setInt("graft.block.size", 1024)
    hconf.setLong("graft.mount.fold.bytes", 512)
    val fs =
      try FileSystem.get(new URI("graftfs://rebirth/"), hconf)
        .asInstanceOf[GraftFileSystem]
      finally {
        hconf.unset("graft.subblock.size")
        hconf.unset("graft.block.size")
        hconf.unset("graft.mount.fold.bytes")
      }
    def put(p: String, bytes: Array[Byte]): Unit = {
      val o = fs.create(new Path(p)); o.write(bytes); o.close()
    }
    def readAll(p: String, n: Int): Array[Byte] = {
      val in = fs.open(new Path(p))
      val buf = new Array[Byte](n)
      try { in.readFully(0L, buf); buf } finally in.close()
    }
    val first = Array.tabulate[Byte](1024)(i => (i & 0x7F).toByte)
    val second = Array.tabulate[Byte](1024)(i => ((i * 3 + 1) & 0x7F).toByte)
    put("graftfs://rebirth/a", first) // folds (1 KB > 512 B): birth = /a
    fs.rename(new Path("graftfs://rebirth/a"),
      new Path("graftfs://rebirth/b")) must be(true)
    put("graftfs://rebirth/a", second) // birth /a is taken → alias
    readAll("graftfs://rebirth/b", 1024) must be(first)
    readAll("graftfs://rebirth/a", 1024) must be(second)
    // delete the renamed-away file: its (foreign-named) rows go, the
    // aliased newcomer survives
    fs.delete(new Path("graftfs://rebirth/b"), false) must be(true)
    readAll("graftfs://rebirth/a", 1024) must be(second)
    // overwrite the aliased file: old alias rows filtered, fresh birth
    put("graftfs://rebirth/a", first)
    readAll("graftfs://rebirth/a", 1024) must be(first)
    fs.close()
  }

  /** Persist a small filesystem (two multi-block files + a dir) through
    * a scratch mount and return (stateDir, fileA bytes, fileB bytes).
    */
  private def buildSavedState(authority: String): (String, Array[Byte], Array[Byte]) = {
    mountConf()
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.setInt("graft.subblock.size", 512)
    hconf.setInt("graft.block.size", 1024)
    val fs =
      try FileSystem.get(new URI(s"graftfs://$authority/"), hconf)
        .asInstanceOf[GraftFileSystem]
      finally {
        hconf.unset("graft.subblock.size"); hconf.unset("graft.block.size")
      }
    val rnd = new scala.util.Random(23)
    def payload(n: Int): Array[Byte] = {
      val b = new Array[Byte](n); rnd.nextBytes(b); b
    }
    val a = payload(3072) // 3 blocks
    val b = payload(700)  // 1 block, partial
    Seq("graftfs://" + authority + "/docs/a.bin" -> a,
      "graftfs://" + authority + "/docs/sub/b.bin" -> b).foreach {
      case (p, bytes) =>
        val out = fs.create(new Path(p)); out.write(bytes); out.close()
    }
    val dir = java.nio.file.Files
      .createTempDirectory("graft-saved-state").toString
    val snap = fs.graftFs
    try GraftShellMain.saveFs(snap, dir)
    finally fs.releaseSnapshot(snap)
    fs.close()
    (dir, a, b)
  }

  /** A fresh mount (1 KB fold) holding one 3 KB file whose rows folded
    * into segment files; returns (mount, file path, bytes). */
  private def foldedFile(authority: String): (GraftFileSystem, String, Array[Byte]) = {
    mountConf()
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.setInt("graft.subblock.size", 512)
    hconf.setInt("graft.block.size", 1024)
    hconf.setLong("graft.mount.fold.bytes", 1024)
    val fs =
      try FileSystem.get(new URI(s"graftfs://$authority/"), hconf)
        .asInstanceOf[GraftFileSystem]
      finally {
        hconf.unset("graft.subblock.size"); hconf.unset("graft.block.size")
        hconf.unset("graft.mount.fold.bytes")
      }
    val bytes = Array.tabulate[Byte](3072)(i => ((i * 17 + 3) & 0xFF).toByte)
    val p = s"graftfs://$authority/folded/f.bin"
    val out = fs.create(new Path(p))
    out.write(bytes); out.close()
    (fs, p, bytes)
  }

  private final class JobCounter extends org.apache.spark.scheduler.SparkListener {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    override def onJobStart(
        j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      n.incrementAndGet()
  }

  it must "serve saved payloads from a state-dir mount with ZERO driver jobs" in {
    // The §8 narrowing, one notch closed: a persisted state is plain
    // parquet, so payload reads route through SavedState.readBlock —
    // a session-free pruned parquet read, no nested engine job. The
    // job-count listener is the proof: every byte below is read while
    // the counter stays flat.
    val (dir, a, b) = buildSavedState("savedsrc")
    val (foldFs, foldPath, folded) = foldedFile("savedfold")
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.setInt("graft.subblock.size", 512)
    hconf.setInt("graft.block.size", 1024)
    hconf.set("graft.mount.state.dir", dir)
    val fs =
      try FileSystem.get(new URI("graftfs://savedread/"), hconf)
        .asInstanceOf[GraftFileSystem]
      finally {
        hconf.unset("graft.subblock.size"); hconf.unset("graft.block.size")
        hconf.unset("graft.mount.state.dir")
      }
    // metadata came from the saved catalog (session-free bootstrap)
    fs.getFileStatus(new Path("graftfs://savedread/docs/a.bin"))
      .getLen must be(3072L)
    fs.listStatus(new Path("graftfs://savedread/docs"))
      .map(_.getPath.getName).sorted must be(Array("a.bin", "sub"))
    val counter = new JobCounter
    spark.sparkContext.addSparkListener(counter)
    try {
      def readFile(p: String, n: Int): Array[Byte] = {
        val in = fs.open(new Path(p))
        val buf = new Array[Byte](n)
        try { in.readFully(0L, buf); buf } finally in.close()
      }
      readFile("graftfs://savedread/docs/a.bin", 3072) must be(a)
      readFile("graftfs://savedread/docs/sub/b.bin", 700) must be(b)
      // rename keeps the direct path (saved rows are immutable)
      fs.rename(new Path("graftfs://savedread/docs/a.bin"),
        new Path("graftfs://savedread/docs/a2.bin")) must be(true)
      readFile("graftfs://savedread/docs/a2.bin", 3072) must be(a)
      // overwrite PRUNES the direct path: fresh bytes come back (from
      // pending memory — still no job), never the stale saved rows
      val fresh = Array.tabulate[Byte](600)(i => (i % 120).toByte)
      val out = fs.create(new Path("graftfs://savedread/docs/sub/b.bin"),
        true)
      out.write(fresh); out.close()
      readFile("graftfs://savedread/docs/sub/b.bin", 600) must be(fresh)
      // FOLDED payload of a fresh mount: segment files, same reader
      val in = foldFs.open(new Path(foldPath))
      val buf = new Array[Byte](folded.length)
      try in.readFully(0L, buf) finally in.close()
      buf must be(folded)
      Thread.sleep(300) // let the listener bus drain
      counter.n.get() must be(0)
    } finally {
      spark.sparkContext.removeSparkListener(counter)
      fs.close()
      foldFs.close()
    }
  }

  it must "serve saved payload reads from CORE-SATURATING tasks (the previously unsupported side)" in {
    // Before the direct-read path, 4 reading tasks on local[4] were the
    // documented loud-failure side (a nested engine job could never get
    // a core). With saved payloads the read is session-free parquet
    // I/O: full saturation, no nested job — exactly one job total (the
    // outer parallelize itself).
    val (dir, a, _) = buildSavedState("xsrc")
    val (foldFs, foldPath, folded) = foldedFile("xfold")
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.setInt("graft.subblock.size", 512)
    hconf.setInt("graft.block.size", 1024)
    hconf.set("graft.mount.state.dir", dir)
    val fs =
      try FileSystem.get(new URI("graftfs://xtask/"), hconf)
        .asInstanceOf[GraftFileSystem]
      finally {
        hconf.unset("graft.subblock.size"); hconf.unset("graft.block.size")
        hconf.unset("graft.mount.state.dir")
      }
    def crcOf(b: Array[Byte]): Long = {
      val c = new java.util.zip.CRC32C(); c.update(b); c.getValue
    }
    val expected = (crcOf(a), crcOf(folded))
    val counter = new JobCounter
    spark.sparkContext.addSparkListener(counter)
    try {
      // each task reads the saved file AND the folded file of the
      // fresh 1 KB-fold mount
      val job = spark.sparkContext.parallelize(1 to 4, 4).map { _ =>
        def taskRead(uri: String, path: String, n: Int): Long = {
          val c = new org.apache.hadoop.conf.Configuration(false)
          c.set("fs.graftfs.impl", "graft.fs.GraftFileSystem")
          val tfs = org.apache.hadoop.fs.FileSystem.get(
            new java.net.URI(uri), c)
          val in = tfs.open(new org.apache.hadoop.fs.Path(path))
          val buf = new Array[Byte](n)
          try in.readFully(0L, buf) finally in.close()
          val crc = new java.util.zip.CRC32C(); crc.update(buf); crc.getValue
        }
        (taskRead("graftfs://xtask/", "graftfs://xtask/docs/a.bin", 3072),
          taskRead("graftfs://xfold/", foldPath, 3072))
      }
      // a deadline, so a read that needs a core the outer job holds
      // fails the case instead of hanging the suite
      val crcs = {
        import scala.concurrent.{Await, Future, TimeoutException}
        import scala.concurrent.ExecutionContext.Implicits.global
        import scala.concurrent.duration._
        try Await.result(Future(job.collect()), 120.seconds)
        catch {
          case _: TimeoutException =>
            spark.sparkContext.cancelAllJobs()
            fail("task-side reads did not finish within 120 s")
        }
      }
      crcs.toSeq must be(Seq.fill(4)(expected))
      Thread.sleep(300) // let the listener bus drain
      counter.n.get() must be(1) // the outer job, nothing nested
    } finally {
      spark.sparkContext.removeSparkListener(counter)
      fs.close()
      foldFs.close()
    }
  }

  it must "run READ-ONLY in forced executor mode: reads served, mutations loud" in {
    // graft.mount.executor.mode simulates the remote-executor JVM (no
    // session): the mount bootstraps entirely from the saved parquet —
    // metadata, listings, payload bytes — and every mutation names the
    // read-only contract instead of limping into a session NPE.
    val (dir, a, b) = buildSavedState("xmodesrc")
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.setInt("graft.subblock.size", 512)
    hconf.setInt("graft.block.size", 1024)
    hconf.set("graft.mount.state.dir", dir)
    hconf.setBoolean("graft.mount.executor.mode", true)
    val fs =
      try FileSystem.get(new URI("graftfs://xmode/"), hconf)
        .asInstanceOf[GraftFileSystem]
      finally {
        hconf.unset("graft.subblock.size"); hconf.unset("graft.block.size")
        hconf.unset("graft.mount.state.dir")
        hconf.unset("graft.mount.executor.mode")
      }
    try {
      def readFile(p: String, n: Int): Array[Byte] = {
        val in = fs.open(new Path(p))
        val buf = new Array[Byte](n)
        try { in.readFully(0L, buf); buf } finally in.close()
      }
      readFile("graftfs://xmode/docs/a.bin", 3072) must be(a)
      readFile("graftfs://xmode/docs/sub/b.bin", 700) must be(b)
      fs.getFileStatus(new Path("graftfs://xmode/docs/sub/b.bin"))
        .getLen must be(700L)
      val boom = intercept[java.io.IOException] {
        fs.create(new Path("graftfs://xmode/new.bin"))
      }
      boom.getMessage must include("READ-ONLY")
      intercept[java.io.IOException] {
        fs.delete(new Path("graftfs://xmode/docs/a.bin"), false)
      }
      intercept[java.io.IOException] {
        fs.rename(new Path("graftfs://xmode/docs/a.bin"),
          new Path("graftfs://xmode/docs/a3.bin"))
      }
      intercept[java.io.IOException] {
        fs.mkdirs(new Path("graftfs://xmode/d2"))
      }
    } finally fs.close()
  }

  it must "mount a saved state in a JVM with NO SparkSession: reads served, mutations read-only" in {
    // The implicit executor mode — a remote executor's JVM, which never
    // creates a session: block geometry comes from the Hadoop conf, the
    // mount serves saved payload session-free, and mutations name the
    // read-only contract. Forked, because this JVM has a session.
    val (dir, a, _) = buildSavedState("nosessionsrc")
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val proc = new ProcessBuilder(javaBin, "-cp",
        System.getProperty("java.class.path"),
        "graft.fs.SessionlessMountProbe", dir, "/docs/a.bin")
      .redirectErrorStream(true).start()
    val out = new String(proc.getInputStream.readAllBytes, "UTF-8")
    proc.waitFor(120, java.util.concurrent.TimeUnit.SECONDS) must be(true)
    val crc = { val c = new java.util.zip.CRC32C(); c.update(a); c.getValue }
    withClue(s"probe output: $out: ") {
      proc.exitValue must be(0)
      out must include(s"CRC $crc")
      out must include("REFUSED graftfs executor-mode mount is READ-ONLY")
    }
  }

  it must "serve POST-MOUNT writes to executor-mode mounts via write-through" in {
    // The r16 verdict's §8 residue, closed: bytes written through a
    // state-dir driver mount AFTER the mount used to live only in
    // driver frames — a remote executor could not read them. Now a
    // closed create stream write-throughs its payload as a wal delta
    // in the state dir, and an executor-mode mount (separate instance,
    // session-free reads, live per-access refresh) serves both the
    // NEW file and the OVERWRITTEN saved file's fresh bytes.
    val (dir, a, _) = buildSavedState("wtsrc")
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.setInt("graft.subblock.size", 512)
    hconf.setInt("graft.block.size", 1024)
    hconf.set("graft.mount.state.dir", dir)
    val driver =
      try FileSystem.get(new URI("graftfs://wtdrv/"), hconf)
        .asInstanceOf[GraftFileSystem]
      finally ()
    // the executor mount initializes BEFORE the driver writes — the
    // live-refresh claim, not just init-time overlay application
    hconf.setBoolean("graft.mount.executor.mode", true)
    val exec =
      try FileSystem.newInstance(new URI("graftfs://wtexec/"), hconf)
        .asInstanceOf[GraftFileSystem]
      finally {
        hconf.unset("graft.subblock.size"); hconf.unset("graft.block.size")
        hconf.unset("graft.mount.state.dir")
        hconf.unset("graft.mount.executor.mode")
      }
    try {
      def readFile(fs: FileSystem, p: String, n: Int): Array[Byte] = {
        val in = fs.open(new Path(p))
        val buf = new Array[Byte](n)
        try { in.readFully(0L, buf); buf } finally in.close()
      }
      // 1. a NEW post-mount file (spans blocks at the tiny geometry)
      val fresh = Array.tabulate[Byte](1500)(i => (i % 113).toByte)
      driver.mkdirs(new Path("graftfs://wtdrv/post"))
      val o1 = driver.create(new Path("graftfs://wtdrv/post/new.bin"))
      o1.write(fresh); o1.close()
      // the executor mount — initialized before the write — sees it
      exec.getFileStatus(new Path("graftfs://wtexec/post/new.bin"))
        .getLen must be(1500L)
      readFile(exec, "graftfs://wtexec/post/new.bin", 1500) must be(fresh)
      // ...and its parent materializes for listings
      exec.listStatus(new Path("graftfs://wtexec/post"))
        .map(_.getPath.getName) must be(Array("new.bin"))
      // 1b. a dir the executor NEVER stat'd lists its post-mount
      // children directly (the whole-overlay refresh, not per-path)
      val o1b = driver.create(new Path("graftfs://wtdrv/post2/other.bin"))
      o1b.write("abc".getBytes("UTF-8")); o1b.close()
      exec.listStatus(new Path("graftfs://wtexec/post2"))
        .map(_.getPath.getName) must be(Array("other.bin"))
      // 2. an OVERWRITE of a pre-mount saved file serves the new bytes
      val repl = Array.tabulate[Byte](900)(i => (i % 97).toByte)
      val o2 = driver.create(new Path("graftfs://wtdrv/docs/a.bin"), true)
      o2.write(repl); o2.close()
      readFile(exec, "graftfs://wtexec/docs/a.bin", 900) must be(repl)
      exec.getFileStatus(new Path("graftfs://wtexec/docs/a.bin"))
        .getLen must be(900L)
      // 3. rename mirror: the committer dance's temp→final move stays
      // executor-visible
      driver.rename(new Path("graftfs://wtdrv/post/new.bin"),
        new Path("graftfs://wtdrv/post/final.bin")) must be(true)
      readFile(exec, "graftfs://wtexec/post/final.bin", 1500) must be(fresh)
      // 4. delete mirror: the removed file disappears from the
      // executor view too
      driver.delete(new Path("graftfs://wtdrv/post/final.bin"),
        false) must be(true)
      intercept[java.io.IOException] {
        exec.open(new Path("graftfs://wtexec/post/final.bin"))
      }
      // 5. a FRESH driver mount of the same state (new authority →
      // new instance) sees the post-mount writes through the overlay,
      // driver-side, frames included
      hconf.setInt("graft.subblock.size", 512)
      hconf.setInt("graft.block.size", 1024)
      hconf.set("graft.mount.state.dir", dir)
      val remount =
        try FileSystem.newInstance(new URI("graftfs://wtre/"), hconf)
          .asInstanceOf[GraftFileSystem]
        finally {
          hconf.unset("graft.subblock.size")
          hconf.unset("graft.block.size")
          hconf.unset("graft.mount.state.dir")
        }
      try {
        readFile(remount, "graftfs://wtre/docs/a.bin", 900) must be(repl)
        remount.getFileStatus(new Path("graftfs://wtre/docs/a.bin"))
          .getLen must be(900L)
      } finally remount.close()
      // the original saved payload is what changed — sanity on fixture
      repl must not be a
    } finally {
      exec.close()
      driver.close()
    }
  }

  it must "keep the metadata cache exactly in step with the catalog frames" in {
    mountConf()
    val fs = FileSystem.get(new URI("graftfs://mountspec/"),
        spark.sparkContext.hadoopConfiguration)
      .asInstanceOf[GraftFileSystem]
    // a verb mix that exercises every cache transition: mkdirs chain,
    // create (+parents), overwrite, rename of a subtree, recursive
    // delete, childless-dir delete
    fs.mkdirs(new Path("graftfs://mountspec/sync/a/b"))
    val o1 = fs.create(new Path("graftfs://mountspec/sync/a/b/f1"))
    o1.write("hello".getBytes("UTF-8")); o1.close()
    val o2 = fs.create(new Path("graftfs://mountspec/sync/a/f2"))
    o2.write("world!".getBytes("UTF-8")); o2.close()
    fs.rename(new Path("graftfs://mountspec/sync/a"),
      new Path("graftfs://mountspec/sync/z"))
    fs.mkdirs(new Path("graftfs://mountspec/sync/empty"))
    fs.delete(new Path("graftfs://mountspec/sync/empty"), false)
    fs.delete(new Path("graftfs://mountspec/sync/z/b"), true)
    // the dual representation must agree row for row — path set AND
    // the full inode contents (length folds, parentPath rewrites)
    val snap = fs.graftFs
    try {
      val fromFrames = snap.catalog.inodes.collect()
        .map(n => n.path -> n).toMap
      val cache = fs.metadataSnapshot
      cache.keySet must be(fromFrames.keySet)
      cache.foreach { case (p, n) =>
        val f = fromFrames(p)
        (n.parentPath, n.isDir, n.length) must be(
          (f.parentPath, f.isDir, f.length))
      }
      // the parent→children index must be EXACTLY groupBy(parentPath)
      // of the cache after the same verb mix — no stale child entries
      // (rename/delete), no missing ones (mkdirs/create), no retained
      // empty sets
      val expected = cache.values.filter(_.parentPath != null).toSeq
        .groupBy(_.parentPath).view.mapValues(_.map(_.path).toSet).toMap
      fs.childIndexSnapshot must be(expected)
    } finally fs.releaseSnapshot(snap)
  }
}

/** Forkable probe for SchemeMountSpec's no-session case: argv =
  * (stateDir, file). Mounts the saved state (512 B / 1 KB geometry) in
  * a JVM that never creates a SparkSession, prints `CRC <crc32c>` of
  * the file's bytes, then `REFUSED <message>` when a create fails with
  * an IOException (or `MUTATED` when it does not).
  */
object SessionlessMountProbe {
  def main(args: Array[String]): Unit = {
    val Array(stateDir, file) = args
    val conf = new org.apache.hadoop.conf.Configuration(false)
    conf.set("fs.graftfs.impl", classOf[GraftFileSystem].getName)
    conf.set("graft.mount.state.dir", stateDir)
    conf.setInt("graft.subblock.size", 512)
    conf.setInt("graft.block.size", 1024)
    val fs = FileSystem.get(new URI("graftfs://nosession/"), conf)
    val p = new Path(file)
    val buf = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
    val in = fs.open(p)
    try in.readFully(0L, buf) finally in.close()
    val crc = new java.util.zip.CRC32C(); crc.update(buf)
    println(s"CRC ${crc.getValue}")
    try { fs.create(new Path("/new.bin")).close(); println("MUTATED") }
    catch { case e: java.io.IOException => println(s"REFUSED ${e.getMessage}") }
    System.exit(0)
  }
}
