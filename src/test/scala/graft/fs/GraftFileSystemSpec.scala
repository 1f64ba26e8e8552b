package graft.fs

import java.io.{FileNotFoundException, IOException}
import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.must.Matchers

import graft.TestSpark

/** Facade matrix mirroring the reference's SnackFSSpec.scala:48-211:
  * mkdir, create/write/getPos, mkdirs-on-file → false, read-back,
  * open-a-directory / open-missing error messages, getFileStatus,
  * listStatus counts, recursive delete, rename.
  */
class GraftFileSystemSpec extends AnyFlatSpec with Matchers {

  private def newFs(): GraftFileSystem = {
    TestSpark.spark // force the session up before initialize needs it
    val fs = new GraftFileSystem
    val conf = new Configuration(false)
    // tiny geometry so multi-block files appear at test scale
    conf.setInt("graft.subblock.size", 8)
    conf.setInt("graft.block.size", 16)
    fs.initialize(URI.create("graftfs://local"), conf)
    fs
  }

  behavior of "GraftFileSystem (SnackFS.scala:51-153 facade)"

  it must "fail loudly instead of hanging when the mutation lock starves" in {
    // a wedged lock holder must not hang every other verb: the lock
    // timeout converts that infinite wait into a bounded IOException
    TestSpark.spark
    val fs = new GraftFileSystem
    val conf = new Configuration(false)
    conf.setLong("graft.mount.lock.timeout.ms", 200L)
    fs.initialize(URI.create("graftfs://locktest"), conf)
    val f = fs.getClass.getDeclaredField("mutLock")
    f.setAccessible(true)
    val lock = f.get(fs).asInstanceOf[java.util.concurrent.locks.ReentrantLock]
    lock.lock() // simulate the starved holder from the test thread
    try {
      @volatile var caught: Throwable = null
      val t = new Thread(() =>
        try fs.mkdirs(new Path("/starved"))
        catch { case e: Throwable => caught = e })
      t.start(); t.join(10000)
      t.isAlive must be(false)
      caught mustBe a[java.io.IOException]
      caught.getMessage must include("mutation lock")
    } finally lock.unlock()
    // a freed lock recovers the verb immediately
    fs.mkdirs(new Path("/after")) must be(true)
  }



  it must "add a directory" in {
    val fs = newFs()
    fs.mkdirs(new Path("/mytestdir")) must be(true)
    fs.getFileStatus(new Path("/mytestdir")).isDirectory must be(true)
  }

  it must "create an entry for a file and track the write position" in {
    val fs = newFs()
    val out = fs.create(new Path("/home/Downloads/JSONParser.js"))
    out.write("SOME CONTENT".getBytes)
    out.getPos must be(12L)
    out.close()
    fs.getFileStatus(new Path("/home/Downloads/JSONParser.js")).getLen must be(12L)
  }

  it must "result in false when trying to add an existing file as a directory" in {
    val fs = newFs()
    val out = fs.create(new Path("/home/Downloads/someTest"))
    out.write("SOME CONTENT".getBytes)
    out.close()
    fs.mkdirs(new Path("/home/Downloads/someTest")) must be(false)
  }

  it must "leave no phantom directories when create fails on a file ancestor" in {
    val fs = newFs()
    val out = fs.create(new Path("/blocker"))
    out.write("x".getBytes); out.close()
    // /blocker is a FILE: creating under it must throw AND must not
    // persist the would-be intermediate dirs in the metadata cache —
    // a failed create that left /blocker/mid behind would corrupt
    // state on a reported failure (r11 review finding)
    intercept[java.io.IOException] {
      fs.create(new Path("/blocker/mid/leaf"))
    }
    fs.exists(new Path("/blocker/mid")) must be(false)
    fs.exists(new Path("/blocker/mid/leaf")) must be(false)
    // the A5 verb keeps the reference's no-short-circuit semantics:
    // mkdirs over the same chain answers false but DOES create the
    // missing levels (MakeDirectoryCommand.scala:74)
    fs.mkdirs(new Path("/blocker/mid2")) must be(false)
    fs.exists(new Path("/blocker/mid2")) must be(true)
  }

  it must "allow to read from a file, across block boundaries" in {
    val fs = newFs()
    val out = fs.create(new Path("/home/Downloads/random"))
    // 44 bytes > 2 blocks at the 16-byte test geometry
    val payload = "This is a test to check read functionality++"
    out.write(payload.getBytes)
    out.close()
    val is = fs.open(new Path("/home/Downloads/random"))
    val arr = new Array[Byte](payload.length)
    is.readFully(0, arr)
    is.close()
    new String(arr) must be(payload)
    // seek + partial read
    val is2 = fs.open(new Path("/home/Downloads/random"))
    is2.seek(10)
    is2.read() must be(payload.charAt(10).toInt)
    is2.close()
  }

  it must "throw opening a directory or a missing file, with the reference messages" in {
    val fs = newFs()
    fs.mkdirs(new Path("/test"))
    val e1 = intercept[IOException](fs.open(new Path("/test")))
    e1.getMessage must be("Path /test is a directory.")
    val e2 = intercept[IOException](fs.open(new Path("/newFile")))
    e2.getMessage must be("No such file.")
    val e3 = intercept[FileNotFoundException](fs.getFileStatus(new Path("/absent")))
    e3.getMessage must be("No such file exists")
  }

  it must "list all files/directories within the given directory" in {
    val fs = newFs()
    fs.mkdirs(new Path("/tmp/user"))
    fs.mkdirs(new Path("/tmp/local"))
    val f1 = fs.create(new Path("/tmp/testFile"))
    f1.write("This is a test to check list functionality".getBytes); f1.close()
    val f2 = fs.create(new Path("/tmp/user/file"))
    f2.write("This is a test to check list functionality".getBytes); f2.close()
    val result = fs.listStatus(new Path("/tmp"))
    result.length must be(3)
    result.count(!_.isDirectory) must be(1)
    result.count(_.isDirectory) must be(2)
  }

  it must "delete all files/directories within the given directory, cascading chunks" in {
    val fs = newFs()
    fs.mkdirs(new Path("/tmp1/user1"))
    fs.mkdirs(new Path("/tmp1/local1"))
    val f1 = fs.create(new Path("/tmp1/testFile1"))
    f1.write("This is a test to check delete functionality".getBytes); f1.close()
    val f2 = fs.create(new Path("/tmp1/user1/file"))
    f2.write("This is a test to check delete functionality".getBytes); f2.close()
    fs.getFileStatus(new Path("/tmp1/local1")).isDirectory must be(true)
    fs.delete(new Path("/tmp1"), true) must be(true)
    an[FileNotFoundException] must be thrownBy fs.getFileStatus(new Path("/tmp1/local1"))
    an[FileNotFoundException] must be thrownBy fs.getFileStatus(new Path("/tmp1/user1/file"))
    an[FileNotFoundException] must be thrownBy fs.getFileStatus(new Path("/tmp1"))
    // data plane cascaded with the catalog
    fs.graftFs.chunkSummary("/tmp1").collect()(0).getAs[Long]("n_chunks") must be(0L)
  }

  it must "rename a file and a directory subtree" in {
    val fs = newFs()
    val f1 = fs.create(new Path("/tmp2/testRename"))
    f1.write("This is a test to check rename functionality".getBytes); f1.close()
    fs.rename(new Path("/tmp2/testRename"), new Path("/tmp2/newName")) must be(true)
    an[FileNotFoundException] must be thrownBy fs.getFileStatus(new Path("/tmp2/testRename"))
    fs.getFileStatus(new Path("/tmp2/newName")).isDirectory must be(false)
    // content rides along on the chunk plane
    val is = fs.open(new Path("/tmp2/newName"))
    val arr = new Array[Byte](44)
    is.readFully(0, arr); is.close()
    new String(arr) must be("This is a test to check rename functionality")
    // directory rename moves the subtree
    fs.rename(new Path("/tmp2"), new Path("/tmp3")) must be(true)
    fs.getFileStatus(new Path("/tmp3/newName")).getLen must be(44L)
  }

  it must "always throw on append and honor overwrite semantics" in {
    val fs = newFs()
    val out = fs.create(new Path("/ow/f"))
    out.write("first".getBytes); out.close()
    // IOException — the reference's exact type (AppendFileCommand.scala:38-40)
    val e = intercept[IOException](fs.append(new Path("/ow/f"), 4096, null))
    e.getMessage must be("Appending to existing file is not supported.")
    // overwrite=true (the Hadoop create(Path) default) replaces content
    val out2 = fs.create(new Path("/ow/f"))
    out2.write("second!".getBytes); out2.close()
    val is = fs.open(new Path("/ow/f"))
    val arr = new Array[Byte](7)
    is.readFully(0, arr); is.close()
    new String(arr) must be("second!")
  }

  it must "stream subblocks as they fill — chunk rows and per-block inode commits land BEFORE close" in {
    val fs = newFs()
    // 8/16 geometry: 20 bytes = subblocks (8, 8, 4); blocks (16, 4).
    // Mirrors FileSystemStreamSpec.scala:52-76's tiny-geometry contract.
    val out = fs.create(new Path("/stream/f"))
    out.write("ABCDEFGH".getBytes) // fills subblock 0 → flushed eagerly
    fs.graftFs.chunkSummary("/stream/f").collect()(0)
      .getAs[Long]("n_chunks") must be(1L)
    out.write("IJKLMNOPQRST".getBytes) // fills sb1 (block 0 commits) + 4 buffered
    fs.graftFs.chunkSummary("/stream/f").collect()(0)
      .getAs[Long]("n_chunks") must be(2L)
    // endBlock re-committed the inode with block 0 (16 bytes) — the
    // reference's per-block INode re-store (FileSystemOutputStream:103-120)
    fs.getFileStatus(new Path("/stream/f")).getLen must be(16L)
    out.close() // final partial subblock + inode commit
    fs.graftFs.chunkSummary("/stream/f").collect()(0)
      .getAs[Long]("n_chunks") must be(3L)
    fs.getFileStatus(new Path("/stream/f")).getLen must be(20L)
    val is = fs.open(new Path("/stream/f"))
    val arr = new Array[Byte](20)
    is.readFully(0, arr); is.close()
    new String(arr) must be("ABCDEFGHIJKLMNOPQRST")
  }

  it must "persist the buffered partial subblock on flush(), visible to readers before close" in {
    val fs = newFs()
    val out = fs.create(new Path("/fl/f"))
    out.write("ABC".getBytes) // 3 of 8 buffered — nothing persisted yet
    fs.getFileStatus(new Path("/fl/f")).getLen must be(0L)
    out.flush() // the reference persists the partial subblock (FileSystemOutputStream.scala:122-130)
    fs.getFileStatus(new Path("/fl/f")).getLen must be(3L)
    val pre = fs.open(new Path("/fl/f"))
    val got = new Array[Byte](3)
    pre.readFully(0, got); pre.close()
    new String(got) must be("ABC")
    // filling the subblock REPLACES the flushed partial row — never two
    // rows for one (block_id, sub_id) cell
    out.write("DEFGH".getBytes) // completes subblock 0
    fs.graftFs.chunkSummary("/fl/f").collect()(0)
      .getAs[Long]("n_chunks") must be(1L)
    out.flush() // flush with an empty buffer is a no-op
    fs.graftFs.chunkSummary("/fl/f").collect()(0)
      .getAs[Long]("n_chunks") must be(1L)
    out.write("IJ".getBytes)
    out.close()
    fs.getFileStatus(new Path("/fl/f")).getLen must be(10L)
    val is = fs.open(new Path("/fl/f"))
    val arr = new Array[Byte](10)
    is.readFully(0, arr); is.close()
    new String(arr) must be("ABCDEFGHIJ")
  }

  it must "clamp reads to the open-time length when the file is overwritten LONGER under the stream" in {
    val fs = newFs()
    val out = fs.create(new Path("/grow/f"))
    out.write("0123456789".getBytes); out.close() // 10 bytes, inside block 0
    val is = fs.open(new Path("/grow/f")) // snapshot fileLen = 10
    val out2 = fs.create(new Path("/grow/f")) // overwrite, 16 bytes
    out2.write("ABCDEFGHIJKLMNOP".getBytes); out2.close()
    // the documented divergence serves the NEW bytes — but never MORE
    // bytes than the snapshot length, on any read shape
    val buf = new Array[Byte](16)
    is.read(buf, 0, 16) must be(10)
    is.read() must be(-1)
    val pbuf = new Array[Byte](16)
    is.read(0L, pbuf, 0, 16) must be(10)
    is.close()
  }

  it must "treat double-close as a no-op and refuse writes after close" in {
    val fs = newFs()
    val out = fs.create(new Path("/dc/f"))
    out.write("0123456789".getBytes)
    out.close()
    out.close() // legal on Java/Hadoop streams — must not double chunk rows
    fs.graftFs.chunkSummary("/dc/f").collect()(0)
      .getAs[Long]("n_chunks") must be(2L)
    fs.getFileStatus(new Path("/dc/f")).getLen must be(10L)
    val e = intercept[IOException](out.write("more".getBytes))
    e.getMessage must include("Stream closed")
  }

  it must "read through a one-block cache: sequential, seek-back, positioned, and EOF" in {
    val fs = newFs()
    // 40 bytes = blocks (16, 16, 8) at the 8/16 geometry
    val payload = "0123456789abcdefghijklmnopqrstuvwxyzABCD"
    val out = fs.create(new Path("/bc/f"))
    out.write(payload.getBytes); out.close()
    val is = fs.open(new Path("/bc/f"))
    // sequential read crossing all three block boundaries
    val whole = new Array[Byte](40)
    is.readFully(whole)
    new String(whole) must be(payload)
    is.read() must be(-1) // EOF
    // seek back into an earlier block
    is.seek(5)
    is.read() must be('5'.toInt)
    // positioned read spanning a block boundary, without moving pos
    val cross = new Array[Byte](10)
    is.readFully(12L, cross)
    new String(cross) must be(payload.substring(12, 22))
    is.getPos must be(6L)
    an[IOException] must be thrownBy is.seek(41L)
    is.close()
    // empty file reads as immediate EOF without fetching anything
    val z = fs.create(new Path("/bc/empty")); z.close()
    val zs = fs.open(new Path("/bc/empty"))
    zs.read() must be(-1)
    zs.close()
  }

  it must "mount through Hadoop's fs.<scheme>.impl resolution like the reference (core-site.xml:29-32)" in {
    TestSpark.spark
    val conf = new Configuration(false)
    conf.set("fs.graftmnt.impl", classOf[GraftFileSystem].getName)
    conf.setInt("graft.subblock.size", 8)
    conf.setInt("graft.block.size", 16)
    conf.setBoolean("fs.graftmnt.impl.disable.cache", true)
    // the stock Hadoop factory path — no direct construction anywhere
    val fs = org.apache.hadoop.fs.FileSystem.get(
      URI.create("graftmnt://cluster"), conf)
    fs.getClass must be(classOf[GraftFileSystem])
    val out = fs.create(new Path("/mnt/hello"))
    out.write("resolved through the factory".getBytes); out.close()
    val is = fs.open(new Path("/mnt/hello"))
    val arr = new Array[Byte](28)
    is.readFully(0, arr); is.close()
    new String(arr) must be("resolved through the factory")
    fs.listStatus(new Path("/mnt")).length must be(1)
    fs.close()
  }

  it must "fail an open stream with IOException when the file vanishes mid-read" in {
    val fs = newFs()
    val out = fs.create(new Path("/gone/f"))
    out.write("0123456789abcdefghij".getBytes); out.close() // 2 blocks
    val is = fs.open(new Path("/gone/f"))
    is.read() must be('0'.toInt) // block 0 cached
    fs.delete(new Path("/gone/f"), false) must be(true)
    // the cached block still serves; the NEXT block fetch must fail
    // loudly (the reference's store NotFoundException analog), never
    // crash with an index error or stall in a read loop
    is.seek(16)
    val e = intercept[IOException] {
      var r = is.read()
      while (r != -1) r = is.read()
    }
    e.getMessage must include("no longer holds")
    val buf = new Array[Byte](4)
    an[IOException] must be thrownBy is.readFully(17L, buf)
    is.close()
  }

  it must "report block locations with replica hosts and start-pruning (SnackFSSpec.scala:242-269 scaled down)" in {
    val fs = newFs()
    val out = fs.create(new Path("/loc/f"))
    out.write("ABCDEFGHIJKLMNOPQRSTUVWX".getBytes) // 24 bytes = 2 blocks (16, 8)
    out.close()
    val st = fs.getFileStatus(new Path("/loc/f"))
    val locs = fs.getFileBlockLocations(st, 0, st.getLen)
    locs.length must be(2)
    locs.foreach { bl =>
      bl.getHosts.length must be(3)
      bl.getNames.foreach(_ must include(":"))
    }
    locs.map(_.getOffset).sorted must be(Array(0L, 16L))
    locs.map(_.getLength).sorted must be(Array(8L, 16L))
    // blocks ending before `start` are pruned (SnackFS.scala:138)
    fs.getFileBlockLocations(st, 17, st.getLen).length must be(1)
  }

  it must "keep metadata verbs O(touched), not O(cache), at a million inodes" in {
    // The parent→children index claim at NameNode scale: with 1M+
    // unrelated inodes resident, listStatus of a 5-child dir and a
    // small-subtree rename must cost the CHILD SET / SUBTREE, never a
    // full-cache sweep. Bounds are deliberately generous (indexed runs
    // are ~ms); the pre-index O(N)-per-verb code spends 10^9+ inode
    // visits on these loops and blows them by an order of magnitude.
    val fs = newFs()
    (0 until 5).foreach(i => fs.mkdirs(new Path(s"/small/c$i")))
    val n = 1_000_000
    var i = 0
    while (i < n) { fs.mkdirs(new Path(s"/big/d${i % 1000}/e$i")); i += 1 }
    // 2000 listings of the small dir: index answers from the child set
    val t0 = System.nanoTime()
    var reps = 0
    while (reps < 2000) {
      fs.listStatus(new Path("/small")).length must be(5)
      reps += 1
    }
    val listMs = (System.nanoTime() - t0) / 1e6
    // 200 small-subtree renames: index walks 6 nodes, not the cache
    val t1 = System.nanoTime()
    var r = 0
    while (r < 200) {
      fs.rename(new Path("/small"), new Path("/small2")) must be(true)
      fs.rename(new Path("/small2"), new Path("/small")) must be(true)
      r += 2
    }
    val renameMs = (System.nanoTime() - t1) / 1e6
    withClue(s"listStatus x2000 took ${listMs}ms, rename x200 ${renameMs}ms: ") {
      listMs must be < 2000.0
      renameMs must be < 2000.0
    }
    // and the big tree is still exact where it's touched
    fs.listStatus(new Path("/big/d7")).length must be(1000)
    fs.getFileStatus(new Path(s"/big/d999/e${n - 1}")).isDirectory must be(true)
    fs.close()
  }

  it must "sustain verb throughput with bounded p99 under a payload-write + compaction storm" in {
    // Pins THROUGHPUT: 4 writer threads drive real facade verbs
    // (create+write+close, rename, getFileStatus, delete) over payload
    // files sized to trigger folds, each fold writing a segment file
    // with the mutation lock released. Verb lock holds are pure
    // memory, so the gates are deliberately loose — an order of
    // magnitude below healthy numbers — and a regression that puts an
    // engine action back on the verb path (the pre-r11 shape: ~100 ms+
    // per verb) fails both by miles. Measured numbers go to PLANS.md
    // via info().
    //
    // Fold geometry is deliberately ADVERSARIAL (every write folds, so
    // every rename hits folded data): under the pre-r13 design this
    // exact configuration measured 57 verbs/s with 47 s p99 — the
    // folded plan grew unboundedly and each rename DOUBLED it
    // (2^renames). Renames are now payload-index re-keying, so even
    // this worst case runs at hundreds of verbs/s with ms-level p99.
    TestSpark.spark
    val fs = new GraftFileSystem
    val conf = new Configuration(false)
    conf.setInt("graft.subblock.size", 512)
    conf.setInt("graft.block.size", 1024)
    conf.setLong("graft.mount.fold.bytes", 2048)
    fs.initialize(URI.create("graftfs://stormperf"), conf)
    val nThreads = 4
    val runMillis = 6000L
    val lat = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val slow = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val payload = Array.tabulate[Byte](1500)(i => (i & 0xFF).toByte)
    val startNs = System.nanoTime()
    val inVerb = new java.util.concurrent.ConcurrentHashMap[Thread, (Long, String)]()
    val dumped = new java.util.concurrent.atomic.AtomicBoolean(false)
    val watchdog = new Thread(() => {
      while (!stop.get()) {
        Thread.sleep(500)
        inVerb.forEach { (th, v) =>
          if (System.nanoTime() - v._1 > 3e9 && dumped.compareAndSet(false, true)) {
            slow.add(s"STUCK ${v._2} stack: " + th.getStackTrace
              .take(14).mkString(" <- "))
          }
        }
      }
    }, "storm-watchdog")
    watchdog.setDaemon(true)
    val threads = (0 until nThreads).map { t =>
      new Thread(() => {
        try {
          var i = 0
          while (!stop.get()) {
            def timed(kind: String)(body: => Unit): Unit = {
              val t0 = System.nanoTime()
              inVerb.put(Thread.currentThread(), (t0, kind))
              body
              inVerb.remove(Thread.currentThread())
              val d = System.nanoTime() - t0
              lat.add(d)
              if (d > 200e6) slow.add(
                f"$kind at ${(t0 - startNs) / 1e9}%.1fs took ${d / 1e6}%.0fms")
            }
            val base = s"/storm/t$t/f$i"
            timed("create") { val o = fs.create(new Path(base))
              o.write(payload); o.close() }
            timed("rename") { fs.rename(new Path(base), new Path(s"$base-m")); () }
            timed("stat") { fs.getFileStatus(new Path(s"$base-m")); () }
            if (i % 4 == 3)
              timed("delete") { fs.delete(new Path(s"$base-m"), false); () }
            i += 1
          }
        } catch { case e: Throwable => errors.add(e) }
      }, s"storm-writer-$t")
    }
    val t0 = System.nanoTime()
    threads.foreach(_.start())
    watchdog.start()
    Thread.sleep(runMillis)
    stop.set(true)
    threads.foreach(_.join(30000))
    threads.exists(_.isAlive) must be(false)
    errors.forEach(e => fail(s"storm verb failed: $e", e))
    val wallSec = (System.nanoTime() - t0) / 1e9
    import scala.jdk.CollectionConverters._
    val ls = lat.asScala.toArray.sorted
    ls.length must be > 0
    val verbsPerSec = ls.length / wallSec
    val p50Ms = ls(ls.length / 2) / 1e6
    val p99Ms = ls(math.min(ls.length - 1, (ls.length * 99) / 100)) / 1e6
    info(f"storm: ${ls.length} verbs in $wallSec%.1f s = " +
      f"$verbsPerSec%.0f verbs/s, p50 $p50Ms%.2f ms, p99 $p99Ms%.2f ms")
    import scala.jdk.CollectionConverters._
    slow.asScala.toSeq.filter(_.startsWith("STUCK"))
      .foreach(s => info(s"  $s"))
    slow.asScala.toSeq.filterNot(_.startsWith("STUCK"))
      .sortBy(identity).takeRight(12).foreach(s => info(s"  slow: $s"))
    withClue(f"throughput $verbsPerSec%.0f verbs/s, p99 $p99Ms%.1f ms: ") {
      // measured at HEAD under this worst-case geometry: ~460 verbs/s,
      // p50 0.06 ms, p99 ~70 ms (committer-realistic 64 KiB folds run
      // ~9,400 verbs/s / p99 12 ms). Gates leave ~2x/3.5x slack for
      // box weather while still failing by 1-2 orders of magnitude on
      // any re-introduction of per-verb plan work — the pre-r13 design
      // measured 57 verbs/s with p99 47 s on this exact config.
      verbsPerSec must be >= 200.0
      p99Ms must be <= 250.0
    }
    fs.close()
  }

  it must "rename and delete a pathologically deep chain without blowing the stack" in {
    // subtreePaths walks the child index with an explicit stack — a
    // recursive walk at this depth overflows a constrained thread
    // stack while holding mutLock. Runs the verbs on a 512 KiB-stack
    // thread so a regression to recursion fails deterministically.
    val fs = newFs()
    val depth = 20000
    val deep = new StringBuilder("/deep")
    (0 until depth).foreach(i => deep.append(s"/c$i"))
    @volatile var err: Throwable = null
    val t = new Thread(null, () => {
      try {
        fs.mkdirs(new Path(deep.toString)) must be(true)
        fs.rename(new Path("/deep"), new Path("/deep2")) must be(true)
        fs.delete(new Path("/deep2"), true) must be(true)
      } catch { case e: Throwable => err = e }
    }, "deep-chain", 512 * 1024)
    t.start(); t.join(120000)
    t.isAlive must be(false)
    withClue(s"deep-chain verb failed: $err: ") { err must be(null) }
    fs.exists(new Path("/deep")) must be(false)
    fs.exists(new Path("/deep2")) must be(false)
    fs.close()
  }

  it must "never show readers a mid-rename or mid-delete state under a concurrent verb storm" in {
    // The second r11-review finding regression-proofed (PLANS.md r11:
    // lock-free readers over the entry-by-entry cache rewrite could
    // observe a live file at NEITHER path mid-rename — spurious
    // FileNotFound under committer-concurrent task commits). Readers
    // and mutators race for 1000+ flips; every atomic observation
    // (one listStatus call) must see exactly one of the two names.
    // Drop the reader-side locking in getFileStatus/listStatus and the
    // anomaly counter goes nonzero within a few rounds.
    val fs = newFs()
    fs.mkdirs(new Path("/flip"))
    val o = fs.create(new Path("/flip/a")); o.write("x".getBytes); o.close()
    val flips = 1000
    val anomalies = new java.util.concurrent.atomic.AtomicInteger
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    @volatile var done = false
    val renamer = new Thread(() => {
      try {
        var i = 0
        while (i < flips) {
          fs.rename(new Path("/flip/a"), new Path("/flip/b")) must be(true)
          fs.rename(new Path("/flip/b"), new Path("/flip/a")) must be(true)
          i += 2
        }
      } catch { case t: Throwable => errors.add(t) }
      finally done = true
    }, "flip-renamer")
    val readers = (0 until 3).map(r => new Thread(() => {
      try {
        while (!done) {
          val kids = fs.listStatus(new Path("/flip"))
          if (kids.length != 1) anomalies.incrementAndGet()
          else {
            val name = kids(0).getPath.getName
            if (name != "a" && name != "b") anomalies.incrementAndGet()
          }
        }
      } catch { case t: Throwable => errors.add(t) }
    }, s"flip-reader-$r"))
    // a committer-shaped sibling storm: concurrent creates+deletes in a
    // second dir exercise the child index under the same lock traffic
    val churner = new Thread(() => {
      try {
        var i = 0
        while (i < 300) {
          val p = new Path(s"/churn/t$i")
          val out = fs.create(p); out.write(i.toByte); out.close()
          if (i % 3 == 0) fs.delete(p, false)
          i += 1
        }
      } catch { case t: Throwable => errors.add(t) }
    }, "churner")
    (readers :+ renamer :+ churner).foreach(_.start())
    (readers :+ renamer :+ churner).foreach(_.join(120000))
    (readers :+ renamer :+ churner).exists(_.isAlive) must be(false)
    errors.forEach(t => fail(s"storm thread failed: $t", t))
    anomalies.get must be(0)
    // post-storm exactness: the flip file is back at /flip/a with its
    // payload, the churn dir holds exactly the non-deleted survivors
    fs.listStatus(new Path("/flip")).map(_.getPath.getName) must be(Array("a"))
    val in = fs.open(new Path("/flip/a"))
    try in.read() must be('x'.toInt) finally in.close()
    fs.listStatus(new Path("/churn")).length must be(300 - 100)
    fs.close()
  }

  behavior of "GraftFileSystem (committing mount of a state dir)"

  private val Sub = 512
  private val Block = 1024

  private def bytesOf(n: Int, seed: Int): Array[Byte] = {
    val b = new Array[Byte](n); new scala.util.Random(seed).nextBytes(b); b
  }

  /** A saved state holding /docs/a.bin (3 blocks) and /docs/b.bin, with
    * an empty wal. */
  private def savedState(): (String, Map[String, Array[Byte]]) = {
    val dir = java.nio.file.Files.createTempDirectory("graft-commit-state")
      .toString
    val files = Map("/docs/a.bin" -> bytesOf(3000, 1),
      "/docs/b.bin" -> bytesOf(700, 2))
    val store = new SharedStateStore(dir, Sub, Block)
    store.createKeyspace()
    store.storeINode(graft.catalog.FsCatalog.dirInode("/docs", "graft"))
    files.foreach { case (p, b) => store.storeFileData(p, b, "graft") }
    store.compact()
    (dir, files)
  }

  private def mountState(dir: String, foldBytes: Long = 64L << 20,
                         executor: Boolean = false): GraftFileSystem = {
    TestSpark.spark
    val conf = new Configuration(false)
    conf.setInt("graft.subblock.size", Sub)
    conf.setInt("graft.block.size", Block)
    conf.setLong("graft.mount.fold.bytes", foldBytes)
    conf.set("graft.mount.state.dir", dir)
    conf.setBoolean("graft.mount.executor.mode", executor)
    val fs = new GraftFileSystem
    fs.initialize(URI.create("graftfs://commit/"), conf)
    fs
  }

  /** The namespace as listStatus walks it: path → length (-1: dir). */
  private def listing(fs: GraftFileSystem): Map[String, Long] = {
    val out = Map.newBuilder[String, Long]
    def walk(d: String): Unit = {
      out += d -> -1L
      fs.listStatus(new Path(d)).foreach { st =>
        val p = st.getPath.toUri.getPath
        if (st.isDirectory) walk(p) else out += p -> st.getLen
      }
    }
    walk("/")
    out.result()
  }

  private def readAll(fs: GraftFileSystem, p: String): Array[Byte] = {
    val in = fs.open(new Path(p))
    try in.readAllBytes() finally in.close()
  }

  private def entries(dir: String, sub: String): Int = {
    val d = java.nio.file.Paths.get(dir, sub)
    if (!java.nio.file.Files.isDirectory(d)) 0
    else { val l = java.nio.file.Files.list(d); try l.count().toInt finally l.close() }
  }

  it must "fail close, rename, delete and mkdirs with an IOException when the commit fails" in {
    val (dir, files) = savedState()
    val fs = mountState(dir)
    val before = listing(fs)
    val out = fs.create(new Path("/docs/new.bin"))
    out.write(bytesOf(100, 3))
    // block the wal with a regular file where its dir goes (permission
    // bits would not stop a root writer)
    val wal = java.nio.file.Paths.get(dir, "wal")
    graft.PlanHygiene.deleteRecursively(wal)
    java.nio.file.Files.write(wal, Array.emptyByteArray)
    intercept[IOException](out.close())
    intercept[IOException](
      fs.rename(new Path("/docs/a.bin"), new Path("/docs/a2.bin")))
    intercept[IOException](fs.delete(new Path("/docs/b.bin"), false))
    intercept[IOException](fs.mkdirs(new Path("/made")))
    // a verb whose commit failed changed nothing in the mount either
    fs.getFileStatus(new Path("/docs/a.bin")).getLen must be(3000L)
    fs.exists(new Path("/docs/b.bin")) must be(true)
    fs.exists(new Path("/made")) must be(false)
    fs.close()
    java.nio.file.Files.delete(wal)
    val fresh = mountState(dir)
    try {
      listing(fresh) must be(before)
      files.foreach { case (p, b) => readAll(fresh, p) must be(b) }
    } finally fresh.close()
    graft.PlanHygiene.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  it must "commit every verb: a fresh and an executor-mode mount read the namespace back exactly" in {
    val (dir, files) = savedState()
    val fs = mountState(dir, foldBytes = 1024)
    val big = bytesOf(5000, 4)
    val out = fs.create(new Path("/w/big.bin"))
    out.write(big)
    entries(dir, "data") must be > 0 // folded into the state before close
    out.close()
    fs.mkdirs(new Path("/made/here")) must be(true)
    // each rename is one wal delta and writes no payload
    def renamed(src: String, dst: String): Unit = {
      val (w, d) = (entries(dir, "wal"), entries(dir, "data"))
      fs.rename(new Path(src), new Path(dst)) must be(true)
      (entries(dir, "wal"), entries(dir, "data")) must be((w + 1, d))
    }
    renamed("/docs/a.bin", "/docs/a-moved.bin")
    fs.delete(new Path("/docs/b.bin"), false) must be(true)
    renamed("/w/big.bin", "/w/big2.bin")
    renamed("/w/big2.bin", "/made/big.bin")
    val expected = Map("/" -> -1L, "/docs" -> -1L, "/w" -> -1L,
      "/made" -> -1L, "/made/here" -> -1L,
      "/docs/a-moved.bin" -> 3000L, "/made/big.bin" -> 5000L)
    listing(fs) must be(expected)
    fs.close()
    val bytes = Map("/docs/a-moved.bin" -> files("/docs/a.bin"),
      "/made/big.bin" -> big)
    Seq(mountState(dir), mountState(dir, executor = true)).foreach { m =>
      try {
        listing(m) must be(expected)
        bytes.foreach { case (p, b) => readAll(m, p) must be(b) }
      } finally m.close()
    }
    graft.PlanHygiene.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  it must "fail a commit that names a base version compaction pruned, keeping the committed bytes" in {
    val (dir, files) = savedState()
    val fs = mountState(dir)
    fs.rename(new Path("/docs/a.bin"), new Path("/docs/x.bin")) must be(true)
    // another writer of the state folds the wal into a new version
    new SharedStateStore(dir, Sub, Block).compact()
    // the mount's reference names the pruned version: a loud failure,
    // never a reference resolved against the new version's keys
    intercept[IOException](
      fs.rename(new Path("/docs/x.bin"), new Path("/docs/y.bin")))
    fs.close()
    val fresh = mountState(dir)
    try {
      fresh.exists(new Path("/docs/y.bin")) must be(false)
      readAll(fresh, "/docs/x.bin") must be(files("/docs/a.bin"))
    } finally fresh.close()
    graft.PlanHygiene.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  it must "commit a file renamed while open at its new path when it closes" in {
    val (dir, _) = savedState()
    val fs = mountState(dir, foldBytes = 1024)
    val bytes = bytesOf(3000, 5)
    val out = fs.create(new Path("/docs/open.bin"))
    out.write(bytes, 0, 2000) // folds part of it into data/
    fs.rename(new Path("/docs"), new Path("/moved")) must be(true)
    out.write(bytes, 2000, 1000)
    out.close()
    fs.exists(new Path("/docs/open.bin")) must be(false)
    readAll(fs, "/moved/open.bin") must be(bytes)
    fs.close()
    val fresh = mountState(dir)
    try {
      fresh.exists(new Path("/docs")) must be(false)
      readAll(fresh, "/moved/open.bin") must be(bytes)
    } finally fresh.close()
    graft.PlanHygiene.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  it must "delete at unmount the data files no commit named" in {
    val (dir, _) = savedState()
    val fs = mountState(dir, foldBytes = 1024)
    val out = fs.create(new Path("/docs/tmp.bin"))
    out.write(bytesOf(3000, 6)) // folds into data/ before close
    entries(dir, "data") must be > 0
    fs.delete(new Path("/docs/tmp.bin"), false) must be(true)
    out.close()
    fs.close()
    entries(dir, "data") must be(0)
    graft.PlanHygiene.deleteRecursively(java.nio.file.Paths.get(dir))
  }
}
