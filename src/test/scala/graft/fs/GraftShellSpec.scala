package graft.fs

import java.nio.file.Files

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.must.Matchers
import org.apache.spark.sql.functions._

import graft.TestSpark
import graft.catalog.CatalogBuilder

/** run(argv) → verb dispatch (SnackFSShell.scala:553-731): arity errors,
  * glob-aware path resolution, exit-code conventions, the getmerge
  * [addnl] flag, and error-message mapping.
  */
class GraftShellSpec extends AnyFlatSpec with Matchers {
  private lazy val spark = TestSpark.spark

  // /a/f1 (10B), /a/f2 (20B), /a/sub/f3 (30B), /b.txt (5B) + payloads
  private def newShell(): GraftShell = {
    val cat = CatalogBuilder.fromEntries(spark, Seq(
      ("/", true, 0L),
      ("/a", true, 0L),
      ("/a/f1", false, 10L),
      ("/a/f2", false, 20L),
      ("/a/sub", true, 0L),
      ("/a/sub/f3", false, 30L),
      ("/b.txt", false, 5L)))
    val files = spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row("/a/f1", "0123456789".getBytes),
      org.apache.spark.sql.Row("/a/f2", "abcdefghijklmnopqrst".getBytes),
      org.apache.spark.sql.Row("/a/sub/f3", ("x" * 30).getBytes),
      org.apache.spark.sql.Row("/b.txt", "hello".getBytes)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("path",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("data",
          org.apache.spark.sql.types.BinaryType))))
    new GraftShell(GraftFs(cat, DataPlane.chunk(files, 4, 8)),
      FsContext.initialize("graftfs://test"))
  }

  /** `dir`'s namespace as a state-dir mount bootstraps it (saved
    * version plus wal overlay); the caller closes the mount. */
  private def mounted(dir: java.nio.file.Path): (GraftFileSystem, GraftFs) = {
    val m = GraftShellMain.stateMount(spark, Some(dir.toString))
    (m, m.graftFs)
  }

  it must "arity-check verbs and reject unknown commands with usage text" in {
    val sh = newShell()
    val r1 = sh.run(Array("-mv", "/a/f1"))
    r1.code must be(-1)
    r1.err.head must include("-mv <src> <dst>")
    val r2 = sh.run(Array("-frobnicate", "/a"))
    r2.code must be(-1)
    r2.err.head must be("Unknown command: -frobnicate")
  }

  it must "ls with the Found-N header, expand globs, and error on no match" in {
    val sh = newShell()
    val r = sh.run(Array("-ls", "/a"))
    r.code must be(0)
    r.out.head must be("Found 3 items")
    val g = sh.run(Array("-ls", "/a/f*"))
    g.code must be(0)
    g.out.head must be("Found 2 items")
    val miss = sh.run(Array("-ls", "/zzz*"))
    miss.code must be(-1)
    miss.err.head must include("No such file or directory")
  }

  it must "cat/tail/text through the data plane and map errors to stderr" in {
    val sh = newShell()
    sh.run(Array("-cat", "/a/f1")).out.head must be("0123456789")
    sh.run(Array("-tail", "/b.txt")).out.head must be("hello")
    sh.run(Array("-text", "/b.txt")).out.head must be("hello")
    val e = sh.run(Array("-cat", "/a"))
    e.code must be(-1)
    e.err.head must be("-cat: /a is a directory")
  }

  it must "mutate state through mv/rm/rmr/mkdir/touchz and answer test probes" in {
    val sh = newShell()
    sh.run(Array("-mkdir", "/newdir")).code must be(0)
    sh.run(Array("-test", "-d", "/newdir")).code must be(0)
    sh.run(Array("-touchz", "/newdir/z")).code must be(0)
    sh.run(Array("-test", "-z", "/newdir/z")).code must be(0)
    sh.run(Array("-mv", "/a/f1", "/newdir/f1")).code must be(0)
    sh.run(Array("-cat", "/newdir/f1")).out.head must be("0123456789")
    sh.run(Array("-test", "-e", "/a/f1")).code must be(1)
    sh.run(Array("-rmr", "/a")).code must be(0)
    sh.run(Array("-test", "-e", "/a/sub/f3")).code must be(1)
    // glob rm of remaining files
    sh.run(Array("-rm", "/newdir/*")).code must be(0)
    sh.run(Array("-test", "-e", "/newdir/f1")).code must be(1)
  }

  it must "getmerge locally with and without the addnl flag" in {
    val sh = newShell()
    val plain = Files.createTempFile("graft-shell-merge", ".bin")
    sh.run(Array("-getmerge", "/a/", plain.toString)).code must be(0)
    new String(Files.readAllBytes(plain)) must be(
      "0123456789" + "abcdefghijklmnopqrst" + ("x" * 30))
    val withNl = Files.createTempFile("graft-shell-merge-nl", ".bin")
    sh.run(Array("-getmerge", "/a/", withNl.toString, "true")).code must be(0)
    new String(Files.readAllBytes(withNl)) must be(
      "0123456789\n" + "abcdefghijklmnopqrst\n" + ("x" * 30) + "\n")
    Files.delete(plain); Files.delete(withNl)
  }

  it must "map missing/dir/arg errors to stderr across every verb family" in {
    val sh = newShell()
    sh.run(Array("-dus", "/nope")).code must be(-1)
    sh.run(Array("-count", "/nope")).code must be(-1)
    sh.run(Array("-du", "/nope")).code must be(-1)
    sh.run(Array("-text", "/a")).err.head must be("-text: /a is a directory")
    sh.run(Array("-tail", "/a")).err.head must be("-tail: /a is a directory")
    sh.run(Array("-text", "/nope")).code must be(-1)
    sh.run(Array("-getmerge", "/a", "/tmp/x", "maybe")).err.head must
      include("invalid addnl flag")
  }

  it must "put multiple local sources into a directory destination" in {
    val sh = newShell()
    val l1 = Files.createTempFile("graft-multi-put-1", ".txt")
    val l2 = Files.createTempFile("graft-multi-put-2", ".txt")
    Files.write(l1, "one".getBytes); Files.write(l2, "two".getBytes)
    // multiple sources need an existing dir destination
    val bad = sh.run(Array("-put", l1.toString, l2.toString, "/multi/missing"))
    bad.code must be(-1)
    bad.err.head must include("should be a directory")
    sh.run(Array("-mkdir", "/multi")).code must be(0)
    sh.run(Array("-put", l1.toString, l2.toString, "/multi")).code must be(0)
    sh.run(Array("-cat", s"/multi/${l1.getFileName}")).out.head must be("one")
    sh.run(Array("-cat", s"/multi/${l2.getFileName}")).out.head must be("two")
    Files.delete(l1); Files.delete(l2)
  }

  it must "refuse a duplicate put instead of silently doubling chunk rows" in {
    val sh = newShell()
    val local = Files.createTempFile("graft-shell-dup", ".txt")
    Files.write(local, "payload".getBytes)
    sh.run(Array("-put", local.toString, "/dup/f")).code must be(0)
    val again = sh.run(Array("-put", local.toString, "/dup/f"))
    again.code must be(-1)
    again.err.head must include("already exists")
    // put INTO an existing dir lands at dir/<basename>
    sh.run(Array("-put", local.toString, "/dup")).code must be(0)
    sh.run(Array("-test", "-e", s"/dup/${local.getFileName}")).code must be(0)
    Files.delete(local)
  }

  it must "rm an EMPTY matched directory via glob, like the literal verb" in {
    val sh = newShell()
    sh.run(Array("-mkdir", "/empty1")).code must be(0)
    sh.run(Array("-rm", "/empty[1]")).code must be(0)
    sh.run(Array("-test", "-e", "/empty1")).code must be(1)
    // non-empty matched dir still refuses without -rmr
    sh.run(Array("-rm", "/[a]")).code must be(-1)
  }

  it must "glob-expand -cat/-text sources and keep going on per-arg failures (doall)" in {
    val sh = newShell()
    val r = sh.run(Array("-cat", "/a/f*"))
    r.code must be(0)
    r.out must be(Seq("0123456789", "abcdefghijklmnopqrst"))
    // multiple args: the failure prints, the rest still cats, exit -1
    val mixed = sh.run(Array("-cat", "/nope", "/b.txt"))
    mixed.code must be(-1)
    mixed.out must be(Seq("hello"))
    mixed.err.head must startWith("-cat:")
    // glob matching nothing → the globStatus FNFE wording
    val miss = sh.run(Array("-text", "/zzz*"))
    miss.code must be(-1)
    miss.err.head must be("-text: Cannot access /zzz*: No such file or directory.")
  }

  it must "glob-expand -mv/-cp sources with the directory-destination matrix" in {
    val sh = newShell()
    // -cp into an existing dir redirects to dir/<basename> (checkDest)
    sh.run(Array("-mkdir", "/dest")).code must be(0)
    sh.run(Array("-cp", "/a/f*", "/dest")).code must be(0)
    sh.run(Array("-cat", "/dest/f1")).out.head must be("0123456789")
    sh.run(Array("-cat", "/dest/f2")).out.head must be("abcdefghijklmnopqrst")
    // multi-match -mv keeps the reference quirk: RenameCommand throws
    // "Destination already exists" per source even for a dir destination
    val mv = sh.run(Array("-mv", "/dest/f*", "/a/sub"))
    mv.code must be(-1)
    mv.err.foreach(_ must include("Destination already exists"))
    // multi-source without a dir destination refuses up front
    val bad = sh.run(Array("-cp", "/a/f1", "/b.txt", "/flat"))
    bad.code must be(-1)
    bad.err.head must include("should be a directory")
    // single mv through a glob still works when the destination is free
    sh.run(Array("-mv", "/a/f[1]", "/moved")).code must be(0)
    sh.run(Array("-cat", "/moved")).out.head must be("0123456789")
  }

  it must "error on -du/-getmerge no-match instead of silent empty output" in {
    val sh = newShell()
    val du = sh.run(Array("-du", "/zzz*"))
    du.code must be(-1)
    du.err.head must be("-du: Cannot access /zzz*: No such file or directory.")
    val gm = sh.run(Array("-getmerge", "/nope", "/tmp/graft-gm-miss.bin"))
    gm.code must be(-1)
    gm.err.head must startWith("-getmerge:")
    java.nio.file.Files.exists(
      java.nio.file.Paths.get("/tmp/graft-gm-miss.bin")) must be(false)
  }

  it must "accept -count -q (unset quotas) and -get crc flags as documented no-ops" in {
    val sh = newShell()
    val plain = sh.run(Array("-count", "/a"))
    plain.code must be(0)
    val q = sh.run(Array("-count", "-q", "/a"))
    q.code must be(0)
    q.out.head must include("none")
    q.out.head must include("inf")
    q.out.head must endWith(plain.out.head) // quota columns prefix the same triple
    val local = Files.createTempFile("graft-shell-crc", ".txt")
    sh.run(Array("-get", "-ignoreCrc", "/b.txt", local.toString)).code must be(0)
    new String(Files.readAllBytes(local)) must be("hello")
    sh.run(Array("-get", "-crc", "/b.txt")).code must be(-1) // flags don't count toward arity
    Files.delete(local)
  }

  it must "apply -ls/-du/-dus/-mkdir/-touchz per argument in the doall loop" in {
    val sh = newShell()
    sh.run(Array("-mkdir", "/m1", "/m2")).code must be(0)
    sh.run(Array("-test", "-d", "/m2")).code must be(0)
    sh.run(Array("-touchz", "/m1/za", "/m2/zb")).code must be(0)
    sh.run(Array("-test", "-z", "/m2/zb")).code must be(0)
    val ls = sh.run(Array("-ls", "/m1", "/m2"))
    ls.code must be(0)
    ls.out.count(_.startsWith("Found")) must be(2)
    // failures print per argument and the remaining arguments still run
    val mixed = sh.run(Array("-du", "/nope", "/a"))
    mixed.code must be(-1)
    mixed.err.head must startWith("-du:")
    mixed.out.nonEmpty must be(true)
    sh.run(Array("-dus", "/m1", "/m2")).out.length must be(2)
  }

  it must "glob-expand -get into a local directory" in {
    val sh = newShell()
    val dir = Files.createTempDirectory("graft-shell-getglob")
    sh.run(Array("-get", "/a/f*", dir.toString)).code must be(0)
    new String(Files.readAllBytes(dir.resolve("f1"))) must be("0123456789")
    new String(Files.readAllBytes(dir.resolve("f2"))) must be("abcdefghijklmnopqrst")
    // multiple matches need a directory destination
    val bad = sh.run(Array("-get", "/a/f*", dir.resolve("one-file").toString))
    bad.code must be(-1)
    bad.err.head must include("should be a directory")
    dir.toFile.listFiles.foreach(_.delete()); Files.delete(dir)
  }

  it must "round-trip put → du → get and report byte totals" in {
    val sh = newShell()
    val local = Files.createTempFile("graft-shell-put", ".txt")
    Files.write(local, "local payload".getBytes)
    sh.run(Array("-put", local.toString, "/up/loaded")).code must be(0)
    sh.run(Array("-test", "-e", "/up/loaded")).code must be(0)
    val du = sh.run(Array("-du", "/up"))
    du.code must be(0)
    du.out.head.trim must startWith("13")
    val back = Files.createTempFile("graft-shell-get", ".txt")
    sh.run(Array("-get", "/up/loaded", back.toString)).code must be(0)
    new String(Files.readAllBytes(back)) must be("local payload")
    Files.delete(local); Files.delete(back)
  }

  it must "chunk -put uploads with the session's spark.graft.* geometry" in {
    // the reference reads snackfs.{block,subblock}.size from
    // core-site.xml (core-site.xml:37-44); the spark.conf surface must
    // reach the shell's write path the same way
    spark.conf.set(GraftConfig.SubBlockSizeKey, "4")
    spark.conf.set(GraftConfig.BlockSizeKey, "8")
    try {
      val sh = newShell()
      val local = Files.createTempFile("graft-shell-geo", ".txt")
      Files.write(local, ("y" * 10).getBytes) // 10 B → 3 subblocks, 2 blocks
      sh.run(Array("-put", local.toString, "/geo")).code must be(0)
      val s = sh.fs
      try {
        val rows = s.chunks.filter(col("path") === "/geo")
          .select("block_id", "sub_id", "length")
          .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).sorted
        rows.toSeq must be(Seq((0, 0, 4L), (0, 1, 4L), (1, 0, 2L)))
        // the inode's block metadata follows the same override
        s.catalog.retrieve("/geo").get.blocks.map(_.length) must be(
          Seq(8L, 2L))
      } finally sh.releaseSnapshot(s)
      Files.delete(local)
    } finally {
      spark.conf.unset(GraftConfig.SubBlockSizeKey)
      spark.conf.unset(GraftConfig.BlockSizeKey)
    }
  }

  it must "reject an invalid spark.graft.* geometry loudly" in {
    spark.conf.set(GraftConfig.SubBlockSizeKey, "5")
    spark.conf.set(GraftConfig.BlockSizeKey, "8") // not a multiple
    try {
      an[IllegalArgumentException] must be thrownBy
        GraftConfig.geometry(spark)
    } finally {
      spark.conf.unset(GraftConfig.SubBlockSizeKey)
      spark.conf.unset(GraftConfig.BlockSizeKey)
    }
  }

  it must "name the offending conf key on a non-numeric geometry value" in {
    spark.conf.set(GraftConfig.BlockSizeKey, "eight")
    try {
      val e = the[IllegalArgumentException] thrownBy
        GraftConfig.geometry(spark)
      e.getMessage must include(GraftConfig.BlockSizeKey)
      e.getMessage must include("eight")
    } finally spark.conf.unset(GraftConfig.BlockSizeKey)
  }

  it must "persist and reload CLI state through GraftShellMain's helpers" in {
    // consecutive bin/graftfs invocations share the filesystem through
    // GRAFT_FS_STATE (the Cassandra-persistence analog) — pin the
    // save/load round trip the main wires around every mutating verb
    val dir = Files.createTempDirectory("graft-shell-state")
    val sh = new GraftShell(GraftShellMain.emptyFs(spark),
      FsContext.initialize("graftfs://test"))
    sh.run(Array("-mkdir", "/persisted")).code must be(0)
    sh.run(Array("-touchz", "/persisted/marker")).code must be(0)
    val snap = sh.fs
    try GraftShellMain.saveFs(snap, dir.toString)
    finally sh.releaseSnapshot(snap)
    sh.close()
    val (m, re) = mounted(dir)
    re.catalog.retrieve("/persisted").exists(_.isDir) must be(true)
    re.catalog.retrieve("/persisted/marker").exists(!_.isDir) must be(true)
    m.close()
    val w = Files.walk(dir)
    try w.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.deleteIfExists(p))
    finally w.close()
  }

  it must "survive a torn save: CURRENT only ever names a complete version" in {
    // saveFs commits by atomically flipping the CURRENT pointer AFTER
    // both planes land — simulate the crash windows and pin that load
    // either sees the previous complete state or reports none, never
    // dies on a catalog-without-chunks wreck
    val dir = Files.createTempDirectory("graft-shell-torn")
    val sh = new GraftShell(GraftShellMain.emptyFs(spark),
      FsContext.initialize("graftfs://test"))
    sh.run(Array("-touchz", "/committed")).code must be(0)
    val snap = sh.fs
    try GraftShellMain.saveFs(snap, dir.toString)
    finally sh.releaseSnapshot(snap)
    sh.close()
    // crash window 1: a later save died after writing its catalog but
    // before its chunks (and before the pointer flip)
    val halfVersion = dir.resolve("v9999999999999999999")
    Files.createDirectories(halfVersion.resolve("catalog"))
    GraftShellMain.currentStateDir(dir.toString) must be(defined)
    val (m, re) = mounted(dir)
    re.catalog.retrieve("/committed").isDefined must be(true)
    m.close()
    // crash window 2: the legacy flat layout with catalog but no
    // chunks must read as "no state" (empty-fs fallback), not throw
    val flat = Files.createTempDirectory("graft-shell-flat")
    Files.createDirectories(flat.resolve("catalog"))
    GraftShellMain.currentStateDir(flat.toString) must be(empty)
    Seq(dir, flat).foreach { d =>
      val w = Files.walk(d)
      try w.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
      finally w.close()
    }
  }

  it must "keep persisted state one version deep after repeated saves" in {
    val dir = Files.createTempDirectory("graft-shell-prune")
    val sh = new GraftShell(GraftShellMain.emptyFs(spark),
      FsContext.initialize("graftfs://test"))
    sh.run(Array("-touchz", "/a")).code must be(0)
    val s1 = sh.fs
    try GraftShellMain.saveFs(s1, dir.toString)
    finally sh.releaseSnapshot(s1)
    // plant a torn-save orphan (planes written, pointer never flipped):
    // the NEXT successful save must sweep it too, not just the version
    // CURRENT names — repeated torn saves must not grow the dir
    Files.createDirectories(dir.resolve("v0000000000000000001/catalog"))
    sh.run(Array("-touchz", "/b")).code must be(0)
    val s2 = sh.fs
    try GraftShellMain.saveFs(s2, dir.toString)
    finally sh.releaseSnapshot(s2)
    sh.close()
    val versions = {
      val l = Files.list(dir)
      try {
        import scala.jdk.CollectionConverters._
        l.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("v")).toSeq
      } finally l.close()
    }
    versions.size must be(1) // superseded version pruned
    val (m, re) = mounted(dir)
    re.catalog.retrieve("/a").isDefined must be(true)
    re.catalog.retrieve("/b").isDefined must be(true)
    m.close()
    val w = Files.walk(dir)
    try w.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.deleteIfExists(p))
    finally w.close()
  }

  behavior of "bin/graftfs (process-boundary wrapper)"

  it must "exec the shell JVM from a spawned process like the reference script" in {
    // the reference ships src/main/scripts/snackfs:35 exec'ing the
    // shell class; bin/graftfs is its counterpart — spawn it for real
    // and assert the -help fast path answers over the process boundary
    val repo = new java.io.File(sys.props.getOrElse("user.dir", "."))
    val script = new java.io.File(repo, "bin/graftfs")
    assume(script.canExecute, "bin/graftfs missing or not executable")
    val pb = new ProcessBuilder(script.getAbsolutePath, "-help", "-ls")
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    p.waitFor(60, java.util.concurrent.TimeUnit.SECONDS) must be(true)
    p.exitValue() must be(0)
    out must include("-ls")
    // an unknown-verb invocation must exit non-zero through the same
    // boundary (exit codes are part of the CLI contract)
    val bad = new ProcessBuilder(script.getAbsolutePath).start()
    bad.waitFor(60, java.util.concurrent.TimeUnit.SECONDS) must be(true)
    bad.exitValue() must not be 0
  }

  it must "share filesystem state across real CLI invocations via GRAFT_FS_STATE" in {
    // consecutive bin/graftfs PROCESSES are the reference's consecutive
    // shell runs against one Cassandra keyspace: a mutating verb in one
    // JVM must be visible to a read verb in the next. This is the only
    // test of GraftShellMain.main's state wiring (load gate → verb →
    // versioned atomic re-save) over the true process boundary.
    val repo = new java.io.File(sys.props.getOrElse("user.dir", "."))
    val script = new java.io.File(repo, "bin/graftfs")
    assume(script.canExecute, "bin/graftfs missing or not executable")
    val state = Files.createTempDirectory("graft-cli-state")
    try {
      def run(args: String*): (Int, String) = {
        // output goes to a FILE, read only after the BOUNDED waitFor: a
        // wedged child that never closes stdout must fail the 180 s
        // bound loudly, not hang the suite in readAllBytes
        val outFile = Files.createTempFile("graft-cli-out", ".txt")
        val pb = new ProcessBuilder((script.getAbsolutePath +: args): _*)
        pb.environment().put("GRAFT_FS_STATE", state.toString)
        pb.environment().put("GRAFT_MASTER", "local[2]")
        pb.redirectErrorStream(true)
        pb.redirectOutput(outFile.toFile)
        val p = pb.start()
        val done = p.waitFor(180, java.util.concurrent.TimeUnit.SECONDS)
        if (!done) p.destroyForcibly()
        done must be(true)
        val out = new String(Files.readAllBytes(outFile), "UTF-8")
        Files.deleteIfExists(outFile)
        (p.exitValue(), out)
      }
      run("-mkdir", "/persisted")._1 must be(0)
      val (code, out) = run("-ls", "/")
      code must be(0)
      out must include("/persisted")
      // the persisted layout is the versioned atomic one: a CURRENT
      // pointer naming a complete version dir
      Files.exists(state.resolve("CURRENT")) must be(true)
    } finally graft.PlanHygiene.deleteRecursively(state)
  }

  it must "commit a CLI -mkdir as one wal delta, whatever the namespace size" in {
    // a mutating invocation commits O(verb) into the state dir: one wal
    // delta, no new version — never a rewrite of the namespace
    val repo = new java.io.File(sys.props.getOrElse("user.dir", "."))
    val script = new java.io.File(repo, "bin/graftfs")
    assume(script.canExecute, "bin/graftfs missing or not executable")
    val state = Files.createTempDirectory("graft-cli-o1")
    def names(sub: String, prefix: String): Set[String] = {
      val d = state.resolve(sub)
      if (!Files.isDirectory(d)) Set.empty
      else {
        val l = Files.list(d)
        try {
          import scala.jdk.CollectionConverters._
          l.iterator().asScala.map(_.getFileName.toString)
            .filter(_.startsWith(prefix)).toSet
        } finally l.close()
      }
    }
    try {
      // a saved state of 120 files with an empty wal
      val store = new SharedStateStore(state.toString)
      store.createKeyspace()
      store.storeINode(graft.catalog.FsCatalog.dirInode("/n", "graft"))
      (0 until 120).foreach(i =>
        store.storeFileData(s"/n/f$i", s"payload-$i".getBytes("UTF-8"), "graft"))
      store.compact()
      names("wal", "d") must be(empty)
      val versions = names("", "v")
      versions.size must be(1)
      def run(args: String*): (Int, String) = {
        val outFile = Files.createTempFile("graft-cli-out", ".txt")
        val pb = new ProcessBuilder((script.getAbsolutePath +: args): _*)
        pb.environment().put("GRAFT_FS_STATE", state.toString)
        pb.environment().put("GRAFT_MASTER", "local[2]")
        pb.redirectErrorStream(true)
        pb.redirectOutput(outFile.toFile)
        val p = pb.start()
        val done = p.waitFor(180, java.util.concurrent.TimeUnit.SECONDS)
        if (!done) p.destroyForcibly()
        done must be(true)
        val out = new String(Files.readAllBytes(outFile), "UTF-8")
        Files.deleteIfExists(outFile)
        (p.exitValue(), out)
      }
      run("-mkdir", "/made")._1 must be(0)
      names("wal", "d").size must be(1)
      names("", "v") must be(versions)
      val (code, out) = run("-ls", "/")
      code must be(0)
      out must include("/made")
      out must include("/n")
    } finally graft.PlanHygiene.deleteRecursively(state)
  }

  it must "serialize CONCURRENT mutating CLI invocations without losing updates" in {
    // r17 (supersedes the single-driver documented contract): the
    // reference's CLI is multi-client by nature — any number of
    // `snackfs fs -<verb>` processes mutate one keyspace. Here four
    // REAL bin/graftfs processes race mutating verbs against one
    // GRAFT_FS_STATE; each brackets its load→verb→save cycle under the
    // shared namespace lock, so the final namespace must hold EVERY
    // invocation's dir. Without the lock this test fails: concurrent
    // cycles load the same version and the last save wins, silently
    // dropping the others' mkdirs.
    val repo = new java.io.File(sys.props.getOrElse("user.dir", "."))
    val script = new java.io.File(repo, "bin/graftfs")
    assume(script.canExecute, "bin/graftfs missing or not executable")
    val state = Files.createTempDirectory("graft-cli-concurrent")
    try {
      def run(args: String*): (Int, String) = {
        val outFile = Files.createTempFile("graft-cli-out", ".txt")
        val pb = new ProcessBuilder((script.getAbsolutePath +: args): _*)
        pb.environment().put("GRAFT_FS_STATE", state.toString)
        pb.environment().put("GRAFT_MASTER", "local[2]")
        pb.redirectErrorStream(true)
        pb.redirectOutput(outFile.toFile)
        val p = pb.start()
        val done = p.waitFor(300, java.util.concurrent.TimeUnit.SECONDS)
        if (!done) p.destroyForcibly()
        done must be(true)
        val out = new String(Files.readAllBytes(outFile), "UTF-8")
        Files.deleteIfExists(outFile)
        (p.exitValue(), out)
      }
      run("-mkdir", "/seed")._1 must be(0) // bootstrap CURRENT
      val procs = (1 to 4).map { i =>
        val outFile = Files.createTempFile(s"graft-cli-c$i-", ".txt")
        val pb = new ProcessBuilder(script.getAbsolutePath,
          "-mkdir", s"/c$i")
        pb.environment().put("GRAFT_FS_STATE", state.toString)
        pb.environment().put("GRAFT_MASTER", "local[2]")
        pb.redirectErrorStream(true)
        pb.redirectOutput(outFile.toFile)
        (pb.start(), outFile)
      }
      procs.foreach { case (p, f) =>
        val done = p.waitFor(300, java.util.concurrent.TimeUnit.SECONDS)
        if (!done) p.destroyForcibly()
        withClue(new String(Files.readAllBytes(f), "UTF-8") + ": ") {
          done must be(true)
          p.exitValue() must be(0)
        }
        Files.deleteIfExists(f)
        ()
      }
      // the lost-update assertion
      val (code, out) = run("-ls", "/")
      code must be(0)
      out must include("/seed")
      (1 to 4).foreach(i => out must include(s"/c$i"))
    } finally graft.PlanHygiene.deleteRecursively(state)
  }

  it must "die loudly (not silently reset) when CURRENT names a missing version" in {
    // a CURRENT pointer only ever appears after a committed save, so
    // CURRENT-without-its-version-dir means committed state vanished
    // (disk damage / concurrent CLIs / manual deletion). Pre-fix the
    // gate fell back to an EMPTY filesystem and the next mutating verb
    // re-saved — permanently discarding the committed state with no
    // error; now the process must refuse with a distinct exit code and
    // leave the damaged state dir untouched for repair.
    val repo = new java.io.File(sys.props.getOrElse("user.dir", "."))
    val script = new java.io.File(repo, "bin/graftfs")
    assume(script.canExecute, "bin/graftfs missing or not executable")
    val state = Files.createTempDirectory("graft-cli-damaged")
    try {
      Files.write(state.resolve("CURRENT"), "v123".getBytes("UTF-8"))
      val outFile = Files.createTempFile("graft-cli-out", ".txt")
      val pb = new ProcessBuilder(script.getAbsolutePath, "-mkdir", "/x")
      pb.environment().put("GRAFT_FS_STATE", state.toString)
      pb.environment().put("GRAFT_MASTER", "local[2]")
      pb.redirectErrorStream(true)
      pb.redirectOutput(outFile.toFile)
      val p = pb.start()
      val done = p.waitFor(180, java.util.concurrent.TimeUnit.SECONDS)
      if (!done) p.destroyForcibly()
      done must be(true)
      val out = new String(Files.readAllBytes(outFile), "UTF-8")
      Files.deleteIfExists(outFile)
      p.exitValue() must be(254)
      out must include("missing or incomplete")
      // nothing was re-saved over the damage: the pointer still names
      // the vanished version and no new v* dir appeared
      new String(Files.readAllBytes(state.resolve("CURRENT")), "UTF-8")
        .trim must be("v123")
      val l = Files.list(state)
      try {
        import scala.jdk.CollectionConverters._
        l.iterator().asScala.map(_.getFileName.toString)
          .count(_.startsWith("v")) must be(0)
      } finally l.close()
    } finally graft.PlanHygiene.deleteRecursively(state)
  }

  it must "dispatch `hadoop fs` through the patched-hadoop twin script" in {
    // the reference ships TWO scripts — snackfs AND a patched hadoop
    // dispatcher (src/main/scripts/hadoop:23-50) whose only COMMAND is
    // `fs`; its dual it-suite (FSShellSpec.scala:34-66) drives every
    // verb as `./hadoop fs -<verb>`. Pin the same three behaviors over
    // a real process boundary: fs dispatch, bare usage, unknown COMMAND
    val repo = new java.io.File(sys.props.getOrElse("user.dir", "."))
    val script = new java.io.File(repo, "bin/hadoop")
    assume(script.canExecute, "bin/hadoop missing or not executable")
    val pb = new ProcessBuilder(script.getAbsolutePath, "fs", "-help", "-ls")
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    p.waitFor(60, java.util.concurrent.TimeUnit.SECONDS) must be(true)
    p.exitValue() must be(0)
    out must include("-ls")
    // bare invocation prints the reference's usage shape and exits 1
    val bare = new ProcessBuilder(script.getAbsolutePath)
    bare.redirectErrorStream(true)
    val bp = bare.start()
    val usage = new String(bp.getInputStream.readAllBytes(), "UTF-8")
    bp.waitFor(60, java.util.concurrent.TimeUnit.SECONDS) must be(true)
    bp.exitValue() must be(1)
    usage must include("where COMMAND is")
    // only `fs` is a COMMAND (reference script:46-48 exits otherwise)
    val unk = new ProcessBuilder(script.getAbsolutePath, "dfsadmin").start()
    unk.waitFor(60, java.util.concurrent.TimeUnit.SECONDS) must be(true)
    unk.exitValue() must be(1)
  }
  it must "sustain a -mv/-cp/-rm shell verb storm without the retired doubling blowup" in {
    // the r13 shell-path residual: -mv/-cp embedded the chunk plane
    // twice per verb, 2^k analysis growth held at bay only by the
    // HeavyCompactDebt compact-after-4 mitigation. With rename as
    // driver-map re-keying and copy as one local leaf, BOTH the
    // mitigation and the blowup are gone: a storm of mixed verbs must
    // hold FLAT per-verb cost (the old shape wedged into seconds-long
    // verbs within ~10 renames and minutes soon after). Shell verbs run
    // catalog precondition ACTIONS (driver jobs), so the gate is
    // flatness + a sane wall bound, not the facade's map-op 9k verbs/s.
    val sh = newShell()
    sh.run(Array("-mkdir", "/storm")).code must be(0)
    sh.run(Array("-cp", "/a/f1", "/storm/seed")).code must be(0)
    val n = 120
    val times = new Array[Long](n)
    (0 until n).foreach { i =>
      val t0 = System.nanoTime()
      val r = (i % 4: @unchecked) match {
        case 0 => sh.run(Array("-mv",
          if (i == 0) "/storm/seed" else s"/storm/m${i - 4}",
          s"/storm/m$i"))
        case 1 => sh.run(Array("-cp", s"/storm/m${i - 1}", s"/storm/c$i"))
        case 2 => sh.run(Array("-rm", s"/storm/c${i - 1}"))
        case 3 => sh.run(Array("-touchz", s"/storm/t$i"))
      }
      r.code must be(0)
      times(i) = System.nanoTime() - t0
    }
    // flat cost: the last quarter's median within 5x of the first's
    // (doubling degraded verb k by 2^k — orders of magnitude, not 5x)
    def medianMs(xs: Array[Long]): Double = {
      val ss = xs.sorted; ss(ss.length / 2) / 1e6
    }
    val first = medianMs(times.take(n / 4))
    val last = medianMs(times.takeRight(n / 4))
    withClue(f"first-quartile median $first%.1f ms, last $last%.1f ms: ") {
      last must be <= (first * 5.0 + 50.0)
    }
    // the storm's final state still answers correctly through every
    // translation layer: the surviving rename chain reads back
    val catR = sh.run(Array("-cat", s"/storm/m${n - 4}"))
    catR.code must be(0)
    catR.out.head must be("0123456789")
  }

  it must "sustain >=500 metadata verbs/s through the cache-backed mutation path" in {
    // the r13 directive's shell-path throughput gate: with the
    // driver-resident inode cache, -mv/-touchz/-rm run no Spark action
    // at all (the chunk plane re-keys a driver map; the catalog frame
    // is a depth-1 local dataset rebuild) — only the cell's periodic
    // compaction pays a job, amortized by the doubling interval. The
    // frame-based precondition path capped at tens of verbs/s (three
    // limit(1).collect() jobs per -mv).
    val sh = newShell()
    sh.run(Array("-mkdir", "/thr")).code must be(0)
    // warmup: first verbs pay codegen/encoder warmup
    (0 until 50).foreach(i => sh.run(Array("-touchz", s"/thr/w$i")))
    val n = 1500
    val t0 = System.nanoTime()
    (0 until n).foreach { i =>
      val r = (i % 3: @unchecked) match {
        case 0 => sh.run(Array("-touchz", s"/thr/t$i"))
        case 1 => sh.run(Array("-mv", s"/thr/t${i - 1}", s"/thr/r$i"))
        case 2 => sh.run(Array("-rm", s"/thr/r${i - 1}"))
      }
      r.code must be(0)
    }
    val secs = (System.nanoTime() - t0) / 1e9
    val rate = n / secs
    withClue(f"$n verbs in $secs%.2f s = $rate%.0f verbs/s: ") {
      rate must be >= 500.0
    }
    // and the state survives the storm coherently
    sh.run(Array("-test", "-d", "/thr")).code must be(0)
  }
  behavior of "GraftShell on its mount"

  it must "round-trip a local file through -put and -get" in {
    // chunked at the session's spark.graft.* geometry: 100 B subblocks
    spark.conf.set(GraftConfig.SubBlockSizeKey, "100")
    spark.conf.set(GraftConfig.BlockSizeKey, "300")
    try {
      val sh = newShell()
      val src = Files.createTempFile("graft-put-", ".bin")
      val dst = Files.createTempFile("graft-get-", ".bin")
      val payload = new Array[Byte](1234)
      new scala.util.Random(42).nextBytes(payload)
      Files.write(src, payload)
      sh.run(Array("-put", src.toString, "/fs/upload.bin")).code must be(0)
      val s = sh.fs
      try s.chunks.filter(col("path") === "/fs/upload.bin").count() must
        be(13L) // ceil(1234/100)
      finally sh.releaseSnapshot(s)
      sh.run(Array("-get", "/fs/upload.bin", dst.toString)).code must be(0)
      Files.readAllBytes(dst) must be(payload)
      sh.close()
      Files.delete(src); Files.delete(dst)
    } finally {
      spark.conf.unset(GraftConfig.SubBlockSizeKey)
      spark.conf.unset(GraftConfig.BlockSizeKey)
    }
  }

  it must "-moveFromLocal: import, then unlink the local source" in {
    val sh = newShell()
    val src = Files.createTempFile("graft-mv-", ".bin")
    val dst = Files.createTempFile("graft-mvget-", ".bin")
    val payload = new Array[Byte](555)
    new scala.util.Random(42).nextBytes(payload)
    Files.write(src, payload)
    sh.run(Array("-moveFromLocal", src.toString, "/fs/moved.bin")).code must be(0)
    Files.exists(src) must be(false)
    sh.run(Array("-get", "/fs/moved.bin", dst.toString)).code must be(0)
    Files.readAllBytes(dst) must be(payload)
    sh.close()
    Files.delete(dst)
  }

  it must "run -mkdir/-touchz/-mv/-rm/-put as mount verbs with ZERO Spark jobs" in {
    // the shell's mutations are the mount's pure-memory verbs and its
    // namespace reads (glob expansion included) answer from the mount's
    // inode cache: the job-count listener (SchemeMountSpec's proof)
    // stays flat across a long session of both, uploads included — no
    // verb schedules work and no state cell checkpoints behind them
    val sh = newShell()
    val local = Files.createTempFile("graft-shell-nojobs", ".txt")
    Files.write(local, "no jobs here".getBytes)
    Thread.sleep(300) // let the seed's job events drain first
    val counter = new JobCounter
    spark.sparkContext.addSparkListener(counter)
    try {
      (0 until 30).foreach { i =>
        sh.run(Array("-mkdir", s"/nj/d$i")).code must be(0)
        sh.run(Array("-touchz", s"/nj/d$i/t")).code must be(0)
        sh.run(Array("-mv", s"/nj/d$i/t", s"/nj/d$i/u")).code must be(0)
        sh.run(Array("-put", local.toString, s"/nj/d$i/p")).code must be(0)
        sh.run(Array("-rm", s"/nj/d$i/u")).code must be(0)
        sh.run(Array("-touchz", s"/nj/d$i/g")).code must be(0)
        sh.run(Array("-rm", s"/nj/d$i/g*")).code must be(0)
        sh.run(Array("-ls", s"/nj/d$i", "/nj/d*/p")).code must be(0)
        sh.run(Array("-lsr", "/nj")).code must be(0)
        sh.run(Array("-du", s"/nj/d$i", s"/nj/d$i/p", "/nj/d?")).code must be(0)
        sh.run(Array("-dus", "/nj")).code must be(0)
        sh.run(Array("-count", "/nj")).code must be(0)
        sh.run(Array("-count", "-q", s"/nj/d$i")).code must be(0)
        sh.run(Array("-stat", "%b %n %o %r %F %y %Y", s"/nj/d$i/p")).code must be(0)
        sh.run(Array("-test", "-d", s"/nj/d$i")).code must be(0)
        sh.run(Array("-test", "-z", s"/nj/d$i/p")).code must be(1)
        sh.run(Array("-test", "-e", s"/nj/d$i/u")).code must be(1)
      }
      sh.run(Array("-rmr", "/nj")).code must be(0)
      Thread.sleep(300) // let the listener bus drain
      counter.n.get() must be(0)
    } finally {
      spark.sparkContext.removeSparkListener(counter)
      sh.close()
      Files.delete(local)
    }
  }

  private final class JobCounter extends org.apache.spark.scheduler.SparkListener {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    override def onJobStart(
        j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      n.incrementAndGet()
  }
}
