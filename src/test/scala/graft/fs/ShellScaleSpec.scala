package graft.fs

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.must.Matchers
import org.apache.spark.sql.functions._

import graft.TestSpark
import graft.catalog.FsCatalog

/** The namespace-cache guard, proven at scale: a shell seeded with
  * 1,000,000 synthetic inodes must come up, answer verbs, and mutate
  * subtrees without OOM — and the measured per-inode driver cost of its
  * mount's inode cache (printed by the first case, recorded in SURVEY
  * §8) is what justifies the 10 M default of `graft.mount.max.inodes`.
  * The low-cap case pins the LOUD half of the contract (one shout,
  * verbs keep working).
  */
class ShellScaleSpec extends AnyFlatSpec with Matchers {
  private lazy val spark = TestSpark.spark

  private val NDirs = 1000
  private val NFiles = 999000 // + dirs + root = 1,000,001 inodes

  /** 1M-inode catalog built entirely Spark-side (no driver loop): 1000
    * dirs under "/", 999 files each, every file with REAL nested block
    * metadata (one block, one subblock, length 1) so the du/count folds
    * run against genuinely nested rows.
    */
  private def bigCatalog(): FsCatalog = {
    val ts = lit(new java.sql.Timestamp(1704067200000L))
    val files = spark.range(NFiles.toLong).select(
      concat(lit("/d"), col("id") % NDirs, lit("/f"), col("id")).as("path"),
      concat(lit("/d"), col("id") % NDirs).as("parentPath"),
      lit("graft").as("user"), lit("graft").as("group"),
      lit(420).as("permission"), lit(false).as("isDir"), ts.as("mtime"),
      array(struct(
        concat(lit("b"), col("id")).as("id"),
        lit(0L).as("offset"), lit(1L).as("length"),
        array(struct(
          concat(lit("s"), col("id")).as("id"),
          lit(0L).as("offset"), lit(1L).as("length"))).as("subBlocks")))
        .as("blocks"))
    val dirs = spark.range(NDirs.toLong).select(
      concat(lit("/d"), col("id")).as("path"),
      lit("/").as("parentPath"),
      lit("graft").as("user"), lit("graft").as("group"),
      lit(493).as("permission"), lit(true).as("isDir"), ts.as("mtime"),
      lit(null).cast(files.schema("blocks").dataType).as("blocks"))
    val root = spark.createDataset(
      Seq(FsCatalog.dirInode("/", "graft")))(FsCatalog.inodeEncoder)
    FsCatalog(root.unionByName(
      dirs.as(FsCatalog.inodeEncoder)).unionByName(
      files.as(FsCatalog.inodeEncoder)))
  }

  private def usedMb(): Long = {
    System.gc(); Thread.sleep(200); System.gc()
    val r = Runtime.getRuntime
    (r.totalMemory() - r.freeMemory()) >> 20
  }

  behavior of "GraftShell at 1M inodes"

  it must "seed, answer, and mutate a 1M-inode namespace without OOM" taggedAs graft.SlowTest in {
    // the shell's seed is a saved state; the measured cost is the
    // mount's inode cache (plus its child and payload indexes) over it
    val dir = java.nio.file.Files.createTempDirectory("graft-scale-state")
    GraftShellMain.saveFs(
      GraftFs(bigCatalog(), GraftShellMain.emptyFs(spark).chunks), dir.toString)
    val before = usedMb()
    val mount = GraftShellMain.stateMount(spark, Some(dir.toString))
    val after = usedMb()
    val perInode = (after - before) * 1048576.0 / (NFiles + NDirs + 1)
    info(f"mount cache cost ≈ $perInode%.0f B/inode " +
      f"(${after - before} MiB for ${NFiles + NDirs + 1} inodes)")
    perInode must be < 2048.0 // the SURVEY §8 ceiling argument
    val sh = new GraftShell(mount, FsContext.initialize("graftfs://scale"))

    // read verbs answer from the mount's inode cache
    sh.run(Array("-ls", "/d5")).out.head must be("Found 999 items")
    val lsRoot = sh.run(Array("-ls", "/"))
    lsRoot.out.head must be(s"Found $NDirs items")

    // subtree mutations walk ranges, never the whole map
    sh.run(Array("-mv", "/d7", "/moved")).code must be(0)
    sh.run(Array("-ls", "/moved")).out.head must be("Found 999 items")
    sh.run(Array("-test", "-e", "/d7")).code must be(1)
    sh.run(Array("-rmr", "/d8")).code must be(0)
    sh.run(Array("-test", "-e", "/d8/f8")).code must be(1)
    sh.run(Array("-mkdir", "/extra")).code must be(0)
    sh.run(Array("-touchz", "/extra/z")).code must be(0)
    sh.run(Array("-ls", "/extra")).out.head must be("Found 1 items")

    // aggregate over the full namespace still runs (a whole-cache walk)
    sh.run(Array("-dus", "/")).code must be(0)
    // 1M inodes sit UNDER the 10M default: the cap must not have fired
    sh.inodeCapExceeded must be(false)
    sh.close()
    mount.close()
    graft.PlanHygiene.deleteRecursively(dir)
  }

  it must "shout once past the cap and keep working" taggedAs graft.SlowTest in {
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("graft.mount.max.inodes", "10")
    try {
      val sh = new GraftShell(GraftShellMain.emptyFs(spark),
        FsContext.initialize("graftfs://tiny"))
      sh.inodeCapExceeded must be(false)
      (1 to 12).foreach(i => sh.run(Array("-mkdir", s"/m$i")).code must be(0))
      sh.run(Array("-ls", "/")).out.head must be("Found 12 items")
      sh.inodeCapExceeded must be(true)
      // loud, not fatal: verbs keep answering past the cap
      sh.run(Array("-mkdir", "/m13")).code must be(0)
      sh.run(Array("-ls", "/")).out.head must be("Found 13 items")
      sh.close()
    } finally hconf.unset("graft.mount.max.inodes")
  }
}
