package graft.fs

import java.io.{FileNotFoundException, IOException}
import java.sql.Timestamp

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.must.Matchers
import org.apache.spark.sql.Row

import graft.TestSpark
import graft.catalog.{BlockMeta, FsCatalog, Inode, PathOps, SubBlockMeta}

/** The shell's namespace reads answer from its mount's inode cache; the
  * reference they must equal, exit code, stdout and stderr, is
  * FsCatalog's distributed verbs over the same inodes, rendered the way
  * the shell renders them ([[oracle]]). Namespaces are generated like
  * CatalogProperties' trees, but nested: dirs up to three levels (some
  * empty), zero-length and two-block files, names that share prefixes
  * (d1/d10) and names whose UTF-16 and UTF-8 orders differ.
  */
class ShellParitySpec extends AnyFlatSpec with Matchers {
  private lazy val spark = TestSpark.spark
  private val ctx = FsContext.initialize("graftfs://parity")

  private val names =
    Seq("d0", "d1", "d10", "e", "f.txt", "g", "x", "😀y")

  /** (path, isDir, length, mtime millis), closed under ancestors. */
  private val genTree: Gen[Seq[Inode]] = for {
    n <- Gen.choose(4, 12)
    raw <- Gen.listOfN(n, for {
      depth <- Gen.choose(1, 3)
      segs <- Gen.listOfN(depth, Gen.oneOf(names))
      dir <- Gen.oneOf(true, false)
      len <- Gen.oneOf(0L, 1L, 7L, 100L)
      mtime <- Gen.oneOf(1704067200000L, 1704067200123L, 0L,
        -315619200000L, 1719878399999L)
    } yield ("/" + segs.mkString("/"), dir, len, mtime))
  } yield {
    val paths = raw.map(_._1).distinct
    val ancestors = paths.flatMap(p => PathOps.ancestors(PathOps.parent(p))).toSet
    val byPath = raw.map(r => r._1 -> r).toMap
    ("/" +: (ancestors ++ paths).toSeq.filter(_ != "/").distinct).map { p =>
      val (_, dir, len, mtime) = byPath.getOrElse(p, (p, true, 0L, 0L))
      if (dir || ancestors(p) || p == "/")
        FsCatalog.dirInode(p, "graft").copy(mtime = new Timestamp(mtime))
      else {
        val half = len / 2
        val blocks =
          if (len == 0) Seq.empty[BlockMeta]
          else Seq(BlockMeta(s"$p#b0", 0L, half, Seq(SubBlockMeta(s"$p#s0", 0L, half))),
            BlockMeta(s"$p#b1", half, len - half,
              Seq(SubBlockMeta(s"$p#s1", 0L, len - half))))
        Inode(p, PathOps.parent(p), "graft", "graft", 420, isDir = false,
          new Timestamp(mtime), blocks)
      }
    }
  }

  private def tree(seed: Long): Seq[Inode] =
    genTree.pureApply(Gen.Parameters.default, Seed(seed))

  /** Every edge at once: an empty dir, a zero-length file, and sibling
    * names that sort one way in UTF-16 and the other in UTF-8. */
  private val edges: Seq[Inode] = {
    val ts = new Timestamp(1704067200000L)
    def dir(p: String) = FsCatalog.dirInode(p, "graft")
    def file(p: String, len: Long) = Inode(p, PathOps.parent(p), "graft", "graft",
      420, isDir = false, ts, BlockMeta.forLength(p, len, 4, 8))
    Seq(dir("/"), dir("/a"), dir("/a/empty"), file("/a/z", 0L),
      file("/\uE000x", 7L), dir("/\uD83D\uDE00y"),
      file("/\uD83D\uDE00y/f.txt", 100L), dir("/d1"), dir("/d10"))
  }

  private val globs = Seq("/*", "/d1?", "/*/*", "/d0/*/*", "/{d0,e}",
    "/{d0,d1/*}", "/[!d]*", "/*/f.txt", "/zz*")

  private def shellOn(inodes: Seq[Inode]): (GraftShell, FsCatalog) = {
    val cat = FsCatalog(spark.createDataset(inodes)(FsCatalog.inodeEncoder))
    (new GraftShell(GraftFs(cat, GraftShellMain.emptyFs(spark).chunks), ctx), cat)
  }

  /** The verbs as the shell answered them from a catalog frame:
    * FsCatalog's distributed verbs, rendered and error-mapped like
    * GraftShell (multi-argument verbs run the doall loop). */
  private def oracle(cat: FsCatalog, argv: String*): ShellResult = {
    val cmd = argv.head
    val args = argv.tail
    def abs(p: String) = ctx.makeAbsolute(p)
    def noMatch(arg: String) =
      new FileNotFoundException(s"Cannot access $arg: No such file or directory.")
    def mustExist(p: String): Unit =
      if (!cat.exists(p)) throw new FileNotFoundException(p)
    def matches(p: String) = cat.globStatus(p).limit(1).count() > 0
    def sizes(rows: Array[Row]) =
      rows.map(r => f"${r.getLong(1)}%12d  ${r.getString(0)}").toSeq
    def each(f: String => Seq[String]): ShellResult = {
      val out = Seq.newBuilder[String]
      val err = Seq.newBuilder[String]
      var code = 0
      args.foreach { a =>
        try out ++= f(a)
        catch { case e: IOException => code = -1; err += s"$cmd: ${e.getMessage}" }
      }
      ShellResult(code, out.result(), err.result())
    }
    try cmd match {
      case "-ls" | "-lsr" => each { arg =>
        if (!matches(abs(arg))) throw noMatch(arg)
        val rows = cat.listGlob(abs(arg), recursive = cmd == "-lsr").collect()
        (if (cmd == "-ls") Seq(s"Found ${rows.length} items") else Nil) ++
          rows.map { r =>
            val kind = if (r.getAs[Boolean]("is_dir")) "d" else "-"
            f"$kind${r.getAs[Int]("permission")}%4d ${r.getAs[Long]("len")}%10d ${r.getAs[String]("path")}"
          }
      }
      case "-du" => each { arg =>
        if (PathOps.isGlob(arg)) {
          if (!matches(abs(arg))) throw noMatch(arg)
          sizes(cat.duGlob(abs(arg)).collect())
        } else { mustExist(abs(arg)); sizes(cat.du(abs(arg)).collect()) }
      }
      case "-dus" => each { arg =>
        mustExist(abs(arg)); sizes(cat.dus(abs(arg)).collect())
      }
      case "-count" =>
        val q = args.head == "-q"
        val p = abs(if (q) args(1) else args.head)
        mustExist(p)
        val r = cat.countSummary(p).collect()(0)
        val quota = if (q) f"${"none"}%12s ${"inf"}%12s ${"none"}%12s ${"inf"}%12s " else ""
        ShellResult(0, Seq(
          f"$quota${r.getLong(1)}%8d ${r.getLong(2)}%8d ${r.getLong(3)}%12d ${r.getString(0)}"), Nil)
      case "-stat" =>
        val (fmt, p) = if (args.length >= 2) (args.head, args(1)) else ("%y", args.head)
        ShellResult(0, Seq(cat.statFormatted(abs(p), fmt).collect()(0).getString(1)), Nil)
      case "-test" =>
        val p = abs(args(1))
        val ok = args.head match {
          case "-e" => cat.testE(p)
          case "-z" => cat.testZ(p)
          case "-d" => cat.testD(p)
        }
        ShellResult(if (ok) 0 else 1, Nil, Nil)
    } catch {
      case e: IOException => ShellResult(-1, Nil, Seq(s"$cmd: ${e.getMessage}"))
    }
  }

  behavior of "GraftShell's namespace reads"

  it must "answer -ls/-lsr/-du/-dus/-count/-stat/-test exactly as FsCatalog's verbs do" in {
    (0L to 2L).foreach { seed =>
      val inodes = if (seed == 0) edges else tree(seed)
      val (sh, cat) = shellOn(inodes)
      try {
        val dirs = inodes.filter(_.isDir).map(_.path)
        val files = inodes.filter(_.isFile).map(_.path)
        // every path of the edge tree, a sample of the generated ones
        val probes = (if (seed == 0) inodes.map(_.path)
          else "/" +: dirs.takeRight(2) ++: files.take(2)) :+ "/nope"
        def same(argv: String*): Unit =
          withClue(s"seed $seed, namespace ${inodes.map(_.path).sorted}, " +
              s"${argv.mkString(" ")}: ") {
            sh.run(argv.toArray) must be(oracle(cat, argv: _*))
          }
        Seq("-ls", "-lsr", "-du", "-dus").foreach { v =>
          same(v +: probes: _*)
          same(v +: globs: _*)
        }
        probes.foreach { p =>
          same("-count", p)
          same("-count", "-q", p)
          same("-stat", p)
          same("-stat", "%b|%n|%o|%r|%F|%y|%Y|%%|%x|", p)
          Seq("-e", "-z", "-d").foreach(f => same("-test", f, p))
        }
        // %y formats in the session time zone, like date_format
        val zone = spark.conf.get("spark.sql.session.timeZone")
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        try probes.foreach(p => same("-stat", "%y %Y", p))
        finally spark.conf.set("spark.sql.session.timeZone", zone)
      } finally sh.close()
    }
  }

  it must "delete exactly what FsCatalog.deleteGlob deletes for a globbed -rm/-rmr" in {
    (3L to 5L).foreach { seed =>
      val inodes = if (seed == 3) edges else tree(seed)
      val (sh, first) = shellOn(inodes)
      var cat = first
      try {
        Seq(Seq("-rm", "/*/f.txt"), Seq("-rm", "/[ade]*"), Seq("-rmr", "/d1*"),
            Seq("-rm", "/zz*"), Seq("-rmr", "/{e,g}")).foreach { argv =>
          val pattern = ctx.makeAbsolute(argv(1))
          val want =
            try {
              val (next, ok) = cat.deleteGlob(pattern, recursive = argv.head == "-rmr")
              cat = next
              if (ok) ShellResult(0, Nil, Nil)
              else ShellResult(-1, Nil,
                Seq(s"${argv.head}: No such file or directory: ${argv(1)}"))
            } catch {
              case e: IOException => ShellResult(-1, Nil, Seq(s"${argv.head}: ${e.getMessage}"))
            }
          withClue(s"seed $seed, ${argv.mkString(" ")}: ") {
            sh.run(argv.toArray) must be(want)
            sh.run(Array("-lsr", "/")) must be(oracle(cat, "-lsr", "/"))
          }
        }
      } finally sh.close()
    }
  }
}
