package graft.catalog

import java.io.IOException

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.must.Matchers

import graft.TestSpark

/** Catalog-semantics matrix mirroring the reference specs:
  * ThriftStoreSpec.scala:56-132 (store/fetch, deep vs shallow subpath
  * counts) and SnackFSSpec.scala (mkdir/delete/rename/listStatus/
  * getFileStatus matrices).
  */
class FsCatalogSpec extends AnyFlatSpec with Matchers {
  private lazy val spark = TestSpark.spark

  // /a (dir), /a/f1 (10B), /a/f2 (20B), /a/sub (dir), /a/sub/f3 (30B), /b.txt (5B)
  private def tree: FsCatalog = CatalogBuilder.fromEntries(spark, Seq(
    ("/", true, 0L),
    ("/a", true, 0L),
    ("/a/f1", false, 10L),
    ("/a/f2", false, 20L),
    ("/a/sub", true, 0L),
    ("/a/sub/f3", false, 30L),
    ("/b.txt", false, 5L)))

  behavior of "store/retrieve (B3/B4)"

  it must "round-trip an inode and upsert in place" in {
    val cat = tree
    cat.retrieve("/a/f1").get.length must be(10L)
    cat.retrieve("/a/f1").get.isFile must be(true)
    cat.retrieve("/nope") must be(None)
    val updated = cat.store(cat.retrieve("/a/f1").get.copy(user = "other"))
    updated.retrieve("/a/f1").get.user must be("other")
    updated.inodes.filter(org.apache.spark.sql.functions.col("path") === "/a/f1")
      .count() must be(1L) // upsert, not append
  }

  behavior of "fetchSubPaths analog (B10): shallow vs deep"

  it must "count shallow children vs deep descendants differently" in {
    val cat = tree
    cat.listStatus("/a").count() must be(3L)          // f1, f2, sub
    cat.listStatusRecursive("/a").count() must be(4L) // + sub/f3
    cat.listStatus("/b.txt").count() must be(1L)      // file lists itself
  }

  it must "throw FileNotFoundException listing a missing path" in {
    a[java.io.FileNotFoundException] must be thrownBy tree.listStatus("/nope")
  }

  behavior of "getFileStatus (A6)"

  it must "report len as the sum over nested blocks and blockSize as the first block length" in {
    val row = tree.getFileStatus("/a/sub/f3").collect()(0)
    row.getAs[Long]("len") must be(30L)
    // 30B file is split 15/15 by fromEntries; first block length = 15
    row.getAs[Long]("block_size") must be(15L)
    row.getAs[Boolean]("is_dir") must be(false)
  }

  it must "statFormatted: render %-specifiers like the reference's -stat [fmt]" in {
    val out = tree.statFormatted("/a/sub/f3", "%n %b %o %r %F").collect()(0)
    out.getAs[String]("stat") must be("f3 30 15 3 regular file")
    val dir = tree.statFormatted("/a", "%F").collect()(0)
    dir.getAs[String]("stat") must be("directory")
    an[java.io.FileNotFoundException] must be thrownBy
      tree.statFormatted("/nope", "%n")
  }

  behavior of "mkdirs (A5)"

  it must "create all missing ancestors and report true" in {
    val (cat, ok) = tree.mkdirs("/x/y/z")
    ok must be(true)
    cat.testD("/x") must be(true)
    cat.testD("/x/y") must be(true)
    cat.testD("/x/y/z") must be(true)
  }

  it must "return false when a level is a file but still create what it can" in {
    // /b.txt is a file; mkdirs below it folds to false yet creates the rest
    val (cat, ok) = tree.mkdirs("/b.txt/inner")
    ok must be(false)
    cat.retrieve("/b.txt").get.isFile must be(true) // not overwritten
    cat.testD("/b.txt/inner") must be(true)         // still created (reference fold)
  }

  it must "be idempotent on an existing directory chain" in {
    val (cat, ok) = tree.mkdirs("/a/sub")
    ok must be(true)
    cat.inodes.count() must be(tree.inodes.count())
  }

  behavior of "delete (A7)"

  it must "return false for a missing path" in {
    tree.delete("/nope", recursive = false)._2 must be(false)
  }

  it must "delete a file and an empty directory" in {
    val (c1, ok1) = tree.delete("/b.txt", recursive = false)
    ok1 must be(true)
    c1.exists("/b.txt") must be(false)

    val (c2, _) = tree.delete("/a/sub/f3", recursive = false)
    val (c3, ok3) = c2.delete("/a/sub", recursive = false)
    ok3 must be(true)
    c3.exists("/a/sub") must be(false)
  }

  it must "throw IOException on non-empty dir without recursive" in {
    an[IOException] must be thrownBy tree.delete("/a", recursive = false)
  }

  it must "remove the whole subtree recursively" in {
    val (cat, ok) = tree.delete("/a", recursive = true)
    ok must be(true)
    cat.inodes.count() must be(2L) // "/" and "/b.txt" survive
    cat.exists("/a/sub/f3") must be(false)
  }

  behavior of "rename (A8)"

  it must "be a no-op returning true when src == dst" in {
    val (cat, ok) = tree.rename("/a", "/a")
    ok must be(true)
    cat.inodes.count() must be(tree.inodes.count())
  }

  it must "throw when src is missing" in {
    an[IOException] must be thrownBy tree.rename("/nope", "/a2")
  }

  it must "throw when dst exists" in {
    an[IOException] must be thrownBy tree.rename("/a", "/b.txt")
  }

  it must "throw when dst parent is missing or a file" in {
    an[IOException] must be thrownBy tree.rename("/a", "/missing/a")
    an[IOException] must be thrownBy tree.rename("/a", "/b.txt/a")
  }

  it must "rewrite the whole subtree prefix, fixing parent paths" in {
    val (cat, ok) = tree.rename("/a", "/renamed")
    ok must be(true)
    cat.exists("/a") must be(false)
    cat.exists("/a/sub/f3") must be(false)
    cat.testD("/renamed") must be(true)
    cat.retrieve("/renamed/sub/f3").get.length must be(30L)
    cat.retrieve("/renamed/sub/f3").get.parentPath must be("/renamed/sub")
    cat.listStatus("/renamed").count() must be(3L)
  }

  it must "satisfy rename(a,b) ∘ rename(b,a) = id" in {
    val (there, _) = tree.rename("/a", "/tmpmove")
    val (back, _) = there.rename("/tmpmove", "/a")
    val before = tree.inodes.collect().map(_.path).sorted
    val after = back.inodes.collect().map(_.path).sorted
    after must be(before)
  }

  it must "produce the identical catalog via the renameFrames distributed fallback" in {
    val cat = CatalogBuilder.fromEntries(spark, Seq(
      ("/", true, 0L),
      ("/a", true, 0L),
      ("/a/f1", false, 10L),
      ("/a/sub", true, 0L),
      ("/a/sub/f3", false, 30L),
      ("/b", false, 5L)))
    def canon(c: FsCatalog) = c.inodes.collect()
      .map(n => (n.path, n.parentPath, n.isDir, n.length)).sortBy(_._1).toSeq
    val viaDriver = canon(cat.renameFrames("/a", "/z"))
    val viaFrames = canon(cat.renameFrames("/a", "/z", maxCollected = 2))
    viaFrames must be(viaDriver)
    viaFrames.map(_._1) must contain allOf ("/z", "/z/f1", "/z/sub", "/z/sub/f3")
    // root-adjacent parent rewrite: the subtree root's parent is dst's
    viaFrames.find(_._1 == "/z").get._2 must be("/")
    viaFrames.find(_._1 == "/z/sub/f3").get._2 must be("/z/sub")
  }

  it must "count a non-BMP character as one in du's and the fallback rename's substrings" in {
    val d = "/\uD83D\uDE00"
    val cat = CatalogBuilder.fromEntries(spark, Seq(
      ("/", true, 0L), (d, true, 0L), (s"$d/f1", false, 10L)))
    cat.du(d).collect().map(r => r.getString(0) -> r.getLong(1)).toSeq must
      be(Seq(s"$d/f1" -> 10L))
    cat.renameFrames(d, "/z", maxCollected = 0).inodes.collect()
      .map(n => (n.path, n.parentPath)).sortBy(_._1).toSeq must
      be(Seq(("/", null), ("/z", "/"), ("/z/f1", "/z")))
  }

  behavior of "du/dus/count (D3-D5)"

  it must "aggregate per-child and total byte counts" in {
    val du = tree.du("/a").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    du must be(Map("/a/f1" -> 10L, "/a/f2" -> 20L, "/a/sub" -> 30L))
    tree.dus("/a").collect()(0).getLong(1) must be(60L)
    val cnt = tree.countSummary("/a").collect()(0)
    cnt.getAs[Long]("dir_count") must be(2L)
    cnt.getAs[Long]("file_count") must be(3L)
    cnt.getAs[Long]("content_size") must be(60L)
  }

  behavior of "copy (D7)"

  it must "duplicate a subtree keeping the source intact" in {
    val (cat, ok) = tree.copy("/a", "/acopy")
    ok must be(true)
    cat.exists("/a/sub/f3") must be(true)
    cat.retrieve("/acopy/sub/f3").get.length must be(30L)
    cat.dus("/acopy").collect()(0).getLong(1) must be(60L)
    an[IOException] must be thrownBy cat.copy("/a", "/acopy") // dst exists
    an[IOException] must be thrownBy cat.copy("/nope", "/x2") // src missing
  }

  behavior of "save/load (catalog persistence)"

  it must "round-trip through path-range-partitioned parquet" in {
    val dir = java.nio.file.Files.createTempDirectory("graft-cat-").toString + "/cat"
    tree.save(dir, numPartitions = 2)
    val back = FsCatalog.load(spark, dir)
    back.inodes.count() must be(tree.inodes.count())
    back.retrieve("/a/sub/f3").get.length must be(30L)
    back.listStatus("/a").count() must be(3L)
  }

  behavior of "file locks (B12 narrowing)"

  it must "let the first contender win and require its token to release" in {
    val t1 = FileLocks.acquire("/lock/f")
    t1 must be(defined)
    FileLocks.acquire("/lock/f") must be(None) // loser
    FileLocks.release("/lock/f", java.util.UUID.randomUUID()) must be(false)
    FileLocks.release("/lock/f", t1.get) must be(true)
    FileLocks.acquire("/lock/f") must be(defined) // free again
  }

  behavior of "touchz/test (D15/D16) and append (A4)"

  it must "create a zero-length file and answer -test flags" in {
    val cat = tree.touchz("/a/zero")
    cat.testE("/a/zero") must be(true)
    cat.testZ("/a/zero") must be(true)
    cat.testD("/a/zero") must be(false)
    cat.testZ("/a/f1") must be(false)
    an[IOException] must be thrownBy cat.touchz("/a") // dir
    an[IOException] must be thrownBy cat.touchz("/a/f1") // non-empty file
  }

  it must "always throw on append, mirroring AppendFileCommand.scala:38-40" in {
    // IOException — the reference's exact exception type
    val e = intercept[IOException](tree.append("/a/f1"))
    e.getMessage must be("Appending to existing file is not supported.")
  }

  behavior of "getFileBlockLocations range pruning (SnackFS.scala:135-149)"

  it must "drop blocks ending before start and ignore the upper bound like the reference" in {
    // /a/sub/f3 = 30B split into two 15B blocks at offsets 0 and 15
    tree.blockLocations("/a/sub/").count() must be(2L)
    val pruned = tree.blockLocations("/a/sub/", start = 16L).collect()
    pruned.length must be(1)
    pruned(0).getAs[Long]("offset") must be(15L)
    // block ending exactly AT start survives (filterNot end < start)
    tree.blockLocations("/a/sub/", start = 15L).count() must be(2L)
    // reference parity: len is carried but never prunes the upper end
    tree.blockLocations("/a/sub/", start = 0L, len = 1L).count() must be(2L)
  }

  behavior of "glob resolution (SnackFSShell.scala:269-337 globStatus)"

  it must "translate globs to component-scoped regexes" in {
    "/a/f1".matches(PathOps.globToRegex("/a/f?")) must be(true)
    "/a/f1".matches(PathOps.globToRegex("/a/*")) must be(true)
    "/a/sub/f3".matches(PathOps.globToRegex("/a/*")) must be(false) // * never crosses /
    "/a/f1".matches(PathOps.globToRegex("/a/f[12]")) must be(true)
    "/a/f3".matches(PathOps.globToRegex("/a/f[12]")) must be(false)
    "/a/f3".matches(PathOps.globToRegex("/a/f[!12]")) must be(true)
    "/b.txt".matches(PathOps.globToRegex("/{a,b}.txt")) must be(true)
    "/b_txt".matches(PathOps.globToRegex("/b.txt")) must be(false) // '.' is literal
    PathOps.globLiteralPrefix("/a/f*") must be("/a/f")
    PathOps.isGlob("/a/f1") must be(false)
    PathOps.isGlob("/a/f[12]") must be(true)
  }

  it must "match statuses, expand matched dirs like ls, and equal the literal verbs" in {
    val cat = tree
    cat.globStatus("/a/f*").collect().map(_.getString(0)).sorted must be(
      Array("/a/f1", "/a/f2"))
    // ls semantics: matched dir expands to children, matched file to itself
    cat.listGlob("/a/*").collect().map(_.getString(0)).sorted must be(
      Array("/a/f1", "/a/f2", "/a/sub/f3")) // f1,f2 match as files; /a/sub expands
    cat.listGlob("/a/sub", recursive = true).collect().map(_.getString(0)) must be(
      Array("/a/sub/f3"))
    // glob-free pattern ≡ the literal verb
    cat.listGlob("/a").collect() must be(cat.listStatus("/a").collect())
    cat.listGlob("/b.txt").collect() must be(cat.listStatus("/b.txt").collect())
  }

  it must "delete by glob with the rm/rmr error matrix" in {
    val (afterFiles, ok) = tree.deleteGlob("/a/f*", recursive = false)
    ok must be(true)
    afterFiles.exists("/a/f1") must be(false)
    afterFiles.exists("/a/f2") must be(false)
    afterFiles.exists("/a/sub/f3") must be(true)
    an[IOException] must be thrownBy tree.deleteGlob("/a/*", recursive = false)
    val (afterAll, ok2) = tree.deleteGlob("/a/*", recursive = true)
    ok2 must be(true)
    afterAll.exists("/a") must be(true)      // the matched dirs' PARENT survives
    afterAll.exists("/a/sub") must be(false) // matched dir itself removed
    afterAll.exists("/a/sub/f3") must be(false)
    tree.deleteGlob("/zzz*", recursive = true)._2 must be(false)
  }

  it must "never match the root for '/*' — '*' must not bind the empty component" in {
    // '[^/]*' matches "" so '^/[^/]*$' matches "/" — Hadoop globStatus
    // never returns the root for '/*', and deleting the root inode would
    // orphan the whole catalog (every getFileStatus('/') would FNFE)
    tree.globStatus("/*").collect().map(_.getString(0)) must not contain "/"
    val (after, ok) = tree.deleteGlob("/*", recursive = true)
    ok must be(true)
    after.exists("/") must be(true)
    after.listStatus("/").count() must be(0L) // children gone, root intact
    after.getFileStatus("/").count() must be(1L)
    // the literal '/' pattern still names the root
    tree.globStatus("/").collect().map(_.getString(0)) must be(Array("/"))
  }

  it must "report per-match subtree totals for du over a glob" in {
    val rows = tree.duGlob("/a/{f1,sub}").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows must be(Map("/a/f1" -> 10L, "/a/sub" -> 30L))
  }

  behavior of "diff (snapshot change set)"

  it must "classify added, deleted and modified paths and drop the unchanged" in {
    val v1 = tree
    // identical versions diff to the empty change set
    v1.diff(v1).count() must be(0L)
    val (v2a, _) = v1.delete("/a/sub", recursive = true)
    val v2b = v2a.touchz("/a/new")
    val grown = v2b.retrieve("/a/f1").get
    val v2 = v2b.store(grown.copy(blocks =
      grown.blocks.map(b => b.copy(length = b.length + 7L))))
    val got = v1.diff(v2).collect()
      .map(r => r.getString(0) ->
        ((r.getString(1), Option(r.get(2)), Option(r.get(3))))).toMap
    got must be(Map(
      "/a/sub" -> (("deleted", Some(0L), None)),
      "/a/sub/f3" -> (("deleted", Some(30L), None)),
      "/a/new" -> (("added", None, Some(0L))),
      // fromEntries splits the 10B file into blocks; +7 on each of
      // its blocks — the diff sees the total move 10 → 10 + 7·n
      "/a/f1" -> (("modified", Some(10L),
        Some(10L + 7L * grown.blocks.size)))))
  }
}
