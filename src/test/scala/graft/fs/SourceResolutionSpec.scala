package graft.fs

import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.spark.sql.functions.col
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.must.Matchers

import graft.TestSpark

/** Block-miss source resolution on a state written by
  * `GraftShellMain.saveFs`: the chunks dir is 8 range-partitioned part
  * files, and a mount's block miss opens only the parts whose footer
  * `path` bounds cover the payload's stored key.
  *
  * "Opens only" is shown from outside: after a first block miss has
  * loaded the bounds, every part that cannot hold the key is
  * overwritten with bytes that are not parquet, and the read must still
  * return the file's bytes unchanged. A reader that opened any of those
  * parts would fail on it.
  */
class SourceResolutionSpec extends AnyFlatSpec with Matchers {

  private lazy val spark = TestSpark.spark

  // 64-byte subblocks, 128-byte blocks: the 24-block files below span
  // several of the 8 parts, so their blocks straddle part boundaries
  private val Sub = 64
  private val Block = 128

  private val fullwidth = "/big/｡.bin" // U+FF61: UTF-8 EF BD A1
  private val emoji = "/big/😀.bin" // U+1F600: UTF-8 F0 9F 98 80

  /** 3 multi-block files, then 16 one-block ones, in UTF-8 byte order. */
  private val files: Seq[(String, Array[Byte])] = {
    val rnd = new scala.util.Random(61)
    def bytes(n: Int): Array[Byte] = { val b = new Array[Byte](n); rnd.nextBytes(b); b }
    Seq("/big/a.bin" -> bytes(24 * Block - 5), fullwidth -> bytes(24 * Block),
      emoji -> bytes(24 * Block - 40)) ++
      (0 until 16).map(i => f"/s/f$i%02d.bin" -> bytes(100))
  }
  private def bytesOf(p: String): Array[Byte] = files.find(_._1 == p).get._2

  private def mountConf(): Configuration = {
    val c = new Configuration(spark.sparkContext.hadoopConfiguration)
    c.setInt("graft.subblock.size", Sub)
    c.setInt("graft.block.size", Block)
    c.setBoolean("graft.mount.write.through", false)
    c
  }

  private def newMount(stateDir: Option[String]): GraftFileSystem = {
    val c = mountConf()
    stateDir.foreach(c.set("graft.mount.state.dir", _))
    val fs = new GraftFileSystem
    fs.initialize(URI.create("graftfs://parts/"), c)
    fs
  }

  /** Run `body` on a fresh state dir holding [[files]], written by
    * `saveFs`, and a mount of it; both go afterwards. */
  private def withSavedState(body: (String, GraftFileSystem) => Unit): Unit = {
    val src = newMount(None)
    files.foreach { case (p, b) =>
      val out = src.create(new Path(p)); out.write(b); out.close()
    }
    val dir = Files.createTempDirectory("graft-source-resolution")
    try {
      try GraftShellMain.saveFs(src.graftFs, dir.toString) finally src.close()
      val fs = newMount(Some(dir.toString))
      try body(dir.toString, fs) finally fs.close()
    } finally graft.PlanHygiene.deleteRecursively(dir)
  }

  private def chunksDir(state: String): String =
    GraftShellMain.currentStateDir(state).get + "/chunks"

  private def parts(state: String): Seq[String] = {
    val l = Files.list(Paths.get(chunksDir(state)))
    try l.iterator().asScala.map(_.toString)
      .filter(_.endsWith(".parquet")).toSeq.sorted
    finally l.close()
  }

  /** The parts that hold rows of `key`, read back by Spark. */
  private def containing(state: String, key: String): Set[String] =
    parts(state).filter(f =>
      spark.read.parquet(f).where(col("path") === key).count() > 0).toSet

  private def readAll(fs: GraftFileSystem, p: String): Array[Byte] = {
    val in = fs.open(new Path(p))
    try in.readAllBytes() finally in.close()
  }

  /** Overwrite every part outside `keep` with bytes that are not parquet. */
  private def spoilAllBut(state: String, keep: Set[String]): Unit = {
    val spoiled = parts(state).filterNot(keep)
    spoiled must not be empty
    spoiled.foreach(f => Files.write(Paths.get(f), "not parquet".getBytes("UTF-8")))
  }

  private def bounds(part: String): Option[(String, String)] =
    ParquetFiles.pathBounds(ParquetFiles.footer(new Path(Paths.get(part).toUri)))
      .map { case (lo, hi) => (new String(lo, "UTF-8"), new String(hi, "UTF-8")) }

  behavior of "a saved-state mount's block-miss source resolution"

  it must "open only the one part that holds a one-block file" in {
    withSavedState { (state, fs) =>
      parts(state) must have size 8
      val key = "/s/f07.bin"
      val holder = containing(state, key)
      holder must have size 1
      new SavedState.ChunkParts(chunksDir(state)).holding(key).toSet must be(holder)
      readAll(fs, "/s/f02.bin") must be(bytesOf("/s/f02.bin")) // loads the bounds
      spoilAllBut(state, holder)
      readAll(fs, key) must be(bytesOf(key))
    }
  }

  it must "open exactly the covering parts of a file that straddles parts" in {
    withSavedState { (state, fs) =>
      val key = "/big/a.bin"
      val holders = containing(state, key)
      holders.size must be >= 2 // its blocks straddle a part boundary
      new SavedState.ChunkParts(chunksDir(state)).holding(key).toSet must be(holders)
      readAll(fs, "/s/f00.bin") must be(bytesOf("/s/f00.bin"))
      spoilAllBut(state, holders)
      readAll(fs, key) must be(bytesOf(key))
    }
  }

  it must "resolve a renamed saved file by its stored key" in {
    withSavedState { (state, fs) =>
      val key = "/s/f11.bin"
      val holder = containing(state, key)
      readAll(fs, "/s/f01.bin") must be(bytesOf("/s/f01.bin"))
      // the new path sorts between parts: a lookup by it finds none
      fs.mkdirs(new Path("/moved")) must be(true)
      fs.rename(new Path(key), new Path("/moved/renamed.bin")) must be(true)
      spoilAllBut(state, holder)
      readAll(fs, "/moved/renamed.bin") must be(bytesOf(key))
    }
  }

  it must "resolve a non-BMP path at a part boundary in UTF-8 byte order" in {
    withSavedState { (state, fs) =>
      val holders = containing(state, emoji)
      // precondition: a part runs from the U+FF61 file into the U+1F600
      // one, so the emoji path is a bound of it and UTF-16 order, where
      // U+1F600 (D83D DE00) sorts BELOW U+FF61, would drop that part
      val mixed = holders.filter(f => bounds(f).exists { case (lo, hi) =>
        lo == fullwidth && hi == emoji })
      mixed must have size 1
      emoji.compareTo(fullwidth) must be < 0
      new SavedState.ChunkParts(chunksDir(state)).holding(emoji).toSet must be(holders)
      readAll(fs, "/s/f03.bin") must be(bytesOf("/s/f03.bin"))
      spoilAllBut(state, holders)
      readAll(fs, emoji) must be(bytesOf(emoji))
    }
  }

  it must "always keep a part file without path statistics" in {
    withSavedState { (state, fs) =>
      val key = "/s/f13.bin"
      val holder = containing(state, key)
      holder must have size 1
      // rewrite the part holding the key with statistics off, before
      // the mount's first block miss loads the bounds
      val part = Paths.get(holder.head)
      val schema = ParquetFiles.footer(new Path(part.toUri)).getFileMetaData.getSchema
      val rows = {
        val r = ParquetFiles.groupReader(new Path(part.toUri))
        try Iterator.continually(r.read()).takeWhile(_ != null).toVector
        finally r.close()
      }
      val tmp = part.resolveSibling("rewrite.tmp")
      val w = ExampleParquetWriter.builder(new LocalOutputFile(tmp))
        .withType(schema).withStatisticsEnabled(false).build()
      try rows.foreach(g => w.write(g: Group)) finally w.close()
      Files.move(tmp, part, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      Files.deleteIfExists(part.resolveSibling(s".${part.getFileName}.crc"))
      bounds(part.toString) must be(None)
      readAll(fs, "/big/a.bin") must be(bytesOf("/big/a.bin"))
      spoilAllBut(state, holder)
      readAll(fs, key) must be(bytesOf(key))
    }
  }
}
