package graft.fs

import org.apache.spark.sql.functions._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.must.Matchers

import graft.TestSpark

/** Byte-equality round-trips mirroring the reference's
  * FileSystemStreamSpec.scala:46-186 — including its tiny 30/10 and
  * 500/50 block/subblock configs — plus tail and getmerge semantics.
  */
class DataPlaneSpec extends AnyFlatSpec with Matchers {
  private lazy val spark = TestSpark.spark

  private def filesDf(files: Seq[(String, Array[Byte])]) = {
    val s = spark
    import s.implicits._
    files.toDF("path", "data")
  }

  private def roundTrip(payload: Array[Byte], sub: Int, block: Int): Array[Byte] = {
    val chunks = DataPlane.chunk(filesDf(Seq(("/f", payload))), sub, block)
    DataPlane.reassemble(chunks).collect()(0).getAs[Array[Byte]]("data")
  }

  private val rnd = new scala.util.Random(42)
  private def bytes(n: Int): Array[Byte] = {
    val b = new Array[Byte](n); rnd.nextBytes(b); b
  }

  behavior of "chunk → reassemble (C1-C9)"

  it must "round-trip bytes with the reference's 30/10 tiny config" in {
    val payload = bytes(623) // vsmall.txt size, FIXTURES
    roundTrip(payload, 10, 30) must be(payload)
  }

  it must "round-trip bytes with the 500/50 config" in {
    val payload = bytes(12345)
    roundTrip(payload, 50, 500) must be(payload)
  }

  it must "round-trip an exact-multiple payload and a sub-subblock payload" in {
    val exact = bytes(300)
    roundTrip(exact, 10, 30) must be(exact)
    val tiny = bytes(3)
    roundTrip(tiny, 10, 30) must be(tiny)
  }

  it must "produce zero subblocks for a zero-length file" in {
    DataPlane.chunk(filesDf(Seq(("/z", Array.empty[Byte]))), 10, 30).count() must be(0L)
  }

  it must "lay out block/subblock ids and offsets like the reference" in {
    val chunks = DataPlane.chunk(filesDf(Seq(("/f", bytes(35)))), 10, 30).collect()
      .sortBy(r => (r.getAs[Long]("block_offset"), r.getAs[Long]("offset")))
    chunks.length must be(4) // 10+10+10 in block 0, 5 in block 1
    chunks.map(_.getAs[Int]("block_id")).toSeq must be(Seq(0, 0, 0, 1))
    chunks.map(_.getAs[Int]("sub_id")).toSeq must be(Seq(0, 1, 2, 0))
    chunks.map(_.getAs[Long]("length")).toSeq must be(Seq(10L, 10L, 10L, 5L))
    chunks.last.getAs[Long]("block_offset") must be(30L)
  }

  it must "split a 254KB payload into exactly 2 blocks (scaled SnackFSSpec.scala:242-269 analog)" in {
    // the reference's largest test: 254 MB with 128 MB blocks → exactly 2
    // block locations; same ratio here at 1/1000 scale
    val payload = bytes(254 * 1024)
    val chunks = DataPlane.chunk(filesDf(Seq(("/big", payload))), 8 * 1024, 128 * 1024)
    chunks.select("block_id").distinct().count() must be(2L)
    chunks.count() must be(32L) // ceil(254/8) subblocks
    DataPlane.reassemble(chunks).collect()(0).getAs[Array[Byte]]("data") must be(payload)
  }

  behavior of "tail (D18)"

  it must "return exactly the last n bytes, fetching only overlapping subblocks" in {
    val payload = bytes(100)
    val chunks = DataPlane.chunk(filesDf(Seq(("/f", payload))), 10, 30)
    val t = DataPlane.tail(chunks, 25).collect()(0).getAs[Array[Byte]]("data")
    t must be(payload.takeRight(25))
  }

  it must "return the whole payload when shorter than n" in {
    val payload = bytes(7)
    val chunks = DataPlane.chunk(filesDf(Seq(("/f", payload))), 10, 30)
    DataPlane.tail(chunks, 1024).collect()(0).getAs[Array[Byte]]("data") must be(payload)
  }

  behavior of "readRange (C5/C6)"

  it must "serve an arbitrary byte range from overlapping subblocks only" in {
    val payload = bytes(200)
    val chunks = DataPlane.chunk(filesDf(Seq(("/f", payload))), 10, 30)
    val r = DataPlane.readRange(chunks, 55, 20).collect()(0).getAs[Array[Byte]]("data")
    r must be(payload.slice(55, 75))
  }

  behavior of "getmerge (D11)"

  it must "concatenate files under a prefix in path order" in {
    val a = "AAAA".getBytes; val b = "BB".getBytes; val c = "CCC".getBytes
    val chunks = DataPlane.chunk(
      filesDf(Seq(("/m/1", a), ("/m/2", b), ("/m/3", c), ("/other", "X".getBytes))), 2, 4)
    val merged = DataPlane.getmerge(chunks, "/m/").collect()(0).getAs[Array[Byte]]("data")
    merged must be(a ++ b ++ c)
  }

  it must "stream the same merged bytes block-by-block via the shell's -getmerge" in {
    val a = bytes(70); val b = bytes(35); val c = bytes(90)
    // a mount at the 10/30 config → every file spans multiple blocks,
    // and -getmerge streams them through its open() one block at a time
    val conf = new org.apache.hadoop.conf.Configuration(spark.sparkContext.hadoopConfiguration)
    conf.setInt("graft.subblock.size", 10)
    conf.setInt("graft.block.size", 30)
    val mount = GraftShellMain.mountOf(conf, None)
    try {
      Seq(("/m/1", a), ("/m/2", b), ("/m/3", c), ("/other", bytes(9))).foreach { case (p, d) =>
        val out = mount.create(new org.apache.hadoop.fs.Path(p), false)
        out.write(d); out.close()
      }
      val dst = java.nio.file.Files.createTempFile("graft-merge-", ".bin")
      new GraftShell(mount, FsContext.initialize("graftfs://merge"))
        .run(Array("-getmerge", "/m", dst.toString)).code must be(0)
      java.nio.file.Files.readAllBytes(dst) must be(a ++ b ++ c)
      java.nio.file.Files.delete(dst)
    } finally mount.close()
  }

  behavior of "text (D13)"

  it must "inflate gzip payloads and pass plain bytes through" in {
    val plain = "plain utf-8 content"
    val gzBody = "this was gzipped content"
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(gzBody.getBytes("UTF-8")); gz.close()
    val chunks = DataPlane.chunk(
      filesDf(Seq(("/t/plain.txt", plain.getBytes("UTF-8")),
        ("/t/zipped.gz", bos.toByteArray))), 10, 30)
    val out = DataPlane.text(chunks).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    out("/t/plain.txt") must be(plain)
    out("/t/zipped.gz") must be(gzBody)
  }

  it must "inflate the first entry of a PK-zip payload (reference help: 'zip and TextRecordInputStream')" in {
    val zipBody = "this was inside a zip entry"
    val bos = new java.io.ByteArrayOutputStream()
    val zip = new java.util.zip.ZipOutputStream(bos)
    zip.putNextEntry(new java.util.zip.ZipEntry("doc.txt"))
    zip.write(zipBody.getBytes("UTF-8"))
    zip.closeEntry()
    zip.putNextEntry(new java.util.zip.ZipEntry("ignored-second-entry.txt"))
    zip.write("not this one".getBytes("UTF-8"))
    zip.closeEntry(); zip.close()
    val chunks = DataPlane.chunk(
      filesDf(Seq(("/t/archive.zip", bos.toByteArray))), 10, 30)
    val out = DataPlane.text(chunks).collect()
    out.length must be(1)
    out(0).getString(1) must be(zipBody)
  }

  it must "render a SequenceFile as key\\tvalue lines (TextRecordInputStream)" in {
    import org.apache.hadoop.io.{SequenceFile, Text}
    val bos = new java.io.ByteArrayOutputStream()
    val conf = new org.apache.hadoop.conf.Configuration()
    val writer = SequenceFile.createWriter(conf,
      SequenceFile.Writer.stream(new org.apache.hadoop.fs.FSDataOutputStream(bos, null)),
      SequenceFile.Writer.keyClass(classOf[Text]),
      SequenceFile.Writer.valueClass(classOf[Text]))
    writer.append(new Text("k1"), new Text("first value"))
    writer.append(new Text("k2"), new Text("second value"))
    writer.close()
    val chunks = DataPlane.chunk(
      filesDf(Seq(("/t/records.seq", bos.toByteArray))), 64, 256)
    val out = DataPlane.text(chunks).collect()
    out.length must be(1)
    out(0).getString(1) must be("k1\tfirst value\nk2\tsecond value\n")
  }

  behavior of "reassembleBlocks (bounded cells)"

  it must "cap every reassembled cell at blockSize, never file size" in {
    val payload = bytes(100) // 10/30 → 4 blocks of ≤30 bytes
    val chunks = DataPlane.chunk(filesDf(Seq(("/f", payload))), 10, 30)
    val blocks = DataPlane.reassembleBlocks(chunks)
      .orderBy(col("block_offset")).collect()
    blocks.length must be(4)
    all(blocks.map(_.getAs[Array[Byte]]("data").length)) must be <= 30
    blocks.flatMap(_.getAs[Array[Byte]]("data")) must be(payload)
  }
}
