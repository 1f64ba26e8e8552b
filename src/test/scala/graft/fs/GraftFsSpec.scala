package graft.fs

import java.io.FileNotFoundException

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.must.Matchers

import graft.TestSpark
import graft.catalog.CatalogBuilder

/** B9: catalog mutations must cascade to the data plane — the reference
  * deletes a file's blocks with its inode (ThriftStore.scala:437-471 via
  * DeleteCommand.scala:40-43). rm must leave zero orphan chunk rows; mv
  * must keep the bytes readable at the new path and gone at the old one.
  */
class GraftFsSpec extends AnyFlatSpec with Matchers {
  private lazy val spark = TestSpark.spark

  private def fixture(): (GraftFs, Array[Byte], Array[Byte]) = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val a = new Array[Byte](75); rnd.nextBytes(a)
    val b = new Array[Byte](44); rnd.nextBytes(b)
    val cat = CatalogBuilder.fromEntries(spark, Seq(
      ("/", true, 0L), ("/d", true, 0L),
      ("/d/a", false, 75L), ("/d/b", false, 44L),
      ("/keep", false, 9L)))
    val chunks = DataPlane.chunk(
      Seq(("/d/a", a), ("/d/b", b), ("/keep", Array.fill(9)(1: Byte)))
        .toDF("path", "data"), 10, 30)
    (GraftFs(cat, chunks), a, b)
  }

  behavior of "GraftFs cascade (B9)"

  it must "delete chunk rows with the inode — cat throws, zero orphans" in {
    val (fs, _, b) = fixture()
    val (fs2, ok) = fs.delete("/d/a", recursive = false)
    ok must be(true)
    an[FileNotFoundException] must be thrownBy fs2.cat("/d/a")
    fs2.chunkSummary("/d/a").collect()(0).getAs[Long]("n_chunks") must be(0L)
    // siblings untouched
    fs2.cat("/d/b").collect()(0).getAs[Array[Byte]]("data") must be(b)
  }

  it must "cascade a recursive directory delete to every chunk underneath" in {
    val (fs, _, _) = fixture()
    val (fs2, ok) = fs.delete("/d", recursive = true)
    ok must be(true)
    fs2.chunkSummary("/d/").collect()(0).getAs[Long]("n_chunks") must be(0L)
    fs2.chunkSummary("/keep").collect()(0).getAs[Long]("n_chunks") must be(1L)
  }

  it must "rename chunks with the subtree — bytes readable at the new path only" in {
    val (fs, a, b) = fixture()
    val (fs2, ok) = fs.rename("/d", "/moved")
    ok must be(true)
    fs2.cat("/moved/a").collect()(0).getAs[Array[Byte]]("data") must be(a)
    fs2.cat("/moved/b").collect()(0).getAs[Array[Byte]]("data") must be(b)
    an[FileNotFoundException] must be thrownBy fs2.cat("/d/a")
    fs2.chunkSummary("/d/").collect()(0).getAs[Long]("n_chunks") must be(0L)
  }

  it must "re-root chunk paths under a non-BMP source whole" in {
    val s = spark
    import s.implicits._
    val d = "/\uD83D\uDE00"
    val cat = CatalogBuilder.fromEntries(spark, Seq(
      ("/", true, 0L), (d, true, 0L), (s"$d/a", false, 3L)))
    val fs = GraftFs(cat, DataPlane.chunk(
      Seq((s"$d/a", Array[Byte](1, 2, 3))).toDF("path", "data"), 10, 30))
    val (fs2, _) = fs.rename(d, "/m")
    fs2.cat("/m/a").collect()(0).getAs[Array[Byte]]("data") must
      be(Array[Byte](1, 2, 3))
  }

  it must "treat self-rename as a no-op success — agreeing with the facade" in {
    // the mounted facade answers true for rename(p, p); the frame path
    // must agree (r11 ADVICE flagged a suspected divergence here), and
    // the no-op must not disturb bytes or add an identity rewrite
    val (fs, a, _) = fixture()
    val (fs2, ok) = fs.rename("/d/a", "/d/a")
    ok must be(true)
    fs2.cat("/d/a").collect()(0).getAs[Array[Byte]]("data") must be(a)
    val (cat2, catOk) = fs.catalog.rename("/d", "/d")
    catOk must be(true)
    (cat2 eq fs.catalog) must be(true)
  }

  it must "error on cat of a directory like the reference shell" in {
    val (fs, _, _) = fixture()
    val e = the[java.io.IOException] thrownBy fs.cat("/d")
    e.getMessage must include("directory")
    an[FileNotFoundException] must be thrownBy fs.cat("/nope")
  }

  behavior of "catalog/data-plane geometry agreement"

  it must "give fromDocuments the same block layout the chunk plane produces" in {
    import org.apache.spark.sql.functions._
    val sfDir = "/root/testdata/sf0.001"
    val cat = CatalogBuilder.fromDocuments(spark, sfDir, 64, 256)
    val docs = graft.Tables.documents(spark, sfDir)
    val chunks = DataPlane.chunk(
      docs.select(
        concat(lit("/docs/g"), (col("doc_id") % 4).cast("string"),
          lit("/doc_"), lpad(col("doc_id").cast("string"), 8, "0")).as("path"),
        col("text").cast("binary").as("data")), 64, 256)

    val catBlocks = cat.inodes.toDF()
      .filter(!col("isDir"))
      .select(col("path"), explode(col("blocks")).as("b"))
      .select(col("path"), col("b.offset").as("block_offset"),
        col("b.length").as("block_len"),
        org.apache.spark.sql.functions.size(col("b.subBlocks")).as("n_sub"))
    val chunkBlocks = chunks
      .groupBy(col("path"), col("block_offset"))
      .agg(sum(col("length")).as("block_len"), count(lit(1)).as("n_sub"))

    // full outer join must pair every block exactly, with equal shapes
    val mismatches = catBlocks.as("c")
      .join(chunkBlocks.as("k"), Seq("path", "block_offset"), "full_outer")
      .filter(col("c.block_len").isNull || col("k.block_len").isNull ||
        col("c.block_len") =!= col("k.block_len") ||
        col("c.n_sub") =!= col("k.n_sub"))
    mismatches.count() must be(0L)
  }

  it must "copy chunks with the subtree — both paths readable, bytes equal" in {
    val (fs, a, _) = fixture()
    val (fs2, ok) = fs.copy("/d", "/dup")
    ok must be(true)
    fs2.cat("/d/a").collect()(0).getAs[Array[Byte]]("data") must be(a)
    fs2.cat("/dup/a").collect()(0).getAs[Array[Byte]]("data") must be(a)
    val (orig, dup) = (fs2.chunkSummary("/d/").collect()(0),
      fs2.chunkSummary("/dup/").collect()(0))
    dup.getAs[Long]("n_chunks") must be(orig.getAs[Long]("n_chunks"))
    dup.getAs[Long]("n_bytes") must be(orig.getAs[Long]("n_bytes"))
  }
}
