package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, IsNotNull, StringStartsWith}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.must.Matchers

import graft.TestSpark
import graft.catalog.CatalogBuilder

/** Mounts a CatalogBuilder-built catalog back through
  * `spark.read.format` — the reference's SnackFS.scala:51-73 surface:
  * save real filesystem state, point Spark at it, read it.
  */
class GraftFsDataSourceSpec extends AnyFlatSpec with Matchers with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark

  // a tree whose 16 files spread across 4 range-partitioned snapshot
  // files: /t/d0/f00.. /t/d3/f33 with deterministic lengths
  private lazy val entries: Seq[(String, Boolean, Long)] =
    Seq(("/t", true, 0L)) ++
      (0 until 4).flatMap { d =>
        Seq((s"/t/d$d", true, 0L)) ++
          (0 until 4).map(f => (s"/t/d$d/f$d$f", false, (d * 31 + f * 7).toLong))
      }

  private var dir: java.nio.file.Path = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    dir = java.nio.file.Files.createTempDirectory("graft-dsv2-spec")
    CatalogBuilder.fromEntries(spark, entries).save(dir.toString, numPartitions = 4)
  }

  override def afterAll(): Unit = {
    val w = java.nio.file.Files.walk(dir)
    try w.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    finally w.close()
    super.afterAll()
  }

  private def mounted() =
    spark.read.format("graft.sources.GraftFsDataSource").load(dir.toString)

  behavior of "GraftFsDataSource (DataSourceV2 snapshot mount)"

  it must "serve the saved catalog's full contents" in {
    val got = mounted()
      .select("path", "parent_path", "is_dir", "len")
      .collect()
      .map(r => (r.getString(0), Option(r.getString(1)), r.getBoolean(2), r.getLong(3)))
      .toSet
    val expected = entries.map { case (p, d, l) =>
      val par = p.substring(0, p.lastIndexOf('/')) match { case "" => "/"; case s => s }
      (p, Some(par), d, l)
    }.toSet
    got must be(expected)
  }

  it must "pin directory len to 0 and file len to the block-sum (A6)" in {
    mounted().filter(col("is_dir")).agg(sum("len")).collect()(0).getLong(0) must be(0L)
    mounted().filter(col("path") === "/t/d2/f23").collect()(0)
      .getAs[Long]("len") must be((2 * 31 + 3 * 7).toLong)
  }

  it must "prune snapshot files from pushed path predicates via footer stats" in {
    def planned(filters: org.apache.spark.sql.sources.Filter*): Int = {
      val sb = new GraftFsScanBuilder(dir.toString)
      sb.pushFilters(filters.toArray)
      sb.build().toBatch.planInputPartitions().length
    }
    val total = planned()
    total must be > 1 // range-partitioned into multiple files
    planned(EqualTo("path", "/t/d3/f33")) must be(1)
    planned(EqualTo("parent_path", "/t/d0")) must be < total
    planned(StringStartsWith("path", "/t/d2/")) must be < total
    // a filter outside every file's range prunes everything
    planned(StringStartsWith("path", "/zzz")) must be(0)
    // unsupported filters never prune
    planned(IsNotNull("len")) must be(total)
  }

  it must "keep pruning an optimization, not a correctness dependency" in {
    // pushed + residual evaluation must agree with a plain in-memory filter
    val got = mounted().filter(col("parent_path") === "/t/d1" && !col("is_dir"))
      .agg(count(lit(1)), sum("len")).collect()(0)
    got.getLong(0) must be(4L)
    got.getLong(1) must be((0 until 4).map(f => 31 + f * 7).sum.toLong)
  }

  it must "order pruning comparisons by UTF-8 bytes, not UTF-16 code units" in {
    // U+10000 (surrogate pair, UTF-16 𐀀) encodes F0 90 80 80,
    // ABOVE U+E000's EE 80 80 in byte order — but BELOW it in Java
    // String order. A UTF-16 compare would prune a file whose stats
    // bracket the supplementary-plane path; the byte compare must not.
    val supp = "/a" + new String(Character.toChars(0x10000))
    val bmp = "/a"
    GraftFsScan.cmp(GraftFsScan.u8(supp), GraftFsScan.u8(bmp)) must be > 0
    supp.compareTo(bmp) must be < 0 // the trap this replaces
    // successor: plain increment, trailing-0xFF drop, all-0xFF unbounded
    GraftFsScan.successor(GraftFsScan.u8("ab")).map(_.toSeq) must
      be(Some(GraftFsScan.u8("ac").toSeq))
    GraftFsScan.successor(Array(0x61.toByte, 0xff.toByte)).map(_.toSeq) must
      be(Some(Seq(0x62.toByte)))
    GraftFsScan.successor(Array(0xff.toByte, 0xff.toByte)) must be(None)
    // end-to-end: a prefix interval over the supplementary path keeps
    // covering stats that UTF-16 order would reject
    val iv = GraftFsScan.prefixInterval(supp)
    GraftFsScan.cmp(GraftFsScan.u8(bmp), iv.lo) < 0 must be(true)
  }

  it must "attach RF=3 hash-ring locality hints per snapshot file (A10 analog)" in {
    val parts = {
      val sb = new GraftFsScanBuilder(dir.toString)
      sb.pushFilters(Array.empty)
      sb.build().toBatch.planInputPartitions()
    }
    parts.foreach { p =>
      val locs = p.preferredLocations().toSeq
      locs.length must be(3)
      locs.toSet.subsetOf(Set("node-0", "node-1", "node-2")) must be(true)
      locs.toSet.size must be(3) // all three replicas, owner first
    }
  }

  it must "leave the shared Hadoop conf unmutated by a projected scan and a saved read" in {
    import scala.jdk.CollectionConverters._
    val shared = graft.fs.ParquetFiles.conf
    def props() = shared.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
    val before = props()
    // the partition readers set their projection as the read schema
    mounted().filter(col("path").startsWith("/t/d1")).select("path", "len")
      .collect().length must be(5)
    graft.fs.SavedState.readCatalog(dir.toString).size must be(entries.size)
    shared.get(org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA) must be(null)
    props() must be(before)
  }
}
