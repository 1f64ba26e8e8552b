package graft.fs

import org.apache.spark.sql.functions._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.must.Matchers

import graft.TestSpark
import graft.catalog.CatalogBuilder

/** The compacting state cell: plan depth stays bounded across many
  * mutations, content survives compaction, and superseded checkpoints
  * are released without breaking the live snapshot.
  */
class FsStateSpec extends AnyFlatSpec with Matchers {
  private lazy val spark = TestSpark.spark

  private def oneFile(path: String, payload: String) = {
    val df = spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row(path, payload.getBytes)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("path",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("data",
          org.apache.spark.sql.types.BinaryType))))
    DataPlane.chunk(df, 4, 8)
  }

  private def emptyFs() = GraftFs(
    CatalogBuilder.fromEntries(spark, Seq(("/", true, 0L))),
    oneFile("/seed", "").filter(lit(false)))

  it must "flatten the plan at compaction boundaries (doubling interval) and keep content identical" in {
    val cell = new FsState(emptyFs(), compactEvery = 4)
    (1 to 10).foreach { i =>
      val fs = cell.get
      cell.set(GraftFs(
        fs.catalog.touchz(s"/f$i"),
        fs.chunks.unionByName(oneFile(s"/f$i", s"payload-$i"))))
    }
    // compactEvery=4 with doubling: compacted at mutation 4 (next
    // boundary 12) — so after 10 mutations the chunk plan is one
    // checkpoint leaf + 6 union deltas, never a 10-union chain
    val leaves = cell.get.chunks.queryExecution.analyzed.collectLeaves()
    leaves.size must be <= 7
    leaves.count(_.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]) must be(1)
    // content unaffected: every payload reads back through the compacted plan
    (1 to 10).foreach { i =>
      val bytes = DataPlane.cat(cell.get.chunks, s"/f$i").collect()(0)
        .getAs[Array[Byte]]("data")
      new String(bytes) must be(s"payload-$i")
      cell.get.catalog.exists(s"/f$i") must be(true)
    }
    // forced compaction releases the previous checkpoint and still reads
    cell.compactNow()
    cell.compactNow() // second release path (prev checkpoint present)
    new String(DataPlane.cat(cell.get.chunks, "/f7").collect()(0)
      .getAs[Array[Byte]]("data")) must be("payload-7")
  }

  behavior of "FsState.trySwap rebasing (the LSM swap — r13)"

  it must "re-key renames with ZERO plan growth (the retired doubling shape's replacement)" in {
    val cell = new FsState(emptyFs(), compactEvery = 1000)
    val fs0 = cell.get
    cell.set(GraftFs(fs0.catalog.touchz("/h0"),
      fs0.chunks.unionByName(oneFile("/h0", "h")), fs0.aliases))
    val planBefore = cell.get.chunks.queryExecution.analyzed
    // 64 chained renames — the shape that used to stack 2^64 growth
    (1 to 64).foreach { i =>
      cell.set(cell.get.rename(
        if (i == 1) "/h0" else s"/h${i - 1}", s"/h$i")._1)
    }
    // the chunk PLAN is the same object — rename never touched it
    (cell.get.chunks.queryExecution.analyzed eq planBefore) must be(true)
    // and the bytes read back at the final name only
    new String(DataPlane.cat(cell.get.rowsForFile("/h64"), "/h64")
      .collect()(0).getAs[Array[Byte]]("data")) must be("h")
    DataPlane.cat(cell.get.rowsForFile("/h0"), "/h0").collect() must be(empty)
    // a compaction keeps birth space + alias map and still answers
    cell.compactNow()
    new String(DataPlane.cat(cell.get.rowsForFile("/h64"), "/h64")
      .collect()(0).getAs[Array[Byte]]("data")) must be("h")
  }


  it must "keep pinned snapshots queryable across later compactions" in {
    val cell = new FsState(emptyFs(), compactEvery = 2)
    (1 to 4).foreach { i =>
      val fs = cell.get
      cell.set(GraftFs(
        fs.catalog.touchz(s"/p$i"),
        fs.chunks.unionByName(oneFile(s"/p$i", s"pin-$i"))))
    }
    // snapshot escapes (the facade's graftFs / shell's fs pattern) —
    // its backing checkpoint must survive the next compactions
    val escaped = cell.pinCurrent()
    (5 to 12).foreach { i =>
      val fs = cell.get
      cell.set(GraftFs(
        fs.catalog.touchz(s"/p$i"),
        fs.chunks.unionByName(oneFile(s"/p$i", s"pin-$i"))))
    }
    cell.compactNow()
    // the escaped snapshot still reads its own generation's content
    new String(DataPlane.cat(escaped.chunks, "/p3").collect()(0)
      .getAs[Array[Byte]]("data")) must be("pin-3")
    escaped.catalog.exists("/p4") must be(true)
    escaped.catalog.exists("/p9") must be(false) // frozen, not live
    // and the live cell kept all later writes
    new String(DataPlane.cat(cell.get.chunks, "/p9").collect()(0)
      .getAs[Array[Byte]]("data")) must be("pin-9")
  }

  // the one checkpoint leaf inside a (checkpoint ∪ deltas) plan
  private def checkpointRdd(df: org.apache.spark.sql.Dataset[_]) =
    df.queryExecution.analyzed.collectLeaves()
      .collect { case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd }
      match {
        case Seq(rdd) => rdd
        case other => fail(s"expected one LogicalRDD leaf, got ${other.size}")
      }

  it must "bound live checkpointed RDDs at one generation (2 planes) across many mutations" in {
    // the facade/long-session leak-class guard: however many mutations
    // and compaction boundaries a session crosses, storage must hold
    // exactly the CURRENT generation's checkpoint pair (inodes+chunks)
    // — every superseded generation's blocks released. A bound that
    // grew with mutation count would be the r7 bench-suite leak shape.
    graft.PlanHygiene.sweepPersisted(spark, blocking = true)
    val cell = new FsState(emptyFs(), compactEvery = 2)
    (1 to 20).foreach { i =>
      val fs = cell.get
      cell.set(GraftFs(
        fs.catalog.touchz(s"/b$i"),
        fs.chunks.unionByName(oneFile(s"/b$i", s"bound-$i"))))
    }
    // compactEvery=2 doubling: boundaries at 2,6,14 → 3 generations
    // made, 2 released; plus unreleased per-compaction transients would
    // show up here too
    val live = spark.sparkContext.getPersistentRDDs.values
      .filter(_.getStorageLevel.useMemory)
    live.size must be <= 2
    cell.compactNow() // superseding again still leaves one generation
    val after = spark.sparkContext.getPersistentRDDs.values
      .filter(_.getStorageLevel.useMemory)
    after.size must be <= 2
    // and the live snapshot still reads
    new String(DataPlane.cat(cell.get.chunks, "/b20").collect()(0)
      .getAs[Array[Byte]]("data")) must be("bound-20")
  }

  it must "free an unpinned generation's checkpoint storage instead of retaining one snapshot per pin forever" in {
    val cell = new FsState(emptyFs(), compactEvery = 2)
    (1 to 4).foreach { i =>
      val fs = cell.get
      cell.set(GraftFs(
        fs.catalog.touchz(s"/u$i"),
        fs.chunks.unionByName(oneFile(s"/u$i", s"unpin-$i"))))
    }
    val escaped = cell.pinCurrent()
    cell.pinCurrent() must be theSameInstanceAs escaped // same generation
    cell.pinCount must be(1) // two escapes of one generation share ONE entry
    val backing = checkpointRdd(escaped.chunks)
    // supersede the pinned generation; the pin keeps its storage alive
    (5 to 8).foreach { i =>
      val fs = cell.get
      cell.set(GraftFs(
        fs.catalog.touchz(s"/u$i"),
        fs.chunks.unionByName(oneFile(s"/u$i", s"unpin-$i"))))
    }
    cell.compactNow()
    backing.getStorageLevel.useMemory must be(true)
    // pins are ref counted: the FIRST unpin must not free storage the
    // second holder of the same generation still reads
    cell.unpin(escaped)
    cell.pinCount must be(1)
    backing.getStorageLevel.useMemory must be(true)
    // the FINAL unpin frees the superseded checkpoint immediately
    cell.unpin(escaped)
    cell.pinCount must be(0)
    backing.getStorageLevel.useMemory must be(false)
    // the live cell is untouched by the sweep
    new String(DataPlane.cat(cell.get.chunks, "/u7").collect()(0)
      .getAs[Array[Byte]]("data")) must be("unpin-7")
  }
}
