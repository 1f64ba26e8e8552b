package graft.fs

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.must.Matchers

import graft.TestSpark
import graft.catalog.FsCatalog

/** The store contract driven END TO END against [[SharedStateStore]],
  * the store every mount commits through, over a fresh persisted state
  * dir. The contract (reference FileSystemStore.scala:29-56) is what a
  * `CassandraStore` would have to pass, method for method.
  */
class GraftStoreSpec extends AnyFlatSpec with Matchers {
  private lazy val spark = TestSpark.spark

  private def newStore(): SharedStateStore = new SharedStateStore(
    java.nio.file.Files.createTempDirectory("graft-shared-store").toString,
    subBlockSize = 8, blockSize = 32)

  private def bindings(): Seq[(String, () => SharedStateStore)] = Seq(
    "SharedStateStore" -> (() => newStore()))

  for ((label, mk) <- bindings()) {

    it must s"round-trip inodes and payload through the contract [$label]" in {
      val store: SharedStateStore = mk()
      store.createKeyspace()
      store.init()

      // B3/B4: inode upsert + retrieve
      store.storeINode(FsCatalog.dirInode("/docs", "alice"))
      store.retrieveINode("/docs").map(_.isDir) must be(Some(true))
      store.retrieveINode("/missing") must be(None)

      // B5/C1-C4: payload write chunks through the real geometry
      val payload = ("0123456789" * 9).getBytes // 90 B -> 3 blocks, 12 subs
      store.storeFileData("/docs/f1", payload, "alice")
      val node = store.retrieveINode("/docs/f1").get
      node.length must be(90L)
      node.blocks.length must be(3)

      // B7: ordered full reassembly
      store.retrieveBlock("/docs/f1") must be(payload)
      // B6: positioned read with byteRangeStart crossing block boundaries
      new String(store.retrieveSubBlock("/docs/f1", 28L, 8L)) must be(
        new String(payload.slice(28, 36)))
      store.retrieveSubBlock("/docs/f1", 95L, 4L) must be(
        Array.emptyByteArray)

      // B10: shallow vs deep fetch
      store.storeINode(FsCatalog.dirInode("/docs/sub", "alice"))
      store.storeFileData("/docs/sub/f2", "xy".getBytes, "alice")
      store.fetchSubPaths("/docs", isDeepFetch = false) must be(
        Seq("/docs/f1", "/docs/sub"))
      store.fetchSubPaths("/docs", isDeepFetch = true) must be(
        Seq("/docs/f1", "/docs/sub", "/docs/sub/f2"))

      // B11: every block resolves to the 3-replica ring
      val locs = store.getBlockLocations("/docs/f1")
      locs.size must be(3)
      locs.values.foreach(_.length must be(3))
      // B11 on a DIRECTORY (blocks = null, Model.scala): both bindings
      // must answer the same empty map, never NPE (r16 ADVICE parity gap)
      store.getBlockLocations("/docs") must be(Map.empty)
      // ...and on a missing path
      store.getBlockLocations("/nope") must be(Map.empty)

      // B12: lock protocol (driver-local analog)
      val tok = store.acquireFileLock("/docs/f1")
      tok.isDefined must be(true)
      store.acquireFileLock("/docs/f1") must be(None) // held
      store.releaseFileLock("/docs/f1", tok.get) must be(true)

      // B8/B9: inode and block deletion are independent verbs
      store.deleteBlocks("/docs/f1")
      store.retrieveBlock("/docs/f1") must be(Array.emptyByteArray)
      store.deleteINode("/docs/f1")
      store.retrieveINode("/docs/f1") must be(None)

      // B13
      store.dropKeyspace()
      an[IllegalArgumentException] must be thrownBy
        store.retrieveINode("/docs")
    }

    it must s"overwrite payload on re-store (upsert, both planes) [$label]" in {
      val store: SharedStateStore = mk()
      store.createKeyspace()
      store.storeFileData("/a", "first".getBytes, "u")
      store.storeFileData("/a", "second!".getBytes, "u")
      store.retrieveBlock("/a") must be("second!".getBytes)
      store.retrieveINode("/a").get.length must be(7L)
    }

    it must s"persist the caller-owned mtime, never a constant [$label]" in {
      // the r15 ADVICE gap: the binding invented Timestamp(0) — the
      // reference's storeINode persists the CALLER's iNode metadata
      val store: SharedStateStore = mk()
      store.createKeyspace()
      val t = new java.sql.Timestamp(1723800000000L)
      store.storeFileData("/m", "data".getBytes, "u", t)
      store.retrieveINode("/m").get.mtime must be(t)
      // the now()-stamping overload lands inside a sane clock window
      val before = System.currentTimeMillis() - 1
      store.storeFileData("/m2", "data".getBytes, "u")
      val got = store.retrieveINode("/m2").get.mtime.getTime
      got must be >= before
      got must be <= (System.currentTimeMillis() + 1)
    }
  }

  it must "enforce CROSS-INSTANCE exclusion when stores share a lock root" in {
    // two SharedStateStore instances on one state dir model two DRIVERS
    // over one shared store: the second contender must lose through the
    // store contract itself (the multi-process half is proven by
    // SharedFileLocksSpec's forked-JVM case; this pins the seam routing)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-store-locks").toString
    val a: SharedStateStore = new SharedStateStore(dir, 8, 32)
    val b: SharedStateStore = new SharedStateStore(dir, 8, 32)
    a.createKeyspace(); b.createKeyspace()
    val tok = a.acquireFileLock("/shared/f")
    tok.isDefined must be(true)
    b.acquireFileLock("/shared/f") must be(None) // other-driver contender
    // release by the wrong holder fails; the winner's token frees it
    b.releaseFileLock("/shared/f", java.util.UUID.randomUUID()) must be(false)
    a.releaseFileLock("/shared/f", tok.get) must be(true)
    b.acquireFileLock("/shared/f").isDefined must be(true)
  }

  it must "answer getBlockLocations identically across bindings" in {
    // the ring formula is part of the contract (owner = ascii of the
    // block id's first char mod 3, RF=3 successor walk): the store must
    // place blocks exactly as the catalog op the DSv2 connector and the
    // fs_block_locations channel use, or locality-aware consumers break
    val store: SharedStateStore = newStore()
    store.createKeyspace()
    store.storeFileData("/ring/f", ("x" * 70).getBytes, "u")
    val catalog = FsCatalog(spark.createDataset(
      Seq(store.retrieveINode("/ring/f").get))(FsCatalog.inodeEncoder))
    val fromCatalog = catalog.blockLocations("/ring/f").collect().map { r =>
      r.getAs[String]("block_id") ->
        r.getAs[String]("replicas").split(",").toSeq
    }.toMap
    store.getBlockLocations("/ring/f") must be(fromCatalog)
    fromCatalog.size must be(3)
  }
}
