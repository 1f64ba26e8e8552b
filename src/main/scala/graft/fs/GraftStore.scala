package graft.fs

import java.util.UUID

import graft.catalog.Inode

/** The pluggable store seam — the engine-side analog of the reference's
  * `FileSystemStore` trait (reference FileSystemStore.scala:29-56), the
  * one north-star surface a Cassandra deployment would re-bind. Its
  * binding is [[SharedStateStore]] over the persisted state layout —
  * the store the scheme mount writes through to and the CLI brackets
  * its verbs with — and GraftStoreSpec runs the contract against it. A
  * `CassandraStore` would be a second binding when an environment has
  * one (this sandbox does not — documented narrowing, SURVEY §2.2 B1).
  *
  * Method map (reference → here; the reference returns Thrift-async
  * `Future`s, re-expressed as synchronous calls):
  *
  * | Ref (FileSystemStore.scala) | Here | SharedStateStore impl |
  * |---|---|---|
  * | `createKeyspace` :31 (ThriftStore.scala:88-170) | createKeyspace() | first version dir (root inode + empty chunks) + `CURRENT` flip |
  * | `init` :33 (client pool, ThriftStore.scala:175-207) | init() | no-op BY DESIGN: no connection to pool (SURVEY §2.2 B2) |
  * | `storeINode` :35 (ThriftStore.scala:281-327) | storeINode | one atomically-renamed wal delta |
  * | `retrieveINode` :37 (ThriftStore.scala:329-350) | retrieveINode | wal replay, else a path-pruned base catalog read |
  * | `storeSubBlock` :39 (ThriftStore.scala:352-385) | storeFileData | chunk rows + BlockMeta.forLength inode in one wal delta — C1-C4 in one commit |
  * | `retrieveSubBlock` :41 (+byteRangeStart; ThriftStore.scala:387-411) | retrieveSubBlock | block-pruned reads of the overlapping blocks (SavedState.readBlock) |
  * | `retrieveBlock` :43 (BlockInputStream) | retrieveBlock | ordered block reads of the whole file |
  * | `deleteINode` :45 (ThriftStore.scala:413-425) | deleteINode | tombstone delta |
  * | `deleteBlocks` :47 (ThriftStore.scala:427-464) | deleteBlocks | payload tombstone delta |
  * | `fetchSubPaths` :49 (deep flag; ThriftStore.scala:490-541) | fetchSubPaths | path-range base read ∪ wal overlay |
  * | `getBlockLocations` :51 (token ring → replicas, ThriftStore.scala:543-605) | getBlockLocations | FsCatalog.blockLocations' ring formula (deterministic hash-ring analog, 3 replicas) |
  * | `acquireFileLock` :53 (time-UUID column race, ThriftStore.scala:607-734) | acquireFileLock | SharedFileLocks.acquire (atomic exclusive create on shared storage — multi-driver) |
  * | `releaseFileLock` :55 | releaseFileLock | SharedFileLocks.release |
  * | (keyspace drop — B13) | dropKeyspace() | delete `CURRENT`, versions and wal |
  */
trait GraftStore {
  def createKeyspace(): Unit
  def init(): Unit
  def storeINode(inode: Inode): Unit
  def retrieveINode(path: String): Option[Inode]

  /** Store a file's payload AND commit its inode in one verb (the
    * reference splits these across storeSubBlock + storeINode; the
    * fused form keeps both planes consistent under the single lock).
    * Metadata is CALLER-OWNED like the reference's storeINode(path,
    * iNode): `mtime` is the caller's modification time, never a
    * binding-invented constant. Permission defaults to 420 (rw-r--r--)
    * and group to `user` — the same defaults the facade's create path
    * applies; a caller needing different ones follows with storeINode.
    */
  def storeFileData(path: String, data: Array[Byte], user: String,
                    mtime: java.sql.Timestamp): Unit

  /** Convenience overload stamping now() — the common create-path call. */
  final def storeFileData(path: String, data: Array[Byte],
                          user: String): Unit =
    storeFileData(path, data, user,
      new java.sql.Timestamp(System.currentTimeMillis()))
  def retrieveSubBlock(path: String, byteRangeStart: Long,
                       len: Long): Array[Byte]
  def retrieveBlock(path: String): Array[Byte]
  def deleteINode(path: String): Unit
  def deleteBlocks(path: String): Unit
  def fetchSubPaths(path: String, isDeepFetch: Boolean): Seq[String]
  def getBlockLocations(path: String): Map[String, Seq[String]]
  def acquireFileLock(path: String): Option[UUID]
  def releaseFileLock(path: String, token: UUID): Boolean
  def dropKeyspace(): Unit
}
