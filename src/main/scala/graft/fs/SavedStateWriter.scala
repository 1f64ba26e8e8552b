package graft.fs

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.{MessageType, MessageTypeParser}

import graft.catalog.Inode

/** SESSION-FREE writers of the persisted filesystem-state layout — the
  * mutation-side twin of [[SavedState]]'s readers: any JVM (no
  * SparkSession, no driver) can append a catalog or chunk parquet file
  * that Spark (`spark.read.parquet`), the pruned [[SavedState]]
  * readers, and DuckDB all read back identically.
  *
  * Why this exists: the reference's store is DIRECTLY writable by any
  * client, with no coordinator (ThriftStore.scala:281-385); here the
  * layout is PLAIN PARQUET with a fixed schema, so one inode row or one
  * file's chunk rows needs the stock parquet writer and nothing else.
  * Every payload writer of a state dir goes through here: a mount's fold
  * and close write chunk files into `data/` (each payload byte once), as
  * does [[SharedStateStore.storeFileData]]; the wal deltas that name
  * those files are [[SharedStateStore]] manifests.
  *
  * Schema parity: the message types below mirror what Spark's parquet
  * writer emits for the `Inode` dataset (3-level LIST groups named
  * `list`/`element` — exactly what [[SavedState.listElements]] walks)
  * and for `DataPlane.chunk` rows. Timestamps are written INT64
  * TIMESTAMP(MILLIS) — a unit [[SavedState.readMtime]] inspects from
  * the logical annotation, and Spark reads natively.
  *
  * Stats anchoring: callers pass rows PRE-SORTED on the lookup key
  * (`path` for catalogs, `(path, block_id, sub_id)` for chunks) so
  * parquet row-group min/max statistics keep the same point/range
  * pruning contract `FsCatalog.save` and `GraftShellMain.saveFs`
  * establish for the Spark-written files.
  */
object SavedStateWriter {

  private val catalogSchema: MessageType = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional binary path (UTF8);
      |  optional binary parentPath (UTF8);
      |  optional binary user (UTF8);
      |  optional binary group (UTF8);
      |  optional int32 permission;
      |  optional boolean isDir;
      |  optional int64 mtime (TIMESTAMP(MILLIS,true));
      |  optional group blocks (LIST) {
      |    repeated group list {
      |      optional group element {
      |        optional binary id (UTF8);
      |        optional int64 offset;
      |        optional int64 length;
      |        optional group subBlocks (LIST) {
      |          repeated group list {
      |            optional group element {
      |              optional binary id (UTF8);
      |              optional int64 offset;
      |              optional int64 length;
      |            }
      |          }
      |        }
      |      }
      |    }
      |  }
      |}""".stripMargin)

  private val chunksSchema: MessageType = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional binary path (UTF8);
      |  optional int32 block_id;
      |  optional int32 sub_id;
      |  optional int64 block_offset;
      |  optional int64 offset;
      |  optional binary data;
      |  optional int64 length;
      |}""".stripMargin)

  /** A writer of one new local file, through java.nio: Hadoop's local
    * FileSystem forks a `chmod` per file and per `.crc` sibling when the
    * native Hadoop library is absent (most of a wal commit's time). Pages
    * are 8 KB, not parquet's 1 MB default: every column buffers a page
    * before its first flush, and for a small file (a close's few pending
    * rows) allocating those buffers cost more than the rest of the write
    * (1.5 → 0.4 ms per one-row file, measured). */
  private def writer(file: String, schema: MessageType) = {
    val conf = new Configuration(false)
    org.apache.parquet.hadoop.example.GroupWriteSupport
      .setSchema(schema, conf)
    ExampleParquetWriter.builder(
        new LocalOutputFile(java.nio.file.Paths.get(file)))
      .withConf(conf)
      .withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withPageSize(8 << 10)
      .withDictionaryPageSize(8 << 10)
      .build()
  }

  /** An inode as [[SavedState.readCatalog]] reads it back from
    * [[writeCatalogFile]]: mtime in millis (null: epoch), subBlocks non-null. */
  def asRead(n: Inode): Inode = n.copy(
    mtime = new java.sql.Timestamp(Option(n.mtime).fold(0L)(_.getTime)),
    blocks = Option(n.blocks).map(_.map(b =>
      if (b.subBlocks == null) b.copy(subBlocks = Seq.empty) else b)).orNull)

  /** Write inodes (caller-sorted by path) as ONE parquet file. */
  def writeCatalogFile(file: String, inodes: Seq[Inode]): Unit = {
    val f = new SimpleGroupFactory(catalogSchema)
    val w = writer(file, catalogSchema)
    try inodes.foreach { n =>
      val g = f.newGroup()
      g.add("path", n.path)
      if (n.parentPath != null) g.add("parentPath", n.parentPath)
      if (n.user != null) g.add("user", n.user)
      if (n.group != null) g.add("group", n.group)
      g.add("permission", n.permission)
      g.add("isDir", n.isDir)
      if (n.mtime != null) g.add("mtime", n.mtime.getTime)
      if (n.blocks != null) {
        val blocks = g.addGroup("blocks")
        n.blocks.foreach { b =>
          val e = blocks.addGroup("list").addGroup("element")
          e.add("id", b.id)
          e.add("offset", b.offset)
          e.add("length", b.length)
          if (b.subBlocks != null) {
            val subs = e.addGroup("subBlocks")
            b.subBlocks.foreach { s =>
              val se = subs.addGroup("list").addGroup("element")
              se.add("id", s.id)
              se.add("offset", s.offset)
              se.add("length", s.length)
            }
          }
        }
      }
      w.write(g)
    } finally w.close()
  }

  /** One subblock row of the chunk plane (DataPlane.chunk's shape). */
  final case class ChunkRow(path: String, blockId: Int, subId: Int,
                            blockOffset: Long, offset: Long,
                            data: Array[Byte])

  /** Slice a payload into subblock rows with DataPlane.chunk's exact
    * geometry (zero-length files yield zero rows — the reference
    * stores none), so a writer-produced chunk table is
    * row-for-row what the Spark chunker would have emitted.
    */
  def chunkRows(path: String, data: Array[Byte], subBlockSize: Int,
                blockSize: Int): Seq[ChunkRow] = {
    require(subBlockSize > 0 && blockSize % subBlockSize == 0,
      "blockSize must be a positive multiple of subBlockSize")
    val sbPerBlock = blockSize / subBlockSize
    val nSb = (data.length + subBlockSize - 1) / subBlockSize
    (0 until nSb).map { i =>
      val from = i * subBlockSize
      val until = math.min(data.length, from + subBlockSize)
      ChunkRow(path, i / sbPerBlock, i % sbPerBlock,
        (i / sbPerBlock).toLong * blockSize,
        (i % sbPerBlock).toLong * subBlockSize,
        java.util.Arrays.copyOfRange(data, from, until))
    }
  }

  /** Write chunk rows (caller-sorted by (path, block_id, sub_id)) as
    * ONE parquet file.
    */
  def writeChunksFile(file: String, rows: Seq[ChunkRow]): Unit = {
    val f = new SimpleGroupFactory(chunksSchema)
    val w = writer(file, chunksSchema)
    try rows.foreach { r =>
      val g = f.newGroup()
      g.add("path", r.path)
      g.add("block_id", r.blockId)
      g.add("sub_id", r.subId)
      g.add("block_offset", r.blockOffset)
      g.add("offset", r.offset)
      g.add("data", org.apache.parquet.io.api.Binary.fromConstantByteArray(r.data))
      g.add("length", r.data.length.toLong)
      w.write(g)
    } finally w.close()
  }
}
