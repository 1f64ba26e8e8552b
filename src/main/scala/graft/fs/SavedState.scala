package graft.fs

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.io.api.Binary

import graft.catalog.{BlockMeta, Inode, SubBlockMeta}

/** SESSION-FREE readers of a persisted filesystem state (a state dir:
  * `catalog/` + `chunks/` parquet under the versioned dir `CURRENT`
  * names, immutable chunk files in `data/`, and the wal deltas that
  * reference them — [[SharedStateStore]]) — the read path of the scheme
  * mount and of the store.
  *
  * Why this exists: the reference serves ANY client straight from the
  * store, no driver in the loop (README.md:7, FileSystemInputStream).
  * Here a saved state IS plain parquet: any session-less JVM reads an
  * inode table or one file's block rows with the stock parquet-hadoop
  * reader — no SparkSession, no job. The facade's `blockAt` routes every
  * block miss here: the base chunks, the `data/` files and a
  * non-committing mount's private segments share this one layout.
  *
  * Pruning shape: `saveFs` and compaction sort the chunk table by
  * (path, block_id). [[blockRows]] opens every part file of a source
  * and pushes `path = X AND block_id = N` into each reader (row-group
  * statistics + dictionary + record-level filtering). A mount resolves
  * its saved chunks dir through [[ChunkParts]] instead: each part's
  * footer `path` bounds are read once, so a one-block fetch opens only
  * the part (two, when the file's blocks straddle a boundary) whose
  * range covers the key, and decodes only the row groups whose
  * statistics admit it. A 100 TB deployment points
  * `graft.mount.state.dir` at shared storage and every executor reads
  * its own splits directly — the same no-driver shape as the DSv2
  * connector, for the byte-stream API. Every reader builds over the
  * JVM's one loaded [[ParquetFiles.conf]].
  */
object SavedState {

  /** The parquet files of a chunks/catalog source: a dir's part files,
    * or the source itself when it is one file (a `data/` file, a mount
    * segment). */
  private def parquetFiles(dir: String): Seq[String] = {
    val p = Paths.get(dir)
    if (Files.isRegularFile(p)) return Seq(dir)
    if (!Files.isDirectory(p)) return Seq.empty
    val l = Files.list(p)
    try l.iterator().asScala
      .map(_.toString)
      .filter(f => f.endsWith(".parquet") && !f.contains("_SUCCESS"))
      .toSeq.sorted
    finally l.close()
  }

  /** A local file as a `file:` path: these readers never resolve a path
    * through the conf's default filesystem. */
  private def local(f: String): Path = new Path(Paths.get(f).toUri)

  /** All inodes of a saved catalog dir — the executor-mode mount's
    * metadata bootstrap. Handles both parquet timestamp encodings
    * Spark emits (INT64 MICROS and legacy INT96) and directories'
    * null block arrays.
    */
  def readCatalog(catalogDir: String): Seq[Inode] =
    readInodes(catalogDir, None)

  /** Inodes of a catalog-layout dir matching an optional pushed-down
    * parquet predicate — the POINT/RANGE form (FsCatalog.save sorts and
    * range-partitions on `path`, so a path-keyed predicate prunes at
    * row-group statistics before any decode).
    */
  def readInodes(catalogDir: String,
                 filter: Option[org.apache.parquet.filter2.predicate
                   .FilterPredicate]): Seq[Inode] = {
    val out = Seq.newBuilder[Inode]
    parquetFiles(catalogDir).foreach { f =>
      val reader = ParquetFiles.groupReader(local(f), filter)
      try {
        var g = reader.read()
        while (g != null) {
          out += inodeOf(g)
          g = reader.read()
        }
      } finally reader.close()
    }
    out.result()
  }

  /** Rows of a catalog/chunks source, from its footers alone. */
  def rowCount(dir: String): Long =
    parquetFiles(dir).iterator.map(f =>
      ParquetFiles.footer(local(f)).getBlocks.asScala.map(_.getRowCount).sum).sum

  /** Every row of a chunks source whose key is in `keys`, in one scan
    * per file — the compaction read. */
  def chunkRows(source: String, keys: Set[String]): Seq[SavedStateWriter.ChunkRow] = {
    val out = Seq.newBuilder[SavedStateWriter.ChunkRow]
    parquetFiles(source).foreach { f =>
      val reader = ParquetFiles.groupReader(local(f))
      try {
        var g = reader.read()
        while (g != null) {
          val key = g.getString("path", 0)
          if (keys.contains(key))
            out += SavedStateWriter.ChunkRow(key, g.getInteger("block_id", 0),
              g.getInteger("sub_id", 0), g.getLong("block_offset", 0),
              g.getLong("offset", 0), g.getBinary("data", 0).getBytes)
          g = reader.read()
        }
      } finally reader.close()
    }
    out.result()
  }

  /** Predicate: `path = p`. */
  def pathEq(p: String): org.apache.parquet.filter2.predicate.FilterPredicate =
    FilterApi.eq(FilterApi.binaryColumn("path"), Binary.fromString(p))

  /** Predicate: `prefix <= path < prefix-successor` — the subtree
    * range (parquet binary comparison is unsigned lexicographic, which
    * matches Java String order on the ASCII paths this engine uses).
    */
  def pathRange(prefix: String): org.apache.parquet.filter2.predicate.FilterPredicate = {
    val lo = FilterApi.gtEq(FilterApi.binaryColumn("path"),
      Binary.fromString(prefix))
    // empty prefix (whole namespace) and a Char.MaxValue tail (no
    // successor — the range is unbounded above) both degrade to the
    // half-open lower bound instead of throwing/wrapping
    if (prefix.isEmpty || prefix.last == Char.MaxValue) lo
    else FilterApi.and(lo,
      FilterApi.lt(FilterApi.binaryColumn("path"),
        Binary.fromString(prefix.init + (prefix.last + 1).toChar)))
  }

  private def optString(g: Group, field: String): String =
    if (g.getFieldRepetitionCount(field) == 0) null else g.getString(field, 0)

  /** Spark's physical timestamp forms: INT96 (julian day + nanos, the
    * legacy default) and INT64 with a TIMESTAMP logical annotation
    * whose UNIT is inspected, not assumed — a state written under
    * `spark.sql.parquet.outputTimestampType=TIMESTAMP_MILLIS` carries
    * MILLIS and dividing it by 1000 would silently shrink every mtime
    * 1000× (the r16 ADVICE gap).
    */
  private def readMtime(g: Group): java.sql.Timestamp = {
    if (g.getFieldRepetitionCount("mtime") == 0)
      return new java.sql.Timestamp(0L)
    val prim = g.getType.getType("mtime").asPrimitiveType()
    val millis = prim.getPrimitiveTypeName.name() match {
      case "INT96" =>
        val b = g.getInt96("mtime", 0).getBytes // little-endian nanos, julian day
        val buf = java.nio.ByteBuffer.wrap(b)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val nanos = buf.getLong
        val julian = buf.getInt
        (julian - 2440588).toLong * 86400000L + nanos / 1000000L
      case "INT64" =>
        val v = g.getLong("mtime", 0)
        prim.getLogicalTypeAnnotation match {
          case ts: org.apache.parquet.schema.LogicalTypeAnnotation
                .TimestampLogicalTypeAnnotation =>
            ts.getUnit match {
              case org.apache.parquet.schema.LogicalTypeAnnotation
                    .TimeUnit.MILLIS => v
              case org.apache.parquet.schema.LogicalTypeAnnotation
                    .TimeUnit.MICROS => v / 1000L
              case org.apache.parquet.schema.LogicalTypeAnnotation
                    .TimeUnit.NANOS => v / 1000000L
            }
          case _ => v / 1000L // unannotated INT64: Spark's MICROS default
        }
      case other => sys.error(s"unsupported mtime physical type $other")
    }
    new java.sql.Timestamp(millis)
  }

  /** One element of a Spark 3-level LIST group: list[i].element. */
  private def listElements(g: Group, field: String): Seq[Group] = {
    if (g.getFieldRepetitionCount(field) == 0) return null
    val lst = g.getGroup(field, 0)
    (0 until lst.getFieldRepetitionCount("list")).map { i =>
      lst.getGroup("list", i).getGroup("element", 0)
    }
  }

  private def inodeOf(g: Group): Inode = {
    val blocks = Option(listElements(g, "blocks")).map(_.map { b =>
      val subs = Option(listElements(b, "subBlocks"))
        .map(_.map(s => SubBlockMeta(s.getString("id", 0),
          s.getLong("offset", 0), s.getLong("length", 0))))
        .getOrElse(Seq.empty)
      BlockMeta(b.getString("id", 0), b.getLong("offset", 0),
        b.getLong("length", 0), subs)
    }).orNull
    Inode(
      g.getString("path", 0),
      optString(g, "parentPath"),
      optString(g, "user"),
      optString(g, "group"),
      g.getInteger("permission", 0),
      g.getBoolean("isDir", 0),
      readMtime(g),
      blocks)
  }

  /** One file's ONE block as (sub_id, bytes) rows, from a chunks
    * source (a dir or a single file), fetched with
    * `path = savedPath AND block_id = blockId` pushed into the reader —
    * row groups whose (path, block_id) statistics exclude the key are
    * skipped without decoding (the save layout sorts on exactly these
    * columns). [[assemble]] merges the rows of several sources. */
  def blockRows(source: String, savedPath: String,
                blockId: Long): Seq[(Int, Array[Byte])] =
    rowsIn(parquetFiles(source), savedPath, blockId)

  private def rowsIn(files: Seq[String], savedPath: String,
                     blockId: Long): Seq[(Int, Array[Byte])] = {
    val pred = FilterApi.and(
      FilterApi.eq(FilterApi.binaryColumn("path"),
        Binary.fromString(savedPath)),
      FilterApi.eq(FilterApi.intColumn("block_id"),
        java.lang.Integer.valueOf(blockId.toInt)))
    val rows = Seq.newBuilder[(Int, Array[Byte])]
    files.foreach { f =>
      val reader = ParquetFiles.groupReader(local(f), Some(pred))
      try {
        var g = reader.read()
        while (g != null) {
          rows += ((g.getInteger("sub_id", 0),
            g.getBinary("data", 0).getBytes))
          g = reader.read()
        }
      } finally reader.close()
    }
    rows.result()
  }

  /** A range-partitioned chunks dir (the `saveFs` layout) as a block
    * lookup for the mount that reads it. The first lookup reads each
    * part file's footer `path` (min, max) once; every lookup then opens
    * only the parts whose bounds cover the key — two when a file's
    * blocks straddle a part boundary — plus any part without bounds.
    * Bounds compare in unsigned UTF-8 byte order, parquet's statistics
    * order. A saved version dir is immutable, so the bounds never go
    * stale; nothing is read until the first lookup.
    */
  final class ChunkParts(val dir: String) {
    private lazy val parts: Seq[(String, Option[(Array[Byte], Array[Byte])])] =
      parquetFiles(dir).flatMap { f =>
        val footer = ParquetFiles.footer(local(f))
        if (footer.getBlocks.isEmpty) None // a zero-row part holds nothing
        else Some(f -> ParquetFiles.pathBounds(footer))
      }

    /** The part files that can hold rows keyed `savedPath`. */
    def holding(savedPath: String): Seq[String] = {
      val k = ParquetFiles.u8(savedPath)
      parts.collect {
        case (f, b) if b.forall { case (lo, hi) =>
          ParquetFiles.cmp(lo, k) <= 0 && ParquetFiles.cmp(k, hi) <= 0
        } => f
      }
    }

    /** [[blockRows]] over only the parts [[holding]] the key. */
    def blockRows(savedPath: String, blockId: Long): Seq[(Int, Array[Byte])] =
      rowsIn(holding(savedPath), savedPath, blockId)
  }

  /** Concatenate (sub_id, bytes) rows in subblock order. */
  def assemble(rows: Seq[(Int, Array[Byte])]): Array[Byte] = {
    val ordered = rows.sortBy(_._1)
    val out = new Array[Byte](ordered.iterator.map(_._2.length).sum)
    var at = 0
    ordered.foreach { case (_, d) =>
      System.arraycopy(d, 0, out, at, d.length); at += d.length
    }
    out
  }
}
