package graft.fs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The data plane: the reference's block/subblock byte streams
  * (FileSystemOutputStream.scala:55-143, BlockInputStream.scala:42-122)
  * re-expressed as a distributed dataset of subblock rows
  *
  *   (path, block_id, sub_id, block_offset, offset, length, data: BINARY)
  *
  * Writing = expression-based chunking (explode over a sequence +
  * `substring` on BINARY — all codegen'd, no UDF, no driver loop).
  * Reading = ordered reassembly (sort by absolute offset inside a
  * higher-order fold). Every op is per-path parallel: at 100 TB each
  * file's chunks hash to its own groups and nothing ever collects to the
  * driver; the 8 MB/128 MB defaults mirror the reference's
  * SnackFSConfiguration.scala:41-42.
  */
object DataPlane {

  val DefaultSubBlock: Int = 8 * 1024 * 1024
  val DefaultBlock: Int = 128 * 1024 * 1024

  /** Split `(path, data: BINARY)` rows into subblock rows — C1/C2/C3:
    * buffer → subblock flush → block roll, done declaratively.
    */
  def chunk(files: DataFrame,
            subBlockSize: Int = DefaultSubBlock,
            blockSize: Int = DefaultBlock): DataFrame = {
    require(subBlockSize > 0 && blockSize % subBlockSize == 0,
      "blockSize must be a positive multiple of subBlockSize")
    val sbPerBlock = blockSize / subBlockSize
    files
      .select(col("path"), col("data"))
      .withColumn("n_sb",
        expr(s"CAST(ceil(octet_length(data) / CAST($subBlockSize AS DOUBLE)) AS INT)"))
      // zero-length files yield zero subblocks (the reference stores none)
      .withColumn("i", explode(
        when(col("n_sb") > 0, expr("sequence(0, n_sb - 1)"))
          .otherwise(expr("CAST(array() AS ARRAY<INT>)"))))
      .select(
        col("path"),
        (col("i") / sbPerBlock).cast("int").as("block_id"),
        (col("i") % sbPerBlock).cast("int").as("sub_id"),
        (floor(col("i") / sbPerBlock) * blockSize).cast("long").as("block_offset"),
        ((col("i") % sbPerBlock) * subBlockSize).cast("long").as("offset"),
        expr(s"substring(data, i * $subBlockSize + 1, $subBlockSize)").as("data"))
      .withColumn("length", octet_length(col("data")).cast("long"))
  }

  private val absOff = col("block_offset") + col("offset")

  /** Ordered subblock→block reassembly — one row per (path, block), each
    * cell bounded by blockSize (128 MB default), never by file size: the
    * first fold of [[reassemble]], so no aggregation buffer outgrows a
    * block before the per-file concat.
    */
  def reassembleBlocks(chunks: DataFrame): DataFrame =
    chunks
      .groupBy(col("path"), col("block_id"), col("block_offset"))
      .agg(
        expr("""aggregate(
                 transform(array_sort(collect_list(struct(offset, data))),
                           x -> x.data),
                 CAST('' AS BINARY),
                 (acc, x) -> concat(acc, x))""").as("data"))

  /** C5-C9: ordered reassembly of every path — one row per path with the
    * full byte payload back, built block-wise (subblock→block fold first,
    * so no aggregation buffer ever exceeds one block until the final
    * per-file concat). The OUTPUT cell still holds the whole file — that
    * is this API's contract (a payload column), right for files that fit
    * a row; an arbitrarily large file streams through a mount's
    * `open()` (GraftFileSystem), one block resident at a time.
    */
  def reassemble(chunks: DataFrame): DataFrame =
    reassembleBlocks(chunks)
      .groupBy(col("path"))
      .agg(
        expr("""aggregate(
                 transform(array_sort(collect_list(struct(block_offset, data))),
                           x -> x.data),
                 CAST('' AS BINARY),
                 (acc, x) -> concat(acc, x))""").as("data"))

  /** D12: cat — reassembled payload for one path. */
  def cat(chunks: DataFrame, path: String): DataFrame =
    reassemble(chunks.filter(col("path") === path))

  /** D18: tail — last `n` bytes per path WITHOUT reading the body: only
    * subblocks overlapping [total-n, total) are fetched (the Spark analog
    * of the reference's seek(len-1024), SnackFSShell.scala:508-534).
    */
  def tail(chunks: DataFrame, n: Int): DataFrame = {
    val totals = chunks.groupBy(col("path"))
      .agg(max(absOff + col("length")).as("total"))
    val wanted = chunks
      .join(broadcast(totals), "path")
      .filter(absOff + col("length") > col("total") - n)
    wanted
      .groupBy(col("path"), col("total"))
      .agg(
        min(absOff).as("start"),
        expr("""aggregate(
                 transform(array_sort(collect_list(struct(block_offset + offset AS off, data))),
                           x -> x.data),
                 CAST('' AS BINARY),
                 (acc, x) -> concat(acc, x))""").as("joined"))
      .select(
        col("path"),
        expr(s"substring(joined, CAST(greatest(total - $n, start) - start + 1 AS INT))")
          .as("data"))
  }

  /** C5/C6: positioned read — bytes [start, start+len) per path, fetching
    * only the subblocks overlapping the range (the seek + findBlock walk
    * of FileSystemInputStream.scala:45-76 as partition-prunable
    * predicates).
    */
  def readRange(chunks: DataFrame, start: Long, len: Long): DataFrame =
    chunks
      .filter(absOff + col("length") > start && absOff < start + len)
      .groupBy(col("path"))
      .agg(
        min(absOff).as("first_off"),
        expr("""aggregate(
                 transform(array_sort(collect_list(struct(block_offset + offset AS off, data))),
                           x -> x.data),
                 CAST('' AS BINARY),
                 (acc, x) -> concat(acc, x))""").as("joined"))
      .select(
        col("path"),
        expr(s"substring(joined, CAST($start - first_off + 1 AS INT), ${len.toInt})")
          .as("data"))

  /** D11: getmerge — ordered concat of all files under a prefix into one
    * payload CELL; ordering = path order (SURVEY §7.5: filename order, the
    * documented choice for the reference's ambiguous "merge and sort").
    * Digest-check convenience for merges that fit a row — the shell's
    * -getmerge streams through the mount instead.
    */
  def getmerge(chunks: DataFrame, prefix: String,
               addnl: Boolean = false): DataFrame = {
    if (!addnl)
      chunks
        .filter(col("path").startsWith(prefix))
        .agg(
          expr("""aggregate(
                   transform(array_sort(collect_list(struct(path, block_offset + offset AS off, data))),
                             x -> x.data),
                   CAST('' AS BINARY),
                   (acc, x) -> concat(acc, x))""").as("data"))
    else
      // [addnl] (SnackFSShell.scala:608-613 copyMergeToLocal's optional
      // boolean): a newline after EACH file — so fold per-file payloads,
      // not raw chunks, and suffix each one
      reassemble(chunks.filter(col("path").startsWith(prefix)))
        .agg(
          expr("""aggregate(
                   transform(array_sort(collect_list(struct(path, data))),
                             x -> concat(x.data, encode('\n', 'UTF-8'))),
                   CAST('' AS BINARY),
                   (acc, x) -> concat(acc, x))""").as("data"))
  }

  /** D13: -text — cat with codec sniff (Hadoop FsShell.text semantics;
    * the reference inherits it, SnackFSShell.scala:154-155 "allowed
    * formats are zip and TextRecordInputStream"). Gzip magic 0x1f8b →
    * inflate; PK-zip magic 0x504b0304 → inflate the FIRST entry (the
    * help text's "zip"); SequenceFile magic 'SEQ' → one `key\tvalue`
    * line per record (Hadoop's TextRecordInputStream rendering,
    * including its quirk that any payload starting with those bytes is
    * TREATED as a SequenceFile and errors if it isn't one); anything
    * else passes through as UTF-8. Streaming inflate is byte-level
    * codec work no Expression expresses, so it rides `mapPartitions`
    * like Multimodal.decodeMeta: one row in, one row out, payloads
    * never shuffle beyond the reassembly that already happened.
    */
  def text(chunks: DataFrame): DataFrame = {
    val spark = chunks.sparkSession
    import spark.implicits._
    reassemble(chunks)
      .select(col("path"), col("data"))
      .as[(String, Array[Byte])]
      .mapPartitions(_.map { case (p, bytes) =>
        (p, new String(decodeText(bytes),
          java.nio.charset.StandardCharsets.UTF_8))
      })
      .toDF("path", "text")
  }

  /** One payload decoded the way [[text]] decodes it; a payload the sniffed
    * codec cannot read throws its IOException. The shell's -text runs
    * this on the driver. */
  private[fs] def decodeText(bytes: Array[Byte]): Array[Byte] = {
    def magic(i: Int): Int = if (i < bytes.length) bytes(i) & 0xFF else -1
    if (magic(0) == 0x1F && magic(1) == 0x8B) {
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try in.readAllBytes() finally in.close()
    } else if (magic(0) == 'P' && magic(1) == 'K' &&
               magic(2) == 0x03 && magic(3) == 0x04) {
      val in = new java.util.zip.ZipInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        if (in.getNextEntry == null) Array.emptyByteArray
        else in.readAllBytes()
      } finally in.close()
    } else if (magic(0) == 'S' && magic(1) == 'E' && magic(2) == 'Q') {
      sequenceFileText(bytes)
    } else bytes
  }

  /** TextRecordInputStream rendering of an in-memory SequenceFile:
    * `key\tvalue\n` per record (Hadoop FsShell.text). Reads through
    * `SequenceFile.Reader.stream` over a seekable byte view — no
    * filesystem round-trip; key/value classes instantiate reflectively
    * like Hadoop does, so any Writable on the classpath renders.
    */
  private def sequenceFileText(bytes: Array[Byte]): Array[Byte] = {
    import org.apache.hadoop.io.SequenceFile
    val conf = ParquetFiles.conf
    val reader = new SequenceFile.Reader(conf,
      SequenceFile.Reader.stream(
        new org.apache.hadoop.fs.FSDataInputStream(new SeekableBytes(bytes))),
      // a bare stream has no end marker — without the explicit length
      // the reader runs off the last record into EOFException
      SequenceFile.Reader.length(bytes.length.toLong))
    try {
      val key = org.apache.hadoop.util.ReflectionUtils
        .newInstance(reader.getKeyClass, conf)
        .asInstanceOf[org.apache.hadoop.io.Writable]
      val value = org.apache.hadoop.util.ReflectionUtils
        .newInstance(reader.getValueClass, conf)
        .asInstanceOf[org.apache.hadoop.io.Writable]
      val sb = new StringBuilder
      while (reader.next(key, value))
        sb.append(key).append('\t').append(value).append('\n')
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    } finally reader.close()
  }

  /** Minimal seekable in-memory stream — the contract
    * `SequenceFile.Reader.stream` requires of its input.
    */
  private final class SeekableBytes(bytes: Array[Byte])
    extends java.io.ByteArrayInputStream(bytes)
    with org.apache.hadoop.fs.Seekable
    with org.apache.hadoop.fs.PositionedReadable {
    override def seek(p: Long): Unit = {
      if (p < 0 || p > bytes.length)
        throw new java.io.IOException(s"seek past end: $p")
      pos = p.toInt
    }
    override def getPos: Long = pos.toLong
    override def seekToNewSource(t: Long): Boolean = false
    override def read(position: Long, buffer: Array[Byte], offset: Int,
                      length: Int): Int = {
      if (length == 0) return 0
      if (position >= bytes.length) return -1
      val n = math.min(length, bytes.length - position.toInt)
      System.arraycopy(bytes, position.toInt, buffer, offset, n)
      n
    }
    override def readFully(position: Long, buffer: Array[Byte], offset: Int,
                           length: Int): Unit =
      if (read(position, buffer, offset, length) < length)
        throw new java.io.IOException("readFully past EOF")
    override def readFully(position: Long, buffer: Array[Byte]): Unit =
      readFully(position, buffer, 0, buffer.length)
  }
}
