package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.schema.{GroupType, MessageType, Type, Types}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, StringStartsWith}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.fs.ParquetFiles

/** DataSourceV2 connector that MOUNTS a saved FsCatalog snapshot — the
  * reference's "point Spark at live filesystem state and read it"
  * surface (SnackFS.scala:51-73 mounts the store; ThriftStore.scala:543-605
  * maps blocks to ring replicas) re-expressed the Spark-native way:
  *
  *  - `FsCatalog.save` writes the catalog path-range-partitioned and
  *    path-sorted (FsCatalog.scala:347-356); this connector plans ONE
  *    `InputPartition` per snapshot parquet file and prunes files at
  *    planning time from the parquet footer's min/max `path` statistics —
  *    the reference's secondary-index anchoring
  *    (ThriftStore.scala:477-490), done by never planning the dead
  *    splits. Pruning is CONSERVATIVE: missing/foreign stats keep the
  *    file, and every filter stays in the residual plan, so correctness
  *    never depends on connector pruning. Interval logic compares
  *    UNSIGNED UTF-8 BYTES on both sides — parquet's binary-stats
  *    order — with prefix upper bounds via byte-successor, so pruning
  *    is exact for any path content, not just ASCII (Java UTF-16
  *    compare disagrees with byte order above the BMP and could prune
  *    a live file; a pruned file is unrecoverable by residuals).
  *  - `preferredLocations` = the RF=3 token-ring replica set of the
  *    file's lowest path (owner = first md5 hex char mod 3 — the same
  *    ring function `FsCatalog.blockLocations` applies to block ids,
  *    which ARE md5(path) for the first block of every
  *    CatalogBuilder.fromPart file). For inodes whose block ids are
  *    literal strings (facade writes, fromEntries), the computed OWNER
  *    can differ from blockLocations' — but with RF=3 on the 3-node
  *    ring the replica SET is all three nodes either way, so the hint
  *    differs only in (Spark-irrelevant) order, never in membership.
  *  - Executors read their single file through parquet-hadoop's Group
  *    API with a pruned projection (path, parentPath, isDir,
  *    blocks.element.length only) — sub-block metadata, the bulk of the
  *    snapshot bytes, is never materialized.
  *  - Planning and every partition reader share the JVM's one loaded
  *    Hadoop conf (`graft.fs.ParquetFiles.conf`, defaults plus any
  *    core-site.xml, since the snapshot dir may be non-local); a reader
  *    sets its projection on a copy, never on the shared conf. The
  *    footer min/max logic is `ParquetFiles.pathBounds`, the same one
  *    the mount uses to open only the chunk parts that hold a block.
  *
  * Usage:
  *   catalog.save(dir)
  *   spark.read.format("graft.sources.GraftFsDataSource").load(dir)
  *
  * Surfaced schema: (path, parent_path, is_dir, len) with
  * len = Σ block lengths (A6 semantics, SnackFileStatus.scala:40).
  */
class GraftFsDataSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftFsDataSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    val path = properties.get("path")
    require(path != null && path.nonEmpty,
      "GraftFsDataSource requires .load(<FsCatalog.save dir>)")
    new GraftFsTable(path)
  }
}

object GraftFsDataSource {
  val schema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("parent_path", StringType, nullable = true), // null at "/"
    StructField("is_dir", BooleanType, nullable = false),
    StructField("len", LongType, nullable = false)))

  /** Ring owner of a path: ascii of the first md5 hex char, mod 3 —
    * mirrors `FsCatalog.blockLocations`'s `ascii(substring(id,1,1)) % 3`
    * over block ids (= md5(path) for each file's first block).
    */
  def ringOwner(s: String): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    f"${d(0) & 0xff}%02x".charAt(0).toInt % 3
  }
}

class GraftFsTable(snapshotDir: String) extends Table with SupportsRead {
  override def name(): String = s"graftfs($snapshotDir)"
  override def schema(): StructType = GraftFsDataSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftFsScanBuilder(snapshotDir)
}

class GraftFsScanBuilder(snapshotDir: String)
    extends ScanBuilder with SupportsPushDownFilters {
  private var pushed: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter {
      case EqualTo("path", _) | EqualTo("parent_path", _) => true
      case StringStartsWith("path", _) | StringStartsWith("parent_path", _) => true
      case _ => false
    }
    // return ALL filters as residual: Spark re-evaluates them post-scan,
    // so pruning is purely an optimization, never a correctness dependency
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new GraftFsScan(snapshotDir, pushed)
}

class GraftFsScan(snapshotDir: String, pushed: Array[Filter])
    extends Scan with Batch {
  override def readSchema(): StructType = GraftFsDataSource.schema
  override def toBatch: Batch = this

  /** A pushed predicate as a path interval in UNSIGNED UTF-8 BYTE order
    * (parquet's binary-stats order); every inode matching the predicate
    * has `path` inside it. parent_path predicates translate through the
    * invariant parentPath ⊂ path (children of v live under "v/"; the
    * root's children under "/"). Prefix upper bounds are the EXCLUSIVE
    * byte-successor of the prefix (None = unbounded when the successor
    * overflows) — the old `p + "￿"` UTF-16 bound under-covered
    * supplementary-plane paths and could prune a live file.
    */
  private def interval(f: Filter): Option[GraftFsScan.PathInterval] = f match {
    case EqualTo("path", v: String) =>
      val b = GraftFsScan.u8(v)
      Some(GraftFsScan.PathInterval(b, Some(b), hiInclusive = true))
    case StringStartsWith("path", p: String) =>
      Some(GraftFsScan.prefixInterval(p))
    case EqualTo("parent_path", v: String) =>
      Some(GraftFsScan.prefixInterval(if (v == "/") "/" else v + "/"))
    case StringStartsWith("parent_path", p: String) =>
      Some(GraftFsScan.prefixInterval(p))
    case _ => None
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val dir = new Path(snapshotDir)
    val fs = dir.getFileSystem(ParquetFiles.conf)
    val files = fs.listStatus(dir)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
    require(files.nonEmpty, s"no parquet snapshot files under $snapshotDir")
    val intervals = pushed.flatMap(interval)

    var projection: String = null
    files.flatMap { st =>
      val footer = ParquetFiles.footer(st.getPath)
      if (projection == null)
        projection = GraftFsScan.projectionOf(footer.getFileMetaData.getSchema).toString
      if (footer.getBlocks.isEmpty) None // zero-row file: nothing to read
      else {
        // missing stats in any row group ⇒ None ⇒ the file is kept
        val stats = ParquetFiles.pathBounds(footer)
        val survives = stats.forall { case (min, max) =>
          intervals.forall { iv =>
            GraftFsScan.cmp(max, iv.lo) >= 0 && iv.hi.forall { h =>
              val c = GraftFsScan.cmp(min, h)
              if (iv.hiInclusive) c <= 0 else c < 0
            }
          }
        }
        if (survives)
          Some(GraftSnapshotPartition(st.getPath.toString, projection,
            GraftFsScan.replicas(stats
              .map(b => new String(b._1, java.nio.charset.StandardCharsets.UTF_8))
              .getOrElse(st.getPath.getName))))
        else None
      }
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftSnapshotReaderFactory
}

object GraftFsScan {
  /** Path interval in unsigned UTF-8 byte order; hi=None is unbounded. */
  final case class PathInterval(lo: Array[Byte], hi: Option[Array[Byte]],
                                hiInclusive: Boolean)

  def u8(s: String): Array[Byte] = ParquetFiles.u8(s)

  /** Unsigned lexicographic byte compare — parquet's UTF8 stats order. */
  def cmp(a: Array[Byte], b: Array[Byte]): Int = ParquetFiles.cmp(a, b)

  /** Smallest byte string strictly greater than every string with prefix
    * `p`: increment the last non-0xFF byte, dropping the tail after it;
    * all-0xFF has no successor (None = unbounded above).
    */
  def successor(p: Array[Byte]): Option[Array[Byte]] = {
    var i = p.length - 1
    while (i >= 0 && p(i) == 0xff.toByte) i -= 1
    if (i < 0) None
    else {
      val out = java.util.Arrays.copyOf(p, i + 1)
      out(i) = (out(i) + 1).toByte
      Some(out)
    }
  }

  def prefixInterval(p: String): PathInterval = {
    val b = u8(p)
    PathInterval(b, successor(b), hiInclusive = false)
  }

  /** RF=3 replica endpoints of a path's ring owner. */
  def replicas(anchor: String): Array[String] = {
    val o = GraftFsDataSource.ringOwner(anchor)
    Array(s"node-$o", s"node-${(o + 1) % 3}", s"node-${(o + 2) % 3}")
  }

  /** Column-pruned read schema built FROM the file's own footer schema
    * (so repetition/annotations match by construction): keep path,
    * parentPath, isDir, and blocks trimmed to element.length only —
    * subBlocks, ids and offsets are never decoded.
    */
  def projectionOf(file: MessageType): MessageType = {
    def field(name: String): Type = file.getType(file.getFieldIndex(name))
    val blocks = field("blocks").asGroupType()
    val list = blocks.getType(0).asGroupType()
    val element = list.getType(0).asGroupType()
    val length = element.getType(element.getFieldIndex("length"))
    val prunedElement = new GroupType(element.getRepetition, element.getName, length)
    val prunedList = new GroupType(list.getRepetition, list.getName,
      prunedElement: Type)
    val prunedBlocks = Types.buildGroup(blocks.getRepetition)
      .as(blocks.getLogicalTypeAnnotation)
      .addField(prunedList)
      .named(blocks.getName)
    new MessageType(file.getName,
      field("path"), field("parentPath"), field("isDir"), prunedBlocks)
  }
}

/** One snapshot parquet file per partition; locality = ring replicas of
  * the file's lowest path.
  */
case class GraftSnapshotPartition(file: String, projection: String,
                                  locations: Array[String]) extends InputPartition {
  override def preferredLocations(): Array[String] = locations
}

class GraftSnapshotReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val gp = p.asInstanceOf[GraftSnapshotPartition]
    new PartitionReader[InternalRow] {
      private val reader = {
        val conf = new Configuration(ParquetFiles.conf)
        conf.set(ReadSupport.PARQUET_READ_SCHEMA, gp.projection)
        ParquetFiles.groupReader(new Path(gp.file), conf = conf)
      }
      private var current: Group = _

      override def next(): Boolean = { current = reader.read(); current != null }

      override def get(): InternalRow = {
        val parent =
          if (current.getFieldRepetitionCount("parentPath") > 0)
            UTF8String.fromString(current.getString("parentPath", 0))
          else null // the root inode
        // len = Σ block lengths (directories carry blocks = null)
        var len = 0L
        if (current.getFieldRepetitionCount("blocks") > 0) {
          val blocks = current.getGroup("blocks", 0)
          val n = blocks.getFieldRepetitionCount(0)
          var i = 0
          while (i < n) {
            val entry = blocks.getGroup(0, i)
            if (entry.getFieldRepetitionCount(0) > 0)
              len += entry.getGroup(0, 0).getLong("length", 0)
            i += 1
          }
        }
        InternalRow(
          UTF8String.fromString(current.getString("path", 0)),
          parent, current.getBoolean("isDir", 0), len)
      }

      override def close(): Unit = reader.close()
    }
  }
}
