package graft.fs

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterPredicate
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary

/** The JVM's one loaded Hadoop `Configuration`, and the session-free
  * parquet reads built over it (the mount's [[SavedState]] readers and
  * the DSv2 connector's planning and partition readers).
  *
  * Why one: a `Configuration`'s first lookup parses core-default.xml
  * and searches the class path for core-site.xml, which costs more than
  * reading a small parquet file, and `ParquetReader.builder(support,
  * path)` makes a fresh one per reader. Every reader here builds over
  * `HadoopInputFile.fromPath(path, conf)` instead, so that parse runs
  * once per JVM. The shared conf is never mutated: a caller that sets a
  * key (the DSv2 reader's read schema) sets it on a
  * `new Configuration(ParquetFiles.conf)` copy.
  */
object ParquetFiles {

  /** Defaults plus any core-site.xml on the class path (a DSv2 snapshot
    * dir may name a non-local filesystem), loaded here, once. Read-only. */
  val conf: Configuration = {
    val c = new Configuration()
    c.size() // load the resources now, not under the first reader
    c
  }

  private final class GroupReaderBuilder(file: Path, conf: Configuration)
      extends ParquetReader.Builder[Group](HadoopInputFile.fromPath(file, conf)) {
    override protected def getReadSupport(): ReadSupport[Group] =
      new GroupReadSupport()
  }

  /** A Group reader of one parquet file with an optional pushed
    * predicate (row-group statistics, dictionary and record-level
    * filtering); `conf` defaults to the shared one. */
  def groupReader(file: Path, filter: Option[FilterPredicate] = None,
                  conf: Configuration = conf): ParquetReader[Group] = {
    val b = new GroupReaderBuilder(file, conf)
    filter.foreach(p => b.withFilter(FilterCompat.get(p)))
    b.build()
  }

  def footer(file: Path): ParquetMetadata = {
    val rd = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try rd.getFooter finally rd.close()
  }

  def u8(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** Unsigned lexicographic byte compare — parquet's UTF8 stats order. */
  def cmp(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  /** The `path` column's (min, max) across a footer's row groups, in
    * unsigned UTF-8 byte order; None when the file has no row groups or
    * any row group lacks `path` statistics — a caller that prunes on
    * the bounds must then keep the file. */
  def pathBounds(footer: ParquetMetadata): Option[(Array[Byte], Array[Byte])] = {
    val perGroup = footer.getBlocks.asScala.map { bg =>
      bg.getColumns.asScala.find(_.getPath.toDotString == "path")
        .map(_.getStatistics)
        .filter(s => s != null && s.hasNonNullValue)
        .map { s =>
          (s.genericGetMin.asInstanceOf[Binary].getBytes,
            s.genericGetMax.asInstanceOf[Binary].getBytes)
        }
    }
    if (perGroup.exists(_.isEmpty)) None
    else perGroup.flatten.reduceOption[(Array[Byte], Array[Byte])] {
      case ((alo, ahi), (lo, hi)) =>
        (if (cmp(lo, alo) < 0) lo else alo, if (cmp(hi, ahi) > 0) hi else ahi)
    }
  }
}
