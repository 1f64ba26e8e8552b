package perfbench

import java.nio.file.Paths
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

import graft.fs.GraftFileSystem

/** A `graftfs://` mount that counts the Hadoop verbs issued against it. */
final class CountingGraftFileSystem extends GraftFileSystem {
  private def note(verb: String): Unit =
    CountingGraftFileSystem.counts.computeIfAbsent(verb, _ => new LongAdder)
      .increment()

  override def getFileStatus(path: Path): FileStatus = {
    note("stat"); super.getFileStatus(path)
  }
  override def listStatus(path: Path): Array[FileStatus] = {
    note("list"); super.listStatus(path)
  }
  override def mkdirs(path: Path, permission: FsPermission): Boolean = {
    note("mkdirs"); super.mkdirs(path, permission)
  }
  override def create(path: Path, permission: FsPermission,
                      overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long, progress: Progressable)
      : FSDataOutputStream = {
    note("create")
    super.create(path, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def open(path: Path, bufferSize: Int): FSDataInputStream = {
    note("open"); super.open(path, bufferSize)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    note("rename"); super.rename(src, dst)
  }
  override def delete(path: Path, recursive: Boolean): Boolean = {
    note("delete"); super.delete(path, recursive)
  }
}

object CountingGraftFileSystem {
  val counts = new ConcurrentHashMap[String, LongAdder]

  /** The counts so far, then zeroed. */
  def take(): Map[String, Long] = counts.synchronized {
    val m = counts.asScala.map { case (k, v) => k -> v.sumThenReset() }.toMap
    m.filter(_._2 > 0)
  }
}

/** Counts the `FileSystem` verbs that mount_io's stock parquet write and
  * stock read-back issue against a state-dir mount (one batch of
  * mount_io's shape, below the pending buffer so the read-back completes).
  * fs_meta's mount-verb weights are these counts. Run:
  * python3 perfbench/run.py --committer-verbs
  */
object CommitterVerbs {
  def main(args: Array[String]): Unit = {
    val dir = Paths.get(args(0))
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = Main.session(dir, cores)
    Mounts.emptyState(spark, dir.resolve("state"))
    val (fs, base) = Mounts.mount(spark, "verbs", dir.resolve("state"),
      impl = classOf[CountingGraftFileSystem])
    CountingGraftFileSystem.take()
    Gen.payloadRows(spark, 1L, 0, 2048, cores).write.parquet(s"$base/out")
    val write = CountingGraftFileSystem.take()
    Gen.checksum(spark.read.parquet(s"$base/out"))
    val read = CountingGraftFileSystem.take()
    fs.close()
    def line(m: Map[String, Long]) =
      m.toSeq.sortBy(-_._2).map { case (k, v) => s"$k $v" }.mkString(", ")
    println(s"local[$cores], $cores part files")
    println(s"stock write:     ${line(write)}")
    println(s"stock read-back: ${line(read)}")
    spark.stop()
    System.exit(0)
  }
}
