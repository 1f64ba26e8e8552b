package graft.fs

import java.io.{FileNotFoundException, IOException}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.catalog.FsCatalog

/** The complete filesystem: metadata catalog + data plane, kept
  * consistent by construction.
  *
  * The reference deletes a file's blocks WITH its inode
  * (ThriftStore.scala:437-471, called from DeleteCommand.scala:40-43) —
  * the catalog and the data plane move together. `FsCatalog` alone only
  * mutates inode rows, which would orphan chunk rows on every rm/mv.
  * This wrapper applies the SAME path predicate to both planes:
  *
  *  - delete: anti-filter on the catalog (FsCatalog's error matrix) AND
  *    one subtree anti-filter on chunk rows;
  *  - rename: one prefix-rewrite projection on the chunk plane + the
  *    catalog's collect-and-relocate (the reference loops child-by-child
  *    through the client too, RenameCommand.scala:44-58);
  *  - copy:   the subtree's chunk rows re-pathed and unioned back in.
  *
  * Every transition returns a new value whose plan wraps the previous
  * one by a node or two — the shape for one-shot pipelines (the
  * fs_cascade_delete channel). A long-lived namespace is a mount:
  * [[GraftFileSystem]] (its [[GraftFileSystem.graftFs]] snapshot is
  * this type) and the shell that runs on it.
  */
final case class GraftFs(catalog: FsCatalog, chunks: DataFrame) {

  private def prefixOf(path: String): String =
    if (path == "/") "/" else path + "/"

  private def inSubtree(path: String) =
    col("path") === path || col("path").startsWith(prefixOf(path))

  /** File `p`'s chunk rows (one exact-match filter; parquet/path-range
    * pruning applies). */
  def rowsForFile(p: String): DataFrame = chunks.filter(col("path") === p)

  /** A7/D8 + B9: delete cascades to chunk rows — no orphaned data. */
  def delete(path: String, recursive: Boolean): (GraftFs, Boolean) = {
    val (cat2, ok) = catalog.delete(path, recursive)
    if (!ok) (this, false)
    else (GraftFs(cat2, chunks.filter(!inSubtree(path))), true)
  }

  /** Chunk paths under `src` re-rooted at `dst` (substring counts code points). */
  private def reRooted(src: String, dst: String) = concat(lit(dst),
    expr(s"substring(path, ${src.codePointCount(0, src.length) + 1})"))

  /** A8/D6: rename — the catalog relocates the moved subtree's inode
    * rows (FsCatalog.renameFrames), the chunk plane gains ONE
    * projection rewriting the subtree's path prefix.
    */
  def rename(src: String, dst: String): (GraftFs, Boolean) = {
    // self-rename is a no-op success on EVERY surface (FsCatalog.rename
    // and the mounted facade agree)
    if (src == dst) return (this, true)
    val (cat2, _) = catalog.rename(src, dst) // preconditions throw here
    (GraftFs(cat2, chunks.withColumn("path",
      when(inSubtree(src), reRooted(src, dst)).otherwise(col("path")))), true)
  }

  /** D7: copy duplicates the subtree's chunk rows under the new prefix. */
  def copy(src: String, dst: String): (GraftFs, Boolean) = {
    val (cat2, _) = catalog.copy(src, dst)
    val dup = chunks.filter(inSubtree(src)).withColumn("path", reRooted(src, dst))
    (GraftFs(cat2, chunks.unionByName(dup)), true)
  }

  /** D12: cat through the catalog — a path the catalog no longer knows
    * throws, even if (in a buggy world) chunk rows survived; a directory
    * errors like the reference shell (bytes live only in files).
    */
  def cat(path: String): DataFrame = {
    val node = catalog.retrieve(path).getOrElse(
      throw new FileNotFoundException(path))
    if (node.isDir) throw new IOException(s"$path is a directory")
    DataPlane.cat(rowsForFile(path), path)
  }

  /** Data-plane accounting for consistency checks: chunk rows + bytes
    * under a prefix.
    */
  def chunkSummary(prefix: String): DataFrame =
    chunks
      .filter(col("path").startsWith(prefix))
      .agg(
        lit(prefix).as("prefix"),
        count(lit(1)).as("n_chunks"),
        coalesce(sum(col("length")), lit(0L)).as("n_bytes"))
}
