package graft.fs

import java.io.{FileNotFoundException, IOException}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.catalog.FsCatalog

/** Driver-held current→birth prefix re-keying for the chunk plane —
  * immutable row names under a driver map (the mount's payload keys
  * do the same per file) generalized to PREFIX entries so the
  * snapshot-style shell state gets plan-free renames. Chunk rows are
  * stored under an IMMUTABLE birth path; an entry `(currentPrefix →
  * birthPrefix)` says "rows under birthPrefix belong to currentPrefix
  * now". Rename is pure map re-keying — ZERO plan nodes — where the old
  * filter∪rewrite DOUBLED the chunk tree per verb (2^k analysis
  * growth; the r13 storm measured 13–44 s verbs on the mount's
  * equivalent shape before its renames became map re-keying). Entries
  * always map straight into BIRTH space (resolved at creation), so
  * lookup is one longest-prefix match, never a chain. The map is
  * bounded by the session's rename/claimed-creation count and clears
  * at the persistence boundary ([[GraftFs.normalized]]).
  */
final case class ChunkAliases(
    entries: scala.collection.immutable.TreeMap[String, String]) {

  def isEmpty: Boolean = entries.isEmpty

  private def pfx(p: String): String = if (p == "/") "/" else p + "/"

  /** `p` is `root` or inside `root`'s subtree. */
  def covers(root: String, p: String): Boolean =
    p == root || p.startsWith(pfx(root))

  /** Longest current-prefix entry covering `p`, if any. */
  def entryFor(p: String): Option[(String, String)] = {
    var best: Option[(String, String)] = None
    entries.foreach { case e @ (c, _) =>
      if (covers(c, p) && best.forall(_._1.length < c.length)) best = Some(e)
    }
    best
  }

  /** The stored (birth) path holding `p`'s rows. */
  def resolve(p: String): String = entryFor(p) match {
    case Some((c, b)) => b + p.drop(c.length)
    case None => p
  }

  /** Birth name for a NEWLY created file at `p`, plus the alias entry
    * to record if the identity/resolved name is claimed by another
    * entry's birth region (a recreation under a renamed-away path —
    * the NUL-suffix rule: NUL never appears in a real Hadoop
    * path, so aliases cannot shadow data).
    */
  def birthForNew(p: String): (String, Option[(String, String)]) = {
    val e = entryFor(p)
    val b = e match {
      case Some((c, bp)) => bp + p.drop(c.length)
      case None => p
    }
    val claimedByOther = entries.exists { case en @ (_, bp2) =>
      !e.contains(en) && covers(bp2, b)
    }
    // resolution through an existing entry needs NO new entry — the
    // covering entry already maps reads back
    if (!claimedByOther) (b, None)
    else {
      var k = 1L
      var cand = b + "\u0000" + k
      while (entries.valuesIterator.contains(cand)) {
        k += 1; cand = b + "\u0000" + k
      }
      (cand, Some(p -> cand))
    }
  }

  def withEntry(cur: String, birth: String): ChunkAliases =
    ChunkAliases(entries + (cur -> birth))

  /** True when `p`'s resolved birth lies in a DIFFERENT entry's birth
    * region — any rows stored there belong to that entry's current
    * path, not to `p` (a path re-created after a rename moved the
    * original away, before any new rows were written). Readers must
    * answer empty.
    */
  def resolvedClaimedByOther(p: String): Boolean = {
    val e = entryFor(p)
    val b = resolve(p)
    entries.exists { case en @ (_, bp2) =>
      !e.contains(en) && covers(bp2, b)
    }
  }

  /** Alias-map transform for rename(src → dst): entries inside src
    * re-key; the remainder of src's subtree (identity rows, or rows
    * resolved through an ENCLOSING entry) gets one new entry mapping
    * dst into its birth region. Longest-prefix matching keeps nested
    * entries authoritative over the new coarser one.
    */
  def renamed(src: String, dst: String): ChunkAliases = {
    val reKeyed = entries.map { case (c, b) =>
      if (covers(src, c)) (dst + c.drop(src.length)) -> b else c -> b
    }
    val hadRoot = entries.contains(src)
    val out =
      if (hadRoot) reKeyed
      else entries.find { case (c, _) => c != src && covers(c, src) } match {
        case Some((c, b)) => reKeyed + (dst -> (b + src.drop(c.length)))
        case None => reKeyed + (dst -> src)
      }
    ChunkAliases(scala.collection.immutable.TreeMap.empty[String, String] ++ out)
  }

  /** Stored-space subtree predicate. */
  private def underStored(root: String): Column =
    col("path") === root || col("path").startsWith(pfx(root))

  /** Predicate selecting the stored rows whose CURRENT owner lies in
    * `path`'s subtree — the chunk half of a recursive delete, built
    * from bounded literal clauses (one per intersecting alias entry),
    * never a plan-doubling rewrite. Cells follow longest-prefix
    * ownership: each entry's doomed portion carves out nested entries'
    * birth regions (they answer for themselves), and the identity
    * clause excludes every claimed birth region.
    */
  def doomedColumn(path: String): Column = {
    val clauses = Seq.newBuilder[Column]
    // identity rows under path, minus every intersecting birth region
    val identity = entries.foldLeft(underStored(path)) {
      case (acc, (_, bp)) =>
        if (covers(path, bp) || covers(bp, path)) acc && !underStored(bp)
        else acc
    }
    clauses += identity
    entries.foreach { case (c, bp) =>
      val dPart: Option[String] =
        if (covers(path, c)) Some(bp) // whole entry dies
        else if (covers(c, path) && c != path)
          Some(bp + path.drop(c.length)) // a sub-subtree of the entry dies
        else None
      dPart.foreach { d =>
        val carved = entries.foldLeft(underStored(d)) {
          case (acc, (c2, bp2)) =>
            if ((c2, bp2) != ((c, bp)) && covers(d, bp2) && bp2 != d)
              acc && !underStored(bp2)
            else acc
        }
        clauses += carved
      }
    }
    clauses.result().reduce(_ || _)
  }

  /** Entries surviving a delete of `path` (whole-entry deaths drop;
    * partial deaths keep the entry — their doomed rows go physically).
    */
  def afterDelete(path: String): ChunkAliases =
    ChunkAliases(entries.filter { case (c, _) => !covers(path, c) })
}

object ChunkAliases {
  val empty: ChunkAliases =
    ChunkAliases(scala.collection.immutable.TreeMap.empty[String, String])
}

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
  *    ONE bounded-clause anti-filter on chunk rows (alias-aware);
  *  - rename: pure driver-map re-keying on the chunk plane (see
  *    [[ChunkAliases]] — zero plan growth) + the catalog's
  *    collect-and-relocate (linear growth; the reference loops
  *    child-by-child through the client too, RenameCommand.scala:44-58);
  *  - copy:   client-streamed duplication (the reference's FileUtil.copy
  *    shape — bytes ride the driver, the plan gains ONE local leaf).
  *
  * Chunk rows are stored under BIRTH paths; every read translates
  * current → birth at the boundary ([[rowsForFile]]/[[currentChunks]]).
  * With no aliases every path degenerates to the pre-alias plan shape
  * exactly (the mount's snapshots are alias-free: built in current-path
  * space).
  */
final case class GraftFs(catalog: FsCatalog, chunks: DataFrame,
                         aliases: ChunkAliases = ChunkAliases.empty) {

  private def prefixOf(path: String): String =
    if (path == "/") "/" else path + "/"

  private def inSubtree(path: String) =
    col("path") === path || col("path").startsWith(prefixOf(path))

  /** File `p`'s chunk rows in CURRENT-path space (one exact-match
    * filter on the stored birth name; parquet/path-range pruning
    * applies as before).
    */
  def rowsForFile(p: String): DataFrame = {
    val b = aliases.resolve(p)
    // rows at a birth claimed by ANOTHER entry belong to that entry's
    // current path — `p` (re-created at a renamed-away name, rowless)
    // must answer empty, not serve the moved file's bytes
    if (aliases.resolvedClaimedByOther(p)) chunks.filter(lit(false))
    else if (b == p) chunks.filter(col("path") === p)
    else chunks.filter(col("path") === b).withColumn("path", lit(p))
  }

  /** The whole chunk plane in CURRENT-path space: identity rows pass
    * through; each alias entry contributes one branch with the birth
    * prefix rewritten back to its current prefix (bounded by the
    * alias-map size; built per read, never persisted into state).
    */
  def currentChunks: DataFrame =
    if (aliases.isEmpty) chunks
    else {
      val identity = aliases.entries.foldLeft(chunks) {
        case (df, (_, bp)) => df.filter(!inSubtree(bp))
      }
      aliases.entries.foldLeft(identity) { case (acc, (c, bp)) =>
        val branch = aliases.entries.foldLeft(chunks.filter(inSubtree(bp))) {
          case (df, (c2, bp2)) =>
            if ((c2, bp2) != ((c, bp)) && aliases.covers(bp, bp2) && bp2 != bp)
              df.filter(!inSubtree(bp2))
            else df
        }.withColumn("path",
          concat(lit(c), expr(s"substring(path, ${bp.length + 1})")))
        acc.unionByName(branch)
      }
    }

  /** A7/D8 + B9: delete cascades to chunk rows — no orphaned data. The
    * chunk half is ONE anti-filter whose clauses are bounded by the
    * alias-map size (see [[ChunkAliases.doomedColumn]]).
    */
  def delete(path: String, recursive: Boolean): (GraftFs, Boolean) = {
    val (cat2, ok) = catalog.delete(path, recursive)
    if (!ok) (this, false)
    else (GraftFs(cat2, chunks.filter(!aliases.doomedColumn(path)),
      aliases.afterDelete(path)), true)
  }

  /** D8 over a glob, cascading to the data plane: each matched root's
    * subtree predicate folds into ONE anti-filter (the roots are the
    * glob's matches — driver-resident by the same contract the shell's
    * own glob expansion uses).
    */
  def deleteGlob(pattern: String, recursive: Boolean): (GraftFs, Boolean) = {
    val roots = catalog.globStatus(pattern)
      .select(col("path")).collect().map(_.getString(0)).toSeq.sorted
    val (cat2, ok) = catalog.deleteGlob(pattern, recursive)
    if (!ok) (this, false)
    else {
      val doomed = roots.map(aliases.doomedColumn).reduceOption(_ || _)
        .getOrElse(lit(false))
      val al2 = roots.foldLeft(aliases)((a, r) => a.afterDelete(r))
      (GraftFs(cat2, chunks.filter(!doomed), al2), true)
    }
  }

  /** A8/D6: rename re-keys the chunk plane's driver-held alias map —
    * zero plan nodes (the retired filter∪rewrite shape doubled the
    * tree per verb and went exponential under committer-frequency
    * renames; r13 storm notes). The catalog side relocates the moved
    * subtree's inode rows through the driver (linear plan growth —
    * FsCatalog.renameFrames).
    */
  def rename(src: String, dst: String): (GraftFs, Boolean) = {
    // self-rename is a no-op success on EVERY surface (FsCatalog.rename
    // and the mounted facade agree)
    if (src == dst) return (this, true)
    val (cat2, _) = catalog.rename(src, dst) // preconditions throw here
    (GraftFs(cat2, chunks, aliases.renamed(src, dst)), true)
  }

  /** Register freshly-written rows for NEW file `path` (rows carry
    * `path` in their path column). If the identity birth is claimed by
    * an alias entry (the path was renamed away and re-created), the
    * rows store under a fresh NUL-suffixed birth and the map records
    * it (the NUL-suffix rule).
    */
  def withNewRows(newCatalog: FsCatalog, path: String,
                  rows: DataFrame): GraftFs = {
    val (b, entry) = aliases.birthForNew(path)
    val stored = if (b == path) rows else rows.withColumn("path", lit(b))
    GraftFs(newCatalog, chunks.unionByName(stored),
      entry.fold(aliases) { case (c, bb) => aliases.withEntry(c, bb) })
  }

  /** D7: copy duplicates the subtree's chunk rows under the new prefix.
    * Client-streamed like the reference (-cp rides FileUtil.copy through
    * the shell process, SnackFSShell inherited copy): the source rows
    * collect, re-path on the driver, and re-enter as ONE local leaf —
    * linear plan growth where the old union-dup referenced the whole
    * chunk tree twice (doubling). Driver memory holds the copied
    * subtree's payload for the verb's duration — the interactive-shell
    * contract; bulk replication belongs to the engine's distributed
    * write path, not a shell verb.
    */
  def copy(src: String, dst: String): (GraftFs, Boolean) = {
    val (cat2, _) = catalog.copy(src, dst)
    (copyWith(cat2, src, dst), true)
  }

  // ── Caller-supplied-catalog variants: the shell's driver-resident
  //    inode cache settles the preconditions and builds the catalog
  //    frame itself (the facade's refreshedState shape), so these do
  //    ONLY the chunk-plane half. ──────────────────────────────────────

  private[fs] def renameWith(newCatalog: FsCatalog, src: String,
                             dst: String): GraftFs =
    GraftFs(newCatalog, chunks, aliases.renamed(src, dst))

  private[fs] def deleteWith(newCatalog: FsCatalog,
                             paths: Seq[String]): GraftFs = {
    val doomed = paths.map(aliases.doomedColumn).reduceOption(_ || _)
      .getOrElse(lit(false))
    GraftFs(newCatalog, chunks.filter(!doomed),
      paths.foldLeft(aliases)((a, r) => a.afterDelete(r)))
  }

  private[fs] def copyWith(newCatalog: FsCatalog, src: String,
                           dst: String): GraftFs = {
    val spark = chunks.sparkSession
    val srcRows = currentChunks.filter(inSubtree(src)).collect()
    var al = aliases
    val out = new java.util.ArrayList[org.apache.spark.sql.Row](srcRows.length)
    // per-file birth decisions (grouped driver-side; file count is the
    // copied subtree's metadata scale)
    val byFile = srcRows.groupBy(_.getAs[String]("path"))
    byFile.toSeq.sortBy(_._1).foreach { case (p, rs) =>
      val target = dst + p.drop(src.length)
      val (b, entry) = al.birthForNew(target)
      entry.foreach { case (c, bb) => al = al.withEntry(c, bb) }
      rs.foreach { r =>
        out.add(org.apache.spark.sql.Row.fromSeq(
          r.toSeq.updated(r.fieldIndex("path"), b)))
      }
    }
    val dup = spark.createDataFrame(out, chunks.schema)
    GraftFs(newCatalog, chunks.unionByName(dup), al)
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

  /** Flatten both planes' lazy plans into materialized snapshots
    * (eager localCheckpoints). Long-lived mutable sessions (the shell)
    * layer one plan node per mutation — one union per
    * written subblock — so analysis cost grows with session age;
    * compaction resets both plans to single `LogicalRDD` leaves. Rows
    * stay in BIRTH space and the alias map rides along unchanged, so
    * a compaction stays row-identical. The caller owns releasing the
    * PREVIOUS compaction (`FsState` does) — and note an
    * externally-held older snapshot cannot be recomputed once its
    * checkpoint is released.
    */
  def compact(): GraftFs =
    GraftFs(graft.catalog.FsCatalog(catalog.inodes.localCheckpoint(true)),
      chunks.localCheckpoint(true), aliases)

  /** [[compact]] that ALSO materializes the alias map away: rows
    * rewrite to CURRENT paths and the map empties — the persistence-
    * boundary form (saved state must be self-describing parquet, no
    * driver map on the side).
    */
  def normalized(): GraftFs =
    GraftFs(graft.catalog.FsCatalog(catalog.inodes.localCheckpoint(true)),
      currentChunks.localCheckpoint(true), ChunkAliases.empty)

  /** LAZY alias materialization: fold the current→birth translation
    * into the chunk PLAN (≤ |entries|+1 branches) and empty the map —
    * no action, no checkpoint, so the caller's state cell keeps sole
    * ownership of checkpoint lifecycles and the branch plan flattens
    * at its next tracked compaction. This is the alias-map growth
    * bound: without it a session doing millions of renames would
    * accumulate a driver map whose per-read translation view grows one
    * union branch per entry forever (the shell normalizes at a fixed
    * entry cap — [[GraftShell]] flush path).
    */
  def aliasesApplied(): GraftFs =
    if (aliases.isEmpty) this
    else GraftFs(catalog, currentChunks, ChunkAliases.empty)

  /** Data-plane accounting for consistency checks: chunk rows + bytes
    * under a prefix (current-path space).
    */
  def chunkSummary(prefix: String): DataFrame =
    currentChunks
      .filter(col("path").startsWith(prefix))
      .agg(
        lit(prefix).as("prefix"),
        count(lit(1)).as("n_chunks"),
        coalesce(sum(col("length")), lit(0L)).as("n_bytes"))
}
