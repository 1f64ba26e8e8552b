package graft.catalog

import java.io.{FileNotFoundException, IOException}
import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._

/** The metadata catalog: every reference FS verb re-expressed as a pure
  * transformation over a `Dataset[Inode]`.
  *
  * Design for scale: point lookups (`retrieve`) are path-equality filters
  * that Catalyst pushes into the parquet scan; subtree operations are
  * prefix (`startsWith`) filters — the exact predicate the reference
  * hand-compiles into Cassandra secondary-index range scans
  * (`path > p AND path < p⊕1`, reference ThriftStore.scala:473-540); on a
  * path-sorted/bucketed catalog both prune to a handful of files. State
  * transitions (mkdirs/delete/rename/touchz) return a NEW catalog — the
  * Spark analog of the reference's per-op Cassandra mutations; a real
  * deployment would checkpoint each transition (Delta-style) rather than
  * grow the lazy plan, which we document rather than port (single-driver
  * narrowing, see SURVEY.md §1.3 on the createlock CF).
  *
  * Ops keep the reference's exact result/error matrix:
  *  - mkdirs: per-level fold that still creates what it can
  *    (MakeDirectoryCommand.scala:68-74)
  *  - delete: missing→false, non-empty+!recursive→IOException
  *    (DeleteCommand.scala:34-75)
  *  - rename: 4-way precondition matrix, src==dst→true no-op
  *    (RenameCommand.scala:61-107)
  *  - append: always throws (AppendFileCommand.scala:38-40)
  */
final case class FsCatalog(inodes: Dataset[Inode]) {
  import FsCatalog._

  private def spark = inodes.sparkSession

  /** Child-path prefix for subtree predicates — "/" is its own prefix
    * (naively appending "/" would yield "//" and miss every child; the
    * root case was caught by CatalogProperties' dus invariant).
    */
  private def prefixOf(path: String): String =
    if (path == "/") "/" else path + "/"

  // ── B4: retrieveINode ≙ filter-head (ThriftStore.scala:329-350) ───────
  def retrieve(path: String): Option[Inode] =
    inodes.filter(col("path") === path).limit(1).collect().headOption

  def exists(path: String): Boolean = retrieve(path).isDefined

  // ── B3: storeINode ≙ upsert: anti-join + union (ThriftStore.scala:281) ─
  def store(inode: Inode): FsCatalog = {
    FsCatalog(
      inodes.filter(col("path") =!= inode.path)
        .unionByName(spark.createDataset(Seq(inode))))
  }

  // ── A5: mkdirs — ancestor walk + AND-fold, creating what it can ───────
  def mkdirs(path: String, user: String = "graft"): (FsCatalog, Boolean) = {
    val levels = PathOps.ancestors(path)
    val existing: Map[String, Boolean] = inodes
      .filter(col("path").isin(levels: _*))
      .select(col("path"), col("isDir"))
      .collect()
      .map(r => r.getString(0) -> r.getBoolean(1))
      .toMap
    val (next, ok, _) = mkdirsWith(levels, existing, user)
    (next, ok)
  }

  /** The mkdirs fold with the existence map supplied by the caller —
    * the ACTION-FREE split the mounted facade's task-side path uses
    * (its driver-resident inode cache answers existence without a
    * collect); [[mkdirs]] is the same logic behind a catalog lookup.
    * mkdir(level): exists-as-file → false (and does NOT overwrite);
    * exists-as-dir → true; missing → create → true. Result = AND of
    * all levels — no short-circuit (MakeDirectoryCommand.scala:74).
    * Returns the new catalog, the verdict, and the created inodes (the
    * caller's cache must learn exactly what the frame learned).
    */
  private[graft] def mkdirsWith(levels: Seq[String],
                                existing: Map[String, Boolean],
                                user: String)
      : (FsCatalog, Boolean, Seq[Inode]) = {
    val ok = levels.forall(l => existing.getOrElse(l, true))
    val missing = levels.filterNot(existing.contains).map(dirInode(_, user))
    val next =
      if (missing.isEmpty) this
      else FsCatalog(inodes.unionByName(spark.createDataset(missing)))
    (next, ok, missing)
  }

  /** Action-free single-path removal (file, or dir known childless). */
  private[graft] def removePath(path: String): FsCatalog =
    FsCatalog(inodes.filter(col("path") =!= path))

  /** Action-free subtree removal (recursive delete's frame half). */
  private[graft] def removeSubtree(path: String): FsCatalog =
    FsCatalog(inodes.filter(
      col("path") =!= path && !col("path").startsWith(prefixOf(path))))

  // ── A7: delete — anti-join removal with the reference's error matrix ──
  def delete(path: String, recursive: Boolean): (FsCatalog, Boolean) =
    retrieve(path) match {
      case None => (this, false)
      case Some(node) if node.isFile => (removePath(path), true)
      case Some(_) =>
        val hasChildren =
          inodes.filter(col("parentPath") === path).limit(1).count() > 0
        if (!hasChildren) (removePath(path), true)
        else if (!recursive) throw new IOException("Directory is not empty")
        else (removeSubtree(path), true)
    }

  // ── A8: rename — subtree prefix rewrite as ONE distributed transform ──
  // (the reference loops child-by-child with per-inode delete/store,
  //  RenameCommand.scala:44-58; a single prefix-rewrite pass is the
  //  100 TB-safe shape)
  def rename(src: String, dst: String): (FsCatalog, Boolean) = {
    if (src == dst) return (this, true)
    val srcNode = retrieve(src).getOrElse(
      throw new IOException(s"No such file or directory.$src"))
    if (exists(dst)) throw new IOException("Destination already exists")
    val dstParent = PathOps.parent(dst)
    if (dstParent != null) {
      val parentNode = retrieve(dstParent).getOrElse(
        throw new IOException(s"Destination $dstParent directory does not exist."))
      if (parentNode.isFile)
        throw new IOException("A file exists with parent of destination.")
    }
    (renameFrames(src, dst), true)
  }

  /** The rename relocation with preconditions already settled by the
    * caller. The moved subtree's inode rows collect to the driver,
    * re-path there, and re-enter as ONE local leaf — so the plan gains
    * a filter + a union per rename (LINEAR growth) where the old
    * filter-rewrite ∪ passthrough referenced the whole inode tree
    * TWICE and chained renames grew 2^k (the r13 shell-path doubling,
    * retired r14). The driver round-trip is metadata-scale and
    * reference-faithful: RenameCommand loops the subtree child-by-child
    * through the client too (RenameCommand.scala:44-58); the untouched
    * branch stays a pure filter so parquet min/max pruning on the
    * path-range-partitioned layout (save/load) skips its files.
    *
    * BOUNDED collect (the r14 verdict's namespace-mirror guard): the
    * round-trip is capped at [[FsCatalog.MaxCollectedRename]] inodes —
    * `limit(cap+1)` proves or refutes the bound in the same single job
    * the old path paid. A larger subtree takes the LOUD distributed
    * fallback: one prefix-rewrite projection over the subtree branch
    * unioned with the untouched-branch filter. That shape references
    * the inode tree twice per rename (the r13 plan-growth trade), which
    * is exactly right here — a subtree too big to round-trip the driver
    * is also one whose rename must stay a distributed transform, and
    * the doubling amortizes at the next save/load or shell compaction.
    */
  private[graft] def renameFrames(src: String, dst: String,
      maxCollected: Int = FsCatalog.MaxCollectedRename): FsCatalog = {
    val inSubtree = col("path") === src || col("path").startsWith(prefixOf(src))
    val collected = inodes.filter(inSubtree).limit(maxCollected + 1).collect()
    if (collected.length > maxCollected) {
      System.err.println(
        s"graftfs: rename $src -> $dst moves more than $maxCollected " +
          "inodes; taking the distributed prefix-rewrite path")
      // substring is 1-based and counts code points: drop(src.length)
      val cut = src.codePointCount(0, src.length) + 1
      val rewritten = inodes.filter(inSubtree).select(
        concat(lit(dst), expr(s"substring(path, $cut)")).as("path"),
        when(col("path") === src, lit(PathOps.parent(dst)).cast("string"))
          .otherwise(concat(lit(dst), expr(s"substring(parentPath, $cut)")))
          .as("parentPath"),
        col("user"), col("group"), col("permission"), col("isDir"),
        col("mtime"), col("blocks")).as(FsCatalog.inodeEncoder)
      FsCatalog(inodes.filter(!inSubtree).unionByName(rewritten))
    } else {
      val moved = collected.toSeq.map { n =>
        val np = dst + n.path.drop(src.length)
        n.copy(path = np, parentPath = PathOps.parent(np))
      }
      FsCatalog(inodes.filter(!inSubtree)
        .unionByName(spark.createDataset(moved)(FsCatalog.inodeEncoder)))
    }
  }

  // ── A9/D1: listStatus — shallow children (ListCommand.scala:33-60) ────
  def listStatus(path: String): DataFrame =
    retrieve(path) match {
      case None => throw new FileNotFoundException(path)
      case Some(node) if node.isFile => statusOf(inodes.filter(col("path") === path))
      case Some(_) => statusOf(inodes.filter(col("parentPath") === path))
    }

  // ── D2: lsr — deep listing, the ThriftStore deep-fetch analog ─────────
  def listStatusRecursive(path: String): DataFrame =
    statusOf(inodes.filter(col("path").startsWith(prefixOf(path))))

  // ── Glob resolution — the reference shell feeds EVERY path argument
  //    through FileSystem.globStatus before acting (SnackFSShell.scala:
  //    269-337, usage :95-101). The literal prefix prunes first
  //    (startsWith reaches parquet min/max on the path-sorted layout);
  //    the anchored regex runs on survivors only. ──────────────────────
  private def globPredicate(pattern: String): Column = {
    val base =
      col("path").startsWith(PathOps.globLiteralPrefix(pattern)) &&
        col("path").rlike(PathOps.globToRegex(pattern))
    // '*' compiles to [^/]* which matches the EMPTY component, so '/*'
    // would match '/' itself — Hadoop globStatus never returns the root
    // for '/*' (and deleting it would orphan the whole catalog); only
    // the literal '/' pattern may name the root
    if (pattern == "/") base else base && col("path") =!= "/"
  }

  private def globMatch(pattern: String): Dataset[Inode] =
    inodes.filter(globPredicate(pattern))

  /** Matched-path statuses (globStatus itself, no dir expansion). */
  def globStatus(pattern: String): DataFrame = statusOf(globMatch(pattern))

  /** D1/D2 over a glob: each matched FILE lists itself, each matched DIR
    * lists its children (deep when `recursive`) — the reference's
    * per-match `ls` loop (SnackFSShell.scala:282-296) as one plan: the
    * matched dir set (small by construction) broadcasts into a semi-join
    * against the catalog, so the corpus-side scan happens once.
    */
  def listGlob(pattern: String, recursive: Boolean = false): DataFrame = {
    val m = globMatch(pattern)
    val files = m.filter(!col("isDir"))
    val dirs = m.filter(col("isDir")).select(col("path").as("_gp"))
    val childPre =
      when(col("_gp") === "/", lit("/")).otherwise(concat(col("_gp"), lit("/")))
    val within =
      if (recursive)
        inodes.join(broadcast(dirs), col("path").startsWith(childPre), "left_semi")
      else
        inodes.join(broadcast(dirs), col("parentPath") === col("_gp"), "left_semi")
    // a brace alternation can make one path both a direct match and a
    // child of another match — dedup before projecting
    statusOf(files.unionByName(within.as[Inode]).distinct())
  }

  /** D8 over a glob: remove every matched file plus (when `recursive`)
    * every matched dir's subtree, as ONE anti-join pass — no per-match
    * driver loop. Error matrix per the reference: a matched dir without
    * -rmr throws; no match at all → false.
    */
  def deleteGlob(pattern: String, recursive: Boolean): (FsCatalog, Boolean) = {
    val m = globMatch(pattern)
    if (m.limit(1).count() == 0) return (this, false)
    // same error matrix as the literal verb (DeleteCommand.scala:34-75):
    // a matched dir blocks -rm only when NON-EMPTY — an empty dir
    // deletes fine without -rmr, glob or not
    val nonEmptyDir = !recursive &&
      inodes.join(
          broadcast(m.filter(col("isDir")).select(col("path").as("_gp"))),
          col("parentPath") === col("_gp"), "left_semi")
        .limit(1).count() > 0
    if (nonEmptyDir)
      throw new IOException(
        s"Non-empty directory matched by $pattern; use -rmr")
    val dirs = m.filter(col("isDir")).select(col("path").as("_gp"))
    val childPre =
      when(col("_gp") === "/", lit("/")).otherwise(concat(col("_gp"), lit("/")))
    val survivors = inodes
      .filter(!globPredicate(pattern))
      .join(broadcast(dirs), col("path").startsWith(childPre), "left_anti")
      .as[Inode]
    (FsCatalog(survivors), true)
  }

  /** D3 over a glob: per-matched-path subtree byte totals — matches
    * broadcast against the catalog, grouped by matched root, one shuffle
    * of (match, partial-sum) rows.
    */
  def duGlob(pattern: String): DataFrame = {
    val m = globMatch(pattern).select(col("path").as("_gp"))
    val childPre =
      when(col("_gp") === "/", lit("/")).otherwise(concat(col("_gp"), lit("/")))
    inodes
      .join(broadcast(m),
        col("path") === col("_gp") || col("path").startsWith(childPre))
      .groupBy(col("_gp"))
      .agg(sum(inodeLen).as("len"))
      .select(col("_gp").as("path"), col("len"))
      .orderBy(col("path"))
  }

  // ── D3: du — per-shallow-child subtree byte totals, one shuffle ───────
  def du(path: String): DataFrame = {
    val pre = prefixOf(path)
    val rel = expr(
      s"split_part(substring(path, ${pre.codePointCount(0, pre.length) + 1}), '/', 1)")
    inodes
      .filter(col("path").startsWith(pre))
      .groupBy(concat(lit(pre), rel).as("path"))
      .agg(sum(inodeLen).as("len"))
      .orderBy(col("path"))
  }

  // ── D4: dus — single subtree summary ──────────────────────────────────
  def dus(path: String): DataFrame =
    subtree(path).agg(lit(path).as("path"), sum(inodeLen).as("len"))

  // ── D5: count — (dirCount, fileCount, contentSize) in one aggregate ───
  def countSummary(path: String): DataFrame =
    subtree(path).agg(
      lit(path).as("path"),
      sum(when(col("isDir"), 1L).otherwise(0L)).as("dir_count"),
      sum(when(!col("isDir"), 1L).otherwise(0L)).as("file_count"),
      sum(inodeLen).as("content_size"))

  // ── A6/D17: getFileStatus / stat ──────────────────────────────────────
  def getFileStatus(path: String): DataFrame = {
    if (!exists(path)) throw new FileNotFoundException(path)
    statusOf(inodes.filter(col("path") === path))
  }

  /** D17 with a format string — the reference shell's `-stat [fmt]`
    * specifiers (SnackFSShell.scala:172-175, Hadoop Stat): %b bytes,
    * %n name, %o block size, %r replication (the reference's RF=3),
    * %F file type, %y mtime (yyyy-MM-dd HH:mm:ss), %Y epoch millis.
    * The format is parsed driver-side (it is a literal); the row stays
    * one codegen'd concat.
    */
  def statFormatted(path: String, fmt: String = "%y"): DataFrame = {
    if (!exists(path)) throw new FileNotFoundException(path)
    val row = inodes.filter(col("path") === path)
    val pieces = "%[bnorFyY]|[^%]+|%".r.findAllIn(fmt).map {
      case "%b" => inodeLen.cast("string")
      case "%n" => element_at(split(col("path"), "/"), -1)
      case "%o" => inodeBlockSize.cast("string")
      case "%r" => lit("3")
      case "%F" => when(col("isDir"), lit("directory")).otherwise(lit("regular file"))
      case "%y" => date_format(col("mtime"), "yyyy-MM-dd HH:mm:ss")
      case "%Y" => (col("mtime").cast("double") * 1000).cast("long").cast("string")
      case other => lit(other)
    }.toSeq
    row.select(col("path"), concat(pieces: _*).as("stat"))
  }

  // ── D16: -test -[ezd] ─────────────────────────────────────────────────
  def testE(path: String): Boolean = exists(path)
  def testD(path: String): Boolean = retrieve(path).exists(_.isDir)
  def testZ(path: String): Boolean = retrieve(path).exists(n => n.isFile && n.length == 0L)

  // ── D15: touchz — zero-length file ────────────────────────────────────
  def touchz(path: String, user: String = "graft"): FsCatalog =
    retrieve(path) match {
      case Some(n) if n.isDir => throw new IOException(s"$path is a directory")
      case Some(n) if n.length > 0 =>
        throw new IOException(s"$path must be a zero-length file")
      case Some(_) => this
      case None =>
        store(Inode(path, PathOps.parent(path), user, user, 420, isDir = false,
          epoch, Seq.empty))
    }

  // ── D7: cp — subtree duplicate (rename's rewrite, keeping the src) ────
  def copy(src: String, dst: String): (FsCatalog, Boolean) = {
    if (src == dst) return (this, true)
    if (!exists(src)) throw new IOException(s"No such file or directory.$src")
    if (exists(dst)) throw new IOException("Destination already exists")
    val dstParent = PathOps.parent(dst)
    if (dstParent != null) {
      val parentNode = retrieve(dstParent).getOrElse(
        throw new IOException(s"Destination $dstParent directory does not exist."))
      if (parentNode.isFile)
        throw new IOException("A file exists with parent of destination.")
    }
    // collect-and-relocate like renameFrames: ONE local leaf per copy
    // (linear plan growth) instead of a second reference to the whole
    // inode tree (doubling)
    val dup = inodes
      .filter(col("path") === src || col("path").startsWith(prefixOf(src)))
      .collect().map { n =>
        val np = dst + n.path.drop(src.length)
        n.copy(path = np, parentPath = PathOps.parent(np))
      }.toSeq
    (FsCatalog(inodes.unionByName(
      spark.createDataset(dup)(inodeEncoder))), true)
  }

  // ── A10/B11: getFileBlockLocations with the reference's block-range
  //    pruning (SnackFS.scala:135-149): blocks whose byte range ends
  //    before `start` are dropped BEFORE replica mapping (prune at
  //    :138, `filterNot(offset + length < start)`). The reference
  //    ignores the range's upper end (`len` is accepted but never used
  //    in the prune) — mirrored exactly, including the signature.
  //    Replica endpoints are the deterministic RF=3 token-ring mapping
  //    (ThriftStore.scala:543-605 as a pure hash function). ───────────
  def blockLocations(pathPrefix: String, start: Long = 0L,
                     len: Long = Long.MaxValue): DataFrame = {
    val _ = len // reference parity: carried, not consulted
    inodes
      .filter(col("path").startsWith(pathPrefix))
      .select(col("path"), explode(col("blocks")).as("b"))
      .filter(col("b.offset") + col("b.length") >= start)
      .withColumn("owner", ascii(substring(col("b.id"), 1, 1)) % 3)
      .select(
        col("path"),
        col("b.id").as("block_id"),
        col("b.offset").as("offset"),
        col("b.length").as("length"),
        // one comma-joined string — a flat scalar survives any tabular
        // compare, an ARRAY column does not
        concat_ws(",",
          concat(lit("node-"), col("owner").cast("string")),
          concat(lit("node-"), ((col("owner") + 1) % 3).cast("string")),
          concat(lit("node-"), ((col("owner") + 2) % 3).cast("string")))
          .as("replicas"))
      .orderBy(col("path"), col("offset"))
  }

  // ── Persistence: the catalog as a path-range-partitioned parquet table.
  //    Range partitioning + in-file sort on path means every point lookup
  //    and subtree prefix scan prunes to a handful of files via parquet
  //    min/max stats — the Spark equivalent of the reference's
  //    secondary-index anchoring (ThriftStore.scala:477-490). ──────────
  def save(dir: String, numPartitions: Int = 8): Unit =
    inodes
      .repartitionByRange(numPartitions, col("path"))
      .sortWithinPartitions(col("path"))
      .write.mode("overwrite").parquet(dir)

  /** Snapshot diff — which paths were added, deleted, or changed
    * length between THIS catalog version and `next` (the incremental-
    * pipeline primitive: "process only what changed since the last
    * corpus snapshot", composing with save/load's persisted versions).
    * ONE distributed full-outer join on path — metadata-scale, no
    * payload moves — with lengths from the same nested HOF fold every
    * status op uses ([[FsCatalog.inodeLen]]); unchanged paths drop
    * out in-plan, so the output is change-set-sized, not
    * catalog-sized. old_len/new_len are null on the absent side
    * (added/deleted respectively).
    */
  def diff(next: FsCatalog): DataFrame = {
    val a = inodes.select(col("path"),
      FsCatalog.inodeLen.as("old_len"))
    val b = next.inodes.select(col("path"),
      FsCatalog.inodeLen.as("new_len"))
    a.join(b, Seq("path"), "full_outer")
      .withColumn("change",
        when(col("old_len").isNull, "added")
          .when(col("new_len").isNull, "deleted")
          .when(col("old_len") =!= col("new_len"), "modified"))
      .filter(col("change").isNotNull)
      .select(col("path"), col("change"), col("old_len"), col("new_len"))
  }

  // ── A4: append must throw (AppendFileCommand.scala:38-40 — the
  //    reference throws IOException, so callers catching IOException
  //    around append see the same type) ──────────────────────────────────
  def append(path: String): Nothing =
    throw new IOException("Appending to existing file is not supported.")

  private def subtree(path: String) =
    inodes.filter(col("path") === path || col("path").startsWith(prefixOf(path)))
}

object FsCatalog {
  /** Case-class encoder usable from methods where `spark.implicits` is
    * unavailable (the session is a def, not a stable identifier).
    */
  implicit val inodeEncoder: Encoder[Inode] = Encoders.product[Inode]

  /** Largest subtree `renameFrames` will round-trip through the driver
    * (~0.4 KB/inode retained → ~40 MB at the cap); past it the rename
    * stays a distributed prefix rewrite (see renameFrames scaladoc).
    */
  val MaxCollectedRename: Int = 100000

  def load(spark: org.apache.spark.sql.SparkSession, dir: String): FsCatalog =
    FsCatalog(spark.read.parquet(dir).as[Inode](inodeEncoder))

  private val epoch = new Timestamp(1704067200000L) // 2024-01-01T00:00:00Z

  /** File length: Σ block lengths via codegen'd higher-order fold over the
    * nested array — no UDF, no explode (A6; SnackFileStatus.scala:40).
    */
  val inodeLen: Column =
    expr("coalesce(aggregate(blocks, CAST(0 AS BIGINT), (acc, b) -> acc + b.length), CAST(0 AS BIGINT))")

  /** blockSize surfaced as the FIRST block's length — the reference's
    * quirk, kept (SnackFileStatus.scala:24-52). Guarded 0-based index
    * instead of `try_element_at`: TryEval's codegen fails to compile
    * ("isNull_N is not an rvalue"), dropping every statusOf projection
    * out of codegen into interpreted eval; the CASE form stays
    * codegen'd and never out-of-bounds under ANSI.
    */
  val inodeBlockSize: Column =
    expr("""CASE WHEN blocks IS NOT NULL AND size(blocks) > 0
           |     THEN blocks[0].length ELSE CAST(0 AS BIGINT) END""".stripMargin)

  /** Parent of an absolute path as a Column (null for root). */
  def parentOf(path: Column): Column =
    when(path === "/", lit(null).cast("string"))
      .otherwise(
        when(regexp_replace(path, "/[^/]*$", "") === "", "/")
          .otherwise(regexp_replace(path, "/[^/]*$", "")))

  def dirInode(path: String, user: String): Inode =
    Inode(path, PathOps.parent(path), user, user, 493, isDir = true, epoch, null)

  def statusOf(df: Dataset[Inode]): DataFrame =
    df.select(
        col("path"),
        col("isDir").as("is_dir"),
        inodeLen.as("len"),
        inodeBlockSize.as("block_size"),
        col("user"),
        col("permission"))
      .orderBy(col("path"))
}
