package graft.fs

import java.io.{FileNotFoundException, IOException}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.util.{DateTimeUtils, LegacyDateFormats, TimestampFormatter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.unsafe.types.UTF8String

import graft.catalog.{Inode, PathOps}

/** One shell invocation's outcome: exit code + stdout/stderr lines —
  * returned, not printed, so the dispatcher is testable and a `main`
  * can render it.
  */
final case class ShellResult(code: Int, out: Seq[String], err: Seq[String])

/** D-layer verb dispatcher — the `run(argv)` → command analog of the
  * reference shell (SnackFSShell.scala:553-731): arity-check the verb,
  * resolve path arguments through glob expansion the way the reference
  * routes them through `FileSystem.globStatus` (-ls/-lsr/-du/-rm/-rmr/
  * -cat/-text/-mv/-cp/-get; -tail stays literal — the reference's tail
  * calls getFileStatus directly, SnackFSShell.scala:522-525), delegate
  * to the filesystem, map exceptions to the reference's `cmd: message`
  * stderr convention. Multi-argument verbs apply the reference's
  * `doall` loop (SnackFSShell.scala:343-408): each argument is tried,
  * failures print and processing continues, any failure makes the exit
  * code -1.
  *
  * Like `SnackFSShell extends FsShell` over SnackFS, the shell is a thin
  * client of ONE namespace engine, a [[GraftFileSystem]] mount:
  *  - mutations and uploads (-mkdir, -touchz, -mv, -rm/-rmr, -put and
  *    its aliases, the write half of -cp) are mount verbs — pure
  *    memory, no Spark job;
  *  - namespace reads (-ls/-lsr/-du/-dus/-count/-stat/-test, the glob
  *    expansion of every verb) answer from the mount's inode cache in
  *    driver memory — no Spark job — with FsCatalog's formulas, error
  *    strings and row order;
  *  - byte reads (-cat/-text/-tail/-get/-getmerge, the read half of
  *    -cp) run the data plane over the mount's chunk snapshot — never
  *    the mount's `open()`, so they read any chunk geometry.
  *
  * The primary constructor runs on a caller-owned mount (the CLI's
  * shape, [[GraftShellMain]]). The [[GraftFs]] constructor seeds a
  * shell-private mount from a snapshot; [[close]] releases it.
  */
final class GraftShell(mount: GraftFileSystem, context: FsContext) {

  /** A shell over a private mount seeded from `initial`: its catalog is
    * saved into a temp state dir that the mount bootstraps from
    * (write-through off), and its chunk rows join that state at the
    * shell's first chunk read; [[close]] deletes the dir.
    */
  def this(initial: GraftFs, context: FsContext) = {
    this(GraftShell.seededMount(initial), context)
    ownsMount = true
    seedChunks = Some(initial.chunks)
  }

  private var ownsMount = false
  var ctx: FsContext = context

  /** A seeded shell's chunk rows not yet written into its seed state —
    * deferred so a session of metadata verbs never pays the write. */
  private var seedChunks: Option[DataFrame] = None

  private def seedDir: String = mount.getConf.get("graft.mount.state.dir")

  /** The mount's current (catalog, chunks) snapshot; a seeded shell
    * writes its deferred chunk rows first. */
  def fs: GraftFs = {
    seedChunks.foreach { c =>
      GraftShellMain.writeChunks(c,
        s"${GraftShellMain.currentStateDir(seedDir).get}/chunks")
      seedChunks = None
    }
    mount.graftFs
  }

  /** Counterpart of [[fs]] (a mount snapshot holds nothing to release). */
  def releaseSnapshot(snapshot: GraftFs): Unit = mount.releaseSnapshot(snapshot)

  /** True once the namespace outgrew `graft.mount.max.inodes` (the
    * mount's one loud shout; verbs keep working). */
  def inodeCapExceeded: Boolean = mount.inodeCapExceeded

  /** End of session: a seeded shell closes its private mount and
    * deletes the seed dir; a caller-owned mount stays open. */
  def close(): Unit = if (ownsMount) {
    ownsMount = false
    seedChunks = None
    mount.close()
    graft.PlanHygiene.deleteRecursively(java.nio.file.Paths.get(seedDir))
  }

  /** -mv's and -cp's shared precondition matrix (FsCatalog.rename's
    * error strings, RenameCommand.scala:61-107 semantics). */
  private def checkMove(src: String, dst: String): Unit = {
    if (mount.inode(src).isEmpty)
      throw new IOException(s"No such file or directory.$src")
    if (mount.inode(dst).isDefined)
      throw new IOException("Destination already exists")
    val dp = PathOps.parent(dst)
    if (dp != null) {
      val pn = mount.inode(dp).getOrElse(throw new IOException(
        s"Destination $dp directory does not exist."))
      if (pn.isFile)
        throw new IOException("A file exists with parent of destination.")
    }
  }

  /** Write `in`'s bytes as the NEW file `dst` through the mount's
    * streaming create; a failed copy leaves no partial file. */
  private def upload(in: java.io.InputStream, dst: String): Unit = {
    val out = mount.create(new Path(dst), false)
    try { in.transferTo(out); out.close() }
    catch {
      case e: IOException => mount.delete(new Path(dst), false); throw e
    }
  }

  /** FsCatalog.copy's precondition matrix, then the subtree's bytes
    * read through the data plane (one job) and re-created through the
    * mount — the reference's client-streamed copy (FileUtil.copy). */
  private def copy(src: String, dst: String): Unit = {
    if (src == dst) return
    checkMove(src, dst)
    val under = col("path") === src || col("path").startsWith(dirPrefix(src))
    val bytes = DataPlane.reassemble(fs.chunks.filter(under)).collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    // the walk lists every dir before its children
    mount.subtree(src).foreach { n =>
      val p = n.path
      val np = dst + p.drop(src.length)
      if (n.isDir) mount.mkdirs(new Path(np))
      else upload(new java.io.ByteArrayInputStream(
        bytes.getOrElse(p, Array.emptyByteArray)), np)
    }
  }

  /** The inodes the absolute glob `pattern` matches: FsCatalog
    * .globPredicate's literal prefix, anchored regex and root rule,
    * evaluated on the mount's cache. Only the subtree under the literal
    * prefix is walked, and without `[` or `{` (the only forms that can
    * match a '/') only as deep as the pattern's components reach.
    */
  private def glob(pattern: String): Seq[Inode] = {
    val pre = PathOps.globLiteralPrefix(pattern)
    val re = java.util.regex.Pattern.compile(PathOps.globToRegex(pattern))
    val cut = pre.lastIndexOf('/')
    val anchor = if (cut <= 0) "/" else pre.substring(0, cut)
    val depth =
      if (pattern.exists(c => c == '[' || c == '{')) Int.MaxValue
      else pattern.count(_ == '/') - (if (anchor == "/") 1 else anchor.count(_ == '/') + 1)
    (mount.inode(anchor).toSeq ++ mount.children(anchor)
      .filter(_.path.startsWith(pre)).flatMap(c => mount.subtree(c.path, depth)))
      .filter(n => n.path.startsWith(pre) && re.matcher(n.path).find() &&
        (pattern == "/" || n.path != "/"))
  }

  /** FsCatalog.deleteGlob's error matrix on the mount's namespace. */
  private def deleteGlob(pattern: String, recursive: Boolean): Boolean = {
    val roots = glob(pattern).sortBy(_.path)
    if (roots.isEmpty) return false
    if (!recursive && roots.exists(r => r.isDir && mount.children(r.path).nonEmpty))
      throw new IOException(
        s"Non-empty directory matched by $pattern; use -rmr")
    roots.foreach(r => mount.delete(new Path(r.path), true))
    true
  }

  /** Total length of `p`'s subtree (FsCatalog's Σ inodeLen). */
  private def bytesUnder(p: String): Long = mount.subtree(p).map(_.length).sum

  private def existing(p: String): Inode =
    mount.inode(p).getOrElse(throw new FileNotFoundException(p))

  /** `arg`'s glob matches; none → the globStatus FileNotFoundException. */
  private def globArg(arg: String): Seq[Inode] = {
    val matched = glob(abs(arg))
    if (matched.isEmpty) throw new FileNotFoundException(
      s"Cannot access $arg: No such file or directory.")
    matched
  }

  /** Spark's string order (UTF-8 bytes), the order FsCatalog's rows
    * come in. */
  private val sparkOrder: Ordering[String] =
    Ordering.by[String, UTF8String](UTF8String.fromString)

  /** FsCatalog.statFormatted's specifiers on one inode: %y formatted in
    * the session time zone by date_format's formatter, %Y the
    * `cast(cast(mtime as double) * 1000 as long)` of the frame. */
  private def statLine(n: Inode, fmt: String): String = {
    val micros = DateTimeUtils.fromJavaTimestamp(n.mtime)
    "%[bnorFyY]|[^%]+|%".r.findAllIn(fmt).map {
      case "%b" => n.length.toString
      case "%n" => n.path.substring(n.path.lastIndexOf('/') + 1)
      case "%o" => Option(n.blocks).flatMap(_.headOption).fold(0L)(_.length).toString
      case "%r" => "3"
      case "%F" => if (n.isDir) "directory" else "regular file"
      case "%y" => TimestampFormatter("yyyy-MM-dd HH:mm:ss",
        DateTimeUtils.getZoneId(SQLConf.get.sessionLocalTimeZone),
        LegacyDateFormats.SIMPLE_DATE_FORMAT, isParsing = false).format(micros)
      case "%Y" => (micros / 1e6 * 1000).toLong.toString
      case other => other
    }.mkString
  }

  private val minArgs: Map[String, Int] = Map(
    "-put" -> 2, "-copyFromLocal" -> 2, "-moveFromLocal" -> 2,
    "-get" -> 2, "-copyToLocal" -> 2, "-getmerge" -> 2,
    "-mv" -> 2, "-cp" -> 2, "-test" -> 2,
    "-rm" -> 1, "-rmr" -> 1, "-cat" -> 1, "-text" -> 1, "-mkdir" -> 1,
    "-touchz" -> 1, "-stat" -> 1, "-tail" -> 1,
    "-ls" -> 1, "-lsr" -> 1, "-du" -> 1, "-dus" -> 1, "-count" -> 1,
    "-help" -> 0)

  def run(argv: Array[String]): ShellResult = {
    if (argv.isEmpty) return ShellResult(-1, Nil, Seq(ShellHelp.helpAll))
    val cmd = argv(0)
    val args = argv.drop(1).toSeq
    minArgs.get(cmd) match {
      case None =>
        return ShellResult(-1, Nil, Seq(s"Unknown command: $cmd", ShellHelp.helpAll))
      case Some(n) if args.length < n =>
        return ShellResult(-1, Nil, ShellHelp.help(cmd).toSeq)
      case _ => ()
    }
    try dispatch(cmd, args)
    catch {
      case e: FileNotFoundException =>
        ShellResult(-1, Nil, Seq(s"$cmd: ${e.getMessage}"))
      case e: IOException =>
        ShellResult(-1, Nil, Seq(s"$cmd: ${e.getMessage}"))
      case e: UnsupportedOperationException =>
        ShellResult(-1, Nil, Seq(s"$cmd: ${e.getMessage}"))
    }
  }

  private def abs(p: String): String = ctx.makeAbsolute(p)

  /** Resolve an argument that must name an existing FILE (the -cat error
    * matrix, shared by -text/-tail: missing → FNFE, directory → IOE).
    */
  private def fileArg(arg: String): String = {
    val p = abs(arg)
    if (existing(p).isDir) throw new IOException(s"$p is a directory")
    p
  }

  /** Child-path prefix for dir-scoped verbs — "/" is its own prefix. */
  private def dirPrefix(p: String): String = if (p == "/") "/" else p + "/"

  private def basename(p: String): String = p.substring(p.lastIndexOf('/') + 1)

  /** Expand one source argument the way the reference expands every
    * path argument through globStatus: a glob resolves to its sorted
    * matches (none → the globStatus FileNotFoundException); a literal
    * passes through untouched so the verb's own error matrix applies.
    */
  private def expandSrc(arg: String): Seq[String] = {
    if (PathOps.isGlob(arg)) globArg(arg).map(_.path).sorted else Seq(abs(arg))
  }

  /** The reference's `doall` loop: run `f` per argument, print each
    * failure as `cmd: message` and keep going; -1 if anything failed.
    */
  private def forEachSrc(cmd: String, srcs: Seq[String])
                        (f: String => Seq[String]): ShellResult = {
    val out = Seq.newBuilder[String]
    val err = Seq.newBuilder[String]
    var code = 0
    srcs.foreach { s =>
      try out ++= f(s)
      catch {
        case e: IOException => code = -1; err += s"$cmd: ${e.getMessage}"
      }
    }
    ShellResult(code, out.result(), err.result())
  }

  private def sizeLine(path: String, len: Long): String = f"$len%12d  $path"

  private def dispatch(cmd: String, args: Seq[String]): ShellResult = cmd match {
    case "-help" =>
      ShellResult(0, args.headOption match {
        case Some(verb) => ShellHelp.help(verb).toSeq
        case None => Seq(ShellHelp.helpAll)
      }, Nil)

    case "-ls" | "-lsr" =>
      // the reference errors when the GLOB matches nothing (not when a
      // matched dir happens to be empty — that prints "Found 0 items");
      // each matched file lists itself, each matched dir its children
      // (-lsr: its subtree, which for "/" holds the root itself — the
      // prefix rule of FsCatalog.listGlob)
      forEachSrc(cmd, args) { arg =>
        val rows = globArg(arg).flatMap { m =>
          if (m.isFile) Seq(m)
          else if (cmd == "-ls") mount.children(m.path)
          else mount.subtree(m.path).filter(n => n.path != m.path || n.path == "/")
        }.distinctBy(_.path).sortBy(_.path)(sparkOrder)
        (if (cmd == "-ls") Seq(s"Found ${rows.length} items") else Nil) ++
          rows.map(n => f"${if (n.isDir) "d" else "-"}${n.permission}%4d ${n.length}%10d ${n.path}")
      }

    case "-du" =>
      // same no-match matrix as -ls: the reference resolves the argument
      // through globStatus, which raises FNFE when nothing matches —
      // glob or literal alike (SnackFSShell doall → inherited du)
      forEachSrc(cmd, args) { arg =>
        val p = abs(arg)
        val rows =
          if (PathOps.isGlob(arg)) globArg(arg).map(m => m.path -> bytesUnder(m.path))
          else {
            // FsCatalog.du groups what lies under `p/` by its first component:
            // p's children (none for a file), and for "/" the root itself
            val node = existing(p)
            (if (p == "/") Seq(p -> node.length) else Nil) ++
              mount.children(p).map(c => c.path -> bytesUnder(c.path))
          }
        rows.sortBy(_._1)(sparkOrder).map { case (r, len) => sizeLine(r, len) }
      }

    case "-dus" =>
      forEachSrc(cmd, args) { arg =>
        val p = existing(abs(arg)).path
        Seq(sizeLine(p, bytesUnder(p)))
      }

    case "-count" =>
      // -q prints the quota columns first (SnackFSShell.scala:536-548 →
      // ContentSummary.toString(true)); this engine has no quotas set,
      // so they render as Hadoop renders unset quotas: none/inf pairs
      val qOption = args.head == "-q"
      if (qOption && args.length < 2)
        return ShellResult(-1, Nil, ShellHelp.help(cmd).toSeq)
      val pArg = if (qOption) args(1) else args.head
      val p = existing(abs(pArg)).path
      val nodes = mount.subtree(p)
      val dirs = nodes.count(_.isDir)
      val quota = if (qOption) f"${"none"}%12s ${"inf"}%12s ${"none"}%12s ${"inf"}%12s " else ""
      ShellResult(0, Seq(f"$quota$dirs%8d ${nodes.length - dirs}%8d " +
        f"${nodes.map(_.length).sum}%12d $p"), Nil)

    case "-mkdir" =>
      forEachSrc(cmd, args) { arg =>
        // mkdirs semantics: create what it can, verdict = AND over all
        // levels (a file on the chain → false)
        if (!mount.mkdirs(new Path(abs(arg))))
          throw new IOException(s"cannot create directory $arg")
        Nil
      }

    case "-touchz" =>
      forEachSrc(cmd, args) { arg =>
        val p = abs(arg)
        mount.inode(p) match {
          case Some(n) if n.isDir =>
            throw new IOException(s"$p is a directory")
          case Some(n) if n.length > 0 =>
            throw new IOException(s"$p must be a zero-length file")
          case Some(_) => () // existing zero-length file: no-op
          case None => mount.create(new Path(p), false).close()
        }
        Nil
      }

    case "-test" =>
      val node = mount.inode(abs(args(1)))
      val ok = args.head match {
        case "-e" => node.isDefined
        case "-z" => node.exists(n => n.isFile && n.length == 0L)
        case "-d" => node.exists(_.isDir)
        case other => return ShellResult(-1, Nil, Seq(s"-test: unknown flag $other"))
      }
      ShellResult(if (ok) 0 else 1, Nil, Nil)

    case "-stat" =>
      val (fmt, p) =
        if (args.length >= 2) (args.head, args(1)) else ("%y", args.head)
      ShellResult(0, Seq(statLine(existing(abs(p)), fmt)), Nil)

    case "-mv" | "-cp" =>
      // multiple sources (args or glob matches) need a directory
      // destination (SnackFSShell.scala:425-430); -cp into an existing
      // dir redirects to dir/<basename> (FileUtil.checkDest, inherited
      // via FsShell.copy), while -mv keeps the FileSystem-level rename
      // verbatim — the reference's RenameCommand throws "Destination
      // already exists" even when the destination is a directory
      // (RenameCommand.scala:81-84), a quirk mirrored, not fixed
      val verb = if (cmd == "-mv") "moving" else "copying"
      val dst = abs(args.last)
      val sources = args.dropRight(1)
      val dstIsDir = mount.inode(dst).exists(_.isDir)
      if (sources.length > 1 && !dstIsDir)
        return ShellResult(-1, Nil, Seq(
          s"$cmd: When $verb multiple files, destination ${args.last} should be a directory."))
      forEachSrc(cmd, sources) { arg =>
        val matched = expandSrc(arg)
        if (matched.length > 1 && !dstIsDir)
          throw new IOException(
            s"When $verb multiple files, destination should be a directory.")
        matched.foreach { src =>
          // the mount's rename carries the same precondition matrix
          if (cmd == "-mv") mount.rename(new Path(src), new Path(dst))
          else copy(src,
            if (dstIsDir) s"${dirPrefix(dst)}${basename(src)}" else dst)
        }
        Nil
      }

    case "-rm" | "-rmr" =>
      val recursive = cmd == "-rmr"
      forEachSrc(cmd, args) { arg =>
        val target = abs(arg)
        val ok =
          if (PathOps.isGlob(arg)) deleteGlob(target, recursive)
          else mount.delete(new Path(target), recursive)
        if (!ok)
          throw new FileNotFoundException(s"No such file or directory: $arg")
        Nil
      }

    case "-cat" =>
      // every source argument, glob-expanded, in the doall loop — the
      // reference cats each match and keeps going on failures
      forEachSrc(cmd, args) { arg =>
        expandSrc(arg).map { p =>
          val bytes = fs.cat(p).collect()
          val payload = if (bytes.isEmpty) Array.emptyByteArray
            else bytes(0).getAs[Array[Byte]]("data")
          new String(payload, java.nio.charset.StandardCharsets.UTF_8)
        }
      }

    case "-text" =>
      forEachSrc(cmd, args) { arg =>
        expandSrc(arg).map { m =>
          val p = fileArg(m)
          val rows = DataPlane.text(fs.rowsForFile(p)).collect()
          rows.map(_.getString(1)).mkString("\n")
        }
      }

    case "-tail" =>
      val p = fileArg(args.head)
      val rows = DataPlane.tail(fs.rowsForFile(p), 1024).collect()
      val payload = if (rows.isEmpty) Array.emptyByteArray
        else rows(0).getAs[Array[Byte]]("data")
      ShellResult(0, Seq(new String(payload, java.nio.charset.StandardCharsets.UTF_8)), Nil)

    case "-put" | "-copyFromLocal" | "-moveFromLocal" =>
      // multiple LOCAL sources upload into a directory destination
      // (FsShell copyFromLocal takes Path[] srcs; reference arg slice
      // SnackFSShell.scala:235-238); a single source may also target a
      // fresh path. Each source runs in the doall loop.
      val rawDst = abs(args.last)
      val sources = args.dropRight(1)
      val dstIsDir = mount.inode(rawDst).exists(_.isDir)
      if (sources.length > 1 && !dstIsDir)
        return ShellResult(-1, Nil, Seq(
          s"$cmd: When copying multiple files, destination ${args.last} should be a directory."))
      forEachSrc(cmd, sources) { local =>
        // put INTO an existing directory targets dir/<local basename>;
        // an existing file at the target errors (no silent overwrite)
        val base = java.nio.file.Paths.get(local).getFileName.toString
        val dst = if (dstIsDir) s"${dirPrefix(rawDst)}$base" else rawDst
        if (mount.inode(dst).isDefined)
          throw new IOException(s"Target $dst already exists")
        // streams through the mount's create (parents made, geometry
        // from the mount's conf); the local source is unlinked only
        // after the upload committed
        val in = java.nio.file.Files.newInputStream(java.nio.file.Paths.get(local))
        try upload(in, dst) finally in.close()
        if (cmd == "-moveFromLocal")
          java.nio.file.Files.delete(java.nio.file.Paths.get(local))
        Nil
      }

    case "-get" | "-copyToLocal" =>
      // -ignoreCrc/-crc are parsed like the reference (SnackFSShell
      // .scala:605-607) and are deliberate no-ops: this engine stores no
      // CRC sidecar files, so there is nothing to skip or copy
      val rest = args.filterNot(a => a == "-ignoreCrc" || a == "-crc")
      if (rest.length < 2)
        return ShellResult(-1, Nil, ShellHelp.help(cmd).toSeq)
      val local = rest(1)
      val localIsDir =
        java.nio.file.Files.isDirectory(java.nio.file.Paths.get(local))
      val matched = expandSrc(rest.head)
      if (matched.length > 1 && !localIsDir)
        return ShellResult(-1, Nil, Seq(
          s"$cmd: When copying multiple files, destination $local should be a directory."))
      val snap = fs
      matched.foreach { m =>
        val p = fileArg(m)
        val target = if (localIsDir) s"$local/${basename(p)}" else local
        DataPlane.get(snap.rowsForFile(p), p, target)
      }
      ShellResult(0, Nil, Nil)

    case "-getmerge" =>
      val addnl = args.length > 2 && (args(2).toBooleanOption match {
        case Some(b) => b
        case None => return ShellResult(-1, Nil,
          Seq(s"-getmerge: invalid addnl flag '${args(2)}'"))
      })
      val src = abs(args.head)
      // the reference path errors on a missing source (FileUtil
      // .copyMerge's getFileStatus) — never silently write an empty file
      existing(src)
      // dir-scoped prefix: "/data" must not bleed onto "/databak"
      DataPlane.getmergeTo(fs.chunks, dirPrefix(src), args(1), addnl)
      ShellResult(0, Nil, Nil)

    case other =>
      ShellResult(-1, Nil, Seq(s"Unknown command: $other"))
  }
}

object GraftShell {
  private def seededMount(initial: GraftFs): GraftFileSystem = {
    val dir = java.nio.file.Files.createTempDirectory("graft-shell-seed")
    try {
      // a metadata-only seed; `fs` writes its chunk plane on demand
      GraftShellMain.writeVersion(dir.toString, "v0",
        initial.catalog.inodes.collect().toSeq.sortBy(_.path), Nil)
      // write-through off: the seed dir is the shell's scratch, not a
      // state anyone shares, so its verbs stay in memory
      val conf = new org.apache.hadoop.conf.Configuration(
        initial.chunks.sparkSession.sparkContext.hadoopConfiguration)
      conf.setBoolean("graft.mount.write.through", false)
      GraftShellMain.mountOf(conf, Some(dir.toString))
    } catch {
      case e: Throwable => graft.PlanHygiene.deleteRecursively(dir); throw e
    }
  }
}
