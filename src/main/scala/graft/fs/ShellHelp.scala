package graft.fs

/** D19: `-help` — usage text for every shell verb this engine maps to a
  * query or transform (reference SnackFSShell printUsage/printHelp,
  * SnackFSShell.scala:150-260; wording here is our own, describing OUR
  * operators). Driver-side metadata only — no Spark surface, like the
  * reference's CLI help.
  */
object ShellHelp {

  val usage: Map[String, String] = Map(
    "-ls" -> "-ls <path>: list the immediate children of a directory (FsCatalog.listStatus)",
    "-lsr" -> "-lsr <path>: list a subtree recursively (FsCatalog.listStatusRecursive)",
    "-du" -> "-du <path>: per-child aggregate byte counts under a path (FsCatalog.du)",
    "-dus" -> "-dus <path>: single summary byte count for a subtree (FsCatalog.dus)",
    "-count" -> "-count [-q] <path>: directory, file and byte totals for a subtree; -q prefixes quota columns (unset: none/inf) (FsCatalog.countSummary)",
    "-mv" -> ("-mv <src> <dst>: rename a file or subtree by re-keying the mount's inode cache and payload index; no bytes move (GraftFileSystem.rename). " +
      "Note: with multiple sources the rename keeps the reference's RenameCommand quirk — a destination that already exists (even a directory) throws 'Destination already exists', so multi-source -mv always fails; use -cp + -rm to fan into a directory (RenameCommand.scala:81-84)."),
    "-cp" -> "-cp <src> <dst>: copy a file or subtree — bytes read through the data plane, re-created through the mount (GraftFileSystem.create)",
    "-rm" -> "-rm <path>: delete a file; refuses non-empty directories (GraftFileSystem.delete(recursive = false))",
    "-rmr" -> "-rmr <path>: delete a subtree and its payload (GraftFileSystem.delete(recursive = true))",
    "-put" -> "-put <local> <path>: import local bytes, streamed one subblock at a time (GraftFileSystem.create)",
    "-copyFromLocal" -> "-copyFromLocal <local> <path>: alias of -put (GraftFileSystem.create)",
    "-moveFromLocal" -> "-moveFromLocal <local> <path>: -put, then unlink the local source once the upload committed (GraftFileSystem.create)",
    "-get" -> "-get [-ignoreCrc] [-crc] <path> <local>: export a file's reassembled bytes to a local sink; crc flags are accepted no-ops (no CRC sidecars exist) (DataPlane.get)",
    "-copyToLocal" -> "-copyToLocal [-ignoreCrc] [-crc] <path> <local>: alias of -get (DataPlane.get)",
    "-getmerge" -> "-getmerge <dir> <local> [addnl]: concatenate every file under a prefix in path order; addnl=true appends a newline after each file (DataPlane.getmerge)",
    "-cat" -> "-cat <path>: print a file's bytes via ordered block reassembly (DataPlane.cat)",
    "-text" -> "-text <path>: like -cat but decodes by magic — gzip and PK-zip inflate, SequenceFiles render key\\tvalue per record; other payloads pass through as UTF-8 (DataPlane.text)",
    "-mkdir" -> "-mkdir <path>: create a directory and its ancestors; fails on a file conflict (GraftFileSystem.mkdirs)",
    "-touchz" -> "-touchz <path>: create a zero-length file (GraftFileSystem.create)",
    "-test" -> "-test -[ezd] <path>: existence / zero-length / is-directory probes (FsCatalog.testE/testZ/testD)",
    "-stat" -> "-stat <path>: file status — length, type, modification time (FsCatalog.getFileStatus)",
    "-tail" -> "-tail <path>: last 1 KB, reading only the subblocks that overlap it (DataPlane.tail)",
    "-help" -> "-help [cmd]: this text, or the usage line for one verb")

  /** Usage line for one verb (None for an unknown verb, like the
    * reference's "Unknown command" branch).
    */
  def help(cmd: String): Option[String] = usage.get(cmd)

  /** The full help text, verbs in stable alphabetical order. */
  def helpAll: String = usage.toSeq.sortBy(_._1).map(_._2).mkString("\n")
}
