package graft.fs

import graft.PlanHygiene

/** Mutation-counting (catalog, chunks) holder of the shell — the Spark
  * analog of the reference's per-op Cassandra mutations for LONG-LIVED
  * sessions.
  *
  * Every FS verb returns a new `GraftFs` whose plan wraps the previous
  * one (an anti-join, a union, a prefix rewrite), so a session's plan
  * depth grows with every mutation — by the thousandth small write,
  * analysis alone dominates. This cell periodically flattens both
  * planes to eager localCheckpoints (single LogicalRDD leaves: bounded
  * analysis, one materialized snapshot) and releases the superseded
  * checkpoint pair so storage holds one snapshot plus recent deltas.
  *
  * Cost model: each compaction re-materializes the FULL current
  * snapshot (mutations are arbitrary rewrites — deletes and renames
  * transform the whole plane — so deltas are not separable). A fixed
  * cadence would make total materialization quadratic in plane size
  * under sustained writes; the interval therefore DOUBLES after every
  * compaction (capped), so a session pays O(log N) full snapshots
  * instead of O(N/64) while plan depth stays bounded by the cap.
  *
  * Snapshots escape through `pinCurrent` (the shell's `fs`): a pinned generation's checkpoint is excluded from
  * release, so externally-held state keeps working after later
  * compactions. Pins are the CALLER's storage to manage: `unpin` the
  * snapshot (or `releasePins()` at teardown) when done with it, and
  * prefer `get` for use-and-drop reads — a session that pins every
  * generation it touches retains one materialized snapshot per
  * compaction, re-creating the growth this cell exists to bound.
  *
  * Methods are synchronized so a compaction can't release a checkpoint
  * mid-`set`; the read-modify-write races of CONCURRENT mutators are
  * out of scope — the engine's documented single-driver/single-writer
  * narrowing (SURVEY.md §1.3, FileLocks) applies here too.
  *
  * A persistent deployment with a large resident plane checkpoints to
  * parquet instead (`FsCatalog.save`/`load`); this is the in-session
  * middle ground, sized for the shell's compatibility surface.
  */
final class FsState(initial: GraftFs, compactEvery: Int = FsState.CompactEvery) {
  require(compactEvery > 0, "compactEvery must be positive")

  private var current = initial
  private var sinceCompact = 0
  private var interval = compactEvery
  private var lastCheckpointed: Option[GraftFs] = None
  // escaped snapshot → the checkpoint generation backing it, REF
  // COUNTED: two callers escaping the same generation share one entry
  // (pinCurrent hands both the same object), so the first unpin must
  // not free storage the second caller still reads — the entry clears
  // only when every escape has been released.
  private final class Pin(val escaped: GraftFs, val cp: GraftFs, var refs: Int)
  private var pinned: List[Pin] = Nil

  def get: GraftFs = synchronized(current)

  /** Return the current snapshot and pin its backing checkpoint: later
    * compactions will not release it, so the caller's copy stays
    * queryable until a matching `unpin(copy)` (or `releasePins()`).
    * Callers that use-and-drop within one driver op should prefer
    * `get` — each generation pinned here retains one full materialized
    * snapshot.
    */
  def pinCurrent(): GraftFs = synchronized {
    lastCheckpointed.foreach { cp =>
      pinned.find(p => (p.escaped eq current) && (p.cp eq cp)) match {
        case Some(p) => p.refs += 1
        case None => pinned ::= new Pin(current, cp, 1)
      }
    }
    current
  }

  /** Release ONE pinCurrent escape of `snapshot` (pins are ref
    * counted). After the final release the snapshot must not be
    * queried: its backing checkpoint is freed immediately if already
    * superseded and no other generation's pin shares it.
    */
  def unpin(snapshot: GraftFs): Unit = synchronized {
    pinned.find(_.escaped eq snapshot).foreach { p =>
      p.refs -= 1
      if (p.refs <= 0) pinned = pinned.filterNot(_ eq p)
    }
    sweepRetired()
  }

  /** Drop every pin (e.g. session teardown); superseded checkpoints
    * free immediately.
    */
  def releasePins(): Unit = synchronized { pinned = Nil; sweepRetired() }

  /** Number of live pins — one retained snapshot each; exposed so long
    * sessions can observe (and tests can assert) pin accounting.
    */
  def pinCount: Int = synchronized(pinned.size)

  def set(next: GraftFs): Unit = synchronized {
    current = next
    sinceCompact += 1
    if (sinceCompact >= interval) compactNow()
  }

  /** Force a compaction boundary (also runs automatically). */
  def compactNow(): Unit = synchronized {
    val compacted = current.compact() // eager: materialized before release
    lastCheckpointed.foreach(prev => retired ::= prev)
    sweepRetired()
    lastCheckpointed = Some(compacted)
    current = compacted
    sinceCompact = 0
    interval = math.min(interval * 2, FsState.MaxCompactEvery)
  }

  // superseded-but-pinned checkpoints park here; a sweep (every
  // compaction, every unpin) frees the ones no live pin still names —
  // so an unpinned generation's storage is reclaimed even though
  // compactNow itself only ever retires the immediately-previous one
  private var retired: List[GraftFs] = Nil

  private def sweepRetired(): Unit = {
    val (keep, free) = retired.partition(cp => pinned.exists(_.cp eq cp))
    free.foreach { cp =>
      PlanHygiene.releaseCheckpoint(cp.catalog.inodes)
      PlanHygiene.releaseCheckpoint(cp.chunks)
    }
    retired = keep
  }
}

object FsState {
  /** Initial mutation count between compactions; the interval doubles
    * per compaction up to [[MaxCompactEvery]] (see the cost model in
    * the class doc).
    */
  val CompactEvery: Int = 64

  /** Ceiling for the doubling interval — bounds plan depth (analysis
    * cost) even in the longest sessions.
    */
  val MaxCompactEvery: Int = 1024
}
