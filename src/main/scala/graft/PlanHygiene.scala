package graft

import org.apache.spark.sql.Dataset

/** Lifecycle helpers for localCheckpoint-based plan flattening.
  *
  * Spark has no public "release this checkpoint" API: `Dataset
  * .unpersist` is a no-op for checkpoints because the materialized RDD
  * hides inside the plan's `LogicalRDD` leaf. Every iterative or
  * long-lived mutable plan in this engine (connected components' label
  * rounds, the facade/shell state cell) checkpoints per step and MUST
  * release the superseded step, or storage grows by one full snapshot
  * per step.
  */
object PlanHygiene {

  /** Recursively delete a directory tree, deepest-first — THE shared
    * cleanup idiom for every temp snapshot/landing/checkpoint/state dir
    * this engine materializes (the walk stream is closed in a finally;
    * reverse order deletes children before parents). One definition so
    * a future hardening (symlink handling, retry) lands once.
    */
  def deleteRecursively(dir: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(dir)) {
      val w = java.nio.file.Files.walk(dir)
      try w.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally w.close()
    }

  /** Release a localCheckpoint'd frame's cached blocks. Best-effort: an
    * unexpected plan shape just leaves the blocks to the context's
    * cleaner. After release the frame can no longer be recomputed —
    * only call on snapshots nothing else references.
    */
  def releaseCheckpoint(df: Dataset[_]): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Unpersist EVERY persistent RDD in the context — checkpoint blocks
    * included — and return how many were released. The r7 bench
    * regression (86.6 s vs r6's 47.3 s, same plans) was exactly this
    * accumulation: queries that eagerly checkpoint (to outlive a temp
    * snapshot they delete, or to flatten an iterative plan) hand back a
    * frame whose blocks nothing ever frees, and a 90-query × 3-rep
    * suite — or any long-lived session — slows under the pile-up.
    * Call between independent units of work, AFTER the previous unit's
    * frames are fully materialized/dumped: a swept checkpoint cannot be
    * recomputed. (The scheme mount and the shell on it checkpoint
    * nothing: payload lives in memory and in parquet files.)
    */
  def sweepPersisted(spark: org.apache.spark.sql.SparkSession,
                     blocking: Boolean = false): Int = {
    val rdds = spark.sparkContext.getPersistentRDDs
    rdds.valuesIterator.foreach(_.unpersist(blocking))
    rdds.size
  }
}
