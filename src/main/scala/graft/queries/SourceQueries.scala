package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.catalog.CatalogBuilder

/** Queries over the custom DataSourceV2 connector (graft.sources):
  * proves the full mount story end-to-end — build a real FsCatalog from
  * `part`, `save` it as the path-range-partitioned snapshot, mount the
  * snapshot with `spark.read.format(...)`, and answer queries whose
  * pushed path predicates prune snapshot FILES at planning time (parquet
  * footer min/max stats) while locality hints attach per file. The
  * oracle reproduces the expected answers from the same `part` parquet
  * the catalog was derived from.
  */
object SourceQueries {

  /** Save the part-derived catalog to a temp snapshot, mount it through
    * the V2 connector, run `q`, materialize eagerly, delete the snapshot
    * (a bench run at REPS=3 must not leak snapshots per invocation).
    */
  private def withSnapshot(s: org.apache.spark.sql.SparkSession, d: String)(
      q: DataFrame => DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft-dsv2")
    // delete in a finally: a failure anywhere (build, save, mount, the
    // eager checkpoint) must not strand a multi-file snapshot per rep
    try {
      CatalogBuilder.fromPart(s, d).save(dir.toString)
      val mounted = s.read.format("graft.sources.GraftFsDataSource")
        .load(dir.toString)
      q(mounted).localCheckpoint(true)
    } finally {
      graft.PlanHygiene.deleteRecursively(dir)
    }
  }

  val defs: Seq[QueryDef] = Seq(

    // ── point lookup: parent_path equality prunes to the one snapshot
    //    file whose [min,max] path range covers /pt/Brand#13/ ───────────
    QueryDef(
      "fs_dsv2_scan",
      (s, d) => withSnapshot(s, d) { mounted =>
        mounted
          .filter(col("parent_path") === "/pt/Brand#13" && !col("is_dir"))
          .agg(count(lit(1)).as("n"), sum(col("len")).as("total_len"))
      },
      Some("""SELECT COUNT(*) AS n, CAST(SUM(p_size) AS BIGINT) AS total_len
             |FROM part WHERE p_brand = 'Brand#13'""".stripMargin)),

    // ── subtree scan: path prefix covers the five Brand#2x directories;
    //    files outside the range are never planned ──────────────────────
    QueryDef(
      "fs_dsv2_deep_scan",
      (s, d) => withSnapshot(s, d) { mounted =>
        mounted
          .filter(col("path").startsWith("/pt/Brand#2") && !col("is_dir"))
          .groupBy(col("parent_path"))
          .agg(count(lit(1)).as("n"), sum(col("len")).as("total_len"))
          .orderBy(col("parent_path"))
      },
      Some("""SELECT '/pt/' || p_brand AS parent_path, COUNT(*) AS n,
             |       CAST(SUM(p_size) AS BIGINT) AS total_len
             |FROM part WHERE p_brand LIKE 'Brand#2%'
             |GROUP BY p_brand ORDER BY parent_path""".stripMargin)),

    // ── COLD-SESSION read (r13 stretch #7): the snapshot is written by
    //    the ENGINE session and consumed by a FRESH SparkSession
    //    (newSession: its own conf/catalog/function registry, none of
    //    graft's registrations) through the stock DataSourceV2 lookup —
    //    the cluster-side consumer contract of the §8 narrowing: any
    //    stock Spark session can mount and query a saved catalog with
    //    nothing graft-specific installed. The K-bounded result rows
    //    re-home to the engine session for the dump (grouped counts,
    //    five rows). ───────────────────────────────────────────────────
    QueryDef(
      "fs_dsv2_cold_session",
      (s, d) => {
        val dir = java.nio.file.Files.createTempDirectory("graft-dsv2-cold")
        try {
          CatalogBuilder.fromPart(s, d).save(dir.toString)
          val fresh = s.newSession()
          val out = fresh.read.format("graft.sources.GraftFsDataSource")
            .load(dir.toString)
            .filter(col("path").startsWith("/pt/Brand#3") && !col("is_dir"))
            .groupBy(col("parent_path"))
            .agg(count(lit(1)).as("n"), sum(col("len")).as("total_len"))
            .orderBy(col("parent_path"))
          val rows = out.collect()
          s.createDataFrame(
            java.util.Arrays.asList(rows: _*), out.schema)
        } finally {
          graft.PlanHygiene.deleteRecursively(dir)
        }
      },
      Some("""SELECT '/pt/' || p_brand AS parent_path, COUNT(*) AS n,
             |       CAST(SUM(p_size) AS BIGINT) AS total_len
             |FROM part WHERE p_brand LIKE 'Brand#3%'
             |GROUP BY p_brand ORDER BY parent_path""".stripMargin)),

    // ── drop-in scheme mount, as a correctness row: register
    //    fs.graftfs.impl (the reference's core-site.xml:29-32 claim),
    //    write the nation table as CSV THROUGH the Hadoop facade over a
    //    graftfs:// URI, then answer the aggregate with a stock
    //    spark.read.csv against the same URI — scheme resolution, the
    //    FileSystem cache, qualified-path listing, and the record
    //    reader's open all on the query's hot path. The driver-side
    //    collect is the 25-row nation dim (bounded fixture prep, not
    //    the measured scan); the read side's block fetches are
    //    session-free memory/parquet reads, no nested engine job ───────
    QueryDef(
      "fs_mount_read",
      (s, d) => {
        val hconf = s.sparkContext.hadoopConfiguration
        hconf.set("fs.graftfs.impl",
          classOf[graft.fs.GraftFileSystem].getName)
        val fs = org.apache.hadoop.fs.FileSystem.get(
          new java.net.URI("graftfs://bench/"), hconf)
        try {
          val lines = graft.Tables.nation(s, d)
            .select(col("n_nationkey").cast("long"),
              col("n_regionkey").cast("long"))
            .collect()
            .map(r => s"${r.getLong(0)},${r.getLong(1)}")
            .sorted
          val out = fs.create( // default create overwrites: rep-safe
            new org.apache.hadoop.fs.Path("graftfs://bench/nation/n.csv"))
          out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
          out.close()
          s.read
            .schema("n_nationkey LONG, n_regionkey LONG")
            .csv("graftfs://bench/nation")
            .groupBy(col("n_regionkey"))
            .agg(count(lit(1)).as("n"),
              sum(col("n_nationkey")).as("key_sum"))
            .orderBy(col("n_regionkey"))
            // materialize BEFORE the mount closes: the lazy plan's task
            // would otherwise re-resolve the scheme through Hadoop's
            // cache and find a FRESH empty instance
            .localCheckpoint(true)
        } finally {
          // close() evicts the instance from Hadoop's FileSystem cache,
          // so each rep gets a fresh empty mount — the bench-rep analog
          // of fs_save_load's materialize-then-cleanup lifecycle
          fs.close()
        }
      },
      Some("""SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey,
             |       COUNT(*) AS n,
             |       CAST(SUM(n_nationkey) AS BIGINT) AS key_sum
             |FROM nation GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ── full-parallelism committer write, as a correctness row: a stock
    //    df.write.parquet at 2× the core count THROUGH the mounted
    //    facade (every task create/rename/getFileStatus answered by the
    //    driver-JVM inode cache — the r11 action-free write path), then
    //    a stock spark.read.parquet over the same graftfs:// URI answers
    //    the aggregate. The read-back is also action-free (memory and
    //    session-free parquet reads), so neither side can core-starve
    //    — the claim this row pins is exactly the one the r10 mount
    //    could not make: outer parallelism ≥ cores, no repartition(1)
    //    escape hatch ──────────────────────────────────────────────────
    QueryDef(
      "fs_mount_parallel",
      (s, d) => {
        val hconf = s.sparkContext.hadoopConfiguration
        hconf.set("fs.graftfs.impl",
          classOf[graft.fs.GraftFileSystem].getName)
        val fs = org.apache.hadoop.fs.FileSystem.get(
          new java.net.URI("graftfs://benchpar/"), hconf)
        try {
          val par = math.max(s.sparkContext.defaultParallelism * 2, 8)
          graft.Tables.supplier(s, d)
            .select(col("s_suppkey").cast("long").as("s_suppkey"),
              col("s_nationkey").cast("long").as("s_nationkey"))
            .repartition(par)
            .write.mode("overwrite")
            .parquet("graftfs://benchpar/supplier")
          s.read.parquet("graftfs://benchpar/supplier")
            .groupBy(col("s_nationkey"))
            .agg(count(lit(1)).as("n"),
              sum(col("s_suppkey")).as("key_sum"))
            .orderBy(col("s_nationkey"))
            .localCheckpoint(true) // materialize before the mount closes
        } finally {
          fs.close() // evict from Hadoop's cache: each rep starts empty
        }
      },
      Some("""SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey,
             |       COUNT(*) AS n,
             |       CAST(SUM(s_suppkey) AS BIGINT) AS key_sum
             |FROM supplier GROUP BY 1 ORDER BY 1""".stripMargin))
  )
}
