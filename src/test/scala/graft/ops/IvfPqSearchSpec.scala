package graft.ops

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.must.Matchers

import graft.TestSpark

/** The IVF-PQ search's own contract, beyond recall: what it schedules
  * (jobs, shuffle), what it reads (the probed buckets' codes only,
  * also for an in-memory query frame), and that its rows are exact and
  * independent of partitioning.
  */
class IvfPqSearchSpec extends AnyFlatSpec with Matchers {
  private lazy val spark = TestSpark.spark

  private def embDf(vs: Seq[(Long, Seq[Float])]): DataFrame = {
    val s = spark
    import s.implicits._
    vs.toDF("vec_id", "embedding")
  }

  /** `n` vectors in 6 well-separated axis groups of dim 4 (the DPP
    * spec's fixture), so K=6 coarse training spreads the buckets. */
  private def clustered(n: Int): DataFrame =
    embDf((0L until n.toLong).map { i =>
      val g = (i % 6).toInt
      i -> Seq.tabulate(4)(d =>
        (if (d == g % 4) 10f else 0f) + (i % 7).toFloat * 0.1f +
          (i % 11).toFloat * 0.01f * d)
    })

  private def withIndex[T](n: Int)(
      body: (Path, DataFrame, DataFrame, DataFrame, DataFrame) => T): T = {
    val dir = Files.createTempDirectory("graft-ivfpq-search")
    try {
      val vecs = clustered(n)
      Similarity.saveIvfPqIndex(vecs, Similarity.kmeansCentroids(vecs, 6, 2),
        Similarity.pqCodebooks(vecs, m = 2, ksub = 4, iters = 1, dim = 4),
        dir.toString)
      val (lc, lcb, lcodes) = Similarity.loadIvfPqIndex(spark, dir.toString)
      body(dir, vecs, lc, lcb, lcodes)
    } finally graft.PlanHygiene.deleteRecursively(dir)
  }

  private def rows(df: DataFrame): Seq[(Long, Long, Int, Double)] =
    df.select(col("q_id"), col("neighbor_id"), col("rank"), col("score"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(r => (r._1, r._3)).toSeq

  /** Jobs and shuffle bytes of the jobs `body` runs on this thread:
    * they carry a job group, and a marker job started after them in
    * another group tells when the listener has seen all their events.
    */
  private def scheduled[T](body: => T): (T, Int, Long) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val shuffled = new AtomicLong(0L)
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some("ivfpq-counted") =>
            jobs.incrementAndGet(); j.stageIds.foreach(stages.add)
          case Some("ivfpq-marker") => drained.countDown()
          case _ => ()
        }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (stages.contains(t.stageId) && t.taskMetrics != null)
          shuffled.addAndGet(t.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    def inGroup[U](g: String)(f: => U): U = {
      sc.setJobGroup(g, g)
      try f finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      val out = inGroup("ivfpq-counted")(body)
      inGroup("ivfpq-marker")(sc.parallelize(Seq(1), 1).count())
      drained.await(30, TimeUnit.SECONDS) must be(true)
      (out, jobs.get(), shuffled.get())
    } finally sc.removeSparkListener(listener)
  }

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case f: FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  /** The scans of the persisted codes table that running `search` (and
    * collecting its result) executed, as query execution listeners see
    * them.
    */
  private def codeScans(search: => DataFrame): Seq[FileSourceScanExec] = {
    val seen = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(qe)
      override def onFailure(f: String, qe: QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      search.collect()
      def found = seen.asScala.toSeq.flatMap(qe => scans(qe.executedPlan))
        .filter(_.relation.location.rootPaths.exists(
          _.getName == "codes"))
      val deadline = System.nanoTime() + 10000000000L
      while (found.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      found
    } finally spark.listenerManager.unregister(listener)
  }

  behavior of "Similarity.ivfpqTopKIndexed (the driver-planned IVF-PQ search)"

  it must "run at most five jobs and shuffle no scored row, whatever |codes|" in {
    Seq(600, 2400).foreach { n =>
      withIndex(n) { (_, vecs, lc, lcb, lcodes) =>
        val qs = vecs.filter(col("vec_id") < 4)
        val (res, jobs, shuffled) = scheduled(
          Similarity.ivfpqTopKIndexed(qs, lcodes, lc, lcb, vecs,
            nprobe = 2, k = 5, cand = 20).collect())
        withClue(s"|codes| = $n: ") {
          res.length must be(4 * 5)
          jobs must be <= 5
          // per-partition heaps only: |queries|·cand entries per merge
          // level, against ~n·nprobe/K·|queries| scored rows
          shuffled must be < 64L * 1024
        }
      }
    }
  }

  it must "read only the probed bucket's codes for an in-memory query" in {
    withIndex(600) { (dir, vecs, lc, lcb, lcodes) =>
      val partDirs = {
        val l = Files.list(dir.resolve("codes"))
        try l.iterator().asScala.count(_.getFileName.toString.startsWith("bucket="))
        finally l.close()
      }
      partDirs must be >= 3
      // one query, held in memory: no file scan on the probing side
      val q = embDf(Seq(7L -> Seq(0.3f, 9.5f, 0.2f, 0.1f)))
      val bucket = Similarity.assignBuckets(q, lc).select(col("bucket"))
        .head().getLong(0)
      val read = codeScans(Similarity.ivfpqTopKIndexed(q, lcodes, lc, lcb,
        vecs, nprobe = 1, k = 3, cand = 10))
      read.nonEmpty must be(true)
      read.foreach { scan =>
        scan.metrics("numPartitions").value must be(1L)
        scan.metrics("numOutputRows").value must be(
          lcodes.filter(col("bucket") === bucket).count())
      }
    }
  }

  it must "equal bruteTopK row for row, score included, at nprobe = K and cand >= N" in {
    withIndex(240) { (_, vecs, lc, lcb, lcodes) =>
      val qs = vecs.filter(col("vec_id") < 6 || col("vec_id") === 101)
      rows(Similarity.ivfpqTopKIndexed(qs, lcodes, lc, lcb, vecs,
          nprobe = 6, k = 7, cand = 240)) must be(
        rows(Similarity.bruteTopK(qs, vecs, k = 7)))
    }
  }

  it must "return identical rows with codes and corpus at 1 and at 7 partitions" in {
    withIndex(600) { (_, vecs, lc, lcb, lcodes) =>
      val qs = vecs.filter(col("vec_id") % 97 === 0)
      def at(n: Int) = rows(Similarity.ivfpqTopKIndexed(qs,
        lcodes.repartition(n), lc, lcb, vecs.repartition(n),
        nprobe = 2, k = 5, cand = 15))
      val one = at(1)
      one.nonEmpty must be(true)
      at(7) must be(one)
      rows(Similarity.ivfpqTopKIndexed(qs, lcodes, lc, lcb, vecs,
        nprobe = 2, k = 5, cand = 15)) must be(one)
    }
  }

  it must "probe the lower-id bucket for a query exactly between two centroids" in {
    // centroids 3 = e0 and 7 = e1, listed high id first; the query
    // e0 + e1 scores exactly 1/√2 against both
    val coarse = embDf(Seq(7L -> Seq(0f, 1f, 0f, 0f), 3L -> Seq(1f, 0f, 0f, 0f)))
    val vecs = embDf((0L until 40L).map { i =>
      val jitter = (i % 5).toFloat * 0.05f
      i -> (if (i % 2 == 0) Seq(1f, jitter, 0.1f, 0f)
            else Seq(jitter, 1f, 0f, 0.1f))
    })
    val cbs = Similarity.pqCodebooks(vecs, m = 2, ksub = 4, iters = 1, dim = 4)
    val codes = Similarity.ivfpqEncodeWith(vecs, coarse, cbs)
    val q = embDf(Seq(1000L -> Seq(1f, 1f, 0f, 0f)))
    Similarity.assignBuckets(q, coarse).select(col("bucket")).head()
      .getLong(0) must be(3L)
    val inBucket3 = codes.filter(col("bucket") === 3L).select(col("vec_id"))
      .collect().map(_.getLong(0)).toSet
    inBucket3 must be((0L until 40L by 2).toSet)
    val got = rows(Similarity.ivfpqTopKIndexed(q, codes, coarse, cbs, vecs,
      nprobe = 1, k = 5, cand = 40))
    got.size must be(5)
    got.map(_._2).toSet.subsetOf(inBucket3) must be(true)
  }
}
