package perfbench

import java.nio.file.Path

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Similarity

/** ann_index: an IVF-PQ build (kmeansCentroids + pqCodebooks +
  * saveIvfPqIndex), a retrain-free append of a new batch, then
  * loadIvfPqIndex + ivfpqTopKIndexed search of a seeded query batch,
  * checked against brute-force top-10 computed during set-up. Vectors
  * follow the IvfScaleSpec perturbed-replica recipe.
  */
final class AnnIndex(ctx: Ctx) extends Workload(ctx) {
  val BaseVectors = 2000
  val Clusters = 32
  val Replicas = 5       // indexed corpus: replicas 0 until Replicas
  val AppendReplicas = 1 // appended batch: the next replica
  val Queries = 64
  val K = 10
  val Coarse = 32
  val CoarseIters = 2
  val M = 8
  val Ksub = 256
  val PqIters = 1
  val Nprobe = 8
  val Cand = 100
  val Searches = 2
  /** Mean recall@10 floor, set from brute-force measurements across seeds. */
  val RecallFloor = 0.8
  val StepDeadlineMs = 120000L

  def workUnit = "vectors indexed (build + append)"

  private var corpus: DataFrame = _
  private var batch: DataFrame = _
  private var all: DataFrame = _
  private var queries: DataFrame = _
  private var truth = Map.empty[Long, Set[Long]]
  private var nCorpus = 0L
  private var nBatch = 0L
  private var cycles = 0
  private val searchMs = ArrayBuffer.empty[Double]
  private val recalls = ArrayBuffer.empty[Double]
  private var identical = true
  private var searched = false
  private var lastLayers = Map.empty[String, Double]

  def setup(rep: Int): Unit = {
    corpus = Gen.vectors(spark, seed, BaseVectors, Clusters, 0 until Replicas)
      .localCheckpoint(true)
    batch = Gen.vectors(spark, seed, BaseVectors, Clusters,
      Replicas until Replicas + AppendReplicas).localCheckpoint(true)
    all = corpus.unionByName(batch).localCheckpoint(true)
    nCorpus = corpus.count(); nBatch = batch.count()
    queries = Gen.queries(spark, seed, all, Queries).localCheckpoint(true)
    truth = neighbours(Similarity.bruteTopK(queries, all, K))
  }

  def warmUp(): Unit = {
    // a small build + search over the identity replica
    val small = corpus.filter(col("vec_id") < BaseVectors)
    val c = Similarity.kmeansCentroids(small, 8, 1)
    val b = Similarity.pqCodebooks(small, M, Ksub, 1, Gen.Dim)
    val dir = ctx.runDir.resolve("ann-warm")
    Similarity.saveIvfPqIndex(small, c, b, dir.toString)
    val (lc, lb, codes) = Similarity.loadIvfPqIndex(spark, dir.toString)
    Similarity.ivfpqTopKIndexed(queries, codes, lc, lb, small, 2, K, Cand)
      .collect()
    Mounts.delete(dir)
  }

  private def neighbours(df: DataFrame): Map[Long, Set[Long]] =
    df.select(col("q_id"), col("neighbor_id")).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }

  private def step[T](name: String)(f: => T): (T, Double) =
    ops.run(name, StepDeadlineMs)(f) match {
      case Done(v, ms) => (v, ms)
      case other => throw new StepFailed(s"$name: $other")
    }

  private def recordsRead: Long =
    ctx.probe.map(_.snapshot().recordsRead).getOrElse(0L)

  def measure(untilNs: Long, traced: Boolean): (Double, Double) = {
    var work = 0.0
    var secs = 0.0
    var ok = true
    do {
      val t0 = System.nanoTime()
      try {
        val (w, s) = cycle()
        work += w; secs += s
      } catch {
        // a step failed or expired (counted by Ops); the index is unusable
        case e: StepFailed =>
          println(s"ann_index cycle abandoned: ${e.getMessage}")
          secs += (System.nanoTime() - t0) / 1e9
          ok = false
      }
    } while (ok && System.nanoTime() < untilNs)
    (work, secs)
  }

  /** Build → append → load + search on a fresh index dir. Returns
    * (vectors indexed, seconds of build + append).
    */
  private def cycle(): (Double, Double) = {
    val dir: Path = ctx.runDir.resolve(s"ann-index-$cycles")
    cycles += 1
    val (coarse, coarseMs) = step("ann.coarse_train") {
      Similarity.kmeansCentroids(corpus, Coarse, CoarseIters)
        .localCheckpoint(true)
    }
    val (books, pqMs) = step("ann.pq_train") {
      Similarity.pqCodebooks(corpus, M, Ksub, PqIters, Gen.Dim)
        .localCheckpoint(true)
    }
    val (_, saveMs) = step("ann.encode_save") {
      Similarity.saveIvfPqIndex(corpus, coarse, books, dir.toString)
    }
    val (_, appendMs) = step("ann.append") {
      Similarity.ivfpqEncodeWith(batch, coarse, books)
        .write.mode("append").partitionBy("bucket")
        .parquet(dir.resolve("codes").toString)
    }
    val ((lc, lb, codes), loadMs) = step("ann.load") {
      Similarity.loadIvfPqIndex(spark, dir.toString)
    }
    val r0 = recordsRead
    var first: Map[Long, Set[Long]] = null
    val ms = (0 until Searches).map { _ =>
      val (got, ms) = step("ann.search") {
        neighbours(Similarity.ivfpqTopKIndexed(queries, codes, lc, lb, all,
          Nprobe, K, Cand))
      }
      if (first == null) first = got else identical &&= got == first
      searchMs += ms
      ms
    }
    searched = true
    val scanned = (recordsRead - r0) - Searches * (Coarse + M * Ksub).toLong
    recalls += truth.toSeq.map { case (q, t) =>
      (first.getOrElse(q, Set.empty) intersect t).size.toDouble / K
    }.sum / truth.size
    Mounts.delete(dir)
    val buildS = (coarseMs + pqMs + saveMs) / 1000
    lastLayers = Map(
      "ann_build_s" -> buildS,
      "ann_append_rows_per_s" -> nBatch / (appendMs / 1000),
      "ann_search_qps" -> Queries * Searches / (ms.sum / 1000),
      "ann_recall_at_10" -> recalls.last,
      "ann.coarse_train_s" -> coarseMs / 1000,
      "ann.pq_train_s" -> pqMs / 1000,
      "ann.encode_save_s" -> saveMs / 1000,
      "ann.append_s" -> appendMs / 1000,
      "ann.load_s" -> loadMs / 1000,
      "ann.search_s" -> ms.sum / 1000,
      "ann.scanned_share" -> scanned.toDouble / (Searches * (nCorpus + nBatch)))
    println(f"ann_index cycle: build $buildS%.2f s (coarse " +
      f"${coarseMs / 1000}%.2f, pq ${pqMs / 1000}%.2f, encode+save " +
      f"${saveMs / 1000}%.2f), append " +
      f"${appendMs / 1000}%.2f s, search ${ms.sum / 1000}%.2f s, " +
      f"recall@10 ${recalls.last}%.4f")
    ((nCorpus + nBatch).toDouble, buildS + appendMs / 1000)
  }

  def opP50Ms: Double = Stats.median(searchMs.toSeq).getOrElse(0.0)

  def checks(): Seq[(String, Option[Boolean])] = Seq(
    f"recall@10 at or above $RecallFloor" ->
      (if (recalls.isEmpty) None else Some(recalls.min >= RecallFloor)),
    "repeated searches return identical results" ->
      (if (searched) Some(identical) else None))

  def layers(): Map[String, Double] = lastLayers
}
