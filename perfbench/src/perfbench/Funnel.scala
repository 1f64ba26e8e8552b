package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.ops.{Curation, Decontaminate, Dedup, TextAnalysis}

/** curation_funnel: `Curation.e2eTrainSet` (extract → langid → NB →
  * MinHash → decontaminate → mix → pack → split) over a seeded corpus
  * built with the ScalingSpec vowel-permutation replica recipe and read
  * from local parquet. Executor compute and shuffle dominate; the mount is
  * never touched, so it is the control for every fs change.
  */
final class Funnel(ctx: Ctx) extends Workload(ctx) {
  val BaseDocs = 5000
  val Replicas = 2
  val WarmDocs = 3000
  val PackBudget = 512
  val PassDeadlineMs = 120000L

  def workUnit = "input docs"
  import Funnel.label

  private var docs: DataFrame = _
  private var nDocs = 0L
  private var corpusDir: Path = _
  private val passMs = ArrayBuffer.empty[Double]
  private val hashes = ArrayBuffer.empty[(Long, Long)]
  private var stagedHash: Option[(Long, Long)] = None
  private var output: Array[Row] = Array.empty
  private var lastLayers = Map.empty[String, Double]

  def setup(rep: Int): Unit = {
    if (corpusDir != null) Mounts.delete(corpusDir)
    corpusDir = ctx.runDir.resolve(s"corpus-$rep")
    Gen.corpus(spark, seed, BaseDocs, Replicas)
      .repartition(ctx.cores).write.parquet(corpusDir.toString)
    docs = spark.read.parquet(corpusDir.toString)
    nDocs = docs.count()
  }

  // one pass over a slice of the identity replica
  def warmUp(): Unit =
    pass(docs.filter(col("doc_id") < WarmDocs), WarmDocs * 3 / 4).collect()

  private def pass(in: DataFrame, budget: Int): DataFrame =
    Curation.e2eTrainSet(in, label = label, mixBudget = budget,
      packBudget = PackBudget)

  /** (rows, order-independent xor of a hash of every output row). */
  private def digest(rows: Array[Row]): (Long, Long) =
    (rows.length.toLong, rows.iterator.map(r =>
      scala.util.hashing.MurmurHash3.seqHash(r.toSeq).toLong & 0xffffffffL)
      .foldLeft(0L)(_ ^ _))

  private def budget: Int = (nDocs * 3L / 4L).toInt

  def measure(untilNs: Long, traced: Boolean): (Double, Double) = {
    var work = 0.0
    var secs = 0.0
    do {
      if (traced) {
        val t0 = System.nanoTime()
        try {
          val (d, s) = stagedPass()
          work += d; secs += s
        } catch {
          case e: StepFailed =>
            println(s"curation_funnel staged pass abandoned: ${e.getMessage}")
            secs += (System.nanoTime() - t0) / 1e9
        }
      } else {
        ops.run("funnel.pass", PassDeadlineMs)(pass(docs, budget).collect()) match {
          case Done(rows, ms) =>
            output = rows; hashes += digest(rows); passMs += ms
            work += nDocs; secs += ms / 1000
          case o => secs += o.ms / 1000
        }
      }
    } while (System.nanoTime() < untilNs)
    (work, secs)
  }

  /** The same eight stages, each its public operator called on the
    * previous stage's materialized output, each timed on its own.
    */
  private def stagedPass(): (Double, Double) = {
    val stats = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def stage(name: String)(f: => DataFrame): DataFrame = {
      val o = ops.run(s"funnel.$name", PassDeadlineMs) {
        val df = f.localCheckpoint(true)
        (df, df.count())
      }
      o match {
        case Done((df, rows), ms) =>
          stats(s"funnel.${name}_s") = ms / 1000
          stats(s"funnel.${name}_rows_out") = rows.toDouble
          df
        case other => throw new StepFailed(s"funnel.$name: $other")
      }
    }
    val t0 = System.nanoTime()
    val ex = stage("extract") {
      TextAnalysis.stripHtml(docs)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .select(col("doc_id"), col("source"), col("text"))
    }
    val exEn = stage("langid") {
      ex.join(TextAnalysis.langId(ex).filter(col("lang_guess") === "en")
        .select(col("doc_id")), Seq("doc_id"))
    }
    val kept = stage("nb") {
      exEn.join(Curation.nbQualityScores(exEn, label,
          isTrain = col("doc_id") % 10 =!= 0)
        .filter(col("predicted")).select(col("doc_id")), Seq("doc_id"))
    }
    // candidate generation, counted from the public band rows
    val (candidates, dropped) = ops.call("dedup.candidates", PassDeadlineMs) {
      val bands = Dedup.minhashBandRows(kept, 3, 8, 4)
      val sizes = bands.groupBy(col("band_idx"), col("band_hash")).count()
      val dropped = sizes.filter(col("count") > 1000)
        .agg(coalesce(sum(col("count") * (col("count") - 1) / 2), lit(0)))
        .head().getDouble(0)
      val a = bands.as("a"); val b = bands.as("b")
      val cands = a.join(b, col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
      (cands.toDouble, dropped)
    } match {
      case Done(v, _) => v
      case o => throw new StepFailed(s"dedup.candidates: $o")
    }
    var verified = 0L
    val train = stage("minhash") {
      val pairs = ctx.tracer.span("dedup.verify") {
        Dedup.minhashPairs(kept, shingleN = 3, b = 8, r = 4, threshold = 0.5)
          .localCheckpoint(true)
      }
      verified = pairs.count()
      val dups = pairs.select(col("id_b").as("doc_id")).distinct()
      kept.join(dups, Seq("doc_id"), "left_anti")
        .filter(col("doc_id") % 10 =!= 0)
    }
    val bench = ex.filter(col("doc_id") % 10 === 0)
    val clean = stage("decontam") {
      train.join(Decontaminate.flagged(train, bench, n = 3, minShared = 3,
          maxBenchDf = Int.MaxValue).select(col("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
    }
    val mixed = stage("mix") {
      Curation.applyMix(clean, col("source"), budget, orderKey = col("doc_id"))
    }
    val packed = stage("pack") {
      Curation.packSequences(mixed, shard = col("source"),
        tokenBudget = PackBudget, orderKey = col("doc_id"))
    }
    val out = stage("split") {
      Curation.assignSplits(packed, 0.8, 0.1, 42L)
        .select(col("doc_id"), col("source"), col("n_tok"), col("pack_id"),
          col("split"))
    }
    stagedHash = Some(digest(out.collect()))
    val secs = (System.nanoTime() - t0) / 1e9
    lastLayers = stats.toMap ++ Map(
      "funnel_docs_per_s" -> nDocs / secs,
      "dedup.candidate_pairs" -> candidates,
      "dedup.verified_pairs" -> verified.toDouble,
      "dedup.verify_yield" -> verified / math.max(1.0, candidates),
      "dedup.lsh_dropped_pairs" -> dropped)
    (nDocs.toDouble, secs)
  }

  def opP50Ms: Double = Stats.median(passMs.toSeq).getOrElse(0.0)

  def checks(): Seq[(String, Option[Boolean])] = {
    if (output.isEmpty) // a traced run measured the staged pass only
      ops.call("funnel.pass", PassDeadlineMs)(pass(docs, budget).collect()) match {
        case Done(rows, _) => output = rows
        case _ => return Seq("e2eTrainSet output" -> None)
      }
    val rows = output
    val ids = rows.map(_.getLong(0))
    val inputIds = docs.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    // every doc starts inside its pack: per (source, pack) the tokens
    // before the pack's last doc stay under the budget
    val packsOk = rows.groupBy(r => (r.getString(1), r.getLong(3))).values
      .forall { rs =>
        val sorted = rs.sortBy(_.getLong(0))
        sorted.map(_.getLong(2)).sum - sorted.last.getLong(2) < PackBudget
      }
    val h = digest(rows)
    val hashFile = ctx.outDir.resolve("hashes")
      .resolve(s"curation_funnel-seed$seed.txt")
    val line = s"${h._1} ${h._2}"
    val sameAsBefore =
      if (Files.exists(hashFile))
        new String(Files.readAllBytes(hashFile), "UTF-8").trim == line
      else {
        Files.createDirectories(hashFile.getParent)
        Files.write(hashFile, line.getBytes("UTF-8")); true
      }
    Seq(
      "doc ids are unique" -> Some(ids.distinct.length == ids.length),
      "output docs are a subset of the input" -> Some(ids.forall(inputIds)),
      "pack token budget respected" -> Some(packsOk),
      "output hash identical across passes of this run" ->
        Some(hashes.distinct.size <= 1),
      "output hash identical across runs of this seed" -> Some(sameAsBefore),
      "staged stages reproduce e2eTrainSet" -> stagedHash.map(_ == h))
  }

  def layers(): Map[String, Double] = lastLayers

  override def close(): Unit = if (corpusDir != null) Mounts.delete(corpusDir)
}

object Funnel {
  /** The funnel channels' NB label: integer-exact heuristics over the
    * tokenized text (`toks` is the column the NB stage tokenizes into).
    */
  val label: Column =
    size(col("toks")) >= 5 &&
      expr("size(regexp_extract_all(text, '[.,!?;:]', 0))") * 10 <
        length(col("text")) &&
      expr("size(filter(toks, w -> w in " +
        "('the','a','of','and','to','in','is','it')))") * 50 >=
        size(col("toks"))
}
