package graft.ops

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.must.Matchers

import graft.TestSpark

/** Restart/recovery for the composed train-set funnel (the r16
  * verdict's #4 ask): the three materialization boundaries persist as
  * parquet stage artifacts with an ok-marker commit protocol, a job
  * KILLED between stages resumes by reading every committed artifact,
  * and the resumed output is BIT-IDENTICAL to a clean run — the
  * streaming family's restart_recovery discipline applied to the
  * batch funnel.
  */
class FunnelRecoverySpec extends AnyFlatSpec with Matchers {
  private lazy val spark = TestSpark.spark

  private val sfDir = "/root/testdata/sf0.001"

  private def docs = graft.Tables.documents(spark, sfDir)

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.orderBy("doc_id").collect().map(_.toString).toSeq

  behavior of "Curation.e2eTrainSetResumable"

  it must "produce the identical train set to the in-session funnel" in {
    val work = java.nio.file.Files
      .createTempDirectory("graft-funnel-clean").toString
    val budget = (docs.count() * 3L / 4L).toInt
    val inSession = rows(Curation.e2eTrainSet(docs,
      graft.queries.PipelineQueries.nbLabel, budget))
    val persisted = rows(Curation.e2eTrainSetResumable(docs,
      graft.queries.PipelineQueries.nbLabel, budget, work))
    persisted must be(inSession)
    // all three stage artifacts committed
    Seq("extracted", "kept", "clean").foreach { s =>
      java.nio.file.Files.exists(
        java.nio.file.Paths.get(work, s"$s.ok")) must be(true)
    }
    graft.PlanHygiene.deleteRecursively(java.nio.file.Paths.get(work))
  }

  it must "resume after a mid-funnel kill bit-identically, without recompute" in {
    val work = java.nio.file.Files
      .createTempDirectory("graft-funnel-kill").toString
    val budget = (docs.count() * 3L / 4L).toInt
    val label = graft.queries.PipelineQueries.nbLabel

    // the "kill": the injected failure fires immediately AFTER stage
    // `kept` commits — extracted + kept are on disk, clean is not
    val thrown = intercept[RuntimeException] {
      Curation.e2eTrainSetResumable(docs, label, budget, work,
        failAfter = Some("kept")).collect()
    }
    thrown.getMessage must include("injected failure after stage kept")
    java.nio.file.Files.exists(
      java.nio.file.Paths.get(work, "kept.ok")) must be(true)
    java.nio.file.Files.exists(
      java.nio.file.Paths.get(work, "clean.ok")) must be(false)

    // committed artifacts must be READ on resume, not recomputed: pin
    // the markers' timestamps across the restart
    def mtime(n: String): java.nio.file.attribute.FileTime =
      java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(work, s"$n.ok"))
    val exT = mtime("extracted")
    val keptT = mtime("kept")

    val resumed = rows(Curation.e2eTrainSetResumable(docs, label,
      budget, work))
    mtime("extracted") must be(exT) // not rewritten on resume
    mtime("kept") must be(keptT)

    // bit-identical to a clean run on a fresh dir
    val freshDir = java.nio.file.Files
      .createTempDirectory("graft-funnel-fresh").toString
    val fresh = rows(Curation.e2eTrainSetResumable(docs, label,
      budget, freshDir))
    resumed must be(fresh)
    resumed.nonEmpty must be(true)

    graft.PlanHygiene.deleteRecursively(java.nio.file.Paths.get(work))
    graft.PlanHygiene.deleteRecursively(
      java.nio.file.Paths.get(freshDir))
  }

  it must "commit markers beside the stages of a file: URI work dir and resume from them" in {
    // a URI work dir is no java.nio path: the markers must land at
    // <dir>/<stage>.ok, not under the process's working directory
    val local = java.nio.file.Files.createTempDirectory("graft-funnel-uri")
    val work = local.toUri.toString // file:/tmp/graft-funnel-uri…/
    val budget = (docs.count() * 3L / 4L).toInt
    val label = graft.queries.PipelineQueries.nbLabel
    intercept[RuntimeException] {
      Curation.e2eTrainSetResumable(docs, label, budget, work,
        failAfter = Some("kept")).collect()
    }.getMessage must include("injected failure after stage kept")
    Seq("extracted", "kept").foreach { s =>
      java.nio.file.Files.isRegularFile(local.resolve(s"$s.ok")) must be(true)
      java.nio.file.Files.isDirectory(local.resolve(s)) must be(true)
    }
    java.nio.file.Files.exists(local.resolve("clean.ok")) must be(false)

    // the resume reads the committed stages instead of recomputing them
    def mtime(n: String) =
      java.nio.file.Files.getLastModifiedTime(local.resolve(s"$n.ok"))
    val before = Seq("extracted", "kept").map(mtime)
    val resumed = rows(Curation.e2eTrainSetResumable(docs, label, budget,
      work))
    Seq("extracted", "kept").map(mtime) must be(before)
    java.nio.file.Files.isRegularFile(local.resolve("clean.ok")) must be(true)
    resumed must be(rows(Curation.e2eTrainSet(docs, label, budget)))
    graft.PlanHygiene.deleteRecursively(local)
  }

  it must "overwrite a torn (uncommitted) stage dir on retry" in {
    val work = java.nio.file.Files
      .createTempDirectory("graft-funnel-torn").toString
    // simulate a kill MID-WRITE: a partial parquet dir with no marker
    val torn = java.nio.file.Paths.get(work, "extracted")
    java.nio.file.Files.createDirectories(torn)
    java.nio.file.Files.write(torn.resolve("part-garbage.parquet"),
      "not parquet".getBytes("UTF-8"))
    val budget = (docs.count() * 3L / 4L).toInt
    val out = rows(Curation.e2eTrainSetResumable(docs,
      graft.queries.PipelineQueries.nbLabel, budget, work))
    out.nonEmpty must be(true) // mode(overwrite) replaced the torn dir
    graft.PlanHygiene.deleteRecursively(java.nio.file.Paths.get(work))
  }
}
