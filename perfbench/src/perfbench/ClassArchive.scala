package perfbench

import java.nio.file.Paths

import org.apache.spark.sql.functions.col

import graft.fs.{FsContext, GraftShell}
import graft.ops.{Curation, Similarity}

/** Loads the classes the workloads need (session start, parquet I/O, the
  * mount and shell, the funnel and IVF-PQ operators) on tiny inputs and
  * exits normally, so the JVM can write them to the class-data archive
  * that build.py makes once per build.
  */
object ClassArchive {
  def main(args: Array[String]): Unit = {
    val dir = Paths.get(args(0))
    val spark = Main.session(dir, Runtime.getRuntime.availableProcessors())
    Mounts.emptyState(spark, dir.resolve("state"))
    val (fs, base) = Mounts.mount(spark, "archive", dir.resolve("state"))
    Gen.payloadRows(spark, 1L, 0, 64, 2).write.parquet(s"$base/p")
    Gen.checksum(spark.read.parquet(s"$base/p"))
    val shell = new GraftShell(fs.graftFs, FsContext.initialize(base + "/"))
    Seq(Array("-mkdir", "/s"), Array("-touchz", "/s/t"), Array("-ls", "/s"),
      Array("-du", "/s"), Array("-count", "/s")).foreach(shell.run)
    shell.close()
    fs.close()
    val docs = Gen.corpus(spark, 1L, 200, 1)
    Curation.e2eTrainSet(docs, Funnel.label, mixBudget = 150).collect()
    val v = Gen.vectors(spark, 1L, 300, 4, 0 until 1)
    val c = Similarity.kmeansCentroids(v, 4, 1)
    val b = Similarity.pqCodebooks(v, 8, 256, 1, Gen.Dim)
    Similarity.ivfpqTopKWith(v.filter(col("vec_id") < 4), v, c, b, 2, 10, 50)
      .collect()
    spark.stop()
    System.exit(0)
  }
}
