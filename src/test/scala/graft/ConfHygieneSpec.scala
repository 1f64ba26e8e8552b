package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.must.Matchers

/** Pins the one-loaded-Hadoop-conf rule of the session-free read paths:
  * a defaults-loading `Configuration` parses core-default.xml and
  * searches the class path on its first lookup (~10 ms, more than a
  * small parquet read), and `ParquetReader.builder(support, path)`
  * makes one per reader. `graft.fs.ParquetFiles` holds the JVM's one
  * loaded conf and the reader built over `HadoopInputFile`; this spec
  * scans the main sources and fails on either construction anywhere
  * else. `new Configuration(false)` (loads nothing) and copies
  * (`new Configuration(other)`) stay allowed.
  */
class ConfHygieneSpec extends AnyFlatSpec with Matchers {

  private val holder = Paths.get("src/main/scala/graft/fs/ParquetFiles.scala")

  /** A defaults-loading construction: `new Configuration`, bare or with
    * empty parens, optionally fully qualified. */
  private val loadedConf =
    """new\s+(?:org\.apache\.hadoop\.conf\.)?Configuration\b(?!\s*\((?!\s*\)))""".r

  /** The Path-taking reader builder (parquet's only `builder` overload
    * takes a `ReadSupport` and a `Path`). */
  private val pathBuilder = """ParquetReader\s*\.\s*builder\s*\(""".r

  /** Source text without comments, so prose may name the forbidden forms. */
  private def uncommented(text: String): String =
    text.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")

  private def code(p: Path): String =
    uncommented(new String(Files.readAllBytes(p), "UTF-8"))

  private def offenders(text: String): Seq[String] =
    (loadedConf.findAllIn(text) ++ pathBuilder.findAllIn(text)).toSeq

  behavior of "the shared Hadoop conf holder"

  it must "recognize the forbidden forms and pass the allowed ones" in {
    offenders("val c = new Configuration()") must have size 1
    offenders("new org.apache.hadoop.conf.Configuration( )") must have size 1
    offenders("val c = new Configuration\n") must have size 1
    offenders("ParquetReader\n  .builder(new GroupReadSupport(), path)") must have size 1
    offenders("new Configuration(false); new Configuration(shared)") mustBe empty
    offenders(uncommented(
      "// new Configuration()\n/** ParquetReader.builder(\n */ x")) mustBe empty
  }

  it must "find no loaded Configuration or Path reader builder outside it" in {
    Files.isRegularFile(holder) must be(true)
    val sources = {
      val w = Files.walk(Paths.get("src/main/scala"))
      try w.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally w.close()
    }
    sources.size must be > 10
    val found = sources.filter(_ != holder)
      .flatMap(p => offenders(code(p)).map(o => s"$p: $o"))
    found mustBe empty
    offenders(code(holder)) must have size 1 // the one loaded conf
  }
}
