package perfbench

import scala.jdk.CollectionConverters._

/** Self-tests of the benchmark's metric math and of the metric catalogue
  * against BENCHMARK.json. Run: python3 perfbench/run.py --selftest
  */
object SelfTest {
  private var failures = 0
  private var passed = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => println(s"  $e"); false }
    if (ok) passed += 1 else { failures += 1; println(s"FAIL $name") }
  }

  private def throws(f: => Any): Boolean =
    try { f; false } catch { case _: IllegalArgumentException => true }

  def main(args: Array[String]): Unit = {
    val xs = (1 to 100).map(_.toDouble)

    // percentiles: at least 10 samples beyond a tail percentile
    check("p90 needs 100 samples") { Stats.samplesNeeded(0.9) == 100 }
    check("p99 needs 1000 samples") { Stats.samplesNeeded(0.99) == 1000 }
    check("p90 of 1..100 is 90") { Stats.tail(xs, 0.9).contains(90.0) }
    check("p90 refused on 99 samples") { Stats.tail(xs.take(99), 0.9).isEmpty }
    check("p99 refused on 999 samples") {
      Stats.tail((1 to 999).map(_.toDouble), 0.99).isEmpty
    }
    check("p99 of 1..1000 is 990") {
      Stats.tail((1 to 1000).map(_.toDouble), 0.99).contains(990.0)
    }
    check("tail ignores input order") {
      Stats.tail(xs.reverse, 0.9) == Stats.tail(xs, 0.9)
    }
    check("tail rejects the median") { throws(Stats.tail(xs, 0.5)) }
    check("median odd") { Stats.median(Seq(3.0, 1.0, 2.0)).contains(2.0) }
    check("median even") { Stats.median(Seq(4.0, 1.0, 3.0, 2.0)).contains(2.5) }
    check("median of nothing") { Stats.median(Nil).isEmpty }
    check("tail metric names carry their quantile") {
      Metrics.tailName("mount.stat", 0.99) == "mount.stat_p99_ms" &&
        Metrics.tailName("shell.mv", 0.9) == "shell.mv_p90_ms"
    }
    check("per-layer tail reports 0 when refused") {
      Metrics.tail(xs.take(50), 0.9) == 0.0
    }

    // failure shares
    check("share 1 of 4") { Stats.share(1, 4) == 0.25 }
    check("share 0 of 7") { Stats.share(0, 7) == 0.0 }
    check("share needs an attempt") { throws(Stats.share(0, 0)) }
    check("share bounded by attempts") { throws(Stats.share(5, 4)) }

    // driver residual: wall minus the union of job intervals
    check("residual of overlapping jobs") {
      Stats.residual(0, 100, Seq((10L, 30L), (20L, 40L), (90L, 120L))) == 60
    }
    check("residual with no jobs is the wall") { Stats.residual(5, 25, Nil) == 20 }
    check("residual of nested jobs") {
      Stats.residual(0, 100, Seq((10L, 90L), (20L, 30L))) == 20
    }
    check("jobs outside the window do not count") {
      Stats.residual(50, 100, Seq((0L, 40L), (100L, 200L))) == 50
    }
    check("union of touching intervals") {
      Stats.unionLength(Seq((0L, 10L), (10L, 20L)), 0, 100) == 20
    }

    // span self time: duration minus what direct children cover
    val spans = Seq(
      Span(1, -1, "bench.window", 0, 100),
      Span(2, 1, "mount.create", 10, 30),
      Span(3, 1, "mount.close", 20, 50),
      Span(4, 3, "store.wal", 25, 35))
    val self = Stats.selfTimes(spans)
    check("parent self time subtracts overlapping children once") { self(1) == 60 }
    check("leaf self time is its duration") { self(2) == 20 }
    check("grandchildren count against their parent only") { self(3) == 20 }
    check("leaf under a child") { self(4) == 10 }
    val tr = new Tracer(enabled = true)
    tr.span("funnel.pass") { tr.span("dedup.verify") { Thread.sleep(5) } }
    val byLayer = tr.selfMsByLayer
    check("tracer nests spans and sums self time by layer") {
      tr.all.size == 2 && byLayer("dedup") >= 4.0 &&
        byLayer("funnel") < byLayer("dedup")
    }
    check("disabled tracer records nothing") {
      val off = new Tracer(enabled = false); off.span("x")(1); off.all.isEmpty
    }

    // result formatting keeps every digit, no exponent
    check("plain decimals") { Json.num(0.000123) == "0.000123" }
    check("integral values") { Json.num(42.0) == "42" }
    check("non-finite refused") { throws(Json.num(Double.NaN)) }

    // the catalogue matches BENCHMARK.json
    val root = java.nio.file.Paths.get(args.headOption.getOrElse("."))
    val spec = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(root.resolve("BENCHMARK.json").toFile)
    def listed(key: String): Seq[(String, String)] =
      spec.get(key).elements().asScala.map(m =>
        m.get("name").asText -> m.get("unit").asText).toSeq
    check("end_to_end matches the catalogue") {
      listed("end_to_end") == Metrics.EndToEnd
    }
    check("per_layer matches the catalogue") {
      listed("per_layer") == Metrics.PerLayer
    }
    check("workloads match") {
      spec.get("workloads").elements().asScala.map(_.get("name").asText)
        .toSet == Set("mount_io", "fs_meta", "curation_funnel", "ann_index")
    }

    println(s"selftest: $passed passed, $failures failed")
    System.exit(if (failures == 0) 0 else 1)
  }
}
