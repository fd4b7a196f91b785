package graft.perfbench

import java.io.File
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Checks of the benchmark's own machinery (run by perfbench/test_perfbench.py
  * through `run.py --selftest`):
  *   - the same seed writes byte-identical inputs, another seed does not;
  *   - self time on a synthetic span tree;
  *   - the oracle, the F1 and the percentile helpers on small cases.
  * Prints every metric name the harness can emit as `name <kind> <name> <unit>`
  * and `selftest ok` when everything holds; exits 1 otherwise.
  *
  *   SelfTest <scratch dir> <workloads.json> */
object SelfTest {
  private var failures = 0
  private def check(what: String, ok: Boolean): Unit =
    if (!ok) { failures += 1; System.err.println(s"selftest FAILED: $what") }

  /** Relative path -> bytes; Spark's per-write UUID is dropped from file names. */
  private def snapshot(dir: File): Map[String, Seq[Byte]] = {
    val base = dir.toPath
    Files.walk(base).iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
      base.relativize(p).toString.replaceAll("-[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "") ->
        Files.readAllBytes(p).toSeq
    }.toMap
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val workloads = args(1)

    // self time: children overlap each other, one grandchild, one child
    // running past its parent's end
    val spans = Seq(
      Span(1, "root", -1, 0, 100),
      Span(2, "a", 1, 10, 30),
      Span(3, "b", 1, 20, 50),
      Span(4, "a1", 2, 12, 14),
      Span(5, "c", 1, 90, 120),
      Span(6, "lone", -1, 0, 7))
    def self(id: Int) = Span.selfSeconds(spans.find(_.id == id).get, spans) * 1e9
    check("root self time", math.abs(self(1) - 50) < 1e-6)
    check("child self time", math.abs(self(2) - 18) < 1e-6)
    check("leaf self time", math.abs(self(3) - 30) < 1e-6 && math.abs(self(6) - 7) < 1e-6)

    // oracle, F1 and percentile helpers
    check("oracle kitten/sitting", Oracle.banded("kitten", "sitting", 64) == 3)
    check("oracle empty", Oracle.banded("", "abc", 64) == 3)
    check("oracle saturates", Oracle.banded("a" * 200, "b" * 200, 64) == 64)
    check("oracle length gap", Oracle.banded("a" * 10, "a" * 80, 64) == 64)
    val truth = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L)
    check("f1 perfect", Main.pairF1(truth, truth) == 1.0)
    check("f1 split", math.abs(Main.pairF1(Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L), truth) - 0.5) < 1e-9)
    check("no percentile below 11 samples", Main.tailPercentile((1 to 10).map(_.toDouble)).isEmpty)
    check("p50 of 20 samples", Main.tailPercentile((1 to 20).map(_.toDouble)).contains(50 -> 10.0))

    // same seed -> byte-identical inputs; another seed -> different inputs
    val spark = Main.session(2, dir)
    val names = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new File(workloads))
      .fieldNames().asScala.toSeq
    names.foreach { w =>
      val spec = Main.loadSpec(workloads, w)
      Seq("a" -> 7L, "b" -> 7L, "c" -> 8L).foreach { case (tag, seed) =>
        Gen.write(spark, Gen.generate(spec, seed), s"$dir/gen-$w-$tag")
      }
      val a = snapshot(new File(s"$dir/gen-$w-a"))
      check(s"$w: inputs written", a.keySet.exists(_.startsWith("corpus/part-")) && a.contains("pairs.seq"))
      check(s"$w: same seed gives byte-identical inputs", a == snapshot(new File(s"$dir/gen-$w-b")))
      check(s"$w: another seed gives other inputs", a != snapshot(new File(s"$dir/gen-$w-c")))
    }
    spark.stop()

    Main.EndToEnd.foreach { case (n, u) => println(s"name end_to_end $n $u") }
    Main.PerLayer.foreach { case (n, u) => println(s"name per_layer $n $u") }
    if (failures > 0) sys.exit(1)
    println("selftest ok")
  }
}
