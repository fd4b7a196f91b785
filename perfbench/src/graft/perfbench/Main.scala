package graft.perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.AlignerCli
import graft.core.CigarOps
import graft.io.StageRunner
import graft.pipeline.{ErConfig, ErRunner}
import java.io.File
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

/** The repository benchmark. One workload per process, run as a closed
  * loop (one client, one operation at a time) for a fixed window, with the
  * program's outputs checked against generator ground truth.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --workloads <workloads.json> --dir <scratch dir> [--spans <file>]
  *
  * Every cycle runs the four user-facing operations on the workload's
  * inputs: a checkpointed `ErRunner.run`, a resume of its last three
  * stages, a `runIncremental` crawl batch onto the snapshot built during
  * set-up, and `AlignerCli.run` over the `>`/`<` file. The workloads
  * differ in corpus and batch shape.
  *
  * With `--trace 1` each cycle also runs the ER layers one at a time
  * (each output persisted and counted inside its own span) and the other
  * operations inside spans, and reports per-layer metrics instead. The
  * last stdout line is the result object; gate failures exit with 1. */
object Main {

  val Cfg: ErConfig = ErConfig(band = Gen.Band, tau = Gen.Tau)
  /** Aligner runs per cycle. */
  val AlignRepeats = 5
  val Layers: Seq[String] = Seq("corpus", "blocking", "pairing", "attach", "scoring",
    "clustering", "checkpoint", "ingest", "reader", "align")
  private val LayerGeneric: Seq[(String, String)] = Seq("wall_s" -> "s", "self_s" -> "s",
    "cpu_s" -> "s", "util" -> "ratio", "gc_s" -> "s", "shuffle_bytes" -> "bytes",
    "jobs" -> "count", "task_skew" -> "ratio")

  /** End-to-end metrics (name, unit), reported with `--trace 0`. */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "er_run_s" -> "s",
    "resume_s" -> "s", "ingest_s" -> "s", "align_pairs_per_s" -> "1/s", "pair_f1" -> "ratio",
    "ingest_accuracy" -> "ratio", "stored_bytes_per_input_byte" -> "ratio", "peak_rss_mb" -> "MB")

  /** Per-layer metrics (name, unit), reported with `--trace 1`. */
  val PerLayer: Seq[(String, String)] =
    (for (l <- Layers; (g, u) <- LayerGeneric) yield s"$l.$g" -> u) ++ Seq(
      "blocking.rows_dropped" -> "count", "pairing.pairs" -> "count",
      "pairing.useful_ratio" -> "ratio", "scoring.pairs_per_s" -> "1/s",
      "scoring.cells_per_pair" -> "count", "scoring.saturated_ratio" -> "ratio",
      "checkpoint.bytes_written" -> "bytes") ++
      ErRunner.Stages.map(s => s"checkpoint.$s.wall_s" -> "s") ++ Seq(
      "ingest.matched_ratio" -> "ratio", "ingest.rows_dropped" -> "count",
      "reader.mb_per_s" -> "MB/s", "align.pairs_per_s" -> "1/s", "align.cigar_bytes" -> "bytes",
      "trace.overhead_ratio" -> "ratio")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        workloads: String, dir: String, spans: Option[String])

  def parseArgs(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("workloads"), need("dir"), m.get("spans"))
  }

  def loadSpec(path: String, name: String): WorkloadSpec = {
    val root = new ObjectMapper().readTree(new File(path))
    val w = Option(root.get(name)).getOrElse(
      throw new IllegalArgumentException(s"unknown workload $name (have: " +
        root.fieldNames().asScala.mkString(", ") + ")"))
    def o(n: String): JsonNode = w.get(n)
    val c = o("corpus"); val b = o("batch")
    WorkloadSpec(
      CorpusParams(c.get("nGroups").asInt, c.get("maxGroup").asInt, c.get("groupSkew").asDouble,
        c.get("minLen").asInt, c.get("maxLen").asInt, c.get("nearMissEvery").asInt,
        c.get("keywordShare").asDouble),
      BatchParams(b.get("share").asDouble, b.get("nearMissShare").asDouble))
  }

  def session(cores: Int, dir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.expr.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def rmrf(p: String): Unit = {
    val path = Paths.get(p)
    if (Files.exists(path))
      Files.walk(path).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
  }

  def dirBytes(p: String): Long = {
    val path = Paths.get(p)
    if (!Files.exists(path)) 0L
    else Files.walk(path).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
  }

  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Highest percentile with at least ten samples beyond it (nearest rank),
    * or None when the sample is too small to support one. */
  def tailPercentile(xs: Seq[Double]): Option[(Int, Double)] = {
    val n = xs.size
    if (n < 11) None
    else {
      val q = math.floor(100.0 * (n - 10) / n).toInt
      val s = xs.sorted
      Some(q -> s(math.min(n - 1, math.ceil(q / 100.0 * n).toInt - 1)))
    }
  }

  def peakRssMb(): Double = {
    val f = new File("/proc/self/status")
    if (!f.exists()) Runtime.getRuntime.totalMemory() / 1e6
    else scala.io.Source.fromFile(f).getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(Double.NaN)
  }

  /** Gate bookkeeping: every operation and check is attempted once. */
  final class Ledger {
    var attempted = 0L
    var failed = 0L
    val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
    def check(name: String, ok: => Boolean): Boolean = {
      attempted += 1
      val err = try { if (ok) None else Some(name) } catch { case e: Exception => Some(s"$name: $e") }
      err.foreach { e => failed += 1; failures += e }
      err.isEmpty
    }
    /** Run an operation; an exception is a failure. */
    def op(name: String)(f: => Unit): Unit = check(name, { f; true })
  }

  // ------------------------------------------------------------------ gates

  def pairF1(pred: Map[Long, Long], truth: Map[Long, Long]): Double = {
    def pairs(n: Long) = n * (n - 1) / 2
    val ids = truth.keys.toSeq
    val tp = ids.groupBy(i => (pred.getOrElse(i, i), truth(i))).values.map(g => pairs(g.size)).sum
    val np = ids.groupBy(i => pred.getOrElse(i, i)).values.map(g => pairs(g.size)).sum
    val nt = ids.groupBy(truth).values.map(g => pairs(g.size)).sum
    if (nt == 0 && np == 0) 1.0
    else if (tp == 0) 0.0
    else { val p = tp.toDouble / np; val r = tp.toDouble / nt; 2 * p * r / (p + r) }
  }

  def entitiesOf(spark: SparkSession, dir: String): Map[Long, Long] =
    spark.read.parquet(s"$dir/entities").select("id", "entity").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** sha256 in the corpus checkpoint vs the generator's, per id. */
  def shaMismatches(corpus: DataFrame, in: Inputs): Long = {
    val got = corpus.select("id", "sha256").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    in.sha.count { case (id, s) => !got.get(id).contains(s) } + (got.size - in.sha.size).abs
  }

  /** Scored distances against the oracle on a seeded sample of pairs. */
  def scoredMismatches(scored: DataFrame, in: Inputs, seed: Long, n: Int = 200): Long = {
    val text = in.corpus.iterator.map(d => d.id -> d.content).toMap
    val rows = scored.select("id_a", "id_b", "distance", "saturated")
      .orderBy(xxhash64(col("id_a"), col("id_b"), lit(seed))).limit(n).collect()
    rows.count { r =>
      val o = Oracle.banded(text(r.getLong(0)), text(r.getLong(1)), Cfg.band)
      if (r.getBoolean(3)) o < Cfg.band else r.getInt(2) != o
    }.toLong
  }

  /** Every CIGAR replays and its X+I+D equals the distance; saturation and
    * distances agree with the oracle on a seeded sample. */
  def alignMismatches(rows: Array[org.apache.spark.sql.Row], in: Inputs, seed: Long): Long = {
    var bad = math.abs(rows.length - in.alignPairs.size).toLong
    val sample = new java.util.SplittableRandom(seed)
    rows.foreach { r =>
      val id = r.getLong(0).toInt
      val (p, t) = in.alignPairs(id)
      val dist = r.getInt(1)
      val sat = r.getBoolean(2)
      val ok =
        if (sat) r.isNullAt(3)
        else CigarOps.replay(p, t, r.getString(3)) && CigarOps.counts(r.getString(3)).edits == dist
      val oracleOk =
        if (sample.nextInt(100) != 0) true
        else { val o = Oracle.banded(p, t, Cfg.band); if (sat) o >= Cfg.band else o == dist }
      if (!ok || !oracleOk) bad += 1
    }
    bad
  }

  def ingestAccuracy(assigned: Map[Long, Long], snapshot: Map[Long, Long], in: Inputs): Double = {
    val hits = in.batch.count { d =>
      val want = in.batchOrigin.get(d.id).map(snapshot).getOrElse(d.id)
      assigned.get(d.id).contains(want)
    }
    hits.toDouble / in.batch.size
  }

  // ------------------------------------------------------------------- main

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val spec = loadSpec(a.workloads, a.workload)
    val cores = Runtime.getRuntime.availableProcessors()
    val dir = new File(a.dir).getAbsolutePath
    val inDir = s"$dir/inputs"
    val snapDir = s"$dir/snapshot"

    // ---- set-up: session start, input generation and a warm-up of each ER
    // operation: a full run (which also builds the snapshot that crawl
    // batches attach to), a resume of it and a crawl ingest onto it. The
    // generator overlaps the session start, and the aligner's warm-up
    // overlaps the ER warm-up, whose driver-bound jobs leave cores idle.
    val setupStart = System.nanoTime()
    def since(t: Long) = (System.nanoTime() - t) / 1e9
    val gen = Future(Gen.generate(spec, a.seed))
    val spark = session(cores, dir)
    val tSession = since(setupStart)
    val in = Await.result(gen, Duration.Inf)
    Gen.write(spark, in, inDir)
    val tInputs = since(setupStart)
    val alignWarm = Future(
      AlignerCli.run(spark, AlignerCli.Config(file = s"$inDir/pairs.seq", band = Cfg.band)).collect())
    val corpus = spark.read.parquet(s"$inDir/corpus")
    ErRunner.run(spark, snapDir, Cfg)(corpus)
    new StageRunner(spark, snapDir).invalidate("scored", "edges", "entities")
    ErRunner.run(spark, snapDir, Cfg)(corpus)
    ErRunner.runIncremental(spark, snapDir, "warm", Cfg)(spark.read.parquet(s"$inDir/batch"))
    Await.result(alignWarm, Duration.Inf)
    val setupS = since(setupStart)
    rmrf(s"$snapDir/ingest")

    // ---- closed loop: one client, a new cycle only after the last one
    // ended, and only while a cycle of the mean length still fits in the
    // window
    val led = new Ledger
    val cycles = new Cycles(spark, in, inDir, dir, snapDir, a.seed, led)
    val tracer = if (a.trace) Some(new Tracer(spark.sparkContext)) else None
    val t0 = System.nanoTime()
    def elapsed = since(t0)
    var n = 0
    while (n == 0 || elapsed * (n + 1) / n <= a.seconds) {
      tracer match {
        case Some(tr) => cycles.traced(tr, n)
        case None => cycles.plain(n)
      }
      n += 1
    }
    val window = elapsed
    val samples = cycles.samples
    // the quality gate holds on every cycle, not only on the median one
    led.check("pair_f1>=0.99", samples.getOrElse("pair_f1", Seq(0.0)).min >= 0.99)

    val values: Map[String, Double] = tracer match {
      case None =>
        reportLineage(spark, cycles.erDir)
        println(f"setup: session $tSession%.3f s, inputs ${tInputs - tSession}%.3f s, " +
          f"warm-up ${setupS - tInputs}%.3f s")
        Seq("er_run_s", "resume_s", "ingest_s", "align_pairs_per_s").foreach { k =>
          val xs = samples.getOrElse(k, Seq.empty[Double]).toSeq
          val tail = tailPercentile(xs).map { case (q, v) => f"p$q=$v%.4f" }
            .getOrElse(f"max=${if (xs.isEmpty) Double.NaN else xs.max}%.4f")
          println(f"$k: median=${median(xs)}%.4f $tail n=${xs.size} " +
            xs.map(v => f"$v%.3f").mkString("[", " ", "]"))
        }
        EndToEnd.map { case (k, _) => k -> median(samples.getOrElse(k, Seq(Double.NaN)).toSeq) }
          .toMap ++ Map("setup_s" -> setupS, "peak_rss_mb" -> peakRssMb())
      case Some(tr) =>
        tr.drain()
        tr.close()
        a.spans.foreach { p => new File(p).getParentFile.mkdirs(); tr.writeJsonLines(p) }
        layerValues(tr, cores, samples)
    }
    val out = (if (a.trace) PerLayer else EndToEnd).map { case (k, u) => (k, values(k), u) }
    out.foreach { case (k, v, u) => println(f"metric $k = $v%.6g $u") }
    println(f"cycles=$n window_s=$window%.2f cores=$cores attempted=${led.attempted} failed=${led.failed}")
    led.failures.foreach(f => System.err.println(s"FAILED $f"))
    spark.stop()

    val metrics = out.map { case (k, v, u) => s""""$k": {"value": ${jsonNum(v)}, "unit": "$u"}""" }
    println(s"""{"correct": ${led.failed == 0}, "attempted": ${led.attempted}, """ +
      s""""failed": ${led.failed}, "metrics": {${metrics.mkString(", ")}}}""")
    System.out.flush()
    if (led.failed > 0) sys.exit(1)
  }

  def jsonNum(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString

  /** Per-layer values: medians over cycles of each layer span's figures
    * and of the layer facts sampled in [[Cycles.traced]]. */
  def layerValues(tr: Tracer, cores: Int,
                  samples: collection.Map[String, mutable.ArrayBuffer[Double]]): Map[String, Double] = {
    val spans = tr.spans.toSeq
    val per = mutable.Map.empty[String, mutable.ArrayBuffer[Double]] ++ samples
    def add(k: String, v: Double): Unit = per.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    for (l <- Layers; s <- spans if s.name == l) {
      val c = tr.inclusive(s)
      add(s"$l.wall_s", s.seconds)
      add(s"$l.self_s", Span.selfSeconds(s, spans))
      add(s"$l.cpu_s", c.cpuNs / 1e9)
      add(s"$l.util", c.runMs / 1000.0 / math.max(s.seconds * cores, 1e-9))
      add(s"$l.gc_s", c.gcMs / 1000.0)
      add(s"$l.shuffle_bytes", c.shuffleBytes.toDouble)
      add(s"$l.jobs", c.jobs.toDouble)
      add(s"$l.task_skew", c.taskSkew)
    }
    // the checkpoint span wraps a whole ErRunner.run; its own cost is what
    // the run takes beyond the same layers computed in memory (the `er`
    // span of the same cycle)
    val er = spans.filter(_.name == "er")
    per("checkpoint.self_s") = er.zip(spans.filter(_.name == "checkpoint"))
      .map { case (e, c) => c.seconds - e.seconds }.to(mutable.ArrayBuffer)
    er.foreach(e => add("er.wall_s", e.seconds))
    def m(k: String): Double = median(per.getOrElse(k, Seq(Double.NaN)).toSeq)
    val derived = Map(
      "scoring.pairs_per_s" -> m("pairing.pairs") / m("scoring.wall_s"),
      "reader.mb_per_s" -> m("reader.bytes") / 1e6 / m("reader.wall_s"),
      "align.pairs_per_s" -> m("align.pairs") / m("align.wall_s"),
      "trace.overhead_ratio" -> m("er.wall_s") / m("untraced_er_run_s"))
    PerLayer.map { case (n, _) => n -> derived.getOrElse(n, m(n)) }.toMap
  }

  /** Print the program's own lineage tables of a checkpointed run: the
    * per-layer view of an untraced run. */
  def reportLineage(spark: SparkSession, erDir: String): Unit = {
    val lin = new StageRunner(spark, erDir)
    val rows = spark.read.parquet(ErRunner.Stages.map(s => s"$erDir/_lineage/$s"): _*)
      .collect().map(r => r.getAs[String]("stage") -> r).toMap
    val stages = ErRunner.Stages.map { s =>
      f"$s=${rows(s).getAs[Double]("wall_ms") / 1000}%.3fs/${rows(s).getAs[Long]("rows")}rows"
    }
    val sp = lin.readLineage("scored_partitions")
      .agg(count(lit(1)), sum("pair_count"), sum("cells_expanded"), sum("saturated_count")).head()
    val bp = lin.readLineage("blocking_policy").head()
    println(s"lineage: ${stages.mkString(" ")}")
    println(s"lineage: scored_partitions=${sp.getLong(0)} pairs=${sp.getLong(1)} " +
      s"cells=${sp.getLong(2)} saturated=${sp.getLong(3)} " +
      s"blocking_rows_dropped=${bp.getAs[Long]("n_rows_dropped")}")
  }
}
