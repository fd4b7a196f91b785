package graft.perfbench

import graft.AlignerCli
import graft.io.StageRunner
import graft.pipeline.{Corpus, Er, ErRunner}
import graft.sources.SequenceFile
import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

/** The operations of one closed-loop cycle over a workload's inputs in
  * `inDir`, with their checks. Samples accumulate per metric name; the
  * run reports their medians. Directories are deleted outside the timed
  * calls. */
final class Cycles(spark: SparkSession, in: Inputs, inDir: String, dir: String,
                   snapDir: String, seed: Long, led: Main.Ledger) {
  import Main.{Cfg, time, rmrf, dirBytes, entitiesOf}

  val samples: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] = mutable.LinkedHashMap.empty
  private def sample(k: String, v: Double): Unit =
    samples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v

  private val seqPath = s"$inDir/pairs.seq"
  private def corpus = spark.read.parquet(s"$inDir/corpus")
  private def batch = spark.read.parquet(s"$inDir/batch")
  private def align() = AlignerCli.run(spark, AlignerCli.Config(file = seqPath, band = Cfg.band)).collect()
  private lazy val snapEntities = entitiesOf(spark, snapDir)
  /** Checkpoint directory of the latest cycle; each cycle has its own, so
    * no frame a previous cycle cached over these paths can serve it. */
  var erDir = s"$dir/er-0"
  private def freshErDir(i: Int): Unit = {
    rmrf(erDir)
    erDir = s"$dir/er-$i"
    rmrf(erDir)
  }
  /** Drops every cached frame, outside the timed calls, so each timed
    * operation starts from the same empty cache. */
  private def uncache(): Unit = spark.catalog.clearCache()

  /** Untraced cycle: the end-to-end operations. */
  def plain(i: Int): Unit = {
    freshErDir(i)
    uncache()
    led.op("er_run")(sample("er_run_s", time(ErRunner.run(spark, erDir, Cfg)(corpus))._2))
    val full = entitiesOf(spark, erDir)
    sample("pair_f1", Main.pairF1(full, in.truthLabel))
    sample("stored_bytes_per_input_byte", dirBytes(erDir).toDouble / in.contentBytes)
    if (i == 0) {
      led.check("sha256", Main.shaMismatches(spark.read.parquet(s"$erDir/corpus"), in) == 0)
      led.check("scored_oracle", Main.scoredMismatches(spark.read.parquet(s"$erDir/scored"), in, seed) == 0)
    }

    new StageRunner(spark, erDir).invalidate("scored", "edges", "entities")
    uncache()
    led.op("resume") {
      val (r, t) = time(ErRunner.run(spark, erDir, Cfg)(corpus))
      sample("resume_s", t)
      require(r.computed == Seq("scored", "edges", "entities"), s"resume recomputed ${r.computed}")
    }
    led.check("resume_equal", entitiesOf(spark, erDir) == full)

    val tag = s"c$i"
    uncache()
    led.op("ingest")(sample("ingest_s",
      time(ErRunner.runIncremental(spark, snapDir, tag, Cfg)(batch))._2))
    val assigned = spark.read.parquet(s"$snapDir/ingest/$tag/assigned").select("id", "entity")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    sample("ingest_accuracy", Main.ingestAccuracy(assigned, snapEntities, in))
    rmrf(s"$snapDir/ingest/$tag")

    // the aligner is the shortest operation, so it runs several times per
    // cycle; the median also drops the first run after the ER operations,
    // which is slower while the JIT re-settles on the CIGAR kernel
    for (rep <- 0 until Main.AlignRepeats) led.op("align") {
      val (rows, t) = time(align())
      sample("align_pairs_per_s", rows.length / t)
      led.check("align_cigar", Main.alignMismatches(rows, in, seed + i * Main.AlignRepeats + rep) == 0)
    }
  }

  /** Traced cycle: an untraced `ErRunner.run` as the overhead baseline,
    * then the ER layers one at a time (each output persisted and counted
    * inside its own span, all under one `er` span), the same
    * `ErRunner.run` traced (checkpoint layer), a crawl ingest, and the
    * aligner with its reader in a span of its own. Layer facts are read
    * outside the spans, and the cache is emptied before each operation
    * that reads a checkpoint. */
  def traced(tr: Tracer, i: Int): Unit = {
    val frames = mutable.ArrayBuffer.empty[DataFrame]
    def force(df: DataFrame): (DataFrame, Long) = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      frames += p
      (p, p.count())
    }
    val baseDir = s"$dir/er-base-$i"
    freshErDir(i)
    uncache()
    led.op("er_run")(sample("untraced_er_run_s",
      time(ErRunner.run(spark, baseDir, Cfg)(corpus))._2))
    rmrf(baseDir)
    uncache()

    led.op("traced_cycle")(tr.span("cycle") {
      val (cp, blocks, scored, ents, nPairs, nEdges) = tr.span("er") {
        val (cp, _) = tr.span("corpus")(force(Corpus.withDerived(corpus)))
        val (blocks, _) = tr.span("blocking")(force(Er.blocks(cp, Cfg)))
        val (pairs, np) = tr.span("pairing")(force(Er.candidatePairs(blocks, Cfg)))
        val (att, _) = tr.span("attach")(force(Er.withContents(pairs, cp)))
        val (scored, _) = tr.span("scoring")(force(Er.score(att, Cfg)))
        val (ents, ne) = tr.span("clustering") {
          val (edges, ne) = force(Er.edges(scored, Cfg))
          (force(Er.entities(cp, Er.connectedComponents(edges)))._1, ne)
        }
        (cp, blocks, scored, ents, np, ne)
      }
      sample("blocking.rows_dropped",
        Er.blockingLineage(blocks, Cfg).head().getAs[Long]("n_rows_dropped").toDouble)
      val sr = Er.scoreLineage(scored)
        .agg(sum("pair_count"), sum("cells_expanded"), sum("saturated_count")).head()
      sample("scoring.cells_per_pair", sr.getLong(1).toDouble / math.max(sr.getLong(0), 1L))
      sample("scoring.saturated_ratio", sr.getLong(2).toDouble / math.max(sr.getLong(0), 1L))
      sample("pairing.pairs", nPairs.toDouble)
      sample("pairing.useful_ratio", nEdges.toDouble / math.max(nPairs, 1L))
      sample("pair_f1", Main.pairF1(
        ents.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, in.truthLabel))
      if (i == 0) {
        led.check("sha256", Main.shaMismatches(cp, in) == 0)
        led.check("scored_oracle", Main.scoredMismatches(scored, in, seed) == 0)
      }
      frames.foreach(_.unpersist(blocking = true))
      frames.clear()
      uncache()

      tr.span("checkpoint")(ErRunner.run(spark, erDir, Cfg)(corpus))
      sample("checkpoint.bytes_written", dirBytes(erDir).toDouble)
      val lin = new StageRunner(spark, erDir)
      ErRunner.Stages.foreach { s =>
        sample(s"checkpoint.$s.wall_s", lin.readLineage(s).head().getAs[Double]("wall_ms") / 1000)
      }

      val tag = s"t$i"
      uncache()
      val ir = tr.span("ingest")(ErRunner.runIncremental(spark, snapDir, tag, Cfg)(batch))
      val asg = spark.read.parquet(s"$snapDir/ingest/$tag/assigned").collect()
      sample("ingest.matched_ratio",
        asg.count(_.getAs[Long]("n_matches") > 0).toDouble / math.max(asg.length, 1))
      sample("ingest.rows_dropped",
        ir.readLineage("ingest_dropped").head().getAs[Long]("n_rows_dropped").toDouble)
      sample("ingest_accuracy", Main.ingestAccuracy(
        asg.map(r => r.getAs[Long]("id") -> r.getAs[Long]("entity")).toMap, snapEntities, in))
      rmrf(s"$snapDir/ingest/$tag")

      val rows = tr.span("align_job") {
        // AlignerCli.run reads the same plan, so the align span times the
        // kernel stage over the reader's cached output
        val (_, nRead) = tr.span("reader")(force(SequenceFile.read(spark, seqPath)))
        require(nRead == in.alignPairs.size, s"reader saw $nRead pairs")
        tr.span("align")(align())
      }
      sample("reader.bytes", new File(seqPath).length().toDouble)
      sample("align.pairs", rows.length.toDouble)
      sample("align.cigar_bytes",
        rows.iterator.map(r => if (r.isNullAt(3)) 0L else r.getString(3).length.toLong).sum.toDouble)
      led.check("align_cigar", Main.alignMismatches(rows, in, seed + i) == 0)
    })
    frames.foreach(_.unpersist())
  }
}
