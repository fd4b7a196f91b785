package graft.tools

import graft.pipeline.{Corpus, Er, ErConfig}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Round-6 diagnostic: per-substage wall times INSIDE Er.candidatePairs
  * (blocks pre-persisted and excluded), under graft.Bench's session conf.
  * Not driver contract. */
object PairStageProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir",
        if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft-spark"
        else System.getProperty("java.io.tmpdir"))
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
      .config("spark.sql.extensions", "graft.expr.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time(name: String)(f: => Long): Unit = {
      // warm best-of-2 (first run may pay codegen compile)
      val r1 = { val t0 = System.nanoTime(); val n = f; ((System.nanoTime() - t0) / 1e9, n) }
      val r2 = { val t0 = System.nanoTime(); val n = f; ((System.nanoTime() - t0) / 1e9, n) }
      println(f"[pairprobe] $name%-28s ${math.min(r1._1, r2._1)}%8.2fs (r1=${r1._1}%.2f r2=${r2._1}%.2f) rows=${r2._2}")
    }
    val cfg = ErConfig()
    // the round-1..5 two-path plan's knobs: direct self-join cap and
    // salted triangle fan-out
    val maxBlockSize = 16
    val saltBuckets = 4
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    val corpus = Corpus.withDerived(Corpus.generate(spark,
        Corpus.GenConfig(nGroups = (nDocs * 10).toInt, partitions = cpus * 2)).toDF())
      .persist(StorageLevel.MEMORY_AND_DISK)
    time("corpus_gen")(corpus.count())
    val cached = Er.blocks(corpus, cfg).persist(StorageLevel.MEMORY_AND_DISK)
    time("blocks_minhash")(cached.count())

    val keys = Seq("lang", "band", "bhash")
    val sizes = cached.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("bsz"))
      .where(col("bsz") >= 2)
    time("sizes_groupby")(sizes.count())
    val sized = cached.join(sizes, keys)
    time("sized_join")(sized.count())

    def pairsOf(df: DataFrame, joinKeys: Seq[String]): DataFrame = {
      val a = df.select((joinKeys.map(col) :+
        col("id").as("id_a") :+ col("len").as("len_a")): _*)
      val b = df.select((joinKeys.map(col) :+
        col("id").as("id_b") :+ col("len").as("len_b")): _*)
      a.join(b, joinKeys)
        .where(col("id_a") < col("id_b") &&
          abs(col("len_a") - col("len_b")) < lit(cfg.band))
        .select("id_a", "id_b")
    }
    val small = pairsOf(sized.filter(col("bsz") <= maxBlockSize).drop("bsz"), keys)
    time("small_selfjoin")(small.count())

    val k = saltBuckets
    val mid = sized.filter(
      col("bsz") > maxBlockSize && col("bsz") <= cfg.saltedMaxBlockSize)
      .drop("bsz")
      .withColumn("salt", pmod(xxhash64(col("id")), lit(k)).cast("int"))
    val midA = mid
      .withColumn("j", explode(sequence(col("salt"), lit(k - 1))))
      .select(col("lang"), col("band"), col("bhash"),
        col("salt").as("i"), col("j"),
        col("id").as("id_a"), col("len").as("len_a"))
    val midB = mid
      .withColumn("i", explode(sequence(lit(0), col("salt"))))
      .select(col("lang"), col("band"), col("bhash"),
        col("i"), col("salt").as("j"),
        col("id").as("id_b"), col("len").as("len_b"))
    val midPairs = midA.join(midB, keys ++ Seq("i", "j"))
      .where(col("id_a") =!= col("id_b") &&
        abs(col("len_a") - col("len_b")) < lit(cfg.band))
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
    time("mid_triangle_join")(midPairs.count())

    val deduped = small.unionAll(midPairs).dropDuplicates("id_a", "id_b")
    time("union_dedup")(deduped.count())

    time("full_candidatePairs")(Er.candidatePairs(cached, cfg).count())
    time("full_withContents")(
      Er.withContents(Er.candidatePairs(cached, cfg), corpus).count())
    // the EXACT Bench pairsIn statement (Bench.scala:102-106) one-shot,
    // including the frozen repartition + MEMORY_AND_DISK persist
    locally {
      val t0 = System.nanoTime()
      val pairsIn = Er.withContents(
          Er.candidatePairs(Er.blocks(corpus, cfg), cfg), corpus)
        .repartition(cpus * 2)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val n = pairsIn.count()
      println(f"[pairprobe] bench_pairsIn_oneshot ${(System.nanoTime() - t0) / 1e9}%8.2fs rows=$n")
      pairsIn.unpersist()
    }
    spark.stop()
  }
}
