package graft.tools

import graft.pipeline.{Corpus, Er, ErConfig}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Diagnostic main: per-substage wall times for the blocking/pairing path
  * (not part of the driver contract; kept for perf work). */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", (cpus.toInt * 4).toString))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[probe] $name%-22s ${(System.nanoTime() - t0) / 1e9}%8.2fs rows=$n")
    }
    val cfg = ErConfig()
    // round-1..5 direct self-join cap (the plan this probe rebuilds)
    val maxBlockSize = 16
    val genCfg = Corpus.GenConfig(nGroups = 50000, partitions = cpus.toInt * 2)
    val corpus = Corpus.withDerived(Corpus.generate(spark, genCfg).toDF())
      .persist(StorageLevel.MEMORY_AND_DISK)
    time("corpus_gen")(corpus.count())
    val blocks = Er.blocks(corpus, cfg).persist(StorageLevel.MEMORY_AND_DISK)
    time("blocks_minhash")(blocks.count())
    import org.apache.spark.sql.expressions.Window
    val keys = Seq("lang", "band", "bhash")
    val sized = blocks.withColumn("bsz",
      count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
    val kept = sized.filter(col("bsz") <= maxBlockSize).drop("bsz")
      .persist(StorageLevel.MEMORY_AND_DISK)
    time("window_cap")(kept.count())
    val a = kept.select(col("lang"), col("band"), col("bhash"),
      col("id").as("id_a"), col("len").as("len_a"))
    val b = kept.select(col("lang"), col("band"), col("bhash"),
      col("id").as("id_b"), col("len").as("len_b"))
    val rawJoin = a.join(b, keys)
      .where(col("id_a") < col("id_b") && abs(col("len_a") - col("len_b")) < 64)
    time("raw_join")(rawJoin.count())
    val pairs = rawJoin.select("id_a", "id_b").dropDuplicates("id_a", "id_b")
      .persist(StorageLevel.MEMORY_AND_DISK)
    time("dedup")(pairs.count())
    println(s"[probe] pairs partitions = ${pairs.rdd.getNumPartitions}")
    val withC = Er.withContents(pairs, corpus).persist(StorageLevel.MEMORY_AND_DISK)
    time("contents_join")(withC.count())
    val scored = Er.score(withC, cfg).persist(StorageLevel.MEMORY_AND_DISK)
    time("wfa_score")(scored.count())
    time("wfa_score_2nd")(Er.score(withC, cfg).count())
    // parquet-fed scorer (the checkpointed-pipeline path): parallel columnar
    // reads, no MemoryStore lock
    val dir = java.nio.file.Files.createTempDirectory("probe-pairs").toString
    Iterator.fill(8)(withC).reduce(_ unionAll _)
      .write.mode("overwrite").parquet(dir)
    val fromParquet = spark.read.parquet(dir)
    time("wfa_from_parquet_8x")(Er.score(fromParquet, cfg).count())
    time("wfa_from_parquet_8x_2")(Er.score(fromParquet, cfg).count())
    spark.stop()
  }
}
