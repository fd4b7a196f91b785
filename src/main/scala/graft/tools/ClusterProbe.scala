package graft.tools

import graft.pipeline.{Corpus, Er, ErConfig}
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

/** Round-6 diagnostic: the Bench cluster stage (edges -> union-find
  * contraction CC -> entities) in isolation, warm best-of-2. Not part of
  * the contract query surface. */
object ClusterProbe {
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
    def time[A](f: => A): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val cfg = ErConfig()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    val corpus = Corpus.withDerived(Corpus.generate(spark,
        Corpus.GenConfig(nGroups = (nDocs * 10).toInt, partitions = cpus * 2)).toDF())
      .persist(StorageLevel.MEMORY_AND_DISK)
    corpus.count()
    val pairsIn = Er.withContents(
        Er.candidatePairs(Er.blocks(corpus, cfg), cfg), corpus)
      .repartition(cpus * 2).persist(StorageLevel.MEMORY_AND_DISK)
    pairsIn.count()
    val scored = Er.score(pairsIn, cfg).persist(StorageLevel.MEMORY_AND_DISK)
    println(s"[clusterprobe] scored=${scored.count()}")
    val edges = Er.edges(scored, cfg)
    println(s"[clusterprobe] edges=${edges.count()}")
    for (r <- 1 to 3) {
      val t = time(Er.entities(corpus, Er.connectedComponents(edges)).count())
      println(f"[clusterprobe] cluster rep$r $t%.2fs")
    }
    spark.stop()
  }
}
