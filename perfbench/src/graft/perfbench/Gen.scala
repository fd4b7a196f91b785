package graft.perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.SplittableRandom
import org.apache.spark.sql.{SaveMode, SparkSession}
import scala.collection.mutable.ArrayBuffer

/** One corpus or batch document (the program's input schema). */
final case class Doc(id: Long, repo: String, path: String, commit: String,
                     lang: String, content: String)

/** Corpus shape: planted groups of a base document plus mutated copies. */
final case class CorpusParams(
    nGroups: Int,
    maxGroup: Int,        // members per group (base + copies), <= Gen.IdStride
    groupSkew: Double,    // size = 1 + floor(maxGroup * u^groupSkew)
    minLen: Int,
    maxLen: Int,
    nearMissEvery: Int,   // every Nth group's last member is a near miss
    keywordShare: Double) // share of keyword tokens (the rest are identifiers)

/** Crawl batch relative to the corpus: a `share` of its size, of which
  * [[Gen.BatchDupShare]] are near-duplicates of corpus documents,
  * `nearMissShare` are near-misses (far beyond tau) and the rest novel. */
final case class BatchParams(share: Double, nearMissShare: Double)

final case class WorkloadSpec(corpus: CorpusParams, batch: BatchParams)

/** Generated inputs plus the ground truth the gates compare against. */
final case class Inputs(
    corpus: IndexedSeq[Doc],
    truthLabel: Map[Long, Long],      // corpus id -> oracle component id
    sha: Map[Long, String],           // corpus id -> sha256(content)
    batch: IndexedSeq[Doc],
    batchOrigin: Map[Long, Long],     // batch id -> corpus id it should join, absent = novel
    alignPairs: IndexedSeq[(String, String)],
    contentBytes: Long)

/** Banded unit-cost edit distance: exact when below `band`, else `band`.
  * Plain dynamic programming over diagonals |i - j| <= band, written
  * independently of the program's kernels so it can judge them. */
object Oracle {
  def banded(a: Array[Byte], b: Array[Byte], band: Int): Int = {
    val n = a.length
    val m = b.length
    if (math.abs(n - m) >= band) return band
    val inf = band
    val w = 2 * band + 1
    // row i holds D[i][j] for j = i - band + t, t in [0, w)
    var prev = Array.fill(w)(inf)
    var cur = Array.fill(w)(inf)
    var t = 0
    while (t < w) { val j = t - band; if (j >= 0 && j <= m) prev(t) = math.min(j, inf); t += 1 }
    var i = 1
    while (i <= n) {
      var rowMin = inf
      t = 0
      while (t < w) {
        val j = i - band + t
        var v = inf
        if (j >= 0 && j <= m) {
          if (j == 0) v = math.min(i, inf)
          else {
            // D[i-1][j-1] sits at the same t in prev; D[i-1][j] at t+1; D[i][j-1] at t-1
            val sub = prev(t) + (if (a(i - 1) == b(j - 1)) 0 else 1)
            val del = if (t + 1 < w) prev(t + 1) + 1 else inf
            val ins = if (t > 0) cur(t - 1) + 1 else inf
            v = math.min(math.min(sub, del), math.min(ins, inf))
          }
        }
        cur(t) = v
        if (v < rowMin) rowMin = v
        t += 1
      }
      if (rowMin >= band) return band
      val tmp = prev; prev = cur; cur = tmp
      i += 1
    }
    math.min(prev(m - n + band), band)
  }

  def banded(a: String, b: String, band: Int): Int =
    banded(a.getBytes(UTF_8), b.getBytes(UTF_8), band)
}

/** Seeded input generator. Everything derives from (workload, seed): the
  * same pair always yields byte-identical files. */
object Gen {
  val Langs: Array[String] = Array("scala", "java", "py", "c", "go")
  private val Keywords: Array[String] = Array(
    "def", "val", "var", "class", "object", "return", "if", "else", "for",
    "while", "match", "case", "import", "package", "new", "null", "true",
    "false", "int", "long", "string", "map", "filter", "fold", "reduce",
    "spark", "dataset", "column", "index", "buffer", "stream", "write",
    "read", "hash", "join", "group", "sort", "merge", "block", "batch")
  /** Member ids are group * IdStride + member. */
  val IdStride = 16L
  /** Batch ids start here, disjoint from corpus ids. */
  val BatchIdBase = 1L << 40
  val Tau = 63
  val Band = 64
  /** Copies carry 1..DupEdits random edits; near misses carry NearMissEdits. */
  val DupEdits = 12
  val NearMissEdits = 160
  val BatchDupShare = 0.5

  /** The ACGT `>`/`<` file, the same shape in every workload: AlignPairs
    * pairs of AlignMinLen..AlignMaxLen bp with an error rate uniform in
    * [AlignErrMin, AlignErrMax]; an AlignSatShare of pairs gets AlignSatErr
    * instead, which pushes long reads past the band. */
  val AlignPairs = 10000
  val AlignMinLen = 100
  val AlignMaxLen = 1000
  val AlignErrMin = 0.01
  val AlignErrMax = 0.06
  val AlignSatShare = 0.03
  val AlignSatErr = 0.12

  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  private def content(r: SplittableRandom, minLen: Int, maxLen: Int, kw: Double): String = {
    val target = minLen + r.nextInt(maxLen - minLen + 1)
    val sb = new java.lang.StringBuilder(target + 16)
    while (sb.length < target) {
      if (r.nextDouble() < kw) sb.append(Keywords(r.nextInt(Keywords.length)))
      else sb.append("id").append(r.nextInt(20000))
      sb.append(if (r.nextInt(8) == 0) '\n' else ' ')
    }
    sb.toString
  }

  /** Exactly `k` random single-character edits over `alphabet`. */
  def mutate(base: String, k: Int, r: SplittableRandom,
             alphabet: String = "abcdefghijklmnopqrstuvwxyz"): String = {
    val sb = new java.lang.StringBuilder(base)
    var i = 0
    while (i < k && sb.length > 0) {
      val c = alphabet.charAt(r.nextInt(alphabet.length))
      r.nextInt(3) match {
        case 0 => sb.setCharAt(r.nextInt(sb.length), c)
        case 1 => sb.insert(r.nextInt(sb.length + 1), c)
        case _ => sb.deleteCharAt(r.nextInt(sb.length))
      }
      i += 1
    }
    sb.toString
  }

  private def doc(id: Long, g: Long, lang: String, repo: String, text: String) =
    Doc(id, repo, s"dir${g % 37}/sub${g % 11}/file_$id.$lang",
      f"${mix(id, 31L)}%016x", lang, text)

  /** Connected components of the exact d <= tau graph inside one group. */
  private def oracleComponents(ids: IndexedSeq[Long], texts: IndexedSeq[Array[Byte]]): Map[Long, Long] = {
    val parent = ids.indices.toArray
    def find(x: Int): Int = { var y = x; while (parent(y) != y) y = parent(y); y }
    // pairs already joined through earlier matches need no distance
    for (i <- ids.indices; j <- i + 1 until ids.size) {
      val (a, b) = (find(i), find(j))
      if (a != b && Oracle.banded(texts(i), texts(j), Band) <= Tau)
        parent(math.max(a, b)) = math.min(a, b)
    }
    ids.indices.map(i => ids(i) -> ids(find(i))).toMap
  }

  private def group(cp: CorpusParams, seed: Long, g: Int): (IndexedSeq[Doc], Map[Long, Long]) = {
    val r = new SplittableRandom(mix(seed, g))
    val lang = Langs(r.nextInt(Langs.length))
    val repo = if (r.nextDouble() < 0.3) "repo_mega" else s"repo_${r.nextInt(100)}"
    val base = content(r, cp.minLen, cp.maxLen, cp.keywordShare)
    val size = 1 + math.min(cp.maxGroup - 1,
      (cp.maxGroup * math.pow(r.nextDouble(), cp.groupSkew)).toInt)
    val texts = (0 until size).map { m =>
      if (m == 0) base
      else if (cp.nearMissEvery > 0 && g % cp.nearMissEvery == 0 && m == size - 1)
        mutate(base, NearMissEdits, r)
      else mutate(base, 1 + r.nextInt(DupEdits), r)
    }
    val ids = texts.indices.map(m => g * IdStride + m)
    (texts.indices.map(m => doc(ids(m), g, lang, repo, texts(m))),
      oracleComponents(ids, texts.map(_.getBytes(UTF_8))))
  }

  def generate(spec: WorkloadSpec, seed: Long): Inputs = {
    val cp = spec.corpus
    require(cp.maxGroup <= IdStride, s"maxGroup ${cp.maxGroup} exceeds the id stride $IdStride")
    // groups are independent, so they are generated in parallel; each has
    // its own random stream, which keeps the output independent of threads
    val groups = new Array[(IndexedSeq[Doc], Map[Long, Long])](cp.nGroups)
    java.util.Arrays.parallelSetAll[(IndexedSeq[Doc], Map[Long, Long])](groups,
      new java.util.function.IntFunction[(IndexedSeq[Doc], Map[Long, Long])] {
        def apply(g: Int) = group(cp, seed, g)
      })
    val corpus = groups.iterator.flatMap(_._1).toIndexedSeq
    val label = groups.iterator.flatMap(_._2).toMap

    // the batch draws originals from the corpus with its own stream
    val bp = spec.batch
    val br = new SplittableRandom(mix(seed, -1L))
    val nBatch = math.max(1, (corpus.size * bp.share).toInt)
    val batch = ArrayBuffer.empty[Doc]
    val origin = Map.newBuilder[Long, Long]
    for (i <- 0 until nBatch) {
      val id = BatchIdBase + i
      val u = br.nextDouble()
      if (u < BatchDupShare + bp.nearMissShare) {
        val o = corpus(br.nextInt(corpus.size))
        val near = u < BatchDupShare
        val text = mutate(o.content, if (near) 1 + br.nextInt(DupEdits) else NearMissEdits, br)
        batch += doc(id, i, o.lang, o.repo, text)
        if (near) origin += id -> o.id
      } else {
        batch += doc(id, i, Langs(br.nextInt(Langs.length)), "repo_crawl",
          content(br, cp.minLen, cp.maxLen, cp.keywordShare))
      }
    }

    val ar = new SplittableRandom(mix(seed, -2L))
    val bases = "ACGT"
    val pairs = (0 until AlignPairs).map { _ =>
      val len = AlignMinLen + ar.nextInt(AlignMaxLen - AlignMinLen + 1)
      val sb = new java.lang.StringBuilder(len)
      var j = 0
      while (j < len) { sb.append(bases.charAt(ar.nextInt(4))); j += 1 }
      val p = sb.toString
      val err = if (ar.nextDouble() < AlignSatShare) AlignSatErr
                else AlignErrMin + (AlignErrMax - AlignErrMin) * ar.nextDouble()
      (p, mutate(p, math.max(1, math.round(err * len).toInt), ar, bases))
    }

    Inputs(corpus, label,
      corpus.map(d => d.id -> sha256(d.content)).toMap,
      batch.toIndexedSeq, origin.result(), pairs,
      corpus.iterator.map(_.content.getBytes(UTF_8).length.toLong).sum)
  }

  /** Files per Parquet input: fixed, so the bytes do not depend on the machine. */
  val InputFileParts = 4

  /** Files written for the program (it only ever reads these):
    * corpus/ and batch/ (Parquet), pairs.seq (`>pattern` /
    * `<text` lines) and the ground truth in truth/corpus.tsv and
    * truth/batch.tsv. */
  def write(spark: SparkSession, in: Inputs, dir: String): Unit = {
    import spark.implicits._
    def parquet(docs: IndexedSeq[Doc], name: String): Unit =
      spark.createDataset(spark.sparkContext.parallelize(docs, InputFileParts)).toDF()
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/$name")
    parquet(in.corpus, "corpus")
    parquet(in.batch, "batch")
    lines(s"$dir/pairs.seq", in.alignPairs.iterator.flatMap { case (p, t) => Iterator(s">$p", s"<$t") })
    new File(s"$dir/truth").mkdirs()
    lines(s"$dir/truth/corpus.tsv", in.corpus.iterator.map(d =>
      s"${d.id}\t${in.truthLabel(d.id)}\t${in.sha(d.id)}"))
    lines(s"$dir/truth/batch.tsv", in.batch.iterator.map(d =>
      s"${d.id}\t${in.batchOrigin.getOrElse(d.id, -1L)}"))
  }

  private def lines(path: String, it: Iterator[String]): Unit = {
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(path), UTF_8), 1 << 20)
    try it.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }
}
