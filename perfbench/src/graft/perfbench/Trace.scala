package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One timed interval. `parent` is -1 for a root span. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

object Span {
  /** Self time of `s`: its duration minus the part of it that the union of
    * its direct children covers (children may overlap each other). */
  def selfSeconds(s: Span, all: Seq[Span]): Double = {
    val kids = all.filter(_.parent == s.id)
      .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) covered += curB - curA
    (s.endNs - s.startNs - covered) / 1e9
  }
}

/** Task totals attributed to one span. */
final class SpanCounters {
  var jobs = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  /** stage id -> task durations (ms), for the skew of the heaviest stage */
  val stageTasks: mutable.Map[Int, mutable.ArrayBuffer[Long]] = mutable.Map.empty

  def add(o: SpanCounters): Unit = {
    jobs += o.jobs; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleBytes += o.shuffleBytes
    o.stageTasks.foreach { case (k, v) => stageTasks.getOrElseUpdate(k, mutable.ArrayBuffer.empty) ++= v }
  }

  /** Slowest task / median task of the stage with the most task time. */
  def taskSkew: Double = {
    val heavy = stageTasks.values.filter(_.nonEmpty).maxByOption(_.sum)
    heavy.map { ts =>
      val s = ts.sorted
      val med = math.max(s(s.size / 2), 1L)
      s.last.toDouble / med
    }.getOrElse(1.0)
  }
}

/** Spans kept in memory, with Spark jobs attributed to the innermost open
  * span through the job-group property; a listener sums task metrics per
  * span. Single driver thread: spans nest strictly. */
final class Tracer(sc: SparkContext) {
  /** The local property `SparkContext.setJobGroup` writes. */
  private val JobGroupKey = "spark.jobGroup.id"
  private val ids = new AtomicInteger(0)
  private val stack = mutable.Stack[(Int, String, Long)]()
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val counters = new ConcurrentHashMap[Int, SpanCounters]()
  private val jobsStarted = new AtomicInteger(0)
  private val jobsEnded = new AtomicInteger(0)

  private def counter(span: Int): SpanCounters = counters.computeIfAbsent(span, _ => new SpanCounters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobsStarted.incrementAndGet()
      val g = Option(e.properties).flatMap(p => Option(p.getProperty(JobGroupKey)))
      g.filter(_.startsWith("span-")).foreach { s =>
        val id = s.stripPrefix("span-").toInt
        e.stageIds.foreach(st => stageSpan.put(st, id))
        counter(id).synchronized { counter(id).jobs += 1 }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      if (e.taskMetrics != null && stageSpan.containsKey(e.stageId)) {
        val c = counter(stageSpan.get(e.stageId))
        val m = e.taskMetrics
        c.synchronized {
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          c.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
        }
      }
    }
  }
  sc.addSparkListener(listener)

  def span[A](name: String)(body: => A): A = {
    val id = ids.incrementAndGet()
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    stack.push((id, name, System.nanoTime()))
    sc.setJobGroup(s"span-$id", name)
    try body
    finally {
      val (_, _, t0) = stack.pop()
      spans += Span(id, name, parent, t0, System.nanoTime())
      stack.headOption match {
        case Some((p, pn, _)) => sc.setJobGroup(s"span-$p", pn)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Wait (bounded) until the listener bus has delivered every job's end. */
  def drain(timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var quiet = 0
    while (System.currentTimeMillis() < deadline && quiet < 3) {
      if (jobsStarted.get == jobsEnded.get) quiet += 1 else quiet = 0
      Thread.sleep(50)
    }
  }

  /** Totals of `s` and every span below it. */
  def inclusive(s: Span): SpanCounters = {
    val out = new SpanCounters
    def walk(id: Int): Unit = {
      Option(counters.get(id)).foreach(c => c.synchronized(out.add(c)))
      spans.filter(_.parent == id).foreach(k => walk(k.id))
    }
    walk(s.id)
    out
  }

  def close(): Unit = sc.removeSparkListener(listener)

  def writeJsonLines(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.sortBy(_.id).foreach { s =>
      w.println(s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${Span.selfSeconds(s, spans.toSeq)}}""")
    } finally w.close()
  }
}
