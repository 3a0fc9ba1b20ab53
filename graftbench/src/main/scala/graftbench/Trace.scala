package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._

final case class Span(id: Int, parent: Int, name: String, request: String, start: Long, end: Long) {
  def durNs: Long = end - start
}

/**
 * Spans recorded around the benchmark's calls into graft. A span has a
 * name, start, end, parent and the request it belongs to; spans stay in
 * memory and are written out when the run ends. Recording is off until
 * [[enabled]] is set, so an untraced run pays one volatile read per
 * call boundary.
 */
final class Trace {
  @volatile var enabled = false

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 1
  @volatile var request = "-"

  /** spans are opened only from the client thread the op runs on */
  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = synchronized { val i = nextId; nextId += 1; i }
      val parent = synchronized(stack.headOption.getOrElse(0))
      synchronized(stack.push(id))
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        synchronized {
          stack.pop()
          spans += Span(id, parent, name, request, t0, t1)
        }
      }
    }

  def all: Seq[Span] = synchronized(spans.toList)

  /** self time of every span: its duration minus the part of its
    * interval that its children cover */
  def selfNs: Map[Int, Long] = Trace.selfTimes(all.map(s => (s.id, s.parent, s.start, s.end)))

  def toJson: String = {
    val self = selfNs
    all.map { s =>
      Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "request" -> s.request,
        "start_ns" -> s.start, "end_ns" -> s.end, "self_ns" -> self(s.id))
    }.mkString("[", ",\n", "]")
  }
}

object Trace {
  /** length of the union of intervals, each clipped to [lo, hi] */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** (id, parent, start, end) spans -> self time per id */
  def selfTimes(spans: Seq[(Int, Int, Long, Long)]): Map[Int, Long] = {
    val children = spans.groupBy(_._2)
    spans.map { case (id, _, a, b) =>
      val kids = children.getOrElse(id, Nil).map(k => (k._3, k._4))
      id -> ((b - a) - unionLength(kids, a, b))
    }.toMap
  }
}

/**
 * Per-request Spark runtime counters. Every op of the benchmark runs
 * under its own job group, so each job, stage and task maps back to the
 * request that caused it.
 */
final class OpListener extends SparkListener {
  final class Agg {
    val jobs = mutable.Map.empty[Int, (Long, Long)] // job id -> (start ms, end ms)
    var stages = 0
    var tasks = 0
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var schedDelayMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
  }
  private val byGroup = mutable.Map.empty[String, Agg]
  private val jobGroup = mutable.Map.empty[Int, String]
  private val stageGroup = mutable.Map.empty[Int, String]

  private def groupOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  private def agg(g: String): Agg = byGroup.getOrElseUpdate(g, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    groupOf(e.properties).foreach { g =>
      jobGroup(e.jobId) = g
      agg(g).jobs(e.jobId) = (e.time, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach { g =>
      val a = agg(g)
      a.jobs.get(e.jobId).foreach { case (s, _) => a.jobs(e.jobId) = (s, e.time) }
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    groupOf(e.properties).foreach { g =>
      stageGroup(e.stageInfo.stageId) = g
      agg(g).stages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val a = agg(g)
      a.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        val i = e.taskInfo
        if (i != null && i.finishTime > 0) {
          val fetchMs = if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
          a.schedDelayMs += math.max(0L, (i.finishTime - i.launchTime) - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - fetchMs)
        }
      }
    }
  }

  def get(group: String): Option[Agg] = synchronized(byGroup.get(group))
}
