package graftbench

import java.util.concurrent.{Callable, ExecutorService, Executors, ThreadFactory, TimeUnit, TimeoutException}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/**
 * The closed-loop client. Every call into graft runs on one worker
 * thread under its own Spark job group, with a bounded wait: a call
 * that throws, times out or returns a wrong answer is counted as failed
 * with its reason and never as a timing.
 */
/** one attempted op that succeeded: its kind, job group, window, time
  * in ns, wall-clock bounds in ms and JVM GC time during it */
final case class OpRecord(
    kind: String, group: String, window: String, ns: Long,
    startMs: Long, endMs: Long, gcMs: Long)

final class Harness(val opTimeoutS: Int = 120) {
  val trace = new Trace
  val listener = new OpListener
  var spark: SparkSession = _

  /** set by the loop: ops of the measured windows record samples */
  var window: String = "setup"

  val records = mutable.ArrayBuffer.empty[OpRecord]
  val failures = mutable.ArrayBuffer.empty[(String, String)]
  var attempted = 0

  private val worker: ExecutorService = Executors.newSingleThreadExecutor(new ThreadFactory {
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, "graftbench-client")
      t.setDaemon(true)
      t
    }
  })
  private var opSeq = 0

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** the first line of a failure */
  private def reason(e: Throwable): String = {
    val msg = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"
    msg.linesIterator.nextOption().getOrElse(msg).take(300)
  }

  /**
   * Runs `body` bounded on the client thread, returning its result and
   * its time in ns, or the reason it failed. Not counted; see [[op]].
   */
  def bounded[A](kind: String)(body: => A): Either[String, (A, OpRecord)] = {
    opSeq += 1
    val group = s"$kind-$opSeq"
    val task = worker.submit(new Callable[(A, OpRecord)] {
      def call(): (A, OpRecord) = {
        if (spark != null) spark.sparkContext.setJobGroup(group, kind, interruptOnCancel = true)
        trace.request = group
        try {
          val g0 = gcMs()
          val m0 = System.currentTimeMillis()
          val t0 = System.nanoTime()
          val r = trace.span(kind)(body)
          val t1 = System.nanoTime()
          (r, OpRecord(kind, group, window, t1 - t0, m0, System.currentTimeMillis(), gcMs() - g0))
        } finally if (spark != null) spark.sparkContext.clearJobGroup()
      }
    })
    try Right(task.get(opTimeoutS.toLong, TimeUnit.SECONDS))
    catch {
      case _: TimeoutException =>
        if (spark != null) spark.sparkContext.cancelJobGroup(group)
        task.cancel(true)
        Left(s"timed out after $opTimeoutS s")
      case e: java.util.concurrent.ExecutionException => Left(reason(e.getCause))
    }
  }

  /**
   * One attempted operation. `verify` returns the first thing wrong
   * with the result; a correct result in a measured window records its
   * latency under `kind`.
   */
  def op[A](kind: String)(body: => A)(verify: A => Option[String]): Option[A] = {
    attempted += 1
    bounded(kind)(body) match {
      case Left(why) =>
        failures += ((kind, why)); None
      case Right((r, rec)) =>
        val bad = try verify(r) catch { case e: Exception => Some(s"verification failed: ${reason(e)}") }
        bad match {
          case Some(why) => failures += ((kind, why)); None
          case None => records += rec; Some(r)
        }
    }
  }

  /** setup steps must succeed: the run cannot go on without them */
  def must[A](kind: String)(body: => A): A = bounded(kind)(body) match {
    case Right((r, rec)) => records += rec; r
    case Left(why) => throw new IllegalStateException(s"$kind failed: $why")
  }

  /** runs `step` for `s` seconds, or until it has run `steps` times;
    * `step` gets the step number. Returns the number of steps run. */
  def loop(s: Int, steps: Int = Int.MaxValue)(step: Int => Unit): Int = {
    val end = System.nanoTime() + s * 1000000000L
    var i = 0
    while (System.nanoTime() < end && i < steps && failures.size < 20) { step(i); i += 1 }
    window = "after"
    i
  }

  /** (steal, total) CPU ticks of the host, where the kernel reports
    * them: a shared host that steals CPU slows every operation alike,
    * and the details file records how much it did during the window */
  def cpuTicks(): Option[(Long, Long)] = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val t = src.getLines().next().trim.split("\\s+").drop(1).take(8).map(_.toLong)
      (t(7), t.sum)
    } finally src.close()
  }.toOption

  def samplesMs(kind: String, win: String): Seq[Double] =
    records.iterator.filter(r => r.kind == kind && r.window == win).map(_.ns / 1e6).toSeq

  def shutdown(): Unit = {
    worker.shutdownNow()
    worker.awaitTermination(10, TimeUnit.SECONDS)
  }
}
