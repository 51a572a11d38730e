package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One timed interval around a layer call. Times are nanoseconds from
  * the tracer's origin; `parent` is the id of the enclosing span.
  */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, run: String) {
  def dur: Long = end - start
  def json(selfNs: Long): String =
    s"""{"id":$id,"name":${Json.str(name)},"start_ns":$start,"end_ns":$end,""" +
      s""""parent":${if (parent < 0) "null" else parent.toString},"run":${Json.str(run)},"self_ns":$selfNs}"""
}

/** Spans kept in memory, written out once at the end of a run. Spans
  * nest by call: a span opened inside another gets it as parent.
  */
final class Tracer(origin: Long = System.nanoTime()) {
  private val done = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 0
  var run: String = ""

  def span[A](name: String)(body: => A): A = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = System.nanoTime() - origin
    try body
    finally {
      stack = stack.tail
      done += Span(id, name, t0, System.nanoTime() - origin, parent, run)
    }
  }

  def spans: Seq[Span] = done.toSeq.sortBy(_.id)
}

object Tracer {
  /** Self time of every span: its duration minus the part of its
    * interval that its direct children cover (overlapping children
    * count once).
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + b - math.max(a, reach), b)
        }._1
      s.id -> (s.dur - covered)
    }.toMap
  }
}

/** Task time, bytes and jobs summed per Spark job group. The group is
  * whatever `setJobGroup` the driver thread set when the job started;
  * jobs without a group land under "". Events arrive on the listener
  * bus thread; every access is synchronized.
  */
final class GroupListener extends SparkListener {
  final class Acc {
    var jobs = 0L
    var taskMs = 0L
    var inputBytes = 0L
    var shuffleReadBytes = 0L
    var spillBytes = 0L
  }
  private val stageGroup = mutable.Map[Int, String]()
  private val stageJob = mutable.Map[Int, Int]()
  private val accs = mutable.Map[String, Acc]()
  /** job id → (start epoch ms, task ms), to attribute jobs to the
    * interval that holds their start.
    */
  private val jobTimes = mutable.Map[Int, Array[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    accs.getOrElseUpdate(g, new Acc).jobs += 1
    e.stageIds.foreach { s => stageGroup(s) = g; stageJob(s) = e.jobId }
    jobTimes(e.jobId) = Array(e.time, 0L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = accs.getOrElseUpdate(stageGroup.getOrElse(e.stageId, ""), new Acc)
      a.taskMs += m.executorRunTime
      a.inputBytes += m.inputMetrics.bytesRead
      a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      stageJob.get(e.stageId).flatMap(jobTimes.get).foreach(t => t(1) += m.executorRunTime)
    }
  }

  def group(g: String): Acc = synchronized(accs.getOrElse(g, new Acc))

  /** (start epoch ms, task ms) of every job. */
  def jobs: Seq[(Long, Long)] = synchronized(jobTimes.values.map(t => (t(0), t(1))).toSeq)

  def reset(): Unit = synchronized { accs.clear(); jobTimes.clear() }
}

object GroupListener {
  /** Wait until the listener bus has delivered every queued event, so
    * sums read afterwards include the jobs that just finished. The bus
    * is private to Spark; reflection reaches it.
    */
  def drain(spark: SparkSession): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case _: Throwable => Thread.sleep(200) }
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}
