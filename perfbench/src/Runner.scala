package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentLinkedQueue, ExecutionException, FutureTask, TimeUnit,
  TimeoutException}

import scala.collection.mutable

/** Operation accounting: every CLI call and every output check is one
  * attempted operation. A failed one records its exception class and
  * never yields a time. An operation that outlives its cap is stopped
  * and counted as failed, so a hang or an out-of-memory spiral cannot
  * stall the run.
  */
final class Ops(log: String => Unit) {
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer[String]()
  /** Set when an operation had to be abandoned: its thread may still
    * hold the session, so nothing more should run on it.
    */
  var broken = false

  private val uncaught = new ConcurrentLinkedQueue[String]()
  Thread.setDefaultUncaughtExceptionHandler((t: Thread, e: Throwable) => {
    uncaught.add(s"${e.getClass.getName} in thread ${t.getName}")
  })

  def fail(what: String, why: String): Unit = {
    failed += 1
    failures += s"$what: $why"
    log(s"FAILED $what: $why")
  }

  /** Run `body` with a wall-clock cap; Some(result, seconds) on success. */
  def timed[A](what: String, capSeconds: Double, onTimeout: () => Unit = () => ())(
      body: => A): Option[(A, Double)] = {
    attempted += 1
    uncaught.clear()
    val task = new FutureTask[(A, Double)](() => {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    })
    val th = new Thread(task, s"perfbench-$what")
    th.setDaemon(true)
    th.start()
    try Some(task.get((capSeconds * 1000).toLong, TimeUnit.MILLISECONDS))
    catch {
      case _: TimeoutException =>
        broken = true
        onTimeout()
        th.interrupt()
        val seen = Option(uncaught.peek()).map(u => s" after $u").getOrElse("")
        fail(what, s"java.util.concurrent.TimeoutException (cap ${capSeconds}s)$seen")
        None
      case e: ExecutionException =>
        val c = Option(e.getCause).getOrElse(e)
        fail(what, s"${c.getClass.getName}: ${String.valueOf(c.getMessage).take(300)}")
        None
    }
  }

  /** An output check: `problems` empty means it passed. */
  def check(what: String, capSeconds: Double)(problems: => Seq[String]): Boolean =
    timed(s"check:$what", capSeconds)(problems) match {
      case Some((Seq(), _)) => true
      case Some((ps, _)) =>
        ps.take(5).foreach(p => log(s"  $what: $p"))
        // the failure was counted as attempted by timed(); count it failed
        fail(s"check:$what", s"${ps.size} problem(s), first: ${ps.head}")
        false
      case None => false
    }
}

object Runner {
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
        val s = Files.list(p)
        try s.toArray.foreach(c => deleteRecursively(c.asInstanceOf[Path])) finally s.close()
      }
      Files.delete(p)
    }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Peak resident set of this process in MiB (VmHWM). */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

}
