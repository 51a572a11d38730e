package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.Cli

/** User-path benchmark: drives `graft.Cli.run` in process, one job at
  * a time (a closed loop with one client), on `local[N]` with N = the
  * machine's cores.
  *
  *   dump-full    dump create -i (masking, zlib + AES) → dump restore to parquet
  *   dump-subset  the same plus an FK subset seeded from lineitem at 10%
  *   dump-escapes dump-full over text that also holds backslashes
  *   corpus       corpus run over the shipped examples/corpus.yaml chain
  *
  * Untraced runs give the end-to-end metrics. A traced run calls the
  * same layers' public functions in the CLI's order, materializes each
  * boundary under a job group, and reports the per-layer split.
  * The last stdout line is one JSON object: correct, attempted, failed,
  * metrics.
  */
object PerfBench {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        root: Path, work: Path, cache: Path, sf: Double, capSeconds: Double)

  /** TPC-H scale factor of the dump workloads' input. */
  val Scale = 0.001

  /** Set-ups per run; setup_s is their median. */
  val Setups = 9

  /** Smallest number of measured iterations, whatever `--seconds` says;
    * a run's time metrics are medians over its iterations.
    */
  val MinIterations = 4

  def parse(argv: Seq[String]): Args = {
    val m = argv.grouped(2).collect { case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val root = Paths.get(m.getOrElse("root", ".")).toAbsolutePath.normalize
    val build = root.resolve(m.getOrElse("build", ".bench_build/perfbench"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload '$w' (known: ${Workloads.mkString(", ")})")
    Args(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1", root,
      build.resolve("work"), build.resolve("inputs"),
      Scale, m.getOrElse("cap", "120").toDouble)
  }

  val Workloads = Seq("dump-full", "dump-subset", "dump-escapes", "corpus")

  def log(s: String): Unit = { System.err.println(s"[perfbench] $s"); System.err.flush() }

  final case class Metric(name: String, value: Double, unit: String)

  final case class Result(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[Metric]) {
    def json: String = {
      val ms = metrics.map(m =>
        s"""${Json.str(m.name)}: {"value": ${Json.num(m.value)}, "unit": ${Json.str(m.unit)}}""")
      s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toSeq)
    Runner.deleteRecursively(a.work)
    Files.createDirectories(a.work.resolve("tmp"))
    val ops = new Ops(log)
    val result =
      try run(a, ops)
      catch {
        case e: Throwable =>
          ops.fail("benchmark", s"${e.getClass.getName}: ${e.getMessage}")
          e.printStackTrace()
          Result(correct = false, ops.attempted, ops.failed, Nil)
      }
    if (ops.failures.nonEmpty) log(s"failures: ${ops.failures.mkString("; ")}")
    if (a.trace) writeFile(traceDir(a).resolve(s"${a.workload}-seed${a.seed}.metrics.json"), result.json + "\n")
    println(result.json)
    System.out.flush()
    // halt, not exit: an abandoned operation's thread must not keep the
    // JVM alive, and the session is already stopped when it is usable
    Runtime.getRuntime.halt(if (result.correct) 0 else 1)
  }

  /** Set-up as every CLI invocation pays it: a SparkSession start and
    * its first job. Repeated [[Setups]] times, all but the last session
    * stopped; returns the live session and each set-up's seconds. The
    * first runs in a cold JVM.
    */
  def setup(a: Args): (SparkSession, Seq[Double]) = {
    val times = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (k <- 0 until Setups) {
      val t0 = System.nanoTime()
      spark = graft.GraftSession.builder().getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      spark.range(1000).selectExpr("sum(id)").collect()
      times += (System.nanoTime() - t0) / 1e9
      log(f"set-up $k: ${times.last}%.3f s")
      if (k < Setups - 1) spark.stop()
    }
    (spark, times.toSeq)
  }

  def run(a: Args, ops: Ops): Result = {
    log(s"workload=${a.workload} seed=${a.seed} seconds=${a.seconds} trace=${a.trace} " +
      s"cores=${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}")
    // inputs first: generated or taken from the cache, never timed
    val dump = if (!a.workload.startsWith("dump")) None
      else Some(Gen.cachedDump(a.cache, a.seed, a.sf, escapes = a.workload == "dump-escapes"))
    dump.foreach(d => log(f"input ${d.path} ${d.bytes / 1e6}%.1f MB ${d.sourceRows} rows sha256=${d.sha256.take(16)}"))
    val (spark, setups) = setup(a)
    val res = a.workload match {
      case "corpus" => CorpusBench.run(spark, a, ops, setups)
      case w => DumpBench.run(spark, a, ops, dump.get, setups, subset = w == "dump-subset")
    }
    if (!ops.broken) spark.stop()
    res
  }

  /** Traced runs leave their spans and per-layer metrics here. */
  def traceDir(a: Args): Path = Files.createDirectories(a.work.getParent.resolve("traces"))

  def writeSpans(a: Args, tracer: Tracer): Path = {
    val p = traceDir(a).resolve(s"${a.workload}-seed${a.seed}.spans.jsonl")
    val self = Tracer.selfTimes(tracer.spans)
    Files.write(p, tracer.spans.map(s => s.json(self(s.id))).mkString("", "\n", "\n").getBytes(UTF_8))
    log(s"spans: $p")
    p
  }

  /** Closed loop: run `iteration` until `seconds` have been measured
    * and at least [[MinIterations]] succeeded, or an operation failed.
    */
  def loop(a: Args, ops: Ops, seconds: Double, min: Int = MinIterations)(iteration: Int => Boolean): Int = {
    val t0 = System.nanoTime()
    var i = 0
    var ok = 0
    while (!ops.broken && ops.failed == 0 &&
      (ok < min || (System.nanoTime() - t0) / 1e9 < seconds)) {
      if (iteration(i)) ok += 1
      i += 1
    }
    ok
  }

  def writeFile(p: Path, s: String): String = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes(UTF_8))
    p.toString
  }

  /** Run a CLI command; a non-zero exit code is a failure. */
  def cli(spark: SparkSession, ops: Ops, a: Args, what: String, args: Seq[String],
          out: String => Unit = s => log(s"  cli: $s"),
          stdin: () => java.io.InputStream = () => new java.io.ByteArrayInputStream(Array.emptyByteArray))
      : Option[Double] =
    ops.timed(what, a.capSeconds, () => spark.sparkContext.cancelAllJobs()) {
      val in = stdin()
      try Cli.run(args, spark, out, in) finally in.close()
    } match {
      case Some((0, secs)) => Some(secs)
      case Some((code, _)) => ops.fail(what, s"exit code $code"); None
      case None => None
    }
}
