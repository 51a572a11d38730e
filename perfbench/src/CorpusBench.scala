package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import PerfBench.{Args, Metric, Result, log}

/** `corpus run` over the shipped examples/corpus.yaml chain, with only
  * its input, output and embeddings paths replaced.
  */
object CorpusBench {

  /** Documents in the generated corpus. */
  val Docs = 4000

  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
  final case class Emb(vec_id: Long, embedding: Array[Float], label: Int)

  private val Stop = Map(
    "en" -> Vector("the", "and", "of", "to", "is", "in", "that", "with", "a", "for", "on", "as"),
    "de" -> Vector("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "auf"),
    "fr" -> Vector("le", "la", "les", "et", "est", "un", "une", "dans", "pour", "sur"))

  /** Seeded documents with an embeddings sidecar. A seed-set share of
    * documents are exact copies of an earlier one and another share
    * are near copies (a few words replaced); copies get the same or a
    * slightly moved embedding, other documents a random direction.
    */
  def generate(seed: Long, n: Int): (Seq[Doc], Seq[Emb]) = {
    val rnd = new java.util.SplittableRandom(seed * 0x2545f4914f6cdd1dL + 3)
    val syll = Vector("ka", "lo", "mi", "ne", "ra", "to", "su", "ve", "di", "po", "an", "el",
      "or", "is", "um", "ta", "ri", "co", "ba", "ge")
    def word(): String = Vector.fill(2 + rnd.nextInt(3))(syll(rnd.nextInt(syll.size))).mkString
    val vocab = Vector.fill(600)(word()).distinct
    val dim = 64
    val exactShare = 0.04 + (seed.abs % 5) * 0.01
    val nearShare = 0.05 + (seed.abs % 3) * 0.02
    def sentence(lang: String): String = {
      val ws = Vector.fill(8 + rnd.nextInt(10)) {
        if (rnd.nextInt(3) == 0) Stop(lang)(rnd.nextInt(Stop(lang).size)) else vocab(rnd.nextInt(vocab.size))
      }
      ws.mkString(" ").capitalize + "."
    }
    def body(lang: String): String = {
      val lines = Vector.fill(3 + rnd.nextInt(6))(Vector.fill(1 + rnd.nextInt(3))(sentence(lang)).mkString(" "))
      val extra =
        if (rnd.nextInt(10) == 0) Vector(s"Contact ${word()}@example.org or call 555-${100 + rnd.nextInt(900)}-${1000 + rnd.nextInt(9000)}.")
        else if (rnd.nextInt(10) == 0) Vector(lines.head) // an in-page repeated line
        else Vector()
      val text = (lines ++ extra).mkString("\n")
      if (rnd.nextInt(8) == 0) s"<p>$text</p>" else text
    }
    val docs = mutable.ArrayBuffer[Doc]()
    val embs = mutable.ArrayBuffer[Emb]()
    for (i <- 0 until n) {
      val lang = rnd.nextInt(10) match { case x if x < 6 => "en"; case x if x < 8 => "de"; case _ => "fr" }
      val source = if (rnd.nextInt(20) == 0) "src0" else s"src${1 + rnd.nextInt(4)}"
      val u = rnd.nextDouble()
      val (text, emb, label) =
        if (i > 10 && u < exactShare) {
          val j = rnd.nextInt(i)
          (docs(j).text, embs(j).embedding.clone(), embs(j).label)
        } else if (i > 10 && u < exactShare + nearShare) {
          val j = rnd.nextInt(i)
          val ws = docs(j).text.split(" ")
          for (_ <- 0 until math.max(1, ws.length / 20)) ws(rnd.nextInt(ws.length)) = vocab(rnd.nextInt(vocab.size))
          (ws.mkString(" "), embs(j).embedding.map(x => x + (rnd.nextDouble() * 0.02 - 0.01).toFloat), embs(j).label)
        } else {
          // independent directions: unrelated documents are far apart
          (body(lang), Array.fill(dim)(rnd.nextGaussian().toFloat), rnd.nextInt(12))
        }
      docs += Doc(i.toLong, text, lang, source, text.length.toLong)
      embs += Emb(i.toLong, emb, label)
    }
    (docs.toSeq, embs.toSeq)
  }

  /** The documents and embeddings parquet for (seed, n), generated once
    * and cached; the cached copy is used only when its files still
    * hash to the recorded digest.
    */
  def cachedInput(spark: SparkSession, cache: Path, seed: Long, n: Int): Path = {
    val dir = cache.resolve(s"corpus-v${Gen.Version}-n$n-seed$seed")
    def filesDigest(d: Path): String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val s = Files.walk(d)
      try s.toArray.map(_.asInstanceOf[Path]).filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet")).sortBy(_.toString)
        .foreach(p => md.update(Files.readAllBytes(p)))
      finally s.close()
      md.digest().map(b => f"${b & 0xff}%02x").mkString
    }
    val digestFile = dir.resolve("sha256")
    if (Files.isRegularFile(digestFile) &&
      new String(Files.readAllBytes(digestFile), UTF_8).trim == filesDigest(dir)) return dir
    import spark.implicits._
    val (docs, embs) = generate(seed, n)
    val tmp = Files.createDirectories(cache).resolve(dir.getFileName.toString + ".tmp")
    Runner.deleteRecursively(tmp)
    docs.toDS().coalesce(1).write.parquet(tmp.resolve("documents.parquet").toString)
    embs.toDS().coalesce(1).write.parquet(tmp.resolve("embeddings.parquet").toString)
    Files.write(tmp.resolve("sha256"), filesDigest(tmp).getBytes(UTF_8))
    Runner.deleteRecursively(dir)
    Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
    dir
  }

  /** examples/corpus.yaml with only its paths replaced. */
  def config(a: Args, input: Path, out: Path): String = {
    val shipped = new String(Files.readAllBytes(a.root.resolve("examples/corpus.yaml")), UTF_8)
    val yaml = shipped.split("\n", -1).map { l =>
      val key = l.trim.takeWhile(_ != ':')
      val indent = l.takeWhile(_ == ' ')
      key match {
        case "input_dir" => s"${indent}input_dir: ${input.resolve("documents.parquet")}"
        case "output_dir" => s"${indent}output_dir: $out"
        case "embeddings_dir" => s"${indent}embeddings_dir: ${input.resolve("embeddings.parquet")}"
        case _ => l
      }
    }.mkString("\n")
    PerfBench.writeFile(a.work.resolve("corpus.yaml"), yaml)
  }

  def run(spark: SparkSession, a: Args, ops: Ops, setups: Seq[Double]): Result = {
    val input = cachedInput(spark, a.cache, a.seed, Docs)
    val docs = spark.read.parquet(input.resolve("documents.parquet").toString).count()
    log(s"corpus input $input: $docs documents")
    val listener = new GroupListener
    if (a.trace) spark.sparkContext.addSparkListener(listener)
    val tracer = new Tracer
    val walls = mutable.ArrayBuffer[Double]()
    val stageRows = mutable.LinkedHashMap[String, Double]()
    var prevDigest: Option[Long] = None
    PerfBench.loop(a, ops, a.seconds, min = 1) { i =>
      val out = a.work.resolve(s"corpus-out-$i")
      val conf = config(a, input, out)
      // (epoch ms, line) of every line `corpus run` prints
      val lines = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
      listener.reset()
      tracer.run = s"corpus-seed${a.seed}-it$i"
      val t0 = System.currentTimeMillis()
      val wall = tracer.span("CorpusPipeline.run") {
        PerfBench.cli(spark, ops, a, "corpus run", Seq("corpus", "run", conf),
          out = { s => lines.add((System.currentTimeMillis(), s)); log(s"  cli: $s") })
      }
      if (a.trace) {
        // per-stage numbers up to the last stage reached, failed or not
        GroupListener.drain(spark)
        val ls = lines.toArray.map(_.asInstanceOf[(Long, String)]).toSeq
        val stages = ls.filter(_._2.startsWith("stage "))
        val bounds = t0 +: stages.map(_._1)
        val jobs = listener.jobs
        stages.zipWithIndex.foreach { case ((end, line), k) =>
          val kind = line.stripPrefix("stage ").trim.takeWhile(c => !c.isWhitespace)
          val start = bounds(k)
          val in = jobs.filter { case (js, _) => js >= start && js < end }
          val p = f"pipeline.stage.${k + 1}%02d_$kind"
          stageRows(p + "_s") = (end - start) / 1e3
          stageRows(p + "_task_s") = in.map(_._2).sum / 1e3
          stageRows(p + "_rows") = line.split("rows=").last.trim.toDouble
          stageRows(p + "_jobs") = in.size.toDouble
        }
        ls.find(_._2.startsWith("output: ")).foreach { case (t, _) =>
          stageRows("pipeline.write_s") = (t - bounds.last) / 1e3
        }
        log(s"stages reached: ${stages.size}")
      }
      val ok = wall.exists { w =>
        val reported = lines.toArray.map(_.asInstanceOf[(Long, String)]._2)
          .find(_.startsWith("output: ")).map(_.split("rows=").last.trim.toLong)
        var digest = 0L
        val passed = ops.check("corpus", a.capSeconds) {
          val (ps, d) = Checks.corpus(spark, input.resolve("documents.parquet").toString, out.toString,
            "doc_id", reported, prevDigest)
          digest = d
          ps
        }
        if (passed) { prevDigest = Some(digest); walls += w }
        passed
      }
      if (!ops.broken) Runner.deleteRecursively(out)
      ok
    }
    if (a.trace && !ops.broken) spark.sparkContext.removeSparkListener(listener)
    if (a.trace) PerfBench.writeSpans(a, tracer)
    val failedFrac = ops.failed.toDouble / math.max(1, ops.attempted)
    log(s"attempted=${ops.attempted} failed=${ops.failed} failed_frac=$failedFrac")
    val e2e =
      if (a.trace) Nil
      else Seq(Metric("setup_s", Runner.median(setups), "s")) ++
        (if (walls.isEmpty) Nil else Seq(Metric("corpus_docs_per_s", docs / Runner.median(walls.toSeq), "docs/s"))) ++
        Seq(Metric("peak_rss_mb", Runner.peakRssMb(), "MB"), Metric("failed_frac", failedFrac, "ratio"))
    val layers = if (!a.trace) Nil else stageRows.toSeq.map { case (k, v) =>
      Metric(k, v, if (k.endsWith("_s")) "s" else "count")
    } :+ Metric("failed_frac", failedFrac, "ratio")
    Result(ops.failed == 0 && walls.nonEmpty, ops.attempted, ops.failed, e2e ++ layers)
  }
}
