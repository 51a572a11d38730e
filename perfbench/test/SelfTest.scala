package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit, when}

/** The benchmark's own tests: generator determinism, metric names,
  * self-time arithmetic, and that every output check rejects a
  * deliberately corrupted restore.
  *
  *   python3 perfbench/run.py --selftest
  */
object SelfTest {
  private val results = mutable.ArrayBuffer[(String, Option[String])]()

  def test(name: String)(body: => Unit): Unit = {
    val r = try { body; None } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    results += name -> r
    System.err.println(s"[selftest] ${if (r.isEmpty) "ok  " else "FAIL"} $name${r.map(" — " + _).getOrElse("")}")
  }

  def assertTrue(c: Boolean, msg: => String): Unit = if (!c) throw new AssertionError(msg)

  val NamePattern = "[A-Za-z0-9_.-]+"

  def main(argv: Array[String]): Unit = {
    val m = argv.toSeq.grouped(2).collect { case Seq(k, v) => k.drop(2) -> v }.toMap
    val root = Paths.get(m.getOrElse("root", ".")).toAbsolutePath.normalize
    val build = root.resolve(m.getOrElse("build", ".bench_build/perfbench"))
    val work = build.resolve("work/selftest")
    Runner.deleteRecursively(work)
    Files.createDirectories(work.resolve("tmp"))

    test("generator: same seed gives the same dump digest, another seed another") {
      val a = Gen.cachedDump(work.resolve("gen-a"), 7, 0.0005)
      val b = Gen.cachedDump(work.resolve("gen-b"), 7, 0.0005)
      val c = Gen.cachedDump(work.resolve("gen-c"), 8, 0.0005)
      assertTrue(a.sha256 == b.sha256 && a.expect == b.expect, "same seed, different dumps")
      assertTrue(a.sha256 != c.sha256, "different seeds, same dump")
      // a cache hit returns the recorded input; a corrupted cache is regenerated
      val again = Gen.cachedDump(work.resolve("gen-a"), 7, 0.0005)
      assertTrue(again.sha256 == a.sha256, "cache hit changed the digest")
      Files.write(a.path, "corrupt".getBytes(UTF_8))
      val regen = Gen.cachedDump(work.resolve("gen-a"), 7, 0.0005)
      assertTrue(regen.sha256 == a.sha256 && Digest.sha256(regen.path) == a.sha256,
        "corrupted cache was not regenerated")
    }

    test("generator: corpus documents are deterministic and carry duplicates") {
      val (d1, e1) = CorpusBench.generate(5, 300)
      val (d2, e2) = CorpusBench.generate(5, 300)
      assertTrue(d1 == d2 && e1.map(_.embedding.toSeq) == e2.map(_.embedding.toSeq), "same seed differs")
      assertTrue(d1.map(_.text).distinct.size < d1.size, "no exact duplicates injected")
      assertTrue(d1.map(_.doc_id) == e1.map(_.vec_id), "embeddings sidecar misaligned")
    }

    test("self time: duration minus the union of direct children") {
      val spans = Seq(
        Span(0, "root", 0, 100, -1, "r"),
        Span(1, "a", 10, 40, 0, "r"),
        Span(2, "b", 30, 60, 0, "r"),  // overlaps a: union 10..60
        Span(3, "a.x", 15, 20, 1, "r"), // grandchild: not subtracted from root
        Span(4, "c", 90, 120, 0, "r"))  // runs past its parent: clipped to 90..100
      val self = Tracer.selfTimes(spans)
      assertTrue(self(0) == 100 - 50 - 10, s"root self ${self(0)}")
      assertTrue(self(1) == 30 - 5, s"a self ${self(1)}")
      assertTrue(self(2) == 30 && self(3) == 5 && self(4) == 30, s"leaf self $self")
    }

    test("BENCHMARK.json: metric and workload names match " + NamePattern) {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val j = mapper.readTree(root.resolve("BENCHMARK.json").toFile)
      val names = Seq("workloads", "end_to_end", "per_layer").flatMap { k =>
        val it = j.get(k).elements()
        val b = mutable.ArrayBuffer[String]()
        while (it.hasNext) b += it.next().get("name").asText()
        b
      }
      assertTrue(names.nonEmpty, "no names")
      names.foreach(n => assertTrue(n.matches(NamePattern), s"bad name '$n'"))
      assertTrue(names.distinct.size == names.size, "a name is used twice")
    }

    val spark = graft.GraftSession.builder()
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try dumpTests(spark, root, build, work)
    finally spark.stop()

    Runner.deleteRecursively(work)
    val failed = results.count(_._2.nonEmpty)
    println(s"selftest: ${results.size - failed} passed, $failed failed")
    System.out.flush()
    Runtime.getRuntime.halt(if (failed == 0) 0 else 1)
  }

  private def dumpTests(spark: SparkSession, root: Path, build: Path, work: Path): Unit = {
    val ops = new Ops(s => System.err.println(s"[selftest] $s"))
    def args(w: String, trace: Boolean) = PerfBench.Args(w, 11, 1, trace, root,
      work.resolve(s"work-$w"), work.resolve("inputs"), 0.0005, 120)
    val input = Gen.cachedDump(work.resolve("inputs"), 11, 0.0005)

    /** One CLI create + restore, unchecked; true when both exit 0. */
    def roundtrip(a: PerfBench.Args, dir: Path, subset: Boolean): Boolean = {
      val conf = DumpBench.config(a, dir, subset)
      PerfBench.cli(spark, ops, a, "dump create", Seq("-c", conf, "dump", "create", "t", "-i"),
        stdin = DumpBench.stdinOf(input)).isDefined &&
        PerfBench.cli(spark, ops, a, "dump restore", Seq("-c", conf, "dump", "restore", "t")).isDefined
    }

    // one real create + restore per dump workload, checked clean first
    val full = work.resolve("full")
    val sub = work.resolve("subset")
    test("clean restores pass every check") {
      assertTrue(roundtrip(args("dump-full", false), full, subset = false), "full create/restore failed")
      assertTrue(roundtrip(args("dump-subset", false), sub, subset = true), "subset create/restore failed")
      val store = new graft.store.Datastore(full.resolve("store").toString, spark)
      val ps = Checks.catalog(store.catalogOps.byName("t")) ++
        Checks.full(Checks.restore(spark, full.resolve("restore").toString), input.expect) ++
        Checks.subset(Checks.restore(spark, sub.resolve("restore").toString), input.expect)
      assertTrue(ps.isEmpty, s"clean restore flagged: ${ps.take(3)}")
    }

    /** Copy a restore, rewrite one table through `f`, run `check`. */
    def corrupted(from: Path, table: String)(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)(
        check: String => Seq[String]): Seq[String] = {
      val dir = work.resolve(s"corrupt-${System.nanoTime()}")
      Gen.Tables.foreach { s =>
        val df = spark.read.parquet(from.resolve(s"restore/${s.name}").toString)
        (if (s.name == table) f(df) else df).write.parquet(dir.resolve(s.name).toString)
      }
      try check(dir.toString) finally Runner.deleteRecursively(dir)
    }
    def rejects(what: String)(problems: Seq[String]): Unit =
      assertTrue(problems.nonEmpty, s"$what was not rejected")

    test("full check rejects a lost row") {
      rejects("a lost row")(corrupted(full, "orders")(_.filter(col("o_orderkey") =!= 5))(
        d => Checks.full(Checks.restore(spark, d), input.expect)))
    }
    test("full check rejects a changed unmasked value") {
      rejects("a changed value")(corrupted(full, "part")(df =>
        df.withColumn("p_size", when(col("p_partkey") === 1, col("p_size") + 1).otherwise(col("p_size"))))(
        d => Checks.full(Checks.restore(spark, d), input.expect)))
    }
    test("full check rejects a masked column that kept a source value") {
      rejects("an unmasked name")(corrupted(full, "customer")(df =>
        df.withColumn("c_name", when(col("c_custkey") === 1, lit("Customer#000000001"))
          .otherwise(col("c_name"))))(d => Checks.full(Checks.restore(spark, d), input.expect)))
    }
    test("catalog check rejects an unencrypted or uncompressed entry") {
      val meta = new graft.store.Datastore(full.resolve("store").toString, spark).catalogOps.byName("t").get
      rejects("unencrypted")(Checks.catalog(Some(meta.copy(encrypted = false))))
      rejects("uncompressed")(Checks.catalog(Some(meta.copy(compressed = false))))
      rejects("missing")(Checks.catalog(None))
    }
    test("subset check rejects a lineitem row outside the sample") {
      rejects("an extra lineitem row")(corrupted(sub, "lineitem")(df =>
        df.union(spark.read.parquet(full.resolve("restore/lineitem").toString)
          .filter(col("l_orderkey") % 10 =!= 0).limit(1)))(d => Checks.subset(Checks.restore(spark, d), input.expect)))
    }
    test("subset check rejects an unresolved foreign key") {
      rejects("a missing parent order")(corrupted(sub, "orders")(df =>
        df.filter(col("o_orderkey") =!= df.select("o_orderkey").head().get(0)))(
        d => Checks.subset(Checks.restore(spark, d), input.expect)))
    }
    test("subset check rejects an incomplete passthrough table") {
      rejects("a short nation table")(corrupted(sub, "nation")(_.filter(col("n_nationkey") =!= 3))(
        d => Checks.subset(Checks.restore(spark, d), input.expect)))
    }
    test("corpus check rejects foreign ids, a wrong row count and a moved digest") {
      import spark.implicits._
      val in = work.resolve("corpus-in").toString
      val out = work.resolve("corpus-out").toString
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text").write.parquet(in)
      Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text").write.parquet(out)
      val (clean, d) = Checks.corpus(spark, in, out, "doc_id", Some(2), None)
      assertTrue(clean.isEmpty, s"clean corpus output flagged: $clean")
      rejects("a wrong rows= line")(Checks.corpus(spark, in, out, "doc_id", Some(3), Some(d))._1)
      rejects("a missing rows= line")(Checks.corpus(spark, in, out, "doc_id", None, Some(d))._1)
      rejects("a moved digest")(Checks.corpus(spark, in, out, "doc_id", Some(2), Some(d + 1))._1)
      val bad = work.resolve("corpus-bad").toString
      Seq((1L, "a"), (9L, "z")).toDF("doc_id", "text").write.parquet(bad)
      rejects("a foreign id")(Checks.corpus(spark, in, bad, "doc_id", Some(2), None)._1)
    }

    test("a traced run reports every per-layer metric of BENCHMARK.json, names well formed") {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val j = mapper.readTree(root.resolve("BENCHMARK.json").toFile)
      def names(k: String): Seq[String] = {
        val it = j.get(k).elements()
        val b = mutable.ArrayBuffer[String]()
        while (it.hasNext) b += it.next().get("name").asText()
        b.toSeq
      }
      Seq("dump-full", "dump-subset").foreach { w =>
        val a = args(w, trace = true)
        val traced = DumpBench.run(spark, a, new Ops(_ => ()), input, Seq(1.0), subset = w == "dump-subset")
        assertTrue(traced.correct, s"$w traced run failed")
        val got = traced.metrics.map(_.name)
        got.foreach(n => assertTrue(n.matches(NamePattern), s"bad metric name '$n'"))
        val missing = names("per_layer").filterNot(got.contains)
        assertTrue(missing.isEmpty, s"$w traced run lacks ${missing.mkString(", ")}")
        val untraced = DumpBench.run(spark, a.copy(trace = false), new Ops(_ => ()), input, Seq(1.0),
          subset = w == "dump-subset")
        val e2eMissing = names("end_to_end").filterNot(untraced.metrics.map(_.name).contains)
        assertTrue(untraced.correct && e2eMissing.isEmpty, s"$w untraced run lacks ${e2eMissing.mkString(", ")}")
      }
    }
  }
}
