package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, octet_length, sum}
import org.apache.spark.storage.StorageLevel

import graft.config.GraftConfig
import graft.ingest.{ChunkedSpool, DumpReader, DumpSink}
import graft.model.StatementKind
import graft.pipeline.Pipeline
import graft.store.Datastore
import graft.subset.Subset
import graft.transform.Transformers

import PerfBench.{Args, Metric, Result, log}

/** `dump create -i` → `dump restore` to parquet, untraced through the
  * CLI and traced layer by layer.
  */
object DumpBench {

  final case class Iter(createS: Double, restoreS: Double, restoredRows: Long, storedBytes: Long)

  def config(a: Args, dir: Path, subset: Boolean): String = {
    val masks = Gen.Masked.map { case (t, c, tr) =>
      s"""    - database: public
         |      table: $t
         |      columns:
         |        - name: $c
         |          transformer_name: $tr
         |""".stripMargin
    }.mkString
    val sub = if (!subset) "" else
      """subset:
        |  database: public
        |  table: lineitem
        |  seed_key: l_orderkey
        |  percent: 10
        |  passthrough_tables: [nation, region]
        |""".stripMargin
    PerfBench.writeFile(dir.resolve("graft.yaml"),
      s"""source:
         |  database: public
         |  transformers:
         |$masks""".stripMargin +
        s"""datastore:
           |  local_disk:
           |    dir: ${dir.resolve("store")}
           |  compression: true
           |encryption_key: perfbench-key-${a.seed}
           |destination:
           |  output_dir: ${dir.resolve("restore")}
           |  format: parquet
           |""".stripMargin + sub)
  }

  def stdinOf(input: DumpInput) = () =>
    new java.io.BufferedInputStream(Files.newInputStream(input.path), 1 << 20)

  /** Output checks on one restore; (restored rows, stored bytes) when
    * all pass.
    */
  def verify(spark: SparkSession, ops: Ops, a: Args, input: DumpInput, dir: Path, name: String,
             subset: Boolean): Option[(Long, Long)] = {
    val meta = new Datastore(dir.resolve("store").toString, spark).catalogOps.byName(name)
    // checks run their own jobs; the group keeps them out of the CLI's sums
    spark.sparkContext.setJobGroup("perfbench.check", "output checks")
    try {
      var rows = 0L
      val ok = ops.check("catalog", a.capSeconds)(Checks.catalog(meta)) &&
        ops.check(if (subset) "subset" else "full", a.capSeconds) {
          val tables = Checks.restore(spark, dir.resolve("restore").toString)
          rows = tables.values.map(_.rows.length.toLong).sum
          if (subset) Checks.subset(tables, input.expect) else Checks.full(tables, input.expect)
        }
      if (ok) Some((rows, meta.get.size)) else None
    } finally spark.sparkContext.clearJobGroup()
  }

  private def leakCheck(spark: SparkSession, ops: Ops, a: Args, before: scala.collection.Set[Int],
                        who: String): Boolean =
    ops.check("leaks", a.capSeconds) {
      val n = graft.Bench.pollLeaks(spark, before)
      if (n == 0) Nil else Seq(s"$n persisted RDDs left behind by $who")
    }

  /** One untraced iteration through the CLI, checked. */
  def untraced(spark: SparkSession, ops: Ops, a: Args, input: DumpInput, i: Int,
               subset: Boolean): Option[Iter] = {
    val dir = a.work.resolve(s"it$i")
    val name = s"bench-$i"
    val conf = config(a, dir, subset)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val res = for {
      c <- PerfBench.cli(spark, ops, a, "dump create", Seq("-c", conf, "dump", "create", name, "-i"),
        stdin = stdinOf(input))
      r <- PerfBench.cli(spark, ops, a, "dump restore", Seq("-c", conf, "dump", "restore", name))
      if leakCheck(spark, ops, a, before, "the CLI")
      (rows, stored) <- verify(spark, ops, a, input, dir, name, subset)
    } yield Iter(c, r, rows, stored)
    Runner.deleteRecursively(dir)
    res
  }

  def run(spark: SparkSession, a: Args, ops: Ops, input: DumpInput, setups: Seq[Double],
          subset: Boolean): Result = {
    // the unmeasured warm-up: one checked create + restore of the same
    // dump compiles and JIT-warms everything the measured ones run
    val t0 = System.nanoTime()
    if (untraced(spark, ops, a, input, -1, subset).isEmpty) return Result(false, ops.attempted, ops.failed, Nil)
    val warmupS = (System.nanoTime() - t0) / 1e9
    log(f"warm-up: $warmupS%.3f s")
    if (a.trace) {
      val r = runTraced(spark, a, ops, input, subset)
      if (r.metrics.isEmpty) r
      else r.copy(metrics = r.metrics ++ Seq(
        Metric("jvm.cold_setup_s", setups.head, "s"), Metric("jvm.warmup_s", warmupS, "s")))
    } else {
      val iters = mutable.ArrayBuffer[Iter]()
      PerfBench.loop(a, ops, a.seconds) { i =>
        val it = untraced(spark, ops, a, input, i, subset)
        it.foreach { x =>
          iters += x
          log(f"iteration $i: create ${x.createS}%.3f s, restore ${x.restoreS}%.3f s, " +
            s"restored ${x.restoredRows} rows")
        }
        it.isDefined
      }
      val m = Runner.median _
      val metrics = if (iters.isEmpty || ops.failed > 0) Nil else Seq(
        Metric("setup_s", m(setups), "s"),
        Metric("create_rows_per_s", input.sourceRows / m(iters.map(_.createS).toSeq), "rows/s"),
        Metric("restore_rows_per_s", iters.head.restoredRows / m(iters.map(_.restoreS).toSeq), "rows/s"),
        Metric("roundtrip_s", m(iters.map(x => x.createS + x.restoreS).toSeq), "s"),
        Metric("stored_bytes_per_source_byte",
          m(iters.map(_.storedBytes.toDouble / input.bytes).toSeq), "ratio"),
        Metric("peak_rss_mb", Runner.peakRssMb(), "MB"))
      log(s"iterations=${iters.size} attempted=${ops.attempted} failed=${ops.failed} " +
        f"failed_frac=${ops.failed.toDouble / math.max(1, ops.attempted)}%.4f")
      Result(ops.failed == 0 && iters.nonEmpty, ops.attempted, ops.failed, metrics)
    }
  }

  // ---- traced run -------------------------------------------------------

  private val Lvl = StorageLevel.MEMORY_AND_DISK

  /** Per-layer numbers of one traced create + restore. */
  final class Layers {
    val v = mutable.LinkedHashMap[String, Double]()
    def add(k: String, x: Double): Unit = v(k) = v.getOrElse(k, 0.0) + x
  }

  /** Run `body` as one layer: a span named `span`, Spark jobs under the
    * job group `group`, its wall seconds added to `<prefix>s`.
    */
  private def layer[A](spark: SparkSession, tr: Tracer, ly: Layers, group: String, span: String,
                       prefix: String)(body: => A): A = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, span)
    val t0 = System.nanoTime()
    try tr.span(span)(body)
    finally {
      ly.add(prefix + "s", (System.nanoTime() - t0) / 1e9)
      sc.clearJobGroup()
    }
  }

  private def bytesAndCount(ds: Dataset[String]): (Double, Long) = {
    val r = ds.toDF("v").agg(sum(octet_length(col("v")) + lit(1)), count(lit(1))).head()
    (if (r.isNullAt(0)) 0.0 else r.getLong(0).toDouble, r.getLong(1))
  }

  /** `dump create -i` as the CLI runs it, one layer at a time. */
  def tracedCreate(spark: SparkSession, tr: Tracer, ly: Layers, a: Args, input: DumpInput,
                   dir: Path, name: String, subset: Boolean): Unit = {
    import spark.implicits._
    val c = GraftConfig.load(config(a, dir, subset))
    val root = c.datastore.get.rootUri
    val store = new Datastore(root, spark)
    val db = c.sourceConf.db
    val spool = new HPath(new HPath(root, ".spool"), s"graft-stdin-${java.util.UUID.randomUUID()}")
    val fs = spool.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pinned = mutable.ArrayBuffer[Dataset[_]]()
    def pin[T](ds: Dataset[T]): Dataset[T] = { pinned += ds; ds.persist(Lvl) }
    try tr.span("dump_create") {
      layer(spark, tr, ly, "ingest.spool", "ChunkedSpool.write", "ingest.spool_") {
        val chunk = spark.conf.getOption("spark.graft.spoolChunkMb")
          .map(m => (m.toDouble * 1024 * 1024).toInt).getOrElse(ChunkedSpool.DefaultChunkBytes)
        ChunkedSpool.write(i => FileSystem.create(fs, new HPath(spool, f"part-$i%05d.sql"),
          new org.apache.hadoop.fs.permission.FsPermission("600")), pg = None, chunkBytes = chunk) { o =>
          val in = Files.newInputStream(input.path)
          try in.transferTo(o) finally in.close()
        }
      }
      val stmts = layer(spark, tr, ly, "ingest.split", "DumpReader.statements", "ingest.split_") {
        val s = pin(DumpReader.statements(spark, spool.toString))
        ly.add("ingest.split_statements", s.count().toDouble)
        s
      }
      // the CLI's driver-side listings over the parsed statements
      val (tables, ddl, edges) = layer(spark, tr, ly, "ingest.split", "statement listings", "ingest.split_") {
        val ts = stmts.filter(_.kind == StatementKind.InsertInto).map(s => s.table).distinct()
          .collect().toSeq.sorted
        val dd = stmts.filter(_.kind == StatementKind.CreateTable).map(s => (s.table, s.sql)).collect().toMap
        (ts, dd, DumpReader.foreignKeys(stmts))
      }
      val parsed = layer(spark, tr, ly, "ingest.parse", "ingest.parse", "ingest.parse_") {
        tables.map { t =>
          val df = tr.span(s"DumpReader.tableFromDump:$t")(pin(DumpReader.tableFromDump(stmts, db, t, ddl.get(t))))
          ly.add("ingest.parse_rows", df.count().toDouble)
          t -> df
        }.toMap
      }
      val sc = c.subsetConfig
      val base: Map[String, DataFrame] = sc match {
        case Some(s) => layer(spark, tr, ly, "subset", "Subset.run", "subset.") {
          val kept = Subset.run(parsed, edges, s.table, s.seedKey, s.percent, s.passthroughTables)
          tables.map { t =>
            val df = pin(kept.getOrElse(t, parsed(t).limit(0)))
            ly.add("subset.rows_kept", df.count().toDouble)
            t -> df
          }.toMap
        }
        case None =>
          ly.add("subset.s", 0); ly.add("subset.rows_kept", ly.v("ingest.parse_rows"))
          parsed
      }
      val masked = layer(spark, tr, ly, "transform", "Transformers.applyBindings", "transform.") {
        base.map { case (t, df) =>
          val out = pin(Transformers.applyBindings(df, c.bindings.filter(b => b.database == db && b.table == t)))
          out.count()
          t -> out
        }
      }
      val statements = layer(spark, tr, ly, "ingest.sink", "DumpSink.toInsertStatements", "ingest.sink_") {
        val inserts = masked.toSeq.sortBy(_._1).map { case (t, df) =>
          DumpSink.toInsertStatements(DumpSink.sqlSafe(df), db, t)
        }.reduce(_.unionByName(_))
        val header = Seq("SET standard_conforming_strings = on;") ++
          masked.keys.toSeq.sorted.map(t => ddl.getOrElse(t, graft.ingest.PgLive.createTableSql(t, masked(t).schema)))
        val st = pin(spark.createDataset(header).unionByName(inserts))
        val (bytes, _) = bytesAndCount(st)
        ly.add("ingest.sink_mb", bytes / 1e6)
        st
      }
      layer(spark, tr, ly, "store.write", "Datastore.write", "store.write_") {
        val meta = store.write(name, statements, c.datastore.flatMap(_.compression).getOrElse(true),
          c.encryptionKey)
        ly.add("store.write_stored_mb", meta.size / 1e6)
      }
      ly.add("store.write_raw_mb", ly.v("ingest.sink_mb"))
      ly.add("store.write_chunks", fs.globStatus(new HPath(new HPath(root, name), "*.dump")).length.toDouble)
    } finally {
      pinned.foreach(_.unpersist(blocking = true))
      fs.delete(spool, true)
    }
  }

  /** `dump restore` to parquet as the CLI runs it. The dump is decoded
    * once more on its own first, to time the read layer alone.
    */
  def tracedRestore(spark: SparkSession, tr: Tracer, ly: Layers, a: Args, dir: Path, name: String,
                    subset: Boolean): Unit = {
    val c = GraftConfig.load(config(a, dir, subset))
    val store = new Datastore(c.datastore.get.rootUri, spark)
    val out = c.destination.get.output_dir.get
    tr.span("dump_restore") {
      layer(spark, tr, ly, "store.read", "Datastore.read", "store.read_") {
        val (bytes, _) = bytesAndCount(store.read(name, c.encryptionKey))
        ly.add("store.read_decoded_mb", bytes / 1e6)
      }
      val (tables, _) = layer(spark, tr, ly, "ingest.restore_parse", "Pipeline.restoreWithDdl",
        "ingest.restore_parse_") {
        Pipeline.restoreWithDdl(spark, store, name, c.encryptionKey)
      }
      layer(spark, tr, ly, "pipeline.restore_write", "restore parquet writes", "pipeline.restore_write_") {
        tables.foreach { case (t, df) =>
          tr.span(s"parquet write:$t")(df.write.mode("overwrite").parquet(s"$out/$t"))
        }
      }
    }
  }

  def runTraced(spark: SparkSession, a: Args, ops: Ops, input: DumpInput, subset: Boolean): Result = {
    val listener = new GroupListener
    spark.sparkContext.addSparkListener(listener)
    val tracer = new Tracer
    val untracedTimes = mutable.ArrayBuffer[Double]()
    val process = mutable.ArrayBuffer[Map[String, Double]]()
    val traced = mutable.ArrayBuffer[Map[String, Double]]()
    val cores = spark.sparkContext.defaultParallelism
    // alternate untraced CLI iterations (end-to-end time and the
    // process-wide Spark numbers) with traced ones (the layer split);
    // at least one of each
    PerfBench.loop(a, ops, a.seconds, min = 2) { i =>
      if (i % 2 == 0) {
        GroupListener.drain(spark); listener.reset()
        val gc0 = graft.Bench.gcTime()
        val it = untraced(spark, ops, a, input, i, subset)
        GroupListener.drain(spark)
        it.foreach { x =>
          val wall = x.createS + x.restoreS
          untracedTimes += wall
          // the checks ran under their own group: "" holds the CLI's jobs
          val cli = listener.group("")
          val taskS = cli.taskMs / 1e3
          process += Map(
            "spark.jobs" -> cli.jobs.toDouble,
            "spark.task_s" -> taskS,
            "spark.shuffle_mb" -> cli.shuffleReadBytes / 1e6,
            "spark.spill_mb" -> cli.spillBytes / 1e6,
            "spark.busy_frac" -> taskS / (wall * cores),
            "jvm.gc_s" -> (graft.Bench.gcTime() - gc0))
          log(f"untraced iteration $i: $wall%.3f s, ${cli.jobs} jobs")
        }
        it.isDefined
      } else {
        val dir = a.work.resolve(s"it$i")
        val name = s"bench-$i"
        val ly = new Layers
        tracer.run = s"${a.workload}-seed${a.seed}-it$i"
        GroupListener.drain(spark); listener.reset()
        val before = spark.sparkContext.getPersistentRDDs.keySet
        val t0 = System.nanoTime()
        val done = ops.timed("traced create+restore", a.capSeconds, () => spark.sparkContext.cancelAllJobs()) {
          val ct0 = System.nanoTime()
          tracedCreate(spark, tracer, ly, a, input, dir, name, subset)
          ly.add("trace.create_s", (System.nanoTime() - ct0) / 1e9)
          val rt0 = System.nanoTime()
          tracedRestore(spark, tracer, ly, a, dir, name, subset)
          ly.add("trace.restore_s", (System.nanoTime() - rt0) / 1e9)
        }.isDefined
        val total = (System.nanoTime() - t0) / 1e9
        GroupListener.drain(spark)
        val rows = if (!done) None else {
          if (leakCheck(spark, ops, a, before, "the traced run")) verify(spark, ops, a, input, dir, name, subset) else None
        }
        rows.foreach { _ =>
          def g(k: String) = listener.group(k)
          def tS(k: String) = g(k).taskMs / 1e3
          def mb(x: Long) = x / 1e6
          Seq("ingest.split", "ingest.parse", "subset", "transform", "ingest.sink", "store.write",
            "store.read", "ingest.restore_parse").foreach { k =>
            val p = if (k == "subset" || k == "transform") k + "." else k + "_"
            ly.add(p + "task_s", tS(k))
          }
          ly.add("ingest.parse_read_mb", mb(g("ingest.parse").inputBytes))
          ly.add("subset.jobs", g("subset").jobs.toDouble)
          ly.add("subset.shuffle_mb", mb(g("subset").shuffleReadBytes))
          ly.add("subset.keep_ratio", ly.v("subset.rows_kept") / ly.v("ingest.parse_rows"))
          ly.add("store.encode_mb_per_s", ly.v("store.write_raw_mb") / math.max(1e-9, tS("store.write")))
          ly.add("store.decode_mb_per_s", ly.v("store.read_decoded_mb") / math.max(1e-9, tS("store.read")))
          // how many times the restore read the stored dump: the bytes
          // its tasks read from the part files and through the shuffle
          // that orders them (decoding runs after it), over the stored size
          val restoreRead = Seq("ingest.restore_parse", "pipeline.restore_write")
            .map(k => g(k).inputBytes + g(k).shuffleReadBytes).sum
          ly.add("store.read_amplification", restoreRead / math.max(1.0, ly.v("store.write_stored_mb") * 1e6))
          ly.add("pipeline.restore_write_jobs", g("pipeline.restore_write").jobs.toDouble)
          ly.add("trace.total_s", total)
          val self = Tracer.selfTimes(tracer.spans.filter(_.run == tracer.run))
          val roots = tracer.spans.filter(s => s.run == tracer.run && s.parent < 0)
          roots.foreach(s => ly.add(s"trace.${s.name}_self_s", self(s.id) / 1e9))
          traced += ly.v.toMap
          log(f"traced iteration $i: $total%.3f s")
        }
        Runner.deleteRecursively(dir)
        rows.isDefined
      }
    }
    spark.sparkContext.removeSparkListener(listener)
    PerfBench.writeSpans(a, tracer)
    val m = Runner.median _
    def med(rows: Seq[Map[String, Double]]): Seq[(String, Double)] =
      rows.head.keys.toSeq.map(k => k -> m(rows.map(_.getOrElse(k, 0.0))))
    val metrics = if (ops.failed > 0 || traced.isEmpty || process.isEmpty) Nil else {
      val layers = med(traced.toSeq) ++ med(process.toSeq) :+
        ("trace.overhead_frac" -> (m(traced.map(_("trace.total_s")).toSeq) / m(untracedTimes.toSeq) - 1))
      layers.map { case (k, v) => Metric(k, v, unitOf(k)) }
    }
    Result(ops.failed == 0 && metrics.nonEmpty, ops.attempted, ops.failed, metrics)
  }

  def unitOf(k: String): String =
    if (k.endsWith("_mb_per_s")) "MB/s"
    else if (k.endsWith("_s") || k == "subset.s" || k == "transform.s") "s"
    else if (k.endsWith("_mb")) "MB"
    else if (k.endsWith("_frac") || k.endsWith("_ratio") || k.endsWith("amplification")) "ratio"
    else "count"
}
