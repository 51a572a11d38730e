package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.model.DumpMeta

/** A restored table read back once, every value as its string form
  * (`null` for SQL NULL). The benchmark's outputs are small enough to
  * check on the driver.
  */
final case class Restored(cols: Vector[String], rows: Array[Array[String]]) {
  def col(c: String): Array[String] = {
    val i = cols.indexOf(c)
    require(i >= 0, s"restored table has no column $c")
    rows.map(_(i))
  }
  def digest(c: String): Long = col(c).foldLeft(0L)((acc, v) => acc + Digest.hash(v))
}

/** Output checks. Each returns the problems it found; empty = pass.
  * Expectations come from the generator's own rows, never from the
  * program under test.
  */
object Checks {

  def read(spark: SparkSession, path: String): Restored = {
    val df = spark.read.parquet(path)
    val rows = df.select(df.columns.map(c => col(c).cast("string")).toIndexedSeq: _*).collect()
      .map(r => Array.tabulate(r.length)(i => if (r.isNullAt(i)) null else r.getString(i)))
    Restored(df.columns.toVector, rows)
  }

  def restore(spark: SparkSession, dir: String): Map[String, Restored] =
    Gen.Tables.map(s => s.name -> read(spark, s"$dir/${s.name}")).toMap

  private def digestProblems(t: String, got: Restored, want: Map[String, Long],
                             skip: Set[String]): Seq[String] =
    want.toSeq.sorted.collect {
      case (c, d) if !skip(c) && got.digest(c) != d => s"$t.$c digest differs from the source"
    }

  private def countProblem(t: String, got: Long, want: Long, what: String = ""): Seq[String] =
    if (got == want) Nil else Seq(s"$t: restored $got rows, source has $want$what")

  def catalog(meta: Option[DumpMeta]): Seq[String] = meta match {
    case None => Seq("dump missing from the catalog")
    case Some(m) =>
      (if (m.compressed) Nil else Seq("catalog entry not marked compressed")) ++
        (if (m.encrypted) Nil else Seq("catalog entry not marked encrypted")) ++
        (if (m.size > 0) Nil else Seq("catalog entry has no bytes"))
  }

  /** dump-full: every table back, unmasked columns identical as
    * multisets, masked columns sharing no value with the source.
    */
  def full(tables: Map[String, Restored], e: Expect): Seq[String] =
    Gen.Tables.flatMap { s =>
      val r = tables(s.name)
      val masked = Gen.Masked.collect { case (t, c, _) if t == s.name => c }.toSet
      countProblem(s.name, r.rows.length, e.rows(s.name)) ++
        digestProblems(s.name, r, e.digests(s.name), masked) ++
        masked.toSeq.flatMap { c =>
          val vals = r.col(c)
          val source = e.masked((s.name, c))
          val leaked = vals.count(v => v != null && source.contains(v))
          (if (leaked == 0) Nil else Seq(s"${s.name}.$c: $leaked masked values equal a source value")) ++
            (if (vals.forall(_ != null)) Nil else Seq(s"${s.name}.$c: masked column lost values"))
        }
    }

  /** dump-subset: lineitem is exactly the source rows whose l_orderkey
    * is a multiple of 10, every foreign key resolves, and the
    * passthrough tables are complete.
    */
  def subset(tables: Map[String, Restored], e: Expect): Seq[String] = {
    val li = tables("lineitem")
    val liP = countProblem("lineitem", li.rows.length, e.subsetLineitemRows, " with l_orderkey % 10 = 0") ++
      digestProblems("lineitem", li, e.subsetLineitemDigests, Set.empty)
    val fkP = Gen.Tables.flatMap { s =>
      s.fks.flatMap { case (c, parent, pc) =>
        val keys = tables(parent).col(pc).toSet
        val orphans = tables(s.name).col(c).count(v => v == null || !keys.contains(v))
        if (orphans == 0) Nil else Seq(s"${s.name}.$c: $orphans rows reference no $parent.$pc")
      }
    }
    val passP = Seq("nation", "region").flatMap { t =>
      countProblem(t, tables(t).rows.length, e.rows(t)) ++
        digestProblems(t, tables(t), e.digests(t), Set.empty)
    }
    liP ++ fkP ++ passP
  }

  /** corpus: output ids come from the input, the CLI's final row
    * count is the output's, and the output is the same every time.
    * Returns the problems and the output's digest.
    */
  def corpus(spark: SparkSession, input: String, output: String, idCol: String,
             reportedRows: Option[Long], prevDigest: Option[Long]): (Seq[String], Long) = {
    val out = read(spark, output)
    val ids = read(spark, input).col(idCol).toSet
    val foreign = out.col(idCol).count(v => !ids.contains(v))
    val digest = out.cols.map(out.digest).sum
    val n = out.rows.length.toLong
    val ps = (if (foreign == 0) Nil else Seq(s"$foreign output ids are not input ids")) ++
      (reportedRows match {
        case Some(r) if r == n => Nil
        case Some(r) => Seq(s"final rows=$r but the output has $n rows")
        case None => Seq("no final rows= line")
      }) ++
      (prevDigest match {
        case Some(d) if d != digest => Seq("output digest differs from the previous iteration")
        case _ => Nil
      })
    (ps, digest)
  }
}
