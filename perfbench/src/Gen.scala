package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.LocalDate

import scala.util.hashing.MurmurHash3

/** Order-independent multiset digest of canonical cell strings: the
  * wrapping sum of a 64-bit hash per cell. Two columns with the same
  * values in any row order have the same digest.
  */
object Digest {
  val NullHash: Long = 0x5bd1e9955bd1e995L

  def hash(s: String): Long =
    if (s == null) NullHash
    else (MurmurHash3.stringHash(s, 0x3c6ef372).toLong << 32) ^
      (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)

  def sha256(p: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val in = Files.newInputStream(p)
    try {
      val buf = new Array[Byte](1 << 20)
      var n = in.read(buf)
      while (n >= 0) { md.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}

/** One generated table: pg column types decide both the dump literal
  * (quoted or not) and how the restored parquet prints the value.
  */
final case class TableSpec(name: String, cols: Vector[(String, String)], pk: String,
                           fks: Seq[(String, String, String)]) {
  def quoted(i: Int): Boolean = {
    val t = cols(i)._2
    !(t.startsWith("integer") || t.startsWith("bigint") || t.startsWith("numeric"))
  }
}

/** What the restored output must match, derived from the generated
  * rows alone (never from the program under test).
  */
final case class Expect(
    rows: Map[String, Long],
    digests: Map[String, Map[String, Long]],
    subsetLineitemRows: Long,
    subsetLineitemDigests: Map[String, Long],
    masked: Map[(String, String), Set[String]]) {

  def lines: Seq[String] =
    rows.toSeq.sorted.map { case (t, n) => s"rows\t$t\t$n" } ++
      digests.toSeq.sortBy(_._1).flatMap { case (t, m) =>
        m.toSeq.sorted.map { case (c, d) => s"digest\t$t\t$c\t$d" }
      } ++
      Seq(s"subset_rows\tlineitem\t$subsetLineitemRows") ++
      subsetLineitemDigests.toSeq.sorted.map { case (c, d) => s"subset_digest\tlineitem\t$c\t$d" } ++
      masked.toSeq.sortBy(_._1).flatMap { case ((t, c), vs) =>
        vs.toSeq.sorted.map(v => s"masked\t$t\t$c\t$v")
      }
}

object Expect {
  def parse(lines: Seq[String]): Expect = {
    val f = lines.filter(_.nonEmpty).map(_.split("\t", -1).toVector)
    Expect(
      f.collect { case Vector("rows", t, n) => t -> n.toLong }.toMap,
      f.collect { case Vector("digest", t, c, d) => (t, c, d.toLong) }
        .groupBy(_._1).map { case (t, xs) => t -> xs.map(x => x._2 -> x._3).toMap },
      f.collect { case Vector("subset_rows", _, n) => n.toLong }.headOption.getOrElse(-1L),
      f.collect { case Vector("subset_digest", _, c, d) => c -> d.toLong }.toMap,
      f.collect { case Vector("masked", t, c, v) => ((t, c), v) }
        .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).toSet })
  }
}

/** A generated dump on disk plus its expectations. */
final case class DumpInput(path: Path, bytes: Long, sha256: String, expect: Expect) {
  def sourceRows: Long = expect.rows.values.sum
}

/** Seeded TPC-H-shaped relational tables written as a pg_dump
  * `--column-inserts` dump: SET header, CREATE TABLE DDL, one INSERT
  * per row in a seed-shuffled order, and an ALTER TABLE PK/FK footer.
  * The seed salts every value, so two seeds give different dumps of
  * the same shape and size.
  */
object Gen {

  /** Bumped whenever generated bytes change, so stale caches miss. */
  val Version = 4

  /** Columns masked by the benchmark's transformer config. */
  val Masked: Seq[(String, String, String)] =
    Seq(("customer", "c_name", "email"), ("supplier", "s_name", "random"))

  private def t(name: String, pk: String, fks: Seq[(String, String, String)], cols: (String, String)*) =
    TableSpec(name, cols.toVector, pk, fks)

  val Tables: Seq[TableSpec] = Seq(
    t("region", "r_regionkey", Nil,
      "r_regionkey" -> "integer NOT NULL", "r_name" -> "character varying(25) NOT NULL",
      "r_comment" -> "character varying(152)"),
    t("nation", "n_nationkey", Seq(("n_regionkey", "region", "r_regionkey")),
      "n_nationkey" -> "integer NOT NULL", "n_name" -> "character varying(25) NOT NULL",
      "n_regionkey" -> "integer NOT NULL", "n_comment" -> "character varying(152)"),
    t("supplier", "s_suppkey", Seq(("s_nationkey", "nation", "n_nationkey")),
      "s_suppkey" -> "bigint NOT NULL", "s_name" -> "character varying(25) NOT NULL",
      "s_address" -> "character varying(40) NOT NULL", "s_nationkey" -> "integer NOT NULL",
      "s_phone" -> "character varying(15) NOT NULL", "s_acctbal" -> "numeric(12,2) NOT NULL",
      "s_comment" -> "character varying(101)"),
    t("customer", "c_custkey", Seq(("c_nationkey", "nation", "n_nationkey")),
      "c_custkey" -> "bigint NOT NULL", "c_name" -> "character varying(25) NOT NULL",
      "c_address" -> "character varying(40) NOT NULL", "c_nationkey" -> "integer NOT NULL",
      "c_phone" -> "character varying(15) NOT NULL", "c_acctbal" -> "numeric(12,2) NOT NULL",
      "c_mktsegment" -> "character varying(10) NOT NULL", "c_comment" -> "character varying(117)"),
    t("part", "p_partkey", Nil,
      "p_partkey" -> "bigint NOT NULL", "p_name" -> "character varying(55) NOT NULL",
      "p_mfgr" -> "character varying(25) NOT NULL", "p_brand" -> "character varying(10) NOT NULL",
      "p_type" -> "character varying(25) NOT NULL", "p_size" -> "integer NOT NULL",
      "p_container" -> "character varying(10) NOT NULL", "p_retailprice" -> "numeric(12,2) NOT NULL",
      "p_comment" -> "character varying(23)"),
    t("orders", "o_orderkey", Seq(("o_custkey", "customer", "c_custkey")),
      "o_orderkey" -> "bigint NOT NULL", "o_custkey" -> "bigint NOT NULL",
      "o_orderstatus" -> "character(1) NOT NULL", "o_totalprice" -> "numeric(12,2) NOT NULL",
      "o_orderdate" -> "date NOT NULL", "o_orderpriority" -> "character varying(15) NOT NULL",
      "o_clerk" -> "character varying(15) NOT NULL", "o_shippriority" -> "integer NOT NULL",
      "o_comment" -> "character varying(79)"),
    t("lineitem", "l_orderkey, l_linenumber",
      Seq(("l_orderkey", "orders", "o_orderkey"), ("l_partkey", "part", "p_partkey"),
        ("l_suppkey", "supplier", "s_suppkey")),
      "l_orderkey" -> "bigint NOT NULL", "l_partkey" -> "bigint NOT NULL",
      "l_suppkey" -> "bigint NOT NULL", "l_linenumber" -> "integer NOT NULL",
      "l_quantity" -> "numeric(12,2) NOT NULL", "l_extendedprice" -> "numeric(12,2) NOT NULL",
      "l_discount" -> "numeric(12,2) NOT NULL", "l_tax" -> "numeric(12,2) NOT NULL",
      "l_returnflag" -> "character(1) NOT NULL", "l_linestatus" -> "character(1) NOT NULL",
      "l_shipdate" -> "date NOT NULL", "l_commitdate" -> "date NOT NULL",
      "l_receiptdate" -> "date NOT NULL", "l_shipinstruct" -> "character varying(25) NOT NULL",
      "l_shipmode" -> "character varying(10) NOT NULL", "l_comment" -> "character varying(44)"))

  val byName: Map[String, TableSpec] = Tables.map(s => s.name -> s).toMap

  private val Regions = Vector("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Nations = Vector(
    "ALGERIA" -> 0, "ARGENTINA" -> 1, "BRAZIL" -> 1, "CANADA" -> 1, "EGYPT" -> 4,
    "ETHIOPIA" -> 0, "FRANCE" -> 3, "GERMANY" -> 3, "INDIA" -> 2, "INDONESIA" -> 2,
    "IRAN" -> 4, "IRAQ" -> 4, "JAPAN" -> 2, "JORDAN" -> 4, "KENYA" -> 0,
    "MOROCCO" -> 0, "MOZAMBIQUE" -> 0, "PERU" -> 1, "CHINA" -> 2, "ROMANIA" -> 3,
    "SAUDI ARABIA" -> 4, "VIETNAM" -> 2, "RUSSIA" -> 3, "UNITED KINGDOM" -> 3,
    "UNITED STATES" -> 1)
  private val Words = Vector(
    "furiously", "quickly", "carefully", "blithely", "slyly", "regular", "express",
    "special", "pending", "final", "ironic", "bold", "silent", "even", "unusual",
    "requests", "deposits", "accounts", "packages", "instructions", "theodolites",
    "pinto", "beans", "foxes", "ideas", "platelets", "dependencies", "excuses",
    "sleep", "wake", "haggle", "nag", "cajole", "detect", "integrate", "boost",
    "about", "above", "across", "after", "along", "among", "around", "beside",
    // values a dump parser must escape or keep verbatim
    "don't", "o'clock", "it''s", "50%", "semi;colon", "comma,", "(paren)")
  /** Extra words of the escapes variant: backslashes, which a pg dump
    * (standard_conforming_strings = on) keeps literally, including at
    * the end of a string.
    */
  private val BackslashWords = Vector("back\\slash", "C:\\temp\\", "trailing\\")
  private val Colors = Vector(
    "almond", "antique", "aquamarine", "azure", "beige", "bisque", "black", "blanched",
    "blue", "blush", "brown", "burlywood", "chartreuse", "chiffon", "coral", "cornflower",
    "cream", "cyan", "dark", "deep", "dim", "dodger", "drab", "firebrick", "floral")
  private val Segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Instructs = Vector("DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN")
  private val Modes = Vector("REG AIR", "AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB")
  private val Containers = Vector("SM CASE", "SM BOX", "MED BAG", "MED PKG", "LG CASE", "JUMBO JAR")
  private val Types = Vector("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO")
  private val Finish = Vector("ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED")
  private val Metal = Vector("TIN", "NICKEL", "BRASS", "STEEL", "COPPER")
  private val Epoch1992 = LocalDate.of(1992, 1, 1).toEpochDay

  /** Rows per table at scale factor `sf` (TPC-H cardinalities; lineitem
    * has 1 to 7 lines per order).
    */
  def cardinality(sf: Double): Map[String, Int] = Map(
    "region" -> 5, "nation" -> 25,
    "supplier" -> math.max(10, (10000 * sf).round.toInt),
    "customer" -> math.max(30, (150000 * sf).round.toInt),
    "part" -> math.max(40, (200000 * sf).round.toInt),
    "orders" -> math.max(100, (1500000 * sf).round.toInt))

  /** Canonical string rows per table, as the restored parquet prints
    * them (`null` for SQL NULL). Deterministic in (seed, sf).
    */
  def rows(seed: Long, sf: Double, escapes: Boolean = false): Map[String, Array[Array[String]]] = {
    val rnd = new java.util.SplittableRandom(seed * 0x9e3779b97f4a7c15L + 17)
    def pick[A](v: Vector[A]): A = v(rnd.nextInt(v.size))
    val vocab = if (escapes) Words ++ BackslashWords else Words
    def words(lo: Int, hi: Int): String =
      Vector.fill(lo + rnd.nextInt(hi - lo + 1))(pick(vocab)).mkString(" ")
    def comment(max: Int): String =
      if (rnd.nextInt(40) == 0) null else words(2, 10).take(max)
    def money(lo: Long, hi: Long): String =
      java.math.BigDecimal.valueOf(lo + rnd.nextLong(hi - lo + 1), 2).toPlainString
    def alnum(lo: Int, hi: Int): String = {
      val n = lo + rnd.nextInt(hi - lo + 1)
      val cs = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 ,"
      val sb = new StringBuilder(n)
      for (_ <- 0 until n) sb.append(cs.charAt(rnd.nextInt(cs.length)))
      sb.toString.trim
    }
    def phone(nation: Int): String =
      f"${10 + nation}-${100 + rnd.nextInt(900)}-${100 + rnd.nextInt(900)}-${1000 + rnd.nextInt(9000)}"
    def date(day: Long): String = LocalDate.ofEpochDay(Epoch1992 + day).toString
    val card = cardinality(sf)
    val region = Regions.indices.map(i => Array(i.toString, Regions(i), comment(152))).toArray
    val nation = Nations.indices.map { i =>
      Array(i.toString, Nations(i)._1, Nations(i)._2.toString, comment(152))
    }.toArray
    val supplier = (1 to card("supplier")).map { k =>
      val n = rnd.nextInt(25)
      Array(k.toString, f"Supplier#$k%09d", alnum(10, 40), n.toString, phone(n),
        money(-99999, 999999), comment(101))
    }.toArray
    val customer = (1 to card("customer")).map { k =>
      val n = rnd.nextInt(25)
      Array(k.toString, f"Customer#$k%09d", alnum(10, 40), n.toString, phone(n),
        money(-99999, 999999), pick(Segments), comment(117))
    }.toArray
    val part = (1 to card("part")).map { k =>
      val m = 1 + rnd.nextInt(5)
      Array(k.toString, Vector.fill(5)(pick(Colors)).mkString(" "), s"Manufacturer#$m",
        s"Brand#$m${1 + rnd.nextInt(5)}", s"${pick(Types)} ${pick(Finish)} ${pick(Metal)}",
        (1 + rnd.nextInt(50)).toString, pick(Containers), money(90000, 209900), comment(23))
    }.toArray
    val nOrders = card("orders")
    val orders = new Array[Array[String]](nOrders)
    val lines = Array.newBuilder[Array[String]]
    for (k <- 1 to nOrders) {
      val day = rnd.nextInt(2400).toLong
      orders(k - 1) = Array(k.toString, (1 + rnd.nextInt(customer.length)).toString,
        pick(Vector("F", "O", "P")), money(85000, 55000000), date(day), pick(Priorities),
        f"Clerk#${1 + rnd.nextInt(1000)}%09d", "0", comment(79))
      for (ln <- 1 to 1 + rnd.nextInt(7)) {
        val ship = day + 1 + rnd.nextInt(121)
        lines += Array(k.toString, (1 + rnd.nextInt(part.length)).toString,
          (1 + rnd.nextInt(supplier.length)).toString, ln.toString,
          java.math.BigDecimal.valueOf((1 + rnd.nextInt(50)) * 100L, 2).toPlainString,
          money(90000, 10000000), money(0, 10), money(0, 8),
          pick(Vector("R", "A", "N")), pick(Vector("O", "F")), date(ship),
          date(day + 30 + rnd.nextInt(61)), date(ship + 1 + rnd.nextInt(30)),
          pick(Instructs), pick(Modes), comment(44))
      }
    }
    val all = Map("region" -> region, "nation" -> nation, "supplier" -> supplier,
      "customer" -> customer, "part" -> part, "orders" -> orders, "lineitem" -> lines.result())
    // seed-driven physical row order, as a table's heap order would be
    all.map { case (name, rs) =>
      val a = rs.clone()
      var i = a.length - 1
      while (i > 0) {
        val j = rnd.nextInt(i + 1)
        val x = a(i); a(i) = a(j); a(j) = x
        i -= 1
      }
      name -> a
    }
  }

  def expect(rows: Map[String, Array[Array[String]]]): Expect = {
    def digests(spec: TableSpec, rs: Iterable[Array[String]]): Map[String, Long] =
      spec.cols.indices.map { i =>
        spec.cols(i)._1 -> rs.foldLeft(0L)((acc, r) => acc + Digest.hash(r(i)))
      }.toMap
    val sub = rows("lineitem").filter(_(0).toLong % 10 == 0)
    Expect(
      rows.map { case (t, rs) => t -> rs.length.toLong },
      Tables.map(s => s.name -> digests(s, rows(s.name))).toMap,
      sub.length.toLong,
      digests(byName("lineitem"), sub),
      Masked.map { case (t, c, _) =>
        val i = byName(t).cols.indexWhere(_._1 == c)
        (t, c) -> rows(t).map(_(i)).toSet
      }.toMap)
  }

  def literal(v: String, quoted: Boolean): String =
    if (v == null) "NULL" else if (quoted) "'" + v.replace("'", "''") + "'" else v

  /** Write the rows as a pg_dump `--column-inserts` dump. */
  def writeDump(rows: Map[String, Array[Array[String]]], out: java.io.Writer): Unit = {
    out.write(
      """--
        |-- PostgreSQL database dump
        |--
        |
        |SET statement_timeout = 0;
        |SET lock_timeout = 0;
        |SET client_encoding = 'UTF8';
        |SET standard_conforming_strings = on;
        |SELECT pg_catalog.set_config('search_path', '', false);
        |SET check_function_bodies = false;
        |SET client_min_messages = warning;
        |
        |SET default_tablespace = '';
        |
        |""".stripMargin)
    Tables.foreach { s =>
      out.write(s"--\n-- Name: ${s.name}; Type: TABLE; Schema: public; Owner: postgres\n--\n\n")
      out.write(s"CREATE TABLE public.${s.name} (\n")
      out.write(s.cols.map { case (c, ty) => s"    $c $ty" }.mkString(",\n"))
      out.write("\n);\n\n")
    }
    Tables.foreach { s =>
      out.write(s"--\n-- Data for Name: ${s.name}; Type: TABLE DATA; Schema: public; Owner: postgres\n--\n\n")
      val prefix = s"INSERT INTO public.${s.name} (${s.cols.map(_._1).mkString(", ")}) VALUES ("
      val quoted = s.cols.indices.map(s.quoted).toArray
      rows(s.name).foreach { r =>
        out.write(prefix)
        var i = 0
        while (i < r.length) {
          if (i > 0) out.write(", ")
          out.write(literal(r(i), quoted(i)))
          i += 1
        }
        out.write(");\n")
      }
      out.write("\n")
    }
    Tables.foreach { s =>
      out.write(s"ALTER TABLE ONLY public.${s.name}\n    ADD CONSTRAINT ${s.name}_pkey PRIMARY KEY (${s.pk});\n\n")
    }
    Tables.foreach { s =>
      s.fks.foreach { case (c, parent, pc) =>
        out.write(s"ALTER TABLE ONLY public.${s.name}\n    ADD CONSTRAINT ${s.name}_${c}_fkey " +
          s"FOREIGN KEY ($c) REFERENCES public.$parent($pc);\n\n")
      }
    }
    out.write("--\n-- PostgreSQL database dump complete\n--\n\n")
  }

  /** The dump for (seed, sf), generated once and cached under `cache`,
    * keyed by seed, scale and generator version. A cached copy is used
    * only when its bytes still hash to the recorded digest.
    */
  def cachedDump(cache: Path, seed: Long, sf: Double, escapes: Boolean = false): DumpInput = {
    val dir = cache.resolve(f"dump-v$Version-sf$sf%.4f-seed$seed${if (escapes) "-esc" else ""}")
    val dump = dir.resolve("dump.sql")
    val meta = dir.resolve("expect.tsv")
    val digestFile = dir.resolve("sha256")
    if (Files.isRegularFile(digestFile) && Files.isRegularFile(dump) && Files.isRegularFile(meta)) {
      val want = new String(Files.readAllBytes(digestFile), UTF_8).trim
      if (Digest.sha256(dump) == want) {
        val e = Expect.parse(new String(Files.readAllBytes(meta), UTF_8).split("\n").toSeq)
        return DumpInput(dump, Files.size(dump), want, e)
      }
    }
    val rs = rows(seed, sf, escapes)
    val tmp = Files.createDirectories(cache).resolve(dir.getFileName.toString + ".tmp")
    Runner.deleteRecursively(tmp)
    Files.createDirectories(tmp)
    val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      Files.newOutputStream(tmp.resolve("dump.sql")), UTF_8), 1 << 20)
    try writeDump(rs, w) finally w.close()
    val e = expect(rs)
    Files.write(tmp.resolve("expect.tsv"), e.lines.mkString("", "\n", "\n").getBytes(UTF_8))
    val sha = Digest.sha256(tmp.resolve("dump.sql"))
    Files.write(tmp.resolve("sha256"), sha.getBytes(UTF_8))
    Runner.deleteRecursively(dir)
    Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
    DumpInput(dump, Files.size(dump), sha, e)
  }
}
