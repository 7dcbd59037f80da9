package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.{Instant, LocalDate, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import org.apache.spark.sql.types._

import graft.schema.{Bson, TableSpec}

/** Seeded input generator: Mongo extended-JSON documents for every spec,
  * and flat CSV delta / snapshot drops in staging layout.
  *
  * Every value is drawn from a [[SplittableRandom]] seeded by (seed, table),
  * and files are written in a fixed order, so the same seed always gives
  * byte-identical files.
  */
object Gen {

  private val words = Vector("north", "delta", "maize", "cedar", "harbor",
    "coffee", "silver", "market", "river", "summit", "lotus", "copper",
    "prairie", "orchid", "basalt", "meadow", "tundra", "quartz", "savanna")

  /** loanapplications keeps documents created after this instant
    * (`Specs.loanapplications.filter`).
    */
  private val loanCutoff = Instant.parse("2022-10-05T00:00:00Z").getEpochSecond
  private val dateLo = Instant.parse("2021-01-01T00:00:00Z").getEpochSecond
  private val dateHi = Instant.parse("2024-12-31T00:00:00Z").getEpochSecond
  private val isoSecond = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
    .withZone(ZoneOffset.UTC)

  def rng(seed: Long, stream: Int): SplittableRandom =
    new SplittableRandom(seed * 1000003L + stream)

  private def word(r: SplittableRandom): String =
    s"${words(r.nextInt(words.size))} ${r.nextInt(100000)}"

  /** A 24-hex ObjectId, unique per (table, index); the random middle
    * shuffles key order against generation order.
    */
  def oid(r: SplittableRandom, table: Int, idx: Long): String =
    f"$table%02x${r.nextLong() & 0xffffffffffL}%010x$idx%012x"

  /** What one generated collection implies for its target table. */
  final case class Collection(table: String, docs: Long, rows: Long, bytes: Long)

  /** Write `<dir>/<collection>.jsonl` for every spec, `docs` documents each.
    * Fields are absent with probability 1/10 (the transform's typed-null
    * path); `products` arrays of loanapplications hold globally unique
    * values because they are that table's conflict key.
    */
  def documents(seed: Long, specs: Seq[TableSpec], docs: Int, dir: Path): Seq[Collection] = {
    Files.createDirectories(dir)
    specs.zipWithIndex.map { case (spec, t) =>
      val r = rng(seed, t)
      val unwind = spec.unwind
      val sb = new java.lang.StringBuilder(docs * 256)
      var rows = 0L
      for (i <- 0 until docs) {
        var keep = true
        var products = 0
        sb.append('{')
        var first = true
        spec.source.fields.foreach { f =>
          val absent = f.name != "_id" && r.nextInt(10) == 0
          if (!absent) {
            if (!first) sb.append(", ")
            first = false
            sb.append('"').append(f.name).append("\": ")
            if (f.name == "_id") sb.append("{\"$oid\": \"").append(oid(r, t, i)).append("\"}")
            else if (unwind.contains(f.name)) {
              products = r.nextInt(4)
              sb.append((0 until products).map(j => s"\"p-$i-$j\"").mkString("[", ", ", "]"))
            } else if (f.dataType == Bson.dateType && spec.filter.isDefined && f.name == "dateCreated") {
              val s = dateSeconds(r)
              if (s <= loanCutoff) keep = false
              sb.append("{\"$date\": \"").append(isoSecond.format(Instant.ofEpochSecond(s))).append("\"}")
            } else value(r, f.dataType, sb, i)
          } else if (unwind.contains(f.name) || (spec.filter.isDefined && f.name == "dateCreated"))
            keep = false
        }
        sb.append("}\n")
        rows += (if (unwind.isEmpty) 1 else if (keep) products else 0)
      }
      val bytes = sb.toString.getBytes(UTF_8)
      Files.write(dir.resolve(s"${spec.collection}.jsonl"), bytes)
      Collection(spec.table, docs, rows, bytes.length.toLong)
    }
  }

  private def dateSeconds(r: SplittableRandom): Long = {
    val s = dateLo + r.nextLong(dateHi - dateLo)
    if (s == loanCutoff) s + 1 else s
  }

  private def value(r: SplittableRandom, dt: DataType, sb: java.lang.StringBuilder, i: Int): Unit =
    dt match {
      case d if d == Bson.dateType =>
        sb.append("{\"$date\": \"").append(isoSecond.format(Instant.ofEpochSecond(dateSeconds(r)))).append("\"}")
      case StringType => sb.append('"').append(word(r)).append('"')
      case BooleanType => sb.append(r.nextBoolean())
      case IntegerType => sb.append(r.nextInt(520))
      case _: DecimalType => sb.append(java.math.BigDecimal.valueOf(r.nextLong(10000000L), 2).toPlainString)
      case ArrayType(et, _) =>
        sb.append('[')
        val n = r.nextInt(3)
        for (j <- 0 until n) {
          if (j > 0) sb.append(", ")
          value(r, et, sb, i)
        }
        sb.append(']')
      case st: StructType =>
        sb.append('{')
        var first = true
        st.fields.foreach { f =>
          if (r.nextInt(10) != 0) {
            if (!first) sb.append(", ")
            first = false
            sb.append('"').append(f.name).append("\": ")
            value(r, f.dataType, sb, i)
          }
        }
        sb.append('}')
      case other => throw new IllegalArgumentException(s"no generator for $other")
    }

  // ---- flat rows: the daily lifecycle's delta and snapshot drops --------

  /** One flat value in canonical text form (what [[Target.canonical]] reads
    * back from the database), or null.
    */
  def flatValue(r: SplittableRandom, dt: DataType): String = dt match {
    case StringType => word(r)
    case BooleanType => r.nextBoolean().toString
    case IntegerType => r.nextInt(520).toString
    case _: DecimalType => Target.canonicalDecimal(java.math.BigDecimal.valueOf(r.nextLong(10000000L), 2))
    case DateType => LocalDate.ofEpochDay(LocalDate.of(2021, 1, 1).toEpochDay + r.nextInt(1460)).toString
    case other => throw new IllegalArgumentException(s"no flat generator for $other")
  }

  /** Write flat rows as one CSV part in staging layout (header, RFC-4180
    * quoting, columns in the spec's flat order, null = empty field).
    */
  def writeCsv(dir: Path, columns: Seq[String], rows: Seq[Array[String]]): Long = {
    Files.createDirectories(dir)
    val sb = new java.lang.StringBuilder
    sb.append(columns.mkString(",")).append('\n')
    rows.foreach { row =>
      var i = 0
      while (i < row.length) {
        if (i > 0) sb.append(',')
        val v = row(i)
        if (v != null) sb.append('"').append(v.replace("\"", "\"\"")).append('"')
        i += 1
      }
      sb.append('\n')
    }
    val bytes = sb.toString.getBytes(UTF_8)
    Files.write(dir.resolve("part-00000.csv"), bytes)
    bytes.length.toLong
  }

  /** Byte-level fingerprint of every file under `dir` (sorted by path) —
    * what the generator's determinism self-test compares.
    */
  def fingerprint(dir: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val files = {
      val s = Files.walk(dir)
      try s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path]).sortBy(_.toString)
      finally s.close()
    }
    files.foreach { f =>
      md.update(dir.relativize(f).toString.getBytes(UTF_8))
      md.update(Files.readAllBytes(f))
    }
    md.digest().map(b => f"$b%02x").mkString
  }
}
