package perfbench

import java.sql.{Connection, DriverManager, ResultSet, Types}

import org.apache.spark.sql.types._

import graft.pipelines.TargetDb
import graft.schema.{Specs, TableSpec}
import graft.sink.{ConflictPolicy, Ddl, DerbyUpsertDialect}

/** The stand-in target database: embedded Derby, in memory.
  *
  * Flush policy: an in-memory Derby database never writes to disk, so
  * commits are not durable. Both sides of any comparison run this same
  * target, so the policy cancels out; a durable target would add its own
  * fsync cost to every statement batch.
  */
object Target {

  def db(name: String): TargetDb =
    TargetDb(s"jdbc:derby:memory:$name;create=true", DerbyUpsertDialect,
      TableSpec.derbyType, supportsIfNotExists = false,
      supportsDropSchemaCascade = false, supportsForeignKeys = false)

  /** All 13 specs, with loandeals' bare `ON CONFLICT DO NOTHING` replaced
    * by the keyed ignore: Derby's MERGE cannot express the bare form.
    */
  def specs: Seq[TableSpec] = Specs.all().map { spec =>
    spec.policy match {
      case ConflictPolicy.IgnoreAny => spec.copy(policy = ConflictPolicy.IgnoreOnConflict("_id"))
      case _ => spec
    }
  }

  /** The column ids are reconciled on (mirrors the pipelines' rule). */
  def keyOf(spec: TableSpec): String =
    spec.policy.keyOption.getOrElse("_id")

  def connect(db: TargetDb): Connection = DriverManager.getConnection(db.url, db.props)

  def canonicalDecimal(d: java.math.BigDecimal): String =
    if (d.signum == 0) "0" else d.stripTrailingZeros.toPlainString

  /** One column value in the generator's canonical text form. */
  def canonical(rs: ResultSet, i: Int, dt: DataType): String = {
    val v = dt match {
      case _: DecimalType =>
        val d = rs.getBigDecimal(i)
        if (d == null) null else canonicalDecimal(d)
      case BooleanType =>
        val b = rs.getBoolean(i)
        if (rs.wasNull()) null else b.toString
      case _ => rs.getString(i)
    }
    if (rs.wasNull()) null else v
  }

  /** Every row of `spec`'s table as id → canonical values in flat column
    * order, read over plain JDBC (no Spark job).
    */
  def dump(db: TargetDb, spec: TableSpec): Map[Long, Array[String]] = {
    val conn = connect(db)
    try {
      val cols = spec.columns
      val rs = conn.createStatement().executeQuery(
        "SELECT \"id\", " + cols.map(c => "\"" + c.name + "\"").mkString(", ") +
          " FROM \"" + spec.table + "\"")
      val out = Map.newBuilder[Long, Array[String]]
      while (rs.next())
        out += rs.getLong(1) -> cols.zipWithIndex.map { case (c, i) =>
          canonical(rs, i + 2, c.dataType) }.toArray
      rs.close()
      out.result()
    } finally conn.close()
  }

  /** Create `spec`'s table and insert rows given in canonical form. */
  def insert(db: TargetDb, spec: TableSpec, rows: Seq[(Long, Array[String])]): Unit = {
    Ddl.ensureTable(db.url, spec.ddl(db.sqlType, db.supportsIfNotExists, db.supportsForeignKeys), db.props)
    val conn = connect(db)
    try {
      conn.setAutoCommit(false)
      val cols = spec.columns
      val ps = conn.prepareStatement("INSERT INTO \"" + spec.table + "\" (\"id\", " +
        cols.map(c => "\"" + c.name + "\"").mkString(", ") + ") VALUES (" +
        Seq.fill(cols.size + 1)("?").mkString(", ") + ")")
      rows.foreach { case (id, vs) =>
        ps.setLong(1, id)
        cols.zipWithIndex.foreach { case (c, i) =>
          val v = vs(i)
          val j = i + 2
          if (v == null) ps.setNull(j, sqlType(c.dataType))
          else c.dataType match {
            case BooleanType => ps.setBoolean(j, v.toBoolean)
            case IntegerType => ps.setInt(j, v.toInt)
            case _: DecimalType => ps.setBigDecimal(j, new java.math.BigDecimal(v))
            case DateType => ps.setDate(j, java.sql.Date.valueOf(v))
            case _ => ps.setString(j, v)
          }
        }
        ps.addBatch()
      }
      ps.executeBatch()
      conn.commit()
    } finally conn.close()
  }

  private def sqlType(dt: DataType): Int = dt match {
    case BooleanType => Types.BOOLEAN
    case IntegerType => Types.INTEGER
    case _: DecimalType => Types.DECIMAL
    case DateType => Types.DATE
    case _ => Types.VARCHAR
  }

  /** Order-independent digest of a table dump (rows sorted by id). */
  def digest(rows: Map[Long, Array[String]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.toSeq.sortBy(_._1).foreach { case (id, vs) =>
      md.update(id.toString.getBytes("UTF-8"))
      vs.foreach(v => md.update(("\u0001" + String.valueOf(v)).getBytes("UTF-8")))
      md.update('\n'.toByte)
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  /** Drop the in-memory database entirely (frees its heap). */
  def drop(name: String): Unit =
    try DriverManager.getConnection(s"jdbc:derby:memory:$name;drop=true")
    catch { case _: java.sql.SQLException => () } // Derby reports a drop as an exception
}
