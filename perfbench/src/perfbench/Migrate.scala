package perfbench

import graft.pipelines.{MigrationPipeline, ResetPipeline}
import graft.schema.TableSpec

/** `migrate`: the full Mongo→SQL migration of all 13 collections into an
  * empty schema, each fresh pass followed by an idempotent rerun pass.
  * One operation is one table's `MigrationPipeline.runAll` call.
  */
final class Migrate(ctx: Ctx, docsPerCollection: Int) extends Workload {

  private val specs = Target.specs
  private val db = Target.db("perfbench_migrate")
  private val docsDir = ctx.work.resolve("docs")
  private val stagingDir = ctx.work.resolve("staging").toString
  private var collections: Map[String, Gen.Collection] = Map.empty

  val nominalSeconds = 20.0

  def setup(): Unit = {
    collections = Gen.documents(ctx.seed, specs, docsPerCollection, docsDir)
      .map(c => c.table -> c).toMap
    // warm-up: the first table's fresh and rerun loads, checked
    val warm = new Phase
    pass(warm, new Tracer(ctx.spark, enabled = false), specs.take(1))
    require(warm.problems.isEmpty, warm.problems.mkString("; "))
  }

  def iterate(p: Phase, tr: Tracer): Unit = pass(p, tr, specs)

  /** Reset the schema (untimed), load the tables fresh, then load them
    * again; the rerun must leave each table byte-equal.
    */
  private def pass(p: Phase, tr: Tracer, tables: Seq[TableSpec]): Unit = {
    ResetPipeline.run(db, "APP", specs)
    val mirror = new Mirror(ctx.spark, tr, db)
    def load(label: String, spec: TableSpec): String = {
      val docs = collections(spec.table).docs.toDouble
      val t0 = System.nanoTime()
      val skipped = p.op(docs, s"$label ${spec.table}") {
        if (tr.enabled) mirror.migrate(spec, docsDir.toString, stagingDir)
        else MigrationPipeline.runAll(ctx.spark, Seq(spec), docsDir.toString, db,
          Some(stagingDir))(spec.table)
      }
      p.sample(s"${label}_s", (System.nanoTime() - t0) / 1e9)
      p.sample(s"${label}_docs", docs)
      tr.count("ingest.source_bytes", collections(spec.table).bytes.toDouble)
      skipped.foreach(s => p.check(s == 0, s"$label ${spec.table}: $s rows skipped"))
      Target.digest(checkTable(p, label, spec.table))
    }
    val fresh = tables.map(spec => spec.table -> load("fresh", spec)).toMap
    tables.foreach { spec =>
      p.check(load("rerun", spec) == fresh(spec.table), s"rerun changed table ${spec.table}")
    }
  }

  /** Row count as the generated documents imply, ids 1..n without gaps. */
  private def checkTable(p: Phase, label: String, table: String): Map[Long, Array[String]] = {
    val spec = specs.find(_.table == table).get
    val rows = Target.dump(db, spec)
    val expected = collections(table).rows
    p.check(rows.size == expected, s"$label $table: ${rows.size} rows, expected $expected")
    p.check(rows.keySet == (1L to rows.size.toLong).toSet, s"$label $table: ids are not 1..${rows.size}")
    rows
  }

  override def close(): Unit = Target.drop("perfbench_migrate")
}
