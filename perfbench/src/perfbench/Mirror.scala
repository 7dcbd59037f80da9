package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, when}
import org.apache.spark.sql.types.StructType

import graft.ingest.{ExtendedJson, Staging}
import graft.keys.SurrogateKeys
import graft.ops.Diff
import graft.pipelines.TargetDb
import graft.schema.TableSpec
import graft.sink.{ConflictPolicy, Ddl, UpsertSink}

/** The traced run's copy of the pipeline drivers: the same public layer
  * calls in the order `MigrationPipeline.load`, `DailyUpdatePipeline.run`
  * and `SnapshotUpdatePipeline.run` make them, each inside a span.
  *
  * Lazy frames get a `noop`-write probe so that their layer has a time of
  * its own. A layer's `*_s` value is its span minus the probe of the
  * frame it consumes, because the engine's actions recompute their
  * upstream.
  */
final class Mirror(spark: SparkSession, tr: Tracer, db: TargetDb) {

  import Tracer.{noop, noopObserved}

  private def flatSchema(spec: TableSpec) = StructType(spec.targetSchema.filterNot(_.name == "id"))

  private def self(layer: String, span: String, upstream: Double): Unit =
    tr.count(layer, math.max(0.0, tr.last(span) - upstream))

  private def ddl(spec: TableSpec): Unit = tr.span("sink.ddl") {
    Ddl.ensureTable(db.url, spec.ddl(db.sqlType, db.supportsIfNotExists, db.supportsForeignKeys), db.props)
  }

  private def liveTable(spec: TableSpec): DataFrame =
    spark.read.jdbc(db.url, "\"" + spec.table + "\"", db.props)

  /** `MigrationPipeline.runFrom` for one extended-JSON collection. */
  def migrate(spec: TableSpec, docsDir: String, stagingDir: String): Long =
    tr.span("pipelines.load") {
      ddl(spec)
      val raw = ExtendedJson.read(spark, spec.source, s"$docsDir/${spec.collection}.jsonl")
      tr.span("ingest.parse")(noop(raw))
      tr.count("ingest.parse_s", tr.last("ingest.parse"))
      val flat = spec.transform(raw)
      val rows = tr.span("schema.transform")(noopObserved(flat, count(lit(1)).as("n")))("n")
      tr.count("schema.rows_out", rows.asInstanceOf[Long].toDouble)
      self("schema.transform_s", "schema.transform", tr.last("ingest.parse"))
      load(spec, flat, Some(s"$stagingDir/${spec.table}"), atScale = true,
        upstream = tr.last("schema.transform"))
    }

  /** `DailyUpdatePipeline.run` for one delta drop. */
  def daily(spec: TableSpec, deltaPath: String, archiveDir: String, stamp: String): Boolean =
    tr.span("pipelines.load") {
      if (!Staging.exists(spark, deltaPath)) false
      else {
        ddl(spec)
        val delta = Staging.read(spark, flatSchema(spec), deltaPath)
        tr.span("ingest.staging_read")(noop(delta))
        tr.count("ingest.staging_read_s", tr.last("ingest.staging_read"))
        load(spec, delta, None, atScale = false, upstream = tr.last("ingest.staging_read"))
        tr.span("ingest.archive")(Staging.archive(spark, deltaPath, archiveDir, stamp))
        tr.count("ingest.archive_s", tr.last("ingest.archive"))
        true
      }
    }

  /** `SnapshotUpdatePipeline.run` with `deleteVanished = true`. */
  def snapshot(spec: TableSpec, snapshotPath: String): (Long, Long) =
    tr.span("pipelines.load") {
      ddl(spec)
      val schema = flatSchema(spec)
      val snap = Staging.read(spark, schema, snapshotPath)
      tr.span("ingest.staging_read")(noop(snap))
      tr.count("ingest.staging_read_s", tr.last("ingest.staging_read"))
      val key = Target.keyOf(spec)
      val live = liveTable(spec).select(schema.fieldNames.toSeq.map(col): _*)
      tr.span("sink.live_read")(noop(live))
      tr.count("sink.live_read_s", tr.last("sink.live_read"))
      val cmp = spec.policy match {
        case ConflictPolicy.UpdateOnConflict(_, upd) => upd.filter(schema.fieldNames.contains)
        case _ => Nil
      }
      val diff = Diff.snapshotDiff(live, snap, Seq(key), cmp)
      val obs = tr.span("ops.diff")(noopObserved(diff,
        sum(when(col("op") =!= "delete", 1).otherwise(0)).as("changed"),
        sum(when(col("op") === "delete", 1).otherwise(0)).as("deleted")))
      self("ops.diff_s", "ops.diff", tr.last("ingest.staging_read") + tr.last("sink.live_read"))
      def n(k: String) = Option(obs(k)).map(_.asInstanceOf[Long]).getOrElse(0L).toDouble
      tr.count("ops.diff_useful", n("changed") + n("deleted"))
      tr.count("ops.diff_rows", tr.span(Tracer.CountSpan)(snap.count()).toDouble)
      val changedKeys = diff.where(col("op").isin("insert", "update")).select(key)
      val changed = snap.join(changedKeys, Seq(key), "left_semi")
      val skipped = load(spec, changed, None, atScale = false, upstream = tr.last("ops.diff"))
      val deleted = tr.span("sink.delete")(UpsertSink.deleteByKey(
        diff.where(col("op") === "delete").select(key), db.url, spec.table, key,
        connectionProps = db.props))
      self("sink.delete_s", "sink.delete", tr.last("ops.diff"))
      tr.count("sink.rows_deleted", deleted.toDouble)
      (skipped, deleted)
    }

  /** `MigrationPipeline.load`: staging hop, live keys, reconcile, upsert. */
  private def load(spec: TableSpec, flat: DataFrame, staging: Option[String],
      atScale: Boolean, upstream: Double): Long = {
    val schema = flatSchema(spec)
    val (staged, stagedProbe) = staging match {
      case Some(path) =>
        tr.span("ingest.staging_write")(Staging.write(flat, path))
        self("ingest.staging_write_s", "ingest.staging_write", upstream)
        tr.count("ingest.staging_bytes", dirBytes(path))
        val s = Staging.read(spark, schema, path)
        tr.span("ingest.staging_read")(noop(s))
        tr.count("ingest.staging_read_s", tr.last("ingest.staging_read"))
        (s, tr.last("ingest.staging_read"))
      case None => (flat, upstream)
    }
    val key = Target.keyOf(spec)
    val existing = liveTable(spec).select(col("id"), col(key))
    tr.span("sink.live_read")(noop(existing))
    tr.count("sink.live_read_s", tr.last("sink.live_read"))
    val maxId = tr.span(Tracer.CountSpan)(maxIdOf(spec))
    // the call itself may run eager jobs (global numbering); the probe then
    // re-reads its inputs, which the upsert's own action repeats as well
    var probe = 0.0
    val reconciled = tr.span("keys.reconcile") {
      val t0 = System.nanoTime()
      val r =
        if (atScale) SurrogateKeys.reconcileAtScale(existing, staged, key)
        else SurrogateKeys.reconcile(existing, staged, key)
      val t1 = System.nanoTime()
      val obs = noopObserved(r,
        sum(when(col("id") <= maxId, 1).otherwise(0)).as("existing"),
        sum(when(col("id") > maxId, 1).otherwise(0)).as("new"))
      probe = (System.nanoTime() - t1) / 1e9
      tr.count("keys.reconcile_s", (t1 - t0) / 1e9 +
        math.max(0.0, probe - stagedProbe - tr.last("sink.live_read")))
      def n(k: String) = Option(obs(k)).map(_.asInstanceOf[Long]).getOrElse(0L).toDouble
      tr.count("keys.existing", n("existing"))
      tr.count("keys.new", n("new"))
      r
    }
    val keyed = reconciled.select(("id" +: schema.fieldNames.toSeq).map(col): _*)
    val (rows, distinct) = tr.span(Tracer.CountSpan) {
      val r = keyed.count()
      (r, spec.policy.keyOption.fold(r)(k => keyed.select(k).distinct().count()))
    }
    val skipped = tr.span("sink.upsert")(UpsertSink.upsert(keyed, db.url, spec.table,
      spec.policy, db.dialect, connectionProps = db.props, tolerance = spec.tolerance))
    self("sink.upsert_s", "sink.upsert", probe)
    tr.count("sink.rows_upserted", (distinct - skipped).toDouble)
    tr.count("sink.rows_deduped", (rows - distinct).toDouble)
    tr.count("sink.rows_skipped", skipped.toDouble)
    skipped
  }

  private def maxIdOf(spec: TableSpec): Long = {
    val conn = Target.connect(db)
    try {
      val rs = conn.createStatement().executeQuery("SELECT MAX(\"id\") FROM \"" + spec.table + "\"")
      rs.next()
      rs.getLong(1)
    } finally conn.close()
  }

  private def dirBytes(dir: String): Double = {
    val s = Files.walk(Paths.get(dir))
    try s.filter(Files.isRegularFile(_)).filter(!_.getFileName.toString.startsWith("."))
      .mapToLong(Files.size(_)).sum().toDouble
    finally s.close()
  }
}
