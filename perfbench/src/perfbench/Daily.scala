package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.pipelines.{DailyUpdatePipeline, SnapshotUpdatePipeline}

/** `daily`: the incremental lifecycle against a live base. Each day
  * applies one seeded delta drop per table through `DailyUpdatePipeline`
  * (one operation each), then one full-snapshot diff of `trades` through
  * `SnapshotUpdatePipeline`. Drops come from [[Drops]].
  *
  * After each apply the whole table must equal the model, so known keys
  * keep their ids, new keys extend `max(id)`, updated columns equal the
  * drop and snapshot deletes are gone; each delta must be archived and
  * removed.
  */
final class Daily(ctx: Ctx, baseRows: Int, deltaRows: Int) extends Workload {

  import Drops.Model

  private val specs = Target.specs
  private val snapshotSpec = specs.find(_.table == "trades").get
  private val db = Target.db("perfbench_daily")
  private val drops = ctx.work.resolve("drops")
  private val archive = ctx.work.resolve("archive").toString
  private val models = mutable.LinkedHashMap.empty[String, Model]
  private var day = 0

  val nominalSeconds = 5.0

  /** The base is written straight over JDBC (ids 1..n, as a migration
    * numbers them): a Spark migration of 13 tables in a cold JVM would
    * double the run's set-up time, and `migrate` measures that path.
    * Warm-up: day 0 applies three deltas and a snapshot, checked.
    */
  def setup(): Unit = {
    specs.zipWithIndex.foreach { case (spec, t) =>
      val m = new Model(spec)
      val r = Gen.rng(ctx.seed, t)
      (1 to baseRows).foreach { i =>
        val key = if (m.key == "_id") Gen.oid(r, t, i.toLong) else s"p-base-$i"
        m.put(i.toLong, Drops.randomRow(spec, r, m.keyIdx, key))
      }
      Target.insert(db, spec, m.rows.toSeq.sortBy(_._1))
      models(spec.table) = m
    }
    val warm = new Phase
    val off = new Tracer(ctx.spark, enabled = false)
    val mirror = new Mirror(ctx.spark, off, db)
    (0 until 3).foreach(t => delta(warm, off, mirror, "day0", t))
    snapshot(warm, off, mirror, "day0")
    require(warm.problems.isEmpty, warm.problems.mkString("; "))
  }

  /** One day: a delta per table, then the snapshot. */
  def iterate(p: Phase, tr: Tracer): Unit = {
    day += 1
    val mirror = new Mirror(ctx.spark, tr, db)
    val stamp = s"day$day"
    specs.indices.foreach(t => delta(p, tr, mirror, stamp, t))
    snapshot(p, tr, mirror, stamp)
  }

  private def delta(p: Phase, tr: Tracer, mirror: Mirror, stamp: String, t: Int): Unit = {
    val spec = specs(t)
    val m = models(spec.table)
    val rows = Drops.delta(m, Gen.rng(ctx.seed, 1000 * day + t), day, t, deltaRows)
    val path = drops.resolve(stamp).resolve(spec.table)
    Gen.writeCsv(path, spec.columns.map(_.name), rows)
    val applied = p.op(rows.size, s"$stamp delta ${spec.table}") {
      if (tr.enabled) mirror.daily(spec, path.toString, archive, stamp)
      else DailyUpdatePipeline.run(ctx.spark, spec, path.toString, db, archive, stamp)
    }
    applied.foreach { ok =>
      p.check(ok, s"$stamp ${spec.table}: delta not found")
      p.check(!Files.exists(path), s"$stamp ${spec.table}: delta not removed")
      p.check(Files.exists(Paths.get(archive, s"${spec.table}_$stamp")),
        s"$stamp ${spec.table}: delta not archived")
      m.upsert(rows)
      compare(p, m, s"$stamp delta")
    }
  }

  private def snapshot(p: Phase, tr: Tracer, mirror: Mirror, stamp: String): Unit = {
    val m = models(snapshotSpec.table)
    val (rows, gone) = Drops.snapshot(m, Gen.rng(ctx.seed, 1000 * day + 999), day)
    val path = drops.resolve(stamp).resolve("snapshot")
    Gen.writeCsv(path, m.spec.columns.map(_.name), rows)
    val t0 = System.nanoTime()
    val res = p.op(rows.size, s"$stamp snapshot ${m.spec.table}", latency = false) {
      if (tr.enabled) mirror.snapshot(m.spec, path.toString)
      else SnapshotUpdatePipeline.run(ctx.spark, m.spec, path.toString, db)
    }
    p.sample("snapshot_s", (System.nanoTime() - t0) / 1e9)
    res.foreach { case (skipped, deleted) =>
      p.check(skipped == 0, s"$stamp snapshot: $skipped rows skipped")
      p.check(deleted == gone.size, s"$stamp snapshot: deleted $deleted, expected ${gone.size}")
      m.upsert(rows.filter { row =>
        m.byKey.get(row(m.keyIdx)).forall(id => !m.rows(id).sameElements(row))
      })
      m.delete(gone)
      compare(p, m, s"$stamp snapshot")
    }
  }

  private def compare(p: Phase, m: Model, label: String): Unit = {
    val live = Target.dump(db, m.spec)
    val bad = (live.keySet ++ m.rows.keySet).toSeq.sorted.filterNot { id =>
      (live.get(id), m.rows.get(id)) match {
        case (Some(a), Some(b)) => a.sameElements(b)
        case _ => false
      }
    }
    bad.headOption.foreach { id =>
      p.check(false, s"$label ${m.spec.table}: ${bad.size} rows differ from the model, first id $id: " +
        s"db=${live.get(id).map(_.mkString("|"))} model=${m.rows.get(id).map(_.mkString("|"))}")
    }
  }

  override def close(): Unit = Target.drop("perfbench_daily")
}
