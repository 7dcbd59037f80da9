package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper

import graft.core.GraftSession

/** Benchmark harness: runs one workload and writes its result as JSON.
  *
  * {{{
  * perfbench.Main --workload <migrate|daily|queries> --seed <n>
  *   --seconds <s> --trace <0|1> --work <dir> --out <file>
  *   [--sf-dir <test-data dir>] [--bank <file>] [--write-bank 1]
  * }}}
  *
  * `--trace 0` reports the end-to-end metrics. `--trace 1` measures half
  * the time untraced and half traced, and reports the per-layer metrics
  * plus the tracing overhead (traced minus untraced) of the end-to-end
  * rate and median; the tail's overhead is printed beside them when each
  * half has a tail above its median.
  */
object Main {

  /** Layer spans whose Spark counters are reported one by one. */
  val layerSpans: Seq[String] = Seq("ingest.parse", "schema.transform",
    "ingest.staging_write", "ingest.staging_read", "sink.live_read",
    "keys.reconcile", "sink.upsert", "sink.delete", "ops.diff",
    "queries.build", "queries.action")

  val sparkCounters: Seq[(String, String)] = Seq("jobs" -> "count",
    "stages" -> "count", "tasks" -> "count", "task_run_s" -> "s",
    "task_cpu_s" -> "s", "task_wait_s" -> "s", "gc_s" -> "s",
    "shuffle_write_bytes" -> "bytes", "shuffle_read_bytes" -> "bytes",
    "spill_bytes" -> "bytes", "failed_tasks" -> "count")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val out = Paths.get(a("out"))
    val loadStart = Stats.loadavg()
    val liveHeap = Stats.liveHeapPeak()
    Files.createDirectories(work)

    val cores = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val ctx = Ctx(spark, seed, work, a.get("sf-dir"), Paths.get(a.getOrElse("bank", "")))
    val writeBank = a.get("write-bank").contains("1")
    val w: Workload = workload match {
      case "migrate" => new Migrate(ctx, docsPerCollection = 100)
      case "daily" => new Daily(ctx, baseRows = 1000, deltaRows = 20)
      case "queries" => new Queries(ctx, Queries.all, writeBank)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.setup()
    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val off = new Tracer(spark, enabled = false)
    val result = new ObjectMapper().createObjectNode()
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val notes = mutable.LinkedHashMap.empty[String, Any]
    val phases =
      if (!trace) {
        val p = measure(w, seconds, off)
        metrics ++= endToEnd(p, setupS)
        Seq(p)
      } else {
        // untraced and traced iterations alternate, so drift hits both alike
        val untraced = new Phase
        val traced = new Phase
        val tr = new Tracer(spark, enabled = true)
        (1 to iterations(w, seconds / 2)).foreach { _ =>
          w.iterate(untraced, off)
          w.iterate(traced, tr)
        }
        tr.drain()
        tr.close()
        metrics ++= perLayer(traced, tr)
        metrics("jvm.live_heap_peak_mb") = (liveHeap.get(), "MB")
        val u = endToEnd(untraced, setupS)
        val t = endToEnd(traced, setupS)
        for (k <- Seq("ops_per_s", "p50_s"))
          metrics(s"trace.overhead_$k") = (t(k)._1 - u(k)._1, u(k)._2)
        // a half of 20 samples or fewer has its "tail" at or below its median
        val (_, uPct, uN) = Stats.tail(untraced.latencies.toSeq, untraced.failed)
        val (_, tPct, tN) = Stats.tail(traced.latencies.toSeq, traced.failed)
        notes("trace.overhead_tail_s") =
          if (uPct > 50 && tPct > 50) t("tail_s")._1 - u("tail_s")._1
          else f"not reported: a half's tail is p${math.min(uPct, tPct)}%.0f of ${math.min(uN, tN)} samples, not above its median"
        notes("untraced") = u.map { case (k, v) => k -> v._1 }
        notes("traced") = t.map { case (k, v) => k -> v._1 }
        Seq(untraced, traced)
      }
    w.close()
    spark.stop()

    val attempted = phases.map(_.attempted).sum
    val failed = phases.map(_.failed).sum
    val problems = phases.flatMap(_.problems)
    phases.last.extra.foreach { case (k, v) if v.nonEmpty => notes(s"sum.$k") = v.sum; case _ => }
    val (_, tailPct, tailN) = Stats.tail(phases.last.latencies.toSeq, phases.last.failed)
    notes("tail_percentile") = tailPct
    notes("tail_samples") = tailN
    notes("live_heap_peak_mb") = liveHeap.get()
    notes("failed_share") = if (attempted == 0) 1.0 else failed.toDouble / attempted
    notes("loadavg_start") = loadStart
    notes("loadavg_end") = Stats.loadavg()
    notes("problems") = problems.take(20)

    result.put("correct", problems.isEmpty && attempted > 0)
    result.put("attempted", attempted)
    result.put("failed", failed)
    val m = result.putObject("metrics")
    metrics.foreach { case (k, (v, unit)) =>
      m.putObject(k).put("value", v).put("unit", unit)
    }
    val mapper = new ObjectMapper()
    Files.write(out, mapper.writeValueAsBytes(result))
    Files.write(Paths.get(out.toString + ".notes"), mapper.writeValueAsBytes(toJson(notes)))
    System.exit(if (problems.isEmpty && attempted > 0 && failed == 0) 0 else 1)
  }

  private def toJson(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => j.put(k.toString, toJson(x)) }
      j
    case s: Seq[_] => java.util.Arrays.asList(s.map(toJson): _*)
    case other => other
  }

  /** The iterations `budget` seconds stand for (at least one). */
  def iterations(w: Workload, budget: Double): Int =
    math.max(1, math.ceil(budget / w.nominalSeconds).toInt)

  def measure(w: Workload, budget: Double, tr: Tracer): Phase = {
    val p = new Phase
    (1 to iterations(w, budget)).foreach(_ => w.iterate(p, tr))
    p
  }

  def endToEnd(p: Phase, setupS: Double): mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap(
    "setup_s" -> (setupS, "s"),
    "peak_rss_mb" -> (Stats.peakRssMb(), "MB"),
    "ops_per_s" -> (p.units / p.busy, "1/s"),
    "p50_s" -> (Stats.median(p.latencies.toSeq), "s"),
    "tail_s" -> (Stats.tail(p.latencies.toSeq, p.failed)._1, "s"))

  def perLayer(p: Phase, tr: Tracer): Seq[(String, (Double, String))] = {
    val spans = tr.spanTotals
    def wall(n: String) = spans.get(n).map(_._1).getOrElse(0.0)
    val c = tr.counts
    val sinkRows = c("sink.rows_upserted")
    val layer = mutable.LinkedHashMap[String, (Double, String)](
      "ingest.parse_s" -> (c("ingest.parse_s"), "s"),
      "ingest.docs_parsed" -> (tr.plan("ingest.docs_parsed"), "count"),
      "ingest.staging_write_s" -> (c("ingest.staging_write_s"), "s"),
      "ingest.staging_bytes_per_source_byte" -> (if (c("ingest.source_bytes") > 0)
        c("ingest.staging_bytes") / c("ingest.source_bytes") else 0.0, "ratio"),
      "ingest.staging_read_s" -> (c("ingest.staging_read_s"), "s"),
      "ingest.archive_s" -> (c("ingest.archive_s"), "s"),
      "ingest.docs_filtered" -> (tr.plan("ingest.docs_filtered"), "count"),
      "ingest.lines_skimmed" -> (tr.plan("ingest.lines_skimmed"), "count"),
      "schema.transform_s" -> (c("schema.transform_s"), "s"),
      "schema.rows_out" -> (c("schema.rows_out"), "count"),
      "keys.reconcile_s" -> (c("keys.reconcile_s"), "s"),
      "keys.existing" -> (c("keys.existing"), "count"),
      "keys.new" -> (c("keys.new"), "count"),
      "sink.live_read_s" -> (c("sink.live_read_s"), "s"),
      "sink.ddl_s" -> (wall("sink.ddl"), "s"),
      "sink.upsert_s" -> (c("sink.upsert_s"), "s"),
      "sink.rows_upserted" -> (sinkRows, "count"),
      "sink.rows_per_s" -> (if (c("sink.upsert_s") > 0) sinkRows / c("sink.upsert_s") else 0.0, "1/s"),
      "sink.connections" -> (tr.sparkCounter("sink.upsert", "result_tasks") +
        tr.sparkCounter("sink.delete", "result_tasks"), "count"),
      "sink.rows_deduped" -> (c("sink.rows_deduped"), "count"),
      "sink.rows_skipped" -> (c("sink.rows_skipped"), "count"),
      "sink.delete_s" -> (c("sink.delete_s"), "s"),
      "sink.rows_deleted" -> (c("sink.rows_deleted"), "count"),
      "ops.diff_s" -> (c("ops.diff_s"), "s"),
      "ops.diff_useful_ratio" -> (if (c("ops.diff_rows") > 0) c("ops.diff_useful") / c("ops.diff_rows") else 0.0, "ratio"),
      "pipelines.self_s" -> (spans.get("pipelines.load").map(_._2).getOrElse(0.0), "s"),
      "queries.build_s" -> (wall("queries.build"), "s"),
      "queries.action_s" -> (wall("queries.action"), "s"),
      "queries.build_jobs" -> (tr.sparkCounter("queries.build", "jobs"), "count"),
      "queries.action_jobs" -> (tr.sparkCounter("queries.action", "jobs"), "count"),
      "plans.graft_nodes" -> (tr.plan("plans.graft_nodes"), "count"),
      "plans.cosine_candidate_pairs" -> (tr.plan("plans.cosine_candidate_pairs"), "count"),
      "plans.interval_peak_active" -> (tr.plan("plans.interval_peak_active"), "count"),
      "plans.band_totals_pass_columns" -> (tr.plan("plans.band_totals_pass_columns"), "count"))
    sparkCounters.foreach { case (k, unit) =>
      layer(s"spark.$k") = (tr.sparkTotal(k), unit) }
    layerSpans.foreach { s =>
      layer(s"spark.$s.task_run_s") = (tr.sparkCounter(s, "task_run_s"), "s")
      layer(s"spark.$s.jobs") = (tr.sparkCounter(s, "jobs"), "count")
    }
    Queries.all.foreach { q =>
      val key = s"queries.${q.takeWhile(_ != '_')}.p50_s"
      layer(key) = (p.extra.get(s"queries.$q.p50_s").map(v => Stats.median(v.toSeq)).getOrElse(0.0), "s")
    }
    layer.toSeq
  }
}
