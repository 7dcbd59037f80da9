package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and counters recorded from outside the engine.
  *
  * A span wraps one public layer call. Its name travels to every Spark job
  * the call starts through a thread-local Spark property, so the listener
  * can key job, stage and task counters by span. Spans and counters stay in
  * memory; `Main.perLayer` turns them into the per-layer metrics at the
  * end. A disabled tracer runs every body untouched and registers nothing.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {

  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  /** Names of the open spans, innermost first. */
  private var open: List[String] = Nil
  /** Layer quantities measured at the boundaries (counts, self times). */
  val counts: mutable.Map[String, Double] = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)

  private val sc = spark.sparkContext
  private val spark_ = new ConcurrentHashMap[String, ConcurrentHashMap[String, Double]]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val stageSubmitted = new ConcurrentHashMap[Int, Long]()
  private val resultStages = ConcurrentHashMap.newKeySet[Int]()
  private val jobsStarted = new AtomicLong()
  private val jobsEnded = new AtomicLong()
  private val planCounters = new ConcurrentHashMap[String, Double]()

  private def add(span: String, key: String, v: Double): Unit =
    spark_.computeIfAbsent(span, _ => new ConcurrentHashMap[String, Double]())
      .merge(key, v, (a: Double, b: Double) => a + b)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobsStarted.incrementAndGet()
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty))).getOrElse(Untraced)
      add(span, "jobs", 1)
      e.stageInfos.foreach(s => stageSpan.put(s.stageId, span))
      if (e.stageInfos.nonEmpty) resultStages.add(e.stageInfos.map(_.stageId).max)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded.incrementAndGet()
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      e.stageInfo.submissionTime.foreach(t => stageSubmitted.put(e.stageInfo.stageId, t))
      add(stageSpan.getOrDefault(e.stageInfo.stageId, Untraced), "stages", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val span = stageSpan.getOrDefault(e.stageId, Untraced)
      add(span, "tasks", 1)
      // a sink's result-stage task opens one JDBC connection
      if (resultStages.contains(e.stageId)) add(span, "result_tasks", 1)
      if (e.reason != TaskSuccess) add(span, "failed_tasks", 1)
      val info = e.taskInfo
      val sub = stageSubmitted.get(e.stageId)
      if (info != null && sub != 0L) add(span, "task_wait_s", math.max(0L, info.launchTime - sub) / 1e3)
      val m = e.taskMetrics
      if (m != null) {
        add(span, "task_run_s", m.executorRunTime / 1e3)
        add(span, "task_cpu_s", m.executorCpuTime / 1e9)
        add(span, "gc_s", m.jvmGCTime / 1e3)
        add(span, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add(span, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add(span, "spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      planMetrics(qe.executedPlan).foreach { case (k, v) =>
        planCounters.merge(k, v, (a: Double, b: Double) => a + b) }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Run `body` inside span `name` (nested under the current span). */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = open.headOption
      val prevProp = sc.getLocalProperty(SpanProperty)
      open = name :: open
      sc.setLocalProperty(SpanProperty, name)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open = open.tail
        sc.setLocalProperty(SpanProperty, prevProp)
        spans += Span(name, parent, t0, t1)
      }
    }

  /** Wall seconds of the most recent span called `name`. */
  def last(name: String): Double =
    spans.reverseIterator.find(_.name == name).map(s => (s.end - s.start) / 1e9).getOrElse(0.0)

  def count(key: String, v: Double): Unit = if (enabled) counts(key) += v

  /** Wait until the listener bus has delivered every job's events. */
  def drain(): Unit = if (enabled) {
    val deadline = System.nanoTime() + 10000000000L
    var stable = 0
    var seen = -1L
    while (stable < 3 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val now = jobsEnded.get()
      if (now == jobsStarted.get() && now == seen) stable += 1 else stable = 0
      seen = now
    }
  }

  /** Sum of span wall time by name, and self time (wall minus the part
    * covered by direct children).
    */
  def spanTotals: Map[String, (Double, Double)] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      val wall = ss.map(s => (s.end - s.start) / 1e9).sum
      val childCover = ss.map { s =>
        children.getOrElse(Some(s.name), Nil)
          .filter(c => c.start >= s.start && c.end <= s.end)
          .map(c => (c.end - c.start) / 1e9).sum
      }.sum
      name -> ((wall, wall - childCover))
    }
  }

  def sparkCounter(span: String, key: String): Double =
    Option(spark_.get(span)).map(_.getOrDefault(key, 0.0)).getOrElse(0.0)

  /** Sum over the traced spans: untraced iterations and the tracer's own
    * counting jobs are left out.
    */
  def sparkTotal(key: String): Double =
    spark_.asScala.collect { case (span, m) if span != Untraced && span != CountSpan =>
      m.getOrDefault(key, 0.0) }.sum

  def plan(key: String): Double = planCounters.getOrDefault(key, 0.0)

  def close(): Unit = if (enabled) {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}

object Tracer {

  final case class Span(name: String, parent: Option[String], start: Long, end: Long)

  val SpanProperty = "perfbench.span"
  val Untraced = "untraced"
  /** Jobs the tracer itself runs to count rows. */
  val CountSpan = "trace.counts"

  /** Every node of an executed plan, through adaptive stages, reused
    * exchanges and subqueries.
    */
  def nodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case r: ReusedExchangeExec => Seq(r)
    case p => p +: (p.children.flatMap(nodes) ++ p.subqueries.flatMap(nodes))
  }

  /** The counters the engine's own exec nodes and document scan expose. */
  val planMetricNames: Map[String, String] = Map(
    "candidatePairs" -> "plans.cosine_candidate_pairs",
    "peakActiveIntervals" -> "plans.interval_peak_active",
    "totalsPassColumns" -> "plans.band_totals_pass_columns",
    "parsedDocs" -> "ingest.docs_parsed",
    "filteredDocs" -> "ingest.docs_filtered",
    "skimmedLines" -> "ingest.lines_skimmed")

  def planMetrics(plan: SparkPlan): Map[String, Double] = {
    val all = nodes(plan)
    val graft = all.count(_.getClass.getName.startsWith("graft.plans.")).toDouble
    val fromMetrics = for {
      n <- all
      (k, m) <- n.metrics.toSeq
      name <- planMetricNames.get(k)
    } yield name -> m.value.toDouble
    fromMetrics.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum } +
      ("plans.graft_nodes" -> graft)
  }

  /** Execute `df` for its side effects only: the `noop` write that fully
    * evaluates every output column.
    */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** [[noop]] that also observes aggregates over the rows it writes. */
  def noopObserved(df: DataFrame, aggs: Column*): Map[String, Any] = {
    val obs = Observation()
    noop(df.observe(obs, aggs.head, aggs.tail: _*))
    obs.get
  }
}
