package perfbench

import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, pmod, sum, xxhash64}

import graft.SparkEntry

/** `queries`: registry queries over the fixed test tables, in a
  * seed-shuffled order each round. One operation is one execution: build
  * the DataFrame, then a `noop` write, after `spark.catalog.clearCache()`
  * so every execution pays for its own persisted indexes.
  *
  * Each execution's row count and order-insensitive hash (sum of per-row
  * `xxhash64` mod 2^31-1, observed on the written rows) must equal the
  * bank entry. With `writeBank` the observed values are banked instead.
  */
final class Queries(ctx: Ctx, names: Seq[String], writeBank: Boolean) extends Workload {

  private val spark = ctx.spark
  private val registry = SparkEntry.queries
  private val sfDir = ctx.sfDir.getOrElse(throw new IllegalArgumentException("no test-data directory"))
  require(Files.isDirectory(java.nio.file.Paths.get(sfDir)), s"test-data directory $sfDir is missing")
  private val unknown = names.filterNot(registry.contains)
  require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

  private val mapper = new ObjectMapper()
  private val sfName = java.nio.file.Paths.get(sfDir).getFileName.toString
  private val bank: Map[String, (Long, Long)] =
    if (writeBank) Map.empty
    else {
      val root = mapper.readTree(ctx.bank.toFile)
      require(root.get("sf_dir").asText() == sfName,
        s"bank ${ctx.bank} is for ${root.get("sf_dir").asText()}, not $sfName")
      root.get("queries").properties().asScala.map { e =>
        e.getKey -> ((e.getValue.get("rows").asLong(), e.getValue.get("hash").asLong()))
      }.toMap
    }
  private val observed = mutable.LinkedHashMap.empty[String, (Long, Long)]
  private var round = 0

  val nominalSeconds = 4.0

  /** Warm-up: every query once, checked, [[WarmThreads]] at a time. A first
    * execution is mostly single-threaded driver work (planning, code
    * generation, the query's document landing), so running them side by
    * side shortens set-up; the cache is cleared once, afterwards.
    */
  def setup(): Unit = {
    val off = new Tracer(spark, enabled = false)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Queries.WarmThreads)
    val warm = try {
      names.map(n => pool.submit(() => { val p = new Phase; execute(p, off, n, clear = false); p }))
        .map(_.get())
    } finally pool.shutdown()
    spark.catalog.clearCache()
    val problems = warm.flatMap(_.problems)
    require(problems.isEmpty, problems.mkString("; "))
  }

  def iterate(p: Phase, tr: Tracer): Unit = {
    round += 1
    val r = Gen.rng(ctx.seed, round)
    val order = names.toArray
    for (i <- order.indices.reverse if i > 0) {
      val j = r.nextInt(i + 1)
      val t = order(i); order(i) = order(j); order(j) = t
    }
    order.foreach(n => execute(p, tr, n))
  }

  private def execute(p: Phase, tr: Tracer, name: String, clear: Boolean = true): Unit = {
    if (clear) spark.catalog.clearCache()
    val t0 = System.nanoTime()
    val res = p.op(1, name) {
      val df = tr.span("queries.build")(registry(name)(spark, sfDir))
      tr.span("queries.action")(Queries.fingerprint(df))
    }
    res.foreach { got =>
      p.sample(s"queries.$name.p50_s", (System.nanoTime() - t0) / 1e9)
      if (writeBank) {
        val first = observed.synchronized(observed.getOrElseUpdate(name, got))
        p.check(first == got, s"$name: result differs between executions")
      } else bank.get(name) match {
        case Some(want) => p.check(got == want, s"$name: rows/hash $got, banked $want")
        case None => p.check(false, s"$name: no banked result")
      }
    }
  }

  override def close(): Unit = if (writeBank) {
    val root = mapper.createObjectNode()
    root.put("sf_dir", sfName)
    val qs = root.putObject("queries")
    observed.toSeq.sortBy(_._1).foreach { case (n, (rows, hash)) =>
      qs.putObject(n).put("rows", rows).put("hash", hash)
    }
    mapper.writerWithDefaultPrettyPrinter().writeValue(ctx.bank.toFile, root)
  }
}

object Queries {

  val WarmThreads = 3

  /** `noop`-write `df`, observing (row count, order-insensitive hash). */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val cols = df.columns.indices.map(i => s"c$i")
    val renamed = df.toDF(cols: _*)
    val m = Tracer.noopObserved(renamed, count(lit(1)).as("rows"),
      sum(pmod(xxhash64(cols.map(col): _*), lit(2147483647L))).as("hash"))
    (m("rows").asInstanceOf[Long], Option(m("hash")).map(_.asInstanceOf[Long]).getOrElse(0L))
  }

  /** Five of ROADMAP direction 2's band-window targets (q176, q191,
    * q196–q213), one per mechanism: quantiles, value-sliding frame,
    * chained aggregate over a range merge join, as-of value window and
    * interval join. All twenty do not fit the run's share of the time
    * budget: each query's first execution builds its own document
    * landing (README).
    */
  val docsource: Seq[Int] = Seq(176, 191, 205, 210, 211)

  /** The corpus family, cut to three: q134 (IVF recall profile) and q135
    * (IVF-PQ with exact refine, so `ProductQuantize` training and
    * encoding), ROADMAP direction 3's targets, and q111 (cosine
    * similarity join, planned as `CosineJoinExec`).
    */
  val corpus: Seq[Int] = Seq(134, 135, 111)

  /** The `queries` workload: both families, shuffled together each round.
    * The corpus queries come first so that the warm-up starts the longest
    * first executions (q134's is about 10 s) first.
    */
  val all: Seq[String] = (corpus ++ docsource).map(registryName)

  def registryName(n: Int): String =
    SparkEntry.queries.keys.find(_.startsWith(s"q${n}_")).get
}
