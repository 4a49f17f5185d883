package perfbench

import java.io.File
import java.time.LocalDate

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.LayoutCatalog
import graft.pipeline.{Bronze, Gold, Pipeline, Quality, Settings, Silver}

/** The reference's workload: `Pipeline.run` over consecutive ingestion
  * dates fed by the seeded [[BreweryPages]] source, then one rerun of a
  * date already loaded. One operation is one `Pipeline.run`; a pass is
  * two new dates plus the rerun of the pass's first date.
  *
  * Every run is checked outside the timed window: silver rows equal the
  * generator's expected survivors, the warehouse slice equals its
  * expected gold counts (so gold sums equal silver rows), every quality
  * check passes, the rerun leaves the warehouse slice unchanged, and no
  * layout-catalog artifact is published (the medallion bypasses it).
  */
final class Medallion(spark: SparkSession, a: Main.Args, tracer: Tracer) {
  import Medallion._

  private val lake = new File(a.work, "lake").getAbsoluteFile
  private val settings = Settings(
    lakeRoot = lake.getPath,
    bronzePrefix = "bronze-layer",
    silverPrefix = "silver-layer",
    goldPrefix = "gold-layer",
    warehouseRoot = new File(lake, "warehouse").getPath,
    apiUrl = "https://api.openbrewerydb.org/v1/breweries",
    perPage = BreweryPages.PerPage)

  private def date(k: Int): String = FirstDate.plusDays(k.toLong).toString

  /** Pipeline.run, or in a traced operation the same four stage calls in
    * Pipeline.run's order, each inside its own span. The traced form
    * calls the stage functions directly, without Pipeline.run's retry
    * wrapper and log lines; its parent span only groups the four. */
  private def runPipeline(d: String, src: Bronze.PageSource): Pipeline.RunReport =
    if (!tracer.isActive) Pipeline.run(spark, settings, src, Some(d), retryDelayMs = 0)
    else tracer.span("pipeline.run", d) {
      val (pages, records) =
        tracer.span("pipeline.bronze")(Bronze.ingest(spark, settings, src, d))
      val silverRows = tracer.span("pipeline.silver")(Silver.transform(spark, settings, d))
      val base = tracer.span("pipeline.gold")(Gold.aggregate(spark, settings, d))
      val checks = tracer.span("pipeline.quality")(Quality.run(spark, settings, d))
      Pipeline.RunReport(d, pages, records, silverRows, base, checks)
    }

  private def slice(d: String): Map[(String, String, String), Long] =
    spark.read.parquet(settings.warehouseTableDir)
      .filter(col("ingestion_date") === to_date(lit(d)))
      .collect()
      .map(r => (r.getAs[String]("country"), r.getAs[String]("state"),
        r.getAs[String]("brewery_type")) -> r.getAs[Long]("brewery_count"))
      .toMap

  /** Per-run sizes: bronze bytes, silver/gold files, bytes written. */
  private def sizes(d: String): Map[String, Double] = {
    val (bronze, _) = Main.du(new File(settings.bronzeDir(d)))
    val (silver, silverFiles) = Main.du(new File(settings.silverDir(d)))
    val (gold, goldFiles) = Main.du(new File(settings.goldBaseDir(d)))
    val (wh, _) = Main.du(new File(settings.warehouseTableDir, s"ingestion_date=$d"))
    Map("bronze_bytes" -> bronze.toDouble, "silver_bytes" -> silver.toDouble,
      "gold_bytes" -> gold.toDouble, "warehouse_bytes" -> wh.toDouble,
      "silver_files" -> silverFiles.toDouble, "gold_files" -> goldFiles.toDouble)
  }

  def run(t0: Long): Main.Outcome = {
    val sources = scala.collection.mutable.HashMap.empty[String, BreweryPages]
    def source(d: String) = sources.getOrElseUpdate(d,
      new BreweryPages(a.seed, d, RecordsPerDate))

    // set-up: one smaller warm-up run on its own date, outside the
    // timed dates: pays first-run class loading and codegen
    tracer.off(runPipeline(WarmupDate, new BreweryPages(a.seed, WarmupDate, WarmupRecords)))
    val setupS = (System.nanoTime() - t0) / 1e9

    var failed = 0
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    val perRun = scala.collection.mutable.ArrayBuffer.empty[(Boolean, Map[String, Double])]
    def check(d: String, ok: Boolean, what: String): Boolean = {
      if (!ok) problems += s"$d: $what"
      ok
    }

    val ops = Main.passes(a, tracer) { (k, tracedOp) =>
      val fresh = (0 until DatesPerPass).map(i => date(k * DatesPerPass + i))
      val plan = fresh.map(_ -> false) :+ (fresh.head -> true)
      plan.zipWithIndex.map { case ((d, rerun), i) =>
        val src = source(d)
        val exp = src.expected
        val before = if (rerun) slice(d) else Map.empty[(String, String, String), Long]
        val traced = tracedOp(i)
        val b0 = LayoutCatalog.buildsPublished.get()
        val s0 = System.nanoTime()
        val report =
          try Some(runPipeline(d, src))
          catch { case e: Exception => problems += s"$d: ${e.getMessage}"; None }
        val sec = (System.nanoTime() - s0) / 1e9
        tracer.active(false)
        val ok = report.exists { r =>
          val after = slice(d)
          check(d, r.records == src.records, s"bronze records ${r.records}") &&
          check(d, r.silverRows == exp.silverRows,
            s"silver rows ${r.silverRows} != ${exp.silverRows}") &&
          check(d, r.allChecksPassed, "quality check failed") &&
          check(d, after == exp.gold, "warehouse slice != expected gold counts") &&
          check(d, after.values.sum == r.silverRows, "gold sum != silver rows") &&
          check(d, !rerun || before == after, "rerun changed the warehouse slice") &&
          check(d, LayoutCatalog.buildsPublished.get() == b0, "published a catalog artifact")
        }
        if (!ok) failed += 1
        val sz = sizes(d) ++ Map("records" -> src.records.toDouble,
          "silver_rows" -> report.map(_.silverRows.toDouble).getOrElse(0.0),
          "seconds" -> sec)
        perRun += traced -> sz
        Main.Op(if (rerun) s"$d rerun" else d, sec, traced)
      }
    }

    val timedRuns = perRun.filter(_._1 == a.trace).map(_._2).toSeq
    def total(k: String) = timedRuns.map(_(k)).sum
    val stored = total("silver_bytes") + total("gold_bytes") + total("warehouse_bytes")
    val report = Map(
      "pipeline_run_s" -> Stats.quantile(timedRuns.map(_("seconds")), 0.5),
      "records_per_s" -> total("records") / total("seconds"),
      "stored_bytes_per_input_byte" -> stored / total("bronze_bytes"),
      "records_per_date" -> RecordsPerDate,
      "gold_keys_per_date" -> Stats.mean(sources.values.map(_.expected.goldKeys.toDouble).toSeq),
      "state_keys" -> BreweryPages.stateKeys,
      "catalog_builds" -> LayoutCatalog.buildsPublished.get())
    Main.Outcome(ops, failed, setupS, report,
      if (a.trace) layers(timedRuns) else Map.empty,
      Map("problems" -> problems.take(20).toSeq))
  }

  /** Per-layer metrics over the traced operations, per pipeline run. */
  private def layers(runs: Seq[Map[String, Double]]): Map[String, (Double, String)] = {
    val n = math.max(1, runs.size).toDouble
    val times = tracer.layerTimes
    val snap = tracer.listener.snapshot()
    def tag(t: String) = snap.getOrElse(t, new Counters)
    val stages = Seq("bronze", "silver", "gold", "quality")
    val all = new Counters
    snap.foreach { case (t, c) => if (t.startsWith("pipeline.")) all.add(c) }
    val opWall = runs.map(_("seconds")).sum
    def per(k: String) = runs.map(_(k)).sum / n
    val stageMetrics = stages.flatMap { st =>
      val c = tag(s"pipeline.$st")
      Seq(s"pipeline.${st}_s" -> (times.get(s"pipeline.$st").map(_._1).getOrElse(0.0) / n, "s"),
        s"pipeline.$st.jobs" -> (c.jobs / n, "count"),
        s"pipeline.$st.tasks" -> (c.tasks / n, "count"))
    }
    (stageMetrics ++ Seq(
      "pipeline.silver_files" -> (per("silver_files"), "count"),
      "pipeline.gold_files" -> (per("gold_files"), "count"),
      "pipeline.bytes_written" -> (per("silver_bytes") + per("gold_bytes") + per("warehouse_bytes"), "bytes"),
      "pipeline.silver_rows" -> (per("silver_rows"), "count"),
      "pipeline.survivor_ratio" -> (per("silver_rows") / per("records"), "ratio"),
      // the medallion never touches the layout catalog: this stays 0
      "ingest.builds" -> (LayoutCatalog.buildsPublished.get().toDouble, "count")
    )).toMap ++ Layers.spark(all, n, opWall, a.cores)
  }
}

object Medallion {
  /** Records per date, in pages of 200: about 140 gold partition keys
    * per date, so gold's time is set by its file fan-out. */
  val RecordsPerDate = 5000
  val DatesPerPass = 2
  val FirstDate: LocalDate = LocalDate.parse("2024-01-01")
  val WarmupDate = "2023-12-31"
  /** The warm-up run's size: enough records to reach every gold key. */
  val WarmupRecords = 1500
}
