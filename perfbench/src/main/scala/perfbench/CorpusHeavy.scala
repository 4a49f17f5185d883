package perfbench

import java.io.File

import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.{Ingest, Q}
import graft.operators.LayoutCatalog

/** The catalog-backed read paths: set-up deletes the layout-catalog
  * root and runs `Ingest.buildAll`; then closed-loop passes run the
  * catalog-backed queries in a seed-permuted order, one order for each
  * pair of passes. One operation is
  * one query: `Q.build`, `queryExecution.executedPlan` and
  * `queryExecution.toRdd.count()` (graft.Bench's forcing action).
  *
  * A warm-up pass outside the timed window writes every query's result
  * for the DuckDB oracle check and pays first-run codegen. Any catalog
  * build during the timed passes fails the operation that caused it.
  */
final class CorpusHeavy(spark: SparkSession, a: Main.Args, tracer: Tracer) {
  import CorpusHeavy._

  private val byName: Map[String, Q] =
    (graft.queries.Graph.all ++ graft.queries.TextOps.all ++
      graft.queries.Matching.all ++ graft.queries.Vectors.all)
      .map(q => q.name -> q).toMap
  val queries: Seq[Q] = Names.map(byName)

  private def release(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  def run(t0: Long): Main.Outcome = {
    val root = LayoutCatalog.root
    LayoutCatalog.deleteRecursively(root)
    val ingestT0 = System.nanoTime()
    tracer.span("ingest.buildAll")(Ingest.buildAll(spark, a.data))
    val ingestS = (System.nanoTime() - ingestT0) / 1e9
    Main.progress(f"ingest done in $ingestS%.1f s")
    val builds = LayoutCatalog.buildsPublished.get()
    val (artifactBytes, _) = Main.du(root)
    tracer.drain()
    val ingestCounters = tracer.listener.snapshot()
    release()

    // warm-up pass: results for the oracle check, first-run codegen
    val out = new File(a.work, "out")
    out.mkdirs()
    val warmFailures = scala.collection.mutable.ArrayBuffer.empty[String]
    tracer.off(queries.foreach { q =>
      try q.build(spark, a.data).coalesce(1).write.mode("overwrite")
        .parquet(new File(out, q.name).getPath)
      catch { case e: Exception => warmFailures += s"${q.name}: ${e.getMessage}" }
      release()
    })
    Main.write(new File(out, "oracle_sql.json").toPath, Json.render(
      queries.flatMap(q => q.oracle.map(q.name -> _.trim)).toMap))
    val setupS = (System.nanoTime() - t0) / 1e9

    var failed = 0
    var liveBlocks = 0L
    val counts = scala.collection.mutable.LinkedHashMap.empty[String, Vector[Long]]
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    val ops = Main.passes(a, tracer) { (k, tracedOp) =>
      // one permutation per pair of passes (Main.passes)
      new Random(a.seed * 1000003L + k / 2).shuffle(queries).zipWithIndex.map { case (q, i) =>
        val traced = tracedOp(i)
        val b0 = LayoutCatalog.buildsPublished.get()
        val s0 = System.nanoTime()
        val n =
          try {
            val df = tracer.span("queries.build", q.name)(q.build(spark, a.data))
            tracer.span("plans.plan", q.name)(df.queryExecution.executedPlan)
            Some(tracer.span("exec.run", q.name)(df.queryExecution.toRdd.count()))
          } catch { case e: Exception => problems += s"${q.name}: ${e.getMessage}"; None }
        val sec = (System.nanoTime() - s0) / 1e9
        if (traced) liveBlocks += spark.sparkContext.getPersistentRDDs.size
        release()
        val late = LayoutCatalog.buildsPublished.get() - b0
        if (n.isEmpty || late > 0) failed += 1
        if (late > 0) problems += s"${q.name}: $late catalog builds in a timed pass"
        n.foreach(c => counts(q.name) = counts.getOrElse(q.name, Vector.empty) :+ c)
        Main.Op(q.name, sec, traced)
      }
    }

    // builds after ingest, warm-up pass included: ROADMAP's late_builds
    val lateBuilds = LayoutCatalog.buildsPublished.get() - builds
    val timed = ops.filter(_.traced == a.trace)
    val report = Map(
      "queries_per_s" -> timed.size / timed.map(_.seconds).sum,
      "query_p50_s" -> Stats.quantile(timed.map(_.seconds), 0.5),
      "query_p90_s" -> Stats.quantile(timed.map(_.seconds), 0.9),
      "queries" -> queries.size,
      "ingest_s" -> ingestS,
      "ingest_builds" -> builds,
      "late_builds" -> lateBuilds,
      "artifact_bytes" -> artifactBytes)
    val perLayer =
      if (!a.trace) Map.empty[String, (Double, String)]
      else layers(timed, ingestCounters, builds, lateBuilds, artifactBytes, liveBlocks)
    Main.Outcome(ops, failed, setupS, report, perLayer, Map(
      "results_dir" -> out.getPath,
      "timed_counts" -> counts.toMap,
      "warmup_failures" -> warmFailures.toSeq,
      "problems" -> problems.take(20).toSeq))
  }

  private def layers(timed: Seq[Main.Op], ingest: Map[String, Counters],
      builds: Long, late: Long, artifactBytes: Long, liveBlocks: Long)
      : Map[String, (Double, String)] = {
    val n = math.max(1, timed.size).toDouble
    val times = tracer.layerTimes
    val snap = tracer.listener.snapshot()
    def tag(t: String) = snap.getOrElse(t, new Counters)
    val query = new Counters
    Seq("queries.build", "plans.plan", "exec.run").foreach(t => query.add(tag(t)))
    def wall(s: String) = times.get(s).map(_._1).getOrElse(0.0) / n
    val groups = Layers.IngestGroups.flatMap { g =>
      val c = ingest.getOrElse(s"ingest.$g", new Counters)
      Seq(s"ingest.$g.span_s" -> (c.jobSpanS, "s"),
        s"ingest.$g.jobs" -> (c.jobs.toDouble, "count"),
        s"ingest.$g.task_run_s" -> (c.taskRunMs / 1e3, "s"))
    }
    (Seq(
      "queries.build_s" -> (wall("queries.build"), "s"),
      "queries.build_jobs" -> (tag("queries.build").jobs / n, "count"),
      "checkpoints.live_blocks" -> (liveBlocks / n, "count"),
      "plans.plan_s" -> (wall("plans.plan"), "s"),
      "exec.run_s" -> (wall("exec.run"), "s"),
      "ingest.builds" -> (builds.toDouble, "count"),
      "ingest.late_builds" -> (late.toDouble, "count"),
      "ingest.artifact_bytes" -> (artifactBytes.toDouble, "bytes")) ++ groups).toMap ++
      Layers.spark(query, n, timed.map(_.seconds).sum, a.cores)
  }
}

object CorpusHeavy {
  /** Catalog read paths over four of the five artifact groups: the
    * bucketed edge layout (PageRank, the CC fixpoint), the exact-dedup
    * pair graph (prefix join, dedup groups, their fixpoint), the lexical
    * LSM index and the IVF-PQ LSM vector index. The positional index is
    * built in set-up but not queried: q312, its reader, costs 2.5 s a
    * run, which the run budget does not hold (perfbench/NOTES.md). */
  val Names: Seq[String] = Seq(
    "q94_pagerank", "q309_cc_fixpoint",
    "q299_prefix_jaccard_join", "q307_exact_dedup_groups",
    "q313_dedup_groups_fixpoint",
    "q295_lsm_compacted_bm25", "q296_lsm_compacted_ann")
}
