package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload, driven from outside the engine
  * through its public layer calls. Closed loop: one client, and the
  * next operation starts only after the previous one has finished.
  *
  * Args: --workload medallion|corpus_heavy --seed N --seconds S
  * --trace 0|1 --data <tables dir> --work <scratch dir> --cores N
  *
  * Writes `<work>/result.json` (metrics, checks, host canaries) and,
  * when traced, `<work>/spans.json`. The output comparison against the
  * DuckDB oracle is done by run.py from the files this run leaves.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, work: String, cores: Int)

  /** One timed operation: its label, wall seconds, whether it was
    * traced, and the pass it ran in (set by [[passes]]). */
  final case class Op(label: String, seconds: Double, traced: Boolean, pass: Int = 0)

  /** What a workload hands back to the run. */
  final case class Outcome(
      ops: Seq[Op],
      failed: Int,
      setupS: Double,
      report: Map[String, Any],
      perLayer: Map[String, (Double, String)],
      checks: Map[String, Any])

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("data"), m("work"),
      m.getOrElse("cores", Runtime.getRuntime.availableProcessors.toString).toInt)
  }

  /** The engine's bench session conf (graft.Bench), sized to `cores`. */
  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "120s")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.warehouse.dir", new File(a.work, "spark-warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(a.work, "spark-local").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.Log.quietAuditedWarnings()
    s
  }

  private val started = System.nanoTime()

  /** Progress line in the run's log, with seconds since JVM start. */
  def progress(msg: String): Unit =
    System.err.println(f"[perfbench] +${(System.nanoTime() - started) / 1e9}%.1fs $msg")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    new File(a.work).mkdirs()
    val canaryPre = Canary.record(a.cores)
    val t0 = System.nanoTime()
    val spark = session(a)
    val runId = s"${a.workload}-${a.seed}-${if (a.trace) 1 else 0}-${ProcessHandle.current().pid()}"
    progress("session up")
    val tracer = new Tracer(a.trace, spark.sparkContext, runId)
    tracer.active(a.trace)
    val out = a.workload match {
      case "medallion" => new Medallion(spark, a, tracer).run(t0)
      case "corpus_heavy" => new CorpusHeavy(spark, a, tracer).run(t0)
      case w => sys.error(s"unknown workload $w")
    }
    tracer.active(false)
    progress("timed passes done")
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val heapMb = Canary.retainedHeapMb()
    val canaryPost = Canary.record(a.cores)
    progress("canaries done")

    val untraced = out.ops.filterNot(_.traced).map(_.seconds)
    val traced = out.ops.filter(_.traced).map(_.seconds)
    val timed = if (a.trace) traced else untraced
    val endToEnd = Map(
      "setup_s" -> (out.setupS, "s"),
      "ops_per_s" -> (timed.size / timed.sum, "1/s"),
      "op_p50_s" -> (Stats.quantile(timed, 0.5), "s"),
      "op_p90_s" -> (Stats.quantile(timed, 0.9), "s"),
      "retained_heap_mb" -> (heapMb, "MB"))
    val overhead =
      if (a.trace && untraced.nonEmpty && traced.nonEmpty)
        Map("trace.overhead_s" -> (traceOverhead(out.ops), "s"),
          "trace.untraced_op_s" -> (Stats.mean(untraced), "s"))
      else Map.empty[String, (Double, String)]
    val metrics = if (a.trace) Layers.complete(out.perLayer ++ overhead) else endToEnd
    val attempted = out.ops.size
    val result = Map(
      "run_id" -> runId,
      "workload" -> a.workload,
      "seed" -> a.seed,
      "trace" -> a.trace,
      "cores" -> a.cores,
      "attempted" -> attempted,
      "failed" -> out.failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "report" -> (out.report ++ Map(
        "setup_s" -> out.setupS,
        "retained_heap_mb" -> heapMb,
        "samples" -> timed.size,
        "failed_frac" -> out.failed.toDouble / math.max(1, attempted))),
      "checks" -> out.checks,
      "ops" -> out.ops.map(o => Seq(o.label, o.seconds, o.traced, o.pass)),
      "canary" -> Map("pre" -> canaryPre, "post" -> canaryPost))
    write(Paths.get(a.work, "result.json"), Json.render(result))
    if (a.trace) write(Paths.get(a.work, "spans.json"), tracer.spansJson)
    spark.stop()
    progress("stopped")
  }

  def write(p: Path, s: String): Unit =
    Files.write(p, (s + "\n").getBytes(StandardCharsets.UTF_8)): Unit

  /** Total bytes and regular-file count under `f` (0 when absent). */
  def du(f: File): (Long, Int) =
    if (!f.exists()) (0L, 0)
    else {
      var bytes = 0L
      var files = 0
      val it = Files.walk(f.toPath).iterator()
      while (it.hasNext) {
        val p = it.next()
        if (Files.isRegularFile(p) && !p.getFileName.toString.startsWith(".")) {
          bytes += Files.size(p); files += 1
        }
      }
      (bytes, files)
    }

  /** Closed-loop pass driver: runs whole passes until `seconds` of
    * operation time has elapsed, at least one pass. The pass function
    * gets the pass index k and calls `traced(i)` before its i-th
    * operation; passes 2m and 2m+1 must run the same operations (the
    * same queries, or the same kinds of pipeline run) in the same
    * order. A traced run makes an even number of passes, at least two,
    * and traces every other operation, shifted by one between the two
    * passes of a pair. So each operation of a pair is measured once
    * traced and once untraced, the traced and untraced sets hold the
    * same operations, and the tracing overhead is an interleaved A/B
    * ([[traceOverhead]]). */
  def passes(a: Args, tracer: Tracer)(pass: (Int, Int => Boolean) => Seq[Op]): Seq[Op] = {
    val ops = ArrayBuffer.empty[Op]
    var k = 0
    def enough = ops.map(_.seconds).sum >= a.seconds && (!a.trace || (k >= 2 && k % 2 == 0))
    while (k == 0 || !enough) {
      val pk = k
      progress(s"pass $k")
      ops ++= pass(k, i => {
        val on = a.trace && (i + pk) % 2 == 1
        tracer.active(on)
        on
      }).map(_.copy(pass = pk))
      k += 1
    }
    tracer.active(false)
    ops.toSeq
  }

  /** Seconds tracing adds to one operation. Passes 2m and 2m+1 run the
    * same operations, and each is traced in exactly one of the two. An
    * operation's time in pass 2m+1 minus its time in pass 2m is the
    * pass-to-pass shift (warm-up, host drift) plus the overhead if it
    * was traced in 2m+1, or minus it if traced in 2m. Half the gap
    * between the two groups' mean differences is the overhead with the
    * shift taken out. Averaged over the pairs of passes. */
  def traceOverhead(ops: Seq[Op]): Double = {
    val byPass = ops.groupBy(_.pass)
    Stats.mean((0 until byPass.size / 2).map { m =>
      val diffs = byPass(2 * m).zip(byPass(2 * m + 1))
        .map { case (x, y) => (y.traced, y.seconds - x.seconds) }
      val (late, early) = diffs.partition(_._1)
      (Stats.mean(late.map(_._2)) - Stats.mean(early.map(_._2))) / 2
    })
  }
}

object Stats {
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Linear-interpolated quantile (the `statistics.quantiles`
    * inclusive method). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** Host canaries (the BENCHNOTES protocol): `cores` concurrent integer
  * busy loops (median per-thread seconds) and single-thread memcpy
  * bandwidth, recorded before and after every run so a noisy window
  * shows in the run's own record. */
object Canary {
  def cpuSec(threads: Int): Double = {
    val iters = 100000000L
    val times = new Array[Double](threads)
    val sink = new java.util.concurrent.atomic.AtomicLong()
    val ts = (0 until threads).map { i =>
      new Thread(() => {
        val t0 = System.nanoTime()
        var x = 88172645463325252L + i
        var k = 0L
        while (k < iters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; k += 1 }
        sink.addAndGet(x)
        times(i) = (System.nanoTime() - t0) / 1e9
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    times.sorted.apply(threads / 2)
  }

  def memcpyGbps(): Double = {
    val bytes = 128 * 1024 * 1024
    val src = new Array[Byte](bytes)
    val dst = new Array[Byte](bytes)
    var i = 0
    while (i < bytes) { src(i) = (i & 0xFF).toByte; i += 4096 }
    val reps = 4
    val t0 = System.nanoTime()
    var r = 0
    while (r < reps) { System.arraycopy(src, 0, dst, 0, bytes); r += 1 }
    (bytes.toDouble * reps / (1L << 30)) / ((System.nanoTime() - t0) / 1e9)
  }

  def record(cores: Int): Map[String, Double] =
    Map(s"cpu${cores}_sec" -> cpuSec(cores), "memcpy_gbps" -> memcpyGbps())

  /** Driver live heap after full collections, in MiB. */
  def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}
