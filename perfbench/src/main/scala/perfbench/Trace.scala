package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Scheduler and task counters for one attribution tag. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var firstJobStartMs = Long.MaxValue
  var lastJobEndMs = Long.MinValue

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskRunMs += o.taskRunMs; taskCpuNs += o.taskCpuNs
    shuffleWriteBytes += o.shuffleWriteBytes
    shuffleReadBytes += o.shuffleReadBytes
    fetchWaitMs += o.fetchWaitMs; spillBytes += o.spillBytes; gcMs += o.gcMs
    firstJobStartMs = math.min(firstJobStartMs, o.firstJobStartMs)
    lastJobEndMs = math.max(lastJobEndMs, o.lastJobEndMs)
  }

  /** Wall span from the first job's submission to the last job's end. */
  def jobSpanS: Double =
    if (jobs == 0) 0.0 else (lastJobEndMs - firstJobStartMs) / 1e3
}

/** The traced run's only SparkListener. Every job is attributed to a
  * tag when it starts: the `ingest: <group>` job description that
  * [[graft.Ingest]] sets, else the harness's [[LayerListener.PhaseKey]]
  * local property (the layer call that launched it). Stages and tasks
  * inherit their job's tag, so the attribution does not depend on when
  * the asynchronous listener bus delivers an event.
  */
final class LayerListener extends SparkListener {
  import LayerListener._

  private val byTag = new ConcurrentHashMap[String, Counters]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val jobTag = new ConcurrentHashMap[Int, String]()

  private def acc(tag: String): Counters =
    byTag.computeIfAbsent(tag, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val desc = props.flatMap(p => Option(p.getProperty("spark.job.description")))
    val tag = desc.filter(_.startsWith("ingest: "))
      .map(d => "ingest." + d.stripPrefix("ingest: ").trim)
      .orElse(props.flatMap(p => Option(p.getProperty(PhaseKey))))
      .getOrElse("other")
    jobTag.put(e.jobId, tag)
    e.stageIds.foreach(stageTag.put(_, tag))
    val c = acc(tag)
    c.synchronized {
      c.jobs += 1
      c.firstJobStartMs = math.min(c.firstJobStartMs, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val c = acc(jobTag.getOrDefault(e.jobId, "other"))
    c.synchronized { c.lastJobEndMs = math.max(c.lastJobEndMs, e.time) }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val c = acc(stageTag.getOrDefault(e.stageInfo.stageId, "other"))
    c.synchronized { c.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = acc(stageTag.getOrDefault(e.stageId, "other"))
    val m = Option(e.taskMetrics)
    c.synchronized {
      c.tasks += 1
      m.foreach { t =>
        c.taskRunMs += t.executorRunTime
        c.taskCpuNs += t.executorCpuTime
        c.shuffleWriteBytes += t.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += t.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += t.shuffleReadMetrics.fetchWaitTime
        c.spillBytes += t.memoryBytesSpilled + t.diskBytesSpilled
        c.gcMs += t.jvmGCTime
      }
    }
  }

  /** Counters of every tag, as of the events delivered so far. */
  def snapshot(): Map[String, Counters] = byTag.asScala.map { case (k, v) =>
    val c = new Counters
    v.synchronized(c.add(v))
    k -> c
  }.toMap

  /** Sum over the tags accepted by `p`. */
  def total(p: String => Boolean): Counters = {
    val c = new Counters
    snapshot().foreach { case (k, v) => if (p(k)) c.add(v) }
    c
  }
}

object LayerListener {
  /** Local property naming the layer call that launches a job. */
  val PhaseKey = "perfbench.phase"
}

/** One timed layer call of the traced run. `jobs`/`tasks` are the
  * listener's cumulative counts observed at the span's start and end. */
final case class Span(id: Int, parent: Int, name: String, detail: String,
    startNs: Long, endNs: Long, jobsAt: (Long, Long), tasksAt: (Long, Long)) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder for the traced run (a no-op otherwise):
  * spans nest on the calling thread and are written out once, when
  * the run ends. */
final class Tracer(val enabled: Boolean, sc: SparkContext, runId: String) {
  val listener = new LayerListener
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var attached = false

  /** Attaches or detaches the listener (the A/B overhead passes run
    * with tracing off). */
  def active(on: Boolean): Unit = if (enabled && on != attached) {
    if (on) sc.addSparkListener(listener) else sc.removeSparkListener(listener)
    attached = on
  }
  def isActive: Boolean = attached

  /** Runs `f` untraced (warm-up and check passes). */
  def off[A](f: => A): A = {
    val was = attached
    active(false)
    try f finally active(was)
  }

  /** Waits for the listener bus so counts include every finished job. */
  def drain(): Unit = if (attached) org.apache.spark.perfbench.ListenerBus.drain(sc)

  private def counts: (Long, Long) = {
    drain()
    val c = listener.total(_ => true)
    (c.jobs, c.tasks)
  }

  /** Runs `f` inside a span named after the layer call; jobs it
    * launches carry the span name as their phase tag. */
  def span[A](name: String, detail: String = "")(f: => A): A =
    if (!attached) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val prevPhase = sc.getLocalProperty(LayerListener.PhaseKey)
      sc.setLocalProperty(LayerListener.PhaseKey, name)
      stack = id :: stack
      val c0 = counts
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        val c1 = counts
        sc.setLocalProperty(LayerListener.PhaseKey, prevPhase)
        spans += Span(id, parent, name, detail, t0, t1,
          (c0._1, c1._1), (c0._2, c1._2))
      }
    }

  /** Σ wall seconds and Σ self seconds (wall minus children) per span name. */
  def layerTimes: Map[String, (Double, Double)] = {
    val childSum = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> (ss.map(_.seconds).sum, ss.map(s => s.seconds - childSum.getOrElse(s.id, 0.0)).sum)
    }
  }

  def spansJson: String = {
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    Json.render(Map(
      "run_id" -> runId,
      "spans" -> spans.sortBy(_.id).map { s =>
        Map("run_id" -> runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "detail" -> s.detail, "start_s" -> (s.startNs - t0) / 1e9,
          "end_s" -> (s.endNs - t0) / 1e9,
          "jobs_at_start" -> s.jobsAt._1, "jobs_at_end" -> s.jobsAt._2,
          "tasks_at_start" -> s.tasksAt._1, "tasks_at_end" -> s.tasksAt._2)
      }.toSeq,
      "layers" -> layerTimes.map { case (n, (w, self)) =>
        n -> Map("wall_s" -> w, "self_s" -> self)
      }))
  }
}

/** Minimal JSON rendering for the harness's records. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.sortBy(_._1.toString)
        .map { case (k, x) => quote(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case x => quote(x.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
