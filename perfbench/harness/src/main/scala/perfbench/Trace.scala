package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call the benchmark made into a layer of the engine. */
final case class Span(
    id: Long, name: String, parent: Long, startNs: Long, endNs: Long)

/** Spans around the benchmark's own calls into the engine, plus the
  * Spark jobs, stages and streaming progress they caused.
  *
  * Until `start`, `span` only runs its body: no listener is registered
  * and nothing is recorded. From then on every span sets the
  * `perfbench.span` local property for its duration, so each Spark job
  * it submits carries the span id and the listener attributes the job
  * and its stages to it. Everything stays in memory until `toJson` at
  * the end of the run.
  */
final class Tracer {
  private val nextId = new AtomicLong(1)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  @volatile var on = false
  private var spark: org.apache.spark.sql.SparkSession = _
  private val listener = new Recorder
  private val streamListener = new StreamRecorder

  /** Register the listeners on `session` and start recording. */
  def start(session: org.apache.spark.sql.SparkSession): Unit = {
    spark = session
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(streamListener)
    on = true
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val sc = spark.sparkContext
      val id = nextId.getAndIncrement()
      val parents = stack.get()
      val parent = parents.headOption.getOrElse(0L)
      val prevProp = sc.getLocalProperty(Tracer.SpanProp)
      stack.set(id :: parents)
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, name, parent, t0, System.nanoTime()))
        stack.set(parents)
        sc.setLocalProperty(Tracer.SpanProp, prevProp)
      }
    }

  def toJson: Json.Obj =
    if (!on) Json.Obj()
    else Json.Obj(
      "spans" -> Json.Arr(spans.asScala.toSeq.sortBy(_.id).map(s =>
        Json.Obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs)): _*),
      "jobs" -> Json.Arr(listener.jobs.values.toSeq.sortBy(_.id).map(_.json)
        : _*),
      "stages" -> Json.Arr(listener.stages.values.toSeq.sortBy(_.key)
        .map(_.json): _*),
      "streaming" -> Json.Arr(streamListener.progress.asScala.toSeq: _*))
}

object Tracer {
  val SpanProp = "perfbench.span"
}

/** Per-job and per-stage records, attributed to spans. */
final class Recorder extends SparkListener {
  final class Job(val id: Int, val span: Long, val callSite: String,
      val startMs: Long, val stageIds: Seq[Int]) {
    var endMs: Long = -1
    var ok: Boolean = true
    def json: Json.Obj = Json.Obj("id" -> id, "span" -> span,
      "call_site" -> callSite, "start_ms" -> startMs, "end_ms" -> endMs,
      "ok" -> ok, "stages" -> Json.Arr(stageIds.map(Json.Num(_)): _*))
  }
  final class Stage(val id: Int, val attempt: Int) {
    def key: (Int, Int) = (id, attempt)
    var tasks = 0
    var taskTimes = mutable.ArrayBuffer.empty[Long]
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var schedDelayMs = 0L
    var inputBytes = 0L
    var shuffleReadBytes = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var submitMs = -1L
    var doneMs = -1L
    def json: Json.Obj = {
      val sorted = taskTimes.sorted
      val p50 = if (sorted.isEmpty) 0L else sorted(sorted.size / 2)
      Json.Obj("id" -> id, "attempt" -> attempt, "tasks" -> tasks,
        "run_ms" -> runMs, "cpu_ns" -> cpuNs, "gc_ms" -> gcMs,
        "sched_delay_ms" -> schedDelayMs, "input_bytes" -> inputBytes,
        "shuffle_read_bytes" -> shuffleReadBytes,
        "shuffle_write_bytes" -> shuffleWriteBytes,
        "spill_bytes" -> spillBytes,
        "task_ms_max" -> (if (sorted.isEmpty) 0L else sorted.last),
        "task_ms_p50" -> p50, "task_ms_sum" -> sorted.sum,
        "submit_ms" -> submitMs, "done_ms" -> doneMs)
    }
  }

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.LinkedHashMap.empty[(Int, Int), Stage]

  private def stage(id: Int, attempt: Int): Stage = synchronized {
    stages.getOrElseUpdate((id, attempt), new Stage(id, attempt))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toLong).getOrElse(0L)
    // a job's call site is its result stage's name ("count at X.scala:1")
    val site =
      if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobs(e.jobId) = new Job(e.jobId, span, site, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.endMs = e.time
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
    synchronized { s.submitMs = e.stageInfo.submissionTime.getOrElse(-1L) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
    synchronized { s.doneMs = e.stageInfo.completionTime.getOrElse(-1L) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    val s = stage(e.stageId, e.stageAttemptId)
    synchronized {
      s.tasks += 1
      s.taskTimes += info.duration
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.inputBytes += m.inputMetrics.bytesRead
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        // the standard scheduler-delay split: task wall time not spent
        // deserializing, running, serializing or fetching the result
        s.schedDelayMs += math.max(0L, info.duration -
          m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - info.gettingResultTime)
      }
    }
  }
}

/** Streaming progress events, kept as their JSON text. */
final class StreamRecorder extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[Json.Raw]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
      : Unit = ()
  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(Json.Raw(e.progress.json))
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** A minimal JSON writer for the harness's result file. */
object Json {
  sealed trait V { def render(sb: StringBuilder): Unit }
  final case class Num(d: Double) extends V {
    def render(sb: StringBuilder): Unit =
      if (d.isNaN || d.isInfinite) sb.append("null")
      else if (d == math.rint(d) && math.abs(d) < 1e15) sb.append(d.toLong)
      else sb.append(d)
  }
  final case class Int64(l: Long) extends V {
    def render(sb: StringBuilder): Unit = sb.append(l)
  }
  final case class Str(s: String) extends V {
    def render(sb: StringBuilder): Unit = {
      sb.append('"')
      s.foreach {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      sb.append('"')
    }
  }
  final case class Bool(b: Boolean) extends V {
    def render(sb: StringBuilder): Unit = sb.append(b)
  }
  /** Already-serialized JSON, embedded verbatim. */
  final case class Raw(text: String) extends V {
    def render(sb: StringBuilder): Unit = sb.append(text)
  }
  final case class Arr(items: V*) extends V {
    def render(sb: StringBuilder): Unit = {
      sb.append('[')
      items.zipWithIndex.foreach { case (v, i) =>
        if (i > 0) sb.append(','); v.render(sb)
      }
      sb.append(']')
    }
  }
  final case class Obj(fields: (String, V)*) extends V {
    def render(sb: StringBuilder): Unit = {
      sb.append('{')
      fields.zipWithIndex.foreach { case ((k, v), i) =>
        if (i > 0) sb.append(',')
        Str(k).render(sb); sb.append(':'); v.render(sb)
      }
      sb.append('}')
    }
    def ++(o: Obj): Obj = Obj(fields ++ o.fields: _*)
  }
  import scala.language.implicitConversions
  implicit def fromInt(i: Int): V = Num(i)
  implicit def fromLong(l: Long): V = Int64(l)
  implicit def fromDouble(d: Double): V = Num(d)
  implicit def fromString(s: String): V = Str(s)
  implicit def fromBool(b: Boolean): V = Bool(b)
  def nums(xs: Iterable[Double]): Arr = Arr(xs.map(Num(_)).toSeq: _*)
  def render(v: V): String = { val sb = new StringBuilder; v.render(sb); sb.toString }
}
