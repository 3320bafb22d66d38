package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One workload of the benchmark: set-up, the timed loop, and the
  * output checks that run after it.
  */
trait Workload {
  /** Timed set-up on a fresh session: warm-up and program-side builds.
    * Called once per set-up repeat, `k` from 1. The loop and the checks
    * use the state of the last call before the loop; the later calls
    * come after them.
    */
  def setup(spark: SparkSession, k: Int): Unit

  /** The timed loop: run until `deadlineNs`, recording into `ops`. */
  def run(spark: SparkSession, tr: Tracer, ops: Ops, deadlineNs: Long): Unit

  /** Output checks, outside the timed region: failures are recorded on
    * the affected ops. Returns extra detail for the result file.
    */
  def check(spark: SparkSession, ops: Ops): Json.Obj = Json.Obj()

  /** Names of oracle SQL entries the python side checks outputs against. */
  def oracleNames: Seq[String] = Nil
}

/** The timed operations of a run, in order. */
final class Ops(tr: Tracer, t0Ns: Long) {
  final class Op(val kind: String, val startNs: Long, val durNs: Long,
      val extra: Json.Obj) {
    var ok = true
    var error = ""
    /** Where the op wrote its output, for the checks. */
    var output = ""
    /** Files a read scanned, when measured (traced runs). */
    var filesRead = -1L
    def fail(why: String): Unit = { ok = false; if (error.isEmpty) error = why }
    def json: Json.Obj = Json.Obj("kind" -> kind,
      "t_s" -> (startNs - t0Ns) / 1e9, "dur_s" -> durNs / 1e9,
      "ok" -> ok, "error" -> error,
      "output" -> output, "files_read" -> filesRead) ++ extra
  }
  val all = mutable.ArrayBuffer.empty[Op]

  /** Time `body` as one operation; an exception marks it failed. */
  def timed[T](kind: String, span: String, extra: Json.Obj = Json.Obj())(
      body: => T): Option[T] = {
    val t = System.nanoTime()
    val (res, err) =
      try (Some(tr.span(span)(body)), "")
      catch { case scala.util.control.NonFatal(e) => (None, e.toString) }
    val op = new Op(kind, t, System.nanoTime() - t, extra)
    if (res.isEmpty) { op.ok = false; op.error = err.take(500) }
    synchronized { all += op }
    res
  }

  /** Add an operation timed elsewhere. */
  def add(kind: String, startNs: Long, durNs: Long,
      extra: Json.Obj = Json.Obj()): Op = {
    val op = new Op(kind, startNs, durNs, extra)
    synchronized { all += op }
    op
  }

  def json: Json.Arr = Json.Arr(all.map(_.json).toSeq: _*)
}

/** Size of every regular file under `dir`, by path. */
object FileSizes {
  def sizes(dir: String): Map[String, Long] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Map.empty
    else {
      val it = Files.walk(p).iterator()
      val out = Map.newBuilder[String, Long]
      while (it.hasNext) {
        val f = it.next()
        if (Files.isRegularFile(f)) out += f.toString -> Files.size(f)
      }
      out.result()
    }
  }
}

/** Samples block-manager storage (memory used by blocks, plus disk held
  * by cached and checkpointed RDD blocks) every 100 ms; keeps the peak.
  */
final class StorageSampler(sc: org.apache.spark.SparkContext) {
  @volatile private var running = true
  @volatile var peakBytes = 0L
  def sample(): Unit = {
    val mem = sc.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum
    val disk = sc.getRDDStorageInfo.map(_.diskSize).sum
    peakBytes = math.max(peakBytes, mem + disk)
  }
  private val thread = new Thread(() => {
    while (running) {
      try sample() catch { case scala.util.control.NonFatal(_) => () }
      Thread.sleep(100)
    }
  }, "perfbench-storage")
  thread.setDaemon(true)
  def start(): this.type = { thread.start(); this }
  def stop(): Unit = { running = false; thread.join(); sample() }
}

/** Entry point. Usage:
  * {{{
  * perfbench.Main --workload W --inputs DIR --work DIR --seconds S
  *                --trace 0|1 --out FILE
  * }}}
  * Set-up runs `SetupRepeats` times, each in a fresh session. The first
  * `SetupsBeforeLoop` come before the loop, which runs on the last of
  * their sessions: the first is cold (class loading, first codegen, JIT)
  * and the next lets the JIT catch up before the loop is timed. The
  * rest come after the loop and its checks.
  *
  * Writes one JSON document to FILE: set-up times, every timed op,
  * storage peak, check detail and, when traced, the span/job/stage
  * records. Metrics are computed from it by `perfbench/run.py`.
  */
object Main {
  /** Set-ups per run, and how many of them come before the loop. */
  val SetupRepeats = 4
  val SetupsBeforeLoop = 2

  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Garbage-collection time of this JVM so far: in local mode the
    * driver and the executors share it.
    */
  def gcMs(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val inputs = opt("inputs")
    val work = opt("work")
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    Files.createDirectories(Paths.get(work))
    val wl: Workload = workload match {
      case "etl_refresh" => new EtlRefresh(inputs, work)
      case "stream_ingest" => new StreamIngest(inputs, work)
      case other => throw new IllegalArgumentException(s"workload $other")
    }
    val tr = new Tracer
    val sessionS, setupS = mutable.ArrayBuffer.empty[Double]
    def setUp(k: Int): SparkSession = {
      val t = System.nanoTime()
      val s = session(work)
      sessionS += (System.nanoTime() - t) / 1e9
      wl.setup(s, k)
      setupS += (System.nanoTime() - t) / 1e9
      s
    }
    var spark = setUp(1)
    for (k <- 2 to SetupsBeforeLoop) { spark.stop(); spark = setUp(k) }
    val sampler = new StorageSampler(spark.sparkContext).start()
    if (traced) tr.start(spark)
    val gc0 = gcMs()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val ops = new Ops(tr, t0)
    wl.run(spark, tr, ops, deadline)
    val windowS = (System.nanoTime() - t0) / 1e9
    val gcS = (gcMs() - gc0) / 1e3
    val t0EpochMs = System.currentTimeMillis() -
      (System.nanoTime() - t0) / 1000000L
    sampler.stop()
    val checkDetail =
      try wl.check(spark, ops)
      catch {
        case scala.util.control.NonFatal(e) =>
          // a check that cannot run fails every op it would have checked
          ops.all.foreach { o => o.ok = false; o.error = s"check: $e" }
          Json.Obj("check_error" -> e.toString)
      }
    val oracles = graft.SparkEntry.oracleSql
    spark.stop() // drains the listener bus before the trace is read
    // the remaining set-ups come after the loop, when the JIT has compiled
    // the hot paths: they time the set-up work rather than compilation
    for (k <- SetupsBeforeLoop + 1 to SetupRepeats) setUp(k).stop()
    val result = Json.Obj(
      "workload" -> workload,
      "cores" -> Runtime.getRuntime.availableProcessors(),
      "seconds" -> seconds,
      "setup_s" -> Json.Arr(setupS.toSeq.map(Json.Num(_)): _*),
      "session_s" -> Json.Arr(sessionS.toSeq.map(Json.Num(_)): _*),
      "window_s" -> windowS,
      "t0_ns" -> t0,
      "t0_epoch_ms" -> t0EpochMs,
      "gc_s" -> gcS,
      "storage_peak_bytes" -> sampler.peakBytes,
      "ops" -> ops.json,
      "check" -> checkDetail,
      "oracle_sql" -> Json.Obj(wl.oracleNames.map(n =>
        n -> (Json.Str(oracles(n)): Json.V)): _*))
    val out = result ++ Json.Obj("trace" -> tr.toJson)
    Files.write(Paths.get(opt("out")), Json.render(out).getBytes("UTF-8"))
  }
}
