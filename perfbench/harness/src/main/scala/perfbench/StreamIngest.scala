package perfbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Dedup
import graft.plans.SnapshotStore
import graft.streaming.DocStreams
import graft.streaming.DocStreams.Doc

/** `stream_ingest`: an open loop at a fixed offered rate. A generator
  * thread feeds documents to a `DocStreams` gate → dedup → admission
  * query on their due times, stamping `ingest_ts` with the due time; the
  * query runs a micro-batch every 3 s and commits each through
  * `snapshotSink` into a `SnapshotStore` table. Every fourth commit is followed by `compact`.
  * Between commits the main thread times a `readWhere` range read of
  * the table after every commit and a `changes` read after every second.
  *
  * Lag is measured per arrived document, from its due time to the end
  * of the commit of the micro-batch that carried it (documents the
  * gate, dedup or admission dropped included: that commit is when
  * their fate was decided).
  */
final class StreamIngest(inputs: String, work: String) extends Workload {
  private val ShingleN = 3
  /** Micro-batches start on a fixed 3 s schedule. */
  private val TriggerMs = 3000L
  private var corpusSh: DataFrame = _
  private val root = s"$work/snapshot"
  private val arrived = mutable.ArrayBuffer.empty[(Doc, Long, Long)]
  private var lastBatchId = -1L

  private def arrivals(spark: SparkSession): Array[(Long, Double, String, String)] =
    spark.read.parquet(s"$inputs/arrivals.parquet")
      .select("doc_id", "due_s", "text", "source").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2), r.getString(3)))

  private def query(input: MemoryStream[Doc], sink: (DataFrame, Long) => Unit,
      trigger: Trigger): StreamingQuery =
    DocStreams.admitAgainstCorpus(
      DocStreams.dedupByContent(DocStreams.prepare(input.toDF())),
      corpusSh, n = ShingleN)(sink).trigger(trigger).start()

  /** The admission corpus's shingle index, then one warm-up micro-batch
    * through the whole query into a scratch table of this repeat's own
    * (a reused table would skip the commit as a replayed batch id).
    */
  def setup(spark: SparkSession, k: Int): Unit = {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    corpusSh = Dedup.shingleIndex(
      spark.read.parquet(s"$inputs/corpus.parquet").select("doc_id", "text"),
      ShingleN).persist()
    corpusSh.count()
    val input = MemoryStream[Doc]
    val q = query(input, DocStreams.snapshotSink(s"$work/warm/$k"),
      Trigger.ProcessingTime(0L))
    try {
      val now = new Timestamp(System.currentTimeMillis())
      input.addData(arrivals(spark).takeRight(30).toIndexedSeq.map {
        case (id, _, text, src) => Doc(-id, text, src, now) }: _*)
      q.processAllAvailable()
    } finally q.stop()
  }

  def run(spark: SparkSession, tr: Tracer, ops: Ops, deadlineNs: Long)
      : Unit = {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = arrivals(spark)
    val input = MemoryStream[Doc]
    val commitEndNs = new ConcurrentHashMap[Long, java.lang.Long]()
    val commits = new AtomicInteger(0)
    val sink: (DataFrame, Long) => Unit = (batch, batchId) => {
      val t = System.nanoTime()
      tr.span("plans.snapshot_commit") {
        DocStreams.snapshotSink(root)(batch, batchId)
      }
      val end = System.nanoTime()
      ops.add("commit", t, end - t, Json.Obj("batch" -> batchId))
      commitEndNs.put(batchId, end)
      lastBatchId = batchId
      if (commits.incrementAndGet() % 4 == 0)
        ops.timed("compact", "plans.snapshot_compact") {
          SnapshotStore.compact(spark, root)
        }
    }
    val q = query(input, sink, Trigger.ProcessingTime(TriggerMs))
    val startNs = System.nanoTime()
    val epochAtStart = System.currentTimeMillis()
    @volatile var genDone = false
    var maxBehindS = 0.0
    val generator = new Thread(() => {
      var i = 0
      while (i < docs.length &&
          startNs + (docs(i)._2 * 1e9).toLong < deadlineNs) {
        val (id, due, text, src) = docs(i)
        val dueNs = startNs + (due * 1e9).toLong
        val wait = dueNs - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        maxBehindS = math.max(maxBehindS, (System.nanoTime() - dueNs) / 1e9)
        val doc = Doc(id, text, src,
          new Timestamp(epochAtStart + (due * 1000).toLong))
        val off = input.addData(doc)
        arrived.synchronized {
          arrived += ((doc, dueNs, off.json().toLong))
        }
        i += 1
      }
      genDone = true
    }, "perfbench-generator")
    generator.start()
    // files a read scanned, measured outside the op in traced runs
    def filesRead(df: Option[DataFrame]): Unit = {
      val op = ops.synchronized(ops.all.filter(_.kind.startsWith("read")).last)
      if (tr.on) df.foreach(d => op.filesRead = d.inputFiles.length.toLong)
    }
    // reads between commits: after each new commit a pruned range read,
    // and after every second commit a change feed as well
    var seen = 0
    val rng = new scala.util.Random(docs.length)
    while (!genDone) {
      val c = commits.get()
      if (c > seen) {
        seen = c
        val lo = docs.head._1 + rng.nextInt(math.max(1, arrived.size))
        filesRead(ops.timed("read", "plans.snapshot_read_where") {
          val df = SnapshotStore.readWhere(spark, root, "doc_id",
            lo.toDouble, (lo + 200).toDouble)
          df.count()
          df
        })
        if (c % 2 == 0)
          filesRead(ops.timed("read_changes", "plans.snapshot_changes") {
            val v = SnapshotStore.history(root).last._1
            val df = SnapshotStore.changes(spark, root, math.max(0, v - 1), v)
            df.count()
            df
          })
      } else Thread.sleep(5)
    }
    generator.join()
    try q.processAllAvailable() finally q.stop()
    // per-document lag: the micro-batch that carried an offset is the
    // first whose end offset reaches it
    val batches = q.recentProgress.filter(_.numInputRows > 0)
      .map(p => (p.batchId, p.sources.head.endOffset.toLong)).sortBy(_._1)
    arrived.foreach { case (doc, dueNs, off) =>
      val b = batches.find(_._2 >= off)
      val end = b.flatMap(x => Option(commitEndNs.get(x._1))).map(_.longValue)
      val op = ops.add("doc", dueNs, end.map(_ - dueNs).getOrElse(0L),
        Json.Obj("doc" -> doc.doc_id,
          "batch" -> (b.map(_._1).getOrElse(-1L): Long)))
      if (end.isEmpty) op.fail("never committed")
    }
    generatorBehindS = maxBehindS
  }

  private var generatorBehindS = 0.0

  /** The committed table against a batch recomputation over every
    * arrived document, then a replayed batch id that must not land.
    */
  override def check(spark: SparkSession, ops: Ops): Json.Obj = {
    import spark.implicits._
    val all = arrived.map(_._1).toSeq.toDF()
    val prepared = DocStreams.prepare(all)
    val expected = {
      val reps = prepared.dropDuplicates("fp")
      val shNew = Dedup.shingleIndex(reps.select("doc_id", "text"), ShingleN)
      val matched = Dedup.crossJaccardMatches(shNew, corpusSh, 0.5)
        .select(col("id_new").as("doc_id")).distinct()
      reps.join(matched, Seq("doc_id"), "left_anti")
        .select("fp", "text").collect().map(r => (r.getString(0), r.getString(1)))
        .toSet
    }
    def committed() = SnapshotStore.read(spark, root)
      .select("doc_id", "fp", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val got = committed()
    val gotSet = got.map(r => (r._2, r._3)).toSet
    val fpOf = prepared.select("doc_id", "fp").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val missing = (expected -- gotSet).map(_._1)
    val extra = (gotSet -- expected).map(_._1)
    val dupFps = got.groupBy(_._2).collect { case (fp, rs) if rs.size > 1 => fp }
    val foreign = got.filter(r => !fpOf.get(r._1).contains(r._2)).map(_._2)
    // a restart-replayed micro-batch: the last batch id again, with rows
    // already in the table, must be a no-op
    if (lastBatchId >= 0) {
      val again = SnapshotStore.read(spark, root).limit(5)
      DocStreams.snapshotSink(root)(again, lastBatchId)
    }
    val after = committed()
    val replayDups = after.length - got.length
    // a wrong outcome fails the docs whose content it concerns
    val badFps = missing ++ extra ++ dupFps ++ foreign
    val docOps = ops.all.filter(_.kind == "doc")
    val byId = docOps.map(o => o -> o.extra.fields.collectFirst {
      case ("doc", Json.Int64(id)) => id }.getOrElse(-1L))
    byId.foreach { case (op, id) =>
      if (fpOf.get(id).exists(badFps.contains)) op.fail("wrong outcome")
    }
    if (replayDups != 0)
      ops.add("replay", System.nanoTime(), 0L).fail(
        s"replayed batch id added $replayDups rows")
    else ops.add("replay", System.nanoTime(), 0L)
    Json.Obj("arrived" -> arrived.size, "expected" -> expected.size,
      "committed" -> got.length, "missing" -> missing.size,
      "extra" -> extra.size, "duplicate_fps" -> dupFps.size,
      "foreign" -> foreign.length, "replay_added" -> replayDups,
      "generator_behind_s" -> generatorBehindS,
      "table_bytes" -> FileSizes.sizes(root).values.sum,
      "user_bytes" -> got.map(r => 16L + r._3.getBytes("UTF-8").length).sum)
  }
}
