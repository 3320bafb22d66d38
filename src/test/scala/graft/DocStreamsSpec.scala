package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.DocStreams
import graft.streaming.DocStreams.Doc

/** The streaming corpus-ingest pipeline: gate/scrub/fingerprint as
  * stateless maps (batch ≡ streaming), watermark-bounded content dedup,
  * and windowed ingest accounting — driven with MemoryStream.
  */
class DocStreamsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-docstream-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  private val good =
    "the quick brown fox jumps over the lazy dog said bob@corp.example.com"
  // same content, different planted PII → same scrubbed fingerprint
  private val goodOtherPii =
    "the quick brown fox jumps over the lazy dog said eve@other.example.net"

  private def prepare(df: org.apache.spark.sql.DataFrame) =
    DocStreams.prepare(df,
      minChars = 10, maxChars = 500, minTokens = 5, maxTopBigramFrac = 0.5)

  test("prepare gates short/repetitive docs, scrubs pii, batch mode") {
    import spark.implicits._
    val docs = Seq(
      Doc(1, good, "crawl", ts(0)),
      Doc(2, "tiny", "crawl", ts(1)), // < minChars
      Doc(3, "spam spam spam spam spam spam", "crawl", ts(2)), // repetitive
      Doc(4, "one two three four", "crawl", ts(3)) // < minTokens
    ).toDF()
    val got = prepare(docs).collect()
    assert(got.map(_.getLong(0)).toSeq === Seq(1L))
    val r = got.head
    assert(r.getAs[String]("text").contains("<EMAIL>"))
    assert(!r.getAs[String]("text").contains("bob@"))
    assert(r.getAs[Long]("n_tokens") === 11L)
    assert(r.getAs[String]("fp").length === 32)
  }

  test("streaming dedup collapses same-content docs differing only in pii") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Doc]
    val q = DocStreams.dedupByContent(prepare(input.toDF()), "30 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("doc_dedup").start()
    try {
      input.addData(Doc(1, good, "crawl_a", ts(0)))
      q.processAllAvailable()
      input.addData(Doc(2, goodOtherPii, "crawl_b", ts(5))) // dup after scrub
      input.addData(Doc(3, "a completely different document body here", "crawl_a", ts(6)))
      q.processAllAvailable()
      val got = spark.table("doc_dedup").select("doc_id").as[Long]
        .collect().sorted
      assert(got === Array(1L, 3L),
        "scrub-then-fingerprint must collapse the PII-only variant")
    } finally q.stop()
  }

  test("pipeline finalizes per-source windowed token accounting") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Doc]
    val stats = DocStreams.ingestStats(
      DocStreams.dedupByContent(prepare(input.toDF()), "5 minutes"),
      window = "10 minutes", watermark = None)
    val q = stats.writeStream.outputMode("append")
      .format("memory").queryName("doc_stats").start()
    try {
      input.addData(
        Doc(1, good, "crawl_a", ts(0)),
        Doc(2, goodOtherPii, "crawl_a", ts(2)), // deduped away
        Doc(3, "a completely different document body here now", "crawl_b", ts(4)))
      q.processAllAvailable()
      input.addData(Doc(9, "late watermark pusher far in the future ok", "crawl_b", ts(30)))
      q.processAllAvailable()
      val got = spark.table("doc_stats")
        .select("window_start", "source", "n_docs", "n_tokens")
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(got.contains((ts(0), "crawl_a", 1L, 11L)),
        s"crawl_a window must hold only the dedup survivor; got $got")
      assert(got.contains((ts(0), "crawl_b", 1L, 7L)), s"got $got")
    } finally q.stop()
  }

  test("streaming decontamination drops docs sharing a benchmark n-gram") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val benchmark = Seq(
      (100L, "the forbidden eval question appears exactly like this", "eval", ts(0))
    ).toDF("doc_id", "text", "source", "ingest_ts")
    val input = MemoryStream[Doc]
    val q = DocStreams.decontaminate(input.toDF(), benchmark, n = 5)
      .writeStream.outputMode("append")
      .format("memory").queryName("doc_decon").start()
    try {
      input.addData(
        // shares the 5-gram "the forbidden eval question appears"
        Doc(1, "we know the forbidden eval question appears in training", "crawl", ts(1)),
        Doc(2, "a perfectly clean document with no overlap at all", "crawl", ts(2)),
        Doc(3, "too short to have any five gram shared but words overlap", "crawl", ts(3)))
      q.processAllAvailable()
      val got = spark.table("doc_decon").select("doc_id").as[Long]
        .collect().sorted
      assert(got === Array(2L, 3L),
        "only the doc sharing a full 5-gram is contaminated")
    } finally q.stop()
  }

  test("streamed incremental admission equals the batch matcher") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // static corpus: the real fixture docs; batch: bimodal mutations of
    // every 3rd doc (the q_dedup_incremental shape), fed in two
    // micro-batches
    val dir = "/root/testdata/sf0.001"
    val base = Tables.documents(spark, dir).select("doc_id", "text")
    val newDocs = base.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        when(col("doc_id") % 2 === 0, substring(col("text"), 21, 1000000))
          .otherwise(substring(col("text"), 1, 80)).as("text"))
      .collect().map(r =>
        Doc(r.getLong(0), r.getString(1), "crawl", ts(0)))
    val (b1, b2) = newDocs.splitAt(newDocs.length / 2)

    val corpusSh = graft.operators.Dedup.shingleIndex(base, 3).persist()
    val admitted = scala.collection.mutable.ArrayBuffer[Long]()
    val input = MemoryStream[Doc]
    val q = DocStreams.admitAgainstCorpus(input.toDF(), corpusSh) {
      (out, _) =>
        admitted.synchronized {
          admitted ++= out.select("doc_id").collect().map(_.getLong(0))
        }
    }.start()
    try {
      input.addData(b1.toIndexedSeq: _*)
      q.processAllAvailable()
      input.addData(b2.toIndexedSeq: _*)
      q.processAllAvailable()
    } finally q.stop()

    val expect = graft.operators.Dedup.qIncrementalDedup(spark, dir)
      .collect().map(_.getLong(0)).toSet
    corpusSh.unpersist()
    assert(admitted.toSet === expect,
      "micro-batched admission must equal the one-shot batch result")
    assert(admitted.nonEmpty)
  }

  test("admission stream lands in a snapshot table: one commit per " +
    "micro-batch, content equals the admitted union, replay is a no-op") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val base = Tables.documents(spark, dir).select("doc_id", "text")
    val newDocs = base.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        when(col("doc_id") % 2 === 0, substring(col("text"), 21, 1000000))
          .otherwise(substring(col("text"), 1, 80)).as("text"))
      .collect().map(r =>
        Doc(r.getLong(0), r.getString(1), "crawl", ts(0)))
    val (b1, b2) = newDocs.splitAt(newDocs.length / 2)
    val corpusSh = graft.operators.Dedup.shingleIndex(base, 3).persist()
    val root = java.nio.file.Files
      .createTempDirectory("graft-snap-stream").toString
    val input = MemoryStream[Doc]
    val q = DocStreams.admitAgainstCorpus(input.toDF(), corpusSh)(
      DocStreams.snapshotSink(root)).start()
    try {
      input.addData(b1.toIndexedSeq: _*)
      q.processAllAvailable()
      input.addData(b2.toIndexedSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    corpusSh.unpersist()
    val landed = graft.plans.SnapshotStore.read(spark, root)
      .select("doc_id").as[Long].collect().toSet
    val expect = graft.operators.Dedup.qIncrementalDedup(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(landed === expect,
      "the snapshot table must hold exactly the admitted docs")
    assert(graft.plans.SnapshotStore.history(root).size === 2,
      "one commit per micro-batch")
    // a replayed micro-batch (same batchId tag) must not double-land
    graft.plans.SnapshotStore.appendOnce(
      Seq(Doc(999L, "replay", "crawl", ts(0))).toDF(), root, "batch-0")
    assert(graft.plans.SnapshotStore.history(root).size === 2)
  }

  test("every Spark job of an admission micro-batch is described: the " +
    "gate's as docstreams.<gate>, the sink commit's as snapshot.appendOnce") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq((1L, good), (2L, "a wholly different corpus line " +
      "about rivers mountains and the weather in spring")).toDF("doc_id", "text")
    val newDocs = Seq(Doc(10L, good, "crawl", ts(0)),
      Doc(11L, "fresh text about ledgers tallies and audits of the " +
        "municipal count", "crawl", ts(0)))
    val corpusSh = graft.operators.Dedup.shingleIndex(corpus, 3).persist()
    val root = java.nio.file.Files
      .createTempDirectory("graft-snap-described").toString
    val input = MemoryStream[Doc]
    input.addData(newDocs.toIndexedSeq: _*)
    val writer = DocStreams.admitAgainstCorpus(input.toDF(), corpusSh)(
      DocStreams.snapshotSink(root))
    val jobs = JobCensus.of(spark) {
      val q = writer.start()
      try q.processAllAvailable() finally q.stop()
    }
    corpusSh.unpersist()
    assert(graft.plans.SnapshotStore.read(spark, root).select("doc_id")
      .as[Long].collect().toSeq === Seq(11L), "the corpus copy is not admitted")
    val described = Set("docstreams.admitAgainstCorpus", "snapshot.appendOnce")
    assert(jobs.map(_.description).toSet === described, jobs.mkString("\n"))
  }

  test("a no-data micro-batch commits its tag alone: no zero-row group " +
    "joins the live set, and a replay of that tag adds no row") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files
      .createTempDirectory("graft-snap-nodata").toString
    val input = MemoryStream[Doc]
    // the dedup watermark moves with the first batch, so the query then
    // runs a no-data batch to evict state: a warm-up's trailing batch
    val q = DocStreams.dedupByContent(prepare(input.toDF()))
      .writeStream.foreachBatch(DocStreams.snapshotSink(root)).start()
    try {
      input.addData(Doc(1, good, "crawl", ts(0)))
      q.processAllAvailable()
    } finally q.stop()
    val last = q.recentProgress.last
    assert(last.numInputRows === 0, "the warm-up must end on a no-data batch")
    val history = graft.plans.SnapshotStore.describeHistory(root)
    assert(history.map(_._3) === Seq(1, 0),
      "the data batch adds one group, the no-data batch none")
    val groups = java.nio.file.Files.list(java.nio.file.Paths.get(root, "data"))
      .toArray.toSeq.map(_.toString)
    assert(groups.size === graft.plans.SnapshotStore.probeStateLiveCount(root))
    groups.foreach(g => assert(spark.read.parquet(g).count() > 0,
      s"zero-row group $g"))
    val rows = graft.plans.SnapshotStore.read(spark, root).count()
    assert(rows === 1L)
    assert(graft.plans.SnapshotStore.appendOnce(
      Seq(Doc(2, goodOtherPii, "crawl", ts(1))).toDF(), root,
      s"batch-${last.batchId}") === None)
    assert(graft.plans.SnapshotStore.read(spark, root).count() === rows)
  }

  test("streaming retrieval over the saved artifacts: stream equals " +
    "batch search row-for-row for both stores, results land in a " +
    "snapshot table exactly-once, and retrieval composes with the " +
    "admission gate in one micro-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val base = Tables.documents(spark, dir).select("doc_id", "text")
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-servestream").toString
    val bm = "servestream_bm"
    val tfx = "servestream_tf"
    graft.plans.Bm25IndexStore.build(base, bm, s"$tmp/bm", buckets = 4)
    graft.plans.TfidfIndexStore.build(base, tfx, s"$tmp/tf",
      buckets = 4)
    val queryDocs = base.filter(col("doc_id") % 25 === 0).collect()
      .map(r => Doc(r.getLong(0), r.getString(1), "search", ts(0)))
    val (q1, q2) = queryDocs.splitAt(queryDocs.length / 2)
    def rows4(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet

    // BM25: two micro-batches of query docs land ranked results in a
    // snapshot table; the union equals the one-shot batch search
    val root = java.nio.file.Files
      .createTempDirectory("graft-servestream-snap").toString
    val in1 = MemoryStream[Doc]
    val s1 = DocStreams.searchBm25Stream(in1.toDF(), bm, 3)(
      DocStreams.snapshotSink(root)).start()
    try {
      in1.addData(q1.toIndexedSeq: _*)
      s1.processAllAvailable()
      in1.addData(q2.toIndexedSeq: _*)
      s1.processAllAvailable()
    } finally s1.stop()
    val batchBm = rows4(graft.plans.Bm25IndexStore.search(
      spark, bm, base.filter(col("doc_id") % 25 === 0), 3))
    assert(rows4(graft.plans.SnapshotStore.read(spark, root)) === batchBm,
      "streamed WAND serving must equal the batch search row-for-row")
    assert(batchBm.nonEmpty)
    assert(graft.plans.SnapshotStore.history(root).size === 2,
      "one commit per query micro-batch")
    // a restart-replayed micro-batch must not double-land
    graft.plans.SnapshotStore.appendOnce(
      Seq((0L, 0, 0L, 0.0)).toDF("query_id", "rnk", "neighbor_id",
        "score"), root, "batch-0")
    assert(graft.plans.SnapshotStore.history(root).size === 2)

    // tf-idf twin: the stream carries doc_ids (doc-as-query shape)
    val got2 = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Int, Long, Double)]
    val in2 = MemoryStream[Long]
    val s2 = DocStreams.searchTfidfStream(
      in2.toDF().withColumnRenamed("value", "doc_id"), tfx, 3) {
      (out, _) => got2.synchronized { got2 ++= rows4(out) }
    }.start()
    try {
      in2.addData(queryDocs.map(_.doc_id).toIndexedSeq: _*)
      s2.processAllAvailable()
    } finally s2.stop()
    val batchTf = rows4(graft.plans.TfidfIndexStore.search(
      spark, tfx, base.filter(col("doc_id") % 25 === 0)
        .select("doc_id"), 3))
    assert(got2.toSet === batchTf)
    assert(batchTf.nonEmpty)

    // composition: one foreachBatch admits against the corpus AND
    // immediately retrieves context for exactly the admitted docs
    // from the saved artifact — the ingest-then-enrich pipeline shape
    val corpusSh = graft.operators.Dedup.shingleIndex(base, 3).persist()
    val newDocs = base.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        when(col("doc_id") % 2 === 0, substring(col("text"), 21, 1000000))
          .otherwise(substring(col("text"), 1, 80)).as("text"))
      .collect().map(r => Doc(r.getLong(0), r.getString(1), "crawl", ts(0)))
    val admittedIds = scala.collection.mutable.ArrayBuffer.empty[Long]
    val ranked = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Int, Long, Double)]
    val in3 = MemoryStream[Doc]
    val s3 = DocStreams.admitAgainstCorpus(in3.toDF(), corpusSh) {
      (admitted, _) =>
        val a = admitted.select("doc_id", "text").localCheckpoint(true)
        admittedIds.synchronized {
          admittedIds ++= a.select("doc_id").as[Long].collect()
        }
        ranked.synchronized {
          ranked ++= rows4(graft.plans.Bm25IndexStore.wandSearch(
            spark, bm, a, 3))
        }
    }.start()
    try {
      in3.addData(newDocs.toIndexedSeq: _*)
      s3.processAllAvailable()
    } finally s3.stop()
    corpusSh.unpersist()
    assert(admittedIds.nonEmpty)
    // the admitted SET is pinned against the batch matcher by the
    // admission tests above; here pin that the composed stage ranks
    // exactly that set, identically to a batch wandSearch over it
    val admittedDocs = newDocs
      .filter(d => admittedIds.contains(d.doc_id))
      .map(d => (d.doc_id, d.text)).toSeq.toDF("doc_id", "text")
    val expectRanked = rows4(graft.plans.Bm25IndexStore.wandSearch(
      spark, bm, admittedDocs, 3))
    assert(ranked.toSet === expectRanked,
      "composed admit->retrieve must rank exactly the admitted docs")
    assert(ranked.map(_._1).toSet.subsetOf(admittedIds.toSet),
      "ranked query ids must come from the admitted set")
  }

  test("streamed semantic admission against the saved IVF index " +
    "equals the batch admit set") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val table = "ivf_stream_admit"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_cells")
    val path = java.nio.file.Files
      .createTempDirectory("graft-ivf-stream").toString + "/ivf"
    graft.plans.IvfIndexStore.build(emb, 16, table, path, buckets = 4)
    // batch = verbatim copies (rejected) + negated vectors (admitted)
    val rows = emb.filter(col("vec_id") % 7 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      .unionByName(emb.filter(col("vec_id") % 5 === 1)
        .select((col("vec_id") + 2000000L).as("vec_id"),
          org.apache.spark.sql.functions.transform(
            col("embedding"), x => -x).as("embedding")))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val admitted = scala.collection.mutable.ArrayBuffer[Long]()
    val input = MemoryStream[(Long, Array[Float])]
    val q = DocStreams.admitBySimilarity(
      input.toDF().toDF("vec_id", "embedding"), table, 0.9) {
      (out, _) =>
        admitted.synchronized {
          admitted ++= out.select("vec_id").collect().map(_.getLong(0))
        }
    }.start()
    try {
      input.addData(b1.toIndexedSeq: _*)
      q.processAllAvailable()
      input.addData(b2.toIndexedSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    val want = rows.map(_._1).filter(_ >= 2000000L).toSet
    assert(admitted.toSet === want,
      "copies rejected, negated vectors admitted — micro-batched ≡ batch")
    assert(admitted.nonEmpty)
  }

  test("streamed signature-index admission equals the batch matcher") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // same corpus/batch shape as the postings-join admission test, but
    // the corpus lives in the PERSISTED ShingleIndexStore artifact and
    // candidates come from its signature table — admission must still
    // equal the one-shot exact batch matcher (recall-1 banding)
    val dir = "/root/testdata/sf0.001"
    val base = Tables.documents(spark, dir).select("doc_id", "text")
    val newDocs = base.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        when(col("doc_id") % 2 === 0, substring(col("text"), 21, 1000000))
          .otherwise(substring(col("text"), 1, 80)).as("text"))
      .collect().map(r =>
        Doc(r.getLong(0), r.getString(1), "crawl", ts(0)))
    val (b1, b2) = newDocs.splitAt(newDocs.length / 2)

    Seq("stream_idx", "stream_idx_sizes", "stream_idx_sigs")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val path = java.nio.file.Files
      .createTempDirectory("graft-stream-idx").toString
    graft.plans.ShingleIndexStore.build(
      base, 3, "stream_idx", s"$path/idx", buckets = 8)

    val admitted = scala.collection.mutable.ArrayBuffer[Long]()
    val input = MemoryStream[Doc]
    val q = DocStreams.admitAgainstSignatureIndex(
      input.toDF(), "stream_idx") { (out, _) =>
        admitted.synchronized {
          admitted ++= out.select("doc_id").collect().map(_.getLong(0))
        }
    }.start()
    try {
      input.addData(b1.toIndexedSeq: _*)
      q.processAllAvailable()
      input.addData(b2.toIndexedSeq: _*)
      q.processAllAvailable()
    } finally q.stop()

    val expect = graft.operators.Dedup.qIncrementalDedup(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(admitted.toSet === expect,
      "signature-index admission must equal the exact batch matcher")
    assert(admitted.nonEmpty)
  }

  test("streaming DSIR admission scores against the frozen model") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val corpus = Tables.documents(spark, dir)
      .select("doc_id", "text", "lang")
    val (weights, default) = graft.operators.TextAnalysis
      .dsirModel(corpus, col("lang") === "en")
    weights.persist()
    // stream a slice of the corpus itself plus one all-unseen doc
    val streamed = corpus.filter(col("doc_id") % 7 === 0)
      .collect().map(r => Doc(r.getLong(0), r.getString(1), "c", ts(0))) :+
      Doc(999999L, "zzzz qqqq wwww jjjj", "c", ts(1))
    val admitted = scala.collection.mutable.Set[Long]()
    val input = MemoryStream[Doc]
    val q = DocStreams.admitByImportance(input.toDF(), weights, default) {
      (out, _) =>
        admitted.synchronized {
          admitted ++= out.select("doc_id").collect().map(_.getLong(0))
        }
    }.start()
    try {
      input.addData(streamed.toIndexedSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    // driver-side recomputation from the collected model — the gate must
    // equal per-doc mean log-ratio > 0, unseen terms at the default
    val w = weights.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    weights.unpersist()
    val expect = streamed.filter { doc =>
      val toks = doc.text.trim.split("\\s+").filter(_.nonEmpty)
      toks.nonEmpty &&
        toks.map(t => w.getOrElse(t, default)).sum / toks.length > 0
    }.map(_.doc_id).toSet
    assert(admitted.toSet === expect)
    assert(admitted.nonEmpty && admitted.size < streamed.length,
      "gate must admit some and reject some")
    // the all-unseen doc scores exactly the default, whose SIGN is a
    // corpus-balance fact (ln((ns+v)/(nt+v)) — positive when non-target
    // tokens outnumber target ones, as here): admission must follow it
    assert(admitted.contains(999999L) === (default > 0))
  }

  test("normalize stage strips markup and canonicalizes, batch ≡ stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // html shell + encoded entity + decomposed é + a BEL control
    val dirty =
      "<p>the quick brown fox</p><script>x=1</script>" +
        " Tom &amp; Jerry cafe\u0301\u0007"
    val docs = Seq(Doc(1L, dirty, "crawl", ts(0)))
    val batch = DocStreams.normalize(docs.toDF())
      .select("text").head.getString(0)
    assert(batch === "the quick brown fox Tom & Jerry caf\u00e9")
    // canonical: the combining mark collapsed into the precomposed form
    assert(!batch.contains('\u0301') && batch.contains('\u00e9'))
    // stateless → stream output is byte-identical
    val got = scala.collection.mutable.ArrayBuffer[String]()
    val input = MemoryStream[Doc]
    val q = DocStreams.normalize(input.toDF())
      .writeStream.foreachBatch { (out: org.apache.spark.sql.DataFrame,
        _: Long) =>
        got.synchronized {
          got ++= out.select("text").collect().map(_.getString(0))
        }
        ()
      }.start()
    try {
      input.addData(docs.toIndexedSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(got.toSeq === Seq(batch))
  }

  test("streaming quality gate under frozen weights equals the batch cut") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val corpus = Tables.documents(spark, dir)
    // frozen weights trained once in "batch land"
    val w = graft.operators.Classifier.train(
      graft.operators.Classifier.features(corpus))
    val tau = 0.5
    val streamed = corpus.filter(col("doc_id") % 5 === 0)
      .select("doc_id", "text")
      .collect().map(r => Doc(r.getLong(0), r.getString(1), "c", ts(0)))
    val admitted = scala.collection.mutable.Set[Long]()
    val input = MemoryStream[Doc]
    val q = DocStreams.admitByQuality(input.toDF(), w, tau)
      .writeStream.foreachBatch { (out: org.apache.spark.sql.DataFrame,
        _: Long) =>
        admitted.synchronized {
          admitted ++= out.select("doc_id").collect().map(_.getLong(0))
        }
        ()
      }.start()
    try {
      input.addData(streamed.toIndexedSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    // batch twin: the scored corpus restricted to the streamed slice
    val expect = graft.operators.Classifier
      .scoreWith(graft.operators.Classifier.features(corpus), w)
      .filter(col("doc_id") % 5 === 0 && col("score") >= tau)
      .collect().map(_.getLong(0)).toSet
    assert(admitted.toSet === expect)
    assert(admitted.nonEmpty && admitted.size < streamed.length,
      "gate must admit some and reject some")
  }

  test("streaming span scrub strips corpus-duplicated spans per batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta"),
      (101L, "one two three four five six seven")).toDF("doc_id", "text")
    val grams = DocStreams.corpusGramSet(corpus, n = 5).persist()
    // doc 1: prefix duplicates corpus doc 100's first 5-gram; tail fresh.
    // doc 2: entirely fresh. doc 3 (second batch): full copy of doc 101.
    val d1 = Doc(1, "alpha beta gamma delta epsilon fresh words here", "c", ts(0))
    val d2 = Doc(2, "completely novel content with no overlap at all", "c", ts(1))
    val d3 = Doc(3, "one two three four five six seven", "c", ts(2))
    val got = scala.collection.mutable.Map[Long, (Long, Long, String)]()
    val input = MemoryStream[Doc]
    val q = DocStreams.scrubSpansAgainstCorpus(input.toDF(), grams) {
      (out, _) =>
        got.synchronized {
          out.collect().foreach(r => got(r.getLong(0)) =
            (r.getLong(1), r.getLong(2), r.getString(3)))
        }
    }.start()
    try {
      input.addData(d1, d2)
      q.processAllAvailable()
      input.addData(d3)
      q.processAllAvailable()
    } finally q.stop()
    grams.unpersist()
    assert(got(1L) === ((8L, 5L, "fresh words here")))
    assert(got(2L) ===
      ((8L, 0L, "completely novel content with no overlap at all")))
    assert(got(3L) === ((7L, 7L, "")), "verbatim corpus copy scrubs to empty")
    // batch form over the same rows gives identical results
    val batchGot = graft.operators.Dedup.spanCoverageScrub(
      Seq((1L, d1.text), (2L, d2.text), (3L, d3.text)).toDF("doc_id", "text"),
      grams, 5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(batchGot === got.toMap)
  }

  test("line scrub streams: frozen corpus lines own keep-first, batch-first within") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def seg(p: String) = (1 to 8).map(p + _).mkString(" ")
    val a = seg("a"); val b = seg("b"); val f = seg("f"); val g = seg("g")
    val corpus = Seq((1L, s"$a $b"), (2L, f"$f")).toDF("doc_id", "text")
    val lines = graft.operators.Dedup.corpusLineSet(corpus, 8)
      .localCheckpoint(true)
    val d100 = Doc(100, s"$a $g", "c", ts(0))   // a owned by corpus
    val d101 = Doc(101, s"$g $g", "c", ts(1))   // within-batch repeat of g
    val d102 = Doc(102, s"$a $b", "c", ts(2))   // 2nd batch: verbatim corpus
    val got = scala.collection.mutable.Map[Long, (Long, Long, String)]()
    val input = MemoryStream[Doc]
    val q = DocStreams.scrubLinesAgainstCorpus(input.toDF(), lines) {
      (out, _) =>
        got.synchronized {
          out.collect().foreach(r => got(r.getLong(0)) =
            (r.getLong(1), r.getLong(2), r.getString(3)))
        }
    }.start()
    try {
      input.addData(d100, d101)
      q.processAllAvailable()
      input.addData(d102)
      q.processAllAvailable()
    } finally q.stop()
    assert(got(100L) === ((2L, 1L, g)), "corpus-owned line drops, fresh stays")
    // d100 precedes d101, so d100's g wins the batch and d101 loses both
    assert(got(101L) === ((2L, 2L, "")))
    assert(got(102L) === ((2L, 2L, "")), "verbatim corpus copy scrubs whole")
    // whole-corpus batch lineDedup restricted to the arriving ids agrees
    // (corpus ids precede batch ids; batches share no fresh lines)
    val batchGot = graft.operators.Dedup.lineDedup(
      corpus.unionByName(Seq((100L, d100.text), (101L, d101.text),
        (102L, d102.text)).toDF("doc_id", "text")), 8)
      .filter(col("doc_id") >= 100L)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(batchGot === got.toMap)
  }

  test("bpe token accounting streams frozen-tokenizer counts per source") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val path = java.nio.file.Files
      .createTempDirectory("graft-bpe-acct").toString
    graft.plans.BpeStore.build(corpus, 10, "acct_bpe", path)
    // two sources, one batch with an unseen word — counts must come
    // from the frozen merges, not a whitespace split
    val d1 = Doc(1, "the quick spark engine merges tokens", "web", ts(0))
    val d2 = Doc(2, "unseeenword zzq", "web", ts(1))
    val d3 = Doc(3, "another document entirely", "books", ts(2))
    val got = scala.collection.mutable.Map[(String), (Long, Long, Long)]()
    val input = MemoryStream[Doc]
    val q = DocStreams.bpeTokenAccounting(input.toDF(), "acct_bpe") {
      (out, _) =>
        got.synchronized {
          out.collect().foreach(r => got(r.getString(1)) =
            (r.getLong(2), r.getLong(3), r.getLong(4)))
        }
    }.start()
    try {
      input.addData(d1, d2, d3)
      q.processAllAvailable()
    } finally q.stop()
    // batch twin: the served encode on the same rows
    val batchEnc = graft.plans.BpeStore.encode(spark,
      Seq((1L, d1.text), (2L, d2.text), (3L, d3.text))
        .toDF("doc_id", "text"), "acct_bpe")
      .collect().map(r => r.getLong(0) -> (r.getLong(3), r.getLong(2)))
      .toMap
    assert(got("web") === ((2L,
      batchEnc(1L)._1 + batchEnc(2L)._1,
      batchEnc(1L)._2 + batchEnc(2L)._2)))
    assert(got("books") === ((1L, batchEnc(3L)._1, batchEnc(3L)._2)))
    // the merges genuinely compressed: fewer BPE tokens than chars
    assert(got("web")._2 < got("web")._3)
  }

  test("gopher gate streams: admitted ids equal the battery's keep=1 set") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // fixture docs give a genuine pass/fail mix under the real thresholds
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(60).collect()
      .map(r => Doc(r.getLong(0), r.getString(1), r.getString(3), ts(0)))
    val expected = graft.operators.Quality
      .gopherRules(docs.toSeq.toDF("doc_id", "text", "source", "ingest_ts"))
      .filter(col("keep") === 1)
      .collect().map(_.getLong(0)).toSet
    assert(expected.nonEmpty && expected.size < docs.length,
      "thresholds must bite both ways on the sample")
    val input = MemoryStream[Doc]
    val q = graft.operators.Quality.gopherFilter(input.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("gopher_gate").start()
    try {
      input.addData(docs.toSeq: _*)
      q.processAllAvailable()
      val admitted = spark.table("gopher_gate")
        .collect().map(_.getLong(0)).toSet
      assert(admitted === expected)
    } finally q.stop()
  }

  test("streamed perceptual admission (audio + video) against the " +
    "saved fingerprint indexes: copies rejected, fresh clips admitted") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.multimodal.{Multimodal => MM}
    val dir = "/root/testdata/sf0.001"
    val ids = Tables.documents(spark, dir).select("doc_id")
      .as[Long].collect().filter(_ % 16 == 0).take(16).toSeq

    // ---- audio: pitched/gain-shifted copies reject, fresh admit ----
    val aTable = "ahash_stream_admit"
    spark.sql(s"DROP TABLE IF EXISTS $aTable")
    val aPath = java.nio.file.Files
      .createTempDirectory("graft-ahash-stream").toString + "/idx"
    graft.plans.AhashIndexStore.build(
      ids.map(id => (id, MM.renderClip(id, copy = false)))
        .toDF("doc_id", "payload"), aTable, aPath)
    val aRows = ids.flatMap { id =>
      Seq((id + 1000000L, MM.renderClip(id, copy = true))) ++
        (if (id % 32 == 16)
           Seq((id + 2000000L, MM.renderClip(id + 2000000L, copy = false)))
         else Nil)
    } :+ ((9999999L, Array[Byte](1, 2, 3))) // undecodable: must DROP
    // (the batch path's admitAndExtend anti-joins fingerprinted rows
    // only, so undecodable clips silently drop there — the stream gate
    // semi-joins through its own fingerprints to match row-for-row)
    val aAdm = scala.collection.mutable.ArrayBuffer[Long]()
    val aIn = MemoryStream[(Long, Array[Byte])]
    val q1 = DocStreams.admitByFingerprint(graft.plans.AhashIndexStore)(
      aIn.toDF().toDF("doc_id", "payload"), aTable) { (out, _) =>
      aAdm.synchronized {
        aAdm ++= out.select("doc_id").collect().map(_.getLong(0))
      }
    }.start()
    try {
      aIn.addData(aRows.toIndexedSeq: _*)
      q1.processAllAvailable()
    } finally q1.stop()
    assert(aAdm.toSet ===
      aRows.map(_._1).filter(id => id >= 2000000L && id != 9999999L).toSet,
      "audio: every pitched copy rejected, every fresh clip admitted, " +
        "undecodable dropped (stream == batch)")
    assert(aAdm.nonEmpty)

    // ---- video: re-encoded brightness-shifted copies reject ----
    val vTable = "vhash_stream_admit"
    spark.sql(s"DROP TABLE IF EXISTS $vTable")
    val vPath = java.nio.file.Files
      .createTempDirectory("graft-vhash-stream").toString + "/idx"
    graft.plans.VhashIndexStore.build(
      ids.map(id => (id, MM.renderVideo(id, copy = false)))
        .toDF("doc_id", "payload"), vTable, vPath)
    val vRows = ids.flatMap { id =>
      Seq((id + 1000000L, MM.renderVideo(id, copy = true))) ++
        (if (id % 32 == 16)
           Seq((id + 2000000L, MM.renderVideo(id + 2000000L, copy = false)))
         else Nil)
    } :+ ((9999999L, Array[Byte](4, 5, 6))) // undecodable: must DROP
    val vAdm = scala.collection.mutable.ArrayBuffer[Long]()
    val vIn = MemoryStream[(Long, Array[Byte])]
    val q2 = DocStreams.admitByFingerprint(graft.plans.VhashIndexStore)(
      vIn.toDF().toDF("doc_id", "payload"), vTable) { (out, _) =>
      vAdm.synchronized {
        vAdm ++= out.select("doc_id").collect().map(_.getLong(0))
      }
    }.start()
    try {
      vIn.addData(vRows.toIndexedSeq: _*)
      q2.processAllAvailable()
    } finally q2.stop()
    assert(vAdm.toSet ===
      vRows.map(_._1).filter(id => id >= 2000000L && id != 9999999L).toSet,
      "video: every re-encoded copy rejected, every fresh clip admitted, " +
        "undecodable dropped (stream == batch)")
    assert(vAdm.nonEmpty)
  }

  test("prepare is batch/stream agnostic: identical rows both ways") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      Doc(1, good, "crawl", ts(0)),
      Doc(3, "spam spam spam spam spam spam", "crawl", ts(2)),
      Doc(4, "another normal document with several distinct words", "crawl", ts(3)))
    val batch = prepare(docs.toDF()).collect().map(_.toString).sorted
    val input = MemoryStream[Doc]
    val q = prepare(input.toDF()).writeStream.outputMode("append")
      .format("memory").queryName("doc_prep").start()
    try {
      input.addData(docs: _*)
      q.processAllAvailable()
      val streamed = spark.table("doc_prep").collect().map(_.toString).sorted
      assert(streamed === batch)
    } finally q.stop()
  }

  test("one pass per micro-batch: the gate stage runs at most one task " +
    "per core, and the dedup state runs once per batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val base = Tables.documents(spark, dir).select("doc_id", "text")
    // 40 documents of the admission fixture's batch, each its own
    // addData offer: the source hands the batch one partition per doc
    val docs = base.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        when(col("doc_id") % 2 === 0, substring(col("text"), 21, 1000000))
          .otherwise(substring(col("text"), 1, 80)).as("text"))
      .orderBy("doc_id").limit(40)
      .collect().map(r => Doc(r.getLong(0), r.getString(1), "crawl", ts(0)))
    val corpusSh = graft.operators.Dedup.shingleIndex(base, 3).persist()
    val root = java.nio.file.Files
      .createTempDirectory("graft-snap-onepass").toString
    val input = MemoryStream[Doc]
    docs.foreach(d => input.addData(d))
    val stageTasks =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(s: org.apache.spark.scheduler
          .SparkListenerStageSubmitted): Unit = {
        stageTasks.add((s.stageInfo.name, s.stageInfo.numTasks)); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    var progress = Array.empty[org.apache.spark.sql.streaming
      .StreamingQueryProgress]
    try JobCensus.of(spark) {
      val q = DocStreams.admitAgainstCorpus(
        DocStreams.dedupByContent(prepare(input.toDF())), corpusSh)(
        DocStreams.snapshotSink(root)).start()
      try q.processAllAvailable() finally q.stop()
      progress = q.recentProgress
    } finally spark.sparkContext.removeSparkListener(l)
    corpusSh.unpersist()

    val partitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val batches = progress.filter(_.stateOperators.nonEmpty)
    assert(batches.exists(_.numInputRows > 0))
    batches.foreach { p =>
      assert(p.stateOperators(0).numStateStoreInstances === partitions,
        s"batch ${p.batchId}: the dedup state must run once per batch")
    }
    val fps = prepare(docs.toSeq.toDF()).select("fp").distinct().count()
    assert(batches.filter(_.numInputRows > 0).last.stateOperators(0)
      .numRowsTotal === fps, "state holds each distinct fingerprint once")
    val slots = spark.sparkContext.defaultParallelism
    import scala.jdk.CollectionConverters._
    val wide = stageTasks.asScala.filter(_._2 > slots).toSeq
    assert(wide.isEmpty,
      s"stages over $slots tasks, one per source offer: $wide")
    val landed = graft.plans.SnapshotStore.read(spark, root)
      .select("doc_id").as[Long].collect().toSet
    val expect = graft.operators.Dedup.qIncrementalDedup(spark, dir)
      .collect().map(_.getLong(0)).toSet
      .intersect(docs.map(_.doc_id).toSet)
    assert(landed === expect,
      "one-pass admission must equal the one-shot batch result")
    assert(landed.nonEmpty)
  }

  test("perceptual admission reads each micro-batch once and runs its " +
    "fingerprint kernel outside the sink's plan") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.multimodal.{Multimodal => MM}
    val ids = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id").as[Long].collect().filter(_ % 16 == 0).take(4).toSeq
    // the payload column passes through a counting tap ahead of the
    // gate: every evaluation of the micro-batch's lineage counts once
    // per row
    val produced = spark.sparkContext.longAccumulator("payload rows")
    val tap = udf { (b: Array[Byte]) => produced.add(1); b }
      .asNondeterministic()
    def kernelIn(df: org.apache.spark.sql.DataFrame, kernel: Class[_]) =
      df.queryExecution.optimizedPlan
        .exists(_.expressions.exists(_.exists(e => kernel.isInstance(e))))
    def runGate(rows: Seq[(Long, Array[Byte])], kernel: Class[_])(
        gate: org.apache.spark.sql.DataFrame => ((org.apache.spark.sql
          .DataFrame, Long) => Unit) => org.apache.spark.sql.streaming
          .DataStreamWriter[org.apache.spark.sql.Row]): Set[Long] = {
      val admitted = scala.collection.mutable.Set[Long]()
      var inSink = false
      val in = MemoryStream[(Long, Array[Byte])]
      in.addData(rows: _*)
      produced.reset()
      val q = gate(in.toDF().select(col("_1").as("doc_id"),
        tap(col("_2")).as("payload"))) { (out, _) =>
        inSink = inSink || kernelIn(out, kernel)
        admitted ++= out.select("doc_id").collect().map(_.getLong(0))
      }.start()
      try q.processAllAvailable() finally q.stop()
      assert(produced.value === rows.length.toLong,
        s"${kernel.getSimpleName}: the micro-batch must be computed once")
      assert(!inSink, s"${kernel.getSimpleName} must not rerun in the sink")
      admitted.toSet
    }

    val aTable = "ahash_stream_once"
    spark.sql(s"DROP TABLE IF EXISTS $aTable")
    graft.plans.AhashIndexStore.build(
      ids.map(id => (id, MM.renderClip(id, copy = false)))
        .toDF("doc_id", "payload"), aTable, java.nio.file.Files
        .createTempDirectory("graft-ahash-once").toString + "/idx")
    val aRows = ids.map(id => (id + 1000000L, MM.renderClip(id, copy = true))) ++
      Seq((2000016L, MM.renderClip(2000016L, copy = false)),
        (9999999L, Array[Byte](1, 2, 3)))
    assert(runGate(aRows, classOf[graft.functions.AHash64Expr])(
      DocStreams.admitByFingerprint(graft.plans.AhashIndexStore)(_, aTable))
      === Set(2000016L))

    val vTable = "vhash_stream_once"
    spark.sql(s"DROP TABLE IF EXISTS $vTable")
    graft.plans.VhashIndexStore.build(
      ids.map(id => (id, MM.renderVideo(id, copy = false)))
        .toDF("doc_id", "payload"), vTable, java.nio.file.Files
        .createTempDirectory("graft-vhash-once").toString + "/idx")
    val vRows = ids.map(id => (id + 1000000L, MM.renderVideo(id, copy = true))) ++
      Seq((2000016L, MM.renderVideo(2000016L, copy = false)),
        (9999999L, Array[Byte](4, 5, 6)))
    assert(runGate(vRows, classOf[graft.functions.VHashFramesExpr])(
      DocStreams.admitByFingerprint(graft.plans.VhashIndexStore)(_, vTable))
      === Set(2000016L))
  }
}
