package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.functions.RepetitionStats
import graft.functions.TextFunctions._
import graft.operators.Quality

/** The training-corpus ingest pipeline as a STREAM: the quality-gate /
  * scrub / dedup stages of [[graft.operators.Quality]] and
  * [[graft.operators.Curation]] applied to a continuous document feed
  * (the shape of a crawler → corpus pipeline, where documents arrive
  * with an ingest timestamp rather than sitting in a parquet snapshot).
  *
  * Every stage is built from the same codegen'd per-row kernels the
  * batch operators use — `RepetitionStats`, `piiScrub`, `fingerprint`
  * are stateless row maps, so they run identically under `readStream`
  * micro-batches and batch frames (asserted in DocStreamsSpec). The only
  * stateful stage is content dedup, which uses
  * `dropDuplicatesWithinWatermark` so state stays bounded by the
  * lateness horizon instead of growing with corpus size — the same
  * at-least-once-source contract as [[EventStreams.dedupStream]].
  *
  * Each micro-batch does its work once, on at most one task per core:
  * [[dedupByContent]] bounds the gate stage's task count, and every
  * foreachBatch gate that reads its batch more than once reads it
  * through [[once]]: one job computes the batch, and with it the dedup
  * state, into blocks that every plan of the gate reads and that are
  * released when the gate's sink returns.
  *
  * Expected input schema: (doc_id long, text string, source string,
  * ingest_ts timestamp).
  */
object DocStreams {

  /** The expected input row shape (also the MemoryStream driver type —
    * must live outside any test class for the encoder to see it).
    */
  final case class Doc(
      doc_id: Long, text: String, source: String,
      ingest_ts: java.sql.Timestamp)

  /** Stateless parse/normalize stage ahead of [[prepare]]'s gate: HTML
    * strip ([[Quality.htmlStrip]] — crawl payloads arrive wrapped) →
    * control-char scrub → NFC canonicalization
    * ([[graft.functions.NormalizeNfc]]). Every step is a per-row
    * codegen'd expression, so the stage composes into a structured
    * stream unchanged — and running it BEFORE the gate is load-bearing:
    * the gate's token/length signals and every downstream hash key
    * (dedup, decontamination n-grams) must see canonical text, or
    * case-variant and denormalized duplicates slip every exact matcher
    * (the q_dedup_exact_canonical / q_decontaminate_normalized
    * evidence, applied at ingest).
    */
  def normalize(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    docs.withColumn("text",
      graft.functions.NormalizeNfc.normalize(spark,
        regexp_replace(Quality.htmlStrip(col("text")),
          "[\\x00-\\x08\\x0E-\\x1F]", "")))
  }

  /** Stateless preparation: quality gate (length band, token floor,
    * repetition ceiling) → PII scrub → content fingerprint. Gate
    * thresholds are the Gopher-style knobs; the repetition ceiling uses
    * the per-row kernel, so the gate is still a pure scan-side map with
    * zero shuffle and zero state.
    *
    * Reference discipline: predicate pushdown INLINES projected aliases
    * into the pushed filter, so each kernel reference in the gate
    * becomes a whole kernel evaluation per row. The ceiling therefore
    * compares the kernel's pre-computed `top_bigram_ppm` slot — ONE
    * kernel reference in the whole gate — and a bigram-less document
    * (ppm 0: no repetition evidence) passes rather than being silently
    * rejected on the `n_bigrams > 0` technicality.
    */
  def prepare(
      docs: DataFrame,
      minChars: Int = 100, maxChars: Int = 500,
      minTokens: Int = 20, maxTopBigramFrac: Double = 0.5): DataFrame = {
    val spark = docs.sparkSession
    val ppmCeil = math.round(maxTopBigramFrac * 1000000L)
    docs
      .filter(length(col("text")).between(minChars, maxChars))
      .withColumn("toks", tokens(col("text")))
      .filter(size(col("toks")) >= minTokens &&
        element_at(
          RepetitionStats.stats(spark, col("toks")), 6) <= ppmCeil)
      // scrub BEFORE fingerprinting: two crawls of the same page that
      // differ only in embedded PII must dedup to one document
      .withColumn("clean", Quality.piiScrub(col("text")))
      .select(
        col("doc_id"), col("source"), col("ingest_ts"),
        col("clean").as("text"),
        size(col("toks")).cast("long").as("n_tokens"),
        fingerprint(col("clean")).as("fp"))
  }

  /** Streaming decontamination: drop any arriving document that shares
    * a word n-gram with the STATIC benchmark set — the streaming form
    * of [[graft.operators.Quality.contamination]]. Eval sets are small
    * and fixed for a training run, so the benchmark grams are read ONCE
    * from the batch side and baked into the plan as an array literal;
    * the per-doc check is then `arrays_overlap` on the doc's own
    * shingles — a pure stateless row map (the explode-and-rejoin
    * formulation would be a stream-stream self-join, which is stateful
    * and needs watermarks for the anti side). A benchmark too large for
    * a literal would use the batch operator on micro-batch sinks
    * (`foreachBatch`) instead.
    */
  def decontaminate(
      docs: DataFrame, benchmarkDocs: DataFrame, n: Int = 5): DataFrame = {
    val bench: Array[String] = benchmarkDocs
      .select(tokens(col("text")).as("toks"))
      .select(explode(array_distinct(
        shinglesFromTokens(col("toks"), n))).as("g"))
      .distinct().collect().map(_.getString(0))
    docs.filter(!arrays_overlap(
      shinglesFromTokens(tokens(col("text")), n), lit(bench)))
  }

  /** Content-level exact dedup within the watermark horizon: the first
    * arrival of a fingerprint wins; replays/mirrors landing inside the
    * horizon are dropped, and fingerprint state is evicted once the
    * watermark passes — bounded by arrival rate × horizon, not corpus
    * size.
    *
    * The prepared frame is narrow-coalesced to the session's default
    * parallelism first, so the stage that scans the source, runs
    * [[prepare]]'s kernels and writes the dedup shuffle runs at most one
    * task per core. A source that makes many tiny partitions per batch
    * (MemoryStream: one per `addData` offer; a Kafka topic with more
    * partitions than cores at a trickle rate) would otherwise pay one
    * task per partition. The dedup state's own partitioning (the hash
    * exchange on `fp`) is unchanged.
    */
  def dedupByContent(
      prepared: DataFrame, watermark: String = "1 hour"): DataFrame =
    prepared
      .coalesce(prepared.sparkSession.sparkContext.defaultParallelism)
      .withWatermark("ingest_ts", watermark)
      .dropDuplicatesWithinWatermark("fp")

  /** Per-source ingest accounting over tumbling windows: surviving docs
    * and token mass after gate + dedup — the monitoring feed a corpus
    * ingest job publishes. Watermark finalizes windows and bounds state;
    * pass `watermark = None` when the input is already watermarked (a
    * chained stateful operator must not redefine it — Spark rejects the
    * plan).
    */
  def ingestStats(
      deduped: DataFrame,
      window: String = "10 minutes",
      watermark: Option[String] = Some("1 hour")): DataFrame =
    watermark.fold(deduped)(w => deduped.withWatermark("ingest_ts", w))
      .groupBy(
        org.apache.spark.sql.functions.window(col("ingest_ts"), window),
        col("source"))
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
      .select(col("window.start").as("window_start"),
        col("source"), col("n_docs"), col("n_tokens"))

  /** Windowed per-source token accounting in REAL tokenizer tokens —
    * budget, mixing, and packing math all run in BPE tokens, and the
    * whitespace word counts [[ingestStats]] reports can drift from them
    * by the corpus's chars-per-token ratio. Tokens come from the FROZEN
    * [[graft.plans.BpeStore]] artifact per micro-batch (foreachBatch —
    * the encode derives a per-batch distinct-word vocab and broadcasts
    * it, which is not expressible as a streaming aggregation), then one
    * per-(window, source) sum. Unseen words count correctly — ordered
    * merge application has no OOV path, so the accounting never
    * undercounts novel vocabulary.
    */
  def bpeTokenAccounting(
      docs: DataFrame, table: String, window: String = "10 minutes")(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    gate(docs, "bpeTokenAccounting") { (batch, batchId) =>
      val enc = graft.plans.BpeStore.encode(
        batch.sparkSession, batch.select("doc_id", "text"), table)
      val out = batch.select("doc_id", "source", "ingest_ts")
        .join(enc, "doc_id")
        .groupBy(
          org.apache.spark.sql.functions.window(col("ingest_ts"), window),
          col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum("n_bpe_tokens").as("n_bpe_tokens"),
          sum("n_chars").as("n_chars"))
        .select(col("window.start").as("window_start"), col("source"),
          col("n_docs"), col("n_bpe_tokens"), col("n_chars"))
      sink(out, batchId)
    }

  /** Streaming incremental admission: every arriving micro-batch is
    * near-dup-checked against the STATIC existing corpus — the
    * continual-pretraining ingest gate, streamed. The jaccard match
    * needs a per-pair aggregation over the batch×corpus shingle join,
    * which as a direct stream-static join would be an unbounded
    * streaming aggregation; the canonical production form is
    * `foreachBatch`: each micro-batch runs the BATCH asymmetric matcher
    * ([[graft.operators.Dedup.crossJaccardMatchesIndexed]] — batch side
    * broadcast, corpus index never reshuffled), and only admitted docs
    * reach the sink. Exactly-once composes the usual way (idempotent
    * sink keyed on (batchId, doc_id)).
    *
    * The corpus index is reused verbatim for every micro-batch of the
    * run, so the caller should persist it. Its per-doc shingle counts
    * are computed here, once, when the query is defined, instead of
    * re-aggregated over the whole index by every batch; their
    * checkpoint blocks go when the returned writer and its query are no
    * longer reachable.
    */
  def admitAgainstCorpus(
      docs: DataFrame, corpusShingles: DataFrame,
      threshold: Double = 0.5, n: Int = 3)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val sizes = corpusShingles.groupBy("doc_id").agg(count(lit(1)).as("n"))
      .localCheckpoint(eager = true)
    gate(docs, "admitAgainstCorpus") { (batch, batchId) =>
      once(batch) { b =>
        val matched = graft.operators.Dedup
          .crossJaccardMatchesIndexed(
            graft.operators.Dedup.shingleIndex(b.select("doc_id", "text"), n),
            corpusShingles, sizes, threshold)
          .select(col("id_new").as("doc_id")).distinct()
        sink(b.join(matched, Seq("doc_id"), "left_anti"), batchId)
      }
    }
  }

  /** [[admitAgainstCorpus]] against the PERSISTED signature index
    * ([[graft.plans.ShingleIndexStore]]) instead of an in-session
    * shingle frame — the production shape for continual ingest: the
    * artifact outlives the run, every micro-batch cross-bands its
    * minhash signatures against the saved `<table>_sigs` (~48 longs per
    * corpus doc) and exact-verifies only the candidates against the
    * saved postings, so per-batch cost tracks the batch and the
    * signature table, not the corpus postings. Admission output is
    * identical to [[admitAgainstCorpus]] whenever banding recall is 1 —
    * the fixture guarantee DocStreamsSpec pins and
    * q_dedup_incremental_minhash hash-checks.
    *
    * Same staleness contract as [[scrubSpansAgainstCorpus]]: admitted
    * docs do NOT extend the index mid-run (a foreachBatch write to the
    * table the same query reads would race its own scans); fold admitted
    * batches in between runs via `ShingleIndexStore.extend` — the
    * checkpoint-restart pattern the store exists for.
    */
  def admitAgainstSignatureIndex(
      docs: DataFrame, table: String,
      threshold: Double = 0.5, n: Int = 3)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    gate(docs, "admitAgainstSignatureIndex") { (batch, batchId) =>
      once(batch) { b =>
        val matched = graft.plans.ShingleIndexStore
          .matchBatchBySignature(b.select("doc_id", "text"), n, table,
            threshold)
          .select(col("id_new").as("doc_id")).distinct()
        sink(b.join(matched, Seq("doc_id"), "left_anti"), batchId)
      }
    }

  /** Streaming DSIR admission: score every arriving document against a
    * FROZEN importance model ([[graft.operators.TextAnalysis.dsirModel]]
    * — vocab-sized `(term, lr)` table + unseen-term default) and admit
    * docs whose tf-weighted mean log-ratio clears `minScore`. The
    * continual-pretraining analog of the batch selection
    * (`q_dsir_weights`): the model is fit once on the reference corpus;
    * ingest never re-reads it. `foreachBatch` for the same reason as
    * [[admitAgainstCorpus]] — the per-doc mean is an aggregation over
    * the term join, unbounded as a direct streaming aggregation. The
    * weight table broadcasts (vocab-sized); the caller should persist
    * it across micro-batches.
    *
    * Same staleness contract as [[scrubSpansAgainstCorpus]]: admitted
    * documents don't update the model; rebuild it periodically as the
    * corpus (or the target domain) drifts.
    */
  /** Model-based quality gate under FROZEN classifier weights
    * ([[graft.plans.ClsStore]]-served or passed directly): admit
    * documents whose graded quality score clears τ. The score is one
    * stateless per-row expression ([[graft.operators.Classifier
    * .scoreCol]] — the same arithmetic the batch query hash-checks), so
    * unlike the rule battery's boolean gate this one is TUNABLE at
    * deploy time (raise τ when the budget tightens) without touching
    * the model — and it composes into a structured stream as a plain
    * filter: zero state, zero shuffle, watermark-agnostic.
    *
    * Frozen-model discipline as everywhere: training happens in the
    * batch `build`, the stream only scores, and
    * [[graft.operators.Quality.corpusDrift]] /
    * [[graft.operators.Similarity.embeddingDrift]] monitor when to
    * rebuild.
    */
  def admitByQuality(
      docs: DataFrame, weights: Array[Double], tau: Double): DataFrame =
    docs.filter(
      graft.operators.Classifier.scoreCol(col("text"), weights) >= tau)

  /** Streaming SEMANTIC admission against the persisted IVF cells —
    * the embedding sibling of [[admitAgainstSignatureIndex]]: each
    * micro-batch of (vec_id, embedding) rows probes the saved index
    * ([[graft.plans.IvfIndexStore.knn]], frozen quantizer, nprobe
    * recall dial) and only vectors whose nearest saved neighbor sits
    * BELOW `threshold` reach the sink. Same staleness contract as the
    * text side: admitted vectors do NOT extend the index mid-run (a
    * foreachBatch write to the table the same query reads would race
    * its own scans) — fold admitted batches in between runs via
    * `IvfIndexStore.admitAndExtend`/`extend`.
    */
  def admitBySimilarity(
      vecs: DataFrame, table: String, threshold: Double,
      nprobe: Int = 4)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    gate(vecs, "admitBySimilarity") { (batch, batchId) =>
      once(batch) { b =>
        val dup = graft.plans.IvfIndexStore
          .knn(b.select("vec_id", "embedding"), 1, nprobe, table)
          .filter(col("sim") >= threshold)
          .select(col("query_id").as("vec_id")).distinct()
        sink(b.join(dup, Seq("vec_id"), "left_anti"), batchId)
      }
    }

  /** Streaming PERCEPTUAL admission against a saved fingerprint index
    * (audio: [[graft.plans.AhashIndexStore]], video:
    * [[graft.plans.VhashIndexStore]]) — the media sibling of
    * [[admitBySimilarity]], completing the streaming-gate matrix across
    * modalities: each micro-batch of (doc_id, payload) clips
    * fingerprints ONLY itself, once, and probes the saved index through
    * the store's `matchFingerprints` — the same probe the batch
    * admission uses, so stream ≡ batch admission row-for-row, INCLUDING
    * undecodable payloads: the batch path's `admitAndExtend` anti-joins
    * fingerprinted rows only, so the stream semi-joins the batch
    * through its own fingerprints first — an undecodable clip drops on
    * both paths. Clips within the gate of any saved clip drop before
    * the sink. Same staleness contract as the whole family: the stream
    * does NOT extend the index mid-run (a foreachBatch write to the
    * table the same query reads would race its own scans) — fold
    * admitted batches in between runs via `admitAndExtend`; tombstones
    * ([[graft.plans.Retire]]) mask mid-stream since every micro-batch
    * replans against the table.
    */
  def admitByFingerprint(store: graft.plans.FingerprintIndexStore)(
      clips: DataFrame, table: String, maxHamming: Int = store.Radius)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    gate(clips, "admitByFingerprint") { (batch, batchId) =>
      once(batch) { b =>
        once(store.fingerprints(b.select("doc_id", "payload"))) { fps =>
          val dup = store.matchFingerprints(fps, table, maxHamming)
          // left_semi dedups the probe side by definition — no distinct()
          sink(b
            .join(fps.select("doc_id"), Seq("doc_id"), "left_semi")
            .join(dup, Seq("doc_id"), "left_anti"), batchId)
        }
      }
    }

  /** Serving-time streaming RETRIEVAL over the saved BM25 artifact —
    * the query-side twin of the admission gates: queries arrive as a
    * stream of (doc_id, text) rows, every micro-batch runs the
    * store's full WAND serving ([[graft.plans.Bm25IndexStore
    * .wandSearch]] — same output as `search`, spec-pinned) against the
    * FROZEN artifact, and the ranked results land in the sink (a
    * [[snapshotSink]] table in production, so consumers read or
    * time-travel the result log while serving keeps committing).
    * foreachBatch because ranking is a per-batch top-k over a
    * batch × postings join — not expressible as an unbounded streaming
    * aggregation — and because it reuses the battle-tested batch
    * kernel verbatim: stream ≡ batch row-for-row (DocStreamsSpec).
    *
    * Composes with the admission gates: an ingest stream can admit
    * THEN immediately retrieve context for the admitted docs by
    * chaining inside one foreachBatch, or run as a separate query
    * stream against the same artifact. Same staleness contract as the
    * whole frozen-artifact family — extends/compactions happen
    * between runs, tombstones ([[graft.plans.Retire]]) mask
    * mid-stream since every micro-batch replans against the table.
    */
  def searchBm25Stream(
      queries: DataFrame, table: String, topN: Int)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    gate(queries, "searchBm25Stream") { (batch, batchId) =>
      sink(graft.plans.Bm25IndexStore.wandSearch(
        batch.sparkSession, table, batch.select("doc_id", "text"),
        topN), batchId)
    }

  /** [[searchBm25Stream]] for the tf-idf artifact: the stream carries
    * query doc_ids (the doc-as-query shape — vectors come from the
    * saved doc-keyed mirror), each micro-batch serves via
    * [[graft.plans.TfidfIndexStore.wandSearch]].
    */
  def searchTfidfStream(
      queryIds: DataFrame, table: String, topN: Int)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    gate(queryIds, "searchTfidfStream") { (batch, batchId) =>
      sink(graft.plans.TfidfIndexStore.wandSearch(
        batch.sparkSession, table, batch.select("doc_id"), topN),
        batchId)
    }

  /** Exactly-once lakehouse tail for the foreachBatch admit family:
    * commits each admitted micro-batch to a
    * [[graft.plans.SnapshotStore]] table under its batchId tag, so a
    * restart-replayed batch (Structured Streaming's at-least-once
    * re-delivery) lands exactly once — the stream-to-table ending
    * every ingest pipeline needs. Pass as the `sink` argument of
    * [[admitAgainstCorpus]] / [[admitAgainstSignatureIndex]] /
    * [[admitByImportance]]; downstream batch consumers read (or
    * time-travel) the snapshot table while ingest keeps committing.
    */
  def snapshotSink(root: String): (DataFrame, Long) => Unit =
    (batch, batchId) => {
      graft.plans.SnapshotStore.appendOnce(batch, root, s"batch-$batchId")
      ()
    }

  def admitByImportance(
      docs: DataFrame, weights: DataFrame, defaultLr: Double,
      minScore: Double = 0.0)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    gate(docs, "admitByImportance") { (batch, batchId) =>
      once(batch) { b =>
        val admitted = b
          .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
          .join(broadcast(weights), Seq("term"), "left")
          // avg over exploded occurrences IS the tf-weighted mean
          .groupBy("doc_id")
          .agg(avg(coalesce(col("lr"), lit(defaultLr))).as("score"))
          .filter(col("score") > minScore)
          .select("doc_id")
        sink(b.join(admitted, Seq("doc_id"), "left_semi"), batchId)
      }
    }

  /** Streaming span scrub: strip from every arriving document the token
    * spans whose n-gram already occurs in the STATIC corpus — the
    * continual-ingest form of substring-level dedup
    * ([[graft.operators.Dedup.duplicatedSpanScrub]]). Against a fixed
    * corpus ANY corpus occurrence duplicates the span (no df ≥ 2 —
    * that's the within-corpus rule), so the hot set is the corpus's
    * distinct gram set, built once per run and reused for every
    * micro-batch; the caller should persist it. `foreachBatch` for the
    * same reason as [[admitAgainstCorpus]]: the coverage stage is a
    * per-doc aggregation over the gram join, which as a direct
    * stream-static join + regroup would be an unbounded streaming
    * aggregation.
    *
    * CONTRACT — stream-side duplicates are out of scope: spans
    * duplicated BETWEEN streamed documents (within or across
    * micro-batches) pass through unscrubbed, and admitted documents are
    * never folded into the hot set, so the set goes stale as ingest
    * proceeds. This is the static-corpus asymmetry, not a bug: folding
    * per-batch grams into broadcast state would grow driver memory
    * unboundedly. Callers who need stream-vs-stream span dedup should
    * periodically rebuild `corpusGrams` via [[corpusGramSet]] over the
    * grown corpus (checkpoint-restart keeps exactly-once on the sink),
    * or run the batch [[graft.operators.Dedup.duplicatedSpanScrub]]
    * over the accumulated output as a compaction pass.
    */
  def scrubSpansAgainstCorpus(
      docs: DataFrame, corpusGrams: DataFrame,
      n: Int = graft.operators.Dedup.SpanN)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    gate(docs, "scrubSpansAgainstCorpus") { (batch, batchId) =>
      sink(graft.operators.Dedup.spanCoverageScrub(
        batch.select("doc_id", "text"), corpusGrams, n), batchId)
    }

  /** Line-level admission scrub per micro-batch against a FROZEN corpus
    * line set ([[graft.operators.Dedup.corpusLineSet]]) — the streaming
    * CCNet rule: the corpus owns every line it already contains;
    * arriving docs keep only never-seen lines, batch-first-wins within
    * the micro-batch. Same frozen-model caveat as the span scrub above:
    * lines admitted by earlier micro-batches are NOT added to the set
    * (that would grow executor-resident state unboundedly) — rebuild
    * the line set periodically as a compaction pass.
    */
  def scrubLinesAgainstCorpus(
      docs: DataFrame, corpusLines: DataFrame,
      segTokens: Int = graft.operators.Dedup.LineSegTokens)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    gate(docs, "scrubLinesAgainstCorpus") { (batch, batchId) =>
      sink(graft.operators.Dedup.lineScrubAgainstCorpus(
        batch.select("doc_id", "text"), corpusLines, segTokens), batchId)
    }

  /** The distinct word n-gram set of a static corpus — the hot-gram
    * input to [[scrubSpansAgainstCorpus]] (string grams; at production
    * scale collapse to 64-bit fingerprints on BOTH sides as
    * [[graft.operators.Dedup.shingleIndex]] does).
    */
  def corpusGramSet(
      corpus: DataFrame, n: Int = graft.operators.Dedup.SpanN): DataFrame =
    corpus.select(tokens(col("text")).as("toks"))
      .select(explode(array_distinct(
        shinglesFromTokens(col("toks"), n))).as("g"))
      .distinct()

  /** The one way a gate becomes a `foreachBatch` writer: every Spark
    * job of a micro-batch's body is described `docstreams.<gate>` (see
    * [[graft.JobDescription]]), so a listener attributes the batch's
    * jobs to the gate; a [[snapshotSink]] commit inside it describes
    * its own as `snapshot.appendOnce`.
    */
  private def gate(frame: DataFrame, name: String)(
      body: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    frame.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      graft.JobDescription.during(batch.sparkSession, s"docstreams.$name")(
        body(batch, batchId))
    }

  /** Runs `body` over `frame` computed exactly once. One job computes
    * the frame into checkpointed blocks (`localCheckpoint`, which keeps
    * its statistics and partitioning for the planner), and every
    * reference to the frame `body` gets reads those blocks, a
    * self-joined one included. `Dataset.persist` does not give that:
    * the analyzer re-instances a self-joined reference to a
    * foreachBatch frame (a scan of an existing RDD) with fresh attribute
    * ids, the cache lookup misses, and the micro-batch's lineage,
    * stateful operators included, runs again.
    *
    * The blocks are released when `body` returns or throws, not when
    * the ContextCleaner gets to them, so an unbounded foreachBatch loop
    * holds one batch's blocks at a time instead of accumulating them
    * between driver GCs. Spark logs a warning on each release that the
    * truncated lineage cannot be recomputed: the frame is not read
    * after `body` returns, which is the foreachBatch contract anyway.
    */
  private def once(frame: DataFrame)(body: DataFrame => Unit): Unit = {
    val cut = frame.localCheckpoint(eager = true)
    try body(cut)
    finally cut.queryExecution.analyzed
      .collect { case r: LogicalRDD => r.rdd }
      .foreach(_.unpersist(blocking = false))
  }

  /** The full ingest pipeline: gate → scrub → dedup → windowed stats. */
  def pipeline(
      docs: DataFrame,
      window: String = "10 minutes",
      watermark: String = "1 hour"): DataFrame =
    ingestStats(dedupByContent(prepare(docs), watermark), window,
      watermark = None)
}
