package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup
import graft.plans.ShingleIndexStore

/** The persisted shingle-index artifact: batch-2 dedup against a SAVED
  * index must re-tokenize only the batch and produce byte-identical
  * matches vs the from-scratch cross build; extend must append without
  * touching the corpus; the bucketed layout must keep g-keyed
  * aggregation exchange-free.
  */
class IndexStoreSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-indexstore-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.warehouse.dir",
      Files.createTempDirectory("graft-wh").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def base: DataFrame =
    Tables.documents(spark, dir).select("doc_id", "text")

  /** Same bimodal mutation as q_dedup_incremental: even ids stay
    * near-dups (rejected), odd ids shrink to an 80-char prefix
    * (admitted).
    */
  private def batch: DataFrame =
    base.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        when(col("doc_id") % 2 === 0, substring(col("text"), 21, 1000000))
          .otherwise(substring(col("text"), 1, 80)).as("text"))

  private def freshTable(tag: String): (String, String) = {
    val table = s"idx_$tag"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_sizes")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_sigs")
    (table, Files.createTempDirectory(s"graft-$tag").toString + "/idx")
  }

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("matchBatch against the saved index equals the from-scratch " +
    "cross build and re-tokenizes only the batch") {
    val (table, path) = freshTable("match")
    ShingleIndexStore.build(base, 3, table, path, buckets = 8)
    val viaStore = ShingleIndexStore.matchBatch(batch, 3, table, 0.5)
    val fromScratch = Dedup.crossJaccardMatches(
      Dedup.shingleIndex(batch, 3), Dedup.shingleIndex(base, 3), 0.5)
    assert(pairSet(viaStore) === pairSet(fromScratch))
    assert(pairSet(viaStore).nonEmpty, "fixture must produce matches")
    // the corpus is never re-tokenized: the batch index is checkpointed
    // (tokenized once, eagerly), so the match plan's only file scans are
    // the saved artifact — zero scans of the documents fixture
    val leaves = viaStore.queryExecution.optimizedPlan.collectLeaves()
      .collect {
        case l: LogicalRelation => l.relation match {
          case fs: HadoopFsRelation => fs.location.rootPaths.mkString(",")
          case other => other.toString
        }
      }
    assert(leaves.count(_.contains("documents.parquet")) === 0,
      s"the match plan must not re-tokenize the fixture:\n${leaves.mkString("\n")}")
    assert(leaves.exists(_.contains(path)),
      s"corpus shingles must come from the saved table at $path:\n" +
        leaves.mkString("\n"))
  }

  test("extend appends the batch; loaded index equals a from-scratch " +
    "index over corpus+batch") {
    val (table, path) = freshTable("extend")
    ShingleIndexStore.build(base, 3, table, path, buckets = 8)
    ShingleIndexStore.extend(batch, 3, table)
    val loaded = ShingleIndexStore.load(spark, table)
    val scratch = Dedup.shingleIndex(base.unionByName(batch), 3)
    assert(pairSet(loaded) === pairSet(scratch))
    // the sizes half of the artifact stays coherent under extension
    val loadedSizes = spark.table(ShingleIndexStore.sizesTable(table))
      .select("doc_id", "n")
    val scratchSizes = scratch.groupBy("doc_id")
      .agg(count(lit(1)).as("n"))
    assert(pairSet(loadedSizes) === pairSet(scratchSizes))
  }

  test("g-keyed aggregation over the loaded index has no exchange") {
    val (table, path) = freshTable("agg")
    ShingleIndexStore.build(base, 3, table, path, buckets = 8)
    val agg = ShingleIndexStore.load(spark, table)
      .groupBy("g").agg(count(lit(1)).as("df"))
    agg.collect()
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed-by-g scan must feed the df agg without a shuffle:\n" +
        plan.take(3000))
  }

  test("ivf store: knn from the saved assignment equals in-session " +
    "ivfKnn") {
    import graft.operators.Similarity
    import graft.plans.IvfIndexStore
    Seq("ivf_t", "ivf_t_cells")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val path = Files.createTempDirectory("graft-ivf").toString + "/ivf"
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    IvfIndexStore.build(emb, nlist = 8, "ivf_t", path, buckets = 4)
    val queries = emb.filter(col("vec_id") % 40 === 0)
    def tripleSet(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rnk", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val fromStore = IvfIndexStore.knn(queries, k = 5, nprobe = 2, "ivf_t")
    val direct = Similarity.ivfKnn(
      emb, col("vec_id") % 40 === 0, 5, nlist = 8, nprobe = 2)
    assert(tripleSet(fromStore) === tripleSet(direct))
    assert(tripleSet(fromStore).nonEmpty)
    // an over-cap query batch serves in hash-disjoint chunks and must
    // be result-identical (the driver-broadcast bound costs scans, not
    // answers); cap=3 forces many chunks on this fixture's query set
    val chunked = IvfIndexStore.knn(
      queries, k = 5, nprobe = 2, "ivf_t", queryBatchCap = 3)
    assert(tripleSet(chunked) === tripleSet(fromStore))
  }

  test("ivf store: extension under the frozen quantizer keeps copy " +
    "recall 1") {
    import graft.plans.IvfIndexStore
    // copies of indexed vectors assign to the same cell as the original
    // even though the quantizer is frozen — the copy is always probed
    Seq("ivf_e", "ivf_e_cells")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val path = Files.createTempDirectory("graft-ivfe").toString + "/ivf"
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    IvfIndexStore.build(emb, nlist = 8, "ivf_e", path, buckets = 4)
    val copies = emb.filter(col("vec_id") % 9 === 0)
      .select((col("vec_id") + 5000000L).as("vec_id"), col("embedding"))
    IvfIndexStore.extend(copies, "ivf_e")
    val got = IvfIndexStore.knn(copies, k = 1, nprobe = 1, "ivf_e")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val expect = copies.collect()
      .map(r => r.getLong(0) -> (r.getLong(0) - 5000000L)).toMap
    assert(got === expect,
      "each copy's rank-1 neighbor must be its identical original")
  }

  test("admitAndExtend admits exactly the unmatched docs and indexes " +
    "only them") {
    val (table, path) = freshTable("admit")
    ShingleIndexStore.build(base, 3, table, path, buckets = 8)
    val preCount = ShingleIndexStore.load(spark, table).count()
    val admitted = ShingleIndexStore
      .admitAndExtend(batch, 3, table, threshold = 0.5)
      .collect().map(_.getLong(0)).toSet
    // expectation from the public pieces
    val matched = Dedup.crossJaccardMatches(
      Dedup.shingleIndex(batch, 3), Dedup.shingleIndex(base, 3), 0.5)
      .select("id_new").distinct().collect().map(_.getLong(0)).toSet
    val all = batch.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted === (all -- matched))
    assert(admitted.nonEmpty && matched.nonEmpty,
      "fixture must exercise both admission outcomes")
    // the index grew by exactly the admitted docs' shingles
    val admittedShingles = Dedup.shingleIndex(
      batch.filter(col("doc_id").isin(admitted.toSeq: _*)), 3).count()
    assert(ShingleIndexStore.load(spark, table).count() ===
      preCount + admittedShingles)
  }

  private def freshLm(tag: String): (String, String) = {
    val table = s"lm_$tag"
    spark.sql(s"DROP TABLE IF EXISTS ${table}_bigrams")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_unigrams")
    (table, Files.createTempDirectory(s"graft-$tag").toString + "/lm")
  }

  test("saved LM scores equal the in-session backoff query") {
    import graft.plans.LmStore
    val (table, path) = freshLm("score")
    // same model rule as q_backoff_logprob: fit on the doc_id%10 slice
    LmStore.build(base.filter(col("doc_id") % 10 === 0), table, path)
    val viaStore = LmStore.score(spark, base, table)
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getLong(2)))).toMap
    val inSession = graft.operators.TextAnalysis
      .qBackoffLogprob(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getLong(2)))).toMap
    assert(viaStore === inSession)
  }

  test("tf-idf index search equals the in-session retrieval and never " +
    "re-reads the corpus") {
    import graft.plans.TfidfIndexStore
    val table = "tfx_search"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_norms")
    val path = Files.createTempDirectory("graft-tfx").toString + "/tfx"
    TfidfIndexStore.build(base, table, path, buckets = 8)
    val queryIds = base.filter(col("doc_id") % 25 === 0).select("doc_id")
    val served = TfidfIndexStore.search(spark, table, queryIds, 3)
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    val inSession = graft.operators.TextAnalysis
      .tfidfRetrieval(base, col("doc_id") % 25 === 0, 10, 3)
    assert(rows(served) === rows(inSession))
    assert(rows(served).nonEmpty)
    // serving scans only the artifact: queryIds comes from the corpus
    // frame here, so ONE documents scan (the id filter) is expected,
    // but the postings/norms sides must come from the saved tables
    val leaves = served.queryExecution.optimizedPlan.collectLeaves()
      .collect {
        case l: LogicalRelation => l.relation match {
          case fs: HadoopFsRelation => fs.location.rootPaths.mkString(",")
          case other => other.toString
        }
      }
    assert(leaves.count(_.contains(path)) >= 2,
      s"postings+norms must come from the artifact:\n${leaves.mkString("\n")}")
  }

  test("ivf admitAndExtend rejects verbatim copies, admits the rest, " +
    "and grows the cells table by exactly the admitted vectors") {
    import graft.plans.IvfIndexStore
    val table = "ivf_admit"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_cells")
    val path = Files.createTempDirectory("graft-ivfadm").toString + "/ivf"
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    IvfIndexStore.build(emb, 16, table, path, buckets = 8)
    val pre = spark.table(s"${table}_cells").count()
    val copies = emb.filter(col("vec_id") % 7 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val fresh = emb.filter(col("vec_id") % 5 === 1)
      .select((col("vec_id") + 2000000L).as("vec_id"),
        org.apache.spark.sql.functions.transform(
          col("embedding"), x => -x).as("embedding"))
    val admitted = IvfIndexStore
      .admitAndExtend(copies.unionByName(fresh), table, 0.9)
      .collect().map(_.getLong(0)).toSet
    val wantFresh = fresh.select("vec_id").collect()
      .map(_.getLong(0)).toSet
    assert(admitted === wantFresh,
      "copies must be rejected, negated vectors admitted")
    assert(admitted.nonEmpty)
    assert(spark.table(s"${table}_cells").count() === pre + admitted.size)
  }

  test("pq store: served search equals the in-session two-stage knn; " +
    "extend encodes verbatim copies to identical codes") {
    import graft.plans.PqStore
    import graft.operators.Similarity
    val table = "pq_idx"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_codes")
    val path = Files.createTempDirectory("graft-pq").toString + "/pq"
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    PqStore.build(emb, 8, 64, table, path)
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val served = rows(PqStore.search(
      spark, table, emb, col("vec_id") % 40 === 0, 5)
      .orderBy("query_id", "rnk"))
    val inSession = rows(Similarity.pqKnn(
      emb, col("vec_id") % 40 === 0, 5).orderBy("query_id", "rnk"))
    assert(served === inSession)
    assert(served.nonEmpty)
    // frozen-codebook extension: a verbatim copy encodes to EXACTLY
    // its original's codes, so duplicate search quality survives
    val copies = emb.filter(col("vec_id") % 7 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    PqStore.extend(copies, table)
    val codesByIdx = spark.table(s"${table}_codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val originals = copies.select(col("vec_id") - 1000000L).collect()
      .map(_.getLong(0))
    assert(originals.nonEmpty)
    originals.foreach { id =>
      assert(codesByIdx(id + 1000000L) === codesByIdx(id),
        s"copy of $id must encode identically under frozen books")
    }
  }

  test("opq pq store: the persisted rotation round-trips orthogonal; " +
    "served search equals the in-session opq knn; frozen-R extension " +
    "encodes verbatim copies to identical codes; plain store has no " +
    "rotation table") {
    import graft.plans.PqStore
    import graft.operators.Similarity
    val table = "opq_idx"
    Seq(table, s"${table}_codes", s"${table}_rot").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
    val path = Files.createTempDirectory("graft-opq").toString + "/opq"
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    PqStore.build(emb, 8, 64, table, path, opq = true)
    // the saved rotation is the learned one, orthogonal to solver tol
    val r = PqStore.loadRotation(spark, table).get
    val d = r.length
    for (i <- 0 until d; j <- i until d) {
      val dot = (0 until d).map(t => r(t)(i) * r(t)(j)).sum
      assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-8)
    }
    def rows(df: DataFrame) = df.collect()
      .map(row => (row.getLong(0), row.getInt(1), row.getLong(2))).toSeq
    val served = rows(PqStore.search(
      spark, table, emb, col("vec_id") % 40 === 0, 5)
      .orderBy("query_id", "rnk"))
    val inSession = rows(Similarity.opqPqKnn(
      emb, col("vec_id") % 40 === 0, 5).orderBy("query_id", "rnk"))
    assert(served === inSession)
    assert(served.nonEmpty)
    // frozen rotation + codebooks: a verbatim copy rotates and encodes
    // to exactly its original's codes
    val copies = emb.filter(col("vec_id") % 7 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    PqStore.extend(copies, table)
    val codesByIdx = spark.table(s"${table}_codes").collect()
      .map(row => row.getLong(0) -> row.getSeq[Int](1)).toMap
    copies.select(col("vec_id") - 1000000L).collect().map(_.getLong(0))
      .foreach { id =>
        assert(codesByIdx(id + 1000000L) === codesByIdx(id),
          s"copy of $id must encode identically under frozen R + books")
      }
    // the plain store keeps its shape: no rotation table
    assert(PqStore.loadRotation(spark, "pq_idx").isEmpty)
  }

  test("pq training on an empty corpus fails with an explicit error, " +
    "not a bare head() NoSuchElement") {
    import graft.operators.Similarity
    val empty = Tables.embeddings(spark, dir)
      .select("vec_id", "embedding").filter(col("vec_id") < 0)
    val e = intercept[IllegalArgumentException](
      Similarity.pqTrain(empty, 8, 64))
    assert(e.getMessage.contains("empty corpus"))
  }

  test("LM extension is counter-linear: build+extend == build on union") {
    import graft.plans.LmStore
    val a = base.filter(col("doc_id") % 2 === 0)
    val b = base.filter(col("doc_id") % 2 === 1)
    val (tInc, pInc) = freshLm("inc")
    LmStore.build(a, tInc, pInc)
    LmStore.extend(b, tInc)
    val (tFull, pFull) = freshLm("full")
    LmStore.build(a.unionByName(b), tFull, pFull)
    def counts(t: String): (Map[String, Long], Map[String, Long]) = (
      spark.table(s"${t}_bigrams").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap,
      spark.table(s"${t}_unigrams").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap)
    assert(counts(tInc) === counts(tFull))
  }

  private def freshAgg(tag: String): (String, String) = {
    val table = s"agg_$tag"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    (table, Files.createTempDirectory(s"graft-$tag").toString + "/agg")
  }

  test("agg-state extension is merge-linear: build+extend+extend == " +
    "build on the full fact history") {
    import graft.plans.AggStore
    val ev = Tables.events(spark, dir).select(col("event_type"),
      to_date(col("ts")).as("day"), col("value"))
    val dims = Seq("event_type", "day")
    // three disjoint day ranges exercise two merges, including groups
    // present in only one batch and groups spanning all three
    val cut1 = lit("2024-01-11").cast("date")
    val cut2 = lit("2024-01-21").cast("date")
    val (tInc, pInc) = freshAgg("inc")
    AggStore.build(ev.filter(col("day") < cut1), dims, "value", tInc, pInc)
    AggStore.extend(
      ev.filter(col("day") >= cut1 && col("day") < cut2), "value", tInc)
    AggStore.extend(ev.filter(col("day") >= cut2), "value", tInc)
    val (tFull, pFull) = freshAgg("full")
    AggStore.build(ev, dims, "value", tFull, pFull)
    def state(t: String): Map[(String, java.sql.Date), (Long, Double,
      Double, Double)] =
      spark.table(t).collect().map(r => (r.getString(0), r.getDate(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5)))).toMap
    val inc = state(tInc)
    val full = state(tFull)
    assert(inc.keySet === full.keySet)
    inc.foreach { case (k, (n, s, mn, mx)) =>
      val (fn, fs, fmn, fmx) = full(k)
      assert(n === fn, s"count for $k")
      // min/max are exact under merge; sum differs only by fp
      // association order
      assert(mn === fmn, s"min for $k")
      assert(mx === fmx, s"max for $k")
      assert(math.abs(s - fs) <= 1e-9 * math.max(1.0, math.abs(fs)),
        s"sum for $k")
    }
    // derived avg rides the state: read-time only, never stored
    assert(!spark.table(tInc).columns.contains("avg_v"))
    assert(AggStore.read(spark, tInc).columns.contains("avg_v"))

    // versioned saves: build+extend+extend left v0..v2 on disk; vacuum
    // retains the newest `keep` and the live table keeps reading
    def versions(p: String): Set[String] = {
      val base = new org.apache.hadoop.fs.Path(p)
      val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
      fs.listStatus(base).map(_.getPath.getName)
        .filter(_.startsWith("v")).toSet
    }
    assert(versions(pInc) === Set("v0", "v1", "v2"))
    assert(AggStore.vacuum(spark, pInc, keep = 1) === 2)
    assert(versions(pInc) === Set("v2"))
    assert(state(tInc) === inc, "live table must survive the vacuum")
    assert(AggStore.vacuum(spark, pInc, keep = 1) === 0)
    intercept[IllegalArgumentException](
      AggStore.vacuum(spark, pInc, keep = 0))
  }

  test("a stray bare `v` entry under an artifact path is not a version: " +
    "build still picks the next v<n>") {
    import graft.plans.AggStore
    val (table, path) = freshAgg("barev")
    val ev = Tables.events(spark, dir).select(col("event_type"),
      col("value"))
    AggStore.build(ev, Seq("event_type"), "value", table, path)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path, "v"))
    AggStore.build(ev, Seq("event_type"), "value", table, path)
    assert(AggStore.versionPaths(spark, path).map(p =>
      new org.apache.hadoop.fs.Path(p).getName) === Seq("v0", "v1"))
    assert(spark.table(table).count() > 0)
  }

  test("LM and agg-state extends merge the live version into the next " +
    "one without a checkpoint: Spark jobs per extend pinned") {
    import graft.plans.{AggStore, LmStore}
    val (tLm, pLm) = freshLm("jobs")
    val docs = base
    LmStore.build(docs.filter(col("doc_id") % 2 === 0), tLm, pLm)
    val lm = JobCensus.of(spark)(
      LmStore.extend(docs.filter(col("doc_id") % 2 === 1), tLm))
    val ev = Tables.events(spark, dir).select(col("event_type"),
      to_date(col("ts")).as("day"), col("value"))
    val cut = lit("2024-01-21").cast("date")
    val (tAgg, pAgg) = freshAgg("jobs")
    AggStore.build(ev.filter(col("day") < cut), Seq("event_type", "day"),
      "value", tAgg, pAgg)
    val agg = JobCensus.of(spark)(
      AggStore.extend(ev.filter(col("day") >= cut), "value", tAgg))
    info(s"LM extend: ${lm.size} jobs; agg extend: ${agg.size} jobs")
    // the counts measured with the merge reading the live version and
    // writing the next one; a checkpoint of each merged table before
    // the write costs one job more per table (8 and 4)
    assert(lm.size <= 6, "LM extend Spark jobs")
    assert(agg.size <= 3, "agg extend Spark jobs")
  }

  test("bm25 store: saved-index search equals the in-session query; " +
    "frozen-stats extension ties a verbatim copy to its original") {
    import graft.plans.Bm25IndexStore
    val docs = base
    val (table, path) = freshTable("bm25")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_df")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_stats")
    Bm25IndexStore.build(docs, table, path, buckets = 4)
    val queries = docs.filter(col("doc_id") % 25 === 0)
    def rows(df: DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    val served = rows(Bm25IndexStore.search(spark, table, queries, 3))
    val inSession = rows(graft.operators.TextAnalysis
      .bm25Retrieval(docs, col("doc_id") % 25 === 0, 3))
    assert(served.nonEmpty)
    assert(served === inSession,
      "saved-index search must reproduce the in-session ranking")
    // frozen-stats extension: append a VERBATIM copy of the first
    // query's top-1 neighbor — under frozen df/avgdl the copy's
    // per-term weights equal the original's, so it must tie the
    // original's score exactly (and lose the id tie-break)
    val (q0, _, n1, s1) = served.head
    val copy = docs.filter(col("doc_id") === n1)
      .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
    Bm25IndexStore.extend(copy, table)
    val after = rows(Bm25IndexStore.search(spark, table, queries, 3))
      .filter(_._1 == q0)
    assert(after.map(_._3).contains(n1 + 5000000L),
      s"extended copy of $n1 must surface for query $q0: $after")
    val copyRow = after.find(_._3 == n1 + 5000000L).get
    assert(copyRow._4 === s1,
      "frozen stats must score the copy identically to its original")
    val origRank = after.find(_._3 == n1).get._2
    assert(origRank < copyRow._2, "id tie-break keeps the original first")
  }

  test("bm25 wandSearch equals search exactly (impact-ordered pruning " +
    "loses nothing), at tiny and default prefixes, and after extension") {
    import graft.plans.{Bm25IndexStore, WandKernel}
    val docs = base
    val (table, path) = freshTable("bm25w")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_df")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_stats")
    Bm25IndexStore.build(docs, table, path, buckets = 4)
    val queries = docs.filter(col("doc_id") % 25 === 0)
    def rows(df: DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    val plain = rows(Bm25IndexStore.search(spark, table, queries, 3))
    assert(plain.nonEmpty)
    // a 2-deep prefix forces θ/cap/cutoff tail recovery to do real work
    assert(rows(Bm25IndexStore.wandSearch(
      spark, table, queries, 3, prefixP = 2)) === plain)
    assert(rows(Bm25IndexStore.wandSearch(
      spark, table, queries, 3)) === plain)
    // an undersized budget splits the scoring broadcast into several
    // chunks — the bounded-state path must reassemble identical top-k
    assert(rows(Bm25IndexStore.wandSearch(
      spark, table, queries, 3, prefixP = 2, broadcastRows = 50000L))
      === plain)
    // both orchestrations — DRIVER-PLANNED (the default for
    // collectable batches) and DISTRIBUTED (forced via the test seam)
    // — must produce the identical frame at every prefix
    try {
      WandKernel.driverPlanningEnabled.set(false)
      assert(rows(Bm25IndexStore.wandSearch(
        spark, table, queries, 3, prefixP = 2)) === plain)
      assert(rows(Bm25IndexStore.wandSearch(
        spark, table, queries, 3)) === plain)
    } finally WandKernel.driverPlanningEnabled.set(true)
    // rank-0 extended postings always enter the prefix → still exact
    val copies = docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
    Bm25IndexStore.extend(copies, table)
    assert(rows(Bm25IndexStore.wandSearch(
      spark, table, queries, 3, prefixP = 2)) ===
      rows(Bm25IndexStore.search(spark, table, queries, 3)))
    // OUT-OF-BUILD-VOCABULARY extension: the batch introduces a term
    // no build doc carried; a query mentioning it must reach the
    // extended doc through wandSearch exactly as through search — the
    // frozen-df join is LEFT precisely so the term survives (an inner
    // join drops it from the query and the extended doc goes unscored)
    import spark.implicits._
    val novelBatch = Seq((6000000L, "zzquuxnovel zzquuxnovel alpha"))
      .toDF("doc_id", "text")
    Bm25IndexStore.extend(novelBatch, table)
    val qs2 = queries.unionByName(
      Seq((6999999L, "zzquuxnovel")).toDF("doc_id", "text"))
    val expect = rows(Bm25IndexStore.search(spark, table, qs2, 3))
    assert(expect.exists(r => r._1 == 6999999L && r._3 == 6000000L),
      s"search must surface the OOV-term doc: ${expect.filter(_._1 == 6999999L)}")
    assert(rows(Bm25IndexStore.wandSearch(
      spark, table, qs2, 3, prefixP = 2)) === expect)
    try {
      WandKernel.driverPlanningEnabled.set(false)
      assert(rows(Bm25IndexStore.wandSearch(
        spark, table, qs2, 3, prefixP = 2)) === expect)
    } finally WandKernel.driverPlanningEnabled.set(true)
  }

  test("tfidf extend folds a batch in under the frozen idf: copies of " +
    "indexed docs weight identically, wandSearch stays exact") {
    import graft.plans.TfidfIndexStore
    val table = "tfx_ext"
    Seq(table, s"${table}_norms", s"${table}_df", s"${table}_rawdf",
      s"${table}_stats").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
    val path = Files.createTempDirectory("graft-tfxe").toString + "/tfx"
    TfidfIndexStore.build(base, table, path, buckets = 4)
    val before = spark.table(table).count()
    // extended batch: verbatim copies of every 7th doc, offset ids
    val copies = base.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
    TfidfIndexStore.extend(copies, table)
    // copies weight identically under the frozen idf → same top-k
    // terms, same norms → each copy's postings mirror its original's
    val post = spark.table(table)
    val orig = post.filter(col("rnk_w") >= 1)
      .join(copies.select((col("doc_id") - 5000000L).as("doc_id")),
        "doc_id")
      .groupBy("doc_id").agg(count(lit(1)).as("n"),
        round(sum("w"), 4).as("sw"))
    val ext = post.filter(col("rnk_w") === 0)
      .select((col("doc_id") - 5000000L).as("doc_id"), col("w"))
      .groupBy("doc_id").agg(count(lit(1)).as("n"),
        round(sum("w"), 4).as("sw"))
    assert(orig.join(ext, Seq("doc_id", "n", "sw"), "left_anti")
      .count() === 0, "every copy's postings mirror its original's")
    assert(post.count() > before)
    // a copy's nearest neighbor is its original at cosine 1
    val queryIds = copies.limit(3).select("doc_id")
    val top1 = TfidfIndexStore.search(spark, table, queryIds, 1)
      .collect()
    assert(top1.forall(r =>
      r.getLong(2) == r.getLong(0) - 5000000L && r.getDouble(3) == 1.0),
      "verbatim copies retrieve their originals at cosine 1")
    // rank-0 extended postings keep WAND exact (tiny prefix forces
    // the tail machinery to work around them)
    val qAll = base.filter(col("doc_id") % 25 === 0).select("doc_id")
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(rows(TfidfIndexStore.wandSearch(
      spark, table, qAll, 3, prefixP = 2)) ===
      rows(TfidfIndexStore.search(spark, table, qAll, 3)))
  }

  test("tfidf wandSearch equals search exactly at tiny and default " +
    "prefixes") {
    import graft.plans.TfidfIndexStore
    val table = "tfx_wand"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_norms")
    val path = Files.createTempDirectory("graft-tfxw").toString + "/tfx"
    TfidfIndexStore.build(base, table, path, buckets = 8)
    val queryIds = base.filter(col("doc_id") % 25 === 0).select("doc_id")
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    val plain = rows(TfidfIndexStore.search(spark, table, queryIds, 3))
    assert(plain.nonEmpty)
    assert(rows(TfidfIndexStore.wandSearch(
      spark, table, queryIds, 3, prefixP = 2)) === plain)
    assert(rows(TfidfIndexStore.wandSearch(
      spark, table, queryIds, 3)) === plain)
    // chunked scoring broadcast (bounded-state path) is lossless
    assert(rows(TfidfIndexStore.wandSearch(
      spark, table, queryIds, 3, prefixP = 2, broadcastRows = 20000L))
      === plain)
    // both orchestrations — DRIVER-PLANNED (the default for
    // collectable batches) and DISTRIBUTED (forced via the test seam)
    // — must produce the identical frame at every prefix
    try {
      graft.plans.WandKernel.driverPlanningEnabled.set(false)
      assert(rows(TfidfIndexStore.wandSearch(
        spark, table, queryIds, 3, prefixP = 2)) === plain)
      assert(rows(TfidfIndexStore.wandSearch(
        spark, table, queryIds, 3)) === plain)
    } finally graft.plans.WandKernel.driverPlanningEnabled.set(true)
  }

  /** Spark JOBS started while `body` runs — the unit that pays fixed
    * scheduler latency per driver round-trip, which is what multiplies
    * under host contention (the r12 `q_bm25_wand` loaded-window
    * balloon). Listener delivery is async, so the count is read only
    * after it has been stable for several polls.
    *
    * BROADCAST-EXCHANGE / SUBQUERY side jobs are EXCLUDED from the
    * count (r13 ADVICE low): Spark runs those on its own thread pool
    * via SQLExecution.withThreadLocalCaptured — visible as the
    * "broadcast exchange (runId …)" job description where the version
    * sets one, and as the withThreadLocalCaptured/CompletableFuture
    * call-site stage name where it doesn't (Spark 4.1 here). How many
    * of those a Spark version materializes at planning time is
    * Spark's business, not this engine's, and a version upgrade must
    * not fail the pin without a real regression in the
    * DRIVER-SEQUENCED action count the pin guards.
    */
  private def countJobs(body: => Unit): Int = {
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val desc = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        val stage = j.stageInfos.lastOption.map(_.name).getOrElse("?")
        names.add(s"$stage [${desc.take(40)}]"); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      var last = -1
      var stable = 0
      while (stable < 3) {
        Thread.sleep(100)
        val c = names.size()
        if (c == last) stable += 1 else { stable = 0; last = c }
      }
      import scala.jdk.CollectionConverters._
      val all = names.asScala.toSeq
      val counted = all.filterNot(n => n.contains("broadcast exchange")
        || n.contains("withThreadLocalCaptured"))
      info(s"jobs (counted ${counted.size}/${all.size}): " +
        all.mkString(" | "))
      counted.size
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("impact-index lifecycle job budget: build, extend, delete and " +
    "compact launch no more Spark jobs than pinned, for both stores") {
    import graft.plans.{Bm25IndexStore, TfidfIndexStore}
    val docs = base
    val copies = docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
    val dead = docs.filter(col("doc_id") % 5 === 0).select("doc_id")
    def census(body: => Unit): Int = JobCensus.of(spark)(body).size
    // per store, each lifecycle step with its Spark-job ceiling: the
    // counts measured before the two stores' lifecycles were folded
    // into one
    val (bm, bmPath) = freshTable("bm25life")
    val (tf, tfPath) = freshTable("tfxlife")
    val steps: Seq[(String, Seq[(String, () => Unit, Int)])] = Seq(
      "bm25" -> Seq(
        ("build", () => Bm25IndexStore.build(docs, bm, bmPath, buckets = 4),
          13),
        ("extend", () => Bm25IndexStore.extend(copies, bm), 7),
        ("delete", () => Bm25IndexStore.delete(spark, bm, dead), 2),
        ("compact", () => Bm25IndexStore.compact(spark, bm), 8)),
      "tfidf" -> Seq(
        ("build", () => TfidfIndexStore.build(docs, tf, tfPath,
          buckets = 4), 20),
        ("extend", () => TfidfIndexStore.extend(copies, tf), 15),
        ("delete", () => TfidfIndexStore.delete(spark, tf, dead), 2),
        ("compact", () => TfidfIndexStore.compact(spark, tf), 22)))
    steps.foreach { case (store, lifecycle) =>
      lifecycle.foreach { case (step, run, cap) =>
        val jobs = census(run())
        info(s"$store $step: $jobs jobs")
        assert(jobs <= cap, s"$store $step: $jobs Spark jobs > pinned $cap")
      }
    }
    Seq(bm, tf).foreach(t =>
      assert(spark.table(t).join(dead, "doc_id").count() === 0, t))
  }

  test("wandSearch driver-planned serve is action-coalesced: the pinned " +
    "job budget holds in both regimes (dense all-ineligible and " +
    "eligible-with-tail-work) and output still equals search") {
    import graft.plans.Bm25IndexStore
    val docs = base
    val (table, path) = freshTable("bm25act")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_df")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_stats")
    Bm25IndexStore.build(docs, table, path, buckets = 4)
    val queries = docs.filter(col("doc_id") % 25 === 0)
    def rows(df: DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    val plain = rows(Bm25IndexStore.search(spark, table, queries, 3))
    assert(plain.nonEmpty)
    // AQE off for the measurement so one action == one job (AQE
    // materializes each exchange as its own job and would blur the
    // action count the pin exists to guard). The counted window is
    // PLAN CONSTRUCTION only — the driver-sequenced planning jobs the
    // loaded-window balloon multiplies; the single result action (and
    // its sort-sampling / broadcast-future side jobs) is the same for
    // every serve shape and is asserted on separately via equality.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      var dense: DataFrame = null
      var tail: DataFrame = null
      // DENSE regime (default prefix on the 31-term natural corpus):
      // every query fails the df-only pre-route, so planning is ONE
      // bounded batch-fetch job (the df-table broadcast future its
      // join materializes is a Spark-side job, excluded by countJobs).
      // The r12 shape paid three driver-sequenced actions here
      // (checkpoint + count + collect) — this pin keeps the
      // coalescing from regressing; headroom of 1 over the measured
      // count absorbs fixture drift, not a path regression.
      val denseJobs = countJobs {
        dense = Bm25IndexStore.wandSearch(spark, table, queries, 3)
      }
      assert(rows(dense) === plain, "dense-regime serve must equal search")
      assert(denseJobs <= 2,
        s"dense driver-planned planning must stay ≤ 2 jobs, got $denseJobs")
      // ELIGIBLE regime (2-deep prefix): + one bounded prefix-fetch
      // job — 2 counted here (broadcast futures excluded); a θ-seed
      // scoring job only when the partial θ lets too much volume
      // through (not on this fixture). Pin at 3 = measured + θ-seed
      // headroom.
      val tailJobs = countJobs {
        tail = Bm25IndexStore.wandSearch(spark, table, queries, 3,
          prefixP = 2)
      }
      assert(rows(tail) === plain, "eligible-regime serve must equal search")
      assert(tailJobs <= 3,
        s"eligible driver-planned planning must stay ≤ 3 jobs, got $tailJobs")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("over-budget priced volume serves driver-planned CHUNKED (r14 " +
    "flow): the regime engages (counter), planning does NOT refuse, " +
    "output equals search, and the serve costs no more driver-" +
    "sequenced jobs than the distributed orchestration it replaced") {
    import graft.plans.{Bm25IndexStore, TfidfIndexStore, WandKernel}
    import spark.implicits._
    // the WIN-regime zipf fixture (the regime-selector test's): a
    // dense corpus demotes every query to naive under the exact θ and
    // the chunk loop never runs — chunking is a WAND-routed-batch
    // phenomenon, so the pin must measure one
    val (table, path) = freshTable("bm25chunk")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_df")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_stats")
    // 600 docs keeps the fixture's estn/vol ratio past the r16
    // RouteVolFactor bar (see the regime-selector test) so the batch
    // still WAND-routes and the chunk loop has something to chunk
    val corpus = (1 to 600).map(i => (i.toLong, s"stop rare$i"))
      .toDF("doc_id", "text")
    Bm25IndexStore.build(corpus, table, path, buckets = 4)
    val queries = (1 to 5).map(i => (2000L + i, s"rare${i * 7} stop"))
      .toDF("doc_id", "text")
    // the same fixture as a tf-idf artifact: its queries are corpus
    // members, so the keyword docs join the corpus (each one's nearest
    // neighbor is its rare term's twin at cosine 1), and ten stop-free
    // docs keep the stopword's idf above zero — a df == n_docs term
    // weighs 0 and never reaches the postings
    val (tfTable, tfPath) = freshTable("tfxchunk")
    Seq("norms", "df", "rawdf", "stats", "bydoc").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS ${tfTable}_$t"))
    TfidfIndexStore.build(corpus.unionByName(queries).unionByName(
        (1 to 10).map(i => (900L + i, s"filler$i")).toDF("doc_id", "text")),
      tfTable, tfPath, buckets = 4)
    val queryIds = queries.select("doc_id")
    def rows(df: DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    // one input per impact-index store: (name, search, wandSearch at a
    // chunk budget, distributed-serve job ceiling) — both instantiate
    // the one shared orchestration, and the ceilings pin its job count
    // for each instantiation on this fixture
    val inputs: Seq[(String, DataFrame, Long => DataFrame, Int)] = Seq(
      ("bm25", Bm25IndexStore.search(spark, table, queries, 1),
        b => Bm25IndexStore.wandSearch(spark, table, queries, 1,
          prefixP = 2, broadcastRows = b), 41),
      ("tfidf", TfidfIndexStore.search(spark, tfTable, queryIds, 1),
        b => TfidfIndexStore.wandSearch(spark, tfTable, queryIds, 1,
          prefixP = 2, broadcastRows = b), 38))
    // broadcastRows=1 puts ANY wand-routed priced volume over the
    // single-chunk budget (vol ≥ 1+nt per routed query), so the serve
    // must run the hash-disjoint chunk loop IN the driver-planned
    // path — before r14 this refused to the distributed
    // orchestration. AQE off so one action == one job, as in the pin
    // test above.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try inputs.foreach { case (store, search, wandSearch, distCap) =>
      val plain = rows(search)
      assert(plain.nonEmpty, store)
      val chunked0 = WandKernel.statChunkedScoreFallbacks.get()
      val refused0 = WandKernel.statDriverPlanningRefusals.get()
      var planned: DataFrame = null
      val plannedJobs = countJobs {
        planned = wandSearch(1L)
      }
      assert(rows(planned) === plain,
        s"$store: chunked driver-planned serve must equal search")
      assert(WandKernel.statChunkedScoreFallbacks.get() > chunked0,
        s"$store: the chunk loop must actually engage (counter delta)")
      assert(WandKernel.statDriverPlanningRefusals.get() === refused0,
        s"$store: an over-budget volume must NOT refuse driver planning (r14)")
      // the flow change's whole justification, pinned: at the same
      // budget on the same fixture, the in-place chunked serve costs
      // no more driver-sequenced jobs than the distributed
      // orchestration's planning cascade (probe-scale margin is ~2×;
      // equality is allowed so a tiny fixture can't flake the pin)
      var dist: DataFrame = null
      val distJobs = countJobs {
        WandKernel.driverPlanningEnabled.set(false)
        try dist = wandSearch(1L)
        finally WandKernel.driverPlanningEnabled.set(true)
      }
      assert(rows(dist) === plain,
        s"$store: distributed chunked serve must equal search")
      assert(plannedJobs <= distJobs,
        s"$store: driver-planned chunked ($plannedJobs jobs) must not " +
          s"exceed the distributed orchestration ($distJobs jobs)")
      assert(distJobs <= distCap,
        s"$store: distributed chunked serve must stay ≤ $distCap jobs, " +
          s"got $distJobs")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("boundedCollect failure path: a non-refusal task failure " +
    "propagates as plain collect would, the poll loop terminates " +
    "promptly, and no job leaks") {
    import spark.implicits._
    import graft.plans.WandKernel
    // 8 partitions, one of which throws mid-scan — a genuine task
    // failure, NOT a cap refusal (the cap is far above the row count)
    val ds = spark.range(0, 800, 1, 8).as[Long].map { x =>
      if (x == 437L) throw new RuntimeException("graft-bounded-boom")
      x
    }
    val t0 = System.nanoTime()
    val e = intercept[Exception] {
      WandKernel.boundedCollect(ds, 10000L)
    }
    val waited = (System.nanoTime() - t0) / 1e9
    assert(waited < 60.0, "the await must terminate, not hang the poll")
    // the task's own exception must surface through the await — walk
    // the cause chain like a caller diagnosing a plain collect would
    val chain = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).take(10)
      .map(t => String.valueOf(t.getMessage)).mkString(" <- ")
    assert(chain.contains("graft-bounded-boom"),
      s"the task failure must propagate, got: $chain")
    // no job leak: the failed job must drain from the active set (a
    // stuck cancel/poll would leave it active and starve later serves)
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var active = spark.sparkContext.statusTracker.getActiveJobIds()
    while (active.nonEmpty && System.nanoTime() < deadline) {
      Thread.sleep(100)
      active = spark.sparkContext.statusTracker.getActiveJobIds()
    }
    assert(active.isEmpty, s"jobs leaked: ${active.mkString(",")}")
    // the kernel stays serviceable on the same session after a failure
    assert(WandKernel.boundedCollect(
      spark.range(0, 100, 1, 4).as[Long], 1000L)
      .map(_.sorted.toSeq) === Some((0L until 100L).toSeq))
  }

  test("the in-kernel regime selector (df-only pre-route + per-query " +
    "pricing) routes dense doc-as-query batches naive and selective " +
    "keyword queries to WAND — the served-retrieval kernel choice is " +
    "data-computed, not hand-pinned") {
    import graft.plans.{Bm25IndexStore, WandKernel}
    import spark.implicits._
    def rows(df: DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    // DENSE regime: the natural corpus (31-term vocabulary, every term
    // in ~78% of docs) queried by whole documents — the served-fusion
    // rows' shape. The pre-route must refuse every query and the serve
    // must degenerate to the naive kernel.
    val (dTable, dPath) = freshTable("bm25seld")
    spark.sql(s"DROP TABLE IF EXISTS ${dTable}_df")
    spark.sql(s"DROP TABLE IF EXISTS ${dTable}_stats")
    Bm25IndexStore.build(base, dTable, dPath, buckets = 4)
    val dq = base.filter(col("doc_id") % 25 === 0)
    val dres = rows(Bm25IndexStore.wandSearch(spark, dTable, dq, 3))
    val (dn, dElig, dWand) = WandKernel.lastRouteStats.get()
    assert(dn > 0 && dWand === 0,
      s"dense doc-as-query batch must route fully naive, got ($dn, $dElig, $dWand)")
    assert(dres === rows(Bm25IndexStore.search(spark, dTable, dq, 3)))
    // SELECTIVE regime: a zipf-ish corpus (one corpus-wide stopword,
    // one df-1 rare term per doc) queried by short rare+stop keyword
    // pairs — θ rides the rare term past the cap sum and the stopword
    // tail never joins; the pricing must WAND-route these. 600 docs
    // puts the estn/vol ratio (~600/9) well past RouteVolFactor — the
    // r16 re-tuned bar (16×, from the r15 co-located-kernel receipts);
    // the old 120-doc fixture's ~13× ratio sat between the r14 and r16
    // constants and now correctly routes naive.
    val (sTable, sPath) = freshTable("bm25sels")
    spark.sql(s"DROP TABLE IF EXISTS ${sTable}_df")
    spark.sql(s"DROP TABLE IF EXISTS ${sTable}_stats")
    val corpus = (1 to 600).map(i => (i.toLong, s"stop rare$i"))
      .toDF("doc_id", "text")
    Bm25IndexStore.build(corpus, sTable, sPath, buckets = 4)
    val sq = (1 to 5).map(i => (2000L + i, s"rare${i * 7} stop"))
      .toDF("doc_id", "text")
    val sres = rows(
      Bm25IndexStore.wandSearch(spark, sTable, sq, 1, prefixP = 2))
    val (sn, sElig, sWand) = WandKernel.lastRouteStats.get()
    assert(sWand > 0,
      s"selective keyword batch must wand-route, got ($sn, $sElig, $sWand)")
    assert(sres === rows(Bm25IndexStore.search(spark, sTable, sq, 1)))
  }

  test("tfidf store: all-zero-score docs (every term in every doc) " +
    "drop from the index instead of entering as NaN postings") {
    import graft.plans.TfidfIndexStore
    import spark.implicits._
    val table = "tfx_zero"
    Seq(table, s"${table}_norms", s"${table}_df", s"${table}_rawdf",
      s"${table}_stats", s"${table}_bydoc").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
    val path = Files.createTempDirectory("graft-tfxz").toString + "/tfx"
    // docs 1..4 are identical one-vocab texts (df == n_docs for every
    // one of their terms → all scores 0); doc 9 carries a selective
    // term and must be the only indexed doc
    val docs = (1L to 4L).map(i => (i, "same same words"))
      .toSeq :+ ((9L, "same distinctive words"))
    TfidfIndexStore.build(docs.toDF("doc_id", "text"), table, path,
      buckets = 4)
    val post = spark.table(table).collect()
    assert(post.forall(r => !r.getDouble(2).isNaN && !r.getDouble(3).isNaN),
      "no NaN w/wn postings")
    assert(post.map(_.getLong(1)).toSet === Set(9L),
      "only the doc with a positive-score term is indexed")
    val norms = spark.table(s"${table}_norms").collect()
    assert(norms.forall(_.getDouble(1) > 0.0), "no zero norms persisted")
    // an all-zero EXTEND batch also drops instead of appending NaN
    TfidfIndexStore.extend(
      Seq((100L, "same words")).toDF("doc_id", "text"), table)
    assert(spark.table(table).filter(col("doc_id") === 100L).count() === 0)
    // search over the surviving index stays NaN-free
    val got = TfidfIndexStore.search(spark, table,
      Seq((9L)).toDF("doc_id"), 3).collect()
    assert(got.forall(r => !r.getDouble(3).isNaN))
  }

  test("bpe store: served encode equals the training-loop encode; " +
    "unseen words segment by ordered merge application") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, dir)
    val path = java.nio.file.Files
      .createTempDirectory("graft-bpe-store").toString
    graft.plans.BpeStore.build(
      docs, graft.operators.TextAnalysis.BpeMerges, "probe_bpe", path)
    val merges = graft.plans.BpeStore.loadMerges(spark, "probe_bpe")
    assert(merges.size === graft.operators.TextAnalysis.BpeMerges)
    // trained corpus: artifact-served encode ≡ the in-session loop
    val served = graft.plans.BpeStore.encode(spark, docs, "probe_bpe")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    val direct = graft.operators.TextAnalysis
      .bpeEncode(docs, graft.operators.TextAnalysis.BpeMerges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(served === direct)
    // unseen words: the frozen list applies in rank order — compare
    // against a driver-side fold of the same merges
    def refSegment(w: String): Vector[String] =
      merges.foldLeft(w.split("").filter(_.nonEmpty).toVector) {
        case (syms, (a, b)) =>
          syms.foldLeft(Vector.empty[String]) { (acc, x) =>
            if (acc.nonEmpty && acc.last == a && x == b) acc.init :+ (a + b)
            else acc :+ x
          }
      }
    val unseen = Seq((1L, "zzer zparz xin yatyat unseeenword"))
      .toDF("doc_id", "text")
    val got = graft.plans.BpeStore.encode(spark, unseen, "probe_bpe")
      .collect().head
    val words = Seq("zzer", "zparz", "xin", "yatyat", "unseeenword")
    val wantTokens = words.map(refSegment(_).size.toLong).sum
    assert(got.getLong(3) === wantTokens,
      s"unseen-word token count must match driver-side merge application")
    assert(got.getLong(1) === words.size.toLong)
    assert(got.getLong(2) === words.map(_.length.toLong).sum)
    // the merges genuinely fire on unseen words (else the count would
    // equal the char count)
    assert(wantTokens < words.map(_.length.toLong).sum)
  }

  test("ivf store: staleness is flat on a fresh build, moves under a " +
    "drifted extend, and rebuildIfStale applies the thresholds") {
    import graft.plans.IvfIndexStore
    Seq("ivf_s", "ivf_s_cells", "ivf_s_stats")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val path = Files.createTempDirectory("graft-ivfs").toString + "/ivf"
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    IvfIndexStore.build(emb, nlist = 8, "ivf_s", path, buckets = 4)
    val fresh = IvfIndexStore.staleness(spark, "ivf_s")
    // both sides read the identical saved rows through the identical
    // per-row arithmetic; partial-agg merge order can differ, so the
    // growth is flat to float tolerance while the count-based skew is
    // exactly zero
    assert(math.abs(fresh.residualGrowth - 1.0) < 1e-9, s"$fresh")
    assert(fresh.occupancySkew === 0.0)
    assert(fresh.builtVecs === fresh.liveVecs)
    assert(!IvfIndexStore.rebuildIfStale(spark, "ivf_s", path),
      "a fresh build must not trigger a rebuild at default thresholds")
    // drifted extend: hash-noise vectors with none of the corpus's
    // cluster structure — far from every frozen centroid (residual
    // grows) and unevenly spread over cells (skew grows)
    val drifted = emb.select(
      (col("vec_id") + 7000000L).as("vec_id"),
      expr("transform(embedding, (x, i) -> " +
        "cast(pmod(xxhash64(vec_id, i), 1000) / 500.0 - 1.0 as float))")
        .as("embedding"))
    IvfIndexStore.extend(drifted, "ivf_s")
    val after = IvfIndexStore.staleness(spark, "ivf_s")
    assert(after.residualGrowth > fresh.residualGrowth,
      s"noise vectors must grow the mean residual: $after")
    assert(after.occupancySkew > 0.0, s"occupancy must move: $after")
    assert(after.liveVecs === 2 * fresh.builtVecs)
    // thresholds are exclusive ceilings, pinned on the DETERMINISTIC
    // count-based skew (the residual ceiling gets a float-noise margin
    // since rebuildIfStale re-measures): AT the measured skew → not
    // stale; just below → stale
    val residualSlack = after.residualGrowth * (1 + 1e-6)
    assert(!IvfIndexStore.rebuildIfStale(spark, "ivf_s", path,
      residualMax = residualSlack, skewMax = after.occupancySkew))
    assert(IvfIndexStore.rebuildIfStale(spark, "ivf_s", path,
      residualMax = residualSlack,
      skewMax = after.occupancySkew * 0.99))
    // the rebuilt quantizer fits the union corpus: staleness resets to
    // flat and serving still works over all live vectors
    val rebuilt = IvfIndexStore.staleness(spark, "ivf_s")
    assert(math.abs(rebuilt.residualGrowth - 1.0) < 1e-9, s"$rebuilt")
    assert(rebuilt.occupancySkew === 0.0)
    assert(rebuilt.builtVecs === after.liveVecs)
    assert(IvfIndexStore.knn(
      drifted.limit(3), k = 1, nprobe = 2, "ivf_s").count() > 0)
  }

  test("pq store: staleness baseline survives the artifact round-trip " +
    "and rebuildIfStale re-trains the frozen books under drift") {
    import graft.plans.PqStore
    val table = "pq_s"
    Seq(table, s"${table}_codes", s"${table}_rot", s"${table}_stats")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val path = Files.createTempDirectory("graft-pqs").toString + "/pq"
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    PqStore.build(emb, 8, 64, table, path)
    val fresh = PqStore.staleness(spark, table, emb)
    // the current-side pass re-quantizes in a different partition
    // order, so sums agree to float tolerance, not bit-exactly
    assert(math.abs(fresh.residualGrowth - 1.0) < 1e-9, s"$fresh")
    assert(fresh.occupancySkew === 0.0)
    val drifted = emb.select(
      (col("vec_id") + 7000000L).as("vec_id"),
      expr("transform(embedding, (x, i) -> " +
        "cast(pmod(xxhash64(vec_id, i), 1000) / 500.0 - 1.0 as float))")
        .as("embedding"))
    PqStore.extend(drifted, table)
    val union = emb.unionByName(drifted)
    val after = PqStore.staleness(spark, table, union)
    assert(after.residualGrowth > fresh.residualGrowth, s"$after")
    assert(after.occupancySkew > 0.0, s"$after")
    val residualSlack = after.residualGrowth * (1 + 1e-6)
    assert(!PqStore.rebuildIfStale(spark, table, path, union,
      residualMax = residualSlack, skewMax = after.occupancySkew))
    assert(PqStore.rebuildIfStale(spark, table, path, union,
      residualMax = residualSlack,
      skewMax = after.occupancySkew * 0.99))
    val rebuilt = PqStore.staleness(spark, table, union)
    assert(math.abs(rebuilt.residualGrowth - 1.0) < 1e-9, s"$rebuilt")
    assert(rebuilt.occupancySkew === 0.0)
    assert(rebuilt.builtVecs === after.liveVecs)
    // geometry carried over: same m, still no rotation table
    assert(PqStore.loadBooks(spark, table).length === 8)
    assert(PqStore.loadRotation(spark, table).isEmpty)
  }

  test("a failed build keeps the live version: every store family keeps " +
    "its members, rows and tombstones, strands no staging table, and " +
    "builds cleanly afterwards") {
    import spark.implicits._
    import graft.multimodal.{Multimodal => MM}
    import graft.plans._
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val small = base.filter(col("doc_id") % 4 === 0).localCheckpoint(true)
    val clipIds = base.filter(col("doc_id") % 16 === 0).limit(12)
      .select("doc_id").as[Long].collect().toSeq
    def clips(render: (Long, Boolean) => Array[Byte]): DataFrame =
      clipIds.map(id => (id, render(id, false))).toDF("doc_id", "payload")
        .localCheckpoint(true)
    val ev = Tables.events(spark, dir).select(col("event_type"), col("value"))
    val sessions = Seq(spark, ev.sparkSession).distinct
    // one row per store family: its member tables, the (member, key)
    // a delete tombstones, the data commits one build makes (the last
    // one fails), and the build itself
    final case class Family(name: String, members: Seq[String],
        keyed: Option[(String, String)], commits: Int,
        build: (String, String) => Unit)
    def t(n: String) = s"pub_$n"
    val families = Seq(
      Family("agg", Seq(t("agg")), None, 1,
        AggStore.build(ev, Seq("event_type"), "value", _, _)),
      Family("bm25", Seq(t("bm25"), s"${t("bm25")}_df",
          s"${t("bm25")}_stats"), Some(t("bm25") -> "doc_id"), 3,
        Bm25IndexStore.build(small, _, _, buckets = 4)),
      Family("tfidf", t("tfidf") +: Seq("norms", "df", "rawdf", "stats",
          "bydoc").map(x => s"${t("tfidf")}_$x"),
        Some(t("tfidf") -> "doc_id"), 6,
        TfidfIndexStore.build(small, _, _, buckets = 4)),
      Family("shingle", Seq(t("shingle"),
          ShingleIndexStore.sizesTable(t("shingle")),
          ShingleIndexStore.sigsTable(t("shingle"))),
        Some(t("shingle") -> "doc_id"), 3,
        ShingleIndexStore.build(small, 3, _, _, buckets = 4)),
      Family("ivf", Seq(t("ivf"), IvfIndexStore.cellsTable(t("ivf")),
          IvfIndexStore.statsTable(t("ivf"))),
        Some(IvfIndexStore.cellsTable(t("ivf")) -> "vec_id"), 3,
        IvfIndexStore.build(emb, nlist = 8, _, _, buckets = 4)),
      Family("pq", Seq(t("pq"), PqStore.codesTable(t("pq")),
          PqStore.statsTable(t("pq"))),
        Some(PqStore.codesTable(t("pq")) -> "vec_id"), 3,
        PqStore.build(emb, m = 4, codewords = 16, _, _)),
      Family("lm", Seq(LmStore.bigramsTable(t("lm")),
          LmStore.unigramsTable(t("lm"))), None, 2,
        LmStore.build(small, _, _)),
      Family("cls", Seq(ClsStore.weightsTable(t("cls"))), None, 1,
        ClsStore.build(small, _, _)),
      Family("ahash", Seq(t("ahash")), Some(t("ahash") -> "doc_id"), 1,
        AhashIndexStore.build(clips(MM.renderClip), _, _)),
      Family("vhash", Seq(t("vhash")), Some(t("vhash") -> "doc_id"), 1,
        VhashIndexStore.build(clips(MM.renderVideo), _, _)),
      Family("bpe", Seq(BpeStore.mergesTable(t("bpe")),
          BpeStore.statsTable(t("bpe"))), None, 2,
        BpeStore.build(small, 10, _, _)),
      Family("unigram", Seq(UnigramStore.piecesTable(t("unigram")),
          UnigramStore.statsTable(t("unigram"))), None, 2,
        UnigramStore.build(small, _, _)))

    def tables(): Set[String] =
      spark.catalog.listTables().collect().map(_.name).toSet
    def digest(m: String): (Long, Long) = {
      val r = spark.table(m)
        .selectExpr("count(*)", "coalesce(sum(cast(hash(*) AS BIGINT)), 0)")
        .head()
      (r.getLong(0), r.getLong(1))
    }
    val failures = families.flatMap { f =>
      val table = t(f.name)
      val path = Files.createTempDirectory(s"graft-pub-${f.name}")
        .toString + "/idx"
      try {
        f.build(table, path)
        val dead = f.keyed.map { case (m, key) =>
          val id = spark.table(m).select(col(key).cast("long")).head()
            .getLong(0)
          Retire.delete(spark, table, Seq(id).toDF(key), key)
          (m, key, id)
        }
        val before = tables()
        val rows = f.members.map(m => m -> digest(m)).toMap
        // `Tables.events` frames run in a child session of their own
        sessions.foreach(_.conf.set("spark.sql.sources.commitProtocolClass",
          classOf[FailingCommit].getName))
        FailingCommit.arm(path, f.commits)
        try intercept[Exception](f.build(table, path))
        finally {
          FailingCommit.disarm()
          sessions.foreach(
            _.conf.unset("spark.sql.sources.commitProtocolClass"))
        }
        assert(FailingCommit.fired, "the injected commit failure never fired")
        val missing = f.members.filterNot(spark.catalog.tableExists)
        assert(missing.isEmpty, s"members lost: ${missing.mkString(", ")}")
        assert(tables() === before, "the catalog changed")
        f.members.foreach(m =>
          assert(digest(m) === rows(m), s"$m no longer reads its rows"))
        dead.foreach { case (m, key, id) =>
          assert(spark.table(m).filter(col(key) === id).count() > 0)
          assert(Retire.survivors(spark, table, spark.table(m), key)
            .filter(col(key) === id).count() === 0,
            s"tombstoned $key $id is visible again")
        }
        f.build(table, path)
        f.members.foreach(m => assert(spark.table(m).count() > 0, m))
        assert(Retire.dead(spark, table).isEmpty,
          "a clean build must start without tombstones")
        None
      } catch {
        case e: Throwable => Some(s"${f.name}: ${e.getMessage}")
      }
    }
    assert(failures.isEmpty, failures.mkString("\n", "\n", ""))
  }
}

/** A commit protocol that fails one chosen job commit under an armed
  * path: the injected mid-write fault of the failed-build test. Until
  * armed it commits like Spark's default protocol.
  */
class FailingCommit(jobId: String, path: String, dynamic: Boolean)
    extends org.apache.spark.sql.execution.datasources
      .SQLHadoopMapReduceCommitProtocol(jobId, path, dynamic) {
  override def commitJob(job: org.apache.hadoop.mapreduce.JobContext,
      commits: Seq[org.apache.spark.internal.io.FileCommitProtocol
        .TaskCommitMessage]): Unit = {
    if (FailingCommit.trips(path))
      throw new java.io.IOException(s"injected commit failure at $path")
    super.commitJob(job, commits)
  }
}

object FailingCommit {
  private val under = new java.util.concurrent.atomic.AtomicReference[String]
  private val left = new java.util.concurrent.atomic.AtomicInteger
  @volatile var fired = false

  /** Fail the `nth` job commit whose output path contains `prefix`. */
  def arm(prefix: String, nth: Int): Unit = {
    fired = false
    left.set(nth)
    under.set(prefix)
  }

  def disarm(): Unit = under.set(null)

  private def trips(path: String): Boolean = {
    val p = under.get
    if (p == null || !path.contains(p) || left.decrementAndGet() != 0) false
    else { fired = true; disarm(); true }
  }
}
