package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{AhashIndexStore, Bm25IndexStore, IvfIndexStore,
  PqStore, Retire, ShingleIndexStore, TfidfIndexStore, VhashIndexStore,
  WandKernel}

/** Document retirement across the persisted index artifacts: delete
  * masks immediately through every serve path (including both WAND
  * orchestrations), compact makes the mask physical with file-granular
  * copy-on-write (untouched files hard-link across unchanged), and the
  * two are observationally identical. Where the scoring carries no
  * corpus statistics (shingle Jaccard, Hamming fingerprints) the
  * post-delete results are additionally pinned to a REBUILD from the
  * surviving docs; the frozen-stats stores (BM25/tf-idf/IVF/PQ) pin
  * against the independent filter-and-rerank derivation instead (their
  * stats are deliberately NOT recomputed — the extend contract).
  */
class RetireSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-retire-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.warehouse.dir",
      Files.createTempDirectory("graft-wh").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def docs: DataFrame =
    Tables.documents(spark, dir).select("doc_id", "text")

  private def emb: DataFrame =
    Tables.embeddings(spark, dir).select("vec_id", "embedding")

  private def fresh(tag: String): (String, String) = {
    val table = s"ret_$tag"
    (table, Files.createTempDirectory(s"graft-ret-$tag")
      .toString + "/idx")
  }

  private def ids(xs: Long*): DataFrame = {
    import spark.implicits._
    xs.toDF("doc_id")
  }

  private def rows4(df: DataFrame): Seq[(Long, Int, Long, Double)] =
    df.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq

  /** The independent post-delete derivation for per-pair scorers: a
    * pair's score never involves other docs, so the post-delete top-3
    * equals the pre-delete top-10 with dead neighbors dropped and
    * ranks renumbered (10 − |dead| ≥ 3 keeps it exact).
    */
  private def dropAndRerank(
      pre: Seq[(Long, Int, Long, Double)], dead: Set[Long],
      topN: Int): Seq[(Long, Int, Long, Double)] =
    pre.filterNot(r => dead(r._3)).groupBy(_._1).toSeq.sortBy(_._1)
      .flatMap { case (q, rs) =>
        rs.sortBy(_._2).take(topN).zipWithIndex
          .map { case ((_, _, n, s), i) => (q, i + 1, n, s) }
      }

  private def tableFiles(table: String): Set[String] = {
    val loc = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table)).location
    val s = Files.list(Paths.get(loc.getPath))
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.endsWith(".parquet")).toSet
    finally s.close()
  }

  test("bm25: delete masks every serve path (search, both WAND " +
    "orchestrations, tiny prefix), equals the filter-and-rerank " +
    "derivation, and compact is observationally identical") {
    val (table, path) = fresh("bm25")
    Bm25IndexStore.build(docs, table, path, buckets = 4)
    val queries = docs.filter(col("doc_id") % 25 === 0)
    val pre = rows4(Bm25IndexStore.search(spark, table, queries, 10))
    // delete the two most-retrieved neighbors — queries that ranked
    // them MUST re-rank, not just lose a row
    val dead = pre.groupBy(_._3).view.mapValues(_.size).toSeq
      .sortBy { case (n, c) => (-c, n) }.take(2).map(_._1).toSet
    Bm25IndexStore.delete(spark, table, ids(dead.toSeq: _*))
    val expect = dropAndRerank(pre, dead, 3)
    assert(expect.nonEmpty && pre.exists(r => dead(r._3)),
      "fixture must actually re-rank")
    val post = rows4(Bm25IndexStore.search(spark, table, queries, 3))
    assert(post === expect)
    assert(rows4(Bm25IndexStore.wandSearch(
      spark, table, queries, 3, prefixP = 2)) === expect)
    assert(rows4(Bm25IndexStore.wandSearch(
      spark, table, queries, 3)) === expect)
    try {
      WandKernel.driverPlanningEnabled.set(false)
      assert(rows4(Bm25IndexStore.wandSearch(
        spark, table, queries, 3, prefixP = 2)) === expect)
    } finally WandKernel.driverPlanningEnabled.set(true)
    // extend AFTER delete: a re-ingest of a deleted id stays masked
    val reingest = docs.filter(col("doc_id") === dead.head)
    Bm25IndexStore.extend(reingest, table)
    assert(rows4(Bm25IndexStore.search(spark, table, queries, 3))
      === expect, "a re-extended deleted id must stay masked")
    // compact: physical removal — identical results, dead rows gone,
    // tombstones cleared, and the re-extended rows swept too
    Bm25IndexStore.compact(spark, table)
    assert(!spark.catalog.tableExists(Retire.deadTable(table)))
    assert(spark.table(table)
      .filter(col("doc_id").isin(dead.toSeq: _*)).count() === 0)
    assert(rows4(Bm25IndexStore.search(spark, table, queries, 3))
      === expect)
    assert(rows4(Bm25IndexStore.wandSearch(
      spark, table, queries, 3, prefixP = 2)) === expect)
  }

  test("tfidf: delete masks neighbors AND the query side; compact is " +
    "observationally identical across search and wandSearch") {
    val (table, path) = fresh("tfx")
    TfidfIndexStore.build(docs, table, path, buckets = 4)
    val queryIds = docs.filter(col("doc_id") % 25 === 0)
      .select("doc_id")
    val pre = rows4(TfidfIndexStore.search(spark, table, queryIds, 10))
    val deadN = pre.groupBy(_._3).view.mapValues(_.size).toSeq
      .sortBy { case (n, c) => (-c, n) }.take(2).map(_._1).toSet
    // also delete one QUERY doc — its rows must vanish entirely
    val deadQ = pre.map(_._1).distinct.sorted.head
    val dead = deadN + deadQ
    TfidfIndexStore.delete(spark, table, ids(dead.toSeq: _*))
    val expect = dropAndRerank(
      pre.filterNot(_._1 == deadQ), dead, 3)
    val post = rows4(TfidfIndexStore.search(spark, table, queryIds, 3))
    assert(post === expect)
    assert(!post.exists(_._1 == deadQ),
      "a deleted doc must not serve as a query")
    assert(rows4(TfidfIndexStore.wandSearch(
      spark, table, queryIds, 3, prefixP = 2)) === expect)
    try {
      WandKernel.driverPlanningEnabled.set(false)
      assert(rows4(TfidfIndexStore.wandSearch(
        spark, table, queryIds, 3, prefixP = 2)) === expect)
    } finally WandKernel.driverPlanningEnabled.set(true)
    TfidfIndexStore.compact(spark, table)
    assert(!spark.catalog.tableExists(Retire.deadTable(table)))
    assert(spark.table(table)
      .filter(col("doc_id").isin(dead.toSeq: _*)).count() === 0)
    assert(spark.table(TfidfIndexStore.normsTable(table))
      .filter(col("doc_id").isin(dead.toSeq: _*)).count() === 0)
    assert(spark.table(TfidfIndexStore.byDocTable(table))
      .filter(col("doc_id").isin(dead.toSeq: _*)).count() === 0)
    assert(rows4(TfidfIndexStore.search(spark, table, queryIds, 3))
      === expect)
    assert(rows4(TfidfIndexStore.wandSearch(
      spark, table, queryIds, 3)) === expect)
  }

  test("shingle: delete -> match equals a REBUILD from survivors " +
    "(stats-free scoring), unblocks admission, and compact hard-links " +
    "untouched files unchanged") {
    val (table, path) = fresh("shingle")
    ShingleIndexStore.build(docs, 3, table, path, buckets = 4)
    // near-dup batch: 20-char-shifted copies of every 3rd doc (the
    // IndexStoreSpec mutation) — matched against their originals
    val batch = docs.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        substring(col("text"), 21, 1000000).as("text"))
    val pre = ShingleIndexStore.matchBatch(batch, 3, table, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pre.nonEmpty)
    // delete the COMPLETE blocker set of one copy (the copy with the
    // fewest index matches), so the admission-unblock check below is
    // guaranteed: nothing else in the index rejects it
    val (unblockId, deadSeq) = pre.groupBy(_._1).view
      .mapValues(_.map(_._2).toSeq.sorted).toSeq
      .sortBy { case (id, ms) => (ms.size, id) }.head
    val dead = deadSeq.toSet
    ShingleIndexStore.delete(spark, table, ids(dead.toSeq: _*))
    def pairs(t: String) =
      ShingleIndexStore.matchBatch(batch, 3, t, 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val post = pairs(table)
    assert(post === pre.filterNot(p => dead(p._2)))
    // rebuild-from-survivors equivalence — Jaccard carries no corpus
    // stats, so the tombstoned index IS the rebuilt one observationally
    val (table2, path2) = fresh("shingle2")
    ShingleIndexStore.build(
      docs.filter(!col("doc_id").isin(dead.toSeq: _*)),
      3, table2, path2, buckets = 4)
    assert(post === pairs(table2))
    // signature path agrees
    assert(ShingleIndexStore
      .matchBatchBySignature(batch, 3, table, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet === post)
    // file-granular compact on the doc-keyed sizes table: files
    // without a dead row survive BY NAME
    val before = tableFiles(ShingleIndexStore.sizesTable(table))
    ShingleIndexStore.compact(spark, table)
    val after = tableFiles(ShingleIndexStore.sizesTable(table))
    assert((before intersect after).nonEmpty,
      s"untouched sizes files must hard-link across: $before vs $after")
    assert(!spark.catalog.tableExists(Retire.deadTable(table)))
    assert(spark.table(table)
      .filter(col("doc_id").isin(dead.toSeq: _*)).count() === 0)
    assert(pairs(table) === post, "compact must not change matches")
    // admission unblocked — the blocker set is physically gone now: a
    // near-dup previously rejected only by deleted docs admits
    val blockedCopy = batch.filter(col("doc_id") === unblockId)
    assert(blockedCopy.count() === 1)
    val admitted = ShingleIndexStore.admitAndExtend(
      blockedCopy, 3, table, 0.5)
    assert(admitted.count() === 1,
      "deleting the blocker must re-admit its near-dup")
  }

  test("ivf: delete masks knn + admission under the frozen quantizer; " +
    "compact is observationally identical") {
    val (table, path) = fresh("ivf")
    IvfIndexStore.build(emb, nlist = 8, table, path, buckets = 4)
    val queries = emb.filter(col("vec_id") % 25 === 0)
    def rows(t: String, k: Int) = IvfIndexStore
      .knn(queries, k, nprobe = 8, t).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSeq
    val pre = rows(table, 10)
    val dead = pre.groupBy(_._3).view.mapValues(_.size).toSeq
      .sortBy { case (n, c) => (-c, n) }.take(2).map(_._1).toSet
    IvfIndexStore.delete(spark, table,
      ids(dead.toSeq: _*).withColumnRenamed("doc_id", "vec_id"))
    val expect = dropAndRerank(pre, dead, 3)
    assert(rows(table, 3) === expect)
    // a verbatim copy of a deleted vector is admissible again
    val copy = emb.filter(col("vec_id") === dead.head)
      .select((col("vec_id") + 9000000L).as("vec_id"), col("embedding"))
    val admitted = IvfIndexStore.admitAndExtend(
      copy, table, threshold = 0.999)
    assert(admitted.count() === 1,
      "deleting a vector must unblock admission of its copy")
    // roll the admission back so compact compares against `expect`
    IvfIndexStore.delete(spark, table, admitted)
    IvfIndexStore.compact(spark, table)
    assert(!spark.catalog.tableExists(Retire.deadTable(table)))
    assert(spark.table(IvfIndexStore.cellsTable(table))
      .filter(col("vec_id").isin(dead.toSeq: _*)).count() === 0)
    assert(rows(table, 3) === expect)
  }

  test("pq: delete masks the ADC shortlist without costing rerank " +
    "slots; compact is observationally identical") {
    val (table, path) = fresh("pq")
    PqStore.build(emb, m = 4, codewords = 16, table, path)
    def rows(k: Int) = PqStore.search(
      spark, table, emb, col("vec_id") % 25 === 0, k)
      .orderBy("query_id", "rnk").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val pre = rows(5)
    val dead = pre.groupBy(_._3).view.mapValues(_.size).toSeq
      .sortBy { case (n, c) => (-c, n) }.take(2).map(_._1).toSet
    assert(dead.nonEmpty)
    PqStore.delete(spark, table,
      ids(dead.toSeq: _*).withColumnRenamed("doc_id", "vec_id"))
    // ADC is approximate and masking dead codes BEFORE the shortlist
    // frees slots for real candidates, so results may legitimately
    // IMPROVE — the exact pins are: no dead id ever surfaces, and the
    // tombstone mask is observationally identical to physical removal
    val post = rows(5)
    assert(post.nonEmpty)
    assert(!post.exists(r => dead(r._3)),
      "a deleted vector must never surface from the shortlist")
    PqStore.compact(spark, table)
    assert(!spark.catalog.tableExists(Retire.deadTable(table)))
    assert(spark.table(PqStore.codesTable(table))
      .filter(col("vec_id").isin(dead.toSeq: _*)).count() === 0)
    assert(rows(5) === post,
      "physical removal must equal the tombstone mask")
  }

  test("ahash: delete unblocks admission and equals a rebuild from " +
    "survivors; compact is observationally identical") {
    import graft.multimodal.Multimodal
    import spark.implicits._
    val clipIds = docs.filter(col("doc_id") % 16 === 0).limit(24)
      .select("doc_id").as[Long].collect().toSeq
    val clips = clipIds
      .map(id => (id, Multimodal.renderClip(id, copy = false)))
      .toDF("doc_id", "payload").localCheckpoint(true)
    val (table, path) = fresh("ahash")
    AhashIndexStore.build(clips, table, path)
    // pitched near-dup copies of the indexed clips: all rejected
    val copies = clipIds
      .map(id => (id + 1000000L, Multimodal.renderClip(id, copy = true)))
      .toDF("doc_id", "payload").localCheckpoint(true)
    assert(AhashIndexStore.admitAndExtend(copies, table).count() === 0)
    val dead = clipIds.sorted.take(3)
    AhashIndexStore.delete(spark, table, ids(dead: _*))
    // exactly the copies of the deleted clips admit now — and the same
    // set admits against an index rebuilt from the survivors
    val (table2, path2) = fresh("ahash2")
    AhashIndexStore.build(
      clips.filter(!col("doc_id").isin(dead: _*)), table2, path2)
    val viaDelete = AhashIndexStore.admitAndExtend(copies, table)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val viaRebuild = AhashIndexStore.admitAndExtend(copies, table2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaDelete === dead.map(_ + 1000000L).toSet)
    assert(viaDelete === viaRebuild)
    // the admitted copies landed; compacting sweeps only the dead rows
    AhashIndexStore.compact(spark, table)
    assert(!spark.catalog.tableExists(Retire.deadTable(table)))
    val left = spark.table(table).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(dead.forall(d => !left(d) && left(d + 1000000L)))
  }

  test("vhash: delete unblocks admission and equals a rebuild from " +
    "survivors; compact drops ALL of a clip's frame rows") {
    import graft.multimodal.Multimodal
    import spark.implicits._
    val clipIds = docs.filter(col("doc_id") % 16 === 0).limit(24)
      .select("doc_id").as[Long].collect().toSeq
    val clips = clipIds
      .map(id => (id, Multimodal.renderVideo(id, copy = false)))
      .toDF("doc_id", "payload").localCheckpoint(true)
    val (table, path) = fresh("vhash")
    VhashIndexStore.build(clips, table, path)
    // re-encoded near-dup copies of the indexed clips: all rejected
    val copies = clipIds
      .map(id => (id + 1000000L, Multimodal.renderVideo(id, copy = true)))
      .toDF("doc_id", "payload").localCheckpoint(true)
    assert(VhashIndexStore.admitAndExtend(copies, table).count() === 0)
    val dead = clipIds.sorted.take(3)
    VhashIndexStore.delete(spark, table, ids(dead: _*))
    // exactly the copies of the deleted clips admit now — and the same
    // set admits against an index rebuilt from the survivors
    val (table2, path2) = fresh("vhash2")
    VhashIndexStore.build(
      clips.filter(!col("doc_id").isin(dead: _*)), table2, path2)
    val viaDelete = VhashIndexStore.admitAndExtend(copies, table)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    val viaRebuild = VhashIndexStore.admitAndExtend(copies, table2)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(viaDelete === dead.map(_ + 1000000L).toSet)
    assert(viaDelete === viaRebuild)
    // the admitted copies' frame rows landed; compacting sweeps every
    // frame row of the dead clips and nothing else
    VhashIndexStore.compact(spark, table)
    assert(!spark.catalog.tableExists(Retire.deadTable(table)))
    val left = spark.table(table).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(dead.forall(d => !left(d) && left(d + 1000000L)))
  }

  test("compact with untouched tables is a no-op; deleting every row " +
    "of one file still leaves a readable table") {
    val (table, path) = fresh("noop")
    ShingleIndexStore.build(docs, 3, table, path, buckets = 4)
    val before = tableFiles(table)
    // no tombstones at all: nothing moves
    ShingleIndexStore.compact(spark, table)
    assert(tableFiles(table) === before)
    // tombstone an id that is not in the index: still a no-op rewrite
    ShingleIndexStore.delete(spark, table, ids(999999999L))
    ShingleIndexStore.compact(spark, table)
    assert(tableFiles(table) === before)
    assert(!spark.catalog.tableExists(Retire.deadTable(table)))
  }

  test("wand serves a query whose entire LIVE prefix is masked: the " +
    "rank-1 doc of one term deleted, the other term's rank-1 is the " +
    "query itself (P=1) — both stores, both orchestrations") {
    // the exact stress-found hole: at P=1 query 2's live prefix pairs
    // are EMPTY (term `shared`'s rank-1 row is dead doc 1, term
    // `ecks`'s rank-1 row is query 2 itself), so there is no θ-seed
    // and no prefix candidate — the distributed routing used to price
    // the query at volume 0, wand-route it, and return NOTHING, while
    // search correctly finds doc 3 through `shared`'s tail. `shared`
    // sits in 3 of 4 docs so its tf-idf idf stays positive (df ==
    // n_docs terms are w > 0-filtered out of that store entirely).
    import spark.implicits._
    val corpus = Seq(
      (1L, "shared"), (2L, "shared ecks"), (3L, "shared wye"),
      (4L, "other")).toDF("doc_id", "text")
    val (bm, bmPath) = fresh("wandgap_bm")
    val (tfx, tfPath) = fresh("wandgap_tf")
    Bm25IndexStore.build(corpus, bm, bmPath, buckets = 2)
    TfidfIndexStore.build(corpus, tfx, tfPath, buckets = 2)
    Bm25IndexStore.delete(spark, bm, ids(1L))
    TfidfIndexStore.delete(spark, tfx, ids(1L))
    val q = corpus.filter(col("doc_id") === 2L)
    val bmRef = rows4(Bm25IndexStore.search(spark, bm, q, 3))
    val tfRef = rows4(TfidfIndexStore.search(spark, tfx, ids(2L), 3))
    assert(bmRef.map(_._3).contains(3L),
      "the reference must reach doc 3 through the masked term's tail")
    assert(tfRef.map(_._3).contains(3L))
    for (planned <- Seq(true, false)) {
      try {
        WandKernel.driverPlanningEnabled.set(planned)
        assert(rows4(Bm25IndexStore.wandSearch(
          spark, bm, q, 3, prefixP = 1)) === bmRef,
          s"bm25 planned=$planned")
        assert(rows4(TfidfIndexStore.wandSearch(
          spark, tfx, ids(2L), 3, prefixP = 1)) === tfRef,
          s"tfidf planned=$planned")
      } finally WandKernel.driverPlanningEnabled.set(true)
    }
  }
}
