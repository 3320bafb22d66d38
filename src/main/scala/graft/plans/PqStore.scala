package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Persisted product-quantization artifact — the compressed sibling of
  * [[IvfIndexStore]]: training the per-subspace codebooks and encoding
  * every corpus vector are index-BUILD work, so this store runs them
  * once and persists:
  *
  *   - `<table>`       — (j, c, codeword array<double>): the m×k
  *                       codebooks (k·d doubles total — driver-trivial)
  *   - `<table>_codes` — (vec_id, codes array<int>): m small codes per
  *                       vector — the 4d/m-fold-smaller scan the ADC
  *                       stage reads INSTEAD of raw embeddings
  *   - `<table>_rot`   — (i, row array<double>): the OPQ rotation, when
  *                       the store was built with one (FAISS's
  *                       OPQMatrix pre-transform as an artifact
  *                       component) — d×d doubles, driver-trivial
  *   - `<table>_stats` — (j, c, n, sum_err): build-time codeword usage
  *                       + quantization-error baseline that
  *                       [[staleness]] measures drift against
  *
  * `search` serves query batches from the saved codes (raw vectors are
  * touched only for the queries × rerank·k shortlisted rows the exact
  * re-rank needs); `extend` encodes an arriving batch under the FROZEN
  * rotation + codebooks and appends — same staleness contract as the
  * IVF quantizer: codebooks drift as the corpus does, rebuild
  * periodically, and an exact copy of an indexed vector rotates and
  * encodes to the identical codes, so duplicate recall survives
  * extension. An OPQ store keeps search/extend signatures identical —
  * the rotation is an artifact property, not a caller concern.
  */
object PqStore {

  def codesTable(table: String): String = s"${table}_codes"
  def rotTable(table: String): String = s"${table}_rot"
  def statsTable(table: String): String = s"${table}_stats"

  /** Train and publish the artifact as a fresh version under `path`; a
    * store built without OPQ carries no rotation table.
    */
  def build(
      emb: DataFrame, m: Int, codewords: Int, table: String,
      path: String, iters: Int = 2, opq: Boolean = false): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    Publish.version(spark, path, Seq(table -> "books",
        codesTable(table) -> "codes", rotTable(table) -> "rot",
        statsTable(table) -> "stats")) { v =>
      val raw = emb.select("vec_id", "embedding")
      // with OPQ the WHOLE artifact lives in rotated space: codebooks
      // train on, and codes encode, the rotated corpus — exactly
      // [[Similarity.opqPqKnn]]'s in-session arithmetic, split at the
      // same build/serve seam as the plain store
      val base =
        if (!opq) raw
        else {
          val r = Similarity.opqRotation(raw, m, codewords)
          v.save(r.zipWithIndex.map { case (row, i) => (i, row.toSeq) }
            .toSeq.toDF("i", "row"), rotTable(table))
          Similarity.rotateEmbeddings(raw, r).localCheckpoint(true)
        }
      val books = Similarity.pqTrain(base, m, codewords, iters)
      v.save(books.zipWithIndex.flatMap { case (book, j) =>
        book.zipWithIndex.map { case (cw, c) => (j, c, cw.toSeq) }
      }.toSeq.toDF("j", "c", "codeword"), table)
      v.save(Similarity.pqEncode(base, books), codesTable(table))
      // build-time per-(subspace, codeword) usage + quantization-error
      // baseline for [[staleness]] — m·k rows, one extra corpus pass at
      // build time (build is the offline step; serve paths never read it)
      v.save(Similarity.pqCodeStats(base, books), statsTable(table))
    }
  }

  private def collectStats(df: DataFrame): Seq[((Int, Int), (Long, Double))] =
    df.select("j", "c", "n", "sum_err").collect()
      .map(r => ((r.getInt(0), r.getInt(1)), (r.getLong(2), r.getDouble(3))))
      .toSeq

  /** Measure how far the live corpus has drifted from the frozen
    * rotation + codebooks — see [[Staleness]]. Codes alone cannot
    * reconstruct quantization error, so the caller supplies the raw
    * vectors (the same `corpusVecs` contract [[search]] already has);
    * rows without a surviving code (deleted, or never indexed) are
    * semi-joined out before measuring. One corpus pass + two
    * codebook-sized collects.
    */
  def staleness(
      spark: SparkSession, table: String,
      corpusVecs: DataFrame): Staleness = {
    val books = loadBooks(spark, table)
    val live = toArtifactSpace(spark, table,
      corpusVecs.select("vec_id", "embedding")
        .join(Retire.survivors(
            spark, table, spark.table(codesTable(table)), "vec_id")
          .select("vec_id"), Seq("vec_id"), "left_semi"))
    Staleness.of(
      collectStats(spark.table(statsTable(table))),
      collectStats(Similarity.pqCodeStats(live, books)),
      obsPerVec = books.length)
  }

  /** Rebuild rotation + codebooks + codes from the surviving vectors
    * when either staleness signal clears its ceiling; returns whether
    * a rebuild ran. Geometry (m, codewords) and the OPQ choice are
    * carried over from the saved artifact. The survivors frame is
    * materialized once: it feeds every training pass and the encode.
    */
  def rebuildIfStale(
      spark: SparkSession, table: String, path: String,
      corpusVecs: DataFrame,
      residualMax: Double = 1.25, skewMax: Double = 0.25,
      iters: Int = 2): Boolean = {
    val s = staleness(spark, table, corpusVecs)
    if (!s.isStale(residualMax, skewMax)) false
    else {
      val books = loadBooks(spark, table)
      val survivors = corpusVecs.select("vec_id", "embedding")
        .join(Retire.survivors(
            spark, table, spark.table(codesTable(table)), "vec_id")
          .select("vec_id"), Seq("vec_id"), "left_semi")
        .localCheckpoint(true)
      build(survivors, books.length, books(0).length, table, path,
        iters, opq = loadRotation(spark, table).isDefined)
      true
    }
  }

  /** The saved codebooks as Array(m)(k)(d/m). */
  def loadBooks(spark: SparkSession, table: String)
      : Array[Array[Array[Double]]] = {
    val rows = spark.table(table).orderBy("j", "c").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    rows.groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3)).toArray
  }

  /** The saved OPQ rotation, when the artifact carries one. */
  def loadRotation(spark: SparkSession, table: String)
      : Option[Array[Array[Double]]] =
    if (!spark.catalog.tableExists(rotTable(table))) None
    else Some(spark.table(rotTable(table)).orderBy("i").collect()
      .map(r => r.getSeq[Double](1).toArray))

  /** `vecs` carried into the artifact's space: rotated under the saved
    * R when the store has one, untouched otherwise.
    */
  private def toArtifactSpace(spark: SparkSession, table: String,
      vecs: DataFrame): DataFrame =
    loadRotation(spark, table) match {
      case None => vecs
      case Some(r) => Similarity.rotateEmbeddings(vecs, r)
    }

  /** Encode `batch` under the frozen rotation + codebooks and append
    * its codes.
    */
  def extend(batch: DataFrame, table: String): Unit = {
    val spark = batch.sparkSession
    Publish.append(Similarity.pqEncode(
        toArtifactSpace(spark, table, batch.select("vec_id", "embedding")),
        loadBooks(spark, table)),
      codesTable(table))
  }

  /** Two-stage search served from the artifact: ADC over the saved
    * codes, exact re-rank joining `corpusVecs` for shortlist rows only.
    * Codes with no row in `corpusVecs` (an extended index searched
    * against a stale raw-vector frame) are semi-joined OUT before the
    * shortlist — letting them through would burn bounded shortlist
    * slots on candidates the re-rank can never return, silently
    * costing recall instead of erroring or degrading gracefully.
    * An OPQ artifact rotates BOTH the query and re-rank sides into its
    * space (they must match the codes' space — a mixed-space re-rank
    * scores noise; cosines are rotation-invariant, so rankings equal
    * the original-space ones).
    */
  def search(spark: SparkSession, table: String, corpusVecs: DataFrame,
      queryFilter: Column, k: Int, rerank: Int = 8): DataFrame = {
    val side = toArtifactSpace(spark, table,
      corpusVecs.select("vec_id", "embedding"))
    // tombstone-masked codes: a deleted vector can never enter the ADC
    // shortlist, so it costs no re-rank slot and never surfaces
    Similarity.pqSearchFromCodes(
      loadBooks(spark, table),
      Retire.survivors(spark, table,
        spark.table(codesTable(table)), "vec_id")
        .join(corpusVecs.select("vec_id"), Seq("vec_id"), "left_semi"),
      side.filter(queryFilter),
      side, k, rerank)
  }

  /** Tombstone `ids` (vec_id rows) — deleted vectors vanish from the
    * shortlist immediately; [[compact]] drops their codes physically.
    * Codebooks and rotation stay frozen (corpus statistics — the
    * standing extend contract). See [[Retire]].
    */
  def delete(spark: SparkSession, table: String, ids: DataFrame): Unit =
    Retire.delete(spark, table, ids, "vec_id")

  /** File-granular physical removal from the codes table. */
  def compact(spark: SparkSession, table: String): Unit =
    Retire.compact(spark, table, Seq(codesTable(table) -> "vec_id"))
}
