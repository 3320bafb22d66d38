package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Persisted perceptual-fingerprint index, written once for both media
  * modalities — the clip-level members of the incremental-admission
  * family beside [[ShingleIndexStore]] (text) and [[IvfIndexStore]]
  * (embeddings). The corpus is decoded and fingerprinted ONCE (the
  * expensive per-clip decode), the fingerprint table persists as one
  * [[Publish]] version, and each arriving batch fingerprints ONLY
  * itself, probes the saved (surviving) fingerprints by Hamming
  * banding — pigeonhole-complete, exact verify — and appends exactly
  * the admitted rows. Admitted rows MATERIALIZE before the append so
  * admission never races its own write; undecodable payloads drop at
  * fingerprint time like every fingerprint consumer. Retirement rides
  * [[Retire]] on the doc key, which masks all of a clip's rows at once.
  *
  * A store supplies only its fingerprint function and its matcher.
  * Scale shape: the index side is a few longs per clip; banding keeps
  * the probe at bucket volume, never batch × index; the batch's decode
  * cost is batch-bounded.
  */
private[graft] abstract class FingerprintIndexStore {

  /** The gate shared with the store's in-plan pair queries: near-dup
    * copies land within it (spec-pinned), distinct clips far outside.
    */
  val Radius = 4

  /** Fingerprint rows (doc_id, …, simhash) of a (doc_id, payload) clips
    * frame — ONE definition shared by build, admission and the in-plan
    * pair queries, so the pipeline cannot drift between them.
    */
  def fingerprints(clips: DataFrame): DataFrame

  /** (batch_id, …) near-dup rows of `fps` against the `index` rows. */
  protected def matches(fps: DataFrame, index: DataFrame,
      maxHamming: Int): DataFrame

  def build(clips: DataFrame, table: String, path: String): Unit =
    buildFromFingerprints(fingerprints(clips), table, path)

  /** Build from ALREADY-FINGERPRINTED rows — for callers that share one
    * corpus fingerprint pass across consumers (the memoized pair-query
    * families).
    */
  def buildFromFingerprints(
      fps: DataFrame, table: String, path: String): Unit =
    Publish.version(fps.sparkSession, path, Seq(table -> "fingerprints"))(
      _.save(fps, table))

  /** Tombstone `ids` (doc_id rows) — deleted clips stop matching (and
    * stop blocking admission) immediately; [[compact]] drops their rows
    * physically. See [[Retire]].
    */
  def delete(spark: SparkSession, table: String, ids: DataFrame): Unit =
    Retire.delete(spark, table, ids, "doc_id")

  /** File-granular physical removal of tombstoned clips' rows. */
  def compact(spark: SparkSession, table: String): Unit =
    Retire.compact(spark, table, Seq(table -> "doc_id"))

  /** Doc_ids of fingerprinted batch clips with a near-dup among the
    * saved (surviving) fingerprints — the probe shared by
    * [[admitAndExtend]] and the streaming admission gate
    * ([[graft.streaming.DocStreams.admitByFingerprint]]).
    */
  def matchFingerprints(fps: DataFrame, table: String,
      maxHamming: Int = Radius): DataFrame = {
    val spark = fps.sparkSession
    matches(fps,
      Retire.survivors(spark, table, spark.table(table), "doc_id"),
      maxHamming)
      .select(col("batch_id").as("doc_id")).distinct()
  }

  /** Admit the batch clips with NO near-dup in the saved index, fold
    * exactly their rows in, and return them. Batch-internal duplicates
    * are admitted together (the family's admission contract: the index
    * is the authority, the batch is one ingest unit).
    */
  def admitAndExtend(batch: DataFrame, table: String,
      maxHamming: Int = Radius): DataFrame = {
    val fps = fingerprints(batch).localCheckpoint(true)
    val admitted = fps
      .join(matchFingerprints(fps, table, maxHamming), Seq("doc_id"),
        "left_anti")
      .localCheckpoint(true) // materialize BEFORE the append below
    Publish.append(admitted, table)
    admitted
  }
}

/** AUDIO clips: one (doc_id, simhash) row per clip
  * ([[graft.functions.AHash64]] — the per-clip Goertzel pass), probed
  * by cross-frame Hamming banding ([[Dedup.hammingMatch]]).
  */
object AhashIndexStore extends FingerprintIndexStore {
  def fingerprints(clips: DataFrame): DataFrame =
    clips.select(col("doc_id"),
      graft.functions.AHash64.fp(clips.sparkSession, col("payload"))
        .as("simhash"))
      .filter(col("simhash") =!=
        lit(graft.functions.AHash64.Undecodable))

  protected def matches(fps: DataFrame, index: DataFrame,
      maxHamming: Int): DataFrame =
    Dedup.hammingMatch(fps, index, maxHamming)
}

/** VIDEO clips: ≤ 8 (doc_id, j, simhash) per-frame rows per clip
  * ([[graft.functions.VHashFrames]] — the AVI DIB decode + per-frame
  * DCT hashes), probed by frame-aligned banding with the exact
  * lower-median verify ([[Dedup.vhashMatch]]; re-encoded
  * brightness-shifted copies stay within ≤ 4 bits per frame).
  */
object VhashIndexStore extends FingerprintIndexStore {
  def fingerprints(clips: DataFrame): DataFrame =
    clips.select(col("doc_id"),
      graft.functions.VHashFrames.fps(clips.sparkSession, col("payload"))
        .as("fps"))
      .filter(col("fps").isNotNull)
      .select(col("doc_id"),
        posexplode(col("fps")).as(Seq("j", "simhash")))

  protected def matches(fps: DataFrame, index: DataFrame,
      maxHamming: Int): DataFrame =
    Dedup.vhashMatch(fps, index, maxHamming)
}
