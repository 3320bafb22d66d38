package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The shared machinery of the tokenizer staleness policy — ONE
  * definition of the baseline round-trip and the usage-distribution
  * fold for [[UnigramStore]] and [[BpeStore]] (two drifting copies of
  * a measurement is exactly the failure mode the pigeonhole-chunks
  * consolidation fixed; this is the string-keyed sibling of
  * [[Staleness.of]]'s (Int, Int)-keyed fold).
  *
  * A baseline is a (key, uses) distribution plus a word-observation
  * total, persisted as the `stats` member of the tokenizer's
  * [[Publish]] version with the total on a NULL-key row (no reserved
  * string a pathological piece/symbol could collide with).
  */
object UsageStats {

  /** `uses` + `totalWords` as the baseline table's rows. */
  def baseline(
      spark: SparkSession, uses: Map[String, Long], totalWords: Long,
      keyCol: String): DataFrame = {
    import spark.implicits._
    (uses.toSeq.map { case (k, v) => (Option(k), v) } :+
        (Option.empty[String] -> totalWords))
      .toDF(keyCol, "uses")
      .coalesce(1)
  }

  /** The saved baseline: (usage distribution, word total). */
  def load(
      spark: SparkSession, table: String): (Map[String, Long], Long) = {
    val rows = spark.table(table)
      .collect().map(r =>
        (if (r.isNullAt(0)) None else Some(r.getString(0))) ->
          r.getLong(1)).toMap
    (rows.collect { case (Some(k), v) => k -> v }, rows.getOrElse(None, 0L))
  }

  /** Fold a build-time and a live usage measurement into the two
    * [[Staleness]] signals: residualGrowth = live fertility
    * (observations per word) over built fertility; occupancySkew = TV
    * distance between the usage distributions. Degenerate inputs are
    * defined, not thrown (an empty side has no drift to measure —
    * the [[Staleness.of]] contract).
    */
  def fold(
      builtUses: Map[String, Long], builtWords: Long,
      nowUses: Map[String, Long], nowWords: Long): Staleness = {
    val builtObs = builtUses.valuesIterator.sum
    val nowObs = nowUses.valuesIterator.sum
    // BUILT-side degenerates (and an empty live corpus) have no drift
    // to measure — the no-drift identity, not a NaN skew / residual
    // (division by zero obs below). A build with words always has obs
    // (merges/pieces apply at least once to their own build corpus),
    // so builtObs == 0 only reaches here on an empty/synthetic build.
    if (builtWords == 0L || nowWords == 0L || builtObs == 0L)
      return Staleness(1.0, 0.0, builtWords, nowWords)
    // live words with ZERO observed merge/piece uses is the MAXIMALLY
    // drifted corpus (nothing in the artifact applies anymore), not a
    // degenerate one: residual 0 (live fertility is exactly zero) and
    // skew 1 (total variation between the built distribution and an
    // all-mass-elsewhere live one), so isStale fires on its skew
    // ceiling and rebuildIfStale retrains — the old identity pinned
    // this state as permanently not-stale.
    if (nowObs == 0L)
      return Staleness(0.0, 1.0, builtWords, nowWords)
    val skew = 0.5 * (builtUses.keySet ++ nowUses.keySet).toSeq.map { k =>
      math.abs(
        builtUses.getOrElse(k, 0L).toDouble / builtObs -
          nowUses.getOrElse(k, 0L).toDouble / nowObs)
    }.sum
    Staleness(
      (nowObs.toDouble / nowWords) /
        math.max(builtObs.toDouble / builtWords, 1e-12),
      skew, builtWords, nowWords)
  }
}
