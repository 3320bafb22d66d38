package graft.jobs

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The nine reference jobs (SURVEY.md §2.12) as declarative Spark plans.
  *
  * Each job is `(SparkSession, ElectionSources, JobConfig) => DataFrame`
  * producing the job's output contract — the reference's global `Results`
  * list-append accumulator (SANEF_Uploader.py:31) disappears into one lazy
  * plan per job ending at a sink. The per-ward N+1 loops
  * (SANEF_Uploader.py:110-124,170-184,466-469) become set-based semi-joins:
  * O(wards) DB round trips → one distributed job.
  *
  * Plan shape: the jobs are small-data plans, so a job's latency is its
  * chain of sequential query stages, not its rows. Each ward job scans its
  * fact once with the three completed-ward sets ([[completedOnly]])
  * broadcast into that scan, and every job then makes ONE shuffle, into
  * the single output partition ([[funnel]]); an aggregation or window
  * over geography-bounded rows runs after that shuffle instead of behind
  * a hash exchange of its own.
  *
  * Output row order: the reference's CSV order comes from pandas groupby's
  * sorted-key iteration (SURVEY §2.7 O3) — every job here ends in a local
  * sort on its output keys inside the funnel's one partition, a total
  * order reproducing it deterministically.
  */
object SanefJobs {

  /** Keep the rows of `df` whose ward `key` is in the configured
    * delimitation and has no unfinished voting district — the 17-line
    * LEFT JOIN … IS NULL at SANEF_Uploader.py:385-401 as two ward sets
    * joined into `df`'s scan: the delimitation's wards
    * (`EE_VotingDistricts`, a broadcast `left_semi`; duplicate wards are
    * harmless to a semi-join, so no `distinct` shuffle) and the
    * UNFINISHED wards, those with a (ward, vd) vote sum of zero (a
    * broadcast `left_anti`).
    *
    * Scale: both sets are bounded by the country's electoral geography
    * (≤ 23,000 VDs), not by the fact they filter, so they broadcast at
    * any fact size. The unfinished set is aggregated in one partition
    * (`coalesce(1)`: no exchange, no query stage of its own) inside its
    * broadcast; its input, the VD display rows of one event, is bounded
    * by the VDs too.
    */
  private def finishedIn(src: ElectionSources, cfg: JobConfig, key: String)(
      df: DataFrame): DataFrame = {
    val delimitation = src.votingDistricts
      .filter(col("pkfklDelimID") === cfg.delimitationId)
      .select(col("fklWardId").as(key))
    val unfinished = src.displayVotingDistricts
      .filter(col("fklEEId") === cfg.electoralEventId)
      .coalesce(1)
      .groupBy("fklWardId", "fklVotingDistrict")
      .agg(sum("lTotalVotesCast").as("VDTotalVotesCast"))
      .filter(col("VDTotalVotesCast") === 0)
      .select(col("fklWardId").as(key))
    df.join(broadcast(delimitation), Seq(key), "left_semi")
      .join(broadcast(unfinished), Seq(key), "left_anti")
  }

  /** Keep the fact rows of a completed ward: the third ward set, the
    * `Wards` dimension (≤ 4,468 wards), as one more broadcast
    * `left_semi` ahead of [[finishedIn]]'s two — the semi-join form of
    * [[completedWards]]' inner join to the dimension. All three sets
    * reach the fact's scan directly; no built `completed` frame sits
    * between them and the fact.
    */
  private def completedOnly(src: ElectionSources, cfg: JobConfig,
      key: String)(fact: DataFrame): DataFrame =
    fact.join(broadcast(src.wards.select(col("WardID").as(key))),
        Seq(key), "left_semi")
      .transform(finishedIn(src, cfg, key))

  /** The completed wards of the configured delimitation with their
    * (ProvinceID, MunicipalityID, WardID) from the `Wards` dimension
    * (the per-row `.loc` lookup at SANEF_Uploader.py:409), in WardID
    * order — a registered query and the IecApi fan-out input. The ward
    * jobs do not read this frame; they apply the same sets to their
    * fact ([[completedOnly]]).
    */
  def completedWards(src: ElectionSources, cfg: JobConfig): DataFrame =
    src.wards
      .transform(finishedIn(src, cfg, "WardID"))
      .select("ProvinceID", "MunicipalityID", "WardID")
      .transform(funnel)
      .sortWithinPartitions("WardID")

  /** The jobs' single output partition: one shuffle into one partition,
    * after which a job aggregates, windows and sorts locally. A local
    * sort there gives the same total order and CSV bytes as a global
    * `orderBy`, without its range-partitioner sampling job; the single
    * task is the one `CsvSink`'s `coalesce(1)` already implies.
    * Upstream stages stay parallel: the funnel sits behind the shuffle,
    * not a `coalesce` that would collapse them too.
    *
    * Scale-safe because every funnel input, like every broadcast ward
    * set, is bounded by the country's electoral geography, not by the
    * size of any input fixture: ≤ 4,468 wards, ≤ 23,000 VDs, 257 munis,
    * council rows ≤ munis × parties, and ward facts ≤ wards × parties or
    * candidates — the same bound `CsvSink`'s single file already
    * assumes. So an aggregation or window over them costs less in the
    * one partition than its own hash exchange and stage would.
    */
  private def funnel(df: DataFrame): DataFrame = df.repartition(1)

  /** Province decode dim (JobConfig.provinceCodes as a broadcast frame —
    * the reference's thrice-repeated inline dict, SANEF_Uploader.py:226).
    */
  private def provinceDim(spark: SparkSession): DataFrame = {
    import spark.implicits._
    JobConfig.provinceCodes.toSeq.toDF("ProvinceIDStr", "ProvinceCode")
  }

  /** munis ⋈ councilWinners ⋈ province-decode — the shared prefix of the
    * three council jobs (the reference re-derives it at :223-226, :278-281,
    * :344-348; here it is one function, cacheable by the caller).
    */
  private def councilsWithProvince(
      spark: SparkSession, src: ElectionSources, winners: DataFrame)
      : DataFrame =
    broadcast(src.munis)
      .join(winners, col("MunicipalityID") === col("fklMunicipalityID"))
      .withColumn("ProvinceIDStr", col("ProvinceID").cast(StringType))
      .join(broadcast(provinceDim(spark)), Seq("ProvinceIDStr"))

  // =====================================================================
  // 1. ward_votes_by_party (dataset 1378, SANEF_Uploader.py:74-85,427-444)
  // =====================================================================
  def wardVotesByParty(
      spark: SparkSession, src: ElectionSources, cfg: JobConfig): DataFrame = {
    src.ballotResultsJson
      .select(from_json(col("body"), ElectionSchemas.ballotResults).as("r"))
      .select(col("r.WardID").as("WardID"),
        explode(col("r.PartyBallotResults")).as("p"))
      .transform(completedOnly(src, cfg, "WardID"))
      .select(
        col("WardID").as("Geography"),
        col("p.Name").as("Party"),
        col("p.TotalValidVotes").as("Count"))
      .transform(funnel)
      .sortWithinPartitions("Geography", "Party")
  }

  // =====================================================================
  // 2. voter_turnout (dataset 1386, SANEF_Uploader.py:450-495)
  //
  // The reference's per-ward SQL groups by (ward, lRegisteredVoters) then
  // sums the grouped frame's registered column — i.e. tvoters is the sum
  // of DISTINCT registered-voter values per ward, and tvotes the sum of
  // every turnout value. One aggregation per ward computes both, inside
  // the funnel's partition; the N+1 loop collapses to one job.
  // =====================================================================
  def voterTurnout(
      spark: SparkSession, src: ElectionSources, cfg: JobConfig): DataFrame =
    src.vdStats
      .filter(col("pkfklEEID") === cfg.electoralEventId)
      .transform(completedOnly(src, cfg, "fklWardID"))
      .transform(funnel)
      .groupBy("fklWardID")
      .agg(sum_distinct(col("lRegisteredVoters")).as("tvoters"),
        sum("lVoterTurnout").as("tvotes"))
      .select(col("fklWardID"), expr(
        "stack(2, 'Voted', tvotes, 'Didn''t Vote', tvoters - tvotes)")
        .as(Seq("Voter Turnout", "Count")))
      .select(col("fklWardID").as("Geography"),
        col("Voter Turnout"), col("Count"))
      .sortWithinPartitions(col("Geography"),
        col("Voter Turnout").desc) // Voted first

  // =====================================================================
  // 3. ward_votes_by_candidate (dataset 1379, SANEF_Uploader.py:94-124)
  // =====================================================================
  def wardVotesByCandidate(
      spark: SparkSession, src: ElectionSources, cfg: JobConfig): DataFrame = {
    src.wardCandidates
      .filter(col("fklEEId") === cfg.electoralEventId)
      .transform(completedOnly(src, cfg, "fklWardId"))
      .select(
        col("sWardGeography").as("Geography"),
        concat_ws(" - ", col("sPartyAbbr"), col("sCandidateName"))
          .as("Party"),
        col("lCount").as("Count"))
      .transform(funnel)
      .sortWithinPartitions("Geography", "Party")
  }

  // =====================================================================
  // 4. ward_councillor_elected (dataset 1382, SANEF_Uploader.py:133-148)
  //
  // The reference appends a councillor only if their WardID appears in no
  // previously-accumulated value (first-wins, arrival order). Contract
  // (SURVEY §2.4 A8): dedup by Geography keeping the first element in
  // payload order — posexplode supplies that order; row_number picks the
  // winner deterministically, inside the funnel's partition.
  // =====================================================================
  def wardCouncillorElected(
      spark: SparkSession, src: ElectionSources, cfg: JobConfig): DataFrame = {
    val w = Window.partitionBy(col("c.WardID")).orderBy(col("pos"))
    src.councilorsJson
      .select(posexplode(from_json(col("body"), ElectionSchemas.councilors))
        .as(Seq("pos", "c")))
      .transform(funnel)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(
        col("c.WardID").as("Geography"),
        concat_ws(" - ", col("c.Name"), col("c.PartyName")).as("Contents"))
      .sortWithinPartitions("Geography")
  }

  // =====================================================================
  // 5. pr_votes_by_party (dataset 1380, SANEF_Uploader.py:155-184)
  // =====================================================================
  def prVotesByParty(
      spark: SparkSession, src: ElectionSources, cfg: JobConfig): DataFrame = {
    src.displayWard
      .filter(col("fklEEId") === cfg.electoralEventId)
      .transform(completedOnly(src, cfg, "fklWardId"))
      .select(
        col("sWardGeography").as("Geography"),
        col("sPartyName").as("Party"),
        col("lCount").as("Count"))
      .transform(funnel)
      .sortWithinPartitions("Geography", "Party")
  }

  // =====================================================================
  // 6. hung_councils (dataset 1384, SANEF_Uploader.py:192-248)
  //
  // The reference's agg+agg+series-merge (:228-231) is one multi-aggregate
  // groupBy here; the two-rows-per-province iterrows loop (:233-248) is a
  // stack() unpivot. 'Hung' sorts before 'Outright Majority', matching the
  // reference's emit order per province.
  // =====================================================================
  def hungCouncils(
      spark: SparkSession, src: ElectionSources, cfg: JobConfig): DataFrame = {
    val winners = src.councilWinners
      .filter(col("fklEEID") === cfg.electoralEventId)
    councilsWithProvince(spark, src, winners)
      .transform(funnel)
      .groupBy("ProvinceCode")
      .agg(sum("bHung").as("hung"), count("bHung").as("total"))
      .select(col("ProvinceCode"), expr(
        "stack(2, 'Hung', hung, 'Outright Majority', total - hung)")
        .as(Seq("Councils", "Count")))
      .select(col("ProvinceCode").as("Geography"),
        col("Councils"), col("Count"))
      .sortWithinPartitions("Geography", "Councils")
  }

  // =====================================================================
  // 7. councils_won_by_party (dataset 1385, SANEF_Uploader.py:306-360)
  // =====================================================================
  def councilsWonByParty(
      spark: SparkSession, src: ElectionSources, cfg: JobConfig): DataFrame = {
    val winners = src.councilWinners
      .filter(col("bHung") === 0 &&
        col("fklEEID") === cfg.electoralEventId)
    councilsWithProvince(spark, src, winners)
      .join(broadcast(src.parties), col("fklPartyID") === col("pklPartyID"))
      .transform(funnel)
      .groupBy("ProvinceCode", "sPartyName")
      .agg(count("sPartyName").as("Count"))
      .select(col("ProvinceCode").as("Geography"),
        col("sPartyName").as("Party"), col("Count"))
      .sortWithinPartitions("Geography", "Party")
  }

  // =====================================================================
  // 8. list_of_hung_councils (dataset 1424, SANEF_Uploader.py:255-299)
  //
  // The iterrows HTML string loop (:288-292) becomes sorted collect_list +
  // concat_ws — one distributed aggregation, exact byte format preserved
  // (including the reference's trailing ' </a> </li>' spacing).
  // =====================================================================
  def listOfHungCouncils(
      spark: SparkSession, src: ElectionSources, cfg: JobConfig): DataFrame = {
    val winners = src.councilWinners
      .filter(col("bHung") === 1 &&
        col("fklEEID") === cfg.electoralEventId)
    val li = concat(
      lit("<li><a href = https://sanef-local-gov.openup.org.za/#geo:"),
      col("Municipality"), lit(">"), col("Municipality"), lit(" - "),
      col("MunicipalityName"), lit(" </a> </li>"))
    councilsWithProvince(spark, src, winners)
      .withColumn("li", li)
      .transform(funnel)
      .groupBy("ProvinceCode")
      .agg(concat(lit("<ul>"),
        array_join(array_sort(collect_list(col("li"))), ""),
        lit("</ul>")).as("Contents"))
      .select(col("ProvinceCode").as("Geography"), col("Contents"))
      .sortWithinPartitions("Geography")
  }

  // =====================================================================
  // 9. seats_won (dataset 1383, SANEF_Uploader.py:559-602)
  //
  // The per-row munis_df .loc lookup (:580) is a broadcast inner join —
  // which also reproduces the reference quirk of silently dropping munis
  // absent from Munis.csv (the .loc IndexError is swallowed at :377-379).
  // =====================================================================
  def seatsWon(
      spark: SparkSession, src: ElectionSources, cfg: JobConfig): DataFrame = {
    val parsed = src.seatResultsJson
      .select(from_json(col("body"), ElectionSchemas.seatResults).as("r"))
      .filter(col("r").isNotNull)  // the `if muni is not None` guard (:577)
      .select(col("r.MunicipalityID").as("MunicipalityID"),
        explode(col("r.PartyResults")).as("p"))
    parsed
      .join(broadcast(src.munis.select("MunicipalityID", "Municipality")),
        Seq("MunicipalityID"))
      .select(col("Municipality"), col("p.Name").as("Party Name"),
        col("p.WardSeats").as("WardSeats"), col("p.PRSeats").as("PRSeats"))
      .select(col("Municipality"), col("Party Name"), expr(
        "stack(2, 'Ward', WardSeats, 'PR', PRSeats)")
        .as(Seq("Seat Type", "Count")))
      .select(col("Municipality").as("Geography"), col("Party Name"),
        col("Seat Type"), col("Count"))
      .transform(funnel)
      .sortWithinPartitions(
        col("Geography"), col("Party Name"), col("Seat Type").desc)
  }

  // =====================================================================
  // Job registry + reset frames (R5 — the placeholder row each job's
  // reset branch emits; ragged key spellings preserved faithfully, e.g.
  // councils_won_by_party resets with 'Party Name' though its normal
  // output uses 'Party' — SANEF_Uploader.py:314 vs :357).
  // =====================================================================
  final case class JobSpec(
      name: String,
      datasetId: Int,
      run: (SparkSession, ElectionSources, JobConfig) => DataFrame,
      resetColumns: Seq[String],
      resetRow: Seq[Any])

  val all: Seq[JobSpec] = Seq(
    JobSpec("ward_votes_by_party", 1378, wardVotesByParty,
      Seq("Geography", "Party", "Count"), Seq("None", "-", 0L)),
    JobSpec("voter_turnout", 1386, voterTurnout,
      Seq("Geography", "Voter Turnout", "Count"), Seq("None", "-", 0L)),
    JobSpec("ward_votes_by_candidate", 1379, wardVotesByCandidate,
      Seq("Geography", "Party", "Count"), Seq("None", "-", 0L)),
    JobSpec("ward_councillor_elected", 1382, wardCouncillorElected,
      Seq("Geography", "Contents"), Seq("None", "-")),
    JobSpec("pr_votes_by_party", 1380, prVotesByParty,
      Seq("Geography", "Party", "Count"), Seq("None", "-", 0L)),
    JobSpec("hung_councils", 1384, hungCouncils,
      Seq("Geography", "Councils", "Count"), Seq("None", "-", 0L)),
    JobSpec("councils_won_by_party", 1385, councilsWonByParty,
      Seq("Geography", "Party Name", "Count"), Seq("None", "-", 0L)),
    JobSpec("list_of_hung_councils", 1424, listOfHungCouncils,
      Seq("Geography", "Contents"), Seq("None", "-")),
    JobSpec("seats_won", 1383, seatsWon,
      Seq("Geography", "Party Name", "Seat Type", "Count"),
      Seq("None", "-", "Ward", 0L)))

  /** The reset branch's literal single-row frame (SURVEY §2.5 R5). */
  def resetFrame(spark: SparkSession, spec: JobSpec): DataFrame = {
    val fields = spec.resetRow.map {
      case _: String => StringType
      case _: Long => LongType
      case _ => StringType
    }
    val schema = StructType(spec.resetColumns.zip(fields).map {
      case (n, t) => StructField(n, t)
    })
    spark.createDataFrame(
      java.util.List.of(Row.fromSeq(spec.resetRow)), schema)
  }

  /** Run a job by name, honoring the reset flag — the engine's equivalent
    * of the reference's argv dispatch (SANEF_Uploader.py:420-602).
    */
  def run(
      spark: SparkSession, src: ElectionSources, name: String,
      cfg: JobConfig = JobConfig(), reset: Boolean = false): DataFrame = {
    val spec = all.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"unknown job: $name"))
    if (reset) resetFrame(spark, spec) else spec.run(spark, src, cfg)
  }
}
