package graft.jobs

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
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
  * Output row order: the reference's CSV order comes from pandas groupby's
  * sorted-key iteration (SURVEY §2.7 O3) — every job here ends in
  * `sortedSingle`, a total sort inside one partition reproducing it
  * deterministically.
  */
object SanefJobs {

  /** Reusable anti-join spine (SURVEY §7.2 step 2): wards of the configured
    * delimitation having NO voting district with zero total votes cast —
    * the 17-line LEFT JOIN … IS NULL at SANEF_Uploader.py:385-401 as a
    * left_anti join, then a broadcast join back to the Wards dimension to
    * recover (ProvinceID, MunicipalityID, WardID) (the per-row `.loc`
    * lookup at :409).
    *
    * Scale note: `unfinished` aggregates the big display-VD fact on
    * (ward, vd) with partial aggregation before the anti-join shuffle; the
    * 4,468-row wards dim is broadcast, so the only wide exchange is on
    * fklWardId.
    */
  def completedWards(src: ElectionSources, cfg: JobConfig): DataFrame = {
    val unfinished = src.displayVotingDistricts
      .filter(col("fklEEId") === cfg.electoralEventId)
      .groupBy("fklWardId", "fklVotingDistrict")
      .agg(sum("lTotalVotesCast").as("VDTotalVotesCast"))
      .filter(col("VDTotalVotesCast") === 0)
      .select("fklWardId")
    src.votingDistricts
      .filter(col("pkfklDelimID") === cfg.delimitationId)
      .select("fklWardId")
      .distinct()
      .join(unfinished, Seq("fklWardId"), "left_anti")
      .join(broadcast(src.wards), col("fklWardId") === col("WardID"))
      .select("ProvinceID", "MunicipalityID", "WardID")
      // its own output order (a registered query and the IecApi fan-out
      // input); under the ward jobs' semi-joins EliminateSorts drops it
      .orderBy("WardID")
  }

  /** The jobs' ordered tail: one shuffle into a single partition, then a
    * local sort on the output keys. Same total order and CSV bytes
    * as a global `orderBy`, without its range-partitioner sampling job;
    * the single task is the one `CsvSink`'s `coalesce(1)` already implies,
    * and every job's output is bounded by its dimensions (wards × parties,
    * munis × parties). Upstream stages stay parallel: the funnel sits
    * behind the shuffle, not a `coalesce` that would collapse them too.
    */
  private def sortedSingle(keys: Column*)(df: DataFrame): DataFrame =
    df.repartition(1).sortWithinPartitions(keys: _*)

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
    val completed = completedWards(src, cfg).select("WardID")
    src.ballotResultsJson
      .select(from_json(col("body"), ElectionSchemas.ballotResults).as("r"))
      .select(col("r.WardID").as("WardID"),
        explode(col("r.PartyBallotResults")).as("p"))
      .join(completed, Seq("WardID"), "left_semi")
      .select(
        col("WardID").as("Geography"),
        col("p.Name").as("Party"),
        col("p.TotalValidVotes").as("Count"))
      .transform(sortedSingle(col("Geography"), col("Party")))
  }

  // =====================================================================
  // 2. voter_turnout (dataset 1386, SANEF_Uploader.py:450-495)
  //
  // The reference's per-ward SQL groups by (ward, lRegisteredVoters) then
  // sums the grouped frame's registered column — i.e. tvoters is the sum
  // of DISTINCT registered-voter values per ward. Reproduced exactly by
  // the two-level aggregation; the N+1 loop collapses to one job.
  // =====================================================================
  def voterTurnout(
      spark: SparkSession, src: ElectionSources, cfg: JobConfig): DataFrame = {
    val completed = completedWards(src, cfg)
      .select(col("WardID").as("fklWardID"))
    val perWard = src.vdStats
      .filter(col("pkfklEEID") === cfg.electoralEventId)
      .join(completed, Seq("fklWardID"), "left_semi")
      .groupBy("fklWardID", "lRegisteredVoters")
      .agg(sum("lVoterTurnout").as("votes"))
      .groupBy("fklWardID")
      .agg(sum("lRegisteredVoters").as("tvoters"), sum("votes").as("tvotes"))
    perWard
      .select(col("fklWardID"), expr(
        "stack(2, 'Voted', tvotes, 'Didn''t Vote', tvoters - tvotes)")
        .as(Seq("Voter Turnout", "Count")))
      .select(col("fklWardID").as("Geography"),
        col("Voter Turnout"), col("Count"))
      .transform(sortedSingle(
        col("Geography"), col("Voter Turnout").desc)) // Voted first
  }

  // =====================================================================
  // 3. ward_votes_by_candidate (dataset 1379, SANEF_Uploader.py:94-124)
  // =====================================================================
  def wardVotesByCandidate(
      spark: SparkSession, src: ElectionSources, cfg: JobConfig): DataFrame = {
    val completed = completedWards(src, cfg)
      .select(col("WardID").as("fklWardId"))
    src.wardCandidates
      .filter(col("fklEEId") === cfg.electoralEventId)
      .join(completed, Seq("fklWardId"), "left_semi")
      .select(
        col("sWardGeography").as("Geography"),
        concat_ws(" - ", col("sPartyAbbr"), col("sCandidateName"))
          .as("Party"),
        col("lCount").as("Count"))
      .transform(sortedSingle(col("Geography"), col("Party")))
  }

  // =====================================================================
  // 4. ward_councillor_elected (dataset 1382, SANEF_Uploader.py:133-148)
  //
  // The reference appends a councillor only if their WardID appears in no
  // previously-accumulated value (first-wins, arrival order). Contract
  // (SURVEY §2.4 A8): dedup by Geography keeping the first element in
  // payload order — posexplode supplies that order; row_number picks the
  // winner deterministically.
  // =====================================================================
  def wardCouncillorElected(
      spark: SparkSession, src: ElectionSources, cfg: JobConfig): DataFrame = {
    val exploded = src.councilorsJson
      .select(posexplode(from_json(col("body"), ElectionSchemas.councilors))
        .as(Seq("pos", "c")))
    val w = Window.partitionBy(col("c.WardID")).orderBy(col("pos"))
    exploded
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(
        col("c.WardID").as("Geography"),
        concat_ws(" - ", col("c.Name"), col("c.PartyName")).as("Contents"))
      .transform(sortedSingle(col("Geography")))
  }

  // =====================================================================
  // 5. pr_votes_by_party (dataset 1380, SANEF_Uploader.py:155-184)
  // =====================================================================
  def prVotesByParty(
      spark: SparkSession, src: ElectionSources, cfg: JobConfig): DataFrame = {
    val completed = completedWards(src, cfg)
      .select(col("WardID").as("fklWardId"))
    src.displayWard
      .filter(col("fklEEId") === cfg.electoralEventId)
      .join(completed, Seq("fklWardId"), "left_semi")
      .select(
        col("sWardGeography").as("Geography"),
        col("sPartyName").as("Party"),
        col("lCount").as("Count"))
      .transform(sortedSingle(col("Geography"), col("Party")))
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
      .groupBy("ProvinceCode")
      .agg(sum("bHung").as("hung"), count("bHung").as("total"))
      .select(col("ProvinceCode"), expr(
        "stack(2, 'Hung', hung, 'Outright Majority', total - hung)")
        .as(Seq("Councils", "Count")))
      .select(col("ProvinceCode").as("Geography"),
        col("Councils"), col("Count"))
      .transform(sortedSingle(col("Geography"), col("Councils")))
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
      .groupBy("ProvinceCode", "sPartyName")
      .agg(count("sPartyName").as("Count"))
      .select(col("ProvinceCode").as("Geography"),
        col("sPartyName").as("Party"), col("Count"))
      .transform(sortedSingle(col("Geography"), col("Party")))
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
      .groupBy("ProvinceCode")
      .agg(concat(lit("<ul>"),
        array_join(array_sort(collect_list(col("li"))), ""),
        lit("</ul>")).as("Contents"))
      .select(col("ProvinceCode").as("Geography"), col("Contents"))
      .transform(sortedSingle(col("Geography")))
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
      .transform(sortedSingle(
        col("Geography"), col("Party Name"), col("Seat Type").desc))
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
