package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** The reference's eleven inputs behind one interface (SURVEY.md §7.1), so
  * jobs are pure `DataFrame => DataFrame` transforms and tests substitute
  * parquet/in-memory fixtures for the JDBC tables and IEC REST payloads.
  *
  * Schemas are explicit `StructType`s — the reference's positional `row[9]`
  * access (SANEF_Uploader.py:120-123,180-183) becomes named, compile-visible
  * columns (FIXTURES.md §B2 maps position → name).
  */
trait ElectionSources {
  /** delimitations/Wards.csv — ProvinceID, MunicipalityID, WardID. */
  def wards: DataFrame
  /** delimitations/Munis.csv — ProvinceID, MunicipalityID, Municipality,
    * MunicipalityName, MunicTypeID. */
  def munis: DataFrame
  /** LED_GIS_CouncilWinners (SANEF_Uploader.py:219 column list). */
  def councilWinners: DataFrame
  /** PCR_Party (SANEF_Uploader.py:325 column list). */
  def parties: DataFrame
  /** EE_VotingDistricts (SANEF_Uploader.py:386,398). */
  def votingDistricts: DataFrame
  /** LED_GIS_Display_VotingDistrict (SANEF_Uploader.py:389-393). */
  def displayVotingDistricts: DataFrame
  /** Fact_LGE_Master_VDStats (SANEF_Uploader.py:468). */
  def vdStats: DataFrame
  /** LED_GIS_Display_Ward (SANEF_Uploader.py:172,180-183). */
  def displayWard: DataFrame
  /** LED_GIS_Display_Ward_WardCandidates (SANEF_Uploader.py:112,120-123). */
  def wardCandidates: DataFrame
  /** LGEBallotResults payloads, one JSON document per ward
    * (SANEF_Uploader.py:443; shape at :78-84). Column: `body string`. */
  def ballotResultsJson: DataFrame
  /** CouncilorsByEvent payloads, one JSON array per province
    * (SANEF_Uploader.py:520; shape at :137-141). Column: `body string`. */
  def councilorsJson: DataFrame
  /** LGESeatCalculationResults payloads, one JSON document per muni
    * (SANEF_Uploader.py:573; shape at :576-596). Column: `body string`. */
  def seatResultsJson: DataFrame
}

object ElectionSchemas {
  val wards: StructType = StructType(Seq(
    StructField("ProvinceID", IntegerType),
    StructField("MunicipalityID", IntegerType),
    StructField("WardID", LongType)))

  val munis: StructType = StructType(Seq(
    StructField("ProvinceID", IntegerType),
    StructField("MunicipalityID", IntegerType),
    StructField("Municipality", StringType),
    StructField("MunicipalityName", StringType),
    StructField("MunicTypeID", IntegerType)))

  val councilWinners: StructType = StructType(Seq(
    StructField("pklCouncilWinnerID", LongType),
    StructField("fklEEID", IntegerType),
    StructField("fklMunicipalityID", IntegerType),
    StructField("fklPartyID", IntegerType),
    StructField("fklLeadingPartyID", IntegerType),
    StructField("fklMajorityPartyID", IntegerType),
    StructField("lCouncilSeatsAvailable", IntegerType),
    StructField("lTotalPartySeatsWon", IntegerType),
    StructField("bDraw", IntegerType),
    StructField("bHung", IntegerType)))

  val parties: StructType = StructType(Seq(
    StructField("pklPartyID", IntegerType),
    StructField("sPartyName", StringType),
    StructField("sPartyAbbr", StringType)))

  val votingDistricts: StructType = StructType(Seq(
    StructField("fklWardId", LongType),
    StructField("pkfklDelimID", IntegerType)))

  val displayVotingDistricts: StructType = StructType(Seq(
    StructField("fklWardId", LongType),
    StructField("fklVotingDistrict", LongType),
    StructField("lTotalVotesCast", LongType),
    StructField("fklEEId", IntegerType)))

  val vdStats: StructType = StructType(Seq(
    StructField("fklWardID", LongType),
    StructField("lRegisteredVoters", LongType),
    StructField("lVoterTurnout", LongType),
    StructField("pkfklEEID", IntegerType)))

  /** 11 positions; named per the positional access in the reference:
    * row[3]=geography, row[5]=party, row[10]=count
    * (SANEF_Uploader.py:180-183). Unused positions padded.
    */
  val displayWard: StructType = StructType(Seq(
    StructField("pklDisplayWardID", LongType),        // 0
    StructField("fklEEId", IntegerType),              // 1
    StructField("fklWardId", LongType),               // 2
    StructField("sWardGeography", StringType),        // 3
    StructField("fklPartyID", IntegerType),           // 4
    StructField("sPartyName", StringType),            // 5
    StructField("sPartyAbbr", StringType),            // 6
    StructField("lRegisteredVoters", LongType),       // 7
    StructField("lTotalVotesCast", LongType),         // 8
    StructField("sCandidateName", StringType),        // 9 (unused here)
    StructField("lCount", LongType)))                 // 10

  /** row[3]=geography, row[5]=candidate name, row[9]=party abbr,
    * row[10]=count (SANEF_Uploader.py:120-123).
    */
  val wardCandidates: StructType = StructType(Seq(
    StructField("pklWardCandidateID", LongType),      // 0
    StructField("fklEEId", IntegerType),              // 1
    StructField("fklWardId", LongType),               // 2
    StructField("sWardGeography", StringType),        // 3
    StructField("fklPartyID", IntegerType),           // 4
    StructField("sCandidateName", StringType),        // 5
    StructField("fklCandidateID", LongType),          // 6
    StructField("lBallotOrder", IntegerType),         // 7
    StructField("sPartyName", StringType),            // 8
    StructField("sPartyAbbr", StringType),            // 9
    StructField("lCount", LongType)))                 // 10

  /** IEC payload shapes (FIXTURES.md §B3). */
  val ballotResults: StructType = StructType(Seq(
    StructField("WardID", LongType),
    StructField("PartyBallotResults", ArrayType(StructType(Seq(
      StructField("Name", StringType),
      StructField("TotalValidVotes", LongType)))))))

  val councilors: ArrayType = ArrayType(StructType(Seq(
    StructField("WardID", LongType),
    StructField("Name", StringType),
    StructField("PartyName", StringType))))

  val seatResults: StructType = StructType(Seq(
    StructField("MunicipalityID", IntegerType),
    StructField("PartyResults", ArrayType(StructType(Seq(
      StructField("Name", StringType),
      StructField("WardSeats", IntegerType),
      StructField("PRSeats", IntegerType)))))))

  /** The stored form of every IEC payload table: one JSON document per
    * row, exactly what the HTTP fetch stage produces.
    */
  val payload: StructType = StructType(Seq(StructField("body", StringType)))
}

/** JDBC-backed sources — the production mapping of the reference's SQL
  * Server reads (SURVEY.md §2.1 S2-S4: `SELECT * FROM <table>` cursors
  * become `spark.read.jdbc` table scans; Catalyst pushes job filters like
  * `fklEEId = 1091` down to the database, replacing the reference's
  * hand-concatenated WHERE strings — which were also SQL-injection-prone,
  * SURVEY §4.1). Dimension CSVs still come from `csvDir`.
  *
  * Untestable in this environment (no database; zero egress) — kept
  * thin and config-only so FileElectionSources remains the tested path;
  * both share every downstream job plan.
  */
final class JdbcElectionSources(
    spark: SparkSession, url: String, props: java.util.Properties,
    csvDir: String) extends ElectionSources {
  import ElectionSchemas._
  private def jdbc(table: String): DataFrame =
    spark.read.jdbc(url, table, props)
  private def csv(name: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema)
      .csv(s"$csvDir/$name.csv")
  def wards: DataFrame = csv("Wards", ElectionSchemas.wards)
  def munis: DataFrame = csv("Munis", ElectionSchemas.munis)
  def councilWinners: DataFrame = jdbc("LED_GIS_CouncilWinners")
  def parties: DataFrame = jdbc("PCR_Party")
  def votingDistricts: DataFrame = jdbc("EE_VotingDistricts")
  def displayVotingDistricts: DataFrame =
    jdbc("LED_GIS_Display_VotingDistrict")
  def vdStats: DataFrame = jdbc("Fact_LGE_Master_VDStats")
  def displayWard: DataFrame = jdbc("LED_GIS_Display_Ward")
  def wardCandidates: DataFrame = jdbc("LED_GIS_Display_Ward_WardCandidates")
  // API payloads come from the HTTP fetch stage, not the database;
  // JobRunner composes this class under HttpElectionSources, which
  // provides the three json frames via the IEC fan-out (IecApi.scala).
  // These throw only if the class is used bare, un-composed.
  def ballotResultsJson: DataFrame =
    throw new UnsupportedOperationException(
      "wrap in HttpElectionSources (JobRunner does) for the API-fed frames")
  def councilorsJson: DataFrame = ballotResultsJson
  def seatResultsJson: DataFrame = ballotResultsJson
}

/** Parquet/CSV-backed sources for production-shaped runs: dimension CSVs
  * and parquet fact tables, every one read with its declared
  * `ElectionSchemas` entry (no inference in production paths, SURVEY §1.3
  * — so building a frame launches no Spark job, and a file whose column
  * types drifted fails at the scan instead of flowing through); JSON
  * payload tables as one `body` string per document, exactly what the
  * HTTP fetch stage produces.
  */
final class FileElectionSources(spark: SparkSession, dir: String)
    extends ElectionSources {
  private def csv(name: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(s"$dir/$name.csv")
  private def pq(name: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(s"$dir/$name.parquet")
  def wards: DataFrame = csv("Wards", ElectionSchemas.wards)
  def munis: DataFrame = csv("Munis", ElectionSchemas.munis)
  def councilWinners: DataFrame =
    pq("LED_GIS_CouncilWinners", ElectionSchemas.councilWinners)
  def parties: DataFrame = pq("PCR_Party", ElectionSchemas.parties)
  def votingDistricts: DataFrame =
    pq("EE_VotingDistricts", ElectionSchemas.votingDistricts)
  def displayVotingDistricts: DataFrame =
    pq("LED_GIS_Display_VotingDistrict",
      ElectionSchemas.displayVotingDistricts)
  def vdStats: DataFrame = pq("Fact_LGE_Master_VDStats", ElectionSchemas.vdStats)
  def displayWard: DataFrame =
    pq("LED_GIS_Display_Ward", ElectionSchemas.displayWard)
  def wardCandidates: DataFrame =
    pq("LED_GIS_Display_Ward_WardCandidates", ElectionSchemas.wardCandidates)
  def ballotResultsJson: DataFrame =
    pq("LGEBallotResults", ElectionSchemas.payload)
  def councilorsJson: DataFrame =
    pq("CouncilorsByEvent", ElectionSchemas.payload)
  def seatResultsJson: DataFrame =
    pq("LGESeatCalculationResults", ElectionSchemas.payload)
}
