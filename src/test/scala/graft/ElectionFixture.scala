package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.jobs._

/** Hand-computed reference-shaped election inputs (FIXTURES.md §B), in
  * memory and as the files a `file:` JobRunner source reads.
  *
  * Fixture world:
  * - wards 101,102 (P1/M1117), 103 (P1/M1101), 901,902,903 (P9/M9001)
  * - completed wards (delim 78, no zero-vote VD at event 1091):
  *   101, 103, 901, 903 (902 has a zero VD; 904 is delim 77)
  */
final class ElectionFixture(spark: SparkSession) extends ElectionSources {

  private def df(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  private def jsonDf(bodies: Seq[String]): DataFrame = {
    import spark.implicits._
    bodies.toDF("body")
  }

  private val wardRows = Seq(
    Row(1, 1117, 101L), Row(1, 1117, 102L), Row(1, 1101, 103L),
    Row(9, 9001, 901L), Row(9, 9001, 902L), Row(9, 9001, 903L))

  private val muniRows = Seq(
    Row(1, 1117, "BUF", "Buffalo City", 1),
    Row(1, 1101, "DC10", "Sarah Baartman", 3),
    Row(9, 9001, "CPT", "Cape Town", 1),
    Row(8, 8001, "JB1", "Unused Muni", 2))

  def wards: DataFrame = df(ElectionSchemas.wards, wardRows)

  def munis: DataFrame = df(ElectionSchemas.munis, muniRows)

  def votingDistricts: DataFrame = df(ElectionSchemas.votingDistricts, Seq(
    Row(101L, 78), Row(101L, 78), // duplicate → DISTINCT must collapse
    Row(102L, 78), Row(103L, 78),
    Row(901L, 78), Row(902L, 78), Row(903L, 78),
    Row(904L, 77))) // wrong delimitation → excluded

  def displayVotingDistricts: DataFrame =
    df(ElectionSchemas.displayVotingDistricts, Seq(
      Row(101L, 1L, 10L, 1091), Row(101L, 1L, 5L, 1091),
      Row(101L, 2L, 3L, 1091),
      Row(102L, 3L, 0L, 1091), Row(102L, 3L, 0L, 1091), // sums to 0 → unfinished
      Row(103L, 4L, 7L, 1091),
      Row(901L, 5L, 0L, 1091), Row(901L, 5L, 5L, 1091), // sums to 5 → fine
      Row(902L, 6L, 0L, 1091),                          // zero VD → unfinished
      Row(902L, 7L, 9L, 1091),
      Row(903L, 8L, 4L, 999)))  // other event → no 1091 rows → completed

  def vdStats: DataFrame = df(ElectionSchemas.vdStats, Seq(
    Row(101L, 100L, 40L, 1091), Row(101L, 100L, 20L, 1091),
    Row(101L, 50L, 10L, 1091),
    Row(103L, 80L, 40L, 1091),
    Row(901L, 60L, 30L, 1091), Row(901L, 999L, 999L, 999),
    Row(902L, 70L, 35L, 1091))) // not completed → excluded

  def councilWinners: DataFrame = df(ElectionSchemas.councilWinners, Seq(
    //  pk,  EE,  muni, party, lead, maj, avail, won, draw, hung
    Row(1L, 1091, 1117, 1, 1, 1, 10, 6, 0, 1),
    Row(2L, 1091, 1101, 2, 2, 2, 8, 5, 0, 0),
    Row(3L, 1091, 9001, 1, 1, 1, 12, 7, 0, 0),
    Row(4L, 1091, 7777, 1, 1, 1, 5, 3, 0, 1), // muni not in Munis.csv → dropped
    Row(5L, 999, 1117, 2, 2, 2, 10, 6, 0, 1))) // other event → excluded

  def parties: DataFrame = df(ElectionSchemas.parties, Seq(
    Row(1, "Party A", "PA"), Row(2, "Party B", "PB")))

  def displayWard: DataFrame = df(ElectionSchemas.displayWard, Seq(
    Row(1L, 1091, 101L, "Ward 101", 1, "Party A", "PA", 100L, 60L, "", 42L),
    Row(2L, 1091, 101L, "Ward 101", 2, "Party B", "PB", 100L, 60L, "", 18L),
    Row(3L, 1091, 103L, "Ward 103", 1, "Party A", "PA", 80L, 40L, "", 40L),
    Row(4L, 1091, 902L, "Ward 902", 1, "Party A", "PA", 70L, 35L, "", 35L),
    Row(5L, 999, 101L, "Ward 101", 1, "Party X", "PX", 1L, 1L, "", 1L)))

  def wardCandidates: DataFrame = df(ElectionSchemas.wardCandidates, Seq(
    Row(1L, 1091, 101L, "Ward 101", 1, "Alice Smith", 11L, 1, "Party A",
      "PA", 30L),
    Row(2L, 1091, 101L, "Ward 101", 2, "Bob Jones", 12L, 2, "Party B",
      "PB", 12L),
    Row(3L, 1091, 103L, "Ward 103", 1, "Carol White", 13L, 1, "Party A",
      "PA", 40L),
    Row(4L, 1091, 902L, "Ward 902", 1, "Dan Black", 14L, 1, "Party A",
      "PA", 35L),
    Row(5L, 999, 101L, "Ward 101", 1, "Eve Grey", 15L, 1, "Party X",
      "PX", 1L)))

  def ballotResultsJson: DataFrame = jsonDf(Seq(
    """{"WardID": 101, "PartyBallotResults": [
      |{"Name": "Party A", "TotalValidVotes": 30},
      |{"Name": "Party B", "TotalValidVotes": 12}]}""".stripMargin,
    """{"WardID": 902, "PartyBallotResults": [
      |{"Name": "Party A", "TotalValidVotes": 35}]}""".stripMargin,
    """{"WardID": 903, "PartyBallotResults": [
      |{"Name": "Party A", "TotalValidVotes": 4}]}""".stripMargin))

  def councilorsJson: DataFrame = jsonDf(Seq(
    """[{"WardID": 101, "Name": "Alice Smith", "PartyName": "Party A"},
      |{"WardID": 101, "Name": "Bob Jones", "PartyName": "Party B"},
      |{"WardID": 102, "Name": "Carol White", "PartyName": "Party A"}]"""
      .stripMargin))

  def seatResultsJson: DataFrame = jsonDf(Seq(
    """{"MunicipalityID": 1117, "PartyResults": [
      |{"Name": "Party A", "WardSeats": 3, "PRSeats": 2},
      |{"Name": "Party B", "WardSeats": 1, "PRSeats": 0}]}""".stripMargin,
    """{"MunicipalityID": 7777, "PartyResults": [
      |{"Name": "Party A", "WardSeats": 9, "PRSeats": 9}]}""".stripMargin,
    "null")) // a None response (guard at SANEF_Uploader.py:577)

  /** Write the fixture as FileElectionSources reads it: the two dimension
    * CSVs with headers and the ten tables as parquet. Returns `dir`.
    */
  def writeFiles(dir: String): String = {
    def csv(name: String, schema: StructType, rows: Seq[Row]): Unit =
      Files.writeString(Paths.get(dir, s"$name.csv"),
        (schema.fieldNames.mkString(",") +: rows.map(_.mkString(",")))
          .mkString("", "\n", "\n"))
    csv("Wards", ElectionSchemas.wards, wardRows)
    csv("Munis", ElectionSchemas.munis, muniRows)
    Seq(
      "LED_GIS_CouncilWinners" -> councilWinners,
      "PCR_Party" -> parties,
      "EE_VotingDistricts" -> votingDistricts,
      "LED_GIS_Display_VotingDistrict" -> displayVotingDistricts,
      "Fact_LGE_Master_VDStats" -> vdStats,
      "LED_GIS_Display_Ward" -> displayWard,
      "LED_GIS_Display_Ward_WardCandidates" -> wardCandidates,
      "LGEBallotResults" -> ballotResultsJson,
      "CouncilorsByEvent" -> councilorsJson,
      "LGESeatCalculationResults" -> seatResultsJson)
      .foreach { case (name, frame) =>
        frame.write.parquet(s"$dir/$name.parquet")
      }
    dir
  }
}

/** The Spark jobs a block of driver code launches, each with its
  * description and stage names. The listener bus is asynchronous, so the
  * census closes with a marker job and waits for its start event: the
  * bus delivers in order, so every earlier job has been seen by then.
  */
object JobCensus {
  final case class Job(description: String, stages: Seq[String])

  def of(spark: SparkSession)(body: => Unit): Seq[Job] = {
    val sc = spark.sparkContext
    val marker = s"census-marker-${java.util.UUID.randomUUID()}"
    val seen = new ConcurrentLinkedQueue[Job]()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val desc = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        seen.add(Job(desc, j.stageInfos.map(_.name))); ()
      }
    }
    sc.addSparkListener(l)
    try {
      body
      val prior = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("spark.job.description", prior)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.asScala.exists(_.description == marker)) {
        assert(System.nanoTime() < deadline, "census marker never arrived")
        Thread.sleep(10)
      }
      seen.asScala.toSeq.takeWhile(_.description != marker)
    } finally sc.removeSparkListener(l)
  }
}
