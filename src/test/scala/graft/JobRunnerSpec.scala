package graft

import java.nio.file.Files

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.jobs._

/** The CLI contract end-to-end: the reference's ten positional args →
  * file sources → job plan → stamped CSV → multipart upload to a local
  * Wazimap stand-in — exactly what `spark-submit --class
  * graft.jobs.JobRunner` composes, with session and env injected.
  */
class JobRunnerSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-runner-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def fixtureDir: String = {
    val dir = Files.createTempDirectory("graft-runner").toString
    Files.writeString(java.nio.file.Paths.get(dir, "Wards.csv"),
      """ProvinceID,MunicipalityID,WardID
        |1,1117,101
        |""".stripMargin)
    Files.writeString(java.nio.file.Paths.get(dir, "Munis.csv"),
      """ProvinceID,MunicipalityID,Municipality,MunicipalityName,MunicTypeID
        |1,1117,BUF,Buffalo City,1
        |""".stripMargin)
    import spark.implicits._
    Seq((1L, 1091, 1117, 1, 1, 1, 10, 6, 0, 1))
      .toDF("pklCouncilWinnerID", "fklEEID", "fklMunicipalityID",
        "fklPartyID", "fklLeadingPartyID", "fklMajorityPartyID",
        "lCouncilSeatsAvailable", "lTotalPartySeatsWon", "bDraw", "bHung")
      .write.parquet(s"$dir/LED_GIS_CouncilWinners.parquet")
    dir
  }

  test("ten-arg run: stamped CSV written and uploaded with token auth") {
    @volatile var uploaded: String = null
    @volatile var auth: String = null
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/api/v1/datasets/1384/upload/", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        auth = ex.getRequestHeaders.getFirst("Authorization")
        uploaded = new String(ex.getRequestBody.readAllBytes())
        ex.sendResponseHeaders(200, 2)
        ex.getResponseBody.write("ok".getBytes); ex.close()
      }
    })
    server.start()
    try {
      val outDir = Files.createTempDirectory("graft-out").toString
      val args = Array(
        s"http://127.0.0.1:${server.getAddress.getPort}", "tok123", "1384",
        "iec-token", "hung_councils", s"file:$fixtureDir", "db", "u", "p",
        "noreset")
      val path = JobRunner.run(spark, args, Map("GRAFT_OUT_DIR" -> outDir))
      assert(path.getFileName.toString
        .matches("hung_councils\\.\\d{8}-\\d{4}\\.csv"))
      val csv = Files.readString(path)
      assert(csv === "Geography,Councils,Count\nEC,Hung,1\nEC,Outright Majority,0\n")
      assert(uploaded != null && uploaded.contains("EC,Hung,1"))
      assert(auth === "Token tok123")
    } finally server.stop(0)
  }

  test("reset arg emits the placeholder frame; skip-upload honored") {
    val outDir = Files.createTempDirectory("graft-out").toString
    val args = Array("http://unused", "t", "1384", "i", "hung_councils",
      s"file:$fixtureDir", "db", "u", "p", "reset")
    val path = JobRunner.run(spark, args,
      Map("GRAFT_OUT_DIR" -> outDir, "GRAFT_SKIP_UPLOAD" -> "1"))
    assert(Files.readString(path) === "Geography,Councils,Count\nNone,-,0\n")
  }

  test("run names every Spark job sanef.<job>; the caller's job " +
    "description and log level are left as they were") {
    import org.apache.logging.log4j.{Level, LogManager}
    val sc = spark.sparkContext
    val level = LogManager.getRootLogger.getLevel
    sc.setLogLevel("ERROR")
    sc.setJobDescription("caller")
    try {
      val outDir = Files.createTempDirectory("graft-out").toString
      val args = Array("http://unused", "t", "1384", "i", "hung_councils",
        s"file:$fixtureDir", "db", "u", "p", "noreset")
      val jobs = JobCensus.of(spark) {
        JobRunner.run(spark, args,
          Map("GRAFT_OUT_DIR" -> outDir, "GRAFT_SKIP_UPLOAD" -> "1"))
      }
      assert(jobs.nonEmpty)
      assert(jobs.forall(_.description == "sanef.hung_councils"),
        jobs.mkString("\n"))
      assert(sc.getLocalProperty("spark.job.description") === "caller")
      assert(LogManager.getRootLogger.getLevel === Level.ERROR)
    } finally {
      sc.setJobDescription(null)
      sc.setLogLevel(level.toString)
    }
  }

  /** The Spark-job budget of one file-backed run per job, measured on the
    * shared fixture: the two dead job kinds stay gone (parquet schema
    * inference, the range-partitioner sampling of a global sort), and a
    * new driver-side action shows up as a count above its ceiling.
    */
  test("file-backed runs of all nine jobs: no schema inference, no " +
    "global sort, Spark-job counts within budget, rows as in memory") {
    import org.apache.spark.sql.execution.SortExec
    val fx = new ElectionFixture(spark)
    val dir = fx.writeFiles(Files.createTempDirectory("graft-nine").toString)
    val src = new FileElectionSources(spark, dir)
    // measured with declared schemas, the ward sets broadcast into the
    // fact scans and every aggregation inside the output funnel (a
    // completed-frame spine and per-job hash exchanges cost the ward
    // jobs 7; inference plus a global orderBy cost ward_votes_by_party 11)
    val budget = Map(
      "ward_votes_by_party" -> 5, "voter_turnout" -> 5,
      "ward_votes_by_candidate" -> 5, "ward_councillor_elected" -> 2,
      "pr_votes_by_party" -> 5, "hung_councils" -> 4,
      "councils_won_by_party" -> 5, "list_of_hung_councils" -> 4,
      "seats_won" -> 3)
    assert(budget.keySet === SanefJobs.all.map(_.name).toSet)
    SanefJobs.all.foreach { spec =>
      val outDir = Files.createTempDirectory("graft-out").toString
      var path: java.nio.file.Path = null
      val jobs = JobCensus.of(spark) {
        path = JobRunner.run(spark,
          Array("http://unused", "t", spec.datasetId.toString, "i",
            spec.name, s"file:$dir", "db", "u", "p", "noreset"),
          Map("GRAFT_OUT_DIR" -> outDir, "GRAFT_SKIP_UPLOAD" -> "1"))
      }
      info(s"${spec.name}: ${jobs.size} jobs")
      assert(!jobs.exists(_.stages.exists(_.startsWith("parquet at"))),
        s"${spec.name} inferred a schema:\n${jobs.mkString("\n")}")
      assert(jobs.size <= budget(spec.name),
        s"${spec.name} over budget:\n${jobs.mkString("\n")}")
      val plan = SanefJobs.run(spark, src, spec.name)
        .queryExecution.sparkPlan
      assert(plan.collect { case s: SortExec if s.global => s }.isEmpty,
        s"${spec.name} sorts globally:\n$plan")
      val mem = SanefJobs.run(spark, fx, spec.name)
      assert(Files.readString(path).split("\n").toSeq ===
        mem.columns.mkString(",") +: mem.collect().toSeq.map(_.mkString(",")),
        spec.name)
    }
  }

  test("wrong arity fails loudly") {
    assertThrows[IllegalArgumentException] {
      JobRunner.run(spark, Array("a", "b"), Map.empty)
    }
  }

  /** The production path end-to-end with nothing stubbed inside the
    * engine: a real JDBC warehouse (in-memory Derby standing in for the
    * reference's SQL Server), dimension CSVs, and the IEC API served by
    * a local HTTP server — through JobRunner's non-`file:` branch, so
    * JdbcElectionSources + HttpElectionSources + IEC URL templating +
    * bearer auth + the job plan + the CSV sink all compose.
    */
  test("jdbc + http sources: ward_votes_by_party end-to-end") {
    // Derby schema == username, so create the tables as the same user
    // JobRunner's JDBC props will carry
    val jdbcUrl = "jdbc:derby:memory:graftdb;create=true"
    val conn = java.sql.DriverManager.getConnection(jdbcUrl, "u", "p")
    val st = conn.createStatement()
    st.executeUpdate(
      """CREATE TABLE LED_GIS_Display_VotingDistrict (
        |  fklWardId BIGINT, fklVotingDistrict BIGINT,
        |  lTotalVotesCast BIGINT, fklEEId INT)""".stripMargin)
    st.executeUpdate(
      """CREATE TABLE EE_VotingDistricts (
        |  fklWardId BIGINT, pkfklDelimID INT)""".stripMargin)
    // ward 101 completed (votes cast), ward 102 unfinished (a VD at 0)
    st.executeUpdate(
      "INSERT INTO LED_GIS_Display_VotingDistrict VALUES " +
        "(101, 9001, 400, 1091), (102, 9002, 0, 1091)")
    st.executeUpdate(
      "INSERT INTO EE_VotingDistricts VALUES (101, 78), (102, 78)")
    conn.close()

    val delimDir = Files.createTempDirectory("graft-delim").toString
    Files.writeString(java.nio.file.Paths.get(delimDir, "Wards.csv"),
      """ProvinceID,MunicipalityID,WardID
        |1,1117,101
        |1,1117,102
        |""".stripMargin)
    Files.writeString(java.nio.file.Paths.get(delimDir, "Munis.csv"),
      """ProvinceID,MunicipalityID,Municipality,MunicipalityName,MunicTypeID
        |1,1117,BUF,Buffalo City,1
        |""".stripMargin)

    @volatile var auth: String = null
    @volatile var queried: String = null
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/api/v1/LGEBallotResults", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        auth = ex.getRequestHeaders.getFirst("Authorization")
        queried = ex.getRequestURI.getQuery
        val body =
          """{"WardID": 101, "PartyBallotResults": [
            |  {"Name": "ANC", "TotalValidVotes": 500},
            |  {"Name": "DA", "TotalValidVotes": 300}]}""".stripMargin
        val bytes = body.getBytes("UTF-8")
        ex.sendResponseHeaders(200, bytes.length)
        ex.getResponseBody.write(bytes); ex.close()
      }
    })
    server.start()
    try {
      val outDir = Files.createTempDirectory("graft-out").toString
      val args = Array("http://unused", "t", "1378", "iec-token",
        "ward_votes_by_party", jdbcUrl, "ignored-db", "u", "p", "noreset")
      val path = JobRunner.run(spark, args, Map(
        "GRAFT_OUT_DIR" -> outDir,
        "GRAFT_DELIM_DIR" -> delimDir,
        "GRAFT_IEC_API" ->
          s"http://127.0.0.1:${server.getAddress.getPort}",
        "GRAFT_SKIP_UPLOAD" -> "1"))
      assert(Files.readString(path) ===
        "Geography,Party,Count\n101,ANC,500\n101,DA,300\n")
      assert(auth === "Bearer iec-token")
      // only the COMPLETED ward is fetched (102 has a zero-vote VD)
      assert(queried ===
        "ElectoralEventID=1091&ProvinceID=1&MunicipalityID=1117&WardID=101")
    } finally server.stop(0)
  }
}
