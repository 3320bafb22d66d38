package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.jobs._

/** FileElectionSources round-trip: dimension CSVs and parquet tables,
  * all read with declared schemas (S1 — no inference in production
  * paths), through a complete job. Validates the file-backed production
  * path that JdbcElectionSources mirrors.
  */
class FileSourcesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-filesrc-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("csv dims + parquet facts drive hung_councils end to end") {
    val dir = Files.createTempDirectory("graft-files").toString
    Files.writeString(java.nio.file.Paths.get(dir, "Wards.csv"),
      """ProvinceID,MunicipalityID,WardID
        |1,1117,101
        |9,9001,901
        |""".stripMargin)
    Files.writeString(java.nio.file.Paths.get(dir, "Munis.csv"),
      """ProvinceID,MunicipalityID,Municipality,MunicipalityName,MunicTypeID
        |1,1117,BUF,Buffalo City,1
        |9,9001,CPT,Cape Town,1
        |""".stripMargin)
    // parquet fact: two councils, one hung (EC), one not (WC)
    import spark.implicits._
    Seq(
      (1L, 1091, 1117, 1, 1, 1, 10, 6, 0, 1),
      (2L, 1091, 9001, 2, 2, 2, 12, 7, 0, 0))
      .toDF("pklCouncilWinnerID", "fklEEID", "fklMunicipalityID",
        "fklPartyID", "fklLeadingPartyID", "fklMajorityPartyID",
        "lCouncilSeatsAvailable", "lTotalPartySeatsWon", "bDraw", "bHung")
      .write.parquet(s"$dir/LED_GIS_CouncilWinners.parquet")

    val src = new FileElectionSources(spark, dir)
    // explicit schema, not inference: ints stay ints, WardID is long
    assert(src.wards.schema === ElectionSchemas.wards)
    assert(src.munis.schema === ElectionSchemas.munis)

    val got = SanefJobs.run(spark, src, "hung_councils")
      .collect().map(_.toSeq)
    assert(got.toSeq === Seq(
      Seq("EC", "Hung", 1L), Seq("EC", "Outright Majority", 0L),
      Seq("WC", "Hung", 0L), Seq("WC", "Outright Majority", 1L)))
  }

  test("every file source reads with its declared schema; building the " +
    "twelve frames launches no Spark job") {
    val dir = new ElectionFixture(spark).writeFiles(
      Files.createTempDirectory("graft-files-all").toString)
    val src = new FileElectionSources(spark, dir)
    var frames = Seq.empty[(String, DataFrame, StructType)]
    val jobs = JobCensus.of(spark) {
      frames = Seq(
        ("wards", src.wards, ElectionSchemas.wards),
        ("munis", src.munis, ElectionSchemas.munis),
        ("councilWinners", src.councilWinners,
          ElectionSchemas.councilWinners),
        ("parties", src.parties, ElectionSchemas.parties),
        ("votingDistricts", src.votingDistricts,
          ElectionSchemas.votingDistricts),
        ("displayVotingDistricts", src.displayVotingDistricts,
          ElectionSchemas.displayVotingDistricts),
        ("vdStats", src.vdStats, ElectionSchemas.vdStats),
        ("displayWard", src.displayWard, ElectionSchemas.displayWard),
        ("wardCandidates", src.wardCandidates,
          ElectionSchemas.wardCandidates),
        ("ballotResultsJson", src.ballotResultsJson, ElectionSchemas.payload),
        ("councilorsJson", src.councilorsJson, ElectionSchemas.payload),
        ("seatResultsJson", src.seatResultsJson, ElectionSchemas.payload))
    }
    // a schema-inference pass would show up here as a `parquet at` job
    assert(jobs.isEmpty, jobs.mkString("\n"))
    assert(frames.size === 12)
    frames.foreach { case (name, frame, schema) =>
      assert(frame.schema === schema, name)
    }
  }

  test("jsonl corpus source: explicit schema, three malformed-line modes") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft-jsonl").toString
    val lines = Seq(
      """{"doc_id": 1, "text": "the first document", "source": "crawl"}""",
      """{"doc_id": 2, "text": "the second one", "source": "crawl"}""",
      """{"doc_id": 3, "text": "broken line""", // truncated JSON
      """{"doc_id": 4, "text": "the last document", "source": "books"}""")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "part-0.jsonl"),
      lines.mkString("\n").getBytes("UTF-8"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("source", StringType)))

    // PERMISSIVE: bad line survives in _corrupt_record, good rows parse
    val p = graft.sources.CorpusJsonl.read(spark, dir, schema).cache()
    assert(p.count() === 4)
    assert(p.filter(col(graft.sources.CorpusJsonl.CorruptCol).isNotNull)
      .count() === 1)
    assert(p.filter(col("doc_id").isNotNull).count() === 3)
    p.unpersist()

    // DROPMALFORMED: bad line silently gone
    val d = graft.sources.CorpusJsonl
      .read(spark, dir, schema, "DROPMALFORMED")
    assert(d.count() === 3)
    assert(d.columns.toSeq === Seq("doc_id", "text", "source"))

    // FAILFAST: the corrupt line aborts the scan
    intercept[org.apache.spark.SparkException] {
      graft.sources.CorpusJsonl.read(spark, dir, schema, "FAILFAST")
        .count()
    }

    // writer round-trip: one JSON object per line, read back losslessly
    val out = Files.createTempDirectory("graft-jsonl-out").toString
    graft.sources.CorpusJsonl.write(d, out)
    val back = graft.sources.CorpusJsonl
      .read(spark, out, schema, "FAILFAST")
    assert(back.orderBy("doc_id").collect().map(_.getLong(0)).toSeq
      === Seq(1L, 2L, 4L))
  }

  test("orc hop preserves values; orc scan prunes and pushes down") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    // the registered round trip equals the parquet-direct aggregate
    val viaOrc = graft.operators.Relational.qOrcRoundtrip(spark, dir)
      .collect().map(_.toSeq)
    val direct = graft.Tables.customer(spark, dir)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        round(sum("c_acctbal"), 2).as("total_bal"),
        min("c_name").as("first_name"))
      .orderBy("c_mktsegment")
      .collect().map(_.toSeq)
    assert(viaOrc.toSeq === direct.toSeq)
    // the ORC scan gets the same optimizer treatment as parquet:
    // selected columns only in ReadSchema, filter pushed to the scan
    // the SAME path derivation the query writes to (a hashCode-based
    // variant here once pointed at a stale dir from an old session and
    // the assertion silently pinned that instead of the fresh write)
    val orcPath = s"${sys.props("java.io.tmpdir")}/graft_orc_" +
      graft.plans.AggStore.artifactId(dir)
    val plan = spark.read.orc(orcPath)
      .filter(col("c_custkey") === 42L)
      .select("c_custkey", "c_name")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(c_custkey), " +
      "EqualTo(c_custkey,42)]"), plan)
    assert(!plan.contains("c_acctbal"), "pruned column read back:\n" + plan)
  }

  test("jsonl landing-dir stream ingests dumps through the gopher gate") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val land = Files.createTempDirectory("graft-jsonl-land").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType)))
    // doc 1 passes the battery; doc 2 fails the word-count rule
    val good = Seq.tabulate(25)(i => s"word$i").patch(0,
      Seq("the", "a"), 2).mkString(" ")
    // land dumps ATOMICALLY (temp write + rename) per the readStream
    // producer contract — an in-place write races the source's file
    // listing and can be ingested truncated, then never re-read
    def dump(name: String, lines: Seq[String]): Unit = {
      val tmp = java.nio.file.Files.createTempFile("graft-dump", ".tmp")
      java.nio.file.Files.write(tmp, lines.mkString("\n").getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, java.nio.file.Paths.get(land, name),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    dump("batch1.jsonl", Seq(
      s"""{"doc_id": 1, "text": "$good"}""",
      """{"doc_id": 2, "text": "too short"}"""))
    val q = graft.operators.Quality.gopherFilter(
      graft.sources.CorpusJsonl
        .readStream(spark, land, schema, "DROPMALFORMED"))
      .writeStream.outputMode("append")
      .format("memory").queryName("jsonl_ingest").start()
    try {
      q.processAllAvailable()
      assert(spark.table("jsonl_ingest").collect()
        .map(_.getLong(0)).toSeq === Seq(1L))
      // a second dump landing later is picked up incrementally
      dump("batch2.jsonl",
        Seq(s"""{"doc_id": 3, "text": "$good again"}"""))
      q.processAllAvailable()
      assert(spark.table("jsonl_ingest").collect()
        .map(_.getLong(0)).sorted.toSeq === Seq(1L, 3L))
    } finally q.stop()
  }
}
