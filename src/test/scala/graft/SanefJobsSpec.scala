package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.jobs._

/** End-to-end semantics of the nine SANEF jobs (SURVEY.md §2.12) against
  * hand-computed reference-shaped fixtures (FIXTURES.md §B). Each expected
  * value below was derived by hand from the reference's behavior
  * (SANEF_Uploader.py sites cited per job in SanefJobs).
  */
class SanefJobsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-jobs-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** The shared fixture world (ElectionFixture documents it). */
  lazy val Fx: ElectionSources = new ElectionFixture(spark)

  private def rows(d: DataFrame): Seq[Seq[Any]] =
    d.collect().toSeq.map(_.toSeq)

  test("completedWards: anti-join spine with delim + zero-VD semantics") {
    val got = SanefJobs.completedWards(Fx, JobConfig())
    assert(rows(got) === Seq(
      Seq(1, 1117, 101L), Seq(1, 1101, 103L),
      Seq(9, 9001, 901L), Seq(9, 9001, 903L)))
  }

  test("ward_votes_by_party: explode + semi-join on completed wards") {
    val got = SanefJobs.run(spark, Fx, "ward_votes_by_party")
    assert(got.columns.toSeq === Seq("Geography", "Party", "Count"))
    assert(rows(got) === Seq(
      Seq(101L, "Party A", 30L), Seq(101L, "Party B", 12L),
      Seq(903L, "Party A", 4L))) // 902 dropped: not completed
  }

  test("voter_turnout: distinct-registered tvoters, Voted/Didn't Vote") {
    val got = SanefJobs.run(spark, Fx, "voter_turnout")
    assert(got.columns.toSeq === Seq("Geography", "Voter Turnout", "Count"))
    assert(rows(got) === Seq(
      Seq(101L, "Voted", 70L), Seq(101L, "Didn't Vote", 80L),
      Seq(103L, "Voted", 40L), Seq(103L, "Didn't Vote", 40L),
      Seq(901L, "Voted", 30L), Seq(901L, "Didn't Vote", 30L)))
  }

  test("ward_votes_by_candidate: abbr - name concat, EE + completed filter") {
    val got = SanefJobs.run(spark, Fx, "ward_votes_by_candidate")
    assert(rows(got) === Seq(
      Seq("Ward 101", "PA - Alice Smith", 30L),
      Seq("Ward 101", "PB - Bob Jones", 12L),
      Seq("Ward 103", "PA - Carol White", 40L)))
  }

  test("ward_councillor_elected: first-wins dedup by ward in payload order") {
    val got = SanefJobs.run(spark, Fx, "ward_councillor_elected")
    assert(got.columns.toSeq === Seq("Geography", "Contents"))
    assert(rows(got) === Seq(
      Seq(101L, "Alice Smith - Party A"), // Bob Jones (same ward) dropped
      Seq(102L, "Carol White - Party A")))
  }

  test("pr_votes_by_party: display-ward projection on completed wards") {
    val got = SanefJobs.run(spark, Fx, "pr_votes_by_party")
    assert(rows(got) === Seq(
      Seq("Ward 101", "Party A", 42L), Seq("Ward 101", "Party B", 18L),
      Seq("Ward 103", "Party A", 40L)))
  }

  test("hung_councils: per-province Hung / Outright Majority") {
    val got = SanefJobs.run(spark, Fx, "hung_councils")
    assert(got.columns.toSeq === Seq("Geography", "Councils", "Count"))
    assert(rows(got) === Seq(
      Seq("EC", "Hung", 1L), Seq("EC", "Outright Majority", 1L),
      Seq("WC", "Hung", 0L), Seq("WC", "Outright Majority", 1L)))
  }

  test("councils_won_by_party: bHung=0, party-name join, row counts") {
    val got = SanefJobs.run(spark, Fx, "councils_won_by_party")
    assert(rows(got) === Seq(
      Seq("EC", "Party B", 1L), Seq("WC", "Party A", 1L)))
  }

  test("list_of_hung_councils: exact HTML byte format") {
    val got = SanefJobs.run(spark, Fx, "list_of_hung_councils")
    assert(rows(got) === Seq(Seq("EC",
      "<ul><li><a href = https://sanef-local-gov.openup.org.za/#geo:BUF" +
        ">BUF - Buffalo City </a> </li></ul>")))
  }

  test("seats_won: Ward/PR unpivot, missing muni dropped, null guarded") {
    val got = SanefJobs.run(spark, Fx, "seats_won")
    assert(got.columns.toSeq ===
      Seq("Geography", "Party Name", "Seat Type", "Count"))
    assert(rows(got) === Seq(
      Seq("BUF", "Party A", "Ward", 3), Seq("BUF", "Party A", "PR", 2),
      Seq("BUF", "Party B", "Ward", 1), Seq("BUF", "Party B", "PR", 0)))
  }

  test("reset frames reproduce each job's placeholder row and columns") {
    SanefJobs.all.foreach { spec =>
      val got = SanefJobs.run(spark, Fx, spec.name, reset = true)
      assert(got.columns.toSeq === spec.resetColumns, spec.name)
      assert(rows(got) === Seq(spec.resetRow), spec.name)
    }
  }

  test("CsvSink writes one headered CSV with the stamped name") {
    val out = java.nio.file.Files.createTempDirectory("graft-csv").toString
    val name = CsvSink.stampedName(
      "hung_councils",
      java.time.ZonedDateTime.of(2021, 11, 3, 14, 7, 0, 0,
        java.time.ZoneOffset.UTC))
    assert(name === "hung_councils.03112021-1407.csv")
    val path = CsvSink.write(
      SanefJobs.run(spark, Fx, "hung_councils"), out, name)
    val lines = scala.io.Source.fromFile(path.toFile).getLines().toSeq
    assert(lines === Seq(
      "Geography,Councils,Count",
      "EC,Hung,1", "EC,Outright Majority,1",
      "WC,Hung,0", "WC,Outright Majority,1"))
  }

  test("HttpUploadSink posts multipart with token auth; fails on non-2xx") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    @volatile var seenAuth: String = null
    @volatile var seenBody: String = null
    @volatile var status = 200
    server.createContext("/api/v1/datasets/1384/upload/", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        seenAuth = ex.getRequestHeaders.getFirst("Authorization")
        seenBody = new String(ex.getRequestBody.readAllBytes())
        ex.sendResponseHeaders(status, 2)
        ex.getResponseBody.write("ok".getBytes); ex.close()
      }
    })
    server.start()
    try {
      val port = server.getAddress.getPort
      val csv = java.nio.file.Files.createTempFile("graft", ".csv")
      java.nio.file.Files.writeString(csv, "Geography,Count\nEC,1\n")
      val code = HttpUploadSink.upload(
        s"http://127.0.0.1:$port", "tok123", 1384, csv)
      assert(code === 200)
      assert(seenAuth === "Token tok123")
      assert(seenBody.contains("name=\"update\"\r\n\r\nTrue"))
      assert(seenBody.contains("name=\"overwrite\"\r\n\r\nTrue"))
      assert(seenBody.contains("Geography,Count"))
      status = 500
      assertThrows[RuntimeException] {
        // retries=0 so the deliberate 500 fails immediately
        HttpUploadSink.upload(
          s"http://127.0.0.1:$port", "tok123", 1384, csv, retries = 0)
      }
    } finally server.stop(0)
  }

  test("HttpUploadSink retries transient 5xx with backoff; 4xx fails fast") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    // first two attempts 503, third succeeds — the reference's flaky
    // endpoint regime (SANEF_Uploader.py:57-64 swallows these)
    @volatile var plan: Seq[Int] = Seq(503, 503, 200)
    @volatile var lastBody: String = null
    server.createContext("/api/v1/datasets/77/upload/", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        lastBody = new String(ex.getRequestBody.readAllBytes())
        val n = hits.getAndIncrement()
        val code = plan(math.min(n, plan.size - 1))
        ex.sendResponseHeaders(code, 2)
        ex.getResponseBody.write("ok".getBytes)
        ex.close()
      }
    })
    server.start()
    try {
      val port = server.getAddress.getPort
      val csv = java.nio.file.Files.createTempFile("graft", ".csv")
      java.nio.file.Files.writeString(csv, "Geography,Count\nEC,1\n")
      val code = HttpUploadSink.upload(
        s"http://127.0.0.1:$port", "tok", 77, csv, retries = 2, backoffMs = 1)
      assert(code === 200)
      assert(hits.get() === 3) // two 503s consumed, third attempt landed
      // the body must be rebuilt intact on the winning attempt
      assert(lastBody.contains("Geography,Count"))
      // deterministic 4xx: no retry — exactly one additional request
      hits.set(0)
      plan = Seq(403, 200)
      val e = intercept[RuntimeException] {
        HttpUploadSink.upload(
          s"http://127.0.0.1:$port", "tok", 77, csv, retries = 2,
          backoffMs = 1)
      }
      assert(e.getMessage.contains("403"))
      assert(hits.get() === 1)
      // retries exhausted: persistent 503 still surfaces the error
      hits.set(0)
      plan = Seq(503, 503, 503, 503)
      assertThrows[RuntimeException] {
        HttpUploadSink.upload(
          s"http://127.0.0.1:$port", "tok", 77, csv, retries = 2,
          backoffMs = 1)
      }
      assert(hits.get() === 3) // initial attempt + 2 retries
    } finally server.stop(0)
  }
}
