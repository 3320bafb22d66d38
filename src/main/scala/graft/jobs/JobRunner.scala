package graft.jobs

import java.time.ZonedDateTime

import org.apache.spark.sql.SparkSession

import graft.JobDescription

/** CLI entry point with the reference's exact positional-argument
  * contract (SANEF_Uploader.py:10-22):
  *
  * {{{
  * JobRunner WAZI_ENDPOINT WAZI_TOKEN DATASET_ID IEC_TOKEN IEC_ENDPOINT
  *           DB_SERVER DB DB_USERNAME DB_PASSWORD RESET_DATASET
  * }}}
  *
  * A reference user switches by replacing `python SANEF_Uploader.py` with
  * `spark-submit --class graft.jobs.JobRunner` and the same ten args.
  * `IEC_ENDPOINT` selects the job (§2.12 names); `RESET_DATASET=reset`
  * emits the placeholder frame.
  *
  * Source selection: `DB_SERVER` of the form `file:/path` reads the
  * reference-shaped fixture files from that directory
  * (FileElectionSources); anything else is treated as a SQL Server host
  * and read over JDBC (JdbcElectionSources; `IEC_TOKEN` would then drive
  * HttpJsonSource for the API-fed jobs). Environment overrides:
  * GRAFT_OUT_DIR (default `datasets`), GRAFT_SKIP_UPLOAD=1 to write the
  * CSV without POSTing.
  */
object JobRunner {

  def main(args: Array[String]): Unit = {
    // master precedence: GRAFT_MASTER (explicit env override) >
    // spark-submit's --master (arrives as the spark.master system
    // property — hardcoding .master() here would silently override it
    // and run a cluster submission single-node inside the driver) >
    // local[*] for bare `java`/sbt launches
    val builder = SparkSession.builder()
    sys.env.get("GRAFT_MASTER")
      .orElse(if (sys.props.contains("spark.master")) None
              else Some("local[*]"))
      .foreach(builder.master)
    val spark = builder
      .appName("graft-sanef")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // the log level is process-wide: set only where JobRunner owns the
    // session, never on one injected into run()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args, sys.env) finally spark.stop()
  }

  /** The composition main() performs, with the session and environment
    * injected (testable in-process; main wires the real ones).
    * Returns the written CSV path. Every Spark job the run launches
    * carries the description `sanef.<job>`; the caller's description is
    * restored afterwards.
    */
  def run(
      spark: SparkSession, args: Array[String],
      env: Map[String, String]): java.nio.file.Path = {
    require(args.length >= 10,
      "usage: JobRunner WAZI_ENDPOINT WAZI_TOKEN DATASET_ID IEC_TOKEN " +
        "IEC_ENDPOINT DB_SERVER DB DB_USERNAME DB_PASSWORD RESET_DATASET")
    JobDescription.during(spark, s"sanef.${args(4)}") {
      compose(spark, args, env)
    }
  }

  private def compose(
      spark: SparkSession, args: Array[String],
      env: Map[String, String]): java.nio.file.Path = {
    val Array(waziEndpoint, waziToken, datasetId, iecToken, iecEndpoint,
      dbServer, db, dbUser, dbPassword, reset) = args.take(10)
    val sources: ElectionSources =
      if (dbServer.startsWith("file:")) {
        new FileElectionSources(spark, dbServer.stripPrefix("file:"))
      } else {
        val props = new java.util.Properties()
        props.setProperty("user", dbUser)
        props.setProperty("password", dbPassword)
        // a full jdbc: URL passes through (any warehouse with a driver on
        // the classpath); a bare host gets the reference's SQL Server form
        val jdbcUrl =
          if (dbServer.startsWith("jdbc:")) dbServer
          else s"jdbc:sqlserver://$dbServer;databaseName=$db"
        val jdbc = new JdbcElectionSources(spark, jdbcUrl, props,
          env.getOrElse("GRAFT_DELIM_DIR", "delimitations"))
        // the API-fed inputs (ballot/councillor/seat JSON) ride the IEC
        // HTTP fan-out on top of the JDBC tables — the reference's
        // pyodbc + aiohttp split (SANEF_Uploader.py:27-29)
        new HttpElectionSources(spark, jdbc,
          env.getOrElse("GRAFT_IEC_API", IecApi.DefaultApiBase), iecToken)
      }
    val df = SanefJobs.run(spark, sources, iecEndpoint,
      reset = reset == "reset")
    val outDir = env.getOrElse("GRAFT_OUT_DIR", "datasets")
    val file = CsvSink.stampedName(iecEndpoint, ZonedDateTime.now())
    val path = CsvSink.write(df, outDir, file)
    println(s"[graft] wrote $path")
    if (!env.get("GRAFT_SKIP_UPLOAD").contains("1")) {
      val code = HttpUploadSink.upload(
        waziEndpoint, waziToken, datasetId.toInt, path)
      println(s"[graft] uploaded dataset $datasetId: HTTP $code")
    }
    path
  }
}
