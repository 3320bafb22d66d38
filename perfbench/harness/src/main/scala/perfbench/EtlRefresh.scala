package perfbench

import org.apache.spark.sql.SparkSession

import graft.jobs.{JobRunner, SanefJobs}

/** `etl_refresh`: closed-loop refresh cycles of all nine SANEF jobs
  * through `JobRunner.run`, the reference's actual traffic. Each job
  * reads the reference-shaped files through a `file:` source and writes
  * its CSV; the upload is skipped. One client: a job starts when the
  * previous one has written its CSV.
  *
  * The reference-shaped files are derived from the seeded election
  * tables by the generator with `TpchElectionSources`' arithmetic, so
  * every CSV has a DuckDB oracle in `SanefQueries`.
  */
final class EtlRefresh(inputs: String, work: String) extends Workload {
  private val src = s"$inputs/reference"
  private val jobs = SanefJobs.all.map(_.name)

  private def runJob(spark: SparkSession, job: String, outDir: String)
      : java.nio.file.Path =
    JobRunner.run(spark,
      Array("none", "none", "0", "none", job, s"file:$src", "db", "user",
        "password", "no"),
      Map("GRAFT_OUT_DIR" -> outDir, "GRAFT_SKIP_UPLOAD" -> "1"))

  /** Warm-up: one job end to end (session, scan and codegen paths). */
  def setup(spark: SparkSession, k: Int): Unit =
    runJob(spark, jobs.head, s"$work/etl_warm/$k")

  def run(spark: SparkSession, tr: Tracer, ops: Ops, deadlineNs: Long)
      : Unit = {
    // jobs in refresh order until the deadline, and at least one full
    // cycle so every job has a sample
    var i = 0
    while (i < jobs.size || System.nanoTime() < deadlineNs) {
      val job = jobs(i % jobs.size)
      val cycle = i / jobs.size
      val res = ops.timed("job", s"jobs.$job",
          Json.Obj("job" -> job, "cycle" -> cycle)) {
        runJob(spark, job, s"$work/etl_out/$cycle")
      }
      res.foreach(p => ops.all.last.output = p.toString)
      i += 1
    }
  }

  override def oracleNames: Seq[String] = jobs.map("job_" + _)
}
