package graft.jobs

import java.io.{ByteArrayOutputStream, File}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.ZonedDateTime
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.DataFrame

/** Job sinks (SURVEY.md §2.1 S7/S8).
  *
  * CsvSink reproduces the reference's single-CSV materialization
  * (`upload()` at SANEF_Uploader.py:50-55). The nine jobs already hand it
  * one sorted partition (SanefJobs' ordered tail), so its coalesce(1) is
  * a no-op for them and only guards other callers, whose frames it funnels
  * to one task — safe because every output here is O(10^4) rows (§6). The
  * `<endpoint>.<ddMMyyyy-HHmm>.csv` stamp (:51-52) is applied on rename.
  *
  * HttpUploadSink is the Wazimap multipart POST (:57-64) — pure driver
  * code after the write, deliberately NOT a Spark operator.
  */
object CsvSink {

  private val stampFmt = DateTimeFormatter.ofPattern("ddMMyyyy-HHmm")

  def stampedName(endpoint: String, now: ZonedDateTime): String =
    s"$endpoint.${now.format(stampFmt)}.csv"

  /** Write `df` as ONE headered CSV at `outDir/<fileName>`; returns the
    * final path. Fail-fast semantics (no silent error swallowing — §2.1
    * S9): any task failure aborts the write.
    */
  def write(df: DataFrame, outDir: String, fileName: String): Path = {
    val tmp = s"$outDir/.${fileName}_tmp"
    df.coalesce(1)
      .write.mode("overwrite").option("header", "true").csv(tmp)
    val part = new File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
      .getOrElse(throw new IllegalStateException(s"no part file in $tmp"))
    val target = Paths.get(outDir, fileName)
    Files.createDirectories(target.getParent)
    Files.move(part.toPath, target, StandardCopyOption.REPLACE_EXISTING)
    // clean the temp dir (part + _SUCCESS + crc files)
    new File(tmp).listFiles().foreach(_.delete())
    Files.deleteIfExists(Paths.get(tmp))
    target
  }
}

object HttpUploadSink {

  /** Wire-status failure carrying the code so the retry policy can
    * distinguish 5xx (transient) from 4xx (deterministic).
    */
  final case class UploadStatusError(code: Int, body: String)
      extends RuntimeException(s"upload failed: HTTP $code $body")

  /** Retry only what a retry can fix — same policy as
    * HttpJsonSource.get: connection-level IOException and server-side
    * 5xx / 429. A 4xx (bad token, wrong dataset id) is deterministic;
    * retrying it just delays the abort.
    */
  private def isTransient(e: Throwable): Boolean = e match {
    case UploadStatusError(code, _) => code / 100 == 5 || code == 429
    case _: java.io.IOException => true
    case _ => false
  }

  /** Multipart POST of a written CSV to
    * `{endpoint}/api/v1/datasets/{datasetId}/upload/` with token auth and
    * `update=True, overwrite=True` form fields, matching the reference's
    * wire shape (SANEF_Uploader.py:57-64). Throws on non-2xx
    * (`raise_for_status` equivalent) after bounded exponential retry on
    * transient failures (5xx/429/IOException) — the upload is the LAST
    * step of a job, so one blip from the reference's flaky-endpoint
    * regime (its only remediation is swallow-and-drop,
    * SANEF_Uploader.py:57-64 + :377-379) must not lose the whole run's
    * output. The POST body is rebuilt per attempt boundary-identically,
    * so a retry is wire-safe; the server-side `overwrite=True` field
    * makes a duplicate delivery of a success-that-looked-like-a-timeout
    * idempotent.
    */
  def upload(
      endpoint: String, token: String, datasetId: Int, csv: Path,
      client: HttpClient = HttpClient.newHttpClient(),
      retries: Int = 2, backoffMs: Long = 200): Int = {
    val boundary = "graft-" + java.util.UUID.randomUUID().toString
    val out = new ByteArrayOutputStream()
    def field(name: String, value: String): Unit =
      out.write((s"--$boundary\r\nContent-Disposition: form-data; " +
        s"name=\"$name\"\r\n\r\n$value\r\n").getBytes(StandardCharsets.UTF_8))
    field("update", "True")
    field("overwrite", "True")
    out.write((s"--$boundary\r\nContent-Disposition: form-data; " +
      s"name=\"file\"; filename=\"${csv.getFileName}\"\r\n" +
      "Content-Type: text/csv\r\n\r\n").getBytes(StandardCharsets.UTF_8))
    out.write(Files.readAllBytes(csv))
    out.write(s"\r\n--$boundary--\r\n".getBytes(StandardCharsets.UTF_8))
    val req = HttpRequest.newBuilder()
      .uri(URI.create(s"$endpoint/api/v1/datasets/$datasetId/upload/"))
      .header("authorization", s"Token $token")
      .header("Content-Type", s"multipart/form-data; boundary=$boundary")
      .POST(HttpRequest.BodyPublishers.ofByteArray(out.toByteArray))
      .build()
    def once(): Int = {
      val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode() / 100 != 2)
        throw UploadStatusError(resp.statusCode(), resp.body())
      resp.statusCode()
    }
    @annotation.tailrec
    def attempt(left: Int, delay: Long): Int =
      scala.util.Try(once()) match {
        case scala.util.Failure(e) if left > 0 && isTransient(e) =>
          Thread.sleep(delay)
          attempt(left - 1, delay * 2)
        case done => done.get
      }
    attempt(retries, backoffMs)
  }
}
