package graft.ingest

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import scala.util.control.NonFatal

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession
import graft.Verify.jsonString

/** Minimal HTTP surface over the ingest engine — the working version of the
  * reference's broken Flask endpoint (app.py:10-14 exposes `/health` and
  * `/fetch-now`, but `/fetch-now` calls a function that is not a registered
  * task, so it has never worked). JDK `com.sun.net.httpserver`, zero added
  * dependencies; the driver-side server only TRIGGERS distributed jobs —
  * no data flows through it.
  *
  *   GET  /health               → {"status":"ok"}
  *   GET|POST /fetch-now        → run every platform pipeline, return
  *        ?mode=catchup|general   per-platform inserted counts (the
  *        [&now=epochMillis]      reference's missing return value);
  *                                failures are isolated per platform
  *                                (runAllResilient), reported not thrown.
  *
  * `now` is injectable for hermetic tests; defaults to wall clock.
  */
final class HttpApi(
    spark: SparkSession,
    usersPath: String,
    warehouse: String,
    fixturesDir: String,
    port: Int = 0) {

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)

  /** The ephemeral port actually bound (port=0 → OS-assigned). */
  def boundPort: Int = server.getAddress.getPort

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def query(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getQuery).getOrElse("").split('&').toSeq
      .filter(_.contains('='))
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }
      .toMap

  /** JDK HttpServer prefix-matches contexts and dispatches every method;
    * guard both (exact path, GET|POST like the reference's Flask default)
    * before running a side-effectful ingest.
    */
  private def guarded(path: String)(handle: HttpExchange => Unit): HttpExchange => Unit =
    ex =>
      if (ex.getRequestURI.getPath != path)
        respond(ex, 404, """{"error":"not found"}""")
      else if (ex.getRequestMethod != "GET" && ex.getRequestMethod != "POST")
        respond(ex, 405, """{"error":"method not allowed"}""")
      else handle(ex)

  server.createContext("/health", (ex: HttpExchange) =>
    guarded("/health")(respond(_, 200, """{"status":"ok"}"""))(ex))

  server.createContext("/fetch-now", (ex: HttpExchange) =>
    guarded("/fetch-now") { ex =>
    try {
      val q = query(ex)
      val mode = q.getOrElse("mode", "general") match {
        case "catchup" => Catchup()
        case "general" => General()
        case other => throw new IllegalArgumentException(s"unknown mode: $other")
      }
      val now = q.get("now").map { ms =>
        try new Timestamp(ms.toLong)
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(s"now must be epoch millis, got: $ms")
        }
      }.getOrElse(new Timestamp(System.currentTimeMillis()))
      val results = IngestJob.runAllResilient(spark, usersPath, warehouse, fixturesDir, mode, now)
      val body = results.toSeq.sortBy(_._1).map {
        case (platform, Right(r)) =>
          s"${jsonString(platform)}:{" +
            s""""inserted":${r.inserted},"per_company":{""" +
            r.perCompany.toSeq.sortBy(_._1)
              .map { case (c, n) => s"${jsonString(c)}:$n" }.mkString(",") + "}}"
        case (platform, Left(err)) =>
          s"${jsonString(platform)}:{" + s""""error":${jsonString(err)}}"""
      }.mkString("{", ",", "}")
      respond(ex, 200, body)
    } catch {
      case e: IllegalArgumentException => respond(ex, 400, s"""{"error":${jsonString(e.getMessage)}}""")
      case NonFatal(e) => respond(ex, 500, s"""{"error":${jsonString(String.valueOf(e.getMessage))}}""")
    }
    }(ex))

  def start(): HttpApi = { server.start(); this }
  def stop(): Unit = server.stop(0)
}
