package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import graft.gateway.{JValue, Json}
import graft.gateway.JValue._

/** One statement of a workload: `duckSql` is what the DuckDB oracle runs
  * over the parquet tables, `sql` is the same text bound to the
  * Iceberg-lite copies, as it is sent to the gateway.
  */
final case class Op(name: String, duckSql: String, sql: String, rowLimit: Int)

/** One HTTP response, as the client saw it. */
final case class Reply(status: Int, body: String, ms: Double) {
  lazy val json: Option[JObj] = scala.util.Try(Json.parse(body)).toOption.collect { case o: JObj => o }
  def detail: String = json.flatMap(_.str("detail")).getOrElse("")
  def rows: Vector[JValue] = json.flatMap(_.get("rows")).collect { case JArr(r) => r }.getOrElse(Vector.empty)
  /** `stats.executionTimeMs`: the gateway's own time inside `Engine.executeQuery`. */
  def engineMs: Option[Double] =
    json.flatMap(_.obj("stats")).flatMap(_.get("executionTimeMs")).collect { case JNum(n) => n.toDouble }
}

/** A closed-loop client: one connection, one request at a time. */
final class Client(base: String) {
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private val connection = JObj("storageType" -> JStr("s3"))

  def post(path: String, body: JObj): Reply = {
    val req = HttpRequest.newBuilder(URI.create(base + path))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body.render)).build()
    val t0 = System.nanoTime()
    val resp = http.send(req, HttpResponse.BodyHandlers.ofString(StandardCharsets.UTF_8))
    Reply(resp.statusCode(), resp.body(), (System.nanoTime() - t0) / 1e6)
  }

  def query(op: Op): Reply = post("/api/query", JObj(
    "sql" -> JStr(op.sql), "connection" -> connection, "rowLimit" -> JValue.num(op.rowLimit.toLong)))

  def compact(tableDir: String): Reply = post("/api/maintenance/compact", JObj(
    "connection" -> connection, "tablePath" -> JStr(tableDir)))
}

/** Timed operation. `variant` indexes [[Answers]] when the answer is
  * checked by the oracle afterwards; `ok` is false for a failed or wrong
  * operation the harness could already judge.
  */
final case class Sample(op: String, kind: String, startNs: Long, ms: Double,
    ok: Boolean, variant: Int = -1, note: String = "")

/** The distinct answers a run received, one per (statement, status,
  * body). Every response is filed here, so checking each distinct answer
  * once against the oracle checks every answer of the run. Bodies go to
  * `dir` as they arrive, so they do not count as live heap.
  */
final class Answers(dir: String) {
  import Answers._
  private val entries = new ConcurrentHashMap[Key, Entry]()
  private val nextId = new java.util.concurrent.atomic.AtomicInteger()
  java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))

  def file(op: Op, r: Reply): Int = {
    // The body less its per-request `stats`: cheap enough for the client
    // loop. Answers that differ only in row order are filed apart and each
    // is checked.
    val digest = MessageDigest.getInstance("SHA-1")
      .digest(StatsField.replaceFirstIn(r.body, "").getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    val key = Key(op.name, op.duckSql, r.status, digest)
    entries.compute(key, (_, e) =>
      if (e != null) e.copy(count = e.count + 1)
      else {
        val id = nextId.getAndIncrement()
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/$id.json"),
          r.body.getBytes(StandardCharsets.UTF_8))
        Entry(id, op, r.status, 1)
      }).id
  }

  def toJson: JValue = JArr(entries.values.asScala.toVector.sortBy(_.id).map { e =>
    JObj(
      "id" -> JValue.num(e.id.toLong),
      "op" -> JStr(e.op.name),
      "duck_sql" -> JStr(e.op.duckSql),
      "row_limit" -> JValue.num(e.op.rowLimit.toLong),
      "status" -> JValue.num(e.status.toLong),
      "count" -> JValue.num(e.count.toLong),
      "body_file" -> JStr(s"$dir/${e.id}.json"))
  })
}

object Answers {
  private val StatsField = "\"stats\":\\{[^}]*\\},?".r
  private final case class Key(op: String, sql: String, status: Int, digest: String)
  private final case class Entry(id: Int, op: Op, status: Int, count: Int)
}
