package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}

import graft.Tables
import graft.gateway.{ConnectionConfig, Engine, HttpApi, JValue, Json}
import graft.gateway.JValue._
import graft.sources.{IcebergLite, IcebergLiteWriter}

/** The benchmark's program: one JVM that writes Iceberg-lite copies of
  * the base tables, serves them with `gateway.HttpApi` in-process, drives
  * one workload against it through real HTTP clients and writes every
  * raw observation to a JSON file. `run.py` turns that file into checked
  * metrics.
  *
  *   perfbench.Harness --workload <name> --seed <n> --seconds <s>
  *     --trace <0|1> --data <parquet dir> --expect <file> --work <dir>
  *     --out <file> --cores <n>
  *
  * `--expect` holds facts about the base tables that the workloads need
  * to generate requests and judge answers (row counts, the `events`
  * aggregates); computing them is the benchmark's own work, done before
  * this process starts, so none of it lands in setup_s.
  */
object Harness {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      data: String, expect: String, work: String, out: String, cores: Int)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("data"), need("expect"), need("work"), need("out"), need("cores").toInt)
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try { run(parse(argv)); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    // HttpApi.stop() leaves the server's non-daemon executor threads
    // running, so the JVM only ends when told to.
    sys.exit(code)
  }

  /** The q-corpus relational statements in DuckDB dialect (q01..q46). */
  def relationalOracle: Seq[(String, String)] =
    graft.SparkEntry.oracleSql.toSeq.filter(_._1.matches("q\\d\\d_.*")).sortBy(_._1)

  val AnalyticRowLimit = 10000
  val StealGatePct = 2.0
  val IngestBatchRows = 500
  val CompactEvery = 20

  def run(a: Args): Unit = {
    val processStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    System.setProperty("graft.gateway.maintenance", "true")
    val builder = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    if (a.trace) builder.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val spark = builder.getOrCreate()
    // Drop filesystems cached before the session conf applied.
    if (a.trace) org.apache.hadoop.fs.FileSystem.closeAll()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyMs = System.currentTimeMillis()
    val meter = if (a.trace) Some(new Meter(spark)) else None
    val conn = ConnectionConfig(storageType = "s3", endpoint = "", accessKey = "", secretKey = "")
    val expect = Json.parse(new String(Files.readAllBytes(Paths.get(a.expect)), StandardCharsets.UTF_8))
      .asInstanceOf[JObj]
    val ctx = new Ctx(spark, a, meter, conn, expect)

    val w: Workload = a.workload match {
      case "gw-short" => new ShortWorkload(ctx)
      case "gw-analytic" => new AnalyticWorkload(ctx)
      case "gw-ingest" => new IngestWorkload(ctx, "events")
      case "corpus" => new CorpusWorkload(ctx)
      case other => sys.error(s"unknown workload $other")
    }

    // The copies are written by one thread per core, each on its own
    // session, since the writer sets session confs while it runs.
    val tWrite = System.nanoTime()
    val pending = new java.util.concurrent.ConcurrentLinkedQueue[String](java.util.Arrays.asList(w.tables: _*))
    Loops.run(math.min(a.cores, w.tables.size)) { _ =>
      val session = spark.newSession()
      Iterator.continually(pending.poll()).takeWhile(_ != null).foreach(t =>
        IcebergLiteWriter.write(session, w.source(session, t), ctx.tableDir(t)))
    }
    val writeS = (System.nanoTime() - tWrite) / 1e9

    val tServer = System.nanoTime()
    val api = new HttpApi(spark, 0, None)
    api.start()
    ctx.base = api.address
    val serverS = (System.nanoTime() - tServer) / 1e9

    val tWarm = System.nanoTime()
    w.warm()
    val warmS = (System.nanoTime() - tWarm) / 1e9

    val setupS = (System.currentTimeMillis() - processStartMs) / 1e3
    val t0 = System.nanoTime()
    ctx.windowStartNs = t0
    val first = ctx.window(w, a.seconds)
    val heapMb = Proc.liveHeapMb()
    // Hypervisor steal comes in storms on a shared host and inflates every
    // latency of a window it hits. An untraced gw-short window that lost
    // more than StealGatePct of the CPU is measured once more and the
    // window with less steal is reported; the heap is read after the
    // first, so every run reports it after the same requests. The answers
    // of both windows are checked. The other workloads measure one window:
    // a second gw-analytic pass runs warmer than the first, and a second
    // gw-ingest window starts from a longer snapshot log.
    val retry = !a.trace && w.isInstanceOf[ShortWorkload] && first.stealPct > Harness.StealGatePct
    val windows = if (retry) Vector(first, ctx.window(w, a.seconds)) else Vector(first)
    val chosen = windows.indices.minBy(i => windows(i).stealPct)
    // The write layer is traced on every workload: the ones that do not
    // write get a fixed probe after the window.
    if (a.trace && (w.isInstanceOf[ShortWorkload] || w.isInstanceOf[AnalyticWorkload]))
      IngestWorkload.probe(ctx)

    api.stop()
    val loadavg = Proc.loadavg()

    val json = JObj(
      "workload" -> JStr(a.workload),
      "seed" -> JValue.num(a.seed),
      "trace" -> JBool(a.trace),
      "clients" -> JValue.num(w.clients.toLong),
      "cores" -> JValue.num(a.cores.toLong),
      "nproc" -> JValue.num(Runtime.getRuntime.availableProcessors().toLong),
      "loadavg" -> JArr(loadavg.map(JValue.num)),
      "setup_s" -> JValue.num(setupS),
      "setup_parts" -> JObj(
        "session_s" -> JValue.num((sessionReadyMs - processStartMs) / 1e3),
        "write_s" -> JValue.num(writeS),
        "server_s" -> JValue.num(serverS),
        "warm_s" -> JValue.num(warmS)),
      "windows" -> JArr(windows.map(wd => JObj(
        "window_s" -> JValue.num(wd.seconds), "steal_pct" -> JValue.num(wd.stealPct)))),
      "chosen" -> JValue.num(chosen.toLong),
      "window_s" -> JValue.num(windows(chosen).seconds),
      "steal_pct" -> JValue.num(windows(chosen).stealPct),
      "heap_live_mb" -> JValue.num(heapMb),
      "samples" -> JArr(windows.zipWithIndex.flatMap { case (wd, i) =>
        ctx.samples.slice(wd.firstSample, wd.endSample).map(s => JObj(
          "window" -> JValue.num(i.toLong), "op" -> JStr(s.op), "kind" -> JStr(s.kind),
          "at_s" -> JValue.num((s.startNs - t0) / 1e9),
          "ms" -> JValue.num(s.ms), "ok" -> JBool(s.ok),
          "variant" -> JValue.num(s.variant.toLong), "note" -> JStr(s.note)))
      }),
      "answers" -> ctx.answers.toJson,
      "trace_records" -> JArr(ctx.traced.toVector))
    Files.write(Paths.get(a.out), json.render.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

/** One timed window: its length, the steal % inside it and its samples'
  * index range in `Ctx.samples`.
  */
final case class Window(seconds: Double, stealPct: Double, firstSample: Int, endSample: Int)

/** State shared by the workloads of one run. */
final class Ctx(val spark: SparkSession, val args: Harness.Args, val meter: Option[Meter],
    val conn: ConnectionConfig, val expect: JObj) {
  var base = ""
  var windowStartNs = 0L
  val answers = new Answers(s"${args.work}/answers")
  val samples = mutable.ArrayBuffer.empty[Sample]
  val traced = mutable.ArrayBuffer.empty[JValue]

  def tableDir(t: String): String = s"${args.work}/ice/$t"
  def tableDirs(ts: Seq[String]): Map[String, String] = ts.map(t => t -> tableDir(t)).toMap
  def client(): Client = new Client(base)
  def expected(path: String*): JValue =
    path.foldLeft(expect: JValue) { case (o: JObj, k) => o.get(k).getOrElse(sys.error(s"expect: no $k")); case (v, _) => v }
  def expectedLong(path: String*): Long = expected(path: _*) match {
    case JNum(n) => n.toLongExact
    case v => sys.error(s"expect: ${path.mkString(".")} is ${v.render}")
  }

  def record(s: Sample): Unit = samples.synchronized { samples += s }

  /** Runs one timed window of `w`, stamped with the steal % inside it. */
  def window(w: Workload, seconds: Int): Window = {
    val first = samples.size
    val tick0 = Proc.cpuTicks()
    val t0 = System.nanoTime()
    w.timed(t0 + seconds * 1000000000L)
    val secs = (System.nanoTime() - t0) / 1e9
    Window(secs, Proc.stealBetween(tick0, Proc.cpuTicks()), first, samples.size)
  }

  /** Sends `op`, files the answer for the oracle and records the sample.
    * In a traced run the same statement is then replayed step by step and
    * run once more through `Engine.executeQuery` whole.
    */
  def send(c: Client, op: Op, timed: Boolean): Reply = {
    val t0 = System.nanoTime()
    val r = c.query(op)
    val variant = answers.file(op, r)
    if (timed) {
      record(Sample(op.name, "read", t0, r.ms, r.status == 200, variant))
      meter.foreach(m => traced += traceRequest(m, op, r, t0))
    }
    r
  }

  /** The per-layer record of one timed request: the HTTP round trip as
    * the client saw it, the step-by-step replay and one whole
    * `Engine.executeQuery` call, as spans of one request id.
    */
  def traceRequest(m: Meter, op: Op, r: Reply, httpStartNs: Long): JValue = {
    // Alternate which runs first, so neither gets the warmer caches.
    val first = traced.size % 2 == 0
    def whole(): (Long, Long) = {
      val t0 = System.nanoTime()
      try Engine.executeQuery(spark, op.sql, conn, op.rowLimit)
      catch { case _: Engine.EngineError => () }
      (t0, System.nanoTime())
    }
    val pre = if (first) Some(whole()) else None
    val r0 = System.nanoTime()
    val spans = Replay.engine(m, spark, conn, op)
    val r1 = System.nanoTime()
    val (e0, e1) = pre.getOrElse(whole())
    val top = Vector(("http", httpStartNs, httpStartNs + (r.ms * 1e6).toLong), ("replay", r0, r1), ("engine", e0, e1))
    Trace.toJson(traced.size, op.name, spans, windowStartNs, top, JObj(
      "http_ms" -> JValue.num(r.ms),
      "replay_ms" -> JValue.num((r1 - r0) / 1e6),
      "engine_resp_ms" -> r.engineMs.map(JValue.num).getOrElse(JNull),
      "resp_kb" -> JValue.num(r.body.length / 1024.0),
      "total_ms" -> JValue.num((e1 - e0) / 1e6)))
  }
}

object Trace {
  /** One traced request or corpus query. `spans` lists every span with its
    * parent and its start and end in ms from the window start; the steps
    * of `s` are children of the `replay` top span when there is one.
    */
  def toJson(req: Int, name: String, s: Spans, originNs: Long,
      top: Vector[(String, Long, Long)], extra: JObj): JValue = {
    def span(n: String, parent: String, t0: Long, t1: Long) = JObj(
      "name" -> JStr(n), "parent" -> JStr(parent),
      "start_ms" -> JValue.num((t0 - originNs) / 1e6), "end_ms" -> JValue.num((t1 - originNs) / 1e6))
    val stepParent = if (top.exists(_._1 == "replay")) "replay" else "request"
    JObj(Vector(
      "req" -> JValue.num(req.toLong),
      "op" -> JStr(name),
      "failed_at" -> s.failedAt.map(JStr).getOrElse(JNull),
      "steps" -> JObj(s.ms.toVector.map { case (k, v) => k -> JValue.num(v) }),
      "spans" -> JArr(top.map { case (n, a, b) => span(n, "request", a, b) } ++
        s.timeline.map { case (n, a, b) => span(n, stepParent, a, b) }),
      "extra" -> JObj(s.extra.toVector.sortBy(_._1).map { case (k, v) => k -> JValue.num(v) }),
      "counters" -> JObj(s.counters.toVector.sortBy(_._1).map { case (k, c) => k -> JObj(
        "jobs" -> JValue.num(c.jobs), "tasks" -> JValue.num(c.tasks),
        "cpu_ns" -> JValue.num(c.cpuNs), "shuffle_bytes" -> JValue.num(c.shuffleBytes),
        "gc_ms" -> JValue.num(c.gcMs), "read_ops" -> JValue.num(c.readOps),
        "read_bytes" -> JValue.num(c.readBytes))
      })) ++ extra.fields)
  }
}

trait Workload {
  def clients: Int
  /** Base tables this workload reads, written as Iceberg-lite copies. */
  def tables: Seq[String]
  /** The base table a copy is written from, as a frame of `session`. */
  def source(session: SparkSession, table: String): org.apache.spark.sql.DataFrame
  def warm(): Unit
  def timed(deadlineNs: Long): Unit
}

/** Runs `clients` closed loops on their own threads until each returns. */
object Loops {
  def run(clients: Int)(loop: Int => Unit): Unit = {
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until clients).map { i =>
      val t = new Thread(() => try loop(i) catch { case e: Throwable => errors.add(e) })
      t.start(); t
    }
    threads.foreach(_.join())
    Option(errors.peek()).foreach(e => throw e)
  }
}

/** `gw-short`: one client, a seeded mix of statements whose execution
  * takes a few ms, so per-request fixed cost dominates. Each block of six
  * requests holds one statement of each kind, in seeded order, with
  * seeded keys; the window always ends on a whole block.
  */
final class ShortWorkload(ctx: Ctx) extends Workload {
  val clients = 1
  val tables = Seq("orders", "customer", "lineitem", "nation", "region", "documents")
  def source(session: SparkSession, t: String) = Tables.t(session, ctx.args.data, t)
  private val dirs = ctx.tableDirs(tables)
  private val rnd = new Random(ctx.args.seed)
  private val nOrders = ctx.expectedLong("rows", "orders")
  private val nCustomers = ctx.expectedLong("rows", "customer")

  private def op(name: String, duck: String) = Op(name, duck, Binder.bind(duck, dirs)._1, Engine.DefaultRowLimit)

  def block(): Seq[Op] = rnd.shuffle(Seq(
    op("orders_pk", "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, " +
      s"o_orderpriority FROM orders WHERE o_orderkey = ${(rnd.nextDouble() * nOrders).toLong}"),
    op("customer_pk", "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment " +
      s"FROM customer WHERE c_custkey = ${(rnd.nextDouble() * nCustomers).toLong}"),
    op("lineitem_count", "SELECT COUNT(*) AS n FROM lineitem"),
    op("nation_region", "SELECT n_name, r_name FROM nation JOIN region ON n_regionkey = r_regionkey"),
    op("sample_documents", "SELECT doc_id, lang, source, n_chars FROM documents ORDER BY doc_id LIMIT 10"),
    op("select_one", "SELECT 1 AS one")))

  /** Six blocks: JIT warm-up of the request path takes about that long. */
  def warm(): Unit = {
    val c = ctx.client()
    (1 to 6).foreach(_ => block().foreach(ctx.send(c, _, timed = false)))
  }

  def timed(deadlineNs: Long): Unit = {
    val c = ctx.client()
    while (System.nanoTime() < deadlineNs) block().foreach(ctx.send(c, _, timed = true))
  }
}

/** `gw-analytic`: the 46 relational q-corpus statements from four
  * clients, each in its own seeded order. Traced runs use one client.
  */
final class AnalyticWorkload(ctx: Ctx) extends Workload {
  val clients = if (ctx.meter.isDefined) 1 else math.min(4, ctx.args.cores)
  private val bound = Harness.relationalOracle.map { case (name, duck) =>
    (name, duck, Binder.bind(duck, ctx.tableDirs(graft.Tables.names))) }
  val tables = bound.flatMap(_._3._2).distinct.sorted
  def source(session: SparkSession, t: String) = Tables.t(session, ctx.args.data, t)
  private val ops = bound.map { case (name, duck, (sql, _)) => Op(name, duck, sql, Harness.AnalyticRowLimit) }

  def warm(): Unit = Loops.run(clients) { i =>
    val c = ctx.client()
    ops.indices.filter(_ % clients == i).foreach(k => ctx.send(c, ops(k), timed = false))
  }

  /** Every client runs one pass through one fixed shuffle of the
    * statements, the clients a quarter of the cycle apart; the seed sets
    * where the cycle starts. So each seed runs the same pairs of
    * statements side by side, and a run's tail does not hinge on which
    * heavy statements a seed happened to line up. The window is this one
    * pass, whatever the deadline: the live heap grows with the requests
    * served, so a second pass in some runs only would make runs
    * incomparable.
    */
  private val cycle = new Random(0).shuffle(ops)
  def timed(deadlineNs: Long): Unit = Loops.run(clients) { i =>
    val c = ctx.client()
    val start = Math.floorMod(ctx.args.seed + i.toLong * cycle.size / clients, cycle.size.toLong).toInt
    (cycle.drop(start) ++ cycle.take(start)).foreach(ctx.send(c, _, timed = true))
  }
}

/** `gw-ingest`: one loop that commits a 500-row `events` batch with
  * `IcebergLiteWriter.append`, then reads a COUNT(*) that must equal the
  * rows committed so far and a filtered GROUP BY that must equal the
  * committed rows' aggregate; every 20th commit is followed by
  * `POST /api/maintenance/compact`. A read that misses a commit is a
  * failed operation.
  */
final class IngestWorkload(ctx: Ctx, table: String) extends Workload {
  val clients = 1
  val tables = Seq(table)
  private val spark = ctx.spark
  private val dir = ctx.tableDir(table)
  def source(session: SparkSession, t: String) = Tables.t(session, ctx.args.data, "events").coalesce(1)
  private val rnd = new Random(ctx.args.seed)
  private val types = Vector("click", "view", "purchase", "signup", "error")
  private lazy val schema = source(spark, table).schema

  // The committed state: total rows and, for user_id < cut, per
  // event_type (rows, sum of value in cents).
  private var rows = ctx.expectedLong("rows", "events")
  private var nextId = ctx.expectedLong("events", "max_event_id") + 1
  private var nextTsMicros = ctx.expectedLong("events", "max_ts_micros") + 1
  private val nUsers = ctx.expectedLong("events", "max_user_id") + 1
  private val userCut = ctx.expectedLong("events", "user_cut")
  private val groups = mutable.Map.empty[String, (Long, Long)]
  ctx.expected("events", "groups") match {
    case JObj(fs) => fs.foreach { case (t, _) =>
      groups(t) = (ctx.expectedLong("events", "groups", t, "rows"), ctx.expectedLong("events", "groups", t, "cents"))
    }
    case v => sys.error(s"expect: events.groups is ${v.render}")
  }
  private var commits = 0

  private def batch(): org.apache.spark.sql.DataFrame = {
    val data = (0 until Harness.IngestBatchRows).map { _ =>
      val user = (rnd.nextDouble() * nUsers).toLong
      val tpe = types(rnd.nextInt(types.size))
      val cents = 1L + rnd.nextInt(49999)
      nextTsMicros += 1 + rnd.nextInt(1000000)
      if (user < userCut) {
        val (n, s) = groups.getOrElse(tpe, (0L, 0L))
        groups(tpe) = (n + 1, s + cents)
      }
      nextId += 1
      Row(nextId - 1, new java.sql.Timestamp(nextTsMicros / 1000), user, tpe, cents / 100.0,
        s"""{"k": ${rnd.nextInt(100)}}""")
    }
    rows += data.size
    spark.createDataFrame(java.util.Arrays.asList(data: _*), schema).coalesce(1)
  }

  private def op(name: String, duck: String) =
    Op(name, duck, Binder.bind(duck, Map("events" -> dir))._1, Engine.DefaultRowLimit)
  private val countOp = op("events_count", "SELECT COUNT(*) AS n FROM events")
  private val groupOp = op("events_by_type", "SELECT event_type, COUNT(*) AS n, " +
    "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v FROM events " +
    s"WHERE user_id < $userCut GROUP BY event_type")

  private def num(v: JValue): BigDecimal = v match { case JNum(n) => n; case _ => BigDecimal(-1) }

  /** Why the answer is wrong, or "" when it equals the committed state. */
  private def countError(r: Reply): String =
    if (r.status != 200) s"status ${r.status}: ${r.detail}"
    else r.rows match {
      case Vector(JArr(Vector(n))) if num(n) == BigDecimal(rows) => ""
      case other => s"stale count: expected $rows, got ${other.map(_.render).mkString}"
    }

  private def groupError(r: Reply): String =
    if (r.status != 200) s"status ${r.status}: ${r.detail}"
    else {
      val got = r.rows.collect { case JArr(Vector(JStr(t), n, v)) => t -> (num(n), num(v)) }.toMap
      val want = groups.map { case (t, (n, c)) =>
        t -> (BigDecimal(n), BigDecimal(BigDecimal(c, 2).toDouble)) }.toMap
      if (got == want) "" else s"stale group-by: expected $want, got $got"
    }

  private def read(c: Client, op: Op, check: Reply => String, timed: Boolean): Unit = {
    val t0 = System.nanoTime()
    val r = c.query(op)
    val err = check(r)
    if (timed) {
      ctx.record(Sample(op.name, "read", t0, r.ms, err.isEmpty, note = err))
      ctx.meter.foreach(m => ctx.traced += ctx.traceRequest(m, op, r, t0))
    } else if (err.nonEmpty) sys.error(s"warm-up read failed: $err")
  }

  /** Commits one batch; every `compactEvery`-th commit also compacts.
    * `timed` records samples; `traceWrites` records the write layer.
    */
  def commit(c: Client, timed: Boolean, compactEvery: Int, traceWrites: Boolean): Unit = {
    val df = batch()
    val t0 = System.nanoTime()
    IcebergLiteWriter.append(spark, df, dir)
    val appendMs = (System.nanoTime() - t0) / 1e6
    commits += 1
    if (timed) {
      ctx.record(Sample("append", "commit", t0, appendMs, ok = true))
    }
    if (traceWrites && ctx.meter.isDefined) ctx.traced += writeRecord("append", appendMs)
    if (commits % compactEvery == 0) {
      val t1 = System.nanoTime()
      val r = c.compact(dir)
      val ok = r.status == 200
      if (timed) ctx.record(Sample("compact", "compact", t1, r.ms, ok,
        note = if (ok) "" else s"status ${r.status}: ${r.detail}"))
      else if (!ok) sys.error(s"compaction failed: ${r.detail}")
      if (traceWrites && ctx.meter.isDefined) ctx.traced += writeRecord("compact", r.ms)
    }
  }

  private def cycle(c: Client, timed: Boolean): Unit = {
    commit(c, timed, Harness.CompactEvery, traceWrites = timed)
    read(c, countOp, countError, timed)
    read(c, groupOp, groupError, timed)
  }

  /** Write-layer record: the operation's time and the table's state after it. */
  private def writeRecord(kind: String, ms: Double): JValue = {
    val conf = IcebergLite.sessionHadoopConf(spark)
    val meta = IcebergLite.latestMetadataPath(conf, dir).get
    JObj(
      "op" -> JStr(kind),
      "write_ms" -> JValue.num(ms),
      "meta_json_kb" -> JValue.num(meta.getFileSystem(conf).getFileStatus(meta).getLen / 1024.0),
      "live_files" -> JValue.num(IcebergLite.fileEntries(conf, dir).size.toLong))
  }

  /** Half a compaction cycle, so every window holds the compaction at
    * commit 20 and the reads around it.
    */
  def warm(): Unit = {
    val c = ctx.client()
    (1 to Harness.CompactEvery / 2).foreach(_ => cycle(c, timed = false))
  }

  /** Whole cycles until the deadline has passed and the window holds a
    * compaction.
    */
  def timed(deadlineNs: Long): Unit = {
    val c = ctx.client()
    while (System.nanoTime() < deadlineNs || commits < Harness.CompactEvery) cycle(c, timed = true)
  }
}

object IngestWorkload {
  val ProbeCommits = 5

  /** The write layer of a traced run on a workload that does not write:
    * a copy of `events`, five appends and one compaction through the
    * route, recorded like the ingest workload's own.
    */
  def probe(ctx: Ctx): Unit = {
    val w = new IngestWorkload(ctx, "probe_events")
    IcebergLiteWriter.write(ctx.spark, w.source(ctx.spark, "events"), ctx.tableDir("probe_events"))
    val c = ctx.client()
    (1 to ProbeCommits).foreach(_ => w.commit(c, timed = false, ProbeCommits, traceWrites = true))
  }
}

/** `corpus`: the 175 `SparkEntry.queries`, run in-process as
  * `graft.Bench` runs them: one warm sweep, then timed sweeps (at least
  * two, more while the window lasts). Each query's row count must be the
  * same in every sweep. A traced run records every query layer by layer.
  */
final class CorpusWorkload(ctx: Ctx) extends Workload {
  val clients = 1
  val tables = Seq.empty[String]
  def source(session: SparkSession, t: String) = Tables.t(session, ctx.args.data, t)
  private val session = ctx.spark.newSession()
  private val queries = graft.SparkEntry.queries.toVector.sortBy(_._1)
  private val rowCounts = mutable.Map.empty[String, Long]

  /** One sweep; a timed one records a sample per query and one for the sweep. */
  private def sweep(timed: Boolean): Unit = {
    val sweepStart = System.nanoTime()
    queries.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      val (spans, rows, err) =
        try { val (s, n) = Replay.corpusQuery(ctx.meter, session, ctx.args.data, fn); (s, n, "") }
        catch { case e: Exception => (new Spans, -1L, s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val expected = rowCounts.getOrElseUpdate(name, rows)
      val note = if (err.nonEmpty) err else if (rows != expected) s"rows $rows, earlier sweep $expected" else ""
      if (timed) {
        ctx.record(Sample(name, "read", t0, (System.nanoTime() - t0) / 1e6, note.isEmpty, note = note))
        if (ctx.meter.isDefined) ctx.traced += Trace.toJson(ctx.traced.size, name, spans,
          ctx.windowStartNs, Vector.empty, JObj("rows" -> JValue.num(rows)))
      } else if (note.nonEmpty) sys.error(s"warm-up sweep: $name: $note")
    }
    if (timed) ctx.record(Sample("sweep", "sweep", sweepStart, (System.nanoTime() - sweepStart) / 1e6, ok = true))
  }

  def warm(): Unit = sweep(timed = false)

  def timed(deadlineNs: Long): Unit = {
    var sweeps = 0
    while (sweeps < 2 || System.nanoTime() < deadlineNs) { sweep(timed = true); sweeps += 1 }
  }
}

/** Host readings for the run record. */
object Proc {
  /** (total jiffies, steal jiffies) from /proc/stat, summing only the
    * user..steal fields; guest time is already folded into user.
    */
  def cpuTicks(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
      (f.take(8).sum, if (f.length > 7) f(7) else 0L)
    } catch { case _: Exception => (0L, 0L) }

  /** Steal % between two snapshots; -1 when a snapshot failed. */
  def stealBetween(t0: (Long, Long), t1: (Long, Long)): Double =
    if (t0._1 > 0 && t1._1 > t0._1) 100.0 * (t1._2 - t0._2) / (t1._1 - t0._1) else -1.0

  def loadavg(): Vector[Double] =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split(" ").take(3).map(_.toDouble).toVector finally src.close()
    } catch { case _: Exception => Vector.empty }

  /** Heap in use after forced full collections, in MiB. The pauses let
    * Spark's ContextCleaner release what the first collection freed.
    */
  def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => mem.gc(); Thread.sleep(300) }
    mem.gc()
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}
