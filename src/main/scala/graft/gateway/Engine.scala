package graft.gateway

import scala.util.{Failure, Success, Try}

import org.apache.spark.graft.LocalTasks
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.catalyst.expressions.{CallMethodViaReflection, CodegenObjectFactoryMode, TryReflect}
import org.apache.spark.sql.catalyst.optimizer.InlineCTE
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LocalRelation, LogicalPlan, OneRowRelation, Range}
import org.apache.spark.sql.execution.{CoalesceExec, CollectLimitExec, SQLExecution, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.internal.SQLConf

import graft.sources.{IcebergLite, IcebergLiteFileIndex, IcebergLiteWriter, TableInfo}

/** Per-request query execution (the reference's `run_query` +
  * `_duckdb_connection`, /root/reference/backend/main.py:361-388,567-620).
  *
  * Session model (A7): one long-lived SparkSession per process (JVM/Spark
  * startup is the analog of the reference's extension warmup) and, per
  * request, a child session borrowed EXCLUSIVELY from a small idle pool
  * ([[SessionPool]]). The reference's fresh in-memory DuckDB connection
  * is nearly free; a fresh `newSession()` is not (a new SessionState,
  * function registration, and an artifact directory for Spark's cleaner
  * to delete), so each pooled session is built once and reused:
  *   - a session serves only requests with the same root session and
  *     EXACTLY the same storage settings (compared for equality, never by
  *     hash), so two credential sets never share one; a REST catalog's URI
  *     and token are among those settings;
  *   - before it goes back, its execution-mode confs are restored (below);
  *     a session that cannot be restored is discarded. A request creates
  *     no temp view, so there is nothing else to undo;
  *   - at most [[RequestThreads]] sessions wait idle.
  * Still per request: config validation, the delete guard, the latest-
  * metadata listing of every scanned table under the request's own
  * settings (the parsed metadata and manifests come from
  * `IcebergLite.metadataCache`), rewriting, validation, analysis and
  * execution. `iceberg_scan('path')`, the other path-addressed table
  * functions and REST catalog references are bound during analysis
  * ([[TableFunctions]]), and DuckDB functions such as `unnest`, `len` and
  * `string_split` resolve as Spark functions ([[graft.functions.DuckCompat]]);
  * both are registered once per pooled session. Credential
  * isolation on the shared Hadoop conf is the known hard part (SURVEY.md
  * §7.3): storage settings live only on the session's own conf
  * ([[storageSettings]]).
  *
  * Execution mode: Spark compiles generated Java (Janino) for every
  * distinct plan shape, and its codegen cache holds 100 classes, so a
  * gateway serving many statements recompiles on nearly every request —
  * and a point lookup inlines its key, so even one repeated statement
  * compiles anew. Once a statement is analyzed, [[inputRows]] sums the
  * exact rows of every leaf of the plan and of its subqueries (an
  * Iceberg-lite index's manifest record counts, a local relation's rows,
  * one for `SELECT` without `FROM`, a range's length). Below
  * [[InterpretBelowRows]] the request runs as a small statement
  * ([[SmallStatementConfs]]):
  *   - interpreted: no whole-stage codegen and the interpreted expression
  *     factories, so nothing compiles;
  *   - without adaptive query execution, on one shuffle partition. AQE
  *     buys nothing on so few rows and costs per request: its stage and
  *     exchange pools start a thread per submission up to their caps
  *     (each lives 60 s idle), and its plan updates add metrics and plan
  *     copies to the SQL status store. One partition is what AQE would
  *     coalesce a small shuffle to anyway, and a one-partition range
  *     partitioner skips its sampling job. Joins do not broadcast, so
  *     every join's inputs meet in that one partition;
  *   - on the request thread, not as Spark jobs ([[collectInThread]]):
  *     each one-partition shuffle becomes a coalesce, and a root limit
  *     reads its input as one partition, so when no shuffle is left
  *     (an explicit `REPARTITION(8)` keeps one) the partitions are computed
  *     one after another on this thread, each as a task
  *     ([[org.apache.spark.graft.LocalTasks]]). No job, stage or
  *     task-binary broadcast is paid. Two costs stay on this thread: the
  *     plan's RDDs still clean their closures as they are built
  *     (`HashAggregateExec` through `mapPartitionsWithIndex`,
  *     `SortMergeJoinExec` through `zipPartitions`), and each file scan
  *     still broadcasts its Hadoop conf as its reader is built; an
  *     Iceberg-lite scan broadcasts it without the entries' source arrays
  *     ([[graft.sources.IcebergLiteParquetFormat]]). A subquery or a
  *     broadcast hint still runs its own job while the plan is prepared.
  * At or above the threshold, or when any leaf's size is unknown (a plain
  * parquet path, a flat file), it runs compiled and adaptive, as Spark
  * jobs, on the shuffle-partition count and broadcast threshold the
  * pooled session was created with ([[compiledConfs]]).
  *
  * Restore rule: a pooled session is lent in compiled mode — set when it
  * is created, and set again before it goes back to the pool, whatever
  * the request did — so every statement is analyzed under the same
  * confs (a `REPARTITION` hint reads the shuffle-partition count during
  * analysis) and no mode carries over to the next request. A small
  * statement switches only after its analysis. Task threads read the
  * confs from the request's own job properties, so concurrent requests
  * in different modes do not interfere; an in-thread task reads them from
  * the thread's properties the same way.
  */
object Engine {

  final case class QueryStats(executionTimeMs: Long, bytesScanned: Long, rowsReturned: Long)
  final case class QueryResult(
      columns: Seq[String], rows: Seq[Seq[Any]], stats: QueryStats, truncated: Boolean)
  final case class EngineError(status: Int, detail: String) extends RuntimeException(detail)

  val DefaultRowLimit = 1000
  val MaxRowLimit = 10000

  /** Requests the HTTP gateway serves at once, and so the most idle
    * sessions worth keeping.
    */
  val RequestThreads = 8

  /** Statements reading fewer input rows than this run interpreted. On four
    * cores, a q01-shaped aggregate over 60 000 and 200 000 rows runs faster
    * interpreted than compiled with a codegen cache miss — the usual case
    * once a gateway serves more statement shapes than the cache holds —
    * though slower than with a cache hit; at 600 000 rows codegen wins
    * even when it compiles.
    */
  val InterpretBelowRows = 100000L

  /** The confs a statement below [[InterpretBelowRows]] runs under. The
    * codegen pair goes together: whole-stage codegen alone off would still
    * compile every expression through the same small cache. A broadcast
    * join would run a job to build its table; without it a join's inputs
    * meet in the one shuffle partition, which runs in the request thread.
    */
  private val SmallStatementConfs: Map[String, String] = Map(
    SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key -> "false",
    SQLConf.CODEGEN_FACTORY_MODE.key -> CodegenObjectFactoryMode.NO_CODEGEN.toString,
    SQLConf.ADAPTIVE_EXECUTION_ENABLED.key -> "false",
    SQLConf.SHUFFLE_PARTITIONS.key -> "1",
    SQLConf.AUTO_BROADCASTJOIN_THRESHOLD.key -> "-1")

  /** The same confs as [[SmallStatementConfs]] for a compiled statement on
    * a session created with `shufflePartitions` and `broadcastThreshold`.
    * Set explicitly, never unset: an unset value on a child session falls
    * back to Spark's default, not to the root session's value.
    */
  private[gateway] def compiledConfs(shufflePartitions: String,
      broadcastThreshold: String): Map[String, String] = Map(
    SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key -> "true",
    SQLConf.CODEGEN_FACTORY_MODE.key -> CodegenObjectFactoryMode.FALLBACK.toString,
    SQLConf.ADAPTIVE_EXECUTION_ENABLED.key -> "true",
    SQLConf.SHUFFLE_PARTITIONS.key -> shufflePartitions,
    SQLConf.AUTO_BROADCASTJOIN_THRESHOLD.key -> broadcastThreshold)

  /** How one statement runs. `inputRows` is the exact sum over its leaves,
    * or the name of the first leaf whose row count is unknown.
    */
  final case class ExecutionMode(inputRows: Either[String, Long], interpreted: Boolean) {
    def name: String = if (interpreted) "interpreted" else "compiled"
  }

  /** Where a statement's plan ran: on the request thread, or as Spark jobs. */
  final case class Ran(inThread: Boolean) {
    def name: String = if (inThread) "thread" else "jobs"
  }

  /** Runs one gateway statement; `onMode` hears the execution mode once
    * the statement is analyzed, and `onRan` where it runs once its plan is
    * ready (a statement that fails earlier has none).
    */
  def executeQuery(
      root: SparkSession,
      sql: String,
      config: ConnectionConfig,
      rowLimit: Int = DefaultRowLimit,
      onMode: ExecutionMode => Unit = _ => (),
      onRan: Ran => Unit = _ => ()): QueryResult =
    executeWith(root, sql, config, rowLimit, onMode, InterpretBelowRows, onRan)

  /** [[executeQuery]] with the interpretation threshold as a parameter, so
    * tests can force either mode.
    */
  private[gateway] def executeWith(
      root: SparkSession,
      sql: String,
      config: ConnectionConfig,
      rowLimit: Int,
      onMode: ExecutionMode => Unit,
      interpretBelowRows: Long,
      onRan: Ran => Unit = _ => ()): QueryResult = {
    if (rowLimit > MaxRowLimit)
      throw EngineError(400, s"rowLimit must be <= $MaxRowLimit")
    if (rowLimit < 1)
      throw EngineError(400, "rowLimit must be >= 1")
    // Bounded-cache contract for the long-running gateway: any
    // intermediate an operator persists during this request (tracked via
    // CacheScope) is released once the rows are collected — a request
    // session isolates conf/catalog but NOT the block manager, so
    // without this, persisted blocks would accumulate across requests
    // for the lifetime of the shared SparkContext.
    try {
      val t0 = System.nanoTime()
      val cfg = validated(config)
      SessionPool.withSession(root, storageSettings(cfg))(spark =>
        run(spark, sql, cfg, rowLimit, t0, onMode, interpretBelowRows, onRan))
    } finally graft.ops.CacheScope.releaseCurrent()
  }

  private def run(spark: SparkSession, sql: String, cfg: ConnectionConfig,
      rowLimit: Int, t0: Long, onMode: ExecutionMode => Unit,
      interpretBelowRows: Long, onRan: Ran => Unit): QueryResult = {
    // Delete-guard on the configured direct table path before every query
    // (reference main.py:575-576). Probe failures degrade inside.
    cfg.tablePath.foreach { p =>
      try IcebergLite.assertNoDeletes(spark, p)
      catch { case e: IcebergLite.DeleteGuardError => throw EngineError(400, e.getMessage) }
    }

    // Rewrite text-only, validate, THEN bind: a statement the guard
    // rejects must not trigger catalog HTTP fetches or Iceberg metadata or
    // footer IO as side effects. The table functions bind, and the DuckDB
    // functions resolve or reject their call, inside spark.sql, after
    // validation.
    val rewritten = DialectRewriter.convertCatalogRefs(
      DialectRewriter.convertDuckDbDialect(DialectRewriter.convertReadParquet(sql, cfg)), cfg)

    SqlGuard.validate(spark, rewritten) match {
      case Left(r) => throw EngineError(400, r.message)
      case Right(_) => ()
    }

    val df =
      try spark.sql(rewritten)
      catch { case e: Exception => throw EngineError(400, s"Query execution failed: ${firstLine(e)}") }
    val input = inputRows(df.queryExecution.analyzed)
    val mode = ExecutionMode(input, input.exists(_ < interpretBelowRows))
    // The session arrives in compiled mode; SessionPool restores it.
    if (mode.interpreted) SmallStatementConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    onMode(mode)
    val (limited, injected) = LimitInjector(df, rowLimit)
    // A user-written LIMIT is never overwritten, but collection stays
    // bounded whatever it says: Spark folds this outer limit into the
    // user's, so at most one row past the hard cap is collected — enough
    // to tell a full result from a cut one.
    val collected = if (injected) limited else limited.limit(MaxRowLimit + 1)

    val all =
      try {
        if (mode.interpreted) collectInThread(collected, onRan)
        else { onRan(Ran(inThread = false)); collected.collect() }
      } catch { case e: Exception => throw EngineError(400, s"Query execution failed: ${firstLine(e)}") }
    val rows = if (all.length > MaxRowLimit) all.take(MaxRowLimit) else all

    val elapsedMs = (System.nanoTime() - t0) / 1000000
    val scanned = bytesScanned(collected.queryExecution.executedPlan)
    val bytes =
      if (scanned > 0) scanned
      // Reference-style fallback estimate (main.py:594-595) when no file
      // scan metric is available (e.g. VALUES-only queries).
      else rows.iterator.map(r => String.valueOf(r).length.toLong * 2).sum

    QueryResult(
      columns = limited.columns.toSeq,
      rows = rows.toSeq.map(_.toSeq),
      stats = QueryStats(elapsedMs, bytes, rows.length.toLong),
      truncated = rows.length >= rowLimit)
  }

  /** `df.collect()` for a small statement: as one query execution, so
    * listeners, the SQL status store and conf propagation see what they
    * see for `collect`, but with the plan run on this thread when
    * [[inThreadPlan]] leaves no shuffle in it, and as Spark jobs otherwise.
    */
  private def collectInThread(df: DataFrame, onRan: Ran => Unit): Array[Row] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect")) {
      val decode = ExpressionEncoder(RowEncoder.encoderFor(df.schema)).resolveAndBind()
        .createDeserializer()
      val plan = inThreadPlan(qe.executedPlan)
      val rdd = plan.execute()
      val inThread = LocalTasks.narrow(rdd)
      onRan(Ran(inThread))
      if (inThread) LocalTasks.run(rdd)(_.map(decode).toArray).flatten.toArray
      else plan.executeCollect().map(decode)
    }
  }

  /** A copy of a small statement's executed plan with no stage boundary
    * it can do without: every one-partition shuffle becomes a coalesce of
    * its input, and a root limit reads its input as one partition instead
    * of shuffling it to one.
    */
  private def inThreadPlan(plan: SparkPlan): SparkPlan =
    plan.transformUp {
      case s: ShuffleExchangeExec if s.numPartitions == 1 => CoalesceExec(1, s.child)
    } match {
      case l: CollectLimitExec => l.withNewChildren(Seq(CoalesceExec(1, l.child)))
      case t: TakeOrderedAndProjectExec => t.withNewChildren(Seq(CoalesceExec(1, t.child)))
      case p => p
    }

  /** Exact rows read by every leaf of `plan` and of its subqueries, each
    * CTE counted once per reference; Left names the first leaf whose row
    * count is unknown.
    */
  private def inputRows(plan: LogicalPlan): Either[String, Long] =
    Try(InlineCTE(alwaysInline = true)(plan)).toEither.left.map(_ => "CTE")
      .flatMap(_.collectWithSubqueries { case l: LeafNode => leafRows(l) }
        .foldLeft[Either[String, Long]](Right(0L)) { (acc, n) =>
          for (a <- acc; b <- n) yield if (b > Long.MaxValue - a) Long.MaxValue else a + b
        })

  private def leafRows(leaf: LeafNode): Either[String, Long] = leaf match {
    case r: LogicalRelation => r.relation match {
      case fs: HadoopFsRelation => fs.location match {
        case index: IcebergLiteFileIndex => Right(index.recordCount)
        case index => Left(index.getClass.getSimpleName)
      }
      case other => Left(other.getClass.getSimpleName)
    }
    case r: LocalRelation => Right(r.data.length.toLong)
    case _: OneRowRelation => Right(1L)
    case r: Range => Right(r.numElements.min(Long.MaxValue).toLong)
    case other => Left(other.nodeName)
  }

  /** Result of one maintenance compaction request: the delete-applying
    * rewrite's counts plus the small-file compaction's.
    */
  final case class MaintenanceResult(
      deletesApplied: Boolean, rewriteRewritten: Int, rewriteWritten: Int,
      compactRewritten: Int, compactWritten: Int)

  /** Maintenance endpoints mutate tables, so unlike the read-only query
    * path they are OFF by default; `-Dgraft.gateway.maintenance=true`
    * opts in.
    */
  def maintenanceEnabled: Boolean =
    sys.props.get("graft.gateway.maintenance")
      .exists(v => v == "1" || v.equalsIgnoreCase("true"))

  /** Table maintenance: the delete guard's own remediation ("compact the
    * table first") run in-house — a delete-applying rewrite when the
    * table carries row-level deletes (no-op otherwise), then small-file
    * compaction. Mirrors what the reference documents as an external
    * `rewrite_data_files` call (backend/main.py:398-414).
    */
  def runCompaction(root: SparkSession, config: ConnectionConfig,
      targetBytes: Long = 128L << 20,
      tablePath: Option[String] = None): MaintenanceResult = {
    if (!maintenanceEnabled)
      throw EngineError(403,
        "maintenance is disabled: compaction rewrites table data, so it is " +
          "off by default on this read-only gateway; start with " +
          "-Dgraft.gateway.maintenance=true to enable it")
    val cfg = validated(config)
    // A request-level tablePath (any path iceberg_scan could address —
    // same trust model as the SQL table function) wins over the
    // connection's S3-only tablePath field.
    val path = tablePath.filter(_.nonEmpty).orElse(cfg.tablePath).getOrElse(
      throw EngineError(400, "tablePath is required for compaction"))
    SessionPool.withSession(root, storageSettings(cfg)) { spark =>
      try {
        val rw = IcebergLiteWriter.rewriteApplyingDeletes(spark, path)
        val cp = IcebergLiteWriter.compact(spark, path, targetBytes)
        MaintenanceResult(rw.written > 0, rw.rewritten, rw.written,
          cp.rewritten, cp.written)
      } catch {
        case e: IcebergLite.ProbeError => throw EngineError(400, e.getMessage)
        case e: Exception => throw EngineError(400, s"Compaction failed: ${firstLine(e)}")
      }
    }
  }

  /** The request's connection config, validated; an invalid one is a 400. */
  private def validated(config: ConnectionConfig): ConnectionConfig =
    Try(ConnectionConfig.validated(config)) match {
      case Success(c) => c
      case Failure(e) => throw EngineError(400, e.getMessage)
    }

  /** Apply the request's storage settings as PER-SESSION per-bucket S3A
    * overrides: `fs.s3a.bucket.<bucket>.*` entries on the request
    * session's own conf (each pooled session has an isolated SQLConf and
    * serves one exact settings map). The keys are deliberately UN-prefixed:
    * `SessionState.newHadoopConf` copies every session conf entry into
    * the Hadoop configuration VERBATIM (the `spark.hadoop.` stripping
    * happens only for the static SparkConf at SparkContext startup), so
    * an un-prefixed key is exactly what reaches S3A on Spark's own
    * parquet-read path; a `spark.hadoop.`-prefixed session key would be
    * copied with its prefix intact and never consulted. The Iceberg-lite
    * metadata chain applies the same verbatim merge
    * (IcebergLite.sessionHadoopConf) — so two CONCURRENT requests
    * carrying different credentials for the SAME bucket each resolve
    * their own, and the process-global `sparkContext.hadoopConfiguration`
    * is never mutated (SURVEY.md §7.3's "genuinely hard part"; the
    * reference fixed the analogous shared-connection race with a
    * per-request lock, main.py:262-272 — per-session conf is the
    * shared-nothing version of that fix).
    *
    * The gateway itself sets these through [[SessionPool]], which builds
    * each session with [[storageSettings]]; this entry point stays for
    * callers that configure a session of their own, such as a benchmark
    * harness's traced replay.
    */
  def applyStorageSettings(spark: SparkSession, cfg: ConnectionConfig): Unit =
    storageSettings(cfg).foreach { case (k, v) => spark.conf.set(k, v) }

  /** The session conf entries [[applyStorageSettings]] sets: the S3A
    * overrides when the connection names an `s3://` table path, and the
    * REST catalog entries the catalog table functions read.
    */
  def storageSettings(cfg: ConnectionConfig): Map[String, String] = {
    val s3a = cfg.tablePath.filter(_.startsWith("s3://")).fold(Map.empty[String, String]) { p =>
      val bucket = p.stripPrefix("s3://").takeWhile(_ != '/')
      ConnectionConfig.s3aSettings(cfg).map { case (k, v) =>
        k.replace("fs.s3a.", s"fs.s3a.bucket.$bucket.") -> v
      }
    }
    s3a ++ TableFunctions.catalogSettings(cfg)
  }

  /** Real scan-size metric off the executed plan (vs the reference's
    * acknowledged `len(str(rows)) * 2` placeholder): sum of file-scan
    * `filesSize` metrics, descending through AQE's adaptive root.
    */
  def bytesScanned(plan: SparkPlan): Long =
    planNodes(plan)
      .flatMap(p => p.metrics.get("filesSize").map(_.value).filter(_ > 0))
      .sum

  /** Every node of an executed plan, descending through AQE's adaptive
    * root and its query stages.
    */
  private[gateway] def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: planNodes(a.executedPlan)
    // AQE query stages have no children; the materialized subtree
    // hangs off .plan.
    case q: QueryStageExec => p +: planNodes(q.plan)
    case _ => p +: p.children.flatMap(planNodes)
  }

  /** Connection test orchestration (reference `run_connection_test`,
    * main.py:529-564): REST catalog -> list tables; tablePath -> probe;
    * neither -> probe the bundled demo table. Failures return None — the
    * detail is deliberately not surfaced to unauthenticated callers.
    */
  def runConnectionTest(
      root: SparkSession,
      config: ConnectionConfig,
      demoTablePath: Option[String] = None): Option[TableInfo] =
    Try {
      val cfg = ConnectionConfig.validated(config)
      if (cfg.catalogType == "rest") {
        // List the namespace's tables over the REST catalog API — the
        // analog of the reference's `SHOW TABLES FROM iceberg_catalog.ns`
        // probe after ATTACH (main.py:543-549): any HTTP/parse failure
        // lands in the enclosing Try -> None, like the reference's generic
        // connection-test failure path.
        val ns = cfg.namespace.getOrElse("default")
        graft.sources.RestCatalogClient.fromConfig(cfg).listTables(ns)
        TableInfo(
          path = s"iceberg_catalog.$ns",
          suggestedQuery = s"SHOW TABLES FROM iceberg_catalog.$ns")
      } else {
        // The probe needs the request's credentials exactly like a query
        // does — with strictly per-session settings there is no global
        // fallback that could accidentally make it work.
        SessionPool.withSession(root, storageSettings(cfg)) { spark =>
          cfg.tablePath match {
            case Some(p) => IcebergLite.probe(spark, p)
            case None =>
              val demo = demoTablePath.getOrElse(
                throw IcebergLite.ProbeError("no demo table configured"))
              IcebergLite.scan(spark, demo).limit(1).collect()
              IcebergLite.probe(spark, demo)
          }
        }
      }
    }.toOption

  private def firstLine(e: Throwable): String =
    Option(e.getMessage).map(_.linesIterator.next()).getOrElse(e.getClass.getSimpleName)
}

/** Idle request sessions, each built once: `newSession()`, graft's
  * function registrations less Spark's reflection calls, no SQL on files,
  * and one exact storage-settings map. See the session model on
  * [[Engine]].
  */
private[gateway] object SessionPool {

  /** Sessions are interchangeable only under the SAME root session (by
    * reference) and EXACTLY equal settings maps.
    */
  private final class Key(val root: SparkSession, val settings: Map[String, String]) {
    override def equals(o: Any): Boolean = o match {
      case k: Key => (k.root eq root) && k.settings == settings
      case _ => false
    }
    override def hashCode: Int = System.identityHashCode(root) * 31 + settings.hashCode
  }

  /** An idle session, with the mode confs it is restored to. */
  private final class Pooled(val key: Key, val session: SparkSession,
      val compiled: Map[String, String])

  private val ReflectionCalls =
    Set(classOf[CallMethodViaReflection], classOf[TryReflect]).map(_.getName)

  // Oldest first; guarded by itself.
  private val idle = new java.util.ArrayDeque[Pooled]()

  /** Runs `f` on a session no other request holds meanwhile. */
  def withSession[T](root: SparkSession, settings: Map[String, String])(
      f: SparkSession => T): T = {
    val key = new Key(root, settings)
    val pooled = take(key).getOrElse(create(key))
    try f(pooled.session)
    finally if (restore(pooled)) give(pooled)
  }

  def idleCount: Int = idle.synchronized(idle.size)

  private def take(key: Key): Option[Pooled] = idle.synchronized {
    idle.removeIf(_.key.root.sparkContext.isStopped)
    val it = idle.descendingIterator()
    var found: Option[Pooled] = None
    while (found.isEmpty && it.hasNext) {
      val p = it.next()
      if (p.key == key) { it.remove(); found = Some(p) }
    }
    found
  }

  private def give(pooled: Pooled): Unit = idle.synchronized {
    idle.addLast(pooled)
    while (idle.size > Engine.RequestThreads) idle.removeFirst()
  }

  private def create(key: Key): Pooled = {
    val s = key.root.newSession()
    // Graft's custom expressions (vec_dot, winnow_hashes, duck_slice, ...),
    // the DuckDB function names (unnest, len, list_transform, ...) and the
    // table functions resolve per session; registering here means the
    // gateway works on ANY root session, not only one built with
    // GraftExtensions.
    graft.functions.GraftFunctions.register(s)
    // Read-only, within the flat-file gate: no calls of static JDK methods
    // (reflect, java_method and try_reflect reach System.getenv and
    // System.setProperty) and no `format.`path`` queries, so files are
    // read only through iceberg_scan and the gated readers.
    val registry = s.sessionState.functionRegistry
    registry.listFunction().foreach { f =>
      if (registry.lookupFunction(f).exists(i => ReflectionCalls(i.getClassName)))
        registry.dropFunction(f)
    }
    s.conf.set(SQLConf.RUN_SQL_ON_FILES.key, "false")
    key.settings.foreach { case (k, v) => s.conf.set(k, v) }
    val compiled = Engine.compiledConfs(s.conf.get(SQLConf.SHUFFLE_PARTITIONS.key),
      s.conf.get(SQLConf.AUTO_BROADCASTJOIN_THRESHOLD.key))
    compiled.foreach { case (k, v) => s.conf.set(k, v) }
    new Pooled(key, s, compiled)
  }

  /** Readies a session for its next request by setting its compiled-mode
    * confs again, whatever mode it ran in; false if that failed, so the
    * session is discarded. Nothing else needs undoing: SqlGuard admits no
    * statement that creates a view or changes a conf, and the gateway
    * creates none itself.
    */
  private def restore(p: Pooled): Boolean =
    Try(p.compiled.foreach { case (k, v) => p.session.conf.set(k, v) }).isSuccess
}
