package graft.gateway

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.plans.logical.{RepartitionOperation, View}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkFixture, Tables}
import graft.sources.{IcebergLiteFileIndex, IcebergLiteWriter}

/** The per-request execution mode: statements over few exact input rows
  * run interpreted (nothing compiles) without AQE on one shuffle
  * partition, larger or unsized ones compiled and adaptive on the pooled
  * session's own partition count, and both modes return the same rows.
  */
class ExecutionModeSpec extends AnyFunSuite with SparkFixture {

  private val cfg = ConnectionConfig(
    storageType = "minio", endpoint = "http://localhost:9000",
    accessKey = "k", secretKey = "s")

  private lazy val tables: Map[String, String] = {
    val root = tmpDir("exec_mode")
    Seq("orders", "nation", "region").map { t =>
      val dir = s"$root/warehouse/$t"
      IcebergLiteWriter.write(spark, Tables.t(spark, sf0001, t), dir)
      t -> dir
    }.toMap
  }

  private def run(sql: String, interpretBelowRows: Long = Engine.InterpretBelowRows)
      : (Engine.QueryResult, Engine.ExecutionMode) = {
    var mode: Option[Engine.ExecutionMode] = None
    val r = Engine.executeWith(spark, sql, cfg, Engine.MaxRowLimit, m => mode = Some(m),
      interpretBelowRows)
    (r, mode.get)
  }

  /** Executed plans of the `collect`s run on the session the next request
    * with `cfg` borrows (the newest idle one for its settings).
    */
  private def withPlans[A](body: ConcurrentLinkedQueue[QueryExecution] => A): A = {
    val seen = new ConcurrentLinkedQueue[QueryExecution]()
    // Executions are numbered as they are created. An earlier request's
    // event can still be on the listener bus; only later ones count.
    @volatile var after = Long.MaxValue
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "collect" && qe.id > after) seen.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val session = SessionPool.withSession(spark, Engine.storageSettings(cfg)) { s =>
      s.listenerManager.register(listener)
      after = s.range(1).queryExecution.id
      s
    }
    try body(seen)
    finally session.listenerManager.unregister(listener)
  }

  /** The next query execution `seen` receives; listener events arrive
    * asynchronously.
    */
  private def nextExecution(seen: ConcurrentLinkedQueue[QueryExecution]): QueryExecution = {
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (seen.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    val qe = seen.poll()
    assert(qe != null, "no collect reached the listener")
    qe
  }

  /** The next executed plan `seen` receives. */
  private def nextPlan(seen: ConcurrentLinkedQueue[QueryExecution]): SparkPlan =
    nextExecution(seen).executedPlan

  /** Whether the next executed plan `seen` receives has whole-stage codegen. */
  private def nextCompiled(seen: ConcurrentLinkedQueue[QueryExecution]): Boolean =
    Engine.planNodes(nextPlan(seen)).exists(_.isInstanceOf[WholeStageCodegenExec])

  private def shufflePartitions(plan: SparkPlan): Seq[Int] =
    Engine.planNodes(plan).collect { case s: ShuffleExchangeExec => s.numPartitions }

  /** The shuffle-partition count a new child session of the fixture starts with. */
  private lazy val createdPartitions: Int = {
    val n = spark.newSession().conf.get(SQLConf.SHUFFLE_PARTITIONS.key).toInt
    assert(n > 1, "the fixture must not already run on one partition")
    n
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def lookup(key: Long) =
    s"SELECT o_orderkey, o_custkey FROM iceberg_scan('${tables("orders")}') WHERE o_orderkey = $key"

  test("a small point lookup with a new key compiles nothing and has no whole-stage codegen") {
    val orders = Tables.t(spark, sf0001, "orders").orderBy("o_orderkey")
      .select("o_orderkey", "o_custkey").collect()
    run(lookup(orders(0).getLong(0)))
    withPlans { seen =>
      val before = compiles
      val (r, mode) = run(lookup(orders(7).getLong(0)))
      assert(compiles == before)
      assert(r.rows == Seq(orders(7).toSeq))
      assert(mode == Engine.ExecutionMode(Right(orders.length.toLong), interpreted = true))
      assert(!nextCompiled(seen))
    }
  }

  test("large and unsized inputs are compiled") {
    withPlans { seen =>
      val (big, bigMode) = run("SELECT sum(id) AS s FROM range(200000)")
      assert(big.rows == Seq(Seq(199999L * 200000L / 2)))
      assert(bigMode == Engine.ExecutionMode(Right(200000L), interpreted = false))
      assert(nextCompiled(seen))
      val (_, flatMode) = run(s"SELECT COUNT(*) AS n FROM parquet.`$sf0001/region.parquet`")
      assert(flatMode == Engine.ExecutionMode(Left("InMemoryFileIndex"), interpreted = false))
      assert(nextCompiled(seen))
    }
  }

  test("input rows count subquery plans, and a CTE once per reference") {
    val (_, sub) = run(
      "SELECT COUNT(*) AS n FROM range(10) WHERE id IN (SELECT id FROM range(200000))")
    assert(sub == Engine.ExecutionMode(Right(200010L), interpreted = false))
    val (r, cte) = run(
      "WITH t AS (SELECT id FROM range(60000)) SELECT COUNT(*) AS n FROM t a JOIN t b ON a.id = b.id")
    assert(r.rows == Seq(Seq(60000L)))
    assert(cte == Engine.ExecutionMode(Right(120000L), interpreted = false))
    val (_, one) = run("SELECT 1 AS one")
    assert(one == Engine.ExecutionMode(Right(1L), interpreted = true))
  }

  test("a pooled session that just ran interpreted runs a large statement compiled") {
    withPlans { seen =>
      val (_, small) = run(lookup(1L))
      assert(small.interpreted)
      assert(!nextCompiled(seen))
      val (_, large) = run("SELECT id % 7 AS k, COUNT(*) AS n FROM range(300000) GROUP BY 1")
      assert(!large.interpreted)
      assert(nextCompiled(seen))
      val (_, again) = run(lookup(2L))
      assert(again.interpreted)
      assert(!nextCompiled(seen))
    }
  }

  test("the gateway fixture statements return the same rows in both modes as the root session") {
    assert(spark.conf.get(SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key) == "true")
    val region = s"parquet.`$sf0001/region.parquet`"
    val nation = s"parquet.`$sf0001/nation.parquet`"
    val orders = s"parquet.`$sf0001/orders.parquet`"
    // (gateway statement over the Iceberg-lite copies, the same statement
    // in plain Spark SQL over the source parquet)
    val cases = Seq(
      (s"SELECT r_regionkey, r_name FROM iceberg_scan('${tables("region")}') ORDER BY r_regionkey",
        s"SELECT r_regionkey, r_name FROM $region ORDER BY r_regionkey"),
      (s"WITH t AS (SELECT r_regionkey, r_name FROM iceberg_scan('${tables("region")}')) " +
        "SELECT * FROM t ORDER BY r_regionkey LIMIT 2",
        s"WITH t AS (SELECT r_regionkey, r_name FROM $region) SELECT * FROM t ORDER BY r_regionkey LIMIT 2"),
      (s"SELECT COUNT(*) AS n FROM iceberg_scan('${tables("orders")}')",
        s"SELECT COUNT(*) AS n FROM $orders"),
      (s"SELECT r.r_name, COUNT(*) AS n FROM iceberg_scan('${tables("nation")}') n " +
        s"JOIN iceberg_scan('${tables("region")}') r ON n.n_regionkey = r.r_regionkey " +
        "GROUP BY r.r_name ORDER BY r.r_name",
        s"SELECT r.r_name, COUNT(*) AS n FROM $nation n JOIN $region r " +
        "ON n.n_regionkey = r.r_regionkey GROUP BY r.r_name ORDER BY r.r_name"),
      (s"SELECT o_orderstatus, COUNT(*) AS n, MIN(o_orderdate) AS lo, MAX(o_custkey) AS hi " +
        s"FROM iceberg_scan('${tables("orders")}') GROUP BY o_orderstatus ORDER BY o_orderstatus",
        s"SELECT o_orderstatus, COUNT(*) AS n, MIN(o_orderdate) AS lo, MAX(o_custkey) AS hi " +
        s"FROM $orders GROUP BY o_orderstatus ORDER BY o_orderstatus"),
      (s"SELECT o_custkey, o_orderkey, ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn " +
        s"FROM iceberg_scan('${tables("orders")}') ORDER BY o_orderkey LIMIT 50",
        s"SELECT o_custkey, o_orderkey, ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn " +
        s"FROM $orders ORDER BY o_orderkey LIMIT 50"),
      ("SELECT len('abcde') AS ls, len(string_split('a,b,c', ',')) AS ll",
        "SELECT length('abcde') AS ls, size(split('a,b,c', ',')) AS ll"),
      ("SELECT id FROM range(5) LIMIT 100000000", "SELECT id FROM range(5)"),
      ("SELECT id % 7 AS k, COUNT(*) AS n, SUM(id) AS s FROM range(50000) GROUP BY 1 ORDER BY 1",
        "SELECT id % 7 AS k, COUNT(*) AS n, SUM(id) AS s FROM range(50000) GROUP BY 1 ORDER BY 1"))
    cases.foreach { case (gateway, plain) =>
      val expected = spark.sql(plain).collect().toSeq.map(_.toSeq)
      val (interpreted, im) = run(gateway, interpretBelowRows = Long.MaxValue)
      val (compiled, cm) = run(gateway, interpretBelowRows = 0L)
      assert(im.interpreted && !cm.interpreted, gateway)
      assert(interpreted.rows == expected, gateway)
      assert(compiled.rows == expected, gateway)
    }
    // No request's mode reaches the root session.
    assert(spark.conf.get(SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key) == "true")
  }

  test("a small GROUP BY runs without AQE on one partition; a large statement after it is adaptive") {
    withPlans { seen =>
      val (small, smallMode) = run(s"SELECT o_orderstatus, COUNT(*) AS n " +
        s"FROM iceberg_scan('${tables("orders")}') GROUP BY o_orderstatus ORDER BY o_orderstatus")
      assert(smallMode.interpreted)
      assert(small.rows.map(_.head) == Seq("F", "O", "P"))
      val smallPlan = nextPlan(seen)
      assert(!Engine.planNodes(smallPlan).exists(_.isInstanceOf[AdaptiveSparkPlanExec]))
      assert(shufflePartitions(smallPlan).nonEmpty)
      assert(shufflePartitions(smallPlan).forall(_ == 1))
      // The same pooled session, right after: AQE back on, and the session's
      // creation-time partition count, not the small statement's one.
      val (sum, sumMode) = run("SELECT sum(id) AS s FROM range(200000)")
      assert(!sumMode.interpreted)
      assert(sum.rows == Seq(Seq(199999L * 200000L / 2)))
      assert(nextPlan(seen).isInstanceOf[AdaptiveSparkPlanExec])
      val (_, groupedMode) = run("SELECT id % 7 AS k, sum(id) AS s FROM range(200000) GROUP BY 1")
      assert(!groupedMode.interpreted)
      val grouped = nextPlan(seen)
      assert(grouped.isInstanceOf[AdaptiveSparkPlanExec])
      assert(shufflePartitions(grouped) == Seq(createdPartitions))
    }
  }

  test("a REPARTITION hint analyzed right after a small request gets the session's own count") {
    val (_, small) = run(lookup(3L))
    assert(small.interpreted)
    // The session that small request ran on: the newest idle one for cfg.
    val analyzed = SessionPool.withSession(spark, Engine.storageSettings(cfg))(
      _.sql("SELECT /*+ REPARTITION */ id FROM range(10)").queryExecution.analyzed)
    assert(analyzed.collect { case r: RepartitionOperation => r.numPartitions } == Seq(createdPartitions))
  }

  test("shuffle-heavy fixture statements return the same rows in both modes as the root session") {
    val nation = s"parquet.`$sf0001/nation.parquet`"
    val region = s"parquet.`$sf0001/region.parquet`"
    val orders = s"parquet.`$sf0001/orders.parquet`"
    // (template, with {o}, {n}, {r} standing for orders, nation, region)
    val templates = Seq(
      "SELECT o_orderkey, o_totalprice FROM {o} ORDER BY o_totalprice DESC, o_orderkey",
      "SELECT o_orderkey, o_orderstatus, rk FROM (SELECT o_orderkey, o_orderstatus, " +
        "RANK() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC) AS rk FROM {o}) " +
        "WHERE rk <= 3 ORDER BY o_orderstatus, rk, o_orderkey",
      "SELECT DISTINCT o_custkey FROM {o} ORDER BY o_custkey",
      "SELECT /*+ REPARTITION(o_custkey) */ o_custkey, COUNT(*) AS n, SUM(o_totalprice) AS t " +
        "FROM {o} GROUP BY o_custkey ORDER BY n DESC, o_custkey LIMIT 20",
      "SELECT n_regionkey AS k FROM {n} UNION SELECT r_regionkey FROM {r} ORDER BY k",
      "SELECT r.r_name, COUNT(DISTINCT n.n_nationkey) AS n FROM {r} r LEFT JOIN {n} n " +
        "ON n.n_regionkey = r.r_regionkey AND n.n_nationkey > 5 GROUP BY r.r_name ORDER BY r.r_name")
    templates.foreach { t =>
      def bind(o: String, n: String, r: String) =
        t.replace("{o}", o).replace("{n}", n).replace("{r}", r)
      val gateway = bind(s"iceberg_scan('${tables("orders")}')",
        s"iceberg_scan('${tables("nation")}')", s"iceberg_scan('${tables("region")}')")
      val expected = spark.sql(bind(orders, nation, region)).collect().toSeq.map(_.toSeq)
      val (interpreted, im) = run(gateway, interpretBelowRows = Long.MaxValue)
      val (compiled, cm) = run(gateway, interpretBelowRows = 0L)
      assert(im.interpreted && !cm.interpreted, gateway)
      assert(interpreted.rows == expected, gateway)
      assert(compiled.rows == expected, gateway)
    }
  }

  test("an iceberg_scan request's analyzed plan reads the table with no view in between") {
    withPlans { seen =>
      val (r, _) = run(s"SELECT COUNT(*) AS n FROM iceberg_scan('${tables("region")}')")
      assert(r.rows == Seq(Seq(5L)))
      val analyzed = nextExecution(seen).analyzed
      assert(analyzed.collectWithSubqueries { case v: View => v }.isEmpty)
      assert(analyzed.collect { case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        fs.location.isInstanceOf[IcebergLiteFileIndex] } == Seq(true))
    }
  }
}
