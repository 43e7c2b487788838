package graft.gateway

import java.util.UUID
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.storage.TaskResidue
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkFixture, Tables}
import graft.sources.IcebergLiteWriter

/** Small statements run on the request thread, as tasks of their own, not
  * as Spark jobs; one that keeps a shuffle runs as jobs; either way the
  * request thread and the SparkEnv are left as they were.
  */
class InThreadSpec extends AnyFunSuite with SparkFixture {

  private val cfg = ConnectionConfig(
    storageType = "minio", endpoint = "http://localhost:9000",
    accessKey = "k", secretKey = "s")

  private lazy val tables: Map[String, String] = {
    val root = tmpDir("in_thread")
    Seq("orders", "nation", "region").map { t =>
      val dir = s"$root/warehouse/$t"
      IcebergLiteWriter.write(spark, Tables.t(spark, sf0001, t), dir)
      t -> dir
    }.toMap
  }

  /** `sql` with {o}, {n} and {r} bound to the Iceberg-lite copies. */
  private def gateway(sql: String): String = sql
    .replace("{o}", s"iceberg_scan('${tables("orders")}')")
    .replace("{n}", s"iceberg_scan('${tables("nation")}')")
    .replace("{r}", s"iceberg_scan('${tables("region")}')")

  /** `sql` with {o}, {n} and {r} bound to the source parquet. */
  private def plain(sql: String): String = sql
    .replace("{o}", s"parquet.`$sf0001/orders.parquet`")
    .replace("{n}", s"parquet.`$sf0001/nation.parquet`")
    .replace("{r}", s"parquet.`$sf0001/region.parquet`")

  /** Runs a statement already bound with [[gateway]]. */
  private def run(sql: String): (Engine.QueryResult, Engine.Ran) = {
    var ran: Option[Engine.Ran] = None
    val r = Engine.executeQuery(spark, sql, cfg, Engine.MaxRowLimit,
      onRan = r => ran = Some(r))
    (r, ran.get)
  }

  /** Spark jobs started by this thread while `body` runs. Listener events
    * arrive in order, so once a marker job started after `body` is seen,
    * every job `body` started has been counted.
    */
  private def jobsStarted[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"in-thread-${UUID.randomUUID()}"
    val started = new AtomicInteger()
    @volatile var marked = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).foreach { g =>
          if (g == group) started.incrementAndGet()
          else if (g == s"$group-end") marked = true
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "requests")
      val a = body
      sc.setJobGroup(s"$group-end", "marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!marked && System.nanoTime() < deadline) Thread.sleep(10)
      assert(marked, "the marker job never reached the listener")
      (a, started.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def assertNothingLeft(): Unit = {
    assert(TaskContext.get == null)
    assert(TaskResidue.executionMemoryUsed == 0L)
    assert(TaskResidue.lockedBlocks.isEmpty)
  }

  test("small point lookup, GROUP BY, join, ORDER BY LIMIT, UNION ALL and SELECT 1 start no Spark job") {
    val statements = Seq(
      "SELECT o_orderkey, o_custkey FROM {o} WHERE o_orderkey = 7",
      "SELECT o_orderstatus, COUNT(*) AS n FROM {o} GROUP BY o_orderstatus ORDER BY o_orderstatus",
      "SELECT n_name, r_name FROM {n} JOIN {r} ON n_regionkey = r_regionkey ORDER BY n_name",
      "SELECT o_orderkey, o_totalprice FROM {o} ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
      "SELECT n_name AS name FROM {n} UNION ALL SELECT r_name FROM {r}",
      "SELECT 1 AS one")
    val expected = statements.map(s => spark.sql(plain(s)).collect().toSeq.map(_.toSeq))
    val requests = statements.map(gateway)
    // Count warm requests, as a serving gateway runs them: the first scan
    // of a table reads a data file's footer for its schema, once per file
    // (IcebergLite's footer cache), on the request thread with no job.
    requests.foreach(run)
    val (results, jobs) = jobsStarted(requests.map(run))
    assert(jobs == 0)
    statements.zip(results).zip(expected).foreach { case ((sql, (r, ran)), rows) =>
      assert(ran == Engine.Ran(inThread = true), sql)
      if (sql.contains("UNION ALL")) assert(r.rows.sortBy(_.toString) == rows.sortBy(_.toString), sql)
      else assert(r.rows == rows, sql)
    }
    assertNothingLeft()
  }

  test("a REPARTITION(8) hint keeps a shuffle, so it runs as jobs, with the same rows") {
    val sql = "SELECT /*+ REPARTITION(8) */ o_orderkey, o_custkey FROM {o} " +
      "WHERE o_orderkey < 500 ORDER BY o_orderkey"
    val expected = spark.sql(plain(sql)).collect().toSeq.map(_.toSeq)
    val request = gateway(sql)
    val ((r, ran), jobs) = jobsStarted(run(request))
    assert(ran == Engine.Ran(inThread = false))
    assert(jobs > 0)
    assert(r.rows.nonEmpty)
    assert(r.rows == expected)
    assertNothingLeft()
  }

  test("a success and an execution-time failure leave no task, memory or block lock behind") {
    val (ok, okRan) = run(gateway("SELECT o_custkey, COUNT(*) AS n, SUM(o_totalprice) AS t FROM {o} " +
      "GROUP BY o_custkey ORDER BY n DESC, o_custkey"))
    assert(okRan.inThread)
    assert(ok.rows.nonEmpty)
    assertNothingLeft()
    var ran: Option[Engine.Ran] = None
    val e = intercept[Engine.EngineError](Engine.executeQuery(spark,
      gateway("SELECT o_custkey, SUM(CAST(o_orderstatus AS INT)) AS s FROM {o} GROUP BY o_custkey"),
      cfg, onRan = r => ran = Some(r)))
    assert(e.status == 400)
    assert(e.detail.contains("CAST_INVALID_INPUT"), e.detail)
    assert(ran == Some(Engine.Ran(inThread = true)))
    assertNothingLeft()
  }
}
