package graft.gateway

import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkFixture, Tables}
import graft.sources.IcebergLiteWriter

/** The gateway's idle session pool: reuse per exact settings map, view
  * hygiene between requests, and the idle bound. Each test keys its own
  * sessions with a settings map no other suite uses.
  */
class SessionPoolSpec extends AnyFunSuite with SparkFixture {

  private def settings(bucket: String, key: String) =
    Map(s"fs.s3a.bucket.$bucket.access.key" -> key)

  private def tempViews(s: org.apache.spark.sql.SparkSession): Seq[String] =
    s.sessionState.catalog.listLocalTempViews("*").map(_.table)

  test("the same settings reuse one session; different settings never share one") {
    val a = settings("pool-reuse", "A")
    val b = settings("pool-reuse", "B")
    val first = SessionPool.withSession(spark, a)(identity)
    assert(SessionPool.withSession(spark, a)(identity) eq first)
    val other = SessionPool.withSession(spark, b)(identity)
    assert(!(other eq first))
    assert(other.conf.get("fs.s3a.bucket.pool-reuse.access.key") == "B")
    assert(SessionPool.withSession(spark, a)(identity) eq first)
    assert(first.conf.get("fs.s3a.bucket.pool-reuse.access.key") == "A")
    // A borrowed session is exclusive: a nested borrow builds another.
    SessionPool.withSession(spark, a) { outer =>
      SessionPool.withSession(spark, a)(inner => assert(!(inner eq outer)))
    }
  }

  test("idle sessions never exceed the request thread count") {
    def holdAll(n: Int, held: List[org.apache.spark.sql.SparkSession]): Unit =
      if (n == 0) assert(held.distinct.length == held.length)
      else SessionPool.withSession(spark, settings("pool-bound", n.toString))(
        s => holdAll(n - 1, s :: held))
    holdAll(Engine.RequestThreads + 4, Nil)
    assert(SessionPool.idleCount <= Engine.RequestThreads)
    (0 until 2 * Engine.RequestThreads).foreach { i =>
      SessionPool.withSession(spark, settings("pool-bound-seq", i.toString))(identity)
      assert(SessionPool.idleCount <= Engine.RequestThreads)
    }
  }

  test("no graft view is left in a pooled session after success or a 400") {
    val dir = tmpDir("pool_hygiene") + "/warehouse/region"
    IcebergLiteWriter.write(spark, Tables.t(spark, sf0001, "region"), dir)
    // An s3 tablePath gives this test's requests their own settings map.
    val cfg = ConnectionConfig("minio", "http://localhost:9000", "k", "s",
      tablePath = Some("s3://pool-hygiene/warehouse/t"))
    val key = Engine.storageSettings(ConnectionConfig.validated(cfg))
    val ok = Engine.executeQuery(spark,
      s"SELECT COUNT(*) AS n FROM iceberg_scan('$dir') JOIN iceberg_files('$dir') ON true", cfg)
    assert(ok.rows.nonEmpty)
    val served = SessionPool.withSession(spark, key) { s =>
      assert(tempViews(s).isEmpty)
      s
    }
    // Analysis fails after the binders have created their views.
    val e = intercept[Engine.EngineError](Engine.executeQuery(spark,
      s"SELECT no_such_column FROM iceberg_scan('$dir')", cfg))
    assert(e.status == 400)
    SessionPool.withSession(spark, key) { s =>
      assert(s eq served)
      assert(tempViews(s).isEmpty)
    }
  }
}
