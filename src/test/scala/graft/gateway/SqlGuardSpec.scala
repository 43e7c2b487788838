package graft.gateway

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** Mirrors /root/reference/backend/tests/test_sql_validation.py. */
class SqlGuardSpec extends AnyFunSuite with SparkFixture {

  private def ok(sql: String) =
    assert(SqlGuard.validate(spark, sql).isRight, s"expected accept: $sql")
  private def rejected(sql: String) =
    assert(SqlGuard.validate(spark, sql).isLeft, s"expected reject: $sql")

  test("plain SELECT passes") { ok("SELECT 1") }
  test("SELECT with FROM/WHERE passes") {
    ok(s"SELECT r_name FROM parquet.`$sf0001/region.parquet` WHERE r_regionkey > 1")
  }
  test("WITH (CTE) passes") { ok("WITH t AS (SELECT 1 AS a) SELECT * FROM t") }
  test("UNION passes") { ok("SELECT 1 UNION SELECT 2") }
  test("INTERSECT / EXCEPT pass") {
    ok("SELECT 1 INTERSECT SELECT 1")
    ok("SELECT 1 EXCEPT SELECT 2")
  }
  test("VALUES passes") { ok("VALUES (1, 'a'), (2, 'b')") }
  test("joins, windows, subqueries pass") {
    ok("SELECT * FROM a JOIN b ON a.x = b.x")
    ok("SELECT x, RANK() OVER (ORDER BY y) FROM t")
    ok("SELECT * FROM t WHERE x IN (SELECT y FROM u)")
  }

  test("empty and blank input rejected") {
    rejected("")
    rejected("   \n\t")
    rejected(null)
  }
  test("INSERT rejected") { rejected("INSERT INTO t VALUES (1)") }
  test("DELETE rejected") { rejected("DELETE FROM t WHERE x = 1") }
  test("UPDATE rejected") { rejected("UPDATE t SET x = 1") }
  test("MERGE rejected") {
    rejected("MERGE INTO t USING s ON t.id = s.id WHEN MATCHED THEN DELETE")
  }
  test("CREATE rejected") { rejected("CREATE TABLE t (x INT)") }
  test("DROP rejected") { rejected("DROP TABLE t") }
  test("ALTER rejected") { rejected("ALTER TABLE t ADD COLUMN y INT") }
  test("TRUNCATE rejected") { rejected("TRUNCATE TABLE t") }
  test("SET rejected") { rejected("SET spark.sql.shuffle.partitions=1") }
  test("USE rejected") { rejected("USE somedb") }
  test("SHOW rejected (commands are not queries)") { rejected("SHOW TABLES") }
  test("EXPLAIN rejected") { rejected("EXPLAIN SELECT 1") }
  test("CACHE rejected") { rejected("CACHE TABLE t AS SELECT 1") }
  test("ATTACH (not valid Spark SQL) rejected as parse error") {
    rejected("ATTACH 'db' AS x")
  }
  test("multi-statement rejected") { rejected("SELECT 1; SELECT 2") }
  test("garbage rejected without throwing") { rejected("not really sql at all") }
  test("EXECUTE IMMEDIATE rejected, whatever its text") {
    // Analysis would parse and run the text, past the guard.
    Seq("SELECT 1", "SET spark.sql.shuffle.partitions=3", "DROP TABLE t").foreach { inner =>
      val sql = s"EXECUTE IMMEDIATE '$inner'"
      assert(SqlGuard.validate(spark, sql) ==
        Left(SqlGuard.Rejection("EXECUTE IMMEDIATE statements are not allowed")), sql)
    }
  }
  test("mutation nested under a CTE is rejected") {
    rejected("WITH t AS (SELECT 1) INSERT INTO u SELECT * FROM t")
  }
}
