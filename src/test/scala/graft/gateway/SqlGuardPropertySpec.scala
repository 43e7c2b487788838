package graft.gateway

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** Property tests (SURVEY.md §5): validator totality — arbitrary input
  * never throws, mutating statements never pass — and limit-injection
  * idempotence. Generators sampled directly (the scalatest-scalacheck
  * bridge is not in the offline cache) with a fixed seed.
  */
class SqlGuardPropertySpec extends AnyFunSuite with SparkFixture {

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val weirdString: Gen[String] = Gen.oneOf(
    Gen.asciiPrintableStr,
    Gen.listOf(Gen.oneOf("SELECT", "FROM", ";", "'", "--", "(", ")", "1", "x",
      "DROP", "WHERE", "\n", " ", "/*")).map(_.mkString(" ")))

  test("validator is total: never throws on arbitrary input (200 samples)") {
    samples(weirdString, 200).foreach { s =>
      SqlGuard.validate(spark, s) // Either, never an exception
    }
  }

  private val mutationGen: Gen[String] = for {
    table <- Gen.identifier.suchThat(_.nonEmpty).map(_.take(10))
    stmt <- Gen.oneOf(
      "DROP TABLE %s", "DELETE FROM %s", "TRUNCATE TABLE %s",
      "INSERT INTO %s VALUES (1)", "UPDATE %s SET a = 1",
      "CREATE TABLE %s (a INT)", "ALTER TABLE %s ADD COLUMN b INT")
    // The same statement run as text, which analysis would parse unguarded.
    wrap <- Gen.oneOf("%s", "EXECUTE IMMEDIATE '%s'")
  } yield wrap.format(stmt.format(table))

  test("mutating statements never pass, for any table name (100 samples)") {
    samples(mutationGen, 100).foreach { sql =>
      assert(SqlGuard.validate(spark, sql).isLeft, sql)
    }
  }

  test("limit injection is idempotent at the plan level") {
    val df = spark.sql(s"SELECT r_name FROM parquet.`$sf0001/region.parquet`")
    val (once, injected1) = LimitInjector(df, 7)
    val (twice, injected2) = LimitInjector(once, 7)
    assert(injected1 && !injected2)
    assert(once.queryExecution.logical == twice.queryExecution.logical)
  }

  private val duckishString: Gen[String] = Gen.oneOf(
    Gen.asciiPrintableStr,
    Gen.listOf(Gen.oneOf("SELECT", "unnest", "(", ")", "string_split", "'",
      "len", "list_transform", ",", "''", "--", "/*", "*/", "\"", "x", "1",
      "generate_series", "\\", "\n", " ")).map(_.mkString(" ")))

  test("duckdb dialect pre-pass is total and idempotent on arbitrary input (300 samples)") {
    // Arbitrary garbage — unbalanced quotes, dangling parens, half-open
    // comments — must never throw, and a second application must be a
    // no-op (the gateway may re-run the pass on already-converted SQL).
    samples(duckishString, 300).foreach { s =>
      val once = DialectRewriter.convertDuckDbDialect(s)
      assert(DialectRewriter.convertDuckDbDialect(once) == once, s)
    }
  }
}
