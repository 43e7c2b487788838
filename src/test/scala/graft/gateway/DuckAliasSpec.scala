package graft.gateway

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, TableFunctionRegistry}
import org.apache.spark.sql.types.{ArrayType, IntegerType}

import graft.SparkFixture
import graft.functions.{DuckCompat, DuckLen, GraftFunctions}

/** The DuckDB function names that resolve as Spark functions through each
  * pooled session's function registry ([[DuckCompat]]), run end to end
  * through [[Engine.executeQuery]].
  */
class DuckAliasSpec extends AnyFunSuite with SparkFixture {

  private val cfg = ConnectionConfig(
    storageType = "minio", endpoint = "http://localhost:9000",
    accessKey = "k", secretKey = "s")

  private def query(sql: String) = Engine.executeQuery(spark, sql, cfg)

  /** A session with the aliases, for the analyzed schema (types and
    * nullability), which a query result does not carry.
    */
  private lazy val registered = {
    val s = spark.newSession()
    GraftFunctions.register(s)
    s
  }

  /** Analyzed name, type and nullability of each column. Field metadata
    * is left out: an explicit alias drops the auto-generated-alias mark.
    */
  private def fields(sql: String) =
    registered.sql(sql).schema.map(f => (f.name, f.dataType, f.nullable))

  /** Same column names, schema and rows; the runtime classes of the values
    * too, since `==` on boxed numbers equates 3 and 3L.
    */
  private def assertSameResult(duck: String, native: String): Unit = {
    val (d, n) = (query(duck), query(native))
    assert(d.columns == n.columns, duck)
    assert(d.rows == n.rows, duck)
    assert(d.rows.map(_.map(v => Option(v).map(_.getClass))) ==
      n.rows.map(_.map(v => Option(v).map(_.getClass))), duck)
    assert(fields(duck) == fields(native), duck)
  }

  /** Each alias, its Spark target, and a statement calling it as `FN`. */
  private val aliases: Seq[(String, String, String)] = Seq(
    ("unnest", "explode", "SELECT FN(array(1, 2, 3))"),
    ("list_transform", "transform", "SELECT FN(array(1, 2, 3), x -> x * 10)"),
    ("list_filter", "filter", "SELECT FN(array(1, 2, 3), x -> x > 1)"),
    ("generate_series", "sequence", "SELECT FN(1, 5)"),
    ("string_split_regex", "split", "SELECT FN('a1b22c', '[0-9]+')"),
    ("str_split_regex", "split", "SELECT FN('a.b|c', '[.|]')"),
    ("list_contains", "array_contains", "SELECT FN(array(1, 2, 3), 2), FN(array(1), 5)"),
    ("list_distinct", "array_distinct", "SELECT FN(array(1, 1, 2, NULL, NULL))"),
    ("list_sort", "sort_array", "SELECT FN(array(3, 1, 2))"),
    ("list_min", "array_min", "SELECT FN(array(3, 1, 2))"),
    ("list_max", "array_max", "SELECT FN(array(3, 1, 2))"),
    ("array_to_string", "array_join", "SELECT FN(array('a', 'b', 'c'), '-')"),
    ("arg_min", "min_by", "SELECT FN(k, v) FROM VALUES ('a', 2), ('b', 1), ('c', 3) AS t(k, v)"),
    ("arg_max", "max_by", "SELECT FN(k, v) FROM VALUES ('a', 2), ('b', 1), ('c', 3) AS t(k, v)"),
    ("epoch_ms", "unix_millis", "SELECT FN(TIMESTAMP '1970-01-01 00:00:01.5')"),
    ("epoch_us", "unix_micros", "SELECT FN(TIMESTAMP '1970-01-01 00:00:01.5')"),
    ("list_value", "array", "SELECT FN(1, 2, 3)"),
    ("list_reverse", "reverse", "SELECT FN(array(1, 2, 3))"),
    ("regexp_matches", "regexp_like", "SELECT FN('abbc', 'b+'), FN('ac', 'b+')"))

  /** The list builders, each call with DuckDB 1.0.0's answer. */
  private val listCalls: Seq[(String, Seq[Any])] = Seq(
    "list_prepend(0, array(1, 2))" -> Seq(0, 1, 2),
    "list_prepend(NULL, array(1))" -> Seq(null, 1),
    "list_prepend(1, CAST(NULL AS ARRAY<INT>))" -> Seq(1),
    "list_prepend(NULL, CAST(NULL AS ARRAY<INT>))" -> Seq(null),
    "list_append(array(1, 2), 3)" -> Seq(1, 2, 3),
    "list_append(CAST(NULL AS ARRAY<INT>), 1)" -> Seq(1),
    "list_append(CAST(NULL AS ARRAY<INT>), NULL)" -> Seq(null),
    "list_concat(array(1), array(2, 3))" -> Seq(1, 2, 3),
    "list_concat(CAST(NULL AS ARRAY<INT>), array(1))" -> Seq(1),
    "list_concat(array(1), CAST(NULL AS ARRAY<INT>))" -> Seq(1),
    "list_concat(CAST(NULL AS ARRAY<INT>), CAST(NULL AS ARRAY<INT>))" -> null)

  test("each DuckDB name returns its Spark target's columns, types and rows") {
    val renames = "len" +: (aliases.map(_._1) ++ listCalls.map(_._1.takeWhile(_ != '(')))
    assert(renames.toSet.size == 23)
    assert(renames.forall(DuckCompat.names.contains))
    aliases.foreach { case (name, target, statement) =>
      assertSameResult(statement.replace("FN", name), statement.replace("FN", target))
    }
  }

  test("list_prepend, list_append and list_concat answer as DuckDB does") {
    listCalls.foreach { case (call, expected) =>
      val r = query(s"SELECT $call")
      assert(r.columns == Seq(call.replace("CAST(NULL AS ARRAY<INT>)", "NULL")), call)
      assert(r.rows == Seq(Seq(expected)), call)
      assert(fields(s"SELECT $call AS v").map(_._2.asInstanceOf[ArrayType].elementType) ==
        Seq(IntegerType), call)
    }
    // Inside a lambda, the list is a lambda variable.
    assert(query("SELECT transform(array(array(1), CAST(NULL AS ARRAY<INT>)), " +
      "x -> list_prepend(0, x)) AS v").rows == Seq(Seq(Seq(Seq(0, 1), Seq(0)))))
  }

  test("len is string length for strings and binaries, cardinality for arrays") {
    val r = query("SELECT len('abcde'), len(X'0102'), len(array(1, 2, 3)), " +
      "len(CAST(NULL AS STRING))")
    assert(r.columns == Seq("len(abcde)", "len(X'0102')", "len(array(1, 2, 3))",
      "len(CAST(NULL AS STRING))"))
    assert(r.rows == Seq(Seq(5, 2, 3, null)))
    assert(registered.sql("SELECT len('abcde') AS a, len(X'0102') AS b, len(array(1)) AS c")
      .schema == registered.sql("SELECT length('abcde') AS a, length(X'0102') AS b, " +
        "size(array(1)) AS c").schema)
    // Spark-dialect len keeps the builtin's name, type and value.
    val builtin = spark.newSession().sql("SELECT len('abc'), length('abc') AS n")
    val viaGateway = query("SELECT len('abc'), length('abc') AS n")
    assert(viaGateway.columns == builtin.columns.toSeq)
    assert(viaGateway.rows == builtin.collect().toSeq.map(_.toSeq))
    assert(registered.sql("SELECT len('abc'), length('abc') AS n").schema == builtin.schema)
  }

  test("unnest works in SELECT and in FROM") {
    assertSameResult("SELECT unnest(array(1, 2, 3)) AS x",
      "SELECT explode(array(1, 2, 3)) AS x")
    val from = query("SELECT * FROM unnest(array(1, 2, 3)) AS t(x) WHERE x > 1")
    assert(from.columns == Seq("x"))
    assert(from.rows == Seq(Seq(2), Seq(3)))
    assertSameResult("SELECT * FROM unnest(array(1, 2, 3)) AS t(x) WHERE x > 1",
      "SELECT * FROM explode(array(1, 2, 3)) AS t(x) WHERE x > 1")
    // The reference's demo shape: unnest over the DuckDB split.
    val demo = query("SELECT UNNEST(string_split('Drama,Comedy', ',')) AS genre")
    assert(demo.rows == Seq(Seq("Drama"), Seq("Comedy")))
  }

  test("lambdas and upper- or mixed-case names resolve through the aliases") {
    assertSameResult(
      "SELECT LIST_TRANSFORM(array(1, 2), x -> x + 1), " +
        "List_Filter(array(1, 2, 3), x -> x % 2 = 1)",
      "SELECT TRANSFORM(array(1, 2), x -> x + 1), Filter(array(1, 2, 3), x -> x % 2 = 1)")
    assertSameResult("SELECT LEN(array(1, 2)), Len('ab')",
      "SELECT size(array(1, 2)) AS `len(array(1, 2))`, length('ab') AS `len(ab)`")
    assertSameResult(
      "SELECT ARG_MAX(k, v) FROM VALUES ('a', 2), ('b', 1) AS t(k, v)",
      "SELECT MAX_BY(k, v) FROM VALUES ('a', 2), ('b', 1) AS t(k, v)")
  }

  test("a second register replaces nothing") {
    val s = spark.newSession()
    val fr = s.sessionState.functionRegistry
    val tfr = s.sessionState.tableFunctionRegistry
    def builders = DuckCompat.names.map(n => fr.lookupFunctionBuilder(FunctionIdentifier(n)).get) :+
      tfr.lookupFunctionBuilder(FunctionIdentifier("unnest")).get
    val builtinLen = fr.lookupFunctionBuilder(FunctionIdentifier("len")).get
    GraftFunctions.register(s)
    val first = builders
    // The first registration replaces Spark's string-only len ...
    assert(!(first.head eq builtinLen))
    assert(fr.lookupFunction(FunctionIdentifier("len")).get.getClassName == classOf[DuckLen].getName)
    // ... and a second one leaves every builder as the first one set it.
    GraftFunctions.register(s)
    first.zip(builders).foreach { case (a, b) => assert(a eq b) }
  }

  test("no DuckDB name shadows a Spark builtin except len") {
    assert(DuckCompat.names.size == 43)
    assert(DuckCompat.names.filter(n =>
      FunctionRegistry.builtin.functionExists(FunctionIdentifier(n))) == Seq("len"))
    assert(!TableFunctionRegistry.builtin.functionExists(FunctionIdentifier("unnest")))
  }

  test("every name the unsupported-function message advertises resolves") {
    val msg = DuckCompat.unsupportedDuckDbMessage("list_aggregate")
    assert(msg == "unsupported DuckDB function list_aggregate; supported DuckDB-dialect " +
      "functions: arg_max, arg_min, array_to_string, epoch_ms, epoch_us, generate_series, " +
      "len, list_append, list_concat, list_contains, list_distinct, list_filter, list_max, " +
      "list_min, list_prepend, list_reverse, list_sort, list_transform, list_value, " +
      "regexp_matches, str_split, str_split_regex, string_split, string_split_regex, " +
      "string_to_array, unnest; plus strftime/strptime with a string-literal format, " +
      "read_csv/read_json/read_parquet single-path forms, iceberg_scan/iceberg_* table " +
      "functions, and bracket slices x[i:j]")
    val advertised = msg.split("supported DuckDB-dialect functions: ")(1)
      .split("; plus")(0).split(", ").toSeq
    val samples = aliases.map { case (name, _, statement) => name -> statement.replace("FN", name) }
      .toMap ++ listCalls.map { case (call, _) => call.takeWhile(_ != '(') -> s"SELECT $call" } ++
      Seq("string_split", "str_split", "string_to_array")
      .map(n => n -> s"SELECT $n('a,b', ',')") + ("len" -> "SELECT len('abc')")
    assert(advertised.toSet == samples.keySet)
    advertised.foreach(name => assert(query(samples(name)).rows.nonEmpty, name))
  }
}
