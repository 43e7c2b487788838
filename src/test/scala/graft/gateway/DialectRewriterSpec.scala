package graft.gateway

import org.scalatest.funsuite.AnyFunSuite

/** Mirrors /root/reference/backend/tests/test_query_conversion.py. */
class DialectRewriterSpec extends AnyFunSuite with graft.SparkFixture {

  private val noCatalog = ConnectionConfig(
    storageType = "minio", endpoint = "http://localhost:9000",
    accessKey = "k", secretKey = "s")
  private val restCatalog = noCatalog.copy(
    catalogType = "rest",
    catalogEndpoint = Some("https://cat/v1"),
    namespace = Some("analytics"))

  test("read_parquet single-star glob becomes iceberg_scan") {
    val in = "SELECT * FROM read_parquet('s3://movies/demo/data/*.parquet')"
    assert(DialectRewriter.convertReadParquet(in, noCatalog) ==
      "SELECT * FROM iceberg_scan('s3://movies/demo/data')")
  }

  test("read_parquet recursive glob becomes iceberg_scan") {
    val in = "SELECT * FROM read_parquet('s3://b/wh/tbl/**/*.parquet')"
    assert(DialectRewriter.convertReadParquet(in, noCatalog) ==
      "SELECT * FROM iceberg_scan('s3://b/wh/tbl')")
  }

  test("read_parquet with REST catalog becomes catalog table ref") {
    val in = "SELECT * FROM read_parquet('s3://b/wh/movies/*.parquet')"
    assert(DialectRewriter.convertReadParquet(in, restCatalog) ==
      "SELECT * FROM iceberg_catalog.analytics.movies")
  }

  test("double quotes and mixed case handled") {
    val in = """SELECT * FROM READ_PARQUET("s3://b/t/*.parquet")"""
    assert(DialectRewriter.convertReadParquet(in, noCatalog) ==
      "SELECT * FROM iceberg_scan('s3://b/t')")
  }

  test("non-matching SQL passes through unchanged") {
    val in = "SELECT * FROM iceberg_scan('s3://b/t') WHERE x = 'read_parquet'"
    assert(DialectRewriter.convertReadParquet(in, noCatalog) == in)
    val local = "SELECT * FROM read_parquet('/local/path/file.parquet')"
    assert(DialectRewriter.convertReadParquet(local, noCatalog) == local)
  }

  test("read_parquet globs inside a literal or a comment stay as written") {
    val in = """SELECT "read_parquet('s3://b/p/*.parquet')" AS s """ +
      "-- read_parquet('s3://b/q/*.parquet')"
    assert(DialectRewriter.convertReadParquet(in, noCatalog) == in)
    assert(DialectRewriter.convertReadParquet(in, restCatalog) == in)
  }

  // --- DuckDB-dialect pre-pass (reference demo SQL, backend/main.py:738-770)

  private def duck(sql: String) = DialectRewriter.convertDuckDbDialect(sql)

  /** A session with graft's functions and the DuckDB functions, a view
    * `t` the rename cases read, and a view `u` with the hosts, delimiters,
    * timestamps and structs the translation cases read.
    */
  private lazy val registered = {
    val s = spark.newSession()
    graft.functions.GraftFunctions.register(s)
    s.sql("SELECT * FROM VALUES ('abc', array(3, 1, 2), array('p', 'q'), 'xabbx', 7), " +
      "('de', array(5), array('r'), 'ac', 2) AS t(x, a, w, s, b)").createOrReplaceTempView("t")
    s.sql("""SELECT * FROM VALUES
      ('www.a.com', 'a||b, c', '|', 'Drama,Comedy', TIMESTAMP '2024-03-07 09:05:01',
        '07/03/2024', array('09:05', '10:00'), named_struct('name', 'n1', 'k', 1)),
      ('x.y', 'p\\Eq\\r', '\\E', 'Crime', TIMESTAMP '1999-12-31 23:59:59',
        '31/12/1999', array('23:59'), named_struct('name', 'n2', 'k', 2))
      AS u(host, x, d, genres, ts, dmy, hm, st)""").createOrReplaceTempView("u")
    s
  }

  /** Same column names, types, nullability and rows from `duckSql` (after
    * the pre-pass) and `sparkSql` on the registered session.
    */
  private def sameAs(duckSql: String, sparkSql: String): Unit = {
    val (d, n) = (registered.sql(duck(duckSql)), registered.sql(sparkSql))
    // Fields without metadata: an explicit alias drops the auto-alias mark.
    def fields(df: org.apache.spark.sql.DataFrame) = df.schema.map(f => (f.name, f.dataType, f.nullable))
    assert(fields(d) == fields(n), duckSql)
    assert(d.collect().toSeq == n.collect().toSeq, duckSql)
  }

  /** DuckDB functions are resolved, not rewritten: the pre-pass leaves
    * `duckSql` as written, and a registered session answers it with the
    * columns, types and rows of `sparkSql`.
    */
  private def renamed(duckSql: String, sparkSql: String): Unit = {
    assert(duck(duckSql) == duckSql)
    sameAs(duckSql, sparkSql)
  }

  /** The message of the IllegalArgumentException the registered session
    * throws while it analyzes `sql`.
    */
  private def rejected(sql: String): String =
    intercept[IllegalArgumentException](registered.sql(duck(sql))).getMessage

  test("the reference's Popular Genres query rewrites to runnable Spark") {
    renamed("SELECT TRIM(genre) as genre, COUNT(*) as count FROM (SELECT " +
      "UNNEST(string_split(genres, ',')) as genre FROM u " +
      "WHERE genres IS NOT NULL) GROUP BY genre ORDER BY count DESC, genre",
      "SELECT TRIM(genre) as genre, COUNT(*) as count FROM (SELECT " +
        "UNNEST(split(genres, ',')) as genre FROM u " +
        "WHERE genres IS NOT NULL) GROUP BY genre ORDER BY count DESC, genre")
  }

  test("duckdb function renames: len, list_transform, list_filter, generate_series") {
    // len resolves to graft's type-dispatching DuckLen, not to Spark's
    // string-only `len` builtin, which would reject len(list_col).
    renamed("SELECT len(x) FROM t", "SELECT length(x) AS `len(x)` FROM t")
    renamed("SELECT len(a) FROM t", "SELECT size(a) AS `len(a)` FROM t")
    renamed("SELECT LIST_TRANSFORM(a, x -> x + 1) FROM t",
      "SELECT transform(a, x -> x + 1) FROM t")
    renamed("SELECT list_filter(a, x -> x > 0) FROM t",
      "SELECT filter(a, x -> x > 0) FROM t")
    renamed("SELECT generate_series(1, 5) AS s", "SELECT sequence(1, 5) AS s")
    renamed("SELECT string_split_regex(x, '[,;]') FROM t",
      "SELECT split(x, '[,;]') FROM t")
    renamed("SELECT list_contains(a, 1), list_distinct(a), list_sort(a) FROM t",
      "SELECT array_contains(a, 1), array_distinct(a), sort_array(a) FROM t")
    renamed("SELECT list_min(a), list_max(a), array_to_string(w, ',') FROM t",
      "SELECT array_min(a), array_max(a), array_join(w, ',') FROM t")
  }

  test("string_split regex-escapes a metachar literal delimiter") {
    // '.' is a regex metachar: a bare rename would split on EVERY char.
    renamed("SELECT string_split(host, '.') FROM u", """SELECT split(host, '\\.') FROM u""")
    assert(registered.sql("SELECT string_split(host, '.') FROM u").collect()
      .map(_.getSeq[String](0)).toSeq == Seq(Seq("www", "a", "com"), Seq("x", "y")))
    renamed("SELECT str_split(x, '||') FROM u", """SELECT split(x, '\\|\\|') FROM u""")
    // Plain delimiters stay clean.
    renamed("SELECT string_to_array(x, ', ') FROM u", "SELECT split(x, ', ') FROM u")
    // An empty delimiter splits into characters, in both engines.
    renamed("SELECT string_split(genres, '') FROM u", "SELECT split(genres, '') FROM u")
  }

  test("string_split reads a backslash delimiter as the value Spark parsed") {
    // Spark unescapes '\.' to '.', as it does for every other literal in
    // the statement (DuckDB would keep both characters).
    renamed("""SELECT string_split(host, '\.') FROM u""", """SELECT split(host, '\\.') FROM u""")
    // '\\' is one backslash.
    renamed("""SELECT string_split(x, '\\') FROM u""", """SELECT split(x, '\\\\') FROM u""")
    assert(registered.sql("""SELECT string_split(x, '\\') FROM u""").collect()
      .map(_.getSeq[String](0)).toSeq == Seq(Seq("a||b, c"), Seq("p", "Eq", "r")))
  }

  test("string_split with a computed delimiter gets the runtime Pattern.quote wrap") {
    renamed("SELECT string_split(x, d) FROM u",
      """SELECT split(x, concat('\\Q', replace(d, '\\E', '\\E\\\\E\\Q'), '\\E')) FROM u""")
    // A delimiter containing \E, the end of a \Q quote, still splits on
    // its literal value.
    assert(registered.sql("SELECT string_split(x, d) FROM u").collect()
      .map(_.getSeq[String](0)).toSeq == Seq(Seq("a", "", "b, c"), Seq("p", "q\\r")))
  }

  test("renames never fire inside string literals, quoted identifiers, or comments") {
    val lit = "SELECT 'len(x) unnest(y)' AS s, \"len\" FROM t -- len(z)"
    assert(duck(lit) == lit)
    val block = "SELECT /* unnest(string_split(a,'.')) */ col FROM t"
    assert(duck(block) == block)
    val translated = "SELECT 'string_split(y, ''.'')' AS s FROM t -- strftime(ts, '%Y')"
    assert(duck(translated) == translated)
    val named = "SELECT 'struct_pack(a := 1)' AS s -- struct_pack(a := 1)"
    assert(duck(named) == named)
    // A bare word (not a call) is a column reference, not a function.
    assert(duck("SELECT len FROM t WHERE unnest = 1") ==
      "SELECT len FROM t WHERE unnest = 1")
  }

  test("spark-dialect SQL passes through the duckdb pre-pass byte-identical") {
    val sqls = Seq(
      "SELECT explode(split(text, ' ')) AS w FROM docs",
      "SELECT transform(a, x -> x * 2), filter(a, x -> x > 0) FROM t",
      "SELECT sequence(1, 10), length(s) FROM t",
      "SELECT count(*) FILTER (WHERE x > 0) FROM t GROUP BY k")
    sqls.foreach(s => assert(duck(s) == s))
  }

  test("nested duckdb constructs rewrite recursively") {
    renamed("SELECT UNNEST(string_split(lower(host), '.')) FROM u",
      """SELECT UNNEST(split(lower(host), '\\.')) FROM u""")
  }

  test("bracket slices with literal bounds become duck_slice; computed bounds pass through") {
    assert(duck("SELECT a[1:3] FROM t") == "SELECT duck_slice(a, 1, 3) FROM t")
    assert(duck("SELECT u.s.v[2:] FROM t") ==
      s"SELECT duck_slice(u.s.v, 2, ${Int.MaxValue}) FROM t")
    assert(duck("SELECT a[:4] FROM t") == "SELECT duck_slice(a, 1, 4) FROM t")
    // Computed bounds are not rewritten (they fail loudly at analysis
    // instead of risking a mis-parse), nor are plain indexes or literals.
    assert(duck("SELECT v[(s*4+1):(s*4+4)] FROM t") == "SELECT v[(s*4+1):(s*4+4)] FROM t")
    assert(duck("SELECT a[1] FROM t") == "SELECT a[1] FROM t")
    assert(duck("SELECT 'a[1:3]' AS s FROM t") == "SELECT 'a[1:3]' AS s FROM t")
  }

  test("r11 renames: arg_min/arg_max, list_value, list_concat, regexp_matches") {
    renamed("SELECT arg_min(x, b), arg_max(x, b) FROM t",
      "SELECT min_by(x, b), max_by(x, b) FROM t")
    renamed("SELECT list_value(1, 2, 3), list_reverse(a) FROM t",
      "SELECT array(1, 2, 3), reverse(a) FROM t")
    // The list builders keep DuckDB's argument order: list_prepend takes
    // (element, list), so Spark's (list, element) order fails analysis.
    val lists = registered.sql(
      "SELECT list_concat(a, a), list_append(a, 1), list_prepend(0, a) FROM t").collect()
    assert(lists.map(r => (0 to 2).map(r.getSeq[Int](_))).toSeq == Seq(
      Seq(Seq(3, 1, 2, 3, 1, 2), Seq(3, 1, 2, 1), Seq(0, 3, 1, 2)),
      Seq(Seq(5, 5), Seq(5, 1), Seq(0, 5))))
    intercept[org.apache.spark.sql.AnalysisException](
      registered.sql("SELECT list_prepend(a, 0) FROM t"))
    renamed("SELECT * FROM t WHERE regexp_matches(s, 'ab+')",
      "SELECT * FROM t WHERE regexp_like(s, 'ab+')")
  }

  test("known-DuckDB functions with no mapping get a precise rejection, not UNRESOLVED_ROUTINE") {
    for (fn <- Seq("list_aggregate", "struct_insert", "list_position")) {
      val msg = rejected(s"SELECT $fn(a, b) FROM t")
      assert(msg == graft.functions.DuckCompat.unsupportedDuckDbMessage(fn), msg)
      assert(msg.contains("list_transform"), msg)
    }
    // Call position only: a bare word is a column, and literals/comments
    // stay silent.
    assert(registered.sql("SELECT strftime FROM (SELECT 1 AS strftime)").collect()
      .map(_.getInt(0)).toSeq == Seq(1))
    registered.sql("SELECT 'strftime(a, b)' AS s FROM t -- struct_pack(x := 1)").collect()
  }

  test("strftime/strptime with literal C formats translate to date_format/to_timestamp") {
    renamed("SELECT strftime(ts, '%Y-%m-%d') FROM u", "SELECT date_format(ts, 'yyyy-MM-dd') FROM u")
    renamed("SELECT strftime(ts, '%Y-%m-%dT%H:%M:%S') FROM u",
      "SELECT date_format(ts, 'yyyy-MM-dd''T''HH:mm:ss') FROM u")
    // Python-ish (format, value) arg order also resolves: the format is
    // the literal argument carrying % codes.
    renamed("SELECT strptime('%d/%m/%Y', dmy) FROM u", "SELECT to_timestamp(dmy, 'dd/MM/yyyy') FROM u")
    // %% is literal text; %-d is the unpadded day; literal letter runs
    // get pattern-quoted.
    renamed("SELECT strftime(ts, '%-d of %B, 100%%') FROM u",
      "SELECT date_format(ts, 'd'' of ''MMMM, 100%') FROM u")
    // Nested dialect in the value argument resolves too.
    renamed("SELECT strptime(list_min(hm), '%H:%M') FROM u",
      "SELECT to_timestamp(list_min(hm), 'HH:mm') FROM u")
    // Spark round-trip sanity on the translated patterns.
    val row = registered.sql(
      "SELECT strftime(TIMESTAMP '2024-03-07 09:05:01', '%Y-%m-%dT%H:%M:%S %p') AS s, " +
        "strptime('07/03/2024', '%d/%m/%Y') AS ts").collect()(0)
    assert(row.getString(0) == "2024-03-07T09:05:01 AM")
    assert(row.getTimestamp(1).toString == "2024-03-07 00:00:00.0")
    // A backslash in the format is read as Spark parsed it: '\\' is one.
    assert(registered.sql("""SELECT strftime(TIMESTAMP '2024-03-07 09:05:01', '%d\\%m')""")
      .collect()(0).getString(0) == "07\\03")
  }

  test("untranslatable strftime keeps a precise rejection naming the reason") {
    // Unknown code.
    val e1 = rejected("SELECT strftime(ts, '%G') FROM u")
    assert(e1.startsWith("unsupported DuckDB function strftime call: "), e1)
    assert(e1.contains("%G"), e1)
    // Computed format.
    val e2 = rejected("SELECT strptime(dmy, host) FROM u")
    assert(e2.contains("string-literal format"), e2)
    // Wrong arity.
    assert(rejected("SELECT strftime(ts) FROM u").contains("takes (value, format); got 1"))
    // The pre-pass leaves every call as written.
    assert(duck("SELECT strftime(ts, '%G') FROM u") == "SELECT strftime(ts, '%G') FROM u")
    // Bare word / literal / comment positions stay silent.
    registered.sql("SELECT 1 AS strftime -- strptime(a, '%Q')").collect()
  }

  test("%y formats via strftime but strptime rejects it (r12 advice: year-base divergence)") {
    // Formatting a two-digit year is value-identical in both engines.
    renamed("SELECT strftime(ts, '%y-%m-%d') FROM u", "SELECT date_format(ts, 'yy-MM-dd') FROM u")
    // Parsing is NOT: C strptime reads 69-99 as 1969-1999; Spark's 'yy'
    // (reduced-year base 2000) reads every two-digit value as 2000-2099
    // — strptime('69-01-01', '%y-%m-%d') would silently become 2069, so
    // the call is rejected naming the divergence.
    val e = rejected("SELECT strptime('69-01-01', '%y-%m-%d') FROM u")
    assert(e.contains("%y"), e)
    assert(e.contains("strftime only"), e)
  }

  test("struct_pack/struct_extract translate to named_struct/field access") {
    assert(duck("SELECT struct_pack(a := 1, b := b + 1) FROM t") ==
      "SELECT struct_pack(a => 1, b => b + 1) FROM t")
    sameAs("SELECT struct_pack(a := 1, b := b + 1) FROM t",
      "SELECT named_struct('a', 1, 'b', b + 1) FROM t")
    renamed("SELECT struct_extract(st, 'name') FROM u", "SELECT (st).name FROM u")
    // Nested dialect inside the field values resolves; nested calls
    // compose (struct_extract over a fresh struct_pack).
    sameAs("SELECT struct_pack(xs := list_min(a)) FROM t",
      "SELECT named_struct('xs', list_min(a)) FROM t")
    sameAs("SELECT struct_extract(struct_pack(a := 1), 'a') AS v",
      "SELECT (named_struct('a', 1)).a AS v")
    val row = registered.sql(duck(
      "SELECT struct_extract(struct_pack(a := 7, b := 'z'), 'a') AS a")).collect()(0)
    assert(row.getInt(0) == 7)
    // Untranslatable shapes keep a precise rejection: positional args,
    // positional extraction and the wrong arity.
    assert(rejected("SELECT struct_pack(a, b) FROM t").contains("name := value"))
    assert(rejected("SELECT struct_pack() FROM t").contains("at least one name := value"))
    assert(rejected("SELECT struct_extract(st, 1) FROM u").contains("string-literal field name"))
    assert(rejected("SELECT struct_extract(st) FROM u").contains("takes (struct, field); got 1"))
    // The oracle corpus's own struct_pack shape (inside a DuckDB lambda)
    // resolves, and the pre-pass is idempotent on it.
    val lam = "SELECT list_transform(sequence(0, size(w) - 1), i -> struct_pack(w1 := w[i])) FROM t"
    assert(duck(lam) ==
      "SELECT list_transform(sequence(0, size(w) - 1), i -> struct_pack(w1 => w[i])) FROM t")
    assert(duck(duck(lam)) == duck(lam))
    sameAs(lam, "SELECT list_transform(sequence(0, size(w) - 1), i -> named_struct('w1', w[i])) FROM t")
  }

  test("epoch_ms/epoch_us rename to unix_millis/unix_micros; epoch/epoch_ns stay rejected") {
    val epochs = "SELECT epoch_ms(TIMESTAMP '2024-03-07 09:05:01.25') AS ms, " +
      "epoch_us(TIMESTAMP '2024-03-07 09:05:01.25') AS us"
    renamed(epochs, epochs.replace("epoch_ms", "unix_millis").replace("epoch_us", "unix_micros"))
    val row = registered.sql(duck(
      "SELECT epoch_ms(TIMESTAMP '1970-01-01 00:00:01.5') AS ms, " +
        "epoch_us(TIMESTAMP '1970-01-01 00:00:01.5') AS us")).collect()(0)
    assert(row.getLong(0) == 1500L && row.getLong(1) == 1500000L)
    for (fn <- Seq("epoch", "epoch_ns"))
      assert(rejected(s"SELECT $fn(ts) FROM u").startsWith(s"unsupported DuckDB function $fn;"))
  }

  test("strptime value literal containing % never swaps with the format argument") {
    // Both args are literals with % codes: arg 2 is the documented
    // format position and must win.
    renamed("SELECT strptime('%12', '%%%H')", "SELECT to_timestamp('%12', '%HH')")
    // A value literal with a stray % plus a COMPUTED second argument is
    // indistinguishable from a Python-ish (format, value) call, so it is
    // tried as one and rejected naming the offending code — deterministic
    // and precise either way.
    assert(rejected("SELECT strptime('sale: 50% off', host) FROM u")
      .contains("has no exact Spark datetime-pattern equivalent"))
  }

  test("the pre-pass is idempotent over the whole oracle corpus") {
    // The corpus' oracle SQL is real DuckDB dialect (struct_pack's `:=`
    // and bracket slices appear). One application must reach a fixpoint,
    // so the gateway can safely re-run the pass on anything.
    val oracles = graft.SparkEntry.oracleSql.values
    assert(oracles.nonEmpty)
    oracles.foreach { sql =>
      val once = duck(sql)
      assert(duck(once) == once, sql.take(80))
    }
    // And it actually fires on that corpus (not vacuous).
    assert(oracles.exists(sql => duck(sql) != sql))
  }
}
