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

  /** A session with graft's functions and the DuckDB aliases, and a view
    * `t` the rename cases read.
    */
  private lazy val registered = {
    val s = spark.newSession()
    graft.functions.GraftFunctions.register(s)
    s.sql("SELECT * FROM VALUES ('abc', array(3, 1, 2), array('p', 'q'), 'xabbx', 7), " +
      "('de', array(5), array('r'), 'ac', 2) AS t(x, a, w, s, b)").createOrReplaceTempView("t")
    s
  }

  /** DuckDB function names are renamed by resolution, not by text: the
    * pre-pass leaves `duckSql` as written, and a registered session
    * answers it with the columns, types and rows of `sparkSql`.
    */
  private def renamed(duckSql: String, sparkSql: String): Unit = {
    assert(duck(duckSql) == duckSql)
    val (d, n) = (registered.sql(duckSql), registered.sql(sparkSql))
    // Fields without metadata: an explicit alias drops the auto-alias mark.
    def fields(df: org.apache.spark.sql.DataFrame) = df.schema.map(f => (f.name, f.dataType, f.nullable))
    assert(fields(d) == fields(n), duckSql)
    assert(d.collect().toSeq == n.collect().toSeq, duckSql)
  }

  test("the reference's Popular Genres query rewrites to runnable Spark") {
    val in = "SELECT TRIM(genre) as genre, COUNT(*) as count FROM (SELECT " +
      "UNNEST(string_split(genres, ',')) as genre FROM iceberg_scan('s3://m/t') " +
      "WHERE titleType = 'movie' AND genres IS NOT NULL) GROUP BY genre ORDER BY count DESC"
    assert(duck(in) ==
      "SELECT TRIM(genre) as genre, COUNT(*) as count FROM (SELECT " +
        "UNNEST(split(genres, ',')) as genre FROM iceberg_scan('s3://m/t') " +
        "WHERE titleType = 'movie' AND genres IS NOT NULL) GROUP BY genre ORDER BY count DESC")
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
    assert(duck("SELECT string_split(host, '.') FROM t") ==
      """SELECT split(host, '\\.') FROM t""")
    assert(duck("SELECT str_split(x, '||') FROM t") ==
      """SELECT split(x, '\\|\\|') FROM t""")
    // Plain delimiters stay clean.
    assert(duck("SELECT string_to_array(x, ', ') FROM t") ==
      "SELECT split(x, ', ') FROM t")
  }

  test("string_split with a computed delimiter gets the runtime Pattern.quote wrap") {
    val out = duck("SELECT string_split(x, d) FROM t")
    assert(out.contains("split(x, concat('\\\\Q'"))
    assert(out.contains("'\\\\E'"))
  }

  test("renames never fire inside string literals, quoted identifiers, or comments") {
    val lit = "SELECT 'len(x) unnest(y)' AS s, \"len\" FROM t -- len(z)"
    assert(duck(lit) == lit)
    val block = "SELECT /* unnest(string_split(a,'.')) */ col FROM t"
    assert(duck(block) == block)
    val translated = "SELECT 'string_split(y, ''.'')' AS s FROM t -- strftime(ts, '%Y')"
    assert(duck(translated) == translated)
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
    assert(duck("SELECT UNNEST(string_split(lower(genres), '.')) FROM t") ==
      """SELECT UNNEST(split(lower(genres), '\\.')) FROM t""")
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
      val err = intercept[IllegalArgumentException](
        DialectRewriter.rejectUnknownDuckFunctions(s"SELECT $fn(a, b) FROM t"))
      assert(err.getMessage.contains(s"unsupported DuckDB function $fn"), err.getMessage)
      assert(err.getMessage.contains("supported DuckDB-dialect functions"), err.getMessage)
      assert(err.getMessage.contains("list_transform"), err.getMessage)
    }
    // Call position only: a bare word is a column, and literals/comments
    // stay silent.
    DialectRewriter.rejectUnknownDuckFunctions("SELECT strftime FROM t")
    DialectRewriter.rejectUnknownDuckFunctions(
      "SELECT 'strftime(a, b)' AS s FROM t -- struct_pack(x := 1)")
    // The detector never fires on the converted oracle corpus's SPARK
    // side; it is a gateway-only pass. (The pre-pass itself stays total
    // over text containing struct_pack destined for DuckDB — see the
    // idempotence test below.)
  }

  test("strftime/strptime with literal C formats translate to date_format/to_timestamp") {
    assert(duck("SELECT strftime(ts, '%Y-%m-%d') FROM t") ==
      "SELECT date_format(ts, 'yyyy-MM-dd') FROM t")
    assert(duck("SELECT strftime(ts, '%Y-%m-%dT%H:%M:%S') FROM t") ==
      "SELECT date_format(ts, 'yyyy-MM-dd''T''HH:mm:ss') FROM t")
    // Python-ish (format, value) arg order also resolves: the format is
    // the literal argument carrying % codes.
    assert(duck("SELECT strptime('%d/%m/%Y', d) FROM t") ==
      "SELECT to_timestamp(d, 'dd/MM/yyyy') FROM t")
    // %% is literal text; %-d is the unpadded day; literal letter runs
    // get pattern-quoted.
    assert(duck("SELECT strftime(ts, '%-d of %B, 100%%') FROM t") ==
      "SELECT date_format(ts, 'd'' of ''MMMM, 100%') FROM t")
    // Nested dialect in the value argument converts too.
    assert(duck("SELECT strptime(list_min(xs), '%H:%M') FROM t") ==
      "SELECT to_timestamp(list_min(xs), 'HH:mm') FROM t")
    // Spark round-trip sanity on the translated patterns.
    val row = spark.sql(
      duck("SELECT strftime(TIMESTAMP '2024-03-07 09:05:01', '%Y-%m-%dT%H:%M:%S %p') AS s, " +
        "strptime('07/03/2024', '%d/%m/%Y') AS ts")).collect()(0)
    assert(row.getString(0) == "2024-03-07T09:05:01 AM")
    assert(row.getTimestamp(1).toString == "2024-03-07 00:00:00.0")
  }

  test("untranslatable strftime keeps a precise rejection naming the reason") {
    // Unknown code.
    val e1 = intercept[IllegalArgumentException](
      DialectRewriter.rejectUnknownDuckFunctions("SELECT strftime(ts, '%G') FROM t"))
    assert(e1.getMessage.contains("unsupported DuckDB function strftime"), e1.getMessage)
    assert(e1.getMessage.contains("%G"), e1.getMessage)
    // Computed format.
    val e2 = intercept[IllegalArgumentException](
      DialectRewriter.rejectUnknownDuckFunctions("SELECT strptime(a, b) FROM t"))
    assert(e2.getMessage.contains("string-literal format"), e2.getMessage)
    // The convert pass stays TOTAL on untranslatable calls (reject is a
    // separate pass), and translated output is a fixpoint.
    val kept = duck("SELECT strftime(ts, '%G') FROM t")
    assert(kept == "SELECT strftime(ts, '%G') FROM t")
    val once = duck("SELECT strftime(ts, '%Y-%m-%dT%H:%M') FROM t")
    assert(duck(once) == once)
    // Bare word / literal / comment positions stay silent in reject.
    DialectRewriter.rejectUnknownDuckFunctions(
      "SELECT strftime FROM t -- strptime(a, '%Q')")
  }

  test("%y formats via strftime but strptime rejects it (r12 advice: year-base divergence)") {
    // Formatting a two-digit year is value-identical in both engines.
    assert(duck("SELECT strftime(ts, '%y-%m-%d') FROM t") ==
      "SELECT date_format(ts, 'yy-MM-dd') FROM t")
    // Parsing is NOT: C strptime reads 69-99 as 1969-1999; Spark's 'yy'
    // (reduced-year base 2000) reads every two-digit value as 2000-2099
    // — strptime('69-01-01', '%y-%m-%d') would silently become 2069. The
    // convert pass must leave the call untouched and the reject pass must
    // name the divergence.
    val sql = "SELECT strptime('69-01-01', '%y-%m-%d') FROM t"
    assert(duck(sql) == sql)
    val e = intercept[IllegalArgumentException](
      DialectRewriter.rejectUnknownDuckFunctions(sql))
    assert(e.getMessage.contains("%y"), e.getMessage)
    assert(e.getMessage.contains("strftime only"), e.getMessage)
  }

  test("struct_pack/struct_extract translate to named_struct/field access") {
    assert(duck("SELECT struct_pack(a := 1, b := x + 1) FROM t") ==
      "SELECT named_struct('a', 1, 'b', x + 1) FROM t")
    assert(duck("SELECT struct_extract(s, 'name') FROM t") ==
      "SELECT (s).name FROM t")
    // Nested dialect inside the field values converts; nested calls
    // compose (struct_extract over a fresh struct_pack).
    assert(duck("SELECT struct_pack(xs := list_min(v)) FROM t") ==
      "SELECT named_struct('xs', list_min(v)) FROM t")
    assert(duck("SELECT struct_extract(struct_pack(a := 1), 'a') AS v") ==
      "SELECT (named_struct('a', 1)).a AS v")
    // Spark round-trip sanity on the translated forms.
    val row = spark.sql(duck(
      "SELECT struct_extract(struct_pack(a := 7, b := 'z'), 'a') AS a")).collect()(0)
    assert(row.getInt(0) == 7)
    // Untranslatable shapes keep a precise 400: positional args and
    // positional extraction.
    val e1 = intercept[IllegalArgumentException](
      DialectRewriter.rejectUnknownDuckFunctions("SELECT struct_pack(a, b) FROM t"))
    assert(e1.getMessage.contains("name := value"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      DialectRewriter.rejectUnknownDuckFunctions("SELECT struct_extract(s, 1) FROM t"))
    assert(e2.getMessage.contains("string-literal field name"), e2.getMessage)
    // The oracle corpus's own struct_pack (inside a DuckDB lambda)
    // converts idempotently.
    val lam = duck("SELECT list_transform(g, i -> struct_pack(w1 := toks[i])) FROM t")
    assert(lam == "SELECT list_transform(g, i -> named_struct('w1', toks[i])) FROM t")
    assert(duck(lam) == lam)
  }

  test("epoch_ms/epoch_us rename to unix_millis/unix_micros; epoch/epoch_ns stay rejected") {
    val epochs = "SELECT epoch_ms(TIMESTAMP '2024-03-07 09:05:01.25') AS ms, " +
      "epoch_us(TIMESTAMP '2024-03-07 09:05:01.25') AS us"
    renamed(epochs, epochs.replace("epoch_ms", "unix_millis").replace("epoch_us", "unix_micros"))
    val row = registered.sql(duck(
      "SELECT epoch_ms(TIMESTAMP '1970-01-01 00:00:01.5') AS ms, " +
        "epoch_us(TIMESTAMP '1970-01-01 00:00:01.5') AS us")).collect()(0)
    assert(row.getLong(0) == 1500L && row.getLong(1) == 1500000L)
    for (fn <- Seq("epoch", "epoch_ns")) {
      val err = intercept[IllegalArgumentException](
        DialectRewriter.rejectUnknownDuckFunctions(s"SELECT $fn(ts) FROM t"))
      assert(err.getMessage.contains(s"unsupported DuckDB function $fn"), err.getMessage)
    }
  }

  test("strptime value literal containing % never swaps with the format argument") {
    // Both args are literals with % codes: arg 2 is the documented
    // format position and must win.
    assert(duck("SELECT strptime('12%M', '%H:%M') FROM t") ==
      "SELECT to_timestamp('12%M', 'HH:mm') FROM t")
    // A value literal with a stray % plus a COMPUTED second argument is
    // indistinguishable from a Python-ish (format, value) call, so it is
    // tried as one and 400s naming the offending code — deterministic
    // and precise either way.
    val e = intercept[IllegalArgumentException](
      DialectRewriter.rejectUnknownDuckFunctions(
        "SELECT strptime('sale: 50% off', fmt_col) FROM t"))
    assert(e.getMessage.contains("has no exact Spark datetime-pattern equivalent"),
      e.getMessage)
  }

  test("the pre-pass is idempotent over the whole oracle corpus") {
    // The corpus' oracle SQL is real DuckDB dialect (string_split and
    // struct_pack appear). One application must reach a fixpoint: no
    // rewrite emits a name another rewrite translates, so a
    // double-converted statement is byte-identical to a single
    // conversion — the gateway can safely re-run the pass on anything.
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
