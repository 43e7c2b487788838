package graft.gateway

import scala.util.matching.Regex

import org.apache.spark.sql.SparkSession

/** SQL-string rewrites performed before parsing, mirroring the reference's
  * `_convert_to_iceberg_query` (reference backend/main.py:426-449).
  * None fires inside a string literal, a quoted identifier or a comment.
  *
  * 1. read_parquet over an s3 parquet glob (legacy escape hatch) ->
  *    `iceberg_scan('s3://bucket/path')`, or a
  *    `iceberg_catalog.<ns>.<table>` reference when a REST catalog is
  *    configured (table name = last path segment).
  * 2. REST catalog references -> `iceberg_catalog_scan('ns', 'tbl')`
  *    and `iceberg_catalog_tables('ns')` calls ([[convertCatalogRefs]]).
  * 3. The DuckDB-dialect pre-pass ([[convertDuckDbDialect]]): `:=` and
  *    bracket slices.
  *
  * Each is a text rewrite because Spark cannot parse what it replaces: a
  * dotted `iceberg_catalog` reference names no Spark catalog, and
  * DuckDB's `:=` and `x[i:j]` are not Spark syntax. DuckDB functions
  * (`unnest`, `len`, `string_split`, `strftime`, `struct_pack`, ...) are
  * not rewritten: [[graft.functions.DuckCompat]] registers them in each
  * session's function registry. `iceberg_scan('path')`, the other
  * path-addressed table functions and the two catalog functions are Spark
  * table-valued functions ([[TableFunctions]]), bound while Spark
  * analyzes the statement.
  */
object DialectRewriter {

  // Same shape as the reference's pattern (main.py:430): bucket, inner
  // path, optional glob tail, case-insensitive, ' or " quotes.
  private val ReadParquetRe: Regex =
    """(?i)read_parquet\(['"]s3://([^/'"]+)/([^'"]+?)/?\*?\*?/?\*?\.parquet['"]\)""".r

  /** Rewrite 1: legacy read_parquet globs to the Iceberg surface. */
  def convertReadParquet(sql: String, config: ConnectionConfig): String =
    replaceOutsideLiterals(ReadParquetRe, sql)(m => {
      val bucket = m.group(1)
      val path = m.group(2).reverse.dropWhile(c => c == '*' || c == '/').reverse
      val replacement =
        if (config.catalogType == "rest") {
          val tableName = path.split('/').last
          s"iceberg_catalog.${config.namespace.getOrElse("default")}.$tableName"
        } else s"iceberg_scan('s3://$bucket/$path')"
      Regex.quoteReplacement(replacement)
    })

  // `iceberg_catalog.<ns>.<table>` references and the reference's
  // suggested `SHOW TABLES FROM iceberg_catalog.<ns>` probe (A9).
  private val CatalogRefRe: Regex =
    """(?i)\biceberg_catalog\.([A-Za-z_][A-Za-z0-9_]*)\.([A-Za-z_][A-Za-z0-9_]*)""".r
  private val ShowTablesRe: Regex =
    """(?i)SHOW\s+TABLES\s+(?:FROM|IN)\s+iceberg_catalog\.([A-Za-z_][A-Za-z0-9_]*)""".r

  /** Rewrite 2 (REST catalogs only): `SHOW TABLES FROM iceberg_catalog.ns`
    * becomes `SELECT namespace, tableName FROM iceberg_catalog_tables('ns')`
    * and each `iceberg_catalog.ns.tbl` reference becomes
    * `iceberg_catalog_scan('ns', 'tbl')`: table functions
    * ([[TableFunctions]]) that reach the catalog while Spark analyzes the
    * statement, the analog of the reference's ATTACH'd catalog
    * (main.py:317-358).
    */
  def convertCatalogRefs(sql: String, config: ConnectionConfig): String =
    if (config.catalogType != "rest") sql
    else {
      val afterShow = replaceOutsideLiterals(ShowTablesRe, sql)(m => Regex.quoteReplacement(
        s"SELECT namespace, tableName FROM iceberg_catalog_tables('${m.group(1)}')"))
      replaceOutsideLiterals(CatalogRefRe, afterShow)(m => Regex.quoteReplacement(
        s"iceberg_catalog_scan('${m.group(1)}', '${m.group(2)}')"))
    }

  /** [[convertCatalogRefs]] with no binders. Its only caller is
    * perfbench's traced replay (`Trace.engine`); the ROADMAP item 1
    * `[benchmark]` change, which makes the trace read the engine's own
    * phases, deletes it.
    */
  def plan(spark: SparkSession, sql: String, config: ConnectionConfig)
      : (String, Seq[() => Unit]) = (convertCatalogRefs(sql, config), Nil)

  /** Index ranges of string literals, quoted identifiers, and comments —
    * rewrites must not fire (and reach a catalog) for text that is not
    * code, e.g. `-- iceberg_catalog.ns.t` or a data literal mentioning
    * `read_parquet('s3://...')`.
    */
  private def protectedRanges(sql: String): IndexedSeq[(Int, Int)] = {
    val out = IndexedSeq.newBuilder[(Int, Int)]
    var i = 0
    val n = sql.length
    while (i < n) {
      val c = sql.charAt(i)
      if (c == '\'' || c == '"') {
        val j = skipQuoted(sql, i); out += ((i, j)); i = j
      } else if (c == '-' && i + 1 < n && sql.charAt(i + 1) == '-') {
        val j = sql.indexOf('\n', i) match { case -1 => n; case k => k }
        out += ((i, j)); i = j
      } else if (c == '/' && i + 1 < n && sql.charAt(i + 1) == '*') {
        val j = sql.indexOf("*/", i + 2) match { case -1 => n; case k => k + 2 }
        out += ((i, j)); i = j
      } else i += 1
    }
    out.result()
  }

  /** replaceAllIn, except matches that START inside a protected range are
    * left untouched.
    */
  private def replaceOutsideLiterals(re: Regex, sql: String)(
      f: Regex.Match => String): String = {
    val ranges = protectedRanges(sql)
    re.replaceAllIn(sql, m =>
      if (ranges.exists { case (a, b) => m.start >= a && m.start < b })
        Regex.quoteReplacement(m.matched)
      else f(m))
  }

  /** A no-op: DuckDB functions with no Spark form are rejected while
    * Spark analyzes the statement ([[graft.functions.DuckCompat]]). Its
    * only caller is perfbench's traced replay (`Trace.engine`); the
    * ROADMAP item 1 `[benchmark]` change stops calling it and deletes it.
    */
  def rejectUnknownDuckFunctions(sql: String): Unit = ()

  private val NamedArgRe: Regex = ":=".r

  /** Rewrite 3: DuckDB-dialect pre-pass. The reference's declared contract
    * is "any read-only DuckDB SELECT" (backend/main.py:95-100), so real
    * cloudfloe SQL must run verbatim. DuckDB function calls need no text
    * pass: [[graft.functions.DuckCompat]] resolves them in each session's
    * function registry. Two DuckDB spellings are not Spark syntax and are
    * rewritten outside literals and comments: the named-argument `:=`
    * (`struct_pack(a := 1)`) becomes Spark's `=>`, and bracket slices
    * become `duck_slice` calls ([[convertSlices]]).
    */
  def convertDuckDbDialect(sql: String): String =
    convertSlices(replaceOutsideLiterals(NamedArgRe, sql)(_ => "=>"))

  /** DuckDB's bracket-slice syntax `x[i:j]` (1-based, inclusive bounds;
    * open ends `x[i:]` / `x[:j]` supported) is not Spark syntax at all, so
    * rewriting it is always strictly an improvement. Only LITERAL integer
    * bounds over a plain (possibly dotted) identifier are rewritten —
    * computed bounds like `v[(s*4+1):(s*4+4)]` pass through untouched and
    * fail at analysis rather than risk a silent mis-parse. The target is
    * `duck_slice` (graft.functions.DuckSlice), which dispatches to array
    * `slice` or string `substring` on the resolved type; an open upper
    * bound is encoded as to=Int.MaxValue, which DuckSlice clamps.
    */
  private val SliceRe: Regex =
    """([A-Za-z_][A-Za-z0-9_]*(?:\.[A-Za-z_][A-Za-z0-9_]*)*)\s*\[\s*(\d*)\s*:\s*(\d*)\s*\]""".r

  private def convertSlices(sql: String): String =
    replaceOutsideLiterals(SliceRe, sql)(m => {
      val (base, lo, hi) = (m.group(1), m.group(2), m.group(3))
      if (lo.isEmpty && hi.isEmpty) Regex.quoteReplacement(m.matched)
      else {
        val from = if (lo.isEmpty) "1" else lo
        val to = if (hi.isEmpty) Int.MaxValue.toString else hi
        Regex.quoteReplacement(s"duck_slice($base, $from, $to)")
      }
    })

  /** From an opening quote at `start`, index just past the closing quote;
    * handles `''` doubling and backslash escapes (Spark literals process
    * both).
    *
    * KNOWN DIVERGENCE: DuckDB standard literals do NOT process backslash
    * escapes, so a DuckDB literal ending in a lone backslash (`'...\'`)
    * tokenizes differently here — the rewriter (like Spark's own parser,
    * which applies the same escape rules downstream) reads the `\'` as an
    * escaped quote and the literal as unterminated. Such a statement would
    * fail Spark analysis regardless of what this pre-pass does, so the
    * divergence cannot corrupt an otherwise-runnable query; writing the
    * backslash as `'...\\'` (valid in both dialects) avoids it.
    */
  private def skipQuoted(s: String, start: Int): Int = {
    val q = s.charAt(start)
    var i = start + 1
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) i += 2
      else if (c == q) {
        if (i + 1 < s.length && s.charAt(i + 1) == q) i += 2
        else return i + 1
      } else i += 1
    }
    s.length
  }
}
