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
  * 3. REST catalog references -> `iceberg_catalog_scan('ns', 'tbl')`
  *    and `iceberg_catalog_tables('ns')` calls ([[convertCatalogRefs]]).
  * 4. The DuckDB-dialect pre-pass ([[convertDuckDbDialect]]).
  *
  * Every rewrite is text only. Each is text because Spark cannot parse
  * what it replaces, or because the Spark form needs different argument
  * text: a dotted `iceberg_catalog` reference names no Spark catalog; the
  * `string_split` family's delimiter is quoted as a regex; strftime and
  * strptime translate their format string; struct_pack's `:=` and bracket
  * slices `x[i:j]` are not Spark syntax; struct_extract becomes a field
  * access. DuckDB function names that Spark resolves as one of its own
  * functions (`unnest`, `len`, `list_transform`, ...) are not rewritten:
  * [[graft.functions.DuckCompat]] registers them in each session's
  * function registry. `iceberg_scan('path')`, the other path-addressed
  * table functions and the two catalog functions are Spark table-valued
  * functions ([[TableFunctions]]), bound while Spark analyzes the
  * statement.
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

  /** Rewrite 3 (REST catalogs only): `SHOW TABLES FROM iceberg_catalog.ns`
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

  /** Index ranges of string literals, quoted identifiers, and comments
    * from index `from` on — rewrites must not fire (and reach a catalog)
    * for text that is not code, e.g. `-- iceberg_catalog.ns.t` or a data
    * literal mentioning `read_parquet('s3://...')`.
    */
  private def protectedRanges(sql: String, from: Int = 0): IndexedSeq[(Int, Int)] = {
    val out = IndexedSeq.newBuilder[(Int, Int)]
    var i = from
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


  // --- DuckDB-dialect function surface ------------------------------------

  /** A function call site: the lower-cased `name` starts at `start` and
    * its argument list opens at `open`.
    */
  private final case class CallSite(name: String, start: Int, open: Int)

  /** The call sites of `sql` from index `from` on, in order: a word that
    * does not start with a digit, followed after optional whitespace by
    * `(`, outside string literals, quoted identifiers and comments.
    */
  private def callSites(sql: String, from: Int = 0): Seq[CallSite] = {
    val sites = Seq.newBuilder[CallSite]
    val n = sql.length
    def isWordChar(c: Char) = c.isLetterOrDigit || c == '_'
    var i = from
    // No protected range starts with a word character, so a word never
    // runs into one.
    for ((a, b) <- protectedRanges(sql, from) :+ ((n, n))) {
      while (i < a) {
        val c = sql.charAt(i)
        if (isWordChar(c) && !c.isDigit && (i == 0 || !isWordChar(sql.charAt(i - 1)))) {
          var j = i
          while (j < n && isWordChar(sql.charAt(j))) j += 1
          var k = j
          while (k < n && sql.charAt(k).isWhitespace) k += 1
          if (k < n && sql.charAt(k) == '(')
            sites += CallSite(sql.substring(i, j).toLowerCase(java.util.Locale.ROOT), i, k)
          i = j
        } else i += 1
      }
      i = b
    }
    sites.result()
  }

  /** DuckDB functions with NO safe Spark equivalent (different return
    * contract, lambda-as-string arguments, or format-code languages that
    * do not line up). Detected at call positions so a user gets a precise
    * 400 naming the limitation instead of Spark's UNRESOLVED_ROUTINE for
    * a function the gateway nominally speaks the dialect of. list_position/
    * list_intersect are here deliberately: Spark's array_position returns
    * 0 (not NULL) on a miss and array_intersect dedups, so an alias would
    * silently change answers.
    */
  private val DuckUnsupported: Set[String] = Set(
    "list_aggregate", "list_aggr", "list_apply", "list_reduce",
    "list_unique", "list_has_any", "list_has_all",
    "list_position", "list_indexof", "list_intersect",
    "struct_insert",
    "epoch", "epoch_ns")

  /** DuckDB's C-style format-code functions (r12): translated to
    * date_format/to_timestamp when the format is a string literal whose
    * codes all sit in [[FormatCodes]]; anything else keeps a precise 400
    * naming the exact reason (unknown code, computed format, arity).
    */
  private val DuckFormatFns = Set("strftime", "strptime")

  /** C strftime code → Spark datetime pattern fragment. Only codes whose
    * Spark pattern is value-identical are mapped — %g (DuckDB millis) and
    * %n (nanos) are deliberately absent: a wrong fraction width would
    * silently change answers, the list_position design rule.
    */
  private[gateway] val FormatCodes: Map[String, String] = Map(
    "%Y" -> "yyyy", "%y" -> "yy", "%m" -> "MM", "%d" -> "dd",
    "%H" -> "HH", "%I" -> "hh", "%M" -> "mm", "%S" -> "ss",
    "%f" -> "SSSSSS", "%j" -> "DDD", "%p" -> "a",
    "%a" -> "EEE", "%A" -> "EEEE", "%b" -> "MMM", "%B" -> "MMMM",
    "%-d" -> "d", "%-m" -> "M", "%-H" -> "H", "%-I" -> "h",
    "%-M" -> "m", "%-S" -> "s", "%-j" -> "D", "%%" -> "%")

  /** Codes whose FORMATTING is value-identical but whose PARSING
    * diverges: C strptime maps two-digit years 69-99 to the 1900s while
    * Spark's 'yy' (Java reduced-year, base 2000) parses every two-digit
    * value into 2000-2099, so strptime('69-01-01', '%y-%m-%d') would
    * silently return 2069 instead of 1969 — the silent value change the
    * %g/%n exclusion rule forbids. strftime keeps these (a two-digit
    * year PRINTS identically); strptime gets the precise 400.
    */
  private[gateway] val FormatOnlyCodes: Set[String] = Set("%y")

  /** Translate a C strftime format string into a Spark datetime pattern.
    * Literal runs containing a letter (or a quote) are single-quoted —
    * letters are pattern-reserved in Java's DateTimeFormatter and an
    * embedded quote doubles. Left(reason) on any code outside the table,
    * or (when `parsing`) on a [[FormatOnlyCodes]] member.
    */
  private[gateway] def translateFormat(fmt: String,
      parsing: Boolean = false): Either[String, String] = {
    val out = new StringBuilder
    val lit = new StringBuilder
    def flush(): Unit = if (lit.nonEmpty) {
      val s = lit.toString
      if (s.exists(c => c.isLetter || c == '\''))
        out.append('\'').append(s.replace("'", "''")).append('\'')
      else out.append(s)
      lit.clear()
    }
    var i = 0
    while (i < fmt.length) {
      if (fmt.charAt(i) == '%') {
        val code =
          if (i + 2 < fmt.length && fmt.charAt(i + 1) == '-') fmt.substring(i, i + 3)
          else if (i + 1 < fmt.length) fmt.substring(i, i + 2)
          else return Left("dangling % at end of format")
        FormatCodes.get(code) match {
          case Some(_) if parsing && FormatOnlyCodes(code) => return Left(
            s"format code $code parses differently in Spark (two-digit years " +
              "69-99 read as 2069-2099, not 1969-1999); it is supported for " +
              "strftime only")
          case Some("%") => lit.append('%') // %% is literal text
          case Some(p) => flush(); out.append(p)
          case None => return Left(
            s"format code $code has no exact Spark datetime-pattern equivalent " +
              s"(supported: ${FormatCodes.keys.toSeq.sorted.mkString(" ")})")
        }
        i += code.length
      } else { lit.append(fmt.charAt(i)); i += 1 }
    }
    flush()
    Right(out.toString)
  }

  /** DuckDB's struct constructors/accessors (r12): translated when the
    * shape maps exactly — `struct_pack(a := x, b := y)` is Spark's
    * `named_struct('a', x, 'b', y)` (construction and `.field` access
    * align), and `struct_extract(s, 'a')` is the parenthesized field
    * access `(s).a`. Anything else (positional struct_extract,
    * struct_insert, malformed := args) keeps a precise 400.
    */
  private val DuckStructFns = Set("struct_pack", "struct_extract")

  private val StructFieldRe: Regex =
    """^([A-Za-z_][A-Za-z0-9_]*)\s*:=\s*([\s\S]+)$""".r

  private def translateStructCall(word: String, sql: String,
      open: Int): Either[String, (String, Int)] =
    splitArgs(sql, open) match {
      case Some((args, close)) if word == "struct_pack" =>
        val trimmed = args.map(_.trim)
        if (trimmed.isEmpty || trimmed == Seq(""))
          Left("struct_pack needs at least one name := value argument")
        else {
          val fields = trimmed.map {
            case StructFieldRe(name, value) =>
              Right(s"'$name', ${convertDuckDbDialect(value.trim)}")
            case other => Left(
              s"struct_pack argument '$other' is not of the form name := value")
          }
          fields.collectFirst { case Left(reason) => Left(reason) }.getOrElse {
            val inner = fields.collect { case Right(f) => f }.mkString(", ")
            Right((s"named_struct($inner)", close))
          }
        }
      case Some((args, close)) if args.length == 2 => // struct_extract
        val field = args(1).trim match {
          case SimpleLiteralRe(body)
              if body.matches("[A-Za-z_][A-Za-z0-9_]*") => Some(body)
          case _ => None
        }
        field match {
          case Some(f) =>
            Right((s"(${convertDuckDbDialect(args.head.trim)}).$f", close))
          case None => Left("struct_extract needs a string-literal field name " +
            "(positional extraction has no Spark equivalent)")
        }
      case Some((args, _)) =>
        Left(s"$word takes (struct, field); got ${args.length} arguments")
      case None => Left(s"$word call has unbalanced parentheses")
    }

  /** Attempt to translate a `strftime`/`strptime` call whose opening
    * paren sits at `open`: Right((replacement, closeIdx)) or Left(reason).
    * The format is identified as the string-literal argument containing a
    * `%` code, so both DuckDB's (value, format) order and the Python-ish
    * (format, value) order translate. TOTAL over arbitrary text — the
    * convert pre-pass leaves Left cases untouched and the reject pass
    * turns the same Left into the precise 400.
    */
  private def translateFormatCall(word: String, sql: String,
      open: Int): Either[String, (String, Int)] =
    splitArgs(sql, open) match {
      case Some((args, close)) if args.length == 2 =>
        val trimmed = args.map(_.trim)
        def isFmtLiteral(a: String) = a match {
          case SimpleLiteralRe(body) => body.contains('%')
          case _ => false
        }
        // DuckDB's documented order is (value, format): prefer arg 2 as
        // the format whenever it qualifies, so a VALUE literal that
        // happens to contain '%' (strptime('12%M', '%H:%M')) can never
        // be mistaken for the format; arg 1 is only consulted for the
        // Python-ish (format, value) order.
        val fmtIdx =
          if (isFmtLiteral(trimmed(1))) 1
          else if (isFmtLiteral(trimmed(0))) 0
          else -1
        if (fmtIdx < 0)
          Left(s"$word needs a string-literal format containing % codes " +
            "(a computed format cannot be translated at rewrite time)")
        else {
          val body = SimpleLiteralRe.findFirstMatchIn(trimmed(fmtIdx)).get.group(1)
          translateFormat(body.replace("''", "'"),
              parsing = word == "strptime").map { pattern =>
            val value = convertDuckDbDialect(trimmed(1 - fmtIdx))
            val patLit =
              "'" + pattern.replace("\\", "\\\\").replace("'", "''") + "'"
            val fn = if (word == "strftime") "date_format" else "to_timestamp"
            (s"$fn($value, $patLit)", close)
          }
        }
      case Some((args, _)) =>
        Left(s"$word takes (value, format); got ${args.length} arguments")
      case None => Left(s"$word call has unbalanced parentheses")
    }

  private[gateway] def unsupportedDuckDbMessage(fn: String): String =
    s"unsupported DuckDB function $fn; supported DuckDB-dialect functions: " +
      (graft.functions.DuckCompat.names ++ DuckSplitNames).sorted.mkString(", ") +
      "; plus strftime/strptime with a string-literal format, " +
      "read_csv/read_json/read_parquet single-path forms, " +
      "iceberg_scan/iceberg_* table functions, and bracket slices x[i:j]"

  /** Reject known-DuckDB functions with no mapping, at CALL positions
    * outside literals/identifiers/comments. A separate pass — NOT inside
    * [[convertDuckDbDialect]] — so the pre-pass itself stays TOTAL and
    * idempotent over any text (the oracle corpus legitimately contains
    * `struct_pack` destined for DuckDB); the gateway calls this only on
    * statements about to run on Spark.
    */
  def rejectUnknownDuckFunctions(sql: String): Unit =
    callSites(sql).foreach { site =>
      if (DuckUnsupported.contains(site.name))
        throw new IllegalArgumentException(unsupportedDuckDbMessage(site.name))
      if (DuckFormatFns.contains(site.name) || DuckStructFns.contains(site.name))
        translateCall(sql, site).swap.foreach(reason => throw new IllegalArgumentException(
          s"unsupported DuckDB function ${site.name} call: $reason"))
    }

  /** DuckDB's literal-delimiter split family: `split` in Spark takes a
    * REGEX, so the delimiter needs quoting, not just an alias.
    */
  private val DuckSplitNames = Set("string_split", "str_split", "string_to_array")

  /** The Spark text of a call to a text-translated DuckDB function:
    * Right((replacement, index of the closing paren)), or Left(reason)
    * when the call has none (a split of the wrong arity is left to fail
    * at analysis).
    */
  private def translateCall(sql: String, site: CallSite): Either[String, (String, Int)] =
    site.name match {
      case w if DuckFormatFns.contains(w) => translateFormatCall(w, sql, site.open)
      case w if DuckStructFns.contains(w) => translateStructCall(w, sql, site.open)
      case w if DuckSplitNames.contains(w) => splitArgs(sql, site.open) match {
        case Some((args, close)) if args.length == 2 => Right((
          s"split(${convertDuckDbDialect(args.head.trim)}, ${quoteDelimiter(args(1).trim)})",
          close))
        case _ => Left(s"$w takes (string, delimiter)")
      }
      case w => Left(s"$w has no text translation")
    }

  /** Rewrite 4: DuckDB-dialect pre-pass. The reference's declared contract
    * is "any read-only DuckDB SELECT" (backend/main.py:95-100) and its own
    * canonical demo query uses it — `UNNEST(string_split(genres, ','))`
    * (backend/main.py:767) — so real cloudfloe SQL must run verbatim.
    * Only call sites ([[callSites]]) are translated, so data literals like
    * `WHERE x = 'string_split(a, b)'` are never corrupted; a translated
    * call converts its own arguments, and the scan resumes after it.
    * `string_split(x, d)` becomes `split(x, <quoted d>)`: a literal
    * delimiter is regex-escaped at rewrite time; a computed one is wrapped
    * in the `\Q…\E` construction `java.util.regex.Pattern.quote` uses
    * (including its embedded-`\E` splice), evaluated at runtime. Bracket
    * slices are rewritten last ([[convertSlices]]).
    */
  def convertDuckDbDialect(sql: String): String = {
    // java.lang.StringBuilder for its (CharSequence, start, end) append —
    // the Scala wrapper lacks that overload and would box a tuple.
    val out = new java.lang.StringBuilder(sql.length + 16)
    var i = 0
    var sites = callSites(sql).iterator
    while (sites.hasNext) {
      val site = sites.next()
      translateCall(sql, site).foreach { case (replacement, close) =>
        out.append(sql, i, site.start).append(replacement)
        i = close + 1
        sites = callSites(sql, i).iterator
      }
    }
    convertSlices(out.append(sql, i, sql.length).toString)
  }

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

  /** Top-level comma split of the balanced argument list whose `(` sits at
    * `open`; returns (args, index of the closing paren), or None when
    * unbalanced.
    */
  private def splitArgs(s: String, open: Int): Option[(Seq[String], Int)] = {
    val args = Seq.newBuilder[String]
    var depth = 1
    var i = open + 1
    var argStart = i
    while (i < s.length) {
      s.charAt(i) match {
        case '\'' | '"' => i = skipQuoted(s, i)
        case '(' => depth += 1; i += 1
        case ')' =>
          depth -= 1
          if (depth == 0) { args += s.substring(argStart, i); return Some((args.result(), i)) }
          i += 1
        case ',' if depth == 1 => args += s.substring(argStart, i); i += 1; argStart = i
        case _ => i += 1
      }
    }
    None
  }

  private val SimpleLiteralRe = """^'((?:[^'\\]|''|\\.)*)'$""".r

  /** Emit a Spark regex-string for a DuckDB LITERAL delimiter: unescape the
    * DuckDB literal (`''` doubling; backslash passes through — DuckDB
    * standard literals don't process escapes), regex-escape each metachar,
    * then re-escape for Spark's literal processing (backslashes doubled,
    * quotes doubled). A non-literal delimiter gets the runtime
    * Pattern.quote construction instead.
    */
  private def quoteDelimiter(arg: String): String = arg match {
    case SimpleLiteralRe(body) =>
      val value = body.replace("''", "'")
      val regex = value.flatMap(c =>
        if ("\\^$.|?*+()[]{}".indexOf(c) >= 0) s"\\$c" else c.toString)
      "'" + regex.replace("\\", "\\\\").replace("'", "''") + "'"
    case expr =>
      // Pattern.quote(expr): \Q expr \E with any embedded \E spliced as
      // \E\\E\Q — correct for every runtime value.
      s"concat('\\\\Q', replace(${convertDuckDbDialect(expr)}, '\\\\E', '\\\\E\\\\\\\\E\\\\Q'), '\\\\E')"
  }
}
