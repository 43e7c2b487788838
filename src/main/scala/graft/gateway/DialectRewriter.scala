package graft.gateway

import scala.util.matching.Regex

import org.apache.spark.sql.SparkSession

/** SQL-string rewrites performed before parsing, mirroring the reference's
  * `_convert_to_iceberg_query` (/root/reference/backend/main.py:426-449).
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
  * Every rewrite is text only. `iceberg_scan('path')`, the other
  * path-addressed table functions and the two catalog functions are
  * Spark table-valued functions ([[TableFunctions]]), bound while Spark
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

  /** Index ranges of string literals, quoted identifiers, and comments —
    * rewrites must not fire (and reach a catalog) for text that is not code,
    * e.g. `-- iceberg_catalog.ns.t` or a data literal mentioning
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


  // --- DuckDB-dialect function surface ------------------------------------

  /** DuckDB function names with a drop-in Spark equivalent: a pure rename
    * suffices because argument order and semantics line up, and none of
    * these names is a valid Spark function — so Spark-dialect SQL passes
    * through byte-identical. `string_split_regex` maps straight onto
    * Spark's `split` (both take a regex); the literal-delimiter
    * `string_split` family is handled separately below.
    */
  private val DuckRenames: Map[String, String] = Map(
    "unnest" -> "explode",
    // DuckDB's len is string length AND list cardinality; Spark's own
    // `len` builtin is string-only, so a rename to it (or to `length`)
    // breaks len(list_col). The target is graft's duck_len
    // (functions.DuckLen, registered per gateway session by Engine), a
    // RuntimeReplaceable dispatching on the resolved argument type —
    // identical to the builtin for strings, Size for arrays/maps.
    "len" -> "duck_len",
    "list_transform" -> "transform",
    "list_filter" -> "filter",
    "generate_series" -> "sequence",
    "string_split_regex" -> "split",
    "str_split_regex" -> "split",
    "list_contains" -> "array_contains",
    "list_distinct" -> "array_distinct",
    "list_sort" -> "sort_array",
    "list_min" -> "array_min",
    "list_max" -> "array_max",
    "array_to_string" -> "array_join",
    // r11 additions — still pure renames with aligned semantics:
    // arg_min/arg_max are Spark's min_by/max_by; list_value builds an
    // array; list_concat is Spark's array concat; list_reverse is
    // reverse; list_append/list_prepend match array_append/array_prepend
    // (Spark 3.4/3.5+); regexp_matches and regexp_like both do partial
    // (find-style) matching on two args — the 3-arg flags form fails
    // arity at analysis, loudly.
    "arg_min" -> "min_by",
    "arg_max" -> "max_by",
    // r12: DuckDB's integer epoch extractors are Spark's unix_* family —
    // both return BIGINT ms/us since the epoch for a timestamp argument.
    // (DuckDB also overloads epoch_ms(BIGINT) as ms->timestamp; that
    // form fails Spark analysis loudly, the regexp_matches precedent.
    // Plain `epoch` returns DOUBLE seconds and epoch_ns has no Spark
    // counterpart — both stay precisely rejected.)
    "epoch_ms" -> "unix_millis",
    "epoch_us" -> "unix_micros",
    "list_value" -> "array",
    "list_concat" -> "concat",
    "list_reverse" -> "reverse",
    "list_append" -> "array_append",
    "list_prepend" -> "array_prepend",
    "regexp_matches" -> "regexp_like")

  /** DuckDB functions with NO safe Spark rename (different return
    * contract, lambda-as-string arguments, or format-code languages that
    * do not line up). Detected at call positions so a user gets a precise
    * 400 naming the limitation instead of Spark's UNRESOLVED_ROUTINE for
    * a function the gateway nominally speaks the dialect of. list_position/
    * list_intersect are here deliberately: Spark's array_position returns
    * 0 (not NULL) on a miss and array_intersect dedups, so a rename would
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
      (DuckRenames.keys ++ DuckSplitNames).toSeq.sorted.mkString(", ") +
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
  def rejectUnknownDuckFunctions(sql: String): Unit = {
    val ranges = protectedRanges(sql)
    val n = sql.length
    def isWordChar(c: Char) = c.isLetterOrDigit || c == '_'
    var i = 0
    while (i < n) {
      if (ranges.exists { case (a, b) => i >= a && i < b }) {
        // Skip to the end of the protected range containing i.
        i = ranges.collectFirst { case (a, b) if i >= a && i < b => b }.get
      } else {
        val c = sql.charAt(i)
        if (isWordChar(c) && !c.isDigit && (i == 0 || !isWordChar(sql.charAt(i - 1)))) {
          var j = i
          while (j < n && isWordChar(sql.charAt(j))) j += 1
          val word = sql.substring(i, j).toLowerCase(java.util.Locale.ROOT)
          var k = j
          while (k < n && sql.charAt(k).isWhitespace) k += 1
          if (k < n && sql.charAt(k) == '(' && DuckUnsupported.contains(word))
            throw new IllegalArgumentException(unsupportedDuckDbMessage(word))
          if (k < n && sql.charAt(k) == '(' && DuckFormatFns.contains(word))
            translateFormatCall(word, sql, k) match {
              case Left(reason) => throw new IllegalArgumentException(
                s"unsupported DuckDB function $word call: $reason")
              case Right(_) => // translatable — convert pass handles it
            }
          if (k < n && sql.charAt(k) == '(' && DuckStructFns.contains(word))
            translateStructCall(word, sql, k) match {
              case Left(reason) => throw new IllegalArgumentException(
                s"unsupported DuckDB function $word call: $reason")
              case Right(_) => // translatable — convert pass handles it
            }
          i = j
        } else i += 1
      }
    }
  }

  /** DuckDB's literal-delimiter split family: `split` in Spark takes a
    * REGEX, so the delimiter needs quoting, not just a rename.
    */
  private val DuckSplitNames = Set("string_split", "str_split", "string_to_array")

  /** Rewrite 4: DuckDB-dialect pre-pass. The reference's declared contract
    * is "any read-only DuckDB SELECT" (backend/main.py:95-100) and its own
    * canonical demo query uses it — `UNNEST(string_split(genres, ','))`
    * (backend/main.py:767) — so real cloudfloe SQL must run verbatim.
    * Token-level: renames apply only to function-call positions (name
    * immediately followed by `(`) OUTSIDE string literals, quoted
    * identifiers, and comments, so data literals like `WHERE x = 'len(a)'`
    * are never corrupted. `string_split(x, d)` becomes `split(x, <quoted
    * d>)`: a literal delimiter is regex-escaped at rewrite time; a computed
    * one is wrapped in the `\Q…\E` construction `java.util.regex.Pattern
    * .quote` uses (including its embedded-`\E` splice), evaluated at
    * runtime.
    */
  def convertDuckDbDialect(sql: String): String = {
    // java.lang.StringBuilder for its (CharSequence, start, end) append —
    // the Scala wrapper lacks that overload and would box a tuple.
    val out = new java.lang.StringBuilder(sql.length + 16)
    var i = 0
    val n = sql.length
    def isWordChar(c: Char) = c.isLetterOrDigit || c == '_'
    while (i < n) {
      val c = sql.charAt(i)
      if (c == '\'' || c == '"') {
        val j = skipQuoted(sql, i)
        out.append(sql, i, j); i = j
      } else if (c == '-' && i + 1 < n && sql.charAt(i + 1) == '-') {
        val j = sql.indexOf('\n', i) match { case -1 => n; case k => k }
        out.append(sql, i, j); i = j
      } else if (c == '/' && i + 1 < n && sql.charAt(i + 1) == '*') {
        val j = sql.indexOf("*/", i + 2) match { case -1 => n; case k => k + 2 }
        out.append(sql, i, j); i = j
      } else if (isWordChar(c) && !c.isDigit &&
          (i == 0 || !isWordChar(sql.charAt(i - 1)))) {
        var j = i
        while (j < n && isWordChar(sql.charAt(j))) j += 1
        val word = sql.substring(i, j).toLowerCase(java.util.Locale.ROOT)
        // A rename fires only on a CALL: next non-space char is `(`.
        var k = j
        while (k < n && sql.charAt(k).isWhitespace) k += 1
        val isCall = k < n && sql.charAt(k) == '('
        if (isCall && DuckFormatFns.contains(word)) {
          translateFormatCall(word, sql, k) match {
            case Right((replacement, close)) =>
              out.append(replacement); i = close + 1
            case Left(_) => // untranslatable — reject pass gives the 400
              out.append(sql, i, j); i = j
          }
        } else if (isCall && DuckStructFns.contains(word)) {
          translateStructCall(word, sql, k) match {
            case Right((replacement, close)) =>
              out.append(replacement); i = close + 1
            case Left(_) => // untranslatable — reject pass gives the 400
              out.append(sql, i, j); i = j
          }
        } else if (isCall && DuckSplitNames.contains(word)) {
          splitArgs(sql, k) match {
            case Some((args, close)) if args.length == 2 =>
              out.append("split(")
                .append(convertDuckDbDialect(args.head.trim)).append(", ")
                .append(quoteDelimiter(args(1).trim)).append(')')
              i = close + 1
            case _ => // wrong arity — leave it to fail loudly at analysis
              out.append(sql, i, j); i = j
          }
        } else if (isCall && DuckRenames.contains(word)) {
          out.append(DuckRenames(word)); i = j
        } else {
          out.append(sql, i, j); i = j
        }
      } else {
        out.append(c); i += 1
      }
    }
    convertSlices(out.toString)
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
