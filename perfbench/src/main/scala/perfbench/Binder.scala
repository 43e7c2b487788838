package perfbench

/** Binds the bare table names of a DuckDB-dialect statement to the
  * gateway's `iceberg_scan('<table dir>')` table function, so the same
  * text the DuckDB oracle runs over the parquet tables can be sent to
  * `POST /api/query` over the Iceberg-lite copies.
  *
  * A word is bound only where it can be a table reference: whole
  * identifier words (so `l_orderkey` is untouched), outside string
  * literals, quoted identifiers and comments, not qualified (`x.orders`),
  * not a qualifier (`orders.x`), not a call (`part(`), and not an alias
  * (`AS part`).
  */
object Binder {

  /** The bound statement and the table names it references. */
  def bind(sql: String, tableDirs: Map[String, String]): (String, Set[String]) = {
    val out = new StringBuilder
    val used = Set.newBuilder[String]
    val n = sql.length
    var prevWord = ""
    var i = 0
    def isWord(c: Char) = c.isLetterOrDigit || c == '_'
    def nextNonSpace(from: Int): Char = {
      var j = from
      while (j < n && sql.charAt(j).isWhitespace) j += 1
      if (j < n) sql.charAt(j) else ' '
    }
    while (i < n) {
      val c = sql.charAt(i)
      if (c == '\'' || c == '"' || c == '`') {
        // Copy the quoted run verbatim; a doubled quote is an escape.
        var j = i + 1
        var closed = false
        while (j < n && !closed) {
          if (sql.charAt(j) != c) j += 1
          else if (j + 1 < n && sql.charAt(j + 1) == c) j += 2
          else { closed = true; j += 1 }
        }
        out.append(sql.substring(i, j))
        i = j
      } else if (sql.startsWith("--", i)) {
        val j = sql.indexOf('\n', i)
        val end = if (j < 0) n else j
        out.append(sql.substring(i, end))
        i = end
      } else if (sql.startsWith("/*", i)) {
        val j = sql.indexOf("*/", i + 2)
        val end = if (j < 0) n else j + 2
        out.append(sql.substring(i, end))
        i = end
      } else if (isWord(c)) {
        val start = i
        while (i < n && isWord(sql.charAt(i))) i += 1
        val word = sql.substring(start, i)
        val next = nextNonSpace(i)
        val dir = tableDirs.get(word.toLowerCase(java.util.Locale.ROOT))
        val bindable = dir.isDefined && !c.isDigit &&
          !(start > 0 && sql.charAt(start - 1) == '.') &&
          next != '(' && next != '.' && !prevWord.equalsIgnoreCase("as")
        if (bindable) {
          out.append(s"iceberg_scan('${dir.get}')")
          used += word.toLowerCase(java.util.Locale.ROOT)
        } else out.append(word)
        prevWord = word
      } else {
        out.append(c)
        i += 1
      }
    }
    (out.toString, used.result())
  }
}
