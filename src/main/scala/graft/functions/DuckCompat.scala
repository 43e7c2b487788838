package graft.functions

import scala.util.{Left, Right}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, FunctionRegistryBase, TableFunctionRegistry, UnresolvedExtractValue}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** DuckDB-compat scalar functions whose semantics depend on the argument
  * TYPE (reference backend/main.py:95-100 — "any read-only DuckDB
  * SELECT"): DuckDB's `len` is string length AND list cardinality; its
  * `a[i:j]` slice is 1-based-inclusive substring AND list slice. Each is a
  * [[RuntimeReplaceable]] that dispatches on the resolved child type and
  * rewrites itself to the matching native (codegen'd) expression during
  * optimization — zero runtime overhead. [[DuckCompat.register]] makes
  * `len` resolve to [[DuckLen]]; the gateway's dialect pre-pass emits
  * `duck_slice` for a bracket slice.
  */
case class DuckLen(child: Expression)
    extends RuntimeReplaceable with UnaryLike[Expression] {
  override lazy val replacement: Expression = child.dataType match {
    case _: ArrayType | _: MapType => Size(child)
    case _ => Length(child)
  }
  override def prettyName: String = "len"
  override protected def withNewChildInternal(newChild: Expression): DuckLen =
    copy(child = newChild)
}

/** DuckDB `x[from:to]` (1-based, both ends inclusive; emitted by the
  * dialect pre-pass as `duck_slice(x, from, to)`): `slice` for arrays,
  * `substring` for strings — both take (start, LENGTH), so the length is
  * computed as to-from+1 in long arithmetic, clamped to [0, Int.MaxValue]
  * (the pre-pass encodes an open upper bound `x[i:]` as to=Int.MaxValue).
  */
case class DuckSlice(child: Expression, from: Expression, to: Expression)
    extends RuntimeReplaceable {
  override def children: Seq[Expression] = Seq(child, from, to)
  override lazy val replacement: Expression = {
    // DuckDB treats a 0 lower bound as "from the start" (x[0:2] == x[1:2]);
    // Spark's Slice errors on start=0, so clamp before dispatching.
    val start = Greatest(Seq(Cast(from, IntegerType), Literal(1)))
    val len = Cast(
      Least(Seq(
        Literal(Int.MaxValue.toLong),
        Greatest(Seq(
          Literal(0L),
          Add(Subtract(Cast(to, LongType), Cast(start, LongType)), Literal(1L)))))),
      IntegerType)
    child.dataType match {
      case _: ArrayType => Slice(child, start, len)
      case _ => Substring(child, start, len)
    }
  }
  override def prettyName: String = "duck_slice"
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): DuckSlice =
    copy(child = newChildren(0), from = newChildren(1), to = newChildren(2))
}

/** A DuckDB list builder (`list_prepend`, `list_append`, `list_concat`)
  * as the Spark expression that gives DuckDB's answer. The replacement is
  * this expression's child, so the analyzer coerces its argument types as
  * it would for the Spark functions inside; the column is named after the
  * DuckDB call.
  */
case class DuckList(name: String, parameters: Seq[Expression], replacement: Expression)
    extends RuntimeReplaceable with InheritAnalysisRules {
  override def prettyName: String = name
  override protected def withNewChildInternal(newChild: Expression): DuckList =
    copy(replacement = newChild)
}

/** The DuckDB functions, registered per session by [[register]]. Each is
  * a function builder, so a call is resolved while Spark analyzes the
  * statement, inside lambdas too, and a string literal in it is read as
  * the value Spark parsed.
  *   - Names that Spark resolves as one of its own functions: argument
  *     order and semantics line up, so each takes its Spark target's
  *     builder and `ExpressionInfo` from `FunctionRegistry.expressions`,
  *     the table Spark's builtin registry is filled from. A call resolves,
  *     and names its column, exactly as the target would.
  *     `string_split_regex` is Spark's `split` (both take a regex).
  *   - `list_prepend`, `list_append` and `list_concat` differ from their
  *     Spark counterparts in argument order or NULL handling, so each is a
  *     [[DuckList]] instead.
  *   - Functions whose Spark form takes different arguments: the
  *     literal-delimiter `string_split` family is `split` on a quoted
  *     regex; `strftime`/`strptime` are `date_format`/`to_timestamp` on a
  *     translated pattern; `struct_pack(k => v, ...)` is `named_struct`
  *     (the gateway turns DuckDB's `:=` into `=>`); `struct_extract(s,
  *     'f')` is the field access `(s).f`.
  *   - DuckDB functions with no safe Spark equivalent throw
  *     [[unsupportedDuckDbMessage]], as does a call of the others that
  *     has no exact translation, naming the reason.
  */
object DuckCompat {

  private type Builder = Seq[Expression] => Expression

  private val aliasTargets: Seq[(String, String)] = Seq(
    "unnest" -> "explode",
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
    "arg_min" -> "min_by",
    "arg_max" -> "max_by",
    // Integer epochs of a timestamp argument. DuckDB also overloads
    // epoch_ms(BIGINT) as ms -> timestamp; that form fails analysis.
    "epoch_ms" -> "unix_millis",
    "epoch_us" -> "unix_micros",
    "list_value" -> "array",
    "list_reverse" -> "reverse",
    // Both find-style matches on two arguments; the 3-argument flags
    // form fails arity at analysis.
    "regexp_matches" -> "regexp_like")

  private def lenForArgs(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1, "len expects one argument")
    DuckLen(exprs.head)
  }
  def sliceForArgs(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 3, "duck_slice expects (value, from, to)")
    DuckSlice(exprs(0), exprs(1), exprs(2))
  }

  /** DuckDB 1.0 reads a NULL list as an empty one in its list builders,
    * where Spark's return NULL.
    */
  private def orEmpty(list: Expression): Expression = list.dataType match {
    case t: ArrayType => Coalesce(Seq(list, Literal(new GenericArrayData(Array.empty[Any]), t)))
    case _ => list // not a list: the Spark function's type check rejects it
  }

  /** A two-argument [[DuckList]] builder named `name`. */
  private def listBuilder(name: String)(replace: Seq[Expression] => Expression) =
    name -> (new ExpressionInfo(classOf[DuckList].getName, name), (exprs: Seq[Expression]) => {
      require(exprs.length == 2, s"$name expects two arguments")
      DuckList(name, exprs, replace(exprs))
    })

  /** The list builders whose arguments or NULL handling differ from
    * Spark's: `list_prepend` takes (element, list), `array_prepend`
    * (list, element); `list_concat` of two NULL lists is NULL.
    */
  private val listBuilders = Seq(
    listBuilder("list_prepend") { case Seq(e, l) => ArrayPrepend(orEmpty(l), e) },
    listBuilder("list_append") { case Seq(l, e) => ArrayAppend(orEmpty(l), e) },
    listBuilder("list_concat") { case Seq(a, b) => Coalesce(Seq(Concat(Seq(a, b)), a, b)) })

  /** Rejects a call of DuckDB function `fn` that has no exact Spark form. */
  private def reject(fn: String, reason: String): Nothing =
    throw new IllegalArgumentException(s"unsupported DuckDB function $fn call: $reason")

  /** The value of a non-NULL string literal. */
  private def stringLiteral(e: Expression): Option[String] = e match {
    case Literal(v, _: StringType) if v != null => Some(v.toString)
    case _ => None
  }

  /** DuckDB's literal-delimiter split family: Spark's `split` takes a
    * REGEX, so the delimiter is quoted. A string-literal delimiter is
    * regex-escaped here; any other is wrapped in the `\Q…\E` construction
    * `java.util.regex.Pattern.quote` uses (including its embedded-`\E`
    * splice), evaluated at runtime.
    */
  private val splitNames = Seq("string_split", "str_split", "string_to_array")

  private def quoteDelimiter(delimiter: Expression): Expression =
    stringLiteral(delimiter) match {
      case Some(d) =>
        Literal(d.flatMap(c => if ("\\^$.|?*+()[]{}".indexOf(c) >= 0) s"\\$c" else c.toString))
      case None => Concat(Seq(Literal("\\Q"),
        StringReplace(delimiter, Literal("\\E"), Literal("\\E\\\\E\\Q")), Literal("\\E")))
    }

  private val splitBuilders = {
    val (info, split) = FunctionRegistry.expressions("split")
    splitNames.map(name => name -> (info, (exprs: Seq[Expression]) => exprs match {
      case Seq(str, delimiter) => split(Seq(str, quoteDelimiter(delimiter)))
      case _ => reject(name, s"$name takes (string, delimiter)")
    }))
  }

  /** C strftime code → Spark datetime pattern fragment. Only codes whose
    * Spark pattern is value-identical are mapped — %g (DuckDB millis) and
    * %n (nanos) are deliberately absent: a wrong fraction width would
    * silently change answers, the list_position design rule.
    */
  private val FormatCodes: Map[String, String] = Map(
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
  private val FormatOnlyCodes: Set[String] = Set("%y")

  /** Translate a C strftime format string into a Spark datetime pattern.
    * Literal runs containing a letter (or a quote) are single-quoted —
    * letters are pattern-reserved in Java's DateTimeFormatter and an
    * embedded quote doubles. Left(reason) on any code outside the table,
    * or (when `parsing`) on a [[FormatOnlyCodes]] member.
    */
  private def translateFormat(fmt: String,
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

  /** DuckDB's C-style format-code functions, as the Spark function
    * `target` on the translated pattern. The format is the string-literal
    * argument containing a `%`: DuckDB's documented order is (value,
    * format), so argument 2 is the format whenever it qualifies, and a
    * VALUE literal that happens to contain '%' (strptime('12%M', '%H:%M'))
    * is never mistaken for it; argument 1 is only consulted for the
    * Python-ish (format, value) order.
    */
  private def formatBuilder(name: String, target: String) = {
    val (info, build) = FunctionRegistry.expressions(target)
    name -> (info, (exprs: Seq[Expression]) => {
      if (exprs.length != 2) reject(name, s"$name takes (value, format); got ${exprs.length} arguments")
      val formats = exprs.map(stringLiteral(_).filter(_.contains('%')))
      val fmtIdx = formats.lastIndexWhere(_.isDefined)
      if (fmtIdx < 0) reject(name, s"$name needs a string-literal format containing % codes " +
        "(a computed format cannot be translated)")
      translateFormat(formats(fmtIdx).get, parsing = name == "strptime") match {
        case Right(pattern) => build(Seq(exprs(1 - fmtIdx), Literal(pattern)))
        case Left(reason) => reject(name, reason)
      }
    })
  }

  /** `struct_pack(a => x, b => y)` is `named_struct('a', x, 'b', y)`, and
    * `struct_extract(s, 'a')` is the field access `(s).a`, named as Spark
    * names it. Positional arguments to either have no Spark equivalent.
    */
  private val structBuilders: Seq[(String, (ExpressionInfo, Builder))] = Seq(
    "struct_pack" -> (FunctionRegistry.expressions("named_struct")._1, (exprs: Seq[Expression]) => {
      if (exprs.isEmpty) reject("struct_pack", "struct_pack needs at least one name := value argument")
      CreateNamedStruct(exprs.flatMap {
        case NamedArgumentExpression(key, value) => Seq(Literal(key), value)
        case other => reject("struct_pack",
          s"struct_pack argument '${other.sql}' is not of the form name := value")
      })
    }),
    "struct_extract" -> (new ExpressionInfo(classOf[UnresolvedExtractValue].getName, "struct_extract"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(struct, field) => stringLiteral(field) match {
          case Some(f) =>
            // `(s).f` over a column parses as the column path `s.f`, which
            // names its column `f`; over any other expression it is this
            // field access alone.
            val access = UnresolvedExtractValue(struct, Literal(f))
            struct match {
              case _: NamedExpression => Alias(access, f)()
              case _ => access
            }
          case None => reject("struct_extract", "struct_extract needs a string-literal field name " +
            "(positional extraction has no Spark equivalent)")
        }
        case _ => reject("struct_extract",
          s"struct_extract takes (struct, field); got ${exprs.length} arguments")
      }))

  /** DuckDB functions with NO safe Spark equivalent (different return
    * contract, lambda-as-string arguments, or format-code languages that
    * do not line up), so a call gets a precise 400 naming the limitation
    * instead of Spark's UNRESOLVED_ROUTINE for a function the gateway
    * nominally speaks the dialect of. list_position/list_intersect are
    * here deliberately: Spark's array_position returns 0 (not NULL) on a
    * miss and array_intersect dedups, so an alias would silently change
    * answers.
    */
  private val unsupported: Seq[(String, (ExpressionInfo, Builder))] = Seq(
    "list_aggregate", "list_aggr", "list_apply", "list_reduce",
    "list_unique", "list_has_any", "list_has_all",
    "list_position", "list_indexof", "list_intersect",
    "struct_insert",
    "epoch", "epoch_ns").map(name => name -> (new ExpressionInfo(getClass.getName, name),
      (_: Seq[Expression]) => throw new IllegalArgumentException(unsupportedDuckDbMessage(name))))

  /** `len` replaces Spark's string-only builtin of that name in the
    * sessions it is registered in; on strings the two are the same.
    */
  private val renames: Seq[(String, (ExpressionInfo, Builder))] =
    ("len", (new ExpressionInfo(classOf[DuckLen].getName, "len"), lenForArgs _)) +:
      (aliasTargets.map { case (name, target) => name -> FunctionRegistry.expressions(target) } ++
        listBuilders)

  private val scalars: Seq[(String, (ExpressionInfo, Builder))] =
    renames ++ splitBuilders ++
      Seq(formatBuilder("strftime", "date_format"), formatBuilder("strptime", "to_timestamp")) ++
      structBuilders ++ unsupported

  /** Every DuckDB name [[register]] adds. */
  val names: Seq[String] = scalars.map(_._1)

  /** The 400 detail for a call of a DuckDB function with no Spark form. */
  private[graft] def unsupportedDuckDbMessage(fn: String): String =
    s"unsupported DuckDB function $fn; supported DuckDB-dialect functions: " +
      (renames.map(_._1) ++ splitNames).sorted.mkString(", ") +
      "; plus strftime/strptime with a string-literal format, " +
      "read_csv/read_json/read_parquet single-path forms, " +
      "iceberg_scan/iceberg_* table functions, and bracket slices x[i:j]"

  /** Registers the DuckDB names in `spark`'s function registry, and
    * `unnest` in its table function registry too (`FROM unnest(...)`).
    * A name whose builder is already the one registered here is skipped,
    * so registering twice replaces nothing.
    */
  def register(spark: SparkSession): Unit = {
    def put[T](registry: FunctionRegistryBase[T], name: String,
        entry: (ExpressionInfo, Seq[Expression] => T)): Unit = {
      val id = FunctionIdentifier(name)
      if (!registry.lookupFunctionBuilder(id).exists(_ eq entry._2))
        registry.registerFunction(id, entry._1, entry._2)
    }
    scalars.foreach { case (name, entry) => put(spark.sessionState.functionRegistry, name, entry) }
    put(spark.sessionState.tableFunctionRegistry, "unnest",
      TableFunctionRegistry.logicalPlans("explode"))
  }
}
