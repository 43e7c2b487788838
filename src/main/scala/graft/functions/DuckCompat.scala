package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, FunctionRegistryBase, TableFunctionRegistry}
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

/** DuckDB function names that Spark resolves as one of its own functions,
  * registered per session by [[register]]. Argument order and semantics
  * line up, so each name takes its Spark target's builder and
  * `ExpressionInfo` from `FunctionRegistry.expressions`, the table Spark's
  * builtin registry is filled from: a call resolves, and names its column,
  * exactly as the target would. `string_split_regex` is Spark's `split`
  * (both take a regex); the literal-delimiter `string_split` family needs
  * its delimiter quoted and stays a text rewrite in the gateway.
  * `list_prepend`, `list_append` and `list_concat` differ from their
  * Spark counterparts in argument order or NULL handling, so each is a
  * [[DuckList]] instead.
  */
object DuckCompat {

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

  /** `len` replaces Spark's string-only builtin of that name in the
    * sessions it is registered in; on strings the two are the same.
    */
  private val scalars: Seq[(String, (ExpressionInfo, Seq[Expression] => Expression))] =
    ("len", (new ExpressionInfo(classOf[DuckLen].getName, "len"), lenForArgs _)) +:
      (aliasTargets.map { case (name, target) => name -> FunctionRegistry.expressions(target) } ++
        listBuilders)

  /** Every DuckDB name [[register]] adds. */
  val names: Seq[String] = scalars.map(_._1)

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
