package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Polynomial rolling-hash document fingerprint as a native Catalyst
  * expression: `h = (h * 31 + codePoint) mod 1e9+7` over the string's code
  * points. Stays inside whole-stage codegen (no UDF serialization), so it
  * runs at scan speed on a 100 TB corpus.
  */
case class RollingHash(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"rolling_hash requires a string argument, got ${child.dataType.catalogString}")

  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash"

  override def nullSafeEval(input: Any): Any =
    RollingHash.hash(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.RollingHash.hash($c.toString())")

  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)
}

object RollingHash {
  final val Mod = 1000000007L

  /** Referenced from generated code — keep public and stable. */
  def hash(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h * 31 + cp) % Mod
      i += Character.charCount(cp)
    }
    h
  }
}

/** SQL registration for graft's custom expressions, the DuckDB function
  * names ([[DuckCompat]]) and the gateway's table functions
  * (`iceberg_scan`, ...).
  */
object GraftFunctions {

  /** Every custom expression by SQL name: [[register]] adds them to one
    * session, `graft.GraftExtensions` to every session of a cluster.
    */
  val expressions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    ("rolling_hash", exprs => RollingHash(exprs.head)),
    ("vec_dot", exprs => DotProduct(exprs(0), exprs(1))),
    ("vec_sqdist", exprs => SqDist(exprs(0), exprs(1))),
    ("ngram_shingles", NgramShingles.forArgs),
    ("winnow_hashes", WinnowHashes.forArgs),
    ("cdc_chunks", CdcChunks.forArgs),
    ("suffix_stats", SuffixStats.forArgs),
    ("url_canonicalize", UrlCanonicalize.forArgs),
    ("winnow_anchors", WinnowAnchors.forArgs),
    ("bpe_frame", exprs => BpeFrame(exprs.head)),
    ("bigram_bucket_counts", BigramBuckets.forArgs),
    ("term_counts", TermCounts.forArgs),
    ("pair_counts", exprs => PairCounts(exprs.head)),
    ("vec_fold_sum", exprs => VecFoldSum(exprs.head)),
    ("hash_weight_sum", HashWeightSum.forArgs),
    ("pq_code", PqCode.forArgs),
    ("common_extent", CommonExtent.forArgs),
    ("common_extent_packed", CommonExtent.forArgsPacked),
    ("sorted_dot_long", SortedDotLong.forArgs),
    ("bit_length_long", exprs => BitLength(exprs.head)),
    ("duck_slice", DuckCompat.sliceForArgs))

  def register(spark: SparkSession): Unit = {
    // Skip names already present: `newSession()` clones the parent's
    // registry, so a blind createOrReplace on every gateway request would
    // log a "function replaced" warning per query for the same builder.
    val fr = spark.sessionState.functionRegistry
    expressions.foreach { case (name, builder) =>
      if (!fr.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(name)))
        fr.createOrReplaceTempFunction(name, builder, "built-in")
    }
    DuckCompat.register(spark)
    graft.gateway.TableFunctions.register(spark)
  }
}
