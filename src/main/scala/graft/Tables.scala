package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Loaders for the driver testdata (TESTDATA.md): one parquet per table
  * under `/root/testdata/sf{0.001,0.01,0.1}`. Reads go through the
  * vectorized parquet reader; column pruning + predicate pushdown apply
  * per query.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Parquet footer schema per (path, mtime): schema inference is a
    * footer read per `spark.read.parquet` call, which a ~100-query corpus
    * run pays ~per query per table. Schemas are plain values (no session
    * references), so a global memo is safe across sessions and threads;
    * the modification time in the key invalidates the entry when a
    * fixture is regenerated at the same path within one JVM lifetime.
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), org.apache.spark.sql.types.StructType]()

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    // events.ts layout varies across fixture generations: TIMESTAMP(NANOS)
    // (which Spark 4 refuses to read as a timestamp — the legacy conf reads
    // it as raw nanos instead) or naive TIMESTAMP(MICROS) (inferred as
    // TIMESTAMP_NTZ). Both normalize to the session-UTC TimestampType the
    // corpus operates on, truncating nanos exactly as DuckDB's scan does,
    // so oracle results line up under either layout.
    if (name == "events")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = schemaCache.computeIfAbsent(
      (path, new java.io.File(path).lastModified()),
      _ => spark.read.parquet(path).schema)
    val base = spark.read.schema(schema).parquet(path)
    if (name == "events") {
      import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
      schema("ts").dataType match {
        case LongType => base.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampNTZType => base.withColumn("ts", col("ts").cast(TimestampType))
        case _ => base
      }
    } else base
  }

  /** Register every table as a temp view so spark.sql corpus queries and
    * the gateway can reference them by name. Memoized per (session, dir) —
    * repeated corpus queries skip the 10 parquet-footer reads.
    */
  def registerAll(spark: SparkSession, dir: String): Unit = {
    val key = "graft.tables.dir"
    if (!spark.conf.getOption(key).contains(dir)) {
      names.foreach(n => t(spark, dir, n).createOrReplaceTempView(n))
      spark.conf.set(key, dir)
    }
  }
}

/** Deterministic-aggregation helpers.
  *
  * Double summation is order-dependent, and Spark (partial/final partition
  * aggregation) visits rows in a different order than a single-node oracle.
  * The testdata money columns carry <= 2 fractional digits, so casting to
  * decimal makes the aggregation exact and order-independent; casting the
  * exact decimal result back to double is then bit-identical across engines.
  */
object Num {
  def dec(c: Column, p: Int = 18, s: Int = 2): Column = c.cast(DecimalType(p, s))

  /** Exact sum of a <=2-decimal-digit double column, returned as double. */
  def dsum(c: Column): Column = sum(dec(c)).cast("double")

  /** Order-independent average: exact decimal sum / count, in doubles. */
  def davg(c: Column): Column = sum(dec(c)).cast("double") / count(c)
}
