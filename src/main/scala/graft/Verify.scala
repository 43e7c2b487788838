package graft
import java.nio.file.{Files, Paths}

import graft.gateway.JValue.{JObj, JStr}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = SparkEntry.sessionBuilder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // Bounded-cache contract: drop the blocks this query's operators
      // persisted (GlobalRank's pinned partitioning, perplexityBuckets'
      // scored relation, ...) now that the parquet dump is complete —
      // otherwise the full-corpus run accumulates every query's persists
      // on the shared block manager.
      finally graft.ops.CacheScope.releaseCurrent()
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(SparkEntry.oracleSql))
    spark.stop()
  }

  /** `oracle_sql.json`: query name → DuckDB SQL, in name order. */
  private[graft] def oracleJson(oracle: Map[String, String]): String =
    JObj(oracle.toVector.sortBy(_._1).map { case (k, v) => k -> JStr(v) }).render
}
