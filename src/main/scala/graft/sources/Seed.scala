package graft.sources

/** Demo/ops tool: seed an Iceberg-lite table from a testdata table, or
  * append another snapshot to one.
  *
  * Usage: runMain graft.sources.Seed <sfDir> <tableName> <targetDir> [append]
  */
object Seed {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, tableName, targetDir, rest @ _*) = args
    val spark = graft.SparkEntry.sessionBuilder(4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = graft.Tables.t(spark, sfDir, tableName)
    if (rest.contains("append")) IcebergLiteWriter.append(spark, df, targetDir)
    else IcebergLiteWriter.write(spark, df, targetDir)
    val info = IcebergLite.probe(spark, targetDir)
    println(s"seeded: $targetDir rows=${info.rows.getOrElse(-1L)} snapshot=${info.snapshotId.getOrElse("?")}")
    spark.stop()
  }
}
