package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkFixture, Tables}
import graft.gateway.{ConnectionConfig, Engine}

/** iceberg_metadata() / iceberg_snapshots() as queryable relations — the
  * reference's own probe SQL (main.py:503-512) must run against them.
  */
class MetadataRelationsSpec extends AnyFunSuite with SparkFixture {

  private val cfg = ConnectionConfig("minio", "e", "k", "s")

  private lazy val table: String = {
    val dir = tmpDir("metarel") + "/warehouse/region"
    IcebergLiteWriter.write(spark, Tables.t(spark, sf0001, "region"), dir)
    IcebergLiteWriter.append(spark, Tables.t(spark, sf0001, "region"), dir)
    dir
  }

  test("the reference's manifest aggregate runs against iceberg_metadata()") {
    val r = Engine.executeQuery(spark,
      s"""SELECT
         |  COALESCE(SUM(record_count), 0) AS rows,
         |  COUNT(*) AS files,
         |  BOOL_OR(manifest_content <> 'DATA') AS has_deletes
         |FROM iceberg_metadata('$table')""".stripMargin, cfg)
    assert(r.columns == Seq("rows", "files", "has_deletes"))
    assert(r.rows.head(0) == 10L)
    assert(r.rows.head(2) == false)
  }

  test("iceberg_snapshots() exposes the snapshot log with current flag") {
    val r = Engine.executeQuery(spark,
      s"SELECT snapshot_id, is_current FROM iceberg_snapshots('$table') ORDER BY committed_at",
      cfg)
    assert(r.rows.length == 2)
    assert(r.rows.map(_(1)) == Seq(false, true))
  }

  test("iceberg_files() exposes per-file stats; iceberg_partitions() rolls them up") {
    // Partitioned table: two writes, partitions split the region rows.
    val dir = tmpDir("metarel_files") + "/warehouse/region_files"
    IcebergLiteWriter.write(spark, Tables.t(spark, sf0001, "region"), dir,
      partitionBy = Seq("r_regionkey"))
    val files = Engine.executeQuery(spark,
      s"""SELECT COUNT(*) AS n, SUM(record_count) AS rows, MIN(file_size_bytes) AS min_b
         |FROM iceberg_files('$dir')""".stripMargin, cfg)
    assert(files.rows.head(1) == 5L)             // all region rows accounted for
    assert(files.rows.head(0).asInstanceOf[Long] >= 5L) // one file per regionkey partition
    assert(files.rows.head(2).asInstanceOf[Long] > 0L)
    // The partitions rollup: one row per partition tuple, totals match.
    val parts = Engine.executeQuery(spark,
      s"""SELECT COUNT(*) AS n_parts, SUM(file_count) AS files, SUM(record_count) AS rows
         |FROM iceberg_partitions('$dir')""".stripMargin, cfg)
    assert(parts.rows.head(0) == 5L)
    assert(parts.rows.head(2) == 5L)
    // Per-partition keys ride as a queryable map column.
    val one = Engine.executeQuery(spark,
      s"""SELECT partition['r_regionkey'] AS k, record_count
         |FROM iceberg_partitions('$dir') ORDER BY k""".stripMargin, cfg)
    assert(one.rows.map(_(0)) == Seq("0", "1", "2", "3", "4"))
    assert(one.rows.forall(_(1) == 1L))
  }

  test("iceberg_history() tracks made-current lineage through appends and rollback") {
    val dir = tmpDir("metarel_hist") + "/warehouse/region_hist"
    val region = Tables.t(spark, sf0001, "region")
    IcebergLiteWriter.write(spark, region, dir)
    IcebergLiteWriter.append(spark, region, dir)
    val snaps = IcebergLite.snapshotsRelation(spark, dir)
      .orderBy("committed_at").collect().map(_.getLong(0))
    val Array(s1, s2) = snaps
    // Two commits: both current-ancestors, parent chain recorded.
    val h1 = Engine.executeQuery(spark,
      s"""SELECT snapshot_id, parent_id, is_current_ancestor
         |FROM iceberg_history('$dir') ORDER BY made_current_at""".stripMargin, cfg)
    assert(h1.rows.map(_(0)) == Seq(s1, s2))
    assert(h1.rows.map(_(1)) == Seq(null, s1))
    assert(h1.rows.forall(_(2) == true))
    // Rollback to s1: a THIRD history entry appears (s1 re-currented at a
    // later wall time), and s2 leaves the current-ancestor lineage.
    IcebergLiteWriter.rollback(spark, dir, s1)
    val h2 = Engine.executeQuery(spark,
      s"""SELECT snapshot_id, is_current_ancestor
         |FROM iceberg_history('$dir') ORDER BY made_current_at, snapshot_id""".stripMargin, cfg)
    assert(h2.rows.size == 3)
    assert(h2.rows.last(0) == s1)
    assert(h2.rows.collect { case r if r(0) == s2 => r(1) } == Seq(false))
    assert(h2.rows.collect { case r if r(0) == s1 => r(1) }.forall(_ == true))
  }

  test("delete table shows DELETE manifest content") {
    val dir = tmpDir("metarel_del") + "/warehouse/t"
    IcebergLiteWriter.write(spark, Tables.t(spark, sf0001, "region"), dir)
    val dataFile = IcebergLite.fileEntries(spark.sparkContext.hadoopConfiguration, dir).head.path
    IcebergLiteWriter.addPositionDeletes(spark, dir, Seq((dataFile, 0L)))
    val r = Engine.executeQuery(spark,
      s"SELECT BOOL_OR(manifest_content <> 'DATA') AS has_deletes FROM iceberg_metadata('$dir')",
      cfg)
    assert(r.rows.head.head == true)
  }
}
