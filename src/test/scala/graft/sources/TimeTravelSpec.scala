package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkFixture, Tables}
import graft.gateway.{ConnectionConfig, Engine}

/** Snapshot time travel: append creates a second snapshot; scans at the old
  * snapshot id see the old data (reference capability surface, reference
  * README.md:197 "Time travel queries via snapshots").
  */
class TimeTravelSpec extends AnyFunSuite with SparkFixture {

  private lazy val table: String = {
    val dir = tmpDir("tt") + "/warehouse/region"
    IcebergLiteWriter.write(spark, Tables.t(spark, sf0001, "region"), dir)
    IcebergLiteWriter.append(spark,
      Tables.t(spark, sf0001, "region").withColumn("r_regionkey", col("r_regionkey") + 100),
      dir)
    dir
  }

  private def snapshotIds: Seq[Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val meta = IcebergLite.readMetadataJson(
      conf, IcebergLite.latestMetadataPath(conf, table).get)
    meta.get("snapshots").collect {
      case graft.gateway.JValue.JArr(items) =>
        items.collect { case o: graft.gateway.JValue.JObj =>
          o.get("snapshot-id").collect { case graft.gateway.JValue.JNum(n) => n.toLong }.get
        }
    }.get
  }

  test("append produces a second snapshot; latest scan sees both batches") {
    assert(snapshotIds.length == 2)
    assert(IcebergLite.scan(spark, table).count() == 10)
  }

  test("scan at the first snapshot id sees only the original rows") {
    val first = snapshotIds.head
    val df = IcebergLite.scan(spark, table, Some(first))
    assert(df.count() == 5)
    assert(df.agg(max(col("r_regionkey"))).head.getInt(0) < 100)
  }

  test("probe reports the latest snapshot after append") {
    val info = IcebergLite.probe(spark, table)
    assert(info.snapshotId.contains(snapshotIds.last.toString))
    assert(info.rows.contains(10L))
  }

  test("iceberg_scan('p', snapshot_id => N) travels through the SQL surface") {
    val cfg = ConnectionConfig("minio", "e", "k", "s")
    val first = snapshotIds.head
    val old = Engine.executeQuery(spark,
      s"SELECT COUNT(*) AS n FROM iceberg_scan('$table', snapshot_id => $first)", cfg)
    assert(old.rows.head.head == 5L)
    val cur = Engine.executeQuery(spark,
      s"SELECT COUNT(*) AS n FROM iceberg_scan('$table')", cfg)
    assert(cur.rows.head.head == 10L)
    val positional = Engine.executeQuery(spark,
      s"SELECT COUNT(*) AS n FROM iceberg_scan('$table', $first)", cfg)
    assert(positional.rows.head.head == 5L)
  }

  test("tags: ref-addressed scans and the iceberg_refs listing") {
    val cfg = ConnectionConfig("minio", "e", "k", "s")
    // A fresh table: tags change metadata, so don't share the lazy fixture.
    val dir = tmpDir("tt_refs") + "/warehouse/region_refs"
    val region = Tables.t(spark, sf0001, "region")
    IcebergLiteWriter.write(spark, region, dir)
    val first = IcebergLite.snapshotsRelation(spark, dir).collect().head.getLong(0)
    IcebergLiteWriter.append(spark, region, dir)
    IcebergLiteWriter.setRef(spark, dir, "v1.0", first)
    // Tag-addressed travel over SQL; 'main' is the current snapshot.
    val old = Engine.executeQuery(spark,
      s"SELECT COUNT(*) AS n FROM iceberg_scan('$dir', ref => 'v1.0')", cfg)
    assert(old.rows.head.head == 5L)
    val cur = Engine.executeQuery(spark,
      s"SELECT COUNT(*) AS n FROM iceberg_scan('$dir', ref => 'main')", cfg)
    assert(cur.rows.head.head == 10L)
    // Refs relation: implicit main + the tag.
    val refs = Engine.executeQuery(spark,
      s"SELECT ref_name, type, snapshot_id FROM iceberg_refs('$dir') ORDER BY ref_name", cfg)
    assert(refs.rows.map(r => (r(0), r(1))) == Seq(("main", "branch"), ("v1.0", "tag")))
    assert(refs.rows(1)(2) == first)
    // An unknown ref is a loud 400, naming the known refs.
    val e = intercept[Engine.EngineError](Engine.executeQuery(spark,
      s"SELECT * FROM iceberg_scan('$dir', ref => 'nope')", cfg))
    assert(e.status == 400 && e.detail.contains("v1.0"))
  }
}
