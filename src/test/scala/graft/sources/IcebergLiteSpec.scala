package graft.sources

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.Tables
import graft.gateway.JValue.{JArr, JNum, JObj, JStr}

/** Mirrors /root/reference/backend/tests/test_connection_probing.py against
  * the IcebergLite metadata chain (fixture written by IcebergLiteWriter).
  */
class IcebergLiteSpec extends AnyFunSuite with SparkFixture {

  private lazy val table: String = {
    val dir = tmpDir("iceberg_region") + "/warehouse/region"
    IcebergLiteWriter.write(spark, Tables.t(spark, sf0001, "region"), dir)
    dir
  }

  private lazy val deleteTable: String = {
    val dir = tmpDir("iceberg_del") + "/warehouse/region_del"
    IcebergLiteWriter.write(spark, Tables.t(spark, sf0001, "region"), dir)
    val dataFile = IcebergLite.fileEntries(spark.sparkContext.hadoopConfiguration, dir).head.path
    IcebergLiteWriter.addPositionDeletes(spark, dir, Seq((dataFile, 0L)))
    dir
  }

  test("probe returns format, snapshot, rows, files, no deletes") {
    val info = IcebergLite.probe(spark, table)
    assert(info.format.contains("iceberg-v2"))
    assert(info.rows.contains(5L))
    assert(info.files.exists(_ >= 1L))
    assert(info.hasDeletes.contains(false))
    // 64-bit snapshot ids are stringified at the JSON edge.
    assert(info.snapshotId.exists(s => s.nonEmpty && s.forall(_.isDigit)))
    assert(info.lastSnapshotAt.exists(t => t.contains("T") && t.endsWith("Z")))
    assert(info.suggestedQuery.contains("iceberg_scan"))
  }

  test("scan reads the table's data files") {
    val df = IcebergLite.scan(spark, table)
    assert(df.count() == 5)
    assert(df.columns.toSet == Set("r_regionkey", "r_name"))
  }

  test("delete manifests are detected and the guard blocks") {
    assert(IcebergLite.hasDeletes(spark.sparkContext.hadoopConfiguration, deleteTable))
    val e = intercept[IcebergLite.DeleteGuardError](
      IcebergLite.assertNoDeletes(spark, deleteTable))
    assert(e.message.contains("row-level deletes"))
    assert(IcebergLite.probe(spark, deleteTable).hasDeletes.contains(true))
  }

  test("clean table passes the guard") {
    IcebergLite.assertNoDeletes(spark, table)
  }

  test("probe of a non-table path fails") {
    intercept[IcebergLite.ProbeError](
      IcebergLite.probe(spark, tmpDir("not_a_table")))
  }

  test("guard degrades (does not block) when metadata is unreadable") {
    IcebergLite.assertNoDeletes(spark, tmpDir("nothing_here"))
  }

  test("manifest sub-probe degradation keeps metadata-json fields") {
    val dir = tmpDir("iceberg_degraded") + "/warehouse/t"
    IcebergLiteWriter.write(spark, Tables.t(spark, sf0001, "region"), dir)
    // Corrupt the manifest list -> manifest aggregate fails, JSON probe ok.
    val metaDir = Paths.get(dir.stripPrefix("file:"), "metadata")
    Files.list(metaDir).filter(_.getFileName.toString.startsWith("snap-"))
      .forEach(p => Files.write(p, Array[Byte](1, 2, 3)))
    val info = IcebergLite.probe(spark, dir)
    assert(info.format.contains("iceberg-v2"))
    assert(info.snapshotId.nonEmpty)
    assert(info.rows.isEmpty && info.files.isEmpty)
  }

  test("latest metadata json wins by filename order") {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = IcebergLite.latestMetadataPath(conf, table)
    assert(p.exists(_.getName.endsWith(".metadata.json")))
  }

  test("column names with quotes and backslashes survive the metadata round trip") {
    import spark.implicits._
    val dir = tmpDir("iceberg_names") + "/warehouse/t"
    val df = Seq((1L, "x", "p1"), (2L, "y", "p2"), (3L, "z", "p1"))
      .toDF("a\"b", "a\\b", "p\"q")
    IcebergLiteWriter.write(spark, df, dir, partitionBy = Seq("p\"q"))
    val scan = IcebergLite.scan(spark, dir)
    def byName(d: org.apache.spark.sql.DataFrame): Set[Map[String, Any]] =
      d.collect().map(r => d.columns.zip(r.toSeq).toMap).toSet
    assert(scan.columns.toSet == df.columns.toSet)
    assert(byName(scan) == byName(df))
  }

  test("every commit carries the schema, partition spec, refs and snapshot log forward") {
    import spark.implicits._
    val dir = tmpDir("iceberg_carry") + "/warehouse/events"
    val conf = spark.sparkContext.hadoopConfiguration
    def batch(ids: Range, v: Double) = ids.map(i => (i.toLong, s"k${i % 3}",
      java.sql.Timestamp.valueOf(f"2024-01-${i % 2 + 1}%02d 10:00:00"), v))
      .toDF("id", "region", "ts", "v")
    def meta: JObj = IcebergLite.readMetadataJson(conf, IcebergLite.latestMetadataPath(conf, dir).get)
    def num(o: JObj, key: String): Option[Long] = o.get(key).collect { case JNum(n) => n.toLong }
    def arr(o: JObj, key: String): Vector[JObj] =
      o.get(key).collect { case JArr(xs) => xs.collect { case x: JObj => x } }.getOrElse(Vector.empty)
    def schemaOf(m: JObj): Seq[(Option[Long], Option[String], Option[String])] =
      arr(m, "schemas").filter(s => num(s, "schema-id") == num(m, "current-schema-id"))
        .flatMap(arr(_, "fields")).map(f => (num(f, "id"), f.str("name"), f.str("type")))
    def current(m: JObj): Long = num(m, "current-snapshot-id").get
    val spec = Seq("region", "day(ts)")

    IcebergLiteWriter.write(spark, batch(0 until 12, 1.0), dir, partitionBy = spec)
    val first = meta
    val schema = schemaOf(first)
    assert(schema == Seq((Some(1L), Some("id"), Some("long")), (Some(2L), Some("region"), Some("string")),
      (Some(3L), Some("ts"), Some("timestamptz")), (Some(4L), Some("v"), Some("double"))))
    assert(IcebergLite.partitionSpecDsl(first) == spec)
    var prev = first
    var refs = JObj()
    // After a commit: schema, spec and refs read back unchanged, the
    // snapshot log extends the prior one, and a new snapshot (if any)
    // names the prior current snapshot as its parent.
    def committed(newSnapshot: Boolean): JObj = {
      val m = meta
      assert(schemaOf(m) == schema)
      assert(IcebergLite.partitionSpecDsl(m) == spec)
      assert(m.get("refs").contains(refs))
      assert(arr(m, "snapshot-log").startsWith(arr(prev, "snapshot-log")))
      if (newSnapshot) {
        assert(arr(m, "snapshots").init == arr(prev, "snapshots"))
        assert(num(arr(m, "snapshots").last, "parent-snapshot-id").contains(current(prev)))
        assert(arr(m, "snapshot-log").length == arr(prev, "snapshot-log").length + 1)
      } else assert(arr(m, "snapshots") == arr(prev, "snapshots"))
      prev = m
      m
    }

    IcebergLiteWriter.setRef(spark, dir, "v1", current(first))
    refs = JObj("v1" -> JObj("snapshot-id" -> JNum(current(first)), "type" -> JStr("tag")))
    assert(arr(committed(newSnapshot = false), "snapshot-log") == arr(first, "snapshot-log"))
    IcebergLiteWriter.setRef(spark, dir, "audit", current(first), refType = "branch")
    refs = JObj(refs.fields :+ ("audit" -> JObj("snapshot-id" -> JNum(current(first)), "type" -> JStr("branch"))))
    committed(newSnapshot = false)
    IcebergLiteWriter.append(spark, batch(12 until 20, 2.0), dir)
    val appended = committed(newSnapshot = true)
    IcebergLiteWriter.addEqualityDeletes(spark, dir, Seq(3L).toDF("id"))
    committed(newSnapshot = true)
    IcebergLiteWriter.upsert(spark, batch(4 until 6, 3.0), dir, keyCols = Seq("id"))
    committed(newSnapshot = true)
    // One row per file, so the compaction below has small files to merge.
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "1")
    try assert(IcebergLiteWriter.rewriteApplyingDeletes(spark, dir).rewritten > 0)
    finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    committed(newSnapshot = true)
    assert(IcebergLiteWriter.compact(spark, dir).written > 0)
    committed(newSnapshot = true)
    IcebergLiteWriter.rollback(spark, dir, current(appended))
    val rolledBack = committed(newSnapshot = false)
    assert(current(rolledBack) == current(appended))
    assert(num(arr(rolledBack, "snapshot-log").last, "snapshot-id").contains(current(appended)))
    assert(IcebergLite.scan(spark, dir).count() == 20)
  }

  test("a partition field's source-id is the field id of the column its source-name names") {
    import spark.implicits._
    val dir = tmpDir("iceberg_source_id") + "/warehouse/events"
    val conf = spark.sparkContext.hadoopConfiguration
    val df = (0 until 8).map(i => (i.toLong, java.sql.Timestamp.valueOf(f"2024-01-0${i % 2 + 1} 10:00:00"),
      (i % 3).toLong, s"r${i % 2}")).toDF("event_id", "ts", "user_id", "region")
    IcebergLiteWriter.write(spark, df, dir, partitionBy = Seq("region", "day(ts)", "bucket(4, user_id)"))
    IcebergLiteWriter.append(spark, df, dir)
    val meta = IcebergLite.readMetadataJson(conf, IcebergLite.latestMetadataPath(conf, dir).get)
    val ids = IcebergLite.currentSchemaOf(meta).get.fields.map(f => f.name -> f.id).toMap
    val specFields = meta.get("partition-specs").collect { case JArr(specs) =>
      specs.collect { case s: JObj => s.get("fields") }.flatten
    }.toSeq.flatten.collect { case JArr(fs) => fs.collect { case f: JObj => f } }.flatten
    assert(specFields.flatMap(_.str("source-name")) == Seq("region", "ts", "user_id"))
    specFields.foreach { f =>
      assert(f.long("source-id") == f.str("source-name").flatMap(ids.get), f.render)
    }
  }
}
