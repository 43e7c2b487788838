package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkFixture, Tables}

/** File/partition pruning, TIMESTAMP AS OF, schema-evolution guard, and
  * merge-on-read deletes over the Iceberg-lite chain — the capabilities the
  * reference gets from its engine's iceberg extension (reference
  * README.md:197-198,233).
  */
class IcebergPruningSpec extends AnyFunSuite with SparkFixture {

  /** numFiles summed over the executed plan's file scans (AQE-aware). */
  private def filesScanned(df: DataFrame): Long = {
    df.collect()
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: walk(a.executedPlan)
      case q: QueryStageExec => p +: walk(q.plan)
      case _ => p +: p.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
      .collect { case s: FileSourceScanExec => s.metrics("numFiles").value }
      .sum
  }

  private lazy val partitionedTable: String = {
    val dir = tmpDir("iceberg_part") + "/warehouse/orders_part"
    IcebergLiteWriter.write(spark,
      Tables.t(spark, sf0001, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"),
      dir, partitionBy = Seq("o_orderstatus"))
    dir
  }

  private lazy val rangedTable: String = {
    val dir = tmpDir("iceberg_range") + "/warehouse/orders_range"
    IcebergLiteWriter.write(spark,
      Tables.t(spark, sf0001, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .repartitionByRange(4, col("o_orderkey")),
      dir)
    dir
  }

  test("partitioned write round-trips with the partition column restored") {
    val df = IcebergLite.scan(spark, partitionedTable)
    assert(df.columns.toSet ==
      Set("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"))
    assert(df.count() == 1500)
    val statuses = df.select("o_orderstatus").distinct().collect().map(_.getString(0)).toSet
    assert(statuses == Set("F", "O", "P"))
  }

  test("partition filter prunes data files before the scan") {
    val df = IcebergLite.scan(spark, partitionedTable)
    val all = filesScanned(df)
    val pruned = filesScanned(df.filter(col("o_orderstatus") === "P"))
    assert(pruned < all, s"expected pruning: $pruned < $all")
    // Cross-check rows against a plain read.
    val expected = Tables.t(spark, sf0001, "orders")
      .filter(col("o_orderstatus") === "P").count()
    assert(df.filter(col("o_orderstatus") === "P").count() == expected)
  }

  test("hidden partitioning: day/bucket transforms prune on SOURCE-column filters, stay out of the schema") {
    import spark.implicits._
    val dir = tmpDir("iceberg_hidden") + "/warehouse/events_hidden"
    val ts = (d: String) => java.sql.Timestamp.valueOf(d)
    val rows = (0 until 200).map { i =>
      (i.toLong, ts(f"2024-01-${i % 4 + 1}%02d 10:00:00"), (i % 10).toLong, i * 1.5)
    }
    val df = rows.toDF("event_id", "ts", "user_id", "value")
    IcebergLiteWriter.write(spark, df, dir,
      partitionBy = Seq("day(ts)", "bucket(4, user_id)"))

    val scan = IcebergLite.scan(spark, dir)
    // Hidden fields never surface as table columns.
    assert(scan.columns.toSet == Set("event_id", "ts", "user_id", "value"))
    assert(scan.count() == 200)
    // Round-trip: rows identical to the source.
    assert(scan.orderBy("event_id").collect().toSeq ==
      df.orderBy("event_id").collect().toSeq)

    val all = filesScanned(scan)
    assert(all >= 16, s"expected 4 days x 4 buckets layout, got $all files")
    // Day range on the SOURCE timestamp prunes to one day's files (the
    // upper bound sits inside day 02, so day 03 is provably excluded; an
    // exact-midnight bound would conservatively keep the boundary day).
    val oneDay = filesScanned(scan.filter(
      col("ts") >= lit(ts("2024-01-02 00:00:00")) &&
        col("ts") <= lit(ts("2024-01-02 23:00:00"))))
    assert(oneDay < all / 2, s"day pruning: $oneDay of $all") // one of 4 days (file counts per partition vary)
    // Bucket equality on the SOURCE id prunes to one bucket's files.
    val oneUser = filesScanned(scan.filter(col("user_id") === 7L))
    assert(oneUser < all / 2, s"bucket pruning: $oneUser of $all") // one of 4 buckets
    // Pruned results stay correct.
    assert(scan.filter(col("user_id") === 7L).count() ==
      df.filter(col("user_id") === 7L).count())
    assert(scan.filter(col("ts") >= lit(ts("2024-01-02 00:00:00")) &&
        col("ts") <= lit(ts("2024-01-02 23:00:00"))).count() ==
      df.filter(col("ts") >= lit(ts("2024-01-02 00:00:00")) &&
        col("ts") <= lit(ts("2024-01-02 23:00:00"))).count())

    // Appends inherit the transform spec (hidden fields survive the
    // metadata rewrite) and new files land in the same layout.
    val more = Seq((1000L, ts("2024-01-02 12:00:00"), 7L, 9.9))
      .toDF("event_id", "ts", "user_id", "value")
    IcebergLiteWriter.append(spark, more, dir)
    val scan2 = IcebergLite.scan(spark, dir)
    assert(scan2.count() == 201)
    assert(scan2.filter(col("user_id") === 7L && col("event_id") === 1000L).count() == 1)
    val meta2 = IcebergLite.latestMetadataPath(
      spark.sparkContext.hadoopConfiguration, dir).map(p =>
      IcebergLite.readMetadataJson(spark.sparkContext.hadoopConfiguration, p)).get
    assert(IcebergLite.partitionSpecDsl(meta2) == Seq("day(ts)", "bucket(4, user_id)"))
  }

  test("time transforms are UTC-pinned: a reader in another zone gets the same rows") {
    import spark.implicits._
    val dir = tmpDir("iceberg_tz") + "/warehouse/events_tz"
    // 23:00 UTC on Jan 1 — in Asia/Tokyo this instant is Jan 2. If either
    // derive or pruning used a session zone, the row would vanish for one
    // of the two readers.
    val boundary = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T23:00:00Z"))
    val other = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-05T01:00:00Z"))
    val df = Seq((1L, boundary, 1.0), (2L, other, 2.0)).toDF("id", "ts", "v")
    IcebergLiteWriter.write(spark, df, dir, partitionBy = Seq("day(ts)"))
    // Partition dirs carry UTC dates regardless of session zone.
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(dir).getFileSystem(conf)
    val days = fs.listStatus(new Path(s"$dir/data"))
      .map(_.getPath.getName).filter(_.startsWith("ts_day=")).sorted
    assert(days.toSeq == Seq("ts_day=2024-01-01", "ts_day=2024-01-05"), days.mkString(","))
    val tzKey = "spark.sql.session.timeZone"
    val prior = spark.conf.get(tzKey)
    try {
      for (zone <- Seq("UTC", "Asia/Tokyo", "America/Los_Angeles")) {
        spark.conf.set(tzKey, zone)
        val got = IcebergLite.scan(spark, dir)
          .filter(col("ts") === lit(boundary))
          .select("id").collect().map(_.getLong(0)).toSeq
        assert(got == Seq(1L), s"zone $zone lost the boundary row: $got")
      }
    } finally spark.conf.set(tzKey, prior)
  }

  test("time transforms are UTC-pinned for a WRITER in another zone too") {
    import spark.implicits._
    // The derive expressions are analyzed (ResolveTimeZone) when the
    // DataFrame is BUILT, so the UTC pin must precede construction — a
    // writer session in Asia/Tokyo would otherwise stamp Tokyo-local dates
    // into the partition paths while the reader's index prunes in UTC,
    // silently dropping boundary rows.
    val dir = tmpDir("iceberg_tz_writer") + "/warehouse/events_tzw"
    val boundary = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T23:00:00Z"))
    val other = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-05T01:00:00Z"))
    val df = Seq((1L, boundary, 1.0), (2L, other, 2.0)).toDF("id", "ts", "v")
    val tzKey = "spark.sql.session.timeZone"
    val prior = spark.conf.get(tzKey)
    try {
      spark.conf.set(tzKey, "Asia/Tokyo")
      IcebergLiteWriter.write(spark, df, dir, partitionBy = Seq("day(ts)"))
      // In Tokyo the boundary instant is Jan 2 — the path must say Jan 1.
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = new Path(dir).getFileSystem(conf)
      val days = fs.listStatus(new Path(s"$dir/data"))
        .map(_.getPath.getName).filter(_.startsWith("ts_day=")).sorted
      assert(days.toSeq == Seq("ts_day=2024-01-01", "ts_day=2024-01-05"), days.mkString(","))
      // And the writer session must have its zone restored afterwards.
      assert(spark.conf.get(tzKey) == "Asia/Tokyo")
      // Pruned equality read (still in Tokyo) finds the boundary row.
      val got = IcebergLite.scan(spark, dir)
        .filter(col("ts") === lit(boundary))
        .select("id").collect().map(_.getLong(0)).toSeq
      assert(got == Seq(1L), s"writer-zone drift lost the boundary row: $got")
    } finally spark.conf.set(tzKey, prior)
  }

  test("month and string-truncate transforms: pruning, and numeric truncate refuses") {
    import spark.implicits._
    val dir = tmpDir("iceberg_hidden2") + "/warehouse/docs_hidden"
    val ts = (d: String) => java.sql.Timestamp.valueOf(d)
    val rows = (0 until 120).map { i =>
      (i.toLong, ts(f"2024-${i % 3 + 1}%02d-15 08:00:00"), s"src${i % 5}/item$i")
    }
    val df = rows.toDF("id", "ts", "path")
    IcebergLiteWriter.write(spark, df, dir,
      partitionBy = Seq("month(ts)", "truncate(4, path)"))
    val scan = IcebergLite.scan(spark, dir)
    assert(scan.columns.toSet == Set("id", "ts", "path"))
    assert(scan.count() == 120)
    val all = filesScanned(scan)
    // Month range prunes to one month's files.
    val feb = filesScanned(scan.filter(
      col("ts") >= lit(ts("2024-02-01 00:00:00")) &&
        col("ts") <= lit(ts("2024-02-20 00:00:00"))))
    assert(feb < all / 2, s"month pruning: $feb of $all")
    // Truncate equality prunes to one prefix's files ("src3..." -> "src3").
    val one = filesScanned(scan.filter(col("path") === "src3/item3"))
    assert(one < all / 2, s"truncate pruning: $one of $all")
    assert(scan.filter(col("path") === "src3/item3").count() == 1)
    // Numeric truncate is refused loudly, not silently string-prefixed.
    val err = intercept[IllegalArgumentException] {
      IcebergLiteWriter.write(spark, df,
        tmpDir("iceberg_badtrunc") + "/warehouse/bad",
        partitionBy = Seq("truncate(2, id)"))
    }
    assert(err.getMessage.contains("STRING source column"))
  }

  test("hour and year transforms prune ranges like day") {
    import spark.implicits._
    val dir = tmpDir("iceberg_hidden3") + "/warehouse/events_hy"
    val ts = (d: String) => java.sql.Timestamp.valueOf(d)
    val rows = (0 until 96).map { i =>
      (i.toLong, ts(f"${2022 + i % 2}%d-03-01 ${i % 4 * 6}%02d:30:00"))
    }
    val df = rows.toDF("id", "ts")
    IcebergLiteWriter.write(spark, df, dir,
      partitionBy = Seq("year(ts)", "hour(ts)"))
    val scan = IcebergLite.scan(spark, dir)
    assert(scan.count() == 96)
    val all = filesScanned(scan)
    // Year equality range: only 2023's files.
    val oneYear = filesScanned(scan.filter(
      col("ts") >= lit(ts("2023-01-01 00:00:00")) &&
        col("ts") <= lit(ts("2023-12-31 00:00:00"))))
    assert(oneYear < all, s"year pruning: $oneYear of $all")
    // Hour range inside one morning: hours 00 and 06 only.
    val morning = filesScanned(scan.filter(
      col("ts") >= lit(ts("2022-03-01 00:00:00")) &&
        col("ts") <= lit(ts("2022-03-01 07:00:00"))))
    assert(morning < oneYear, s"hour pruning: $morning of $oneYear")
    assert(scan.filter(col("ts") >= lit(ts("2022-03-01 00:00:00")) &&
        col("ts") <= lit(ts("2022-03-01 07:00:00"))).count() ==
      df.filter(col("ts") >= lit(ts("2022-03-01 00:00:00")) &&
        col("ts") <= lit(ts("2022-03-01 07:00:00"))).count())
  }

  test("column-bounds filter skips files whose min/max exclude the predicate") {
    val df = IcebergLite.scan(spark, rangedTable)
    val all = filesScanned(df)
    assert(all >= 4)
    val pruned = filesScanned(df.filter(col("o_orderkey") < 100))
    assert(pruned < all, s"expected bounds pruning: $pruned < $all")
    val expected = Tables.t(spark, sf0001, "orders")
      .filter(col("o_orderkey") < 100).count()
    assert(df.filter(col("o_orderkey") < 100).count() == expected)
  }

  test("timestamp bounds skip files of an unpartitioned table") {
    import spark.implicits._
    // The writer stores timestamps as INT64 micros, which carry column
    // statistics; Spark's default INT96 carries none, so no bounds.
    val dir = tmpDir("iceberg_ts_bounds") + "/warehouse/events_ts"
    val start = java.time.Instant.parse("2024-01-01T00:00:00Z")
    val df = (0 until 40).map(i => (i.toLong, java.sql.Timestamp.from(start.plusSeconds(i * 3600L))))
      .toDF("id", "ts").repartitionByRange(4, col("ts"))
    IcebergLiteWriter.write(spark, df, dir)
    val scan = IcebergLite.scan(spark, dir)
    val all = filesScanned(scan)
    assert(all == 4)
    val early = col("ts") < lit(java.sql.Timestamp.from(start.plusSeconds(5 * 3600L)))
    val pruned = filesScanned(scan.filter(early))
    assert(pruned < all, s"expected timestamp bounds pruning: $pruned < $all")
    assert(scan.filter(early).count() == 5)
  }

  test("TIMESTAMP AS OF resolves via the snapshot log") {
    val dir = tmpDir("iceberg_ts") + "/warehouse/region_ts"
    IcebergLiteWriter.write(spark, Tables.t(spark, sf0001, "region"), dir)
    Thread.sleep(5) // distinct commit timestamps
    IcebergLiteWriter.append(spark,
      Tables.t(spark, sf0001, "region").limit(2), dir)
    val snaps = IcebergLite.snapshotsRelation(spark, dir)
      .orderBy("committed_at").collect()
    assert(snaps.length == 2)
    val t1 = snaps(0).getTimestamp(1).getTime
    val t2 = snaps(1).getTimestamp(1).getTime
    assert(IcebergLite.scan(spark, dir, asOfMillis = Some(t1)).count() == 5)
    assert(IcebergLite.scan(spark, dir, asOfMillis = Some(t2)).count() == 7)
    // Through the SQL surface.
    val iso = java.time.Instant.ofEpochMilli(t1).toString
    // On a child session with graft's functions, as the gateway runs it.
    val child = spark.newSession()
    graft.functions.GraftFunctions.register(child)
    assert(child.sql(s"SELECT COUNT(*) AS n FROM iceberg_scan('$dir', timestamp => '$iso')")
      .collect()(0).getLong(0) == 5)
    // Before the first commit: loud error.
    assertThrows[IcebergLite.ProbeError](
      IcebergLite.scan(spark, dir, asOfMillis = Some(t1 - 10000)))
  }

  /** Write a region fixture, then commit a hand-evolved metadata JSON on
    * top (the writer's files stay untouched — exactly the shape of a
    * schema-evolution commit from another engine).
    */
  private def evolvedFixture(prefix: String)(evolve: String => String): String = {
    val dir = tmpDir(prefix) + "/warehouse/region_ev"
    IcebergLiteWriter.write(spark, Tables.t(spark, sf0001, "region"), dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val metaPath = IcebergLite.latestMetadataPath(conf, dir).get
    val fs = metaPath.getFileSystem(conf)
    val in = fs.open(metaPath)
    val text = new String(
      org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
    in.close()
    val evolved = evolve(text)
    assert(evolved != text, "fixture evolution must change the metadata")
    val next = new Path(metaPath.getParent, "99999-evolved.metadata.json")
    val out = fs.create(next, true)
    out.write(evolved.getBytes("UTF-8"))
    out.close()
    dir
  }

  test("renamed column reads correctly through field-id projection") {
    val dir = evolvedFixture("iceberg_renamed")(
      _.replaceAll("\"name\":\\s*\"r_name\"", "\"name\": \"region_name\""))
    val df = IcebergLite.scan(spark, dir)
    assert(df.columns.toSet == Set("r_regionkey", "region_name"))
    // Values come from the physical r_name column, found by field id.
    val names = df.select("region_name").collect().map(_.getString(0)).toSet
    assert(names.contains("AFRICA"))
    // A filter on the renamed column still prunes/pushes down through the
    // rename projection.
    assert(df.filter(col("region_name") === "AFRICA").count() == 1)
  }

  test("dropped columns and type changes are still refused loudly") {
    // Declared schema no longer carries r_name -> the physical column is
    // unclaimed by any field id: refuse.
    val dropped = evolvedFixture("iceberg_dropped") { text =>
      val re = """,\s*\{"id":\s*\d+,\s*"name":\s*"r_name"[^}]*\}""".r
      re.replaceAllIn(text, "")
    }
    val e1 = intercept[IcebergLite.ProbeError](IcebergLite.scan(spark, dropped))
    assert(e1.getMessage.contains("r_name"))
    // Same field id, renamed AND retyped: the id resolves but the types
    // disagree -> refuse.
    val retyped = evolvedFixture("iceberg_retyped")(
      _.replaceAll("\"name\":\\s*\"r_name\",\\s*\"required\":\\s*false,\\s*\"type\":\\s*\"string\"",
        "\"name\": \"region_name\", \"required\": false, \"type\": \"long\""))
    val e2 = intercept[IcebergLite.ProbeError](IcebergLite.scan(spark, retyped))
    assert(e2.getMessage.contains("field-id"))
  }

  test("position deletes: guarded by default, merged on read when opted in") {
    val dir = tmpDir("iceberg_mor") + "/warehouse/region_mor"
    IcebergLiteWriter.write(spark, Tables.t(spark, sf0001, "region"), dir)
    // Pick one physical row to delete, addressed exactly as the reader
    // will see it: (file_path, row_index) from the parquet metadata cols.
    val victim = IcebergLite.scan(spark, dir)
      .select(col("_metadata.file_path"), col("_metadata.row_index"), col("r_regionkey"))
      .orderBy("r_regionkey").limit(1).collect()(0)
    IcebergLiteWriter.addPositionDeletes(spark, dir,
      Seq((victim.getString(0), victim.getLong(1))))

    assert(IcebergLite.probe(spark, dir).hasDeletes.contains(true))
    assertThrows[IcebergLite.DeleteGuardError](
      IcebergLite.assertNoDeletes(spark, dir))

    val merged = IcebergLite.scan(spark, dir, applyDeletes = true)
    assert(merged.count() == 4)
    assert(!merged.select("r_regionkey").collect()
      .map(_.getAs[Number](0).longValue())
      .contains(victim.getAs[Number](2).longValue()))
    // Without opting in, the scan is refused OUTRIGHT (r11): the guard
    // lives in scan itself, so a caller that skips assertNoDeletes —
    // e.g. the gateway's iceberg_scan('<path>') binder — can never
    // silently read removed rows.
    assertThrows[IcebergLite.DeleteGuardError](IcebergLite.scan(spark, dir))
  }

  test("equality deletes: applied on the MoR path, scoped by commit order") {
    import spark.implicits._
    val dir = tmpDir("iceberg_eq_apply") + "/warehouse/region_eq_apply"
    IcebergLiteWriter.write(spark, Tables.t(spark, sf0001, "region"), dir)
    val preDeleteSnap = IcebergLite.probe(spark, dir).snapshotId.get.toLong

    // Delete regionkeys 1 and 3 by value.
    IcebergLiteWriter.addEqualityDeletes(spark, dir,
      Seq(1L, 3L).toDF("r_regionkey"))

    // Default path still guarded, exactly as for position deletes —
    // both at the metadata probe and in scan itself (r11).
    assertThrows[IcebergLite.DeleteGuardError](
      IcebergLite.assertNoDeletes(spark, dir))
    assertThrows[IcebergLite.DeleteGuardError](IcebergLite.scan(spark, dir))

    // Opt-in merge removes exactly the matching rows — no refusal.
    val merged = IcebergLite.scan(spark, dir, applyDeletes = true)
    assert(merged.count() == 3)
    val keys = merged.select("r_regionkey").collect()
      .map(_.getAs[Number](0).longValue()).toSet
    assert(keys == Set(0L, 2L, 4L))

    // Sequence semantics: a row with a deleted key APPENDED AFTER the
    // delete commit survives (the delete applies only to earlier files).
    val resurrect = Tables.t(spark, sf0001, "region").filter(col("r_regionkey") === 1)
    IcebergLiteWriter.append(spark, resurrect, dir)
    val after = IcebergLite.scan(spark, dir, applyDeletes = true)
    assert(after.count() == 4)
    assert(after.filter(col("r_regionkey") === 1).count() == 1)

    // Time travel to the pre-delete snapshot is still exact: no deletes
    // existed then, so all 5 original rows come back.
    assert(IcebergLite.scan(spark, dir,
      snapshotId = Some(preDeleteSnap), applyDeletes = true).count() == 5)

    // Both kinds compose: position-delete one surviving row on top. The
    // victim's physical address comes from the PRE-DELETE snapshot scan
    // (a delete-free listing, so the in-scan guard passes): key 2's
    // original data file and row index are immutable across the later
    // commits.
    val victim = IcebergLite.scan(spark, dir, snapshotId = Some(preDeleteSnap))
      .select(col("_metadata.file_path"), col("_metadata.row_index"), col("r_regionkey"))
      .filter(col("r_regionkey") === 2).limit(1).collect()(0)
    IcebergLiteWriter.addPositionDeletes(spark, dir,
      Seq((victim.getString(0), victim.getLong(1))))
    val both = IcebergLite.scan(spark, dir, applyDeletes = true)
    assert(both.count() == 3)
    assert(both.filter(col("r_regionkey") === 2).count() == 0)
  }

  test("atomic upsert: one snapshot, new versions survive their own delete") {
    val dir = tmpDir("iceberg_upsert") + "/warehouse/region_upsert"
    val region = Tables.t(spark, sf0001, "region")
    IcebergLiteWriter.write(spark, region, dir)
    val preSnap = IcebergLite.probe(spark, dir).snapshotId.get.toLong

    // Batch: new versions of keys 1 and 3, plus a brand-new key 9.
    val kt = region.schema("r_regionkey").dataType
    val updated = region.filter(col("r_regionkey").isin(1, 3))
      .withColumn("r_name", org.apache.spark.sql.functions.lit("UPDATED"))
    val fresh = region.filter(col("r_regionkey") === 0)
      .withColumn("r_regionkey", org.apache.spark.sql.functions.lit(9).cast(kt))
    IcebergLiteWriter.upsert(spark, updated.union(fresh), dir, Seq("r_regionkey"))

    // Exactly ONE new snapshot (the delete and the data commit together).
    val hist = IcebergLite.historyRelation(spark, dir).collect()
    assert(hist.length == 2, hist.mkString("\n"))

    // Default path still guarded.
    assertThrows[IcebergLite.DeleteGuardError](
      IcebergLite.assertNoDeletes(spark, dir))

    // MoR read: 0,2,4 original + 1,3 updated + 9 new = 6 rows; the new
    // versions of 1 and 3 survive the delete committed WITH them.
    val merged = IcebergLite.scan(spark, dir, applyDeletes = true)
    assert(merged.count() == 6)
    val byKey = merged.collect()
      .map(r => r.getAs[Number]("r_regionkey").longValue() -> r.getAs[String]("r_name"))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    assert(byKey.keySet == Set(0L, 1L, 2L, 3L, 4L, 9L))
    assert(byKey(1L) == Seq("UPDATED") && byKey(3L) == Seq("UPDATED"))

    // Time travel to the pre-upsert snapshot: the old rows, unmodified.
    val before = IcebergLite.scan(spark, dir,
      snapshotId = Some(preSnap), applyDeletes = true)
    assert(before.count() == 5)
    assert(before.filter(col("r_name") === "UPDATED").count() == 0)

    // Rows appended AFTER the upsert with an upserted key also survive.
    IcebergLiteWriter.append(spark,
      region.filter(col("r_regionkey") === 1), dir)
    val after = IcebergLite.scan(spark, dir, applyDeletes = true)
    assert(after.count() == 7)
    assert(after.filter(col("r_regionkey") === 1).count() == 2)
  }

  test("equality deletes on a RENAMED column resolve through field-id projection") {
    import spark.implicits._
    // Rename r_name -> region_name in metadata only (field-id projection
    // finds the physical column), then delete BY THE DECLARED NAME: the
    // reader must map the delete file's declared column back to the
    // physical one before the anti-join.
    val dir = tmpDir("iceberg_eq_renamed") + "/warehouse/region_eqr"
    IcebergLiteWriter.write(spark, Tables.t(spark, sf0001, "region"), dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val metaPath = IcebergLite.latestMetadataPath(conf, dir).get
    val fs = metaPath.getFileSystem(conf)
    val in = fs.open(metaPath)
    val text = new String(
      org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
    in.close()
    // Sorts after the original 00001-* but before the delete commit's
    // 00002-* metadata, so the commit chain stays visible.
    val next = new Path(metaPath.getParent, "00001z-evolved.metadata.json")
    val out = fs.create(next, true)
    out.write(text.replaceAll("\"name\":\\s*\"r_name\"", "\"name\": \"region_name\"")
      .getBytes("UTF-8"))
    out.close()

    IcebergLiteWriter.addEqualityDeletes(spark, dir,
      Seq("AFRICA", "EUROPE").toDF("region_name"))
    val merged = IcebergLite.scan(spark, dir, applyDeletes = true)
    assert(merged.columns.toSet == Set("r_regionkey", "region_name"))
    val names = merged.select("region_name").collect().map(_.getString(0)).toSet
    assert(merged.count() == 3)
    assert(!names.contains("AFRICA") && !names.contains("EUROPE"))
  }

  test("a crashed commit's orphan data file never rides a later commit") {
    // Simulate a commit that died between its data write and its metadata
    // swap: a stray parquet sits in data/ unmanifested. A later append
    // must manifest exactly its own files — the orphan's rows must not
    // appear (they would duplicate the dead commit's rows).
    val dir = tmpDir("iceberg_orphan") + "/warehouse/region_orphan"
    val region = Tables.t(spark, sf0001, "region")
    IcebergLiteWriter.write(spark, region, dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val dataDir = new Path(s"$dir/data")
    val fs = dataDir.getFileSystem(conf)
    val existing = fs.listStatus(dataDir)
      .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
    org.apache.hadoop.fs.FileUtil.copy(fs, existing, fs,
      new Path(dataDir, "part-orphan-from-dead-commit.parquet"), false, conf)

    IcebergLiteWriter.append(spark, region.limit(2), dir)
    // 5 original + 2 appended; the orphan's 5 duplicate rows excluded.
    assert(IcebergLite.scan(spark, dir).count() == 7)
  }

  test("malformed equality deletes refuse merge-on-read instead of resurrecting rows") {
    val dir = tmpDir("iceberg_eq") + "/warehouse/region_eq"
    IcebergLiteWriter.write(spark, Tables.t(spark, sf0001, "region"), dir)
    // A content=2 delete file whose columns are NOT data columns: applying
    // it is impossible, and skipping it would return rows the table has
    // deleted — so the opt-in merge path must throw.
    import spark.implicits._
    IcebergLiteWriter.addEqualityDeletes(spark, dir, Seq(("unused", 0L)).toDF("file_path", "pos"))
    assertThrows[IcebergLite.DeleteGuardError](
      IcebergLite.assertNoDeletes(spark, dir))
    val err = intercept[IcebergLite.ProbeError](
      IcebergLite.scan(spark, dir, applyDeletes = true))
    assert(err.getMessage.contains("equality-delete"))
    // The default (no merge) scan is refused by the in-scan guard (r11),
    // exactly as for position deletes.
    assertThrows[IcebergLite.DeleteGuardError](IcebergLite.scan(spark, dir))
  }

  test("scan planning fans out across many manifests deterministically") {
    val dir = tmpDir("iceberg_many") + "/warehouse/orders_many"
    val orders = Tables.t(spark, sf0001, "orders")
      .select("o_orderkey", "o_totalprice")
    // 9 commits -> 9 manifests carried forward into the latest snapshot.
    IcebergLiteWriter.write(spark, orders.filter(col("o_orderkey") % 9 === 0), dir)
    (1 until 9).foreach(i =>
      IcebergLiteWriter.append(spark, orders.filter(col("o_orderkey") % 9 === i), dir))
    val conf = spark.sparkContext.hadoopConfiguration
    val metaPath = IcebergLite.latestMetadataPath(conf, dir).get
    val meta = IcebergLite.readMetadataJson(conf, metaPath)
    assert(IcebergLite.currentManifests(conf, dir, meta).length == 9)
    // Parallel read path (>1 manifest) must preserve manifest-list order
    // and lose no entries: the scan sees every row exactly once.
    val entries = IcebergLite.fileEntries(conf, dir)
    assert(entries.map(_.recordCount).sum == 1500)
    assert(entries == IcebergLite.fileEntries(conf, dir), "deterministic order")
    assert(IcebergLite.scan(spark, dir).count() == 1500)
  }

  test("incremental scan reads exactly the appended rows; refuses rewrite ranges") {
    val dir = tmpDir("iceberg_incr") + "/warehouse/orders_incr"
    val orders = Tables.t(spark, sf0001, "orders")
      .select("o_orderkey", "o_totalprice")
    IcebergLiteWriter.write(spark, orders.filter(col("o_orderkey") % 3 === 0), dir)
    IcebergLiteWriter.append(spark, orders.filter(col("o_orderkey") % 3 === 1), dir)
    IcebergLiteWriter.append(spark, orders.filter(col("o_orderkey") % 3 === 2), dir)
    val conf = spark.sparkContext.hadoopConfiguration
    def snapIds: Seq[Long] = IcebergLite.readMetadataJson(conf,
      IcebergLite.latestMetadataPath(conf, dir).get)
      .get("snapshots").toSeq.flatMap {
        case graft.gateway.JValue.JArr(items) => items.collect {
          case o: graft.gateway.JValue.JObj =>
            o.get("snapshot-id").collect { case graft.gateway.JValue.JNum(n) => n.toLong }.get
        }
        case _ => Nil
      }
    val Seq(s0, s1, s2) = snapIds
    // Diff (s0, current]: exactly the rows of appends 2 and 3.
    val incr = IcebergLite.incrementalScan(spark, dir, s0)
    assert(incr.count() == orders.filter(col("o_orderkey") % 3 =!= 0).count())
    assert(incr.filter(col("o_orderkey") % 3 === 0).count() == 0)
    // Bounded diff (s0, s1]: only the second batch.
    val bounded = IcebergLite.incrementalScan(spark, dir, s0, Some(s1))
    assert(bounded.count() == orders.filter(col("o_orderkey") % 3 === 1).count())
    // Empty increment (s2, s2]: valid empty frame with the table schema.
    val empty = IcebergLite.incrementalScan(spark, dir, s2)
    assert(empty.count() == 0)
    assert(empty.columns.toSet == Set("o_orderkey", "o_totalprice"))
    // Backwards range refused.
    val back = intercept[IcebergLite.ProbeError](
      IcebergLite.incrementalScan(spark, dir, s1, Some(s0)))
    assert(back.getMessage.contains("precedes"))
    // A compaction inside the range poisons the increment, loudly.
    assert(IcebergLiteWriter.compact(spark, dir).rewritten > 0)
    val err = intercept[IcebergLite.ProbeError](
      IcebergLite.incrementalScan(spark, dir, s0))
    assert(err.getMessage.contains("non-append"))
    // But an increment ending before the rewrite still works.
    assert(IcebergLite.incrementalScan(spark, dir, s0, Some(s2)).count()
      == orders.filter(col("o_orderkey") % 3 =!= 0).count())
  }

  test("compaction consolidates small files; old snapshot still time-travels") {
    val dir = tmpDir("iceberg_compact") + "/warehouse/orders_compact"
    val orders = Tables.t(spark, sf0001, "orders")
      .select("o_orderkey", "o_totalprice")
    // 6 append commits -> 6 tiny files, the small-file ingest pattern.
    IcebergLiteWriter.write(spark, orders.filter(col("o_orderkey") % 6 === 0), dir)
    (1 until 6).foreach(i =>
      IcebergLiteWriter.append(spark, orders.filter(col("o_orderkey") % 6 === i), dir))
    val conf = spark.sparkContext.hadoopConfiguration
    val beforeFiles = IcebergLite.fileEntries(conf, dir)
    assert(beforeFiles.length >= 6)
    val beforeSnapshot = IcebergLite.readMetadataJson(conf,
      IcebergLite.latestMetadataPath(conf, dir).get)
    val beforeId = beforeSnapshot.get("current-snapshot-id").collect {
      case graft.gateway.JValue.JNum(n) => n.toLong
    }
    assert(beforeId.nonEmpty)

    val res = IcebergLiteWriter.compact(spark, dir)
    assert(res.rewritten == beforeFiles.length && res.written == 1,
      s"expected all ${beforeFiles.length} tiny files -> 1, got $res")
    val after = IcebergLite.fileEntries(conf, dir)
    assert(after.length == 1)
    // Same rows, exactly once, through the compacted layout.
    val scanned = IcebergLite.scan(spark, dir)
    assert(scanned.count() == 1500)
    assert(scanned.agg(org.apache.spark.sql.functions.sum("o_orderkey")).head.getLong(0)
      == orders.agg(org.apache.spark.sql.functions.sum("o_orderkey")).head.getLong(0))
    // The pre-compaction snapshot still reads the old 6-file layout.
    beforeId.foreach { id =>
      assert(IcebergLite.scan(spark, dir, snapshotId = Some(id)).count() == 1500)
      assert(IcebergLite.fileEntries(conf, dir, snapshotId = Some(id)).length
        == beforeFiles.length)
    }
    // Idempotent: a second pass finds one target-size file and commits nothing.
    val again = IcebergLiteWriter.compact(spark, dir)
    assert(again == IcebergLiteWriter.CompactionResult(0, 0))
    // Partitioned tables compact within partitions, never across.
    val pdir = tmpDir("iceberg_compact_p") + "/warehouse/orders_compact_p"
    val withStatus = Tables.t(spark, sf0001, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    IcebergLiteWriter.write(spark, withStatus.filter(col("o_orderkey") % 2 === 0),
      pdir, partitionBy = Seq("o_orderstatus"))
    IcebergLiteWriter.append(spark, withStatus.filter(col("o_orderkey") % 2 === 1), pdir)
    val pres = IcebergLiteWriter.compact(spark, pdir)
    assert(pres.written == 3, s"one compacted file per partition, got $pres")
    val pafter = IcebergLite.fileEntries(conf, pdir)
    assert(pafter.groupBy(_.partitionValues).forall(_._2.length == 1))
    assert(IcebergLite.scan(spark, pdir).count() == 1500)
    // Merge-on-read tables are refused, not silently rewritten.
    val ddir = tmpDir("iceberg_compact_d") + "/warehouse/orders_compact_d"
    IcebergLiteWriter.write(spark, orders, ddir)
    IcebergLiteWriter.addPositionDeletes(spark, ddir,
      Seq((IcebergLite.fileEntries(conf, ddir).head.path, 0L)))
    val err = intercept[IcebergLite.ProbeError](IcebergLiteWriter.compact(spark, ddir))
    assert(err.getMessage.contains("Compaction refused"))
  }

  test("rollback repoints current and every snapshot stays addressable") {
    val dir = tmpDir("iceberg_maint") + "/warehouse/orders_maint"
    val orders = Tables.t(spark, sf0001, "orders").select("o_orderkey", "o_totalprice")
    val conf = spark.sparkContext.hadoopConfiguration
    def currentId: Long = IcebergLite.readMetadataJson(conf,
      IcebergLite.latestMetadataPath(conf, dir).get)
      .get("current-snapshot-id").collect {
        case graft.gateway.JValue.JNum(n) => n.toLong
      }.get
    val a = orders.filter(col("o_orderkey") % 3 === 0)
    IcebergLiteWriter.write(spark, a, dir)
    val idA = currentId
    IcebergLiteWriter.append(spark, orders.filter(col("o_orderkey") % 3 === 1), dir)
    IcebergLiteWriter.append(spark, orders.filter(col("o_orderkey") % 3 === 2), dir)
    val idC = currentId

    // Rollback: current pointer moves, data reads as of A, nothing deleted.
    IcebergLiteWriter.rollback(spark, dir, idA)
    assert(currentId == idA)
    assert(IcebergLite.scan(spark, dir).count() == a.count())
    // Every snapshot stays addressable — so the rollback can be undone...
    assert(IcebergLite.scan(spark, dir, snapshotId = Some(idC)).count() == orders.count())
    IcebergLiteWriter.rollback(spark, dir, idC)
    assert(IcebergLite.scan(spark, dir).count() == orders.count())
    intercept[IllegalArgumentException](IcebergLiteWriter.rollback(spark, dir, 424242L))
  }

  test("rewriteApplyingDeletes turns a MoR table back into a guard-passing one") {
    import spark.implicits._
    val dir = tmpDir("iceberg_rewrite_mor") + "/warehouse/orders_rewrite_mor"
    IcebergLiteWriter.write(spark,
      Seq((1L, 10.0, "a"), (2L, 20.0, "a"), (3L, 30.0, "b")).toDF("id", "v", "p"),
      dir, partitionBy = Seq("p"))
    val conf = spark.sparkContext.hadoopConfiguration
    IcebergLiteWriter.upsert(spark, Seq((2L, 99.0, "a")).toDF("id", "v", "p"), dir, Seq("id"))
    val preRewriteSnap = IcebergLite.readMetadataJson(conf,
      IcebergLite.latestMetadataPath(conf, dir).get)
      .get("current-snapshot-id").collect {
        case graft.gateway.JValue.JNum(n) => n.toLong
      }.get
    intercept[IcebergLite.DeleteGuardError](IcebergLite.assertNoDeletes(spark, dir))
    val r = IcebergLiteWriter.rewriteApplyingDeletes(spark, dir)
    assert(r.written > 0, s"$r")
    // The guard passes now, and the merged state survived the rewrite —
    // including the partition column (the rewrite re-partitions by the
    // table's own spec).
    IcebergLite.assertNoDeletes(spark, dir)
    val rows = IcebergLite.scan(spark, dir)
      .collect().map(x => x.getLong(0) -> ((x.getDouble(1), x.getString(2)))).toMap
    assert(rows.keySet == Set(1L, 2L, 3L), rows)
    assert(rows(2L) == ((99.0, "a")), rows)
    // Time travel to the pre-rewrite snapshot still reads the MoR layout.
    assert(IcebergLite.scan(spark, dir, snapshotId = Some(preRewriteSnap),
      applyDeletes = true).count() == 3)
    // A clean table is a no-op, not a spurious rewrite.
    assert(IcebergLiteWriter.rewriteApplyingDeletes(spark, dir) ==
      IcebergLiteWriter.CompactionResult(0, 0))
  }
}
