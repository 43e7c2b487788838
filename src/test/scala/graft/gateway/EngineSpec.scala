package graft.gateway

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.SparkSession

import graft.SparkFixture
import graft.Tables
import graft.sources.{CountingLocalFs, IcebergLite, IcebergLiteWriter}

class EngineSpec extends AnyFunSuite with SparkFixture {

  private val cfg = ConnectionConfig(
    storageType = "minio", endpoint = "http://localhost:9000",
    accessKey = "k", secretKey = "s")

  private def regionSql =
    s"SELECT r_regionkey, r_name FROM parquet.`$sf0001/region.parquet`"

  test("limit injected when absent; truncated flagged") {
    val r = Engine.executeQuery(spark, regionSql, cfg, rowLimit = 3)
    assert(r.rows.length == 3)
    assert(r.truncated)
    assert(r.columns == Seq("r_regionkey", "r_name"))
  }

  test("existing LIMIT never overwritten") {
    val r = Engine.executeQuery(spark, regionSql + " ORDER BY r_regionkey LIMIT 2", cfg)
    assert(r.rows.length == 2)
    assert(!r.truncated)
  }

  test("LIMIT behind a CTE wrapper is seen") {
    val sql = s"WITH t AS ($regionSql) SELECT * FROM t LIMIT 2"
    val r = Engine.executeQuery(spark, sql, cfg, rowLimit = 1000)
    assert(r.rows.length == 2)
  }

  test("stats: wall clock, real bytesScanned from scan metrics, row count") {
    val r = Engine.executeQuery(spark, regionSql, cfg)
    assert(r.stats.rowsReturned == 5)
    assert(r.stats.bytesScanned > 0)
    assert(r.stats.executionTimeMs >= 0)
  }

  test("rowLimit above hard max rejected") {
    val e = intercept[Engine.EngineError](
      Engine.executeQuery(spark, regionSql, cfg, rowLimit = 20000))
    assert(e.status == 400)
  }

  test("mutating SQL rejected with 400") {
    val e = intercept[Engine.EngineError](
      Engine.executeQuery(spark, "DROP TABLE x", cfg))
    assert(e.status == 400)
    assert(e.detail.toLowerCase.contains("not allowed"))
  }

  test("invalid config rejected with 400") {
    val e = intercept[Engine.EngineError](
      Engine.executeQuery(spark, regionSql, cfg.copy(storageType = "bogus")))
    assert(e.status == 400)
  }

  test("execution errors surface as 400 with detail") {
    val e = intercept[Engine.EngineError](
      Engine.executeQuery(spark, "SELECT * FROM nonexistent_table_xyz", cfg))
    assert(e.status == 400)
    assert(e.detail.startsWith("Query execution failed"))
  }

  test("iceberg_scan('path') is bound and queryable end-to-end") {
    val dir = tmpDir("engine_iceberg") + "/warehouse/region"
    IcebergLiteWriter.write(spark, Tables.t(spark, sf0001, "region"), dir)
    val r = Engine.executeQuery(
      spark, s"SELECT COUNT(*) AS n FROM iceberg_scan('$dir')", cfg)
    assert(r.rows.head.head == 5L)
  }

  test("hidden-partitioned tables query through the SQL gateway with pruned scans") {
    import spark.implicits._
    val dir = tmpDir("engine_hidden") + "/warehouse/events_hidden"
    val ts = (d: String) => java.sql.Timestamp.valueOf(d)
    val df = (0 until 80).map { i =>
      (i.toLong, ts(f"2024-01-${i % 4 + 1}%02d 10:00:00"), (i % 8).toLong)
    }.toDF("event_id", "ts", "user_id")
    IcebergLiteWriter.write(spark, df, dir,
      partitionBy = Seq("day(ts)", "bucket(4, user_id)"))
    // The SQL surface sees only the data columns and the right rows.
    val all = Engine.executeQuery(
      spark, s"SELECT COUNT(*) AS n FROM iceberg_scan('$dir')", cfg)
    assert(all.rows.head.head == 80L)
    val one = Engine.executeQuery(spark,
      s"SELECT COUNT(*) AS n FROM iceberg_scan('$dir') WHERE user_id = 3", cfg)
    assert(one.rows.head.head == 10L)
    // bytesScanned (real filesSize metric) reflects bucket pruning: the
    // filtered query reads a strict subset of the table's files.
    assert(one.stats.bytesScanned < all.stats.bytesScanned,
      s"expected pruned scan: ${one.stats.bytesScanned} < ${all.stats.bytesScanned}")
  }

  test("iceberg_changes exposes incremental snapshot-diff reads over SQL") {
    val dir = tmpDir("engine_changes") + "/warehouse/region_changes"
    val region = Tables.t(spark, sf0001, "region")
    IcebergLiteWriter.write(spark, region, dir)
    val snap1 = graft.sources.IcebergLite.snapshotsRelation(spark, dir)
      .collect().head.getLong(0)
    IcebergLiteWriter.append(spark, region.limit(2), dir)
    // Only the appended rows come back — the CDC poll an incremental
    // pipeline runs, now reachable from plain SQL.
    val r = Engine.executeQuery(spark,
      s"SELECT COUNT(*) AS n FROM iceberg_changes('$dir', from_snapshot => $snap1)", cfg)
    assert(r.rows.head.head == 2L)
    // An unknown snapshot surfaces as a 400, not a 500.
    val e = intercept[Engine.EngineError](Engine.executeQuery(spark,
      s"SELECT * FROM iceberg_changes('$dir', from_snapshot => 999999)", cfg))
    assert(e.status == 400)
  }

  test("per-request sessions are isolated (bound views do not leak)") {
    val dir = tmpDir("engine_iso") + "/warehouse/region"
    IcebergLiteWriter.write(spark, Tables.t(spark, sf0001, "region"), dir)
    Engine.executeQuery(spark, s"SELECT * FROM iceberg_scan('$dir')", cfg)
    // Nothing the request binds reaches the root session's catalog.
    assert(spark.catalog.listTables().collect()
      .forall(t => !t.name.startsWith("graft_")))
  }

  test("storage settings land as per-session per-bucket S3A overrides") {
    val c = cfg.copy(
      storageType = "s3", endpoint = "s3.amazonaws.com", region = "eu-west-1",
      tablePath = Some("s3://acme-lake/wh/tbl"))
    val sess = spark.newSession()
    Engine.applyStorageSettings(sess, ConnectionConfig.validated(c))
    // The applying session's merged Hadoop view carries the override...
    val hc = graft.sources.IcebergLite.sessionHadoopConf(sess)
    assert(hc.get("fs.s3a.bucket.acme-lake.access.key") == "k")
    assert(hc.get("fs.s3a.bucket.acme-lake.endpoint.region") == "eu-west-1")
    // ...bucket-scoped, not global-keyed.
    assert(hc.get("fs.s3a.access.key") == null)
    // And it reaches SPARK'S OWN file-source Hadoop conf, not just our
    // metadata-path merge: SessionState.newHadoopConf copies session conf
    // entries verbatim (no `spark.hadoop.` stripping at this layer —
    // prefixed keys would be copied with the prefix and never consulted),
    // which is why applyStorageSettings sets un-prefixed keys.
    // sessionState is private[sql] (public in bytecode) -> reflection.
    val sessionState = sess.getClass.getMethod("sessionState").invoke(sess)
    val sparkOwn = sessionState.getClass.getMethod("newHadoopConf")
      .invoke(sessionState).asInstanceOf[org.apache.hadoop.conf.Configuration]
    assert(sparkOwn.get("fs.s3a.bucket.acme-lake.access.key") == "k")
    // And NOTHING lands on process-global state or on other sessions —
    // that's what keeps same-bucket different-credential requests safe.
    assert(spark.sparkContext.hadoopConfiguration
      .get("fs.s3a.bucket.acme-lake.access.key") == null)
    assert(graft.sources.IcebergLite.sessionHadoopConf(spark.newSession())
      .get("fs.s3a.bucket.acme-lake.access.key") == null)
  }

  test("connection test: demo path probes; garbage returns None") {
    val dir = tmpDir("engine_demo") + "/warehouse/docs"
    IcebergLiteWriter.write(spark, Tables.t(spark, sf0001, "documents"), dir)
    val ok = Engine.runConnectionTest(spark, cfg, Some(dir))
    assert(ok.exists(_.rows.exists(_ > 0)))
    assert(Engine.runConnectionTest(spark, cfg, Some("/no/such/table")).isEmpty)
  }

  private def withFlatFileRoots[A](roots: String)(body: => A): A = {
    System.setProperty("graft.gateway.flatFileRoot", roots)
    try body finally System.clearProperty("graft.gateway.flatFileRoot")
  }

  test("duckdb flat-file readers bind: read_csv, read_json, plain read_parquet") {
    val dir = tmpDir("engine_flat")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/t.csv"),
      "id,name\n1,alpha\n2,beta\n".getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/t.jsonl"),
      "{\"id\": 3, \"name\": \"gamma\"}\n{\"id\": 4, \"name\": \"delta\"}\n".getBytes("UTF-8"))
    withFlatFileRoots(s"$dir,$sf0001") {
      val csv = Engine.executeQuery(spark,
        s"SELECT id, name FROM read_csv('$dir/t.csv') ORDER BY id", cfg)
      assert(csv.rows.map(_.toList) == Seq(List(1, "alpha"), List(2, "beta")))
      val json = Engine.executeQuery(spark,
        s"SELECT id, name FROM read_json_auto('$dir/t.jsonl') ORDER BY id", cfg)
      assert(json.rows.map(_.toList) == Seq(List(3L, "gamma"), List(4L, "delta")))
      // The reference's legacy escape hatch over a PLAIN path (not the s3
      // glob convertReadParquet already rewrites) is a straight parquet read.
      val pq = Engine.executeQuery(spark,
        s"SELECT COUNT(*) AS n FROM read_parquet('$sf0001/region.parquet')", cfg)
      assert(pq.rows.head.head == 5L)
      // Readers run only after validation: a mutation using the function
      // still dies at the guard, before anything is read.
      val err = intercept[Engine.EngineError](Engine.executeQuery(spark,
        s"DELETE FROM read_csv('$dir/t.csv')", cfg))
      assert(err.status == 400)
      // A commented-out reader must neither rewrite nor bind (no IO for a
      // missing file), and a data literal naming one is untouched.
      val commented = Engine.executeQuery(spark,
        "SELECT 1 AS ok -- read_csv('/no/such/file.csv')", cfg)
      assert(commented.rows == Seq(Seq(1)))
      val literal = Engine.executeQuery(spark,
        "SELECT 'see read_csv(\"f\")' AS note", cfg)
      assert(literal.rows == Seq(Seq("see read_csv(\"f\")")))
    }
  }

  test("flat-file readers are gated: off by default, root-scoped when enabled") {
    val dir = tmpDir("engine_flat_gate")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/t.csv"),
      "id\n1\n".getBytes("UTF-8"))
    // Disabled by default: a clear 400 naming the enabling switch, and
    // NO file IO (the reader checks its path before reading).
    val off = intercept[Engine.EngineError](Engine.executeQuery(spark,
      s"SELECT * FROM read_csv('$dir/t.csv')", cfg))
    assert(off.status == 400 && off.detail.contains("disabled"))
    // Enabled for one root: reads under it succeed, paths outside it —
    // including `..` traversal back out — are rejected.
    withFlatFileRoots(dir) {
      val ok = Engine.executeQuery(spark, s"SELECT * FROM read_csv('$dir/t.csv')", cfg)
      assert(ok.rows == Seq(Seq(1)))
      val outside = intercept[Engine.EngineError](Engine.executeQuery(spark,
        "SELECT * FROM read_csv('/etc/passwd')", cfg))
      assert(outside.status == 400 && outside.detail.contains("outside"))
      val traversal = intercept[Engine.EngineError](Engine.executeQuery(spark,
        s"SELECT * FROM read_csv('$dir/../../../etc/passwd')", cfg))
      assert(traversal.status == 400 && traversal.detail.contains("outside"))
      // A sibling whose name merely EXTENDS the root is not under it.
      val sibling = intercept[Engine.EngineError](Engine.executeQuery(spark,
        s"SELECT * FROM read_csv('${dir}_evil/t.csv')", cfg))
      assert(sibling.status == 400 && sibling.detail.contains("outside"))
    }
    // '*' restores the reference's unrestricted behavior explicitly.
    withFlatFileRoots("*") {
      val all = Engine.executeQuery(spark, s"SELECT * FROM read_csv('$dir/t.csv')", cfg)
      assert(all.rows == Seq(Seq(1)))
    }
  }

  test("flat-file reader forms beyond a single quoted path get a clear rejection") {
    def rejected(sql: String) = {
      val e = intercept[Engine.EngineError](Engine.executeQuery(spark, sql, cfg))
      assert(e.status == 400, e.detail)
      e.detail
    }
    // Every form that reaches the reader names the one supported form.
    for (sql <- Seq(
        "SELECT * FROM read_csv('/x.csv', '/y.csv')",
        "SELECT * FROM read_csv('/x.csv', header => true)",
        "SELECT * FROM read_json(concat('/x', '.json'))")) {
      val detail = rejected(sql)
      assert(detail.contains("single-quoted-path"), detail)
      assert(detail.contains(if (sql.contains("read_json")) "read_json" else "read_csv"), detail)
    }
    // `header=true` is a comparison with an unknown column, and a path
    // list is not Spark syntax: both fail before the reader is called.
    assert(rejected("SELECT * FROM read_csv('/x.csv', header=true)").contains("UNRESOLVED_COLUMN"))
    assert(rejected("SELECT * FROM read_parquet(['/a.parquet', '/b.parquet'])")
      .startsWith("Invalid SQL: "))
    // In a literal or comment nothing is read or rejected.
    val ok = Engine.executeQuery(spark,
      "SELECT 'read_csv(x, header=true)' AS s -- read_json(a, b)", cfg)
    assert(ok.rows == Seq(Seq("read_csv(x, header=true)")))
  }

  /** Runs `body` while the session the next request with `cfg` borrows
    * (the newest idle one) reads local files through [[CountingLocalFs]].
    */
  private def counted[A](body: => A): A = {
    def useCountingFs(on: Boolean): Unit =
      SessionPool.withSession(spark, Engine.storageSettings(cfg)) { s =>
        if (on) {
          s.conf.set("fs.file.impl", classOf[CountingLocalFs].getName)
          s.conf.set("fs.file.impl.disable.cache", "true")
        } else Seq("fs.file.impl", "fs.file.impl.disable.cache").foreach(s.conf.unset)
      }
    useCountingFs(on = true)
    CountingLocalFs.reset()
    try body finally useCountingFs(on = false)
  }

  test("a statement SqlGuard rejects reads nothing, though it names iceberg_scan") {
    val dir = tmpDir("engine_guard_io") + "/warehouse/region"
    IcebergLiteWriter.write(spark, Tables.t(spark, sf0001, "region"), dir)
    counted {
      for (sql <- Seq(
          s"INSERT INTO t SELECT * FROM iceberg_scan('$dir')",
          s"CREATE VIEW v AS SELECT * FROM iceberg_scan('$dir')")) {
        val e = intercept[Engine.EngineError](Engine.executeQuery(spark, sql, cfg))
        assert(e.status == 400 && e.detail.contains("not allowed"), e.detail)
      }
      assert(CountingLocalFs.listings.get == 0 && CountingLocalFs.opens.get == 0)
      // The same scan, accepted, does list through the counting filesystem.
      Engine.executeQuery(spark, s"SELECT COUNT(*) AS n FROM iceberg_scan('$dir')", cfg)
      assert(CountingLocalFs.listings.get > 0)
    }
  }

  test("iceberg_scan inside a literal and a comment is text: no IO") {
    counted {
      val r = Engine.executeQuery(spark,
        "SELECT 'iceberg_scan(''/no/such/table'')' AS s -- iceberg_scan('/no/such/table')",
        cfg)
      assert(r.rows == Seq(Seq("iceberg_scan('/no/such/table')")))
      assert(CountingLocalFs.listings.get == 0 && CountingLocalFs.opens.get == 0)
    }
  }

  test("each iceberg_scan time-travel form returns what IcebergLite.scan returns") {
    val dir = tmpDir("engine_travel") + "/warehouse/region"
    val region = Tables.t(spark, sf0001, "region")
    IcebergLiteWriter.write(spark, region, dir)
    Thread.sleep(5) // distinct commit timestamps
    IcebergLiteWriter.append(spark, region.limit(2), dir)
    val snaps = IcebergLite.snapshotsRelation(spark, dir).orderBy("committed_at").collect()
    val (first, firstAt) = (snaps(0).getLong(0), snaps(0).getTimestamp(1).getTime)
    IcebergLiteWriter.setRef(spark, dir, "v1", first)
    val iso = java.time.Instant.ofEpochMilli(firstAt).toString
    def rows(travel: String) = Engine.executeQuery(spark,
      s"SELECT * FROM iceberg_scan('$dir'$travel) ORDER BY r_regionkey, r_name", cfg).rows
    def expected(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("r_regionkey", "r_name").collect().toSeq.map(_.toSeq)
    val atFirst = expected(IcebergLite.scan(spark, dir, snapshotId = Some(first)))
    assert(atFirst.length == 5)
    assert(rows(s", $first") == atFirst)
    assert(rows(s", snapshot_id => $first") == atFirst)
    assert(rows(", ref => 'v1'") ==
      expected(IcebergLite.scan(spark, dir, ref = Some("v1"))))
    assert(rows(s", timestamp => '$iso'") ==
      expected(IcebergLite.scan(spark, dir, asOfMillis = Some(firstAt))))
    assert(rows(s", '$iso'") == atFirst)
    assert(rows("") == expected(IcebergLite.scan(spark, dir)))
    assert(rows("").length == 7)
    // A name the function does not take is a precise 400.
    val e = intercept[Engine.EngineError](rows(", version => 1"))
    assert(e.status == 400)
    assert(e.detail.contains("iceberg_scan: unknown argument version"), e.detail)
    assert(e.detail.contains("snapshot_id, ref, timestamp"), e.detail)
  }

  test("a table function reads through the session that calls it, not the one it was registered on") {
    val dir = tmpDir("engine_active") + "/warehouse/region"
    IcebergLiteWriter.write(spark, Tables.t(spark, sf0001, "region"), dir)
    val registered = spark.newSession()
    graft.functions.GraftFunctions.register(registered)
    // A cloned session carries the registered session's builders
    // (cloneSession is private[sql]; public in bytecode).
    val child = registered.getClass.getMethod("cloneSession").invoke(registered)
      .asInstanceOf[SparkSession]
    child.conf.set("fs.file.impl", classOf[CountingLocalFs].getName)
    child.conf.set("fs.file.impl.disable.cache", "true")
    val sql = s"SELECT COUNT(*) AS n FROM iceberg_scan('$dir')"
    CountingLocalFs.reset()
    assert(registered.sql(sql).collect()(0).getLong(0) == 5L)
    assert(CountingLocalFs.listings.get == 0)
    assert(child.sql(sql).collect()(0).getLong(0) == 5L)
    assert(CountingLocalFs.listings.get > 0)
  }

  test("duckdb len works on strings AND lists; bracket slices on both too") {
    // len: string length for varchar, cardinality for lists — the
    // type-dispatching DuckLen registration, not a blind rename.
    val r = Engine.executeQuery(spark,
      "SELECT len('abcde') AS ls, len(string_split('a,b,c', ',')) AS ll", cfg)
    assert(r.rows == Seq(Seq(5, 3)))
    // a[i:j] is 1-based and inclusive on both ends, like DuckDB; the
    // rewrite targets identifier bases (column refs), arrays and strings
    // both dispatching through duck_slice.
    val s = Engine.executeQuery(spark,
      "SELECT a[2:3] AS mid, t[2:4] AS sub, a[3:] AS tl, a[0:2] AS z " +
        "FROM (SELECT string_split('a,b,c,d', ',') AS a, 'abcdef' AS t)", cfg)
    // a[0:2]: DuckDB treats a 0 lower bound as "from the start".
    assert(s.rows == Seq(Seq(Seq("b", "c"), "bcd", Seq("c", "d"), Seq("a", "b"))))
  }

  test("a user LIMIT above the hard cap still collects at most MaxRowLimit rows") {
    val big = Engine.executeQuery(spark,
      "SELECT id FROM range(100000) ORDER BY id LIMIT 100000000", cfg)
    assert(big.rows.length == Engine.MaxRowLimit)
    assert(big.truncated)
    assert(big.rows.last == Seq(Engine.MaxRowLimit - 1L))
    // At or below the cap a user LIMIT keeps its meaning, past rowLimit too.
    val atCap = Engine.executeQuery(spark,
      s"SELECT id FROM range(100000) LIMIT ${Engine.MaxRowLimit}", cfg)
    assert(atCap.rows.length == Engine.MaxRowLimit)
    val small = Engine.executeQuery(spark, "SELECT id FROM range(5) LIMIT 100000000", cfg)
    assert(small.rows.length == 5 && !small.truncated)
  }

  test("the next query sees an append and a compaction at once") {
    val dir = tmpDir("engine_fresh") + "/warehouse/region"
    val region = Tables.t(spark, sf0001, "region")
    IcebergLiteWriter.write(spark, region.repartition(3), dir)
    def count = Engine.executeQuery(spark,
      s"SELECT COUNT(*) AS n FROM iceberg_scan('$dir')", cfg).rows.head.head
    def files = Engine.executeQuery(spark,
      s"SELECT COUNT(*) AS n FROM iceberg_files('$dir')", cfg).rows.head.head
    assert(count == 5L)
    val before = files.asInstanceOf[Long]
    IcebergLiteWriter.append(spark, region.limit(2), dir)
    assert(count == 7L)
    assert(files == before + 1)
    IcebergLiteWriter.compact(spark, dir)
    assert(count == 7L)
    assert(files == 1L)
  }
}
