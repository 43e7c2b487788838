package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.util.UUID
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkFixture, Tables}
import graft.gateway.{ConnectionConfig, Engine}

/** Iceberg-lite scans read through [[IcebergLiteParquetFormat]], whose
  * reader broadcasts a [[CompactConf]], and take their schema from one
  * footer read on the driver, with no Spark job.
  */
class IcebergLiteParquetFormatSpec extends AnyFunSuite with SparkFixture {

  private val fixtureTables = Seq("customer", "documents", "embeddings", "events",
    "lineitem", "nation", "orders", "part", "region", "supplier")

  private def writeTable(df: org.apache.spark.sql.DataFrame, name: String): String = {
    val dir = s"${tmpDir("parquet_format")}/warehouse/$name"
    IcebergLiteWriter.write(spark, df, dir)
    dir
  }

  private def headFile(dir: String): String =
    IcebergLite.fileEntries(IcebergLite.sessionHadoopConf(spark), dir)
      .filter(e => e.manifestContent == 0 && e.fileContent == 0).head.path

  /** Keys and raw values of `conf`, as its iterator lists them. */
  private def entries(conf: Configuration): Map[String, String] =
    conf.iterator.asScala.map(e => e.getKey -> e.getValue).toMap

  private def written(conf: Configuration): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    conf.write(out)
    out.close()
    bytes.toByteArray
  }

  test("the footer schema equals spark.read.parquet's for every fixture table and every column type") {
    val typed = spark.sql(
      """SELECT CAST(id AS DECIMAL(12, 2)) AS amount,
        |       DATE_ADD(DATE'2024-01-01', CAST(id AS INT)) AS day,
        |       TIMESTAMP'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id) AS at,
        |       CAST(DATE_ADD(DATE'2024-01-01', CAST(id AS INT)) AS TIMESTAMP_NTZ) AS at_ntz,
        |       CAST(id AS STRING) AS label,
        |       CAST(CAST(id AS STRING) AS BINARY) AS payload,
        |       ARRAY(CAST(id AS FLOAT)) AS vec,
        |       id
        |FROM range(5)""".stripMargin)
    val conf = IcebergLite.sessionHadoopConf(spark)
    // Iceberg writers mark required fields REQUIRED, which neither Spark's
    // writer nor the fixtures do.
    val required = s"${tmpDir("parquet_format")}/required.parquet"
    val message = MessageTypeParser.parseMessageType(
      "message t { required int64 id = 1; required binary name (STRING) = 2; optional int32 n = 3; }")
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(new Path(required), conf))
      .withType(message).build()
    try writer.write(new SimpleGroupFactory(message).newGroup().append("id", 1L).append("name", "a"))
    finally writer.close()
    val typedFile = headFile(writeTable(typed, "typed"))
    val files = fixtureTables.map(t => s"$sf0001/$t.parquet") ++
      fixtureTables.map(t => headFile(writeTable(Tables.t(spark, sf0001, t), t))) ++
      Seq(typedFile, required)
    files.foreach { p =>
      assert(IcebergLite.readFooter(spark, conf, p).schema == spark.read.parquet(p).schema, p)
    }
    assert(IcebergLite.readFooter(spark, conf, typedFile).schema.map(_.dataType.typeName) ==
      Seq("decimal(12,2)", "date", "timestamp", "timestamp_ntz", "string", "binary", "array", "long"))
    assert(IcebergLite.readFooter(spark, conf, required).fieldIds ==
      Map(1L -> "id", 2L -> "name", 3L -> "n"))
  }

  test("a first request over a table that was never scanned starts no Spark job") {
    val dir = writeTable(Tables.t(spark, sf0001, "region"), "region_cold")
    val cfg = ConnectionConfig(storageType = "minio", endpoint = "http://localhost:9000",
      accessKey = "k", secretKey = "s")
    val sc = spark.sparkContext
    val group = s"cold-scan-${UUID.randomUUID()}"
    val started = new AtomicInteger()
    @volatile var marked = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).foreach { g =>
          if (g == group) started.incrementAndGet()
          else if (g == s"$group-end") marked = true
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "cold request")
      val r = Engine.executeQuery(spark,
        s"SELECT r_name FROM iceberg_scan('$dir') WHERE r_regionkey = 1", cfg)
      assert(r.rows == Seq(Seq("AMERICA")))
      // Listener events arrive in order: once a marker job is seen, every
      // job the request started has been counted.
      sc.setJobGroup(s"$group-end", "marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!marked && System.nanoTime() < deadline) Thread.sleep(10)
      assert(marked, "the marker job never reached the listener")
      assert(started.get == 0)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("a compact conf reads back every entry of a gateway scan's conf, in fewer bytes") {
    val session = spark.newSession()
    Engine.applyStorageSettings(session, ConnectionConfig(storageType = "s3",
      endpoint = "", accessKey = "AKIAEXAMPLE", secretKey = "secret/example",
      tablePath = Some("s3://lake-bucket/warehouse/orders")))
    // The conf Spark's file scan hands the format's reader.
    val scanConf = session.asInstanceOf[ClassicSession].sessionState
      .newHadoopConfWithOptions(Map.empty)
    assert(scanConf.get("fs.s3a.bucket.lake-bucket.secret.key") == "secret/example")
    assert(scanConf.size > 100)

    val compact = written(new CompactConf(scanConf))
    val readBack = new Configuration(false)
    readBack.readFields(new DataInputStream(new ByteArrayInputStream(compact)))
    assert(entries(readBack) == entries(scanConf))
    assert(readBack.get("fs.s3a.bucket.lake-bucket.access.key") == "AKIAEXAMPLE")
    assert(compact.length < written(scanConf).length)
  }

  test("an iceberg_scan relation reads through IcebergLiteParquetFormat") {
    val dir = writeTable(Tables.t(spark, sf0001, "nation"), "nation")
    val session = spark.newSession()
    graft.functions.GraftFunctions.register(session)
    val plan = session.sql(s"SELECT n_name FROM iceberg_scan('$dir') WHERE n_nationkey = 3")
      .queryExecution.optimizedPlan
    val formats = plan.collect { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation => r.fileFormat.getClass }
    assert(formats == Seq(classOf[IcebergLiteParquetFormat]))
  }
}
