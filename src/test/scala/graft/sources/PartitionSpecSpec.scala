package graft.sources

import org.scalatest.funsuite.AnyFunSuite

class PartitionSpecSpec extends AnyFunSuite {

  test("parse/toDsl round-trips every supported transform") {
    val dsl = Seq("o_orderstatus", "day(ts)", "hour(ts)", "month(ts)",
      "year(ts)", "bucket(16, user_id)", "truncate(4, path)")
    assert(dsl.map(PartitionSpec.parse).map(PartitionSpec.toDsl) == dsl)
  }

  test("field naming and transform spellings follow Iceberg") {
    assert(PartitionSpec.parse("day(ts)") ==
      PartitionField("ts_day", "day", "ts"))
    assert(PartitionSpec.parse("bucket(4, user_id)") ==
      PartitionField("user_id_bucket", "bucket[4]", "user_id"))
    assert(PartitionSpec.parse("bucket(4, user_id)").bucketCount == Some(4))
    assert(PartitionSpec.parse("truncate(8, path)") ==
      PartitionField("path_trunc", "truncate[8]", "path"))
  }

  test("typos and degenerate parameters fail fast, not silently") {
    // Iceberg's plural spelling is NOT silently identity.
    val e1 = intercept[IllegalArgumentException](PartitionSpec.parse("days(ts)"))
    assert(e1.getMessage.contains("unknown partition transform"))
    intercept[IllegalArgumentException](PartitionSpec.parse("buckets(4, x)"))
    intercept[IllegalArgumentException](PartitionSpec.parse("bucket(0, x)"))
    intercept[IllegalArgumentException](PartitionSpec.parse("truncate(0, x)"))
  }
}
