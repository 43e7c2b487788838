package graft.sources

import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, LocalFileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkFixture, Tables}

/** Local filesystem that counts directory listings and file opens. */
class CountingLocalFs extends LocalFileSystem {
  override def listStatus(f: Path): Array[FileStatus] = {
    CountingLocalFs.listings.incrementAndGet()
    super.listStatus(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingLocalFs.opens.incrementAndGet()
    super.open(f, bufferSize)
  }
}

object CountingLocalFs {
  val listings, opens = new AtomicInteger()
  def reset(): Unit = { listings.set(0); opens.set(0) }
}

/** Iceberg metadata is read once per table state: later scans list the
  * metadata directory and take the parsed files from the cache.
  */
class MetadataCacheSpec extends AnyFunSuite with SparkFixture {

  test("a second scan of an unchanged table lists once and opens nothing") {
    val dir = tmpDir("meta_cache") + "/warehouse/region"
    IcebergLiteWriter.write(spark, Tables.t(spark, sf0001, "region"), dir)
    val counted = spark.newSession()
    counted.conf.set("fs.file.impl", classOf[CountingLocalFs].getName)
    counted.conf.set("fs.file.impl.disable.cache", "true")

    CountingLocalFs.reset()
    IcebergLite.scan(counted, dir)
    // Metadata JSON, manifest list and manifest, plus the footer read.
    assert(CountingLocalFs.opens.get >= 3)

    CountingLocalFs.reset()
    val df = IcebergLite.scan(counted, dir)
    assert(CountingLocalFs.listings.get == 1)
    assert(CountingLocalFs.opens.get == 0)
    assert(df.count() == 5)
  }

  test("the delete guard and the probe read through the same cache") {
    val dir = tmpDir("meta_cache_guard") + "/warehouse/region"
    IcebergLiteWriter.write(spark, Tables.t(spark, sf0001, "region"), dir)
    val counted = spark.newSession()
    counted.conf.set("fs.file.impl", classOf[CountingLocalFs].getName)
    counted.conf.set("fs.file.impl.disable.cache", "true")
    IcebergLite.probe(counted, dir)

    CountingLocalFs.reset()
    IcebergLite.assertNoDeletes(counted, dir)
    val info = IcebergLite.probe(counted, dir)
    assert(info.rows.contains(5L))
    assert(CountingLocalFs.listings.get == 2)
    assert(CountingLocalFs.opens.get == 0)
  }

  test("the cache never holds more than its byte bound") {
    val cache = new SourceCache(100)
    Seq("a" -> 30L, "b" -> 40L, "c" -> 50L, "d" -> 20L).foreach { case (k, n) =>
      assert(cache.getOrLoad(k)((k, n)) == k)
      assert(cache.bytes <= 100)
    }
    // Least recently used goes first: "a" and "b" made room for "c".
    assert(cache.size == 2 && cache.bytes == 70)
    assert(cache.getOrLoad[String]("c")(fail("c should be cached")) == "c")
    // An entry larger than the bound is served but not kept.
    assert(cache.getOrLoad("huge")(("huge", 101L)) == "huge")
    assert(cache.bytes == 70)
    assert(IcebergLite.metadataCache.bytes <= IcebergLite.MetadataCacheBytes)
  }
}
