package graft

import java.net.URI
import org.apache.hadoop.fs.{AbstractFileSystem, FileSystem}
import org.scalatest.funsuite.AnyFunSuite

/** The shared test session is a `GraftSession.local(4)` session. */
class GraftSessionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("a local session resolves the engine's SQL functions") {
    // a new session: no temp functions registered by other specs
    val row = spark.newSession().sql(
      "SELECT cosine_sim(array(cast(3.0 as float), cast(4.0 as float)), " +
        "array(cast(3.0 as float), cast(4.0 as float)))").head()
    assert(math.abs(row.getDouble(0) - 1.0) < 1e-6)
  }

  test("a local session resolves file: to the engine's filesystem") {
    val conf = spark.sparkContext.hadoopConfiguration
    val uri = new URI("file:///")
    assert(FileSystem.get(uri, conf).getClass == classOf[io.NioLocalFileSystem])
    assert(AbstractFileSystem.get(uri, conf).getClass == classOf[io.NioLocalFs])
  }

  test("a local session carries the engine and local-harness confs") {
    val sc = spark.sparkContext.getConf
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "5000")
    assert(sc.get("spark.shuffle.sort.bypassMergeThreshold") == "0")
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(!sc.getBoolean("spark.ui.enabled", true))
  }
}
