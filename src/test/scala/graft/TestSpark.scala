package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all specs (Spark session startup is ~5s;
  * per-suite sessions would dominate test time). */
object TestSpark {
  lazy val spark: SparkSession = {
    // every spec writes through the engine's file: filesystem
    graft.io.LocalFileSystem.install()
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
