package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all specs (Spark session startup is ~5s;
  * per-suite sessions would dominate test time). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.local(4).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
