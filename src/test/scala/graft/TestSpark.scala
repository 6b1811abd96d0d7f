package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite (one SparkContext per
  * JVM; suites run sequentially in sbt's forked test JVM).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-test")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(GraftSession.codegenConfs)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
