package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all Spark-touching test suites. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkEntry.configure(SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      // a streaming query.stop() that hangs fails its own test with a
      // TimeoutException after this long instead of stalling the suite
      // (Spark's default, 0, waits forever)
      .config("spark.sql.streaming.stopTimeout", "60s"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
