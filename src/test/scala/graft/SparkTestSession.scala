package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (getOrCreate). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    // the same session recipe Verify/Bench run under
    val s = GraftSession.builder(4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir", graft.TestTmp.dir("graft-warehouse"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
