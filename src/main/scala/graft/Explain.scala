package graft

/** Plan-capture tool: print the formatted physical plan of one or more
  * queries under the same session config Verify/Bench run with.
  * Usage: runMain graft.Explain <sfDir> <name>[,<name>...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, names) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.split(",").foreach { name =>
      println(s"===== $name =====")
      println(SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
