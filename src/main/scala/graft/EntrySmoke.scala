package graft

/** Driver-contract smoke: `SparkEntry.entry` must return >0 rows on
  * sf0.001 (the flagship check the driver runs). A standing main so
  * each verify pass can run it without a throwaway scratch file:
  * `sbt "runMain graft.EntrySmoke"`.
  */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder(8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val n = SparkEntry.entry(spark).count()
    println(s"[smoke] entry rows = $n")
    spark.stop()
    if (n <= 0) sys.exit(1)
  }
}
