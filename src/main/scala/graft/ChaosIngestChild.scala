package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.pipeline.CorpusIngest

/** The kill-and-restore chaos probe's STREAM RUNNER — both the child
  * JVM the spec SIGKILLs mid-micro-batch and the in-process control /
  * restart runs share this exact stream definition, so the only
  * variable in the experiment is the kill itself.
  *
  * One micro-batch per input file (`maxFilesPerTrigger=1`), each batch
  * through the full composed ingest (quality screen → persisted
  * DedupIndex near-dup gate → TxTable corpus append). `markerDir`, when
  * set, gets a `start-<batchId>` file as each batch ENTERS foreachBatch
  * and a `done-<batchId>` when it returns — the parent spec polls these
  * to time its SIGKILL inside a batch, between the sink writes and the
  * checkpoint commit (the replay window exactly-once hinges on).
  */
object ChaosIngestChild {

  val docSchema: StructType = new StructType()
    .add("doc_id", LongType).add("text", StringType)
    .add("lang", StringType).add("source", StringType)

  def run(
      spark: SparkSession, srcDir: String, corpusRoot: String,
      indexRoot: String, checkpointDir: String,
      markerDir: Option[String]): Unit = {
    val q = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        markerDir.foreach(m => java.nio.file.Files.writeString(
          java.nio.file.Paths.get(m, s"start-$id"), ""))
        CorpusIngest.ingestBatch(batch.sparkSession, corpusRoot, indexRoot, batch)
        markerDir.foreach(m => java.nio.file.Files.writeString(
          java.nio.file.Paths.get(m, s"done-$id"), ""))
        ()
      }
      .start()
    q.awaitTermination()
  }

  /** Child-JVM entry: own SparkSession (small heap, local[4]) so the
    * parent's SIGKILL takes out a REAL separate process with RocksDB/
    * HDFS state mid-flight, not a thread the test could unwind cleanly.
    */
  def main(args: Array[String]): Unit = {
    val Array(srcDir, corpusRoot, indexRoot, ckpt, markerDir) = args
    val spark = GraftSession.builder(4)
      .config("spark.sql.shuffle.partitions", "8")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, srcDir, corpusRoot, indexRoot, ckpt, Some(markerDir))
    spark.stop()
  }
}
