package graft.streaming

import java.io.PrintWriter
import java.net.ServerSocket
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.pipeline.TxTable

/** IoT socket-source connector tier: newline-delimited readings pushed
  * over TCP land in the same Silver (and Gold) the file tier maintains,
  * through the SAME micro-batch merge body. Closes the "Structured
  * Streaming + IoT source connectors" north-star item in the only form
  * this zero-egress environment supports — no Kafka jar ships in
  * /opt/spark/jars; a Kafka variant is the identical pipeline behind
  * `format("kafka")` + `CAST(value AS STRING)`.
  */
class SocketIngestSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("socket lines -> silver via the shared micro-batch merge; invalid lines dropped; gold advances") {
    val root = graft.TestTmp.dir("graft-socket")
    val silverPath = s"$root/silver"
    val goldPath = s"$root/gold"
    val ckpt = s"$root/ckpt"

    // listen BEFORE the query starts (the socket source connects eagerly)
    val server = new ServerSocket(0)
    val payload =
      "1649941817 Voltage 1.34\n1649941818 Voltage 1.35\n" +
        "1649941817 Current 12.0\n1649941818 Current 14.0\n" +
        "not a line\n" // parse-validate drops it, stream keeps running
    val writer = new Thread(() => {
      val sock = server.accept()
      val out = new PrintWriter(sock.getOutputStream, true)
      out.print(payload)
      out.flush()
      // keep the connection open until the test closes the server —
      // an early close ends the stream before a batch can run
      Thread.sleep(30000)
      sock.close()
    })
    writer.setDaemon(true)
    writer.start()

    val q = StreamingPipeline.runSocketToSilver(
      spark, "localhost", server.getLocalPort, silverPath, ckpt, Some(goldPath))
    try {
      // at-least-once tier: poll until the delivered lines are merged
      val deadline = System.nanoTime() + 60L * 1000000000L
      var rows = 0L
      while (rows < 4 && System.nanoTime() < deadline) {
        q.processAllAvailable()
        rows = TxTable.committed(spark, silverPath).fold(0L)(_.count())
      }
      assert(rows == 4, s"4 valid readings merged from the socket, got $rows")

      val silver = TxTable.read(spark, silverPath)
      assert(silver.columns.toSet ==
        Set("raw_id", "reading_time", "metric_name", "metric_value", "reading_date", "processed_at"),
        "socket tier lands the SAME typed silver schema as the file tier")
      val v17 = silver.filter(col("metric_name") === "Voltage" &&
        col("reading_time") === to_timestamp(lit("2022-04-14 13:10:17")))
        .collect().map(_.getAs[Double]("metric_value"))
      assert(v17.toSeq == Seq(1.34), "values parsed through the stg_readings plan of record")

      // gold advanced inside the same batch: one Power row, the golden value
      val g = TxTable.read(spark, goldPath).collect()
      assert(g.length == 1 && g(0).getAs[String]("metric_name") == "Power")
      assert(math.abs(g(0).getAs[Double]("metric_value") - 17.485) < 1e-9,
        "avg(V) * avg(I) = 1.345 * 13.0 = 17.485 (test_all.sh golden value)")
    } finally {
      q.stop()
      server.close()
    }
  }
}
