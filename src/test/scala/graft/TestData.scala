package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic inputs shared by specs: a near-dup document corpus
  * and a bounded-degree graph. Both are pure functions of their
  * arguments, so every run and every spec sees the same rows.
  */
object TestData {

  /** Seeded corpus of doc ids [0, n): ~60% singleton docs, rest in
    * families of 2–8 whose members perturb a shared base text by one
    * word per CHAIN HOP (member i mutates member i−1's text), so LSH
    * links neighbors but not necessarily family ends — multi-hop CC
    * components by construction. The family structure is a pure
    * function of the id.
    */
  def genDocs(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    val vocabBc = spark.sparkContext.broadcast(
      Array.tabulate(2000)(i => s"w${i}x${(i * 2654435761L & 0xffff).toHexString}"))
    // every 6th word is a stopword so the C4-style quality gate's
    // stopword-ratio floor (>= 0.03) passes — without it the whole
    // corpus is rejectedQuality and the ingest path is vacuous
    val stops = Array("the", "and", "of", "to", "in", "is")
    spark.range(0L, n, 1, 64).as[Long].mapPartitions { it =>
      val vocab = vocabBc.value
      it.map { id =>
        // family structure from the id: blocks of 10; in each block,
        // ids 0-5 are singletons, 6-9 form a 4-chain family
        val block = id / 10
        val off = (id % 10).toInt
        val (seedId, hop) = if (off < 6) (id, 0) else (block * 10 + 6, off - 6)
        val rnd = new scala.util.Random(seedId * 1000003L + 17)
        val words = Array.tabulate(40)(i =>
          if (i % 6 == 5) stops(rnd.nextInt(stops.length))
          else vocab(rnd.nextInt(vocab.length)))
        // each hop mutates ONE more word of the shared base: adjacent
        // hops overlap in 39/40 words (J ≈ 0.95), ends in 37/40
        var h = 0
        while (h < hop) { words(h * 3) = s"mut${id}h$h"; h += 1 }
        (id, words.mkString(" "), "en", s"src${(id % 7)}")
      }
    }.toDF("doc_id", "text", "lang", "source")
  }

  /** Symmetric, distinct, self-loop-free edge list with n nodes and
    * ~n·(2 + extra) undirected edges, deterministic in (n, extra): node
    * i links to i+1 and i+2 (mod n; connectivity and a degree floor)
    * plus `extra` xxhash64-derived chords (bounded expected degree).
    */
  def syntheticEdges(spark: SparkSession, n: Long, extra: Int): DataFrame = {
    val ids = spark.range(0, n).toDF("i")
    // ring chords i→i+1, i→i+2 (mod n): connectivity + degree floor 4
    val ring = ids.select(col("i").as("src"), ((col("i") + 1) % n).as("dst"))
      .unionAll(ids.select(col("i").as("src"), ((col("i") + 2) % n).as("dst")))
    // seeded random chords: endpoint from xxhash64 — bounded E[degree]
    val chords = (1 to extra).foldLeft(Seq.empty[DataFrame]) { (acc, c) =>
      acc :+ ids.select(col("i").as("src"),
        pmod(xxhash64(col("i"), lit(c)), lit(n)).as("dst"))
    }.reduce(_ unionAll _)
    val oneWay = ring.unionAll(chords).filter(col("src") =!= col("dst"))
    oneWay.select(col("src"), col("dst"))
      .unionAll(oneWay.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
  }
}
