package perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import graft.pipeline.ServeCache

/** ingest_hourly: seed a history, then replay hourly increments through the
  * reference DAG's order — POST edge, silver merge/commit/check, affected-day
  * gold/commit/check, serve-cache refresh and read-back — for the run's
  * seconds. The history is 33 times one increment, so the steps whose cost
  * follows history (the full silver rewrite, whole-table quality scans, the
  * full cache rebuild) are part of every increment's time; README.md
  * measures how much at two history sizes.
  */
object IngestHourly {
  val HistoryDays = 20
  val HistoryPerDay = 5000
  val Mix = Gen.Mix(valid = 3000, lateShare = 0.02, dupShare = 0.01, malformedPerClass = 2)
  val BodyLines = 500
  /** Serve probes after each increment, outside its timing. */
  val CachedProbes = 200
  val SparkProbes = 2
  val WarmUpCachedReads = 2000
  /** A run times at least this many increments, so its median is a middle
    * sample even on a slow host. */
  val MinIncrements = 3

  /** One increment; returns (wall s, freshness s) — freshness counts from
    * the gold commit returning to the read-back returning. */
  private def increment(ctx: Bench.Ctx, st: Store, cache: ServeCache, b: Gen.Batch,
      exp: Expected, t: Layers.Tally): Option[(Double, Double)] =
    ctx.ops.run("increment") {
      val (v0s, v0g) = cache.version
      val t0 = System.nanoTime()
      ctx.tracer.span("increment") {
        val (kept, refused, wrongVerdicts) = st.postEdge(b, BodyLines)
        val bronze = ctx.tracer.span("parse")(st.bronze(kept ++ b.malformed.map(_._2)))
        st.mergeIncrement(bronze)
        val tCommit = System.nanoTime()
        val swapped = st.refresh(cache)
        exp.add(b)
        val day = b.days.max
        val rows = st.cached(cache, day, day)
        val t1 = System.nanoTime()
        val (vs, vg) = cache.version
        t.ops += 1; t.lines += b.lines; t.refused += refused; t.fresh += b.silverRows
        t.rejected += b.malformed.count { case (k, _) => Gen.Catalogue.exists(m => m.name == k && m.silverRejects) }
        if (swapped) t.swaps += 1
        val edgeRefusals = b.malformed.count { case (k, _) => Gen.Catalogue.exists(m => m.name == k && m.edgeRejects) }
        val ok = refused == edgeRefusals && wrongVerdicts == 0 && swapped && vs > v0s && vg > v0g &&
          rows.size == exp.rows(day)
        (((t1 - t0) / 1e9, (t1 - tCommit) / 1e9), ok)
      }
    }

  def run(ctx: Bench.Ctx): Bench.Result = {
    import ctx._
    val seed = opts.seed
    val warm = Gen.increment(seed, 0, HistoryDays, Mix)
    val t0 = System.nanoTime()
    val history = Gen.history(seed, HistoryDays, HistoryPerDay)
    val store = new Store(spark, tracer, ctx.dir("ingest"))
    store.seed(history)
    val cache = store.cache()
    val expected = new Expected
    expected.add(history)
    val storeS = (System.nanoTime() - t0) / 1e9
    // inputs for every increment the run could reach, made before timing
    val batches = (1 to math.max(opts.seconds, MinIncrements)).map(Gen.increment(seed, _, HistoryDays, Mix))
    val windows = new Windows(seed, HistoryDays)
    val incr, fresh, cachedMs, sparkMs = ArrayBuffer.empty[Double]
    val cachedRows = ArrayBuffer.empty[Int]

    /** Serve probes over history windows: `cached` timed cache reads, then
      * `sparkCalls` timed Spark-path reads, each checked. */
    def probe(cached: Int, sparkCalls: Int): Unit = {
      for (_ <- 1 to cached) {
        val (from, to) = windows.next()
        ops.run("cached read") {
          val t0 = System.nanoTime()
          val rows = store.cached(cache, from, to)
          cachedMs += (System.nanoTime() - t0) / 1e6
          cachedRows += rows.size
          ((), rows.size == expected.rows(from, to))
        }
      }
      for (_ <- 1 to sparkCalls) {
        val (from, to) = windows.next()
        ops.run("spark read") {
          val t0 = System.nanoTime()
          val rows = store.sparkServe(from, to)
          sparkMs += (System.nanoTime() - t0) / 1e6
          ((), Store.sameRows(rows, store.cached(cache, from, to)))
        }
      }
    }
    // warm-up: the log's first hour through the timed path, then both read
    // paths, so the JIT has compiled them before timing
    val t1 = System.nanoTime()
    increment(ctx, store, cache, warm, expected, new Layers.Tally)
    probe(WarmUpCachedReads, SparkProbes)
    val warmS = (System.nanoTime() - t1) / 1e9
    ctx.calibrate("before")
    Seq(cachedMs, sparkMs, cachedRows).foreach(_.clear())
    val tally = new Layers.Tally
    java.util.Arrays.fill(store.written, 0L)
    gc.start()
    tracer.startTimed()
    val deadline = System.nanoTime() + opts.seconds * 1000000000L
    var i = 0
    while ((System.nanoTime() < deadline || i < MinIncrements) && i < batches.size) {
      increment(ctx, store, cache, batches(i), expected, tally).foreach { case (w, f) => incr += w; fresh += f }
      i += 1
      probe(CachedProbes, SparkProbes)
    }
    tracer.stopTimed()
    gc.stop()
    val heapMb = Bench.liveHeapMb()
    if (i == batches.size) System.err.println("[perfbench] ran out of pre-generated increments")

    val t2 = System.nanoTime()
    val lastDay = expected.days.max
    val pinned = cache.range(Some(Gen.dateOf(0)), Some(Gen.dateOf(lastDay))).fold(_ => -1, _.size)
    ops.check("cache holds the whole store")(pinned == expected.rows(0, lastDay))
    store.checkFinal(ops, (warm +: batches.take(i)).flatMap(_.malformed))
    val checksS = (System.nanoTime() - t2) / 1e9

    val fin = tracer.finish()
    val layers =
      if (!tracer.enabled) ListMap.empty[String, (Double, String)]
      else Layers.metrics(fin, tally, pinned.toLong, Stats.mean(cachedRows.map(_.toDouble).toSeq),
        0.0, 0L, store.written, gc)
    Bench.Result(
      endToEnd = ListMap(
        "setup_s" -> (sessionS + storeS + warmS, "s"),
        "ingest_incr_p50_s" -> (Stats.median(incr.toSeq), "s"),
        "ingest_lines_per_s" -> (tally.lines / incr.sum, "lines/s"),
        "serve_cached_p50_ms" -> (Stats.median(cachedMs.toSeq), "ms"),
        "serve_spark_p50_ms" -> (Stats.median(sparkMs.toSeq), "ms"),
        "serve_fresh_s" -> (Stats.median(fresh.toSeq), "s"),
        "heap_live_mb" -> (heapMb, "MB")),
      perLayer = layers,
      record = ListMap(
        "setup" -> ListMap("session_s" -> sessionS, "store_s" -> storeS, "warm_up_s" -> warmS),
        "checks_s" -> checksS,
        "sizes" -> ListMap("history_days" -> HistoryDays, "history_rows" -> HistoryDays * HistoryPerDay,
          "increment_valid_lines" -> Mix.valid, "increments" -> tally.ops),
        "tails" -> ListMap(
          "ingest_incr_tail_s" -> Stats.tailRecord(incr.toSeq),
          "serve_cached_tail_ms" -> Stats.tailRecord(cachedMs.toSeq),
          "serve_spark_tail_ms" -> Stats.tailRecord(sparkMs.toSeq)),
        "samples" -> ListMap("increment_s" -> incr, "fresh_s" -> fresh),
        "increment_span_coverage" -> (if (tracer.enabled) fin.childCoverage("increment") else null),
        "spans" -> (if (tracer.enabled) Layers.spanSummary(fin) else null)),
      spans = if (tracer.enabled) fin.records else Nil)
  }
}
