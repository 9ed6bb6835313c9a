package perfbench

import java.util.concurrent.atomic.AtomicReference
import java.util.concurrent.locks.LockSupport

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import graft.pipeline.ServeCache

/** serve_mixed: reads dominate and writes are small appends that bypass
  * the merge and the quality checks. Over a fixed seeded store, three
  * threads run together for the run's seconds:
  *   - an open-loop reader calls `ServeCache.range` over 1-7-day windows at
  *     a fixed rate, each call timed from when it was due;
  *   - a closed-loop client calls `Serve.range` at the latest committed
  *     versions and collects (the path a store above the cache bound takes);
  *   - a writer appends a new day every few seconds with
  *     `TxTable.appendPublish`, then refreshes the cache.
  * A change that speeds ingest but costs serving (a heavier refresh, a
  * larger pinned snapshot) shows here.
  */
object ServeMixed {
  val HistoryDays = 30
  val HistoryPerDay = 1000
  val AppendPerDay = 1000
  val ReadsPerSecond = 100
  val WriterEveryS = 5.0
  val BodyLines = 500
  val WarmUpCachedReads = 2000

  /** A committed day the reader has not yet seen in a cached response. */
  final case class Pending(day: Int, committedAt: Long, rows: Int)

  /** One writer cycle: POST the day's lines, append silver and gold, refresh
    * the cache, read the day back. Returns the wall seconds. */
  private def append(ctx: Bench.Ctx, st: Store, cache: ServeCache, b: Gen.Batch, day: Int,
      exp: Expected, pending: AtomicReference[Pending], t: Layers.Tally): Option[Double] =
    ctx.ops.run("append") {
      val full = Expected.single(b, day)
      val t0 = System.nanoTime()
      ctx.tracer.span("increment") {
        val (kept, refused, _) = st.postEdge(b, BodyLines)
        val bronze = ctx.tracer.span("parse")(st.bronze(kept))
        st.appendDay(bronze)
        pending.set(Pending(day, System.nanoTime(), full))
        val swapped = st.refresh(cache)
        val rows = st.cached(cache, day, day)
        val t1 = System.nanoTime()
        exp.add(b)
        t.ops += 1; t.lines += b.lines; t.refused += refused; t.fresh += b.silverRows
        if (swapped) t.swaps += 1
        ((t1 - t0) / 1e9, refused == 0 && swapped && rows.size == full)
      }
    }

  def run(ctx: Bench.Ctx): Bench.Result = {
    import ctx._
    val seed = opts.seed
    val cycles = (opts.seconds / WriterEveryS).toInt
    // day HistoryDays is the warm-up append; the timed writer goes on from there
    val days = (0 to cycles).map(k => Gen.day(seed, HistoryDays + k, AppendPerDay))
    val pending = new AtomicReference[Pending](null)
    val t0 = System.nanoTime()
    val history = Gen.history(seed, HistoryDays, HistoryPerDay)
    val store = new Store(spark, tracer, ctx.dir("serve"))
    store.seed(history)
    val cache = store.cache()
    val expected = new Expected
    expected.add(history)
    val storeS = (System.nanoTime() - t0) / 1e9
    // warm-up: both read paths and one writer cycle
    val t1 = System.nanoTime()
    val warmUp = new Windows(seed ^ 0x3a3aL, HistoryDays)
    for (_ <- 1 to WarmUpCachedReads) {
      val (from, to) = warmUp.next()
      ops.check("warm-up cached read")(store.cached(cache, from, to).size == expected.rows(from, to))
    }
    for (_ <- 1 to 3) {
      val (from, to) = warmUp.next()
      ops.check("warm-up spark read")(Store.sameRows(store.sparkServe(from, to), store.cached(cache, from, to)))
    }
    append(ctx, store, cache, days.head, HistoryDays, expected, pending, new Layers.Tally)
    pending.set(null)
    val warmS = (System.nanoTime() - t1) / 1e9
    ctx.calibrate("before")

    val cachedMs, lagMs, sparkMs, fresh, appendS = ArrayBuffer.empty[Double]
    val cachedRows = ArrayBuffer.empty[Int]
    var backlogMax = 0L
    val tally = new Layers.Tally
    @volatile var writing = true
    java.util.Arrays.fill(store.written, 0L)
    gc.start()
    tracer.startTimed()
    val start = System.nanoTime()
    val deadline = start + opts.seconds * 1000000000L

    def thread(name: String)(body: => Unit): Thread = {
      val th = new Thread(() => body, s"perfbench-$name")
      th.start()
      th
    }

    val writer = thread("writer") {
      for (k <- 1 to cycles) {
        val due = start + ((k - 0.5) * WriterEveryS * 1e9).toLong
        while (System.nanoTime() < due) LockSupport.parkNanos(due - System.nanoTime())
        append(ctx, store, cache, days(k), HistoryDays + k, expected, pending, tally).foreach(appendS += _)
      }
      writing = false
    }
    val reader = thread("reader") {
      val windows = new Windows(seed ^ 0x7eadL, HistoryDays)
      val interval = 1e9 / ReadsPerSecond
      var k = 0L
      var due = start
      while (due < deadline || writing) {
        while (System.nanoTime() < due) LockSupport.parkNanos(due - System.nanoTime())
        val begin = System.nanoTime()
        lagMs += (begin - due) / 1e6
        backlogMax = math.max(backlogMax, ((begin - due) / interval).toLong)
        val p = pending.get
        val (from, to) = if (p != null) (p.day, p.day) else windows.next()
        ops.run("cached read") {
          val rows = store.cached(cache, from, to)
          val end = System.nanoTime()
          cachedMs += (end - due) / 1e6
          cachedRows += rows.size
          if (p == null) ((), rows.size == expected.rows(from, to))
          else {
            if (rows.size == p.rows && pending.compareAndSet(p, null)) fresh += (end - p.committedAt) / 1e9
            ((), rows.isEmpty || rows.size == p.rows)
          }
        }
        k += 1
        due = start + (k * interval).toLong
      }
    }
    val client = thread("client") {
      val windows = new Windows(seed ^ 0xc11eL, HistoryDays)
      while (System.nanoTime() < deadline) {
        val (from, to) = windows.next()
        ops.run("spark read") {
          val t0 = System.nanoTime()
          val rows = store.sparkServe(from, to)
          sparkMs += (System.nanoTime() - t0) / 1e6
          ((), Store.sameRows(rows, store.cached(cache, from, to)))
        }
      }
    }
    Seq(writer, reader, client).foreach(_.join())
    tracer.stopTimed()
    gc.stop()
    val heapMb = Bench.liveHeapMb()

    val t2 = System.nanoTime()
    val lastDay = expected.days.max
    val pinned = cache.range(Some(Gen.dateOf(0)), Some(Gen.dateOf(lastDay))).fold(_ => -1, _.size)
    ops.check("cache holds the whole store")(pinned == expected.rows(0, lastDay))
    ops.check("every append was seen fresh by the reader")(fresh.size == tally.ops)
    store.checkFinal(ops, Nil)
    val checksS = (System.nanoTime() - t2) / 1e9

    val fin = tracer.finish()
    val layers =
      if (!tracer.enabled) ListMap.empty[String, (Double, String)]
      else Layers.metrics(fin, tally, pinned.toLong, Stats.mean(cachedRows.map(_.toDouble).toSeq),
        Stats.quantile(lagMs.toSeq, 0.99), backlogMax, store.written, gc)
    Bench.Result(
      endToEnd = ListMap(
        "setup_s" -> (sessionS + storeS + warmS, "s"),
        "ingest_incr_p50_s" -> (Stats.median(appendS.toSeq), "s"),
        "ingest_lines_per_s" -> (tally.lines / appendS.sum, "lines/s"),
        "serve_cached_p50_ms" -> (Stats.median(cachedMs.toSeq), "ms"),
        "serve_spark_p50_ms" -> (Stats.median(sparkMs.toSeq), "ms"),
        "serve_fresh_s" -> (Stats.median(fresh.toSeq), "s"),
        "heap_live_mb" -> (heapMb, "MB")),
      perLayer = layers,
      record = ListMap(
        "setup" -> ListMap("session_s" -> sessionS, "store_s" -> storeS, "warm_up_s" -> warmS),
        "checks_s" -> checksS,
        "sizes" -> ListMap("history_days" -> HistoryDays, "history_rows" -> HistoryDays * HistoryPerDay,
          "append_rows" -> AppendPerDay, "appends" -> tally.ops, "cached_reads" -> cachedMs.size,
          "spark_reads" -> sparkMs.size),
        "tails" -> ListMap(
          "serve_cached_tail_ms" -> Stats.tailRecord(cachedMs.toSeq),
          "serve_spark_tail_ms" -> Stats.tailRecord(sparkMs.toSeq),
          "serve_fresh_tail_s" -> Stats.tailRecord(fresh.toSeq)),
        "generator" -> ListMap("lag_p99_ms" -> Stats.quantile(lagMs.toSeq, 0.99), "backlog_max" -> backlogMax),
        "samples" -> ListMap("append_s" -> appendS, "fresh_s" -> fresh),
        "increment_span_coverage" -> (if (tracer.enabled) fin.childCoverage("increment") else null),
        "spans" -> (if (tracer.enabled) Layers.spanSummary(fin) else null)),
      spans = if (tracer.enabled) fin.records else Nil)
  }
}
