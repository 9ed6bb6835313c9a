package perfbench

import java.time.LocalDate
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded sensor-line generators. The same seed gives the same lines; only
  * the wall-clock audit columns (ingested_at, processed_at, calculated_at)
  * differ between runs, and no output check looks at them.
  *
  * Lines use the reference's format, `"{unix_ts} {name} {value}"`, with the
  * two metrics gold needs (Voltage, Current); silver's accepted-values check
  * allows no other name.
  */
object Gen {
  val BaseDay: LocalDate = LocalDate.of(2022, 4, 1)
  val BaseEpoch: Long = BaseDay.toEpochDay * 86400L

  def dayOf(ts: Long): Int = Math.floorDiv(ts - BaseEpoch, 86400L).toInt
  def dateOf(day: Int): String = BaseDay.plusDays(day.toLong).toString

  /** The reference's catalogue of malformed lines. `edgeRejects`: the POST
    * edge (`Serve.postData`) refuses a body holding the line. `silverRejects`:
    * silver validation (`bronzeToSilver`) drops it. The two disagree on
    * purpose where the reference does: a doubled space passes the edge's
    * whitespace split but leaves an empty name field for silver, and extra
    * tokens fail the edge's three-token rule while silver reads fields 1-3.
    */
  final case class Malformed(name: String, edgeRejects: Boolean, silverRejects: Boolean)

  val Catalogue: Seq[Malformed] = Seq(
    Malformed("blank", edgeRejects = true, silverRejects = true),
    Malformed("non_numeric_ts", edgeRejects = true, silverRejects = true),
    Malformed("ts_overflow", edgeRejects = true, silverRejects = true),
    Malformed("bad_name", edgeRejects = true, silverRejects = true),
    Malformed("bad_value", edgeRejects = true, silverRejects = true),
    Malformed("doubled_space", edgeRejects = false, silverRejects = true),
    Malformed("extra_tokens", edgeRejects = true, silverRejects = false))

  private def metric(r: SplittableRandom): String = if (r.nextBoolean()) "Voltage" else "Current"

  /** Voltage around 1.0-2.0, Current around 10.0-15.0, two decimals: values
    * silver's `^-?\d+\.?\d*$` accepts and the edge's float parse reads alike. */
  private def value(r: SplittableRandom, name: String): String = {
    val cents = if (name == "Voltage") 100 + r.nextInt(100) else 1000 + r.nextInt(500)
    val frac = cents % 100
    s"${cents / 100}.${if (frac < 10) "0" else ""}$frac"
  }

  /** A valid line at `ts`, with the metric it carries. */
  def line(r: SplittableRandom, ts: Long): (String, String) = {
    val n = metric(r)
    (n, s"$ts $n ${value(r, n)}")
  }

  private def malformedLine(r: SplittableRandom, kind: String, ts: Long): (String, String) = {
    val n = metric(r)
    val v = value(r, n)
    n -> (kind match {
      case "blank" => if (r.nextBoolean()) "" else "   "
      case "non_numeric_ts" => s"t$ts $n $v"
      case "ts_overflow" => s"9${"9" * (19 + r.nextInt(3))} $n $v"
      case "bad_name" => s"$ts ${if (r.nextBoolean()) "9" else "_"}$n $v"
      case "bad_value" => s"$ts $n ${if (r.nextBoolean()) "abc" else v + ".5"}"
      case "doubled_space" => s"$ts  $n $v"
      case "extra_tokens" => s"$ts $n $v extra"
    })
  }

  /** Lines as they arrive. `edge` goes through the POST edge, `malformed`
    * straight to bronze as (class, line). `silver` is what silver must gain
    * from both, as row counts per (day, metric). */
  final case class Batch(
      edge: IndexedSeq[String],
      malformed: IndexedSeq[(String, String)],
      silver: Map[(Int, String), Int]) {
    def lines: Int = edge.size + malformed.size
    def silverRows: Int = silver.values.sum
    def days: Set[Int] = silver.keySet.map(_._1)
  }

  /** Row counts per (day, metric) of the readings silver accepts. */
  private def byDay(readings: Iterable[(Long, String)]): Map[(Int, String), Int] =
    readings.groupMapReduce { case (ts, n) => (dayOf(ts), n) }(_ => 1)(_ + _)

  /** History: `days` days with `perDay` valid lines each, in time order. */
  def history(seed: Long, days: Int, perDay: Int): Batch = {
    val r = new SplittableRandom(seed)
    val ts = (0 until days).flatMap { d =>
      val start = BaseEpoch + d * 86400L
      Iterator.fill(perDay)(start + r.nextInt(86400)).toSeq.sorted
    }
    val lines = ts.map(t => t -> line(r, t))
    Batch(lines.map(_._2._2), IndexedSeq.empty, byDay(lines.map { case (t, (n, _)) => (t, n) }))
  }

  /** Mix of one hourly increment, as shares of its valid lines. */
  final case class Mix(valid: Int, lateShare: Double, dupShare: Double, malformedPerClass: Int)

  /** Increment `i`: hour `i` after `historyDays` of history. Valid lines of
    * the hour in shuffled order (out-of-order timestamps), late lines for
    * random past days, duplicate lines (same text, a distinct id once in
    * bronze), and `malformedPerClass` lines of every malformed class. */
  def increment(seed: Long, i: Int, historyDays: Int, mix: Mix): Batch = {
    val r = new SplittableRandom(seed * 1000003L + i)
    val hourStart = BaseEpoch + historyDays * 86400L + i * 3600L
    val valid = Seq.fill(mix.valid)(hourStart + r.nextInt(3600))
    val late = Seq.fill((mix.valid * mix.lateShare).toInt)(
      BaseEpoch + r.nextInt(historyDays) * 86400L + r.nextInt(86400))
    val validLines = (valid ++ late).map(ts => ts -> line(r, ts)).toIndexedSeq
    val dups = IndexedSeq.fill((mix.valid * mix.dupShare).toInt)(validLines(r.nextInt(validLines.size)))
    val edge = shuffle(r, validLines ++ dups)
    val malformed = for {
      m <- Catalogue
      _ <- 0 until mix.malformedPerClass
    } yield {
      val ts = hourStart + r.nextInt(3600)
      (m, ts, malformedLine(r, m.name, ts))
    }
    val accepted = edge.map { case (ts, (n, _)) => (ts, n) } ++
      malformed.collect { case (m, ts, (n, _)) if !m.silverRejects => (ts, n) }
    Batch(edge.map(_._2._2), malformed.map { case (m, _, (_, l)) => (m.name, l) }.toIndexedSeq,
      byDay(accepted))
  }

  /** One whole day of valid lines, in time order: a serve-side append. */
  def day(seed: Long, d: Int, perDay: Int): Batch = {
    val r = new SplittableRandom(seed * 7919L + d)
    val lines = Seq.fill(perDay)(BaseEpoch + d * 86400L + r.nextInt(86400)).sorted.map(t => t -> line(r, t))
    Batch(lines.map(_._2._2).toIndexedSeq, IndexedSeq.empty, byDay(lines.map { case (t, (n, _)) => (t, n) }))
  }

  def shuffle[T](r: SplittableRandom, xs: IndexedSeq[T]): IndexedSeq[T] = {
    val a = mutable.ArrayBuffer.from(xs)
    var i = a.size - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq
  }

  /** POST bodies of at most `size` lines each. */
  def bodies(lines: IndexedSeq[String], size: Int): Seq[String] =
    lines.grouped(size).map(_.mkString("\n")).toSeq
}

/** Serve windows over history days, which no writer touches: 1 to 7 days
  * long in turn, so every seed reads the same mix of sizes, starting on a
  * seeded random day. */
final class Windows(seed: Long, historyDays: Int) {
  private val r = new SplittableRandom(seed)
  private var k = 0

  /** The next window as (first day, last day), inclusive. */
  def next(): (Int, Int) = {
    val days = 1 + k % 7
    k += 1
    val from = r.nextInt(historyDays - days + 1)
    (from, from + days - 1)
  }
}
