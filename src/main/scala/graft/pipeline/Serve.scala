package graft.pipeline

import org.apache.spark.sql.DataFrame

import graft.parse.LineParser

/** The GET /data entry point (reference src/api/routes/data.py:89-126 +
  * src/db/repositories/readings.py:25-49) as a library facade: parse and
  * normalize the range parameters exactly like the reference (multi-format
  * ISO parse, truncate-to-midnight, date-only `to` inclusive), run the
  * serve plan, format the response rows.
  *
  * Error paths return Left(message) — the engine-side twin of the
  * reference's `{"success": false}` responses (data.py:92-102).
  */
object Serve {

  /** The POST /data request envelope (data.py:39-68) as a pure function:
    * content-type must be `text/plain*` (data.py:42-44), the body must be
    * non-blank (data.py:46-48), blank interior lines are skipped, and
    * EVERY remaining line must parse — all-or-nothing, one bad line
    * rejects the whole batch and nothing is appended (data.py:55-59
    * returns before save_to_bronze). On success returns the stripped
    * non-blank lines exactly as the reference appends them to Bronze
    * (readings.py:9-21 strips each line and skips blanks); Left(reason)
    * is the engine twin of `{"success": false}`.
    */
  def postData(
      contentType: Option[String],
      body: Option[String]): Either[String, Seq[String]] =
    if (!contentType.exists(_.startsWith("text/plain")))
      Left("content-type must be text/plain") // data.py:42-44
    else
      body.map(_.strip).filter(_.nonEmpty) match {
        case None => Left("empty body") // data.py:46-48
        case Some(raw) =>
          val kept = raw.split("\n", -1).toSeq.map(_.strip).filter(_.nonEmpty)
          if (kept.forall(l => LineParser.parseLine(l).isDefined)) Right(kept)
          else Left("unparseable line") // all-or-nothing, data.py:55-59
      }

  /** The GET /data parameter handling (data.py:92-102), shared by
    * [[range]] and [[ServeCache.range]]: both parameters present and
    * parseable, normalized to the half-open day range [from, toBound)
    * ([[LineParser.normalizeRange]]). */
  private[pipeline] def parseRange(
      fromStr: Option[String],
      toStr: Option[String]): Either[String, (java.time.LocalDate, java.time.LocalDate)] =
    (fromStr, toStr) match {
      case (Some(f), Some(t)) =>
        LineParser.normalizeRange(f, t).toRight("Invalid date format") // data.py:98-102
      case _ => Left("Missing required parameters: from, to") // data.py:92-96
    }

  def range(
      silver: DataFrame,
      gold: DataFrame,
      fromStr: Option[String],
      toStr: Option[String]): Either[String, DataFrame] =
    parseRange(fromStr, toStr).map { case (fromDay, toBound) =>
      SensorPipeline.formatResponse(
        SensorPipeline.serve(silver, gold, fromDay.toString, toBound.toString))
    }
}
