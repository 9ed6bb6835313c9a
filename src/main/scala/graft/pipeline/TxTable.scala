package graft.pipeline

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}

/** Crash-safe multi-partition commits without a table-format jar — the
  * transactional twin of the reference's Postgres MERGE atomicity
  * (stg_readings.sql:15-17), which a plain delete-then-rename dir swap
  * cannot give: a crash between the two steps leaves no table at all,
  * and a swap across MULTIPLE partitions can leave half the days new
  * and half old. Every sensor-store table (silver, gold, the streaming
  * sessions table and its mart) is written through this log.
  *
  * Design (a miniature of the Delta/Iceberg log):
  *   - data files are IMMUTABLE, written once under `root/v<N>/<col>=<val>/`;
  *   - visibility is a manifest `root/_txlog/<N>.manifest` mapping every
  *     partition value to the version dir holding its current data;
  *   - a commit stages its partitions in a fresh version dir (invisible),
  *     then publishes ONE manifest via write-temp + rename-to-new-name —
  *     a single-file atomic rename on HDFS/local — flipping all touched
  *     partitions at once;
  *   - readers list `_txlog`, take the highest `.manifest` (ignoring
  *     `.tmp` debris), and read exactly the dirs it names. Any crash
  *     before the rename leaves the previous manifest latest: the table
  *     never shows a torn commit;
  *   - the manifest is the only catalogue a read consults: its dirs are
  *     the scan's partitions, one footer per version dir gives the
  *     schema, so building a read launches no Spark job.
  *
  * Single-writer by design (the reference's hourly DAG is too).
  * Committers stage into UNIQUE nonce-named dirs (never touching each
  * other's files) and race only on the manifest create-if-absent CAS,
  * so a reader can never observe a torn mix. Every writer commits its
  * manifest through one routine, [[publishManifest]]: CAS the entries
  * as the next version; on a lost CAS with attempts left, re-read the
  * log, rebase the entries onto it and try the version after. Only
  * the attempts and the rebase differ per writer:
  *   - a rewriting commit ([[publish]], [[deleteWhere]]) has 1 attempt,
  *     so losing FAILS LOUDLY — a single-writer-contract violation,
  *     never a silent clobber of a committed manifest;
  *   - a blind append ([[appendPublish]]) has 10: appends commute, so
  *     the rebase grows each touched entry of the fresh manifest;
  *   - a leveled merge ([[compactLeveled]]) has 20: it rebases over
  *     concurrent appends as long as every merged run is still live.
  */
object TxTable {

  private def fs(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Staged partition dirs as manifest entries: partition VALUE (in the
    * writer's escaped directory form) -> dir relative to root. The one
    * place dir names become manifest keys — every publish and
    * [[deleteWhere]] go through it.
    */
  private def listStaged(f: FileSystem, root: String,
      stagedDir: String, partitionCol: String): Map[String, String] =
    f.listStatus(new Path(s"$root/$stagedDir"))
      .map(_.getPath.getName)
      .filter(_.startsWith(partitionCol + "="))
      .map(p => p.stripPrefix(partitionCol + "=") -> s"$stagedDir/$p")
      .toMap

  private def logDir(root: String) = root + "/_txlog"
  private def manifestName(v: Long) = f"$v%08d.manifest"
  private def manifestPath(root: String, v: Long) = new Path(logDir(root), manifestName(v))

  /** Manifest entry values are TAB-joined lists of dirs relative to root:
    * a partition written once maps to one dir; every [[appendCommit]]
    * adds another dir to its list instead of rewriting. Tab is safe as
    * the separator because the writer percent-escapes control characters
    * in partition directory names (a literal tab can never appear).
    */
  private def dirsOf(entry: String): Seq[String] = {
    val ds = entry.split("\t").toSeq
    require(ds.forall(_.nonEmpty), s"malformed manifest entry '$entry'")
    ds
  }

  /** The version dir (run) a partition dir `v<N>-<nonce>[-l<k>]/<col>=<val>` lives in. */
  private def runOf(dir: String): String = dir.takeWhile(_ != '/')

  /** Every version dir `entries` reference. */
  private def versionDirs(entries: Map[String, String]): Set[String] =
    entries.values.flatMap(dirsOf).map(runOf).toSet

  /** Committed versions in `_txlog`, ascending; `.tmp` debris from a
    * crashed publish is invisible. Empty before the first commit. */
  private def versions(f: FileSystem, root: String): Seq[Long] = {
    val ld = new Path(logDir(root))
    if (!f.exists(ld)) Seq.empty
    else f.listStatus(ld).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(".manifest"))
      .map(_.stripSuffix(".manifest").toLong).sorted
  }

  /** Latest committed state: (version, partitionValue -> dir relative to
    * root). (0, empty) when the table has no committed version.
    */
  def latest(spark: SparkSession, root: String): (Long, Map[String, String]) = {
    val f = fs(spark, root)
    versions(f, root).lastOption
      .fold((0L, Map.empty[String, String]))(v => (v, parseManifest(f, manifestPath(root, v))))
  }

  /** The entries of committed version `v`, or an IllegalArgumentException
    * (ending in `hint`) when it was never committed or is vacuumed. */
  private def manifestAt(f: FileSystem, root: String, v: Long,
      hint: String = ""): Map[String, String] = {
    val m = manifestPath(root, v)
    require(f.exists(m), s"version $v does not exist at $root (committed or already vacuumed)$hint")
    parseManifest(f, m)
  }

  private def parseManifest(f: FileSystem, p: Path): Map[String, String] = {
    val in = f.open(p)
    val txt =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val entries = txt.split("\n").iterator.filter(_.nonEmpty).map { line =>
      line.split("\t", 2) match {
        case Array(k, dir) => k -> dir
        case _ => throw new java.io.IOException(s"malformed manifest line in $p: '$line'")
      }
    }.toMap
    if (entries.isEmpty)
      throw new java.io.IOException(s"manifest $p is empty or truncated")
    entries
  }

  /** Read the table at its latest committed version. Partitions may live
    * in different version dirs (each commit rewrites only the partitions
    * it touched); they are still one relation, so one pruned scan.
    */
  def read(spark: SparkSession, root: String): DataFrame = {
    val t = committed(spark, root)
    require(t.isDefined, s"no committed version at $root")
    t.get
  }

  /** [[read]] when the table has a committed version, None before its
    * first commit; one listing of the log either way.
    */
  def committed(spark: SparkSession, root: String): Option[DataFrame] =
    readEntries(spark, root, latest(spark, root)._2)

  /** The rows of `entries`, a subset of one committed manifest of `root`
    * (as [[latest]] returns it), built like [[read]] but listing and
    * opening only those entries' dirs; None when `entries` is empty.
    */
  private[pipeline] def readEntries(spark: SparkSession, root: String,
      entries: Map[String, String]): Option[DataFrame] =
    if (entries.isEmpty) None else Some(readManifest(spark, root, liveDirs(entries)))

  private def liveDirs(entries: Map[String, String]): Seq[String] =
    entries.values.toSeq.flatMap(dirsOf)

  /** Time travel: read the table AS OF a past committed version — free,
    * because manifests are immutable and version dirs are append-only
    * until [[vacuum]] (which therefore bounds the travel horizon; run it
    * only past your audit window).
    */
  def readAt(spark: SparkSession, root: String, version: Long): DataFrame =
    readManifest(spark, root, liveDirs(manifestAt(fs(spark, root), root, version)))

  /** One relation per distinct schema over `dirs` (partition dirs
    * relative to root), built from the manifest alone: partition values
    * come from the dir names, each version dir's schema from one footer
    * (all files of one staged write share it), and the dirs are listed on
    * the driver — no Spark job. Schema evolution: a commit may ADD
    * columns; partitions in older version dirs read them as null, and a
    * dropped column survives as null on the new partitions until every
    * partition is rewritten. The NEWEST version dir's relation comes
    * first, so its schema wins the union's column order.
    */
  private def readManifest(spark: SparkSession, root: String, dirs: Seq[String]): DataFrame = {
    import org.apache.spark.sql.execution.datasources.{ManifestScanBridge => Scan}
    val f = fs(spark, root)
    val leaves = dirs.map(d => f.makeQualified(new Path(s"$root/$d")))
    val listing = leaves.map(d => d -> Scan.dataFiles(f, d)).toMap
    val spec = Scan.partitionSpec(spark, leaves)
    val schemaOf = leaves.groupBy(_.getParent).map { case (vdir, ds) =>
      vdir -> Scan.footerSchema(spark, ds.iterator.flatMap(listing(_)).nextOption()
        .getOrElse(throw new java.io.IOException(s"no data files under live dirs of $vdir")))
    }
    val dfs = leaves.groupBy(d => schemaOf(d.getParent)).toSeq
      .sortBy { case (_, ds) => -ds.map(_.getParent.getName.drop(1).takeWhile(_.isDigit).toLong).max }
      .map { case (schema, ds) =>
        val in = ds.toSet
        Scan.parquet(spark, schema, spec.copy(partitions = spec.partitions.filter(p => in(p.path))),
          listing)
      }
    widenAll(dfs).reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Numeric type widening across version schemas: a commit that turns
    * an int column into long (or a float into double) must not break
    * reads of partitions still stored with the old type, and must not
    * lose precision. Conflicting NUMERIC columns are cast up to the
    * common widened type — integer families widen to the larger
    * integer; any int×float mix widens to DOUBLE, because Spark's own
    * set-operation coercion picks float for long∪float, which silently
    * corrupts longs above 2^24. Every other type pair passes through
    * unchanged to `unionByName`'s standard coercion (decimal precision,
    * date→timestamp, nullability, …) so no previously-readable table
    * becomes unreadable.
    */
  private def widenAll(dfs: Seq[DataFrame]): Seq[DataFrame] = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val intRank = Map[DataType, Int](ByteType -> 0, ShortType -> 1, IntegerType -> 2, LongType -> 3)
    val fltRank = Map[DataType, Int](FloatType -> 0, DoubleType -> 1)
    def widen(a: DataType, b: DataType): Option[DataType] =
      if (a == b) Some(a)
      else if (intRank.contains(a) && intRank.contains(b))
        Some(if (intRank(a) >= intRank(b)) a else b)
      else if (fltRank.contains(a) && fltRank.contains(b))
        Some(if (fltRank(a) >= fltRank(b)) a else b)
      else if ((intRank.contains(a) && fltRank.contains(b)) ||
          (fltRank.contains(a) && intRank.contains(b))) Some(DoubleType)
      else None // not ours: defer to unionByName's own coercion
    // per column: Some(widened) while every observed pair is ours to
    // widen; None once any pair falls outside the numeric families
    val target = scala.collection.mutable.LinkedHashMap.empty[String, Option[DataType]]
    for (df <- dfs; f <- df.schema.fields) {
      target(f.name) = target.get(f.name) match {
        case None => Some(f.dataType)
        case Some(Some(t)) => widen(t, f.dataType)
        case Some(None) => None
      }
    }
    dfs.map { df =>
      val needsCast = df.schema.fields.exists(f =>
        target(f.name).exists(_ != f.dataType))
      if (!needsCast) df
      else df.select(df.schema.fields.map { f =>
        target(f.name) match {
          case Some(t) if t != f.dataType => col(f.name).cast(t).as(f.name)
          case _ => col(f.name)
        }
      }.toSeq: _*)
    }
  }

  /** Stage a new version: write `data` — the FULL new content of every
    * partition it touches — under a UNIQUE version dir
    * (`v<latest+1>-<nonce>`), partitioned by `partitionCol`. Not visible
    * until [[publish]]. Returns the staged dir name.
    *
    * The nonce means stagers can NEVER touch each other's files: crash
    * debris from an earlier attempt sits in its own dir (invisible —
    * no manifest names it — and collected by [[vacuum]]), and a
    * concurrent stager writes elsewhere, so there is no exists-check/
    * delete race on a shared path.
    *
    * The first version of a table refuses a root that already holds a
    * FLAT parquet table (the pre-TxTable on-disk format), before any
    * dir is written: a `_txlog` beside it would shadow the flat files
    * forever while `spark.read.parquet(root)` readers keep consuming
    * them. Every TxTable writer stages through here, so every writer
    * gets the guard.
    */
  def stage(spark: SparkSession, root: String, data: DataFrame, partitionCol: String): String = {
    val next = latest(spark, root)._1 + 1
    if (next == 1) requireNotFlatTable(spark, root, partitionCol)
    writeRun(root, data, partitionCol, next, "")
  }

  /** Write `data` partitioned by `partitionCol` into a fresh version dir
    * `v<next>-<nonce><suffix>` and return its name — the one data write
    * of [[stage]] and [[compactLeveled]]. */
  private def writeRun(root: String, data: DataFrame, partitionCol: String,
      next: Long, suffix: String): String = {
    val dir = s"v$next-${java.util.UUID.randomUUID().toString.take(8)}$suffix"
    data.write
      .mode(SaveMode.ErrorIfExists)
      .partitionBy(partitionCol)
      .parquet(s"$root/$dir")
    dir
  }

  /** Publish a staged dir: build the new manifest (previous entries
    * overridden by the staged partitions), write it to a temp name, and
    * atomically rename it into place. All staged partitions become
    * visible in the same instant; a crash anywhere before the rename
    * leaves the table at the previous version.
    *
    * Concurrency: single-writer by contract. If two publishers race
    * anyway, the version-number CAS ([[casManifest]]) picks exactly one
    * winner and the loser throws; a committed manifest — e.g. a
    * concurrent [[appendPublish]] — is never clobbered. Returns the
    * committed version.
    */
  def publish(spark: SparkSession, root: String, stagedDir: String, partitionCol: String): Long = {
    val f = fs(spark, root)
    val (v, old) = latest(spark, root)
    val changed = listStaged(f, root, stagedDir, partitionCol)
    require(changed.nonEmpty, s"staged dir $stagedDir has no $partitionCol= partitions")
    publishManifest(spark, f, root, v, old ++ changed, 1,
      s"publish is single-writer by contract; staged data remains at $root/$stagedDir")(identity)
  }

  /** Test-only injection point: fires immediately before every manifest
    * CAS attempt of every writer — deterministic lost-CAS coverage
    * without a real thread race (a spec makes it commit once to steal
    * the version; that nested commit re-enters the hook). Production
    * never sets it. */
  private[pipeline] var testHookBeforeCas: () => Unit = () => ()

  /** The one manifest commit of every writer: CAS `entries` as version
    * `v + 1` ([[casManifest]], never a plain rename — POSIX rename
    * OVERWRITES, so a concurrent writer that just committed that version
    * would be silently clobbered). On a lost CAS with `attempts` left,
    * re-read [[latest]] and retry at the version after it with
    * `rebase(its entries)`; otherwise throw, naming the root, the version
    * and `onFailure` (the writer's contract and recovery hint). Returns
    * the committed version.
    */
  @scala.annotation.tailrec
  private def publishManifest(spark: SparkSession, f: FileSystem,
      root: String, v: Long, entries: Map[String, String], attempts: Int, onFailure: String)(
      rebase: Map[String, String] => Map[String, String]): Long = {
    testHookBeforeCas()
    if (casManifest(f, root, v + 1, entries)) v + 1
    else if (attempts <= 1) throw new java.io.IOException(
      s"a concurrent writer committed version ${v + 1} at $root first; $onFailure")
    else {
      val (fresh, freshEntries) = latest(spark, root)
      publishManifest(spark, f, root, fresh, rebase(freshEntries), attempts - 1, onFailure)(rebase)
    }
  }

  /** Stage + publish in one call: the crash-safe replacement for a
    * multi-partition dir-swap merge. Returns the committed version, or
    * the unchanged latest one when `data` is empty (`stageNonEmpty`).
    */
  def commit(spark: SparkSession, root: String, data: DataFrame, partitionCol: String): Long =
    stageNonEmpty(spark, root, data, partitionCol)(publish(spark, root, _, partitionCol))

  /** The one empty-stage rule of [[commit]] and [[appendCommit]]: stage
    * `data`, then publish only when at least one partition landed — ONE
    * write job instead of the count-then-write pair an emptiness
    * pre-check costs (the count re-evaluates the whole input). An empty
    * staging (a bare dir with write metadata, no partition subdirs) is
    * deleted at once as debris and the latest version is returned
    * unchanged; no manifest is written.
    */
  private def stageNonEmpty(spark: SparkSession, root: String, data: DataFrame,
      partitionCol: String)(publishStaged: String => Long): Long = {
    val stagedDir = stage(spark, root, data, partitionCol)
    val f = fs(spark, root)
    if (listStaged(f, root, stagedDir, partitionCol).nonEmpty) publishStaged(stagedDir)
    else {
      f.delete(new Path(s"$root/$stagedDir"), true)
      latest(spark, root)._1
    }
  }

  /** Row-level delete — the takedown/right-to-erasure path: remove every
    * row where `predicate` is TRUE (NULL = keep, standard SQL DELETE
    * three-valued semantics) by rewriting ONLY the partitions that
    * contain matches, published atomically as one new version. Untouched
    * partitions keep their existing files (their manifest entries carry
    * over byte-identically — at 100 TB a takedown of one user's rows
    * rewrites a handful of partitions, not the table). A partition whose
    * every row matches is dropped from the manifest entirely. Returns
    * the number of rows deleted (0 = no-op, no version published).
    *
    * Time travel ([[readAt]]) still reaches the pre-delete versions
    * until [[vacuum]] — the deletion audit trail; run vacuum to make the
    * erasure physical.
    *
    * Single-writer, same as [[publish]]. `predicate` must be
    * DETERMINISTIC (checked): it is evaluated in two separate jobs —
    * the affected-partition discovery and the survivor rewrite — and a
    * nondeterministic predicate (rand(), wall-clock) would delete a
    * different row set than it counted. Manifest keys are matched via
    * the writer's own path escaping, so partition values that need
    * escaping (or alias each other's escaped form) are handled, not
    * assumed away; null partition values are rejected.
    */
  def deleteWhere(spark: SparkSession, root: String,
      partitionCol: String, predicate: Column): Long = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
    import org.apache.spark.sql.functions.{coalesce, col, count, lit, not}
    val f = fs(spark, root)
    val (v, old) = latest(spark, root)
    require(v > 0 && old.nonEmpty, s"no committed version at $root")
    val cur = read(spark, root)
    // deterministic-after-analysis: expr("rand() < 0.5") only resolves to
    // a Nondeterministic node once analyzed against the actual table
    val analyzedDet = cur.filter(predicate).queryExecution.analyzed.collectFirst {
      case flt: org.apache.spark.sql.catalyst.plans.logical.Filter => flt.condition.deterministic
    }.getOrElse(true)
    require(analyzedDet,
      "deleteWhere predicate must be deterministic — it is evaluated once to find " +
        "affected partitions and again to rewrite survivors; rand()/shuffle-order-" +
        "dependent predicates would delete a different set than they report")
    val hit = coalesce(predicate, lit(false)) // NULL predicate = keep the row
    // ONE action finds the affected partitions AND the per-partition
    // delete counts (driver-side result is bounded by |partitions|)
    val perPart = cur.filter(hit)
      .groupBy(col(partitionCol).cast("string").as("p"))
      .agg(count(lit(1)).as("n"))
      .collect()
    if (perPart.isEmpty) return 0L
    require(!perPart.exists(_.isNullAt(0)),
      s"deleteWhere matched rows with a NULL $partitionCol — null partition values " +
        "are not supported by the manifest log")
    // raw values filter ROWS; writer-escaped values address MANIFEST
    // KEYS (a raw value may alias a DIFFERENT value's escaped dir name —
    // comparing raw strings to keys would drop the wrong partition)
    val affectedRaw = perPart.map(_.getString(0)).toSet
    val affectedKeys = affectedRaw.map(escapePathName)
    val deleted = perPart.map(_.getLong(1)).sum
    val unknown = (affectedKeys -- old.keySet).toSeq.sorted
    require(unknown.isEmpty,
      s"escaped partition values [${unknown.mkString(", ")}] are not manifest keys — " +
        s"the table was not written through TxTable.stage, or $partitionCol does not " +
        "round-trip CAST AS STRING")
    val survivors = cur
      .filter(col(partitionCol).cast("string").isin(affectedRaw.toSeq: _*))
      .filter(not(hit))
    // fully-deleted partitions simply never appear in the staged dir
    val stagedDir = stage(spark, root, survivors, partitionCol)
    val entries = (old -- affectedKeys) ++ listStaged(f, root, stagedDir, partitionCol)
    require(entries.nonEmpty,
      s"deleteWhere would remove every row of $root — refusing (an empty table has no " +
        s"manifest representation); drop the table root explicitly instead")
    publishManifest(spark, f, root, v, entries, 1,
      s"deleteWhere is single-writer by contract; staged survivors remain at $root/$stagedDir")(
      identity)
    deleted
  }

  /** Atomic create-if-absent of manifest `next`. POSIX rename(2)
    * OVERWRITES an existing destination, so a check-then-rename on the
    * local FS would let two racers both pass the check and the second
    * silently clobber the first's manifest — a lost commit. Hard LINK
    * creation is the atomic create-if-absent POSIX does offer (link(2)
    * fails EEXIST); HDFS
    * rename already refuses an existing destination atomically in the
    * namenode. Returns whether THIS writer won version `next`.
    */
  private def casManifest(f: FileSystem, root: String, next: Long,
      entries: Map[String, String]): Boolean = {
    val ld = new Path(logDir(root))
    if (!f.exists(ld) && !f.mkdirs(ld))
      throw new java.io.IOException(s"cannot create $ld")
    val dest = new Path(ld, manifestName(next))
    // A concurrent [[vacuum]] may sweep our tmp between create and link
    // (its mtime grace makes that vanishingly rare but not impossible on
    // a clock-skewed FS) — that is NOT a lost CAS, just a lost tmp, so
    // recreate and re-attempt; only dest-exists decides who won.
    var attempt = 0
    while (true) {
      attempt += 1
      val tmp = new Path(ld,
        manifestName(next) + s".${java.util.UUID.randomUUID().toString.take(8)}.tmp")
      val out = f.create(tmp, true)
      try out.write(
        entries.toSeq.sorted.map { case (k, dir) => s"$k\t$dir" }.mkString("\n").getBytes("UTF-8"))
      finally out.close()
      try {
        val won =
          if (f.getUri.getScheme == "file") {
            try {
              java.nio.file.Files.createLink(
                java.nio.file.Paths.get(dest.toUri.getPath),
                java.nio.file.Paths.get(tmp.toUri.getPath))
              true
            } catch { case _: java.nio.file.FileAlreadyExistsException => false }
          } else {
            val renamed = f.rename(tmp, dest)
            // Hadoop rename() reports BOTH "dest already exists" (a
            // genuinely lost CAS) and "tmp vanished" (a vacuum-swept
            // tmp) as plain `false`. Only dest-exists decides who won:
            // if dest is absent the CAS is still open — surface it as
            // the same lost-tmp retry the hardlink path takes, instead
            // of a spurious concurrent-writer verdict.
            if (!renamed && !f.exists(dest))
              throw new java.nio.file.NoSuchFileException(tmp.toString)
            renamed
          }
        f.delete(tmp, false) // committed via link, or lost the CAS — either way drop tmp
        return won
      } catch {
        case e: java.nio.file.NoSuchFileException =>
          if (attempt >= 3) throw new java.io.IOException(
            s"manifest tmp vanished $attempt times publishing version $next " +
              "(is a vacuum running in a tight loop?)", e)
      }
    }
    false // unreachable
  }

  /** BLIND APPEND: add `stagedDir`'s partitions to the table WITHOUT
    * rewriting anything — each touched partition's manifest entry grows
    * by one dir; its existing dirs (and every untouched partition) carry
    * over verbatim. Appends COMMUTE, so there is no write-write
    * conflict under any concurrency: concurrent appenders race only on
    * the manifest CAS and the loser simply remerges on top of the
    * winner (the Delta "blind appends never conflict" rule). The scale
    * rationale: an incremental ingest at 100 TB must cost O(increment),
    * never O(partition) — rewrite-commit ([[commit]]) rewrites every
    * touched partition, append-commit writes only the new rows.
    *
    * Tradeoff: each append adds one dir (and its files) to the
    * partition's scan list — run [[compactLeveled]] when accumulated
    * appends fragment reads, like Delta OPTIMIZE.
    *
    * Returns the committed version.
    */
  def appendPublish(spark: SparkSession, root: String, stagedDir: String,
      partitionCol: String): Long = {
    val attempts = 10
    val f = fs(spark, root)
    val changed = listStaged(f, root, stagedDir, partitionCol)
    require(changed.nonEmpty, s"staged dir $stagedDir has no $partitionCol= partitions")
    def grow(cur: Map[String, String]) = cur ++ changed.map { case (k, dir) =>
      k -> cur.get(k).fold(dir)(_ + "\t" + dir)
    }
    val (v, cur) = latest(spark, root)
    publishManifest(spark, f, root, v, grow(cur), attempts,
      s"append lost all $attempts attempts — the log is too contended; " +
        s"staged data remains at $root/$stagedDir")(grow)
  }

  /** Stage + blind-append in one call: the O(increment) ingest commit.
    * Same empty-stage rule as [[commit]]: an empty `data` publishes
    * nothing and returns the unchanged latest version. */
  def appendCommit(spark: SparkSession, root: String, data: DataFrame,
      partitionCol: String): Long =
    stageNonEmpty(spark, root, data, partitionCol)(appendPublish(spark, root, _, partitionCol))

  /** Incremental read: the rows ADDED between `sinceVersion` (exclusive)
    * and `toVersion` (inclusive) — the cheap "new data since version V"
    * poll an incremental consumer (a training job tailing a shard
    * table) runs instead of re-scanning the table. Cost is O(increment):
    * only the data dirs that appeared in the manifest AFTER
    * `sinceVersion` are scanned; the manifests themselves are two small
    * log files.
    *
    * Valid ONLY across blind-append commits ([[appendCommit]] /
    * [[appendPublish]]), whose manifest entries GROW — every old
    * partition keeps its dirs and new dirs join the tail. A rewriting
    * commit in the window ([[commit]], [[deleteWhere]],
    * [[compactLeveled]]) re-homes EXISTING rows into fresh dirs, where a
    * dir-level diff would double-count them as new — detected (an old
    * entry whose dir list is not a prefix of the new one, or a dropped
    * partition) and REFUSED loudly: the consumer must re-baseline from a
    * full snapshot at `toVersion` rather than receive silently duplicated
    * or phantom rows. `sinceVersion = 0` returns the full snapshot (every
    * dir is new to a consumer that has seen nothing).
    *
    * Both manifests must still exist ([[vacuum]] bounds the horizon —
    * same contract as [[readAt]]). Returns None when the window adds no
    * dirs (toVersion may still be > sinceVersion: a manifest can be
    * published with no new data dirs, e.g. a lost-CAS retry artifact).
    */
  def readSince(spark: SparkSession, root: String,
      sinceVersion: Long, toVersion: Long): Option[DataFrame] = {
    require(sinceVersion <= toVersion,
      s"readSince window is inverted: since=$sinceVersion > to=$toVersion")
    if (sinceVersion == toVersion) return None
    val f = fs(spark, root)
    val newEntries = manifestAt(f, root, toVersion)
    val oldEntries: Map[String, String] =
      if (sinceVersion == 0L) Map.empty
      else manifestAt(f, root, sinceVersion, " — re-baseline from a full snapshot")
    val added = newEntries.toSeq.flatMap { case (k, entry) =>
      val newDirs = dirsOf(entry)
      val oldDirs = oldEntries.get(k).map(dirsOf).getOrElse(Seq.empty)
      require(newDirs.take(oldDirs.size) == oldDirs,
        s"partition '$k' was REWRITTEN between versions $sinceVersion and " +
          s"$toVersion (dirs ${oldDirs.mkString(",")} -> ${newDirs.mkString(",")}) " +
          "— a dir-level delta would double-count its rows; re-baseline from " +
          s"readAt($toVersion)")
      newDirs.drop(oldDirs.size)
    }
    val dropped = (oldEntries.keySet -- newEntries.keySet).toSeq.sorted
    require(dropped.isEmpty,
      s"partitions [${dropped.mkString(", ")}] were DELETED between versions " +
        s"$sinceVersion and $toVersion — the append-only delta contract is " +
        s"broken; re-baseline from readAt($toVersion)")
    if (added.isEmpty) None
    else Some(readManifest(spark, root, added))
  }

  /** The first-version guard of [[stage]]: fail, naming the migration,
    * when `root` holds flat parquet files or flat partition dirs. */
  private def requireNotFlatTable(spark: SparkSession, root: String, partitionCol: String): Unit = {
    val f = fs(spark, root)
    val rp = new Path(root)
    if (f.exists(rp) &&
        f.listStatus(rp).map(_.getPath.getName).exists(n =>
          n.startsWith("part-") || n == "_SUCCESS" || n.startsWith(partitionCol + "=")))
      throw new IllegalStateException(
        s"$root holds a flat parquet table (pre-TxTable format); migrate it first " +
          s"(e.g. TxTable.commit(spark, root + \".tx\", spark.read.parquet(root), \"$partitionCol\")) " +
          "or point the writer at a fresh root")
  }

  /** Run level of a version dir: append-staged dirs (`v<N>-<nonce>`)
    * are level-0 runs; [[compactLeveled]] merges write `-l<k>`-suffixed
    * dirs, so the leveling policy is derivable from the manifest alone
    * (no sidecar state to desync). */
  private def runLevel(vdir: String): Int =
    "-l(\\d+)$".r.findFirstMatchIn(vdir).map(_.group(1).toInt).getOrElse(0)

  /** LEVELED (size-tiered) compaction — O(period) routine maintenance
    * for an append-only table, replacing the O(corpus) full-table
    * rewrite earlier rounds ran in the maintenance cadence (the r13
    * verdict's one named scale-killer: at 100 TB a maintenance pass
    * that re-reads and re-writes the whole corpus is not runnable;
    * SCALE.md §16d).
    *
    * Model: every dir in a manifest entry is a RUN; append dirs are
    * level-0 runs. One call merges ALL current level-0 runs (once there
    * are at least two) into ONE level-1 run — z-clustered (range-
    * partitioned on (partitionCol, z(zorderCols)) at 16 bits per column,
    * sorted within tasks, so each run's parquet min/max footers stay
    * tight and the id-range probes
    * an incremental writer runs keep pruning by statistics) — then,
    * while any level holds >= `fanout` runs, promotes that level into
    * one run of the next. Cost per call is O(bytes merged): routine
    * firings touch only the appends landed since the last call; a
    * level-k promotion touches ~fanout^k periods but fires fanout^k×
    * more rarely — amortized O(N·log N) lifetime I/O, with the
    * full-corpus rewrite surviving only as the RARE top-level merge
    * (for id-ordered ingest the runs are id-disjoint, so even that
    * merge is optional: reads stay pruned without it).
    *
    * Crash-safety per merge step is every commit's: stage invisibly,
    * publish ONE manifest CAS; a crash leaves the previous version
    * live. Content is bit-identical (pure layout); [[readSince]]
    * across a firing REFUSES like any rewrite — pollers re-baseline.
    * Untouched runs keep their manifest entries verbatim, in order
    * (higher-level runs are strictly older than lower, so entries stay
    * chronological). Run [[vacuum]] afterwards to reclaim merged dirs.
    *
    * Returns the number of merge steps performed (0 = fewer than two
    * level-0 runs and nothing promotable — call again
    * after more appends).
    *
    * `minMergeLevel`/`maxMergeLevel` bound WHICH levels may merge —
    * the split a bounded-latency maintenance cadence needs (r15):
    * a stream's trigger path runs `maxMergeLevel = 0` (only the
    * routine level-0 merge, cost O(appends since the last firing) by
    * construction), while the level promotions — whose cost is
    * ~fanout^k periods and whose measured wall blocked triggers for
    * 40–58 s when run inline — move to an out-of-band owner running
    * `minMergeLevel = 1`.
    *
    * CONCURRENCY (r15): the merge publish REBASES over concurrent
    * blind appends instead of failing — leveled maintenance is pure
    * layout, so it composes with appenders the way appends compose
    * with each other. On a lost manifest CAS the publisher re-reads
    * the log; appends only ADD dirs, so as long as every merged run
    * is still live verbatim, the fresh entries are recomputed around
    * the staged run and the CAS retried at the next version. A merged
    * run that VANISHED means a concurrent rewrite (another compactor,
    * a deleteWhere, a vacuum sweep) owned it — that is a real
    * single-owner violation and still fails loudly. Do not run TWO
    * compactors over the same LEVELS; appenders are free.
    */
  def compactLeveled(spark: SparkSession, root: String, partitionCol: String,
      zorderCols: Seq[String], fanout: Int = 8,
      minMergeLevel: Int = 0, maxMergeLevel: Int = Int.MaxValue): Int = {
    import org.apache.spark.sql.functions.col
    require(fanout >= 2, s"fanout must be >= 2, got $fanout")
    require(minMergeLevel <= maxMergeLevel,
      s"minMergeLevel=$minMergeLevel > maxMergeLevel=$maxMergeLevel")
    val f = fs(spark, root)
    var steps = 0
    var continue = true
    while (continue) {
      val (v, entries) = latest(spark, root)
      if (v == 0) return steps
      val byLevel = versionDirs(entries).groupBy(runLevel)
      // lowest level first: merge l0 whenever >= 2 runs (the
      // routine firing), promote level k>=1 only at fanout — within
      // the caller's [minMergeLevel, maxMergeLevel] window
      val mergeable = byLevel.collect {
        case (0, ds) if minMergeLevel <= 0 && 0 <= maxMergeLevel &&
          ds.size >= 2 => (0, ds)
        case (k, ds) if k >= 1 && k >= minMergeLevel && k <= maxMergeLevel &&
          ds.size >= fanout => (k, ds)
      }.toSeq.sortBy(_._1)
      mergeable.headOption match {
        case None => continue = false
        case Some((lv, toMerge)) =>
          // read ONLY the merged runs' dirs (the O(period) claim)
          val data = readManifest(spark, root,
            liveDirs(entries).filter(d => toMerge(runOf(d))))
          // file count scales with the MERGED bytes (driver-side fs
          // sizing, no job): a routine level-0 firing keeps the small
          // default, while a top-level promotion that merges most of
          // the corpus fans out to ~512 MiB output files instead of
          // serializing the whole merge through 16 range
          // partitions (unbounded file sizes + a 16-way sort of the
          // corpus at the 100 TB framing)
          val mergedBytes = dirBytes(f, root, toMerge)
          val targetFileBytes = 512L * 1024 * 1024
          val nf = math.min(4096L,
            math.max(16L, mergedBytes / targetFileBytes + 1)).toInt
          val zkey = TableLayout.zValue(
            zorderCols.map(col), TableLayout.columnBounds(data, zorderCols), 16)
          val kc = graft.ops.SkewOps.freshName(data, "_z")
          val clustered = data.withColumn(kc, zkey)
            .repartitionByRange(nf, col(partitionCol), col(kc))
            .sortWithinPartitions(partitionCol, kc)
            .drop(kc)
          val dir = writeRun(root, clustered, partitionCol, v + 1, s"-l${lv + 1}")
          val staged = listStaged(f, root, dir, partitionCol)
          require(staged.nonEmpty,
            s"leveled merge of ${toMerge.size} level-$lv runs staged no partitions " +
              s"at $root/$dir — merged runs cannot be empty")
          // rebase-over-appends publish (see Scaladoc): recompute the
          // entries around the ALREADY-STAGED run on each lost CAS —
          // the expensive merge is never re-done, only the cheap
          // manifest math. The `vN` prefix in the staged dir's name can
          // go stale across a rebase; only a mixed-schema read orders by it.
          def around(cur: Map[String, String]) = (cur.keySet ++ staged.keySet).flatMap { k =>
            val kept = cur.get(k).fold(Seq.empty[String])(dirsOf(_).filterNot(d => toMerge(runOf(d))))
            val ds = kept ++ staged.get(k)
            if (ds.isEmpty) None else Some(k -> ds.mkString("\t"))
          }.toMap
          val attempts = 20
          publishManifest(spark, f, root, v, around(entries), attempts,
            s"leveled merge lost all $attempts attempts — the log is too contended; " +
              s"staged run remains at $root/$dir") { fresh =>
            val missing = toMerge -- versionDirs(fresh)
            if (missing.nonEmpty) throw new java.io.IOException(
              s"leveled merge lost its source runs [${missing.mkString(", ")}] to a " +
                s"concurrent rewrite at $root — two compactors (or a compactor and a " +
                s"deleteWhere/vacuum) ran over the same runs; staged run remains at $root/$dir")
            around(fresh)
          }
          steps += 1
      }
    }
    steps
  }

  /** Total bytes of the live version dirs at the latest committed
    * version — a driver-side fs walk (no Spark job), the cheap size
    * signal a probe-regime gate reads ([[DedupIndex]]'s scan-vs-prune
    * decision). Dir-granular: a version dir that is only PARTIALLY
    * live (some partitions superseded by a later rewrite) counts in
    * full, so this is an upper bound — exactly the safe direction for
    * a "is the table big enough to bother pruning" gate. 0 when
    * nothing is committed. */
  def liveBytes(spark: SparkSession, root: String): Long =
    dirBytes(fs(spark, root), root, versionDirs(latest(spark, root)._2))

  /** Summed bytes of the version dirs `dirs` (a vanished dir counts 0):
    * a driver-side fs walk, no Spark job. */
  private def dirBytes(f: FileSystem, root: String, dirs: Set[String]): Long =
    dirs.toSeq.map { d =>
      try f.getContentSummary(new Path(s"$root/$d")).getLength
      catch { case _: java.io.FileNotFoundException => 0L }
    }.sum

  /** UNCOMPACTED (level-0) append runs per live partition — the
    * trigger a LEVELED maintenance cadence compares its threshold
    * against. A count of ALL runs would have a structural floor of
    * roughly one run per accumulated level (up to fanout−1 per level),
    * so a threshold compared against it would fire on every commit once
    * two levels exist — while this metric returns to ZERO after each
    * firing and the threshold keeps meaning "this many appends since the
    * last compaction". 0 when the table has no committed version. */
  def level0Fragmentation(spark: SparkSession, root: String): Double = {
    val (v, entries) = latest(spark, root)
    if (v == 0 || entries.isEmpty) 0.0
    else entries.values
      .map(dirsOf(_).count(d => runLevel(runOf(d)) == 0))
      .sum.toDouble / entries.size
  }

  /** Default reader-retention horizon for [[vacuum]]: a reader that
    * pinned a manifest is guaranteed its files for this long AFTER the
    * manifest is superseded. 10 minutes covers any sane scan at this
    * table's scale; a deployment with long-running readers raises it
    * (the Delta-style knob — its default there is 7 days). */
  val DefaultVacuumRetainMs: Long = 10L * 60L * 1000L

  /** Drop version dirs no longer referenced by the latest manifest (and
    * superseded manifests). Safe to run concurrently with a writer: an
    * unreferenced dir at least as new as the latest manifest may be an
    * IN-FLIGHT [[stage]] (its manifest doesn't exist yet), so only dirs
    * strictly older than the current manifest — provably abandoned or
    * superseded — are deleted. Crash debris therefore survives one
    * vacuum and is collected after the next successful commit.
    *
    * READER RETENTION CONTRACT (r8): a reader pins a version by taking
    * the latest manifest at scan start ([[latest]]/[[readAt]]); its
    * files must outlive the scan even if a writer commits and vacuums
    * meanwhile. A superseded manifest vi is therefore only collected —
    * with the version dirs ONLY it references — once it has been stale
    * for at least `retainMs`, where "stale since" is the commit time
    * (mtime) of the manifest that superseded it (v_{i+1}). Within the
    * horizon, vi's referenced dirs AND vi's manifest file both survive,
    * so an in-flight reader of vi (and a [[readAt]] time-travel to vi)
    * stays consistent. The contract is: readers complete within
    * `retainMs` of being superseded, or re-pin and retry on
    * FileNotFound — the same contract Delta's vacuum retention defines.
    * `retainMs = 0` restores eager collection (tests, offline rebuilds).
    */
  def vacuum(spark: SparkSession, root: String,
      retainMs: Long = DefaultVacuumRetainMs): Unit = {
    val f = fs(spark, root)
    val vs = versions(f, root)
    if (vs.isEmpty) return
    val v = vs.last
    def mtime(vi: Long) = f.getFileStatus(manifestPath(root, vi)).getModificationTime
    val manifestMtime = mtime(v)
    val now = System.currentTimeMillis()
    // superseded manifests still inside the retention horizon: vi is
    // stale since mtime(manifest v_{i+1}); protect vi (and its dirs)
    // until now - staleSince >= retainMs
    val retained = vs.zip(vs.drop(1)).collect {
      case (vi, vnext) if now - mtime(vnext) < retainMs => vi
    }
    val live = (v +: retained).toSet[Long]
      .flatMap(vi => versionDirs(parseManifest(f, manifestPath(root, vi))))
    f.listStatus(new Path(root)).foreach { st =>
      val p = st.getPath
      if (p.getName.startsWith("v") && !live.contains(p.getName) && p.getName != "_txlog" &&
          st.getModificationTime < manifestMtime)
        f.delete(p, true)
    }
    val retainedSet = retained.toSet
    f.listStatus(new Path(logDir(root))).foreach { st =>
      val p = st.getPath
      val n = p.getName
      // both tmp shapes: legacy "N.manifest.tmp" and casManifest's
      // nonce'd "N.manifest.<nonce>.tmp". Same modification-time grace
      // as data dirs: a tmp at least as new as the latest manifest may
      // be a concurrent casManifest between create and link — deleting
      // it would abort that writer's allowed commit. Older tmps are
      // provably crash debris (their publish either won long ago or died).
      if (n.endsWith(".tmp") && n.contains(".manifest")) {
        if (st.getModificationTime < manifestMtime) f.delete(p, false)
      } else if (n.endsWith(".manifest") &&
          n.stripSuffix(".manifest").toLong < v &&
          !retainedSet.contains(n.stripSuffix(".manifest").toLong))
        f.delete(p, false)
    }
  }
}
