package graft.pipeline

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal

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
  *
  * Commit info (the log's counterpart of Structured Streaming's offset
  * and commit logs). Every [[read]], [[readAt]] and [[committed]] frame
  * is tagged with the (root, version) it reads ([[sourcesOf]]). [[stage]]
  * writes what the staged frame read into a `_txinfo` file of its staged
  * dir, which the scan listing and `listStaged` skip like every other
  * `_` file; a frame that reads no tagged table and carries no stamp
  * writes no file. The
  * publish copies that info into the manifest as `#` lines ahead of the
  * entries (a partition dir name escapes `#`, so no key starts with one):
  *   - `#read <version> <root>`: one line per table the staged frame read
  *     at one version. [[publish]] and [[appendPublish]] write them; a
  *     rebased append keeps them.
  *   - `#watermark <micros>`: the table's `max(processed_at)` after the
  *     commit. Written only when the frame carries one [[AuditStamp]]
  *     (`Incremental.silverIncrement`'s processed_at) that dominates the
  *     very version the publish builds on, and the frame reads this table
  *     at that version only (or, for a new table, not at all). A rebased
  *     append drops it.
  *   - `#maxkey <n>`: the table's largest merge key after the commit.
  *     Written only for a frame whose builder vouched for it ([[vouch]];
  *     `Incremental.silverMerge` does, with the largest `raw_id`), on the
  *     same reads rule as the watermark; a rebased append drops it.
  * [[deleteWhere]] and [[compactLeveled]] write no `#` line, so their
  * manifests, like every manifest with no info, have the bytes they had
  * before `#` lines existed. A
  * manifest without `#` lines (every manifest written before this
  * format) parses as before, with empty info ([[commitInfo]]); unknown
  * `#` lines are skipped, so a reader that knows only `#read` and
  * `#watermark` reads a manifest with `#maxkey`. The change is one-way:
  * a `#` line holds no tab (fields are space-separated, the root last; a
  * root with a control character is never recorded), so a reader that
  * predates `#` lines fails on such a manifest with "malformed manifest
  * line".
  *
  * Extensions (the commit of an increment that only adds rows). A frame
  * whose builder vouched that it is a whole read's rows of some
  * partitions plus added rows ([[Extension]]; `Incremental.silverMerge`
  * does when every fresh key is above the table's largest) and that
  * [[stage]] stages on the version that read is at, is written as the
  * added rows only, and `_txinfo` records which keys extend that version
  * (`#extends <version> <key>`); the publish grows those keys' entries by
  * the staged dir, as [[appendPublish]] does, and fails loudly onto any
  * other version. A key whose entry holds [[MaxRuns]] (8) dirs, or
  * whose turn it is (one version in 8, picked by a hash of the key;
  * [[restages]]), is restaged from the read's rows instead, so no read
  * opens more than 8 dirs of one partition and partitions that grow
  * together restage on different commits.
  * A frame vouched to cover partitions ([[vouch]]; `goldAffectedDays`
  * covers its affected days) records them as `#covers <key>`; a rewriting
  * publish drops a covered partition the frame has no row for. Neither
  * line reaches the manifest.
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
    val (v, m) = latestManifest(fs(spark, root), root)
    (v, m.entries)
  }

  /** One manifest: its entries and the `#` lines (see the header). */
  private final case class Manifest(entries: Map[String, String], info: CommitInfo)

  private val NoManifest = Manifest(Map.empty, CommitInfo.empty)

  /** The latest version and its manifest; one listing of the log. */
  private def latestManifest(f: FileSystem, root: String): (Long, Manifest) =
    versions(f, root).lastOption
      .fold((0L, NoManifest))(v => (v, parseManifest(f, manifestPath(root, v))))

  /** The entries of committed version `v`, or an IllegalArgumentException
    * (ending in `hint`) when it was never committed or is vacuumed. */
  private def manifestAt(f: FileSystem, root: String, v: Long,
      hint: String = ""): Map[String, String] = {
    val m = manifestIfCommitted(f, root, v)
    require(m.isDefined, s"version $v does not exist at $root (committed or already vacuumed)$hint")
    m.get.entries
  }

  /** The manifest of version `v`; None when it was never committed or is
    * vacuumed. */
  private def manifestIfCommitted(f: FileSystem, root: String, v: Long): Option[Manifest] = {
    val m = manifestPath(root, v)
    if (v > 0 && f.exists(m)) Some(parseManifest(f, m)) else None
  }

  private def readText(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  private def parseManifest(f: FileSystem, p: Path): Manifest = {
    val (info, lines) = readText(f, p).split("\n").toSeq.filter(_.nonEmpty).partition(_.startsWith("#"))
    val entries = lines.iterator.map { line =>
      line.split("\t", 2) match {
        case Array(k, dir) => k -> dir
        case _ => throw new java.io.IOException(s"malformed manifest line in $p: '$line'")
      }
    }.toMap
    if (entries.isEmpty)
      throw new java.io.IOException(s"manifest $p is empty or truncated")
    Manifest(entries, CommitInfo(readsOf(info, p), infoField(info, "#watermark").map(_.toLong),
      infoField(info, "#maxkey").map(_.toLong)))
  }

  /** The `#read` lines of a manifest or a staged `_txinfo` file. */
  private def readsOf(info: Seq[String], p: Path): Map[String, Long] =
    info.filter(_.startsWith("#read ")).map { l =>
      l.split(" ", 3) match {
        case Array(_, v, root) => root -> v.toLong
        case _ => throw new java.io.IOException(s"malformed info line in $p: '$l'")
      }
    }.toMap

  /** The value of the one `tag` line, if any; unknown `#` lines are
    * skipped. */
  private def infoField(info: Seq[String], tag: String): Option[String] =
    info.find(_.startsWith(tag + " ")).map(_.stripPrefix(tag + " "))

  private def infoLines(reads: Map[String, Long]): Seq[String] =
    reads.toSeq.sortBy(_._1).map { case (root, v) => s"#read $v $root" }

  /** What the log records about committed version `version` of `root`
    * (the `#` lines, see the header); None when the version was never
    * committed or is vacuumed. */
  def commitInfo(spark: SparkSession, root: String, version: Long): Option[CommitInfo] =
    manifestIfCommitted(fs(spark, root), root, version).map(_.info)

  /** Partition keys whose dir list differs between two manifests' entries
    * (changed, new or gone): the days a later version restaged. */
  def changedKeys(before: Map[String, String], after: Map[String, String]): Set[String] =
    (before.keySet ++ after.keySet).filter(k => before.get(k) != after.get(k))

  /** The dirs entry `after` adds to entry `before` when its dir list
    * starts with `before`'s (appends and extensions only ever grow an
    * entry); None when the partition was restaged. */
  def grownBy(before: String, after: String): Option[Seq[String]] = {
    val (b, a) = (dirsOf(before), dirsOf(after))
    if (a.startsWith(b)) Some(a.drop(b.size)) else None
  }

  /** [[changedKeys]] between committed versions `from` and `to` of
    * `root`; None when either is not (or no longer) in the log. */
  private[pipeline] def changedKeys(spark: SparkSession, root: String,
      from: Long, to: Long): Option[Set[String]] = {
    val f = fs(spark, root)
    for {
      before <- manifestIfCommitted(f, root, from)
      after <- manifestIfCommitted(f, root, to)
    } yield changedKeys(before.entries, after.entries)
  }

  /** Relation options that tag a [[read]] relation with its (root,
    * version). Options never reach plan text, and a reader ignores keys
    * it does not know. */
  private val RootTag = "graft.txtable.root"
  private val VersionTag = "graft.txtable.version"

  /** Whole-version reads by their logical plan, for [[snapshotOf]]. Plans
    * hold fresh expression ids, so a plan equal to a registered one is
    * that read (or a frame sharing its query execution). Weak keys: an
    * entry lives as long as its frame. */
  private val snapshots = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, (String, Long)]())

  private def qualified(f: FileSystem, root: String): String = f.makeQualified(new Path(root)).toString

  /** The (qualified root -> versions) of every tagged TxTable relation
    * `df` reads, subqueries included. */
  private def versionsRead(df: DataFrame): Map[String, Set[Long]] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    df.queryExecution.analyzed.collectWithSubqueries {
      case l: LogicalRelation => l.relation
    }.collect {
      case h: HadoopFsRelation if h.options.contains(RootTag) =>
        h.options(RootTag) -> h.options(VersionTag).toLong
    }.groupMap(_._1)(_._2).map { case (root, vs) => root -> vs.toSet }
  }

  /** The TxTable versions `df` reads: one version per qualified root. A
    * root read at two versions is left out (no provenance), as are the
    * partial frames of `readEntries` and [[readSince]]. */
  def sourcesOf(df: DataFrame): Map[String, Long] =
    versionsRead(df).collect { case (root, vs) if vs.size == 1 => root -> vs.head }

  /** (qualified root, version) when `df` is a whole [[read]], [[readAt]]
    * or [[committed]] frame of one version, unfiltered and unprojected;
    * None for any other frame. */
  private[pipeline] def snapshotOf(df: DataFrame): Option[(String, Long)] =
    Option(snapshots.get(df.queryExecution.logical))

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
  def committed(spark: SparkSession, root: String): Option[DataFrame] = {
    val (v, entries) = latest(spark, root)
    if (v == 0) None else Some(snapshot(spark, root, v, entries))
  }

  /** The whole table at version `v`, tagged and registered as a snapshot. */
  private def snapshot(spark: SparkSession, root: String, v: Long,
      entries: Map[String, String]): DataFrame = {
    val tag = (qualified(fs(spark, root), root), v)
    val df = readManifest(spark, root, liveDirs(entries), Some(tag))
    snapshots.put(df.queryExecution.logical, tag)
    df
  }

  /** An increment that only adds rows to a table: the frame vouched for
    * is the `target` rows of partitions `parts` ∪ `added`, where `target`
    * is a whole read of the table at one version ([[snapshotOf]]) and
    * `added` holds rows of those partitions only. */
  private[pipeline] final case class Extension(target: DataFrame, parts: Seq[Any], added: DataFrame)

  /** What the builder of a frame vouches for beyond its rows ([[vouch]]):
    * the partitions the frame covers, for a frame that reads this table
    * at one version the table's largest merge key once the frame is
    * committed onto that version, and whether the frame is an
    * [[Extension]]. */
  private final case class Vouched(covers: Seq[Any], maxKey: Option[Long], extension: Option[Extension])

  /** Vouched frames by their logical plan, looked up by [[stage]] the way
    * [[snapshotOf]] looks up a whole read. */
  private val vouched = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Vouched]())

  /** Register `df` with what its builder knows and the rows cannot show:
    *   - `covers`: partition values whose full new content `df` is, even
    *     where it has no row. A rewriting commit of exactly this frame
    *     drops a covered partition that it stages no row for (a gold day
    *     whose recompute yields nothing);
    *   - `maxKey`: the largest merge key of the table once `df` is
    *     committed onto the one version of it that `df` reads (or, for a
    *     frame reading no version of it, onto a new table). The publish
    *     records it as `#maxkey`, like the watermark;
    *   - `extension`: `df` is that [[Extension]]. [[stage]] on the version
    *     its target reads writes only the added rows and the publish
    *     grows the parts' entries.
    * Returns `df`. A frame derived from it is not vouched for.
    */
  private[pipeline] def vouch(df: DataFrame, covers: Seq[Any] = Nil,
      maxKey: Option[Long] = None, extension: Option[Extension] = None): DataFrame = {
    vouched.put(df.queryExecution.logical, Vouched(covers, maxKey, extension))
    df
  }

  /** The rows of `entries`, a subset of one committed manifest of `root`
    * (as [[latest]] returns it), built like [[read]] but listing and
    * opening only those entries' dirs; None when `entries` is empty.
    * Partial, so untagged.
    */
  private[pipeline] def readEntries(spark: SparkSession, root: String,
      entries: Map[String, String]): Option[DataFrame] =
    if (entries.isEmpty) None else Some(readManifest(spark, root, liveDirs(entries), None))

  private def liveDirs(entries: Map[String, String]): Seq[String] =
    entries.values.toSeq.flatMap(dirsOf)

  /** Time travel: read the table AS OF a past committed version — free,
    * because manifests are immutable and version dirs are append-only
    * until [[vacuum]] (which therefore bounds the travel horizon; run it
    * only past your audit window).
    */
  def readAt(spark: SparkSession, root: String, version: Long): DataFrame =
    snapshot(spark, root, version, manifestAt(fs(spark, root), root, version))

  /** One relation per distinct schema over `dirs` (partition dirs
    * relative to root), built from the manifest alone: partition values
    * come from the dir names, each version dir's schema from one footer
    * (all files of one staged write share it), and the dirs are listed on
    * the driver — no Spark job. Schema evolution: a commit may ADD
    * columns; partitions in older version dirs read them as null, and a
    * dropped column survives as null on the new partitions until every
    * partition is rewritten. The NEWEST version dir's relation comes
    * first, so its schema wins the union's column order. A whole-version
    * read passes its (root, version) `tag` into every relation's options.
    */
  private def readManifest(spark: SparkSession, root: String, dirs: Seq[String],
      tag: Option[(String, Long)]): DataFrame = {
    import org.apache.spark.sql.execution.datasources.{ManifestScanBridge => Scan}
    val f = fs(spark, root)
    val leaves = dirs.map(d => f.makeQualified(new Path(s"$root/$d")))
    val listing = leaves.map(d => d -> Scan.dataFiles(f, d)).toMap
    val spec = Scan.partitionSpec(spark, leaves)
    val schemaOf = leaves.groupBy(_.getParent).map { case (vdir, ds) =>
      vdir -> Scan.footerSchema(spark, ds.iterator.flatMap(listing(_)).nextOption()
        .getOrElse(throw new java.io.IOException(s"no data files under live dirs of $vdir")))
    }
    val options = tag.fold(Map.empty[String, String]) { case (r, v) =>
      Map(RootTag -> r, VersionTag -> v.toString)
    }
    val dfs = leaves.groupBy(d => schemaOf(d.getParent)).toSeq
      .sortBy { case (_, ds) => -ds.map(_.getParent.getName.drop(1).takeWhile(_.isDigit).toLong).max }
      .map { case (schema, ds) =>
        val in = ds.toSet
        Scan.parquet(spark, schema, spec.copy(partitions = spec.partitions.filter(p => in(p.path))),
          listing, options)
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
    * them. Every writer that can create a table stages through here, so
    * every such writer gets the guard.
    *
    * A frame vouched to be an [[Extension]] of the version it stages on
    * is staged as one ([[extensionOf]]): only its added rows are
    * written, and the publish adds their dir to the entries of its
    * partitions instead of restaging them.
    *
    * When `data` reads a TxTable version, carries an [[AuditStamp]], is
    * an extension or is vouched for ([[vouch]]), the staged dir also gets
    * an `_txinfo` file for the publish (see the header).
    */
  def stage(spark: SparkSession, root: String, data: DataFrame, partitionCol: String): String =
    stageOn(spark, fs(spark, root), root, data, partitionCol)._1

  /** [[stage]], also returning the version it staged on and that
    * version's manifest (one listing of the log, one parse; an empty
    * manifest for a new table) and the info it wrote to the staged dir's
    * [[InfoFile]]. */
  private def stageOn(spark: SparkSession, f: FileSystem, root: String, data: DataFrame,
      partitionCol: String): (String, Long, Manifest, StagedInfo) = {
    val base = versions(f, root).lastOption.getOrElse(0L)
    if (base == 0) requireNotFlatTable(spark, root, partitionCol)
    val m = manifestIfCommitted(f, root, base)
    val q = qualified(f, root)
    val vouch = Option(vouched.get(data.queryExecution.logical))
    val ext = for {
      e <- vouch.flatMap(_.extension) if snapshotOf(e.target).contains((q, base))
      cur <- m
      x <- extensionOf(base, cur, e, data, partitionCol)
    } yield x
    val dir = writeRun(root, ext.fold(data)(_._1), partitionCol, base + 1, "")
    val info = stagedInfo(q, data, vouch).copy(extend = ext.map(base -> _._2))
    if (info.nonEmpty) {
      val out = f.create(new Path(s"$root/$dir/$InfoFile"), false)
      try out.write(info.lines.mkString("\n").getBytes("UTF-8")) finally out.close()
    }
    (dir, base, m.getOrElse(NoManifest), info)
  }

  /** Most runs (dirs) an extension leaves in one partition entry, so a
    * read opens at most this many dirs per partition. On `ingest_hourly`
    * (4 vCPU) Spark-path reads cost about the same at up to 8 runs per
    * day as at one, and clearly more from about 11 (CHANGES.md). */
  private val MaxRuns = 8

  /** Whether an extension onto version `base` restages partition `key`,
    * whose entry holds `runs` dirs, from the target's rows instead of
    * growing it: at [[MaxRuns]] dirs, and on the key's turn, the one
    * version in [[MaxRuns]] that a hash of the key picks. A partition
    * that grows on every commit thus restages every [[MaxRuns]] commits,
    * and partitions that grow together restage on different commits, an
    * even share on each, not all on one. */
  private def restages(key: String, runs: Int, base: Long): Boolean =
    runs >= MaxRuns || Math.floorMod(key.hashCode + base, MaxRuns.toLong) == 0

  /** The frame `stage` writes for [[Extension]] `e` of version `base`
    * (manifest `m`) vouched as `data`, and the keys it extends: the added
    * rows, plus the target rows of every partition that [[restages]]
    * (whole). None when a part is null (no literal names its key). */
  private def extensionOf(base: Long, m: Manifest, e: Extension, data: DataFrame,
      partitionCol: String): Option[(DataFrame, Set[String])] =
    if (e.parts.contains(null)) None
    else {
      import org.apache.spark.sql.functions.col
      val keyed = e.parts.map(p => keyOf(data.sparkSession, Literal.create(p)) -> p)
      val (restage, extend) = keyed.partition { case (k, _) =>
        m.entries.get(k).exists(entry => restages(k, dirsOf(entry).size, base))
      }
      val rows =
        if (restage.isEmpty) e.added
        else e.target.filter(col(partitionCol).isin(restage.map(_._2): _*)).unionByName(e.added)
      // the vouched frame's columns, types and order
      Some(rows.select(data.schema.fields.toSeq.map(c => col(c.name).cast(c.dataType).as(c.name)): _*) ->
        extend.map(_._1).toSet)
    }

  /** The manifest key of the non-null partition value `v`: the string
    * the partitioned writer names its dir by, escaped as the writer does. */
  private def keyOf(spark: SparkSession, v: Literal): String = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
    import org.apache.spark.sql.catalyst.expressions.Cast
    val zone = spark.conf.get("spark.sql.session.timeZone", java.util.TimeZone.getDefault.getID)
    escapePathName(Cast(v, org.apache.spark.sql.types.StringType, Some(zone)).eval().toString)
  }

  /** A staged dir ready to publish: its name, its partitions as manifest
    * entries (`listStaged`) and its info. */
  private final case class Staged(dir: String, parts: Map[String, String], info: StagedInfo) {
    /** The partitions of `base` a rewriting publish drops: covered, not staged. */
    def drops(base: Map[String, String]): Set[String] = info.covers.filter(base.contains) -- parts.keySet
  }

  /** The staged dir's copy of its commit info: `#read`, `#stamp`,
    * `#maxkey`, `#extends` and `#covers` lines. */
  private val InfoFile = "_txinfo"

  /** What a staged frame read; the [[AuditStamp]] it carries as (micros,
    * the version of this table the stamp dominates, 0 for a new table)
    * when the publish may record it as the watermark; its vouched largest
    * key as (key, the version it holds on); the version it extends and
    * the keys it extends ([[extensionOf]]); and the keys it covers
    * ([[vouch]]). */
  private final case class StagedInfo(reads: Map[String, Long], stamp: Option[(Long, Long)],
      maxKey: Option[(Long, Long)] = None, extend: Option[(Long, Set[String])] = None,
      covers: Set[String] = Set.empty) {
    def nonEmpty: Boolean = lines.nonEmpty
    def lines: Seq[String] = infoLines(reads) ++
      stamp.map { case (us, v) => s"#stamp $us $v" } ++
      maxKey.map { case (k, v) => s"#maxkey $k $v" } ++
      extend.toSeq.flatMap { case (v, ks) => ks.toSeq.sorted.map(k => s"#extends $v $k") } ++
      covers.toSeq.sorted.map(k => s"#covers $k")
    /** Whether the publish grows `key`'s entry instead of replacing it. */
    def extendsKey(key: String): Boolean = extend.exists(_._2(key))
    /** The manifest info of a publish that builds on version `v`. */
    def at(v: Long): CommitInfo =
      CommitInfo(reads, stamp.collect { case (us, `v`) => us }, maxKey.collect { case (k, `v`) => k })
  }

  /** The stamp qualifies when it is the frame's only one, it dominates
    * this table (`root`) at version v, and the frame reads this table at
    * exactly v — or, for a stamp over no table, reads it not at all. A
    * vouched largest key qualifies on the same reads. */
  private def stagedInfo(root: String, data: DataFrame, vouch: Option[Vouched]): StagedInfo = {
    val read = versionsRead(data)
    val stamps = data.queryExecution.analyzed.collectWithSubqueries {
      case p => p.expressions.flatMap(_.collect { case a: AuditStamp => a })
    }.flatten.distinct
    val stamp = stamps match {
      case Seq(AuditStamp(us, None)) if !read.contains(root) => Some(us -> 0L)
      case Seq(AuditStamp(us, Some((`root`, v)))) if read.get(root).contains(Set(v)) => Some(us -> v)
      case _ => None
    }
    val onVersion = read.get(root) match {
      case None => Some(0L)
      case Some(vs) if vs.size == 1 => Some(vs.head)
      case _ => None
    }
    val covers = vouch.fold(Set.empty[String])(_.covers.filter(_ != null).map(c =>
      keyOf(data.sparkSession, Literal.create(c))).toSet)
    StagedInfo(sourcesOf(data).filter(_._1.forall(!_.isControl)), stamp,
      for (vc <- vouch; k <- vc.maxKey; v <- onVersion) yield k -> v, covers = covers)
  }

  /** The staged info of `stagedDir` ([[InfoFile]]); empty without one. */
  private def readStagedInfo(f: FileSystem, root: String, stagedDir: String): StagedInfo = {
    val p = new Path(s"$root/$stagedDir/$InfoFile")
    if (!f.exists(p)) StagedInfo(Map.empty, None)
    else {
      val info = readText(f, p).split("\n").toSeq.filter(_.startsWith("#"))
      def pair(tag: String) = infoField(info, tag).map(l => l.split(" ") match {
        case Array(a, v) => a.toLong -> v.toLong
        case _ => throw new java.io.IOException(s"malformed info line in $p: '$tag $l'")
      })
      val extend = info.filter(_.startsWith("#extends ")).map { l =>
        l.split(" ", 3) match {
          case Array(_, v, key) => v.toLong -> key
          case _ => throw new java.io.IOException(s"malformed info line in $p: '$l'")
        }
      }
      StagedInfo(readsOf(info, p), pair("#stamp"), pair("#maxkey"),
        extend.headOption.map { case (v, _) => v -> extend.map(_._2).toSet },
        info.filter(_.startsWith("#covers ")).map(_.stripPrefix("#covers ")).toSet)
    }
  }

  /** Write `data` partitioned by `partitionCol` into a fresh version dir
    * `v<next>-<nonce><suffix>` and return its name — the one data write
    * of [[stage]], [[deleteWhere]] and [[compactLeveled]]. */
  private def writeRun(root: String, data: DataFrame, partitionCol: String,
      next: Long, suffix: String): String = {
    val dir = s"v$next-${java.util.UUID.randomUUID().toString.take(8)}$suffix"
    CallSites(data.sparkSession, "TxTable.stage") {
      data.write
        .mode(SaveMode.ErrorIfExists)
        .partitionBy(partitionCol)
        .parquet(s"$root/$dir")
    }
    dir
  }

  /** Publish a staged dir: build the new manifest (previous entries
    * overridden by the staged partitions), write it to a temp name, and
    * atomically rename it into place. All staged partitions become
    * visible in the same instant; a crash anywhere before the rename
    * leaves the table at the previous version. The staged dir's info
    * becomes the manifest's `#` lines.
    *
    * Concurrency: single-writer by contract. If two publishers race
    * anyway, the version-number CAS ([[casManifest]]) picks exactly one
    * winner and the loser throws; a committed manifest — e.g. a
    * concurrent [[appendPublish]] — is never clobbered. Returns the
    * committed version.
    */
  def publish(spark: SparkSession, root: String, stagedDir: String, partitionCol: String): Long = {
    val f = fs(spark, root)
    val (v, base) = latestManifest(f, root)
    val s = Staged(stagedDir, listStaged(f, root, stagedDir, partitionCol), readStagedInfo(f, root, stagedDir))
    require(s.parts.nonEmpty || s.drops(base.entries).nonEmpty,
      s"staged dir $stagedDir has no $partitionCol= partitions")
    publishOn(f, root, v, base, s)
  }

  /** [[publish]] onto version `v`, whose manifest is `base`: the staged
    * partitions replace their entries, except that an extension's keys
    * grow theirs (as an append does), and covered partitions with no
    * staged row are dropped. An extension of another version than `v`
    * fails loudly: its slice was read there. */
  private def publishOn(f: FileSystem, root: String, v: Long, base: Manifest, s: Staged): Long = {
    s.info.extend.foreach { case (b, _) =>
      if (b != v) throw new java.io.IOException(
        s"staged dir ${s.dir} extends version $b of $root, but version $v is the latest; " +
          s"an extension publishes onto the version its slice read only — restage from version $v")
    }
    val (grown, replaced) = s.parts.partition { case (k, _) => s.info.extendsKey(k) }
    val entries = grow(base.entries -- s.drops(base.entries) ++ replaced, grown)
    require(entries.nonEmpty, s"publishing ${s.dir} would drop every partition of $root — " +
      "an empty table has no manifest representation; drop the table root explicitly instead")
    publishManifest(f, root, v, entries, s.info.at(v), 1,
      s"publish is single-writer by contract; staged data remains at $root/${s.dir}")(identity)
  }

  /** Test-only injection point: fires immediately before every manifest
    * CAS attempt of every writer — deterministic lost-CAS coverage
    * without a real thread race (a spec makes it commit once to steal
    * the version; that nested commit re-enters the hook). Production
    * never sets it. */
  private[pipeline] var testHookBeforeCas: () => Unit = () => ()

  /** The one manifest commit of every writer: CAS `entries` and `info` as
    * version `v + 1` ([[casManifest]], never a plain rename — POSIX rename
    * OVERWRITES, so a concurrent writer that just committed that version
    * would be silently clobbered). On a lost CAS with `attempts` left,
    * re-read the latest manifest and retry at the version after it with
    * `rebase(its entries)`, keeping the reads and dropping the watermark
    * and the largest key (both were proven against the lost base only);
    * otherwise throw, naming
    * the root, the version and `onFailure` (the writer's contract and
    * recovery hint). Returns the committed version.
    */
  @scala.annotation.tailrec
  private def publishManifest(f: FileSystem,
      root: String, v: Long, entries: Map[String, String], info: CommitInfo, attempts: Int,
      onFailure: String)(rebase: Map[String, String] => Map[String, String]): Long = {
    testHookBeforeCas()
    if (casManifest(f, root, v + 1, entries, info)) v + 1
    else if (attempts <= 1) throw new java.io.IOException(
      s"a concurrent writer committed version ${v + 1} at $root first; $onFailure")
    else {
      val (fresh, m) = latestManifest(f, root)
      publishManifest(f, root, fresh, rebase(m.entries), info.copy(watermark = None, maxKey = None),
        attempts - 1, onFailure)(rebase)
    }
  }

  /** Stage + publish in one call: the crash-safe replacement for a
    * multi-partition dir-swap merge. Returns the committed version, or
    * the unchanged latest one when `data` is empty (`stageNonEmpty`).
    */
  def commit(spark: SparkSession, root: String, data: DataFrame, partitionCol: String): Long =
    stageNonEmpty(spark, root, data, partitionCol, drops = true)(publishOn)

  /** The one empty-stage rule of [[commit]] and [[appendCommit]]: stage
    * `data`, then publish only when at least one partition landed (or,
    * for a rewriting commit, `drops`, a covered partition goes) — ONE
    * write job instead of the count-then-write pair an emptiness
    * pre-check costs (the count re-evaluates the whole input). An empty
    * staging (a bare dir with write metadata, no partition subdirs) is
    * deleted at once as debris; with nothing to publish the latest
    * version is returned unchanged and no manifest is written.
    *
    * One commit lists the log once, lists the staged dir once and parses
    * the manifest it staged on once, handing all three to the publish;
    * only a lost CAS re-reads the log.
    */
  private def stageNonEmpty(spark: SparkSession, root: String, data: DataFrame,
      partitionCol: String, drops: Boolean)(
      publishStaged: (FileSystem, String, Long, Manifest, Staged) => Long): Long = {
    val f = fs(spark, root)
    val (stagedDir, v, base, info) = stageOn(spark, f, root, data, partitionCol)
    val s = Staged(stagedDir, listStaged(f, root, stagedDir, partitionCol), info)
    if (s.parts.isEmpty) f.delete(new Path(s"$root/$stagedDir"), true)
    if (s.parts.isEmpty && (!drops || s.drops(base.entries).isEmpty)) v
    else publishStaged(f, root, v, base, s)
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
    val cur = snapshot(spark, root, v, old)
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
    val stagedDir = writeRun(root, survivors, partitionCol, v + 1, "")
    val entries = (old -- affectedKeys) ++ listStaged(f, root, stagedDir, partitionCol)
    require(entries.nonEmpty,
      s"deleteWhere would remove every row of $root — refusing (an empty table has no " +
        s"manifest representation); drop the table root explicitly instead")
    publishManifest(f, root, v, entries, CommitInfo.empty, 1,
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
      entries: Map[String, String], info: CommitInfo): Boolean = {
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
      val lines = infoLines(info.reads) ++ info.watermark.map(w => s"#watermark $w") ++
        info.maxKey.map(k => s"#maxkey $k") ++ entries.toSeq.sorted.map { case (k, dir) => s"$k\t$dir" }
      try out.write(lines.mkString("\n").getBytes("UTF-8"))
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
    val f = fs(spark, root)
    val changed = listStaged(f, root, stagedDir, partitionCol)
    require(changed.nonEmpty, s"staged dir $stagedDir has no $partitionCol= partitions")
    val (v, base) = latestManifest(f, root)
    appendOn(f, root, v, base, Staged(stagedDir, changed, readStagedInfo(f, root, stagedDir)))
  }

  /** [[appendPublish]] onto version `v`, whose manifest is `base`. */
  private def appendOn(f: FileSystem, root: String, v: Long, base: Manifest, s: Staged): Long = {
    val attempts = 10
    publishManifest(f, root, v, grow(base.entries, s.parts), s.info.at(v), attempts,
      s"append lost all $attempts attempts — the log is too contended; " +
        s"staged data remains at $root/${s.dir}")(grow(_, s.parts))
  }

  /** `cur` with each of `parts`' dirs added to its key's dir list. */
  private def grow(cur: Map[String, String], parts: Map[String, String]): Map[String, String] =
    cur ++ parts.map { case (k, dir) => k -> cur.get(k).fold(dir)(_ + "\t" + dir) }

  /** Stage + blind-append in one call: the O(increment) ingest commit.
    * Same empty-stage rule as [[commit]]: an empty `data` publishes
    * nothing and returns the unchanged latest version. */
  def appendCommit(spark: SparkSession, root: String, data: DataFrame,
      partitionCol: String): Long =
    stageNonEmpty(spark, root, data, partitionCol, drops = false)(appendOn)

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
      val grown = oldEntries.get(k).fold(Option(dirsOf(entry)))(grownBy(_, entry))
      require(grown.isDefined,
        s"partition '$k' was REWRITTEN between versions $sinceVersion and " +
          s"$toVersion (dirs ${dirsOf(oldEntries(k)).mkString(",")} -> ${dirsOf(entry).mkString(",")}) " +
          "— a dir-level delta would double-count its rows; re-baseline from " +
          s"readAt($toVersion)")
      grown.get
    }
    val dropped = (oldEntries.keySet -- newEntries.keySet).toSeq.sorted
    require(dropped.isEmpty,
      s"partitions [${dropped.mkString(", ")}] were DELETED between versions " +
        s"$sinceVersion and $toVersion — the append-only delta contract is " +
        s"broken; re-baseline from readAt($toVersion)")
    if (added.isEmpty) None
    else Some(readManifest(spark, root, added, None))
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
            liveDirs(entries).filter(d => toMerge(runOf(d))), None)
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
          publishManifest(f, root, v, around(entries), CommitInfo.empty, attempts,
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
      .flatMap(vi => versionDirs(parseManifest(f, manifestPath(root, vi)).entries))
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

/** What the log records about one commit besides its entries: the TxTable
  * versions its staged frame read (qualified root -> version), the
  * table's watermark (`max(processed_at)`, epoch micros) and its largest
  * merge key, each when the commit provably set it. Empty for a manifest
  * without `#` lines. */
final case class CommitInfo(reads: Map[String, Long], watermark: Option[Long],
    maxKey: Option[Long] = None)

object CommitInfo {
  val empty: CommitInfo = CommitInfo(Map.empty, None)
}

/** A processed_at chosen once on the driver (epoch `micros`), at or above
  * the watermark of the table version `base` names — None when the frame
  * it stamps merges into no table. Foldable, so the optimizer turns it
  * into the same timestamp literal `current_timestamp()` becomes: plans
  * and generated code do not change. A [[TxTable.stage]] of a frame that
  * carries it records it for the publish to turn into the watermark. */
final case class AuditStamp(micros: Long, base: Option[(String, Long)])
    extends org.apache.spark.sql.catalyst.expressions.LeafExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def foldable: Boolean = true
  override def nullable: Boolean = false
  override def dataType: org.apache.spark.sql.types.DataType = org.apache.spark.sql.types.TimestampType
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = micros
  override def toString: String =
    org.apache.spark.sql.catalyst.expressions.Literal(micros, dataType).toString
}
