package org.apache.spark.sql.execution.datasources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Bridge for a table that catalogues its own partition dirs
  * (graft.pipeline.TxTable's manifest): one parquet relation over exactly
  * the listed dirs, with no directory discovery, no listing job and no
  * schema-inference job. It lives in this package because
  * `PartitioningUtils.parsePartitions` is `private[datasources]`; same
  * pattern as `graftbridge.DatasetBridge`.
  */
object ManifestScanBridge {
  private def state(spark: SparkSession) = spark.asInstanceOf[classic.SparkSession].sessionState

  /** The data files of one leaf dir, filtered the way Spark's own
    * listing filters them (no hidden, `_`-prefixed or `._COPYING_` files). */
  def dataFiles(fs: FileSystem, dir: Path): Array[FileStatus] =
    fs.listStatus(dir).filter(st =>
      st.isFile && !HadoopFSUtils.shouldFilterOutPathName(st.getPath.getName))

  /** Partition values and types of `leafDirs`, each parsed below its
    * parent dir, by Spark's own parser under the session's settings. The
    * parents differ (one per version dir), so the parser's one-base-path
    * check is off; a dir it cannot parse fails here instead of vanishing. */
  def partitionSpec(spark: SparkSession, leafDirs: Seq[Path]): PartitionSpec = {
    val c = state(spark).conf
    val spec = PartitioningUtils.parsePartitions(leafDirs, c.partitionColumnTypeInferenceEnabled,
      leafDirs.map(_.getParent).toSet, None, c.caseSensitiveAnalysis,
      c.validatePartitionColumns, c.sessionLocalTimeZone, ignoreInvalidPartitionPaths = true)
    val parsed = spec.partitions.map(_.path).toSet
    require(leafDirs.forall(parsed), s"not partition dirs: ${leafDirs.filterNot(parsed).mkString(", ")}")
    spec
  }

  /** The data schema Spark's inference gives the write that produced
    * `file`, read on the driver from its footer: the Spark row metadata,
    * else the converted parquet schema; nullable, as file sources are. */
  def footerSchema(spark: SparkSession, file: FileStatus): StructType = {
    val st = state(spark)
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, st.newHadoopConf()), SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(st.conf)).asNullable
  }

  /** One parquet relation over `spec`'s partition dirs, whose data files
    * are `listing`, with relation `options`. The index reads them from a
    * pre-filled cache, so building the frame lists nothing and launches
    * no job. */
  def parquet(spark: SparkSession, dataSchema: StructType, spec: PartitionSpec,
      listing: Map[Path, Array[FileStatus]], options: Map[String, String]): DataFrame = {
    val listed = new FileStatusCache {
      override def getLeafFiles(dir: Path): Option[Array[FileStatus]] = listing.get(dir)
      override def putLeafFiles(dir: Path, files: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val index = new InMemoryFileIndex(
      spark, spec.partitions.map(_.path), Map.empty, None, listed, Some(spec))
    spark.baseRelationToDataFrame(HadoopFsRelation(
      index, spec.partitionColumns, dataSchema, None, new ParquetFileFormat, options)(spark))
  }
}
