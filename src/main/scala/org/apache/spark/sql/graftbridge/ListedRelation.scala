package org.apache.spark.sql.graftbridge

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, PartitionDirectory, PartitionPath, PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{StructField, StructType}

/** A parquet relation over a listing its caller already made, for
  * readers that know their files without partition discovery. The
  * relation is what `spark.read.schema(schema).parquet(dirs)` builds —
  * every column nullable, partition columns last and typed by `schema` —
  * except that nothing is listed: neither at build time nor by a
  * parallel listing job — and that a caller's [[Skipper]] may drop files
  * before any task opens them. Lives under the `org.apache.spark.sql`
  * package tree like [[ColumnBridge]] (standard extension-library shim).
  */
object ListedRelation {

  /** One partition directory: its values in `partitionColumns` order, as
    * unescaped directory-name strings (null for the default partition),
    * the directory and its data files. */
  final case class Dir(values: Seq[String], path: Path, files: Seq[FileStatus])

  /** Driver-side file skipping: given a scan's pushed data filters, a test
    * that keeps each file that may hold a matching row, or None when no
    * filter can rule a file out. Exact whatever it drops, as long as it
    * only drops files without a matching row: every filter pushed into a
    * scan is also evaluated on every row the scan returns. */
  type Skipper = Seq[Expression] => Option[FileStatus => Boolean]

  /** Read `dirs` as one relation. `roots` are the relation's root paths
    * (plan text and path-prefix rules see them); `label` is the index's
    * `toString`; `skip` drops files at planning. */
  def parquet(spark: SparkSession, label: String, roots: Seq[Path],
      schema: StructType, partitionColumns: Seq[String],
      dirs: Seq[Dir], skip: Skipper = _ => None): DataFrame = {
    val partSchema = StructType(partitionColumns.map(c =>
      StructField(c, schema(c).dataType, nullable = true)))
    val dataSchema = StructType(
      schema.filterNot(f => partitionColumns.contains(f.name))).asNullable
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    val parts = dirs.map { d =>
      PartitionPath(InternalRow.fromSeq(d.values.zip(partSchema).map {
        case (null, _) => null
        case (v, f) => Cast(Literal(v), f.dataType, tz).eval()
      }), d.path)
    }
    val index = new ListedFileIndex(spark, label, roots,
      PartitionSpec(partSchema, parts), dirs, skip)
    spark.baseRelationToDataFrame(HadoopFsRelation(index, partSchema,
      dataSchema, None, new ParquetFileFormat, Map.empty)(spark))
  }

  /** A file index whose listing is given: partition pruning and file
    * selection are the base class's, over partitions that may repeat
    * values (one directory per version leg); `skip` then drops the
    * selected files its test rules out. */
  private final class ListedFileIndex(spark: SparkSession, label: String,
      override val rootPaths: Seq[Path], spec: PartitionSpec, dirs: Seq[Dir],
      skip: Skipper)
      extends PartitioningAwareFileIndex(spark, Map.empty, None) {
    override def partitionSpec(): PartitionSpec = spec
    override def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
      val selected = super.listFiles(partitionFilters, dataFilters)
      skip(dataFilters).fold(selected)(keep => selected
        .map(p => p.copy(files = p.files.filter(f => keep(f.fileStatus))))
        .filter(_.files.nonEmpty))
    }
    override lazy val leafFiles: scala.collection.mutable.LinkedHashMap[Path, FileStatus] =
      scala.collection.mutable.LinkedHashMap.from(
        dirs.iterator.flatMap(_.files).map(f => f.getPath -> f))
    override lazy val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
      dirs.iterator.map(d => d.path -> d.files.toArray).toMap
    override def refresh(): Unit = ()
    override def toString: String = label
  }
}
