package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem}
import org.apache.parquet.column.values.bloomfilter.BloomFilter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.catalyst.expressions.{Attribute, EqualTo, Expression, In, InSet, Literal}
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Driver-side file skipping on the per-row-group bloom filters a table
  * write leaves on `meta.bloomFilterColumns` — the reference skips files
  * on per-file Delta stats before it opens them (SURVEY S2). A scan whose
  * pushed filters name literal values of such a column (`c = v`,
  * `c IN (…)`) keeps a file only if some row group's bloom may hold one
  * of them; parquet would otherwise open every selected file in a task to
  * read its footer and bloom. Blooms have no false negatives, so a
  * skipped file holds no matching row. Conservative everywhere else: a
  * file is kept when a row group has no bloom (a dictionary-only chunk,
  * or a file written before blooms), when its bloom is above [[MaxBytes]],
  * or when the column is neither a string with binary equality nor an
  * integral type.
  */
private[sources] object BloomSketch {

  /** Largest bloom the driver reads. A file with a bigger bloom holds
    * so much data that the task-side bloom read is small beside it. */
  val MaxBytes: Int = 64 * 1024

  /** One file's chunks of a column as the driver sees them: the bloom of
    * every row group and the chunk's physical type, or None when some row
    * group cannot be ruled out. */
  final case class Sketch(blooms: Option[(PrimitiveTypeName, Seq[BloomFilter])]) {
    def bytes: Long = blooms.fold(0L)(_._2.map(_.getBitsetSize.toLong).sum)
  }

  /** The sketches of `columns` in `file` — one footer read, then one read
    * per bloom — and the bytes those reads took from the file system. */
  def read(file: FileStatus, columns: Seq[String],
      conf: Configuration): (Map[String, Sketch], Long) = {
    val before = threadBytesRead()
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf))
    val sketches = try {
      val groups = reader.getFooter.getBlocks.asScala.toSeq
      columns.map { c =>
        val chunks = groups.map(_.getColumns.asScala.find(_.getPath.toDotString == c))
        val blooms = chunks.map(_.filter(ch => ch.getBloomFilterOffset >= 0 &&
            ch.getBloomFilterLength <= MaxBytes)
          .flatMap(ch => Option(reader.readBloomFilter(ch)))
          .filter(_.getBitsetSize <= MaxBytes))
        val types = chunks.flatten.map(_.getPrimitiveType.getPrimitiveTypeName).distinct
        c -> Sketch(types match {
          case Seq(t) if blooms.forall(_.isDefined) =>
            Some((t, blooms.flatten))
          case _ => None
        })
      }.toMap
    } finally reader.close()
    (sketches, threadBytesRead() - before)
  }

  /** The literal lookups among a scan's pushed `filters` on `columns`:
    * (column, non-null values). An empty value list matches no row. */
  def lookups(filters: Seq[Expression],
      columns: Set[String]): Seq[(String, Seq[Any])] = {
    def on(a: Attribute) = columns(a.name) && hashable(a.dataType)
    filters.collect {
      case EqualTo(a: Attribute, Literal(v, _)) if on(a) => a.name -> Seq(v)
      case EqualTo(Literal(v, _), a: Attribute) if on(a) => a.name -> Seq(v)
      case In(a: Attribute, vs) if on(a) && vs.forall(_.isInstanceOf[Literal]) =>
        a.name -> vs.map(_.asInstanceOf[Literal].value)
      case InSet(a: Attribute, vs) if on(a) => a.name -> vs.toSeq
    }.map { case (c, vs) => c -> vs.filter(_ != null) }
  }

  /** Whether a file with sketch `s` may hold one of `values`. */
  def mayHold(s: Sketch, values: Seq[Any]): Boolean = s.blooms.forall {
    case (t, blooms) => blooms.exists(b =>
      values.exists(v => hash(b, t, v).forall(b.findHash)))
  }

  private def hashable(t: DataType): Boolean = t match {
    case s: StringType => s.collationId == StringType.collationId // UTF8_BINARY
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** The bloom hash of a Catalyst value in a chunk of physical type `t`;
    * None (may hold) for a pairing parquet does not hash this way. */
  private def hash(b: BloomFilter, t: PrimitiveTypeName, v: Any): Option[Long] =
    (t, v) match {
      case (PrimitiveTypeName.BINARY, s: UTF8String) =>
        Some(b.hash(Binary.fromConstantByteArray(s.getBytes)))
      case (PrimitiveTypeName.INT32, n: Byte) => Some(b.hash(n.toInt))
      case (PrimitiveTypeName.INT32, n: Short) => Some(b.hash(n.toInt))
      case (PrimitiveTypeName.INT32, n: Int) => Some(b.hash(n))
      case (PrimitiveTypeName.INT64, n: Long) => Some(b.hash(n))
      case _ => None
    }

  /** Bytes this thread has read through Hadoop file systems, the counter
    * Spark's task input metrics read too. */
  @scala.annotation.nowarn("cat=deprecation")
  private def threadBytesRead(): Long =
    FileSystem.getAllStatistics.asScala.map(_.getThreadStatistics.getBytesRead).sum
}
