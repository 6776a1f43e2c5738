package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.column.values.bloomfilter.{BlockSplitBloomFilter, BloomFilter}
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary

/** Footer-level reads of the bloom filters a table write left in its
  * parquet files, for the specs that check their sizing and pruning. */
object ParquetBlooms {
  /** Every parquet data file under `dir`, sorted by path. */
  def files(dir: String): Seq[Path] =
    Files.walk(Paths.get(dir)).iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted
      .map(new Path(_))

  /** The `column` chunk of one row group: its bloom filter, if parquet
    * wrote one, and whether every data page is dictionary-encoded (parquet
    * writes no bloom for such a chunk; its dictionary serves lookups). */
  case class Chunk(bloom: Option[BloomFilter], dictionaryOnly: Boolean)

  /** The `column` chunk of each row group of `file`. */
  def chunks(file: Path, column: String, conf: Configuration): Seq[Chunk] = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try reader.getFooter.getBlocks.asScala.toSeq.map { b =>
      val chunk = b.getColumns.asScala.find(_.getPath.toDotString == column)
        .getOrElse(throw new NoSuchElementException(s"$column not in $file"))
      Chunk(Option(reader.readBloomFilter(chunk)),
        !chunk.getEncodingStats.hasNonDictionaryEncodedPages)
    } finally reader.close()
  }

  /** The `column` bloom filter of each row group of `file`. */
  def blooms(file: Path, column: String, conf: Configuration): Seq[BloomFilter] =
    chunks(file, column, conf).map(_.bloom.getOrElse(
      throw new NoSuchElementException(s"no $column bloom in $file")))

  /** Whether `bloom` may hold the string `value`. */
  def mayHold(bloom: BloomFilter, value: String): Boolean =
    bloom.findHash(bloom.hash(Binary.fromString(value)))

  /** Row groups of `file` left by a `column = value` lookup that prunes by
    * bloom filter only (no min/max or dictionary filtering). */
  def rowGroupsFor(file: Path, column: String, value: String,
      conf: Configuration): Int = {
    val opts = ParquetReadOptions.builder()
      .useStatsFilter(false).useDictionaryFilter(false).useBloomFilter(true)
      .withRecordFilter(FilterCompat.get(FilterApi.eq(
        FilterApi.binaryColumn(column), Binary.fromString(value))))
      .build()
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf), opts)
    try reader.getRowGroups.size finally reader.close()
  }

  /** Bytes parquet's block-split bloom needs for `distinct` values at
    * `fpp` (before its adaptive filter rounds up to a power of two). */
  def optimalBytes(distinct: Long, fpp: Double = 0.01): Int =
    BlockSplitBloomFilter.optimalNumOfBits(distinct, fpp) / 8
}
