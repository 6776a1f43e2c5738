package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import graft.schema.TableSchemas
import graft.sources.GraftTable

/** Bloom filters sized per row group: over generated (project_id, date)
  * layouts, every `id` bloom a table write leaves holds every id of its
  * file and is sized to the file's distinct count, never above parquet's
  * 1 MB cap; a file without one has a fully dictionary-encoded `id`. */
class BloomSizingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** One (project_id, date) partition: `rows` rows, row `i` carrying id
    * number `i mod distinct` (so `rows - distinct` duplicate ids); its
    * first `resent` rows are written again by a second append. */
  private case class Part(project: String, day: Int, rows: Int,
      distinct: Int, resent: Int)

  private val partGen: Gen[(Int, Int, Int)] = for {
    rows <- Gen.frequency(5 -> Gen.choose(1, 600),
      3 -> Gen.choose(600, 5000), 2 -> Gen.choose(5000, 20000))
    distinct <- Gen.frequency(3 -> Gen.const(rows),
      1 -> Gen.choose(math.max(1, rows / 4), rows))
    resent <- Gen.frequency(3 -> Gen.const(0), 1 -> Gen.choose(0, rows / 10))
  } yield (rows, distinct, resent)

  private val layoutGen: Gen[Seq[Part]] = for {
    n <- Gen.choose(100, 120)
    specs <- Gen.listOfN(n, partGen)
  } yield specs.zipWithIndex.map { case ((r, d, s), k) =>
    Part(s"p${k % 8}", k / 8, r, d, s)
  }

  /** The rows of `parts`, the first `upTo(part)` of each. */
  private def rowsOf(parts: Seq[Part], upTo: Part => Int): DataFrame = {
    import spark.implicits._
    parts.map(p => (p.project, p.day, p.distinct, upTo(p))).filter(_._4 > 0)
      .toDF("project_id", "day", "distinct", "n")
      .select(col("project_id"), col("day"), col("distinct"),
        explode(sequence(lit(0), col("n") - 1)).as("i"))
      .select(col("project_id"),
        expr("cast(date_add(date'2024-03-01', day) as timestamp_ntz) + " +
          "make_interval(0, 0, 0, 0, 0, 0, cast(i as decimal(18, 6)))")
          .as("timestamp"),
        md5(concat_ws("/", col("project_id"), col("day"),
          col("i") % col("distinct"))).as("id"),
        lit("n").as("name"))
  }

  private val MaxBytes = 1 << 20
  private val SmallestCandidate = MaxBytes >> (GraftTable.BloomCandidates - 1)

  /** Failures of the sizing and membership checks of one file's `id`
    * chunk, given the ids read back from the file. */
  private def failures(file: Path, ids: Option[Seq[String]],
      chunks: Seq[ParquetBlooms.Chunk]): Seq[String] = (ids, chunks) match {
    case (None, _) => Seq(s"$file: no ids read")
    case (_, Seq(ParquetBlooms.Chunk(None, dictionaryOnly))) =>
      if (dictionaryOnly) Nil
      else Seq(s"$file: no bloom on a plain-encoded id chunk")
    case (Some(ids), Seq(ParquetBlooms.Chunk(Some(bloom), _))) =>
      val d = ids.size
      val bytes = bloom.getBitsetSize
      // parquet's adaptive filter keeps the smallest power-of-two candidate
      // whose 1 % FPP capacity, counted in steps of 500 values, holds the
      // distinct count
      val stepped = (d + 499) / 500 * 500
      val lo = ParquetBlooms.optimalBytes(d)
      val hi = math.max(2 * ParquetBlooms.optimalBytes(stepped),
        SmallestCandidate)
      val missed = ids.filterNot(ParquetBlooms.mayHold(bloom, _))
      (if (bytes < lo || bytes > hi || bytes > MaxBytes)
        Seq(s"$file: $d distinct ids, bitset $bytes B outside [$lo, $hi]")
      else Nil) ++
        (if (missed.nonEmpty) Seq(s"$file: ${missed.size} ids missing from the bloom")
        else Nil)
    case _ => Seq(s"$file: ${chunks.size} row groups")
  }

  /** Failures over every file of every version directory under
    * `tableDir`, and the number of files that carry an id bloom. A chunk
    * whose pages are all dictionary-encoded carries none: parquet skips
    * the bloom where the dictionary serves. */
  private def check(tableDir: String): (Seq[String], Int) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val versions = new java.io.File(tableDir).listFiles()
      .filter(f => f.isDirectory && f.getName.matches("v\\d+")).map(_.getPath)
    val files = versions.toSeq.sorted.flatMap { v =>
      val idsByFile = spark.read.parquet(v)
        .groupBy(input_file_name().as("f")).agg(collect_set("id"))
        .collect().map(r => new java.net.URI(r.getString(0)).getPath ->
          r.getSeq[String](1)).toMap
      ParquetBlooms.files(v).map(f => (f, idsByFile.get(f.toUri.getPath),
        ParquetBlooms.chunks(f, "id", conf)))
    }
    (files.flatMap((failures _).tupled),
      files.count(_._3.exists(_.bloom.isDefined)))
  }

  test("every file's id bloom holds its ids and is sized to its distinct count") {
    val prop = Prop.forAllNoShrink(layoutGen) { parts =>
      val t = new GraftTable(spark,
        Files.createTempDirectory("graft_bloom_prop_").toString,
        TableSchemas.morVersioned.copy(bloomFilterColumns = Seq("id")))
      def at(m: Int) = Some(java.time.LocalDateTime.of(2024, 6, 1, 0, m))
      t.append(rowsOf(parts, _.rows), at(0))
      t.append(rowsOf(parts, _.resent), at(1))
      t.compact()
      val (bad, blooms) = check(s"${t.root}/${t.meta.name}")
      // most partitions have all-distinct ids, which parquet writes plain
      Prop(bad.isEmpty && blooms >= 100) :|
        s"$blooms files with a bloom\n${bad.take(10).mkString("\n")}"
    }
    // one generated layout of 100+ partitions is one case: each case is
    // two appends and a compaction over ~0.4M rows
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(1).withInitialSeed(Seed(20240601L)), prop)
    assert(res.passed, Pretty.pretty(res))
  }
}
