package graft.ingest

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.{DataFrameReader, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Driver-side parquet footer reads: plain JVM IO, no Spark job. */
object Footers {

  /** One Hadoop configuration for every footer reader. A fresh one
    * re-parses Hadoop's default resources on first use: opening a file
    * through a fresh configuration took about 14 ms, through a shared
    * one 0.4 ms (warm JVM, 4-core Xeon). */
  lazy val conf: Configuration = {
    val c = new Configuration()
    c.set("fs.file.impl", classOf[graft.NioLocalFileSystem].getName)
    c
  }

  def open(file: Path): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(new HadoopPath(file.toUri), conf))

  /** Schemas by (absolute path, converter settings). Data files are
    * immutable and uniquely named, so an entry never goes stale. */
  private val memo = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, StructType](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, StructType]): Boolean =
        size > 1024
    })

  /** The schema Spark's parquet inference would give `file`: its
    * footer's Spark metadata key, else the parquet→Spark converter
    * under the session's settings (`readSchemaFromFooter` is the call
    * inference makes). None when the footer cannot be read, so the
    * caller's inference fails the way it always did. */
  def sparkSchema(spark: SparkSession, file: Path): Option[StructType] = {
    val c = spark.sessionState.conf
    val key = Seq(file.toAbsolutePath, c.isParquetBinaryAsString, c.isParquetINT96AsTimestamp,
      c.parquetInferTimestampNTZEnabled, c.legacyParquetNanosAsLong).mkString("|")
    Option(memo.get(key)).orElse {
      val read =
        try Some(Using.resource(open(file)) { rd =>
          ParquetFileFormat.readSchemaFromFooter(
            new Footer(new HadoopPath(file.toUri), rd.getFooter),
            new ParquetToSparkSchemaConverter(c))
        })
        catch { case _: java.io.IOException => None }
      read.foreach(memo.put(key, _))
      read
    }
  }

  /** `reader` with the data schema of the file at `rel` under the
    * read's base directory; callers pass the file inference would read
    * (see [[firstDataFile]]). A known schema skips the inference job.
    * Partition columns still infer from the directory names. A data
    * column that shares a partition column's name keeps inference,
    * which orders such columns differently. */
  def withSchema(spark: SparkSession, reader: DataFrameReader, base: Path,
                 rel: Path): DataFrameReader = {
    val partCols = Option(rel.getParent).toSeq.flatMap(_.iterator.asScala)
      .map(_.toString).filter(_.contains("=")).map(_.takeWhile(_ != '=').toLowerCase)
    sparkSchema(spark, base.resolve(rel))
      .filterNot(_.fieldNames.exists(n => partCols.contains(n.toLowerCase)))
      .fold(reader)(reader.schema)
  }

  /** The data file under `dir` that Spark's schema inference reads:
    * the first in full-path order, skipping the hidden names Spark's
    * listing skips. Relative to `dir`. Siblings sort with a '/' after
    * directory names, so a depth-first walk meets files in full-path
    * order and stops at the first. */
  def firstDataFile(dir: Path): Option[Path] = {
    def hidden(n: String) = (n.startsWith("_") && !n.contains("=")) || n.startsWith(".")
    def first(d: Path): Option[Path] =
      Using.resource(Files.list(d))(_.iterator.asScala.toSeq)
        .filterNot(p => hidden(p.getFileName.toString))
        .map(p => (p, Files.isDirectory(p)))
        .sortBy { case (p, isDir) => p.getFileName.toString + (if (isDir) "/" else "") }
        .iterator
        .flatMap { case (p, isDir) => if (isDir) first(p) else Some(p) }
        .nextOption()
    if (Files.isDirectory(dir)) first(dir).map(dir.relativize) else None
  }
}
