package graft.ingest

import java.nio.file.{Files, Path}
import java.nio.file.attribute.BasicFileAttributes
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path => HadoopPath}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.{DataFrame, DataFrameReader, GraftStreamingShim, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Driver-side parquet planning: footers and file statuses read with
  * plain JVM IO, no Spark job. */
object Footers {

  /** One Hadoop configuration for every footer reader. A fresh one
    * re-parses Hadoop's default resources on first use, which costs
    * more than reading a footer. */
  lazy val conf: Configuration = {
    val c = new Configuration()
    c.set("fs.file.impl", classOf[graft.NioLocalFileSystem].getName)
    c
  }

  /** Opens `file` with read options built over [[conf]]. The one-argument
    * `ParquetFileReader.open(InputFile)` would build its options over a
    * fresh `Configuration` on every call. */
  def open(file: Path): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(new HadoopPath(file.toUri), conf),
      HadoopReadOptions.builder(conf).build())

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

  /** The data schema of the file at `rel` under a read's base
    * directory; callers pass the file inference would read (see
    * [[firstDataFile]]). None where inference must stay: the footer is
    * unreadable, or a data column shares a partition column's name
    * (inference orders such columns differently). */
  def dataSchema(spark: SparkSession, base: Path, rel: Path): Option[StructType] = {
    val partCols = Option(rel.getParent).toSeq.flatMap(_.iterator.asScala)
      .map(_.toString).filter(_.contains("=")).map(_.takeWhile(_ != '=').toLowerCase)
    sparkSchema(spark, base.resolve(rel))
      .filterNot(_.fieldNames.exists(n => partCols.contains(n.toLowerCase)))
  }

  /** `reader` with [[dataSchema]] when there is one: a known schema
    * skips the inference job. Partition columns still infer from the
    * directory names. */
  def withSchema(spark: SparkSession, reader: DataFrameReader, base: Path,
                 rel: Path): DataFrameReader =
    dataSchema(spark, base, rel).fold(reader)(reader.schema)

  /** Names Spark's file listing skips. */
  def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".")

  /** The data file under `dir` that Spark's schema inference reads:
    * the first in full-path order, skipping [[hidden]] names. Relative
    * to `dir`. Siblings sort with a '/' after directory names, so a
    * depth-first walk meets files in full-path order and stops at the
    * first. */
  def firstDataFile(dir: Path): Option[Path] = {
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

  /** A parquet read planned from a known file list, the way Delta plans
    * a scan from its log: `leaves` maps each root path to the data
    * files under it (a file maps to itself). The file statuses are
    * read here with `java.nio` and handed to Spark's file index as a
    * pre-filled cache, so Spark neither checks the paths on a thread
    * pool nor lists them in a job (above
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` paths it
    * would). Partition columns infer from the directory names under
    * `options`' `basePath`, and the relation is the one
    * `DataSource.resolveRelation` builds for a user schema. */
  def relation(spark: SparkSession, leaves: Seq[(Path, Seq[Path])], schema: StructType,
               options: Map[String, String] = Map.empty): DataFrame = {
    def hpath(p: Path) = new HadoopPath("file:" + p.toAbsolutePath)
    val statuses: Map[HadoopPath, Array[FileStatus]] = leaves.map { case (root, files) =>
      hpath(root) -> files.map { f =>
        val a = Files.readAttributes(f, classOf[BasicFileAttributes])
        // block size: the local filesystem's default (fs.local.block.size)
        new FileStatus(a.size, false, 1, 32L << 20, a.lastModifiedTime.toMillis, hpath(f))
      }.toArray
    }.toMap
    val cache = new FileStatusCache {
      override def getLeafFiles(path: HadoopPath): Option[Array[FileStatus]] = statuses.get(path)
      override def putLeafFiles(path: HadoopPath, files: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val index = new InMemoryFileIndex(spark, leaves.map(l => hpath(l._1)), options,
      Some(schema), cache)
    spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
      GraftStreamingShim.asNullable(schema), None, new ParquetFileFormat, options)(spark))
  }
}
