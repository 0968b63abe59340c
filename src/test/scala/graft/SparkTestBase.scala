package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.Using
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite (lazy; GraftSession.getOrCreate
  * reuses the same session across suites in one JVM run). */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = GraftSession.local(cpus = 4, shufflePartitions = 8)
  val sf: String = "/root/testdata/sf0.001"

  private val tempRoots = new java.util.concurrent.ConcurrentLinkedQueue[Path]
  private val namespaces = new java.util.concurrent.ConcurrentLinkedQueue[String]

  /** A fresh directory under the system temp dir, deleted with
    * everything under it after the suite. */
  def tempDir(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    tempRoots.add(p)
    p
  }

  /** A fresh namespace `graft.<prefix><6 hex>` in the graft catalog,
    * dropped with its tables and their files after the suite. Returns
    * the namespace name without the catalog. */
  def graftNamespace(prefix: String): String = {
    val ns = prefix + java.util.UUID.randomUUID().toString.take(6).replace("-", "")
    spark.sql(s"CREATE NAMESPACE graft.$ns")
    namespaces.add(ns)
    ns
  }

  /** Delete `root` and everything under it. */
  def deleteTree(root: Path): Unit =
    if (Files.exists(root))
      Using.resource(Files.walk(root))(_.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists))

  override protected def afterAll(): Unit =
    try {
      namespaces.asScala.foreach { ns =>
        try spark.sql(s"DROP NAMESPACE IF EXISTS graft.$ns CASCADE")
        catch { case NonFatal(e) => System.err.println(s"[test] could not drop graft.$ns: $e") }
      }
      tempRoots.asScala.foreach { p =>
        try deleteTree(p)
        catch { case NonFatal(e) => System.err.println(s"[test] could not delete $p: $e") }
      }
    } finally super.afterAll()

  /** The files of `prefix`'s latest snapshot that `ranges` cannot rule
    * out, with the snapshot's schema events applied. */
  def prunedFiles(root: String, prefix: String,
                  ranges: ingest.Snapshots.StatRange*): Seq[String] = {
    val snap = ingest.Snapshots.snapshot(root, prefix).get
    ingest.Snapshots.prunedFiles(snap, ingest.Snapshots.schemaEvents(root, prefix, snap), ranges)
  }

  def run(name: String): org.apache.spark.sql.DataFrame =
    SparkEntry.queries(name)(spark, sf)

  /** Build a fixture with the PRE-round-14 write layout (one file per
    * input partition): the staged-write path now sizes output files to
    * `spark.graft.write.targetFileBytes` (guide §6), which folds a
    * tiny fixture into ONE file — specs that exercise multi-file
    * behavior (manifest pruning, CoW rewrite granularity, compaction)
    * pin their layout explicitly through this instead of relying on
    * the write path staying naive. */
  def withMultiFileWrites[T](f: => T): T = {
    val k = "spark.graft.write.targetFileBytes"
    val prior = spark.conf.getOption(k)
    spark.conf.set(k, "1")
    try f finally prior match {
      case Some(v) => spark.conf.set(k, v)
      case None => spark.conf.unset(k)
    }
  }
}
