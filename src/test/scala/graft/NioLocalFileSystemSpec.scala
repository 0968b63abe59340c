package graft

import java.net.URI
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.hadoop.fs.{FileSystem, Path => HadoopPath}
import org.apache.hadoop.fs.permission.FsPermission

import graft.ingest.{ProduceJob, Snapshots}

/** The engine's local filesystem sets permission bits in-process and
  * must leave the same modes and checksums the stock one leaves. */
class NioLocalFileSystemSpec extends SparkTestBase {

  private def octal(s: String): Int = Integer.parseInt(s, 8)

  private def mode(p: Path): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x0fff

  private def walk(d: Path): Seq[Path] = Using.resource(Files.walk(d))(_.iterator.asScala.toSeq)

  test("an engine session resolves file:/// to the in-process filesystem") {
    val fs = FileSystem.get(new URI("file:///"), spark.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass.getName)
    assert(fs.asInstanceOf[NioLocalFileSystem].getRaw.isInstanceOf[NioLocalFileSystem.Raw])
  }

  test("Spark writes keep 0644 files, 0755 directories and .crc sidecars") {
    val out = Files.createTempDirectory("graft_nio").resolve("w")
    spark.range(0, 100).selectExpr("id", "concat('p', id % 3) AS p")
      .write.partitionBy("p").parquet(out.toString)
    val all = walk(out)
    val data = all.filter(_.getFileName.toString.endsWith(".parquet"))
    assert(data.nonEmpty)
    data.foreach(f => assert(mode(f) == octal("644"), f"$f mode ${mode(f)}%o"))
    all.filter(Files.isDirectory(_))
      .foreach(d => assert(mode(d) == octal("755"), f"$d mode ${mode(d)}%o"))
    data.foreach { f =>
      assert(Files.isRegularFile(f.resolveSibling(s".${f.getFileName}.crc")), s"no .crc for $f")
    }
  }

  test("staged-write table files keep 0644 under 0755 partition directories") {
    val root = Files.createTempDirectory("graft_nio").toString
    ProduceJob.produceBatch(spark, root, "t", topics = 3, numMessages = 300)
    val base = Paths.get(root, "t")
    val files = Snapshots.snapshot(root, "t").get.files.map(base.resolve)
    assert(files.size >= 3)
    files.foreach { f =>
      assert(mode(f) == octal("644"), f"$f mode ${mode(f)}%o")
      assert(mode(f.getParent) == octal("755"), f"${f.getParent} mode ${mode(f.getParent)}%o")
    }
  }

  test("bits NIO cannot express (sticky) still apply") {
    val d = Files.createTempDirectory("graft_nio")
    val fs = FileSystem.get(new URI("file:///"), spark.sparkContext.hadoopConfiguration)
    fs.setPermission(new HadoopPath(d.toUri), new FsPermission(octal("1750").toShort))
    assert(mode(d) == octal("1750"), f"mode ${mode(d)}%o")
    fs.setPermission(new HadoopPath(d.toUri), new FsPermission(octal("700").toShort))
    assert(mode(d) == octal("700"), f"mode ${mode(d)}%o")
  }
}
