package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame

import graft.ingest.{Footers, Snapshots}

/** Reads with a footer-derived schema must equal Spark's inferred
  * read of the same files: same columns, types, nullability and rows.
  * Covers every schema epoch of an evolved partitioned table, its
  * deletion-vector sidecars, and a parquet file written without
  * Spark's schema key, which takes the converter fallback. */
class FooterSchemaSpec extends SparkTestBase {

  private val SparkKey = "org.apache.spark.sql.parquet.row.metadata"

  private def sameRead(mine: DataFrame, inferred: DataFrame): Unit = {
    assert(mine.schema == inferred.schema)
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(rows(mine) == rows(inferred))
  }

  private def inferred(base: Path, files: Seq[String]): DataFrame =
    spark.read.option("basePath", base.toString)
      .parquet(files.map(f => base.resolve(f).toString): _*)

  private def keyValue(file: Path): java.util.Map[String, String] =
    Using.resource(Footers.open(file))(_.getFooter.getFileMetaData.getKeyValueMetaData)

  test("an evolved partitioned table reads like Spark's inference, epoch by epoch") {
    val ns = "footer" + java.util.UUID.randomUUID().toString.take(6).replace("-", "")
    spark.sql(s"CREATE NAMESPACE graft.$ns")
    val t = s"graft.$ns.t"
    spark.sql(s"CREATE TABLE $t (id BIGINT, v STRING, d DOUBLE, topic STRING) PARTITIONED BY (topic)")
    def insert(cols: String, from: Int): Unit =
      spark.sql(s"INSERT INTO $t SELECT $cols FROM range($from, ${from + 30})")
    insert("id, concat('v', id), id / 4.0, concat('t', id % 3)", 0)
    spark.sql(s"ALTER TABLE $t ADD COLUMN w INT")
    insert("id, concat('v', id), id / 4.0, concat('t', id % 3), CAST(id AS INT)", 30)
    spark.sql(s"ALTER TABLE $t RENAME COLUMN v TO label")
    insert("id, concat('l', id), NULL, concat('t', id % 3), NULL", 60)
    spark.sql(s"ALTER TABLE $t DROP COLUMN w")
    insert("id, concat('l', id), id / 2.0, concat('t', id % 3)", 90)
    spark.sql(s"ALTER TABLE $t ADD COLUMN w STRING DEFAULT 'x'")
    insert("id, concat('l', id), id / 2.0, concat('t', id % 3), 'y'", 120)
    spark.sql(s"DELETE FROM $t WHERE id BETWEEN 40 AND 69")

    val root = s"/tmp/graft/lake/$ns/t"
    val snap = Snapshots.snapshot(root, "t").get
    assert(snap.dv.nonEmpty)
    val base = Paths.get(root, "t")
    assert(snap.files.forall(f => keyValue(base.resolve(f)).containsKey(SparkKey)))
    // one group per physical schema
    val bySchema = snap.files.groupBy(f => inferred(base, Seq(f)).schema)
    assert(bySchema.size == 5, s"expected 5 physical schemas, got ${bySchema.size}")
    bySchema.values.foreach { fs =>
      sameRead(Snapshots.readParquet(spark, base, fs), inferred(base, fs))
    }
    // two compatible epochs in one read: both readers take the schema
    // of the first file in path order, whatever order the list has
    val Seq(noW, withW) = bySchema.filter(_._1.fieldNames.contains("v")).toSeq
      .sortBy(_._1.size).map(_._2)
    Seq(noW ++ withW, withW ++ noW).foreach { fs =>
      sameRead(Snapshots.readParquet(spark, base, fs), inferred(base, fs))
      assert(Snapshots.readParquet(spark, base, fs).columns.contains("w") == withW.contains(fs.min))
    }
    // deletion-vector sidecars, listed on the driver, under their
    // fixed schema
    val dvs = snap.dv.map(d => s"$root/t._dv/$d")
    sameRead(Snapshots.readDv(spark, dvs.map(Paths.get(_))), spark.read.parquet(dvs: _*))
    // the resolved table: schema equals what a read yields, rows as written
    val table = Snapshots.read(spark, root, "t")
    assert(Snapshots.tableSchema(spark, root, "t") == table.schema)
    assert(table.columns.toSet == Set("id", "label", "d", "w", "topic"))
    assert(table.count() == 120L)
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE w = 'x'").head().getLong(0) == 90L)
  }

  test("a footer without Spark's schema key reads like inference (converter fallback)") {
    val base = Files.createTempDirectory("graft_footer")
    val rel = Paths.get("k=1", "plain.parquet")
    val file = base.resolve(rel)
    Files.createDirectories(file.getParent)
    val schema = MessageTypeParser.parseMessageType(
      """message m {
        |  required int64 id;
        |  optional binary name (STRING);
        |  optional int32 small (INTEGER(16, true));
        |  optional int64 ts (TIMESTAMP(MICROS, true));
        |  required double x;
        |}""".stripMargin)
    val groups = new SimpleGroupFactory(schema)
    Using.resource(ExampleParquetWriter.builder(new HadoopPath(file.toUri))
      .withType(schema).withConf(Footers.conf).build()) { w =>
      (0 until 20).foreach { i =>
        val g = groups.newGroup().append("id", i.toLong).append("x", i * 1.5)
        if (i % 3 != 0) g.append("name", s"n$i").append("small", i).append("ts", 1000000L * i)
        w.write(g)
      }
    }
    assert(!keyValue(file).containsKey(SparkKey))
    val mine = Footers.withSchema(spark, spark.read.option("basePath", base.toString), base, rel)
      .parquet(file.toString)
    sameRead(mine, inferred(base, Seq(rel.toString)))
    assert(mine.columns.toSeq == Seq("id", "name", "small", "ts", "x", "k"))
  }

  test("a directory read takes its schema from the file inference reads") {
    val dir = Files.createTempDirectory("graft_footer_dir")
    // full-path order puts k=a-b/… before k=a/… ('-' sorts before '/')
    spark.range(0, 10).toDF("id").write.parquet(dir.resolve("k=a").toString)
    spark.range(10, 20).selectExpr("id", "id * 2 AS extra")
      .write.parquet(dir.resolve("k=a-b").toString)
    val rel = Footers.firstDataFile(dir).get
    assert(rel.getParent.toString == "k=a-b")
    sameRead(Footers.withSchema(spark, spark.read, dir, rel).parquet(dir.toString),
      spark.read.parquet(dir.toString))
    // a data column named like a partition column keeps inference,
    // which places it at its file position
    val clash = Files.createTempDirectory("graft_footer_clash")
    spark.range(0, 5).selectExpr("id AS k", "id").write.parquet(clash.resolve("k=7").toString)
    val clashRel = Footers.firstDataFile(clash).get
    val read = Footers.withSchema(spark, spark.read, clash, clashRel).parquet(clash.toString)
    sameRead(read, spark.read.parquet(clash.toString))
    assert(read.columns.toSeq == Seq("k", "id"))
  }

  test("a footer reader's options carry the shared configuration") {
    val dir = Files.createTempDirectory("graft_footer_conf")
    spark.range(0, 10).toDF("id").write.parquet(dir.resolve("d").toString)
    val file = dir.resolve("d").resolve(Footers.firstDataFile(dir.resolve("d")).get)
    val options = classOf[ParquetFileReader].getDeclaredField("options")
    options.setAccessible(true)
    Using.resource(Footers.open(file)) { rd =>
      options.get(rd) match {
        case h: HadoopReadOptions => assert(h.getConf eq Footers.conf)
        case o => fail(s"reader options are ${o.getClass.getName}, not HadoopReadOptions")
      }
    }
  }
}
