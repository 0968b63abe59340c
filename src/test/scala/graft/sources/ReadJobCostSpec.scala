package graft.sources

import java.nio.file.Files

import org.apache.spark.graftspec.JobCounter

import graft.SparkTestBase
import graft.ingest.{ProduceJob, Snapshots}

/** Spark jobs per graft statement. Resolving a table's schema and
  * analysing a read happen on the driver from the log and the parquet
  * footers, as Delta resolves table metadata, so they start no job;
  * reads and inserts run only the jobs their data needs. A regression
  * back to parquet schema inference adds a job to each and fails
  * here. */
class ReadJobCostSpec extends SparkTestBase {

  private def jobs[T](f: => T): (T, Int) = JobCounter(spark.sparkContext)(f)

  private def described[T](f: => T): (T, Seq[String]) =
    JobCounter.descriptions(spark.sparkContext)(f)

  /** A partitioned catalog table of 2,000 rows over `topics` topics,
    * one data file per topic. */
  private def people(topics: Int = 4): (String, String) = {
    val ns = "jobs" + java.util.UUID.randomUUID().toString.take(6).replace("-", "")
    spark.sql(s"CREATE NAMESPACE graft.$ns")
    val t = s"graft.$ns.people"
    spark.sql(s"CREATE TABLE $t (name STRING, age INT, ba BIGINT, topic STRING) PARTITIONED BY (topic)")
    spark.sql(s"INSERT INTO $t SELECT 'p', CAST(id % 100 AS INT), id, concat('t', id % $topics) " +
      "FROM range(0, 2000)")
    (t, s"/tmp/graft/lake/$ns/people")
  }

  /** Spark's threshold above which it lists explicit paths in a job. */
  private val listingThreshold = 32

  test("analysing a graft read runs no Spark job") {
    val (t, root) = people()
    spark.sql(s"ALTER TABLE $t ADD COLUMN tier STRING DEFAULT 'std'")
    spark.sql(s"INSERT INTO $t SELECT 'q', 1, id, concat('t', id % 4), 'gold' FROM range(2000, 2100)")
    spark.sql(s"DELETE FROM $t WHERE ba BETWEEN 300 AND 399")
    assert(Snapshots.snapshot(root, "t").get.dv.nonEmpty)
    val (plan, n) = jobs(spark.sql(s"SELECT age, tier FROM $t WHERE ba = 17").queryExecution.analyzed)
    assert(plan.resolved)
    assert(n == 0, s"analysis ran $n jobs")
  }

  test("Snapshots.tableSchema runs no Spark job") {
    val root = Files.createTempDirectory("graft_jobs").toString
    ProduceJob.produceBatch(spark, root, "t", topics = 4, numMessages = 2000)
    val (schema, n) = jobs(Snapshots.tableSchema(spark, root, "t"))
    assert(schema.fieldNames.toSeq ==
      Seq("name", "age", "address", "gender", "score", "ba", "key", "topic"))
    assert(n == 0, s"tableSchema ran $n jobs")
  }

  test("a point read on a table with active deletion vectors runs at most 2 jobs") {
    val (t, root) = people()
    spark.sql(s"DELETE FROM $t WHERE ba BETWEEN 100 AND 199")
    assert(Snapshots.snapshot(root, "t").get.dv.nonEmpty)
    val (rows, n) = jobs(spark.sql(s"SELECT age FROM $t WHERE ba = 1234").collect())
    assert(rows.map(_.getInt(0)).toSeq == Seq(34))
    assert(n <= 2, s"point read ran $n jobs")
    val (gone, _) = jobs(spark.sql(s"SELECT age FROM $t WHERE ba = 150").collect())
    assert(gone.isEmpty)
  }

  test("an INSERT into a partitioned graft table runs exactly 1 job") {
    val (t, root) = people()
    val v0 = Snapshots.snapshot(root, "t").get.version
    val (_, n) = jobs(spark.sql(s"INSERT INTO $t SELECT 'p', 7, id, concat('t', id % 4) " +
      "FROM range(2000, 2500)"))
    assert(Snapshots.snapshot(root, "t").get.version == v0 + 1)
    assert(n == 1, s"insert ran $n jobs")
  }

  test("analysing a read of more than 32 files runs no Spark job") {
    val (t, root) = people(topics = 40)
    assert(Snapshots.snapshot(root, "t").get.files.size > listingThreshold)
    val (plan, n) = jobs(Snapshots.read(spark, root, "t").queryExecution.analyzed)
    assert(plan.resolved)
    assert(n == 0, s"analysis ran $n jobs")
    assert(spark.sql(s"SELECT count(*) FROM $t").head().getLong(0) == 2000L)
  }

  test("an UPDATE over more than 32 candidate files runs at most 4 jobs, none a listing") {
    val (t, root) = people(topics = 40)
    assert(Snapshots.snapshot(root, "t").get.files.size > listingThreshold)
    val (_, descs) = described(spark.sql(s"UPDATE $t SET name = 'u' WHERE age = 5"))
    assert(descs.size <= 4, s"update ran ${descs.size} jobs: ${descs.mkString("; ")}")
    assert(!descs.exists(_.contains("Listing leaf files")), descs.mkString("; "))
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE name = 'u'").head().getLong(0) == 20L)
  }

  test("a three-clause MERGE runs at most 9 jobs") {
    val (t, root) = people()
    val v0 = Snapshots.snapshot(root, "t").get.version
    spark.sql("""CREATE OR REPLACE TEMP VIEW jobs_src AS
      SELECT id AS ba, CAST(id % 97 AS INT) AS nage FROM range(1500, 2500)""")
    val (_, descs) = described(spark.sql(s"""MERGE INTO $t t USING jobs_src s ON t.ba = s.ba
      WHEN MATCHED AND s.nage % 5 = 0 THEN DELETE
      WHEN MATCHED THEN UPDATE SET age = s.nage
      WHEN NOT MATCHED THEN INSERT (name, age, ba, topic)
        VALUES ('m', s.nage, s.ba, concat('t', CAST(s.ba % 4 AS STRING)))"""))
    assert(descs.size <= 9, s"merge ran ${descs.size} jobs: ${descs.mkString("; ")}")
    assert(Snapshots.snapshot(root, "t").get.version == v0 + 1)
    val deleted = (1500L until 2000L).count(_ % 97 % 5 == 0)
    assert(spark.sql(s"SELECT count(*) FROM $t").head().getLong(0) == 2500L - deleted)
  }

  test("a merge-on-read DELETE runs at most 4 jobs") {
    val (t, root) = people()
    val (_, descs) = described(spark.sql(s"DELETE FROM $t WHERE ba BETWEEN 100 AND 199"))
    assert(Snapshots.snapshot(root, "t").get.dv.nonEmpty)
    assert(descs.size <= 4, s"delete ran ${descs.size} jobs: ${descs.mkString("; ")}")
    assert(spark.sql(s"SELECT count(*) FROM $t").head().getLong(0) == 1900L)
  }

  test("every job UPDATE, MERGE and DELETE start carries a graft: description") {
    val (t, _) = people(topics = 40)
    spark.sql("""CREATE OR REPLACE TEMP VIEW jobs_lbl AS
      SELECT id AS ba, CAST(id % 7 AS INT) AS nage FROM range(1900, 2100)""")
    val stmts = Seq(
      s"UPDATE $t SET age = age + 1 WHERE ba BETWEEN 10 AND 400",
      s"""MERGE INTO $t t USING jobs_lbl s ON t.ba = s.ba
        WHEN MATCHED AND s.nage = 0 THEN DELETE
        WHEN MATCHED THEN UPDATE SET age = s.nage
        WHEN NOT MATCHED THEN INSERT (name, age, ba, topic) VALUES ('m', s.nage, s.ba, 't0')""",
      s"DELETE FROM $t WHERE ba BETWEEN 500 AND 599")
    stmts.foreach { q =>
      val (_, descs) = described(spark.sql(q))
      assert(descs.nonEmpty, q)
      assert(descs.forall(_.startsWith("graft: ")), s"$q ran unlabeled jobs: ${descs.mkString("; ")}")
    }
  }
}
