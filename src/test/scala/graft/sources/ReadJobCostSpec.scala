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

  /** A partitioned catalog table of 2,000 rows over 4 topics. */
  private def people(): (String, String) = {
    val ns = "jobs" + java.util.UUID.randomUUID().toString.take(6).replace("-", "")
    spark.sql(s"CREATE NAMESPACE graft.$ns")
    val t = s"graft.$ns.people"
    spark.sql(s"CREATE TABLE $t (name STRING, age INT, ba BIGINT, topic STRING) PARTITIONED BY (topic)")
    spark.sql(s"INSERT INTO $t SELECT 'p', CAST(id % 100 AS INT), id, concat('t', id % 4) " +
      "FROM range(0, 2000)")
    (t, s"/tmp/graft/lake/$ns/people")
  }

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
}
