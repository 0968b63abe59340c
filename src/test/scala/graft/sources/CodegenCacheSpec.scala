package graft.sources

import org.apache.spark.metrics.source.CodegenMetrics

import graft.SparkTestBase

/** Generated classes compile once per JVM. Spark caches compiled
  * classes by (class loader, source body) up to
  * `spark.sql.codegen.cache.maxEntries`; `GraftSession.tune` sizes that
  * cache to the engine's working set (at Spark's default of 100 the
  * mix below recompiles most of its classes). Compiles are counted with
  * Spark's own
  * `CodegenMetrics.METRIC_COMPILATION_TIME` (one sample per Janino
  * compile), so the pins do not depend on host speed. */
class CodegenCacheSpec extends SparkTestBase {

  private def compiles[T](f: => T): (T, Long) = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val r = f
    (r, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
  }

  /** A catalog table of 2,000 rows partitioned over four topics. */
  private def people(): String = {
    val ns = graftNamespace("cg")
    val t = s"graft.$ns.people"
    spark.sql(s"CREATE TABLE $t (name STRING, age INT, ba BIGINT, topic STRING) PARTITIONED BY (topic)")
    spark.sql(s"INSERT INTO $t SELECT 'p', CAST(id % 100 AS INT), id, concat('t', id % 4) " +
      "FROM range(0, 2000)")
    t
  }

  test("a repeated SELECT/UPDATE/MERGE/DELETE mix compiles no new classes the second time") {
    val t = people()
    val mix = Seq(
      s"""SELECT d.label, count(*) AS n, sum(p.age) AS s
          FROM $t p JOIN (SELECT concat('t', id) AS topic, id AS label FROM range(4)) d
          ON p.topic = d.topic WHERE p.age < 50 GROUP BY d.label ORDER BY d.label""",
      s"UPDATE $t SET age = age + 1, name = 'u' WHERE ba % 10 = 3",
      s"""MERGE INTO $t t USING (SELECT id AS ba, 'm' AS name FROM range(1900, 2100)) s
          ON t.ba = s.ba
          WHEN MATCHED AND t.age > 90 THEN DELETE
          WHEN MATCHED THEN UPDATE SET t.name = s.name
          WHEN NOT MATCHED THEN INSERT (name, age, ba, topic)
            VALUES (s.name, 0, s.ba, concat('t', s.ba % 4))""",
      s"DELETE FROM $t WHERE age = 7",
      s"""SELECT * FROM (SELECT topic, ba, row_number() OVER (PARTITION BY topic ORDER BY age DESC, ba) AS r
          FROM $t) WHERE r <= 3""",
      s"""SELECT age % 10 AS b, count(DISTINCT topic) AS t, max(ba) AS m, avg(age) AS a,
          approx_count_distinct(name) AS n FROM $t GROUP BY age % 10""",
      s"UPDATE $t SET name = concat(name, '+') WHERE age BETWEEN 20 AND 22",
      s"""SELECT p.topic, q.name, count(*) AS n FROM $t p
          JOIN (SELECT topic, max(name) AS name FROM $t WHERE age > 80 GROUP BY topic) q
          ON p.topic = q.topic GROUP BY p.topic, q.name ORDER BY p.topic""")
    // deletion vectors from the start, so both rounds read the same
    // plan shapes
    spark.sql(s"DELETE FROM $t WHERE ba = 0")
    def round(): Seq[Long] = mix.map(q => compiles(spark.sql(q).collect())._2)
    val first = round()
    info(s"the first round compiled ${first.sum} classes")
    assert(first.sum > 0, "the first round should compile its classes")
    val second = round()
    assert(second.sum == 0, "the second round of identical statements compiled " +
      s"${second.sum} new classes (per statement: ${second.mkString(", ")})")
  }

  test("UPDATE and MERGE compile the same classes whatever the matched-file count") {
    val t = people()
    // hits in two topics' files, then in all four
    spark.sql(s"INSERT INTO $t SELECT 'hit', 1, id, concat('t', id % 2) FROM range(3000, 3010)")
    val update = s"UPDATE $t SET age = age + 1 WHERE name = 'hit'"
    val merge = s"""MERGE INTO $t t USING (SELECT id AS ba FROM range(3000, 3100)) s
                    ON t.ba = s.ba WHEN MATCHED THEN UPDATE SET t.age = t.age + 1"""
    spark.sql(update).collect()
    spark.sql(merge).collect()
    spark.sql(s"INSERT INTO $t SELECT 'hit', 1, id, concat('t', id % 4) FROM range(3010, 3040)")
    val (_, n) = compiles {
      spark.sql(update).collect()
      spark.sql(merge).collect()
    }
    assert(n == 0, s"more matched files compiled $n new classes")
  }
}
