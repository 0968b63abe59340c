package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.ingest.{ProduceJob, Snapshots}

/** SQL row-level DML (UPDATE / MERGE INTO) over graft tables: the
  * GraftDml lowering must honor SQL semantics (simultaneous
  * assignment, first-wins clauses, the cardinality rule), rewrite only
  * matched files, keep old versions readable, and feed the CDC. */
class GraftDmlSpec extends SparkTestBase {

  private def fresh(tag: String): (String, String) = {
    val root = s"/tmp/graft/dmlspec-$tag-" +
      java.util.UUID.randomUUID().toString.take(8)
    new java.io.File(root).mkdirs()
    // several files with disjoint contiguous ba spans (range partitions)
    withMultiFileWrites { ProduceJob.produceBatch(spark, root, "t", topics = 1, numMessages = 4000) }
    val tbl = "dml_" + tag
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl USING graft OPTIONS (path '$root/t')")
    (root, tbl)
  }

  test("UPDATE rewrites only files containing matches; v0 stays readable") {
    val (root, tbl) = fresh("upd")
    val v0Files = Snapshots.snapshot(root, "t").get.files
    assert(v0Files.size > 1, "fixture must span several files")
    spark.sql(s"UPDATE $tbl SET name = 'upd', ba = ba + 100000 WHERE ba >= 3990")
    val v1 = Snapshots.snapshot(root, "t").get
    assert(v1.op == "update")
    // a selective predicate touches ONE range-partitioned file
    assert(v1.removed.size == 1, s"rewrote ${v1.removed}")
    assert((v0Files.toSet -- v1.files.toSet) == v1.removed.toSet)
    val r = spark.sql(
      s"SELECT count(*) cnt, sum(ba) s, count(if(name='upd',1,null)) u FROM $tbl")
      .head()
    assert(r.getLong(0) == 4000L)
    assert(r.getLong(2) == 10L)
    assert(r.getLong(1) == (0L until 4000L).sum + 10L * 100000L)
    // snapshot isolation: v0 unchanged
    val v0 = spark.read.format("graft").option("version", "0").load(s"$root/t")
    assert(v0.agg(sum("ba")).head().getLong(0) == (0L until 4000L).sum)
    // CDC carries both images
    val feed = Snapshots.readChangeFeed(spark, root, "t", fromVersion = 0)
      .groupBy("_change_type").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(feed.get("update_preimage").contains(10L))
    assert(feed.get("update_postimage").contains(10L))
  }

  test("UPDATE assignments are simultaneous (swap) and NULL-predicate keeps rows") {
    val (root, tbl) = fresh("swap")
    val before = spark.sql(s"SELECT age, score FROM $tbl WHERE ba = 7").head()
    spark.sql(s"UPDATE $tbl SET age = CAST(score AS INT), score = CAST(age AS DOUBLE) WHERE ba = 7")
    val after = spark.sql(s"SELECT age, score FROM $tbl WHERE ba = 7").head()
    assert(after.getInt(0) == before.getDouble(1).toInt)
    assert(after.getDouble(1) == before.getInt(0).toDouble)
    // NULL predicate keeps the row: no match -> no new version
    val v = Snapshots.snapshot(root, "t").get.version
    spark.sql(s"UPDATE $tbl SET name = 'x' WHERE CAST(NULL AS BOOLEAN)")
    assert(Snapshots.snapshot(root, "t").get.version == v)
  }

  test("MERGE: all three clause families, first-wins order") {
    val (root, tbl) = fresh("merge")
    spark.sql("""CREATE OR REPLACE TEMP VIEW dml_src AS
      SELECT * FROM VALUES (5L, 'M5'), (7L, 'M7'), (9000L, 'NEW'),
                           (9001L, 'SKIP') AS v(ba, tag)""")
    spark.sql(s"""MERGE INTO $tbl t USING dml_src s
      ON t.ba = s.ba
      WHEN MATCHED AND s.tag = 'M5' THEN UPDATE SET name = s.tag
      WHEN MATCHED THEN DELETE
      WHEN NOT MATCHED AND s.tag != 'SKIP' THEN INSERT (ba, name) VALUES (s.ba, s.tag)""")
    val rows = spark.sql(
      s"SELECT ba, name FROM $tbl WHERE ba IN (5, 7, 9000, 9001) ORDER BY ba")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq == Seq((5L, "M5"), (9000L, "NEW"))) // 7 deleted, SKIP not inserted
    assert(spark.sql(s"SELECT count(*) FROM $tbl").head().getLong(0) == 4000L)
    val feed = Snapshots.readChangeFeed(spark, root, "t", fromVersion = 0)
      .groupBy("_change_type").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(feed.get("delete").contains(1L))
    assert(feed.get("insert").contains(1L))
    assert(feed.get("update_postimage").contains(1L))
  }

  test("MERGE: WHEN NOT MATCHED BY SOURCE reaches unmatched target rows") {
    val (_, tbl) = fresh("nmbs")
    spark.sql("""CREATE OR REPLACE TEMP VIEW dml_keep AS
      SELECT CAST(id AS BIGINT) AS ba FROM range(0, 3000)""")
    spark.sql(s"""MERGE INTO $tbl t USING dml_keep s
      ON t.ba = s.ba
      WHEN NOT MATCHED BY SOURCE AND t.ba < 3500 THEN UPDATE SET name = 'orphan'
      WHEN NOT MATCHED BY SOURCE THEN DELETE""")
    val r = spark.sql(
      s"""SELECT count(*) cnt, count(if(name = 'orphan', 1, null)) o,
                 max(ba) mx FROM $tbl""").head()
    assert(r.getLong(0) == 3500L) // 3500..3999 deleted
    assert(r.getLong(1) == 500L)  // 3000..3499 tagged
    assert(r.getLong(2) == 3499L)
  }

  test("MERGE: >1 firing source row per target row is refused") {
    val (_, tbl) = fresh("card")
    spark.sql("""CREATE OR REPLACE TEMP VIEW dml_dup AS
      SELECT * FROM VALUES (5L, 'a'), (5L, 'b') AS v(ba, tag)""")
    val e = intercept[Exception] {
      spark.sql(s"""MERGE INTO $tbl t USING dml_dup s ON t.ba = s.ba
        WHEN MATCHED THEN UPDATE SET name = s.tag""")
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(e).exists(_.isInstanceOf[Snapshots.MergeCardinalityException]),
      e.toString)
    // an UNFIRED extra match is harmless (modification-scoped rule)
    spark.sql("""CREATE OR REPLACE TEMP VIEW dml_dup2 AS
      SELECT * FROM VALUES (5L, 'a'), (5L, 'b') AS v(ba, tag)""")
    spark.sql(s"""MERGE INTO $tbl t USING dml_dup2 s ON t.ba = s.ba
      WHEN MATCHED AND s.tag = 'a' THEN UPDATE SET name = s.tag""")
    assert(spark.sql(s"SELECT name FROM $tbl WHERE ba = 5").head().getString(0) == "a")
  }

  test("MERGE: a target row matched twice, one pair firing, is written once") {
    val (_, tbl) = fresh("card1")
    spark.sql("""CREATE OR REPLACE TEMP VIEW dml_one AS
      SELECT * FROM VALUES (5L, 'a'), (5L, 'b') AS v(ba, tag)""")
    spark.sql(s"""MERGE INTO $tbl t USING dml_one s ON t.ba = s.ba
      WHEN MATCHED AND s.tag = 'b' THEN UPDATE SET name = s.tag""")
    val rows = spark.sql(s"SELECT name FROM $tbl WHERE ba = 5").collect().map(_.getString(0))
    assert(rows.toSeq == Seq("b"))
    assert(spark.sql(s"SELECT count(*) FROM $tbl").head().getLong(0) == 4000L)
  }

  test("MERGE: a target row matched twice, no pair firing, survives once") {
    val (_, tbl) = fresh("card0")
    val before = spark.sql(s"SELECT name FROM $tbl WHERE ba = 5").head().getString(0)
    spark.sql("""CREATE OR REPLACE TEMP VIEW dml_none AS
      SELECT * FROM VALUES (5L, 'a'), (5L, 'b') AS v(ba, tag)""")
    spark.sql(s"""MERGE INTO $tbl t USING dml_none s ON t.ba = s.ba
      WHEN MATCHED AND s.tag = 'z' THEN UPDATE SET name = s.tag
      WHEN MATCHED AND s.tag = 'y' THEN DELETE""")
    val rows = spark.sql(s"SELECT name FROM $tbl WHERE ba = 5").collect().map(_.getString(0))
    assert(rows.toSeq == Seq(before))
    assert(spark.sql(s"SELECT count(*) FROM $tbl").head().getLong(0) == 4000L)
  }

  test("MERGE: a refused cardinality leaves no new version and no new data file") {
    val (root, tbl) = fresh("cardnone")
    def dataFiles(): Set[String] = {
      val lake = java.nio.file.Paths.get(root)
      scala.util.Using.resource(java.nio.file.Files.walk(lake))(_.iterator.asScala
        .filter(p => java.nio.file.Files.isRegularFile(p)).map(lake.relativize(_).toString).toSet)
    }
    val v0 = Snapshots.snapshot(root, "t").get.version
    val files0 = dataFiles()
    spark.sql("""CREATE OR REPLACE TEMP VIEW dml_two AS
      SELECT * FROM VALUES (5L, 'a'), (5L, 'b'), (9000L, 'n') AS v(ba, tag)""")
    intercept[Exception] {
      spark.sql(s"""MERGE INTO $tbl t USING dml_two s ON t.ba = s.ba
        WHEN MATCHED THEN UPDATE SET name = s.tag
        WHEN NOT MATCHED THEN INSERT (ba, name) VALUES (s.ba, s.tag)""")
    }
    assert(Snapshots.snapshot(root, "t").get.version == v0)
    assert(dataFiles() == files0)
  }

  test("an absent observed metric fails loudly instead of reading as empty") {
    val df = spark.range(3).toDF("x")
    df.collect()
    val e = intercept[IllegalStateException](Snapshots.observedMetric(df, "graft_missing"))
    assert(e.getMessage.contains("graft_missing"))
    val seen = spark.range(3).toDF("x").observe("graft_seen", count(lit(1)))
    seen.collect()
    assert(Snapshots.observedMetric(seen, "graft_seen").getLong(0) == 3L)
  }

  test("an UPDATE matching no row confirms the empty match on its frame, then commits nothing") {
    val (root, tbl) = fresh("nomatch")
    val v0 = Snapshots.snapshot(root, "t").get.version
    val (_, descs) = org.apache.spark.graftspec.JobCounter.descriptions(spark.sparkContext)(
      spark.sql(s"UPDATE $tbl SET name = 'x' WHERE length(name) > 1000"))
    assert(descs.contains("graft: update no-match check"), descs.mkString("; "))
    assert(Snapshots.snapshot(root, "t").get.version == v0)
  }

  test("MERGE: pure insert against a matching-nothing source hits no target file") {
    val (root, tbl) = fresh("ins")
    val v0 = Snapshots.snapshot(root, "t").get
    spark.sql("""CREATE OR REPLACE TEMP VIEW dml_new AS
      SELECT * FROM VALUES (90001L, 'n1'), (90002L, 'n2') AS v(ba, tag)""")
    spark.sql(s"""MERGE INTO $tbl t USING dml_new s ON t.ba = s.ba
      WHEN NOT MATCHED THEN INSERT (ba, name) VALUES (s.ba, s.tag)""")
    val v1 = Snapshots.snapshot(root, "t").get
    assert(v1.removed.isEmpty, "pure insert must rewrite nothing")
    assert(v0.files.forall(v1.files.contains))
    assert(spark.sql(s"SELECT count(*) FROM $tbl").head().getLong(0) == 4002L)
  }

  test("MERGE attribution prunes candidate files via manifest stats (literally)") {
    val (root, tbl) = fresh("prune")
    val snap = Snapshots.snapshot(root, "t").get
    // a file whose ba range is provably outside the merge keys [0, 50]:
    // rename its bytes away — if attribution opened it, the read fails
    val far = snap.stats.find(s => s.column == "ba" && s.typ == "L" && s.min >= 3000)
      .getOrElse(fail("fixture lacks a far-range file stat")).file
    val base = java.nio.file.Paths.get(s"$root/t")
    java.nio.file.Files.move(base.resolve(far), base.resolve(far + ".hidden"))
    try {
      spark.sql("""CREATE OR REPLACE TEMP VIEW prune_src AS
        SELECT * FROM VALUES (5L, 'p5'), (42L, 'p42') AS v(ba, tag)""")
      // MERGE, UPDATE, and DELETE must all succeed WITHOUT the far
      // file's bytes present — stat pruning keeps their attribution /
      // hit scans from ever opening it
      spark.sql(s"""MERGE INTO $tbl t USING prune_src s ON t.ba = s.ba
        WHEN MATCHED THEN UPDATE SET name = s.tag""")
      spark.sql(s"UPDATE $tbl SET name = 'u' WHERE ba >= 20 AND ba < 25")
      spark.sql(s"DELETE FROM $tbl WHERE ba >= 30 AND ba < 35")
    } finally {
      java.nio.file.Files.move(base.resolve(far + ".hidden"), base.resolve(far))
    }
    val r = spark.sql(
      s"SELECT name FROM $tbl WHERE ba IN (5, 20, 42) ORDER BY ba")
      .collect().map(_.getString(0)).toSeq
    assert(r == Seq("p5", "u", "p42"))
    assert(spark.sql(s"SELECT count(*) FROM $tbl").head().getLong(0) == 3995L)
    // the far file is back and was never rewritten
    assert(Snapshots.snapshot(root, "t").get.files.contains(far))
  }

  test("UPDATE and MERGE assign nested struct fields (named_struct lowering)") {
    val root = s"/tmp/graft/dmlspec-nest-" +
      java.util.UUID.randomUUID().toString.take(8)
    new java.io.File(root).mkdirs()
    val tbl = "dml_nest"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"""CREATE TABLE $tbl (
      id BIGINT, st STRUCT<a: BIGINT, b: STRING>, note STRING)
      USING graft OPTIONS (path '$root/t')""")
    spark.sql(s"""INSERT INTO $tbl
      SELECT id, IF(id = 99, CAST(NULL AS STRUCT<a: BIGINT, b: STRING>),
                    named_struct('a', id, 'b', concat('b', id))), 'orig'
      FROM range(0, 100)""")
    // sub-field SET: other fields copy through; values see the OLD row
    // (st.a doubles FROM the pre-image even though st is being rebuilt)
    spark.sql(s"UPDATE $tbl SET st.a = st.a * 2, note = 'u' WHERE id IN (3, 4)")
    val r = spark.sql(
      s"SELECT st.a, st.b, note FROM $tbl WHERE id IN (3, 4) ORDER BY id")
      .collect().map(x => (x.getLong(0), x.getString(1), x.getString(2))).toSeq
    assert(r == Seq((6L, "b3", "u"), (8L, "b4", "u")))
    // assigning a field of a NULL struct yields a non-null struct with
    // the other fields null (Delta's nested-update semantics)
    spark.sql(s"UPDATE $tbl SET st.a = 500 WHERE id = 99")
    val n = spark.sql(s"SELECT st.a, st.b FROM $tbl WHERE id = 99").head()
    assert(n.getLong(0) == 500L && n.isNullAt(1))
    // MERGE clause-level nested assignment
    spark.sql("""CREATE OR REPLACE TEMP VIEW nest_src AS
      SELECT CAST(7 AS BIGINT) AS id, 'merged' AS tag""")
    spark.sql(s"""MERGE INTO $tbl t USING nest_src s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET st.b = s.tag""")
    val m = spark.sql(s"SELECT st.a, st.b FROM $tbl WHERE id = 7").head()
    assert(m.getLong(0) == 7L && m.getString(1) == "merged")
    // a path and its prefix in one SET is ambiguous — refused
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    val e = intercept[Exception] {
      spark.sql(s"UPDATE $tbl SET st = named_struct('a', CAST(1 AS BIGINT), " +
        s"'b', 'x'), st.a = 2 WHERE id = 1")
    }
    assert(causes(e).exists(c => c.isInstanceOf[UnsupportedOperationException] &&
      c.getMessage.contains("conflicting")), e.toString)
  }

  test("UPDATE and DELETE accept uncorrelated IN-subqueries (distributed, no collect)") {
    val (root, tbl) = fresh("subq")
    // UPDATE via IN (SELECT …): 10 rows tagged
    spark.sql(s"UPDATE $tbl SET name = 'bad' " +
      s"WHERE ba IN (SELECT CAST(id AS BIGINT) * 10 FROM range(10))")
    assert(spark.sql(s"SELECT count(*) FROM $tbl WHERE name = 'bad'")
      .head().getLong(0) == 10L)
    // DELETE via IN (SELECT …): the exact rows leave; the rest survive
    spark.sql(s"DELETE FROM $tbl WHERE ba IN (SELECT CAST(id AS BIGINT) * 10 FROM range(10))")
    assert(spark.sql(s"SELECT count(*) FROM $tbl").head().getLong(0) == 3990L)
    assert(spark.sql(s"SELECT count(*) FROM $tbl WHERE ba % 10 = 0 AND ba < 100")
      .head().getLong(0) == 0L)
    // scalar subquery in a SET value and in a DELETE bound
    spark.sql(s"UPDATE $tbl SET age = (SELECT CAST(max(id) AS INT) FROM range(7)) WHERE ba = 11")
    assert(spark.sql(s"SELECT age FROM $tbl WHERE ba = 11").head().getInt(0) == 6)
    spark.sql(s"DELETE FROM $tbl WHERE ba > (SELECT max(CAST(id AS BIGINT)) FROM range(3990))")
    assert(spark.sql(s"SELECT max(ba) FROM $tbl").head().getLong(0) == 3989L)
    // old versions stay readable (MoR delete + CoW updates chained)
    val v0 = spark.read.format("graft").option("version", "0").load(s"$root/t")
    assert(v0.count() == 4000L)
  }

  test("MERGE clause conditions accept uncorrelated subqueries") {
    val (_, tbl) = fresh("msubq")
    spark.sql("""CREATE OR REPLACE TEMP VIEW msubq_src AS
      SELECT * FROM VALUES (1L, 'a'), (2L, 'b'), (3L, 'c') AS v(ba, tag)""")
    // the DELETE clause fires only for keys inside the subquery set
    spark.sql(s"""MERGE INTO $tbl t USING msubq_src s
      ON t.ba = s.ba
      WHEN MATCHED AND t.ba IN (SELECT CAST(id AS BIGINT) FROM range(2)) THEN DELETE
      WHEN MATCHED THEN UPDATE SET name = s.tag""")
    val rows = spark.sql(s"SELECT ba, name FROM $tbl WHERE ba < 4 ORDER BY ba")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((0L, "hangc"), (2L, "b"), (3L, "c"))) // ba=1 deleted
  }

  test("MERGE clause conditions accept equality-correlated EXISTS on target AND source columns") {
    val (_, tbl) = fresh("mcorr")
    spark.sql("""CREATE OR REPLACE TEMP VIEW mcorr_src AS
      SELECT * FROM VALUES (1L, 10L), (2L, 20L), (3L, 30L) AS v(ba, bump)""")
    // whitelist view: keys 1 and 3 (correlates to the TARGET's ba) and
    // bumps 20 (correlates to the SOURCE's bump — exercises the
    // _graft_src_ rename inside the lifted correlation text)
    spark.sql("""CREATE OR REPLACE TEMP VIEW mcorr_allow AS
      SELECT * FROM VALUES (1L, 'k'), (3L, 'k'), (20L, 'b') AS v(k, kind)""")
    spark.sql(s"""MERGE INTO $tbl t USING mcorr_src s
      ON t.ba = s.ba
      WHEN MATCHED AND EXISTS (
        SELECT 1 FROM mcorr_allow a WHERE a.k = t.ba AND a.kind = 'k')
        THEN UPDATE SET age = 801
      WHEN MATCHED AND EXISTS (
        SELECT 1 FROM mcorr_allow a WHERE a.k = s.bump AND a.kind = 'b')
        THEN UPDATE SET age = 802""")
    val rows = spark.sql(s"SELECT ba, age FROM $tbl WHERE ba IN (1, 2, 3) ORDER BY ba")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    // ba=1: first clause (target-correlated) fires; ba=2: only the
    // source-correlated clause matches (bump=20 allowed); ba=3: first
    assert(rows == Seq((1L, 801), (2L, 802), (3L, 801)), rows.toString)
    // round 12: a RESIDUAL range conjunct in a MERGE clause whose
    // outer side is a SOURCE column — the residual's re-emitted text
    // must carry the _graft_src_ rename (a.k = s.ba equi key keeps
    // the hash join; a.k * 10 <= s.bump is the residual). Allowed
    // pairs: (1,'k')→10≤10 ✓, (3,'k')→30≤30 ✓, so ba 1 and 3 fire.
    spark.sql(s"""MERGE INTO $tbl t USING mcorr_src s
      ON t.ba = s.ba
      WHEN MATCHED AND EXISTS (
        SELECT 1 FROM mcorr_allow a
        WHERE a.k = s.ba AND a.kind = 'k' AND a.k * 10 <= s.bump)
        THEN UPDATE SET age = 803""")
    val rows2 = spark.sql(s"SELECT ba, age FROM $tbl WHERE ba IN (1, 2, 3) ORDER BY ba")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(rows2 == Seq((1L, 803), (2L, 802), (3L, 803)), rows2.toString)
  }

  test("lifted correlated EXISTS executes as a distributed semi join, not a per-row probe") {
    // the lift's scale claim, checked at the PLAN level: the re-emitted
    // correlated EXISTS must be decorrelated by the optimizer into a
    // (left semi) join inside the copy-on-write rewrite's executed
    // plans — never a per-row subquery evaluation or driver collect
    val (_, tbl) = fresh("corrplan")
    spark.sql("""CREATE OR REPLACE TEMP VIEW corrplan_src AS
      SELECT CAST(id * 2 AS BIGINT) AS k FROM range(100)""")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             ns: Long): Unit = { plans.add(qe.executedPlan.toString); () }
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      spark.sql(s"UPDATE $tbl SET age = 901 WHERE ba < 50 AND " +
        s"EXISTS (SELECT 1 FROM corrplan_src WHERE corrplan_src.k = ba)")
      // listener posts async — wait for the decorrelated join to show
      // up. Spark plans a bare EXISTS filter as LeftSemi and an EXISTS
      // under a conjunction as ExistenceJoin — both are distributed
      // hash joins (observed here: BroadcastHashJoin/ExistenceJoin
      // with the 100-row view broadcast), either satisfies the claim.
      val deadline = System.currentTimeMillis() + 10000
      def hasJoin = plans.toArray(Array.empty[String]).exists(p =>
        p.contains("LeftSemi") || p.contains("ExistenceJoin"))
      while (!hasJoin && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(hasJoin, "no semi/existence join in any executed plan:\n" +
        plans.toArray(Array.empty[String]).mkString("\n---\n").take(4000))
    } finally spark.listenerManager.unregister(listener)
    // and the rewrite itself is correct: even ba < 50 updated
    assert(spark.sql(s"SELECT count(*) FROM $tbl WHERE age = 901").head().getLong(0) == 25L)
  }

  test("subquery temp views are session-invisible after the command (finally-drop)") {
    val (_, tbl) = fresh("viewdrop")
    spark.sql(s"DELETE FROM $tbl WHERE ba IN (SELECT CAST(id AS BIGINT) FROM range(5))")
    spark.sql(s"UPDATE $tbl SET name = 'x' WHERE ba IN (SELECT CAST(id AS BIGINT) + 5 FROM range(5))")
    val lingering = spark.catalog.listTables().collect()
      .filter(_.name.startsWith("graft_subq_"))
    assert(lingering.isEmpty, lingering.map(_.name).mkString(", "))
    // and the failure path drops them too (correlated refusal happens
    // at ANALYSIS, before views exist; force a RUN-time failure via a
    // subquery whose evaluation explodes)
    intercept[Exception] {
      spark.sql(s"DELETE FROM $tbl WHERE ba IN " +
        "(SELECT CAST(raise_error('boom') AS BIGINT) FROM range(1))")
    }
    assert(spark.catalog.listTables().collect()
      .forall(!_.name.startsWith("graft_subq_")))
  }

  test("subquery DELETE works through the catalog route too") {
    spark.sql("DROP NAMESPACE IF EXISTS graft.dmlsubq CASCADE")
    spark.sql("CREATE NAMESPACE graft.dmlsubq")
    spark.sql("CREATE TABLE graft.dmlsubq.t AS SELECT id FROM range(0, 100)")
    spark.sql("DELETE FROM graft.dmlsubq.t WHERE id IN (SELECT id * 2 FROM range(10))")
    assert(spark.table("graft.dmlsubq.t").count() == 90)
  }

  test("equality-correlated scalar subqueries work in SET values and DELETE/UPDATE conditions") {
    val (_, tbl) = fresh("corr")
    spark.sql("""CREATE OR REPLACE TEMP VIEW corr_src AS
      SELECT CAST(id % 10 AS BIGINT) AS k, CAST(id AS INT) AS x FROM range(100)""")
    // SET value: per-row lookup of max(x) over the matching k group —
    // max over {k, k+10, ..., k+90} = k + 90
    spark.sql(s"UPDATE $tbl SET age = (SELECT max(x) FROM corr_src WHERE corr_src.k = ba % 10) " +
      s"WHERE ba < 20")
    val rows = spark.sql(s"SELECT ba, age FROM $tbl WHERE ba < 20 ORDER BY ba")
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    rows.foreach { case (ba, age) => assert(age == (ba % 10 + 90).toInt, s"ba=$ba age=$age") }
    // no-match rows take NULL (standard scalar-subquery semantics)
    spark.sql("""CREATE OR REPLACE TEMP VIEW corr_src2 AS
      SELECT CAST(id AS BIGINT) AS k, CAST(id * 2 AS INT) AS x FROM range(5)""")
    spark.sql(s"UPDATE $tbl SET age = (SELECT max(x) FROM corr_src2 WHERE corr_src2.k = ba) " +
      s"WHERE ba >= 20 AND ba < 30")
    assert(spark.sql(s"SELECT count(*) FROM $tbl WHERE ba >= 20 AND ba < 30 AND age IS NULL")
      .head().getLong(0) == 10L)
    // DELETE bound by a correlated aggregate: remove rows whose ba
    // exceeds their k-group's max x (k in 0..4 → max 2k; rest no match
    // → NULL comparison → not deleted)
    val before = spark.sql(s"SELECT count(*) FROM $tbl").head().getLong(0)
    spark.sql(s"DELETE FROM $tbl WHERE ba < 5 AND " +
      s"ba > (SELECT max(x) FROM corr_src2 WHERE corr_src2.k = ba % 5)")
    // ba in 0..4: max x at k=ba is 2*ba → delete where ba > 2*ba → none
    assert(spark.sql(s"SELECT count(*) FROM $tbl").head().getLong(0) == before)
    spark.sql(s"DELETE FROM $tbl WHERE ba >= 5 AND ba < 10 AND " +
      s"ba > (SELECT min(x) FROM corr_src2 WHERE corr_src2.k = ba - 5)")
    // ba in 5..9: min x at k=ba-5 is 2(ba-5) → delete where ba > 2ba-10 → ba < 10 → all 5
    assert(spark.sql(s"SELECT count(*) FROM $tbl").head().getLong(0) == before - 5)
    // local conjuncts inside the subquery survive the strip
    spark.sql(s"UPDATE $tbl SET age = (SELECT count(*) FROM corr_src " +
      s"WHERE corr_src.k = ba % 10 AND corr_src.x >= 50) WHERE ba >= 30 AND ba < 40")
    assert(spark.sql(s"SELECT count(*) FROM $tbl WHERE ba >= 30 AND ba < 40 AND age = 5")
      .head().getLong(0) == 10L)
  }

  test("correlated-scalar lift is spine-restricted: pathological trees refuse or widen, never mis-lower") {
    // advisor round-11 high finding: the old strip removed correlated
    // Filters ANYWHERE in the subquery tree; when an intervening
    // Project dropped the correlation column, the re-emitted top-level
    // WHERE's bare inner name re-resolved against the UPDATE TARGET
    // (here: `ba = ba`, a tautology) and silently wrote wrong values.
    // The dropped-column shape is now SUPPORTED via sound Project
    // widening (case a); true out-of-contract trees still refuse.
    val (_, tbl) = fresh("corrpatho")
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    def assertRefused(sql: String): Unit = {
      val e = intercept[Exception] { spark.sql(sql) }
      assert(causes(e).exists(c => c.isInstanceOf[UnsupportedOperationException] &&
        c.getMessage.contains("correlated or nested subqueries")), e.toString)
    }
    // source shares the target's column name `ba` so a mis-lower would
    // be SILENT (tautology), not an analysis error — the dangerous case
    spark.sql("""CREATE OR REPLACE TEMP VIEW patho_src AS
      SELECT CAST(id % 5 AS BIGINT) AS ba, CAST(id AS INT) AS x FROM range(50)""")
    // (a) intervening Project DROPS the correlation column: the lift
    // WIDENS the derived table's output with the original attribute
    // (pure column addition), renames it into the view namespace, and
    // the re-emitted correlation references the renamed column — never
    // the old silent `WHERE ba = ba` tautology against the target.
    // Group ba=k has x ∈ {k, k+5, …, k+45} → max(x+1) = k + 46.
    spark.sql(s"UPDATE $tbl SET age = (SELECT max(y) FROM " +
      s"(SELECT x + 1 AS y FROM patho_src WHERE patho_src.ba = dml_corrpatho.ba) sub) " +
      s"WHERE ba < 5")
    val widened = spark.sql(s"SELECT ba, age FROM $tbl WHERE ba < 5 ORDER BY ba")
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    widened.foreach { case (ba, age) => assert(age == (ba + 46).toInt, s"ba=$ba age=$age") }
    // (a') widening APPENDS even when the column's name is already
    // taken by a different output (`x AS ba` shadows the correlation
    // column `ba`): viewAndCond disambiguates duplicate view names
    // positionally, so the correlation references exactly the widened
    // column — round 11 refused this shape, round 12 lifts it.
    // Same algebra as (a): max(x+1) over group ba=k is k+46.
    spark.sql(s"UPDATE $tbl SET age = -1 WHERE ba < 5")
    spark.sql(s"UPDATE $tbl SET age = (SELECT max(y) FROM " +
      s"(SELECT x AS ba, x + 1 AS y FROM patho_src WHERE patho_src.ba = dml_corrpatho.ba) sub) " +
      s"WHERE ba < 5")
    val shadowed = spark.sql(s"SELECT ba, age FROM $tbl WHERE ba < 5 ORDER BY ba")
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    shadowed.foreach { case (ba, age) => assert(age == (ba + 46).toInt, s"ba=$ba age=$age") }
    // (a'') names differing only by CASE collide under Spark's default
    // case-insensitive resolution (round-11 advisor finding: this
    // slipped past the old case-sensitive shadow check into a raw
    // AnalysisException) — positional disambiguation lifts it too
    spark.sql(s"UPDATE $tbl SET age = -1 WHERE ba < 5")
    spark.sql(s"UPDATE $tbl SET age = (SELECT max(y) FROM " +
      s"(SELECT x AS BA, x + 1 AS y FROM patho_src WHERE patho_src.ba = dml_corrpatho.ba) sub) " +
      s"WHERE ba < 5")
    val cased = spark.sql(s"SELECT ba, age FROM $tbl WHERE ba < 5 ORDER BY ba")
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    cased.foreach { case (ba, age) => assert(age == (ba + 46).toInt, s"ba=$ba age=$age") }
    // (b) correlated Filter below an inner Aggregate: it decides GROUP
    // membership — hoisting to a top-level WHERE changes semantics
    assertRefused(s"UPDATE $tbl SET age = CAST((SELECT sum(cnt) FROM " +
      s"(SELECT count(*) AS cnt FROM patho_src " +
      s"WHERE patho_src.ba = dml_corrpatho.ba GROUP BY patho_src.x) g) AS INT) " +
      s"WHERE ba < 5")
    // (c) positive control — an intervening Project/derived table that
    // KEEPS the correlation column still lifts and computes correctly
    spark.sql(s"UPDATE $tbl SET age = (SELECT max(y) FROM " +
      s"(SELECT ba AS k, x + 1 AS y FROM patho_src) sub WHERE sub.k = dml_corrpatho.ba) " +
      s"WHERE ba < 5")
    // group k has x ∈ {k, k+5, …, k+45} → max(x+1) = k + 46
    val rows = spark.sql(s"SELECT ba, age FROM $tbl WHERE ba < 5 ORDER BY ba")
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    rows.foreach { case (ba, age) => assert(age == (ba + 46).toInt, s"ba=$ba age=$age") }
  }

  test("equality-correlated EXISTS/NOT EXISTS and IN/NOT IN lift to distributed joins") {
    val (_, tbl) = fresh("correx")
    // k = even numbers 0..198; x = id % 7 (dropped by the IN's select
    // list below → exercises the widening through a temp-view alias)
    spark.sql("""CREATE OR REPLACE TEMP VIEW correx_src AS
      SELECT CAST(id * 2 AS BIGINT) AS k, CAST(id % 7 AS BIGINT) AS x FROM range(100)""")
    // EXISTS: even ba < 200 match
    spark.sql(s"UPDATE $tbl SET age = 701 WHERE ba < 200 AND " +
      s"EXISTS (SELECT 1 FROM correx_src WHERE correx_src.k = ba)")
    // NOT EXISTS: odd ba < 200 (the same lifted EXISTS under NOT)
    spark.sql(s"UPDATE $tbl SET age = 702 WHERE ba < 200 AND " +
      s"NOT EXISTS (SELECT 1 FROM correx_src WHERE correx_src.k = ba)")
    val byAge = spark.sql(
      s"SELECT age, count(*) FROM $tbl WHERE ba < 200 GROUP BY age ORDER BY age")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(byAge == Map(701 -> 100L, 702 -> 100L), byAge.toString)
    // correlated IN whose select list drops the correlation column x:
    // (ba - 200) IN {k : k even < 200, (k/2) % 7 = ba % 7}
    spark.sql(s"UPDATE $tbl SET age = 703 WHERE ba >= 200 AND ba < 300 AND " +
      s"(ba - 200) IN (SELECT k FROM correx_src WHERE correx_src.x = ba % 7)")
    val expIn = (200L until 300L).count { ba =>
      val b = ba - 200
      b % 2 == 0 && (b / 2) % 7 == ba % 7
    }
    assert(expIn > 0, "fixture must produce matches")
    assert(spark.sql(s"SELECT count(*) FROM $tbl WHERE age = 703").head().getLong(0) == expIn.toLong)
    // correlated NOT IN: null-free rhs → complement within the band
    spark.sql(s"UPDATE $tbl SET age = 704 WHERE ba >= 300 AND ba < 400 AND " +
      s"(ba - 300) NOT IN (SELECT k FROM correx_src WHERE correx_src.x = ba % 7)")
    val expNotIn = (300L until 400L).count { ba =>
      val b = ba - 300
      !(b % 2 == 0 && (b / 2) % 7 == ba % 7)
    }
    assert(spark.sql(s"SELECT count(*) FROM $tbl WHERE age = 704").head().getLong(0) == expNotIn.toLong)
    // correlated EXISTS in a DELETE condition → distributed semi join
    val before = spark.sql(s"SELECT count(*) FROM $tbl").head().getLong(0)
    spark.sql(s"DELETE FROM $tbl WHERE ba >= 3900 AND " +
      s"EXISTS (SELECT 1 FROM correx_src WHERE correx_src.k = ba - 3800)")
    // ba ∈ [3900, 4000): ba-3800 ∈ [100, 200) even → 50 rows
    assert(spark.sql(s"SELECT count(*) FROM $tbl").head().getLong(0) == before - 50)
  }

  test("correlated lifts carry non-equality RESIDUAL conjuncts (equi key + range)") {
    // round 12: `EXISTS (SELECT 1 FROM s WHERE s.k = t.k AND s.ts >
    // t.ts)` — the equi conjunct is stripped (so decorrelation gets a
    // hash-join key), the range conjunct rides whole into the emitted
    // text. Fixture: rsrc rows (k = id % 10, ts = id) for id 0..49.
    val (_, tbl) = fresh("resid")
    spark.sql("""CREATE OR REPLACE TEMP VIEW resid_src AS
      SELECT CAST(id % 10 AS BIGINT) AS k, CAST(id AS BIGINT) AS ts FROM range(50)""")
    val srcRows = (0L until 50L).map(id => (id % 10, id))
    // EXISTS with residual range — and the scale claim pinned at the
    // PLAN level: the stripped equi key must keep the decorrelated
    // join HASH-based (the residual rides as its join filter); a
    // BroadcastNestedLoopJoin here would mean the lift shipped a
    // correlation Spark could only nested-loop, the exact 100 TB
    // hazard the ≥1-equi-conjunct contract exists to prevent
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             ns: Long): Unit = { plans.add(qe.executedPlan.toString); () }
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      spark.sql(s"UPDATE $tbl SET age = 801 WHERE ba < 100 AND " +
        s"EXISTS (SELECT 1 FROM resid_src WHERE resid_src.k = ba % 10 AND resid_src.ts > ba)")
      // listener posts async; wait for SOME plan containing the
      // decorrelated join to land, then assert the negative
      val deadline = System.currentTimeMillis() + 10000
      def joined = plans.toArray(Array.empty[String]).exists(p =>
        p.contains("LeftSemi") || p.contains("ExistenceJoin"))
      while (!joined && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(joined, "no semi/existence join in any executed plan")
      val all = plans.toArray(Array.empty[String])
      assert(!all.exists(_.contains("BroadcastNestedLoopJoin")),
        "residual lift planned a nested-loop join:\n" +
          all.filter(_.contains("BroadcastNestedLoopJoin")).mkString("\n---\n").take(4000))
    } finally spark.listenerManager.unregister(listener)
    val expExists = (0L until 100L).count { ba =>
      srcRows.exists { case (k, ts) => k == ba % 10 && ts > ba }
    }
    assert(expExists > 0 && expExists < 100, s"fixture degenerate: $expExists")
    assert(spark.sql(s"SELECT count(*) FROM $tbl WHERE age = 801").head().getLong(0)
      == expExists.toLong)
    // correlated scalar aggregate with residual range in a SET value
    spark.sql(s"UPDATE $tbl SET age = CAST((SELECT max(ts) FROM resid_src " +
      s"WHERE resid_src.k = ba % 10 AND resid_src.ts <= ba + 20) AS INT) " +
      s"WHERE ba >= 100 AND ba < 150")
    val scal = spark.sql(s"SELECT ba, age FROM $tbl WHERE ba >= 100 AND ba < 150 ORDER BY ba")
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    scal.foreach { case (ba, age) =>
      val exp = srcRows.filter { case (k, ts) => k == ba % 10 && ts <= ba + 20 }
        .map(_._2).max.toInt
      assert(age == exp, s"ba=$ba age=$age exp=$exp")
    }
    // correlated IN with residual range (select list drops BOTH the
    // equi and the residual columns → widening surfaces each)
    spark.sql(s"UPDATE $tbl SET age = 803 WHERE ba >= 200 AND ba < 300 AND " +
      s"(ba % 50) IN (SELECT ts FROM resid_src " +
      s"WHERE resid_src.k = ba % 10 AND resid_src.ts >= ba % 30)")
    val expIn = (200L until 300L).count { ba =>
      srcRows.exists { case (k, ts) => k == ba % 10 && ts >= ba % 30 && ts == ba % 50 }
    }
    assert(expIn > 0, "fixture must produce matches")
    assert(spark.sql(s"SELECT count(*) FROM $tbl WHERE age = 803").head().getLong(0)
      == expIn.toLong)
    // a PURELY non-equality correlation still refuses (no hash-join
    // key → decorrelation would nested-loop against the table)
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    val e = intercept[Exception] {
      spark.sql(s"UPDATE $tbl SET age = 0 WHERE EXISTS " +
        s"(SELECT 1 FROM resid_src WHERE resid_src.ts > ba)")
    }
    assert(causes(e).exists(c => c.isInstanceOf[UnsupportedOperationException] &&
      c.getMessage.contains("correlated or nested subqueries")), e.toString)
  }

  test("correlated lift disambiguates duplicate view columns (spine self-join) and refuses DISTINCT spines") {
    val (_, tbl) = fresh("dupcol")
    spark.sql("""CREATE OR REPLACE TEMP VIEW dup_a AS
      SELECT CAST(id AS BIGINT) AS k, CAST(id * 10 AS BIGINT) AS v FROM range(10)""")
    spark.sql("""CREATE OR REPLACE TEMP VIEW dup_b AS
      SELECT CAST(id AS BIGINT) AS k, CAST(id * 100 AS BIGINT) AS w FROM range(10)""")
    // the spine Filter sits ABOVE a comma-join whose sides share the
    // column name `k` — the renamed view would carry two
    // `_graft_sqN_k` columns; positional renaming keeps every emitted
    // reference unambiguous. Matches: a.k = ba%10 ∧ a.k = b.k → always
    // exists for ba%10 ∈ [0,10) → all of ba < 30 take 811.
    spark.sql(s"UPDATE $tbl SET age = 811 WHERE ba < 30 AND EXISTS " +
      s"(SELECT * FROM dup_a a, dup_b b " +
      s"WHERE a.k = b.k AND a.k = ba % 10 AND b.w >= a.v)")
    assert(spark.sql(s"SELECT count(*) FROM $tbl WHERE age = 811").head().getLong(0) == 30L)
    // the SAME attribute twice in an IN's select list: the view
    // collapses to one column per exprId (column dedup never changes
    // row multiplicity) and the emitted 2-tuple re-states it by name
    spark.sql(s"UPDATE $tbl SET age = 812 WHERE ba >= 30 AND ba < 60 AND " +
      s"(ba % 10, ba % 10) IN (SELECT k, k FROM dup_a WHERE dup_a.v = (ba % 10) * 10)")
    assert(spark.sql(s"SELECT count(*) FROM $tbl WHERE age = 812").head().getLong(0) == 30L)
    // a DISTINCT in the subquery is a NON-spine node: the correlated
    // Filter below it stays put → clean refusal, never a mis-lower
    // (hoisting across DISTINCT is sound for EXISTS but not for
    // counting aggregates — the contract refuses uniformly)
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    val e = intercept[Exception] {
      spark.sql(s"UPDATE $tbl SET age = CAST((SELECT count(x) FROM " +
        s"(SELECT DISTINCT v AS x FROM dup_a WHERE dup_a.k = ba % 10) d) AS INT) " +
        s"WHERE ba < 5")
    }
    assert(causes(e).exists(c => c.isInstanceOf[UnsupportedOperationException] &&
      c.getMessage.contains("correlated or nested subqueries")), e.toString)
  }

  test("DML refuses correlated subqueries and unknown assignment shapes") {
    val (_, tbl) = fresh("refuse")
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    // correlated beyond the equality contract: a NON-equality
    // correlated conjunct (the equality form now lifts — see the
    // equality-correlated EXISTS/IN test)
    val e = intercept[Exception] {
      spark.sql(s"UPDATE $tbl SET name = 'x' WHERE EXISTS (" +
        s"SELECT 1 FROM range(10) r WHERE CAST(r.id AS BIGINT) > ba)")
    }
    val cause = causes(e).collectFirst {
      case c: UnsupportedOperationException => c
    }
    assert(cause.isDefined, e.toString)
    assert(cause.get.getMessage.contains("correlated or nested subqueries"))
    // parity note pinned (r9 verdict #7): the refusal NAMES the
    // supported alternatives, so the next thing a user tries is in the
    // error text itself
    assert(cause.get.getMessage.contains("supported alternatives"))
    assert(cause.get.getMessage.contains("MERGE INTO"))
  }

  test("DML refuses NESTED subqueries cleanly (pre-scan, not a leaked placeholder token)") {
    val (_, tbl) = fresh("nested")
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    // a subquery inside the IN's lhs: transformUp lifts the inner one
    // first, so without the pre-scan this surfaced as a confusing
    // unresolved `__graft_subq_i__` attribute at run time instead of
    // the intended refusal
    val e = intercept[Exception] {
      spark.sql(s"UPDATE $tbl SET name = 'x' WHERE " +
        "(SELECT max(CAST(id AS BIGINT)) FROM range(3)) IN " +
        "(SELECT CAST(id AS BIGINT) FROM range(10))")
    }
    val all = causes(e)
    assert(all.exists(c => c.isInstanceOf[UnsupportedOperationException] &&
      c.getMessage.contains("correlated or nested subqueries")), e.toString)
    assert(!all.exists(c => Option(c.getMessage).exists(_.contains("__graft_subq_"))),
      "the placeholder token leaked into the error instead of a clean refusal")
  }

  test("NONDETERMINISTIC correlated conjuncts refuse (hoisting changes their evaluation site)") {
    // round-12 advisor (a): a conjunct like rand() < s.v + t.ba is
    // evaluated at a different place and cardinality once hoisted off
    // the spine and re-stated as text (and rand()'s .sql re-seeds on
    // re-parse) — no placement preserves its semantics, so the lift
    // must refuse rather than pick one silently.
    val (_, tbl) = fresh("nondet")
    spark.sql("""CREATE OR REPLACE TEMP VIEW nd_src AS
      SELECT CAST(id % 10 AS BIGINT) AS k, CAST(id AS BIGINT) AS v FROM range(50)""")
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    val e = intercept[Exception] {
      spark.sql(s"UPDATE $tbl SET age = 0 WHERE EXISTS (" +
        s"SELECT 1 FROM nd_src WHERE nd_src.k = ba % 10 " +
        s"AND rand() < nd_src.v + ba)")
    }
    assert(causes(e).exists(c => c.isInstanceOf[UnsupportedOperationException] &&
      c.getMessage.contains("correlated or nested subqueries")), e.toString)
    // a DETERMINISTIC residual of the same shape still lifts
    spark.sql(s"UPDATE $tbl SET age = 831 WHERE ba < 20 AND EXISTS (" +
      s"SELECT 1 FROM nd_src WHERE nd_src.k = ba % 10 AND 0.5 < nd_src.v + ba)")
    assert(spark.sql(s"SELECT count(*) FROM $tbl WHERE age = 831").head().getLong(0) == 20L)
  }

  test("positional view names can never collide with user columns literally named c<i>_<name>") {
    // round-12 ADVICE: under the dup-only scheme, output [c1_k, k, k]
    // rendered TWO _graft_sqN_c1_k view columns (the plain rename of a
    // distinct user column named c1_k vs the positional rename of the
    // dup at index 1) — a spurious ambiguous-reference failure on a
    // liftable shape. Every column is now named positionally, so
    // generated names are mutually distinct by construction.
    val (_, tbl) = fresh("collide")
    spark.sql("""CREATE OR REPLACE TEMP VIEW coll_a AS
      SELECT CAST(id AS BIGINT) AS c1_k, CAST(id AS BIGINT) AS k FROM range(10)""")
    spark.sql("""CREATE OR REPLACE TEMP VIEW coll_b AS
      SELECT CAST(id AS BIGINT) AS k, CAST(id * 10 AS BIGINT) AS v FROM range(10)""")
    // SELECT * output: [c1_k, k, k, v] — k is duplicated, c1_k is the
    // colliding user name. Matches always exist for ba%10 ∈ [0,10):
    // a.k = b.k = ba%10, v = (ba%10)*10 >= c1_k*10 - 5.
    spark.sql(s"UPDATE $tbl SET age = 832 WHERE ba < 30 AND EXISTS " +
      s"(SELECT * FROM coll_a a, coll_b b " +
      s"WHERE a.k = b.k AND a.k = ba % 10 AND b.v >= a.c1_k * 10 - 5)")
    assert(spark.sql(s"SELECT count(*) FROM $tbl WHERE age = 832").head().getLong(0) == 30L)
  }

  test("positional rename under spark.sql.caseSensitive=true (case-only name collisions)") {
    // round-12 advisor (b): columns differing only by case are
    // DISTINCT names under a case-sensitive session — the positional
    // scheme names every view column uniquely regardless of the
    // session's resolution mode.
    val (_, tbl) = fresh("csense")
    val prev = spark.conf.get("spark.sql.caseSensitive")
    spark.conf.set("spark.sql.caseSensitive", "true")
    try {
      spark.sql("""CREATE OR REPLACE TEMP VIEW cs_a AS
        SELECT CAST(id AS BIGINT) AS K, CAST(id * 10 AS BIGINT) AS v FROM range(10)""")
      spark.sql("""CREATE OR REPLACE TEMP VIEW cs_b AS
        SELECT CAST(id AS BIGINT) AS k FROM range(10)""")
      // output [K, v, k]: K and k collide only case-insensitively; the
      // lift must work identically in BOTH resolution modes
      spark.sql(s"UPDATE $tbl SET age = 833 WHERE ba < 30 AND EXISTS " +
        s"(SELECT * FROM cs_a a, cs_b b " +
        s"WHERE a.K = b.k AND b.k = ba % 10 AND a.v >= a.K)")
      assert(spark.sql(s"SELECT count(*) FROM $tbl WHERE age = 833").head().getLong(0) == 30L)
    } finally spark.conf.set("spark.sql.caseSensitive", prev)
    // and the same shape under the DEFAULT case-insensitive session
    spark.sql(s"UPDATE $tbl SET age = 834 WHERE ba >= 30 AND ba < 60 AND EXISTS " +
      s"(SELECT * FROM cs_a a, cs_b b " +
      s"WHERE a.K = b.k AND b.k = ba % 10 AND a.v >= a.K)")
    assert(spark.sql(s"SELECT count(*) FROM $tbl WHERE age = 834").head().getLong(0) == 30L)
  }

  test("MERGE: WHEN NOT MATCHED BY SOURCE carries a correlated residual crossing subquery and target") {
    // round-12 verdict #4: the one clause-scope × residual cell the
    // matrix did not cross — a NOT MATCHED BY SOURCE condition whose
    // correlated subquery carries an equi key (a.k = t.ba % 10) PLUS a
    // residual conjunct referencing both the subquery source and the
    // target in one tree (a.ts > t.ba + 30).
    val (_, tbl) = fresh("mnmbs")
    spark.sql("""CREATE OR REPLACE TEMP VIEW mnmbs_src AS
      SELECT * FROM VALUES (1L), (2L), (3L) AS v(ba)""")
    spark.sql("""CREATE OR REPLACE TEMP VIEW mnmbs_aux AS
      SELECT CAST(id % 10 AS BIGINT) AS k, CAST(id AS BIGINT) AS ts FROM range(50)""")
    val auxRows = (0L until 50L).map(id => (id % 10, id))
    spark.sql(s"""MERGE INTO $tbl t USING mnmbs_src s
      ON t.ba = s.ba
      WHEN NOT MATCHED BY SOURCE AND t.ba < 20 AND EXISTS (
        SELECT 1 FROM mnmbs_aux a WHERE a.k = t.ba % 10 AND a.ts > t.ba + 30)
        THEN UPDATE SET age = 835""")
    val exp = (0L until 20L).filterNot(Set(1L, 2L, 3L)).count { ba =>
      auxRows.exists { case (k, ts) => k == ba % 10 && ts > ba + 30 }
    }
    assert(exp > 0 && exp < 17, s"fixture degenerate: $exp")
    val got = spark.sql(s"SELECT count(*) FROM $tbl WHERE age = 835").head().getLong(0)
    assert(got == exp.toLong, s"got $got expected $exp")
  }

  test("residual-conjunct .sql round-trip fuzz: the lift equals Spark's native correlated evaluation") {
    // round-12 advisor (a), part 2: the lift re-states each residual
    // conjunct as TEXT (.sql) inside the emitted subquery — fuzz a
    // panel of exotic-but-textualizable shapes (arithmetic, CASE,
    // string ops, IN-lists, null-safe ops, bitwise, OR-trees) and pin
    // each UPDATE's matched set to the ground truth Spark itself
    // computes for the SAME predicate in a plain SELECT (where no lift
    // runs — the analyzer/optimizer evaluate the correlation natively).
    val (_, tbl) = fresh("fuzz")
    spark.sql("""CREATE OR REPLACE TEMP VIEW fz_src AS
      SELECT CAST(id % 10 AS BIGINT) AS k, CAST(id AS BIGINT) AS ts FROM range(50)""")
    val residuals = Seq(
      "fz_src.ts > ba % 53",
      "abs(fz_src.ts - ba % 61) < 7",
      "fz_src.ts % 7 = ba % 6",
      "CASE WHEN fz_src.ts > 25 THEN ba % 4 = 1 ELSE ba % 4 = 2 END",
      "coalesce(nullif(fz_src.ts, ba % 47), 3) % 2 = 1",
      "fz_src.ts IN (ba % 33, ba % 33 + 1, 83)",
      "concat(CAST(fz_src.ts AS STRING), '_', CAST(ba % 25 AS STRING)) LIKE '%1_2%'",
      "substring(CAST(fz_src.ts * (ba % 97) AS STRING), 1, 1) = '1'",
      "(fz_src.ts & ba % 31) > 2",
      "greatest(fz_src.ts, ba % 11) - least(fz_src.ts, ba % 11) BETWEEN 3 AND 6",
      "CAST(fz_src.ts AS DOUBLE) / (ba % 13 + 1) > 3.4",
      "fz_src.ts * 2 > ba % 43 + 70 OR fz_src.ts < ba % 3",
      "fz_src.ts <=> ba % 41",
      "nullif(fz_src.ts, 13) = ba % 15",
      "exists(array(fz_src.ts, 42L), x -> x > ba % 55)",
      "aggregate(array(fz_src.ts, 1L), 0L, (acc, x) -> acc + x) > ba % 80",
      "exists(array(array(fz_src.ts)), a -> exists(a, x -> x > ba % 55))",
      "nvl2(nullif(fz_src.ts, 13), fz_src.ts + 2, 0) % 9 = ba % 7",
      "left(CAST(fz_src.ts AS STRING), 1) = CAST(ba % 7 AS STRING)",
      "ifnull(nullif(fz_src.ts, 13), -1) % 9 = ba % 7",
      "try_divide(fz_src.ts, ba % 5) > 8.0",
      "try_add(fz_src.ts, ba % 20) % 7 = 2",
      "try_cast(CAST(fz_src.ts AS STRING) AS BIGINT) = ba % 45",
      // round-14 ADVICE: FLAG-based try_* RuntimeReplaceables, whose
      // replacement's .sql renders the NON-try name — each shape has a
      // band slice where the error case actually fires, so a lift that
      // dropped TRY would either throw (ANSI) or mis-match
      // index 3 is out of bounds for the 2-element array — NULL under
      // TRY, a throw under plain ANSI element_at (index 0 would throw
      // under BOTH — Spark defines try_element_at's 0 as always-fail)
      "try_element_at(array(fz_src.ts, 42L), CAST(ba % 3 + 1 AS INT)) > 20",
      "try_mod(fz_src.ts, ba % 4) = 1",
      "try_to_timestamp(CASE WHEN ba % 5 = 0 THEN 'nope' " +
        "ELSE concat('2024-01-0', CAST(fz_src.ts % 9 + 1 AS STRING)) END) IS NOT NULL " +
        "AND fz_src.ts % 3 = 0",
      "try_make_timestamp(2024, 1, CAST(fz_src.ts % 40 AS INT), 0, 0, CAST(0.0 AS DECIMAL(16,6))) IS NOT NULL",
      "try_url_decode(CASE WHEN ba % 7 = 0 THEN '%zz' ELSE CAST(fz_src.ts AS STRING) END) IS NOT NULL " +
        "AND fz_src.ts % 2 = 0",
      // interval TRY arithmetic replaces with the unparseable
      // tryeval(...) — the SqlFunc re-render must carry the call form
      "try_add(make_dt_interval(0, 0, 0, fz_src.ts), make_dt_interval(0, 0, 0, ba % 9)) " +
        "> make_dt_interval(0, 0, 0, 30)")
    assert(residuals.size <= 39, "bands of 100 over 4000 fixture rows")
    var sharp = 0
    residuals.zipWithIndex.foreach { case (r, i) =>
      val lo = i * 100
      val hi = lo + 100
      val marker = 900 + i
      val pred = s"ba >= $lo AND ba < $hi AND EXISTS (" +
        s"SELECT 1 FROM fz_src WHERE fz_src.k = ba % 10 AND ($r))"
      val expected = spark.sql(s"SELECT ba FROM $tbl WHERE $pred")
        .collect().map(_.getLong(0)).toSet
      spark.sql(s"UPDATE $tbl SET age = $marker WHERE $pred")
      val got = spark.sql(s"SELECT ba FROM $tbl WHERE age = $marker")
        .collect().map(_.getLong(0)).toSet
      assert(got == expected,
        s"residual <$r>: lift matched ${got.size} rows, native ${expected.size}; " +
          s"diff=${((got diff expected) ++ (expected diff got)).take(5)}")
      if (expected.nonEmpty && expected.size < 100) sharp += 1
    }
    // the panel must discriminate: most shapes match SOME but not ALL
    // of their band (a trivially-true/false residual tests nothing)
    assert(sharp >= residuals.size - 3, s"only $sharp/${residuals.size} shapes discriminate")
    // replacement-rendered AGGREGATE (count_if) in a correlated scalar
    // SET value — the aggExpr textualization path, pinned the same way
    val lo = residuals.size * 100
    val expAgg = spark.sql(s"SELECT ba, CAST((SELECT count_if(ts > 25) " +
        s"FROM fz_src WHERE fz_src.k = ba % 10 AND fz_src.ts <= ba % 60) AS INT) c FROM $tbl " +
        s"WHERE ba >= $lo AND ba < $lo + 100")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    spark.sql(s"UPDATE $tbl SET age = CAST((SELECT count_if(ts > 25) " +
      s"FROM fz_src WHERE fz_src.k = ba % 10 AND fz_src.ts <= ba % 60) AS INT) " +
      s"WHERE ba >= $lo AND ba < $lo + 100")
    val gotAgg = spark.sql(s"SELECT ba, age FROM $tbl WHERE ba >= $lo AND ba < $lo + 100")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(gotAgg == expAgg, s"count_if scalar: ${(gotAgg.toSet diff expAgg.toSet).take(5)}")
    assert(expAgg.values.toSet.size > 1, "count_if fixture degenerate")
  }

  test("residual textualization: backtick-needing view columns (in lambda bodies) and collation") {
    // round-13 roadmap hunt surface: (a) a SqlLambda whose BODY
    // references a view column whose name needs backtick quoting — the
    // positional rename prepends `_graft_sqN_c<i>_` but keeps the
    // user's name tail, so the attr must re-quote on emission; (b) a
    // collation-carrying comparison (collate(...) = 'X'), where the
    // collation must survive the text round-trip or matching silently
    // reverts to binary. Both pinned to Spark's native correlated
    // evaluation of the same predicate.
    val (_, tbl) = fresh("fzbq")
    spark.sql("""CREATE OR REPLACE TEMP VIEW fzbq_src AS
      SELECT CAST(id % 10 AS BIGINT) AS k, CAST(id AS BIGINT) AS `my col`,
             concat('a', CAST(id % 7 AS STRING)) AS s
      FROM range(50)""")
    val shapes = Seq(
      "exists(array(1L), x -> x + fzbq_src.`my col` > ba % 50 + 25)",
      "collate(upper(fzbq_src.s), 'UNICODE_CI') = concat('A', CAST(ba % 9 AS STRING))",
      // collated comparison where ONLY a collation-honoring rematch
      // hits: lowercase source vs uppercase probe under UNICODE_CI
      "collate(fzbq_src.s, 'UNICODE_CI') = concat('A', CAST(ba % 9 AS STRING))",
      // a collated LITERAL rhs: the analyzer wraps 'A3' into a literal
      // of collated type whose .sql is the postfix `'A3' collate
      // UNICODE_CI` form — distinct from the cast-wrapped rhs above
      "collate(fzbq_src.s, 'UNICODE_CI') = 'A3' AND ba % 2 = 0")
    shapes.zipWithIndex.foreach { case (r, i) =>
      val lo = i * 100
      val marker = 700 + i
      val pred = s"ba >= $lo AND ba < ${lo + 100} AND EXISTS (" +
        s"SELECT 1 FROM fzbq_src WHERE fzbq_src.k = ba % 10 AND ($r))"
      val expected = spark.sql(s"SELECT ba FROM $tbl WHERE $pred")
        .collect().map(_.getLong(0)).toSet
      spark.sql(s"UPDATE $tbl SET age = $marker WHERE $pred")
      val got = spark.sql(s"SELECT ba FROM $tbl WHERE age = $marker")
        .collect().map(_.getLong(0)).toSet
      assert(got == expected,
        s"shape <$r>: lift matched ${got.size} rows, native ${expected.size}")
      assert(i == 0 || expected.nonEmpty, s"collation fixture degenerate for <$r>")
    }
  }

  test("window-family functions: subquery plans lift intact; direct conditions refuse in Spark's analyzer") {
    // round-13 roadmap hunt surface, REFUTED as a silent hazard:
    // session_window/window_time resolve away inside PLANS (the
    // analyzer injects a Project computing precisetimestampconversion
    // arithmetic) — and DML subquery plans are registered as temp
    // views, never textualized, so the rewrite rides along unharmed.
    // In a DIRECT DML condition there is no plan to inject into (and a
    // stored column lacks the window marker metadata), so Spark itself
    // refuses during analysis — nothing ever reaches the textualizer.
    val (_, tbl) = fresh("wfam")
    // sessions of 5 rows (4 s spacing < 5 s gap) split by 10 s jumps
    spark.sql("""CREATE OR REPLACE TEMP VIEW wf_src AS
      SELECT to_timestamp('2024-01-01 00:00:00')
               + make_dt_interval(0, 0, 0, id * 4 + 12 * CAST(id / 5 AS INT)) AS ts,
             CAST(id AS BIGINT) AS v
      FROM range(20)""")
    val sub = "SELECT min(v) AS mv FROM wf_src GROUP BY session_window(ts, '5 seconds')"
    val expected = spark.sql(s"SELECT ba FROM $tbl WHERE ba IN ($sub)")
      .collect().map(_.getLong(0)).toSet
    assert(expected.nonEmpty && expected.size < 20, s"fixture degenerate: $expected")
    spark.sql(s"UPDATE $tbl SET age = 903 WHERE ba IN ($sub)")
    val got = spark.sql(s"SELECT ba FROM $tbl WHERE age = 903")
      .collect().map(_.getLong(0)).toSet
    assert(got == expected, s"session_window subquery: got $got expected $expected")
    // direct use: Spark's analyzer refuses before the lowering runs
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"UPDATE $tbl SET age = 1 WHERE window_time(" +
        "named_struct('start', current_timestamp(), 'end', current_timestamp())) IS NOT NULL")
    }
  }

  test("replacement-rendered functions (nullif) textualize correctly across the source/target namespace") {
    // RuntimeReplaceable expressions render .sql from stored
    // PARAMETERS that tree transforms never touch — before the
    // round-13 fix, `nullif(s.age, 5)` in a MERGE emitted text naming
    // the bare `age`, which re-resolved against the TARGET's age
    // column: silently wrong values, not even an error. The inline-
    // before-textualize fix makes the emitted text reference the
    // _graft_src_ namespace like every other source attribute.
    val (_, tbl) = fresh("rrepl")
    spark.sql("""CREATE OR REPLACE TEMP VIEW rrepl_src AS
      SELECT * FROM VALUES (1L, 5), (2L, 7) AS v(ba, age)""")
    spark.sql(s"""MERGE INTO $tbl t USING rrepl_src s
      ON t.ba = s.ba
      WHEN MATCHED THEN UPDATE SET age = nullif(s.age, 5)""")
    val rows = spark.sql(s"SELECT ba, age FROM $tbl WHERE ba IN (1, 2) ORDER BY ba")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getInt(1)))).toSeq
    // s.age=5 nullifies; s.age=7 lands — target-age values (19, 20)
    // would mean the stale text resolved the WRONG scope
    assert(rows == Seq((1L, None), (2L, Some(7))), rows.toString)
    // and ifnull in a clause CONDITION referencing both scopes
    spark.sql(s"""MERGE INTO $tbl t USING rrepl_src s
      ON t.ba = s.ba
      WHEN MATCHED AND ifnull(t.age, s.age) = 7 THEN UPDATE SET name = 'repl'""")
    val named = spark.sql(s"SELECT ba FROM $tbl WHERE name = 'repl'")
      .collect().map(_.getLong(0)).toSeq
    assert(named == Seq(2L), named.toString)
  }
}
