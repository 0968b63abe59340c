package graft.queries

import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, QueryRegistry}
import graft.ingest.{AggView, ProduceJob, Snapshots}

/** The transactional-table layer as declared queries: copy-on-write
  * MERGE INTO, manifest-stats data skipping, and the exactly-once
  * streaming upsert sink (SURVEY.md §0's lakehouse framing — the
  * reference offloads into exactly such tables). Each query builds a
  * deterministic snapshot table from the A1 generator arithmetic in a
  * content-keyed staging dir (built in a temp dir, renamed into place
  * atomically — interrupted builds can't leave half-staged tables),
  * then reads the final committed state; the oracle replays the
  * end-state arithmetic directly, so any committed-but-wrong row
  * breaks the hash. */
object LakehouseQueries extends QueryRegistry {

  /** Build a staging root once; concurrent/replayed builders race on
    * an atomic rename and the loser discards its copy. */
  private def staged(s: SparkSession, key: String)(build: String => Unit): String = synchronized {
    val dir = new java.io.File(s"/tmp/graft/lakehouse_$key")
    if (!dir.isDirectory) {
      val tmp = new java.io.File(dir.getParent,
        dir.getName + ".tmp." + UUID.randomUUID().toString.take(8))
      tmp.mkdirs()
      build(tmp.getAbsolutePath)
      if (!tmp.renameTo(dir)) { // lost a cross-process race: theirs is complete
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(tmp)
      }
    }
    dir.getAbsolutePath
  }

  /** Scratch roots for the write-path queries (q282/q283/q284): each
    * CONSTRUCTION builds a fresh table — the measured thing IS the
    * write — so successive constructions of the same query would leak
    * one temp tree (plus, for q283, a catalog table) per run. Registry
    * discipline: a new construction retires the previous root of the
    * SAME query (its DataFrame is spent by then — builders write
    * eagerly and are evaluated before the query is built again), and a
    * shutdown hook sweeps whatever is live at JVM exit. Bounded: one
    * live root per query per JVM, zero after exit. */
  private val scratchRoots =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Option[String])]()
  private lazy val scratchSweep: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      scratchRoots.values().forEach(v => rmTree(new java.io.File(v._1)))))
    ()
  }
  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete(); ()
  }
  private def freshScratch(s: SparkSession, key: String, tmpPrefix: String,
                           catalogTable: Option[String] = None): String = {
    scratchSweep
    val dir = java.nio.file.Files.createTempDirectory(tmpPrefix).toString
    Option(scratchRoots.put(key, (dir, catalogTable))).foreach {
      case (old, oldTbl) =>
        oldTbl.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
        rmTree(new java.io.File(old))
    }
    dir
  }

  /** Three-commit CDC table shared by the change-feed and CDC-apply
    * queries: v0 append 0..999, v1 merge 500..1199 (500 updates + 200
    * inserts), v2 delete ba%10=0. */
  private def stagedCdfTable(s: SparkSession): String =
    staged(s, "cdf_v2") { tmp =>
      ProduceJob.produceBatch(s, tmp, "f", topics = 1, numMessages = 1000)
      Snapshots.merge(s, tmp, "f",
        genRows(s, 500, 1200, "upd", "f", topics = 1), Seq("ba"),
        txn = Some("q138m"))
      Snapshots.delete(s, tmp, "f", col("ba") % 10 === 0, txn = Some("q138d"))
      ()
    }

  /** Three-commit table shared by the restore and history queries:
    * v0 append ba 0..999, v1 delete ba%10=0, v2 restore to v0. */
  private def stagedRestoreTable(s: SparkSession): String =
    staged(s, "restore_v1") { tmp =>
      ProduceJob.produceBatch(s, tmp, "r", topics = 1, numMessages = 1000) // v0
      Snapshots.delete(s, tmp, "r", col("ba") % 10 === 0, txn = Some("q180d")) // v1
      Snapshots.restore(tmp, "r", toVersion = 0) // v2
      ()
    }

  /** Two-commit table shared by the incremental-read and time-travel
    * queries: v0 = ba 0..999, v1 appends ba 0..499 again. */
  private def stagedTravelTable(s: SparkSession): String =
    staged(s, "travel_v1") { tmp =>
      ProduceJob.produceBatch(s, tmp, "t", topics = 1, numMessages = 1000) // v0
      ProduceJob.produceBatch(s, tmp, "t", topics = 1, numMessages = 500) // v1
      ()
    }

  /** Z-ordered two-dimension table shared by q136/q142: 16384 rows,
    * x = id%128 and y = id/128 independent, hash-shuffled then
    * clusterZOrder(x, y) into 16 files. */
  private def stagedZorderTable(s: SparkSession): String =
    staged(s, "zorder_v1") { tmp =>
      s.range(16384)
        .select(col("id").as("ba"),
          expr("id % 128").as("x"), expr("id DIV 128").as("y"))
        .repartition(16) // hash-shuffled: worst pre-Z layout
        .write.parquet(graft.ingest.Topics.tableDir(tmp, "z"))
      Snapshots.commit(tmp, "z", 16383)
      Snapshots.clusterZOrder(s, tmp, "z", Seq("x", "y"), targetFiles = 16)
      ()
    }

  /** A1 generator rows for [lo, hi) with an overridden name column —
    * the deterministic merge/upsert source. */
  private def genRows(s: SparkSession, lo: Long, hi: Long, name: String,
                      prefix: String, topics: Int): DataFrame =
    ProduceJob.personProjection(
      s.range(lo, hi).toDF("cnt"), "cnt", prefix, topics)
      .withColumn("name", lit(name))

  /** Schema-evolved table shared by q193: v0 appends ba 0..999 (old
    * schema), v1 ALTER TABLE ADD COLUMN tier STRING DEFAULT 'std', v2
    * appends ba 1000..1499 carrying tier physically ('even' for even
    * ba, explicit NULL otherwise — proving written NULLs survive while
    * pre-evolution rows read the default). */
  private def stagedEvoTable(s: SparkSession): String =
    staged(s, "evo_v1") { tmp =>
      ProduceJob.produceBatch(s, tmp, "e", topics = 1, numMessages = 1000) // v0
      Snapshots.addColumn(tmp, "e", "tier", "STRING", Some("'std'")) // v1
      genRows(s, 1000, 1500, "new", "e", topics = 1)
        .withColumn("tier", when(col("ba") % 2 === 0, lit("even")))
        .write.mode("append").partitionBy("topic")
        .parquet(graft.ingest.Topics.tableDir(tmp, "e"))
      Snapshots.commit(tmp, "e", 1499) // v2
      ()
    }

  /** Rename/drop-evolved table shared by q196: v0 appends ba 0..999
    * (schema has `name`, `address`), v1 RENAME COLUMN name→label, v2
    * appends ba 1000..1399 carrying `label` physically, v3 DROP COLUMN
    * address, v4 ADD COLUMN address STRING DEFAULT 'redacted' (the
    * drop-then-readd case: old 'GuangZhou' bytes must never
    * resurface), v5 appends ba 1400..1499 with address='fresh'
    * physically. */
  private def stagedRndTable(s: SparkSession): String =
    staged(s, "rnd_v1") { tmp =>
      ProduceJob.produceBatch(s, tmp, "n", topics = 1, numMessages = 1000) // v0
      Snapshots.renameColumn(tmp, "n", "name", "label") // v1
      genRows(s, 1000, 1400, "new", "n", topics = 1)
        .withColumnRenamed("name", "label")
        .write.mode("append").partitionBy("topic")
        .parquet(graft.ingest.Topics.tableDir(tmp, "n"))
      Snapshots.commit(tmp, "n", 1399) // v2
      Snapshots.dropColumn(tmp, "n", "address") // v3
      Snapshots.addColumn(tmp, "n", "address", "STRING", Some("'redacted'")) // v4
      genRows(s, 1400, 1500, "new2", "n", topics = 1)
        .withColumnRenamed("name", "label")
        .withColumn("address", lit("fresh"))
        .write.mode("append").partitionBy("topic")
        .parquet(graft.ingest.Topics.tableDir(tmp, "n"))
      Snapshots.commit(tmp, "n", 1499) // v5
      ()
    }

  /** Partition-layout-evolved table shared by q264: v0 writes ids
    * 0..16383 range-clustered by x into 8 files (disjoint x spans),
    * v1 appends ids 16384..32767 range-clustered by y into 8 more —
    * the Iceberg partition-spec-evolution shape, old generation never
    * rewritten. x = id%128, y = (id div 128)%128 on both commits. */
  private def stagedPevoTable(s: SparkSession): String =
    staged(s, "pevo_v1") { tmp =>
      def gen(lo: Long, hi: Long) = s.range(lo, hi)
        .select(col("id").as("ba"), expr("id % 128").as("x"),
          expr("(id DIV 128) % 128").as("y"))
      gen(0, 16384).repartitionByRange(8, col("x"))
        .sortWithinPartitions("x")
        .write.parquet(graft.ingest.Topics.tableDir(tmp, "p"))
      Snapshots.commit(tmp, "p", 16383) // v0: x-clustered generation
      gen(16384, 32768).repartitionByRange(8, col("y"))
        .sortWithinPartitions("y")
        .write.mode("append").parquet(graft.ingest.Topics.tableDir(tmp, "p"))
      Snapshots.commit(tmp, "p", 32767) // v1: y-clustered generation
      ()
    }

  /** Merge-on-read table shared by q197: v0 appends ba 0..1499 over
    * two topics, v1 DELETE (merge-on-read) ba < 200 — a sidecar
    * commit, zero files rewritten — v2 appends ba 1500..1799, v3 a
    * second MoR delete ba % 7 = 0 whose vectors span BOTH appends'
    * files. The table is left uncompacted so the read path itself
    * (DV anti-join) is what the oracle checks. */
  private def stagedMorTable(s: SparkSession): String =
    staged(s, "mor_v1") { tmp =>
      ProduceJob.produceBatch(s, tmp, "d", topics = 2, numMessages = 1500) // v0
      Snapshots.deleteMoR(s, tmp, "d", col("ba") < 200, txn = Some("q197a")) // v1
      genRows(s, 1500, 1800, "new", "d", topics = 2)
        .write.mode("append").partitionBy("topic")
        .parquet(graft.ingest.Topics.tableDir(tmp, "d"))
      Snapshots.commit(tmp, "d", 1799) // v2
      Snapshots.deleteMoR(s, tmp, "d", col("ba") % 7 === 0, txn = Some("q197b")) // v3
      ()
    }

  def defs: Seq[QueryDef] = Seq(

    // MERGE INTO (copy-on-write upsert): ba 500-999 updated in place,
    // 1000-1599 inserted, 0-499 untouched — the final committed state
    // is pure generator arithmetic either way.
    QueryDef("q113_snapshot_merge",
      (s, _) => {
        val root = staged(s, "merge_v1") { tmp =>
          ProduceJob.produceBatch(s, tmp, "m", topics = 2, numMessages = 1000)
          Snapshots.merge(s, tmp, "m",
            genRows(s, 500, 1600, "upd", "m", topics = 2), Seq("ba"),
            txn = Some("q113"))
          ()
        }
        Snapshots.read(s, root, "m")
          .groupBy("name")
          .agg(count(lit(1)).as("cnt"),
            sum("ba").cast("bigint").as("sum_ba"),
            sum("age").cast("bigint").as("sum_age"))
          .orderBy("name")
      },
      Some("""SELECT CASE WHEN id < 500 THEN 'hangc' ELSE 'upd' END AS name,
             |COUNT(*) AS cnt, CAST(SUM(id) AS BIGINT) AS sum_ba,
             |CAST(SUM((18+id)%100) AS BIGINT) AS sum_age
             |FROM range(0,1600) t(id) GROUP BY 1 ORDER BY name""".stripMargin)),

    // Manifest-stats data skipping: the range read opens only files
    // whose footer min/max overlap [1000, 1999] (pruning effectiveness
    // is asserted file-count-wise in SnapshotSpec; here the oracle
    // pins that skipping never changes semantics).
    QueryDef("q114_stats_pruned_read",
      (s, _) => {
        val root = staged(s, "stats_v1") { tmp =>
          ProduceJob.produceBatch(s, tmp, "p", topics = 1, numMessages = 5000)
          ()
        }
        Snapshots.readWhere(s, root, "p", col("ba").between(1000L, 1999L))
          .agg(count(lit(1)).as("cnt"),
            sum("ba").cast("bigint").as("sum_ba"),
            min("ba").cast("bigint").as("min_ba"),
            max("ba").cast("bigint").as("max_ba"))
      },
      Some("""SELECT COUNT(*) AS cnt, CAST(SUM(id) AS BIGINT) AS sum_ba,
             |CAST(MIN(id) AS BIGINT) AS min_ba, CAST(MAX(id) AS BIGINT) AS max_ba
             |FROM range(1000,2000) t(id)""".stripMargin)),

    // DELETE (copy-on-write): every 7th key vanishes from the next
    // snapshot; only files containing matches were rewritten. The
    // oracle replays the surviving-key arithmetic.
    QueryDef("q124_snapshot_delete",
      (s, _) => {
        val root = staged(s, "delete_v1") { tmp =>
          ProduceJob.produceBatch(s, tmp, "d", topics = 2, numMessages = 2000)
          Snapshots.delete(s, tmp, "d", col("ba") % 7 === 0, txn = Some("q124"))
          ()
        }
        Snapshots.read(s, root, "d").agg(
          count(lit(1)).as("cnt"),
          sum("ba").cast("bigint").as("sum_ba"),
          min("ba").cast("bigint").as("min_ba"))
      },
      Some("""SELECT COUNT(*) AS cnt, CAST(SUM(id) AS BIGINT) AS sum_ba,
             |CAST(MIN(id) AS BIGINT) AS min_ba
             |FROM range(0,2000) t(id) WHERE id % 7 <> 0""".stripMargin)),

    // RESTORE TO VERSION (rollback): v0 appends 0..999, v1 deletes
    // every 10th row, v2 restores to v0. The latest read must be
    // exactly v0's rows again, the undone v1 must stay time-travel
    // readable, and the change feed must NOT re-deliver the re-pinned
    // files (restore adds no new rows). All three facts in one output
    // row, each replayed arithmetically by the oracle.
    QueryDef("q180_snapshot_restore",
      (s, _) => {
        val root = stagedRestoreTable(s)
        val latest = Snapshots.read(s, root, "r").agg(
          count(lit(1)).as("cnt"), sum("ba").cast("bigint").as("sum_ba"))
        val undone = Snapshots.read(s, root, "r", version = Some(1)).agg(
          count(lit(1)).as("v1_cnt"))
        val feed = Snapshots.readChanges(s, root, "r", fromVersion = 1).agg(
          count(lit(1)).as("feed_rows"))
        latest.crossJoin(undone).crossJoin(feed)
      },
      Some("""SELECT COUNT(*) AS cnt, CAST(SUM(id) AS BIGINT) AS sum_ba,
             |  (SELECT COUNT(*) FROM range(0,1000) t(id) WHERE id % 10 <> 0) AS v1_cnt,
             |  CAST(0 AS BIGINT) AS feed_rows
             |FROM range(0,1000) t(id)""".stripMargin)),

    // ALTER TABLE ADD COLUMN (schema evolution): commits span two
    // schemas; pre-evolution rows read the declared default, the
    // post-evolution append's values (including explicit NULLs) read
    // as written, and the change feed across the boundary carries the
    // evolved schema. No data file was rewritten — fill happens at
    // read time (Iceberg initial-default semantics). SnapshotSpec
    // covers the old-reader view and rewrite materialization.
    QueryDef("q193_schema_evolution",
      (s, _) => {
        val root = stagedEvoTable(s)
        val latest = Snapshots.read(s, root, "e")
          .groupBy("tier")
          .agg(count(lit(1)).as("cnt"), sum("ba").cast("bigint").as("sum_ba"))
        val feed = Snapshots.readChangeFeed(s, root, "e", fromVersion = 0)
          .agg(count(lit(1)).as("feed_rows"),
            count(when(col("tier") === "even", 1)).as("feed_even"))
        latest.crossJoin(feed).orderBy(asc_nulls_first("tier"))
      },
      Some("""SELECT tier, COUNT(*) AS cnt, CAST(SUM(id) AS BIGINT) AS sum_ba,
             |  (SELECT COUNT(*) FROM range(1000,1500)) AS feed_rows,
             |  (SELECT COUNT(*) FROM range(1000,1500) t(id) WHERE id % 2 = 0) AS feed_even
             |FROM (SELECT id, CASE WHEN id < 1000 THEN 'std'
             |                      WHEN id % 2 = 0 THEN 'even' END AS tier
             |      FROM range(0,1500) t(id))
             |GROUP BY tier ORDER BY tier NULLS FIRST""".stripMargin)),

    // RENAME / DROP / re-ADD column evolution: six commits spanning
    // three physical schemas, zero files rewritten. Pre-rename files
    // re-label `name`→`label` at read time; the dropped `address`
    // column's 'GuangZhou' bytes stay on disk but NEVER resurface —
    // the re-added column reads its own default ('redacted') for every
    // file that predates the re-add, and 'fresh' physically after. The
    // old-reader scalar proves time travel still sees the ORIGINAL
    // name untouched by three later schema changes.
    QueryDef("q196_schema_rename_drop",
      (s, _) => {
        val root = stagedRndTable(s)
        val latest = Snapshots.read(s, root, "n")
          .groupBy("label")
          .agg(count(lit(1)).as("cnt"),
            sum("ba").cast("bigint").as("sum_ba"),
            count(when(col("address") === "redacted", 1)).as("n_redacted"),
            count(when(col("address") === "GuangZhou", 1)).as("n_resurfaced"))
        val oldReader = Snapshots.read(s, root, "n", version = Some(0))
          .agg(count(when(col("name") === "hangc" &&
            col("address") === "GuangZhou", 1)).as("v0_rows"))
        latest.crossJoin(oldReader).orderBy("label")
      },
      Some("""SELECT label, COUNT(*) AS cnt, CAST(SUM(id) AS BIGINT) AS sum_ba,
             |  COUNT(CASE WHEN addr = 'redacted' THEN 1 END) AS n_redacted,
             |  CAST(0 AS BIGINT) AS n_resurfaced,
             |  (SELECT COUNT(*) FROM range(0,1000)) AS v0_rows
             |FROM (SELECT id,
             |        CASE WHEN id < 1000 THEN 'hangc'
             |             WHEN id < 1400 THEN 'new' ELSE 'new2' END AS label,
             |        CASE WHEN id < 1400 THEN 'redacted' ELSE 'fresh' END AS addr
             |      FROM range(0,1500) t(id))
             |GROUP BY label ORDER BY label""".stripMargin)),

    // DELETE via deletion vectors (merge-on-read): two MoR deletes
    // stack sidecars over an append in between; the latest read
    // anti-joins them away, time travel to v0 still sees every row,
    // and the change feed carries row-grain delete pre-images — all
    // with the ORIGINAL data files byte-identical on disk
    // (mor_invariants pins that: no file removed, both sidecars
    // active). The second delete's predicate only sees survivors, so
    // ba < 200 rows are deleted once, not twice.
    QueryDef("q197_delete_mor",
      (s, _) => {
        val root = stagedMorTable(s)
        val latest = Snapshots.read(s, root, "d")
          .groupBy("topic")
          .agg(count(lit(1)).as("cnt"), sum("ba").cast("bigint").as("sum_ba"))
        val v0Rows = Snapshots.read(s, root, "d", version = Some(0))
          .agg(count(lit(1)).as("v0_rows"))
        val dels = Snapshots.readChangeFeed(s, root, "d", fromVersion = 0)
          .filter(col("_change_type") === "delete")
          .agg(count(lit(1)).as("n_deleted"))
        val v0 = Snapshots.snapshot(root, "d", Some(0)).get
        val cur = Snapshots.snapshot(root, "d", None).get
        val untouched = v0.files.forall(cur.files.contains) &&
          cur.removed.isEmpty && cur.dv.size == 2
        latest.crossJoin(v0Rows).crossJoin(dels)
          .withColumn("mor_invariants", lit(untouched))
          .orderBy("topic")
      },
      Some("""SELECT topic, COUNT(*) AS cnt, CAST(SUM(id) AS BIGINT) AS sum_ba,
             |  (SELECT COUNT(*) FROM range(0,1500)) AS v0_rows,
             |  (SELECT COUNT(*) FROM range(0,1800) t(id)
             |    WHERE id < 200 OR id % 7 = 0) AS n_deleted,
             |  TRUE AS mor_invariants
             |FROM (SELECT id, 'd-' || CAST(id % 2 AS VARCHAR) AS topic
             |      FROM range(0,1800) t(id)
             |      WHERE id >= 200 AND id % 7 <> 0)
             |GROUP BY topic ORDER BY topic""".stripMargin)),

    // The snapshot table AS a streaming source (Delta table-stream
    // analog): commit versions are the offsets, one micro-batch per
    // commit (maxVersionsPerTrigger=1), file grain = row grain for
    // appends while the two merge-on-read delete commits deliver
    // nothing — so the streamed replay is exactly the two appends'
    // 1800 rows, independent of batch placement. The aggregation runs
    // BATCH over the memory sink: the streamed path is pure transport,
    // the same shape as a replica bootstrap.
    QueryDef("q198_stream_table_source",
      (s, _) => {
        val root = stagedMorTable(s)
        val name = "graft_snapsrc_" + UUID.randomUUID().toString.replace("-", "")
        val q = s.readStream.format("graft")
          .option("maxVersionsPerTrigger", "1")
          .load(s"$root/d")
          .writeStream.format("memory").queryName(name)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val rows = s.table(name).localCheckpoint(true)
        s.catalog.dropTempView(name)
        rows.groupBy("topic")
          .agg(count(lit(1)).as("cnt"), sum("ba").cast("bigint").as("sum_ba"))
          .orderBy("topic")
      },
      Some("""SELECT topic, COUNT(*) AS cnt, CAST(SUM(id) AS BIGINT) AS sum_ba
             |FROM (SELECT id, 'd-' || CAST(id % 2 AS VARCHAR) AS topic
             |      FROM range(0,1800) t(id))
             |GROUP BY topic ORDER BY topic""".stripMargin)),

    // DESCRIBE HISTORY: the commit log itself as a queryable frame —
    // version, operation, position watermark. The restore entry shows
    // the rollback as a first-class audited commit (maxPos restored
    // with the state). Metadata-scale: built from the manifest on the
    // driver, never touching data files.
    QueryDef("q181_table_history",
      (s, _) => {
        val root = stagedRestoreTable(s)
        val rows = Snapshots.versions(root, "r").map { v =>
          val sn = Snapshots.snapshot(root, "r", Some(v)).get
          (sn.version, sn.op, sn.maxPos)
        }
        import s.implicits._
        rows.toDF("version", "op", "max_pos").orderBy("version")
      },
      Some("""SELECT * FROM (VALUES
             |  (CAST(0 AS INT), 'append',  CAST(999 AS BIGINT)),
             |  (CAST(1 AS INT), 'delete',  CAST(999 AS BIGINT)),
             |  (CAST(2 AS INT), 'restore', CAST(999 AS BIGINT)))
             |t(version, op, max_pos) ORDER BY version""".stripMargin)),

    // Incremental (CDC-style) read: exactly the rows the second commit
    // added — consumers checkpointing a version get append-only change
    // feeds without rescanning the table.
    QueryDef("q127_incremental_read",
      (s, _) => {
        val root = stagedTravelTable(s)
        Snapshots.readChanges(s, root, "t", fromVersion = 0).agg(
          count(lit(1)).as("cnt"),
          sum("ba").cast("bigint").as("sum_ba"),
          max("ba").cast("bigint").as("max_ba"))
      },
      Some("""SELECT COUNT(*) AS cnt, CAST(SUM(id) AS BIGINT) AS sum_ba,
             |CAST(MAX(id) AS BIGINT) AS max_ba
             |FROM range(0,500) t(id)""".stripMargin)),

    // Time travel: version 0 still reads its exact committed state
    // after later appends (snapshot isolation as a declared query, not
    // just a spec).
    QueryDef("q128_time_travel",
      (s, _) => {
        val root = stagedTravelTable(s)
        Snapshots.read(s, root, "t", version = Some(0)).agg(
          count(lit(1)).as("cnt"),
          sum("ba").cast("bigint").as("sum_ba"))
      },
      Some("""SELECT COUNT(*) AS cnt, CAST(SUM(id) AS BIGINT) AS sum_ba
             |FROM range(0,1000) t(id)""".stripMargin)),

    // Row-grain change feed (Delta CDF-style): merge/delete commits
    // stage explicit change records at write time, so the feed carries
    // exactly the upserted post-images, the replaced pre-images, and
    // deleted pre-images — never the copied-along rows of rewritten
    // files (the file-grain caveat readChanges documents). History:
    // v0 append 0..999, v1 merge 500..1199 (500 updates + 200
    // inserts), v2 delete ba%10=0; the oracle replays that history
    // arithmetically per change type.
    QueryDef("q138_change_feed",
      (s, _) => {
        val root = stagedCdfTable(s)
        Snapshots.readChangeFeed(s, root, "f", fromVersion = 0)
          .groupBy("_change_type")
          .agg(count(lit(1)).as("cnt"),
            sum("ba").cast("bigint").as("sum_ba"))
          .orderBy("_change_type")
      },
      Some("""WITH feed AS (
             |  SELECT 'update_postimage' AS _change_type, id FROM range(500,1000) t(id)
             |  UNION ALL SELECT 'update_preimage', id FROM range(500,1000) t(id)
             |  UNION ALL SELECT 'insert', id FROM range(1000,1200) t(id)
             |  UNION ALL SELECT 'delete', id FROM range(0,1200) t(id) WHERE id % 10 = 0)
             |SELECT _change_type, COUNT(*) AS cnt, CAST(SUM(id) AS BIGINT) AS sum_ba
             |FROM feed GROUP BY 1 ORDER BY _change_type""".stripMargin)),

    // CDC APPLY — the consumer side of the change feed: reconstruct
    // the table on a replica purely from (base version + change rows).
    // Single-pass apply: a key's final state is decided by its LAST
    // change — within a commit an upsert outranks a delete (a merge
    // may delete-then-reinsert a key), across commits the highest
    // version wins. One window over the feed, one anti-join against
    // base, one union — cost independent of history depth, unlike the
    // per-version anti-join+union loop it replaces (O(versions)
    // full-table rewrites). The output proves the feed is SUFFICIENT
    // for replication: the replica must match the source table exactly
    // (both exceptAll directions empty), not just on aggregates.
    QueryDef("q187_cdc_apply",
      (s, _) => {
        val root = stagedCdfTable(s)
        val base = Snapshots.read(s, root, "f", version = Some(0))
        val feed = Snapshots.readChangeFeed(s, root, "f", fromVersion = 0)
        val cols = base.columns.toSeq
        val isUpsert = col("_change_type").isin("insert", "update_postimage")
        val w = org.apache.spark.sql.expressions.Window.partitionBy("ba")
          .orderBy(col("_commit_version").desc, isUpsert.cast("int").desc)
        val lastChange = feed.withColumn("_rn", row_number().over(w))
          .filter(col("_rn") === 1)
        val replica = base
          .join(feed.select("ba").distinct(), Seq("ba"), "left_anti")
          // using-join reorders (keys first) — restore table order, or
          // the positional exceptAll below compares mismatched columns
          .select(cols.map(col): _*)
          .unionByName(lastChange.filter(isUpsert).select(cols.map(col): _*))
          .localCheckpoint(true) // reused by both exceptAll probes + final agg
        val latest = Snapshots.read(s, root, "f")
        val extra = replica.exceptAll(latest).agg(count(lit(1))).head().getLong(0)
        val missing = latest.exceptAll(replica).agg(count(lit(1))).head().getLong(0)
        replica.agg(
          count(lit(1)).as("cnt"),
          sum("ba").cast("bigint").as("sum_ba"),
          lit(extra).as("rows_not_in_table"),
          lit(missing).as("rows_missing"))
      },
      Some("""SELECT COUNT(*) AS cnt, CAST(SUM(id) AS BIGINT) AS sum_ba,
             |  CAST(0 AS BIGINT) AS rows_not_in_table,
             |  CAST(0 AS BIGINT) AS rows_missing
             |FROM range(0,1200) t(id) WHERE id % 10 <> 0""".stripMargin)),

    // Streaming CDC apply — continuous replication: a replica seeded
    // at source v0 follows the source through a live stream whose
    // micro-batches each apply the not-yet-applied change-feed window
    // in one copy-on-write pass (txn'd — replays no-op; the
    // MemoryStream replay proof is in SnapshotSpec). Two genuinely
    // incremental batches: the merge is applied while the source
    // delete hasn't happened yet, then the delete arrives and a later
    // batch of the SAME running stream applies it. The replica must
    // equal the source exactly (both exceptAll probes empty).
    QueryDef("q194_stream_cdc_apply",
      (s, _) => {
        val root = staged(s, "cdcstream_v2") { tmp =>
          ProduceJob.produceBatch(s, tmp, "f", topics = 1, numMessages = 1000) // src v0
          // replica seeded from source v0
          Snapshots.read(s, tmp, "f", Some(0))
            .write.mode("append").partitionBy("topic")
            .parquet(graft.ingest.Topics.tableDir(tmp, "g"))
          Snapshots.commit(tmp, "g", 999)
          val ticks = s"$tmp/ticks"
          def tick(i: Int): Unit = {
            s.range(i, i + 1).coalesce(1).write.mode("append").parquet(ticks)
            ()
          }
          // batch 1: the merge is committed before the first tick —
          // the replica applies window (0, 1]
          Snapshots.merge(s, tmp, "f",
            genRows(s, 500, 1200, "upd", "f", topics = 1), Seq("ba"),
            txn = Some("q194m"))
          tick(0)
          val stream = s.readStream.schema(s.read.parquet(ticks).schema)
            .option("maxFilesPerTrigger", "1").parquet(ticks)
          val q = Snapshots.replicateStream(stream, tmp, "f", tmp, "g",
            Seq("ba"), checkpoint = s"$tmp/_cdc_ckpt")
          q.processAllAvailable()
          // batch 2: the delete lands later; the SAME running stream
          // picks it up on the next tick
          Snapshots.delete(s, tmp, "f", col("ba") % 10 === 0, txn = Some("q194d"))
          tick(1)
          q.processAllAvailable()
          q.stop()
          ()
        }
        val replica = Snapshots.read(s, root, "g").localCheckpoint(true)
        val src = Snapshots.read(s, root, "f")
        val extra = replica.exceptAll(src).agg(count(lit(1))).head().getLong(0)
        val missing = src.exceptAll(replica).agg(count(lit(1))).head().getLong(0)
        replica.agg(
          count(lit(1)).as("cnt"),
          sum("ba").cast("bigint").as("sum_ba"),
          lit(extra).as("rows_not_in_source"),
          lit(missing).as("rows_missing"))
      },
      Some("""SELECT COUNT(*) AS cnt, CAST(SUM(id) AS BIGINT) AS sum_ba,
             |  CAST(0 AS BIGINT) AS rows_not_in_source,
             |  CAST(0 AS BIGINT) AS rows_missing
             |FROM range(0,1200) t(id) WHERE id % 10 <> 0""".stripMargin)),

    // Incremental materialized view — the consumer that NEEDS update
    // pre-images: a grouped aggregate (cnt, sum_ba, summed name
    // lengths per ba%7 stratum) is seeded from the v0 base and then
    // maintained purely from the change feed with signed deltas
    // (+post-images/inserts, −pre-images/deletes) — never rescanning
    // the table. One pass over the feed plus an outer join against the
    // 7-row MV state: cost is O(changes), independent of table size —
    // the 100-TB shape for keeping aggregates fresh under updates.
    // The merge flips name 'hangc'→'upd' (length 5→3), so a missing or
    // mis-signed pre-image shifts sum_namelen (and cnt catches a
    // missing subtraction outright); the exceptAll probes against a
    // full recompute prove the incremental state exact, and the oracle
    // replays the end-state arithmetic.
    QueryDef("q200_incremental_mv",
      (s, _) => {
        val root = stagedCdfTable(s)
        def mvOf(df: DataFrame): DataFrame = df
          .groupBy((col("ba") % 7).as("grp"))
          .agg(count(lit(1)).as("cnt"),
            sum("ba").cast("bigint").as("sum_ba"),
            sum(length(col("name"))).cast("bigint").as("sum_namelen"))
        val mv0 = mvOf(Snapshots.read(s, root, "f", version = Some(0)))
        val feed = Snapshots.readChangeFeed(s, root, "f", fromVersion = 0)
        val sign = when(
          col("_change_type").isin("insert", "update_postimage"), 1L)
          .otherwise(-1L)
        val delta = feed
          .groupBy((col("ba") % 7).as("grp"))
          .agg(sum(sign).as("d_cnt"),
            sum(sign * col("ba")).cast("bigint").as("d_sum_ba"),
            sum(sign * length(col("name"))).cast("bigint").as("d_sum_namelen"))
        def z(c: String) = coalesce(col(c), lit(0L))
        val mv = mv0.join(delta, Seq("grp"), "full_outer")
          .select(col("grp"),
            (z("cnt") + z("d_cnt")).as("cnt"),
            (z("sum_ba") + z("d_sum_ba")).as("sum_ba"),
            (z("sum_namelen") + z("d_sum_namelen")).as("sum_namelen"))
          .filter(col("cnt") > 0)
          .localCheckpoint(true) // reused by both probes + the output
        val full = mvOf(Snapshots.read(s, root, "f"))
        val drift = mv.exceptAll(full).agg(count(lit(1))).head().getLong(0)
        val miss = full.exceptAll(mv).agg(count(lit(1))).head().getLong(0)
        mv.withColumn("mv_rows_wrong", lit(drift))
          .withColumn("mv_rows_missing", lit(miss))
          .orderBy("grp")
      },
      Some("""WITH t AS (
             |  SELECT id, CASE WHEN id >= 500 THEN 3 ELSE 5 END AS namelen
             |  FROM range(0,1200) t(id) WHERE id % 10 <> 0)
             |SELECT id % 7 AS grp, COUNT(*) AS cnt,
             |  CAST(SUM(id) AS BIGINT) AS sum_ba,
             |  CAST(SUM(namelen) AS BIGINT) AS sum_namelen,
             |  CAST(0 AS BIGINT) AS mv_rows_wrong,
             |  CAST(0 AS BIGINT) AS mv_rows_missing
             |FROM t GROUP BY 1 ORDER BY grp""".stripMargin)),

    // Streaming materialized-view maintenance — AggView.stream keeps a
    // grouped aggregate (per-name cnt / sum_ba / sum_age) following
    // the source's change feed: the first tick seeds the view at v0,
    // the second applies the merge window (update pre-images subtract
    // the replaced rows), the third applies the delete window — each
    // as one O(window) refresh committed under a window-derived txn,
    // so replays no-op (exactly-once over foreachBatch's at-least-once
    // contract, the reference's ack-loop turn,
    // PerformanceConsumer.java:253). The exceptAll probes pin the
    // final view to a full recompute; the oracle replays the end-state
    // arithmetic.
    QueryDef("q201_stream_agg_view",
      (s, _) => {
        val root = staged(s, "aggview_v1") { tmp =>
          ProduceJob.produceBatch(s, tmp, "f", topics = 1, numMessages = 1000) // v0
          val ticks = s"$tmp/ticks"
          def tick(i: Int): Unit = {
            s.range(i, i + 1).coalesce(1).write.mode("append").parquet(ticks)
            ()
          }
          tick(0)
          val stream = s.readStream.schema(s.read.parquet(ticks).schema)
            .option("maxFilesPerTrigger", "1").parquet(ticks)
          val q = AggView.stream(stream, tmp, "f", tmp, "mv",
            keys = Seq("name"), sums = Seq("ba", "age"),
            checkpoint = s"$tmp/_agg_ckpt")
          q.processAllAvailable() // batch 1: seed at v0
          Snapshots.merge(s, tmp, "f",
            genRows(s, 500, 1200, "upd", "f", topics = 1), Seq("ba"),
            txn = Some("q201m"))
          tick(1)
          q.processAllAvailable() // batch 2: window (0,1] — the merge
          Snapshots.delete(s, tmp, "f", col("ba") % 10 === 0, txn = Some("q201d"))
          tick(2)
          q.processAllAvailable() // batch 3: window (1,2] — the delete
          q.stop()
          ()
        }
        val mv = Snapshots.read(s, root, "mv").localCheckpoint(true)
        val full = AggView.aggOf(Snapshots.read(s, root, "f"),
          Seq("name"), Seq("ba", "age"))
        val drift = mv.exceptAll(full).agg(count(lit(1))).head().getLong(0)
        val miss = full.exceptAll(mv).agg(count(lit(1))).head().getLong(0)
        mv.withColumn("mv_rows_wrong", lit(drift))
          .withColumn("mv_rows_missing", lit(miss))
          .orderBy("name")
      },
      Some("""WITH t AS (
             |  SELECT id, CASE WHEN id >= 500 THEN 'upd' ELSE 'hangc' END AS name,
             |    (18 + id) % 100 AS age
             |  FROM range(0,1200) t(id) WHERE id % 10 <> 0)
             |SELECT name, COUNT(*) AS cnt,
             |  CAST(SUM(id) AS BIGINT) AS sum_ba,
             |  CAST(SUM(age) AS BIGINT) AS sum_age,
             |  CAST(0 AS BIGINT) AS mv_rows_wrong,
             |  CAST(0 AS BIGINT) AS mv_rows_missing
             |FROM t GROUP BY 1 ORDER BY name""".stripMargin)),

    // Z-order clustering (OPTIMIZE ZORDER BY x, y): after the rewrite,
    // every file covers a narrow range on BOTH derived dimensions, so
    // the conjunctive range read opens only overlapping files
    // (file-count effectiveness is asserted plan-wise in SnapshotSpec;
    // the oracle pins that multi-column skipping never changes
    // semantics — it replays the dimension arithmetic directly).
    QueryDef("q136_zorder_pruned_read",
      (s, _) => {
        val root = stagedZorderTable(s)
        Snapshots.readWhere(s, root, "z",
            col("x").between(0L, 15L) && col("y").between(0L, 15L))
          .agg(count(lit(1)).as("cnt"),
            sum("ba").cast("bigint").as("sum_ba"),
            max("x").cast("bigint").as("max_x"),
            max("y").cast("bigint").as("max_y"))
      },
      Some("""SELECT COUNT(*) AS cnt, CAST(SUM(id) AS BIGINT) AS sum_ba,
             |CAST(MAX(id % 128) AS BIGINT) AS max_x,
             |CAST(MAX(id // 128) AS BIGINT) AS max_y
             |FROM range(0,16384) t(id)
             |WHERE id % 128 BETWEEN 0 AND 15 AND id // 128 BETWEEN 0 AND 15""".stripMargin)),

    // Predicate-driven pruning (readWhere): the caller hands the same
    // filter it would pass to .filter(...); range conjuncts are
    // extracted from the analyzed Catalyst tree and turned into
    // manifest skips, unrecognized conjuncts just ride along — the
    // DSv2 pushdown contract over the snapshot manifest. The oracle
    // replays the predicate arithmetically.
    QueryDef("q142_pruned_where",
      (s, _) => {
        val root = stagedZorderTable(s)
        Snapshots.readWhere(s, root, "z",
            col("x") >= 16 && col("x") <= 31 && col("y") < 8 && col("ba") % 2 === 0)
          .agg(count(lit(1)).as("cnt"),
            sum("ba").cast("bigint").as("sum_ba"),
            min("x").cast("bigint").as("min_x"),
            max("y").cast("bigint").as("max_y"))
      },
      Some("""SELECT COUNT(*) AS cnt, CAST(SUM(id) AS BIGINT) AS sum_ba,
             |CAST(MIN(id % 128) AS BIGINT) AS min_x,
             |CAST(MAX(id // 128) AS BIGINT) AS max_y
             |FROM range(0,16384) t(id)
             |WHERE id % 128 BETWEEN 16 AND 31 AND id // 128 < 8 AND id % 2 = 0""".stripMargin)),

    // CHECK constraints (Delta-style): a merge whose source violates a
    // registered predicate is refused before any file is written, so
    // the committed state carries only conforming rows — which is what
    // the oracle replays.
    QueryDef("q134_check_constraint",
      (s, _) => {
        val root = staged(s, "constraint_v1") { tmp =>
          ProduceJob.produceBatch(s, tmp, "c", topics = 1, numMessages = 500)
          Snapshots.setConstraint(tmp, "c", "ba_nonneg", "ba >= 0")
          Snapshots.merge(s, tmp, "c",
            genRows(s, 400, 600, "ok", "c", 1), Seq("ba"), txn = Some("good"))
          // violating batch: negative keys — must be refused atomically
          try {
            Snapshots.merge(s, tmp, "c",
              genRows(s, -50, 50, "bad", "c", 1), Seq("ba"), txn = Some("bad"))
            sys.error("constraint violation was not refused")
          } catch { case _: Snapshots.ConstraintViolationException => () }
          ()
        }
        Snapshots.read(s, root, "c")
          .groupBy("name")
          .agg(count(lit(1)).as("cnt"), sum("ba").cast("bigint").as("sum_ba"))
          .orderBy("name")
      },
      Some("""SELECT CASE WHEN id < 400 THEN 'hangc' ELSE 'ok' END AS name,
             |COUNT(*) AS cnt, CAST(SUM(id) AS BIGINT) AS sum_ba
             |FROM range(0,600) t(id) GROUP BY 1 ORDER BY name""".stripMargin)),

    // Exactly-once streaming upsert: two time-ordered micro-batches
    // MERGE through foreachBatch (u1 updates 500-999, then u2
    // overwrites 800-999 and inserts 1000-1299) — last writer wins per
    // key, replays are no-ops under the per-batch transaction id.
    QueryDef("q115_stream_upsert",
      (s, _) => {
        val root = staged(s, "upsert_v1") { tmp =>
          ProduceJob.produceBatch(s, tmp, "u", topics = 1, numMessages = 1000)
          // stage the update stream as two files with ascending mtimes
          // so the file source replays them in u1 → u2 order
          val src = s"$tmp/updates"
          genRows(s, 500, 1000, "u1", "u", 1).coalesce(1)
            .write.mode("append").parquet(src)
          Thread.sleep(20) // distinct mtimes → deterministic batch order
          genRows(s, 800, 1300, "u2", "u", 1).coalesce(1)
            .write.mode("append").parquet(src)
          val schema = s.read.parquet(src).schema
          val stream = s.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").parquet(src)
          val q = Snapshots.upsertStream(stream, tmp, "u", Seq("ba"),
            checkpoint = s"$tmp/_upsert_ckpt")
          q.processAllAvailable()
          q.stop()
        }
        Snapshots.read(s, root, "u")
          .groupBy("name")
          .agg(count(lit(1)).as("cnt"),
            sum("ba").cast("bigint").as("sum_ba"))
          .orderBy("name")
      },
      Some("""SELECT CASE WHEN id < 500 THEN 'hangc'
             |            WHEN id < 800 THEN 'u1' ELSE 'u2' END AS name,
             |COUNT(*) AS cnt, CAST(SUM(id) AS BIGINT) AS sum_ba
             |FROM range(0,1300) t(id) GROUP BY 1 ORDER BY name""".stripMargin)),

    // Write-audit-publish: the Iceberg-style quality gate on the
    // snapshot log. v0 publishes the seed; batch A (200 good rows plus
    // 30 rows violating the audit rule) STAGES — the version file
    // exists, audit jobs read it by explicit version, but the default
    // read path skips staged heads so no consumer ever saw the bad
    // rows; the audit fails and the batch is simply never published.
    // Batch B (the clean 200) stages, passes, and publishes — an O(1)
    // metadata commit adopting the staged files. The query reads the
    // log's end state: the published head must hold seed+good with
    // ZERO violations while the failed staged version still shows its
    // 30 (auditability), and the head's version number proves readers
    // skipped two staged versions.
    QueryDef("q238_write_audit_publish",
      (s, _) => {
        val root = staged(s, "wap_v1") { tmp =>
          ProduceJob.produceBatch(s, tmp, "w", topics = 1, numMessages = 1000) // v0
          def writeBatch(df: DataFrame): Unit =
            df.write.mode("append").partitionBy("topic")
              .parquet(graft.ingest.Topics.tableDir(tmp, "w"))
          writeBatch(genRows(s, 1000, 1200, "good", "w", 1)
            .unionAll(genRows(s, 5000, 5030, "bad", "w", 1)))
          val svA = Snapshots.commitStaged(tmp, "w", maxPos = 1199, audit = "auditA")
          // audit A: violation rule name='bad' → fails, never published
          require(Snapshots.read(s, tmp, "w", Some(svA))
            .filter(col("name") === "bad").count() == 30)
          writeBatch(genRows(s, 1000, 1200, "good", "w", 1))
          val svB = Snapshots.commitStaged(tmp, "w", maxPos = 1199, audit = "auditB")
          require(Snapshots.read(s, tmp, "w", Some(svB))
            .filter(col("name") === "bad").count() == 0)
          Snapshots.publish(tmp, "w", "auditB")
          ()
        }
        val svA = Snapshots.stagedVersion(root, "w", "auditA").get
        val head = Snapshots.snapshot(root, "w").get
        val cur = Snapshots.read(s, root, "w")
        cur.agg(count(lit(1)).as("published_rows"),
            sum(when(col("name") === "bad", 1L).otherwise(0L)).as("published_violations"),
            sum("ba").cast("bigint").as("sum_ba"))
          .crossJoin(Snapshots.read(s, root, "w", Some(svA))
            .agg(count(lit(1)).as("stagedA_rows"),
              sum(when(col("name") === "bad", 1L).otherwise(0L)).as("stagedA_violations")))
          .withColumn("head_version", lit(head.version))
          .withColumn("n_versions", lit(Snapshots.versions(root, "w").size))
      },
      Some("""SELECT
             |  (SELECT COUNT(*) FROM range(0,1200)) AS published_rows,
             |  CAST(0 AS BIGINT) AS published_violations,
             |  CAST((SELECT SUM(id) FROM range(0,1200) t(id)) AS BIGINT) AS sum_ba,
             |  (SELECT COUNT(*) FROM range(0,1230)) AS stagedA_rows,
             |  CAST(30 AS BIGINT) AS stagedA_violations,
             |  CAST(3 AS INT) AS head_version,
             |  CAST(4 AS INT) AS n_versions""".stripMargin)),

    // Named tags: immutable release markers on the snapshot log. v0 is
    // tagged 'release-1' before a second append lands; reading by tag
    // name returns v0's exact file set forever, while the default read
    // sees the full table — time travel by NAME, the reproducibility
    // primitive a training run pins its corpus with (dataset version
    // tags). Tag resolution is one metadata file; no data moves.
    QueryDef("q239_snapshot_tag",
      (s, _) => {
        val root = staged(s, "tag_v1") { tmp =>
          ProduceJob.produceBatch(s, tmp, "g", topics = 1, numMessages = 1000) // v0
          Snapshots.tag(tmp, "g", "release-1", 0)
          ProduceJob.produceBatch(s, tmp, "g", topics = 1, numMessages = 500) // v1
          ()
        }
        Snapshots.readTag(s, root, "g", "release-1")
          .agg(count(lit(1)).as("rows_at_tag"),
            sum("ba").cast("bigint").as("sum_ba_at_tag"))
          .crossJoin(Snapshots.read(s, root, "g")
            .agg(count(lit(1)).as("rows_current"),
              sum("ba").cast("bigint").as("sum_ba_current")))
          .withColumn("tagged_version",
            lit(Snapshots.resolveTag(root, "g", "release-1").get))
      },
      Some("""SELECT
             |  (SELECT COUNT(*) FROM range(0,1000)) AS rows_at_tag,
             |  CAST((SELECT SUM(id) FROM range(0,1000) t(id)) AS BIGINT) AS sum_ba_at_tag,
             |  (SELECT COUNT(*) FROM range(0,1000)) + (SELECT COUNT(*) FROM range(0,500)) AS rows_current,
             |  CAST((SELECT SUM(id) FROM range(0,1000) t(id)) + (SELECT SUM(id) FROM range(0,500) t(id)) AS BIGINT) AS sum_ba_current,
             |  CAST(0 AS INT) AS tagged_version""".stripMargin)),

    // Row-grain dataset diff between two table versions — the release
    // regression check a dataset pipeline runs before promoting: keys
    // added / removed / value-changed / unchanged between v0 and the
    // current head of the CDC table (which a merge and a delete have
    // both touched since). One full-outer join on the key — the
    // standard data-diff shape, a single shuffle at any table size
    // (both sides are snapshot reads, so the diff works across ANY
    // pair of versions without a change feed having been captured).
    QueryDef("q241_dataset_diff",
      (s, _) => {
        val root = stagedCdfTable(s)
        val a = Snapshots.read(s, root, "f", Some(0))
          .select(col("ba"), col("name").as("name_a"))
        val b = Snapshots.read(s, root, "f")
          .select(col("ba"), col("name").as("name_b"))
        a.join(b, Seq("ba"), "full_outer")
          .select(col("ba"),
            when(col("name_a").isNull, "added")
              .when(col("name_b").isNull, "removed")
              .when(col("name_a") =!= col("name_b"), "changed")
              .otherwise("unchanged").as("kind"))
          .groupBy("kind")
          .agg(count(lit(1)).as("cnt"), sum("ba").cast("bigint").as("sum_ba"))
          .orderBy("kind")
      },
      Some("""WITH v0 AS (SELECT id AS ba, 'hangc' AS name FROM range(0,1000) t(id)),
             |v2 AS (SELECT id AS ba, CASE WHEN id < 500 THEN 'hangc' ELSE 'upd' END AS name
             |       FROM range(0,1200) t(id) WHERE id % 10 <> 0)
             |SELECT kind, COUNT(*) AS cnt, CAST(SUM(ba) AS BIGINT) AS sum_ba FROM (
             |  SELECT COALESCE(v0.ba, v2.ba) AS ba,
             |    CASE WHEN v0.ba IS NULL THEN 'added'
             |         WHEN v2.ba IS NULL THEN 'removed'
             |         WHEN v0.name <> v2.name THEN 'changed'
             |         ELSE 'unchanged' END AS kind
             |  FROM v0 FULL OUTER JOIN v2 ON v0.ba = v2.ba)
             |GROUP BY 1 ORDER BY kind""".stripMargin)),

    // Partition-layout evolution (the Iceberg partition-spec-evolution
    // analog): commit v0 writes its files range-clustered by x, commit
    // v1 appends files range-clustered by y — two layout generations
    // live in ONE table, no rewrite of the old generation. Because
    // pruning here is per-FILE footer stats (not directory layout), a
    // predicate on either dimension keeps skipping: an x-range opens
    // 1 of the 8 x-clustered files plus the 8 y-clustered ones (whose
    // x spans are wide — conservative, correct), and symmetrically
    // for y. SnapshotSpec asserts those exact file counts; this query
    // pins that mixed-layout reads stay SEMANTICALLY exact on both
    // dimensions. At 100 TB this is how a table survives a partition
    // re-keying without a petabyte rewrite.
    QueryDef("q264_partition_evolution",
      (s, _) => {
        val root = stagedPevoTable(s)
        val byX = Snapshots.readWhere(s, root, "p",
            col("x") >= 0 && col("x") <= 15)
          .agg(count(lit(1)).as("cnt"), sum("ba").cast("bigint").as("sum_ba"))
          .select(lit("by_x").as("dim"), col("cnt"), col("sum_ba"))
        val byY = Snapshots.readWhere(s, root, "p",
            col("y") >= 0 && col("y") <= 15)
          .agg(count(lit(1)).as("cnt"), sum("ba").cast("bigint").as("sum_ba"))
          .select(lit("by_y").as("dim"), col("cnt"), col("sum_ba"))
        byX.unionAll(byY).orderBy("dim")
      },
      Some("""WITH t AS (
             |  SELECT id AS ba, id % 128 AS x, (id // 128) % 128 AS y
             |  FROM range(0, 32768) t(id))
             |SELECT 'by_x' AS dim, COUNT(*) AS cnt, CAST(SUM(ba) AS BIGINT) AS sum_ba
             |FROM t WHERE x BETWEEN 0 AND 15
             |UNION ALL
             |SELECT 'by_y', COUNT(*), CAST(SUM(ba) AS BIGINT)
             |FROM t WHERE y BETWEEN 0 AND 15
             |ORDER BY dim""".stripMargin)),

    // The DataSource V2 surface (round 7): the snapshot table read
    // through spark.read.format("graft") — the provider pushes the
    // range filter down (manifest-stat FILE pruning driver-side,
    // PushedFilters in the plan, residual re-applied) and the result
    // must match the same generator arithmetic as the helper-API
    // reads. Shares q114's staged 5000-row table.
    QueryDef("q280_dsv2_read",
      (s, _) => {
        val root = staged(s, "stats_v1") { tmp =>
          ProduceJob.produceBatch(s, tmp, "p", topics = 1, numMessages = 5000)
          ()
        }
        s.read.format("graft").load(s"$root/p")
          .filter(col("ba") >= 1000L && col("ba") <= 1999L)
          .agg(count(lit(1)).as("cnt"),
            sum("ba").cast("bigint").as("sum_ba"),
            sum("age").cast("bigint").as("sum_age"))
      },
      Some("""SELECT COUNT(*) AS cnt, CAST(SUM(id) AS BIGINT) AS sum_ba,
             |CAST(SUM((18+id)%100) AS BIGINT) AS sum_age
             |FROM range(1000,2000) t(id)""".stripMargin)),

    // Time travel through the DSv2 option surface: version 0 against
    // latest of the shared two-commit table, both read with
    // format("graft") — option("version", v) must pin exactly the
    // committed file set, and the union's arithmetic is pure
    // generator replay on both engines.
    QueryDef("q281_dsv2_time_travel",
      (s, _) => {
        val root = stagedTravelTable(s)
        def rd(v: Option[Int]) = {
          val r = s.read.format("graft")
          v.fold(r)(x => r.option("version", x.toString)).load(s"$root/t")
        }
        val v0 = rd(Some(0))
          .agg(count(lit(1)).as("cnt"), sum("ba").cast("bigint").as("sum_ba"))
          .select(lit("v0").as("snap"), col("cnt"), col("sum_ba"))
        val latest = rd(None)
          .agg(count(lit(1)).as("cnt"), sum("ba").cast("bigint").as("sum_ba"))
          .select(lit("latest").as("snap"), col("cnt"), col("sum_ba"))
        v0.unionAll(latest).orderBy("snap")
      },
      Some("""SELECT 'latest' AS snap, COUNT(*) AS cnt, CAST(SUM(id) AS BIGINT) AS sum_ba
             |FROM (SELECT id FROM range(0,1000) t(id)
             |      UNION ALL SELECT id FROM range(0,500) u(id))
             |UNION ALL
             |SELECT 'v0', COUNT(*), CAST(SUM(id) AS BIGINT) FROM range(0,1000) t(id)
             |ORDER BY snap""".stripMargin)),

    // The DSv2 WRITE surface (round 8, r7 verdict ask #3): an append
    // through df.write.format("graft").mode("append").save(path) must
    // commit a NEW snapshot — and only then become visible — while
    // option("version", 0) keeps reading the pre-append file set.
    // The query builds a fresh one-commit table each run (a staged
    // table would grow run-over-run), appends the ba<500 subset of
    // itself through the provider (same schema by construction,
    // exercising the hive `topic=` partition-layout walk), then
    // aggregates v0 against latest — the q281 shape, with the second
    // commit authored by the DSv2 writer instead of the ingest helper.
    QueryDef("q282_dsv2_append",
      (s, _) => {
        val root = freshScratch(s, "q282", "graft-dsv2w")
        ProduceJob.produceBatch(s, root, "w", topics = 1, numMessages = 1000)
        val t = s"$root/w"
        s.read.format("graft").load(t).filter(col("ba") < 500L)
          .write.format("graft").mode("append").save(t)
        def rd(v: Option[Int]) = {
          val r = s.read.format("graft")
          v.fold(r)(x => r.option("version", x.toString)).load(t)
        }
        val v0 = rd(Some(0))
          .agg(count(lit(1)).as("cnt"), sum("ba").cast("bigint").as("sum_ba"))
          .select(lit("v0").as("snap"), col("cnt"), col("sum_ba"))
        val latest = rd(None)
          .agg(count(lit(1)).as("cnt"), sum("ba").cast("bigint").as("sum_ba"))
          .select(lit("latest").as("snap"), col("cnt"), col("sum_ba"))
        v0.unionAll(latest).orderBy("snap")
      },
      Some("""SELECT 'latest' AS snap, COUNT(*) AS cnt, CAST(SUM(id) AS BIGINT) AS sum_ba
             |FROM (SELECT id FROM range(0,1000) t(id)
             |      UNION ALL SELECT id FROM range(0,500) u(id))
             |UNION ALL
             |SELECT 'v0', COUNT(*), CAST(SUM(id) AS BIGINT) FROM range(0,1000) t(id)
             |ORDER BY snap""".stripMargin)),

    // DSv2 CREATE + INSERT (round 8): a graft table born from DDL —
    // CREATE TABLE (cols) USING graft on an EMPTY path (schema from
    // the DDL, no snapshot yet; supportsExternalMetadata), then two
    // INSERT INTO ... SELECTs, each committing its own snapshot
    // through the same V1Write append path as q282. The final
    // aggregate reads back through plain catalog SQL. Fresh dir +
    // unique table name per run — a staged table would double on
    // every execution.
    QueryDef("q283_dsv2_create_insert",
      (s, _) => {
        val tbl = "graft_q283_" +
          java.util.UUID.randomUUID().toString.take(8)
        val root = freshScratch(s, "q283", "graft-dsv2c", Some(tbl))
        s.sql(s"CREATE TABLE $tbl (k BIGINT, grp BIGINT) " +
          s"USING graft OPTIONS (path '$root/c')")
        s.sql(s"INSERT INTO $tbl SELECT id, id % 7 FROM range(0, 2000)")
        s.sql(s"INSERT INTO $tbl SELECT id, id % 7 FROM range(0, 1000)")
        s.sql(s"SELECT grp, count(*) AS cnt, cast(sum(k) AS bigint) AS sum_k " +
          s"FROM $tbl GROUP BY grp ORDER BY grp")
      },
      Some("""SELECT id % 7 AS grp, COUNT(*) AS cnt,
             |  CAST(SUM(id) AS BIGINT) AS sum_k
             |FROM (SELECT id FROM range(0,2000) t(id)
             |      UNION ALL SELECT id FROM range(0,1000) u(id))
             |GROUP BY 1 ORDER BY grp""".stripMargin)),

    // DSv2 INSERT OVERWRITE (round 8): a full-table replace through
    // mode("overwrite") — the builder's truncate() route — must be ONE
    // "overwrite" commit: latest reads only the replacement, v0 time-
    // travels to the pre-overwrite content, and the row-grain change
    // feed carries the replaced rows as deletes and the new rows as
    // inserts (the delete/merge contract). All four facets ride in the
    // output: v0/latest aggregates plus the feed's per-kind counts, so
    // the oracle pins replace semantics AND CDC conservation together.
    QueryDef("q285_dsv2_overwrite",
      (s, _) => {
        val root = freshScratch(s, "q285", "graft-dsv2o")
        ProduceJob.produceBatch(s, root, "o", topics = 1, numMessages = 1000)
        val t = s"$root/o"
        s.read.format("graft").load(t).filter(col("ba") < 100L)
          .write.format("graft").mode("overwrite").save(t)
        def rd(v: Option[Int]) = {
          val r = s.read.format("graft")
          v.fold(r)(x => r.option("version", x.toString)).load(t)
        }
        val v0 = rd(Some(0))
          .agg(count(lit(1)).as("cnt"), sum("ba").cast("bigint").as("sum_ba"))
          .select(lit("v0").as("snap"), col("cnt"), col("sum_ba"))
        val latest = rd(None)
          .agg(count(lit(1)).as("cnt"), sum("ba").cast("bigint").as("sum_ba"))
          .select(lit("latest").as("snap"), col("cnt"), col("sum_ba"))
        val feed = graft.ingest.Snapshots
          .readChangeFeed(s, root, "o", fromVersion = 0)
          .groupBy(col("_change_type").as("snap"))
          .agg(count(lit(1)).as("cnt"), sum("ba").cast("bigint").as("sum_ba"))
        v0.unionAll(latest).unionByName(feed).orderBy("snap")
      },
      Some("""SELECT 'delete' AS snap, COUNT(*) AS cnt, CAST(SUM(id) AS BIGINT) AS sum_ba
             |FROM range(0,1000) t(id)
             |UNION ALL
             |SELECT 'insert', COUNT(*), CAST(SUM(id) AS BIGINT) FROM range(0,100) t(id)
             |UNION ALL
             |SELECT 'latest', COUNT(*), CAST(SUM(id) AS BIGINT) FROM range(0,100) t(id)
             |UNION ALL
             |SELECT 'v0', COUNT(*), CAST(SUM(id) AS BIGINT) FROM range(0,1000) t(id)
             |ORDER BY snap""".stripMargin)),

    // Streaming sink (round 8): `writeStream.format("graft")` commits
    // each micro-batch to the snapshot log EXACTLY ONCE (txn =
    // checkpoint identity × batchId — a replayed batch writes
    // nothing; spec-pinned in GraftSourceSpec). The query drains the
    // events fixture through the sink with AvailableNow and reads the
    // landed table back through the DSv2 reader — conservation end to
    // end: stream in, lakehouse out, nothing lost or doubled. The
    // content is batch-count independent, so the oracle is the plain
    // batch aggregate over events.
    QueryDef("q286_stream_graft_sink",
      (s, dir) => {
        val root = freshScratch(s, "q286", "graft-dsv2s")
        // the fixture is one parquet FILE; the file stream source needs
        // a directory — reuse the streaming queries' staged split (4
        // chunk files → multiple micro-batches at maxFilesPerTrigger=1)
        val src = StreamingQueries.stageEventsDir(s, dir)
        val schema = s.read.parquet(src).schema
        val q = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(src)
          .select(col("event_id"), col("user_id"), col("event_type"))
          .writeStream.format("graft")
          .option("checkpointLocation", s"$root/_ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start(s"$root/t")
        q.awaitTermination()
        s.read.format("graft").load(s"$root/t")
          .agg(count(lit(1)).as("cnt"),
            sum("event_id").cast("bigint").as("sum_id"),
            countDistinct("user_id").cast("bigint").as("users"))
      },
      Some("""SELECT COUNT(*) AS cnt, CAST(SUM(event_id) AS BIGINT) AS sum_id,
             |CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users FROM events""".stripMargin)),

    // Incremental graft→graft pipeline (round 8): the table as a
    // stream SOURCE through the short name — readStream.format(
    // "graft") turns each snapshot commit into a micro-batch (offsets
    // ARE commit versions) — chained into the graft SINK, which lands
    // each batch as one snapshot commit. Three source commits at
    // maxVersionsPerTrigger=1 become exactly three sink commits: the
    // reference's consume→offload loop with lakehouse tables on BOTH
    // ends, incremental by construction (a restart from the
    // checkpoint would re-read nothing). Output pins conservation
    // (count/sum through the filter) AND batch-for-batch
    // incrementality (sink commit count = source commit count).
    QueryDef("q287_graft_pipeline",
      (s, _) => {
        val root = freshScratch(s, "q287", "graft-dsv2pl")
        ProduceJob.produceBatch(s, root, "a", topics = 1, numMessages = 1000) // v0: ba 0..999
        Snapshots.appendBatch(s, root, "a",
          genRows(s, 1000, 1500, "m1", "a", topics = 1), Some("q287v1"), Seq("topic")) // v1
        Snapshots.appendBatch(s, root, "a",
          genRows(s, 1500, 1800, "m2", "a", topics = 1), Some("q287v2"), Seq("topic")) // v2
        val q = s.readStream.format("graft")
          .option("maxVersionsPerTrigger", "1")
          .load(s"$root/a")
          .filter(col("ba") % 2 === 0)
          .select(col("ba"), col("topic"))
          .writeStream.format("graft")
          .option("checkpointLocation", s"$root/_ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start(s"$root/b")
        q.awaitTermination()
        s.read.format("graft").load(s"$root/b")
          .agg(count(lit(1)).as("cnt"), sum("ba").cast("bigint").as("sum_ba"))
          .select(col("cnt"), col("sum_ba"),
            lit(Snapshots.versions(root, "b").size).cast("bigint").as("commits"))
      },
      Some("""SELECT COUNT(*) AS cnt, CAST(SUM(id) AS BIGINT) AS sum_ba,
             |CAST(3 AS BIGINT) AS commits
             |FROM range(0,1800) t(id) WHERE id % 2 = 0""".stripMargin)),

    // replaceWhere / partial overwrite (round 8): the ba>=800 region
    // is replaced by recomputed rows 800..899 in ONE merge-on-read
    // commit — a DV kills the old region (no file rewritten), new
    // files carry the refresh, rows outside the predicate are refused.
    // The partition-refresh shape of incremental pipelines: at 100 TB
    // the commit costs O(region), never O(table). Output pins all
    // four facets — v0 intact under time travel, latest = kept ∪ new,
    // and the row-grain feed carrying exactly the region as deletes.
    QueryDef("q288_replace_where",
      (s, _) => {
        val root = freshScratch(s, "q288", "graft-dsv2rw")
        ProduceJob.produceBatch(s, root, "r", topics = 1, numMessages = 1000) // v0: ba 0..999
        val t = s"$root/r"
        genRows(s, 800, 900, "rw", "r", topics = 1)
          .write.format("graft").mode("overwrite")
          .option("replaceWhere", "ba >= 800").save(t)
        def rd(v: Option[Int]) = {
          val r = s.read.format("graft")
          v.fold(r)(x => r.option("version", x.toString)).load(t)
        }
        val v0 = rd(Some(0))
          .agg(count(lit(1)).as("cnt"), sum("ba").cast("bigint").as("sum_ba"))
          .select(lit("v0").as("snap"), col("cnt"), col("sum_ba"))
        val latest = rd(None)
          .agg(count(lit(1)).as("cnt"), sum("ba").cast("bigint").as("sum_ba"))
          .select(lit("latest").as("snap"), col("cnt"), col("sum_ba"))
        val feed = graft.ingest.Snapshots
          .readChangeFeed(s, root, "r", fromVersion = 0)
          .groupBy(col("_change_type").as("snap"))
          .agg(count(lit(1)).as("cnt"), sum("ba").cast("bigint").as("sum_ba"))
        v0.unionAll(latest).unionByName(feed).orderBy("snap")
      },
      Some("""SELECT 'delete' AS snap, COUNT(*) AS cnt, CAST(SUM(id) AS BIGINT) AS sum_ba
             |FROM range(800,1000) t(id)
             |UNION ALL
             |SELECT 'insert', COUNT(*), CAST(SUM(id) AS BIGINT) FROM range(800,900) t(id)
             |UNION ALL
             |SELECT 'latest', COUNT(*), CAST(SUM(id) AS BIGINT)
             |FROM (SELECT id FROM range(0,800) t(id)
             |      UNION ALL SELECT id FROM range(800,900) u(id))
             |UNION ALL
             |SELECT 'v0', COUNT(*), CAST(SUM(id) AS BIGINT) FROM range(0,1000) t(id)
             |ORDER BY snap""".stripMargin)),

    // Timestamp time travel (round 8): option("timestampAsOf", …)
    // resolves the highest version whose COMMIT TIME (the manifest
    // file's mtime — Delta's anchor, no format change) is at or
    // before the instant; epoch-millis and calendar forms both
    // accepted. The query pins both commits' times to known instants
    // (the resolver reads mtimes, so setting them IS the tested
    // surface), then reads between and at the second commit — one
    // probe per accepted timestamp form. Resolution is metadata-only:
    // one stat per version, no data file touched.
    QueryDef("q289_time_travel_ts",
      (s, _) => {
        val root = freshScratch(s, "q289", "graft-dsv2tt")
        ProduceJob.produceBatch(s, root, "t", topics = 1, numMessages = 1000) // v0: ba 0..999
        Snapshots.appendBatch(s, root, "t",
          genRows(s, 1000, 1500, "t1", "t", topics = 1), Some("q289v1"), Seq("topic")) // v1
        Seq(0, 1).foreach { v =>
          java.nio.file.Files.setLastModifiedTime(
            java.nio.file.Paths.get(s"$root/t._log/v0000$v.json"),
            java.nio.file.attribute.FileTime.fromMillis(1000000L * (v + 1)))
        }
        def rd(ts: String) = s.read.format("graft")
          .option("timestampAsOf", ts).load(s"$root/t")
        val asof0 = rd("1500000") // between the commits → v0
          .agg(count(lit(1)).as("cnt"), sum("ba").cast("bigint").as("sum_ba"))
          .select(lit("t0").as("probe"), col("cnt"), col("sum_ba"))
        val asof1 = rd("1970-01-01 00:33:20") // = 2,000,000 ms → v1
          .agg(count(lit(1)).as("cnt"), sum("ba").cast("bigint").as("sum_ba"))
          .select(lit("t1").as("probe"), col("cnt"), col("sum_ba"))
        asof0.unionAll(asof1).orderBy("probe")
      },
      Some("""SELECT 't0' AS probe, COUNT(*) AS cnt, CAST(SUM(id) AS BIGINT) AS sum_ba
             |FROM range(0,1000) t(id)
             |UNION ALL
             |SELECT 't1', COUNT(*), CAST(SUM(id) AS BIGINT) FROM range(0,1500) t(id)
             |ORDER BY probe""".stripMargin)),

    // SQL DELETE FROM (round 8): the SupportsDelete surface — plain
    // `DELETE FROM t WHERE …` against a graft catalog table becomes
    // ONE merge-on-read commit (deletion-vector sidecar, no file
    // rewritten — the deleteMoR contract, now reachable from SQL).
    // The filter translation is exact or refused; here a range
    // conjunction maps cleanly. v0 stays readable; the deleted rows
    // ride the change feed.
    QueryDef("q290_sql_delete",
      (s, _) => {
        val tbl = "graft_q290_" +
          java.util.UUID.randomUUID().toString.take(8)
        val root = freshScratch(s, "q290", "graft-dsv2dl", Some(tbl))
        ProduceJob.produceBatch(s, root, "d", topics = 1, numMessages = 1000) // v0: ba 0..999
        s.sql(s"CREATE TABLE $tbl USING graft OPTIONS (path '$root/d')")
        s.sql(s"DELETE FROM $tbl WHERE ba >= 500 AND ba < 700")
        val latest = s.sql(
          s"SELECT 'latest' AS snap, count(*) AS cnt, cast(sum(ba) AS bigint) AS sum_ba FROM $tbl")
        val v0 = s.read.format("graft").option("version", "0").load(s"$root/d")
          .agg(count(lit(1)).as("cnt"), sum("ba").cast("bigint").as("sum_ba"))
          .select(lit("v0").as("snap"), col("cnt"), col("sum_ba"))
        val feed = graft.ingest.Snapshots
          .readChangeFeed(s, root, "d", fromVersion = 0)
          .groupBy(col("_change_type").as("snap"))
          .agg(count(lit(1)).as("cnt"), sum("ba").cast("bigint").as("sum_ba"))
        latest.unionAll(v0).unionByName(feed).orderBy("snap")
      },
      Some("""SELECT 'delete' AS snap, COUNT(*) AS cnt, CAST(SUM(id) AS BIGINT) AS sum_ba
             |FROM range(500,700) t(id)
             |UNION ALL
             |SELECT 'latest', COUNT(*), CAST(SUM(id) AS BIGINT)
             |FROM range(0,1000) t(id) WHERE id < 500 OR id >= 700
             |UNION ALL
             |SELECT 'v0', COUNT(*), CAST(SUM(id) AS BIGINT) FROM range(0,1000) t(id)
             |ORDER BY snap""".stripMargin)),

    // Metadata-only COUNT(*) (round 8): the DSv2 scan builder pushes a
    // global CountStar down to the MANIFEST — per-file "R" row-count
    // stats summed driver-side, zero data files opened (GraftSourceSpec
    // proves it literally, with the data files renamed away). At
    // 100 TB this is the difference between a catalog lookup and a
    // full scan. The query counts BOTH snapshot versions of a fresh
    // two-commit table (base produce + DSv2 append), so the pushdown
    // is exercised through time travel too; filters or deletion
    // vectors would fall back to the exact scan (spec-pinned).
    QueryDef("q284_meta_count",
      (s, _) => {
        val root = freshScratch(s, "q284", "graft-dsv2n")
        ProduceJob.produceBatch(s, root, "m", topics = 1, numMessages = 3000)
        s.read.format("graft").load(s"$root/m").filter(col("ba") < 1321L)
          .write.format("graft").mode("append").save(s"$root/m")
        val v0 = s.read.format("graft").option("version", "0").load(s"$root/m")
          .agg(count(lit(1)).as("cnt"))
          .select(lit("v0").as("snap"), col("cnt"))
        val latest = s.read.format("graft").load(s"$root/m")
          .agg(count(lit(1)).as("cnt"))
          .select(lit("latest").as("snap"), col("cnt"))
        v0.unionAll(latest).orderBy("snap")
      },
      Some("""SELECT 'latest' AS snap, COUNT(*) AS cnt
             |FROM (SELECT id FROM range(0,3000) t(id)
             |      UNION ALL SELECT id FROM range(0,1321) u(id))
             |UNION ALL
             |SELECT 'v0', COUNT(*) FROM range(0,3000) t(id)
             |ORDER BY snap""".stripMargin)),

    // SQL UPDATE (round 8): `UPDATE t SET … WHERE …` against a graft
    // catalog table — the GraftDml lowering (UpdateTable is resolved
    // by Spark's analyzer, rewritten by our post-hoc rule, executed
    // copy-on-write by Snapshots.updateWhere; only the file holding
    // the matched ba-range is rewritten). Assignments are
    // simultaneous (ba both read and written in one SET list); v0
    // stays readable; both CDC images ride the feed.
    QueryDef("q291_sql_update",
      (s, _) => {
        val tbl = "graft_q291_" +
          java.util.UUID.randomUUID().toString.take(8)
        val root = freshScratch(s, "q291", "graft-dsv2up", Some(tbl))
        ProduceJob.produceBatch(s, root, "u", topics = 1, numMessages = 1000)
        s.sql(s"CREATE TABLE $tbl USING graft OPTIONS (path '$root/u')")
        s.sql(s"UPDATE $tbl SET ba = ba + 10000, name = 'upd' " +
          "WHERE ba >= 500 AND ba < 600")
        val latest = s.sql(
          s"""SELECT 'latest' AS snap, count(*) AS cnt,
             |cast(sum(ba) AS bigint) AS sum_ba,
             |count(if(name = 'upd', 1, null)) AS tagged FROM $tbl""".stripMargin)
        val v0 = s.read.format("graft").option("version", "0").load(s"$root/u")
          .agg(count(lit(1)).as("cnt"),
            sum("ba").cast("bigint").as("sum_ba"),
            count(when(col("name") === "upd", 1)).as("tagged"))
          .select(lit("v0").as("snap"), col("cnt"), col("sum_ba"), col("tagged"))
        val feed = graft.ingest.Snapshots
          .readChangeFeed(s, root, "u", fromVersion = 0)
          .groupBy(col("_change_type").as("snap"))
          .agg(count(lit(1)).as("cnt"),
            sum("ba").cast("bigint").as("sum_ba"),
            count(when(col("name") === "upd", 1)).as("tagged"))
        latest.unionAll(v0).unionByName(feed).orderBy("snap")
      },
      Some("""SELECT 'latest' AS snap, COUNT(*) AS cnt,
             |  CAST(SUM(CASE WHEN id >= 500 AND id < 600 THEN id + 10000 ELSE id END) AS BIGINT) AS sum_ba,
             |  100 AS tagged
             |FROM range(0,1000) t(id)
             |UNION ALL
             |SELECT 'update_postimage', COUNT(*), CAST(SUM(id + 10000) AS BIGINT), 100
             |FROM range(500,600) t(id)
             |UNION ALL
             |SELECT 'update_preimage', COUNT(*), CAST(SUM(id) AS BIGINT), 0
             |FROM range(500,600) t(id)
             |UNION ALL
             |SELECT 'v0', COUNT(*), CAST(SUM(id) AS BIGINT), 0
             |FROM range(0,1000) t(id)
             |ORDER BY snap""".stripMargin)),

    // SQL MERGE INTO (round 8): the full three-outcome clause surface
    // in one statement — conditional UPDATE, fallthrough DELETE
    // (first-wins order), conditional INSERT — lowered by GraftDml to
    // Snapshots.mergeInto (copy-on-write; only files holding matched
    // rows rewritten; unassigned INSERT columns NULL-fill). The
    // oracle replays the clause algebra over range(): evens of
    // 900..999 update, odds delete, 1000..1099 insert.
    QueryDef("q292_sql_merge",
      (s, _) => {
        val tbl = "graft_q292_" +
          java.util.UUID.randomUUID().toString.take(8)
        val root = freshScratch(s, "q292", "graft-dsv2mg", Some(tbl))
        ProduceJob.produceBatch(s, root, "m", topics = 1, numMessages = 1000)
        s.sql(s"CREATE TABLE $tbl USING graft OPTIONS (path '$root/m')")
        s.sql("""CREATE OR REPLACE TEMP VIEW q292_src AS
          SELECT CAST(id AS BIGINT) AS ba, concat('s', id) AS nm
          FROM range(900, 1100)""")
        s.sql(s"""MERGE INTO $tbl t USING q292_src s
          ON t.ba = s.ba
          WHEN MATCHED AND s.ba % 2 = 0 THEN UPDATE SET name = s.nm
          WHEN MATCHED THEN DELETE
          WHEN NOT MATCHED THEN INSERT (ba, name) VALUES (s.ba, s.nm)""")
        val latest = s.sql(
          s"""SELECT 'latest' AS snap, count(*) AS cnt,
             |cast(sum(ba) AS bigint) AS sum_ba,
             |count(if(name LIKE 's%', 1, null)) AS tagged FROM $tbl""".stripMargin)
        val feed = graft.ingest.Snapshots
          .readChangeFeed(s, root, "m", fromVersion = 0)
          .groupBy(col("_change_type").as("snap"))
          .agg(count(lit(1)).as("cnt"),
            sum("ba").cast("bigint").as("sum_ba"),
            count(when(col("name").like("s%"), 1)).as("tagged"))
        latest.unionByName(feed).orderBy("snap")
      },
      Some("""WITH odd_dead AS (SELECT id FROM range(900,1000) t(id) WHERE id % 2 = 1),
             |     upd AS (SELECT id FROM range(900,1000) t(id) WHERE id % 2 = 0),
             |     ins AS (SELECT id FROM range(1000,1100) t(id))
             |SELECT 'delete' AS snap, COUNT(*) AS cnt,
             |  CAST(SUM(id) AS BIGINT) AS sum_ba, 0 AS tagged FROM odd_dead
             |UNION ALL
             |SELECT 'insert', COUNT(*), CAST(SUM(id) AS BIGINT), COUNT(*) FROM ins
             |UNION ALL
             |SELECT 'latest',
             |  (SELECT COUNT(*) FROM range(0,1000) t(id)) - (SELECT COUNT(*) FROM odd_dead)
             |    + (SELECT COUNT(*) FROM ins),
             |  CAST((SELECT SUM(id) FROM range(0,1000) t(id)) - (SELECT SUM(id) FROM odd_dead)
             |    + (SELECT SUM(id) FROM ins) AS BIGINT),
             |  (SELECT COUNT(*) FROM upd) + (SELECT COUNT(*) FROM ins)
             |UNION ALL
             |SELECT 'update_postimage', COUNT(*), CAST(SUM(id) AS BIGINT), COUNT(*) FROM upd
             |UNION ALL
             |SELECT 'update_preimage', COUNT(*), CAST(SUM(id) AS BIGINT), 0 FROM upd
             |ORDER BY snap""".stripMargin)),

    // Catalog SQL lifecycle (round 8): the GraftCatalog plugin
    // (spark.sql.catalog.graft) — CREATE NAMESPACE/TABLE with declared
    // identity partitioning, INSERT INTO by name, ALTER TABLE ADD
    // COLUMN DEFAULT (a metadata-only snapshot commit; pre-evolution
    // rows read the default), native `VERSION AS OF` time travel. The
    // fixed namespace is dropped CASCADE up front so every run builds
    // the same four commits from nothing.
    QueryDef("q293_catalog_sql",
      (s, _) => {
        s.sql("DROP NAMESPACE IF EXISTS graft.q293 CASCADE")
        s.sql("CREATE NAMESPACE graft.q293")
        s.sql("CREATE TABLE graft.q293.ev (id BIGINT, topic STRING) PARTITIONED BY (topic)")
        s.sql("INSERT INTO graft.q293.ev SELECT id, concat('t', id % 2) FROM range(0, 1000)") // v0
        s.sql("INSERT INTO graft.q293.ev SELECT id, 't9' FROM range(1000, 1500)")             // v1
        s.sql("ALTER TABLE graft.q293.ev ADD COLUMN tier STRING DEFAULT 'std'")               // v2
        s.sql("INSERT INTO graft.q293.ev SELECT id, 't9', 'new' FROM range(1500, 1600)")      // v3
        s.sql("""SELECT 'latest' AS snap, count(*) AS cnt,
                |  cast(sum(id) AS bigint) AS sum_id,
                |  count(if(tier = 'std', 1, null)) AS std
                |FROM graft.q293.ev
                |UNION ALL
                |SELECT 'v0', count(*), cast(sum(id) AS bigint), CAST(0 AS BIGINT)
                |FROM graft.q293.ev VERSION AS OF 0
                |ORDER BY snap""".stripMargin)
      },
      Some("""SELECT 'latest' AS snap, COUNT(*) AS cnt,
             |  CAST(SUM(id) AS BIGINT) AS sum_id,
             |  CAST(SUM(CASE WHEN id < 1500 THEN 1 ELSE 0 END) AS BIGINT) AS std
             |FROM range(0, 1600) t(id)
             |UNION ALL
             |SELECT 'v0', COUNT(*), CAST(SUM(id) AS BIGINT), 0
             |FROM range(0, 1000) t(id)
             |ORDER BY snap""".stripMargin)),

    // Catalog maintenance procedures (round 8): CALL
    // graft.system.{compact,tag,restore,vacuum} — Spark 4's
    // ProcedureCatalog as the OPTIMIZE/RESTORE/VACUUM SQL surface.
    // Each CALL returns the committed version, and those versions are
    // part of the checked output (the commit sequence is
    // deterministic: insert v0, insert v1, compact v2, restore v3);
    // reads prove compaction preserved content, the tag pins v1, and
    // the restore+vacuum leave exactly v0's rows readable.
    QueryDef("q294_catalog_maintenance",
      (s, _) => {
        s.sql("DROP NAMESPACE IF EXISTS graft.q294 CASCADE")
        s.sql("CREATE NAMESPACE graft.q294")
        s.sql("CREATE TABLE graft.q294.m (id BIGINT)")
        s.sql("INSERT INTO graft.q294.m SELECT id FROM range(0, 1000)")     // v0
        s.sql("INSERT INTO graft.q294.m SELECT id FROM range(1000, 1300)")  // v1
        val cv = s.sql("CALL graft.system.compact(table => 'q294.m')").head().getInt(0)
        s.sql("CALL graft.system.tag(table => 'q294.m', name => 'rel1', version => 1)")
        val rv = s.sql("CALL graft.system.restore(table => 'q294.m', version => 0)").head().getInt(0)
        // CALL history → (version, op, n_files, n_removed): fold the
        // deterministic op sequence into the checked output. BEFORE
        // the vacuum — vacuum prunes pre-keep_from versions from the
        // log, shrinking history (by design).
        val ops = s.sql("CALL graft.system.history(table => 'q294.m')")
          .collect().map(r => s"${r.getInt(0)}:${r.getString(1)}").mkString(",")
        // keep_from=1 so the tagged v1 stays readable below — vacuuming
        // from the restore point would reclaim the tag's extra files
        s.sql("CALL graft.system.vacuum(table => 'q294.m', keep_from => 1)")
        s.sql(s"""SELECT 'a_versions' AS step, CAST($cv AS BIGINT) AS cnt,
                |  CAST($rv AS BIGINT) AS sum_id, '$ops' AS ops
                |UNION ALL
                |SELECT 'b_tagread', count(*), cast(sum(id) AS bigint), ''
                |FROM graft.q294.m VERSION AS OF 'rel1'
                |UNION ALL
                |SELECT 'c_postrestore', count(*), cast(sum(id) AS bigint), ''
                |FROM graft.q294.m
                |ORDER BY step""".stripMargin)
      },
      Some("""SELECT 'a_versions' AS step, CAST(2 AS BIGINT) AS cnt, CAST(3 AS BIGINT) AS sum_id,
             |  '0:append,1:append,2:compact,3:restore' AS ops
             |UNION ALL
             |SELECT 'b_tagread', COUNT(*), CAST(SUM(id) AS BIGINT), '' FROM range(0, 1300) t(id)
             |UNION ALL
             |SELECT 'c_postrestore', COUNT(*), CAST(SUM(id) AS BIGINT), '' FROM range(0, 1000) t(id)
             |ORDER BY step""".stripMargin)),

    // Zero-copy CLONE (round 8): CALL graft.system.clone hardlinks
    // every data file (zero bytes moved at any table size) and copies
    // the metadata verbatim — history, tags, schema events, DVs ride
    // along — then the two tables DIVERGE freely: an insert on the
    // clone and a MoR DELETE on the source each stay on their own
    // side, and the clone still time-travels to the shared v0. The
    // dev/test-copy primitive a 100 TB lakehouse needs.
    QueryDef("q295_clone",
      (s, _) => {
        s.sql("DROP NAMESPACE IF EXISTS graft.q295 CASCADE")
        s.sql("CREATE NAMESPACE graft.q295")
        s.sql("CREATE TABLE graft.q295.src (id BIGINT)")
        s.sql("INSERT INTO graft.q295.src SELECT id FROM range(0, 1000)")     // v0
        s.sql("INSERT INTO graft.q295.src SELECT id FROM range(1000, 1200)")  // v1
        val cv = s.sql("CALL graft.system.clone(source => 'q295.src', target => 'q295.dst')")
          .head().getInt(0)
        s.sql("INSERT INTO graft.q295.dst SELECT id FROM range(2000, 2100)")
        s.sql("DELETE FROM graft.q295.src WHERE id < 100")
        s.sql(s"""SELECT 'a_clone_v' AS step, CAST($cv AS BIGINT) AS cnt,
                |  CAST(0 AS BIGINT) AS sum_id
                |UNION ALL
                |SELECT 'b_src', count(*), cast(sum(id) AS bigint) FROM graft.q295.src
                |UNION ALL
                |SELECT 'c_dst', count(*), cast(sum(id) AS bigint) FROM graft.q295.dst
                |UNION ALL
                |SELECT 'd_dst_v0', count(*), cast(sum(id) AS bigint)
                |FROM graft.q295.dst VERSION AS OF 0
                |ORDER BY step""".stripMargin)
      },
      Some("""SELECT 'a_clone_v' AS step, CAST(1 AS BIGINT) AS cnt, CAST(0 AS BIGINT) AS sum_id
             |UNION ALL
             |SELECT 'b_src', COUNT(*), CAST(SUM(id) AS BIGINT)
             |FROM range(0, 1200) t(id) WHERE id >= 100
             |UNION ALL
             |SELECT 'c_dst', COUNT(*), CAST(SUM(id) AS BIGINT)
             |FROM (SELECT id FROM range(0, 1200) t(id)
             |      UNION ALL SELECT id FROM range(2000, 2100) u(id))
             |UNION ALL
             |SELECT 'd_dst_v0', COUNT(*), CAST(SUM(id) AS BIGINT) FROM range(0, 1000) t(id)
             |ORDER BY step""".stripMargin)),

    // MERGE WITH SCHEMA EVOLUTION (round 8): GraftTable declares
    // AUTOMATIC_SCHEMA_EVOLUTION, so the analyzer's own
    // ResolveMergeIntoSchemaEvolution routes the source's new column
    // through GraftCatalog.alterTable (one metadata-only addColumn
    // commit) BEFORE the merge resolves — Delta's auto-evolution
    // surface, catalog-native. The 900 untouched rows NULL-fill the
    // new column (no data file rewritten for them); pre-evolution
    // versions stay readable without it.
    QueryDef("q296_merge_schema_evolution",
      (s, _) => {
        s.sql("DROP NAMESPACE IF EXISTS graft.q296 CASCADE")
        s.sql("CREATE NAMESPACE graft.q296")
        s.sql("CREATE TABLE graft.q296.se (id BIGINT, v BIGINT)")
        s.sql("INSERT INTO graft.q296.se SELECT id, id * 2 FROM range(0, 1000)") // v0
        s.sql("""CREATE OR REPLACE TEMP VIEW q296_src AS
          SELECT CAST(id AS BIGINT) AS id, CAST(id * 3 AS BIGINT) AS v,
                 CAST(id * 10 AS BIGINT) AS extra
          FROM range(900, 1100)""")
        s.sql("""MERGE WITH SCHEMA EVOLUTION INTO graft.q296.se t
          USING q296_src s ON t.id = s.id
          WHEN MATCHED THEN UPDATE SET v = s.v, extra = s.extra
          WHEN NOT MATCHED THEN INSERT (id, v, extra) VALUES (s.id, s.v, s.extra)""")
        s.sql("""SELECT 'latest' AS snap, count(*) AS cnt,
                |  cast(sum(v) AS bigint) AS sum_v,
                |  cast(sum(extra) AS bigint) AS sum_extra,
                |  count(if(extra IS NULL, 1, null)) AS null_extra
                |FROM graft.q296.se
                |UNION ALL
                |SELECT 'v0', count(*), cast(sum(v) AS bigint),
                |  CAST(0 AS BIGINT), CAST(0 AS BIGINT)
                |FROM graft.q296.se VERSION AS OF 0
                |ORDER BY snap""".stripMargin)
      },
      Some("""WITH touched AS (SELECT id FROM range(900, 1100) t(id))
             |SELECT 'latest' AS snap,
             |  (SELECT COUNT(*) FROM range(0, 1100) t(id)) AS cnt,
             |  CAST((SELECT SUM(id * 2) FROM range(0, 900) t(id))
             |     + (SELECT SUM(id * 3) FROM touched) AS BIGINT) AS sum_v,
             |  CAST((SELECT SUM(id * 10) FROM touched) AS BIGINT) AS sum_extra,
             |  CAST(900 AS BIGINT) AS null_extra
             |UNION ALL
             |SELECT 'v0', COUNT(*), CAST(SUM(id * 2) AS BIGINT),
             |  CAST(0 AS BIGINT), CAST(0 AS BIGINT)
             |FROM range(0, 1000) t(id)
             |ORDER BY snap""".stripMargin)),

    // Nested-field DML (round 8): `SET st.a = …` lowers to ONE
    // named_struct rebuild over the pre-image (GraftDml
    // .lowerAssignments) — sibling fields copy through untouched,
    // values still evaluate against the OLD row (the simultaneous-
    // assignment contract), and only files holding matches rewrite.
    // The oracle replays the field arithmetic over range(); output is
    // flat (struct fields projected out) per the nested-type lint.
    QueryDef("q297_nested_update",
      (s, _) => {
        s.sql("DROP NAMESPACE IF EXISTS graft.q297 CASCADE")
        s.sql("CREATE NAMESPACE graft.q297")
        s.sql("CREATE TABLE graft.q297.n (id BIGINT, st STRUCT<a: BIGINT, b: BIGINT>)")
        s.sql("""INSERT INTO graft.q297.n
          SELECT id, named_struct('a', id, 'b', id * 2) FROM range(0, 1000)""")
        // st.a rebuilt from the pre-image's st.b; st.b untouched
        s.sql("UPDATE graft.q297.n SET st.a = st.b + 100000 WHERE id >= 990")
        s.sql("""CREATE OR REPLACE TEMP VIEW q297_src AS
          SELECT CAST(id AS BIGINT) AS id, CAST(id * 7 AS BIGINT) AS nb
          FROM range(0, 10)""")
        s.sql("""MERGE INTO graft.q297.n t USING q297_src s ON t.id = s.id
          WHEN MATCHED THEN UPDATE SET st.b = s.nb""")
        s.sql("""SELECT count(*) AS cnt,
                |  cast(sum(st.a) AS bigint) AS sum_a,
                |  cast(sum(st.b) AS bigint) AS sum_b
                |FROM graft.q297.n""".stripMargin)
      },
      Some("""SELECT COUNT(*) AS cnt,
             |  CAST(SUM(CASE WHEN id >= 990 THEN id * 2 + 100000 ELSE id END)
             |       AS BIGINT) AS sum_a,
             |  CAST(SUM(CASE WHEN id < 10 THEN id * 7 ELSE id * 2 END)
             |       AS BIGINT) AS sum_b
             |FROM range(0, 1000) t(id)""".stripMargin)),

    // Streaming read BY TABLE NAME (round 8): GraftTable declares
    // MICRO_BATCH_READ, so `readStream.table("graft.ns.t")` plans the
    // NATIVE DSv2 micro-batch stream (GraftMicroBatchStream — offsets
    // are commit versions, the V1 source's exact semantics; each
    // batch's executed plan is sliced into input partitions, rows
    // never pass through the driver). Two source commits at
    // maxVersionsPerTrigger=1 drain as exactly two sink commits —
    // batch-for-batch incrementality by name on both ends.
    QueryDef("q298_stream_by_name",
      (s, _) => {
        s.sql("DROP NAMESPACE IF EXISTS graft.q298 CASCADE")
        s.sql("CREATE NAMESPACE graft.q298")
        s.sql("CREATE TABLE graft.q298.src (id BIGINT)")
        s.sql("INSERT INTO graft.q298.src SELECT id FROM range(0, 1000)")     // v0
        s.sql("INSERT INTO graft.q298.src SELECT id FROM range(1000, 1500)")  // v1
        s.sql("CREATE TABLE graft.q298.out (id BIGINT, id2 BIGINT)")
        val q = s.readStream
          .option("maxVersionsPerTrigger", "1")
          .table("graft.q298.src")
          .filter(col("id") % 3 === 0)
          .select(col("id"), (col("id") * 2).as("id2"))
          .writeStream.format("graft")
          .option("checkpointLocation", "/tmp/graft/lake/q298/_ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start("/tmp/graft/lake/q298/out/t")
        q.awaitTermination()
        s.table("graft.q298.out")
          .agg(count(lit(1)).as("cnt"), sum("id").cast("bigint").as("sum_id"),
            sum("id2").cast("bigint").as("sum_id2"))
          .select(col("cnt"), col("sum_id"), col("sum_id2"),
            lit(Snapshots.versions("/tmp/graft/lake/q298/out", "t").size)
              .cast("bigint").as("commits"))
      },
      Some("""SELECT COUNT(*) AS cnt, CAST(SUM(id) AS BIGINT) AS sum_id,
             |CAST(SUM(id * 2) AS BIGINT) AS sum_id2, CAST(2 AS BIGINT) AS commits
             |FROM range(0, 1500) t(id) WHERE id % 3 = 0""".stripMargin)),

    // The change feed as a RELATION (round 8): `option("readChangeFeed",
    // true)` — Delta's CDF read shape. The whole history replays as
    // row-grain change records (v0's inserts included — the inclusive
    // startingVersion contract); a bounded [startingVersion,
    // endingVersion] window narrows to one commit's records, and its
    // cost is that window's changes, never the table. The same option
    // on readStream paces the identical feed by commit versions
    // (GraftSourceSpec pins that path).
    QueryDef("q299_change_feed_relation",
      (s, _) => {
        s.sql("DROP NAMESPACE IF EXISTS graft.q299 CASCADE")
        s.sql("CREATE NAMESPACE graft.q299")
        s.sql("CREATE TABLE graft.q299.c (id BIGINT)")
        s.sql("INSERT INTO graft.q299.c SELECT id FROM range(0, 1000)")          // v0
        s.sql("DELETE FROM graft.q299.c WHERE id < 100")                         // v1
        s.sql("UPDATE graft.q299.c SET id = id + 10000 WHERE id >= 900")         // v2
        val path = "/tmp/graft/lake/q299/c/t"
        val full = s.read.format("graft")
          .option("readChangeFeed", "true").load(path)
          .groupBy(col("_change_type").as("ct"))
          .agg(count(lit(1)).as("cnt"), sum("id").cast("bigint").as("sum_id"))
          .withColumn("win", lit("a_full"))
        val window = s.read.format("graft")
          .option("readChangeFeed", "true")
          .option("startingVersion", "1").option("endingVersion", "1").load(path)
          .groupBy(col("_change_type").as("ct"))
          .agg(count(lit(1)).as("cnt"), sum("id").cast("bigint").as("sum_id"))
          .withColumn("win", lit("b_window"))
        full.unionByName(window).orderBy("win", "ct")
      },
      Some("""WITH full_feed AS (
             |  SELECT 'insert' AS ct, COUNT(*) AS cnt, CAST(SUM(id) AS BIGINT) AS sum_id
             |  FROM range(0, 1000) t(id)
             |  UNION ALL
             |  SELECT 'delete', COUNT(*), CAST(SUM(id) AS BIGINT) FROM range(0, 100) t(id)
             |  UNION ALL
             |  SELECT 'update_preimage', COUNT(*), CAST(SUM(id) AS BIGINT)
             |  FROM range(900, 1000) t(id)
             |  UNION ALL
             |  SELECT 'update_postimage', COUNT(*), CAST(SUM(id + 10000) AS BIGINT)
             |  FROM range(900, 1000) t(id))
             |SELECT ct, cnt, sum_id, 'a_full' AS win FROM full_feed
             |UNION ALL
             |SELECT 'delete', COUNT(*), CAST(SUM(id) AS BIGINT), 'b_window'
             |FROM range(0, 100) t(id)
             |ORDER BY win, ct""".stripMargin)),

    // Writable branches (round 8): CALL graft.system.branch = zero-copy
    // clone + recorded fork point; audit writes land on the branch (a
    // full table — INSERT/DELETE/anything); CALL fast_forward publishes
    // by adopting the branch's commits IFF the source hasn't advanced
    // past the fork (divergence refuses — MERGE INTO is the reconcile
    // path). The write-audit-publish loop at table grain, O(branch
    // files) metadata work and zero data bytes at any table size. The
    // checked output pins the fork/publish versions, pre-publish
    // isolation (via v0 time travel), and the published state.
    QueryDef("q300_branch_publish",
      (s, _) => {
        s.sql("DROP NAMESPACE IF EXISTS graft.q300 CASCADE")
        s.sql("CREATE NAMESPACE graft.q300")
        s.sql("CREATE TABLE graft.q300.t (id BIGINT)")
        s.sql("INSERT INTO graft.q300.t SELECT id FROM range(0, 1000)") // v0
        val fork = s.sql(
          "CALL graft.system.branch(source => 'q300.t', target => 'q300.dev')")
          .head().getInt(0)
        s.sql("INSERT INTO graft.q300.dev SELECT id FROM range(1000, 1200)") // dev v1
        s.sql("DELETE FROM graft.q300.dev WHERE id < 50")                    // dev v2
        val preCnt = s.sql("SELECT count(*) FROM graft.q300.t").head().getLong(0)
        val pub = s.sql(
          "CALL graft.system.fast_forward(table => 'q300.t', branch => 'q300.dev')")
          .head().getInt(0)
        s.sql(s"""SELECT 'a_vers' AS step, CAST($fork AS BIGINT) AS cnt,
                |  CAST($pub AS BIGINT) AS sum_id
                |UNION ALL
                |SELECT 'b_preiso', CAST($preCnt AS BIGINT), CAST(0 AS BIGINT)
                |UNION ALL
                |SELECT 'c_published', count(*), cast(sum(id) AS bigint)
                |FROM graft.q300.t
                |UNION ALL
                |SELECT 'd_v0', count(*), cast(sum(id) AS bigint)
                |FROM graft.q300.t VERSION AS OF 0
                |ORDER BY step""".stripMargin)
      },
      Some("""SELECT 'a_vers' AS step, CAST(0 AS BIGINT) AS cnt, CAST(2 AS BIGINT) AS sum_id
             |UNION ALL
             |SELECT 'b_preiso', CAST(1000 AS BIGINT), CAST(0 AS BIGINT)
             |UNION ALL
             |SELECT 'c_published', COUNT(*), CAST(SUM(id) AS BIGINT)
             |FROM range(50, 1200) t(id)
             |UNION ALL
             |SELECT 'd_v0', COUNT(*), CAST(SUM(id) AS BIGINT) FROM range(0, 1000) t(id)
             |ORDER BY step""".stripMargin)),

    // Write options (round 8): mergeSchema evolves the NEW data column
    // through one metadata-only addColumn commit before the append
    // (pre-evolution rows read NULL — no file rewritten), and
    // txnAppId/txnVersion make the write idempotent at the APPLICATION
    // level: the literal same write replayed commits nothing. The
    // checked output pins the evolved aggregate, the NULL fill, and
    // the commit count (insert + addcol + append = 3 — the replay adds
    // none).
    QueryDef("q301_write_options",
      (s, _) => {
        s.sql("DROP NAMESPACE IF EXISTS graft.q301 CASCADE")
        s.sql("CREATE NAMESPACE graft.q301")
        s.sql("CREATE TABLE graft.q301.w (id BIGINT, v BIGINT)")
        s.sql("INSERT INTO graft.q301.w SELECT id, id * 2 FROM range(0, 1000)") // v0
        val path = "/tmp/graft/lake/q301/w/t"
        def write(): Unit =
          s.range(1000, 1200)
            .selectExpr("id", "id * 3 AS v", "CAST(id * 10 AS BIGINT) AS extra")
            .write.format("graft").mode("append")
            .option("mergeSchema", "true")
            .option("txnAppId", "q301").option("txnVersion", "1")
            .save(path)
        write() // v1 addcol + v2 append
        write() // replayed application version: no-op
        s.table("graft.q301.w")
          .agg(count(lit(1)).as("cnt"), sum("v").cast("bigint").as("sum_v"),
            sum("extra").cast("bigint").as("sum_extra"),
            count(when(col("extra").isNull, 1)).as("null_extra"))
          .select(col("cnt"), col("sum_v"), col("sum_extra"), col("null_extra"),
            lit(Snapshots.versions("/tmp/graft/lake/q301/w", "t").size)
              .cast("bigint").as("commits"))
      },
      Some("""SELECT
             |  (SELECT COUNT(*) FROM range(0, 1200) t(id)) AS cnt,
             |  CAST((SELECT SUM(id * 2) FROM range(0, 1000) t(id))
             |     + (SELECT SUM(id * 3) FROM range(1000, 1200) t(id)) AS BIGINT) AS sum_v,
             |  CAST((SELECT SUM(id * 10) FROM range(1000, 1200) t(id)) AS BIGINT) AS sum_extra,
             |  CAST(1000 AS BIGINT) AS null_extra,
             |  CAST(3 AS BIGINT) AS commits""".stripMargin)),

    // DML with subqueries (round 9): `DELETE … WHERE k IN (SELECT …)`
    // and friends — the r8 verdict's one user-visible DML hole. The
    // subquery's resolved plan rides the lowered command and is
    // registered as a run-time temp view; the re-resolved predicate
    // then plans as a DISTRIBUTED semi-join against the re-read files
    // (never a driver collect), so a billion-key bad-keys table works
    // at 100 TB. Exercised three ways: DELETE via IN-subquery, UPDATE
    // via IN-subquery, DELETE via scalar-subquery bound; correlated
    // subqueries stay refused (spec-pinned). The oracle replays the
    // same subquery algebra over range().
    QueryDef("q302_dml_subquery",
      (s, _) => {
        val tbl = "graft_q302_" +
          java.util.UUID.randomUUID().toString.take(8)
        val root = freshScratch(s, "q302", "graft-dmlsq", Some(tbl))
        ProduceJob.produceBatch(s, root, "q", topics = 1, numMessages = 1000) // v0: ba 0..999
        s.sql(s"CREATE TABLE $tbl USING graft OPTIONS (path '$root/q')")
        // DELETE the "bad keys": multiples of 7 below 700 (100 keys)
        s.sql(s"DELETE FROM $tbl WHERE ba IN " +
          "(SELECT CAST(id AS BIGINT) * 7 FROM range(100))")
        // UPDATE a subquery-picked panel: multiples of 11 below 220
        s.sql(s"UPDATE $tbl SET name = 'picked' WHERE ba IN " +
          "(SELECT CAST(id AS BIGINT) * 11 FROM range(20))")
        // DELETE everything above a scalar-subquery bound
        s.sql(s"DELETE FROM $tbl WHERE ba > " +
          "(SELECT CAST(max(id) AS BIGINT) FROM range(950))")
        val latest = s.sql(
          s"""SELECT 'latest' AS snap, count(*) AS cnt,
             |cast(sum(ba) AS bigint) AS sum_ba,
             |count(if(name = 'picked', 1, null)) AS tagged FROM $tbl""".stripMargin)
        val v0 = s.read.format("graft").option("version", "0").load(s"$root/q")
          .agg(count(lit(1)).as("cnt"),
            sum("ba").cast("bigint").as("sum_ba"),
            count(when(col("name") === "picked", 1)).as("tagged"))
          .select(lit("v0").as("snap"), col("cnt"), col("sum_ba"), col("tagged"))
        latest.unionAll(v0).orderBy("snap")
      },
      Some("""WITH alive AS (
             |  SELECT id FROM range(0,1000) t(id)
             |  WHERE id NOT IN (SELECT id * 7 FROM range(100) s(id))
             |    AND id <= (SELECT MAX(id) FROM range(950) m(id))
             |)
             |SELECT 'latest' AS snap, COUNT(*) AS cnt,
             |  CAST(SUM(id) AS BIGINT) AS sum_ba,
             |  COUNT(CASE WHEN id IN (SELECT id * 11 FROM range(20) u(id))
             |        THEN 1 END) AS tagged
             |FROM alive
             |UNION ALL
             |SELECT 'v0', COUNT(*), CAST(SUM(id) AS BIGINT), 0
             |FROM range(0,1000) t(id)
             |ORDER BY snap""".stripMargin)),

    // CTAS / RTAS (round 9): CREATE TABLE AS SELECT through the graft
    // catalog (Spark's non-atomic exec: catalog createTable + DSv2
    // write), REPLACE TABLE AS SELECT (drop + recreate + refill — the
    // overwrite lands on a never-committed table and commits as its
    // first append), and partitioned CTAS with identity partitioning.
    // The checked output pins the created content, the replaced
    // content + fresh history (v0 = the RTAS write), and pruned
    // partition counts.
    QueryDef("q303_ctas",
      (s, _) => {
        s.sql("DROP NAMESPACE IF EXISTS graft.q303 CASCADE")
        s.sql("CREATE NAMESPACE graft.q303")
        s.sql("CREATE TABLE graft.q303.t AS SELECT id, id * 2 AS v FROM range(0, 1000)")
        // localCheckpoint(true) pins the pre-replace aggregate NOW —
        // lazily, the union would re-analyze this frame after the
        // REPLACE swapped the schema out from under it
        val created = s.table("graft.q303.t")
          .agg(count(lit(1)).as("cnt"), sum("v").cast("bigint").as("agg"))
          .select(lit("a_ctas").as("step"), col("cnt"), col("agg"))
          .localCheckpoint(true)
        s.sql("REPLACE TABLE graft.q303.t AS SELECT id AS k FROM range(0, 500)")
        val replaced = s.table("graft.q303.t")
          .agg(count(lit(1)).as("cnt"), sum("k").cast("bigint").as("agg"))
          .select(lit("b_rtas").as("step"), col("cnt"), col("agg"))
        val v0 = s.sql(
          "SELECT count(*) AS cnt, cast(sum(k) AS bigint) AS agg " +
            "FROM graft.q303.t VERSION AS OF 0")
          .select(lit("c_rtas_v0").as("step"), col("cnt"), col("agg"))
        s.sql("""CREATE TABLE graft.q303.p PARTITIONED BY (topic) AS
                |SELECT id, concat('t', id % 3) AS topic FROM range(0, 900)""".stripMargin)
        val pruned = s.table("graft.q303.p").filter(col("topic") === "t1")
          .agg(count(lit(1)).as("cnt"), sum("id").cast("bigint").as("agg"))
          .select(lit("d_part").as("step"), col("cnt"), col("agg"))
        created.unionAll(replaced).unionAll(v0).unionAll(pruned).orderBy("step")
      },
      Some("""SELECT 'a_ctas' AS step, COUNT(*) AS cnt, CAST(SUM(id * 2) AS BIGINT) AS agg
             |FROM range(0, 1000) t(id)
             |UNION ALL
             |SELECT 'b_rtas', COUNT(*), CAST(SUM(id) AS BIGINT) FROM range(0, 500) t(id)
             |UNION ALL
             |SELECT 'c_rtas_v0', COUNT(*), CAST(SUM(id) AS BIGINT) FROM range(0, 500) t(id)
             |UNION ALL
             |SELECT 'd_part', COUNT(*), CAST(SUM(id) AS BIGINT)
             |FROM range(0, 900) t(id) WHERE id % 3 = 1
             |ORDER BY step""".stripMargin)),

    // Correlated DML subqueries (round 10): the equality-correlated
    // aggregated scalar — `SET age = (SELECT max(x) FROM s WHERE s.k =
    // t.k)` — the next thing a user tries after q302's uncorrelated
    // form (Delta historically refused it). The lowering strips the
    // correlated equi-conjuncts out of the subquery plan, registers
    // the rest as a run-time view with namespaced columns, and
    // re-emits the same correlated scalar against that view — Spark's
    // optimizer then DECORRELATES it into an aggregate + join, so the
    // per-row lookup runs distributed (no collect, no size cap) with
    // standard scalar semantics (no match → NULL). Exercised in a SET
    // value, a no-match NULL panel, and a DELETE bound with the
    // correlation under an expression (ba % 5); the oracle replays
    // the same correlated algebra over range().
    QueryDef("q305_dml_correlated",
      (s, _) => {
        val tbl = "graft_q305_" +
          java.util.UUID.randomUUID().toString.take(8)
        val root = freshScratch(s, "q305", "graft-dmlcorr", Some(tbl))
        ProduceJob.produceBatch(s, root, "q", topics = 1, numMessages = 1000) // ba 0..999
        s.sql(s"CREATE TABLE $tbl USING graft OPTIONS (path '$root/q')")
        s.sql("""CREATE OR REPLACE TEMP VIEW q305_src AS
                |SELECT CAST(id % 10 AS BIGINT) AS k, CAST(id AS BIGINT) AS x
                |FROM range(100)""".stripMargin)
        s.sql("""CREATE OR REPLACE TEMP VIEW q305_src2 AS
                |SELECT CAST(id AS BIGINT) AS k, CAST(id * 3 AS BIGINT) AS x
                |FROM range(5)""".stripMargin)
        // correlated SET value: per-row group max → age = ba%10 + 90
        s.sql(s"UPDATE $tbl SET age = CAST((SELECT max(x) FROM q305_src " +
          s"WHERE q305_src.k = ba % 10) AS INT) WHERE ba < 500")
        // no-match rows take NULL (ba 505..509 miss the 5-key view)
        s.sql(s"UPDATE $tbl SET age = CAST((SELECT max(x) FROM q305_src2 " +
          s"WHERE q305_src2.k = ba - 500) AS INT) WHERE ba >= 500 AND ba < 510")
        // correlated DELETE bound, correlation under an expression
        s.sql(s"DELETE FROM $tbl WHERE ba >= 900 AND ba % 10 > " +
          s"(SELECT max(x) FROM q305_src2 WHERE q305_src2.k = ba % 5)")
        val t = s.table(tbl)
        // single-pass panel (r15, guide §2.3 aggregate-before-shuffle /
        // §5 driver cost): the three per-branch filters become
        // conditional aggregates over ONE scan — one aggregate job
        // instead of three scan+agg chains (each its own AQE stages) —
        // then three 1-row projections over the materialized aggregate.
        // Identical values by construction: count(lit(1)) over
        // filter(p) == count(when(p, 1)); sum(c) over filter(p) ==
        // sum(when(p, c)) (sum ignores the otherwise-NULLs). Oracle
        // re-proven.
        val bCond = col("ba") >= 500 && col("ba") < 510 && col("age").isNotNull
        val g = t.agg(
          count(when(col("ba") < 500, 1)).as("ca"),
          sum(when(col("ba") < 500, col("age"))).cast("bigint").as("sa"),
          count(when(bCond, 1)).as("cb"),
          sum(when(bCond, col("age"))).cast("bigint").as("sb"),
          count(lit(1)).as("cc"),
          sum(col("ba")).cast("bigint").as("sc")).localCheckpoint(true)
        val a = g.select(lit("a_upd").as("step"), col("ca").as("cnt"), col("sa").as("agg"))
        val b = g.select(lit("b_match").as("step"), col("cb").as("cnt"), col("sb").as("agg"))
        val c = g.select(lit("c_alive").as("step"), col("cc").as("cnt"), col("sc").as("agg"))
        a.unionAll(b).unionAll(c).orderBy("step")
      },
      Some("""WITH src AS (SELECT id % 10 AS k, id AS x FROM range(100) t(id)),
             |src2 AS (SELECT id AS k, id * 3 AS x FROM range(5) t(id)),
             |aged AS (
             |  SELECT id AS ba,
             |    CASE WHEN id < 500
             |           THEN (SELECT max(x) FROM src WHERE src.k = id % 10)
             |         WHEN id BETWEEN 500 AND 509
             |           THEN (SELECT max(x) FROM src2 WHERE src2.k = id - 500)
             |         ELSE NULL END AS new_age
             |  FROM range(0, 1000) t(id)),
             |alive AS (
             |  SELECT * FROM aged
             |  WHERE NOT (ba >= 900 AND ba % 10 >
             |    (SELECT max(x) FROM src2 WHERE src2.k = ba % 5)))
             |SELECT 'a_upd' AS step, COUNT(*) AS cnt,
             |  CAST(SUM(new_age) AS BIGINT) AS agg
             |FROM alive WHERE ba < 500
             |UNION ALL
             |SELECT 'b_match', COUNT(*), CAST(SUM(new_age) AS BIGINT)
             |FROM alive WHERE ba BETWEEN 500 AND 509 AND new_age IS NOT NULL
             |UNION ALL
             |SELECT 'c_alive', COUNT(*), CAST(SUM(ba) AS BIGINT) FROM alive
             |ORDER BY step""".stripMargin)),

    // Correlated DML, predicate forms (round 11): equality-correlated
    // EXISTS / NOT EXISTS / IN — `WHERE EXISTS (SELECT 1 FROM s WHERE
    // s.k = t.k)` — the predicate siblings of q305's scalar. Same
    // lowering (strip the equi-correlation off the carried plan,
    // re-state it against the run-time view), and Spark's optimizer
    // plans each as a distributed semi/anti join against the re-read
    // frames. The IN case deliberately SELECTs a column set that drops
    // the correlation column — the lift widens the view soundly (the
    // advisor's round-11 mis-lower shape, now a supported form). The
    // oracle replays the identical correlated algebra over range().
    QueryDef("q306_dml_exists",
      (s, _) => {
        val tbl = "graft_q306_" +
          java.util.UUID.randomUUID().toString.take(8)
        val root = freshScratch(s, "q306", "graft-dmlexists", Some(tbl))
        ProduceJob.produceBatch(s, root, "q", topics = 1, numMessages = 1000) // ba 0..999
        s.sql(s"CREATE TABLE $tbl USING graft OPTIONS (path '$root/q')")
        s.sql("""CREATE OR REPLACE TEMP VIEW q306_src AS
                |SELECT CAST(id * 2 AS BIGINT) AS k, CAST(id % 7 AS BIGINT) AS x
                |FROM range(100)""".stripMargin)
        // correlated EXISTS: even ba < 200 take 701
        s.sql(s"UPDATE $tbl SET age = 701 WHERE ba < 200 AND " +
          s"EXISTS (SELECT 1 FROM q306_src WHERE q306_src.k = ba)")
        // the same lifted EXISTS under NOT: odd ba < 200 take 702
        s.sql(s"UPDATE $tbl SET age = 702 WHERE ba < 200 AND " +
          s"NOT EXISTS (SELECT 1 FROM q306_src WHERE q306_src.k = ba)")
        // correlated IN whose select list drops the correlation column
        // x (widened into the view): membership on (ba - 200)
        s.sql(s"UPDATE $tbl SET age = 703 WHERE ba >= 200 AND ba < 300 AND " +
          s"(ba - 200) IN (SELECT k FROM q306_src WHERE q306_src.x = ba % 7)")
        // correlated EXISTS in a DELETE: drops even ba in [900, 1000)
        s.sql(s"DELETE FROM $tbl WHERE ba >= 900 AND " +
          s"EXISTS (SELECT 1 FROM q306_src WHERE q306_src.k = ba - 800)")
        val t = s.table(tbl)
        // single-pass panel (r15) — see q305: conditional aggregates
        // over one scan replace three filter+agg chains; identical
        // values (count/sum ignore the otherwise-NULLs), oracle
        // re-proven.
        val bCond = col("age") === 703
        val g = t.agg(
          count(when(col("ba") < 200, 1)).as("ca"),
          sum(when(col("ba") < 200, col("age"))).cast("bigint").as("sa"),
          count(when(bCond, 1)).as("cb"),
          sum(when(bCond, col("ba"))).cast("bigint").as("sb"),
          count(lit(1)).as("cc"),
          sum(col("ba")).cast("bigint").as("sc")).localCheckpoint(true)
        val a = g.select(lit("a_exists").as("step"), col("ca").as("cnt"), col("sa").as("agg"))
        val b = g.select(lit("b_in").as("step"), col("cb").as("cnt"), col("sb").as("agg"))
        val c = g.select(lit("c_alive").as("step"), col("cc").as("cnt"), col("sc").as("agg"))
        a.unionAll(b).unionAll(c).orderBy("step")
      },
      Some("""WITH src AS (
             |  SELECT id * 2 AS k, id % 7 AS x FROM range(100) t(id)),
             |alive AS (
             |  SELECT id AS ba FROM range(0, 1000) t(id)
             |  WHERE NOT (id >= 900 AND
             |    EXISTS (SELECT 1 FROM src WHERE src.k = id - 800))),
             |aged AS (
             |  SELECT ba,
             |    CASE WHEN ba < 200 AND EXISTS (SELECT 1 FROM src WHERE src.k = ba)
             |           THEN 701
             |         WHEN ba < 200 THEN 702
             |         WHEN ba >= 200 AND ba < 300 AND (ba - 200) IN
             |             (SELECT k FROM src WHERE src.x = ba % 7)
             |           THEN 703
             |         ELSE NULL END AS new_age
             |  FROM alive)
             |SELECT 'a_exists' AS step, COUNT(*) AS cnt,
             |  CAST(SUM(new_age) AS BIGINT) AS agg
             |FROM aged WHERE ba < 200
             |UNION ALL
             |SELECT 'b_in', COUNT(*), CAST(SUM(ba) AS BIGINT)
             |FROM aged WHERE new_age = 703
             |UNION ALL
             |SELECT 'c_alive', COUNT(*), CAST(SUM(ba) AS BIGINT) FROM aged
             |ORDER BY step""".stripMargin)),

    // Correlated DML with RESIDUAL non-equality conjuncts (round 12,
    // closing the r11 verdict's one remaining DML gap): `EXISTS
    // (SELECT 1 FROM s WHERE s.k = t.k AND s.ts > t.ts)` — the equi
    // conjunct is stripped so Spark's decorrelation gets a hash-join
    // key; the range conjunct rides whole into the emitted text and
    // lands as the join's non-equi filter. Exercised across all three
    // lifted forms (EXISTS/NOT EXISTS, scalar aggregate — including
    // the no-match → NULL assignment — and IN whose select list drops
    // both correlation columns) plus a DELETE. A PURELY non-equality
    // correlation still refuses: without an equi key the decorrelated
    // plan would nested-loop against the table — the 100 TB hazard the
    // contract exists to prevent.
    QueryDef("q307_dml_residual",
      (s, _) => {
        val tbl = "graft_q307_" +
          java.util.UUID.randomUUID().toString.take(8)
        val root = freshScratch(s, "q307", "graft-dmlresid", Some(tbl))
        ProduceJob.produceBatch(s, root, "q", topics = 1, numMessages = 1000) // ba 0..999
        s.sql(s"CREATE TABLE $tbl USING graft OPTIONS (path '$root/q')")
        s.sql("""CREATE OR REPLACE TEMP VIEW q307_src AS
                |SELECT CAST(id % 10 AS BIGINT) AS k, CAST(id AS BIGINT) AS ts
                |FROM range(50)""".stripMargin)
        // residual EXISTS: equi k = ba%10, range ts > ba%60
        s.sql(s"UPDATE $tbl SET age = 801 WHERE ba < 200 AND " +
          s"EXISTS (SELECT 1 FROM q307_src WHERE q307_src.k = ba % 10 AND q307_src.ts > ba % 60)")
        // the complement under NOT, same residual shape
        s.sql(s"UPDATE $tbl SET age = 802 WHERE ba < 200 AND " +
          s"NOT EXISTS (SELECT 1 FROM q307_src WHERE q307_src.k = ba % 10 AND q307_src.ts > ba % 60)")
        // residual correlated scalar: a range cap that leaves some
        // groups EMPTY → the standard no-match NULL overwrites age
        s.sql(s"UPDATE $tbl SET age = CAST((SELECT max(ts) FROM q307_src " +
          s"WHERE q307_src.k = ba % 10 AND q307_src.ts <= ba % 40 - 3) AS INT) " +
          s"WHERE ba >= 200 AND ba < 400")
        // residual correlated IN: select list drops BOTH the equi and
        // the residual columns — widening surfaces each
        s.sql(s"UPDATE $tbl SET age = 803 WHERE ba >= 400 AND ba < 500 AND " +
          s"(ba % 50) IN (SELECT ts FROM q307_src " +
          s"WHERE q307_src.k = ba % 10 AND q307_src.ts >= ba % 30)")
        // residual EXISTS in a DELETE
        s.sql(s"DELETE FROM $tbl WHERE ba >= 900 AND " +
          s"EXISTS (SELECT 1 FROM q307_src WHERE q307_src.k = ba % 10 AND q307_src.ts > ba - 900)")
        val t = s.table(tbl)
        // single-pass panel (r15) — see q305: conditional aggregates
        // over one scan replace four filter+agg chains; identical
        // values (count(col) over filter(p) == count(when(p, col)):
        // both count rows where p holds AND col is non-null), oracle
        // re-proven.
        val bCond = col("ba") >= 200 && col("ba") < 400
        val cCond = col("age") === 803
        val g = t.agg(
          count(when(col("ba") < 200, 1)).as("ca"),
          sum(when(col("ba") < 200, col("age"))).cast("bigint").as("sa"),
          count(when(bCond, col("age"))).as("cb"),
          sum(when(bCond, col("age"))).cast("bigint").as("sb"),
          count(when(cCond, 1)).as("cc"),
          sum(when(cCond, col("ba"))).cast("bigint").as("sc"),
          count(lit(1)).as("cd"),
          sum(col("ba")).cast("bigint").as("sd")).localCheckpoint(true)
        val a = g.select(lit("a_exists").as("step"), col("ca").as("cnt"), col("sa").as("agg"))
        val b = g.select(lit("b_scalar").as("step"), col("cb").as("cnt"), col("sb").as("agg"))
        val c = g.select(lit("c_in").as("step"), col("cc").as("cnt"), col("sc").as("agg"))
        val d = g.select(lit("d_alive").as("step"), col("cd").as("cnt"), col("sd").as("agg"))
        a.unionAll(b).unionAll(c).unionAll(d).orderBy("step")
      },
      Some("""WITH src AS (
             |  SELECT id % 10 AS k, id AS ts FROM range(50) t(id)),
             |alive AS (
             |  SELECT id AS ba FROM range(0, 1000) t(id)
             |  WHERE NOT (id >= 900 AND EXISTS (
             |    SELECT 1 FROM src WHERE src.k = id % 10 AND src.ts > id - 900))),
             |aged AS (
             |  SELECT ba,
             |    CASE WHEN ba < 200 AND EXISTS (SELECT 1 FROM src
             |             WHERE src.k = ba % 10 AND src.ts > ba % 60)
             |           THEN 801
             |         WHEN ba < 200 THEN 802
             |         WHEN ba >= 200 AND ba < 400
             |           THEN (SELECT max(ts) FROM src
             |                 WHERE src.k = ba % 10 AND src.ts <= ba % 40 - 3)
             |         WHEN ba >= 400 AND ba < 500 AND (ba % 50) IN
             |             (SELECT ts FROM src
             |              WHERE src.k = ba % 10 AND src.ts >= ba % 30)
             |           THEN 803
             |         ELSE NULL END AS new_age
             |  FROM alive)
             |SELECT 'a_exists' AS step, COUNT(*) AS cnt,
             |  CAST(SUM(new_age) AS BIGINT) AS agg
             |FROM aged WHERE ba < 200
             |UNION ALL
             |SELECT 'b_scalar', COUNT(new_age), CAST(SUM(new_age) AS BIGINT)
             |FROM aged WHERE ba >= 200 AND ba < 400
             |UNION ALL
             |SELECT 'c_in', COUNT(*), CAST(SUM(ba) AS BIGINT)
             |FROM aged WHERE new_age = 803
             |UNION ALL
             |SELECT 'd_alive', COUNT(*), CAST(SUM(ba) AS BIGINT) FROM aged
             |ORDER BY step""".stripMargin))
  )
}
