package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.RowDataSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.ingest.{ProduceJob, Snapshots}

/** `lakehouse_dml`: a closed loop, one client, running a seeded
  * sequence of SQL statements against one `graft` catalog table that
  * `ProduceJob.produceBatch` seeds with `Person` rows over 10 topic
  * partitions: INSERT batches, range UPDATE, a three-clause MERGE from
  * a generated source view, range DELETE, point and range SELECT and
  * `VERSION AS OF` reads; the final check is a `count(*)` read.
  *
  * The benchmark keeps its own model of the table (position `ba` ->
  * `age`) and of every committed version's (count, sum(ba)); every
  * read, the final table and every time-travel read must equal it.
  *
  * Each unit of the closed loop is one statement cycle followed by the
  * produce/consume cycles of [[IngestPhase]]; after the loop comes the
  * open-loop rate producer. Per-layer counters cover timed ops only. */
final class LakehouseDml extends Workload with AdaptiveSparkPlanHelper {
  import LakehouseDml._

  val primary = "commit"
  private var root: String = _
  private val model = mutable.LongMap.empty[Int]
  private val versions = mutable.LinkedHashMap.empty[Int, (Long, Long)]
  private var nextBa = 0L
  private var commits = 0
  private var rowsChanged = 0L
  private var filesRewritten = 0L
  private var filesRead = 0L
  private var liveAtReads = 0L

  private def sql(q: String): DataFrame = _spark.sql(q)
  private var _spark: org.apache.spark.sql.SparkSession = _

  def stage(ctx: Ctx): Unit = {
    _spark = ctx.spark
    sql("CREATE NAMESPACE IF NOT EXISTS graft.bench")
    sql(s"DROP TABLE IF EXISTS $Table")
    sql(s"""CREATE TABLE $Table (name STRING, age INT, address STRING, gender BOOLEAN,
            score DOUBLE, ba BIGINT, key STRING, topic STRING) PARTITIONED BY (topic)""")
    root = s"${ctx.workDir}/lake/bench/people"
    ProduceJob.produceBatch(ctx.spark, root, "t", topics = Topics, numMessages = SeedRows)
    model.clear(); versions.clear()
    (0L until SeedRows).foreach(b => model(b) = ((18 + b) % 100).toInt)
    nextBa = SeedRows
    noteVersion(current)
  }

  private val ingest = new IngestPhase

  /** One untimed statement of each kind with fixed parameters, and one
    * untimed produce/consume cycle, so the timed loop runs warm. They
    * are checked like timed ones. */
  def warmUp(ctx: Ctx): Unit = {
    val r = new Random(-1)
    Cycle.distinct.foreach(k => statement(ctx, k, r, timed = false))
    ingest.warmUp(ctx)
  }

  /** Whole units until `--seconds` have elapsed, so every run times the
    * same mix: a statement cycle, then the produce/consume cycles. Then
    * the open-loop producer, outside the closed loop's throughput. */
  def run(ctx: Ctx): Unit = {
    val r = new Random(ctx.seed)
    do {
      Cycle.iterator.takeWhile(_ => ctx.maxOps <= 0 || ctx.ops.size < ctx.maxOps)
        .foreach(k => statement(ctx, k, r, timed = true))
      ingest.cycles(ctx, r)
    } while (!ctx.timeUp)
    ctx.endClosedLoop()
    ingest.openLoop(ctx)
  }

  private def current: Snapshots.Snapshot = Snapshots.snapshot(root, "t").get

  private def noteVersion(s: Snapshots.Snapshot): Unit =
    versions(s.version) = (model.size.toLong, model.keysIterator.sum)

  /** Runs one statement of `kind` with seeded parameters, updates the
    * model, and checks reads against it. */
  private def statement(ctx: Ctx, kind: String, r: Random, timed: Boolean): Unit = {
    def go[T](opKind: String)(body: => T)(check: T => Boolean): Option[T] =
      if (timed) ctx.timed(opKind, kind)(body)(check)
      else { val v = body; require(check(v), s"warm-up $kind: output check failed"); Some(v) }
    // the seed moves each statement over the table; its width varies
    // by at most 5%, so every seed asks for about the same work
    def span(width: Int): (Long, Long) = {
      val w = width + r.nextInt(width / 20)
      val lo = (r.nextDouble() * (nextBa - w)).toLong.max(0L)
      (lo, lo + w - 1)
    }
    // the snapshot probes around a statement run outside its timed op
    def commit(body: => Unit, apply: => Long): Unit = {
      val before = current
      go("commit") { body; true } { _ => true }
      val after = current
      val changed = apply
      val committed = after.version != before.version
      if (committed) noteVersion(after)
      if (timed) {
        rowsChanged += changed
        if (committed) { commits += 1; filesRewritten += after.removed.size }
      }
    }
    // collects a read; the data files its scans read are counted after
    // the timed op
    def read(q: String)(check: Array[Row] => Boolean): Unit =
      go("read") { val df = sql(q); (df, df.collect()) } { case (_, rows) => check(rows) }
        .filter(_ => timed).foreach { case (df, _) =>
          filesRead += collect(df.queryExecution.executedPlan) {
            case s: RowDataSourceScanExec => scanFiles(s.relation)
          }.sum
          liveAtReads += current.files.size
        }
    kind match {
      case "insert" =>
        val n = 1000 + r.nextInt(50)
        val lo = nextBa
        commit(sql(s"""INSERT INTO $Table SELECT 'hangc', CAST((18 + id) % 100 AS INT),
              'GuangZhou', true, (59.9 + id) % 150, id, CAST(id AS STRING),
              concat('people-', CAST(pmod(id, $Topics) AS STRING)) FROM range($lo, ${lo + n})"""), {
          (lo until lo + n).foreach(b => model(b) = ((18 + b) % 100).toInt)
          nextBa = lo + n
          n.toLong
        })
      case "update" =>
        val (lo, hi) = span(1000)
        commit(sql(s"UPDATE $Table SET age = age + 1 WHERE ba BETWEEN $lo AND $hi"), {
          var c = 0L
          (lo to hi).foreach(b => model.get(b).foreach { a => model(b) = a + 1; c += 1 })
          c
        })
      case "merge" =>
        // ends past the table's last row, so all three clauses fire
        val lo = nextBa - 800 - r.nextInt(100)
        val hi = lo + 1000 + r.nextInt(50)
        sql(s"""CREATE OR REPLACE TEMP VIEW perfbench_src AS
                SELECT id AS ba, CAST(id % 97 AS INT) AS nage FROM range($lo, ${hi + 1})""")
        commit(sql(s"""MERGE INTO $Table t USING perfbench_src s ON t.ba = s.ba
              WHEN MATCHED AND s.nage % 5 = 0 THEN DELETE
              WHEN MATCHED THEN UPDATE SET age = s.nage
              WHEN NOT MATCHED THEN INSERT (name, age, address, gender, score, ba, key, topic)
                VALUES ('hangc', s.nage, 'GuangZhou', true, 0.0, s.ba, CAST(s.ba AS STRING),
                        concat('people-', CAST(pmod(s.ba, $Topics) AS STRING)))"""), {
          (lo to hi).foreach { b =>
            val nage = (b % 97).toInt
            if (model.contains(b)) { if (nage % 5 == 0) model.remove(b) else model(b) = nage }
            else model(b) = nage
          }
          nextBa = nextBa.max(hi + 1)
          hi - lo + 1
        })
      case "delete" =>
        val (lo, hi) = span(500)
        commit(sql(s"DELETE FROM $Table WHERE ba BETWEEN $lo AND $hi"), {
          var c = 0L
          (lo to hi).foreach(b => if (model.remove(b).isDefined) c += 1)
          c
        })
      case "point" =>
        val b = (r.nextDouble() * nextBa).toLong
        read(s"SELECT age FROM $Table WHERE ba = $b")(rows =>
          rows.map(_.getInt(0)).toSeq == model.get(b).toSeq)
      case "range" =>
        val (lo, hi) = span(2000)
        read(s"SELECT count(*), coalesce(sum(age), 0) FROM $Table WHERE ba BETWEEN $lo AND $hi") { rows =>
          val in = (lo to hi).flatMap(model.get)
          rows.head.getLong(0) == in.size && rows.head.getLong(1) == in.map(_.toLong).sum
        }
      case "version" =>
        val vs = versions.keys.toIndexedSeq
        val v = vs(r.nextInt(vs.size))
        read(s"SELECT count(*), coalesce(sum(ba), 0) FROM $Table VERSION AS OF $v") { rows =>
          (rows.head.getLong(0), rows.head.getLong(1)) == versions(v)
        }
    }
  }

  /** The graft scan plans its pruned file list inside its relation and
    * reads it through an inner plan the outer plan's metrics never
    * see; the list itself is the relation's `files` field. */
  private def scanFiles(rel: AnyRef): Long =
    rel.getClass.getDeclaredFields.find(_.getName == "files").map { f =>
      f.setAccessible(true)
      f.get(rel).asInstanceOf[Seq[_]].size.toLong
    }.getOrElse(0L)

  def finish(ctx: Ctx): Seq[String] = {
    ctx.latency("commit", "commit")
    ctx.latency("read", "query")
    ingest.finish(ctx)
    val fin = sql(s"""SELECT count(*), coalesce(sum(ba), 0), coalesce(sum(age), 0),
                        coalesce(sum(ba * age), 0) FROM $Table""").head()
    val want = (model.size.toLong, model.keysIterator.sum,
      model.valuesIterator.map(_.toLong).sum, model.iterator.map { case (b, a) => b * a }.sum)
    val got = (fin.getLong(0), fin.getLong(1), fin.getLong(2), fin.getLong(3))
    val bad = mutable.ArrayBuffer.empty[String]
    if (got != want) bad += s"final table $got != model $want"
    // the latest versions (every version read in the loop was checked
    // already)
    versions.toSeq.takeRight(2).foreach { case (v, exp) =>
      val r = sql(s"SELECT count(*), coalesce(sum(ba), 0) FROM $Table VERSION AS OF $v").head()
      if ((r.getLong(0), r.getLong(1)) != exp) bad += s"version $v ${(r.getLong(0), r.getLong(1))} != $exp"
    }
    val live = liveBytes
    val total = Snapshot.bytesUnder(Paths.get(root))
    ctx.detail("storage_amplification") = (total.toDouble / live, "ratio")
    ctx.detail("table_rows") = (model.size.toDouble, "count")
    ctx.detail("commits") = (commits.toDouble, "count")
    bad.toSeq
  }

  private def liveBytes: Long = {
    val base = Paths.get(root, "t")
    current.files.map(f => Files.size(base.resolve(f))).sum
  }

  override def layers(ctx: Ctx): Unit = {
    val commitsSpans = ctx.opSpans(Set("commit"))
    val jobs = commitsSpans.map(_.attrs.getOrElse("exec.jobs", 0.0)).sum
    val written = commitsSpans.map(_.attrs.getOrElse("tasks.output_bytes", 0.0)).sum
    ctx.addLayer("dml.jobs_per_stmt", if (commitsSpans.isEmpty) 0 else jobs / commitsSpans.size)
    ctx.addLayer("dml.files_rewritten", filesRewritten.toDouble)
    ctx.addLayer("dml.rows_changed", rowsChanged.toDouble)
    ctx.addLayer("dml.bytes_written_per_row_changed",
      if (rowsChanged == 0) 0 else written / rowsChanged)
    ctx.addLayer("sources.files_read", filesRead.toDouble)
    ctx.addLayer("sources.files_live", liveAtReads.toDouble)
    ctx.addLayer("snapshots.commits", commits.toDouble)
    Snapshot.layers(ctx, root, "t")
    ctx.addLayer("snapshots.data_bytes_live", liveBytes.toDouble)
    ingest.layers(ctx)
  }
}

object LakehouseDml {
  val Table = "graft.bench.people"
  val Topics = 10
  val SeedRows = 20000L
  /** The statement mix; the seed picks each statement's parameters.
    * Five commits, three of them cheap (two INSERTs, one DELETE), so
    * the commit median falls inside a cluster of similar statements
    * rather than in the gap between cheap and expensive ones. */
  val Cycle: Seq[String] = Seq("insert", "point", "update", "range", "merge",
    "delete", "insert", "version")
}

/** On-disk figures of the snapshot log, for every table that commits. */
object Snapshot {
  /** Adds the checkpoints, log bytes and data bytes of `table` under
    * `root`; returns the data bytes. */
  def layers(ctx: Ctx, root: String, table: String): Long = {
    val log = Paths.get(root, s"${table}._log")
    val data = bytesUnder(Paths.get(root, table))
    ctx.addLayer("snapshots.checkpoints", filesUnder(log).count(_.getFileName.toString.endsWith(".ckpt.json")).toDouble)
    ctx.addLayer("snapshots.log_bytes", bytesUnder(log).toDouble)
    ctx.addLayer("snapshots.data_bytes_total", data.toDouble)
    data
  }

  def filesUnder(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }

  def bytesUnder(p: Path): Long = filesUnder(p).map(Files.size).sum
}
