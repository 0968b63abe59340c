package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max => AggMax, Min => AggMin}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsReportStatistics, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsOverwrite, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.ingest.{Snapshots, SortKeys, Topics}

/** DataSource V2 provider over the snapshot (lakehouse) layer — the
  * table format the reference offloads into, made first-class SQL:
  *
  * {{{
  *   spark.read.format("graft").load(s"\$root/\$prefix")            // latest
  *   spark.read.format("graft").option("version", "2").load(...)  // time travel
  *   spark.read.format("graft").option("tag", "audited").load(...)
  *   // plain SQL through the session catalog:
  *   spark.sql(s"CREATE TABLE t USING graft OPTIONS (path '\$root/\$prefix')")
  * }}}
  *
  * The path's last segment is the table prefix (data lives at
  * `root/prefix/`, the manifest log at `root/prefix._log`); an explicit
  * `prefix` option wins, in which case the path is the root.
  *
  * Scan planning pushes down:
  *  - column pruning (`SupportsPushDownRequiredColumns`) — the final
  *    projection reaches the parquet scan;
  *  - conjunctive comparison filters (`SupportsPushDownFilters`) —
  *    each `col (=|<|<=|>|>=) literal` / `IS [NOT] NULL` conjunct maps
  *    to manifest-stat key space and prunes the FILE LIST before any
  *    IO (the Delta/Iceberg data-skipping shape). Stats narrow IO,
  *    never semantics: every filter is also returned as a residual so
  *    Spark re-evaluates it post-scan, the same contract the built-in
  *    parquet source uses for footer stats.
  *
  * Execution bridges through [[V1Scan]]: the pruned file subset is
  * read by the existing snapshot machinery (schema evolution replay,
  * deletion-vector anti-join — `Snapshots.readFileSubset`) and handed
  * to Spark as an InternalRow RDD (`needConversion = false`, the JDBC
  * relation pattern), so the whole DataFrame/Catalyst stack — AQE,
  * whole-stage codegen above the scan, broadcast planning — applies
  * unchanged. At 100 TB the wins compose: manifest pruning drops
  * files driver-side from metadata only, and column pruning keeps the
  * scan at ReadSchema width.
  */
class GraftSource extends TableProvider with DataSourceRegister
  with StreamSinkProvider with StreamSourceProvider {

  override def shortName(): String = "graft"

  /** `spark.readStream.format("graft").load(root/prefix)` — the table
    * as a STREAMING SOURCE: every snapshot commit becomes a micro-batch
    * of the rows it appended ([[graft.streaming.SnapshotStreamSource]]
    * — offsets ARE commit versions, so checkpointed restarts resume at
    * the exact commit the log says). Options: `startingVersion` (first
    * commit to deliver; default 0 = replay the whole log),
    * `maxVersionsPerTrigger` (poll cap). Combined with the sink above,
    * `readStream("graft") → transform → writeStream("graft")` is an
    * incremental lakehouse-to-lakehouse pipeline — the reference's
    * consume→offload loop with tables on both ends. GraftTable now
    * declares MICRO_BATCH_READ, so MicroBatchExecution prefers the
    * native DSv2 stream ([[graft.streaming.GraftMicroBatchStream]],
    * same offsets and options); this V1 Source remains the fallback
    * Spark uses when v2 readers are disabled
    * (spark.sql.streaming.disabledV2MicroBatchReaders). */
  override def sourceSchema(ctx: SQLContext, schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): (String, StructType) = {
    val opts = new CaseInsensitiveStringMap(parameters.asJava)
    val (root, prefix, version) = GraftSource.resolve(opts)
    require(version.isEmpty,
      "a streaming read starts from 'startingVersion', not a pinned 'version'/'tag'")
    // the v1 fallback relation is constructed EAGERLY at load() even
    // when the v2 stream will serve the query — return the widened CDC
    // schema here so the fallback's schema matches; createSource (only
    // reached if v2 readers are disabled) is where a CDC stream refuses.
    // tableSchema, NOT read().schema: deriving a schema must stay
    // O(epochs x partition dirs), never analyze a full-table frame
    val base = Snapshots.tableSchema(ctx.sparkSession, root, prefix)
    val out =
      if (opts.getBoolean("readChangeFeed", false))
        StructType(base.fields ++ Seq(
          org.apache.spark.sql.types.StructField("_change_type",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("_commit_version",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("_commit_timestamp",
            org.apache.spark.sql.types.TimestampType, nullable = false)))
      else base
    (shortName(), out)
  }

  override def createSource(ctx: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source = {
    val opts = new CaseInsensitiveStringMap(parameters.asJava)
    val (root, prefix, version) = GraftSource.resolve(opts)
    require(version.isEmpty,
      "a streaming read starts from 'startingVersion', not a pinned 'version'/'tag'")
    require(!opts.getBoolean("readChangeFeed", false),
      "readChangeFeed streaming needs the DSv2 path (v2 readers disabled?)")
    new graft.streaming.SnapshotStreamSource(ctx.sparkSession, root, prefix,
      Option(opts.get("startingVersion")).map(_.toLong - 1)
        .orElse(Option(opts.get("startingTimestamp")).map(t =>
          GraftSource.resolveFromTs(root, prefix, t).toLong - 1))
        .getOrElse(-1L),
      Option(opts.get("maxVersionsPerTrigger")).map(_.toInt))
  }

  /** `df.writeStream.format("graft").option("checkpointLocation", …)
    * .start(root/prefix)` — every micro-batch commits to the snapshot
    * log EXACTLY ONCE: the transaction id is (checkpoint identity ×
    * batchId), so a batch replayed after a crash/restart (the
    * at-least-once micro-batch contract) writes nothing the second
    * time ([[graft.ingest.Snapshots.appendBatch]]'s check-before-write
    * discipline). Append mode appends; Complete mode replaces the
    * table per batch ([[graft.ingest.Snapshots.overwrite]] — the
    * streaming-aggregation-to-lakehouse shape); Update mode needs
    * merge keys — use `Snapshots.upsertStream` instead. This is the
    * reference's consume→offload path as a first-class sink: broker
    * replay + lakehouse commit = the same end-to-end exactly-once
    * its ack/watermark pair provides. */
  override def createSink(ctx: SQLContext, parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    val opts = new CaseInsensitiveStringMap(parameters.asJava)
    val (root, prefix, version) = GraftSource.resolve(opts)
    require(version.isEmpty, "cannot stream into a time-travel read")
    require(outputMode != org.apache.spark.sql.streaming.OutputMode.Update(),
      "update mode needs merge keys — use Snapshots.upsertStream")
    // the checkpoint location IS the stream's identity across restarts
    // (Delta's txnAppId analog): same checkpoint ⇒ same txn ids ⇒
    // replays no-op; a different checkpoint is a different stream
    val appId = Option(opts.get("checkpointLocation")) // case-insensitive lookup
      .map(p => Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(p)))
      .getOrElse("nockpt")
    val complete =
      outputMode == org.apache.spark.sql.streaming.OutputMode.Complete()
    new GraftStreamSink(root, prefix, appId, complete, partitionColumns)
  }

  // true: CREATE TABLE t (cols) USING graft on an EMPTY path is legal —
  // the user schema defines the table before its first commit exists
  // (the Delta create-then-insert shape). Reads without a user schema
  // still infer from the latest snapshot.
  override def supportsExternalMetadata(): Boolean = true

  // remembered so getTable can skip re-validating a schema WE inferred
  // (the common read path) — only a caller-supplied schema needs the
  // on-disk check
  private var inferred: Option[StructType] = None

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val (root, prefix, version) = GraftSource.resolve(options)
    // O(epochs) schema derivation — resolution must not build a path
    // list over every data file (a million-file table would pay it on
    // every query's analysis)
    val base = Snapshots.tableSchema(SparkSession.active, root, prefix, version)
    // the CHANGE FEED as a relation (Delta's readChangeFeed option):
    // the table schema widens by the two CDC columns. A pinned
    // version/tag is ambiguous against a commit-window read — the
    // window is the CDC read's own time axis (startingVersion/
    // endingVersion)
    if (options.getBoolean("readChangeFeed", false))
      require(version.isEmpty,
        "readChangeFeed takes startingVersion/endingVersion, not a pinned version/tag")
    val s =
      if (options.getBoolean("readChangeFeed", false))
        StructType(base.fields ++ Seq(
          org.apache.spark.sql.types.StructField("_change_type",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("_commit_version",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("_commit_timestamp",
            org.apache.spark.sql.types.TimestampType, nullable = false)))
      else base
    inferred = Some(s)
    s
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val (root, prefix, version) = GraftSource.resolve(opts)
    // A user/DDL schema over a COMMITTED table must agree with the
    // data: the V1 bridge hands back InternalRows laid out for the
    // REAL types (needConversion=false), so a type drift would
    // silently misread field offsets instead of erroring, and a
    // declared column the data lacks could never be served. A
    // declared SUBSET is fine — a session-catalog entry goes stale
    // the moment the log evolves (ALTER via the path, mergeSchema) —
    // and the table serves the LIVE disk schema, Delta's rule: the
    // log owns the schema, the catalog entry is a pointer. An empty
    // path skips everything — CREATE-then-INSERT, where the DDL
    // schema IS the definition. Nullability is advisory.
    val effective =
      if (inferred.contains(schema) || opts.getBoolean("readChangeFeed", false) ||
          opts.getBoolean("mergeSchema", false) ||
          Snapshots.snapshot(root, prefix, version).isEmpty) schema
      else {
        val disk = Snapshots.tableSchema(SparkSession.active, root, prefix, version)
        val actual = disk.fields.map(f => f.name -> f.dataType).toMap
        schema.fields.foreach { f =>
          actual.get(f.name) match {
            case None => throw new IllegalArgumentException(
              s"declared column '${f.name}' does not exist in graft table " +
                s"$prefix (on disk: ${disk.simpleString})")
            case Some(dt) => require(dt == f.dataType,
              s"declared schema does not match graft table $prefix: " +
                s"'${f.name}' declared ${f.dataType.simpleString}, " +
                s"on disk ${dt.simpleString}")
          }
        }
        disk
      }
    if (opts.getBoolean("readChangeFeed", false)) {
      // guarded here TOO (not just inferSchema): a user-specified
      // schema skips inferSchema entirely, and a pinned version would
      // otherwise be silently ignored by the CDC scan
      require(version.isEmpty,
        "readChangeFeed takes startingVersion/endingVersion, not a pinned version/tag")
      // batch CDC window: startingVersion (default 0) .. endingVersion
      // (default latest); a streaming CDC read paces by offsets
      // instead. Timestamp forms (Delta parity): startingTimestamp =
      // first commit AT OR AFTER the instant, endingTimestamp = last
      // commit at or before it — both resolve against commit-file
      // mtimes, the same anchor timestampAsOf uses.
      val from = Option(opts.get("startingVersion")).map(_.toInt)
        .orElse(Option(opts.get("startingTimestamp")).map { t =>
          GraftSource.resolveFromTs(root, prefix, t)
        }).getOrElse(0)
      val to = Option(opts.get("endingVersion")).map(_.toInt)
        .orElse(Option(opts.get("endingTimestamp")).map { t =>
          Snapshots.resolveTimestamp(root, prefix, GraftSource.parseTsPub(t))
            .getOrElse(sys.error(
              s"no commit of $prefix at or before endingTimestamp '$t'"))
        })
      new GraftTable(root, prefix, version, effective, cdc = Some((from, to)))
    } else
      new GraftTable(root, prefix, version, effective)
  }
}

/** The micro-batch sink behind `writeStream.format("graft")`: one
  * snapshot commit per batch, idempotent per (checkpoint, batchId).
  * Complete mode replaces the table each batch (first batch on an
  * empty path is a plain first commit). */
private[sources] class GraftStreamSink(root: String, prefix: String,
                                       appId: String, complete: Boolean,
                                       partitionCols: Seq[String])
  extends org.apache.spark.sql.execution.streaming.Sink {

  override def addBatch(batchId: Long, data: org.apache.spark.sql.DataFrame): Unit = {
    val txn = Some(s"gsink-$appId-$batchId")
    val spark = data.sparkSession
    // the engine hands a frame still flagged isStreaming — re-wrap the
    // executed micro-batch plan as a batch frame before writing
    val batch = org.apache.spark.sql.GraftStreamingShim.asBatch(spark, data)
    if (complete && Snapshots.snapshot(root, prefix, None).isDefined)
      Snapshots.overwrite(spark, root, prefix, batch, txn)
    else
      Snapshots.appendBatch(spark, root, prefix, batch, txn, partitionCols)
    ()
  }

  override def toString: String = s"GraftStreamSink[$prefix@$root]"
}

object GraftSource {

  /** Txn-id options keep a plain, printable charset: they name a
    * writer across restarts and appear in the table's history. */
  private[sources] def safeTxnPart(opt: String, s: String): String = {
    require(s.nonEmpty && s.forall(c =>
      c.isLetterOrDigit && c < 128 || "._:-".contains(c)),
      s"option '$opt' must be non-empty and use only " +
        s"[A-Za-z0-9._:-] (txn ids are embedded in the " +
        s"commit log); got '$s'")
    s
  }

  /** (root, prefix, version) from reader options. `load(path)` puts the
    * path in options; its last segment is the prefix unless an explicit
    * `prefix` option names one (then the path IS the root). `version`
    * pins a snapshot; `tag` resolves a named ref — both optional. */
  private[sources] def resolve(options: CaseInsensitiveStringMap): (String, String, Option[Int]) = {
    // the session catalog hands the location back as a file: URI —
    // normalize to a plain local path for the manifest machinery
    val path = Option(options.get("path")).getOrElse(
      sys.error("graft source needs a path: spark.read.format(\"graft\").load(root/prefix)"))
      .replaceFirst("^[a-zA-Z0-9+.-]+:/+", "/")
    val (root, prefix) = Option(options.get("prefix")) match {
      case Some(p) => (path, p)
      case None =>
        val norm = path.stripSuffix("/")
        val cut = norm.lastIndexOf('/')
        require(cut > 0, s"cannot split '$path' into root/prefix — pass option(\"prefix\", ...)")
        (norm.substring(0, cut), norm.substring(cut + 1))
    }
    val version = Option(options.get("version")).map(_.toInt)
      .orElse(Option(options.get("tag")).map(t =>
        Snapshots.resolveTag(root, prefix, t).getOrElse(
          sys.error(s"no tag '$t' for $prefix"))))
      .orElse(Option(options.get("timestampAsOf")).map { t =>
        Snapshots.resolveTimestamp(root, prefix, parseTs(t)).getOrElse(
          sys.error(s"no commit of $prefix at or before '$t'"))
      })
    (root, prefix, version)
  }

  /** Timestamp-form CDC/stream floor: the first commit at or after
    * the instant (loud error when the instant is past the head —
    * silently starting empty would mask a typo'd date). */
  private[sources] def resolveFromTs(root: String, prefix: String, t: String): Int =
    Snapshots.resolveTimestampFrom(root, prefix, parseTsPub(t)).getOrElse(
      sys.error(s"no commit of $prefix at or after startingTimestamp '$t'"))

  private[sources] def parseTsPub(t: String): Long = parseTs(t)

  /** `timestampAsOf` accepts epoch millis, `yyyy-MM-dd HH:mm:ss[.SSS]`
    * (UTC — the session convention), or an ISO-8601 instant. */
  private def parseTs(t: String): Long =
    if (t.forall(_.isDigit)) t.toLong
    else try java.time.LocalDateTime
      .parse(t.replace(' ', 'T'))
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    catch {
      case _: java.time.format.DateTimeParseException =>
        java.time.Instant.parse(t).toEpochMilli
    }

  /** V1 overwrite filters → an exact Column predicate. Unlike
    * [[toRanges]] (advisory pruning — unmapped filters just don't
    * prune), an overwrite predicate defines WHICH ROWS ARE REPLACED:
    * dropping a conjunct would delete too much, so anything
    * untranslatable fails loudly. */
  private[sources] def filterToColumn(f: Filter): org.apache.spark.sql.Column = f match {
    case And(l, r) => filterToColumn(l) && filterToColumn(r)
    case Or(l, r) => filterToColumn(l) || filterToColumn(r)
    case Not(c) => !filterToColumn(c)
    case EqualTo(a, v) => col(a) === lit(v)
    case EqualNullSafe(a, v) => col(a) <=> lit(v)
    case GreaterThan(a, v) => col(a) > lit(v)
    case GreaterThanOrEqual(a, v) => col(a) >= lit(v)
    case LessThan(a, v) => col(a) < lit(v)
    case LessThanOrEqual(a, v) => col(a) <= lit(v)
    case In(a, vs) => col(a).isin(vs.toIndexedSeq: _*)
    case IsNull(a) => col(a).isNull
    case IsNotNull(a) => col(a).isNotNull
    case StringStartsWith(a, v) => col(a).startsWith(v)
    case StringEndsWith(a, v) => col(a).endsWith(v)
    case StringContains(a, v) => col(a).contains(v)
    case AlwaysTrue() => lit(true)
    case AlwaysFalse() => lit(false)
    case other => sys.error(s"unsupported overwrite predicate: $other")
  }

  /** V1 pushed filters → manifest-stat ranges (conjuncts only; any
    * filter that doesn't map is simply not used for pruning). Strict
    * bounds widen to inclusive — stat overlap is conservative anyway. */
  private[sources] def toRanges(f: Filter): Seq[Snapshots.StatRange] = {
    def keyed(v: Any): Option[(Long, String)] = v match {
      case l: Long => Some((l, "L"))
      case i: Int => Some((i.toLong, "L"))
      case s: Short => Some((s.toLong, "L"))
      case d: Double => if (d.isNaN) None else Some((SortKeys.doubleKey(d), "D"))
      case fl: Float => if (fl.isNaN) None else Some((SortKeys.doubleKey(fl.toDouble), "D"))
      case s: String => Some((SortKeys.stringKey(s), "S"))
      case _ => None
    }
    def range(c: String, t: String, lo: Long, hi: Long) =
      Snapshots.StatRange(c, t, lo, hi, lit(true))
    f match {
      case And(l, r) => toRanges(l) ++ toRanges(r)
      case EqualTo(a, v) => keyed(v).map { case (k, t) => range(a, t, k, k) }.toSeq
      case GreaterThan(a, v) => keyed(v).map { case (k, t) => range(a, t, k, Long.MaxValue) }.toSeq
      case GreaterThanOrEqual(a, v) => keyed(v).map { case (k, t) => range(a, t, k, Long.MaxValue) }.toSeq
      case LessThan(a, v) => keyed(v).map { case (k, t) => range(a, t, Long.MinValue, k) }.toSeq
      case LessThanOrEqual(a, v) => keyed(v).map { case (k, t) => range(a, t, Long.MinValue, k) }.toSeq
      case IsNull(a) => Seq(range(a, "N", 1L, 1L))
      case IsNotNull(a) => Seq(range(a, "N", 0L, 0L))
      case _ => Seq.empty
    }
  }
}

private[sources] class GraftTable(val root: String, val prefix: String,
                                  version: Option[Int], tableSchema: StructType,
                                  declaredParts: Seq[String] = Seq.empty,
                                  cdc: Option[(Int, Option[Int])] = None)
  extends Table with SupportsRead with SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsDelete {

  /** SQL `DELETE FROM t WHERE …` — one merge-on-read commit
    * ([[Snapshots.deleteMoR]]): a deletion-vector sidecar marks the
    * matched rows, no data file is rewritten, old versions stay
    * readable, the rows ride the change feed as deletes. The filter
    * translation is EXACT ([[GraftSource.filterToColumn]] — a dropped
    * conjunct would delete too much); canDeleteWhere declines anything
    * untranslatable so Spark rewrites the delete as a scan-and-replace
    * plan instead of us guessing. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    version.isEmpty && cdc.isEmpty && filters.forall(f =>
      try { GraftSource.filterToColumn(f); true }
      catch { case _: RuntimeException => false })

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(version.isEmpty, "cannot delete from a time-travel read")
    val cond =
      if (filters.isEmpty) lit(true)
      else filters.map(GraftSource.filterToColumn).reduce(_ && _)
    // advisory manifest pruning: the hit scan opens only files whose
    // stats can overlap the delete's range conjuncts
    Snapshots.deleteMoR(SparkSession.active, root, prefix, cond,
      ranges = filters.toSeq.flatMap(GraftSource.toRanges))
    ()
  }

  /** Time-travel pin, if any — `Table.version()` owns the name. */
  private[sources] def pinnedVersion: Option[Int] = version

  override def name(): String =
    s"graft.$prefix@$root${version.map("#v" + _).getOrElse("")}"

  override def schema(): StructType = tableSchema

  // BATCH_WRITE gets DataFrameWriter.save onto the V2 path at all;
  // V1_BATCH_WRITE is what routes our V1Write fallback to
  // AppendDataExecV1 instead of Write.toBatch (which default-throws).
  // Both are needed — the same pair Delta's table declares. TRUNCATE
  // admits full-table overwrites (INSERT OVERWRITE / mode("overwrite")
  // — OverwriteByExpression with a true-literal filter), routed to
  // OverwriteByExpressionExecV1 via the builder's truncate().
  // OVERWRITE_BY_FILTER admits PARTIAL overwrites: INSERT OVERWRITE
  // with a static partition spec and writeTo(...).overwrite(cond)
  // arrive as OverwriteByExpression with a real condition, routed to
  // the builder's overwrite(filters) → Snapshots.overwriteWhere.
  // AUTOMATIC_SCHEMA_EVOLUTION opts into the analyzer's
  // ResolveMergeIntoSchemaEvolution: MERGE … WITH SCHEMA EVOLUTION
  // computes the source's new columns and routes them through the
  // CATALOG's alterTable (GraftCatalog → Snapshots.addColumn, a
  // metadata-only commit) before the merge resolves — so evolution
  // works for catalog tables; a path-loaded relation has no catalog
  // to alter and such a MERGE fails analysis on the unresolved
  // column, never half-evolves.
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION,
      TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // on the PATH form these options were consumed by getTable
    // (provider-level resolve); a BY-NAME read (`spark.read.option(…)
    // .table("graft.ns.t")`) hands them straight here, where they
    // would otherwise be silently ignored — refuse instead of
    // mis-serving latest/plain rows. By-name time travel is native
    // SQL (`VERSION/TIMESTAMP AS OF`); the CDC relation is path-form.
    // (Spark's own `versionAsOf`/`timestampAsOf` option names ARE
    // honored by name — the engine routes them through the catalog's
    // time-travel loadTable before any scan builds; only OUR
    // path-form spellings would fall through to here)
    if (version.isEmpty)
      Seq("version", "tag").foreach { o =>
        require(!options.containsKey(o),
          s"option '$o' is not honored on a by-name read — " +
            "use VERSION AS OF / versionAsOf / timestampAsOf, or the path form")
      }
    if (cdc.isEmpty)
      require(!options.getBoolean("readChangeFeed", false),
        "readChangeFeed is not honored on a by-name read — use the path " +
          "form: spark.read.format(\"graft\").option(\"readChangeFeed\", true).load(root/table)")
    cdc match {
      case Some((from, to)) =>
        new GraftCdcScanBuilder(root, prefix, tableSchema, from, to, options)
      case None =>
        new GraftScanBuilder(root, prefix, version, tableSchema, options)
    }
  }

  /** APPEND and OVERWRITE through the snapshot log. Append: new
    * parquet files land under the table dir (respecting any existing
    * hive-style partition layout) and one `Snapshots.commit` pins
    * them — readers never see a half-written batch (files not in a
    * committed snapshot are invisible), and the commit carries the
    * query id as its txn id, so a retried/replayed write commits
    * exactly once. Overwrite (INSERT OVERWRITE / mode("overwrite") —
    * the builder's truncate() signal, Spark's V1 fallback never sets
    * the insert() boolean): one `Snapshots.overwrite` commit replaces
    * the whole table copy-on-write; time travel to any pre-write
    * version keeps working by construction in both modes. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(version.isEmpty, "cannot write to a time-travel read")
    require(cdc.isEmpty, "cannot write to a change-feed read")
    // refuse unsafe txn options at BUILDER construction — before any
    // job runs or mergeSchema commits metadata (see safeTxnPart below)
    Seq("txnAppId", "txnVersion").foreach { o =>
      Option(info.options.get(o)).foreach(GraftSource.safeTxnPart(o, _))
    }
    new WriteBuilder with SupportsOverwrite {
      private var replaceAll = false
      private var replaceCond: Option[org.apache.spark.sql.Column] = None
      override def truncate(): WriteBuilder = { replaceAll = true; this }
      override def overwrite(filters: Array[Filter]): WriteBuilder = {
        // a true-literal condition IS a truncate (Spark sends both
        // shapes); anything else is a region replace
        if (filters.isEmpty || filters.forall(_ == AlwaysTrue))
          replaceAll = true
        else
          replaceCond = Some(filters.map(GraftSource.filterToColumn).reduce(_ && _))
        this
      }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit = {
              // mergeSchema (Delta's write-time evolution): NEW data
              // columns become metadata-only addColumn commits BEFORE
              // the write; table columns the frame lacks NULL-fill;
              // a same-name type conflict refuses (evolution adds, it
              // never rewrites types). Without the option a mismatched
              // frame was already refused at getTable.
              val aligned =
                if (!info.options.getBoolean("mergeSchema", false) ||
                    Snapshots.snapshot(root, prefix, None).isEmpty) data
                else {
                  val disk = Snapshots.tableSchema(data.sparkSession, root, prefix)
                  val diskByName = disk.fields.map(f => f.name -> f.dataType).toMap
                  data.schema.fields.foreach { f =>
                    diskByName.get(f.name).foreach { t =>
                      require(t == f.dataType,
                        s"mergeSchema cannot change column '${f.name}' " +
                          s"from ${t.simpleString} to ${f.dataType.simpleString}")
                    }
                  }
                  data.schema.fields.filterNot(f => diskByName.contains(f.name))
                    .foreach { f =>
                      Snapshots.addColumn(root, prefix, f.name, f.dataType.sql, None)
                      ()
                    }
                  val dataCols = data.columns.toSet
                  disk.fields.filterNot(f => dataCols.contains(f.name))
                    .foldLeft(data) { (d, f) =>
                      d.withColumn(f.name, lit(null).cast(f.dataType))
                    }
                }
              // user-supplied idempotency (Delta's txnAppId/txnVersion):
              // the same (txnAppId, txnVersion) pair commits AT MOST
              // ONCE across sessions and retries — an application
              // replaying its own work (a restarted backfill, a
              // re-submitted job) no-ops the second time. Default
              // remains the query id, which dedups engine-level
              // retries of one query only.
              val userTxn = for {
                app <- Option(info.options.get("txnAppId"))
                  .map(GraftSource.safeTxnPart("txnAppId", _))
                v <- Option(info.options.get("txnVersion"))
                  .map(GraftSource.safeTxnPart("txnVersion", _))
              // length-prefixed: a bare "user-$app-$v" would collide
              // (appId="a", v="1-2") with (appId="a-1", v="2") and
              // silently no-op a legitimate write
              } yield {
                // pre-round-9 logs committed the un-prefixed form — a
                // writer replaying the same (appId, version) pair
                // against such a table must still no-op, so when the
                // LEGACY id is already committed the replay keeps
                // matching it instead of re-applying under the new
                // encoding (new pairs always take the unambiguous form).
                // The legacy lookup is consulted ONLY for dash-free
                // pairs (round-11 advisor): with a '-' in appId or
                // version, "user-$app-$v" is ambiguous — the pair
                // ("a","1-2") renders identically to ("a-1","2"), so a
                // NEW pair could find a DIFFERENT pair's pre-upgrade id
                // and silently no-op a legitimate first write. Dash-free
                // renderings are bijective, so matching them is safe; a
                // dash-bearing pre-upgrade pair re-applies once under
                // the new encoding instead of risking a silent no-op.
                // Skipping the lookup also skips the extra snapshot
                // resolution for the pairs that can't match anyway.
                val legacy = s"user-$app-$v"
                if (!app.contains('-') && !v.contains('-') &&
                    Snapshots.snapshot(root, prefix, None)
                      .exists(_.txns.contains(legacy))) {
                  System.err.println(s"[graft] txn: matched PRE-UPGRADE " +
                    s"legacy id '$legacy' for (txnAppId=$app, " +
                    s"txnVersion=$v) — write no-ops against the legacy commit")
                  legacy
                }
                else s"user-${app.length}:$app:$v"
              }
              def txnOr(pfx: String): Option[String] =
                userTxn.orElse(Option(info.queryId()).map(pfx + _))
              // mode("overwrite") + option("replaceWhere", "<pred>")
              // scopes the replace to a region (the Delta option) —
              // it arrives as a truncate, the predicate rides the
              // write options
              val cond = replaceCond.orElse(
                if (replaceAll || overwrite)
                  Option(info.options.get("replaceWhere"))
                    .map(org.apache.spark.sql.functions.expr)
                else None)
              cond match {
                case Some(c) =>
                  Snapshots.overwriteWhere(data.sparkSession, root, prefix, c,
                    aligned, txn = txnOr("dsv2-rw-"))
                  return
                case None =>
              }
              if (replaceAll || overwrite) {
                Snapshots.overwrite(data.sparkSession, root, prefix, aligned,
                  txn = txnOr("dsv2-ow-"))
                return
              }
              val dataDir = new java.io.File(Topics.tableDir(root, prefix))
              // preserve the table's partition layout: walk one
              // hive-style `k=v` chain depth-first so a multi-level
              // layout (a=1/b=2/...) keeps ALL its columns in the
              // existing nesting order — appended files land in the
              // same directory structure the table already uses
              val parts = {
                def chain(dir: java.io.File): List[String] =
                  Option(dir.listFiles()).getOrElse(Array.empty)
                    .find(d => d.isDirectory && d.getName.contains('=')) match {
                    case Some(d) => d.getName.takeWhile(_ != '=') :: chain(d)
                    case None => Nil
                  }
                // an empty layout (first insert into a fresh catalog
                // table) falls back to the DDL-declared partitioning
                val walked = chain(dataDir)
                if (walked.nonEmpty) walked else declaredParts.toList
              }
              // appendBatch, not commit(): the txn is checked BEFORE
              // the file write, so a replayed/retried query re-writes
              // nothing (write-then-commit left a replay's files
              // unreferenced for the next commit to adopt as
              // duplicates), and the marked files can't be swept in
              // by a racing ingest commit
              Snapshots.appendBatch(data.sparkSession, root, prefix, aligned,
                txn = txnOr("dsv2-"),
                partitionCols = parts)
              ()
            }
          }
      }
    }
  }
}

private[sources] class GraftScanBuilder(root: String, prefix: String,
                                        version: Option[Int], fullSchema: StructType,
                                        options: CaseInsensitiveStringMap =
                                          CaseInsensitiveStringMap.empty())
  extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates
    with SupportsPushDownLimit {

  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var aggPushed: Option[Seq[Long]] = None // one value per agg column
  private var limitFiles: Option[Seq[String]] = None // covering prefix, pinned at pushLimit

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f => GraftSource.toRanges(f).nonEmpty)
    filters // ALL residual: stats narrow IO, never replace evaluation
  }

  override def pushedFilters(): Array[Filter] = pushed

  /** Global COUNT(*) / MIN / MAX answered from MANIFEST METADATA — no
    * data file is opened (the Iceberg/Delta metadata-agg shape; at
    * 100 TB a driver-side fold over the snapshot's per-file stats
    * replaces a full table scan). Accepted only when provably exact:
    * no residual filters, no grouping, every aggregate is CountStar
    * (per-file "R" row counts) or Min/Max of an INT64 column ("L"
    * stats hold raw values; an all-null file has no stat and
    * declines), every live file carries the needed stat, and no
    * deletion vectors are active. Anything else falls back to the
    * ordinary scan. */
  // supportCompletePushDown and pushAggregation both evaluate the same
  // aggregation — memoized so planning reads the manifest once and
  // both calls see the SAME snapshot even if a commit lands between
  private var metaMemo: Option[(Aggregation, Option[Seq[Long]])] = None

  private def metaAgg(agg: Aggregation): Option[Seq[Long]] =
    metaMemo match {
      case Some((prev, r)) if prev == agg => r
      case _ =>
        val r = computeMetaAgg(agg)
        metaMemo = Some((agg, r))
        r
    }

  private def computeMetaAgg(agg: Aggregation): Option[Seq[Long]] = {
    if (pushed.nonEmpty || agg.groupByExpressions.nonEmpty ||
        agg.aggregateExpressions.isEmpty) return None
    def longCol(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case nr: NamedReference if nr.fieldNames.length == 1 &&
            fullSchema.fields.exists(f => f.name == nr.fieldNames()(0) &&
              f.dataType == org.apache.spark.sql.types.LongType) =>
          Some(nr.fieldNames()(0))
        case _ => None
      }
    // ONE snapshot load serves every aggregate: count/min/max in a
    // multi-aggregate row must all reflect the SAME version even if a
    // commit lands mid-planning (the lazy-prunedFiles discipline the
    // ordinary scan path already follows), and (min, max) of one
    // column parses the manifest once, not twice
    Snapshots.snapshot(root, prefix, version).flatMap { snap =>
      val vals = agg.aggregateExpressions.toSeq.map {
        case _: CountStar => Snapshots.metadataRowCount(snap)
        case m: AggMin => longCol(m.column).flatMap(c =>
          Snapshots.metadataLongBounds(root, prefix, snap, c).map(_._1))
        case m: AggMax => longCol(m.column).flatMap(c =>
          Snapshots.metadataLongBounds(root, prefix, snap, c).map(_._2))
        case _ => None
      }
      if (vals.forall(_.isDefined)) Some(vals.map(_.get)) else None
    }
  }

  /** Bare LIMIT n prunes the FILE LIST to the shortest prefix whose
    * "R" row counts cover n — `SELECT * FROM t LIMIT 10` on a 100 TB
    * table opens one file. Partial pushdown: Spark still applies the
    * exact limit above; this only narrows IO. Declined under residual
    * filters (rows may be filtered away) or when Snapshots.limitFiles
    * cannot prove coverage (missing stats / active DVs). */
  override def pushLimit(n: Int): Boolean = {
    if (pushed.isEmpty) {
      // keep the computed prefix — recomputing it in the scan would
      // read the manifest twice AND could see a different snapshot
      limitFiles = Snapshots.limitFiles(root, prefix, n.toLong, version)
    }
    limitFiles.isDefined
  }

  override def isPartiallyPushed(): Boolean = true

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    metaAgg(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean =
    metaAgg(agg) match {
      case Some(vs) => aggPushed = Some(vs); true
      case None => false
    }

  /** Catalyst may hand a NESTED-pruned schema (struct fields trimmed —
    * nestedSchemaPruning is on by default for DSv2), but buildScan
    * re-projects by top-level name only, so rows would carry the FULL
    * structs while readSchema() declared the trimmed layout — with
    * needConversion=false the InternalRow offsets would be silently
    * misread. Map the request back to the table's full top-level
    * fields: column pruning is preserved, nested pruning is declined
    * (schema and rows stay consistent). */
  override def pruneColumns(requiredSchema: StructType): Unit = {
    // after a complete aggregate pushdown the "required" schema is the
    // AGGREGATE output, not table columns — keep the agg schema
    if (aggPushed.isDefined) return
    val names = requiredSchema.fieldNames.toSet
    required = StructType(fullSchema.fields.filter(f => names.contains(f.name)))
  }

  override def build(): Scan = aggPushed match {
    case Some(vs) => new GraftCountScan(prefix, vs)
    case None =>
      new GraftScan(root, prefix, version, required, pushed, limitFiles, options)
  }
}

/** The metadata-aggregate scan: one row of pre-computed agg values
  * (count/min/max), zero file IO. The V1 bridge hands Spark a
  * single-row InternalRow RDD; columns map to the pushed aggregates
  * by POSITION. */
private[sources] class GraftCountScan(prefix: String, values: Seq[Long])
  extends V1Scan {

  override def readSchema(): StructType =
    StructType(values.indices.map(i =>
      org.apache.spark.sql.types.StructField(s"agg$i",
        org.apache.spark.sql.types.LongType, nullable = false)))

  override def description(): String =
    s"GraftCountScan $prefix values=${values.mkString(",")} (manifest metadata only)"

  override def toV1TableScan[T <: BaseRelation with TableScan](context: SQLContext): T =
    new GraftCountRelation(values, readSchema(), context).asInstanceOf[T]
}

private[sources] class GraftCountRelation(values: Seq[Long],
                                          outSchema: StructType, ctx: SQLContext)
  extends BaseRelation with TableScan {

  override def sqlContext: SQLContext = ctx

  override def schema: StructType = outSchema

  override def needConversion: Boolean = false

  override def buildScan(): RDD[Row] = {
    val row = org.apache.spark.sql.catalyst.InternalRow.fromSeq(values)
    ctx.sparkSession.sparkContext.parallelize(Seq(row), 1)
      .asInstanceOf[RDD[Row]]
  }
}

private[sources] class GraftScan(root: String, prefix: String, version: Option[Int],
                                 required: StructType, pushed: Array[Filter],
                                 limitFiles: Option[Seq[String]] = None,
                                 options: CaseInsensitiveStringMap =
                                   CaseInsensitiveStringMap.empty())
  extends V1Scan with SupportsReportStatistics {

  override def readSchema(): StructType = required

  /** `spark.readStream.table("graft.ns.t")` / `.format("graft")` —
    * the table as a NATIVE micro-batch source (the capability routes
    * MicroBatchExecution here instead of the V1 StreamSourceProvider).
    * Offsets are commit versions; options `startingVersion` /
    * `maxVersionsPerTrigger` keep the V1 source's meaning. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(version.isEmpty,
      "a streaming read starts from 'startingVersion', not a pinned 'version'/'tag'")
    new graft.streaming.GraftMicroBatchStream(root, prefix, required,
      Option(options.get("startingVersion")).map(_.toLong - 1)
        .orElse(Option(options.get("startingTimestamp")).map(t =>
          GraftSource.resolveFromTs(root, prefix, t).toLong - 1))
        .getOrElse(-1L),
      Option(options.get("maxVersionsPerTrigger")).map(_.toInt),
      maxFilesPerTrigger = Option(options.get("maxFilesPerTrigger")).map(_.toInt),
      maxBytesPerTrigger = Option(options.get("maxBytesPerTrigger")).map(_.toLong))
  }

  /** Post-pruning on-disk bytes of the surviving file list — computed
    * from metadata only. Reporting it lets the planner auto-broadcast
    * a graft table that pruned down to dimension size (the join-side
    * decision that matters most at 100 TB). Rows are left unknown; DV
    * sidecars only shrink the true size, so the estimate stays a safe
    * upper bound. */
  override def estimateStatistics(): Statistics = {
    val base = Topics.tableDir(root, prefix)
    val bytes = prunedFiles.map(f => new java.io.File(base, f).length()).sum
    new Statistics {
      override def sizeInBytes(): util.OptionalLong = util.OptionalLong.of(bytes)
      override def numRows(): util.OptionalLong = util.OptionalLong.empty()
    }
  }

  override def description(): String = {
    val files = prunedFiles.length
    val total = Snapshots.snapshot(root, prefix, version).map(_.files.length).getOrElse(0)
    s"GraftScan $prefix files=$files/$total pushed=${pushed.mkString(",")}"
  }

  /** Manifest pruning happens DRIVER-SIDE from stats alone — no data
    * file is opened to decide the file list. Resolved ONCE at first
    * use and pinned: stats, description, and the V1 relation all see
    * the same snapshot even if a commit lands mid-query, and the
    * manifest is read once per scan, not once per caller. */
  private lazy val prunedFiles: Seq[String] = {
    val ranges = pushed.toSeq.flatMap(GraftSource.toRanges)
    if (ranges.nonEmpty) Snapshots.pruneFilesMulti(root, prefix, ranges, version)
    else limitFiles.getOrElse( // prefix pinned at pushLimit — no re-read
      Snapshots.snapshot(root, prefix, version).map(_.files).getOrElse(Seq.empty))
  }

  override def toV1TableScan[T <: BaseRelation with TableScan](context: SQLContext): T =
    new GraftV1Relation(root, prefix, version, required, prunedFiles, context)
      .asInstanceOf[T]
}

/** The V1 bridge relation: hands Spark the snapshot read as an
  * InternalRow RDD. `needConversion = false` is the JDBCRelation
  * pattern — the rows are already InternalRow because they come out of
  * a DataFrame's executed plan. */
private[sources] class GraftV1Relation(root: String, prefix: String,
                                       version: Option[Int], required: StructType,
                                       files: Seq[String], ctx: SQLContext)
  extends BaseRelation with TableScan {

  override def sqlContext: SQLContext = ctx

  override def schema: StructType = required

  override def needConversion: Boolean = false

  override def buildScan(): RDD[Row] = {
    val spark = ctx.sparkSession
    // a created-but-never-committed table (or a fully-pruned scan) has
    // no files — return an empty RDD without touching the snapshot
    // machinery, which requires at least one commit to exist
    if (files.isEmpty)
      return spark.sparkContext.emptyRDD[Row]
    val base = Snapshots.readFileSubset(spark, root, prefix, files, version)
    val projected =
      if (required.isEmpty) base.select()
      else base.select(required.fieldNames.map(col).toIndexedSeq: _*)
    projected.queryExecution.toRdd.asInstanceOf[RDD[Row]]
  }
}

/** The CHANGE FEED as a relation — `spark.read.format("graft")
  * .option("readChangeFeed", true).option("startingVersion", n)
  * [.option("endingVersion", m)].load(root/prefix)` (Delta's CDF read
  * shape). Rows are the row-grain change records each commit produced
  * (insert / delete / update_preimage / update_postimage), shaped to
  * the LATEST schema with `_change_type` and `_commit_version`
  * appended. Column pruning pushes down; a streaming read
  * (`readStream` with the same option) paces the same feed by commit
  * versions through [[graft.streaming.GraftMicroBatchStream]] instead
  * of a fixed window. At 100 TB a CDC window's cost is the changes in
  * the window, never the table. */
private[sources] class GraftCdcScanBuilder(root: String, prefix: String,
                                           cdcSchema: StructType,
                                           from: Int, to: Option[Int],
                                           options: CaseInsensitiveStringMap)
  extends ScanBuilder with SupportsPushDownRequiredColumns {

  private var required: StructType = cdcSchema

  override def pruneColumns(requiredSchema: StructType): Unit = {
    val names = requiredSchema.fieldNames.toSet
    required = StructType(cdcSchema.fields.filter(f => names.contains(f.name)))
  }

  override def build(): Scan =
    new GraftCdcScan(root, prefix, required, from, to, options)
}

private[sources] class GraftCdcScan(root: String, prefix: String,
                                    required: StructType,
                                    from: Int, to: Option[Int],
                                    options: CaseInsensitiveStringMap)
  extends V1Scan {

  override def readSchema(): StructType = required

  override def description(): String =
    s"GraftCdcScan $prefix versions=[$from, ${to.getOrElse("latest")}]"

  /** Streaming CDC: same feed, paced by commit versions (offsets). */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new graft.streaming.GraftMicroBatchStream(root, prefix, required,
      Option(options.get("startingVersion")).map(_.toLong - 1)
        .orElse(Option(options.get("startingTimestamp")).map(t =>
          GraftSource.resolveFromTs(root, prefix, t).toLong - 1))
        .getOrElse(-1L),
      Option(options.get("maxVersionsPerTrigger")).map(_.toInt),
      cdc = true,
      maxFilesPerTrigger = Option(options.get("maxFilesPerTrigger")).map(_.toInt),
      maxBytesPerTrigger = Option(options.get("maxBytesPerTrigger")).map(_.toLong))

  override def toV1TableScan[T <: BaseRelation with TableScan](context: SQLContext): T =
    new GraftCdcRelation(root, prefix, required, from, to, context).asInstanceOf[T]
}

private[sources] class GraftCdcRelation(root: String, prefix: String,
                                        required: StructType,
                                        from: Int, to: Option[Int],
                                        ctx: SQLContext)
  extends BaseRelation with TableScan {

  override def sqlContext: SQLContext = ctx

  override def schema: StructType = required

  override def needConversion: Boolean = false

  override def buildScan(): RDD[Row] = {
    // the option window is INCLUSIVE of startingVersion (Delta's CDF
    // contract); the primitive's from is exclusive
    val feed = Snapshots.readChangeFeed(ctx.sparkSession, root, prefix, from - 1, to)
    val projected =
      if (required.isEmpty) feed.select()
      else feed.select(required.fieldNames.map(col).toIndexedSeq: _*)
    projected.queryExecution.toRdd.asInstanceOf[RDD[Row]]
  }
}
