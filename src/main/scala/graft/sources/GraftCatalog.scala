package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, NonEmptyNamespaceException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.ingest.Snapshots

/** The snapshot layer as a CATALOG plugin — the full-integration
  * surface Delta/Iceberg ship, on top of the same (root, prefix)
  * tables the path-based [[GraftSource]] serves:
  *
  * {{{
  * spark.sql.catalog.graft           graft.sources.GraftCatalog
  * spark.sql.catalog.graft.warehouse /data/lake
  * }}}
  *
  * - `CREATE NAMESPACE graft.ns` / `CREATE TABLE graft.ns.t (…)` /
  *   `INSERT INTO` / `SELECT` / `DROP/RENAME TABLE` — namespaces are
  *   warehouse directories, each table a graft snapshot table
  *   (root = the table directory, prefix = "t").
  * - SQL time travel: `SELECT … FROM graft.ns.t VERSION AS OF 2`
  *   (or a tag name) and `TIMESTAMP AS OF …` resolve through
  *   `loadTable(ident, version/timestamp)` — the analyzer's native
  *   route, no options needed.
  * - `ALTER TABLE graft.ns.t ADD/RENAME/DROP COLUMN` lowers to the
  *   metadata-only schema-evolution commits ([[Snapshots.addColumn]]
  *   & co.); on a still-empty table the change edits the persisted
  *   DDL schema directly (there is no snapshot to version yet).
  * - Stored procedures (Spark 4 `ProcedureCatalog`):
  *   `CALL graft.system.compact(table => 'ns.t')`, plus `zorder`,
  *   `vacuum`, `restore`, `tag`, `backfill_stats` — the maintenance
  *   surface (OPTIMIZE/VACUUM/RESTORE) as first-class SQL.
  *
  * Metadata is file-based like the snapshot log itself: the table
  * directory holds `t._table.json` (the DDL schema, authoritative
  * until the first commit) and `t._parts` (declared identity
  * partition columns, consumed by the first append). At 100 TB the
  * catalog stores names and schemas — O(tables), never data. */
class GraftCatalog extends TableCatalog with SupportsNamespaces
  with ProcedureCatalog {

  import GraftCatalog._

  private var catalogName: String = _
  private var warehouse: Path = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Paths.get(Option(options.get("warehouse"))
      .getOrElse(s"/tmp/graft/catalog-$name"))
    Files.createDirectories(warehouse)
    ()
  }

  override def name(): String = catalogName
  override def defaultNamespace(): Array[String] = Array("default")

  private def checkSegment(s: String): String = {
    require(s.matches("[A-Za-z0-9_.-]+") && s != "." && s != "..",
      s"invalid name segment '$s'")
    s
  }

  private def nsDir(ns: Array[String]): Path =
    ns.foldLeft(warehouse)((p, s) => p.resolve(checkSegment(s)))

  private def tableDir(ident: Identifier): Path =
    nsDir(ident.namespace()).resolve(checkSegment(ident.name()))

  private def metaFile(dir: Path): Path = dir.resolve("t._table.json")
  private def partsFile(dir: Path): Path = dir.resolve("t._parts")

  private def persistedSchema(dir: Path): StructType =
    DataType.fromJson(Files.readString(metaFile(dir))).asInstanceOf[StructType]

  private def declaredParts(dir: Path): Seq[String] =
    if (Files.isRegularFile(partsFile(dir)))
      Files.readString(partsFile(dir)).split("\n").toSeq.filter(_.nonEmpty)
    else Seq.empty

  // ---- namespaces (directories with a marker file) ----

  private def nsMarker(ns: Array[String]): Path = nsDir(ns).resolve(".graftns")

  override def namespaceExists(ns: Array[String]): Boolean =
    ns.nonEmpty && Files.isRegularFile(nsMarker(ns))

  override def createNamespace(ns: Array[String],
                               metadata: util.Map[String, String]): Unit = {
    if (namespaceExists(ns)) throw new NamespaceAlreadyExistsException(ns)
    Files.createDirectories(nsDir(ns))
    Files.writeString(nsMarker(ns), "")
    ()
  }

  override def listNamespaces(): Array[Array[String]] =
    Option(warehouse.toFile.listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && Files.isRegularFile(d.toPath.resolve(".graftns")))
      .map(d => Array(d.getName)).sortBy(_.head)

  override def listNamespaces(parent: Array[String]): Array[Array[String]] = {
    if (parent.isEmpty) return listNamespaces()
    if (!namespaceExists(parent)) throw new NoSuchNamespaceException(parent)
    Option(nsDir(parent).toFile.listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && Files.isRegularFile(d.toPath.resolve(".graftns")))
      .map(d => parent :+ d.getName).sortBy(_.mkString("."))
  }

  override def loadNamespaceMetadata(ns: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(ns)) throw new NoSuchNamespaceException(ns)
    Map(SupportsNamespaces.PROP_LOCATION -> nsDir(ns).toString).asJava
  }

  override def alterNamespace(ns: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft namespaces carry no mutable metadata")

  override def dropNamespace(ns: Array[String], cascade: Boolean): Boolean = {
    if (!namespaceExists(ns)) return false
    if (!cascade && listTables(ns).nonEmpty)
      throw new NonEmptyNamespaceException(ns)
    rmTree(nsDir(ns))
    true
  }

  // ---- tables ----

  override def listTables(ns: Array[String]): Array[Identifier] = {
    if (!namespaceExists(ns)) throw new NoSuchNamespaceException(ns)
    Option(nsDir(ns).toFile.listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && Files.isRegularFile(metaFile(d.toPath)))
      .map(d => Identifier.of(ns, d.getName)).sortBy(_.name())
  }

  override def tableExists(ident: Identifier): Boolean =
    Files.isRegularFile(metaFile(tableDir(ident)))

  private def table(ident: Identifier, version: Option[Int]): Table = {
    val dir = tableDir(ident)
    if (!Files.isRegularFile(metaFile(dir))) throw new NoSuchTableException(ident)
    val root = dir.toString
    // the snapshot log is authoritative once data exists (it carries
    // schema evolution); the DDL file covers the created-empty window
    val schema = Snapshots.snapshot(root, Prefix, version)
      .fold(persistedSchema(dir))(Snapshots.tableSchema(SparkSession.active, root, Prefix, _))
    new GraftTable(root, Prefix, version, schema, declaredParts(dir))
  }

  override def loadTable(ident: Identifier): Table = table(ident, None)

  /** `VERSION AS OF` — an integer version or a tag name. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val root = tableDir(ident).toString
    val v = version.toIntOption.orElse(
      Snapshots.resolveTag(root, Prefix, version)).getOrElse(
      throw new NoSuchTableException(ident))
    table(ident, Some(v))
  }

  /** `TIMESTAMP AS OF` — Spark hands MICROseconds since the epoch. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val root = tableDir(ident).toString
    val v = Snapshots.resolveTimestamp(root, Prefix, timestampMicros / 1000L)
      .getOrElse(throw new NoSuchTableException(ident))
    table(ident, Some(v))
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    if (!namespaceExists(ident.namespace()))
      throw new NoSuchNamespaceException(ident.namespace())
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val parts = partitions.toSeq.map { t =>
      if (t.name() != "identity") throw new UnsupportedOperationException(
        s"graft tables support identity partitioning only, got $t")
      t.references().head.fieldNames().mkString(".")
    }
    require(parts.forall(p => schema.fieldNames.contains(p)),
      s"partition column(s) not in schema: ${parts.mkString(", ")}")
    val dir = tableDir(ident)
    Files.createDirectories(dir)
    // CREATE_NEW makes the metadata file the atomic claim: two racing
    // CREATE TABLEs lose deterministically (the snapshot log's commit
    // discipline, applied to the catalog layer)
    try Files.writeString(metaFile(dir), schema.json,
      java.nio.file.StandardOpenOption.CREATE_NEW,
      java.nio.file.StandardOpenOption.WRITE)
    catch { case _: java.nio.file.FileAlreadyExistsException =>
      throw new TableAlreadyExistsException(ident)
    }
    if (parts.nonEmpty) Files.writeString(partsFile(dir), parts.mkString("\n"))
    new GraftTable(dir.toString, Prefix, None, schema, parts)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = tableDir(ident)
    if (!Files.isRegularFile(metaFile(dir))) throw new NoSuchTableException(ident)
    val root = dir.toString
    val committed = Snapshots.snapshot(root, Prefix, None).isDefined
    def one(fieldNames: Array[String]): String = {
      require(fieldNames.length == 1,
        s"graft tables evolve top-level columns only, got ${fieldNames.mkString(".")}")
      fieldNames.head
    }
    changes.foreach {
      case ac: TableChange.AddColumn =>
        val name = one(ac.fieldNames())
        val default = Option(ac.defaultValue()).map(_.getSql)
        if (committed) Snapshots.addColumn(root, Prefix, name, ac.dataType().sql, default)
        else {
          val s = persistedSchema(dir)
          require(!s.fieldNames.contains(name), s"column $name already exists")
          Files.writeString(metaFile(dir),
            StructType(s.fields :+ StructField(name, ac.dataType(), ac.isNullable)).json)
        }
      case rc: TableChange.RenameColumn =>
        val from = one(rc.fieldNames())
        if (committed) Snapshots.renameColumn(root, Prefix, from, rc.newName())
        else {
          val s = persistedSchema(dir)
          Files.writeString(metaFile(dir), StructType(s.fields.map(f =>
            if (f.name == from) f.copy(name = rc.newName()) else f)).json)
        }
      case dc: TableChange.DeleteColumn =>
        val name = one(dc.fieldNames())
        if (committed) Snapshots.dropColumn(root, Prefix, name)
        else {
          val s = persistedSchema(dir)
          Files.writeString(metaFile(dir),
            StructType(s.fields.filterNot(_.name == name)).json)
        }
      case other => throw new UnsupportedOperationException(
        s"graft ALTER TABLE supports add/rename/drop column, got ${other.getClass.getSimpleName}")
    }
    ()
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    if (!Files.isRegularFile(metaFile(dir))) false
    else { rmTree(dir); true }
  }

  override def renameTable(from: Identifier, to: Identifier): Unit = {
    if (!tableExists(from)) throw new NoSuchTableException(from)
    if (tableExists(to)) throw new TableAlreadyExistsException(to)
    if (!namespaceExists(to.namespace()))
      throw new NoSuchNamespaceException(to.namespace())
    Files.move(tableDir(from), tableDir(to))
    ()
  }

  override def capabilities(): util.Set[TableCatalogCapability] =
    util.EnumSet.of(TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  // ---- stored procedures: CALL graft.system.<proc>(…) ----

  /** Parse a procedure's 'ns.table' argument into the table root. */
  private def rootOf(tableArg: String): String = {
    val parts = tableArg.split("\\.")
    require(parts.length >= 2, s"procedure table argument must be 'ns.table', got '$tableArg'")
    val ident = Identifier.of(parts.init, parts.last)
    val dir = tableDir(ident)
    if (!Files.isRegularFile(metaFile(dir))) throw new NoSuchTableException(ident)
    dir.toString
  }

  override def listProcedures(ns: Array[String]): Array[Identifier] =
    if (ns.sameElements(Array(SystemNs)))
      ProcedureNames.map(Identifier.of(Array(SystemNs), _))
    else Array.empty

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    require(ident.namespace().sameElements(Array(SystemNs)) &&
      ProcedureNames.contains(ident.name()),
      s"no such procedure ${ident.namespace().mkString(".")}.${ident.name()}")
    val spark = SparkSession.active
    ident.name() match {
      case "compact" => proc("compact", Seq(P("table", StringType),
        ProcedureParameter.in("partition", StringType)
          .defaultValue("''")
          .comment("optional OPTIMIZE scope: 'col=value[,col=value]'")
          .build())) { in =>
        val scope = Option(if (in.isNullAt(1)) "" else in.getString(1))
          .getOrElse("").split(",").map(_.trim).filter(_.nonEmpty)
          .map { kv =>
            val i = kv.indexOf('=')
            require(i > 0, s"partition scope must be col=value, got '$kv'")
            kv.substring(0, i) -> kv.substring(i + 1)
          }.toMap
        Snapshots.compact(spark, rootOf(in.getString(0)), Prefix, scope)
      }
      case "zorder" => proc("zorder",
        Seq(P("table", StringType), P("columns", StringType))) { in =>
        Snapshots.clusterZOrder(spark, rootOf(in.getString(0)), Prefix,
          in.getString(1).split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      }
      case "vacuum" => proc("vacuum",
        Seq(P("table", StringType), P("keep_from", IntegerType))) { in =>
        val root = rootOf(in.getString(0))
        Snapshots.vacuum(root, Prefix, in.getInt(1))
        Snapshots.snapshot(root, Prefix, None).map(_.version).getOrElse(-1)
      }
      case "restore" => proc("restore",
        Seq(P("table", StringType), P("version", IntegerType))) { in =>
        Snapshots.restore(rootOf(in.getString(0)), Prefix, in.getInt(1))
      }
      case "tag" => proc("tag",
        Seq(P("table", StringType), P("name", StringType),
          P("version", IntegerType))) { in =>
        Snapshots.tag(rootOf(in.getString(0)), Prefix, in.getString(1), in.getInt(2))
        in.getInt(2)
      }
      case "backfill_stats" => proc("backfill_stats", Seq(P("table", StringType))) { in =>
        Snapshots.backfillStats(rootOf(in.getString(0)), Prefix)
      }
      case "clone" => proc("clone",
        Seq(P("source", StringType), P("target", StringType))) { in =>
        val srcDir = rootOf(in.getString(0))
        val parts = in.getString(1).split("\\.")
        require(parts.length >= 2,
          s"clone target must be 'ns.table', got '${in.getString(1)}'")
        val tgt = Identifier.of(parts.init, parts.last)
        if (!namespaceExists(tgt.namespace()))
          throw new NoSuchNamespaceException(tgt.namespace())
        if (tableExists(tgt)) throw new TableAlreadyExistsException(tgt)
        val dstDir = tableDir(tgt)
        Files.createDirectories(dstDir)
        // catalog metadata rides along (DDL schema + declared parts)
        Files.copy(metaFile(Paths.get(srcDir)), metaFile(dstDir))
        val sp = partsFile(Paths.get(srcDir))
        if (Files.isRegularFile(sp)) { Files.copy(sp, partsFile(dstDir)); () }
        Snapshots.cloneTable(srcDir, Prefix, dstDir.toString, Prefix)
      }
      case "branch" => proc("branch",
        Seq(P("source", StringType), P("target", StringType))) { in =>
        // a WRITABLE branch: zero-copy clone + recorded fork point
        // (Snapshots.branchTable). Write/audit on the branch with every
        // normal primitive, then publish with fast_forward.
        val srcDir = rootOf(in.getString(0))
        val parts = in.getString(1).split("\\.")
        require(parts.length >= 2,
          s"branch target must be 'ns.table', got '${in.getString(1)}'")
        val tgt = Identifier.of(parts.init, parts.last)
        if (!namespaceExists(tgt.namespace()))
          throw new NoSuchNamespaceException(tgt.namespace())
        if (tableExists(tgt)) throw new TableAlreadyExistsException(tgt)
        val dstDir = tableDir(tgt)
        Files.createDirectories(dstDir)
        Files.copy(metaFile(Paths.get(srcDir)), metaFile(dstDir))
        val sp = partsFile(Paths.get(srcDir))
        if (Files.isRegularFile(sp)) { Files.copy(sp, partsFile(dstDir)); () }
        Snapshots.branchTable(srcDir, Prefix, dstDir.toString, Prefix)
      }
      case "fast_forward" => proc("fast_forward",
        Seq(P("table", StringType), P("branch", StringType))) { in =>
        // publish: adopt the branch's commits iff the table hasn't
        // advanced past the fork (divergence refuses — MERGE instead)
        Snapshots.fastForward(rootOf(in.getString(0)), Prefix,
          rootOf(in.getString(1)), Prefix)
      }
      case "detail" => new UnboundProcedure {
        override def name(): String = "detail"
        override def description(): String =
          "graft table detail: current version, files, bytes, DVs, partitioning (DESCRIBE DETAIL)"
        override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
          override def name(): String = "detail"
          override def description(): String = "graft table detail"
          override def parameters(): Array[ProcedureParameter] =
            Array(P("table", StringType))
          override def isDeterministic: Boolean = false
          override def call(input: InternalRow): util.Iterator[Scan] = {
            val root = rootOf(input.getString(0))
            // metadata-only: size from the manifest's live file list —
            // no data file opened at any table size
            val snap = Snapshots.snapshot(root, Prefix, None)
            val base = Paths.get(graft.ingest.Topics.tableDir(root, Prefix))
            val row = snap match {
              case Some(sn) =>
                val bytes = sn.files.map(f =>
                  try Files.size(base.resolve(f)) catch { case _: Exception => 0L }).sum
                new GenericInternalRow(Array[Any](sn.version, sn.files.size,
                  bytes, sn.dv.size,
                  UTF8String.fromString(declaredParts(Paths.get(root)).mkString(","))))
              case None => // created-empty table: DDL exists, no commits yet
                new GenericInternalRow(Array[Any](-1, 0, 0L, 0,
                  UTF8String.fromString(declaredParts(Paths.get(root)).mkString(","))))
            }
            util.List.of[Scan](new LocalScan {
              override def readSchema(): StructType = DetailSchema
              override def rows(): Array[InternalRow] = Array[InternalRow](row)
            }).iterator()
          }
        }
      }
      case "history" => new UnboundProcedure {
        override def name(): String = "history"
        override def description(): String =
          "graft table history: one row per committed version (DESCRIBE HISTORY)"
        override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
          override def name(): String = "history"
          override def description(): String = "graft table history"
          override def parameters(): Array[ProcedureParameter] =
            Array(P("table", StringType))
          override def isDeterministic: Boolean = false
          override def call(input: InternalRow): util.Iterator[Scan] = {
            val root = rootOf(input.getString(0))
            // NOT named `rows`: inside the LocalScan the member would
            // shadow it and `= rows` becomes an infinite self-call
            val hist = Snapshots.versions(root, Prefix).sorted.map { v =>
              val s = Snapshots.snapshot(root, Prefix, Some(v)).get
              new GenericInternalRow(Array[Any](v,
                UTF8String.fromString(s.op), s.files.size, s.removed.size))
            }.toArray[InternalRow]
            util.List.of[Scan](new LocalScan {
              override def readSchema(): StructType = HistorySchema
              override def rows(): Array[InternalRow] = hist
            }).iterator()
          }
        }
      }
    }
  }
}

object GraftCatalog {
  /** Every catalog table uses one fixed snapshot prefix inside its own
    * directory — the directory IS the table identity. */
  private[sources] val Prefix = "t"

  private val SystemNs = "system"
  private val ProcedureNames =
    Array("compact", "zorder", "vacuum", "restore", "tag", "backfill_stats",
      "history", "clone", "branch", "fast_forward", "detail")

  private val DetailSchema = StructType(Seq(
    StructField("version", IntegerType, nullable = false),
    StructField("num_files", IntegerType, nullable = false),
    StructField("size_bytes", LongType, nullable = false),
    StructField("num_dvs", IntegerType, nullable = false),
    StructField("partition_columns", StringType, nullable = false)))

  private val HistorySchema = StructType(Seq(
    StructField("version", IntegerType, nullable = false),
    StructField("op", StringType, nullable = false),
    StructField("n_files", IntegerType, nullable = false),
    StructField("n_removed", IntegerType, nullable = false)))

  private def P(n: String, t: DataType): ProcedureParameter =
    ProcedureParameter.in(n, t).build()

  private val OutSchema = StructType(Seq(StructField("version", IntegerType, nullable = false)))

  /** A one-result-row maintenance procedure: runs `body`, returns the
    * committed version as the CALL output. */
  private def proc(procName: String, params: Seq[ProcedureParameter])
                  (body: InternalRow => Int): UnboundProcedure =
    new UnboundProcedure {
      override def name(): String = procName
      override def description(): String = s"graft table maintenance: $procName"
      override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
        override def name(): String = procName
        override def description(): String = s"graft table maintenance: $procName"
        override def parameters(): Array[ProcedureParameter] = params.toArray
        override def isDeterministic: Boolean = false
        override def call(input: InternalRow): util.Iterator[Scan] = {
          val v = body(input)
          util.List.of[Scan](new LocalScan {
            override def readSchema(): StructType = OutSchema
            override def rows(): Array[InternalRow] =
              Array(new GenericInternalRow(Array[Any](v)))
          }).iterator()
        }
      }
    }

  private def rmTree(p: Path): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(p.toFile)
  }
}
