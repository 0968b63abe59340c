package graft.sources

import org.apache.spark.sql.{Column, GraftStreamingShim, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.EliminateSubqueryAliases
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, AttributeSet, CreateNamedStruct, EqualTo, Expression, GetStructField, Literal, OuterReference, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.StructType

import graft.ingest.Snapshots

/** SQL row-level DML on graft tables: `UPDATE t SET … WHERE …`, the
  * full three-clause `MERGE INTO` and `DELETE … WHERE … (SELECT …)` —
  * the Delta-style route. Spark's own analyzer resolves `UpdateTable`
  * / `MergeIntoTable` / `DeleteFromTable` (references, star-expansion,
  * type coercion, subqueries) but only REWRITES them for tables
  * implementing `SupportsRowLevelOperations`; for anything else the
  * nodes reach the planner and throw. This post-hoc resolution rule
  * (installed by [[graft.GraftExtensions]]) intercepts the resolved
  * nodes over graft tables and lowers them to commands that run the
  * copy-on-write primitives ([[Snapshots.updateWhere]] /
  * [[Snapshots.mergeInto]]) and the merge-on-read
  * [[Snapshots.deleteMoR]] — the exact interception point Delta used
  * for years before row-level operations existed.
  *
  * Rebinding contract: each command carries the analyzer's node as a
  * plan field, the way MERGE carries its source (a subquery-bearing
  * expression cannot sit in a command's `expressions`, where analyzer
  * checks and optimizer rules would rewrite it). At run time the
  * resolved expressions cross to the primitive as columns, and the
  * primitive rebinds them onto the frame it re-reads
  * ([[Snapshots.rebound]]): each attribute the frame does not produce
  * (by exprId) becomes the frame attribute of the same name, at top
  * level and as an outer reference inside subquery plans. MERGE source
  * attributes move into the [[Snapshots.SrcColPrefix]] namespace first,
  * since both sides of a merge may share column names (`t.id` vs
  * `s.id`). Nothing is re-parsed: lambdas, TRY-mode arithmetic,
  * collations and replacement-rendered functions evaluate exactly as
  * analyzed, and a column a subquery reads from its own plan is never
  * captured by a target column's name. Spark's optimizer then plans
  * each subquery against the re-read frame — `IN (SELECT …)` and
  * equality-correlated EXISTS / IN / scalar aggregates decorrelate into
  * distributed joins, so a billion-key `DELETE … WHERE k IN (SELECT
  * bad_keys …)` never collects to the driver. One refusal remains, a
  * cost policy ([[checkCorrelation]]).
  *
  * Scale: both commands rewrite only the files that contain affected
  * rows (manifest-attributed, like DELETE) — a 10-row UPDATE against a
  * 100 TB table rewrites a handful of files; WHEN NOT MATCHED BY
  * SOURCE is the one clause that must see every target row and widens
  * the rewrite accordingly. */
object GraftDml extends Rule[LogicalPlan] {

  private def graftTable(plan: LogicalPlan): Option[GraftTable] =
    EliminateSubqueryAliases(plan) match {
      case r: DataSourceV2Relation => r.table match {
        case t: GraftTable if t.pinnedVersion.isEmpty => Some(t)
        case _ => None
      }
      case _ => None
    }

  private def refuseCorrelated(): Nothing =
    throw new UnsupportedOperationException(
      "graft DML: correlated or nested subqueries in UPDATE/MERGE/DELETE " +
        "conditions or values are not supported beyond the " +
        "equality-correlated forms — supported alternatives: " +
        "uncorrelated IN (SELECT ...), uncorrelated EXISTS (SELECT ...), " +
        "uncorrelated scalar (SELECT ...) values, equality-correlated " +
        "scalar aggregates like (SELECT max(x) FROM s WHERE s.k = t.k), " +
        "equality-correlated EXISTS / NOT EXISTS and IN / NOT IN of the " +
        "same shape — each optionally carrying extra non-equality " +
        "correlated conjuncts (s.ts > t.ts) alongside at least one " +
        "equality — or MERGE INTO with the per-row logic joined in the " +
        "source")

  private def conjunctsOf(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjunctsOf(l) ++ conjunctsOf(r)
    case other => Seq(other)
  }

  private def hasOuter(e: Expression): Boolean = e.exists(_.isInstanceOf[OuterReference])

  /** The one refusal, a cost policy rather than a limit of the
    * lowering: every correlated subquery (nested ones too) must carry
    * at least one `inner = outer` equality conjunct in its filters, so
    * Spark's decorrelation gets a hash-joinable key — a purely
    * non-equi correlation decorrelates into a nested-loop join against
    * the re-read table, the 100 TB hazard. A nondeterministic
    * correlated conjunct (`rand() < s.p + t.x`) is refused too: where
    * and how often decorrelation evaluates it is not the row-by-row
    * semantics the statement states. */
  private def checkCorrelation(e: Expression): Unit = e.foreach {
    case s: SubqueryExpression =>
      val correlated = s.plan.collect {
        case f: Filter => conjunctsOf(f.condition).filter(hasOuter)
      }.flatten
      def equi(c: Expression): Boolean = c match {
        case EqualTo(l, r) =>
          (hasOuter(r) && !hasOuter(l) && r.references.isEmpty) ||
            (hasOuter(l) && !hasOuter(r) && l.references.isEmpty)
        case _ => false
      }
      if (s.getOuterAttrs.nonEmpty &&
          (!correlated.exists(equi) || !correlated.forall(_.deterministic)))
        refuseCorrelated()
      s.plan.foreach(_.expressions.foreach(checkCorrelation))
    case _ => ()
  }

  private[sources] def keyName(key: Expression): String = key match {
    case a: AttributeReference => a.name
    case other => throw new UnsupportedOperationException(
      s"graft DML: only top-level column assignment is supported, got ${other.sql}")
  }

  /** Assignment key → column path: `s.a.b` resolves to nested
    * GetStructField extractions over the column attribute. Arrays and
    * maps are not assignable sub-paths. Field names are canonicalized
    * through the ordinal, NOT `extractFieldName` — the analyzer
    * resolves `SET ST.A = …` case-insensitively but extractFieldName
    * returns the user's typed casing, which would then miss the
    * schema's `a` in [[lowerAssignments]]. */
  private[sources] def keyPath(key: Expression): Seq[String] = key match {
    case a: AttributeReference => Seq(a.name)
    case g: GetStructField => g.child.dataType match {
      case st: StructType => keyPath(g.child) :+ st(g.ordinal).name
      case other => throw new UnsupportedOperationException(
        s"graft DML: cannot assign into ${other.simpleString} at ${g.sql}")
    }
    case other => throw new UnsupportedOperationException(
      s"graft DML: unsupported assignment target ${other.sql} — " +
        "only columns and struct fields are assignable")
  }

  /** Nested assignments lowered to TOP-LEVEL ones: every sub-path set
    * on a struct column becomes one `CreateNamedStruct` value over the
    * PRE-image (unassigned fields copy through as `GetStructField`s of
    * the old value), so the primitives' simultaneous-assignment
    * contract is untouched — all lowered values still evaluate against
    * the old row in one select. Assigning a field of a NULL struct
    * yields a NON-null struct with the other fields null (Delta's
    * nested-update semantics — the field extraction on the null parent
    * is null). Conflicts (a path and its prefix both assigned, or one
    * path assigned twice) are refused, matching the SQL standard's
    * ambiguity rule. */
  private[sources] def lowerAssignments(assigns: Seq[(Seq[String], Expression)],
                                        target: Seq[Attribute]): Seq[(String, Expression)] = {
    def conflicting(path: String) = new UnsupportedOperationException(
      s"graft DML: conflicting assignments to '$path' and its sub-fields")
    def build(parent: Expression, path: String, st: StructType,
              subs: Seq[(Seq[String], Expression)]): Expression = {
      val byHead = subs.groupBy(_._1.head)
      byHead.keys.foreach { f =>
        if (!st.fieldNames.contains(f)) throw new UnsupportedOperationException(
          s"graft DML: no field '$f' under $path")
      }
      CreateNamedStruct(st.fields.toSeq.zipWithIndex.flatMap { case (f, i) =>
        val self = GetStructField(parent, i, Some(f.name))
        val value = byHead.get(f.name) match {
          case None => self
          case Some(Seq((p, v))) if p.length == 1 => v
          case Some(list) =>
            if (list.exists(_._1.length == 1)) throw conflicting(s"$path.${f.name}")
            f.dataType match {
              case inner: StructType =>
                build(self, s"$path.${f.name}", inner, list.map { case (p, v) => (p.tail, v) })
              case other => throw new UnsupportedOperationException(
                s"graft DML: cannot assign into ${other.simpleString} at $path.${f.name}")
            }
        }
        Seq(Literal(f.name), value)
      })
    }
    assigns.groupBy(_._1.head).toSeq.map {
      case (col, Seq((path, v))) if path.length == 1 => (col, v)
      case (col, list) =>
        if (list.exists(_._1.length == 1)) throw conflicting(col)
        target.find(_.name == col) match {
          case Some(a) => a.dataType match {
            case st: StructType =>
              (col, build(a, col, st, list.map { case (p, v) => (p.tail, v) }))
            case other => throw new UnsupportedOperationException(
              s"graft DML: cannot assign into ${other.simpleString} column '$col'")
          }
          case None => throw new UnsupportedOperationException(
            s"graft DML: unknown column '$col'")
        }
    }
  }

  /** Equi conjuncts (t.c = s.c2) of a merge condition as (targetCol,
    * sourceCol-in-the-src-namespace) pairs: they feed the primitive's
    * stage-1 manifest pruning — a small MERGE against a huge table
    * attributes against stat-bounded candidate files only. */
  private[sources] def equiKeys(cond: Expression, srcAttrs: AttributeSet): Seq[(String, String)] =
    conjunctsOf(cond).collect {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if !srcAttrs.contains(a) && srcAttrs.contains(b) =>
        (a.name, Snapshots.SrcColPrefix + b.name)
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if srcAttrs.contains(a) && !srcAttrs.contains(b) =>
        (b.name, Snapshots.SrcColPrefix + a.name)
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case u: UpdateTable if u.resolved =>
      graftTable(u.table).fold[LogicalPlan](u) { t =>
        u.expressions.foreach(checkCorrelation)
        GraftUpdateCommand(t.root, t.prefix, u)
      }

    // `DELETE FROM t WHERE k IN (SELECT …)`: the native SupportsDelete
    // path needs the condition as V1 filters, which a subquery can
    // never be — intercept ONLY those deletes (plain ones keep the
    // metadata-only MoR route) and lower to the same deleteMoR.
    case d @ DeleteFromTable(table, condition)
        if d.resolved && SubqueryExpression.hasSubquery(condition) =>
      graftTable(table).fold[LogicalPlan](d) { t =>
        checkCorrelation(condition)
        GraftDeleteCommand(t.root, t.prefix, d)
      }

    // WITH SCHEMA EVOLUTION needs no handling here: GraftTable declares
    // AUTOMATIC_SCHEMA_EVOLUTION, so the analyzer's own
    // ResolveMergeIntoSchemaEvolution has ALREADY routed the new source
    // columns through the catalog's alterTable (a metadata-only
    // addColumn commit) and re-loaded the relation by the time this
    // node is resolved — the target schema the command sees is the
    // evolved one.
    case m: MergeIntoTable if m.resolved =>
      graftTable(m.targetTable).fold[LogicalPlan](m) { t =>
        val dupSrc = m.sourceTable.output.groupBy(_.name).filter(_._2.size > 1).keys
        if (dupSrc.nonEmpty) throw new UnsupportedOperationException(
          s"graft MERGE: duplicate source column name(s): ${dupSrc.mkString(", ")}")
        m.expressions.foreach(checkCorrelation)
        GraftMergeCommand(t.root, t.prefix, m)
      }
  }
}

/** `UPDATE t SET c = v, … WHERE p` lowered to the copy-on-write
  * [[Snapshots.updateWhere]] — only files containing matched rows are
  * rewritten; simultaneous-assignment semantics; pre/post images on
  * the change feed. */
case class GraftUpdateCommand(root: String, prefix: String, update: UpdateTable)
  extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(update)
  override def run(spark: SparkSession): Seq[Row] = {
    val cond = update.condition.getOrElse(Literal.TrueLiteral)
    val sets = GraftDml.lowerAssignments(
      update.assignments.map(a => (GraftDml.keyPath(a.key), a.value)), update.table.output)
    Snapshots.updateWhere(spark, root, prefix, GraftStreamingShim.column(cond),
      sets.map { case (c, v) => (c, GraftStreamingShim.column(v)) },
      ranges = Snapshots.statRanges(cond))
    Seq.empty
  }
}

/** `DELETE FROM t WHERE … (SELECT …) …` — the subquery-bearing delete
  * the native SupportsDelete filter path can't express, lowered to the
  * same merge-on-read [[Snapshots.deleteMoR]] with the subquery
  * planned as a distributed join against the re-read files. */
case class GraftDeleteCommand(root: String, prefix: String, delete: DeleteFromTable)
  extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(delete)
  override def run(spark: SparkSession): Seq[Row] = {
    Snapshots.deleteMoR(spark, root, prefix, GraftStreamingShim.column(delete.condition),
      ranges = Snapshots.statRanges(delete.condition))
    Seq.empty
  }
}

/** `MERGE INTO t USING s ON cond WHEN …` lowered to
  * [[Snapshots.mergeInto]]. The source rides as its resolved logical
  * plan and is evaluated (renamed into the `_graft_src_` namespace) at
  * run time — Delta's MergeIntoCommand shape. */
case class GraftMergeCommand(root: String, prefix: String, merge: MergeIntoTable)
  extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(merge)
  override def run(spark: SparkSession): Seq[Row] = {
    val source = merge.sourceTable
    val srcAttrs = AttributeSet(source.output)
    // source attributes keep their exprIds under their namespaced
    // names; the primitive rebinds them onto its source frame by name
    def column(e: Expression): Column = GraftStreamingShim.column(
      Snapshots.replaceAttributes(e, srcAttrs, a => a.withName(Snapshots.SrcColPrefix + a.name)))
    val target = merge.targetTable.output
    def clause(a: MergeAction): Snapshots.MergeClause = a match {
      case UpdateAction(c, assigns, _) => Snapshots.MergeClause(c.map(column),
        Some(GraftDml.lowerAssignments(
          assigns.map(asn => (GraftDml.keyPath(asn.key), asn.value)), target)
          .map { case (k, v) => (k, column(v)) }))
      case DeleteAction(c) => Snapshots.MergeClause(c.map(column), None)
      case InsertAction(c, assigns) => Snapshots.MergeClause(c.map(column),
        Some(assigns.map(asn => (GraftDml.keyName(asn.key), column(asn.value)))))
      case other => throw new UnsupportedOperationException(
        s"graft MERGE: unsupported action ${other.getClass.getSimpleName}")
    }
    val src = GraftStreamingShim.ofRows(spark, Project(
      source.output.map(a => Alias(a, Snapshots.SrcColPrefix + a.name)()), source))
    Snapshots.mergeInto(spark, root, prefix, src, column(merge.mergeCondition),
      merge.matchedActions.map(clause),
      merge.notMatchedActions.map(clause),
      merge.notMatchedBySourceActions.map(clause),
      EliminateSubqueryAliases(merge.targetTable).schema,
      equiKeys = GraftDml.equiKeys(merge.mergeCondition, srcAttrs))
    Seq.empty
  }
}
