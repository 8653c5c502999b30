package graft.sources

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute,
  UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{Attribute,
  AttributeReference, AttributeSet, Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftbridge.{ColumnBridge, PlanBridge}
import org.apache.spark.sql.types.IntegerType

/** SQL DML statements over snapshot tables — the write half of the
  * SQL-native surface (the TVFs and `USING snapshot` views are the
  * read half):
  *
  * {{{
  *   DELETE FROM snapshot.`/tables/events` WHERE id = 7
  *   UPDATE t SET v = upper(v), qty = qty + 1 WHERE id = 7
  *   MERGE INTO t USING src s ON t.id = s.id
  *     WHEN MATCHED AND s.del THEN DELETE
  *     WHEN MATCHED THEN UPDATE SET v = s.v
  *     WHEN NOT MATCHED THEN INSERT *
  *   INSERT INTO snapshot.`/tables/events` SELECT ...
  * }}}
  *
  * How it lands (all analysis-time, injected by
  * [[graft.GraftExtensions]] via `injectResolutionRule`):
  *  - ``snapshot.`/path/``  — an [[UnresolvedRelation]] whose first
  *    identifier part is the format name and whose second contains a
  *    `/` (so a genuine catalog database named `snapshot` can never
  *    collide: catalog table names cannot contain slashes) resolves
  *    to the registered format's relation at the HEAD version. This
  *    also gives plain `SELECT ... FROM snapshot.`/path/`` for free,
  *    the Delta path-addressing shape.
  *  - Spark's parser already produces [[DeleteFromTable]]/
  *    [[UpdateTable]]/[[MergeIntoTable]]; for DSv1 relations the
  *    analyzer resolves their expressions and then CheckAnalysis
  *    would refuse ("only supported with v2 tables"). This rule
  *    intercepts the RESOLVED statement whose target unwraps to a
  *    [[SnapshotRelation]] and replaces it with a runnable command
  *    over the table verbs — `deleteWhere`/`updateWhere`/
  *    [[SnapshotMerge]] — so the derived metadata pruning
  *    (stats/blooms/null counts, source-key probes) is EXACTLY the
  *    table-API path's: a SQL point DELETE plans one candidate file.
  *
  *    Resolved attribute references are rewritten back to unresolved
  *    names (qualified by the statement's own target/source aliases
  *    for MERGE) because the verbs re-plan their scans from the fresh
  *    head — a captured exprId would not survive into the new plan.
  *  - CoW vs MoR: the table property `graft.dml.mode = mor` routes
  *    DELETE/UPDATE/MERGE to the deletion-vector (`mor = true`) path
  *    of their verbs; default is copy-on-write. One knob on the TABLE,
  *    not the statement, because the choice is a layout/ops decision
  *    (file size vs read amplification), not a per-query one.
  *
  * Time-travel targets (`versionAsOf` relations) refuse DML — the
  * past is immutable. Subqueries in conditions are refused loudly
  * (the verbs' single-table scan cannot host them).
  *
  * Reference contract: the reference's ingest dedup IS a SQL DELETE
  * (`/root/reference/run/ingestObsTasks.py:45-56` builds `DELETE FROM
  * drf WHERE instance_id = ...`); this rule gives its SQL-only
  * consumers the same verb against the lakehouse tables. */
object SnapshotDml {

  /** Table property selecting the DML commit path: `cow` (default) or
    * `mor` (deletion vectors + appended copies). */
  val DmlModeProp = "graft.dml.mode"

  def rule(spark: SparkSession): Rule[LogicalPlan] = new SnapshotDmlRule(spark)

  /** The path-addressing half, injected via `injectHintResolutionRule`
    * so it runs in the analyzer's HINTS batch — BEFORE the resolution
    * batch where Spark's own `ResolveSQLOnFile` would claim
    * ``snapshot.`…``` (the format IS a registered source name) and
    * refuse it as an unsupported direct-file query. */
  def pathRule(spark: SparkSession): Rule[LogicalPlan] =
    new SnapshotPathRule(spark)

  /** `CREATE TABLE ... USING snapshot PARTITIONED BY (...)` — injected
    * POST-HOC (the v1 create commands only exist after Spark's own
    * `DataSourceAnalysis` has run; custom post-hoc rules are appended
    * after the built-ins in the Once batch). Without this rule the
    * partitioning would be catalog-only metadata the table log never
    * learns — silently dropped layout intent. */
  def createLayoutRule(spark: SparkSession): Rule[LogicalPlan] =
    new SnapshotCreateLayoutRule(spark)

  /** Fold foldable subtrees of a RESOLVED expression down to bare
    * literals: analysis-time type coercion leaves literals wrapped in
    * casts (`id = cast(250 as bigint)`) that the derivePreds metadata
    * pruning would not see — folding restores the point-lookup prune
    * for SQL DML conditions. No-op on unresolved expressions
    * (`foldable` throws on unresolved nodes). */
  private[sources] def foldConsts(e: Expression): Expression =
    if (!e.resolved) e
    else e.transformUp {
      case x if x.foldable && x.deterministic &&
          !x.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Literal] =>
        org.apache.spark.sql.catalyst.expressions.Literal
          .create(x.eval(), x.dataType)
    }

  /** The table's `graft.dml.mode`: trimmed, case-insensitive `cow`
    * (the default when unset) or `mor`; anything else is refused. */
  private[sources] def morOf(t: SnapshotTable): Boolean =
    t.properties().get(DmlModeProp).map(_.trim.toLowerCase) match {
      case Some("mor") => true
      case Some("cow") | None => false
      case Some(other) => throw new IllegalArgumentException(
        s"$DmlModeProp must be 'cow' or 'mor', got '$other'")
    }
}

/** Path addressing: ``snapshot.`/path/to/table``` — an unresolved
  * two-part identifier whose first part is the format name and whose
  * second contains a `/` (a genuine catalog database named `snapshot`
  * can never collide: catalog table names cannot contain slashes)
  * resolves to the registered format's head relation. Runs in the
  * HINTS batch (see [[SnapshotDml.pathRule]]). */
final class SnapshotPathRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private def isSnapshotPath(u: UnresolvedRelation): Boolean =
    u.multipartIdentifier.length == 2 &&
      u.multipartIdentifier.head.equalsIgnoreCase("snapshot") &&
      u.multipartIdentifier(1).contains("/")

  private def resolvePath(u: UnresolvedRelation,
      versionAsOf: Option[String] = None,
      timestampAsOf: Option[String] = None): LogicalPlan = {
    val path = u.multipartIdentifier(1)
    var reader = spark.read.format("snapshot")
    versionAsOf.foreach(v => reader = reader.option("versionAsOf", v))
    timestampAsOf.foreach(t => reader = reader.option("timestampAsOf", t))
    SubqueryAlias(path, reader.load(path).queryExecution.analyzed)
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp {
      // INSERT's target is a FIELD, not a child (UnaryNode over the
      // query only) — tree transforms never visit it, so match the
      // statement itself
      case i: InsertIntoStatement =>
        i.table match {
          case u: UnresolvedRelation if isSnapshotPath(u) =>
            i.copy(table = resolvePath(u))
          case _ => i
        }
      // SQL time travel: SELECT ... FROM snapshot.`/p` VERSION AS OF 3
      // / TIMESTAMP AS OF '...' — maps onto the format's own options
      // (one shared timestamp parser, one resolution path)
      case org.apache.spark.sql.catalyst.analysis.RelationTimeTravel(
          u: UnresolvedRelation, ts, v) if isSnapshotPath(u) =>
        // the timestamp argument may be any evaluable expression
        // (`now() - INTERVAL 1 DAY`), still UNRESOLVED here (hints
        // batch) — evaluate it through a one-row plan (driver-local,
        // no job for literal shapes) and normalize to epoch millis
        val tsStr = ts.map { e =>
          require(!e.exists(_.isInstanceOf[SubqueryExpression]),
            "snapshot TIMESTAMP AS OF does not support subqueries")
          val row = PlanBridge.ofRows(spark, Project(Seq(
            org.apache.spark.sql.catalyst.expressions.Alias(e, "__ts")()),
            org.apache.spark.sql.catalyst.plans.logical.OneRowRelation()))
            .head()
          row.get(0) match {
            case null => throw new IllegalArgumentException(
              "snapshot TIMESTAMP AS OF evaluated to NULL: " + e.sql)
            case t: java.sql.Timestamp => t.getTime.toString
            case i: java.time.Instant => i.toEpochMilli.toString
            case other => other.toString // string/number forms reparse
          }
        }
        resolvePath(u, versionAsOf = v, timestampAsOf = tsStr)
      case u: UnresolvedRelation if isSnapshotPath(u) => resolvePath(u)
    }
}

/** Routes the PARTITIONED BY half of snapshot CREATE TABLE / CTAS into
  * the table log as the recorded range-clustering layout (see
  * [[SnapshotTable.PartitionColsProp]]); the original command still
  * runs for the catalog registration (and the CTAS data write, which
  * then clusters — the property lands FIRST). */
final class SnapshotCreateLayoutRule(spark: SparkSession)
    extends Rule[LogicalPlan] {

  private def isSnapshot(
      t: org.apache.spark.sql.catalyst.catalog.CatalogTable): Boolean =
    t.provider.exists(_.equalsIgnoreCase("snapshot"))

  private def rootOf(
      t: org.apache.spark.sql.catalyst.catalog.CatalogTable): Option[String] =
    t.storage.properties.get("path")
      .orElse(t.storage.locationUri.map(u =>
        new org.apache.hadoop.fs.Path(u).toString))
      // a MANAGED table (no LOCATION, no path option) carries neither
      // at rule time — its root is the catalog's default table path,
      // exactly what the create command will assign at run time.
      // Without this fallback PARTITIONED BY would be silently dropped
      // for `CREATE TABLE t (...) USING snapshot PARTITIONED BY (k)`,
      // the one shape this rule exists to prevent
      .orElse(Some(new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.defaultTablePath(t.identifier))
        .toString))

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp {
      case c: org.apache.spark.sql.execution.command
          .CreateDataSourceTableCommand
          if isSnapshot(c.table) && c.table.partitionColumnNames.nonEmpty &&
            rootOf(c.table).isDefined =>
        val explicit = c.table.storage.properties.contains("path") ||
          c.table.storage.locationUri.isDefined
        if (explicit)
          SnapshotCreateLayoutCommand(c, c.table.identifier,
            rootOf(c.table).get, c.table.partitionColumnNames,
            Some(c.table.schema))
        else {
          // MANAGED table: Spark validates the default location is
          // EMPTY before a managed create, so the layout cannot
          // pre-commit — the wrapper records it right AFTER the
          // delegate registers the table (the root is empty then by
          // construction, so no contradiction is possible). The
          // default path rides in as the provider's path option so
          // the create's relation-resolution probe can resolve (the
          // empty-relation declared-schema path).
          val root = rootOf(c.table).get
          val withPath = c.copy(table = c.table.copy(storage =
            c.table.storage.copy(properties =
              c.table.storage.properties + ("path" -> root))))
          SnapshotCreateLayoutCommand(withPath, c.table.identifier, root,
            c.table.partitionColumnNames, Some(c.table.schema),
            postCreate = true)
        }
      case c: org.apache.spark.sql.execution.command
          .CreateDataSourceTableAsSelectCommand
          if isSnapshot(c.table) && c.table.partitionColumnNames.nonEmpty &&
            !c.table.storage.properties.contains(
              org.apache.spark.sql.graftbridge
                .WriteBridge.PartitioningColumnsKey) =>
        // CTAS: a log pre-commit would trip Spark's non-empty-location
        // check, so route the partitioning the way DataFrameWriter
        // does — the encoded option — through the storage properties
        // the delegate hands the provider. The provider then clusters
        // the initial write AND records the layout property in the
        // SAME data commit (atomic; contradictions refuse there too).
        c.copy(table = c.table.copy(storage = c.table.storage.copy(
          properties = c.table.storage.properties +
            (org.apache.spark.sql.graftbridge
              .WriteBridge.PartitioningColumnsKey ->
              org.apache.spark.sql.graftbridge.WriteBridge
                .encodePartitioningColumns(c.table.partitionColumnNames)))))
    }
}

/** Wrapper command: land the PARTITIONED BY columns in the table log
  * (one metadata commit — with the declared schema when the table has
  * never been written, so it reads empty at the declared shape), then
  * run the original create. A declaration contradicting an existing
  * recorded layout refuses BEFORE either side commits. */
final case class SnapshotCreateLayoutCommand(
    delegate: org.apache.spark.sql.execution.command.RunnableCommand,
    id: org.apache.spark.sql.catalyst.TableIdentifier,
    root: String, partitionCols: Seq[String],
    declaredSchema: Option[org.apache.spark.sql.types.StructType],
    postCreate: Boolean = false)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = delegate.output
  override def run(session: SparkSession): Seq[Row] = {
    // MANAGED create (postCreate): delegate FIRST — it enforces the
    // empty-default-location contract and registers the table — then
    // record the layout on the fresh root (empty by construction:
    // recordLayout with the declared schema, nothing to contradict).
    // Existence snapshots BEFORE the delegate: IF NOT EXISTS on an
    // existing table must be a FULL no-op — the delegate returns
    // silently and the layout must not rewrite the live table's log
    if (postCreate) {
      val existed = session.sessionState.catalog.tableExists(id)
      val out = delegate.run(session)
      if (!existed) {
        val t = new SnapshotTable(session, root)
        t.recordLayout(partitionCols,
          declaredSchema.filter(_ => t.currentVersion == 0))
      }
      return out
    }
    // a name that already exists must fail/ignore exactly as Spark
    // would, with NO log side effects — delegate decides
    if (!session.sessionState.catalog.tableExists(id)) {
      val t = new SnapshotTable(session, root)
      val recorded = SnapshotTable.layoutColsOf(t.properties())
      require(recorded.isEmpty ||
        recorded.map(_.toLowerCase) == partitionCols.map(_.toLowerCase),
        s"snapshot table $root records partition layout " +
          s"(${recorded.mkString(", ")}) but CREATE TABLE declares " +
          s"(${partitionCols.mkString(", ")}) — change the layout via " +
          s"ALTER TABLE ... SET TBLPROPERTIES " +
          s"('${SnapshotTable.PartitionColsProp}' = '...') or drop " +
          "PARTITIONED BY to adopt the recorded one")
      if (recorded.isEmpty) {
        // adopting an EXISTING root: the columns must exist in the
        // recorded schema (the declared-schema case validates inside
        // recordLayout) — otherwise the layout would silently never
        // apply (applyLayout's present-filter is for old-shape
        // writers, not typos)
        t.schemaAt(None).filter(_ => t.currentVersion > 0).foreach { sch =>
          val missing = partitionCols.filterNot(c =>
            sch.fieldNames.exists(_.equalsIgnoreCase(c)))
          require(missing.isEmpty,
            s"PARTITIONED BY column(s) not in the table's recorded " +
              s"schema: ${missing.mkString(", ")} (table has " +
              s"${sch.fieldNames.mkString(", ")})")
        }
        t.recordLayout(partitionCols,
          declaredSchema.filter(_ => t.currentVersion == 0))
      }
    }
    delegate.run(session)
  }
}

final class SnapshotDmlRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp {
      case d @ DeleteFromTable(target, condition) if d.resolved =>
        snapshotOf(target) match {
          case Some(rel) =>
            val t = dmlTable(rel, "DELETE")
            SnapshotDeleteCommand(t,
              toCondColumn(condition, target.outputSet, "DELETE"))
          case None => d
        }

      case u @ UpdateTable(target, assignments, condition) if u.resolved =>
        snapshotOf(target) match {
          case Some(rel) =>
            val t = dmlTable(rel, "UPDATE")
            val set = assignments.map { a =>
              targetColName(a.key, "UPDATE") ->
                toCondColumn(a.value, target.outputSet, "UPDATE")
            }
            SnapshotUpdateCommand(t,
              condition.map(toCondColumn(_, target.outputSet, "UPDATE"))
                .getOrElse(lit(true)), set)
          case None => u
        }

      // ALTER TABLE on a snapshot CATALOG table: the v1 commands only
      // touch the metastore, so properties/columns set there would
      // silently never reach the table LOG (the read path's source of
      // truth). Route them to the table verbs as well — log first
      // (it validates and is authoritative), catalog copy second.
      case a @ org.apache.spark.sql.execution.command
          .AlterTableSetPropertiesCommand(id, props, false) =>
        catalogSnapshotRoot(id) match {
          case Some(root) =>
            SnapshotAlterCommand(a, root, set = props.toSeq, unset = Nil)
          case None => a
        }
      case a @ org.apache.spark.sql.execution.command
          .AlterTableUnsetPropertiesCommand(id, keys, ifExists, false) =>
        catalogSnapshotRoot(id) match {
          case Some(root) =>
            SnapshotAlterCommand(a, root, set = Nil, unset = keys,
              unsetIfExists = ifExists.asInstanceOf[Boolean])
          case None => a
        }
      case a @ org.apache.spark.sql.execution.command
          .AlterTableAddColumnsCommand(id, cols) =>
        catalogSnapshotRoot(id) match {
          case Some(root) => SnapshotAddColumnsCommand(id, root, cols)
          case None => a
        }
      // SHOW TBLPROPERTIES must read the table LOG: properties set
      // through the table API (setProperty/alterProperties on the
      // path, or by another session) never pass through this
      // session's metastore copy. Spark 4 keeps the V2 plan shape for
      // session-catalog tables (a ResolvedTable child), so match that.
      case s @ ShowTableProperties(
          r: org.apache.spark.sql.catalyst.analysis.ResolvedTable,
          key, out) =>
        val id = org.apache.spark.sql.catalyst.TableIdentifier(
          r.identifier.name, r.identifier.namespace.lastOption)
        catalogSnapshotRoot(id) match {
          case Some(root) =>
            SnapshotShowPropertiesCommand(root, key, out)
          case None => s
        }

      case m: MergeIntoTable if m.resolved =>
        snapshotOf(m.targetTable) match {
          case Some(rel) =>
            val t = dmlTable(rel, "MERGE")
            val tAlias = aliasOf(m.targetTable).getOrElse("__merge_target")
            val sAlias = aliasOf(m.sourceTable).getOrElse("__merge_source")
            require(tAlias != sAlias, "MERGE INTO: target and source " +
              s"resolve to the same alias '$tAlias' — alias one of them")
            val tOut = m.targetTable.outputSet
            val sOut = m.sourceTable.outputSet
            def conv(e: Expression, what: String): Column =
              toMergeColumn(e, tOut, tAlias, sOut, sAlias, what)
            // the analyzer expands SET */INSERT * over the TARGET's
            // pre-merge columns before this rule runs; under WITH
            // SCHEMA EVOLUTION the clause engine must re-expand over
            // the EVOLVED column set, so an expanded-star shape (every
            // target column assigned from its same-named source
            // attribute) converts back to a star clause. RECORDED
            // LIMITATION: post-expansion, a hand-written exhaustive
            // same-name assignment list is indistinguishable from a
            // star — under the (explicitly opted-in) evolution keyword
            // it therefore also populates the evolved columns from the
            // source; assign any column a non-identity expression to
            // keep the evolved columns NULL
            val tNames = m.targetTable.output.map(_.name.toLowerCase).toSet
            def expandedStar(as: Seq[Assignment]): Boolean =
              m.withSchemaEvolution && as.nonEmpty &&
                as.map(a => targetColName(a.key, "MERGE").toLowerCase)
                  .toSet == tNames &&
                as.forall { a =>
                  a.value match {
                    case ar: AttributeReference => sOut.contains(ar) &&
                      ar.name.equalsIgnoreCase(targetColName(a.key, "MERGE"))
                    case _ => false
                  }
                }
            def clauses(as: Seq[MergeAction],
                what: String): Seq[SnapshotMerge.Clause] = as.map {
              case ua: UpdateAction if expandedStar(ua.assignments) =>
                SnapshotMerge.Update(ua.condition.map(conv(_, what)), Nil)
              case ua: UpdateAction => SnapshotMerge.Update(
                ua.condition.map(conv(_, what)),
                ua.assignments.map(a => targetColName(a.key, what) ->
                  conv(a.value, what)))
              case us: UpdateStarAction =>
                SnapshotMerge.Update(us.condition.map(conv(_, what)), Nil)
              case da: DeleteAction =>
                SnapshotMerge.Delete(da.condition.map(conv(_, what)))
              case ia: InsertAction if expandedStar(ia.assignments) =>
                SnapshotMerge.Insert(ia.condition.map(conv(_, what)), Nil)
              case ia: InsertAction => SnapshotMerge.Insert(
                ia.condition.map(conv(_, what)),
                ia.assignments.map(a => targetColName(a.key, what) ->
                  conv(a.value, what)))
              case is: InsertStarAction =>
                SnapshotMerge.Insert(is.condition.map(conv(_, what)), Nil)
              case other => throw new IllegalArgumentException(
                s"MERGE INTO: unsupported $what action ${other.getClass.getSimpleName}")
            }
            SnapshotMergeCommand(t,
              PlanBridge.ofRows(spark, m.sourceTable),
              conv(m.mergeCondition, "ON"),
              clauses(m.matchedActions, "WHEN MATCHED"),
              clauses(m.notMatchedActions, "WHEN NOT MATCHED"),
              clauses(m.notMatchedBySourceActions,
                "WHEN NOT MATCHED BY SOURCE"),
              tAlias, sAlias, m.withSchemaEvolution,
              // the relation's resolved shape (recorded schema, or the
              // catalog-declared one for a not-yet-written table) —
              // what lets an initial-load MERGE into an empty CREATEd
              // table know the target columns
              declaredSchema = Some(rel.schema))
          case None => m
        }
    }

  /** The table root when `id` names a session-catalog table whose
    * provider is the snapshot format — the gate for ALTER routing.
    * Missing tables/providers return None (the original command then
    * errors or runs exactly as Spark would). */
  private def catalogSnapshotRoot(
      id: org.apache.spark.sql.catalyst.TableIdentifier): Option[String] =
    try {
      val meta = spark.sessionState.catalog.getTableMetadata(id)
      if (!meta.provider.exists(_.equalsIgnoreCase("snapshot"))) None
      else meta.storage.properties.get("path")
        .orElse(meta.storage.locationUri.map(u =>
          new org.apache.hadoop.fs.Path(u).toString))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The [[SnapshotRelation]] behind a DML target, unwrapping the
    * alias/view layers the analyzer adds. */
  private def snapshotOf(p: LogicalPlan): Option[SnapshotRelation] =
    p match {
      case SubqueryAlias(_, child) => snapshotOf(child)
      case v: View => snapshotOf(v.child)
      case l: LogicalRelation => l.relation match {
        case r: SnapshotRelation => Some(r)
        case _ => None
      }
      // DML on a [[SnapshotCatalog]] table (DELETE/UPDATE/MERGE over a
      // v2 relation): recover the SAME verbs through the v1-equivalent
      // relation — one DML engine for both addressing surfaces
      case r: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2Relation => r.table match {
        case t: SnapshotV2Table => Some(t.v1Relation)
        case _ => None
      }
      case _ => None
    }

  private def dmlTable(rel: SnapshotRelation, verb: String): SnapshotTable = {
    require(rel.pinnedVersion.isEmpty,
      s"$verb on a time-travel snapshot relation is not allowed " +
        s"(${rel.tableHandle.root} pinned at version " +
        s"${rel.pinnedVersion.get}); address the table head instead")
    rel.tableHandle
  }

  /** Outermost alias the statement gave the plan, if any — the name
    * its (unqualified-by-us) column references expect. */
  private def aliasOf(p: LogicalPlan): Option[String] = p match {
    case SubqueryAlias(id, _) => Some(id.name)
    case _ => None
  }

  /** A resolved single-table condition/value, rewritten to resolve
    * against the verb's FRESH scan: attribute references become plain
    * unresolved names (exprIds cannot cross plans). */
  private def toCondColumn(e: Expression, targetOut: AttributeSet,
      what: String): Column = {
    require(!e.exists(_.isInstanceOf[SubqueryExpression]),
      s"$what on snapshot tables does not support subqueries in " +
        "conditions or assignments")
    ColumnBridge.toColumn(SnapshotDml.foldConsts(e).transformUp {
      case a: AttributeReference if targetOut.contains(a) =>
        UnresolvedAttribute.quoted(a.name)
    })
  }

  /** The MERGE variant: target/source references re-qualify under the
    * clause engine's aliases, so same-named columns on the two sides
    * stay distinguishable in the rebuilt join. */
  private def toMergeColumn(e: Expression, tOut: AttributeSet,
      tAlias: String, sOut: AttributeSet, sAlias: String,
      what: String): Column = {
    require(!e.exists(_.isInstanceOf[SubqueryExpression]),
      s"MERGE INTO ($what) on snapshot tables does not support subqueries")
    ColumnBridge.toColumn(SnapshotDml.foldConsts(e).transformUp {
      case a: AttributeReference if tOut.contains(a) =>
        UnresolvedAttribute(Seq(tAlias, a.name))
      case a: AttributeReference if sOut.contains(a) =>
        UnresolvedAttribute(Seq(sAlias, a.name))
    })
  }

  /** Assignment KEY: must be a plain (resolved or not) target column —
    * nested-field assignment is not supported. */
  private def targetColName(k: Expression, what: String): String = k match {
    case a: AttributeReference => a.name
    case u: UnresolvedAttribute => u.nameParts.last
    case other => throw new IllegalArgumentException(
      s"$what: assignment target must be a plain column, got ${other.sql}")
  }
}

/** `ALTER TABLE <snapshot catalog table> SET/UNSET TBLPROPERTIES` —
  * the properties land in the table LOG (the read path's source of
  * truth: stat/bloom defaults, `graft.dml.mode`, retention knobs live
  * there) and then the original command keeps the metastore copy in
  * sync. CHECK-constraint keys refuse: they need the validating
  * [[SnapshotTable.addCheckConstraint]] path, not a raw property
  * write. */
final case class SnapshotAlterCommand(
    delegate: org.apache.spark.sql.execution.command.RunnableCommand,
    root: String, set: Seq[(String, String)], unset: Seq[String],
    unsetIfExists: Boolean = true)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil
  override def run(session: SparkSession): Seq[Row] = {
    val bad = (set.map(_._1) ++ unset).filter(
      _.startsWith(SnapshotTable.ConstraintPrefix))
    require(bad.isEmpty,
      s"ALTER TABLE cannot write constraint properties directly " +
        s"(${bad.mkString(", ")}); use addCheckConstraint/dropConstraint " +
        "so the expression is validated against the live rows")
    val t = new SnapshotTable(session, root)
    // every refusal that CAN fire (missing unset keys without IF
    // EXISTS — the delegate's contract) fires BEFORE the first log
    // commit, so a refused statement leaves no phantom version behind
    if (unset.nonEmpty && !unsetIfExists) {
      val have = t.properties()
      val missing = unset.filterNot(have.contains)
      require(missing.isEmpty,
        s"UNSET TBLPROPERTIES: key(s) not found: ${missing.mkString(", ")} " +
          "(use IF EXISTS to ignore)")
    }
    // ONE log commit for the whole statement (alterProperties): a
    // mid-list failure can never leave the statement half-applied,
    // and one ALTER = one version in the history
    t.alterProperties(set, unset)
    delegate.run(session)
  }
}

/** `ALTER TABLE <snapshot catalog table> ADD COLUMNS` — the widened
  * schema lands in the table log as a metadata-only commit
  * ([[SnapshotTable.addColumns]]: old files null-fill, the type gate
  * and duplicate checks apply) and the metastore copy follows via a
  * direct catalog schema update (Spark's own v1 command whitelists
  * only its file sources, so it cannot be delegated to). */
final case class SnapshotAddColumnsCommand(
    id: org.apache.spark.sql.catalyst.TableIdentifier,
    root: String,
    cols: Seq[org.apache.spark.sql.types.StructField])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil
  override def run(session: SparkSession): Seq[Row] = {
    new SnapshotTable(session, root).addColumns(cols)
    val catalog = session.sessionState.catalog
    val meta = catalog.getTableMetadata(id)
    catalog.alterTableDataSchema(id,
      org.apache.spark.sql.types.StructType(
        meta.dataSchema.fields ++ cols.map(_.copy(nullable = true))))
    catalog.refreshTable(id)
    Nil
  }
}

/** `SHOW TBLPROPERTIES <snapshot catalog table> [('key')]` — serves
  * the LOG's replayed properties (the source of truth every verb
  * reads) instead of the metastore copy, which only sees properties
  * that flowed through THIS session's ALTER statements. Output shape
  * is Spark's own (key+value rows, or value-only under a key probe —
  * the original command's resolved output attributes decide). */
final case class SnapshotShowPropertiesCommand(root: String,
    propertyKey: Option[String], override val output: Seq[Attribute])
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val props = new SnapshotTable(session, root).properties()
    propertyKey match {
      case Some(k) =>
        val v = props.getOrElse(k,
          s"Table $root does not have property: $k")
        if (output.size == 1) Seq(Row(v)) else Seq(Row(k, v))
      case None =>
        props.toSeq.sortBy(_._1).map { case (k, v) => Row(k, v) }
    }
  }
}

/** `DELETE FROM <snapshot table> WHERE ...` — runs
  * [[SnapshotTable.deleteWhere]] (merge-on-read per the
  * `graft.dml.mode` property) and returns the committed version
  * (0 = nothing matched, no commit). */
final case class SnapshotDeleteCommand(table: SnapshotTable, cond: Column)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    Seq(Row(table.deleteWhere(cond, mor = SnapshotDml.morOf(table))))
  }
}

/** `UPDATE <snapshot table> SET ... [WHERE ...]` — runs
  * [[SnapshotTable.updateWhere]] (merge-on-read per the property). */
final case class SnapshotUpdateCommand(table: SnapshotTable, cond: Column,
    set: Seq[(String, Column)]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    Seq(Row(table.updateWhere(cond, set, mor = SnapshotDml.morOf(table))))
  }
}

/** `MERGE INTO <snapshot table> USING ... ON ... WHEN ...` — runs
  * [[SnapshotTable.mergeInto]] (copy-on-write, or merge-on-read per the
  * property). */
final case class SnapshotMergeCommand(table: SnapshotTable,
    source: org.apache.spark.sql.DataFrame, cond: Column,
    matched: Seq[SnapshotMerge.Clause],
    notMatched: Seq[SnapshotMerge.Clause],
    notMatchedBySource: Seq[SnapshotMerge.Clause],
    targetAlias: String, sourceAlias: String,
    schemaEvolution: Boolean,
    declaredSchema: Option[org.apache.spark.sql.types.StructType] = None)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    Seq(Row(table.mergeInto(source, cond, matched, notMatched,
      notMatchedBySource, targetAlias, sourceAlias, Nil, Nil, 0.01,
      schemaEvolution, declaredSchema, mor = SnapshotDml.morOf(table))))
  }
}
