package graft.sources

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute,
  AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{IntegerType, LongType, StructType}

/** SQL MAINTENANCE statements for snapshot tables — the last surface a
  * SQL-only operator needs (reads: TVFs/`USING snapshot`; writes: the
  * DML rules; this: the OPTIMIZE/VACUUM/RESTORE lifecycle), parsed by
  * a DELEGATING parser (the Delta-parser shape, injected via
  * `injectParser`):
  *
  * {{{
  *   OPTIMIZE snapshot.`/tables/events`                        -- bin-pack
  *   OPTIMIZE events ZORDER BY (station_id, ts)                -- + cluster
  *   OPTIMIZE events TARGET SIZE 268435456                     -- bytes knob
  *   VACUUM events RETAIN 50 VERSIONS                          -- reclaim
  *   VACUUM snapshot.`/p` RETAIN 50 VERSIONS DRY RUN           -- preflight
  *   RESTORE events TO VERSION AS OF 7
  *   RESTORE events TO TIMESTAMP AS OF '2026-08-01T00:00:00'
  *   COPY INTO events FROM '/drop/zone' FILEFORMAT = CSV
  *     PATTERN = '*.csv' FORMAT_OPTIONS ('header' = 'true')  -- exactly-once
  * }}}
  *
  * The target is ``snapshot.`/path/``, a bare `` `/path/` ``, or a
  * session-catalog table name (resolved at RUN time through the same
  * [[SnapshotTvfs.resolveRoot]] the TVFs use). Every statement routes
  * to the table verbs, so semantics/pruning/conflict behavior are
  * exactly the API's: OPTIMIZE is [[SnapshotTable.compactSmall]]
  * (rewrites ONLY the small-file tail — the maintenance shape that
  * survives 100 TB; z-order re-clusters the rewritten tail), VACUUM is
  * [[SnapshotTable.vacuum]] keyed by a version floor (`RETAIN n
  * VERSIONS` keeps the newest n; default 20 — never less than the
  * head), RESTORE is [[SnapshotTable.restore]] (a new metadata-only
  * commit; history is preserved, not rewritten).
  *
  * Parsing is intercept-or-delegate: anything not starting with one of
  * the statement keywords goes to Spark's parser untouched (one cheap
  * prefix probe per statement), and a keyword statement that does NOT
  * match the grammar falls through to Spark so its native error
  * surfaces. All non-plan parser entry points delegate verbatim. */
final class GraftSqlParser(delegate: ParserInterface)
    extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan =
    GraftSqlParser.parseMaintenance(sqlText, delegate)
      .getOrElse(delegate.parsePlan(sqlText))

  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

object GraftSqlParser {

  /** Default `VACUUM` retention when `RETAIN n VERSIONS` is omitted:
    * keep the newest 20 versions (one checkpoint interval) — aligned
    * with the Delta practice of a non-zero default retention so a
    * bare VACUUM can never strip time travel entirely. */
  val DefaultRetainVersions = 20

  // target: snapshot.`/p` | `/p` | name (possibly db.name)
  private val Target = """(?:snapshot\.`([^`]+)`|`([^`]+)`|([\w.]+))"""
  private val OptimizeRe =
    ("""(?is)^\s*OPTIMIZE\s+""" + Target +
      """(?:\s+ZORDER\s+BY\s*\(\s*([\w`,\s.]+?)\s*\))?""" +
      """(?:\s+TARGET\s+SIZE\s+(\d+))?\s*;?\s*$""").r
  private val VacuumRe =
    ("""(?is)^\s*VACUUM\s+""" + Target +
      """(?:\s+RETAIN\s+(\d+)\s+(VERSIONS?|HOURS?))?""" +
      """(?:\s+GRACE\s+(\d+)\s+SECONDS?)?(\s+DRY\s+RUN)?\s*;?\s*$""").r
  // DESCRIBE HISTORY / DESCRIBE DETAIL (the Delta spellings) — sugar
  // for the snapshot_history / snapshot_detail TVFs: the statement
  // parses INTO the TVF call, so output schema and semantics cannot
  // drift from the FROM-clause surface. Plain DESCRIBE <table> misses
  // this grammar and flows to Spark untouched.
  private val DescHistoryRe =
    ("""(?is)^\s*DESC(?:RIBE)?\s+HISTORY\s+""" + Target +
      """(?:\s+LIMIT\s+(\d+))?\s*;?\s*$""").r
  private val DescDetailRe =
    ("""(?is)^\s*DESC(?:RIBE)?\s+DETAIL\s+""" + Target + """\s*;?\s*$""").r
  private val RestoreRe =
    ("""(?is)^\s*RESTORE\s+(?:TABLE\s+)?""" + Target +
      """\s+TO\s+(?:VERSION\s+AS\s+OF\s+(\d+)|TIMESTAMP\s+AS\s+OF\s+'([^']+)')\s*;?\s*$""").r
  // ONLY the constraint forms of ALTER TABLE, and ONLY for
  // PATH-ADDRESSED targets: Spark 4.1 has its own ANSI constraint DDL,
  // so a catalog NAME must flow to Spark untouched (hijacking it would
  // shadow native constraints on non-snapshot tables — parse time has
  // no catalog to ask). Snapshot catalog tables take the path form or
  // the addCheckConstraint API/CLI. Everything else ALTER stays
  // Spark's (the resolution rules route SET TBLPROPERTIES /
  // ADD COLUMNS for snapshot catalog tables).
  private val PathTarget = """(?:snapshot\.`([^`]+)`|`(/[^`]*)`)"""
  private val AddConstraintRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + PathTarget +
      """\s+ADD\s+CONSTRAINT\s+(\w+)\s+CHECK\s*\((.+)\)\s*;?\s*$""").r
  private val DropConstraintRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + PathTarget +
      """\s+DROP\s+CONSTRAINT\s+(\w+)\s*;?\s*$""").r
  // INSERT INTO <target> REPLACE WHERE <cond> <query> — the Delta SQL
  // spelling of the targeted overwrite; the condition/query split is
  // found AT PARSE TIME by probing keyword boundaries through the
  // delegate (see splitInsertReplace), so subquery conditions work
  // and a malformed statement fails here with a grammar error
  private val InsertReplaceRe =
    ("""(?is)^\s*INSERT\s+INTO\s+""" + Target +
      """\s+REPLACE\s+WHERE\s+(.+)$""").r
  // CREATE TABLE <path-target> SHALLOW CLONE <source> [VERSION AS OF n
  // | TIMESTAMP AS OF '...'] — the Delta zero-copy fork spelling over
  // [[SnapshotTable.shallowCloneTo]]; the clone is path-addressed (a
  // fresh snapshot root), the source is any statement target (path or
  // catalog name). Plain CREATE TABLE misses this grammar and flows to
  // Spark untouched.
  private val ShallowCloneRe =
    ("""(?is)^\s*CREATE\s+TABLE\s+""" + PathTarget +
      """\s+SHALLOW\s+CLONE\s+""" + Target +
      """(?:\s+(?:VERSION\s+AS\s+OF\s+(\d+)|TIMESTAMP\s+AS\s+OF\s+'([^']+)'))?\s*;?\s*$""").r
  // COPY INTO <target> FROM '<src>' FILEFORMAT = CSV|PARQUET|JSON
  // [PATTERN = '<glob>'] [FORMAT_OPTIONS ('k'='v',...)]
  // [COPY_OPTIONS ('force'='true','lookbackDays'='31')] — idempotent
  // batch file loading over [[SnapshotCopyInto.copyInto]] (the
  // file-identity ledger rides the data commit; see that scaladoc)
  private val CopyIntoRe =
    ("""(?is)^\s*COPY\s+INTO\s+""" + Target +
      """\s+FROM\s+'([^']+)'""" +
      """\s+FILEFORMAT\s*=\s*(\w+)""" +
      """(?:\s+PATTERN\s*=\s*'([^']+)')?""" +
      """(?:\s+FORMAT_OPTIONS\s*\(([^)]*)\))?""" +
      """(?:\s+COPY_OPTIONS\s*\(([^)]*)\))?\s*;?\s*$""").r

  private val Keyword =
    """(?is)^\s*(OPTIMIZE|VACUUM|RESTORE|ALTER|DESC|DESCRIBE|INSERT|CREATE|COPY)\b.*""".r

  private def tgt(g1: String, g2: String, g3: String): String =
    Option(g1).orElse(Option(g2)).orElse(Option(g3)).get

  /** `'k' = 'v', ...` option-list body → map (keys verbatim —
    * DataFrameReader options are case-insensitive anyway). */
  private def optPairs(body: String): Map[String, String] =
    if (body == null) Map.empty
    else """'([^']*)'\s*=\s*'([^']*)'""".r.findAllMatchIn(body)
      .map(m => m.group(1) -> m.group(2)).toMap

  /** Split REPLACE WHERE's `<cond> <query>` tail at the FIRST query-
    * keyword boundary where the prefix parses as an expression AND the
    * remainder parses as a plan — both via the DELEGATE, at parse
    * time, so a malformed statement fails here with the grammar's own
    * error instead of a confusing mid-expression failure at run time.
    * Scanning boundaries left to right makes subquery conditions work:
    * in `REPLACE WHERE k IN (SELECT ...) SELECT ...` the subquery's
    * own SELECT/FROM fail the expression probe and the splitter moves
    * on to the real query head. Probe count is bounded by the
    * statement's keyword occurrences (a DDL-rare statement). */
  private def splitInsertReplace(target: String, tail: String,
      delegate: ParserInterface): SnapshotInsertReplaceCommand = {
    val kw = """(?i)\b(?:SELECT|VALUES|WITH|TABLE|FROM)\b""".r
    val hit = kw.findAllMatchIn(tail).map(_.start).flatMap { at =>
      val c = tail.substring(0, at).trim
      val q = tail.substring(at).trim
      if (c.isEmpty) None
      else try {
        delegate.parseExpression(c)
        delegate.parsePlan(q)
        Some(SnapshotInsertReplaceCommand(target, c, q))
      } catch { case scala.util.control.NonFatal(_) => None }
    }.nextOption()
    hit.getOrElse(throw new IllegalArgumentException(
      s"INSERT INTO ... REPLACE WHERE on $target: could not split the " +
        "replace condition from the source query — the condition must " +
        "parse as an expression and be followed by a " +
        "SELECT/VALUES/WITH/TABLE/FROM query"))
  }

  private[sources] def parseMaintenance(sql: String,
      delegate: ParserInterface): Option[LogicalPlan] =
    try parseMaintenance0(sql, delegate)
    catch {
      // an out-of-range number in an otherwise-matching statement
      // falls through like any grammar miss, so Spark's own error
      // surfaces instead of a bare NumberFormatException
      case _: NumberFormatException => None
    }

  private def parseMaintenance0(sql: String,
      delegate: ParserInterface): Option[LogicalPlan] =
    sql match {
      case _ if !Keyword.matches(sql) => None // cheap reject: hot path
      case OptimizeRe(p1, p2, p3, zorder, target) =>
        Some(SnapshotOptimizeCommand(tgt(p1, p2, p3),
          Option(zorder).map(_.split(",").toSeq
            .map(_.trim.stripPrefix("`").stripSuffix("`"))
            .filter(_.nonEmpty)).getOrElse(Nil),
          Option(target).map(_.toLong)))
      case VacuumRe(p1, p2, p3, retain, unit, grace, dry) =>
        val hours = Option(unit).exists(_.toUpperCase.startsWith("HOUR"))
        Some(SnapshotVacuumCommand(tgt(p1, p2, p3),
          retainVersions =
            if (hours) DefaultRetainVersions
            else Option(retain).map(_.toInt).getOrElse(DefaultRetainVersions),
          retainHours =
            if (hours) Some(retain.toLong) else None,
          graceMs = Option(grace).map(_.toLong * 1000L),
          dryRun = dry != null))
      case DescHistoryRe(p1, p2, p3, limit) =>
        Some(org.apache.spark.sql.catalyst.analysis
          .UnresolvedTableValuedFunction("snapshot_history",
            Seq(org.apache.spark.sql.catalyst.expressions.Literal(
              tgt(p1, p2, p3)),
              org.apache.spark.sql.catalyst.expressions.Literal(
                Option(limit).map(_.toInt).getOrElse(Int.MaxValue)))))
      case DescDetailRe(p1, p2, p3) =>
        Some(org.apache.spark.sql.catalyst.analysis
          .UnresolvedTableValuedFunction("snapshot_detail",
            Seq(org.apache.spark.sql.catalyst.expressions.Literal(
              tgt(p1, p2, p3)))))
      case InsertReplaceRe(p1, p2, p3, tail) =>
        Some(splitInsertReplace(tgt(p1, p2, p3), tail, delegate))
      case CopyIntoRe(p1, p2, p3, src, fmt, pat, fmtOpts, copyOpts) =>
        Some(SnapshotCopyIntoCommand(tgt(p1, p2, p3), src, fmt,
          Option(pat), optPairs(fmtOpts),
          optPairs(copyOpts).map { case (k, v) => k.toLowerCase -> v }))
      case ShallowCloneRe(t1, t2, s1, s2, s3, v, ts) =>
        Some(SnapshotShallowCloneCommand(Option(t1).getOrElse(t2),
          tgt(s1, s2, s3), Option(v).map(_.toInt), Option(ts)))
      case RestoreRe(p1, p2, p3, v, ts) =>
        Some(SnapshotRestoreCommand(tgt(p1, p2, p3),
          Option(v).map(_.toInt), Option(ts)))
      case AddConstraintRe(p1, p2, name, check) =>
        Some(SnapshotConstraintCommand(Option(p1).getOrElse(p2), name,
          Some(check.trim)))
      case DropConstraintRe(p1, p2, name) =>
        Some(SnapshotConstraintCommand(Option(p1).getOrElse(p2), name, None))
      // a keyword statement that misses the grammar DELEGATES, so
      // Spark's own parse error (with its position info) surfaces
      case _ => None
    }
}

/** `OPTIMIZE` — size-aware bin-pack of the small-file tail, optional
  * Morton-curve re-cluster. Returns the committed version (0 =
  * already packed, nothing to do). */
final case class SnapshotOptimizeCommand(target: String,
    zorderCols: Seq[String], targetBytes: Option[Long])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val t = new SnapshotTable(session,
      SnapshotTvfs.resolveRoot(session, target))
    Seq(Row(t.compactSmall(targetBytes.getOrElse(128L << 20),
      zorderCols = zorderCols)))
  }
}

/** `VACUUM` — reclaim data files referenced by no snapshot at or above
  * the retention floor (newest `retainVersions` kept; clamped so the
  * head always survives). `RETAIN n HOURS` (the Delta idiom users
  * carry) resolves the wall-clock horizon to a version floor through
  * the same manifest-mtime binary search timestamp time travel uses
  * ([[SnapshotTable.versionAtOrStart]]): every version committed
  * within the window survives, PLUS the one current AT the horizon
  * (time travel to exactly `now - n hours` keeps working) — a horizon
  * predating the earliest resolvable version keeps everything.
  * `GRACE n SECONDS` overrides the in-flight
  * staging grace window (default 1 h — a just-unreferenced file may
  * belong to a commit about to publish; see [[SnapshotTable.vacuum]]).
  * Returns the number of data files deleted (or that WOULD be, under
  * `DRY RUN`). */
final case class SnapshotVacuumCommand(target: String,
    retainVersions: Int, graceMs: Option[Long],
    dryRun: Boolean, retainHours: Option[Long] = None)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("files_deleted", LongType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    require(retainVersions >= 1,
      s"VACUUM must retain at least 1 version, got $retainVersions")
    val t = new SnapshotTable(session,
      SnapshotTvfs.resolveRoot(session, target))
    val floor = retainHours match {
      case Some(h) =>
        val horizon = System.currentTimeMillis() - h * 3600000L
        // horizon older than the earliest resolvable version (or an
        // empty table): nothing is out of retention — keep everything
        try math.max(1, t.versionAtOrStart(horizon))
        catch { case _: IllegalArgumentException => 1 }
      case None => math.max(1, t.currentVersion - retainVersions + 1)
    }
    Seq(Row(t.vacuum(floor,
      stagingGraceMs = graceMs.getOrElse(3600000L),
      dryRun = dryRun).toLong))
  }
}

/** `ALTER TABLE ... ADD CONSTRAINT name CHECK (expr)` /
  * `DROP CONSTRAINT name` — routes to the VALIDATING constraint verbs
  * ([[SnapshotTable.addCheckConstraint]] scans the live rows before
  * recording; a violated constraint refuses and commits nothing).
  * `checkExpr = None` drops. Returns the committed version. */
final case class SnapshotConstraintCommand(target: String, name: String,
    checkExpr: Option[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val t = new SnapshotTable(session,
      SnapshotTvfs.resolveRoot(session, target))
    Seq(Row(checkExpr match {
      case Some(e) => t.addCheckConstraint(name, e)
      case None => t.dropConstraint(name)
    }))
  }
}

/** `INSERT INTO <snapshot table> REPLACE WHERE <cond> <query>` — the
  * Delta SQL spelling of the targeted overwrite, routed to
  * [[SnapshotTable.replaceWhere]] (merge-on-read per
  * `graft.dml.mode`): delete-matching + insert the query's rows, ONE
  * commit, inserted rows validated against the condition. The query
  * tail runs through the session's full SQL surface at execution
  * (subqueries, joins, TVFs all fine — it is an ordinary query). */
final case class SnapshotInsertReplaceCommand(target: String,
    condSql: String, querySql: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val t = new SnapshotTable(session,
      SnapshotTvfs.resolveRoot(session, target))
    val df = session.sql(querySql)
    val cond = org.apache.spark.sql.functions.expr(condSql)
    Seq(Row(t.replaceWhere(df, cond, mor = SnapshotDml.morOf(t))))
  }
}

/** `RESTORE ... TO VERSION/TIMESTAMP AS OF` — roll the head back as a
  * NEW metadata-only commit. Returns the committed version. */
final case class SnapshotRestoreCommand(target: String,
    version: Option[Int], timestamp: Option[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val t = new SnapshotTable(session,
      SnapshotTvfs.resolveRoot(session, target))
    val v = version.getOrElse(
      t.versionAt(SnapshotTable.parseTsMillis(timestamp.get)))
    Seq(Row(t.restore(v)))
  }
}

/** `CREATE TABLE <path> SHALLOW CLONE <source> [VERSION|TIMESTAMP AS
  * OF ...]` — zero-copy table fork at the cloned version (head by
  * default): ONE metadata commit referencing the source's live files,
  * schema/stats/properties carried, full divergence after (see
  * [[SnapshotTable.shallowCloneTo]]). Returns the clone's committed
  * version. */
final case class SnapshotShallowCloneCommand(targetPath: String,
    source: String, version: Option[Int], timestamp: Option[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val src = new SnapshotTable(session,
      SnapshotTvfs.resolveRoot(session, source))
    val v = timestamp
      .map(ts => src.versionAt(SnapshotTable.parseTsMillis(ts)))
      .orElse(version)
    Seq(Row(src.shallowCloneTo(targetPath, v)))
  }
}
