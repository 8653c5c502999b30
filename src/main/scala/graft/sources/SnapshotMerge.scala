package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference,
  EqualTo, Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Join, Project}
import org.apache.spark.sql.functions.{coalesce, col, count, lit, max, when}
import org.apache.spark.sql.graftbridge.{ColumnBridge, PlanBridge}
import org.apache.spark.sql.types.{StructField, StructType}

/** General conditional MERGE over a [[SnapshotTable]] — the full
  * `WHEN MATCHED [AND cond] THEN UPDATE/DELETE | WHEN NOT MATCHED
  * [AND cond] THEN INSERT | WHEN NOT MATCHED BY SOURCE [AND cond]
  * THEN UPDATE/DELETE` clause set (the Delta/SQL:2003 MERGE shape).
  * This object owns the MERGE semantics — clause validation, ON
  * resolution and pruning, the cardinality check, insert routing —
  * and hands them to [[SnapshotTable.dml]] as one verb whose matcher
  * applies the clauses; the write steps (copy-on-write REWRITE,
  * merge-on-read TOMBSTONE) and the commit are `dml`'s, shared with
  * every other DML verb. The keyed full-row upsert
  * ([[SnapshotTable.merge]], either step) stays the fast path for the
  * reference's ingest contract; this engine is the superset surface
  * SQL `MERGE INTO` routes to (see [[SnapshotDml]]).
  *
  * Semantics (SQL/Delta):
  *  - clause order is FIRST-WINS within each group; a clause with no
  *    condition always applies; a row no clause applies to is kept
  *    (matched / not-matched-by-source) or skipped (insert).
  *  - a target row matched by MORE THAN ONE source row is a
  *    cardinality violation ONLY when a matched clause actually
  *    APPLIES to it (the Delta "multiple source rows matched" error
  *    — "first match wins" would be nondeterministic under shuffle);
  *    a multiply-matched row every matched-clause condition excludes
  *    is legal and kept verbatim, and the one DETERMINISTIC
  *    multi-match modification — a single unconditional DELETE
  *    clause — is permitted too (the row deletes once however many
  *    source rows matched), both Delta-parity.
  *  - MERGE into a table with NO committed version (a just-created
  *    catalog table) runs the initial-load shape: every source row is
  *    unmatched, NOT MATCHED INSERT clauses populate version 1
  *    (refused when no insert clause exists — there is nothing to
  *    match). The target shape comes from the recorded schema when
  *    one exists, else the catalog-declared schema the SQL path
  *    passes down.
  *  - assignments cast to the target column's type (schema invariant
  *    under MERGE, exactly like [[SnapshotTable.updateWhere]]);
  *    columns an UPDATE leaves unassigned keep the target value,
  *    columns an INSERT leaves unassigned become NULL.
  *  - `UPDATE SET *` / `INSERT *` expand to the target's columns,
  *    each taken from the same-named source column.
  *
  * Scale shape (the 100 TB story):
  *  - the matched scan runs over METADATA-PRUNED candidates only:
  *    target-only conjuncts of the ON condition feed
  *    [[SnapshotTable.dmlCandidates]] (stat/bloom/null pruning), and
  *    the first `target.col = <source expr>` equi-conjunct feeds
  *    [[SnapshotTable.keyPruneCandidates]], which collects the
  *    source's own (bounded) key set and plans `target.col IN (keys)`
  *    through the same `dmlCandidates` — a point upsert probes the
  *    bloom/stat-hit file(s), not the table. Pruning is advisory: every row decision
  *    re-evaluates the real condition.
  *  - only files that CONTAIN an applicable matched row (plus, when
  *    NOT MATCHED BY SOURCE clauses exist, files containing an
  *    applicable unmatched row) are rewritten by copy-on-write;
  *    merge-on-read rewrites none (DV tombstones + appended copies in
  *    ONE commit, the MoR [[SnapshotTable.merge]] cost shape).
  *  - NOT MATCHED BY SOURCE must scan every live file by definition
  *    (any row anywhere may be unmatched) — callers pay that only
  *    when they use the clause.
  *
  * Reference contract: the reference's ingest dedup/upsert is a keyed
  * DELETE+INSERT against its observation tables
  * (`/root/reference/run/ingestObsTasks.py:45-56`); the conditional
  * clause set is the general form users port from warehouse MERGE. */
object SnapshotMerge {

  /** One WHEN clause. `condition` references `target.<col>` /
    * `source.<col>` (or the aliases passed to `mergeInto`). */
  sealed trait Clause { def condition: Option[Column] }
  /** UPDATE SET — empty `set` means `SET *` (every target column from
    * the same-named source column; refused for NOT MATCHED BY SOURCE,
    * which has no source row to read). */
  final case class Update(condition: Option[Column] = None,
      set: Seq[(String, Column)] = Nil) extends Clause
  final case class Delete(condition: Option[Column] = None) extends Clause
  /** INSERT — empty `values` means `INSERT *`. */
  final case class Insert(condition: Option[Column] = None,
      values: Seq[(String, Column)] = Nil) extends Clause

  private val NoClause = -1
  /** A clause with its normalized assignments (empty for DELETE). */
  private type Routed = (Clause, Map[String, Column])

  private def qcol(alias: String, name: String): Column =
    col(s"`$alias`.`$name`")

  private def clauseCond(c: Clause): Column = c.condition.getOrElse(lit(true))

  /** `rows` with `__chosen`: the index of the first clause of `cs`
    * whose condition passes (first-wins), else [[NoClause]]. */
  private def choose(rows: DataFrame, cs: Seq[Routed]): DataFrame =
    rows.withColumn("__chosen", cs.zipWithIndex.foldRight(lit(NoClause)) {
      case (((c, _), i), acc) => when(clauseCond(c), lit(i)).otherwise(acc)
    })

  /** The result-shape projection of rows routed by `__chosen`: each
    * column of `tCols` takes the chosen clause's assignment, cast to
    * the column's type, else `prior(column)`. */
  private def routed(cs: Seq[Routed], tCols: Seq[StructField],
      prior: StructField => Column): Seq[Column] =
    tCols.map { f =>
      cs.zipWithIndex.foldRight(prior(f)) { case (((_, a), i), acc) =>
        a.get(f.name.toLowerCase).fold(acc)(v =>
          when(col("__chosen") === i, v.cast(f.dataType)).otherwise(acc))
      }.as(f.name)
    }

  /** Whether any clause of `cs` applies (`None`: no clauses). */
  private def anyApplies(cs: Seq[Routed]): Option[Column] =
    cs.map(c => clauseCond(c._1)).reduceOption(_ || _)

  /** Normalized assignment map (lower-cased target column -> value),
    * validating targets exist and are unique; empty `set` expands to
    * `SET *`/`INSERT *` over `tCols` from same-named source columns. */
  private def normAssigns(what: String, set: Seq[(String, Column)],
      tCols: Seq[StructField], srcCols: Seq[String], sAlias: String,
      starAllowed: Boolean): Map[String, Column] = {
    if (set.isEmpty) {
      require(starAllowed, s"$what: NOT MATCHED BY SOURCE UPDATE needs " +
        "explicit assignments (there is no source row to read)")
      tCols.map { f =>
        require(srcCols.exists(_.equalsIgnoreCase(f.name)),
          s"$what: `SET *`/`INSERT *` needs source column '${f.name}' " +
            s"(source has ${srcCols.mkString(", ")})")
        f.name.toLowerCase -> qcol(sAlias, f.name)
      }.toMap
    } else {
      val m = set.map { case (k, v) => k.toLowerCase -> v }.toMap
      require(m.size == set.size, s"$what: duplicate assignment target")
      val unknown = set.map(_._1)
        .filterNot(k => tCols.exists(_.name.equalsIgnoreCase(k)))
      require(unknown.isEmpty,
        s"$what: no such target column(s) ${unknown.mkString(", ")} " +
          s"(target has ${tCols.map(_.name).mkString(", ")})")
      m
    }
  }

  /** Refuses a malformed clause set, or a source carrying a column the
    * engine reserves, before any attempt runs. */
  private[sources] def validate(source: DataFrame, matched: Seq[Clause],
      notMatched: Seq[Clause], nmbs: Seq[Clause], tAlias: String,
      sAlias: String): Unit = {
    require(matched.nonEmpty || notMatched.nonEmpty || nmbs.nonEmpty,
      "mergeInto needs at least one WHEN clause")
    require(matched.forall(!_.isInstanceOf[Insert]),
      "WHEN MATCHED clauses must be UPDATE or DELETE")
    require(notMatched.forall(_.isInstanceOf[Insert]),
      "WHEN NOT MATCHED clauses must be INSERT")
    require(nmbs.forall(!_.isInstanceOf[Insert]),
      "WHEN NOT MATCHED BY SOURCE clauses must be UPDATE or DELETE")
    require(tAlias != sAlias,
      s"target and source aliases must differ (both '$tAlias')")
    require(!source.columns.exists(c =>
      c == "__file" || c == "__ridx" || c == "__name"),
      "source must not carry columns named __file/__ridx/__name " +
        "(reserved for the merge engine's row identity)")
  }

  /** The MERGE verb at one attempt's pinned `base` version and `state`:
    * resolves the ON condition, prunes the candidates, runs the
    * cardinality check, routes the inserts and builds the clause
    * matcher. The verb's scope is every live file when NOT MATCHED BY
    * SOURCE clauses exist, else the pruned candidates (none for an
    * insert-only merge). */
  private[sources] def verb(t: SnapshotTable, source0: DataFrame,
      condition: Column, matched: Seq[Clause], notMatched: Seq[Clause],
      nmbs: Seq[Clause], tAlias: String, sAlias: String,
      schemaEvolution: Boolean, declaredSchema: Option[StructType])(
      base: Int, state: SnapshotTable.TableState): SnapshotTable.DmlVerb = {
    // no committed version: the initial-load shape — every source
    // row is unmatched, so only NOT MATCHED INSERT clauses can do
    // anything (Delta populates an empty table the same way)
    require(base > 0 || notMatched.nonEmpty,
      s"mergeInto: target snapshot table ${t.root} has no committed " +
        "version to merge into (an initial-load MERGE needs WHEN NOT " +
        "MATCHED INSERT clauses)")
    val tCols0: Seq[StructField] =
      t.schemaAt(Some(base)).orElse(declaredSchema).getOrElse(
        t.read(Some(base)).schema).fields.toSeq
    // WITH SCHEMA EVOLUTION: source columns absent from the target
    // join the result schema (nullable — pre-merge rows read null,
    // the commit's schema-union contract records the widened shape).
    // Same-named columns keep the TARGET type (assignments cast) —
    // evolution here ADDS columns, never retypes them.
    val newCols: Seq[StructField] =
      if (!schemaEvolution) Nil
      else source0.schema.fields.toSeq
        .filterNot(f => tCols0.exists(_.name.equalsIgnoreCase(f.name)))
        .map(_.copy(nullable = true))
    val tCols: Seq[StructField] = tCols0 ++ newCols
    val srcCols = source0.columns.toSeq
    val src = source0.alias(sAlias)

    // resolve the ON condition once against a (target, source) probe
    // join: yields the resolved conjuncts split by side — the inputs
    // to metadata pruning. Analysis only; no job runs. A no-version
    // target resolves against an empty frame of the declared shape
    // (read() has nothing to plan yet).
    val targetShape: DataFrame =
      if (base == 0) t.spark.createDataFrame(
        t.spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(tCols0))
      else t.read(Some(base))
    val probePlan = targetShape.alias(tAlias)
      .join(source0.alias(sAlias), condition, "inner")
      .queryExecution.analyzed
    val jn = probePlan.collectFirst { case j: Join => j }.getOrElse(
      throw new IllegalStateException("mergeInto: probe plan lost its join"))
    val condR = jn.condition.getOrElse(
      throw new IllegalArgumentException(
        "mergeInto: merge needs an ON condition"))
    require(!condR.exists(_.isInstanceOf[SubqueryExpression]),
      "mergeInto: subqueries in the ON condition are not supported")
    val lOut = jn.left.outputSet
    val rOut = jn.right.outputSet
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case o => Seq(o)
    }
    val conj = conjuncts(condR)

    // candidate pruning tier 1: target-only conjuncts (literal
    // ranges/probes the derivePreds walk understands) prune from
    // manifest stats/blooms/null counts. The probe plan is ANALYZED
    // but not optimized, so type coercion leaves literals wrapped in
    // casts (`id = cast(42 as bigint)`) the derivation would not
    // see — fold foldable subtrees down to bare literals first.
    val tOnly = conj.filter(c =>
      c.references.nonEmpty && c.references.subsetOf(lOut))
      .map(SnapshotDml.foldConsts)
    val cand0 =
      if (tOnly.isEmpty) { t.lastDmlCandidates = state.live; state.live }
      else t.dmlCandidates(state, ColumnBridge.toColumn(tOnly.reduce(And)))
    // tier 2: the first `target.col = <source expr>` equi-conjunct
    // prunes by the source's own (bounded) key set — the point-upsert
    // shape scans the bloom-hit file, not the table
    val equi = conj.collectFirst {
      case EqualTo(a: AttributeReference, b)
          if lOut.contains(a) && b.references.nonEmpty &&
            b.references.subsetOf(rOut) => (a, b)
      case EqualTo(b, a: AttributeReference)
          if lOut.contains(a) && b.references.nonEmpty &&
            b.references.subsetOf(rOut) => (a, b)
    }
    val candidates = equi match {
      case Some((a, b)) if cand0.nonEmpty =>
        val srcKeys = PlanBridge.ofRows(t.spark,
          Project(Seq(Alias(b, a.name)()), jn.right))
        t.keyPruneCandidates(state.copy(live = cand0), a.name, srcKeys)
      case _ => cand0
    }
    def scan(files: Seq[String]): DataFrame =
      t.applyDv(state, t.rawReadFiles(state, files), files)

    def withAssigns(cs: Seq[Clause], what: String,
        star: Boolean): Seq[Routed] = cs.zipWithIndex.map { case (c, i) =>
      val set = c match {
        case Update(_, s) => Some(s)
        case Insert(_, vs) => Some(vs)
        case _: Delete => None
      }
      c -> set.fold(Map.empty[String, Column])(normAssigns(
        s"mergeInto $what clause $i", _, tCols, srcCols, sAlias, star))
    }
    val mRouted = withAssigns(matched, "WHEN MATCHED", star = true)
    val nRouted = withAssigns(nmbs, "WHEN NOT MATCHED BY SOURCE", star = false)
    val iRouted = withAssigns(notMatched, "WHEN NOT MATCHED", star = true)

    // cardinality check over the pruned candidates: a target row
    // multiply matched is refused only when a matched clause APPLIES
    // to it (only then is its outcome nondeterministic). Delta's
    // documented exception — a single unconditional DELETE is
    // deterministic however many source rows match (the row deletes
    // once) — skips the check.
    val deleteOnlyUncond = matched match {
      case Seq(Delete(None)) => true
      case _ => false
    }
    if (matched.nonEmpty && candidates.nonEmpty && !deleteOnlyUncond) {
      val raw = t.rawReadFiles(state, candidates).select(col("*"),
        col("_metadata.file_path").as("__file"),
        col("_metadata.row_index").as("__ridx"))
      val viol = t.applyDv(state, raw, candidates).alias(tAlias)
        .join(src, condition, "inner")
        .groupBy(col("__file"), col("__ridx"))
        .agg(count(lit(1)).as("__n"), max(when(anyApplies(mRouted).get,
          lit(1)).otherwise(lit(0))).as("__app"))
        .filter(col("__n") > 1 && col("__app") === 1)
        .select(col("__file")).limit(1).collect()
      if (viol.nonEmpty)
        throw new IllegalStateException(
          "mergeInto: a matched clause applies to a target row that " +
            s"multiple source rows matched (e.g. in ${viol.head.getString(0)})" +
            " — its outcome would be nondeterministic. Deduplicate the " +
            "source on the join keys. (Multiply-matched rows no matched " +
            "clause applies to, and a single unconditional WHEN MATCHED " +
            "THEN DELETE, are permitted.)")
    }

    // INSERT: source rows matching NO target row, routed through the
    // first-passing insert clause. Anti-joining against the pruned
    // candidates is sound: a pruned file cannot contain a row matching
    // ANY source row (that is what pruning proved), so it cannot turn
    // an unmatched source row into a matched one.
    val inserts: Option[DataFrame] =
      if (notMatched.isEmpty) None
      else {
        val unmatched =
          if (candidates.isEmpty) src
          else src.join(scan(candidates).alias(tAlias), condition, "left_anti")
        Some(choose(unmatched, iRouted).filter(col("__chosen") =!= NoClause)
          .select(routed(iRouted, tCols, f => lit(null).cast(f.dataType)): _*))
      }

    val isNewCol = newCols.map(_.name.toLowerCase).toSet
    val scope =
      if (nmbs.nonEmpty) state.live
      else if (matched.nonEmpty) candidates
      else Nil
    SnapshotTable.DmlVerb(_ => scope,
      new ClauseMatch(tAlias, src, condition, mRouted, nRouted, tCols,
        // an evolution-added column has no target side to read: its
        // pre-assignment value is NULL of the declared type
        f => if (isNewCol(f.name.toLowerCase)) lit(null).cast(f.dataType)
          else qcol(tAlias, f.name)),
      SnapshotTable.DmlCommit.Unscoped, inserts = inserts)
  }

  /** MERGE's row matcher: a target row is HIT when a WHEN MATCHED
    * clause applies to one of its matching source rows, or when no
    * source row matches it and a NOT MATCHED BY SOURCE clause applies.
    * `hit` only filters (the tombstone step reads row identity through
    * it); `miss` and `copies` project to the result shape `tCols`,
    * `prior` giving a column's pre-assignment value. None of the three
    * can fan a target row out: a matched row some clause applies to
    * has exactly one matching source row (the cardinality check), and
    * the other shapes are semi/anti-joins. */
  private final class ClauseMatch(tAlias: String, src: DataFrame,
      on: Column, matched: Seq[Routed], nmbs: Seq[Routed],
      tCols: Seq[StructField], prior: StructField => Column)
      extends SnapshotTable.DmlMatch {
    private val matchedAny = anyApplies(matched)
    private val nmbsAny = anyApplies(nmbs)
    private def target(df: DataFrame) = df.alias(tAlias)
    private def unmatched(df: DataFrame) =
      target(df).join(src, on, "left_anti")

    def hit(df: DataFrame): DataFrame =
      (matchedAny.map(a => target(df).join(src, on && a, "left_semi")) ++
        nmbsAny.map(unmatched(df).filter(_)))
        .reduceOption(_ unionAll _).getOrElse(df.limit(0))

    def miss(df: DataFrame): DataFrame = {
      val notApplied =
        matchedAny.fold(df)(a => target(df).join(src, on && a, "left_anti"))
      val kept = nmbsAny.fold(notApplied)(n =>
        target(notApplied).join(src, on, "left_semi")
          .unionAll(unmatched(notApplied).filter(!coalesce(n, lit(false)))))
      target(kept).select(routed(Nil, tCols, prior): _*)
    }

    override def copies: Option[DataFrame => DataFrame] = {
      // rows whose first applying clause is an UPDATE, assigned
      def updated(rows: DataFrame, cs: Seq[Routed]): Option[DataFrame] = {
        val upd = cs.indices.filter(cs(_)._1.isInstanceOf[Update])
        if (upd.isEmpty) None
        else Some(choose(rows, cs).filter(col("__chosen").isin(upd: _*))
          .select(routed(cs, tCols, prior): _*))
      }
      if (!(matched ++ nmbs).exists(_._1.isInstanceOf[Update])) None
      else Some(df => (updated(target(df).join(src, on, "inner"), matched) ++
        updated(unmatched(df), nmbs)).reduce(_ unionAll _))
    }
  }
}
