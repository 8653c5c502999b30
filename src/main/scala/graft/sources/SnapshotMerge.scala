package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference,
  EqualTo, Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Join, Project}
import org.apache.spark.sql.functions.{col, count, lit, max, when}
import org.apache.spark.sql.graftbridge.{ColumnBridge, PlanBridge}
import org.apache.spark.sql.types.StructField

/** General conditional MERGE over a [[SnapshotTable]] — the full
  * `WHEN MATCHED [AND cond] THEN UPDATE/DELETE | WHEN NOT MATCHED
  * [AND cond] THEN INSERT | WHEN NOT MATCHED BY SOURCE [AND cond]
  * THEN UPDATE/DELETE` clause set (the Delta/SQL:2003 MERGE shape),
  * on both the copy-on-write and merge-on-read commit paths. The
  * keyed full-row upsert ([[SnapshotTable.merge]], either path) stays
  * the fast path for the reference's ingest contract; this engine is
  * the superset surface SQL `MERGE INTO` routes to (see
  * [[SnapshotDml]]).
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
  *    [[SnapshotTable.keyPruneCandidates]] with the source's own
  *    (bounded) key set — a point upsert probes the bloom/stat-hit
  *    file(s), not the table. Pruning is advisory: every row decision
  *    re-evaluates the real condition.
  *  - only files that CONTAIN an applicable matched row (plus, when
  *    NOT MATCHED BY SOURCE clauses exist, files containing an
  *    applicable unmatched row) are rewritten on the CoW path;
  *    the MoR path rewrites none (DV tombstones + appended copies in
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

  /** Source-row marker column: survives the left-outer rewrite join as
    * the matched/unmatched discriminator (`isNotNull` ⇔ matched) —
    * join-key null tricks would misread genuinely-null key values. */
  private val Marker = "__graft_merge_smatch"
  /** Clause indexes ≥ this are NOT MATCHED BY SOURCE clauses in the
    * shared chosen-clause chain (matched clauses count from 0). */
  private val NmbsBase = 1000
  private val NoClause = -1

  private def qcol(alias: String, name: String): Column =
    col(s"`$alias`.`$name`")

  private def clauseCond(c: Clause): Column = c.condition.getOrElse(lit(true))

  /** First-wins chain: the index of the first clause whose condition
    * passes under its `gate`, else [[NoClause]]. */
  private def chosenChain(pairs: Seq[(Column, Int)]): Column =
    pairs.foldRight(lit(NoClause)) { case ((c, i), acc) =>
      when(c, lit(i)).otherwise(acc)
    }

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

  // ---- the engine ----------------------------------------------------

  private[sources] def run(t: SnapshotTable, source0: DataFrame,
      condition: Column, matched: Seq[Clause], notMatched: Seq[Clause],
      nmbs: Seq[Clause], tAlias: String, sAlias: String,
      statCols: Seq[String], bloomCols: Seq[String], bloomFpp: Double,
      mor: Boolean, schemaEvolution: Boolean = false,
      declaredSchema: Option[org.apache.spark.sql.types.StructType] = None)
      : Int = {
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
    require(!source0.columns.contains(Marker),
      s"source must not carry a column named $Marker")
    require(!source0.columns.exists(c =>
      c == "__file" || c == "__ridx" || c == "__name"),
      "source must not carry columns named __file/__ridx/__name " +
        "(reserved for the merge engine's row identity)")
    val opName = if (mor) "mergeIntoMoR" else "mergeInto"

    t.retryingOnConflict(opName) {
      val base = t.currentVersion
      // no committed version: the initial-load shape — every source
      // row is unmatched, so only NOT MATCHED INSERT clauses can do
      // anything (Delta populates an empty table the same way)
      require(base > 0 || notMatched.nonEmpty,
        s"$opName: target snapshot table ${t.root} has no committed " +
          "version to merge into (an initial-load MERGE needs WHEN NOT " +
          "MATCHED INSERT clauses)")
      val state = t.replayStateFull(base)
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
      val isNewCol: Set[String] = newCols.map(_.name.toLowerCase).toSet
      val srcCols = source0.columns.toSeq
      val sMarked = source0.withColumn(Marker, lit(true)).alias(sAlias)

      // resolve the ON condition once against a (target, source) probe
      // join: yields the resolved conjuncts split by side — the inputs
      // to metadata pruning. Analysis only; no job runs. A no-version
      // target resolves against an empty frame of the declared shape
      // (read() has nothing to plan yet).
      val targetShape: DataFrame =
        if (base == 0) t.spark.createDataFrame(
          t.spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(tCols0))
        else t.read(Some(base))
      val probePlan = targetShape.alias(tAlias)
        .join(source0.alias(sAlias), condition, "inner")
        .queryExecution.analyzed
      val jn = probePlan.collectFirst { case j: Join => j }.getOrElse(
        throw new IllegalStateException(s"$opName: probe plan lost its join"))
      val condR = jn.condition.getOrElse(
        throw new IllegalArgumentException(s"$opName: merge needs an ON condition"))
      require(!condR.exists(_.isInstanceOf[SubqueryExpression]),
        s"$opName: subqueries in the ON condition are not supported")
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

      def scanPlain(files: Seq[String]): DataFrame =
        t.applyDv(state, t.rawReadFiles(state, files), files)
      def scanWithId(files: Seq[String]): DataFrame = {
        val raw = t.rawReadFiles(state, files).select(col("*"),
          col("_metadata.file_path").as("__file"),
          col("_metadata.row_index").as("__ridx"))
        t.applyDv(state, raw, files)
      }
      def norm(p: String): String =
        t.fs.makeQualified(new Path(p)).toString

      val matchedAny: Option[Column] =
        if (matched.isEmpty) None else Some(matched.map(clauseCond).reduce(_ || _))
      val nmbsAny: Option[Column] =
        if (nmbs.isEmpty) None else Some(nmbs.map(clauseCond).reduce(_ || _))

      // Delta's documented multi-match exception: a single
      // unconditional DELETE is deterministic however many source rows
      // match (the row deletes once), so the cardinality gate stands
      // down for exactly that clause set.
      val deleteOnlyUncond = matched match {
        case Seq(Delete(None)) => true
        case _ => false
      }

      // cardinality check + applicable-file detection in ONE pass over
      // the pruned candidates (the Delta findTouchedFiles shape): per
      // target row, how many source rows matched and whether any
      // matched clause applies; per file, whether any row VIOLATES
      // (multiply matched AND a matched clause applies — only such a
      // row's outcome would be nondeterministic) and whether any row
      // is applicable at all.
      val matchedFiles: Seq[String] =
        if (matched.isEmpty || candidates.isEmpty) Nil
        else {
          val pairs = scanWithId(candidates).alias(tAlias)
            .join(sMarked, condition, "inner")
          val perFile = pairs
            .groupBy(col("__file"), col("__ridx"))
            .agg(count(lit(1)).as("__n"),
              max(when(matchedAny.get, lit(1)).otherwise(lit(0))).as("__app"))
            .groupBy(col("__file"))
            .agg(
              max(when(col("__n") > 1 && col("__app") === 1, lit(1))
                .otherwise(lit(0))).as("__viol"),
              max(col("__app")).as("__anyapp"))
            .collect() // bounded: one row per CANDIDATE FILE
          val viol = perFile.filter(_.getAs[Int]("__viol") == 1)
          if (viol.nonEmpty && !deleteOnlyUncond)
            throw new IllegalStateException(
              s"$opName: a matched clause applies to a target row that " +
                s"multiple source rows matched (e.g. in " +
                s"${viol.head.getString(0)}) — its outcome would be " +
                "nondeterministic. Deduplicate the source on the join " +
                "keys. (Multiply-matched rows no matched clause applies " +
                "to, and a single unconditional WHEN MATCHED THEN " +
                "DELETE, are permitted.)")
          perFile.filter(_.getAs[Int]("__anyapp") == 1)
            .map(r => norm(r.getString(0))).toSeq
        }

      val nmbsFiles: Seq[String] =
        if (nmbs.isEmpty || state.live.isEmpty) Nil
        else scanWithId(state.live).alias(tAlias)
          .join(sMarked, condition, "left_anti")
          .filter(nmbsAny.get)
          .select(col("__file")).distinct().collect()
          .map(r => norm(r.getString(0))).toSeq

      // clause machinery shared by both commit paths
      val mIdx = matched.zipWithIndex
      val nIdx = nmbs.zipWithIndex.map { case (c, i) => (c, NmbsBase + i) }
      val updates: Seq[(Update, Int)] =
        (mIdx ++ nIdx).collect { case (u: Update, i) => (u, i) }
      val deleteIdxs: Seq[Int] =
        (mIdx ++ nIdx).collect { case (_: Delete, i) => i }
      val assignsOf: Map[Int, Map[String, Column]] = updates.map {
        case (u, i) =>
          i -> normAssigns(s"$opName clause ${i % NmbsBase}", u.set, tCols,
            srcCols, sAlias, starAllowed = i < NmbsBase)
      }.toMap
      def valueCols(updIdxs: Seq[(Update, Int)]): Seq[Column] =
        tCols.map { f =>
          // an evolution-added column has no target side to read: its
          // pre-assignment value is NULL of the declared type
          val base0: Column =
            if (isNewCol(f.name.toLowerCase)) lit(null).cast(f.dataType)
            else qcol(tAlias, f.name)
          updIdxs.foldRight(base0) { case ((_, i), acc) =>
            assignsOf(i).get(f.name.toLowerCase) match {
              case Some(v) => when(col("__chosen") === i,
                v.cast(f.dataType)).otherwise(acc)
              case None => acc
            }
          }.as(f.name)
        }

      // INSERT half (identical on both paths): source rows matching NO
      // target row, routed through the first-passing insert clause.
      // Anti-joining against the pruned candidates is sound: a pruned
      // file cannot contain a row matching ANY source row (that is
      // what pruning proved), so it cannot turn an unmatched source
      // row into a matched one.
      val inserts: Option[DataFrame] =
        if (notMatched.isEmpty) None
        else {
          val unmatched =
            if (candidates.isEmpty) sMarked
            else sMarked.join(scanPlain(candidates).alias(tAlias),
              condition, "left_anti")
          val iIdx = notMatched.zipWithIndex
            .collect { case (c: Insert, i) => (c, i) }
          val iAssigns: Map[Int, Map[String, Column]] = iIdx.map {
            case (c, i) => i -> normAssigns(s"$opName insert clause $i",
              c.values, tCols, srcCols, sAlias, starAllowed = true)
          }.toMap
          val chain = chosenChain(iIdx.map { case (c, i) => (clauseCond(c), i) })
          val vals = tCols.map { f =>
            iIdx.foldRight(lit(null).cast(f.dataType): Column) {
              case ((_, i), acc) =>
                iAssigns(i).get(f.name.toLowerCase) match {
                  case Some(v) => when(col("__ichosen") === i,
                    v.cast(f.dataType)).otherwise(acc)
                  case None => acc
                }
            }.as(f.name)
          }
          Some(unmatched.withColumn("__ichosen", chain)
            .filter(col("__ichosen") =!= NoClause).select(vals: _*))
        }

      if (mor) runMor(t, state, base, opName, sMarked, condition, matched,
        nmbs, candidates, matchedFiles, nmbsFiles, inserts, mIdx, nIdx,
        updates, valueCols, scanPlain, matchedAny, nmbsAny, tAlias,
        statCols, bloomCols, bloomFpp)
      else {
        // ---- copy-on-write: rewrite ONLY the applicable files -------
        val affected = (matchedFiles ++ nmbsFiles).distinct.sorted
        if (affected.isEmpty && notMatched.isEmpty) 0
        else {
          val keepFlag =
            if (deleteIdxs.isEmpty) lit(true)
            else !col("__chosen").isin(deleteIdxs: _*)
          val anyCondMatched = matched.exists(_.condition.nonEmpty)
          val rewritten: Option[DataFrame] =
            if (affected.isEmpty) None
            else if (matched.isEmpty) {
              // NOT-MATCHED-BY-SOURCE-only rewrite: never join-fan the
              // target. A target row matched by MULTIPLE source rows is
              // LEGAL here (no matched clause can touch it, so SQL
              // imposes no cardinality constraint and the check above
              // was rightly skipped) — but a left-outer join would
              // duplicate it. Semi/anti split instead: matched rows
              // keep verbatim, unmatched rows run the NMBS chain.
              val before = scanPlain(affected).alias(tAlias)
              val keepMatched = before
                .join(sMarked, condition, "left_semi")
                .select(valueCols(Nil): _*)
              val nmbsRows = before
                .join(sMarked, condition, "left_anti")
                .withColumn("__chosen", chosenChain(
                  nIdx.map { case (c, i) => (clauseCond(c), i) }))
                .filter(keepFlag)
                .select(valueCols(updates): _*)
              Some(keepMatched.unionAll(nmbsRows))
            } else if (deleteOnlyUncond) {
              // single unconditional DELETE: every matched row goes
              // (multi-match legal — the row deletes once by NOT
              // surviving the anti-join), unmatched rows run the NMBS
              // chain. Never join-fans the target. Only the NMBS
              // updates feed valueCols: an anti-join result has no
              // source side for matched assignments to reference.
              val nmbsRows = scanPlain(affected).alias(tAlias)
                .join(sMarked, condition, "left_anti")
                .withColumn("__chosen", chosenChain(
                  nIdx.map { case (c, i) => (clauseCond(c), i) }))
                .filter(keepFlag)
                .select(valueCols(updates.filter(_._2 >= NmbsBase)): _*)
              Some(nmbsRows)
            } else if (anyCondMatched) {
              // conditional matched clauses: a row matched by several
              // source rows is legal when NO clause applies to it (the
              // cardinality gate refused the applicable ones), but a
              // left-outer join would duplicate it. Three-way split,
              // none of whose branches can fan out:
              //  - rows a matched clause APPLIES to — exactly one
              //    matching pair each (gate-guaranteed), inner join
              //  - rows matched but NON-applying — kept verbatim ONCE
              //    (anti on condition∧applies, semi on condition)
              //  - unmatched rows — the NMBS chain
              val before = scanPlain(affected).alias(tAlias)
              val applied = before
                .join(sMarked, condition, "inner")
                .filter(matchedAny.get)
                .withColumn("__chosen", chosenChain(
                  mIdx.map { case (c, i) => (clauseCond(c), i) }))
                .filter(keepFlag)
                .select(valueCols(updates.filter(_._2 < NmbsBase)): _*)
              val nonApplying = before
                .join(sMarked, condition && matchedAny.get, "left_anti")
              val keptMatched = nonApplying
                .join(sMarked, condition, "left_semi")
                .select(valueCols(Nil): _*)
              val nmbsRows = nonApplying
                .join(sMarked, condition, "left_anti")
                .withColumn("__chosen", chosenChain(
                  nIdx.map { case (c, i) => (clauseCond(c), i) }))
                .filter(keepFlag)
                .select(valueCols(updates.filter(_._2 >= NmbsBase)): _*)
              Some(applied.unionAll(keptMatched).unionAll(nmbsRows))
            } else {
              // every matched clause is unconditional (and not the
              // single-DELETE shape): any multi-match was refused by
              // the gate, so the left-outer join cannot fan out
              val joined = scanPlain(affected).alias(tAlias)
                .join(sMarked, condition, "left_outer")
              val isM = col(Marker).isNotNull
              val chain = chosenChain(
                mIdx.map { case (c, i) => (isM && clauseCond(c), i) } ++
                  nIdx.map { case (c, i) => (!isM && clauseCond(c), i) })
              Some(joined.withColumn("__chosen", chain)
                .filter(keepFlag).select(valueCols(updates): _*))
            }
          val parts = rewritten.toSeq ++ inserts.toSeq
          val result = parts.reduce(_ unionAll _)
          val sc = t.effStatCols(statCols, result)
          val bc = t.effBloomCols(bloomCols, result)
          val (staged, stats, sstats, counts, sizes, nullsCh) =
            t.stageFilesWithStats(result, sc, countFiles = bc.nonEmpty)
          val blooms = t.buildBlooms(staged, bc, bloomFpp, counts)
          // an insert-only merge whose clauses admitted zero source
          // rows changed nothing — no empty commit, return 0 (the
          // deleteWhere contract)
          if (staged.isEmpty && affected.isEmpty) 0
          else
            // keyed and UNSCOPED, like merge: this plan decided
            // rows/keys were absent, so any interleaved remove-bearing
            // or keyed commit must conflict and force a recompute
            t.commit(staged, affected, stats = stats, base = base,
              keyed = true, op = opName,
              schema = Some(result.schema.json), sstats = sstats,
              blooms = blooms, sizes = sizes,
              rows = counts.toSeq.sortBy(_._1), nulls = nullsCh)
        }
      }
    }
  }

  /** Merge-on-read commit half: tombstone applicable matched /
    * not-matched-by-source rows via DVs, append updated copies and
    * inserts — ONE commit, no data file rewritten (the
    * MoR [[SnapshotTable.merge]] cost shape generalized to clauses). */
  private def runMor(t: SnapshotTable, state: SnapshotTable.TableState,
      base: Int, opName: String, sMarked: DataFrame, condition: Column,
      matched: Seq[Clause], nmbs: Seq[Clause], candidates: Seq[String],
      matchedFiles: Seq[String], nmbsFiles: Seq[String],
      inserts: Option[DataFrame],
      mIdx: Seq[(Clause, Int)], nIdx: Seq[(Clause, Int)],
      updates: Seq[(Update, Int)], valueCols: Seq[(Update, Int)] => Seq[Column],
      scanPlain: Seq[String] => DataFrame,
      matchedAny: Option[Column], nmbsAny: Option[Column], tAlias: String,
      statCols: Seq[String], bloomCols: Seq[String],
      bloomFpp: Double): Int = {
    // tombstones FIRST (the MoR updateWhere ordering): a merge whose
    // clauses match nothing learns so here and — with no insert
    // clauses — runs zero staging jobs. Without NOT MATCHED BY SOURCE
    // clauses the scan narrows to the files the cardinality pass
    // proved hold an APPLICABLE matched row — tighter than the full
    // candidate set
    val matchedSet = matchedFiles.toSet
    val tombScope =
      if (nmbs.nonEmpty) state.live
      else if (matchedFiles.nonEmpty)
        candidates.filter(f =>
          matchedSet.contains(t.fs.makeQualified(
            new org.apache.hadoop.fs.Path(f)).toString))
      else Nil
    val (full, partial, changedFiles) =
      if (tombScope.isEmpty) (Seq.empty[String],
        Seq.empty[(String, String, Long)], Seq.empty[String])
      else t.buildMorTombstonesBy(state, tombScope, { df0 =>
        val tdf = df0.alias(tAlias)
        val m =
          if (matched.isEmpty || candidates.isEmpty) None
          else Some(tdf.join(sMarked, condition, "inner")
            .filter(matchedAny.get)
            .select(col("__name"), col("__ridx")))
        val n =
          if (nmbs.isEmpty) None
          else Some(tdf.join(sMarked, condition, "left_anti")
            .filter(nmbsAny.get)
            .select(col("__name"), col("__ridx")))
        (m.toSeq ++ n.toSeq).reduce(_ unionAll _)
      })
    val mUpd = updates.filter(_._2 < NmbsBase)
    val nUpd = updates.filter(_._2 >= NmbsBase)
    // updated copies come from the DV-APPLIED scan (a row an earlier
    // MoR delete tombstoned cannot resurrect), and only when some
    // tombstone actually landed — zero staging jobs otherwise
    val copies: Seq[DataFrame] =
      if (changedFiles.isEmpty) Nil
      else {
        val mc =
          if (mUpd.isEmpty || candidates.isEmpty) None
          else Some(scanPlain(candidates).alias(tAlias)
            .join(sMarked, condition, "inner")
            .withColumn("__chosen",
              chosenChain(mIdx.map { case (c, i) => (clauseCond(c), i) }))
            .filter(col("__chosen").isin(mUpd.map(_._2): _*))
            .select(valueCols(mUpd): _*))
        val nc =
          if (nUpd.isEmpty || state.live.isEmpty) None
          else Some(scanPlain(state.live).alias(tAlias)
            .join(sMarked, condition, "left_anti")
            .withColumn("__chosen",
              chosenChain(nIdx.map { case (c, i) => (clauseCond(c), i) }))
            .filter(col("__chosen").isin(nUpd.map(_._2): _*))
            .select(valueCols(nUpd): _*))
        (mc.toSeq ++ nc.toSeq)
      }
    val parts = copies ++ inserts.toSeq
    if (changedFiles.isEmpty && parts.isEmpty) 0
    else if (parts.isEmpty)
      // pure tombstone commit (all applicable clauses were deletes)
      t.commit(Nil, full, base = base, keyed = true, op = opName,
        dvs = partial,
        props = if (partial.nonEmpty)
          t.protocolBump(state.props, 2, 2) else Nil)
    else {
      val result = parts.reduce(_ unionAll _)
      val srcJson = SnapshotTable.stripPhysical(result.schema.json)
      val sc = t.effStatCols(statCols, result)
      val bc = t.effBloomCols(bloomCols, result)
      val (staged, stats, sstats, counts, sizes, nullsCh) =
        t.stageFilesWithStats(result, sc, countFiles = bc.nonEmpty)
      val blooms = t.buildBlooms(staged, bc, bloomFpp, counts)
      // zero tombstones AND zero staged rows = nothing changed
      if (staged.isEmpty && changedFiles.isEmpty) 0
      else t.commit(staged, full, stats = stats, base = base, keyed = true,
        op = opName,
        schemaTransform = Some(v => t.resolveSchema(srcJson, v)),
        sstats = sstats, blooms = blooms, sizes = sizes,
        rows = counts.toSeq.sortBy(_._1), nulls = nullsCh, dvs = partial,
        props = if (partial.nonEmpty)
          t.protocolBump(state.props, 2, 2) else Nil)
    }
  }
}
