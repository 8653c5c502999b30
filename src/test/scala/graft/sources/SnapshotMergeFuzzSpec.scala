package graft.sources

import graft.SparkSuite
import graft.sources.SnapshotMerge.{Clause, Delete, Insert, Update}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Differential fuzz of the conditional MERGE engine: seeded random
  * (target, source, clause set) scenarios checked against an
  * independent ROW-LEVEL MODEL of the SQL/Delta semantics (first-wins
  * clauses, per-row cardinality with the r16 applicability rule and
  * the unconditional-DELETE exemption, NMBS chains, insert routing),
  * on BOTH commit paths — CoW and MoR must match the model AND each
  * other. Scenarios deliberately include duplicate join keys on both
  * sides, so every multi-match shape (applicable → refuse,
  * non-applying → keep once, delete-only → delete once) is exercised
  * by chance on every run; seeds are fixed, so failures reproduce.
  * Each API seed runs twice: on one fresh file, and on a target spread
  * over two files, one carrying a merge-on-read tombstone — which also
  * pins which files each path rewrites. */
class SnapshotMergeFuzzSpec extends SparkSuite {
  import spark.implicits._

  // ---- scenario algebra -----------------------------------------------

  /** Conditions the MODEL can evaluate: (side, op, threshold) over qty.
    * side: 'S' = source.qty, 'T' = target.qty (matched clauses only —
    * insert conds must be source-only, NMBS conds target-only). */
  private case class Cond(side: Char, gte: Boolean, c: Long) {
    def column: Column = {
      val col0 = if (side == 'S') expr("source.qty") else expr("target.qty")
      if (gte) col0 >= c else col0 < c
    }
    def eval(tQty: Option[Long], sQty: Option[Long]): Boolean = {
      val v = if (side == 'S') sQty.get else tQty.get
      if (gte) v >= c else v < c
    }
  }

  private sealed trait MClause
  private case class MUpdate(cond: Option[Cond], star: Boolean) extends MClause
  private case class MDelete(cond: Option[Cond]) extends MClause
  private case class MInsert(cond: Option[Cond]) extends MClause
  private case class NUpdate(cond: Option[Cond]) extends MClause
  private case class NDelete(cond: Option[Cond]) extends MClause

  private case class Scenario(
      target: Seq[(Long, String, Long)], source: Seq[(Long, String, Long)],
      matched: Seq[MClause], notMatched: Seq[MClause], nmbs: Seq[MClause])

  private def gen(seed: Int): Scenario = {
    val r = new scala.util.Random(seed)
    def rows(n: Int, idMax: Int, pfx: String) =
      (0 until n).map(i =>
        (r.nextInt(idMax).toLong, s"$pfx$i", r.nextInt(40).toLong))
    def cond(side: Char): Option[Cond] =
      if (r.nextInt(3) == 0) None
      else Some(Cond(side, r.nextBoolean(), r.nextInt(40).toLong))
    def mCond(): Option[Cond] =
      cond(if (r.nextBoolean()) 'S' else 'T')
    val matched = (0 until r.nextInt(3)).map { _ =>
      if (r.nextBoolean()) MUpdate(mCond(), star = r.nextBoolean())
      else MDelete(mCond())
    }
    // at least one clause overall (a clause-less MERGE is refused by
    // the engine before any semantics apply — not what this fuzzes)
    val nIns = if (matched.isEmpty) 1 + r.nextInt(2) else r.nextInt(3)
    val notMatched = (0 until nIns).map(_ => MInsert(cond('S')))
    val nmbs = (0 until r.nextInt(3)).map { _ =>
      if (r.nextBoolean()) NUpdate(cond('T')) else NDelete(cond('T'))
    }
    Scenario(
      rows(6 + r.nextInt(5), 8, "t"), rows(4 + r.nextInt(5), 10, "s"),
      matched, notMatched, nmbs)
  }

  // ---- the independent model ------------------------------------------

  private def mApplies(c: MClause, t: (Long, String, Long),
      s: (Long, String, Long)): Boolean = c match {
    case MUpdate(cond, _) => cond.forall(_.eval(Some(t._3), Some(s._3)))
    case MDelete(cond) => cond.forall(_.eval(Some(t._3), Some(s._3)))
    case _ => false
  }

  /** Whether some clause APPLIES to target row `t` — the rows a merge
    * changes, so the files CoW must rewrite and MoR must tombstone. */
  private def touches(sc: Scenario, t: (Long, String, Long)): Boolean = {
    val ms = sc.source.filter(_._1 == t._1)
    if (ms.nonEmpty) sc.matched.exists(c => ms.exists(mApplies(c, t, _)))
    else sc.nmbs.exists {
      case NUpdate(c) => c.forall(_.eval(Some(t._3), None))
      case NDelete(c) => c.forall(_.eval(Some(t._3), None))
      case _ => false
    }
  }

  /** Returns Left(()) when the scenario must REFUSE (cardinality),
    * else Right(final multiset of rows). */
  private def model(sc: Scenario)
      : Either[Unit, Seq[(Long, Option[String], Option[Long])]] = {
    val deleteOnlyUncond = sc.matched match {
      case Seq(MDelete(None)) => true
      case _ => false
    }
    // cardinality: any target row with >1 matches where SOME matched
    // clause applies to SOME pair -> refuse (unless the exemption)
    val viol = sc.matched.nonEmpty && !deleteOnlyUncond && sc.target.exists {
      t =>
        val ms = sc.source.filter(_._1 == t._1)
        ms.size > 1 && ms.exists(s => sc.matched.exists(mApplies(_, t, s)))
    }
    if (viol) return Left(())

    val out = scala.collection.mutable.Buffer[(Long, Option[String], Option[Long])]()
    sc.target.foreach { t =>
      val ms = sc.source.filter(_._1 == t._1)
      if (ms.isEmpty) {
        // NMBS chain (target-only conds)
        sc.nmbs.find {
          case NUpdate(c) => c.forall(_.eval(Some(t._3), None))
          case NDelete(c) => c.forall(_.eval(Some(t._3), None))
          case _ => false
        } match {
          case Some(NUpdate(_)) =>
            // fixed NMBS assigns: v -> 'X', qty -> target.qty + 10
            out += ((t._1, Some("X"), Some(t._3 + 10)))
          case Some(NDelete(_)) => () // dropped
          case _ => out += ((t._1, Some(t._2), Some(t._3)))
        }
      } else if (sc.matched.isEmpty) {
        out += ((t._1, Some(t._2), Some(t._3))) // matched rows untouched
      } else if (deleteOnlyUncond) {
        () // deleted, however many matches
      } else {
        // exactly one match can apply (viol refused above)
        val applying = ms.filter(s => sc.matched.exists(mApplies(_, t, s)))
        if (applying.isEmpty) out += ((t._1, Some(t._2), Some(t._3)))
        else {
          val s = applying.head
          sc.matched.find(mApplies(_, t, s)).get match {
            case MUpdate(_, star) =>
              if (star) out += ((s._1, Some(s._2), Some(s._3)))
              // fixed matched assigns: v -> concat(source.v,'U'),
              // qty -> source.qty + 1
              else out += ((t._1, Some(s._2 + "U"), Some(s._3 + 1)))
            case MDelete(_) => ()
            case _ => ()
          }
        }
      }
    }
    // inserts: source rows matching NO target row, first-wins chain
    val tIds = sc.target.map(_._1).toSet
    sc.source.filterNot(s => tIds.contains(s._1)).foreach { s =>
      sc.notMatched.find {
        case MInsert(c) => c.forall(_.eval(None, Some(s._3)))
        case _ => false
      }.foreach { _ => out += ((s._1, Some(s._2), Some(s._3))) } // INSERT *
    }
    Right(out.toSeq)
  }

  // ---- run a scenario through the engine ------------------------------

  private def engineClauses(sc: Scenario)
      : (Seq[Clause], Seq[Clause], Seq[Clause]) = (
    sc.matched.map {
      case MUpdate(c, true) => Update(c.map(_.column), Nil)
      case MUpdate(c, false) => Update(c.map(_.column),
        Seq("v" -> concat(expr("source.v"), lit("U")),
          "qty" -> (expr("source.qty") + 1)))
      case MDelete(c) => Delete(c.map(_.column))
      case other => sys.error(s"bad matched $other")
    },
    sc.notMatched.map {
      case MInsert(c) => Insert(c.map(_.column), Nil)
      case other => sys.error(s"bad insert $other")
    },
    sc.nmbs.map {
      case NUpdate(c) => Update(c.map(_.column),
        Seq("v" -> lit("X"), "qty" -> (expr("target.qty") + 10)))
      case NDelete(c) => Delete(c.map(_.column))
      case other => sys.error(s"bad nmbs $other")
    })

  /** `spread = false`: the target is one fresh file. `spread = true`:
    * the target's first half (row `t0` included) and second half are two
    * files, and `t0` is then deleted merge-on-read, so the first file
    * carries a deletion vector and the merge sees the target WITHOUT
    * `t0`. A spread run also checks, per pre-merge file, that CoW
    * rewrote exactly the files holding a row some clause applies to,
    * that MoR rewrote none (only a file whose every live row was
    * touched may leave, fully tombstoned), and that the pre-merge
    * snapshot still reads its rows. */
  private def runEngine(sc: Scenario, mor: Boolean, spread: Boolean = false)
      : Either[Unit, Seq[(Long, Option[String], Option[Long])]] = {
    val dir = java.nio.file.Files.createTempDirectory("mergefuzz").toString
    val t = new SnapshotTable(spark, dir)
    val preFiles: Seq[(Seq[(Long, String, Long)], String)] =
      if (!spread) {
        t.append(sc.target.toDF("id", "v", "qty").coalesce(1))
        Nil
      } else {
        val (a, b) = sc.target.splitAt(sc.target.size / 2)
        val halves = Seq(a, b).map { rows =>
          val before = t.files().toSet
          t.append(rows.toDF("id", "v", "qty").coalesce(1))
          rows -> (t.files().toSet -- before).head
        }
        t.deleteWhere(col("v") === sc.target.head._2, mor = true)
        halves.map { case (rows, f) => rows.filterNot(_ == sc.target.head) -> f }
      }
    val pre = t.currentVersion
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0),
        Option(r.getString(1)), Option(r.get(2)).map(_ => r.getLong(2))))
        .toSeq
    val (m, i, n) = engineClauses(sc)
    val src = sc.source.toDF("id", "v", "qty")
    val on = expr("target.id = source.id")
    try {
      t.mergeInto(src, on, m, i, n, mor = mor)
      val live = t.files().toSet
      preFiles.foreach { case (rows, f) =>
        val hit = rows.exists(touches(sc, _))
        if (mor) assert(live.contains(f) || rows.forall(touches(sc, _)),
          s"MoR rewrote $f (touched=$hit) for $sc")
        else assert(live.contains(f) == !hit,
          s"CoW ${if (hit) "kept a touched" else "rewrote an untouched"} " +
            s"file $f for $sc")
      }
      if (spread) assert(canon(rowsOf(t.read(Some(pre)))) ==
        canon(preFiles.flatMap(_._1).map(r => (r._1, Some(r._2), Some(r._3)))),
        s"the pre-merge snapshot changed for $sc")
      Right(rowsOf(t.read()))
    } catch {
      case e: IllegalStateException
          if e.getMessage.contains("multiple source rows") => Left(())
    }
  }

  // ---- the same scenario through the SQL MERGE statement --------------
  //
  // pins the SnapshotDmlRule translation (alias requalification,
  // star expansion, condition rewrite) against the API result for
  // every random clause shape, not just the hand-written parity specs

  private def condSql(c: Cond): String = {
    val col0 = if (c.side == 'S') "s.qty" else "t.qty"
    if (c.gte) s"$col0 >= ${c.c}" else s"$col0 < ${c.c}"
  }

  private def mergeSql(sc: Scenario, root: String, srcView: String): String = {
    def and(c: Option[Cond]) = c.map(x => s" AND ${condSql(x)}").getOrElse("")
    val m = sc.matched.map {
      case MUpdate(c, true) => s"WHEN MATCHED${and(c)} THEN UPDATE SET *"
      case MUpdate(c, false) => s"WHEN MATCHED${and(c)} THEN UPDATE SET " +
        "v = concat(s.v, 'U'), qty = s.qty + 1"
      case MDelete(c) => s"WHEN MATCHED${and(c)} THEN DELETE"
      case other => sys.error(s"bad matched $other")
    }
    val i = sc.notMatched.map {
      case MInsert(c) => s"WHEN NOT MATCHED${and(c)} THEN INSERT *"
      case other => sys.error(s"bad insert $other")
    }
    val n = sc.nmbs.map {
      case NUpdate(c) => s"WHEN NOT MATCHED BY SOURCE${and(c)} THEN " +
        "UPDATE SET v = 'X', qty = t.qty + 10"
      case NDelete(c) => s"WHEN NOT MATCHED BY SOURCE${and(c)} THEN DELETE"
      case other => sys.error(s"bad nmbs $other")
    }
    s"""MERGE INTO snapshot.`$root` t USING $srcView s ON t.id = s.id
       |${(m ++ i ++ n).mkString("\n")}""".stripMargin
  }

  /** Spark's MERGE grammar requires the unconditional clause to be
    * LAST within each group; under first-wins everything after an
    * unconditional clause is dead anyway, so truncating there is
    * semantics-preserving — the SQL seeds run the truncated scenario
    * through the model too. */
  private def sqlSafe(sc: Scenario): Scenario = {
    def condOf(c: MClause): Option[Cond] = c match {
      case MUpdate(x, _) => x
      case MDelete(x) => x
      case MInsert(x) => x
      case NUpdate(x) => x
      case NDelete(x) => x
    }
    def cut(cs: Seq[MClause]): Seq[MClause] = {
      val i = cs.indexWhere(condOf(_).isEmpty)
      if (i < 0) cs else cs.take(i + 1)
    }
    sc.copy(matched = cut(sc.matched), notMatched = cut(sc.notMatched),
      nmbs = cut(sc.nmbs))
  }

  private def runSql(sc: Scenario)
      : Either[Unit, Seq[(Long, Option[String], Option[Long])]] = {
    val ext = SparkSuite.extSession
    val dir = java.nio.file.Files.createTempDirectory("mergefuzzsql").toString
    val t = new SnapshotTable(ext, dir)
    import ext.implicits._
    t.append(sc.target.toDF("id", "v", "qty").coalesce(1))
    val view = s"merge_fuzz_src_${math.abs(dir.hashCode)}"
    sc.source.toDF("id", "v", "qty").createOrReplaceTempView(view)
    try {
      ext.sql(mergeSql(sc, dir, view))
      Right(t.read().collect().map(r => (r.getLong(0),
        Option(r.getString(1)), Option(r.get(2)).map(_ => r.getLong(2))))
        .toSeq)
    } catch {
      case e: IllegalStateException
          if e.getMessage.contains("multiple source rows") => Left(())
    } finally ext.catalog.dropTempView(view)
  }

  private def canon(rs: Seq[(Long, Option[String], Option[Long])]) =
    rs.sortBy(r => (r._1, r._2.getOrElse(""), r._3.getOrElse(-1L)))

  /** Runs `sc` through both write steps (see [[runEngine]] for
    * `spread`) and checks each against the model — a spread run's model
    * target lacks the tombstoned `t0`. */
  private def differential(sc: Scenario, spread: Boolean): Unit = {
    val want = model(if (spread) sc.copy(target = sc.target.tail) else sc)
    val cow = runEngine(sc, mor = false, spread)
    val mor = runEngine(sc, mor = true, spread)
    (want, cow, mor) match {
      case (Left(()), Left(()), Left(())) => () // all refuse
      case (Right(w), Right(c), Right(m)) =>
        assert(canon(c) == canon(w),
          s"CoW diverged from the model for $sc")
        assert(canon(m) == canon(w),
          s"MoR diverged from the model for $sc")
      case other =>
        fail(s"refusal disagreement (model, cow, mor) = ${other
          .productIterator.map(_.getClass.getSimpleName).mkString(",")} for $sc")
    }
  }

  (1 to 14).foreach { seed =>
    test(s"differential merge fuzz, seed $seed: CoW and MoR match the row-level model") {
      differential(gen(seed), spread = false)
    }
  }

  (1 to 14).foreach { seed =>
    test(s"differential merge fuzz, seed $seed: a two-file target carrying a deletion vector matches the model") {
      differential(gen(seed), spread = true)
    }
  }

  (101 to 106).foreach { seed =>
    test(s"differential merge fuzz, seed $seed: the SQL statement matches the model") {
      val sc = sqlSafe(gen(seed))
      (model(sc), runSql(sc)) match {
        case (Left(()), Left(())) => ()
        case (Right(w), Right(s)) =>
          assert(canon(s) == canon(w),
            s"SQL MERGE diverged from the model for $sc")
        case other => fail(s"refusal disagreement (model, sql) for $sc")
      }
    }
  }
}
