package graft.sources

import graft.SparkSuite
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Differential fuzz of the row-level DML verbs — `deleteWhere`,
  * `updateWhere` and keyed `merge` — on BOTH commit paths against an
  * independent ROW-LEVEL MODEL. Each seed runs a random SEQUENCE of
  * appends and verbs on three tables at once: one copy-on-write, one
  * merge-on-read, and one that flips a coin per verb, so later verbs
  * land on deletion-vector-bearing files, on files an earlier verb
  * already rewrote, and (mixed) on rewrites of DV-bearing files.
  *
  * The model is SQL's three-valued row semantics over (id, k, v) with
  * nullable k/v: a row matches only when the condition is TRUE (a
  * NULL condition keeps the row and leaves it unassigned). Sequences
  * deliberately re-use earlier conditions, so re-deletes of
  * tombstoned rows and updates of already-updated copies occur on
  * every seed. After every verb all three tables must read exactly
  * the model, and all three must agree on whether the verb committed
  * (a verb that matched no live row commits nothing, on either
  * path). Seeds are fixed: failures reproduce. */
class SnapshotDmlFuzzSpec extends SparkSuite {
  import spark.implicits._

  private type R = (Long, Option[Long], Option[Long]) // id, k, v

  /** Conditions the model evaluates under SQL three-valued logic. */
  private sealed trait Cond {
    def column: Column
    def eval(r: R): Option[Boolean]
  }
  private case class KBetween(lo: Long, hi: Long) extends Cond {
    def column: Column = col("k").between(lo, hi)
    def eval(r: R): Option[Boolean] = r._2.map(k => k >= lo && k <= hi)
  }
  private case class VGt(c: Long) extends Cond {
    def column: Column = col("v") > c
    def eval(r: R): Option[Boolean] = r._3.map(_ > c)
  }
  private case class IdIn(ids: Seq[Long]) extends Cond {
    def column: Column = col("id").isin(ids: _*)
    def eval(r: R): Option[Boolean] = Some(ids.contains(r._1))
  }
  private case object KIsNull extends Cond {
    def column: Column = col("k").isNull
    def eval(r: R): Option[Boolean] = Some(r._2.isEmpty)
  }
  private case class Not(a: Cond) extends Cond {
    def column: Column = !a.column
    def eval(r: R): Option[Boolean] = a.eval(r).map(!_)
  }
  private case class Or(a: Cond, b: Cond) extends Cond {
    def column: Column = a.column || b.column
    def eval(r: R): Option[Boolean] = (a.eval(r), b.eval(r)) match {
      case (Some(true), _) | (_, Some(true)) => Some(true)
      case (Some(false), Some(false)) => Some(false)
      case _ => None
    }
  }

  /** Assignments the model applies to a matched row. */
  private sealed trait Assign {
    def target: String
    def column: Column
    def apply(r: R): R
  }
  private case object VPlus extends Assign {
    val target = "v"
    def column: Column = col("v") + 1000L
    def apply(r: R): R = r.copy(_3 = r._3.map(_ + 1000L))
  }
  private case object VNull extends Assign {
    val target = "v"
    def column: Column = lit(null)
    def apply(r: R): R = r.copy(_3 = None)
  }
  private case class KSet(c: Long) extends Assign {
    val target = "k"
    def column: Column = lit(c)
    def apply(r: R): R = r.copy(_2 = Some(c))
  }
  private case object IdShift extends Assign {
    val target = "id"
    def column: Column = col("id") + 500L
    def apply(r: R): R = r.copy(_1 = r._1 + 500L)
  }

  private sealed trait Op
  private case class Append(rows: Seq[R], stats: Seq[String],
      blooms: Seq[String]) extends Op
  private case class Delete(c: Cond) extends Op
  private case class Update(c: Cond, set: Seq[Assign]) extends Op
  private case class Merge(source: Seq[R]) extends Op

  private def gen(r: scala.util.Random, model: Seq[R], used: Seq[Cond],
      nextId: () => Long): Op = {
    def opt(n: Int): Option[Long] =
      if (r.nextInt(5) == 0) None else Some(r.nextInt(n).toLong)
    def row(): R = (nextId(), opt(6), opt(40))
    def leaf(): Cond = r.nextInt(4) match {
      case 0 => val lo = r.nextInt(6).toLong; KBetween(lo, lo + r.nextInt(3))
      case 1 => VGt(r.nextInt(40).toLong)
      case 2 =>
        val pool = model.map(_._1) ++ Seq(99999L)
        IdIn(Seq.fill(1 + r.nextInt(3))(pool(r.nextInt(pool.size))).distinct)
      case _ => KIsNull
    }
    def cond(): Cond =
      // re-use: re-deletes of tombstoned rows, updates of updated copies
      if (used.nonEmpty && r.nextInt(3) == 0) used(r.nextInt(used.size))
      else r.nextInt(5) match {
        case 0 => Not(leaf())
        case 1 => Or(leaf(), leaf())
        case _ => leaf()
      }
    r.nextInt(7) match {
      case 0 =>
        Append(Seq.fill(2 + r.nextInt(5))(row()),
          if (r.nextBoolean()) Seq("id", "k") else Nil,
          if (r.nextInt(3) == 0) Seq("id") else Nil)
      case 1 | 2 => Delete(cond())
      case 3 | 4 =>
        val pool = Seq(VPlus, VNull, KSet(r.nextInt(6).toLong), IdShift)
        val set = r.shuffle(pool).take(1 + r.nextInt(2))
          .groupBy(_.target).values.map(_.head).toSeq
        Update(cond(), set)
      case _ =>
        // key-unique source: some live keys, some new ones
        val live = model.map(_._1).distinct
        val hits = r.shuffle(live).take(r.nextInt(3))
        val fresh = Seq.fill(1 + r.nextInt(2))(nextId())
        Merge((hits ++ fresh).map(id => (id, opt(6), opt(40))))
    }
  }

  /** Applies `op` to the model; `true` when some live row changed. */
  private def step(model: Seq[R], op: Op): (Seq[R], Boolean) = op match {
    case Append(rows, _, _) => (model ++ rows, true)
    case Delete(c) =>
      val hit = model.filter(c.eval(_).contains(true))
      (model.filterNot(c.eval(_).contains(true)), hit.nonEmpty)
    case Update(c, set) =>
      val out = model.map(r =>
        if (c.eval(r).contains(true)) set.foldLeft(r)((a, s) => s(a)) else r)
      (out, model.exists(c.eval(_).contains(true)))
    case Merge(src) =>
      val keys = src.map(_._1).toSet
      (model.filterNot(r => keys(r._1)) ++ src, true)
  }

  private def exec(t: SnapshotTable, op: Op, mor: Boolean): Int = op match {
    case Append(rows, stats, blooms) =>
      t.appendWithStats(rows.toDF("id", "k", "v").coalesce(1), stats, blooms)
    case Delete(c) => t.deleteWhere(c.column, mor = mor)
    case Update(c, set) =>
      t.updateWhere(c.column, set.map(s => s.target -> s.column), mor = mor)
    case Merge(src) =>
      t.merge(src.toDF("id", "k", "v").coalesce(1), Seq("id"), mor = mor)
  }

  private def contents(t: SnapshotTable): Seq[R] =
    t.read().select("id", "k", "v").collect().map(r =>
      (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]),
        Option(r.get(2)).map(_.asInstanceOf[Long]))).toSeq.sorted

  private def run(seed: Int): Unit = {
    val r = new scala.util.Random(seed)
    val coin = new scala.util.Random(seed * 31 + 7)
    var id = 0L
    val nextId = () => { id += 1; id }
    val tables = Seq("cow", "mor", "mixed").map(_ -> new SnapshotTable(
      spark, java.nio.file.Files.createTempDirectory("dmlfuzz").toString))
    var model = Seq.empty[R]
    var used = Seq.empty[Cond]
    val first: Op = Append(Seq.fill(6)((nextId(), Some(r.nextInt(6).toLong),
      Some(r.nextInt(40).toLong))), Seq("id", "k"), Nil)
    (0 until 10).foreach { i =>
      val op = if (i == 0) first else gen(r, model, used, nextId)
      op match {
        case Delete(c) => used :+= c
        case Update(c, _) => used :+= c
        case _ =>
      }
      val (next, changed) = step(model, op)
      val versions = tables.map { case (name, t) =>
        val mor = name == "mor" || (name == "mixed" && coin.nextBoolean())
        name -> exec(t, op, mor)
      }
      model = next
      val want = model.sorted
      tables.foreach { case (name, t) =>
        val got = contents(t)
        assert(got == want,
          s"seed $seed op $i ($op) on $name: got $got, model $want")
      }
      versions.foreach { case (name, v) =>
        assert((v > 0) == changed,
          s"seed $seed op $i ($op) on $name: returned $v, model " +
            s"${if (changed) "changed rows" else "matched no live row"}")
      }
    }
  }

  (1 to 8).foreach { seed =>
    test(s"delete/update/merge differential fuzz seed $seed") { run(seed) }
  }
}
