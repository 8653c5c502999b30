package graft.sources

import graft.SparkSuite
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Differential fuzz of the targeted overwrite: seeded random
  * (table, condition, incoming frame, interleaved append) scenarios
  * checked against an independent ROW-LEVEL MODEL of the replaceWhere
  * contract, on BOTH commit paths — CoW and MoR must match the model
  * AND each other.
  *
  * The model is one line: with A the rows an interleaved writer
  * appends between the verb's base read and its publish,
  *
  *   final = ((base ∪ A) \ {rows matching cond}) ∪ incoming
  *
  * i.e. the replace must cover CONCURRENTLY APPENDED matching rows
  * too (the ConcurrentAppend guard forces the recompute that makes
  * this true), while disjoint appended rows survive. Scenarios vary
  * stats coverage on the appends (stat-less appends exercise the
  * guard's sound always-conflict fallback; stat-bearing disjoint ones
  * its commute), and every fourth-ish seed smuggles a row violating
  * the condition into the frame — the verb must refuse pre-commit
  * with the table byte-identical. Seeds are fixed: failures
  * reproduce. */
class SnapshotReplaceWhereFuzzSpec extends SparkSuite {
  import spark.implicits._

  private case class Cond(lo: Long, hi: Long) {
    def column: Column = col("k").between(lo, hi)
    def eval(k: Long): Boolean = k >= lo && k <= hi
  }

  private case class Scenario(
      appends: Seq[(Seq[(Long, Long, Long)], Boolean)], // rows, stats on k?
      cond: Cond,
      incoming: Seq[(Long, Long, Long)],
      smuggle: Boolean,
      injected: Option[(Seq[(Long, Long, Long)], Boolean)])

  private def gen(seed: Int): Scenario = {
    val r = new scala.util.Random(seed)
    def rows(n: Int, pfx: Long) = (0 until n).map(i =>
      (pfx * 1000 + i, r.nextInt(6).toLong, r.nextInt(40).toLong))
    val appends = (1 to 1 + r.nextInt(3)).map(a =>
      (rows(2 + r.nextInt(5), a), r.nextBoolean()))
    val lo = r.nextInt(6).toLong
    val cond = Cond(lo, lo + r.nextInt(3))
    val span = (cond.hi - cond.lo + 1).toInt
    val incoming = (0 until 1 + r.nextInt(3)).map(i =>
      (9000L + i, cond.lo + r.nextInt(span), r.nextInt(40).toLong))
    val smuggle = r.nextInt(4) == 0
    // a smuggling seed tests the pre-commit refusal; the injector
    // would never fire on it (refusal precedes the commit window)
    val injected =
      if (!smuggle && r.nextBoolean())
        Some((rows(1 + r.nextInt(3), 99), r.nextBoolean()))
      else None
    Scenario(appends,
      cond,
      if (smuggle) incoming :+ ((9999L, cond.hi + 1, 0L)) else incoming,
      smuggle, injected)
  }

  private def seedTable(sc: Scenario): SnapshotTable = {
    val dir = java.nio.file.Files.createTempDirectory("rwfuzz").toString
    val t = new SnapshotTable(spark, dir)
    sc.appends.foreach { case (rows, st) =>
      t.appendWithStats(rows.toDF("id", "k", "v").coalesce(1),
        if (st) Seq("k") else Nil)
    }
    t
  }

  private def state(t: SnapshotTable): Seq[(Long, Long, Long)] =
    t.read().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted

  private def run(seed: Int): Unit = {
    val sc = gen(seed)
    val cow = seedTable(sc)
    val mor = seedTable(sc)
    val incomingDf = sc.incoming.toDF("id", "k", "v")
    if (sc.smuggle) {
      for (t <- Seq(cow, mor)) {
        val before = state(t)
        val v0 = t.currentVersion
        intercept[IllegalArgumentException] {
          t.replaceWhere(incomingDf, sc.cond.column, mor = t eq mor)
        }
        assert(t.currentVersion == v0 && state(t) == before,
          s"seed $seed: refusal must leave the table byte-identical")
      }
    } else {
      for (t <- Seq(cow, mor)) {
        sc.injected.foreach { case (rows, st) =>
          val other = new SnapshotTable(spark, t.root)
          t.raceInjector = () => {
            other.appendWithStats(rows.toDF("id", "k", "v").coalesce(1),
              if (st) Seq("k") else Nil); ()
          }
        }
        t.replaceWhere(incomingDf, sc.cond.column, mor = t eq mor)
      }
      val base = sc.appends.flatMap(_._1)
      val appended = sc.injected.map(_._1).getOrElse(Nil)
      val expected = ((base ++ appended).filterNot(r => sc.cond.eval(r._2))
        ++ sc.incoming).sorted
      val (gotCow, gotMor) = (state(cow), state(mor))
      assert(gotCow == expected,
        s"seed $seed CoW: got $gotCow expected $expected")
      assert(gotMor == expected,
        s"seed $seed MoR: got $gotMor expected $expected")
      assert(gotCow == gotMor, s"seed $seed: CoW/MoR divergence")
    }
  }

  (1 to 14).foreach { seed =>
    test(s"replaceWhere differential fuzz seed $seed") { run(seed) }
  }
}
