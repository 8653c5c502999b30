package graft.sources

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** [[SnapshotTable.replaceWhere]] — the Delta targeted-overwrite
  * contract: delete-matching + insert in ONE keyed commit, inserted
  * rows validated against the condition, only matching files
  * rewritten. */
class SnapshotReplaceWhereSpec extends SparkSuite {
  import spark.implicits._

  private def tmpTable(): SnapshotTable = {
    val dir = java.nio.file.Files.createTempDirectory("snaprw").toString
    new SnapshotTable(spark, dir)
  }

  /** 3 single-file appends, k in {1, 2, 3}, stats on k. */
  private def seed(): SnapshotTable = {
    val t = tmpTable()
    (1 to 3).foreach(k => t.appendWithStats(
      (0 until 10).map(i => (k * 100L + i, k.toLong)).toDF("id", "k")
        .coalesce(1), Seq("k")))
    t
  }

  test("replaceWhere swaps exactly the matching slab; one commit; untouched files stay") {
    val t = seed()
    val before = t.files().toSet
    val v0 = t.currentVersion
    val v = t.replaceWhere(
      Seq((9001L, 2L), (9002L, 2L)).toDF("id", "k"), col("k") === 2L)
    assert(v == v0 + 1, "replace must be ONE commit")
    assert((before -- t.files().toSet).size == 1,
      "only the k=2 file may be rewritten")
    val got = t.read().collect().map(r => r.getLong(0)).toSet
    assert(got.count(_ >= 9000L) == 2)
    assert(!got.exists(id => id >= 200L && id < 300L),
      "old k=2 rows must be gone")
    assert(got.count(id => id >= 100L && id < 200L) == 10,
      "k=1 rows untouched")
    // older snapshot intact
    assert(t.read(Some(v0)).count() == 30)
  }

  test("validation refuses smuggled rows pre-commit; validate=false opts out") {
    val t = seed()
    val v0 = t.currentVersion
    val e = intercept[IllegalArgumentException] {
      t.replaceWhere(Seq((9001L, 2L), (9002L, 5L)).toDF("id", "k"),
        col("k") === 2L)
    }
    assert(e.getMessage.contains("replace condition"))
    assert(t.currentVersion == v0, "refusal must commit NOTHING")
    t.replaceWhere(Seq((9002L, 5L)).toDF("id", "k"), col("k") === 2L,
      validate = false)
    assert(t.read().filter(col("k") === 5L).count() == 1)
  }

  test("no-match replace inserts; empty frame deletes; neither commits nothing") {
    val t = seed()
    val v1 = t.replaceWhere(Seq((9900L, 9L)).toDF("id", "k"),
      col("k") === 9L)
    assert(v1 > 0 && t.read().filter(col("k") === 9L).count() == 1)
    // empty incoming frame = delete the slab
    val v2 = t.replaceWhere(
      Seq.empty[(Long, Long)].toDF("id", "k"), col("k") === 9L)
    assert(v2 == v1 + 1 && t.read().filter(col("k") === 9L).count() == 0)
    // nothing to delete, nothing to insert: no commit
    assert(t.replaceWhere(Seq.empty[(Long, Long)].toDF("id", "k"),
      col("k") === 9L) == 0)
  }

  test("writer option replaceWhere routes mode(overwrite) to the verb") {
    val t = seed()
    val root = t.root
    Seq((9001L, 3L)).toDF("id", "k").write.format("snapshot")
      .mode("overwrite").option("replaceWhere", "k = 3").save(root)
    val got = t.read().collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.count(_._2 == 3L) == 1, "k=3 slab replaced by one row")
    assert(got.count(_._2 == 1L) == 10 && got.count(_._2 == 2L) == 10,
      "other slabs untouched (a bare overwrite would have dropped them)")
    // option validation flows too
    intercept[Exception] {
      Seq((1L, 7L)).toDF("id", "k").write.format("snapshot")
        .mode("overwrite").option("replaceWhere", "k = 3").save(root)
    }
    Seq((1L, 7L)).toDF("id", "k").write.format("snapshot")
      .mode("overwrite").option("replaceWhere", "k = 3")
      .option("replaceWhereValidate", "false").save(root)
    assert(t.read().filter(col("k") === 7L).count() == 1)
  }

  test("replaceWhereMoR: byte parity with CoW, zero files rewritten") {
    val cow = seed(); val mor = seed()
    val beforeMor = mor.files().toSet
    val repl = Seq((9001L, 2L), (9002L, 2L)).toDF("id", "k")
    cow.replaceWhere(repl, col("k") === 2L)
    mor.replaceWhere(repl, col("k") === 2L, mor = true)
    def full(t: SnapshotTable) = t.read().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full(cow) == full(mor))
    // the k=2 file is FULLY tombstoned -> converts to a plain remove;
    // no pre-existing file is rewritten, the new rows append
    assert(beforeMor.intersect(mor.files().toSet).size == 2,
      "untouched files must survive as-is on the MoR path")
    // validation contract shared
    intercept[IllegalArgumentException] {
      mor.replaceWhere(Seq((1L, 7L)).toDF("id", "k"), col("k") === 2L, mor = true)
    }
    // dml.mode=mor routes the writer option to the MoR verb
    val routed = seed()
    routed.setProperty(SnapshotDml.DmlModeProp, "mor")
    val beforeRouted = routed.files().toSet
    Seq((9100L, 1L)).toDF("id", "k").write.format("snapshot")
      .mode("overwrite").option("replaceWhere", "k = 1").save(routed.root)
    assert(beforeRouted.intersect(routed.files().toSet).size == 2)
    assert(routed.read().filter(col("k") === 1L).count() == 1)
  }

  test("stress: concurrent replaceWhere writers on disjoint slabs all land") {
    val t = seed()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    try {
      val fs = (1 to 3).map { k =>
        Future {
          t.replaceWhere(
            Seq((9000L + k, k.toLong)).toDF("id", "k"),
            col("k") === k.toLong)
        }
      }
      val vs = Await.result(Future.sequence(fs), 120.seconds)
      assert(vs.forall(_ > 0) && vs.distinct.size == 3,
        s"keyed commits must serialize to distinct versions: $vs")
      val got = t.read().collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(got.length == 3 && got.map(_._1).toSet ==
        Set(9001L, 9002L, 9003L),
        s"every slab must be replaced exactly once, got ${got.toSeq}")
    } finally pool.shutdown()
  }

  test("metadata pruning narrows the match scan (stats on k)") {
    val t = seed()
    t.replaceWhere(Seq((9001L, 2L)).toDF("id", "k"), col("k") === 2L)
    assert(t.lastDmlCandidates.size == 1,
      s"stat-pruned replace planned ${t.lastDmlCandidates.size} files")
  }

  test("interleaved blind append that MAY match the condition conflicts; the retry replaces its rows (Delta ConcurrentAppend rule)") {
    val t = seed()
    val other = new SnapshotTable(spark, t.root)
    // lands BETWEEN the replace's base read and its commit publish:
    // a blind (non-keyed) append whose file stats say k=2 — exactly
    // the interleave that used to commute and leave matching rows
    // alive after the "replace"
    t.raceInjector = () => {
      other.appendWithStats(
        Seq((7777L, 2L)).toDF("id", "k").coalesce(1), Seq("k")); ()
    }
    t.replaceWhere(Seq((9001L, 2L)).toDF("id", "k"), col("k") === 2L)
    val k2 = t.read().filter(col("k") === 2L).collect().map(_.getLong(0))
    assert(k2.toSet == Set(9001L),
      s"the concurrently appended k=2 row must be replaced by the " +
        s"retry, not survive alongside the replacement; got ${k2.toSeq}")
  }

  test("interleaved blind append provably DISJOINT from the condition commutes (no retry)") {
    val t = seed()
    val other = new SnapshotTable(spark, t.root)
    t.raceInjector = () => {
      other.appendWithStats(
        Seq((7777L, 9L)).toDF("id", "k").coalesce(1), Seq("k")); ()
    }
    t.stagingRuns = 0
    t.replaceWhere(Seq((9001L, 2L)).toDF("id", "k"), col("k") === 2L)
    // one incoming staging + one survivors staging; a conflict retry
    // would double that
    assert(t.stagingRuns == 2,
      s"a stats-disjoint append must commute, ran ${t.stagingRuns} stagings")
    val got = t.read().collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.count(_._2 == 9L) == 1 && got.count(_._2 == 2L) == 1)
  }

  test("interleaved STAT-LESS append conflicts (the guard is sound, never optimistic)") {
    val t = seed()
    val other = new SnapshotTable(spark, t.root)
    t.raceInjector = () => {
      // bare append: no stats recorded on k, so the guard cannot prove
      // the file disjoint — it must conflict even though the rows
      // happen not to match
      other.append(Seq((7777L, 9L)).toDF("id", "k").coalesce(1)); ()
    }
    t.stagingRuns = 0
    t.replaceWhere(Seq((9001L, 2L)).toDF("id", "k"), col("k") === 2L)
    assert(t.stagingRuns >= 4,
      s"a stat-less append must force a recompute, ran ${t.stagingRuns}")
    val got = t.read().collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.count(_._2 == 9L) == 1, "the appended row stays (it does not match)")
    assert(got.filter(_._2 == 2L).map(_._1).toSet == Set(9001L))
  }

  test("validation rides the staging aggregate: identical job count with validation on and off") {
    val counter = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        counter.incrementAndGet()
    }
    def jobs(body: => Unit): Long = {
      // the listener bus is async: drain before zeroing and after the
      // (synchronous) actions inside body complete
      Thread.sleep(500); counter.set(0)
      body
      Thread.sleep(500); counter.get
    }
    spark.sparkContext.addSparkListener(listener)
    // stat columns configured (the recommended table shape): the
    // staging stats aggregate runs regardless, and the validation flag
    // rides it — zero extra jobs. (On a stat-less table the flag IS
    // the one aggregate pass over the batch — still never a separate
    // pre-pass over the frame, and never a table scan.)
    def statSeed() = { val t = seed()
      t.setProperty(SnapshotTable.StatColsProp, "k"); t }
    try {
      val a = statSeed(); val b = statSeed()
      val repl = Seq((9001L, 2L), (9002L, 2L)).toDF("id", "k")
      val on = jobs(a.replaceWhere(repl, col("k") === 2L, validate = true))
      val off = jobs(b.replaceWhere(repl, col("k") === 2L, validate = false))
      assert(on == off,
        s"validation must not run extra jobs: $on with vs $off without")
      // MoR path too
      val c = statSeed(); val d = statSeed()
      val onM = jobs(c.replaceWhere(repl, col("k") === 2L, validate = true,
        mor = true))
      val offM = jobs(d.replaceWhere(repl, col("k") === 2L, validate = false,
        mor = true))
      assert(onM == offM,
        s"MoR validation must not run extra jobs: $onM with vs $offM without")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("refusal leaves NOTHING behind: no commit, no staged files, no sidecars") {
    val t = seed()
    val v0 = t.currentVersion
    val dataBefore = t.files().toSet
    val bad = Seq((9001L, 2L), (9002L, 5L)).toDF("id", "k")
    intercept[IllegalArgumentException] {
      t.replaceWhere(bad, col("k") === 2L)
    }
    intercept[IllegalArgumentException] {
      t.replaceWhere(bad, col("k") === 2L, mor = true)
    }
    assert(t.currentVersion == v0 && t.files().toSet == dataBefore)
    val root = new org.apache.hadoop.fs.Path(t.root)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new org.apache.hadoop.fs.Path(t.root, "_staging")
    val leftovers =
      if (!fs.exists(staging)) Array.empty[String]
      else fs.listStatus(staging).map(_.getPath.getName)
        .filterNot(_.startsWith("manifest-")) // none expected either
    assert(leftovers.isEmpty,
      s"refusal must clean its staging, found ${leftovers.toSeq}")
    val index = new org.apache.hadoop.fs.Path(t.root, "_index")
    val dvs = if (!fs.exists(index)) Array.empty[String]
      else fs.listStatus(index).map(_.getPath.getName)
        .filter(_.contains(".dv-"))
    assert(dvs.isEmpty,
      s"MoR refusal must precede tombstone builds, found ${dvs.toSeq}")
  }
}
