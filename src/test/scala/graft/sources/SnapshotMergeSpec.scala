package graft.sources

import graft.SparkSuite
import graft.sources.SnapshotMerge.{Delete, Insert, Update}
import org.apache.spark.sql.functions._

/** The general conditional MERGE engine ([[SnapshotMerge]]): clause
  * semantics (first-wins, conditions, star expansion, NOT MATCHED BY
  * SOURCE), cardinality refusal, CoW/MoR byte parity, the no-rewrite
  * guarantee of the MoR path, and metadata pruning of the match scan. */
class SnapshotMergeSpec extends SparkSuite {
  import spark.implicits._

  private def tmpTable(): SnapshotTable = {
    val dir = java.nio.file.Files.createTempDirectory("snapmerge").toString
    new SnapshotTable(spark, dir)
  }

  private def asMap(t: SnapshotTable): Map[Long, (String, Long)] =
    t.read().collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap

  /** target: id, v, qty — three single-file appends. */
  private def seed(): SnapshotTable = {
    val t = tmpTable()
    t.append(Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "v", "qty").coalesce(1))
    t.append(Seq((3L, "c", 30L), (4L, "d", 40L)).toDF("id", "v", "qty").coalesce(1))
    t.append(Seq((5L, "e", 50L)).toDF("id", "v", "qty").coalesce(1))
    t
  }

  private val srcDf = Seq((2L, "B!", 200L), (3L, "C!", 5L), (9L, "i", 90L))
    .toDF("id", "v", "qty")
  private val onKeys = expr("target.id = source.id")

  test("conditional matched clauses: first-wins update/delete, others kept") {
    val t = seed()
    // qty >= 100 -> delete; else update v only (qty keeps target value)
    val v = t.mergeInto(srcDf, onKeys,
      matched = Seq(
        Delete(Some(expr("source.qty >= 100"))),
        Update(Some(expr("source.qty < 10")),
          Seq("v" -> expr("source.v")))))
    assert(v == 4)
    assert(asMap(t) == Map(
      1L -> ("a", 10L),            // untouched file
      // 2 deleted (source qty 200)
      3L -> ("C!", 30L),           // updated v, target qty kept
      4L -> ("d", 40L), 5L -> ("e", 50L)))
    // no insert clause: source key 9 did NOT land
  }

  test("update SET * and explicit insert values; unassigned insert cols null") {
    val t = seed()
    val src = Seq((3L, "C*", 333L), (9L, "i", 90L)).toDF("id", "v", "qty")
    val v = t.mergeInto(src, onKeys,
      matched = Seq(Update()),              // SET *
      notMatched = Seq(Insert(None,
        Seq("id" -> expr("source.id"), "v" -> expr("upper(source.v)")))))
    assert(v == 4)
    val got = t.read().collect()
      .map(r => r.getLong(0) -> (r.getString(1), Option(r.get(2)))).toMap
    assert(got(3L) == (("C*", Some(333L))))
    assert(got(9L) == (("I", None)), "unassigned insert column must be NULL")
    assert(got(1L) == (("a", Some(10L))))
  }

  test("conditional inserts route through the first passing clause; no clause = skipped") {
    val t = seed()
    val src = Seq((10L, "x", 5L), (11L, "y", 500L), (12L, "z", 5000L))
      .toDF("id", "v", "qty")
    t.mergeInto(src, onKeys,
      notMatched = Seq(
        Insert(Some(expr("source.qty >= 1000")),
          Seq("id" -> expr("source.id"), "v" -> lit("big"),
            "qty" -> expr("source.qty"))),
        Insert(Some(expr("source.qty >= 100"))))) // INSERT * fallback
    val got = asMap(t)
    assert(got(12L) == (("big", 5000L)), "first clause wins")
    assert(got(11L) == (("y", 500L)), "second clause catches the middle")
    assert(!got.contains(10L), "no passing clause: row skipped")
    assert(got(1L) == (("a", 10L)))
  }

  test("NOT MATCHED BY SOURCE: conditional update and delete") {
    val t = seed()
    // source holds only ids 2,3,9 -> 1,4,5 are unmatched-by-source
    val v = t.mergeInto(srcDf, onKeys,
      matched = Seq(Update(None, Seq("v" -> expr("source.v")))),
      notMatchedBySource = Seq(
        Delete(Some(expr("target.qty >= 50"))),       // kills 5
        Update(None, Seq("v" -> concat(col("target.v"), lit("_stale"))))))
    assert(v == 4)
    assert(asMap(t) == Map(
      1L -> ("a_stale", 10L), 2L -> ("B!", 20L), 3L -> ("C!", 30L),
      4L -> ("d_stale", 40L))) // 5 deleted
  }

  test("cardinality violation: a doubly-matched target row is refused") {
    val t = seed()
    val dup = Seq((3L, "x", 1L), (3L, "y", 2L)).toDF("id", "v", "qty")
    val e = intercept[IllegalStateException] {
      t.mergeInto(dup, onKeys, matched = Seq(Update()))
    }
    assert(e.getMessage.contains("multiple source rows"))
    // insert-only merges never hit the check (matched rows untouched)
    val v = t.mergeInto(dup, onKeys,
      notMatched = Seq(Insert()))
    assert(v == 0 || t.read().count() == 5,
      "doubly-matched rows with no matched clause change nothing")
  }

  test("CoW rewrites only applicable files; MoR rewrites none; byte parity") {
    val cow = seed()
    val mor = seed()
    val clauses = (
      Seq(Delete(Some(expr("source.qty >= 100"))),
        Update(None, Seq("v" -> expr("source.v")))),
      Seq(Insert()),
      Seq(Update(Some(expr("target.id = 5")),
        Seq("qty" -> expr("target.qty + 1")))))
    val beforeCow = cow.files().toSet
    cow.mergeInto(srcDf, onKeys, clauses._1, clauses._2, clauses._3)
    // file 1 (ids 1,2): id 2 matched-delete -> rewritten. file 2 (3,4):
    // id 3 matched-update -> rewritten. file 3 (id 5): nmbs update.
    assert((beforeCow -- cow.files().toSet).size == 3)

    val beforeMor = mor.files().toSet
    mor.mergeInto(srcDf, onKeys, clauses._1, clauses._2, clauses._3, mor = true)
    // no pre-merge file is REWRITTEN: the only one leaving the live
    // set is the single-row file whose union tombstones cover every
    // row (id 5, nmbs-updated) — the standard fully-covered-to-remove
    // conversion, not a rewrite; the partially-touched files survive
    // with DV sidecars
    assert((beforeMor -- mor.files().toSet).size == 1,
      "only the fully-tombstoned file may leave the live set")
    assert(mor.detail().head().getAs[Int]("num_dv_files") == 2,
      "partially-touched files must carry DVs, not rewrites")
    def full(t: SnapshotTable) = t.read().collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(full(mor) == full(cow))
    assert(full(cow) == Set((1L, "a", 10L), (3L, "C!", 30L), (4L, "d", 40L),
      (5L, "e", 51L), (9L, "i", 90L)))
    // older snapshots untouched on both paths
    assert(cow.read(Some(3)).count() == 5)
    assert(mor.read(Some(3)).count() == 5)
  }

  test("point merge prunes the match scan to the stat/bloom-hit file") {
    val t = tmpTable()
    // property DEFAULTS, so the merge's own rewrites re-record
    // stats/blooms and the second merge prunes just as tightly
    (0 until 5).foreach { b =>
      val lo = b * 100L
      t.appendWithStats(
        (lo until lo + 100L).map(i => (i, s"v$i")).toDF("id", "v")
          .repartition(1),
        statCols = Seq("id"), bloomCols = Seq("id"))
    }
    t.setProperty(SnapshotTable.StatColsProp, "id")
    t.setProperty(SnapshotTable.BloomColsProp, "id")
    t.mergeInto(Seq((250L, "hit")).toDF("id", "v"), onKeys,
      matched = Seq(Update(None, Seq("v" -> expr("source.v")))))
    assert(t.lastDmlCandidates.size == 1,
      s"point merge scanned ${t.lastDmlCandidates.size} files")
    assert(t.read().where(col("id") === 250L).select("v").as[String]
      .head() == "hit")
    // target-only literal conjunct also prunes (no source-key pair)
    t.mergeInto(Seq(("zz")).toDF("v2"), expr("target.id = 42 and source.v2 = 'zz'"),
      matched = Seq(Update(None, Seq("v" -> expr("source.v2")))))
    assert(t.lastDmlCandidates.size == 1,
      s"literal-conjunct merge scanned ${t.lastDmlCandidates.size} files")
    assert(t.read().where(col("id") === 42L).select("v").as[String]
      .head() == "zz")
  }

  test("no-op merges commit nothing; MoR no-op runs zero staging jobs") {
    val t = seed()
    val v0 = t.currentVersion
    // matches nothing, no insert clause
    assert(t.mergeInto(Seq((99L, "x", 1L)).toDF("id", "v", "qty"), onKeys,
      matched = Seq(Update())) == 0)
    assert(t.currentVersion == v0)
    // insert clauses that admit ZERO source rows also commit nothing
    assert(t.mergeInto(Seq((1L, "x", 1L)).toDF("id", "v", "qty"), onKeys,
      notMatched = Seq(SnapshotMerge.Insert(
        Some(expr("source.qty > 1000"))))) == 0)
    assert(t.currentVersion == v0)
    t.stagingRuns = 0
    assert(t.mergeInto(Seq((99L, "x", 1L)).toDF("id", "v", "qty"), onKeys,
      matched = Seq(Update()),
      notMatchedBySource = Seq(Delete(Some(expr("target.qty > 1000")))),
      mor = true) == 0)
    assert(t.currentVersion == v0)
    assert(t.stagingRuns == 0,
      "a no-op MoR merge must not stage anything")
  }

  test("clause validation: wrong kinds, bad targets, dup assignments refused") {
    val t = seed()
    intercept[IllegalArgumentException] {
      t.mergeInto(srcDf, onKeys, matched = Seq(Insert()))
    }
    intercept[IllegalArgumentException] {
      t.mergeInto(srcDf, onKeys, notMatched = Seq(Update()))
    }
    intercept[IllegalArgumentException] {
      t.mergeInto(srcDf, onKeys,
        matched = Seq(Update(None, Seq("nope" -> lit(1)))))
    }
    intercept[IllegalArgumentException] {
      t.mergeInto(srcDf, onKeys, matched = Seq(
        Update(None, Seq("v" -> lit("x"), "V" -> lit("y")))))
    }
    intercept[IllegalArgumentException] { // SET * in NOT MATCHED BY SOURCE
      t.mergeInto(srcDf, onKeys, notMatchedBySource = Seq(Update()))
    }
    intercept[IllegalArgumentException] { // no clauses at all
      t.mergeInto(srcDf, onKeys)
    }
  }

  test("custom aliases and assignment casting to the target type") {
    val t = seed()
    t.mergeInto(Seq((3L, "7")).toDF("id", "n"), expr("t.id = s.id"),
      matched = Seq(Update(None, Seq("qty" -> expr("s.n")))),
      targetAlias = "t", sourceAlias = "s")
    assert(asMap(t)(3L) == (("c", 7L)), "string assignment cast to long")
  }

  test("schema evolution: source-only columns join the table; parity CoW vs MoR") {
    def seed2(): SnapshotTable = {
      val t = tmpTable()
      t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1))
      t
    }
    val src = Seq((2L, "B", 20L), (9L, "i", 90L)).toDF("id", "v", "score")
    val cow = seed2(); val mor = seed2()
    cow.mergeInto(src, onKeys,
      matched = Seq(Update()), notMatched = Seq(Insert()),
      schemaEvolution = true)
    mor.mergeInto(src, onKeys,
      matched = Seq(Update()), notMatched = Seq(Insert()),
      schemaEvolution = true, mor = true)
    def got(t: SnapshotTable) = t.read().collect()
      .map(r => r.getLong(0) -> (r.getString(1),
        Option(r.get(r.fieldIndex("score"))))).toMap
    Seq(cow, mor).foreach { t =>
      assert(t.read().schema.fieldNames.toSeq == Seq("id", "v", "score"),
        "evolved column must join the recorded schema")
      assert(got(t) == Map(
        1L -> ("a", None),        // pre-merge row: null for the new col
        2L -> ("B", Some(20L)),   // matched SET * carries it
        9L -> ("i", Some(90L))))  // INSERT * carries it
    }
    // WITHOUT the flag, star expansion stays bounded to the target's
    // own columns — extra source columns are ignored, never smuggled
    val plain = seed2()
    plain.mergeInto(src, onKeys, matched = Seq(Update()),
      notMatched = Seq(Insert()))
    assert(plain.read().schema.fieldNames.toSeq == Seq("id", "v"))
  }

  test("NMBS-only merge: a doubly-matched target row is kept ONCE (no join fan-out, no spurious cardinality error)") {
    val t = tmpTable()
    // one file holding an applicable-unmatched row (id 1) AND a row
    // matched by TWO source rows (id 2) — the left-outer rewrite shape
    // would duplicate id 2; with no matched clauses SQL imposes no
    // cardinality constraint, so refusing would also be wrong
    t.append(Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "v", "qty")
      .coalesce(1))
    val dupSrc = Seq((2L, "x", 1L), (2L, "y", 2L)).toDF("id", "v", "qty")
    val v = t.mergeInto(dupSrc, onKeys,
      notMatchedBySource = Seq(
        Update(None, Seq("v" -> concat(col("target.v"), lit("_u"))))))
    assert(v > 0)
    val rows = t.read().collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(rows == Seq((1L, "a_u"), (2L, "b")),
      s"doubly-matched row must survive exactly once, got $rows")
  }

  test("stress: concurrent clause merges converge key-unique (CoW and MoR writers mixed)") {
    // the clause-engine twin of the merge/mergeMoR stress specs: three
    // writers (one of them MoR) upsert overlapping keys through
    // UPDATE-or-INSERT clause merges; the unscoped keyed commit must
    // serialize them (losers recompute from the winner's head) so the
    // final read is key-unique and every key holds SOME writer's value
    val dir = java.nio.file.Files.createTempDirectory("snapmstress").toString
    new SnapshotTable(spark, dir).append(
      Seq((0L, "seed")).toDF("id", "v").coalesce(1))
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 3).map { tid =>
      new Thread(() => try {
        val w = new SnapshotTable(spark, dir, checkpointInterval = 3)
        (0 until 5).foreach { i =>
          val key = (tid + i) % 4L
          val src = Seq((key, s"w$tid-$i")).toDF("id", "v")
          val cl = (Seq(Update()), Seq(Insert()))
          w.mergeInto(src, onKeys, matched = cl._1, notMatched = cl._2,
            mor = tid == 2)
        }
      } catch { case e: Throwable => errors.add(e) })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errors.isEmpty, s"writer died: ${Option(errors.peek()).map(_.getMessage)}")
    val t = new SnapshotTable(spark, dir, checkpointInterval = 3)
    val rows = t.read().collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    assert(rows.map(_._1).sorted == rows.map(_._1).distinct.sorted,
      s"clause-merge contract violated — duplicate keys: $rows")
    assert(rows.map(_._1).toSet == Set(0L, 1L, 2L, 3L))
    assert(t.currentVersion == 16, "every clause merge must commit exactly once")
  }

  test("streamingMergeSink: exactly-once micro-batch upserts, replay skipped") {
    val t = tmpTable()
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1))
    val sink = t.streamingMergeSink(Seq("id"), txnAppId = Some("cdc-pipe")) _
    sink(Seq((2L, "b2"), (3L, "c")).toDF("id", "v"), 0L)
    sink(Seq((3L, "c2"), (4L, "d")).toDF("id", "v"), 1L)
    val vAfter = t.currentVersion
    // crash-replay of batch 1: the committed tag skips it entirely
    sink(Seq((3L, "c2"), (4L, "d")).toDF("id", "v"), 1L)
    assert(t.currentVersion == vAfter, "replayed batch must not commit")
    val got = t.read().collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a", 2L -> "b2", 3L -> "c2", 4L -> "d"))
    // MoR flavor: same semantics, no pre-merge file rewritten
    val m = tmpTable()
    m.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").coalesce(1))
    val before = m.files().toSet
    val msink = m.streamingMergeSink(Seq("id"), txnAppId = Some("cdc-mor"),
      mor = true) _
    msink(Seq((2L, "B")).toDF("id", "v"), 0L)
    msink(Seq((2L, "B")).toDF("id", "v"), 0L) // replay
    assert(before.subsetOf(m.files().toSet))
    assert(m.read().collect().map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(1L -> "a", 2L -> "B", 3L -> "c"))
    // a bare sink with NO identity refuses (the r13 exactly-once hole)
    val e = intercept[IllegalStateException] {
      t.streamingMergeSink(Seq("id"))(Seq((9L, "z")).toDF("id", "v"), 0L)
    }
    assert(e.getMessage.contains("txnAppId"))
  }

  test("merge-on-read parity under pre-existing deletion vectors") {
    val cow = seed(); val mor = seed()
    // pre-tombstone id 4 on both, then merge source touching 3..5
    Seq(cow, mor).foreach(_.deleteWhere(col("id") === 4L, mor = true))
    val src = Seq((3L, "C2", 3L), (4L, "D2", 4L)).toDF("id", "v", "qty")
    cow.mergeInto(src, onKeys,
      matched = Seq(Update()), notMatched = Seq(Insert()))
    mor.mergeInto(src, onKeys,
      matched = Seq(Update()), notMatched = Seq(Insert()), mor = true)
    assert(asMap(cow) == asMap(mor))
    // the tombstoned row 4 is NOT matched (it is deleted), so the
    // source row for 4 INSERTS fresh on both paths
    assert(asMap(cow)(4L) == (("D2", 4L)))
    assert(asMap(cow)(3L) == (("C2", 3L)))
  }

  test("Delta parity: multi-matched row with NON-applying matched clause merges cleanly, kept once") {
    // id 3 matched by TWO source rows, but the matched clause's
    // condition (qty >= 100) excludes both pairs -> legal, row kept
    // verbatim exactly once; id 2's single pair applies -> updated;
    // id 9 unmatched -> inserted. CoW and MoR byte parity.
    val src = Seq((3L, "x", 1L), (3L, "y", 2L), (2L, "B!", 200L),
      (9L, "i", 90L)).toDF("id", "v", "qty")
    val clause = Seq(Update(Some(expr("source.qty >= 100")),
      Seq("v" -> expr("source.v"))))
    val cow = seed(); val mor = seed()
    cow.mergeInto(src, onKeys, matched = clause,
      notMatched = Seq(Insert()))
    mor.mergeInto(src, onKeys, matched = clause,
      notMatched = Seq(Insert()), mor = true)
    val want = Map( // the clause assigns v only: qty keeps target's 20
      1L -> ("a", 10L), 2L -> ("B!", 20L), 3L -> ("c", 30L),
      4L -> ("d", 40L), 5L -> ("e", 50L), 9L -> ("i", 90L))
    assert(cow.read().count() == 6, "the multi-matched row must be kept ONCE")
    assert(asMap(cow) == want)
    assert(asMap(mor) == want)
  }

  test("a multi-matched row with NON-applying matched clauses, sharing a rewritten file with an applying row, is kept once") {
    // one file: id 2's single pair applies (the file is rewritten), id
    // 3's two pairs apply to no clause — the rewrite must keep id 3
    // once and the tombstone step must leave it alone
    val src = Seq((3L, "x", 1L), (3L, "y", 2L), (2L, "B!", 200L))
      .toDF("id", "v", "qty")
    val clause = Seq(Update(Some(expr("source.qty >= 100")),
      Seq("v" -> expr("source.v"))))
    val want = Map(1L -> ("a", 10L), 2L -> ("B!", 20L), 3L -> ("c", 30L))
    Seq(false, true).foreach { mor =>
      val t = tmpTable()
      t.append(Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
        .toDF("id", "v", "qty").coalesce(1))
      val before = t.files().toSet
      assert(t.mergeInto(src, onKeys, matched = clause, mor = mor) == 2)
      assert(t.files().toSet.intersect(before).isEmpty == !mor,
        "copy-on-write rewrites the file; merge-on-read keeps it")
      assert(t.read().count() == 3, s"mor=$mor: id 3 must be kept ONCE")
      assert(asMap(t) == want)
    }
  }

  test("Delta parity: single unconditional DELETE multi-match deletes once") {
    val src = Seq((3L, "x", 1L), (3L, "y", 2L)).toDF("id", "v", "qty")
    val cow = seed(); val mor = seed()
    val vc = cow.mergeInto(src, onKeys, matched = Seq(Delete()))
    val vm = mor.mergeInto(src, onKeys, matched = Seq(Delete()), mor = true)
    assert(vc == 4 && vm == 4)
    val want = Map(1L -> ("a", 10L), 2L -> ("b", 20L),
      4L -> ("d", 40L), 5L -> ("e", 50L))
    assert(asMap(cow) == want)
    assert(asMap(mor) == want)
  }

  test("cardinality still refused when a clause APPLIES to a multi-matched row") {
    val src = Seq((3L, "x", 1L), (3L, "y", 2L)).toDF("id", "v", "qty")
    // conditional clause that APPLIES to one of the pairs
    val e1 = intercept[IllegalStateException] {
      seed().mergeInto(src, onKeys, matched = Seq(
        Update(Some(expr("source.qty >= 2")), Seq("v" -> expr("source.v")))))
    }
    assert(e1.getMessage.contains("multiple source rows"))
    // DELETE-with-condition is NOT the unconditional-delete exception
    val e2 = intercept[IllegalStateException] {
      seed().mergeInto(src, onKeys,
        matched = Seq(Delete(Some(expr("source.qty >= 0")))))
    }
    assert(e2.getMessage.contains("multiple source rows"))
    // unconditional DELETE alongside another clause: not exempt either
    val e3 = intercept[IllegalStateException] {
      seed().mergeInto(src, onKeys, matched = Seq(Delete(),
        Update(None, Seq("v" -> expr("source.v")))), mor = true)
    }
    assert(e3.getMessage.contains("multiple source rows"))
  }

  test("reserved source columns refuse: __file/__ridx/__name") {
    val t = seed()
    Seq("__file", "__ridx", "__name").foreach { bad =>
      val src = Seq((2L, "B", 1L)).toDF("id", "v", bad)
      val e = intercept[IllegalArgumentException] {
        t.mergeInto(src, onKeys, matched = Seq(Delete()))
      }
      assert(e.getMessage.contains("reserved"), s"$bad must refuse")
    }
  }

  test("initial-load MERGE into a table with no committed version inserts (API path)") {
    val t = tmpTable()
    val src = Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "v", "qty")
    // without insert clauses there is nothing an empty-table merge
    // could do -> refused with the initial-load pointer
    val e = intercept[IllegalArgumentException] {
      t.mergeInto(src, onKeys, matched = Seq(Update()),
        declaredSchema = Some(src.schema))
    }
    assert(e.getMessage.contains("initial-load"))
    val v = t.mergeInto(src, onKeys,
      matched = Seq(Update()), notMatched = Seq(Insert()),
      declaredSchema = Some(src.schema))
    assert(v == 1, "initial load must land version 1")
    assert(asMap(t) == Map(1L -> ("a", 10L), 2L -> ("b", 20L)))
    // and the now-populated table merges normally
    t.mergeInto(Seq((2L, "B", 2L)).toDF("id", "v", "qty"), onKeys,
      matched = Seq(Update()), notMatched = Seq(Insert()))
    assert(asMap(t)(2L) == (("B", 2L)))
  }
}
