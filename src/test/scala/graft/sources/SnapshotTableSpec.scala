package graft.sources

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Manifest-log snapshot table: time travel, compaction that preserves
  * history, crash-invisibility of staged work, optimistic-race
  * behavior, and vacuum retention. */
class SnapshotTableSpec extends SparkSuite {
  import spark.implicits._

  private def tmpTable(): SnapshotTable = {
    val dir = java.nio.file.Files.createTempDirectory("snaptab").toString
    new SnapshotTable(spark, dir)
  }

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("id").collect().map(_.getLong(0)).toSet

  /** The files `readWhere(cond)` plans (planning runs eagerly). A
    * `c BETWEEN v AND v` condition prunes by the stats alone, `c === v`
    * by the stats plus the bloom; on a long column a string literal
    * (`col("id") === "5"`) derives only the bloom probe. */
  private def planned(t: SnapshotTable,
      cond: org.apache.spark.sql.Column): Seq[String] = {
    t.readWhere(cond)
    t.lastDmlCandidates
  }

  test("append creates versions; every old snapshot stays readable") {
    val t = tmpTable()
    assert(t.currentVersion == 0)
    val v1 = t.append(Seq(1L, 2L).toDF("id"))
    val v2 = t.append(Seq(3L).toDF("id"))
    val v3 = t.append(Seq(4L, 5L).toDF("id"))
    assert((v1, v2, v3) == ((1, 2, 3)))
    assert(ids(t.read()) == Set(1L, 2L, 3L, 4L, 5L))
    assert(ids(t.read(Some(1))) == Set(1L, 2L))
    assert(ids(t.read(Some(2))) == Set(1L, 2L, 3L))
    assert(t.read(Some(0)).count() == 0) // empty snapshot, newest schema
  }

  test("compact shrinks the live file list without touching history") {
    val t = tmpTable()
    (1L to 4L).foreach(i => t.append(Seq(i).toDF("id")))
    val filesBefore = t.files().size
    val vc = t.compact(coalesceTo = 1)
    assert(vc == 5)
    assert(t.files().size == 1 && filesBefore >= 4)
    assert(ids(t.read()) == Set(1L, 2L, 3L, 4L))
    // pre-compaction snapshots still resolve to the ORIGINAL files
    assert(ids(t.read(Some(2))) == Set(1L, 2L))
    assert(t.files(Some(2)).size == 2)
  }

  test("uncommitted staging is invisible; the manifest rename is the commit point") {
    val t = tmpTable()
    t.append(Seq(1L).toDF("id"))
    // simulate a writer crash: data files staged into data/, manifest
    // written under _staging/, but never renamed into _log
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val orphan = new org.apache.hadoop.fs.Path(s"${t.root}/data/dead-part-0.parquet")
    Seq(99L).toDF("id").write.parquet(s"${t.root}/_staging/crash")
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(s"${t.root}/_staging/crash"))
      .filter(_.getPath.getName.startsWith("part-")).head.getPath
    fs.rename(part, orphan)
    val manifest = new org.apache.hadoop.fs.Path(
      s"${t.root}/_staging/manifest-crash.json")
    val out = fs.create(manifest, true)
    out.write(s"""{"add":["$orphan"],"remove":[]}""".getBytes("UTF-8"))
    out.close()
    // readers never see the orphan
    assert(t.currentVersion == 1)
    assert(ids(t.read()) == Set(1L))
    // vacuum reaps the orphan data file and staging leftovers — but
    // only once provably stale (negative grace = everything eligible;
    // inside the default grace window the orphan might be an in-flight
    // commit and MUST survive, see the dedicated grace test)
    assert(t.vacuum(retainFrom = 1) == 0, "fresh orphan is inside the grace window")
    val reaped = t.vacuum(retainFrom = 1, stagingGraceMs = -1000L)
    assert(reaped == 1)
    assert(ids(t.read()) == Set(1L))
  }

  test("optimistic race: a squatted next slot is skipped, not overwritten") {
    val t = tmpTable()
    t.append(Seq(1L).toDF("id"))
    // squat version 2 with a valid empty manifest (a concurrent writer
    // that won the race)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val squat = new org.apache.hadoop.fs.Path(s"${t.root}/_log/00000002.json")
    val out = fs.create(squat, false)
    out.write("""{"add":[],"remove":[]}""".getBytes("UTF-8"))
    out.close()
    val v = t.append(Seq(2L).toDF("id"))
    assert(v == 3, "loser of the race must land on the NEXT slot")
    assert(ids(t.read()) == Set(1L, 2L))
    assert(ids(t.read(Some(2))) == Set(1L)) // squatter's empty commit intact
  }

  test("genuinely concurrent writers never lose a commit") {
    val t = tmpTable()
    // two threads, 8 appends each, racing on every log slot: the
    // hard-link publish must serialize them with zero lost manifests
    val threads = (0 until 2).map { tid =>
      new Thread(() => (0 until 8).foreach { i =>
        t.append(Seq(tid * 100L + i).toDF("id")); ()
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(t.currentVersion == 16, "every commit must land in its own slot")
    assert(ids(t.read()) ==
      ((0 until 8).map(_.toLong) ++ (0 until 8).map(100L + _)).toSet)
  }

  test("vacuum honors retention: files below retainFrom are reaped, the rest read fine") {
    val t = tmpTable()
    (1L to 3L).foreach(i => t.append(Seq(i).toDF("id")))
    t.compact(coalesceTo = 1) // v4: originals now historical-only
    val reaped = t.vacuum(retainFrom = 4, stagingGraceMs = -1000L)
    assert(reaped == 3, "the three pre-compaction files are unreferenced >= v4")
    assert(ids(t.read()) == Set(1L, 2L, 3L))
    // time travel below the retention boundary is gone (files deleted);
    // the failure is the CLEAN retention error at plan time, never a
    // FileNotFound mid-scan
    val e = intercept[IllegalArgumentException] { t.read(Some(2)).count() }
    assert(e.getMessage.contains("log-retention floor"), e.getMessage)
  }

  test("diff: append-only range is a file-pruned insert stream; compaction diffs to empty") {
    val t = tmpTable()
    t.append(Seq(1L, 2L).toDF("id"))
    t.append(Seq(3L).toDF("id"))
    t.append(Seq(4L).toDF("id"))
    val d = t.diff(1, 3)
    assert(d.select("_change").distinct().collect().map(_.getString(0)).toSeq == Seq("insert"))
    assert(ids(d) == Set(3L, 4L))
    // fast path: only the two added files are read — never snapshot 1's
    assert(d.inputFiles.length == 2)
    // compaction-only range: exact fallback, zero row changes
    t.compact(coalesceTo = 1)
    assert(t.diff(3, 4).count() == 0)
    // range spanning an append AND the compaction still finds the row
    val spanning = t.diff(2, 4)
    assert(ids(spanning.filter(col("_change") === "insert")) == Set(4L))
    assert(spanning.filter(col("_change") === "delete").count() == 0)
  }

  test("tagged appends are exactly-once: a replayed micro-batch is skipped") {
    val t = tmpTable()
    assert(t.appendIfAbsent(Seq(1L).toDF("id"), "batch-0") == Some(1))
    assert(t.appendIfAbsent(Seq(2L).toDF("id"), "batch-1") == Some(2))
    // crash-replay of batch 1: same tag, different (retried) frame —
    // must be a no-op even though the data differs
    assert(t.appendIfAbsent(Seq(99L).toDF("id"), "batch-1") == None)
    assert(t.currentVersion == 2)
    assert(ids(t.read()) == Set(1L, 2L))
    assert(t.committedTags == Set("batch-0", "batch-1"))
    // untagged commits never block tagged ones
    t.append(Seq(3L).toDF("id"))
    assert(t.appendIfAbsent(Seq(4L).toDF("id"), "batch-2") == Some(4))
    assert(ids(t.read()) == Set(1L, 2L, 3L, 4L))
  }

  test("streamingSink drains a real stream into snapshots, exactly-once across restart") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val t = tmpTable()
    val ms = MemoryStream[Long]
    val ckpt = java.nio.file.Files.createTempDirectory("snapsink").toString
    def runOnce(): Unit = {
      val q = ms.toDF().toDF("id").writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch(t.streamingSink _)
        .start()
      q.processAllAvailable()
      q.stop()
    }
    ms.addData(1L, 2L)
    runOnce()
    ms.addData(3L)
    runOnce()
    assert(ids(t.read()) == Set(1L, 2L, 3L))
    // restart from the same checkpoint with no new data: no new commits
    val before = t.currentVersion
    runOnce()
    assert(t.currentVersion == before)
  }

  test("merge rewrites only the files containing matched keys") {
    val t = tmpTable()
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    t.append(Seq((3L, "c"), (4L, "d")).toDF("id", "v"))
    t.append(Seq((5L, "e")).toDF("id", "v"))
    val before = t.files().toSet
    // update key 3 (lives in file 2 only) and insert new key 9
    val v = t.merge(Seq((3L, "C!"), (9L, "i")).toDF("id", "v"), Seq("id"))
    assert(v == 4)
    val got = t.read().collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a", 2L -> "b", 3L -> "C!", 4L -> "d", 5L -> "e", 9L -> "i"))
    // copy-on-write: files 1 and 3 survive untouched; only file 2 left the live set
    val after = t.files().toSet
    assert((before -- after).size == 1, "exactly the file holding key 3 is rewritten")
    // pre-merge snapshot still reads the old value
    val old = t.read(Some(3)).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(old(3L) == "c" && !old.contains(9L))
  }

  test("merge with only new keys appends without removing anything") {
    val t = tmpTable()
    t.append(Seq((1L, "a")).toDF("id", "v"))
    val before = t.files().toSet
    t.merge(Seq((2L, "b")).toDF("id", "v"), Seq("id"))
    assert(before.subsetOf(t.files().toSet))
    assert(t.read().count() == 2)
  }

  test("merge refuses a duplicate-keyed source") {
    val t = tmpTable()
    t.append(Seq((1L, "a")).toDF("id", "v"))
    intercept[IllegalArgumentException] {
      t.merge(Seq((2L, "x"), (2L, "y")).toDF("id", "v"), Seq("id"))
    }
    intercept[IllegalArgumentException] {
      t.merge(Seq((2L, "x"), (2L, "y")).toDF("id", "v"), Seq("id"), mor = true)
    }
  }

  test("mergeMoR reads byte-identical to CoW merge and rewrites NO data file") {
    def asMap(t: SnapshotTable) = t.read().collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def seed(): SnapshotTable = {
      val t = tmpTable()
      t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1))
      t.append(Seq((3L, "c"), (4L, "d")).toDF("id", "v").coalesce(1))
      t.append(Seq((5L, "e")).toDF("id", "v").coalesce(1))
      t
    }
    val src = Seq((3L, "C!"), (9L, "i")).toDF("id", "v")
    val cow = seed(); cow.merge(src, Seq("id"))
    val mor = seed()
    val before = mor.files().toSet
    assert(mor.merge(src, Seq("id"), mor = true) == 4)
    // identical contents on identical inputs
    assert(asMap(mor) == asMap(cow))
    assert(asMap(mor) ==
      Map(1L -> "a", 2L -> "b", 3L -> "C!", 4L -> "d", 5L -> "e", 9L -> "i"))
    // NO pre-merge data file was rewritten: all still live, matched
    // rows masked by a DV sidecar, source landed as new file(s)
    assert(before.subsetOf(mor.files().toSet),
      "MoR merge must not rewrite or remove any pre-merge file")
    assert((mor.files().toSet -- before).nonEmpty)
    // pre-merge snapshot still reads the old value
    val old = mor.read(Some(3)).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(old(3L) == "c" && !old.contains(9L))
    // a second upsert of the SAME key unions tombstones (no dup rows)
    assert(mor.merge(Seq((3L, "C2")).toDF("id", "v"), Seq("id"), mor = true) == 5)
    assert(asMap(mor)(3L) == "C2" && mor.read().count() == 6)
    // a merge that tombstones EVERY row of a file converts it to a
    // plain remove (the file leaves the live set)
    val t2 = tmpTable()
    t2.append(Seq((1L, "a")).toDF("id", "v").coalesce(1))
    t2.append(Seq((2L, "b"), (3L, "c")).toDF("id", "v").coalesce(1))
    val f2 = t2.files().toSet
    t2.merge(Seq((1L, "A")).toDF("id", "v"), Seq("id"), mor = true)
    assert((f2 -- t2.files().toSet).size == 1,
      "fully-covered file must convert to a plain remove")
    assert(t2.read().count() == 3)
    // materialization purges the DVs; contents unchanged
    val t3 = seed()
    t3.merge(src, Seq("id"), mor = true)
    t3.materializeDeletes()
    assert(asMap(t3) == asMap(cow))
    // first merge into an EMPTY table is a plain keyed append
    val t4 = tmpTable()
    assert(t4.merge(Seq((1L, "a")).toDF("id", "v"), Seq("id"), mor = true) == 1)
    assert(t4.read().count() == 1)
  }

  test("manifest-stat pruning skips disjoint files and keeps stat-less ones") {
    val t = tmpTable()
    // three appends with disjoint id ranges, stats recorded
    t.appendWithStats((1L to 100L).toDF("id").coalesce(1), Seq("id"))
    t.appendWithStats((101L to 200L).toDF("id").coalesce(1), Seq("id"))
    t.appendWithStats((201L to 300L).toDF("id").coalesce(1), Seq("id"))
    // plus one append WITHOUT stats: must always be scanned
    t.append(Seq(9999L).toDF("id").coalesce(1))
    assert(t.files().size == 4)
    val pruned = planned(t, col("id").between(150L, 160L))
    assert(pruned.size == 2, "the matching file + the stat-less file")
    val rows = t.readWhere(col("id").between(150L, 160L))
    assert(rows.count() == 11)
    assert(rows.inputFiles.length == 2)
    // a range nothing matches still scans only the stat-less file
    assert(planned(t, col("id").between(500L, 600L)).size == 1)
    // stats survive compaction-free merges of other keys; full read intact
    assert(t.read().count() == 301)
  }

  test("vacuum grace protects a pre-publish data file until its commit lands") {
    val t = tmpTable()
    t.append(Seq(1L).toDF("id"))
    // simulate another writer mid-commit: parquet already staged into
    // data/ (stageFiles moves files there BEFORE the manifest
    // publishes), manifest not yet in _log — referenced by no snapshot
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val inflight = new org.apache.hadoop.fs.Path(
      s"${t.root}/data/inflight-part-00000.parquet")
    Seq(99L).toDF("id").coalesce(1).write.parquet(s"${t.root}/_staging/w2")
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(s"${t.root}/_staging/w2"))
      .filter(_.getPath.getName.startsWith("part-")).head.getPath
    fs.rename(part, inflight)
    // a vacuum racing that commit (default 1h grace) must NOT reap it
    assert(t.vacuum(retainFrom = 1) == 0)
    // ...so when the commit's manifest publishes, the data is intact
    val qual = fs.makeQualified(inflight).toString
    val out = fs.create(new org.apache.hadoop.fs.Path(s"${t.root}/_log/00000002.json"), false)
    out.write(s"""{"add":["$qual"],"remove":[]}""".getBytes("UTF-8"))
    out.close()
    assert(ids(t.read()) == Set(1L, 99L))
  }

  test("remove/remove race: the loser detects the conflict and recomputes") {
    val t = tmpTable()
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1))
    // at the exact pre-publish window of the merge below, a concurrent
    // writer compacts the table — removing the very file the merge
    // resolved its remove set against
    t.raceInjector = () => { new SnapshotTable(spark, t.root).compact(1); () }
    t.merge(Seq((1L, "A")).toDF("id", "v"), Seq("id"))
    // without conflict detection both rewrites stay live and key 2
    // duplicates; with it the merge recomputed against the new head
    val got = t.read().collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    assert(got.size == 2, s"remove/remove race duplicated rows: $got")
    assert(got.toMap == Map(1L -> "A", 2L -> "b"))
  }

  test("append racing a merge commutes (no spurious conflict)") {
    val t = tmpTable()
    t.append(Seq((1L, "a")).toDF("id", "v").coalesce(1))
    // blind appends are allowed concurrently with a merge (Delta's
    // default isolation): the merge lands WITHOUT a recompute round
    t.raceInjector = () => { new SnapshotTable(spark, t.root).append(
      Seq((5L, "e")).toDF("id", "v")); () }
    t.merge(Seq((1L, "A")).toDF("id", "v"), Seq("id"))
    val got = t.read().collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "A", 5L -> "e"))
  }

  test("manifest strings with quotes/backslashes round-trip (tags, paths)") {
    val t = tmpTable()
    val tag = """weird "quoted" \back\slash tag"""
    assert(t.appendIfAbsent(Seq(1L).toDF("id"), tag).isDefined)
    assert(t.committedTags == Set(tag))
    // the add/remove arrays of that and later manifests still decode
    t.append(Seq(2L).toDF("id"))
    assert(ids(t.read()) == Set(1L, 2L))
    // replay of the weird tag is still recognized as committed
    assert(t.appendIfAbsent(Seq(9L).toDF("id"), tag) == None)
    // control and non-BMP characters round-trip too, through a fresh
    // instance's replay
    val more = Seq("line\nbreak", "tab\there", "soh\u0001", "clef \uD834\uDD1E")
    more.foreach(m => assert(t.appendIfAbsent(Seq(3L).toDF("id"), m).isDefined))
    assert(new SnapshotTable(spark, t.root).committedTags == more.toSet + tag)
    // and every log file is valid JSON to a default (strict) parser
    val strict = new com.fasterxml.jackson.databind.ObjectMapper()
    val log = new java.io.File(s"${t.root}/_log")
    log.listFiles().filterNot(_.getName.startsWith(".")).foreach { f =>
      val doc = strict.readTree(f)
      assert(doc.isObject, f.getName)
    }
  }

  test("manifest codec: decode(encode(m)) == m over arbitrary Unicode (property)") {
    import org.scalacheck.{Gen, Prop, Test}
    import SnapshotTable.{Manifest, StrStat}
    val codePoint = Gen.frequency(
      5 -> Gen.choose(0x20, 0x7e), 1 -> Gen.choose(0, 0x1f),
      2 -> Gen.oneOf(Gen.choose(0x7f, 0xd7ff), Gen.choose(0xe000, 0xffff)),
      2 -> Gen.choose(0x10000, 0x10ffff))
    val text = Gen.listOf(codePoint).map(cps =>
      cps.map(cp => new String(Character.toChars(cp))).mkString)
    val path = text.map(_.replace("|", ""))
    val bytes = Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray)
    val sstat = for (f <- path; c <- path; lo <- bytes; hi <- Gen.option(bytes))
      yield StrStat(f, c, lo, hi)
    val gen = for {
      add <- Gen.listOf(path); remove <- Gen.listOf(path)
      tag <- Gen.option(text); op <- Gen.option(text)
      ss <- Gen.listOf(sstat); keyed <- Gen.oneOf(true, false)
    } yield (Manifest.of(add, remove, tag, Nil, keyed, None, ss, Nil, Nil,
      Nil, Nil, Nil, op, Nil), ss)
    val strict = new com.fasterxml.jackson.databind.ObjectMapper()
    val prop = Prop.forAll(gen) { case (m, ss) =>
      val encoded = graft.util.Json.mapper.writeValueAsBytes(m)
      val back = graft.util.Json.mapper.readValue(encoded, classOf[Manifest])
      strict.readTree(encoded).isObject && back == m &&
        back.strStats.map(s => (s.file, s.col, s.lo.toSeq, s.hi.map(_.toSeq))) ==
          ss.map(s => (s.file, s.col, s.lo.toSeq, s.hi.map(_.toSeq)))
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  test("z-order compact restores metadata pruning after the append stats die") {
    val t = tmpTable()
    // interleaved appends: every file spans most of the id range, so
    // even WITH stats nothing could prune — the worst layout
    t.appendWithStats((1L to 400L by 4).toDF("id").coalesce(1), Seq("id"))
    t.appendWithStats((2L to 400L by 4).toDF("id").coalesce(1), Seq("id"))
    t.appendWithStats((3L to 400L by 4).toDF("id").coalesce(1), Seq("id"))
    assert(planned(t, col("id").between(10L, 20L)).size == 3,
      "interleaved: no pruning possible")
    // z-order compact into 4 files with fresh stats: the rewrite
    // clusters by id, so a narrow range hits ~1 file from METADATA
    t.compact(coalesceTo = 4, zorderCols = Seq("id"), statCols = Seq("id"))
    assert(t.files().size == 4)
    val pruned = planned(t, col("id").between(10L, 20L))
    assert(pruned.size <= 2, s"clustered stats must prune, got ${pruned.size} files")
    val rows = t.readWhere(col("id").between(10L, 20L))
    // residues 1,2,3 mod 4 in [10,20]: 13,17 / 10,14,18 / 11,15,19
    assert(rows.count() == 8)
    // full read intact and time travel still resolves pre-compaction
    assert(t.read().count() == 300)
    assert(t.read(Some(1)).count() == 100)
  }

  test("compactSmall --zorder: packed tail comes out prunable; readWhere scans fewer files") {
    val t = tmpTable()
    // a streaming-sink-shaped tail: 6 interleaved small files, every
    // one spanning the id range — a point-range readWhere must scan
    // ALL of them even with stats recorded
    (0 until 6).foreach(r =>
      t.appendWithStats((r.toLong to 600L by 6).toDF("id").coalesce(1),
        Seq("id")))
    t.readWhere(col("id").between(10L, 20L)).count()
    val preFiles = t.lastDmlCandidates.size
    assert(preFiles == 6, s"interleaved tail must defeat pruning, scanned $preFiles")
    // pack + re-cluster in one maintenance pass (targetBytes above the
    // tail's size, so every file qualifies as small)
    val v = t.compactSmall(targetBytes = 1L << 20, statCols = Seq("id"),
      zorderCols = Seq("id"))
    assert(v > 0)
    val got = t.readWhere(col("id").between(10L, 20L))
    assert(got.count() == 11)
    val postFiles = t.lastDmlCandidates.size
    assert(postFiles < preFiles,
      s"post-zorder point-range readWhere must scan strictly fewer files " +
        s"($postFiles vs $preFiles)")
    // the whole-table compact path composes the same way
    val t2 = tmpTable()
    (0 until 6).foreach(r =>
      t2.appendWithStats((r.toLong to 600L by 6).toDF("id").coalesce(1),
        Seq("id")))
    t2.compact(coalesceTo = 3, zorderCols = Seq("id"), statCols = Seq("id"))
    t2.readWhere(col("id").between(10L, 20L)).count()
    assert(t2.lastDmlCandidates.size < 3,
      s"zorder compact must leave a point range on <3 of 3 files, " +
        s"scanned ${t2.lastDmlCandidates.size}")
  }

  test("multi-column pruning intersects per-dimension stats") {
    val t = tmpTable()
    // two files, clustered so (a, b) stats are disjoint per file
    t.appendWithStats(Seq((1L, 100L), (2L, 110L)).toDF("a", "b").coalesce(1),
      Seq("a", "b"))
    t.appendWithStats(Seq((10L, 100L), (11L, 110L)).toDF("a", "b").coalesce(1),
      Seq("a", "b"))
    // b alone cannot prune (both files span 100..110); a narrows to 1
    assert(planned(t, col("b").between(100L, 105L)).size == 2)
    val both = col("a").between(1L, 5L) && col("b").between(100L, 105L)
    assert(planned(t, both).size == 1)
    assert(t.readWhere(both).count() == 1)
    // a range matching nothing reads empty with the right schema
    val none = t.readWhere(col("a").between(500L, 600L) && col("b").between(0L, 1L))
    assert(t.lastDmlCandidates.isEmpty && none.count() == 0 &&
      none.columns.sameElements(Array("a", "b")))
  }

  test("restore rolls back to an old snapshot as a new metadata-only commit") {
    val t = tmpTable()
    t.append(Seq(1L, 2L).toDF("id"))          // v1: the good state
    t.merge(Seq((1L)).toDF("id"), Seq("id"))  // v2: rewrites file(s)
    t.append(Seq(99L).toDF("id"))             // v3: the bad deploy
    assert(ids(t.read()) == Set(1L, 2L, 99L))
    val v = t.restore(1)
    assert(v == 4, "restore is a NEW commit, not history rewriting")
    assert(ids(t.read()) == Set(1L, 2L))
    // the bad versions remain time-travelable
    assert(ids(t.read(Some(3))) == Set(1L, 2L, 99L))
    // restoring to the current state is a no-op (no empty commit)
    assert(t.restore(4) == 4)
    assert(t.currentVersion == 4)
    // ...and the diff across the restore is exact (delete of 99)
    val d = t.diff(3, 4).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(d == Set((99L, "delete")))
  }

  test("overwrite replaces the live contents; older snapshots and tags intact") {
    val t = tmpTable()
    t.append(Seq(1L, 2L).toDF("id"))
    val v = t.overwrite(Seq(9L).toDF("id"), Some("state-v1"))
    assert(v == 2)
    assert(ids(t.read()) == Set(9L))
    assert(ids(t.read(Some(1))) == Set(1L, 2L)) // time travel intact
    assert(t.committedTags == Set("state-v1"))
    // overwrite on an empty table is a plain first commit
    val t2 = tmpTable()
    assert(t2.overwrite(Seq(5L).toDF("id")) == 1)
    assert(ids(t2.read()) == Set(5L))
  }

  test("checkpointed log: a fresh reader replays newest checkpoint + tail only") {
    val dir = java.nio.file.Files.createTempDirectory("snapckpt").toString
    val t = new SnapshotTable(spark, dir, checkpointInterval = 5)
    (1L to 12L).foreach { i =>
      if (i % 3 == 0) assert(t.appendIfAbsent(Seq(i).toDF("id"), s"tag-$i").isDefined)
      else t.append(Seq(i).toDF("id"))
    }
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_log/00000005.checkpoint.json")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_log/00000010.checkpoint.json")))
    // a COLD instance (no in-memory state) must resolve the newest
    // snapshot from checkpoint@10 + manifests 11..12 — never the full
    // 12-manifest replay the pre-checkpoint code did
    val t2 = new SnapshotTable(spark, dir, checkpointInterval = 5)
    t2.metaReads = 0
    assert(ids(t2.read()) == (1L to 12L).toSet)
    assert(t2.metaReads <= 3, s"expected ckpt+2 manifests, opened ${t2.metaReads}")
    // time travel seeds from the checkpoint at-or-below the target
    t2.metaReads = 0
    assert(ids(t2.read(Some(7))) == (1L to 7L).toSet)
    assert(t2.metaReads <= 3)
    // tags survive the checkpoint: a cold writer's idempotence check
    // is tail-sized, and replayed tags are still recognized
    val t3 = new SnapshotTable(spark, dir, checkpointInterval = 5)
    t3.metaReads = 0
    assert(t3.appendIfAbsent(Seq(99L).toDF("id"), "tag-3") == None)
    assert(t3.metaReads <= 3, s"cold tag check opened ${t3.metaReads}")
    assert(t3.committedTags == Set("tag-3", "tag-6", "tag-9", "tag-12"))
  }

  test("checkpoint carries live-file stats; pruning works from the tail replay") {
    val dir = java.nio.file.Files.createTempDirectory("snapckst").toString
    val t = new SnapshotTable(spark, dir, checkpointInterval = 3)
    t.appendWithStats((1L to 100L).toDF("id").coalesce(1), Seq("id"))
    t.appendWithStats((101L to 200L).toDF("id").coalesce(1), Seq("id"))
    t.appendWithStats((201L to 300L).toDF("id").coalesce(1), Seq("id"))  // ckpt@3
    t.appendWithStats((301L to 400L).toDF("id").coalesce(1), Seq("id"))
    val t2 = new SnapshotTable(spark, dir, checkpointInterval = 3)
    t2.metaReads = 0
    // stats recorded BEFORE the checkpoint must still prune after it
    assert(planned(t2, col("id").between(150L, 160L)).size == 1)
    assert(t2.metaReads <= 2, s"ckpt+1 manifest expected, got ${t2.metaReads}")
    val late = t2.readWhere(col("id").between(350L, 360L))
    assert(late.count() == 11 && late.inputFiles.length == 1)
  }

  test("vacuum keep-set is a single log pass (checkpoint-seeded), same semantics") {
    val dir = java.nio.file.Files.createTempDirectory("snapvac").toString
    val t = new SnapshotTable(spark, dir, checkpointInterval = 4)
    (1L to 7L).foreach(i => t.append(Seq(i).toDF("id")))
    t.compact(coalesceTo = 1)  // v8: the 7 originals go historical
    t.metaReads = 0
    val reaped = t.vacuum(retainFrom = 8, stagingGraceMs = -1000L)
    assert(reaped == 7)
    // one walk: ckpt@8? (8 % 4 == 0 → checkpoint exists at v8) + tail
    assert(t.metaReads <= 2, s"vacuum replayed ${t.metaReads} metadata files")
    assert(ids(t.read()) == (1L to 7L).toSet)
    intercept[Exception] { t.read(Some(3)).count() }
  }

  test("concurrent insert-only merges of the same key conflict (no duplicate keys)") {
    val t = tmpTable()
    t.append(Seq((1L, "a")).toDF("id", "v").coalesce(1))
    // both merges are APPEND-SHAPED (key 2 matches no live file), so
    // neither removes anything — the keyed manifest marker is the only
    // thing that can make them conflict; without it both land and the
    // table ends up with two rows for key 2
    t.raceInjector = () => { new SnapshotTable(spark, t.root).merge(
      Seq((2L, "first")).toDF("id", "v"), Seq("id")); () }
    t.merge(Seq((2L, "second")).toDF("id", "v"), Seq("id"))
    val rows = t.read().collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    assert(rows.count(_._1 == 2L) == 1,
      s"insert-only merge race duplicated key 2: $rows")
    // the loser recomputed: its upsert REPLACED the winner's row
    assert(rows.toMap == Map(1L -> "a", 2L -> "second"))
  }

  test("concurrent first overwrites on an empty table: one winner, not the union") {
    val t = tmpTable()
    t.raceInjector = () => { new SnapshotTable(spark, t.root)
      .overwrite(Seq(7L).toDF("id")); () }
    t.overwrite(Seq(8L).toDF("id"))
    // replace-everything semantics: the loser detects the winner's
    // keyed commit, re-resolves, and removes the winner's files
    assert(ids(t.read()) == Set(8L), "empty-table overwrite race produced a union")
    assert(ids(t.read(Some(1))) == Set(7L), "winner's snapshot stays time-travelable")
  }

  test("deleteWhere rewrites only files with matches; history and stats survive") {
    val t = tmpTable()
    t.appendWithStats((1L to 100L).toDF("id").coalesce(1), Seq("id"))
    t.appendWithStats((101L to 200L).toDF("id").coalesce(1), Seq("id"))
    t.appendWithStats((201L to 300L).toDF("id").coalesce(1), Seq("id"))
    val before = t.files().toSet
    // delete 10 rows that live entirely in file 2; the stat ranges
    // prune files 1 and 3 before any IO
    val v = t.deleteWhere(col("id").between(150L, 159L), statCols = Seq("id"))
    assert(v == 4)
    assert(t.read().count() == 290)
    assert(t.read().filter(col("id").between(150L, 159L)).count() == 0)
    // copy-on-write: exactly one file left the live set
    assert((before -- t.files().toSet).size == 1)
    // the pre-delete snapshot still reads all 300 rows
    assert(t.read(Some(3)).count() == 300)
    // the rewritten file's fresh stats still prune
    assert(planned(t, col("id").between(110L, 120L)).size == 1)
    // a delete matching nothing commits nothing
    assert(t.deleteWhere(col("id") === 9999L) == 0)
    assert(t.currentVersion == 4)
    // NULL predicate rows are kept (SQL semantics: null is not true)
    val t2 = tmpTable()
    t2.append(Seq(Some(1L), None, Some(3L)).toDF("id"))
    t2.deleteWhere(col("id") === 1L)
    assert(t2.read().count() == 2)
  }

  test("schema evolution: widened appends read across old files; restore rolls schema back") {
    val t = tmpTable()
    t.append(Seq((1L, "a")).toDF("id", "v"))
    // add-a-column append: the new schema rides the manifest
    t.append(Seq((2L, "b", "x")).toDF("id", "v", "extra"))
    val df = t.read()
    assert(df.columns.toSeq == Seq("id", "v", "extra"))
    val got = df.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(2)) None else Some(r.getString(2)))).toMap
    assert(got == Map(1L -> None, 2L -> Some("x")),
      "old files must null-fill the later-added column")
    // time travel reads with the schema AS OF that version
    assert(t.read(Some(1)).columns.toSeq == Seq("id", "v"))
    // compaction rewrites under the widened schema
    t.compact(1)
    assert(t.read().columns.toSeq == Seq("id", "v", "extra"))
    assert(t.read().filter(col("extra") === "x").count() == 1)
    // RESTORE rolls the schema back together with the data
    t.restore(1)
    assert(t.read().columns.toSeq == Seq("id", "v"))
    assert(ids(t.read()) == Set(1L))
    // ...and forward again: the widened history is still readable
    assert(t.read(Some(3)).columns.toSeq == Seq("id", "v", "extra"))
  }

  test("column-rename contract: drop+add refused, narrow writes keep the wider schema, opt-in records the union") {
    val t = tmpTable()
    t.append(Seq((1L, "a")).toDF("id", "name"))
    // rename-shaped append (drop name, add label): refused — over live
    // files a rename is indistinguishable from drop+add and would read
    // as a brand-new all-null column
    val e = intercept[SnapshotTable.SchemaEvolutionViolation] {
      t.append(Seq((2L, "b")).toDF("id", "label"))
    }
    assert(e.getMessage.contains("name") && e.getMessage.contains("label"))
    assert(t.currentVersion == 1 && t.read().count() == 1) // nothing committed
    // old-shape writer (missing a column): commits, and the WIDER
    // schema stays recorded — the legacy producer can no longer
    // silently drop `name` from every read
    t.append(Seq(3L).toDF("id"))
    assert(t.read().columns.toSeq == Seq("id", "name"))
    assert(t.read().where(col("name").isNull).count() == 1)
    // widening still records the added column after the prior order
    t.append(Seq((4L, "d", 9L)).toDF("id", "name", "extra"))
    assert(t.read().columns.toSeq == Seq("id", "name", "extra"))
    // explicit opt-in: drop+add records the UNION — both columns stay
    // readable, null-filling where absent
    t.setProperty(SnapshotTable.AcceptDropAddProp, "true")
    t.append(Seq((5L, "e")).toDF("id", "label"))
    assert(t.read().columns.toSeq == Seq("id", "name", "extra", "label"))
    assert(t.read().where(col("label") === "e").count() == 1)
    assert(t.read().where(col("name") === "a").count() == 1)
    // overwrite stays an intentional whole-table reshape — ungated
    val t2 = tmpTable()
    t2.append(Seq((1L, "a")).toDF("id", "name"))
    t2.overwrite(Seq((9L, "z")).toDF("id", "label"))
    assert(t2.read().columns.toSeq == Seq("id", "label"))
    // restore's schema rollback is ungated too
    t2.restore(1)
    assert(t2.read().columns.toSeq == Seq("id", "name"))
  }

  test("diff spans a schema widening: both sides align under the to-version schema") {
    val t = tmpTable()
    t.append(Seq((1L, "a")).toDF("id", "v"))
    t.append(Seq((2L, "b", "x")).toDF("id", "v", "extra"))
    // fast path across the widening: old file null-fills `extra`
    val fast = t.diff(0, 2).orderBy("id").collect()
    assert(fast.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(fast.map(r => Option(r.getString(2))).toSeq == Seq(None, Some("x")))
    // removal fallback across the widening: compact then diff the span —
    // un-aligned schemas would make exceptAll throw
    t.compact(1)
    assert(t.diff(2, 3).count() == 0, "compaction-only range diffs empty")
    val span = t.diff(1, 3).collect()
    assert(span.map(r => (r.getLong(0), r.getString(3))).toSet ==
      Set((2L, "insert")), s"got ${span.mkString(",")}")
  }

  test("stress: concurrent MoR mergers converge key-unique through DV tombstones") {
    // the mergeMoR twin of the CoW merge stress: three writers upsert
    // overlapping keys via deletion vectors; its unscoped keyed commit
    // must serialize them (losers retry) so reads stay key-unique and
    // every key ends at SOME writer's last write — with no data file
    // ever rewritten, the DV-applied read is what enforces uniqueness
    val dir = java.nio.file.Files.createTempDirectory("snapstress").toString
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 3).map { tid =>
      new Thread(() => try {
        val w = new SnapshotTable(spark, dir, checkpointInterval = 3)
        (0 until 6).foreach { i =>
          val key = (tid + i) % 4L
          w.merge(Seq((key, s"w$tid-$i")).toDF("id", "v"), Seq("id"), mor = true)
        }
      } catch { case e: Throwable => errors.add(e) })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errors.isEmpty, s"writer died: ${Option(errors.peek()).map(_.getMessage)}")
    val t = new SnapshotTable(spark, dir, checkpointInterval = 3)
    val rows = t.read().collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    assert(rows.map(_._1).sorted == rows.map(_._1).distinct.sorted,
      s"mergeMoR contract violated — duplicate keys: $rows")
    assert(rows.map(_._1).toSet == Set(0L, 1L, 2L, 3L))
    assert(t.currentVersion == 18, "every mergeMoR must commit exactly once")
    // materialization collapses the accumulated DV debt; same rows
    t.materializeDeletes()
    val after = t.read().collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    assert(after.toSet == rows.toSet)
    (1 to t.currentVersion).foreach(v => t.read(Some(v)).count())
  }

  test("stress: concurrent mergers upserting overlapping keys converge key-unique") {
    // three writer instances (checkpoints every 3 commits) hammer the
    // same table with upserts over a small key space — every interleave
    // of append-shaped and rewrite-shaped merges, plus checkpoint
    // writes, under real thread timing. Invariants: key-uniqueness
    // (the documented merge contract the keyed markers protect) and
    // every key's final value being SOME writer's last write.
    val dir = java.nio.file.Files.createTempDirectory("snapstress").toString
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 3).map { tid =>
      new Thread(() => try {
        val w = new SnapshotTable(spark, dir, checkpointInterval = 3)
        (0 until 6).foreach { i =>
          val key = (tid + i) % 4L // overlapping key space
          w.merge(Seq((key, s"w$tid-$i")).toDF("id", "v"), Seq("id"))
        }
      } catch { case e: Throwable => errors.add(e) })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errors.isEmpty, s"writer died: ${Option(errors.peek()).map(_.getMessage)}")
    val t = new SnapshotTable(spark, dir, checkpointInterval = 3)
    val rows = t.read().collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    assert(rows.map(_._1).sorted == rows.map(_._1).distinct.sorted,
      s"merge contract violated — duplicate keys: $rows")
    assert(rows.map(_._1).toSet == Set(0L, 1L, 2L, 3L))
    assert(t.currentVersion == 18, "every merge must commit exactly once")
    // history replays cleanly at every version through the checkpoints
    (1 to t.currentVersion).foreach(v => t.read(Some(v)).count())
  }

  test("snapshot reads keep parquet pushdown (the snapshot only picks files)") {
    val t = tmpTable()
    t.append((1L to 100L).toDF("id"))
    t.append((101L to 200L).toDF("id"))
    val plan = t.read(Some(1)).filter(col("id") === 7L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("7"))
  }

  test("readWhere keeps parquet pushdown on top of its file pruning") {
    val t = tmpTable()
    t.setProperty(SnapshotTable.StatColsProp, "id")
    t.append((1L to 100L).toDF("id").coalesce(1))
    t.append((101L to 200L).toDF("id").coalesce(1))
    val df = t.readWhere(col("id") === 7L)
    val plan = df.queryExecution.executedPlan.toString
    // file-level: only the stat-hit file planned; row-group level: the
    // cond still reaches the scan as PushedFilters
    assert(t.lastDmlCandidates.size == 1)
    assert(plan.contains("PushedFilters") && plan.contains("7"),
      s"cond not pushed:\n${plan.take(500)}")
    assert(df.as[Long].collect().toSeq == Seq(7L))
  }

  test("column-mapped reads keep parquet pushdown: the logical filter reaches the scan as the physical column") {
    val t = tmpTable()
    t.append((1L to 100L).toDF("id"))
    t.renameColumn("id", "doc_id")
    val df = t.read().filter(col("doc_id") === 7L)
    val plan = df.queryExecution.executedPlan.toString
    // Catalyst rewrites the filter through the alias projection: the
    // scan's PushedFilters must carry the PHYSICAL name — a mapped
    // table that reads everything and filters above the scan would be
    // the silent 100 TB regression this spec pins against
    assert(plan.contains("PushedFilters"), plan.take(500))
    assert(plan.contains("EqualTo(id,7)") || plan.contains("EqualTo(id, 7)"),
      s"filter not pushed as the physical column:\n${plan.take(800)}")
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(7L))
  }

  test("distributed footer counts: a past-threshold adoption records num_rows without driver-serial reads") {
    val src = java.nio.file.Files.createTempDirectory("snapimp").toString
    spark.range(0, 520).toDF("id")
      .repartitionByRange(130, col("id"))
      .write.mode("overwrite").parquet(src)
    val dir = java.nio.file.Files.createTempDirectory("snaptab").toString
    val t = new SnapshotTable(spark, dir)
    t.importFiles(src)
    assert(t.files().size >= SnapshotTable.DriverFooterReads,
      "fixture must exceed the driver-read threshold")
    val d = t.detail().collect().head
    assert(!d.isNullAt(10) && d.getLong(10) == 520L,
      s"distributed footer pass must count every adopted file: $d")
  }

  // ---- _last_checkpoint pointer + log retention ---------------------

  test("_last_checkpoint: cold reads perform ZERO log listings on a >5x-interval log") {
    val dir = java.nio.file.Files.createTempDirectory("snaptab").toString
    val t = new SnapshotTable(spark, dir, checkpointInterval = 3)
    (1L to 17L).foreach(i => t.append(Seq(i).toDF("id"))) // ckpts at 3,6,9,12,15
    // a brand-new instance = a cold planner: head resolution and the
    // state replay must both ride the pointer, never a directory list
    val t2 = new SnapshotTable(spark, dir, checkpointInterval = 3)
    t2.logLists = 0; t2.metaReads = 0
    assert(ids(t2.read()) == (1L to 17L).toSet)
    assert(t2.logLists == 0, s"cold read listed _log ${t2.logLists} times")
    assert(t2.metaReads <= 3, // ckpt@15 + manifests 16,17
      s"cold read opened ${t2.metaReads} metadata files (want ckpt + tail)")
    val t3 = new SnapshotTable(spark, dir, checkpointInterval = 3)
    t3.logLists = 0
    assert(t3.currentVersion == 17)
    assert(t3.logLists == 0, "head resolution listed the log")
  }

  test("_last_checkpoint is advisory: a corrupt pointer falls back to listing") {
    val dir = java.nio.file.Files.createTempDirectory("snaptab").toString
    val t = new SnapshotTable(spark, dir, checkpointInterval = 3)
    (1L to 7L).foreach(i => t.append(Seq(i).toDF("id")))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val ptr = new org.apache.hadoop.fs.Path(s"$dir/_log/_last_checkpoint")
    val out = fs.create(ptr, true)
    out.write("not json at all".getBytes("UTF-8")); out.close()
    val t2 = new SnapshotTable(spark, dir, checkpointInterval = 3)
    assert(t2.currentVersion == 7)
    assert(ids(t2.read()) == (1L to 7L).toSet)
    assert(t2.logLists > 0, "corrupt pointer must route through the listing fallback")
  }

  test("vacuumLog: within retention replays exactly, below it fails with the retention error") {
    val dir = java.nio.file.Files.createTempDirectory("snaptab").toString
    val t = new SnapshotTable(spark, dir, checkpointInterval = 3)
    assert(t.appendIfAbsent(Seq(1L).toDF("id"), "early-tag").contains(1))
    (2L to 17L).foreach(i => t.append(Seq(i).toDF("id")))
    val before = (6 to 17).map(v => v -> ids(t.read(Some(v)))).toMap
    // horizon = 17-10+1 = 8 → floor = newest checkpoint ≤ 8 = 6:
    // manifests 1..6 + checkpoint 3 go, checkpoint 6 + manifests 7..17 stay
    val deleted = t.vacuumLog(retainVersions = 10)
    assert(deleted == 7, s"expected 6 manifests + 1 checkpoint deleted, got $deleted")
    assert(t.retentionFloor == 6)
    (6 to 17).foreach(v => assert(ids(t.read(Some(v))) == before(v),
      s"version $v changed after vacuumLog"))
    val e = intercept[IllegalArgumentException](t.read(Some(5)))
    assert(e.getMessage.contains("log-retention floor"), e.getMessage)
    intercept[IllegalArgumentException](t.diff(2, 17))
    assert(t.diff(6, 17).count() == 11) // appends 7..17, one row each
    // the early tag survives through the checkpoint's tag record, so a
    // cold writer's exactly-once check still dedups pre-floor batches
    val t2 = new SnapshotTable(spark, dir, checkpointInterval = 3)
    assert(t2.appendIfAbsent(Seq(99L).toDF("id"), "early-tag").isEmpty)
    // restore within retention still works (metadata-only rollback)
    t2.restore(10)
    assert(ids(t2.read()) == before(10))
    // cold planning after truncation: still zero listings
    val t3 = new SnapshotTable(spark, dir, checkpointInterval = 3)
    t3.logLists = 0
    assert(t3.currentVersion == 18) // 17 appends + restore commit
    assert(t3.logLists == 0)
    // idempotent: a second pass at the same horizon deletes nothing
    assert(t2.vacuumLog(retainVersions = 13) == 0)
  }

  test("vacuum truncates the log below retainFrom along with the data sweep") {
    val dir = java.nio.file.Files.createTempDirectory("snaptab").toString
    val t = new SnapshotTable(spark, dir, checkpointInterval = 3)
    (1L to 17L).foreach(i => t.append(Seq(i).toDF("id")))
    t.vacuum(retainFrom = 10, stagingGraceMs = -1000L)
    // retainFrom ITSELF is the user-facing boundary: v9's manifests
    // survive (the checkpoint floor is 9) but the retention contract
    // is uniform at 10 — on a remove-bearing history v9's data could
    // be gone, and the clean error beats a FileNotFound mid-scan
    assert(t.retentionFloor == 10)
    assert(ids(t.read(Some(10))) == (1L to 10L).toSet)
    intercept[IllegalArgumentException](t.read(Some(9)))
    intercept[IllegalArgumentException](t.read(Some(8)))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val names = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/_log"))
      .map(_.getPath.getName).toSet
    assert(!names.exists(n => n.matches("0000000[1-9]\\.json")),
      s"pre-floor manifests survived: $names")
    assert(names.contains("00000009.checkpoint.json"))
    // a later vacuum asking for MORE retention than remains is clamped,
    // not crashed (the old manifests are simply gone)
    t.vacuum(retainFrom = 2, stagingGraceMs = -1000L)
    assert(ids(t.read()) == (1L to 17L).toSet)
  }

  test("retention floor lives outside the checkpoint path: pointer loss/churn never regresses it") {
    val dir = java.nio.file.Files.createTempDirectory("snaptab").toString
    val t = new SnapshotTable(spark, dir, checkpointInterval = 3)
    (1L to 17L).foreach(i => t.append(Seq(i).toDF("id")))
    assert(t.vacuumLog(retainVersions = 10) > 0)
    assert(t.retentionFloor == 6)
    // clobber `_last_checkpoint` entirely — the r10 race writes it with
    // floor 0 from a concurrent maybeCheckpoint; deletion is strictly
    // worse than any torn write it could produce
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_log/_last_checkpoint"), false))
    assert(t.retentionFloor == 6, "floor must not ride on the pointer")
    // checkpoint-path writes (appends crossing interval multiples
    // rewrite the pointer) must never touch the floor either
    (18L to 24L).foreach(i => t.append(Seq(i).toDF("id")))
    assert(t.retentionFloor == 6)
    val e = intercept[IllegalArgumentException](t.read(Some(5)))
    assert(e.getMessage.contains("log-retention floor"), e.getMessage)
  }

  test("lost floor state degrades to the clean retention error, self-heals, and vacuum survives") {
    val dir = java.nio.file.Files.createTempDirectory("snaptab").toString
    val t = new SnapshotTable(spark, dir, checkpointInterval = 3)
    (1L to 17L).foreach(i => t.append(Seq(i).toDF("id")))
    assert(t.vacuumLog(retainVersions = 10) > 0) // replay floor 6
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_log/_last_checkpoint"), false)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_log/_retention_floor"), false)
    val t2 = new SnapshotTable(spark, dir, checkpointInterval = 3)
    assert(t2.retentionFloor == 0, "precondition: every record gone")
    // a read below the true floor must NOT surface the replay's raw
    // FileNotFound — the floor is re-derived from the surviving log
    val e = intercept[IllegalArgumentException](t2.read(Some(5)))
    assert(e.getMessage.contains("log-retention floor 6"), e.getMessage)
    assert(t2.retentionFloor == 6, "derived floor is re-recorded (self-heal)")
    assert(ids(t2.read(Some(7))) == (1L to 7L).toSet)
    // vacuum with lost state and retainFrom below the true floor used
    // to crash its keep-walk on readManifest(1); it must clamp instead
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_log/_retention_floor"), false)
    val t3 = new SnapshotTable(spark, dir, checkpointInterval = 3)
    t3.vacuum(retainFrom = 2, stagingGraceMs = -1000L)
    assert(ids(t3.read()) == (1L to 17L).toSet)
  }

  test("floor replacement: no reader-visible absence window on posix; FileContext branch replaces in place") {
    val dir = java.nio.file.Files.createTempDirectory("snaptab").toString
    val t = new SnapshotTable(spark, dir, checkpointInterval = 2)
    (1L to 4L).foreach(i => t.append(Seq(i).toDF("id")))
    assert(t.writeFloor(1, 1))
    // reader hammers retentionFloor from a SEPARATE instance while the
    // writer ratchets: an absence window would read as a regression
    // toward 0 (monotonic contract: the floor never goes backward)
    val t2 = new SnapshotTable(spark, dir, checkpointInterval = 2)
    @volatile var stop = false
    @volatile var bad: Option[String] = None
    val reader = new Thread(() => {
      var last = 0
      while (!stop && bad.isEmpty) {
        val f = t2.retentionFloor
        if (f < last) bad = Some(s"floor regressed $last -> $f")
        last = math.max(last, f)
      }
    })
    reader.start()
    (2 to 150).foreach(i => assert(t.writeFloor(i, i)))
    stop = true
    reader.join()
    assert(bad.isEmpty, bad.getOrElse(""))
    assert(t.retentionFloor == 150)
    // the non-posix branch (FileContext write-new-then-rename-over),
    // driven via the test seam on the local store: replaces content
    // in place, stays monotonic, read-back confirms
    t.floorForceFileContext = true
    (151 to 170).foreach(i => assert(t.writeFloor(i, i)))
    assert(t.retentionFloor == 170)
    assert(t2.retentionFloor == 170)
    // a stale ratchet is a no-op, not a regression
    assert(t.writeFloor(100, 100))
    assert(t.retentionFloor == 170)
  }

  test("vacuum truncateLog=false: history intact on append-only; boundary still recorded when data reaped") {
    val dir = java.nio.file.Files.createTempDirectory("snaptab").toString
    val t = new SnapshotTable(spark, dir, checkpointInterval = 3)
    (1L to 7L).foreach(i => t.append(Seq(i).toDF("id")))
    // append-only: nothing is reaped, so opting out of log truncation
    // keeps the WHOLE history time-travelable (the Delta split-knob
    // contract: data retention and log retention are separate)
    assert(t.vacuum(retainFrom = 3, stagingGraceMs = -1000L, truncateLog = false) == 0)
    assert(t.retentionFloor == 0)
    assert(ids(t.read(Some(2))) == Set(1L, 2L))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_log/00000001.json")),
      "truncateLog=false must leave the manifest log alone")
    // sweeping a never-committed ORPHAN is not "reaping history": no
    // snapshot referenced it, so no retention boundary is owed and the
    // full history stays time-travelable
    val orphan = new org.apache.hadoop.fs.Path(s"$dir/data/orphan-stray.parquet")
    val out = fs.create(orphan, true); out.write(Array[Byte](1, 2, 3)); out.close()
    assert(t.vacuum(retainFrom = 5, stagingGraceMs = -1000L, truncateLog = false) == 1)
    assert(!fs.exists(orphan) && t.retentionFloor == 0)
    assert(ids(t.read(Some(2))) == Set(1L, 2L))
    // once a remove-bearing history has data reaped below retainFrom,
    // the boundary IS recorded even with truncateLog=false: those
    // snapshots reference deleted files, and the clean retention error
    // beats a FileNotFound mid-scan
    t.compact(coalesceTo = 1) // v8
    assert(t.vacuum(retainFrom = 8, stagingGraceMs = -1000L, truncateLog = false) == 7)
    assert(t.retentionFloor == 8)
    val e = intercept[IllegalArgumentException](t.read(Some(5)))
    assert(e.getMessage.contains("log-retention floor"), e.getMessage)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_log/00000001.json")),
      "the manifest log itself still survives")
  }

  test("diff below the floor errors uniformly, including from == to; beyond-head vacuum keeps the head") {
    val dir = java.nio.file.Files.createTempDirectory("snaptab").toString
    val t = new SnapshotTable(spark, dir, checkpointInterval = 3)
    (1L to 17L).foreach(i => t.append(Seq(i).toDF("id")))
    t.vacuumLog(retainVersions = 10) // floor 6
    // the old from == to carve-out produced an inconsistent generic
    // error from the body's replay; now the same retention message
    val e = intercept[IllegalArgumentException](t.diff(5, 5))
    assert(e.getMessage.contains("log-retention floor"), e.getMessage)
    assert(t.diff(6, 6).count() == 0)
    // retainFrom beyond the head clamps to the head instead of
    // emptying the keep-set and reaping LIVE data
    assert(t.vacuum(retainFrom = 999, stagingGraceMs = -1000L) == 0)
    assert(ids(t.read()) == (1L to 17L).toSet)
    assert(t.retentionFloor == 17)
  }

  test("string stats: clustered keys prune point/prefix reads from metadata alone") {
    val t = tmpTable()
    // short urls (< 32 bytes, no truncation): exact per-file bounds
    val urls = (0 until 64).map(i => f"u://site$i%02d/p")
    val df = urls.toDF("url").repartitionByRange(4, col("url"))
    t.appendWithStats(df, Seq("url"))
    assert(t.files().size == 4)
    val hit = "u://site17/p"
    // range partitioning makes per-file url ranges disjoint: the point
    // lookup prunes 4 files to exactly 1 — from the manifest, no scan
    assert(planned(t, col("url") === hit).size == 1)
    assert(t.readWhere(col("url") === hit).count() == 1)
    // a value outside every range prunes to ZERO files; the empty
    // frame still carries the recorded schema
    val miss = t.readWhere(col("url") === "zzz://nowhere")
    assert(t.lastDmlCandidates.isEmpty)
    assert(miss.count() == 0 && miss.columns.sameElements(Array("url")))
    // prefix pruning: 'u://site1' matches site10..site19, clustered
    // into a strict subset of files; row results match a full scan
    val pref = t.readWhere(col("url").startsWith("u://site1"))
    assert(pref.inputFiles.length < 4)
    assert(pref.count() == 10)
    // inclusive string range agrees with the row-level BETWEEN
    val r = t.readWhere(col("url").between("u://site20/p", "u://site23/p"))
    assert(t.lastDmlCandidates.size < 4 && r.count() == 4)
  }

  test("readWhere and SQL LIKE 'p%' prune a prefix through the string stats") {
    val t = tmpTable()
    val urls = (0 until 64).map(i => f"u://site$i%02d/p")
    t.appendWithStats(urls.toDF("url").repartitionByRange(4, col("url")),
      Seq("url"))
    assert(t.files().size == 4)
    val full = t.read().where(col("url").startsWith("u://site1"))
      .as[String].collect().toSet
    assert(full.size == 10)
    // 'u://site1' spans site10..site19: a strict subset of the files
    val byCol = t.readWhere(col("url").startsWith("u://site1"))
    assert(t.lastDmlCandidates.size < 4,
      s"startsWith planned ${t.lastDmlCandidates.size} of 4 files")
    assert(byCol.as[String].collect().toSet == full)
    // SQL LIKE 'p%' pushes down as StringStartsWith and plans the same
    val bySql = SparkSuite.extSession.sql(
      s"SELECT url FROM snapshot.`${t.root}` WHERE url LIKE 'u://site1%'")
      .as[String].collect().toSet
    val sqlPlanned = SnapshotTable.lastPlannedCandidates(t.root).get
    assert(sqlPlanned.size < 4, s"LIKE planned ${sqlPlanned.size} of 4 files")
    assert(bySql == full)
    // a literal on the LEFT bounds nothing about the column
    val flipped = lit("u://").startsWith(col("url"))
    val (l, str, b, n) = SnapshotTable.derivePreds(flipped)
    assert(l.isEmpty && str.isEmpty && b.isEmpty && n.isEmpty)
    assert(planned(t, flipped).size == 4)
  }

  test("a string IN list prunes by its byte-wise envelope on a table with no bloom") {
    val t = tmpTable()
    val urls = (0 until 64).map(i => f"u://site$i%02d/p")
    t.appendWithStats(urls.toDF("url").repartitionByRange(4, col("url")),
      Seq("url"))
    val cond = col("url").isin("u://site20/p", "u://site23/p")
    val got = t.readWhere(cond)
    assert(t.lastDmlCandidates.size < 4,
      s"IN planned ${t.lastDmlCandidates.size} of 4 files")
    assert(got.as[String].collect().toSet == Set("u://site20/p", "u://site23/p"))
  }

  test("string stats: 32-byte truncation never prunes a present value; bounds survive checkpoints") {
    val dir = java.nio.file.Files.createTempDirectory("snaptab").toString
    val t = new SnapshotTable(spark, dir, checkpointInterval = 2)
    // every value shares a 30-byte prefix and discriminates only past
    // the 32-byte truncation point: per-file bounds collapse to the
    // truncated prefix (lower) and its incremented form (upper) —
    // pruning gets weak, but must NEVER drop a file holding the value
    val shared = "P" * 30
    val vals = (0 until 96).map(i => f"$shared$i%04d")
    (0 until 4).foreach { g =>
      t.appendWithStats(
        vals.slice(g * 24, (g + 1) * 24).toDF("doc_id"), Seq("doc_id"))
    }
    assert(t.currentVersion == 4) // crossed checkpoints at 2 and 4
    // a COLD instance plans from the checkpoint-carried string stats
    val cold = new SnapshotTable(spark, dir, checkpointInterval = 2)
    vals.grouped(24).map(_.head).foreach { v =>
      assert(cold.readWhere(col("doc_id") === v).count() == 1, s"lost $v")
    }
    // and a value ABOVE every truncated-incremented upper bound prunes
    // to zero files even through the truncated stats
    assert(planned(cold, col("doc_id") === "Q").isEmpty)
    // compact clustered by the key re-establishes tight-enough bounds;
    // history survives (older snapshot unaffected)
    t.compact(coalesceTo = 3, zorderCols = Seq("doc_id"),
      statCols = Seq("doc_id"))
    assert(t.readWhere(col("doc_id") === vals(50)).count() == 1)
  }

  test("bloom sidecars: point lookups prune an UNCLUSTERED table; blooms survive checkpoints, compaction and vacuum") {
    val dir = java.nio.file.Files.createTempDirectory("snaptab").toString
    val t = new SnapshotTable(spark, dir, checkpointInterval = 2)
    // keys SCATTERED across appends so every file's min/max string
    // bounds span nearly the whole key space — the layout where
    // bounds-based pruning keeps everything and only a bloom helps
    val vals = (0 until 96).map(i => f"doc${(i * 37) % 96}%04d")
    (0 until 4).foreach { g =>
      t.appendWithStats(vals.slice(g * 24, (g + 1) * 24).toDF("doc_id"),
        Seq("doc_id"), bloomCols = Seq("doc_id"))
    }
    val nFiles = t.files().size
    val hit = vals(50)
    // bounds keep (nearly) everything; the bloom keeps only the
    // file(s) that can contain the key
    val byBounds = planned(t, col("doc_id").between(hit, hit)).size
    val byBloom = planned(t, col("doc_id") === hit).size
    assert(byBounds == nFiles, s"expected unclustered bounds to keep all")
    assert(byBloom < nFiles, s"bloom kept $byBloom of $nFiles")
    assert(t.readWhere(col("doc_id") === hit).count() == 1)
    // an absent key prunes everything (fpp 0.01 on a handful of
    // files; deterministic for fixed data). It sorts inside every
    // file's bounds, so the bloom alone does the pruning
    val absent = "doc0050-nope"
    assert(planned(t, col("doc_id").between(absent, absent)).size == nFiles)
    assert(planned(t, col("doc_id") === absent).isEmpty)
    val missing = t.readWhere(col("doc_id") === absent)
    assert(missing.count() == 0 &&
      missing.columns.sameElements(Array("doc_id")))
    // a COLD instance prunes from checkpoint-carried bloom markers
    val cold = new SnapshotTable(spark, dir, checkpointInterval = 2)
    assert(planned(cold, col("doc_id") === hit).size == byBloom)
    // compaction rebuilds sidecars for the rewritten files
    t.compact(coalesceTo = 2, statCols = Seq("doc_id"),
      bloomCols = Seq("doc_id"))
    assert(planned(t, col("doc_id") === hit).size <= 2)
    assert(t.readWhere(col("doc_id") === hit).count() == 1)
    // vacuum sweeps the reaped files' sidecars with them: exactly one
    // sidecar per LIVE file remains
    t.vacuum(retainFrom = t.currentVersion, stagingGraceMs = -1000L)
    val fsys = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val sidecars = fsys.listStatus(
      new org.apache.hadoop.fs.Path(s"$dir/_index")).map(_.getPath.getName)
    assert(sidecars.length == t.files().size, sidecars.mkString(","))
    // and the table still answers the lookup afterwards
    assert(t.readWhere(col("doc_id") === hit).count() == 1)
  }

  test("bloom-driven deleteWhere rewrites only bloom-hit files; absent key commits nothing") {
    val dir = java.nio.file.Files.createTempDirectory("snaptab").toString
    val t = new SnapshotTable(spark, dir)
    // 20 single-file appends of SCATTERED keys: every file's string
    // bounds span the key space, so only the bloom can prune — the
    // right-to-erasure shape (delete one id from an unclustered table)
    val vals = (0 until 100).map(i => f"doc${(i * 37) % 100}%04d")
    (0 until 20).foreach { g =>
      t.appendWithStats(
        vals.slice(g * 5, (g + 1) * 5).toDF("doc_id").coalesce(1),
        Seq("doc_id"), bloomCols = Seq("doc_id"))
    }
    assert(t.files().size == 20)
    val victim = vals(50)
    val hitFiles = planned(t, col("doc_id") === victim).toSet
    assert(hitFiles.nonEmpty && hitFiles.size < 20)
    val before = t.files().toSet
    val v = t.deleteWhere(col("doc_id") === victim,
      statCols = Seq("doc_id"), bloomCols = Seq("doc_id"))
    assert(v > 0)
    val after = t.files().toSet
    // exactly the bloom-hit file(s) left the live set; every other
    // file is byte-identical untouched
    assert(before -- after == hitFiles,
      s"rewrote ${(before -- after).size} files, bloom hit ${hitFiles.size}")
    assert((before intersect after).size == 20 - hitFiles.size)
    assert(t.read().where(col("doc_id") === victim).count() == 0)
    assert(t.read().count() == 99)
    // rewritten survivors got fresh sidecars: later bloom lookups on
    // the SURVIVING keys in the rewritten file still prune
    val sibling = vals.slice(50, 55).filter(_ != victim).head
    assert(t.readWhere(col("doc_id") === sibling).count() == 1)
    // absent key: bloom prunes every candidate BEFORE any scan — no
    // data-file IO, no commit, version unchanged
    val cur = t.currentVersion
    assert(t.deleteWhere(col("doc_id") === "doc-nope") == 0)
    assert(t.currentVersion == cur)
  }

  test("bloom pruning at file counts past the driver threshold runs distributed and agrees") {
    val t = tmpTable()
    // one append spread over 40 files: the membership tests must take
    // the distributed (parallelize + executor-side sidecar reads)
    // path, whose task closure is the serialization-sensitive part
    val vals = (0 until 400).map(i => f"k${(i * 131) % 400}%05d")
    t.appendWithStats(vals.toDF("k").repartition(40), Seq.empty,
      bloomCols = Seq("k"))
    assert(t.files().size == 40)
    val hit = vals(123)
    val kept = planned(t, col("k") === hit)
    assert(kept.size < 40 && kept.nonEmpty)
    assert(t.readWhere(col("k") === hit).count() == 1)
    // every value is found through the prune (no false negatives)
    Seq(0, 57, 199, 399).map(vals).foreach { v =>
      assert(t.readWhere(col("k") === v).count() == 1)
    }
    assert(planned(t, col("k") === "k-none").isEmpty)
  }

  test("timestamp time travel: versionAt binary-searches manifest times; vacuumed times error cleanly") {
    val dir = java.nio.file.Files.createTempDirectory("snaptab").toString
    val t = new SnapshotTable(spark, dir, checkpointInterval = 3)
    (1L to 8L).foreach { i =>
      t.append(Seq(i).toDF("id"))
      Thread.sleep(15) // distinct manifest mtimes
    }
    val fsx = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def mtime(v: Int) = fsx.getFileStatus(new org.apache.hadoop.fs.Path(
      f"$dir/_log/$v%08d.json")).getModificationTime
    // exactly at a commit's instant resolves to it; just before, to
    // its predecessor; after the head, to the head
    assert(t.versionAt(mtime(5)) == 5)
    assert(t.versionAt(mtime(5) - 1) == 4)
    assert(t.versionAt(mtime(8) + 60000) == 8)
    assert(ids(t.readAsOf(mtime(3))) == Set(1L, 2L, 3L))
    // before the first commit: clear error
    val e = intercept[IllegalArgumentException](t.versionAt(mtime(1) - 1000))
    assert(e.getMessage.contains("earliest resolvable version"), e.getMessage)
    // after vacuumLog the earliest resolvable version moves up and the
    // error names it — never a FileNotFound from a missing manifest
    // (capture the times BEFORE their manifests are reaped)
    val (t5, t7, t8) = (mtime(5), mtime(7), mtime(8))
    t.vacuumLog(retainVersions = 3) // floor 6: manifests 1..6 reaped
    assert(t.versionAt(t8) == 8 && t.versionAt(t7) == 7)
    val e2 = intercept[IllegalArgumentException](t.versionAt(t5))
    assert(e2.getMessage.contains("vacuumed"), e2.getMessage)
  }

  test("table properties and CHECK constraints gate every writer; NULL passes; state survives checkpoints") {
    val dir = java.nio.file.Files.createTempDirectory("snaptab").toString
    val t = new SnapshotTable(spark, dir, checkpointInterval = 3)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    // plain properties round-trip, latest wins, unset deletes
    t.setProperty("owner", "ingest|team") // value containing the separator
    t.setProperty("owner", "obs-team")
    t.setProperty("note", "x")
    t.removeProperty("note")
    assert(t.properties() == Map("owner" -> "obs-team"))
    // a constraint the existing data satisfies installs
    t.addCheckConstraint("pos_id", "id > 0")
    assert(t.checkConstraints == Map("pos_id" -> "id > 0"))
    // a constraint existing data violates is refused
    intercept[SnapshotTable.ConstraintViolation] {
      t.addCheckConstraint("big_id", "id > 1")
    }
    // violating APPEND rejected, version unchanged, staging cleaned
    val vBefore = t.currentVersion
    intercept[SnapshotTable.ConstraintViolation] {
      t.append(Seq((-5L, "bad")).toDF("id", "name"))
    }
    assert(t.currentVersion == vBefore)
    // violating MERGE rejected too (the same staging choke point)
    intercept[SnapshotTable.ConstraintViolation] {
      t.merge(Seq((0L, "zero")).toDF("id", "name"), Seq("id"))
    }
    // valid writes proceed; NULL constraint results pass (SQL CHECK)
    t.append(Seq((3L, "c")).toDF("id", "name"))
    t.addCheckConstraint("short_name", "length(name) < 10")
    t.append(Seq((4L, null.asInstanceOf[String])).toDF("id", "name"))
    assert(t.read().count() == 4)
    // constraints survive checkpoints into a COLD instance
    (5L to 9L).foreach(i => t.append(Seq((i, s"n$i")).toDF("id", "name")))
    val cold = new SnapshotTable(spark, dir, checkpointInterval = 3)
    assert(cold.checkConstraints.keySet == Set("pos_id", "short_name"))
    intercept[SnapshotTable.ConstraintViolation] {
      cold.append(Seq((-1L, "x")).toDF("id", "name"))
    }
    // drop re-allows
    t.dropConstraint("pos_id")
    t.append(Seq((-1L, "ok-now")).toDF("id", "name"))
    assert(t.read().where(col("id") === -1L).count() == 1)
  }

  test("constraint hardening: evolution-shaped writers pass, bad installs refused, restore validates") {
    val dir = java.nio.file.Files.createTempDirectory("snaptab").toString
    val t = new SnapshotTable(spark, dir)
    t.append(Seq((1L, "a")).toDF("id", "name"))
    // reserved prefix refused on the plain property surface
    intercept[IllegalArgumentException] {
      t.setProperty("constraint.sneaky", "id < 0")
    }
    // malformed expression refused at install (would brick writes)
    intercept[IllegalArgumentException] {
      t.addCheckConstraint("broken", "id >< 1")
    }
    // unresolvable column refused at install against live data
    intercept[IllegalArgumentException] {
      t.addCheckConstraint("ghost", "no_such_col > 0")
    }
    t.addCheckConstraint("short_name", "length(name) < 10")
    // an old-shape writer missing the constrained column still
    // commits: the column null-fills on read and NULL passes CHECK
    t.append(Seq(7L).toDF("id"))
    assert(t.read().count() == 2)
    // property commits on a data-less table don't break ADD
    val t2 = new SnapshotTable(spark,
      java.nio.file.Files.createTempDirectory("snaptab").toString)
    t2.setProperty("owner", "x")
    t2.addCheckConstraint("pos", "id > 0") // no data, no schema: installs
    intercept[SnapshotTable.ConstraintViolation] {
      t2.append(Seq(-1L).toDF("id"))
    }
    // restore cannot resurrect rows a later constraint forbids
    val t3 = new SnapshotTable(spark,
      java.nio.file.Files.createTempDirectory("snaptab").toString)
    t3.append(Seq(-9L, 1L).toDF("id"))             // v1 has a bad row
    t3.deleteWhere(col("id") < 0L)                 // v2 clean
    t3.addCheckConstraint("pos", "id > 0")         // validates v2: ok
    intercept[SnapshotTable.ConstraintViolation] { t3.restore(1) }
    assert(ids(t3.read()) == Set(1L))              // nothing resurrected
  }

  test("importFiles adopts a parquet dir by reference: no copy, stats, constraints, vacuum safety") {
    val srcDir = java.nio.file.Files.createTempDirectory("snapimp-src").toString
    (0 until 64).map(i => (i.toLong, f"u$i%03d")).toDF("id", "u")
      .repartitionByRange(4, col("id")).write.mode("overwrite").parquet(srcDir)
    val dir = java.nio.file.Files.createTempDirectory("snapimp").toString
    val t = new SnapshotTable(spark, dir)
    // constraints installed on the empty table gate the import
    t.addCheckConstraint("pos", "id >= 0")
    val v = t.importFiles(srcDir, statCols = Seq("id", "u"))
    assert(v > 0 && t.read().count() == 64)
    // by reference: nothing copied under data/
    val fsys = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(!fsys.exists(new org.apache.hadoop.fs.Path(s"$dir/data")) ||
      fsys.listStatus(new org.apache.hadoop.fs.Path(s"$dir/data")).isEmpty)
    // imported stats prune from the manifest (range-partitioned ids)
    assert(planned(t, col("id").between(5L, 5L)).size == 1)
    assert(planned(t, col("u").between("u050", "u050")).size == 1)
    // adoption records null counts: zero-null columns prune IS NULL
    assert(t.readWhere(col("u").isNull).isEmpty)
    assert(t.lastDmlCandidates.isEmpty,
      s"imported IS NULL planned ${t.lastDmlCandidates.size} files")
    // the table behaves normally after adoption: appends, time travel
    t.append(Seq((100L, "u100")).toDF("id", "u"))
    assert(t.read().count() == 65 && t.read(Some(v)).count() == 64)
    // a violating import is refused on a fresh table with constraints
    val t2 = new SnapshotTable(spark,
      java.nio.file.Files.createTempDirectory("snapimp2").toString)
    t2.addCheckConstraint("pos", "id > 1000")
    intercept[SnapshotTable.ConstraintViolation] { t2.importFiles(srcDir) }
    assert(t2.files().isEmpty) // the constraint commit exists; no data landed
    // a second import into a non-empty table is refused
    intercept[IllegalArgumentException] { t.importFiles(srcDir) }
    // Hive-partitioned source refused (partition values live in dirs)
    val partDir = java.nio.file.Files.createTempDirectory("snapimp-p").toString
    Seq((1L, "a")).toDF("id", "p").write.partitionBy("p")
      .mode("overwrite").parquet(partDir)
    val t3 = new SnapshotTable(spark,
      java.nio.file.Files.createTempDirectory("snapimp3").toString)
    val e = intercept[IllegalArgumentException] { t3.importFiles(partDir) }
    assert(e.getMessage.contains("Hive-partitioned"), e.getMessage)
    // vacuum never touches the foreign originals: compact rewrites
    // into data/, vacuum reaps only its own dir, source files remain
    t.compact(coalesceTo = 1, statCols = Seq("id"))
    t.vacuum(retainFrom = t.currentVersion, stagingGraceMs = -1000L)
    assert(fsys.listStatus(new org.apache.hadoop.fs.Path(srcDir))
      .exists(_.getPath.getName.startsWith("part-")))
    assert(t.read().count() == 65)
  }

  test("importFiles: nested dirs refused (no silent partial adoption); evolved schemas merge") {
    // a NON-Hive subdirectory must refuse too — the listing is flat,
    // and adopting only the top level would silently lose the rest
    val nested = java.nio.file.Files.createTempDirectory("snapimp-n").toString
    Seq(1L).toDF("id").write.mode("overwrite").parquet(s"$nested/batch1")
    Seq(2L).toDF("id").coalesce(1).write.mode("append").parquet(nested)
    val tN = new SnapshotTable(spark,
      java.nio.file.Files.createTempDirectory("snapimpN").toString)
    val e = intercept[IllegalArgumentException] { tN.importFiles(nested) }
    assert(e.getMessage.contains("FLAT"), e.getMessage)
    // schema-evolved source: a later batch added a column; a sampled
    // single footer would pin a schema missing it — import must merge
    val evo = java.nio.file.Files.createTempDirectory("snapimp-e").toString
    Seq(1L).toDF("id").coalesce(1).write.mode("append").parquet(evo)
    Seq((2L, "b")).toDF("id", "name").coalesce(1)
      .write.mode("append").parquet(evo)
    val tE = new SnapshotTable(spark,
      java.nio.file.Files.createTempDirectory("snapimpE").toString)
    tE.importFiles(evo)
    val got = tE.read()
    assert(got.columns.sorted.sameElements(Array("id", "name")))
    assert(got.count() == 2 &&
      got.where(col("name").isNull).count() == 1) // old rows null-fill
  }

  test("vacuum dryRun reports without touching anything; detail summarizes the table") {
    val t = tmpTable()
    (1L to 4L).foreach(i => t.append(Seq(i).toDF("id")))
    t.compact(coalesceTo = 1)
    val filesBefore = t.files(Some(2)).size // old snapshot intact
    // dry run: counts what a real sweep would reap, deletes nothing,
    // records no retention boundary
    val would = t.vacuum(retainFrom = t.currentVersion,
      stagingGraceMs = -1000L, dryRun = true)
    assert(would >= 4, s"dry run saw $would")
    assert(t.retentionFloor == 0)             // no boundary recorded
    assert(t.files(Some(2)).size == filesBefore) // nothing deleted
    assert(ids(t.read(Some(2))) == Set(1L, 2L))  // history still reads
    // the real pass then reaps exactly what the dry run predicted
    assert(t.vacuum(retainFrom = t.currentVersion,
      stagingGraceMs = -1000L) == would)
    // detail: one-row ops summary
    t.setProperty("owner", "obs")
    t.addCheckConstraint("pos", "id > 0")
    val d = t.detail().collect().head
    assert(d.getInt(0) == t.currentVersion)
    assert(d.getInt(1) == 1 && d.getLong(2) > 0L) // one live compacted file
    assert(d.getSeq[String](4) == Seq("owner=obs"))
    assert(d.getSeq[String](5) == Seq("pos=id > 0"))
    assert(d.getInt(6) == t.retentionFloor)
    assert(d.getInt(11) == 1 && d.getInt(12) == 1) // protocol columns
    // empty table: detail still answers
    val d0 = tmpTable().detail().collect().head
    assert(d0.getInt(0) == 0 && d0.getInt(1) == 0 && d0.getLong(2) == 0L)
  }

  test("detail() sums bytes from manifest-recorded sizes — zero per-file stats") {
    val dir = java.nio.file.Files.createTempDirectory("snaptab").toString
    val t = new SnapshotTable(spark, dir, checkpointInterval = 3)
    (1L to 4L).foreach(i => t.append(Seq(i).toDF("id"))) // crosses ckpt@3
    t.compact(coalesceTo = 1, statCols = Seq("id"))      // rewrite records sizes
    t.deleteWhere(col("id") === 2L)                      // CoW delete re-records
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val expect = t.files().map(f => fs.getFileStatus(
      new org.apache.hadoop.fs.Path(f)).getLen).sum
    assert(expect > 0L)
    // cold reader (checkpoint + tail replay): bytes come from metadata
    val t2 = new SnapshotTable(spark, dir, checkpointInterval = 3)
    t2.fileStatCalls = 0
    val d = t2.detail().collect().head
    assert(d.getLong(2) == expect, s"size_bytes ${d.getLong(2)} != $expect")
    assert(t2.fileStatCalls == 0,
      s"size-tracked detail() issued ${t2.fileStatCalls} per-file stats")
    // legacy table (manifests committed before size tracking): strip
    // the sizes field everywhere; detail() falls back to statting and
    // still reports the same bytes
    val logDir = new org.apache.hadoop.fs.Path(s"$dir/_log")
    fs.listStatus(logDir).filter(_.getPath.getName.endsWith(".json"))
      .foreach { st =>
        val in = fs.open(st.getPath)
        val raw = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        val stripped = raw.replaceAll(""","sizes":\[[^\]]*\]""", "")
        val out = fs.create(st.getPath, true)
        try out.write(stripped.getBytes("UTF-8")) finally out.close()
      }
    val t3 = new SnapshotTable(spark, dir, checkpointInterval = 3)
    t3.fileStatCalls = 0
    val d3 = t3.detail().collect().head
    assert(d3.getLong(2) == expect)
    assert(t3.fileStatCalls == t3.files().size,
      "legacy table must fall back to per-file stats")
    // adoption records sizes from the SAME listing that found the files
    val src = java.nio.file.Files.createTempDirectory("snapimp").toString
    Seq(10L, 11L).toDF("id").write.mode("overwrite").parquet(src)
    val dir2 = java.nio.file.Files.createTempDirectory("snaptab").toString
    val ti = new SnapshotTable(spark, dir2)
    ti.importFiles(src)
    ti.fileStatCalls = 0
    val di = ti.detail().collect().head
    assert(di.getLong(2) > 0L && ti.fileStatCalls == 0,
      s"imported table statted ${ti.fileStatCalls} files in detail()")
  }

  test("merge prunes its match scan by the source's own key set (both flavors)") {
    val t = tmpTable()
    t.setProperty(SnapshotTable.StatColsProp, "id")
    t.setProperty(SnapshotTable.BloomColsProp, "id")
    (0 until 5).foreach(g => t.append(
      ((g * 100 + 1).toLong to (g * 100 + 100).toLong).toDF("id").coalesce(1)))
    // CoW point upsert: the key's stat/bloom-hit file is the only
    // match-scan candidate (4 files never read)
    t.lastDmlCandidates = Nil
    t.merge(Seq(250L).toDF("id"), Seq("id"))
    assert(t.lastDmlCandidates.size == 1,
      s"merge scanned ${t.lastDmlCandidates.size} candidate files")
    assert(t.read().count() == 500)
    // MoR point upsert prunes the tombstone scan the same way
    t.lastDmlCandidates = Nil
    t.merge(Seq(350L).toDF("id"), Seq("id"), mor = true)
    assert(t.lastDmlCandidates.size == 1,
      s"mergeMoR scanned ${t.lastDmlCandidates.size} candidate files")
    assert(t.read().count() == 500)
    // insert-only upsert: zero candidates, still lands as an append
    t.lastDmlCandidates = Nil
    t.merge(Seq(9999L).toDF("id"), Seq("id"), mor = true)
    assert(t.lastDmlCandidates.isEmpty ||
      t.lastDmlCandidates.size <= 1) // fpp may admit a file
    assert(t.read().count() == 501)
    // string keys prune through sstats + blooms
    val t2 = tmpTable()
    t2.setProperty(SnapshotTable.StatColsProp, "doc_id")
    t2.setProperty(SnapshotTable.BloomColsProp, "doc_id")
    val vals = (0 until 100).map(i => f"doc${(i * 37) % 100}%04d")
    (0 until 10).foreach(g => t2.append(
      vals.slice(g * 10, (g + 1) * 10).sorted.toDF("doc_id").coalesce(1)))
    val hits = planned(t2, col("doc_id") === vals(42)).toSet
    t2.lastDmlCandidates = Nil
    t2.merge(Seq(vals(42)).toDF("doc_id"), Seq("doc_id"))
    assert(t2.lastDmlCandidates.toSet.subsetOf(hits))
    assert(t2.read().count() == 100)
  }

  test("type evolution: safe widenings record the wider type; anything else refuses (no poisoned table)") {
    val t = tmpTable()
    t.append(Seq(1, 2).toDF("id")) // int files
    // a LONG writer widens the recorded type; old int32 files upcast
    t.append(Seq(3L).toDF("id"))
    assert(t.schemaAt(None).get.fields.head.dataType ==
      org.apache.spark.sql.types.LongType)
    assert(t.read().agg(sum("id")).as[Long].collect().head == 6L)
    // a NARROWER writer after the widening must NOT narrow the record:
    // recording int over long files would fail every later read with
    // PARQUET_COLUMN_DATA_TYPE_MISMATCH (the poisoned-table shape)
    t.append(Seq(4).toDF("id"))
    assert(t.schemaAt(None).get.fields.head.dataType ==
      org.apache.spark.sql.types.LongType,
      "narrower writer silently narrowed the recorded type")
    assert(t.read().agg(sum("id")).as[Long].collect().head == 10L)
    // unreconcilable changes refuse BEFORE committing
    intercept[SnapshotTable.SchemaEvolutionViolation] {
      t.append(Seq("x").toDF("id"))
    }
    intercept[SnapshotTable.SchemaEvolutionViolation] {
      t.append(Seq(1.5).toDF("id")) // long -> double loses precision
    }
    assert(t.read().count() == 4, "refused writes must leave no rows")
    // fp widening: int table + double writer reads everything double
    val t2 = tmpTable()
    t2.append(Seq(1, 2).toDF("v"))
    t2.append(Seq(0.5).toDF("v"))
    assert(t2.schemaAt(None).get.fields.head.dataType ==
      org.apache.spark.sql.types.DoubleType)
    assert(t2.read().agg(sum("v")).as[Double].collect().head == 3.5)
    // nullability unions: a non-null writer claim cannot override
    // prior files that may hold nulls
    val t3 = tmpTable()
    t3.append(Seq[(java.lang.Long, String)]((1L, null), (2L, "b"))
      .toDF("id", "s"))
    t3.append(Seq((3L, "c")).toDF("id", "s")) // writer says s non-null
    assert(t3.schemaAt(None).get.fields.find(_.name == "s").get.nullable,
      "nullability must union, not take the writer's non-null claim")
    assert(t3.read().where(col("s").isNull).count() == 1)
  }

  test("readWhere prunes from derived preds and matches read().filter exactly") {
    val t = tmpTable()
    t.setProperty(SnapshotTable.StatColsProp, "id")
    t.setProperty(SnapshotTable.BloomColsProp, "id")
    (0 until 5).foreach(g => t.append(
      ((g * 100 + 1).toLong to (g * 100 + 100).toLong).toDF("id").coalesce(1)))
    // point lookup: plans ONLY the stat/bloom-hit file
    val got = t.readWhere(col("id") === 250L).as[Long].collect().toSeq
    assert(got == Seq(250L))
    assert(t.lastDmlCandidates.size == 1,
      s"point readWhere planned ${t.lastDmlCandidates.size} files")
    // range: plans only overlapping files; equals the unpruned filter
    val r1 = t.readWhere(col("id").between(150L, 260L))
      .as[Long].collect().toSeq.sorted
    val r2 = t.read().filter(col("id").between(150L, 260L))
      .as[Long].collect().toSeq.sorted
    assert(r1 == r2 && t.lastDmlCandidates.size == 2)
    // IN list: any-of blooms
    assert(t.readWhere(col("id").isin(7L, 307L)).count() == 2)
    assert(t.lastDmlCandidates.size <= 2)
    // underivable condition: full (correct) scan
    assert(t.readWhere(col("id") % 100L === 0L).count() == 5)
    assert(t.lastDmlCandidates.size == 5)
    // DV-aware: MoR-deleted rows stay deleted through readWhere
    t.deleteWhere(col("id") === 250L, mor = true)
    assert(t.readWhere(col("id") === 250L).isEmpty)
    // version travel reads the pre-delete row
    assert(t.readWhere(col("id") === 250L,
      Some(t.currentVersion - 1)).count() == 1)
  }

  test("table-property stat/bloom defaults keep every write path prunable without per-call args") {
    val t = tmpTable()
    t.setProperty(SnapshotTable.StatColsProp, "id")
    t.setProperty(SnapshotTable.BloomColsProp, "id")
    // PLAIN append records stats + blooms from the defaults
    t.append((1L to 100L).toDF("id").coalesce(1))
    t.append((101L to 200L).toDF("id").coalesce(1))
    assert(planned(t, col("id").between(150L, 160L)).size == 1,
      "defaulted statCols must make plain appends prunable")
    assert(planned(t, col("id") === "150").size == 1) // bloom alone
    // MERGE rewrite keeps the rewritten files prunable (this used to
    // silently drop stats: merge had no statCols at all) — a probe
    // disjoint from the rewritten 101-200 range excludes them all
    t.merge(Seq(150L).toDF("id"), Seq("id"))
    assert(planned(t, col("id").between(1L, 50L)).size == 1,
      "merge rewrite must re-record stats from the defaults")
    // CoW delete rewrite keeps them too, with NO per-call args
    t.deleteWhere(col("id") === 120L)
    assert(planned(t, col("id").between(1L, 50L)).size == 1)
    assert(t.read().count() == 199)
    // derived preds + defaulted blooms compose: a point delete with no
    // manual args prunes to the bloom-hit file(s)
    t.deleteWhere(col("id") === 10L)
    assert(t.lastDmlCandidates.size == 1,
      s"got ${t.lastDmlCandidates.size} candidates")
    // compactSmall re-records from defaults
    t.compactSmall(targetBytes = 1L << 20)
    assert(planned(t, col("id").between(150L, 160L)).size == 1)
    // a defaulted column ABSENT from a widened writer's frame is
    // skipped, not an analysis failure
    t.setProperty(SnapshotTable.StatColsProp, "id,missing_col")
    t.append(Seq(500L).toDF("id").coalesce(1))
    assert(planned(t, col("id").between(500L, 500L)).size == 1)
    // explicit per-call args still override the defaults entirely
    val t2 = tmpTable()
    t2.setProperty(SnapshotTable.StatColsProp, "id")
    t2.appendWithStats(Seq((1L, 5L)).toDF("id", "v").coalesce(1), Seq("v"))
    assert(planned(t2, col("v").between(5L, 5L)).size == 1)
    // exactly-once tagged appends inherit defaults (the streaming sink)
    val t3 = tmpTable()
    t3.setProperty(SnapshotTable.StatColsProp, "id")
    t3.appendIfAbsent((1L to 50L).toDF("id").coalesce(1), "b0")
    assert(planned(t3, col("id").between(500L, 600L)).isEmpty
      || planned(t3, col("id").between(500L, 600L)).size < t3.files().size)
    assert(planned(t3, col("id").between(10L, 10L)).size == 1)
    // configure-then-adopt: importFiles inherits the defaults too
    val src = java.nio.file.Files.createTempDirectory("snapimp").toString
    (1L to 100L).toDF("id").repartitionByRange(4, col("id"))
      .write.mode("overwrite").parquet(src)
    val t4 = tmpTable()
    t4.setProperty(SnapshotTable.StatColsProp, "id")
    t4.importFiles(src)
    assert(planned(t4, col("id").between(10L, 12L)).size == 1,
      "adopted table must be prunable from the property defaults")
  }

  test("DML derives prune/bloom preds from cond itself; disjunctions fall back to full candidates") {
    val t = tmpTable()
    t.appendWithStats((1L to 100L).toDF("id").coalesce(1), Seq("id"))
    t.appendWithStats((101L to 200L).toDF("id").coalesce(1), Seq("id"))
    t.appendWithStats((201L to 300L).toDF("id").coalesce(1), Seq("id"))
    // point update with NO manual preds: the equality conjunct derives
    // a (id,150,150) range — one candidate file, one rewrite
    assert(t.updateWhere(col("id") === 150L, Seq("id" -> lit(150L)),
      statCols = Seq("id")) > 0)
    assert(t.lastDmlCandidates.size == 1,
      s"derived equality must prune to 1 file, got ${t.lastDmlCandidates.size}")
    // range conjuncts derive too (between = >= AND <=)
    assert(t.deleteWhere(col("id").between(250L, 260L), mor = true) > 0)
    assert(t.lastDmlCandidates.size == 1)
    // strict bounds: id > 290 keeps only the last file
    assert(t.deleteWhere(col("id") > 290L, statCols = Seq("id")) > 0)
    assert(t.lastDmlCandidates.size == 1)
    // IN derives the [min,max] envelope
    assert(t.updateWhere(col("id").isin(10L, 20L),
      Seq("id" -> lit(0L)), statCols = Seq("id"), mor = true) > 0)
    assert(t.lastDmlCandidates.size == 1)
    // a DISJUNCTION derives nothing: all live files stay candidates
    val liveNow = t.files().size
    assert(t.deleteWhere(col("id") === 5L || col("id") === 205L,
      statCols = Seq("id")) > 0)
    assert(t.lastDmlCandidates.size == liveNow,
      "disjunction must fall back to the full candidate set")
    // STRING columns: derived equality prunes via sstats AND blooms
    val t2 = tmpTable()
    val vals = (0 until 100).map(i => f"doc${(i * 37) % 100}%04d")
    (0 until 10).foreach { g =>
      t2.appendWithStats(
        vals.slice(g * 10, (g + 1) * 10).sorted.toDF("doc_id").coalesce(1),
        Seq("doc_id"), bloomCols = Seq("doc_id"))
    }
    val victim = vals(55)
    val hits = planned(t2, col("doc_id") === victim).toSet
    assert(t2.deleteWhere(col("doc_id") === victim,
      statCols = Seq("doc_id"), bloomCols = Seq("doc_id")) > 0)
    assert(t2.lastDmlCandidates.toSet.subsetOf(hits),
      "derived string equality must bloom-prune with no manual preds")
    assert(t2.read().where(col("doc_id") === victim).count() == 0)
    // an absent key prunes every candidate: zero IO, zero commit
    val cur = t2.currentVersion
    assert(t2.deleteWhere(col("doc_id") === "doc-nope") == 0)
    assert(t2.lastDmlCandidates.size <= 1 && t2.currentVersion == cur)
    // IN-list: the batch right-to-erasure shape — files surviving ANY
    // listed value's bloom stay candidates, the rest prune before IO
    val vics = Seq(vals(11), vals(77))
    val inHits = vics.flatMap(v => planned(t2, col("doc_id") === v)).toSet
    assert(t2.deleteWhere(col("doc_id").isin(vics: _*),
      statCols = Seq("doc_id"), bloomCols = Seq("doc_id")) > 0)
    assert(t2.lastDmlCandidates.toSet.subsetOf(inHits),
      s"IN-list bloom probe kept ${t2.lastDmlCandidates.size} files, " +
        s"union of per-value hits is ${inHits.size}")
    assert(t2.read().where(col("doc_id").isin(vics: _*)).count() == 0)
  }

  test("a MoR update naming an unknown or repeated column is refused before any sidecar is written") {
    val t = tmpTable()
    t.append((1L to 10L).toDF("id").coalesce(1))
    val index = new java.io.File(s"${t.root}/_index")
    def sidecars = Option(index.list()).map(_.toSeq.sorted).getOrElse(Nil)
    val (files0, v0) = (sidecars, t.currentVersion)
    val unknown = intercept[IllegalArgumentException] {
      t.updateWhere(col("id") === 3L, Seq("nope" -> lit(1L)), mor = true)
    }
    assert(unknown.getMessage.contains("no such column(s) nope"),
      unknown.getMessage)
    val repeated = intercept[IllegalArgumentException] {
      t.updateWhere(col("id") === 3L,
        Seq("id" -> lit(1L), "ID" -> lit(2L)), mor = true)
    }
    assert(repeated.getMessage.contains("duplicate assignment target"),
      repeated.getMessage)
    assert(sidecars == files0, s"refused update left files under _index: $sidecars")
    assert(t.currentVersion == v0 && t.read().count() == 10)
  }

  test("no-op MoR update (cond matches only tombstoned rows) runs ZERO write jobs") {
    val t = tmpTable()
    t.append((1L to 10L).toDF("id").coalesce(1))
    assert(t.deleteWhere(col("id") === 5L, mor = true) > 0)
    val v = t.currentVersion
    t.stagingRuns = 0
    // cond matches only the tombstoned row: no live match → no commit,
    // and the updated-copies staging job never runs
    assert(t.updateWhere(col("id") === 5L, Seq("id" -> lit(99L)), mor = true) == 0)
    assert(t.stagingRuns == 0,
      s"no-op MoR update ran ${t.stagingRuns} staging job(s)")
    assert(t.currentVersion == v)
    // a REAL match still stages exactly once
    assert(t.updateWhere(col("id") === 6L, Seq("id" -> lit(60L)), mor = true) > 0)
    assert(t.stagingRuns == 1)
    assert(t.read().where(col("id") === 60L).count() == 1)
  }

  test("EMPTY append (all parts zero-row) keeps the column mapping and never narrows the schema") {
    // zero-row staging drops every part, so the commit is add=Nil —
    // its recorded schema must STILL resolve against the prior one:
    // recording the writer's frame verbatim would strip a rename's
    // physical mapping (every old file then reads the column all-null)
    // and silently narrow the table to the empty frame's columns
    val dir = java.nio.file.Files.createTempDirectory("snaptab").toString
    val t = new SnapshotTable(spark, dir)
    t.append((1L to 10L).toDF("id").coalesce(1))
    t.renameColumn("id", "doc_id")
    t.append(spark.range(0).toDF("doc_id")) // empty frame → add=Nil
    assert(t.schemaAt(None).get.fields.head.metadata
      .contains(SnapshotTable.PhysicalNameKey),
      "empty append erased the physical-name mapping")
    assert(t.read().agg(sum("doc_id")).as[Long].collect().head == 55L,
      "pre-rename file lost its values after an empty append")
    // a NARROWER empty frame keeps the union, not the narrow shape
    val t2 = new SnapshotTable(spark,
      java.nio.file.Files.createTempDirectory("snaptab").toString)
    t2.append(Seq((1L, "a")).toDF("id", "v"))
    t2.append(spark.range(0).toDF("id"))
    assert(t2.schemaAt(None).get.fieldNames.toSeq == Seq("id", "v"),
      "empty append narrowed the recorded schema")
    assert(t2.read().columns.toSeq == Seq("id", "v"))
    // empty WIDENING frame still widens (union + evolution gate both
    // run exactly as for a non-empty frame — drop+add still refused)
    t2.append(spark.range(0)
      .selectExpr("id", "CAST(null AS string) AS v", "id AS w"))
    assert(t2.schemaAt(None).get.fieldNames.toSeq == Seq("id", "v", "w"))
    intercept[SnapshotTable.SchemaEvolutionViolation] {
      t2.append(spark.range(0).selectExpr("id", "id AS z"))
    }
  }

  test("column mapping: renameColumn keeps old files' values; pruning, deletes, merge and diff follow") {
    val dir = java.nio.file.Files.createTempDirectory("snaptab").toString
    val t = new SnapshotTable(spark, dir, checkpointInterval = 3)
    t.appendWithStats((1L to 100L).toDF("id").coalesce(1), Seq("id"))
    t.appendWithStats((101L to 200L).toDF("id").coalesce(1), Seq("id"))
    val preRename = t.currentVersion
    // metadata-only rename: no data file touched
    val filesBefore = t.files()
    val v = t.renameColumn("id", "doc_id")
    assert(v > 0 && t.files() == filesBefore)
    // old files read their values under the NEW name
    assert(t.read().schema.fieldNames.toSeq == Seq("doc_id"))
    assert(t.read().agg(sum("doc_id")).as[Long].collect().head ==
      (1L to 200L).sum)
    // time travel below the rename still reads the OLD name
    assert(t.read(Some(preRename)).schema.fieldNames.toSeq == Seq("id"))
    // stat pruning by the new name still prunes pre-rename files
    assert(planned(t, col("doc_id").between(150L, 160L)).size == 1)
    // post-rename appends interleave with pre-rename files
    t.appendWithStats((201L to 300L).toDF("doc_id").coalesce(1), Seq("doc_id"))
    assert(t.read().agg(sum("doc_id")).as[Long].collect().head ==
      (1L to 300L).sum)
    assert(planned(t, col("doc_id").between(250L, 260L)).size == 1)
    // drop+add is STILL refused; adding a column named like the
    // reserved physical name is refused too
    intercept[SnapshotTable.SchemaEvolutionViolation] {
      t.append(Seq(1L).toDF("doc_id2"))
    }
    intercept[SnapshotTable.SchemaEvolutionViolation] {
      t.append(Seq((5000L, 1L)).toDF("doc_id", "id"))
    }
    // both delete flavors under the logical name
    t.deleteWhere(col("doc_id") === 5L)
    t.deleteWhere(col("doc_id") === 105L, mor = true)
    assert(t.read().count() == 298)
    // merge with a PLAIN source frame must not lose the mapping
    t.merge(Seq(105L, 301L).toDF("doc_id"), Seq("doc_id"))
    assert(t.read().count() == 300)
    assert(t.read().filter(col("doc_id") === 1L).count() == 1,
      "pre-rename file lost its values after merge")
    // cold reader (checkpoint + tail) sees the mapping
    val t2 = new SnapshotTable(spark, dir, checkpointInterval = 3)
    assert(t2.read().agg(sum("doc_id")).as[Long].collect().head ==
      (1L to 300L).sum - 5L + 301L)
    // CDC across the rename emits logical names
    val d = t2.diff(preRename, t2.currentVersion)
    assert(d.schema.fieldNames.contains("doc_id"))
    // compact materializes under the mapping and keeps values
    t2.compact(coalesceTo = 1, statCols = Seq("doc_id"))
    assert(t2.read().filter(col("doc_id") <= 3L).count() == 3)
    // rename to an existing name refused; unknown column refused
    intercept[IllegalArgumentException] { t2.renameColumn("nope", "x") }
    // rename BACK to the physical name dissolves the mapping
    val t3dir = java.nio.file.Files.createTempDirectory("snaptab").toString
    val t3 = new SnapshotTable(spark, t3dir)
    t3.append(Seq(1L).toDF("a"))
    t3.renameColumn("a", "b")
    t3.renameColumn("b", "a")
    assert(t3.schemaAt(None).get.fields.head.metadata
      .contains(SnapshotTable.PhysicalNameKey) == false)
    assert(t3.read().as[Long].collect().toSeq == Seq(1L))
  }

  test("updateWhere rewrites only files with matches; history, pruning, DVs and mapping all follow") {
    val dir = java.nio.file.Files.createTempDirectory("snaptab").toString
    val t = new SnapshotTable(spark, dir)
    t.appendWithStats(Seq((1L, 10L), (2L, 20L)).toDF("id", "v").coalesce(1),
      Seq("id"))
    t.appendWithStats(Seq((3L, 30L), (4L, 40L)).toDF("id", "v").coalesce(1),
      Seq("id"))
    val filesBefore = t.files()
    val preUpdate = t.currentVersion
    // point update: stat pruning narrows to one candidate, one rewrite
    val v = t.updateWhere(col("id") === 3L, Seq("v" -> (col("v") + 500L)),
      statCols = Seq("id"))
    assert(v > 0)
    assert((filesBefore.toSet -- t.files().toSet).size == 1,
      "exactly one file may leave the live set")
    assert(t.read().where(col("id") === 3L).select("v")
      .as[Long].collect().toSeq == Seq(530L))
    assert(t.read().where(col("id") =!= 3L).agg(sum("v"))
      .as[Long].collect().head == 70L, "non-matching rows untouched")
    // the old snapshot still reads the pre-update value
    assert(t.read(Some(preUpdate)).where(col("id") === 3L).select("v")
      .as[Long].collect().toSeq == Seq(30L))
    // nothing matched = no commit
    assert(t.updateWhere(col("id") === 99L, Seq("v" -> lit(0L))) == 0)
    // the assignment casts back to the column type: schema invariant
    assert(t.updateWhere(col("id") === 1L,
      Seq("v" -> lit("77"))) > 0) // string literal, long column
    assert(t.schemaAt(None).get("v").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(t.read().where(col("id") === 1L).select("v")
      .as[Long].collect().toSeq == Seq(77L))
    // unknown target refused
    intercept[IllegalArgumentException] {
      t.updateWhere(col("id") === 1L, Seq("nope" -> lit(1L)))
    }
    // an update THROUGH a deletion vector materializes it: the
    // tombstoned row stays gone and the rewritten file drops its DV
    t.deleteWhere(col("id") === 2L, mor = true)
    assert(t.updateWhere(col("id") === 1L, Seq("v" -> lit(111L))) > 0)
    assert(t.read().where(col("id") === 2L).count() == 0,
      "materialized delete must not resurrect")
    assert(t.detail().collect().head.getInt(8) == 0, "DV retired by the rewrite")
    // column-mapped table: assignments address the LOGICAL name
    t.renameColumn("v", "score")
    assert(t.updateWhere(col("id") === 4L, Seq("score" -> lit(4000L))) > 0)
    assert(t.read().where(col("id") === 4L).select("score")
      .as[Long].collect().toSeq == Seq(4000L))
    assert(t.read().where(col("id") === 1L).select("score")
      .as[Long].collect().toSeq == Seq(111L), "pre-rename values intact")
  }

  test("renaming a CHECK-constrained column rewrites the constraint in the same commit; drop still refuses") {
    val dir = java.nio.file.Files.createTempDirectory("snaptab").toString
    val t = new SnapshotTable(spark, dir)
    t.append(Seq((1L, 5L)).toDF("id", "v"))
    t.addCheckConstraint("v_pos", "v > 0")
    // DROP of a constrained column still refuses (no rewrite can keep
    // a constraint on a column that no longer exists)
    val e2 = intercept[IllegalArgumentException] { t.dropColumn("v") }
    assert(e2.getMessage.contains("v_pos"))
    // RENAME rewrites the constraint mechanically in the SAME keyed
    // commit: no version exists at which v_pos names a ghost column
    t.renameColumn("v", "w")
    assert(t.checkConstraints("v_pos").toLowerCase.contains("w"),
      s"constraint must reference the new name, got ${t.checkConstraints}")
    // …and it still ENFORCES under the new name
    intercept[SnapshotTable.ConstraintViolation] {
      t.append(Seq((2L, -1L)).toDF("id", "w"))
    }
    assert(t.append(Seq((2L, 9L)).toDF("id", "w")) > 0)
    // a multi-column expression rewrites only the renamed identifier
    t.addCheckConstraint("order_ok", "id < 100 AND w > id - 100")
    t.renameColumn("id", "doc_id")
    val rewritten = t.checkConstraints("order_ok").toLowerCase
    assert(rewritten.contains("doc_id") && !rewritten.matches(".*\\bid\\b.*"),
      s"got $rewritten")
    intercept[SnapshotTable.ConstraintViolation] {
      t.append(Seq((500L, 9L)).toDF("doc_id", "w"))
    }
    assert(t.append(Seq((3L, 9L)).toDF("doc_id", "w")) > 0)
    // a constraint on ANOTHER column does not block or change
    assert(t.checkConstraints("v_pos").toLowerCase.contains("w"))
    // cold reader sees the rewritten constraints
    val cold = new SnapshotTable(spark, dir)
    intercept[SnapshotTable.ConstraintViolation] {
      cold.append(Seq((4L, -2L)).toDF("doc_id", "w"))
    }
  }

  test("updateWhereMoR: tombstone + updated copy in one commit, no rewrite; full-file conversion; no resurrection") {
    val dir = java.nio.file.Files.createTempDirectory("snaptab").toString
    val t = new SnapshotTable(spark, dir)
    t.append(Seq((1L, 10L), (2L, 20L)).toDF("id", "v").coalesce(1))
    t.append(Seq((3L, 30L), (4L, 40L)).toDF("id", "v").coalesce(1))
    val filesBefore = t.files().toSet
    val preUpdate = t.currentVersion
    // point MoR update: old files stay live (tombstoned), one new file
    val v = t.updateWhere(col("id") === 3L, Seq("v" -> (col("v") + 500L)), mor = true)
    assert(v > 0)
    assert(filesBefore.subsetOf(t.files().toSet),
      "MoR update must not rewrite any existing file")
    assert(t.files().size == 3, "exactly one new file of updated copies")
    // exactly-once visibility: the new value once, the old value gone
    assert(t.read().where(col("id") === 3L).select("v")
      .as[Long].collect().toSeq == Seq(530L))
    assert(t.read().count() == 4)
    // time travel still reads the pre-update value
    assert(t.read(Some(preUpdate)).where(col("id") === 3L).select("v")
      .as[Long].collect().toSeq == Seq(30L))
    // a second MoR update of the SAME row hits the updated COPY (new
    // file), tombstones it there, and appends again — still exactly one
    assert(t.updateWhere(col("id") === 3L, Seq("v" -> lit(999L)), mor = true) > 0)
    assert(t.read().where(col("id") === 3L).select("v")
      .as[Long].collect().toSeq == Seq(999L))
    assert(t.read().count() == 4)
    // a row MoR-DELETED earlier cannot resurrect as an updated copy
    t.deleteWhere(col("id") === 2L, mor = true)
    assert(t.updateWhere(col("id") <= 2L, Seq("v" -> lit(0L)), mor = true) > 0)
    assert(t.read().where(col("id") === 2L).count() == 0,
      "tombstoned row must not resurrect through an update")
    assert(t.read().where(col("id") === 1L).select("v")
      .as[Long].collect().toSeq == Seq(0L))
    // cond matching ONLY tombstoned rows = no commit
    val vHead = t.currentVersion
    assert(t.updateWhere(col("id") === 2L, Seq("v" -> lit(7L)), mor = true) == 0)
    assert(t.currentVersion == vHead)
    // updating EVERY row of one file converts it to a plain remove
    val dir2 = java.nio.file.Files.createTempDirectory("snaptab").toString
    val t2 = new SnapshotTable(spark, dir2)
    t2.append(Seq((1L, 1L), (2L, 2L)).toDF("id", "v").coalesce(1))
    t2.append(Seq((9L, 9L)).toDF("id", "v").coalesce(1))
    assert(t2.updateWhere(col("id") <= 2L, Seq("v" -> lit(0L)), mor = true) > 0)
    val d2 = t2.detail().collect().head
    assert(d2.getInt(8) == 0,
      s"fully-updated file must convert to a remove, not carry a DV: $d2")
    assert(t2.read().count() == 3 &&
      t2.read().agg(sum("v")).as[Long].collect().head == 9L)
    // materialize retires the DV debt; values stay
    t.materializeDeletes()
    assert(t.detail().collect().head.getInt(8) == 0)
    assert(t.read().where(col("id") === 3L).select("v")
      .as[Long].collect().toSeq == Seq(999L))
    assert(t.read().count() == 3)
    // num_rows metadata agrees through the whole MoR-update churn
    val d = t.detail().collect().head
    assert(!d.isNullAt(10) && d.getLong(10) == 3L)
  }

  test("a frame read from a mapped table does not smuggle physical names into another table") {
    val dirA = java.nio.file.Files.createTempDirectory("snaptab").toString
    val a = new SnapshotTable(spark, dirA)
    a.append(Seq(1L, 2L).toDF("id"))
    a.renameColumn("id", "doc_id")
    // read() frames carry the mapping metadata on their attributes —
    // appending one to a FRESH table must not record a physical name
    // the new table's own files never stored (the all-null leak)
    val dirB = java.nio.file.Files.createTempDirectory("snaptab").toString
    val b = new SnapshotTable(spark, dirB)
    b.append(a.read())
    assert(!b.schemaAt(None).get.fields.head.metadata
      .contains(SnapshotTable.PhysicalNameKey),
      "destination schema must be sanitized of the source's mapping")
    assert(b.read().agg(sum("doc_id")).as[Long].collect().head == 3L,
      "leaked mapping would read the destination's own files as null")
    // the same through diff() and through overwrite()
    val dirC = java.nio.file.Files.createTempDirectory("snaptab").toString
    val c = new SnapshotTable(spark, dirC)
    c.overwrite(a.diff(0, a.currentVersion).drop("_change"))
    assert(c.read().agg(sum("doc_id")).as[Long].collect().head == 3L)
  }

  test("schema channel survives the commit race: widenings union, renames are never clobbered") {
    // widen-vs-widen: the loser re-resolves on the winner's union
    // instead of recording a schema that silently drops the winner's
    // column from every read
    val dir = java.nio.file.Files.createTempDirectory("snaptab").toString
    val t = new SnapshotTable(spark, dir)
    t.append(Seq(1L).toDF("id"))
    val other = new SnapshotTable(spark, dir)
    t.raceInjector = () => { other.append(Seq((2L, "y")).toDF("id", "y")); () }
    t.append(Seq((3L, 7L)).toDF("id", "x"))
    assert(t.schemaAt(None).get.fieldNames.toSet == Set("id", "y", "x"),
      "racing widenings must BOTH survive in the recorded schema")
    assert(t.read().where(col("y") === "y").count() == 1)
    assert(t.read().where(col("x") === 7L).count() == 1)
    // rename racing a widening append: the rename's transform
    // re-derives on the widened schema — the new column survives
    val dir2 = java.nio.file.Files.createTempDirectory("snaptab").toString
    val t2 = new SnapshotTable(spark, dir2)
    t2.append(Seq((1L, "a")).toDF("id", "v"))
    val o2 = new SnapshotTable(spark, dir2)
    t2.raceInjector = () => { o2.append(Seq((2L, "b", 9L)).toDF("id", "v", "extra")); () }
    t2.renameColumn("v", "w")
    assert(t2.schemaAt(None).get.fieldNames.toSet == Set("id", "w", "extra"),
      "rename must land ON TOP of the racing widening")
    assert(t2.read().where(col("w") === "a").count() == 1, "mapping intact")
    assert(t2.read().where(col("extra") === 9L).count() == 1)
    // narrow append racing a rename: the union keeps the renamed
    // column AND its physical mapping
    val dir3 = java.nio.file.Files.createTempDirectory("snaptab").toString
    val t3 = new SnapshotTable(spark, dir3)
    t3.append(Seq((1L, "a")).toDF("id", "v"))
    val o3 = new SnapshotTable(spark, dir3)
    t3.raceInjector = () => { o3.renameColumn("v", "w"); () }
    t3.append(Seq(5L).toDF("id"))
    assert(t3.schemaAt(None).get.fieldNames.toSet == Set("id", "w"))
    assert(t3.read().where(col("w") === "a").count() == 1,
      "pre-rename values must survive the racing narrow append")
    // an OLD-SHAPE writer (still carrying the pre-rename name) racing
    // the rename degrades to a LOUD refusal, never a silent clobber
    val dir4 = java.nio.file.Files.createTempDirectory("snaptab").toString
    val t4 = new SnapshotTable(spark, dir4)
    t4.append(Seq((1L, "a")).toDF("id", "v"))
    val o4 = new SnapshotTable(spark, dir4)
    t4.raceInjector = () => { o4.renameColumn("v", "w"); () }
    intercept[SnapshotTable.SchemaEvolutionViolation] {
      t4.append(Seq((2L, "b")).toDF("id", "v"))
    }
    assert(t4.read().where(col("w") === "a").count() == 1,
      "the refused commit must leave the renamed table intact")
  }

  test("column mapping: dropColumn is metadata-only, retires the physical name, and overwrite lifts the reservation") {
    val dir = java.nio.file.Files.createTempDirectory("snaptab").toString
    val t = new SnapshotTable(spark, dir)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1))
    val preDrop = t.currentVersion
    val filesBefore = t.files()
    t.dropColumn("v")
    assert(t.files() == filesBefore, "drop must not touch data files")
    assert(t.read().schema.fieldNames.toSeq == Seq("id"))
    assert(t.read().count() == 2)
    // time travel below the drop still reads the column
    assert(t.read(Some(preDrop)).schema.fieldNames.toSeq == Seq("id", "v"))
    // re-adding the dropped name is refused: old files still store it
    val e = intercept[SnapshotTable.SchemaEvolutionViolation] {
      t.append(Seq((3L, "NEW")).toDF("id", "v"))
    }
    assert(e.getMessage.contains("DROPPED"))
    // renaming another column ONTO the retired name is refused too
    intercept[IllegalArgumentException] { t.renameColumn("id", "v") }
    // appends without the dropped column proceed
    t.append(Seq(3L).toDF("id"))
    assert(t.read().count() == 3)
    // dropping a RENAMED column retires its PHYSICAL name
    val dir2 = java.nio.file.Files.createTempDirectory("snaptab").toString
    val t2 = new SnapshotTable(spark, dir2)
    t2.append(Seq((1L, "x")).toDF("id", "v").coalesce(1))
    t2.renameColumn("v", "w")
    t2.dropColumn("w")
    intercept[SnapshotTable.SchemaEvolutionViolation] {
      t2.append(Seq((2L, "y")).toDF("id", "v"))
    }
    // overwrite retires the on-disk data and lifts the reservation
    t2.overwrite(Seq(9L).toDF("id"))
    t2.append(Seq((10L, "fresh")).toDF("id", "v"))
    assert(t2.read().schema.fieldNames.toSet == Set("id", "v"))
    assert(t2.read().filter(col("v") === "fresh").count() == 1)
    // the only column cannot be dropped
    val t3 = new SnapshotTable(spark,
      java.nio.file.Files.createTempDirectory("snaptab").toString)
    t3.append(Seq(1L).toDF("id"))
    intercept[IllegalArgumentException] { t3.dropColumn("id") }
  }

  test("manifest row counts: MoR full-file check and detail().num_rows are metadata-only; legacy falls back") {
    val dir = java.nio.file.Files.createTempDirectory("snaptab").toString
    val t = new SnapshotTable(spark, dir, checkpointInterval = 3)
    (0 until 4).foreach { g =>
      t.append((g * 5 until g * 5 + 5).map(_.toLong).toDF("id").coalesce(1))
    }
    // cold reader (checkpoint + tail): counts ride the manifest
    val t2 = new SnapshotTable(spark, dir, checkpointInterval = 3)
    val d0 = t2.detail().collect().head
    assert(!d0.isNullAt(10) && d0.getLong(10) == 20L,
      s"num_rows must be metadata-exact, got $d0")
    // MoR delete with NO fallback count scan: totals come from the
    // manifest rows channel; the full-file tombstone still converts
    t2.morCountScans = 0
    assert(t2.deleteWhere(col("id") === 7L, mor = true) > 0)
    assert(t2.deleteWhere(col("id") >= 15L, mor = true) > 0)
    assert(t2.morCountScans == 0,
      s"count-tracked MoR delete ran ${t2.morCountScans} fallback scans")
    assert(t2.files().size == 3, "fully-tombstoned file must leave the live set")
    assert(ids(t2.read()) == (0L until 15L).toSet - 7L)
    // num_rows reflects tombstones: 20 physical - 5 removed-file - 1 DV
    val d1 = t2.detail().collect().head
    assert(d1.getLong(10) == 14L, s"num_rows with DV debt: $d1")
    // LEGACY writer (predates row tracking): fallback scan runs, same
    // answers; a table with untracked live files reports num_rows null
    val dirL = java.nio.file.Files.createTempDirectory("snaptab").toString
    val tl = new SnapshotTable(spark, dirL)
    tl.recordRowCounts = false
    (0 until 2).foreach { g =>
      tl.append((g * 5 until g * 5 + 5).map(_.toLong).toDF("id").coalesce(1))
    }
    val dl = tl.detail().collect().head
    assert(dl.isNullAt(10), "untracked table must report num_rows null")
    tl.morCountScans = 0
    assert(tl.deleteWhere(col("id") >= 5L, mor = true) > 0)
    assert(tl.morCountScans == 1, "legacy table must fall back to the scan")
    assert(tl.files().size == 1 && ids(tl.read()) == (0L until 5L).toSet)
    // adopted files are count-tracked too (footer reads at import)
    val src = java.nio.file.Files.createTempDirectory("snapimp").toString
    Seq(10L, 11L, 12L).toDF("id").coalesce(1)
      .write.mode("overwrite").parquet(src)
    val dirI = java.nio.file.Files.createTempDirectory("snaptab").toString
    val ti = new SnapshotTable(spark, dirI)
    ti.importFiles(src)
    assert(ti.detail().collect().head.getLong(10) == 3L)
    ti.morCountScans = 0
    assert(ti.deleteWhere(col("id") >= 10L, mor = true) > 0)
    assert(ti.morCountScans == 0 && ti.files().isEmpty)
  }

  test("compactSmall rewrites only the small-file tail; large files untouched; idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("snaptab").toString
    val t = new SnapshotTable(spark, dir)
    // two LARGE files (above target) + six tiny ones
    t.append(spark.range(0, 40000).selectExpr("id", "repeat('x', 64) AS pad")
      .coalesce(1))
    t.append(spark.range(40000, 80000).selectExpr("id", "repeat('x', 64) AS pad")
      .coalesce(1))
    (0 until 6).foreach(i => t.append(
      Seq((1000000L + i, "y")).toDF("id", "pad")))
    assert(t.files().size == 8)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val large = t.files().filter(f => fs.getFileStatus(
      new org.apache.hadoop.fs.Path(f)).getLen >= 65536).toSet
    assert(large.size == 2, s"expected 2 large files, got ${large.size}")
    val before = t.files().toSet
    val v = t.compactSmall(targetBytes = 65536, statCols = Seq("id"))
    assert(v > 0)
    val after = t.files().toSet
    // the large files stayed live — OPTIMIZE touched only the tail
    assert(large.subsetOf(after), "large files must be untouched")
    assert((before -- after) == (before -- large),
      "exactly the small files left the live set")
    assert(after.size == large.size + 1, s"tail packs to 1: ${after.size}")
    assert(t.read().count() == 80006)
    // selection was metadata-only: a cold instance compacts with zero
    // per-file stats (sizes ride the manifest)
    val t2 = new SnapshotTable(spark, dir)
    t2.fileStatCalls = 0
    assert(t2.compactSmall(targetBytes = 65536) == 0, "second run is a no-op")
    assert(t2.fileStatCalls == 0,
      s"size selection statted ${t2.fileStatCalls} files")
    // history still reads the pre-compaction layout
    assert(t.read(Some(8)).count() == 80006)
  }

  test("deletion vectors: MoR delete skips rows without rewriting; rewrites materialize; restore/vacuum follow") {
    val dir = java.nio.file.Files.createTempDirectory("snaptab").toString
    val t = new SnapshotTable(spark, dir, checkpointInterval = 3)
    (0 until 4).foreach { g =>
      t.append((g * 5 until g * 5 + 5).map(_.toLong).toDF("id").coalesce(1))
    }
    val filesBefore = t.files()
    assert(filesBefore.size == 4)
    // MoR delete: rows vanish from reads, the FILE SET is unchanged
    val v1 = t.deleteWhere(col("id") === 12L, mor = true)
    assert(v1 == 5)
    assert(t.files() == filesBefore, "MoR delete must not touch files")
    assert(ids(t.read()) == (0L until 20L).toSet - 12L)
    // time travel still sees the row
    assert(ids(t.read(Some(4))).contains(12L))
    // second delete on the SAME file unions into a new sidecar
    assert(t.deleteWhere(col("id") === 11L, mor = true) == 6)
    assert(ids(t.read()) == (0L until 20L).toSet -- Set(11L, 12L))
    // re-deleting covered rows is a no-op, not a commit
    assert(t.deleteWhere(col("id") === 12L, mor = true) == 0)
    assert(t.currentVersion == 6)
    // absent key: no commit
    assert(t.deleteWhere(col("id") === 999L, mor = true) == 0)
    // a COLD reader applies DVs from checkpoint-carried state
    val cold = new SnapshotTable(spark, dir, checkpointInterval = 3)
    assert(ids(cold.read()) == (0L until 20L).toSet -- Set(11L, 12L))
    // diff across the MoR delete emits delete rows (no remove set!)
    val d = t.diff(4, 6).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(d == Set((11L, "delete"), (12L, "delete")), d.toString)
    // CoW paths see through DVs: a copy-on-write delete of a DV'd
    // file's neighbor row must not resurrect the tombstoned ones
    assert(t.deleteWhere(col("id") === 13L) > 0)
    assert(ids(t.read()) == (0L until 20L).toSet -- Set(11L, 12L, 13L))
    // ...and the rewrite MATERIALIZED the deletes: the rewritten file
    // carries no DV (delete sidecar died with the removed file)
    // restore to the pre-CoW version brings the DV state back
    t.restore(6)
    assert(ids(t.read()) == (0L until 20L).toSet -- Set(11L, 12L))
    // restore to the pre-ANY-delete version clears DVs via tombstones
    t.restore(4)
    assert(ids(t.read()) == (0L until 20L).toSet)
    // compact materializes: read back full, then MoR delete + compact
    t.deleteWhere(col("id") === 3L, mor = true)
    t.compact(coalesceTo = 1)
    assert(ids(t.read()) == (0L until 20L).toSet - 3L)
    assert(t.files().size == 1)
    // vacuum sweeps every dv sidecar no retained version references
    t.vacuum(retainFrom = t.currentVersion, stagingGraceMs = -1000L)
    val fsys = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val idx = new org.apache.hadoop.fs.Path(s"$dir/_index")
    val dvLeft =
      if (!fsys.exists(idx)) Array.empty[String]
      else fsys.listStatus(idx).map(_.getPath.getName)
        .filter(_.contains(".dv-"))
    assert(dvLeft.isEmpty, s"stale dv sidecars: ${dvLeft.mkString(",")}")
    assert(ids(t.read()) == (0L until 20L).toSet - 3L)
  }

  test("deletion vectors: a DV covering a whole file converts to a plain remove") {
    val dir = java.nio.file.Files.createTempDirectory("snaptab").toString
    val t = new SnapshotTable(spark, dir)
    t.append((0L until 5L).toDF("id").coalesce(1))
    t.append((5L until 10L).toDF("id").coalesce(1))
    val before = t.files()
    // matches EVERY row of file 1 and one row of file 2: file 1 must
    // leave the live set (no 100%-tombstoned file surviving forever),
    // file 2 gets a partial DV
    val v = t.deleteWhere(col("id") < 6L, mor = true)
    assert(v == 3)
    assert(t.files().size == 1, s"full file should be removed: ${t.files()}")
    assert(ids(t.read()) == Set(6L, 7L, 8L, 9L))
    // detail reports the MoR debt
    val d = t.detail().collect().head
    assert(d.getAs[Int]("num_dv_files") == 1 &&
      d.getAs[Long]("dv_tombstones") == 1L)
    // history: v3 carries the remove
    assert(t.read(Some(2)).count() == 10) // time travel intact
    assert(before.toSet -- t.files().toSet == Set(before.head))
  }

  test("deletion vectors: a racing compact conflicts; the MoR retry lands on the new head") {
    val dir = java.nio.file.Files.createTempDirectory("snaptab").toString
    val t = new SnapshotTable(spark, dir)
    t.append((0L until 5L).toDF("id").coalesce(1))
    t.append((5L until 10L).toDF("id").coalesce(1))
    // a compaction publishes in the exact window between the DV
    // commit's staging and its publish: the keyed conflict fires, the
    // retry re-resolves from the compacted head and tombstones the row
    // in the REWRITTEN file
    val other = new SnapshotTable(spark, dir)
    t.raceInjector = () => { other.compact(coalesceTo = 1); () }
    val v = t.deleteWhere(col("id") === 7L, mor = true)
    assert(v == 4, s"expected retry to land at v4, got $v") // 2 appends + compact + dv
    assert(ids(t.read()) == (0L until 10L).toSet - 7L)
    assert(t.files().size == 1)
  }

  test("deletion vectors: two racing MoR deletes on the same file union via the keyed retry") {
    val dir = java.nio.file.Files.createTempDirectory("snaptab").toString
    val t = new SnapshotTable(spark, dir)
    t.append((0L until 10L).toDF("id").coalesce(1))
    // the second delete publishes inside the first's stage-to-publish
    // window: without the keyed conflict the first would repoint the
    // DV to a sidecar that lacks the second's tombstone, silently
    // resurrecting it — the retry re-unions from the winner's sidecar
    val other = new SnapshotTable(spark, dir)
    t.raceInjector = () => { other.deleteWhere(col("id") === 4L, mor = true); () }
    assert(t.deleteWhere(col("id") === 8L, mor = true) == 3)
    assert(ids(t.read()) == (0L until 10L).toSet -- Set(4L, 8L))
    assert(t.files().size == 1)
  }

  test("deletion vectors: survive schema widening and checkpoint-cold reads together") {
    val dir = java.nio.file.Files.createTempDirectory("snaptab").toString
    val t = new SnapshotTable(spark, dir, checkpointInterval = 2)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1))
    assert(t.deleteWhere(col("id") === 2L, mor = true) == 2)
    // widening append AFTER the DV: old file null-fills the new
    // column AND its tombstone still applies under the pinned schema
    t.append(Seq((3L, "c", 9L)).toDF("id", "v", "extra"))
    val got = t.read().orderBy("id").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 3L))
    assert(got.head.isNullAt(2) && got(1).getLong(2) == 9L)
    // cold instance past a checkpoint boundary sees the same
    val cold = new SnapshotTable(spark, dir, checkpointInterval = 2)
    assert(ids(cold.read()) == Set(1L, 3L))
  }

  test("materializeDeletes rewrites only DV-bearing files and retires the vectors") {
    val dir = java.nio.file.Files.createTempDirectory("snaptab").toString
    val t = new SnapshotTable(spark, dir)
    t.append((0L until 5L).toDF("id").coalesce(1))
    t.append((5L until 10L).toDF("id").coalesce(1))
    t.append((10L until 15L).toDF("id").coalesce(1))
    assert(t.deleteWhere(col("id") === 6L, mor = true) > 0)
    val dvFile = t.files()(1) // add-order: the 5..9 file carries the DV
    val before = t.files().toSet
    val v = t.materializeDeletes(statCols = Seq("id"))
    assert(v > 0)
    val after = t.files().toSet
    // exactly the DV-bearing file was rewritten; others stay shared
    assert(!after.contains(dvFile))
    assert((before - dvFile).subsetOf(after))
    assert(after.size == 3)
    assert(ids(t.read()) == (0L until 15L).toSet - 6L)
    // the MoR debt is gone: no anti-join tax, no vectors in detail
    val d = t.detail().collect().head
    assert(d.getAs[Int]("num_dv_files") == 0 &&
      d.getAs[Long]("dv_tombstones") == 0L)
    // idempotent
    assert(t.materializeDeletes() == 0)
    // rewritten file carries fresh stats: a pruned read still works
    assert(t.readWhere(col("id").between(7L, 7L)).count() == 1)
  }

  test("deletion vectors on an importFiles-adopted table survive vacuum") {
    val src = java.nio.file.Files.createTempDirectory("snapimp-src").toString
    (0L until 10L).toDF("id").coalesce(1).write.mode("overwrite").parquet(src)
    val dir = java.nio.file.Files.createTempDirectory("snaptab").toString
    val t = new SnapshotTable(spark, dir)
    t.importFiles(src)
    // the adopted file lives OUTSIDE data/ — the dv sweep must key on
    // retained-version references, not on a data-dir listing
    assert(t.deleteWhere(col("id") === 4L, mor = true) == 2)
    t.append(Seq(100L).toDF("id"))
    t.vacuum(retainFrom = t.currentVersion, stagingGraceMs = -1000L)
    assert(ids(t.read()) == (0L until 10L).toSet - 4L + 100L)
    // the live sidecar survived; a cold reader still applies it
    val cold = new SnapshotTable(spark, dir)
    assert(ids(cold.read()) == (0L until 10L).toSet - 4L + 100L)
  }

  test("deletion vectors: pruned reads and incremental consumers respect tombstones") {
    val dir = java.nio.file.Files.createTempDirectory("snaptab").toString
    val t = new SnapshotTable(spark, dir)
    t.appendWithStats((0L until 50L).toDF("id").coalesce(1), Seq("id"),
      bloomCols = Seq("id"))
    t.appendWithStats((50L until 100L).toDF("id").coalesce(1), Seq("id"),
      bloomCols = Seq("id"))
    val v = t.deleteWhere(col("id") === 7L, mor = true)
    assert(v == 3)
    // stat-pruned and bloom-pruned reads both skip the tombstone
    // (pruning narrows FILES; the caller's row predicate still applies)
    assert(t.readWhere(col("id").between(0L, 10L))
      .where(col("id") === 7L).count() == 0)
    assert(t.readWhere(col("id").between(0L, 10L)).count() == 10)
    // the one file holding 0..49 reads minus its tombstone
    assert(planned(t, col("id").between(0L, 49L)).size == 1)
    assert(t.readWhere(col("id").between(0L, 49L)).count() == 49)
    assert(t.readWhere(col("id") === 7L).count() == 0)
    // merge over a DV'd file keeps the tombstone out of the rewrite
    t.merge(Seq(8L).toDF("id"), Seq("id"))
    assert(t.read().where(col("id") === 7L).count() == 0)
    assert(t.read().count() == 99)
  }

  test("bloom hygiene after MoR delete: tombstoned keys stay correct-but-unpruned until materialize rebuilds") {
    val dir = java.nio.file.Files.createTempDirectory("snaptab").toString
    val t = new SnapshotTable(spark, dir)
    t.appendWithStats((0L until 10L).toDF("id").coalesce(1),
      statCols = Nil, bloomCols = Seq("id"))
    t.appendWithStats((10L until 20L).toDF("id").coalesce(1),
      statCols = Nil, bloomCols = Seq("id"))
    assert(planned(t, col("id") === 5L).size == 1)
    t.deleteWhere(col("id") === 5L, mor = true)
    // the CONTRACT: the stale bloom still advertises the deleted key —
    // its file is scanned (no prune regression into wrong-pruning) and
    // the DV anti-join returns zero rows (correctness)
    assert(planned(t, col("id") === 5L).size == 1,
      "pre-materialize lookup must still scan the DV-bearing file")
    assert(t.readWhere(col("id") === 5L).count() == 0)
    // an undeleted key in the same file is untouched
    assert(t.readWhere(col("id") === 6L).count() == 1)
    // materializeDeletes rebuilds the bloom from surviving rows: the
    // deleted key now prunes to ZERO files
    t.materializeDeletes(bloomCols = Seq("id"))
    assert(planned(t, col("id") === 5L).isEmpty,
      "materialize must rebuild blooms without the tombstoned key")
    assert(planned(t, col("id") === 6L).size == 1)
    assert(t.read().count() == 19)
  }

  test("stress: 4 writers mixing MoR deletes, appends, compactSmall and materialize converge with a serial control") {
    // randomized-interleave stress of the whole MoR lifecycle under
    // the commit-retry machinery: every writer deletes only ids IT
    // owns (seed partition + own appends), so the final row set is
    // interleave-independent and a serial replay of the same ops is
    // an exact control. -Dstress.rounds=50 deepens it.
    val rounds = sys.props.getOrElse("stress.rounds", "3").toInt
    val writers = 4
    def seedOf(tid: Int): Seq[Long] = (tid * 10L) until (tid * 10L + 10L)
    def runOps(w: SnapshotTable, tid: Int): Unit =
      (0 until rounds).foreach { i =>
        val base = 1000L + tid * 1000L + i * 10L
        w.append((base until base + 5L).toDF("id").coalesce(1))
        // one seed id + one own-append id per round, both MoR
        w.deleteWhere(col("id") === (tid * 10L + (i % 10)), mor = true)
        w.deleteWhere(col("id") === (base + 2L), mor = true)
        if (i % 3 == tid % 3) w.compactSmall(targetBytes = 1L << 20)
        if (i % 4 == 2) w.materializeDeletes()
      }
    def expected: Set[Long] = {
      val seed = (0 until writers).flatMap(seedOf).toSet
      val appended = (for {
        tid <- 0 until writers; i <- 0 until rounds
        id <- (1000L + tid * 1000L + i * 10L) until (1000L + tid * 1000L + i * 10L + 5L)
      } yield id).toSet
      val deleted = (for {
        tid <- 0 until writers; i <- 0 until rounds
        id <- Seq(tid * 10L + (i % 10), 1000L + tid * 1000L + i * 10L + 2L)
      } yield id).toSet
      seed ++ appended -- deleted
    }
    // parallel run
    val dir = java.nio.file.Files.createTempDirectory("snapstress").toString
    val t0 = new SnapshotTable(spark, dir, checkpointInterval = 5)
    (0 until writers).foreach(tid =>
      t0.append(seedOf(tid).toDF("id").coalesce(1)))
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until writers).map { tid =>
      new Thread(() => try {
        runOps(new SnapshotTable(spark, dir, checkpointInterval = 5), tid)
      } catch { case e: Throwable => errors.add(e) })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errors.isEmpty,
      s"writer died: ${Option(errors.peek()).map(_.toString)}")
    // serial control: identical ops, writer-major order
    val dirS = java.nio.file.Files.createTempDirectory("snapstress").toString
    val ts = new SnapshotTable(spark, dirS, checkpointInterval = 5)
    (0 until writers).foreach(tid =>
      ts.append(seedOf(tid).toDF("id").coalesce(1)))
    (0 until writers).foreach(tid => runOps(ts, tid))
    val t = new SnapshotTable(spark, dir, checkpointInterval = 5)
    assert(ids(t.read()) == expected, "parallel run diverged from the model")
    assert(ids(t.read()) == ids(ts.read()), "parallel diverged from serial")
    // tombstone debt agrees with the visible rows: logical num_rows
    // (physical minus DV tombstones) must equal the actual count
    val d = t.detail().collect().head
    assert(d.isNullAt(10) || d.getLong(10) == expected.size.toLong,
      s"detail num_rows ${d.get(10)} != ${expected.size}")
    // the log replays cleanly at the head after all the churn
    assert(t.read().count() == expected.size.toLong)
  }

  test("history: newest-first bounded commit log with tags and keyed markers") {
    val t = tmpTable()
    t.append(Seq(1L, 2L).toDF("id"))                       // v1: add 1 file? (2 rows may split)
    t.appendIfAbsent(Seq(3L).toDF("id"), tag = "batch-7")  // v2 tagged
    t.merge(Seq((1L, true)).toDF("id", "flag")
      .select(col("id")), Seq("id"))                       // v3 keyed
    val h = t.history()
    assert(h.columns.sameElements(Array(
      "version", "committed_at", "n_add", "n_remove", "tag", "keyed", "op",
      "num_rows_added", "num_rows_removed", "bytes_added", "bytes_removed")))
    val rows = h.collect()
    // the op column names each verb
    assert(rows.map(r => r.getInt(0) -> r.getString(6)).toMap ==
      Map(3 -> "merge", 2 -> "appendIfAbsent", 1 -> "append"))
    assert(rows.map(_.getInt(0)).sameElements(Array(3, 2, 1))) // newest first
    val byV = rows.map(r => r.getInt(0) -> r).toMap
    assert(byV(2).getString(4) == "batch-7" && !byV(2).getBoolean(5))
    assert(byV(3).getBoolean(5))                 // merge is a keyed commit
    assert(byV(3).getInt(3) >= 1)                // it removed rewritten files
    assert(Option(byV(1).get(4)).isEmpty)        // untagged append
    // bounded: limit reads only the newest manifests
    assert(t.history(limit = 2).collect().map(_.getInt(0))
      .sameElements(Array(3, 2)))
    // retention-reaped versions are skipped, not an error
    val t2 = new SnapshotTable(spark,
      java.nio.file.Files.createTempDirectory("snaptab").toString,
      checkpointInterval = 3)
    (1L to 12L).foreach(i => t2.append(Seq(i).toDF("id")))
    t2.vacuumLog(retainVersions = 4)
    val hv = t2.history(limit = 12).collect().map(_.getInt(0))
    assert(hv.head == 12 && hv.forall(_ > t2.currentVersion - 12) &&
      hv.min >= 7, hv.mkString(","))
  }
}
