package graft.sources

import graft.SparkSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Partition LAYOUT on the snapshot format (r15 VERDICT #1: the
  * silently-dropped `partitionBy`): `df.write.partitionBy(...)` and
  * `CREATE TABLE ... PARTITIONED BY` are HONORED as the table's
  * recorded range-clustering layout ([[SnapshotTable
  * .PartitionColsProp]]) — every write range-clusters on the layout
  * columns and records their per-file stats, so a partition predicate
  * prunes to the matching files from the manifest (the file-skipping a
  * hive directory layout buys, without tiny-file explosion at scale).
  * Contradicting declarations refuse loudly.
  *
  * Tests run with AQE partition coalescing OFF around the writes:
  * at test row counts AQE legitimately merges the adjacent range
  * partitions into one file (coarser clustering, still contiguous),
  * which would hide the per-range file split the assertions pin. */
class SnapshotLayoutSpec extends SparkSuite {
  import spark.implicits._
  private val ext = SparkSuite.extSession

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("snaplayout").toString

  private def kv(n: Int, kOf: Int => Long, offset: Int = 0) =
    (0 until n).map(i => ((i + offset).toLong, kOf(i))).toDF("id", "k")

  private def withTightRanges[A](s: SparkSession)(body: => A): A = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val old = s.conf.getOption(key)
    s.conf.set(key, "false")
    try body
    finally old match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  test("writer partitionBy records the layout, clusters files, prunes point reads") {
    val dir = tmpDir()
    // 4 distinct k ranges over 400 rows; shuffle.partitions=4 in tests
    withTightRanges(spark) {
      kv(400, _ / 100).write.format("snapshot").mode("append")
        .partitionBy("k").save(dir)
    }
    val t = new SnapshotTable(spark, dir)
    assert(t.properties().get(SnapshotTable.PartitionColsProp)
      .contains("k"), "the layout must be RECORDED in the table log")
    val total = t.files().size
    assert(total >= 2, s"range clustering should spread files, got $total")
    val got = t.readWhere(col("k") === 2L)
    assert(got.count() == 100)
    assert(t.lastDmlCandidates.size < total,
      s"partition-predicate read must prune: planned " +
        s"${t.lastDmlCandidates.size} of $total files")
    assert(t.lastDmlCandidates.size <= 2) // one range slab (+1 boundary)
  }

  test("plain appends MAINTAIN the recorded layout (clustering + stats)") {
    val dir = tmpDir()
    val t = new SnapshotTable(spark, dir)
    withTightRanges(spark) {
      kv(400, _ / 100).write.format("snapshot").mode("append")
        .partitionBy("k").save(dir)
      // second write through the TABLE API, no partitionBy anywhere:
      // the recorded property drives the clustering
      t.append(kv(400, _ / 100, offset = 400))
    }
    val total = t.files().size
    val got = t.readWhere(col("k") === 0L)
    assert(got.count() == 200)
    assert(t.lastDmlCandidates.size <= 4 &&
      t.lastDmlCandidates.size < total,
      s"layout must survive plain appends: planned " +
        s"${t.lastDmlCandidates.size} of $total files")
  }

  test("a contradicting partitionBy declaration refuses loudly") {
    val dir = tmpDir()
    kv(100, _ % 4).write.format("snapshot").mode("append")
      .partitionBy("k").save(dir)
    val e = intercept[Exception] {
      kv(100, _ % 4).write.format("snapshot").mode("append")
        .partitionBy("id").save(dir)
    }
    assert(e.getMessage.contains("partition layout") &&
      e.getMessage.contains(SnapshotTable.PartitionColsProp))
    // missing column refuses too
    val e2 = intercept[Exception] {
      Seq((1L, 2L)).toDF("a", "b").write.format("snapshot")
        .mode("overwrite").partitionBy("nope")
        .save(tmpDir())
    }
    assert(e2.getMessage.contains("nope"))
    // SAME declaration is fine (idempotent, no second property commit)
    val t = new SnapshotTable(spark, dir)
    val v0 = t.currentVersion
    kv(100, _ % 4).write.format("snapshot").mode("append")
      .partitionBy("k").save(dir)
    assert(t.currentVersion == v0 + 1, "matching re-declaration must be " +
      "one plain append commit (no extra property version)")
  }

  test("CREATE TABLE ... PARTITIONED BY lands the layout in the log; INSERT clusters") {
    val dir = tmpDir()
    ext.sql(s"""CREATE TABLE snap_layout_sql (id BIGINT, k BIGINT)
      |USING snapshot PARTITIONED BY (k) OPTIONS (path '$dir')""".stripMargin)
    val t = new SnapshotTable(ext, dir)
    assert(t.properties().get(SnapshotTable.PartitionColsProp).contains("k"),
      "CREATE TABLE PARTITIONED BY must reach the table LOG")
    // declared schema recorded: reads empty at the declared shape
    assert(ext.sql("SELECT * FROM snap_layout_sql").schema.fieldNames.toSeq
      == Seq("id", "k"))
    assert(ext.sql("SELECT count(*) FROM snap_layout_sql").head().getLong(0) == 0)
    withTightRanges(ext) {
      ext.sql("INSERT INTO snap_layout_sql " +
        "SELECT id, CAST(id / 100 AS BIGINT) AS k FROM range(400)")
    }
    val total = t.files().size
    t.readWhere(col("k") === 1L)
    assert(t.lastDmlCandidates.size < total,
      s"INSERT INTO a PARTITIONED BY table must cluster: planned " +
        s"${t.lastDmlCandidates.size} of $total files")
    assert(ext.sql("SELECT count(*) FROM snap_layout_sql WHERE k = 1")
      .head().getLong(0) == 100)
  }

  test("CTAS ... PARTITIONED BY clusters the initial data write") {
    val dir = tmpDir()
    withTightRanges(ext) {
      ext.sql(s"""CREATE TABLE snap_layout_ctas USING snapshot
        |PARTITIONED BY (k) OPTIONS (path '$dir')
        |AS SELECT id, CAST(id / 100 AS BIGINT) AS k FROM range(400)""".stripMargin)
    }
    val t = new SnapshotTable(ext, dir)
    assert(t.properties().get(SnapshotTable.PartitionColsProp).contains("k"),
      "CTAS must record the layout property WITH the data commit")
    val total = t.files().size
    assert(total >= 2, s"CTAS write should range-spread, got $total file(s)")
    t.readWhere(col("k") === 3L)
    assert(t.lastDmlCandidates.size < total,
      s"CTAS data must come out clustered: planned " +
        s"${t.lastDmlCandidates.size} of $total files")
    assert(ext.sql("SELECT count(*) FROM snap_layout_ctas").head()
      .getLong(0) == 400)
  }

  test("TIMESTAMP layout column: time-range reads prune (the reference's obs query shape)") {
    // the reference serves station timeseries by time range
    // (get_obs_timeseries_station_data.sql:24) — layout on the event
    // time makes that range prune from the manifest
    val dir = tmpDir()
    val df = (0 until 400).map { i =>
      (i.toLong, java.sql.Timestamp.valueOf(
        java.time.LocalDateTime.of(2023, 4, 1, 0, 0).plusMinutes(i * 15L)))
    }.toDF("id", "ts")
    withTightRanges(spark) {
      df.write.format("snapshot").mode("append").partitionBy("ts").save(dir)
    }
    val t = new SnapshotTable(spark, dir)
    assert(t.properties().get(SnapshotTable.PartitionColsProp).contains("ts"))
    val total = t.files().size
    assert(total >= 2)
    val lo = java.sql.Timestamp.valueOf("2023-04-02 00:00:00")
    val hi = java.sql.Timestamp.valueOf("2023-04-02 06:00:00")
    val got = t.readWhere(col("ts") >= lo && col("ts") < hi)
    assert(got.count() == 24) // 6 h at 15-min cadence
    assert(t.lastDmlCandidates.size < total,
      s"time-range read must prune: planned " +
        s"${t.lastDmlCandidates.size} of $total files")
  }

  test("null layout keys cluster and read back correctly") {
    val dir = tmpDir()
    val df = (0 until 60).map { i =>
      (i.toLong, if (i % 5 == 0) None else Some((i / 20).toLong))
    }.toDF("id", "k")
    withTightRanges(spark) {
      df.write.format("snapshot").mode("append").partitionBy("k").save(dir)
    }
    val t = new SnapshotTable(spark, dir)
    assert(t.read().count() == 60)
    assert(t.read().filter(col("k").isNull).count() == 12)
    assert(t.readWhere(col("k") === 2L).count() == 16) // 20 in slab - 4 null
    // null-count channel still prunes IS NULL to the null-carrying files
    t.readWhere(col("k").isNull)
    assert(t.lastDmlCandidates.size <= t.files().size)
  }

  test("renameColumn rewrites the column-list properties (layout/stat/bloom follow the rename)") {
    val dir = tmpDir()
    withTightRanges(spark) {
      kv(400, _ / 100).write.format("snapshot").mode("append")
        .partitionBy("k").save(dir)
    }
    val t = new SnapshotTable(spark, dir)
    t.setProperty(SnapshotTable.BloomColsProp, "id,k")
    t.renameColumn("k", "bucket")
    val p = t.properties()
    assert(p.get(SnapshotTable.PartitionColsProp).contains("bucket"),
      "the layout property must follow the rename")
    assert(p.get(SnapshotTable.BloomColsProp).contains("id,bucket"),
      "bloom defaults must follow the rename")
    assert(p.get(SnapshotTable.StatColsProp).forall(!_.contains("k,")),
      s"stat defaults must not keep the old name: ${p.get(SnapshotTable.StatColsProp)}")
    // and the layout still DRIVES writes + pruning under the new name
    withTightRanges(spark) {
      t.append(kv(400, _ / 100, offset = 400).toDF("id", "bucket"))
    }
    val total = t.files().size
    t.readWhere(col("bucket") === 2L)
    assert(t.lastDmlCandidates.size < total,
      s"renamed layout column must keep pruning: planned " +
        s"${t.lastDmlCandidates.size} of $total files")
  }

  test("saveAsTable with partitionBy records the layout (the CTAS command path)") {
    val dir = tmpDir()
    import org.apache.spark.sql.functions.{col => ecol}
    val edf = SparkSuite.extSession.range(400)
      .select(ecol("id"), (ecol("id") / 100).cast("long").as("k"))
    withTightRanges(SparkSuite.extSession) {
      edf.write.format("snapshot").option("path", dir)
        .partitionBy("k").saveAsTable("snap_layout_sat")
    }
    val t = new SnapshotTable(SparkSuite.extSession, dir)
    assert(t.properties().get(SnapshotTable.PartitionColsProp).contains("k"),
      "saveAsTable partitionBy must record the layout")
    val total = t.files().size
    t.readWhere(col("k") === 1L)
    assert(total >= 2 && t.lastDmlCandidates.size < total,
      s"saveAsTable data must come out clustered: planned " +
        s"${t.lastDmlCandidates.size} of $total files")
    assert(SparkSuite.extSession.sql(
      "SELECT count(*) FROM snap_layout_sat WHERE k = 1").head()
      .getLong(0) == 100)
  }

  test("replaceWhereMoR honors the recorded layout: inserted slab clusters and records layout stats") {
    val dir = tmpDir()
    withTightRanges(spark) {
      kv(400, _ / 100).write.format("snapshot").mode("append")
        .partitionBy("k").save(dir)
    }
    val t = new SnapshotTable(spark, dir)
    val before = t.files().toSet
    val repl = (0 until 50).map(i => (9000L + i, 2L)).toDF("id", "k")
    t.replaceWhere(repl, col("k") === 2L, mor = true)
    val inserted = t.files().toSet -- before
    assert(inserted.nonEmpty)
    // the inserted slab must carry k stats (the CoW/append symmetry):
    // a DIFFERENT partition's point read prunes every inserted file
    t.readWhere(col("k").between(0L, 0L))
    val survivors = t.lastDmlCandidates.toSet
    assert(inserted.intersect(survivors).isEmpty,
      s"MoR-inserted files must be stat-prunable on the layout column; " +
        s"a k=0 read still plans ${inserted.intersect(survivors).size} " +
        "of them")
    // and the writer's MoR route refuses a CONTRADICTING partitionBy
    // instead of silently dropping it
    t.setProperty(SnapshotDml.DmlModeProp, "mor")
    val e = intercept[Exception] {
      repl.write.format("snapshot").mode("overwrite")
        .option("replaceWhere", "k = 2")
        .partitionBy("id")
        .save(dir)
    }
    assert(e.getMessage.contains("records partition layout"),
      s"the MoR writer route must thread partitionBy into the " +
        s"contradiction check, got: ${e.getMessage}")
  }

  test("racing FIRST-TIME layout declarations serialize: the loser refuses the contradiction") {
    val dir = tmpDir()
    val t = new SnapshotTable(spark, dir)
    val other = new SnapshotTable(spark, dir)
    // lands between t's staging and its publish: the OTHER writer
    // declares a DIFFERENT layout first
    t.raceInjector = () => {
      other.appendWithStats(kv(10, _ => 1L).coalesce(1), Nil,
        partitionBy = Seq("id")); ()
    }
    val e = intercept[IllegalArgumentException] {
      t.appendWithStats(kv(10, _ => 1L).coalesce(1), Nil,
        partitionBy = Seq("k"))
    }
    assert(e.getMessage.contains("records partition layout"),
      s"the losing declarer must refuse the contradiction, got: " +
        s"${e.getMessage}")
    assert(t.properties().get(SnapshotTable.PartitionColsProp)
      .contains("id"), "the winner's declaration stands")
    // same declaration racing: the loser retries, adopts the recorded
    // layout, and lands (no refusal, no double property)
    val d2 = tmpDir()
    val a = new SnapshotTable(spark, d2)
    val b = new SnapshotTable(spark, d2)
    a.raceInjector = () => {
      b.appendWithStats(kv(10, _ => 1L).coalesce(1), Nil,
        partitionBy = Seq("k")); ()
    }
    a.appendWithStats(kv(10, _ => 2L).coalesce(1), Nil,
      partitionBy = Seq("k"))
    assert(a.properties().get(SnapshotTable.PartitionColsProp)
      .contains("k"))
    assert(a.read().count() == 20)
  }

  test("managed CREATE TABLE ... PARTITIONED BY (no LOCATION) records the layout at the default table path") {
    ext.sql("DROP TABLE IF EXISTS snap_layout_managed")
    // a managed create requires its default location EMPTY — clear any
    // orphan from an earlier aborted run
    val defaultLoc = new org.apache.hadoop.fs.Path(
      ext.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier("snap_layout_managed")))
    defaultLoc.getFileSystem(ext.sparkContext.hadoopConfiguration)
      .delete(defaultLoc, true)
    ext.sql("CREATE TABLE snap_layout_managed (id BIGINT, k BIGINT) " +
      "USING snapshot PARTITIONED BY (k)")
    try {
      val meta = ext.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("snap_layout_managed"))
      val root = new org.apache.hadoop.fs.Path(meta.location).toString
      val t = new SnapshotTable(ext, root)
      assert(t.properties().get(SnapshotTable.PartitionColsProp)
        .contains("k"),
        "PARTITIONED BY on a managed table must land in the log, " +
          "not silently drop")
      // and inserts cluster + prune through it
      withTightRanges(ext) {
        ext.sql("INSERT INTO snap_layout_managed " +
          "SELECT id, CAST(id / 100 AS BIGINT) AS k FROM range(400)")
      }
      val total = t.files().size
      assert(ext.sql(
        "SELECT count(*) FROM snap_layout_managed WHERE k = 2").head()
        .getLong(0) == 100)
      t.readWhere(col("k") === 2L).count()
      assert(t.lastDmlCandidates.size < math.max(total, 2),
        s"managed-table layout read must prune: planned " +
          s"${t.lastDmlCandidates.size} of $total")
      // IF NOT EXISTS on the EXISTING table is a FULL no-op: the
      // post-create layout recording must not fire again and rewrite
      // the live table's log (schema/layout) from the declaration
      val vBefore = t.currentVersion
      ext.sql("CREATE TABLE IF NOT EXISTS snap_layout_managed " +
        "(id BIGINT, j BIGINT) USING snapshot PARTITIONED BY (j)")
      assert(t.currentVersion == vBefore,
        "IF NOT EXISTS on an existing table must commit NOTHING")
      assert(t.properties().get(SnapshotTable.PartitionColsProp)
        .contains("k"), "the live layout must survive untouched")
    } finally ext.sql("DROP TABLE IF EXISTS snap_layout_managed")
  }

  test("OPTIMIZE re-clusters the packed tail on the layout columns by default") {
    val dir = tmpDir()
    val t = new SnapshotTable(spark, dir)
    // interleaved small appends DECAY the clustering (each covers the
    // full k range)...
    kv(100, _ / 25).write.format("snapshot").mode("append")
      .partitionBy("k").save(dir)
    (1 to 3).foreach(b => t.append(kv(100, _ / 25, offset = b * 100)
      .coalesce(1)))
    // ...and OPTIMIZE restores it without an explicit ZORDER BY
    assert(t.compactSmall(64L << 20) > 0)
    val total = t.files().size
    t.readWhere(col("k") === 2L)
    assert(t.lastDmlCandidates.size < math.max(total, 2),
      s"post-OPTIMIZE point read must prune: planned " +
        s"${t.lastDmlCandidates.size} of $total files")
  }
}
