package graft.domain

import graft.SparkSuite
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Small-file maintenance compaction ([[GaugeStore.binPackCompact]]):
  * accretion from cron-cadence appends is rewritten down to
  * ⌈bytes/target⌉ files without changing any query result,
  * idempotently. The fact tables compact through manifest commits; the
  * directory-laid tables (ledgers, a BuildAnnIndex `lists` layout)
  * through the leaf park-and-swap, crash-recoverably via
  * [[GaugeStore.vacuum]]. */
class CompactionSpec extends SparkSuite {
  import spark.implicits._

  private def mkFact(rows: Seq[(Long, String, String, Double)]) =
    rows.toDF("source_id", "tm", "t", "water_level")
      .select(col("source_id"), col("tm").cast("timestamp").as("timemark"),
        col("t").cast("timestamp").as("time"), col("water_level"))

  private def dataFiles(dir: String): Seq[java.io.File] = {
    val d = new java.io.File(dir)
    Option(d.listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
  }

  /** `n` model-ledger rows of run `run`, committed the way ingest
    * commits them — one file set per call into the run's partition. */
  private def commitModelLedger(store: GaugeStore, run: String, batch: Int,
      n: Int = 1): Unit =
    store.atomicCommit(store.newCommitId("model"))(store.stageModelLedger(
      (0 until n).map(j => (f"b$batch%02d_f$j%04d.csv", run, true))
        .toDF("file_name", "model_run_id", "ingested"), _))

  private def runLeaf(root: String, run: String) =
    s"$root/ledger_model/model_run_id=$run"

  test("N-batch accretion compacts to one file per leaf; rows and dedup semantics unchanged") {
    val root = Files.createTempDirectory("graft-compact").toString
    val store = GaugeStore.open(spark, root)
    // 5 cron batches over the same two (source, date) groups, with a
    // cross-batch duplicate key so keep-latest semantics are observable
    (1 to 5).foreach { i =>
      store.appendGaugeData(mkFact(Seq(
        (1L, f"2023-04-23 $i%02d:00:00", "2023-04-23 10:00:00", i.toDouble),
        (2L, f"2023-04-23 $i%02d:00:00", s"2023-04-24 0$i:00:00", i * 10.0)))
        .coalesce(1), "tidal_gauge")
    }
    // Stats observability: the accretion is visible before the compact,
    // counted from the manifest — not the `_log` manifests beside it
    val st = store.tableStats("gauge_data").get
    assert(st("files") == 5, st.toString)
    val before = store.gaugeData.orderBy("source_id", "time", "timemark").collect()
    val dedupBefore = graft.operators.KeepLatestDedup(
      store.gaugeData, Seq("source_id", "time"), Seq(col("timemark")))
      .orderBy("source_id", "time").collect()

    val actions = store.binPackCompact("gauge_data", targetBytes = 1L << 30)
    assert(actions.size == 1 && actions.head.startsWith("compacted gauge_data"),
      actions.toString)

    // every row survives byte-identically; j8 keep-latest unchanged
    val after = store.gaugeData.orderBy("source_id", "time", "timemark").collect()
    assert(after.toSeq == before.toSeq)
    val dedupAfter = graft.operators.KeepLatestDedup(
      store.gaugeData, Seq("source_id", "time"), Seq(col("timemark")))
      .orderBy("source_id", "time").collect()
    assert(dedupAfter.toSeq == dedupBefore.toSeq)
    // day pruning still works on the compacted layout
    assert(store.gaugeDataForRange("2023-04-23", "2023-04-23").count() == 5)

    // idempotent: already at target -> no-op; Stats reflects the pack
    // with LIVE counts — the superseded files stay on disk until a
    // vacuum, and a directory walk would still count them
    assert(store.binPackCompact("gauge_data", targetBytes = 1L << 30).isEmpty)
    val st2 = store.tableStats("gauge_data").get
    assert(st2("files") == 1, st2.toString)
    assert(dataFiles(s"$root/gauge_data/data").size == 6)
    assert(st2("bytes") ==
      new java.io.File(new java.net.URI(store.gaugeData.inputFiles.head)).length)
  }

  test("file count lands at ceil(bytes/target) for a sub-leaf target") {
    val root = Files.createTempDirectory("graft-compact2").toString
    val store = GaugeStore.open(spark, root)
    (1 to 6).foreach(i => commitModelLedger(store, "r1", i, n = 200))
    val leaf = runLeaf(root, "r1")
    val bytes = dataFiles(leaf).map(_.length).sum
    val target = bytes / 3 + 1                    // expect ceil = 3 files
    val expected = ((bytes + target - 1) / target).toInt
    store.binPackCompact("ledger_model", targetBytes = target)
    assert(dataFiles(leaf).size == expected,
      s"expected $expected files, got ${dataFiles(leaf).size}")
    assert(store.modelLedger.count() == 1200)
  }

  test("crash mid-swap: a parked leaf with no live counterpart is restored by vacuum") {
    val root = Files.createTempDirectory("graft-compact3").toString
    val store = GaugeStore.open(spark, root)
    (1 to 3).foreach(i => commitModelLedger(store, "r1", i))
    // simulate binPackCompact dying between park and swap: the leaf is
    // in the _pbak_ dir (flattened name), the live leaf is gone
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s"$root/$s")
    fs.mkdirs(p("ledger_model_pbak_55"))
    assert(fs.rename(p("ledger_model/model_run_id=r1"),
      p("ledger_model_pbak_55/model_run_id=r1")))
    assert(!fs.exists(p("ledger_model/model_run_id=r1")))
    val actions = store.vacuum()
    assert(actions.exists(_.contains("restored ledger_model/")), actions.toString)
    assert(store.modelLedger.count() == 3)
    assert(!fs.exists(p("ledger_model_pbak_55")))
    // and a compaction after recovery proceeds normally
    val compacted = store.binPackCompact("ledger_model", targetBytes = 1L << 30)
    assert(compacted.size == 1 && store.modelLedger.count() == 3)
  }

  test("unpartitioned table compacts through the whole-table swap path") {
    val root = Files.createTempDirectory("graft-compact4").toString
    val store = GaugeStore.open(spark, root)
    (1 to 4).foreach { i =>
      store.atomicCommit(store.newCommitId("obs"))(store.stageLedger(
        Seq((s"f$i.csv", true)).toDF("file_name", "ingested")
          .withColumn("processing_datetime",
            lit(f"2023-04-23 $i%02d:00:00").cast("timestamp")), _))
    }
    assert(dataFiles(s"$root/ledger_obs").size >= 4)
    store.binPackCompact("ledger_obs", targetBytes = 1L << 30)
    assert(dataFiles(s"$root/ledger_obs").size == 1)
    assert(store.ledger.count() == 4)
  }

  test("mixed root+partition layout: root files are skipped, partitions never deleted") {
    val root = Files.createTempDirectory("graft-compact5").toString
    val store = GaugeStore.open(spark, root)
    (1 to 2).foreach(i => commitModelLedger(store, "r1", i))
    // stray data files at the TABLE ROOT next to the partition dirs —
    // no writer here produces this, but an external tool can; the old
    // whole-table swap would have replaced the table with only the
    // rewritten leaves, deleting every other partition
    val strayDir = Files.createTempDirectory("graft-stray").toString
    Seq(("stray.csv", "r9", true)).toDF("file_name", "model_run_id", "ingested")
      .repartition(2).write.mode("overwrite").parquet(strayDir)
    val strays = dataFiles(strayDir)
    assert(strays.size == 2)
    strays.foreach { f =>
      Files.copy(f.toPath, java.nio.file.Paths.get(s"$root/ledger_model", f.getName))
    }
    val leaf = runLeaf(root, "r1")
    assert(dataFiles(leaf).size == 2)

    val actions = store.binPackCompact("ledger_model", targetBytes = 1L << 30)
    // root leaf skipped with an explicit message; partition leaf still compacted
    assert(actions.exists(_.contains("skipped ledger_model root-level")), actions.toString)
    assert(actions.exists(_.contains("model_run_id=r1")), actions.toString)
    // partition dir intact (compacted to 1 file), root strays untouched
    assert(dataFiles(leaf).size == 1)
    assert(dataFiles(s"$root/ledger_model").size == 2)
    assert(spark.read.parquet(leaf).count() == 2)
  }

  test("z-order compaction re-clusters a leaf: per-file stats tighten on both dims") {
    val root = Files.createTempDirectory("graft-compact6").toString
    val store = GaugeStore.open(spark, root)
    // 4 cron batches, each spraying all stations across the whole day —
    // the arrival order no single sort key can fix
    (1 to 4).foreach { i =>
      store.appendGaugeData(mkFact((0 until 400).map { j =>
        ((j % 20).toLong, f"2023-04-23 $i%02d:00:00",
          f"2023-04-23 ${j % 24}%02d:30:00", j / 10.0)
      }), "tidal_gauge")
    }
    val before = store.gaugeData
      .orderBy("source_id", "time", "timemark", "water_level").collect()
    val bytes = store.tableStats("gauge_data").get("bytes").asInstanceOf[Long]
    val actions = store.binPackCompact("gauge_data",
      targetBytes = bytes / 4 + 1,
      zorderCols = Seq("source_id", "time"), zorderBits = 3)
    assert(actions.nonEmpty)
    assert(store.tableStats("gauge_data").get("files") == 4)

    // byte-identical row multiset after the re-layout
    val after = store.gaugeData
      .orderBy("source_id", "time", "timemark", "water_level").collect()
    assert(after.toSeq == before.toSeq)

    // per-file min/max must now be tight on BOTH clustered dimensions
    val stats = spark.read.parquet(store.gaugeData.inputFiles: _*)
      .groupBy(input_file_name())
      .agg((max("source_id") - min("source_id")).as("ss"),
        (max(unix_timestamp(col("time"))) - min(unix_timestamp(col("time"))))
          .as("ts"))
      .agg(avg("ss"), avg("ts")).collect().head
    assert(stats.getDouble(0) < 0.7 * 19, s"source spread ${stats.getDouble(0)}")
    assert(stats.getDouble(1) < 0.7 * 23 * 3600, s"time spread ${stats.getDouble(1)}")
  }

  test("Compact --index packs appended IVF inverted lists; probe results unchanged") {
    import graft.{IngestCli, Tables}
    import graft.similarity.Ann
    val dir = Files.createTempDirectory("graft-annpack").toFile.getAbsolutePath
    val sfDir = sf("sf0.001")
    val emb = Tables.embeddings(spark, sfDir)
    // build on a third of the corpus, then two incremental appends —
    // each UpdateAnnIndex lays one file set into every centroid dir,
    // the same accretion pattern as cron-cadence fact ingest
    (0 to 2).foreach { m =>
      emb.filter(col("vec_id") % 3 === m).write
        .mode("overwrite").parquet(s"$dir/part$m.parquet")
    }
    IngestCli.runTask(spark, "BuildAnnIndex", Map(
      "embeddings" -> s"$dir/part0.parquet", "index" -> dir, "k" -> "4", "iters" -> "2"))
    (1 to 2).foreach { m =>
      IngestCli.runTask(spark, "UpdateAnnIndex", Map(
        "embeddings" -> s"$dir/part$m.parquet", "index" -> dir))
    }
    def listFiles() = new java.io.File(s"$dir/lists").listFiles()
      .filter(_.getName.startsWith("centroid_id=")).toSeq
      .map(d => d.getName -> dataFiles(d.getAbsolutePath).size).toMap
    val filesBefore = listFiles()
    assert(filesBefore.values.max >= 3,
      s"expected append accretion in the inverted lists, got $filesBefore")

    val cf = spark.read.parquet(s"$dir/centroids")
    val queries = emb.filter(col("vec_id") < 8)
    val before = Ann.ivfTopKIndexed(s"$dir/lists", cf, queries, k = 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    IngestCli.runTask(spark, "Compact", Map(
      "index" -> dir, "targetBytes" -> (1L << 30).toString))
    val filesAfter = listFiles()
    assert(filesAfter.keySet == filesBefore.keySet, "no inverted list may vanish")
    assert(filesAfter.values.forall(_ == 1),
      s"every centroid dir must pack to one file, got $filesAfter")

    val after = Ann.ivfTopKIndexed(s"$dir/lists", cf, queries, k = 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(after == before && after.nonEmpty,
      "probe results must be unchanged by index compaction")
    // idempotent on the packed layout
    val store = GaugeStore.open(spark, dir)
    assert(store.binPackCompact("lists", targetBytes = 1L << 30).isEmpty)
  }

  test("z-order columns are validated against the leaf file schema before any rewrite") {
    val root = Files.createTempDirectory("graft-zval").toString
    val store = GaugeStore.open(spark, root)
    commitModelLedger(store, "r1", 1)
    // partition-encoded column: lives in the dir name, absent from leaf files
    val err = intercept[IllegalArgumentException] {
      store.binPackCompact("ledger_model", zorderCols = Seq("model_run_id"))
    }
    assert(err.getMessage.contains("partition-encoded"), err.getMessage)
    // plain typo is caught the same way, before any leaf is touched
    val err2 = intercept[IllegalArgumentException] {
      store.binPackCompact("ledger_model", zorderCols = Seq("fil_name"))
    }
    assert(err2.getMessage.contains("fil_name"))
    assert(store.modelLedger.count() == 1, "no data may be touched on validation failure")
  }
}
