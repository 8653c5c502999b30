package graft.domain

import graft.{IngestCli, SparkSuite}
import graft.sources.SnapshotTable

/** The `Snapshot` CLI task: lakehouse maintenance verbs (append /
  * read / history / diff / merge / compact / vacuum) driven through
  * the same dispatch the deployment uses. */
class SnapshotCliSpec extends SparkSuite {
  import spark.implicits._

  private def captured(body: => Unit): String = {
    val bos = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(bos))(body)
    bos.toString("UTF-8")
  }

  test("QueryObs prints the line QueryServe.handle answers; a missing --station throws") {
    val dir = java.nio.file.Files.createTempDirectory("querycli")
    java.nio.file.Files.write(dir.resolve("geom_noaa.csv"),
      "8410140,44.9,-66.9,gmt,NOAA,Eastport,tidal,us,me,Wash,01A".getBytes)
    java.nio.file.Files.write(
      dir.resolve("noaaweb_stationdata_water_level_2023-04-23T12_00_00.csv"),
      "TIME,STATION,WATER_LEVEL\n2023-04-23T10:00:00,8410140,1.10".getBytes)
    val storeDir = s"$dir/store"
    val store = GaugeStore.open(spark, storeDir)
    store.writeStations(ObsIngest.seedStations(spark, s"$dir/geom_noaa.csv"))
    IngestCli.sequenceIngest(spark, store, Seq(SourceMeta(
      data_source = "tidal_gauge", source_name = "noaa",
      source_archive = "noaa", source_variable = "water_level",
      filename_prefix = "noaaweb_stationdata_water_level",
      location_type = "tidal", units = "m")), dir.toString,
      org.apache.spark.sql.functions.lit("2023-04-24 00:00:00").cast("timestamp"),
      deleteProcessed = false)
    val opts = Map("store" -> storeDir, "station" -> "8410140",
      "start" -> "2023-04-23T00:00:00", "end" -> "2023-04-24T00:00:00")
    val want = QueryServe.handle(store,
      opts + ("op" -> "get_obs_timeseries_station_data"))
    assert(want.contains("\"tidal_gauge_water_level\":1.1"), want)
    assert(captured(IngestCli.runTask(spark, "QueryObs", opts)) ==
      want + System.lineSeparator)
    intercept[RuntimeException](
      IngestCli.runTask(spark, "QueryObs", opts - "station"))
  }

  test("append/read/merge/compact/vacuum round-trip through the CLI") {
    val dir = java.nio.file.Files.createTempDirectory("snapcli").toString
    val table = s"$dir/tbl"
    val in1 = s"$dir/in1"; val in2 = s"$dir/in2"; val upd = s"$dir/upd"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(in1)
    Seq((3L, "c")).toDF("id", "v").write.parquet(in2)
    Seq((2L, "B!"), (9L, "i")).toDF("id", "v").write.parquet(upd)

    def run(op: String, extra: (String, String)*) = captured {
      IngestCli.runTask(spark, "Snapshot",
        Map("table" -> table, "op" -> op) ++ extra)
    }

    assert(run("append", "from" -> in1, "statCols" -> "id")
      .contains("committed version 1"))
    assert(run("append", "from" -> in2).contains("committed version 2"))
    assert(run("read").contains("rows=3"))
    assert(run("read", "version" -> "1").contains("rows=2"))
    // filtered read: preds derive from the condition (readWhere)
    assert(run("read", "where" -> "id = 2").contains("rows=1"))
    assert(run("diff", "fromVersion" -> "1", "toVersion" -> "2")
      .contains("changes=1"))
    assert(run("merge", "from" -> upd, "keys" -> "id")
      .contains("merged into version 3"))
    assert(run("read").contains("rows=4"))
    assert(run("compact").contains("compacted into version 4"))
    // newest-first commit log: merge carries the keyed marker, compact
    // removed the pre-compaction files
    val history = run("history")
    val lines = history.linesIterator.toSeq
    assert(lines.size == 4 && lines.head.startsWith("v4 "), history)
    assert(lines.head.contains("keyed=true"), history) // compact is keyed
    assert(lines.find(_.startsWith("v3 ")).exists(l =>
      l.contains("keyed=true") && l.contains("remove=")), history)
    assert(run("history", "limit" -> "2").linesIterator.size == 2)
    val reaped = run("vacuum", "retainFrom" -> "4", "graceMs" -> "-1000")
    assert("reaped (\\d+) files".r.findFirstMatchIn(reaped)
      .exists(_.group(1).toInt >= 3))
    // post-vacuum the live snapshot is intact with merged values
    val t = new SnapshotTable(spark, table)
    val got = t.read().collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a", 2L -> "B!", 3L -> "c", 9L -> "i"))
    // restore below the vacuum boundary is refused with the clean
    // retention error (retainFrom = 4 was recorded as the boundary)
    intercept[IllegalArgumentException] { run("restore", "version" -> "3") }
  }

  test("replace (targeted overwrite) through the CLI: CoW and MoR") {
    val dir = java.nio.file.Files.createTempDirectory("snapclirw").toString
    def mk(name: String): (String, String) = {
      val table = s"$dir/$name"
      val in = s"$dir/in_$name"; val repl = s"$dir/repl_$name"
      // ONE shared file: the MoR replace must tombstone within it
      // (a k-split layout would legitimately full-cover-remove)
      (1L to 2L).flatMap(k => (0 until 3).map(i => (k * 100 + i, k)))
        .toDF("id", "k").coalesce(1).write.parquet(in)
      Seq((9001L, 2L)).toDF("id", "k").write.parquet(repl)
      IngestCli.runTask(spark, "Snapshot",
        Map("table" -> table, "op" -> "append", "from" -> in,
          "statCols" -> "k"))
      (table, repl)
    }
    val (t1, r1) = mk("cow")
    val out = captured {
      IngestCli.runTask(spark, "Snapshot", Map("table" -> t1,
        "op" -> "replace", "from" -> r1, "where" -> "k = 2"))
    }
    assert(out.contains("replaced into version 2"), out)
    val got = new SnapshotTable(spark, t1).read().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.count(_._2 == 2L) == 1 && got.count(_._2 == 1L) == 3)
    // MoR flavor leaves the original file live (DV tombstones)
    val (t2, r2) = mk("mor")
    val before = new SnapshotTable(spark, t2).files().toSet
    IngestCli.runTask(spark, "Snapshot", Map("table" -> t2,
      "op" -> "replace", "from" -> r2, "where" -> "k = 2",
      "mode" -> "mor"))
    val t2t = new SnapshotTable(spark, t2)
    assert(before.subsetOf(t2t.files().toSet),
      "MoR replace must rewrite no pre-existing file")
    assert(t2t.read().filter($"k" === 2L).count() == 1)
    // validation refuses smuggled rows
    intercept[IllegalArgumentException] {
      IngestCli.runTask(spark, "Snapshot", Map("table" -> t1,
        "op" -> "replace", "from" -> r1, "where" -> "k = 5"))
    }
  }

  test("protocol inspect/upgrade through the CLI") {
    val dir = java.nio.file.Files.createTempDirectory("snapcliproto").toString
    val table = s"$dir/tbl"; val in = s"$dir/in"
    Seq((1L, "a")).toDF("id", "v").write.parquet(in)
    def run(op: String, extra: (String, String)*) = captured {
      IngestCli.runTask(spark, "Snapshot",
        Map("table" -> table, "op" -> op) ++ extra)
    }
    run("append", "from" -> in)
    assert(run("protocol").contains("minReader=1 minWriter=1"))
    // a MoR delete raises implicitly; the CLI reports the new demand
    run("delete", "where" -> "id = 99", "mode" -> "mor") // no match: no DV
    assert(run("protocol").contains("minReader=1 minWriter=1"))
    run("rename", "column" -> "v:val")
    assert(run("protocol").contains("minReader=3 minWriter=3"))
    assert(run("upgradeProtocol", "minReader" -> "3", "minWriter" -> "4")
      .contains("protocol raised in version"))
    assert(run("protocol").contains("minReader=3 minWriter=4"))
  }

  test("vacuumLog truncates history through the CLI and reports the floor") {
    val dir = java.nio.file.Files.createTempDirectory("snapcli-vl").toString
    val table = s"$dir/tbl"
    def run(op: String, extra: (String, String)*) = captured {
      IngestCli.runTask(spark, "Snapshot",
        Map("table" -> table, "op" -> op) ++ extra)
    }
    val t = new SnapshotTable(spark, table, checkpointInterval = 3)
    (1L to 8L).foreach(i => t.append(Seq(i).toDF("id")))
    val outLog = run("vacuumLog", "retainVersions" -> "3")
    // horizon 6 -> floor at checkpoint 6: manifests 1..6 + ckpt 3 go
    assert(outLog.contains("(retention floor now 6)"), outLog)
    assert("deleted (\\d+) log files".r.findFirstMatchIn(outLog)
      .exists(_.group(1).toInt == 7), outLog)
    assert(run("read").contains("rows=8"))
    assert(run("read", "version" -> "6").contains("rows=6"))
    // restore within retention: metadata-only rollback through the CLI
    assert(run("restore", "version" -> "7")
      .contains("restored snapshot 7 as version 9"))
    assert(run("read").contains("rows=7"))
  }

  test("delete modes through the CLI: copy-on-write and merge-on-read") {
    val dir = java.nio.file.Files.createTempDirectory("snapcli").toString
    val table = s"$dir/tbl"; val in = s"$dir/in"
    (1L to 10L).toDF("id").coalesce(1).write.parquet(in)
    def run(op: String, extra: (String, String)*) = captured {
      IngestCli.runTask(spark, "Snapshot",
        Map("table" -> table, "op" -> op) ++ extra)
    }
    assert(run("append", "from" -> in).contains("committed version 1"))
    // MoR: row gone, file set unchanged
    assert(run("delete", "where" -> "id = 3", "mode" -> "mor")
      .contains("deleted into version 2"))
    val t = new SnapshotTable(spark, table)
    assert(t.files().size == 1 && t.read().count() == 9)
    // re-delete: nothing matched (tombstone already covers it)
    assert(run("delete", "where" -> "id = 3", "mode" -> "mor")
      .contains("nothing matched"))
    // CoW over the DV'd file: rewrite materializes, no resurrection
    assert(run("delete", "where" -> "id = 5")
      .contains("deleted into version 3"))
    assert(t.read().count() == 8 &&
      t.read().where(org.apache.spark.sql.functions.col("id")
        .isin(3L, 5L)).count() == 0)
    // compactSmall verb: a single already-packed file is a no-op
    assert(run("compactSmall").contains("nothing to compact"))
    // merge-on-read UPDATE through the CLI: value moves, no rewrite of
    // the existing file (it gains a DV; the copy lands in a new file)
    val before = t.files().toSet
    assert(run("update", "where" -> "id = 7", "set" -> "id=700",
      "mode" -> "mor").contains("updated into version"))
    assert(before.subsetOf(t.files().toSet))
    assert(t.read().where(org.apache.spark.sql.functions.col("id") === 700L)
      .count() == 1)
    // merge-on-read MERGE through the CLI: upsert, no file rewritten
    val upd = s"$dir/upd"
    Seq(8L, 99L).toDF("id").coalesce(1).write.parquet(upd)
    val before2 = t.files().toSet
    assert(run("merge", "from" -> upd, "keys" -> "id", "mode" -> "mor")
      .contains("merged into version"))
    assert(before2.subsetOf(t.files().toSet),
      "MoR merge must not rewrite any file")
    assert(t.read().count() == 9) // 8 live + new key 99 (8 upserted)
    // bad --set and --column give usage errors, not MatchError
    val e = intercept[RuntimeException] { run("update",
      "where" -> "id = 1", "set" -> "no-equals-here") }
    assert(e.getMessage.contains("bad --set"))
    val e2 = intercept[RuntimeException] { run("rename",
      "column" -> "nocolon") }
    assert(e2.getMessage.contains("bad --column"))
  }

  test("--mode is read like graft.dml.mode: MOR writes a deletion vector, a bogus mode is refused") {
    val dir = java.nio.file.Files.createTempDirectory("snapclimode").toString
    val table = s"$dir/tbl"; val in = s"$dir/in"
    (1L to 10L).toDF("id").coalesce(1).write.parquet(in)
    def run(op: String, extra: (String, String)*) = captured {
      IngestCli.runTask(spark, "Snapshot",
        Map("table" -> table, "op" -> op) ++ extra)
    }
    assert(run("append", "from" -> in).contains("committed version 1"))
    val t = new SnapshotTable(spark, table)
    val before = t.files()
    // upper case and padding select merge-on-read, as the table property
    assert(run("delete", "where" -> "id = 3", "mode" -> " MOR ")
      .contains("deleted into version 2"))
    assert(t.files() == before, "a MoR delete must rewrite no data file")
    val sidecars = new java.io.File(s"$table/_index").list()
    assert(sidecars != null && sidecars.exists(_.contains(".dv-")),
      s"no deletion-vector sidecar under _index: ${Option(sidecars)
        .map(_.toSeq)}")
    assert(t.read().count() == 9)
    // an unknown mode fails naming the option, and commits nothing
    Seq("delete", "update", "merge", "replace").foreach { op =>
      val e = intercept[IllegalArgumentException] {
        run(op, "where" -> "id = 4", "set" -> "id=40", "from" -> in,
          "keys" -> "id", "mode" -> "bogus")
      }
      assert(e.getMessage.contains("--mode") &&
        e.getMessage.contains("bogus"), e.getMessage)
    }
    assert(t.currentVersion == 2 && t.read().count() == 9)
  }

  test("rename through the CLI is metadata-only and deletes still resolve the new name") {
    val dir = java.nio.file.Files.createTempDirectory("snapcli").toString
    val table = s"$dir/tbl"; val in = s"$dir/in"
    (1L to 10L).toDF("id").coalesce(1).write.parquet(in)
    def run(op: String, extra: (String, String)*) = captured {
      IngestCli.runTask(spark, "Snapshot",
        Map("table" -> table, "op" -> op) ++ extra)
    }
    assert(run("append", "from" -> in).contains("committed version 1"))
    assert(run("rename", "column" -> "id:doc_id")
      .contains("renamed id -> doc_id"))
    val t = new SnapshotTable(spark, table)
    assert(t.read().schema.fieldNames.toSeq == Seq("doc_id"))
    assert(run("delete", "where" -> "doc_id = 3")
      .contains("deleted into version"))
    assert(t.read().count() == 9)
    assert(run("detail").contains("rows=9"))
    // copy-on-write UPDATE through the CLI, addressing the logical name
    assert(run("update", "where" -> "doc_id = 5",
      "set" -> "doc_id=doc_id * 100").contains("updated into version"))
    assert(t.read().where(
      org.apache.spark.sql.functions.col("doc_id") === 500L).count() == 1)
    assert(run("update", "where" -> "doc_id = 12345",
      "set" -> "doc_id=0").contains("nothing matched"))
  }

  test("aggRefresh maintains a CDC rollup state table through the CLI") {
    val dir = java.nio.file.Files.createTempDirectory("snapagg").toString
    val table = s"$dir/tbl"; val state = s"$dir/state"
    val in1 = s"$dir/in1"; val in2 = s"$dir/in2"
    Seq(("a", 1L), ("a", 2L), ("b", 10L)).toDF("k", "v").write.parquet(in1)
    Seq(("a", 4L), ("c", 7L)).toDF("k", "v").write.parquet(in2)
    def run(op: String, extra: (String, String)*) = captured {
      IngestCli.runTask(spark, "Snapshot",
        Map("table" -> table, "op" -> op) ++ extra)
    }
    run("append", "from" -> in1)
    assert(run("aggRefresh", "state" -> state,
      "keys" -> "k", "sums" -> "v").contains("state refreshed to v1 (2 groups)"))
    // idempotent when nothing changed
    assert(run("aggRefresh", "state" -> state,
      "keys" -> "k", "sums" -> "v").contains("already at v1"))
    run("append", "from" -> in2)
    assert(run("aggRefresh", "state" -> state,
      "keys" -> "k", "sums" -> "v").contains("state refreshed to v2 (3 groups)"))
    val st = new SnapshotTable(spark, state).read()
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(st == Set(("a", 3L, 7L), ("b", 1L, 10L), ("c", 1L, 7L)))
  }
}
