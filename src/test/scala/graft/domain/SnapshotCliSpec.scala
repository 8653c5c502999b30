package graft.domain

import graft.{IngestCli, SparkSuite}
import graft.sources.SnapshotTable

/** The CLI's snapshot-table surface, driven through the dispatch the
  * deployment uses: the `Sql` task (one statement, one JSON line per
  * result row) for every verb SQL spells — INSERT, COPY INTO, MERGE
  * INTO, INSERT … REPLACE WHERE, DELETE, UPDATE, OPTIMIZE, VACUUM,
  * RESTORE, DESCRIBE HISTORY/DETAIL and the TVFs — and the `Snapshot`
  * task for the operations SQL has no statement for. */
class SnapshotCliSpec extends SparkSuite {
  import spark.implicits._

  // the deployment session carries GraftExtensions (see IngestCli.main)
  private lazy val ext = SparkSuite.extSession

  private def captured(body: => Unit): String = {
    val bos = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(bos))(body)
    bos.toString("UTF-8")
  }

  /** The lines one `Sql` statement printed, each parsed as JSON. */
  private def sql(query: String): Seq[com.fasterxml.jackson.databind.JsonNode] =
    captured(IngestCli.runTask(ext, "Sql", Map("query" -> query)))
      .linesIterator.map(graft.util.Json.mapper.readTree).toSeq

  /** The one value of a one-row, one-column statement. */
  private def one(query: String): Long = {
    val rows = sql(query)
    assert(rows.size == 1 && rows.head.size == 1, s"$query printed $rows")
    rows.head.elements().next().asLong()
  }

  private def rowsAt(table: String, version: Option[Int] = None): Long =
    one(s"SELECT count(*) AS n FROM snapshot_at('$table'" +
      version.fold("")(v => s", $v") + ")")

  /** A fresh table's first commit: COPY INTO from a parquet dir. */
  private def load(table: String, from: String): Long =
    sql(s"COPY INTO snapshot.`$table` FROM '$from' FILEFORMAT = PARQUET")
      .head.get("version").asLong()

  private def snapshotOp(table: String, op: String,
      extra: (String, String)*): String = captured {
    IngestCli.runTask(ext, "Snapshot", Map("table" -> table, "op" -> op) ++ extra)
  }

  private def mergeSql(table: String, from: String) =
    s"MERGE INTO snapshot.`$table` t USING parquet.`$from` s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"

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

  test("Sql prints each result row once as a JSON line: nulls kept, one commit per statement, bad SQL prints nothing") {
    val dir = java.nio.file.Files.createTempDirectory("snapclisql").toString
    val table = s"$dir/tbl"; val in = s"$dir/in"
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").write.parquet(in)
    assert(load(table, in) == 1)
    val rows = sql(s"SELECT id, v, CAST(NULL AS STRING) AS gone " +
      s"FROM snapshot.`$table` ORDER BY id")
    assert(rows.map(_.get("id").asLong()) == Seq(1L, 2L, 3L))
    assert(rows.map(_.get("v").asText()) == Seq("a", "b", "c"))
    assert(rows.forall(r => r.has("gone") && r.get("gone").isNull), rows)
    // the statement runs once: DELETE advances exactly one version
    val t = new SnapshotTable(spark, table)
    assert(one(s"DELETE FROM snapshot.`$table` WHERE id = 2") == 2)
    assert(t.currentVersion == 2 && rowsAt(table) == 2)
    // a statement with no result rows prints nothing
    assert(captured(IngestCli.runTask(ext, "Sql", Map("query" ->
      s"INSERT INTO snapshot.`$table` SELECT 9L AS id, 'z' AS v"))).isEmpty)
    assert(t.currentVersion == 3 && rowsAt(table) == 3)
    // malformed SQL throws before anything prints
    val out = new java.io.ByteArrayOutputStream()
    intercept[Exception] {
      Console.withOut(new java.io.PrintStream(out)) {
        IngestCli.runTask(ext, "Sql", Map("query" -> "SELEC nope FROM"))
      }
    }
    assert(out.size == 0, out.toString("UTF-8"))
    assert(t.currentVersion == 3)
  }

  test("Sql INSERT into a root with no first commit names COPY INTO, prints nothing, writes no log") {
    val table = java.nio.file.Files.createTempDirectory("snapclifresh") + "/tbl"
    val out = new java.io.ByteArrayOutputStream()
    val e = intercept[Exception] {
      Console.withOut(new java.io.PrintStream(out)) {
        IngestCli.runTask(ext, "Sql", Map("query" ->
          s"INSERT INTO snapshot.`$table` SELECT 1L AS id"))
      }
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(x => String.valueOf(x.getMessage)).toSeq
    assert(msgs.exists(m => m.contains("COPY INTO") &&
      m.contains("CREATE TABLE") && m.contains("SnapshotTable.append")), msgs)
    assert(out.size == 0, out.toString("UTF-8"))
    assert(!new java.io.File(s"$table/_log").exists())
  }

  test("append/read/merge/compact/vacuum round-trip through the CLI") {
    val dir = java.nio.file.Files.createTempDirectory("snapcli").toString
    val table = s"$dir/tbl"
    val in1 = s"$dir/in1"; val in2 = s"$dir/in2"; val upd = s"$dir/upd"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(in1)
    Seq((3L, "c")).toDF("id", "v").write.parquet(in2)
    Seq((2L, "B!"), (9L, "i")).toDF("id", "v").write.parquet(upd)
    val t = new SnapshotTable(spark, table)

    assert(load(table, in1) == 1)
    sql(s"INSERT INTO snapshot.`$table` SELECT * FROM parquet.`$in2`")
    assert(t.currentVersion == 2)
    assert(rowsAt(table) == 3)
    assert(rowsAt(table, Some(1)) == 2)
    // filtered read: preds derive from the condition (readWhere)
    assert(one(s"SELECT count(*) FROM snapshot.`$table` WHERE id = 2") == 1)
    assert(one(s"SELECT count(*) FROM table_changes('$table', 1, 2)") == 1)
    assert(one(mergeSql(table, upd)) == 3)
    assert(rowsAt(table) == 4)
    assert(one(s"OPTIMIZE snapshot.`$table`") == 4)
    // newest-first commit log: merge carries the keyed marker, compact
    // removed the pre-compaction files
    val history = sql(s"DESCRIBE HISTORY snapshot.`$table`")
    assert(history.size == 4 && history.head.get("version").asInt() == 4,
      history)
    assert(history.head.get("keyed").asBoolean(), history) // compact is keyed
    assert(history.find(_.get("version").asInt() == 3).exists(h =>
      h.get("keyed").asBoolean() && h.get("n_remove").asInt() > 0), history)
    assert(sql(s"DESCRIBE HISTORY snapshot.`$table` LIMIT 2").size == 2)
    val reaped = one(
      s"VACUUM snapshot.`$table` RETAIN 1 VERSIONS GRACE 0 SECONDS")
    assert(reaped >= 3, s"reaped $reaped files")
    // post-vacuum the live snapshot is intact with merged values
    val got = t.read().collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a", 2L -> "B!", 3L -> "c", 9L -> "i"))
    // restore below the vacuum boundary is refused with the clean
    // retention error (version 4 was recorded as the boundary)
    intercept[IllegalArgumentException] {
      sql(s"RESTORE snapshot.`$table` TO VERSION AS OF 3")
    }
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
      load(table, in)
      (table, repl)
    }
    def replace(table: String, from: String, cond: String) =
      one(s"INSERT INTO snapshot.`$table` REPLACE WHERE $cond " +
        s"SELECT * FROM parquet.`$from`")
    val (t1, r1) = mk("cow")
    assert(replace(t1, r1, "k = 2") == 2)
    val got = new SnapshotTable(spark, t1).read().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.count(_._2 == 2L) == 1 && got.count(_._2 == 1L) == 3)
    // MoR flavor leaves the original file live (DV tombstones)
    val (t2, r2) = mk("mor")
    val t2t = new SnapshotTable(spark, t2)
    t2t.setProperty(graft.sources.SnapshotDml.DmlModeProp, "mor")
    val before = t2t.files().toSet
    replace(t2, r2, "k = 2")
    assert(before.subsetOf(t2t.files().toSet),
      "MoR replace must rewrite no pre-existing file")
    assert(t2t.read().filter($"k" === 2L).count() == 1)
    // validation refuses smuggled rows
    intercept[IllegalArgumentException] { replace(t1, r1, "k = 5") }
  }

  test("protocol inspect/upgrade through the CLI") {
    val dir = java.nio.file.Files.createTempDirectory("snapcliproto").toString
    val table = s"$dir/tbl"; val in = s"$dir/in"
    Seq((1L, "a")).toDF("id", "v").write.parquet(in)
    def run(op: String, extra: (String, String)*) =
      snapshotOp(table, op, extra: _*)
    load(table, in)
    assert(run("protocol").contains("minReader=1 minWriter=1"))
    // a MoR delete raises implicitly; the CLI reports the new demand
    new SnapshotTable(spark, table)
      .setProperty(graft.sources.SnapshotDml.DmlModeProp, "mor")
    assert(one(s"DELETE FROM snapshot.`$table` WHERE id = 99") == 0) // no DV
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
    val t = new SnapshotTable(spark, table, checkpointInterval = 3)
    (1L to 8L).foreach(i => t.append(Seq(i).toDF("id")))
    val outLog = snapshotOp(table, "vacuumLog", "retainVersions" -> "3")
    // horizon 6 -> floor at checkpoint 6: manifests 1..6 + ckpt 3 go
    assert(outLog.contains("(retention floor now 6)"), outLog)
    assert("deleted (\\d+) log files".r.findFirstMatchIn(outLog)
      .exists(_.group(1).toInt == 7), outLog)
    assert(rowsAt(table) == 8)
    assert(rowsAt(table, Some(6)) == 6)
    // restore within retention: metadata-only rollback through the CLI
    assert(one(s"RESTORE snapshot.`$table` TO VERSION AS OF 7") == 9)
    assert(rowsAt(table) == 7)
  }

  test("delete modes through the CLI: copy-on-write and merge-on-read") {
    val dir = java.nio.file.Files.createTempDirectory("snapcli").toString
    val table = s"$dir/tbl"; val in = s"$dir/in"
    (1L to 10L).toDF("id").coalesce(1).write.parquet(in)
    assert(load(table, in) == 1)
    val t = new SnapshotTable(spark, table)
    def mode(m: String): Unit =
      t.setProperty(graft.sources.SnapshotDml.DmlModeProp, m)
    def delete(cond: String) = one(s"DELETE FROM snapshot.`$table` WHERE $cond")
    // MoR: row gone, file set unchanged
    mode("mor")
    assert(delete("id = 3") == 3)
    assert(t.files().size == 1 && t.read().count() == 9)
    // re-delete: nothing matched (tombstone already covers it)
    assert(delete("id = 3") == 0)
    // CoW over the DV'd file: rewrite materializes, no resurrection
    mode("cow")
    assert(delete("id = 5") == 5)
    assert(t.read().count() == 8 &&
      t.read().where(org.apache.spark.sql.functions.col("id")
        .isin(3L, 5L)).count() == 0)
    // OPTIMIZE (the small-file compaction): a single already-packed
    // file is a no-op
    assert(one(s"OPTIMIZE snapshot.`$table`") == 0)
    // merge-on-read UPDATE through the CLI: value moves, no rewrite of
    // the existing file (it gains a DV; the copy lands in a new file)
    mode("mor")
    val before = t.files().toSet
    assert(one(s"UPDATE snapshot.`$table` SET id = 700 WHERE id = 7") > 0)
    assert(before.subsetOf(t.files().toSet))
    assert(t.read().where(org.apache.spark.sql.functions.col("id") === 700L)
      .count() == 1)
    // merge-on-read MERGE through the CLI: upsert, no file rewritten
    val upd = s"$dir/upd"
    Seq(8L, 99L).toDF("id").coalesce(1).write.parquet(upd)
    val before2 = t.files().toSet
    assert(one(mergeSql(table, upd)) > 0)
    assert(before2.subsetOf(t.files().toSet),
      "MoR merge must not rewrite any file")
    assert(t.read().count() == 9) // 8 live + new key 99 (8 upserted)
    // a malformed assignment and a bad --column give usage errors,
    // not MatchError, and commit nothing
    val v = t.currentVersion
    intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
      sql(s"UPDATE snapshot.`$table` SET no-equals-here WHERE id = 1")
    }
    val e2 = intercept[RuntimeException] {
      snapshotOp(table, "rename", "column" -> "nocolon")
    }
    assert(e2.getMessage.contains("bad --column"))
    assert(t.currentVersion == v)
  }

  test("--mode is read like graft.dml.mode: MOR writes a deletion vector, a bogus mode is refused") {
    val dir = java.nio.file.Files.createTempDirectory("snapclimode").toString
    val table = s"$dir/tbl"; val in = s"$dir/in"
    (1L to 10L).toDF("id").coalesce(1).write.parquet(in)
    assert(load(table, in) == 1)
    val t = new SnapshotTable(spark, table)
    val before = t.files()
    // upper case and padding select merge-on-read
    t.setProperty(graft.sources.SnapshotDml.DmlModeProp, " MOR ")
    assert(one(s"DELETE FROM snapshot.`$table` WHERE id = 3") == 3)
    assert(t.files() == before, "a MoR delete must rewrite no data file")
    val sidecars = new java.io.File(s"$table/_index").list()
    assert(sidecars != null && sidecars.exists(_.contains(".dv-")),
      s"no deletion-vector sidecar under _index: ${Option(sidecars)
        .map(_.toSeq)}")
    assert(t.read().count() == 9)
    // an unknown mode fails naming the setting, and commits nothing
    t.setProperty(graft.sources.SnapshotDml.DmlModeProp, "bogus")
    Seq(s"DELETE FROM snapshot.`$table` WHERE id = 4",
      s"UPDATE snapshot.`$table` SET id = 40 WHERE id = 4",
      mergeSql(table, in),
      s"INSERT INTO snapshot.`$table` REPLACE WHERE id = 4 " +
        s"SELECT * FROM parquet.`$in` WHERE id = 4").foreach { q =>
      val e = intercept[IllegalArgumentException](sql(q))
      assert(e.getMessage.contains("graft.dml.mode") &&
        e.getMessage.contains("bogus"), e.getMessage)
    }
    assert(t.currentVersion == 4 && t.read().count() == 9)
  }

  test("rename through the CLI is metadata-only and deletes still resolve the new name") {
    val dir = java.nio.file.Files.createTempDirectory("snapcli").toString
    val table = s"$dir/tbl"; val in = s"$dir/in"
    (1L to 10L).toDF("id").coalesce(1).write.parquet(in)
    assert(load(table, in) == 1)
    assert(snapshotOp(table, "rename", "column" -> "id:doc_id")
      .contains("renamed id -> doc_id"))
    val t = new SnapshotTable(spark, table)
    assert(t.read().schema.fieldNames.toSeq == Seq("doc_id"))
    assert(one(s"DELETE FROM snapshot.`$table` WHERE doc_id = 3") > 0)
    assert(t.read().count() == 9)
    val detail = sql(s"DESCRIBE DETAIL snapshot.`$table`")
    assert(detail.size == 1 && detail.head.get("num_rows").asLong() == 9,
      detail)
    // copy-on-write UPDATE through the CLI, addressing the logical name
    assert(one(s"UPDATE snapshot.`$table` SET doc_id = doc_id * 100 " +
      "WHERE doc_id = 5") > 0)
    assert(t.read().where(
      org.apache.spark.sql.functions.col("doc_id") === 500L).count() == 1)
    assert(one(s"UPDATE snapshot.`$table` SET doc_id = 0 " +
      "WHERE doc_id = 12345") == 0)
  }

  test("aggRefresh maintains a CDC rollup state table through the CLI") {
    val dir = java.nio.file.Files.createTempDirectory("snapagg").toString
    val table = s"$dir/tbl"; val state = s"$dir/state"
    val in1 = s"$dir/in1"; val in2 = s"$dir/in2"
    Seq(("a", 1L), ("a", 2L), ("b", 10L)).toDF("k", "v").write.parquet(in1)
    Seq(("a", 4L), ("c", 7L)).toDF("k", "v").write.parquet(in2)
    def run(op: String, extra: (String, String)*) =
      snapshotOp(table, op, extra: _*)
    load(table, in1)
    assert(run("aggRefresh", "state" -> state,
      "keys" -> "k", "sums" -> "v").contains("state refreshed to v1 (2 groups)"))
    // idempotent when nothing changed
    assert(run("aggRefresh", "state" -> state,
      "keys" -> "k", "sums" -> "v").contains("already at v1"))
    sql(s"INSERT INTO snapshot.`$table` SELECT * FROM parquet.`$in2`")
    assert(run("aggRefresh", "state" -> state,
      "keys" -> "k", "sums" -> "v").contains("state refreshed to v2 (3 groups)"))
    val st = new SnapshotTable(spark, state).read()
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(st == Set(("a", 3L, 7L), ("b", 1L, 10L), ("c", 1L, 7L)))
  }
}
